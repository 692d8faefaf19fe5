package graft.rank

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Popularity-weighted negative sampling — the training-data operator that
  * turns an implicit-feedback interaction log into (user, negative-item)
  * pairs for two-tower / BPR-style training (reference analog: Merlin's
  * in-batch popularity-biased negatives behind my_merlin_flow.py:309-314;
  * here it is an explicit, reproducible dataset op instead of a trainer
  * side-effect).
  *
  * Distribution: item i is drawn with probability weight(i)/W (default
  * weight = interaction count, i.e. popularity^1; any integer weight column
  * works, e.g. floor(pow(n, 0.75))). Draws are WITH replacement, per user,
  * positives excluded post-hoc via oversampling.
  *
  * Everything is exact integer arithmetic, so the sample is reproducible
  * across runs, partitionings AND engines (oracle-checked in q59 against
  * DuckDB replaying the identical draws with a plain range join):
  *  - the item CDF is an exact BIGINT prefix sum over items in item_id
  *    order, built distributively (range partition + per-partition cumsum +
  *    tiny offset table — no single-task global window, no driver state
  *    beyond one long per partition);
  *  - draw j for a user is u = md5_48(user, j, seed) % W — a 48-bit integer
  *    hash; the modulo bias is < W/2^48, i.e. immaterial below W ~ 2^40;
  *  - the CDF interval containing u is found with a bucketed EQUI-join
  *    (quantize [0, W) into `numBuckets` ranges; an item interval lands in
  *    every bucket it overlaps, ~n + numBuckets rows total), so the lookup
  *    is one shuffle join at any scale — never a range-join.
  */
object NegativeSampling {

  /** Exact integer CDF over items: (item_id, w, lo, hi) with [lo, hi)
    * half-open, hi of the last item = W. `pop` must be unique per NUMERIC
    * item_id with a positive BIGINT weight column `w` (string/natural keys
    * go through CategorifyEstimator first — same contract as ALS ids); note
    * the bounds job makes construction eager, not lazy.
    *
    * The prefix sum is the SHARED two-level primitive
    * (operators.ShardPack.cumsum: range-bucketed per-bucket windows + a
    * buckets-sized offset table) — exact integer sums in item_id order, so
    * the CDF values are partitioning-invariant and engine-reproducible.
    */
  def itemCdf(pop: DataFrame): DataFrame =
    graft.operators.ShardPack.cumsum(pop, "item_id", col("w"), "__cum")
      .select(col("item_id"), col("w"),
        (col("__cum") - col("w")).as("lo"), col("__cum").as("hi"))

  /** Up to `k` sampled negatives per user present in `positives`
    * (user_id, item_id; duplicates fine — they raise the item's weight).
    * Output: (user_id, rk 1..k, slot, item_id), ordered draws with the
    * user's own positives removed. `oversample` extra draws absorb the
    * removals; a user interacting with nearly the whole catalog may still
    * come up short (documented, not an error).
    */
  def sampleNegatives(
      positives: DataFrame,
      k: Int,
      seed: Long,
      weightExpr: Column = col("n"),
      numBuckets: Int = 4096,
      oversample: Int = 2): DataFrame = {
    require(k > 0 && oversample >= 1 && numBuckets > 0)
    // The positive pairs feed FOUR branches (the weight aggregation, the
    // eager total-weight job, the per-user draw fan-out, and the final
    // anti-join); without materialization each branch re-executes the
    // caller's input lineage — for q59 a full star join per branch. One
    // eager localCheckpoint runs it once; blocks are two slim columns,
    // ContextCleaner-reclaimed with the returned frame.
    val pos = positives.select(col("user_id"), col("item_id")).localCheckpoint()
    val pop = pos.groupBy(col("item_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("item_id"), weightExpr.cast("long").as("w"))
    // one bounded collect: total weight + item count (the count gates the
    // bucket-table broadcast below)
    val aggRow = pop.agg(coalesce(sum(col("w")), lit(0L)),
      count(lit(1))).head()
    val totalW = aggRow.getLong(0)
    val nItems = aggRow.getLong(1)
    require(totalW > 0, "no positive item weights")
    require(totalW <= (Long.MaxValue / math.max(numBuckets, 4)),
      s"total weight $totalW too large for $numBuckets buckets without overflow")

    // Bucketize the CDF: an item's interval joins every bucket it overlaps.
    val cdf = itemCdf(pop)
    val buckets = cdf.withColumn("__bkt",
        explode(sequence(expr(s"lo * ${numBuckets}L div ${totalW}L"),
          expr(s"(hi - 1) * ${numBuckets}L div ${totalW}L"))))

    val kPrime = k * oversample
    val draws = pos.select(col("user_id")).distinct()
      .select(col("user_id"),
        explode(sequence(lit(0), lit(kPrime - 1))).as("slot"))
      .withColumn("__u",
        conv(substring(md5(concat_ws("_", col("user_id"), col("slot"), lit(seed))), 1, 12),
          16, 10).cast("long") % totalW)
      .withColumn("__bkt", expr(s"__u * ${numBuckets}L div ${totalW}L"))

    // BROADCAST bucket lookup (round 16, ADVICE r15 + guide §3.1): the
    // bucket table is ~(items + numBuckets) slim rows — bounded by
    // construction, the textbook broadcast side — while the r15
    // SHUFFLE_HASH hint hash-partitioned BOTH sides on __bkt, a key with
    // only ~numBuckets distinct values: the (large) draws side crossed a
    // full exchange whose effective parallelism was capped at numBuckets,
    // and the heaviest-weight buckets concentrated into single tasks.
    // Broadcasting removes the draws-side shuffle entirely and sidesteps
    // the low-cardinality skew. Row-identical: join algorithm only.
    // SCALE GATE (`Budgets.negativeBucketRows`): the bucket table has at
    // most nItems + numBuckets rows (each item once, plus one extra row
    // per bucket boundary an interval crosses); a catalog past the gate
    // keeps the r15 shuffled-hash plan, which completes at any
    // scale. (The positives anti-join keeps its r15 shuffled-hash build —
    // its key is (user, item), high-cardinality, and the build side is
    // one partition's slice of the distinct positives.)
    val bucketSide =
      if (nItems + numBuckets <= graft.operators.Budgets.get.negativeBucketRows)
        broadcast(buckets)
      else buckets.hint("shuffle_hash")
    val hits = draws.join(bucketSide, Seq("__bkt"))
      .filter(col("__u") >= col("lo") && col("__u") < col("hi"))
      .select(col("user_id"), col("slot"), col("item_id"))
    val negatives = hits.join(
      pos.distinct().hint("shuffle_hash"),
      Seq("user_id", "item_id"), "left_anti")
    graft.operators.Relational.topKPerGroup(negatives, Seq("user_id"),
        Seq(col("slot").asc), k)
      .select(col("user_id"), col("rk"), col("slot"), col("item_id"))
  }
}
