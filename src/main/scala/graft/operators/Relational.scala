package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Relational operators mirroring the reference's dbt-model semantics
  * (reference: the SQL models under src/dbt/models/metaflow), re-expressed as
  * declarative DataFrame transforms so Catalyst handles pushdown, pruning and
  * join-strategy selection.
  */
object Relational {

  /** Latest-batch snapshot: keep only rows of the batch with the max order
    * value. Reference: articles_staging.sql:1-7,23-26 (the `latest_etl` CTE
    * joined back on ETL_ID). The 1-row build side is broadcast, so at 100 TB
    * this is a map-side filter, no shuffle of the fact table.
    */
  def latestBatch(df: DataFrame, batchCol: String, orderCol: String): DataFrame = {
    val latest = df.groupBy(col(batchCol))
      .agg(max(col(orderCol)).as("__ord"))
      .orderBy(col("__ord").desc)
      .limit(1)
      .select(col(batchCol))
    df.join(broadcast(latest), Seq(batchCol))
  }

  /** GROUP BY-style tuple dedup + whole-partition LAST_VALUE annotation.
    * Reference: dedup_transactions.sql:1-17 (A2 + W1-W3 in SURVEY §2).
    *
    * Semantics preserved exactly:
    *  - dedup is over the full projected tuple (GROUP BY with no aggregates);
    *  - each surviving tuple is annotated with the partition-wise LAST value
    *    of `valueCols` and of `orderCol` — Snowflake's LAST_VALUE defaults to
    *    the whole-partition frame, so the frame here is explicitly
    *    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING (Spark's
    *    default with ORDER BY would be RANGE..CURRENT ROW, a silent bug);
    *  - output may still contain several rows per key (duplicate-preserving,
    *    see SURVEY §2.5 note) — callers wanting one row per key compose with
    *    keepFirstPerKey.
    * The window order adds `valueCols` as tie-breakers so "last" is total-
    * ordered and deterministic across engines/partitionings.
    */
  def dedupWithLastValue(
      df: DataFrame,
      keys: Seq[String],
      orderCol: String,
      valueCols: Seq[String]): DataFrame = {
    val projected = df.select((keys ++ valueCols :+ orderCol).distinct.map(col): _*)
    // ONE wide exchange: repartition on the window keys, then the full-tuple
    // distinct (subset-key clustering satisfies it) and the window (exact
    // key match) both reuse that partitioning instead of shuffling twice.
    val deduped = projected.repartition(keys.map(col): _*).distinct()
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy((orderCol +: valueCols).map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withLast = valueCols.foldLeft(deduped) { (d, c) =>
      d.withColumn(s"last_$c", last(col(c)).over(w))
    }
    withLast.withColumn(s"last_$orderCol", last(col(orderCol)).over(w))
  }

  /** Frequency filter with semi-join semantics. Reference:
    * filtered_dataframe.sql:1-19 (COUNT(*) .. HAVING >= minCount, then join
    * keeping only fact columns = left semi join).
    */
  def frequencyFilter(df: DataFrame, key: String, countCol: Column, minCount: Long): DataFrame = {
    val frequent = df.groupBy(col(key))
      .agg(count(countCol).as("__n"))
      .filter(col("__n") >= minCount)
      .select(col(key))
    df.join(frequent, Seq(key), "left_semi")
  }

  /** Per-key top-k by explicit ordering (reference: my_merlin_flow.py:478-481
    * top-k retrieval; also the O1 latest-row pattern). Callers must make
    * `orderCols` a total order (include a unique tie-breaker) for
    * deterministic output. At scale this is a single shuffle on the
    * partition keys + per-partition heap (Spark WindowExec).
    */
  def topKPerGroup(df: DataFrame, keys: Seq[String], orderCols: Seq[Column], k: Int,
      rankCol: String = "rk"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }

  /** Keep-first-per-key dedup (reference: my_merlin_flow.py:526-535 — skip
    * users already seen, in order). */
  def keepFirstPerKey(df: DataFrame, keys: Seq[String], orderCols: Seq[Column]): DataFrame =
    topKPerGroup(df, keys, orderCols, 1, "__rk").drop("__rk")

  /** Aggregate flavor of [[topKPerGroup]] for CANDIDATE-HEAVY inputs:
    * top-k by (`scoreCol` desc, `idCol` asc) via a k-bounded map-side
    * heap (functions.TopKAgg), so the exchange carries `groups × k`
    * survivor rows instead of every candidate. Use when the input is a
    * generated candidate set orders of magnitude larger than the output
    * (broadcast-scored retrieval: users × catalog); the window form
    * stays right when the input is already group-partitioned or
    * candidates ≈ survivors. Output matches
    * `topKPerGroup(df, keys, Seq(scoreCol.desc, idCol.asc), k)` with
    * columns (keys*, rankCol, id, score) — asserted in TopKAggSpec —
    * EXCEPT on nullable input: the aggregate DROPS rows with null score
    * or null id (a group with fewer than k non-null rows returns fewer
    * rows), while ROW_NUMBER under DESC NULLS LAST would rank and emit
    * them. `idCol` must be long-castable (integral) or a string (routed
    * to the UTF8String-payload heap, graft_topk_str — bytewise tie-break
    * equals Spark's string ordering); other id types cast to null and
    * are dropped — such callers stay on [[topKPerGroup]]
    * (TwoTower.recommend does this dispatch via [[topKPerGroupBest]]).
    *
    * Session contract: calling this raises
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` to 1M
    * for the whole session unless the user set it explicitly — see
    * GraftFunctions.enableBoundedObjectAgg for the rationale and the
    * opt-out (round-11: the raise is scoped to the operators that run
    * bounded object aggregates; plain register() no longer touches it).
    */
  def topKPerGroupAgg(df: DataFrame, keys: Seq[String], scoreCol: Column,
      idCol: Column, k: Int, rankCol: String = "rk",
      idName: String = "id", scoreName: String = "score"): DataFrame = {
    graft.sql.GraftFunctions.register(df.sparkSession)
    graft.sql.GraftFunctions.enableBoundedObjectAgg(df.sparkSession)
    // string ids route to the UTF8String-payload heap (graft_topk_str,
    // round-10 verdict task 5) — bytewise tie-break, same row-set as the
    // window form; everything else casts to long for the primitive heap
    val idIsString = df.select(idCol.as("__id")).schema.head.dataType ==
      org.apache.spark.sql.types.StringType
    val agg =
      if (idIsString) graft.sql.GraftFunctions.topKAggStr(scoreCol, idCol, k)
      else graft.sql.GraftFunctions.topKAgg(scoreCol, idCol, k)
    val keyCols = keys.map(col)
    df.groupBy(keyCols: _*)
      .agg(agg.as("__top"))
      .select(keyCols :+ posexplode(col("__top")).as(Seq("__pos", "__t")): _*)
      .select(keyCols ++ Seq((col("__pos") + 1).cast("int").as(rankCol),
        col("__t.id").as(idName), col("__t.score").as(scoreName)): _*)
  }

  /** Type-dispatched top-k for CANDIDATE-HEAVY (score, id) cuts: the
    * aggregate form ([[topKPerGroupAgg]]) when the id is integral or a
    * string and the score float/double — the heap's long/double (or
    * UTF8String) state round-trips losslessly, so the row-set equals the
    * window form exactly — and the window form otherwise. `df` must carry
    * EXACTLY the columns `keys ++ (idName, scoreName)` (the aggregate
    * rebuilds rows from its (id, score) pairs and cannot resurrect
    * other columns). Output matches the window form: df's columns in
    * their original order and types, plus `rankCol`.
    *
    * NULL contract (round-10 advice): rows with null score or null id
    * are dropped in BOTH forms — the window fallback pre-filters them —
    * so the emitted row-set never depends on which form the dispatch
    * picked. Callers that want NULLS-LAST-ranked null rows use
    * [[topKPerGroup]] directly. */
  def topKPerGroupBest(df: DataFrame, keys: Seq[String], scoreName: String,
      idName: String, k: Int, rankCol: String = "rk"): DataFrame = {
    require(df.columns.toSet == (keys :+ idName :+ scoreName).toSet,
      s"topKPerGroupBest needs exactly keys+id+score columns, got " +
        df.columns.mkString(", "))
    import org.apache.spark.sql.types._
    val idType = df.schema(idName).dataType
    val scoreType = df.schema(scoreName).dataType
    val aggSafe = (idType match {
      case ByteType | ShortType | IntegerType | LongType | StringType => true
      case _ => false
    }) && (scoreType == FloatType || scoreType == DoubleType)
    if (aggSafe)
      topKPerGroupAgg(df, keys, col(scoreName), col(idName), k, rankCol,
          idName = idName, scoreName = scoreName)
        .select(df.columns.map {
          case c if c == idName => col(idName).cast(idType).as(idName)
          case c if c == scoreName => col(scoreName).cast(scoreType).as(scoreName)
          case c => col(c)
        } :+ col(rankCol): _*)
    else
      topKPerGroup(
        df.filter(col(scoreName).isNotNull && col(idName).isNotNull),
        keys, Seq(col(scoreName).desc, col(idName).asc), k, rankCol)
  }

  /** Salted flavor of [[topKPerGroup]] for SKEWED/low-cardinality keys —
    * when the ordering is multi-column or the row must survive whole.
    * When the cut is (score, id)-shaped with an integral id, prefer
    * [[topKPerGroupAgg]]: its map-side per-key heaps absorb a viral key
    * structurally (each task combines the hot key's candidates before
    * the exchange) — measured 2.6 s vs salted 4.2 s vs plain 6.9 s on
    * the 20M-row viral-key fixture (SCALE.md, the round-10 skew head-to-head
    * bullet). A plain per-key window puts each key's whole partition on ONE
    * task — with 5 distinct keys (or one viral user holding 1% of a 100 TB
    * fact table) the job runs at the speed of its hottest key, and AQE cannot
    * split a window partition. Two phases instead: a deterministic row-hash
    * salt splits every key into `numSalts` sub-partitions, each sub-partition
    * keeps its local top-k (so at most numSalts*k candidate rows per key
    * survive), then the tiny candidate set is re-ranked per key. The global
    * top-k of a key is contained in the union of its per-salt top-k's, so
    * the result equals topKPerGroup exactly (given the same total-order
    * precondition on `orderCols`; asserted in RelationalSpec and oracle q58).
    */
  def topKPerGroupSalted(df: DataFrame, keys: Seq[String], orderCols: Seq[Column],
      k: Int, numSalts: Int, rankCol: String = "rk"): DataFrame = {
    require(numSalts > 0, s"numSalts must be positive, got $numSalts")
    val salted = df.withColumn("__salt",
      pmod(xxhash64(df.columns.map(col): _*), lit(numSalts.toLong)).cast("int"))
    val local = topKPerGroup(salted, keys :+ "__salt", orderCols, k, "__lrk")
      .drop("__lrk")
    topKPerGroup(local, keys, orderCols, k, rankCol).drop("__salt")
  }

  /** Forward fill (last observation carried forward): replace nulls in
    * `fillCols` with the most recent non-null value at-or-before each row,
    * per key in `orderCols` order — the gap-filling step for sparse
    * event/sensor columns before training (the single-stream sibling of
    * AsOfJoin's carry; same IGNORE NULLS running window, one exchange on
    * the key). Leading nulls (no prior observation) stay null — compose
    * with FillMissing for a default. `orderCols` must be a total order per
    * key for deterministic output.
    */
  def forwardFill(df: DataFrame, keys: Seq[String], orderCols: Seq[Column],
      fillCols: Seq[String]): DataFrame = {
    require(fillCols.nonEmpty, "forwardFill needs at least one column to fill")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fillCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** Interval (band/range) join: match each point row to every interval row
    * with `startCol <= pointCol <= endCol` (plus optional equi `keys`) —
    * attribution windows, session containment, validity-period lookups.
    *
    * Spark plans a bare non-equi join as BroadcastNestedLoopJoin (or a
    * cartesian) — O(|points|×|intervals|) and a guaranteed 100 TB death.
    * This implementation bins the time axis instead: a point lands in
    * exactly one `binSize`-wide bin, an interval explodes to every bin it
    * overlaps, and the join becomes a plain shuffled EQUI-join on
    * (keys, bin) with a residual band filter — each true pair meets exactly
    * once (the point's single bin), so no dedup is needed.
    *
    * Cost model: the interval side grows by ~(avg interval length /
    * binSize + 1)×; the join fan-in per bin is bounded by how many
    * intervals overlap a bin. Pick binSize near the median interval length
    * (row growth ≈ 2×); a binSize far below it explodes the interval side,
    * far above it degrades the bin prefilter toward all-pairs-per-key.
    * Times must be non-negative integers (epoch ms/µs — `div` is floor
    * division there; negatives would bin toward zero).
    */
  def intervalJoin(points: DataFrame, intervals: DataFrame, pointCol: String,
      startCol: String, endCol: String, binSize: Long,
      keys: Seq[String] = Nil): DataFrame = {
    require(binSize > 0, s"binSize must be positive, got $binSize")
    val p = points.withColumn("__bin", expr(s"$pointCol div ${binSize}L"))
    val i = intervals.withColumn("__bin",
      explode(sequence(expr(s"$startCol div ${binSize}L"), expr(s"$endCol div ${binSize}L"))))
    p.join(i, keys :+ "__bin")
      .filter(col(pointCol) >= col(startCol) && col(pointCol) <= col(endCol))
      .drop("__bin")
  }

  /** Salted equi-join for skewed keys when the small side is too big to
    * broadcast: the left (fact) side gets a deterministic row-hash salt in
    * [0, numSalts), the right side is replicated once per salt, and the join
    * runs on (keys, salt) — a hot key's rows spread across numSalts tasks
    * instead of melting one. Results are identical to the plain join (every
    * left row still meets every right match exactly once; asserted in
    * RelationalSpec + oracle q57).
    *
    * Cost: numSalts × a shuffle of the right side — use for mid-sized right
    * tables (too big for broadcast, small next to the fact side) with
    * documented skew; AQE's skew-split handles moderate sort-merge skew
    * without it, but cannot help once the hot key feeds a window or the
    * skewed partition exceeds what one pass can sort. Inner and left joins
    * only (right/full-outer would need unmatched-right bookkeeping across
    * salt copies).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      numSalts: Int, joinType: String = "inner"): DataFrame = {
    require(numSalts > 0, s"numSalts must be positive, got $numSalts")
    require(Seq("inner", "left", "left_outer").contains(joinType),
      s"saltedJoin supports inner/left joins, got $joinType")
    val l = left.withColumn("__salt",
      pmod(xxhash64(left.columns.map(col): _*), lit(numSalts.toLong)).cast("int"))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0), lit(numSalts - 1))))
    val rightOnly = right.columns.filterNot(keys.contains)
    l.join(r, keys :+ "__salt", joinType)
      .select((left.columns ++ rightOnly).map(col): _*)
  }

  /** Three-way time split (reference: my_merlin_flow.py:196-199): train
    * strictly before b1, validation [b1, b2), test >= b2. The three filters
    * partition the input exactly.
    */
  def timeSplit(df: DataFrame, tsCol: String, b1: Column, b2: Column)
      : (DataFrame, DataFrame, DataFrame) = (
    df.filter(col(tsCol) < b1),
    df.filter(col(tsCol) >= b1 && col(tsCol) < b2),
    df.filter(col(tsCol) >= b2))

  /** Group-statistic join (reference: workflow_builder.py:60-69 JoinGroupby):
    * compute per-key aggregates and join them back onto every row. The
    * aggregate side is the same table reduced by key, so Catalyst plans a
    * shuffled hash/sort-merge join on the key; for low-cardinality keys the
    * agg output is broadcast.
    */
  def groupStatJoin(df: DataFrame, key: String, stats: Seq[Column]): DataFrame = {
    val agg = df.groupBy(col(key)).agg(stats.head, stats.tail: _*)
    df.join(agg, Seq(key))
  }

  /** P11 row sampling, deterministic flavor (reference: SAMPLE(n) on the
    * model-feed scan, my_merlin_flow.py:42-46,151-152 — which is Bernoulli
    * and non-reproducible; Spark's own `df.sample` matches that). This
    * variant keys the coin on md5(key): reproducible across runs, engines
    * and partitionings, join-stable (the same keys survive on both sides) —
    * the sane sampling at 100 TB. Threshold granularity 1/65536.
    */
  def hashSample(df: DataFrame, key: Column, fraction: Double): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"bad fraction $fraction")
    df.filter(hashBucket(key) < math.floor(fraction * 65536).toInt)
  }

  /** Per-stratum deterministic sampling — the training-set rebalancer (P11
    * generalized): keep a different hashSample fraction per stratum (e.g.
    * downsample an over-represented event type / language / source while
    * keeping all rare positives). Same md5 coin as hashSample, so the
    * selection is reproducible across runs, engines and partitionings, and
    * composable with it: the kept set for rate r is a subset of the kept set
    * for any r' >= r on the same key.
    *
    * `rates` maps stratum value -> fraction; strata absent from the map keep
    * `defaultRate`. This literal-CASE form is for enum-sized strata (the
    * thresholds fold into the row predicate — zero joins, fully pushed
    * down); for high-cardinality strata use [[stratifiedSampleBy]].
    */
  def stratifiedSample(df: DataFrame, strata: Column, key: Column,
      rates: Map[String, Double], defaultRate: Double = 0.0): DataFrame = {
    (rates.values.toSeq :+ defaultRate).foreach(f =>
      require(f >= 0.0 && f <= 1.0, s"bad fraction $f"))
    val threshold = rates.foldLeft(lit(math.floor(defaultRate * 65536).toInt)) {
      case (acc, (s, f)) => when(strata === lit(s), lit(math.floor(f * 65536).toInt)).otherwise(acc)
    }
    df.filter(hashBucket(key) < threshold)
  }

  /** High-cardinality flavor of [[stratifiedSample]]: per-stratum rates come
    * as a (stratum, rate) DataFrame instead of a literal map — the shape a
    * real pipeline computes them in (e.g. inverse-frequency rates from a
    * groupBy.count). The rates side is dimension-sized, so it broadcasts:
    * at 100 TB this stays a map-side filter with no shuffle of the fact
    * table. Strata missing from `rates` keep `defaultRate`.
    *
    * The rate column must be named `rate`. `rates` is reduced to one row
    * per stratum before the join (max rate wins, deterministically) — a
    * duplicate stratum row must never fan fact rows out into duplicates.
    */
  def stratifiedSampleBy(df: DataFrame, strataCol: String, key: Column,
      rates: DataFrame, defaultRate: Double = 0.0): DataFrame = {
    require(rates.columns.contains("rate"), "rates needs a 'rate' column")
    val r = rates.groupBy(col(strataCol)).agg(max(col("rate")).as("__rate"))
    val threshold =
      floor(coalesce(col("__rate"), lit(defaultRate)) * 65536).cast("int")
    df.join(broadcast(r), Seq(strataCol), "left")
      .filter(hashBucket(key) < threshold)
      .select(df.columns.map(col): _*) // the join hoists the key column; restore input order
  }

  /** The md5 sampling coin shared by hashSample and the stratified variants:
    * the first 4 hex digits of md5(key) as an int in [0, 65536). */
  private def hashBucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 4), 16, 10).cast("int")

  /** P11 row sampling, Bernoulli flavor — the literal analog of the
    * reference's `SAMPLE(n)` (my_merlin_flow.py:42-46): seeded per-row coin,
    * reproducible for a fixed seed AND input partitioning, but NOT across
    * repartitionings — use hashSample when the sample must be stable under
    * replanning (which is why the oracle-checked query, q19, is the hash
    * variant).
    */
  def rowSample(df: DataFrame, fraction: Double, seed: Long): DataFrame =
    df.sample(withReplacement = false, fraction, seed)

  /** Envelope encode (reference: upload_to_snowflake.py:129-144): wrap every
    * record as (etl_timestamp, etl_id, event_type, raw_data=json(record)).
    */
  def toEnvelope(df: DataFrame, eventType: String, etlTimestamp: Long, etlId: String): DataFrame =
    df.select(
      lit(etlTimestamp).as("etl_timestamp"),
      lit(etlId).as("etl_id"),
      lit(eventType).as("event_type"),
      to_json(struct(df.columns.map(col): _*)).as("raw_data"))

  /** Envelope decode (reference: the RAW_DATA:"field"::type casts in every
    * staging model, e.g. articles_staging.sql:10-22): parse the JSON payload
    * back into typed columns.
    */
  def fromEnvelope(df: DataFrame, schema: StructType): DataFrame =
    df.select(from_json(col("raw_data"), schema).as("__r")).select("__r.*")

  /** Envelope decode via Spark 4 VariantType — the closest analog to
    * Snowflake's VARIANT (`RAW_DATA:"field"::type`): one binary
    * `parse_json`, then typed `variant_get` path extractions. Semantics
    * equal fromEnvelope on flat payloads (asserted in RelationalSpec);
    * prefer this form when different consumers extract different fields
    * from the same stored payload (parse once, extract many).
    */
  def fromEnvelopeVariant(df: DataFrame, schema: StructType): DataFrame = {
    val parsed = df.select(parse_json(col("raw_data")).as("__v"))
    parsed.select(schema.fields.toSeq.map(f =>
      variant_get(col("__v"), s"$$.${f.name}", f.dataType.sql).as(f.name)): _*)
  }
}
