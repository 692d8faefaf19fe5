package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.operators.Relational

/** Approximate/exact nearest-neighbor search over an embedding column
  * (extension scope; reference analog: CLIP dot-product ranking in
  * pred_inspector.py:103-108).
  *
  * Scale design: brute force is O(|Q|·|C|) — correct baseline, fine when the
  * query set is small and broadcastable (it is scanned as the build side of
  * a broadcast nested-loop join, so the candidate table streams through one
  * pass, no shuffle). For |Q| ~ |C| at 100 TB use `lshTopK`: sign-random-
  * projection buckets cut the pair space to per-bucket cross products, one
  * shuffle on the bucket key.
  */
object Knn {

  /** The default scoring kernel: the codegen DotF32-composed cosine
    * (bit-identical to the HOF fold — DotF32Spec — so oracle rows
    * replaying the HOF arithmetic are unaffected). Held as ONE val so
    * [[bruteForceTopK]] can recognize it by reference and dispatch the
    * fused path. */
  val defaultSim: (Column, Column) => Column = graft.sql.GraftFunctions.cosineF32

  /** Exact brute-force top-k by cosine. `queries` must be small (broadcast).
    * simFn lets callers pick the scoring kernel; pass VectorOps.cosine
    * explicitly for a kernel-free plan.
    *
    * Scale shape (round-12, verdict task 3): under the default cosine
    * with integral ids, a catalog inside `Budgets.catalogFloats`, AND a
    * query side of at least `Budgets.knnMinQueries` rows (one bounded
    * limit-count probe), the whole |Q|×|C| candidate stream is FUSED
    * into sim.Retrieval's broadcast-catalog kernel — candidates never
    * exist as rows, the self-exclusion is a row-local id test, and the
    * cosine arithmetic is bit-equal to cosineF32's composition, so the
    * row-set (and the q41/q143 oracle hashes) is dispatch-invariant
    * (KnnSpec). The query-count gate is a REGIME test, not a safety one:
    * the kernel's fixed catalog collect + broadcast is never amortized by
    * a handful of queries (q41's 32 queries: 0.24 s unfused vs 0.45 s
    * fused at sf0.1). Catalogs past the budget,
    * non-integral ids, or a custom simFn also take the unfused plan:
    * |Q|×|C| candidate rows through a broadcast nested-loop join, cut by
    * the map-side k-bounded heap when types allow (topKPerGroupBest —
    * the one exchange carries |Q|×k survivors), the (pre-filtered)
    * window form otherwise. */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, k: Int,
      simFn: (Column, Column) => Column = defaultSim): DataFrame = {
    graft.sql.GraftFunctions.register(queries.sparkSession)
    val budgets = graft.operators.Budgets.get
    val minFusedQueries = budgets.knnMinQueries
    val idType = candidates.schema(idCol).dataType
    val integralIds = Seq(queries.schema(idCol).dataType, idType)
      .forall(graft.operators.Budgets.integral)
    def manyQueries: Boolean = minFusedQueries <= 1 ||
      queries.limit(minFusedQueries).count() >= minFusedQueries
    if ((simFn eq defaultSim) && integralIds && budgets.catalogFloats > 0 &&
        manyQueries) {
      val fused = Retrieval.topKDot(
        queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")),
        "query_id", "__qv",
        candidates.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
        "neighbor_id", "__cv", k, cosine = true, excludeSelf = true)
      fused match {
        case Some(r) => return r.select(col("query_id"),
          col("neighbor_id").cast(idType).as("neighbor_id"),
          col("score").as("cos"), col("rk"))
        case None => () // catalog past the budget — unfused plan below
      }
    }
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = candidates.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), simFn(col("__qv"), col("__cv")).as("cos"))
    Relational.topKPerGroupBest(scored, Seq("query_id"), "cos", "neighbor_id", k)
  }

  /** Deterministic ±1 hyperplane coefficients for SRP-LSH: sign(p, d) from
    * the low bit of md5("p:d") — reproducible across runs with no stored
    * model, and embeddable as plain literals both in the Spark plan and in
    * an external oracle's SQL (no engine hash function involved at query
    * time). */
  def srpSigns(bits: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(bits, dim) { (p, d) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p:$d".getBytes("UTF-8"))
      if ((h(0) & 1) == 1) 1.0 else -1.0
    }

  /** Sign-random-projection bucket id: bit p of the bucket is the sign of
    * dot(vec, hyperplane_p). Each plane is ONE codegen'd DotF32 call with a
    * literal ±1 coefficient array — plan size is O(bits), independent of
    * dim, so CLIP-scale dims (512+) stay inside whole-stage codegen (the
    * original formulation unrolled bits×dim expression terms and blew the
    * Janino method limit). ±1 is exact in float, so the fold equals the
    * double form an external oracle computes. Requires
    * GraftFunctions.register on the executing session. */
  def srpBucket(vec: Column, signs: Array[Array[Double]]): Column =
    signs.indices.map { p =>
      val dotp = graft.sql.GraftFunctions.dotF32(vec, lit(signs(p).map(_.toFloat)))
      when(dotp >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** ANN top-k via multi-table SRP-LSH: `tables` independent hash tables of
    * `bits` hyperplanes each; a pair is a candidate if it collides in ANY
    * table (recall = 1 - (1 - p^bits)^tables for per-bit agreement
    * probability p = 1 - θ/π). One shuffle on the (table, bucket) key; the
    * candidate set per query is tables × bucket-size, a tunable fraction of
    * the corpus. Multi-probe: probes>0 additionally searches buckets at
    * Hamming distance 1 within each table (flipping each of the first
    * `probes` bits). Size `bits` ≈ log2(corpus / target-bucket-size).
    *
    * Cross-table pair dedup is ANALYTIC when probes=0: every row carries
    * its full bucket array, so a pair is kept only in the FIRST table where
    * it collides — a codegen'd when-chain per pair row, no aggregation.
    * The previous groupBy(query, neighbor) dedup built a near-unique-key
    * hash map over the whole pair stream (measured spill-bound at 30M
    * pairs: 433 s → 22 s at 20k vectors × 8 tables). The window top-k then
    * prunes to k per query per partition BEFORE its exchange
    * (WindowGroupLimit), so the only full-width shuffle is the bucket join.
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String, dim: Int, bits: Int,
      k: Int, tables: Int = 1, probes: Int = 0): DataFrame = {
    graft.sql.GraftFunctions.register(df.sparkSession)
    val signs = srpSigns(tables * bits, dim)
    val bucketArr = array((0 until tables).map(t =>
      srpBucket(col(vecCol), signs.slice(t * bits, (t + 1) * bits))): _*)
    // Normalize ONCE per row (not per pair) so the pair score is a single
    // codegen'd dot product — buckets still hash the raw vector (sign-
    // invariant under positive scaling, and bit-reproducible externally).
    // Codegen'd normalize, NOT the HOF form: an HOF in the same select as
    // explode is planned above the Generate and would run per exploded row.
    // Materialized ONCE (eager): the query and candidate legs are
    // differently-aliased projections of this frame, so without the
    // checkpoint the normalize + tables×bits dot-product bucket kernel —
    // the expensive row-local work — executes twice (alias-differing
    // subplans defeat ReusedExchange; confirmed in the executed plan).
    // Blocks are corpus-linear (id, unit vec, bucket array) and
    // ContextCleaner-reclaimed once the result frame dies.
    val withB = df.select(col(idCol),
      graft.sql.GraftFunctions.l2NormalizeF32(col(vecCol)).as("__nv"),
      bucketArr.as("__bs")).localCheckpoint()
    val exploded = withB.select(col(idCol), col("__nv"), col("__bs"),
      posexplode(col("__bs")).as(Seq("t", "bucket")))
    val c = exploded.select(col("t"), col("bucket"), col(idCol).as("neighbor_id"),
      col("__nv").as("__cn"), col("__bs").as("__cb"))
    if (probes == 0) {
      val q = exploded.select(col("t"), col("bucket"), col(idCol).as("query_id"),
        col("__nv").as("__qn"), col("__bs").as("__qb"))
      val firstCollidingTable = (0 until tables).foldRight(lit(-1)) { (t, acc) =>
        when(col("__qb").getItem(t) === col("__cb").getItem(t), lit(t)).otherwise(acc)
      }
      val scored = q.join(c, Seq("t", "bucket"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .filter(col("t") === firstCollidingTable)
        .select(col("query_id"), col("neighbor_id"),
          graft.sql.GraftFunctions.dotF32(col("__qn"), col("__cn")).as("cos"))
      Relational.topKPerGroup(scored, Seq("query_id"),
        Seq(col("cos").desc, col("neighbor_id").asc), k)
    } else {
      // Probed buckets can collide a pair under several (table, flip)
      // combinations — dedup falls back to the aggregation form.
      val flips = lit(0L) +: (0 until probes).map(p => shiftleft(lit(1L), p))
      val qBuckets = exploded.select(col(idCol), col("__nv"), col("t"),
        explode(array(flips.map(f => col("bucket").bitwiseXOR(f)): _*)).as("bucket"))
      val q = qBuckets.select(col("t"), col("bucket"), col(idCol).as("query_id"),
        col("__nv").as("__qn"))
      val scored = q.join(c.drop("__cb"), Seq("t", "bucket"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          graft.sql.GraftFunctions.dotF32(col("__qn"), col("__cn")).as("cos"))
        .groupBy(col("query_id"), col("neighbor_id")).agg(max(col("cos")).as("cos"))
      Relational.topKPerGroup(scored, Seq("query_id"),
        Seq(col("cos").desc, col("neighbor_id").asc), k)
    }
  }
}
