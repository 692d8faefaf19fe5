package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic random-walk corpus generation — the DeepWalk/node2vec
  * input stage (Perozzi et al. 2014): `numWalks` walks of `length` steps
  * from every node, emitted as (walk_id, step, node) traces that a
  * skip-gram trainer (Cooccurrence.glove over the traces) consumes.
  *
  * Determinism device: the "random" neighbor choice at step t of walk w
  * is md5(salt|w|t) reduced mod the current node's out-degree against a
  * RANKED adjacency (neighbors indexed by dst order) — the repo's
  * engine-replayable hash everywhere else, so the full trace set is a
  * pure function of (edges, numWalks, length, salt) and an external
  * engine replays it CTE-for-CTE. No RNG state, no seed plumbing, and
  * walks are embarrassingly parallel by construction.
  *
  * Scale: adjacency ranking is one per-src window (spillable, parallel
  * across nodes); each step is ONE equi-join of the |active walks| state
  * against the src-partitioned adjacency (residual filter picks the
  * indexed neighbor) — walks at dead-end nodes stop (inner join). Fixed
  * `length` joins with localCheckpoint per step (the PageRank lineage
  * convention).
  */
object RandomWalks {

  private def hex48(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 12), 16, 10).cast("long")

  /** Walk traces: (walk_id, step, node), walk_id = start·numWalks + w
    * (computed in LONG — an IntegerType node id near Int.MaxValue/numWalks
    * would otherwise overflow the multiply and collide walk ids, silently
    * corrupting the md5 picks). Starts from every node with at least one
    * out-edge.
    *
    * Block lifecycle: every step's checkpointed state IS part of the
    * output (the trace is the union of all step frames), so unlike the
    * PageRank/KCore loops nothing here is superseded — the per-step
    * blocks live until the caller materializes the trace and drops the
    * reference. Retention is output-sized by construction
    * (numWalks·|V|·length rows), not scaffolding. */
  def walks(edges: DataFrame, srcCol: String, dstCol: String,
      numWalks: Int, length: Int, salt: String): DataFrame = {
    require(numWalks >= 1 && length >= 1, s"numWalks/length >= 1")
    val adj = edges.select(col(srcCol).as("u"), col(dstCol).as("v")).distinct()
      .withColumn("idx",
        row_number().over(Window.partitionBy(col("u")).orderBy(col("v"))) - 1)
      .withColumn("outdeg",
        count(lit(1)).over(Window.partitionBy(col("u"))))
      .repartition(col("u")).localCheckpoint()
    val starts = adj.select(col("u")).distinct()
      .select(col("u"), explode(sequence(lit(0), lit(numWalks - 1))).as("w"))
      .select((col("u").cast("long") * numWalks + col("w")).as("walk_id"),
        col("u").as("cur"))
      .localCheckpoint()
    val frames = scala.collection.mutable.ArrayBuffer[DataFrame]()
    frames += starts.select(col("walk_id"), lit(0).as("step"),
      col("cur").as("node"))
    var state = starts
    var t = 1
    while (t <= length) {
      val pick = hex48(concat(lit(salt + "|"), col("walk_id"),
        lit("|"), lit(t))) % col("outdeg")
      state = state.join(adj, state("cur") === adj("u") && adj("idx") === pick)
        .select(col("walk_id"), col("v").as("cur"))
        .localCheckpoint()
      frames += state.select(col("walk_id"), lit(t).as("step"),
        col("cur").as("node"))
      t += 1
    }
    frames.reduce(_.unionByName(_))
  }

  /** JVM replay of the trace's pick device — md5(salt|walkId|t), first 12
    * hex chars (= first 6 digest bytes) as an unsigned 48-bit long. Equals
    * `conv(substring(md5(concat(...)), 1, 12), 16, 10)` bit-for-bit: both
    * operands of the later `% outdeg` are positive, so JVM `%` and Spark
    * `%` agree too. */
  private[graph] def hex48Jvm(md: java.security.MessageDigest,
      salt: String, walkId: Long, t: Int): Long = {
    val d = md.digest(s"$salt|$walkId|$t"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 6 bytes, big-endian, zero-extended — exactly the 12-hex-char prefix
    ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) | ((d(2) & 0xffL) << 24) |
      ((d(3) & 0xffL) << 16) | ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
  }

  /** Fused broadcast-adjacency walker — the whole `length`-step trace in
    * ONE distributed pass instead of `length` join+checkpoint jobs.
    *
    * The per-step equi-join plan exists because the graph may not fit
    * anywhere; when the RANKED adjacency does fit an executor (the
    * common serving case — DeepWalk corpora are built over item graphs
    * orders of magnitude smaller than the interaction logs they come
    * from), every walk is a driver-free local loop: pick_t =
    * md5(salt|walk|t) mod outdeg against the broadcast adjacency, `length`
    * array lookups per walk. Because the pick device is engine-replayable
    * (no RNG state), the fused trace is BIT-IDENTICAL to the join plan's —
    * pinned in the spec — so the budget seam changes the plan, never the
    * corpus.
    *
    * Scale shape: ONE shuffle total (the collect_set groupBy — map-side
    * deduped, vs the join plan's distinct + rank-window double exchange),
    * one guarded collect of (node, ranked neighbors) whose header is
    * judged BEFORE anything lands on the driver, one broadcast; walks are
    * embarrassingly parallel over `defaultParallelism` slices of the start
    * nodes, which are the collected keys, emitted from the driver
    * (`PackedGraph.sliced`: no second read of the adjacency, and no
    * size-based AQE coalescing — walk rows are ~16 bytes but `length` md5s
    * of WORK, which coalescing would serialize onto one core, the SCALE.md
    * round-11 trap). A JVM loop, not a codegen Expression: the per-step
    * cost is the md5 itself (a library call), so codegen buys nothing here.
    *
    * Returns None — callers fall back to [[walks]] — when the edge count
    * exceeds `Budgets.walkEdges`, or when the id columns
    * are not integral types sharing one type (the broadcast map keys and
    * ranks by long; a string id's lexicographic rank would diverge from
    * the join plan's ORDER BY), or when any edge endpoint is null (the
    * join plan ranks a null dst first and counts it in outdeg, and a null
    * src is a start — semantics the long-keyed map cannot hold, so
    * null-bearing graphs refuse and keep the join plan's behavior — the
    * [[PackedGraph]] convention), or past what the session's driver
    * holds. */
  def walksFused(edges: DataFrame, srcCol: String, dstCol: String,
      numWalks: Int, length: Int, salt: String): Option[DataFrame] = {
    require(numWalks >= 1 && length >= 1, s"numWalks/length >= 1")
    val maxEdges = graft.operators.Budgets.get.walkEdges
    val dstT = PackedGraph.idType(edges, srcCol, dstCol) match {
      case Some(t) if maxEdges > 0L => t
      case _ => return None
    }
    val spark = edges.sparkSession
    import spark.implicits._
    // ONE shuffle builds the whole ranked adjacency: collect_set dedups
    // map-side (partial aggregation), so the join plan's distinct-then-rank
    // double exchange collapses to a single groupBy keyed by the apex —
    // and its key set IS the start set, so no second distinct either.
    // The guarded collect reads it once (`edges` is often an expensive
    // join, q165's lineitem self-join, that must not run twice), and the
    // starts are emitted from the collected keys.
    // Null endpoints are PROBED, not filtered (round-12 advice): the join
    // plan keeps them (a null dst sorts first in the rank window and counts
    // in outdeg; a null src node is a start), so a silently-filtered fused
    // trace would diverge from walks() — the PackedGraph convention is to
    // refuse and fall back instead. collect_set drops a null v, so the
    // group's __nullv flag marks it; a null u is its own group.
    val grouped = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .groupBy(col("u"))
      .agg(sort_array(collect_set(col("v"))).as("nbrs"),
        max(when(col("v").isNull, 1L).otherwise(0L)).as("__nullv"))
    // the guarded packed collect: a group with a null dst collects a null
    // src, so the header's one null count refuses both kinds of null
    // endpoint while the graph is distributed. ~24 B/edge of task results
    // at worst (one group per edge); the boxed-key map of ranked arrays
    // and its broadcast copy ~128 B/edge of driver heap
    val chunks = PackedGraph.collect(
      grouped.select(when(col("__nullv") === 0L, col("u")).as("u"), col("nbrs")),
      maxEdges, 24L, 128L, rows = PackedGraph.Fold.sum(size(col("nbrs"))))(
      _.getLong(0) > 0L) match {
      case Some((cs, _)) => cs
      case None => return None
    }
    val adj = new java.util.HashMap[Long, Array[Long]]()
    val starts = new scala.collection.mutable.ArrayBuilder.ofLong
    chunks.foreach { c =>
      var i = 0
      while (i < c.length) {
        val len = c(i + 1).toInt
        adj.put(c(i), java.util.Arrays.copyOfRange(c, i + 2, i + 2 + len))
        starts += c(i)
        i += 2 + len
      }
    }
    val bc = spark.sparkContext.broadcast(adj)
    val us = starts.result()
    val traces = PackedGraph.sliced(spark, us.length)((from, until) =>
        java.util.Arrays.copyOfRange(us, from, until)) { slice =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val a = bc.value
      slice.iterator.flatMap(u => Iterator.range(0, numWalks).map(u * numWalks + _ -> u))
        .flatMap { case (wid, start) =>
          val out = scala.collection.mutable.ArrayBuffer[(Long, Int, Long)]()
          out += ((wid, 0, start))
          var cur = start
          var t = 1
          var alive = true
          while (alive && t <= length) {
            val nbrs = a.get(cur)
            if (nbrs == null) alive = false // dead end: the join plan's inner join
            else {
              cur = nbrs((hex48Jvm(md, salt, wid, t) % nbrs.length).toInt)
              out += ((wid, t, cur))
              t += 1
            }
          }
          out
        }
    }.toDF("walk_id", "step", "node")
    Some(traces.select(col("walk_id"), col("step"),
      col("node").cast(dstT).as("node")))
  }

  /** Budget-gated dispatcher: the fused broadcast walker when the ranked
    * adjacency fits `Budgets.walkEdges`, the per-step join plan past it —
    * identical traces either way (the md5 picks are a pure function of
    * the graph). */
  def walksAuto(edges: DataFrame, srcCol: String, dstCol: String,
      numWalks: Int, length: Int, salt: String): DataFrame =
    walksFused(edges, srcCol, dstCol, numWalks, length, salt)
      .getOrElse(walks(edges, srcCol, dstCol, numWalks, length, salt))
}
