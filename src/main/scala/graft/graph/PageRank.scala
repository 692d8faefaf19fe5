package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import graft.operators.Budgets.integral

/** Distributed PageRank over an edge list — the graph-centrality signal a
  * crawl pipeline uses for domain/page authority (CommonCrawl publishes
  * exactly this ranking over its host graph; quality-filtering recipes use
  * it as a prior beside content scores). Extension scope: no reference
  * counterpart (the reference's item signals are co-occurrence counts,
  * src/my_merlin_flow.py:239-252); the algorithm is Page et al. 1999.
  *
  * EXACT FIXED-POINT ARITHMETIC, not floats: ranks are longs in units of
  * 1/`scale` (default 1e-12), every update is integer multiply/divide, so
  * the result is bit-identical under any partitioning, any engine, any
  * summation order — the same reproducibility contract as DataMix's
  * quantized temperature weights and the manifest xor. A float PageRank
  * associates its per-node sums by partition arrival and never replays
  * exactly; at 2⁻⁴⁰ relative quantization the difference is far below any
  * ranking semantics. Floor losses make total mass decay by < N·iters
  * units (≤ iters·2⁻⁴⁰ relative) instead of conserving exactly —
  * deterministic decay, measured in the spec.
  *
  * Per iteration (the classic two-shuffle Pregel shape):
  *  1. join current ranks to out-degrees on node (co-partitioned — both
  *     sides hash on the node key), derive each node's per-edge share
  *     `rank DIV outdeg`;
  *  2. join shares to the edge list on src, aggregate inflow per dst
  *     (partial-aggregated shuffle on dst);
  *  3. dangling nodes (no out-edges) contribute their whole rank to every
  *     node: one 1-row SUM, broadcast back via the repo's 1-row
  *     crossJoin pattern — never a driver round-trip;
  *  4. rank' = ((den−num)·(scale DIV N) + num·(inflow + dangling DIV N))
  *     DIV den, with damping num/den (default 85/100).
  *
  * `localCheckpoint` after every iteration cuts the growing lineage (the
  * iterative-Spark failure mode is plan depth, not data); the driver sees
  * exactly one long for the whole run (the node count N). Iteration count
  * is FIXED by the caller rather than convergence-tested: fixed iterations
  * make the operator a pure deterministic function of its input (the
  * oracle story), and PageRank's geometric convergence makes iters≈log
  * precision — callers wanting a tolerance compare the L1 gap between two
  * run() calls of k and k+1 iterations.
  *
  * Output: (node, rank_fp) — one row per node appearing in `edges`;
  * rank_fp/scale is the probability. Isolated nodes (appearing in no edge)
  * are by definition not in the graph.
  */
object PageRank {

  val Scale: Long = 1000000000000L // 1e12 — rank quantum 1e-12

  private def checkArgs(iters: Int, dampNum: Long, dampDen: Long): Unit = {
    require(iters >= 0, s"iters must be >= 0: $iters")
    require(dampNum >= 0 && dampDen > 0 && dampNum <= dampDen,
      s"damping must be a fraction in [0,1]: $dampNum/$dampDen")
  }

  /** The multi-edge list (src, dst), hash-partitioned on its join key
    * ONCE: localCheckpoint preserves outputPartitioning, so each sweep's
    * edges⋈shares join reshuffles only the |nodes|-sized shares side,
    * never the edges; and its distinct nodes. */
  private def edgesAndNodes(edges: DataFrame): (DataFrame, DataFrame) = {
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    (e, nodes)
  }

  /** `iters` damped fixed-point PageRank sweeps over `edges` (cols src,
    * dst; parallel edges count as multi-edges — `.distinct()` first for a
    * simple graph). Damping factor is `dampNum/dampDen` (exact rational,
    * default 85/100). */
  def run(edges: DataFrame, iters: Int, dampNum: Long = 85L,
      dampDen: Long = 100L, scale: Long = Scale): DataFrame = {
    checkArgs(iters, dampNum, dampDen)
    val (e, nodes) = edgesAndNodes(edges)
    val n = nodes.count() // the run's ONE driver-side value
    require(n > 0, "empty edge list")
    // exact: scale DIV N, same floor both engines; a projected literal,
    // so the uniform sweep joins nothing more than its inflow
    sweep(e, nodes.withColumn("__t", lit(scale / n)), n, iters, dampNum, dampDen)
  }

  /** Personalized (topic-sensitive) PageRank — Haveliwala 2002: the
    * teleport vector concentrates on a SEED set instead of spreading
    * uniformly, so ranks measure proximity to the seeds ("related items
    * to this basket", "pages near these trusted hosts" — TrustRank is
    * exactly this with spam-free seeds). Same exact fixed-point integer
    * arithmetic and the same per-sweep plan as [[run]]; the only changes
    * are where teleport and dangling mass land (seeds only, scale DIV
    * |S| each). With seeds = ALL nodes this reduces bit-for-bit to
    * [[run]] — pinned in the spec as the cross-check.
    *
    * `seeds`: one column `node`; rows not present in the graph are
    * ignored (their teleport share still counts — callers wanting strict
    * semantics pre-join). Output: (node, rank_fp), rank_fp/scale sums to
    * ≤ 1 with deterministic floor decay, concentrated near the seeds. */
  def personalized(edges: DataFrame, seeds: DataFrame, iters: Int,
      dampNum: Long = 85L, dampDen: Long = 100L,
      scale: Long = Scale): DataFrame = {
    checkArgs(iters, dampNum, dampDen)
    val (e, nodes) = edgesAndNodes(edges)
    val s = seeds.select(col("node")).distinct().localCheckpoint()
    val nS = s.count()
    require(nS > 0, "empty seed set")
    // static per-node teleport column: scale DIV |S| for seeds, 0 elsewhere
    val withSeed = nodes
      .join(s.withColumn("__t", lit(scale / nS)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__t"), lit(0L)).as("__t"))
      .localCheckpoint()
    sweep(e, withSeed, nS, iters, dampNum, dampDen)
  }

  /** The join plan's sweeps from `base` (node, __t: the node's teleport
    * mass), the dangling mass split `dangDiv` ways. Per iteration:
    * shares = rank DIV outdeg, dangling = Σ rank of nodes with no
    * out-edge (one 1-row SUM broadcast back, never a driver round-trip),
    * inflow = Σ shares per dst, then [[nextRank]]'s formula. */
  private def sweep(e: DataFrame, base: DataFrame, dangDiv: Long, iters: Int,
      dampNum: Long, dampDen: Long): DataFrame = {
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("__outdeg")).localCheckpoint()
    var ranks = base.select(col("node"), col("__t").as("rank_fp")).localCheckpoint()
    var it = 0
    while (it < iters) {
      val prev = ranks
      val withDeg = ranks.join(outdeg, Seq("node"), "left")
      val dangling = withDeg.filter(col("__outdeg").isNull)
        .agg(coalesce(sum(col("rank_fp")), lit(0L)).as("__dang"))
      val shares = withDeg.filter(col("__outdeg").isNotNull)
        .select(col("node").as("src"),
          expr("rank_fp DIV __outdeg").as("__share"))
      val inflow = e.join(shares, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("__share")).as("__in"))
      // long `/` is double division in Spark — DIV keeps it exact
      ranks = base.join(inflow, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (when(col("__t") > 0L,
            lit(dampDen - dampNum) * col("__t")
              + lit(dampNum) * expr(s"__dang DIV ${dangDiv}L"))
            .otherwise(lit(0L))
            + lit(dampNum) * coalesce(col("__in"), lit(0L))).as("__num"))
        .select(col("node"), expr(s"__num DIV ${dampDen}L").as("rank_fp"))
        .localCheckpoint()
      // the new checkpoint is eagerly materialized — the previous sweep's
      // blocks are superseded and freed NOW, not when the ContextCleaner
      // eventually notices (round-7 verdict #3: the accumulated per-sweep
      // blocks were a real memory-pressure source across a long session)
      graft.operators.Checkpoints.free(prev)
      it += 1
    }
    ranks
  }

  /** One node's next rank, the formula every route shares: teleport
    * `tp` and the dangling share land on teleport targets (tp > 0) only,
    * then (… + num·inflow) DIV den. Uniform teleport makes every node a
    * target; a zero teleport (scale below the node or seed count) starts
    * every rank at 0, where it stays. */
  private def nextRank(tp: Long, in: Long, dangShare: Long, dampNum: Long,
      dampDen: Long): Long =
    ((if (tp > 0L) (dampDen - dampNum) * tp + dampNum * dangShare else 0L)
      + dampNum * in) / dampDen

  /** The driver-CSR image of `edges` under `Budgets.pageRankEdges`, with
    * the id type (see [[PackedGraph.driverCsr]]): ~16 B/edge of task
    * results, which cross the 1g maxResultSize default near ~65M edges
    * (r14); the CSR build peaks at ~64 B/edge of driver arrays (image +
    * sort workspaces). */
  private def collectGraph(edges: DataFrame, maxEdges: Long):
      Option[(PackedGraph.Csr, DataType)] =
    PackedGraph.idType(edges, "src", "dst").filter(_ => maxEdges > 0L).flatMap { t =>
      PackedGraph.driverCsr(edges.select(col("src").cast("long").as("u"),
          col("dst").cast("long").as("v")), maxEdges, 16L, 64L)()
        .map(g => (g, t))
    }

  /** The exact damped sweep over the CSR image from the teleport image
    * `tel` — bit-identical longs to the join plan's (floor divisions on
    * non-negative longs, addition exact and order-free, so neither the
    * range-parallel execution nor the in-list order can change one bit).
    * Two barriers per iteration: shares + dangling (the dangling share
    * feeds every node's formula), then the gather. Returns the ranks as a
    * (node, rank_fp) frame. */
  private def sweepCsr(edges: DataFrame, g: PackedGraph.Csr, nodeT: DataType,
      tel: Array[Long], dangDiv: Long, iters: Int, dampNum: Long,
      dampDen: Long): DataFrame = {
    val spark = edges.sparkSession
    val size = g.n
    val outdeg = new Array[Long](size) // 0 = dangling
    var i = 0
    while (i < g.inSrc.length) { outdeg(g.inSrc(i)) += 1L; i += 1 }
    val shares = new Array[Long](size)
    val ranks = PackedGraph.withPool(size, spark.sparkContext.defaultParallelism) {
      (pool, threads) =>
        var cur = tel.clone()
        var next = new Array[Long](size)
        val dangParts = new Array[Long](threads)
        var it = 0
        while (it < iters) {
          val c = cur
          PackedGraph.inParallel(pool, size, threads) { (t, lo, hi) =>
            var d = 0L
            var v = lo
            while (v < hi) {
              val od = outdeg(v)
              if (od > 0L) shares(v) = c(v) / od else { shares(v) = 0L; d += c(v) }
              v += 1
            }
            dangParts(t) = d
          }
          val dangShare = dangParts.sum / dangDiv
          val nx = next
          PackedGraph.inParallel(pool, size, threads) { (_, lo, hi) =>
            var v = lo
            while (v < hi) {
              var in = 0L
              var e = g.inOff(v)
              val end = g.inOff(v + 1)
              while (e < end) { in += shares(g.inSrc(e)); e += 1 }
              nx(v) = nextRank(tel(v), in, dangShare, dampNum, dampDen)
              v += 1
            }
          }
          val tmp = cur; cur = next; next = tmp
          it += 1
        }
        cur
    }
    PackedGraph.frame(spark, g.nodes, ranks, "rank_fp", nodeT)
  }

  /** Budget-fused [[run]]: when the multi-edge list fits
    * `Budgets.pageRankEdges`, the graph is a BOUNDED ARTIFACT (the
    * IVF-index/codebook collect class) — the whole damped iteration is
    * iters·O(m) exact long arithmetic, the same order of work as one
    * collect of the graph, so the per-sweep
    * join+checkpoint scaffolding (which dominated the wall ~100×) is pure
    * overhead at this size. Probed distributed-first; bit-identical ranks
    * (spec-pinned); None past the budget or the session's driver, for
    * non-integral ids or null endpoints — the 100 TB plan stays [[run]]'s
    * shuffled sweeps. Round 13: the sweep runs over the primitive CSR
    * image, range-parallel across defaultParallelism threads; measured
    * 8.9× faster than the join plan at 120M edges (SCALE.md r14graph). */
  def runFused(edges: DataFrame, iters: Int, dampNum: Long = 85L,
      dampDen: Long = 100L, scale: Long = Scale): Option[DataFrame] = {
    checkArgs(iters, dampNum, dampDen)
    collectGraph(edges, graft.operators.Budgets.get.pageRankEdges).map { case (g, nodeT) =>
      val tel = new Array[Long](g.n)
      java.util.Arrays.fill(tel, scale / g.n)
      sweepCsr(edges, g, nodeT, tel, g.n.toLong, iters, dampNum, dampDen)
    }
  }

  /** Executor-side broadcast sweep (round 15) — the decade treatment
    * [[graft.graph.ShortestPaths.runBroadcast]] proved for SSSP, applied
    * to uniform PageRank: the edges NEVER touch the driver
    * ([[PackedGraph.executorImage]]: dense-indexed once against a
    * broadcast node dictionary, cached as packed (uIdx, vIdx) chunks
    * across the executors); each damped iteration is
    *   driver: shares(v) = rank(v) DIV outdeg(v) + the dangling sum
    *   (two O(n) array passes) → broadcast(shares: 8 B/node) →
    *   executors: one DENSE long[n] inflow accumulator per task over its
    *   packed chunks → treeReduce element-wise sum (depth 2) →
    *   driver: [[nextRank]] — bit-identical to [[run]]/[[runFused]]
    *   (long adds are order-free).
    * The driver bound is O(nodes) (~32 B/node of arrays + an 8 B/node
    * broadcast and treeReduce result per iteration) instead of the
    * driver-CSR kernel's ~64 B/EDGE; the executor-side cost is one
    * 8·n-byte accumulator per CONCURRENT TASK (per-executor config on a
    * real cluster) plus the ~16 B/edge packed cache. Outdegrees are
    * computed once by the same dense-aggregate machinery.
    *
    * Refusal seam mirrors the SSSP sweep: non-integral or mismatched id
    * types, null endpoints, or a node count past `Budgets.pageRankNodes`
    * or the session-resource guard → None (caller falls back). Uniform
    * teleport only — the personalized form stays on
    * [[personalizedFused]]/[[personalized]]. */
  def runBroadcast(edges: DataFrame, iters: Int, dampNum: Long = 85L,
      dampDen: Long = 100L, scale: Long = Scale): Option[DataFrame] = {
    checkArgs(iters, dampNum, dampDen)
    val maxNodes = graft.operators.Budgets.get.pageRankNodes
    PackedGraph.idType(edges, "src", "dst").filter(_ => maxNodes > 0L).flatMap { srcT =>
      PackedGraph.executorImage(edges.select(col("src").cast("long").as("u"),
          col("dst").cast("long").as("v")), maxNodes)().map { case (nodes, bcNodes, packed) =>
        val sc = edges.sparkSession.sparkContext
        val n = nodes.length
        // one dense long[n] per concurrent task, element-wise tree-merged:
        // the MLlib dense-gradient aggregation shape — at 1000 partitions
        // the level-1 combine is distributed, the driver receives ONE array
        def sumDense(f: (Array[Long], Array[Long]) => Unit): Array[Long] =
          packed.mapPartitions { it =>
            val acc = new Array[Long](n)
            it.foreach(c => f(c, acc))
            Iterator.single(acc)
          }.treeReduce({ (a, b2) =>
            var j = 0
            while (j < a.length) { a(j) += b2(j); j += 1 }
            a
          }, depth = 2)
        val teleport = scale / n
        val cur = new Array[Long](n)
        java.util.Arrays.fill(cur, teleport)
        try {
          val outdeg = sumDense { (c, acc) =>
            var j = 0
            while (j < c.length) { acc(c(j).toInt) += 1L; j += 2 }
          }
          var it = 0
          while (it < iters) {
            val shares = new Array[Long](n)
            var dang = 0L
            var v = 0
            while (v < n) {
              val od = outdeg(v)
              if (od > 0L) shares(v) = cur(v) / od else dang += cur(v)
              v += 1
            }
            val bcShares = sc.broadcast(shares)
            val inflow = sumDense { (c, acc) =>
              val s = bcShares.value
              var j = 0
              while (j < c.length) { acc(c(j + 1).toInt) += s(c(j).toInt); j += 2 }
            }
            bcShares.destroy()
            v = 0
            while (v < n) {
              cur(v) = nextRank(teleport, inflow(v), dang / n, dampNum, dampDen)
              v += 1
            }
            it += 1
          }
        } finally {
          packed.unpersist(blocking = false)
          bcNodes.destroy()
        }
        PackedGraph.frame(edges.sparkSession, nodes, cur, "rank_fp", srcT)
      }
    }
  }

  /** Budget dispatcher for [[run]]: driver-CSR kernel under
    * `Budgets.pageRankEdges`, then the executor-side broadcast sweep
    * under `Budgets.pageRankNodes` (round 15 — O(nodes) driver bound,
    * serving the m ≫ n decade past the CSR guards), then the shuffled
    * join sweeps. All three bit-identical. */
  def runAuto(edges: DataFrame, iters: Int, dampNum: Long = 85L,
      dampDen: Long = 100L, scale: Long = Scale): DataFrame =
    runFused(edges, iters, dampNum, dampDen, scale)
      .orElse(runBroadcast(edges, iters, dampNum, dampDen, scale))
      .getOrElse(run(edges, iters, dampNum, dampDen, scale))

  /** Budget-fused [[personalized]] — same seam, seed-concentrated
    * teleport/dangling. The distinct seeds come to the driver through the
    * guarded packed collect under the same budget (they are at most
    * node-sized in any sane call) and the session's driver (~16 B/seed of
    * task results; ~128 B/seed of heap); a seed frame past either falls
    * back. Seeds absent from the graph still count toward |S| (exactly
    * [[personalized]]'s semantics). */
  def personalizedFused(edges: DataFrame, seeds: DataFrame, iters: Int,
      dampNum: Long = 85L, dampDen: Long = 100L,
      scale: Long = Scale): Option[DataFrame] = {
    checkArgs(iters, dampNum, dampDen)
    val maxEdges = graft.operators.Budgets.get.pageRankEdges
    if (!integral(seeds.schema("node").dataType)) return None
    collectGraph(edges, maxEdges).flatMap { case (g, nodeT) =>
      // |S| counts every distinct seed row, including a null (which can
      // never match a graph node) — exactly personalized()'s s.count() —
      // so a null travels as a (1, 0) record, a seed s as (0, s)
      val seedRecs = seeds.select(col("node").cast("long").as("s")).distinct()
        .select(col("s").isNull.cast("long").as("isNull"), coalesce(col("s"), lit(0L)).as("s"))
      PackedGraph.collect(seedRecs, maxEdges, 16L, 128L)(_.getLong(0) > 0L).map { case (cs, p) =>
        val seedIds = PackedGraph.dictionary(cs.flatMap(_.grouped(2).filter(_(0) == 0L).map(_(1))))
        val (nS, teleport) = (p.getLong(0), scale / p.getLong(0))
        // dense teleport image: one lookup per node per sweep, 0 = non-seed
        val tel = Array.tabulate(g.n)(i =>
          if (java.util.Arrays.binarySearch(seedIds, g.nodes(i)) >= 0) teleport else 0L)
        sweepCsr(edges, g, nodeT, tel, nS, iters, dampNum, dampDen)
      }
    }
  }

  /** Budget dispatcher for [[personalized]]. */
  def personalizedAuto(edges: DataFrame, seeds: DataFrame, iters: Int,
      dampNum: Long = 85L, dampDen: Long = 100L, scale: Long = Scale): DataFrame =
    personalizedFused(edges, seeds, iters, dampNum, dampDen, scale)
      .getOrElse(personalized(edges, seeds, iters, dampNum, dampDen, scale))
}
