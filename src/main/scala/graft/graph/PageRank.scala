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
  * precision — callers wanting a tolerance compose `massDelta` between two
  * run() calls of k and k+1 iterations.
  *
  * Output: (node, rank_fp) — one row per node appearing in `edges`;
  * rank_fp/scale is the probability. Isolated nodes (appearing in no edge)
  * are by definition not in the graph.
  */
object PageRank {

  val Scale: Long = 1000000000000L // 1e12 — rank quantum 1e-12

  /** `iters` damped fixed-point PageRank sweeps over `edges` (cols src,
    * dst; parallel edges count as multi-edges — `.distinct()` first for a
    * simple graph). Damping factor is `dampNum/dampDen` (exact rational,
    * default 85/100). */
  def run(edges: DataFrame, iters: Int, dampNum: Long = 85L,
      dampDen: Long = 100L, scale: Long = Scale): DataFrame = {
    require(iters >= 0, s"iters must be >= 0: $iters")
    require(dampNum >= 0 && dampDen > 0 && dampNum <= dampDen,
      s"damping must be a fraction in [0,1]: $dampNum/$dampDen")
    // hash-partition the (large, reused-every-sweep) edge side on its join
    // key ONCE: localCheckpoint preserves outputPartitioning, so each
    // sweep's edges⋈shares join reshuffles only the |nodes|-sized shares
    // side, never the edges
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    val n = nodes.count() // the run's ONE driver-side value
    require(n > 0, "empty edge list")
    val teleport = scale / n // exact: scale DIV N, same floor both engines
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("__outdeg")).localCheckpoint()

    var ranks = nodes.withColumn("rank_fp", lit(teleport)).localCheckpoint()
    var it = 0
    while (it < iters) {
      val prev = ranks
      val withDeg = ranks.join(outdeg, Seq("node"), "left")
      // dangling mass: nodes with no out-edges spread their rank uniformly
      val dangling = withDeg.filter(col("__outdeg").isNull)
        .agg(coalesce(sum(col("rank_fp")), lit(0L)).as("__dang"))
      val shares = withDeg.filter(col("__outdeg").isNotNull)
        .select(col("node").as("src"),
          expr("rank_fp DIV __outdeg").as("__share"))
      val inflow = e.join(shares, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("__share")).as("__in"))
      // long `/` is double division in Spark — DIV keeps it exact
      ranks = nodes.join(inflow, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (lit(dampDen - dampNum) * lit(teleport)
            + lit(dampNum) * (coalesce(col("__in"), lit(0L))
              + expr(s"__dang DIV ${n}L"))).as("__num"))
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
    require(iters >= 0, s"iters must be >= 0: $iters")
    require(dampNum >= 0 && dampDen > 0 && dampNum <= dampDen,
      s"damping must be a fraction in [0,1]: $dampNum/$dampDen")
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    val s = seeds.select(col("node")).distinct().localCheckpoint()
    val nS = s.count()
    require(nS > 0, "empty seed set")
    val teleport = scale / nS // exact: scale DIV |S|
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("__outdeg")).localCheckpoint()
    // static per-node teleport column: teleport for seeds, 0 elsewhere
    val withSeed = nodes
      .join(s.withColumn("__t", lit(teleport)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__t"), lit(0L)).as("__t"))
      .localCheckpoint()
    var ranks = withSeed.select(col("node"), col("__t").as("rank_fp"))
      .localCheckpoint()
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
      // teleport AND dangling both land on seeds only: seed term
      // (den−num)·teleport + num·(dangling DIV |S|), gated by __t > 0
      ranks = withSeed.join(inflow, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (when(col("__t") > 0L,
            lit(dampDen - dampNum) * col("__t")
              + lit(dampNum) * expr(s"__dang DIV ${nS}L"))
            .otherwise(lit(0L))
            + lit(dampNum) * coalesce(col("__in"), lit(0L))).as("__num"))
        .select(col("node"), expr(s"__num DIV ${dampDen}L").as("rank_fp"))
        .localCheckpoint()
      graft.operators.Checkpoints.free(prev)
      it += 1
    }
    ranks
  }

  /** Dense CSR image of a collected graph (round-13, verdict task 7): the
    * round-12 fused sweep iterated a boxed `HashMap[Long, Long]`
    * single-threaded, which measured 1.3-1.5× SLOWER than the join plan at
    * 24M edges and capped the gate at 4M. Primitive arrays + a dense id
    * remap make each sweep a cache-linear pass, and disjoint node ranges
    * let it parallelize with zero synchronization (every write is to the
    * owner's slot; long adds are exact in any order, so bit-identity to
    * the shuffled plan is preserved by construction).
    *
    *  - `nodes`: sorted distinct node ids; position = dense id
    *  - `inOff`/`inIdx`: in-adjacency with multiplicity in CSR form
    *    (in-neighbors of dense id v sit at inIdx[inOff(v) until inOff(v+1)))
    *  - `outdeg`: per dense id, 0 = dangling */
  private[graph] final class CsrGraph(
      val nodes: Array[Long], val inOff: Array[Int],
      val inIdx: Array[Int], val outdeg: Array[Long]) {
    def n: Int = nodes.length
    def denseIdOf(id: Long): Int = java.util.Arrays.binarySearch(nodes, id)
  }

  /** Collect the multi-edge list under an edge budget — probed with a
    * distributed aggregate BEFORE any driver collect, the walksFused
    * convention — and build the CSR image. The transfer is PACKED
    * PRIMITIVE CHUNKS, not rows: each partition emits one long[] of
    * (src, dst) pairs through the primitive Array[Long] encoder, so no
    * shuffle happens at all (the round-12 form paid a groupBy exchange)
    * and the driver never sees a boxed Row — the 10× measurement showed
    * the boxed collect, not the sweep, dominating the fused wall.
    * Returns (csr, nodeType) or None past the budget, past what the
    * session holds ([[graft.operators.Budgets.driverRows]]: the packed
    * chunks are ~16 B/edge of task results, which cross the 1g
    * maxResultSize default near ~65M edges — r14), for non-integral id
    * types or null endpoints. */
  private def collectGraph(edges: DataFrame, maxEdges: Long):
      Option[(CsrGraph, DataType)] = {
    val srcT = edges.schema("src").dataType
    val dstT = edges.schema("dst").dataType
    if (!integral(srcT) || srcT != dstT || maxEdges <= 0) return None
    val e = edges
      .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
      .localCheckpoint()
    // budget + null probe in one aggregate over the checkpointed blocks —
    // an over-budget or null-bearing graph (run() keeps nulls' exact — if
    // odd — semantics) is refused while it is still distributed
    val probe = e.agg(count(lit(1)),
      coalesce(sum(when(col("u").isNull || col("v").isNull, 1L)
        .otherwise(0L)), lit(0L))).head()
    val m = probe.getLong(0)
    // csrCap (round-13 advice): buildCsr packs the edge image into a
    // long[2m] with Int-indexed offsets — a maxEdges raised past
    // ~1.07B would wrap m.toInt into a negative allocation instead of
    // falling back to the join plan
    val csrCap = (Int.MaxValue / 2 - 8).toLong
    // ~16 B/edge of task results; the CSR build peaks at ~64 B/edge of
    // driver arrays (image + sort workspaces)
    val resourceCap = graft.operators.Budgets.driverRows(
      edges.sparkSession.sparkContext.getConf, 16L, 64L)
    if (m == 0L || m > math.min(math.min(maxEdges, csrCap), resourceCap)
        || probe.getLong(1) != 0L) {
      graft.operators.Checkpoints.free(e)
      return None
    }
    // InternalRow RDD, NOT the Dataset encoder (round 14): a Dataset
    // collect of big primitive-array rows deserializes on the DRIVER
    // through SafeProjection -> generic ArrayData.toLongArray — a
    // per-element walk over a boxed array (measured at 120M edges:
    // minutes of single-threaded driver CPU and ~GBs of Long garbage,
    // dwarfing the sweep). The raw RDD path serializes each long[]
    // chunk as a primitive array end to end — no row shell, no boxing.
    val chunks = e.queryExecution.toRdd.mapPartitions { it =>
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach { r => b += r.getLong(0); b += r.getLong(1) }
      Iterator.single(b.result())
    }.collect()
    graft.operators.Checkpoints.free(e)
    Some((buildCsr(chunks, m.toInt), srcT))
  }

  /** CSR from packed (src, dst) chunks — every O(m) phase parallel (the
    * first CSR cut kept a serial binary-search fill, which became the
    * fused wall at 24M edges):
    *
    *  1. node remap: copy ids (parallel arraycopy per chunk), parallelSort,
    *     serial dedup (O(2m) sequential scan, branch-predictable);
    *  2. dense-map: each thread maps its chunk slice to packed
    *     (denseV << 32 | denseU) longs at precomputed disjoint offsets,
    *     and counts out-degrees into an AtomicLongArray (adds commute);
    *  3. parallelSort the packed array — after it, every in-edge's final
    *     CSR position is its sort position: inIdx is a parallel unpack of
    *     the low words, inOff a boundary scan of the high words.
    *
    * Determinism: sorting and counting are data-determined; the only
    * thread-order-dependent thing is the relative order of EQUAL packed
    * entries, which are identical values — the built structure is
    * byte-identical at any parallelism. */
  private[graph] def buildCsr(chunks: Array[Array[Long]], m: Int): CsrGraph = {
    val ids = new Array[Long](2 * m)
    var p = 0
    chunks.foreach { c =>
      System.arraycopy(c, 0, ids, p, c.length); p += c.length
    }
    java.util.Arrays.parallelSort(ids)
    var n = 0
    var i = 0
    while (i < ids.length) {
      if (n == 0 || ids(n - 1) != ids(i)) { ids(n) = ids(i); n += 1 }
      i += 1
    }
    val nodes = java.util.Arrays.copyOf(ids, n)
    // chunk start offsets into the packed edge array (disjoint per thread)
    val offs = new Array[Int](chunks.length + 1)
    i = 0
    while (i < chunks.length) { offs(i + 1) = offs(i) + chunks(i).length / 2
      i += 1 }
    val packed = new Array[Long](m)
    val outdegA = new java.util.concurrent.atomic.AtomicLongArray(n)
    val pool = java.util.concurrent.ForkJoinPool.commonPool()
    val tasks = new java.util.ArrayList[java.util.concurrent.Callable[Unit]]()
    chunks.indices.foreach { ci =>
      tasks.add { () =>
        val c = chunks(ci)
        var o = offs(ci)
        var j = 0
        while (j < c.length) {
          val u = java.util.Arrays.binarySearch(nodes, c(j))
          val v = java.util.Arrays.binarySearch(nodes, c(j + 1))
          packed(o) = (v.toLong << 32) | (u.toLong & 0xffffffffL)
          outdegA.getAndAdd(u, 1L)
          o += 1; j += 2
        }
      }
    }
    pool.invokeAll(tasks).forEach(_.get())
    java.util.Arrays.parallelSort(packed)
    val inIdx = new Array[Int](m)
    val unpack = new java.util.ArrayList[java.util.concurrent.Callable[Unit]]()
    val threads = math.max(1, math.min(
      Runtime.getRuntime.availableProcessors(), math.max(1, m / 65536)))
    (0 until threads).foreach { t =>
      unpack.add { () =>
        var j = (t.toLong * m / threads).toInt
        val hi = ((t + 1).toLong * m / threads).toInt
        while (j < hi) { inIdx(j) = packed(j).toInt; j += 1 }
      }
    }
    pool.invokeAll(unpack).forEach(_.get())
    val inOff = new Array[Int](n + 1)
    i = 0
    while (i < m) { inOff((packed(i) >>> 32).toInt + 1) += 1; i += 1 }
    i = 1
    while (i <= n) { inOff(i) += inOff(i - 1); i += 1 }
    val outdeg = new Array[Long](n)
    i = 0
    while (i < n) { outdeg(i) = outdegA.get(i); i += 1 }
    new CsrGraph(nodes, inOff, inIdx, outdeg)
  }

  /** The exact damped sweep over the CSR image — bit-identical longs to
    * [[run]]'s per-iteration plan (floor divisions on non-negative longs,
    * addition exact and order-free, so the range-parallel execution below
    * cannot change one bit). Two barriers per iteration: shares+dangling
    * (dang feeds every node's formula), then the gather. `teleportOf` maps
    * a DENSE id to its teleport mass. Returns the final rank array. */
  private def sweepCsr(g: CsrGraph, init: Array[Long], iters: Int,
      teleportOf: Int => Long, seedCount: Long, uniform: Boolean,
      dampNum: Long, dampDen: Long, n: Long, parallelism: Int): Array[Long] = {
    val size = g.n
    var cur = init
    var next = new Array[Long](size)
    val shares = new Array[Long](size)
    val threads = math.max(1, math.min(parallelism, size))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val bounds = (0 to threads).map(t => (t.toLong * size / threads).toInt)
      def inParallel(body: (Int, Int, Int) => Unit): Unit = {
        val tasks = new java.util.ArrayList[java.util.concurrent.Callable[Unit]]()
        (0 until threads).foreach { t =>
          tasks.add(() => body(t, bounds(t), bounds(t + 1)))
        }
        val fs = pool.invokeAll(tasks)
        fs.forEach(_.get()) // surface worker exceptions
      }
      val dangParts = new Array[Long](threads)
      var it = 0
      while (it < iters) {
        val c = cur
        inParallel { (t, lo, hi) =>
          var d = 0L
          var v = lo
          while (v < hi) {
            val od = g.outdeg(v)
            if (od > 0L) shares(v) = c(v) / od else { shares(v) = 0L; d += c(v) }
            v += 1
          }
          dangParts(t) = d
        }
        var dang = 0L
        var t = 0
        while (t < threads) { dang += dangParts(t); t += 1 }
        val nx = next
        inParallel { (_, lo, hi) =>
          var v = lo
          while (v < hi) {
            var in = 0L
            var e = g.inOff(v)
            val end = g.inOff(v + 1)
            while (e < end) { in += shares(g.inIdx(e)); e += 1 }
            val num =
              if (uniform)
                (dampDen - dampNum) * teleportOf(v) + dampNum * (in + dang / n)
              else {
                val tp = teleportOf(v)
                (if (tp > 0L)
                   (dampDen - dampNum) * tp + dampNum * (dang / seedCount)
                 else 0L) + dampNum * in
              }
            nx(v) = num / dampDen
            v += 1
          }
        }
        val tmp = cur; cur = next; next = tmp
        it += 1
      }
      cur
    } finally pool.shutdown()
  }

  /** Budget-fused [[run]]: when the multi-edge list fits
    * `Budgets.pageRankEdges`, the graph is a BOUNDED ARTIFACT (the
    * IVF-index/codebook collect class) — the whole damped iteration is
    * iters·O(m) exact long arithmetic, the same order of work as one
    * collect of the graph, so the per-sweep
    * join+checkpoint scaffolding (which dominated the wall ~100×) is pure
    * overhead at this size. Probed distributed-first; bit-identical ranks
    * (spec-pinned); None past the budget or for non-integral ids — the
    * 100 TB plan stays [[run]]'s shuffled sweeps. Round 13: the sweep runs
    * over the primitive CSR image, range-parallel across
    * defaultParallelism threads (see [[CsrGraph]]); measured 8.9× faster
    * than the join plan at 120M edges (SCALE.md r14graph). */
  def runFused(edges: DataFrame, iters: Int, dampNum: Long = 85L,
      dampDen: Long = 100L, scale: Long = Scale): Option[DataFrame] = {
    require(iters >= 0, s"iters must be >= 0: $iters")
    require(dampNum >= 0 && dampDen > 0 && dampNum <= dampDen,
      s"damping must be a fraction in [0,1]: $dampNum/$dampDen")
    collectGraph(edges, graft.operators.Budgets.get.pageRankEdges).map { case (g, nodeT) =>
      val spark = edges.sparkSession
      import spark.implicits._
      val n = g.n.toLong
      val teleport = scale / n
      val init = new Array[Long](g.n)
      java.util.Arrays.fill(init, teleport)
      val ranks = sweepCsr(g, init, iters, _ => teleport, n, uniform = true,
        dampNum, dampDen, n, spark.sparkContext.defaultParallelism)
      val b = Seq.newBuilder[(Long, Long)]
      var i = 0
      while (i < g.n) { b += ((g.nodes(i), ranks(i))); i += 1 }
      spark.createDataset(b.result()).toDF("node", "rank_fp")
        .select(col("node").cast(nodeT).as("node"), col("rank_fp"))
    }
  }

  /** Executor-side broadcast sweep (round 15) — the decade treatment
    * [[graft.graph.ShortestPaths.runBroadcast]] proved for SSSP, applied
    * to uniform PageRank: the edges NEVER touch the driver. They are
    * dense-indexed once against a broadcast node dictionary and cached
    * as packed primitive (uIdx, vIdx) chunks across the executors
    * (memory-and-disk); each damped iteration is
    *   driver: shares(v) = rank(v) DIV outdeg(v) + the dangling sum
    *   (two O(n) array passes) → broadcast(shares: 8 B/node) →
    *   executors: one DENSE long[n] inflow accumulator per task over its
    *   packed chunks → treeReduce element-wise sum (depth 2) →
    *   driver: rank'(v) = ((den−num)·teleport + num·(inflow + dang DIV
    *   n)) DIV den — bit-identical to [[run]]/[[runFused]] (long adds
    *   are order-free; identical integer formula to sweepCsr's uniform
    *   branch).
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
    require(iters >= 0, s"iters must be >= 0: $iters")
    require(dampNum >= 0 && dampDen > 0 && dampNum <= dampDen,
      s"damping must be a fraction in [0,1]: $dampNum/$dampDen")
    val maxNodes = graft.operators.Budgets.get.pageRankNodes
    val srcT = edges.schema("src").dataType
    val dstT = edges.schema("dst").dataType
    if (!integral(srcT) || srcT != dstT || maxNodes <= 0) return None
    val spark = edges.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    // DISK_ONLY scan-stability copy — see ShortestPaths.runBroadcast:
    // checkpoint blocks at this scale starve the execution pool, and
    // re-reading cheap columnar bytes is the posture that survives 100 TB
    val e = edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val probe = e.agg(count(lit(1)),
      coalesce(sum(when(col("u").isNull || col("v").isNull, 1L)
        .otherwise(0L)), lit(0L))).head()
    if (probe.getLong(0) == 0L || probe.getLong(1) != 0L) {
      e.unpersist(blocking = false)
      return None
    }
    val nodesDf = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node"))).distinct().localCheckpoint()
    val nDistinct = nodesDf.count()
    val nodeCap = (Int.MaxValue / 2 - 8).toLong
    val resourceCap = graft.operators.Budgets.driverRows(sc.getConf, 24L, 64L)
    if (nDistinct > math.min(math.min(maxNodes, nodeCap), resourceCap)) {
      graft.operators.Checkpoints.free(nodesDf)
      e.unpersist(blocking = false)
      return None
    }
    val nodeChunks = nodesDf.queryExecution.toRdd.mapPartitions { it =>
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach(r => b += r.getLong(0))
      Iterator.single(b.result())
    }.collect()
    graft.operators.Checkpoints.free(nodesDf)
    val ids = new Array[Long](nodeChunks.map(_.length).sum)
    var p = 0
    nodeChunks.foreach { c =>
      System.arraycopy(c, 0, ids, p, c.length); p += c.length
    }
    java.util.Arrays.parallelSort(ids)
    var n = 0
    var i = 0
    while (i < ids.length) {
      if (n == 0 || ids(n - 1) != ids(i)) { ids(n) = ids(i); n += 1 }
      i += 1
    }
    val nodes = java.util.Arrays.copyOf(ids, n)
    val bcNodes = sc.broadcast(nodes)
    val chunkPairs = 1 << 20 // 16 MB sub-chunks — bounded build transients
    val packed = e.queryExecution.toRdd.mapPartitions { it =>
      val dict = bcNodes.value
      new Iterator[Array[Long]] {
        def hasNext: Boolean = it.hasNext
        def next(): Array[Long] = {
          val b = new Array[Long](2 * chunkPairs)
          var k = 0
          while (k < b.length && it.hasNext) {
            val r = it.next()
            b(k) = java.util.Arrays.binarySearch(dict, r.getLong(0)).toLong
            b(k + 1) = java.util.Arrays.binarySearch(dict, r.getLong(1)).toLong
            k += 2
          }
          if (k == b.length) b else java.util.Arrays.copyOf(b, k)
        }
      }
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
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
    val outdeg = sumDense { (c, acc) =>
      var j = 0
      while (j < c.length) { acc(c(j).toInt) += 1L; j += 2 }
    }
    e.unpersist(blocking = false) // packed materialized by the outdeg pass
    val nL = n.toLong
    val teleport = scale / nL
    var cur = new Array[Long](n)
    java.util.Arrays.fill(cur, teleport)
    try {
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
        val dangN = dang / nL
        val next = new Array[Long](n)
        v = 0
        while (v < n) {
          next(v) = ((dampDen - dampNum) * teleport
            + dampNum * (inflow(v) + dangN)) / dampDen
          v += 1
        }
        cur = next
        it += 1
      }
    } finally {
      packed.unpersist(blocking = false)
      bcNodes.destroy()
    }
    val b = Seq.newBuilder[(Long, Long)]
    i = 0
    while (i < n) { b += ((nodes(i), cur(i))); i += 1 }
    Some(spark.createDataset(b.result()).toDF("node", "rank_fp")
      .select(col("node").cast(srcT).as("node"), col("rank_fp")))
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
    * teleport/dangling. The seed set rides the same budget (it is at most
    * node-sized in any sane call; a seed frame the driver cannot hold
    * falls back). Seeds absent from the graph still count toward |S|
    * (exactly [[personalized]]'s semantics). */
  def personalizedFused(edges: DataFrame, seeds: DataFrame, iters: Int,
      dampNum: Long = 85L, dampDen: Long = 100L,
      scale: Long = Scale): Option[DataFrame] = {
    require(iters >= 0, s"iters must be >= 0: $iters")
    require(dampNum >= 0 && dampDen > 0 && dampNum <= dampDen,
      s"damping must be a fraction in [0,1]: $dampNum/$dampDen")
    val maxEdges = graft.operators.Budgets.get.pageRankEdges
    val seedT = seeds.schema("node").dataType
    if (!integral(seedT)) return None
    collectGraph(edges, maxEdges).flatMap { case (g, nodeT) =>
      val spark = edges.sparkSession
      import spark.implicits._
      val sDistinct = seeds.select(col("node").cast("long").as("node")).distinct()
      val nS = sDistinct.limit((math.min(maxEdges, (Int.MaxValue - 2).toLong)
        .toInt) + 1).count()
      if (nS == 0L || nS > maxEdges) None
      else {
        // |S| counts every distinct seed row, including a null (which can
        // never match a graph node) — exactly personalized()'s s.count()
        val seedRows = sDistinct.collect()
        val seedSet = new java.util.HashSet[Long]()
        seedRows.foreach(r => if (!r.isNullAt(0)) seedSet.add(r.getLong(0)))
        val teleport = scale / seedRows.length
        // dense teleport image: one lookup per node per sweep, 0 = non-seed
        val tel = new Array[Long](g.n)
        var i = 0
        while (i < g.n) {
          if (seedSet.contains(g.nodes(i))) tel(i) = teleport
          i += 1
        }
        val ranks = sweepCsr(g, tel.clone(), iters, v => tel(v),
          seedRows.length.toLong, uniform = false, dampNum, dampDen,
          g.n.toLong, spark.sparkContext.defaultParallelism)
        val b = Seq.newBuilder[(Long, Long)]
        i = 0
        while (i < g.n) { b += ((g.nodes(i), ranks(i))); i += 1 }
        Some(spark.createDataset(b.result()).toDF("node", "rank_fp")
          .select(col("node").cast(nodeT).as("node"), col("rank_fp")))
      }
    }
  }

  /** Budget dispatcher for [[personalized]]. */
  def personalizedAuto(edges: DataFrame, seeds: DataFrame, iters: Int,
      dampNum: Long = 85L, dampDen: Long = 100L, scale: Long = Scale): DataFrame =
    personalizedFused(edges, seeds, iters, dampNum, dampDen, scale)
      .getOrElse(personalized(edges, seeds, iters, dampNum, dampDen, scale))

  /** Total |rank−rank'| between two rank frames (fixed-point units) — the
    * L1 convergence gap, one aggregate. */
  def massDelta(a: DataFrame, b: DataFrame): Long =
    a.select(col("node"), col("rank_fp").as("__a"))
      .join(b.select(col("node"), col("rank_fp").as("__b")), Seq("node"), "outer")
      .agg(sum(abs(coalesce(col("__a"), lit(0L)) - coalesce(col("__b"), lit(0L)))))
      .head().getLong(0)
}
