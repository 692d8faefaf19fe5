package graft.graph

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Single-source shortest paths by fixed-round Bellman–Ford relaxation —
  * the BSP min-plus iteration every distributed graph engine ships
  * (Pregel's hello-world; Malewicz et al. 2010). Weights are exact longs
  * and relaxation is min(long + long), so distances are bit-identical in
  * any engine at any parallelism — no float accumulation anywhere.
  *
  * The round count is FIXED by the caller (the PageRank/KCore
  * determinism convention): after R rounds the table holds the exact
  * shortest distance over paths of ≤ R edges — THE oracle-replayable
  * semantics, and the quantity itself callers usually want ("reachable
  * within k hops"); convergence (R ≥ diameter ⇒ fixpoint) is what specs
  * assert.
  *
  * Per round: one join of the |reached|-row frontier table against the
  * src-partitioned edge list + one partial-aggregated min — the edges
  * never reshuffle across rounds (repartition once + localCheckpoint
  * preserves outputPartitioning); lineage is cut every round.
  */
object ShortestPaths {

  /** Distances from `source` over directed weighted edges (srcCol,
    * dstCol, weightCol: long ≥ 0); symmetrize upstream for undirected
    * graphs. Returns (node, dist) for every node reachable in ≤ rounds
    * edges. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, source: Long, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"),
        col(weightCol).cast("long").as("w"))
      .repartition(col("u")).localCheckpoint()
    val spark = edges.sparkSession
    import spark.implicits._
    var dist = Seq((source, 0L)).toDF("node", "dist").localCheckpoint()
    var r = 0
    while (r < rounds) {
      val relaxed = dist.join(e, dist("node") === e("u"))
        .select(col("v").as("node"), (col("dist") + col("w")).as("dist"))
      val prev = dist
      dist = dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint()
      // eager checkpoint materialized → the previous round's distance
      // blocks are superseded; free them immediately
      graft.operators.Checkpoints.free(prev)
      r += 1
    }
    dist
  }

  /** Edges (src, dst, weight) as long columns, and the probe that
    * refuses what the fused routes cannot replay — the sentinel-collision
    * guard (round-13 advice): INF = Long.MaxValue is both the unreached
    * marker and a representable distance. A fused distance is a sum of
    * <= rounds edge weights, so bounding rounds·maxW strictly below the
    * sentinel makes a collision (or a silent wrap — run()'s ANSI long
    * arithmetic would throw instead) impossible; negative weights refuse
    * for the same wrap reason. */
  private def weighted(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"),
      col(weightCol).cast("long").as("w"))
  private def weightProbe = Seq(PackedGraph.Fold.min(col("w")), PackedGraph.Fold.max(col("w")))
  private def weightsFit(rounds: Int)(p: Row): Boolean = {
    val maxW = p.getLong(3)
    p.getLong(2) >= 0L && !(maxW > 0L && maxW > (Long.MaxValue - 1L) / math.max(1, rounds))
  }
  private final val INF = Long.MaxValue

  /** Budget-fused [[run]]: under `Budgets.ssspEdges` the weighted
    * multi-edge list is a BOUNDED ARTIFACT (budget-probed
    * distributed-first, collected once) and the whole R-round min-plus
    * relaxation is rounds·O(m) exact long arithmetic — the same order of
    * work as one collect of the graph, so the per-round join+checkpoint
    * scaffolding is pure overhead at this size. Bit-identical distances
    * (min/+ on longs are order-free); None past the budget or the
    * session's driver (~24 B/edge of task results; the heap divisor is
    * set from MEASURED FAILURE — r14: 120M edges died on a 24 GB
    * driver's id-image build and a 48 GB driver's full-GC pauses — so the
    * guard demands ~480 B of heap per edge and the next decade belongs to
    * [[runBroadcast]]), for non-integral or mismatched id types, for
    * weights the sentinel guard refuses, or when any endpoint/weight is
    * null (the join plan's null semantics are kept by falling back).
    *
    * Round 13 (verdict task 7): the relaxation runs over the primitive
    * dst-grouped CSR ([[PackedGraph.Csr]], weights carried; the source is
    * in the node universe, so the unreached-source case keeps its
    * {source: 0} row) — next(v) = min(cur(v), min over in-edges (u,w) of
    * cur(u)+w) — so disjoint node ranges parallelize across
    * defaultParallelism threads with zero synchronization (each thread
    * owns its v slots; min is order-free, so bit-identity to the BSP
    * join plan is preserved by construction); measured 1.6× faster than
    * the join plan at 24M edges warm (SCALE.md r13graph). */
  def runFused(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, source: Long, rounds: Int): Option[DataFrame] = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val maxEdges = graft.operators.Budgets.get.ssspEdges
    PackedGraph.idType(edges, srcCol, dstCol).filter(_ => maxEdges > 0L).flatMap { _ =>
      PackedGraph.driverCsr(weighted(edges, srcCol, dstCol, weightCol), maxEdges,
        24L, 192L, Some(source), weightProbe)(weightsFit(rounds))
    }.map { g =>
      val spark = edges.sparkSession
      val n = g.n
      val dist = PackedGraph.withPool(n, spark.sparkContext.defaultParallelism) {
        (pool, threads) =>
          var cur = new Array[Long](n)
          java.util.Arrays.fill(cur, INF)
          cur(g.denseIdOf(source)) = 0L
          var next = new Array[Long](n)
          var r = 0
          while (r < rounds) {
            val c = cur
            val nx = next
            PackedGraph.inParallel(pool, n, threads) { (_, lo, hi) =>
              var v = lo
              while (v < hi) {
                var best = c(v)
                var e = g.inOff(v)
                val end = g.inOff(v + 1)
                while (e < end) {
                  val du = c(g.inSrc(e))
                  // only reached nodes relax — the join plan's inner join
                  if (du != INF) {
                    val cand = du + g.inW(e)
                    if (cand < best) best = cand
                  }
                  e += 1
                }
                nx(v) = best
                v += 1
              }
            }
            val tmp = cur; cur = next; next = tmp
            r += 1
          }
          cur
      }
      PackedGraph.frame(spark, g.nodes, dist, "dist", keep = _ != INF)
    }
  }

  /** Executor-side broadcast-CSR sweep (round 15, verdict task 5) — the
    * decade [[runFused]] measured itself out of: the r14 120M-edge
    * attempts died on BOTH a 24 GB driver (OOM in the id-image build)
    * and a 48 GB one (full-GC heartbeat suicide), because the driver
    * kernel's resource bound is ~192 B per EDGE. This sweep never
    * collects the edges at all ([[PackedGraph.executorImage]]: they are
    * dense-indexed ONCE against the broadcast node dictionary — the
    * distinct endpoints plus the source, guarded by NODE count — and
    * cached as packed (uIdx, vIdx, w) chunks ACROSS THE EXECUTORS), and
    * each Bellman–Ford round is
    *   broadcast(dist) → per-partition relaxation into a local sparse
    *   min-map (only IMPROVEMENTS vs the broadcast image are emitted)
    *   → one reduceByKey(min) → one ≤ n-entry collect → driver apply.
    * The driver's bound drops from O(edges) to O(NODES) (~24 B/node of
    * arrays + an 8 B/node broadcast per round), which is the right
    * asymmetry for co-occurrence graphs where m ≫ n; the per-round
    * shuffle carries only improved nodes, a frontier that shrinks as
    * rounds converge, and edges never reshuffle.
    *
    * Bit-identity with [[run]]/[[runFused]] holds by construction: the
    * relaxation is min(long + long) — order-free — over the same fixed
    * round count (spec-pinned in ShortestPathsSpec; the q184 driver row
    * replays q160's DuckDB oracle through this route).
    *
    * Returns None (→ caller falls back to the join plan) for
    * non-integral or mismatched id types, null endpoints/weights,
    * weights the sentinel guard refuses, or a node count past
    * `Budgets.ssspNodes` or the session-resource guard. Measured 2.3×
    * faster than the join plan at 120M edges / 8M nodes on a default 8g
    * driver (SCALE.md r15graph). */
  def runBroadcast(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, source: Long, rounds: Int): Option[DataFrame] = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val maxNodes = graft.operators.Budgets.get.ssspNodes
    PackedGraph.idType(edges, srcCol, dstCol).filter(_ => maxNodes > 0L).flatMap { _ =>
      PackedGraph.executorImage(weighted(edges, srcCol, dstCol, weightCol), maxNodes,
        Some(source), weightProbe)(weightsFit(rounds))
    }.map { case (nodes, bcNodes, packed) =>
      val spark = edges.sparkSession
      val cur = new Array[Long](nodes.length)
      java.util.Arrays.fill(cur, INF)
      cur(java.util.Arrays.binarySearch(nodes, source)) = 0L
      try {
        var r = 0
        while (r < rounds) {
          val bcDist = spark.sparkContext.broadcast(cur)
          val ups = packed.mapPartitions { it =>
            val d = bcDist.value
            // sparse partition-local min-combine: only strict improvements
            // over the broadcast image leave the partition
            val best = new scala.collection.mutable.LongMap[Long]()
            it.foreach { c =>
              var j = 0
              while (j < c.length) {
                val du = d(c(j).toInt)
                if (du != INF) {
                  val cand = du + c(j + 2)
                  val v = c(j + 1).toInt
                  if (cand < d(v)) {
                    val prev = best.getOrElse(v.toLong, INF)
                    if (cand < prev) best.update(v.toLong, cand)
                  }
                }
                j += 3
              }
            }
            best.iterator
          }.reduceByKey((a, b) => math.min(a, b)).collect()
          bcDist.destroy()
          ups.foreach { case (v, dvt) =>
            val vi = v.toInt
            if (dvt < cur(vi)) cur(vi) = dvt
          }
          r += 1
        }
      } finally {
        packed.unpersist(blocking = false)
        bcNodes.destroy()
      }
      // long node/dist, matching run()'s union-coerced schema and
      // runFused's output exactly (bit-identity includes the schema)
      PackedGraph.frame(spark, nodes, cur, "dist", keep = _ != INF)
    }
  }

  /** Budget dispatcher for [[run]]: driver-CSR kernel under
    * `Budgets.ssspEdges`, then the executor-side broadcast sweep under
    * `Budgets.ssspNodes` (round 15
    * — its driver bound is node-count, so it serves the m ≫ n decade
    * the driver kernel's guards refuse), then the BSP join plan. All
    * three routes are bit-identical by the min-plus order-free
    * contract. */
  def runAuto(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, source: Long, rounds: Int): DataFrame =
    runFused(edges, srcCol, dstCol, weightCol, source, rounds)
      .orElse(runBroadcast(edges, srcCol, dstCol, weightCol, source, rounds))
      .getOrElse(run(edges, srcCol, dstCol, weightCol, source, rounds))
}
