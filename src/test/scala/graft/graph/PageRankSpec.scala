package graft.graph

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Budgets

/** PageRank: fixed-point recurrence vs an independent Map-based reference
  * (same integer arithmetic, written without Spark), invariance under
  * partitioning, uniform-rank symmetry, dangling handling, mass decay. */
class PageRankSpec extends SparkSpecBase {
  import spark.implicits._

  /** Independent single-machine reference: identical integer recurrence. */
  private def reference(edges: Seq[(Long, Long)], iters: Int,
      dampNum: Long = 85L, dampDen: Long = 100L,
      scale: Long = PageRank.Scale): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toLong
    val teleport = scale / n
    val outdeg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var r = nodes.map(_ -> teleport).toMap
    for (_ <- 0 until iters) {
      val dang = nodes.filter(v => !outdeg.contains(v)).map(r).sum
      val inflow = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for ((s, d) <- edges) inflow(d) += r(s) / outdeg(s)
      r = nodes.map { v =>
        v -> ((dampDen - dampNum) * teleport
          + dampNum * (inflow(v) + dang / n)) / dampDen
      }.toMap
    }
    r
  }

  // a directed graph with a hub (1), a cycle (2->3->4->2) and a dangling
  // sink (5): exercises inflow, no-inflow, and dangling redistribution
  private val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 2L), (2L, 5L))

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    PageRank.run(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("matches the independent integer reference on a graph with a dangling sink") {
    for (iters <- Seq(0, 1, 3, 5))
      assert(run(g, iters) === reference(g, iters), s"iters=$iters")
  }

  test("result is invariant under input partitioning") {
    val df = g.toDF("src", "dst")
    val a = PageRank.run(df.repartition(7), 3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = PageRank.run(df.coalesce(1), 3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b)
  }

  test("symmetric complete graph converges to exactly uniform ranks") {
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    val ranks = run(k4, 4).values.toSeq
    assert(ranks.distinct.size === 1) // exact equality, not approximate
  }

  test("total mass decays deterministically and stays within the floor-loss bound") {
    val iters = 5
    val total = run(g, iters).values.sum
    val n = 5L; val e = g.size.toLong
    val lossBound = iters * (e + n * 102L) + n // per-iter DIV floors + init
    assert(total <= PageRank.Scale)
    assert(total >= PageRank.Scale - lossBound)
  }

  test("hub-fed nodes outrank the hub; dangling sink gets mass back") {
    val r = run(g, 10)
    // 2 and 3 receive from the hub and the cycle; 1 only gets teleport+dangling
    assert(r(2L) > r(1L) && r(3L) > r(1L))
    assert(r(5L) > 0L)
  }

  /** Independent PPR reference: same integer recurrence, seed-gated
    * teleport and dangling. */
  private def referencePpr(edges: Seq[(Long, Long)], seeds: Set[Long],
      iters: Int, dampNum: Long = 85L, dampDen: Long = 100L,
      scale: Long = PageRank.Scale): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val nS = seeds.size.toLong
    val teleport = scale / nS
    val outdeg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var r = nodes.map(v => v -> (if (seeds(v)) teleport else 0L)).toMap
    for (_ <- 0 until iters) {
      val dang = nodes.filter(v => !outdeg.contains(v)).map(r).sum
      val inflow = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for ((s, d) <- edges) inflow(d) += r(s) / outdeg(s)
      r = nodes.map { v =>
        val seedTerm =
          if (seeds(v)) (dampDen - dampNum) * teleport + dampNum * (dang / nS)
          else 0L
        v -> (seedTerm + dampNum * inflow(v)) / dampDen
      }.toMap
    }
    r
  }

  private def runPpr(edges: Seq[(Long, Long)], seeds: Seq[Long],
      iters: Int): Map[Long, Long] =
    PageRank.personalized(edges.toDF("src", "dst"), seeds.toDF("node"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("personalized PPR matches its independent integer reference") {
    for (iters <- Seq(0, 1, 3, 5))
      assert(runPpr(g, Seq(1L), iters) === referencePpr(g, Set(1L), iters),
        s"iters=$iters")
    assert(runPpr(g, Seq(2L, 5L), 4) === referencePpr(g, Set(2L, 5L), 4))
  }

  test("personalized with ALL nodes as seeds reduces bit-for-bit to uniform PageRank") {
    val all = Seq(1L, 2L, 3L, 4L, 5L)
    for (iters <- Seq(1, 4))
      assert(runPpr(g, all, iters) === run(g, iters), s"iters=$iters")
  }

  test("PPR mass concentrates near the seed: downstream of seed outranks upstream-only nodes") {
    // seed 1 feeds 2 and 3; node 5 is a dangling sink off 2; the cycle
    // returns mass to 2. Nodes unreachable FROM the seed get rank only
    // via floor-zero paths.
    val r = runPpr(g, Seq(1L), 8)
    assert(r(2L) > 0L && r(3L) > 0L)
    assert(r(2L) > r(5L) && r(3L) > r(5L))
    // the seed itself receives no inflow in this graph beyond teleport
    assert(r(1L) > 0L)
  }

  test("massDelta shrinks geometrically with iterations (convergence gap)") {
    val df = g.toDF("src", "dst")
    val d1 = PageRankSpec.massDelta(PageRank.run(df, 1), PageRank.run(df, 2))
    val d4 = PageRankSpec.massDelta(PageRank.run(df, 4), PageRank.run(df, 5))
    assert(d4 < d1)
  }

  test("fused sweep is bit-identical to the join plan (multi-edges, dangling, 0..5 iters)") {
    val multi = g ++ Seq((1L, 2L), (4L, 2L)) // parallel edges count twice
    for (iters <- Seq(0, 1, 3, 5)) {
      val fused = PageRank.runFused(multi.toDF("src", "dst"), iters)
      assert(fused.isDefined)
      val fm = fused.get.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val jm = PageRank.run(multi.toDF("src", "dst"), iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fm === jm, s"iters=$iters")
    }
  }

  test("fused PPR is bit-identical, including seeds absent from the graph") {
    // seed 99 is not a node: it dilutes teleport (|S|=3) but gets no row
    val seeds = Seq(1L, 2L, 99L)
    for (iters <- Seq(1, 3)) {
      val fused = PageRank.personalizedFused(
        g.toDF("src", "dst"), seeds.toDF("node"), iters)
      assert(fused.isDefined)
      val fm = fused.get.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val jm = PageRank.personalized(
        g.toDF("src", "dst"), seeds.toDF("node"), iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fm === jm, s"iters=$iters")
    }
  }

  test("fused refuses past the budget / non-integral ids / null endpoints; Auto falls back") {
    val df = g.toDF("src", "dst")
    assert(Budgets.scoped(_.copy(pageRankEdges = 3L))(PageRank.runFused(df, 2)).isEmpty)
    val strs = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    assert(PageRank.runFused(strs, 2).isEmpty)
    val withNull = df.unionByName(
      Seq((Option.empty[Long], Option(2L))).toDF("src", "dst"))
    assert(PageRank.runFused(withNull, 2).isEmpty,
      "null endpoints must fall back to the join plan's semantics")
    // dispatchers serve all three through the join plan
    assert(Budgets.scoped(_.copy(pageRankEdges = 3L))(PageRank.runAuto(df, 2).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === run(g, 2))
    assert(PageRank.runAuto(strs, 1).count() == 2)
  }

  test("broadcast sweep is bit-identical to the join plan (multi-edges, dangling, 0..5 iters)") {
    // round 15: the executor-side route replays the fused kernel's
    // identity contract — same multi-edge + dangling fixture, every
    // iteration count, partitioning-invariant
    val multi = g ++ Seq((1L, 2L), (4L, 2L))
    for (iters <- Seq(0, 1, 3, 5)) {
      val bc = PageRank.runBroadcast(multi.toDF("src", "dst"), iters)
      assert(bc.isDefined)
      val bm = bc.get.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val jm = PageRank.run(multi.toDF("src", "dst"), iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(bm === jm, s"iters=$iters")
    }
    val a = PageRank.runBroadcast(g.toDF("src", "dst"), 3).get.collect().toSet
    val b = PageRank.runBroadcast(g.toDF("src", "dst").repartition(7), 3)
      .get.collect().toSet
    assert(a === b)
  }

  test("broadcast sweep refuses what the fused kernel refuses; Auto dispatches through it") {
    val df = g.toDF("src", "dst")
    // node budget: the fixture has 5 nodes
    assert(Budgets.scoped(_.copy(pageRankNodes = 4L))(PageRank.runBroadcast(df, 2)).isEmpty)
    val strs = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    assert(PageRank.runBroadcast(strs, 2).isEmpty)
    val withNull = df.unionByName(
      Seq((Option.empty[Long], Option(2L))).toDF("src", "dst"))
    assert(PageRank.runBroadcast(withNull, 2).isEmpty)
    // int ids keep their type through the broadcast route
    val gi = Seq((1, 2), (2, 3), (3, 1)).toDF("src", "dst")
    val bi = PageRank.runBroadcast(gi, 2).get
    assert(bi.schema.map(f => (f.name, f.dataType))
      == PageRank.run(gi, 2).schema.map(f => (f.name, f.dataType)))
    // edge budget refuses the CSR kernel, node budget admits this route
    assert(Budgets.scoped(_.copy(pageRankEdges = 3L, pageRankNodes = 64L))(
        PageRank.runAuto(df, 2).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === run(g, 2))
    // both refused: the join plan still answers identically
    assert(Budgets.scoped(_.copy(pageRankEdges = 3L, pageRankNodes = 2L))(
        PageRank.runAuto(df, 2).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === run(g, 2))
  }

  test("fused output keeps the input id type (int edges -> int nodes)") {
    val gi = Seq((1, 2), (2, 3), (3, 1)).toDF("src", "dst")
    val fused = PageRank.runFused(gi, 2).get
    val joined = PageRank.run(gi, 2)
    assert(fused.schema.map(f => (f.name, f.dataType))
      == joined.schema.map(f => (f.name, f.dataType)))
    assert(fused.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      == joined.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
  }

  test("scale below the node / seed count: zero teleport on the join and fused routes") {
    // scale DIV N = 0 (scale 3, 5 nodes) and scale DIV |S| = 0 (scale 2,
    // 3 seeds) start every rank at 0, which the shared formula keeps;
    // scale 7 leaves a one-unit teleport whose floors the routes share
    val df = g.toDF("src", "dst")
    val seeds = Seq(1L, 2L, 99L)
    def toMap(d: DataFrame) = d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val iters = 2
    for (scale <- Seq(2L, 3L, 7L)) {
      val want = reference(g, iters, scale = scale)
      assert(toMap(PageRank.run(df, iters, scale = scale)) === want, s"join scale=$scale")
      assert(toMap(PageRank.runFused(df, iters, scale = scale).get) === want,
        s"fused scale=$scale")
      val ppr = referencePpr(g, seeds.toSet, iters, scale = scale)
      assert(toMap(PageRank.personalized(df, seeds.toDF("node"), iters, scale = scale))
        === ppr, s"personalized join scale=$scale")
      assert(toMap(PageRank.personalizedFused(df, seeds.toDF("node"), iters,
        scale = scale).get) === ppr, s"personalized fused scale=$scale")
    }
  }

  test("fused PPR refuses a seed set past the edge gate; Auto serves the join plan") {
    // the graph's 6 edges fit the gate, its 7 distinct seeds do not: the
    // seed collect refuses at the same cap as the graph collect
    val df = g.toDF("src", "dst")
    val seeds = (1L to 7L).toDF("node")
    assert(Budgets.scoped(_.copy(pageRankEdges = 6L))(
      PageRank.personalizedFused(df, seeds, 2)).isEmpty)
    assert(Budgets.scoped(_.copy(pageRankEdges = 7L))(
      PageRank.personalizedFused(df, seeds, 2)).isDefined)
    assert(Budgets.scoped(_.copy(pageRankEdges = 6L))(
        PageRank.personalizedAuto(df, seeds, 2).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
      === referencePpr(g, (1L to 7L).toSet, 2))
  }
}

/** Spec-held forms: no query, Verify, Bench or perfbench reaches them. */
object PageRankSpec {

  /** Total |rank−rank'| between two rank frames (fixed-point units) — the
    * L1 convergence gap, one aggregate. */
  def massDelta(a: DataFrame, b: DataFrame): Long =
    a.select(col("node"), col("rank_fp").as("__a"))
      .join(b.select(col("node"), col("rank_fp").as("__b")), Seq("node"), "outer")
      .agg(sum(abs(coalesce(col("__a"), lit(0L)) - coalesce(col("__b"), lit(0L)))))
      .head().getLong(0)
}
