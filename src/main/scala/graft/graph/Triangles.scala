package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact triangle counting + local clustering coefficients over an
  * undirected graph — the degree-ordered orientation algorithm (the
  * MapReduce classic, Suri & Vassilvitskii 2011 / Cohen 2009): orient
  * every edge from its lower-(degree, id) endpoint to the higher, build
  * wedges only from each node's ORIENTED out-neighbors, and close them
  * against oriented edges. Every triangle is counted exactly once — at
  * its lowest-ranked vertex — and the orientation bounds out-degrees by
  * O(√m), so the wedge space is O(m^1.5) no matter how skewed the raw
  * degree distribution is (a celebrity node of degree 10⁷ contributes
  * ZERO wedges from its own adjacency: every triangle through it is
  * charged to a smaller endpoint). That bound is what makes the count
  * feasible at 100 TB; the naive wedge join is Σ deg² and dies on the
  * first hub.
  *
  * Two plans behind one budget seam (the serving-ladder convention):
  *  - FUSED (graph fits the edge budget): the oriented adjacency is built
  *    driver-side from ONE map-side-deduped shuffle, broadcast, and each
  *    apex's wedges close as sorted-array intersections inside a
  *    mapPartitions loop — the O(m^1.5) wedge set NEVER materializes as
  *    rows (the TopKDotF32 lesson: a materialized candidate row costs
  *    ~25× the arithmetic it carries). Same counts, bit-for-bit.
  *  - COMPOSED (past the budget, or non-integral node ids): canonicalize
  *    (distinct min/max pairs, self-loops dropped) → degree table →
  *    orient → one self-join on the wedge apex (the two sides share the
  *    exchange) → one closing join against the oriented edges — itself
  *    broadcast under the budget so the wedge rows at least close
  *    map-side — → explode corners → per-node count.
  * All counts exact longs; the coefficient is one guarded IEEE division.
  */
object Triangles {

  private def lexLess(d1: Column, n1: Column, d2: Column, n2: Column): Column =
    d1 < d2 || (d1 === d2 && n1 < n2)

  /** Per-node triangle participation and local clustering coefficient.
    * Input edges may be directed/duplicated/self-looped — canonicalized
    * here. Output: (node, degree, triangles, coeff) with
    * coeff = 2·triangles / (degree·(degree−1)), NULL below degree 2.
    * Dispatches fused ↔ composed on `Budgets.triangleEdges` (distinct
    * undirected edges; 8M ≈ a couple hundred MB of broadcast adjacency). */
  def perNode(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    perNodeFused(edges, srcCol, dstCol)
      .getOrElse(perNodeComposed(edges, srcCol, dstCol))

  /** The fused plan: one shuffle (groupBy collect_set — map-side deduped),
    * one budget aggregate BEFORE any driver collect, one bounded driver
    * artifact (the oriented adjacency, ≤ `Budgets.triangleEdges` longs
    * in id-sorted arrays — the IVF-index/codebook class of collect, never
    * unbounded),
    * one broadcast; then every apex intersects its out-neighborhood
    * against each out-neighbor's in a distributed loop with per-partition
    * count pre-aggregation, so the only remaining exchanges are |V| apex
    * ids out and ≤|V| partial counts back. Returns None — callers fall
    * back to the composed plan — past the budget or what the session's
    * driver holds, or when the id columns are not one shared integral
    * type (the driver orientation keys and ranks by long). */
  def perNodeFused(edges: DataFrame, srcCol: String,
      dstCol: String): Option[DataFrame] = {
    val maxEdges = graft.operators.Budgets.get.triangleEdges
    val srcT = PackedGraph.idType(edges, srcCol, dstCol) match {
      case Some(t) if maxEdges > 0L => t
      case _ => return None
    }
    val spark = edges.sparkSession
    import spark.implicits._
    // half-adjacency over canonical pairs: collect_set dedups map-side, so
    // the composed plan's distinct + degree-join double exchange is one
    // partial-aggregated shuffle keyed by the lower endpoint
    val grouped = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .groupBy(col("u")).agg(collect_set(col("v")).as("nbrs"))
    // PACKED PRIMITIVE transfer of [u, len, v1..vlen] records (round 15 —
    // the r14 PageRank lesson; [[PackedGraph.collect]]): the old boxed
    // Dataset collect deserialized every row through Row + Seq[Long] on
    // the single-threaded driver. ~24 B/edge of task results at worst
    // (one group per edge); the id image, its sorted copy and the arrays
    // below peak near ~96 B/edge of driver heap. Int-index bound
    // (round-16, ADVICE r15): the transfer and the CSR arrays index with
    // Int, and packed entries total ≤ 2·groups + m ≤ 3m, so a gate raised
    // past ~Int.MaxValue/3 refuses instead of overflowing.
    val got = PackedGraph.collect(grouped, math.min(maxEdges, (Int.MaxValue / 3 - 4).toLong),
      24L, 96L, rows = PackedGraph.Fold.sum(size(col("nbrs"))))(_.getLong(0) > 0L)
    val (chunks, m) = got match {
      case Some((cs, p)) => (cs, p.getLong(0).toInt)
      case None => return None
    }
    // the driver builds DENSE int-indexed arrays — node dictionary,
    // degrees, and the (deg, id)-oriented out-adjacency, id-sorted per
    // node — so no boxed lookup sits in the kernel's hottest loop. Counts,
    // orientation, and intersections are value-identical to the composed
    // plan (spec-pinned). First the m canonical (u, v) edges, flat:
    val e = new Array[Long](2 * m)
    var p = 0
    chunks.foreach { c =>
      var i = 0
      while (i < c.length) {
        val len = c(i + 1).toInt
        var j = 0
        while (j < len) { e(p) = c(i); e(p + 1) = c(i + 2 + j); p += 2; j += 1 }
        i += 2 + len
      }
    }
    val nodes = PackedGraph.dictionary(Array(e), 2, None)
    val n = nodes.length
    def idx(id: Long): Int = java.util.Arrays.binarySearch(nodes, id)
    // exact degrees per dense id
    val deg = new Array[Long](n)
    p = 0
    while (p < e.length) { deg(idx(e(p))) += 1L; deg(idx(e(p + 1))) += 1L; p += 2 }
    // (deg, id)-orientation lo -> hi, each edge rewritten as (hi, lo): the
    // dst-grouped CSR of those records is every node's oriented
    // out-adjacency (its dictionary is `nodes`: the same endpoints)
    p = 0
    while (p < e.length) {
      val u = e(p); val v = e(p + 1)
      val du = deg(idx(u)); val dv = deg(idx(v))
      if (du < dv || (du == dv && u < v)) { e(p) = v; e(p + 1) = u }
      p += 2
    }
    val csr = PackedGraph.buildCsr(nodes, Array(e), 2, m)
    val off = csr.inOff
    val nbr = csr.inSrc
    // id-sorted out-neighbor runs: set intersection needs one shared
    // order, and dense-id order (= id order) is it
    var oi = 0
    while (oi < n) {
      java.util.Arrays.sort(nbr, off(oi), off(oi + 1)); oi += 1
    }
    val bcNodes = spark.sparkContext.broadcast(nodes)
    val bcOff = spark.sparkContext.broadcast(off)
    val bcNbr = spark.sparkContext.broadcast(nbr)
    val slices = spark.sparkContext.defaultParallelism
    val partials = spark.range(0L, n.toLong, 1L, slices)
      .as[Long]
      .mapPartitions { it =>
        val nodesL = bcNodes.value; val offL = bcOff.value; val nbrL = bcNbr.value
        // per-partition counts over dense ids — primitive map, no boxing
        val counts = new scala.collection.mutable.LongMap[Long]()
        def bump(i: Int): Unit =
          counts.update(i.toLong, counts.getOrElse(i.toLong, 0L) + 1L)
        it.foreach { xl =>
          val x = xl.toInt
          var i = offL(x)
          val xEnd = offL(x + 1)
          while (i < xEnd) {
            val y = nbrL(i)
            // two-pointer merge: common out-neighbors of x and y each
            // close one triangle {x, y, c}, charged to all three corners
            var pp = offL(x); var q = offL(y)
            val qEnd = offL(y + 1)
            while (pp < xEnd && q < qEnd) {
              if (nbrL(pp) < nbrL(q)) pp += 1
              else if (nbrL(pp) > nbrL(q)) q += 1
              else { bump(x); bump(y); bump(nbrL(pp)); pp += 1; q += 1 }
            }
            i += 1
          }
        }
        counts.iterator.map { case (i, c) => (nodesL(i.toInt), c) }
      }.toDF("node", "__tri")
      .groupBy(col("node")).agg(sum(col("__tri")).as("triangles"))
    Some(PackedGraph.frame(spark, nodes, deg, "degree")
      .join(partials, Seq("node"), "left")
      .select(col("node").cast(srcT).as("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2L,
          (coalesce(col("triangles"), lit(0L)) * 2L).cast("double")
            / (col("degree") * (col("degree") - 1L))).as("coeff")))
  }

  /** The composed (all-DataFrame) plan — any id type, any graph size. */
  def perNodeComposed(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val broadcastEdgeLimit = graft.operators.Budgets.get.triangleEdges
    // materialize the canonical edge set ONCE: deg, the orientation join,
    // and (via `oriented`) three join branches all read it, and `edges` is
    // often an expensive upstream join (q155's co-purchase self-join)
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct().localCheckpoint()
    val m = und.count() // one long: drives the closing-join regime gate
    val deg = und.select(col("u").as("n"))
      .unionAll(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("degree"))
    val withDeg = und
      .join(deg.select(col("n").as("u"), col("degree").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("degree").as("dv")), Seq("v"))
    // orient lo-(deg, id) -> hi; carry the head's rank for the wedge order.
    // Checkpointed: e1/e2 share one exchange on the apex, but the closing
    // side keys on (b-pair) — without the cut the whole distinct+deg+orient
    // lineage would run again for it.
    val lo = lexLess(col("du"), col("u"), col("dv"), col("v"))
    val oriented = withDeg.select(
      when(lo, col("u")).otherwise(col("v")).as("a"),
      when(lo, col("v")).otherwise(col("u")).as("b"),
      when(lo, col("dv")).otherwise(col("du")).as("db"))
      .localCheckpoint()
    // wedges at apex a: unordered out-neighbor pairs, ranked b1 < b2
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.a") === col("e2.a") &&
          lexLess(col("e1.db"), col("e1.b"), col("e2.db"), col("e2.b")))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    // closing join: the wedge side is O(m^1.5) ROWS — the plan's dominant
    // exchange — while the edge side is O(m). Under the budget, broadcast
    // the edges so the wedge set closes map-side and never shuffles; past
    // it, the shuffled equi-join (both at 100 TB: a graph whose edge list
    // alone exceeds executor memory shuffles, everything else shouldn't).
    val closingEdges = oriented.select(col("a").as("y"), col("b").as("z"))
    val tri = wedges.join(
      if (m <= broadcastEdgeLimit) broadcast(closingEdges) else closingEdges,
      Seq("y", "z"))
    val corners = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("triangles"))
    deg.join(corners, Seq("n"), "left")
      .select(col("n").as("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2L,
          (coalesce(col("triangles"), lit(0L)) * 2L).cast("double")
            / (col("degree") * (col("degree") - 1L))).as("coeff"))
  }
}
