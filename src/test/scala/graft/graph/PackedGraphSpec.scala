package graft.graph

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** The packed graph format the graph kernels share: the CSR build against
  * a sequential reference past its thread split, the dictionary, the
  * guarded collect's refusals and the output frame. */
class PackedGraphSpec extends SparkSpecBase {
  import spark.implicits._

  /** Sequential reference of [[PackedGraph.buildCsr]]: sorted distinct
    * endpoints (+ extra), in-edges grouped by dense dst in flat input
    * order. */
  private def reference(chunks: Array[Array[Long]], stride: Int, extra: Option[Long]) = {
    val recs = chunks.flatMap(_.grouped(stride))
    val nodes = (recs.flatMap(r => Seq(r(0), r(1))) ++ extra).distinct.sorted
    val dense = nodes.zipWithIndex.toMap
    val byDst = recs.groupBy(r => dense(r(1)))
    val inOff = new Array[Int](nodes.length + 1)
    val inSrc = Array.newBuilder[Int]
    val inW = Array.newBuilder[Long]
    for (v <- nodes.indices) {
      val in = byDst.getOrElse(v, Array.empty[Array[Long]])
      inOff(v + 1) = inOff(v) + in.length
      in.foreach { r => inSrc += dense(r(0)); if (stride > 2) inW += r(2) }
    }
    (nodes, inOff, inSrc.result(), inW.result())
  }

  test("buildCsr equals the sequential reference past its 65,536-edge thread split") {
    // 200k edges over 5k nodes in uneven chunks: parallel edges (the
    // modulus repeats pairs), self-loops every 97th edge, weights
    val m = 200000
    val rnd = new scala.util.Random(7)
    val flat = (0 until m).map { i =>
      val u = rnd.nextInt(5000).toLong * 3
      val v = if (i % 97 == 0) u else rnd.nextInt(5000).toLong * 3
      (u, v, rnd.nextInt(1000).toLong)
    }
    assert(flat.distinct.size < m, "fixture must hold parallel edges")
    val cuts = Seq(0, 1, 70000, 70001, 150000, m)
    for (stride <- Seq(2, 3); extra <- Seq(None, Some(-1L))) {
      val chunks = cuts.sliding(2).map { case Seq(a, b) =>
        flat.slice(a, b).flatMap { case (u, v, w) =>
          if (stride == 3) Seq(u, v, w) else Seq(u, v) }.toArray
      }.toArray
      val g = PackedGraph.buildCsr(chunks, stride, m, extra)
      val (nodes, inOff, inSrc, inW) = reference(chunks, stride, extra)
      assert(g.nodes.sameElements(nodes), s"nodes stride=$stride extra=$extra")
      assert(g.inOff.sameElements(inOff), s"inOff stride=$stride extra=$extra")
      assert(g.inSrc.sameElements(inSrc), s"inSrc stride=$stride extra=$extra")
      if (stride == 3) assert(g.inW.sameElements(inW), s"inW extra=$extra")
      else assert(g.inW == null)
    }
  }

  test("the dictionary sorts and dedups, with the extra node") {
    val chunks = Array(Array(5L, 1L, 9L, 5L, 1L, 1L), Array(3L, 9L))
    assert(PackedGraph.dictionary(chunks, 2, Some(42L)).toSeq == Seq(1L, 3L, 5L, 9L, 42L))
    assert(PackedGraph.dictionary(chunks, 1, None).toSeq == Seq(1L, 3L, 5L, 9L))
  }

  test("guarded collect: packs every row under the cap, refuses past it, past the session and on nulls") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 3L)).toDF("u", "v").repartition(3)
    val got = PackedGraph.collect(e, 4L, 16L, 64L)()
    assert(got.isDefined && got.get._2.getLong(0) == 4L)
    assert(got.get._1.flatMap(_.grouped(2).map(p => (p(0), p(1)))).toSet
      == Set((1L, 2L), (2L, 3L), (3L, 1L), (3L, 3L)))
    assert(PackedGraph.collect(e, 3L, 16L, 64L)().isEmpty, "gate below the row count")
    assert(PackedGraph.collect(e, 4L, 16L, Long.MaxValue / 8)().isEmpty,
      "the session's driver (Budgets.driverRows) below the row count")
    assert(PackedGraph.collect(e, 4L, 16L, 64L)(_.getLong(0) > 4L).isEmpty, "admit")
    val withNull = e.unionByName(Seq((Option(4L), Option.empty[Long])).toDF("u", "v"))
    assert(PackedGraph.collect(withNull, 10L, 16L, 64L)().isEmpty, "null endpoint")
    // array columns pack as [len, elements...], the grouped-kernel records
    val grouped = Seq((1L, Seq(2L, 3L)), (4L, Seq.empty[Long])).toDF("u", "nbrs").coalesce(1)
    val rec = PackedGraph.collect(grouped, 2L, 24L, 96L,
      rows = PackedGraph.Fold.sum(size(col("nbrs"))))().get
    assert(rec._1.flatten.toSeq == Seq(1L, 2L, 2L, 3L, 4L, 0L))
  }

  test("frame keeps node order and type over any slice count") {
    for (n <- Seq(0, 1, 3, 10, 1001)) {
      val nodes = Array.tabulate(n)(i => i * 5L - 7L)
      val values = Array.tabulate(n)(i => (i % 4).toLong)
      val all = PackedGraph.frame(spark, nodes, values, "v")
      assert(all.columns.toSeq == Seq("node", "v"))
      assert(all.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        nodes.toSeq.zip(values.toSeq), s"n = $n")
      val kept = PackedGraph.frame(spark, nodes, values, "v",
        org.apache.spark.sql.types.IntegerType, keep = _ != 3L)
      assert(kept.schema("node").dataType == org.apache.spark.sql.types.IntegerType)
      assert(kept.collect().map(r => (r.getInt(0).toLong, r.getLong(1))).toSeq ==
        nodes.toSeq.zip(values.toSeq).filter(_._2 != 3L), s"n = $n, kept")
    }
  }
}
