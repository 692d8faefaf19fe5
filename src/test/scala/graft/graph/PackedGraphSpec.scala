package graft.graph

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

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

  test("the guarded collect reads its input once and leaves nothing persisted") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    // an admitted collect over an un-checkpointed frame evaluates each row
    // once (a nullable UDF result, so the null count must read it too)
    val evals = sc.longAccumulator("packed-source-rows")
    val counted = udf { (x: Long) => evals.add(1L); java.lang.Long.valueOf(x) }
    val src = spark.range(0, 1000, 1, 4).select(counted(col("id")).as("u"), (col("id") % 7).as("v"))
    val got = PackedGraph.collect(src, 1000L, 16L, 64L)()
    assert(got.exists(_._2.getLong(0) == 1000L) && got.get._1.map(_.length).sum == 2000)
    assert(evals.value == 1000L, s"rows evaluated ${evals.value} times for 1000 rows")
    // the packed chunks are unpersisted on every outcome
    def unchanged(what: String)(body: => Unit): Unit = {
      val before = sc.getPersistentRDDs.keySet
      body
      assert(sc.getPersistentRDDs.keySet == before, what)
    }
    val e = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    unchanged("refused at the gate")(assert(PackedGraph.collect(e, 1L, 16L, 64L)().isEmpty))
    unchanged("a null long")(assert(PackedGraph.collect(
      Seq((Option(1L), Option.empty[Long])).toDF("u", "v"), 10L, 16L, 64L)().isEmpty))
    unchanged("a null array<float>")(assert(PackedGraph.collect(
      Seq((1L, Option(Seq(1f, 2f))), (2L, Option.empty[Seq[Float]])).toDF("u", "vec"),
      10L, 16L, 64L)().isEmpty))
    unchanged("an admit that throws")(intercept[IllegalStateException](
      PackedGraph.collect(e, 10L, 16L, 64L)(_ => throw new IllegalStateException("admit"))))
    unchanged("admitted")(assert(PackedGraph.collect(e, 10L, 16L, 64L)().isDefined))
    // driverCsr: one fold job, then one collect job, no checkpoint job
    // (listener events arrive in order: a marker job seen last closes the
    // window)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add((Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""), j.stageInfos.map(_.name)))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("driver-csr", "driverCsr")
      try assert(PackedGraph.driverCsr(e, 10L, 16L, 64L)().exists(_.n == 3))
      finally sc.clearJobGroup()
      sc.setJobGroup("driver-csr-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.asScala.exists(_._1 == "driver-csr-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      val csrJobs = jobs.asScala.filter(_._1 == "driver-csr").map(_._2).toSeq
      assert(csrJobs.size == 2 && csrJobs(0).forall(_.startsWith("fold at")) &&
        csrJobs(1).forall(_.startsWith("collect at")), s"jobs: $csrJobs")
    } finally sc.removeSparkListener(listener)
  }

  test("packed chunks stay within 32K longs and split between records") {
    val bound = 1 << 15
    // one partition of 40k (u, v) records = 80k longs: three chunks
    val pairs = spark.range(0, 40000, 1, 1).select(col("id").as("u"), (col("id") * 3).as("v"))
    val (chunks, _) = PackedGraph.collect(pairs, Long.MaxValue, 1L, 1L)().get
    val lens = chunks.map(_.length).toSeq
    assert(lens.size == 3 && lens.forall(l => l <= bound && l % 2 == 0), s"chunks $lens")
    val pairsKept = chunks.flatten.grouped(2).zipWithIndex.forall {
      case (r, i) => r(0) == i && r(1) == 3L * i }
    assert(pairsKept, "every (u, v) record, in order")
    // vector records of 1 + 1 + 8 longs: chunks of whole records that
    // unpack to every row in order
    val vecs = spark.range(0, 10000, 1, 1)
      .select(col("id"), array((0 until 16).map(j => (col("id") + j).cast("float")): _*).as("vec"))
    val (vc, _) = PackedGraph.collect(vecs, Long.MaxValue, 1L, 1L)().get
    val vlens = vc.map(_.length).toSeq
    assert(vlens.size == 4 && vlens.forall(l => l <= bound && l % 10 == 0), s"chunks $vlens")
    val (keys, rows) = PackedGraph.unpack(vc, 1)
    val rowsKept = keys(0).toSeq == (0L until 10000L) && rows.zipWithIndex.forall {
      case (v, i) => v.toSeq == (0 until 16).map(j => (i + j).toFloat) }
    assert(rowsKept, "every vector row, in order")
    // a record longer than the bound is a chunk alone
    val big = Seq((1L, Seq.range(0L, 40000L)), (2L, Seq(5L))).toDF("u", "nbrs").coalesce(1)
    val (bc, _) = PackedGraph.collect(big, Long.MaxValue, 1L, 1L)().get
    assert(bc.map(_.length).toSeq == Seq(40002, 3) && bc(1).toSeq == Seq(2L, 1L, 5L))
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
