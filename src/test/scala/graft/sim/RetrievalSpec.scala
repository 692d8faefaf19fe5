package graft.sim

import graft.SparkSpecBase
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.operators.Budgets

/** sim.Retrieval.topKDot — the fused serving primitive: row-parity with
  * the naive crossJoin+window plan, the seen-set contract, the budget
  * fallback seam, and the plan shape (no candidate materialization, and
  * the row-count repartition that defeats AQE's size-based coalescing —
  * the one-core trap of SCALE.md round 11). */
class RetrievalSpec extends SparkSpecBase {
  import spark.implicits._

  // 40 queries x 120 catalog vectors, deterministic; a few ties by
  // construction (vectors repeat every 30 ids)
  private def vec(seed: Long, dim: Int): Seq[Float] =
    (0 until dim).map(i => (((seed * 31 + i * 7) % 13) - 6).toFloat)
  private lazy val queries =
    (1L to 40L).map(q => (q, vec(q, 8))).toDF("q_id", "qv")
  private lazy val catalog =
    (1L to 120L).map(c => (c, vec(c % 30, 8))).toDF("item_id", "cv")
  private lazy val seen =
    (for (q <- 1L to 40L; c <- 1L to 120L if (q + c) % 7 == 0)
      yield (q, c)).toDF("q_id", "item_id")

  private def naive(withSeen: Boolean) = {
    graft.sql.GraftFunctions.register(spark)
    val scored0 = queries.crossJoin(
        catalog.select($"item_id".as("c_id"), $"cv"))
      .select($"q_id", $"c_id",
        graft.sql.GraftFunctions.dotF32($"qv".cast("array<float>"),
          $"cv".cast("array<float>")).as("score"))
    val scored = if (withSeen)
      scored0.join(seen.select($"q_id", $"item_id".as("c_id")),
        Seq("q_id", "c_id"), "left_anti")
    else scored0
    graft.operators.Relational.topKPerGroup(scored, Seq("q_id"),
        Seq($"score".desc, $"c_id".asc), 5)
      .select($"q_id", $"rk".cast("int").as("rk"),
        $"c_id".as("item_id"), $"score")
  }

  test("row-identical to the naive crossJoin+window plan, with and without seen") {
    for (withSeen <- Seq(false, true)) {
      val fused = Retrieval.topKDot(queries, "q_id", "qv",
        catalog, "item_id", "cv", 5,
        seen = if (withSeen) Some(seen) else None).get
      val expected = naive(withSeen)
      assert(fused.exceptAll(expected).isEmpty
        && expected.exceptAll(fused).isEmpty,
        s"fused/naive diverge (withSeen=$withSeen)")
      assert(fused.count() == 40 * 5)
    }
  }

  test("catalog past the float budget returns None (the ANN handoff seam)") {
    assert(Budgets.scoped(_.copy(catalogFloats = 10L))(Retrieval.topKDot(
      queries, "q_id", "qv", catalog, "item_id", "cv", 5)).isEmpty)
    assert(Retrieval.topKDot(queries, "q_id", "qv",
      catalog.filter(lit(false)), "item_id", "cv", 5).isEmpty)
    // a generous Long budget must not overflow the row cap into a refusal
    assert(Budgets.scoped(_.copy(catalogFloats = Long.MaxValue))(Retrieval.topKDot(
      queries, "q_id", "qv", catalog, "item_id", "cv", 5)).nonEmpty)
  }

  test("plan: one fused Generate, no candidate join, and >1 scoring partition") {
    val fused = Retrieval.topKDot(queries, "q_id", "qv",
      catalog, "item_id", "cv", 3, seen = Some(seen)).get
    val physical = fused.queryExecution.executedPlan.toString
    assert(physical.contains("graft_topk_dot_f32"),
      "fused kernel missing from the physical plan")
    assert(!physical.contains("BroadcastNestedLoopJoin"),
      "candidate crossJoin leaked into the fused plan")
    // the row-count repartition must survive planning: with AQE's
    // size-based coalescing a ~KB query frame would fold to 1 partition
    // and run the whole scoring loop on one core
    assert(fused.rdd.getNumPartitions > 1,
      s"scoring stage collapsed to ${fused.rdd.getNumPartitions} partition(s)")
  }

  test("null catalog ids / vectors are filtered, not NPE'd (round-12 advice)") {
    val dirty = catalog.select($"item_id", $"cv")
      .unionByName(catalog.limit(1)
        .select(lit(200L).as("item_id"),
          lit(null).cast("array<float>").as("cv")))
      .unionByName(catalog.limit(1)
        .select(lit(null).cast("long").as("item_id"), $"cv"))
    val fused = Retrieval.topKDot(queries, "q_id", "qv",
      dirty, "item_id", "cv", 5).get
    val clean = Retrieval.topKDot(queries, "q_id", "qv",
      catalog, "item_id", "cv", 5).get
    assert(fused.exceptAll(clean).isEmpty && clean.exceptAll(fused).isEmpty,
      "null catalog rows changed the result instead of being dropped")
  }

  test("CatalogCache collects once per model generation and re-collects on hot-swap") {
    val gen1 = catalog
    val gen2 = catalog.limit(60)
    var current = gen1
    val cache = new Retrieval.CatalogCache(() => current, "item_id", "cv")
    val b1 = cache.get().get
    val b2 = cache.get().get
    val b3 = cache.get().get
    assert(cache.collects == 1, s"stable model re-collected (${cache.collects})")
    assert((b1 eq b2) && (b2 eq b3), "stable model handed out a new broadcast")
    current = gen2 // hot-swap: the supplier returns a NEW frame
    val b4 = cache.get().get
    assert(cache.collects == 2, "hot-swap did not re-collect")
    assert(!(b4 eq b1) && b4.value.n == 60)
  }

  // --- the ANN-served leg (round-11 verdict task 2) --------------------

  private def centroidsFor(nlist: Int) =
    Ivf.fitCentroids(catalog, "item_id", "cv", nlist, iters = 2)

  test("CellCatalogCache publishes once per index generation; None past budget") {
    val cents = centroidsFor(4)
    val gen1 = Retrieval.annIndex(catalog, "item_id", "cv", cents)
    val gen2 = Retrieval.annIndex(catalog.limit(60), "item_id", "cv", cents)
    var current = gen1
    val cache = new Retrieval.CellCatalogCache(() => current, "item_id",
      "cv", () => cents)
    val b1 = cache.get().get
    val b2 = cache.get().get
    assert(cache.collects == 1 && (b1 eq b2),
      s"stable index re-published (${cache.collects})")
    current = gen2
    val b3 = cache.get().get
    assert(cache.collects == 2 && !(b3 eq b1) && b3.value.ids.length == 60)
    // a generation past the budget parks the cache at None (the stream
    // falls back to the join plan) without re-collecting per call
    // past budget; the budget is read when the cache is built
    val tiny = Budgets.scoped(_.copy(cellCatalogFloats = 10L))(
      new Retrieval.CellCatalogCache(() => gen1, "item_id", "cv", () => cents))
    assert(tiny.get().isEmpty && tiny.get().isEmpty && tiny.collects == 1)
  }

  test("fused IVF kernel reads a NULL seen element as no item, never as item 0") {
    // a catalog that holds id 0, one cell; a seen array of one NULL
    val ids = (0L until 6L).toArray
    val bc = spark.sparkContext.broadcast(graft.sql.TopKDotIvfF32.group(ids,
      ids.map(_ => 0L), ids.map(vec(_, 8).toArray), Array(Array.fill(8)(0f))))
    val served = queries.limit(1)
      .select(posexplode(graft.sql.TopKDotIvfF32.fused(col("qv").cast("array<float>"),
        array(lit(null).cast("long")), bc, k = 6, nprobe = 1)))
      .select(col("col.item_id")).as[Long].collect().toSet
    assert(served == (0L until 6L).toSet, s"item 0 must be served: $served")
  }

  test("fused IVF kernel is row-identical to the join plan, with plan shapes pinned") {
    val cents = centroidsFor(6)
    val index = Retrieval.annIndex(catalog, "item_id", "cv", cents)
    for (sn <- Seq(None, Some(seen)); np <- Seq(2, 6)) {
      val fused = Retrieval.topKAnn(queries, "q_id", "qv", index, "item_id",
        "cv", cents, k = 4, nprobe = np, seen = sn)
      val joined = Budgets.scoped(_.copy(cellCatalogFloats = 0L))(
        Retrieval.topKAnn(queries, "q_id", "qv", index, "item_id",
          "cv", cents, k = 4, nprobe = np, seen = sn))
      assert(fused.exceptAll(joined).isEmpty && joined.exceptAll(fused).isEmpty,
        s"fused/join ANN plans diverge (seen=${sn.isDefined}, nprobe=$np)")
    }
    val fusedPlan = Retrieval.topKAnn(queries, "q_id", "qv", index, "item_id",
        "cv", cents, k = 4, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(fusedPlan.contains("graft_topk_dot_ivf_f32"),
      s"fused IVF kernel missing:\n$fusedPlan")
    assert(!fusedPlan.contains("BroadcastHashJoin") || !fusedPlan.contains("cid"),
      s"candidate cid join leaked into the fused plan:\n$fusedPlan")
    val joinPlan = Budgets.scoped(_.copy(cellCatalogFloats = 0L))(
        Retrieval.topKAnn(queries, "q_id", "qv", index, "item_id",
          "cv", cents, k = 4, nprobe = 2))
      .queryExecution.executedPlan.toString
    assert(!joinPlan.contains("graft_topk_dot_ivf_f32")
      && joinPlan.contains("graft_topk"),
      s"expected the probe-join + heap plan past the budget:\n$joinPlan")
  }

  test("topKAnn with nprobe = nlist reproduces the dense kernel's rows exactly") {
    val cents = centroidsFor(4)
    val index = Retrieval.annIndex(catalog, "item_id", "cv", cents)
    val ann = Retrieval.topKAnn(queries, "q_id", "qv", index, "item_id",
      "cv", cents, k = 5, nprobe = 4, seen = Some(seen))
    val dense = Retrieval.topKDot(queries, "q_id", "qv",
      catalog, "item_id", "cv", 5, seen = Some(seen)).get
    assert(ann.exceptAll(dense).isEmpty && dense.exceptAll(ann).isEmpty,
      "full-probe ANN diverged from the exact kernel")
  }

  test("topKAnn at nprobe < nlist holds a recall floor vs the exact kernel") {
    val cents = centroidsFor(8)
    val index = Retrieval.annIndex(catalog, "item_id", "cv", cents)
    val ann = Retrieval.topKAnn(queries, "q_id", "qv", index, "item_id",
        "cv", cents, k = 5, nprobe = 4)
      .select($"q_id", $"item_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = Retrieval.topKDot(queries, "q_id", "qv",
        catalog, "item_id", "cv", 5).get
      .select($"q_id", $"item_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recalls = exact.map { case (q, ids) =>
      ids.intersect(ann.getOrElse(q, Set.empty)).size.toDouble / ids.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, f"recall@5 vs exact = $mean%.2f < 0.5 at nprobe=nlist/2")
  }

  test("topKAnnPq reranks exactly: returned scores equal full-width dots") {
    val model = IvfPq.fit(catalog, "item_id", "cv", nlist = 4, m = 4, k = 16,
      iters = 2)
    val encoded = IvfPq.index(catalog, "item_id", "cv", model)
    val out = Retrieval.topKAnnPq(queries, "q_id", "qv", encoded, "item_id",
      model, catalog, "cv", k = 3, nprobe = 4, overfetch = 4,
      seen = Some(seen))
    // every returned score must be the EXACT dot of the full-width pair —
    // quantization may pick the longlist but never the emitted score
    graft.sql.GraftFunctions.register(spark)
    val joined = out
      .join(queries.select($"q_id", $"qv"), Seq("q_id"))
      .join(catalog.select($"item_id", $"cv"), Seq("item_id"))
      .select($"score",
        graft.sql.GraftFunctions.dotF32($"qv".cast("array<float>"),
          $"cv".cast("array<float>")).as("exact"))
      .collect()
    assert(joined.nonEmpty && joined.forall(r => r.getDouble(0) == r.getDouble(1)),
      "an ADC score leaked into the reranked output")
    // seen exclusion holds through the coded path
    val viol = out.join(seen, Seq("q_id", "item_id"), "left_semi").count()
    assert(viol == 0, s"$viol seen pairs in the ANN output")
    // and the reranked set holds a recall floor vs exact
    val annSets = out.select($"q_id", $"item_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = Retrieval.topKDot(queries, "q_id", "qv",
        catalog, "item_id", "cv", 3, seen = Some(seen)).get
      .select($"q_id", $"item_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recalls = exact.map { case (q, ids) =>
      ids.intersect(annSets.getOrElse(q, Set.empty)).size.toDouble / ids.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, f"IVFADC recall@3 vs exact = $mean%.2f < 0.5")
  }

  // --- the guarded packed collect of both catalogs ---------------------

  test("ragged catalogs take the unfused plans: no fused kernel truncates a vector") {
    // the first row has 2 floats and id 3 has 3: DotF32 scores (1, 3) over
    // all 3 (5.0, ranked first); a kernel of width 2 would score it 1.0
    val ragged = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(0.5f, 0.5f, 4f)))
      .toDF("item_id", "cv")
    val q = Seq((1L, Seq(1f, 1f, 1f))).toDF("q_id", "qv")
    graft.sql.GraftFunctions.register(spark)
    val unfused = graft.operators.Relational.topKPerGroup(q.crossJoin(ragged)
          .select($"q_id", $"item_id", graft.sql.GraftFunctions.dotF32(
            $"qv".cast("array<float>"), $"cv".cast("array<float>")).as("score")),
        Seq("q_id"), Seq($"score".desc, $"item_id".asc), 2)
      .select($"q_id", $"rk".cast("int").as("rk"), $"item_id", $"score")
    assert(unfused.orderBy("rk").select("item_id").as[Long].collect().toSeq == Seq(3L, 1L))
    val dense = Retrieval.topKDot(q, "q_id", "qv", ragged, "item_id", "cv", 2)
    assert(dense.forall(f => f.exceptAll(unfused).isEmpty && unfused.exceptAll(f).isEmpty),
      s"the fused kernel ranked a truncated vector: ${dense.map(_.collect().toSeq)}")
    assert(dense.isEmpty, "a ragged catalog must be refused (the caller falls back)")
    // the IVF kernel against 2-float centroids: the same rule, and one
    // length that is not the centroids' is refused too
    val cents = Array(Array(1f, 0f), Array(0f, 1f))
    val index = Retrieval.annIndex(ragged, "item_id", "cv", cents)
    val ann = Retrieval.topKAnn(q, "q_id", "qv", index, "item_id", "cv", cents, k = 2, nprobe = 2)
    val joined = Budgets.scoped(_.copy(cellCatalogFloats = 0L))(Retrieval.topKAnn(
      q, "q_id", "qv", index, "item_id", "cv", cents, k = 2, nprobe = 2))
    assert(ann.exceptAll(joined).isEmpty && joined.exceptAll(ann).isEmpty,
      s"the fused IVF kernel ranked a truncated vector: ${ann.collect().toSeq}")
    assert(Retrieval.publishCellCatalog(index, "item_id", "cv", cents).isEmpty)
    val wide = Retrieval.annIndex(ragged.filter($"item_id" === 3L), "item_id", "cv", cents)
    assert(Retrieval.publishCellCatalog(wide, "item_id", "cv", cents).isEmpty,
      "vectors of one length other than the centroids' must be refused")
  }

  test("a catalog past its float budget is refused after the probe alone") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val cents = centroidsFor(4)
    val index = Retrieval.annIndex(catalog, "item_id", "cv", cents).localCheckpoint()
    // (job group, the job's stage names)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""), e.stageInfos.map(_.name)))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      // one row of 8 floats fits 10 floats, the catalog's 120 do not
      sc.setJobGroup("past-budget", "past-budget catalogs")
      try Budgets.scoped(_.copy(catalogFloats = 10L, cellCatalogFloats = 10L)) {
        assert(Retrieval.publishCatalog(catalog, "item_id", "cv").isEmpty)
        assert(Retrieval.publishCellCatalog(index, "item_id", "cv", cents).isEmpty)
      } finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job is seen, every
      // job of the two refusals has been seen too
      sc.setJobGroup("past-budget-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.asScala.exists(_._1 == "past-budget-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      val refusals = jobs.asScala.filter(_._1 == "past-budget").map(_._2).toSeq
      assert(refusals.nonEmpty, "the probes ran no job")
      assert(refusals.flatten.forall(!_.startsWith("collect at")),
        s"a refused catalog ran a collect job: $refusals")
    } finally sc.removeSparkListener(listener)
  }

  /** The boxed-row form both catalogs were collected with before the
    * packed transfer: a `Row` per catalog row, its vector decoded through
    * `getSeq[Float]`. */
  private def boxedRows(frame: DataFrame, cols: Column*): Array[Row] =
    frame.select(cols: _*).filter(cols.map(_.isNotNull).reduce(_ && _)).collect()

  /** `TopKDotIvfF32.group` as it was over boxed (id, cid, vec) rows. */
  private def boxedGroup(rows: Array[(Long, Int, Array[Float])],
      centroids: Array[Array[Float]]): graft.sql.TopKDotIvfF32.CellCatalog = {
    val nlist = centroids.length
    val dim = centroids(0).length
    val valid = rows.filter(r => r._2 >= 0 && r._2 < nlist).sortBy(r => (r._2, r._1))
    val offsets = new Array[Int](nlist + 1)
    val flat = new Array[Float](valid.length * dim)
    valid.zipWithIndex.foreach { case ((_, cid, v), i) =>
      System.arraycopy(v, 0, flat, i * dim, math.min(v.length, dim))
      offsets(cid + 1) += 1
    }
    (0 until nlist).foreach(c => offsets(c + 1) += offsets(c))
    val centFlat = centroids.flatMap(_.take(dim).padTo(dim, 0f))
    val centNorm2 = centroids.map(_.take(dim).map(x => x.toDouble * x.toDouble).sum)
    new graft.sql.TopKDotIvfF32.CellCatalog(offsets, valid.map(_._1), flat, centFlat,
      centNorm2, dim)
  }

  private def floatBits(a: Array[Float]) = a.map(java.lang.Float.floatToRawIntBits).toSeq
  private def doubleBits(a: Array[Double]) =
    Option(a).map(_.map(java.lang.Double.doubleToRawLongBits).toSeq)

  test("published catalogs are bit-identical to the boxed-row form") {
    // an odd length with signed zeros, a NaN, infinities and subnormals,
    // over several partitions, and rows with a null id or vector
    val odd = spark.createDataset((1L to 50L).map(c => (c, Seq(-0f, c.toFloat / 3,
        Float.MinPositiveValue, if (c % 7 == 0) Float.NaN else -c.toFloat,
        if (c % 5 == 0) Float.PositiveInfinity else 1e-40f)))).toDF("item_id", "cv")
      .repartition(3)
      .unionByName(Seq((51L, Option.empty[Seq[Float]])).toDF("item_id", "cv"))
    for ((frame, cosine) <- Seq((catalog, false), (catalog, true), (odd, false), (odd, true))) {
      val got = Retrieval.publishCatalog(frame, "item_id", "cv", cosine).get.value
      val rows = boxedRows(frame, $"item_id".cast("long"), $"cv".cast("array<float>"))
      val want = graft.sql.TopKDotF32.flatten(rows.map(_.getLong(0)),
        rows.map(_.getSeq[Float](1).toArray), cosine)
      assert(got.ids.toSeq == want.ids.toSeq && got.dim == want.dim)
      assert(floatBits(got.flat) == floatBits(want.flat), s"flat floats (cosine=$cosine)")
      assert(doubleBits(got.norms) == doubleBits(want.norms), s"norms (cosine=$cosine)")
    }
    for ((frame, cents) <- Seq((catalog, centroidsFor(4)),
        (odd, Array.tabulate(3, 5)((i, j) => (i + j).toFloat)))) {
      val index = Retrieval.annIndex(frame, "item_id", "cv", cents)
      val got = Retrieval.publishCellCatalog(index, "item_id", "cv", cents).get.value
      val want = boxedGroup(boxedRows(index, $"item_id".cast("long"), $"cid".cast("int"),
          $"cv".cast("array<float>")).map(r => (r.getLong(0), r.getInt(1),
          r.getSeq[Float](2).toArray)), cents)
      assert(got.ids.toSeq == want.ids.toSeq && got.offsets.toSeq == want.offsets.toSeq)
      assert(floatBits(got.flat) == floatBits(want.flat) && got.dim == want.dim)
      assert(floatBits(got.centFlat) == floatBits(want.centFlat))
      assert(doubleBits(got.centNorm2) == doubleBits(want.centNorm2))
    }
  }
}
