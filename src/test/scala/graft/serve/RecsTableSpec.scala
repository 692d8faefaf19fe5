package graft.serve

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import graft.operators.Budgets
import org.apache.spark.sql.{DataFrame, Row}

/** In-memory KV store standing in for the DynamoDB batch writer — static so
  * local-mode executor threads and the test share it. */
object InMemoryKv {
  val store = new ConcurrentHashMap[String, String]()
  def putBatch(it: Iterator[(String, String)]): Unit =
    it.foreach { case (k, v) => store.put(k, v) }
}

/** Puts recorded per micro-batch, under the batch number set before it is
  * added. */
object BatchKv {
  @volatile var batch: Int = -1
  val puts = new ConcurrentHashMap[Int, ConcurrentHashMap[String, String]]()
  def put(it: Iterator[(String, String)]): Unit = {
    val m = puts.computeIfAbsent(batch, _ => new ConcurrentHashMap[String, String]())
    it.foreach { case (k, v) => m.put(k, v) }
  }
}

class RecsTableSpec extends SparkSpecBase {
  import spark.implicits._

  private def recs = Seq(
    (1L, 1, 101L), (1L, 2, 102L), (2L, 1, 201L)).toDF("user_id", "rk", "item_id")
  private def targets = Seq((1L, 999L)).toDF("user_id", "item_id")

  test("assemble produces the serving contract incl. the no_user fallback") {
    val out = RecsTable.assemble(recs, targets, Seq("7", "8"))
    val rows = out.collect().map(r =>
      r.getString(0) -> ((r.getSeq[String](1).toList, Option(r.getString(2))))).toMap
    assert(rows.keySet == Set("1", "2", "no_user"))
    assert(rows("1") == (List("101", "102"), Some("999")))
    assert(rows("2") == (List("201"), None))
    assert(rows("no_user") == (List("7", "8"), None))
  }

  test("kvSink streams the handler.py contract: key -> JSON array payload") {
    InMemoryKv.store.clear()
    val table = RecsTable.assemble(recs, targets, Seq("7", "8"))
    RecsTable.kvSink(table, InMemoryKv.putBatch)
    assert(InMemoryKv.store.size() == 3)
    assert(InMemoryKv.store.get("1") == """["101","102"]""")
    assert(InMemoryKv.store.get("no_user") == """["7","8"]""")
  }

  test("streamRefresh recomputes KV entries only for users with new activity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    InMemoryKv.store.clear()

    // history: u1 touched {1,2}, u2 touched {3}; neighbor model from a
    // separate co-occurrence corpus where 1~2, 2~4, 3~4 co-occur
    val history = Seq((1L, 1L), (1L, 2L), (2L, 3L)).toDF("user_id", "item_id")
    val corpus = Seq((10L, 1L), (10L, 2L), (11L, 2L), (11L, 4L), (12L, 3L), (12L, 4L))
      .toDF("user_id", "item_id")
    val neighbors = graft.rank.Cooccur.itemNeighbors(corpus, maxNeighbors = 5)

    val in = MemoryStream[(Long, Long)]
    val logDir = java.nio.file.Files.createTempDirectory("graft_streamlog").toString
    val q = RecsTable.streamRefresh(
      in.toDF().toDF("user_id", "item_id"), history, neighbors, k = 3,
      InMemoryKv.putBatch, s"$logDir/log")
    try {
      in.addData((1L, 4L)) // u1 interacts with item 4
      q.processAllAvailable()
      assert(InMemoryKv.store.containsKey("1"), "active user refreshed")
      assert(!InMemoryKv.store.containsKey("2"), "inactive user NOT recomputed")
      // parity with the batch path on the same merged history
      val merged = history.filter($"user_id" === 1L)
        .union(Seq((1L, 4L)).toDF("user_id", "item_id"))
      val expected = graft.rank.Cooccur.recommend(merged, neighbors, 3)
        .filter($"user_id" === 1L).orderBy($"rk")
        .select($"item_id".cast("string")).as[String].collect().toList
      assert(InMemoryKv.store.get("1") == expected.mkString("[\"", "\",\"", "\"]"),
        s"payload ${InMemoryKv.store.get("1")} vs $expected")

      in.addData((2L, 4L), (1L, 2L)) // u2 becomes active; u1 re-touches item 2
      q.processAllAvailable()
      assert(InMemoryKv.store.containsKey("2"), "second batch refreshes u2")
      // cross-batch memory: u1's batch-1 item 4 must STILL be excluded even
      // though this batch only carried (1, 2) — the stream log remembers
      val u1 = InMemoryKv.store.get("1")
      assert(!u1.contains("\"4\""), s"batch-1 seen item recommended again: $u1")
      assert(u1.contains("\"3\""), s"the one unseen item should be recommended: $u1")
    } finally q.stop()
  }

  test("streamDenseRefresh serves the fused kernel per batch with cross-batch seen memory") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    InMemoryKv.store.clear()

    // items 1..4 near-one-hot; u1 prefers dims in order 1>2>3>4, u2 the
    // reverse — so unseen ranking is fully determined and tie-free
    val itemVecs = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)),
      (3L, Seq(0f, 0f, 1f, 0f)), (4L, Seq(0f, 0f, 0f, 1f)))
      .toDF("item_id", "vec")
    val userVecs = Seq(
      (1L, Seq(0.9f, 0.7f, 0.5f, 0.3f)),
      (2L, Seq(0.3f, 0.5f, 0.7f, 0.9f)))
      .toDF("user_id", "vec")
    val history = Seq((1L, 1L)).toDF("user_id", "item_id") // u1 already saw 1

    val in = MemoryStream[(Long, Long)]
    val logDir = java.nio.file.Files.createTempDirectory("graft_denselog").toString
    val q = RecsTable.streamDenseRefresh(
      in.toDF().toDF("user_id", "item_id"), history, userVecs, itemVecs,
      k = 2, InMemoryKv.putBatch, s"$logDir/log")
    try {
      in.addData((1L, 4L)) // u1 interacts with item 4
      q.processAllAvailable()
      assert(InMemoryKv.store.containsKey("1"), "active user refreshed")
      assert(!InMemoryKv.store.containsKey("2"), "inactive user NOT recomputed")
      // u1's unseen = {2, 3}, ranked by preference: [2, 3]
      assert(InMemoryKv.store.get("1") == "[\"2\",\"3\"]",
        s"payload ${InMemoryKv.store.get("1")}")

      in.addData((2L, 4L), (1L, 2L)) // u2 activates; u1 touches 2
      q.processAllAvailable()
      // u2's unseen = {1, 2, 3}, reverse preference: [3, 2]
      assert(InMemoryKv.store.get("2") == "[\"3\",\"2\"]",
        s"payload ${InMemoryKv.store.get("2")}")
      // cross-batch memory: u1's batch-1 item 4 and base-history item 1
      // stay excluded even though this batch only carried (1, 2)
      assert(InMemoryKv.store.get("1") == "[\"3\"]",
        s"payload ${InMemoryKv.store.get("1")}")
    } finally q.stop()
  }

  test("streamDenseRefresh collects the catalog once per model generation (round-12)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    InMemoryKv.store.clear()
    val itemVecsA = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(0.5f, 0.5f)))
      .toDF("item_id", "vec")
    // hot-swap generation: item 3 re-embedded to dominate dim 1
    val itemVecsB = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(2f, 0f)))
      .toDF("item_id", "vec")
    val userVecs = Seq((1L, Seq(1f, 0.1f))).toDF("user_id", "vec")
    val history = Seq((9L, 1L)).toDF("user_id", "item_id")
    @volatile var current = itemVecsA
    val cache = new graft.sim.Retrieval.CatalogCache(() => current,
      "item_id", "vec")
    val in = MemoryStream[(Long, Long)]
    val logDir = java.nio.file.Files.createTempDirectory("graft_cachelog").toString
    val q = RecsTable.streamDenseRefresh(
      in.toDF().toDF("user_id", "item_id"), history, () => userVecs, cache,
      k = 1, InMemoryKv.putBatch, s"$logDir/log")
    try {
      in.addData((1L, 99L)); q.processAllAvailable()
      in.addData((1L, 98L)); q.processAllAvailable()
      in.addData((1L, 97L)); q.processAllAvailable()
      assert(cache.collects == 1,
        s"stable model collected ${cache.collects}x over 3 batches")
      assert(InMemoryKv.store.get("1") == "[\"1\"]",
        s"payload ${InMemoryKv.store.get("1")}")
      current = itemVecsB // hot-swap: next batch must re-collect and re-rank
      in.addData((1L, 96L)); q.processAllAvailable()
      assert(cache.collects == 2, "hot-swap did not re-collect")
      assert(InMemoryKv.store.get("1") == "[\"3\"]",
        s"payload after swap ${InMemoryKv.store.get("1")}")
    } finally q.stop()
  }

  test("micro-batch plan: one grouping of log and batch, frame joined in place") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectSet
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, RepartitionOperation, Union}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    val base = java.nio.file.Files.createTempDirectory("graft_planshape")
    val histDir = base.resolve("history").toString
    val logDir = base.resolve("log").toString
    Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("user_id", "item_id").write.parquet(histDir)
    // the log as the query reads it: earlier batches, then this batch
    Seq((1L, 4L), (4L, 2L), (1L, 3L), (4L, 1L)).toDF("user_id", "item_id")
      .write.parquet(logDir)
    val itemVecs = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(0.5f, 0.5f)), (4L, Seq(0.2f, 0.9f)))
      .toDF("item_id", "vec")
    val userVecs = Seq((1L, Seq(1f, 0.1f)), (4L, Seq(0.1f, 1f))).toDF("user_id", "vec")
    val cents = graft.sim.Ivf.fitCentroids(itemVecs, "item_id", "vec", nlist = 2, iters = 2)
    val index = graft.sim.Retrieval.annIndex(itemVecs, "item_id", "vec", cents).localCheckpoint()
    val batch = Seq((1L, 3L), (4L, 1L)).toDF("user_id", "item_id")
    def paths(p: LogicalPlan): Seq[String] = p.collectLeaves().flatMap {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
      case _ => Nil
    }
    // every (node, ancestors) of a final AQE plan, query stages unwrapped;
    // a cached scan's own plan is not descended into
    def walk(p: SparkPlan, above: List[SparkPlan]): Seq[(SparkPlan, List[SparkPlan])] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case _: InMemoryTableScanExec => Nil
        case other => other.children
      }
      (p, above) +: kids.flatMap(walk(_, p :: above))
    }
    val served = RecsTable.servedUsers(spark.read.parquet(histDir), () => userVecs)
    try {
      val frame = served.get()
      assert(frame.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
      val serves = Seq(
        "dense" -> RecsTable.denseServe(
          new graft.sim.Retrieval.CatalogCache(() => itemVecs, "item_id", "vec"), 2),
        "ann fused" -> RecsTable.annServe(() => index, () => cents, 2, 2),
        "ann join" -> Budgets.scoped(_.copy(cellCatalogFloats = 10L))(
          RecsTable.annServe(() => index, () => cents, 2, 2)))
      for ((name, serve) <- serves) {
        val lists = RecsTable.batchLists(batch, spark.read.parquet(logDir), frame, serve)
        // u1 saw {1 (history), 4 (log), 3 (batch)}, u4 saw {2 (log), 1 (batch)}
        assert(lists.collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap ==
          Map("1" -> Seq("2"), "4" -> Seq("4", "3")), name)
        val plan = lists.queryExecution.optimizedPlan
        // (1) the history relation is never scanned: its seen arrays and
        // the vectors come from the one per-query cached relation
        assert(!paths(plan).exists(_.contains(histDir)), s"$name scans history:\n$plan")
        val cached = plan.collect { case m: InMemoryRelation => m }
        assert(cached.size == 1, s"$name: expected the one served-users relation:\n$plan")
        // (2) the frame is not repartitioned: nothing above it repartitions
        val toCached = plan.collect {
          case r: RepartitionOperation if r.find(_ eq cached.head).isDefined => r
        }
        assert(toCached.isEmpty, s"$name: the served-users frame is repartitioned:\n$plan")
        // (3) exactly one seen aggregation, over the log ∪ the batch
        val seenAggs = plan.collect {
          case a: Aggregate if a.aggregateExpressions.exists(_.exists(_.isInstanceOf[CollectSet])) => a
        }
        assert(seenAggs.size == 1, s"$name: ${seenAggs.size} seen aggregations:\n$plan")
        val unions = seenAggs.head.collect { case u: Union => u }
        assert(unions.size == 1 && unions.head.children.size == 2 &&
          unions.head.children.count(c => paths(c).exists(_.contains(logDir))) == 1 &&
          unions.head.children.count(c => paths(c).isEmpty) == 1,
          s"$name: the seen aggregation is not over log ∪ batch:\n$plan")
        // (4) in the executed plan the frame's scan sits under no exchange
        val scans = walk(lists.queryExecution.executedPlan, Nil).collect {
          case (s: InMemoryTableScanExec, above) => above
        }
        assert(scans.size == 1, s"$name: ${scans.size} cached scans")
        assert(!scans.head.exists(p => p.isInstanceOf[ShuffleExchangeLike] ||
          p.isInstanceOf[BroadcastExchangeLike]),
          s"$name: the served-users frame moves:\n${lists.queryExecution.executedPlan}")
      }
    } finally served.clear()
  }

  test("streaming serves put what the batch forms give on history plus log") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(11)
    val itemVecs = (1L to 12L).map(i => (i, Seq.fill(4)(rng.nextFloat() - 0.5f)))
      .toDF("item_id", "vec")
    // user 99 streams but has no vector
    val userVecs = (1L to 6L).map(u => (u, Seq.fill(4)(rng.nextFloat() - 0.5f)))
      .toDF("user_id", "vec")
    // user 5 has already seen the whole catalog
    val history = (Seq((1L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (3L, 5L), (6L, 7L)) ++
      (1L to 12L).map(i => (5L, i))).toDF("user_id", "item_id")
    val batches = Seq(
      Seq((1L, 3L), (1L, 3L), (2L, 4L), (99L, 1L), (5L, 2L), (4L, 8L)),
      Seq((1L, 3L), (3L, 9L), (2L, 5L), (6L, 1L)),
      Seq((1L, 10L), (4L, 8L), (5L, 1L), (2L, 11L), (99L, 2L)),
      Seq((1L, 11L), (1L, 12L), (3L, 1L), (6L, 7L)))
    val k = 4
    val model = graft.rank.TwoTower.Model(userVecs, itemVecs,
      graft.rank.TwoTower.Config(embDim = 4))
    val cents = graft.sim.Ivf.fitCentroids(itemVecs, "item_id", "vec", nlist = 3, iters = 3)
    val index = graft.sim.Retrieval.annIndex(itemVecs, "item_id", "vec", cents)
      .localCheckpoint()
    def lists(recs: org.apache.spark.sql.DataFrame): Map[String, String] = recs
      .groupBy($"user_id")
      .agg(to_json(transform(sort_array(collect_list(struct($"rk",
        $"item_id".cast("string").as("i")))), x => x.getField("i"))).as("p"))
      .collect().map(r => r.get(0).toString -> r.getString(1)).toMap
    type Serve = (org.apache.spark.sql.DataFrame, String) =>
      org.apache.spark.sql.streaming.StreamingQuery
    type Batch = (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =>
      org.apache.spark.sql.DataFrame
    val forms: Seq[(String, Serve, Batch)] = Seq(
      ("dense",
        (s, dir) => RecsTable.streamDenseRefresh(s, history, userVecs, itemVecs, k,
          BatchKv.put, dir),
        (active, seen) => graft.rank.TwoTower.recommend(model, active, k,
          excludeSeen = Some(seen))),
      ("ann fused",
        (s, dir) => RecsTable.streamAnnRefresh(s, history, () => userVecs, () => index,
          () => cents, k, 2, BatchKv.put, dir),
        (active, seen) => graft.sim.Retrieval.topKAnn(active.join(userVecs, Seq("user_id")),
          "user_id", "vec", index, "item_id", "vec", cents, k, 2, seen = Some(seen))),
      ("ann join",
        (s, dir) => Budgets.scoped(_.copy(cellCatalogFloats = 10L))(
          RecsTable.streamAnnRefresh(s, history, () => userVecs, () => index,
            () => cents, k, 2, BatchKv.put, dir)),
        (active, seen) => Budgets.scoped(_.copy(cellCatalogFloats = 10L))(
          graft.sim.Retrieval.topKAnn(active.join(userVecs, Seq("user_id")),
            "user_id", "vec", index, "item_id", "vec", cents, k, 2, seen = Some(seen)))))
    for ((name, serve, batchForm) <- forms) {
      BatchKv.puts.clear()
      val in = MemoryStream[(Long, Long)]
      val dir = java.nio.file.Files.createTempDirectory("graft_equivlog").toString
      val q = serve(in.toDF().toDF("user_id", "item_id"), s"$dir/log")
      try {
        for ((events, n) <- batches.zipWithIndex) {
          BatchKv.batch = n
          in.addData(events)
          q.processAllAvailable()
          val got = Option(BatchKv.puts.get(n)).map(_.asScala.toMap).getOrElse(Map.empty)
          val seen = history.unionByName(batches.take(n + 1).flatten.toDF("user_id", "item_id"))
          val expected = lists(batchForm(events.map(_._1).distinct.toDF("user_id"), seen))
          assert(got == expected, s"$name batch $n: puts $got vs batch form $expected")
          assert(!got.contains("99"), s"$name batch $n: a user with no vector was put")
          assert(!got.contains("5"),
            s"$name batch $n: a user who has seen the whole catalog was put")
        }
        // the cases the batches carry, each reached the serve
        val p = (0 until batches.size).map(n => BatchKv.puts.get(n).asScala.toMap)
        assert(p(0).contains("1") && !p(0)("1").contains("\"3\""),
          s"$name: a duplicated pair within a batch is seen: ${p(0)}")
        assert(p(1).contains("1") && !p(1)("1").contains("\"3\""),
          s"$name: a repeat of an earlier batch's item is seen: ${p(1)}")
        assert(p(3).contains("6") && !p(3)("6").contains("\"1\"") &&
          !p(3)("6").contains("\"7\""), s"$name: history and log both seen: ${p(3)}")
      } finally q.stop()
    }
  }

  test("streaming serves read history once, release it on stop or failure") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.StreamingQueryException
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    implicit val sqlCtx = spark.sqlContext
    val itemVecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(0.5f, 0.5f)))
      .toDF("item_id", "vec")
    val userVecs = Seq((1L, Seq(1f, 0.1f))).toDF("user_id", "vec")
    val history = Seq((1L, 1L)).toDF("user_id", "item_id")
    val cents = graft.sim.Ivf.fitCentroids(itemVecs, "item_id", "vec", nlist = 2, iters = 2)
    val index = graft.sim.Retrieval.annIndex(itemVecs, "item_id", "vec", cents)
      .localCheckpoint()
    // frames of earlier suites may be cleaned up meanwhile, so follow the
    // ids a query adds rather than the count
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    def releases = spark.streams.listListeners()
      .count(_.isInstanceOf[RecsTable.ReleaseOnTermination])
    // earlier queries' releases run on the listener bus: let them land
    eventually(timeout(Span(30, Seconds))) { assert(releases == 0) }
    val before = persisted
    val refuse: Iterator[(String, String)] => Unit = _ => throw new RuntimeException("put refused")

    // stopped: the dense serve, over a history whose files are deleted
    // once the query has started
    InMemoryKv.store.clear()
    val in = MemoryStream[(Long, Long)]
    val dir = java.nio.file.Files.createTempDirectory("graft_lifelog").toString
    history.write.parquet(s"$dir/history")
    val q = RecsTable.streamDenseRefresh(in.toDF().toDF("user_id", "item_id"),
      spark.read.parquet(s"$dir/history"), userVecs, itemVecs, 2, InMemoryKv.putBatch,
      s"$dir/log")
    val added = persisted -- before
    try {
      assert(added.size == 1, s"the history seen sets are built when the query starts: $added")
      assert(releases == 1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/history"))
      in.addData((1L, 2L)); q.processAllAvailable()
      assert(InMemoryKv.store.get("1") == "[\"3\"]",
        s"history item 1 must stay seen: ${InMemoryKv.store.get("1")}")
      in.addData((1L, 3L)); q.processAllAvailable()
      assert(persisted -- before == added, "batches add no persisted frame")
    } finally q.stop()
    eventually(timeout(Span(30, Seconds))) {
      assert((persisted & added).isEmpty && releases == 0, "released after stop()")
    }

    // failed: the ANN serve, whose put throws
    val before2 = persisted
    val in2 = MemoryStream[(Long, Long)]
    val dir2 = java.nio.file.Files.createTempDirectory("graft_lifelog2").toString
    val q2 = RecsTable.streamAnnRefresh(in2.toDF().toDF("user_id", "item_id"), history,
      () => userVecs, () => index, () => cents, 2, 2, refuse, s"$dir2/log")
    val added2 = persisted -- before2
    try {
      assert(added2.size == 1 && releases == 1, s"$added2")
      in2.addData((1L, 2L))
      intercept[StreamingQueryException](q2.processAllAvailable())
    } finally q2.stop()
    eventually(timeout(Span(30, Seconds))) {
      assert((persisted & added2).isEmpty && releases == 0, "released after the query failed")
    }
  }

  test("user-vector hot-swap rebuilds the served-users frame, frees the old one") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    implicit val sqlCtx = spark.sqlContext
    // items 1..6 one-hot, so each user's ranking is its vector's order
    val itemVecs = (1 to 6).map(i => (i.toLong, Seq.tabulate(6)(d => if (d == i - 1) 1f else 0f)))
      .toDF("item_id", "vec")
    // generation 1: u1 prefers 1>2>3>4>5>6; u3 has history but no vector
    val gen1 = Seq((1L, Seq(0.9f, 0.8f, 0.7f, 0.6f, 0.5f, 0.4f))).toDF("user_id", "vec")
    // generation 2: u1 re-embedded to 1>4>6>5>3>2; u3 gains 2>6>5>4>3>1
    val gen2 = Seq(
      (1L, Seq(1.0f, 0.1f, 0.2f, 0.9f, 0.5f, 0.8f)),
      (3L, Seq(0.1f, 1.0f, 0.2f, 0.3f, 0.4f, 0.5f))).toDF("user_id", "vec")
    val history = Seq((1L, 1L), (3L, 2L)).toDF("user_id", "item_id")
    @volatile var current = gen1
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    BatchKv.puts.clear()
    val in = MemoryStream[(Long, Long)]
    val dir = java.nio.file.Files.createTempDirectory("graft_swaplog").toString
    val q = RecsTable.streamDenseRefresh(in.toDF().toDF("user_id", "item_id"), history,
      () => current, new graft.sim.Retrieval.CatalogCache(() => itemVecs, "item_id", "vec"),
      k = 2, BatchKv.put, s"$dir/log")
    val gen1Frame = persisted -- before
    def puts(n: Int) = Option(BatchKv.puts.get(n)).map(_.asScala.toMap).getOrElse(Map.empty)
    try {
      assert(gen1Frame.size == 1, s"one served-users frame per query: $gen1Frame")
      BatchKv.batch = 0
      in.addData((1L, 4L), (3L, 5L)); q.processAllAvailable()
      // u1 saw {1 (history), 4}; u3 has no vector yet, so no put
      assert(puts(0) == Map("1" -> "[\"2\",\"3\"]"), s"batch 0: ${puts(0)}")

      current = gen2
      BatchKv.batch = 1
      in.addData((3L, 3L)); q.processAllAvailable()
      // u3 is served with its new vector; its history item 2 (its top
      // preference) and its batch-0 item 5 stay seen. u1 was active in
      // batch 0 only: no put
      assert(puts(1) == Map("3" -> "[\"6\",\"4\"]"), s"batch 1: ${puts(1)}")
      val gen2Frame = persisted -- before
      assert(gen2Frame.size == 1 && (gen2Frame & gen1Frame).isEmpty,
        s"the superseded served-users frame is released: $gen1Frame -> $gen2Frame")

      BatchKv.batch = 2
      in.addData((1L, 2L)); q.processAllAvailable()
      // u1 re-ranked by generation 2 over its unseen {3, 5, 6}; its history
      // item 1 and log item 4 (its top two) stay seen
      assert(puts(2) == Map("1" -> "[\"6\",\"5\"]"), s"batch 2: ${puts(2)}")
      assert(persisted -- before == gen2Frame, "a stable generation builds no frame")
    } finally q.stop()
    eventually(timeout(Span(30, Seconds))) {
      assert((persisted -- before).isEmpty, "released after stop()")
    }
  }

  test("streamAnnRefresh serves the recs contract through the IVF index (round-12)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    InMemoryKv.store.clear()
    // same fixture as the dense test so the expected lists match it:
    // with nprobe = nlist the ANN leg is exhaustive
    val itemVecs = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)),
      (3L, Seq(0f, 0f, 1f, 0f)), (4L, Seq(0f, 0f, 0f, 1f)))
      .toDF("item_id", "vec")
    val userVecs = Seq(
      (1L, Seq(0.9f, 0.7f, 0.5f, 0.3f)),
      (2L, Seq(0.3f, 0.5f, 0.7f, 0.9f)))
      .toDF("user_id", "vec")
    val history = Seq((1L, 1L)).toDF("user_id", "item_id")
    val cents = graft.sim.Ivf.fitCentroids(itemVecs, "item_id", "vec",
      nlist = 2, iters = 2)
    val index = graft.sim.Retrieval.annIndex(itemVecs, "item_id", "vec", cents)
      .localCheckpoint()
    // both serving plans end-to-end: the fused cell kernel (default
    // budget) and the past-budget cid-join fallback (budget 10 floats)
    // must produce identical KV state batch for batch; a FRESH
    // MemoryStream per plan (a reused one would replay the first plan's
    // rows as one merged batch)
    for (budget <- Seq(64000000L, 10L)) {
      val in = MemoryStream[(Long, Long)]
      InMemoryKv.store.clear()
      val dir = java.nio.file.Files.createTempDirectory("graft_annlog").toString
      // the budget is read when the query starts
      val q = Budgets.scoped(_.copy(cellCatalogFloats = budget))(RecsTable.streamAnnRefresh(
        in.toDF().toDF("user_id", "item_id"), history, () => userVecs,
        () => index, () => cents, k = 2, nprobe = 2,
        InMemoryKv.putBatch, s"$dir/log"))
      try {
        in.addData((1L, 4L))
        q.processAllAvailable()
        assert(InMemoryKv.store.containsKey("1"), "active user refreshed")
        assert(!InMemoryKv.store.containsKey("2"), "inactive user NOT recomputed")
        assert(InMemoryKv.store.get("1") == "[\"2\",\"3\"]",
          s"payload ${InMemoryKv.store.get("1")} (budget $budget)")
        in.addData((2L, 4L), (1L, 2L))
        q.processAllAvailable()
        assert(InMemoryKv.store.get("2") == "[\"3\",\"2\"]",
          s"payload ${InMemoryKv.store.get("2")} (budget $budget)")
        // cross-batch memory holds through the ANN leg too
        assert(InMemoryKv.store.get("1") == "[\"3\"]",
          s"payload ${InMemoryKv.store.get("1")} (budget $budget)")
      } finally q.stop()
    }
  }

  test("typed streamAnnRefresh artifacts refuse raw-space centroids loudly (round-13 task 6)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // same fixture as the generic ANN test; varied norms make the MIPS
    // augmentation non-degenerate (the pad coordinate is nonzero)
    val itemVecs = Seq(
      (1L, Seq(2f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)),
      (3L, Seq(0f, 0f, 1f, 0f)), (4L, Seq(0f, 0f, 0f, 1f)))
      .toDF("item_id", "vec")
    val userVecs = Seq(
      (1L, Seq(0.9f, 0.7f, 0.5f, 0.3f)),
      (2L, Seq(0.3f, 0.5f, 0.7f, 0.9f)))
      .toDF("user_id", "vec")
    val model = graft.rank.TwoTower.Model(userVecs, itemVecs,
      graft.rank.TwoTower.Config(embDim = 4))
    // a RAW-SPACE quantizer (dim 4, not 5): the exact artifact that served
    // at 0.18 recall through the generic seam — must refuse AT BUILD TIME
    val raw = graft.sim.Ivf.fitCentroids(itemVecs, "item_id", "vec",
      nlist = 2, iters = 2)
    val e = intercept[IllegalArgumentException] {
      graft.rank.TwoTower.annServeArtifacts(model, centroids = Some(raw))
    }
    assert(e.getMessage.contains("MIPS-augmented"),
      s"refusal must name the contract: ${e.getMessage}")
    // the matched constructor carries the pair through the typed overload:
    // user vectors 0-extended by the seam, index+centroids both augmented
    val arts = graft.rank.TwoTower.annServeArtifacts(model, nlist = 2,
      iters = 2)
    assert(arts.augDim == 5)
    assert(arts.index.select(org.apache.spark.sql.functions.size($"vec"))
      .head().getInt(0) == 5, "index rows live in the augmented space")
    val artsCk = arts.copy(index = arts.index.localCheckpoint())
    val history = Seq((1L, 1L)).toDF("user_id", "item_id")
    val in = MemoryStream[(Long, Long)]
    InMemoryKv.store.clear()
    val dir = java.nio.file.Files.createTempDirectory("graft_annlog2").toString
    val q = RecsTable.streamAnnRefresh(
      in.toDF().toDF("user_id", "item_id"), history, () => userVecs,
      () => artsCk, k = 2, nprobe = 2, InMemoryKv.putBatch, s"$dir/log")
    try {
      in.addData((1L, 4L))
      q.processAllAvailable()
      // user 1 has seen {1, 4}; nprobe = nlist = 2 is exhaustive, so the
      // serve is the exact dense ranking over the unseen {2, 3}:
      // dot(u1, i2) = 0.7 > dot(u1, i3) = 0.5
      assert(InMemoryKv.store.get("1") == "[\"2\",\"3\"]",
        s"payload ${InMemoryKv.store.get("1")}")
      // the 0-extended user vectors are one generation across batches:
      // the served-users frame is not rebuilt
      val frames = spark.sparkContext.getPersistentRDDs.keySet
      in.addData((1L, 2L))
      q.processAllAvailable()
      assert((spark.sparkContext.getPersistentRDDs.keySet -- frames).isEmpty,
        "a stable user-vector supplier rebuilt the served-users frame")
      assert(InMemoryKv.store.get("1") == "[\"3\"]", s"payload ${InMemoryKv.store.get("1")}")
    } finally q.stop()
  }

  test("pairedArtifactThunks pins both halves to one generation (round-15, ADVICE r14)") {
    // The r14 wiring passed `() => artifacts().index` and
    // `() => artifacts().centroids` as independent thunks: each
    // generation access invoked the supplier twice, and a supplier that
    // swapped generations between the calls served gen-N index with
    // gen-N+1 centroids. The paired thunks must (a) fetch ONCE per
    // generation access and (b) always serve the centroids of the index
    // generation last served, even against a swapping supplier.
    val itemVecs = Seq(
      (1L, Seq(2f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)))
      .toDF("item_id", "vec")
    val userVecs = Seq((1L, Seq(0.9f, 0.7f, 0.5f, 0.3f)))
      .toDF("user_id", "vec")
    val model = graft.rank.TwoTower.Model(userVecs, itemVecs,
      graft.rank.TwoTower.Config(embDim = 4))
    val artsA = graft.rank.TwoTower.annServeArtifacts(model, nlist = 2,
      iters = 2)
    // a second generation: same content, DISTINCT index/centroid identity
    val artsB = artsA.copy(index = artsA.index.select($"item_id", $"cid",
      $"vec"), centroids = artsA.centroids.map(_.clone()))
    var calls = 0
    // worst case: a non-memoized supplier that swaps generations EVERY call
    val supplier = () => { calls += 1; if (calls % 2 == 1) artsA else artsB }
    val (idx, cents) = RecsTable.pairedArtifactThunks(supplier)
    val i1 = idx()
    assert(calls == 1, "index access fetches exactly once")
    val c1 = cents()
    assert(calls == 1, "centroids access must not re-invoke the supplier")
    assert(i1 eq artsA.index)
    assert(c1 eq artsA.centroids,
      "centroids must belong to the index generation last served — the " +
        "old wiring would have fetched artsB here")
    val i2 = idx()
    val c2 = cents()
    assert(calls == 2 && (i2 eq artsB.index) && (c2 eq artsB.centroids),
      "a new generation takes effect atomically at the next index fetch")
  }

  test("streamTopKServe maintains per-user top-k KV state across micro-batches (round-11)") {
    // round-10 verdict task 7: the StreamingTopKSpec heap composed with
    // the serving contract — cross-batch displacement must reach the KV
    // table, the no_user fallback row must always answer, and only
    // CHANGED users may be re-put per batch (update mode).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    InMemoryKv.store.clear()
    val in = MemoryStream[(Long, Long, Double)]
    val q = RecsTableSpec.streamTopKServe(
      in.toDF().toDF("user_id", "item_id", "score"), k = 2,
      fallback = Seq("7", "8"), InMemoryKv.putBatch)
    try {
      in.addData((1L, 10L, 2.0), (1L, 11L, 5.0), (2L, 20L, 1.0))
      q.processAllAvailable()
      assert(InMemoryKv.store.get("1") == """["11","10"]""")
      assert(InMemoryKv.store.get("2") == """["20"]""")
      assert(InMemoryKv.store.get("no_user") == """["7","8"]""",
        "the fallback row must be present from the first batch")

      // batch 2 touches ONLY user 1: its score 9.0 displaces the batch-1
      // survivor 2.0 without any history recompute; user 2's entry is
      // untouched (update mode emits changed groups only — stale value
      // proves no rewrite happened)
      InMemoryKv.store.put("2", "SENTINEL")
      in.addData((1L, 12L, 9.0))
      q.processAllAvailable()
      assert(InMemoryKv.store.get("1") == """["12","11"]""",
        s"cross-batch displacement failed: ${InMemoryKv.store.get("1")}")
      assert(InMemoryKv.store.get("2") == "SENTINEL",
        "an unchanged user was re-put — update mode contract broken")
      assert(InMemoryKv.store.get("no_user") == """["7","8"]""")
    } finally q.stop()
  }

  test("streamTopKServe routes string item ids through graft_topk_str") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    InMemoryKv.store.clear()
    val in = MemoryStream[(Long, String, Double)]
    val q = RecsTableSpec.streamTopKServe(
      in.toDF().toDF("user_id", "item_id", "score"), k = 2,
      fallback = Seq("f"), InMemoryKv.putBatch)
    try {
      in.addData((1L, "sku-b", 1.0), (1L, "sku-a", 1.0), (1L, "sku-c", 3.0))
      q.processAllAvailable()
      // score tie broke bytewise toward "sku-a"; string ids survive intact
      assert(InMemoryKv.store.get("1") == """["sku-c","sku-a"]""")
      in.addData((1L, "sku-z", 2.0))
      q.processAllAvailable()
      assert(InMemoryKv.store.get("1") == """["sku-c","sku-z"]""")
    } finally q.stop()
  }

  test("streamTopKServe recovers its heap state from the checkpoint across a query RESTART") {
    // The production property behind the state-store claim: the
    // TypedImperativeAggregate's serialize/deserialize pair must
    // round-trip through an actual checkpointed state store, so a
    // restarted serving query keeps displacing against survivors it
    // learned BEFORE the restart (a state loss would silently resurface
    // evicted items). File source + checkpointLocation = the durable
    // form MemoryStream cannot exercise.
    import org.apache.spark.sql.types._
    InMemoryKv.store.clear()
    val base = java.nio.file.Files.createTempDirectory("graft_topk_restart")
    val srcDir = base.resolve("src").toString
    val ckDir = base.resolve("ck").toString
    new java.io.File(srcDir).mkdirs()
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("item_id", LongType),
      StructField("score", DoubleType)))
    def writeBatch(name: String, lines: Seq[String]): Unit = {
      val tmp = base.resolve(name + ".tmp").toFile
      val w = new java.io.PrintWriter(tmp)
      lines.foreach(w.println); w.close()
      // atomic move so the file source never reads a partial file
      java.nio.file.Files.move(tmp.toPath,
        java.nio.file.Paths.get(srcDir, name))
    }
    def start() = {
      val scored = spark.readStream.schema(schema).json(srcDir)
      val q = scored.groupBy(col("user_id"))
        .agg(graft.sql.GraftFunctions.topKAgg(col("score"), col("item_id"), 2).as("__top"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckDir)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val lists = batch.select(col("user_id").cast("string").as("user_id"),
            transform(col("__top"), x => x.getField("id").cast("string")).as("recs"))
          RecsTable.kvSink(lists, InMemoryKv.putBatch)
          ()
        }.start()
      q
    }
    val q1 = start()
    try {
      writeBatch("b1.json",
        Seq("""{"user_id":1,"item_id":10,"score":2.0}""",
          """{"user_id":1,"item_id":11,"score":5.0}"""))
      q1.processAllAvailable()
      assert(InMemoryKv.store.get("1") == """["11","10"]""")
    } finally q1.stop()
    // restart from the checkpoint; the new batch must displace item 10
    // (score 2.0, learned before the restart) but not item 11 (5.0)
    val q2 = start()
    try {
      writeBatch("b2.json", Seq("""{"user_id":1,"item_id":12,"score":3.0}"""))
      q2.processAllAvailable()
      assert(InMemoryKv.store.get("1") == """["11","12"]""",
        s"state not recovered across restart: ${InMemoryKv.store.get("1")}")
    } finally q2.stop()
  }

  test("json sink (S11) round-trips the table") {
    val tmp = java.nio.file.Files.createTempDirectory("recsjson").toString
    val table = RecsTable.assemble(recs, targets, Seq("7"))
    RecsTable.writeJson(table, tmp)
    val back = spark.read.json(tmp)
    assert(back.count() == 3)
    assert(back.filter($"user_id" === "1")
      .select(to_json($"recs")).as[String].head() == """["101","102"]""")
  }

  test("firstTargetPerUser keeps the earliest (ts, item) per user") {
    val te = Seq(
      (1L, 5L, java.sql.Timestamp.valueOf("2000-02-01 00:00:00")),
      (1L, 3L, java.sql.Timestamp.valueOf("2000-01-01 00:00:00")),
      (1L, 4L, java.sql.Timestamp.valueOf("2000-01-01 00:00:00")))
      .toDF("user_id", "item_id", "ts")
    val out = RecsTable.firstTargetPerUser(te, Seq(col("ts").asc, col("item_id").asc))
    assert(out.as[(Long, Long)].collect().toSeq == Seq((1L, 3L)))
  }
}

/** Spec-held forms: no query, Verify, Bench or perfbench reaches them. */
object RecsTableSpec {

  /** Streaming top-k serving END-TO-END (round-10 verdict task 7): a live
    * recs table maintained by the native bounded top-k aggregate's state
    * — `graft_topk`'s serialize/deserialize pair IS the state-store
    * contract, so the per-user state is the k-bounded (id, score) heap
    * and NOTHING else: no retained candidate rows, no history rescans
    * (contrast [[streamRefresh]], which recomputes from the logged
    * history because its co-occurrence scores change as history grows;
    * here scores are fixed at arrival — model-scored candidate streams —
    * so the heap alone carries the cross-batch semantics pinned in
    * StreamingTopKSpec).
    *
    * Input: a stream of scored candidates (user_id, item_id, score).
    * Per micro-batch (`update` mode) only users whose top-k CHANGED are
    * emitted; their refreshed lists go through the same kvSink seam as
    * the batch table (payload = the JSON rec list handler.py:64 parses),
    * together with the `no_user` fallback row re-put each batch —
    * last-write-wins keeps the point-lookup path always answering.
    * String item ids route to graft_topk_str, integral ids to the
    * primitive heap (same dispatch as Relational.topKPerGroupAgg).
    *
    * At 100 TB: state is users × k entries, the per-batch work is
    * candidate-rows × O(log k) heap pushes behind a partial aggregate,
    * and the KV write volume is changed-users only. */
  def streamTopKServe(scored: DataFrame, k: Int, fallback: Seq[String],
      put: Iterator[(String, String)] => Unit, fallbackKey: String = "no_user")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = scored.sparkSession
    graft.sql.GraftFunctions.register(spark)
    graft.sql.GraftFunctions.enableBoundedObjectAgg(spark)
    val idIsString = scored.schema("item_id").dataType ==
      org.apache.spark.sql.types.StringType
    val agg =
      if (idIsString)
        graft.sql.GraftFunctions.topKAggStr(col("score"), col("item_id"), k)
      else graft.sql.GraftFunctions.topKAgg(col("score"), col("item_id"), k)
    scored.groupBy(col("user_id")).agg(agg.as("__top"))
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        val lists = batch.select(
          col("user_id").cast("string").as("user_id"),
          transform(col("__top"), x => x.getField("id").cast("string")).as("recs"))
        val fallbackRow = Seq((fallbackKey, fallback)).toDF("user_id", "recs")
        RecsTable.kvSink(lists.unionByName(fallbackRow), put)
        ()
      }
      .start()
  }
}
