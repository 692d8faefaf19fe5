package graft.rank

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import graft.operators.Budgets

class TwoTowerSpec extends SparkSpecBase {
  import spark.implicits._

  // Two disjoint taste communities: users 1-40 ~ items 101-130, users
  // 41-80 ~ items 201-230; each user interacts with an md5-deterministic
  // ~15 of their block's 30 items, 3 held out — the canonical
  // recoverable structure for a retrieval trainer. A 30-item block with
  // a 10-slot cutoff leaves room for held-out items to rank INSIDE the
  // block (on a tiny universe every held-out item doubles as an in-batch
  // negative and gets actively demoted).
  private def blockRows: Seq[(Long, Long)] =
    (for {
      u <- 1L to 80L
      block = if (u <= 40) 100L else 200L
      j <- 1L to 30L
    } yield (u, block + j)).filter { case (u, i) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"bt|$u|$i".getBytes("UTF-8"))
      (h(0) & 0x7f) % 2 == 0
    }

  private def split: (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val byUser = blockRows.groupBy(_._1)
    val tr = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val te = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    byUser.toSeq.sortBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      tr ++= sorted.dropRight(3)
      te ++= sorted.takeRight(3)
    }
    (tr.toSeq, te.toSeq)
  }

  private val cfg = TwoTower.Config(embDim = 16, hiddenDim = 8, steps = 200,
    lr = 0.5, seed = "tts")

  private lazy val (trainRows, testRows) = split
  private lazy val fitted =
    TwoTower.fitWithLoss(trainRows.toDF("user_id", "item_id"), cfg)

  test("in-batch softmax loss decreases under training") {
    val losses = fitted._2
    assert(losses.size == cfg.steps)
    assert(losses.last < losses.head * 0.7,
      s"loss did not decrease: ${losses.head} -> ${losses.last}")
  }

  test("recovers the block structure: top-3 recommendations stay in the user's community") {
    val recs = TwoTower.recommend(fitted._1,
        trainRows.map(_._1).distinct.toDF("user_id"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val inBlock = recs.count { case (u, i) =>
      (u <= 40 && i < 200) || (u > 40 && i > 200) }
    assert(inBlock.toDouble / recs.length > 0.9,
      s"only $inBlock/${recs.length} recommendations in-community")
  }

  test("beats the popularity baseline on held-out recall@10 (the reference's bar)") {
    // standard protocol: training positives are excluded from the ranked
    // list on BOTH sides of the comparison
    val te = testRows.toDF("user_id", "item_id")
    val recs = TwoTower.recommend(fitted._1,
      testRows.map(_._1).distinct.toDF("user_id"), 10,
      excludeSeen = Some(trainRows.toDF("user_id", "item_id")))
    val (recall, _) = RankingEval.meanMetrics(RankingEval.perUser(recs, te, 10))
    // popularity top-10 is block-blind: half its slots go to the other
    // community, capping its expected recall ~0.5 on this fixture
    val topPop = trainRows.toDF("user_id", "item_id")
      .groupBy("item_id").count().orderBy($"count".desc, $"item_id").limit(20)
    val popRecs = testRows.map(_._1).distinct.toDF("user_id")
      .crossJoin(topPop.select($"item_id", $"count"))
      .join(trainRows.toDF("user_id", "item_id"), Seq("user_id", "item_id"),
        "left_anti")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
          .orderBy($"count".desc, $"item_id")))
      .filter($"rk" <= 10)
    val (popRecall, _) =
      RankingEval.meanMetrics(RankingEval.perUser(popRecs, te, 10))
    assert(recall > popRecall,
      s"two-tower recall $recall must beat popularity $popRecall")
    assert(recall > 0.25, s"block recall too low: $recall")
  }

  test("training is bit-deterministic: refit reproduces identical vectors") {
    // a short schedule suffices to catch any accumulation-order drift
    val short = cfg.copy(steps = 30)
    def dump(m: TwoTower.Model) =
      m.userVecs.orderBy("user_id").collect().map(_.toString).toSeq ++
        m.itemVecs.orderBy("item_id").collect().map(_.toString).toSeq
    val a = TwoTower.fit(trainRows.toDF("user_id", "item_id").repartition(5), short)
    val b = TwoTower.fit(trainRows.toDF("user_id", "item_id").coalesce(1), short)
    assert(dump(a) == dump(b))
  }

  test("sharded data-parallel training converges to comparable held-out recall") {
    // shards=4: chunks shard across tasks against the weight snapshot,
    // one summed Adagrad update per step (vs ~batch/chunk local-SGD
    // updates in the single-task form), so the schedule trades steps for
    // per-step wall. The bar is the same one the single-task form must
    // clear: beats popularity, recall above the fixture floor.
    val scfg = cfg.copy(shards = 4, steps = 200)
    val model = TwoTower.fit(trainRows.toDF("user_id", "item_id"), scfg)
    val te = testRows.toDF("user_id", "item_id")
    val recs = TwoTower.recommend(model,
      testRows.map(_._1).distinct.toDF("user_id"), 10,
      excludeSeen = Some(trainRows.toDF("user_id", "item_id")))
    val (recall, _) = RankingEval.meanMetrics(RankingEval.perUser(recs, te, 10))
    assert(recall > 0.25, s"sharded-form recall too low: $recall")
  }

  test("sharded training is bit-deterministic and partitioning-invariant too") {
    // shard assignment hashes the deterministic order key, within-shard
    // accumulation is sorted, driver merge is pid-ordered — so the
    // data-parallel form must reproduce exactly as well
    val short = cfg.copy(steps = 25, shards = 3)
    def dump(m: TwoTower.Model) =
      m.userVecs.orderBy("user_id").collect().map(_.toString).toSeq ++
        m.itemVecs.orderBy("item_id").collect().map(_.toString).toSeq
    val a = TwoTower.fit(trainRows.toDF("user_id", "item_id").repartition(5), short)
    val b = TwoTower.fit(trainRows.toDF("user_id", "item_id").coalesce(1), short)
    assert(dump(a) == dump(b))
  }

  test("referenceGrid spans the reference's batch/lr grid") {
    val grid = TwoTower.referenceGrid(cfg)
    assert(grid.size == 4)
    assert(grid.map(c => (c.batchRows, c.lr)).toSet ==
      Set((16384, 0.04), (16384, 0.02), (4096, 0.04), (4096, 0.02)))
    assert(grid.map(_.key).distinct.size == 4)
  }

  test("gridSearch picks the deterministic argmax and reports every config's metric") {
    val tr = trainRows.toDF("user_id", "item_id")
    val te = testRows.toDF("user_id", "item_id")
    val grid = Seq(cfg.copy(steps = 60), cfg.copy(steps = 60, lr = 0.001))
    val (best, _, metrics) = TwoTower.gridSearch(tr, te, grid, k = 10,
      excludeSeen = Some(tr))
    assert(metrics.keySet == grid.map(_.key).toSet)
    val (bestKey, bestVal) = metrics.maxBy { case (k2, v) => (v, k2) }
    assert(best.key == bestKey && metrics(best.key) == bestVal)
    // rerun reproduces the same winner (fits are deterministic)
    val (best2, _, metrics2) = TwoTower.gridSearch(tr, te, grid, k = 10,
      excludeSeen = Some(tr))
    assert(best2.key == best.key && metrics2 == metrics)
  }

  test("gridSearch equals the standalone fit + recommend + perUser path per config") {
    // the grid shares one prepare, one layout per geometry and one eval
    // context; two configs here share a batch size (one layout), one does
    // not, one holds its tables on the cluster (80 users x dim 32 pass a
    // 2000-float driver budget that dim 16 fits: its catalog is
    // collected, not published from the driver), and user 999 has a
    // truth item but no vector (scores 0)
    val tr = trainRows.toDF("user_id", "item_id")
    val te = (testRows :+ ((999L, 101L))).toDF("user_id", "item_id")
    val grid = Seq(cfg.copy(steps = 30), cfg.copy(steps = 30, lr = 0.05),
      cfg.copy(steps = 30, batchRows = 128), cfg.copy(steps = 20, embDim = 32))
    Budgets.scoped(_.copy(driverEmbedFloats = 2000L)) {
      val (best, model, metrics) = TwoTower.gridSearch(tr, te, grid, k = 10,
        excludeSeen = Some(tr))
      for (c <- grid) {
        val alone = RankingEval.meanMetrics(RankingEval.perUser(
          TwoTower.recommend(TwoTower.fit(tr, c), te, 10, Some(tr)), te, 10))._1
        assert(math.abs(metrics(c.key) - alone) <= 1e-12,
          s"${c.key}: grid recall ${metrics(c.key)} != standalone $alone")
      }
      def dump(m: TwoTower.Model) =
        m.userVecs.orderBy("user_id").collect().map(_.toString).toSeq ++
          m.itemVecs.orderBy("item_id").collect().map(_.toString).toSeq
      assert(dump(model) == dump(TwoTower.fit(tr, best)))
    }
  }

  test("gridSearch over string item ids evaluates through recommend + perUser") {
    val tr = trainRows.map { case (u, i) => (u, s"i$i") }.toDF("user_id", "item_id")
    val te = testRows.map { case (u, i) => (u, s"i$i") }.toDF("user_id", "item_id")
    val grid = Seq(cfg.copy(steps = 30), cfg.copy(steps = 30, lr = 0.05))
    val (_, _, metrics) = TwoTower.gridSearch(tr, te, grid, k = 10, excludeSeen = Some(tr))
    for (c <- grid) {
      val alone = RankingEval.meanMetrics(RankingEval.perUser(
        TwoTower.recommend(TwoTower.fit(tr, c), te, 10, Some(tr)), te, 10))._1
      assert(math.abs(metrics(c.key) - alone) <= 1e-12, s"${c.key}: ${metrics(c.key)} != $alone")
    }
  }

  test("a failing grid config surfaces its own exception; the next grid succeeds") {
    // a chunk of 0 rows fails train's require on a pool thread
    val tr = trainRows.toDF("user_id", "item_id")
    val te = testRows.toDF("user_id", "item_id")
    val ok = Seq(cfg.copy(steps = 30), cfg.copy(steps = 30, batchRows = 128))
    val bad = cfg.copy(steps = 30, lr = 0.05, chunk = 0)
    val e = intercept[IllegalArgumentException] {
      TwoTower.gridSearch(tr, te, Seq(ok(0), bad, ok(1)), k = 10,
        excludeSeen = Some(tr))
    }
    assert(e.getMessage.contains("chunk must be >= 1"), e.getMessage)
    val (_, model, metrics) = TwoTower.gridSearch(tr, te, ok, k = 10,
      excludeSeen = Some(tr))
    assert(metrics.keySet == ok.map(_.key).toSet)
    assert(model.userVecs.count() == 80)
  }

  test("cluster-held embeddings train BIT-IDENTICALLY to the driver-held form") {
    // a table past the driver budget (80 users x dim 16 >> 100 floats)
    // trains cluster-held with NO config change; gather/scatter change
    // WHERE rows live, never one float of arithmetic — so the two
    // storage modes must produce identical vectors, in both gradient
    // forms, regardless of input partitioning.
    val short = cfg.copy(steps = 20)
    def dump(m: TwoTower.Model) =
      m.userVecs.orderBy("user_id").collect().map(_.toString).toSeq ++
        m.itemVecs.orderBy("item_id").collect().map(_.toString).toSeq
    def pastBudget[T](body: => T): T = Budgets.scoped(_.copy(driverEmbedFloats = 100L))(body)
    val driver = dump(TwoTower.fit(trainRows.toDF("user_id", "item_id"), short))
    val clusterModel = pastBudget(TwoTower.fit(
      trainRows.toDF("user_id", "item_id").repartition(5), short))
    assert(clusterModel.userVecs.count() == 80)
    assert(dump(clusterModel) == driver)
    val driverSh = dump(TwoTower.fit(trainRows.toDF("user_id", "item_id"),
      short.copy(shards = 2)))
    val clusterSh = dump(pastBudget(TwoTower.fit(trainRows.toDF("user_id", "item_id"),
      short.copy(shards = 2))))
    assert(clusterSh == driverSh)
  }

  test("stepsPerJob folds steps into one job BIT-IDENTICALLY (incl. losses, wrap, cluster-held)") {
    // round-10 verdict task 3: k consecutive batches per Spark job — an
    // execution choice, so model AND per-step loss telemetry must be
    // bit-identical to the one-job-per-step form, including when the
    // schedule wraps mid-cycle (steps not a multiple of nBatches or of
    // stepsPerJob) and in the cluster-held embedding mode.
    val short = cfg.copy(steps = 20, batchRows = 128, lrDecay = 0.97)
    def dump(m: TwoTower.Model) =
      m.userVecs.orderBy("user_id").collect().map(_.toString).toSeq ++
        m.itemVecs.orderBy("item_id").collect().map(_.toString).toSeq
    val df = trainRows.toDF("user_id", "item_id")
    val (m1, l1) = TwoTower.fitWithLoss(df, short)
    val (m4, l4) = TwoTower.fitWithLoss(df.repartition(7), short.copy(stepsPerJob = 4))
    assert(l4 == l1, "per-step losses diverged under stepsPerJob")
    assert(dump(m4) == dump(m1), "model diverged under stepsPerJob")
    // stepsPerJob larger than the batch count clamps to one full cycle
    val (mBig, lBig) = TwoTower.fitWithLoss(df, short.copy(stepsPerJob = 1000))
    assert(lBig == l1 && dump(mBig) == dump(m1))
    // cluster-held tables: one gather/scatter per GROUP, same floats
    val (mc, lc) = Budgets.scoped(_.copy(driverEmbedFloats = 100L))(
      TwoTower.fitWithLoss(df, short.copy(stepsPerJob = 4)))
    assert(lc == l1 && dump(mc) == dump(m1))
  }

  test("driver-held mode refuses past its budget; cluster-held mode accepts") {
    // the gate: driver-held only while BOTH tables sit strictly under
    // the budget (80 users x dim 16 = 1280 floats)
    assert(TwoTower.driverHeld(80, 40, 16, 1281L))
    assert(!TwoTower.driverHeld(80, 40, 16, 1280L))
    assert(!TwoTower.driverHeld(40, 80, 16, 1280L))
    // the same data past a 100-float budget trains cluster-held, no
    // config change
    val df = trainRows.toDF("user_id", "item_id")
    val m = Budgets.scoped(_.copy(driverEmbedFloats = 100L))(
      TwoTower.fit(df, cfg.copy(steps = 2)))
    assert(m.userVecs.count() == 80)
  }

  test("recommend serves models with non-integral item ids (window-form fallback)") {
    // Categorify accepts any key type; TopKAggF carries ids as LONG, so a
    // string-keyed model on the aggregate path would cast every id to
    // null and silently return ZERO rows (round-9 advice). The dispatch
    // must route such models through the window form instead.
    val rows = (for (u <- 1L to 6L; j <- 1L to 8L) yield (u, s"sku-${(u + j) % 10}"))
      .distinct.toDF("user_id", "item_id")
    val model = TwoTower.fit(rows, cfg.copy(steps = 5))
    assert(model.itemVecs.schema("item_id").dataType ==
      org.apache.spark.sql.types.StringType)
    val recs = TwoTower.recommend(model, Seq(1L, 2L).toDF("user_id"), 3)
    assert(recs.columns.toSeq == Seq("user_id", "rk", "item_id", "score"))
    assert(recs.schema("item_id").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(recs.count() == 6, "string-id model must still return ranked rows")
    // ranks are 1..k and ordering is (score desc, item_id asc) per user
    val byUser = recs.collect().groupBy(_.getLong(0))
    byUser.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3))
    }
  }

  test("exclude-seen falls back to a shuffle anti-join past broadcastSeenLimit") {
    // A full-user-base serve cannot broadcast its history; with the limit
    // forced to 1 row the exclusion must take the un-hinted plan and
    // still produce the identical result (auto-broadcast disabled so the
    // fallback genuinely exercises the shuffle path).
    val users = testRows.map(_._1).distinct.toDF("user_id")
    val seen = trainRows.toDF("user_id", "item_id")
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("user_id", "rk").collect().map(_.toString).toSeq
    val viaBroadcast = dump(Budgets.scoped(_.copy(catalogFloats = 0L))(
      TwoTower.recommend(fitted._1, users, 5, Some(seen))))
    val viaShuffle = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      dump(Budgets.scoped(_.copy(seenBroadcastRows = 1L, catalogFloats = 0L))(
        TwoTower.recommend(fitted._1, users, 5, Some(seen))))
    }
    assert(viaShuffle == viaBroadcast)
    assert(viaShuffle.nonEmpty)
  }

  test("fused TopKDotF32 serving is row-identical to the unfused crossJoin plan") {
    // The round-11 serving kernel: same (score desc, id asc) order, same
    // DotF32 arithmetic, same exclude-seen row set — with and without a
    // history, including a user whose whole block is seen (fewer than k
    // survivors) and an unknown user (no tower vector -> no rows).
    val users = (testRows.map(_._1).distinct :+ 999999L).toDF("user_id")
    val seen = trainRows.toDF("user_id", "item_id")
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("user_id", "rk").collect().map(_.toString).toSeq
    for (excl <- Seq(None, Some(seen))) {
      val fused = dump(TwoTower.recommend(fitted._1, users, 5, excl))
      val unfused = dump(Budgets.scoped(_.copy(catalogFloats = 0L))(
        TwoTower.recommend(fitted._1, users, 5, excl)))
      assert(fused == unfused, s"fused/unfused diverge (excludeSeen=$excl)")
      assert(fused.nonEmpty)
    }
    // k larger than the surviving catalog: both forms return every
    // survivor, ranked identically
    val big = dump(TwoTower.recommend(fitted._1, users, 1000, Some(seen)))
    val bigU = dump(Budgets.scoped(_.copy(catalogFloats = 0L))(
      TwoTower.recommend(fitted._1, users, 1000, Some(seen))))
    assert(big == bigU)
  }

  test("recommendAnn: full probe equals recommend; partial probe holds a recall floor") {
    // round-12 (verdict task 2): the ANN-served leg past the dense
    // kernel's budget — with nprobe = nlist the probe is exhaustive and
    // the rows must EQUAL the exact kernel's; at nprobe < nlist the
    // output is k rows per user with a recall floor vs exact.
    val users = testRows.map(_._1).distinct.toDF("user_id")
    val seen = trainRows.toDF("user_id", "item_id")
    // centroids live in the MIPS-augmented space (round 13) — fit through
    // the model helper, not raw Ivf.fitCentroids
    val cents = TwoTower.annCentroids(fitted._1, nlist = 4, iters = 2)
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("user_id", "rk").collect().map(_.toString).toSeq
    val exact = TwoTower.recommend(fitted._1, users, 5, Some(seen))
    val full = TwoTower.recommendAnn(fitted._1, users, 5, Some(seen),
      nlist = 4, nprobe = 4, centroids = Some(cents))
    assert(dump(full) == dump(exact), "full-probe ANN diverged from exact")
    val partial = TwoTower.recommendAnn(fitted._1, users, 5, Some(seen),
      nlist = 4, nprobe = 2, centroids = Some(cents))
    val pSets = partial.collect()
      .groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.map(_.getLong(2)).toSet }
    val eSets = exact.collect()
      .groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.map(_.getLong(2)).toSet }
    val recalls = eSets.map { case (u, ids) =>
      ids.intersect(pSets.getOrElse(u, Set.empty)).size.toDouble / ids.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, f"ANN recall@5 vs exact = $mean%.2f < 0.5 at nprobe=nlist/2")
    // schema contract matches recommend (RankingEval/RecsTable-ready)
    assert(partial.columns.toSeq == Seq("user_id", "rk", "item_id", "score"))
  }

  test("recommendAnn refuses empty centroids with annServeArtifacts' named message") {
    val users = testRows.map(_._1).distinct.toDF("user_id")
    val e = intercept[IllegalArgumentException] {
      TwoTower.recommendAnn(fitted._1, users, 5, centroids = Some(Array.empty))
    }
    assert(e.getMessage.contains("centroids must be fit in the MIPS-augmented space") &&
      e.getMessage.contains("got 0"), s"refusal must name the contract: ${e.getMessage}")
  }

  test("fused recommend feeds the RecsTable serving contract end-to-end") {
    import graft.serve.RecsTable
    val users = testRows.map(_._1).distinct.toDF("user_id")
    val tr = trainRows.toDF("user_id", "item_id")
    val recs = TwoTower.recommend(fitted._1, users, 5, Some(tr))
    // the kernel actually served this plan, not the unfused fallback
    assert(recs.queryExecution.executedPlan.toString
      .contains("graft_topk_dot_f32"))
    val te = testRows.toDF("user_id", "item_id")
      .withColumn("ts", to_timestamp(lit("2001-01-01")))
    val targets = RecsTable.firstTargetPerUser(te,
      Seq(col("ts").asc, col("item_id").asc))
    val table = RecsTable.assemble(recs, targets, RecsTable.popularFallback(tr, 5))
    val rows = table.collect()
    assert(rows.map(_.getString(0)).contains("no_user"))
    assert(rows.length == testRows.map(_._1).distinct.size + 1)
    val seenByUser = trainRows.groupBy(_._1)
      .map { case (u, xs) => u.toString -> xs.map(_._2.toString).toSet }
    for (r <- rows if r.getString(0) != "no_user") {
      val served = r.getSeq[String](1)
      assert(served.size == 5, s"user ${r.getString(0)} got ${served.size} recs")
      val overlap = served.toSet.intersect(
        seenByUser.getOrElse(r.getString(0), Set.empty))
      assert(overlap.isEmpty, s"seen items served to ${r.getString(0)}: $overlap")
      assert(r.getString(2) != null, "held-out target missing")
    }
  }

  test("model persists and loads; recommend schema is RankingEval-ready") {
    val tmp = java.nio.file.Files.createTempDirectory("twotower").toString
    fitted._1.save(tmp)
    val loaded = TwoTower.load(spark, tmp, cfg)
    val recs = TwoTower.recommend(loaded, Seq(1L, 41L).toDF("user_id"), 5)
    assert(recs.columns.toSeq == Seq("user_id", "rk", "item_id", "score"))
    assert(recs.groupBy("user_id").count().filter($"count" =!= 5).count() == 0)
  }
}
