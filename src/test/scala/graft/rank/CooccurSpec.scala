package graft.rank

import graft.SparkSpecBase
import graft.operators.Relational
import org.apache.spark.sql.functions._
import graft.operators.Budgets
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cooccur's shuffle-collapsed plan (marker-row union instead of an anti
  * join) must be observationally identical to the textbook formulation. */
class CooccurSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val tr =
    Interactions.splitByTime(Interactions.fromStar(spark, sfDir), "2000-01-01")._1

  test("recommend equals the naive score-then-anti-join formulation") {
    val nb = Cooccur.itemNeighbors(tr, 20)
    val fast = Cooccur.recommend(tr, nb, 10)

    val t = tr.select($"user_id", $"item_id").distinct()
    val scores = t.join(nb, t("item_id") === nb("item_a"))
      .groupBy($"user_id", $"item_b").agg(sum($"c").as("score"))
    val unseen = scores.join(t.withColumnRenamed("item_id", "item_b"),
      Seq("user_id", "item_b"), "left_anti")
    val naive = Relational.topKPerGroup(unseen, Seq("user_id"),
        Seq($"score".desc, $"item_b".asc), 10)
      .select($"user_id", $"rk", $"item_b".as("item_id"), $"score")

    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
  }

  test("itemNeighbors caps each item at M neighbors, ordered by count desc") {
    val nb = Cooccur.itemNeighbors(tr, 5)
    assert(nb.groupBy("item_a").count().filter($"count" > 5).count() == 0)
    val worst = nb.join(
      nb.groupBy($"item_a".as("ia")).agg(min($"c").as("mn")),
      nb("item_a") === $"ia")
    // every kept neighbor's count >= the item's own cutoff by construction;
    // spot check: counts are positive and ordering column exists
    assert(worst.filter($"c" < $"mn").count() == 0)
    assert(nb.filter($"c" <= 0).count() == 0)
  }

  test("recommendMultiCap equals the per-cap recommend for every grid point") {
    val caps = Seq(3, 7, 20)
    val multi = Cooccur.recommendMultiCap(tr,
      Cooccur.itemNeighborsRanked(tr, caps.max), caps, 10)
    for (m <- caps) {
      val one = Cooccur.recommend(tr, Cooccur.itemNeighbors(tr, m), 10)
      val slice = multi.filter($"cap" === m).drop("cap")
      assert(slice.exceptAll(one).isEmpty && one.exceptAll(slice).isEmpty,
        s"cap $m diverges from the per-cap form")
      assert(slice.count() > 0)
    }
  }

  test("recommendations from a materialized model equal the inline-lineage ones") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nb").toString
    RetrievalPipeline.fitAndSave(tr, s"$dir/nb", maxNeighbors = 20)
    val fromModel = CooccurSpec.recommendFrom(spark, s"$dir/nb", tr, 10)
    val inline = Cooccur.recommend(tr, Cooccur.itemNeighbors(tr, 20), 10)
    assert(fromModel.exceptAll(inline).isEmpty && inline.exceptAll(fromModel).isEmpty)
  }

  test("recentN keeps each user's N most recent distinct items") {
    val rows = Seq(
      // user 1: items 10..14 at increasing ts; item 10 re-touched last
      (1L, 10L, "2001-01-01"), (1L, 11L, "2001-01-02"), (1L, 12L, "2001-01-03"),
      (1L, 13L, "2001-01-04"), (1L, 14L, "2001-01-05"), (1L, 10L, "2001-01-06"),
      // user 2: two items only
      (2L, 20L, "2001-01-01"), (2L, 21L, "2001-01-02"))
    val inter = rows.toDF("user_id", "item_id", "d")
      .select($"user_id", $"item_id", $"d".cast("timestamp").as("ts"))
    val capped = Interactions.recentN(inter, 3)
    val u1 = capped.filter($"user_id" === 1).select($"item_id").as[Long].collect().toSet
    // recency of item 10 is its LATEST ts (01-06), so top-3 = {10, 14, 13}
    assert(u1 == Set(10L, 14L, 13L))
    assert(capped.filter($"user_id" === 2).count() == 2) // cap never pads
    // output stays distinct per (user, item)
    assert(capped.groupBy("user_id", "item_id").count().filter($"count" > 1).count() == 0)
  }

  test("maxBasket bounds the fit's pair space at N·(N-1) per user") {
    val n = 5
    val hot = (0 until 200).map(i => (1L, i.toLong, s"2001-01-${i % 28 + 1}"))
    val cold = Seq((2L, 1L, "2001-01-01"), (2L, 2L, "2001-01-02"))
    val inter = (hot ++ cold).toDF("user_id", "item_id", "d")
      .select($"user_id", $"item_id", $"d".cast("timestamp").as("ts"))
    // Σc over all neighbor rows = total pairs generated by the self-join
    // (before the per-item top-M prune nothing is dropped here: maxNeighbors
    // is set above the bound, so the assertion sees the whole pair space).
    val nb = Cooccur.itemNeighbors(inter, maxNeighbors = 1000, maxBasket = n)
    val totalPairs = nb.agg(sum($"c")).head().getLong(0)
    val bound = 2L * n * (n - 1) // two users, each capped at n items
    assert(totalPairs <= bound, s"pair space $totalPairs exceeds $bound")
    // uncapped, the hot user alone contributes 200·199 pairs
    val uncapped = Cooccur.itemNeighbors(inter, maxNeighbors = 1000)
    assert(uncapped.agg(sum($"c")).head().getLong(0) >= 200L * 199L)
  }

  test("capped recommend excludes ALL seen items, not just the recent N") {
    // user 1's capped history = items 2,3 (recent); item 1 is old but seen.
    // item 1 co-occurs with 2 and 3 via user 2, so uncapped-exclusion is
    // what keeps it out of user 1's recs.
    val rows = Seq(
      (1L, 1L, "2001-01-01"), (1L, 2L, "2001-01-02"), (1L, 3L, "2001-01-03"),
      (2L, 1L, "2001-01-01"), (2L, 2L, "2001-01-02"), (2L, 3L, "2001-01-03"))
    val inter = rows.toDF("user_id", "item_id", "d")
      .select($"user_id", $"item_id", $"d".cast("timestamp").as("ts"))
    val nb = Cooccur.itemNeighbors(inter, 10)
    val recs = Cooccur.recommend(inter, nb, 10, maxBasket = 2)
    assert(recs.filter($"user_id" === 1 && $"item_id" === 1).count() == 0)
  }

  test("fused broadcast-model recommend is row-identical to the join plan") {
    val nb = Cooccur.itemNeighbors(tr, 20)
    for (cap <- Seq(0, 4)) {
      val fused = Cooccur.recommendFused(tr, nb, 10, maxBasket = cap)
      assert(fused.isDefined, s"cap=$cap")
      val f = fused.get.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      val j = Cooccur.recommend(tr, nb, 10, maxBasket = cap).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      assert(f == j, s"cap=$cap")
    }
  }

  test("fused recommend replays ties and seen-exclusion exactly on a hand case") {
    // user 1 saw items 1,2; 3 and 4 tie on score (both reachable from 1
    // and 2 with c=1 each) -> rank by item id; item 2 is a candidate via
    // co-occurrence but SEEN, so it must not appear
    val inter = Seq((1L, 1L, "2000-01-01"), (1L, 2L, "2000-01-02"),
        (2L, 3L, "2000-01-03"))
      .toDF("user_id", "item_id", "ts")
      .select($"user_id", $"item_id", $"ts".cast("timestamp"))
    val nb = Seq((1L, 3L, 1L), (1L, 4L, 1L), (1L, 2L, 9L),
        (2L, 3L, 1L), (2L, 4L, 1L), (3L, 1L, 1L))
      .toDF("item_a", "item_b", "c")
    val f = Cooccur.recommendFused(inter, nb, 10).get
      .filter($"user_id" === 1L).orderBy($"rk")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(f == Seq((1, 3L, 2L), (2, 4L, 2L)),
      "ties rank by item id; seen item 2 excluded despite its big score")
    val j = Cooccur.recommend(inter, nb, 10)
      .filter($"user_id" === 1L).orderBy($"rk")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(j == f)
  }

  private def recRows(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

  test("fused recommend equals the join plan on a hand model with a duplicate row and one-sided items") {
    // (1, 3) is in the model twice (both rows add); 7 is only ever a
    // neighbor, and user 3's only item; user 2's item 9 is never an item_a
    val inter = Seq((1L, 1L, "2000-01-01"), (1L, 2L, "2000-01-02"),
        (2L, 9L, "2000-01-03"), (2L, 3L, "2000-01-04"), (3L, 7L, "2000-01-05"))
      .toDF("user_id", "item_id", "ts")
      .select($"user_id", $"item_id", $"ts".cast("timestamp"))
    val nb = Seq((1L, 3L, 2L), (1L, 3L, 1L), (1L, 7L, 2L), (2L, 4L, 5L),
        (3L, 1L, 1L), (3L, 7L, 4L))
      .toDF("item_a", "item_b", "c")
    val f = recRows(Cooccur.recommendFused(inter, nb, 10).get)
    assert(f == recRows(Cooccur.recommend(inter, nb, 10)))
    assert(f == Set((1L, 1, 4L, 5L), (1L, 2, 3L, 3L), (1L, 3, 7L, 2L),
      (2L, 1, 7L, 4L), (2L, 2, 1L, 1L)))
  }

  test("fused recommend's guarded model collect admits at the model's row count, refuses one below") {
    val nb = Cooccur.itemNeighbors(tr, 20)
    val m = nb.count()
    assert(Budgets.scoped(_.copy(cooccurModelRows = m))(
      Cooccur.recommendFused(tr, nb, 10)).isDefined)
    assert(Budgets.scoped(_.copy(cooccurModelRows = m - 1))(
      Cooccur.recommendFused(tr, nb, 10)).isEmpty)
    def viaAuto(cap: Long) = Budgets.scoped(_.copy(cooccurModelRows = cap))(
      recRows(Cooccur.recommendAuto(tr, nb, 10)))
    assert(viaAuto(m) == viaAuto(m - 1), "fused and join routes must emit identical rows")
  }

  test("fused recommend refuses past the model budget and on null interactions") {
    val nb = Cooccur.itemNeighbors(tr, 20)
    assert(Budgets.scoped(_.copy(cooccurModelRows = 5L))(
      Cooccur.recommendFused(tr, nb, 10)).isEmpty)
    val withNull = tr.select($"user_id", $"item_id", $"ts").unionByName(
      Seq((Option.empty[Long], Option(1L), Option("2000-01-01")))
        .toDF("user_id", "item_id", "ts")
        .select($"user_id", $"item_id", $"ts".cast("timestamp")))
    assert(Cooccur.recommendFused(withNull, nb, 10).isEmpty,
      "null user must fall back to the join plan's null semantics")
    // dispatcher serves the refusal through the join plan
    assert(Budgets.scoped(_.copy(cooccurModelRows = 5L))(
      Cooccur.recommendAuto(tr, nb, 10).limit(1).count()) == 1)
  }

  test("fused recommend with a users subset equals the post-filtered full serve") {
    val nb = Cooccur.itemNeighbors(tr, 20)
    val users = tr.select($"user_id").filter($"user_id" < 200).distinct()
    for (cap <- Seq(0, 4)) {
      // minFusedUsers = 1: this test pins the fused kernel's subset
      // semantics; the |users| regime gate has its own test below
      val sub = Cooccur.recommendFused(tr, nb, 10, maxBasket = cap,
        users = Some(users), minFusedUsers = 1L)
      assert(sub.isDefined, s"cap=$cap")
      val s = sub.get.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      val full = Cooccur.recommend(tr, nb, 10, maxBasket = cap)
        .filter($"user_id" < 200).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      assert(s == full, s"cap=$cap: subset serve diverges from post-filter")
      assert(s.nonEmpty)
    }
    // the dispatcher's join-plan fallback also honors the subset (semi-join)
    val viaJoin = Budgets.scoped(_.copy(cooccurModelRows = 5L))(
        Cooccur.recommendAuto(tr, nb, 10, users = Some(users)).collect())
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val fullJ = Cooccur.recommend(tr, nb, 10).filter($"user_id" < 200).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(viaJoin == fullJ)
    // a users frame with a mismatched id type refuses the fused path
    assert(Cooccur.recommendFused(tr, nb, 10,
      users = Some(users.select($"user_id".cast("string")))).isEmpty)
  }

  test("fused recommend refuses a non-integral score column") {
    // recommend() sums c in its native type; the fused path casts to long,
    // which would silently truncate a double — so it must refuse instead
    val nb = Cooccur.itemNeighbors(tr, 20)
      .select($"item_a", $"item_b", ($"c" * 0.5).as("c"))
    assert(Cooccur.recommendFused(tr, nb, 10).isEmpty,
      "double score column must fall back to the join plan's exact sum")
    // the dispatcher serves it through the join plan with double scores
    val viaAuto = Cooccur.recommendAuto(tr, nb, 10)
    assert(viaAuto.schema("score").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(viaAuto.limit(1).count() == 1)
  }

  test("|users| regime gate: small subsets route to the join plan, rows invariant") {
    // round-13 verdict task 4 (the sim.Knn minFusedQueries lesson): a
    // subset below minFusedUsers cannot amortize the fused plan's fixed
    // model collect+broadcast, so recommendFused must REFUSE and
    // recommendAuto must serve identical rows through the join plan.
    val nb = Cooccur.itemNeighbors(tr, 20)
    val users = tr.select($"user_id").filter($"user_id" < 200).distinct()
    val nUsers = users.count()
    assert(Cooccur.recommendFused(tr, nb, 10, users = Some(users),
      minFusedUsers = nUsers + 1).isEmpty, "below the gate: refuse")
    assert(Cooccur.recommendFused(tr, nb, 10, users = Some(users),
      minFusedUsers = nUsers).isDefined, "at the gate: fuse")
    // dispatch invariance: the emitted rows do not depend on the route
    def rows(minFused: Long) =
      Budgets.scoped(_.copy(cooccurMinUsers = minFused))(
          Cooccur.recommendAuto(tr, nb, 10, users = Some(users)).collect())
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .toSet
    assert(rows(nUsers + 1) == rows(1L),
      "join-plan route and fused route must emit identical rows")
    // no subset -> the gate is inert (full-population serves stay fused)
    assert(Cooccur.recommendFused(tr, nb, 10,
      minFusedUsers = Long.MaxValue).isDefined,
      "gate must not apply without a users subset")
  }

  test("popularFallback list is ordered by popularity then item id") {
    val fb = graft.serve.RecsTable.popularFallback(tr, 5)
    val row = fb.head()
    assert(row.getString(0) == "no_user")
    val recs = row.getSeq[String](1)
    assert(recs.size == 5 && recs.distinct.size == 5)
    val counts = tr.select($"user_id", $"item_id").distinct()
      .groupBy($"item_id").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"item_id".asc).limit(5)
      .select($"item_id".cast("string")).as[String].collect().toSeq
    assert(recs == counts)
  }
}

/** Spec-held forms: no query, Verify, Bench or perfbench reaches them. */
object CooccurSpec {

  /** Recommend from the materialized model — the fit lineage is never
    * re-executed, only the model parquet is scanned. `maxBasket` caps the
    * candidate-generating history (seen-item exclusion stays full). */
  def recommendFrom(spark: SparkSession, modelPath: String,
      inter: DataFrame, k: Int = 10, maxBasket: Int = 0): DataFrame =
    Cooccur.recommend(inter, RetrievalPipeline.loadModel(spark, modelPath), k, maxBasket)
}
