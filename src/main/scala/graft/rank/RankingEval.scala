package graft.rank

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ranking evaluation: per-user recall@k and NDCG@k (reference:
  * RecallAt(10) / NDCGAt(10), my_merlin_flow.py:91-95,318,446-450).
  *
  * Cross-engine determinism: the DCG discounts 1/log2(r+1) are quantized to
  * 1e-12 and embedded as scaled-LONG literal arrays in the plan (an external
  * oracle embeds the identical constants), so per-user DCG is an exact
  * integer sum — order-independent, no libm call and no float-summation-
  * order hazard at query time. NDCG divides two such integers as doubles:
  * bit-identical across engines. The 1e-12 quantization perturbs NDCG by
  * < 1e-11 — far below any decision threshold.
  *
  * Scale: one shuffle for the truth-set count, one broadcast-able join of
  * recs to truth, one groupBy user — all linear in |recs| + |truth|.
  */
object RankingEval {

  /** 1/log2(r+1) for ranks 1..k, scaled by 1e12 and rounded to long. */
  def discountsScaled(k: Int): Array[Long] =
    (1 to k).map(r => math.round(1e12 / (math.log(r + 1.0) / math.log(2.0)))).toArray

  /** Ideal scaled DCG for truth sizes 1..k (prefix sums). */
  def idcgScaled(k: Int): Array[Long] = discountsScaled(k).scanLeft(0L)(_ + _).tail

  /** Per-user metrics: DataFrame[user, n_test, hits, recall, ndcg] over all
    * users with at least one truth item. Users with no recommendations (or
    * no hits) score 0. */
  def perUser(recs: DataFrame, truth: DataFrame, k: Int,
      userCol: String = "user_id", itemCol: String = "item_id",
      rankCol: String = "rk"): DataFrame = {
    val disc = lit(discountsScaled(k))
    val t = truthPairs(truth, userCol, itemCol)
    val tsize = t.groupBy(col(userCol)).agg(count(lit(1)).as("n_test"))
    val hits = recs.filter(col(rankCol) <= k)
      .join(t, Seq(userCol, itemCol))
      .groupBy(col(userCol))
      .agg(
        count(lit(1)).as("hits"),
        sum(element_at(disc, col(rankCol))).as("dcg_s"))
    val h = coalesce(col("hits"), lit(0L))
    val (recall, ndcg) = recallNdcg(col("n_test"), h, coalesce(col("dcg_s"), lit(0L)), k)
    tsize.join(hits, Seq(userCol), "left")
      .select(col(userCol), col("n_test"), h.as("hits"), recall.as("recall"),
        ndcg.as("ndcg"))
  }

  /** The truth side of [[perUser]]: distinct (user, item) pairs. One
    * exchange: the user-keyed repartition feeds the full-tuple distinct
    * (subset clustering) and the per-user count. */
  private def truthPairs(truth: DataFrame, userCol: String,
      itemCol: String): DataFrame =
    truth.select(col(userCol), col(itemCol)).repartition(col(userCol)).distinct()

  /** recall and NDCG of one user from its truth size, hit count and
    * scaled DCG: the one metric definition [[perUser]] and
    * [[rankedMetrics]] share. */
  private def recallNdcg(nTest: Column, hits: Column, dcgS: Column,
      k: Int): (Column, Column) =
    (hits.cast("double") / nTest,
      dcgS.cast("double") /
        element_at(lit(idcgScaled(k)), least(nTest, lit(k)).cast("int")).cast("double"))

  /** [[perUser]]'s truth side as one row per user, for scoring a ranked
    * list inside its own row: (user, n_test, truth_ids array<bigint>).
    * Integral item ids only (they are carried as LONG). */
  private[rank] def truthSets(truth: DataFrame, userCol: String = "user_id",
      itemCol: String = "item_id"): DataFrame =
    truthPairs(truth, userCol, itemCol).groupBy(col(userCol))
      .agg(count(lit(1)).as("n_test"),
        collect_set(col(itemCol).cast("long")).as("truth_ids"))

  /** Row-local (recall, ndcg) of a ranked id array (array<bigint>, rank
    * order; null = no recommendations) against a [[truthSets]] row —
    * the values [[perUser]] gives the same list as (user, rk, item) rows. */
  private[rank] def rankedMetrics(ranked: Column, truthIds: Column, nTest: Column,
      k: Int): (Column, Column) = {
    val disc = lit(discountsScaled(k))
    val top = slice(coalesce(ranked, typedLit(Seq.empty[Long])), 1, k)
    val hits = size(filter(top, id => array_contains(truthIds, id)))
    val dcgS = aggregate(
      transform(top, (id, i) =>
        when(array_contains(truthIds, id), element_at(disc, i + 1)).otherwise(lit(0L))),
      lit(0L), (acc, g) => acc + g)
    recallNdcg(nTest, hits.cast("long"), dcgS, k)
  }

  /** Driver-side mean (recall, ndcg) — model selection and spec assertions,
    * not part of the oracle surface (global float means are
    * summation-order-sensitive). */
  def meanMetrics(perUserDf: DataFrame): (Double, Double) = {
    val row = perUserDf.agg(avg("recall"), avg("ndcg")).head()
    (row.getDouble(0), row.getDouble(1))
  }
}
