package graft.rank

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class RankingEvalSpec extends SparkSpecBase {
  import spark.implicits._

  test("rankedMetrics scores an in-row ranked list exactly as perUser scores its rows") {
    // user 1: hits at ranks 1 and 3; user 2: a duplicate truth row and a
    // list longer than k (the rank-4 hit falls outside k = 3); user 3: no
    // recommendations at all
    val truth = Seq((1L, 10L), (1L, 12L), (1L, 99L), (2L, 20L), (2L, 20L),
      (2L, 24L), (3L, 30L)).toDF("user_id", "item_id")
    val lists = Seq((1L, Seq(10L, 11L, 12L)), (2L, Seq(21L, 20L, 22L, 24L)))
      .toDF("user_id", "ranked")
    val k = 3
    val recs = lists.select($"user_id", posexplode($"ranked"))
      .select($"user_id", ($"pos" + 1).as("rk"), $"col".as("item_id"))
    val expected = RankingEval.perUser(recs, truth, k)
      .select($"user_id", $"recall", $"ndcg").as[(Long, Double, Double)]
      .collect().sortBy(_._1).toSeq
    val (recall, ndcg) = RankingEval.rankedMetrics($"ranked", $"truth_ids",
      $"n_test", k)
    val got = RankingEval.truthSets(truth).join(lists, Seq("user_id"), "left")
      .select($"user_id", recall, ndcg).as[(Long, Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got == expected)
    assert(got.map(_._1) == Seq(1L, 2L, 3L))
    assert(got(2)._2 == 0.0 && got(2)._3 == 0.0)
  }
}
