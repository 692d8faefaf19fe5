package graft.rank

import graft.SparkSpecBase
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Budgets

class NegativeSamplingSpec extends SparkSpecBase {
  import spark.implicits._

  private def positives = Interactions.fromStar(spark, sfDir)
    .select($"user_id", $"item_id")

  test("itemCdf builds an exact contiguous integer CDF, distributed form == single-window form") {
    val pop = positives.groupBy($"item_id").agg(count(lit(1)).as("n"))
      .select($"item_id", $"n".cast("long").as("w"))
    val cdf = NegativeSampling.itemCdf(pop).cache()
    val total = pop.agg(sum($"w")).head().getLong(0)
    assert(cdf.agg(max($"hi")).head().getLong(0) == total, "last hi must equal total weight")
    assert(cdf.filter($"hi" - $"lo" =!= $"w").isEmpty, "interval width == weight")
    // contiguity: this item's lo equals the previous item's hi
    val w = Window.orderBy($"item_id")
    val gaps = cdf.withColumn("prev_hi", lag($"hi", 1, 0L).over(w))
      .filter($"lo" =!= $"prev_hi")
    assert(gaps.isEmpty, "intervals must tile [0, W) with no gaps or overlaps")
    // and the distributed two-pass cumsum equals the naive global window
    val naive = pop.withColumn("hi", sum($"w").over(
        Window.orderBy($"item_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"item_id", $"w", ($"hi" - $"w").as("lo"), $"hi")
    assert(cdf.exceptAll(naive).isEmpty && naive.exceptAll(cdf).isEmpty)
    cdf.unpersist()
  }

  test("sampleNegatives excludes positives, caps at k, and ranks draws in slot order") {
    val out = NegativeSampling.sampleNegatives(positives, k = 5, seed = 42L).cache()
    assert(out.join(positives.distinct(), Seq("user_id", "item_id"), "left_semi").isEmpty,
      "a sampled negative must never be one of the user's positives")
    val perUser = out.groupBy($"user_id").agg(count(lit(1)).as("n"), max($"rk").as("maxrk"))
    assert(perUser.filter($"n" > 5 || $"maxrk" > 5).isEmpty)
    assert(out.filter($"rk" < 1).isEmpty)
    // rk is dense 1..n per user in slot order
    val dense = out.withColumn("expected",
      row_number().over(Window.partitionBy($"user_id").orderBy($"slot")))
    assert(dense.filter($"rk" =!= $"expected").isEmpty)
    out.unpersist()
  }

  test("sample is deterministic across partitionings and seeds change it") {
    val a = NegativeSampling.sampleNegatives(positives, 5, seed = 42L)
    val b = NegativeSampling.sampleNegatives(positives.repartition(17), 5, seed = 42L)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "identical draws regardless of physical partitioning")
    val c = NegativeSampling.sampleNegatives(positives, 5, seed = 43L)
    assert(a.exceptAll(c).limit(1).count() > 0, "a different seed must change the sample")
  }

  test("past the bucket-table gate the shuffled-hash join draws the broadcast join's rows") {
    // the explicit gate, not the optimizer's size estimate, picks the join
    withSQLConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val viaBroadcast = NegativeSampling.sampleNegatives(positives, 5, seed = 42L)
      val viaShuffle = Budgets.scoped(_.copy(negativeBucketRows = 0L))(
        NegativeSampling.sampleNegatives(positives, 5, seed = 42L))
      val pb = viaBroadcast.queryExecution.executedPlan.toString
      val ps = viaShuffle.queryExecution.executedPlan.toString
      // the bucket lookup is the one join keyed on __bkt
      assert(pb.contains("BroadcastHashJoin [__bkt"), s"under the gate: broadcast\n$pb")
      assert(ps.contains("ShuffledHashJoin [__bkt") && !ps.contains("BroadcastHashJoin [__bkt"),
        s"past the gate: shuffled hash\n$ps")
      assert(viaShuffle.count() > 0)
      assert(viaShuffle.exceptAll(viaBroadcast).isEmpty &&
        viaBroadcast.exceptAll(viaShuffle).isEmpty)
    }
  }

  test("empirical draw frequency tracks item weight (popularity-proportional)") {
    // tiny catalog with a 10:1 weight skew; draw many slots so the
    // empirical ratio concentrates
    val pos = (1 to 1000).map(i => (i.toLong, 1L)) ++ (1 to 100).map(i => (i.toLong, 2L))
    val df = pos.toDF("user_id", "item_id")
    // weights: item 1 -> 1000, item 2 -> 100
    val out = NegativeSampling.sampleNegatives(
      df.union(Seq((0L, 3L)).toDF("user_id", "item_id")), // item 3 keeps 1&2 samplable for user 0 only
      k = 40, seed = 7L, oversample = 1)
    // users 1..1000 hold item 1 as positive, so their draws of item 1 are
    // excluded; measure raw draw mass via user 0 is too small — instead use
    // users 101..1000 (positive = item 1 only): everything they keep is
    // item 2 or 3. Draw mass of item 2 vs 3 should be ~100:1.
    val kept = out.filter($"user_id".between(101, 1000)).groupBy($"item_id").count()
      .as[(Long, Long)].collect().toMap
    val ratio = kept(2L).toDouble / kept.getOrElse(3L, 1L).toDouble
    assert(ratio > 30 && ratio < 300, s"item2:item3 draw mass should be ~100, got $ratio")
  }
}
