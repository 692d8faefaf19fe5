package graft.functions

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

class ApproxStatsSpec extends SparkSpecBase {
  import spark.implicits._

  test("approxProfile distinct counts land within the HLL++ error bound of exact") {
    val ev = tbl("events", sfDirMid)
    val approx = ApproxStatsSpec.approxProfile(ev, Seq("event_type"), "user_id", "value")
      .select($"event_type", $"approx_distinct_user_id")
      .as[(String, Long)].collect().toMap
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("d"))
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, d) =>
      val a = approx(k).toDouble
      // rsd 5%: allow 4 standard deviations before calling it broken
      assert(math.abs(a - d) / d < 0.20, s"$k: approx $a vs exact $d")
    }
  }

  test("approxProfile quantiles are within rank tolerance of exact percentiles") {
    val ev = tbl("events", sfDirMid)
    val approx = ApproxStatsSpec.approxProfile(ev, Seq("event_type"), "user_id", "value",
        quantiles = Seq(0.5), accuracy = 10000)
      .select($"event_type", element_at($"approx_q_value", 1))
      .as[(String, Double)].collect().toMap
    // GK sketch at accuracy a guarantees rank error <= n/a; check the
    // returned value sits between the exact 0.48 and 0.52 quantiles
    val bounds = ev.groupBy($"event_type")
      .agg(percentile($"value", lit(0.48)).as("lo"), percentile($"value", lit(0.52)).as("hi"))
      .as[(String, Double, Double)].collect()
    bounds.foreach { case (k, lo, hi) =>
      assert(approx(k) >= lo && approx(k) <= hi,
        s"$k: approx median ${approx(k)} outside exact [0.48, 0.52] band [$lo, $hi]")
    }
  }

  test("approxDistinctEach sketches several columns in one pass without Expand") {
    val ev = tbl("events", sfDirMid)
    val out = ApproxStatsSpec.approxDistinctEach(ev, Seq("user_id", "event_type", "event_id"))
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Expand"), s"one HLL per column must not Expand the input:\n$p")
    val row = out.head()
    // event_id is unique per row; HLL at 5% rsd on 10k values
    val n = ev.count().toDouble
    assert(math.abs(row.getLong(2) - n) / n < 0.20)
    assert(row.getLong(1) == 5L, "5 event types: tiny cardinalities are exact in HLL++")
  }

  test("heavyHitters finds a viral key under adversarial skew with tiny capacity") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // one key holds 40% of 100k rows; the rest spread over 10k keys — the
    // per-partition summaries must evict constantly yet keep the hot key
    val df = spark.range(100000L).select(
      when($"id" % 10 < 4, lit("viral"))
        .otherwise(concat(lit("k"), pmod(xxhash64($"id"), lit(10000L)).cast("string")))
        .as("k"))
    val got = ApproxStats.heavyHitters(df, $"k", capacity = 8)
      .as[(String, Long)].collect().toMap
    assert(got.keySet == Set("viral"), s"expected only the viral key, got $got")
    assert(got("viral") == 40000L, "counts are exact, not sketch estimates")
  }

  test("heavyHitters equals the exact HAVING query on random data") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    for (cap <- Seq(1, 3, 10); seed <- Seq(7L, 42L)) {
      val rnd = new scala.util.Random(seed)
      val rows = Seq.fill(500)(s"w${rnd.nextInt(rnd.nextInt(30) + 1)}")
      val df = rows.toDF("k").repartition(7)
      val got = ApproxStats.heavyHitters(df, $"k", cap)
        .as[(String, Long)].collect().toMap
      val counts = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val expect = counts.filter { case (_, c) => c * (cap + 1) > rows.size }
      assert(got == expect, s"cap=$cap seed=$seed: $got != $expect")
    }
  }

  test("heavyHitters ignores null keys and rejects non-positive capacity") {
    import spark.implicits._
    val df = Seq(Some("a"), Some("a"), None, Some("b")).toDF("k")
    val got = ApproxStats.heavyHitters(df, $"k", capacity = 1)
      .as[(String, Long)].collect().toMap
    // N counts non-null keys only (3); "a"·2 > 3 ⇒ hitter
    assert(got == Map("a" -> 2L))
    intercept[IllegalArgumentException] {
      ApproxStats.heavyHitters(df, $"k", 0)
    }
  }

  test("mgTopK per group: exact counts when capacity >= the group alphabet") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = (1 to 40).flatMap(i => Seq(("g1", s"v${i % 3}"), ("g2", s"v${i % 4}")))
      .toDF("g", "v").repartition(7)
    val got = df.groupBy($"g").agg(ApproxStats.mgTopK($"v", 16).as("m"))
      .select($"g", explode($"m").as(Seq("v", "n")))
      .as[(String, String, Long)].collect()
      .groupBy(_._1).map { case (g, rs) => g -> rs.map(r => r._2 -> r._3).toMap }
    val exact = df.groupBy($"g", $"v").count()
      .as[(String, String, Long)].collect()
      .groupBy(_._1).map { case (g, rs) => g -> rs.map(r => r._2 -> r._3).toMap }
    assert(got == exact, "no shrink/cut may fire below capacity")
  }

  test("mgTopK under capacity pressure: undercount bounded by N/(capacity+1)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 200 distinct light keys + one heavy key, capacity 8
    val rows = (1 to 200).map(i => ("g", s"light$i")) ++ Seq.fill(100)(("g", "heavy"))
    val df = rows.toDF("g", "v").repartition(5)
    val m = df.groupBy($"g").agg(ApproxStats.mgTopK($"v", 8).as("m"))
      .select(explode($"m").as(Seq("v", "n")))
      .as[(String, Long)].collect().toMap
    val n = rows.size
    assert(m.contains("heavy"), "a 1/3-frequency key must survive capacity 8")
    assert(m("heavy") <= 100L && m("heavy") >= 100L - n / 9,
      s"undercount bound violated: ${m("heavy")}")
    assert(m.size <= 16, "live entries bounded by 2*capacity")
  }
}

/** Spec-held forms: no query, Verify, Bench or perfbench reaches them. */
object ApproxStatsSpec {

  /** Per-group sketch profile: row count, approximate distinct of
    * `distinctCol`, and approximate quantiles of `valueCol`. */
  def approxProfile(df: DataFrame, groupCols: Seq[String], distinctCol: String,
      valueCol: String, quantiles: Seq[Double] = Seq(0.5, 0.95, 0.99),
      rsd: Double = 0.05, accuracy: Int = 10000): DataFrame = {
    val qArr = array(quantiles.map(lit): _*)
    df.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        approx_count_distinct(col(distinctCol), rsd).as(s"approx_distinct_$distinctCol"),
        approx_percentile(col(valueCol), qArr, lit(accuracy)).as(s"approx_q_$valueCol"))
  }

  /** Global approximate distinct of each given column in ONE pass over the
    * data (one HLL state per column — contrast COUNT(DISTINCT a), (DISTINCT
    * b), ... which Spark plans as an Expand: one input copy per column). */
  def approxDistinctEach(df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame =
    df.agg(
      approx_count_distinct(col(cols.head), rsd).as(s"approx_distinct_${cols.head}"),
      cols.tail.map(c => approx_count_distinct(col(c), rsd).as(s"approx_distinct_$c")): _*)
}
