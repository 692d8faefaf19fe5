package graft.functions

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class GopherQualitySpec extends SparkSpecBase {
  import spark.implicits._

  // a passing baseline: 60 words, mean length in [3,10], stopwords present
  private val good =
    (Seq("the", "and") ++ (1 to 58).map(i => s"word$i")).mkString(" ")

  private def docs(rows: (Long, String)*) = rows.toSeq.toDF("id", "text")

  private def kept(rows: (Long, String)*): Seq[Long] =
    GopherQualitySpec.filterDocs(docs(rows: _*), "text")
      .select($"id").as[Long].collect().toSeq.sorted

  test("the passing baseline passes; each rule violation alone rejects") {
    val tooShort = "the and word"                       // < 50 words
    val shortWords = (Seq("the", "and") ++ (1 to 58).map(_ => "a")).mkString(" ")
    val symbols = good + " " + (1 to 10).map(_ => "#").mkString(" ")
    val nonAlpha = (Seq("the", "and") ++ (1 to 58).map(i => s"$i")).mkString(" ")
    val noStop = (1 to 60).map(i => s"word$i").mkString(" ")
    assert(kept(
      (1L, good), (2L, tooShort), (3L, shortWords),
      (4L, symbols), (5L, nonAlpha), (6L, noStop)) == Seq(1L))
  }

  test("bullet and ellipsis line ratios use lines, not words") {
    val bullets = (1 to 10).map(i => s"- ${good}").mkString("\n")  // 100% bullet lines
    val ellipses = (1 to 10).map(i => s"$good ...").mkString("\n") // 100% ellipsis ends
    val fewBullets = (Seq(s"- $good") ++ (1 to 9).map(_ => good)).mkString("\n")
    assert(kept((1L, bullets), (2L, ellipses), (3L, fewBullets)) == Seq(3L))
  }

  test("stopword detection is case-insensitive and whole-token") {
    val upper = (Seq("The", "AND") ++ (1 to 58).map(i => s"word$i")).mkString(" ")
    // 'theory' contains 'the' as a substring but is not the token 'the'
    val substr = (Seq("theory", "android") ++ (1 to 58).map(i => s"word$i")).mkString(" ")
    assert(kept((1L, upper), (2L, substr)) == Seq(1L))
  }

  test("metrics emits integer rule evidence consistent with keep") {
    val m = GopherQuality.metrics(docs((1L, good)), "id", "text")
      .select($"n_words", $"total_len", $"n_alpha", $"n_stop", $"keep")
      .as[(Int, Int, Int, Int, Boolean)].head()
    assert(m._1 == 60 && m._3 == 60 && m._4 == 2 && m._5)
    assert(m._2 >= 3 * m._1 && m._2 <= 10 * m._1)
  }

  test("factored metrics == the original inline expressions, all columns") {
    // round 15: metrics() materializes the token/line arrays once and
    // n_stop moved from filter(stopwords, array_contains(lowerToks, _)) to
    // size(array_intersect(stopwords, lowerToks)) — this pins value
    // equality against the ORIGINAL inline forms on edge-shaped text
    // (empty, whitespace-only, dup stopwords, unicode bullets, no-newline)
    val fixtures = Seq(
      (1L, good), (2L, ""), (3L, "   "), (4L, "the the THE tHe and"),
      (5L, "• bulleted\n- dash\n* star\nplain ..."),
      (6L, "one-line no newline with the and of"),
      (7L, (1 to 80).map(i => s"w$i").mkString("\n")))
    val d = docs(fixtures: _*)
    val toks = split(trim(col("text")), "\\s+")
    val lowerToks = transform(toks, x => lower(x))
    val lines = split(col("text"), "\n")
    val orig = d.select(col("id"),
      size(toks).as("n_words"),
      aggregate(toks, lit(0), (acc, x) => acc + length(x)).as("total_len"),
      size(filter(toks, x => x.rlike("[A-Za-z]"))).as("n_alpha"),
      (regexp_count(col("text"), lit("#")) +
        regexp_count(col("text"), lit("\\.\\.\\."))).cast("int").as("n_sym"),
      size(lines).as("n_lines"),
      size(filter(lines, l => ltrim(l).rlike("^[-*•]"))).as("n_bullet"),
      size(filter(lines, l => rtrim(l).rlike("\\.\\.\\.$"))).as("n_ellipsis"),
      size(filter(array(GopherQuality.Stopwords.map(lit(_)): _*),
        s => array_contains(lowerToks, s))).as("n_stop"))
      .orderBy("id").collect().toSeq
    val now = GopherQuality.metrics(d, "id", "text").drop("keep")
      .orderBy("id").collect().toSeq
    assert(now === orig)
  }

  test("the battery is a pure per-row filter: no shuffle, no join, no UDF") {
    val plan = GopherQualitySpec.filterDocs(docs((1L, good)), "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"quality filtering must not shuffle:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"rules must stay codegen expressions:\n$plan")
  }
}

/** Spec-held forms: no query, Verify, Bench or perfbench reaches them. */
object GopherQualitySpec {

  /** The filter itself: documents passing every rule, original columns
    * untouched. A plain per-row Filter — no join, no shuffle. */
  def filterDocs(docs: DataFrame, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minStopwords: Int = 2): DataFrame =
    docs.filter(GopherQuality.keepExpr(col(textCol), minWords, maxWords, minStopwords))
}
