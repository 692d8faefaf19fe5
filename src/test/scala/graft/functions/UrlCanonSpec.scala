package graft.functions

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import graft.operators.CorpusPipeline

class UrlCanonSpec extends SparkSpecBase {
  import spark.implicits._

  private def canon(url: String): String =
    Seq(Tuple1(url)).toDF("u")
      .select(UrlCanon.canonicalize($"u").as("c")).as[String].head()

  test("scheme and host lowercase; path case is preserved") {
    assert(canon("HTTP://EXAMPLE.COM/CaseSensitive/Path") ==
      "http://example.com/CaseSensitive/Path")
  }

  test("scheme-default ports strip; explicit non-default ports stay") {
    assert(canon("http://example.com:80/a") == "http://example.com/a")
    assert(canon("https://example.com:443/a") == "https://example.com/a")
    assert(canon("http://example.com:8080/a") == "http://example.com:8080/a")
    assert(canon("https://example.com:80/a") == "https://example.com:80/a",
      "80 is not https's default — must stay")
  }

  test("fragments strip; query params sort; duplicates and empties survive") {
    assert(canon("http://example.com/a#section") == "http://example.com/a")
    assert(canon("http://example.com/a?b=2&a=1") == "http://example.com/a?a=1&b=2")
    assert(canon("http://example.com/a?b=2&a=1#x") == "http://example.com/a?a=1&b=2")
    assert(canon("http://example.com/a?b=&b=2&a") == "http://example.com/a?a&b=&b=2")
  }

  test("empty path becomes '/'; whitespace trims") {
    assert(canon("http://example.com") == "http://example.com/")
    assert(canon("  http://example.com?a=1 ") == "http://example.com/?a=1")
  }

  test("non-URL strings pass through with only the fragment stripped") {
    assert(canon("not a url") == "not a url")
    assert(canon("relative/path#frag") == "relative/path")
  }

  test("the four fixture variants collapse to the expected canonical pair") {
    val urls = Seq(
      "http://Example.com/page7",
      "http://example.com:80/page7#frag",
      "HTTP://EXAMPLE.COM:80/page7?b=2&a=1",
      "http://example.com/page7?a=1&b=2#sec").map(canon)
    assert(urls(0) == "http://example.com/page7")
    assert(urls(1) == "http://example.com/page7")
    assert(urls(2) == "http://example.com/page7?a=1&b=2")
    assert(urls(3) == "http://example.com/page7?a=1&b=2")
  }

  test("dedupByUrl keeps the least-tiebreak row per canonical URL") {
    val df = Seq(
      (1L, "http://A.com/x", "first"),
      (2L, "http://a.com:80/x#f", "dup"),
      (3L, "http://a.com/y", "other"))
      .toDF("id", "url", "payload")
    val out = UrlCanon.dedupByUrl(df, "url", Seq(col("id")))
      .select($"id", $"url_canon", $"payload")
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, "http://a.com/x", "first"),
      (3L, "http://a.com/y", "other")))
  }

  test("host extracts the lowercase host, stripping userinfo and port") {
    def h(u: String) = Seq(Tuple1(u)).toDF("u")
      .select(UrlCanon.host($"u").as("h")).as[String].head()
    assert(h("http://crawler@HOST3.Example.COM:8080/page1") == "host3.example.com")
    assert(h("https://example.com/x?q=1") == "example.com")
    assert(h("http://example.com") == "example.com")
    assert(h("not a url") == "", "non-URLs map to the empty host")
  }

  test("domainCap keeps at most K docs per host, deterministically") {
    import graft.operators.DataMix
    val df = spark.range(70).select($"id".as("doc_id"),
      concat(lit("http://h"), pmod($"id", lit(2)), lit(".com/p"), $"id").as("url"))
    val out = DataMix.capPerGroupConstant(
      df, UrlCanon.host($"url"), $"doc_id", 10)
    val perHost = out
      .groupBy(UrlCanon.host($"url").as("h")).count()
      .as[(String, Long)].collect().toMap
    assert(perHost == Map("h0.com" -> 10L, "h1.com" -> 10L))
    val again = DataMix.capPerGroupConstant(
      df.repartition(7), UrlCanon.host($"url"), $"doc_id", 10)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(again ==
      out.select($"doc_id").as[Long].collect().sorted.toSeq,
      "the survivor set must be partitioning-invariant")
  }

  test("canonicalization is a pure projection: no shuffle, no UDF") {
    val plan = tbl("documents").select(UrlCanon.canonicalize($"text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("ScalaUDF"),
      s"canonicalize must stay codegen-friendly:\n$plan")
  }

  test("urlDedup slots before html_extract in the registry") {
    import graft.operators.CorpusPipeline._
    val wh = java.nio.file.Files.createTempDirectory("graft_urldedup").toString
    val docs = Seq(
      (1L, "http://A.com/x", "<p>hello world one</p>"),
      (2L, "http://a.com:80/x#f", "<p>hello world two</p>"),
      (3L, "http://a.com/y", "<p>other page text</p>"))
      .toDF("doc_id", "url", "html")
    val pipeline = dag(
      _ => docs,
      Seq(UrlCanonSpec.urlDedup("url", "doc_id"), htmlExtract("html")),
      warehouseDir = wh)
    val out = graft.operators.CorpusPipeline.run(spark, pipeline, "html_extract")
      .select($"doc_id", $"html").as[(Long, String)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 3L),
      "the URL-duplicate doc 2 must be gone before extraction")
    assert(out.head._2 == "hello world one")
  }
}

/** Spec-held forms: no query, Verify, Bench or perfbench reaches them. */
object UrlCanonSpec {

  /** URL canonicalization + keep-first URL dedup (q112/q113 operator) —
    * the crawl-entry dedup C4/RefinedWeb run BEFORE any content work;
    * slots ahead of `html_extract` so duplicate fetches of one page never
    * reach extraction. Adds `url_canon`; keeps the least-`tieBreak` row
    * per canonical URL. */
  def urlDedup(urlCol: String, tieBreak: String): CorpusPipeline.Stage =
    CorpusPipeline.stage("url_dedup")(df =>
      graft.functions.UrlCanon.dedupByUrl(df, urlCol, Seq(col(tieBreak))))
}
