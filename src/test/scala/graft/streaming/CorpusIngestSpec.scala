package graft.streaming

import graft.SparkSpecBase
import graft.functions.{GopherQuality, Pii}
import graft.operators.CorpusPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The composed streaming corpus-ingest pipeline: Gopher quality gate →
  * PII redaction → incremental near-dup suppression. All three stages are
  * plain Column expressions / foreachBatch dataflow, so the composition
  * needs NO new operator — these tests pin that it actually composes, and
  * that the streamed result equals the batch composition. */
class CorpusIngestSpec extends SparkSpecBase {
  import spark.implicits._

  // ≥50 words, mean length in [3,10], contains stopwords → passes Gopher
  private val good =
    (Seq("the", "and") ++ (1 to 58).map(i => s"word$i")).mkString(" ")
  private val tooShort = "the and tiny"
  private val withPii = good + " contact someone@example.com now"

  test("quality gate and PII scrub compose upstream of streaming dedup") {
    implicit val sqlCtx = spark.sqlContext
    val indexPath =
      java.nio.file.Files.createTempDirectory("graft_corpus").toString + "/index"
    val seen = mutable.ArrayBuffer[(Long, String)]()
    val in = MemoryStream[(Long, String)]
    val cleaned = in.toDF().toDF("doc_id", "text")
      .filter(GopherQuality.keepExpr(col("text")))
      .withColumn("text", Pii.redact(col("text")))
    val q = DocIngest.start(cleaned, "doc_id", "text", indexPath,
        shingleN = 4, threshold = 0.5) { kept =>
      seen ++= kept.as[(Long, String)].collect()
    }
    in.addData((1L, good), (2L, tooShort), (3L, withPii))
    q.processAllAvailable()
    q.stop()
    val byId = seen.sortBy(_._1)
    // doc 2 failed the quality gate; doc 3 is a near-dup of doc 1 AFTER
    // redaction-irrelevant filtering (same 58-word core) — only 1 survives
    // if dedup catches it, and its PII must already be scrubbed either way
    assert(byId.map(_._1).contains(1L) && !byId.map(_._1).contains(2L))
    assert(byId.forall(!_._2.contains("someone@example.com")),
      s"PII must be scrubbed before the sink: $byId")
  }

  test("row-local CorpusPipeline stages run unchanged on a stream (batch ≡ stream)") {
    // the registry's row-local stages (extract / gates / redact / count)
    // are pure projections+filters, so the SAME Stage functions apply to
    // a readStream frame; only the order-dependent tail (shuffle/shard,
    // example pack — cross-row prefix sums) is batch territory
    import graft.operators.CorpusPipeline
    implicit val sqlCtx = spark.sqlContext
    val m = graft.features.QualityClassifier.Model(
      Seq("n_words", "n_stop"), Array(0.05, 0.5), -2.0)
    val stages = Seq(
      CorpusPipeline.htmlExtract("text"),
      CorpusPipeline.stage("drop_title")(_.drop("title")),
      CorpusPipeline.classifierGate("text", m),
      CorpusPipeline.piiRedact("text"),
      CorpusIngestSpec.deflateGate("text"), // row-local: rides the stream too
      CorpusIngestSpec.scriptCensus("text"),
      CorpusPipeline.tokenCount("text"))
    def applyStages(df: org.apache.spark.sql.DataFrame) =
      stages.foldLeft(df)((d, st) => st.f(spark, d))
    val pages = Seq(
      (1L, s"<html><head><title>one</title></head><body><p>$good</p></body></html>"),
      (2L, s"<body><p>$tooShort</p></body>"),          // fails the gate
      (3L, s"<body><!-- c --><p>$withPii</p></body>")) // PII scrubbed
    val expected = applyStages(pages.toDF("doc_id", "text"))
      .select($"doc_id", $"text", $"n_tokens", $"main_script")
      .as[(Long, String, Int, String)].collect().toSeq.sortBy(_._1)
    val seen = mutable.ArrayBuffer[(Long, String, Int, String)]()
    val in = MemoryStream[(Long, String)]
    val q = applyStages(in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        seen ++= b.select(col("doc_id"), col("text"), col("n_tokens"), col("main_script"))
          .as[(Long, String, Int, String)].collect(); ()
      }.start()
    in.addData(pages: _*)
    q.processAllAvailable()
    q.stop()
    assert(seen.sortBy(_._1).toSeq == expected)
    assert(expected.map(_._1) == Seq(1L, 3L), "gate must drop doc 2 in both modes")
    assert(expected.forall(!_._2.contains("@example.com")), "PII scrubbed in both modes")
    assert(expected.forall(_._4 == "latin"), "census rides the stream unchanged")
  }

  test("streamed composition equals the batch composition") {
    implicit val sqlCtx = spark.sqlContext
    val indexPath =
      java.nio.file.Files.createTempDirectory("graft_corpus").toString + "/index"
    val rows = Seq((1L, good), (2L, tooShort), (3L, withPii),
      (4L, (Seq("the", "of") ++ (1 to 55).map(i => s"other$i")).mkString(" ")))

    // batch form: filter → redact → self-dedup
    val batch = rows.toDF("doc_id", "text")
      .filter(GopherQuality.keepExpr(col("text")))
      .withColumn("text", Pii.redact(col("text")))
    val toked = batch.select(col("doc_id"), col("text"),
      graft.functions.TextOps.tokens(col("text")).as("__toks"))
    val expected = graft.dedup.TextDedup.dropNearDuplicates(
        toked, "doc_id",
        graft.functions.TextOps.wordShingles(col("__toks"), 4),
        numHashes = 16, rowsPerBand = 2, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSeq.sorted

    val seen = mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, String)]
    val cleaned = in.toDF().toDF("doc_id", "text")
      .filter(GopherQuality.keepExpr(col("text")))
      .withColumn("text", Pii.redact(col("text")))
    val q = DocIngest.start(cleaned, "doc_id", "text", indexPath,
        shingleN = 4, threshold = 0.5) { kept =>
      seen ++= kept.select("doc_id").as[Long].collect()
    }
    in.addData(rows: _*) // one batch: stream self-dedup == batch self-dedup
    q.processAllAvailable()
    q.stop()
    assert(seen.sorted.toSeq == expected)
  }
}

/** Spec-held forms: no query, Verify, Bench or perfbench reaches them. */
object CorpusIngestSpec {

  /** Unicode-script census (q126 operator) as an APPENDING row-local
    * stage: per-script char counts + digits + argmax `main_script` added
    * to every row — the zero-model language triage a multilingual crawl
    * runs before routing to per-language gates. Pure codegen projection,
    * so it is batch≡stream like the other row-local stages. */
  def scriptCensus(textCol: String): CorpusPipeline.Stage =
    CorpusPipeline.stage("script_census")(
      graft.functions.LangId.withScriptProfile(_, textCol))

  /** Compression-ratio gate (the q139 signal as a row-local stage): keep
    * docs whose DEFLATE ratio lies in [minRatio, maxRatio] — below the
    * floor is template spam / repeated boilerplate, above the ceiling is
    * gibberish or binary soup (MassiveText's compressibility band). Pure
    * per-row filter over the codegen graft_deflate_len expression —
    * pushdown-friendly, zero shuffle; requires GraftFunctions.register
    * (handled by the session bootstrap paths that run registry stages).
    * Empty docs divide a 2-byte deflate floor by octet_length 0 → NULL
    * ratio → dropped (an empty doc passes no quality band). */
  def deflateGate(textCol: String, minRatio: Double = 0.05,
      maxRatio: Double = 0.98): CorpusPipeline.Stage =
    CorpusPipeline.stage("deflate_gate")(df => {
      graft.sql.GraftFunctions.register(df.sparkSession)
      df.filter((graft.sql.GraftFunctions.deflateLen(col(textCol))
        .cast("double") / octet_length(col(textCol)))
        .between(minRatio, maxRatio))
    })
}
