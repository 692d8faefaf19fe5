package graft.streaming

import graft.SparkSpecBase
import graft.operators.CorpusPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.dedup.TextDedup

/** The composed streaming crawl pipeline END TO END: html_extract →
  * quality gate → PII redact → token count per micro-batch, then
  * incremental near-dup suppression against the persisted signature
  * index, survivors (with n_tokens) to the sink. Pins batch ≡ stream on
  * the COMPOSED chain and checkpoint-restart exactly-once. */
class CrawlIngestSpec extends SparkSpecBase {
  import spark.implicits._

  private def body(words: Int, tag: String) =
    (Seq("the", "and") ++ (1 to words).map(i => s"$tag$i")).mkString(" ")

  private def page(id: Long, text: String) =
    (id, s"<html><head><title>p$id</title></head><body><!-- c --><p>$text</p></body></html>")

  private val stages = Seq(
    CorpusPipeline.htmlExtract("text"),
    CorpusPipeline.stage("drop_title")(_.drop("title")),
    CorpusPipeline.qualityGate("text", minStopwords = 1),
    CorpusPipeline.piiRedact("text"),
    CorpusPipeline.tokenCount("text"))

  private val pages = Seq(
    page(1L, body(58, "alpha") + " mail me at a@example.com"),
    page(2L, "too short"), // fails the quality gate
    page(3L, body(58, "alpha")), // near-dup of 1 (same core text)
    page(4L, body(58, "beta")))

  test("streamed crawl chain equals the batch composition (composed parity)") {
    implicit val sqlCtx = spark.sqlContext
    val indexPath =
      java.nio.file.Files.createTempDirectory("graft_crawl").toString + "/index"
    val seen = mutable.ArrayBuffer[(Long, String, Int)]()
    val in = MemoryStream[(Long, String)]
    val q = CrawlIngest.start(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", stages, indexPath, shingleN = 4, threshold = 0.5) {
      kept => seen ++= kept.select(col("doc_id"), col("text"), col("n_tokens"))
        .as[(Long, String, Int)].collect()
    }
    in.addData(pages: _*)
    q.processAllAvailable()
    q.stop()
    val batch = CrawlIngest.batch(pages.toDF("doc_id", "text"),
        "doc_id", "text", stages, shingleN = 4, threshold = 0.5)
      .select(col("doc_id"), col("text"), col("n_tokens"))
      .as[(Long, String, Int)].collect().toSeq.sortBy(_._1)
    assert(seen.sortBy(_._1).toSeq == batch,
      "one micro-batch must equal the batch composition row for row")
    val ids = batch.map(_._1)
    assert(ids.contains(1L) && !ids.contains(2L) && !ids.contains(3L) &&
      ids.contains(4L),
      s"gate drops 2, near-dup drops 3, 1 and 4 survive: $ids")
    assert(batch.forall(!_._2.contains("a@example.com")), "PII scrubbed")
    assert(batch.forall(_._3 > 50), "token counts ride through the chain")
  }

  test("later batches dedup against earlier batches via the index") {
    implicit val sqlCtx = spark.sqlContext
    val indexPath =
      java.nio.file.Files.createTempDirectory("graft_crawl2").toString + "/index"
    val seen = mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, String)]
    val q = CrawlIngest.start(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", stages, indexPath, shingleN = 4, threshold = 0.5) {
      kept => seen ++= kept.select(col("doc_id")).as[Long].collect()
    }
    in.addData(page(1L, body(58, "alpha")))
    q.processAllAvailable()
    in.addData(page(10L, body(58, "alpha")), page(11L, body(58, "gamma")))
    q.processAllAvailable()
    q.stop()
    assert(seen.sorted.toSeq == Seq(1L, 11L),
      s"doc 10 duplicates batch-1's doc 1 and must be suppressed: $seen")
  }

  test("checkpoint restart resumes exactly-once on the composed chain") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_crawl_ckpt").toString
    val seen = mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, String)]
    def startQ() = CrawlIngest.start(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", stages, s"$dir/index", shingleN = 4,
        threshold = 0.5, checkpointDir = Some(s"$dir/ckpt")) {
      kept => seen ++= kept.select(col("doc_id")).as[Long].collect()
    }
    val q1 = startQ()
    in.addData(page(1L, body(58, "alpha")))
    q1.processAllAvailable()
    q1.stop()
    val q2 = startQ()
    in.addData(page(2L, body(58, "delta")))
    q2.processAllAvailable()
    q2.stop()
    assert(seen.sorted.toSeq == Seq(1L, 2L),
      s"restart must neither drop nor re-sink processed docs: $seen")
    val indexed = spark.read.parquet(s"$dir/index")
      .select("doc_id").as[Long].collect().toSeq
    assert(indexed.sorted == Seq(1L, 2L) && indexed.distinct.size == 2,
      s"index must hold each survivor's signatures exactly once: $indexed")
  }
}

// Spec-held: no query, Verify, Bench or perfbench reaches it.
/** The full streaming crawl-entry path to the shard boundary: the
  * registry's ROW-LOCAL stages (URL dedup aside — see below; html
  * extraction, quality/classifier gates, PII redaction, token count are
  * pure projections/filters, so batch ≡ stream by construction —
  * CorpusIngestSpec pins it) run per micro-batch, then the batch's
  * survivors dedup incrementally against the persisted signature index
  * exactly as [[DocIngest]] does, and the sink receives the survivors
  * WITH their stage columns (n_tokens and friends — the shape the batch
  * shard packer reads). The order-dependent tail (seeded shuffle, shard/
  * example packing — cross-row prefix sums over the whole corpus) stays
  * batch territory: a pre-training run packs a FROZEN corpus snapshot,
  * so the stream's job ends at "clean, deduped, counted rows in the
  * corpus store", and the packer runs once per snapshot.
  *
  * Stages that SHUFFLE per batch (urlDedup's keep-first window,
  * classifierScore's featurize join) are legal here — they dedup within
  * each micro-batch, while cross-batch suppression is the signature
  * index's job — but each adds a per-batch exchange; keep micro-batches
  * coarse enough to amortize.
  *
  * Scale notes: identical to DocIngest — per-batch cost is the stage
  * chain (linear, codegen) + the batch's LSH pipeline + one (band, hash)
  * shuffle against the index; state lives entirely in the index parquet
  * + the stream checkpoint, so restart is exactly-once without executor
  * state.
  */
private object CrawlIngest {

  /** Start the composed ingest stream; `sink` receives each batch's
    * surviving rows with every column the stage chain produced. */
  def start(stream: DataFrame, idCol: String, textCol: String,
      stages: Seq[CorpusPipeline.Stage], indexPath: String,
      shingleN: Int = 8, numHashes: Int = 16, rowsPerBand: Int = 2,
      threshold: Double = 0.7, checkpointDir: Option[String] = None)
      (sink: DataFrame => Unit): StreamingQuery = {
    val writer = stream.writeStream.outputMode("append")
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val spark = batch.sparkSession
        val staged = stages.foldLeft(batch.toDF()) { (d, st) => st.f(spark, d) }
        val outCols = staged.columns.toSeq
        val toked = staged.withColumn("__toks",
          graft.functions.TextOps.tokens(col(textCol)))
        val sh: Column = graft.functions.TextOps.wordShingles(col("__toks"), shingleN)
        val selfDeduped = TextDedup.dropNearDuplicates(
          toked, idCol, sh, numHashes, rowsPerBand, threshold)
        val kept = DocIngest.indexSigsIfAny(spark, indexPath) match {
          case Some(idx) => TextDedup.dedupAgainstIndex(
            selfDeduped, idCol, sh, idx, numHashes, rowsPerBand, threshold)
          case None => selfDeduped
        }
        val keptRows = kept.cache()
        try {
          sink(keptRows.select(outCols.map(col): _*))
          TextDedup.minhashSignatures(
              keptRows.filter(size(sh) > 0), idCol, sh, numHashes)
            .write.mode("append").parquet(indexPath)
        } finally keptRows.unpersist()
        ()
      }
      .start()
  }

  /** The same composition over a STATIC frame — the batch reference the
    * parity spec compares the streamed result against (and the one-shot
    * form for reprocessing a frozen crawl dump). */
  def batch(df: DataFrame, idCol: String, textCol: String,
      stages: Seq[CorpusPipeline.Stage], shingleN: Int = 8,
      numHashes: Int = 16, rowsPerBand: Int = 2,
      threshold: Double = 0.7): DataFrame = {
    val spark = df.sparkSession
    val staged = stages.foldLeft(df) { (d, st) => st.f(spark, d) }
    val outCols = staged.columns.toSeq
    val toked = staged.withColumn("__toks",
      graft.functions.TextOps.tokens(col(textCol)))
    val sh: Column = graft.functions.TextOps.wordShingles(col("__toks"), shingleN)
    TextDedup.dropNearDuplicates(toked, idCol, sh, numHashes, rowsPerBand, threshold)
      .select(outCols.map(col): _*)
  }
}
