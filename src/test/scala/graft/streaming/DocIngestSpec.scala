package graft.streaming

import graft.SparkSpecBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.dedup.TextDedup

class DocIngestSpec extends SparkSpecBase {
  import spark.implicits._

  private val base =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"

  private def freshDirs() = {
    val d = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    (s"$d/index", s"$d/out")
  }

  test("later batches dedup against earlier batches through the index") {
    implicit val sqlCtx = spark.sqlContext
    val (indexPath, _) = freshDirs()
    val seen = mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, String)]
    val q = DocIngest.start(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", indexPath, shingleN = 4, threshold = 0.5) { kept =>
      seen ++= kept.select("doc_id").as[Long].collect()
    }
    in.addData((1L, base), (2L, "one two three four five six seven eight"))
    q.processAllAvailable()
    assert(seen.sorted.toSeq == Seq(1L, 2L))
    // batch 2: a near-dup of doc 1 (tail word changed), plus novel content
    in.addData((10L, base + " nu"),
      (11L, "totally different words with no overlap whatsoever in sight"))
    q.processAllAvailable()
    q.stop()
    assert(seen.sorted.toSeq == Seq(1L, 2L, 11L))
    // the index holds signatures for every surviving doc
    val idx = spark.read.parquet(indexPath)
    assert(idx.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 11L))
  }

  test("within-batch near-dups collapse before touching the index") {
    implicit val sqlCtx = spark.sqlContext
    val (indexPath, _) = freshDirs()
    val seen = mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, String)]
    val q = DocIngest.start(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", indexPath, shingleN = 4, threshold = 0.5) { kept =>
      seen ++= kept.select("doc_id").as[Long].collect()
    }
    // two near-identical docs in ONE batch: smaller id wins
    in.addData((5L, base), (6L, base + " omega"))
    q.processAllAvailable()
    q.stop()
    assert(seen.sorted.toSeq == Seq(5L))
    assert(spark.read.parquet(indexPath).count() == 1)
  }

  test("docs too short to shingle pass through and never poison the index") {
    implicit val sqlCtx = spark.sqlContext
    val (indexPath, _) = freshDirs()
    val seen = mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, String)]
    val q = DocIngest.start(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", indexPath, shingleN = 4, threshold = 0.5) { kept =>
      seen ++= kept.select("doc_id").as[Long].collect()
    }
    in.addData((1L, "too short"), (2L, base))
    q.processAllAvailable()
    in.addData((3L, "also tiny"))
    q.processAllAvailable()
    q.stop()
    assert(seen.sorted.toSeq == Seq(1L, 2L, 3L))
    // index only carries shingle-able docs
    assert(spark.read.parquet(indexPath).count() == 1)
  }
}

// Spec-held: no query, Verify, Bench or perfbench reaches it.
/** Streaming document ingestion with incremental near-dup suppression:
  * each micro-batch is deduped against the persisted signature index
  * (TextDedup.dedupAgainstIndex), survivors are handed to the caller's
  * sink, and their signatures are APPENDED to the index — so later
  * batches also dedup against earlier ones. The batch analog is
  * `saveSignatureIndex` + `dedupAgainstIndex`; this wires the same two
  * artifacts into a `foreachBatch` loop (same pattern as
  * RecsTable.streamRefresh).
  *
  * Scale notes: per micro-batch cost is the batch's LSH pipeline + one
  * (band, hash) shuffle against the index — linear in index size, never
  * rescanning ingested text. State lives entirely in the index parquet
  * (k longs per doc): restart-safe, no executor state to rebuild. Within
  * a micro-batch, duplicates OF EACH OTHER are also collapsed (standard
  * dropNearDuplicates) so the index never absorbs two copies at once.
  */
private object DocIngest {

  /** Start the ingest stream; `sink` receives each batch's surviving rows.
    * Pass `checkpointDir` for a restartable production stream — without it
    * Spark uses a temp checkpoint and a restarted query replays the source
    * from offset zero (every old doc re-pays its LSH pass just to be
    * re-suppressed against its own signatures). */
  def start(stream: DataFrame, idCol: String, textCol: String,
      indexPath: String, shingleN: Int = 8, numHashes: Int = 16,
      rowsPerBand: Int = 2, threshold: Double = 0.7,
      checkpointDir: Option[String] = None)
      (sink: DataFrame => Unit): StreamingQuery = {
    val writer = stream.writeStream
      .outputMode("append")
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val spark = batch.sparkSession
        val toked = batch.select(col(idCol), col(textCol),
          graft.functions.TextOps.tokens(col(textCol)).as("__toks"))
        val sh: Column = graft.functions.TextOps.wordShingles(col("__toks"), shingleN)
        // collapse within-batch near-dups first, then check the index
        val selfDeduped = TextDedup.dropNearDuplicates(
          toked, idCol, sh, numHashes, rowsPerBand, threshold)
        val kept = indexSigsIfAny(spark, indexPath) match {
          case Some(idx) => TextDedup.dedupAgainstIndex(
            selfDeduped, idCol, sh, idx, numHashes, rowsPerBand, threshold)
          case None => selfDeduped
        }
        // materialize survivors ONCE (kept is reused by sink + append)
        val keptRows = kept.select(col(idCol), col(textCol), col("__toks")).cache()
        try {
          sink(keptRows.select(col(idCol), col(textCol)))
          TextDedup.minhashSignatures(
              keptRows.filter(size(sh) > 0), idCol, sh, numHashes)
            .write.mode("append").parquet(indexPath)
        } finally keptRows.unpersist()
        ()
      }
      .start()
  }

  private[streaming] def indexSigsIfAny(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[DataFrame] =
    try {
      val df = spark.read.parquet(path)
      if (df.columns.contains("sig_0")) Some(df) else None
    } catch { case _: org.apache.spark.sql.AnalysisException => None }
}
