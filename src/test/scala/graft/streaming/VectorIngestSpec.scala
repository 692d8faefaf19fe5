package graft.streaming

import graft.SparkSpecBase
import graft.sim.IvfPq
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.StreamingQuery

class VectorIngestSpec extends SparkSpecBase {
  import spark.implicits._

  private def emb = tbl("embeddings").select($"vec_id", $"embedding")

  private lazy val modelPath = {
    val model = IvfPq.fit(emb, "vec_id", "embedding",
      nlist = 8, m = 16, k = 32, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_vi_model").toString
    IvfPq.save(spark, model, dir)
    dir
  }

  private def rowsOf(n: Int, from: Int = 0): Seq[(Long, Seq[Float])] =
    emb.orderBy($"vec_id").limit(from + n).as[(Long, Seq[Float])]
      .collect().toSeq.drop(from)

  test("appended batches match the batch-built index exactly") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_vi").toString
    val in = MemoryStream[(Long, Seq[Float])]
    val q = VectorIngest.start(in.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", modelPath, s"$dir/index")
    in.addData(rowsOf(20): _*)
    q.processAllAvailable()
    in.addData(rowsOf(15, from = 20): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$dir/index")
      .orderBy($"vec_id").select("vec_id", "cid", "code")
      .as[(Long, Int, Seq[Int])].collect().toSeq
    val model = IvfPq.load(spark, modelPath)
    val batch = IvfPq.index(
        emb.orderBy($"vec_id").limit(35), "vec_id", "embedding", model)
      .orderBy($"vec_id").as[(Long, Int, Seq[Int])].collect().toSeq
    assert(streamed == batch,
      "streaming append must encode identically to the batch index build")
  }

  test("checkpoint restart resumes without re-appending processed rows") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_vi_ckpt").toString
    val in = MemoryStream[(Long, Seq[Float])]
    def startQ() = VectorIngest.start(in.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", modelPath, s"$dir/index",
      checkpointDir = Some(s"$dir/ckpt"))
    val q1 = startQ()
    in.addData(rowsOf(10): _*)
    q1.processAllAvailable()
    q1.stop()
    val q2 = startQ()
    in.addData(rowsOf(10, from = 10): _*)
    q2.processAllAvailable()
    q2.stop()
    val ids = spark.read.parquet(s"$dir/index")
      .select("vec_id").as[Long].collect().toSeq
    assert(ids.length == 20 && ids.distinct.length == 20,
      s"restart must not duplicate rows: ${ids.length} rows, ${ids.distinct.length} distinct")
  }

  test("the appended index still prunes unprobed cells at the file level") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_vi_prune").toString
    val in = MemoryStream[(Long, Seq[Float])]
    val q = VectorIngest.start(in.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", modelPath, s"$dir/index")
    in.addData(rowsOf(25): _*)
    q.processAllAvailable()
    in.addData(rowsOf(25, from = 25): _*)
    q.processAllAvailable()
    q.stop()
    val model = IvfPq.load(spark, modelPath)
    val qv = rowsOf(1).head._2.toArray
    val cells = IvfPq.nearestCells(qv, model.centroids, 2)
    val probed = spark.read.parquet(s"$dir/index").filter($"cid".isin(cells: _*))
    probed.collect()
    val scan = probed.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val present = spark.read.parquet(s"$dir/index")
      .select("cid").distinct().as[Int].collect().toSet
    val expected = cells.toSet.intersect(present).size
    assert(scan.selectedPartitions.partitionCount == expected,
      s"expected $expected cid partitions read, got ${scan.selectedPartitions.partitionCount}")
    // and the probed rows serve a top-k end to end
    val top = IvfPq.topK(probed, "vec_id", qv, model, 5, nprobe = 2)
    assert(top.count() == 5)
  }
}

// Spec-held: no query, Verify, Bench or perfbench reaches it.
/** Streaming refresh of the IVFPQ vector index: each micro-batch of new
  * embeddings is encoded with the PERSISTED model (IvfPq.load — no refit,
  * the codebooks are a serving artifact, not per-batch state) and appended
  * to the (id, cid, code) index partitioned by cid, so probes over the
  * grown index keep pruning unprobed cells at the file level. The batch
  * analog is `IvfPq.index(...).write.partitionBy("cid")`; this wires the
  * same projection into a `foreachBatch` loop (same pattern as
  * DocIngest / RecsTable.streamRefresh). Reference analog: the
  * periodically re-exported serving artifact,
  * the reference's src/app/pred_inspector.py:23-41.
  *
  * Scale notes: encoding is a pure projection (zero shuffle — the same
  * plan IvfPqSpec asserts exchange-free), so per-batch cost is linear in
  * batch size and INDEPENDENT of index size; history is never re-encoded.
  * State lives entirely in the index parquet + the stream checkpoint:
  * restart-safe, nothing to rebuild on the executors. Quantization drift
  * is the operator's known trade: a model fit on yesterday's distribution
  * encodes today's vectors with higher error — refit offline when recall
  * degrades and rebuild once, exactly like the reference's retrain loop.
  * The trade is QUANTIFIED in PqDriftSpec (and SCALE.md): on a
  * deterministically shifted batch, stale codebooks served full-ADC
  * recall@10 = 0.12 vs 0.56 after refit — monitor served recall against
  * an exact-rerank sample and rebuild when it degrades past ~2×.
  */
private object VectorIngest {

  /** Start the index-append stream. `modelPath` must hold an
    * [[IvfPq.save]] artifact; the model is loaded once at start (bounded
    * driver-side matrices). Pass `checkpointDir` for a restartable
    * production stream — without it a restarted query replays the source
    * from offset zero and re-appends every historical row. */
  def start(stream: DataFrame, idCol: String, vecCol: String,
      modelPath: String, indexPath: String,
      checkpointDir: Option[String] = None): StreamingQuery = {
    val model = IvfPq.load(stream.sparkSession, modelPath)
    val writer = stream.writeStream.outputMode("append")
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        IvfPq.index(batch.toDF(), idCol, vecCol, model)
          .write.partitionBy("cid").mode("append").parquet(indexPath)
        ()
      }
      .start()
  }
}
