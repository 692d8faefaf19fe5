package graft.multimodal

import graft.SparkSpecBase
import graft.functions.VectorOps
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpecBase {
  import spark.implicits._

  test("asBinaryAsset produces binary payload + typed metadata") {
    val df = Multimodal.asBinaryAsset(
      Seq((1L, "hello")).toDF("doc_id", "text"), "text", "text/plain")
    val row = df.select($"asset", $"asset_meta.content_type", $"asset_meta.byte_len").head()
    assert(row.getAs[Array[Byte]](0).toSeq == "hello".getBytes("UTF-8").toSeq)
    assert(row.getString(1) == "text/plain" && row.getInt(2) == 5)
  }

  test("batchEmbed runs the model in fixed-size batches incl. the remainder") {
    val docs = Multimodal.asBinaryAsset(
      tbl("documents").limit(25).select($"doc_id", $"text"), "text", "text/plain")
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val out = Multimodal.batchEmbed(docs, "doc_id", "asset", batchSize = 8) { batch =>
      batchSizes.add(batch.length)
      Multimodal.stubEncoder(16)(batch)
    }
    assert(out.count() == 25)
    assert(out.schema("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, false))
    import scala.jdk.CollectionConverters._
    assert(batchSizes.asScala.forall(_ <= 8), s"oversized batch: $batchSizes")
  }

  test("stub embeddings are deterministic and feed the similarity ops") {
    val docs = Multimodal.asBinaryAsset(
      Seq((1L, "same text"), (2L, "same text"), (3L, "different")).toDF("doc_id", "text"),
      "text", "text/plain")
    val emb = Multimodal.batchEmbed(docs, "doc_id", "asset", 2)(Multimodal.stubEncoder(8))
    val pairs = emb.as("a").join(emb.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        VectorOps.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(pairs((1L, 2L)) - 1.0) < 1e-12, "identical payloads -> identical embeddings")
    assert(pairs((1L, 3L)) < 1.0)
  }

  test("frameSample chunks the payload, honors stride, and reassembles losslessly") {
    val payload = (0 until 100).map(i => (i % 256).toByte).toArray
    val df = Seq((1L, payload)).toDF("id", "bin")
    val all = Multimodal.frameSample(df, "id", "bin", frameBytes = 16, stride = 1)
      .orderBy($"frame_idx").collect()
    assert(all.length == 7, "ceil(100/16) frames incl. the short tail")
    val reassembled = all.flatMap(_.getAs[Array[Byte]]("frame"))
    assert(reassembled.toSeq == payload.toSeq, "stride 1 must be lossless")
    assert(all.last.getAs[Array[Byte]]("frame").length == 4, "tail frame is short")
    val strided = Multimodal.frameSample(df, "id", "bin", frameBytes = 16, stride = 3)
      .select($"frame_idx").as[Int].collect().sorted
    assert(strided.toSeq == Seq(0, 3, 6))
  }

  test("readBinaryFiles ingests local files into the asset shape and feeds batchEmbed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bin")
    val img = Array.tabulate(300)(i => (i % 251).toByte)
    val wav = "RIFF....WAVE".getBytes("UTF-8")
    java.nio.file.Files.write(dir.resolve("cat.jpg"), img)
    java.nio.file.Files.write(dir.resolve("meow.wav"), wav)
    java.nio.file.Files.write(dir.resolve("notes.txt"), "hello".getBytes("UTF-8"))

    val assets = Multimodal.readBinaryFiles(spark, dir.toString)
    val rows = assets.orderBy($"asset_name").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("cat.jpg", "meow.wav", "notes.txt"))
    val byName = rows.map(r => r.getString(0) ->
      (r.getAs[Array[Byte]]("asset"), r.getStruct(2))).toMap
    assert(byName("cat.jpg")._1.toSeq == img.toSeq, "bytes must round-trip")
    assert(byName("cat.jpg")._2.getAs[String]("content_type") == "image/jpeg")
    assert(byName("cat.jpg")._2.getAs[Long]("byte_len") == 300L)
    assert(byName("meow.wav")._2.getAs[String]("content_type") == "audio/wav")
    assert(byName("notes.txt")._2.getAs[String]("content_type") == "application/octet-stream")

    // glob filter narrows the scan, and the ingested assets flow through
    // the batch-inference seam unchanged
    val jpgOnly = Multimodal.readBinaryFiles(spark, dir.toString, glob = "*.jpg")
    assert(jpgOnly.count() == 1)
    val withId = jpgOnly.withColumn("asset_id", lit(1L))
    val emb = Multimodal.batchEmbed(withId, "asset_id", "asset", batchSize = 4)(
      Multimodal.stubEncoder(8))
    val v = emb.select($"embedding").as[Seq[Float]].head()
    assert(v.length == 8 && v == Multimodal.stubEncoder(8)(Seq(img)).head.toSeq)
  }

  test("heavyStubEncoder: fixed FLOP budget, batch-split-invariant, memory-bounded seam") {
    import org.apache.spark.sql.functions._
    // 200 docs × 2 KiB payloads, a 1M-FMA "model" — heavy enough that a
    // non-batched or driver-collected seam would show, small enough for CI
    val docs = spark.range(200).select($"id".as("asset_id"),
      // binary payload derived per-row on the executors (no driver arrays)
      repeat(md5($"id".cast("string")), 64).cast("binary").as("asset"))
    val enc = MultimodalSpec.heavyStubEncoder(dim = 16, flops = 1000000L)
    def run(batchSize: Int) =
      Multimodal.batchEmbed(docs, "asset_id", "asset", batchSize)(enc)
        .orderBy($"asset_id").as[(Long, Seq[Float])].collect().toSeq
    val a = run(7)    // ragged batches incl. remainder
    val b = run(64)   // big batches
    assert(a.length == 200 && a == b,
      "embeddings must not depend on the batch split")
    // the per-batch working set is batchSize payloads, not the partition:
    // a 1-row batch size must also work (degenerate-memory case)
    assert(run(1) == a)
  }
}

object MultimodalSpec {

  /** Deterministic HEAVY stub encoder: same contract as
    * [[Multimodal.stubEncoder]] but burning a fixed FLOP budget per payload
    * (`flops` fused multiply-adds over a payload-seeded recurrence),
    * approximating what a real ONNX/TF forward pass costs at the seam — so
    * batching, memory, and throughput behavior of batchEmbed can be
    * validated without the actual model libs. Output depends only on the
    * payload, never on the batch split, so any batchSize produces identical
    * embeddings. */
  def heavyStubEncoder(dim: Int, flops: Long): Seq[Array[Byte]] => Seq[Array[Float]] = {
    require(dim > 0 && flops > 0, "dim and flops must be positive")
    batch => batch.map { bytes =>
      var seed = 0x9e3779b97f4a7c15L
      var i = 0
      while (i < bytes.length) { seed = seed * 31 + bytes(i); i += 1 }
      val acc = new Array[Float](dim)
      var x = java.lang.Double.longBitsToDouble(
        0x3ff0000000000000L | (seed >>> 12)) - 1.0 // [0,1) from the seed
      var f = 0L
      while (f < flops) {
        x = x * 1664525.0 % 1.0 + 2.3283064365386963e-10 // LCG-ish fma step
        acc((f % dim).toInt) += x.toFloat
        f += 1
      }
      acc
    }
  }
}
