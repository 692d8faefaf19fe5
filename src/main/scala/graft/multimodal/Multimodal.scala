package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column support (SURVEY §2.1 S12 / §2.8 F14; reference: image
  * fetch + CLIP encoding, app_utils.py:10-26, my_merlin_flow.py:586-599):
  * media as opaque BinaryType columns with typed metadata, batch feature
  * extraction through a mapPartitions seam, embeddings landing in the same
  * ArrayType(FloatType) column the similarity ops consume.
  *
  * The actual decoders (image/audio libs) are NOT in this environment — the
  * model functions below are deterministic STUBS standing in for them; the
  * Spark-side plumbing (schema, batching, partitioning) is real and tested.
  */
object Multimodal {

  /** Wrap a string column as a binary asset column + metadata struct
    * (content type, byte length) — the shape an image-bytes ingest
    * produces. */
  def asBinaryAsset(df: DataFrame, srcCol: String, contentType: String,
      binCol: String = "asset", metaCol: String = "asset_meta"): DataFrame =
    df.withColumn(binCol, col(srcCol).cast("binary"))
      .withColumn(metaCol, struct(
        lit(contentType).as("content_type"),
        octet_length(col(binCol)).as("byte_len")))

  private val extContentTypes = Map(
    "jpg" -> "image/jpeg", "jpeg" -> "image/jpeg", "png" -> "image/png",
    "gif" -> "image/gif", "webp" -> "image/webp", "mp4" -> "video/mp4",
    "mkv" -> "video/x-matroska", "wav" -> "audio/wav", "mp3" -> "audio/mpeg",
    "flac" -> "audio/flac")

  /** File → BinaryType ingestion through Spark's distributed `binaryFile`
    * source — the front half of the reference's URL→bytes fetch
    * (app_utils.py:10-26), offline form: the fetch loop becomes a
    * partitioned scan (any Hadoop-compatible FS), with pushdown-capable
    * length/modificationTime filters instead of per-row HTTP. Output rows
    * are already in the asBinaryAsset shape: asset_name, asset bytes, and
    * an asset_meta struct (content type inferred from the extension,
    * byte_len, full path, mtime µs) — feed straight into batchEmbed /
    * frameSample.
    */
  def readBinaryFiles(spark: SparkSession, dir: String, glob: String = "*"): DataFrame = {
    val raw = spark.read.format("binaryFile")
      .option("pathGlobFilter", glob).load(dir)
    val ext = lower(element_at(split(col("path"), "\\."), -1))
    val ctype = extContentTypes.foldLeft(lit("application/octet-stream")) {
      case (acc, (e, t)) => when(ext === e, lit(t)).otherwise(acc)
    }
    raw.select(
      regexp_extract(col("path"), "([^/]+)$", 1).as("asset_name"),
      col("content").as("asset"),
      struct(ctype.as("content_type"), col("length").as("byte_len"),
        col("path").as("path"),
        unix_micros(col("modificationTime")).as("modified_us")).as("asset_meta"))
  }

  /** Batch-inference seam (the to-the-model boundary, reference
    * my_merlin_flow.py:586-599): runs `model` over fixed-size batches of
    * binary payloads per partition — the shape a real ONNX/TF runtime wants
    * — with no driver-side collection. Output: (idCol, outCol float[dim]).
    */
  def batchEmbed(df: DataFrame, idCol: String, binCol: String,
      batchSize: Int, outCol: String = "embedding")(
      model: Seq[Array[Byte]] => Seq[Array[Float]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val embs = model(batch.map(_._2))
          require(embs.length == batch.length, "model must return one vector per input")
          batch.map(_._1).zip(embs)
        }
      }
      .toDF(idCol, outCol)
  }

  /** Deterministic stub "encoder": md5-seeded pseudo-embedding. Stands in
    * for a real CLIP-style model (not available in this container); useful
    * for exercising the full pipeline shape deterministically. */
  def stubEncoder(dim: Int): Seq[Array[Byte]] => Seq[Array[Float]] =
    batch => batch.map { bytes =>
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(dim) { i =>
        val h = md.digest((i.toString + ":").getBytes("UTF-8") ++ bytes)
        ((h(0) & 0xff) << 8 | (h(1) & 0xff)).toFloat / 65535f
      }
    }

  /** Pure-Column fake feature extraction (the SQL-expressible stand-in used
    * by the oracle-checked query): component j = the j-th 4-hex-digit chunk
    * of md5(payload), scaled to [0,1]. */
  def hashFeature(bin: Column, j: Int): Column =
    conv(substring(md5(bin), j * 4 + 1, 4), 16, 10).cast("int").cast("double") / 65535.0

  /** Frame sampling over an opaque video-like payload: treat the binary as
    * consecutive `frameBytes` frames and emit every `stride`-th one with
    * its index — the Spark-side shape (schema, explode, downstream
    * batching) a real demuxer fills in at the same seam as batchEmbed.
    * Output: (idCol, frame_idx int, frame binary).
    */
  def frameSample(df: DataFrame, idCol: String, binCol: String,
      frameBytes: Int, stride: Int): DataFrame = {
    require(frameBytes > 0 && stride > 0, "frameBytes and stride must be positive")
    df.select(col(idCol), col(binCol))
      .filter(octet_length(col(binCol)) > 0)
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(0), ((octet_length(col(binCol)) - 1) / frameBytes).cast("int")),
          i => col(binCol).substr(i * frameBytes + 1, lit(frameBytes)))))
      .filter(col("pos") % stride === 0)
      .select(col(idCol), col("pos").cast("int").as("frame_idx"), col("col").as("frame"))
  }
}
