package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Symmetric int8 scalar quantization for embedding columns — the
  * memory-side ANN path beside PQ (Pq.scala): 4× smaller vectors (one
  * byte per dimension + one float scale), exact integer dot products,
  * ~1% recall loss at 8 bits. This is the faiss `SQ8` / Milvus
  * `IVF_SQ8` design point: where PQ trades accuracy for 16 B/vec, SQ8
  * keeps near-exact ordering at dim B/vec — the right default when
  * vectors fit memory quantized but not as floats.
  *
  * Determinism contract: maxabs and the scaled value are double IEEE
  * arithmetic (exact widening from the float input, one multiply, one
  * divide — both correctly rounded, association order fixed), and the
  * code is floor(x·127/maxabs + 0.5) — an exact integer any engine
  * replays bit-for-bit. No random rotation, no training pass (unlike
  * PQ's k-means codebooks), which is exactly why it can be
  * oracle-checked end to end.
  *
  * Scale: encode is a zero-shuffle per-row projection; scoring casts the
  * int8 codes to float arrays (integers ≤ 127 are float-exact, and
  * [[graft.sql.DotF32]] accumulates in double, so every partial sum of
  * |code·code| ≤ 16129·dim products stays an exact integer up to 2^53 —
  * the dot IS the exact integer dot for any realistic dim, independent
  * of float's 2^24 mantissa) and rides the existing codegen kernel —
  * no new expression, whole-stage codegen, top-k via the same bounded
  * TakeOrdered the exact KNN path uses.
  */
object ScalarQuant {

  /** Encode a float-vector column: (idCol, maxabs double, codes
    * array<int>). Dequantize as code_i · maxabs / 127. Both columns ride
    * the codegen kernels (MaxAbsF32 / Int8CodesF32) — the HOF form was
    * three interpreted array walks per row, 3.4× slower at 10× (SCALE.md). */
  def encode(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    graft.sql.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol),
      graft.sql.GraftFunctions.maxAbsF32(col(vecCol)).as("maxabs"),
      graft.sql.GraftFunctions.int8Codes(col(vecCol)).as("codes"))
  }

  /** Top-k by approximate dot product against a float query: both sides
    * quantized, scored as intdot · (maxabs_a · maxabs_q / 127²) through
    * the codegen DotF32 kernel. Output: (idCol, score) top-k by score
    * desc then id asc. */
  def topK(encoded: DataFrame, idCol: String, query: Array[Float], k: Int): DataFrame = {
    val qMax = query.map(x => math.abs(x.toDouble)).foldLeft(0.0d)(math.max)
    val qCodes: Array[Float] =
      if (qMax == 0.0d) query.map(_ => 0.0f)
      else query.map(x => math.floor(x.toDouble * 127.0d / qMax + 0.5d).toFloat)
    val scale = qMax / (127.0d * 127.0d)
    encoded
      .select(col(idCol),
        (graft.sql.GraftFunctions.dotF32(
          col("codes").cast("array<float>"), lit(qCodes)) * (col("maxabs") * scale))
          .as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }
}
