package graft.sql

import graft.SparkSpecBase
import graft.sim.ScalarQuant
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class Int8QuantFSpec extends SparkSpecBase {
  import spark.implicits._

  test("kernels are bit-identical to the HOF forms on the real embeddings") {
    GraftFunctions.register(spark)
    val emb = tbl("embeddings")
    val hofM = Int8QuantFSpec.maxAbsHof(col("embedding"))
    val both = emb.select(col("vec_id"),
      GraftFunctions.maxAbsF32(col("embedding")).as("km"), hofM.as("hm"),
      GraftFunctions.int8Codes(col("embedding")).as("kc"),
      Int8QuantFSpec.codesHof(col("embedding"), hofM).as("hc"))
    val bad = both.filter(col("km") =!= col("hm") ||
      to_json(col("kc")) =!= to_json(col("hc"))).count()
    assert(bad == 0L)
    assert(both.count() > 0)
  }

  test("empty array: maxabs NULL, codes empty (array_max/transform parity)") {
    GraftFunctions.register(spark)
    val df = Seq((1L, Seq.empty[Float]), (2L, Seq(0.0f, 0.0f)))
      .toDF("id", "v")
      .select(col("id"), col("v").cast("array<float>").as("v"))
    val got = df.select(col("id"),
        GraftFunctions.maxAbsF32(col("v")).as("m"),
        GraftFunctions.int8Codes(col("v")).as("c"))
      .orderBy(col("id")).collect()
    assert(got(0).isNullAt(1) && got(0).getSeq[Int](2).isEmpty)
    assert(got(1).getDouble(1) == 0.0 && got(1).getSeq[Int](2) == Seq(0, 0))
  }

  test("null input array propagates null; null elements skip the max and stay null codes") {
    GraftFunctions.register(spark)
    val df = Seq(
      (1L, Array[java.lang.Float](2.0f, null, -4.0f)),
      (2L, null.asInstanceOf[Array[java.lang.Float]]))
      .toDF("id", "v")
      .select(col("id"), col("v").cast("array<float>").as("v"))
    val got = df.select(col("id"),
        GraftFunctions.maxAbsF32(col("v")).as("m"),
        GraftFunctions.int8Codes(col("v")).as("c"))
      .orderBy(col("id")).collect()
    assert(got(0).getDouble(1) == 4.0)
    val codes = got(0).getSeq[Any](2)
    assert(codes == Seq(64, null, -127))
    assert(got(1).isNullAt(1) && got(1).isNullAt(2))
  }

  test("NaN carve-out is contractual: kernels SKIP NaN lanes (maxabs from finite values, NaN codes 0)") {
    // Documented divergence from the HOF forms (Int8QuantF32.scala header):
    // array_max would order NaN greatest and poison the whole vector; the
    // kernels take maxabs over the finite lanes and encode NaN lanes as 0.
    GraftFunctions.register(spark)
    val df = Seq((1L, Array(Float.NaN, 2.0f, -8.0f)))
      .toDF("id", "v")
      .select(col("id"), col("v").cast("array<float>").as("v"))
    val got = df.select(
        GraftFunctions.maxAbsF32(col("v")).as("m"),
        GraftFunctions.int8Codes(col("v")).as("c"))
      .collect()(0)
    assert(got.getDouble(0) == 8.0)
    assert(got.getSeq[Int](1) == Seq(0, 32, -127))
    // and the HOF form indeed diverges here — the carve-out is real
    val hofM = df.select(Int8QuantFSpec.maxAbsHof(col("v"))).collect()(0).getDouble(0)
    assert(hofM.isNaN)
  }

  test("the encode projection stays inside whole-stage codegen, zero shuffles") {
    val enc = ScalarQuant.encode(tbl("embeddings"), "vec_id", "embedding")
    val p = enc.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"encode must not shuffle:\n$p")
    // the *(n) star marks whole-stage-codegen residency in the toString plan
    assert(p.contains("*(1) Project"), s"encode must codegen:\n$p")
  }
}

object Int8QuantFSpec {

  /** The interpreted HOF forms of the two kernels — the
    * cross-implementation reference (kernel ≡ HOF bit-parity above; the
    * q149 oracle replays the same semantics in DuckDB). */
  def maxAbsHof(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double"))))

  def codesHof(vec: Column, maxabs: Column): Column =
    transform(vec, x =>
      when(maxabs === 0.0d, lit(0))
        .otherwise(floor(x.cast("double") * 127.0d / maxabs + 0.5d).cast("int")))
}
