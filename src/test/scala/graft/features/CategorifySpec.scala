package graft.features

import graft.SparkSpecBase
import org.apache.spark.sql.types.LongType
import graft.operators.Budgets

class CategorifySpec extends SparkSpecBase {
  import spark.implicits._

  private def fixture = Seq(
    "b", "b", "b", "a", "a", "c").toDF("v")

  test("fitDictionary assigns ids by frequency desc, value asc, 1-based") {
    val dict = Categorify.fitDictionary(fixture, "v")
      .orderBy("id").as[(String, Long)].collect().toSeq
    assert(dict == Seq(("b", 1L), ("a", 2L), ("c", 3L)))
  }

  test("both fitters produce the same schema and the same ids") {
    val d1 = Categorify.fitDictionary(fixture, "v")
    val d2 = Categorify.fitDictionaryHighCardinality(fixture, "v")
    assert(d1.schema("id").dataType == LongType && d2.schema("id").dataType == LongType)
    assert(d1.orderBy("id").collect().toSeq == d2.orderBy("id").collect().toSeq)
  }

  test("auto-switch: above the distinct threshold fitDictionary routes to zipWithIndex, identically") {
    // force the switch with threshold 1 — the dictionary must be
    // bit-identical to the window path (same freq desc / value asc total
    // order, same 1-based long ids), so the API default can never pick the
    // single-partition window for a 100M-distinct column
    val viaWindow = Budgets.scoped(_.copy(dictionaryDistinct = Long.MaxValue))(
      Categorify.fitDictionary(fixture, "v"))
    val viaAuto = Budgets.scoped(_.copy(dictionaryDistinct = 1L))(
      Categorify.fitDictionary(fixture, "v"))
    assert(viaAuto.orderBy("id").collect().toSeq ==
      viaWindow.orderBy("id").collect().toSeq)
    // and the switched plan is genuinely windowless
    assert(!viaAuto.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("encode maps unseen and null values to the reserved id 0") {
    val dict = Categorify.fitDictionary(fixture, "v")
    val in = Seq(Some("a"), Some("zzz"), None).toDF("v")
    val out = Categorify.encode(in, "v", dict, "v_id")
      .select("v_id").as[Long].collect().toSet
    assert(out == Set(2L, 0L))
  }

  test("encode then decode roundtrips in-vocabulary values") {
    val dict = Categorify.fitDictionary(fixture, "v")
    val in = Seq("a", "b", "c").toDF("v")
    val enc = Categorify.encode(in, "v", dict, "v_id")
    val dec = Categorify.decode(enc, "v_id", dict, "v_back")
    assert(dec.filter($"v" =!= $"v_back").count() == 0)
  }

  test("dictionaries persist to parquet and load back identically") {
    val tmp = java.nio.file.Files.createTempDirectory("catdict").toString
    val dicts = Categorify.fitAndSave(fixture, Seq("v"), tmp)
    val loaded = Categorify.loadDictionary(spark, tmp, "v")
    assert(loaded.orderBy("id").collect().toSeq ==
      dicts("v").orderBy("id").collect().toSeq)
  }
}
