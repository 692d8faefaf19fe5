package graft.functions

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

class DriftSpec extends SparkSpecBase {
  import spark.implicits._

  test("identical distributions give PSI ~ 0; a shifted one scores high") {
    val base = (1 to 4000).map(i => i % 1000L).toDF("v")
    val same = (1 to 2000).map(i => i % 1000L).toDF("v")
    val shifted = (1 to 2000).map(i => 700L + i % 300).toDF("v")

    val stable = DriftSpec.psi(Drift.binnedCompare(base, same, "v"))
    assert(math.abs(stable) < 0.01, s"identical dists must be stable, psi=$stable")
    val drifted = DriftSpec.psi(Drift.binnedCompare(base, shifted, "v"))
    assert(drifted > 0.25, s"mass collapsed into the top bin, psi=$drifted")
  }

  test("bins are fitted on the BASELINE: baseline quartiles hold ~25% each") {
    val ord = tbl("orders", sfDirMid)
      .select((col("o_totalprice") * 100).cast("long").as("cents"), col("o_orderdate"))
    val split = lit("1998-07-01").cast("timestamp")
    val report = Drift.binnedCompare(
      ord.filter(col("o_orderdate") < split),
      ord.filter(col("o_orderdate") >= split), "cents")
    val pBase = report.orderBy($"bin").select($"p_base").as[Double].collect()
    assert(pBase.length == 4)
    pBase.foreach(p => assert(math.abs(p - 0.25) < 0.02,
      s"baseline mass per its own quartile bin should be ~25%, got ${pBase.toSeq}"))
  }

  test("a bin empty on one side still appears in the report (that IS the drift)") {
    val base = (1 to 400).map(_.toLong).toDF("v")
    val cur = (1 to 100).map(_.toLong).toDF("v") // only the lowest quartile
    val rows = Drift.binnedCompare(base, cur, "v")
      .orderBy($"bin").select($"bin", $"n_cur").as[(Int, Long)].collect()
    assert(rows.map(_._1).toSeq == Seq(0, 1, 2, 3))
    assert(rows.drop(1).forall(_._2 == 0), "upper bins must report zero current mass")
  }
}

/** Spec-held forms: no query, Verify, Bench or perfbench reaches them. */
object DriftSpec {

  /** Population stability index over a [[binnedCompare]] report (bounded
    * collect: `bins` rows). `eps` floors empty-bin proportions the standard
    * way. Rule of thumb: < 0.1 stable, 0.1–0.25 moderate, > 0.25 major. */
  def psi(report: DataFrame, eps: Double = 1e-4): Double =
    report.select(col("p_base"), col("p_cur")).collect().map { r =>
      val p = math.max(r.getDouble(0), eps)
      val q = math.max(r.getDouble(1), eps)
      (q - p) * math.log(q / p)
    }.sum
}
