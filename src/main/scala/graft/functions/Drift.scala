package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-drift monitoring — the data-quality counterpart of
  * [[graft.operators.Quality]]'s row checks: compare a column's
  * distribution between a baseline snapshot and the current batch by
  * binning BOTH on quantile breakpoints fitted on the BASELINE (the
  * standard PSI recipe — fixed bins, so a shift shows up as mass moving
  * between bins rather than bins moving with the data).
  *
  * Scale shape: one exact-percentile aggregation on the baseline (breaks
  * are a handful of doubles — bounded driver state, ZScore pattern), then
  * ONE binning groupBy per side on a literal CASE; proportions derive from
  * the bins-row aggregates themselves, so no side is scanned twice and the
  * fact tables are never joined. Output is `bins` rows.
  *
  * Cross-engine exactness (oracle q70): with integer-valued inputs and
  * QUARTILE breakpoints, every interpolation `lower + (upper-lower)*g` has
  * g ∈ {0, .25, .5, .75} — all exactly representable, all products exact in
  * IEEE doubles — so breaks, bin assignment and proportions are
  * bit-identical in any engine. Finer bins (deciles etc.) stay correct but
  * interpolation rounding may differ in the last ulp across engines; use
  * them for monitoring, not for hash-compared tests.
  */
object Drift {

  /** Per-bin comparison report: bin id, counts and proportions on each
    * side, using `quantiles` breakpoints fitted on `base`. NULL values are
    * EXCLUDED from both sides — a null is "value went missing", not "value
    * got large", and binning it would misreport missingness as top-bin
    * drift; monitor null rates separately (Quality.notNull / summary). */
  def binnedCompare(base: DataFrame, current: DataFrame, valueCol: String,
      quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    require(quantiles.nonEmpty && quantiles == quantiles.sorted,
      "quantiles must be non-empty and ascending")
    val breaksRow = base
      .agg(percentile(col(valueCol), array(quantiles.map(lit): _*)).as("b"))
      .head()
    require(!breaksRow.isNullAt(0),
      s"baseline has no non-null '$valueCol' rows — cannot fit breakpoints")
    val breaks = breaksRow.getSeq[Double](0)

    def binOf(v: Column): Column =
      breaks.zipWithIndex.foldRight(lit(breaks.length)) { case ((b, i), rest) =>
        when(v <= b, i).otherwise(rest)
      }
    // proportions come from the (bins+1)-row aggregate itself (a whole-
    // frame window over a handful of rows), not a second scan of the fact
    def side(df: DataFrame, n: String, p: String): DataFrame =
      df.filter(col(valueCol).isNotNull)
        .select(binOf(col(valueCol)).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as(n))
        .withColumn(p, col(n).cast("double") /
          sum(col(n)).over(org.apache.spark.sql.expressions.Window.partitionBy()))
    // full outer on bin: a bin can be empty on one side (that IS the drift)
    side(base, "n_base", "p_base")
      .join(side(current, "n_cur", "p_cur"), Seq("bin"), "full_outer")
      .na.fill(0L, Seq("n_base", "n_cur")).na.fill(0.0, Seq("p_base", "p_cur"))
  }
}
