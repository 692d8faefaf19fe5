package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-based profiling — the 100 TB form of the exact corpus profile
  * (q29). Exact per-group DISTINCT shuffles every distinct value and exact
  * percentiles buffer whole groups; both are fine at validation scale and
  * ruinous at fleet scale. The sketch forms are one-pass, fixed-memory and
  * MERGEABLE (partial aggregation works map-side, and sketches from
  * separate partitions/days union losslessly), which is what makes daily
  * corpus monitoring over 100 TB a single linear job:
  *
  *  - distinct counts → HyperLogLog++ (`approx_count_distinct`, relative
  *    error `rsd`, default 5%; 1.5 KB of state at 5% vs gigabytes of
  *    distinct keys);
  *  - quantiles → the Greenwald–Khanna sketch (`approx_percentile`,
  *    `accuracy` trades memory for error bound 1/accuracy).
  *
  * Error bounds are asserted against the exact forms in ApproxStatsSpec;
  * the 10× exact-vs-sketch cost gap is measured in SCALE.md (the
  * late-round-3 `sketch` case and the 100× replication table). The
  * HLL/GK forms are not oracle-checked by design: sketch implementations
  * differ across engines, so cross-engine equality is the wrong contract
  * — bounded error vs exact is the right one. The exception is
  * [[heavyHitters]], whose sketch only ROUTES (the output is exact), so
  * it carries a DuckDB oracle (q88).
  */
object ApproxStats {

  /** EXACT heavy hitters without shuffling every distinct key: all keys
    * whose frequency exceeds N/(capacity+1), with their exact counts.
    *
    * Pass 1 is a Misra–Gries summary per partition, tree-merged on the
    * driver (bounded: `capacity` counters per summary) — MG guarantees the
    * merged candidate set is a SUPERSET of every key with freq >
    * N/(capacity+1), and merging summaries preserves that (Agarwal et al.,
    * "Mergeable Summaries", PODS'12). Pass 2 exact-counts ONLY the ≤
    * capacity candidates (broadcast semi-join) and applies the threshold
    * with integer arithmetic (cnt·(capacity+1) > N). Superset + exact
    * verify ⇒ the OUTPUT is exact — the sketch only routes, like
    * BloomPrefilter. Contrast: groupBy(key).count over 100 TB shuffles
    * billions of distinct keys to answer a question about dozens.
    */
  def heavyHitters(df: DataFrame, key: Column, capacity: Int): DataFrame = {
    require(capacity > 0, s"capacity must be positive: $capacity")
    val spark = df.sparkSession
    import spark.implicits._
    val keys = df.select(key.cast("string").as("k")).na.drop("any").as[String]
    // ONE pass yields both the candidate summary and N — the verify pass
    // below is the only other scan, and both see the same snapshot
    val (summary, n) = keys.rdd.treeAggregate((new MgSummary(capacity), 0L))(
      { case ((s, c), k) => (s.add(k), c + 1L) },
      { case ((s1, c1), (s2, c2)) => (s1.merge(s2), c1 + c2) })
    val candDf = broadcast(summary.keys.toDF("k"))
    df.select(key.cast("string").as("k"))
      .join(candDf, Seq("k"), "left_semi")
      .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (capacity + 1) > lit(n))
      .select(col("k").as("key"), col("cnt"))
  }

  /** Mutable Misra–Gries summary, amortized O(1) per add: misses insert
    * freely until the map holds 2·capacity entries, then ONE batch shrink
    * (the same (capacity+1)-th-largest cut as [[merge]] — a run of
    * all-decrements applied at once via the `base` offset) evicts at
    * least `capacity` entries, paying O(capacity) per `capacity`
    * insertions. The N/(capacity+1) superset guarantee is the
    * mergeable-summaries bound: each unit of cut reduces ≥ capacity+1
    * live counters, so total cut ≤ N/(capacity+1). */
  private[functions] final class MgSummary(capacity: Int) extends Serializable {
    private val m = scala.collection.mutable.HashMap.empty[String, Long]
    private var base = 0L

    def add(k: String): this.type = {
      m.get(k) match {
        case Some(c) => m.update(k, c + 1L)
        case None =>
          m.update(k, base + 1L)
          if (m.size >= 2 * capacity) shrink()
      }
      this
    }

    /** Cut all effective counts by the (capacity+1)-th largest and drop
      * the non-positive — leaves ≤ capacity live entries. */
    private def shrink(): Unit = {
      val effs = m.valuesIterator.map(_ - base).toArray
      java.util.Arrays.sort(effs)
      base += effs(effs.length - (capacity + 1))
      m.filterInPlace((_, c) => c > base)
    }

    /** Effective (stored − base) counts of live entries. */
    def counts: Map[String, Long] =
      m.iterator.collect { case (k, c) if c > base => k -> (c - base) }.toMap

    def keys: Seq[String] = counts.keys.toSeq

    /** Mergeable-summaries reduction (Agarwal et al., PODS'12): sum the
      * effective counts, then subtract the (capacity+1)-th largest so at
      * most `capacity` survive — preserves the N/(capacity+1) superset
      * guarantee across partitions. */
    def merge(o: MgSummary): MgSummary = {
      val sum = scala.collection.mutable.HashMap.empty[String, Long]
      for ((k, c) <- counts) sum.update(k, c)
      for ((k, c) <- o.counts) sum.update(k, sum.getOrElse(k, 0L) + c)
      val out = new MgSummary(capacity)
      val kept =
        if (sum.size <= capacity) sum.iterator
        else {
          val cut = sum.values.toSeq.sorted(Ordering[Long].reverse)(capacity)
          sum.iterator.map { case (k, c) => k -> (c - cut) }.filter(_._2 > 0L)
        }
      kept.foreach { case (k, c) => out.m.update(k, c) }
      out
    }
  }

  /** [[MgSummary]] as a typed `Aggregator`, usable directly in
    * `groupBy(...).agg(ApproxStats.mgTopK(col, capacity))` — the
    * PER-GROUP heavy-hitter form ([[heavyHitters]] is the global
    * two-pass): each group keeps its own ≤2·capacity-entry summary,
    * partial-aggregated and merged with the mergeable-summaries cut, so
    * a group's distinct-value explosion never shuffles (contrast
    * groupBy(group, value).count: distinct values × groups rows cross
    * the exchange). Estimates undercount by ≤ N_group/(capacity+1); with
    * capacity ≥ the group's alphabet the counts are EXACT (no shrink
    * ever fires, no merge ever cuts) — the regime the q171 oracle pins.
    * Output: value → estimated count map. */
  final class MgTopKAgg(capacity: Int)
      extends org.apache.spark.sql.expressions.Aggregator[String, MgSummary, Map[String, Long]] {
    override def zero: MgSummary = new MgSummary(capacity)
    override def reduce(b: MgSummary, a: String): MgSummary =
      if (a == null) b else b.add(a)
    override def merge(x: MgSummary, y: MgSummary): MgSummary = x.merge(y)
    override def finish(r: MgSummary): Map[String, Long] = r.counts
    override def bufferEncoder: org.apache.spark.sql.Encoder[MgSummary] =
      org.apache.spark.sql.Encoders.kryo[MgSummary]
    override def outputEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Column form of [[MgTopKAgg]] for untyped groupBy.agg. */
  def mgTopK(key: Column, capacity: Int): Column =
    udaf(new MgTopKAgg(capacity), org.apache.spark.sql.Encoders.STRING)
      .apply(key.cast("string"))
}
