package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental table maintenance — the refresh half of the bronze→silver
  * story (the reference recreates models wholesale per dbt run; at 100 TB a
  * daily full rebuild of a dimension is the expensive non-option):
  *
  *  - [[upsert]] is MERGE type-1 semantics as copy-on-write: updated keys
  *    replace their old row, new keys insert, untouched keys carry over.
  *    One anti join + union — no table format required, the output is the
  *    next snapshot.
  *
  *  - [[scd2Apply]] is slowly-changing-dimension type 2: history preserved
  *    as validity intervals. Each key has at most one OPEN row
  *    (`valid_to` null); applying a change batch closes the open row of
  *    every key whose tracked attributes actually changed (at the change
  *    timestamp) and opens a new row; unchanged keys are a no-op (no
  *    spurious versions); unknown keys insert as new open rows. The
  *    versioned dimension is exactly what [[AsOfJoin]] consumes for
  *    point-in-time-correct training joins: (valid_from, valid_to)
  *    intervals ARE the feature snapshots.
  *
  * Both are single-pass plans: one shuffle on the key, no driver state.
  * `changes` may carry several rows per key; the latest by `tsCol` wins
  * (deterministic: ties broken by the tracked columns descending).
  */
object Scd {

  /** Type-1 merge: next snapshot = target \ keys(updates) ∪ updates.
    *
    * `updates` must be unique per key OR `dedupOrder` must be given: SQL
    * MERGE errors on multiple source matches, and silently inserting both
    * rows would corrupt the snapshot's key invariant. With `dedupOrder`
    * (e.g. `Seq(col("ts").desc)` + a tie-break) the first row per key in
    * that order wins, deterministically.
    */
  def upsert(target: DataFrame, updates: DataFrame, keys: Seq[String],
      dedupOrder: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    val u =
      if (dedupOrder.nonEmpty) Relational.keepFirstPerKey(updates, keys, dedupOrder)
      else updates
    target.join(u.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(u.select(target.columns.map(col): _*))
  }

  /** Type-2 apply. `dim` columns: keys ++ tracked ++ (valid_from, valid_to:
    * long, valid_to null = open row). `changes` columns: keys ++ tracked ++
    * tsCol. Returns the next version of the dimension.
    */
  def scd2Apply(dim: DataFrame, changes: DataFrame, keys: Seq[String],
      tracked: Seq[String], tsCol: String): DataFrame = {
    val ch = Relational.keepFirstPerKey(
        changes.select((keys ++ tracked :+ tsCol).map(col): _*),
        keys, col(tsCol).desc +: tracked.map(col(_).desc))
      .select(keys.map(col) ++
        tracked.map(c => col(c).as(s"__ch_$c")) :+ col(tsCol).as("__ch_ts"): _*)

    val closed = dim.filter(col("valid_to").isNotNull)
    val open = dim.filter(col("valid_to").isNull)
    val j = open.join(ch, keys, "full_outer")

    val hasOpen = col("valid_from").isNotNull
    val hasChange = col("__ch_ts").isNotNull
    val differs = tracked.map(c =>
      !(col(c) <=> col(s"__ch_$c"))).reduce(_ || _)

    // open rows: keep as-is when no change arrived or nothing differs;
    // close at the change ts when the attributes actually changed
    val keptOpen = j.filter(hasOpen)
      .select(keys.map(col) ++ tracked.map(col) :+ col("valid_from") :+
        when(hasChange && differs, col("__ch_ts")).as("valid_to"): _*)
    // new versions: a change for an unknown key, or one that differs from
    // the key's open row
    val newOpen = j.filter(hasChange && (!hasOpen || differs))
      .select(keys.map(col) ++
        tracked.map(c => col(s"__ch_$c").as(c)) :+
        col("__ch_ts").as("valid_from") :+
        lit(null).cast(dim.schema("valid_to").dataType).as("valid_to"): _*)

    closed.unionByName(keptOpen).unionByName(newOpen)
  }
}
