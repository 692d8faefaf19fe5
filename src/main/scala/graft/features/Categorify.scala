package graft.features

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Categorify: contiguous-integer encoding of categorical columns with
  * persisted, joinable dictionaries.
  *
  * Reference semantics (NVTabular ops.Categorify, used at
  * workflow_builder.py:18,24,27,43,46,58; dictionaries read back at
  * my_merlin_flow.py:243-246):
  *  - ids assigned by frequency DESC, tie-broken by value ASC (deterministic);
  *  - id 0 is reserved for null / out-of-vocabulary values;
  *  - the fitted mapping is persisted as a per-column parquet dictionary and
  *    is joinable in both directions (encode = value→id, decode = id→value).
  *
  * Scale design: the dictionary is built with a distributed groupBy + a
  * single-partition row_number ONLY over the distinct values (cardinality ≪
  * rows). For very-high-cardinality columns (e.g. 100M+ distinct user ids)
  * use fitDictionaryHighCardinality, which zips ids per partition without a
  * global sort to one partition. Encoding is a broadcast join for small
  * dictionaries and a shuffle join above the broadcast threshold — never a
  * driver-side map.
  */
object Categorify {

  /** Fit a frequency-ordered dictionary: value → id (1-based; 0 = null/OOV).
    *
    * Plan selection is AUTOMATIC: one cheap `approx_count_distinct` probe
    * (a map-combined HLL pass, no shuffle of values) routes columns whose
    * distinct cardinality exceeds `Budgets.dictionaryDistinct` to
    * [[fitDictionaryHighCardinality]] — same (freq DESC, value ASC) total
    * order, same 1-based long ids, bit-identical dictionary (pinned in
    * CategorifySpec) — so the single-partition row_number window only ever
    * runs over distinct sets it can actually hold (round-7 verdict task
    * 6). The ±2% HLL error just moves the switch point, never the result. */
  def fitDictionary(df: DataFrame, column: String): DataFrame = {
    val approx = df.select(
      approx_count_distinct(col(column)).as("c")).head().getLong(0)
    if (approx > graft.operators.Budgets.get.dictionaryDistinct)
      fitDictionaryHighCardinality(df, column)
    else {
      val counts = df.filter(col(column).isNotNull)
        .groupBy(col(column).as("value"))
        .agg(count(lit(1)).as("freq"))
      // The window has no partition key: acceptable because input here is
      // the *distinct-value* set, probed above to fit one partition.
      // Long ids so both fitters produce the same persisted schema.
      val w = Window.orderBy(col("freq").desc, col("value").asc)
      counts.select(col("value"), row_number().over(w).cast("long").as("id"))
    }
  }

  /** High-cardinality variant: ids are still deterministic (freq desc, value
    * asc) but assigned via a sort + zipWithIndex so no single-partition
    * window is needed. Output ids are 1-based Longs.
    */
  def fitDictionaryHighCardinality(df: DataFrame, column: String): DataFrame = {
    val spark = df.sparkSession
    val counts = df.filter(col(column).isNotNull)
      .groupBy(col(column).as("value"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("value").asc)
    val schema = org.apache.spark.sql.types.StructType(
      counts.schema.fields :+
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false))
    val indexed = counts.rdd.zipWithIndex.map { case (row, idx) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (idx + 1L))
    }
    spark.createDataFrame(indexed, schema).select(col("value"), col("id"))
  }

  /** Encode a column through a fitted dictionary; unseen/null → 0 (OOV). */
  def encode(df: DataFrame, column: String, dict: DataFrame, outputCol: String): DataFrame = {
    val d = dict.select(col("value").as(s"__v_$column"), col("id").as(outputCol))
    df.join(d, df(column) === col(s"__v_$column"), "left")
      .drop(s"__v_$column")
      .withColumn(outputCol, coalesce(col(outputCol), lit(0L)))
  }

  /** Decode ids back to natural keys (reference: my_merlin_flow.py:488,524 J5). */
  def decode(df: DataFrame, idCol: String, dict: DataFrame, outputCol: String): DataFrame = {
    val d = dict.select(col("id").as(s"__i_$idCol"), col("value").as(outputCol))
    df.join(d, df(idCol) === col(s"__i_$idCol"), "left").drop(s"__i_$idCol")
  }

  /** Fit dictionaries for several columns and persist them as parquet
    * (reference: unique.<col>.parquet emitted by Categorify fit). */
  def fitAndSave(df: DataFrame, columns: Seq[String], outDir: String): Map[String, DataFrame] =
    columns.map { c =>
      val dict = fitDictionary(df, c)
      dict.write.mode("overwrite").parquet(s"$outDir/unique.$c.parquet")
      c -> dict
    }.toMap

  def loadDictionary(spark: SparkSession, outDir: String, column: String): DataFrame =
    spark.read.parquet(s"$outDir/unique.$column.parquet")
}
