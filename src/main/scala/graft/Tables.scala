package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** Loaders for the driver-generated test tables (see /root/repo/TESTDATA.md).
  *
  * Tables are plain parquet files, one per table, under a scale-factor
  * directory. At cluster scale these would be partitioned/bucketed table
  * roots; the API is path-based so the same code serves both.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts is parquet TIMESTAMP(NANOS) in the driver fixtures, which
      // Spark 4 rejects by default. Read nanos as long and convert to a µs
      // TimestampType with integer division (values are µs-resolution, so
      // this is lossless and matches DuckDB's ns→µs parquet read). Derived
      // fixtures (e.g. copies rewritten by DuckDB, which can only write
      // µs) may already carry a timestamp ts — pass through.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else df.withColumn("ts", col("ts").cast("timestamp"))
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** Register every table as a temp view (for the spark.sql surface). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
