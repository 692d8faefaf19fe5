package graft.bronze

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.operators.Relational

/** Bronze ingestion (reference: upload_to_snowflake.py): CSV with header →
  * envelope rows (etl_timestamp, etl_id, event_type, raw_data JSON) →
  * parquet bronze, partitioned by etl_id so latest-batch reads prune to one
  * partition at any scale — the Spark-native replacement for the reference's
  * stage + COPY INTO path (S1/S2/S4/S5).
  */
object CsvEnvelopeLoader {

  /** S1: CSV source with header and an explicit schema (never inference in
    * the engine core — reference declares DDL per table,
    * upload_to_snowflake.py:33-58). */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** Write a CSV fixture the way the reference stages uploads (QUOTE_ALL,
    * upload_to_snowflake.py:131-135). Dev/test helper. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true").csv(path)

  /** S2 + S4: envelope-encode and append to the bronze root, partitioned by
    * etl_id (the latest-batch join J1 then becomes partition pruning). */
  def loadBatch(df: DataFrame, eventType: String, etlTimestamp: Long,
      etlId: String, bronzeRoot: String): Unit =
    Relational.toEnvelope(df, eventType, etlTimestamp, etlId)
      .write.mode("append").partitionBy("etl_id")
      .parquet(s"$bronzeRoot/$eventType")

  /** The envelope [[loadBatch]] writes, in the order a partitioned parquet
    * read returns it: data columns, then the `etl_id` partition column. */
  private val envelopeSchema = StructType(Seq(
    StructField("etl_timestamp", LongType), StructField("event_type", StringType),
    StructField("raw_data", StringType), StructField("etl_id", StringType)))

  /** Bronze scan for one source (all batches; compose with
    * Relational.latestBatch for the snapshot read). Read with the envelope
    * schema, so the scan runs no footer-inference job and `etl_id` stays a
    * string whatever its values look like. */
  def readBronze(spark: SparkSession, bronzeRoot: String, eventType: String): DataFrame =
    spark.read.schema(envelopeSchema).parquet(s"$bronzeRoot/$eventType")

  /** S5: register the bronze scan in the session catalog (the reference's
    * CREATE OR REPLACE TABLE; destructive reload semantics = overwrite). */
  def saveAsTable(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").saveAsTable(table)
}
