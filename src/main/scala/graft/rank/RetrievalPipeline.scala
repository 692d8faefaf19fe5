package graft.rank

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The production shape of the co-occurrence retrieval path: fit ONCE,
  * materialize the model table, recommend from the materialized artifact
  * (reference: the dbt-materialize-then-read flow, and the r2 scale note —
  * q50/q51/q52 each recompute the fit lineage because oracle queries must
  * be self-contained; a real run pays the fit cost once).
  *
  * The model artifact is the neighbor table itself (items × M rows of
  * (item_a, item_b, c)) — a plain parquet dataset, joinable at any scale,
  * no driver-side state; same artifact philosophy as Categorify
  * dictionaries and LangId profiles.
  */
object RetrievalPipeline {

  /** Fit on interactions and persist the neighbor model. `maxBasket > 0`
    * applies the per-user recent-N cap before the pair self-join
    * (Interactions.recentN) — mandatory at 100 TB scale, see Cooccur. */
  def fitAndSave(inter: DataFrame, modelPath: String, maxNeighbors: Int = 50,
      maxBasket: Int = 0): Unit =
    Cooccur.itemNeighbors(inter, maxNeighbors, maxBasket)
      .write.mode("overwrite").parquet(modelPath)

  /** Load the persisted model. */
  def loadModel(spark: SparkSession, modelPath: String): DataFrame =
    spark.read.parquet(modelPath)
}
