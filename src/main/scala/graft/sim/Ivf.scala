package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VecCentroidAgg
import graft.operators.Relational
import graft.sql.GraftFunctions

/** IVF-style approximate nearest neighbor: a coarse k-means quantizer
  * partitions the corpus into `nlist` cells; a query is compared only
  * against the cells of its `nprobe` nearest centroids (extension scope —
  * the clustered-scale-path counterpart of the SRP-LSH tables in Knn;
  * reference analog: CLIP dot-product ranking, pred_inspector.py:103-108).
  *
  * Scale design:
  *  - the centroid set is bounded by construction (nlist × dim floats), so
  *    it lives on the driver between Lloyd iterations and ships to
  *    executors as ONE flattened reference object inside IvfProbeF32 —
  *    exactly how spark.ml KMeans handles centers;
  *  - cell assignment is a pure projection (one codegen'd matrix-loop
  *    expression per row — ties break on cid, deterministic; plan and
  *    generated code are O(1) in nlist, so production cell counts don't
  *    blow up codegen): ZERO shuffle, unlike a crossJoin+window
  *    formulation which would shuffle corpus × nlist rows;
  *  - the candidate join is one shuffle on the cell id; per-cell pair space
  *    is |cell|² — nlist sizes as corpus/target-cell-size, and skewed cells
  *    are AQE-split;
  *  - Lloyd iterations use the merge-associative VecCentroidAgg (map-side
  *    combine, one shuffle of dim+1 doubles per cell per partition).
  */
object Ivf {

  /** ||c||² - 2·v·c per centroid, argmin cid (distance ties → lower cid).
    * The ||v||² term is common to all centroids and dropped. One codegen'd
    * loop over a single matrix reference object (IvfProbeF32) — plan size
    * O(1) in nlist, so production cell counts (10³–10⁵) are fine. */
  def nearestCell(vec: Column, centroids: Array[Array[Float]]): Column =
    GraftFunctions.ivfProbeF32(vec, centroids, 1).getItem(0)

  /** The `nprobe` nearest cell ids for a query vector, distance ascending. */
  def probeCells(vec: Column, centroids: Array[Array[Float]], nprobe: Int): Column =
    GraftFunctions.ivfProbeF32(vec, centroids, nprobe)

  /** Fit `nlist` coarse centroids with `iters` Lloyd steps. Deterministic
    * init: the nlist vectors with the smallest (md5(id), id) — a seedless,
    * engine-reproducible sample. Empty cells keep their previous centroid.
    * Returns the centroid matrix (driver-side by design — bounded).
    */
  def fitCentroids(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 3): Array[Array[Float]] = {
    GraftFunctions.register(df.sparkSession)
    GraftFunctions.enableBoundedObjectAgg(df.sparkSession) // dim-bounded centroid buffers over nlist groups
    val init = df
      .select(col(idCol), col(vecCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(nlist)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    (0 until iters).foldLeft(init) { (centroids, _) =>
      val assigned = df.select(nearestCell(col(vecCol), centroids).as("cid"),
        col(vecCol).as("__v"))
      val updated = assigned.groupBy(col("cid"))
        .agg(VecCentroidAgg.centroid(col("__v")).as("c"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
      centroids.indices.map(i => updated.getOrElse(i, centroids(i))).toArray
    }
  }

  /** Deterministic synthetic quantizer used wherever a fit-free,
    * engine-reproducible centroid matrix is needed (the q47 oracle, the q62
    * kernel bench, the scale experiment, plan audits) — ONE definition so
    * the cross-engine/benchmark correspondence can't drift. */
  def syntheticCentroids(nlist: Int, dim: Int): Array[Array[Float]] =
    Array.tabulate(nlist)(c =>
      Array.tabulate(dim)(j => (((c * 31 + j * 7) % 97) - 48) / 48.0f))

  /** Persist fitted centroids as parquet (cid, vec) — the IVF model
    * artifact, same philosophy as Categorify dictionaries and the
    * RetrievalPipeline neighbor table: a plain dataset, joinable and
    * inspectable anywhere. Bounded at nlist rows by construction. */
  def saveCentroids(spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Float]], path: String): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "vec").repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Float]] =
    spark.read.parquet(path).orderBy(col("cid"))
      .collect().map(_.getSeq[Float](1).toArray)

  /** ANN top-k: assign corpus rows to their cell, probe each query's
    * `nprobe` nearest cells, exact cosine rerank within the probed cells.
    * Output: query_id, rk, neighbor_id, cos. */
  def topK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      nlist: Int, nprobe: Int = 2, iters: Int = 3): DataFrame =
    topKWithCentroids(df, idCol, vecCol, k,
      fitCentroids(df, idCol, vecCol, nlist, iters), nprobe)

  /** The search half of topK against a GIVEN quantizer (loaded from
    * loadCentroids, or any deterministic matrix — with plan-constant
    * centroids the whole pipeline is reproducible in an external SQL
    * engine, which is how q47 oracle-checks it). */
  def topKWithCentroids(df: DataFrame, idCol: String, vecCol: String, k: Int,
      centroids: Array[Array[Float]], nprobe: Int = 2): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val normed = df.select(col(idCol),
      GraftFunctions.l2NormalizeF32(col(vecCol)).as("__nv"),
      col(vecCol))
    val c = normed.select(nearestCell(col(vecCol), centroids).as("cid"),
      col(idCol).as("neighbor_id"), col("__nv").as("__cn"))
    val q = normed
      .select(col(idCol).as("query_id"), col("__nv").as("__qn"),
        explode(probeCells(col(vecCol), centroids, nprobe)).as("cid"))
    val scored = q.join(c, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        GraftFunctions.dotF32(col("__qn"), col("__cn")).as("cos"))
    // per-query candidates ≈ nprobe × corpus/nlist — candidate-heavy, so
    // the cut rides the map-side heap when types allow (round 10; row-set
    // identical to the window form, oracle q47 unchanged)
    Relational.topKPerGroupBest(scored, Seq("query_id"), "cos", "neighbor_id", k)
  }
}
