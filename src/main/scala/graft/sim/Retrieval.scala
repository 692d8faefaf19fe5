package graft.sim

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.sql.TopKDotF32
import graft.sql.TopKDotF32.FlatCatalog

/** Fused brute-force top-k retrieval of query vectors against a BOUNDED
  * embedding catalog — the serving-side primitive behind
  * `TwoTower.recommend`, `Knn.bruteForceTopK`, and the bitext miner,
  * exposed for ANY (id, vec) table: ALS factor tables, SQ8-decoded
  * stores, document embeddings (reference analog: the user·item serving
  * ranking, my_merlin_flow.py:536-556). Past the dense float budget,
  * [[topKAnn]]/[[topKAnnPq]] are the same contract served through the
  * IVF / IVFADC index instead of a full scan.
  *
  * Plan shape (see sql.TopKDotF32): the catalog is collected once under a
  * float budget (probed with one bounded `limit` job), flattened
  * driver-side, and BROADCAST — executors hold one copy in their block
  * manager, tasks share it (round-12 advice; the old reference-object
  * form deserialized a copy per task). Each query row scores the whole
  * catalog inside a primitive-array loop (DotF32-identical arithmetic —
  * or the cosineF32 composition bit-exactly when `cosine` is set —
  * TopKAggF's (score desc, id asc) order), skipping its own `seen` ids
  * row-locally. Candidates never materialize as rows; the only exchanges
  * are the per-query seen-set collect_set and an explicit ROW-COUNT
  * repartition of the query frame — each query row is ~dim bytes but
  * catalog × dim WORK, so AQE's size-based coalescing would otherwise
  * serialize the scoring loop on one core (SCALE.md, round 11).
  *
  * Null hygiene (round-12 advice): catalog rows with a null id (or an id
  * that casts to null) or a null vector are FILTERED before the collect —
  * the same rows the unfused crossJoin plan silently drops — and the dim
  * probe skips null embeddings, so the fused path succeeds wherever the
  * fallback path does.
  *
  * Returns None when the catalog exceeds `Budgets.catalogFloats` (≈256 MB)
  * or is empty — past that seam retrieval belongs to the ANN
  * stack, not a dense scan; callers fall back explicitly.
  * Output: (qId, rk int 1..k, cId long, score double), rk ordered
  * (score desc, cId asc) per query. Query ids absent from `queries`'
  * vec column (null vec) produce no rows.
  */
object Retrieval {

  /** Collect + flatten + broadcast a catalog under the float budget
    * (`Budgets.catalogFloats`). None = over budget or empty (the ANN
    * handoff seam). The broadcast is ContextCleaner-reclaimed once
    * unreferenced; long-lived callers (streaming serve) hold it in a
    * [[CatalogCache]]. */
  def publishCatalog(catalog: DataFrame, cId: String, cVec: String,
      cosine: Boolean = false): Option[Broadcast[FlatCatalog]] = {
    val clean = catalog
      .select(col(cId).cast("long").as("__id"),
        col(cVec).cast("array<float>").as("__v"))
      .filter(col("__id").isNotNull && col("__v").isNotNull)
    val dimRow = clean.select(size(col("__v")).as("d")).head(1)
    boundedRows(clean, budgetRows(if (dimRow.isEmpty) 0 else dimRow(0).getInt(0),
        graft.operators.Budgets.get.catalogFloats))
      .map(rows => catalog.sparkSession.sparkContext.broadcast(TopKDotF32.flatten(
        rows.map(_.getLong(0)), rows.map(_.getSeq[Float](1).toArray), cosine)))
  }

  /** [[publishCatalog]] for a catalog already on the driver: the same
    * float budget, the same flattened broadcast, no Spark job. `ids` and
    * `vecs` are parallel arrays of non-null rows, in any order. */
  private[graft] def publishLocal(sc: org.apache.spark.SparkContext, ids: Array[Long],
      vecs: Array[Array[Float]], cosine: Boolean = false): Option[Broadcast[FlatCatalog]] = {
    val maxRows = budgetRows(if (vecs.isEmpty) 0 else vecs(0).length,
      graft.operators.Budgets.get.catalogFloats)
    if (ids.isEmpty || ids.length > maxRows) None
    else Some(sc.broadcast(TopKDotF32.flatten(ids, vecs, cosine)))
  }

  /** Catalog rows of `dim` floats the float budget admits (0 = none).
    * Clamped before toInt: a generous Long budget must not truncate
    * negative. */
  private def budgetRows(dim: Int, catalogFloatLimit: Long): Int =
    if (dim <= 0 || catalogFloatLimit <= 0) 0
    else math.min(catalogFloatLimit / dim, (Int.MaxValue - 1).toLong).toInt

  /** `frame`'s rows when it has some and no more than `maxRows`: one
    * bounded `limit(maxRows + 1)` collect. */
  private def boundedRows(frame: DataFrame, maxRows: Int): Option[Array[Row]] =
    if (maxRows <= 0) None
    else Some(frame.limit(maxRows + 1).collect())
      .filter(rows => rows.nonEmpty && rows.length <= maxRows)

  /** One value per MODEL GENERATION (round-11 verdict task 5): streaming
    * serves re-enter the kernel every micro-batch, but a model frame only
    * changes on hot-swap — so the cache keys its value on the supplier's
    * returned frame IDENTITY and rebuilds it only when the supplier hands
    * back a new frame. `build` sees the superseded value (a rebuild may
    * start from it); that value is released only once its successor is
    * built, and is kept if the build fails. A released broadcast is
    * unpersisted, not destroyed: tasks of an in-flight batch may still
    * read it, and the ContextCleaner finishes the job. `collects` counts
    * generations — spec-pinned to 1 across batches of a stable model. The
    * budgets are read once, when the cache is built. [[CatalogCache]] and
    * [[CellCatalogCache]] are its two catalogs; a streaming serve's
    * per-query frame of served users is its third value. */
  sealed class GenerationCache[V] private[graft] (supplier: () => DataFrame,
      build: (DataFrame, Option[V]) => V, release: V => Unit) {
    private val budgets = graft.operators.Budgets.get
    @volatile private var keyFrame: DataFrame = null
    @volatile private var cached: Option[V] = None
    @volatile var collects: Int = 0

    def get(): V = synchronized {
      val frame = supplier()
      if (!(frame eq keyFrame)) {
        val next = graft.operators.Budgets.scoped(_ => budgets)(build(frame, cached))
        cached.foreach(release)
        cached = Some(next)
        keyFrame = frame
        collects += 1
      }
      cached.get
    }

    /** Releases the current value; a later [[get]] builds afresh. */
    private[graft] def clear(): Unit = synchronized {
      cached.foreach(release)
      cached = None
      keyFrame = null
    }
  }

  /** A catalog cache's release: the superseded broadcast is unpersisted. */
  private def unpersisted[T](bc: Option[Broadcast[T]]): Unit =
    bc.foreach(_.unpersist(blocking = false))

  /** The dense kernel's catalog per model generation ([[publishCatalog]]
    * under a [[GenerationCache]]). */
  final class CatalogCache(supplier: () => DataFrame, cId: String, cVec: String,
      cosine: Boolean = false)
      extends GenerationCache[Option[Broadcast[FlatCatalog]]](supplier,
        (frame, _) => publishCatalog(frame, cId, cVec, cosine), unpersisted)

  /** (qId, `as`): each query's distinct seen ids as array<bigint> — the
    * one seen aggregation (collect_set skips null ids). */
  private[graft] def seenSets(pairs: DataFrame, qId: String, cId: String,
      as: String = "__seen"): DataFrame =
    pairs.select(col(qId), col(cId).cast("long").as("__sid"))
      .groupBy(col(qId))
      .agg(collect_set(col("__sid")).as(as))

  /** Attach the per-query seen-id array (`__seen`): [[seenSets]] of the
    * seen pairs, semi-pruned to the query set first so the aggregation is
    * O(queries × their history), never O(all history). */
  private[graft] def withSeen(queries: DataFrame, qId: String,
      seen: Option[DataFrame], cId: String): DataFrame = seen match {
    case Some(sn) =>
      queries.join(seenSets(sn.join(queries.select(col(qId)), Seq(qId), "left_semi"),
        qId, cId), Seq(qId), "left")
    case None =>
      queries.withColumn("__seen", lit(null).cast("array<bigint>"))
  }

  /** The ranked-array form both fused kernels share: each row of `base`
    * (which carries its `__seen` id array, null = nothing seen) becomes
    * (qId, `__top`), where `kernel` maps the row's seen array to its
    * rank-ordered array<struct<item_id, score>>. `base` is first
    * repartitioned by ROW COUNT: each query row is ~dim bytes but catalog
    * × dim WORK, so AQE's size-based coalescing would otherwise serialize
    * the scoring loop on one core (SCALE.md, round 11). The row forms
    * explode `__top`. */
  private[graft] def rankedArrays(base: DataFrame, qId: String,
      kernel: Column => Column): DataFrame = {
    val slices = base.sparkSession.sparkContext.defaultParallelism
    rankedInPlace(base.repartition(slices), qId, kernel)
  }

  /** [[rankedArrays]] on `base`'s own partitions, for queries already
    * spread over `defaultParallelism` partitions: the streaming serves'
    * queries sit on the partitions of their per-query served-users frame,
    * and read `__top` as the rec list. */
  private[graft] def rankedInPlace(base: DataFrame, qId: String,
      kernel: Column => Column): DataFrame =
    base.select(col(qId),
      kernel(coalesce(col("__seen"), typedLit(Seq.empty[Long]))).as("__top"))

  /** The dense kernel over an already-published catalog, as a
    * [[rankedArrays]] kernel. */
  private[graft] def dotKernel(qVec: String, catalog: Broadcast[FlatCatalog],
      k: Int, cosine: Boolean = false): Column => Column = {
    require(k >= 1, s"k must be >= 1, got $k")
    seenArr => TopKDotF32.fused(col(qVec).cast("array<float>"), seenArr, catalog, k, cosine)
  }

  /** The fused IVF kernel over an already-published cell catalog, as a
    * [[rankedArrays]] kernel. */
  private[graft] def annKernel(qVec: String,
      catalog: Broadcast[graft.sql.TopKDotIvfF32.CellCatalog], k: Int,
      nprobe: Int): Column => Column = {
    require(k >= 1, s"k must be >= 1, got $k")
    seenArr => graft.sql.TopKDotIvfF32.fused(col(qVec).cast("array<float>"), seenArr,
      catalog, k, nprobe)
  }

  /** [[rankedArrays]] output as rows: (qId, rk int 1..k, idCol, score). */
  private def rankedRows(ranked: DataFrame, qId: String, idCol: String): DataFrame =
    ranked.select(col(qId), posexplode(col("__top")))
      .select(col(qId), (col("pos") + 1).cast("int").as("rk"),
        col("col.item_id").as(idCol), col("col.score").as("score"))

  /** The fused plan against an already-published catalog.
    * `excludeSelf` additionally drops the candidate whose id equals the
    * query's own id — row-local, zero extra shuffle (the self-join
    * exclusion of Knn.bruteForceTopK). */
  def topKDotWith(queries: DataFrame, qId: String, qVec: String,
      catalog: Broadcast[FlatCatalog], k: Int,
      seen: Option[DataFrame] = None, seenIdCol: String = "item_id",
      cosine: Boolean = false, excludeSelf: Boolean = false): DataFrame = {
    val kernel = dotKernel(qVec, catalog, k, cosine)
    // a null (or non-castable) query id has no self to exclude — guard it
    // out rather than planting a null element in the primitive seen array
    val selfExcluded: Column => Column =
      if (excludeSelf) seenArr => kernel(
        when(col(qId).cast("long").isNotNull,
          concat(seenArr, array(col(qId).cast("long"))))
          .otherwise(seenArr))
      else kernel
    rankedRows(rankedArrays(withSeen(queries, qId, seen, seenIdCol), qId,
      selfExcluded), qId, seenIdCol)
  }

  def topKDot(queries: DataFrame, qId: String, qVec: String,
      catalog: DataFrame, cId: String, cVec: String, k: Int,
      seen: Option[DataFrame] = None,
      cosine: Boolean = false, excludeSelf: Boolean = false): Option[DataFrame] = {
    require(k >= 1, s"k must be >= 1, got $k")
    publishCatalog(catalog, cId, cVec, cosine).map(bc =>
      topKDotWith(queries, qId, qVec, bc, k, seen, cId, cosine, excludeSelf))
  }

  // ------------------------------------------------------------------
  // The ANN-served leg (round-11 verdict task 2): the same per-query
  // top-k contract PAST the dense kernel's float budget, served through
  // the IVF cell structure — probe each query's nprobe nearest cells,
  // score only those cells' rows, heap the k best. Candidates are
  // nprobe/nlist of the catalog per query instead of all of it; the
  // catalog never rides the plan or a broadcast.
  // ------------------------------------------------------------------

  /** Collect + group + broadcast a cell-assigned index (id, cid, vec)
    * into the fused IVF kernel's payload (sql.TopKDotIvfF32.CellCatalog).
    * None = over the float budget (`Budgets.cellCatalogFloats`) or
    * empty — past that seam the join plan of [[topKAnn]] is the only
    * option. */
  def publishCellCatalog(index: DataFrame, cId: String, cVec: String,
      centroids: Array[Array[Float]])
      : Option[Broadcast[graft.sql.TopKDotIvfF32.CellCatalog]] =
    boundedRows(index
        .select(col(cId).cast("long").as("__id"), col("cid").cast("int").as("__c"),
          col(cVec).cast("array<float>").as("__v"))
        .filter(col("__id").isNotNull && col("__c").isNotNull && col("__v").isNotNull),
      budgetRows(if (centroids.isEmpty) 0 else centroids(0).length,
        graft.operators.Budgets.get.cellCatalogFloats))
      .map(rows => index.sparkSession.sparkContext.broadcast(
        graft.sql.TopKDotIvfF32.group(
          rows.map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray)),
          centroids)))

  /** [[CatalogCache]]'s IVF counterpart (round 12): one published cell
    * catalog per INDEX GENERATION for streaming ANN serves
    * ([[publishCellCatalog]] under a [[GenerationCache]]), re-grouped
    * under the possibly-new quantizer on each new frame. None = over
    * budget (the join plan's regime — the stream caller decides). */
  final class CellCatalogCache(supplier: () => DataFrame, cId: String,
      cVec: String, centroids: () => Array[Array[Float]])
      extends GenerationCache[Option[Broadcast[graft.sql.TopKDotIvfF32.CellCatalog]]](supplier,
        (index, _) => publishCellCatalog(index, cId, cVec, centroids()), unpersisted)

  /** The fused IVF plan against an already-published cell catalog: probe
    * selection, probed-cell scan, seen exclusion and the k-heap all in
    * ONE expression eval per query — candidates never exist as rows
    * (see sql.TopKDotIvfF32; row-identical to the join plan). */
  def topKAnnWith(queries: DataFrame, qId: String, qVec: String,
      catalog: Broadcast[graft.sql.TopKDotIvfF32.CellCatalog], k: Int,
      nprobe: Int, seen: Option[DataFrame] = None,
      seenIdCol: String = "item_id"): DataFrame = {
    val kernel = annKernel(qVec, catalog, k, nprobe)
    rankedRows(rankedArrays(withSeen(queries, qId, seen, seenIdCol), qId, kernel),
      qId, seenIdCol)
  }

  /** IVF-probed top-k with EXACT in-cell scoring: the mid-scale ANN form
    * (full-width vectors kept, storage uncompressed). Two plans behind
    * one contract (round 12):
    *  - index INSIDE `Budgets.cellCatalogFloats` → the FUSED kernel
    *    (sql.TopKDotIvfF32): probe + probed-cell scan + heap in one
    *    expression per query, candidates never materialized, seen
    *    excluded by row-local binary search; the only exchanges are the
    *    seen aggregation and the row-count repartition.
    *  - index PAST the budget → one codegen probe expression per query
    *    row (O(1) plan size in nlist), explode to (query, cid), ONE
    *    equi-join on cid against the cell-assigned catalog — at 100 TB
    *    the index side is written `partitionBy("cid")`/bucketed so the
    *    join reads only probed cells and ships no catalog shuffle — then
    *    DotF32 scores and the map-side k-bounded heap cuts candidates to
    *    queries × k before the final exchange, seen ids excluded
    *    row-locally on the candidate stream.
    * Both emit IDENTICAL rows (same probe arithmetic, same dots, same
    * (score desc, id asc) order — spec-pinned in RetrievalSpec). Recall
    * is governed by nprobe/nlist exactly as Ivf.topK (IvfSpec); with
    * nprobe = nlist the output EQUALS the dense kernel's rows.
    *
    * `index` = (cId, "cid", cVec) — build with [[annIndex]] or persist
    * IvfPq-style. Output: (qId, rk, cId long, score double). */
  def topKAnn(queries: DataFrame, qId: String, qVec: String,
      index: DataFrame, cId: String, cVec: String,
      centroids: Array[Array[Float]], k: Int, nprobe: Int = 8,
      seen: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    graft.sql.GraftFunctions.register(queries.sparkSession)
    publishCellCatalog(index, cId, cVec, centroids) match {
      case Some(bc) => topKAnnWith(queries, qId, qVec, bc, k, nprobe, seen, cId)
      case None => topKAnnJoin(withSeen(queries, qId, seen, cId), qId, qVec,
        index, cId, cVec, centroids, k, nprobe)
    }
  }

  /** [[topKAnn]]'s past-budget join plan over queries that already carry
    * their `__seen` arrays (null = nothing seen). */
  private[graft] def topKAnnJoin(base: DataFrame, qId: String, qVec: String,
      index: DataFrame, cId: String, cVec: String,
      centroids: Array[Array[Float]], k: Int, nprobe: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    graft.sql.GraftFunctions.register(base.sparkSession)
    val q = base
      .select(col(qId), col(qVec).cast("array<float>").as("__qv"),
        coalesce(col("__seen"), typedLit(Seq.empty[Long])).as("__sn"))
      .withColumn("cid",
        explode(Ivf.probeCells(col("__qv"), centroids, nprobe)))
    val c = index.select(col("cid"),
      col(cId).cast("long").as("__cid2"),
      col(cVec).cast("array<float>").as("__cv"))
    val scored = q.join(c, Seq("cid"))
      .filter(!array_contains(col("__sn"), col("__cid2")))
      .select(col(qId), col("__cid2"),
        graft.sql.GraftFunctions.dotF32(col("__qv"), col("__cv")).as("score"))
    graft.operators.Relational.topKPerGroupAgg(scored, Seq(qId),
        col("score"), col("__cid2"), k, idName = cId, scoreName = "score")
  }

  /** Cell-assign a catalog into the (id, cid, vec) index [[topKAnn]]
    * probes — a pure projection (zero shuffle); persist it
    * `partitionBy("cid")` for file-level probe pruning at scale. */
  def annIndex(catalog: DataFrame, cId: String, cVec: String,
      centroids: Array[Array[Float]]): DataFrame = {
    graft.sql.GraftFunctions.register(catalog.sparkSession)
    catalog
      .select(col(cId), col(cVec).cast("array<float>").as(cVec))
      .filter(col(cId).cast("long").isNotNull && col(cVec).isNotNull)
      .withColumn("cid", Ivf.nearestCell(col(cVec), centroids))
  }

  /** IVFADC-probed top-k with EXACT RERANK — the storage-scale form: the
    * probed cells are scored on their m-byte PQ codes (asymmetric
    * distance: full-precision query · reconstructed candidate, the
    * codebooks as plan literals), the ADC longlist over-fetches
    * `overfetch`·k per query through the map-side heap, and only those
    * survivors touch full-width vectors for the exact dot that decides
    * the final ranking — quantization error picks the longlist, never the
    * order. Candidate I/O is nprobe/nlist × (m bytes per row); the
    * full-width table is read for queries × overfetch·k rows via an
    * id equi-join.
    *
    * `encoded` = IvfPq.index/indexResidual output (cId, cid, code) over
    * model raw codes. Output: (qId, rk, cId long, score double). */
  def topKAnnPq(queries: DataFrame, qId: String, qVec: String,
      encoded: DataFrame, cId: String, model: IvfPq.Model,
      rerank: DataFrame, rVec: String, k: Int, nprobe: Int = 8,
      overfetch: Int = 4, seen: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && overfetch >= 1, s"bad k=$k / overfetch=$overfetch")
    graft.sql.GraftFunctions.register(queries.sparkSession)
    // reconstructed candidate = concat of each subspace's codebook row —
    // one literal array per subspace, O(m·k·subDim) plan data total
    val decoded = concat(model.books.zipWithIndex.map { case (book, s) =>
      element_at(typedLit(book.map(_.toSeq).toSeq), col("code").getItem(s) + 1)
    }: _*)
    val q = withSeen(queries, qId, seen, cId)
      .select(col(qId), col(qVec).cast("array<float>").as("__qv"),
        coalesce(col("__seen"), typedLit(Seq.empty[Long])).as("__sn"))
      .withColumn("cid",
        explode(Ivf.probeCells(col("__qv"), model.centroids, nprobe)))
    val candidates = q
      .join(encoded.select(col("cid"), col(cId).cast("long").as("__cid2"),
        col("code")), Seq("cid"))
      .filter(!array_contains(col("__sn"), col("__cid2")))
      .select(col(qId), col("__cid2"),
        graft.sql.GraftFunctions.dotF32(col("__qv"),
          decoded.cast("array<float>")).as("score"))
    val longlist = graft.operators.Relational.topKPerGroupAgg(candidates,
        Seq(qId), col("score"), col("__cid2"), k * overfetch,
        idName = cId, scoreName = "__adc")
      .select(col(qId), col(cId))
    val exact = longlist
      .join(rerank.select(col(cId).cast("long").as(cId),
        col(rVec).cast("array<float>").as("__rv")), Seq(cId))
      .join(queries.select(col(qId),
        col(qVec).cast("array<float>").as("__qv2")), Seq(qId))
      .select(col(qId), col(cId),
        graft.sql.GraftFunctions.dotF32(col("__qv2"), col("__rv")).as("score"))
    graft.operators.Relational.topKPerGroupAgg(exact, Seq(qId),
      col("score"), col(cId), k, idName = cId, scoreName = "score")
  }
}
