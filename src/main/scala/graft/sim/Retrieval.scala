package graft.sim

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sql.TopKDotF32
import graft.sql.TopKDotF32.FlatCatalog
import graft.graph.PackedGraph
import graft.graph.PackedGraph.Fold
import graft.operators.Budgets

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
  * float budget through `PackedGraph.collect` (one pass packs the rows
  * and reads their count and vector lengths; the packed chunks come over
  * only once those are admitted), flattened driver-side, and BROADCAST —
  * executors hold one copy in their block manager, tasks share it
  * (round-12 advice; the old reference-object
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
  * the same rows the unfused crossJoin plan silently drops — so the fused
  * path succeeds wherever the fallback path does.
  *
  * Returns None when the catalog exceeds `Budgets.catalogFloats` (≈256 MB)
  * or what the driver holds (`Budgets.driverRows` at [[rowResultBytes]] /
  * [[rowHeapBytes]]), is empty, or has vectors of more than one length
  * (the kernel scores a fixed width; DotF32 truncates each pair to the
  * shorter vector) — past that seam retrieval belongs to the ANN stack or
  * the unfused plan, not a dense scan; callers fall back explicitly.
  * Output: (qId, rk int 1..k, cId long, score double), rk ordered
  * (score desc, cId asc) per query. Query ids absent from `queries`'
  * vec column (null vec) produce no rows.
  */
object Retrieval {

  /** Collect + flatten + broadcast a catalog under the float budget
    * (`Budgets.catalogFloats`). None = refused ([[flatCatalog]]; the ANN
    * handoff seam). The broadcast is ContextCleaner-reclaimed once
    * unreferenced; long-lived callers (streaming serve) hold it in a
    * [[CatalogCache]]. */
  def publishCatalog(catalog: DataFrame, cId: String, cVec: String,
      cosine: Boolean = false): Option[Broadcast[FlatCatalog]] =
    flatCatalog(catalog, cId, cVec, cosine)((_, _) => true)
      .map(catalog.sparkSession.sparkContext.broadcast(_))

  /** `frame`'s rows with a non-null id (`cId` as long) and vector (`cVec`
    * as array<float>), flattened ([[TopKDotF32.flatten]]), when
    * [[vectorRows]] admits them under `Budgets.catalogFloats` and
    * `admit(rows, length)` holds. */
  private[graft] def flatCatalog(frame: DataFrame, cId: String, cVec: String,
      cosine: Boolean)(admit: (Long, Int) => Boolean): Option[FlatCatalog] =
    vectorRows(frame, Seq(col(cId)), col(cVec), Budgets.get.catalogFloats)(admit)
      .map { case (keys, vecs) => TopKDotF32.flatten(keys(0), vecs, cosine) }

  /** `frame`'s rows whose `keys` (as longs) and vector `vec` (as
    * array<float>) are non-null, as one array per key and one float array
    * per row ([[PackedGraph.unpack]]), through the guarded packed collect
    * (`PackedGraph.collect`): its one pass reads the rows and the
    * vectors' min and max length as it packs them, and the rows are
    * collected only when every vector has one length d > 0, rows × d fits
    * `maxFloats` and an Int-indexed array, the rows fit the session at
    * [[rowResultBytes]] / [[rowHeapBytes]] each, and `admit(rows, d)`
    * holds. */
  private[graft] def vectorRows(frame: DataFrame, keys: Seq[Column], vec: Column,
      maxFloats: Long)(admit: (Long, Int) => Boolean)
      : Option[(Array[Array[Long]], Array[Array[Float]])] = {
    val cols = (keys.map(_.cast("long")) :+ vec.cast("array<float>")).zipWithIndex
      .map { case (c, i) => c.as(s"__$i") }
    val e = frame.select(cols: _*)
      .filter(cols.indices.map(i => col(s"__$i").isNotNull).reduce(_ && _))
    val len = size(col(s"__${keys.size}")).cast("long")
    PackedGraph.collect(e, Long.MaxValue, FloatResultBytes, FloatHeapBytes,
        rows = Fold.sum(len + RowFloats), extra = Seq(Fold.sum(lit(1L)), Fold.min(len),
          Fold.max(len))) { p =>
      val (m, lo, d) = (p.getLong(2), p.getLong(3), p.getLong(4))
      m > 0L && d > 0L && lo == d && m <= math.min(maxFloats, Int.MaxValue - 8L) / d &&
        admit(m, d.toInt)
    }.map { case (chunks, _) => PackedGraph.unpack(chunks, keys.size) }
  }

  /** A collected vector row of d floats — in either catalog, or a
    * streaming serve's user row — is charged as d + `RowFloats` floats of
    * `FloatResultBytes` task results and `FloatHeapBytes` driver heap
    * each ([[vectorRows]] counts its rows so), 48 + 4·d and 96 + 8·d B:
    * the packed transfer (keys, length, the floats two per long), then
    * the decoded rows beside a chunk or beside the flattening's boxed sort
    * index and catalog. Measured with `graft.serve.DriverBytes` at d = 16,
    * 32 and 64: at most 88.5 / 152.8 / 281.4 B of task results and 197.1 /
    * 328.5 / 580.9 B of heap at peak (SCALE.md, "Regime gates"). */
  private val RowFloats = 12L
  private val FloatResultBytes = 4L
  private val FloatHeapBytes = 8L
  private[graft] def rowResultBytes(d: Int): Long = FloatResultBytes * (d + RowFloats)
  private[graft] def rowHeapBytes(d: Int): Long = FloatHeapBytes * (d + RowFloats)

  /** [[publishCatalog]] for a catalog already on the driver: the same
    * float budget and one-length rule, the same flattened broadcast, no
    * Spark job. `ids` and `vecs` are parallel arrays of non-null rows, in
    * any order. */
  private[graft] def publishLocal(sc: org.apache.spark.SparkContext, ids: Array[Long],
      vecs: Array[Array[Float]], cosine: Boolean = false): Option[Broadcast[FlatCatalog]] = {
    val dim = if (vecs.isEmpty) 0 else vecs(0).length
    if (dim == 0 || vecs.exists(_.length != dim) ||
        ids.length > math.min(Budgets.get.catalogFloats, Int.MaxValue - 8L) / dim) None
    else Some(sc.broadcast(TopKDotF32.flatten(ids, vecs, cosine)))
  }

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
    * per-query served users are its third value: the persisted frame on
    * the distributed route, the flattened user vectors on the driver
    * route. */
  sealed class GenerationCache[V] private[graft] (supplier: () => DataFrame,
      build: (DataFrame, Option[V]) => V, release: V => Unit) {
    private val budgets = Budgets.get
    @volatile private var keyFrame: DataFrame = null
    @volatile private var cached: Option[V] = None
    @volatile var collects: Int = 0

    def get(): V = synchronized {
      val frame = supplier()
      if (!(frame eq keyFrame)) {
        val next = Budgets.scoped(_ => budgets)(build(frame, cached))
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
    * into the fused IVF kernel's payload (sql.TopKDotIvfF32.CellCatalog)
    * through the guarded vector collect ([[vectorRows]]). None =
    * over the float budget (`Budgets.cellCatalogFloats`) or the driver,
    * empty, or vectors not all of the centroids' length — past that seam
    * the join plan of [[topKAnn]] is the only option. */
  def publishCellCatalog(index: DataFrame, cId: String, cVec: String,
      centroids: Array[Array[Float]])
      : Option[Broadcast[graft.sql.TopKDotIvfF32.CellCatalog]] =
    centroids.headOption.flatMap(c0 => vectorRows(index, Seq(col(cId), col("cid").cast("int")),
        col(cVec), Budgets.get.cellCatalogFloats)((_, d) => d == c0.length))
      .map { case (keys, vecs) => index.sparkSession.sparkContext.broadcast(
        graft.sql.TopKDotIvfF32.group(keys(0), keys(1), vecs, centroids)) }

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
