package graft.serve

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.Relational

/** The serving contract (reference: prediction serialization
  * my_merlin_flow.py:512-537, DynamoDB write :620-630, read back at
  * serverless/handler.py:56-64): one row per user —
  *   user_id: String, recs: Array[String] (rank order), target: String|null
  * — plus a fallback row keyed `no_user` carrying a global default list, so
  * the point-lookup path always answers.
  */
object RecsTable {

  /** Assemble from per-user ranked recs (user_id, rk, item_id), an optional
    * targets table (user_id, item_id — first row per user in its given
    * ordering wins, the reference's keep-first O5), and the fallback list.
    */
  def assemble(recs: DataFrame, targets: DataFrame, fallback: Seq[String],
      fallbackKey: String = "no_user"): DataFrame = {
    val spark = recs.sparkSession
    import spark.implicits._
    val fallbackRow = Seq((fallbackKey, fallback, Option.empty[String]))
      .toDF("user_id", "recs", "target")
    assemble(recs, targets, fallbackRow)
  }

  /** (user_id, recs: Array[String]) from per-user ranked rows — the
    * serving list shape for every path that ranks in rows (batch
    * assemble, the co-occurrence refresh, the ANN serve's past-budget
    * plan); the fused serves read the kernel's ranked array instead
    * ([[kernelLists]]). */
  private def recLists(recs: DataFrame): DataFrame = recs
    .groupBy(col("user_id"))
    .agg(transform(
      sort_array(collect_list(struct(col("rk"),
        col("item_id").cast("string").as("item")))),
      x => x.getField("item")).as("recs"))

  /** As the `fallback: Seq[String]` form above, with the fallback supplied
    * as a one-row DataFrame (user_id, recs, target) — lets the fallback be computed inside the
    * same job (see popularFallback) instead of a driver-side collect. */
  def assemble(recs: DataFrame, targets: DataFrame, fallbackRow: DataFrame): DataFrame = {
    val lists = recLists(recs)
    val tgt = targets
      .select(col("user_id"), col("item_id").cast("string").as("target"))
    lists
      .join(tgt, Seq("user_id"), "left")
      .select(col("user_id").cast("string").as("user_id"), col("recs"), col("target"))
      .unionByName(fallbackRow)
  }

  /** Global most-popular fallback list as a one-row DataFrame
    * (user_id = fallbackKey, recs = top-k items by distinct-user count
    * desc / item asc, target = null). A DataFrame instead of a collect():
    * the interaction lineage stays inside the assembly job, so its
    * exchanges are reused rather than recomputed in a separate action.
    */
  def popularFallback(inter: DataFrame, k: Int, fallbackKey: String = "no_user"): DataFrame =
    inter.select(col("user_id"), col("item_id")).distinct()
      .groupBy(col("item_id")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("item_id").asc).limit(k)
      .agg(transform(
        sort_array(collect_list(struct((-col("c")).as("negc"),
          col("item_id").as("tie"),
          col("item_id").cast("string").as("item")))),
        x => x.getField("item")).as("recs"))
      .select(lit(fallbackKey).as("user_id"), col("recs"),
        lit(null).cast("string").as("target"))

  /** First target item per user by the given ordering (keep-first O5). */
  def firstTargetPerUser(test: DataFrame, orderCols: Seq[org.apache.spark.sql.Column]): DataFrame =
    Relational.keepFirstPerKey(
      test.select(col("user_id"), col("item_id"), col("ts")), Seq("user_id"), orderCols)
      .select(col("user_id"), col("item_id"))

  /** Canonical sink: parquet, partition-count chosen by the writer. */
  def writeParquet(recsTable: DataFrame, path: String): Unit =
    recsTable.write.mode("overwrite").parquet(path)

  /** JSON sink (reference: predictions.json logging, my_merlin_flow.py:
    * 376-411 S11). */
  def writeJson(recsTable: DataFrame, path: String): Unit =
    recsTable.write.mode("overwrite").json(path)

  /** KV sink seam (S9): streams (key, json-payload) pairs per partition to
    * any batch-put client — the DynamoDB batch_writer shape — without
    * collecting to the driver. The payload is the JSON-encoded rec list,
    * exactly the string handler.py:64 json.loads's back. */
  def kvSink(recsTable: DataFrame, put: Iterator[(String, String)] => Unit): Unit =
    recsTable
      .select(col("user_id"), to_json(col("recs")).as("payload"))
      .foreachPartition { it: Iterator[Row] =>
        put(it.map(r => (r.getString(0), r.getString(1))))
      }

  /** Streaming serving refresh — the S9 sink driven by a live interaction
    * stream instead of a nightly batch. Per micro-batch (`foreachBatch`):
    * recompute recommendations ONLY for users with new activity (left-semi
    * prune of the history down to the active-user sliver), and batch-put
    * the refreshed lists through the same kvSink seam. The co-occurrence
    * model stays a static artifact (refit on its own cadence —
    * RetrievalPipeline); what streams is the per-user state.
    *
    * Each batch is first APPENDED to `streamLogDir` (parquet; read back
    * with the batch's own schema, so no per-batch schema-inference job),
    * and history = static snapshot ∪ the accumulated log — so an item seen in batch 1
    * is still excluded when the same user reappears in batch 5 (without
    * the log, per-batch recompute would forget earlier stream activity and
    * regress the KV state). A retried micro-batch appends duplicate rows,
    * which is harmless: recommend() dedups (user, item) — the log is
    * at-least-once, the derived state exactly-once. At 100 TB the
    * recompute cost per batch stays O(active users × their history), never
    * O(all users), the KV write is idempotent per user (last write wins),
    * and the log compacts on the same cadence as the model refit (fold
    * it into the history snapshot, then truncate it).
    */
  def streamRefresh(stream: DataFrame, history: DataFrame, neighbors: DataFrame,
      k: Int, put: Iterator[(String, String)] => Unit, streamLogDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val spark = batch.sparkSession
        val b = batch.select(col("user_id"), col("item_id"))
        b.write.mode("append").parquet(streamLogDir)
        val active = b.select(col("user_id")).distinct()
        val streamed = spark.read.schema(b.schema).parquet(streamLogDir)
        val hist = history.select(col("user_id"), col("item_id"))
          .unionByName(streamed)
          .join(active, Seq("user_id"), "left_semi")
        val recs = graft.rank.Cooccur.recommend(hist, neighbors, k)
        val lists = recLists(recs)
          .select(col("user_id").cast("string").as("user_id"), col("recs"))
        kvSink(lists, put)
        ()
      }
      .start()

  /** The dense and ANN serves' shared query shape. The history is read
    * ONCE, when the query starts: its per-user seen-id arrays are built
    * into the query's one persisted frame of served users
    * ([[servedUsers]]), materialized before `start()` (recomputable — a
    * long-running query survives an executor loss) and released when the
    * query stops or fails. After that, new interactions arrive only
    * through the stream; a later change to `history`'s source is not seen.
    *
    * Per micro-batch the batch is APPENDED to `streamLogDir` (parquet,
    * read back with the batch's own schema — no per-batch
    * schema-inference job), so an item seen in batch 1 is still excluded
    * when the same user reappears in batch 5. The append runs beside the
    * batch's query, which groups the batch's own rows with the log's, and
    * the batch ends once both have. A retried micro-batch appends
    * duplicate rows, which is harmless: the seen sets are sets — the log
    * is at-least-once, the derived state exactly-once. Meanwhile
    * [[batchLists]] ranks the active users through `serve`, and every
    * non-empty list is put through the same kvSink seam as the batch table
    * (a user with nothing left to recommend gets no put). Per-batch cost
    * is the log scan, one in-memory scan of the served-users frame where
    * it is cached, and O(batch + active × their history) rows exchanged
    * and scored: only the log's and the batch's rows move, once; the
    * history and the user vectors are never rescanned or shuffled. The
    * log compacts on the model-refit cadence (fold it into the history
    * snapshot, restart the query). */
  private def streamSeenServe(stream: DataFrame, history: DataFrame,
      userVecs: () => DataFrame, put: Iterator[(String, String)] => Unit,
      streamLogDir: String, serve: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val served = servedUsers(history, userVecs)
    try {
      served.get()
      // the log exists (empty) before the first append lands
      val logPath = new org.apache.hadoop.fs.Path(streamLogDir)
      logPath.getFileSystem(stream.sparkSession.sparkContext.hadoopConfiguration)
        .mkdirs(logPath)
      // one new thread per append, started by the batch's thread so it
      // inherits the batch's Spark job properties
      val appender = ExecutionContext.fromExecutor { r =>
        val t = new Thread(r, "graft-stream-log-append")
        t.setDaemon(true)
        t.start()
      }
      val q = stream.writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
          val b = batch.select(col("user_id"), col("item_id"))
          // the append runs beside the query: the query groups the batch's
          // rows itself, so it may read the log with or without them (a
          // listing sees a log file only once the committer has moved it
          // in whole), and the batch ends only once its append has
          val appended = Future(b.write.mode("append").parquet(streamLogDir))(appender)
          val log = batch.sparkSession.read.schema(b.schema).parquet(streamLogDir)
          try kvSink(batchLists(b, log, served.get(), serve), put)
          finally Await.ready(appended, Duration.Inf)
          Await.result(appended, Duration.Inf)
          ()
        }
        .start()
      val release = new ReleaseOnTermination(q, () => served.clear())
      q.sparkSession.streams.addListener(release)
      // terminated before the listener was added: its event is gone
      if (!q.isActive) release.release()
      q
    } catch {
      case e: Throwable =>
        served.clear()
        throw e
    }
  }

  /** The query's per-generation frame of served users
    * (user_id, vec, __hseen): the history's per-user seen-id arrays
    * full-outer-joined with the user vectors, hash-partitioned by user_id
    * over `defaultParallelism` partitions, persisted and materialized. A
    * new user-vector generation (the supplier returning a new frame)
    * rebuilds it from the superseded frame's `__hseen` — the history is
    * read only for the first — and the superseded frame is released once
    * its successor is materialized. */
  private[serve] def servedUsers(history: DataFrame, userVecs: () => DataFrame)
      : graft.sim.Retrieval.GenerationCache[DataFrame] =
    new graft.sim.Retrieval.GenerationCache[DataFrame](userVecs, (vecs, prev) => {
      val histSeen = prev match {
        case Some(old) => old.select(col("user_id"), col("__hseen"))
          .filter(col("__hseen").isNotNull)
        case None => graft.sim.Retrieval.seenSets(history, "user_id", "item_id", "__hseen")
      }
      val frame = histSeen.join(vecs.select(col("user_id"), col("vec")), Seq("user_id"),
          "full_outer")
        .repartition(vecs.sparkSession.sparkContext.defaultParallelism, col("user_id"))
        .persist()
      try frame.count() catch {
        case e: Throwable =>
          frame.unpersist()
          throw e
      }
      frame
    }, _.unpersist())

  /** One micro-batch's non-empty (user_id, recs) lists. One grouping over
    * the log's rows ∪ the batch's rows tagged active — a single exchange
    * by user_id into `served`'s partitioning — gives each user's seen set
    * over the log (`collect_set`, so reading the batch's rows twice
    * changes nothing) and keeps the batch's users. Those join IN PLACE to
    * the served-users frame ([[servedUsers]]; users without a vector drop
    * out): the small grouped side is the hash-join build, so the frame is
    * neither shuffled nor broadcast, and `serve` ranks each user with
    * `__seen` = its history array ++ its log array on the frame's own
    * partitions. The history relation is not read at all. Plan shape
    * pinned in RecsTableSpec. */
  private[serve] def batchLists(batch: DataFrame, log: DataFrame, served: DataFrame,
      serve: DataFrame => DataFrame): DataFrame = {
    val logSeen = log.select(col("user_id"), col("item_id"), lit(false).as("__active"))
      .unionByName(batch.select(col("user_id"), col("item_id"), lit(true).as("__active")))
      .repartition(batch.sparkSession.sparkContext.defaultParallelism, col("user_id"))
      .groupBy(col("user_id"))
      .agg(collect_set(col("item_id").cast("long")).as("__lseen"),
        max(col("__active")).as("__active"))
      .filter(col("__active"))
    val queries = logSeen.hint("shuffle_hash")
      .join(served.filter(col("vec").isNotNull), Seq("user_id"))
      .select(col("user_id"), col("vec"),
        concat(coalesce(col("__hseen"), typedLit(Seq.empty[Long])), col("__lseen"))
          .as("__seen"))
    serve(queries).filter(size(col("recs")) > 0)
  }

  /** (user_id, recs) straight from a kernel's ranked arrays. */
  private def kernelLists(ranked: DataFrame): DataFrame =
    ranked.select(col("user_id").cast("string").as("user_id"),
      transform(col("__top"), x => x.getField("item_id").cast("string")).as("recs"))

  /** [[streamDenseRefresh]]'s ranking of one batch's queries. */
  private[serve] def denseServe(itemCatalog: graft.sim.Retrieval.CatalogCache,
      k: Int): DataFrame => DataFrame = queries => {
    val bc = itemCatalog.get().getOrElse(throw new IllegalStateException(
      "item catalog exceeds the fused-kernel budget; refresh through " +
        "streamAnnRefresh (the ANN index path) instead"))
    kernelLists(graft.sim.Retrieval.rankedInPlace(queries, "user_id",
      graft.sim.Retrieval.dotKernel("vec", bc, k)))
  }

  /** [[streamAnnRefresh]]'s ranking of one batch's queries: one published
    * cell catalog per index generation (the task-5 treatment applied to
    * the ANN leg); an in-budget index fuses through the cached broadcast,
    * a past-budget generation (cache returns None) serves through the
    * cid-join plan instead. */
  private[serve] def annServe(itemIndex: () => DataFrame,
      centroids: () => Array[Array[Float]], k: Int, nprobe: Int): DataFrame => DataFrame = {
    val cache = new graft.sim.Retrieval.CellCatalogCache(itemIndex, "item_id", "vec", centroids)
    queries => cache.get() match {
      case Some(bc) => kernelLists(graft.sim.Retrieval.rankedInPlace(queries, "user_id",
        graft.sim.Retrieval.annKernel("vec", bc, k, nprobe)))
      case None => recLists(graft.sim.Retrieval.topKAnnJoin(queries, "user_id", "vec",
        itemIndex(), "item_id", "vec", centroids(), k, nprobe))
        .select(col("user_id").cast("string").as("user_id"), col("recs"))
    }
  }

  /** Runs `free` once `q` terminates — stopped or failed — and then
    * removes itself; keyed on the query id. */
  private[serve] final class ReleaseOnTermination(
      q: org.apache.spark.sql.streaming.StreamingQuery, free: () => Unit)
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    def release(): Unit = if (released.compareAndSet(false, true)) {
      free()
      q.sparkSession.streams.removeListener(this)
    }
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      if (e.id == q.id) release()
  }

  /** Dense-model counterpart of [[streamRefresh]] (round 11): per
    * micro-batch, re-serve ONLY the users with new activity by scoring
    * their tower/factor vectors against the item catalog through the
    * fused retrieval kernel (`sim.Retrieval.dotKernel`). The seen ids —
    * history (aggregated once per query) plus the accumulated stream log
    * (aggregated per batch) — are excluded ROW-LOCALLY inside the kernel,
    * and the kernel's ranked array IS the rec list. A batch costs the log
    * scan, one in-memory scan of the query's cached served-users frame,
    * one exchange of the log's and the batch's rows — O(batch + active ×
    * their history) rows, never O(all users) — and |active| × catalog
    * fused dots, with zero candidate materialization and no regrouping
    * (query shape and lifecycle: [[streamSeenServe]]). The model is DATA:
    * the user vectors are cached in the served-users frame and the item
    * catalog rides a [[graft.sim.Retrieval.CatalogCache]] — each rebuilt
    * ONCE PER MODEL GENERATION (round-11 verdict task 5), not once per
    * batch; a hot-swap (a supplier returning a NEW frame) takes effect on
    * the next batch without restarting the query.
    * A catalog past the kernel's float budget fails the batch LOUDLY —
    * streaming serve at that scale is [[streamAnnRefresh]], not a silent
    * fallback to a candidate blowup inside foreachBatch. */
  def streamDenseRefresh(stream: DataFrame, history: DataFrame,
      userVecs: () => DataFrame, itemCatalog: graft.sim.Retrieval.CatalogCache,
      k: Int, put: Iterator[(String, String)] => Unit, streamLogDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamSeenServe(stream, history, userVecs, put, streamLogDir,
      denseServe(itemCatalog, k))

  /** Fixed-model convenience form of [[streamDenseRefresh]]: both model
    * frames constant for the stream's lifetime (one catalog collect
    * total). */
  def streamDenseRefresh(stream: DataFrame, history: DataFrame,
      userVecs: DataFrame, itemVecs: DataFrame, k: Int,
      put: Iterator[(String, String)] => Unit, streamLogDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamDenseRefresh(stream, history, () => userVecs,
      new graft.sim.Retrieval.CatalogCache(() => itemVecs, "item_id", "vec"),
      k, put, streamLogDir)

  /** The ANN-served streaming leg (round-11 verdict task 2) — the same
    * recs/KV contract, query shape and lifecycle as
    * [[streamDenseRefresh]] at catalog sizes the dense kernel's float
    * budget refuses: per micro-batch, the active users' vectors probe
    * their `nprobe` nearest IVF cells and score only those cells' rows
    * (exact dot within probed cells, seen ids — history ∪ log —
    * excluded row-locally). The index is DATA: `itemIndex` supplies the
    * (item_id, cid, vec) frame ([[graft.sim.Retrieval.annIndex]],
    * typically parquet partitioned by cid so probes prune files), and a
    * refreshed index + centroids take effect on the next batch. An index
    * inside `Budgets.cellCatalogFloats` (read when the query starts)
    * serves through the fused cell kernel
    * (`sim.Retrieval.annKernel`, its ranked array is the rec list); past
    * it, through `topKAnn`'s cid-join plan. Recall vs the dense kernel
    * is governed by nprobe/nlist (spec-pinned floor in RetrievalSpec);
    * per-batch cost is O(active × nprobe/nlist × catalog) candidate rows,
    * never the full catalog per user. For an INNER-PRODUCT catalog
    * (two-tower model vectors), build the index and centroids in the
    * MIPS-augmented space at model-refresh time — `TwoTower.annCentroids`
    * + the augmented item frame, with query vectors 0-extended — or the
    * L2 probe misses high-norm items (the round-13 recall-gauge finding:
    * 0.18 @ nprobe 8/64 on raw vectors). */
  def streamAnnRefresh(stream: DataFrame, history: DataFrame,
      userVecs: () => DataFrame, itemIndex: () => DataFrame,
      centroids: () => Array[Array[Float]], k: Int, nprobe: Int,
      put: Iterator[(String, String)] => Unit, streamLogDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamSeenServe(stream, history, userVecs, put, streamLogDir,
      annServe(itemIndex, centroids, k, nprobe))

  /** Typed [[streamAnnRefresh]] for INNER-PRODUCT catalogs (two-tower
    * model vectors) — round-13 verdict task 6. The generic seam above
    * documents the MIPS-augmented-space requirement but cannot enforce it
    * (a raw index + raw centroids are self-consistent; the mismatch shows
    * only as ~0.18 recall). This overload accepts ONLY
    * [[graft.rank.TwoTower.AnnServeArtifacts]] — constructible solely
    * through `TwoTower.annServeArtifacts`, which dimension-checks the
    * pair at build time — and 0-extends the user vectors itself, so
    * neither half of the augmentation contract is left to the caller.
    * The supplier should return a STABLE value per index generation (the
    * same contract as the generic seam's `itemIndex`): the cell-catalog
    * cache keys on the index frame's identity, so a supplier that
    * rebuilds per call re-collects per batch. */
  def streamAnnRefresh(stream: DataFrame, history: DataFrame,
      userVecs: () => DataFrame,
      artifacts: () => graft.rank.TwoTower.AnnServeArtifacts, k: Int,
      nprobe: Int, put: Iterator[(String, String)] => Unit,
      streamLogDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val (idx, cents) = pairedArtifactThunks(artifacts)
    // one augmented frame per user-vector frame, so the served-users
    // cache (the only caller, under its lock) sees the supplier's
    // generations, not a new frame per batch
    var last: (DataFrame, DataFrame) = (null, null)
    streamAnnRefresh(stream, history, () => {
      val raw = userVecs()
      if (!(raw eq last._1))
        last = (raw, raw.select(col("user_id"), concat(col("vec"), array(lit(0.0f))).as("vec")))
      last._2
    }, idx, cents, k, nprobe, put, streamLogDir)
  }

  /** Round-15 (ADVICE r14): the typed overload used to pass
    * `() => artifacts().index` and `() => artifacts().centroids` as two
    * INDEPENDENT thunks — each generation access invoked the supplier
    * twice, and a supplier that swapped generations between the two
    * calls served gen-N index with gen-N+1 centroids (the exact
    * mismatched-pair failure the typed seam was built to forbid), while
    * a non-memoized supplier paid the artifact build twice. This
    * one-element cache restores the invariant: the INDEX thunk is the
    * only place a new generation is fetched and pinned; the centroids
    * thunk always serves the pinned instance's centroids, so the
    * centroids handed to the seam ALWAYS belong to the index last
    * served, regardless of supplier behavior or call interleaving (both
    * consumption sites in the generic seam — CellCatalogCache.get and
    * the past-budget join fallback — evaluate index before centroids).
    * A new generation takes effect at the next index fetch, matching
    * the generic seam's "next batch" contract. */
  private[graft] def pairedArtifactThunks(
      artifacts: () => graft.rank.TwoTower.AnnServeArtifacts)
      : (() => DataFrame, () => Array[Array[Float]]) = {
    val pinned =
      new java.util.concurrent.atomic.AtomicReference[
        graft.rank.TwoTower.AnnServeArtifacts]()
    val idx = () => {
      val a = artifacts()
      pinned.set(a)
      a.index
    }
    val cents = () => {
      val p = pinned.get()
      if (p != null) p.centroids
      else { val a = artifacts(); pinned.compareAndSet(null, a); pinned.get().centroids }
    }
    (idx, cents)
  }
}
