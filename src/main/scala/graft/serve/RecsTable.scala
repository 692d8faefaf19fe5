package graft.serve

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.{Budgets, Relational}

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
    * it into the history snapshot, then truncate it). The query's progress
    * is tracked asynchronously ([[refreshQuery]]): a batch waits on no
    * checkpoint write, and a restarted query may re-serve its last few
    * batches — at-least-once, as a retried batch is.
    */
  def streamRefresh(stream: DataFrame, history: DataFrame, neighbors: DataFrame,
      k: Int, put: Iterator[(String, String)] => Unit, streamLogDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    refreshQuery(stream) { batch =>
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
    }

  /** Starts a streaming refresh: `body` runs once per micro-batch
    * (`foreachBatch`) under Spark's async progress tracking, so a batch
    * waits on neither its offset-log write nor its commit-log write — each
    * a small file create and rename in the query's checkpoint, 0.02–0.04 s
    * on a local file system that forks `chmod` per create (SCALE.md "The
    * checkpoint writes leave the batch's path"). Spark's default
    * checkpoint interval is kept.
    *
    * Spark admits async tracking only for an allow-list of sinks, as it
    * cannot know that a `foreachBatch` body is idempotent. The refresh
    * bodies are: the stream log is at-least-once, the seen ids are sets,
    * and a put is last-write-wins per user. So the sink check is
    * overridden (`_asyncProgressTrackingOverrideSinkSupportCheck`). The
    * queries never resume from their checkpoint — every start rebuilds its
    * state from history ∪ log, and the checkpoint is Spark's temporary
    * directory or a fresh one per query —, so the only change async
    * tracking makes is that a restart may re-serve a few batches. */
  private def refreshQuery(stream: DataFrame)(body: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.execution.streaming.runtime.AsyncProgressTrackingMicroBatchExecution._
    stream.writeStream.outputMode("append")
      .option(ASYNC_PROGRESS_TRACKING_ENABLED, "true")
      .option(ASYNC_PROGRESS_TRACKING_OVERRIDE_SINK_SUPPORT_CHECK, "true")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) => body(batch) }
      .start()
  }

  /** The dense and ANN serves' shared query shape. The history is read
    * only when the query starts, into one of two routes; after that, new
    * interactions arrive only through the stream, and a later change to
    * `history`'s source is not seen.
    *
    *  - Driver route (the default): the query's serving state is held on
    *    the driver ([[ServedState]]): each user's vector and each user's
    *    seen ids over history ∪ the rows already in `streamLogDir`. Per
    *    micro-batch, one bounded collect reads the batch's rows — the only
    *    read of the source —, the driver writes them to the log as one
    *    parquet file beside the ranking ([[ServedState.writeLog]]), folds
    *    them into the seen sets, and one job ranks the active users with
    *    a vector (a `(user_id, vec, __seen)` frame of their rows, spread
    *    over `defaultParallelism` partitions) through `serve` and puts
    *    their lists. Per batch: 2 jobs, O(batch + active × their seen
    *    ids) driver work, no log scan and no exchange; the state holds
    *    ~(4·dim + 28) B per user and ~13 B per distinct seen pair on the
    *    driver (measured at dim 16, 20 pairs per user), nothing persisted
    *    on the executors. It is admitted while users + seen pairs + the
    *    batch's rows fit `Budgets.servedStateRows` and what the driver
    *    holds (`Budgets.driverRows` at a user row's cost, which grows with
    *    the vector length) and the vectors fit `Budgets.catalogFloats`,
    *    with non-null integral ids (`Budgets.integral`), distinct users
    *    and one vector length. The query's start packs the vectors and reads
    *    their header, then collects the history ∪ log pairs through the
    *    guarded packed collect (its header first), then transfers the
    *    vectors, so a refusal at either header has collected nothing; it
    *    has read the history once more than the distributed route alone
    *    would.
    *  - Distributed route (refused at start, or for good from the first
    *    refused batch on, the driver state dropped): the query persists
    *    one served-users frame ([[servedUsers]]: at start from the
    *    history; at a switch from the driver state's seen sets, emitted
    *    from the driver, so the history is never read again and the
    *    driver keeps those slices as the frame's lineage, ~16 B per seen
    *    pair), and per micro-batch [[batchLists]] groups the
    *    batch's rows with the whole log's — the log scan and one exchange
    *    of O(log + batch) rows — and joins them in place to the frame,
    *    and a Spark job appends the batch's rows to the log (they are
    *    never on the driver). Per batch: 3 jobs plus the scan of a log
    *    that grows with every batch; executor memory: the frame (users ×
    *    (dim + their history)), and on the driver nothing past the
    *    switch's seed.
    *
    * On both routes the batch is APPENDED to `streamLogDir` (parquet, read
    * back with the batch's own schema — no per-batch schema-inference
    * job; a file is listed only once it is whole) beside the ranking, and
    * the batch ends once both have, failing if the append fails: an item
    * seen in batch 1 stays excluded when the same user reappears in batch
    * 5, and a later query (or the distributed route) reads it. A retried
    * micro-batch appends duplicate rows, which is harmless: the seen sets
    * are sets — the log is at-least-once, the derived state exactly-once.
    * Every non-empty list is put through the same kvSink seam as the
    * batch table (a user with nothing left to recommend gets no put). The
    * query's progress is tracked asynchronously ([[refreshQuery]]): a batch
    * waits on no offset-log or commit-log write, and a restarted query —
    * which rebuilds its state from history ∪ log, never from its
    * checkpoint — may re-serve its last few batches, at-least-once as a
    * retried batch is. The state — the frame or the driver's — is released
    * when the query stops or fails. The log compacts on the model-refit
    * cadence (fold it into the history snapshot, restart the query). */
  private def streamSeenServe(stream: DataFrame, history: DataFrame,
      userVecs: () => DataFrame, put: Iterator[(String, String)] => Unit,
      streamLogDir: String, serve: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val spark = stream.sparkSession
    // the distributed route's served-users frame, once the query is on it
    @volatile var served: graft.sim.Retrieval.GenerationCache[DataFrame] = null
    try {
      // the log exists (empty) before the first append lands
      val logPath = new org.apache.hadoop.fs.Path(streamLogDir)
      logPath.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(logPath)
      val schema = stream.select(col("user_id"), col("item_id")).schema
      val userType = history.schema("user_id").dataType
      @volatile var state = ServedState.start(history, userVecs,
        spark.read.schema(schema).parquet(streamLogDir))
      if (state.isEmpty) {
        served = servedUsers(history, userVecs)
        served.get()
      }
      // one new thread per append, started by the batch's thread so it
      // inherits the batch's Spark job properties
      val appender = ExecutionContext.fromExecutor { r =>
        val t = new Thread(r, "graft-stream-log-append")
        t.setDaemon(true)
        t.start()
      }
      // the append runs beside the ranking, and the batch ends only once
      // its append has
      def beside(append: => Unit)(rank: => Unit): Unit = {
        val appended = Future(append)(appender)
        try rank finally Await.ready(appended, Duration.Inf)
        Await.result(appended, Duration.Inf)
      }
      val q = refreshQuery(stream) { batch =>
        val b = batch.select(col("user_id"), col("item_id"))
        state.flatMap(st => st.collect(b).map(st -> _)) match {
          case Some((st, (vectors, pairs))) =>
            beside(ServedState.writeLog(batch.sparkSession, streamLogDir, b.schema, pairs)) {
              kvSink(serve(st.fold(vectors, pairs)).filter(size(col("recs")) > 0), put)
            }
          case None =>
            // the switch: the frame's seen sets are the driver state's,
            // which already hold history ∪ log — the history is not
            // read again
            state.foreach(st => served = servedUsers(st.seenPairs(userType), userVecs))
            state = None
            // the query groups the batch's rows itself, so it may read
            // the log with or without them (a listing sees a log file
            // only once the committer has moved it in whole)
            val log = batch.sparkSession.read.schema(b.schema).parquet(streamLogDir)
            beside(b.write.mode("append").parquet(streamLogDir)) {
              kvSink(batchLists(b, log, served.get(), serve), put)
            }
        }
      }
      val release = new ReleaseOnTermination(q, () => {
        state = None
        Option(served).foreach(_.clear())
      })
      q.sparkSession.streams.addListener(release)
      // terminated before the listener was added: its event is gone
      if (!q.isActive) release.release()
      q
    } catch {
      case e: Throwable =>
        Option(served).foreach(_.clear())
        throw e
    }
  }

  /** The driver route's serving state of one streaming query
    * ([[streamSeenServe]]): each user's vector — one flattened catalog of
    * user vectors per user-vector generation, held in a
    * [[graft.sim.Retrieval.GenerationCache]], so a new generation swaps
    * the vectors and keeps the seen ids — and each user's sorted distinct
    * seen ids. It stays admitted while users + seen pairs (+ the next
    * batch's rows) fit `gate` and what the driver holds at the
    * vectors' length; a refusal is final. Used from one batch
    * thread at a time. */
  private[serve] final class ServedState private (spark: org.apache.spark.sql.SparkSession,
      gate: Long, userVecs: () => DataFrame) {
    private val seen = new scala.collection.mutable.LongMap[Array[Long]]()
    private var pairs = 0L
    /** The (user, item) pairs the first vector collect takes in between
      * its header and its transfer: the query's start only ([[seed]]). */
    private var startPairs: Option[DataFrame] = None
    private val vectors = new graft.sim.Retrieval.GenerationCache[
      Option[graft.sql.TopKDotF32.FlatCatalog]](userVecs, (frame, _) => collectVectors(frame),
      _ => ())

    /** Rows users + seen pairs + a batch's rows may total with vectors of
      * `dim` floats, each charged as a user row, the dearer kind (a seen
      * pair costs 16 B of task results and 17 B packed; a user row
      * `Retrieval.rowResultBytes`/`rowHeapBytes`, as it is collected and
      * flattened as a dense catalog row). */
    private def cap(dim: Int): Long = math.min(gate, Budgets.driverRows(spark.sparkContext.getConf,
      graft.sim.Retrieval.rowResultBytes(dim), graft.sim.Retrieval.rowHeapBytes(dim)))

    /** `frame`'s non-null (user_id, vec) rows, flattened, through the
      * guarded vector collect (`Retrieval.flatCatalog`: one vector length,
      * inside `Budgets.catalogFloats`), when the ids are integral and
      * distinct and the users leave room beside the seen pairs for a
      * batch row (users + pairs < the cap); at start the pairs are
      * collected after the vectors' header and before their transfer. */
    private def collectVectors(frame: DataFrame): Option[graft.sql.TopKDotF32.FlatCatalog] =
      if (!Budgets.integral(frame.schema("user_id").dataType)) None
      else graft.sim.Retrieval.flatCatalog(frame, "user_id", "vec", cosine = false)(
          (n, dim) => n < cap(dim) - pairs && startPairs.forall(seed(_, n, dim)))
        .filter(c => c.ids.indices.tail.forall(i => c.ids(i - 1) != c.ids(i)))

    /** Folds `frame`'s (user, item) pairs into the seen sets when they fit
      * the guarded packed collect under what `n` users of `dim` floats
      * leave of the cap, each pair charged as a user row. */
    private def seed(frame: DataFrame, n: Long, dim: Int): Boolean = {
      startPairs = None
      graft.graph.PackedGraph.collect(frame, cap(dim) - n, graft.sim.Retrieval.rowResultBytes(dim),
          graft.sim.Retrieval.rowHeapBytes(dim))()
        .exists { case (chunks, _) => foldPacked(chunks.toSeq); true }
    }

    /** Folds interleaved (user, item) longs into the seen sets. */
    private def foldPacked(packed: Iterable[Array[Long]]): Unit = {
      val add = new scala.collection.mutable.LongMap[scala.collection.mutable.ArrayBuilder.ofLong]()
      packed.foreach { p =>
        var i = 0
        while (i < p.length) {
          add.getOrElseUpdate(p(i), new scala.collection.mutable.ArrayBuilder.ofLong) += p(i + 1)
          i += 2
        }
      }
      add.foreachEntry { (u, items) =>
        val old = seen.getOrElse(u, Array.emptyLongArray)
        val merged = graft.graph.PackedGraph.dictionary(old ++ items.result())
        pairs += merged.length - old.length
        seen.update(u, merged)
      }
    }

    /** The current user vectors (a new generation is taken first) and
      * the batch's (user, item) ids as interleaved longs — one bounded
      * collect — when they are non-null and users + seen pairs + rows fit
      * the cap; None = refused. */
    def collect(batch: DataFrame)
        : Option[(graft.sql.TopKDotF32.FlatCatalog, Array[Long])] = vectors.get().flatMap { v =>
      val room = cap(v.dim) - v.n - pairs
      val rows = if (room <= 0L) Array.empty[Row]
        else batch.limit(ServedState.rows(room) + 1).collect()
      if (room <= 0L || rows.length > room || rows.exists(r => r.isNullAt(0) || r.isNullAt(1)))
        None
      else Some((v, rows.flatMap(r => Array(r.get(0), r.get(1)))
        .map(_.asInstanceOf[Number].longValue)))
    }

    /** Folds a collected batch into the seen sets; returns the queries of
      * its users with a vector in `v`, (user_id, vec, __seen), emitted on
      * the executors from slices of primitive arrays
      * (`PackedGraph.sliced`). */
    def fold(v: graft.sql.TopKDotF32.FlatCatalog, packed: Array[Long]): DataFrame = {
      foldPacked(Seq(packed))
      val users = Iterator.range(0, packed.length, 2).map(packed(_)).distinct
        .filter(java.util.Arrays.binarySearch(v.ids, _) >= 0).toArray
      import spark.implicits._
      spark.createDataset(graft.graph.PackedGraph.sliced(spark, users.length) { (from, until) =>
        val us = users.slice(from, until)
        val vecs = us.map { u =>
          val i = java.util.Arrays.binarySearch(v.ids, u)
          java.util.Arrays.copyOfRange(v.flat, i * v.dim, (i + 1) * v.dim)
        }
        (us, vecs, us.map(seen(_)))
      } { case (us, vecs, seens) => us.indices.iterator.map(i => (us(i), vecs(i), seens(i))) })
        .toDF("user_id", "vec", "__seen")
    }

    /** Every seen (user_id, item_id) pair — history ∪ log so far —, the
      * user cast to `userType`, emitted on the executors from slices of
      * the seen sets: the seed of the served-users frame when the query
      * leaves the driver route. */
    def seenPairs(userType: org.apache.spark.sql.types.DataType): DataFrame = {
      val users = seen.keys.toArray
      import spark.implicits._
      spark.createDataset(graft.graph.PackedGraph.sliced(spark, users.length) { (from, until) =>
        val us = users.slice(from, until)
        (us, us.map(seen(_)))
      } { case (us, items) => us.indices.iterator.flatMap(i => items(i).iterator.map(us(i) -> _)) })
        .toDF("user_id", "item_id")
        .select(col("user_id").cast(userType).as("user_id"), col("item_id"))
    }
  }

  private[serve] object ServedState {
    private def rows(n: Long): Int = math.min(n, (Int.MaxValue - 1).toLong).toInt

    /** Writes interleaved (user, item) longs into `dir` as ONE parquet file
      * of `schema`'s two integral columns, from the driver: the file Spark's
      * writer would make (the session's schema conversion, so each column's
      * physical type and repetition follow its field, and the session's
      * compression codec), written under a hidden `.`-prefixed name, which
      * a listing skips, then renamed to a unique `part-` name, so a reader
      * sees it only whole. A failed write deletes its file and throws. */
    def writeLog(spark: org.apache.spark.sql.SparkSession, dir: String,
        schema: org.apache.spark.sql.types.StructType, packed: Array[Long]): Unit = {
      import org.apache.hadoop.fs.Path
      import org.apache.parquet.hadoop.metadata.CompressionCodecName
      import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport,
        SparkToParquetSchemaConverter}
      val sqlConf = spark.sessionState.conf
      val conf = spark.sessionState.newHadoopConf()
      val codec = CompressionCodecName.valueOf(
        new ParquetOptions(Map.empty[String, String], sqlConf).compressionCodecClassName)
      val fileSchema = new SparkToParquetSchemaConverter(sqlConf).convert(schema)
      // INT64, or INT32 for the narrower integral types
      val int64 = schema.fields.map(_.dataType == org.apache.spark.sql.types.LongType)
      val name = s"part-00000-${java.util.UUID.randomUUID()}-c000${codec.getExtension}.parquet"
      val tmp = new Path(dir, s".$name.tmp")
      val fs = tmp.getFileSystem(conf)
      try {
        val out = org.apache.parquet.hadoop.example.ExampleParquetWriter
          .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, conf))
          .withType(fileSchema)
          .withExtraMetaData(java.util.Map.of(ParquetReadSupport.SPARK_METADATA_KEY, schema.json,
            "org.apache.spark.version", org.apache.spark.SPARK_VERSION_SHORT))
          .withConf(conf).withCompressionCodec(codec).build()
        try {
          val rows = new org.apache.parquet.example.data.simple.SimpleGroupFactory(fileSchema)
          var i = 0
          while (i < packed.length) {
            val row = rows.newGroup()
            for (c <- 0 until 2)
              if (int64(c)) row.add(c, packed(i + c)) else row.add(c, packed(i + c).toInt)
            out.write(row)
            i += 2
          }
        } finally out.close()
        if (!fs.rename(tmp, new Path(dir, name)))
          throw new java.io.IOException(s"could not rename $tmp into $dir")
      } catch {
        case e: Throwable =>
          try fs.delete(tmp, false) catch { case d: Throwable => e.addSuppressed(d) }
          throw e
      }
    }

    /** The driver route's state when the query may start on it. The user
      * vectors are probed, then every (user, item) pair of `history` ∪
      * `log` goes through the guarded packed collect under what the
      * vectors leave of the cap, then the vectors are collected: all
      * inside `Budgets.servedStateRows` and what the driver holds, and a
      * refusal at either probe has collected nothing. None = serve on the
      * distributed route. */
    def start(history: DataFrame, userVecs: () => DataFrame, log: DataFrame)
        : Option[ServedState] = {
      def ids(f: DataFrame) = f.select(col("user_id").cast("long"), col("item_id").cast("long"))
      val st = new ServedState(log.sparkSession, Budgets.get.servedStateRows, userVecs)
      val integral = Seq(history, log).forall(f =>
        Seq("user_id", "item_id").forall(c => Budgets.integral(f.schema(c).dataType)))
      if (!integral) None
      else {
        st.startPairs = Some(ids(history).unionByName(ids(log)))
        st.vectors.get().map(_ => st)
      }
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
    * history plus the accumulated stream log — are excluded ROW-LOCALLY
    * inside the kernel, and the kernel's ranked array IS the rec list:
    * |active| × catalog fused dots per batch, with zero candidate
    * materialization and no regrouping (query shape, routes and
    * lifecycle: [[streamSeenServe]]).
    *  - Driver route: a batch costs 2 jobs — one bounded collect of its
    *    rows, then one ranking-and-put job over the active users' rows
    *    beside a log file the driver writes — and O(batch + active ×
    *    their seen ids) driver work: no log scan, no exchange, whatever
    *    the log's length. Memory: ~(4·dim + 28) B per user and ~13 B per distinct
    *    seen pair on the driver, held for the query's life.
    *  - Distributed route: a batch costs the log scan, one in-memory scan
    *    of the query's cached served-users frame and one exchange of the
    *    log's and the batch's rows — O(log + batch) rows, never O(all
    *    users). Memory: the frame (users × (dim + their history)) in
    *    executor storage, nothing on the driver.
    * The model is DATA: the user vectors (in the driver state or the
    * served-users frame) and the item catalog (a
    * [[graft.sim.Retrieval.CatalogCache]]) are each rebuilt ONCE PER
    * MODEL GENERATION (round-11 verdict task 5), not once per batch; a
    * hot-swap (a supplier returning a NEW frame) takes effect on the next
    * batch without restarting the query.
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
    * per-batch scoring is O(active × nprobe/nlist × catalog) candidate
    * rows, never the full catalog per user. The seen ids and the user
    * vectors follow [[streamSeenServe]]'s two routes at the costs
    * [[streamDenseRefresh]] states: on the driver route a batch is 2 jobs,
    * one bounded collect and one ranking-and-put job, beside a
    * driver-written log file (the cid-join plan adds its own exchanges), with ~(4·dim + 28) B per user
    * and ~13 B per seen pair held on the driver; on the distributed route a
    * batch scans and exchanges the log, and the served-users frame sits
    * in executor storage. For an INNER-PRODUCT catalog
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
    // one augmented frame per user-vector frame, so the user-vector
    // caches (the driver state's or the served-users frame's, called by
    // the query's start and then one batch at a time) see the supplier's
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
