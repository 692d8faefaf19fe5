package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ml.{Pipeline, PipelineStage}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.bronze.CsvEnvelopeLoader
import graft.features.{CategorifyEstimator, FeaturePipeline, ZScoreEstimator}
import graft.models.StarDag
import graft.rank.{Cooccur, Interactions, RankingEval, TwoTower}
import graft.serve.RecsTable

/** What the measuring loop needs from a workload. `setup` is timed once per
  * rep; `op` is one measured operation; `finish` runs the checks that need
  * the whole run. Any exception an op throws counts as a failed op. */
trait Workload {
  def setupReps: Int
  def setup(rep: Int): Unit
  def prepare(): Unit = ()
  def op(i: Int): OpResult
  /** Failures found by checks over the whole run (untimed). */
  def finish(): Seq[String] = Nil
  def close(): Unit = ()
  /** Name of the span opened per streamed batch (jobs of a streaming query
    * are attributed to it by time). */
  def streamSpan: String = ""
}

/** One measured operation: wall time from first input to last committed
  * output, input events it consumed, and the failures its checks found. */
final case class OpResult(wallS: Double, events: Long, failures: Seq[String],
    info: Map[String, Any] = Map.empty)

final case class Ctx(spark: SparkSession, seed: Long, dataDir: String, work: String,
    tracer: Tracer)

/** The paper's star flow, shared by the workloads: CSV sources staged from
  * the TPC-H-shaped tables, envelope-encoded into bronze and pulled through
  * the 8-model DAG. */
object Star {
  val Boundary = "2000-01-01"
  val K = 10

  val sources: Seq[(String, (SparkSession, String) => DataFrame, StructType)] = Seq(
    ("transactions", StarDag.transactionsRaw _, StarDag.txSchema),
    ("articles", StarDag.articlesRaw _, StarDag.articleSchema),
    ("customers", StarDag.customersRaw _, StarDag.customerSchema),
    ("images", StarDag.imagesRaw _, StarDag.imageSchema))

  /** Stage the four sources as CSV in a row order permuted by `permSeed`. */
  def stageCsv(spark: SparkSession, dataDir: String, csvDir: String, permSeed: Long): Unit =
    sources.foreach { case (name, raw, _) =>
      val df = raw(spark, dataDir)
      CsvEnvelopeLoader.writeCsv(
        df.orderBy(xxhash64(lit(permSeed) +: df.columns.toSeq.map(col): _*)),
        s"$csvDir/$name")
    }

  /** CSV → envelope → bronze, one etl batch for every source. */
  def ingest(spark: SparkSession, csvDir: String, etlTs: Long, etlId: String,
      bronze: String): Unit =
    sources.foreach { case (name, _, schema) =>
      CsvEnvelopeLoader.loadBatch(CsvEnvelopeLoader.readCsv(spark, s"$csvDir/$name", schema),
        name, etlTs, etlId, bronze)
    }

  /** Latest-batch staging of every source + the DAG, as the final_pull. */
  def finalPull(spark: SparkSession, bronze: String): DataFrame = {
    def stg(name: String, schema: StructType) =
      StarDag.staging(CsvEnvelopeLoader.readBronze(spark, bronze, name), schema)
    StarDag.runFromStaged(stg("transactions", StarDag.txSchema),
      stg("articles", StarDag.articleSchema), stg("customers", StarDag.customerSchema),
      stg("images", StarDag.imageSchema))
  }

  /** The reference grid (batch {16384, 4096} × lr {0.04, 0.02}) with the
    * q63g tower shape, each config trained for one epoch over `nPairs`. */
  def epochGrid(nPairs: Long): Seq[TwoTower.Config] =
    TwoTower.referenceGrid(TwoTower.Config(embDim = 16, hiddenDim = 8, seed = "tt8"))
      .map(c => c.copy(steps = math.max(1L, nPairs / c.batchRows).toInt))

  /** Wall of the op's root "pipeline" span: the pass time the layer spans
    * and pipeline.self_s add up to. */
  def rootWall(tracer: Tracer, run: String): Double =
    tracer.spans.filter(s => s.run == run && s.name == "pipeline").last.wallS

}

/** `nightly`: the whole batch flow once per op, every step handing its
  * output on as parquet. The final_pull of every op stays under `pulls/`
  * for the runner's DuckDB oracle check. */
final class Nightly(c: Ctx) extends Workload {
  import c._
  import Star._
  val setupReps = 3
  private def csv(rep: Int) = s"$work/csv$rep"

  def setup(rep: Int): Unit = {
    stageCsv(spark, dataDir, csv(rep), seed * 31 + rep)
    if (rep == 0) {
      val dedup = StarDag.dedupTransactions(StarDag.transactionsRaw(spark, dataDir))
      val meta = StarDag.articlesMetadata(StarDag.articlesRaw(spark, dataDir),
        StarDag.imagesRaw(spark, dataDir))
      val bad = StarDag.fkViolations(dedup, meta, StarDag.customersRaw(spark, dataDir))
        .limit(5).collect()
      require(bad.isEmpty, s"inputs break FK integrity: ${bad.mkString(", ")}")
    }
  }

  private def read(p: String) = spark.read.parquet(p)

  def op(i: Int): OpResult = {
    val dir = s"$work/pass$i"
    val pull = s"$work/pulls/op$i"
    val run = s"op$i"
    def span[T](name: String)(body: => T): T = tracer.span(name, run)(body)
    var outcome: (String, Double, Double, String) = null
    span("pipeline") {
      span("bronze.load") { ingest(spark, csv(i % setupReps), 1700000000L, "batch-1", s"$dir/bronze") }
      span("models.stardag") { finalPull(spark, s"$dir/bronze").write.parquet(pull) }
      span("features.pipeline") {
        val stages = Array[PipelineStage](
          new CategorifyEstimator().setInputCols(Array("brand", "ptype", "mktsegment")),
          new ZScoreEstimator().setInputCol("price").setOutputCol("price_z"),
          new ZScoreEstimator().setInputCol("acctbal").setOutputCol("acctbal_z"))
        val (_, transformed) = FeaturePipeline.fitOnUnion(
          new Pipeline().setStages(stages), Seq(read(pull)))
        transformed.head.write.parquet(s"$dir/features")
      }
      span("rank.split") {
        val inter = read(s"$dir/features").select(col("customer_id").as("user_id"),
          col("article_id").as("item_id"), timestamp_micros(col("t_dat_us")).as("ts"))
        val (train, test) = Interactions.splitByTime(inter, Boundary)
        train.write.parquet(s"$dir/train")
        test.write.parquet(s"$dir/test")
        Interactions.recentN(read(s"$dir/train"), 12).select("user_id", "item_id")
          .write.parquet(s"$dir/pairs")
      }
      val train = read(s"$dir/train").select("user_id", "item_id")
      val test = read(s"$dir/test")
      val best = span("rank.twotower_grid") {
        val pairs = read(s"$dir/pairs")
        val (best, model, _) = TwoTower.gridSearch(pairs, test, epochGrid(pairs.count()),
          K, excludeSeen = Some(train))
        model.save(s"$dir/model")
        best
      }
      span("rank.twotower_serve") {
        val model = TwoTower.load(spark, s"$dir/model", best)
        TwoTower.recommend(model, model.userVecs.select("user_id"), K, excludeSeen = Some(train))
          .write.parquet(s"$dir/recs_twotower")
      }
      span("rank.cooccur_fit") { Cooccur.itemNeighbors(train, 50).write.parquet(s"$dir/neighbors") }
      span("rank.cooccur_serve") {
        Cooccur.recommendAuto(train, read(s"$dir/neighbors"), K).write.parquet(s"$dir/recs_cooccur")
      }
      val selected = span("rank.eval") {
        def eval(m: String) = RankingEval.meanMetrics(
          RankingEval.perUser(read(s"$dir/recs_$m"), test, K))
        val (tt, co) = (eval("twotower"), eval("cooccur"))
        val (m, (r, n)) = if (Ordering[(Double, Double)].gteq(tt, co)) ("twotower", tt) else ("cooccur", co)
        outcome = (m, r, n, best.key)
        m
      }
      span("serve.recs_table") {
        val targets = RecsTable.firstTargetPerUser(test, Seq(col("ts").asc, col("item_id").asc))
        RecsTable.writeParquet(RecsTable.assemble(
          read(s"$dir/recs_$selected").select("user_id", "rk", "item_id"), targets,
          RecsTable.popularFallback(train, K)), s"$dir/recs_table")
      }
    }
    val wall = rootWall(tracer, run)
    val (model, recall, ndcg, key) = outcome
    val table = read(s"$dir/recs_table")
    val fp = table.agg(count(lit(1)), bit_xor(xxhash64(col("user_id"),
      concat_ws(",", col("recs")), coalesce(col("target"), lit(""))))).head()
    val fallback = table.filter(col("user_id") === "no_user").select(size(col("recs"))).collect()
    val failures = mutable.ArrayBuffer[String]()
    if (fallback.length != 1 || fallback.head.getInt(0) != K)
      failures += s"no_user row must carry $K items, got ${fallback.map(_.getInt(0)).mkString(",")}"
    val events = read(pull).count()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    OpResult(wall, events, failures.toSeq, Map("pull" -> pull,
      "fingerprint" -> s"${fp.getLong(0)}:${fp.getLong(1)}",
      "model" -> model, "config" -> key, "recall_at10" -> recall, "ndcg_at10" -> ndcg))
  }
}

/** Benchmark-owned KV sink: records every put with the batch it answers. */
object PutLog {
  @volatile var batch: Int = -1
  val puts = new ConcurrentHashMap[Int, ConcurrentHashMap[String, String]]()
  val lastPutNs = new ConcurrentHashMap[Int, AtomicLong]()

  val put: Iterator[(String, String)] => Unit = it => {
    val b = batch
    val m = puts.computeIfAbsent(b, _ => new ConcurrentHashMap[String, String]())
    val last = lastPutNs.computeIfAbsent(b, _ => new AtomicLong(0L))
    it.foreach { case (k, v) =>
      m.put(k, v)
      last.accumulateAndGet(System.nanoTime(), (a, x) => math.max(a, x))
    }
  }
}

/** `refresh`: the streaming re-serve of a model fitted once in setup.
  * One closed-loop client adds a seeded batch of new interactions to a
  * MemoryStream and waits for it to be served before adding the next. */
final class Refresh(c: Ctx) extends Workload {
  import c._
  import Star._
  val setupReps = 3
  val BatchEvents = 1000
  val WarmupBatches = 3
  override def streamSpan: String = "serve.refresh_batch"

  private var cfg: TwoTower.Config = _
  private var model: TwoTower.Model = _
  private var history: DataFrame = _
  private var users: Array[Long] = _
  private var userCdf: Array[Double] = _
  private var items: Array[Long] = _
  private var itemCdf: Array[Double] = _
  private val batches = mutable.ArrayBuffer[Array[(Long, Long)]]()
  private var mem: MemoryStream[(Long, Long)] = _
  private var query: StreamingQuery = _

  def setup(rep: Int): Unit = {
    val dir = s"$work/setup$rep"
    val (train, _) = Interactions.splitByTime(Interactions.fromStar(spark, dataDir), Boundary)
    train.select("user_id", "item_id").write.parquet(s"$dir/history")
    val pairs = Interactions.recentN(train, 12).select("user_id", "item_id").localCheckpoint()
    cfg = epochGrid(pairs.count()).head
    TwoTower.fit(pairs, cfg).save(s"$dir/model")
  }

  private def cdf(w: Array[Double]): Array[Double] = {
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  private def draw(rng: SplittableRandom, cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  override def prepare(): Unit = {
    val dir = s"$work/setup${setupReps - 1}"
    model = TwoTower.load(spark, s"$dir/model", cfg)
    history = spark.read.parquet(s"$dir/history")
    // Zipf-skewed users over a seeded ranking of the trained users;
    // items weighted by their train popularity
    val rng = new SplittableRandom(seed)
    val trained = model.userVecs.select("user_id").collect().map(_.getLong(0)).sorted
    users = trained.indices.map(i => (rng.nextLong(), trained(i))).sortBy(_._1).map(_._2).toArray
    userCdf = cdf(users.indices.map(r => 1.0 / math.pow(r + 1.0, 1.1)).toArray)
    val pop = history.groupBy("item_id").count().orderBy("item_id").collect()
    items = pop.map(_.getLong(0))
    itemCdf = cdf(pop.map(_.getLong(1).toDouble))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    mem = MemoryStream[(Long, Long)]
    // the stream thread inherits the tag, so its jobs are attributable
    spark.sparkContext.addJobTag(Tracer.StreamTag)
    try query = RecsTable.streamDenseRefresh(mem.toDF().toDF("user_id", "item_id"),
      history, model.userVecs, model.itemVecs, K, PutLog.put, s"$work/stream_log")
    finally spark.sparkContext.removeJobTag(Tracer.StreamTag)
    (0 until WarmupBatches).foreach(i => send(i))
  }

  private def batch(b: Int): Array[(Long, Long)] = {
    val rng = new SplittableRandom(seed * 1000003L + b)
    Array.fill(BatchEvents)((users(draw(rng, userCdf)), items(draw(rng, itemCdf))))
  }

  /** Adds batch b and waits until it is served; returns add → last put. */
  private def send(b: Int): Double = {
    val events = batch(b)
    batches += events
    PutLog.batch = b
    val t0 = System.nanoTime()
    mem.addData(events.toSeq)
    query.processAllAvailable()
    val last = Option(PutLog.lastPutNs.get(b)).map(_.get()).getOrElse(0L)
    require(last > t0, s"batch $b produced no put")
    (last - t0) / 1e9
  }

  def op(i: Int): OpResult = {
    val b = WarmupBatches + i
    var wall = 0.0
    tracer.span(streamSpan, s"op$i") {
      wall = send(b)
      val s = tracer.spans.last
      s.attrs("log_rows") = batches.map(_.length.toLong).sum.toDouble
      s.attrs("users_put") = PutLog.puts.get(b).size.toDouble
    }
    OpResult(wall, BatchEvents, Nil)
  }

  /** Re-serves sampled batches through TwoTower.recommend with the same
    * model, users and seen set, and compares with the recorded puts. */
  override def finish(): Seq[String] = {
    import spark.implicits._
    val n = batches.length
    val sample = Seq(0, WarmupBatches, n - 1).filter(_ < n).distinct
    sample.flatMap { b =>
      val evs = batches.take(b + 1).flatten.toSeq.toDF("user_id", "item_id")
      val active = batches(b).map(_._1).distinct.toSeq.toDF("user_id")
      val expected = TwoTower.recommend(model, active, K,
          excludeSeen = Some(history.select("user_id", "item_id").unionByName(evs)))
        .groupBy("user_id")
        .agg(to_json(transform(sort_array(collect_list(struct(col("rk"),
          col("item_id").cast("string").as("i")))), x => x.getField("i"))).as("p"))
        .collect().map(r => r.get(0).toString -> r.getString(1)).toMap
      val got = Option(PutLog.puts.get(b)).map(_.asScala.toMap).getOrElse(Map.empty[String, String])
      if (got == expected) None
      else Some(s"batch $b: ${got.size} puts vs ${expected.size} expected, " +
        s"${(got.keySet ++ expected.keySet).count(u => got.get(u) != expected.get(u))} differ")
    }
  }

  override def close(): Unit = if (query != null) query.stop()
}
