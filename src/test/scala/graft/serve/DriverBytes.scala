package graft.serve

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.graph.PackedGraph
import graft.sim.Retrieval
import graft.sql.{TopKDotF32, TopKDotIvfF32}

/** Driver bytes per row of the guarded vector collects and of a streaming
  * serve's seen pairs, measured: serialized task results summed by a
  * listener over `Retrieval.vectorRows` (header and collect, the path both
  * catalogs and a streaming serve's user vectors take), and used heap
  * after repeated `System.gc()` with each piece held: the packed chunks
  * (the same rows through the same `PackedGraph.collect`), then, the
  * chunks released, the decoded rows `vectorRows` returns, the sort index
  * the flattening builds and the flattened catalog. `vectorRows` releases
  * each chunk as it decodes it, so its peak is the decoded rows beside
  * the largest chunk or beside the sort index and the catalog, whichever
  * is more. The dense catalog is flattened with its norms; a streaming
  * serve's user row is the same collect without them. The per-row costs
  * in `Retrieval.rowResultBytes`/`rowHeapBytes` (and so
  * `RecsTable.ServedState`'s) come from these numbers (SCALE.md, "Regime
  * gates").
  *
  * Run: `sbt "Test/runMain graft.serve.DriverBytes [dim] [rows] [users]
  * [pairs]"` (defaults 16, 500000, 100000, 2000000); the heap is
  * `SPARK_DRIVER_MEM` (8g when unset). Prints one line per measurement. */
object DriverBytes {

  private def used(): Long = {
    (1 to 6).foreach { _ => System.gc(); Thread.sleep(150) }
    val rt = Runtime.getRuntime
    rt.totalMemory - rt.freeMemory
  }

  def main(args: Array[String]): Unit = {
    def arg(i: Int, default: Int) = args.lift(i).fold(default)(_.toInt)
    val (dim, rows, users, pairs) = (arg(0, 16), arg(1, 500000), arg(2, 100000), arg(3, 2000000))
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val results = new java.util.concurrent.atomic.AtomicLong()
    @volatile var marked = new java.util.concurrent.CountDownLatch(1)
    @volatile var markerJob = -1
    sc.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => results.addAndGet(m.resultSize))
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "marker"))
          markerJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) marked.countDown()
    })
    // task result bytes of `body`'s jobs: a marker job run after them
    // reaches the listener last (the bus keeps the order); its own ~1 KB
    // result is in the sum
    def taskResults(body: => Unit): Long = {
      results.set(0L)
      marked = new java.util.concurrent.CountDownLatch(1)
      body
      sc.setJobGroup("marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(marked.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job not seen")
      results.get()
    }
    def perRow(bytes: Long, n: Long) = f"${bytes.toDouble / n}%.1f"
    val vecs = spark.range(rows).select(col("id"), (col("id") % 64).as("cid"),
        array((0 until dim).map(j => rand(j).cast("float")): _*).as("vec"))
      .localCheckpoint()
    vecs.count()

    // (name, keys, catalog built from the decoded rows, the sort index it builds)
    val centroids = Array.tabulate(64, dim)((c, j) => ((c * 7 + j) % 5).toFloat)
    val kinds = Seq[(String, Int, (Array[Array[Long]], Array[Array[Float]]) => AnyRef,
        (Array[Array[Long]]) => AnyRef)](
      ("dense catalog", 1, (k, v) => TopKDotF32.flatten(k(0), v, cosine = true),
        k => TopKDotF32.idOrder(k(0))),
      ("user vectors", 1, (k, v) => TopKDotF32.flatten(k(0), v, cosine = false),
        k => TopKDotF32.idOrder(k(0))),
      ("cell catalog", 2, (k, v) => TopKDotIvfF32.group(k(0), k(1), v, centroids),
        k => TopKDotIvfF32.cellOrder(k(0), k(1), centroids.length)))
    kinds.foreach { case (name, keys, build, sortIndex) =>
      val keyCols = Seq(col("id"), col("cid").cast("int")).take(keys)
      def decode() = Retrieval.vectorRows(vecs, keyCols, col("vec"), Long.MaxValue)((_, _) => true)
        .getOrElse(sys.error("the vector collect was refused: raise SPARK_DRIVER_MEM"))
      val bytes = taskResults(decode())
      val h0 = used()
      var chunks = PackedGraph.collect(vecs.select((keyCols.map(_.cast("long")) :+ col("vec")): _*),
        Long.MaxValue, 1L, 1L)().get._1
      val h1 = used()
      val largest = (h1 - h0).toDouble * chunks.map(_.length).max / chunks.map(_.length.toLong).sum
      chunks = null
      val h2 = used()
      val decoded = decode()
      val h3 = used()
      val index = sortIndex(decoded._1)
      val h4 = used()
      val built = build(decoded._1, decoded._2)
      val h5 = used()
      val peak = (h3 - h2) + math.max(largest, (h5 - h3).toDouble)
      println(s"d=$dim $name ($rows rows): task results ${perRow(bytes, rows)} B/row; heap " +
        s"chunks ${perRow(h1 - h0, rows)}, decoded ${perRow(h3 - h2, rows)}, " +
        s"sort index ${perRow(h4 - h3, rows)}, built ${perRow(h5 - h4, rows)}, " +
        s"peak ${perRow(peak.toLong, rows)} B/row")
      java.util.Objects.requireNonNull(Seq(decoded, index, built))
    }

    // seen pairs: 'pairs' distinct (user, item) pairs over 'users' users
    // with a vector, packed, then folded into a started driver state
    val history = spark.range(pairs).select((col("id") % users).as("user_id"),
      (col("id") / users).cast("long").as("item_id")).localCheckpoint()
    history.count()
    val userVecs = vecs.filter(col("id") < users).select(col("id").as("user_id"), col("vec"))
      .localCheckpoint()
    userVecs.count()
    val empty = spark.createDataFrame(sc.emptyRDD[org.apache.spark.sql.Row], history.schema)
    val pairBytes = taskResults(PackedGraph.collect(history, Long.MaxValue, 1L, 1L)())
    val p0 = used()
    val packed = PackedGraph.collect(history, Long.MaxValue, 1L, 1L)().get._1
    val p1 = used()
    java.util.Objects.requireNonNull(packed)
    val p2 = used()
    val flat = Retrieval.flatCatalog(userVecs, "user_id", "vec", cosine = false)((_, _) => true)
    val p3 = used()
    val state = RecsTable.ServedState.start(history, () => userVecs, empty)
    val p4 = used()
    require(state.isDefined, "the driver state was refused: raise SPARK_DRIVER_MEM")
    println(s"d=$dim seen pairs ($pairs pairs, $users users): task results " +
      s"${perRow(pairBytes, pairs)} B/pair; heap chunks ${perRow(p1 - p0, pairs)} B/pair; " +
      s"built state ${perRow(p4 - p3, users + pairs)} B/row, " +
      s"${perRow(p4 - p3 - (p3 - p2), pairs)} B/pair without its vectors")
    java.util.Objects.requireNonNull(Seq(flat, state))
    spark.stop()
  }
}
