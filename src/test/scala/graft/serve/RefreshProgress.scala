package graft.serve

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The streaming engine's per-batch bookkeeping on a driver-route dense
  * refresh (`RecsTable.streamDenseRefresh`): 750 users and 1,000 items
  * of `dim` random floats, 20 seen items per user, batches of `events`
  * random interactions. After 3 warm-up batches, `batches` timed batches
  * run one at a time (add, then `processAllAvailable`). Prints the
  * query's execution class and, from its `recentProgress`, the median
  * `walCommit` (the offset-log write), `addBatch` (the `foreachBatch`
  * body), `commitOffsets` (the commit-log write) and `triggerExecution`
  * of the timed batches, beside the median wall from a batch's add to
  * `processAllAvailable`'s return. It uses only the public refresh, so it
  * compares two trees without an event log.
  *
  * Run: `sbt "Test/runMain graft.serve.RefreshProgress [batches] [events]
  * [dim]"` (defaults 40, 1000, 16; at most 97 batches, the progress
  * Spark keeps); the heap is `SPARK_DRIVER_MEM` (8g when unset). */
object RefreshProgress {

  def main(args: Array[String]): Unit = {
    def arg(i: Int, default: Int) = args.lift(i).fold(default)(_.toInt)
    val (batches, events, dim) = (arg(0, 40), arg(1, 1000), arg(2, 16))
    val (warmup, users, items) = (3, 750, 1000)
    require(warmup + batches <= 100, "Spark keeps the progress of the last 100 batches")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def vectors(n: Int, seed: Int, id: String) = spark.range(n).select(col("id").as(id),
        array((0 until dim).map(j => (rand(seed * 1000 + j) - 0.5).cast("float")): _*).as("vec"))
      .localCheckpoint()
    val rng = new scala.util.Random(7)
    def pairs(n: Int) = Seq.fill(n)((rng.nextInt(users).toLong, rng.nextInt(items).toLong))
    val dir = java.nio.file.Files.createTempDirectory("graft_refreshprogress").toString
    val in = MemoryStream[(Long, Long)]
    val q = RecsTable.streamDenseRefresh(in.toDF().toDF("user_id", "item_id"),
      pairs(users * 20).toDF("user_id", "item_id"), vectors(users, 1, "user_id"),
      vectors(items, 2, "item_id"), 10, (it: Iterator[(String, String)]) => it.foreach(_ => ()),
      s"$dir/log")
    def median(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else xs.sorted.apply(xs.size / 2)
    try {
      val walls = (0 until warmup + batches).map { _ =>
        val t0 = System.nanoTime()
        in.addData(pairs(events))
        q.processAllAvailable()
        (System.nanoTime() - t0) / 1e9
      }.drop(warmup)
      val timed = q.recentProgress.filter(p => p.batchId >= warmup && p.numInputRows > 0).toSeq
      def step(name: String) =
        median(timed.flatMap(p => p.durationMs.asScala.get(name).map(_.toLong / 1e3)))
      val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.getClass.getSimpleName
      println(f"$exec, ${timed.size} timed batches of $events events (dim $dim): median " +
        f"walCommit ${step("walCommit")}%.3f s, addBatch ${step("addBatch")}%.3f s, " +
        f"commitOffsets ${step("commitOffsets")}%.3f s, " +
        f"triggerExecution ${step("triggerExecution")}%.3f s; add to return ${median(walls)}%.3f s")
    } finally {
      q.stop()
      spark.stop()
    }
  }
}
