package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into an engine layer. `run` groups the spans of one
  * operation (a pipeline pass or a refresh batch). */
final class Span(val id: Int, val name: String, val parent: Int, val run: String,
    val startMs: Long, val startNs: Long, gc0Ms: Long) {
  var endMs: Long = startMs
  var endNs: Long = startNs
  var gcMs: Long = 0L
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def wallS: Double = (endNs - startNs) / 1e9
  private[perfbench] def close(): Unit = {
    endNs = System.nanoTime(); endMs = System.currentTimeMillis()
    gcMs = Gc.millis() - gc0Ms
  }
}

/** Per-job counters summed from its task-end events. */
final class JobRec(val id: Int, val startMs: Long, val tags: Set[String]) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var rowsRead = 0L
  var bytesWritten = 0L
  var rowsWritten = 0L
}

/** Records every job with the benchmark's tags and sums its task metrics.
  * Listener events arrive on one bus thread; readers call
  * [[Tracer.flush]] first. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.startsWith(Tracer.TagPrefix)).toSet).getOrElse(Set.empty[String])
    val j = new JobRec(e.jobId, e.time, tags)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) j.synchronized {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.diskBytesSpilled
      j.rowsRead += m.inputMetrics.recordsRead
      j.bytesWritten += m.outputMetrics.bytesWritten
      j.rowsWritten += m.outputMetrics.recordsWritten
    }
  }
}

/** JVM-wide GC time, and the heap the program still holds. */
object Gc {
  def millis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap used right after a full collection, in MiB. The first
    * collection lets Spark's ContextCleaner drop the blocks of unreachable
    * RDDs, broadcasts and shuffles; the second frees them. */
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Spans around the benchmark's calls into each layer. With tracing on,
  * every span tags the Spark jobs its thread (and threads it starts)
  * submits, and a [[JobListener]] attributes each job to the innermost
  * tagged span. Spans stay in memory until the run ends. Only the client
  * thread opens spans. */
final class Tracer(sc: SparkContext) {
  import Tracer._
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private var stack: List[Span] = Nil
  private var listener: JobListener = _
  private var flushes = 0

  private def traced: Boolean = listener != null

  /** Start attributing jobs; spans opened from now on tag their jobs. */
  def enable(): Unit = if (listener == null) {
    listener = new JobListener
    sc.addSparkListener(listener)
  }

  /** Stop attributing; returns the listener holding every job seen. */
  def disable(): JobListener = {
    val l = listener
    if (l != null) {
      flush()
      sc.removeSparkListener(l)
      listener = null
    }
    l
  }

  def span[T](name: String, run: String)(body: => T): T = {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), run,
      System.currentTimeMillis(), System.nanoTime(), Gc.millis())
    spans += s
    stack = s :: stack
    val tag = TagPrefix + s.id
    if (traced) sc.addJobTag(tag)
    try body
    finally {
      if (traced) sc.removeJobTag(tag)
      s.close()
      stack = stack.tail
    }
  }

  /** Waits until the listener has seen every event posted so far: a marker
    * job is posted after them and the bus delivers in order. */
  private def flush(): Unit = if (listener != null) {
    flushes += 1
    val tag = s"${TagPrefix}flush-$flushes"
    sc.addJobTag(tag)
    try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(tag)
    val deadline = System.nanoTime() + 30L * 1000000000L
    def seen = listener.jobs.values.asScala.exists(j => j.tags(tag) && j.endMs >= 0)
    while (!seen && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

object Tracer {
  val TagPrefix = "pb-"
  val StreamTag = "pb-stream"

  val Counters: Seq[String] = Seq("wall_s", "cpu_s", "gc_s", "jobs", "tasks",
    "driver_gap_s", "shuffle_write_bytes", "spill_bytes", "rows_read")

  /** Span id a job belongs to: the innermost tagged span, or for jobs of a
    * streaming query (tagged at start) the `streamSpan` span that was open
    * when the job started. */
  private def owner(j: JobRec, spans: Seq[Span], streamSpan: String): Option[Int] = {
    val ids = j.tags.flatMap(t => t.stripPrefix(TagPrefix).toIntOption)
    if (ids.nonEmpty) Some(ids.max)
    else if (j.tags(StreamTag))
      spans.filter(s => s.name == streamSpan && s.startMs <= j.startMs)
        .lastOption.map(_.id)
    else None
  }

  /** Length of the union of [start, end] intervals clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Counters of each span in `spans` (keyed by span id), each job counted
    * in its owner span and that span's ancestors. */
  def counters(spans: Seq[Span], jobs: Iterable[JobRec], streamSpan: String)
      : Map[Int, Map[String, Double]] = {
    val byId = spans.map(s => s.id -> s).toMap
    val owned = mutable.Map[Int, mutable.ArrayBuffer[JobRec]]()
    jobs.filter(_.endMs >= 0).foreach { j =>
      owner(j, spans, streamSpan).foreach { id =>
        var cur = byId.get(id)
        while (cur.isDefined) {
          owned.getOrElseUpdate(cur.get.id, mutable.ArrayBuffer()) += j
          cur = byId.get(cur.get.parent)
        }
      }
    }
    spans.map { s =>
      val js = owned.getOrElse(s.id, mutable.ArrayBuffer())
      val busy = covered(js.map(j => (j.startMs, j.endMs)).toSeq, s.startMs, s.endMs)
      s.id -> Map(
        "wall_s" -> s.wallS,
        "cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        "gc_s" -> s.gcMs / 1e3,
        "jobs" -> js.size.toDouble,
        "tasks" -> js.map(_.tasks).sum.toDouble,
        "driver_gap_s" -> math.max(0.0, s.wallS - busy / 1e3),
        "shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
        "spill_bytes" -> js.map(_.spill).sum.toDouble,
        "rows_read" -> js.map(_.rowsRead).sum.toDouble,
        "bytes_written" -> js.map(_.bytesWritten).sum.toDouble,
        "rows_written" -> js.map(_.rowsWritten).sum.toDouble)
    }.toMap
  }
}
