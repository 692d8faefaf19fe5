package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Drives one benchmark run inside one JVM and writes its report as JSON:
  * timed setup reps, then operations until `--seconds` have passed, then
  * the whole-run checks. With `--trace 1` every odd operation runs traced
  * and the report carries per-layer counters from the traced ops.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cpus C
  *   --data DIR --work DIR --out FILE
  */
object Main {
  val SpanNames: Seq[String] = Seq("bronze.load", "models.stardag", "features.pipeline",
    "rank.split", "rank.twotower_grid", "rank.twotower_serve", "rank.cooccur_fit",
    "rank.cooccur_serve", "rank.eval", "serve.recs_table", "serve.refresh_batch")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceMode = a("trace") == "1"
    val cpus = a("cpus").toInt
    val work = a("work")
    val report = mutable.LinkedHashMap[String, Any]("workload" -> workload, "seed" -> seed,
      "trace" -> traceMode)
    val setupTimes = mutable.ArrayBuffer[Double]()
    val ops = mutable.ArrayBuffer[(Int, OpResult, Boolean)]()
    val jobs = mutable.ArrayBuffer[JobRec]()
    var spark: SparkSession = null
    var wl: Workload = null
    var tracer: Tracer = null
    try {
      spark = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      report("env") = Map("nproc" -> Runtime.getRuntime.availableProcessors(),
        "spark_master" -> spark.sparkContext.master,
        "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_version" -> spark.version,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}")
      tracer = new Tracer(spark.sparkContext)
      val ctx = Ctx(spark, seed, a("data"), work, tracer)
      wl = workload match {
        case "nightly" => new Nightly(ctx)
        case "refresh" => new Refresh(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      (0 until wl.setupReps).foreach { r =>
        val t0 = System.nanoTime()
        wl.setup(r)
        setupTimes += (System.nanoTime() - t0) / 1e9
      }
      wl.prepare()
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      var i = 0
      var failedInRow = 0
      // a streaming workload traces every other batch, so one traced run
      // also times the same batches untraced; a pipeline traces every pass
      val alternate = wl.streamSpan.nonEmpty
      val minOps = if (traceMode && alternate) 2 else 1
      while ((i < minOps || System.nanoTime() < deadline) && failedInRow < 3) {
        val traced = traceMode && (!alternate || i % 2 == 1)
        if (traced) tracer.enable()
        val s0 = System.nanoTime()
        val r = try wl.op(i) catch {
          case NonFatal(e) => OpResult((System.nanoTime() - s0) / 1e9, 0L, Seq(describe(e)))
        }
        if (traced) jobs ++= tracer.disable().jobs.values.asScala
        ops += ((i, r, traced))
        failedInRow = if (r.failures.isEmpty) 0 else failedInRow + 1
        i += 1
      }
      report("measured_s") = (System.nanoTime() - t0) / 1e9
      report("live_heap_mb") = Gc.liveMb()
      report("finish_failures") = try wl.finish() catch { case NonFatal(e) => Seq(describe(e)) }
      if (traceMode) {
        report("layers") = layers(tracer.spans.toSeq, jobs.toSeq, ops.toSeq, wl)
        val tracedRuns = ops.filter(_._3).map(o => s"op${o._1}").toSet
        report("spans") = tracer.spans.filter(s => tracedRuns(s.run)).map(s => Map(
          "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS))
      }
    } catch {
      case e: Throwable => report("fatal") = describe(e)
    } finally {
      report("setup_s") = setupTimes.toSeq
      report("ops") = ops.map { case (i, r, traced) =>
        Map("i" -> i, "wall_s" -> r.wallS, "events" -> r.events, "traced" -> traced,
          "failures" -> r.failures, "info" -> r.info)
      }
      try if (wl != null) wl.close() catch { case NonFatal(_) => () }
      try if (spark != null) spark.stop() catch { case NonFatal(_) => () }
      val w = new PrintWriter(new File(a("out")), "UTF-8")
      try w.write(Json(report)) finally w.close()
    }
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-layer metrics of a traced run. Batch workloads report the spans
    * of their median traced pass, so the layer walls plus pipeline.self_s
    * add up to that pass; the refresh workload reports medians over its
    * traced batches. Layers a workload never calls read 0. */
  private def layers(spans: Seq[Span], jobs: Seq[JobRec], ops: Seq[(Int, OpResult, Boolean)],
      wl: Workload): Map[String, Double] = {
    val counters = Tracer.counters(spans, jobs, wl.streamSpan)
    val tracedOps = ops.filter(o => o._3 && o._2.failures.isEmpty)
    val untraced = ops.filter(o => !o._3 && o._2.failures.isEmpty).map(_._2.wallS)
    val out = mutable.LinkedHashMap[String, Double]()
    for (n <- SpanNames; c <- Tracer.Counters) out(s"$n.$c") = 0.0
    Seq("pipeline.self_s", "bronze.load.bytes_written", "models.stardag.rows_out",
      "serve.refresh_batch.log_rows", "serve.refresh_batch.users_put",
      "rank.eval.recall_at10", "rank.eval.ndcg_at10").foreach(out(_) = 0.0)
    out("trace.overhead_ratio") =
      if (tracedOps.isEmpty || untraced.isEmpty) 0.0
      else median(tracedOps.map(_._2.wallS)) / median(untraced)
    if (tracedOps.nonEmpty && wl.streamSpan.nonEmpty) {
      val runs = tracedOps.map(o => s"op${o._1}").toSet
      val bs = spans.filter(s => s.name == wl.streamSpan && runs(s.run))
      for (c <- Tracer.Counters) out(s"${wl.streamSpan}.$c") = median(bs.map(s => counters(s.id)(c)))
      for (k <- Seq("log_rows", "users_put"))
        out(s"${wl.streamSpan}.$k") = median(bs.map(_.attrs.getOrElse(k, 0.0)))
    } else if (tracedOps.nonEmpty) {
      val (i, r, _) = tracedOps.sortBy(_._2.wallS).apply((tracedOps.size - 1) / 2)
      val run = spans.filter(_.run == s"op$i")
      val root = run.find(_.name == "pipeline").get
      val children = run.filter(_.parent == root.id)
      for (s <- children; c <- Tracer.Counters)
        out(s"${s.name}.$c") = out.getOrElse(s"${s.name}.$c", 0.0) + counters(s.id)(c)
      out("pipeline.self_s") = root.wallS - children.map(_.wallS).sum
      children.find(_.name == "bronze.load").foreach(s =>
        out("bronze.load.bytes_written") = counters(s.id)("bytes_written"))
      children.find(_.name == "models.stardag").foreach(s =>
        out("models.stardag.rows_out") = counters(s.id)("rows_written"))
      Seq("recall_at10", "ndcg_at10").foreach(k => r.info.get(k).foreach(v =>
        out(s"rank.eval.$k") = v.asInstanceOf[Double]))
    }
    out.toMap
  }
}
