package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query (plus bench-only entries that
  * have no DuckDB-expressible oracle, e.g. ALS retrieval) against
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Measurement sinks to the `noop` datasource so the full plan materializes
  * every output column — `.count()` would let Catalyst prune unreferenced
  * projections and benchmark expression batteries as near-no-ops. Failures
  * are recorded per query (negative time + an entry in `errors`), never
  * silently summed.
  *
  * Reliability: each query runs SPARK_GRAFT_BENCH_REPS times (default 3) and
  * the reported number is the median — a single local[32] process running
  * ~110 queries back-to-back sees 2-5x per-query jitter from JIT/GC/page-cache
  * crowding (round-3/4 cross-round deltas on byte-identical code proved the
  * single-shot numbers untrustworthy). The complete result, including every
  * rep, is also written to target/bench_full.json so downstream tooling never
  * depends on a possibly-truncated stdout tail. Run exclusively: any
  * concurrent sbt/duckdb job on the box inflates timings 20-60%.
  *
  * Round-7 reproducibility additions (the r6 finding was that suite totals
  * drifted 1.30x across rounds on untouched code, with no way to tell
  * environment from regression from the artifact alone):
  *  - a CONSTANT calibration workload (data-independent, fixed row count)
  *    is timed at suite start / middle / end and reported under
  *    `calibration` — a run whose calibration points disagree measured a
  *    drifting box, and the drift factor is now in the artifact itself;
  *  - the heavy queries (SparkEntry.benchIsolate) get System.gc() + a
  *    settle pause before EVERY rep, so their medians stop absorbing the
  *    previous query's heap/code-cache state (the q35 A/B showed suite
  *    position alone moved an untouched query's median 2x), plus ONE
  *    untimed warmup rep so a cold first execution (parquet pages, plan
  *    codegen) cannot flip a median-of-3 — the timed reps measure the
  *    steady state the SCALE.md claims describe;
  *  - the fit-heavy entries (SparkEntry.benchVolatile — iterative model
  *    training dominates their wall) are listed under `volatile` in the
  *    artifact, and `core_total` sums everything else: the number to
  *    compare across rounds. `value` stays the all-queries total for
  *    continuity with earlier rounds.
  *
  * Round-13 additions (verdict tasks 4 and 6):
  *  - contended-start self-correction: when the suite-start probes read
  *    > 2x the mid/end points (the r12 driver box was 14-28x contended for
  *    its first half), the first-half queries get one more timed pass at
  *    suite end; both passes ship and the rerun folds into the floors the
  *    claims lint adjudicates — the artifact carries its own correction;
  *  - untimed scalar `gauges` (SparkEntry.benchGauges — currently ANN
  *    serving recall@10 vs the exact dense serve on the same model), so a
  *    wall bought by a quality trade is visible beside the wall;
  *  - probe GRID: the calibration pair is timed ~every eighth of the
  *    suite (`cal_points`/`shuf_points` in the full artifact), not just
  *    start/mid/end — the r13 close's leg C had a box phase sitting
  *    between the mid and end probes (its 3-point drift read a calm
  *    1.07) and the claims lint convicted untouched code; with the grid,
  *    any phase longer than a grid interval is inside the artifact's own
  *    tolerance band.
  *
  * Round-14 additions (verdict task 1 — BENCH_r13.json was rc 124 with a
  * tail of Spark startup logs: the ONE end-of-suite line was the whole
  * stdout contract, so a driver timeout zeroed the round's official
  * artifact):
  *  - STREAMING results: every query prints a one-line compact record as
  *    it completes (`{"qNN_name":med[,"~qNN_name":floor]}`), in exactly
  *    the key shapes the claims lint's tail scavenge already reads, and
  *    every probe-grid point prints the cumulative `cal_pts`/`shuf_pts`
  *    arrays plus the gauges — a run killed at ANY point leaves the last
  *    ~30 queries' walls, the box-speed band up to the kill, and the
  *    quality gauges inside the driver's 2000-char tail. The final
  *    compact line is unchanged and still printed LAST (a completed run
  *    reads as before); stage markers (`{"bstage":...}`) date the
  *    startup/setup phases so a kill before the first query is
  *    attributable;
  *  - volatile entries default to ONE timed rep
  *    (SPARK_GRAFT_BENCH_VOLATILE_REPS): their fit-dominated walls are
  *    excluded from core_total and declared breathing, so the 2nd/3rd
  *    reps bought ~2 min of suite wall and no adjudicated signal —
  *    exactly the margin the r13 driver run ran out of;
  *  - SPARK_GRAFT_BENCH_FIRST / SPARK_GRAFT_BENCH_LAST (comma-separated
  *    names) move the named queries to the head/tail of the otherwise
  *    alphabetical order: the position-controlled A/B instrument for
  *    suite-position JVM-state hypotheses (the q52f/q52s serving-block
  *    contradiction) — same code, same box, opposite suite positions.
  */
object Bench {

  /** Fixed calibration workload: 100M-row hash aggregate, data-independent
    * and deterministic (same plan, same row count, every run, every box).
    * Purely CPU + one small shuffle — exactly the resources whose
    * availability drifts when the box is contended or the JVM is aging. */
  private def calibration(spark: SparkSession, cpus: Int): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    // hash() is INT-valued, so its long SUM stays far from overflow at 1e8
    // rows under ANSI mode (xxhash64's long sum overflows immediately).
    spark.range(0L, 100000000L, 1L, cpus)
      .select((col("id") % 1024).as("g"), hash(col("id")).as("h"))
      .groupBy("g").agg(sum("h").as("s"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Shuffle-shaped calibration probe (round-7 finding: the CPU probe read
    * drift_x 1.19 on a run whose shuffle-heavy queries were 2-4× the
    * builder's numbers — CPU availability and exchange/spill throughput
    * drift INDEPENDENTLY on a contended box, so each needs its own
    * constant workload). 20M rows pushed through a full-width hash
    * exchange (~320 MB shuffle write, wide key so nothing combines
    * map-side) + a 1M-group aggregate: serializer, shuffle disk, and
    * reducer-fetch shaped, deterministic, data-independent. The claims
    * lint (tools/check_bench_claims.py) normalizes SCALE.md's pinned
    * walls by BOTH probes' medians, so a box that shuffles 2× slower
    * reads 2× claims instead of convicting untouched code. */
  private def shuffleCalibration(spark: SparkSession, cpus: Int): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(0L, 20000000L, 1L, cpus)
      .select(xxhash64(col("id")).as("k"), (col("id") % 1000003L).as("g"))
      .repartition(2 * cpus, col("k"))
      .groupBy(col("g")).agg(count(lit(1)).as("n"), max(col("k")).as("m"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val volReps = math.min(reps, math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_VOLATILE_REPS", "1").toInt))
    val settleMs = sys.env.getOrElse("SPARK_GRAFT_BENCH_SETTLE_MS", "400").toLong
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: the driver records only the last ~2000 chars of
    // stdout+stderr, and r7's WindowExec warnings (bounded-input windows,
    // all documented) ate ~700 chars of that window — truncating the JSON
    // line's tail and leaving cheap queries' numbers unverifiable.
    spark.sparkContext.setLogLevel("ERROR")
    // ---- formatting helpers (used by BOTH the streaming per-query lines
    // and the end-of-suite artifact) ----
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    def f3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f",
      Double.box(v))
    def r2(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // Streamed line (round-14 task 1): flushed immediately so a killed
    // run's pipe carries everything printed before the kill.
    def emit(s: String): Unit = { println(s); Console.out.flush() }
    emit("""{"bstage":"session_up"}""")
    // Untimed JVM warmup (JIT + codegen compiler + parquet reader init) on
    // the tiny sf0.001 flagship so the first measured query isn't charged
    // ~8 s of one-time session cost.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    emit("""{"bstage":"warmup_done"}""")
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Untimed fit-once setup: materializes the artifacts the *_served
    // queries read, so their numbers isolate the serving path.
    try SparkEntry.benchSetup(spark, sfDir)
    catch { case e: Throwable =>
      errors("benchSetup") = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
    }
    emit("""{"bstage":"setup_done"}""")
    // Untimed scalar gauges (ANN recall etc. — round-12 verdict task 6):
    // evaluated once, carried in the artifact beside the walls. Skipped in
    // dev-filtered runs (they read the fit-once artifacts benchSetup wrote
    // and cost a few serve passes).
    val gauges: Seq[(String, Double)] =
      if (sys.env.contains("SPARK_GRAFT_BENCH_ONLY")) Seq.empty
      else SparkEntry.benchGauges.toSeq.sortBy(_._1).flatMap { case (n, f) =>
        try Some(n -> f(spark, sfDir))
        catch { case e: Throwable =>
          errors(s"gauge:$n") =
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          None
        }
      }
    val gaugesJson = gauges.map { case (k, v) => jstr(k) + ":" + f3(v) }
      .mkString("{", ",", "}")
    emit(s"""{"bstage":"gauges_done","gauges":$gaugesJson}""")
    val all = (SparkEntry.queries -- SparkEntry.benchSkip) ++ SparkEntry.benchOnly
    val isolate = SparkEntry.benchIsolate
    // Dev-iteration filter (comma-separated name prefixes), mirroring
    // Verify's third arg; the driver never sets it — official runs are
    // always the full suite.
    val keep: String => Boolean = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(p) => val ps = p.split(","); name => ps.exists(name.startsWith)
      case None => _ => true
    }
    // Position-controlled ordering (round-14 task 2): FIRST/LAST lists
    // move the named queries to the suite's head/tail; everything else
    // keeps the alphabetical order. Unknown names are ignored.
    def envList(name: String): Seq[String] =
      sys.env.get(name).map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Seq.empty)
    val posFirst = envList("SPARK_GRAFT_BENCH_FIRST")
    // ADVICE r14: a query named in BOTH lists matched the head filter
    // AND the tail filter and ran twice, emitting duplicate keys in the
    // streamed records and the artifact JSON — FIRST wins, the tail
    // list drops names the head already consumed.
    val posLast =
      envList("SPARK_GRAFT_BENCH_LAST").filterNot(posFirst.contains)
    val alpha = all.toSeq.filter(kv => keep(kv._1)).sortBy(_._1)
    val ordered =
      alpha.filter(kv => posFirst.contains(kv._1))
          .sortBy(kv => posFirst.indexOf(kv._1)) ++
        alpha.filterNot(kv =>
          posFirst.contains(kv._1) || posLast.contains(kv._1)) ++
        alpha.filter(kv => posLast.contains(kv._1))
          .sortBy(kv => posLast.indexOf(kv._1))

    def runOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (String, Double, Seq[Double]) = {
      // Isolated (heavy) queries get ONE untimed warmup rep: their first
      // execution pays cold parquet pages + plan codegen, and with only 3
      // timed reps a cold first rep flips the median by up to 1.7×
      // (measured on q51s across the round-7 double run — reps like
      // [9.5, 10.1, 6.7] vs [10.6, 6.3, 6.0] on identical code). The
      // timed reps then measure the steady state the claims describe.
      if (isolate(name)) {
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
      // volatile entries (fit walls, excluded from core_total) take one
      // timed rep by default — their extra reps bought suite wall, not
      // adjudicated signal (round-14 task 1: the r13 driver run timed out)
      val nReps = if (SparkEntry.benchVolatile(name)) volReps else reps
      val times = (1 to nReps).map { _ =>
        if (isolate(name)) { System.gc(); Thread.sleep(settleMs) }
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            if (!errors.contains(name))
              errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        if (ok) dt else -dt
      }
      val good = times.filter(_ > 0).sorted
      val median =
        if (good.isEmpty) times.head
        else good(good.size / 2)
      (name, median, times)
    }

    // Calibration GRID (round 13): one untimed warmup per probe, then a
    // timed pair roughly every eighth of the suite (plus start and end).
    // The three-point start/mid/end protocol left a blind spot the r13
    // close hit exactly: leg C's box phase sat BETWEEN the mid and end
    // points, its probes read calm (drift 1.07), and the claims lint
    // convicted untouched code with no drift escape. A ~9-point grid
    // bounds any phase longer than ~1/8 of the suite inside the
    // artifact's own band; the compact line still reports start/mid/end
    // (with drift over ALL points), the full artifact carries the grid.
    try calibration(spark, cpus.toInt) catch { case _: Throwable => () }
    try shuffleCalibration(spark, cpus.toInt) catch { case _: Throwable => () }
    def calPoint(): Double =
      try calibration(spark, cpus.toInt) catch { case _: Throwable => -1.0 }
    def shufPoint(): Double =
      try shuffleCalibration(spark, cpus.toInt) catch { case _: Throwable => -1.0 }
    val calPts = scala.collection.mutable.ArrayBuffer[Double]()
    val shufPts = scala.collection.mutable.ArrayBuffer[Double]()
    // each probe point streams the CUMULATIVE grid + the gauges: a killed
    // run's tail then carries the box-speed band up to the kill (the
    // claims lint normalizes by these arrays) and the quality gauges,
    // whatever the kill point. The `done` count dates the point.
    def probePoint(done: Int): Unit = {
      calPts += calPoint(); shufPts += shufPoint()
      emit(s"""{"cal_pts":${calPts.map(r2).mkString("[", ",", "]")},""" +
        s""""shuf_pts":${shufPts.map(r2).mkString("[", ",", "]")},""" +
        s""""done":$done,"gauges":$gaugesJson}""")
    }
    // per-query streamed record, in the exact key shapes the claims
    // lint's tail scavenge reads: `"qNN_name":median` plus, when a floor
    // would change adjudication, `"~qNN_name":floor` (the `~` prefix
    // keeps it out of the flat median scavenge). Errors stream as
    // `qerr` (no q[0-9] key — the scavenge regex never sees them).
    def emitQuery(name: String, med: Double, ts: Seq[Double]): Unit =
      if (med <= 0) emit(s"""{"qerr":${jstr(name)}}""")
      else {
        val fl = ts.filter(_ > 0).min
        val flPart =
          if (fl < 0.95 * med) "," + jstr("~" + name) + ":" + f3(fl) else ""
        emit("{" + jstr(name) + ":" + f3(med) + flPart + "}")
      }
    val gridEvery = math.max(8, math.ceil(ordered.size / 8.0).toInt)
    probePoint(0) // start
    val results = ordered.zipWithIndex.map { case ((n, f), i) =>
      if (i > 0 && i % gridEvery == 0) probePoint(i)
      val r = runOne(n, f)
      emitQuery(r._1, r._2, r._3)
      r
    }
    probePoint(ordered.size) // end
    val calStart = calPts.head; val shufStart = shufPts.head
    val calMid = calPts(calPts.size / 2); val shufMid = shufPts(shufPts.size / 2)
    val calEnd = calPts.last; val shufEnd = shufPts.last
    val firstHalf = ordered.take(ordered.size / 2)
    // Contended-start correction (round-12 verdict task 4): the r12 driver
    // box ran its first half 14-28x contended (cal start 8.02 vs mid 0.72,
    // shuffle 69.35 vs 2.50) — the probes detected it and nothing acted,
    // leaving every first-half median garbage. When the start probes read
    // > 2x the later points, the first-half queries get ONE more timed
    // pass here at suite end (the box's clean window); both passes ship
    // (`queries` keeps the original medians, `queries_rerun` the late
    // pass) and the rerun folds into the per-query floors the claims lint
    // adjudicates, so the artifact carries its own correction.
    def lateLow(pts: Seq[Double]): Double = {
      val good = pts.drop(1).filter(_ > 0)
      if (good.isEmpty) -1.0 else good.min
    }
    val calLate = lateLow(calPts.toSeq)
    val shufLate = lateLow(shufPts.toSeq)
    val contendedStart =
      (calStart > 0 && calLate > 0 && calStart > 2.0 * calLate) ||
      (shufStart > 0 && shufLate > 0 && shufStart > 2.0 * shufLate)
    val repFloorOf: Map[String, Double] = results.collect {
      case (k, med, ts) if med > 0 => k -> ts.filter(_ > 0).min
    }.toMap
    val rerun: Map[String, Double] =
      if (!contendedStart) Map.empty
      else firstHalf.map { case (name, fn) =>
        if (isolate(name)) { System.gc(); Thread.sleep(settleMs) }
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        // stream an improved floor (tail scavenge is last-match-wins, so
        // only emit when the rerun actually lowers the query's floor)
        if (ok && repFloorOf.get(name).exists(dt < _))
          emit("{" + jstr("~" + name) + ":" + f3(dt) + "}")
        name -> (if (ok) dt else -dt)
      }.toMap
    def driftOf(pts: Seq[Double]): Double = {
      val good = pts.filter(_ > 0)
      if (good.isEmpty) -1.0 else good.max / good.min
    }
    // drift over the WHOLE grid: a phase between the legacy three points
    // now shows in the artifact's own drift number
    val calDrift = driftOf(calPts.toSeq)
    val shufDrift = driftOf(shufPts.toSeq)

    val qs = results.map { case (k, v, _) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, _) if v > 0 => v }.sum
    val coreTotal = results.collect {
      case (k, v, _) if v > 0 && !SparkEntry.benchVolatile(k) => v
    }.sum
    val calJson =
      s"""{"start":$calStart,"mid":$calMid,"end":$calEnd,"drift_x":$calDrift}"""
    val shufJson =
      s"""{"start":$shufStart,"mid":$shufMid,"end":$shufEnd,"drift_x":$shufDrift}"""
    val volatileJson =
      SparkEntry.benchVolatile.toSeq.sorted.map(jstr).mkString("[", ",", "]")
    val calCompact =
      s"""{"start":${r2(calStart)},"mid":${r2(calMid)},"end":${r2(calEnd)},"drift_x":${r2(calDrift)}}"""
    val shufCompact =
      s"""{"start":${r2(shufStart)},"mid":${r2(shufMid)},"end":${r2(shufEnd)},"drift_x":${r2(shufDrift)}}"""
    // STDOUT LINE SIZE CONTRACT: the driver records only the last ~2000
    // chars of the run's output (measured: every BENCH_r1..r6 artifact has
    // a 2000-char `tail` and `parsed: null` — the full per-query line has
    // NEVER fit, so no round's official bench artifact was machine-readable).
    // The printed line therefore carries the totals + the slowest queries
    // up to a strict char budget, with the rest summarized under
    // omitted/omitted_total; target/bench_full.json keeps everything.
    val byCost = results.filter(_._2 > 0).sortBy(-_._2)
    // Per-query FLOOR = min of the positive timed reps. The round-8..10
    // A/B pairs showed the floor is the stable cross-run statistic on a
    // contended box (medians of isolated queries still absorbed 2-12x
    // suite-position noise in single driver passes), so the claims lint
    // adjudicates against min(median, floor) while the median stays the
    // round-over-round number. core_floor sums the floors of the
    // non-volatile queries — the suite total with per-rep noise removed.
    val floors = results.collect { case (k, med, ts) if med > 0 =>
      // the contended-start rerun pass (above) is one more honest rep of
      // the same code on the same box — it participates in the floor
      k -> (ts.filter(_ > 0) ++ rerun.get(k).filter(_ > 0)).min
    }.toMap
    val coreFloor = floors.collect {
      case (k, v) if !SparkEntry.benchVolatile(k) => v
    }.sum
    // ~570 chars of fixed fields (incl. both calibration blocks, the
    // compact probe grids, the contended_start flag and the gauges map)
    // + the [info] prefix leave ~1430 for the per-query maps inside the
    // driver's 2000-char tail; qfloor gets its own slice, prioritized by
    // how much noise it removes (median - floor), and only rows where
    // the floor actually disagrees (min < 0.85 x median) spend budget
    val qBudget = 880
    val kept = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    var used = 0
    byCost.foreach { case (k, v, _) =>
      val entry = k.length + f3(v).length + 4
      if (used + entry <= qBudget) { kept += (k -> v); used += entry }
    }
    val keptSet = kept.map(_._1).toSet
    val omitted = byCost.filterNot(r => keptSet(r._1))
    val omittedTotal = omitted.map(_._2).sum
    val qsCompact = kept.map { case (k, v) => jstr(k) + ":" + f3(v) }
      .mkString("{", ",", "}")
    val floorBudget = 300
    val floorKept = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    var floorUsed = 0
    byCost.toSeq
      .collect { case (k, med, _) if floors.get(k).exists(_ < 0.85 * med) =>
        (k, floors(k), med - floors(k))
      }
      .sortBy(-_._3)
      .foreach { case (k, fl, _) =>
        // +5, not +4: the emitted key is "~"+k (round-12 advice — the
        // uncounted tilde let floorKept overrun the budget by one byte
        // per entry and eat the 2000-char driver tail margin)
        val entry = k.length + f3(fl).length + 5
        if (floorUsed + entry <= floorBudget) {
          floorKept += (k -> fl); floorUsed += entry
        }
      }
    // "~" prefix on the compact floor keys: downstream tooling (and the
    // driver) scavenges the possibly-truncated stdout tail with a flat
    // `"qNNN":num` regex, and an unprefixed floor entry would silently
    // overwrite the median for the same query name.
    val qfloorCompact = floorKept.map { case (k, v) => jstr("~" + k) + ":" + f3(v) }
      .mkString("{", ",", "}")
    val errCompact = errors.take(5)
      .map { case (k, v) => jstr(k) + ":" + jstr(v.take(40)) }
      .mkString("{", ",", "}")
    // the probe grid rides the compact line too (~110 chars at 9 points):
    // the DRIVER's artifact is the truncated stdout tail, and the grid
    // matters most exactly there — the per-point band is what keeps a
    // mid-suite box phase from convicting untouched code
    val calPtsCompact = calPts.map(r2).mkString("[", ",", "]")
    val shufPtsCompact = shufPts.map(r2).mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","core_total":${f3(coreTotal)},"core_floor":${f3(coreFloor)},"n_queries":${results.size},"contended_start":$contendedStart,"gauges":$gaugesJson,"calibration":$calCompact,"shuffle_cal":$shufCompact,"cal_pts":$calPtsCompact,"shuf_pts":$shufPtsCompact,"queries":$qsCompact,"qfloor":$qfloorCompact,"omitted":${omitted.size},"omitted_total":${f3(omittedTotal)},"n_errors":${errors.size},"errors":$errCompact,"sf":"$sfDir","reps":$reps}"""
    val repsJson = results.map { case (k, _, ts) =>
      jstr(k) + ":" + ts.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val isolateJson = isolate.toSeq.sorted.map(jstr).mkString("[", ",", "]")
    val qfloorJson = floors.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val rerunJson = rerun.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val calPtsJson = calPts.mkString("[", ",", "]")
    val shufPtsJson = shufPts.mkString("[", ",", "]")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","core_total":$coreTotal,"core_floor":$coreFloor,"contended_start":$contendedStart,"gauges":$gaugesJson,"calibration":$calJson,"shuffle_cal":$shufJson,"cal_points":$calPtsJson,"shuf_points":$shufPtsJson,"volatile":$volatileJson,"isolated":$isolateJson,"queries":$qs,"qfloor":$qfloorJson,"queries_rerun":$rerunJson,"rep_times":$repsJson,"errors":$errJson,"sf":"$sfDir","reps":$reps,"cpus":$cpus}"""
    try {
      // a dev-filtered run must not clobber the full artifact the bench
      // claims lint reads (measured mistake: two ONLY=q134 A/B runs left
      // bench_full.json with one query and every SCALE.md claim "MISSING")
      val name = if (sys.env.contains("SPARK_GRAFT_BENCH_ONLY"))
        "bench_partial.json" else "bench_full.json"
      val out = java.nio.file.Paths.get("target", name)
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, full.getBytes("UTF-8"))
    } catch { case _: Throwable => () } // file dump is best-effort; stdout line is the contract
    // Round-16 (verdict task 1): the compact line is emitted AFTER
    // spark.stop() so no Spark shutdown output can land behind it — the
    // driver parses the FINAL line of its ~2000-char tail as JSON, and
    // with build.sbt's StdoutOutput strategy + showSuccess/showTiming off
    // this is now the bare last line of the whole sbt invocation. The
    // timed region is untouched (every query completed long before).
    // stop() is best-effort: a shutdown failure must not cost the line.
    try spark.stop() catch { case _: Throwable => () }
    emit(line)
  }
}
