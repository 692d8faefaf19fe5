package graft.streaming

import graft.SparkSpecBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class EventStreamSpec extends SparkSpecBase {
  import spark.implicits._
  import EventStream._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("watermarked dedup drops re-delivered event ids across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreamSpec.dedupEvents(in.toDF(), "event_id", "ts", "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      Event(1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0),
      Event(2L, ts("2024-01-01 10:01:00"), 1L, "click", 2.0))
    q.processAllAvailable()
    in.addData( // re-delivery of id 1 + a new event
      Event(1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0),
      Event(3L, ts("2024-01-01 10:02:00"), 2L, "buy", 3.0))
    q.processAllAvailable()
    val out = spark.table("dedup_out").select("event_id").as[Long].collect().sorted
    q.stop()
    assert(out.toSeq == Seq(1L, 2L, 3L))
  }

  test("tumbling-window per-type stats aggregate across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = windowedTypeStats(in.toDF(), "ts", "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Complete()).start()
    in.addData(
      Event(1L, ts("2024-01-01 10:01:00"), 1L, "click", 1.5),
      Event(2L, ts("2024-01-01 10:05:00"), 2L, "click", 2.5),
      Event(3L, ts("2024-01-01 10:11:00"), 1L, "click", 4.0))
    q.processAllAvailable()
    val rows = spark.table("win_out")
      .selectExpr("window.start", "event_type", "n", "sum_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    q.stop()
    assert(rows == Set(
      (ts("2024-01-01 10:00:00"), "click", 2L, 4.0),
      (ts("2024-01-01 10:10:00"), "click", 1L, 4.0)))
  }

  test("mergeSessions transition: gap splits, in-gap extends (pure function)") {
    val (closed0, open0) = mergeSessions(None, Seq(0L, 1000L, 2000L), 5000L)
    assert(closed0.isEmpty && open0.contains(SessionState(0L, 2000L, 3)))
    val (closed1, open1) = mergeSessions(open0, Seq(10000L, 11000L), 5000L)
    assert(closed1 == Seq(SessionState(0L, 2000L, 3)))
    assert(open1.contains(SessionState(10000L, 11000L, 2)))
  }

  test("sessionize emits a closed session when a later event opens the next one") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = sessionize(in.toDS(), gapMs = 5 * 60 * 1000, watermark = "10 seconds")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      Event(1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0),
      Event(2L, ts("2024-01-01 10:02:00"), 7L, "click", 1.0))
    q.processAllAvailable()
    in.addData(Event(3L, ts("2024-01-01 11:00:00"), 7L, "click", 1.0))
    q.processAllAvailable()
    val out = spark.table("sess_out").as[Session].collect().toSeq
    q.stop()
    assert(out == Seq(Session(7L,
      ts("2024-01-01 10:00:00").getTime, ts("2024-01-01 10:02:00").getTime, 2)))
  }

  test("sessionizeBatch equals the streaming merge semantics on the events fixture") {
    import org.apache.spark.sql.functions._
    val gap = 1800000L
    val ev = tbl("events")
    val got = EventStream.sessionizeBatch(ev, "user_id", unix_millis(col("ts")), gap)
      .select($"user_id", $"session_start_ms", $"session_end_ms", $"n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    // expected: fold each user's sorted timestamps through the SAME pure
    // transition the streaming path uses; closed ++ open = all sessions
    val perUser = ev.select($"user_id", unix_millis($"ts").as("tms"))
      .as[(Long, Long)].collect().groupBy(_._1)
    val expected = perUser.flatMap { case (u, rows) =>
      val (closed, open) = EventStream.mergeSessions(None, rows.map(_._2).sorted.toSeq, gap)
      (closed ++ open).map(s => (u, s.start, s.end, s.nEvents.toLong))
    }.toSet
    assert(got == expected)
    // session ids are 1-based and time-ordered per user
    val ids = EventStream.sessionizeBatch(ev, "user_id", unix_millis(col("ts")), gap)
      .groupBy($"user_id")
      .agg(min($"session_id").as("lo"), max($"session_id").as("hi"),
        count(lit(1)).as("n"))
      .filter($"lo" =!= 1 || $"hi" =!= $"n")
    assert(ids.isEmpty)
  }

  import EventStreamSpec.{Trig, Outc}

  test("attributionJoin matches outcomes to in-window same-user triggers only; batch parity") {
    implicit val sqlCtx = spark.sqlContext
    val tIn = MemoryStream[Trig]
    val oIn = MemoryStream[Outc]
    val q = EventStreamSpec.attributionJoin(tIn.toDF(), oIn.toDF(),
        maxLagSeconds = 1200L, "30 minutes", "30 minutes")
      .writeStream.format("memory").queryName("attr_out")
      .outputMode(OutputMode.Append()).start()
    tIn.addData(
      Trig(1L, 101L, ts("2024-01-01 10:00:00")),
      Trig(1L, 102L, ts("2024-01-01 10:05:00")),
      Trig(2L, 201L, ts("2024-01-01 10:00:00")))
    q.processAllAvailable()
    oIn.addData( // arrives in a LATER micro-batch: state must hold
      Outc(1L, 901L, ts("2024-01-01 10:08:00")), // in window of 101+102
      Outc(1L, 902L, ts("2024-01-01 10:20:00")), // in window of both (101 at the 1200 s boundary)
      Outc(2L, 903L, ts("2024-01-01 11:00:00")), // past maxLag of 201
      Outc(3L, 904L, ts("2024-01-01 10:01:00"))) // no trigger for user 3
    q.processAllAvailable()
    val got = spark.table("attr_out")
      .select($"t_id", $"o_id", $"lag_sec").as[(Long, Long, Long)]
      .collect().toSet
    q.stop()
    val expected = Set((101L, 901L, 480L), (102L, 901L, 180L),
      (101L, 902L, 1200L), (102L, 902L, 900L))
    assert(got == expected)
    // batch parity: the identical join over static frames = same rows
    val bt = Seq(Trig(1L, 101L, ts("2024-01-01 10:00:00")),
      Trig(1L, 102L, ts("2024-01-01 10:05:00")),
      Trig(2L, 201L, ts("2024-01-01 10:00:00"))).toDF()
    val bo = Seq(Outc(1L, 901L, ts("2024-01-01 10:08:00")),
      Outc(1L, 902L, ts("2024-01-01 10:20:00")),
      Outc(2L, 903L, ts("2024-01-01 11:00:00")),
      Outc(3L, 904L, ts("2024-01-01 10:01:00"))).toDF()
    val batch = EventStreamSpec.attributionJoin(bt, bo, 1200L, "30 minutes", "30 minutes")
      .select($"t_id", $"o_id", $"lag_sec").as[(Long, Long, Long)]
      .collect().toSet
    assert(batch == expected, "backfill (batch) and live (stream) attribution must agree")
  }
}

object EventStreamSpec {
  case class Trig(t_user: Long, t_id: Long, t_ts: Timestamp)
  case class Outc(o_user: Long, o_id: Long, o_ts: Timestamp)

  // Spec-held forms: no query, Verify, Bench or perfbench reaches them.

  /** Watermarked exact dedup by event id (state bounded by the watermark). */
  def dedupEvents(events: DataFrame, idCol: String, tsCol: String,
      watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicates(Seq(idCol))

  /** Stream-stream attribution join: each outcome (purchase/conversion)
    * matched to every trigger (click/impression) by the same user within
    * the preceding `maxLagSeconds` — the streaming form of the batch
    * interval join (q63). Both sides are watermarked and the join
    * condition bounds event-time distance in BOTH directions, which is
    * what lets Structured Streaming expire join state: a trigger's state
    * can be dropped once the outcome-side watermark passes trigger_ts +
    * maxLag (without the time bound the state store grows forever — the
    * stream-stream analog of the unbounded-window trap).
    *
    * Inputs must carry disambiguated columns: triggers (t_user, t_id,
    * t_ts), outcomes (o_user, o_id, o_ts). Output: one row per
    * (trigger, outcome) pair in lag order — downstream pick-first
    * attribution rides keep-first per o_id over this (same operator as
    * batch O5). Batch parity: the identical join expression over static
    * frames returns the same rows (spec'd), so backfill and live
    * attribution share semantics. */
  def attributionJoin(triggers: DataFrame, outcomes: DataFrame,
      maxLagSeconds: Long, triggerWatermark: String,
      outcomeWatermark: String): DataFrame = {
    val t = triggers.withWatermark("t_ts", triggerWatermark)
    val o = outcomes.withWatermark("o_ts", outcomeWatermark)
    t.join(o, expr(
      s"""t_user = o_user AND
          o_ts >= t_ts AND
          o_ts <= t_ts + interval $maxLagSeconds seconds"""))
      .select(col("t_user").as("user_id"), col("t_id"), col("o_id"),
        col("t_ts"), col("o_ts"),
        (unix_timestamp(col("o_ts")) - unix_timestamp(col("t_ts")))
          .as("lag_sec"))
  }
}
