package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming surface (SURVEY §2.10): the streaming analogs of
  * the batch dedup/latest-batch/windowed patterns over the `events` shape.
  * The reference is batch-only (live ingestion explicitly deferred,
  * README.md:172) — these semantics are graft's own spec:
  *
  *  - tumbling-window per-type aggregates with exact decimal sums (the
  *    streaming A1, same cross-engine determinism as QueryHelpers.dsum);
  *  - session windows via flatMapGroupsWithState with event-time timeout
  *    (custom state: the O4-adjacent "activity grouping" primitive).
  *
  * All state is keyed and watermark-bounded — no unbounded driver or
  * executor state at any scale; the same code runs on a 1000-executor
  * cluster with state in the checkpointed state store.
  */
object EventStream {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class SessionState(start: Long, end: Long, nEvents: Int)

  case class Session(user_id: Long, session_start_ms: Long,
      session_end_ms: Long, n_events: Int)

  /** Tumbling-window counts + exact-decimal value sums per event type. */
  def windowedTypeStats(events: DataFrame, tsCol: String, watermark: String,
      windowDuration: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_value"))

  /** Pure session-merge transition (unit-testable without a stream): fold a
    * batch of event timestamps (ms) into the open session, splitting on
    * gaps > gapMs. Returns (closed sessions, open state). */
  def mergeSessions(state: Option[SessionState], tsSorted: Seq[Long],
      gapMs: Long): (Seq[SessionState], Option[SessionState]) =
    tsSorted.foldLeft((Seq.empty[SessionState], state)) {
      case ((closed, None), t) => (closed, Some(SessionState(t, t, 1)))
      case ((closed, Some(s)), t) if t - s.end <= gapMs =>
        (closed, Some(s.copy(end = t, nEvents = s.nEvents + 1)))
      case ((closed, Some(s)), t) => (closed :+ s, Some(SessionState(t, t, 1)))
    }

  /** Batch sessionize — gaps-and-islands with the SAME merge semantics as
    * the streaming path (split strictly when gap > gapMs), emitting every
    * session including the trailing open one (which a batch run of
    * flatMapGroupsWithState would hold in state forever: timeouts never
    * fire on batch input). Output: user_id, session_id (1-based per user,
    * time order), session_start_ms, session_end_ms, n_events.
    *
    * Shuffle plan: ONE exchange on the user key — HashPartitioning(user)
    * satisfies the lag window, the running-sum window, AND the
    * (user, session) aggregation (subset-key clustering).
    */
  def sessionizeBatch(events: DataFrame, userCol: String, tsMs: org.apache.spark.sql.Column,
      gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTime = Window.partitionBy(col(userCol)).orderBy(col("__tms"))
    val running = byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.select(col(userCol), tsMs.as("__tms"))
      .withColumn("__isn",
        when(lag(col("__tms"), 1).over(byTime).isNull ||
          col("__tms") - lag(col("__tms"), 1).over(byTime) > gapMs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__isn")).over(running).cast("int"))
      .groupBy(col(userCol), col("session_id"))
      .agg(min(col("__tms")).as("session_start_ms"),
        max(col("__tms")).as("session_end_ms"),
        count(lit(1)).as("n_events"))
  }

  /** Session windows per user: events within `gapMs` of each other merge; a
    * session is emitted when a later event opens the next session, or when
    * the event-time watermark passes its end + gap (timeout). */
  def sessionize(events: Dataset[Event], gapMs: Long, watermark: String): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(user, s.start, s.end, s.nEvents))
          } else {
            val ts = it.map(_.ts.getTime).toSeq.sorted
            val (closed, open) = mergeSessions(state.getOption, ts, gapMs)
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.iterator.map(s => Session(user, s.start, s.end, s.nEvents))
          }
      }
  }
}
