package graft.streaming

import graft.SparkSpecBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

class TransitionStreamSpec extends SparkSpecBase {
  import spark.implicits._
  import TransitionStream._

  private def ev(u: Long, id: Long, item: Int, t: String) =
    ItemEvent(u, id, item, Timestamp.valueOf(t))

  private def run(name: String, batches: Seq[Seq[ItemEvent]], gapUs: Long)
      : Seq[(Long, Int, Int)] = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[ItemEvent]
    val q = transitions(in.toDS(), gapUs, "1 hour")
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    batches.foreach { b => in.addData(b); q.processAllAvailable() }
    q.stop()
    spark.table(name)
      .select(col("user_id"), col("src_item"), col("dst_item"))
      .as[(Long, Int, Int)].collect().toSeq.sorted
  }

  test("state carries the last item across micro-batches") {
    val out = run("ts_carry", Seq(
      Seq(ev(1L, 1L, 10, "2024-01-01 10:00:00"),
        ev(1L, 2L, 20, "2024-01-01 10:05:00")),
      Seq(ev(1L, 3L, 30, "2024-01-01 10:10:00")) // chains onto item 20
    ), gapUs = 3600L * 1000000L)
    assert(out == Seq((1L, 10, 20), (1L, 20, 30)))
  }

  test("a session gap suppresses the transition but still advances state") {
    val out = run("ts_gap", Seq(
      Seq(ev(1L, 1L, 10, "2024-01-01 10:00:00")),
      Seq(ev(1L, 2L, 20, "2024-01-01 12:00:00"), // > gap: no 10→20
        ev(1L, 3L, 30, "2024-01-01 12:10:00"))   // 20→30 emits
    ), gapUs = 1800L * 1000000L)
    assert(out == Seq((1L, 20, 30)))
  }

  test("users never cross; in-batch events are event-time sorted") {
    val out = run("ts_users", Seq(
      Seq(ev(2L, 4L, 99, "2024-01-01 10:00:00"),
        // user 1's batch arrives out of order
        ev(1L, 2L, 20, "2024-01-01 10:05:00"),
        ev(1L, 1L, 10, "2024-01-01 10:00:00"))
    ), gapUs = 3600L * 1000000L)
    assert(out == Seq((1L, 10, 20)))
  }

  test("batch parity: streaming pair multiset equals Markov.transitions") {
    val events = tbl("events").select(col("user_id"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("item"),
        col("ts"))
      .as[ItemEvent].collect().toSeq
      .sortBy(e => (TransitionStream.micros(e.ts), e.event_id))
    // split in ts order (the per-user in-order delivery contract)
    val batches = events.grouped(math.max(1, events.size / 3)).toSeq
    val streamed = run("ts_parity", batches, gapUs = 1800000000L)
      .groupBy(identity).view.mapValues(_.size).toMap
    val batch = graft.rank.Markov.transitions(
        tbl("events").select(col("user_id"), col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("item"),
          unix_micros(col("ts")).as("ts_us")),
        "user_id", "item", "ts_us", "event_id", gap = 1800000000L)
      .select(col("src_item"), col("dst_item"), col("n")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val streamedPairs = streamed.map { case ((_, s, d), n) => ((s, d), n.toLong) }
      .groupBy(_._1).view.mapValues(_.values.sum).toMap
    assert(streamedPairs == batch,
      s"stream ${streamedPairs.size} pair keys vs batch ${batch.size}")
  }
}

// Spec-held: no query, Verify, Bench or perfbench reaches it.
/** Streaming form of the Markov next-item transition extraction
  * (rank/Markov): each user's state is ONLY their last seen (item, ts) —
  * one tiny row per user, the minimal state any sequential model can
  * hold — and every arriving event emits the transition it completes
  * (if inside the session gap) and becomes the new state.
  *
  * Contract (the append-mode reality, stated rather than hidden): events
  * are chained in arrival order after an in-batch event-time sort, so
  * per-user delivery must be in order ACROSS micro-batches — a late
  * event that belonged between two already-chained events cannot
  * retroactively split their transition (same class of caveat as any
  * append-mode session emission; the watermark bounds how late data can
  * be). Batch backfill and live extraction share semantics: the batch
  * Markov.transitions over the same ordered events yields the same
  * pair multiset (TransitionStreamSpec pins parity, including state
  * carried across micro-batches).
  *
  * Scale: state is |users| × ~24 bytes, constant per user; each
  * micro-batch shuffles only its own events (the groupByKey exchange);
  * downstream counting is a streaming groupBy or a foreachBatch merge —
  * the transition matrix itself stays items²-bounded either way.
  */
private object TransitionStream {

  case class ItemEvent(user_id: Long, event_id: Long, item: Int,
      ts: java.sql.Timestamp)
  case class LastSeen(item: Int, tsUs: Long, eventId: Long)
  case class Transition(user_id: Long, src_item: Int, dst_item: Int,
      src_ts_us: Long, dst_ts_us: Long)

  private[streaming] def micros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** Emit one Transition per consecutive same-user event pair within
    * `gapUs`. Works identically over a streaming or a static Dataset
    * (batch backfill). */
  def transitions(events: Dataset[ItemEvent], gapUs: Long,
      watermark: String): Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastSeen, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[ItemEvent], state: GroupState[LastSeen]) =>
          val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            val carried = state.getOption.toSeq
              .map(s => (s.item, s.tsUs, s.eventId))
            val chain = carried ++ sorted.map(e => (e.item, micros(e.ts), e.event_id))
            val out = chain.sliding(2).collect {
              case Seq((si, st, _), (di, dt, _)) if dt - st <= gapUs =>
                Transition(user, si, di, st, dt)
            }.toVector
            val last = chain.last
            state.update(LastSeen(last._1, last._2, last._3))
            out.iterator
          }
      }
  }
}
