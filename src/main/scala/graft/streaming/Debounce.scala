package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Debounce/batching window semantics (reference SURVEY.md §2.9 T1/T2,
  * `lambda/s3_validation.py:64-94`): the FIRST event for a key anchors
  * `batch_start`; every event with `ts <= batch_start + window` joins that
  * batch; the first event after it anchors a NEW batch. This is an
  * anchored-from-first-event window — NOT a session window (the gap is
  * measured from the batch START, not the last event), and not a tumbling
  * window (anchors follow the data, not the epoch).
  *
  * Three implementations, one semantics:
  *  - [[assign]]: the pure per-key function — the testable core;
  *  - [[batchAssign]]: batch Dataset form via sort-within-group
  *    `flatMapGroups` (shuffle on key + per-key sequential scan — the only
  *    correct distributed shape for an inherently sequential recurrence);
  *  - [[streamingBatches]]: Structured Streaming form via
  *    `flatMapGroupsWithState` with a processing-time timeout of the
  *    REMAINING window (`batch_start + window - now`), emitting a batch
  *    row when the window expires — reference T2's TTL-expiry trigger.
  */
object Debounce {

  /** One event's batch assignment: (eventTs, batchStartTs). */
  final case class Assigned(ts: Long, batchStart: Long)

  /** Pure anchored-window assignment over ASCENDING timestamps (seconds or
    * any consistent unit). Total, deterministic, O(n). */
  def assign(sortedTs: Seq[Long], window: Long): Seq[Assigned] = {
    var anchor = Long.MinValue
    sortedTs.map { t =>
      if (anchor == Long.MinValue || t > anchor + window) anchor = t
      Assigned(t, anchor)
    }
  }

  final case class Event(key: Long, ts: Long)
  final case class BatchRow(key: Long, batchStart: Long, nEvents: Long,
      lastTs: Long)

  /** Batch form: group by key, sort each group's timestamps, run the pure
    * recurrence, emit one row per (key, batch) with its event count.
    *
    * Scale: one shuffle on the key; each group is processed sequentially on
    * its executor (the recurrence admits no intra-key parallelism). Skewed
    * keys are bounded by per-key event counts, not table size.
    */
  def batchAssign(events: Dataset[Event], window: Long): Dataset[BatchRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key).flatMapGroups { (key, it) =>
      val ts = it.map(_.ts).toArray
      java.util.Arrays.sort(ts)
      assign(ts.toIndexedSeq, window)
        .groupBy(_.batchStart).toSeq.sortBy(_._1)
        .map { case (start, as) =>
          BatchRow(key, start, as.size.toLong, as.map(_.ts).max)
        }
    }
  }

  /** DataFrame adapter over the `events` testdata table: normalizes `ts`
    * to epoch seconds via [[graft.io.Sources.epochSec]] (accepts both the
    * timestamp[us] and epoch-nanos-long fixture shapes), keys by
    * `user_id`. */
  def batchAssignDf(events: DataFrame, windowSec: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events.select(col("user_id").cast("long").as("key"),
      graft.io.Sources.epochSec(events).as("ts")).as[Event]
    batchAssign(ds, windowSec).toDF()
  }

  /** Streaming state per key: current batch anchor + accumulated events. */
  final case class DebounceState(batchStart: Long, nEvents: Long, lastTs: Long)

  /** Event with an event-time column for watermarking (seconds in `ts`,
    * the same value as a timestamp in `event_time`). */
  final case class EventT(key: Long, ts: Long, event_time: java.sql.Timestamp)

  /** Event-time buffer state: the open (not-yet-closed) timestamps. */
  final case class DebounceBuf(ts: Seq[Long])

  /** EVENT-time streaming form — the principled T1/T5 variant: batches
    * close when the WATERMARK passes `batch_start + window`, not when a
    * wall clock fires, so the emitted rows are exactly [[assign]] over the
    * per-key event times — bit-identical to [[batchAssign]] on the same
    * data (DebounceSpec asserts the parity end-to-end).
    *
    * Mechanics: events buffer per key; whenever the watermark timeout
    * fires, the pure recurrence runs over the sorted buffer, batches whose
    * window closed strictly below the watermark emit, and the open tail is
    * retained with the next timeout at its earliest possible close. Late
    * events (within the watermark delay) simply join the buffer and are
    * assigned by EVENT time; events later than the watermark allows are
    * dropped upstream by the watermark itself — the standard contract.
    * State per key is bounded by the events inside the open window plus
    * the allowed lateness.
    */
  def streamingBatchesEventTime(events: Dataset[EventT], windowSec: Long,
      watermarkDelay: String): Dataset[BatchRow] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("event_time", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[DebounceBuf, BatchRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, it, state: GroupState[DebounceBuf]) =>
          val wmSec = state.getCurrentWatermarkMs() / 1000
          val buf = (state.getOption.map(_.ts).getOrElse(Seq.empty) ++
            it.map(_.ts)).sorted
          if (buf.isEmpty) { state.remove(); Iterator.empty }
          else {
            val assigned = assign(buf, windowSec)
            val (closed, open) = assigned
              .partition(a => a.batchStart + windowSec < wmSec)
            val out = closed.groupBy(_.batchStart).toSeq.sortBy(_._1)
              .map { case (start, as) =>
                BatchRow(key, start, as.size.toLong, as.map(_.ts).max)
              }
            if (open.isEmpty) state.remove()
            else {
              state.update(DebounceBuf(open.map(_.ts)))
              // next possible close of the earliest open batch; clamp
              // above the current watermark (required by the API)
              val close = (open.head.batchStart + windowSec) * 1000L + 1
              state.setTimeoutTimestamp(
                math.max(close, state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }

  /** DataFrame adapter for [[streamingBatchesEventTime]] over the events
    * table shape (`user_id`, `ts` — either fixture type). */
  def toEventT(events: DataFrame): Dataset[EventT] = {
    val spark = events.sparkSession
    import spark.implicits._
    val sec = graft.io.Sources.epochSec(events)
    events.select(col("user_id").cast("long").as("key"),
        sec.as("ts"),
        timestamp_seconds(sec).as("event_time"))
      .as[EventT]
  }

  /** Streaming form (T1+T2): events accumulate into the keyed state; when
    * the anchored window expires (processing-time timeout set to the
    * REMAINING time, not a fixed gap), the batch row is emitted — the
    * reference's debounce-TTL → batch-chunk-creation trigger. Late events
    * after expiry anchor a fresh batch (T5: no drop, no watermark).
    * Use with `OutputMode.Append` and a streaming query over an events
    * source.
    */
  def streamingBatches(events: Dataset[Event], windowMs: Long,
      clock: () => Long = () => System.currentTimeMillis())
      : Dataset[BatchRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[DebounceState, BatchRow](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (key, it, state: GroupState[DebounceState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(BatchRow(key, s.batchStart, s.nEvents, s.lastTs))
          } else {
            // clock injected for testability: with a fixed clock the state
            // contents (batchStart) are deterministic; only the timeout
            // FIRING remains on Spark's processing-time clock
            val now = clock()
            val evs = it.toSeq
            // a group with data in the trigger never gets hasTimedOut —
            // so an EXPIRED standing batch must be closed here: emit it
            // and let the incoming events anchor a fresh one (T5), never
            // merge across an expired boundary (the anchored window is
            // [batchStart, batchStart + windowMs), closed on both paths)
            val (closed, base) = state.getOption match {
              case Some(s) if now >= s.batchStart + windowMs =>
                (Iterator.single(BatchRow(key, s.batchStart, s.nEvents,
                  s.lastTs)), DebounceState(now, 0L, Long.MinValue))
              case Some(s) => (Iterator.empty, s)
              case None => (Iterator.empty,
                DebounceState(now, 0L, Long.MinValue))
            }
            val s1 = DebounceState(base.batchStart, base.nEvents + evs.size,
              math.max(base.lastTs, if (evs.isEmpty) Long.MinValue
                else evs.map(_.ts).max))
            state.update(s1)
            val remaining = math.max(1L, s1.batchStart + windowMs - now)
            state.setTimeoutDuration(remaining)
            closed
          }
      }
  }
}
