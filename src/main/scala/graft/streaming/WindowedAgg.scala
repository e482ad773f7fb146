package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time windowed aggregation — the idiomatic Structured Streaming
  * shape (`readStream → withWatermark → groupBy(window) → agg`) the
  * reference's debounce layer would become if moved from processing-time
  * Lambdas to event-time streams (SURVEY §2.9 T5: the watermark is the
  * idiomatic guard for late data).
  *
  * The same function body serves batch and streaming DataFrames — the
  * watermark is a no-op in batch, so batch output IS the streaming
  * query's complete result (tested for parity in StreamingAggSpec).
  */
object WindowedAgg {

  /** TRUE session windows (gap-based) per user — e4's exact column
    * logic with the watermark the STREAMING form needs (session state
    * can only finalize once the watermark passes the gap; in batch the
    * watermark is a no-op, so the driver query e4 delegates here and
    * its oracle hash is unchanged). In streaming append mode a session
    * row emits exactly once, when it can no longer extend — the
    * semantics StreamingAggSpec pins against the batch run. */
  def userSessions(events: DataFrame, gap: String,
      watermark: String): DataFrame =
    events
      .select(col("user_id"),
        timestamp_seconds(graft.io.Sources.epochSec(events)).as("t"))
      .withWatermark("t", watermark)
      .groupBy(col("user_id"), session_window(col("t"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_seconds(col("session_window.start")).as("session_start"),
        unix_seconds(col("session_window.end")).as("session_end"),
        col("n_events"))

  /** Stream-stream interval join: each purchase joined to the same user's
    * clicks from the preceding `intervalSec` seconds. Both sides carry a
    * watermark and the join condition bounds the event-time range, so the
    * state store can EVICT rows once the watermark passes — without the
    * interval bound a stream-stream join buffers both streams forever.
    * The same body runs in batch (watermarks are no-ops there), which is
    * how StreamingAggSpec asserts parity.
    *
    * Inputs use the testdata shape: `event_id`, `user_id`, `ts`
    * (timestamp or epoch-nanos long), `event_type`. */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame,
      intervalSec: Long, watermark: String): DataFrame =
    purchaseClickJoinType(purchases, clicks, intervalSec, watermark,
      "inner")

  /** E169 (E8): the LEFT OUTER form — every purchase emitted, attributed
    * clicks attached, and purchases with NO prior click in the interval
    * kept with NULL click columns. Those unmatched rows are the ones a
    * funnel/attribution pipeline actually acts on (organic conversions,
    * broken tracking), and the outer form is the remaining stateful
    * stream-stream join shape Structured Streaming offers: an unmatched
    * purchase is emitted ONLY once the watermark passes the end of its
    * interval — no future click could still match — which is exactly
    * when its state-store row evicts (the null-emission and the
    * eviction are the same event). Same body in batch (watermarks
    * no-op, the planner sees a plain left outer join with range
    * bounds); StreamingAggSpec pins the watermark-closure parity. */
  def purchaseClickJoinOuter(purchases: DataFrame, clicks: DataFrame,
      intervalSec: Long, watermark: String): DataFrame =
    purchaseClickJoinType(purchases, clicks, intervalSec, watermark,
      "left_outer")

  private def purchaseClickJoinType(purchases: DataFrame,
      clicks: DataFrame, intervalSec: Long, watermark: String,
      joinType: String): DataFrame = {
    val p = purchases
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"),
        timestamp_seconds(graft.io.Sources.epochSec(purchases)).as("p_ts"))
      .withWatermark("p_ts", watermark)
    val c = clicks
      .select(col("event_id").as("click_id"),
        col("user_id").as("c_user"),
        timestamp_seconds(graft.io.Sources.epochSec(clicks)).as("c_ts"))
      .withWatermark("c_ts", watermark)
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $intervalSec SECONDS"),
      joinType)
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("click_id"),
        unix_timestamp(col("p_ts")).as("p_epoch"),
        unix_timestamp(col("c_ts")).as("c_epoch"))
  }
}
