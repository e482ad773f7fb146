package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** E101: stream-static dimension enrichment — the most common production
  * streaming pattern (and the one the tier was missing next to windowed
  * aggs E16, stream-stream joins E41, and the
  * debounce state machine E42): every event is decorated with attributes
  * from a dimension table, unknown keys flagged rather than dropped.
  *
  * The transform is ONE declarative left join, so the same function runs
  * batch and streaming (the parity StreamingAggSpec pins); under a
  * streaming query Spark plans it as a broadcast join per micro-batch —
  * no state store, no watermark, the dimension never shuffles the
  * stream. A slowly-changing dimension refreshes by re-deriving the
  * static frame per `foreachBatch` (or reading the SCD2 store `m2`
  * maintains — current rows only); the join itself is unchanged.
  *
  * 100 TB: the stream side stays narrow (no exchange added to the event
  * flow); the dimension is broadcast-sized by definition of a dimension.
  * An unknown key produces `segment = NULL, is_known = false` — the
  * quarantine/alert path decides, enrichment never silently drops.
  */
object Enrich {

  /** Events ⋈ customer-dimension (left): event columns + market segment
    * + the known-key flag. `is_known` rides a constant marker column
    * from the dimension side, NOT `segment.isNotNull` — a key that
    * exists in the dimension with a NULL attribute is still a KNOWN key
    * and must not be routed down the unknown-key quarantine path. */
  def enrichEvents(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(
      broadcast(customers.select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"), lit(true).as("__known"))),
      Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("segment"),
        coalesce(col("__known"), lit(false)).as("is_known"))
}
