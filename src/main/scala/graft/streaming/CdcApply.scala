package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.merge.Scd2

/** E170 (streaming form): CDC APPLY via foreachBatch — the feed→apply
  * loop run continuously: a change-data-feed stream (ChangeFeed.diff's
  * vocabulary: insert / delete / update_preimage / update_postimage)
  * is consumed micro-batch by micro-batch into an SCD2 dimension held
  * in the [[BatchStore]] per-batch committed-snapshot protocol.
  *
  * State model: unlike the signature store (E114), the SCD2
  * dimension is a FULL state, not an increment — each batch writes the
  * complete post-apply dimension to `dimDir/batch=<id>` and readers take
  * the LATEST committed snapshot, not the union. Exactly-once falls out
  * the same way: batch N reads the latest snapshot STRICTLY before N
  * (a replayed id re-applies onto its predecessor's state and
  * overwrites its own partial — never its own first attempt), and the
  * `_graft_committed` marker lands only after the parquet does.
  *
  * Micro-batch semantics: the apply is exact when each key's feed rows
  * arrive within one micro-batch (the CDC-source contract — a feed
  * entry IS a per-key change record); disjoint-key chunks commute
  * through [[Scd2.applyFeed]], so any such chunking replays to the same
  * dimension (spec-pinned, Scd2Spec).
  *
  * Snapshot-per-batch is the exhibit's state protocol, not a 100-TB
  * claim: at scale the dimension lives in a MERGE-capable table format
  * and this loop becomes `foreachBatch { delta MERGE }` — the apply
  * logic (upsert batch + deletion closure) is the part that carries. */
object CdcApply {

  /** One micro-batch: latest committed dim (or `dim0` when none) +
    * this batch's feed rows → next committed dim snapshot. `dateOf`
    * stamps the SCD2 version date per batch id. */
  def processBatch(feedBatch: DataFrame, batchId: Long, dimDir: String,
      dim0: DataFrame, keys: Seq[String], tracked: Seq[String],
      dateOf: Long => String): Unit = {
    val spark = feedBatch.sparkSession
    val dim = readLatest(spark, dimDir, beforeBatch = Some(batchId))
      .getOrElse(dim0)
    val next = Scd2.applyFeed(dim, feedBatch, keys, tracked,
      dateOf(batchId))
    BatchStore.writeBatch(next, dimDir, batchId)
  }

  /** The LATEST committed snapshot strictly before `beforeBatch` (or
    * overall) — the full-state sibling of [[BatchStore.read]]'s
    * union-of-increments view, sharing its ONE listing
    * ([[BatchStore.committedIds]]) so the marker/naming protocol can't
    * drift between the two readers. */
  def readLatest(spark: SparkSession, dimDir: String,
      beforeBatch: Option[Long] = None): Option[DataFrame] = {
    val ids = BatchStore.committedIds(spark, dimDir, beforeBatch)
    if (ids.isEmpty) None
    else Some(spark.read.parquet(s"$dimDir/batch=${ids.max}"))
  }

  /** Streaming entry: drive [[processBatch]] from a CDF row stream.
    * `checkpointDir` is REQUIRED — the per-batch-id replay contract
    * only holds when the engine reuses batch ids across restarts. */
  def start(feed: DataFrame, dimDir: String, dim0: DataFrame,
      keys: Seq[String], tracked: Seq[String], dateOf: Long => String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(100L)): StreamingQuery =
    feed.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        processBatch(b, id, dimDir, dim0, keys, tracked, dateOf)
      }
      .trigger(trigger)
      .start()
}
