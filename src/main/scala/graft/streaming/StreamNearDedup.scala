package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.dedup.Dedup

/** E114: streaming NEAR-dup dedup — the d15 incremental operator driven
  * by Structured Streaming: each micro-batch is deduplicated first
  * WITHIN itself (d3's banded pairs, keep the lowest id), then against
  * the accumulated signature store (d15 — the store contributes stored
  * signatures only, never re-reads text), and the survivors' signatures
  * become the store's next increment.
  *
  * Exactly-once contract WITHOUT a state store:
  *  - both writes (survivor docs and signature increment) land in
  *    per-`batchId` directories with `overwrite` mode, and the store
  *    view for batch N reads STRICTLY batches < N — a replayed id
  *    overwrites its own partial output and can never meet its own
  *    first attempt's increment as "store state";
  *  - each committed increment carries an explicit `_graft_committed`
  *    marker (the store-protocol convention — `_SUCCESS` is config-
  *    dependent on object stores), written AFTER the parquet lands;
  *    [[readStore]] only admits marked directories, so a crash mid-write
  *    leaves an invisible partial, not silent half-state;
  *  - the replay discipline requires the engine to REUSE batch ids
  *    across restarts, which only holds with a durable checkpoint —
  *    [[start]] therefore takes `checkpointDir` as a required argument.
  *
  * Cost: ONE signature pass per micro-batch (shingle+MinHash over the
  * batch docs, persisted), reused by the self-join, the store band join,
  * and the store increment; the survivor-doc write is the only pass
  * over the text itself.
  *
  * Scale: unlike exact dedup (bounded watermark state inside the
  * streaming engine), near-dup state must span the whole corpus — which
  * is exactly why it lives in a parquet store the cluster can partition,
  * not in executor state-store memory. */
object StreamNearDedup {

  /** One micro-batch: within-batch dedup → store check → idempotent
    * per-batch writes. Public so batch callers (and the spec's replay
    * check) can drive it without a streaming query. */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
      outDir: String): Unit = {
    val spark = batch.sparkSession
    val docs = batch.select(col("doc_id"), col("text"))
    // the batch's ONE signature pass — every consumer below reuses it
    val sigs = Dedup.minhashSigStore(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // within-batch: a doc near-duplicating a LOWER-id batch doc loses
      val losers = Dedup.minhashLshPairsFromSigs(sigs)
        .select(col("doc_b").as("doc_id")).distinct()
      val inBatchSigs = sigs.join(losers, Seq("doc_id"), "left_anti")
      // vs the accumulated store — STRICTLY batches before this one: a
      // replayed batch id would otherwise meet its own first attempt's
      // increment and drop every doc as a "duplicate" of itself
      val liveSigs = readStore(spark, storeDir,
          beforeBatch = Some(batchId)) match {
        case Some(store) =>
          val dups = Dedup.incrementalLshDedupFromSigs(inBatchSigs, store)
            .select(col("doc_id"))
          inBatchSigs.join(dups, Seq("doc_id"), "left_anti")
        case None => inBatchSigs
      }
      val survivors = docs.join(liveSigs.select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      // per-batch overwrite + marker-last: the [[BatchStore]] protocol
      BatchStore.writeBatch(survivors, outDir, batchId)
      BatchStore.writeBatch(liveSigs, storeDir, batchId)
    } finally sigs.unpersist()
  }

  /** The COMMITTED signature store — the [[BatchStore]] read with the
    * replay-safe strictly-before view. */
  def readStore(spark: SparkSession, storeDir: String,
      beforeBatch: Option[Long] = None): Option[DataFrame] =
    BatchStore.read(spark, storeDir, beforeBatch)

  /** Streaming entry: drive [[processBatch]] from a doc stream.
    * `checkpointDir` is REQUIRED — without a durable checkpoint a
    * restarted query renumbers batches from 0 and the per-batch-id
    * idempotence contract breaks (a fresh numbering would overwrite
    * committed history while leaving stale higher batches in place). */
  def start(docs: DataFrame, storeDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(100L)): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        processBatch(b, id, storeDir, outDir)
      }
      .trigger(trigger)
      .start()
}
