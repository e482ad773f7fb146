package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.streaming.StreamNearDedup

/** E114 streaming near-dup dedup: within-batch losers drop, store
  * matches drop across batches, survivors' signatures accumulate, and a
  * replayed batch id overwrites instead of duplicating (the
  * exactly-once contract). */
class StreamNearDedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  private val a = "the quick brown fox jumps over the lazy dog again and again daily"
  private val b = "pack my box with five dozen liquor jugs said the mad sphinx twice"
  private val c = "a completely unrelated third body of text about something else here"

  test("near-dup state spans batches; within-batch losers drop first") {
    val store = Files.createTempDirectory("graft-snd-store").toString
    val out = Files.createTempDirectory("graft-snd-out").toString

    // batch 0: doc 2 near-duplicates doc 1 WITHIN the batch — only the
    // lower id survives; doc 3 is fresh
    StreamNearDedup.processBatch(
      docs((1L, a), (2L, a + " spark"), (3L, b)), 0L, store, out)
    val out0 = spark.read.parquet(s"$out/batch=0")
      .select("doc_id").as[Long].collect().toSet
    assert(out0 === Set(1L, 3L), "in-batch near-dup must lose to the lower id")

    // batch 1: doc 4 near-duplicates STORED doc 1; doc 5 is fresh
    StreamNearDedup.processBatch(
      docs((4L, a + " extra"), (5L, c)), 1L, store, out)
    val out1 = spark.read.parquet(s"$out/batch=1")
      .select("doc_id").as[Long].collect().toSet
    assert(out1 === Set(5L), "store match must drop across batches")

    // the store carries exactly the survivors' signatures
    val stored = StreamNearDedup.readStore(spark, store).get
      .select("doc_id").as[Long].collect().toSet
    assert(stored === Set(1L, 3L, 5L))
  }

  test("replaying a batch id overwrites its own output (exactly-once)") {
    val store = Files.createTempDirectory("graft-snd-store2").toString
    val out = Files.createTempDirectory("graft-snd-out2").toString
    val batch = docs((1L, a), (2L, b))
    StreamNearDedup.processBatch(batch, 0L, store, out)
    // the streaming engine re-delivers the SAME batch id after a crash —
    // the second run must leave store and output byte-equivalent, not
    // doubled
    StreamNearDedup.processBatch(batch, 0L, store, out)
    val stored = StreamNearDedup.readStore(spark, store).get
    assert(stored.count() === 2L, "replay must not duplicate signatures")
    assert(spark.read.parquet(s"$out/batch=0").count() === 2L)
    // and the replayed store state still drives cross-batch dedup
    StreamNearDedup.processBatch(docs((3L, a + " spark")), 1L, store, out)
    assert(spark.read.parquet(s"$out/batch=1").count() === 0L)
  }

  test("empty store: the first batch passes through untouched") {
    val store = Files.createTempDirectory("graft-snd-store3").toString
    val out = Files.createTempDirectory("graft-snd-out3").toString
    assert(StreamNearDedup.readStore(spark, store).isEmpty)
    StreamNearDedup.processBatch(docs((7L, a)), 0L, store, out)
    assert(spark.read.parquet(s"$out/batch=0")
      .select("doc_id").as[Long].collect().toSeq === Seq(7L))
  }

  test("streaming entry drives the same per-batch body end to end") {
    val in = Files.createTempDirectory("graft-snd-in").toString
    val store = Files.createTempDirectory("graft-snd-store4").toString
    val out = Files.createTempDirectory("graft-snd-out4").toString
    val ckpt = Files.createTempDirectory("graft-snd-ckpt").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    docs((1L, a), (2L, a + " spark")).coalesce(1)
      .write.parquet(s"$in/f1")
    val q = StreamNearDedup.start(
      spark.readStream.schema(schema).parquet(s"$in/*"), store, out, ckpt)
    try {
      q.processAllAvailable()
      val survivors = spark.read.parquet(s"$out/batch=*")
        .select("doc_id").as[Long].collect().toSet
      assert(survivors === Set(1L))
      assert(StreamNearDedup.readStore(spark, store).get.count() === 1L)
    } finally q.stop()
    // RESTART against the same checkpoint: batch ids continue instead of
    // renumbering from 0, so committed history is never overwritten
    docs((9L, c)).coalesce(1).write.parquet(s"$in/f2")
    val q2 = StreamNearDedup.start(
      spark.readStream.schema(schema).parquet(s"$in/*"), store, out, ckpt)
    try {
      q2.processAllAvailable()
      val stored = StreamNearDedup.readStore(spark, store).get
        .select("doc_id").as[Long].collect().toSet
      assert(stored === Set(1L, 9L),
        "restart must extend the store, not renumber over batch 0")
    } finally q2.stop()
  }

  test("an unmarked (crashed-partial) increment is invisible to readStore") {
    val store = Files.createTempDirectory("graft-snd-store5").toString
    val out = Files.createTempDirectory("graft-snd-out5").toString
    StreamNearDedup.processBatch(docs((1L, a)), 0L, store, out)
    // simulate a crash mid-write of batch 1: parquet exists, marker not
    graft.dedup.Dedup.minhashSigStore(docs((2L, b)))
      .write.parquet(s"$store/batch=1")
    // plus junk the listing must skip, not throw on
    Files.createDirectory(java.nio.file.Paths.get(store, "batch=tmp"))
    val visible = StreamNearDedup.readStore(spark, store).get
      .select("doc_id").as[Long].collect().toSet
    assert(visible === Set(1L),
      "only marker-committed increments may count as store state")
    // and the crashed batch id replays cleanly over its partial
    StreamNearDedup.processBatch(docs((2L, b)), 1L, store, out)
    assert(StreamNearDedup.readStore(spark, store).get.count() === 2L)
  }

  test("curation capstone: dedup stream across a crash/restart") {
    // a twinned doc stream runs through StreamNearDedup on its own
    // BatchStore dirs and checkpoint; the stream is killed between the
    // two input files and restarted on the same checkpoint. Streamed
    // survivors ≡ the same operator driven directly as two batches.
    import graft.streaming.BatchStore
    import graft.dedup.Dedup
    val base = graft.io.Sources.table(spark, sf0001, "documents")
    val corpus = Dedup.withNearDups(base).localCheckpoint(true)
    val in = Files.createTempDirectory("graft-cur-in").toString
    val survOut = Files.createTempDirectory("graft-cur-surv").toString
    val sigStore = Files.createTempDirectory("graft-cur-sig").toString
    val ckDedup = Files.createTempDirectory("graft-cur-ckd").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    def start() = StreamNearDedup.start(
      spark.readStream.schema(schema).parquet(s"$in/*"),
      sigStore, survOut, ckDedup)
    corpus.filter(col("doc_id") < Dedup.TwinOffset)
      .coalesce(1).write.parquet(s"$in/f1")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // "crash" mid-stream; the twins arrive; the SAME checkpoint must
    // continue batch numbering
    corpus.filter(col("doc_id") >= Dedup.TwinOffset)
      .coalesce(1).write.parquet(s"$in/f2")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // streamed survivors ≡ the same operator driven DIRECTLY as two
    // batches (no engine, no checkpoints): the stream adds nothing.
    // NOTE deliberately NOT "≡ one-shot dedup of the full input":
    // greedy near-dup dedup is order-dependent on loser CHAINS — e.g.
    // a twin whose original lost within phase 1 is dropped by the
    // one-shot run (it pairs the lower-id loser) but kept by ANY
    // incremental view (the loser never reaches the store) — observed
    // live on this corpus (doc 10000438). d15 documents the
    // incremental semantics as the contract; the engine-equivalence
    // below is the property this capstone pins.
    val refStore = Files.createTempDirectory("graft-cur-ref").toString
    val refOut = Files.createTempDirectory("graft-cur-refout").toString
    StreamNearDedup.processBatch(
      corpus.filter(col("doc_id") < Dedup.TwinOffset), 0L,
      refStore, refOut)
    StreamNearDedup.processBatch(
      corpus.filter(col("doc_id") >= Dedup.TwinOffset), 1L,
      refStore, refOut)
    val batchSurv = spark.read.parquet(s"$refOut/batch=*")
    val streamedIds = BatchStore.read(spark, survOut).get
      .select("doc_id").as[Long].collect().toSet
    assert(streamedIds ===
      batchSurv.select("doc_id").as[Long].collect().toSet,
      "streamed survivors must equal the directly-driven batch dedup")
    // ...and the recall the stream exists for: nearly every planted
    // twin drops (MinHash banding is a per-pair PROBABILITY, not a
    // theorem — doc 413's twin misses all bands on this corpus,
    // deterministically; r4's winnowing floor is the guaranteed tier),
    // so pin a hard floor rather than per-pair absolutes
    val twinsIn = corpus.filter(col("doc_id") >= Dedup.TwinOffset).count()
    val twinsSurvived = streamedIds.count(_ >= Dedup.TwinOffset)
    assert(twinsSurvived <= twinsIn / 20,
      s"twin drop recall collapsed: $twinsSurvived of $twinsIn survived")
  }
}
