package graft

import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.streaming.Trigger

import graft.io.Sources
import graft.streaming.WindowedAgg

/** Streaming event-time operators: the same transform runs batch and
  * streaming, and a file-driven streaming query over the events table
  * produces exactly the batch result. */
class StreamingAggSpec extends SparkSpec {

  test("stream-stream interval join matches the batch join") {
    val events = Sources.table(spark, sf0001, "events")
    val purchases = events.filter("event_type = 'purchase'")
    val clicks = events.filter("event_type = 'click'")
    val batchOut = WindowedAgg.purchaseClickJoin(
        purchases, clicks, intervalSec = 3600L, watermark = "1 hour")
      .collect().map(_.toString).sorted
    assert(batchOut.nonEmpty, "fixture should produce joined pairs")

    // stage both sides as file streams
    val stage = java.nio.file.Files.createTempDirectory("graft-ssj")
    val pDir = stage.resolve("p"); val cDir = stage.resolve("c")
    purchases.coalesce(1).write.parquet(pDir.toString)
    clicks.coalesce(1).write.parquet(cDir.toString)
    val schema = events.schema
    val pStream = spark.readStream.schema(schema).parquet(pDir.toString)
    val cStream = spark.readStream.schema(schema).parquet(cDir.toString)
    val q = WindowedAgg.purchaseClickJoin(pStream, cStream,
        intervalSec = 3600L, watermark = "1 hour")
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(100L)).start()
    try {
      q.processAllAvailable()
      val streamOut = spark.sql("SELECT * FROM ssj_out")
        .collect().map(_.toString).sorted
      assert(streamOut.toSeq === batchOut.toSeq,
        s"stream ${streamOut.length} vs batch ${batchOut.length} rows")
    } finally q.stop()
  }

  test("left-outer interval join: watermark closure emits the unmatched purchase") {
    import spark.implicits._
    import java.nio.file.Files
    val stage = Files.createTempDirectory("graft-ssoj")
    val pDir = stage.resolve("p").toString
    val cDir = stage.resolve("c").toString
    def nanos(sec: Long): Long = sec * 1000000000L
    def mk(rows: Seq[(Long, Long, Long, String)], path: String): Unit =
      rows.map { case (id, t, u, et) => (id, nanos(t), u, et) }
        .toDF("event_id", "ts", "user_id", "event_type")
        .coalesce(1).write.parquet(path)
    // user 10's purchase has a click 1000 s earlier (inside the 1800 s
    // interval) -> matches; user 11's purchase has NO click -> the row
    // the outer form exists for
    val purchases = Seq((100L, 2000L, 10L, "purchase"),
      (101L, 2000L, 11L, "purchase"))
    val clicks = Seq((200L, 1000L, 10L, "click"))
    mk(purchases, s"$pDir/a_data")
    mk(clicks, s"$cDir/a_data")
    val batchOut = WindowedAgg.purchaseClickJoinOuter(
        spark.read.parquet(s"$pDir/*"), spark.read.parquet(s"$cDir/*"),
        intervalSec = 1800L, watermark = "1 hour")
      .collect().map(_.toString).sorted.toSeq
    assert(batchOut.exists(_ == "[100,10,200,2000,1000]"),
      s"matched pair missing: $batchOut")
    assert(batchOut.exists(_ == "[101,11,null,2000,null]"),
      s"unmatched purchase missing: $batchOut")

    // streaming: the unmatched purchase may only emit once the GLOBAL
    // watermark (min across both sides) closes its interval — sentinels
    // far in the future on BOTH sides, arriving in later micro-batches
    // (maxFilesPerTrigger=1), advance it; the sentinel purchase's own
    // interval never closes, so it stays in state and never emits
    mk(Seq((-2L, 1000000L, -2L, "purchase")), s"$pDir/b_sentinel")
    mk(Seq((-1L, 1000000L, -1L, "click")), s"$cDir/b_sentinel")
    val schema = spark.read.parquet(s"$pDir/a_data").schema
    def stream(dir: String) = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*")
    val q = WindowedAgg.purchaseClickJoinOuter(stream(pDir), stream(cDir),
        intervalSec = 1800L, watermark = "1 hour")
      .writeStream.format("memory").queryName("ssoj_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(100L)).start()
    try {
      q.processAllAvailable()
      val streamOut = spark.sql("SELECT * FROM ssoj_out")
        .collect().map(_.toString).sorted.toSeq
      assert(streamOut === batchOut,
        "watermark closure must emit exactly the batch result " +
          s"(stream $streamOut vs batch $batchOut)")
    } finally q.stop()
  }

  test("session windows: the streaming append form equals the batch run") {
    val dir = s"$sf0001/events.parquet"
    val events = Sources.table(spark, sf0001, "events")
    val batchOut = WindowedAgg.userSessions(events, "30 minutes", "2 hours")
      .collect().map(_.toString).sorted

    // append mode only emits a session once the WATERMARK passes its
    // close — a bounded replay would withhold the tail sessions forever,
    // so a sentinel event far past the real range (its own session,
    // filtered below) pushes the final watermark; maxFilesPerTrigger=1
    // makes the sentinel arrive in a LATER micro-batch, after which the
    // advanced watermark finalizes every real session
    val stage = java.nio.file.Files.createTempDirectory("graft-sess")
    java.nio.file.Files.copy(java.nio.file.Paths.get(dir),
      stage.resolve("a_events.parquet"))
    val schema = spark.read.parquet(dir).schema
    // sentinel derived FROM the events frame so its ts type matches the
    // file's physical timestamp flavor exactly
    import org.apache.spark.sql.functions.{expr, lit}
    events.agg(max(col("ts")).as("ts"))
      .select(lit(-1L).as("event_id"),
        (col("ts") + expr("INTERVAL 30 DAYS")).as("ts"),
        lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      .coalesce(1).write.parquet(stage.resolve("b_sentinel").toString)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stage.toString + "/*")
    val q = WindowedAgg.userSessions(stream, "30 minutes", "2 hours")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(100L)).start()
    try {
      q.processAllAvailable()
      val streamOut = spark.sql(
          "SELECT * FROM sess_out WHERE user_id >= 0")
        .collect().map(_.toString).sorted
      assert(streamOut.nonEmpty)
      assert(streamOut.toSeq === batchOut.toSeq,
        "append-mode sessions must equal the batch run exactly")
    } finally q.stop()
  }

  test("E101 stream-static enrichment equals the batch join; unknowns flagged") {
    import spark.implicits._
    import java.nio.file.Files
    import graft.streaming.Enrich
    val in = Files.createTempDirectory("graft-enrich-in").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
    val events = Seq(
      (1L, 10L, "view", 1.0), (2L, 11L, "click", 2.0),
      (3L, 99L, "view", 3.0), (4L, 10L, "purchase", 4.0),
      (5L, 50L, "view", 5.0))
    events.toDF("event_id", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$in/f1")
    val dim = Seq((10L, Some("AUTOMOBILE")), (11L, Some("BUILDING")),
        (99L, None))
      .toDF("c_custkey", "c_mktsegment")

    val batchOut = Enrich.enrichEvents(
      spark.read.schema(schema).parquet(s"$in/*"), dim)
      .collect().map(_.toString).sorted.toSeq
    // user 99 EXISTS in the dimension with a NULL attribute: a known key
    // (is_known=true) with segment NULL — not the quarantine path; user
    // 50 is truly unknown: kept, NULL segment, flagged false
    assert(batchOut.exists(_.contains("3,99,view,3.0,null,true")))
    assert(batchOut.exists(_.contains("5,50,view,5.0,null,false")))

    // the SAME transform as a streaming query (broadcast join per
    // micro-batch; no state store, no watermark, append mode)
    val q = Enrich.enrichEvents(
        spark.readStream.schema(schema).parquet(s"$in/*"), dim)
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(100L)).start()
    try {
      q.processAllAvailable()
      val streamOut = spark.sql("SELECT * FROM enrich_out")
        .collect().map(_.toString).sorted.toSeq
      assert(streamOut === batchOut)
    } finally q.stop()
  }
}
