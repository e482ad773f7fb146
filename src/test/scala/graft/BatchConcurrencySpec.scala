package graft

import java.net.URI
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.pipeline.{Pipeline, StoreLeaseHeldException}

/** Local filesystem under the `failwrite://` scheme that fails directory
  * creation below paths containing [[FailingWriteFs.failUnder]] and delays
  * it below [[FailingWriteFs.slowUnder]] — a write's job setup creates its
  * staging directory, so one chosen write fails at once while another is
  * still running. */
class FailingWriteFs extends RawLocalFileSystem {
  override def getScheme: String = "failwrite"
  override def getUri: URI = URI.create("failwrite:///")

  private def check(f: HPath): Unit = {
    val p = f.toUri.getPath
    if (FailingWriteFs.failUnder.exists(p.contains))
      throw new java.io.IOException(s"injected write failure at $p")
    if (FailingWriteFs.slowUnder.exists(p.contains))
      Thread.sleep(FailingWriteFs.delayMs)
  }
  override def mkdirs(f: HPath): Boolean = { check(f); super.mkdirs(f) }
  override def mkdirs(f: HPath, perm: FsPermission): Boolean = {
    check(f); super.mkdirs(f, perm)
  }
}

object FailingWriteFs {
  @volatile var failUnder: Option[String] = None
  @volatile var slowUnder: Option[String] = None
  val delayMs = 400L
}

/** The daily batch's concurrent actions (the three validated-table writes,
  * the two KPI store commits): every one is joined before the job returns
  * or throws, a failure on one side leaves the other side's commit whole,
  * and the jobs run on the fork-join threads carry the caller's Spark
  * local properties. */
class BatchConcurrencySpec extends SparkSpec {

  private def dir(): Path = Files.createTempDirectory("graft-fj")
  private def fs(path: String) = org.apache.hadoop.fs.FileSystem.get(
    new URI(path), spark.sparkContext.hadoopConfiguration)
  private def epoch(store: String): Long =
    Pipeline.latestManifest(fs(store), store).epoch
  private def rows(store: String, schema: String): Seq[String] =
    Pipeline.readOrInit(spark, store,
      org.apache.spark.sql.types.StructType.fromDDL(schema))
      .collect().map(_.toString).sorted.toSeq
  private val catDdl = "category STRING, order_date STRING, " +
    "daily_revenue DOUBLE, avg_order_value DOUBLE, avg_return_rate DOUBLE, " +
    "data_sources ARRAY<STRING>, last_updated STRING"
  private val ordDdl = "order_date STRING, total_orders BIGINT, " +
    "total_revenue DOUBLE, total_items_sold BIGINT, return_rate DOUBLE, " +
    "unique_customers BIGINT, data_sources ARRAY<STRING>, last_updated STRING"
  private def noForkJoinThreads(): Boolean =
    !Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.getName.startsWith("graft-fork-join") && t.isAlive)

  private def validated(d: Path): String = {
    val (op, ip, p) = BatchFixtures.clean(d)
    val res = Pipeline.validateJob(spark, op, ip, Some(p),
      s"$d/validated", s"$d/result.json")
    assert(res.status === "success")
    s"$d/validated"
  }

  test("a held order_kpi lease fails transformJob only after the " +
      "category_kpi commit has finished; a rerun converges") {
    val d = dir()
    val v = validated(d)
    val store = s"$d/store"
    val (cat, ord) = (s"$store/category_kpi", s"$store/order_kpi")
    Pipeline.transformJob(spark, v, "2024-06-01", store, now = "t1")
    val (cat0, ord0) = (epoch(cat), epoch(ord))

    val held = Pipeline.acquireStoreLease(fs(ord), ord, ord0)
    intercept[StoreLeaseHeldException] {
      Pipeline.transformJob(spark, v, "2024-06-01", store, now = "t2")
    }
    // the category commit finished before the throw: published once,
    // staging removed, no job of it still running
    assert(epoch(cat) === cat0 + 1)
    assert(epoch(ord) === ord0)
    val ls = Files.list(d.resolve("store"))
    try assert(ls.iterator.asScala
      .forall(!_.getFileName.toString.contains(".tmp")))
    finally ls.close()
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    assert(noForkJoinThreads())
    Pipeline.verifyStoreLease(fs(ord), ord, held) // untouched

    Pipeline.releaseStoreLease(fs(ord), ord, held)
    Pipeline.transformJob(spark, v, "2024-06-01", store, now = "t2")
    // baseline: the same two batches with no lease contention
    val b = dir()
    val vb = validated(b)
    Pipeline.transformJob(spark, vb, "2024-06-01", s"$b/store", now = "t1")
    Pipeline.transformJob(spark, vb, "2024-06-01", s"$b/store", now = "t2")
    assert(rows(cat, catDdl) === rows(s"$b/store/category_kpi", catDdl))
    assert(rows(ord, ordDdl) === rows(s"$b/store/order_kpi", ordDdl))
    assert(epoch(ord) === ord0 + 1)
  }

  test("a failing validated write fails the batch only after the other " +
      "writes have finished") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.failwrite.impl", classOf[FailingWriteFs].getName)
    val d = dir()
    val (op, ip, p) = BatchFixtures.clean(d)
    val out = s"failwrite://$d/validated"
    FailingWriteFs.failUnder = Some("/validated/products")
    FailingWriteFs.slowUnder = Some("/validated/orders")
    val res =
      try Pipeline.validateJob(spark, op, ip, Some(p), out,
        s"$d/result.json")
      finally {
        FailingWriteFs.failUnder = None
        FailingWriteFs.slowUnder = None
      }
    assert(res.status === "failed")
    assert(res.errorType === Some("UNKNOWN"))
    assert(res.message.exists(_.contains("injected write failure")))
    assert(Files.readString(d.resolve("result.json"))
      .contains("\"status\": \"failed\""))
    // the slow orders write and the items write were joined, not left
    // running behind the failure
    assert(Files.exists(d.resolve("validated/orders/_SUCCESS")))
    assert(Files.exists(d.resolve("validated/order_items/_SUCCESS")))
    assert(!Files.exists(d.resolve("validated/products/_SUCCESS")))
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    assert(noForkJoinThreads())
  }

  test("a batch the gate rejects writes no validated table") {
    val d = dir()
    val (op, _, p) = BatchFixtures.clean(d)
    val dangling = BatchFixtures.write(d, "order_items_bad.csv",
      BatchFixtures.itemsHeader,
      "101,999,10,7,complete,2024-06-01 10:00:00,,,,25.0")
    val res = Pipeline.validateJob(spark, op, Seq(dangling), Some(p),
      s"$d/validated", s"$d/result.json")
    assert(res.errorType === Some("REFERENTIAL_ERROR"))
    assert(!Files.exists(d.resolve("validated")))
  }

  test("every job of a clean batch carries the caller's local properties " +
      "and none starts after the batch returns") {
    // Measured on local[4] for the second of two fixture batches (the
    // gate, three validated writes, the KPI aggregate, and per store the
    // collect of its stored rows and the merged write, each with its AQE
    // stage jobs). The same code with the writes and the commits run one
    // after another also runs 18: concurrency adds and drops no job.
    val ExpectedJobs = 18
    val d = dir()
    val (op, ip, p) = BatchFixtures.clean(d)
    def batch(n: Int): Unit = {
      val res = Pipeline.validateJob(spark, op, ip, Some(p),
        s"$d/validated$n", s"$d/result$n.json")
      assert(res.status === "success")
      Pipeline.transformJob(spark, s"$d/validated$n",
        res.processingDate.get, s"$d/store", now = s"t$n")
      ()
    }
    batch(1)
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[(Option[String], Long)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        seen.add((Option(j.properties)
          .flatMap(p => Option(p.getProperty("graft.test.caller"))),
          j.time))
        ()
      }
    }
    org.apache.spark.graft.ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.caller", tag)
    val returned = try {
      batch(2)
      System.currentTimeMillis()
    } finally sc.setLocalProperty("graft.test.caller", null)
    try {
      Thread.sleep(200)
      org.apache.spark.graft.ListenerDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    val jobs = seen.asScala.toSeq
    assert(jobs.size === ExpectedJobs)
    assert(jobs.forall(_._1.contains(tag)),
      s"jobs without the caller's property: ${jobs.count(!_._1.contains(tag))}")
    assert(jobs.forall(_._2 <= returned), "a job started after return")
    assert(noForkJoinThreads())
  }
}
