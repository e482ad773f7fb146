package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, typedLit}
import org.apache.spark.sql.types.StructType
import org.scalatest.BeforeAndAfterAll

import graft.io.Sources
import graft.pipeline.{Pipeline, StoreLeaseHeldException}

/** The epoch-manifest store's mutators (`upsertStore`, `forgetKeys`,
  * `retentionSweep`) under a crash at every mutating call, and beside
  * another writer. The stores live under
  * [[CrashingFs.Scheme]], so every mutation a store call makes, Spark's
  * writes included, goes through one [[CrashingFs]]. */
class StoreCrashSpec extends SparkSpec with BeforeAndAfterAll {

  override def beforeAll(): Unit =
    CrashingFs.register(spark.sparkContext.hadoopConfiguration)

  private lazy val fs: CrashingFs =
    Sources.fileSystem(spark, s"${CrashingFs.Scheme}:///")
      .asInstanceOf[CrashingFs]

  private val schema = StructType.fromDDL(
    "category STRING, order_date STRING, total_orders BIGINT, " +
      "data_sources ARRAY<STRING>, last_updated STRING")
  private val keys = Seq("category", "order_date")
  private val fields = Seq("total_orders", "last_updated")

  private def updates(stamp: String, rows: (String, String, Long)*)
      : DataFrame = {
    import spark.implicits._
    rows.toDF("category", "order_date", "total_orders")
      .withColumn("data_sources", typedLit(Seq("orders")))
      .withColumn("last_updated", lit(stamp))
      .select(schema.fieldNames.toSeq.map(col): _*)
  }

  private def upsert(path: String, batch: DataFrame): Long =
    Pipeline.upsertStore(spark, path, schema, batch, keys, fields)

  private def rowsOf(df: DataFrame): Map[(String, String), (Long, String)] =
    df.collect()
      .map(r => (r.getAs[String]("category"), r.getAs[String]("order_date"))
        -> (r.getAs[Long]("total_orders"), r.getAs[String]("last_updated")))
      .toMap

  private def rows(path: String) =
    rowsOf(Pipeline.readOrInit(spark, path, schema))

  /** The store path inside local dir `d`. */
  private def store(d: JPath): String = s"${CrashingFs.Scheme}://$d/store"

  /** Local dir entries, recursively, deepest first. */
  private def tree(d: JPath): Seq[JPath] = {
    val w = Files.walk(d)
    try w.iterator().asScala.toSeq.reverse finally w.close()
  }

  /** A copy of local dir `src` (a store and its siblings). */
  private def copyOf(src: JPath): JPath = {
    val dst = Files.createTempDirectory("graft-crash")
    tree(src).reverse.filterNot(_ == src).foreach(p =>
      Files.copy(p, dst.resolve(src.relativize(p))))
    dst
  }

  /** Ages the lease and staging dirs a crashed writer left in `d` past
    * the lease TTL, as waiting out the TTL would. */
  private def expire(d: JPath): Unit = {
    val old = FileTime.fromMillis(
      System.currentTimeMillis() - 2 * Pipeline.DefaultLeaseTtlMs)
    (d.resolve("store/_lease") +: tree(d).filter(
      _.getFileName.toString.startsWith("store.tmp")))
      .filter(Files.exists(_)).foreach(Files.setLastModifiedTime(_, old))
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  /** Runs `call` on a copy of the store dir `base`, crash-free, and then
    * once per mutating call k it made, on a fresh copy crashed at call k.
    * A reader of the crashed copy sees exactly the snapshot before or
    * after the crash-free call; after [[expire]] a rerun of `call` reaches
    * the crash-free snapshot and leaves no commit in flight and no
    * staging dir. `check(at, d)` then checks the end state of copy `d`; it
    * checks the crash-free copy too. Returns the crash-free call count. */
  private def crashAtEveryCall(base: JPath)(call: String => Any)(
      check: (String, JPath) => Unit): Int = {
    val pre = rows(store(base))
    val ref = copyOf(base)
    fs.calls.set(0)
    call(store(ref))
    val n = fs.calls.get
    val post = rows(store(ref))
    check("crash-free", ref)
    for (k <- 1 to n) {
      val d = copyOf(base)
      val path = store(d)
      val at = s"crash at call $k of $n"
      fs.calls.set(0)
      fs.crashAt = k
      val e = try intercept[Throwable](call(path))
        finally fs.crashAt = Int.MaxValue
      assert(causes(e).exists(_.isInstanceOf[CrashingFs.Crash]), s"$at: $e")
      val seen = rows(path)
      assert(seen == pre || seen == post, s"$at: a reader saw $seen")
      expire(d)
      call(path)
      assert(rows(path) === post, at)
      val m = Pipeline.latestManifest(fs, path)
      assert(!Files.exists(d.resolve(s"store.hist/${m.epoch}")),
        s"$at: a commit in flight is left")
      assert(!tree(d).exists(_.getFileName.toString.startsWith("store.tmp")),
        s"$at: a staging dir is left")
      check(at, d)
      tree(d).foreach(Files.delete)
    }
    tree(ref).foreach(Files.delete)
    n
  }

  /** No forget tombstone, published or a side dir of one, is left. */
  private def noTombstone(at: String, d: JPath): Unit =
    assert(!tree(d).exists(_.getFileName.toString.contains(".forget.")),
      s"$at: a tombstone is left")

  test("a commit crashed at any mutating call is read as before or after, " +
      "and the next commit converges") {
    val base = Files.createTempDirectory("graft-crash")
    upsert(store(base), updates("t1", ("A", "2024-06-01", 1L),
      ("B", "2024-06-01", 2L)))
    // one stored date and one new date
    val batch = updates("t2", ("A", "2024-06-01", 5L), ("A", "2024-06-02", 3L))
    val n = crashAtEveryCall(base)(upsert(_, batch)) { (at, d) =>
      assert(rows(store(d)) === Map(("A", "2024-06-01") -> (5L, "t2"),
        ("B", "2024-06-01") -> (2L, "t1"), ("A", "2024-06-02") -> (3L, "t2")),
        at)
      assert(Pipeline.latestManifest(fs, store(d)).rows === 3L, at)
    }
    info(s"a crash-free commit makes $n mutating calls")
    tree(base).foreach(Files.delete)
  }

  test("a forget crashed at any mutating call is read as before or after, " +
      "and its rerun converges and erases every version") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-crash")
    // A's forget thins 06-01 and empties 06-02
    upsert(store(base), updates("t1", ("A", "2024-06-01", 1L),
      ("B", "2024-06-01", 2L), ("A", "2024-06-02", 3L)))
    val forgotten = Seq("A").toDF("category")
    val dataSchema = StructType(schema.filterNot(_.name == "order_date"))
    val n = crashAtEveryCall(base)(Pipeline.forgetKeys(spark, _, schema,
        forgotten, Seq("category"))) { (at, d) =>
      assert(rows(store(d)) === Map(("B", "2024-06-01") -> (2L, "t1")), at)
      assert(Pipeline.latestManifest(fs, store(d)) ===
        Pipeline.StoreManifest(2L, Seq("2024-06-01"), 1L), at)
      noTombstone(at, d)
      // epoch 1 reads without the key, and no purge side dir (which
      // would hold a copy with it) is left
      assert(rowsOf(Pipeline.readAt(spark, store(d), 1L, schema)) ===
        Map(("B", "2024-06-01") -> (2L, "t1")), at)
      assert(!tree(d).exists(_.getFileName.toString.contains(".fk.")),
        s"$at: a purge side dir is left")
      val versions = tree(d).filter(p =>
        p.getFileName.toString.startsWith("order_date=") &&
          p.getParent.getParent.getFileName.toString == "store.hist")
      assert(versions.nonEmpty, at)
      versions.foreach { v =>
        assert(spark.read.schema(dataSchema).parquet(v.toString)
          .where(col("category") === "A").count() === 0L, s"$at: $v holds A")
      }
    }
    info(s"a crash-free forget makes $n mutating calls")
    tree(base).foreach(Files.delete)
  }

  test("a retention sweep crashed at any mutating call is read as before " +
      "or after, and its rerun converges") {
    val base = Files.createTempDirectory("graft-crash")
    upsert(store(base), updates("t1", ("A", "2024-06-01", 1L),
      ("B", "2024-06-02", 2L)))
    // 06-01 is expired and still on disk: the next sweep deletes it
    Pipeline.retentionSweep(spark, store(base), "2024-06-02")
    val n = crashAtEveryCall(base)(
        Pipeline.retentionSweep(spark, _, "2024-06-03")) { (at, d) =>
      assert(rows(store(d)).isEmpty, at)
      assert(Pipeline.latestManifest(fs, store(d)) ===
        Pipeline.StoreManifest(3L, Nil, 0L), at)
      noTombstone(at, d)
    }
    info(s"a crash-free sweep makes $n mutating calls")
    tree(base).foreach(Files.delete)
  }

  test("a clean commit leaves no recovery work: the next takes the lease once") {
    val d = Files.createTempDirectory("graft-crash")
    val path = store(d)
    val snapshots = scala.collection.mutable.Map.empty[Long,
      Map[(String, String), (Long, String)]]
    def commit(batch: DataFrame): Unit = {
      upsert(path, batch)
      snapshots(Pipeline.latestManifest(fs, path).epoch) = rows(path)
    }
    commit(updates("t1", ("A", "2024-06-01", 1L)))
    val leases = new AtomicInteger
    fs.before = (op, p) =>
      if (op == "create" && p.getName == "_lease") leases.incrementAndGet()
    try commit(updates("t2", ("A", "2024-06-01", 2L)))
    finally fs.before = (_, _) => ()
    assert(leases.get === 1)
    // two new-day commits: they replace nothing, so keep no version root
    commit(updates("t3", ("B", "2024-06-02", 3L)))
    commit(updates("t4", ("C", "2024-06-03", 4L)))
    val hist = d.resolve("store.hist").toFile
    assert(hist.list().toSeq === Seq("1"),
      "only the commit over epoch 1 replaced a partition")
    assert(new java.io.File(hist, "1").list().nonEmpty)
    // every retained epoch still reads exactly as it was committed
    assert(snapshots.keySet === Set(1L, 2L, 3L, 4L))
    snapshots.foreach { case (e, want) =>
      assert(rowsOf(Pipeline.readAt(spark, path, e, schema)) === want,
        s"readAt($e)")
    }
    tree(d).foreach(Files.delete)
  }

  test("forgetKeys holds the commit lease from its tombstone publish to " +
      "its delete") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-crash")
    val path = store(d)
    upsert(path, updates("t1", ("A", "2024-06-01", 1L), ("B", "2024-06-01", 2L)))
    upsert(path, updates("t2", ("A", "2024-06-01", 3L)))
    // another writer's recovery sweep runs while the forget's tombstone is
    // staged but not yet marked complete
    var other: Option[Try[Unit]] = None
    fs.before = (op, p) =>
      if (other.isEmpty && op == "create" &&
          p.getName == "_graft_committed" &&
          p.getParent.getName.endsWith(".forget.pending.inprogress"))
        other = Some(Try(Pipeline.recoverUnderLease(fs, path)))
    val (_, deleted) =
      try Pipeline.forgetKeys(spark, path, schema, Seq("A").toDF("category"),
        Seq("category"))
      finally fs.before = (_, _) => ()
    assert(other.exists(_.failed.toOption
      .exists(_.isInstanceOf[StoreLeaseHeldException])),
      s"the other writer was not turned away: $other")
    // the erasure completed: snapshot, every version, tombstone retired
    assert(deleted === 1L)
    assert(rows(path).keySet === Set(("B", "2024-06-01")))
    assert(!fs.exists(new Path(s"$path.forget.pending")))
    val dataSchema = StructType(schema.filterNot(_.name == "order_date"))
    val versions = tree(d).filter(p =>
      p.getFileName.toString.startsWith("order_date=") &&
        p.getParent.getParent.getFileName.toString == "store.hist")
    assert(versions.nonEmpty)
    versions.foreach { v =>
      assert(spark.read.schema(dataSchema).parquet(v.toString)
        .where(col("category") === "A").count() === 0L, s"$v retains A")
    }
    tree(d).foreach(Files.delete)
  }
}
