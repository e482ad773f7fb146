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

/** The epoch-manifest store under a crash at every mutating call of a
  * commit, and beside another writer. The stores live under
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

  private def rows(path: String): Map[(String, String), (Long, String)] =
    Pipeline.readOrInit(spark, path, schema).collect()
      .map(r => (r.getAs[String]("category"), r.getAs[String]("order_date"))
        -> (r.getAs[Long]("total_orders"), r.getAs[String]("last_updated")))
      .toMap

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

  test("a commit crashed at any mutating call is read as before or after, " +
      "and the next commit converges") {
    val base = Files.createTempDirectory("graft-crash")
    upsert(store(base), updates("t1", ("A", "2024-06-01", 1L),
      ("B", "2024-06-01", 2L)))
    // one stored date and one new date
    val batch = updates("t2", ("A", "2024-06-01", 5L), ("A", "2024-06-02", 3L))
    val pre = rows(store(base))

    // the crash-free commit: its rows, its manifest tally, its calls
    val ref = copyOf(base)
    fs.calls.set(0)
    upsert(store(ref), batch)
    val n = fs.calls.get
    val post = rows(store(ref))
    val tally = Pipeline.latestManifest(fs, store(ref)).rows
    assert(post === Map(("A", "2024-06-01") -> (5L, "t2"),
      ("B", "2024-06-01") -> (2L, "t1"), ("A", "2024-06-02") -> (3L, "t2")))
    assert(tally === 3L)
    info(s"a crash-free commit makes $n mutating calls")

    for (k <- 1 to n) {
      val d = copyOf(base)
      val path = store(d)
      fs.calls.set(0)
      fs.crashAt = k
      val e = try intercept[Throwable](upsert(path, batch))
        finally fs.crashAt = Int.MaxValue
      assert(causes(e).exists(_.isInstanceOf[CrashingFs.Crash]),
        s"crash at call $k of $n: $e")
      val seen = rows(path)
      assert(seen == pre || seen == post,
        s"crash at call $k of $n: a reader saw $seen")
      expire(d)
      upsert(path, batch)
      assert(rows(path) === post, s"crash at call $k of $n")
      val m = Pipeline.latestManifest(fs, path)
      assert(m.rows === tally, s"crash at call $k of $n")
      assert(!Files.exists(d.resolve(s"store.hist/${m.epoch}")),
        s"crash at call $k of $n: a commit in flight is left")
      assert(!tree(d).exists(_.getFileName.toString.startsWith("store.tmp")),
        s"crash at call $k of $n: a staging dir is left")
      tree(d).foreach(Files.delete)
    }
    Seq(base, ref).foreach(tree(_).foreach(Files.delete))
  }

  test("a clean commit leaves no recovery work: the next takes the lease once") {
    val d = Files.createTempDirectory("graft-crash")
    upsert(store(d), updates("t1", ("A", "2024-06-01", 1L)))
    val leases = new AtomicInteger
    fs.before = (op, p) =>
      if (op == "create" && p.getName == "_lease") leases.incrementAndGet()
    try upsert(store(d), updates("t2", ("A", "2024-06-01", 2L)))
    finally fs.before = (_, _) => ()
    assert(leases.get === 1)
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
