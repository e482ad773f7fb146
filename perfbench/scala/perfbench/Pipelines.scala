package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.pipeline.Pipeline
import graft.runner.BatchRunner
import graft.runner.Runner
import graft.schema.Schemas
import Gen.BatchSpec

/** The pipeline workload: closed-loop batches through
  * `BatchRunner.tick` (validate -> transform -> KPI store commit), each
  * committed batch followed by a snapshot read of both KPI stores. One
  * operation = dispatch of a batch until its commit (or rejection) plus,
  * after a commit, the snapshot read: the time until a reader sees it. */
object Pipelines {

  /** `expect` is "commit" or the error type the batch must be rejected
    * with. A rerun reuses an earlier batch's staged files. */
  final case class Op(spec: BatchSpec, expect: String)

  final case class Plan(specs: Seq[BatchSpec], ops: Seq[Op],
      warm: Seq[BatchSpec])

  private val Now = "2026-01-01T00:00:00"
  private val ErrorFor = Map(Gen.NullUser -> "NULL_VALIDATION_ERROR",
    Gen.DanglingProduct -> "REFERENTIAL_ERROR")

  /** Consecutive one-day batches of `ordersPerDay` orders (2+2 parts).
    * Each block of six operations holds three new days, one idempotent
    * rerun of an earlier day and two defective batches that must be
    * rejected (a null `user_id`, then a dangling `product_id`), in a fixed
    * order so every seed measures the same mix of work; the seed draws the
    * data and which day reruns. Two more days are the warm-up. */
  def dailyPlan(seed: Long, numOps: Int, ordersPerDay: Int): Plan = {
    val r = new scala.util.Random(seed)
    val specs = mutable.ArrayBuffer.empty[BatchSpec]
    def day(i: Int) = java.time.LocalDate.of(2021, 1, 1).plusDays(i).toString
    def newSpec(defect: String) = {
      val i = specs.size
      val s = BatchSpec(f"d$i%04d", day(i), ordersPerDay, 1000L * (i + 1), 2, defect)
      specs += s
      s
    }
    val warm = Seq.fill(2)(newSpec(Gen.NoDefect))
    val committed = mutable.ArrayBuffer.empty[BatchSpec]
    val ops = (0 until numOps).map { k =>
      k % 6 match {
        case 2 => Op(newSpec(Gen.NullUser), ErrorFor(Gen.NullUser))
        case 5 => Op(newSpec(Gen.DanglingProduct),
          ErrorFor(Gen.DanglingProduct))
        case 4 => Op(committed(r.nextInt(committed.size)), "commit")
        case _ =>
          val s = newSpec(Gen.NoDefect)
          committed += s
          Op(s, "commit")
      }
    }
    Plan(specs.toSeq, ops, warm)
  }

  final case class Staged(dir: String,
      files: Map[String, (Seq[String], Seq[String])]) {
    def products: String = s"$dir/products.csv"
  }

  def stage(seed: Long, plan: Plan, dir: String): Staged =
    Staged(dir, Gen.stage(seed, plan.specs, dir))

  /** Untimed operations on their own work dir, so the measured ones run
    * on compiled code paths: each warm-up batch and a snapshot read. */
  def warmUp(spark: SparkSession, plan: Plan, st: Staged): Unit = {
    val work = s"${st.dir}/warm_work"
    plan.warm.zipWithIndex.foreach { case (spec, i) =>
      val chunk = chunkOf(st, spec, s"warm$i")
      BatchRunner.tick(spark, Seq(chunk), work, Now)
      require(chunk.status == Runner.Done,
        s"warm-up batch failed: ${chunk.error.getOrElse("")}")
      snapshotRead(spark, work, i + 1L)
    }
  }

  private def chunkOf(st: Staged, spec: BatchSpec, id: String)
      : BatchRunner.BatchChunk = {
    val (o, i) = st.files(spec.batch)
    BatchRunner.BatchChunk(id, 0L, o, i, Some(st.products))
  }

  private def catSchema = StructType.fromDDL(
    "category STRING, order_date STRING, daily_revenue DOUBLE, " +
      "avg_order_value DOUBLE, avg_return_rate DOUBLE, " +
      "data_sources ARRAY<STRING>, last_updated STRING")
  private def ordSchema = StructType.fromDDL(
    "order_date STRING, total_orders BIGINT, total_revenue DOUBLE, " +
      "total_items_sold BIGINT, return_rate DOUBLE, unique_customers BIGINT, " +
      "data_sources ARRAY<STRING>, last_updated STRING")

  /** Both KPI stores materialized, plus the order store as of an earlier
    * epoch. Returns (order dates now, order dates at `earlier`). */
  def snapshotRead(spark: SparkSession, work: String, earlier: Long)
      : (Set[String], Set[String]) = {
    Pipeline.readOrInit(spark, s"$work/store/category_kpi", catSchema)
      .collect()
    val now = Pipeline.readOrInit(spark, s"$work/store/order_kpi", ordSchema)
      .collect().map(_.getAs[String]("order_date")).toSet
    val at = Pipeline.readAt(spark, s"$work/store/order_kpi", earlier,
      ordSchema).collect().map(_.getAs[String]("order_date")).toSet
    (now, at)
  }

  final case class OpResult(op: Op, secs: Double, batch: Span,
      readSecs: Double, rows: Long, ok: Boolean)

  /** Runs every op of the plan in order; checks each outcome as it goes
    * and the final stores against a recomputation. */
  def run(spark: SparkSession, tracer: Tracer, seed: Long, plan: Plan,
      st: Staged, work: String,
      log: String => Unit): (Seq[OpResult], Boolean, Map[String, Double]) = {
    val r = new scala.util.Random(seed ^ 0x5eed)
    val facts = plan.specs.map(s => s.batch -> stagedFacts(st, s)).toMap
    val commits = mutable.ArrayBuffer.empty[String] // processing date per epoch
    val filesWritten = mutable.ArrayBuffer.empty[Long]
    val storeChanges = mutable.ArrayBuffer.empty[Long]
    val results = plan.ops.zipWithIndex.map { case (op, i) =>
      val chunk = chunkOf(st, op.spec, f"op$i%04d-${op.spec.batch}")
      val before =
        if (op.expect == "commit" && !tracer.enabled) None
        else Some(listing(work))
      val filesBefore = if (tracer.enabled) fileCount(work) else 0L
      val earlier =
        if (commits.size < 2) 1L
        else commits.size - 1L - r.nextInt(math.min(commits.size - 1, 10))
      val (((_, batch), read), opSpan) = tracer.span("op") {
        val b = tracer.span("batch", sampled = true) {
          BatchRunner.tick(spark, Seq(chunk), work, Now)
        }
        (b, if (chunk.status == Runner.Done)
          Some(tracer.span("read")(snapshotRead(spark, work, earlier)))
        else None)
      }
      // outcome checks, outside the timed operation
      val (rows, date) = facts(op.spec.batch)
      val ok = (op.expect, read) match {
        case ("commit", Some(((now, at), _))) =>
          commits += date
          val want = commits.toSet
          val wantAt = commits.take(earlier.toInt).toSet
          val good = now == want && at == wantAt
          if (!good) log(s"snapshot read after ${chunk.batchId}: " +
            s"${now.size}/${want.size} dates now, " +
            s"${at.size}/${wantAt.size} at epoch $earlier")
          good
        case ("commit", None) =>
          log(s"batch ${chunk.batchId} failed: ${chunk.error}"); false
        case (errorType, _) =>
          val good = chunk.status == Runner.FailedStatus &&
            chunk.error.exists(_.startsWith(errorType + ":")) &&
            before.contains(listing(work))
          if (!good) log(s"batch ${chunk.batchId}: expected rejection " +
            s"$errorType with an unchanged store, got ${chunk.status.name} " +
            s"${chunk.error.getOrElse("").take(120)}")
          good
      }
      if (tracer.enabled) {
        filesWritten += fileCount(work) - filesBefore
        // store files created, deleted or rewritten by this batch
        val (b, a) = (before.get.map(f => f._1 -> f).toMap,
          listing(work).map(f => f._1 -> f).toMap)
        storeChanges += (b.keySet ++ a.keySet).count(k => b.get(k) != a.get(k))
      }
      OpResult(op, opSpan.secs, batch, read.map(_._2.secs).getOrElse(0.0),
        if (read.isDefined) rows else 0L, ok)
    }
    val accepted = results.collect {
      case res if res.op.expect == "commit" && res.ok => res.op.spec
    }.distinct
    val storeOk = checkStores(spark, st, accepted, work, log)
    def perBatch(xs: Seq[Long]) =
      if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size
    val extra = Map(
      "files_written_per_batch" -> perBatch(filesWritten.toSeq),
      "store_file_changes_per_batch" -> perBatch(storeChanges.toSeq),
      "stored_mb" -> dirBytes(work) / 1e6)
    (results, storeOk, extra)
  }

  /** Input rows (orders + items) of a staged batch and its processing
    * date, the earliest order `created_at` day, read from the CSV. */
  private def stagedFacts(st: Staged, s: BatchSpec): (Long, String) = {
    val (o, i) = st.files(s.batch)
    val created = Schemas.orders.fieldIndex("created_at")
    val orderDays = o.flatMap(p =>
      Files.readAllLines(Paths.get(p)).asScala.drop(1)
        .map(_.split(",", -1)(created).take(10)))
    val items = i.map(p => Files.lines(Paths.get(p)).count() - 1).sum
    (orderDays.size + items, orderDays.min)
  }

  /** Every file under the store dirs with size and mtime: equal before and
    * after a rejected batch iff the batch left the store untouched. */
  private def listing(work: String): Seq[(String, Long, Long)] = {
    val root = Paths.get(work)
    if (!Files.exists(root)) Nil
    else {
      val w = Files.walk(root)
      try w.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          root.relativize(p).toString.startsWith("store"))
        .map(p => (root.relativize(p).toString, Files.size(p),
          Files.getLastModifiedTime(p).toMillis))
        .toSeq.sorted
      finally w.close()
    }
  }

  private def fileCount(work: String): Long = walkSum(work)(_ => 1L)
  def dirBytes(dir: String): Long = walkSum(dir)(Files.size)
  private def walkSum(dir: String)(f: java.nio.file.Path => Long): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val w = Files.walk(root)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(f).sum
      finally w.close()
    }
  }

  /** The final KPI stores must equal a plain Spark SQL recomputation over
    * the staged CSV of the accepted batches. */
  def checkStores(spark: SparkSession, st: Staged, accepted: Seq[BatchSpec],
      work: String, log: String => Unit): Boolean = {
    if (accepted.isEmpty) return true
    def view(name: String, schema: StructType, paths: Seq[String]): Unit =
      spark.read.option("header", "true").schema(schema).csv(paths: _*)
        .createOrReplaceTempView(name)
    view("x_orders", Schemas.orders, accepted.flatMap(s => st.files(s.batch)._1))
    view("x_items", Schemas.orderItems,
      accepted.flatMap(s => st.files(s.batch)._2))
    view("x_products", Schemas.products, Seq(st.products))
    val joined =
      """WITH o AS (SELECT *, regexp_extract(input_file_name(),
        |    '/([^/]+)/orders_part', 1) AS batch FROM x_orders),
        |  d AS (SELECT batch, substring(min(created_at), 1, 10) AS order_date
        |    FROM o GROUP BY batch),
        |  j AS (SELECT d.order_date, o.order_id, o.user_id, i.id, i.status,
        |      i.sale_price, p.category
        |    FROM o JOIN d ON o.batch = d.batch
        |    JOIN x_items i ON i.order_id = o.order_id
        |    JOIN x_products p ON i.product_id = p.id)""".stripMargin
    val returned = "count(CASE WHEN status = 'returned' THEN 1 END)"
    val wantCat = spark.sql(s"""$joined
      |SELECT category, order_date, sum(sale_price),
      |  sum(sale_price) / count(sale_price), $returned / count(id)
      |FROM j GROUP BY category, order_date""".stripMargin).collect()
    val wantOrd = spark.sql(s"""$joined
      |SELECT order_date, count(DISTINCT order_id), sum(sale_price),
      |  count(id), $returned / count(id), count(DISTINCT user_id)
      |FROM j GROUP BY order_date""".stripMargin).collect()
    def got(name: String, schema: StructType) =
      Pipeline.readOrInit(spark, s"$work/store/$name", schema)
        .select(schema.fieldNames.map(col): _*).collect()
    val gotCat = got("category_kpi", catSchema)
    val gotOrd = got("order_kpi", ordSchema)
    val sources = Seq("order_items", "orders")
    def cmp(what: String, want: Array[Row], got: Array[Row], nKeys: Int,
        nVals: Int): Boolean = {
      def key(r: Row) = (0 until nKeys).map(r.get)
      val g = got.map(r => key(r) -> r).toMap
      val bad = want.filterNot { w =>
        g.get(key(w)).exists { r =>
          (nKeys until nKeys + nVals).forall(k => close(w.get(k), r.get(k))) &&
            r.getSeq[String](nKeys + nVals).sorted == sources
        }
      }
      val ok = bad.isEmpty && got.length == want.length
      if (!ok) log(s"$what store differs from the recomputation: " +
        s"${got.length} rows vs ${want.length} expected, first mismatch " +
        s"${bad.headOption.map(_.toString).getOrElse("-")}")
      ok
    }
    cmp("category_kpi", wantCat, gotCat, 2, 3) &
      cmp("order_kpi", wantOrd, gotOrd, 1, 5)
  }

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: Number, y: Number) => x.longValue == y.longValue
    case _ => a == b
  }
}
