package graft

import java.nio.file.{Files, Path}

import graft.io.Sources
import graft.pipeline.Pipeline

/** End-to-end lifecycle (SURVEY §3): multi-part CSV ingest → validation
  * gates (error taxonomy) → partitioned validated write → result doc →
  * KPI computation → merge-upsert into the store across partial-data runs. */
class PipelineSpec extends SparkSpec {

  private def dir(): Path = Files.createTempDirectory("graft-e2e")

  /** Recursive delete with the directory stream CLOSED per level — an
    * unclosed Files.list leaks one fd per directory in the shared
    * long-lived test JVM. */
  private def deleteRec(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val ls = Files.list(p)
      try ls.forEach(c => deleteRec(c)) finally ls.close()
    }
    Files.deleteIfExists(p)
    ()
  }

  import BatchFixtures.{itemsHeader, productsHeader, write}

  private def cleanFixtures(d: Path) = BatchFixtures.clean(d)

  test("null violations fail with NULL_VALIDATION_ERROR and a result doc") {
    val d = dir()
    val (op, _, p) = cleanFixtures(d)
    val bad = write(d, "order_items_bad.csv", itemsHeader,
      "101,1,10,7,complete,2024-06-01 10:00:00,,,,25.0",
      ",1,10,7,complete,2024-06-01 10:00:00,,,,30.0") // null id
    val res = Pipeline.validateJob(spark, op, Seq(bad), Some(p),
      s"$d/validated", s"$d/result.json")
    assert(res.status === "failed")
    assert(res.errorType === Some("NULL_VALIDATION_ERROR"))
    assert(Files.readString(d.resolve("result.json"))
      .contains("NULL_VALIDATION_ERROR"))
  }

  test("dangling foreign keys fail with REFERENTIAL_ERROR") {
    val d = dir()
    val (op, _, p) = cleanFixtures(d)
    val dangling = write(d, "order_items_dangling.csv", itemsHeader,
      "101,999,10,7,complete,2024-06-01 10:00:00,,,,25.0") // order 999 absent
    val res = Pipeline.validateJob(spark, op, Seq(dangling), Some(p),
      s"$d/validated", s"$d/result.json")
    assert(res.status === "failed")
    assert(res.errorType === Some("REFERENTIAL_ERROR"))
  }

  test("clean run validates, writes dt-partitioned tables, computes and merges KPIs") {
    val d = dir()
    val (op, ip, p) = cleanFixtures(d)
    val res = Pipeline.validateJob(spark, op, ip, Some(p),
      s"$d/validated", s"$d/result.json")
    assert(res.status === "success")
    assert(res.processingDate === Some("2024-06-01"))
    assert(Files.exists(d.resolve("validated/orders/dt=2024-06-01")))

    val (cat, ord) = Pipeline.transformJob(spark, s"$d/validated",
      "2024-06-01", s"$d/store", now = "2024-06-01T12:00:00Z")
    assert(cat === 2L && ord === 1L) // toys + books; one order_date row

    val catDf = spark.read.parquet(s"$d/store/category_kpi")
    val toys = catDf.filter("category = 'toys'").head()
    // items 101 (25.0) + 103 (50.0) → toys revenue 75.0, 1 of 2 returned
    assert(toys.getAs[Double]("daily_revenue") === 75.0)
    assert(toys.getAs[Double]("avg_return_rate") === 0.5)

    val ordRow = spark.read.parquet(s"$d/store/order_kpi").head()
    assert(ordRow.getAs[Long]("total_orders") === 3L)
    assert(ordRow.getAs[Double]("total_revenue") === 170.0)
    assert(ordRow.getAs[Long]("total_items_sold") === 4L)
    assert(ordRow.getAs[Long]("unique_customers") === 2L)
    assert(ordRow.getAs[String]("last_updated") === "2024-06-01T12:00:00Z")
  }

  test("a clean daily batch stays within its Spark job budget") {
    // Every job of validate → transform → both store commits, counted by
    // a listener over the second of two batches of one date (the first
    // warms up and seeds the store, so the second merges against it).
    // The gate is one action and the KPI families one more, opening the
    // validated tables reads their schema from a footer instead of an
    // inference job each, and each store merges its stored rows on the
    // driver (one collect and one write): 18 jobs under AQE on local[4]
    // (20 with the full-outer merge plan, 23 with the gate's dedup
    // aggregates before its existence lookups, 26 with the inference
    // jobs; the six-action gate with the checkpointed KPI path ran 49).
    // The ceiling keeps later changes from quietly adding actions back.
    val MaxJobs = 18
    val d = dir()
    val (op, ip, p) = cleanFixtures(d)
    def batch(n: Int): Unit = {
      val res = Pipeline.validateJob(spark, op, ip, Some(p),
        s"$d/validated$n", s"$d/result$n.json")
      assert(res.status === "success")
      Pipeline.transformJob(spark, s"$d/validated$n", res.processingDate.get,
        s"$d/store", now = s"t$n")
      ()
    }
    batch(1)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.graft.ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      batch(2)
      org.apache.spark.graft.ListenerDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get <= MaxJobs,
      s"a clean batch ran ${jobs.get} Spark jobs, budget $MaxJobs")
  }

  test("a batch's gate, KPI and commit plans generate the same code for " +
      "every batch") {
    // Spark caches compiled classes by their code, so a plan whose code
    // changes between batches (an aggregate over two distinct keys orders
    // its Expand by expression-id hash) compiles again on every batch.
    // A rerun of a stored date and an orphan rejection take the same
    // plans: the rerun reads its stored rows as the snapshot read that
    // follows every commit does, and the rejection is the gate alone.
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    val d = dir()
    val first = cleanFixtures(d)
    val d2 = Files.createDirectory(d.resolve("b2"))
    val second = (Seq(write(d2, "orders_part1.csv", BatchFixtures.ordersHeader,
      "7,20,complete,2024-07-09 08:00:00,,,,2",
      "8,21,returned,2024-07-09 09:30:00,,,,1",
      "9,20,complete,2024-07-10 10:00:00,,,,1")),
      Seq(write(d2, "order_items_part1.csv", itemsHeader,
        "201,7,20,7,complete,2024-07-09 08:00:00,,,,12.5",
        "202,7,20,9,returned,2024-07-09 08:00:00,,,,40.0",
        "203,8,21,8,complete,2024-07-09 09:30:00,,,,99.9",
        "204,9,20,8,complete,2024-07-10 10:00:00,,,,5.0")),
      write(d2, "products.csv", productsHeader,
        "7,SKU7,10.0,toys,Car,BrandA,25.0,kids",
        "8,SKU8,30.0,books,Atlas,BrandB,75.0,media",
        "9,SKU9,20.0,games,Chess,BrandC,40.0,kids"))
    // the whole-stage code of every plan `body` runs
    def plans(body: => Unit): Seq[QueryExecution] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
          seen.add(qe); ()
        }
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        body
        org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      seen.toArray(Array.empty[QueryExecution]).toSeq
    }
    def code(qes: Seq[QueryExecution]): Seq[String] =
      qes.flatMap(qe => codegenStringSeq(qe.executedPlan).map(_._2)).sorted
    def batch(b: (Seq[String], Seq[String], String), n: Int, store: String)
        : Seq[QueryExecution] = plans {
      val (op, ip, p) = b
      val res = Pipeline.validateJob(spark, op, ip, Some(p),
        s"$d/validated$n", s"$d/result$n.json")
      assert(res.status === "success")
      Pipeline.transformJob(spark, s"$d/validated$n", res.processingDate.get,
        s"$d/$store", now = s"t$n")
      ()
    }
    val a = batch(first, 1, "store1")
    val b = batch(second, 2, "store2")
    // gate, three validated writes, KPI, two store commits
    assert(a.size === 7 && b.size === 7)
    assert(code(a).nonEmpty)
    assert(code(a) === code(b))

    val read = code(plans {
      Seq("category_kpi" -> ("category STRING, order_date STRING, " +
        "daily_revenue DOUBLE, avg_order_value DOUBLE, avg_return_rate " +
        "DOUBLE, data_sources ARRAY<STRING>, last_updated STRING"),
        "order_kpi" -> ("order_date STRING, total_orders BIGINT, " +
          "total_revenue DOUBLE, total_items_sold BIGINT, return_rate " +
          "DOUBLE, unique_customers BIGINT, data_sources ARRAY<STRING>, " +
          "last_updated STRING")).foreach { case (s, ddl) =>
        Pipeline.readOrInit(spark, s"$d/store1/$s",
          org.apache.spark.sql.types.StructType.fromDDL(ddl)).collect()
      }
    })
    val newDay = (code(a) ++ read).toSet
    val rerun = batch(first, 3, "store1")
    assert(rerun.size === 9) // a collect of each store's stored rows more
    assert(code(rerun).toSet.diff(newDay).isEmpty)
    val dangling = write(d, "order_items_orphan.csv", itemsHeader,
      "101,999,10,7,complete,2024-06-01 10:00:00,,,,25.0")
    val rejection = plans {
      val res = Pipeline.validateJob(spark, first._1, Seq(dangling),
        Some(first._3), s"$d/validated4", s"$d/result4.json")
      assert(res.errorType === Some("REFERENTIAL_ERROR"))
      ()
    }
    assert(rejection.size === 1) // the gate, and no second action
    assert(code(rejection).toSet.diff(newDay).isEmpty)
  }

  test("orders-only rerun merges counts but preserves revenue fields") {
    val d = dir()
    val (op, ip, p) = cleanFixtures(d)
    Pipeline.validateJob(spark, op, ip, Some(p),
      s"$d/validated", s"$d/result.json")
    Pipeline.transformJob(spark, s"$d/validated", "2024-06-01",
      s"$d/store", now = "t1")

    // simulate a later orders-only batch for the same date: remove items
    val itemsDir = d.resolve("validated/order_items")
    deleteRec(itemsDir)

    val (cat2, ord2) = Pipeline.transformJob(spark, s"$d/validated",
      "2024-06-01", s"$d/store", now = "t2")
    assert(cat2 === 0L) // category KPIs need items: family skipped
    assert(ord2 === 1L)

    val row = spark.read.parquet(s"$d/store/order_kpi").head()
    // counts refreshed by the orders_only run...
    assert(row.getAs[Long]("total_orders") === 3L)
    assert(row.getAs[String]("last_updated") === "t2")
    // ...revenue fields preserved from the complete run (coalesce-to-old)
    assert(row.getAs[Double]("total_revenue") === 170.0)
    assert(row.getAs[Long]("total_items_sold") === 4L)
    // provenance union accumulates both runs' sources
    assert(row.getSeq[String](row.fieldIndex("data_sources")).sorted ===
      Seq("order_items", "orders"))
    // category store untouched by the orders-only run
    assert(spark.read.parquet(s"$d/store/category_kpi").count() === 2L)
  }

  test("incremental merge leaves untouched store partitions byte-identical") {
    val d = dir()
    val (op, ip, p) = cleanFixtures(d)
    Pipeline.validateJob(spark, op, ip, Some(p),
      s"$d/validated", s"$d/result.json")
    Pipeline.transformJob(spark, s"$d/validated", "2024-06-01",
      s"$d/store", now = "t1")

    // capture every data file of the day-1 partitions (both stores)
    def partFiles(sub: String): Map[String, Array[Byte]] = {
      val part = d.resolve(s"store/$sub/order_date=2024-06-01")
      assert(Files.isDirectory(part), s"expected partition dir $part")
      val out = scala.collection.mutable.Map.empty[String, Array[Byte]]
      val ls = Files.list(part)
      try ls.forEach { f =>
        if (!Files.isDirectory(f)) out += (f.getFileName.toString ->
          Files.readAllBytes(f))
      } finally ls.close()
      out.toMap
    }
    val before = (partFiles("category_kpi"), partFiles("order_kpi"))

    // a second batch for ANOTHER date, validated into the same base: its
    // merge must not touch day-1 partitions
    val o2 = write(d, "orders_day2.csv", BatchFixtures.ordersHeader,
      "4,12,complete,2024-06-02 08:00:00,,,,1")
    val i2 = write(d, "order_items_day2.csv", itemsHeader,
      "105,4,12,7,complete,2024-06-02 08:00:00,,,,25.0")
    val day2 = Pipeline.validateJob(spark, Seq(o2), Seq(i2), Some(p),
      s"$d/validated", s"$d/result2.json")
    assert(day2.processingDate === Some("2024-06-02"))
    Pipeline.transformJob(spark, s"$d/validated", "2024-06-02",
      s"$d/store", now = "t2")

    val after = (partFiles("category_kpi"), partFiles("order_kpi"))
    assert(after._1.keySet === before._1.keySet)
    assert(after._2.keySet === before._2.keySet)
    before._1.foreach { case (name, bytes) =>
      assert(java.util.Arrays.equals(after._1(name), bytes),
        s"category day-1 file $name was rewritten by a day-2 merge")
    }
    before._2.foreach { case (name, bytes) =>
      assert(java.util.Arrays.equals(after._2(name), bytes),
        s"order day-1 file $name was rewritten by a day-2 merge")
    }
    // ...and the day-2 partition exists with merged data
    assert(Files.isDirectory(d.resolve("store/order_kpi/order_date=2024-06-02")))
    assert(spark.read.parquet(s"$d/store/order_kpi").count() === 2L)
  }

  test("compat mode: all-strings CSV end-to-end yields the same taxonomy and dates") {
    // The reference reads headered, schema-less CSV (everything a string).
    // Run the SAME multi-part CSV fixtures through the allStringsCompat
    // arm and assert: identical error taxonomy verbatim, identical
    // processing date, and validated output that is genuinely all-string.
    val d = dir()
    val (op, ip, p) = cleanFixtures(d)

    // clean run: success, same processing date as typed mode
    val ok = Pipeline.validateJob(spark, op, ip, Some(p),
      s"$d/validated_c", s"$d/result_c.json", allStringsCompat = true)
    assert(ok.status === "success")
    assert(ok.processingDate === Some("2024-06-01"))
    val written = spark.read.parquet(s"$d/validated_c/orders")
    assert(written.schema.fields.filterNot(_.name == "dt")
      .forall(_.dataType == org.apache.spark.sql.types.StringType),
      "compat-validated orders must be stringly typed")
    assert(written.count() === 3)

    // null gate: a missing id must fail with the verbatim taxonomy even
    // when the column is a string (try_cast parity, not isnan-on-double)
    val bad = write(d, "order_items_badc.csv", itemsHeader,
      "101,1,10,7,complete,2024-06-01 10:00:00,,,,25.0",
      ",1,10,7,complete,2024-06-01 10:00:00,,,,30.0")
    val nullRes = Pipeline.validateJob(spark, op, Seq(bad), Some(p),
      s"$d/validated_c2", s"$d/result_c2.json", allStringsCompat = true)
    assert(nullRes.status === "failed")
    assert(nullRes.errorType === Some("NULL_VALIDATION_ERROR"))

    // RI gate on STRING keys
    val dangling = write(d, "order_items_dangc.csv", itemsHeader,
      "101,999,10,7,complete,2024-06-01 10:00:00,,,,25.0")
    val riRes = Pipeline.validateJob(spark, op, Seq(dangling), Some(p),
      s"$d/validated_c3", s"$d/result_c3.json", allStringsCompat = true)
    assert(riRes.status === "failed")
    assert(riRes.errorType === Some("REFERENTIAL_ERROR"))

    // Parity quirk, pinned BOTH ways (reference validation.py:89 on an
    // all-string frame): `isnull(c) | isnan(c)` inserts an implicit
    // string->double cast; a malformed numeric like 'not_a_number' casts
    // to NULL, isnan(NULL) is NULL, and `false || NULL` filters the row
    // OUT — the reference does NOT flag it, and neither do we (try_cast
    // reproduces the lenient cast exactly). A literal 'NaN' string DOES
    // cast to NaN and must gate.
    val malformed = write(d, "products_badc.csv", productsHeader,
      "7,SKU7,not_a_number,toys,Car,BrandA,25.0,kids",
      "8,SKU8,30.0,books,Atlas,BrandB,75.0,media")
    val malRes = Pipeline.validateJob(spark, op, ip, Some(malformed),
      s"$d/validated_c4", s"$d/result_c4.json", allStringsCompat = true)
    assert(malRes.status === "success",
      "reference semantics: malformed numerics slip the null gate " +
        s"(false || NULL drops the row) — got $malRes")

    val nanProd = write(d, "products_nanc.csv", productsHeader,
      "7,SKU7,NaN,toys,Car,BrandA,25.0,kids",
      "8,SKU8,30.0,books,Atlas,BrandB,75.0,media")
    val nanRes = Pipeline.validateJob(spark, op, ip, Some(nanProd),
      s"$d/validated_c5", s"$d/result_c5.json", allStringsCompat = true)
    assert(nanRes.status === "failed")
    assert(nanRes.errorType === Some("NULL_VALIDATION_ERROR"),
      s"a literal NaN string must null-gate in compat mode, got $nanRes")
  }

  test("upsertStore rolls back a partition a crash left only in .hist before merging") {
    val d = dir()
    val (op, ip, p) = cleanFixtures(d)
    Pipeline.validateJob(spark, op, ip, Some(p),
      s"$d/validated", s"$d/result.json")
    Pipeline.transformJob(spark, s"$d/validated", "2024-06-01",
      s"$d/store", now = "t1")
    val storePath = s"$d/store/order_kpi"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(storePath), spark.sparkContext.hadoopConfiguration)
    val epoch = Pipeline.latestManifest(fs, storePath).epoch
    // a clean commit leaves no version root at the latest epoch
    assert(!Files.exists(d.resolve(s"store/order_kpi.hist/$epoch")))

    // simulate a crash mid-swap: the order_kpi partition exists ONLY in
    // .hist/<epoch> (the window between swapDir's two renames)
    val part = d.resolve("store/order_kpi/order_date=2024-06-01")
    val histDir = d.resolve(s"store/order_kpi.hist/$epoch")
    Files.createDirectories(histDir)
    Files.move(part, histDir.resolve("order_date=2024-06-01"))

    // orders-only rerun: without recovery the merge target would be empty
    // and the complete-run revenue fields would be silently dropped
    deleteRec(d.resolve("validated/order_items"))
    Pipeline.transformJob(spark, s"$d/validated", "2024-06-01",
      s"$d/store", now = "t2")

    val row = spark.read.parquet(s"$d/store/order_kpi").head()
    assert(row.getAs[Double]("total_revenue") === 170.0,
      "the pre-image must be rolled back and merged as the target")
    assert(row.getAs[String]("last_updated") === "t2")
    // the retried commit moved that pre-image to .hist/<epoch> again, as
    // the time-travel version of the epoch it replaced
    assert(Pipeline.latestManifest(fs, storePath).epoch === epoch + 1)
    assert(Files.exists(histDir.resolve("order_date=2024-06-01")))
    assert(!Files.exists(d.resolve(s"store/order_kpi.hist/${epoch + 1}")))
  }

  test("upsertStore merges a multi-date batch, swapping every touched partition") {
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    import spark.implicits._
    val d = dir()
    val path = s"$d/multistore"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "order_date STRING, total_orders BIGINT, total_revenue DOUBLE, " +
        "total_items_sold BIGINT, return_rate DOUBLE, " +
        "unique_customers BIGINT, data_sources ARRAY<STRING>, " +
        "last_updated STRING")
    def updates(rows: (String, Long, Double)*) =
      rows.toSeq.toDF("order_date", "total_orders", "total_revenue")
        .withColumn("total_items_sold", lit(null).cast("bigint"))
        .withColumn("return_rate", lit(null).cast("double"))
        .withColumn("unique_customers", lit(null).cast("bigint"))
        .withColumn("data_sources", typedLit(Seq("orders")))
        .withColumn("last_updated", lit("t1"))
        .select(schema.fieldNames.map(col): _*)
    val fields = Seq("total_orders", "total_revenue", "total_items_sold",
      "return_rate", "unique_customers", "last_updated")

    // one batch touching THREE dates at once
    val n1 = Pipeline.upsertStore(spark, path, schema,
      updates(("2024-06-01", 1L, 10.0), ("2024-06-02", 2L, 20.0),
        ("2024-06-03", 3L, 30.0)),
      Seq("order_date"), fields)
    assert(n1 === 3L)
    Seq("2024-06-01", "2024-06-02", "2024-06-03").foreach(dt =>
      assert(Files.isDirectory(d.resolve(s"multistore/order_date=$dt"))))

    // a second batch touching two of them: those update, the third keeps
    // its row (and its files — the byte-identity case is covered above)
    val n2 = Pipeline.upsertStore(spark, path, schema,
      updates(("2024-06-02", 5L, 50.0), ("2024-06-03", 6L, 60.0)),
      Seq("order_date"), fields)
    assert(n2 === 3L)
    val byDate = spark.read.schema(schema).parquet(path).collect()
      .map(r => r.getAs[String]("order_date") ->
        r.getAs[Long]("total_orders")).toMap
    assert(byDate === Map("2024-06-01" -> 1L, "2024-06-02" -> 5L,
      "2024-06-03" -> 6L))
  }

  test("reader concurrent with a crashed multi-date swap sees the committed snapshot") {
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    import spark.implicits._
    val d = dir()
    val path = s"$d/isostore"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "order_date STRING, total_orders BIGINT, total_revenue DOUBLE, " +
        "data_sources ARRAY<STRING>, last_updated STRING")
    def updates(stamp: String, rows: (String, Long, Double)*) =
      rows.toSeq.toDF("order_date", "total_orders", "total_revenue")
        .withColumn("data_sources", typedLit(Seq("orders")))
        .withColumn("last_updated", lit(stamp))
        .select(schema.fieldNames.map(col): _*)
    val fields = Seq("total_orders", "total_revenue", "last_updated")

    // batch 1 commits two dates
    Pipeline.upsertStore(spark, path, schema,
      updates("t1", ("2024-06-01", 1L, 10.0), ("2024-06-02", 2L, 20.0)),
      Seq("order_date"), fields)

    // hand-craft batch 2 crashed MID-SWAP, exactly as upsertStore would
    // leave it: .hist/<epoch> created, date 01 already swapped (new data
    // in store, old copy in .hist/<epoch>), date 03 (a NEW date) swapped
    // in with no old copy, date 02 not yet swapped, NO new manifest
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val epoch1 = Pipeline.latestManifest(fs, path).epoch
    val hist1 = d.resolve(s"isostore.hist/$epoch1")
    Files.createDirectories(hist1)
    val p01 = d.resolve("isostore/order_date=2024-06-01")
    Files.move(p01, hist1.resolve("order_date=2024-06-01"))
    updates("t2-crashed", ("2024-06-01", 9L, 90.0))
      .drop("order_date").write.parquet(p01.toString)
    updates("t2-crashed", ("2024-06-03", 7L, 70.0))
      .drop("order_date").write
      .parquet(d.resolve("isostore/order_date=2024-06-03").toString)

    // a reader resolving the store NOW must see batch 1 in full: date 01
    // from the .hist copy, date 02 from the store, date 03 invisible
    val seen = Pipeline.readOrInit(spark, path, schema).collect()
      .map(r => r.getAs[String]("order_date") ->
        (r.getAs[Long]("total_orders"), r.getAs[String]("last_updated")))
      .toMap
    assert(seen === Map("2024-06-01" -> (1L, "t1"),
      "2024-06-02" -> (2L, "t1")),
      "mid-swap reader must see the committed batch, not a torn mix")

    // retrying the batch rolls back the half-swap, re-merges, and commits
    Pipeline.upsertStore(spark, path, schema,
      updates("t2", ("2024-06-01", 9L, 90.0), ("2024-06-03", 7L, 70.0)),
      Seq("order_date"), fields)
    val after = Pipeline.readOrInit(spark, path, schema).collect()
      .map(r => r.getAs[String]("order_date") ->
        (r.getAs[Long]("total_orders"), r.getAs[String]("last_updated")))
      .toMap
    assert(after === Map("2024-06-01" -> (9L, "t2"),
      "2024-06-02" -> (2L, "t1"), "2024-06-03" -> (7L, "t2")))
    // each commit leaves exactly what it replaced in .hist/<its base
    // epoch>, and those versions stay put through later batches (a reader
    // may still be scanning them): readers of the latest epoch ignore them
    Pipeline.upsertStore(spark, path, schema,
      updates("t3", ("2024-06-02", 3L, 30.0)), Seq("order_date"), fields)
    def names(p: Path): Set[String] = {
      val ls = Files.list(p)
      try ls.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSet
      finally ls.close()
    }
    assert(names(hist1) === Set("order_date=2024-06-01"),
      "the rollback left only the retried batch's own pre-image")
    assert(names(d.resolve(s"isostore.hist/${epoch1 + 1}")) ===
      Set("order_date=2024-06-02"))
    assert(!Files.exists(d.resolve(s"isostore.hist/${epoch1 + 2}")))
    assert(Pipeline.readAt(spark, path, epoch1, schema).collect()
      .map(r => r.getAs[String]("order_date") -> r.getAs[Long]("total_orders"))
      .toMap === Map("2024-06-01" -> 1L, "2024-06-02" -> 2L))
  }

  test("retention sweep expires old partitions commit-first (crash-safe order)") {
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    import spark.implicits._
    val d = dir()
    val path = s"$d/retstore"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "order_date STRING, total_orders BIGINT, " +
        "data_sources ARRAY<STRING>, last_updated STRING")
    def updates(rows: (String, Long)*) =
      rows.toSeq.toDF("order_date", "total_orders")
        .withColumn("data_sources", typedLit(Seq("orders")))
        .withColumn("last_updated", lit("t1"))
        .select(schema.fieldNames.map(col): _*)
    Pipeline.upsertStore(spark, path, schema,
      updates(("2024-06-01", 1L), ("2024-06-02", 2L), ("2024-06-03", 3L)),
      Seq("order_date"), Seq("total_orders", "last_updated"))

    val expired = Pipeline.retentionSweep(spark, path, "2024-06-02")
    assert(expired === Seq("2024-06-01"))
    def seen() = Pipeline.readOrInit(spark, path, schema).collect()
      .map(_.getAs[String]("order_date")).sorted.toSeq
    assert(seen() === Seq("2024-06-02", "2024-06-03"))
    // deferred deletion: the just-expired dir OUTLIVES the sweep that
    // expired it (a reader pinned to the previous epoch may still be
    // scanning it) — invisible immediately, deleted by the NEXT sweep
    assert(Files.exists(d.resolve("retstore/order_date=2024-06-01")),
      "expired data must not be deleted in the same sweep that commits")

    // an orphan dir from a hypothetical crash window is also invisible
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    updates(("2024-05-30", 9L)).drop("order_date").write
      .parquet(d.resolve("retstore/order_date=2024-05-30").toString)
    assert(seen() === Seq("2024-06-02", "2024-06-03"),
      "unlisted dirs must stay invisible to manifest readers")

    // the next sweep expires nothing new but GCs everything the previous
    // manifest already didn't list: the deferred 06-01 and the orphan
    assert(Pipeline.retentionSweep(spark, path, "2024-06-02") === Nil)
    assert(!Files.exists(d.resolve("retstore/order_date=2024-06-01")))
    assert(!Files.exists(d.resolve("retstore/order_date=2024-05-30")),
      "the sweep doubles as the store's orphan-dir garbage collector")
    assert(Pipeline.latestManifest(fs, path).partitions ===
      Seq("2024-06-02", "2024-06-03"))
  }

  test("in-flight rollback sweeps a crashed batch's uncommitted new-date dirs") {
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    import spark.implicits._
    val d = dir()
    val path = s"$d/gcstore"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "order_date STRING, total_orders BIGINT, " +
        "data_sources ARRAY<STRING>, last_updated STRING")
    def updates(stamp: String, rows: (String, Long)*) =
      rows.toSeq.toDF("order_date", "total_orders")
        .withColumn("data_sources", typedLit(Seq("orders")))
        .withColumn("last_updated", lit(stamp))
        .select(schema.fieldNames.map(col): _*)
    val fields = Seq("total_orders", "last_updated")
    Pipeline.upsertStore(spark, path, schema,
      updates("t1", ("2024-06-01", 1L)), Seq("order_date"), fields)

    // crash mid-swap: .hist/<live epoch> created, a brand-NEW date dir
    // swapped in with no old copy, no new manifest
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(
      s"$path.hist/${Pipeline.latestManifest(fs, path).epoch}"))
    updates("t2-crashed", ("2024-06-09", 9L)).drop("order_date").write
      .parquet(d.resolve("gcstore/order_date=2024-06-09").toString)
    assert(Files.exists(d.resolve("gcstore/order_date=2024-06-09")))

    // the next batch does NOT touch the crashed date: rollback must still
    // delete the uncommitted dir (previously permanent garbage)
    Pipeline.upsertStore(spark, path, schema,
      updates("t2", ("2024-06-01", 2L)), Seq("order_date"), fields)
    assert(!Files.exists(d.resolve("gcstore/order_date=2024-06-09")),
      "uncommitted new-date dir must be deleted by in-flight rollback")
    val seen = Pipeline.readOrInit(spark, path, schema).collect()
      .map(r => r.getAs[String]("order_date")).toSeq
    assert(seen === Seq("2024-06-01"))
  }

  test("a committed batch's pre-image in .hist is ignored by readers of the new epoch") {
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    import spark.implicits._
    val d = dir()
    val path = s"$d/stalestore"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "order_date STRING, total_orders BIGINT, " +
        "data_sources ARRAY<STRING>, last_updated STRING")
    def updates(stamp: String, n: Long) =
      Seq(("2024-06-01", n)).toDF("order_date", "total_orders")
        .withColumn("data_sources", typedLit(Seq("orders")))
        .withColumn("last_updated", lit(stamp))
        .select(schema.fieldNames.map(col): _*)
    val fields = Seq("total_orders", "last_updated")
    Pipeline.upsertStore(spark, path, schema, updates("t1", 1L),
      Seq("order_date"), fields)
    Pipeline.upsertStore(spark, path, schema, updates("t2", 2L),
      Seq("order_date"), fields)

    // batch 2's commit moved the OLD ("t1") partition to .hist/1 (the
    // epoch its swap ran against), the time-travel version of epoch 1
    assert(Files.exists(d.resolve("stalestore.hist/1/order_date=2024-06-01")),
      "the committed batch's pre-image must stay in .hist/1")
    assert(!Files.exists(d.resolve("stalestore.hist/2")),
      "a clean commit leaves no version root at the new epoch")

    val seen = Pipeline.readOrInit(spark, path, schema).collect()
      .map(r => r.getAs[String]("last_updated")).toSeq
    assert(seen === Seq("t2"),
      "a pre-image must not shadow committed data")
    assert(Pipeline.readAt(spark, path, 1L, schema).collect()
      .map(r => r.getAs[String]("last_updated")).toSeq === Seq("t1"))
  }

  test("store schema evolution: new column reads as null from old partitions") {
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    import spark.implicits._
    val d = dir()
    val path = s"$d/evostore"
    val v1 = org.apache.spark.sql.types.StructType.fromDDL(
      "order_date STRING, total_revenue DOUBLE, " +
        "data_sources ARRAY<STRING>, last_updated STRING")
    val day1 = Seq(("2024-06-01", 10.0)).toDF("order_date", "total_revenue")
      .withColumn("data_sources", typedLit(Seq("orders")))
      .withColumn("last_updated", lit("t1"))
    Pipeline.upsertStore(spark, path, v1, day1.select(v1.fieldNames.map(col): _*),
      Seq("order_date"), Seq("total_revenue", "last_updated"))

    // schema gains a column; a later batch writes it for a NEW date
    val v2 = org.apache.spark.sql.types.StructType.fromDDL(
      "order_date STRING, total_revenue DOUBLE, refund_total DOUBLE, " +
        "data_sources ARRAY<STRING>, last_updated STRING")
    val day2 = Seq(("2024-06-02", 20.0, 2.5))
      .toDF("order_date", "total_revenue", "refund_total")
      .withColumn("data_sources", typedLit(Seq("orders")))
      .withColumn("last_updated", lit("t2"))
    Pipeline.upsertStore(spark, path, v2, day2.select(v2.fieldNames.map(col): _*),
      Seq("order_date"), Seq("total_revenue", "refund_total", "last_updated"))

    val rows = spark.read.schema(v2).parquet(path).collect()
      .map(r => r.getAs[String]("order_date") ->
        Option(r.getAs[java.lang.Double]("refund_total"))).toMap
    // old partition files lack the column → declared-schema read fills null
    assert(rows === Map("2024-06-01" -> None, "2024-06-02" -> Some(2.5)))
  }

  test("transform is idempotent: re-running the same batch changes nothing") {
    val d = dir()
    val (op, ip, p) = cleanFixtures(d)
    Pipeline.validateJob(spark, op, ip, Some(p),
      s"$d/validated", s"$d/result.json")
    Pipeline.transformJob(spark, s"$d/validated", "2024-06-01",
      s"$d/store", now = "t1")
    val before = spark.read.parquet(s"$d/store/order_kpi").collect().toSeq
    Pipeline.transformJob(spark, s"$d/validated", "2024-06-01",
      s"$d/store", now = "t1")
    val after = spark.read.parquet(s"$d/store/order_kpi").collect().toSeq
    assert(before.map(_.toString).sorted === after.map(_.toString).sorted)
  }

  test("upsertStore detects a concurrent commit and aborts clean (E60)") {
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    import spark.implicits._
    val d = dir()
    val path = s"$d/occstore"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "order_date STRING, total_orders BIGINT, total_revenue DOUBLE, " +
        "total_items_sold BIGINT, return_rate DOUBLE, " +
        "unique_customers BIGINT, data_sources ARRAY<STRING>, " +
        "last_updated STRING")
    def updates(tag: String, rows: (String, Long, Double)*) =
      rows.toSeq.toDF("order_date", "total_orders", "total_revenue")
        .withColumn("total_items_sold", lit(null).cast("bigint"))
        .withColumn("return_rate", lit(null).cast("double"))
        .withColumn("unique_customers", lit(null).cast("bigint"))
        .withColumn("data_sources", typedLit(Seq("orders")))
        .withColumn("last_updated", lit(tag))
        .select(schema.fieldNames.map(col): _*)
    val fields = Seq("total_orders", "total_revenue", "total_items_sold",
      "return_rate", "unique_customers", "last_updated")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

    // writer A reads the store at epoch 1...
    Pipeline.upsertStore(spark, path, schema,
      updates("base", ("2024-06-01", 1L, 10.0)), Seq("order_date"), fields)
    val epochA = Pipeline.latestManifest(fs, path).epoch
    // ...writer B commits first (epoch 2)...
    Pipeline.upsertStore(spark, path, schema,
      updates("b", ("2024-06-01", 5L, 50.0)), Seq("order_date"), fields)
    // ...and A's CAS commit against its stale snapshot must fail loud
    val e = intercept[graft.pipeline.StoreConflictException] {
      Pipeline.upsertStore(spark, path, schema,
        updates("a", ("2024-06-01", 9L, 90.0)), Seq("order_date"), fields,
        expectedEpoch = Some(epochA))
    }
    assert(e.getMessage.contains("concurrent writer"))
    // clean abort: B's commit intact, no temp residue, epoch unmoved
    val row = spark.read.schema(schema).parquet(path).collect()
    assert(row.map(r => r.getAs[Long]("total_orders")).toSeq === Seq(5L))
    assert(row.head.getAs[String]("last_updated") === "b")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + ".tmp")))
    assert(Pipeline.latestManifest(fs, path).epoch === epochA + 1)
    // A's RETRY (fresh snapshot, no CAS pin) merges against B's data
    Pipeline.upsertStore(spark, path, schema,
      updates("a", ("2024-06-01", 9L, 90.0)), Seq("order_date"), fields)
    val after = spark.read.schema(schema).parquet(path).collect()
    assert(after.map(r => r.getAs[Long]("total_orders")).toSeq === Seq(9L))
    assert(Pipeline.latestManifest(fs, path).epoch === epochA + 2)
  }

  test("commit lease serializes interleaved upserts: loser aborts clean, retry lands (E60 lease)") {
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    import spark.implicits._
    val d = dir()
    val path = s"$d/leasestore"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "order_date STRING, total_orders BIGINT, total_revenue DOUBLE, " +
        "data_sources ARRAY<STRING>, last_updated STRING")
    def updates(tag: String, n: Long) =
      Seq(("2024-06-01", n, n * 10.0)).toDF(
        "order_date", "total_orders", "total_revenue")
        .withColumn("data_sources", typedLit(Seq("orders")))
        .withColumn("last_updated", lit(tag))
        .select(schema.fieldNames.map(col): _*)
    val fields = Seq("total_orders", "total_revenue", "last_updated")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val leaseFile = new org.apache.hadoop.fs.Path(path, "_lease")

    Pipeline.upsertStore(spark, path, schema, updates("base", 1L),
      Seq("order_date"), fields)
    // the new release contract (round-9 review): after a successful
    // PUBLISH the lease is epoch-stale and deliberately left in place —
    // deleting it post-publish could race a successor's legitimate break
    // and remove the successor's fresh lease. The epoch-stale leftover
    // must cost the next writer nothing: the acquire below (writer A)
    // breaks it for free via the rename-claim.
    val epoch0 = Pipeline.latestManifest(fs, path).epoch

    // writer A is mid-commit-section (holds the lease, hasn't published)
    val held = Pipeline.acquireStoreLease(fs, path, epoch0)
    // writer B's full upsert turns away CLEAN: typed abort, no temp
    // residue, store bytes and epoch untouched, A's lease intact
    val e = intercept[graft.pipeline.StoreLeaseHeldException] {
      Pipeline.upsertStore(spark, path, schema, updates("b", 7L),
        Seq("order_date"), fields)
    }
    assert(e.getMessage.contains("lease held"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + ".tmp")))
    assert(Pipeline.latestManifest(fs, path).epoch === epoch0)
    assert(spark.read.schema(schema).parquet(path)
      .head().getAs[String]("last_updated") === "base")
    Pipeline.verifyStoreLease(fs, path, held) // still A's

    // A commits nothing and releases; B's retry now lands, one epoch on
    Pipeline.releaseStoreLease(fs, path, held)
    Pipeline.upsertStore(spark, path, schema, updates("b", 7L),
      Seq("order_date"), fields)
    assert(Pipeline.latestManifest(fs, path).epoch === epoch0 + 1)
    assert(spark.read.schema(schema).parquet(path)
      .head().getAs[Long]("total_orders") === 7L)
    // B's post-publish lease may remain epoch-stale (release contract);
    // it must not block the next writer — the break is free
    val next = Pipeline.acquireStoreLease(fs, path, epoch0 + 1)
    Pipeline.releaseStoreLease(fs, path, next)
    deleteRec(d)
  }

  test("staging is per-writer and orphan staging GC respects the TTL") {
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    import spark.implicits._
    val d = dir()
    val path = s"$d/stagestore"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "order_date STRING, total_orders BIGINT, total_revenue DOUBLE, " +
        "data_sources ARRAY<STRING>, last_updated STRING")
    def updates(tag: String, n: Long) =
      Seq(("2024-06-01", n, n * 10.0)).toDF(
        "order_date", "total_orders", "total_revenue")
        .withColumn("data_sources", typedLit(Seq("orders")))
        .withColumn("last_updated", lit(tag))
        .select(schema.fieldNames.map(col): _*)
    val fields = Seq("total_orders", "total_revenue", "last_updated")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    // a FOREIGN writer's staged data (round-9 review: the shared `.tmp`
    // let a second writer clobber the live holder's staging): fresh
    // staging must SURVIVE another writer's whole upsert...
    val foreign = new org.apache.hadoop.fs.Path(path + ".tmp.aaaa1111")
    fs.mkdirs(foreign)
    val marker = new org.apache.hadoop.fs.Path(foreign, "part-staged")
    fs.create(marker, true).close()
    Pipeline.upsertStore(spark, path, schema, updates("base", 1L),
      Seq("order_date"), fields)
    assert(fs.exists(marker), "a fresh foreign staging dir was clobbered")
    // ...and be GC'd only once it is older than the TTL (a crashed
    // writer's orphan), under the next commit's lease
    fs.setTimes(foreign, System.currentTimeMillis() - 3600000L, -1L)
    Pipeline.upsertStore(spark, path, schema, updates("b", 2L),
      Seq("order_date"), fields, leaseTtlMs = 60000L)
    assert(!fs.exists(foreign), "an expired orphan staging dir survived GC")
    // the winning writers left no staging of their own behind
    val leftovers = fs.listStatus(new org.apache.hadoop.fs.Path(d.toString))
      .map(_.getPath.getName).filter(_.startsWith("stagestore.tmp"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
    deleteRec(d)
  }

  test("recovery sweep runs under the lease: a live holder's in-flight swap is not rolled back") {
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    import spark.implicits._
    val d = dir()
    val path = s"$d/recoverstore"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "order_date STRING, total_orders BIGINT, total_revenue DOUBLE, " +
        "data_sources ARRAY<STRING>, last_updated STRING")
    def updates(tag: String, n: Long) =
      Seq(("2024-06-01", n, n * 10.0)).toDF(
        "order_date", "total_orders", "total_revenue")
        .withColumn("data_sources", typedLit(Seq("orders")))
        .withColumn("last_updated", lit(tag))
        .select(schema.fieldNames.map(col): _*)
    val fields = Seq("total_orders", "total_revenue", "last_updated")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    Pipeline.upsertStore(spark, path, schema, updates("base", 1L),
      Seq("order_date"), fields)
    val epoch0 = Pipeline.latestManifest(fs, path).epoch
    // writer A holds the lease mid-swap: .hist/<CURRENT epoch> holding a
    // pre-image — exactly the state a crashed commit leaves, which an
    // unguarded sweep would roll back
    val held = Pipeline.acquireStoreLease(fs, path, epoch0)
    val histDir = new org.apache.hadoop.fs.Path(
      s"$path.hist/$epoch0/order_date=2024-06-01")
    fs.mkdirs(histDir)
    val histMarker = new org.apache.hadoop.fs.Path(histDir, "part-old")
    fs.create(histMarker, true).close()
    // writer B: turned away by the RECOVERY lease before any mutation —
    // A's in-flight swap state must be byte-untouched
    intercept[graft.pipeline.StoreLeaseHeldException] {
      Pipeline.upsertStore(spark, path, schema, updates("b", 7L),
        Seq("order_date"), fields)
    }
    assert(fs.exists(histMarker), "a live holder's pre-image was rolled back")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$path/order_date=2024-06-01")), "a live holder's partition was touched")
    Pipeline.verifyStoreLease(fs, path, held) // A still owns the lease
    Pipeline.releaseStoreLease(fs, path, held)
    deleteRec(d)
  }

  test("compactStore serializes with writers and preserves the store exactly") {
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    import spark.implicits._
    val d = dir()
    val path = s"$d/compactstore"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "order_date STRING, total_orders BIGINT, total_revenue DOUBLE, " +
        "data_sources ARRAY<STRING>, last_updated STRING")
    def updates(dt: String, n: Long) =
      Seq((dt, n, n * 10.0)).toDF(
        "order_date", "total_orders", "total_revenue")
        .withColumn("data_sources", typedLit(Seq("orders")))
        .withColumn("last_updated", lit("t"))
        .select(schema.fieldNames.map(col): _*)
    val fields = Seq("total_orders", "total_revenue", "last_updated")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    // several tiny batches fragment the partitions
    Pipeline.upsertStore(spark, path, schema, updates("2024-06-01", 1L),
      Seq("order_date"), fields)
    Pipeline.upsertStore(spark, path, schema, updates("2024-06-02", 2L),
      Seq("order_date"), fields)
    val beforeRows = spark.read.schema(schema).parquet(path)
      .orderBy(col("order_date")).collect().map(_.toString).toSeq
    val epoch = Pipeline.latestManifest(fs, path).epoch
    // a live writer blocks compaction cleanly
    val held = Pipeline.acquireStoreLease(fs, path, epoch)
    intercept[graft.pipeline.StoreLeaseHeldException] {
      Pipeline.compactStore(spark, path)
    }
    Pipeline.releaseStoreLease(fs, path, held)
    // unleased: compacts, preserves bytes-for-rows and the manifest
    val res = Pipeline.compactStore(spark, path)
    assert(res.nonEmpty)
    assert(Pipeline.latestManifest(fs, path).epoch === epoch)
    val afterRows = spark.read.schema(schema).parquet(path)
      .orderBy(col("order_date")).collect().map(_.toString).toSeq
    assert(afterRows === beforeRows)
    deleteRec(d)
  }

  test("stale lease takeover: TTL-expired holder is fenced by a bumped token, epoch-stale breaks free") {
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    import spark.implicits._
    val d = dir()
    val path = s"$d/fencestore"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "order_date STRING, total_orders BIGINT, total_revenue DOUBLE, " +
        "data_sources ARRAY<STRING>, last_updated STRING")
    def updates(tag: String, n: Long) =
      Seq(("2024-06-01", n, n * 10.0)).toDF(
        "order_date", "total_orders", "total_revenue")
        .withColumn("data_sources", typedLit(Seq("orders")))
        .withColumn("last_updated", lit(tag))
        .select(schema.fieldNames.map(col): _*)
    val fields = Seq("total_orders", "total_revenue", "last_updated")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val leaseFile = new org.apache.hadoop.fs.Path(path, "_lease")
    Pipeline.upsertStore(spark, path, schema, updates("base", 1L),
      Seq("order_date"), fields)
    val epoch0 = Pipeline.latestManifest(fs, path).epoch

    // crashed holder: lease at the CURRENT epoch, never released. A live
    // TTL says honor it...
    val dead = Pipeline.acquireStoreLease(fs, path, epoch0)
    intercept[graft.pipeline.StoreLeaseHeldException] {
      Pipeline.acquireStoreLease(fs, path, epoch0)
    }
    // ...but once the file ages past the TTL the next writer takes over
    // with a BUMPED fencing token, and the dead holder's pre-publish
    // verify fails — it can never publish over the successor
    fs.setTimes(leaseFile, System.currentTimeMillis() - 3600000L, -1L)
    val takeover = Pipeline.acquireStoreLease(fs, path, epoch0, ttlMs = 50L)
    assert(takeover.token === dead.token + 1)
    assert(takeover.owner !== dead.owner)
    intercept[graft.pipeline.StoreConflictException] {
      Pipeline.verifyStoreLease(fs, path, dead)
    }
    Pipeline.verifyStoreLease(fs, path, takeover)
    // release is owner-checked: the fenced-out holder cannot yank the
    // successor's lease
    Pipeline.releaseStoreLease(fs, path, dead)
    assert(fs.exists(leaseFile))
    Pipeline.releaseStoreLease(fs, path, takeover)
    assert(!fs.exists(leaseFile))

    // epoch fencing needs NO TTL wait: a lease whose recorded epoch is
    // already behind the manifest belongs to a commit that finished
    // (crash between publish and release) — broken immediately
    val finished = Pipeline.acquireStoreLease(fs, path, epoch0 - 1)
    val fresh = Pipeline.acquireStoreLease(fs, path, epoch0) // no ttl arg
    assert(fresh.token === finished.token + 1)
    Pipeline.releaseStoreLease(fs, path, fresh)

    // end-to-end: an upsert through a TTL-expired foreign lease succeeds
    // (takeover inside upsertStore) and leaves a clean store
    val zombie = Pipeline.acquireStoreLease(fs, path, epoch0)
    fs.setTimes(leaseFile, System.currentTimeMillis() - 3600000L, -1L)
    Pipeline.upsertStore(spark, path, schema, updates("t", 9L),
      Seq("order_date"), fields, leaseTtlMs = 50L)
    assert(Pipeline.latestManifest(fs, path).epoch === epoch0 + 1)
    assert(spark.read.schema(schema).parquet(path)
      .head().getAs[Long]("total_orders") === 9L)
    // post-publish the successful writer's (now epoch-stale) lease may
    // remain — the release contract leaves it for the next break, which
    // must succeed without waiting (epoch-stale ⇒ rename-claimed free)
    val reacq = Pipeline.acquireStoreLease(fs, path, epoch0 + 1)
    Pipeline.releaseStoreLease(fs, path, reacq)
    // the zombie, resuming after the takeover's commit, is fenced out
    intercept[graft.pipeline.StoreConflictException] {
      Pipeline.verifyStoreLease(fs, path, zombie)
    }
    deleteRec(d)
  }

  test("readAt time-travels to any retained epoch, exactly") {
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    import spark.implicits._
    val d = dir()
    val path = s"$d/ttstore"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "order_date STRING, total_orders BIGINT, " +
        "data_sources ARRAY<STRING>, last_updated STRING")
    val fields = Seq("total_orders", "last_updated")
    def updates(now: String, rows: (String, Long)*) =
      rows.toSeq.toDF("order_date", "total_orders")
        .withColumn("data_sources", typedLit(Seq("orders")))
        .withColumn("last_updated", lit(now))
        .select(schema.fieldNames.map(col): _*)
    def snapshot(epoch: Long): Map[String, (Long, String)] =
      Pipeline.readAt(spark, path, epoch, schema).collect()
        .map(r => r.getAs[String]("order_date") ->
          (r.getAs[Long]("total_orders"), r.getAs[String]("last_updated")))
        .toMap

    // epoch 1: dates 01 + 02; epoch 2 REWRITES 01 and adds 03 (01's
    // epoch-1 content survives only as the pre-image in .hist/1);
    // epoch 3 rewrites 02
    Pipeline.upsertStore(spark, path, schema,
      updates("t1", ("2024-06-01", 1L), ("2024-06-02", 2L)),
      Seq("order_date"), fields)
    Pipeline.upsertStore(spark, path, schema,
      updates("t2", ("2024-06-01", 9L), ("2024-06-03", 3L)),
      Seq("order_date"), fields)
    Pipeline.upsertStore(spark, path, schema,
      updates("t3", ("2024-06-02", 5L)), Seq("order_date"), fields)

    assert(snapshot(1L) === Map(
      "2024-06-01" -> (1L, "t1"), "2024-06-02" -> (2L, "t1")),
      "epoch 1 must read batch-1 contents exactly, including the " +
        "since-rewritten date 01")
    assert(snapshot(2L) === Map(
      "2024-06-01" -> (9L, "t2"), "2024-06-02" -> (2L, "t1"),
      "2024-06-03" -> (3L, "t2")))
    assert(snapshot(3L) === Map(
      "2024-06-01" -> (9L, "t2"), "2024-06-02" -> (5L, "t3"),
      "2024-06-03" -> (3L, "t2")))
    // never-committed epoch: fail loud, not an empty frame
    val eMissing = intercept[IllegalStateException] {
      Pipeline.readAt(spark, path, 7L, schema)
    }
    assert(eMissing.getMessage.contains("no manifest for epoch 7"))

    // current snapshot and time travel to the current epoch agree
    assert(snapshot(3L) ===
      Pipeline.readOrInit(spark, path, schema).collect()
        .map(r => r.getAs[String]("order_date") ->
          (r.getAs[Long]("total_orders"), r.getAs[String]("last_updated")))
        .toMap)
  }

  test("readAt fails loud on epochs destroyed by manifest or data retention") {
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    import spark.implicits._
    val d = dir()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "order_date STRING, total_orders BIGINT, " +
        "data_sources ARRAY<STRING>, last_updated STRING")
    val fields = Seq("total_orders", "last_updated")
    def updates(now: String, rows: (String, Long)*) =
      rows.toSeq.toDF("order_date", "total_orders")
        .withColumn("data_sources", typedLit(Seq("orders")))
        .withColumn("last_updated", lit(now))
        .select(schema.fieldNames.map(col): _*)

    // manifest-window pruning: one commit past the window, epoch 1's
    // manifest (and its .hist backing) are gone
    val winPath = s"$d/ttwin"
    (1L to Pipeline.ManifestsToKeep + 1).foreach(k =>
      Pipeline.upsertStore(spark, winPath, schema,
        updates(s"t$k", ("2024-06-01", k)), Seq("order_date"), fields))
    val e1 = intercept[IllegalStateException] {
      Pipeline.readAt(spark, winPath, 1L, schema)
    }
    assert(e1.getMessage.contains("no manifest for epoch 1"))
    assert(e1.getMessage.contains("time-travel window"))
    // epoch 2 is the oldest kept and still exact (01@2 is the pre-image
    // batch 3 moved to .hist/2)
    assert(Pipeline.readAt(spark, winPath, 2L, schema).collect()
      .map(_.getAs[Long]("total_orders")).toSeq === Seq(2L))

    // data retention: a partition expired by the sweep and GC'd by the
    // next one makes epochs that listed it unreconstructable — loud
    val retPath = s"$d/ttret"
    Pipeline.upsertStore(spark, retPath, schema,
      updates("t1", ("2024-06-01", 1L), ("2024-06-02", 2L)),
      Seq("order_date"), fields)
    Pipeline.upsertStore(spark, retPath, schema,
      updates("t2", ("2024-06-03", 3L)), Seq("order_date"), fields)
    assert(Pipeline.retentionSweep(spark, retPath, "2024-06-02")
      === Seq("2024-06-01"))
    Pipeline.retentionSweep(spark, retPath, "2024-06-02") // GC pass
    val e2 = intercept[IllegalStateException] {
      Pipeline.readAt(spark, retPath, 1L, schema)
    }
    assert(e2.getMessage.contains("no longer reconstructable"))
    assert(e2.getMessage.contains("2024-06-01"))
    // epochs whose partitions all survive retention still read exactly
    assert(Pipeline.readAt(spark, retPath, 3L, schema).collect()
      .map(_.getAs[String]("order_date")).sorted.toSeq
      === Seq("2024-06-02", "2024-06-03"))
  }

  test("forgetKeys hard-deletes a key from snapshot AND history (E100)") {
    import org.apache.spark.sql.functions.{col, typedLit}
    import spark.implicits._
    val d = dir()
    val path = s"$d/fkstore"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "category STRING, order_date STRING, total_orders BIGINT, " +
        "data_sources ARRAY<STRING>")
    def updates(rows: (String, String, Long)*) =
      rows.toSeq.toDF("category", "order_date", "total_orders")
        .withColumn("data_sources", typedLit(Seq("orders")))
        .select(schema.fieldNames.map(col): _*)
    def upsert(rows: (String, String, Long)*) =
      Pipeline.upsertStore(spark, path, schema, updates(rows: _*),
        Seq("category", "order_date"), Seq("total_orders"))
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("category"), r.getAs[String]("order_date"))
        -> r.getAs[Long]("total_orders")).toMap

    upsert(("A", "2024-06-01", 1L), ("B", "2024-06-01", 2L),
      ("A", "2024-06-02", 3L), ("B", "2024-06-02", 4L)) // epoch 1
    upsert(("A", "2024-06-02", 30L))                    // epoch 2
    upsert(("B", "2024-06-01", 20L))                    // epoch 3

    val (epoch, deleted) = Pipeline.forgetKeys(spark, path, schema,
      Seq("A").toDF("category"), Seq("category"))
    assert(epoch === 4L && deleted === 2L)
    // current snapshot: A gone, B rows untouched
    assert(rowsOf(Pipeline.readOrInit(spark, path, schema)) ===
      Map(("B", "2024-06-01") -> 20L, ("B", "2024-06-02") -> 4L))
    // history: time travel still works but never returns the forgotten
    // key — at epoch 1 B carries its ORIGINAL values
    assert(rowsOf(Pipeline.readAt(spark, path, 1L, schema)) ===
      Map(("B", "2024-06-01") -> 2L, ("B", "2024-06-02") -> 4L))
    assert(rowsOf(Pipeline.readAt(spark, path, 3L, schema)) ===
      Map(("B", "2024-06-01") -> 20L, ("B", "2024-06-02") -> 4L))
    // idempotent rerun: nothing left to delete, epoch unchanged
    val (epoch2, deleted2) = Pipeline.forgetKeys(spark, path, schema,
      Seq("A").toDF("category"), Seq("category"))
    assert(epoch2 === 4L && deleted2 === 0L)
    // the partition column is not a legal forget key
    intercept[IllegalArgumentException] {
      Pipeline.forgetKeys(spark, path, schema,
        Seq("2024-06-01").toDF("order_date"), Seq("order_date"))
    }
  }

  test("forgetKeys crash contract: tombstone completes erasure, hist swap recovers") {
    import org.apache.spark.sql.functions.{col, typedLit}
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    import spark.implicits._
    val d = dir()
    val path = s"$d/fkcrash"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "category STRING, order_date STRING, total_orders BIGINT, " +
        "data_sources ARRAY<STRING>")
    def updates(rows: (String, String, Long)*) =
      rows.toSeq.toDF("category", "order_date", "total_orders")
        .withColumn("data_sources", typedLit(Seq("orders")))
        .select(schema.fieldNames.map(col): _*)
    def upsert(rows: (String, String, Long)*) =
      Pipeline.upsertStore(spark, path, schema, updates(rows: _*),
        Seq("category", "order_date"), Seq("total_orders"))
    def cats(df: org.apache.spark.sql.DataFrame) =
      df.select("category").distinct().as[String].collect().toSet
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)

    upsert(("A", "2024-06-01", 1L), ("B", "2024-06-01", 2L)) // epoch 1
    upsert(("A", "2024-06-01", 10L))                          // epoch 2
    upsert(("B", "2024-06-01", 20L))                          // epoch 3
    // after batch 3: .hist/1 and .hist/2 hold the epoch-1 and epoch-2
    // copies (both with A)
    assert(fs.exists(new HPath(s"$path.hist/1/order_date=2024-06-01")))
    assert(fs.exists(new HPath(s"$path.hist/2/order_date=2024-06-01")))

    // --- simulate a forget of A that crashed BEFORE any commit: only the
    // durable tombstone exists. A routine upsert must complete the erasure
    // (snapshot + every version in .hist).
    val pendTmp = new HPath(s"$path.forget.pending.inprogress")
    Seq("A").toDF("category").coalesce(1)
      .write.mode("overwrite").parquet(pendTmp.toString)
    assert(fs.rename(pendTmp, new HPath(s"$path.forget.pending")))

    upsert(("C", "2024-06-02", 5L)) // routine batch triggers recovery
    assert(!fs.exists(new HPath(s"$path.forget.pending")), "tombstone retired")
    assert(cats(Pipeline.readOrInit(spark, path, schema)) === Set("B", "C"))
    // every version is A-free (the purge rewrote .hist/1 and .hist/2, and
    // the routine batch's own pre-image was taken after the erasure)
    val dataSchema = org.apache.spark.sql.types.StructType(
      schema.filterNot(_.name == "order_date"))
    for (ep <- fs.listStatus(new HPath(s"$path.hist")).toSeq;
         pd <- fs.listStatus(ep.getPath).toSeq
         if pd.getPath.getName.startsWith("order_date=")) {
      assert(cats(spark.read.schema(dataSchema).parquet(pd.getPath.toString))
        === Set("B"), s"archived ${pd.getPath} must not retain A")
    }

    // --- simulate a purge that crashed MID-SWAP in .hist: live dir absent,
    // completed .fk.tmp rewrite + .fk.old copy present. The next forget's
    // recovery preamble must promote the rewrite and drop the old copy.
    val liveDir = fs.listStatus(new HPath(s"$path.hist")).toSeq
      .flatMap(ep => fs.listStatus(ep.getPath).toSeq)
      .filter(_.getPath.getName.startsWith("order_date=")).head.getPath
    val tmpDir = Sources.sideDir(liveDir, ".fk.tmp")
    val oldDir = Sources.sideDir(liveDir, ".fk.old")
    spark.read.schema(dataSchema).parquet(liveDir.toString)
      .coalesce(1).write.parquet(tmpDir.toString)
    assert(fs.rename(liveDir, oldDir))
    // crash point: live missing, tmp + old on disk
    val (_, del2) = Pipeline.forgetKeys(spark, path, schema,
      Seq("Z").toDF("category"), Seq("category"))
    assert(del2 === 0L)
    assert(fs.exists(liveDir), "recovery promoted the rewrite to live")
    assert(!fs.exists(oldDir))
    assert(!fs.exists(tmpDir))
    assert(cats(spark.read.schema(dataSchema).parquet(liveDir.toString))
      === Set("B"))

    // --- rewrite-lost variant: only the .fk.old copy survives — recovery
    // must restore it (never delete the only copy)
    assert(fs.rename(liveDir, oldDir))
    Pipeline.forgetKeys(spark, path, schema,
      Seq("Z").toDF("category"), Seq("category"))
    assert(fs.exists(liveDir), "recovery restored the only surviving copy")
    assert(!fs.exists(oldDir))
  }

  test("readAt fails loud on a version a crashed .hist purge left mid-replace") {
    import org.apache.spark.sql.functions.{col, typedLit}
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    import spark.implicits._
    val d = dir()
    val path = s"$d/fkmid"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "category STRING, order_date STRING, total_orders BIGINT, " +
        "data_sources ARRAY<STRING>")
    def upsert(rows: (String, String, Long)*) =
      Pipeline.upsertStore(spark, path, schema,
        rows.toSeq.toDF("category", "order_date", "total_orders")
          .withColumn("data_sources", typedLit(Seq("orders")))
          .select(schema.fieldNames.map(col): _*),
        Seq("category", "order_date"), Seq("total_orders"))
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("category", "total_orders").as[(String, Long)].collect().toMap
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)

    upsert(("A", "2024-06-01", 1L), ("B", "2024-06-01", 2L)) // epoch 1
    upsert(("A", "2024-06-01", 10L))                          // epoch 2
    upsert(("B", "2024-06-01", 20L))                          // epoch 3
    // epoch 1's partition resolves from .hist/1; .hist/2 holds epoch 2's
    assert(rowsOf(Pipeline.readAt(spark, path, 1L, schema)) ===
      Map("A" -> 1L, "B" -> 2L))

    // a purge of .hist/1 crashed between its two renames: the partition
    // dir is gone, its rewrite and its aside copy are both on disk
    val hist1 = new HPath(s"$path.hist/1")
    val part = new HPath(hist1, "order_date=2024-06-01")
    spark.read.parquet(part.toString).coalesce(1)
      .write.parquet(Sources.sideDir(part, ".fk.tmp").toString)
    assert(fs.rename(part, Sources.sideDir(part, ".fk.old")))
    // without the partition dir, epoch 1 would resolve to the .hist/2
    // copy (epoch 2's A = 10): a wrong version, returned without an error
    val e = intercept[IllegalStateException] {
      Pipeline.readAt(spark, path, 1L, schema)
    }
    assert(e.getMessage.contains("mid-replace"))
    // an epoch the crashed root does not decide still reads
    assert(rowsOf(Pipeline.readAt(spark, path, 2L, schema)) ===
      Map("A" -> 10L, "B" -> 2L))

    // the next forget's purge preamble finishes the replace: epoch 1 reads
    Pipeline.forgetKeys(spark, path, schema,
      Seq("Z").toDF("category"), Seq("category"))
    assert(rowsOf(Pipeline.readAt(spark, path, 1L, schema)) ===
      Map("A" -> 1L, "B" -> 2L))
  }

  test("manifest row tally tracks the true store count through merge/forget/sweep") {
    import org.apache.spark.sql.functions.{col, typedLit}
    import spark.implicits._
    val d = dir()
    val path = s"$d/tally"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "category STRING, order_date STRING, total_orders BIGINT, " +
        "data_sources ARRAY<STRING>")
    def updates(rows: (String, String, Long)*) =
      rows.toSeq.toDF("category", "order_date", "total_orders")
        .withColumn("data_sources", typedLit(Seq("orders")))
        .select(schema.fieldNames.map(col): _*)
    def upsert(rows: (String, String, Long)*) =
      Pipeline.upsertStore(spark, path, schema, updates(rows: _*),
        Seq("category", "order_date"), Seq("total_orders"))
    def trueCount() = Pipeline.readOrInit(spark, path, schema).count()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

    // the returned post-merge size is O(touched) arithmetic off the
    // manifest #rows tally — it must equal a full recount at every step
    assert(upsert(("A", "2024-06-01", 1L), ("B", "2024-06-02", 2L)) === 2L)
    assert(trueCount() === 2L)
    // second batch: one update (no growth), one insert into a new date
    assert(upsert(("A", "2024-06-01", 9L), ("C", "2024-06-03", 3L)) === 3L)
    assert(trueCount() === 3L)
    // forget maintains the tally through its delete
    val (_, del) = Pipeline.forgetKeys(spark, path, schema,
      Seq("B").toDF("category"), Seq("category"))
    assert(del === 1L)
    // a retention sweep subtracts the expired partitions' rows
    val expired = Pipeline.retentionSweep(spark, path, "2024-06-02")
    assert(expired.nonEmpty)
    assert(Pipeline.latestManifest(fs, path).rows === trueCount(),
      "the sweep's manifest must carry the recounted tally")
    assert(upsert(("D", "2024-06-04", 4L)) === trueCount(),
      "post-sweep merge must build on the sweep's tally")
    assert(upsert(("D", "2024-06-04", 5L), ("E", "2024-06-04", 6L))
      === trueCount(), "tally carried forward")
  }

  test("forgetKeys crash after commit: emptied-partition backup erased, never restored") {
    import org.apache.spark.sql.functions.{col, typedLit}
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    import spark.implicits._
    val d = dir()
    val path = s"$d/fkempty"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "category STRING, order_date STRING, total_orders BIGINT, " +
        "data_sources ARRAY<STRING>")
    def updates(rows: (String, String, Long)*) =
      rows.toSeq.toDF("category", "order_date", "total_orders")
        .withColumn("data_sources", typedLit(Seq("orders")))
        .select(schema.fieldNames.map(col): _*)
    def upsert(rows: (String, String, Long)*) =
      Pipeline.upsertStore(spark, path, schema, updates(rows: _*),
        Seq("category", "order_date"), Seq("total_orders"))
    def cats() = Pipeline.readOrInit(spark, path, schema)
      .select("category").distinct().as[String].collect().toSet
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)

    // partition 06-01 holds ONLY key A — a forget of A EMPTIES it (the
    // partition is retired from the manifest, not swapped)
    upsert(("A", "2024-06-01", 1L), ("B", "2024-06-02", 2L)) // epoch 1
    val (ep2, del) = Pipeline.forgetKeys(spark, path, schema,
      Seq("A").toDF("category"), Seq("category"))
    assert(del === 1L && ep2 === 2L)
    assert(cats() === Set("B"))

    // reconstruct the post-commit crash state that completed run cleaned
    // up: manifest already at epoch 2 WITHOUT 06-01, but (a) the emptied
    // partition's pre-delete copy in .hist/1 still holding A, (b) the
    // forget tombstone still outstanding — i.e. a crash between
    // writeManifest and the .hist purge / tombstone retire.
    val dataSchema = org.apache.spark.sql.types.StructType(
      schema.filterNot(_.name == "order_date"))
    val preImage = new HPath(s"$path.hist/1/order_date=2024-06-01")
    fs.delete(preImage, true)
    Seq(("A", 1L)).toDF("category", "total_orders")
      .withColumn("data_sources", typedLit(Seq("orders")))
      .select(dataSchema.fieldNames.map(col): _*)
      .coalesce(1).write.parquet(preImage.toString)
    Seq("A").toDF("category").coalesce(1)
      .write.parquet(s"$path.forget.pending")

    upsert(("C", "2024-06-03", 3L)) // routine batch triggers recovery
    // the committed forget is never rolled back: the emptied partition is
    // not restored into the live tree, where the manifest-filtered
    // completing forget could never rewrite it
    assert(!fs.exists(new HPath(s"$path/order_date=2024-06-01")),
      "emptied partition must not be restored into the live tree")
    // the pre-image is erased in place by the completing forget's purge
    assert(spark.read.schema(dataSchema).parquet(preImage.toString)
      .count() === 0L, "forgotten rows erased from the pre-image")
    assert(!fs.exists(new HPath(s"$path.forget.pending")), "tombstone retired")
    assert(cats() === Set("B", "C"))
    // no version carries A either
    val histRoot = new HPath(s"$path.hist")
    if (fs.exists(histRoot)) {
      for (ep <- fs.listStatus(histRoot).toSeq if ep.isDirectory;
           pd <- fs.listStatus(ep.getPath).toSeq
           if pd.getPath.getName.startsWith("order_date=")) {
        val c = spark.read.schema(dataSchema).parquet(pd.getPath.toString)
          .select("category").distinct().as[String].collect().toSet
        assert(!c.contains("A"), s"archived ${pd.getPath} retains A")
      }
    }
  }

  test("forgetKeys tombstone publish: rename-aside swap survives every crash window") {
    import org.apache.spark.sql.functions.{col, typedLit}
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    import spark.implicits._
    val d = dir()
    val path = s"$d/fkswap"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "category STRING, order_date STRING, total_orders BIGINT, " +
        "data_sources ARRAY<STRING>")
    def updates(rows: (String, String, Long)*) =
      rows.toSeq.toDF("category", "order_date", "total_orders")
        .withColumn("data_sources", typedLit(Seq("orders")))
        .select(schema.fieldNames.map(col): _*)
    def upsert(rows: (String, String, Long)*) =
      Pipeline.upsertStore(spark, path, schema, updates(rows: _*),
        Seq("category", "order_date"), Seq("total_orders"))
    def cats() = Pipeline.readOrInit(spark, path, schema)
      .select("category").distinct().as[String].collect().toSet
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    val pending = new HPath(s"$path.forget.pending")
    val old = new HPath(s"$path.forget.pending.old")
    val tmp = new HPath(s"$path.forget.pending.inprogress")
    def writeKeys(p: HPath, keys: String*): Unit = {
      keys.toSeq.toDF("category").coalesce(1).write.parquet(p.toString)
      ()
    }

    // --- window 1: crash BETWEEN the two publish renames — the prior
    // tombstone {A} was renamed aside, the new union {A,B} write is
    // complete (it finished before the swap began) but not yet published.
    // Recovery must publish the union: BOTH keys get erased.
    upsert(("A", "2024-06-01", 1L), ("B", "2024-06-01", 2L),
      ("C", "2024-06-01", 3L))
    writeKeys(old, "A")
    writeKeys(tmp, "A", "B")
    assert(fs.exists(new HPath(tmp, "_SUCCESS")), "complete write marker")
    upsert(("C", "2024-06-02", 4L)) // routine batch triggers recovery
    assert(cats() === Set("C"), "union tombstone erased BOTH crashed keys")
    assert(!fs.exists(pending) && !fs.exists(old) && !fs.exists(tmp))

    // --- window 1b: same crash shape on a config where the committer's
    // _SUCCESS is disabled (marksuccessfuljobs=false — common on object
    // stores): OUR OWN `_graft_committed` marker, which forgetKeys writes
    // after the tombstone write returns, must alone promote the union —
    // previously this state was treated as torn and silently reverted to
    // the .old tombstone.
    upsert(("G", "2024-06-07", 10L), ("H", "2024-06-07", 11L))
    writeKeys(old, "G")
    writeKeys(tmp, "G", "H")
    fs.delete(new HPath(tmp, "_SUCCESS"), false)
    fs.create(new HPath(tmp, "_graft_committed"), true).close()
    upsert(("C", "2024-06-08", 12L))
    assert(cats() === Set("C"),
      "own marker promoted the union tombstone without _SUCCESS")
    assert(!fs.exists(pending) && !fs.exists(old) && !fs.exists(tmp))

    // --- window 2: crash DURING the union write (torn, no _SUCCESS) with
    // the prior tombstone still published. The torn write is dropped, the
    // published tombstone stays authoritative.
    upsert(("D", "2024-06-03", 5L), ("E", "2024-06-03", 6L))
    writeKeys(pending, "D")
    fs.mkdirs(tmp) // torn: directory exists, no _SUCCESS, garbage content
    val out = fs.create(new HPath(tmp, "part-torn.parquet"))
    out.write(Array[Byte](1, 2, 3)); out.close()
    upsert(("C", "2024-06-04", 7L))
    assert(cats() === Set("C", "E"), "published tombstone {D} completed")
    assert(!fs.exists(pending) && !fs.exists(tmp))

    // --- window 3: only the rename-aside copy survives (crash after the
    // aside rename with markers unavailable) — recovery restores it.
    upsert(("F", "2024-06-05", 8L))
    writeKeys(old, "F")
    upsert(("C", "2024-06-06", 9L))
    assert(cats() === Set("C", "E"), "aside copy {F} restored and erased")
    assert(!fs.exists(pending) && !fs.exists(old))
  }

  test("compactStore crash between its renames: the partition is " +
      "recovered before the next merge, never read as empty") {
    import org.apache.spark.sql.functions.{col, typedLit}
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    import spark.implicits._
    val d = dir()
    val path = s"$d/compactcrash"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "category STRING, order_date STRING, total_orders BIGINT, " +
        "data_sources ARRAY<STRING>")
    val dataSchema = org.apache.spark.sql.types.StructType(
      schema.filterNot(_.name == "order_date"))
    def upsert(rows: (String, String, Long)*) =
      Pipeline.upsertStore(spark, path, schema,
        rows.toSeq.toDF("category", "order_date", "total_orders")
          .withColumn("data_sources", typedLit(Seq("orders")))
          .select(schema.fieldNames.map(col): _*),
        Seq("category", "order_date"), Seq("total_orders"))
    def rows() = Pipeline.readOrInit(spark, path, schema).collect()
      .map(r => (r.getAs[String]("category"), r.getAs[String]("order_date"))
        -> r.getAs[Long]("total_orders")).toMap
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    upsert(("A", "2024-06-01", 1L), ("B", "2024-06-01", 2L),
      ("A", "2024-06-02", 3L))

    // Sources.compact of 06-01 crashed between its two renames: the
    // compacted copy is complete in the staged dir, the old partition
    // moved aside, and no live dir is left
    val live = new HPath(s"$path/order_date=2024-06-01")
    val staged = Sources.sideDir(live, ".compact.tmp")
    val aside = Sources.sideDir(live, ".compact.bak")
    spark.read.schema(dataSchema).parquet(live.toString).coalesce(1)
      .write.parquet(staged.toString)
    assert(fs.rename(live, aside))
    // a reader fails loud instead of reading the listed date as empty
    val e = intercept[IllegalStateException] {
      Pipeline.readOrInit(spark, path, schema)
    }
    assert(e.getMessage.contains("2024-06-01"))
    // the next merge recovers the partition first and merges against it:
    // B's row on the merged date survives
    upsert(("A", "2024-06-01", 10L))
    assert(rows() === Map(("A", "2024-06-01") -> 10L,
      ("B", "2024-06-01") -> 2L, ("A", "2024-06-02") -> 3L))
    assert(!fs.exists(staged) && !fs.exists(aside))

    // the staged copy never completed: the aside copy is restored, here by
    // compactStore's own recovery before it compacts
    assert(fs.rename(live, aside))
    fs.mkdirs(staged)
    Pipeline.compactStore(spark, path)
    assert(rows() === Map(("A", "2024-06-01") -> 10L,
      ("B", "2024-06-01") -> 2L, ("A", "2024-06-02") -> 3L))
    assert(!fs.exists(staged) && !fs.exists(aside))
    deleteRec(d)
  }

  test("readOrInit fails loud on a listed partition that no root holds") {
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    import spark.implicits._
    val d = dir()
    val path = s"$d/lostpart"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "order_date STRING, total_orders BIGINT, " +
        "data_sources ARRAY<STRING>, last_updated STRING")
    def upsert(stamp: String, rows: (String, Long)*) =
      Pipeline.upsertStore(spark, path, schema,
        rows.toSeq.toDF("order_date", "total_orders")
          .withColumn("data_sources", typedLit(Seq("orders")))
          .withColumn("last_updated", lit(stamp))
          .select(schema.fieldNames.map(col): _*),
        Seq("order_date"), Seq("total_orders", "last_updated"))
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    upsert("t1", ("2024-06-01", 1L), ("2024-06-02", 2L))
    upsert("t2", ("2024-06-01", 5L))
    // the commit left the epoch-1 copy of 06-01 in .hist/1: it is no
    // copy of the epoch-2 snapshot, so losing the live dir loses 06-01
    assert(fs.exists(new HPath(s"$path.hist/1/order_date=2024-06-01")))
    assert(fs.delete(new HPath(s"$path/order_date=2024-06-01"), true))
    val e = intercept[IllegalStateException] {
      Pipeline.readOrInit(spark, path, schema)
    }
    assert(e.getMessage.contains("2024-06-01"))
    assert(!e.getMessage.contains("2024-06-02"))
    deleteRec(d)
  }

  test("a crashed first commit is never read, and the next commit " +
      "rolls it back") {
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    import spark.implicits._
    val d = dir()
    val path = s"$d/firstcrash"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "order_date STRING, total_orders BIGINT, " +
        "data_sources ARRAY<STRING>, last_updated STRING")
    def updates(stamp: String, rows: (String, Long)*) =
      rows.toSeq.toDF("order_date", "total_orders")
        .withColumn("data_sources", typedLit(Seq("orders")))
        .withColumn("last_updated", lit(stamp))
        .select(schema.fieldNames.map(col): _*)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    // the store's first commit crashed after its swap and before its
    // manifest: .hist/0 created, the new date in the root, no manifest
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path.hist/0"))
    updates("t1-crashed", ("2024-06-01", 1L)).drop("order_date").write
      .parquet(d.resolve("firstcrash/order_date=2024-06-01").toString)
    assert(Pipeline.readOrInit(spark, path, schema).count() === 0L,
      "no manifest is epoch 0: the uncommitted rows must not be read")

    // the next commit, of another date, rolls the crashed one back
    Pipeline.upsertStore(spark, path, schema,
      updates("t2", ("2024-06-02", 2L)), Seq("order_date"),
      Seq("total_orders", "last_updated"))
    assert(!Files.exists(d.resolve("firstcrash/order_date=2024-06-01")),
      "the uncommitted first-commit partition must be deleted")
    assert(Pipeline.readOrInit(spark, path, schema).collect()
      .map(_.getAs[String]("order_date")).toSeq === Seq("2024-06-02"))
    deleteRec(d)
  }

  test("a compaction staged beside a live partition is hidden from " +
      "partition discovery, and compactStore clears it") {
    import org.apache.spark.sql.functions.{col, typedLit}
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    import spark.implicits._
    val d = dir()
    val path = s"$d/compactside"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "category STRING, order_date STRING, total_orders BIGINT, " +
        "data_sources ARRAY<STRING>")
    val dataSchema = org.apache.spark.sql.types.StructType(
      schema.filterNot(_.name == "order_date"))
    def upsert(rows: (String, String, Long)*) =
      Pipeline.upsertStore(spark, path, schema,
        rows.toSeq.toDF("category", "order_date", "total_orders")
          .withColumn("data_sources", typedLit(Seq("orders")))
          .select(schema.fieldNames.map(col): _*),
        Seq("category", "order_date"), Seq("total_orders"))
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("category"), r.getAs[String]("order_date"))
        -> r.getAs[Long]("total_orders")).toMap
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    upsert(("A", "2024-06-01", 1L), ("B", "2024-06-01", 2L),
      ("A", "2024-06-02", 3L))
    val before = rowsOf(Pipeline.readOrInit(spark, path, schema))

    // Sources.compact of 06-01 between its staged write and its renames:
    // the complete compacted copy sits beside the live partition
    val live = new HPath(s"$path/order_date=2024-06-01")
    val staged = Sources.sideDir(live, ".compact.tmp")
    spark.read.schema(dataSchema).parquet(live.toString).coalesce(1)
      .write.parquet(staged.toString)
    assert(fs.exists(new HPath(staged, "_SUCCESS")))
    assert(rowsOf(spark.read.schema(schema).parquet(path)) === before,
      "a plain scan of the store must not see the side dir")
    assert(rowsOf(Pipeline.readOrInit(spark, path, schema)) === before)

    Pipeline.compactStore(spark, path)
    assert(rowsOf(Pipeline.readOrInit(spark, path, schema)) === before)
    assert(!fs.listStatus(new HPath(path)).exists(
      _.getPath.getName.contains(".compact.")), "no side dir is left")
    deleteRec(d)
  }
}
