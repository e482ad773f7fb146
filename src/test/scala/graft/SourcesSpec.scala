package graft

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.io.Sources

/** Source/sink combinators (SURVEY §2.1): parquet-or-CSV fallback, union
  * fold, multi-path scan equivalence, partitioned write + pruning, scheme
  * rewrite. */
class SourcesSpec extends SparkSpec {

  private lazy val tmp = Files.createTempDirectory("graft-io").toString

  /** `f`'s result and the Spark jobs started while it ran. */
  private def withJobs[T](f: => T): (T, Int) = {
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
      val r = f
      org.apache.spark.graft.ListenerDrain.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("normalizeScheme rewrites s3:// only") {
    assert(Sources.normalizeScheme("s3://b/k.csv") === "s3a://b/k.csv")
    assert(Sources.normalizeScheme("s3a://b/k.csv") === "s3a://b/k.csv")
    assert(Sources.normalizeScheme("/local/p.parquet") === "/local/p.parquet")
  }

  test("readParquetOrCsv falls back to headered CSV with declared schema") {
    val csv = s"$tmp/orders_part1.csv"
    Files.writeString(java.nio.file.Paths.get(csv),
      "order_id,amount\n1,10.5\n2,20.0\n")
    val schema = StructType(Seq(
      StructField("order_id", LongType), StructField("amount", DoubleType)))
    val df = Sources.readParquetOrCsv(spark, csv, Some(schema))
    assert(df.schema === schema)
    assert(df.count() === 2)
  }

  test("readAndUnion folds parts; empty list is None") {
    val p = s"$sf0001/lineitem.parquet"
    assert(Sources.readAndUnion(spark, Nil).isEmpty)
    val one = Sources.readAndUnion(spark, Seq(p)).get.count()
    val two = Sources.readAndUnion(spark, Seq(p, p)).get.count()
    assert(two === 2 * one)
  }

  test("writePartitioned lays out dt partitions that prune") {
    val out = s"$tmp/validated"
    val df = Sources.table(spark, sf0001, "region")
    Sources.writePartitioned(df, out, "2024-06-01")
    assert(Files.exists(java.nio.file.Paths.get(s"$out/dt=2024-06-01")))
    val read = spark.read.parquet(out).filter("dt = '2024-06-01'")
    assert(read.count() === df.count())
    // a non-matching dt predicate prunes to zero files -> zero rows
    assert(spark.read.parquet(out).filter("dt = '1999-01-01'").count() === 0)
  }

  test("readTable returns None on a missing path") {
    assert(Sources.readTable(spark, s"$tmp/nope.parquet").isEmpty)
    assert(Sources.readTable(spark, s"$sf0001/region.parquet").nonEmpty)
  }

  test("readTable propagates a corrupt table instead of reading it as absent") {
    // an unreadable table must fail the batch: as None, the transform
    // would switch to a partial-data mode and merge NULL KPI fields
    val dir = java.nio.file.Paths.get(s"$tmp/corrupt_table")
    Files.createDirectories(dir)
    Files.write(dir.resolve("part-00000.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    intercept[Exception] {
      Sources.readTable(spark, dir.toString).foreach(_.collect())
    }
  }

  test("readTable resolves a validated table's schema without a Spark job, " +
      "equal to inference") {
    val d = Files.createTempDirectory("graft-io-rt")
    val (op, ip, p) = BatchFixtures.clean(d)
    for (compat <- Seq(false, true)) {
      val out = s"$d/validated_$compat"
      assert(graft.pipeline.Pipeline.validateJob(spark, op, ip, Some(p), out,
        s"$d/result_$compat.json", allStringsCompat = compat)
        .status === "success")
      for (t <- Seq("orders", "order_items", "products")) {
        val path = s"$out/$t"
        val (df, jobs) = withJobs(Sources.readTable(spark, path).get)
        assert(jobs === 0, s"$t (compat=$compat): opening ran a job")
        assert(df.schema === spark.read.parquet(path).schema,
          s"$t (compat=$compat)")
        assert(df.collect().map(_.toString).sorted ===
          spark.read.parquet(path).collect().map(_.toString).sorted)
      }
    }
  }

  test("table resolves a testdata table's schema without a Spark job, " +
      "equal to inference, for both events.ts physical shapes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-io-table").toString
    val us = Seq(1718000000123456L, 1718000003999999L)
    // epoch-nanos int64 and parquet timestamp[us] isAdjustedToUTC=false,
    // the two shapes events.ts has shipped in
    us.map(_ * 1000L).toDF("ts").write.parquet(s"$dir/nanos.parquet")
    us.toDF("us").select(timestamp_micros(col("us"))
        .cast(TimestampNTZType).as("ts"))
      .write.parquet(s"$dir/micros.parquet")
    val tables = Seq((dir, "nanos", Some(LongType)),
      (dir, "micros", Some(TimestampNTZType)),
      (sf0001, "events", None), (sf0001, "lineitem", None))
    for ((d, name, tsType) <- tables) {
      val (df, jobs) = withJobs(Sources.table(spark, d, name))
      assert(jobs === 0, s"$name: opening ran a job")
      val inferred = spark.read.parquet(s"$d/$name.parquet")
      assert(df.schema === inferred.schema, name)
      tsType.foreach(t => assert(df.schema("ts").dataType === t, name))
      assert(df.collect().map(_.toString).sorted ===
        inferred.collect().map(_.toString).sorted, name)
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      Sources.table(spark, dir, "absent")
    }
  }

  test("readTable takes the footer inference takes: the least file path, " +
      "past empty and prefix-named partition dirs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-io-first").toString
    // `k=1-x/...` sorts before `k=1/...` ('-' < '/') though `k=1` is the
    // lesser name; the two footers differ, so the pick shows in the schema
    Seq(1L).toDF("a").write.parquet(s"$dir/t/k=1")
    Seq((2L, "b")).toDF("a", "b").write.parquet(s"$dir/t/k=1-x")
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/t/k=0"))
    val (df, jobs) = withJobs(Sources.readTable(spark, s"$dir/t").get)
    assert(jobs === 0)
    val inferred = spark.read.parquet(s"$dir/t")
    assert(inferred.columns.contains("b"))
    assert(df.schema === inferred.schema)
    assert(df.collect().map(_.toString).sorted ===
      inferred.collect().map(_.toString).sorted)
  }

  test("readAndUnion plans declared-schema CSV parts as ONE multi-path scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.catalyst.plans.logical.Union
    val schema = StructType(Seq(
      StructField("order_id", LongType), StructField("amount", DoubleType)))
    val parts = Seq("1,10.5\n2,20.0\n", "3,30.0\n", "4,\n5,50.0\n")
      .zipWithIndex.map { case (body, i) =>
        val f = s"$tmp/multi_part$i.csv"
        Files.writeString(java.nio.file.Paths.get(f), "order_id,amount\n" + body)
        f
      }
    val df = Sources.readAndUnion(spark, parts, Some(schema)).get
    val perFile = parts.map(Sources.readParquetOrCsv(spark, _, Some(schema)))
      .reduce(_ union _)
    assert(df.schema === schema)
    // every part's header skipped, every data row kept
    assert(df.collect().map(_.toString).sorted ===
      perFile.collect().map(_.toString).sorted)
    assert(df.count() === 5)
    val qe = df.queryExecution
    assert(qe.optimizedPlan.collect { case u: Union => u }.isEmpty)
    assert(qe.sparkPlan.collect { case s: FileSourceScanExec => s }.size === 1)
  }

  test("epochUs/epochSec normalize every events.ts physical type the " +
      "driver has shipped (fixture contract)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two instants, exact to the microsecond
    val us = Seq(1718000000123456L, 1718000003999999L)
    // (a) epoch-nanos int64 — the round-1..5 fixture shape
    val nanosDf = us.map(_ * 1000L).toDF("ts")
    // (b) parquet timestamp[us] isAdjustedToUTC=false → TIMESTAMP_NTZ —
    //     the round-6+ fixture shape (what broke 9 queries)
    val ntzDir = s"$tmp/ts_ntz"
    us.toDF("us").select(timestamp_micros(col("us"))
        .cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(ntzDir)
    val ntzDf = spark.read.parquet(ntzDir)
    assert(ntzDf.schema("ts").dataType === TimestampNTZType)
    // (c) instant timestamp (isAdjustedToUTC=true)
    val tzDf = us.toDF("us").select(timestamp_micros(col("us")).as("ts"))
    for (df <- Seq(nanosDf, ntzDf, tzDf)) {
      val gotUs = df.select(Sources.epochUs(df, "ts")).as[Long]
        .collect().sorted.toSeq
      assert(gotUs === us, s"epochUs on ${df.schema("ts").dataType}")
      val gotSec = df.select(Sources.epochSec(df, "ts")).as[Long]
        .collect().sorted.toSeq
      assert(gotSec === us.map(_ / 1000000L),
        s"epochSec on ${df.schema("ts").dataType}")
    }
    // the REAL fixture loads through the same helper — whatever physical
    // type the driver ships next, this line is the canary
    val ev = Sources.table(spark, sf0001, "events")
    assert(ev.select(Sources.epochUs(ev)).as[Long].collect()
      .forall(v => v > 1L * 1000 * 1000 * 1000 * 1000000L),
      "events.ts must normalize to plausible epoch micros")
  }
}
