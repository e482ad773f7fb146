package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: stages one workload's seeded inputs, measures it and
  * writes `<out>/result.json` (and, traced, `<out>/trace.json`).
  * perfbench/run.py builds and launches it.
  *
  * `--seconds` sets how much work is measured as a fixed operation count,
  * so every run and seed measures the same mix of operations: daily_trickle
  * one op per 3.3 s (at least 6), query_mix one pass per 12 s (at least 3).
  * These nominal rates are those of a 4-core host.
  *
  *   Main --workload daily_trickle|query_mix --seed N --seconds S
  *        --trace 0|1 --out DIR [--scale F]
  */
object Main {

  val SetupRepeats = 3
  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Logs how far into the JVM's life a phase of the run ended. */
  private def phase(log: String => Unit, name: String): Unit =
    log(f"${(System.currentTimeMillis - jvmStart) / 1e3}%.1f s: $name")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = a("out")
    val cores = Runtime.getRuntime.availableProcessors
    val scale = a.getOrElse("scale", "1").toDouble
    val logBuf = mutable.ArrayBuffer.empty[String]
    def log(s: String): Unit = {
      System.err.println(s"[perfbench] $s")
      logBuf += s
    }

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    phase(log, "session ready")
    try {
      val r = workload match {
        case "daily_trickle" =>
          val plan = Pipelines.dailyPlan(seed, perOp(seconds, 3.3, 6),
            math.max(6, math.round(60 * scale).toInt))
          pipeline(spark, seed, plan, traced, out, log)
        case "query_mix" =>
          queryMix(spark, seed, perOp(seconds, 12, 3), traced, out, scale,
            log)
        case w => sys.error(s"unknown workload $w")
      }
      val metrics = r.metrics ++ (if (traced)
        Map("jvm.peak_rss_mb" -> (peakRssMb(), "MB"))
      else Map("heap_retained_mb" -> (settledHeapMb(), "MB")))
      val json = s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, """ +
        s""""failed": ${r.failed}, "metrics": """ +
        metrics.toSeq.sortBy(_._1).map { case (k, (v, unit)) =>
          s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(unit)}}"
        }.mkString("{", ", ", "}") +
        s""", "info": ${r.info.toSeq.sortBy(_._1).map { case (k, v) =>
          s"${Json.str(k)}: ${Json.num(v)}" }.mkString("{", ", ", "}")}""" +
        s""", "log": ${logBuf.map(Json.str).mkString("[", ", ", "]")}}"""
      Files.writeString(Paths.get(s"$out/result.json"), json)
    } finally spark.stop()
  }

  private def perOp(seconds: Double, nominal: Double, min: Int): Int =
    math.max(min, math.round(seconds / nominal).toInt)

  final case class Result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Map[String, (Double, String)], info: Map[String, Double])

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  private def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)

  private def timed[A](body: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t) / 1e9)
  }

  /** Stage `SetupRepeats` times into fresh directories; returns the median
    * staging time. The first directory is the one measured against. */
  private def repeatedStaging[A](out: String)(one: String => A)
      : (A, Double) = {
    val runs = (0 until SetupRepeats).map(k => timed(one(s"$out/setup$k")))
    (runs.head._1, median(runs.map(_._2)))
  }

  def pipeline(spark: SparkSession, seed: Long, plan: Pipelines.Plan,
      traced: Boolean, out: String, log: String => Unit): Result = {
    val (st, stageS) = repeatedStaging(out)(
      Pipelines.stage(seed, plan, _))
    phase(log, "staged")
    val (_, warmS) = timed(Pipelines.warmUp(spark, plan, st))
    System.gc() // the measured operations do not pay for the warm-up's garbage
    phase(log, "warmed up")
    val tracer = new Tracer(spark, traced)
    val (ops, storeOk, extra) = try Pipelines.run(spark, tracer, seed, plan,
      st, s"$out/work", log) finally tracer.close()
    phase(log, "measured and checked")
    val secs = ops.map(_.secs)
    log(s"op seconds: ${secs.map(x => f"$x%.2f").mkString(" ")}")
    val committed = ops.filter(_.rows > 0)
    val attempted = ops.size + committed.size
    val failed = ops.count(!_.ok)
    // steps: every batch and every snapshot read
    val steps = ops.map(_.batch.secs) ++ committed.map(_.readSecs)
    val metrics: Map[String, (Double, String)] = Map(
      "setup_s" -> (stageS + warmS, "s"),
      "op_s_p50" -> (median(secs), "s"),
      "step_s_geomean" -> (geomean(steps), "s"))
    val info = Map(
      "stage_s" -> stageS,
      "warm_s" -> warmS,
      "rows_per_s" -> committed.map(_.rows).sum / secs.sum,
      "ops" -> ops.size.toDouble,
      "batch_s_p50" -> median(ops.map(_.batch.secs)),
      "read_s_p50" -> median(committed.map(_.readSecs)),
      "rows_committed" -> committed.map(_.rows).sum.toDouble,
      "measured_s" -> secs.sum) ++ extra
    if (traced) writeTrace(tracer, out)
    val layers: Map[String, (Double, String)] =
      if (traced) Layers.pipeline(tracer, ops, extra) else Map.empty
    Result(failed == 0 && storeOk, attempted, failed,
      if (traced) layers else metrics, info)
  }

  def queryMix(spark: SparkSession, seed: Long, passes: Int,
      traced: Boolean, out: String, scale: Double, log: String => Unit)
      : Result = {
    val numOrders = math.max(900L, math.round(QueryOrders * scale))
    val (_, stageS) = repeatedStaging(out)(
      Gen.queryTables(spark, seed, numOrders, _))
    val data = s"$out/setup0"
    phase(log, "staged")
    // the check pass is the warm-up: each query's first, cold execution
    val (dumpFailed, warmS) = timed(
      Queries.dumpPass(spark, data, s"$out/dump", log))
    System.gc()
    phase(log, "warmed up")
    val tracer = new Tracer(spark, traced)
    val runs = try Queries.run(spark, tracer, data, passes, log)
      finally tracer.close()
    phase(log, "measured")
    val perQuery = Queries.Mix.map { case (n, _) =>
      n -> median(runs.filter(_.name == n).map(_.secs)) }
    val passTotals = runs.grouped(Queries.Mix.size).map(_.map(_.secs).sum).toSeq
    val failed = runs.count(r => !r.ok || dumpFailed.contains(r.name))
    // the operation is a pass (a report refresh), its steps the queries
    val metrics: Map[String, (Double, String)] = Map(
      "setup_s" -> (stageS + warmS, "s"),
      "op_s_p50" -> (median(passTotals), "s"),
      "step_s_geomean" -> (geomean(perQuery.map(_._2)), "s"))
    val info = Map(
      "stage_s" -> stageS,
      "warm_s" -> warmS,
      "passes" -> passes.toDouble) ++
      perQuery.map { case (n, s) => s"query_s.$n" -> s }
    if (traced) writeTrace(tracer, out)
    val layers: Map[String, (Double, String)] =
      if (traced) Layers.queries(tracer, runs) else Map.empty
    Result(failed == 0, runs.size, failed,
      if (traced) layers else metrics, info)
  }

  /** Orders of the generated query inputs: a third of the sf0.01 test
    * tier, with 20k line items, ~670 parts and ~167 documents. */
  val QueryOrders = 5000L

  /** Collects until the used heap settles and returns it: what a
    * long-lived session keeps (caches, listeners, query metadata), which
    * unlike the resident set does not depend on when the collector ran.
    * Spark's context cleaner frees broadcast and shuffle state only after a
    * collection has found it unreachable, so one collection is not
    * enough. */
  private def settledHeapMb(): Double = {
    def collect(): Long = {
      System.gc()
      Thread.sleep(300)
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed
    }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (rounds < 8 && math.abs(cur - prev) > 0.01 * prev) {
      prev = cur
      cur = collect()
      rounds += 1
    }
    cur / 1e6
  }

  private def peakRssMb(): Double = {
    val status = Files.readString(Paths.get("/proc/self/status"))
    "VmHWM:\\s+(\\d+) kB".r.findFirstMatchIn(status)
      .map(_.group(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  private def writeTrace(t: Tracer, out: String): Unit = {
    val spans = t.spans.map { s =>
      s"""{"id": ${s.id}, "trace": ${s.trace}, "name": ${Json.str(s.name)}, """ +
        s""""parent": ${s.parent}, "start_s": ${t.relSecs(s.start)}, """ +
        s""""end_s": ${t.relSecs(s.end)}}"""
    }
    Files.writeString(Paths.get(s"$out/trace.json"),
      spans.mkString("{\"spans\": [\n", ",\n", "\n]}\n"))
  }
}
