package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run. Every traced run reports the same
  * names; a layer its workload does not reach reads 0. Pipeline figures are
  * means per batch unless they are counts of batches. */
object Layers {

  private val pipelineUnits: Seq[(String, String)] = Seq(
    "runner.overhead_s" -> "s", "runner.batches_ok" -> "count",
    "runner.batches_rejected" -> "count",
    "io.s" -> "s", "io.input_records" -> "count", "io.input_mb" -> "MB",
    "io.output_mb" -> "MB", "io.files_written" -> "count",
    "validate.s" -> "s", "validate.jobs" -> "count",
    "validate.tasks" -> "count", "validate.shuffle_mb" -> "MB",
    "kpi.s" -> "s", "kpi.jobs" -> "count", "kpi.shuffle_mb" -> "MB",
    "kpi.spill_mb" -> "MB", "kpi.task_skew" -> "ratio",
    "store.commit_s" -> "s", "store.jobs" -> "count",
    "store.driver_s" -> "s", "store.file_changes" -> "count",
    "store.read_s" -> "s", "store.stored_mb" -> "MB",
    "spark.jobs_per_batch" -> "count", "spark.tasks_per_batch" -> "count",
    "spark.plan_ms" -> "ms")

  private val moduleUnits: Seq[(String, String)] =
    Seq("dedup", "operators", "text", "multimodal")
      .map(m => s"$m.s" -> "s")

  private val queryUnits: Seq[(String, String)] =
    Queries.Mix.flatMap { case (n, _) =>
      Seq(s"query.$n.s" -> "s", s"query.$n.jobs" -> "count",
        s"query.$n.shuffle_mb" -> "MB", s"query.$n.plan_ms" -> "ms")
    }

  /** Every per-layer metric name with its unit; `jvm.peak_rss_mb` is added
    * by [[Main]] at the end of the run. */
  val All: Seq[(String, String)] = pipelineUnits ++ moduleUnits ++ queryUnits

  private def filled(values: Map[String, Double])
      : Map[String, (Double, String)] =
    All.map { case (n, u) => n -> (values.getOrElse(n, 0.0), u) }.toMap

  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def median(xs: Seq[Double]) = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s((s.size - 1) / 2)
  }
  private val MB = 1e6

  /** Length of the union of [start, end) intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
      val from = math.max(s, reach)
      (sum + math.max(0L, e - from), math.max(reach, e))
    }._1

  def pipeline(t: Tracer, ops: Seq[Pipelines.OpResult],
      extra: Map[String, Double]): Map[String, (Double, String)] = {
    val batches = ops.map(_.batch)
    val perBatch = batches.map { b =>
      val kids = t.spans.filter(_.parent == b.id).toSeq
      def self(m: String) = kids.filter(_.name == m).map(_.secs).sum
      val jobs = t.jobsOf(Set(b.id))
      def jobsIn(m: String) = jobs.filter(_.module == m)
      def stagesOf(js: Seq[JobRec]) = js.flatMap(_.stages).distinct
        .flatMap(t.stage)
      def sumMb(js: Seq[JobRec])(f: StageRec => Long) =
        stagesOf(js).map(f).sum / MB
      val kpiSkew = stagesOf(jobsIn("kpi")).filter(_.taskMs.size >= 2)
        .map { s =>
          val ms = s.taskMs.map(_.toDouble).toSeq
          ms.max / math.max(1.0, median(ms))
        }
      val storeSelf = self("store")
      val storeJobWall = covered(jobsIn("store").map(j => (j.start, j.end))) / 1e9
      Map(
        "runner.overhead_s" -> (b.secs - kids.map(_.secs).sum),
        "io.s" -> self("io"),
        "io.input_records" -> stagesOf(jobs).map(_.inputRecords).sum.toDouble,
        "io.input_mb" -> sumMb(jobs)(_.inputBytes),
        "io.output_mb" -> sumMb(jobs)(_.outputBytes),
        "validate.s" -> self("validate"),
        "validate.jobs" -> jobsIn("validate").size.toDouble,
        "validate.tasks" -> stagesOf(jobsIn("validate")).map(_.tasks).sum
          .toDouble,
        "validate.shuffle_mb" -> sumMb(jobsIn("validate"))(_.shuffleBytes),
        "kpi.s" -> self("kpi"),
        "kpi.jobs" -> jobsIn("kpi").size.toDouble,
        "kpi.shuffle_mb" -> sumMb(jobsIn("kpi"))(_.shuffleBytes),
        "kpi.spill_mb" -> sumMb(jobsIn("kpi"))(_.spillBytes),
        "kpi.task_skew" -> (if (kpiSkew.isEmpty) 1.0 else kpiSkew.max),
        "store.commit_s" -> storeSelf,
        "store.jobs" -> jobsIn("store").size.toDouble,
        "store.driver_s" -> math.max(0.0, storeSelf - storeJobWall),
        "spark.jobs_per_batch" -> jobs.size.toDouble,
        "spark.tasks_per_batch" -> stagesOf(jobs).map(_.tasks).sum.toDouble,
        "spark.plan_ms" -> t.planMs.asScala.getOrElse(b.id, 0.0))
    }
    val keys = perBatch.headOption.map(_.keys).getOrElse(Nil)
    val means = keys.map(k => k -> (if (k == "kpi.task_skew")
      median(perBatch.map(_(k))) else mean(perBatch.map(_(k))))).toMap
    filled(means ++ Map(
      "runner.batches_ok" -> ops.count(_.rows > 0).toDouble,
      "runner.batches_rejected" -> ops.count(_.rows == 0).toDouble,
      "io.files_written" -> extra("files_written_per_batch"),
      "store.file_changes" -> extra("store_file_changes_per_batch"),
      "store.read_s" -> mean(ops.filter(_.rows > 0).map(_.readSecs)),
      "store.stored_mb" -> extra("stored_mb")))
  }

  def queries(t: Tracer, runs: Seq[Queries.QRun])
      : Map[String, (Double, String)] = {
    val perQuery = Queries.Mix.map { case (n, module) =>
      val rs = runs.filter(_.name == n)
      def med(f: Queries.QRun => Double) = median(rs.map(f))
      def jobs(r: Queries.QRun) = t.jobsOf(Set(r.span.id))
      def shuffleMb(r: Queries.QRun) = jobs(r).flatMap(_.stages).distinct
        .flatMap(t.stage).map(_.shuffleBytes).sum / MB
      (n, module, Map(
        s"query.$n.s" -> med(_.secs),
        s"query.$n.jobs" -> med(r => jobs(r).size.toDouble),
        s"query.$n.shuffle_mb" -> med(shuffleMb),
        s"query.$n.plan_ms" -> med(r =>
          t.planMs.asScala.getOrElse(r.span.id, 0.0))))
    }
    val modules = perQuery.groupBy(_._2).map { case (m, qs) =>
      s"$m.s" -> qs.map { case (n, _, v) => v(s"query.$n.s") }.sum
    }
    filled(perQuery.flatMap(_._3).toMap ++ modules)
  }
}
