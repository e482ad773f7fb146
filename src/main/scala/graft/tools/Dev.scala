package graft.tools

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{Session, SparkEntry}

/** Dev main over the registered queries (`SparkEntry.queries`).
  *  - `run`: show each query's first 20 rows (full stack on error);
  *  - `explain`: print each query's formatted physical plan;
  *  - `stages`: run each query twice (cold, then warm) and print per
  *    pass its Janino compiles and compile ms, and per stage its wall
  *    ms, tasks, input and shuffle read/write and the job description —
  *    the stage budget of the real operators, measured, not guessed.
  *
  * Usage: runMain graft.tools.Dev run|explain|stages <sfDir> <query>[,<query>...]
  * on `local[SPARK_GRAFT_CPUS]` (default 4); other confs as `-Dspark.x=y`. */
object Dev {
  val Usage = "usage: Dev run|explain|stages <sfDir> <query>[,<query>...]"

  def main(args: Array[String]): Unit = {
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    try run(spark, args) finally spark.stop()
  }

  /** Runs one mode on the caller's session (which stays open); bad
    * arguments fail with [[Usage]] before any query is built. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    def fail(why: String): Nothing =
      throw new IllegalArgumentException(s"$why\n$Usage")
    val (mode, sfDir, names) = args match {
      case Array(m, d, qs) => (m, d, qs.split(",").map(_.trim).toSeq)
      case _ => fail(s"expected 3 arguments, got ${args.length}")
    }
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) fail(s"unknown query: ${unknown.mkString(", ")}")
    def query(n: String) = SparkEntry.queries(n)(spark, sfDir)
    mode match {
      case "run" => names.foreach { n =>
        println(s"\n===== $n")
        query(n).show(20, false)
      }
      case "explain" => names.foreach { n =>
        println(s"\n===== $n")
        query(n).explain("formatted")
      }
      case "stages" => stages(spark, names, query)
      case _ => fail(s"unknown mode: $mode")
    }
  }

  private final case class Stage(id: Int, job: Int, desc: String,
      name: String, tasks: Int, ms: Long, in: Long, sr: Long, sw: Long)

  private def stages(spark: SparkSession, names: Seq[String],
      query: String => DataFrame): Unit = {
    val sc = spark.sparkContext
    // written on the listener bus thread, read after each drain
    val done = mutable.ArrayBuffer.empty[Stage]
    val stageJob = mutable.Map.empty[Int, (Int, String)]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        j.stageIds.foreach(sid => stageJob(sid) = (j.jobId, desc))
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val ms = (for { a <- i.completionTime; b <- i.submissionTime }
          yield a - b).getOrElse(-1L)
        val m = i.taskMetrics
        val (job, desc) = stageJob.getOrElse(i.stageId, (-1, ""))
        done += Stage(i.stageId, job, desc, i.name.takeWhile(_ != '\n').take(60),
          i.numTasks, ms, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten)
      }
    }
    sc.addSparkListener(listener)
    try names.foreach { n =>
      for (pass <- 1 to 2) {
        org.apache.spark.graft.ListenerDrain.drain(sc)
        done.clear()
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val compileNs0 = CodeGenerator.compileTime
        val t0 = System.nanoTime()
        query(n).count()
        val dt = (System.nanoTime() - t0) / 1e9
        org.apache.spark.graft.ListenerDrain.drain(sc)
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
        val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
        spark.catalog.clearCache()
        println(f"\n===== $n pass $pass: $dt%.2f s, ${done.size} stages, ${done.map(_.tasks).sum} tasks, $compiles compiles, $compileMs%.1f compile ms")
        done.sortBy(_.id).foreach { s =>
          println(f"  [j${s.job}%3d s${s.id}%3d] ${s.ms}%6d ms ${s.tasks}%4d tasks  in=${s.in / 1024}%8d KB  sr=${s.sr / 1024}%7d KB  sw=${s.sw / 1024}%7d KB  ${s.name}  | ${s.desc.take(50)}")
        }
      }
    } finally sc.removeSparkListener(listener)
  }
}
