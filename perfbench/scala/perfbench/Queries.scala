package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The query_mix workload: registered `SparkEntry.queries` of the modules
  * the pipeline workload never reaches, each timed by materializing every
  * output column into the `noop` sink. */
object Queries {

  /** Query -> the module it exercises: one query of each module the
    * pipeline workload never reaches. d16 runs d9's connected components
    * plus survivor election, g4 is the label propagation loop. The cold
    * check pass, three timed passes and the DuckDB comparison must fit the
    * benchmark's time budget, so t9 is left out (its oracle alone takes
    * longer than a pass), and so are the kpi, validate and merge queries
    * (a1, j3, m1): daily_trickle runs those modules on every batch. */
  val Mix: Seq[(String, String)] = Seq(
    "d16_dedup_survivors" -> "dedup",
    "g4_lpa_communities" -> "operators",
    "t15_bm25" -> "text",
    "mm3x_frame_neardup60" -> "multimodal")

  /** Untimed pass that also warms the session (each query's first run): every query's result
    * written to `<dump>/<name>` with the oracle SQL beside it, for the
    * DuckDB comparison. Returns the queries that threw. */
  def dumpPass(spark: SparkSession, data: String, dump: String,
      log: String => Unit): Seq[String] = {
    val failed = Mix.flatMap { case (name, _) =>
      try {
        SparkEntry.queries(name)(spark, data).coalesce(1).write
          .mode("overwrite").parquet(s"$dump/$name")
        None
      } catch {
        case e: Exception =>
          log(s"$name failed in the check pass: $e"); Some(name)
      } finally spark.catalog.clearCache()
    }
    val json = Mix.map { case (name, _) =>
      s"${Json.str(name)}: ${Json.str(SparkEntry.oracleSql(name))}"
    }.mkString("{", ",\n", "}")
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"), json)
    failed
  }

  final case class QRun(name: String, secs: Double, ok: Boolean, span: Span)

  /** `passes` whole passes over the mix. */
  def run(spark: SparkSession, tracer: Tracer, data: String, passes: Int,
      log: String => Unit): Seq[QRun] = {
    val runs = mutable.ArrayBuffer.empty[QRun]
    (1 to passes).foreach { _ =>
      Mix.foreach { case (name, _) =>
        var ok = true
        val (_, s) = tracer.span(name) {
          try SparkEntry.queries(name)(spark, data).write.format("noop")
            .mode("overwrite").save()
          catch {
            case e: Exception => ok = false; log(s"$name failed: $e")
          }
        }
        // caches an operator left behind must not squat on memory while
        // the next query runs; dropped outside the timed window
        spark.catalog.clearCache()
        runs += QRun(name, s.secs, ok, s)
      }
    }
    runs.toSeq
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
