package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guards on `src/main/scala`: sessions are built only by
  * the one factory ([[Session]]), the only mains are Verify and Bench
  * (correctness dump and benchmark), ScaleSweep and Dev, and every
  * top-level definition is named by code outside itself. A new builder
  * copy, a one-off harness main or a component nothing calls fails
  * here. No Spark session needed. */
class EntryPointSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (path relative to `dir`, source) of every Scala file under `dir`. */
  private def scalaFiles(dir: Path): Seq[(String, String)] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => dir.relativize(p).toString -> Files.readString(p))
    finally walk.close()
  }

  private lazy val sources: Seq[(String, String)] = scalaFiles(root)

  private def filesMatching(pattern: String): Set[String] =
    sources.collect { case (p, src) if pattern.r.findFirstIn(src).isDefined => p }.toSet

  test("SparkSession.builder appears only in graft/Session.scala") {
    assert(filesMatching("""SparkSession\s*\.\s*builder""") ===
      Set("graft/Session.scala"))
  }

  test("the only mains are Bench, Verify, ScaleSweep and Dev") {
    assert(filesMatching("""def\s+main\s*\(|extends\s+App\b""") === Set(
      "graft/Bench.scala", "graft/Verify.scala",
      "graft/tools/ScaleSweep.scala", "graft/tools/Dev.scala"))
  }

  // ---- reachability ------------------------------------------------------

  /** Top-level definitions that no other code names, each kept for the
    * stated reason. Everything else under `src/main/scala` must be named
    * by code in another file (or by another top-level definition of its
    * own file) under `src/main/scala` or `perfbench/scala`. */
  private val unreachedKeep: Map[String, String] = Map(
    "Bench" -> "main: the benchmark, started by `runMain graft.Bench`",
    "Verify" -> "main: the correctness dump, started by `runMain graft.Verify`",
    "ScaleSweep" -> "main: fan-out scaling curves, started by `runMain`",
    "Dev" -> "main: run | explain | stages of named queries",
    "GraftExtensions" -> "loaded by class name from the `spark.sql.extensions` conf",
    "KpiSink" -> "MIGRATION.md's KV writer for the reference's DynamoDB upsert",
    // reached only by their specs, and named in src/main only by
    // comments; whether they stay is open on ROADMAP direction 8
    "CdcApply" -> "streaming twin of cdc1_apply_feed",
    "StreamNearDedup" -> "streaming twin of d15's incremental dedup",
    "StreamFrameNearDup" -> "streaming twin of mm3x's frame near-dup",
    "StreamTopK" -> "streaming twin of e6_daily_top_keys",
    "SkewJoin" -> "the salting exhibit next to AQE's skew-join split")

  /** Source with comments removed. String and char literals are kept
    * verbatim: comment markers inside one are text, and a name spliced
    * into an interpolation still counts. */
  private def code(src: String): String =
    """(?s)"{3}.*?"{3}"*|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'|/\*.*?\*/|//[^\n]*""".r
      .replaceAllIn(src, m =>
        if (m.matched.startsWith("/")) ""
        else scala.util.matching.Regex.quoteReplacement(m.matched))

  private val topLevel =
    """(?m)^(?:(?:private(?:\[\w+\])?|protected|final|sealed|abstract|case|implicit)\s+)*(?:object|class|trait)\s+(\w+)""".r

  /** (file, name) of every top-level definition under `src/main/scala`
    * that no code outside the definition names. */
  private lazy val unreached: Seq[(String, String)] = {
    val main = sources.map { case (p, s) => p -> code(s) }
    val bench = scalaFiles(Paths.get("perfbench/scala")).map(_._2).map(code)
    main.flatMap { case (file, src) =>
      val decls = topLevel.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
      val spans = decls.zip(decls.drop(1).map(_._1) :+ src.length)
        .map { case ((start, name), end) => (name, src.substring(start, end)) }
      decls.map(_._2).distinct.filterNot { name =>
        val named = s"\\b$name\\b".r
        def names(s: String) = named.findFirstIn(s).isDefined
        main.exists { case (f, s) => f != file && names(s) } ||
          bench.exists(names) ||
          spans.exists { case (n, s) => n != name && names(s) }
      }.map(file -> _)
    }
  }

  test("every top-level definition in src/main is named by code outside it") {
    val orphans = unreached.filterNot { case (_, n) => unreachedKeep.contains(n) }
    assert(orphans.isEmpty, "no code names these; delete them or give a " +
      s"reason in unreachedKeep: ${orphans.mkString(", ")}")
  }

  test("every unreachedKeep entry is a top-level definition nothing names") {
    assert(unreached.map(_._2).toSet === unreachedKeep.keySet)
  }
}
