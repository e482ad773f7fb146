package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guards on `src/main/scala`: sessions are built only by
  * the one factory ([[Session]]), and the only mains are Verify and Bench
  * (correctness dump and benchmark), ScaleSweep and Dev. A new builder
  * copy or a one-off harness main fails here. No Spark session needed. */
class EntryPointSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (path relative to `src/main/scala`, source) of every Scala file. */
  private lazy val sources: Seq[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))
    finally walk.close()
  }

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
}
