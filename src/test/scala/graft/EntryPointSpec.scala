package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guards on `src/main/scala`: sessions are built only by
  * the one factory ([[Session]]), the only mains are Verify and Bench
  * (correctness dump and benchmark), ScaleSweep and Dev, and every
  * top-level definition, and every public member of a top-level object,
  * is named by code outside itself. A new builder copy, a one-off
  * harness main or a component or member nothing calls fails here. No
  * Spark session needed. */
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
    "RefShape" -> "used through renaming imports (`RefShape.{orders => o, ...}`) by the query families")

  /** Public members of top-level objects (and of the templates nested in
    * them) that no code outside their own declaration names, each kept
    * for the stated reason. Keyed by the dotted path from the top-level
    * object. Everything else must be named by code under `src/main/scala`
    * or `perfbench/scala` outside its declaration. */
  private val memberKeep: Map[String, String] = Map(
    // parity oracles: the composed form each native kernel is checked against
    "Similarity.dotFold" -> "parity oracle of the native dot kernel",
    "Similarity.quant8Fold" -> "parity oracle of the native int8 quantizer",
    "TextFunctions.spanHashesFromThFold" -> "parity oracle of the native span hashes",
    "Validation.nullCheckPerColumn" -> "parity oracle of the one-action null gate",
    // MIGRATION.md's map from the reference's AWS pieces
    "Validation.missingHeaders" -> "MIGRATION.md: the s3_validation header check",
    "Runner.quarantine" -> "MIGRATION.md: the s3_validation quarantine move",
    "ChangeFeed.betweenEpochs" -> "MIGRATION.md: change data feed between store epochs",
    "Pipeline.retentionSweep" -> "MIGRATION.md: retention / VACUUM of the store",
    "Debounce.streamingBatches" -> "MIGRATION.md: chunk creation on TTL expiry",
    "Debounce.streamingBatchesEventTime" -> "MIGRATION.md: the event-time form of the TTL chunker",
    "Debounce.toEventT" -> "MIGRATION.md: the event-time chunker's input adapter",
    "KpiSink.upsert" -> "MIGRATION.md: the KV upsert a real DynamoDB target implements",
    "KpiSink.InMemory" -> "MIGRATION.md: the in-memory KV target of KpiSink",
    "KpiSink.InMemory.Factory" -> "MIGRATION.md: the per-partition factory of the in-memory target",
    // the BatchRunner API beside tick
    "BatchRunner.assembleChunks" -> "BatchRunner API: the pure debounce chunker",
    "BatchRunner.streamChunks" -> "BatchRunner API: the streaming chunk driver",
    "BatchRunner.LogAlerter.alerts" -> "BatchRunner API: what the log alerter sent",
    "Pipeline.compactStore" -> "store compaction, on ROADMAP direction 3's crash enumeration",
    "Multimodal.TopBitsFrameCodec" -> "pins the FrameCodec seam that mm4 runs through")

  /** Source with comments and `package`/`import` lines removed: a
    * package clause names its own members, and every imported name must
    * be used in code anyway (`-Wunused:imports -Werror`). String and char
    * literals are kept verbatim: comment markers inside one are text, and
    * a name spliced into an interpolation still counts. */
  private def code(src: String): String = {
    val noComments =
      """(?s)"{3}.*?"{3}"*|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'|/\*.*?\*/|//[^\n]*""".r
        .replaceAllIn(src, m =>
          if (m.matched.startsWith("/")) ""
          else scala.util.matching.Regex.quoteReplacement(m.matched))
    """(?m)^[ \t]*(?:package|import)\b.*$""".r.replaceAllIn(noComments, "")
  }

  private val topLevel =
    """(?m)^(?:(?:private(?:\[\w+\])?|protected|final|sealed|abstract|case|implicit)\s+)*(?:object|class|trait)\s+(\w+)""".r

  /** (file, comment-free source) under `src/main/scala`, and the
    * comment-free sources under `perfbench/scala`. */
  private lazy val mainCode: Seq[(String, String)] =
    sources.map { case (p, s) => p -> code(s) }
  private lazy val benchCode: Seq[String] =
    scalaFiles(Paths.get("perfbench/scala")).map(_._2).map(code)

  /** Whether code under `src/main/scala` outside `file`, or under
    * `perfbench/scala`, or the `inFile` parts of `file`, names `name`. */
  private def named(name: String, file: String, inFile: Seq[String]): Boolean = {
    val word = s"\\b$name\\b".r
    def names(s: String) = word.findFirstIn(s).isDefined
    mainCode.exists { case (f, s) => f != file && names(s) } ||
      benchCode.exists(names) || inFile.exists(names)
  }

  /** (file, name) of every top-level definition under `src/main/scala`
    * that no code outside the definition names. */
  private lazy val unreached: Seq[(String, String)] =
    mainCode.flatMap { case (file, src) =>
      val decls = topLevel.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
      val spans = decls.zip(decls.drop(1).map(_._1) :+ src.length)
        .map { case ((start, name), end) => (name, src.substring(start, end)) }
      decls.map(_._2).distinct.filterNot { name =>
        named(name, file, spans.collect { case (n, s) if n != name => s })
      }.map(file -> _)
    }

  test("every top-level definition in src/main is named by code outside it") {
    val orphans = unreached.filterNot { case (_, n) => unreachedKeep.contains(n) }
    assert(orphans.isEmpty, "no code names these; delete them or give a " +
      s"reason in unreachedKeep: ${orphans.mkString(", ")}")
  }

  test("every unreachedKeep entry is a top-level definition nothing names") {
    assert(unreached.map(_._2).toSet === unreachedKeep.keySet)
  }

  // ---- member reachability -----------------------------------------------

  /** A member declaration at a line start: modifiers, kind, name. */
  private val memberDecl =
    """(?m)^[ \t]*((?:@\w+\s+|(?:override|private(?:\[\w+\])?|protected(?:\[\w+\])?|final|sealed|abstract|implicit|lazy|case)\s+)*)(def|val|var|object|class|trait|type)\s+(\w+)""".r

  private val topObject =
    """(?m)^(?:(?:private(?:\[\w+\])?|protected|final|sealed|abstract|case|implicit)\s+)*object\s+(\w+)""".r

  /** `src` with the braces inside string and char literals blanked, so
    * brace matching sees only code braces; offsets are unchanged. */
  private def codeBraces(src: String): String =
    """(?s)"{3}.*?"{3}"*|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'""".r
      .replaceAllIn(src, m => scala.util.matching.Regex.quoteReplacement(
        m.matched.map(c => if (c == '{' || c == '}') ' ' else c)))

  /** Index of the brace that closes the one at `open`. */
  private def closing(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while ({
      if (s(i) == '{') depth += 1 else if (s(i) == '}') depth -= 1
      depth > 0
    }) i += 1
    i
  }

  private final case class Member(path: String, name: String, mods: String,
      kind: String, start: Int, end: Int)

  /** Every member declared in the template body between the braces at
    * `open` and `close`, recursing into nested object, class and trait
    * bodies; any other block (a method body, a lambda) is skipped whole.
    * A member's declaration runs to the next sibling's start. */
  private def members(s: String, open: Int, close: Int, outer: String): Seq[Member] = {
    val m = memberDecl.pattern.matcher(s).useAnchoringBounds(false)
    def find(from: Int): Option[(Int, Int, String, String, String)] = {
      m.region(from, close)
      if (m.find()) Some((m.start, m.end, m.group(1), m.group(2), m.group(3)))
      else None
    }
    def upTo(c: Char, from: Int): Int = {
      val k = s.indexOf(c.toInt, from)
      if (k < 0 || k > close) close else k
    }
    val own = scala.collection.mutable.ArrayBuffer.empty[Member]
    val nested = Seq.newBuilder[Member]
    var i = open + 1
    var next = find(i)
    while (next.isDefined) {
      val (start, header, mods, kind, name) = next.get
      val brace = upTo('{', i)
      if (brace < start) i = closing(s, brace) + 1
      else {
        val stop = Seq(upTo('{', header), upTo('}', header),
          find(header).fold(close)(_._1)).min
        val body = s(stop) == '{' && Set("object", "class", "trait")(kind)
        val end = if (body) closing(s, stop) else start
        if (body) nested ++= members(s, stop, end, s"$outer.$name")
        own += Member(s"$outer.$name", name, mods, kind, start, end)
        i = if (body) end + 1 else header
      }
      next = find(i)
    }
    val starts = own.drop(1).map(_.start) :+ close
    own.zip(starts).map { case (d, to) => d.copy(end = math.max(d.end, to)) }
      .toSeq ++ nested.result()
  }

  /** (file, dotted path) of every public `def`/`val`/`object`/`class` of
    * a top-level object (or a template nested in one) under
    * `src/main/scala` that no code outside its own declaration names. */
  private lazy val unreachedMembers: Seq[(String, String)] =
    mainCode.flatMap { case (file, src) =>
      val b = codeBraces(src)
      topObject.findAllMatchIn(b).toSeq.flatMap { t =>
        val open = b.indexOf('{', t.end)
        members(b, open, closing(b, open), t.group(1))
      }.filter { d =>
        Set("def", "val", "object", "class")(d.kind) &&
          """\b(override|private|protected)\b""".r.findFirstIn(d.mods).isEmpty
      }.filterNot(d => named(d.name, file,
        Seq(src.substring(0, d.start), src.substring(d.end))))
        .map(file -> _.path)
    }

  test("every public member of a top-level object in src/main is named by code outside it") {
    val orphans = unreachedMembers.filterNot { case (_, p) => memberKeep.contains(p) }
    assert(orphans.isEmpty, "no code names these; delete them or give a " +
      s"reason in memberKeep: ${orphans.mkString(", ")}")
  }

  test("every memberKeep entry is a public member nothing names") {
    assert(unreachedMembers.map(_._2).toSet === memberKeep.keySet)
  }
}
