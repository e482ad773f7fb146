package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, FilterFileSystem,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Sources

/** Local filesystem that throws [[CrashingFs.Crash]] instead of making its
  * `crashAt`-th mutating call (create, mkdirs, rename, delete): the disk
  * is left as a process crash at that point would leave it. `calls`
  * counts the mutating calls made or attempted. */
class CrashingFs(crashAt: Int)
    extends FilterFileSystem(new RawLocalFileSystem) {
  initialize(URI.create("file:///"), new Configuration())
  var calls = 0

  private def mutate(): Unit = {
    calls += 1
    if (calls == crashAt) throw new CrashingFs.Crash(calls)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    mutate()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def mkdirs(f: Path): Boolean = { mutate(); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mutate(); super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    mutate(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    mutate(); super.delete(f, recursive)
  }
}

object CrashingFs {
  final class Crash(k: Int)
    extends RuntimeException(s"crash at mutating call $k")
}

/** The store's one directory-replace protocol ([[Sources.replaceDir]] and
  * [[Sources.recoverReplace]]) under a crash at every mutating call, with
  * and without an existing live dir: recovery leaves exactly the old or
  * exactly the new content at `live` and no side dir, and a later replace
  * succeeds. No Spark session needed. */
class ReplaceDirSpec extends AnyFunSuite {

  private val clean = new CrashingFs(Int.MaxValue)

  /** (live, staged, aside) in a fresh directory; `live` holds "old" when
    * `withLive`. */
  private def layout(withLive: Boolean): (Path, Path, Path) = {
    val d = new Path(Files.createTempDirectory("graft-replace").toUri)
    val live = new Path(d, "part=1")
    if (withLive) write(clean, live, "old")
    (live, new Path(d, "_part=1.tmp"), new Path(d, "_part=1.old"))
  }

  private def write(fs: FileSystem, dir: Path, content: String): Unit = {
    fs.mkdirs(dir)
    val out = fs.create(new Path(dir, "data"), true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  private def content(dir: Path): Option[String] =
    if (!clean.exists(dir)) None
    else Some(new String(Files.readAllBytes(
      java.nio.file.Paths.get(new Path(dir, "data").toUri)), UTF_8))

  private def replace(fs: FileSystem, sides: (Path, Path, Path),
      content: String): Unit = {
    val (live, staged, aside) = sides
    Sources.replaceDir(fs, live, staged, aside)(write(fs, _, content))
  }

  /** Mutating calls a crash-free replace makes from this layout. */
  private def callsOf(withLive: Boolean): Int = {
    val fs = new CrashingFs(Int.MaxValue)
    replace(fs, layout(withLive), "new")
    fs.calls
  }

  /** Recovery after the crash leaves exactly the old or the new `live`
    * and no side dir, and a later replace lands. */
  private def assertRecovered(sides: (Path, Path, Path),
      old: Option[String], where: String): Unit = {
    val (live, staged, aside) = sides
    Sources.recoverReplace(clean, live, staged, aside)
    val got = content(live)
    assert(got == old || got.contains("new"), s"$where: live holds $got")
    assert(!clean.exists(staged) && !clean.exists(aside),
      s"$where: a side dir survived recovery")
    replace(clean, sides, "newer")
    assert(content(live).contains("newer"), where)
    assert(!clean.exists(staged) && !clean.exists(aside), where)
  }

  test("replaceDir: a crash at every mutating call recovers to exactly " +
      "the old or the new dir") {
    for (withLive <- Seq(true, false)) {
      // recovery's deletes (two beside a live dir, else one), the write's
      // mkdirs and create, the marker, one rename per existing dir, the
      // aside delete
      val n = callsOf(withLive)
      assert(n === (if (withLive) 8 else 6))
      val old = if (withLive) Some("old") else None
      for (k <- 1 to n) {
        val sides = layout(withLive)
        intercept[CrashingFs.Crash](replace(new CrashingFs(k), sides, "new"))
        assertRecovered(sides, old, s"live=$withLive crash at call $k")
      }
    }
  }

  test("recoverReplace: a crash inside recovery is recovered by the next " +
      "recovery") {
    for (withLive <- Seq(true, false); k <- 1 to callsOf(withLive)) {
      val old = if (withLive) Some("old") else None
      // recovery makes at most two mutating calls: j = 3 runs it whole
      for (j <- 1 to 3) {
        val sides = layout(withLive)
        val (live, staged, aside) = sides
        intercept[CrashingFs.Crash](replace(new CrashingFs(k), sides, "new"))
        try Sources.recoverReplace(new CrashingFs(j), live, staged, aside)
        catch { case _: CrashingFs.Crash => () }
        assertRecovered(sides, old,
          s"live=$withLive crash at call $k, recovery crash at call $j")
      }
    }
  }

  test("a torn staged copy is never promoted; a complete one always is") {
    val (live, staged, aside) = layout(withLive = false)
    clean.mkdirs(staged) // torn: no completeness marker
    Sources.recoverReplace(clean, live, staged, aside)
    assert(!clean.exists(live) && !clean.exists(staged))
    // the committer's _SUCCESS alone marks a staged copy complete
    write(clean, staged, "new")
    clean.create(new Path(staged, "_SUCCESS"), true).close()
    write(clean, aside, "old")
    Sources.recoverReplace(clean, live, staged, aside)
    assert(content(live).contains("new") && !clean.exists(aside))
  }
}
