package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The per-batch committed-increment store protocol shared by the
  * streaming operators (E114 near-dup signatures, CDC snapshots):
  * every micro-batch writes its increment to `dir/batch=<id>` with
  * overwrite mode and an explicit `_graft_committed` marker AFTER the
  * parquet lands (`_SUCCESS` is config-dependent on object stores — the
  * store-protocol convention), and readers admit only marked directories,
  * optionally restricted to batches strictly before a given id (the
  * replay-safe view: a replayed batch overwrites its own partial and can
  * never meet its own first attempt as "prior state"). */
object BatchStore {

  val Marker = "_graft_committed"

  /** Idempotent per-batch write: overwrite the batch directory, then
    * mark. Overwrite wiped any prior marker with the dir, so a replay
    * re-commits atomically-enough (marker exists ⇒ parquet complete). */
  def writeBatch(df: DataFrame, dir: String, batchId: Long): Unit = {
    df.write.mode("overwrite").parquet(s"$dir/batch=$batchId")
    touch(df.sparkSession, s"$dir/batch=$batchId/$Marker")
  }

  def touch(spark: SparkSession, path: String): Unit = {
    val p = new HPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(p, true).close()
  }

  /** The ONE committed-batch listing both readers share (union-of-
    * increments [[read]] and latest-snapshot [[graft.streaming.CdcApply
    * .readLatest]] — a protocol change lands in one place): marked,
    * numeric `batch=<id>` directories, optionally strictly before
    * `beforeBatch`. Junk names are skipped, never parsed — including
    * all-digit ids beyond Long range (the Try guard: a directory the
    * store could never have written must not crash the readers). */
  def committedIds(spark: SparkSession, storeDir: String,
      beforeBatch: Option[Long] = None): Seq[Long] = {
    val p = new HPath(storeDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch="))
      .filter(s => s.nonEmpty && s.forall(_.isDigit))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .filter(id => beforeBatch.forall(id < _))
      .filter(id => fs.exists(
        new HPath(s"$storeDir/batch=$id/$Marker")))
      .toIndexedSeq
  }

  /** The COMMITTED store: every marked batch increment (optionally only
    * those strictly before `beforeBatch`), or None when empty. Unmarked
    * (crashed-partial) and non-numeric directories are skipped, never
    * read. */
  def read(spark: SparkSession, storeDir: String,
      beforeBatch: Option[Long] = None): Option[DataFrame] = {
    val ids = committedIds(spark, storeDir, beforeBatch)
    if (ids.isEmpty) None
    else Some(spark.read.parquet(
      ids.map(id => s"$storeDir/batch=$id"): _*))
  }
}
