package graft.io

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

import scala.util.Try

import graft.pipeline.ForkJoin

/** Scan/source/sink combinators (reference SURVEY.md §2.1, S1-S6).
  *
  * Scale notes (100 TB): every reader here is a plain declarative scan, so
  * Catalyst applies predicate pushdown, column pruning, and partition pruning
  * automatically; a multi-path scan of N parts is a single FileScan with one
  * split list (no per-file union nodes), which is what you want for tens of
  * thousands of input files.
  */
object Sources {

  /** F1: `s3://` → `s3a://` scheme rewrite (reference
    * `scripts/transformation.py:18-27`) — the Hadoop connector expects the
    * `s3a` scheme; everything else passes through untouched. */
  def normalizeScheme(path: String): String =
    if (path.startsWith("s3://")) "s3a://" + path.stripPrefix("s3://")
    else path

  /** The Hadoop filesystem holding `path` (scheme-normalized), from the
    * session's Hadoop conf; Hadoop caches one instance per scheme,
    * authority and user. */
  private[graft] def fileSystem(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(normalizeScheme(path)),
      spark.sparkContext.hadoopConfiguration)

  /** S1: primary-format-or-CSV scan. The reference tries Delta and falls back
    * to headered, schema-less CSV (reference `scripts/validation.py:51-64`).
    * Delta jars are not on this classpath, so the lake format here is parquet;
    * the combinator shape (try columnar table, fall back to raw CSV) is the
    * same. Pass a schema to keep the CSV path strongly typed; pass
    * `Schemas.allStrings(s)` for reference-parity stringly typing.
    */
  def readParquetOrCsv(spark: SparkSession, path: String,
      csvSchema: Option[StructType] = None): DataFrame = {
    def csv = {
      val r = spark.read.option("header", "true")
      csvSchema.fold(r)(s => r.schema(s)).csv(path)
    }
    // short-circuit the probe for explicit .csv paths — probing parquet
    // first would cost a doomed footer read per file and a logged error
    if (path.endsWith(".csv")) csv
    else Try(spark.read.parquet(path)).getOrElse(csv)
  }

  /** S2: multi-file scan (reference `scripts/validation.py:67-80`). When a
    * schema is declared and every part is `.csv` — the pipeline's ingest
    * shape — the parts are ONE multi-path CSV scan (one relation, one split
    * list, so listing, split planning and pushdown happen once; each
    * part's header is skipped). The `unionByName` fold remains for the
    * schema-less and mixed-format cases, where parts may disagree on
    * column order.
    */
  def readAndUnion(spark: SparkSession, paths: Seq[String],
      csvSchema: Option[StructType] = None): Option[DataFrame] =
    csvSchema match {
      case Some(s) if paths.nonEmpty && paths.forall(_.endsWith(".csv")) =>
        Some(spark.read.option("header", "true").schema(s).csv(paths: _*))
      case _ =>
        paths.map(readParquetOrCsv(spark, _, csvSchema))
          .reduceOption(_.unionByName(_))
    }

  /** S3: strict single-table scan (reference
    * `scripts/transformation.py:107-119`): None ONLY when nothing exists at
    * `path` — the caller's "table not available" branch. Any other failure
    * (a corrupt or unreadable file, a listing error) propagates: read as
    * "absent", it would silently switch `Pipeline.transformJob` to a
    * partial-data mode and merge NULL KPI fields over a date.
    *
    * The schema comes from one data file's footer read on the driver
    * ([[footerSchema]]), so opening a table launches no Spark job (schema
    * inference runs one per table); the resulting schema equals
    * `spark.read.parquet(path).schema`, partition columns included. A
    * table with no data file is read exactly as inference reads it. */
  def readTable(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new Path(normalizeScheme(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(firstDataFile(fs, fs.getFileStatus(p)) match {
      case Some(f) => spark.read.schema(footerSchema(spark, f)).parquet(path)
      case None => spark.read.parquet(path)
    })
  }

  /** The file whose footer `spark.read.parquet` would infer the schema
    * from (no schema merging): the least data file path, skipping
    * `_`/`.`-prefixed names except `_col=value` partition directories,
    * found depth-first (a directory sorts as its path plus `/`), so only
    * the directories on the way to it are listed. Summary files are not
    * consulted; nothing here writes them. */
  private def firstDataFile(fs: FileSystem, root: FileStatus)
      : Option[FileStatus] = {
    def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) ||
      n.startsWith(".") || n.endsWith("._COPYING_")
    def first(s: FileStatus): Option[FileStatus] =
      if (!s.isDirectory) Some(s)
      else fs.listStatus(s.getPath).filterNot(c => hidden(c.getPath.getName))
        .sortBy(c => c.getPath.toString + (if (c.isDirectory) "/" else ""))
        .iterator.flatMap(first).nextOption()
    first(root)
  }

  /** A parquet file's Spark schema read from its footer on the driver,
    * through Spark's own conversion (the Spark row metadata when the
    * writer stored it, else the parquet types) — what schema inference
    * computes, minus the Spark job inference runs to read the footer.
    * Partition columns are not part of it; the reader infers them from
    * the directory names as before. */
  private def footerSchema(spark: SparkSession, file: FileStatus)
      : StructType = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration))
    val footer = try new Footer(file.getPath, reader.getFooter)
    finally reader.close()
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(conf))
  }

  /** Load one testdata table: `<dir>/<name>.parquet`, its schema read from
    * a footer as [[readTable]] reads it (no inference job). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    readTable(spark, path).getOrElse(spark.read.parquet(path))
  }

  /** Event-time normalizer: epoch MICROSECONDS regardless of the column's
    * physical type. The `events.ts` fixture has shipped as both epoch-nanos
    * int64 (read via the nanosAsLong legacy flag) and parquet
    * `timestamp[us]` (read as TIMESTAMP_NTZ) — and a silent flip between
    * the two once broke every query downstream of `ts`. Every consumer of
    * an event-time column goes through here, so the unit contract lives in
    * ONE place and both physical shapes stay supported:
    *   - timestamp / timestamp_ntz → `unix_micros` (naive values are
    *     interpreted as UTC — sessions here run with
    *     `spark.sql.session.timeZone=UTC`, matching how the DuckDB oracles'
    *     `epoch_us(ts)` reads a naive timestamp);
    *   - long → epoch nanos by the testdata convention, floor-divided
    *     by 1000 (matching the timestamp arm's and DuckDB `//` flooring).
    * Narrow, codegen'd, constant-folded — free at any scale. */
  def epochUs(df: DataFrame, colName: String = "ts"): Column =
    df.schema(colName).dataType match {
      case TimestampType | TimestampNTZType =>
        unix_micros(col(colName).cast(TimestampType))
      // floor division (not bare DIV, which truncates toward zero): the
      // timestamp arm floors via unix_micros, and the normalizer's whole
      // contract is that the physical-shape flip is invisible — pre-1970
      // instants must not disagree by one unit. Subtracting pmod makes
      // the numerator exactly divisible, so DIV's truncation IS floor —
      // all in exact long arithmetic (a double `/` would lose precision
      // at epoch-nano magnitudes > 2^53).
      case LongType =>
        expr(s"(`$colName` - pmod(`$colName`, 1000L)) DIV 1000")
      case other => throw new IllegalArgumentException(
        s"event-time column `$colName`: expected timestamp or epoch-nanos " +
          s"long, got $other")
    }

  /** Event-time normalizer: epoch SECONDS (floor). Same contract as
    * [[epochUs]]. */
  def epochSec(df: DataFrame, colName: String = "ts"): Column =
    df.schema(colName).dataType match {
      case TimestampType | TimestampNTZType =>
        unix_seconds(col(colName).cast(TimestampType))
      case LongType =>
        expr(s"(`$colName` - pmod(`$colName`, 1000000000L)) DIV 1000000000")
      case other => throw new IllegalArgumentException(
        s"event-time column `$colName`: expected timestamp or epoch-nanos " +
          s"long, got $other")
    }

  /** S5: partitioned lake write (reference `scripts/validation.py:121-129`):
    * stamp the literal processing-date partition column and overwrite.
    * Partitioning by `dt` gives downstream readers partition pruning — at
    * 100 TB the transform stage should read `.where($"dt" === date)` and
    * touch one partition, not the whole base path.
    */
  def writePartitioned(df: DataFrame, path: String, dt: String): Unit =
    df.withColumn("dt", lit(dt))
      .write.mode("overwrite").partitionBy("dt").parquet(path)

  /** S5 variant: unpartitioned overwrite (reference products write,
    * `scripts/validation.py:196-199`). */
  def writeUnpartitioned(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** The validation job's three table writes (reference
    * `scripts/validation.py:193-199`), run CONCURRENTLY: `orders` and
    * `order_items` partitioned by `dt` ([[writePartitioned]]), `products`
    * unpartitioned. The writes share no path, so nothing orders them;
    * [[ForkJoin.all]] joins all of them before this returns or throws. */
  def writeValidated(orders: DataFrame, items: DataFrame,
      products: Option[DataFrame], outBase: String, dt: String): Unit = {
    ForkJoin.all(orders.sparkSession)(Seq(
      () => writePartitioned(orders, s"$outBase/orders", dt),
      () => writePartitioned(items, s"$outBase/order_items", dt)) ++
      products.map(p => () => writeUnpartitioned(p, s"$outBase/products")))
    ()
  }

  /** The marker [[replaceDir]] writes into a staged dir once its content
    * is complete; the committer's `_SUCCESS` counts too, but it depends on
    * mapreduce.fileoutputcommitter.marksuccessfuljobs, which object-store
    * configs commonly disable. */
  private val CommittedMarker = "_graft_committed"

  /** Replace the directory `live` by rename-aside, so that a complete
    * copy exists at every instant and a torn write never counts as one:
    *
    *  1. [[recoverReplace]] what an earlier crashed replace left,
    *  2. `write` the new content into `staged` (it may read `live`),
    *  3. mark `staged` complete ([[CommittedMarker]]),
    *  4. rename `live` (if any) to `aside`, then `staged` to `live`,
    *  5. delete `aside`.
    *
    * A crash at any point leaves a state [[recoverReplace]] turns into
    * exactly the old or exactly the new `live` with no side dir; every
    * caller runs it before it next reads or replaces `live`.
    *
    * @return what `write` returned */
  private[graft] def replaceDir[T](fs: FileSystem, live: Path, staged: Path,
      aside: Path)(write: Path => T): T = {
    recoverReplace(fs, live, staged, aside)
    val out = write(staged)
    fs.create(new Path(staged, CommittedMarker), true).close()
    if (fs.exists(live)) renameOrFail(fs, live, aside)
    renameOrFail(fs, staged, live)
    fs.delete(aside, true)
    out
  }

  /** Finish or roll back a crashed [[replaceDir]]. Precedence: a `live`
    * dir is authoritative (side dirs are dropped); else a COMPLETE
    * `staged` copy (marker or `_SUCCESS`) is promoted, the newest content;
    * else the `aside` copy is restored; a torn `staged` alone is deleted.
    * Idempotent, and restartable after a crash inside it. */
  private[graft] def recoverReplace(fs: FileSystem, live: Path, staged: Path,
      aside: Path): Unit = {
    if (fs.exists(live)) {
      fs.delete(aside, true)
      fs.delete(staged, true)
    } else if (fs.exists(new Path(staged, CommittedMarker)) ||
        fs.exists(new Path(staged, "_SUCCESS"))) {
      renameOrFail(fs, staged, live)
      fs.delete(aside, true)
    } else if (fs.exists(aside)) {
      fs.delete(staged, true)
      renameOrFail(fs, aside, live)
    } else fs.delete(staged, true)
    ()
  }

  /** `.<name><suffix>` beside `live`: the side-dir naming of every
    * replace. Spark's partition discovery skips every `.` name, where it
    * would read a `_` name that contains `=` (`_order_date=X.fk.tmp` in a
    * `.hist` version root) as a partition and fail the scan of the dir
    * holding it. */
  private[graft] def sideDir(live: Path, suffix: String): Path =
    new Path(live.getParent, s".${live.getName}$suffix")

  /** The name of the live dir whose [[sideDir]] is named `name`, with
    * either suffix; None for any other name. */
  private[graft] def sideDirOwner(name: String, stagedSuffix: String,
      asideSuffix: String): Option[String] =
    Seq(stagedSuffix, asideSuffix).collectFirst {
      case sfx if name.startsWith(".") && name.endsWith(sfx) &&
          name.length > sfx.length + 1 =>
        name.substring(1, name.length - sfx.length)
    }

  /** `(live, staged, aside)` of every replace under `dir` that left a
    * [[sideDir]] named with either suffix — the arguments of
    * [[recoverReplace]]. */
  private[graft] def replacesUnder(fs: FileSystem, dir: Path,
      stagedSuffix: String, asideSuffix: String): Seq[(Path, Path, Path)] = {
    val names = if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.map(_.getPath.getName)
    names.flatMap(sideDirOwner(_, stagedSuffix, asideSuffix)).distinct
      .map { name =>
        val live = new Path(dir, name)
        (live, sideDir(live, stagedSuffix), sideDir(live, asideSuffix))
      }
  }

  /** Hadoop `FileSystem.rename` reports failure by RETURNING FALSE, not
    * throwing — an unchecked rename can silently drop a table (or, on
    * HDFS, nest `src` inside an existing `dst`). Every swap here must
    * fail loud instead. */
  private[graft] def renameOrFail(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")

  /** S6: JSON result doc (reference `scripts/validation.py:132-142`) — a
    * one-row control message, written driver-side (this is metadata, not
    * data; no reason to spin up a job for it). */
  def writeResultJson(path: String, fields: Map[String, String]): Unit = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    val json = fields.map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }
      .mkString("{", ", ", "}")
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, json)
  }
}
