package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

import graft.io.Sources
import graft.kpi.Kpi
import graft.merge.KpiSink
import graft.schema.Schemas
import graft.validate.Validation

/** E60: optimistic-concurrency conflict on the epoch-manifest store — a
  * concurrent writer committed between this writer's snapshot read and its
  * commit (or published the same manifest epoch first). The batch that
  * sees it has NOT modified the store (clean abort) unless the message
  * says otherwise; re-running merges against the new snapshot. The Delta
  * `ConcurrentModificationException` analogue. */
class StoreConflictException(msg: String)
  extends IllegalStateException(msg)

/** A live concurrent writer holds the store's commit lease — this batch
  * aborted CLEAN before touching the store (temp dir removed). Retry
  * after the holder commits; the retry re-merges against the new
  * snapshot via the normal CAS path. Subtype of
  * [[StoreConflictException]] so one catch-and-retry loop handles both
  * the optimistic (epoch moved) and pessimistic (lease held) abort. */
final class StoreLeaseHeldException(msg: String)
  extends StoreConflictException(msg)

/** The reference's two job entry points as library functions
  * (SURVEY.md §3): `Ingest → Validate → Conform` ≙
  * `scripts/validation.py main()` and `Kpi → Merge` ≙
  * `scripts/transformation.py compute_and_store_kpis()` — pure
  * `DataFrame → DataFrame` stages inside, driver-side control flow here.
  * A user of the reference runs the same two steps with the same inputs,
  * outputs, result docs, and error taxonomy — minus the AWS glue.
  */
object Pipeline {

  final case class ValidateResult(status: String, processingDate: Option[String],
      errorType: Option[String], message: Option[String])

  /** Validation job (reference `scripts/validation.py:145-219`):
    * union multi-part inputs, null gate, RI gate, extract processing date,
    * write validated tables partitioned by `dt`, emit the result doc.
    *
    * The null gate, both RI gates and the processing date are ONE action
    * ([[Validation.gate]]) — not the reference's job-per-column loop; the
    * three validated-table writes are the only other actions.
    *
    * Concurrency: the three writes run concurrently
    * ([[Sources.writeValidated]]), and only after the gate has passed — a
    * rejected batch writes nothing. They are all joined before the result
    * doc is emitted and before this returns; a failed write makes the
    * result `failed`/`UNKNOWN` once every other write has finished.
    *
    * `allStringsCompat` is E18's reference-parity mode: it reads the CSV
    * parts schema-less, every column a string, as the reference does.
    */
  def validateJob(spark: SparkSession,
      ordersPaths: Seq[String], itemsPaths: Seq[String],
      productsPath: Option[String], outBase: String,
      resultPath: String,
      allStringsCompat: Boolean = false): ValidateResult = {

    // §1.2 compat: the reference reads headered, schema-less CSV — every
    // column a string. The validation gates (try_cast null/NaN parity, RI
    // anti-joins on string keys, substring date extraction) are written to
    // behave identically on the stringly-typed frames, so the same error
    // taxonomy comes out of either mode (PipelineSpec pins this verbatim).
    def schemaFor(s: StructType): StructType =
      if (allStringsCompat) Schemas.allStrings(s) else s

    def emit(r: ValidateResult): ValidateResult = {
      Sources.writeResultJson(resultPath,
        Map("status" -> r.status) ++
          r.processingDate.map("processing_date" -> _) ++
          r.errorType.map("error_type" -> _) ++
          r.message.map("message" -> _))
      r
    }

    try {
      val orders = Sources.readAndUnion(spark,
        ordersPaths.map(Sources.normalizeScheme), Some(schemaFor(Schemas.orders)))
      val items = Sources.readAndUnion(spark,
        itemsPaths.map(Sources.normalizeScheme),
        Some(schemaFor(Schemas.orderItems)))
      val products = productsPath.map(p =>
        Sources.readParquetOrCsv(spark, Sources.normalizeScheme(p),
          Some(schemaFor(Schemas.products))))

      (orders, items) match {
        case (Some(o), Some(i)) =>
          // W1: the processing date is the DETERMINISTIC
          // min(created_at)[:10], computed inside the gate's one action —
          // not the reference's `first()["created_at"][:10]`
          // (validation.py:191), whichever row the scan yields first.
          val (verdict, minDate) = Validation.gate(o, i, products,
            Schemas.requiredNonNull,
            Some(substring(min(col("created_at")), 1, 10)))
          verdict match {
            case Some(err) =>
              emit(ValidateResult("failed", None, Some(err.errorType),
                Some(err.message)))
            case None =>
              val dt = minDate.orNull
              Sources.writeValidated(o, i, products, outBase, dt)
              emit(ValidateResult("success", Some(dt), None, None))
          }
        case _ =>
          emit(ValidateResult("failed", None, Some("UNKNOWN"),
            Some("orders and order_items inputs are required")))
      }
    } catch {
      case e: Exception =>
        emit(ValidateResult("failed", None, Some("UNKNOWN"),
          Some(Option(e.getMessage).getOrElse(e.getClass.getName))))
    }
  }

  /** S9: read the KPI store table, or an empty frame with the right schema
    * when absent (first run) — the `create_table_if_not_exists` analogue.
    * The explicit schema also pins the partition column's type (partition
    * dirs would otherwise infer `order_date=2024-06-01` as DATE, not
    * STRING).
    *
    * Snapshot read: the latest commit manifest ([[upsertStore]] writes
    * one per batch) is resolved as [[readAt]] resolves any epoch
    * ([[resolveAt]]): only manifest-listed partitions are visible, a swap
    * in flight over this epoch is read from the pre-images it moved to
    * `.hist/<epoch>`, and a listed partition that no root holds fails
    * loud. A reader therefore
    * sees exactly the last COMMITTED batch, also concurrently with a
    * crashed multi-date swap. A store with no manifest is epoch 0 with no
    * partitions: whatever dirs a crashed first commit left are not read.
    *
    * Concurrency contract vs a LIVE writer (writers themselves are
    * serialized by the single-flight runner, T4): resolution re-reads the
    * manifest after planning and retries if the epoch moved, so the
    * returned plan is always pinned to ONE committed snapshot; and because
    * a commit moves each partition it replaces into `.hist/<epoch>`
    * ([[publish]]), where it stays until [[dropOldManifests]] prunes it
    * [[ManifestsToKeep]] epochs later, a reader scanning a pre-image
    * never has its files moved or deleted by a later batch. The residual
    * race is a scan of a LIVE partition still MATERIALIZING when a later
    * batch swaps that partition; renamed-away files then fail the scan
    * loudly (FileNotFoundException — never a torn row mix). There is no
    * automatic retry at that level: the error propagates to whoever ran
    * the action, and calling readOrInit again resolves the new committed
    * snapshot cleanly. */
  def readOrInit(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val fs = Sources.fileSystem(spark, path)
    var attempts = 0
    while (true) {
      val before = latestManifest(fs, path)
      val resolved = resolveAt(spark, fs, path, schema, before)
      // re-validate: a live writer may have committed between the manifest
      // read and the listings inside resolveAt; equal epochs on both sides
      // pin the whole plan to one snapshot
      if (latestManifest(fs, path).epoch == before.epoch) return resolved
      attempts += 1
      if (attempts >= 5)
        throw new IllegalStateException(
          s"store $path: manifest epoch kept moving across $attempts " +
            "resolution attempts — writer is committing faster than a " +
            "reader can plan")
    }
    sys.error("unreachable")
  }

  /** E59: store TIME TRAVEL — read the store exactly as it was at
    * committed `epoch` (the Delta `VERSION AS OF` analogue over the epoch
    * manifests). Historical manifests persist for [[ManifestsToKeep]]
    * epochs behind the current one; the partition content each commit
    * replaced is moved to `<store>.hist/<its base epoch>/` (see
    * [[publish]]) instead of deleted. The manifest is resolved by
    * [[resolveAt]], which fails loud on a partition that cannot be
    * resolved anywhere (expired by [[retentionSweep]] and GC'd): time
    * travel never silently returns a partial snapshot. */
  def readAt(spark: SparkSession, path: String, epoch: Long,
      schema: StructType): DataFrame = {
    val fs = Sources.fileSystem(spark, path)
    resolveAt(spark, fs, path, schema, manifestAt(fs, path, epoch).getOrElse(
      throw new IllegalStateException(
        s"store $path: no manifest for epoch $epoch — it is outside the " +
          s"$ManifestsToKeep-epoch time-travel window or was never " +
          "committed")))
  }

  /** The snapshot manifest `m` committed, per listed partition: the
    * SMALLEST version root `.hist/<h>` with h ≥ `m.epoch` that holds it
    * holds its content AS OF epoch h — the commit over epoch h moved it
    * there, and `.hist/<m.epoch>` is also where a swap in flight over
    * this very snapshot puts it — and no h' with epoch ≤ h' < h existing
    * means the partition was untouched between the two, so the content at
    * h IS the content at `m.epoch`. No version ⇒ the partition was never
    * rewritten after `m.epoch` and the live dir is exact. A partition no
    * root holds FAILS LOUD, and so does one whose deciding version root is
    * mid-replace: a `.hist` purge that crashed inside its
    * [[Sources.replaceDir]] left a side dir of the partition there, and
    * with the partition dir gone the resolution would silently fall
    * through to a later version or to live (the aside copy is no answer
    * either: it still holds the erased rows).
    *
    * The roots are listed once each (manifest partitions never cost a
    * probe apiece), in the direction partitions move — live, then
    * `.hist` — so one that moves mid-resolution is seen in at least one
    * listing. The data read is one scan of exactly the snapshot's dirs. */
  private def resolveAt(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String, schema: StructType,
      m: StoreManifest): DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    if (m.partitions.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // one listing per root: the partitions it holds, and those with a
    // side dir of the `.hist` purge's replace in it
    val pre = PartCol + "="
    def values(names: Seq[String]) =
      names.filter(_.startsWith(pre)).map(_.stripPrefix(pre)).toSet
    def held(root: String): (Set[String], Set[String]) = {
      val dir = new HPath(root)
      val names = if (!fs.exists(dir)) Nil
        else fs.listStatus(dir).toSeq.filter(_.isDirectory)
          .map(_.getPath.getName)
      (values(names),
        values(names.flatMap(Sources.sideDirOwner(_, HistStaged, HistAside))))
    }
    val live = held(path)._1
    val histRoot = new HPath(path + ".hist")
    val versions =
      if (!fs.exists(histRoot)) Nil
      else fs.listStatus(histRoot).toSeq
        .flatMap(s => s.getPath.getName.toLongOption).filter(_ >= m.epoch)
        .sorted.map(h => (s"$path.hist/$h", held(s"$path.hist/$h")))
    // per partition, the first root that holds it or is replacing it
    val deciding = m.partitions.map { pv =>
      pv -> versions.collectFirst {
        case (root, (parts, replacing)) if parts(pv) || replacing(pv) =>
          (root, replacing(pv))
      }
    }
    val midReplace = deciding.collect {
      case (pv, Some((root, true))) => s"$root/$pre$pv" }
    if (midReplace.nonEmpty)
      throw new IllegalStateException(
        s"store $path: epoch ${m.epoch} is not readable — partition " +
          s"version(s) ${midReplace.mkString(", ")} are mid-replace after " +
          "a crashed .hist purge (the pending forget's rerun finishes it)")
    val resolved = deciding.map { case (pv, root) =>
      pv -> root.map { case (r, _) => s"$r/$pre$pv" } }
    val missing = resolved.collect { case (pv, None) if !live(pv) => pv }
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"store $path: epoch ${m.epoch} is no longer reconstructable — " +
          s"partition(s) ${missing.mkString(", ")} are held by no live " +
          "or .hist dir (expired by retention, or lost)")
    val livePv = resolved.collect { case (pv, None) => pv }
    val dataSchema = StructType(schema.filterNot(_.name == PartCol))
    val liveDf =
      if (livePv.isEmpty) Nil
      else Seq(spark.read.schema(schema).parquet(path)
        .where(col(PartCol).isin(livePv: _*)))
    val versioned = resolved.collect { case (pv, Some(dir)) =>
      spark.read.schema(dataSchema).parquet(dir)
        .withColumn(PartCol, lit(pv))
        .select(schema.fieldNames.toSeq.map(col): _*)
    }
    (liveDf ++ versioned).reduce(_ unionByName _)
  }

  private val catSchema = StructType.fromDDL(
    "category STRING, order_date STRING, daily_revenue DOUBLE, " +
      "avg_order_value DOUBLE, avg_return_rate DOUBLE, " +
      "data_sources ARRAY<STRING>, last_updated STRING")
  private val ordSchema = StructType.fromDDL(
    "order_date STRING, total_orders BIGINT, total_revenue DOUBLE, " +
      "total_items_sold BIGINT, return_rate DOUBLE, unique_customers BIGINT, " +
      "data_sources ARRAY<STRING>, last_updated STRING")

  /** Transformation job (reference `scripts/transformation.py:121-260`):
    * read validated tables, availability-branch the KPI families, and
    * merge-upsert into the parquet KPI store (the DynamoDB analogue).
    *
    * `now` is injected for deterministic `last_updated` stamps. Reads prune
    * to the processing date's partition (`dt = processingDate`) — the
    * scale-correct tightening of the reference's full-base-path read,
    * SURVEY §4 row 2.
    *
    * Concurrency: once both KPI families are computed (one action), the
    * `category_kpi` and `order_kpi` commits ([[upsertStore]]) run
    * concurrently ([[ForkJoin.all]]); each keeps its own lease, CAS epoch
    * checks, partition swap and manifest. Both are joined before this returns
    * or throws: a failed commit (say, a held lease) is rethrown only after
    * the other store's commit has finished, and that commit stands — a
    * rerun of the batch is idempotent on it.
    */
  def transformJob(spark: SparkSession, validatedBase: String,
      processingDate: String, storeBase: String,
      now: String): (Long, Long) = {

    def readValidated(name: String): Option[DataFrame] =
      Sources.readTable(spark, s"$validatedBase/$name")
        .map(df => if (df.columns.contains("dt"))
          df.where(col("dt") === processingDate) else df)

    val orders = readValidated("orders")
    val items = readValidated("order_items")
    val products = Sources.readTable(spark, s"$validatedBase/products")

    val sources: Seq[String] =
      (if (orders.nonEmpty) Seq("orders") else Nil) ++
        (if (items.nonEmpty) Seq("order_items") else Nil)

    val (catKpi, ordKpi) = Kpi.computeKpis(orders, items, products)

    // every column but the keys and `data_sources` merges as a coalesced
    // field, last_updated too: updated rows get `now`, untouched target
    // rows keep their old stamp (reference helperfunction.py:73-78,121-125)
    def commit(kpi: Option[DataFrame], store: String, schema: StructType,
        keys: Seq[String]) = () => kpi.map { k =>
      val updates = k
        .withColumn("order_date", lit(processingDate))
        .withColumn("data_sources", typedLit(sources))
        .withColumn("last_updated", lit(now))
        .select(schema.fieldNames.toSeq.map(col): _*)
      upsertStore(spark, s"$storeBase/$store", schema, updates, keys,
        schema.fieldNames.toSeq.diff(keys :+ "data_sources"))
    }.getOrElse(0L)

    val rows = ForkJoin.all(spark)(Seq(
      commit(catKpi, "category_kpi", catSchema, Seq("category", "order_date")),
      commit(ordKpi, "order_kpi", ordSchema, Seq("order_date"))))
    (rows(0), rows(1))
  }

  /** Incremental store merge — the Delta-`MERGE INTO` analogue without
    * Delta jars. The store is PARTITIONED by `order_date`; a batch's
    * updates name a handful of dates (normally one), so the merge:
    *
    *  1. collects ONLY the touched partitions the snapshot holds, through
    *     the snapshot read's plan (new dates read nothing),
    *  2. merges them with the updates per key on the driver
    *     ([[mergeLocal]], the reference's per-item rule),
    *  3. writes each date's merged rows as one local frame to its
    *     partition dir in a sibling temp dir,
    *  4. swaps just those partition directories into the store.
    *
    * Untouched partitions are never read, rewritten, or moved — per-batch
    * I/O is O(touched dates), not O(store), which keeps a daily merge
    * viable against 100 TB of KPI history. The swap is the manual form of
    * dynamic partition overwrite, done by rename so a crash mid-swap
    * leaves the old partitions in `.hist/<epoch>`, never a deleted store. Each batch
    * COMMITS by publishing a `_manifest.<epoch>` after all swaps
    * ([[publish]]), which gives readers ([[readOrInit]]) snapshot
    * isolation across the multi-date swap window: never date A new +
    * date B old.
    *
    * `updates` are KPI-grain rows (keys × touched dates, bounded at any
    * data scale) in a local frame, as [[Kpi.computeKpis]] returns them
    * (any other plan is rejected); their rows come from its
    * `LocalRelation`, with no action. The stored rows of those dates are
    * KPI-grain too, so new and stored dates take one shuffle-free,
    * sort-free, one-file write; row counts come from parquet footers.
    * Measured at local[4]: a new date is 1 Spark job and 1 generated
    * class per store commit; a stored date 1 more job (the collect) and
    * no class that a new-day commit and its snapshot read do not compile.
    *
    * Concurrency: every piece of state a commit touches — lease, manifest,
    * staging dir, `.hist` — is per store path, so commits to
    * DIFFERENT stores (what [[transformJob]] runs concurrently) never
    * interact. Concurrent commits to the SAME store are arbitrated by the
    * lease and the epoch CAS: the loser aborts clean, as between
    * processes.
    *
    * @return total rows in the store after the merge (result-doc metadata;
    *         counted from parquet footers on the driver)
    */
  private[graft] def upsertStore(spark: SparkSession, path: String,
      schema: StructType, updates: DataFrame, keys: Seq[String],
      fields: Seq[String], expectedEpoch: Option[Long] = None,
      leaseTtlMs: Long = DefaultLeaseTtlMs): Long = {
    val fs = Sources.fileSystem(spark, path)
    // a crashed forgetKeys leaves a durable tombstone ([[forgetKeys]]'s
    // crash contract); finish that erasure, under the commit lease
    // ([[recoverUnderLease]]), BEFORE this batch merges
    completePendingForget(spark, path, schema)

    // Optimistic concurrency over the epoch manifest: the merge is
    // read-modify-write against ONE epoch (this one, or the caller's CAS
    // epoch), re-checked under the `_lease` ([[commitSection]]): a moved
    // epoch ([[StoreConflictException]]) or a live holder
    // ([[StoreLeaseHeldException]]) aborts CLEAN, and a retry re-merges.
    val base = latestManifest(fs, path)
    val baseEpoch = expectedEpoch.getOrElse(base.epoch)
    checkEpoch(fs, path, baseEpoch, "before planning")

    val rel = updates.queryExecution.optimizedPlan match {
      case r: LocalRelation => r
      case p => throw new IllegalArgumentException(
        s"store $path: updates must be a local frame, not ${p.nodeName}")
    }
    val toRow = CatalystTypeConverters.createToScalaConverter(rel.schema)
    val rows = rel.data.map(toRow(_).asInstanceOf[Row])
    val dates = rows.map(_.getAs[String](PartCol)).distinct.sorted
    // new dates skip readOrInit, which lists every partition dir
    val stored = dates.filter(base.partitions.toSet)
    val target =
      if (stored.isEmpty) Nil
      else readOrInit(spark, path, schema)
        .where(col(PartCol).isin(stored: _*)).collect().toSeq
    // PER-WRITER staging dir: a shared one would let a second writer
    // clobber the lease holder's staged commit; crashed writers' orphans
    // are GC'd under the lease ([[publish]])
    val tmp = stagingDir(path)
    // each date straight into its partition dir: no sort by the partition
    // column, ONE file (a multi-split local relation writes one per
    // split), and no `_SUCCESS` marker to swap into the store
    val at = schema.fieldIndex(PartCol)
    val dataSchema = StructType(schema.filterNot(_.name == PartCol))
    mergeLocal(schema, target, rows, keys, fields).groupBy(_.getString(at))
      .foreach { case (dt, part) => spark.createDataFrame(part.map(r =>
        Row.fromSeq(r.toSeq.patch(at, Nil, 1))).asJava, dataSchema)
        .coalesce(1).write
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .parquet(s"$tmp/$PartCol=$dt")
      }
    commitSection(fs, path, baseEpoch, leaseTtlMs, staged = Some(tmp))(
      publish(fs, path, tmp, dates, baseEpoch, _, leaseTtlMs))
  }

  /** The store's merge on the driver: per key, [[KpiSink.mergeItem]]
    * folds in the target row, then the update row — a field is the
    * update's if non-null, else the target's; the provenance is
    * set-unioned and sorted. These are [[graft.merge.KpiMerge.merge]]'s
    * semantics (`MergeLocalSpec`), and an absent provenance is written as
    * its `[]`. Keys are string columns; rows come out sorted by key. */
  private[graft] def mergeLocal(schema: StructType, target: Seq[Row],
      updates: Seq[Row], keys: Seq[String], fields: Seq[String]): Seq[Row] = {
    import scala.math.Ordering.Implicits.seqOrdering
    val names = schema.fieldNames.toSeq
    val merged = (target ++ updates).foldLeft(
        Map.empty[Seq[Option[String]], Map[String, Any]]) { (m, r) =>
      val k = keys.map(c => Option(r.getAs[String](c)))
      m.updated(k, KpiSink.mergeItem(m.get(k), r.getValuesMap(names),
        fields, "data_sources") ++ keys.map(c => c -> r.getAs[Any](c)))
    }
    merged.toSeq.sortBy(_._1).map { case (_, item) => Row.fromSeq(names.map(
      n => item.getOrElse(n, if (n == "data_sources") Nil else null)))
    }
  }

  /** Abort CLEAN ([[StoreConflictException]]) unless the store's latest
    * manifest is still at `expected` — the optimistic-concurrency check
    * of every mutator. */
  private def checkEpoch(fs: org.apache.hadoop.fs.FileSystem, path: String,
      expected: Long, stage: String): Unit = {
    val now = latestManifest(fs, path).epoch
    if (now != expected)
      throw new StoreConflictException(
        s"store $path: manifest epoch moved $expected -> $now ($stage)" +
          " — a concurrent writer committed; this call was aborted cleanly" +
          " before touching the store. Re-run against the new snapshot.")
  }

  /** The commit section of every store mutator: take the commit lease (a
    * live holder turns the caller away clean, [[StoreLeaseHeldException]]),
    * re-check under it that the manifest is still at `baseEpoch` — the
    * last clean-abort point, closing the plan→commit CAS window with no
    * writer racing it — and run `body` as the holder; the lease is
    * released however `body` ends. An abort before `body` also deletes
    * the caller's `staged` dir, so nothing but the lease was touched. */
  private def commitSection[T](fs: org.apache.hadoop.fs.FileSystem,
      path: String, baseEpoch: Long, ttlMs: Long = DefaultLeaseTtlMs,
      staged: Option[String] = None)(body: StoreLease => T): T = {
    def dropStaged(): Unit =
      staged.foreach(t => fs.delete(new org.apache.hadoop.fs.Path(t), true))
    val lease =
      try acquireStoreLease(fs, path, baseEpoch, ttlMs)
      catch { case e: Throwable => dropStaged(); throw e }
    try {
      try checkEpoch(fs, path, baseEpoch, "at commit")
      catch { case e: Throwable => dropStaged(); throw e }
      body(lease)
    } finally releaseStoreLease(fs, path, lease)
  }

  /** Publish the partition set staged at `tmp` over `dates` as epoch
    * `baseEpoch + 1`, as the holder of `lease`: a date the staging holds
    * replaces the store's partition, a date it lacks (emptied) is retired
    * from the store and the manifest. Returns the new snapshot's rows.
    *
    * Commit protocol (reader isolation — see [[readOrInit]]):
    *  1. create `<store>.hist/<baseEpoch>`: while the manifest is still
    *     at `baseEpoch` it marks a commit in flight, which
    *     [[rollBack]] undoes (first here, if a crashed writer left one),
    *  2. swap the touched partition dirs: each old live dir moves to
    *     `.hist/<baseEpoch>`, where readers of `baseEpoch` find it,
    *  3. COMMIT: atomically publish `_manifest.<baseEpoch+1>` listing
    *     every committed partition — the single instant the batch becomes
    *     visible. From then on `.hist/<baseEpoch>` is the time-travel
    *     version of what the batch replaced, and stays as it is (a reader
    *     may still be scanning it) until [[dropOldManifests]] prunes it,
    *  4. prune manifests and versions outside the window.
    * A crash at any point leaves either epoch N fully readable (steps
    * 1–2: pre-images in `.hist/N`; uncommitted new dates unlisted) or
    * epoch N+1 fully readable (steps 3–4), never a torn mix. */
  private def publish(fs: org.apache.hadoop.fs.FileSystem, path: String,
      tmp: String, dates: Seq[String], baseEpoch: Long,
      lease: StoreLease, ttlMs: Long): Long = {
    import org.apache.hadoop.fs.{Path => HPath}
    // orphan staging dirs from crashed writers (unique-named): GC'd
    // here UNDER the lease, and only past the TTL, so no live writer's
    // in-progress staging is ever yanked (a writer that stages longer
    // than the TTL loses its swap to renameOrFail and aborts clean —
    // the same bound every other liveness decision uses)
    sweepOrphanStaging(fs, path, exclude = tmp, ttlMs = ttlMs)
    val cur = latestManifest(fs, path)
    // a commit over this epoch that crashed after this writer's recovery
    // sweep ran: undo it before swapping over it
    rollBack(fs, path, cur)
    val present = listPartitionDirs(fs, tmp).toSet
    val retired = dates.filterNot(present)
    // post-commit store size in O(touched), not O(store): the previous
    // total rides the manifest (#rows); the committed partitions (their
    // live dirs: the rollback above and the lease + epoch check pin
    // them) and the staged replacement are counted from parquet
    // footers on the driver — the result is carried forward on the new
    // manifest, so per-batch cost never grows with store age
    val newTotal = cur.rows -
      partitionRows(fs, path, dates.filter(cur.partitions.toSet)) +
      footerRows(fs, new HPath(tmp))
    // versions live OUTSIDE the store dir, where partition discovery
    // never sees them
    val hist = new HPath(s"$path.hist/$baseEpoch")
    fs.mkdirs(hist)
    dates.foreach { dt =>
      swapDir(fs, Option.when(present(dt))(new HPath(s"$tmp/$PartCol=$dt")),
        new HPath(s"$path/$PartCol=$dt"), new HPath(hist, s"$PartCol=$dt"))
    }
    fs.delete(new HPath(tmp), true)
    // fencing check: a takeover (stale-lease break by a writer that
    // judged us dead) must stop us HERE — publishing after being
    // fenced out could overwrite the successor's commit
    verifyStoreLease(fs, path, lease)
    writeManifest(fs, path, baseEpoch + 1,
      (cur.partitions.diff(retired) ++ dates.filter(present)).distinct.sorted,
      newTotal)
    dropOldManifests(fs, path, current = baseEpoch + 1)
    newTotal
  }

  /** Rows in the store's live partition dirs of `parts`, from footers. */
  private def partitionRows(fs: org.apache.hadoop.fs.FileSystem,
      path: String, parts: Seq[String]): Long =
    parts.map(pv =>
      footerRows(fs, new org.apache.hadoop.fs.Path(s"$path/$PartCol=$pv"))).sum

  /** Rows in the parquet data files under `dir`, summed from their footers
    * on the driver (no Spark job); `_`/`.`-prefixed entries are skipped as
    * Spark's file listing skips them. 0 when `dir` is absent. */
  private def footerRows(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Long =
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).iterator.filterNot { s =>
      val n = s.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }.map { s =>
      if (s.isDirectory) footerRows(fs, s.getPath)
      else {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(s, fs.getConf))
        try r.getRecordCount finally r.close()
      }
    }.sum

  /** E100: keyed HARD DELETE over the store — the "right to be
    * forgotten" operator a lake under GDPR/CCPA needs: remove every row
    * matching `keyValues` from the CURRENT snapshot via the same
    * epoch-commit protocol as the batch merge (touched partitions
    * rewritten by left-anti join, emptied partitions retired from the
    * manifest, one atomic manifest publish), and then COMPLETE the
    * erasure in the version store: every `.hist/<epoch>` partition
    * version (the readAt time-travel data, the pre-images this call's own
    * commit moved there included) is rewritten dropping the keys —
    * erasure deliberately trumps a straggling reader of those versions,
    * the same trade Delta makes when VACUUM removes files such a reader
    * might still reference.
    *
    * The pass is IDEMPOTENT and crash-restartable: the history purge
    * runs unconditionally (not gated on current-snapshot hits), so a
    * rerun after a crash between the snapshot commit and the history
    * rewrite finishes the job; time travel to pre-delete epochs still
    * works and returns the forgotten keys' partitions WITHOUT their rows.
    *
    * Crash contract (what makes the rerun guaranteed rather than hoped
    * for): before any mutation the keys are recorded durably as a
    * TOMBSTONE — a parquet directory at `<store>.forget.pending` — and
    * the tombstone is cleared only after the history purge completes.
    * While it is outstanding, [[upsertStore]] and a fresh `forgetKeys`
    * call complete the pending erasure at entry (same key columns are
    * unioned in; a different key set is finished as its own pass first),
    * so a routine batch after a crash can never silently retain the
    * keys. A commit that crashed before its manifest is rolled back like
    * any other ([[rollBack]]), and the rerun erases what it restores.
    *
    * The whole pass, from the tombstone publish to its delete, is ONE
    * [[commitSection]]: another writer's recovery that finds the
    * tombstone half-published is turned away by the held lease, never
    * "recovers" it from under the write. The tombstone publish and each
    * `.hist` rewrite are [[Sources.replaceDir]]s: the leased recovery
    * sweep ([[recoverUnderLease]]) and the purge's per-epoch preamble
    * finish or roll back whichever one a crash interrupted.
    *
    * @return (manifest epoch after the call, rows deleted from the
    *         current snapshot)
    */
  def forgetKeys(spark: SparkSession, path: String, schema: StructType,
      keyValues: DataFrame, keys: Seq[String]): (Long, Long) = {
    import org.apache.hadoop.fs.{Path => HPath}
    require(!keys.contains(PartCol),
      s"forget keys must be data columns, not the partition column $PartCol")
    val fs = Sources.fileSystem(spark, path)
    // finish a tombstone publish a crash left half-swapped BEFORE looking
    // at the pending dir, so the read below always sees a complete record
    recoverUnderLease(fs, path)
    // outstanding tombstone from a crashed prior forget: same key columns
    // fold into this pass (erasure is idempotent); a different key set is
    // completed as its own pass first, clearing its tombstone — before
    // this pass takes the lease, which a nested pass would find held
    val (pendingDir, pendingTmp, pendingOld) = tombstone(path)
    val requested = keyValues.select(keys.map(col): _*)
    val kvIn =
      if (!fs.exists(pendingDir)) requested
      else {
        val pend = spark.read.parquet(pendingDir.toString)
        if (pend.columns.toSet == keys.toSet)
          requested.unionByName(pend.select(keys.map(col): _*))
        else {
          forgetKeys(spark, path, schema, pend, pend.columns.toSeq)
          requested
        }
      }
    val baseEpoch = latestManifest(fs, path).epoch
    commitSection(fs, path, baseEpoch) { lease =>
      // durable tombstone BEFORE any mutation, published by rename-aside
      // (never delete-then-rename — a crash between those two would lose
      // a still-pending prior erasure). Size is request-grain (the
      // distinct keys of one delete request), not data-grain — a bounded
      // write by construction.
      Sources.replaceDir(fs, pendingDir, pendingTmp, pendingOld)(t =>
        kvIn.distinct().coalesce(1).write.parquet(t.toString))
      // the published tombstone is the authoritative key set: re-reading
      // it (instead of keeping the in-memory union plan alive) means a
      // cache eviction can never recompute through the superseded dir
      val kv = spark.read.parquet(pendingDir.toString).persist()
      try {
        val snapshot = readOrInit(spark, path, schema)
        val touched = snapshot.join(kv, keys, "left_semi")
        val deleted = touched.count()
        val epoch =
          if (deleted == 0L) baseEpoch
          else {
            val dates = touched.select(col(PartCol)).distinct()
              .collect().map(_.getString(0)).sorted.toSeq
            val tmp = stagingDir(path) // per-writer, as in upsertStore
            // a fully-emptied partition writes no dir — publish RETIRES it
            snapshot.where(col(PartCol).isin(dates: _*))
              .join(kv, keys, "left_anti")
              .select(schema.fieldNames.toSeq.map(col): _*)
              .write.mode("overwrite").partitionBy(PartCol).parquet(tmp)
            publish(fs, path, tmp, dates, baseEpoch, lease, DefaultLeaseTtlMs)
            baseEpoch + 1
          }
        // history purge — unconditional, so a crashed/partial prior run is
        // finished by a rerun. Versions carry the data columns only (the
        // partition value is the dir name), so read with the explicit
        // data schema and rewrite in place when the keys appear.
        val dataSchema = StructType(schema.filterNot(_.name == PartCol))
        val histRoot = new HPath(path + ".hist")
        if (fs.exists(histRoot)) {
          for (ep <- fs.listStatus(histRoot).toSeq if ep.isDirectory) {
            // recovery preamble: finish (or roll back) any rewrite a
            // crashed purge left, so the pass below starts from live dirs
            Sources.replacesUnder(fs, ep.getPath, HistStaged, HistAside)
              .foreach { case (live, staged, aside) =>
                Sources.recoverReplace(fs, live, staged, aside) }
            for (pd <- fs.listStatus(ep.getPath).toSeq
                 if pd.isDirectory &&
                   pd.getPath.getName.startsWith(PartCol + "=")) {
              val dir = pd.getPath.toString
              val h = spark.read.schema(dataSchema).parquet(dir)
              if (h.join(kv, keys, "left_semi").limit(1).count() > 0)
                Sources.replaceDir(fs, pd.getPath,
                    Sources.sideDir(pd.getPath, HistStaged),
                    Sources.sideDir(pd.getPath, HistAside)) { t =>
                  h.join(kv, keys, "left_anti").coalesce(1)
                    .write.parquet(t.toString)
                }
            }
          }
        }
        // erasure complete (snapshot + every version): retire the
        // tombstone — until this instant a crash re-enters the purge path
        fs.delete(pendingDir, true)
        (epoch, deleted)
      } finally { kv.unpersist(); () }
    }
  }

  /** Side-dir suffixes of the `.hist` purge's [[Sources.replaceDir]]. */
  private val HistStaged = ".fk.tmp"
  private val HistAside = ".fk.old"

  /** (live, staged, aside) of the forget tombstone's
    * [[Sources.replaceDir]]. */
  private def tombstone(path: String)
      : (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path,
        org.apache.hadoop.fs.Path) = {
    import org.apache.hadoop.fs.{Path => HPath}
    (new HPath(path + ".forget.pending"),
      new HPath(path + ".forget.pending.inprogress"),
      new HPath(path + ".forget.pending.old"))
  }

  /** Finish a crashed [[forgetKeys]] whose tombstone is still outstanding
    * — the recovery entry point routine batches call before touching the
    * store, so erasure completes without anyone re-issuing the request.
    * No-op when no tombstone exists. */
  private[graft] def completePendingForget(spark: SparkSession, path: String,
      schema: StructType): Unit = {
    val fs = Sources.fileSystem(spark, path)
    recoverUnderLease(fs, path)
    val pending = tombstone(path)._1
    if (fs.exists(pending)) {
      val pend = spark.read.parquet(pending.toString)
      forgetKeys(spark, path, schema, pend, pend.columns.toSeq)
      ()
    }
  }

  /** E57: manifest-aware retention sweep — expire store partitions whose
    * value sorts below `keepFrom` (dates: "keep the last N days"). The
    * VACUUM every incremental store eventually needs: without it a daily
    * merge accumulates partitions forever and per-store listing cost
    * grows without bound.
    *
    * Ordering is the whole operator: (1) recover any crashed swap
    * ([[recoverUnderLease]] — retention must never commit OVER a
    * half-swap),
    * (2) COMMIT the shrunken partition list as a new manifest epoch —
    * from this instant the expired dates are invisible to every
    * manifest-aware reader, (3) garbage-collect dirs that were ALREADY
    * unlisted before this commit (earlier sweeps' expirations, crash
    * orphans). The just-expired dirs deliberately survive THIS sweep:
    * deleting them in the same invocation that commits would yank files
    * out from under a reader still materializing a plan pinned to the
    * previous epoch — the same live-reader window a batch commit closes
    * by moving what it replaces into `.hist` instead of deleting it. The
    * next sweep (or any later one) finds them unlisted and removes them.
    *
    * @return the partition values expired from the manifest
    */
  def retentionSweep(spark: SparkSession, path: String,
      keepFrom: String): Seq[String] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val fs = Sources.fileSystem(spark, path)
    recoverUnderLease(fs, path)
    val m = latestManifest(fs, path)
    // the whole mutating section (manifest bump + unlisted-dir GC) runs in
    // the commit section: an UNLISTED dir is otherwise indistinguishable
    // from a live writer's freshly swapped new-date partition whose
    // manifest hasn't published yet — unguarded GC would delete it out
    // from under the commit (the round-9 recovery-sweep finding, retention
    // flavor). A live writer turns retention away clean; retry after it
    // commits.
    commitSection(fs, path, m.epoch) { _ =>
      val (keep, drop) = m.partitions.partition(_ >= keepFrom)
      if (drop.nonEmpty) {
        // the expired dirs are still live (deleted by the next sweep), so
        // their footers give the rows leaving the tally
        writeManifest(fs, path, m.epoch + 1, keep.sorted,
          m.rows - partitionRows(fs, path, drop))
        dropOldManifests(fs, path, current = m.epoch + 1)
      }
      // GC only what the PRE-sweep manifest already didn't list — the dirs
      // this sweep just expired stay until the next one (deferred
      // deletion, see scaladoc); under the lease these can only be crash
      // debris, never a live writer's swap
      val preListed = m.partitions.toSet
      listPartitionDirs(fs, path)
        .filterNot(preListed)
        .foreach(pv => fs.delete(new HPath(path, s"$PartCol=$pv"), true))
      drop
    }
  }

  /** E27 under the store protocol: partition compaction of the KPI
    * store in the commit section ([[commitSection]]).
    * `Sources.compactPartitioned` replaces live partition directories
    * ([[Sources.replaceDir]]), so running it beside a committing writer
    * could interleave with that writer's own dir swap; a compaction a
    * crash interrupted is finished by the leased recovery sweep
    * ([[recoverUnderLease]]) before any later mutator or compaction runs.
    * The manifest is untouched (same rows, fewer files ⇒ the epoch does
    * not move). Run it in a read-quiet window like any file-level
    * compaction: a reader mid-scan of a compacted partition can lose
    * files (the store's manifest isolation is partition-grain, not
    * file-grain — the Delta-versioned-file-names trade we did not take). */
  def compactStore(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Map[String, (Int, Int)] = {
    val fs = Sources.fileSystem(spark, path)
    recoverUnderLease(fs, path)
    commitSection(fs, path, latestManifest(fs, path).epoch)(
      _ => Sources.compactPartitioned(spark, path, targetBytes))
  }

  // ---- commit lease -----------------------------------------------------
  //
  // The put-if-absent arbiter over the commit SECTION (E60's last
  // residual): optimistic epoch CAS catches a writer that committed
  // before this batch entered its commit section, and the write-once
  // manifest publish arbitrates the very end — but two writers passing
  // the entry check together would still interleave their partition-dir
  // swaps (reconciled later, yet torn until then). The lease closes that
  // window: `_lease` inside the store dir, created with the FileSystem's
  // create-no-overwrite primitive (atomic on HDFS; the same primitive a
  // Delta LogStore builds its commits on), carrying a monotonic fencing
  // token + owner id + the holder's base epoch.
  //
  // Liveness without a heartbeat: a crashed holder's lease is TAKEN OVER
  // when it is provably finished (its recorded epoch is older than the
  // current manifest — the commit published, only the release was lost)
  // or presumed dead (file age beyond the TTL). Takeover bumps the
  // fencing token; the previous holder, if actually alive, fails its
  // pre-publish [[verifyStoreLease]] and aborts WITHOUT publishing — its
  // half-swapped dirs, with `.hist/<epoch>` in place, are exactly the
  // crash shape [[rollBack]] already reconciles. Clock caveat: the TTL compares the driver clock
  // with the store FileSystem's mtime — keep it generous (default 10
  // min) relative to plausible skew.

  private[graft] final case class StoreLease(token: Long, owner: String,
      epoch: Long)

  private val LeaseName = "_lease"
  private[graft] val DefaultLeaseTtlMs = 600000L
  private val MaxLeaseAttempts = 5

  private def leasePath(path: String) =
    new org.apache.hadoop.fs.Path(path, LeaseName)

  /** None = file absent OR unreadable/torn (caller distinguishes via
    * exists). Format: one line, `token owner epoch`. */
  private def parseLease(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[StoreLease] =
    try {
      val in = fs.open(p)
      val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      raw.trim.split("\\s+") match {
        case Array(t, o, e) => Some(StoreLease(t.toLong, o, e.toLong))
        case _ => None
      }
    } catch { case _: Exception => None }

  /** Acquire the store's commit lease or abort clean. A held lease is
    * honored (StoreLeaseHeldException) unless stale: epoch-fenced (its
    * holder's commit already published — the manifest moved past the
    * lease's recorded epoch) or TTL-expired (holder presumed crashed
    * mid-commit). Stale leases are broken and re-acquired with a BUMPED
    * fencing token; racing breakers are re-arbitrated by
    * create-no-overwrite on the next attempt. */
  private[graft] def acquireStoreLease(fs: org.apache.hadoop.fs.FileSystem,
      path: String, baseEpoch: Long,
      ttlMs: Long = DefaultLeaseTtlMs): StoreLease = {
    val p = leasePath(path)
    val owner = java.util.UUID.randomUUID().toString
    var fence = 1L
    var attempt = 0
    while (attempt < MaxLeaseAttempts) {
      attempt += 1
      if (!fs.exists(p)) {
        val mine = StoreLease(fence, owner, baseEpoch)
        val created =
          try {
            val out = fs.create(p, false)
            try out.write(s"${mine.token} ${mine.owner} ${mine.epoch}"
              .getBytes("UTF-8"))
            finally out.close()
            true
          } catch { case _: java.io.IOException => false } // lost the race
        // re-read after create: on stores whose create-no-overwrite is a
        // non-atomic exists+create (local fs), the read-back is the
        // arbiter — exactly one writer's content survives
        if (created && parseLease(fs, p).contains(mine)) return mine
      } else {
        val existing = parseLease(fs, p)
        val age = try
          System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime
        catch { case _: java.io.IOException => 0L } // vanished: retry loop
        val curEpoch = latestManifest(fs, path).epoch
        val stale = existing match {
          case Some(l) => l.epoch < curEpoch || age > ttlMs
          case None => age > ttlMs // torn lease: only time can condemn it
        }
        if (!stale)
          throw new StoreLeaseHeldException(
            s"store $path: commit lease held by " +
              s"${existing.map(_.owner).getOrElse("<torn lease>")} " +
              s"(age ${age}ms, ttl ${ttlMs}ms) — a concurrent writer is " +
              "in its commit section; this batch aborted cleanly before " +
              "touching the store. Retry after the holder commits.")
        fence = math.max(fence, existing.map(_.token + 1).getOrElse(1L))
        // break the stale lease by RENAME-claim, not delete: rename moves
        // that specific file atomically, so of N racing breakers exactly
        // one wins and the losers' claims fail — a bare delete could land
        // on the FRESH lease another breaker just created (round-9
        // review). The graveyard file is then deleted by the claimant.
        val grave = new org.apache.hadoop.fs.Path(
          p.getParent, s"${p.getName}.broken.$fence." +
            java.util.UUID.randomUUID().toString.take(8))
        val claimed = try fs.rename(p, grave)
        catch { case _: java.io.IOException => false }
        if (claimed) fs.delete(grave, false)
        // claimed or not, loop: either we re-create, or we re-judge the
        // winner's fresh lease (not stale → clean LeaseHeld abort)
      }
    }
    throw new StoreLeaseHeldException(
      s"store $path: could not acquire the commit lease after " +
        s"$MaxLeaseAttempts attempts — writers are churning it; retry.")
  }

  /** Fencing check, called immediately before the manifest publish: the
    * lease on disk must still be OURS (same owner AND token). A takeover
    * (stale-lease break) replaces it — this writer then aborts without
    * publishing, leaving only the crash shape the new holder's
    * [[rollBack]] reconciles. */
  private[graft] def verifyStoreLease(fs: org.apache.hadoop.fs.FileSystem,
      path: String, lease: StoreLease): Unit = {
    val cur = parseLease(fs, leasePath(path))
    if (!cur.contains(lease))
      throw new StoreConflictException(
        s"store $path: commit lease lost before publish (now held by " +
          s"${cur.map(l => s"${l.owner} token=${l.token}").getOrElse("nobody")}," +
          s" ours was token=${lease.token}) — a takeover fenced this " +
          "writer out; aborting without publishing. The new holder " +
          "rolls back the swapped partition dirs.")
  }

  /** Release = delete, but only while the lease is still ours — never
    * yank a successor's lease after being fenced out. Best-effort: a
    * failed delete leaves a lease that is epoch-stale the moment our
    * manifest publish landed, so the next writer breaks it for free. */
  private[graft] def releaseStoreLease(fs: org.apache.hadoop.fs.FileSystem,
      path: String, lease: StoreLease): Unit =
    try {
      // Post-publish our lease is epoch-stale: a successor may break it
      // LEGITIMATELY at any instant, so a parse-then-delete here could
      // remove the successor's fresh lease (round-9 review). Skip the
      // delete on that path — the next writer's epoch-stale break claims
      // it atomically (rename) for free. On the abort path (epoch
      // unchanged) our lease is younger than the TTL by construction, so
      // no breaker can race the matched delete.
      val curEpoch = latestManifest(fs, path).epoch
      if (lease.epoch >= curEpoch &&
          parseLease(fs, leasePath(path)).contains(lease))
        fs.delete(leasePath(path), false)
      ()
    } catch { case _: java.io.IOException => () }

  /** Per-writer staging directory — unique-named so concurrent writers
    * can never clobber each other's staged commit data (the shared
    * `.tmp` did exactly that before the lease was even attempted).
    * Crashed writers' orphans are swept by [[sweepOrphanStaging]]. */
  private def stagingDir(path: String): String =
    path + ".tmp." + java.util.UUID.randomUUID().toString.take(8)

  /** GC crashed writers' staging dirs (`<store>.tmp*` siblings,
    * including the legacy shared `.tmp` name). Runs ONLY under the
    * commit lease, and only deletes dirs idle past the TTL — a live
    * writer refreshes nothing mid-stage, so the TTL is the same bound
    * every liveness decision here uses; a writer staging longer than the
    * TTL fails its swap (renameOrFail) and aborts clean. */
  private def sweepOrphanStaging(fs: org.apache.hadoop.fs.FileSystem,
      path: String, exclude: String, ttlMs: Long): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val store = new HPath(path)
    val parent = store.getParent
    if (parent == null) return
    val prefix = store.getName + ".tmp"
    val now = System.currentTimeMillis()
    try fs.listStatus(parent).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith(prefix) && name != new HPath(exclude).getName &&
          now - st.getModificationTime > ttlMs)
        fs.delete(st.getPath, true)
    } catch { case _: java.io.IOException => () } // GC is best-effort
    // graveyard files a crashed lease-breaker left between its
    // rename-claim and delete: garbage from the instant of the rename
    // (nothing ever reads a broken lease), deletable by anyone
    try fs.listStatus(store).foreach { st =>
      if (st.getPath.getName.startsWith(LeaseName + ".broken."))
        fs.delete(st.getPath, false)
    } catch { case _: java.io.IOException => () }
  }

  /** Crash-recovery sweep under the commit lease: a LIVE holder's
    * in-flight commit looks exactly like a crashed one, so recovery only
    * proceeds as the lease holder, and a live writer turns the caller
    * away clean ([[StoreLeaseHeldException]]) BEFORE any mutation. It
    * finishes or rolls back each interrupted [[Sources.replaceDir]] of
    * the store (the forget tombstone, a compaction's partitions), then
    * the interrupted commit ([[rollBack]]). The lease is only taken when
    * there is evidence of interrupted work, so the common no-crash path
    * stays `exists` probes and two listings of the store root. */
  private[graft] def recoverUnderLease(fs: org.apache.hadoop.fs.FileSystem,
      path: String, ttlMs: Long = DefaultLeaseTtlMs): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val (pending, pendingTmp, pendingOld) = tombstone(path)
    val compactions = Sources.crashedCompactions(fs, new HPath(path))
    val epoch = latestManifest(fs, path).epoch
    val evidence = fs.exists(new HPath(s"$path.hist/$epoch")) ||
      fs.exists(pendingOld) || fs.exists(pendingTmp) || compactions.nonEmpty
    if (!evidence) return
    val l = acquireStoreLease(fs, path, epoch, ttlMs)
    try {
      Sources.recoverReplace(fs, pending, pendingTmp, pendingOld)
      compactions.foreach { case (live, staged, aside) =>
        Sources.recoverReplace(fs, live, staged, aside) }
      // re-read under the lease: a writer may have committed since
      rollBack(fs, path, latestManifest(fs, path))
    } finally releaseStoreLease(fs, path, l)
  }

  // ---- commit manifest --------------------------------------------------
  //
  // `_manifest.<epoch>` inside the store dir (underscore-prefixed files are
  // invisible to Spark's partition discovery, like `_SUCCESS`). Content:
  // line 1 = the partition column name (always [[PartCol]]), a `#rows=`
  // line, then the committed partition values, one per line. The epoch
  // lives in the filename so readers pick the max without parsing, and
  // publication is a write-to-`.inprogress` + rename — atomic on a
  // correct FileSystem.

  /** The store's one partition column. */
  private final val PartCol = "order_date"

  /** `rows` = committed row count of the snapshot: lets the per-batch
    * merge report the post-merge store size in O(touched) instead of
    * re-scanning the whole store. */
  private[graft] final case class StoreManifest(epoch: Long,
      partitions: Seq[String], rows: Long)

  /** What a store with no manifest holds: nothing, at epoch 0. */
  private val NoManifest = StoreManifest(0L, Nil, 0L)

  private val ManifestName = """_manifest\.(\d+)""".r

  /** How many committed epochs stay readable through [[readAt]]: manifests
    * (and the `.hist` partition versions that back them) older than this
    * window behind the current epoch are pruned at each commit. The Delta
    * analogue is `delta.logRetentionDuration` — a small constant, because
    * every retained epoch holds a full copy of each partition it
    * replaced. */
  private[graft] val ManifestsToKeep = 16L

  private def readManifestFile(fs: org.apache.hadoop.fs.FileSystem,
      epoch: Long, p: org.apache.hadoop.fs.Path): StoreManifest = {
    val in = fs.open(p)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    def bad(what: String) =
      throw new IllegalStateException(s"manifest $p: $what")
    lines match {
      case PartCol :: rest =>
        StoreManifest(epoch,
          rest.filter(l => l.nonEmpty && !l.startsWith("#")),
          rest.collectFirst { case s"#rows=$n" => n.trim.toLong }
            .getOrElse(bad("no #rows line")))
      case _ => bad(s"not partitioned by $PartCol")
    }
  }

  private[graft] def latestManifest(fs: org.apache.hadoop.fs.FileSystem,
      path: String): StoreManifest = {
    import org.apache.hadoop.fs.{Path => HPath}
    val root = new HPath(path)
    if (!fs.exists(root)) return NoManifest
    val candidates = fs.listStatus(root).flatMap(s => s.getPath.getName match {
      case ManifestName(e) => Some(e.toLong -> s.getPath)
      case _ => None
    })
    candidates.sortBy(-_._1).headOption.fold(NoManifest) { case (epoch, p) =>
      readManifestFile(fs, epoch, p)
    }
  }

  private[graft] def manifestAt(fs: org.apache.hadoop.fs.FileSystem,
      path: String, epoch: Long): Option[StoreManifest] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val p = new HPath(path, s"_manifest.$epoch")
    if (!fs.exists(p)) None else Some(readManifestFile(fs, epoch, p))
  }

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem, path: String,
      epoch: Long, partitions: Seq[String], rows: Long): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val tmp = new HPath(path, s"_manifest.$epoch.inprogress")
    fs.delete(tmp, false) // leftover from a crash mid-publish
    val out = fs.create(tmp, true)
    val body = PartCol +: s"#rows=$rows" +: partitions
    try out.write(body.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    // a manifest epoch is write-once: an existing file means a concurrent
    // writer already published this epoch — the final arbiter of the
    // commit race (on stores whose rename is atomic-no-overwrite, HDFS
    // style, the rename itself backstops the pre-check)
    val dst = new HPath(path, s"_manifest.$epoch")
    if (fs.exists(dst)) {
      fs.delete(tmp, false)
      throw new StoreConflictException(
        s"store $path: manifest epoch $epoch was already published by a " +
          "concurrent writer during this commit section — swapped " +
          "partition dirs may disagree with the winning manifest. Two " +
          "writers commit at once only when one's commit lease was taken " +
          "over while it still ran: raise the lease TTL above the " +
          "longest commit.")
    }
    Sources.renameOrFail(fs, tmp, dst)
  }

  /** Prune manifests (and the `.hist` versions that back them) outside the
    * [[ManifestsToKeep]] window behind `current`. A `.hist/<h>` dir is
    * reachable only through [[readAt]] of some kept epoch T ≤ h, so once
    * the oldest kept manifest passes h the version is garbage. */
  private def dropOldManifests(fs: org.apache.hadoop.fs.FileSystem,
      path: String, current: Long): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val oldestKept = current - ManifestsToKeep + 1
    // prune ONLY below the retention window. An epoch ABOVE `current` can
    // only be a concurrent writer's newer committed manifest — deleting it
    // would erase their commit record while their swapped dirs stay live,
    // exactly the lost-update the write-once publish (E60) arbitrates
    // against; never touch it.
    fs.listStatus(new HPath(path)).foreach(s => s.getPath.getName match {
      case ManifestName(e) if e.toLong < oldestKept =>
        fs.delete(s.getPath, false)
      case _ => ()
    })
    val histRoot = new HPath(path + ".hist")
    if (fs.exists(histRoot))
      fs.listStatus(histRoot).foreach { s =>
        scala.util.Try(s.getPath.getName.toLong).toOption
          .filter(_ < oldestKept)
          .foreach(_ => fs.delete(s.getPath, true))
      }
  }

  private[graft] def listPartitionDirs(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[String] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val root = new HPath(path)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(PartCol + "="))
      .map(_.getPath.getName.stripPrefix(PartCol + "="))
  }

  /** Crash recovery, as the lease holder, against the latest manifest
    * `m`: `.hist/<m.epoch>` means a commit over `m` crashed before its
    * manifest ([[publish]] step 1). Each partition it moved there goes
    * back over its (half-replaced) live dir, the live dirs `m` does not
    * list — the crashed commit's new dates — are deleted, and so is the
    * `.hist/<m.epoch>` dir: the store is again exactly the snapshot
    * readers were being served, and the retried batch merges against
    * it. A crash inside the rollback leaves a state the next one
    * finishes. */
  private def rollBack(fs: org.apache.hadoop.fs.FileSystem, path: String,
      m: StoreManifest): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val hist = new HPath(s"$path.hist/${m.epoch}")
    if (fs.exists(hist)) {
      fs.listStatus(hist).foreach { s =>
        val dst = new HPath(path, s.getPath.getName)
        if (fs.exists(dst)) fs.delete(dst, true)
        Sources.renameOrFail(fs, s.getPath, dst)
      }
      val committed = m.partitions.toSet
      listPartitionDirs(fs, path)
        .filterNot(committed)
        .foreach(pv => fs.delete(new HPath(path, s"$PartCol=$pv"), true))
      fs.delete(hist, true)
    }
  }

  /** Crash-safe partition swap: move the old `dst` (if any) to `old`,
    * then `src` (if any) into `dst` — without `src` the partition is
    * retired. A failure leaves either the old data or old-at-`old` +
    * new-in-temp, never nothing. */
  private def swapDir(fs: org.apache.hadoop.fs.FileSystem,
      src: Option[org.apache.hadoop.fs.Path],
      dst: org.apache.hadoop.fs.Path,
      old: org.apache.hadoop.fs.Path): Unit = {
    if (fs.exists(dst)) Sources.renameOrFail(fs, dst, old)
    src.foreach { s =>
      if (!fs.exists(dst.getParent)) fs.mkdirs(dst.getParent)
      Sources.renameOrFail(fs, s, dst)
    }
  }
}
