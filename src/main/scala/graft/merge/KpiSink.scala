package graft.merge

import org.apache.spark.sql.{DataFrame, Row}

import scala.jdk.CollectionConverters._

/** The reference's ACTUAL sink mechanism (SURVEY §2.1 S7/S8): per-partition
  * batch upsert into a keyed KV store from `foreachPartition`
  * (`scripts/helperfunction.py:53-208` via `transformation.py:193-245`) —
  * read the existing item per key, take each new field if non-null else
  * keep the old, union the provenance list, drop null fields, write back.
  *
  * Its per-item rule, [[mergeItem]], is the KPI store's merge too
  * (`Pipeline.mergeLocal`); KpiSinkSpec and MergeLocalSpec test it equal
  * to [[KpiMerge]]'s plan-level form. [[upsert]] is for targets that
  * really are external KV stores. Executor-side I/O shape notes:
  *  - one store client per PARTITION (created inside the closure), never
  *    per row and never serialized from the driver;
  *  - writes are idempotent per key (last-writer-wins per field coalesce),
  *    so Spark task retries are safe — the reference's readme makes the
  *    same idempotency argument for its DynamoDB writers.
  */
object KpiSink {

  /** Minimal KV contract (DynamoDB table analogue): item get/put by
    * composite string key. Implementations must be creatable executor-side
    * via [[KvStoreFactory]]. */
  trait KvStore {
    def get(key: Seq[String]): Option[Map[String, Any]]
    def put(key: Seq[String], item: Map[String, Any]): Unit
  }

  /** Serializable factory — the closure ships the factory, each partition
    * opens its own client (helperfunction.py creates the boto3 resource
    * per call for the same reason). */
  trait KvStoreFactory extends Serializable {
    def open(): KvStore
  }

  /** Merge one row into the store: per-field coalesce(new, old),
    * provenance set-union, null-drop (reference helperfunction.py:38-40,
    * 84-101). */
  private[graft] def mergeItem(existing: Option[Map[String, Any]],
      row: Map[String, Any], fields: Seq[String],
      provenanceCol: String): Map[String, Any] = {
    val old = existing.getOrElse(Map.empty)
    val merged = fields.flatMap { f =>
      (row.get(f).filter(_ != null) orElse old.get(f).filter(_ != null))
        .map(f -> _)
    }.toMap
    // a null provenance value (vs an absent key) must not NPE the cast —
    // filter nulls like KpiMerge's coalesce-to-empty does
    val prov = (old.get(provenanceCol).filter(_ != null).toSeq ++
        row.get(provenanceCol).filter(_ != null).toSeq)
      .flatMap(_.asInstanceOf[scala.collection.Seq[String]]).distinct.sorted
    if (prov.isEmpty) merged else merged + (provenanceCol -> prov)
  }

  /** S7/S8: upsert every row of `updates` into the store, partition-wise.
    *
    * Rows are hash-repartitioned on the key first, so every occurrence of
    * a key lands in ONE partition and its get→merge→put sequence runs on
    * a single task: without this, the same key in two concurrently
    * executing partitions is a classic lost update (both read the same
    * existing item, the second put erases the first's fields/provenance).
    * The shuffle is key-grain (KPI rows), not fact-grain — negligible.
    * Speculative/retried duplicate tasks remain safe because the merge
    * is idempotent per key, not because of ordering. */
  def upsert(updates: DataFrame, keys: Seq[String], fields: Seq[String],
      provenanceCol: String, factory: KvStoreFactory): Unit = {
    import org.apache.spark.sql.functions.col
    val schema = updates.schema
    val keyIdx = keys.map(schema.fieldIndex)
    val names = schema.fieldNames
    updates.repartition(keys.map(col): _*).foreachPartition { rows: Iterator[Row] =>
      val store = factory.open() // per-partition client
      rows.foreach { r =>
        val key = keyIdx.map(i => String.valueOf(r.get(i)))
        store.put(key, mergeItem(store.get(key), names.zip(r.toSeq).toMap,
          fields, provenanceCol))
      }
    }
  }

  /** In-memory store for tests/local mode (shared JVM map — local[*]
    * executors live in the driver process). */
  object InMemory {
    private val tables =
      new java.util.concurrent.ConcurrentHashMap[String,
        java.util.concurrent.ConcurrentHashMap[Seq[String], Map[String, Any]]]()

    def table(name: String)
        : java.util.concurrent.ConcurrentHashMap[Seq[String], Map[String, Any]] =
      tables.computeIfAbsent(name,
        _ => new java.util.concurrent.ConcurrentHashMap())

    def clear(name: String): Unit = table(name).clear()

    def snapshot(name: String): Map[Seq[String], Map[String, Any]] =
      table(name).asScala.toMap

    final case class Factory(name: String) extends KvStoreFactory {
      def open(): KvStore = new KvStore {
        private val t = InMemory.table(name)
        def get(key: Seq[String]): Option[Map[String, Any]] =
          Option(t.get(key))
        def put(key: Seq[String], item: Map[String, Any]): Unit =
          t.put(key, item)
      }
    }
  }
}
