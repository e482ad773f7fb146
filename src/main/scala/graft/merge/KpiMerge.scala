package graft.merge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyed merge-upsert (reference SURVEY.md §2.7) — the most engine-like piece
  * of the reference: its DynamoDB writers (`scripts/helperfunction.py:53-208`)
  * read the existing item per key, take each new field if non-null else
  * keep the old, union the `data_sources` provenance list, and batch-write.
  * The three order-KPI source modes (`orders_only` / `order_items_only` /
  * `complete`) each set a *subset* of fields and must preserve the rest.
  *
  * Spark formulation: a full-outer join of updates vs target on the key,
  * projecting `coalesce(update.f, target.f)` per field and `array_union`
  * on provenance — Delta's `MERGE INTO ... whenMatched
  * updateExpr(coalesce...) whenNotMatched insertAll` without Delta jars,
  * with ONE shuffle of both sides on the key (a full-outer join cannot
  * broadcast). An update's NULL field must NOT clobber the target's value
  * (`helperfunction.py:149-151,179-181`), and applying the same update
  * twice is a no-op (MergeSpec).
  *
  * This is the m1 query's merge. The KPI store merges only its touched
  * date partitions, KPI-grain rows, so `Pipeline.upsertStore` merges them
  * on the driver with [[KpiSink.mergeItem]]'s rule, which MergeLocalSpec
  * pins equal to this one.
  */
object KpiMerge {

  /** Generic per-field-coalesce merge.
    *
    * @param target    current KPI table
    * @param updates   new KPI rows (null field = "leave existing value")
    * @param keys      join key columns (present in both)
    * @param fields    value columns to merge with coalesce(new, old)
    * @param provenanceCol optional array&lt;string&gt; column set-unioned
    *                  across both sides (reference `data_sources`,
    *                  `helperfunction.py:99-101,153-154,183-201`)
    */
  def merge(target: DataFrame, updates: DataFrame, keys: Seq[String],
      fields: Seq[String], provenanceCol: Option[String] = None): DataFrame = {
    val t = target.as("t")
    val u = updates.as("u")
    val joined = u.join(t, keys, "full_outer")
    val keyCols = keys.map(col)
    val fieldCols = fields.map(f =>
      coalesce(col(s"u.$f"), col(s"t.$f")).as(f))
    val provCols = provenanceCol.toSeq.map { p =>
      // array_union(NULL, x) is NULL, so coalesce each side to empty first;
      // sort for a canonical, order-independent provenance set.
      val empty = array().cast("array<string>")
      array_sort(array_union(
        coalesce(col(s"t.$p"), empty),
        coalesce(col(s"u.$p"), empty))).as(p)
    }
    joined.select(keyCols ++ fieldCols ++ provCols: _*)
  }

  /** Category-KPI merge: key (category, order_date), fields per
    * `scripts/helperfunction.py:84-97`. */
  def mergeCategoryKpi(target: DataFrame, updates: DataFrame): DataFrame =
    merge(target, updates, Seq("category", "order_date"),
      Seq("daily_revenue", "avg_order_value", "avg_return_rate"),
      Some("data_sources"))
}
