package graft.kpi

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-day distinct-count sketches — the 100-TB form of A2's
  * `unique_customers`.
  *
  * The exact `countDistinct` (reference `scripts/transformation.py:203`,
  * kept verbatim in [[Kpi.orderKpiComplete]]) is correct per batch but
  * NOT mergeable: two days' unique-customer counts cannot be added (users
  * overlap). A Datasketches HLL sketch stored next to the exact count per
  * day is mergeable: sketches union associatively and idempotently
  * (`hll_union_agg`), so a cross-day distinct needs no rescan of raw
  * history.
  *
  * Spark ships the whole family codegen-compatible (`hll_sketch_agg`,
  * `hll_union_agg`, `hll_sketch_estimate` — Apache DataSketches HLL under
  * the hood), so this is composition, not a custom expression.
  * `lgK = 12` ⇒ 2^12 registers ≈ 1.6 % standard error and ≤ 4 KB per
  * sketch; below ~k distincts the sparse representation is EXACT.
  *
  * The sketch BYTES cannot be hash-compared cross-engine (DuckDB's HLL
  * internals differ), but the ESTIMATE can: below ~2^lgK distincts the
  * coupon representation is exact, so the `k1_distinct_sketch` driver
  * query pins per-day estimates against the oracle's exact
  * `count(DISTINCT)`.
  */
object SketchKpi {

  /** 2^12 registers: ~1.6 % relative standard error, ≤ 4 KB serialized. */
  val DefaultLgK = 12

  /** Per-day user sketch rows — the store-row shape: one row per
    * `order_date` carrying the mergeable sketch alongside the exact
    * per-day count (the exact field stays reference-faithful; the sketch
    * makes cross-day questions incremental). */
  def dailyUserSketch(orders: DataFrame, lgK: Int = DefaultLgK): DataFrame =
    orders
      .groupBy(substring(col("created_at"), 1, 10).as("order_date"))
      .agg(
        hll_sketch_agg(col("user_id"), lgK).as("user_sketch"),
        countDistinct(col("user_id")).as("unique_customers"))
}
