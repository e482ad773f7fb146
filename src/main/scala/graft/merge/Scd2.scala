package graft.merge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** E77: SCD Type-2 history-preserving dimension merge — the lakehouse
  * standard for "what did this dimension row look like on date D": every
  * change to a tracked attribute CLOSES the current version (`valid_to` =
  * batch date, `is_current` = false) and opens a new one, so the table
  * accumulates full row history and any as-of date resolves to exactly one
  * version per key. This is the dimension-side sibling of the store's
  * epoch time travel ([[graft.pipeline.Pipeline.readAt]]): `readAt` versions
  * whole SNAPSHOTS, SCD2 versions individual ROWS, and a warehouse needs
  * both (reference analogue: the upsert sinks of `scripts/transformation.py`
  * keep only latest-state rows — SCD2 is what that sink becomes when
  * downstream consumers need history).
  *
  * Scale shape: ONE full-outer equi-join between the current-version slice
  * and the incoming snapshot (both hash-partitioned on the key — a single
  * shuffle each), then a narrow conditional-explode that emits 0/1/2 output
  * rows per joined key. The closed-history slice (`is_current` = false)
  * never joins anything — it unions through untouched, so merge cost is
  * O(current + batch) regardless of how much history has accumulated. No
  * window functions, no per-key loops; at 100 TB the join AQE-splits like
  * any other keyed join. Dimension batches are usually broadcast-size, and
  * Catalyst will pick a broadcast join when the snapshot side fits —
  * full-outer forces a shuffle join, which is the correct conservative
  * default for a dimension of unknown size.
  *
  * Change detection is NULL-SAFE (`<=>`): a tracked column moving between
  * null and a value is a change; two nulls are not. Keys present in the
  * dimension but absent from the batch stay open (partial-batch semantics —
  * the common case for CDC feeds; full-snapshot feeds that must close
  * deletions compose this with a pre-computed deletion batch).
  */
object Scd2 {

  /** Merge `batch` (key + tracked attribute columns) into SCD2 table `dim`
    * (same columns + `valid_from`, `valid_to`, `is_current`), versioning
    * changes as of `batchDate`. Output schema = dim's. Idempotent: merging
    * the same batch at the same date twice is a no-op (unchanged rows are
    * never re-versioned). */
  def merge(dim: DataFrame, batch: DataFrame, keys: Seq[String],
      tracked: Seq[String], batchDate: String): DataFrame = {
    val history = dim.filter(!col("is_current"))
    val current = dim.filter(col("is_current"))
    // duplicate keys in one batch would fan the full-outer join out (the
    // same current row closed N times, N open versions) and silently
    // break the one-version-per-key-per-date invariant forever after —
    // fail loud instead, exactly as Delta MERGE raises "multiple source
    // rows matched". The count rides a window over the batch's own key
    // shuffle (the merge join repartitions on the same keys), so the
    // guard adds no extra exchange of the dimension.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    val batchChecked = batch
      .withColumn("__kn", count(lit(1)).over(w))
      .filter(when(col("__kn") > 1, raise_error(concat(
          lit("Scd2.merge: multiple batch rows for key ("),
          concat_ws(",", keys.map(col): _*),
          lit(") — deduplicate the CDC feed per key before merging"))))
        .otherwise(lit(true)))
      .drop("__kn")
    val keyCond = keys.map(k => col(s"c.$k") === col(s"u.$k"))
      .reduce(_ && _)
    val changed = tracked.map(t => !(col(s"c.$t") <=> col(s"u.$t")))
      .reduce(_ || _)
    val inDimOnly = keys.map(k => col(s"u.$k").isNull).reduce(_ && _)
    val inBatchOnly = keys.map(k => col(s"c.$k").isNull).reduce(_ && _)

    def ver(side: String, from: Column, to: Column, cur: Column) =
      struct((keys ++ tracked).map(c => col(s"$side.$c").as(c)) ++
        Seq(from.as("valid_from"), to.as("valid_to"),
          cur.as("is_current")): _*)

    val curRow = ver("c", col("c.valid_from"), col("c.valid_to"),
      col("c.is_current"))
    val closedRow = ver("c", col("c.valid_from"), lit(batchDate), lit(false))
    val openRow = ver("u", lit(batchDate), lit(null).cast("string"),
      lit(true))

    val emitted = current.alias("c")
      .join(batchChecked.alias("u"), keyCond, "full_outer")
      .select(explode(
        when(inBatchOnly, array(openRow))            // brand-new key
          .when(inDimOnly, array(curRow))            // not in batch: stays
          .when(changed, array(closedRow, openRow))  // version rollover
          .otherwise(array(curRow))                  // unchanged
        ).as("r"))
      .select(col("r.*"))
    history.unionByName(emitted)
  }

  /** E170 (CDC1): apply a CHANGE DATA FEED to the SCD2 dimension — the
    * consumer side of [[graft.pipeline.ChangeFeed.diff]], closing the
    * feed→apply loop E77/E78 document: the feed's `insert` and
    * `update_postimage` rows are the upsert batch (preimages are for
    * aggregate-reversing consumers, not state re-appliers — dropped
    * here), merged through [[merge]] unchanged; `delete` rows CLOSE the
    * key's open version (`valid_to` = batchDate, `is_current` = false) —
    * the case merge's partial-batch semantics deliberately leave open,
    * composed here exactly as merge's scaladoc prescribes (a
    * pre-computed deletion batch). Invariant (spec-pinned): after
    * applying `diff(A, B)` to an SCD2 table whose current slice is A,
    * the current slice IS B, row for row — and A is still resolvable
    * as of the prior date.
    *
    * Scale shape: merge's one full-outer join on the key, plus ONE
    * left join against the delete-key set — which sizes with the
    * feed's churn, not the table (AQE broadcasts it when it fits).
    * Disjoint-key feed chunks commute: applying a key-partitioned feed
    * chunk-by-chunk at one date equals the single apply. */
  def applyFeed(dim: DataFrame, feed: DataFrame, keys: Seq[String],
      tracked: Seq[String], batchDate: String): DataFrame = {
    val cols = keys ++ tracked
    val upserts = feed
      .filter(col("change_type").isin("insert", "update_postimage"))
      .select(cols.map(col): _*)
    // distinct: duplicate delete records for one key are idempotent
    // deletes, not a conflict (unlike duplicate upserts, which merge
    // raise_errors on) — without it a replayed delete row would fan the
    // left join out and duplicate every version of that key
    val delKeys = feed.filter(col("change_type") === "delete")
      .select(keys.map(col): _*).distinct()
      .withColumn("__del", lit(true))
    Scd2.merge(dim, upserts, keys, tracked, batchDate)
      .join(delKeys, keys, "left")
      .select(cols.map(col) ++ Seq(
        col("valid_from"),
        when(coalesce(col("__del"), lit(false)) && col("is_current"),
          lit(batchDate)).otherwise(col("valid_to")).as("valid_to"),
        when(coalesce(col("__del"), lit(false)) && col("is_current"),
          lit(false)).otherwise(col("is_current")).as("is_current")): _*)
  }

  /** Bootstrap an SCD2 table from an initial snapshot: every row opens at
    * `loadDate`. */
  def init(snapshot: DataFrame, loadDate: String): DataFrame =
    snapshot.select(col("*"), lit(loadDate).as("valid_from"),
      lit(null).cast("string").as("valid_to"), lit(true).as("is_current"))

  /** The driver-query fixture: dim = products bootstrapped at `d0`; batch =
    * a deterministic mutation of products (id % 3 == 0 gets cost + 10 —
    * changed; id % 7 == 3 is withheld — must stay open; id % 11 == 0 also
    * arrives as a NEW key at id + 1000000). Mirrored verbatim in
    * [[mergeProductsSql]]. */
  val D0 = "2024-01-01"
  val D1 = "2024-06-01"

  def productsFixture(products: DataFrame): (DataFrame, DataFrame) = {
    val dim0 = init(
      products.select(col("id"), col("category"), col("cost")), D0)
    val base = products.filter(pmod(col("id"), lit(7)) =!= 3)
      .select(col("id"), col("category"),
        when(pmod(col("id"), lit(3)) === 0, col("cost") + 10.0)
          .otherwise(col("cost")).as("cost"))
    val fresh = products.filter(pmod(col("id"), lit(11)) === 0)
      .select((col("id") + 1000000L).as("id"), col("category"), col("cost"))
    (dim0, base.unionByName(fresh))
  }

  def mergeProducts(products: DataFrame): DataFrame = {
    val (dim0, batch) = productsFixture(products)
    merge(dim0, batch, Seq("id"), Seq("category", "cost"), D1)
  }

  /** DuckDB oracle: the same merge as UNION ALL arms (closed + rolled +
    * inserts + untouched) — a different decomposition of the same
    * semantics, which is exactly what an oracle should be. */
  def mergeProductsSql: String = s"""
    WITH dim0 AS (
      SELECT p_partkey AS id, p_type AS category, p_retailprice AS cost,
        '$D0' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
        true AS is_current
      FROM part),
    batch AS (
      SELECT p_partkey AS id, p_type AS category,
        CASE WHEN p_partkey % 3 = 0 THEN p_retailprice + 10.0
             ELSE p_retailprice END AS cost
      FROM part WHERE p_partkey % 7 <> 3
      UNION ALL
      SELECT p_partkey + 1000000 AS id, p_type AS category,
        p_retailprice AS cost
      FROM part WHERE p_partkey % 11 = 0),
    changed AS (
      SELECT d.id FROM dim0 d JOIN batch u USING (id)
      WHERE d.category IS DISTINCT FROM u.category
         OR d.cost IS DISTINCT FROM u.cost)
    SELECT d.id, d.category, d.cost, d.valid_from,
      '$D1' AS valid_to, false AS is_current
    FROM dim0 d JOIN changed USING (id)
    UNION ALL
    SELECT u.id, u.category, u.cost, '$D1' AS valid_from,
      CAST(NULL AS VARCHAR) AS valid_to, true AS is_current
    FROM batch u JOIN changed USING (id)
    UNION ALL
    SELECT u.id, u.category, u.cost, '$D1' AS valid_from,
      CAST(NULL AS VARCHAR) AS valid_to, true AS is_current
    FROM batch u ANTI JOIN dim0 d USING (id)
    UNION ALL
    SELECT d.id, d.category, d.cost, d.valid_from, d.valid_to, d.is_current
    FROM dim0 d ANTI JOIN changed USING (id)"""
}
