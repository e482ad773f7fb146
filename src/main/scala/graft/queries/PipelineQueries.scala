package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QuerySpec
import graft.io.Sources
import graft.io.RefShape.{orders => o, orderItems => oi, products => p,
  sqlCtes => ctes, sqlKpiJoin => kpiJoin}
import graft.kpi.Kpi
import graft.merge.{KpiMerge, Scd2}
import graft.pipeline.ChangeFeed
import graft.validate.Validation

/** The reference pipeline's stages: KPI aggregation, validation and
  * profiling, merge-upsert, SCD2 and the change feed. */
object PipelineQueries {

  private val money = DecimalType(18, 2)

  /** x6's MAD multiple: 1.8 here, not the production default 5 — the
    * synthetic uniform price distribution has NO heavy tail (max ≈ med +
    * 2 MAD), so only a tight k makes the flag arm carry nonzero counts
    * under the oracle. */
  private val outlierK = 1.8

  /** The orders columns v1 and v1x profile, on both engines. */
  private val profiledCols =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")

  /** cdf1/cdc1's shared snapshot pair (ONE definition — the feed and its
    * apply must diff the same relations): %5==4 withheld from the old
    * side (inserts), %7==2 from the new side (deletes), %3==0 price-
    * bumped (update pairs). */
  private def cdfSnapshots(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val ords = o(s, d).select(col("order_id"), col("status"),
      col("total_price"))
    val oldS = ords.filter(pmod(col("order_id"), lit(5)) =!= 4)
    val newS = ords.filter(pmod(col("order_id"), lit(7)) =!= 2)
      .withColumn("total_price",
        when(pmod(col("order_id"), lit(3)) === 0, col("total_price") + 1.0)
          .otherwise(col("total_price")))
    (oldS, newS)
  }

  /** m1's persisted input: the narrow projection of the 3-way join both
    * merge sides filter over. Split out so the bench can time the
    * materialization and the merge as separate phases (m1's
    * [[QuerySpec.Phased]]) while the query itself stays one composition. */
  private def m1Projection(s: SparkSession, d: String): DataFrame =
    // date key on the orders side pre-join (the gapFilledDaily
    // convention: the select would otherwise run substring per JOINED
    // row, items grain); the items side is spread (TextFunctions
    // .spreadSmallScan) because the jall cache build — join + decimal
    // cast + projection — otherwise runs on the fact's 3 input splits
    // (measured: a 2.2 s 3-task build while the second merge half
    // waited on the cache partition locks)
    Kpi.threeWayJoin(o(s, d).withColumn("order_date",
        substring(col("created_at"), 1, 10)),
      graft.functions.TextFunctions.spreadSmallScan(oi(s, d), "order_id"),
      p(s, d))
      .select(col("p.category").as("category"),
        col("o.order_date"),
        col("oi.id").as("id"),
        col("oi.sale_price").cast(money).as("sale_price"),
        col("oi.status").as("status"))

  private def m1Merged(jall: DataFrame): DataFrame = {
    val target = categoryKpiHalf(jall, 0, full = true, "order_items")
    val updates = categoryKpiHalf(jall, 1, full = false, "orders")
    KpiMerge.mergeCategoryKpi(target, updates)
      .withColumn("data_sources", array_join(col("data_sources"), ","))
  }

  /** Category KPI at (category, order_date) grain with a provenance tag —
    * input to the m1 merge query. `half` selects even/odd item ids so the
    * two merge sides overlap on keys but disagree on rows.
    *
    * `jall` is the SINGLE shared 3-way join both merge sides derive from —
    * the caller persists it so the join executes once (the reference runs
    * it twice, `transformation.py:193,205`; our oracle's `jall` CTE is the
    * same factoring). */
  private def categoryKpiHalf(jall: DataFrame, half: Int,
      full: Boolean, source: String): DataFrame = {
    val base = jall.filter(col("id") % 2 === half)
      .groupBy(col("category"), col("order_date"))
    // Exact decimal sum internally; double at the output boundary — pyarrow
    // hands Decimal objects to the driver's compare while the DuckDB oracle
    // hands float64, and their string forms differ on trailing zeros.
    val rev = sum(col("sale_price")).cast("double").as("daily_revenue")
    val kpis =
      if (full) base.agg(rev,
        // zero-denominator guard (Kpi.ratio); NULLIF in the oracle twins
        Kpi.ratio(sum(col("sale_price")).cast("double"),
          count(col("sale_price"))).as("avg_order_value"),
        Kpi.ratio(count(when(col("status") === "returned", true))
          .cast("double"), count(col("id"))).as("avg_return_rate"))
      else base.agg(rev,
        lit(null).cast("double").as("avg_order_value"),
        lit(null).cast("double").as("avg_return_rate"))
    kpis.withColumn("data_sources", array(lit(source)))
  }

  val specs: Seq[QuerySpec] = Seq(

    // §2.4 A1/A5 + §2.3 J1: per-category KPIs over the 3-way join
    // (reference scripts/transformation.py:180-191).
    QuerySpec("a1_category_kpi", (s, d) =>
      Kpi.categoryKpi(Kpi.threeWayJoin(o(s, d), oi(s, d), p(s, d))),
      oracle = s"""$ctes
      SELECT p.category AS category,
        CAST(sum(CAST(oi.sale_price AS DECIMAL(18,2))) AS DOUBLE) AS daily_revenue,
        CAST(sum(CAST(oi.sale_price AS DECIMAL(18,2))) AS DOUBLE) / NULLIF(count(oi.sale_price), 0) AS avg_order_value,
        CAST(count(*) FILTER (WHERE oi.status = 'returned') AS DOUBLE) / NULLIF(count(oi.id), 0) AS avg_return_rate
      $kpiJoin
      GROUP BY 1"""),

    // §2.4 A2: global order KPIs, complete mode (transformation.py:197-203).
    QuerySpec("a2_order_kpi_complete", (s, d) =>
      Kpi.orderKpiComplete(Kpi.threeWayJoin(o(s, d), oi(s, d), p(s, d))),
      oracle = s"""$ctes
      SELECT count(DISTINCT o.order_id) AS total_orders,
        CAST(sum(CAST(oi.sale_price AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        count(oi.id) AS total_items_sold,
        CAST(count(*) FILTER (WHERE oi.status = 'returned') AS DOUBLE) / NULLIF(count(oi.id), 0) AS return_rate,
        count(DISTINCT o.user_id) AS unique_customers
      $kpiJoin"""),

    // A2's documented 100-TB swap (exact countDistinct → HLL++), made
    // EXECUTABLE under the hash gate: per-day exact vs approx distinct
    // users, reduced to (groups, groups-within-bound). The oracle cannot
    // know Spark's HLL++ estimates, but it doesn't need to — the contract
    // is that EVERY group estimate sits within 4σ of exact (rsd 0.05 ⇒
    // 20 %, floor 5 for tiny groups), so both engines emit
    // n_within == n_groups; an out-of-bound estimate turns the row red.
    QuerySpec("a2x_approx_distinct", (s, d) =>
      o(s, d)
        .groupBy(substring(col("created_at"), 1, 10).as("order_date"))
        .agg(countDistinct(col("user_id")).as("exact"),
          approx_count_distinct(col("user_id")).as("approx"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(abs(col("approx") - col("exact")) <=
            greatest(col("exact") * lit(0.2), lit(5.0)), 1L).otherwise(0L))
            .as("n_within")),
      // both approx-swap twins reduce to (n_groups, n_within) where the
      // within-bound count must equal the group count — the oracle never
      // sees the sketch estimates, only the invariant they must satisfy
      oracle = s"""$ctes
      SELECT CAST(count(*) AS BIGINT) AS n_groups,
        CAST(count(*) AS BIGINT) AS n_within
      FROM (SELECT substring(created_at, 1, 10) AS order_date
            FROM o GROUP BY 1)"""),

    // §2.4 A3: order_items_only mode over the items⋈products inner join
    // (transformation.py:211-233).
    QuerySpec("a3_order_kpi_items_only", (s, d) =>
      Kpi.orderKpiItemsOnly(Kpi.itemsProductsJoin(oi(s, d), p(s, d))),
      oracle = s"""$ctes
      SELECT CAST(NULL AS BIGINT) AS total_orders,
        CAST(sum(CAST(oi.sale_price AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        count(oi.id) AS total_items_sold,
        CAST(count(*) FILTER (WHERE oi.status = 'returned') AS DOUBLE) / NULLIF(count(oi.id), 0) AS return_rate,
        CAST(NULL AS BIGINT) AS unique_customers
      FROM oi JOIN p ON oi.product_id = p.id"""),

    // §2.4 A4: orders_only mode (transformation.py:238-244).
    QuerySpec("a4_order_kpi_orders_only", (s, d) =>
      Kpi.orderKpiOrdersOnly(o(s, d)),
      oracle = s"""$ctes
      SELECT count(DISTINCT order_id) AS total_orders,
        CAST(NULL AS DOUBLE) AS total_revenue,
        CAST(NULL AS BIGINT) AS total_items_sold,
        CAST(NULL AS DOUBLE) AS return_rate,
        count(DISTINCT user_id) AS unique_customers
      FROM o"""),

    // §2.4 A6 fused single-pass null/NaN check (validation.py:83-91).
    QuerySpec("a6_null_check", (s, d) => Validation.nullCheck(oi(s, d),
      Seq("id", "order_id", "product_id", "created_at", "sale_price")),
      oracle = s"""$ctes
      SELECT count(*) FILTER (WHERE id IS NULL) AS null_id,
        count(*) FILTER (WHERE order_id IS NULL) AS null_order_id,
        count(*) FILTER (WHERE product_id IS NULL) AS null_product_id,
        count(*) FILTER (WHERE created_at IS NULL
          OR isnan(TRY_CAST(created_at AS DOUBLE))) AS null_created_at,
        count(*) FILTER (WHERE sale_price IS NULL
          OR isnan(sale_price)) AS null_sale_price
      FROM oi"""),

    // E50 (V1): fused table profile — per-column nulls / exact NDV /
    // min / max in ONE scan (the A6 fused philosophy applied to
    // profiling), unpivoted to one row per column.
    QuerySpec("v1_table_profile", (s, d) =>
      Validation.tableProfile(Sources.table(s, d, "orders"), profiledCols),
      oracle = Validation.tableProfileSql("orders", profiledCols)),

    // E167 (DQ1): declarative EXPECTATION suite — the multi-rule DQ
    // report (Great-Expectations / dbt-test shape) as a RULES-AS-DATA
    // operator (round-10 verdict item): the rule set arrives as values
    // (Validation.Rule ADT — the config-driven shape those tools parse
    // from YAML/JSON suites) and the operator GENERATES the fused
    // conditional aggregate from it (the a6/v1 one-scan philosophy; a
    // uniqueness rule rides the same pass's exact NDV), stack()ed to
    // the rule-grain report. NULL semantics live in the rule kinds:
    // domain/range/format treat NULL as a violation (coalesce(test,
    // false)), positivity applies only to present values, and
    // uniqueness counts only NON-NULL duplicate excess — a NULL key
    // belongs to a not-null rule, not the duplicate count. Exact long
    // counts; the report is |rules| bounded rows at any table size.
    QuerySpec("dq1_expectations", (s, d) =>
      Validation.expectations(Sources.table(s, d, "orders"),
        Validation.OrdersExpectations),
      oracle = Validation.expectationsSql("orders",
        Validation.OrdersExpectations)),

    // V1's documented 100-TB swap (exact NDV → HLL++ sketch, no Expand),
    // made executable under the hash gate a2x-style: the NDV column
    // reduces to a per-column within-bound indicator; nulls and min/max
    // compare exactly. Production path: Validation.tableProfileApprox.
    QuerySpec("v1x_table_profile_approx", (s, d) =>
      Validation.tableProfileApproxGate(Sources.table(s, d, "orders"),
        profiledCols),
      oracle = Validation.tableProfileApproxGateSql("orders", profiledCols),
      // the hash gate pays exact NDV (Expand) + HLL in ONE scan to prove
      // the sketch is within bounds (~6 s idle at sf0.1, a top-3 bench
      // leader); the production op is the sketch pass alone
      bench = Some(QuerySpec.Substitute((s, d) =>
        Validation.tableProfileApprox(Sources.table(s, d, "orders"),
          profiledCols)))),

    // §2.3 J3: RI anti-join — items with no parent order (validation.py:100-108).
    QuerySpec("j3_ri_items_without_order", (s, d) =>
      Validation.riViolations(oi(s, d), "order_id", o(s, d), "order_id"),
      oracle = s"""$ctes
      SELECT DISTINCT oi.order_id FROM oi
      WHERE oi.order_id IS NOT NULL
        AND NOT EXISTS (SELECT 1 FROM o WHERE o.order_id = oi.order_id)"""),

    // §2.3 J4: RI anti-join — items with no product (validation.py:110-116).
    QuerySpec("j4_ri_items_without_product", (s, d) =>
      Validation.riViolations(oi(s, d), "product_id", p(s, d), "id"),
      oracle = s"""$ctes
      SELECT DISTINCT oi.product_id FROM oi
      WHERE oi.product_id IS NOT NULL
        AND NOT EXISTS (SELECT 1 FROM p WHERE p.id = oi.product_id)"""),

    // §2.2 P3: NOT-IN as left-anti — parents with no children (non-empty here).
    QuerySpec("p3_anti_orders_without_items", (s, d) =>
      Validation.riViolations(o(s, d), "order_id", oi(s, d), "order_id"),
      oracle = s"""$ctes
      SELECT DISTINCT o.order_id FROM o
      WHERE o.order_id IS NOT NULL
        AND NOT EXISTS (SELECT 1 FROM oi WHERE oi.order_id = o.order_id)"""),

    // §2.6 U1 + §2.1 S2: multi-part union scan then aggregate
    // (validation.py:67-80).
    QuerySpec("u1_union_parts_agg", (s, d) => {
      val path = s"$d/lineitem.parquet"
      Sources.readAndUnion(s, Seq(path, path)).get
        .groupBy(col("l_returnflag")).agg(
          count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast(money)).cast("double").as("sum_qty"))
    }, oracle = """
      SELECT l_returnflag, count(*) AS cnt,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM (SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem)
      GROUP BY 1"""),

    // §2.4 A8: distinct key projection (validation.py:100-101).
    QuerySpec("a8_distinct_keys", (s, d) =>
      oi(s, d).select(col("order_id")).distinct(),
      oracle = s"""$ctes
      SELECT DISTINCT order_id FROM oi"""),

    // §2.2 P1/P4/P7: projection + equality filter + literal column.
    QuerySpec("p1_filter_project", (s, d) =>
      Sources.table(s, d, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .withColumn("dt", lit("2024-06-01")),
      oracle = """
      SELECT l_orderkey, l_linenumber, l_extendedprice, '2024-06-01' AS dt
      FROM lineitem WHERE l_returnflag = 'R'"""),

    // §2.5 W1: processing-date extraction — deterministic min variant of
    // first()["created_at"][:10] (validation.py:191).
    QuerySpec("w1_processing_date", (s, d) =>
      o(s, d).agg(substring(min(col("created_at")), 1, 10).as("processing_date")),
      oracle = s"""$ctes
      SELECT substr(min(created_at), 1, 10) AS processing_date FROM o"""),

    // §2.7 M: keyed merge-upsert with per-field coalesce + provenance union
    // (helperfunction.py:53-208) as full-outer join — Delta MERGE equivalent.
    // The narrow projection of the 3-way join is computed ONCE and
    // persisted — both merge sides are filters over it (id parity), so
    // the join runs once instead of twice. Lifetime contract: the
    // returned frame is lazy, so the cache cannot be released here;
    // Verify/Bench clearCache() after every query, and a library
    // caller owns the same responsibility (spark.catalog.clearCache
    // or unpersist after materializing).
    QuerySpec("m1_merge_category_kpi", (s, d) =>
      m1Merged(m1Projection(s, d).persist()),
      oracle = s"""$ctes,
      jall AS (SELECT p.category, substr(o.created_at, 1, 10) AS order_date,
        oi.id, oi.sale_price, oi.status
        $kpiJoin),
      t AS (SELECT category, order_date,
        CAST(sum(CAST(sale_price AS DECIMAL(18,2))) AS DOUBLE) AS daily_revenue,
        CAST(sum(CAST(sale_price AS DECIMAL(18,2))) AS DOUBLE) / NULLIF(count(sale_price), 0) AS avg_order_value,
        CAST(count(*) FILTER (WHERE status = 'returned') AS DOUBLE) / NULLIF(count(id), 0) AS avg_return_rate
        FROM jall WHERE id % 2 = 0 GROUP BY 1, 2),
      u AS (SELECT category, order_date,
        CAST(sum(CAST(sale_price AS DECIMAL(18,2))) AS DOUBLE) AS daily_revenue,
        CAST(NULL AS DOUBLE) AS avg_order_value,
        CAST(NULL AS DOUBLE) AS avg_return_rate
        FROM jall WHERE id % 2 = 1 GROUP BY 1, 2)
      SELECT COALESCE(u.category, t.category) AS category,
        COALESCE(u.order_date, t.order_date) AS order_date,
        COALESCE(u.daily_revenue, t.daily_revenue) AS daily_revenue,
        COALESCE(u.avg_order_value, t.avg_order_value) AS avg_order_value,
        COALESCE(u.avg_return_rate, t.avg_return_rate) AS avg_return_rate,
        CASE WHEN u.category IS NOT NULL AND t.category IS NOT NULL
               THEN 'order_items,orders'
             WHEN u.category IS NOT NULL THEN 'orders'
             ELSE 'order_items' END AS data_sources
      FROM u FULL OUTER JOIN t
        ON u.category = t.category AND u.order_date = t.order_date""",
      // materialize the persisted 3-way-join projection (the input build
      // both merge sides share), then the two agg halves + full-outer
      // merge consumed from cache — over a third of the reference-surface
      // subset, now decomposed
      bench = Some(QuerySpec.Phased { (s, d) =>
        val jall = m1Projection(s, d).persist()
        Seq(
          ("materialize", () => jall.count()),
          ("merge", () => m1Merged(jall).count()))
      })),

    // E77 (M2): SCD Type-2 history-preserving dimension merge — version
    // rollover on tracked-attribute change via ONE full-outer join +
    // conditional explode; history passes through join-free.
    QuerySpec("m2_scd2_products", (s, d) => Scd2.mergeProducts(p(s, d)),
      oracle = Scd2.mergeProductsSql),

    // E78 (CDF1): change data feed — row-level insert/delete/update_pre/
    // update_post diff between two snapshots (Delta CDF vocabulary);
    // unchanged rows emit nothing, so the feed sizes with the churn.
    // Snapshots derive deterministically from orders: %5==4 withheld
    // from the old side (inserts), %7==2 from the new side (deletes),
    // %3==0 gets a price bump (update pairs).
    QuerySpec("cdf1_store_changes", (s, d) => {
      val (oldS, newS) = cdfSnapshots(s, d)
      ChangeFeed.diff(oldS, newS, Seq("order_id"),
        Seq("status", "total_price"))
    }, oracle = s"""$ctes,
      snapa AS (SELECT order_id, status, total_price FROM o
        WHERE order_id % 5 <> 4),
      snapb AS (SELECT order_id, status,
        CASE WHEN order_id % 3 = 0 THEN total_price + 1.0
             ELSE total_price END AS total_price
        FROM o WHERE order_id % 7 <> 2),
      upd AS (SELECT a.order_id FROM snapa a JOIN snapb b USING (order_id)
        WHERE a.status IS DISTINCT FROM b.status
           OR a.total_price IS DISTINCT FROM b.total_price)
      SELECT b.order_id, b.status, b.total_price, 'insert' AS change_type
      FROM snapb b ANTI JOIN snapa a USING (order_id)
      UNION ALL
      SELECT a.order_id, a.status, a.total_price, 'delete' AS change_type
      FROM snapa a ANTI JOIN snapb b USING (order_id)
      UNION ALL
      SELECT a.order_id, a.status, a.total_price,
        'update_preimage' AS change_type
      FROM snapa a JOIN upd USING (order_id)
      UNION ALL
      SELECT b.order_id, b.status, b.total_price,
        'update_postimage' AS change_type
      FROM snapb b JOIN upd USING (order_id)"""),

    // E170 (CDC1): CDC APPLY — the consumer side of cdf1, closing the
    // feed→apply loop E77/E78 document: the SAME diff(A, B) feed applied
    // to the SCD2 dimension bootstrapped from snapshot A — postimages +
    // inserts merge through m2's one definition, deletes CLOSE their
    // open version. Invariant (spec-pinned): the result's current slice
    // IS snapshot B row-for-row, and A still resolves as of D0.
    QuerySpec("cdc1_apply_feed", (s, d) => {
      val (oldS, newS) = cdfSnapshots(s, d)
      val feed = ChangeFeed.diff(oldS, newS, Seq("order_id"),
        Seq("status", "total_price"))
      Scd2.applyFeed(Scd2.init(oldS, Scd2.D0), feed,
        Seq("order_id"), Seq("status", "total_price"), Scd2.D1)
    },
      // cdc1 oracle: the applied dimension decomposed as UNION ALL arms
      // (the m2 oracle convention) — closed updates, reopened updates,
      // inserts, closed deletes, untouched — over the same snapshot CTEs
      // as cdf1.
      oracle = s"""$ctes,
      snapa AS (SELECT order_id, status, total_price FROM o
        WHERE order_id % 5 <> 4),
      snapb AS (SELECT order_id, status,
        CASE WHEN order_id % 3 = 0 THEN total_price + 1.0
             ELSE total_price END AS total_price
        FROM o WHERE order_id % 7 <> 2),
      upd AS (SELECT a.order_id FROM snapa a JOIN snapb b USING (order_id)
        WHERE a.status IS DISTINCT FROM b.status
           OR a.total_price IS DISTINCT FROM b.total_price),
      ins AS (SELECT b.order_id FROM snapb b
        ANTI JOIN snapa a USING (order_id)),
      del AS (SELECT a.order_id FROM snapa a
        ANTI JOIN snapb b USING (order_id))
      SELECT a.order_id, a.status, a.total_price,
        '${graft.merge.Scd2.D0}' AS valid_from,
        '${graft.merge.Scd2.D1}' AS valid_to, false AS is_current
      FROM snapa a JOIN upd USING (order_id)
      UNION ALL
      SELECT b.order_id, b.status, b.total_price,
        '${graft.merge.Scd2.D1}' AS valid_from,
        CAST(NULL AS VARCHAR) AS valid_to, true AS is_current
      FROM snapb b JOIN upd USING (order_id)
      UNION ALL
      SELECT b.order_id, b.status, b.total_price,
        '${graft.merge.Scd2.D1}' AS valid_from,
        CAST(NULL AS VARCHAR) AS valid_to, true AS is_current
      FROM snapb b JOIN ins USING (order_id)
      UNION ALL
      SELECT a.order_id, a.status, a.total_price,
        '${graft.merge.Scd2.D0}' AS valid_from,
        '${graft.merge.Scd2.D1}' AS valid_to, false AS is_current
      FROM snapa a JOIN del USING (order_id)
      UNION ALL
      SELECT a.order_id, a.status, a.total_price,
        '${graft.merge.Scd2.D0}' AS valid_from,
        CAST(NULL AS VARCHAR) AS valid_to, true AS is_current
      FROM snapa a
      WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.order_id = a.order_id)
        AND NOT EXISTS (SELECT 1 FROM del dl
          WHERE dl.order_id = a.order_id)"""),

    // E174 (CDC2): incremental AGGREGATE maintenance from the feed —
    // the consumer that justifies carrying preimages: per-status
    // count + decimal revenue maintained O(churn) (insert/post = +,
    // delete/pre = −; key changes move rows between groups because the
    // preimage subtracts from the OLD group). The invariant IS the
    // oracle: maintain(agg(A), diff(A, B)) ≡ agg(B), bit for bit — the
    // driver compares the maintained form against the DIRECT aggregate
    // of snapshot B, two genuinely different decompositions.
    QuerySpec("cdc2_incremental_agg", (s, d) => {
      val (oldS, newS) = cdfSnapshots(s, d)
      val feed = ChangeFeed.diff(oldS, newS, Seq("order_id"),
        Seq("status", "total_price"))
      val base = oldS.groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"),
          count(col("total_price")).as("n_vals"),
          sum(col("total_price").cast(money)).as("sum_total"))
      // the ONE double boundary lives at the query edge (the oracle
      // convention) — the operator itself keeps DECIMAL end to end so
      // chained refreshes stay exact
      ChangeFeed.maintainAgg(base, feed, "status", "total_price")
        .withColumn("sum_total", col("sum_total").cast("double"))
    },
      // cdc2 oracle: the DIRECT aggregate of snapshot B — the maintained
      // form must reproduce it exactly (the strongest oracle shape: the
      // invariant itself).
      oracle = s"""$ctes,
      snapb AS (SELECT order_id, status,
        CASE WHEN order_id % 3 = 0 THEN total_price + 1.0
             ELSE total_price END AS total_price
        FROM o WHERE order_id % 7 <> 2)
      SELECT status, count(*)::BIGINT AS n_orders,
        count(total_price)::BIGINT AS n_vals,
        CAST(sum(CAST(total_price AS DECIMAL(18,2))) AS DOUBLE)
          AS sum_total
      FROM snapb GROUP BY 1"""),

    // E87 (V4): equi-depth histogram — the per-column distribution
    // profile a profiler/CBO keeps; exact interior percentile edges
    // (broadcast) + one conditional bucket-count pass; approx_percentile
    // edges are the 100-TB swap.
    QuerySpec("v4_histogram", (s, d) =>
      Validation.equiDepthHistogram(
        Sources.table(s, d, "lineitem"), "l_extendedprice"),
      oracle = Validation.equiDepthHistogramSql(
        "lineitem", "l_extendedprice")),

    // V4's documented 100-TB swap, now EXECUTABLE under the hash gate
    // (a2x/x5x/v1x convention): approx_percentile edges (one mergeable
    // sketch pass, no full-sort percentile) must land inside exact ±0.02
    // rank windows. The bench times the production approx-histogram body
    // (its Substitute); the exact windows are Verify-only gate cost.
    QuerySpec("v4x_histogram_approx", (s, d) =>
      Validation.equiDepthHistogramApproxGate(
        Sources.table(s, d, "lineitem"), "l_extendedprice"),
      // the k1/x5x constant-truth convention: the oracle asserts every
      // approx edge sits inside its exact ±0.02 rank window — a Spark-side
      // sketch drift emits n_within < 9 and hash-mismatches
      oracle = """
      SELECT CAST(9 AS BIGINT) AS n_edges, CAST(9 AS BIGINT) AS n_within""",
      // the gate pays exact percentile windows; production is the
      // approx-edge histogram alone (one sketch pass + bucket counting)
      bench = Some(QuerySpec.Substitute((s, d) =>
        Validation.equiDepthHistogramApprox(
          Sources.table(s, d, "lineitem"), "l_extendedprice")))),

    // E70 (V2): profile drift audit — ref/batch split by the t5 hash
    // convention (first hex digit of md5(doc_id) — doc_id PARITY would
    // correlate perfectly with the round-robin source assignment and
    // put every source wholly in one side), with two planted failures:
    // src3 absent from the batch ("missing") and src5's long docs
    // dropped (mean-chars "drifted"). Other sources' flags reflect
    // genuine sampling noise in ~12-doc half-samples vs the 1/3
    // tolerance — the oracle computes the identical flags either way
    // (at production per-key volumes the mean estimate sharpens and
    // the tolerance is crisp).
    QuerySpec("v2_drift_audit", (s, d) => {
      val docs = Sources.table(s, d, "documents")
      val half = substring(
        graft.functions.TextFunctions.docIdHash(col("doc_id")), 1, 1)
      Validation.driftAudit(
        docs.filter(half < "8"),
        docs.filter(half >= "8" && col("source") =!= "src3" &&
          !(col("source") === "src5" && col("n_chars") > 250)))
    }, oracle = Validation.driftAuditSql(
      """SELECT * FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'""",
      """SELECT * FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '8'
         AND source <> 'src3'
         AND NOT (source = 'src5' AND n_chars > 250)""")),

    // E73 (V3): embedding-space drift audit over int8 codes — the v2
    // split convention on vec_id, with label 3 absent from the batch
    // ("missing" for all its dims) and label 5's positive-first-dim
    // vectors dropped (dim-1 mean collapses toward the negative half →
    // "drifted"; other dims of label 5 shift only by sampling noise).
    QuerySpec("v3_vec_drift", (s, d) => {
      val emb = Sources.table(s, d, "embeddings")
      val half = substring(
        graft.functions.TextFunctions.docIdHash(col("vec_id")), 1, 1)
      Validation.vecDriftAudit(
        emb.filter(half < "8"),
        emb.filter(half >= "8" && col("label") =!= 3 &&
          !(col("label") === 5 && element_at(col("embedding"), 1) > 0f)))
    }, oracle = Validation.vecDriftAuditSql(
      """SELECT * FROM embeddings
         WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8'""",
      """SELECT * FROM embeddings
         WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) >= '8'
         AND label <> 3
         AND NOT (label = 5 AND embedding[1] > 0)""")),

    // E135 (V5): embedding second-moment audit — the exact d×d
    // mean/covariance the PCA/whitening of an embedding store starts
    // from (eigensolve is driver-side on the 2080-row output; THIS
    // one-pass, map-side-combined triangle is the at-scale part).
    // Fixed-point grid codes make the sums exact in any fold order.
    QuerySpec("v5_embedding_cov", (s, d) =>
      Validation.embeddingCovariance(Sources.table(s, d, "embeddings")),
      oracle = Validation.embeddingCovarianceSql("SELECT * FROM embeddings")),

    // E139 (V6): Benford first-digit audit on order totals — the
    // forensic data-quality screen: observed first-digit shares vs the
    // log10(1+1/d) law (expectations injected as shared literals; the
    // digit comes from integer cents, never floating log).
    QuerySpec("v6_benford_audit", (s, d) =>
      Validation.benfordAudit(Sources.table(s, d, "orders"),
        "o_totalprice"),
      oracle = Validation.benfordAuditSql("orders", "o_totalprice")),

    // E146 (V7): per-category revenue concentration — rank-form Gini +
    // top-20% share in exact integer cents (one window pass per
    // category, two guarded boundary divisions). The Lorenz/Pareto
    // audit next to v6's Benford; see Validation.revenueGini.
    QuerySpec("v7_revenue_gini", (s, d) =>
      Validation.revenueGini(oi(s, d), p(s, d)),
      oracle = s"""$ctes,
      ${Validation.revenueGiniSql}"""),

    // E79 (X6): per-group robust outlier screen — median/MAD with a
    // k·MAD threshold (50 % breakdown point; mean/stddev hides the very
    // outliers it should flag). Exact three-pass baseline, all joins
    // broadcast so the fact never shuffles; 100-TB swap is
    // approx_percentile for both quantiles (see Validation.robustOutliers).
    QuerySpec("x6_robust_outliers", (s, d) =>
      Validation.robustOutliers(Sources.table(s, d, "lineitem"),
        "l_returnflag", "l_extendedprice", k = outlierK),
      oracle = Validation.robustOutliersSql(
        "lineitem", "l_returnflag", "l_extendedprice", k = outlierK)),

    // §1.2 compat mode: the reference reads schema-less CSV (everything a
    // string) and relies on PySpark 3.x implicit string→double casts. Under
    // Spark 4 ANSI semantics the parity path is all-strings inputs +
    // explicit try_cast (malformed → NULL, excluded from sums/averages
    // exactly like the implicit cast did).
    QuerySpec("a1c_category_kpi_compat", (s, d) => {
      def strs(df: DataFrame) =
        df.select(df.columns.toSeq.map(c => col(c).cast("string").as(c)): _*)
      // The stringly-typed arm only exercises the columns the reference
      // query touches — project BEFORE the all-strings cast so column
      // pruning still reaches the scan (a whole-table cast would read and
      // re-cast every column for a 6-row output).
      val joined = Kpi.threeWayJoin(
        strs(o(s, d).select("order_id")),
        strs(oi(s, d).select("id", "order_id", "product_id", "status",
          "sale_price")),
        strs(p(s, d).select("id", "category")))
      val price = expr("try_cast(`oi`.`sale_price` AS DOUBLE)")
      joined.groupBy(col("p.category").as("category")).agg(
        sum(price.cast(money)).cast("double").as("daily_revenue"),
        Kpi.ratio(sum(price.cast(money)).cast("double"), count(price))
          .as("avg_order_value"),
        Kpi.ratio(count(when(col("oi.status") === "returned", true))
          .cast("double"), count(col("oi.id"))).as("avg_return_rate"))
    }, oracle = s"""$ctes,
      os AS (SELECT CAST(order_id AS VARCHAR) AS order_id FROM o),
      ois AS (SELECT CAST(id AS VARCHAR) AS id,
        CAST(order_id AS VARCHAR) AS order_id,
        CAST(product_id AS VARCHAR) AS product_id, status,
        CAST(sale_price AS VARCHAR) AS sale_price FROM oi),
      ps AS (SELECT CAST(id AS VARCHAR) AS id, category FROM p)
      SELECT ps.category AS category,
        CAST(sum(CAST(TRY_CAST(ois.sale_price AS DOUBLE) AS DECIMAL(18,2)))
          AS DOUBLE) AS daily_revenue,
        CAST(sum(CAST(TRY_CAST(ois.sale_price AS DOUBLE) AS DECIMAL(18,2)))
          AS DOUBLE) / NULLIF(count(TRY_CAST(ois.sale_price AS DOUBLE)), 0)
          AS avg_order_value,
        CAST(count(*) FILTER (WHERE ois.status = 'returned') AS DOUBLE)
          / NULLIF(count(ois.id), 0) AS avg_return_rate
      FROM os JOIN ois ON os.order_id = ois.order_id
      JOIN ps ON ois.product_id = ps.id
      GROUP BY 1"""),

    // E44 (K1): mergeable HLL distinct sketches — the incremental form of
    // A2's unique_customers. DataSketches HLL at lgK=12 is EXACT below
    // ~2^lgK distincts (coupon mode), so at verify scale (≤ 90 distinct
    // users/day at sf0.1) the per-day estimate equals the oracle's exact
    // count(DISTINCT) — except for coupon hash collisions (~n²/2^26, tiny
    // but nonzero), which would turn an exact-equality gate red on a data
    // change with nothing actually wrong. The gate therefore checks a
    // per-day within-±1 indicator (granular like the exact gate, immune
    // to a single collision), while the sketch column itself stays
    // mergeable across days (hll_union_agg) without ever rescanning
    // history.
    QuerySpec("k1_distinct_sketch", (s, d) =>
      graft.kpi.SketchKpi.dailyUserSketch(o(s, d))
        .select(col("order_date"),
          (abs(hll_sketch_estimate(col("user_sketch")) -
            col("unique_customers")) <= lit(1L)).cast("long")
            .as("est_within_1"),
          col("unique_customers")),
      // k1's sketch estimate is EXACT below ~2^lgK distincts per group
      // (DataSketches HLL coupon mode) up to rare coupon collisions, so the
      // oracle asserts the per-day within-±1 indicator is 1 everywhere and
      // carries the exact count — sketch drift beyond ±1 at this scale is a
      // real bug, not noise.
      oracle = s"""$ctes
      SELECT substring(created_at, 1, 10) AS order_date,
        CAST(1 AS BIGINT) AS est_within_1,
        count(DISTINCT user_id) AS unique_customers
      FROM o GROUP BY 1""")
  )
}
