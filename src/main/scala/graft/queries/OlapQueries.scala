package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QuerySpec
import graft.io.Sources
import graft.io.RefShape.{orders => o, orderItems => oi, products => p,
  sqlCtes => ctes, sqlKpiJoin => kpiJoin}
import graft.kpi.Kpi

/** Analytics over the reference shape and the events table: rollups,
  * windows, gap-filled series, TPC-H-style supplier queries, funnels and
  * the event-stream operators. */
object OlapQueries {

  private val money = DecimalType(18, 2)

  /** Shared by x9/x10: brand×calendar-day spine (generated off a broadcast
    * 1-row bounds agg — sized by the CALENDAR, not the data), daily revenue
    * left-joined on, forward-filled in DECIMAL (`ffill_dec`). */
  private def gapFilledDaily(s: SparkSession, d: String): DataFrame = {
    // daily is consumed TWICE (the fused bounds+brands agg, the spine
    // join) — without a persist Spark re-runs the fact join+agg per
    // consumer. It is brand×day grain (calendar-bounded, tiny at any SF),
    // so caching is the right trade at 100 TB too. Lifetime contract as
    // in m1: Verify/Bench clearCache() after every query.
    // the day key is evaluated on the ORDERS side BEFORE the join:
    // grouping by to_date(substring(created_at)) directly would run the
    // string→date conversion once per JOINED row (items grain, ~4× the
    // orders), and Catalyst does not push grouping expressions below a
    // join on its own. Same expression, same values, order grain.
    val o2 = o(s, d).withColumn("d",
      to_date(substring(col("created_at"), 1, 10)))
    // items side spread (the m1Projection lesson, r16-measured here too):
    // the fact join + decimal aggregation otherwise runs on the items
    // table's 3 input splits — the dominant stage of all 7 series
    // queries (x17 profile: a 623-904 ms 3-task stage while 29 cores
    // idled). Cache-layout levers were MEASURED AND REJECTED here (r16):
    // a brand-only post-agg repartition is defeated by
    // spark.sql.requireAllClusterKeysForCoPartition (joins reject
    // partial-key co-partitioning — both sides re-exchanged on
    // (brand, d) anyway), and an exact (brand, d) repartition collapses
    // into the aggregation's own exchange inside the cached plan while
    // the spine join STILL re-exchanges the cache read (the
    // dedup-aliased second cache reference does not surface the cached
    // partitioning) — plan-verified no-ops, family wall unchanged.
    val daily = Kpi.threeWayJoin(o2,
        graft.functions.TextFunctions.spreadSmallScan(oi(s, d), "order_id"),
        p(s, d))
      .groupBy(col("p.brand").as("brand"), col("o.d"))
      .agg(sum(col("oi.sale_price").cast(money)).as("rev_dec"))
      .persist()
    // bounds AND the brand list in ONE aggregation over the cached daily
    // (previously three scaffold consumers — bounds agg, brand-distinct,
    // spine cross join — three scheduled stage chains per x-query). The
    // brand set is the low-cardinality dimension, so the single-row
    // collect_set is calendar/catalog-bounded at any SF; exploding it
    // back out replaces the crossJoin(broadcast(bounds)) scaffold with
    // the same (brand × full calendar range) row set.
    val bb = daily.agg(min(col("d")).as("mn"), max(col("d")).as("mx"),
      collect_set(col("brand")).as("brands"))
    val spine = bb
      .select(explode(col("brands")).as("brand"), col("mn"), col("mx"))
      .select(col("brand"), explode(sequence(col("mn"), col("mx"))).as("d"))
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col("brand")).orderBy(col("d"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    spine.join(daily, Seq("brand", "d"), "left")
      .withColumn("ffill_dec",
        last(col("rev_dec"), ignoreNulls = true).over(w))
  }

  /** x15's oracle twin of the 16-term dyadic-weight EWMA fold — generated
    * from the same (k, 2^(15−k)) table as the Spark side so the two stay
    * textually mirrored by construction. All-integer terms; the single
    * num/den division at the boundary is the only float op. */
  private val ewmaNumSql = (0 until 16).map { k =>
    val wt = 1L << (15 - k)
    if (k == 0) s"cents * $wt"
    else s"coalesce(lag(cents, $k) OVER tw * $wt, 0)"
  }.mkString(" + ")
  private val ewmaDenSql = (0 until 16).map { k =>
    val wt = 1L << (15 - k)
    if (k == 0) s"$wt"
    else s"CASE WHEN lag(cents, $k) OVER tw IS NOT NULL THEN $wt ELSE 0 END"
  }.mkString(" + ")

  /** Shared x9/x10 oracle CTE chain: brand×day spine + forward fill,
    * terminal CTE `ff(brand, d, rev_dec, ffill_dec)`. */
  private val gapFillCtes =
    s"""daily AS (
      |  SELECT p.brand AS brand,
      |    CAST(substr(o.created_at, 1, 10) AS DATE) AS d,
      |    sum(CAST(oi.sale_price AS DECIMAL(18,2))) AS rev_dec
      |  $kpiJoin
      |  GROUP BY 1, 2),
      |b AS (SELECT min(d) AS mn, max(d) AS mx FROM daily),
      |spine AS (
      |  SELECT br.brand,
      |    CAST(unnest(generate_series(b.mn::TIMESTAMP, b.mx::TIMESTAMP,
      |      INTERVAL 1 DAY)) AS DATE) AS d
      |  FROM (SELECT DISTINCT brand FROM daily) br, b),
      |ff AS (
      |  SELECT s.brand, s.d, dy.rev_dec,
      |    last_value(dy.rev_dec IGNORE NULLS) OVER (
      |      PARTITION BY s.brand ORDER BY s.d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_dec
      |  FROM spine s LEFT JOIN daily dy
      |    ON s.brand = dy.brand AND s.d = dy.d)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // E152 (ABC1): ABC inventory classification — the operational
    // Pareto cut beside v7's Gini (v7 MEASURES concentration; this
    // ACTS on it): products ranked by revenue, class A = the head
    // covering 80% of cumulative revenue, B = to 95%, C = the tail;
    // reported as the 3-row class summary a stock-policy review reads.
    // The cut is the CONVENTIONAL one (round-9 advice): a product is A
    // when the cumulative revenue BEFORE it is still under the 80%
    // line — i.e. the boundary-crossing product lands in A ("the first
    // k products covering 80%"), so class A is non-empty whenever
    // revenue is (even one product holding >80% of revenue is A).
    // Class boundaries are EXACT INTEGER comparisons —
    // (cum−cents)·10 < tot·8 and (cum−cents)·20 < tot·19 over integer
    // cents (no float ever enters the classification; cum·20 ≤ 1.4e11
    // at sf0.1, wide margin) — so the only doubles are the two
    // reporting divisions at the boundary (guarded NULL on zero total,
    // the Kpi.ratio ANSI discipline).
    // Rank ties break by product id (v7's parity hygiene — here the
    // tie order IS visible: it decides which of two equal-revenue
    // products straddles a boundary). Shape: product-grain aggregate,
    // ONE ordered window for rank+cumsum (rank and running sum share
    // the sort), total on the broadcast 1-row bounds frame, 3-row
    // summary. The global window is the sel1 documented-single-sort
    // baseline — at 100 TB the swap is t13x approx revenue quantiles
    // broadcast as class thresholds, no sort.
    QuerySpec("abc1_abc_classes", (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val rev = oi(s, d).groupBy(col("product_id"))
        .agg(sum(col("sale_price").cast(money)).as("rev_dec"))
        .select(col("product_id"),
          (col("rev_dec") * lit(100)).cast("long").as("cents"))
      val w = W.orderBy(col("cents").desc, col("product_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val total = rev.agg(sum(col("cents")).as("tot"))
      val classed = rev
        .withColumn("cum", sum(col("cents")).over(w))
        .crossJoin(broadcast(total))
        .withColumn("abc_class",
          when((col("cum") - col("cents")) * 10 < col("tot") * 8, "A")
            .when((col("cum") - col("cents")) * 20 < col("tot") * 19, "B")
            .otherwise("C"))
      classed.groupBy(col("abc_class")).agg(
          count(lit(1)).as("n_products"),
          sum(col("cents")).as("class_cents"),
          max(col("tot")).as("tot"))
        .select(col("abc_class"), col("n_products"),
          (col("class_cents").cast("double") / lit(100.0)).as("revenue"),
          when(col("tot") === 0L, lit(null).cast("double")).otherwise(
            col("class_cents").cast("double") / col("tot").cast("double"))
            .as("rev_share"))
    }, oracle = s"""$ctes,
      rev AS (SELECT product_id,
        CAST(sum(CAST(sale_price AS DECIMAL(18,2))) * 100 AS BIGINT)
          AS cents
        FROM oi GROUP BY 1),
      tot AS (SELECT sum(cents)::BIGINT AS tot FROM rev),
      cumr AS (SELECT product_id, cents,
        sum(cents) OVER (ORDER BY cents DESC, product_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM rev),
      cl AS (SELECT
        CASE WHEN (cum - cents) * 10 < tot.tot * 8 THEN 'A'
          WHEN (cum - cents) * 20 < tot.tot * 19 THEN 'B'
          ELSE 'C' END AS abc_class,
        cents, tot.tot AS tot
        FROM cumr CROSS JOIN tot)
      SELECT abc_class, count(*)::BIGINT AS n_products,
        CAST(sum(cents) AS DOUBLE) / 100.0::DOUBLE AS revenue,
        CASE WHEN max(tot) = 0 THEN NULL
          ELSE CAST(sum(cents) AS DOUBLE) / CAST(max(tot) AS DOUBLE)
        END AS rev_share
      FROM cl GROUP BY 1"""),

    // E26: rollup — multi-level aggregation (day×category, day, grand
    // total) in ONE pass via the Expand operator; the KPI-history rollup
    // a reporting layer runs over the store.
    // the date key is evaluated on the ORDERS side before the join
    // (items grain is ~4× orders; Catalyst won't push grouping
    // expressions below a join) — the gapFilledDaily convention.
    QuerySpec("x2_rollup_revenue", (s, d) =>
      Kpi.threeWayJoin(o(s, d).withColumn("order_date",
          substring(col("created_at"), 1, 10)), oi(s, d), p(s, d))
        .rollup(col("o.order_date"),
          col("p.category").as("category"))
        .agg(sum(col("oi.sale_price").cast(money)).cast("double")
            .as("revenue"),
          count(lit(1)).as("n_items")),
      oracle = s"""$ctes
      SELECT substr(o.created_at, 1, 10) AS order_date,
        p.category AS category,
        CAST(sum(CAST(oi.sale_price AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        count(*) AS n_items
      $kpiJoin
      GROUP BY ROLLUP (1, 2)"""),

    // E25: AS-OF join — custom LogicalPlan + Strategy + merge-scan
    // SparkPlan (org.apache.spark.sql.graft.AsOfJoinExec): for each
    // purchase, the same user's latest click at or before it.
    QuerySpec("as1_asof_purchase_click", (s, d) => {
      val ev = Sources.table(s, d, "events")
      val tsUs = Sources.epochUs(ev)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), tsUs.as("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_event_id"),
          col("user_id").as("c_user"), tsUs.as("click_ts"))
      org.apache.spark.sql.graft.AsOfJoinApi.asofJoin(purchases, clicks,
          "user_id", "c_user", "ts", "click_ts")
        .select(col("event_id"), col("user_id"),
          col("ts").as("ts_us"),
          col("click_event_id"),
          col("click_ts").as("click_ts_us"))
    }, oracle = """
      SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
        r.event_id AS click_event_id, epoch_us(r.ts) AS click_ts_us
      FROM (SELECT * FROM events WHERE event_type = 'purchase') l
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
        ON l.user_id = r.user_id AND l.ts >= r.ts"""),

    // §2.5 W2: FIFO top-1 pick (controller.py:64-69) — TakeOrderedAndProject.
    QuerySpec("w2_fifo_next", (s, d) => {
      val ev = Sources.table(s, d, "events")
      ev.filter(col("event_type") === "purchase")
        .orderBy(col("ts").asc, col("event_id").asc).limit(1)
        .select(col("event_id"), Sources.epochUs(ev).as("ts_us"),
          col("user_id"), col("event_type"))
    }, oracle = """
      SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type
      FROM events WHERE event_type = 'purchase'
      ORDER BY ts ASC, event_id ASC LIMIT 1"""),

    // §2.5 W3: existence probe via limit-1 (controller.py:52-56).
    QuerySpec("w3_exists_probe", (s, d) =>
      Sources.table(s, d, "events")
        .filter(col("event_type") === "error" && col("value") > 90.0)
        .limit(1).agg(count(lit(1)).as("found")),
      oracle = """
      SELECT least(count(*), 1)::BIGINT AS found
      FROM (SELECT 1 FROM events
            WHERE event_type = 'error' AND value > 90.0 LIMIT 1)"""),

    // §2.9 T1/T2: anchored debounce windows over the events stream table
    // (flatMapGroups recurrence; oracle = recursive-CTE anchor chain).
    QuerySpec("e1_debounce_batches", (s, d) =>
      graft.streaming.Debounce.batchAssignDf(
        Sources.table(s, d, "events"), windowSec = 3600L),
      // The flatMapGroups recurrence IS SQL-expressible: anchors chain per
      // key (first event anchors; the first event past anchor+window anchors
      // the next), which a recursive CTE walks — each event then lands in
      // exactly one [anchor, anchor+window] interval (intervals are disjoint
      // by construction). Same semantics as Debounce.assign.
      oracle = """
      WITH RECURSIVE ev AS (
        SELECT user_id::BIGINT AS k, epoch_us(ts) // 1000000 AS t
        FROM events),
      anchors AS (
        SELECT k, min(t) AS anchor FROM ev GROUP BY k
        UNION
        SELECT a.k, (SELECT min(e.t) FROM ev e
                     WHERE e.k = a.k AND e.t > a.anchor + 3600) AS anchor
        FROM anchors a
        WHERE EXISTS (SELECT 1 FROM ev e
                      WHERE e.k = a.k AND e.t > a.anchor + 3600))
      SELECT e.k AS "key", a.anchor AS "batchStart",
        count(*) AS "nEvents", max(e.t) AS "lastTs"
      FROM ev e JOIN anchors a
        ON a.k = e.k AND e.t >= a.anchor AND e.t <= a.anchor + 3600
      GROUP BY 1, 2"""),

    // §2.9 E16 (batch form): tumbling-window event aggregation via Spark's
    // window() operator — identical code runs under readStream + watermark
    // (StreamingAggSpec proves batch≡streaming parity); the driver query
    // hash-verifies the window semantics themselves. Decimal-sum the
    // double measure so the result is order-independent (exact) and
    // matches the oracle bit-for-bit.
    // E101 (E5): stream-static enrichment, aggregated to the per-segment
    // KPI — events decorated from the customer dimension (broadcast left
    // join, unknown keys kept as the NULL segment), then the
    // decision-grade rollup. The enrichment transform itself runs
    // batch AND streaming unchanged (StreamingAggSpec parity).
    QuerySpec("e5_segment_kpi", (s, d) =>
      graft.streaming.Enrich.enrichEvents(Sources.table(s, d, "events"),
          Sources.table(s, d, "customer"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double")
            .as("sum_value"),
          countDistinct(col("user_id")).as("n_users")),
      oracle = """
      SELECT c.c_mktsegment AS segment, count(*) AS n_events,
        CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        count(DISTINCT e.user_id) AS n_users
      FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1"""),

    // E164 (E7): stream-stream INTERVAL join, hash-verified — the
    // WindowedAgg.purchaseClickJoin body (each purchase joined to the
    // same user's clicks from the preceding 30 min; both watermarks
    // are no-ops in batch, StreamingAggSpec proves batch ≡ streaming),
    // previously spec-only, now under the oracle gate. The
    // attribution-window primitive: at scale the interval bound is
    // what lets the stream-stream state store evict.
    QuerySpec("e7_click_purchase_join", (s, d) => {
      val ev = Sources.table(s, d, "events")
      graft.streaming.WindowedAgg.purchaseClickJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        intervalSec = 1800L, watermark = "1 hour")
    }, oracle = """
      WITH p AS (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS t
                 FROM events WHERE event_type = 'purchase'),
      c AS (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS t
            FROM events WHERE event_type = 'click')
      SELECT p.event_id AS purchase_id, p.user_id,
        c.event_id AS click_id, p.t AS p_epoch, c.t AS c_epoch
      FROM p JOIN c ON c.user_id = p.user_id
        AND c.t <= p.t AND c.t >= p.t - 1800"""),

    // E169 (E8): stream-stream LEFT OUTER interval join — e7's outer
    // form: EVERY purchase emitted, attributed clicks attached, and the
    // unmatched purchases (no same-user click in the preceding 30 min —
    // the organic-conversion rows attribution actually acts on) kept
    // with NULL click columns. Streaming, an unmatched purchase emits
    // only when the watermark closes its interval — the same moment its
    // state evicts (StreamingAggSpec pins the closure parity); batch,
    // the identical body is a plain left outer join with range bounds.
    QuerySpec("e8_attribution_outer", (s, d) => {
      val ev = Sources.table(s, d, "events")
      graft.streaming.WindowedAgg.purchaseClickJoinOuter(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        intervalSec = 1800L, watermark = "1 hour")
    }, oracle = """
      WITH p AS (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS t
                 FROM events WHERE event_type = 'purchase'),
      c AS (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS t
            FROM events WHERE event_type = 'click')
      SELECT p.event_id AS purchase_id, p.user_id,
        c.event_id AS click_id, p.t AS p_epoch, c.t AS c_epoch
      FROM p LEFT JOIN c ON c.user_id = p.user_id
        AND c.t <= p.t AND c.t >= p.t - 1800"""),

    QuerySpec("e2_windowed_event_agg", (s, d) => {
      val ev = Sources.table(s, d, "events")
      ev.select(timestamp_micros(Sources.epochUs(ev)).as("t"),
          col("event_type"), col("value"))
        .groupBy(window(col("t"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double")
            .as("sum_value"))
        .select(unix_micros(col("window.start")).as("window_start_us"),
          col("event_type"), col("n_events"), col("sum_value"))
    },
      // Spark's window("1 hour") aligns tumbling windows to the epoch, so
      // window.start ≙ floor(epoch_us / 3.6e9) * 3.6e9.
      oracle = """
      SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
        event_type, count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2"""),

    // E153 (E6): daily TRENDING KEYS — tumbling-window top-k: per
    // 1-day window, the 3 hottest `props.k` items by event count (the
    // "trending now" panel every event platform serves). Composes e2's
    // epoch-us tumbling-window convention (integer day bucketing, no TZ
    // semantics in the answer) with f13's JSON extraction and the
    // rec1 rank discipline: exact integer counts, deterministic
    // (n desc, k) tie-break, WindowGroupLimit bounding the per-window
    // sort at k (plan-pinned — the rank never sorts a full day's key
    // set at scale).
    QuerySpec("e6_daily_top_keys", (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val ev = Sources.table(s, d, "events")
      val agg = ev.select(timestamp_micros(Sources.epochUs(ev)).as("t"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(window(col("t"), "1 day"), col("k"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_micros(col("window.start")).as("day_start_us"),
          col("k"), col("n_events"))
      val w = W.partitionBy(col("day_start_us"))
        .orderBy(col("n_events").desc, col("k"))
      agg.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
    }, oracle = """
      WITH a AS (
        SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS day_start_us,
          CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
          count(*)::BIGINT AS n_events
        FROM events GROUP BY 1, 2),
      r AS (
        SELECT day_start_us, k, n_events,
          row_number() OVER (PARTITION BY day_start_us
            ORDER BY n_events DESC, k) AS rank
        FROM a)
      SELECT day_start_us, k, n_events, rank::BIGINT AS rank
      FROM r WHERE rank <= 3"""),

    // E31: TRUE session windows (gap-based, unlike the anchored debounce
    // window) via Spark's session_window — sessions extend while the gap
    // to the previous event is ≤ 30 min (touching intervals merge; only a
    // strictly larger gap splits — pinned against a real exactly-1800s
    // gap at sf0.1). Oracle = gaps-and-islands (lag + running sum). The
    // contrast with e1 is the point: T1's window anchors at the FIRST
    // event; a session window anchors at the LAST.
    // (round 10: delegated to streaming.WindowedAgg.userSessions — ONE
    // definition for batch, oracle, and the streaming append form; the
    // watermark is a no-op here, hash unchanged.)
    QuerySpec("e4_session_windows", (s, d) =>
      graft.streaming.WindowedAgg.userSessions(
        Sources.table(s, d, "events"), "30 minutes", "2 hours"),
      // Session semantics (verified empirically, and sf0.1 has a gap of
      // EXACTLY 1800 s that distinguishes them): Spark merges an event into
      // the session when gap ≤ window — touching intervals merge — and only
      // a STRICTLY greater gap starts a new session; session_end = last
      // event + gap.
      oracle = """
      WITH ev AS (SELECT user_id, epoch_us(ts) // 1000000 AS t FROM events),
      f AS (SELECT user_id, t,
        CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800
             THEN 1 ELSE 0 END AS ns
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t)),
      s AS (SELECT user_id, t,
        sum(ns) OVER (PARTITION BY user_id ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM f)
      SELECT user_id, min(t) AS session_start,
        max(t) + 1800 AS session_end, count(*) AS n_events
      FROM s GROUP BY user_id, sid"""),

    // E32: pivot — revenue by category × item status as columns (the
    // reporting shape over the KPI join). Pivot values are declared
    // explicitly: at scale an undeclared pivot costs an extra distinct
    // pass AND makes the output schema data-dependent.
    QuerySpec("x4_pivot_status_revenue", (s, d) =>
      Kpi.threeWayJoin(o(s, d), oi(s, d), p(s, d))
        .groupBy(col("p.category").as("category"))
        .pivot("oi.status", Seq("A", "N", "returned"))
        .agg(sum(col("oi.sale_price").cast(money)).cast("double")),
      oracle = s"""$ctes
      SELECT p.category AS category,
        CAST(sum(CAST(oi.sale_price AS DECIMAL(18,2)))
          FILTER (WHERE oi.status = 'A') AS DOUBLE) AS "A",
        CAST(sum(CAST(oi.sale_price AS DECIMAL(18,2)))
          FILTER (WHERE oi.status = 'N') AS DOUBLE) AS "N",
        CAST(sum(CAST(oi.sale_price AS DECIMAL(18,2)))
          FILTER (WHERE oi.status = 'returned') AS DOUBLE) AS returned
      $kpiJoin
      GROUP BY 1"""),

    // §2.6 U4: EXCEPT (distinct set difference) — purchasers who never hit
    // a severe error; plans as a left-anti over distinct, not a driver
    // diff. (The >90 severity cut keeps the result non-degenerate: every
    // purchaser has SOME error event in this data.)
    QuerySpec("u2_except_users", (s, d) => {
      val ev = Sources.table(s, d, "events")
      ev.filter(col("event_type") === "purchase").select(col("user_id"))
        .except(ev
          .filter(col("event_type") === "error" && col("value") > 90.0)
          .select(col("user_id")))
    }, oracle = """
      SELECT user_id FROM events WHERE event_type = 'purchase'
      EXCEPT
      SELECT user_id FROM events
      WHERE event_type = 'error' AND value > 90.0"""),

    // E33: exact percentiles (sort-based linear interpolation — identical
    // arithmetic in DuckDB's quantile_cont). At 100 TB the scale path is
    // approx_percentile (KLL/GK sketch, one narrow pass, mergeable);
    // exact percentile needs the full sorted group and exists as the
    // verifiable baseline, same pattern as n1 vs n2.
    QuerySpec("x5_quantile_qty", (s, d) =>
      Sources.table(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))")
          .as("q"))
        .select(col("l_returnflag"),
          element_at(col("q"), 1).as("p25"),
          element_at(col("q"), 2).as("p50"),
          element_at(col("q"), 3).as("p75")),
      oracle = """
      SELECT l_returnflag,
        quantile_cont(l_quantity, 0.25) AS p25,
        quantile_cont(l_quantity, 0.50) AS p50,
        quantile_cont(l_quantity, 0.75) AS p75
      FROM lineitem GROUP BY 1"""),

    // x5's documented 100-TB swap (exact percentile → KLL sketch), made
    // EXECUTABLE the same way as a2x: approx_percentile at accuracy 10⁴
    // guarantees ≤ 10⁻⁴ rank error, so each group's estimate must land
    // between the exact 49th and 51st percentiles — a generous but honest
    // bound both engines can agree on without sharing sketch internals.
    QuerySpec("x5x_approx_quantile", (s, d) =>
      Sources.table(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(l_quantity, 0.5D, 10000)").as("a"),
          expr("percentile(l_quantity, 0.49D)").as("lo"),
          expr("percentile(l_quantity, 0.51D)").as("hi"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("a").between(col("lo"), col("hi")), 1L)
            .otherwise(0L)).as("n_within")),
      oracle = """
      SELECT CAST(count(*) AS BIGINT) AS n_groups,
        CAST(count(*) AS BIGINT) AS n_within
      FROM (SELECT l_returnflag FROM lineitem GROUP BY 1)"""),

    // §2.8 extension (F13): JSON payload extraction — events carry a JSON
    // `props` column (the universal escape hatch for semi-structured
    // payloads); extract a typed field, filter, aggregate. At scale
    // prefer promoting hot JSON fields to real columns at ingest — this
    // op is the read-side fallback, and get_json_object stays inside
    // whole-stage codegen.
    QuerySpec("f13_json_extract", (s, d) =>
      Sources.table(s, d, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .filter(col("k") > 50)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k")),
      // CAST the sum: DuckDB sum(BIGINT) yields HUGEINT, whose stringified
      // form diverges from Spark's int64 in the driver's hash compare
      oracle = """
      SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
      FROM (SELECT event_type,
              CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events)
      WHERE k > 50
      GROUP BY 1"""),

    // §2.3 extension: LEFT SEMI — orders having at least one item, as a
    // semi join (no right columns, no duplicate left rows), the EXISTS
    // twin of p3's NOT-EXISTS anti join.
    QuerySpec("p4_semi_orders_with_items", (s, d) => {
      val ord = o(s, d)
      val items = oi(s, d)
      ord.join(items, ord("order_id") === items("order_id"), "left_semi")
        .select(col("order_id"))
    }, oracle = s"""$ctes
      SELECT o.order_id FROM o
      WHERE EXISTS (SELECT 1 FROM oi WHERE oi.order_id = o.order_id)"""),

    // §2.4 A9: earliest unprocessed event per group
    // (s3_validation.py:104-112 as a grouped min).
    QuerySpec("a9_min_batch_start", (s, d) => {
      val ev = Sources.table(s, d, "events")
      ev.filter(col("event_type") =!= "error")
        .groupBy(col("user_id"))
        .agg(min(Sources.epochUs(ev)).as("batch_start_us"),
          count(lit(1)).as("n_events"))
    }, oracle = """
      SELECT user_id, min(epoch_us(ts)) AS batch_start_us,
        count(*) AS n_events
      FROM events WHERE event_type <> 'error'
      GROUP BY user_id"""),

    // E80 (X7): running revenue + day-over-day delta — the cumulative /
    // lag window family (category-partitioned, date-ordered). Arithmetic
    // stays in DECIMAL through the cumulative fold (float cumsum would
    // make the fold order part of the answer), cast to double only at
    // the boundary. Partition grain is CATEGORY — a handful of huge
    // partitions would serialize, but category×date rows are tiny here
    // (the window runs over the AGGREGATED frame, never the fact), the
    // standard shape for KPI-history queries over the store.
    QuerySpec("x7_running_revenue", (s, d) => {
      // date key on the orders side pre-join (the gapFilledDaily
      // convention)
      val daily = Kpi.threeWayJoin(o(s, d).withColumn("order_date",
          substring(col("created_at"), 1, 10)), oi(s, d), p(s, d))
        .groupBy(col("p.category").as("category"),
          col("o.order_date"))
        .agg(sum(col("oi.sale_price").cast(money)).as("rev_dec"))
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("category")).orderBy(col("order_date"))
      daily
        .withColumn("run_dec", sum(col("rev_dec"))
          .over(w.rowsBetween(W.unboundedPreceding, W.currentRow)))
        .withColumn("prev_dec", lag(col("rev_dec"), 1).over(w))
        .select(col("category"), col("order_date"),
          col("rev_dec").cast("double").as("revenue"),
          col("run_dec").cast("double").as("running_revenue"),
          col("prev_dec").cast("double").as("prev_revenue"),
          (col("rev_dec") - col("prev_dec")).cast("double").as("delta"))
    }, oracle = s"""$ctes,
      daily AS (
        SELECT p.category AS category,
          substr(o.created_at, 1, 10) AS order_date,
          sum(CAST(oi.sale_price AS DECIMAL(18,2))) AS rev_dec
        $kpiJoin
        GROUP BY 1, 2)
      SELECT category, order_date,
        CAST(rev_dec AS DOUBLE) AS revenue,
        CAST(sum(rev_dec) OVER (PARTITION BY category ORDER BY order_date
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
          AS running_revenue,
        CAST(lag(rev_dec, 1) OVER (PARTITION BY category
          ORDER BY order_date) AS DOUBLE) AS prev_revenue,
        CAST(rev_dec - lag(rev_dec, 1) OVER (PARTITION BY category
          ORDER BY order_date) AS DOUBLE) AS delta
      FROM daily"""),

    // E81 (X8): CUBE + grouping_id — all four aggregation grains
    // (month×category, month, category, grand total) in ONE pass via the
    // Expand operator, each output row tagged with which keys are
    // aggregated away. Same single-scan Expand machinery as x2's rollup;
    // the tag is what makes the combined result table self-describing,
    // exactly how an OLAP cache materializes every grain at once.
    // month key on the orders side pre-join (the gapFilledDaily
    // convention)
    QuerySpec("x8_cube_revenue", (s, d) =>
      Kpi.threeWayJoin(o(s, d).withColumn("order_month",
          substring(col("created_at"), 1, 7)), oi(s, d), p(s, d))
        .cube(col("o.order_month"),
          col("p.category").as("category"))
        .agg(sum(col("oi.sale_price").cast(money)).cast("double")
            .as("revenue"),
          count(lit(1)).as("n_items"),
          grouping_id().as("gid")),
      oracle = s"""$ctes
      SELECT substr(o.created_at, 1, 7) AS order_month,
        p.category AS category,
        CAST(sum(CAST(oi.sale_price AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        count(*) AS n_items,
        GROUPING(substr(o.created_at, 1, 7), p.category)::BIGINT AS gid
      $kpiJoin
      GROUP BY CUBE (1, 2)"""),

    // E84 (X9): calendar gap-fill + forward fill — the time-series
    // resample every KPI store needs (days with no sales must EXIST as
    // rows before a moving average / chart / join-to-forecast is right).
    // Spine = brand × sequence(min_date, max_date) generated from a
    // 1-row bounds agg (broadcast); daily revenue joins on, missing days
    // flag `filled` and carry the last seen value (window last() with
    // ignoreNulls). Spine size is brands × calendar days — bounded by the
    // CALENDAR, not the data, so at 100 TB it stays tiny while the fact
    // side never shuffles more than its one daily-grain aggregate.
    QuerySpec("x9_gap_fill", (s, d) =>
      gapFilledDaily(s, d)
        .select(col("brand"),
          date_format(col("d"), "yyyy-MM-dd").as("order_date"),
          col("rev_dec").cast("double").as("revenue"),
          col("rev_dec").isNull.as("filled"),
          col("ffill_dec").cast("double").as("ffill_revenue")),
      oracle = s"""$ctes,
      $gapFillCtes
      SELECT brand, strftime(d, '%Y-%m-%d') AS order_date,
        CAST(rev_dec AS DOUBLE) AS revenue,
        rev_dec IS NULL AS filled,
        CAST(ffill_dec AS DOUBLE) AS ffill_revenue
      FROM ff"""),

    // E88 (X10): trailing 7-day moving average over the gap-filled
    // series — the reason x9 exists: a moving average computed only over
    // PRESENT days is wrong (a 3-sale week averages 3 points, not 7).
    // Decimal sum over the frame ÷ non-null frame count, double only at
    // the division; leading pre-first-sale rows stay null.
    QuerySpec("x10_moving_avg", (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val w7 = W.partitionBy(col("brand")).orderBy(col("d"))
        .rowsBetween(-6, W.currentRow)
      gapFilledDaily(s, d)
        .withColumn("ma7",
          (sum(col("ffill_dec")).over(w7).cast("double") /
            count(col("ffill_dec")).over(w7).cast("double")))
        .select(col("brand"),
          date_format(col("d"), "yyyy-MM-dd").as("order_date"),
          col("ffill_dec").cast("double").as("ffill_revenue"),
          col("ma7"))
    }, oracle = s"""$ctes,
      $gapFillCtes
      SELECT brand, strftime(d, '%Y-%m-%d') AS order_date,
        CAST(ffill_dec AS DOUBLE) AS ffill_revenue,
        CAST(sum(ffill_dec) OVER w7 AS DOUBLE)
          / CAST(count(ffill_dec) OVER w7 AS DOUBLE) AS ma7
      FROM ff
      WINDOW w7 AS (PARTITION BY brand ORDER BY d
        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"""),

    // E122 (X11): trailing-window anomaly detection — the alerting stage
    // over the gap-filled daily series (x9→x10→this): each day scored
    // against the TRAILING 28 days' mean and sample stddev (current day
    // excluded — the day under test must not contaminate its own
    // baseline), |z| > 3 flags. Missing days are genuine zero-revenue
    // days (coalesce before the window — a gap is a signal here, not a
    // hole). The frame state is EXACT INTEGER CENTS (rev0·100 as long):
    // a decimal sum-of-squares runs to 17+ significant digits, and the
    // two engines round the decimal→double cast differently at that
    // width (measured: 16,595 ulp-forked rows at sf0.1) — whereas long
    // sums are exact and int64→double is one correctly-rounded
    // conversion everywhere. Mean/variance/sqrt are then a fixed double
    // expression over exact integers, mirrored textually in the oracle;
    // z scores in cents space (scale cancels), the currency columns
    // divide by 100 at the boundary. Warm-up rows (fewer than 28
    // trailing days) emit NULL z. Window grain is brand×day — calendar-
    // bounded, the x9 scale argument. Cents bounds: day ≤ 1e8 cents,
    // square 1e16, 28-frame sum 2.8e17 — inside int64; the squared
    // frame-sum term is computed in DOUBLE to stay inside it.
    QuerySpec("x11_anomaly", (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val w28 = W.partitionBy(col("brand")).orderBy(col("d"))
        .rowsBetween(-28, -1)
      val series = gapFilledDaily(s, d)
        .withColumn("rev0", coalesce(col("rev_dec"), lit(0).cast(money)))
        .withColumn("cents", (col("rev0") * lit(100)).cast("long"))
      val n = count(col("cents")).over(w28)
      val sumC = sum(col("cents")).over(w28).cast("double")
      val sumSq = sum(col("cents") * col("cents")).over(w28).cast("double")
      val nD = n.cast("double")
      val meanC = sumC / nD
      val varC = (sumSq - sumC * sumC / nD) / (nD - lit(1.0))
      series
        .withColumn("n28", n)
        .withColumn("mean_c", when(col("n28") === 28, meanC))
        .withColumn("sd_c", when(col("n28") === 28, sqrt(varC)))
        .withColumn("z", when(col("sd_c") > 0.0,
          (col("cents").cast("double") - col("mean_c")) / col("sd_c")))
        .select(col("brand"),
          date_format(col("d"), "yyyy-MM-dd").as("order_date"),
          col("rev0").cast("double").as("revenue"),
          (col("mean_c") / lit(100.0)).as("mean28"),
          (col("sd_c") / lit(100.0)).as("sd28"), col("z"),
          (col("z").isNotNull && abs(col("z")) > 3.0).as("is_anomaly"))
    }, oracle = s"""$ctes,
      $gapFillCtes,
      s0 AS (SELECT brand, d,
        coalesce(rev_dec, CAST(0 AS DECIMAL(18,2))) AS rev0 FROM ff),
      c0 AS (SELECT brand, d, rev0,
        CAST(rev0 * 100 AS BIGINT) AS cents FROM s0),
      w AS (SELECT brand, d, rev0, cents,
        count(cents) OVER tw AS n28,
        (sum(cents) OVER tw)::DOUBLE AS sum_c,
        (sum(cents * cents) OVER tw)::DOUBLE AS sum_sq
        FROM c0
        WINDOW tw AS (PARTITION BY brand ORDER BY d
          ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)),
      st AS (SELECT brand, d, rev0, cents,
        CASE WHEN n28 = 28 THEN sum_c / n28::DOUBLE END AS mean_c,
        CASE WHEN n28 = 28 THEN
          sqrt((sum_sq - sum_c * sum_c / n28::DOUBLE)
            / (n28::DOUBLE - 1.0::DOUBLE)) END AS sd_c
        FROM w),
      zc AS (SELECT *, CASE WHEN sd_c > 0
          THEN (cents::DOUBLE - mean_c) / sd_c END AS z
        FROM st)
      SELECT brand, strftime(d, '%Y-%m-%d') AS order_date,
        CAST(rev0 AS DOUBLE) AS revenue,
        mean_c / 100.0::DOUBLE AS mean28, sd_c / 100.0::DOUBLE AS sd28, z,
        (z IS NOT NULL AND abs(z) > 3.0::DOUBLE) AS is_anomaly
      FROM zc"""),

    // E144 (X15): EWMA trend — the exponential-smoothing member of the
    // series family (x9 gap-fill → x10 flat MA → x11 z-score → this):
    // recent days dominate, old days decay geometrically. The recursive
    // s_t = α·x_t + (1−α)·s_{t−1} is a sequential recurrence no engine
    // windows natively; the DEFINED operator here is its K-term finite
    // form with DYADIC α = 1/2, K = 16 (truncation ≤ 2⁻¹⁶ relative —
    // below output printing precision): weight for lag k is 2^(K−1−k)
    // AFTER scaling by 2^K, so numerator and denominator are EXACT LONG
    // sums (x11's integer-cents discipline applied to a weighted
    // window) and the single num/den double division is correctly
    // rounded on both engines. Warm-up rows normalize by the weights
    // actually present (den = 2^K − 2^(K−n), never 0 — lag-0 always
    // present). The 16 lag terms compile to ONE Window exec (one sort,
    // one pass — plan-pinned); grain is brand×day, calendar-bounded.
    // Cents bounds: day ≤ 1e8 cents × 2^15 = 3.3e12, 16-term sum
    // ≤ 5.3e13 — far inside both long and double-exact (2^53) range.
    QuerySpec("x15_ewma", (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("brand")).orderBy(col("d"))
      val K = 16
      val series = gapFilledDaily(s, d)
        .withColumn("rev0", coalesce(col("rev_dec"), lit(0).cast(money)))
        .withColumn("cents", (col("rev0") * lit(100)).cast("long"))
      def lagK(k: Int) =
        if (k == 0) col("cents") else lag(col("cents"), k).over(w)
      val num = (0 until K).map { k =>
        val wt = lit(1L << (K - 1 - k))
        if (k == 0) col("cents") * wt
        else coalesce(lagK(k) * wt, lit(0L))
      }.reduce(_ + _)
      val den = (0 until K).map { k =>
        val wt = lit(1L << (K - 1 - k))
        if (k == 0) wt else when(lagK(k).isNotNull, wt).otherwise(lit(0L))
      }.reduce(_ + _)
      series
        .withColumn("ewma_c", num.cast("double") / den.cast("double"))
        .select(col("brand"),
          date_format(col("d"), "yyyy-MM-dd").as("order_date"),
          col("rev0").cast("double").as("revenue"),
          (col("ewma_c") / lit(100.0)).as("ewma16"))
    }, oracle = s"""$ctes,
      $gapFillCtes,
      s0 AS (SELECT brand, d,
        coalesce(rev_dec, CAST(0 AS DECIMAL(18,2))) AS rev0 FROM ff),
      c0 AS (SELECT brand, d, rev0,
        CAST(rev0 * 100 AS BIGINT) AS cents FROM s0),
      w AS (SELECT brand, d, rev0,
        ($ewmaNumSql) AS num,
        ($ewmaDenSql) AS den
        FROM c0
        WINDOW tw AS (PARTITION BY brand ORDER BY d))
      SELECT brand, strftime(d, '%Y-%m-%d') AS order_date,
        CAST(rev0 AS DOUBLE) AS revenue,
        num::DOUBLE / den::DOUBLE / 100.0::DOUBLE AS ewma16
      FROM w"""),

    // E148 (X16): per-brand OLS TREND FIT — the regression member of
    // the series family (x9 gap-fill → x10 MA → x11 z-score → x15 EWMA
    // → this): least-squares slope + intercept of daily revenue vs day
    // index, the "is this brand growing and how fast" line a forecast
    // starts from. The gap-filled series is CONTIGUOUS by construction
    // (t = 0..n−1 per brand), so the centered substitution
    // u = 2t − (n−1) gives Σu = 0 and the closed forms
    //   slope = 2·Σuy / Σu²,  Σuy = 2·Σty − (n−1)·Σy,
    //   Σu²   = n(n²−1)/3
    // — EVERY sum an exact long over integer cents (the x11
    // discipline; no per-row mean subtraction, no float accumulation).
    // slope = 6·(2Σty − (n−1)Σy) / (n(n²−1)) is ONE long/long double
    // division; intercept (at the series start, t = 0) composes
    // ȳ − slope·(n−1)/2 from correctly-rounded ops mirrored textually
    // in the oracle (the benford-dev convention). Long bounds:
    // Σty ≤ t_max·Σy ≈ 2e13 at sf0.1, ×6 ≈ 1.2e14 — wide margin; a
    // 100-TB series upgrades the two sums to DECIMAL(38,0) (the v5
    // boundary discipline; Pearson r is OMITTED here because its Σy²
    // term crosses 2⁶³ first — the documented wall). Shape: ONE
    // map-side-combined aggregate over the brand×day frame (no window,
    // no sort); the day index rides the broadcast 1-row bounds frame.
    // n=1 degenerates to a zero denominator → NULL slope/intercept,
    // never a ÷0 abort (the Kpi.ratio ANSI discipline).
    QuerySpec("x16_ols_trend", (s, d) => {
      val series = gapFilledDaily(s, d)
        .withColumn("cents",
          (coalesce(col("rev_dec"), lit(0).cast(money)) * lit(100))
            .cast("long"))
      val d0 = series.agg(min(col("d")).as("d0"))
      val agg = series.crossJoin(broadcast(d0))
        .withColumn("t", datediff(col("d"), col("d0")).cast("long"))
        .groupBy(col("brand")).agg(
          count(lit(1)).as("n"),
          sum(col("cents")).as("sy"),
          sum(col("t") * col("cents")).as("sty"))
      val n = col("n")
      val num = lit(6L) * (lit(2L) * col("sty") - (n - lit(1L)) * col("sy"))
      val den = n * (n * n - lit(1L))
      val slope = num.cast("double") / den.cast("double")
      val nullD = lit(null).cast("double")
      agg.select(col("brand"), n.as("n_days"),
        when(den === 0L, nullD).otherwise(slope)
          .as("slope_cents_per_day"),
        when(den === 0L, nullD).otherwise(
          col("sy").cast("double") / n.cast("double") -
            slope * ((n - lit(1L)).cast("double") / lit(2.0)))
          .as("intercept_cents"))
    }, oracle = s"""$ctes,
      $gapFillCtes,
      c0 AS (SELECT brand, d,
        CAST(coalesce(rev_dec, CAST(0 AS DECIMAL(18,2))) * 100 AS BIGINT)
          AS cents FROM ff),
      b0 AS (SELECT min(d) AS d0 FROM c0),
      t0 AS (SELECT brand, datediff('day', b0.d0, c0.d)::BIGINT AS t,
        cents FROM c0 CROSS JOIN b0),
      a AS (SELECT brand, count(*)::BIGINT AS n,
        sum(cents)::BIGINT AS sy,
        sum(t * cents)::BIGINT AS sty
        FROM t0 GROUP BY 1)
      SELECT brand, n AS n_days,
        CASE WHEN n * (n * n - 1) = 0 THEN NULL
          ELSE CAST(6 * (2 * sty - (n - 1) * sy) AS DOUBLE)
            / CAST(n * (n * n - 1) AS DOUBLE) END AS slope_cents_per_day,
        CASE WHEN n * (n * n - 1) = 0 THEN NULL
          ELSE CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
            - (CAST(6 * (2 * sty - (n - 1) * sy) AS DOUBLE)
               / CAST(n * (n * n - 1) AS DOUBLE))
              * (CAST(n - 1 AS DOUBLE) / 2.0::DOUBLE) END AS intercept_cents
      FROM a"""),

    // E150 (X17): day-of-week SEASONALITY index — the seasonal member
    // of the series family (x16 fits the trend; this profiles the
    // weekly cycle around it): per brand×weekday, mean daily revenue
    // and its ratio to the brand's all-days mean ("Saturdays run 1.4×").
    // The index is the fully-RATIONAL form
    //   (s_dow/n_dow) / (s_all/n_all) = s_dow·n_all / (n_dow·s_all)
    // — numerator and denominator EXACT LONG products over integer
    // cents (s·n ≤ 1.3e13 at sf0.1 — wide margin), so the one double
    // division is correctly rounded on both engines; no intermediate
    // float means ever meet each other. Shape: one map-side-combined
    // aggregate to brand×dow grain (≤ 7 rows per brand), brand totals
    // via a whole-partition window over those 7 rows (the mix2
    // convention — nothing corpus-scale shuffles twice). Weekday
    // numbering is Spark's dayofweek (1=Sun..7=Sat); the oracle maps
    // DuckDB's 0-based dayofweek by +1. Zero-revenue brands yield NULL
    // index, never ÷0 (Kpi.ratio ANSI discipline); n_dow ≥ 1 always
    // (the gap-filled calendar covers every weekday).
    QuerySpec("x17_dow_seasonality", (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val wb = W.partitionBy(col("brand"))
      val agg = gapFilledDaily(s, d)
        .withColumn("cents",
          (coalesce(col("rev_dec"), lit(0).cast(money)) * lit(100))
            .cast("long"))
        .groupBy(col("brand"), dayofweek(col("d")).cast("long").as("dow"))
        .agg(count(lit(1)).as("n_days"), sum(col("cents")).as("s_dow"))
        .withColumn("n_all", sum(col("n_days")).over(wb))
        .withColumn("s_all", sum(col("s_dow")).over(wb))
      agg.select(col("brand"), col("dow"), col("n_days"),
        (col("s_dow").cast("double") / col("n_days").cast("double") /
          lit(100.0)).as("mean_rev"),
        when(col("s_all") === 0L, lit(null).cast("double")).otherwise(
          (col("s_dow") * col("n_all")).cast("double") /
            (col("n_days") * col("s_all")).cast("double"))
          .as("seasonal_index"))
    }, oracle = s"""$ctes,
      $gapFillCtes,
      c0 AS (SELECT brand, d,
        CAST(coalesce(rev_dec, CAST(0 AS DECIMAL(18,2))) * 100 AS BIGINT)
          AS cents FROM ff),
      a AS (SELECT brand, (dayofweek(d) + 1)::BIGINT AS dow,
        count(*)::BIGINT AS n_days, sum(cents)::BIGINT AS s_dow
        FROM c0 GROUP BY 1, 2),
      w AS (SELECT brand, dow, n_days, s_dow,
        sum(n_days) OVER (PARTITION BY brand) AS n_all,
        sum(s_dow) OVER (PARTITION BY brand) AS s_all
        FROM a)
      SELECT brand, dow, n_days,
        CAST(s_dow AS DOUBLE) / CAST(n_days AS DOUBLE) / 100.0::DOUBLE
          AS mean_rev,
        CASE WHEN s_all = 0 THEN NULL
          ELSE CAST(s_dow * n_all AS DOUBLE)
            / CAST(n_days * s_all AS DOUBLE) END AS seasonal_index
      FROM w"""),

    // E154 (X18): week-over-week GROWTH — the comparison member closing
    // the series family (gap-fill → MA → z-score → EWMA → trend →
    // seasonality → this): weekly revenue per brand and its WoW change,
    // the first row of every revenue dashboard. Weeks are exact integer
    // buckets off the series start (week = ⌊t/7⌋ via g1's idiv idiom —
    // no ISO-week/engine-calendar semantics in the answer, the e2
    // epoch-bucket discipline applied to days); weekly sums are exact
    // long cents, and growth = (cur−prev)/prev is ONE correctly-rounded
    // long/long division, NULL on a zero or absent base week (Kpi.ratio
    // ANSI discipline — a dashboard shows "—", it doesn't abort).
    // Shape: the day index rides the broadcast 1-row bounds frame (x16
    // convention), one map-side-combined aggregate to brand×week grain,
    // ONE lag window over that tiny grain. Trailing partial weeks are
    // kept and flagged (n_days < 7) — silently dropping them would make
    // the newest point disappear, the wrong default for a dashboard;
    // the flag lets the reader discount it (no silent caps).
    QuerySpec("x18_wow_growth", (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val series = gapFilledDaily(s, d)
        .withColumn("cents",
          (coalesce(col("rev_dec"), lit(0).cast(money)) * lit(100))
            .cast("long"))
      val d0 = series.agg(min(col("d")).as("d0"))
      val t = datediff(col("d"), col("d0")).cast("long")
      val weekly = series.crossJoin(broadcast(d0))
        .withColumn("week_idx", ((t - pmod(t, lit(7L))) / lit(7L))
          .cast("long"))
        .groupBy(col("brand"), col("week_idx"))
        .agg(count(lit(1)).as("n_days"), sum(col("cents")).as("wk_cents"))
      val w = W.partitionBy(col("brand")).orderBy(col("week_idx"))
      val prev = lag(col("wk_cents"), 1).over(w)
      weekly
        .withColumn("prev_cents", prev)
        .select(col("brand"), col("week_idx"), col("n_days"),
          (col("wk_cents").cast("double") / lit(100.0)).as("revenue"),
          when(col("prev_cents").isNull || col("prev_cents") === 0L,
            lit(null).cast("double"))
            .otherwise((col("wk_cents") - col("prev_cents")).cast("double") /
              col("prev_cents").cast("double")).as("wow_growth"))
    }, oracle = s"""$ctes,
      $gapFillCtes,
      c0 AS (SELECT brand, d,
        CAST(coalesce(rev_dec, CAST(0 AS DECIMAL(18,2))) * 100 AS BIGINT)
          AS cents FROM ff),
      b0 AS (SELECT min(d) AS d0 FROM c0),
      t0 AS (SELECT brand,
        datediff('day', b0.d0, c0.d)::BIGINT AS t, cents
        FROM c0 CROSS JOIN b0),
      wk AS (SELECT brand,
        CAST((t - t % 7) / 7 AS BIGINT) AS week_idx,
        count(*)::BIGINT AS n_days, sum(cents)::BIGINT AS wk_cents
        FROM t0 GROUP BY 1, 2),
      lg AS (SELECT brand, week_idx, n_days, wk_cents,
        lag(wk_cents) OVER (PARTITION BY brand ORDER BY week_idx)
          AS prev_cents
        FROM wk)
      SELECT brand, week_idx, n_days,
        CAST(wk_cents AS DOUBLE) / 100.0::DOUBLE AS revenue,
        CASE WHEN prev_cents IS NULL OR prev_cents = 0 THEN NULL
          ELSE CAST(wk_cents - prev_cents AS DOUBLE)
            / CAST(prev_cents AS DOUBLE) END AS wow_growth
      FROM lg"""),

    // E85 (F14): ordered-event funnel — view → click → purchase with
    // strict temporal ordering (first view, first click AFTER it, first
    // purchase after THAT): the conversion query every event pipeline
    // runs, and one that naive per-type mins get wrong (a click before
    // the first view must not count). Cascaded user-grain aggregates:
    // each stage filters its event type, joins the previous stage's
    // timestamp (user-keyed equi join over monotonically SHRINKING
    // frames), takes a conditional min. Left joins assemble the per-user
    // funnel row; depth counts completed stages.
    // E117 (F15): LAST-TOUCH attribution — each purchase credits the
    // most recent view/click by the same user within a 7-day lookback;
    // no touch in window ⇒ 'direct'. The product-analytics op between
    // f14 (fixed funnel) and as1 (as-of join): attribution IS an as-of
    // pick, here per purchase with a bounded lookback, aggregated to
    // the channel report. Value rides the e2 decimal-sum discipline;
    // share is a whole-frame window over the 3-row aggregate (the mix2
    // convention). Ties (same touch ts) break to the higher event id —
    // deterministic, mirrored in the oracle.
    QuerySpec("f15_attribution", (s, d) => {
      val ev0 = Sources.table(s, d, "events")
      val ev = ev0.select(col("event_id"), col("user_id"),
        col("event_type"), col("value"), Sources.epochUs(ev0).as("ts_us"))
      val lookbackUs = 7L * 24 * 3600 * 1000000L
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("value").as("p_value"), col("ts_us").as("p_ts"))
      val t = ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id").as("t_user"),
          col("event_type").as("touch_type"),
          col("ts_us").as("t_ts"), col("event_id").as("t_id"))
      val joined = p.join(t,
        col("t_user") === col("user_id") &&
          col("t_ts") <= col("p_ts") &&
          col("t_ts") > col("p_ts") - lookbackUs, "left")
      val last = joined.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("p_id"))
            .orderBy(col("t_ts").desc_nulls_last,
              col("t_id").desc_nulls_last)))
        .filter(col("rn") === 1)
        .select(col("p_id"), col("p_value"),
          coalesce(col("touch_type"), lit("direct")).as("channel"))
      val agg = last.groupBy(col("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("p_value").cast(DecimalType(18, 6))).cast("double")
            .as("attributed_value"))
      agg.select(col("channel"), col("n_purchases"),
        col("attributed_value"),
        (col("n_purchases").cast("double") /
          sum(col("n_purchases")).over(
            org.apache.spark.sql.expressions.Window.partitionBy())
            .cast("double")).as("share"))
    }, oracle = s"""
      WITH ev AS (
        SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
        FROM events),
      p AS (
        SELECT event_id AS p_id, user_id, value AS p_value, ts_us AS p_ts
        FROM ev WHERE event_type = 'purchase'),
      t AS (
        SELECT user_id AS t_user, event_type AS touch_type,
          ts_us AS t_ts, event_id AS t_id
        FROM ev WHERE event_type IN ('view', 'click')),
      last AS (
        SELECT p_id, p_value, coalesce(touch_type, 'direct') AS channel
        FROM (
          SELECT p.p_id, p.p_value, t.touch_type,
            row_number() OVER (PARTITION BY p.p_id
              ORDER BY t.t_ts DESC NULLS LAST, t.t_id DESC NULLS LAST)
              AS rn
          FROM p LEFT JOIN t
            ON t.t_user = p.user_id AND t.t_ts <= p.p_ts
              AND t.t_ts > p.p_ts - ${7L * 24 * 3600 * 1000000L})
        WHERE rn = 1),
      agg AS (
        SELECT channel, count(*)::BIGINT AS n_purchases,
          CAST(sum(CAST(p_value AS DECIMAL(18,6))) AS DOUBLE)
            AS attributed_value
        FROM last GROUP BY 1)
      SELECT channel, n_purchases, attributed_value,
        n_purchases::DOUBLE / (sum(n_purchases) OVER ())::DOUBLE AS share
      FROM agg"""),

    // E166 (F19): U-SHAPED MULTI-TOUCH attribution — f15's sibling
    // completing the attribution pair (f15 credits ONLY the last touch;
    // position-based multi-touch is what a marketing-mix review actually
    // reads): every view/click in the purchase's 7-day lookback shares
    // the credit — 40% first touch, 40% last, 20% split across the
    // middles (n=1 → 100%, n=2 → 50/50, no touch → 'direct' 100%).
    // Credits are EXACT INTEGER MILLI-CREDITS (sum = exactly 1000 per
    // purchase, spec-pinned): the middle share is 200 DIV (n−2) with
    // the remainder assigned to the EARLIEST middle — deterministic,
    // no float ever splits a credit (0.4 isn't even dyadic). Same
    // touch relation as f15 (one definition); the position window
    // rides the purchase grain (lookback-bounded, never fact-wide);
    // value attribution = Σ value_dec·milli exact, double boundary.
    QuerySpec("f19_multi_touch", (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val ev0 = Sources.table(s, d, "events")
      val ev = ev0.select(col("event_id"), col("user_id"),
        col("event_type"), col("value"), Sources.epochUs(ev0).as("ts_us"))
      val lookbackUs = 7L * 24 * 3600 * 1000000L
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("value").as("p_value"), col("ts_us").as("p_ts"))
      val t = ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id").as("t_user"),
          col("event_type").as("touch_type"),
          col("ts_us").as("t_ts"), col("event_id").as("t_id"))
      val joined = p.join(t,
        col("t_user") === col("user_id") &&
          col("t_ts") <= col("p_ts") &&
          col("t_ts") > col("p_ts") - lookbackUs, "left")
      val byPurchase = W.partitionBy(col("p_id"))
      val pos = joined
        .withColumn("rn", row_number().over(
          byPurchase.orderBy(col("t_ts").asc_nulls_last,
            col("t_id").asc_nulls_last)))
        .withColumn("n", count(col("t_id")).over(byPurchase))
      val credited = pos.withColumn("milli",
          when(col("n") === 0L, 1000L) // the left-join null row: direct
            .when(col("n") === 1L, 1000L)
            .when(col("n") === 2L, 500L)
            .when(col("rn") === 1L, 400L)
            .when(col("rn") === col("n"), 400L)
            .otherwise(expr("200 DIV (n - 2)") +
              when(col("rn") === 2L,
                lit(200L) - expr("200 DIV (n - 2)") * (col("n") - 2L))
                .otherwise(0L)))
        .select(coalesce(col("touch_type"), lit("direct")).as("channel"),
          col("milli"), col("p_value"))
      val agg = credited.groupBy(col("channel"))
        .agg(count(lit(1)).as("n_touches"),
          sum(col("milli")).as("milli"),
          // milli as DECIMAL(4,0): the (18,6)×(4,0) product stays at
          // precision 23 — a long operand would type as decimal(20,0)
          // and push the product past 38, triggering engine-specific
          // precision-loss rounding
          sum(col("p_value").cast(DecimalType(18, 6)) *
            col("milli").cast(DecimalType(4, 0))).as("val_milli_dec"))
      agg.select(col("channel"), col("n_touches"),
          (col("milli").cast("double") / lit(1000.0)).as("credit"),
          (col("val_milli_dec").cast("double") / lit(1000.0))
            .as("attributed_value"),
          when(sum(col("milli")).over(W.partitionBy()) === 0L,
            lit(null).cast("double"))
            .otherwise(col("milli").cast("double") /
              sum(col("milli")).over(W.partitionBy()).cast("double"))
            .as("credit_share"))
    }, oracle = s"""
      WITH ev AS (
        SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
        FROM events),
      p AS (
        SELECT event_id AS p_id, user_id, value AS p_value, ts_us AS p_ts
        FROM ev WHERE event_type = 'purchase'),
      t AS (
        SELECT user_id AS t_user, event_type AS touch_type,
          ts_us AS t_ts, event_id AS t_id
        FROM ev WHERE event_type IN ('view', 'click')),
      pos AS (
        SELECT p.p_id, p.p_value, t.touch_type,
          row_number() OVER (PARTITION BY p.p_id
            ORDER BY t.t_ts ASC NULLS LAST, t.t_id ASC NULLS LAST) AS rn,
          count(t.t_id) OVER (PARTITION BY p.p_id) AS n
        FROM p LEFT JOIN t
          ON t.t_user = p.user_id AND t.t_ts <= p.p_ts
            AND t.t_ts > p.p_ts - ${7L * 24 * 3600 * 1000000L}),
      credited AS (
        SELECT coalesce(touch_type, 'direct') AS channel, p_value,
          CASE WHEN n = 0 THEN 1000
               WHEN n = 1 THEN 1000
               WHEN n = 2 THEN 500
               WHEN rn = 1 THEN 400
               WHEN rn = n THEN 400
               ELSE 200 // (n - 2) + CASE WHEN rn = 2
                 THEN 200 - (200 // (n - 2)) * (n - 2) ELSE 0 END
          END::BIGINT AS milli
        FROM pos),
      agg AS (
        SELECT channel, count(*)::BIGINT AS n_touches,
          sum(milli)::BIGINT AS milli,
          sum(CAST(p_value AS DECIMAL(18,6)) * CAST(milli AS DECIMAL(4,0)))
            AS val_milli_dec
        FROM credited GROUP BY 1)
      SELECT channel, n_touches,
        milli::DOUBLE / 1000.0::DOUBLE AS credit,
        CAST(val_milli_dec AS DOUBLE) / 1000.0::DOUBLE AS attributed_value,
        CASE WHEN sum(milli) OVER () = 0 THEN NULL
          ELSE milli::DOUBLE / (sum(milli) OVER ())::DOUBLE
        END AS credit_share
      FROM agg"""),

    // E118 (F16): RFM segmentation — the CRM scoring every e-commerce
    // stack derives from its orders table: per customer, Recency (days
    // since last order vs the corpus anchor), Frequency (order count),
    // Monetary (decimal-summed spend), each quintiled to a 1–5 score
    // (ntile over a DETERMINISTIC total order — metric then user_id, so
    // both engines tile identically), plus the named segment the scores
    // imply. One fact-width shuffle (the user-grain aggregate); the
    // three ntile sorts run over the CUSTOMER-grain frame (dimension
    // cardinality — the x7 "window over the aggregated frame, never the
    // fact" shape), and the 100-TB swap is the t13x convention: approx-
    // quantile score thresholds + a narrow filter instead of global
    // sorts. Recency arithmetic stays in exact epoch-micros longs
    // (anchor − last) DIV day — both operands nonnegative so truncation
    // IS floor, no calendar library in the answer. The anchor is a
    // whole-frame window max over the CUSTOMER frame (not a second fact
    // scan and not a broadcast join — the frame already pays three
    // global window sorts, a fourth unpartitioned window is free).
    QuerySpec("f16_rfm", (s, d) => {
      val ord0 = Sources.table(s, d, "orders")
      val perUser = ord0.select(col("o_custkey").as("user_id"),
          Sources.epochUs(ord0, "o_orderdate").as("ts_us"),
          col("o_totalprice"))
        .groupBy(col("user_id"))
        .agg(max(col("ts_us")).as("last_us"),
          count(lit(1)).as("frequency"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("mon_dec"))
      val W = org.apache.spark.sql.expressions.Window
      val r = ntile(5).over(
        W.orderBy(col("recency_days").desc, col("user_id").desc))
      val f = ntile(5).over(
        W.orderBy(col("frequency").asc, col("user_id").asc))
      val m = ntile(5).over(
        W.orderBy(col("mon_dec").asc, col("user_id").asc))
      perUser
        .withColumn("anchor_us", max(col("last_us")).over(W.partitionBy()))
        .withColumn("recency_days",
          expr("(anchor_us - last_us) DIV 86400000000"))
        .withColumn("r_score", r.cast("long"))
        .withColumn("f_score", f.cast("long"))
        .withColumn("m_score", m.cast("long"))
        .select(col("user_id"), col("recency_days"), col("frequency"),
          col("mon_dec").cast("double").as("monetary"),
          col("r_score"), col("f_score"), col("m_score"),
          when(col("r_score") >= 4 && col("f_score") >= 4 &&
            col("m_score") >= 4, "champion")
            .when(col("r_score") >= 4 && col("f_score") >= 3, "loyal")
            .when(col("r_score") <= 2 && col("f_score") >= 3, "at_risk")
            .when(col("r_score") <= 1 && col("f_score") <= 2, "lost")
            .otherwise("regular").as("segment"))
    }, oracle = """
      WITH pu AS (
        SELECT o_custkey AS user_id, max(epoch_us(o_orderdate)) AS last_us,
          count(*)::BIGINT AS frequency,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS mon_dec
        FROM orders GROUP BY 1),
      an AS (SELECT *, max(last_us) OVER () AS anchor_us FROM pu),
      sc AS (
        SELECT user_id,
          (anchor_us - last_us) // 86400000000 AS recency_days,
          frequency, mon_dec,
          ntile(5) OVER (ORDER BY (anchor_us - last_us) // 86400000000
            DESC, user_id DESC)::BIGINT AS r_score,
          ntile(5) OVER (ORDER BY frequency ASC, user_id ASC)::BIGINT
            AS f_score,
          ntile(5) OVER (ORDER BY mon_dec ASC, user_id ASC)::BIGINT
            AS m_score
        FROM an)
      SELECT user_id, recency_days, frequency,
        CAST(mon_dec AS DOUBLE) AS monetary, r_score, f_score, m_score,
        CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
               THEN 'champion'
             WHEN r_score >= 4 AND f_score >= 3 THEN 'loyal'
             WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
             WHEN r_score <= 1 AND f_score <= 2 THEN 'lost'
             ELSE 'regular' END AS segment
      FROM sc"""),

    // E128 (X12): local-supplier revenue by nation — the TPC-H Q5 shape
    // over the until-now-unused dimension chain (customer → nation →
    // region, supplier → nation): revenue where the customer and the
    // line's supplier share a nation, restricted to one region, grouped
    // by nation. The multi-dim join-planning exercise: four dimension
    // tables broadcast (AQE decides; the region filter prunes nation
    // keys BEFORE the fact joins via the runtime bloom/dpp machinery),
    // the fact shuffles only for its two equi-joins against orders ⋈
    // customer. Revenue = Σ price·(1−discount) in DECIMAL end to end
    // (float per-row products would be deterministic but their SUM's
    // fold order would not be), double only at the boundary.
    // E155 (SUP1): supplier CONCENTRATION audit — per-nation
    // Herfindahl-Hirschman index + top-supplier share over supplier
    // revenue: the supply-chain risk screen ("nation X routes 40% of
    // its volume through one supplier") on the dimension chain x12
    // opened. HHI = Σsᵢ²/(Σsᵢ)² with the squares in DECIMAL(38,0)
    // (Spark) / HUGEINT (DuckDB) — cents² ≈ 5e19 crosses int64, the v5
    // boundary discipline, exact in any fold order — and the
    // denominator square taken in DOUBLE on BOTH engines (an integer
    // (Σs)² ≈ 3e22 would overflow DuckDB's BIGINT: the mirrored-ops
    // rule decides the representation, not each engine's headroom).
    // Both reporting ratios NULL-guard zero revenue (Kpi.ratio).
    // Shape: fact⋈supplier shuffles once to supplier grain (map-side
    // combined), nation grain is a ≤25-row re-aggregate, the nation
    // name broadcasts.
    QuerySpec("sup1_supplier_hhi", (s, d) => {
      val dec38 = DecimalType(38, 0)
      val rev = Sources.table(s, d, "lineitem")
        .join(Sources.table(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), col("s_suppkey"))
        .agg(sum(col("l_extendedprice").cast(money)).as("rev_dec"))
        .select(col("s_nationkey"),
          (col("rev_dec") * lit(100)).cast("long").as("cents"))
      val agg = rev.groupBy(col("s_nationkey")).agg(
        count(lit(1)).as("n_suppliers"),
        sum(col("cents")).as("sx"),
        sum(col("cents").cast(dec38) * col("cents")).as("sq"),
        max(col("cents")).as("mx"))
      val nullD = lit(null).cast("double")
      agg.join(broadcast(Sources.table(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("n_suppliers"),
          (col("sx").cast("double") / lit(100.0)).as("revenue"),
          when(col("sx") === 0L, nullD).otherwise(
            col("sq").cast("double") /
              (col("sx").cast("double") * col("sx").cast("double")))
            .as("hhi"),
          when(col("sx") === 0L, nullD).otherwise(
            col("mx").cast("double") / col("sx").cast("double"))
            .as("top_share"))
    }, oracle = """
      WITH rev AS (
        SELECT s.s_nationkey,
          CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) * 100
            AS BIGINT) AS cents
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY s.s_nationkey, s.s_suppkey),
      a AS (
        SELECT s_nationkey, count(*)::BIGINT AS n_suppliers,
          sum(cents)::BIGINT AS sx,
          sum(cents::HUGEINT * cents) AS sq,
          max(cents)::BIGINT AS mx
        FROM rev GROUP BY 1)
      SELECT n.n_name AS nation, a.n_suppliers,
        CAST(a.sx AS DOUBLE) / 100.0::DOUBLE AS revenue,
        CASE WHEN a.sx = 0 THEN NULL
          ELSE CAST(a.sq AS DOUBLE)
            / (CAST(a.sx AS DOUBLE) * CAST(a.sx AS DOUBLE)) END AS hhi,
        CASE WHEN a.sx = 0 THEN NULL
          ELSE CAST(a.mx AS DOUBLE) / CAST(a.sx AS DOUBLE) END
          AS top_share
      FROM a JOIN nation n ON a.s_nationkey = n.n_nationkey"""),

    QuerySpec("x12_local_supplier_revenue", (s, d) => {
      val one = lit(1).cast(money)
      val rev = col("l_extendedprice").cast(money) *
        (one - col("l_discount").cast(money))
      Sources.table(s, d, "orders")
        .join(Sources.table(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(Sources.table(s, d, "lineitem"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Sources.table(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(Sources.table(s, d, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .join(Sources.table(s, d, "region"),
          col("n_regionkey") === col("r_regionkey") &&
            col("r_name") === "ASIA")
        .groupBy(col("n_name").as("nation"))
        .agg(sum(rev).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }, oracle = """
      SELECT n_name AS nation,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
          * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        count(*)::BIGINT AS n_items
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
        AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
      GROUP BY 1"""),

    // E141 (X13): TPC-H Q3-shaped SHIPPING PRIORITY — top-10 unshipped
    // orders by pending revenue for one segment as of a cutoff date:
    // the classic "what do we expedite" OLAP probe. Revenue on the
    // x12 decimal-sum discipline; top-k is TakeOrderedAndProject
    // (bounded heap per partition, never a full sort) with an orderkey
    // tie-break; the segment filter prunes the customer build side
    // BEFORE the join and dates push to the scans.
    // E161 (X19): LARGE-VOLUME ORDERS — the TPC-H Q18 shape, the one
    // aggregate-HAVING-semi-join pattern the x-tier lacked: orders
    // whose total line quantity clears a threshold (bulk/wholesale
    // screening), decorated with customer and order facts. The shape's
    // point is WHERE the predicate runs: quantity sums at ORDER grain
    // with a map-side-combined aggregate and the HAVING prunes there —
    // the big fact relation never carries non-qualifying orders into
    // the join-backs (a filter-after-join would); the surviving key
    // set is tiny, so AQE broadcasts it into both decorations. Exact
    // decimal quantity sums, double at the boundary; deterministic
    // (qty desc, orderkey) top-100 via TakeOrderedAndProject.
    QuerySpec("x19_large_orders", (s, d) => {
      val qualifying = Sources.table(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast(money)).as("qty_dec"))
        .filter(col("qty_dec") > lit(95).cast(money))
      qualifying
        .join(Sources.table(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Sources.table(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey").as("custkey"), col("c_name").as("name"),
          col("o_orderkey").as("orderkey"),
          substring(col("o_orderdate").cast("string"), 1, 10)
            .as("order_date"),
          col("o_totalprice").as("total_price"),
          col("qty_dec").cast("double").as("total_qty"))
        .orderBy(col("total_qty").desc, col("orderkey").asc)
        .limit(100)
    }, oracle = """
      WITH q AS (
        SELECT l_orderkey,
          sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec
        FROM lineitem GROUP BY 1
        HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 95)
      SELECT c.c_custkey AS custkey, c.c_name AS name,
        o.o_orderkey AS orderkey,
        substr(CAST(o.o_orderdate AS VARCHAR), 1, 10) AS order_date,
        o.o_totalprice AS total_price,
        CAST(q.qty_dec AS DOUBLE) AS total_qty
      FROM q
      JOIN orders o ON q.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      ORDER BY total_qty DESC, orderkey ASC
      LIMIT 100"""),

    // E162 (X20): IDLE-CAPITAL screen — the TPC-H Q22 shape completing
    // the correlated-subquery family: customers with above-average
    // account balance and no order since the recency cutoff (capital
    // parked by LAPSED accounts), summarized per nation. Two classic
    // pieces: the global positive-balance mean as a 1-row broadcast
    // bounds frame (never a per-row recompute; decimal-sum and count
    // BOTH cast double before the one division — decimal÷decimal scale
    // rules differ per engine, double÷double is IEEE-identical), and
    // NOT EXISTS as a LEFT ANTI against the date-filtered orders key
    // projection (the p3/j3 discipline — the cutoff pushes into the
    // scan BEFORE the distinct, so the anti build side is recent keys
    // only). Balance sums in DECIMAL, double at the boundary; the
    // result rides the ≤25-nation grain.
    QuerySpec("x20_idle_capital", (s, d) => {
      val cust = Sources.table(s, d, "customer")
      // greatest(count,1) guards the zero-positive-balance degenerate:
      // Spark 4 ANSI throws on /0 even for doubles (the Kpi.ratio
      // rationale); with the guard the NULL sum propagates and both
      // engines return the same empty result
      val bounds = cust.where(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast(money)).cast("double") /
          greatest(count(lit(1)), lit(1L)).cast("double")).as("avg_bal"))
      cust
        .crossJoin(broadcast(bounds))
        .where(col("c_acctbal") > col("avg_bal"))
        .join(Sources.table(s, d, "orders")
            .where(col("o_orderdate") >= to_timestamp(lit("2000-06-01")))
            .select(col("o_custkey")).distinct(),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast(money)).cast("double").as("idle_balance"))
    }, oracle = """
      WITH b AS (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
          / greatest(count(*), 1)::DOUBLE AS avg_bal
        FROM customer WHERE c_acctbal > 0.0)
      SELECT c.c_nationkey::BIGINT AS nationkey,
        count(*)::BIGINT AS n_customers,
        CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
          AS idle_balance
      FROM customer c, b
      WHERE c.c_acctbal > b.avg_bal
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
      GROUP BY 1"""),

    // E177 (X21): WAITING-SUPPLIER census — the TPC-H Q21 shape, the
    // one multi-correlated self-join pattern the x-tier lacked:
    // suppliers whose lineitem was the ONLY late line in a
    // multi-supplier finalized order (correlated EXISTS another-
    // supplier line AND NOT EXISTS another-supplier LATE line against
    // the same table under different aliases). Spark-first rewrite:
    // both quantifiers collapse into per-order distinct-supplier
    // counts over ONE orderkey-partitioned window (collect_set —
    // per-order line counts are bounded by construction), so the fact
    // shuffles ONCE instead of three self-join passes; the
    // supplier⋈nation dimension broadcasts onto the supplier-grain
    // aggregate. Lateness = shipped > 60 days after order date (this
    // schema carries no commit/receipt dates; the quantifier structure
    // is the point). The oracle runs the LITERAL EXISTS / NOT EXISTS
    // form — two genuinely different decompositions of the answer.
    QuerySpec("x21_waiting_suppliers", (s, d) => {
      val o = Sources.table(s, d, "orders")
        .where(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      // restricting to F orders before the window is safe: the
      // quantifier lines share l1's orderkey, hence l1's (F) order
      val l = Sources.table(s, d, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 60 DAYS")).as("late"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_orderkey"))
      // both quantifier counts in ONE projection → one Window node
      // (two stacked withColumns would plan two)
      val qual = l
        .select(col("l_suppkey"), col("late"),
          size(collect_set(col("l_suppkey")).over(w)).as("ns"),
          size(collect_set(
            when(col("late"), col("l_suppkey"))).over(w)).as("nl"))
        .where(col("late") && col("ns") > 1 && col("nl") === 1)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
      val supp = Sources.table(s, d, "supplier")
        .join(Sources.table(s, d, "nation"),
          col("s_nationkey") === col("n_nationkey") &&
            col("n_regionkey") === 0)
        .select(col("s_suppkey"), col("s_name"))
      qual.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(100)
    },
      // x21 oracle: the LITERAL correlated-quantifier form (the Spark
      // query runs the windowed distinct-count rewrite — genuinely
      // different decompositions; equivalence: EXISTS other-supplier
      // line == order has >= 2 distinct suppliers, NOT EXISTS
      // other-supplier late line == the late-supplier set is exactly
      // {l1's supplier})
      oracle = """
      SELECT s.s_name, count(*)::BIGINT AS numwait
      FROM lineitem l1
      JOIN orders o ON o.o_orderkey = l1.l_orderkey
        AND o.o_orderstatus = 'F'
      JOIN supplier s ON s.s_suppkey = l1.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
        AND n.n_regionkey = 0
      WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      GROUP BY 1
      ORDER BY numwait DESC, s_name ASC
      LIMIT 100"""),

    // E178 (X22): MIN-COST SUPPLIER per part — the TPC-H Q2 shape, the
    // x-tier's remaining correlated-scalar pattern: for every scoped
    // part, the supplier(s) achieving the MINIMUM cost within a region
    // (ties all returned, Q2's semantics). The schema carries no
    // partsupp table, so the catalog is DERIVED: cheapest observed
    // line price per (part, supplier) — one map-side-combined
    // aggregate. Spark-first rewrite: the correlated
    // `cost = (SELECT min(cost) ... WHERE same part)` becomes a
    // part-partitioned window MIN + filter — the argmin rides the
    // aggregate's own shuffle key (no join-back, no second scan of the
    // fact); region/part dims broadcast. The oracle runs the LITERAL
    // correlated scalar subquery — two genuinely different
    // decompositions of the answer.
    QuerySpec("x22_mincost_supplier", (s, d) => {
      val ps = Sources.table(s, d, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice").cast(money)).as("cost"))
      val supp = Sources.table(s, d, "supplier")
        .join(Sources.table(s, d, "nation"),
          col("s_nationkey") === col("n_nationkey") &&
            col("n_regionkey") === 1)
        .select(col("s_suppkey"), col("s_name"), col("n_name").as("nation"))
      val pt = Sources.table(s, d, "part")
        .where(col("p_size") <= 10 && col("p_type") === "SMALL")
        .select(col("p_partkey"), col("p_brand"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_partkey"))
      ps.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .withColumn("min_cost", min(col("cost")).over(w))
        .where(col("cost") === col("min_cost"))
        .select(col("l_partkey").as("partkey"), col("p_brand").as("brand"),
          col("s_name"), col("nation"),
          col("cost").cast("double").as("cost"))
    },
      // x22 oracle: the LITERAL Q2 correlated scalar subquery (the Spark
      // query runs the part-partitioned window-min rewrite)
      oracle = """
      WITH ps AS (
        SELECT l_partkey, l_suppkey,
          min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
        FROM lineitem GROUP BY 1, 2)
      SELECT ps.l_partkey AS partkey, p.p_brand AS brand,
        s.s_name, n.n_name AS nation, CAST(ps.cost AS DOUBLE) AS cost
      FROM ps
      JOIN supplier s ON s.s_suppkey = ps.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_regionkey = 1
      JOIN part p ON p.p_partkey = ps.l_partkey
        AND p.p_size <= 10 AND p.p_type = 'SMALL'
      WHERE ps.cost = (
        SELECT min(ps2.cost) FROM ps ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
        JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
          AND n2.n_regionkey = 1
        WHERE ps2.l_partkey = ps.l_partkey)"""),

    // E179 (X23): ORDER-COUNT DISTRIBUTION — the TPC-H Q13 shape, the
    // one double-aggregate pattern the x-tier lacked: count per
    // customer INCLUDING zeros (the left join is the semantics — an
    // inner join silently drops never-ordered customers from the 0
    // bucket), then the histogram of those counts. Scale: the outer
    // join and the per-customer count share the custkey shuffle (AQE
    // reuses the partitioning); the second aggregate runs at count
    // grain — tiny. No window, no sort.
    QuerySpec("x23_order_count_histogram", (s, d) => {
      val o = Sources.table(s, d, "orders")
        .where(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"), col("o_orderkey"))
      Sources.table(s, d, "customer")
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    },
      // x23 oracle: the literal Q13 left-outer double aggregate
      oracle = """
      SELECT c_count, count(*)::BIGINT AS custdist
      FROM (
        SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
        FROM customer
        LEFT OUTER JOIN orders ON c_custkey = o_custkey
          AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey) c_orders
      GROUP BY c_count"""),

    // E183 (X24): DOMINANT-SUPPLIER census — the TPC-H Q20 shape, the
    // x-tier's remaining correlated pattern: a nested semi-join whose
    // inner predicate is a correlated AGGREGATE comparison (Q20's
    // "availqty > half the part's shipped quantity"). The schema
    // carries no partsupp, so the catalog is DERIVED (the x22
    // convention): per (part, supplier) shipped quantity in the scoped
    // year, and a supplier qualifies if for SOME scoped part it
    // shipped MORE THAN HALF of the part's total — strict >, exact
    // DECIMAL sums (ties at exactly half never qualify; OlapEdgeSpec
    // pins the boundary). Spark-first rewrite: the correlated
    // `(SELECT sum ... same part)` becomes a part-partitioned window
    // SUM on the aggregate grain (x22's no-join-back trick), the part
    // scope broadcasts INTO the fact scan before the aggregate, and
    // the IN-subquery becomes a supplier-grain distinct + left-semi.
    // The oracle runs the LITERAL nested IN + correlated scalar form.
    QuerySpec("x24_dominant_supplier", (s, d) => {
      val scoped = Sources.table(s, d, "part")
        .where(col("p_name").startsWith("small"))
        .select(col("p_partkey"))
      val ps = Sources.table(s, d, "lineitem")
        .where(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")))
        .join(broadcast(scoped), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast(money)).as("qty"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_partkey"))
      val dominant = ps
        .select(col("l_suppkey"), col("qty"),
          sum(col("qty")).over(w).as("part_total"))
        .where(col("qty") * 2 > col("part_total"))
        .select(col("l_suppkey")).distinct()
      Sources.table(s, d, "supplier")
        .join(Sources.table(s, d, "nation"),
          col("s_nationkey") === col("n_nationkey") &&
            col("n_regionkey") === 2)
        .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"), col("n_name").as("nation"))
        .orderBy(col("s_name").asc)
    },
      // x24 oracle: the LITERAL Q20 nested form — IN-subquery over the
      // derived catalog with a correlated scalar aggregate (the Spark
      // query runs the part-partitioned window-sum rewrite)
      oracle = """
      WITH ps AS (
        SELECT l_partkey, l_suppkey,
          sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        FROM lineitem
        WHERE l_partkey IN
            (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1, 2)
      SELECT s_name, n_name AS nation
      FROM supplier
      JOIN nation ON n_nationkey = s_nationkey AND n_regionkey = 2
      WHERE s_suppkey IN (
        SELECT l_suppkey FROM ps
        WHERE qty * 2 > (SELECT sum(qty) FROM ps ps2
                         WHERE ps2.l_partkey = ps.l_partkey))
      ORDER BY s_name"""),

    QuerySpec("x13_shipping_priority", (s, d) => {
      val cutoff = to_timestamp(lit("1998-07-01"))
      val rev = col("l_extendedprice").cast(money) *
        (lit(1).cast(money) - col("l_discount").cast(money))
      Sources.table(s, d, "customer")
        .where(col("c_mktsegment") === "BUILDING")
        .join(Sources.table(s, d, "orders"),
          col("c_custkey") === col("o_custkey") &&
            col("o_orderdate") < cutoff)
        .join(Sources.table(s, d, "lineitem"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > cutoff)
        .groupBy(col("l_orderkey"),
          substring(col("o_orderdate").cast("string"), 1, 10)
            .as("order_date"),
          col("o_orderpriority").as("priority"))
        .agg(sum(rev).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }, oracle = """
      SELECT l_orderkey,
        substr(CAST(o_orderdate AS VARCHAR), 1, 10) AS order_date,
        o_orderpriority AS priority,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
          * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        count(*)::BIGINT AS n_items
      FROM customer
      JOIN orders ON c_custkey = o_custkey
        AND o_orderdate < TIMESTAMP '1998-07-01'
      JOIN lineitem ON l_orderkey = o_orderkey
        AND l_shipdate > TIMESTAMP '1998-07-01'
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY 1, 2, 3
      ORDER BY revenue DESC, l_orderkey ASC
      LIMIT 10"""),

    // E143 (X14): TPC-H Q1-shaped PRICING SUMMARY — the canonical
    // wide-aggregate scan (4 decimal sums, 3 derived means, a count
    // per flag/status cell): one pass, map-side-combined, group
    // cardinality O(flags x statuses). Means are explicit
    // decimal-sum / count double divisions (never engine avg(), whose
    // decimal scale rules differ); the date predicate pushes to the
    // scan.
    QuerySpec("x14_pricing_summary", (s, d) => {
      val li = Sources.table(s, d, "lineitem")
        .where(col("l_shipdate") <= to_timestamp(lit("2001-09-01")))
      // Narrow factor types so the 3-factor product stays EXACT under
      // both engines' decimal precision rules (price d(12,2) x rate
      // d(3,2) x rate d(3,2) -> scale 6, far inside 38): the generic
      // d(18,2) money type would push Spark past precision 38 on the
      // triple product and trigger its precision-loss rounding.
      val rate = DecimalType(3, 2)
      val price = col("l_extendedprice").cast(DecimalType(12, 2))
      val disc = price * (lit(1).cast(rate) - col("l_discount").cast(rate))
      val charged = disc * (lit(1).cast(rate) + col("l_tax").cast(rate))
      li.groupBy(col("l_returnflag").as("returnflag"),
          col("l_linestatus").as("linestatus"))
        .agg(sum(col("l_quantity").cast(money)).cast("double").as("sum_qty"),
          sum(price).cast("double").as("sum_base_price"),
          sum(disc).cast("double").as("sum_disc_price"),
          sum(charged).cast("double").as("sum_charge"),
          count(lit(1)).as("n_items"))
        .select(col("returnflag"), col("linestatus"), col("sum_qty"),
          col("sum_base_price"), col("sum_disc_price"), col("sum_charge"),
          (col("sum_qty") / col("n_items").cast("double")).as("avg_qty"),
          (col("sum_base_price") / col("n_items").cast("double"))
            .as("avg_price"),
          col("n_items"))
    }, oracle = """
      WITH a AS (
        SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
            AS sum_qty,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
            AS sum_base_price,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
            * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
            AS sum_disc_price,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
            * (1 - CAST(l_discount AS DECIMAL(3,2)))
            * (1 + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE)
            AS sum_charge,
          count(*)::BIGINT AS n_items
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        GROUP BY 1, 2)
      SELECT returnflag, linestatus, sum_qty, sum_base_price,
        sum_disc_price, sum_charge,
        sum_qty / n_items::DOUBLE AS avg_qty,
        sum_base_price / n_items::DOUBLE AS avg_price,
        n_items
      FROM a"""),

    // E121 (AB1): A/B experiment lift — the two-proportion experiment
    // readout product analytics runs on every feature flag: users split
    // into control/treatment by the deterministic md5-prefix rule (the
    // splitOf convention — rerun-stable, any worker re-derives any
    // user's arm), conversion = a purchase within 7 days of the user's
    // FIRST view (a windowed binary outcome with real variance — "ever
    // purchased" is degenerate on this corpus), plus per-arm revenue in
    // the window (decimal sums) and the pooled two-proportion z-score.
    // Two user-grain aggregates + one 1-row report; every rate is an
    // ANSI-safe ratio of exact longs and the z arithmetic is a fixed
    // left-associative double expression mirrored textually in the
    // oracle (sqrt is IEEE correctly-rounded in both engines).
    QuerySpec("ab1_experiment_lift", (s, d) => {
      val ev0 = Sources.table(s, d, "events")
      val ev = ev0.select(col("user_id"), col("event_type"), col("value"),
        Sources.epochUs(ev0).as("us"))
      val winUs = 604800000000L
      val fv = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
      val inWin = col("event_type") === "purchase" &&
        col("us") >= col("v_us") && col("us") < col("v_us") + winUs
      val u = ev.join(fv, Seq("user_id"))
        .groupBy(col("user_id"))
        .agg(max(when(inWin, 1L).otherwise(0L)).as("converted"),
          sum(when(inWin, col("value")).cast(DecimalType(18, 6)))
            .as("rev_dec"))
        .withColumn("variant",
          when(substring(graft.functions.TextFunctions
            .docIdHash(col("user_id")), 1, 1) < "8", "control")
            .otherwise("treatment"))
      val r = u.agg(
        count(when(col("variant") === "control", 1)).as("n_control"),
        count(when(col("variant") === "treatment", 1)).as("n_treatment"),
        coalesce(sum(when(col("variant") === "control", col("converted"))),
          lit(0L)).as("conv_control"),
        coalesce(sum(when(col("variant") === "treatment", col("converted"))),
          lit(0L)).as("conv_treatment"),
        sum(when(col("variant") === "control", col("rev_dec")))
          .cast("double").as("rev_control"),
        sum(when(col("variant") === "treatment", col("rev_dec")))
          .cast("double").as("rev_treatment"))
      val rateC = Kpi.ratio(col("conv_control").cast("double"),
        col("n_control").cast("double"))
      val rateT = Kpi.ratio(col("conv_treatment").cast("double"),
        col("n_treatment").cast("double"))
      val pPool = (col("conv_control") + col("conv_treatment"))
        .cast("double") /
        (col("n_control") + col("n_treatment")).cast("double")
      val se = sqrt(pPool * (lit(1.0) - pPool) *
        (lit(1.0) / col("n_control").cast("double") +
          lit(1.0) / col("n_treatment").cast("double")))
      r.select(col("n_control"), col("n_treatment"),
        col("conv_control"), col("conv_treatment"),
        rateC.as("rate_control"), rateT.as("rate_treatment"),
        (rateT - rateC).as("abs_lift"),
        col("rev_control"), col("rev_treatment"),
        when(se > 0.0, (rateT - rateC) / se)
          .otherwise(lit(null).cast("double")).as("z_score"))
    }, oracle = """
      WITH ev AS (
        SELECT user_id, event_type, value, epoch_us(ts) AS us FROM events),
      fv AS (SELECT user_id, min(us) AS v_us FROM ev
        WHERE event_type = 'view' GROUP BY 1),
      u AS (
        SELECT e.user_id,
          max(CASE WHEN e.event_type = 'purchase' AND e.us >= fv.v_us
            AND e.us < fv.v_us + 604800000000
            THEN 1 ELSE 0 END)::BIGINT AS converted,
          sum(CASE WHEN e.event_type = 'purchase' AND e.us >= fv.v_us
            AND e.us < fv.v_us + 604800000000
            THEN CAST(e.value AS DECIMAL(18,6)) END) AS rev_dec
        FROM ev e JOIN fv USING (user_id) GROUP BY 1),
      uv AS (
        SELECT *, CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
          THEN 'control' ELSE 'treatment' END AS variant
        FROM u),
      agg AS (
        SELECT
          count(*) FILTER (WHERE variant = 'control')::BIGINT AS n_control,
          count(*) FILTER (WHERE variant = 'treatment')::BIGINT
            AS n_treatment,
          coalesce(sum(converted) FILTER (WHERE variant = 'control'),
            0)::BIGINT AS conv_control,
          coalesce(sum(converted) FILTER (WHERE variant = 'treatment'),
            0)::BIGINT AS conv_treatment,
          CAST(sum(rev_dec) FILTER (WHERE variant = 'control') AS DOUBLE)
            AS rev_control,
          CAST(sum(rev_dec) FILTER (WHERE variant = 'treatment') AS DOUBLE)
            AS rev_treatment
        FROM uv),
      sc AS (
        SELECT *,
          conv_control::DOUBLE / NULLIF(n_control::DOUBLE, 0)
            AS rate_control,
          conv_treatment::DOUBLE / NULLIF(n_treatment::DOUBLE, 0)
            AS rate_treatment,
          (conv_control + conv_treatment)::DOUBLE
            / (n_control + n_treatment)::DOUBLE AS p
        FROM agg),
      sce AS (
        SELECT *, sqrt(p * (1.0::DOUBLE - p) * (1.0::DOUBLE
          / n_control::DOUBLE + 1.0::DOUBLE / n_treatment::DOUBLE)) AS se
        FROM sc)
      SELECT n_control, n_treatment, conv_control, conv_treatment,
        rate_control, rate_treatment,
        rate_treatment - rate_control AS abs_lift,
        rev_control, rev_treatment,
        CASE WHEN se > 0 THEN (rate_treatment - rate_control) / se
          END AS z_score
      FROM sce"""),

    // E124 (F17): repeat-purchase interval distribution — the retention
    // statistic behind CLV / churn models: the gap in whole days between
    // each user's CONSECUTIVE purchases (one user-grain window pass, lag
    // over (ts, event_id) — the path1 shape at purchase grain),
    // aggregated to the gap histogram with a share column (whole-frame
    // window over the |distinct gaps|-row aggregate — the mix2/f15
    // convention). Gap arithmetic is exact epoch-micros longs; the
    // histogram is bounded by the calendar span whatever the log size.
    // E156 (F18): order-to-SHIP LATENCY distribution — the fulfillment
    // SLA histogram (how many days from order to each line shipping;
    // the ops twin of f17's customer-side repurchase gaps): per exact
    // integer day-gap, item count and share. Gaps are engine-exact
    // DATE subtraction (no timestamps, no TZ); the share rides a
    // whole-frame window over the gap grain — bounded by the latency
    // DOMAIN in days (~5k values here), never fact-wide (mix2 rule) —
    // one fact-width join + map-side-combined aggregate, nothing
    // corpus-scale shuffles twice. The orders side joins on the key
    // only (AQE picks the side to broadcast at real scale).
    QuerySpec("f18_ship_latency", (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val gaps = Sources.table(s, d, "lineitem")
        .join(Sources.table(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(datediff(col("l_shipdate"), col("o_orderdate"))
          .cast("long").as("latency_days"))
        .groupBy(col("latency_days")).agg(count(lit(1)).as("n_items"))
      val total = sum(col("n_items")).over(W.partitionBy())
      gaps.withColumn("tot", total)
        .select(col("latency_days"), col("n_items"),
          when(col("tot") === 0L, lit(null).cast("double")).otherwise(
            col("n_items").cast("double") / col("tot").cast("double"))
            .as("share"))
    }, oracle = """
      WITH g AS (
        SELECT datediff('day', o.o_orderdate, l.l_shipdate)::BIGINT
          AS latency_days
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      a AS (SELECT latency_days, count(*)::BIGINT AS n_items
        FROM g GROUP BY 1),
      w AS (SELECT latency_days, n_items,
        sum(n_items) OVER () AS tot FROM a)
      SELECT latency_days, n_items,
        CASE WHEN tot = 0 THEN NULL
          ELSE CAST(n_items AS DOUBLE) / CAST(tot AS DOUBLE) END AS share
      FROM w"""),

    QuerySpec("f17_repurchase_intervals", (s, d) => {
      val ev0 = Sources.table(s, d, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val gaps = ev0.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          Sources.epochUs(ev0).as("us"))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .filter(col("prev_us").isNotNull)
        .select(expr("(us - prev_us) DIV 86400000000").as("gap_days"))
      gaps.groupBy(col("gap_days"))
        .agg(count(lit(1)).as("n_gaps"))
        .withColumn("share", col("n_gaps").cast("double") /
          sum(col("n_gaps")).over(
            org.apache.spark.sql.expressions.Window.partitionBy())
            .cast("double"))
    }, oracle = """
      WITH p AS (
        SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        WHERE event_type = 'purchase'),
      g AS (
        SELECT (us - lag(us) OVER (PARTITION BY user_id
          ORDER BY us, event_id)) // 86400000000 AS gap_days
        FROM p),
      h AS (SELECT gap_days, count(*)::BIGINT AS n_gaps FROM g
        WHERE gap_days IS NOT NULL GROUP BY 1)
      SELECT gap_days, n_gaps,
        n_gaps::DOUBLE / (sum(n_gaps) OVER ())::DOUBLE AS share
      FROM h"""),

    QuerySpec("f14_funnel", (s, d) => {
      val ev0 = Sources.table(s, d, "events")
      val ev = ev0.select(col("user_id"), col("event_type"),
        Sources.epochUs(ev0).as("ts_us"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("view_us"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts_us") > col("view_us"))
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("click_us"))
      val pch = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts_us") > col("click_us"))
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("purchase_us"))
      v.join(c, Seq("user_id"), "left")
        .join(pch, Seq("user_id"), "left")
        .select(col("user_id"), col("view_us"), col("click_us"),
          col("purchase_us"),
          when(col("purchase_us").isNotNull, 3L)
            .when(col("click_us").isNotNull, 2L)
            .otherwise(1L).as("depth"))
    }, oracle = """
      WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      v AS (SELECT user_id, min(ts_us) AS view_us FROM ev
        WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT e.user_id, min(e.ts_us) AS click_us
        FROM ev e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts_us > v.view_us GROUP BY 1),
      pch AS (SELECT e.user_id, min(e.ts_us) AS purchase_us
        FROM ev e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts_us > c.click_us GROUP BY 1)
      SELECT v.user_id, v.view_us, c.click_us, pch.purchase_us,
        (CASE WHEN pch.purchase_us IS NOT NULL THEN 3
              WHEN c.click_us IS NOT NULL THEN 2
              ELSE 1 END)::BIGINT AS depth
      FROM v LEFT JOIN c USING (user_id) LEFT JOIN pch USING (user_id)"""),

    // E99 (PATH1): event-transition matrix — the user-journey (Markov)
    // view product analytics builds where f14 fixes three stages: counts
    // and row-normalized probabilities of every consecutive
    // (event_type → next event_type) transition within a user's
    // timeline. ONE user-grain window pass (lead over the user
    // partition, event_id tiebreak for simultaneous events) + a
    // type-pair aggregate — the matrix is |types|² rows however large
    // the event log; p is a ratio of exact longs (the lm1 discipline).
    QuerySpec("path1_event_transitions", (s, d) => {
      val ev0 = Sources.table(s, d, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy(col("from_type"))
      ev0.select(col("user_id"), col("event_id"),
          col("event_type").as("from_type"), Sources.epochUs(ev0).as("ts_us"))
        .withColumn("to_type", lead(col("from_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n_transitions"))
        .withColumn("p", col("n_transitions").cast("double") /
          sum(col("n_transitions")).over(wp).cast("double"))
    }, oracle = """
      WITH ev AS (
        SELECT user_id, event_id, event_type AS from_type,
          epoch_us(ts) AS ts_us
        FROM events),
      s AS (
        SELECT from_type,
          lead(from_type) OVER (PARTITION BY user_id
            ORDER BY ts_us, event_id) AS to_type
        FROM ev)
      SELECT from_type, to_type, count(*)::BIGINT AS n_transitions,
        count(*)::DOUBLE /
          sum(count(*)) OVER (PARTITION BY from_type)::DOUBLE AS p
      FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2"""),

    // E89 (COH1): signup-cohort retention matrix — users bucketed by the
    // epoch week of their FIRST signup; cell (cohort_week, k) counts the
    // distinct users of that cohort active in ANY event k weeks later.
    // Weeks are integer epoch-microsecond division (exact both engines).
    // Two user-grain aggregates + one user-keyed join (first-signup side
    // shrinks to distinct users — broadcast when it fits, AQE otherwise);
    // the (user, week) distinct pass is the only corpus-width shuffle.
    QuerySpec("coh1_retention", (s, d) => {
      val ev0 = Sources.table(s, d, "events")
      val ev = ev0.select(col("user_id"), col("event_type"),
          Sources.epochUs(ev0).as("ts_us"))
        .select(col("user_id"), col("event_type"),
          expr("ts_us DIV 604800000000").as("wk"))
      val cohorts = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("wk")).as("cohort_week"))
      ev.select(col("user_id"), col("wk")).distinct()
        .join(cohorts, Seq("user_id"))
        .filter(col("wk") >= col("cohort_week"))
        .groupBy(col("cohort_week"),
          (col("wk") - col("cohort_week")).as("weeks_since"))
        .agg(count(lit(1)).as("n_users"))
    }, oracle = """
      WITH ev AS (
        SELECT user_id, event_type,
          epoch_us(ts) // 604800000000 AS wk FROM events),
      cohorts AS (
        SELECT user_id, min(wk) AS cohort_week FROM ev
        WHERE event_type = 'signup' GROUP BY 1),
      uw AS (SELECT DISTINCT user_id, wk FROM ev)
      SELECT c.cohort_week, uw.wk - c.cohort_week AS weeks_since,
        count(*)::BIGINT AS n_users
      FROM uw JOIN cohorts c USING (user_id)
      WHERE uw.wk >= c.cohort_week
      GROUP BY 1, 2"""),

    // §2.5 extension: KPI-history window query — top-3 categories per day
    // by revenue (genuine Window.partitionBy + rank, the shape the
    // reference's KPI store would be queried with).
    QuerySpec("x1_top_category_daily", (s, d) => {
      // date key on the orders side pre-join (the gapFilledDaily
      // convention)
      val daily = Kpi.threeWayJoin(o(s, d).withColumn("order_date",
          substring(col("created_at"), 1, 10)), oi(s, d), p(s, d))
        .groupBy(col("o.order_date"),
          col("p.category").as("category"))
        .agg(sum(col("oi.sale_price").cast(money)).cast("double")
          .as("revenue"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("order_date"))
        .orderBy(col("revenue").desc, col("category").asc)
      daily.withColumn("rnk", rank().over(w))
        .filter(col("rnk") <= 3)
        .select(col("order_date"), col("rnk").cast("long").as("rnk"),
          col("category"), col("revenue"))
    }, oracle = s"""$ctes,
      daily AS (
        SELECT substr(o.created_at, 1, 10) AS order_date,
          p.category AS category,
          CAST(sum(CAST(oi.sale_price AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        $kpiJoin
        GROUP BY 1, 2)
      SELECT order_date, rnk, category, revenue FROM (
        SELECT order_date, category, revenue,
          rank() OVER (PARTITION BY order_date
            ORDER BY revenue DESC, category ASC)::BIGINT AS rnk
        FROM daily)
      WHERE rnk <= 3""")
  )
}
