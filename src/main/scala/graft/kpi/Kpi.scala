package graft.kpi

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** KPI stage (reference SURVEY.md §2.3 J1/J2, §2.4 A1-A5).
  *
  * Reference shape (`scripts/transformation.py:177-248`): a 3-way inner
  * equi-join orders ⋈ order_items ⋈ products feeding two aggregation
  * families (per-category and global), with three availability modes —
  * `complete`, `order_items_only`, `orders_only` — that null out the
  * unavailable KPI fields.
  *
  * Money semantics: the reference sums raw doubles, which is
  * order-nondeterministic. We sum `DECIMAL(18,2)` — exact, associative,
  * reproducible across any partitioning/AQE replan — then cast the final
  * sum to double at the output boundary (one deterministic conversion; the
  * averages likewise divide the exact decimal sum as a final IEEE op). At
  * 100 TB reproducibility of money aggregates is a correctness property,
  * not a style choice; exposing double keeps the public schema identical to
  * the reference's (which sums doubles end-to-end).
  *
  * Scale notes:
  *  - products is the small dimension → explicit `broadcast` hint (the
  *    reference left it to AQE; at a 1000-executor scale you don't want a
  *    sort-merge join against a dimension table ever).
  *  - both KPI families come from ONE action over one join (GROUPING
  *    SETS on category) — the reference re-executed the full 3-way
  *    join once per family (`scripts/transformation.py:193,205`) — and
  *    their bounded outputs are collected, so no fact-scale cache
  *    outlives the call.
  *  - distinct counts are exact (a 2-phase agg), matching the reference;
  *    `approx_count_distinct` is the documented relaxation when a 5% error
  *    is acceptable at 100 TB.
  */
object Kpi {

  private val money = DecimalType(18, 2)

  /** J1: 3-way inner equi-join with the dimension broadcast. */
  def threeWayJoin(orders: DataFrame, items: DataFrame,
      products: DataFrame): DataFrame =
    orders.as("o")
      .join(items.as("oi"), col("o.order_id") === col("oi.order_id"))
      .join(broadcast(products.as("p")), col("oi.product_id") === col("p.id"))

  /** J2: items ⋈ products (order_items_only mode). */
  def itemsProductsJoin(items: DataFrame, products: DataFrame): DataFrame =
    items.as("oi")
      .join(broadcast(products.as("p")), col("oi.product_id") === col("p.id"))

  /** Ratio with an explicit zero-denominator guard: Spark 4 runs ANSI
    * mode by default, where x / 0 THROWS instead of returning null — an
    * empty input frame (the global aggs still emit one row) or a group
    * whose denominator column is entirely null would abort the whole KPI
    * job. NULL is the reference's own avg()-over-nothing answer; the
    * oracle twins mirror with NULLIF. One definition for every consumer
    * (this file + [[graft.queries.PipelineQueries]]' m1 halves and a1c
    * compat arm). */
  private[graft] def ratio(num: Column, den: Column): Column =
    when(den === 0, lit(null).cast("double")).otherwise(num / den)

  /** A1/A5: per-category KPIs over a joined frame carrying `p.category`,
    * `oi.sale_price`, `oi.status`, `oi.id`
    * (reference `scripts/transformation.py:187-191`). */
  def categoryKpi(joined: DataFrame): DataFrame =
    joined.groupBy(categoryKey).agg(categoryAggs.head, categoryAggs.tail: _*)

  private def categoryKey: Column = col("p.category").as("category")
  private def categoryAggs: Seq[Column] = Seq(
      sum(col("oi.sale_price").cast(money)).cast("double").as("daily_revenue"),
      // avg(sale_price) semantics (transformation.py:189): the denominator is
      // count(sale_price) — non-null values only — NOT count(id).
      ratio(sum(col("oi.sale_price").cast(money)).cast("double"),
        count(col("oi.sale_price"))).as("avg_order_value"),
      ratio(count(when(col("oi.status") === "returned", true)).cast("double"),
        count(col("oi.id"))).as("avg_return_rate"))

  /** A2: global order KPIs, complete mode
    * (reference `scripts/transformation.py:197-203`). */
  def orderKpiComplete(joined: DataFrame): DataFrame =
    joined.agg(countDistinct(col("o.order_id")).as("total_orders"),
      orderMeasures :+
        countDistinct(col("o.user_id")).as("unique_customers"): _*)

  private def orderMeasures: Seq[Column] = Seq(
      sum(col("oi.sale_price").cast(money)).cast("double").as("total_revenue"),
      count(col("oi.id")).as("total_items_sold"),
      ratio(count(when(col("oi.status") === "returned", true)).cast("double"),
        count(col("oi.id"))).as("return_rate"))

  /** A3: order_items_only mode — orders-table KPIs are typed nulls
    * (reference `scripts/transformation.py:225-231`). NB the reference
    * computes this over the items⋈products INNER join (`:212-213`), so items
    * whose product_id has no product match are excluded — pass
    * [[itemsProductsJoin]] output here (already carrying the `oi` alias),
    * not raw items. */
  def orderKpiItemsOnly(items: DataFrame): DataFrame =
    items.agg(lit(null).cast("long").as("total_orders"),
      orderMeasures :+ lit(null).cast("long").as("unique_customers"): _*)

  /** A4: orders_only mode (reference `scripts/transformation.py:238-244`). */
  def orderKpiOrdersOnly(orders: DataFrame): DataFrame =
    orders.as("o").agg(
      countDistinct(col("o.order_id")).as("total_orders"),
      lit(null).cast("double").as("total_revenue"),
      lit(null).cast("long").as("total_items_sold"),
      lit(null).cast("double").as("return_rate"),
      countDistinct(col("o.user_id")).as("unique_customers"))

  /** Availability dispatch (reference `scripts/transformation.py:163-248`):
    * run whichever KPI families the present tables allow. Returns
    * (categoryKpi?, orderKpi?) as DRIVER-LOCAL frames: the outputs are
    * bounded at any data scale (category rows + one global row), so both
    * families of a mode come back from ONE action ([[collectFamilies]]) and
    * no fact-scale cache or checkpoint outlives the call.
    *
    * Products is MANDATORY: the reference raises "Products Delta table is
    * required" before any availability branch (`transformation.py:163-166`),
    * even in orders-only mode — missing products fails loud, never silently
    * skips. In order_items_only mode both KPI families run over the
    * items⋈products inner join (`transformation.py:211-233`).
    */
  def computeKpis(orders: Option[DataFrame], items: Option[DataFrame],
      products: Option[DataFrame]): (Option[DataFrame], Option[DataFrame]) = {
    val p = products.getOrElse(throw new IllegalArgumentException(
      "Products table is required for KPI computation"))
    (orders, items) match {
      case (Some(o), Some(i)) =>
        collectFamilies(threeWayJoin(o, i, p), orderKpiComplete,
          Seq("order_id", "user_id"))
      case (None, Some(i)) =>
        collectFamilies(itemsProductsJoin(i, p), orderKpiItemsOnly, Nil)
      case (Some(o), None) =>
        (None, Some(collected(orderKpiOrdersOnly(o))))
      case (None, None) => (None, None)
    }
  }

  /** Both KPI families of one join in ONE action: GROUPING SETS
    * ((category), (), (key) per `counted` key of `o`), then a second
    * aggregate that passes the category and global rows through and
    * counts each key's rows into the global row. No aggregate has two
    * distinct keys (whose Expand follows expression-id hashes), so the
    * code is the same for every batch. On EMPTY input, where grouping
    * sets emit no global row, `order` runs on its own. Measured on a
    * 60-order daily batch at local[4]: 5 Spark jobs, 20 generated classes. */
  private def collectFamilies(joined: DataFrame, order: DataFrame => DataFrame,
      counted: Seq[String]): (Option[DataFrame], Option[DataFrame]) = {
    val cat = categoryKpi(joined)
    val ord = order(joined)
    val countNames = Seq("total_orders", "unique_customers")
    val grouped = col("p.category") +: counted.map(k => col(s"o.$k"))
    // grouping_id sets the bit of each column a row's set leaves out
    val all = (1 << grouped.size) - 1
    def only(i: Int) = all - (1 << (grouped.size - 1 - i))
    val passed = (cat.columns.tail ++ ord.columns.diff(countNames)).toSeq
      .map(c => max(when(col("gid").isin(only(0), all), col(c))).as(c))
    val rows = joined.groupingSets(Nil +: grouped.map(Seq(_)), grouped: _*)
      .agg(grouping_id().as("gid"), categoryAggs ++ orderMeasures: _*)
      .groupBy((col("gid") === only(0)).as("is_category"), col("category"))
      .agg(passed.head, passed.tail ++ countNames.zipWithIndex.map {
        case (n, i) => counted.lift(i).fold(lit(null).cast("long"))(k =>
          count(when(col("gid") === only(i + 1), col(k)))).as(n)
      }: _*)
      .collect()
    def picked(like: DataFrame, rs: Seq[Row]) =
      local(like, rs.map(r => Row.fromSeq(like.columns.toSeq.map(r.getAs[Any]))))
    val (perCategory, global) =
      rows.toSeq.partition(_.getAs[Boolean]("is_category"))
    (Some(picked(cat, perCategory)),
      Some(if (global.nonEmpty) picked(ord, global) else collected(ord)))
  }

  private def collected(df: DataFrame): DataFrame =
    local(df, df.collect().toSeq)

  /** Rows as a local frame with `like`'s schema. */
  private def local(like: DataFrame, rows: Seq[Row]): DataFrame =
    like.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), like.schema)
}
