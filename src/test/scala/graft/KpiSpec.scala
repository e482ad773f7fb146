package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.kpi.Kpi

/** KPI-stage semantics (reference transformation.py:150-248): avg
  * denominator excludes NULL sale_price, items-only mode excludes orphan
  * items via the products join, products is mandatory. */
class KpiSpec extends SparkSpec {

  private def mk(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private val ordersS = StructType(Seq(
    StructField("order_id", LongType), StructField("user_id", LongType),
    StructField("status", StringType), StructField("created_at", StringType)))
  private val itemsS = StructType(Seq(
    StructField("id", LongType), StructField("order_id", LongType),
    StructField("product_id", LongType), StructField("status", StringType),
    StructField("sale_price", DoubleType)))
  private val productsS = StructType(Seq(
    StructField("id", LongType), StructField("category", StringType)))

  private val orders = mk(ordersS,
    Row(1L, 10L, "ok", "2024-01-01"), Row(2L, 11L, "ok", "2024-01-01"))
  // item 103: NULL sale_price; item 104: orphan product_id (no product 99)
  private val items = mk(itemsS,
    Row(101L, 1L, 1L, "returned", 10.0),
    Row(102L, 1L, 1L, "shipped", 30.0),
    Row(103L, 2L, 1L, "shipped", null),
    Row(104L, 2L, 99L, "shipped", 50.0))
  private val products = mk(productsS, Row(1L, "toys"))

  test("avg_order_value divides by non-null sale_price count (avg semantics)") {
    val out = Kpi.categoryKpi(Kpi.threeWayJoin(orders, items, products))
      .collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[String]("category") === "toys")
    assert(r.getAs[Double]("daily_revenue") === 40.0)
    // 3 joined items (orphan excluded), 2 non-null prices → avg = 40/2
    assert(r.getAs[Double]("avg_order_value") === 20.0)
    // return_rate divides by count(id) = 3, reference semantics
    assert(math.abs(r.getAs[Double]("avg_return_rate") - 1.0 / 3) < 1e-12)
  }

  test("empty input yields NULL rates, not an ANSI divide-by-zero abort") {
    // Spark 4 runs ANSI mode by default, where even double / 0 THROWS
    // (verified on this distribution) — an empty validated partition
    // reaches the global aggs, which still emit one row with count 0
    val noItems = mk(itemsS)
    val noOrders = mk(ordersS)
    val ord = Kpi.orderKpiComplete(
      Kpi.threeWayJoin(noOrders, noItems, products)).collect()
    assert(ord.length === 1)
    assert(ord.head.isNullAt(ord.head.fieldIndex("return_rate")))
    val itemsOnly = Kpi.orderKpiItemsOnly(
      Kpi.itemsProductsJoin(noItems, products)).collect()
    assert(itemsOnly.head.isNullAt(itemsOnly.head.fieldIndex("return_rate")))
    // a group whose denominator column is entirely null: avg over nothing
    // is NULL (the reference's own avg() answer), never a crash
    val nullPrices = mk(itemsS, Row(101L, 1L, 1L, "shipped", null))
    val cat = Kpi.categoryKpi(
      Kpi.threeWayJoin(orders, nullPrices, products)).collect()
    assert(cat.length === 1)
    assert(cat.head.isNullAt(cat.head.fieldIndex("avg_order_value")))
  }

  test("computeKpis ≡ the per-family aggregates: NULL category, items-only, empty join") {
    // the fused one-action form must equal categoryKpi / orderKpi* over
    // the same join, including a NULL-category group (not the grand
    // total) and an empty join (no category rows, one global row)
    val withNullCat = mk(productsS, Row(1L, "toys"), Row(99L, null))
    val noItems = mk(itemsS)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def check(got: (Option[DataFrame], Option[DataFrame]), cat: DataFrame,
        ord: DataFrame) = {
      assert(rows(got._1.get) === rows(cat))
      assert(got._1.get.schema === cat.schema)
      assert(rows(got._2.get) === rows(ord))
      assert(got._2.get.schema === ord.schema)
    }
    for (p <- Seq(products, withNullCat); it <- Seq(items, noItems)) {
      val j = Kpi.threeWayJoin(orders, it, p)
      check(Kpi.computeKpis(Some(orders), Some(it), Some(p)),
        Kpi.categoryKpi(j), Kpi.orderKpiComplete(j))
      val ij = Kpi.itemsProductsJoin(it, p)
      check(Kpi.computeKpis(None, Some(it), Some(p)),
        Kpi.categoryKpi(ij), Kpi.orderKpiItemsOnly(ij))
    }
  }

  test("items-only order KPIs run over the items⋈products join (orphans excluded)") {
    val (cat, ord) = Kpi.computeKpis(None, Some(items), Some(products))
    val r = ord.get.collect().head
    assert(r.isNullAt(r.fieldIndex("total_orders")))
    assert(r.getAs[Double]("total_revenue") === 40.0) // orphan's 50.0 excluded
    assert(r.getAs[Long]("total_items_sold") === 3L)
    assert(r.isNullAt(r.fieldIndex("unique_customers")))
    assert(cat.get.collect().length === 1)
  }

  test("complete mode counts distinct orders/users over the join") {
    val (_, ord) = Kpi.computeKpis(Some(orders), Some(items), Some(products))
    val r = ord.get.collect().head
    assert(r.getAs[Long]("total_orders") === 2L)
    assert(r.getAs[Long]("unique_customers") === 2L)
    assert(r.getAs[Long]("total_items_sold") === 3L)
  }

  test("orders-only mode still requires products (fail-loud contract)") {
    assertThrows[IllegalArgumentException] {
      Kpi.computeKpis(Some(orders), None, None)
    }
    assertThrows[IllegalArgumentException] {
      Kpi.computeKpis(Some(orders), Some(items), None)
    }
  }

  test("orders-only mode with products present computes order counts only") {
    val (cat, ord) = Kpi.computeKpis(Some(orders), None, Some(products))
    assert(cat.isEmpty)
    val r = ord.get.collect().head
    assert(r.getAs[Long]("total_orders") === 2L)
    assert(r.isNullAt(r.fieldIndex("total_revenue")))
  }

  test("approx_count_distinct is the documented scale path for A2 counts") {
    // Exact countDistinct (a2/a4) plans Expand + a 2-phase aggregate — at
    // 100 TB the expanded shuffle is the dominant cost of the KPI job. The
    // HLL++ sketch is one narrow pass, mergeable across partitions, with
    // bounded relative error; assert it lands within 5% on real data.
    import org.apache.spark.sql.functions._
    val ords = graft.io.RefShape.orders(spark, sf0001)
    val exact = ords.agg(countDistinct(col("order_id"))).head().getLong(0)
    val approx = ords.agg(approx_count_distinct(col("order_id"), 0.02))
      .head().getLong(0)
    assert(exact > 0)
    val relErr = math.abs(approx - exact).toDouble / exact
    assert(relErr <= 0.05, s"approx=$approx exact=$exact relErr=$relErr")
  }
}
