package graft

import java.nio.file.{Files, Path}

import graft.pipeline.Pipeline

/** Table-driven pin of `Pipeline.validateJob`'s observable outcome: status,
  * error type, exact message text (distinct orphan counts included),
  * processing date and the result doc, byte for byte. Gate precedence is
  * nulls (every failing column, tables in orders → order_items → products
  * order), then order RI, then product RI. */
class ValidateJobSpec extends SparkSpec {

  private val ordersHeader =
    "order_id,user_id,status,created_at,returned_at,shipped_at,delivered_at,num_of_item"
  private val itemsHeader =
    "id,order_id,user_id,product_id,status,created_at,shipped_at,delivered_at,returned_at,sale_price"
  private val productsHeader =
    "id,sku,cost,category,name,brand,retail_price,department"

  // the earliest order sits in the SECOND part: the date is min(created_at)
  private val cleanOrders1 = Seq(
    "1,10,complete,2024-06-02 10:00:00,,,,2",
    "2,11,complete,2024-06-02 11:00:00,,,,1")
  private val cleanOrders2 = Seq("3,10,returned,2024-06-01 09:00:00,,,,1")
  private val cleanItems = Seq(
    "101,1,10,7,complete,2024-06-02 10:00:00,,,,25.0",
    "102,1,10,8,complete,2024-06-02 10:00:00,,,,75.0",
    "103,2,11,7,returned,2024-06-02 11:00:00,,,,50.0",
    "104,3,10,8,complete,2024-06-01 09:00:00,,,,20.0")
  private val cleanProducts = Seq(
    "7,SKU7,10.0,toys,Car,BrandA,25.0,kids",
    "8,SKU8,30.0,books,Atlas,BrandB,75.0,media")

  private final case class Case(name: String,
      orders1: Seq[String] = cleanOrders1, orders2: Seq[String] = cleanOrders2,
      items: Seq[String] = cleanItems,
      products: Option[Seq[String]] = Some(cleanProducts),
      compat: Boolean = false,
      status: String, errorType: Option[String] = None,
      message: Option[String] = None, date: Option[String] = None)

  private def nulls(m: String) = Case("", status = "failed",
    errorType = Some("NULL_VALIDATION_ERROR"), message = Some(m))
  private def orphans(m: String) = Case("", status = "failed",
    errorType = Some("REFERENTIAL_ERROR"), message = Some(m))
  private val ok = Case("", status = "success", date = Some("2024-06-01"))

  private val cases: Seq[Case] = Seq(
    ok.copy(name = "clean"),
    nulls("orders.user_id has 1 null values").copy(name = "null in orders",
      orders2 = cleanOrders2 :+ "4,,complete,2024-06-03 09:00:00,,,,1"),
    nulls("order_items.id has 1 null values").copy(name = "null in items",
      items = cleanItems :+ ",1,10,7,complete,2024-06-02 10:00:00,,,,30.0"),
    nulls("products.sku has 1 null values; products.cost has 1 null values")
      .copy(name = "null and NaN in products",
        products = Some(cleanProducts ++ Seq(
          "9,,5.0,toys,Kite,BrandA,9.0,kids",
          "10,SKU10,NaN,toys,Ball,BrandA,9.0,kids"))),
    nulls("orders.created_at has 1 null values; " +
        "order_items.product_id has 2 null values")
      .copy(name = "nulls in two tables",
        orders1 = cleanOrders1 :+ "5,12,complete,,,,,1",
        items = cleanItems ++ Seq(
          "105,1,10,,complete,2024-06-02 10:00:00,,,,1.0",
          "106,2,11,,complete,2024-06-02 10:00:00,,,,1.0")),
    orphans("2 order_id values in order_items missing from orders")
      .copy(name = "orphan order_id (distinct count)",
        items = cleanItems ++ Seq(
          "105,999,10,7,complete,2024-06-02 10:00:00,,,,1.0",
          "106,999,10,8,complete,2024-06-02 10:00:00,,,,1.0",
          "107,998,10,8,complete,2024-06-02 10:00:00,,,,1.0")),
    orphans("3 product_id values in order_items missing from products")
      .copy(name = "orphan product_id (distinct count)",
        items = cleanItems ++ Seq(
          "105,1,10,70,complete,2024-06-02 10:00:00,,,,1.0",
          "106,2,11,71,complete,2024-06-02 10:00:00,,,,1.0",
          "107,3,10,72,complete,2024-06-02 10:00:00,,,,1.0",
          "108,3,10,72,complete,2024-06-02 10:00:00,,,,1.0")),
    orphans("1 order_id values in order_items missing from orders")
      .copy(name = "both orphans: order RI first",
        items = cleanItems ++ Seq(
          "105,999,10,70,complete,2024-06-02 10:00:00,,,,1.0")),
    nulls("order_items.order_id has 1 null values")
      .copy(name = "null key plus orphan: null wins",
        items = cleanItems ++ Seq(
          "105,,10,7,complete,2024-06-02 10:00:00,,,,1.0",
          "106,999,10,70,complete,2024-06-02 10:00:00,,,,1.0")),
    ok.copy(name = "products absent: no product gate", products = None,
      items = cleanItems :+ "105,1,10,70,complete,2024-06-02 10:00:00,,,,1.0"),
    ok.copy(name = "compat: clean", compat = true),
    nulls("products.cost has 1 null values")
      .copy(name = "compat: NaN strings gate required columns only",
        compat = true,
        items = cleanItems :+ "105,1,10,7,complete,2024-06-02 10:00:00,,,,NaN",
        products = Some(cleanProducts ++ Seq(
          "9,SKU9,NaN,toys,Kite,BrandA,9.0,kids",
          "10,SKU10,oops,toys,Ball,BrandA,9.0,kids"))),
    orphans("2 order_id values in order_items missing from orders")
      .copy(name = "compat: orphan order_id on string keys", compat = true,
        items = cleanItems ++ Seq(
          "105,999,10,7,complete,2024-06-02 10:00:00,,,,1.0",
          "106,0999,10,7,complete,2024-06-02 10:00:00,,,,1.0")),
    orphans("1 product_id values in order_items missing from products")
      .copy(name = "compat: orphan product_id", compat = true,
        items = cleanItems :+ "105,1,10,70,complete,2024-06-02 10:00:00,,,,1.0"))

  private def write(d: Path, name: String, lines: Seq[String]): String = {
    val f = d.resolve(name)
    Files.writeString(f, lines.mkString("\n"))
    f.toString
  }

  private def json(c: Case): String = (Seq("status" -> c.status) ++
      c.date.map("processing_date" -> _) ++
      c.errorType.map("error_type" -> _) ++
      c.message.map("message" -> _))
    .map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")

  cases.foreach { c =>
    test(s"validateJob: ${c.name}") {
      val d = Files.createTempDirectory("graft-validate")
      val op = Seq(write(d, "orders_part1.csv", ordersHeader +: c.orders1),
        write(d, "orders_part2.csv", ordersHeader +: c.orders2))
      val ip = Seq(write(d, "order_items_part1.csv", itemsHeader +: c.items))
      val pp = c.products.map(p => write(d, "products.csv", productsHeader +: p))
      val res = Pipeline.validateJob(spark, op, ip, pp, s"$d/validated",
        s"$d/result.json", allStringsCompat = c.compat)
      assert(res === Pipeline.ValidateResult(c.status, c.date, c.errorType,
        c.message))
      assert(Files.readString(d.resolve("result.json")) === json(c))
      assert(Files.exists(d.resolve("validated/orders")) === (c.status == "success"))
    }
  }

  test("validateJob: missing inputs are UNKNOWN") {
    val d = Files.createTempDirectory("graft-validate")
    val op = Seq(write(d, "orders_part1.csv", ordersHeader +: cleanOrders1))
    val res = Pipeline.validateJob(spark, op, Nil, None, s"$d/validated",
      s"$d/result.json")
    val want = Case("", status = "failed", errorType = Some("UNKNOWN"),
      message = Some("orders and order_items inputs are required"))
    assert(res === Pipeline.ValidateResult(want.status, None, want.errorType,
      want.message))
    assert(Files.readString(d.resolve("result.json")) === json(want))
  }
}
