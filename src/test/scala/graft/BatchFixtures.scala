package graft

import java.nio.file.{Files, Path}

/** A clean two-date daily batch as reference-shaped multi-part CSV. */
object BatchFixtures {
  val ordersHeader =
    "order_id,user_id,status,created_at,returned_at,shipped_at,delivered_at,num_of_item"
  val itemsHeader =
    "id,order_id,user_id,product_id,status,created_at,shipped_at,delivered_at,returned_at,sale_price"
  val productsHeader =
    "id,sku,cost,category,name,brand,retail_price,department"

  def write(d: Path, name: String, lines: String*): String = {
    val f = d.resolve(name)
    Files.writeString(f, lines.mkString("\n"))
    f.toString
  }

  /** (orders parts, items parts, products) */
  def clean(d: Path): (Seq[String], Seq[String], String) = {
    val o1 = write(d, "orders_part1.csv", ordersHeader,
      "1,10,complete,2024-06-01 10:00:00,,,,2",
      "2,11,complete,2024-06-01 11:00:00,,,,1")
    val o2 = write(d, "orders_part2.csv", ordersHeader,
      "3,10,returned,2024-06-02 09:00:00,,,,1")
    val i1 = write(d, "order_items_part1.csv", itemsHeader,
      "101,1,10,7,complete,2024-06-01 10:00:00,,,,25.0",
      "102,1,10,8,complete,2024-06-01 10:00:00,,,,75.0",
      "103,2,11,7,returned,2024-06-01 11:00:00,,,,50.0",
      "104,3,10,8,complete,2024-06-02 09:00:00,,,,20.0")
    val p = write(d, "products.csv", productsHeader,
      "7,SKU7,10.0,toys,Car,BrandA,25.0,kids",
      "8,SKU8,30.0,books,Atlas,BrandB,75.0,media")
    (Seq(o1, o2), Seq(i1), p)
  }
}
