package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Adapts the driver testdata (TPC-H-ish, TESTDATA.md) onto the reference's
  * three-table shape (FIXTURES.md §4) so the KPI/validation stages run
  * unchanged over it:
  *
  *   orders      ← orders.parquet   (o_orderkey→order_id, o_custkey→user_id,
  *                                   o_orderdate→created_at, …)
  *   order_items ← lineitem.parquet (l_orderkey→order_id, l_partkey→product_id,
  *                                   l_extendedprice→sale_price,
  *                                   l_returnflag 'R'→'returned')
  *   products    ← part.parquet     (p_partkey→id, p_type→category, …)
  *
  * The same renames appear as CTEs inside every oracle SQL (the `oracle` of
  * each [[graft.QuerySpec]] in `graft/queries`), so
  * Spark and DuckDB agree column-for-column. These are pure projections —
  * Catalyst collapses them into the scan (column pruning reaches the parquet
  * footer), so the adapter costs nothing at any scale.
  */
object RefShape {

  def orders(spark: SparkSession, dir: String): DataFrame =
    Sources.table(spark, dir, "orders").select(
      col("o_orderkey").as("order_id"),
      col("o_custkey").as("user_id"),
      col("o_orderstatus").as("status"),
      col("o_orderdate").cast("string").as("created_at"),
      col("o_totalprice").as("total_price"))

  def orderItems(spark: SparkSession, dir: String): DataFrame =
    Sources.table(spark, dir, "lineitem").select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
      col("l_orderkey").as("order_id"),
      col("l_partkey").as("product_id"),
      when(col("l_returnflag") === "R", "returned")
        .otherwise(col("l_returnflag")).as("status"),
      col("l_shipdate").cast("string").as("created_at"),
      col("l_extendedprice").as("sale_price"))

  def products(spark: SparkSession, dir: String): DataFrame =
    Sources.table(spark, dir, "part").select(
      col("p_partkey").as("id"),
      col("p_type").as("category"),
      col("p_retailprice").as("cost"),
      col("p_name").as("name"),
      col("p_brand").as("brand"))

  /** The identical renames as SQL CTEs, prepended to every oracle query. */
  val sqlCtes: String =
    """WITH o AS (SELECT o_orderkey AS order_id, o_custkey AS user_id,
      |  o_orderstatus AS status, CAST(o_orderdate AS VARCHAR) AS created_at,
      |  o_totalprice AS total_price FROM orders),
      |oi AS (SELECT l_orderkey*10 + l_linenumber AS id, l_orderkey AS order_id,
      |  l_partkey AS product_id,
      |  CASE WHEN l_returnflag = 'R' THEN 'returned' ELSE l_returnflag END AS status,
      |  CAST(l_shipdate AS VARCHAR) AS created_at,
      |  l_extendedprice AS sale_price FROM lineitem),
      |p AS (SELECT p_partkey AS id, p_type AS category,
      |  p_retailprice AS cost, p_name AS name, p_brand AS brand FROM part)
      |""".stripMargin

  /** The KPI stage's 3-way join ([[graft.kpi.Kpi.threeWayJoin]]) over the
    * [[sqlCtes]] names. */
  val sqlKpiJoin: String =
    """FROM o JOIN oi ON o.order_id = oi.order_id
      |JOIN p ON oi.product_id = p.id""".stripMargin
}
