package graft.schema

import org.apache.spark.sql.types._

/** Declared schemas for the reference's three ingest tables.
  *
  * The reference reads CSV with `header=True` and no schema, so every column
  * is a string at read time (reference `scripts/validation.py:64`,
  * `scripts/transformation.py:90`) and numeric/temporal meaning comes from
  * implicit casts inside expressions. We declare explicit types (the
  * "semantic" schema) and keep an all-strings compat variant that reproduces
  * the reference's stringly-typed behavior bit-for-bit when needed.
  *
  * Required headers per the ingest contract
  * (reference `lambda/s3_validation.py:25-29`).
  */
object Schemas {

  /** orders_part<N>.csv */
  val orders: StructType = StructType(Seq(
    StructField("order_id", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("status", StringType),
    StructField("created_at", StringType, nullable = false),
    StructField("returned_at", StringType),
    StructField("shipped_at", StringType),
    StructField("delivered_at", StringType),
    StructField("num_of_item", IntegerType)))

  /** order_items_part<N>.csv */
  val orderItems: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("order_id", LongType, nullable = false),
    StructField("user_id", LongType),
    StructField("product_id", LongType, nullable = false),
    StructField("status", StringType),
    StructField("created_at", StringType, nullable = false),
    StructField("shipped_at", StringType),
    StructField("delivered_at", StringType),
    StructField("returned_at", StringType),
    StructField("sale_price", DoubleType)))

  /** products.csv */
  val products: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("sku", StringType, nullable = false),
    StructField("cost", DoubleType, nullable = false),
    StructField("category", StringType),
    StructField("name", StringType),
    StructField("brand", StringType),
    StructField("retail_price", DoubleType),
    StructField("department", StringType)))

  /** Compat mode: every column StringType, matching the reference's
    * schema-less CSV reads. Semantics (sum/avg on sale_price etc.) then rely
    * on Spark's implicit string->double casts exactly like PySpark did. */
  def allStrings(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(dataType = StringType)))

  /** Columns that must be non-null per table
    * (reference `scripts/validation.py:179-186`). */
  val requiredNonNull: Map[String, Seq[String]] = Map(
    "orders" -> Seq("order_id", "user_id", "created_at"),
    "order_items" -> Seq("id", "order_id", "product_id", "created_at"),
    "products" -> Seq("id", "sku", "cost"))
}
