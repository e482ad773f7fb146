package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.merge.KpiMerge

/** §2.7 merge-upsert semantics (reference helperfunction.py:53-208):
  * per-field coalesce, null-preserves-old, provenance set-union, and the
  * idempotence property the KpiMerge scaladoc claims. */
class MergeSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("order_date", StringType),
    StructField("total_orders", LongType),
    StructField("total_revenue", DoubleType),
    StructField("total_items_sold", LongType),
    StructField("return_rate", DoubleType),
    StructField("unique_customers", LongType),
    StructField("data_sources", ArrayType(StringType))))

  private def df(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.size)), schema)

  private def canon(d: DataFrame): Set[Seq[Any]] =
    d.collect().map { r =>
      (0 until r.length).map {
        case 6 => Option(r.getSeq[String](6)).map(_.sorted).orNull
        case i => r.get(i)
      }
    }.toSet

  // the order-KPI merge: key (order_date), fields per
  // scripts/helperfunction.py:127-201
  private def mergeO(t: DataFrame, u: DataFrame): DataFrame =
    KpiMerge.merge(t, u, Seq("order_date"),
      Seq("total_orders", "total_revenue", "total_items_sold",
        "return_rate", "unique_customers"),
      Some("data_sources"))

  // -- example-based: the three source modes --------------------------------

  private val existing = df(Seq(
    Row("2024-01-01", 10L, 100.0, 50L, 0.1, 7L, Seq("orders", "order_items"))))

  test("orders_only update sets its fields, preserves revenue fields") {
    val upd = df(Seq(
      Row("2024-01-01", 12L, null, null, null, 9L, Seq("orders"))))
    val out = canon(mergeO(existing, upd))
    assert(out === Set(Seq("2024-01-01", 12L, 100.0, 50L, 0.1, 9L,
      Seq("order_items", "orders"))))
  }

  test("order_items_only update sets revenue fields, preserves order counts") {
    val upd = df(Seq(
      Row("2024-01-01", null, 250.0, 80L, 0.2, null, Seq("order_items"))))
    val out = canon(mergeO(existing, upd))
    assert(out === Set(Seq("2024-01-01", 10L, 250.0, 80L, 0.2, 7L,
      Seq("order_items", "orders"))))
  }

  test("complete update overwrites all fields") {
    val upd = df(Seq(
      Row("2024-01-01", 1L, 2.0, 3L, 4.0, 5L, Seq("orders", "order_items"))))
    val out = canon(mergeO(existing, upd))
    assert(out === Set(Seq("2024-01-01", 1L, 2.0, 3L, 4.0, 5L,
      Seq("order_items", "orders"))))
  }

  test("unmatched target rows pass through; unmatched updates insert") {
    val upd = df(Seq(
      Row("2024-01-02", 3L, 30.0, 9L, 0.0, 2L, Seq("orders"))))
    val out = canon(mergeO(existing, upd))
    assert(out.size === 2)
    assert(out.exists(_.head == "2024-01-01"))
    assert(out.exists(_.head == "2024-01-02"))
  }

  // -- property-based: idempotence ------------------------------------------

  private val genVal: Gen[java.lang.Long] =
    Gen.oneOf(Gen.const(null: java.lang.Long),
      Gen.choose(0L, 999L).map(java.lang.Long.valueOf))
  private val genSrc: Gen[Seq[String]] =
    Gen.someOf(Seq("orders", "order_items")).map(_.toSeq)
  private val genRow: Gen[Row] = for {
    date <- Gen.oneOf("d1", "d2", "d3")
    a <- genVal; b <- genVal; c <- genVal
    s <- genSrc
  } yield Row(date,
    a,
    Option(b).map(_.toDouble / 10: java.lang.Double).orNull,
    b,
    Option(c).map(_.toDouble / 100: java.lang.Double).orNull,
    c, s)
  private def distinctByDate(rows: List[Row]): Seq[Row] =
    rows.groupBy(_.getString(0)).values.map(_.head).toSeq

  test("merge is idempotent: merge(merge(t,u),u) == merge(t,u)") {
    val gen = Gen.listOfN(3, genRow)
    (1 to 10).foreach { i =>
      val t0 = gen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val u0 = gen.pureApply(Gen.Parameters.default, Seed(i.toLong + 1000))
      val t = df(distinctByDate(t0))
      val u = df(distinctByDate(u0))
      val once = mergeO(t, u)
      val twice = mergeO(once, u)
      assert(canon(once) === canon(twice), s"seed $i")
    }
  }
}
