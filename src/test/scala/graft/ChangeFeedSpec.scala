package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.pipeline.{ChangeFeed, Pipeline}

/** Behavior specs for the change data feed (E78): the four Delta CDF
  * change types, churn-only output, update pre/post pairing, and the
  * composed epoch-diff read path over a real manifest store. The driver
  * oracle (cdf1_store_changes) verifies values at scale. */
class ChangeFeedSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def snap(rows: (Long, String)*) =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(r => Row(r._1, r._2)), 2), schema)

  private def feed(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet

  test("insert/delete/update pair; unchanged rows emit nothing") {
    val out = feed(ChangeFeed.diff(
      snap(1L -> "same", 2L -> "before", 3L -> "gone"),
      snap(1L -> "same", 2L -> "after", 4L -> "fresh"),
      Seq("id"), Seq("v")))
    assert(out === Set(
      (2L, "before", "update_preimage"),
      (2L, "after", "update_postimage"),
      (3L, "gone", "delete"),
      (4L, "fresh", "insert")))
  }

  test("identical snapshots produce an empty feed") {
    val s = snap(1L -> "a", 2L -> null)
    assert(ChangeFeed.diff(s, snap(1L -> "a", 2L -> null),
      Seq("id"), Seq("v")).count() === 0L)
  }

  test("null-safe: value→null is an update pair, not a delete") {
    val out = feed(ChangeFeed.diff(snap(1L -> "x"), snap(1L -> null),
      Seq("id"), Seq("v")))
    assert(out === Set((1L, "x", "update_preimage"),
      (1L, null, "update_postimage")))
  }

  test("cdc2: maintained aggregates move rows between groups and drop empty groups") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val money = DecimalType(18, 2)
    val s2 = StructType(Seq(
      StructField("id", LongType), StructField("status", StringType),
      StructField("total_price", DoubleType)))
    def snapP(rows: (Long, String, Double)*) =
      spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map(r => Row(r._1, r._2, r._3)), 2), s2)
    // A: two 'open' rows, one 'closed'; B: row 2 MOVES open->closed
    // (key change — the preimage must subtract from 'open'), row 3
    // (the only 'gone' row) is deleted — its group must drop out,
    // row 4 inserts into a brand-new group
    val a = snapP((1L, "open", 10.0), (2L, "open", 20.0),
      (3L, "gone", 5.0), (5L, "closed", 1.0))
    val b = snapP((1L, "open", 10.0), (2L, "closed", 20.0),
      (5L, "closed", 1.0), (4L, "new", 7.0))
    val fd = ChangeFeed.diff(a, b, Seq("id"), Seq("status", "total_price"))
    val base = a.groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"),
        count(col("total_price")).as("n_vals"),
        sum(col("total_price").cast(money)).as("sum_total"))
    val out = ChangeFeed.maintainAgg(base, fd, "status", "total_price")
      .withColumn("sum_total", col("sum_total").cast("double"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(3))).toMap
    val direct = b.groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"),
        count(col("total_price")).as("n_vals"),
        sum(col("total_price").cast(money)).cast("double").as("sum_total"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(3))).toMap
    assert(out === direct, "maintain(agg(A), diff(A,B)) must equal agg(B)")
    assert(!out.contains("gone"), "an emptied group must drop out")
    assert(out("closed") === ((2L, 21.0)), "the moved row lands in 'closed'")
    assert(out("open") === ((1L, 10.0)), "the moved row left 'open'")
  }

  test("cdc2 property: maintain(agg(A), diff(A,B)) == agg(B) on random snapshots") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val money = DecimalType(18, 2)
    val s2 = StructType(Seq(
      StructField("id", LongType), StructField("status", StringType),
      StructField("total_price", DoubleType)))
    // random keyed snapshots over a small id space so inserts, deletes,
    // group moves, emptied groups, NULL group keys, and NULL measures
    // (incl. groups whose last non-null measure gets deleted) all occur
    val genRow: Gen[Row] = for {
      id <- Gen.choose(1L, 12L)
      st <- Gen.oneOf("open", "closed", "gone", null: String)
      p <- Gen.oneOf(Gen.const(null: java.lang.Double),
        Gen.choose(0L, 999L).map(v =>
          java.lang.Double.valueOf(v.toDouble / 4)))
    } yield Row(id, st, p)
    def snapOf(rows: List[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.groupBy(_.getLong(0)).values.map(_.head).toSeq, 2), s2)
    def aggOf(df: org.apache.spark.sql.DataFrame, toDouble: Boolean) = {
      val sumCol = sum(col("total_price").cast(money))
      df.groupBy(col("status")).agg(count(lit(1)).as("n_orders"),
        count(col("total_price")).as("n_vals"),
        (if (toDouble) sumCol.cast("double") else sumCol).as("sum_total"))
    }
    val gen = Gen.listOfN(8, genRow)
    (1 to 12).foreach { i =>
      val a = snapOf(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
      val b = snapOf(gen.pureApply(Gen.Parameters.default,
        Seed(i.toLong + 5000)))
      val fd = ChangeFeed.diff(a, b, Seq("id"),
        Seq("status", "total_price"))
      val maintained = ChangeFeed
        .maintainAgg(aggOf(a, toDouble = false), fd, "status",
          "total_price")
        .collect().map(_.toString).sorted.toSeq
      // the output is DECIMAL end to end now — compare against the
      // exact direct aggregate, no double boundary in the middle
      val direct = aggOf(b, toDouble = false)
        .collect().map(_.toString).sorted.toSeq
      assert(maintained === direct, s"seed $i")
    }
  }

  test("cdc2 chained: maintain(maintain(agg(A), diff(A,B)), diff(B,C)) == agg(C) bit-for-bit") {
    // the review-caught contract hole, pinned: the output IS a legal
    // next-refresh base (sum_total stays DECIMAL), so a two-refresh
    // chain lands on the direct aggregate of the final snapshot with
    // exact decimal arithmetic throughout — no float promotion
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val money = DecimalType(18, 2)
    val s2 = StructType(Seq(
      StructField("id", LongType), StructField("status", StringType),
      StructField("total_price", DoubleType)))
    def snapP(rows: (Long, String, java.lang.Double)*) =
      spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map(r => Row(r._1, r._2, r._3)), 2), s2)
    def aggOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("status")).agg(count(lit(1)).as("n_orders"),
        count(col("total_price")).as("n_vals"),
        sum(col("total_price").cast(money)).as("sum_total"))
    val a = snapP((1L, "open", 10.25), (2L, "open", 20.5),
      (3L, "gone", 5.0), (5L, "closed", null))
    val b = snapP((1L, "open", 10.25), (2L, "closed", 20.5),
      (5L, "closed", 1.75), (4L, "new", 7.0))
    val c = snapP((2L, "closed", 21.0), (5L, "closed", null),
      (6L, "open", 0.5))
    val keys = Seq("id"); val tracked = Seq("status", "total_price")
    val r1 = ChangeFeed.maintainAgg(aggOf(a),
      ChangeFeed.diff(a, b, keys, tracked), "status", "total_price")
    // the chain: r1 feeds straight back in as the base — the schema
    // closure the decimal output exists for
    val r2 = ChangeFeed.maintainAgg(r1,
      ChangeFeed.diff(b, c, keys, tracked), "status", "total_price")
    assert(r2.schema("sum_total").dataType === money,
      "chained output must still carry the exact decimal")
    assert(r2.collect().map(_.toString).sorted.toSeq ===
      aggOf(c).collect().map(_.toString).sorted.toSeq)
  }

  test("betweenEpochs diffs two committed store epochs through readAt") {
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    import spark.implicits._
    val d = Files.createTempDirectory("cdf").toString
    val path = s"$d/cdfstore"
    val storeSchema = StructType.fromDDL(
      "order_date STRING, total_orders BIGINT, " +
        "data_sources ARRAY<STRING>, last_updated STRING")
    val fields = Seq("total_orders", "last_updated")
    def updates(now: String, rows: (String, Long)*) =
      rows.toSeq.toDF("order_date", "total_orders")
        .withColumn("data_sources", typedLit(Seq("orders")))
        .withColumn("last_updated", lit(now))
        .select(storeSchema.fieldNames.map(col): _*)
    // epoch 1: dates 01+02; epoch 2 rewrites 01 and adds 03
    Pipeline.upsertStore(spark, path, storeSchema,
      updates("t1", ("2024-06-01", 1L), ("2024-06-02", 2L)),
      Seq("order_date"), fields)
    Pipeline.upsertStore(spark, path, storeSchema,
      updates("t2", ("2024-06-01", 5L), ("2024-06-03", 3L)),
      Seq("order_date"), fields)
    val out = ChangeFeed.betweenEpochs(spark, path, 1L, 2L, storeSchema,
      Seq("order_date")).collect()
      .map(r => (r.getAs[String]("order_date"),
        r.getAs[Long]("total_orders"),
        r.getAs[String]("change_type"))).toSet
    assert(out === Set(
      ("2024-06-01", 1L, "update_preimage"),
      ("2024-06-01", 5L, "update_postimage"),
      ("2024-06-03", 3L, "insert")))
  }
}
