package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.merge.Scd2

/** Behavior specs for the SCD Type-2 merge (E77): version rollover,
  * null-safe change detection, partial-batch semantics, idempotence, and
  * multi-day history accumulation. The driver oracle (m2_scd2_products)
  * verifies values; these pin the state-machine properties. */
class Scd2Spec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def snap(rows: (Long, String)*) =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(r => Row(r._1, r._2)), 2), schema)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
      Option(r.getString(3)), r.getBoolean(4))).toSet

  test("rollover closes the old version and opens the new one") {
    val dim = Scd2.init(snap(1L -> "a", 2L -> "b"), "d0")
    val out = rows(Scd2.merge(dim, snap(1L -> "a2", 2L -> "b"),
      Seq("id"), Seq("v"), "d1"))
    assert(out === Set(
      (1L, "a", "d0", Some("d1"), false), // closed
      (1L, "a2", "d1", None, true),       // reopened
      (2L, "b", "d0", None, true)))       // untouched
  }

  test("null-safe: null→value and value→null are changes; null→null is not") {
    val dim = Scd2.init(snap(1L -> null, 2L -> "x", 3L -> null), "d0")
    val out = rows(Scd2.merge(dim, snap(1L -> "now", 2L -> null, 3L -> null),
      Seq("id"), Seq("v"), "d1"))
    assert(out.count(_._5 == false) === 2, "exactly two closed versions")
    assert(out.contains((3L, null, "d0", None, true)),
      "null == null must not version")
  }

  test("keys absent from the batch stay open; new keys insert open") {
    val dim = Scd2.init(snap(1L -> "a"), "d0")
    val out = rows(Scd2.merge(dim, snap(9L -> "fresh"),
      Seq("id"), Seq("v"), "d1"))
    assert(out === Set(
      (1L, "a", "d0", None, true),
      (9L, "fresh", "d1", None, true)))
  }

  test("idempotent: re-merging the same batch is a no-op") {
    val dim = Scd2.init(snap(1L -> "a", 2L -> "b"), "d0")
    val once = Scd2.merge(dim, snap(1L -> "a2"), Seq("id"), Seq("v"), "d1")
    val twice = Scd2.merge(once, snap(1L -> "a2"), Seq("id"), Seq("v"), "d1")
    assert(rows(twice) === rows(once))
  }

  test("duplicate keys in one batch fail loud (Delta MERGE parity)") {
    val dim = Scd2.init(snap(1L -> "a"), "d0")
    // two batch rows for id=1 would fan the full-outer join out: the
    // current row closed twice + two open versions — the merge must
    // refuse, exactly as Delta raises "multiple source rows matched"
    val e = intercept[Exception] {
      Scd2.merge(dim, snap(1L -> "x", 1L -> "y"),
        Seq("id"), Seq("v"), "d1").collect()
    }
    assert(e.getMessage.contains("multiple batch rows") ||
      Option(e.getCause).exists(_.getMessage.contains("multiple batch rows")),
      s"unexpected error: ${e.getMessage}")
    // and a duplicate-free batch still merges normally
    val ok = rows(Scd2.merge(dim, snap(1L -> "x"), Seq("id"), Seq("v"), "d1"))
    assert(ok === Set((1L, "a", "d0", Some("d1"), false),
      (1L, "x", "d1", None, true)))
  }

  test("three days of history accumulate; as-of resolves uniquely per key") {
    val d0 = Scd2.init(snap(1L -> "v0"), "2024-01-01")
    val d1 = Scd2.merge(d0, snap(1L -> "v1"), Seq("id"), Seq("v"),
      "2024-02-01")
    val d2 = Scd2.merge(d1, snap(1L -> "v2"), Seq("id"), Seq("v"),
      "2024-03-01")
    val hist = rows(d2)
    assert(hist === Set(
      (1L, "v0", "2024-01-01", Some("2024-02-01"), false),
      (1L, "v1", "2024-02-01", Some("2024-03-01"), false),
      (1L, "v2", "2024-03-01", None, true)))
    // as-of 2024-02-15: exactly one version covers the date
    import org.apache.spark.sql.functions._
    val asof = d2.filter(col("valid_from") <= "2024-02-15" &&
      (col("valid_to").isNull || col("valid_to") > "2024-02-15"))
    assert(asof.count() === 1 && asof.head.getString(1) === "v1")
  }

  test("cdc1: applying diff(A, B) makes the current slice exactly B; A resolves as-of D0") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val applied = SparkEntry.queries("cdc1_apply_feed")(spark, dir)
      .localCheckpoint(true)
    // reconstruct snapshot B independently (the cdf1 new side)
    val ords = graft.io.RefShape.orders(spark, dir)
      .select(col("order_id"), col("status"), col("total_price"))
    val snapB = ords.filter(pmod(col("order_id"), lit(7)) =!= 2)
      .withColumn("total_price",
        when(pmod(col("order_id"), lit(3)) === 0, col("total_price") + 1.0)
          .otherwise(col("total_price")))
    val current = applied.filter(col("is_current"))
      .select(col("order_id"), col("status"), col("total_price"))
    assert(current.count() === snapB.count())
    assert(current.exceptAll(snapB).isEmpty &&
      snapB.exceptAll(current).isEmpty,
      "the applied dimension's current slice must BE snapshot B")
    // snapshot A resolves as of D0: one version per A key covers D0
    val snapA = ords.filter(pmod(col("order_id"), lit(5)) =!= 4)
    val asOfD0 = applied.filter(col("valid_from") <= Scd2.D0 &&
        (col("valid_to").isNull || col("valid_to") > Scd2.D0))
      .select(col("order_id"), col("status"), col("total_price"))
    assert(asOfD0.exceptAll(snapA).isEmpty &&
      snapA.exceptAll(asOfD0).isEmpty,
      "snapshot A must still resolve as of D0")
    // deleted keys: closed at D1, no open version
    val delKeys = snapA.join(snapB, Seq("order_id"), "left_anti")
      .select(col("order_id"))
    val delOpen = applied.join(delKeys, Seq("order_id"), "left_semi")
      .filter(col("is_current"))
    assert(delOpen.isEmpty, "deleted keys must hold no open version")
  }

  test("cdc1: duplicate delete records are idempotent, never a version fan-out") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    // a feed where the same delete record landed twice (e.g. a source
    // file ingested twice): the key's versions must close ONCE, not
    // duplicate through the delete join
    val dim = Scd2.init(snap(1L -> "v0", 2L -> "v0"), "2024-01-01")
    val feed = Seq(
      (1L, "v0", "delete"), (1L, "v0", "delete"),
      (2L, "v1", "update_preimage"), (2L, "v1", "update_postimage"))
      .toDF("id", "v", "change_type")
      .withColumn("v", org.apache.spark.sql.functions
        .when($"change_type" === "update_preimage", "v0").otherwise($"v"))
    val out = Scd2.applyFeed(dim, feed, Seq("id"), Seq("v"), "2024-06-01")
      .collect()
    assert(out.count(_.getLong(0) == 1L) === 1,
      "the deleted key holds exactly one (closed) version")
    val r1 = out.find(_.getLong(0) == 1L).get
    assert(r1.getAs[String]("valid_to") === "2024-06-01")
    assert(!r1.getAs[Boolean]("is_current"))
  }
}
