package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import scala.jdk.CollectionConverters._

import graft.merge.{KpiMerge, KpiSink}
import graft.pipeline.Pipeline

/** The KPI store's driver-side merge (`Pipeline.mergeLocal`, the
  * reference's per-item rule `KpiSink.mergeItem`) ≡ the plan-level
  * `KpiMerge.merge`: the same rows and `data_sources` for the same target
  * and updates, on both store shapes. */
class MergeLocalSpec extends SparkSpec {
  import MergeLocalSpec.Store

  private val ordSchema = StructType.fromDDL(
    "order_date STRING, total_orders BIGINT, total_revenue DOUBLE, " +
      "total_items_sold BIGINT, return_rate DOUBLE, unique_customers BIGINT, " +
      "data_sources ARRAY<STRING>, last_updated STRING")
  private val catSchema = StructType.fromDDL(
    "category STRING, order_date STRING, daily_revenue DOUBLE, " +
      "avg_order_value DOUBLE, avg_return_rate DOUBLE, " +
      "data_sources ARRAY<STRING>, last_updated STRING")

  private val ord = Store(ordSchema, Seq("order_date"),
    ordersNull = Set("total_revenue", "total_items_sold"),
    itemsNull = Set("total_orders", "return_rate", "unique_customers"))
  private val cat = Store(catSchema, Seq("category", "order_date"),
    ordersNull = Set("daily_revenue", "avg_order_value", "avg_return_rate"),
    itemsNull = Set.empty)

  private def df(s: Store, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, s.schema)

  /** Rows as comparable values, arrays as lists. */
  private def canon(rows: Seq[Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.toList
      case v => v
    })

  private def viaPlan(s: Store, target: Seq[Row], updates: Seq[Row]) =
    KpiMerge.merge(df(s, target), df(s, updates), s.keys, s.fields,
      Some("data_sources"))
      .select(s.schema.fieldNames.toSeq.map(org.apache.spark.sql.functions.col): _*)
      .collect().toSeq

  private def viaDriver(s: Store, target: Seq[Row], updates: Seq[Row]) =
    Pipeline.mergeLocal(s.schema, df(s, target).collect().toSeq,
      df(s, updates).collect().toSeq, s.keys, s.fields)

  private def keyOf(s: Store, r: Seq[Any]): String =
    s.keys.map(k => String.valueOf(r(s.schema.fieldIndex(k)))).mkString("|")

  // ---- generated cases ---------------------------------------------------

  private val genSources: Gen[Seq[String]] = Gen.frequency(
    1 -> Gen.const(null),
    6 -> Gen.someOf(Seq("orders", "order_items")).map(_.toSeq))

  private def genValue(t: DataType): Gen[Any] = {
    val v: Gen[Any] = t match {
      case LongType => Gen.choose(0L, 99L)
      case DoubleType => Gen.choose(0, 999).map(_ / 8.0)
      case _ => Gen.oneOf("t1", "t2", "t3")
    }
    Gen.frequency(1 -> Gen.const(null), 3 -> v)
  }

  /** One row per key: `nulls` are forced NULL (an orders-only or
    * items-only batch), the rest drawn, NULL included. */
  private def genRows(s: Store, keys: Seq[Seq[String]], nulls: Set[String],
      sources: Gen[Seq[String]]): Gen[Seq[Row]] =
    Gen.sequence[Seq[Row], Row](keys.map { k =>
      val kv = s.keys.zip(k).toMap
      Gen.sequence[Seq[Any], Any](s.schema.fields.toSeq.map { f =>
        if (kv.contains(f.name)) Gen.const(kv(f.name))
        else if (f.name == "data_sources") sources
        else if (nulls(f.name)) Gen.const(null)
        else genValue(f.dataType)
      }).map(Row.fromSeq)
    })

  /** (target, updates, mode): the target holds some keys of a small
    * domain, the updates some keys too — both, either or neither side
    * holding each — and the update mode sets the NULL fields and the
    * provenance an orders-only, items-only or complete batch writes. */
  private def genCase(s: Store): Gen[(Seq[Row], Seq[Row], String)] = {
    val domain = for {
      c <- if (s.keys.size == 2) Seq("toys", "books") else Seq("")
      d <- Seq("2024-06-01", "2024-06-02", "2024-06-03")
    } yield if (s.keys.size == 2) Seq(c, d) else Seq(d)
    for {
      tKeys <- Gen.someOf(domain)
      uKeys <- Gen.atLeastOne(domain)
      mode <- Gen.oneOf("orders_only", "items_only", "complete")
      target <- genRows(s, tKeys.toSeq, Set.empty, genSources)
      (nulls, src) = mode match {
        case "orders_only" => (s.ordersNull, Seq("orders"))
        case "items_only" => (s.itemsNull, Seq("order_items"))
        case _ => (Set.empty[String], Seq("orders", "order_items"))
      }
      updates <- genRows(s, uKeys.toSeq, nulls, Gen.const(src))
    } yield (target, updates, mode)
  }

  Seq("order_kpi" -> ord, "category_kpi" -> cat).foreach { case (name, s) =>
    test(s"$name: mergeLocal == KpiMerge.merge on generated target and " +
        "update rows") {
      val modes = scala.collection.mutable.Set.empty[String]
      var (targetOnly, updateOnly, matched, nullUpdate) = (0, 0, 0, 0)
      (1 to 16).foreach { i =>
        val (target, updates, mode) =
          genCase(s).pureApply(Gen.Parameters.default, Seed(i.toLong))
        val want = canon(viaPlan(s, target, updates)).sortBy(keyOf(s, _))
        val got = canon(viaDriver(s, target, updates))
        assert(got === want, s"seed $i ($mode)")
        assert(got.map(keyOf(s, _)) === got.map(keyOf(s, _)).sorted,
          s"seed $i: rows not sorted by key")
        val (tk, uk) = (canon(target).map(keyOf(s, _)).toSet,
          canon(updates).map(keyOf(s, _)).toSet)
        modes += mode
        targetOnly += tk.diff(uk).size
        updateOnly += uk.diff(tk).size
        matched += tk.intersect(uk).size
        nullUpdate += updates.count(_.toSeq.contains(null))
      }
      // the seeds reach every kind of row the merge distinguishes
      assert(modes === Set("orders_only", "items_only", "complete"))
      assert(targetOnly > 0 && updateOnly > 0 && matched > 0 &&
        nullUpdate > 0)
    }
  }

  // ---- pinned cases ------------------------------------------------------

  test("overlapping provenance unions to one sorted set; a NULL update " +
      "field keeps the stored value") {
    val target = Seq(Row("2024-06-01", 3L, 170.0, 4L, 0.5, 2L,
      Seq("orders", "order_items"), "t1"))
    val updates = Seq(Row("2024-06-01", 5L, null, null, 0.25, 3L,
      Seq("orders"), "t2"))
    val got = canon(viaDriver(ord, target, updates))
    assert(got === Seq(Seq("2024-06-01", 5L, 170.0, 4L, 0.25, 3L,
      List("order_items", "orders"), "t2")))
    assert(got === canon(viaPlan(ord, target, updates)))
  }

  test("an empty provenance: mergeItem drops the field, and the store " +
      "merge writes [] as KpiMerge does") {
    val item = KpiSink.mergeItem(None,
      Map("order_date" -> "d", "total_orders" -> 1L,
        "data_sources" -> Seq.empty[String]),
      ord.fields, "data_sources")
    assert(!item.contains("data_sources"))
    val target = Seq(Row("d1", 1L, null, null, null, null, Seq.empty, "t1"))
    val updates = Seq(Row("d2", 2L, null, null, null, null, null, "t2"))
    val got = canon(viaDriver(ord, target, updates))
    assert(got.map(_(6)) === Seq(Nil, Nil))
    assert(got === canon(viaPlan(ord, target, updates)).sortBy(keyOf(ord, _)))
  }
}

object MergeLocalSpec {

  /** A store shape: its schema, keys, and the fields an orders-only and
    * an items-only batch leave NULL. */
  final case class Store(schema: StructType, keys: Seq[String],
      ordersNull: Set[String], itemsNull: Set[String]) {
    val fields: Seq[String] =
      schema.fieldNames.toSeq.diff(keys :+ "data_sources")
  }
}
