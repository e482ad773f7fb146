package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.validate.Validation

/** Validation-stage semantics (reference validation.py:83-118): fused
  * single-pass null check ≡ per-column jobs, anti-join RI ≡ collect+isin,
  * header set-difference, typed error precedence. */
class ValidationSpec extends SparkSpec {

  private def mk(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private val itemsS = StructType(Seq(
    StructField("id", LongType), StructField("order_id", LongType),
    StructField("sale_price", DoubleType), StructField("note", StringType)))

  private val items = mk(itemsS,
    Row(1L, 10L, 5.0, "x"),
    Row(2L, null, Double.NaN, "7.5"),
    Row(3L, 11L, null, null),
    Row(4L, 12L, 8.0, "nan"))

  test("fused null check matches the per-column formulation") {
    val cols = Seq("id", "order_id", "sale_price", "note")
    val fused = Validation.nullCheck(items, cols).head()
    val perCol = Validation.nullCheckPerColumn(items, cols)
    cols.zipWithIndex.foreach { case (c, i) =>
      assert(fused.getLong(i) === perCol(c), s"column $c")
    }
    assert(perCol("id") === 0)
    assert(perCol("order_id") === 1)
    assert(perCol("sale_price") === 2) // NULL + NaN both count
    // string column: isnan(try_cast) — 'x' casts to NULL (not NaN), 'nan'
    // casts to NaN and counts, matching PySpark's implicit-cast behavior
    assert(perCol("note") === 2)
  }

  test("RI violations = distinct child keys with no parent (anti-join)") {
    val parents = mk(
      StructType(Seq(StructField("order_id", LongType))),
      Row(10L), Row(11L))
    val viol = Validation.riViolations(items, "order_id", parents, "order_id")
      .collect().map(_.getLong(0)).toSet
    assert(viol === Set(12L)) // null child key joins nothing → not a violation row w/ null? 12 dangles
  }

  test("validate returns NullValidationError before ReferentialError") {
    val orders = mk(
      StructType(Seq(StructField("order_id", LongType))), Row(10L))
    val err = Validation.validate(orders, items, None,
      Map("order_items" -> Seq("order_id")))
    assert(err.exists(_.errorType === "NULL_VALIDATION_ERROR"))
  }

  test("validate flags referential errors when nulls pass") {
    val orders = mk(
      StructType(Seq(StructField("order_id", LongType))), Row(10L), Row(11L))
    val err = Validation.validate(orders, items, None,
      Map("order_items" -> Seq("id")))
    assert(err.exists(_.errorType === "REFERENTIAL_ERROR"))
  }

  test("validate passes clean data") {
    val orders = mk(
      StructType(Seq(StructField("order_id", LongType))),
      Row(10L), Row(11L), Row(12L))
    val clean = items.filter("order_id IS NOT NULL")
    assert(Validation.validate(orders, clean, None,
      Map("order_items" -> Seq("id"))).isEmpty)
  }

  // -- the gate ≡ the verdict derived from nullCheck and riViolations -------

  private val gOrdersS = StructType(Seq(
    StructField("order_id", LongType), StructField("user_id", LongType)))
  private val gItemsS = StructType(Seq(StructField("id", LongType),
    StructField("order_id", LongType), StructField("product_id", LongType)))
  private val gProductsS = StructType(Seq(
    StructField("id", LongType), StructField("cost", DoubleType)))
  private val gRequired = Map("orders" -> Seq("order_id", "user_id"),
    "order_items" -> Seq("id", "order_id", "product_id"),
    "products" -> Seq("id", "cost"))

  /** The gate's verdict re-derived from the per-part checks: null counts
    * per table in declaration order, then order RI, then product RI. */
  private def derived(orders: DataFrame, items: DataFrame,
      products: Option[DataFrame], required: Map[String, Seq[String]])
      : Option[(String, String)] = {
    val tables = Seq("orders" -> orders, "order_items" -> items) ++
      products.map("products" -> _)
    val nullErrs = tables.flatMap { case (t, df) =>
      val cols = required.getOrElse(t, Nil)
      if (cols.isEmpty) Nil
      else {
        val r = Validation.nullCheck(df, cols).head()
        cols.zipWithIndex.collect { case (c, i) if r.getLong(i) > 0 =>
          s"$t.$c has ${r.getLong(i)} null values" }
      }
    }
    def ri(key: String, parent: DataFrame, parentKey: String) =
      Validation.riViolations(items, key, parent, parentKey).count()
    lazy val orderViol = ri("order_id", orders, "order_id")
    lazy val prodViol = products.fold(0L)(ri("product_id", _, "id"))
    if (nullErrs.nonEmpty)
      Some("NULL_VALIDATION_ERROR" -> nullErrs.mkString("; "))
    else if (orderViol > 0) Some("REFERENTIAL_ERROR" ->
      s"$orderViol order_id values in order_items missing from orders")
    else if (prodViol > 0) Some("REFERENTIAL_ERROR" ->
      s"$prodViol product_id values in order_items missing from products")
    else None
  }

  private def gateVerdict(orders: DataFrame, items: DataFrame,
      products: Option[DataFrame], required: Map[String, Seq[String]]) =
    Validation.validate(orders, items, products, required)
      .map(e => e.errorType -> e.message)

  private val gKey: Gen[java.lang.Long] = Gen.frequency(
    1 -> Gen.const(null: java.lang.Long),
    4 -> Gen.choose(0L, 4L).map(java.lang.Long.valueOf))
  private val gCase = for {
    orders <- Gen.listOf(Gen.zip(gKey, gKey).map { case (o, u) => Row(o, u) })
    items <- Gen.listOf(Gen.zip(gKey, gKey, gKey).map { case (i, o, p) =>
      Row(i, o, p) })
    products <- Gen.option(Gen.listOf(Gen.zip(gKey, Gen.oneOf[Any](
      null, 1.0, Double.NaN)).map { case (i, c) => Row(i, c) }))
    ro <- Gen.someOf(gRequired("orders"))
    ri <- Gen.someOf(gRequired("order_items"))
    rp <- Gen.someOf(gRequired("products"))
  } yield (orders, items, products, Map("orders" -> ro.toSeq,
    "order_items" -> ri.toSeq, "products" -> rp.toSeq))

  test("gate ≡ nullCheck + riViolations over random tables with NULL and " +
      "duplicate keys on both sides") {
    (1 to 12).foreach { i =>
      val (o, it, p, required) =
        gCase.pureApply(Gen.Parameters.default.withSize(8), Seed(i.toLong))
      val (orders, items) = (mk(gOrdersS, o: _*), mk(gItemsS, it: _*))
      val products = p.map(mk(gProductsS, _: _*))
      assert(gateVerdict(orders, items, products, required) ===
        derived(orders, items, products, required), s"seed $i")
    }
  }

  test("gate edge cases: NULL keys, order-RI precedence, absent products") {
    val ri = Map("order_items" -> Seq("id"))
    def check(orders: Seq[Row], items: Seq[Row], products: Option[Seq[Row]],
        required: Map[String, Seq[String]], want: Option[(String, String)]) = {
      val (o, i) = (mk(gOrdersS, orders: _*), mk(gItemsS, items: _*))
      val p = products.map(mk(gProductsS, _: _*))
      assert(gateVerdict(o, i, p, required) === want)
      assert(derived(o, i, p, required) === want)
    }
    // a NULL parent key matches nothing, not even a NULL child key
    check(Seq(Row(null, 1L)), Seq(Row(1L, 1L, 1L), Row(2L, null, 1L)),
      None, ri, Some("REFERENTIAL_ERROR" ->
        "1 order_id values in order_items missing from orders"))
    // a NULL child key is the null gate's, and never an orphan
    check(Seq(Row(1L, 1L)), Seq(Row(1L, null, 1L)), None,
      Map("order_items" -> Seq("id", "order_id")),
      Some("NULL_VALIDATION_ERROR" -> "order_items.order_id has 1 null values"))
    check(Seq(Row(1L, 1L)), Seq(Row(1L, null, null)),
      Some(Seq(Row(1L, 1.0))), ri, None)
    // both foreign keys dangle (two distinct orphan orders over three
    // rows): the order message wins
    check(Seq(Row(1L, 1L)),
      Seq(Row(1L, 2L, 9L), Row(2L, 2L, 9L), Row(3L, 3L, 1L)),
      Some(Seq(Row(1L, 1.0))), ri, Some("REFERENTIAL_ERROR" ->
        "2 order_id values in order_items missing from orders"))
    check(Seq(Row(1L, 1L)), Seq(Row(1L, 1L, 9L), Row(2L, 1L, 9L)),
      Some(Seq(Row(1L, 1.0), Row(1L, 1.0))), ri, Some("REFERENTIAL_ERROR" ->
        "1 product_id values in order_items missing from products"))
    // products absent: product keys are not checked
    check(Seq(Row(1L, 1L)), Seq(Row(1L, 1L, 9L)), None, ri, None)
  }

  test("missingHeaders is required-minus-present") {
    assert(Validation.missingHeaders(
      Set("a", "b", "c"), Seq("a", "c", "d")) === Set("b"))
  }

  test("v5: embedding covariance equals the exact code-space re-derivation") {
    val s = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val vecs = Seq(
      Seq(0.5f, -0.25f, 0.125f),
      Seq(-0.3f, 0.1f, 0.4f),
      Seq(0.2f, 0.2f, -0.1f),
      Seq(0.0f, -0.5f, 0.25f))
    val df = mk(s, vecs.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, v) }: _*)
    val out = Validation.embeddingCovariance(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    // exact independent re-derivation: same grid, BigInt sums, same
    // left-associative double boundary expression
    val g = Validation.CovGrid.toDouble
    val codes = vecs.map(_.map(x => math.floor(x.toDouble * g).toLong))
    val n = vecs.size.toDouble
    for (i <- 0 until 3; j <- i until 3) {
      val si = codes.map(_(i)).sum.toDouble
      val sj = codes.map(_(j)).sum.toDouble
      val sij = codes.map(c => c(i) * c(j)).sum.toDouble
      val (on, mi, mj, cov) = out((i + 1L, j + 1L))
      assert(on === vecs.size.toLong)
      assert(mi === si / n / g)
      assert(mj === sj / n / g)
      assert(cov === (sij / n - (si / n) * (sj / n)) / (g * g))
    }
    // upper triangle only, all pairs present
    assert(out.size === 6)
    // diagonal variances are non-negative
    for (i <- 1L to 3L) assert(out((i, i))._4 >= 0.0)
    // grid quantization stays within its error bound of the true float
    // covariance: |cov_q - cov_f| <= ~(2/g)·E|x| + (1/g)² per term; at
    // these magnitudes 1e-3 is generous
    val fm = (i: Int) => vecs.map(_(i).toDouble).sum / n
    for (i <- 0 until 3; j <- i until 3) {
      val covF = vecs.map(v => v(i).toDouble * v(j).toDouble).sum / n -
        fm(i) * fm(j)
      assert(math.abs(out((i + 1L, j + 1L))._4 - covF) < 1e-3)
    }
  }

  test("v6: Benford audit is the hand-computed digit distribution") {
    val s = StructType(Seq(StructField("amt", DoubleType)))
    // first digits (of cents): 1 (123.45 -> 12345), 1 (0.19 -> 19),
    // 9 (999.99 -> 99999), 2 (25.00 -> 2500); zero and negative excluded
    val df = mk(s, Row(123.45), Row(0.19), Row(999.99), Row(25.0),
      Row(0.0), Row(-50.0))
    val out = Validation.benfordAudit(df, "amt").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    // all nine digits always present, counts from the positive rows only
    assert(out.keySet === (1L to 9L).toSet)
    assert(out(1L)._1 === 2L && out(2L)._1 === 1L && out(9L)._1 === 1L)
    assert((3L to 8L).forall(out(_)._1 === 0L))
    // shares against the 4-row positive total; expectation literal and
    // the deviation arithmetic mirror the oracle exactly
    val exp = Validation.BenfordExpected.toMap
    assert(out(1L)._2 === 0.5 && out(2L)._2 === 0.25)
    assert(out(1L)._3 === exp(1L))
    assert(out(1L)._4 === 0.5 - exp(1L))
    assert(out(5L)._4 === 0.0 - exp(5L))
    // expectations sum to 1 (the law is a distribution)
    assert(math.abs(Validation.BenfordExpected.map(_._2).sum - 1.0) < 1e-12)
    // empty column: 9 rows, zero counts, NULL share/dev (no ANSI abort)
    val empty = Validation.benfordAudit(df.limit(0), "amt").collect()
    assert(empty.length === 9)
    assert(empty.forall(r => r.getLong(1) === 0L && r.isNullAt(2)
      && r.isNullAt(4)))
  }

  test("vecDriftAudit flags per-dim code drift and label churn") {
    val s = StructType(Seq(
      StructField("label", IntegerType),
      StructField("embedding", ArrayType(FloatType))))
    def emb(rows: (Int, Seq[Float])*) =
      mk(s, rows.map(r => Row(r._1, r._2)): _*)
    // codes are ±127 exactly (each vector's max|x| hits the quantizer
    // scale), so means are crisp: label 1 dim 1 flips +127 → -127
    val ref = emb(
      (1, Seq(0.5f, 0.5f)), (1, Seq(0.5f, 0.5f)),
      (2, Seq(0.25f, 0.25f)),         // vanishes from the batch
      (3, Seq(-0.5f, 0.5f)))          // stays put
    val batch = emb(
      (1, Seq(-0.5f, 0.5f)), (1, Seq(-0.5f, 0.5f)),
      (3, Seq(-0.5f, 0.5f)),
      (4, Seq(0.1f, 0.2f)))           // brand new
    val out = Validation.vecDriftAudit(ref, batch).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getString(6)).toMap
    assert(out === Map(
      (1, 1L) -> "drifted", (1, 2L) -> "ok",
      (2, 1L) -> "missing", (2, 2L) -> "missing",
      (3, 1L) -> "ok", (3, 2L) -> "ok",
      (4, 1L) -> "new", (4, 2L) -> "new"))
    // mean codes are exact integers-in-doubles: +127 vs -127 on the
    // drifted cell, counts coalesced on both outer sides
    val d11 = Validation.vecDriftAudit(ref, batch)
      .filter("label = 1 AND dim = 1").head()
    assert(d11.getDouble(4) === 127.0 && d11.getDouble(5) === -127.0)
    assert(d11.getLong(2) === 2L && d11.getLong(3) === 2L)
    val m = Validation.vecDriftAudit(ref, batch)
      .filter("label = 2 AND dim = 1").head()
    assert(m.getLong(2) === 1L && m.getLong(3) === 0L)
  }

  test("driftAudit flags missing, new, drifted, and ok sources") {
    val s = StructType(Seq(
      StructField("source", StringType), StructField("doc_id", LongType),
      StructField("n_chars", LongType)))
    def docs(rows: (String, Long, Long)*) =
      mk(s, rows.map(r => Row(r._1, r._2, r._3)): _*)
    val ref = docs(
      ("a", 1L, 100L), ("a", 2L, 120L),   // stays healthy
      ("b", 3L, 100L),                     // vanishes from the batch
      ("c", 4L, 300L), ("c", 5L, 300L))    // batch mean collapses
    val batch = docs(
      ("a", 6L, 110L), ("a", 7L, 105L),
      ("c", 8L, 100L), ("c", 9L, 110L),    // mean 105 vs 300 → drifted
      ("d", 10L, 50L))                     // brand new
    val out = Validation.driftAudit(ref, batch).collect()
      .map(r => r.getString(0) -> r.getString(5)).toMap
    assert(out === Map(
      "a" -> "ok", "b" -> "missing", "c" -> "drifted", "d" -> "new"))
    // counts survive the full-outer coalesce on both sides
    val b = Validation.driftAudit(ref, batch)
      .filter("source = 'b'").head()
    assert(b.getLong(1) === 1L && b.getLong(2) === 0L)
    val d = Validation.driftAudit(ref, batch)
      .filter("source = 'd'").head()
    assert(d.getLong(1) === 0L && d.getLong(2) === 1L)
  }

  test("x6: robust outliers — hand-computed median/MAD, only the spike flags") {
    val s = StructType(Seq(
      StructField("g", StringType), StructField("v", DoubleType)))
    // group a: values 1..5 plus a 1000.0 spike. median = 3.5 (even count,
    // interpolated), deviations {2.5, 1.5, 0.5, 0.5, 1.5, 996.5} → MAD 1.5;
    // threshold 5·1.5 = 7.5 flags ONLY the spike. A mean/stddev z-score
    // at the same data gives stddev ≈ 406 — the spike is barely 2.4σ and a
    // 3σ screen misses it, which is the point of the operator.
    val rows = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 1000.0).map(v => Row("a", v)) :+
      Row("b", 7.0) // singleton group: MAD 0, nothing can exceed 5·0 … > is strict
    val out = Validation.robustOutliers(mk(s, rows: _*), "g", "v").collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("a") === ((3.5, 1.5, 6L, 1L)))
    assert(out("b") === ((7.0, 0.0, 1L, 0L)),
      "degenerate MAD=0 group must not flag its own members (strict >)")
  }

  test("v7: Gini + top-20% share — hand-computed, ties, and the sx=0 guard") {
    val itemS = StructType(Seq(
      StructField("product_id", LongType),
      StructField("sale_price", DoubleType)))
    val prodS = StructType(Seq(
      StructField("id", LongType), StructField("category", StringType)))
    // A: revenues [1,2,3,4] over two items for product 2 (1.5+0.5) —
    //   six = 100+400+900+1600 = 3000, sx = 1000
    //   gini = (6000−5·1000)/(4·1000) = 0.25; k = ⌈4/5⌉ = 1 → share 0.4
    // B: one zero-revenue product — sx = 0 → NULL gini/share, not ÷0
    // C: equal pair [5,5] — perfect equality: gini 0; k = 1 → share 0.5
    val items = mk(itemS,
      Row(1L, 1.0), Row(2L, 1.5), Row(2L, 0.5), Row(3L, 3.0), Row(4L, 4.0),
      Row(5L, 0.0),
      Row(6L, 5.0), Row(7L, 5.0))
    val prods = mk(prodS,
      Row(1L, "A"), Row(2L, "A"), Row(3L, "A"), Row(4L, "A"),
      Row(5L, "B"), Row(6L, "C"), Row(7L, "C"))
    val out = Validation.revenueGini(items, prods).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = out("A")
    assert(a.getLong(1) === 4L && a.getDouble(2) === 10.0)
    assert(a.getDouble(3) === 0.25 && a.getDouble(4) === 0.4)
    val b = out("B")
    assert(b.getLong(1) === 1L && b.getDouble(2) === 0.0)
    assert(b.isNullAt(3) && b.isNullAt(4), "sx=0 must yield NULL, not ÷0")
    val c = out("C")
    assert(c.getDouble(3) === 0.0, "equal revenues = perfect equality")
    assert(c.getDouble(4) === 0.5)
  }

  test("dq1: each rule counts its planted violations; NULL never passes silently") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType)))
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val rows = Seq(
      // clean row
      Row(1L, 1L, "F", 10.0, ts("1997-01-01"), "1-URGENT"),
      // null price (rule 1; positivity must NOT also fire)
      Row(2L, 1L, "O", null, ts("1997-01-01"), "2-HIGH"),
      // non-positive price (rule 2)
      Row(3L, 1L, "P", -5.0, ts("1997-01-01"), "3-MEDIUM"),
      // out-of-domain status + NULL status (rule 3: both violate)
      Row(4L, 1L, "X", 1.0, ts("1997-01-01"), "4-LOW"),
      Row(5L, 1L, null, 1.0, ts("1997-01-01"), "5-NONE"),
      // duplicate key (rule 4: one extra row)
      Row(5L, 1L, "F", 1.0, ts("1997-01-01"), "1-URGENT"),
      // date out of range + NULL date (rule 5: both violate)
      Row(6L, 1L, "F", 1.0, ts("1985-01-01"), "1-URGENT"),
      Row(7L, 1L, "F", 1.0, null, "1-URGENT"),
      // bad priority format + NULL priority (rule 6: both violate)
      Row(8L, 1L, "F", 1.0, ts("1997-01-01"), "9-WAT"),
      Row(9L, 1L, "F", 1.0, ts("1997-01-01"), null))
    val dir = java.nio.file.Files.createTempDirectory("graft-dq1").toString
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema)
      .write.parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("dq1_expectations")(spark, dir).collect()
      .map(r => r.getAs[String]("rule") ->
        (r.getAs[Long]("n_violations"), r.getAs[Boolean]("pass"))).toMap
    assert(out("totalprice_not_null") === ((1L, false)))
    assert(out("totalprice_positive") === ((1L, false)),
      "the NULL price belongs to the not-null rule alone")
    assert(out("status_in_domain") === ((2L, false)),
      "a NULL status must not silently pass the domain rule")
    assert(out("orderkey_unique") === ((1L, false)))
    assert(out("orderdate_in_range") === ((2L, false)))
    assert(out("priority_format") === ((2L, false)))
    // and a clean table passes everything
    val clean = java.nio.file.Files.createTempDirectory("graft-dq1c").toString
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(rows.head), 1), schema)
      .write.parquet(s"$clean/orders.parquet")
    val ok = SparkEntry.queries("dq1_expectations")(spark, clean).collect()
    assert(ok.forall(_.getAs[Boolean]("pass")))
    assert(ok.length === 6)
  }

  test("dq1 rules-as-data: NULL keys are a not-null violation, never duplicates") {
    import org.apache.spark.sql.types._
    import Validation._
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType)))
    // two NULL keys, one real duplicate pair: uniqueness must report
    // exactly 1 (the non-null excess), the key's not-null rule exactly 2
    // — the round-10 `n_rows − NDV` form would have booked 3 duplicates
    val df = mk(schema,
      Row(null, 1.0), Row(null, 2.0),
      Row(7L, 3.0), Row(7L, 4.0), Row(8L, 5.0))
    val out = expectations(df, Seq(
        RuleUnique("k_unique", "k"), RuleNotNull("k_not_null", "k")))
      .collect().map(r => r.getAs[String]("rule") ->
        r.getAs[Long]("n_violations")).toMap
    assert(out("k_unique") === 1L)
    assert(out("k_not_null") === 2L)
  }

  test("dq1 rules-as-data: subsets and reorderings renumber but agree rule-by-rule") {
    import Validation._
    val orders = graft.io.Sources.table(spark, sf0001, "orders")
    val full = expectations(orders, OrdersExpectations).collect()
      .map(r => r.getAs[String]("rule") ->
        (r.getAs[Long]("n_violations"), r.getAs[Boolean]("pass"))).toMap
    // a reversed 3-rule subset: positions renumber 1..3 in declared
    // order, every per-rule count matches the full suite's
    val subset = Seq(OrdersExpectations(4), OrdersExpectations(2),
      OrdersExpectations.head)
    val out = expectations(orders, subset).collect()
      .sortBy(_.getAs[Long]("rule_id"))
    assert(out.map(_.getAs[Long]("rule_id")).toSeq === Seq(1L, 2L, 3L))
    assert(out.map(_.getAs[String]("rule")).toSeq ===
      subset.map(_.name))
    out.foreach { r =>
      assert((r.getAs[Long]("n_violations"), r.getAs[Boolean]("pass"))
        === full(r.getAs[String]("rule")), r.getAs[String]("rule"))
    }
    // and the generated ORACLE renders from the same values: spot-pin
    // the rule names and the per-kind violation SQL fragments
    val sql = expectationsSql("orders", subset)
    assert(sql.contains("'orderdate_in_range'"))
    assert(sql.contains("count(o_orderkey) - count(DISTINCT o_orderkey)")
      === false, "subset omits the uniqueness rule")
    assert(sql.contains("CASE WHEN o_totalprice IS NULL"))
    // a rule name with a backslash must survive the Spark literal
    // splice intact (Spark literals backslash-escape; DuckDB's don't)
    val weird = expectations(orders,
      Seq(RuleNotNull("""path\basic 'q'""", "o_totalprice"))).collect()
    assert(weird.head.getAs[String]("rule") === """path\basic 'q'""")
  }

  test("exactPercentilesAndBounds ≡ built-in percentile(), bit for bit") {
    import org.apache.spark.sql.functions.{col, expr}
    // Tie-heavy + interpolating fixture: duplicates spanning the
    // bracketing ranks exercise the equal-key shortcut, odd counts force
    // fractional positions, negatives and irrationals exercise the
    // (hi−pos)·lo + (pos−lo)·hi double arithmetic; a null is dropped.
    val vals: Seq[java.lang.Double] = Seq[java.lang.Double](
      5.0, 5.0, 5.0, -3.25, 0.1, 0.1, 7.75, 2.0 / 3.0, 2.0 / 3.0,
      math.Pi, -3.25, 11.5, null, 0.1, 1e-9, 123456.789, 5.0)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map(Row(_)), 3),
      StructType(Seq(StructField("x", DoubleType))))
    val ps = Seq(0.0, 0.05, 0.1, 0.25, 0.5, 0.7, 0.75, 0.9, 0.99, 1.0)
    val Some((es, mn, mx)) =
      Validation.exactPercentilesAndBounds(df, "x", ps)
    val ref = df.agg(
        expr(s"percentile(x, array(${ps.mkString("D, ")}D))").as("es"),
        org.apache.spark.sql.functions.min(col("x")).as("mn"),
        org.apache.spark.sql.functions.max(col("x")).as("mx")).head()
    val refEs = ref.getSeq[Double](0)
    ps.indices.foreach { i =>
      assert(java.lang.Double.doubleToLongBits(es(i)) ===
        java.lang.Double.doubleToLongBits(refEs(i)), s"p=${ps(i)}")
    }
    assert(mn === ref.getDouble(1) && mx === ref.getDouble(2))
    // and on the real bench column shape: near-unique doubles
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_extendedprice"))
    val qs = (1 until 10).map(i => i.toDouble / 10)
    val Some((es2, mn2, mx2)) =
      Validation.exactPercentilesAndBounds(li, "l_extendedprice", qs)
    val ref2 = li.agg(
        expr(s"percentile(l_extendedprice, array(${qs.mkString("D, ")}D))")
          .as("es"),
        org.apache.spark.sql.functions.min(col("l_extendedprice")).as("mn"),
        org.apache.spark.sql.functions.max(col("l_extendedprice")).as("mx"))
      .head()
    val refEs2 = ref2.getSeq[Double](0)
    qs.indices.foreach { i =>
      assert(java.lang.Double.doubleToLongBits(es2(i)) ===
        java.lang.Double.doubleToLongBits(refEs2(i)), s"q=${qs(i)}")
    }
    assert(mn2 === ref2.getDouble(1) && mx2 === ref2.getDouble(2))
    // all-null and empty inputs take the None branch
    val nulls = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(null: java.lang.Double), Row(null: java.lang.Double)), 2),
      StructType(Seq(StructField("x", DoubleType))))
    assert(Validation.exactPercentilesAndBounds(nulls, "x", ps).isEmpty)
    assert(Validation.exactPercentilesAndBounds(
      nulls.filter(col("x").isNotNull), "x", ps).isEmpty)
  }
}
