package graft.validate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType, StringType}

/** Validation stage (reference SURVEY.md §2.2 P2, §2.4 A6/A7, §2.3 J3/J4).
  *
  * The reference runs one Spark job per required column (filter+count,
  * `scripts/validation.py:83-91`) and does referential integrity by
  * `distinct().collect()` to the driver followed by a giant `isin` filter
  * (`scripts/validation.py:100-116`). Both formulations die at 100 TB: N
  * full scans for N columns, and O(keys) driver memory. Here:
  *
  *  - null checks fuse into ONE aggregation pass over the table
  *    (`count(when(isNullOrNan(c), 1))` per column in a single `agg`);
  *  - RI checks are joins against the parent key set (left-anti in
  *    [[riViolations]], existence lookups in [[gate]]), which Catalyst
  *    plans as a normal distributed join (broadcast when the parent key set
  *    is small, shuffled hash/sort-merge otherwise) — no driver round-trip;
  *  - the pipeline's whole gate is ONE action ([[gate]]).
  */
object Validation {

  /** Typed error results mirroring the reference's
    * `DataValidationError(error_type)` (`scripts/validation.py:45-48,207-219`). */
  sealed trait ValidationError { def errorType: String; def message: String }
  final case class NullValidationError(message: String) extends ValidationError {
    val errorType = "NULL_VALIDATION_ERROR"
  }
  final case class ReferentialError(message: String) extends ValidationError {
    val errorType = "REFERENTIAL_ERROR"
  }

  /** The reference's null predicate is `isnull(c) | isnan(c)`
    * (`scripts/validation.py:89`). `isnan` only types on float/double (on the
    * reference's all-string frames PySpark 3.x inserted an implicit
    * string->double cast that yielded NULL on malformed input); Spark 4 runs
    * ANSI mode, so the parity path must be an explicit `try_cast`. */
  def isNullOrNan(df: DataFrame, c: String): Column = {
    val col0 = col(c)
    df.schema(c).dataType match {
      case DoubleType | FloatType => col0.isNull || isnan(col0)
      case StringType => col0.isNull || isnan(col0.try_cast(DoubleType))
      case _ => col0.isNull
    }
  }

  /** A6 fused: null/NaN counts for every required column in ONE pass.
    * Output: a single wide row, one `null_<col>` column per input column. */
  def nullCheck(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.map(c =>
      count(when(isNullOrNan(df, c), lit(1))).as(s"null_$c"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** A6 compat: the reference's one-job-per-column formulation, kept for the
    * equivalence test (same numbers, N scans — do not use at scale). */
  def nullCheckPerColumn(df: DataFrame, cols: Seq[String]): Map[String, Long] =
    cols.map(c => c -> df.filter(isNullOrNan(df, c)).count()).toMap

  /** J3/J4: referential-integrity violations — distinct child keys with no
    * matching parent key, as a left-anti join
    * (replaces `scripts/validation.py:100-116`'s collect+isin).
    *
    * Scale: the parent side is pruned to its key column before the join, so
    * Catalyst broadcasts it when small; otherwise both sides shuffle on the
    * key — the correct plan at any size.
    */
  def riViolations(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame =
    // NULL child keys are excluded: the reference's `~isin(keys)` evaluates
    // to NULL for a NULL key, so the filter drops the row (nulls are the
    // null-check gate's job, not RI's). A bare left-anti would keep them.
    child.select(col(childKey)).filter(col(childKey).isNotNull)
      .join(parent.select(col(parentKey).as(childKey)).distinct(),
        Seq(childKey), "left_anti")
      .distinct()

  /** The validation gate as ONE single-row plan, collected by ONE action
    * whatever the verdict:
    *  - per-table null/NaN counts ([[isNullOrNan]]), one aggregate per table;
    *  - the DISTINCT orphan keys of `order_id` → orders and `product_id` →
    *    products (the message's count), from ONE pass over items with
    *    broadcast existence lookups of the parent keys — a NULL child key
    *    is the null gate's, never an orphan (the [[riViolations]]
    *    semantics). Memory: the distinct orphan keys of one bad batch,
    *    held in one aggregation buffer (empty for a clean batch);
    *  - `ordersAgg`, an extra aggregate over orders riding the same scan
    *    (the processing date in `Pipeline.validateJob`), returned as a
    *    string (None when it is NULL or not asked for).
    * The per-table rows are unioned and collected (AQE runs their stages
    * concurrently), and the driver applies the reference's precedence
    * (`scripts/validation.py:176-191`) to them: null gates first
    * (NULL_VALIDATION_ERROR, every failing column listed), then order RI,
    * then product RI (REFERENTIAL_ERROR) — the first failure, like the
    * reference's exception flow, or None when valid. No aggregate has two distinct keys, so the code is the same
    * for every batch. Measured at local[4], clean or rejected: 6 Spark
    * jobs (AQE stages included), 26 generated classes. */
  def gate(orders: DataFrame, orderItems: DataFrame,
      products: Option[DataFrame], requiredNonNull: Map[String, Seq[String]],
      ordersAgg: Option[Column]): (Option[ValidationError], Option[String]) = {
    def nullCounts(df: DataFrame, table: String): Seq[(String, Column)] =
      requiredNonNull.getOrElse(table, Nil).map(c =>
        s"$table.$c" -> count(when(isNullOrNan(df, c), lit(1))))
    // the keys not found: a positive `isin` plans a hash existence join
    // (NOT IN, a null-aware nested-loop one); collect_set drops NULLs
    def orphans(key: String, parent: DataFrame, parentKey: String): Column =
      size(collect_set(when(col(key).isin(parent.select(col(parentKey))),
        lit(null)).otherwise(col(key))))

    val ordersNulls = nullCounts(orders, "orders")
    val itemsNulls = nullCounts(orderItems, "order_items")
    val productsNulls = products.toSeq.flatMap(nullCounts(_, "products"))
    val tables: Seq[(DataFrame, Seq[(String, Column)])] = Seq(
      orders -> (ordersNulls ++ ordersAgg.map("orders_agg" -> _)),
      orderItems -> (itemsNulls ++
        Seq("orphan_orders" -> orphans("order_id", orders, "order_id")) ++
        products.map(p => "orphan_products" -> orphans("product_id", p, "id")))) ++
      products.map(_ -> productsNulls)
    // one row per table, (index, every value as a string), unioned: one
    // action, no join between the per-table rows
    val values: Map[String, String] = tables.zipWithIndex
      .collect { case ((df, aggs), t) if aggs.nonEmpty =>
        df.agg(lit(t), array(aggs.map(_._2.cast("string")): _*))
      }
      .reduce(_ union _).collect()
      .flatMap(r => tables(r.getInt(0))._2.map(_._1).zip(r.getSeq[String](1)))
      .toMap
    def long(n: String): Long = values(n).toLong

    val nullErrs = (ordersNulls ++ itemsNulls ++ productsNulls).map(_._1)
      .collect { case n if long(n) > 0 => s"$n has ${long(n)} null values" }
    def referential(n: String, key: String, table: String) =
      values.get(n).map(_.toLong).filter(_ > 0).map(k => ReferentialError(
        s"$k $key values in order_items missing from $table"))
    val verdict =
      if (nullErrs.nonEmpty) Some(NullValidationError(nullErrs.mkString("; ")))
      else referential("orphan_orders", "order_id", "orders")
        .orElse(referential("orphan_products", "product_id", "products"))
    (verdict, values.get("orders_agg").flatMap(Option(_)))
  }

  /** Ingest-time header check (reference `lambda/s3_validation.py:128-135`):
    * required-column set difference, driver-side (it is header metadata, not
    * data). Returns missing columns, empty when valid. */
  def missingHeaders(required: Set[String], present: Seq[String]): Set[String] =
    required -- present.toSet

  /** V1 (E50): fused table profile — per-column null count, exact NDV,
    * min/max — in ONE pass over the table (the A6 fused philosophy
    * applied to profiling: the naive per-column loop scans N times).
    * The wide one-row aggregate is unpivoted with `stack` into one row
    * per column; multiple exact distincts plan through Expand. Values
    * stringify at the boundary so the row shape is column-uniform.
    * The data-quality report a pipeline runs before trusting a new
    * drop. */
  def tableProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    // the N-distinct Expand multiplies rows N+1-fold BEFORE the partial
    // aggregate, so a single-split scan serializes (N+1)·rows of agg
    // work on one task — spread it (no-op on a many-split table)
    val sdf = graft.functions.TextFunctions.spreadSmallScan(df, cols.head)
    val aggs = cols.flatMap(c => Seq(
      count(when(col(c).isNull, lit(1))).as(s"n_$c"),
      countDistinct(col(c)).as(s"d_$c"),
      min(col(c)).cast("string").as(s"mn_$c"),
      max(col(c)).cast("string").as(s"mx_$c")))
    val wide = sdf.agg(aggs.head, aggs.tail: _*)
    val stacked = cols
      .map(c => s"'$c', `n_$c`, `d_$c`, `mn_$c`, `mx_$c`").mkString(", ")
    wide.select(expr(s"stack(${cols.size}, $stacked) AS " +
      "(column_name, n_nulls, n_distinct, min_val, max_val)"))
  }

  def tableProfileSql(table: String, cols: Seq[String]): String =
    cols.map { c =>
      s"""SELECT '$c' AS column_name,
        count(*) FILTER ($c IS NULL) AS n_nulls,
        count(DISTINCT $c) AS n_distinct,
        CAST(min($c) AS VARCHAR) AS min_val,
        CAST(max($c) AS VARCHAR) AS max_val
      FROM $table"""
    }.mkString("\nUNION ALL\n")

  /** V1X production path: [[tableProfile]] with the documented 100-TB swap
    * applied — `approx_count_distinct` (HLL++) replaces the exact NDVs, so
    * the whole profile is ONE pass with NO Expand (N exact distincts
    * multiply the scanned rows N-fold through Expand; N sketches don't).
    * ~2 % relative error on NDV is noise for a data-quality report; nulls
    * and min/max stay exact. */
  def tableProfileApprox(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      count(when(col(c).isNull, lit(1))).as(s"n_$c"),
      approx_count_distinct(col(c)).as(s"d_$c"),
      min(col(c)).cast("string").as(s"mn_$c"),
      max(col(c)).cast("string").as(s"mx_$c")))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols
      .map(c => s"'$c', `n_$c`, `d_$c`, `mn_$c`, `mx_$c`").mkString(", ")
    wide.select(expr(s"stack(${cols.size}, $stacked) AS " +
      "(column_name, n_nulls, n_distinct_est, min_val, max_val)"))
  }

  /** V1X gate: the approx profile made EXECUTABLE under the hash oracle,
    * a2x/x5x style. HLL++ estimates never cross engines, so the NDV
    * reduces to a per-column within-bound indicator (rsd 0.05 ⇒ 4σ =
    * 20 %, floor 5) computed against the exact NDV in the SAME single
    * scan; nulls and min/max compare exactly. The gate query pays the
    * exact-NDV Expand to check the bound — the production path
    * ([[tableProfileApprox]]) doesn't. */
  def tableProfileApproxGate(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      count(when(col(c).isNull, lit(1))).as(s"n_$c"),
      approx_count_distinct(col(c)).as(s"a_$c"),
      countDistinct(col(c)).as(s"d_$c"),
      min(col(c)).cast("string").as(s"mn_$c"),
      max(col(c)).cast("string").as(s"mx_$c")))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols
      .map(c => s"'$c', `n_$c`, `a_$c`, `d_$c`, `mn_$c`, `mx_$c`")
      .mkString(", ")
    wide.select(expr(s"stack(${cols.size}, $stacked) AS " +
        "(column_name, n_nulls, ndv_est, ndv_exact, min_val, max_val)"))
      .select(col("column_name"), col("n_nulls"),
        when(abs(col("ndv_est") - col("ndv_exact")) <=
          greatest(col("ndv_exact") * lit(0.2), lit(5.0)), 1L).otherwise(0L)
          .as("ndv_within"),
        col("min_val"), col("max_val"))
  }

  def tableProfileApproxGateSql(table: String, cols: Seq[String]): String =
    cols.map { c =>
      s"""SELECT '$c' AS column_name,
        count(*) FILTER ($c IS NULL) AS n_nulls,
        CAST(1 AS BIGINT) AS ndv_within,
        CAST(min($c) AS VARCHAR) AS min_val,
        CAST(max($c) AS VARCHAR) AS max_val
      FROM $table"""
    }.mkString("\nUNION ALL\n")

  // ---- DQ1 (E167): declarative expectation suite --------------------------

  /** A data-quality expectation, declared as DATA (the round-10 verdict
    * item): the Great-Expectations / dbt-test shape dq1 cites is
    * config-driven — rule sets arrive as values (parsed from a YAML/JSON
    * suite in those tools), not as hand-written aggregates — so the
    * operator takes `Seq[Rule]` and GENERATES the fused conditional
    * aggregate from it. Six rule kinds cover the classic core set:
    * not-null, positivity, domain membership, key uniqueness, timestamp
    * range, format regex.
    *
    * NULL semantics are part of the declaration, not the instance:
    *  - [[RuleNotNull]] owns the missing case for its column;
    *  - [[RulePositive]] applies only to PRESENT values (a NULL is the
    *    not-null rule's violation, never double-counted here);
    *  - [[RuleInDomain]] / [[RuleInRangeTs]] / [[RuleMatches]] treat
    *    NULL as a violation (`coalesce(test, false)` — a value that
    *    cannot be proven conforming isn't);
    *  - [[RuleUnique]] counts only NON-NULL duplicate excess
    *    (`count(col) − countDistinct(col)`): a NULL key is a
    *    missing-key problem that belongs to a not-null rule on the key,
    *    not a duplicate of other NULLs (the round-10 verdict's NULL-key
    *    semantics resolution — previously `n_rows − NDV` silently
    *    booked every NULL key as a duplicate). */
  sealed trait Rule { def name: String }
  final case class RuleNotNull(name: String, column: String) extends Rule
  final case class RulePositive(name: String, column: String) extends Rule
  final case class RuleInDomain(name: String, column: String,
      values: Seq[String]) extends Rule
  final case class RuleUnique(name: String, column: String) extends Rule
  final case class RuleInRangeTs(name: String, column: String,
      loIncl: String, hiExcl: String) extends Rule
  final case class RuleMatches(name: String, column: String,
      regex: String) extends Rule

  /** dq1's six rules as the declarative instance (the fixture suite —
    * the generated aggregate is hash-identical to round 10's
    * hand-written form on any NULL-key-free table). */
  val OrdersExpectations: Seq[Rule] = Seq(
    RuleNotNull("totalprice_not_null", "o_totalprice"),
    RulePositive("totalprice_positive", "o_totalprice"),
    RuleInDomain("status_in_domain", "o_orderstatus", Seq("F", "O", "P")),
    RuleUnique("orderkey_unique", "o_orderkey"),
    RuleInRangeTs("orderdate_in_range", "o_orderdate",
      "1990-01-01 00:00:00", "2030-01-01 00:00:00"),
    RuleMatches("priority_format", "o_orderpriority", "^[1-5]-"))

  /** The multi-rule DQ report over a declared rule set: every rule's
    * violation count in ONE fused scan (the a6/v1 philosophy — one
    * conditional aggregate; a uniqueness rule rides the same pass's
    * exact NDV), then `stack`ed to the rule-grain report. `rule_id` is
    * the 1-based position in the declaration (a reordered suite
    * renumbers — ids name report rows, not rules). Exact long counts;
    * the report is |rules| bounded rows at any table size. */
  def expectations(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "expectation suite must declare at least one rule")
    def conforms(c: Column) = coalesce(c, lit(false))
    def violationsOf(r: Rule): Column = r match {
      case RuleNotNull(_, c) =>
        sum(when(col(c).isNull, 1L).otherwise(0L))
      case RulePositive(_, c) =>
        sum(when(col(c).isNotNull && col(c) <= 0.0, 1L).otherwise(0L))
      case RuleInDomain(_, c, vs) =>
        sum(when(!conforms(col(c).isin(vs: _*)), 1L).otherwise(0L))
      case RuleUnique(_, c) =>
        count(col(c)) - countDistinct(col(c))
      case RuleInRangeTs(_, c, lo, hi) =>
        sum(when(!conforms(col(c) >= to_timestamp(lit(lo)) &&
          col(c) < to_timestamp(lit(hi))), 1L).otherwise(0L))
      case RuleMatches(_, c, re) =>
        sum(when(!conforms(col(c).rlike(re)), 1L).otherwise(0L))
    }
    val aggs = rules.zipWithIndex.map { case (r, i) =>
      violationsOf(r).cast("long").as(s"v_$i") }
    val fused = df.agg(aggs.head, aggs.tail: _*)
    // Spark string literals escape BOTH backslash and quote (DuckDB's
    // standard strings only the quote — handled in expectationsSql), so
    // a backslash in a wire-form rule name must double here or the
    // parsed literal mangles and forks from the oracle
    val stackArgs = rules.zipWithIndex.map { case (r, i) =>
      val nm = r.name.replace("\\", "\\\\").replace("'", "''")
      s"${i + 1}L, '$nm', v_$i"
    }.mkString(",\n      ")
    fused.select(expr(
        s"""stack(${rules.size},
      $stackArgs
    ) AS (rule_id, rule, n_violations)"""))
      .withColumn("pass", col("n_violations") === 0L)
  }

  /** The oracle generator — the SAME rule values render the DuckDB SQL,
    * so declaration and verification can't drift apart. */
  def expectationsSql(table: String, rules: Seq[Rule]): String = {
    require(rules.nonEmpty, "expectation suite must declare at least one rule")
    def violationsOf(r: Rule, i: Int): String = (r match {
      case RuleNotNull(_, c) =>
        s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)"
      case RulePositive(_, c) =>
        s"sum(CASE WHEN $c IS NOT NULL AND $c <= 0.0 THEN 1 ELSE 0 END)"
      case RuleInDomain(_, c, vs) =>
        s"sum(CASE WHEN NOT coalesce($c IN (${
          vs.map(v => s"'${v.replace("'", "''")}'").mkString(", ")}), FALSE)" +
          " THEN 1 ELSE 0 END)"
      case RuleUnique(_, c) =>
        s"count($c) - count(DISTINCT $c)"
      case RuleInRangeTs(_, c, lo, hi) =>
        s"sum(CASE WHEN NOT coalesce($c >= TIMESTAMP '$lo' AND " +
          s"$c < TIMESTAMP '$hi', FALSE) THEN 1 ELSE 0 END)"
      case RuleMatches(_, c, re) =>
        s"sum(CASE WHEN NOT coalesce(regexp_matches($c, " +
          s"'${re.replace("'", "''")}'), FALSE) THEN 1 ELSE 0 END)"
    }) + s"::BIGINT AS v_$i"
    val aggCols = rules.zipWithIndex
      .map { case (r, i) => violationsOf(r, i) }.mkString(",\n        ")
    val rows = rules.zipWithIndex.map { case (r, i) =>
      s"SELECT ${i + 1}::BIGINT AS rule_id, " +
        s"'${r.name.replace("'", "''")}' AS rule, " +
        s"v_$i AS n_violations FROM a"
    }.mkString("\n      UNION ALL ")
    s"""
      WITH a AS (
        SELECT $aggCols
        FROM $table),
      r AS (
        $rows)
      SELECT rule_id, rule, n_violations, n_violations = 0 AS pass
      FROM r"""
  }

  /** V2 (E70): profile DRIFT audit — the monitoring tier over V1's
    * profiles: a new batch's per-source profile compared against a
    * reference batch, flagging relative drift (the metric-anomaly check
    * the public Deequ library popularized; the gate a pipeline runs
    * before admitting a drop into the store). FULL OUTER on the key so
    * VANISHED and BRAND-NEW sources are flagged — an inner join would
    * hide exactly the failures the audit exists to surface (the
    * c1/mix1/pipe1 left-join-audit convention, taken both ways).
    * Metrics are integer sums plus one double division per side
    * (bitwise cross-engine); `drifted` = mean-chars ratio off by more
    * than `tol` (count COLLAPSE surfaces as `missing` and through the
    * reported per-side doc counts; a count-ratio rule is deliberately
    * not folded into the flag — on small per-key samples binomial split
    * noise would dominate it, while the mean sharpens with volume). One
    * aggregate per side at source grain — at 100 TB each profile is a
    * mergeable per-batch aggregate exactly like the KPI tier's (and
    * could persist through the same store). */
  def driftAudit(ref: DataFrame, batch: DataFrame,
      tol: Double = 1.0 / 3): DataFrame = {
    def profile(df: DataFrame, p: String) = df.groupBy(col("source"))
      .agg(count(lit(1)).as(s"${p}_docs"),
        sum(col("n_chars")).as(s"${p}_chars"))
    val joined = profile(ref, "ref")
      .join(profile(batch, "batch"), Seq("source"), "full_outer")
    val refMean = col("ref_chars").cast("double") /
      col("ref_docs").cast("double")
    val batchMean = col("batch_chars").cast("double") /
      col("batch_docs").cast("double")
    joined.select(col("source"),
      coalesce(col("ref_docs"), lit(0L)).as("ref_docs"),
      coalesce(col("batch_docs"), lit(0L)).as("batch_docs"),
      refMean.as("ref_mean_chars"), batchMean.as("batch_mean_chars"),
      when(col("ref_docs").isNull, "new")
        .when(col("batch_docs").isNull, "missing")
        // ref mean 0 short-circuits BEFORE the relative-change division:
        // ANSI divide throws on /0.0 (it would abort the audit), and the
        // semantics are decidable without it — any nonzero batch mean
        // against a zero reference is an infinite relative excursion
        .when(refMean === 0.0,
          when(batchMean =!= 0.0, lit("drifted")).otherwise(lit("ok")))
        .when(abs(batchMean / refMean - 1.0) > tol, "drifted")
        .otherwise("ok").as("status"))
  }

  /** V3 (E73): EMBEDDING-space drift audit — [[driftAudit]]'s philosophy
    * applied to the vector tier: per (label, dimension), the mean int8
    * code of a batch compared against a reference batch. Works on the
    * [[org.apache.spark.sql.graft.Int8Quant]] codes, not raw floats,
    * deliberately: code values are exact small integers, so the per-cell
    * sums are order-INDEPENDENT in double arithmetic (< 2^53) and the
    * whole audit is bitwise cross-engine without the sequential-fold
    * machinery raw float sums would need — and the audit can run
    * directly over a stored SQ8 index ([[graft.sim.Similarity]] n6/n7)
    * without ever touching raw vectors. FULL OUTER on (label, dim) so
    * vanished/new labels surface, as in V2. `drifted` = absolute mean-
    * code shift beyond `tol` code units; at small per-label samples the
    * per-dim mean is noisy (sd ≈ 73/√n code units) so some healthy dims
    * flag — deterministically identical in both engines, and sharpening
    * with volume (the V2 caveat).
    *
    * Scale: one narrow quantize+posexplode pass per side, a map-side-
    * combining (label, dim) aggregate (output is labels × dim rows —
    * tiny), one broadcast-able full-outer join. Each side's profile is a
    * mergeable per-batch aggregate (sums and counts add). */
  def vecDriftAudit(ref: DataFrame, batch: DataFrame,
      tol: Double = 40.0): DataFrame = {
    def profile(df: DataFrame, p: String) = df
      .select(col("label"),
        posexplode(org.apache.spark.sql.graft.VectorExpressions
          .fvecQuant8(col("embedding"))).as(Seq("d0", "v")))
      .groupBy(col("label"), (col("d0") + 1).cast("long").as("dim"))
      .agg(count(lit(1)).as(s"${p}_n"),
        sum(col("v").cast("double")).as(s"${p}_s"))
    val joined = profile(ref, "ref")
      .join(profile(batch, "batch"), Seq("label", "dim"), "full_outer")
    val refMean = col("ref_s") / col("ref_n").cast("double")
    val batchMean = col("batch_s") / col("batch_n").cast("double")
    joined.select(col("label"), col("dim"),
      coalesce(col("ref_n"), lit(0L)).as("ref_n"),
      coalesce(col("batch_n"), lit(0L)).as("batch_n"),
      refMean.as("ref_mean_code"), batchMean.as("batch_mean_code"),
      when(col("ref_n").isNull, "new")
        .when(col("batch_n").isNull, "missing")
        .when(abs(batchMean - refMean) > tol, "drifted")
        .otherwise("ok").as("status"))
  }

  /** First-digit expectations for [[benfordAudit]]: P(d) = log₁₀(1+1/d).
    * Computed ONCE here and injected into both engines, so the log
    * never runs inside either engine — the libm rule. The SQL side
    * injects the EXACT BigDecimal expansion of the double, not its
    * short toString: JDK 17's Double.toString can emit a string whose
    * correctly-rounded parse (DuckDB, Python) is the NEIGHBORING
    * double of the one Java holds (observed on log₁₀(4/3): Java prints
    * …9993 for the …7802 bit pattern, and …9993 truly rounds to …7801)
    * — the exact expansion is parser-independent. */
  val BenfordExpected: Seq[(Long, Double)] =
    (1L to 9L).map(d => d -> math.log10(1.0 + 1.0 / d))

  /** E139 (V6): BENFORD first-digit audit — the classic forensic
    * data-quality screen on a monetary column: natural multi-scale
    * amounts follow log₁₀(1+1/d) first-digit frequencies, and fabricated
    * or truncated data doesn't. Reports, per digit 1–9, the observed
    * count/share against the Benford expectation and the deviation —
    * the column an anomaly review reads (TPC-H-style uniform prices
    * deviate BY CONSTRUCTION; the audit's job is to say so, with the
    * exact direction).
    *
    * Determinism: the amount is fixed to integer cents (double·100 is
    * the same IEEE product in both engines, round-half-away agrees for
    * positive amounts), the digit comes from the integer's decimal
    * string (never floating log₁₀), and the expectations are
    * pre-computed literals. Shape: one conditional scan to a 9-row
    * aggregate; the total re-derives from a whole-frame window over
    * those 9 rows (the mix2 convention) — nothing corpus-scale
    * shuffles. Non-positive amounts are excluded (Benford is a
    * positive-magnitude law); share/deviation are NULL, not a ÷0
    * abort, on an empty column. */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val cents = round(col(valueCol) * lit(100.0)).cast("long")
    val counts = df.select(cents.as("cents"))
      .where(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1).cast("long")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val expected = df.sparkSession.range(1)
      .select(explode(array(BenfordExpected.map { case (d, e) =>
        struct(lit(d).as("digit"), lit(e).as("expected"))
      }: _*)).as("r"))
      .select(col("r.digit").as("digit"), col("r.expected").as("expected"))
    import org.apache.spark.sql.expressions.Window
    val total = sum(col("n")).over(Window.partitionBy())
    val share = when(col("total") === 0L, lit(null).cast("double"))
      .otherwise(col("n").cast("double") / col("total").cast("double"))
    expected.join(counts, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        col("expected"))
      .withColumn("total", total)
      .select(col("digit"), col("n"), share.as("share"), col("expected"),
        (share - col("expected")).as("dev"))
  }

  /** V6 oracle: identical integer-cents digit extraction and the same
    * injected expectation literals. */
  def benfordAuditSql(table: String, valueCol: String): String = {
    val vals = BenfordExpected.map { case (d, e) =>
      s"(${d}::BIGINT, ${new java.math.BigDecimal(e).toPlainString}::DOUBLE)"
    }.mkString(", ")
    s"""
    WITH c AS (
      SELECT CAST(round($valueCol * 100.0::DOUBLE) AS BIGINT) AS cents
      FROM $table),
    d AS (
      SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        count(*)::BIGINT AS n
      FROM c WHERE cents > 0 GROUP BY 1),
    e AS (SELECT * FROM (VALUES $vals) AS t(digit, expected)),
    w AS (
      SELECT e.digit, coalesce(d.n, 0)::BIGINT AS n, e.expected,
        sum(coalesce(d.n, 0)) OVER () AS total
      FROM e LEFT JOIN d USING (digit))
    SELECT digit, n,
      CASE WHEN total = 0 THEN NULL
        ELSE n::DOUBLE / total::DOUBLE END AS share,
      expected,
      CASE WHEN total = 0 THEN NULL
        ELSE n::DOUBLE / total::DOUBLE - expected END AS dev
    FROM w"""
  }

  /** E146 (V7): revenue CONCENTRATION audit — per-category Gini
    * coefficient + top-20% revenue share over per-product revenue: the
    * Lorenz/Pareto screen next to v6's Benford (is this category a
    * long-tail market or a winner-take-all one? did concentration jump
    * batch-over-batch?). Products are ranked ascending by revenue and
    * the Gini comes from the closed rank form
    * G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ) — every sum an EXACT LONG
    * over integer cents (the x11 discipline), so the two boundary
    * divisions (gini, top-share) are correctly-rounded long/long
    * divisions, identical on both engines. Ties in revenue contribute
    * identically under any rank order (equal xᵢ commute in Σ i·xᵢ), so
    * the id tie-break is parity hygiene, not a semantic choice.
    *
    * Shape: one items⋈products join pre-aggregated to product grain
    * (map-side combine), then ONE window pass per category partition
    * (rank + partition count share a sort) into a per-category
    * aggregate — the fact table never sorts globally. Top-20% cutoff
    * k = ⌈n/5⌉ via the exact floor-division idiom (g1's idiv). Long
    * bounds: Σ i·xᵢ < n²·x̄ ≈ 4e15 at sf0.1 — inside long; a 100-TB
    * catalog upgrades the two product sums to DECIMAL(38,0) (the v5
    * boundary discipline). Products with no sales are out of frame by
    * definition (revenue concentration is over the SOLD catalog).
    * Zero-revenue categories yield NULL gini/share, never a ÷0 abort
    * (the Kpi.ratio ANSI discipline). */
  def revenueGini(items: DataFrame, products: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val moneyT = DecimalType(18, 2)
    val rev = items.select(col("product_id"), col("sale_price"))
      .join(products.select(col("id"), col("category")),
        col("product_id") === col("id"))
      .groupBy(col("category"), col("product_id"))
      .agg(sum(col("sale_price").cast(moneyT)).as("rev_dec"))
      .select(col("category"), col("product_id"),
        (col("rev_dec") * lit(100)).cast("long").as("cents"))
    val wOrd = Window.partitionBy(col("category"))
      .orderBy(col("cents"), col("product_id"))
    val wAll = Window.partitionBy(col("category"))
    // k = ceil(n/5) as an exact integer: (n+4 − (n+4) mod 5) / 5
    val n4 = col("n") + lit(4L)
    val k = ((n4 - pmod(n4, lit(5L))) / lit(5L)).cast("long")
    val agg = rev
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .groupBy(col("category")).agg(
        count(lit(1)).as("n_products"),
        sum(col("cents")).as("sx"),
        sum(col("i") * col("cents")).as("six"),
        sum(when(col("i") > col("n") - k, col("cents"))
          .otherwise(lit(0L))).as("topx"))
    val nullD = lit(null).cast("double")
    agg.select(col("category"), col("n_products"),
      (col("sx").cast("double") / lit(100.0)).as("total_revenue"),
      when(col("sx") === 0L, nullD).otherwise(
        (lit(2L) * col("six") - (col("n_products") + lit(1L)) * col("sx"))
          .cast("double") /
          (col("n_products") * col("sx")).cast("double")).as("gini"),
      when(col("sx") === 0L, nullD).otherwise(
        col("topx").cast("double") / col("sx").cast("double"))
        .as("top20_share"))
  }

  /** V7 oracle: the same rank form, exact-long sums, floor-division
    * cutoff, and guarded boundary divisions over the RefShape CTEs. */
  def revenueGiniSql: String =
    """
    rev AS (SELECT p.category AS category, oi.product_id AS product_id,
      CAST(sum(CAST(oi.sale_price AS DECIMAL(18,2))) * 100 AS BIGINT)
        AS cents
      FROM oi JOIN p ON oi.product_id = p.id GROUP BY 1, 2),
    rk AS (SELECT category, cents,
      row_number() OVER
        (PARTITION BY category ORDER BY cents, product_id) AS i,
      count(*) OVER (PARTITION BY category) AS n
      FROM rev),
    a AS (SELECT category, count(*)::BIGINT AS n_products,
      sum(cents)::BIGINT AS sx,
      sum(i::BIGINT * cents)::BIGINT AS six,
      sum(CASE WHEN i > n - CAST((n + 4 - (n + 4) % 5) / 5 AS BIGINT)
        THEN cents ELSE 0 END)::BIGINT AS topx
      FROM rk GROUP BY 1)
    SELECT category, n_products,
      CAST(sx AS DOUBLE) / 100.0::DOUBLE AS total_revenue,
      CASE WHEN sx = 0 THEN NULL
        ELSE CAST(2 * six - (n_products + 1) * sx AS DOUBLE)
          / CAST(n_products * sx AS DOUBLE) END AS gini,
      CASE WHEN sx = 0 THEN NULL
        ELSE CAST(topx AS DOUBLE) / CAST(sx AS DOUBLE) END AS top20_share
    FROM a"""

  /** Fixed-point grid for v5's exact second moments: q = floor(x·4096).
    * The multiply is EXACT (float widened to double times a power of
    * two loses nothing) and floor is engine-independent, so the codes —
    * unlike raw float sums — aggregate to bit-identical totals in any
    * fold order on any engine. 12 bits on the unit-ish interval keeps
    * q·q ≤ ~5.6e6 per row; group sums are DECIMAL(38,0) (Spark) /
    * HUGEINT (DuckDB), overflow-free at any corpus size. */
  val CovGrid = 4096L

  /** E135 (V5): embedding SECOND-MOMENT audit — the d×d mean/covariance
    * matrix that PCA/whitening/ZCA of an embedding store starts from
    * (the eigensolve itself is a driver-side O(d³) on the d×d output —
    * never a cluster concern; THIS pass is the 100-TB part). Covariance
    * is computed over fixed-point codes on the [[CovGrid]] grid (v3's
    * exact-integer discipline extended to second moments: raw float
    * sums fold nondeterministically, integer sums don't), then scaled
    * back to raw units at the double boundary; grid quantization noise
    * is uniform(±2⁻¹³) per component — orders below any real corpus's
    * eigengaps.
    *
    * Shape: one narrow pass — quantize, double posexplode to the upper
    * triangle (row amplification ×d(d+1)/2 is consumed IN-STAGE by the
    * map-side-combining (dim_i, dim_j) aggregate; shuffle volume is
    * 2080 rows per map partition, never the corpus), one tiny final
    * aggregate. The documented swap at much larger d is a typed
    * Aggregator carrying the packed triangle as its buffer (the
    * TopKAggregator pattern); at d = 64 the declarative form wins —
    * whole-stage codegen, no custom state. */
  def embeddingCovariance(embs: DataFrame): DataFrame = {
    val q = embs.select(transform(col("embedding"),
      x => floor(x.cast(DoubleType) * lit(CovGrid.toDouble)).cast("long"))
      .as("q"))
    val tri = q
      .select(col("q"), posexplode(col("q")).as(Seq("i0", "qi")))
      .select((col("i0") + 1).cast("long").as("dim_i"), col("qi"),
        posexplode(col("q")).as(Seq("j0", "qj")))
      .select(col("dim_i"), col("qi"),
        (col("j0") + 1).cast("long").as("dim_j"), col("qj"))
      .where(col("dim_j") >= col("dim_i"))
    val g2 = lit(CovGrid.toDouble * CovGrid.toDouble)
    tri.groupBy(col("dim_i"), col("dim_j"))
      .agg(count(lit(1)).as("n"),
        sum(col("qi").cast("decimal(38,0)")).as("s_i"),
        sum(col("qj").cast("decimal(38,0)")).as("s_j"),
        sum((col("qi") * col("qj")).cast("decimal(38,0)")).as("s_ij"))
      .select(col("dim_i"), col("dim_j"), col("n"),
        (col("s_i").cast(DoubleType) / col("n").cast(DoubleType) /
          lit(CovGrid.toDouble)).as("mean_i"),
        (col("s_j").cast(DoubleType) / col("n").cast(DoubleType) /
          lit(CovGrid.toDouble)).as("mean_j"),
        ((col("s_ij").cast(DoubleType) / col("n").cast(DoubleType) -
          (col("s_i").cast(DoubleType) / col("n").cast(DoubleType)) *
          (col("s_j").cast(DoubleType) / col("n").cast(DoubleType))) / g2)
          .as("cov"))
  }

  /** V5 oracle: the same grid codes via list_transform, the same upper
    * triangle via two range-unnests, HUGEINT sums, and the identical
    * left-associative double expression at the boundary. */
  def embeddingCovarianceSql(src: String): String = s"""
    WITH q AS (
      SELECT list_transform(embedding,
        x -> floor(x::DOUBLE * ${CovGrid}.0)::BIGINT) AS q
      FROM ($src)),
    a AS (SELECT q, unnest(range(1, len(q) + 1)) AS dim_i FROM q),
    b AS (SELECT q, dim_i, unnest(range(1, len(q) + 1)) AS dim_j FROM a),
    f AS (
      SELECT dim_i::BIGINT AS dim_i, dim_j::BIGINT AS dim_j,
        q[dim_i::INT] AS qi, q[dim_j::INT] AS qj
      FROM b WHERE dim_j >= dim_i)
    SELECT dim_i, dim_j, count(*)::BIGINT AS n,
      sum(qi)::DOUBLE / count(*)::DOUBLE / ${CovGrid}.0 AS mean_i,
      sum(qj)::DOUBLE / count(*)::DOUBLE / ${CovGrid}.0 AS mean_j,
      (sum(qi * qj)::DOUBLE / count(*)::DOUBLE
        - (sum(qi)::DOUBLE / count(*)::DOUBLE)
          * (sum(qj)::DOUBLE / count(*)::DOUBLE))
        / (${CovGrid}.0 * ${CovGrid}.0) AS cov
    FROM f GROUP BY 1, 2"""

  def vecDriftAuditSql(refSql: String, batchSql: String,
      tol: Double = 40.0): String = {
    def profile(src: String) = s"""
      SELECT label, dim::BIGINT AS dim, count(*)::BIGINT AS n,
        sum(codes[dim::INT]) AS s
      FROM (
        SELECT label, unnest(range(1, len(codes) + 1)) AS dim, codes
        FROM (
          SELECT label,
            CASE WHEN ma = 0
              THEN list_transform(embedding, x -> 0.0::DOUBLE)
              ELSE list_transform(embedding,
                x -> floor(x::DOUBLE / ma * 127.0)) END AS codes
          FROM (
            SELECT label, embedding,
              list_reduce(list_prepend(0.0::DOUBLE,
                list_transform(embedding, x -> abs(x::DOUBLE))),
                (acc, x) -> greatest(acc, x)) AS ma
            FROM ($src))))
      GROUP BY 1, 2"""
    s"""
    WITH refp AS (${profile(refSql)}),
    batchp AS (${profile(batchSql)})
    SELECT coalesce(r.label, b.label) AS label,
      coalesce(r.dim, b.dim) AS dim,
      coalesce(r.n, 0) AS ref_n, coalesce(b.n, 0) AS batch_n,
      r.s / r.n::DOUBLE AS ref_mean_code,
      b.s / b.n::DOUBLE AS batch_mean_code,
      CASE WHEN r.n IS NULL THEN 'new'
           WHEN b.n IS NULL THEN 'missing'
           WHEN abs(b.s / b.n::DOUBLE - r.s / r.n::DOUBLE) > $tol
           THEN 'drifted' ELSE 'ok' END AS status
    FROM refp r FULL OUTER JOIN batchp b
      ON b.label = r.label AND b.dim = r.dim"""
  }

  /** X6 (E79): per-group ROBUST outlier detection — median/MAD, the
    * standard data-audit screen that mean/stddev can't do (one genuine
    * outlier inflates the stddev and hides itself; the breakdown point of
    * the median/MAD pair is 50 %). A row is an outlier when
    * |x − median| > k · MAD, MAD = median(|x − median|).
    *
    * Exact formulation (the oracle-verifiable baseline): three passes over
    * the fact — (1) per-group median, (2) deviations joined against the
    * BROADCAST medians (group cardinality is tiny) → per-group MAD,
    * (3) threshold count joined against the broadcast (median, MAD) stats.
    * Every join is a broadcast, so the fact table never shuffles; the only
    * wide exchanges are the three tiny group-grain aggregates — but exact
    * `percentile` buffers each group's values, so at 100 TB the swap is
    * `approx_percentile` (KLL sketch, mergeable, bounded memory) for both
    * quantiles, collapsing to one narrow pass per stage exactly like the
    * documented x5→x5x and n1→n2 scale paths. Doubles stay bitwise
    * cross-engine: both engines interpolate quantile_cont-style and the
    * threshold arithmetic (abs/·/>) is identical IEEE in the same order. */
  def robustOutliers(df: DataFrame, group: String, value: String,
      k: Double = 5.0): DataFrame = {
    val med = df.groupBy(col(group))
      .agg(expr(s"percentile($value, 0.5D)").as("med"))
    val mad = df.join(broadcast(med), Seq(group))
      .select(col(group), col("med"),
        abs(col(value) - col("med")).as("dev"))
      .groupBy(col(group))
      .agg(min(col("med")).as("med"),
        expr("percentile(dev, 0.5D)").as("mad"))
    df.join(broadcast(mad), Seq(group))
      .groupBy(col(group))
      .agg(min(col("med")).as("med"), min(col("mad")).as("mad"),
        count(lit(1)).as("n_rows"),
        sum(when(abs(col(value) - col("med")) > lit(k) * col("mad"),
          lit(1L)).otherwise(lit(0L))).as("n_outliers"))
      .withColumn("outlier_rate",
        col("n_outliers").cast("double") / col("n_rows").cast("double"))
  }

  def robustOutliersSql(table: String, group: String, value: String,
      k: Double = 5.0): String = s"""
    WITH m AS (
      SELECT $group AS g, quantile_cont($value, 0.5) AS med
      FROM $table GROUP BY 1),
    s AS (
      SELECT t.$group AS g, min(m.med) AS med,
        quantile_cont(abs(t.$value - m.med), 0.5) AS mad
      FROM $table t JOIN m ON t.$group = m.g
      GROUP BY 1)
    SELECT t.$group, s.med, s.mad,
      count(*)::BIGINT AS n_rows,
      sum(CASE WHEN abs(t.$value - s.med) > $k * s.mad
        THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
      sum(CASE WHEN abs(t.$value - s.med) > $k * s.mad
        THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE AS outlier_rate
    FROM $table t JOIN s ON t.$group = s.g
    GROUP BY 1, 2, 3"""

  /** V4 (E87): equi-depth histogram — the distribution profile a
    * profiler/CBO keeps per column (equi-depth, not equi-width: every
    * bucket holds ≈ n/B rows, so skewed value ranges get resolution where
    * the data actually is). Two passes: exact interior percentile edges
    * plus min/max in one tiny agg (broadcast), then one conditional
    * bucket-assignment pass (`1 + #edges < x`, ties land LOW so an edge
    * value belongs to the bucket it closes — identical lambda both
    * engines). 100-TB swap is approx_percentile edges, the x5→x5x path;
    * bucket counting is already one narrow scan either way.
    *
    * EAGER: building the returned frame runs the edge aggregation as one
    * job at CALL time (edges are collected and inlined as literals — the
    * r8 plan pin that removed a leaked persist and both broadcast
    * cross-joins), so upstream errors surface at construction, not at
    * first action. Same holds for [[equiDepthHistogramApprox]]. */
  def equiDepthHistogram(df: DataFrame, value: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"equi-depth histogram needs >= 2 buckets, got $buckets")
    val qs = (1 until buckets).map(i => i.toDouble / buckets)
    exactPercentilesAndBounds(df, value, qs) match {
      case None => allNullHistogram(df)
      case Some((es, mn, mx)) =>
        histogramFromEdgeValues(df, value, buckets, es, mn, mx)
    }
  }

  /** Exact multiset percentiles + min/max, computed PARALLEL: a
    * value-grain count aggregation (map-side combined, any number of
    * tasks) + ONE running-sum window over the DISTINCT-value relation +
    * a ≤`2·|ps|+2`-row rank lookup, with Spark's `Percentile`
    * interpolation replayed on the driver. The built-in `percentile()`
    * is an ObjectHashAggregate whose final merge SERIALIZES the whole
    * multiset through one reducer task (measured on v4: a 2 s
    * single-task stage merging 600 k boxed map entries — 2/3 of the
    * query); here the per-value counting parallelizes and the
    * (value, count) relation — bounded by NDV, not row count — gets its
    * global prefix sum from a distributed range-partitioned pass.
    *
    * Value-identical to `percentile(value, array(ps))` by construction:
    * rank semantics (`valueAt(k)` = first value whose cumulative count
    * exceeds k), `position = (n−1)·p`, floor/ceil bracketing, the
    * equal-key shortcut, and the `(hi−pos)·lo + (pos−lo)·hi`
    * interpolation replicate PercentileBase.getPercentile operation for
    * operation (verified against the built-in in ValidationSpec).
    * Caveat (documented, unexercised here): Percentile's driver-side
    * map distinguishes -0.0 from 0.0 where Catalyst grouping normalizes
    * them — identical for any column free of negative zero, which every
    * caller's (price/quantity) column is.
    *
    * Returns None when the column has no non-null rows. */
  private[graft] def exactPercentilesAndBounds(df: DataFrame,
      value: String, ps: Seq[Double]): Option[(Seq[Double], Double, Double)] = {
    val Wx = org.apache.spark.sql.expressions.Window
    // The global prefix sum is DISTRIBUTED (no single-task window over
    // the NDV-grain relation — that would serialize on NDV exactly the
    // way percentile() serializes on row count): range-repartition the
    // (value, count) relation by value (equal keys never split, ids
    // ascending in value order), compute per-range offsets from the
    // 32-row per-partition totals, and run the within-range running sum
    // as a PARALLEL window partitioned by range id. Persisted because
    // four consumers read it (total count, offsets, join-back, rank
    // filter) and because the range boundaries come from a sampling
    // pass — the cache pins ONE materialization so every consumer sees
    // the same partitioning; released below — no handle leaks (the r8
    // lesson).
    val sorted = df.select(col(value).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
      .repartitionByRange(col("v"))
      .withColumn("pid", spark_partition_id())
      .persist()
    try {
      val n = sorted.agg(coalesce(sum(col("c")), lit(0L))).head().getLong(0)
      if (n == 0) return None
      val positions = ps.map(p => (n - 1).toDouble * p)
      val ranks: Seq[Long] = (positions.flatMap(pos =>
        Seq(math.floor(pos).toLong, math.ceil(pos).toLong)) ++
        Seq(0L, n - 1)).distinct.sorted
      val rl = typedlit(ranks)
      // exclusive per-range offsets off a #partitions-row relation (the
      // only single-task window — bounded by the partition count)
      val offs = sorted.groupBy(col("pid")).agg(sum(col("c")).as("pc"))
        .withColumn("off", coalesce(sum(col("pc")).over(
          Wx.orderBy(col("pid"))
            .rowsBetween(Wx.unboundedPreceding, -1)), lit(0L)))
        .select(col("pid"), col("off"))
      // each (v, c, cum) row covers 0-based ranks [cum−c, cum−1]
      val hits = sorted
        .join(broadcast(offs), Seq("pid"))
        .withColumn("cum", col("off") + sum(col("c")).over(
          Wx.partitionBy(col("pid")).orderBy(col("v"))
            .rowsBetween(Wx.unboundedPreceding, Wx.currentRow)))
        .filter(exists(rl,
          r => r >= col("cum") - col("c") && r < col("cum")))
        .select(col("v"), col("c"), col("cum")).collect()
      def valueAt(k: Long): Double = hits.find(r =>
        k >= r.getLong(2) - r.getLong(1) && k < r.getLong(2)).get.getDouble(0)
      val es = positions.map { pos =>
        val lo = math.floor(pos).toLong
        val hi = math.ceil(pos).toLong
        val lv = valueAt(lo)
        if (hi == lo) lv
        else {
          val hv = valueAt(hi)
          if (hv == lv) lv
          else (hi.toDouble - pos) * lv + (pos - lo.toDouble) * hv
        }
      }
      Some((es, valueAt(0L), valueAt(n - 1)))
    } finally { sorted.unpersist(); () }
  }

  /** Shared bucket-assignment tail of the exact and approx equi-depth
    * histograms: the `edges` frame is ONE bounded row (#edges doubles +
    * min/max), so it is collected and inlined as LITERALS — the ANN
    * centroid-collect convention. This removes the previous persist
    * (which leaked a cached frame per call: the handle was local, so no
    * caller could ever unpersist it) and both broadcast cross-joins; the
    * bucket lambda folds over a literal array inside codegen. The bucket
    * convention (ties land low, bucket 1 opens at min, bucket N closes
    * at max) lives in exactly this one place. */
  private def histogramFromEdges(df: DataFrame, value: String,
      buckets: Int, edges: DataFrame): DataFrame = {
    val r = edges.head()
    if (r.isNullAt(1)) allNullHistogram(df)
    else histogramFromEdgeValues(df, value, buckets,
      r.getSeq[Double](0), r.getDouble(1), r.getDouble(2))
  }

  /** The all-null / empty-table branch: min is NULL ⇔ the value column
    * has no non-null rows. Mirror the oracle (and the pre-inline
    * crossJoin plan) instead of NPE-ing on getDouble: with NULL edges
    * every row's bucket expression is NULL (`size(filter(NULL, _)) +
    * 1`), so a non-empty all-null table emits ONE (NULL, NULL, NULL, n)
    * row and a truly empty table emits nothing — both engines agree. */
  private def allNullHistogram(df: DataFrame): DataFrame =
    df.select(lit(null).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_rows"))
      .select(col("bucket"), lit(null).cast("double").as("lo"),
        lit(null).cast("double").as("hi"), col("n_rows"))

  private def histogramFromEdgeValues(df: DataFrame, value: String,
      buckets: Int, esVals: Seq[Double], mn: Double, mx: Double): DataFrame = {
    val esLit = typedlit(esVals)
    df.select((size(filter(esLit,
        e => e < col(value).cast("double"))) + 1).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_rows"))
      .select(col("bucket"),
        when(col("bucket") === 1, lit(mn))
          .otherwise(element_at(esLit, (col("bucket") - 1).cast("int")))
          .as("lo"),
        when(col("bucket") === buckets, lit(mx))
          .otherwise(element_at(esLit, col("bucket").cast("int")))
          .as("hi"),
        col("n_rows"))
  }

  /** V4's 100-TB swap, executable (the x5→x5x path): equi-depth
    * histogram with `approx_percentile` edges — one mergeable sketch
    * pass (no full-sort percentile), bucket counting unchanged (already
    * a single narrow scan). At accuracy 1000 the edges carry ≤ 1e-3
    * rank error, so bucket depths match the exact histogram's to within
    * ±2e-3·n rows per bucket — comfortably inside the ±0.02-rank gate.
    * This is the PRODUCTION histogram body the bench times; the driver
    * query `v4x` wraps it in an exact-percentile window gate
    * (Verify-only cost, the v1x convention). EAGER like
    * [[equiDepthHistogram]]: the sketch pass runs at call time. */
  def equiDepthHistogramApprox(df: DataFrame, value: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"equi-depth histogram needs >= 2 buckets, got $buckets")
    val qs = (1 until buckets).map(i => i.toDouble / buckets)
    val edges = df.agg(
      expr(s"approx_percentile($value, array(${qs.mkString("D, ")}D), 1000)")
        .cast("array<double>").as("es"),
      min(col(value)).cast("double").as("mn"),
      max(col(value)).cast("double").as("mx"))
    histogramFromEdges(df, value, buckets, edges)
  }

  /** The hash gate for [[equiDepthHistogramApprox]] (a2x/x5x/v1x
    * convention): every approx edge must land between the exact
    * percentiles ±0.02 rank around its target — a generous but honest
    * bound both engines agree on without sharing sketch internals. The
    * exact-percentile window is GATE cost only; the bench times the
    * production body instead. */
  def equiDepthHistogramApproxGate(df: DataFrame, value: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"equi-depth histogram needs >= 2 buckets, got $buckets")
    val qs = (1 until buckets).map(i => i.toDouble / buckets)
    // clamp the ±0.02 rank windows into [0, 1]: at buckets > 50 the
    // outermost targets sit closer than 0.02 to the ends and an
    // unclamped fraction would be rejected by percentile() outright
    // (a clamped window just degenerates to "≥ min" / "≤ max" — still
    // an honest bound)
    val lo = qs.map(q => math.max(0.0, q - 0.02))
    val hi = qs.map(q => math.min(1.0, q + 0.02))
    df.agg(
        expr(s"approx_percentile($value, array(${qs.mkString("D, ")}D), 1000)")
          .cast("array<double>").as("a"),
        expr(s"percentile($value, array(${lo.mkString("D, ")}D))")
          .as("lo"),
        expr(s"percentile($value, array(${hi.mkString("D, ")}D))")
          .as("hi"))
      .select(lit(buckets - 1).cast("long").as("n_edges"),
        aggregate(
          zip_with(col("a"), zip_with(col("lo"), col("hi"),
            (l, h) => struct(l.as("l"), h.as("h"))),
            (x, b) => when(x.between(b.getField("l"), b.getField("h")), 1L)
              .otherwise(0L)),
          lit(0L), (acc, x) => acc + x).as("n_within"))
  }

  def equiDepthHistogramSql(table: String, value: String,
      buckets: Int = 10): String = {
    val qs = (1 until buckets).map(i => i.toDouble / buckets)
    s"""
    WITH e AS (
      SELECT quantile_cont($value, [${qs.mkString(", ")}]) AS es,
        min($value)::DOUBLE AS mn, max($value)::DOUBLE AS mx
      FROM $table),
    c AS (
      SELECT (len(list_filter(e.es, x -> x < t.$value)) + 1)::BIGINT
          AS bucket,
        count(*)::BIGINT AS n_rows
      FROM $table t, e GROUP BY 1)
    SELECT c.bucket,
      CASE WHEN c.bucket = 1 THEN e.mn ELSE e.es[c.bucket::INT - 1] END
        AS lo,
      CASE WHEN c.bucket = $buckets THEN e.mx ELSE e.es[c.bucket::INT] END
        AS hi,
      c.n_rows
    FROM c, e"""
  }

  def driftAuditSql(refSql: String, batchSql: String,
      tol: Double = 1.0 / 3): String = s"""
    WITH refp AS (
      SELECT source, count(*)::BIGINT AS ref_docs,
        sum(n_chars)::BIGINT AS ref_chars
      FROM ($refSql) GROUP BY 1),
    batchp AS (
      SELECT source, count(*)::BIGINT AS batch_docs,
        sum(n_chars)::BIGINT AS batch_chars
      FROM ($batchSql) GROUP BY 1)
    SELECT coalesce(r.source, b.source) AS source,
      coalesce(r.ref_docs, 0) AS ref_docs,
      coalesce(b.batch_docs, 0) AS batch_docs,
      r.ref_chars::DOUBLE / r.ref_docs::DOUBLE AS ref_mean_chars,
      b.batch_chars::DOUBLE / b.batch_docs::DOUBLE AS batch_mean_chars,
      CASE WHEN r.ref_docs IS NULL THEN 'new'
           WHEN b.batch_docs IS NULL THEN 'missing'
           WHEN r.ref_chars = 0
           THEN (CASE WHEN b.batch_chars <> 0 THEN 'drifted' ELSE 'ok' END)
           WHEN abs(b.batch_chars::DOUBLE / b.batch_docs::DOUBLE
                 / (r.ref_chars::DOUBLE / r.ref_docs::DOUBLE) - 1.0) > $tol
           THEN 'drifted' ELSE 'ok' END AS status
    FROM refp r FULL OUTER JOIN batchp b ON b.source = r.source"""
}
