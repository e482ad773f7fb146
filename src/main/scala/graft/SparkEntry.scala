package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.dedup.Dedup
import graft.io.{RefShape, Sources}
import graft.kpi.Kpi
import graft.merge.{KpiMerge, Scd2}
import graft.multimodal.Multimodal
import graft.pipeline.ChangeFeed
import graft.sim.Similarity
import graft.text.{DomainCuration, TextAnalysis}
import graft.validate.Validation

/** Driver contract — one named query per implemented operator from
  * SURVEY.md §2, each with matching DuckDB oracle SQL. Query names carry the
  * SURVEY §2 operator ids (a1 = §2.4 A1, j3 = §2.3 J3, …) so the inventory
  * check maps line-by-line.
  */
object SparkEntry {

  private val money = DecimalType(18, 2)

  /** Flagship: category KPI (J1 three-way join + A1/A5 aggregates). */
  def entry(spark: SparkSession): DataFrame =
    queries("a1_category_kpi")(spark, "/root/testdata/sf0.001")

  // -- reference-shaped inputs (FIXTURES.md §4 mapping) ---------------------
  private def o(s: SparkSession, d: String) = RefShape.orders(s, d)

  /** cdf1/cdc1's shared snapshot pair (ONE definition — the feed and its
    * apply must diff the same relations): %5==4 withheld from the old
    * side (inserts), %7==2 from the new side (deletes), %3==0 price-
    * bumped (update pairs). */
  private def cdfSnapshots(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val ords = o(s, d).select(col("order_id"), col("status"),
      col("total_price"))
    val oldS = ords.filter(pmod(col("order_id"), lit(5)) =!= 4)
    val newS = ords.filter(pmod(col("order_id"), lit(7)) =!= 2)
      .withColumn("total_price",
        when(pmod(col("order_id"), lit(3)) === 0, col("total_price") + 1.0)
          .otherwise(col("total_price")))
    (oldS, newS)
  }
  private def oi(s: SparkSession, d: String) = RefShape.orderItems(s, d)
  private def p(s: SparkSession, d: String) = RefShape.products(s, d)

  /** Shared by x9/x10: brand×calendar-day spine (generated off a broadcast
    * 1-row bounds agg — sized by the CALENDAR, not the data), daily revenue
    * left-joined on, forward-filled in DECIMAL (`ffill_dec`). */
  private def gapFilledDaily(s: SparkSession, d: String): DataFrame = {
    // daily is consumed TWICE (the fused bounds+brands agg, the spine
    // join) — without a persist Spark re-runs the fact join+agg per
    // consumer. It is brand×day grain (calendar-bounded, tiny at any SF),
    // so caching is the right trade at 100 TB too. Lifetime contract as
    // in m1: Verify/Bench clearCache() after every query.
    // the day key is evaluated on the ORDERS side BEFORE the join:
    // grouping by to_date(substring(created_at)) directly would run the
    // string→date conversion once per JOINED row (items grain, ~4× the
    // orders), and Catalyst does not push grouping expressions below a
    // join on its own. Same expression, same values, order grain.
    val o2 = o(s, d).withColumn("d",
      to_date(substring(col("created_at"), 1, 10)))
    // items side spread (the m1Projection lesson, r16-measured here too):
    // the fact join + decimal aggregation otherwise runs on the items
    // table's 3 input splits — the dominant stage of all 7 series
    // queries (x17 profile: a 623-904 ms 3-task stage while 29 cores
    // idled). Cache-layout levers were MEASURED AND REJECTED here (r16):
    // a brand-only post-agg repartition is defeated by
    // spark.sql.requireAllClusterKeysForCoPartition (joins reject
    // partial-key co-partitioning — both sides re-exchanged on
    // (brand, d) anyway), and an exact (brand, d) repartition collapses
    // into the aggregation's own exchange inside the cached plan while
    // the spine join STILL re-exchanges the cache read (the
    // dedup-aliased second cache reference does not surface the cached
    // partitioning) — plan-verified no-ops, family wall unchanged.
    val daily = Kpi.threeWayJoin(o2,
        graft.functions.TextFunctions.spreadSmallScan(oi(s, d), "order_id"),
        p(s, d))
      .groupBy(col("p.brand").as("brand"), col("o.d"))
      .agg(sum(col("oi.sale_price").cast(money)).as("rev_dec"))
      .persist()
    // bounds AND the brand list in ONE aggregation over the cached daily
    // (previously three scaffold consumers — bounds agg, brand-distinct,
    // spine cross join — three scheduled stage chains per x-query). The
    // brand set is the low-cardinality dimension, so the single-row
    // collect_set is calendar/catalog-bounded at any SF; exploding it
    // back out replaces the crossJoin(broadcast(bounds)) scaffold with
    // the same (brand × full calendar range) row set.
    val bb = daily.agg(min(col("d")).as("mn"), max(col("d")).as("mx"),
      collect_set(col("brand")).as("brands"))
    val spine = bb
      .select(explode(col("brands")).as("brand"), col("mn"), col("mx"))
      .select(col("brand"), explode(sequence(col("mn"), col("mx"))).as("d"))
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col("brand")).orderBy(col("d"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    spine.join(daily, Seq("brand", "d"), "left")
      .withColumn("ffill_dec",
        last(col("rev_dec"), ignoreNulls = true).over(w))
  }

  /** Category KPI at (category, order_date) grain with a provenance tag —
    * input to the m1 merge query. `half` selects even/odd item ids so the
    * two merge sides overlap on keys but disagree on rows.
    *
    * `jall` is the SINGLE shared 3-way join both merge sides derive from —
    * the caller persists it so the join executes once (the reference runs
    * it twice, `transformation.py:193,205`; our oracle's `jall` CTE is the
    * same factoring). */
  /** m1's persisted input: the narrow projection of the 3-way join both
    * merge sides filter over. Split out so the bench can time the
    * materialization and the merge as separate phases ([[benchPhases]])
    * while the query itself stays one composition. */
  private def m1Projection(s: SparkSession, d: String): DataFrame =
    // date key on the orders side pre-join (the gapFilledDaily
    // convention: the select would otherwise run substring per JOINED
    // row, items grain); the items side is spread (TextFunctions
    // .spreadSmallScan) because the jall cache build — join + decimal
    // cast + projection — otherwise runs on the fact's 3 input splits
    // (measured: a 2.2 s 3-task build while the second merge half
    // waited on the cache partition locks)
    Kpi.threeWayJoin(o(s, d).withColumn("order_date",
        substring(col("created_at"), 1, 10)),
      graft.functions.TextFunctions.spreadSmallScan(oi(s, d), "order_id"),
      p(s, d))
      .select(col("p.category").as("category"),
        col("o.order_date"),
        col("oi.id").as("id"),
        col("oi.sale_price").cast(money).as("sale_price"),
        col("oi.status").as("status"))

  private def m1Merged(jall: DataFrame): DataFrame = {
    val target = categoryKpiHalf(jall, 0, full = true, "order_items")
    val updates = categoryKpiHalf(jall, 1, full = false, "orders")
    KpiMerge.mergeCategoryKpi(target, updates)
      .withColumn("data_sources", array_join(col("data_sources"), ","))
  }

  private def categoryKpiHalf(jall: DataFrame, half: Int,
      full: Boolean, source: String): DataFrame = {
    val base = jall.filter(col("id") % 2 === half)
      .groupBy(col("category"), col("order_date"))
    // Exact decimal sum internally; double at the output boundary — pyarrow
    // hands Decimal objects to the driver's compare while the DuckDB oracle
    // hands float64, and their string forms differ on trailing zeros.
    val rev = sum(col("sale_price")).cast("double").as("daily_revenue")
    val kpis =
      if (full) base.agg(rev,
        // zero-denominator guard (Kpi.ratio); NULLIF in the oracle twins
        Kpi.ratio(sum(col("sale_price")).cast("double"),
          count(col("sale_price"))).as("avg_order_value"),
        Kpi.ratio(count(when(col("status") === "returned", true))
          .cast("double"), count(col("id"))).as("avg_return_rate"))
      else base.agg(rev,
        lit(null).cast("double").as("avg_order_value"),
        lit(null).cast("double").as("avg_return_rate"))
    kpis.withColumn("data_sources", array(lit(source)))
  }

  // lazy vals, not defs: ScaleSweep/Verify/Bench look entries up
  // repeatedly (including inside timed regions) — the ~100-entry map
  // and the large oracle SQL strings must not rebuild per access
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.4 A1/A5 + §2.3 J1: per-category KPIs over the 3-way join
    // (reference scripts/transformation.py:180-191).
    "a1_category_kpi" -> ((s, d) =>
      Kpi.categoryKpi(Kpi.threeWayJoin(o(s, d), oi(s, d), p(s, d)))),

    // §2.4 A2: global order KPIs, complete mode (transformation.py:197-203).
    "a2_order_kpi_complete" -> ((s, d) =>
      Kpi.orderKpiComplete(Kpi.threeWayJoin(o(s, d), oi(s, d), p(s, d)))),

    // A2's documented 100-TB swap (exact countDistinct → HLL++), made
    // EXECUTABLE under the hash gate: per-day exact vs approx distinct
    // users, reduced to (groups, groups-within-bound). The oracle cannot
    // know Spark's HLL++ estimates, but it doesn't need to — the contract
    // is that EVERY group estimate sits within 4σ of exact (rsd 0.05 ⇒
    // 20 %, floor 5 for tiny groups), so both engines emit
    // n_within == n_groups; an out-of-bound estimate turns the row red.
    "a2x_approx_distinct" -> ((s, d) =>
      o(s, d)
        .groupBy(substring(col("created_at"), 1, 10).as("order_date"))
        .agg(countDistinct(col("user_id")).as("exact"),
          approx_count_distinct(col("user_id")).as("approx"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(abs(col("approx") - col("exact")) <=
            greatest(col("exact") * lit(0.2), lit(5.0)), 1L).otherwise(0L))
            .as("n_within"))),

    // §2.4 A3: order_items_only mode over the items⋈products inner join
    // (transformation.py:211-233).
    "a3_order_kpi_items_only" -> ((s, d) =>
      Kpi.orderKpiItemsOnly(Kpi.itemsProductsJoin(oi(s, d), p(s, d)))),

    // §2.4 A4: orders_only mode (transformation.py:238-244).
    "a4_order_kpi_orders_only" -> ((s, d) => Kpi.orderKpiOrdersOnly(o(s, d))),

    // §2.4 A6 fused single-pass null/NaN check (validation.py:83-91).
    "a6_null_check" -> ((s, d) => Validation.nullCheck(oi(s, d),
      Seq("id", "order_id", "product_id", "created_at", "sale_price"))),

    // E50 (V1): fused table profile — per-column nulls / exact NDV /
    // min / max in ONE scan (the A6 fused philosophy applied to
    // profiling), unpivoted to one row per column.
    "v1_table_profile" -> ((s, d) =>
      Validation.tableProfile(
        Sources.table(s, d, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))),

    // E167 (DQ1): declarative EXPECTATION suite — the multi-rule DQ
    // report (Great-Expectations / dbt-test shape) as a RULES-AS-DATA
    // operator (round-10 verdict item): the rule set arrives as values
    // (Validation.Rule ADT — the config-driven shape those tools parse
    // from YAML/JSON suites) and the operator GENERATES the fused
    // conditional aggregate from it (the a6/v1 one-scan philosophy; a
    // uniqueness rule rides the same pass's exact NDV), stack()ed to
    // the rule-grain report. NULL semantics live in the rule kinds:
    // domain/range/format treat NULL as a violation (coalesce(test,
    // false)), positivity applies only to present values, and
    // uniqueness counts only NON-NULL duplicate excess — a NULL key
    // belongs to a not-null rule, not the duplicate count. Exact long
    // counts; the report is |rules| bounded rows at any table size.
    "dq1_expectations" -> ((s, d) =>
      Validation.expectations(Sources.table(s, d, "orders"),
        Validation.OrdersExpectations)),

    // V1's documented 100-TB swap (exact NDV → HLL++ sketch, no Expand),
    // made executable under the hash gate a2x-style: the NDV column
    // reduces to a per-column within-bound indicator; nulls and min/max
    // compare exactly. Production path: Validation.tableProfileApprox.
    "v1x_table_profile_approx" -> ((s, d) =>
      Validation.tableProfileApproxGate(
        Sources.table(s, d, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))),

    // §2.3 J3: RI anti-join — items with no parent order (validation.py:100-108).
    "j3_ri_items_without_order" -> ((s, d) =>
      Validation.riViolations(oi(s, d), "order_id", o(s, d), "order_id")),

    // §2.3 J4: RI anti-join — items with no product (validation.py:110-116).
    "j4_ri_items_without_product" -> ((s, d) =>
      Validation.riViolations(oi(s, d), "product_id", p(s, d), "id")),

    // §2.2 P3: NOT-IN as left-anti — parents with no children (non-empty here).
    "p3_anti_orders_without_items" -> ((s, d) =>
      Validation.riViolations(o(s, d), "order_id", oi(s, d), "order_id")),

    // §2.6 U1 + §2.1 S2: multi-part union scan then aggregate
    // (validation.py:67-80).
    "u1_union_parts_agg" -> ((s, d) => {
      val path = s"$d/lineitem.parquet"
      Sources.readAndUnion(s, Seq(path, path)).get
        .groupBy(col("l_returnflag")).agg(
          count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast(money)).cast("double").as("sum_qty"))
    }),

    // §2.4 A8: distinct key projection (validation.py:100-101).
    "a8_distinct_keys" -> ((s, d) =>
      oi(s, d).select(col("order_id")).distinct()),

    // §2.2 P1/P4/P7: projection + equality filter + literal column.
    "p1_filter_project" -> ((s, d) =>
      Sources.table(s, d, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .withColumn("dt", lit("2024-06-01"))),

    // §2.5 W1: processing-date extraction — deterministic min variant of
    // first()["created_at"][:10] (validation.py:191).
    "w1_processing_date" -> ((s, d) =>
      o(s, d).agg(substring(min(col("created_at")), 1, 10).as("processing_date"))),

    // §2.7 M: keyed merge-upsert with per-field coalesce + provenance union
    // (helperfunction.py:53-208) as full-outer join — Delta MERGE equivalent.
    // The narrow projection of the 3-way join is computed ONCE and
    // persisted — both merge sides are filters over it (id parity), so
    // the join runs once instead of twice. Lifetime contract: the
    // returned frame is lazy, so the cache cannot be released here;
    // Verify/Bench clearCache() after every query, and a library
    // caller owns the same responsibility (spark.catalog.clearCache
    // or unpersist after materializing).
    "m1_merge_category_kpi" -> ((s, d) =>
      m1Merged(m1Projection(s, d).persist())),

    // E77 (M2): SCD Type-2 history-preserving dimension merge — version
    // rollover on tracked-attribute change via ONE full-outer join +
    // conditional explode; history passes through join-free.
    "m2_scd2_products" -> ((s, d) => Scd2.mergeProducts(p(s, d))),

    // E78 (CDF1): change data feed — row-level insert/delete/update_pre/
    // update_post diff between two snapshots (Delta CDF vocabulary);
    // unchanged rows emit nothing, so the feed sizes with the churn.
    // Snapshots derive deterministically from orders: %5==4 withheld
    // from the old side (inserts), %7==2 from the new side (deletes),
    // %3==0 gets a price bump (update pairs).
    "cdf1_store_changes" -> ((s, d) => {
      val (oldS, newS) = cdfSnapshots(s, d)
      ChangeFeed.diff(oldS, newS, Seq("order_id"),
        Seq("status", "total_price"))
    }),

    // E170 (CDC1): CDC APPLY — the consumer side of cdf1, closing the
    // feed→apply loop E77/E78 document: the SAME diff(A, B) feed applied
    // to the SCD2 dimension bootstrapped from snapshot A — postimages +
    // inserts merge through m2's one definition, deletes CLOSE their
    // open version. Invariant (spec-pinned): the result's current slice
    // IS snapshot B row-for-row, and A still resolves as of D0.
    "cdc1_apply_feed" -> ((s, d) => {
      val (oldS, newS) = cdfSnapshots(s, d)
      val feed = ChangeFeed.diff(oldS, newS, Seq("order_id"),
        Seq("status", "total_price"))
      Scd2.applyFeed(Scd2.init(oldS, Scd2.D0), feed,
        Seq("order_id"), Seq("status", "total_price"), Scd2.D1)
    }),

    // E174 (CDC2): incremental AGGREGATE maintenance from the feed —
    // the consumer that justifies carrying preimages: per-status
    // count + decimal revenue maintained O(churn) (insert/post = +,
    // delete/pre = −; key changes move rows between groups because the
    // preimage subtracts from the OLD group). The invariant IS the
    // oracle: maintain(agg(A), diff(A, B)) ≡ agg(B), bit for bit — the
    // driver compares the maintained form against the DIRECT aggregate
    // of snapshot B, two genuinely different decompositions.
    "cdc2_incremental_agg" -> ((s, d) => {
      val (oldS, newS) = cdfSnapshots(s, d)
      val feed = ChangeFeed.diff(oldS, newS, Seq("order_id"),
        Seq("status", "total_price"))
      val base = oldS.groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"),
          count(col("total_price")).as("n_vals"),
          sum(col("total_price").cast(money)).as("sum_total"))
      // the ONE double boundary lives at the query edge (the oracle
      // convention) — the operator itself keeps DECIMAL end to end so
      // chained refreshes stay exact
      ChangeFeed.maintainAgg(base, feed, "status", "total_price")
        .withColumn("sum_total", col("sum_total").cast("double"))
    }),

    // ---- training-data pipeline extensions (SURVEY.md §2.11) --------------

    // E1: token statistics (whitespace + BPE-ish subword counts).
    "t1_token_stats" -> ((s, d) =>
      TextAnalysis.tokenStats(Sources.table(s, d, "documents"))),

    // E134 (T18): context-length truncation audit — for each candidate
    // max_seq_len, how many docs overflow and how much token mass is
    // lost: the sizing curve a pretraining run reads before fixing L.
    // One conditional-aggregate corpus pass; |CtxLens| output rows.
    "t18_truncation_audit" -> ((s, d) =>
      TextAnalysis.truncationAudit(Sources.table(s, d, "documents"))),

    // E184 (PK2): context-window packing — the concat-and-chunk step a
    // pretraining run applies after curation: per source, docs
    // concatenate in doc_id order into one token stream cut into
    // fixed-budget windows; docs straddle cuts (GPT-style packing, no
    // padding). Window-grain report: docs touched, tokens held,
    // leading doc. One source-partitioned running sum (never a global
    // sort), one sequence-explode, window-grain aggregate. Distinct
    // from pk1 (E48), which assigns whole docs to sequences and may
    // overshoot: this cuts at EXACT boundaries.
    "pk2_context_windows" -> ((s, d) =>
      TextAnalysis.contextPacking(Sources.table(s, d, "documents"))),

    // E2: language-ID by stopword-marker scoring.
    "t2_lang_id" -> ((s, d) =>
      TextAnalysis.langId(Sources.table(s, d, "documents"))),

    // E3: quality scoring for corpus filtering.
    "t3_quality_score" -> ((s, d) =>
      TextAnalysis.qualityScore(Sources.table(s, d, "documents"))),

    // E4: md5 + rolling-hash document fingerprints.
    "t4_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(Sources.table(s, d, "documents"))),

    // E5: exact dedup by content hash over a doubled corpus.
    "d1_exact_dedup" -> ((s, d) => {
      val docs = Sources.table(s, d, "documents").select(col("doc_id"), col("text"))
      Dedup.exactDedup(docs.unionByName(docs))
    }),

    // E6: word-3-gram Jaccard near-dup pairs (planted twins corpus).
    "d2_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(
        Dedup.withNearDups(Sources.table(s, d, "documents")))),

    // E6b: df-capped Jaccard — the prefix-filtering scale path (stop-
    // shingles excluded from sets and join; linear candidate volume).
    "d7_jaccard_dfcap" -> ((s, d) =>
      Dedup.ngramJaccardDfCapped(
        Dedup.withNearDups(Sources.table(s, d, "documents")))),

    // E110: INCREMENTAL near-dup — a new batch vs the accumulated
    // MinHash signature store (the production form of d3: only the batch
    // pays the signature pass, the store is never re-read).
    "d15_incremental_lsh" -> ((s, d) => {
      val docs = Sources.table(s, d, "documents")
      val store = Dedup.minhashSigStore(
        docs.filter(col("doc_id") % 2 === 0))
      val batch = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 2 === 0)
          .select((col("doc_id") + Dedup.ReCrawlOffset).as("doc_id"),
            concat(col("text"), lit(" spark")).as("text")))
      Dedup.incrementalLshDedup(batch, store)
    }),

    // E104: CONTAINMENT near-dup — the asymmetric twin of d7: directional
    // |A∩B|/|A| catches quote/subset pairs (planted first-12-token quote
    // twins) that Jaccard's union normalizer suppresses on long docs.
    "d14_containment" -> ((s, d) =>
      Dedup.containmentPairs(
        Dedup.withContainedDups(Sources.table(s, d, "documents")))),

    // E35 (D8): incremental dedup — a new batch left-anti-joined against
    // the accumulated fingerprint store (evens = history, incoming = odds
    // + a re-crawl of the evens). The production shape: per-batch work
    // scales with the batch, the store never rewrites.
    "d8_incremental_dedup" -> ((s, d) => {
      val docs = Sources.table(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val seen = Dedup.fingerprints(docs.filter(col("doc_id") % 2 === 0))
      val incoming = docs.filter(col("doc_id") % 2 === 1)
        .unionByName(docs.filter(col("doc_id") % 2 === 0)
          .select((col("doc_id") + Dedup.TwinOffset * 2).as("doc_id"),
            col("text")))
      Dedup.incrementalDedup(incoming, seen)
        .select(col("fp"), col("doc_id"))
    }),

    // E36: deterministic content-hash sampling — keep docs whose md5(id)
    // falls under the cutoff (~25%). The scale-correct way to sample
    // training data: stable across reruns/retries (rand() is not), no
    // global count, trivially composable with stratification by bucketing
    // the hash range.
    "t5_hash_sample" -> ((s, d) =>
      Sources.table(s, d, "documents")
        .select(col("doc_id"),
          substring(graft.functions.TextFunctions.docIdHash(col("doc_id")), 1, 2)
            .as("bucket"))
        .filter(col("bucket") < "40")),

    // E137 (S5): quality-weighted Bernoulli sampling — each doc
    // survives with probability proportional to its own t3 quality
    // score (soft quality filter; deterministic md5 coin). The
    // continuous-weight member of the sampling family.
    "s5_quality_sample" -> ((s, d) =>
      TextAnalysis.qualitySample(Sources.table(s, d, "documents"))),

    // E45 (T6): corpus vocabulary top-k by document frequency — the
    // vocab/stopword-building pass: narrow explode, token-keyed partial
    // aggregate, bounded TakeOrderedAndProject ranking.
    // E138 (T19): per-source distinctive terms — top-k tokens by the
    // Dirichlet-smoothed source-vs-rest rate ratio (the data-card
    // "characteristic vocabulary" column; log dropped, rank by the
    // exact rational — the BM25/idf house rule).
    "t19_distinctive_terms" -> ((s, d) =>
      TextAnalysis.distinctiveTerms(Sources.table(s, d, "documents"))),

    // E151 (T20): corpus collocations — top-k adjacent bigrams by the
    // rational PMI-exponential lift n_ab·N/(n_a·n_b) (Manning–Schütze
    // phrase mining, log-free by the libm rule); DF-cap prune, AQE-
    // sized marginal join-backs, bounded TakeOrdered.
    "t20_collocations" -> ((s, d) =>
      TextAnalysis.collocations(Sources.table(s, d, "documents"))),

    "t6_top_tokens" -> ((s, d) =>
      TextAnalysis.topTokens(Sources.table(s, d, "documents"))),

    // E46 (C1): benchmark decontamination — per-source contamination
    // rate vs an eval-set fingerprint list (broadcast semi join on the
    // content fingerprint; one corpus scan).
    "c1_decontamination" -> ((s, d) => {
      val docs = Sources.table(s, d, "documents")
      TextAnalysis.contaminationBySource(docs, TextAnalysis.evalSetFps(docs))
    }),

    // E116: tokenizer fertility audit — subword tokens per word and
    // chars per subword, per source (the vocabulary-quality number an
    // LLM data card reports), over t8's trained merges.
    "t16_fertility" -> ((s, d) =>
      TextAnalysis.fertilityAudit(Sources.table(s, d, "documents"))),

    // E115: retrieval-prep capstone — redact → chunk → stub-embed →
    // cross-doc chunk top-k: the RAG twin of pipe1's cleaning chain
    // (deterministic md5-derived embedding, real plumbing end to end).
    "pipe2_retrieval_prep" -> ((s, d) =>
      TextAnalysis.retrievalPrep(Sources.table(s, d, "documents"))),

    // E113: per-source contamination report — c1/c2/c3 joined to the
    // one-row-per-source dashboard a curation run publishes (each signal
    // keeps its operator's own convention; signals join, not re-derive).
    "rep1_contamination_report" -> ((s, d) =>
      TextAnalysis.contaminationReport(Sources.table(s, d, "documents"))),

    // E127: per-source DATA CARD — the datasheet a curation run
    // publishes: volume, frequency-weighted mean quality, language mode
    // + share, exact-dup rate; every column reuses its operator's single
    // definition (the rep1 composition rule).
    "card1_data_card" -> ((s, d) =>
      TextAnalysis.dataCard(Sources.table(s, d, "documents"))),

    // E130 (MIX3): data-constrained epoch allocation — sources fill a
    // token budget in quality order, each capped at 4 repeats; greedy-
    // with-caps collapses to a prefix sum in exact long arithmetic.
    "mix3_epoch_alloc" -> ((s, d) =>
      TextAnalysis.epochAllocation(Sources.table(s, d, "documents"))),

    // E158 (MIX4): DEDUP-AWARE epoch allocation — "repeat unique data,
    // not duplicates": mix3's budget fill over each source's UNIQUE
    // token mass (d16's quality-elected survivor per near-dup cluster,
    // over the twin-planted corpus), raw mass reported alongside so the
    // dup discount is visible. Composes d16 and mix3 by their single
    // definitions.
    "mix4_unique_epoch_alloc" -> ((s, d) =>
      TextAnalysis.uniqueEpochAllocation(Sources.table(s, d, "documents"))),

    // E163 (TRN1): distributed deterministic perceptron TRAINING —
    // learn binary-label weights over hashed token features in exact
    // integer arithmetic (batch updates fold associatively: any
    // partitioning trains bit-identical weights). Closes the loop t12
    // left open: t12 scores with fixed weights, this learns them.
    "trn1_perceptron" -> ((s, d) =>
      TextAnalysis.perceptronTrain(Sources.table(s, d, "documents"))),

    // E159 (T21): tokenizer ROUND-TRIP validation — per-source
    // encode→decode identity rate + char-level edit rate; the BPE layer
    // is round-trip-exact by construction (spec-verified), so the
    // measured loss is exactly the normalization stage's.
    "t21_roundtrip" -> ((s, d) =>
      TextAnalysis.tokenizerRoundTrip(Sources.table(s, d, "documents"))),

    // E131 (IR1): retrieval evaluation — per-query first-relevant rank,
    // reciprocal rank, precision@k over t15's BM25 ranking (relevance =
    // shared source; the pluggable-qrels harness closing the retrieval
    // family).
    "ir1_retrieval_metrics" -> ((s, d) =>
      TextAnalysis.retrievalMetrics(Sources.table(s, d, "documents"))),

    // E92 (B1): bloom-filter membership pruning — the set-membership
    // sketch (fixed 64×32-bit words, bit_or-mergeable): per-doc
    // maybe/definitely-not against the eval block list with no corpus
    // join; no-false-negative guarantee visible in the output.
    "b1_bloom_prune" -> ((s, d) =>
      TextAnalysis.bloomPrune(Sources.table(s, d, "documents"))),

    // E47 (MIX1): source-weighted deterministic sampling audit — the
    // data-mixing op: per-source hash-cutoff rates, rerun-stable, no
    // rand(), reported as the kept-vs-target audit a mixing run emits.
    "mix1_weighted_sample" -> ((s, d) =>
      TextAnalysis.weightedSampleAudit(Sources.table(s, d, "documents"))),

    // E48 (PK1): sequence packing — fixed-token-budget training-sequence
    // assignment, sharded by content hash so shards pack independently
    // (the global greedy pack would serialize through one task).
    "pk1_pack_sequences" -> ((s, d) =>
      TextAnalysis.packSequences(Sources.table(s, d, "documents"))),

    // E49 (R1): repetition removal — collapse consecutive duplicate
    // tokens (token-array indexed-lambda form; regex backrefs don't
    // exist in RE2 so only this form is oracle-mirrorable).
    "r1_collapse_repeats" -> ((s, d) =>
      TextAnalysis.collapseRepeats(Sources.table(s, d, "documents"))),

    // E55 (S1q): stratified exact-N sampling — exactly N docs per source
    // by deterministic content-stable hash order (no rand(): rerun- and
    // retry-stable, same convention as t5/mix1), the held-out/eval-split
    // primitive. Exact-N inherently ranks within each stratum (a
    // stratum-keyed shuffle + per-group sort); when strata are huge and
    // approximate rates suffice, mix1's hash-cutoff is the sort-free
    // scale path — the two bound the accuracy/cost trade.
    // E171 (S6): WEIGHTED reservoir sampling — fixed-budget PPS-without-
    // replacement (k docs, selection ~ token mass), the bounded-memory
    // sibling of the fixed-RATE hash samplers (t5/s1/mix1). The
    // Efraimidis–Spirakis race run on INTEGER unit draws (weight =
    // 1 + tokens DIV 64; doc key = min unit hash) — float u^(1/w) keys
    // would fork the oracle hash on libm-vs-JVM pow, integers cannot.
    // Selection is TakeOrderedAndProject (plan-pinned): every partition
    // keeps ≤ k rows — the textbook distributed reservoir.
    "s6_weighted_reservoir" -> ((s, d) =>
      TextAnalysis.weightedReservoir(Sources.table(s, d, "documents"))),

    // E172 (S7): STRATIFIED weighted reservoir — per-source budgets over
    // the SAME race key (one definition, two consumers): each stratum
    // keeps its own k smallest keys, so a heavy source can't crowd the
    // tail out of the sample (s6's global race lets it). The rank is a
    // source-partitioned WindowGroupLimit, never a full sort.
    "s7_stratified_reservoir" -> ((s, d) =>
      TextAnalysis.stratifiedReservoir(Sources.table(s, d, "documents"))),

    "s1_stratified_sample" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(graft.functions.TextFunctions.docIdHash(col("doc_id")).asc,
          col("doc_id").asc)
      Sources.table(s, d, "documents")
        .select(col("source"), col("doc_id"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
    }),

    // E54 (T7): corpus-statistics join-back — per-doc token rarity from
    // corpus-level document frequencies (the LM-proxy quality signal);
    // vocabulary-keyed agg + token join-back, re-agg per doc.
    "t7_token_rarity" -> ((s, d) =>
      TextAnalysis.tokenRarity(Sources.table(s, d, "documents"))),

    // E76 (T12): hashed-feature linear classifier inference — the
    // model-based quality filter (DCLM/FineWeb-Edu stage): token →
    // hash bucket → quantized weight, exact integer margin per doc in
    // one narrow codegen'd pass.
    "t12_quality_classifier" -> ((s, d) =>
      TextAnalysis.classifierScore(Sources.table(s, d, "documents"))),

    // E123 (T17): per-source quality calibration — t12's score percent-
    // ranked WITHIN each source so a global cut can't starve a source
    // (the FineWeb-style fairness normalization); `selected` keeps the
    // top half of every source, the fairness-adjusted alternative to
    // sel1's global budget cut.
    "t17_source_calibrated" -> ((s, d) =>
      TextAnalysis.sourceCalibratedQuality(Sources.table(s, d, "documents"))),

    // E125 (PP1): preference-pair construction — the reward-model/DPO
    // prep stage: per source, the k best t12-scored docs pair with the
    // k worst (best-1 ↔ worst-1, …), margin = score gap, degenerate
    // pairs dropped. One ranking window per source; bottom ranks derive
    // from the SAME sort (n−top+1).
    "pp1_preference_pairs" -> ((s, d) =>
      TextAnalysis.preferencePairs(Sources.table(s, d, "documents"))),

    // E98 (LM1): bigram LM quality scoring — the CCNet/KenLM curation
    // stage: corpus-trained conditional-frequency table scores each
    // doc's token transitions; integer-deterministic (ratio of exact
    // sums + order-independent min) instead of fold-order-sensitive
    // log-probs.
    "lm1_bigram_lm" -> ((s, d) =>
      TextAnalysis.bigramLmScore(Sources.table(s, d, "documents"))),

    // E94 (SEL1): budget-constrained quality selection — keep the
    // best-scored docs until a global token budget is spent (the
    // "top-X tokens by classifier" curation cut). Exact ordered prefix
    // sum as the verifiable baseline; 100-TB swap = approx-quantile
    // score threshold + narrow filter (t13x path).
    "sel1_budget_select" -> ((s, d) =>
      TextAnalysis.budgetSelect(Sources.table(s, d, "documents"))),

    // E82 (T13): quality-decile assignment — curriculum/filter bucketing
    // of the corpus by classifier score. Exact ntile(10) with a doc_id
    // tiebreak (integer margins tie heavily; without a total order the
    // tile of a tied doc would be engine-dependent). ntile needs ONE
    // global sort — the verifiable baseline; the 100-TB swap is
    // approx_percentile decile boundaries broadcast-joined back (join-
    // free bucketing, no total order), trading exact equal-width tiles
    // for boundary-rounded ones, same trade as x5→x5x.
    "t13_quality_deciles" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").asc, col("doc_id").asc)
      TextAnalysis.classifierScore(Sources.table(s, d, "documents"))
        .select(col("doc_id"), col("score"))
        .withColumn("decile", ntile(10).over(w).cast("long"))
    }),

    // E90 (T13X): t13's documented 100-TB swap made EXECUTABLE, the
    // a2x/x5x/v1x convention: decile BOUNDARIES from approx_percentile
    // (KLL, one narrow mergeable pass — no global sort) with each
    // boundary gated inside the exact ±1%-rank percentile bracket
    // (sketch rank error ≤ 1e-4 ⊂ the bracket, so the indicator is a
    // theorem, not luck; both engines agree on the reduced counts
    // without sharing sketch internals).
    "t13x_approx_deciles" -> ((s, d) => {
      val qs = (1 until 10).map(_ / 10.0)
      val lo = qs.map(q => q - 0.01)
      val hi = qs.map(q => q + 0.01)
      TextAnalysis.classifierScore(Sources.table(s, d, "documents"))
        .select(col("score"))
        .agg(
          expr(s"approx_percentile(score, array(${qs.mkString("D, ")}D), 10000)")
            .as("a"),
          expr(s"percentile(score, array(${lo.mkString("D, ")}D))").as("lo"),
          expr(s"percentile(score, array(${hi.mkString("D, ")}D))").as("hi"))
        .select(explode(arrays_zip(col("a"), col("lo"), col("hi"))).as("z"))
        .agg(count(lit(1)).as("n_bounds"),
          sum(when(col("z.a").between(col("z.lo"), col("z.hi")), 1L)
            .otherwise(0L)).as("n_within"))
    }),

    // E83 (S2): deterministic train/val/test split audit — the assignment
    // is a pure hash-range function of doc_id (no rand(): rerun/retry
    // stable, no coordination, any worker can re-derive any doc's split),
    // ≈80/10/10 by md5 prefix range. The audit is the decision-grade
    // view: per-split doc count, token mass, and share — one narrow scan,
    // one 3-row aggregate, a window for the share normalizer.
    "s2_split_audit" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy()
      Sources.table(s, d, "documents")
        .select(
          graft.functions.TextFunctions.splitOf(col("doc_id")).as("split"),
          size(graft.functions.TextFunctions.tokens(
            graft.functions.TextFunctions.norm(col("text"))))
            .cast("long").as("n_tokens"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .withColumn("doc_share", col("n_docs").cast("double") /
          sum(col("n_docs")).over(w).cast("double"))
    }),

    // E91 (D11): fuzzy vocabulary pairs — edit-distance typo/variant
    // detection at VOCABULARY grain (sub-linear in corpus size), the
    // normalization tier below document near-dup; SymSpell-style length
    // buckets bound the candidates, levenshtein runs only on candidates.
    "d11_fuzzy_vocab" -> ((s, d) =>
      Dedup.fuzzyVocabPairs(Sources.table(s, d, "documents"))),

    // E86 (T14): heavy hitters via count-min sketch vs exact counts —
    // the frequency member of the sketch family (HLL a2x, KLL x5x):
    // fixed 3×256 mergeable integer state, one narrow build pass; both
    // engines build the identical deterministic sketch so estimates
    // hash-compare exactly and `overestimate` shows the collision cost.
    "t14_heavy_hitters" -> ((s, d) =>
      TextAnalysis.heavyHitters(Sources.table(s, d, "documents"))),

    // E87 (V4): equi-depth histogram — the per-column distribution
    // profile a profiler/CBO keeps; exact interior percentile edges
    // (broadcast) + one conditional bucket-count pass; approx_percentile
    // edges are the 100-TB swap.
    "v4_histogram" -> ((s, d) =>
      Validation.equiDepthHistogram(
        Sources.table(s, d, "lineitem"), "l_extendedprice")),

    // V4's documented 100-TB swap, now EXECUTABLE under the hash gate
    // (a2x/x5x/v1x convention): approx_percentile edges (one mergeable
    // sketch pass, no full-sort percentile) must land inside exact ±0.02
    // rank windows. The bench times the production approx-histogram body
    // (benchOverrides); the exact windows are Verify-only gate cost.
    "v4x_histogram_approx" -> ((s, d) =>
      Validation.equiDepthHistogramApproxGate(
        Sources.table(s, d, "lineitem"), "l_extendedprice")),

    // E70 (V2): profile drift audit — ref/batch split by the t5 hash
    // convention (first hex digit of md5(doc_id) — doc_id PARITY would
    // correlate perfectly with the round-robin source assignment and
    // put every source wholly in one side), with two planted failures:
    // src3 absent from the batch ("missing") and src5's long docs
    // dropped (mean-chars "drifted"). Other sources' flags reflect
    // genuine sampling noise in ~12-doc half-samples vs the 1/3
    // tolerance — the oracle computes the identical flags either way
    // (at production per-key volumes the mean estimate sharpens and
    // the tolerance is crisp).
    "v2_drift_audit" -> ((s, d) => {
      val docs = Sources.table(s, d, "documents")
      val half = substring(
        graft.functions.TextFunctions.docIdHash(col("doc_id")), 1, 1)
      Validation.driftAudit(
        docs.filter(half < "8"),
        docs.filter(half >= "8" && col("source") =!= "src3" &&
          !(col("source") === "src5" && col("n_chars") > 250)))
    }),

    // E73 (V3): embedding-space drift audit over int8 codes — the v2
    // split convention on vec_id, with label 3 absent from the batch
    // ("missing" for all its dims) and label 5's positive-first-dim
    // vectors dropped (dim-1 mean collapses toward the negative half →
    // "drifted"; other dims of label 5 shift only by sampling noise).
    "v3_vec_drift" -> ((s, d) => {
      val emb = Sources.table(s, d, "embeddings")
      val half = substring(
        graft.functions.TextFunctions.docIdHash(col("vec_id")), 1, 1)
      Validation.vecDriftAudit(
        emb.filter(half < "8"),
        emb.filter(half >= "8" && col("label") =!= 3 &&
          !(col("label") === 5 && element_at(col("embedding"), 1) > 0f)))
    }),

    // E135 (V5): embedding second-moment audit — the exact d×d
    // mean/covariance the PCA/whitening of an embedding store starts
    // from (eigensolve is driver-side on the 2080-row output; THIS
    // one-pass, map-side-combined triangle is the at-scale part).
    // Fixed-point grid codes make the sums exact in any fold order.
    "v5_embedding_cov" -> ((s, d) =>
      Validation.embeddingCovariance(Sources.table(s, d, "embeddings"))),

    // E139 (V6): Benford first-digit audit on order totals — the
    // forensic data-quality screen: observed first-digit shares vs the
    // log10(1+1/d) law (expectations injected as shared literals; the
    // digit comes from integer cents, never floating log).
    "v6_benford_audit" -> ((s, d) =>
      Validation.benfordAudit(Sources.table(s, d, "orders"),
        "o_totalprice")),

    // E146 (V7): per-category revenue concentration — rank-form Gini +
    // top-20% share in exact integer cents (one window pass per
    // category, two guarded boundary divisions). The Lorenz/Pareto
    // audit next to v6's Benford; see Validation.revenueGini.
    "v7_revenue_gini" -> ((s, d) =>
      Validation.revenueGini(oi(s, d), p(s, d))),

    // E152 (ABC1): ABC inventory classification — the operational
    // Pareto cut beside v7's Gini (v7 MEASURES concentration; this
    // ACTS on it): products ranked by revenue, class A = the head
    // covering 80% of cumulative revenue, B = to 95%, C = the tail;
    // reported as the 3-row class summary a stock-policy review reads.
    // The cut is the CONVENTIONAL one (round-9 advice): a product is A
    // when the cumulative revenue BEFORE it is still under the 80%
    // line — i.e. the boundary-crossing product lands in A ("the first
    // k products covering 80%"), so class A is non-empty whenever
    // revenue is (even one product holding >80% of revenue is A).
    // Class boundaries are EXACT INTEGER comparisons —
    // (cum−cents)·10 < tot·8 and (cum−cents)·20 < tot·19 over integer
    // cents (no float ever enters the classification; cum·20 ≤ 1.4e11
    // at sf0.1, wide margin) — so the only doubles are the two
    // reporting divisions at the boundary (guarded NULL on zero total,
    // the Kpi.ratio ANSI discipline).
    // Rank ties break by product id (v7's parity hygiene — here the
    // tie order IS visible: it decides which of two equal-revenue
    // products straddles a boundary). Shape: product-grain aggregate,
    // ONE ordered window for rank+cumsum (rank and running sum share
    // the sort), total on the broadcast 1-row bounds frame, 3-row
    // summary. The global window is the sel1 documented-single-sort
    // baseline — at 100 TB the swap is t13x approx revenue quantiles
    // broadcast as class thresholds, no sort.
    "abc1_abc_classes" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val rev = oi(s, d).groupBy(col("product_id"))
        .agg(sum(col("sale_price").cast(money)).as("rev_dec"))
        .select(col("product_id"),
          (col("rev_dec") * lit(100)).cast("long").as("cents"))
      val w = W.orderBy(col("cents").desc, col("product_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val total = rev.agg(sum(col("cents")).as("tot"))
      val classed = rev
        .withColumn("cum", sum(col("cents")).over(w))
        .crossJoin(broadcast(total))
        .withColumn("abc_class",
          when((col("cum") - col("cents")) * 10 < col("tot") * 8, "A")
            .when((col("cum") - col("cents")) * 20 < col("tot") * 19, "B")
            .otherwise("C"))
      classed.groupBy(col("abc_class")).agg(
          count(lit(1)).as("n_products"),
          sum(col("cents")).as("class_cents"),
          max(col("tot")).as("tot"))
        .select(col("abc_class"), col("n_products"),
          (col("class_cents").cast("double") / lit(100.0)).as("revenue"),
          when(col("tot") === 0L, lit(null).cast("double")).otherwise(
            col("class_cents").cast("double") / col("tot").cast("double"))
            .as("rev_share"))
    }),

    // E69 (T11): incremental DF-store maintenance under the hash gate —
    // the query FOLDS the corpus through the store in two batches
    // (odd/even doc_id); the oracle is the one-shot aggregate, so the
    // hash match IS the incremental ≡ batch-equivalence proof at driver
    // scale (CorpusOpsSpec covers uneven/empty batch shapes).
    "t11_df_store" -> ((s, d) => {
      val docs = Sources.table(s, d, "documents")
      Seq(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
        .foldLeft(TextAnalysis.emptyDfStore(s))(TextAnalysis.dfStoreUpdate)
    }),

    // E62 (C2): n-gram-level decontamination — contamination by shared
    // word-5-grams with the eval set (the published LM-eval hygiene
    // check), one tier stronger than c1's whole-doc fingerprints; eval
    // shingle set broadcasts, corpus explodes distinct shingles once.
    // Runs over the twin-planted corpus (the d2–d9 convention: the
    // synthetic generator plants no duplicates, so twins of eval docs
    // are the deterministic positives).
    "c2_ngram_decontamination" -> ((s, d) =>
      TextAnalysis.ngramContamination(
        TextAnalysis.withSourcedTwins(Sources.table(s, d, "documents")))),

    // E186 (C5): SPAN-level decontamination — c2 says WHICH train docs
    // overlap the eval set, this says WHERE: maximal contiguous token
    // spans whose 5-gram hashes appear among the eval docs' grams —
    // the excision report (cut the quote, keep the doc). r2's
    // positioned-hash island machinery with c2's eval scoping in place
    // of the corpus-frequency flag; eval side broadcast as a distinct
    // hash set; eval docs excluded from the report.
    "c5_contamination_spans" -> ((s, d) =>
      TextAnalysis.contaminationSpans(
        TextAnalysis.withSourcedTwins(Sources.table(s, d, "documents")))),

    // E129 (C4): SEMANTIC decontamination — the embedding-space tier
    // completing the contamination ladder (c1 exact → c2 n-gram → c3
    // lexical near-dup → this): train vectors cosine-matching any eval
    // vector above the 0.9 floor (planted verbatim eval twins score 1.0,
    // the corpus noise ceiling is ~0.5), eval side broadcast.
    "c4_semantic_decon" -> ((s, d) =>
      Similarity.semanticDecon(Sources.table(s, d, "embeddings"))),

    // E93 (C3): near-dup decontamination — the fuzzy tier above c2:
    // training docs that are near-DUPLICATES of an eval doc via
    // MinHash-LSH, eval bands broadcast (no self-join, no band-key
    // shuffle); planted eval twins must be flagged.
    "c3_neardup_decon" -> ((s, d) =>
      Dedup.crossCorpusNearDups(
        TextAnalysis.withSourcedTwins(Sources.table(s, d, "documents")))),

    // E63 (T10): per-doc tf-idf top terms — keyword extraction; tf/df
    // from one token aggregate + its vocabulary-width re-aggregate,
    // rational idf (no log, bitwise parity), doc-keyed bounded top-k.
    "t10_tfidf_top_terms" -> ((s, d) =>
      TextAnalysis.tfidfTopTerms(Sources.table(s, d, "documents"))),

    // E64 (MIX2): temperature-tempered source mixing (shares ∝ √n) — the
    // upweight-small-sources mixing audit; the global normalizer folds
    // sequentially over a source-sorted list (deterministic global
    // reduce), everything else is one count aggregate. Runs over mix1's
    // sampled subset (genuinely skewed 25/50/75/100% source rates — the
    // raw synthetic corpus is uniform, so boosts there would all be 1.0);
    // mix1 → mix2 is the fixed-weights → rebalance composition a real
    // mixing run performs.
    "mix2_temperature_mix" -> ((s, d) =>
      TextAnalysis.temperatureMixAudit(
        TextAnalysis.weightedKeep(Sources.table(s, d, "documents")))),

    // E65 (SH1): content-stable output sharding audit — per-shard doc and
    // token totals under the 16-way writer hash.
    "sh1_shard_audit" -> ((s, d) =>
      TextAnalysis.shardAudit(Sources.table(s, d, "documents"))),

    // E51 (PII1): PII detection + redaction over a deterministically
    // planted corpus — three codegen'd regexp_replace stages + match
    // counts, shuffle-free; patterns confined to the Java-regex/RE2
    // shared subset so the oracle redacts byte-identically.
    "pii1_redact" -> ((s, d) =>
      TextAnalysis.piiRedact(
        TextAnalysis.withPii(Sources.table(s, d, "documents")))),

    // E52 (CH1): overlapping token-window chunking — the doc→sequence
    // fan-out between cleaning and packing (size 32, stride 24). Pure
    // codegen'd columnar explode+slice; chunk md5 composes with d1 for
    // chunk-level dedup.
    "ch1_chunk_overlap" -> ((s, d) =>
      TextAnalysis.chunkOverlap(Sources.table(s, d, "documents"))),

    // E58 (T8): BPE-merge vocabulary TRAINING — the first 8 learned
    // byte-pair merges of the corpus. One corpus scan builds the
    // word-frequency table; the merge loop then runs over the VOCABULARY
    // (sub-linear in corpus size): per round, a vocab-width pair agg
    // ending in TakeOrderedAndProject(1) (its single argmax row is the
    // only collect — bounded metadata, the n5-Lloyd rationale) and a
    // narrow per-word fold merge. Oracle = identical iterations unrolled
    // as CTE stages with windowed run-parity greedy merges.
    "t8_bpe_merges" -> ((s, d) =>
      TextAnalysis.bpeMerges(Sources.table(s, d, "documents"))),

    // E61 (PIPE1): the cleaning tier composed END-TO-END — PII redact →
    // repetition collapse → quality filter → exact dedup → chunking,
    // summarized per source. Every stage is an already-verified operator;
    // the composition proves the tier pipelines (narrow end to end, the
    // d1-form dedup and the final audit are the only shuffles).
    "pipe1_corpus_prep" -> ((s, d) =>
      TextAnalysis.corpusPrep(Sources.table(s, d, "documents"))),

    // E58b (T9): BPE tokenization APPLY — per-doc subword counts under
    // the trained merges. Merge folds run once per VOCABULARY word; the
    // corpus-width work is one broadcast join-back + per-doc sum (the
    // t7 shape with the small side guaranteed vocabulary-sized).
    "t9_bpe_tokenize" -> ((s, d) =>
      TextAnalysis.bpeTokenize(Sources.table(s, d, "documents"))),

    // T22: unigram-LM tokenizer TRAINING (the SentencePiece family,
    // Kudo 2018 — the OTHER public tokenizer beside t8's BPE): seed =
    // single chars + top-64 weighted substrings, 3 hard-EM (Viterbi)
    // iterations at VOCABULARY grain with Laplace-smoothed counts,
    // deterministic prune. Oracle = identical iterations unrolled as
    // CTE stages with the DP as a DuckDB list fold.
    "t22_unigram_train" -> ((s, d) =>
      TextAnalysis.unigramTrain(Sources.table(s, d, "documents"))),

    // T23: unigram tokenization APPLY — t9's join-back shape under the
    // t22 vocabulary: distinct words Viterbi-segment once (broadcast
    // back), per-source fertility report (the t16 columns).
    "t23_unigram_tokenize" -> ((s, d) =>
      TextAnalysis.unigramTokenize(Sources.table(s, d, "documents"))),

    // E7: MinHash(16) + LSH(4 bands) near-dup candidates.
    "d3_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLshPairs(
        Dedup.withNearDups(Sources.table(s, d, "documents")))),

    // E97 (S3): split-leakage audit — near-dup pairs straddling the
    // E83 train/val/test hash split ("dedup before you split" made
    // measurable): d3's pairs, sides split-labeled by the shared rule,
    // off-diagonal cells of the (split, split) matrix flagged.
    "s3_split_leakage" -> ((s, d) =>
      Dedup.splitLeakage(Sources.table(s, d, "documents"))),

    // E133 (S4): leakage-FREE split assignment — the constructive closer
    // of the split trilogy (s2 audits proportions, s3 measures leakage,
    // this prevents it): split assigned at the duplicate-cluster grain
    // via the shared E83 hash rule on the GROUP id, so near-dup pairs
    // can never straddle splits; unclustered docs keep their s2 split.
    "s4_cluster_split" -> ((s, d) =>
      Dedup.clusterSplit(
        Dedup.withNearDups(Sources.table(s, d, "documents")))),

    // E37 (D9): duplicate clustering — connected components over the
    // MinHash-LSH pair graph (iterative min-label propagation with
    // per-round localCheckpoint), summarized per duplicate cluster. The
    // step a real dedup pipeline runs after pair generation: pairs don't
    // dedup a corpus, clusters with a canonical representative do.
    "d9_dup_clusters" -> ((s, d) =>
      Dedup.dupClusters(
        Dedup.withNearDups(Sources.table(s, d, "documents")))),

    // E132 (D16): quality-aware survivor selection — the stage after d9
    // that actually emits the deduped corpus: each duplicate cluster
    // elects its best-t12-quality member (tie -> min doc_id), singletons
    // survive as themselves. The corpus never shuffles: election ranks
    // only the clustered subset, singletons are a label anti-join.
    "d16_dedup_survivors" -> ((s, d) =>
      Dedup.dedupSurvivors(
        Dedup.withNearDups(Sources.table(s, d, "documents")))),

    // E72 (D10): duplicate-SPAN detection — verbatim token runs repeated
    // anywhere in the corpus, merged to maximal per-doc spans (the
    // exact-substring tier; catches boilerplate inside otherwise-distinct
    // docs). Corpus plants prefix-only twins so spans are PARTIAL.
    "r2_dup_spans" -> ((s, d) =>
      Dedup.dupSpans(
        Dedup.withSpanTwins(Sources.table(s, d, "documents")))),

    // E75 (R3): duplicated-token rate per source — the decision-grade
    // summary over r2's spans (which sources ship boilerplate, and how
    // much of their token mass it is).
    "r3_dup_span_rate" -> ((s, d) =>
      Dedup.dupSpanRate(
        Dedup.withSpanTwinsSourced(Sources.table(s, d, "documents")))),

    // E180 (R4): winnowing fingerprints — the MOSS selection scheme
    // over r2's span hashes: guaranteed-coverage SPARSE fingerprints
    // (one integer window-min per position), then doc pairs sharing a
    // df-capped selected fingerprint. The published answer to "keep
    // which k-gram hashes" — r2 keeps all and filters by frequency,
    // this keeps ~2/(w+1) with a detection-floor theorem (w+k−1
    // tokens), spec-pinned. Same planted prefix twins as r2.
    "r4_winnow_pairs" -> ((s, d) =>
      Dedup.winnowPairs(
        Dedup.withSpanTwins(Sources.table(s, d, "documents")))),

    // R5: PARAGRAPH-grain dedup — the published middle rung between
    // doc-level d1 (misses a repeated paragraph inside distinct docs)
    // and span-level r2 (reports offsets, not a drop list): fixed
    // token blocks fingerprinted (d1's md5 convention), ONE
    // fingerprint groupBy elects first-occurrence keepers, r3-shape
    // per-source drop-rate report. Corpus plants shared-first-
    // paragraph twins (header/boilerplate case).
    "r5_paragraph_dedup" -> ((s, d) =>
      Dedup.paragraphDedup(
        Dedup.withSharedParagraphs(Sources.table(s, d, "documents")))),

    // E194 (DOM1): registrable-domain-grain curation — the CCNet/
    // RefinedWeb/FineWeb filtering grain: per-domain mass audit +
    // blocklist + relative per-domain token cap (cap-the-giant at
    // domain grain, s7's philosophy), with a public-suffix-lite
    // registrable-domain rule over deterministic fixture URLs
    // (planted blocklisted + oversized domains).
    "dom1_domain_audit" -> ((s, d) =>
      DomainCuration.domainAudit(Sources.table(s, d, "documents"))),

    // E8: 32-bit SimHash signatures.
    "d4_simhash" -> ((s, d) =>
      Dedup.simhashSignatures(
        Dedup.withNearDups(Sources.table(s, d, "documents")))),

    // E9: SimHash near-dup pairs via band pigeonhole at the EXHIBIT width
    // — 32-bit opts in explicitly; the production default is d5x's 60.
    "d5_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(
        Dedup.withNearDups(Sources.table(s, d, "documents")),
        bits = Dedup.SimhashBits)),

    // E9b: the DEFAULT width — same banded algorithm at 60 bits (4×15-bit
    // bands, band-pair keys 30-bit). The ×10 scaling sweep showed 32-bit
    // candidate volume quadratic in corpus size (signature space
    // saturates on a concentrated corpus); widening the signature is THE
    // production fix, so simhashPairs defaults to it and the 32-bit
    // density-wall exhibit (d5) is the explicit-arg variant.
    "d5x_simhash60_pairs" -> ((s, d) =>
      Dedup.simhashPairs(
        Dedup.withNearDups(Sources.table(s, d, "documents")))),

    // E10: embedding-cosine near-dup pairs (LSH-bucketed).
    "d6_embedding_neardup" -> ((s, d) =>
      Similarity.embeddingNearDups(Sources.table(s, d, "embeddings"))),

    // E95 (D12): semantic dedup (SemDeDup) — coarse-quantizer cells,
    // within-cell cosine pairs, keep-one-per-group drop list with
    // provenance. Data-adaptive candidate restriction vs d6's
    // hyperplane buckets.
    "d12_semdedup" -> ((s, d) =>
      Similarity.semDedup(Sources.table(s, d, "embeddings"))),

    // E95 scale knob made executable (the d5/d5x convention): 4× the
    // cells → ~4× smaller cells → ~16× fewer within-cell candidate
    // pairs; identical vectors still collide into the same cell, so the
    // planted twins survive any cell count.
    "d12x_semdedup_cells" -> ((s, d) =>
      Similarity.semDedup(Sources.table(s, d, "embeddings"), numCells = 64)),

    // E102 (D13): SemDeDup with HIERARCHICAL (coarse→fine) cell
    // assignment — the scale path once the size-derived cell count is
    // itself large: per-row assign cost ⌈√cells⌉ + bucket instead of
    // cells, one codegen'd two-level argmin kernel; both stages
    // mirrored in the oracle.
    "d13_semdedup_hier" -> ((s, d) =>
      Similarity.semDedupHier(Sources.table(s, d, "embeddings"))),

    // E11: brute-force cosine top-k ANN baseline.
    "n1_ann_bruteforce" -> ((s, d) =>
      Similarity.bruteForceTopK(Sources.table(s, d, "embeddings"), 5, 5)),

    // E165 (N10): MATRYOSHKA truncation audit — per-query overlap@10
    // between the full-dim and 16-dim-prefix exact rankings (both THE
    // n1 definition): the number you measure before switching serving
    // to truncated embeddings. Exact integer overlaps; zero-overlap
    // queries kept via the spine left-join.
    "n10_matryoshka_audit" -> ((s, d) =>
      Similarity.matryoshkaAudit(Sources.table(s, d, "embeddings"))),

    // E12: LSH-bucketed approximate top-k (scale path).
    "n2_ann_lsh" -> ((s, d) =>
      Similarity.lshTopK(Sources.table(s, d, "embeddings"), 5, 5)),

    // E12b: grouped top-k via typed Aggregator (map-side-combine shape;
    // same results and oracle as n1).
    "n3_ann_topk_agg" -> ((s, d) =>
      Similarity.topKAggregated(Sources.table(s, d, "embeddings"), 5, 5)),

    // E12c: IVF-style ANN — seeded coarse quantizer, nprobe-cell search.
    "n4_ann_ivf" -> ((s, d) =>
      Similarity.ivfTopK(Sources.table(s, d, "embeddings"), 5, 5)),

    // E12d: IVF with a TRAINED (deterministic k-means) quantizer — the
    // production ANN build shape; same probe/join structure as n4 with
    // data-adaptive cells. Oracle mirrors the fixed Lloyd iterations as
    // unrolled CTE stages with order-pinned sequential-fold means.
    "n5_ann_ivf_trained" -> ((s, d) =>
      Similarity.ivfTrainedTopK(Sources.table(s, d, "embeddings"), 5, 5)),

    // E66: scalar-quantized (int8) ANN — the memory knob of the ANN tier
    // (4x fewer bytes per candidate; composes under the n2/n4/n5
    // candidate-set knobs). Ranks by the integer codes' cosine — the
    // per-vector scale cancels, so no dequantization at query time.
    "n6_ann_sq8" -> ((s, d) =>
      Similarity.sqTopK(Sources.table(s, d, "embeddings"), 5, 5)),

    // E67: IVF cells over int8 codes — the candidate-set and bytes-per-
    // candidate knobs composed (the FAISS IVF-SQ index shape); the
    // stored search tier holds only (cell, codes), never raw floats.
    "n7_ann_ivf_sq8" -> ((s, d) =>
      Similarity.ivfSqTopK(Sources.table(s, d, "embeddings"), 5, 5)),

    // E71: product quantization — candidates stored as PqM codebook ids
    // (PqM bytes packed vs SQ8's dim bytes); search is per-query distance
    // tables + PqM lookups per pair (ADC), no per-pair vector math.
    "n8_ann_pq" -> ((s, d) =>
      Similarity.pqTopK(Sources.table(s, d, "embeddings"), 5, 5)),

    // E71 quality close: PQ with TRAINED per-subspace codebooks — n5's
    // deterministic Lloyd run once per subspace, adapting each subspace's
    // 16 entries to its actual distribution (the knob FAISS turns by
    // default); same encode/ADC/rank structure as n8.
    "n8x_ann_pq_trained" -> ((s, d) =>
      Similarity.pqTrainedTopK(Sources.table(s, d, "embeddings"), 5, 5)),

    // E74: IVF cells over PQ codes — the FAISS IVFPQ flagship: candidate
    // set restricted by the coarse quantizer, bytes by product codes.
    "n9_ann_ivf_pq" -> ((s, d) =>
      Similarity.ivfPqTopK(Sources.table(s, d, "embeddings"), 5, 5)),

    // E105: BM25 ranked retrieval — the inverted-index search stage:
    // each query doc's distinct terms score every term-sharing doc
    // (rational-odds idf, ordered per-pair fold), ranked top-k.
    "t15_bm25" -> ((s, d) =>
      TextAnalysis.bm25TopKRetrieval(Sources.table(s, d, "documents"))),

    // E108: cluster profile — every vector assigned to its trained
    // k-means centroid (native argmin kernel), per-cluster size/dominant
    // label/purity: the inspection stage of cluster-based curation.
    "cl1_cluster_profile" -> ((s, d) =>
      Similarity.clusterProfile(Sources.table(s, d, "embeddings"))),

    // E112: hard-negative mining — per anchor, nearest same-label
    // positive + nearest cross-label hard negative with the margin
    // signal (contrastive-pair prep for embedding training).
    "hn1_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(Sources.table(s, d, "embeddings"))),

    // E109: cluster-balanced sampling — a fixed per-cluster quota over
    // the trained quantizer (uniform embedding-space coverage, the
    // anti-mode-collapse subset), content-stable pick order.
    "cb1_cluster_sample" -> ((s, d) =>
      Similarity.clusterBalancedSample(Sources.table(s, d, "embeddings"))),

    // E107: DSIR-style targeted selection — hashed-bigram target-vs-raw
    // counts score every raw doc's target affinity (integer-exact
    // posterior, the lm1 discipline), top-k kept.
    "imp1_dsir_select" -> ((s, d) =>
      TextAnalysis.dsirSelect(Sources.table(s, d, "documents"))),

    // E106: hybrid retrieval — Reciprocal Rank Fusion of the BM25 and
    // dense-cosine rankings over the shared doc/vec id space (no score
    // calibration crosses the system boundary, only ranks).
    "rrf1_hybrid_fusion" -> ((s, d) =>
      TextAnalysis.hybridRrf(Sources.table(s, d, "documents"),
        Sources.table(s, d, "embeddings"))),

    // E103: k-NN label propagation — each "unlabeled" query vector takes
    // the majority label of its k nearest labeled neighbors (the pseudo-
    // labeling stage of a training-data pipeline); exact scoring here as
    // the oracle baseline, candidate generation interchangeable with the
    // whole n2–n9 ANN ladder.
    "knn1_knn_classify" -> ((s, d) =>
      Similarity.knnClassify(Sources.table(s, d, "embeddings"))),

    // E120: label-noise audit — knn1's leave-one-out twin over the
    // labeled set itself: audited vectors whose k-NN neighborhood
    // out-votes their own label are flagged (the mislabeled-example
    // detector run BEFORE labels drive selection/eval). Audit set
    // bounded by design; scoring swaps for any ANN tier.
    "ln1_label_noise" -> ((s, d) =>
      Similarity.labelNoiseAudit(Sources.table(s, d, "embeddings"))),

    // E26: rollup — multi-level aggregation (day×category, day, grand
    // total) in ONE pass via the Expand operator; the KPI-history rollup
    // a reporting layer runs over the store.
    // the date key is evaluated on the ORDERS side before the join
    // (items grain is ~4× orders; Catalyst won't push grouping
    // expressions below a join) — the gapFilledDaily convention.
    "x2_rollup_revenue" -> ((s, d) =>
      Kpi.threeWayJoin(o(s, d).withColumn("order_date",
          substring(col("created_at"), 1, 10)), oi(s, d), p(s, d))
        .rollup(col("o.order_date"),
          col("p.category").as("category"))
        .agg(sum(col("oi.sale_price").cast(money)).cast("double")
            .as("revenue"),
          count(lit(1)).as("n_items"))),

    // E25: AS-OF join — custom LogicalPlan + Strategy + merge-scan
    // SparkPlan (org.apache.spark.sql.graft.AsOfJoinExec): for each
    // purchase, the same user's latest click at or before it.
    "as1_asof_purchase_click" -> ((s, d) => {
      val ev = Sources.table(s, d, "events")
      val tsUs = Sources.epochUs(ev)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), tsUs.as("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_event_id"),
          col("user_id").as("c_user"), tsUs.as("click_ts"))
      org.apache.spark.sql.graft.AsOfJoinApi.asofJoin(purchases, clicks,
          "user_id", "c_user", "ts", "click_ts")
        .select(col("event_id"), col("user_id"),
          col("ts").as("ts_us"),
          col("click_event_id"),
          col("click_ts").as("click_ts_us"))
    }),

    // E111: frame-level dedup — repeated frames (static intros/padding)
    // hide inside distinct media objects; dedup at the sampled-frame
    // grain, d1's one-shuffle plan over the frame generator.
    "mm2_frame_dedup" -> ((s, d) =>
      Multimodal.frameDedup(s, Sources.table(s, d, "documents"))),

    // E181 (MM3): perceptual frame NEAR-dup — d5's SimHash shape at the
    // multimodal grain, closing the ladder mm2 starts: per-frame
    // perceptual signatures (nibble-threshold bits — the MediaCodec
    // seam's stand-in), band pigeonhole, XOR-popcount filter,
    // media-object pair report. Planted one-bit twins (byte 0 XOR 0x80).
    // 32-bit EXHIBIT width — opts in explicitly (the d5 convention);
    // the production default is mm3x's 60.
    "mm3_frame_neardup" -> ((s, d) =>
      Multimodal.frameNearDupPairs(Sources.table(s, d, "documents"),
        bits = Multimodal.SigBits)),

    // E182 (MM3X): the DEFAULT width — same banded pipeline at 60 bits
    // (top TWO bits per nibble over 30 of the 32 frame digits; 30-bit
    // half keys). The d5→d5x lesson applied at frame grain: 16-bit band
    // keys admit ~2n²/2^16 random candidates — the term d5's history
    // measured into a quadratic wall on a signature-concentrated
    // corpus; 30-bit halves push it to ~2n²/2^30 (BASELINE.md "mm3 vs
    // mm3x: the candidate-volume curve, measured" records both curves). frameNearDupPairs defaults to this width; the
    // 32-bit density-watch exhibit (mm3) is the explicit-arg variant.
    "mm3x_frame_neardup60" -> ((s, d) =>
      Multimodal.frameNearDupPairs(Sources.table(s, d, "documents"))),

    // E193 (MM4): a REAL image-format perceptual hash through the
    // FrameCodec seam — the public aHash (mean-threshold bitmap) over
    // nibble-grain grayscale frames, on a masked low-dynamic-range
    // corpus with planted BRIGHTNESS-jittered twins: aHash's shifted
    // mean catches them at hamming 0 where the raw top-bits codec
    // misses every one (the property that makes a perceptual hash
    // perceptual, executable). Same banded pair pipeline as mm3/mm3x
    // (frameNearDupPairsFromSigs — textually shared).
    "mm4_ahash_neardup" -> ((s, d) =>
      Multimodal.aHashNearDupPairs(Sources.table(s, d, "documents"))),

    // E13: multimodal binary plumbing — synth payloads, partition-wise
    // decode stub, frame sampling. The stub's byte-stat features follow
    // the repo determinism convention, so the DuckDB oracle
    // (Multimodal.mediaSummarySql) hash-verifies the whole summary.
    "mm1_media_summary" -> ((s, d) =>
      Multimodal.mediaSummary(s, Sources.table(s, d, "documents"))),

    // §2.5 W2: FIFO top-1 pick (controller.py:64-69) — TakeOrderedAndProject.
    "w2_fifo_next" -> ((s, d) => {
      val ev = Sources.table(s, d, "events")
      ev.filter(col("event_type") === "purchase")
        .orderBy(col("ts").asc, col("event_id").asc).limit(1)
        .select(col("event_id"), Sources.epochUs(ev).as("ts_us"),
          col("user_id"), col("event_type"))
    }),

    // §2.5 W3: existence probe via limit-1 (controller.py:52-56).
    "w3_exists_probe" -> ((s, d) =>
      Sources.table(s, d, "events")
        .filter(col("event_type") === "error" && col("value") > 90.0)
        .limit(1).agg(count(lit(1)).as("found"))),

    // §2.9 T1/T2: anchored debounce windows over the events stream table
    // (flatMapGroups recurrence; oracle = recursive-CTE anchor chain).
    "e1_debounce_batches" -> ((s, d) =>
      graft.streaming.Debounce.batchAssignDf(
        Sources.table(s, d, "events"), windowSec = 3600L)),

    // §2.9 E16 (batch form): tumbling-window event aggregation via Spark's
    // window() operator — identical code runs under readStream + watermark
    // (StreamingAggSpec proves batch≡streaming parity); the driver query
    // hash-verifies the window semantics themselves. Decimal-sum the
    // double measure so the result is order-independent (exact) and
    // matches the oracle bit-for-bit.
    // E101 (E5): stream-static enrichment, aggregated to the per-segment
    // KPI — events decorated from the customer dimension (broadcast left
    // join, unknown keys kept as the NULL segment), then the
    // decision-grade rollup. The enrichment transform itself runs
    // batch AND streaming unchanged (StreamingAggSpec parity).
    "e5_segment_kpi" -> ((s, d) =>
      graft.streaming.Enrich.enrichEvents(Sources.table(s, d, "events"),
          Sources.table(s, d, "customer"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double")
            .as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))),

    // E164 (E7): stream-stream INTERVAL join, hash-verified — the
    // WindowedAgg.purchaseClickJoin body (each purchase joined to the
    // same user's clicks from the preceding 30 min; both watermarks
    // are no-ops in batch, StreamingAggSpec proves batch ≡ streaming),
    // previously spec-only, now under the oracle gate. The
    // attribution-window primitive: at scale the interval bound is
    // what lets the stream-stream state store evict.
    "e7_click_purchase_join" -> ((s, d) => {
      val ev = Sources.table(s, d, "events")
      graft.streaming.WindowedAgg.purchaseClickJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        intervalSec = 1800L, watermark = "1 hour")
    }),

    // E169 (E8): stream-stream LEFT OUTER interval join — e7's outer
    // form: EVERY purchase emitted, attributed clicks attached, and the
    // unmatched purchases (no same-user click in the preceding 30 min —
    // the organic-conversion rows attribution actually acts on) kept
    // with NULL click columns. Streaming, an unmatched purchase emits
    // only when the watermark closes its interval — the same moment its
    // state evicts (StreamingAggSpec pins the closure parity); batch,
    // the identical body is a plain left outer join with range bounds.
    "e8_attribution_outer" -> ((s, d) => {
      val ev = Sources.table(s, d, "events")
      graft.streaming.WindowedAgg.purchaseClickJoinOuter(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        intervalSec = 1800L, watermark = "1 hour")
    }),

    "e2_windowed_event_agg" -> ((s, d) => {
      val ev = Sources.table(s, d, "events")
      ev.select(timestamp_micros(Sources.epochUs(ev)).as("t"),
          col("event_type"), col("value"))
        .groupBy(window(col("t"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double")
            .as("sum_value"))
        .select(unix_micros(col("window.start")).as("window_start_us"),
          col("event_type"), col("n_events"), col("sum_value"))
    }),

    // E153 (E6): daily TRENDING KEYS — tumbling-window top-k: per
    // 1-day window, the 3 hottest `props.k` items by event count (the
    // "trending now" panel every event platform serves). Composes e2's
    // epoch-us tumbling-window convention (integer day bucketing, no TZ
    // semantics in the answer) with f13's JSON extraction and the
    // rec1 rank discipline: exact integer counts, deterministic
    // (n desc, k) tie-break, WindowGroupLimit bounding the per-window
    // sort at k (plan-pinned — the rank never sorts a full day's key
    // set at scale).
    "e6_daily_top_keys" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val ev = Sources.table(s, d, "events")
      val agg = ev.select(timestamp_micros(Sources.epochUs(ev)).as("t"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(window(col("t"), "1 day"), col("k"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_micros(col("window.start")).as("day_start_us"),
          col("k"), col("n_events"))
      val w = W.partitionBy(col("day_start_us"))
        .orderBy(col("n_events").desc, col("k"))
      agg.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
    }),

    // E28: range (interval) join with NO equi-key — purchases × incident
    // windows ([error ts, +30 min], errors with value > 90). Binned to an
    // equi-join (graft.operators.RangeJoin) instead of the O(n·m)
    // nested-loop Spark would otherwise plan; output is exact.
    // E96 (JC1): join-cardinality estimation from count-min key sketches
    // — the CBO statistics primitive: est |orders ⋈ events| on the
    // customer key from two fixed 3×8192 mergeable sketches
    // (inner-product bound, never an underestimate) vs the exact
    // key-grain product.
    "jc1_join_card_sketch" -> ((s, d) =>
      graft.operators.JoinCardinality.ordersEventsJoinCard(
        Sources.table(s, d, "orders"), Sources.table(s, d, "events"))),

    // E140 (G1): deterministic integer PageRank over the product
    // co-purchase graph — link-analysis centrality (the iterative
    // sibling of d9's CC): scaled-long ranks, exact floor-division
    // contributions, 5 fixed join-aggregate rounds.
    "g1_product_pagerank" -> ((s, d) =>
      graft.operators.PageRank.productPageRank(
        Sources.table(s, d, "lineitem"))),

    // E149 (G3): BFS hop distances from the catalog hub — K fixed
    // frontier-relaxation rounds over the g1 edge relation, exact
    // integer min folds, deterministic (deg, id) seed election. See
    // BfsHops.scala for the diameter-bound story.
    "g3_hub_hops" -> ((s, d) =>
      graft.operators.BfsHops.hubHops(
        Sources.table(s, d, "lineitem"))),

    // E145 (G2): triangle census — degree-ordered wedge closing over
    // the g1 co-purchase graph (one edge definition for the family);
    // exact integer corner credits, lcc's guarded division is the one
    // double boundary. See Triangles.scala for the orientation story.
    "g2_triangle_count" -> ((s, d) =>
      graft.operators.Triangles.triangleCensus(
        Sources.table(s, d, "lineitem"))),

    // E173 (G4): label-propagation COMMUNITIES — the graph family's
    // partitioner (g1 ranks, g2 counts closure, g3 measures reach, this
    // segments): synchronous Raghavan–Albert–Kumara LPA, K fixed rounds,
    // exact integer votes, min-label tie-break — deterministic on any
    // partitioning whether or not the fixpoint exists. One graph, four
    // consumers (the g1 copurchaseEdges definition).
    "g4_lpa_communities" -> ((s, d) =>
      graft.operators.LabelPropagation.communities(
        Sources.table(s, d, "lineitem"))),

    // E136 (ER1): blocked fuzzy entity resolution — candidate pairs
    // form only inside the (nationkey, mktsegment) block (never
    // all-pairs), then the codegen'd Levenshtein comparator thresholds
    // the match. The record-linkage stage before customer-grain
    // analytics; d9's components cluster this pair graph.
    "er1_entity_match" -> ((s, d) =>
      graft.operators.EntityResolution.entityMatchPairs(
        Sources.table(s, d, "customer"))),

    // E160 (ER3): multi-pass sorted-neighborhood matching — the
    // LINEAR-candidate record-linkage method (merge/purge): two sorted
    // passes (name, reversed name), each comparing a record against
    // only its 5 rank-successors; the executable scale path past
    // er1/er2's fixed-block-vocabulary wall (BASELINE: blocked
    // candidates go xN^2 under the fan-out, SNM's stay passes·w·n).
    "er3_sorted_neighborhood" -> ((s, d) =>
      graft.operators.EntityResolution.sortedNeighborhoodPairs(
        Sources.table(s, d, "customer"))),


    // E142 (ER2): golden-record construction — duplicate-customer
    // clusters (CC over er1's match graph) elect a master record by
    // the survivorship rule (max balance, tie -> min key); one row per
    // multi-member cluster with the decimal-exact combined balance.
    "er2_golden_records" -> ((s, d) =>
      graft.operators.EntityResolution.goldenRecords(
        Sources.table(s, d, "customer"))),

    "e3_range_join_incidents" -> ((s, d) => {
      val ev = Sources.table(s, d, "events")
      val tsSec = Sources.epochSec(ev)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), tsSec.as("t"))
      val incidents = ev
        .filter(col("event_type") === "error" && col("value") > 90.0)
        .select(col("event_id").as("incident_id"),
          tsSec.as("istart"))
        .withColumn("iend", col("istart") + lit(1800L))
      graft.operators.RangeJoin
        .pointInInterval(purchases, "t", incidents, "istart", "iend",
          binWidth = 3600L)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_incidents"),
          min(col("incident_id")).as("first_incident"))
    }),

    // E31: TRUE session windows (gap-based, unlike the anchored debounce
    // window) via Spark's session_window — sessions extend while the gap
    // to the previous event is ≤ 30 min (touching intervals merge; only a
    // strictly larger gap splits — pinned against a real exactly-1800s
    // gap at sf0.1). Oracle = gaps-and-islands (lag + running sum). The
    // contrast with e1 is the point: T1's window anchors at the FIRST
    // event; a session window anchors at the LAST.
    // (round 10: delegated to streaming.WindowedAgg.userSessions — ONE
    // definition for batch, oracle, and the streaming append form; the
    // watermark is a no-op here, hash unchanged.)
    "e4_session_windows" -> ((s, d) =>
      graft.streaming.WindowedAgg.userSessions(
        Sources.table(s, d, "events"), "30 minutes", "2 hours")),

    // E32: pivot — revenue by category × item status as columns (the
    // reporting shape over the KPI join). Pivot values are declared
    // explicitly: at scale an undeclared pivot costs an extra distinct
    // pass AND makes the output schema data-dependent.
    "x4_pivot_status_revenue" -> ((s, d) =>
      Kpi.threeWayJoin(o(s, d), oi(s, d), p(s, d))
        .groupBy(col("p.category").as("category"))
        .pivot("oi.status", Seq("A", "N", "returned"))
        .agg(sum(col("oi.sale_price").cast(money)).cast("double"))),

    // §2.6 U4: EXCEPT (distinct set difference) — purchasers who never hit
    // a severe error; plans as a left-anti over distinct, not a driver
    // diff. (The >90 severity cut keeps the result non-degenerate: every
    // purchaser has SOME error event in this data.)
    "u2_except_users" -> ((s, d) => {
      val ev = Sources.table(s, d, "events")
      ev.filter(col("event_type") === "purchase").select(col("user_id"))
        .except(ev
          .filter(col("event_type") === "error" && col("value") > 90.0)
          .select(col("user_id")))
    }),

    // E33: exact percentiles (sort-based linear interpolation — identical
    // arithmetic in DuckDB's quantile_cont). At 100 TB the scale path is
    // approx_percentile (KLL/GK sketch, one narrow pass, mergeable);
    // exact percentile needs the full sorted group and exists as the
    // verifiable baseline, same pattern as n1 vs n2.
    "x5_quantile_qty" -> ((s, d) =>
      Sources.table(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))")
          .as("q"))
        .select(col("l_returnflag"),
          element_at(col("q"), 1).as("p25"),
          element_at(col("q"), 2).as("p50"),
          element_at(col("q"), 3).as("p75"))),

    // E79 (X6): per-group robust outlier screen — median/MAD with a
    // k·MAD threshold (50 % breakdown point; mean/stddev hides the very
    // outliers it should flag). Exact three-pass baseline, all joins
    // broadcast so the fact never shuffles; 100-TB swap is
    // approx_percentile for both quantiles (see Validation.robustOutliers).
    // k = 1.8 here, not the production default 5: the synthetic uniform
    // price distribution has NO heavy tail (max ≈ med + 2 MAD), so only a
    // tight k makes the flag arm carry nonzero counts under the oracle.
    "x6_robust_outliers" -> ((s, d) =>
      Validation.robustOutliers(Sources.table(s, d, "lineitem"),
        "l_returnflag", "l_extendedprice", k = 1.8)),

    // x5's documented 100-TB swap (exact percentile → KLL sketch), made
    // EXECUTABLE the same way as a2x: approx_percentile at accuracy 10⁴
    // guarantees ≤ 10⁻⁴ rank error, so each group's estimate must land
    // between the exact 49th and 51st percentiles — a generous but honest
    // bound both engines can agree on without sharing sketch internals.
    "x5x_approx_quantile" -> ((s, d) =>
      Sources.table(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(l_quantity, 0.5D, 10000)").as("a"),
          expr("percentile(l_quantity, 0.49D)").as("lo"),
          expr("percentile(l_quantity, 0.51D)").as("hi"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("a").between(col("lo"), col("hi")), 1L)
            .otherwise(0L)).as("n_within"))),

    // §2.8 extension (F13): JSON payload extraction — events carry a JSON
    // `props` column (the universal escape hatch for semi-structured
    // payloads); extract a typed field, filter, aggregate. At scale
    // prefer promoting hot JSON fields to real columns at ingest — this
    // op is the read-side fallback, and get_json_object stays inside
    // whole-stage codegen.
    "f13_json_extract" -> ((s, d) =>
      Sources.table(s, d, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .filter(col("k") > 50)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))),

    // §2.3 extension: LEFT SEMI — orders having at least one item, as a
    // semi join (no right columns, no duplicate left rows), the EXISTS
    // twin of p3's NOT-EXISTS anti join.
    "p4_semi_orders_with_items" -> ((s, d) => {
      val ord = o(s, d)
      val items = oi(s, d)
      ord.join(items, ord("order_id") === items("order_id"), "left_semi")
        .select(col("order_id"))
    }),

    // §2.4 A9: earliest unprocessed event per group
    // (s3_validation.py:104-112 as a grouped min).
    "a9_min_batch_start" -> ((s, d) => {
      val ev = Sources.table(s, d, "events")
      ev.filter(col("event_type") =!= "error")
        .groupBy(col("user_id"))
        .agg(min(Sources.epochUs(ev)).as("batch_start_us"),
          count(lit(1)).as("n_events"))
    }),

    // §1.2 compat mode: the reference reads schema-less CSV (everything a
    // string) and relies on PySpark 3.x implicit string→double casts. Under
    // Spark 4 ANSI semantics the parity path is all-strings inputs +
    // explicit try_cast (malformed → NULL, excluded from sums/averages
    // exactly like the implicit cast did).
    "a1c_category_kpi_compat" -> ((s, d) => {
      def strs(df: DataFrame) =
        df.select(df.columns.map(c => col(c).cast("string").as(c)): _*)
      // The stringly-typed arm only exercises the columns the reference
      // query touches — project BEFORE the all-strings cast so column
      // pruning still reaches the scan (a whole-table cast would read and
      // re-cast every column for a 6-row output).
      val joined = Kpi.threeWayJoin(
        strs(o(s, d).select("order_id")),
        strs(oi(s, d).select("id", "order_id", "product_id", "status",
          "sale_price")),
        strs(p(s, d).select("id", "category")))
      val price = expr("try_cast(`oi`.`sale_price` AS DOUBLE)")
      joined.groupBy(col("p.category").as("category")).agg(
        sum(price.cast(money)).cast("double").as("daily_revenue"),
        Kpi.ratio(sum(price.cast(money)).cast("double"), count(price))
          .as("avg_order_value"),
        Kpi.ratio(count(when(col("oi.status") === "returned", true))
          .cast("double"), count(col("oi.id"))).as("avg_return_rate"))
    }),

    // E44 (K1): mergeable HLL distinct sketches — the incremental form of
    // A2's unique_customers. DataSketches HLL at lgK=12 is EXACT below
    // ~2^lgK distincts (coupon mode), so at verify scale (≤ 90 distinct
    // users/day at sf0.1) the per-day estimate equals the oracle's exact
    // count(DISTINCT) — except for coupon hash collisions (~n²/2^26, tiny
    // but nonzero), which would turn an exact-equality gate red on a data
    // change with nothing actually wrong. The gate therefore checks a
    // per-day within-±1 indicator (granular like the exact gate, immune
    // to a single collision), while the sketch column itself stays
    // mergeable across days (hll_union_agg) without ever rescanning
    // history.
    "k1_distinct_sketch" -> ((s, d) =>
      graft.kpi.SketchKpi.dailyUserSketch(o(s, d))
        .select(col("order_date"),
          (abs(hll_sketch_estimate(col("user_sketch")) -
            col("unique_customers")) <= lit(1L)).cast("long")
            .as("est_within_1"),
          col("unique_customers"))),

    // E80 (X7): running revenue + day-over-day delta — the cumulative /
    // lag window family (category-partitioned, date-ordered). Arithmetic
    // stays in DECIMAL through the cumulative fold (float cumsum would
    // make the fold order part of the answer), cast to double only at
    // the boundary. Partition grain is CATEGORY — a handful of huge
    // partitions would serialize, but category×date rows are tiny here
    // (the window runs over the AGGREGATED frame, never the fact), the
    // standard shape for KPI-history queries over the store.
    "x7_running_revenue" -> ((s, d) => {
      // date key on the orders side pre-join (the gapFilledDaily
      // convention)
      val daily = Kpi.threeWayJoin(o(s, d).withColumn("order_date",
          substring(col("created_at"), 1, 10)), oi(s, d), p(s, d))
        .groupBy(col("p.category").as("category"),
          col("o.order_date"))
        .agg(sum(col("oi.sale_price").cast(money)).as("rev_dec"))
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("category")).orderBy(col("order_date"))
      daily
        .withColumn("run_dec", sum(col("rev_dec"))
          .over(w.rowsBetween(W.unboundedPreceding, W.currentRow)))
        .withColumn("prev_dec", lag(col("rev_dec"), 1).over(w))
        .select(col("category"), col("order_date"),
          col("rev_dec").cast("double").as("revenue"),
          col("run_dec").cast("double").as("running_revenue"),
          col("prev_dec").cast("double").as("prev_revenue"),
          (col("rev_dec") - col("prev_dec")).cast("double").as("delta"))
    }),

    // E81 (X8): CUBE + grouping_id — all four aggregation grains
    // (month×category, month, category, grand total) in ONE pass via the
    // Expand operator, each output row tagged with which keys are
    // aggregated away. Same single-scan Expand machinery as x2's rollup;
    // the tag is what makes the combined result table self-describing,
    // exactly how an OLAP cache materializes every grain at once.
    // month key on the orders side pre-join (the gapFilledDaily
    // convention)
    "x8_cube_revenue" -> ((s, d) =>
      Kpi.threeWayJoin(o(s, d).withColumn("order_month",
          substring(col("created_at"), 1, 7)), oi(s, d), p(s, d))
        .cube(col("o.order_month"),
          col("p.category").as("category"))
        .agg(sum(col("oi.sale_price").cast(money)).cast("double")
            .as("revenue"),
          count(lit(1)).as("n_items"),
          grouping_id().as("gid"))),

    // E84 (X9): calendar gap-fill + forward fill — the time-series
    // resample every KPI store needs (days with no sales must EXIST as
    // rows before a moving average / chart / join-to-forecast is right).
    // Spine = brand × sequence(min_date, max_date) generated from a
    // 1-row bounds agg (broadcast); daily revenue joins on, missing days
    // flag `filled` and carry the last seen value (window last() with
    // ignoreNulls). Spine size is brands × calendar days — bounded by the
    // CALENDAR, not the data, so at 100 TB it stays tiny while the fact
    // side never shuffles more than its one daily-grain aggregate.
    "x9_gap_fill" -> ((s, d) =>
      gapFilledDaily(s, d)
        .select(col("brand"),
          date_format(col("d"), "yyyy-MM-dd").as("order_date"),
          col("rev_dec").cast("double").as("revenue"),
          col("rev_dec").isNull.as("filled"),
          col("ffill_dec").cast("double").as("ffill_revenue"))),

    // E88 (X10): trailing 7-day moving average over the gap-filled
    // series — the reason x9 exists: a moving average computed only over
    // PRESENT days is wrong (a 3-sale week averages 3 points, not 7).
    // Decimal sum over the frame ÷ non-null frame count, double only at
    // the division; leading pre-first-sale rows stay null.
    "x10_moving_avg" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val w7 = W.partitionBy(col("brand")).orderBy(col("d"))
        .rowsBetween(-6, W.currentRow)
      gapFilledDaily(s, d)
        .withColumn("ma7",
          (sum(col("ffill_dec")).over(w7).cast("double") /
            count(col("ffill_dec")).over(w7).cast("double")))
        .select(col("brand"),
          date_format(col("d"), "yyyy-MM-dd").as("order_date"),
          col("ffill_dec").cast("double").as("ffill_revenue"),
          col("ma7"))
    }),

    // E122 (X11): trailing-window anomaly detection — the alerting stage
    // over the gap-filled daily series (x9→x10→this): each day scored
    // against the TRAILING 28 days' mean and sample stddev (current day
    // excluded — the day under test must not contaminate its own
    // baseline), |z| > 3 flags. Missing days are genuine zero-revenue
    // days (coalesce before the window — a gap is a signal here, not a
    // hole). The frame state is EXACT INTEGER CENTS (rev0·100 as long):
    // a decimal sum-of-squares runs to 17+ significant digits, and the
    // two engines round the decimal→double cast differently at that
    // width (measured: 16,595 ulp-forked rows at sf0.1) — whereas long
    // sums are exact and int64→double is one correctly-rounded
    // conversion everywhere. Mean/variance/sqrt are then a fixed double
    // expression over exact integers, mirrored textually in the oracle;
    // z scores in cents space (scale cancels), the currency columns
    // divide by 100 at the boundary. Warm-up rows (fewer than 28
    // trailing days) emit NULL z. Window grain is brand×day — calendar-
    // bounded, the x9 scale argument. Cents bounds: day ≤ 1e8 cents,
    // square 1e16, 28-frame sum 2.8e17 — inside int64; the squared
    // frame-sum term is computed in DOUBLE to stay inside it.
    "x11_anomaly" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val w28 = W.partitionBy(col("brand")).orderBy(col("d"))
        .rowsBetween(-28, -1)
      val series = gapFilledDaily(s, d)
        .withColumn("rev0", coalesce(col("rev_dec"), lit(0).cast(money)))
        .withColumn("cents", (col("rev0") * lit(100)).cast("long"))
      val n = count(col("cents")).over(w28)
      val sumC = sum(col("cents")).over(w28).cast("double")
      val sumSq = sum(col("cents") * col("cents")).over(w28).cast("double")
      val nD = n.cast("double")
      val meanC = sumC / nD
      val varC = (sumSq - sumC * sumC / nD) / (nD - lit(1.0))
      series
        .withColumn("n28", n)
        .withColumn("mean_c", when(col("n28") === 28, meanC))
        .withColumn("sd_c", when(col("n28") === 28, sqrt(varC)))
        .withColumn("z", when(col("sd_c") > 0.0,
          (col("cents").cast("double") - col("mean_c")) / col("sd_c")))
        .select(col("brand"),
          date_format(col("d"), "yyyy-MM-dd").as("order_date"),
          col("rev0").cast("double").as("revenue"),
          (col("mean_c") / lit(100.0)).as("mean28"),
          (col("sd_c") / lit(100.0)).as("sd28"), col("z"),
          (col("z").isNotNull && abs(col("z")) > 3.0).as("is_anomaly"))
    }),

    // E144 (X15): EWMA trend — the exponential-smoothing member of the
    // series family (x9 gap-fill → x10 flat MA → x11 z-score → this):
    // recent days dominate, old days decay geometrically. The recursive
    // s_t = α·x_t + (1−α)·s_{t−1} is a sequential recurrence no engine
    // windows natively; the DEFINED operator here is its K-term finite
    // form with DYADIC α = 1/2, K = 16 (truncation ≤ 2⁻¹⁶ relative —
    // below output printing precision): weight for lag k is 2^(K−1−k)
    // AFTER scaling by 2^K, so numerator and denominator are EXACT LONG
    // sums (x11's integer-cents discipline applied to a weighted
    // window) and the single num/den double division is correctly
    // rounded on both engines. Warm-up rows normalize by the weights
    // actually present (den = 2^K − 2^(K−n), never 0 — lag-0 always
    // present). The 16 lag terms compile to ONE Window exec (one sort,
    // one pass — plan-pinned); grain is brand×day, calendar-bounded.
    // Cents bounds: day ≤ 1e8 cents × 2^15 = 3.3e12, 16-term sum
    // ≤ 5.3e13 — far inside both long and double-exact (2^53) range.
    "x15_ewma" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("brand")).orderBy(col("d"))
      val K = 16
      val series = gapFilledDaily(s, d)
        .withColumn("rev0", coalesce(col("rev_dec"), lit(0).cast(money)))
        .withColumn("cents", (col("rev0") * lit(100)).cast("long"))
      def lagK(k: Int) =
        if (k == 0) col("cents") else lag(col("cents"), k).over(w)
      val num = (0 until K).map { k =>
        val wt = lit(1L << (K - 1 - k))
        if (k == 0) col("cents") * wt
        else coalesce(lagK(k) * wt, lit(0L))
      }.reduce(_ + _)
      val den = (0 until K).map { k =>
        val wt = lit(1L << (K - 1 - k))
        if (k == 0) wt else when(lagK(k).isNotNull, wt).otherwise(lit(0L))
      }.reduce(_ + _)
      series
        .withColumn("ewma_c", num.cast("double") / den.cast("double"))
        .select(col("brand"),
          date_format(col("d"), "yyyy-MM-dd").as("order_date"),
          col("rev0").cast("double").as("revenue"),
          (col("ewma_c") / lit(100.0)).as("ewma16"))
    }),

    // E148 (X16): per-brand OLS TREND FIT — the regression member of
    // the series family (x9 gap-fill → x10 MA → x11 z-score → x15 EWMA
    // → this): least-squares slope + intercept of daily revenue vs day
    // index, the "is this brand growing and how fast" line a forecast
    // starts from. The gap-filled series is CONTIGUOUS by construction
    // (t = 0..n−1 per brand), so the centered substitution
    // u = 2t − (n−1) gives Σu = 0 and the closed forms
    //   slope = 2·Σuy / Σu²,  Σuy = 2·Σty − (n−1)·Σy,
    //   Σu²   = n(n²−1)/3
    // — EVERY sum an exact long over integer cents (the x11
    // discipline; no per-row mean subtraction, no float accumulation).
    // slope = 6·(2Σty − (n−1)Σy) / (n(n²−1)) is ONE long/long double
    // division; intercept (at the series start, t = 0) composes
    // ȳ − slope·(n−1)/2 from correctly-rounded ops mirrored textually
    // in the oracle (the benford-dev convention). Long bounds:
    // Σty ≤ t_max·Σy ≈ 2e13 at sf0.1, ×6 ≈ 1.2e14 — wide margin; a
    // 100-TB series upgrades the two sums to DECIMAL(38,0) (the v5
    // boundary discipline; Pearson r is OMITTED here because its Σy²
    // term crosses 2⁶³ first — the documented wall). Shape: ONE
    // map-side-combined aggregate over the brand×day frame (no window,
    // no sort); the day index rides the broadcast 1-row bounds frame.
    // n=1 degenerates to a zero denominator → NULL slope/intercept,
    // never a ÷0 abort (the Kpi.ratio ANSI discipline).
    "x16_ols_trend" -> ((s, d) => {
      val series = gapFilledDaily(s, d)
        .withColumn("cents",
          (coalesce(col("rev_dec"), lit(0).cast(money)) * lit(100))
            .cast("long"))
      val d0 = series.agg(min(col("d")).as("d0"))
      val agg = series.crossJoin(broadcast(d0))
        .withColumn("t", datediff(col("d"), col("d0")).cast("long"))
        .groupBy(col("brand")).agg(
          count(lit(1)).as("n"),
          sum(col("cents")).as("sy"),
          sum(col("t") * col("cents")).as("sty"))
      val n = col("n")
      val num = lit(6L) * (lit(2L) * col("sty") - (n - lit(1L)) * col("sy"))
      val den = n * (n * n - lit(1L))
      val slope = num.cast("double") / den.cast("double")
      val nullD = lit(null).cast("double")
      agg.select(col("brand"), n.as("n_days"),
        when(den === 0L, nullD).otherwise(slope)
          .as("slope_cents_per_day"),
        when(den === 0L, nullD).otherwise(
          col("sy").cast("double") / n.cast("double") -
            slope * ((n - lit(1L)).cast("double") / lit(2.0)))
          .as("intercept_cents"))
    }),

    // E150 (X17): day-of-week SEASONALITY index — the seasonal member
    // of the series family (x16 fits the trend; this profiles the
    // weekly cycle around it): per brand×weekday, mean daily revenue
    // and its ratio to the brand's all-days mean ("Saturdays run 1.4×").
    // The index is the fully-RATIONAL form
    //   (s_dow/n_dow) / (s_all/n_all) = s_dow·n_all / (n_dow·s_all)
    // — numerator and denominator EXACT LONG products over integer
    // cents (s·n ≤ 1.3e13 at sf0.1 — wide margin), so the one double
    // division is correctly rounded on both engines; no intermediate
    // float means ever meet each other. Shape: one map-side-combined
    // aggregate to brand×dow grain (≤ 7 rows per brand), brand totals
    // via a whole-partition window over those 7 rows (the mix2
    // convention — nothing corpus-scale shuffles twice). Weekday
    // numbering is Spark's dayofweek (1=Sun..7=Sat); the oracle maps
    // DuckDB's 0-based dayofweek by +1. Zero-revenue brands yield NULL
    // index, never ÷0 (Kpi.ratio ANSI discipline); n_dow ≥ 1 always
    // (the gap-filled calendar covers every weekday).
    "x17_dow_seasonality" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val wb = W.partitionBy(col("brand"))
      val agg = gapFilledDaily(s, d)
        .withColumn("cents",
          (coalesce(col("rev_dec"), lit(0).cast(money)) * lit(100))
            .cast("long"))
        .groupBy(col("brand"), dayofweek(col("d")).cast("long").as("dow"))
        .agg(count(lit(1)).as("n_days"), sum(col("cents")).as("s_dow"))
        .withColumn("n_all", sum(col("n_days")).over(wb))
        .withColumn("s_all", sum(col("s_dow")).over(wb))
      agg.select(col("brand"), col("dow"), col("n_days"),
        (col("s_dow").cast("double") / col("n_days").cast("double") /
          lit(100.0)).as("mean_rev"),
        when(col("s_all") === 0L, lit(null).cast("double")).otherwise(
          (col("s_dow") * col("n_all")).cast("double") /
            (col("n_days") * col("s_all")).cast("double"))
          .as("seasonal_index"))
    }),

    // E154 (X18): week-over-week GROWTH — the comparison member closing
    // the series family (gap-fill → MA → z-score → EWMA → trend →
    // seasonality → this): weekly revenue per brand and its WoW change,
    // the first row of every revenue dashboard. Weeks are exact integer
    // buckets off the series start (week = ⌊t/7⌋ via g1's idiv idiom —
    // no ISO-week/engine-calendar semantics in the answer, the e2
    // epoch-bucket discipline applied to days); weekly sums are exact
    // long cents, and growth = (cur−prev)/prev is ONE correctly-rounded
    // long/long division, NULL on a zero or absent base week (Kpi.ratio
    // ANSI discipline — a dashboard shows "—", it doesn't abort).
    // Shape: the day index rides the broadcast 1-row bounds frame (x16
    // convention), one map-side-combined aggregate to brand×week grain,
    // ONE lag window over that tiny grain. Trailing partial weeks are
    // kept and flagged (n_days < 7) — silently dropping them would make
    // the newest point disappear, the wrong default for a dashboard;
    // the flag lets the reader discount it (no silent caps).
    "x18_wow_growth" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val series = gapFilledDaily(s, d)
        .withColumn("cents",
          (coalesce(col("rev_dec"), lit(0).cast(money)) * lit(100))
            .cast("long"))
      val d0 = series.agg(min(col("d")).as("d0"))
      val t = datediff(col("d"), col("d0")).cast("long")
      val weekly = series.crossJoin(broadcast(d0))
        .withColumn("week_idx", ((t - pmod(t, lit(7L))) / lit(7L))
          .cast("long"))
        .groupBy(col("brand"), col("week_idx"))
        .agg(count(lit(1)).as("n_days"), sum(col("cents")).as("wk_cents"))
      val w = W.partitionBy(col("brand")).orderBy(col("week_idx"))
      val prev = lag(col("wk_cents"), 1).over(w)
      weekly
        .withColumn("prev_cents", prev)
        .select(col("brand"), col("week_idx"), col("n_days"),
          (col("wk_cents").cast("double") / lit(100.0)).as("revenue"),
          when(col("prev_cents").isNull || col("prev_cents") === 0L,
            lit(null).cast("double"))
            .otherwise((col("wk_cents") - col("prev_cents")).cast("double") /
              col("prev_cents").cast("double")).as("wow_growth"))
    }),

    // E85 (F14): ordered-event funnel — view → click → purchase with
    // strict temporal ordering (first view, first click AFTER it, first
    // purchase after THAT): the conversion query every event pipeline
    // runs, and one that naive per-type mins get wrong (a click before
    // the first view must not count). Cascaded user-grain aggregates:
    // each stage filters its event type, joins the previous stage's
    // timestamp (user-keyed equi join over monotonically SHRINKING
    // frames), takes a conditional min. Left joins assemble the per-user
    // funnel row; depth counts completed stages.
    // E117 (F15): LAST-TOUCH attribution — each purchase credits the
    // most recent view/click by the same user within a 7-day lookback;
    // no touch in window ⇒ 'direct'. The product-analytics op between
    // f14 (fixed funnel) and as1 (as-of join): attribution IS an as-of
    // pick, here per purchase with a bounded lookback, aggregated to
    // the channel report. Value rides the e2 decimal-sum discipline;
    // share is a whole-frame window over the 3-row aggregate (the mix2
    // convention). Ties (same touch ts) break to the higher event id —
    // deterministic, mirrored in the oracle.
    "f15_attribution" -> ((s, d) => {
      val ev0 = Sources.table(s, d, "events")
      val ev = ev0.select(col("event_id"), col("user_id"),
        col("event_type"), col("value"), Sources.epochUs(ev0).as("ts_us"))
      val lookbackUs = 7L * 24 * 3600 * 1000000L
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("value").as("p_value"), col("ts_us").as("p_ts"))
      val t = ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id").as("t_user"),
          col("event_type").as("touch_type"),
          col("ts_us").as("t_ts"), col("event_id").as("t_id"))
      val joined = p.join(t,
        col("t_user") === col("user_id") &&
          col("t_ts") <= col("p_ts") &&
          col("t_ts") > col("p_ts") - lookbackUs, "left")
      val last = joined.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("p_id"))
            .orderBy(col("t_ts").desc_nulls_last,
              col("t_id").desc_nulls_last)))
        .filter(col("rn") === 1)
        .select(col("p_id"), col("p_value"),
          coalesce(col("touch_type"), lit("direct")).as("channel"))
      val agg = last.groupBy(col("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("p_value").cast(DecimalType(18, 6))).cast("double")
            .as("attributed_value"))
      agg.select(col("channel"), col("n_purchases"),
        col("attributed_value"),
        (col("n_purchases").cast("double") /
          sum(col("n_purchases")).over(
            org.apache.spark.sql.expressions.Window.partitionBy())
            .cast("double")).as("share"))
    }),

    // E166 (F19): U-SHAPED MULTI-TOUCH attribution — f15's sibling
    // completing the attribution pair (f15 credits ONLY the last touch;
    // position-based multi-touch is what a marketing-mix review actually
    // reads): every view/click in the purchase's 7-day lookback shares
    // the credit — 40% first touch, 40% last, 20% split across the
    // middles (n=1 → 100%, n=2 → 50/50, no touch → 'direct' 100%).
    // Credits are EXACT INTEGER MILLI-CREDITS (sum = exactly 1000 per
    // purchase, spec-pinned): the middle share is 200 DIV (n−2) with
    // the remainder assigned to the EARLIEST middle — deterministic,
    // no float ever splits a credit (0.4 isn't even dyadic). Same
    // touch relation as f15 (one definition); the position window
    // rides the purchase grain (lookback-bounded, never fact-wide);
    // value attribution = Σ value_dec·milli exact, double boundary.
    "f19_multi_touch" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val ev0 = Sources.table(s, d, "events")
      val ev = ev0.select(col("event_id"), col("user_id"),
        col("event_type"), col("value"), Sources.epochUs(ev0).as("ts_us"))
      val lookbackUs = 7L * 24 * 3600 * 1000000L
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("value").as("p_value"), col("ts_us").as("p_ts"))
      val t = ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id").as("t_user"),
          col("event_type").as("touch_type"),
          col("ts_us").as("t_ts"), col("event_id").as("t_id"))
      val joined = p.join(t,
        col("t_user") === col("user_id") &&
          col("t_ts") <= col("p_ts") &&
          col("t_ts") > col("p_ts") - lookbackUs, "left")
      val byPurchase = W.partitionBy(col("p_id"))
      val pos = joined
        .withColumn("rn", row_number().over(
          byPurchase.orderBy(col("t_ts").asc_nulls_last,
            col("t_id").asc_nulls_last)))
        .withColumn("n", count(col("t_id")).over(byPurchase))
      val credited = pos.withColumn("milli",
          when(col("n") === 0L, 1000L) // the left-join null row: direct
            .when(col("n") === 1L, 1000L)
            .when(col("n") === 2L, 500L)
            .when(col("rn") === 1L, 400L)
            .when(col("rn") === col("n"), 400L)
            .otherwise(expr("200 DIV (n - 2)") +
              when(col("rn") === 2L,
                lit(200L) - expr("200 DIV (n - 2)") * (col("n") - 2L))
                .otherwise(0L)))
        .select(coalesce(col("touch_type"), lit("direct")).as("channel"),
          col("milli"), col("p_value"))
      val agg = credited.groupBy(col("channel"))
        .agg(count(lit(1)).as("n_touches"),
          sum(col("milli")).as("milli"),
          // milli as DECIMAL(4,0): the (18,6)×(4,0) product stays at
          // precision 23 — a long operand would type as decimal(20,0)
          // and push the product past 38, triggering engine-specific
          // precision-loss rounding
          sum(col("p_value").cast(DecimalType(18, 6)) *
            col("milli").cast(DecimalType(4, 0))).as("val_milli_dec"))
      agg.select(col("channel"), col("n_touches"),
          (col("milli").cast("double") / lit(1000.0)).as("credit"),
          (col("val_milli_dec").cast("double") / lit(1000.0))
            .as("attributed_value"),
          when(sum(col("milli")).over(W.partitionBy()) === 0L,
            lit(null).cast("double"))
            .otherwise(col("milli").cast("double") /
              sum(col("milli")).over(W.partitionBy()).cast("double"))
            .as("credit_share"))
    }),

    // E118 (F16): RFM segmentation — the CRM scoring every e-commerce
    // stack derives from its orders table: per customer, Recency (days
    // since last order vs the corpus anchor), Frequency (order count),
    // Monetary (decimal-summed spend), each quintiled to a 1–5 score
    // (ntile over a DETERMINISTIC total order — metric then user_id, so
    // both engines tile identically), plus the named segment the scores
    // imply. One fact-width shuffle (the user-grain aggregate); the
    // three ntile sorts run over the CUSTOMER-grain frame (dimension
    // cardinality — the x7 "window over the aggregated frame, never the
    // fact" shape), and the 100-TB swap is the t13x convention: approx-
    // quantile score thresholds + a narrow filter instead of global
    // sorts. Recency arithmetic stays in exact epoch-micros longs
    // (anchor − last) DIV day — both operands nonnegative so truncation
    // IS floor, no calendar library in the answer. The anchor is a
    // whole-frame window max over the CUSTOMER frame (not a second fact
    // scan and not a broadcast join — the frame already pays three
    // global window sorts, a fourth unpartitioned window is free).
    "f16_rfm" -> ((s, d) => {
      val ord0 = Sources.table(s, d, "orders")
      val perUser = ord0.select(col("o_custkey").as("user_id"),
          Sources.epochUs(ord0, "o_orderdate").as("ts_us"),
          col("o_totalprice"))
        .groupBy(col("user_id"))
        .agg(max(col("ts_us")).as("last_us"),
          count(lit(1)).as("frequency"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("mon_dec"))
      val W = org.apache.spark.sql.expressions.Window
      val r = ntile(5).over(
        W.orderBy(col("recency_days").desc, col("user_id").desc))
      val f = ntile(5).over(
        W.orderBy(col("frequency").asc, col("user_id").asc))
      val m = ntile(5).over(
        W.orderBy(col("mon_dec").asc, col("user_id").asc))
      perUser
        .withColumn("anchor_us", max(col("last_us")).over(W.partitionBy()))
        .withColumn("recency_days",
          expr("(anchor_us - last_us) DIV 86400000000"))
        .withColumn("r_score", r.cast("long"))
        .withColumn("f_score", f.cast("long"))
        .withColumn("m_score", m.cast("long"))
        .select(col("user_id"), col("recency_days"), col("frequency"),
          col("mon_dec").cast("double").as("monetary"),
          col("r_score"), col("f_score"), col("m_score"),
          when(col("r_score") >= 4 && col("f_score") >= 4 &&
            col("m_score") >= 4, "champion")
            .when(col("r_score") >= 4 && col("f_score") >= 3, "loyal")
            .when(col("r_score") <= 2 && col("f_score") >= 3, "at_risk")
            .when(col("r_score") <= 1 && col("f_score") <= 2, "lost")
            .otherwise("regular").as("segment"))
    }),

    // E119 (MB1): market-basket affinity — support / confidence / lift
    // over within-order product pairs, the association-rule primitive
    // behind "frequently bought together". Baskets form in ONE fact-width
    // shuffle (groupBy order → sorted distinct-part array); ordered pairs
    // explode WITHIN each array (element i × every later element — no
    // self-join, so the fact never meets itself in a shuffle), bounded by
    // basket size squared per order, linear in orders. The min-pair-count
    // filter (the d7 DF-cap discipline) prunes the pair relation BEFORE
    // the per-item join-backs, which AQE sizes (lm1 convention); the
    // basket total rides a broadcast 1-row bounds frame. Every output
    // ratio is ONE double division of exact long products (pair·N and
    // cnt_a·cnt_b stay far inside int64 at any real catalog), so both
    // engines agree bitwise. The basket relation feeds THREE consumers
    // (pairs, item counts, the total) — persisted so the fact is scanned
    // and shuffled once, not once per consumer (the pipe2 barrier rule;
    // Verify/Bench clearCache after each query). The basket/pair/count
    // relations are the SHARED Baskets definitions rec1 also composes.
    "mb1_basket_lift" -> ((s, d) => {
      import graft.operators.Baskets
      val baskets = Baskets.baskets(Sources.table(s, d, "lineitem"))
      val pairCnt = Baskets.canonicalPairs(baskets)
        .groupBy(col("part_a"), col("part_b"))
        .agg(count(lit(1)).as("pair_count"))
        .filter(col("pair_count") >= 2)
      // persisted: joined back twice (cnt_a, cnt_b) — without a cache
      // each join-back re-runs the item-count explode + aggregation
      // (measured: its shuffle was written twice per run, the rec1
      // pattern). Item grain, small; released by the house clearCache.
      val ic = Baskets.itemCounts(baskets).persist()
      val bounds = baskets.agg(count(lit(1)).as("n_orders"))
      val lifted = pairCnt
        .join(ic.select(col("p").as("part_a"), col("c").as("cnt_a")),
          Seq("part_a"))
        .join(ic.select(col("p").as("part_b"), col("c").as("cnt_b")),
          Seq("part_b"))
        .crossJoin(broadcast(bounds))
        .select(col("part_a"), col("part_b"), col("pair_count"),
          (col("pair_count").cast("double") /
            col("n_orders").cast("double")).as("support"),
          (col("pair_count").cast("double") /
            col("cnt_a").cast("double")).as("confidence"),
          ((col("pair_count") * col("n_orders")).cast("double") /
            (col("cnt_a") * col("cnt_b")).cast("double")).as("lift"))
      // interior persists release after the first action (r16, the
      // rec1 contract) — no external clearCache needed.
      graft.operators.CacheRelease.afterFirstRun(lifted, baskets, ic)
    }),

    // E147 (REC1): item-item CF recommendations — per-product top-5
    // co-purchase cosine lists over mb1's basket pair relation (one
    // fact-width shuffle, within-array pair explode, DF-cap prune,
    // rank-limited window). See ItemItemCf.scala for the parity story.
    "rec1_item_item_cf" -> ((s, d) =>
      graft.operators.ItemItemCf.recommend(
        Sources.table(s, d, "lineitem"))),

    // E128 (X12): local-supplier revenue by nation — the TPC-H Q5 shape
    // over the until-now-unused dimension chain (customer → nation →
    // region, supplier → nation): revenue where the customer and the
    // line's supplier share a nation, restricted to one region, grouped
    // by nation. The multi-dim join-planning exercise: four dimension
    // tables broadcast (AQE decides; the region filter prunes nation
    // keys BEFORE the fact joins via the runtime bloom/dpp machinery),
    // the fact shuffles only for its two equi-joins against orders ⋈
    // customer. Revenue = Σ price·(1−discount) in DECIMAL end to end
    // (float per-row products would be deterministic but their SUM's
    // fold order would not be), double only at the boundary.
    // E155 (SUP1): supplier CONCENTRATION audit — per-nation
    // Herfindahl-Hirschman index + top-supplier share over supplier
    // revenue: the supply-chain risk screen ("nation X routes 40% of
    // its volume through one supplier") on the dimension chain x12
    // opened. HHI = Σsᵢ²/(Σsᵢ)² with the squares in DECIMAL(38,0)
    // (Spark) / HUGEINT (DuckDB) — cents² ≈ 5e19 crosses int64, the v5
    // boundary discipline, exact in any fold order — and the
    // denominator square taken in DOUBLE on BOTH engines (an integer
    // (Σs)² ≈ 3e22 would overflow DuckDB's BIGINT: the mirrored-ops
    // rule decides the representation, not each engine's headroom).
    // Both reporting ratios NULL-guard zero revenue (Kpi.ratio).
    // Shape: fact⋈supplier shuffles once to supplier grain (map-side
    // combined), nation grain is a ≤25-row re-aggregate, the nation
    // name broadcasts.
    "sup1_supplier_hhi" -> ((s, d) => {
      val dec38 = DecimalType(38, 0)
      val rev = Sources.table(s, d, "lineitem")
        .join(Sources.table(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), col("s_suppkey"))
        .agg(sum(col("l_extendedprice").cast(money)).as("rev_dec"))
        .select(col("s_nationkey"),
          (col("rev_dec") * lit(100)).cast("long").as("cents"))
      val agg = rev.groupBy(col("s_nationkey")).agg(
        count(lit(1)).as("n_suppliers"),
        sum(col("cents")).as("sx"),
        sum(col("cents").cast(dec38) * col("cents")).as("sq"),
        max(col("cents")).as("mx"))
      val nullD = lit(null).cast("double")
      agg.join(broadcast(Sources.table(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("n_suppliers"),
          (col("sx").cast("double") / lit(100.0)).as("revenue"),
          when(col("sx") === 0L, nullD).otherwise(
            col("sq").cast("double") /
              (col("sx").cast("double") * col("sx").cast("double")))
            .as("hhi"),
          when(col("sx") === 0L, nullD).otherwise(
            col("mx").cast("double") / col("sx").cast("double"))
            .as("top_share"))
    }),

    "x12_local_supplier_revenue" -> ((s, d) => {
      val one = lit(1).cast(money)
      val rev = col("l_extendedprice").cast(money) *
        (one - col("l_discount").cast(money))
      Sources.table(s, d, "orders")
        .join(Sources.table(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(Sources.table(s, d, "lineitem"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Sources.table(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(Sources.table(s, d, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .join(Sources.table(s, d, "region"),
          col("n_regionkey") === col("r_regionkey") &&
            col("r_name") === "ASIA")
        .groupBy(col("n_name").as("nation"))
        .agg(sum(rev).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // E141 (X13): TPC-H Q3-shaped SHIPPING PRIORITY — top-10 unshipped
    // orders by pending revenue for one segment as of a cutoff date:
    // the classic "what do we expedite" OLAP probe. Revenue on the
    // x12 decimal-sum discipline; top-k is TakeOrderedAndProject
    // (bounded heap per partition, never a full sort) with an orderkey
    // tie-break; the segment filter prunes the customer build side
    // BEFORE the join and dates push to the scans.
    // E161 (X19): LARGE-VOLUME ORDERS — the TPC-H Q18 shape, the one
    // aggregate-HAVING-semi-join pattern the x-tier lacked: orders
    // whose total line quantity clears a threshold (bulk/wholesale
    // screening), decorated with customer and order facts. The shape's
    // point is WHERE the predicate runs: quantity sums at ORDER grain
    // with a map-side-combined aggregate and the HAVING prunes there —
    // the big fact relation never carries non-qualifying orders into
    // the join-backs (a filter-after-join would); the surviving key
    // set is tiny, so AQE broadcasts it into both decorations. Exact
    // decimal quantity sums, double at the boundary; deterministic
    // (qty desc, orderkey) top-100 via TakeOrderedAndProject.
    "x19_large_orders" -> ((s, d) => {
      val qualifying = Sources.table(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast(money)).as("qty_dec"))
        .filter(col("qty_dec") > lit(95).cast(money))
      qualifying
        .join(Sources.table(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Sources.table(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey").as("custkey"), col("c_name").as("name"),
          col("o_orderkey").as("orderkey"),
          substring(col("o_orderdate").cast("string"), 1, 10)
            .as("order_date"),
          col("o_totalprice").as("total_price"),
          col("qty_dec").cast("double").as("total_qty"))
        .orderBy(col("total_qty").desc, col("orderkey").asc)
        .limit(100)
    }),

    // E162 (X20): IDLE-CAPITAL screen — the TPC-H Q22 shape completing
    // the correlated-subquery family: customers with above-average
    // account balance and no order since the recency cutoff (capital
    // parked by LAPSED accounts), summarized per nation. Two classic
    // pieces: the global positive-balance mean as a 1-row broadcast
    // bounds frame (never a per-row recompute; decimal-sum and count
    // BOTH cast double before the one division — decimal÷decimal scale
    // rules differ per engine, double÷double is IEEE-identical), and
    // NOT EXISTS as a LEFT ANTI against the date-filtered orders key
    // projection (the p3/j3 discipline — the cutoff pushes into the
    // scan BEFORE the distinct, so the anti build side is recent keys
    // only). Balance sums in DECIMAL, double at the boundary; the
    // result rides the ≤25-nation grain.
    "x20_idle_capital" -> ((s, d) => {
      val cust = Sources.table(s, d, "customer")
      // greatest(count,1) guards the zero-positive-balance degenerate:
      // Spark 4 ANSI throws on /0 even for doubles (the Kpi.ratio
      // rationale); with the guard the NULL sum propagates and both
      // engines return the same empty result
      val bounds = cust.where(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast(money)).cast("double") /
          greatest(count(lit(1)), lit(1L)).cast("double")).as("avg_bal"))
      cust
        .crossJoin(broadcast(bounds))
        .where(col("c_acctbal") > col("avg_bal"))
        .join(Sources.table(s, d, "orders")
            .where(col("o_orderdate") >= to_timestamp(lit("2000-06-01")))
            .select(col("o_custkey")).distinct(),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast(money)).cast("double").as("idle_balance"))
    }),

    // E177 (X21): WAITING-SUPPLIER census — the TPC-H Q21 shape, the
    // one multi-correlated self-join pattern the x-tier lacked:
    // suppliers whose lineitem was the ONLY late line in a
    // multi-supplier finalized order (correlated EXISTS another-
    // supplier line AND NOT EXISTS another-supplier LATE line against
    // the same table under different aliases). Spark-first rewrite:
    // both quantifiers collapse into per-order distinct-supplier
    // counts over ONE orderkey-partitioned window (collect_set —
    // per-order line counts are bounded by construction), so the fact
    // shuffles ONCE instead of three self-join passes; the
    // supplier⋈nation dimension broadcasts onto the supplier-grain
    // aggregate. Lateness = shipped > 60 days after order date (this
    // schema carries no commit/receipt dates; the quantifier structure
    // is the point). The oracle runs the LITERAL EXISTS / NOT EXISTS
    // form — two genuinely different decompositions of the answer.
    "x21_waiting_suppliers" -> ((s, d) => {
      val o = Sources.table(s, d, "orders")
        .where(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      // restricting to F orders before the window is safe: the
      // quantifier lines share l1's orderkey, hence l1's (F) order
      val l = Sources.table(s, d, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 60 DAYS")).as("late"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_orderkey"))
      // both quantifier counts in ONE projection → one Window node
      // (two stacked withColumns would plan two)
      val qual = l
        .select(col("l_suppkey"), col("late"),
          size(collect_set(col("l_suppkey")).over(w)).as("ns"),
          size(collect_set(
            when(col("late"), col("l_suppkey"))).over(w)).as("nl"))
        .where(col("late") && col("ns") > 1 && col("nl") === 1)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
      val supp = Sources.table(s, d, "supplier")
        .join(Sources.table(s, d, "nation"),
          col("s_nationkey") === col("n_nationkey") &&
            col("n_regionkey") === 0)
        .select(col("s_suppkey"), col("s_name"))
      qual.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(100)
    }),

    // E178 (X22): MIN-COST SUPPLIER per part — the TPC-H Q2 shape, the
    // x-tier's remaining correlated-scalar pattern: for every scoped
    // part, the supplier(s) achieving the MINIMUM cost within a region
    // (ties all returned, Q2's semantics). The schema carries no
    // partsupp table, so the catalog is DERIVED: cheapest observed
    // line price per (part, supplier) — one map-side-combined
    // aggregate. Spark-first rewrite: the correlated
    // `cost = (SELECT min(cost) ... WHERE same part)` becomes a
    // part-partitioned window MIN + filter — the argmin rides the
    // aggregate's own shuffle key (no join-back, no second scan of the
    // fact); region/part dims broadcast. The oracle runs the LITERAL
    // correlated scalar subquery — two genuinely different
    // decompositions of the answer.
    "x22_mincost_supplier" -> ((s, d) => {
      val ps = Sources.table(s, d, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice").cast(money)).as("cost"))
      val supp = Sources.table(s, d, "supplier")
        .join(Sources.table(s, d, "nation"),
          col("s_nationkey") === col("n_nationkey") &&
            col("n_regionkey") === 1)
        .select(col("s_suppkey"), col("s_name"), col("n_name").as("nation"))
      val pt = Sources.table(s, d, "part")
        .where(col("p_size") <= 10 && col("p_type") === "SMALL")
        .select(col("p_partkey"), col("p_brand"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_partkey"))
      ps.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .withColumn("min_cost", min(col("cost")).over(w))
        .where(col("cost") === col("min_cost"))
        .select(col("l_partkey").as("partkey"), col("p_brand").as("brand"),
          col("s_name"), col("nation"),
          col("cost").cast("double").as("cost"))
    }),

    // E179 (X23): ORDER-COUNT DISTRIBUTION — the TPC-H Q13 shape, the
    // one double-aggregate pattern the x-tier lacked: count per
    // customer INCLUDING zeros (the left join is the semantics — an
    // inner join silently drops never-ordered customers from the 0
    // bucket), then the histogram of those counts. Scale: the outer
    // join and the per-customer count share the custkey shuffle (AQE
    // reuses the partitioning); the second aggregate runs at count
    // grain — tiny. No window, no sort.
    "x23_order_count_histogram" -> ((s, d) => {
      val o = Sources.table(s, d, "orders")
        .where(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"), col("o_orderkey"))
      Sources.table(s, d, "customer")
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }),

    // E183 (X24): DOMINANT-SUPPLIER census — the TPC-H Q20 shape, the
    // x-tier's remaining correlated pattern: a nested semi-join whose
    // inner predicate is a correlated AGGREGATE comparison (Q20's
    // "availqty > half the part's shipped quantity"). The schema
    // carries no partsupp, so the catalog is DERIVED (the x22
    // convention): per (part, supplier) shipped quantity in the scoped
    // year, and a supplier qualifies if for SOME scoped part it
    // shipped MORE THAN HALF of the part's total — strict >, exact
    // DECIMAL sums (ties at exactly half never qualify; OlapEdgeSpec
    // pins the boundary). Spark-first rewrite: the correlated
    // `(SELECT sum ... same part)` becomes a part-partitioned window
    // SUM on the aggregate grain (x22's no-join-back trick), the part
    // scope broadcasts INTO the fact scan before the aggregate, and
    // the IN-subquery becomes a supplier-grain distinct + left-semi.
    // The oracle runs the LITERAL nested IN + correlated scalar form.
    "x24_dominant_supplier" -> ((s, d) => {
      val scoped = Sources.table(s, d, "part")
        .where(col("p_name").startsWith("small"))
        .select(col("p_partkey"))
      val ps = Sources.table(s, d, "lineitem")
        .where(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")))
        .join(broadcast(scoped), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast(money)).as("qty"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_partkey"))
      val dominant = ps
        .select(col("l_suppkey"), col("qty"),
          sum(col("qty")).over(w).as("part_total"))
        .where(col("qty") * 2 > col("part_total"))
        .select(col("l_suppkey")).distinct()
      Sources.table(s, d, "supplier")
        .join(Sources.table(s, d, "nation"),
          col("s_nationkey") === col("n_nationkey") &&
            col("n_regionkey") === 2)
        .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"), col("n_name").as("nation"))
        .orderBy(col("s_name").asc)
    }),

    "x13_shipping_priority" -> ((s, d) => {
      val cutoff = to_timestamp(lit("1998-07-01"))
      val rev = col("l_extendedprice").cast(money) *
        (lit(1).cast(money) - col("l_discount").cast(money))
      Sources.table(s, d, "customer")
        .where(col("c_mktsegment") === "BUILDING")
        .join(Sources.table(s, d, "orders"),
          col("c_custkey") === col("o_custkey") &&
            col("o_orderdate") < cutoff)
        .join(Sources.table(s, d, "lineitem"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > cutoff)
        .groupBy(col("l_orderkey"),
          substring(col("o_orderdate").cast("string"), 1, 10)
            .as("order_date"),
          col("o_orderpriority").as("priority"))
        .agg(sum(rev).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // E143 (X14): TPC-H Q1-shaped PRICING SUMMARY — the canonical
    // wide-aggregate scan (4 decimal sums, 3 derived means, a count
    // per flag/status cell): one pass, map-side-combined, group
    // cardinality O(flags x statuses). Means are explicit
    // decimal-sum / count double divisions (never engine avg(), whose
    // decimal scale rules differ); the date predicate pushes to the
    // scan.
    "x14_pricing_summary" -> ((s, d) => {
      val li = Sources.table(s, d, "lineitem")
        .where(col("l_shipdate") <= to_timestamp(lit("2001-09-01")))
      // Narrow factor types so the 3-factor product stays EXACT under
      // both engines' decimal precision rules (price d(12,2) x rate
      // d(3,2) x rate d(3,2) -> scale 6, far inside 38): the generic
      // d(18,2) money type would push Spark past precision 38 on the
      // triple product and trigger its precision-loss rounding.
      val rate = DecimalType(3, 2)
      val price = col("l_extendedprice").cast(DecimalType(12, 2))
      val disc = price * (lit(1).cast(rate) - col("l_discount").cast(rate))
      val charged = disc * (lit(1).cast(rate) + col("l_tax").cast(rate))
      li.groupBy(col("l_returnflag").as("returnflag"),
          col("l_linestatus").as("linestatus"))
        .agg(sum(col("l_quantity").cast(money)).cast("double").as("sum_qty"),
          sum(price).cast("double").as("sum_base_price"),
          sum(disc).cast("double").as("sum_disc_price"),
          sum(charged).cast("double").as("sum_charge"),
          count(lit(1)).as("n_items"))
        .select(col("returnflag"), col("linestatus"), col("sum_qty"),
          col("sum_base_price"), col("sum_disc_price"), col("sum_charge"),
          (col("sum_qty") / col("n_items").cast("double")).as("avg_qty"),
          (col("sum_base_price") / col("n_items").cast("double"))
            .as("avg_price"),
          col("n_items"))
    }),

    // E121 (AB1): A/B experiment lift — the two-proportion experiment
    // readout product analytics runs on every feature flag: users split
    // into control/treatment by the deterministic md5-prefix rule (the
    // splitOf convention — rerun-stable, any worker re-derives any
    // user's arm), conversion = a purchase within 7 days of the user's
    // FIRST view (a windowed binary outcome with real variance — "ever
    // purchased" is degenerate on this corpus), plus per-arm revenue in
    // the window (decimal sums) and the pooled two-proportion z-score.
    // Two user-grain aggregates + one 1-row report; every rate is an
    // ANSI-safe ratio of exact longs and the z arithmetic is a fixed
    // left-associative double expression mirrored textually in the
    // oracle (sqrt is IEEE correctly-rounded in both engines).
    "ab1_experiment_lift" -> ((s, d) => {
      val ev0 = Sources.table(s, d, "events")
      val ev = ev0.select(col("user_id"), col("event_type"), col("value"),
        Sources.epochUs(ev0).as("us"))
      val winUs = 604800000000L
      val fv = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
      val inWin = col("event_type") === "purchase" &&
        col("us") >= col("v_us") && col("us") < col("v_us") + winUs
      val u = ev.join(fv, Seq("user_id"))
        .groupBy(col("user_id"))
        .agg(max(when(inWin, 1L).otherwise(0L)).as("converted"),
          sum(when(inWin, col("value")).cast(DecimalType(18, 6)))
            .as("rev_dec"))
        .withColumn("variant",
          when(substring(graft.functions.TextFunctions
            .docIdHash(col("user_id")), 1, 1) < "8", "control")
            .otherwise("treatment"))
      val r = u.agg(
        count(when(col("variant") === "control", 1)).as("n_control"),
        count(when(col("variant") === "treatment", 1)).as("n_treatment"),
        coalesce(sum(when(col("variant") === "control", col("converted"))),
          lit(0L)).as("conv_control"),
        coalesce(sum(when(col("variant") === "treatment", col("converted"))),
          lit(0L)).as("conv_treatment"),
        sum(when(col("variant") === "control", col("rev_dec")))
          .cast("double").as("rev_control"),
        sum(when(col("variant") === "treatment", col("rev_dec")))
          .cast("double").as("rev_treatment"))
      val rateC = Kpi.ratio(col("conv_control").cast("double"),
        col("n_control").cast("double"))
      val rateT = Kpi.ratio(col("conv_treatment").cast("double"),
        col("n_treatment").cast("double"))
      val pPool = (col("conv_control") + col("conv_treatment"))
        .cast("double") /
        (col("n_control") + col("n_treatment")).cast("double")
      val se = sqrt(pPool * (lit(1.0) - pPool) *
        (lit(1.0) / col("n_control").cast("double") +
          lit(1.0) / col("n_treatment").cast("double")))
      r.select(col("n_control"), col("n_treatment"),
        col("conv_control"), col("conv_treatment"),
        rateC.as("rate_control"), rateT.as("rate_treatment"),
        (rateT - rateC).as("abs_lift"),
        col("rev_control"), col("rev_treatment"),
        when(se > 0.0, (rateT - rateC) / se)
          .otherwise(lit(null).cast("double")).as("z_score"))
    }),

    // E124 (F17): repeat-purchase interval distribution — the retention
    // statistic behind CLV / churn models: the gap in whole days between
    // each user's CONSECUTIVE purchases (one user-grain window pass, lag
    // over (ts, event_id) — the path1 shape at purchase grain),
    // aggregated to the gap histogram with a share column (whole-frame
    // window over the |distinct gaps|-row aggregate — the mix2/f15
    // convention). Gap arithmetic is exact epoch-micros longs; the
    // histogram is bounded by the calendar span whatever the log size.
    // E156 (F18): order-to-SHIP LATENCY distribution — the fulfillment
    // SLA histogram (how many days from order to each line shipping;
    // the ops twin of f17's customer-side repurchase gaps): per exact
    // integer day-gap, item count and share. Gaps are engine-exact
    // DATE subtraction (no timestamps, no TZ); the share rides a
    // whole-frame window over the gap grain — bounded by the latency
    // DOMAIN in days (~5k values here), never fact-wide (mix2 rule) —
    // one fact-width join + map-side-combined aggregate, nothing
    // corpus-scale shuffles twice. The orders side joins on the key
    // only (AQE picks the side to broadcast at real scale).
    "f18_ship_latency" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val gaps = Sources.table(s, d, "lineitem")
        .join(Sources.table(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(datediff(col("l_shipdate"), col("o_orderdate"))
          .cast("long").as("latency_days"))
        .groupBy(col("latency_days")).agg(count(lit(1)).as("n_items"))
      val total = sum(col("n_items")).over(W.partitionBy())
      gaps.withColumn("tot", total)
        .select(col("latency_days"), col("n_items"),
          when(col("tot") === 0L, lit(null).cast("double")).otherwise(
            col("n_items").cast("double") / col("tot").cast("double"))
            .as("share"))
    }),

    "f17_repurchase_intervals" -> ((s, d) => {
      val ev0 = Sources.table(s, d, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val gaps = ev0.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          Sources.epochUs(ev0).as("us"))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .filter(col("prev_us").isNotNull)
        .select(expr("(us - prev_us) DIV 86400000000").as("gap_days"))
      gaps.groupBy(col("gap_days"))
        .agg(count(lit(1)).as("n_gaps"))
        .withColumn("share", col("n_gaps").cast("double") /
          sum(col("n_gaps")).over(
            org.apache.spark.sql.expressions.Window.partitionBy())
            .cast("double"))
    }),

    "f14_funnel" -> ((s, d) => {
      val ev0 = Sources.table(s, d, "events")
      val ev = ev0.select(col("user_id"), col("event_type"),
        Sources.epochUs(ev0).as("ts_us"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("view_us"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts_us") > col("view_us"))
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("click_us"))
      val pch = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts_us") > col("click_us"))
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("purchase_us"))
      v.join(c, Seq("user_id"), "left")
        .join(pch, Seq("user_id"), "left")
        .select(col("user_id"), col("view_us"), col("click_us"),
          col("purchase_us"),
          when(col("purchase_us").isNotNull, 3L)
            .when(col("click_us").isNotNull, 2L)
            .otherwise(1L).as("depth"))
    }),

    // E99 (PATH1): event-transition matrix — the user-journey (Markov)
    // view product analytics builds where f14 fixes three stages: counts
    // and row-normalized probabilities of every consecutive
    // (event_type → next event_type) transition within a user's
    // timeline. ONE user-grain window pass (lead over the user
    // partition, event_id tiebreak for simultaneous events) + a
    // type-pair aggregate — the matrix is |types|² rows however large
    // the event log; p is a ratio of exact longs (the lm1 discipline).
    "path1_event_transitions" -> ((s, d) => {
      val ev0 = Sources.table(s, d, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy(col("from_type"))
      ev0.select(col("user_id"), col("event_id"),
          col("event_type").as("from_type"), Sources.epochUs(ev0).as("ts_us"))
        .withColumn("to_type", lead(col("from_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n_transitions"))
        .withColumn("p", col("n_transitions").cast("double") /
          sum(col("n_transitions")).over(wp).cast("double"))
    }),

    // E89 (COH1): signup-cohort retention matrix — users bucketed by the
    // epoch week of their FIRST signup; cell (cohort_week, k) counts the
    // distinct users of that cohort active in ANY event k weeks later.
    // Weeks are integer epoch-microsecond division (exact both engines).
    // Two user-grain aggregates + one user-keyed join (first-signup side
    // shrinks to distinct users — broadcast when it fits, AQE otherwise);
    // the (user, week) distinct pass is the only corpus-width shuffle.
    "coh1_retention" -> ((s, d) => {
      val ev0 = Sources.table(s, d, "events")
      val ev = ev0.select(col("user_id"), col("event_type"),
          Sources.epochUs(ev0).as("ts_us"))
        .select(col("user_id"), col("event_type"),
          expr("ts_us DIV 604800000000").as("wk"))
      val cohorts = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("wk")).as("cohort_week"))
      ev.select(col("user_id"), col("wk")).distinct()
        .join(cohorts, Seq("user_id"))
        .filter(col("wk") >= col("cohort_week"))
        .groupBy(col("cohort_week"),
          (col("wk") - col("cohort_week")).as("weeks_since"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // §2.5 extension: KPI-history window query — top-3 categories per day
    // by revenue (genuine Window.partitionBy + rank, the shape the
    // reference's KPI store would be queried with).
    "x1_top_category_daily" -> ((s, d) => {
      // date key on the orders side pre-join (the gapFilledDaily
      // convention)
      val daily = Kpi.threeWayJoin(o(s, d).withColumn("order_date",
          substring(col("created_at"), 1, 10)), oi(s, d), p(s, d))
        .groupBy(col("o.order_date"),
          col("p.category").as("category"))
        .agg(sum(col("oi.sale_price").cast(money)).cast("double")
          .as("revenue"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("order_date"))
        .orderBy(col("revenue").desc, col("category").asc)
      daily.withColumn("rnk", rank().over(w))
        .filter(col("rnk") <= 3)
        .select(col("order_date"), col("rnk").cast("long").as("rnk"),
          col("category"), col("revenue"))
    })
  )

  // -- DuckDB oracles -------------------------------------------------------
  /** Bench-only substitutions ([[graft.Bench]]): queries whose VERIFY
    * form carries an oracle-gate overhead the production operator never
    * pays. Verify keeps the gated `queries` entry as the correctness
    * artifact; the bench times the production body so the leader list
    * measures engine speed, not gate cost. Keys must exist in `queries`. */
  lazy val benchOverrides: Map[String, (SparkSession, String) => DataFrame] = Map(
    // v1x's hash gate pays exact NDV (Expand) + HLL in ONE scan to prove
    // the sketch is within bounds (~6 s idle at sf0.1, a top-3 bench
    // leader); the production op is the sketch pass alone.
    "v1x_table_profile_approx" -> ((s, d) =>
      Validation.tableProfileApprox(
        Sources.table(s, d, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))),
    // v4x's gate pays exact percentile windows; production is the
    // approx-edge histogram alone (one sketch pass + bucket counting)
    "v4x_histogram_approx" -> ((s, d) =>
      Validation.equiDepthHistogramApprox(
        Sources.table(s, d, "lineitem"), "l_extendedprice")))

  /** Bench phase decomposition: queries whose cost mixes input
    * materialization with the operator itself are timed per phase — the
    * headline time stays the phase sum (identical total work), and the
    * split lands in bench_counts/bench_detail so the subset metric can be
    * read as engine-compute vs materialization. */
  lazy val benchPhases
      : Map[String, (SparkSession, String) => Seq[(String, () => Long)]] = Map(
    // m1 = materialize the persisted 3-way-join projection (the input
    // build both merge sides share), then the two agg halves + full-outer
    // merge consumed from cache — over a third of the reference-surface
    // subset, now decomposed.
    "m1_merge_category_kpi" -> ((s, d) => {
      val jall = m1Projection(s, d).persist()
      Seq(
        ("materialize", () => jall.count()),
        ("merge", () => m1Merged(jall).count()))
    }))

  private val ctes = RefShape.sqlCtes

  private val kpiJoin =
    """FROM o JOIN oi ON o.order_id = oi.order_id
      |JOIN p ON oi.product_id = p.id""".stripMargin

  /** x15's oracle twin of the 16-term dyadic-weight EWMA fold — generated
    * from the same (k, 2^(15−k)) table as the Spark side so the two stay
    * textually mirrored by construction. All-integer terms; the single
    * num/den division at the boundary is the only float op. */
  private val ewmaNumSql = (0 until 16).map { k =>
    val wt = 1L << (15 - k)
    if (k == 0) s"cents * $wt"
    else s"coalesce(lag(cents, $k) OVER tw * $wt, 0)"
  }.mkString(" + ")
  private val ewmaDenSql = (0 until 16).map { k =>
    val wt = 1L << (15 - k)
    if (k == 0) s"$wt"
    else s"CASE WHEN lag(cents, $k) OVER tw IS NOT NULL THEN $wt ELSE 0 END"
  }.mkString(" + ")

  /** Shared x9/x10 oracle CTE chain: brand×day spine + forward fill,
    * terminal CTE `ff(brand, d, rev_dec, ffill_dec)`. */
  private val gapFillCtes =
    s"""daily AS (
      |  SELECT p.brand AS brand,
      |    CAST(substr(o.created_at, 1, 10) AS DATE) AS d,
      |    sum(CAST(oi.sale_price AS DECIMAL(18,2))) AS rev_dec
      |  $kpiJoin
      |  GROUP BY 1, 2),
      |b AS (SELECT min(d) AS mn, max(d) AS mx FROM daily),
      |spine AS (
      |  SELECT br.brand,
      |    CAST(unnest(generate_series(b.mn::TIMESTAMP, b.mx::TIMESTAMP,
      |      INTERVAL 1 DAY)) AS DATE) AS d
      |  FROM (SELECT DISTINCT brand FROM daily) br, b),
      |ff AS (
      |  SELECT s.brand, s.d, dy.rev_dec,
      |    last_value(dy.rev_dec IGNORE NULLS) OVER (
      |      PARTITION BY s.brand ORDER BY s.d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_dec
      |  FROM spine s LEFT JOIN daily dy
      |    ON s.brand = dy.brand AND s.d = dy.d)""".stripMargin

  lazy val oracleSql: Map[String, String] = Map(

    "a1_category_kpi" -> s"""$ctes
      SELECT p.category AS category,
        CAST(sum(CAST(oi.sale_price AS DECIMAL(18,2))) AS DOUBLE) AS daily_revenue,
        CAST(sum(CAST(oi.sale_price AS DECIMAL(18,2))) AS DOUBLE) / NULLIF(count(oi.sale_price), 0) AS avg_order_value,
        CAST(count(*) FILTER (WHERE oi.status = 'returned') AS DOUBLE) / NULLIF(count(oi.id), 0) AS avg_return_rate
      $kpiJoin
      GROUP BY 1""",

    "a2_order_kpi_complete" -> s"""$ctes
      SELECT count(DISTINCT o.order_id) AS total_orders,
        CAST(sum(CAST(oi.sale_price AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        count(oi.id) AS total_items_sold,
        CAST(count(*) FILTER (WHERE oi.status = 'returned') AS DOUBLE) / NULLIF(count(oi.id), 0) AS return_rate,
        count(DISTINCT o.user_id) AS unique_customers
      $kpiJoin""",

    "a3_order_kpi_items_only" -> s"""$ctes
      SELECT CAST(NULL AS BIGINT) AS total_orders,
        CAST(sum(CAST(oi.sale_price AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        count(oi.id) AS total_items_sold,
        CAST(count(*) FILTER (WHERE oi.status = 'returned') AS DOUBLE) / NULLIF(count(oi.id), 0) AS return_rate,
        CAST(NULL AS BIGINT) AS unique_customers
      FROM oi JOIN p ON oi.product_id = p.id""",

    "a4_order_kpi_orders_only" -> s"""$ctes
      SELECT count(DISTINCT order_id) AS total_orders,
        CAST(NULL AS DOUBLE) AS total_revenue,
        CAST(NULL AS BIGINT) AS total_items_sold,
        CAST(NULL AS DOUBLE) AS return_rate,
        count(DISTINCT user_id) AS unique_customers
      FROM o""",

    "a6_null_check" -> s"""$ctes
      SELECT count(*) FILTER (WHERE id IS NULL) AS null_id,
        count(*) FILTER (WHERE order_id IS NULL) AS null_order_id,
        count(*) FILTER (WHERE product_id IS NULL) AS null_product_id,
        count(*) FILTER (WHERE created_at IS NULL
          OR isnan(TRY_CAST(created_at AS DOUBLE))) AS null_created_at,
        count(*) FILTER (WHERE sale_price IS NULL
          OR isnan(sale_price)) AS null_sale_price
      FROM oi""",

    "j3_ri_items_without_order" -> s"""$ctes
      SELECT DISTINCT oi.order_id FROM oi
      WHERE oi.order_id IS NOT NULL
        AND NOT EXISTS (SELECT 1 FROM o WHERE o.order_id = oi.order_id)""",

    "j4_ri_items_without_product" -> s"""$ctes
      SELECT DISTINCT oi.product_id FROM oi
      WHERE oi.product_id IS NOT NULL
        AND NOT EXISTS (SELECT 1 FROM p WHERE p.id = oi.product_id)""",

    "p3_anti_orders_without_items" -> s"""$ctes
      SELECT DISTINCT o.order_id FROM o
      WHERE o.order_id IS NOT NULL
        AND NOT EXISTS (SELECT 1 FROM oi WHERE oi.order_id = o.order_id)""",

    "u1_union_parts_agg" -> """
      SELECT l_returnflag, count(*) AS cnt,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM (SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem)
      GROUP BY 1""",

    "a8_distinct_keys" -> s"""$ctes
      SELECT DISTINCT order_id FROM oi""",

    "p1_filter_project" -> """
      SELECT l_orderkey, l_linenumber, l_extendedprice, '2024-06-01' AS dt
      FROM lineitem WHERE l_returnflag = 'R'""",

    "w1_processing_date" -> s"""$ctes
      SELECT substr(min(created_at), 1, 10) AS processing_date FROM o""",

    "m1_merge_category_kpi" -> s"""$ctes,
      jall AS (SELECT p.category, substr(o.created_at, 1, 10) AS order_date,
        oi.id, oi.sale_price, oi.status
        $kpiJoin),
      t AS (SELECT category, order_date,
        CAST(sum(CAST(sale_price AS DECIMAL(18,2))) AS DOUBLE) AS daily_revenue,
        CAST(sum(CAST(sale_price AS DECIMAL(18,2))) AS DOUBLE) / NULLIF(count(sale_price), 0) AS avg_order_value,
        CAST(count(*) FILTER (WHERE status = 'returned') AS DOUBLE) / NULLIF(count(id), 0) AS avg_return_rate
        FROM jall WHERE id % 2 = 0 GROUP BY 1, 2),
      u AS (SELECT category, order_date,
        CAST(sum(CAST(sale_price AS DECIMAL(18,2))) AS DOUBLE) AS daily_revenue,
        CAST(NULL AS DOUBLE) AS avg_order_value,
        CAST(NULL AS DOUBLE) AS avg_return_rate
        FROM jall WHERE id % 2 = 1 GROUP BY 1, 2)
      SELECT COALESCE(u.category, t.category) AS category,
        COALESCE(u.order_date, t.order_date) AS order_date,
        COALESCE(u.daily_revenue, t.daily_revenue) AS daily_revenue,
        COALESCE(u.avg_order_value, t.avg_order_value) AS avg_order_value,
        COALESCE(u.avg_return_rate, t.avg_return_rate) AS avg_return_rate,
        CASE WHEN u.category IS NOT NULL AND t.category IS NOT NULL
               THEN 'order_items,orders'
             WHEN u.category IS NOT NULL THEN 'orders'
             ELSE 'order_items' END AS data_sources
      FROM u FULL OUTER JOIN t
        ON u.category = t.category AND u.order_date = t.order_date""",

    "m2_scd2_products" -> Scd2.mergeProductsSql,

    "cdf1_store_changes" -> s"""$ctes,
      snapa AS (SELECT order_id, status, total_price FROM o
        WHERE order_id % 5 <> 4),
      snapb AS (SELECT order_id, status,
        CASE WHEN order_id % 3 = 0 THEN total_price + 1.0
             ELSE total_price END AS total_price
        FROM o WHERE order_id % 7 <> 2),
      upd AS (SELECT a.order_id FROM snapa a JOIN snapb b USING (order_id)
        WHERE a.status IS DISTINCT FROM b.status
           OR a.total_price IS DISTINCT FROM b.total_price)
      SELECT b.order_id, b.status, b.total_price, 'insert' AS change_type
      FROM snapb b ANTI JOIN snapa a USING (order_id)
      UNION ALL
      SELECT a.order_id, a.status, a.total_price, 'delete' AS change_type
      FROM snapa a ANTI JOIN snapb b USING (order_id)
      UNION ALL
      SELECT a.order_id, a.status, a.total_price,
        'update_preimage' AS change_type
      FROM snapa a JOIN upd USING (order_id)
      UNION ALL
      SELECT b.order_id, b.status, b.total_price,
        'update_postimage' AS change_type
      FROM snapb b JOIN upd USING (order_id)""",

    // cdc1 oracle: the applied dimension decomposed as UNION ALL arms
    // (the m2 oracle convention) — closed updates, reopened updates,
    // inserts, closed deletes, untouched — over the same snapshot CTEs
    // as cdf1.
    "cdc1_apply_feed" -> s"""$ctes,
      snapa AS (SELECT order_id, status, total_price FROM o
        WHERE order_id % 5 <> 4),
      snapb AS (SELECT order_id, status,
        CASE WHEN order_id % 3 = 0 THEN total_price + 1.0
             ELSE total_price END AS total_price
        FROM o WHERE order_id % 7 <> 2),
      upd AS (SELECT a.order_id FROM snapa a JOIN snapb b USING (order_id)
        WHERE a.status IS DISTINCT FROM b.status
           OR a.total_price IS DISTINCT FROM b.total_price),
      ins AS (SELECT b.order_id FROM snapb b
        ANTI JOIN snapa a USING (order_id)),
      del AS (SELECT a.order_id FROM snapa a
        ANTI JOIN snapb b USING (order_id))
      SELECT a.order_id, a.status, a.total_price,
        '${graft.merge.Scd2.D0}' AS valid_from,
        '${graft.merge.Scd2.D1}' AS valid_to, false AS is_current
      FROM snapa a JOIN upd USING (order_id)
      UNION ALL
      SELECT b.order_id, b.status, b.total_price,
        '${graft.merge.Scd2.D1}' AS valid_from,
        CAST(NULL AS VARCHAR) AS valid_to, true AS is_current
      FROM snapb b JOIN upd USING (order_id)
      UNION ALL
      SELECT b.order_id, b.status, b.total_price,
        '${graft.merge.Scd2.D1}' AS valid_from,
        CAST(NULL AS VARCHAR) AS valid_to, true AS is_current
      FROM snapb b JOIN ins USING (order_id)
      UNION ALL
      SELECT a.order_id, a.status, a.total_price,
        '${graft.merge.Scd2.D0}' AS valid_from,
        '${graft.merge.Scd2.D1}' AS valid_to, false AS is_current
      FROM snapa a JOIN del USING (order_id)
      UNION ALL
      SELECT a.order_id, a.status, a.total_price,
        '${graft.merge.Scd2.D0}' AS valid_from,
        CAST(NULL AS VARCHAR) AS valid_to, true AS is_current
      FROM snapa a
      WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.order_id = a.order_id)
        AND NOT EXISTS (SELECT 1 FROM del dl
          WHERE dl.order_id = a.order_id)""",

    // cdc2 oracle: the DIRECT aggregate of snapshot B — the maintained
    // form must reproduce it exactly (the strongest oracle shape: the
    // invariant itself).
    "cdc2_incremental_agg" -> s"""$ctes,
      snapb AS (SELECT order_id, status,
        CASE WHEN order_id % 3 = 0 THEN total_price + 1.0
             ELSE total_price END AS total_price
        FROM o WHERE order_id % 7 <> 2)
      SELECT status, count(*)::BIGINT AS n_orders,
        count(total_price)::BIGINT AS n_vals,
        CAST(sum(CAST(total_price AS DECIMAL(18,2))) AS DOUBLE)
          AS sum_total
      FROM snapb GROUP BY 1""",

    // ---- training-data pipeline extension oracles -------------------------

    "t1_token_stats" -> TextAnalysis.tokenStatsSql,
    "t18_truncation_audit" -> TextAnalysis.truncationAuditSql,
    "pk2_context_windows" -> TextAnalysis.contextPackingSql(),
    "t2_lang_id" -> TextAnalysis.langIdSql,
    "t3_quality_score" -> TextAnalysis.qualityScoreSql,
    "t4_fingerprint" -> TextAnalysis.fingerprintSql,
    "t6_top_tokens" -> TextAnalysis.topTokensSql(),
    "t19_distinctive_terms" -> TextAnalysis.distinctiveTermsSql(),
    "c1_decontamination" -> TextAnalysis.contaminationBySourceSql,
    "rep1_contamination_report" -> TextAnalysis.contaminationReportSql,

    "card1_data_card" -> TextAnalysis.dataCardSql,

    "c4_semantic_decon" -> Similarity.semanticDeconSql,

    "mix3_epoch_alloc" -> TextAnalysis.epochAllocationSql,
    "mix4_unique_epoch_alloc" -> TextAnalysis.uniqueEpochAllocationSql,
    "t21_roundtrip" -> TextAnalysis.tokenizerRoundTripSql,
    "trn1_perceptron" -> TextAnalysis.perceptronTrainSql(),

    "ir1_retrieval_metrics" -> TextAnalysis.retrievalMetricsSql(),
    "pipe2_retrieval_prep" -> TextAnalysis.retrievalPrepSql(),
    "t16_fertility" -> TextAnalysis.fertilityAuditSql(),
    "b1_bloom_prune" -> TextAnalysis.bloomPruneSql,
    "mix1_weighted_sample" -> TextAnalysis.weightedSampleAuditSql,
    "s6_weighted_reservoir" -> TextAnalysis.weightedReservoirSql(),
    "s7_stratified_reservoir" -> TextAnalysis.stratifiedReservoirSql(),
    "pk1_pack_sequences" -> TextAnalysis.packSequencesSql,
    "r1_collapse_repeats" -> TextAnalysis.collapseRepeatsSql,
    "s1_stratified_sample" -> """
      SELECT source, doc_id, rn FROM (
        SELECT source, doc_id,
          row_number() OVER (PARTITION BY source
            ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)::BIGINT
            AS rn
        FROM documents)
      WHERE rn <= 5""",

    "t7_token_rarity" -> TextAnalysis.tokenRaritySql,
    "t12_quality_classifier" -> TextAnalysis.classifierScoreSql,
    "sel1_budget_select" -> TextAnalysis.budgetSelectSql(),
    "lm1_bigram_lm" -> TextAnalysis.bigramLmScoreSql,

    "t20_collocations" -> TextAnalysis.collocationsSql(),

    "t13x_approx_deciles" -> """
      SELECT 9::BIGINT AS n_bounds, 9::BIGINT AS n_within""",

    "d11_fuzzy_vocab" -> Dedup.fuzzyVocabPairsSql(),

    "t14_heavy_hitters" -> TextAnalysis.heavyHittersSql(),

    "v4_histogram" -> Validation.equiDepthHistogramSql(
      "lineitem", "l_extendedprice"),

    // the k1/x5x constant-truth convention: the oracle asserts every
    // approx edge sits inside its exact ±0.02 rank window — a Spark-side
    // sketch drift emits n_within < 9 and hash-mismatches
    "v4x_histogram_approx" -> """
      SELECT CAST(9 AS BIGINT) AS n_edges, CAST(9 AS BIGINT) AS n_within""",

    "t13_quality_deciles" -> s"""
      WITH scored AS (${TextAnalysis.classifierScoreSql})
      SELECT doc_id, score,
        ntile(10) OVER (ORDER BY score ASC, doc_id ASC)::BIGINT AS decile
      FROM scored""",

    "s2_split_audit" -> s"""
      WITH assigned AS (
        SELECT ${graft.functions.TextFunctions.splitOfSql("doc_id")} AS split,
          len(${graft.functions.TextFunctions.tokensSql(
            graft.functions.TextFunctions.normSql("text"))})::BIGINT
            AS n_tokens
        FROM documents),
      g AS (
        SELECT split, count(*)::BIGINT AS n_docs,
          sum(n_tokens)::BIGINT AS n_tokens
        FROM assigned GROUP BY 1)
      SELECT split, n_docs, n_tokens,
        n_docs::DOUBLE / sum(n_docs) OVER ()::DOUBLE AS doc_share
      FROM g""",
    "v2_drift_audit" -> Validation.driftAuditSql(
      """SELECT * FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'""",
      """SELECT * FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '8'
         AND source <> 'src3'
         AND NOT (source = 'src5' AND n_chars > 250)"""),
    "v5_embedding_cov" ->
      Validation.embeddingCovarianceSql("SELECT * FROM embeddings"),
    "v6_benford_audit" ->
      Validation.benfordAuditSql("orders", "o_totalprice"),

    "v7_revenue_gini" -> s"""$ctes,
      ${Validation.revenueGiniSql}""",

    "abc1_abc_classes" -> s"""$ctes,
      rev AS (SELECT product_id,
        CAST(sum(CAST(sale_price AS DECIMAL(18,2))) * 100 AS BIGINT)
          AS cents
        FROM oi GROUP BY 1),
      tot AS (SELECT sum(cents)::BIGINT AS tot FROM rev),
      cumr AS (SELECT product_id, cents,
        sum(cents) OVER (ORDER BY cents DESC, product_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM rev),
      cl AS (SELECT
        CASE WHEN (cum - cents) * 10 < tot.tot * 8 THEN 'A'
          WHEN (cum - cents) * 20 < tot.tot * 19 THEN 'B'
          ELSE 'C' END AS abc_class,
        cents, tot.tot AS tot
        FROM cumr CROSS JOIN tot)
      SELECT abc_class, count(*)::BIGINT AS n_products,
        CAST(sum(cents) AS DOUBLE) / 100.0::DOUBLE AS revenue,
        CASE WHEN max(tot) = 0 THEN NULL
          ELSE CAST(sum(cents) AS DOUBLE) / CAST(max(tot) AS DOUBLE)
        END AS rev_share
      FROM cl GROUP BY 1""",

    "v3_vec_drift" -> Validation.vecDriftAuditSql(
      """SELECT * FROM embeddings
         WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8'""",
      """SELECT * FROM embeddings
         WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) >= '8'
         AND label <> 3
         AND NOT (label = 5 AND embedding[1] > 0)"""),
    "t11_df_store" -> s"""
      SELECT token, count(*)::BIGINT AS df
      FROM (SELECT doc_id, unnest(list_distinct(${
        graft.functions.TextFunctions.tokensSql(
          graft.functions.TextFunctions.normSql("text"))})) AS token
            FROM documents)
      GROUP BY 1""",
    "c2_ngram_decontamination" -> TextAnalysis.ngramContaminationSql(
      TextAnalysis.withSourcedTwinsSql("documents")),
    "c5_contamination_spans" -> TextAnalysis.contaminationSpansSql(
      TextAnalysis.withSourcedTwinsSql("documents")),
    "c3_neardup_decon" -> Dedup.crossCorpusNearDupsSql(
      TextAnalysis.withSourcedTwinsSql("documents")),
    "t10_tfidf_top_terms" -> TextAnalysis.tfidfTopTermsSql(),
    "mix2_temperature_mix" -> TextAnalysis.temperatureMixAuditSql(
      TextAnalysis.weightedKeepSql),
    "sh1_shard_audit" -> TextAnalysis.shardAuditSql,
    "pii1_redact" -> TextAnalysis.piiRedactSql,
    "ch1_chunk_overlap" -> TextAnalysis.chunkOverlapSql(),
    "t8_bpe_merges" -> TextAnalysis.bpeMergesSql(),
    "t9_bpe_tokenize" -> TextAnalysis.bpeTokenizeSql(),
    "t22_unigram_train" -> TextAnalysis.unigramTrainSql(),
    "t23_unigram_tokenize" -> TextAnalysis.unigramTokenizeSql(),
    "pipe1_corpus_prep" -> TextAnalysis.corpusPrepSql(),
    "dq1_expectations" -> Validation.expectationsSql("orders",
      Validation.OrdersExpectations),

    "v1_table_profile" -> Validation.tableProfileSql("orders",
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")),
    "v1x_table_profile_approx" -> Validation.tableProfileApproxGateSql(
      "orders",
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")),
    "d1_exact_dedup" -> Dedup.exactDedupSql,
    "d8_incremental_dedup" -> Dedup.incrementalDedupSql,

    "t5_hash_sample" -> """
      SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
      FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'""",
    "s5_quality_sample" -> TextAnalysis.qualitySampleSql(),
    "d2_ngram_jaccard" ->
      Dedup.ngramJaccardPairsSql(Dedup.withNearDupsSql("documents")),
    "d3_minhash_lsh" ->
      Dedup.minhashLshPairsSql(Dedup.withNearDupsSql("documents")),
    "s3_split_leakage" ->
      Dedup.splitLeakageSql(Dedup.withNearDupsSql("documents")),
    "d9_dup_clusters" ->
      Dedup.dupClustersSql(Dedup.withNearDupsSql("documents")),
    "d16_dedup_survivors" ->
      Dedup.dedupSurvivorsSql(Dedup.withNearDupsSql("documents")),
    "s4_cluster_split" ->
      Dedup.clusterSplitSql(Dedup.withNearDupsSql("documents")),
    "r2_dup_spans" ->
      Dedup.dupSpansSql(Dedup.withSpanTwinsSql("documents")),
    "r3_dup_span_rate" ->
      Dedup.dupSpanRateSql(Dedup.withSpanTwinsSourcedSql("documents")),
    "r4_winnow_pairs" ->
      Dedup.winnowPairsSql(Dedup.withSpanTwinsSql("documents")),
    "r5_paragraph_dedup" ->
      Dedup.paragraphDedupSql(Dedup.withSharedParagraphsSql("documents")),
    "dom1_domain_audit" -> DomainCuration.domainAuditSql,
    "d7_jaccard_dfcap" ->
      Dedup.ngramJaccardDfCappedSql(Dedup.withNearDupsSql("documents")),
    "d14_containment" ->
      Dedup.containmentPairsSql(Dedup.withContainedDupsSql("documents")),
    "d15_incremental_lsh" ->
      Dedup.incrementalLshDedupSql("SELECT doc_id, text FROM documents"),
    "d4_simhash" ->
      Dedup.simhashSignaturesSql(Dedup.withNearDupsSql("documents")),
    "d5_simhash_pairs" ->
      Dedup.simhashPairsSql(Dedup.withNearDupsSql("documents"),
        bits = Dedup.SimhashBits),
    "d5x_simhash60_pairs" ->
      Dedup.simhashPairsSql(Dedup.withNearDupsSql("documents")),
    "d6_embedding_neardup" -> Similarity.embeddingNearDupsSql,
    "d12_semdedup" -> Similarity.semDedupSql(),
    "d12x_semdedup_cells" -> Similarity.semDedupSql(numCells = 64),
    "d13_semdedup_hier" -> Similarity.semDedupHierSql(),
    "n1_ann_bruteforce" -> Similarity.bruteForceTopKSql(5, 5),
    "n10_matryoshka_audit" -> Similarity.matryoshkaAuditSql(),
    "n2_ann_lsh" -> Similarity.lshTopKSql(5, 5),
    "n3_ann_topk_agg" -> Similarity.bruteForceTopKSql(5, 5),
    "n4_ann_ivf" -> Similarity.ivfTopKSql(5, 5),
    "n5_ann_ivf_trained" -> Similarity.ivfTrainedTopKSql(5, 5),
    "n6_ann_sq8" -> Similarity.sqTopKSql(5, 5),
    "n7_ann_ivf_sq8" -> Similarity.ivfSqTopKSql(5, 5),
    "n8_ann_pq" -> Similarity.pqTopKSql(5, 5),
    "n8x_ann_pq_trained" -> Similarity.pqTrainedTopKSql(5, 5),
    "n9_ann_ivf_pq" -> Similarity.ivfPqTopKSql(5, 5),
    "knn1_knn_classify" -> Similarity.knnClassifySql(),
    "t15_bm25" -> TextAnalysis.bm25TopKRetrievalSql(),
    "rrf1_hybrid_fusion" -> TextAnalysis.hybridRrfSql(),
    "imp1_dsir_select" -> TextAnalysis.dsirSelectSql(),
    "cl1_cluster_profile" -> Similarity.clusterProfileSql,
    "cb1_cluster_sample" -> Similarity.clusterBalancedSampleSql(),
    "hn1_hard_negatives" -> Similarity.hardNegativesSql(),

    "x7_running_revenue" -> s"""$ctes,
      daily AS (
        SELECT p.category AS category,
          substr(o.created_at, 1, 10) AS order_date,
          sum(CAST(oi.sale_price AS DECIMAL(18,2))) AS rev_dec
        $kpiJoin
        GROUP BY 1, 2)
      SELECT category, order_date,
        CAST(rev_dec AS DOUBLE) AS revenue,
        CAST(sum(rev_dec) OVER (PARTITION BY category ORDER BY order_date
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
          AS running_revenue,
        CAST(lag(rev_dec, 1) OVER (PARTITION BY category
          ORDER BY order_date) AS DOUBLE) AS prev_revenue,
        CAST(rev_dec - lag(rev_dec, 1) OVER (PARTITION BY category
          ORDER BY order_date) AS DOUBLE) AS delta
      FROM daily""",

    "x9_gap_fill" -> s"""$ctes,
      $gapFillCtes
      SELECT brand, strftime(d, '%Y-%m-%d') AS order_date,
        CAST(rev_dec AS DOUBLE) AS revenue,
        rev_dec IS NULL AS filled,
        CAST(ffill_dec AS DOUBLE) AS ffill_revenue
      FROM ff""",

    "x10_moving_avg" -> s"""$ctes,
      $gapFillCtes
      SELECT brand, strftime(d, '%Y-%m-%d') AS order_date,
        CAST(ffill_dec AS DOUBLE) AS ffill_revenue,
        CAST(sum(ffill_dec) OVER w7 AS DOUBLE)
          / CAST(count(ffill_dec) OVER w7 AS DOUBLE) AS ma7
      FROM ff
      WINDOW w7 AS (PARTITION BY brand ORDER BY d
        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""",

    "ln1_label_noise" -> Similarity.labelNoiseAuditSql(),

    "t17_source_calibrated" -> TextAnalysis.sourceCalibratedQualitySql,

    "pp1_preference_pairs" -> TextAnalysis.preferencePairsSql(),

    "f18_ship_latency" -> """
      WITH g AS (
        SELECT datediff('day', o.o_orderdate, l.l_shipdate)::BIGINT
          AS latency_days
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      a AS (SELECT latency_days, count(*)::BIGINT AS n_items
        FROM g GROUP BY 1),
      w AS (SELECT latency_days, n_items,
        sum(n_items) OVER () AS tot FROM a)
      SELECT latency_days, n_items,
        CASE WHEN tot = 0 THEN NULL
          ELSE CAST(n_items AS DOUBLE) / CAST(tot AS DOUBLE) END AS share
      FROM w""",

    "f17_repurchase_intervals" -> """
      WITH p AS (
        SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        WHERE event_type = 'purchase'),
      g AS (
        SELECT (us - lag(us) OVER (PARTITION BY user_id
          ORDER BY us, event_id)) // 86400000000 AS gap_days
        FROM p),
      h AS (SELECT gap_days, count(*)::BIGINT AS n_gaps FROM g
        WHERE gap_days IS NOT NULL GROUP BY 1)
      SELECT gap_days, n_gaps,
        n_gaps::DOUBLE / (sum(n_gaps) OVER ())::DOUBLE AS share
      FROM h""",

    "sup1_supplier_hhi" -> """
      WITH rev AS (
        SELECT s.s_nationkey,
          CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) * 100
            AS BIGINT) AS cents
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY s.s_nationkey, s.s_suppkey),
      a AS (
        SELECT s_nationkey, count(*)::BIGINT AS n_suppliers,
          sum(cents)::BIGINT AS sx,
          sum(cents::HUGEINT * cents) AS sq,
          max(cents)::BIGINT AS mx
        FROM rev GROUP BY 1)
      SELECT n.n_name AS nation, a.n_suppliers,
        CAST(a.sx AS DOUBLE) / 100.0::DOUBLE AS revenue,
        CASE WHEN a.sx = 0 THEN NULL
          ELSE CAST(a.sq AS DOUBLE)
            / (CAST(a.sx AS DOUBLE) * CAST(a.sx AS DOUBLE)) END AS hhi,
        CASE WHEN a.sx = 0 THEN NULL
          ELSE CAST(a.mx AS DOUBLE) / CAST(a.sx AS DOUBLE) END
          AS top_share
      FROM a JOIN nation n ON a.s_nationkey = n.n_nationkey""",

    "x12_local_supplier_revenue" -> """
      SELECT n_name AS nation,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
          * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        count(*)::BIGINT AS n_items
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
        AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
      GROUP BY 1""",

    "x14_pricing_summary" -> """
      WITH a AS (
        SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
            AS sum_qty,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
            AS sum_base_price,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
            * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
            AS sum_disc_price,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
            * (1 - CAST(l_discount AS DECIMAL(3,2)))
            * (1 + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE)
            AS sum_charge,
          count(*)::BIGINT AS n_items
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        GROUP BY 1, 2)
      SELECT returnflag, linestatus, sum_qty, sum_base_price,
        sum_disc_price, sum_charge,
        sum_qty / n_items::DOUBLE AS avg_qty,
        sum_base_price / n_items::DOUBLE AS avg_price,
        n_items
      FROM a""",

    "x19_large_orders" -> """
      WITH q AS (
        SELECT l_orderkey,
          sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec
        FROM lineitem GROUP BY 1
        HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 95)
      SELECT c.c_custkey AS custkey, c.c_name AS name,
        o.o_orderkey AS orderkey,
        substr(CAST(o.o_orderdate AS VARCHAR), 1, 10) AS order_date,
        o.o_totalprice AS total_price,
        CAST(q.qty_dec AS DOUBLE) AS total_qty
      FROM q
      JOIN orders o ON q.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      ORDER BY total_qty DESC, orderkey ASC
      LIMIT 100""",

    "x20_idle_capital" -> """
      WITH b AS (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
          / greatest(count(*), 1)::DOUBLE AS avg_bal
        FROM customer WHERE c_acctbal > 0.0)
      SELECT c.c_nationkey::BIGINT AS nationkey,
        count(*)::BIGINT AS n_customers,
        CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
          AS idle_balance
      FROM customer c, b
      WHERE c.c_acctbal > b.avg_bal
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
      GROUP BY 1""",

    // x21 oracle: the LITERAL correlated-quantifier form (the Spark
    // query runs the windowed distinct-count rewrite — genuinely
    // different decompositions; equivalence: EXISTS other-supplier
    // line == order has >= 2 distinct suppliers, NOT EXISTS
    // other-supplier late line == the late-supplier set is exactly
    // {l1's supplier})
    "x21_waiting_suppliers" -> """
      SELECT s.s_name, count(*)::BIGINT AS numwait
      FROM lineitem l1
      JOIN orders o ON o.o_orderkey = l1.l_orderkey
        AND o.o_orderstatus = 'F'
      JOIN supplier s ON s.s_suppkey = l1.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
        AND n.n_regionkey = 0
      WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      GROUP BY 1
      ORDER BY numwait DESC, s_name ASC
      LIMIT 100""",

    // x22 oracle: the LITERAL Q2 correlated scalar subquery (the Spark
    // query runs the part-partitioned window-min rewrite)
    "x22_mincost_supplier" -> """
      WITH ps AS (
        SELECT l_partkey, l_suppkey,
          min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
        FROM lineitem GROUP BY 1, 2)
      SELECT ps.l_partkey AS partkey, p.p_brand AS brand,
        s.s_name, n.n_name AS nation, CAST(ps.cost AS DOUBLE) AS cost
      FROM ps
      JOIN supplier s ON s.s_suppkey = ps.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_regionkey = 1
      JOIN part p ON p.p_partkey = ps.l_partkey
        AND p.p_size <= 10 AND p.p_type = 'SMALL'
      WHERE ps.cost = (
        SELECT min(ps2.cost) FROM ps ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
        JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
          AND n2.n_regionkey = 1
        WHERE ps2.l_partkey = ps.l_partkey)""",

    // x23 oracle: the literal Q13 left-outer double aggregate
    "x23_order_count_histogram" -> """
      SELECT c_count, count(*)::BIGINT AS custdist
      FROM (
        SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
        FROM customer
        LEFT OUTER JOIN orders ON c_custkey = o_custkey
          AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey) c_orders
      GROUP BY c_count""",

    // x24 oracle: the LITERAL Q20 nested form — IN-subquery over the
    // derived catalog with a correlated scalar aggregate (the Spark
    // query runs the part-partitioned window-sum rewrite)
    "x24_dominant_supplier" -> """
      WITH ps AS (
        SELECT l_partkey, l_suppkey,
          sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        FROM lineitem
        WHERE l_partkey IN
            (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1, 2)
      SELECT s_name, n_name AS nation
      FROM supplier
      JOIN nation ON n_nationkey = s_nationkey AND n_regionkey = 2
      WHERE s_suppkey IN (
        SELECT l_suppkey FROM ps
        WHERE qty * 2 > (SELECT sum(qty) FROM ps ps2
                         WHERE ps2.l_partkey = ps.l_partkey))
      ORDER BY s_name""",

    "x13_shipping_priority" -> """
      SELECT l_orderkey,
        substr(CAST(o_orderdate AS VARCHAR), 1, 10) AS order_date,
        o_orderpriority AS priority,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
          * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        count(*)::BIGINT AS n_items
      FROM customer
      JOIN orders ON c_custkey = o_custkey
        AND o_orderdate < TIMESTAMP '1998-07-01'
      JOIN lineitem ON l_orderkey = o_orderkey
        AND l_shipdate > TIMESTAMP '1998-07-01'
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY 1, 2, 3
      ORDER BY revenue DESC, l_orderkey ASC
      LIMIT 10""",

    "ab1_experiment_lift" -> """
      WITH ev AS (
        SELECT user_id, event_type, value, epoch_us(ts) AS us FROM events),
      fv AS (SELECT user_id, min(us) AS v_us FROM ev
        WHERE event_type = 'view' GROUP BY 1),
      u AS (
        SELECT e.user_id,
          max(CASE WHEN e.event_type = 'purchase' AND e.us >= fv.v_us
            AND e.us < fv.v_us + 604800000000
            THEN 1 ELSE 0 END)::BIGINT AS converted,
          sum(CASE WHEN e.event_type = 'purchase' AND e.us >= fv.v_us
            AND e.us < fv.v_us + 604800000000
            THEN CAST(e.value AS DECIMAL(18,6)) END) AS rev_dec
        FROM ev e JOIN fv USING (user_id) GROUP BY 1),
      uv AS (
        SELECT *, CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
          THEN 'control' ELSE 'treatment' END AS variant
        FROM u),
      agg AS (
        SELECT
          count(*) FILTER (WHERE variant = 'control')::BIGINT AS n_control,
          count(*) FILTER (WHERE variant = 'treatment')::BIGINT
            AS n_treatment,
          coalesce(sum(converted) FILTER (WHERE variant = 'control'),
            0)::BIGINT AS conv_control,
          coalesce(sum(converted) FILTER (WHERE variant = 'treatment'),
            0)::BIGINT AS conv_treatment,
          CAST(sum(rev_dec) FILTER (WHERE variant = 'control') AS DOUBLE)
            AS rev_control,
          CAST(sum(rev_dec) FILTER (WHERE variant = 'treatment') AS DOUBLE)
            AS rev_treatment
        FROM uv),
      sc AS (
        SELECT *,
          conv_control::DOUBLE / NULLIF(n_control::DOUBLE, 0)
            AS rate_control,
          conv_treatment::DOUBLE / NULLIF(n_treatment::DOUBLE, 0)
            AS rate_treatment,
          (conv_control + conv_treatment)::DOUBLE
            / (n_control + n_treatment)::DOUBLE AS p
        FROM agg),
      sce AS (
        SELECT *, sqrt(p * (1.0::DOUBLE - p) * (1.0::DOUBLE
          / n_control::DOUBLE + 1.0::DOUBLE / n_treatment::DOUBLE)) AS se
        FROM sc)
      SELECT n_control, n_treatment, conv_control, conv_treatment,
        rate_control, rate_treatment,
        rate_treatment - rate_control AS abs_lift,
        rev_control, rev_treatment,
        CASE WHEN se > 0 THEN (rate_treatment - rate_control) / se
          END AS z_score
      FROM sce""",

    "x11_anomaly" -> s"""$ctes,
      $gapFillCtes,
      s0 AS (SELECT brand, d,
        coalesce(rev_dec, CAST(0 AS DECIMAL(18,2))) AS rev0 FROM ff),
      c0 AS (SELECT brand, d, rev0,
        CAST(rev0 * 100 AS BIGINT) AS cents FROM s0),
      w AS (SELECT brand, d, rev0, cents,
        count(cents) OVER tw AS n28,
        (sum(cents) OVER tw)::DOUBLE AS sum_c,
        (sum(cents * cents) OVER tw)::DOUBLE AS sum_sq
        FROM c0
        WINDOW tw AS (PARTITION BY brand ORDER BY d
          ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)),
      st AS (SELECT brand, d, rev0, cents,
        CASE WHEN n28 = 28 THEN sum_c / n28::DOUBLE END AS mean_c,
        CASE WHEN n28 = 28 THEN
          sqrt((sum_sq - sum_c * sum_c / n28::DOUBLE)
            / (n28::DOUBLE - 1.0::DOUBLE)) END AS sd_c
        FROM w),
      zc AS (SELECT *, CASE WHEN sd_c > 0
          THEN (cents::DOUBLE - mean_c) / sd_c END AS z
        FROM st)
      SELECT brand, strftime(d, '%Y-%m-%d') AS order_date,
        CAST(rev0 AS DOUBLE) AS revenue,
        mean_c / 100.0::DOUBLE AS mean28, sd_c / 100.0::DOUBLE AS sd28, z,
        (z IS NOT NULL AND abs(z) > 3.0::DOUBLE) AS is_anomaly
      FROM zc""",

    "x15_ewma" -> s"""$ctes,
      $gapFillCtes,
      s0 AS (SELECT brand, d,
        coalesce(rev_dec, CAST(0 AS DECIMAL(18,2))) AS rev0 FROM ff),
      c0 AS (SELECT brand, d, rev0,
        CAST(rev0 * 100 AS BIGINT) AS cents FROM s0),
      w AS (SELECT brand, d, rev0,
        ($ewmaNumSql) AS num,
        ($ewmaDenSql) AS den
        FROM c0
        WINDOW tw AS (PARTITION BY brand ORDER BY d))
      SELECT brand, strftime(d, '%Y-%m-%d') AS order_date,
        CAST(rev0 AS DOUBLE) AS revenue,
        num::DOUBLE / den::DOUBLE / 100.0::DOUBLE AS ewma16
      FROM w""",

    "x16_ols_trend" -> s"""$ctes,
      $gapFillCtes,
      c0 AS (SELECT brand, d,
        CAST(coalesce(rev_dec, CAST(0 AS DECIMAL(18,2))) * 100 AS BIGINT)
          AS cents FROM ff),
      b0 AS (SELECT min(d) AS d0 FROM c0),
      t0 AS (SELECT brand, datediff('day', b0.d0, c0.d)::BIGINT AS t,
        cents FROM c0 CROSS JOIN b0),
      a AS (SELECT brand, count(*)::BIGINT AS n,
        sum(cents)::BIGINT AS sy,
        sum(t * cents)::BIGINT AS sty
        FROM t0 GROUP BY 1)
      SELECT brand, n AS n_days,
        CASE WHEN n * (n * n - 1) = 0 THEN NULL
          ELSE CAST(6 * (2 * sty - (n - 1) * sy) AS DOUBLE)
            / CAST(n * (n * n - 1) AS DOUBLE) END AS slope_cents_per_day,
        CASE WHEN n * (n * n - 1) = 0 THEN NULL
          ELSE CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
            - (CAST(6 * (2 * sty - (n - 1) * sy) AS DOUBLE)
               / CAST(n * (n * n - 1) AS DOUBLE))
              * (CAST(n - 1 AS DOUBLE) / 2.0::DOUBLE) END AS intercept_cents
      FROM a""",

    "x18_wow_growth" -> s"""$ctes,
      $gapFillCtes,
      c0 AS (SELECT brand, d,
        CAST(coalesce(rev_dec, CAST(0 AS DECIMAL(18,2))) * 100 AS BIGINT)
          AS cents FROM ff),
      b0 AS (SELECT min(d) AS d0 FROM c0),
      t0 AS (SELECT brand,
        datediff('day', b0.d0, c0.d)::BIGINT AS t, cents
        FROM c0 CROSS JOIN b0),
      wk AS (SELECT brand,
        CAST((t - t % 7) / 7 AS BIGINT) AS week_idx,
        count(*)::BIGINT AS n_days, sum(cents)::BIGINT AS wk_cents
        FROM t0 GROUP BY 1, 2),
      lg AS (SELECT brand, week_idx, n_days, wk_cents,
        lag(wk_cents) OVER (PARTITION BY brand ORDER BY week_idx)
          AS prev_cents
        FROM wk)
      SELECT brand, week_idx, n_days,
        CAST(wk_cents AS DOUBLE) / 100.0::DOUBLE AS revenue,
        CASE WHEN prev_cents IS NULL OR prev_cents = 0 THEN NULL
          ELSE CAST(wk_cents - prev_cents AS DOUBLE)
            / CAST(prev_cents AS DOUBLE) END AS wow_growth
      FROM lg""",

    "x17_dow_seasonality" -> s"""$ctes,
      $gapFillCtes,
      c0 AS (SELECT brand, d,
        CAST(coalesce(rev_dec, CAST(0 AS DECIMAL(18,2))) * 100 AS BIGINT)
          AS cents FROM ff),
      a AS (SELECT brand, (dayofweek(d) + 1)::BIGINT AS dow,
        count(*)::BIGINT AS n_days, sum(cents)::BIGINT AS s_dow
        FROM c0 GROUP BY 1, 2),
      w AS (SELECT brand, dow, n_days, s_dow,
        sum(n_days) OVER (PARTITION BY brand) AS n_all,
        sum(s_dow) OVER (PARTITION BY brand) AS s_all
        FROM a)
      SELECT brand, dow, n_days,
        CAST(s_dow AS DOUBLE) / CAST(n_days AS DOUBLE) / 100.0::DOUBLE
          AS mean_rev,
        CASE WHEN s_all = 0 THEN NULL
          ELSE CAST(s_dow * n_all AS DOUBLE)
            / CAST(n_days * s_all AS DOUBLE) END AS seasonal_index
      FROM w""",

    "coh1_retention" -> """
      WITH ev AS (
        SELECT user_id, event_type,
          epoch_us(ts) // 604800000000 AS wk FROM events),
      cohorts AS (
        SELECT user_id, min(wk) AS cohort_week FROM ev
        WHERE event_type = 'signup' GROUP BY 1),
      uw AS (SELECT DISTINCT user_id, wk FROM ev)
      SELECT c.cohort_week, uw.wk - c.cohort_week AS weeks_since,
        count(*)::BIGINT AS n_users
      FROM uw JOIN cohorts c USING (user_id)
      WHERE uw.wk >= c.cohort_week
      GROUP BY 1, 2""",

    "f15_attribution" -> s"""
      WITH ev AS (
        SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
        FROM events),
      p AS (
        SELECT event_id AS p_id, user_id, value AS p_value, ts_us AS p_ts
        FROM ev WHERE event_type = 'purchase'),
      t AS (
        SELECT user_id AS t_user, event_type AS touch_type,
          ts_us AS t_ts, event_id AS t_id
        FROM ev WHERE event_type IN ('view', 'click')),
      last AS (
        SELECT p_id, p_value, coalesce(touch_type, 'direct') AS channel
        FROM (
          SELECT p.p_id, p.p_value, t.touch_type,
            row_number() OVER (PARTITION BY p.p_id
              ORDER BY t.t_ts DESC NULLS LAST, t.t_id DESC NULLS LAST)
              AS rn
          FROM p LEFT JOIN t
            ON t.t_user = p.user_id AND t.t_ts <= p.p_ts
              AND t.t_ts > p.p_ts - ${7L * 24 * 3600 * 1000000L})
        WHERE rn = 1),
      agg AS (
        SELECT channel, count(*)::BIGINT AS n_purchases,
          CAST(sum(CAST(p_value AS DECIMAL(18,6))) AS DOUBLE)
            AS attributed_value
        FROM last GROUP BY 1)
      SELECT channel, n_purchases, attributed_value,
        n_purchases::DOUBLE / (sum(n_purchases) OVER ())::DOUBLE AS share
      FROM agg""",

    "f19_multi_touch" -> s"""
      WITH ev AS (
        SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
        FROM events),
      p AS (
        SELECT event_id AS p_id, user_id, value AS p_value, ts_us AS p_ts
        FROM ev WHERE event_type = 'purchase'),
      t AS (
        SELECT user_id AS t_user, event_type AS touch_type,
          ts_us AS t_ts, event_id AS t_id
        FROM ev WHERE event_type IN ('view', 'click')),
      pos AS (
        SELECT p.p_id, p.p_value, t.touch_type,
          row_number() OVER (PARTITION BY p.p_id
            ORDER BY t.t_ts ASC NULLS LAST, t.t_id ASC NULLS LAST) AS rn,
          count(t.t_id) OVER (PARTITION BY p.p_id) AS n
        FROM p LEFT JOIN t
          ON t.t_user = p.user_id AND t.t_ts <= p.p_ts
            AND t.t_ts > p.p_ts - ${7L * 24 * 3600 * 1000000L}),
      credited AS (
        SELECT coalesce(touch_type, 'direct') AS channel, p_value,
          CASE WHEN n = 0 THEN 1000
               WHEN n = 1 THEN 1000
               WHEN n = 2 THEN 500
               WHEN rn = 1 THEN 400
               WHEN rn = n THEN 400
               ELSE 200 // (n - 2) + CASE WHEN rn = 2
                 THEN 200 - (200 // (n - 2)) * (n - 2) ELSE 0 END
          END::BIGINT AS milli
        FROM pos),
      agg AS (
        SELECT channel, count(*)::BIGINT AS n_touches,
          sum(milli)::BIGINT AS milli,
          sum(CAST(p_value AS DECIMAL(18,6)) * CAST(milli AS DECIMAL(4,0)))
            AS val_milli_dec
        FROM credited GROUP BY 1)
      SELECT channel, n_touches,
        milli::DOUBLE / 1000.0::DOUBLE AS credit,
        CAST(val_milli_dec AS DOUBLE) / 1000.0::DOUBLE AS attributed_value,
        CASE WHEN sum(milli) OVER () = 0 THEN NULL
          ELSE milli::DOUBLE / (sum(milli) OVER ())::DOUBLE
        END AS credit_share
      FROM agg""",

    "f16_rfm" -> """
      WITH pu AS (
        SELECT o_custkey AS user_id, max(epoch_us(o_orderdate)) AS last_us,
          count(*)::BIGINT AS frequency,
          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS mon_dec
        FROM orders GROUP BY 1),
      an AS (SELECT *, max(last_us) OVER () AS anchor_us FROM pu),
      sc AS (
        SELECT user_id,
          (anchor_us - last_us) // 86400000000 AS recency_days,
          frequency, mon_dec,
          ntile(5) OVER (ORDER BY (anchor_us - last_us) // 86400000000
            DESC, user_id DESC)::BIGINT AS r_score,
          ntile(5) OVER (ORDER BY frequency ASC, user_id ASC)::BIGINT
            AS f_score,
          ntile(5) OVER (ORDER BY mon_dec ASC, user_id ASC)::BIGINT
            AS m_score
        FROM an)
      SELECT user_id, recency_days, frequency,
        CAST(mon_dec AS DOUBLE) AS monetary, r_score, f_score, m_score,
        CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
               THEN 'champion'
             WHEN r_score >= 4 AND f_score >= 3 THEN 'loyal'
             WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
             WHEN r_score <= 1 AND f_score <= 2 THEN 'lost'
             ELSE 'regular' END AS segment
      FROM sc""",

    "mb1_basket_lift" -> """
      WITH b AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      n AS (SELECT count(DISTINCT o)::BIGINT AS n_orders FROM b),
      ic AS (SELECT p, count(*)::BIGINT AS c FROM b GROUP BY 1),
      pc AS (
        SELECT x.p AS part_a, y.p AS part_b, count(*)::BIGINT AS pair_count
        FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
        GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT pc.part_a, pc.part_b, pc.pair_count,
        pc.pair_count::DOUBLE / n.n_orders::DOUBLE AS support,
        pc.pair_count::DOUBLE / ia.c::DOUBLE AS confidence,
        (pc.pair_count * n.n_orders)::DOUBLE / (ia.c * ib.c)::DOUBLE AS lift
      FROM pc CROSS JOIN n
        JOIN ic ia ON ia.p = pc.part_a
        JOIN ic ib ON ib.p = pc.part_b""",

    "rec1_item_item_cf" ->
      graft.operators.ItemItemCf.recommendSql(),

    "f14_funnel" -> """
      WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      v AS (SELECT user_id, min(ts_us) AS view_us FROM ev
        WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT e.user_id, min(e.ts_us) AS click_us
        FROM ev e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts_us > v.view_us GROUP BY 1),
      pch AS (SELECT e.user_id, min(e.ts_us) AS purchase_us
        FROM ev e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts_us > c.click_us GROUP BY 1)
      SELECT v.user_id, v.view_us, c.click_us, pch.purchase_us,
        (CASE WHEN pch.purchase_us IS NOT NULL THEN 3
              WHEN c.click_us IS NOT NULL THEN 2
              ELSE 1 END)::BIGINT AS depth
      FROM v LEFT JOIN c USING (user_id) LEFT JOIN pch USING (user_id)""",

    "path1_event_transitions" -> """
      WITH ev AS (
        SELECT user_id, event_id, event_type AS from_type,
          epoch_us(ts) AS ts_us
        FROM events),
      s AS (
        SELECT from_type,
          lead(from_type) OVER (PARTITION BY user_id
            ORDER BY ts_us, event_id) AS to_type
        FROM ev)
      SELECT from_type, to_type, count(*)::BIGINT AS n_transitions,
        count(*)::DOUBLE /
          sum(count(*)) OVER (PARTITION BY from_type)::DOUBLE AS p
      FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2""",

    "x8_cube_revenue" -> s"""$ctes
      SELECT substr(o.created_at, 1, 7) AS order_month,
        p.category AS category,
        CAST(sum(CAST(oi.sale_price AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        count(*) AS n_items,
        GROUPING(substr(o.created_at, 1, 7), p.category)::BIGINT AS gid
      $kpiJoin
      GROUP BY CUBE (1, 2)""",

    "x2_rollup_revenue" -> s"""$ctes
      SELECT substr(o.created_at, 1, 10) AS order_date,
        p.category AS category,
        CAST(sum(CAST(oi.sale_price AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        count(*) AS n_items
      $kpiJoin
      GROUP BY ROLLUP (1, 2)""",

    "as1_asof_purchase_click" -> """
      SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
        r.event_id AS click_event_id, epoch_us(r.ts) AS click_ts_us
      FROM (SELECT * FROM events WHERE event_type = 'purchase') l
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
        ON l.user_id = r.user_id AND l.ts >= r.ts""",

    // The flatMapGroups recurrence IS SQL-expressible: anchors chain per
    // key (first event anchors; the first event past anchor+window anchors
    // the next), which a recursive CTE walks — each event then lands in
    // exactly one [anchor, anchor+window] interval (intervals are disjoint
    // by construction). Same semantics as Debounce.assign.
    "e1_debounce_batches" -> """
      WITH RECURSIVE ev AS (
        SELECT user_id::BIGINT AS k, epoch_us(ts) // 1000000 AS t
        FROM events),
      anchors AS (
        SELECT k, min(t) AS anchor FROM ev GROUP BY k
        UNION
        SELECT a.k, (SELECT min(e.t) FROM ev e
                     WHERE e.k = a.k AND e.t > a.anchor + 3600) AS anchor
        FROM anchors a
        WHERE EXISTS (SELECT 1 FROM ev e
                      WHERE e.k = a.k AND e.t > a.anchor + 3600))
      SELECT e.k AS "key", a.anchor AS "batchStart",
        count(*) AS "nEvents", max(e.t) AS "lastTs"
      FROM ev e JOIN anchors a
        ON a.k = e.k AND e.t >= a.anchor AND e.t <= a.anchor + 3600
      GROUP BY 1, 2""",

    "mm1_media_summary" -> Multimodal.mediaSummarySql,
    "mm2_frame_dedup" -> Multimodal.frameDedupSql,
    "mm3_frame_neardup" ->
      Multimodal.frameNearDupSql(bits = Multimodal.SigBits),
    "mm3x_frame_neardup60" -> Multimodal.frameNearDupSql(),
    "mm4_ahash_neardup" -> Multimodal.aHashNearDupSql(),

    "w2_fifo_next" -> """
      SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type
      FROM events WHERE event_type = 'purchase'
      ORDER BY ts ASC, event_id ASC LIMIT 1""",

    "w3_exists_probe" -> """
      SELECT least(count(*), 1)::BIGINT AS found
      FROM (SELECT 1 FROM events
            WHERE event_type = 'error' AND value > 90.0 LIMIT 1)""",

    "a9_min_batch_start" -> """
      SELECT user_id, min(epoch_us(ts)) AS batch_start_us,
        count(*) AS n_events
      FROM events WHERE event_type <> 'error'
      GROUP BY user_id""",

    // both approx-swap twins reduce to (n_groups, n_within) where the
    // within-bound count must equal the group count — the oracle never
    // sees the sketch estimates, only the invariant they must satisfy
    "a2x_approx_distinct" -> s"""$ctes
      SELECT CAST(count(*) AS BIGINT) AS n_groups,
        CAST(count(*) AS BIGINT) AS n_within
      FROM (SELECT substring(created_at, 1, 10) AS order_date
            FROM o GROUP BY 1)""",

    "x5x_approx_quantile" -> """
      SELECT CAST(count(*) AS BIGINT) AS n_groups,
        CAST(count(*) AS BIGINT) AS n_within
      FROM (SELECT l_returnflag FROM lineitem GROUP BY 1)""",

    // k1's sketch estimate is EXACT below ~2^lgK distincts per group
    // (DataSketches HLL coupon mode) up to rare coupon collisions, so the
    // oracle asserts the per-day within-±1 indicator is 1 everywhere and
    // carries the exact count — sketch drift beyond ±1 at this scale is a
    // real bug, not noise.
    "k1_distinct_sketch" -> s"""$ctes
      SELECT substring(created_at, 1, 10) AS order_date,
        CAST(1 AS BIGINT) AS est_within_1,
        count(DISTINCT user_id) AS unique_customers
      FROM o GROUP BY 1""",

    // CAST the sum: DuckDB sum(BIGINT) yields HUGEINT, whose stringified
    // form diverges from Spark's int64 in the driver's hash compare
    "f13_json_extract" -> """
      SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
      FROM (SELECT event_type,
              CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events)
      WHERE k > 50
      GROUP BY 1""",

    "p4_semi_orders_with_items" -> s"""$ctes
      SELECT o.order_id FROM o
      WHERE EXISTS (SELECT 1 FROM oi WHERE oi.order_id = o.order_id)""",

    "jc1_join_card_sketch" ->
      graft.operators.JoinCardinality.ordersEventsJoinCardSql,

    "er1_entity_match" ->
      graft.operators.EntityResolution.entityMatchPairsSql(),

    "er3_sorted_neighborhood" ->
      graft.operators.EntityResolution.sortedNeighborhoodPairsSql(),


    "g1_product_pagerank" ->
      graft.operators.PageRank.productPageRankSql(),

    "g2_triangle_count" ->
      graft.operators.Triangles.triangleCensusSql,

    "g4_lpa_communities" ->
      graft.operators.LabelPropagation.communitiesSql(),

    "g3_hub_hops" ->
      graft.operators.BfsHops.hubHopsSql(),

    "er2_golden_records" ->
      graft.operators.EntityResolution.goldenRecordsSql(),

    // the binned equi-join must equal this plain containment join exactly
    "e3_range_join_incidents" -> """
      SELECT e.event_id, count(*) AS n_incidents,
        min(i.event_id) AS first_incident
      FROM (SELECT event_id, epoch_us(ts) // 1000000 AS t
            FROM events WHERE event_type = 'purchase') e
      JOIN (SELECT event_id, epoch_us(ts) // 1000000 AS istart
            FROM events WHERE event_type = 'error' AND value > 90.0) i
        ON e.t BETWEEN i.istart AND i.istart + 1800
      GROUP BY 1""",

    // Session semantics (verified empirically, and sf0.1 has a gap of
    // EXACTLY 1800 s that distinguishes them): Spark merges an event into
    // the session when gap ≤ window — touching intervals merge — and only
    // a STRICTLY greater gap starts a new session; session_end = last
    // event + gap.
    "e4_session_windows" -> """
      WITH ev AS (SELECT user_id, epoch_us(ts) // 1000000 AS t FROM events),
      f AS (SELECT user_id, t,
        CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800
             THEN 1 ELSE 0 END AS ns
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t)),
      s AS (SELECT user_id, t,
        sum(ns) OVER (PARTITION BY user_id ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM f)
      SELECT user_id, min(t) AS session_start,
        max(t) + 1800 AS session_end, count(*) AS n_events
      FROM s GROUP BY user_id, sid""",

    "x4_pivot_status_revenue" -> s"""$ctes
      SELECT p.category AS category,
        CAST(sum(CAST(oi.sale_price AS DECIMAL(18,2)))
          FILTER (WHERE oi.status = 'A') AS DOUBLE) AS "A",
        CAST(sum(CAST(oi.sale_price AS DECIMAL(18,2)))
          FILTER (WHERE oi.status = 'N') AS DOUBLE) AS "N",
        CAST(sum(CAST(oi.sale_price AS DECIMAL(18,2)))
          FILTER (WHERE oi.status = 'returned') AS DOUBLE) AS returned
      $kpiJoin
      GROUP BY 1""",

    "u2_except_users" -> """
      SELECT user_id FROM events WHERE event_type = 'purchase'
      EXCEPT
      SELECT user_id FROM events
      WHERE event_type = 'error' AND value > 90.0""",

    "x5_quantile_qty" -> """
      SELECT l_returnflag,
        quantile_cont(l_quantity, 0.25) AS p25,
        quantile_cont(l_quantity, 0.50) AS p50,
        quantile_cont(l_quantity, 0.75) AS p75
      FROM lineitem GROUP BY 1""",

    "x6_robust_outliers" -> Validation.robustOutliersSql(
      "lineitem", "l_returnflag", "l_extendedprice", k = 1.8),

    // Spark's window("1 hour") aligns tumbling windows to the epoch, so
    // window.start ≙ floor(epoch_us / 3.6e9) * 3.6e9.
    "e2_windowed_event_agg" -> """
      SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
        event_type, count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2""",

    "e6_daily_top_keys" -> """
      WITH a AS (
        SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS day_start_us,
          CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
          count(*)::BIGINT AS n_events
        FROM events GROUP BY 1, 2),
      r AS (
        SELECT day_start_us, k, n_events,
          row_number() OVER (PARTITION BY day_start_us
            ORDER BY n_events DESC, k) AS rank
        FROM a)
      SELECT day_start_us, k, n_events, rank::BIGINT AS rank
      FROM r WHERE rank <= 3""",

    "e5_segment_kpi" -> """
      SELECT c.c_mktsegment AS segment, count(*) AS n_events,
        CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        count(DISTINCT e.user_id) AS n_users
      FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1""",

    "e7_click_purchase_join" -> """
      WITH p AS (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS t
                 FROM events WHERE event_type = 'purchase'),
      c AS (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS t
            FROM events WHERE event_type = 'click')
      SELECT p.event_id AS purchase_id, p.user_id,
        c.event_id AS click_id, p.t AS p_epoch, c.t AS c_epoch
      FROM p JOIN c ON c.user_id = p.user_id
        AND c.t <= p.t AND c.t >= p.t - 1800""",

    "e8_attribution_outer" -> """
      WITH p AS (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS t
                 FROM events WHERE event_type = 'purchase'),
      c AS (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS t
            FROM events WHERE event_type = 'click')
      SELECT p.event_id AS purchase_id, p.user_id,
        c.event_id AS click_id, p.t AS p_epoch, c.t AS c_epoch
      FROM p LEFT JOIN c ON c.user_id = p.user_id
        AND c.t <= p.t AND c.t >= p.t - 1800""",

    "a1c_category_kpi_compat" -> s"""$ctes,
      os AS (SELECT CAST(order_id AS VARCHAR) AS order_id FROM o),
      ois AS (SELECT CAST(id AS VARCHAR) AS id,
        CAST(order_id AS VARCHAR) AS order_id,
        CAST(product_id AS VARCHAR) AS product_id, status,
        CAST(sale_price AS VARCHAR) AS sale_price FROM oi),
      ps AS (SELECT CAST(id AS VARCHAR) AS id, category FROM p)
      SELECT ps.category AS category,
        CAST(sum(CAST(TRY_CAST(ois.sale_price AS DOUBLE) AS DECIMAL(18,2)))
          AS DOUBLE) AS daily_revenue,
        CAST(sum(CAST(TRY_CAST(ois.sale_price AS DOUBLE) AS DECIMAL(18,2)))
          AS DOUBLE) / NULLIF(count(TRY_CAST(ois.sale_price AS DOUBLE)), 0)
          AS avg_order_value,
        CAST(count(*) FILTER (WHERE ois.status = 'returned') AS DOUBLE)
          / NULLIF(count(ois.id), 0) AS avg_return_rate
      FROM os JOIN ois ON os.order_id = ois.order_id
      JOIN ps ON ois.product_id = ps.id
      GROUP BY 1""",

    "x1_top_category_daily" -> s"""$ctes,
      daily AS (
        SELECT substr(o.created_at, 1, 10) AS order_date,
          p.category AS category,
          CAST(sum(CAST(oi.sale_price AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        $kpiJoin
        GROUP BY 1, 2)
      SELECT order_date, rnk, category, revenue FROM (
        SELECT order_date, category, revenue,
          rank() OVER (PARTITION BY order_date
            ORDER BY revenue DESC, category ASC)::BIGINT AS rnk
        FROM daily)
      WHERE rnk <= 3"""
  )
}
