package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ER1 (E136): blocked fuzzy entity resolution — the record-linkage
  * primitive (Fellegi–Sunter style) a data-integration pipeline runs
  * before any customer-grain analytics: find pairs of records that are
  * probably the SAME real-world entity despite textual drift in the
  * name. Candidate generation is BLOCKED — pairs are only formed inside
  * a blocking-key group (here `(c_nationkey, c_mktsegment)`) — and the
  * expensive pair comparator (Levenshtein edit distance) runs only on
  * the blocked candidates.
  *
  * Scale: blocking is THE point. All-pairs comparison is O(n²) and dead
  * at any real scale; the blocked self-join shuffles each side once on
  * the block key and compares Σ|block|² pairs — tractable whenever the
  * blocking key keeps groups bounded. At 100 TB you also (a) block on
  * several independent keys (name prefix, phonetic code, zip) and union
  * the candidate sets so a noisy block key doesn't cost recall, and
  * (b) salt any pathological block with a random sub-key — both are
  * composition of this same shape, so the single-key form is the
  * operator. The comparator stays inside whole-stage codegen
  * (`levenshtein` is a codegen'd Catalyst expression, not a UDF).
  *
  * Determinism: edit distance is integer-exact and engine-independent
  * (unit-cost Wagner–Fischer in both Spark and DuckDB), `custkey_a <
  * custkey_b` de-mirrors pairs, and the output carries the distance so
  * downstream thresholding/clustering (d9's connected components over
  * this pair graph — the dedup convention) is reproducible.
  */
object EntityResolution {

  /** Max edit distance for a candidate pair to count as a match. 2
    * absorbs one typo plus one transposition-ish slip on short names;
    * a production linker would model per-field agreement weights, but
    * the threshold form is the verifiable core. */
  val ErMaxDist = 2

  /** Matched candidate pairs: same blocking key, `custkey_a <
    * custkey_b`, edit distance ≤ `maxDist`. One blocked self-join, the
    * comparator evaluated once per candidate pair. */
  def entityMatchPairs(customers: DataFrame,
      maxDist: Int = ErMaxDist): DataFrame = {
    val a = customers.select(col("c_nationkey").as("nk"),
      col("c_mktsegment").as("seg"),
      col("c_custkey").as("custkey_a"), col("c_name").as("name_a"))
    val b = customers.select(col("c_nationkey").as("nk"),
      col("c_mktsegment").as("seg"),
      col("c_custkey").as("custkey_b"), col("c_name").as("name_b"))
    // Spread the probe side across the cluster on the block key: the
    // dimension scan is a handful of input splits, and under the
    // broadcast join the comparator would otherwise run at the scan's
    // parallelism. The partition count is pinned because the exchange
    // exists for CPU spread, not data volume — AQE's coalescer sees a
    // few hundred KB and would fold the comparator back onto one core.
    a.repartition(a.sparkSession.sparkContext.defaultParallelism,
        col("nk"), col("seg"))
      .join(b, Seq("nk", "seg"))
      .where(col("custkey_a") < col("custkey_b"))
      .select(col("nk").cast("long").as("nationkey"),
        col("seg").as("mktsegment"),
        col("custkey_a"), col("custkey_b"),
        levenshtein(col("name_a"), col("name_b")).cast("long")
          .as("edit_dist"))
      .where(col("edit_dist") <= maxDist)
  }

  /** E142 (ER2): GOLDEN-RECORD construction — the survivorship stage of
    * master-data management, composing the ER trilogy exactly as the
    * dedup family composes (er1 pairs ≡ d3's near-dup pairs, CC ≡ d9's
    * components, the election ≡ d16's survivor rule, each column its
    * operator's single definition): duplicate-customer clusters are the
    * connected components of [[entityMatchPairs]]' match graph, and
    * each cluster elects its master record by the survivorship rule
    * "highest account balance, tie → lowest key" — the most-complete-
    * record heuristic of MDM. One row per multi-member cluster: the
    * merge-review queue an MDM steward works, with the cluster's
    * member count and decimal-exact combined balance.
    *
    * Scale shape: the customer table never shuffles as a whole — the
    * pair graph and CC loop touch only matched keys, the election
    * window ranks only cluster MEMBERS (the small label relation joined
    * back by key), and the balance sum is DECIMAL(18,2) folded to
    * DOUBLE only at the boundary. */
  def goldenRecords(customers: DataFrame,
      maxDist: Int = ErMaxDist): DataFrame =
    goldenRecordsFromPairs(customers, entityMatchPairs(customers, maxDist))

  /** The pairs-parameterized form (the FromLabels convention): any
    * match-pair relation with `custkey_a`/`custkey_b` drives the same
    * survivorship — er1's blocked pairs (the default), er3's linear
    * sorted-neighborhood pairs (`er4`, the all-linear MDM path), or a
    * pipeline's already-materialized pair graph. */
  def goldenRecordsFromPairs(customers: DataFrame,
      pairs: DataFrame): DataFrame = {
    val edges = pairs
      .select(col("custkey_a").as("doc_a"), col("custkey_b").as("doc_b"))
    val members = graft.dedup.Dedup.connectedComponents(edges)
      .join(customers, col("doc_id") === col("c_custkey"))
    val summary = members.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total_acctbal"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    val golden = members.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("cluster_id"), col("c_custkey").as("golden_custkey"),
        col("c_name").as("golden_name"),
        col("c_acctbal").as("golden_acctbal"))
    summary.join(golden, Seq("cluster_id"))
      .select(col("cluster_id"), col("n_members"), col("golden_custkey"),
        col("golden_name"), col("golden_acctbal"), col("total_acctbal"))
  }

  /** ER2 oracle: the same match graph, min-reachability as a recursive
    * CTE (the d9 oracle convention — closures stay small because ER
    * components are block-bounded), and the identical election. */
  def goldenRecordsSql(maxDist: Int = ErMaxDist): String =
    goldenRecordsFromPairsSql(entityMatchPairsSql(maxDist))

  /** Pairs-parameterized oracle — mirrors [[goldenRecordsFromPairs]]. */
  def goldenRecordsFromPairsSql(pairsSql: String): String = s"""
    WITH RECURSIVE edges AS (
      SELECT custkey_a AS doc_a, custkey_b AS doc_b
      FROM ($pairsSql)),
    und AS (
      SELECT doc_a AS x, doc_b AS y FROM edges
      UNION ALL SELECT doc_b AS x, doc_a AS y FROM edges),
    reach AS (
      SELECT x AS node, x AS r FROM und
      UNION
      SELECT reach.node, u.y AS r FROM reach JOIN und u ON u.x = reach.r),
    labels AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
    members AS (
      SELECT l.cluster_id, c.c_custkey, c.c_name, c.c_acctbal
      FROM labels l JOIN customer c ON c.c_custkey = l.node),
    summary AS (
      SELECT cluster_id, count(*)::BIGINT AS n_members,
        CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
          AS total_acctbal
      FROM members GROUP BY 1),
    golden AS (
      SELECT cluster_id, c_custkey, c_name, c_acctbal,
        row_number() OVER (PARTITION BY cluster_id
          ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
      FROM members)
    SELECT s.cluster_id, s.n_members, g.c_custkey AS golden_custkey,
      g.c_name AS golden_name, g.c_acctbal AS golden_acctbal,
      s.total_acctbal
    FROM summary s JOIN golden g
      ON g.cluster_id = s.cluster_id AND g.rk = 1"""

  /** Oracle twin: the identical blocked self-join in ANSI SQL. */
  def entityMatchPairsSql(maxDist: Int = ErMaxDist): String = s"""
    SELECT a.c_nationkey::BIGINT AS nationkey,
      a.c_mktsegment AS mktsegment,
      a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
      levenshtein(a.c_name, b.c_name)::BIGINT AS edit_dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey
      AND a.c_mktsegment = b.c_mktsegment
      AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= $maxDist"""

  // ---- ER3 (E160): multi-pass sorted-neighborhood matching -----------------

  /** Sliding-window width per pass — the published SNM default range
    * (Hernández–Stolfo use 2–10); each record compares against the next
    * `SnmWindow` records in sort order, so candidates are exactly
    * `passes · window · n` — LINEAR where blocked ER at fixed block
    * cardinality is quadratic (the er2 wall BASELINE measured: ×3→×10
    * went 6.3× as the ~90M-candidate comparator took over). */
  val SnmWindow = 5

  /** ER3 (E160): multi-pass SORTED-NEIGHBORHOOD matching — the
    * linear-candidate record-linkage method (Hernández–Stolfo's
    * merge/purge): sort the records by a key, compare each record only
    * against its `window` successors, and run MULTIPLE passes with
    * independent sort keys unioned so a single key's sort-order blind
    * spot (a typo in the leading character sorts the pair far apart)
    * doesn't cost recall. Passes here: the name itself and the REVERSED
    * name (leading-typo pairs sort adjacent in pass 2). The executable
    * SCALE PATH past er1/er2's fixed-block-vocabulary wall.
    *
    * Scale shape: each pass is one global-rank pass and ONE equi-join
    * on the rank (each record explodes `window` probe ranks —
    * candidates are n·window rows, never a block square); the union
    * dedups on the pair key with a grouped min. The rank is the
    * RANGE-PARTITIONED two-level form ([[globalRank]]): the first cut
    * used a plain `row_number() OVER (ORDER BY …)`, which Spark
    * funnels through ONE task — the ×100 sweep measured it as a
    * 7.1×-at-3.3×-data step while comparator volume stayed exactly
    * linear; the two-level rank removed it (BASELINE records both
    * numbers), leaving only a P-row offset prefix sum sequential.
    * Determinism:
    * the sort key is (key, custkey) — total order — and edit distance
    * is integer-exact, so the candidate set and every distance are
    * engine-independent. Window-local recall is the documented
    * tradeoff: a matching pair more than `window` apart in BOTH sort
    * orders is missed (the published fix is more passes — composition
    * of this same shape). */
  /** Global rank without a global window: range-partition on the sort
    * key, rank WITHIN each partition in parallel, and add the
    * broadcast per-partition offset (Σ counts of earlier partitions) —
    * the two-level rank every distributed sort uses. The round-10 ×100
    * sweep measured the naive `row_number() OVER (ORDER BY …)` form
    * serializing through ONE task (Spark's unpartitioned-window
    * funnel, a 7.1× step at 3.3× data); this form's only sequential
    * piece is the P-row offset prefix sum. The output rank is the
    * total-order rank whatever boundaries the range sampler picks
    * (rank-in-partition + offset telescopes), so results are
    * bit-identical to the naive form — the oracle pins that. The
    * partition-id frame is EAGERLY checkpointed: its two consumers
    * (offset counts, the rank join) must see ONE exchange — without
    * materialization a non-reused exchange could re-sample different
    * boundaries per consumer and mis-stitch offsets to partitions
    * (cluster caveat: checkpoint blocks are executor-local). */
  private def globalRank(customers: DataFrame,
      sortKey: Column): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val s = customers
      .select(col("c_custkey"), col("c_name"), sortKey.as("sk"))
    val parts = s.sparkSession.sparkContext.defaultParallelism
    val staged = s.repartitionByRange(parts, col("sk"), col("c_custkey"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(true)
    val offsets = staged.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(
        sum(col("cnt")).over(W.orderBy(col("pid"))
          .rowsBetween(Long.MinValue, -1)), lit(0L)))
      .select(col("pid"), col("offset"))
    staged.join(broadcast(offsets), Seq("pid"))
      .select(col("c_custkey"), col("c_name"),
        (col("offset") + row_number().over(
          W.partitionBy(col("pid"))
            .orderBy(col("sk"), col("c_custkey"))).cast("long")).as("rn"))
  }

  /** The pass ladder for the recall curve: sort keys in the order a
    * pipeline would add them (Hernández–Stolfo's multi-pass rule —
    * keys are built from record FIELDS, and key design dominates window
    * size). 1 = the name itself; 2 = + the reversed name (leading-typo
    * pairs sort adjacent); 3 = + the block-prefixed name and 4 = + the
    * block-prefixed reversed name (the er1-comparable configuration:
    * er1's ground truth lives inside (nationkey, segment) blocks, and a
    * sort that doesn't lead with the block fields scatters same-block
    * pairs ~|corpus|/|blocks| ranks apart — the measured recall wall in
    * BASELINE.md; a mid-rotation third key was measured adding ZERO
    * pairs over 1+2 and is recorded there as the negative result). The
    * default operator runs the first two; BASELINE.md measures 1–4. */
  def snmKeys(passes: Int): Seq[Column] = {
    require(passes >= 1 && passes <= 4,
      s"the SNM pass ladder defines 4 keys; passes=$passes would " +
        "silently truncate and mis-label a sweep cell")
    val block = concat(col("c_nationkey").cast("string"), lit("|"),
      col("c_mktsegment"), lit("|"))
    Seq(col("c_name"),
      reverse(col("c_name")),
      concat(block, col("c_name")),
      concat(block, reverse(col("c_name")))).take(passes)
  }

  def sortedNeighborhoodPairs(customers: DataFrame,
      window: Int = SnmWindow, maxDist: Int = ErMaxDist): DataFrame =
    sortedNeighborhoodPairsKeys(customers, snmKeys(2), window, maxDist)

  /** The keys-parameterized form: any non-empty, independently chosen
    * sort-key set drives the same pass/union/dedup body — more passes
    * buy window-local recall at one extra rank+join each (the published
    * SNM knob; the measured recall curve is in BASELINE.md). */
  def sortedNeighborhoodPairsKeys(customers: DataFrame, keys: Seq[Column],
      window: Int = SnmWindow, maxDist: Int = ErMaxDist): DataFrame = {
    require(keys.nonEmpty, "sorted-neighborhood matching needs >= 1 pass")
    def pass(sortKey: Column): DataFrame = {
      val s = globalRank(customers, sortKey)
      val probes = s.select(col("c_custkey").as("ka"),
          col("c_name").as("na"),
          explode(sequence(col("rn") + 1, col("rn") + window)).as("rn"))
      probes.join(s.select(col("rn"), col("c_custkey").as("kb"),
          col("c_name").as("nb")), Seq("rn"))
        .select(least(col("ka"), col("kb")).as("custkey_a"),
          greatest(col("ka"), col("kb")).as("custkey_b"),
          levenshtein(col("na"), col("nb")).cast("long").as("edit_dist"))
        .where(col("edit_dist") <= maxDist)
    }
    keys.map(pass).reduce(_ unionByName _)
      .groupBy(col("custkey_a"), col("custkey_b"))
      // distance is a function of the pair — min() is dedup, not choice
      .agg(min(col("edit_dist")).as("edit_dist"))
  }

  /** ER3 oracle: the identical two sorted passes (rank range join),
    * unioned and pair-deduped. */
  def sortedNeighborhoodPairsSql(window: Int = SnmWindow,
      maxDist: Int = ErMaxDist): String = {
    def pass(key: String): String = s"""
      SELECT least(a.c_custkey, b.c_custkey) AS custkey_a,
        greatest(a.c_custkey, b.c_custkey) AS custkey_b,
        levenshtein(a.c_name, b.c_name)::BIGINT AS edit_dist
      FROM (SELECT c_custkey, c_name,
              row_number() OVER (ORDER BY $key, c_custkey) AS rn
            FROM customer) a
      JOIN (SELECT c_custkey, c_name,
              row_number() OVER (ORDER BY $key, c_custkey) AS rn
            FROM customer) b
        ON b.rn > a.rn AND b.rn <= a.rn + $window
      WHERE levenshtein(a.c_name, b.c_name) <= $maxDist"""
    s"""
    SELECT custkey_a, custkey_b, min(edit_dist)::BIGINT AS edit_dist
    FROM (${pass("c_name")} UNION ALL ${pass("reverse(c_name)")})
    GROUP BY 1, 2"""
  }
}
