package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Deduplication operators for a training-data pipeline: exact (hash-group),
  * n-gram Jaccard, MinHash+LSH, SimHash — the standard ladder from cheap
  * exact dedup to scalable near-dup detection.
  *
  * Scale design (100 TB):
  *  - exact dedup is one shuffle on the content fingerprint (hash-partition
  *    by md5, keep min doc_id per group) — the optimal distributed plan;
  *  - naive pairwise Jaccard is O(n²) and exists as the verification oracle;
  *    the scale path is MinHash signatures (one narrow pass) + LSH banding
  *    (shuffle on band key; only same-bucket pairs are compared), turning
  *    all-pairs into per-bucket micro-joins;
  *  - SimHash reduces each doc to a 32-bit signature (narrow pass), and
  *    near-dup candidates share at least one of 4 signature bands
  *    (pigeonhole: hamming ≤ 3 ⇒ some 8-bit band equal), again a key join
  *    instead of a cross product;
  *  - everything is built-in expressions (no UDFs) so signature computation
  *    stays inside whole-stage codegen.
  *
  * The `withNearDups` corpus doubles `documents` with a perturbed twin of
  * each doc (one token appended, id offset +10 M — far above any fanned-out corpus id, so twins never collide with scaled ids even at ×30+ sweeps) so near-dup operators
  * have planted positives to find at any scale factor — the oracle plants
  * the identical twins.
  */
object Dedup {

  val TwinOffset = 10000000L

  /** Test corpus with planted near-duplicates: every doc gets a twin with
    * one appended token. Exact-dedup corpus instead unions verbatim copies. */
  def withNearDups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .unionByName(docs.select(
        (col("doc_id") + TwinOffset).as("doc_id"),
        concat(col("text"), lit(" spark")).as("text")))

  /** See [[graft.functions.TextFunctions.spreadSmallScan]] — applied
    * INSIDE the signature pipelines, not at corpus synthesis: spreading
    * the corpus itself re-shapes every downstream consumer (measured on
    * d16: +50 % — its election/split tails turned into 32-task stages
    * of tiny work). */
  private def spreadSmallScan(docs: DataFrame): DataFrame =
    graft.functions.TextFunctions.spreadSmallScan(docs)

  def withNearDupsSql(docs: String): String = s"""
    SELECT doc_id, text FROM $docs
    UNION ALL
    SELECT doc_id + $TwinOffset AS doc_id, text || ' spark' AS text FROM $docs"""

  val QuoteOffset = 20000000L
  val QuoteTokens = 12

  /** Corpus with planted CONTAINED duplicates for d14: every doc gets a
    * "quote" twin holding only its first [[QuoteTokens]] tokens (id offset
    * +20 M, disjoint from [[TwinOffset]]'s band) — the quote's shingle set
    * is a SUBSET of the original's by construction, so directional
    * containment is exactly 1.0 while Jaccard shrinks with the original's
    * length: the planted positive d14 must find and a symmetric threshold
    * misses on long docs. */
  def withContainedDups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .unionByName(docs.select(
        (col("doc_id") + QuoteOffset).as("doc_id"),
        array_join(slice(tokens(norm(col("text"))), 1, QuoteTokens), " ")
          .as("text")))

  def withContainedDupsSql(docs: String): String = s"""
    SELECT doc_id, text FROM $docs
    UNION ALL
    SELECT doc_id + $QuoteOffset AS doc_id,
      array_to_string(
        list_slice(${tokensSql(normSql("text"))}, 1, $QuoteTokens),
        ' ') AS text
    FROM $docs"""

  // ---- D1: exact dedup -----------------------------------------------------

  /** Exact dedup by content fingerprint: one row per distinct normalized
    * text, keeping the smallest doc_id; `copies` counts collapsed rows.
    * Input is the corpus doubled verbatim, so every group has ≥ 2 copies. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), docFp(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("copies"))

  val exactDedupSql: String = s"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id, text FROM documents)
    SELECT md5(${normSql("text")}) AS fp,
      min(doc_id) AS keeper_doc_id, count(*) AS copies
    FROM corpus GROUP BY 1"""

  // ---- D8: incremental dedup against a seen-fingerprint store -------------

  /** The PRODUCTION shape of exact dedup: a new batch is deduplicated
    * against the accumulated fingerprint store of everything already
    * ingested (a fresh crawl vs the corpus), not against itself. One
    * left-anti join on the fingerprint — broadcast when the batch-side
    * build is small, shuffle otherwise; the store side never rewrites.
    * Survivors' fingerprints are what a caller appends to the store,
    * making the whole loop incremental (same philosophy as
    * `Pipeline.upsertStore`: per-batch work scales with the batch).
    */
  def incrementalDedup(incoming: DataFrame, seenFps: DataFrame): DataFrame =
    incoming
      .withColumn("fp", docFp(col("text")))
      .join(seenFps.select(col("fp")), Seq("fp"), "left_anti")

  /** The fingerprint store's row shape: one `fp` per doc. */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(docFp(col("text")).as("fp")).distinct()

  /** d8 oracle: evens are the historical store; incoming = odds + a
    * re-crawl of the evens under new ids — only the odds survive. */
  val incrementalDedupSql: String = s"""
    WITH seen AS (
      SELECT DISTINCT md5(${normSql("text")}) AS fp
      FROM documents WHERE doc_id % 2 = 0),
    incoming AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + ${TwinOffset * 2} AS doc_id, text
      FROM documents WHERE doc_id % 2 = 0),
    fps AS (SELECT doc_id, md5(${normSql("text")}) AS fp FROM incoming)
    SELECT fp, doc_id FROM fps
    WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.fp = fps.fp)"""

  // ---- D2: n-gram Jaccard near-dup ----------------------------------------

  val JaccardThreshold = 0.6

  /** Distinct (doc_id, shingle-hash) pairs — the shingle set relation.
    * Token hashes are materialized as a column first, then combined
    * arithmetically into shingle hashes ([[hashedShinglesFromTh]]): no
    * shingle strings are ever built, which is ~10× cheaper per doc. */
  private def shingleSet(docs: DataFrame): DataFrame =
    spreadSmallScan(docs).select(col("doc_id"),
      tokenHashes(tokens(norm(col("text")))).as("th"))
      .select(col("doc_id"),
        explode(array_distinct(hashedShinglesFromTh(col("th")))).as("h"))

  /** Word-3-gram Jaccard similarity join: pairs of docs sharing enough of
    * their shingle sets. Pairwise-on-shared-shingle formulation — the
    * shuffle key is the shingle hash, so only docs sharing a shingle ever
    * meet (no cross product); still quadratic within hot shingles, which is
    * what MinHash banding (D3) fixes at scale. */
  def ngramJaccardPairs(docs: DataFrame): DataFrame = {
    val sh = shingleSet(docs).cache()
    sh.count() // materialize: the plan below uses sh three times in one
               // action; an unpopulated cache would compute it three times
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("sa.n") + col("sb.n") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
  }

  private def shingleSetSql(corpus: String): String = {
    val toks = tokensSql(normSql("text"))
    s"""
      SELECT DISTINCT doc_id, unnest(${hashedShinglesFromThSql("th")}) AS h
      FROM (SELECT doc_id, ${tokenHashesSql(toks)} AS th FROM $corpus)"""
  }

  def ngramJaccardPairsSql(corpus: String): String = s"""
    WITH corpus AS ($corpus),
    sh AS (${shingleSetSql("corpus")}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
      inter::DOUBLE / (sa.n + sb.n - inter) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= $JaccardThreshold"""

  val MaxShingleDf = 20

  /** D2 scale path (prefix-filtering family): shingles whose DOCUMENT
    * FREQUENCY exceeds `maxDf` are stop-shingles — they carry no
    * discriminative signal but produce O(df²) candidate pairs each, which
    * is where the similarity join's cost concentrates. Dropping them from
    * BOTH the sets and the join bounds per-shingle join fan-out at df²
    * ≤ maxDf², making the candidate volume linear in corpus size for any
    * corpus whose shingle frequencies are heavy-tailed. Scores are Jaccard
    * over the informative (df-capped) shingle sets — mirrored exactly in
    * the oracle. */
  def ngramJaccardDfCapped(docs: DataFrame, maxDf: Int = MaxShingleDf)
      : DataFrame = {
    val sh0 = shingleSet(docs)
    // The cap's linear-candidate guarantee (≤ n·maxDf pairs) assumes a
    // heavy-tailed shingle DF distribution — real corpora keep growing
    // hapax/rare-shingle tails (Heaps' law), so discriminative shingles
    // survive any corpus size. A corpus whose shingle SPACE is bounded
    // (the ×10 scaling sweep's fixed-vocabulary fan-out is one) can push
    // EVERY shingle over the cap; the method is then vacuous — zero
    // retained mass means "signal destroyed", not "no duplicates" — and
    // silently returning an empty pair set would read as the latter. So
    // measure the drop on the (vocabulary-width) DF relation and fail
    // loud on total collapse, the CC-non-convergence contract.
    // vocabulary-width; persisted like `sh` below, released by the
    // caller's cache clear (the existing d7 persist convention) so the
    // execution-time `rare` branch reuses it instead of re-exploding sh0
    val dfs = guardedShingleDfs(sh0, maxDf, "df-capped Jaccard")
    dfCappedPairScores(sh0, dfs, maxDf)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
  }

  /** ONE definition of the df-relation build + fail-loud collapse guard
    * for the df-capped family (d7 Jaccard, d14 containment): builds the
    * persisted vocabulary-width DF relation (released by the caller's
    * cache clear — the d7 persist convention; the `rare` branch reuses it
    * instead of re-exploding sh0), measures the drop fraction, and throws
    * on total collapse so a vacuous prefix filter can never read as "no
    * duplicates". The stderr dropFrac line is the measurement signal for
    * the documented recovery (catch, raise maxDf, retry). */
  private def guardedShingleDfs(sh0: DataFrame, maxDf: Int,
      what: String): DataFrame = {
    val dfs = sh0.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = dfs.agg(
      coalesce(sum(col("df")), lit(0L)).as("total"),
      coalesce(sum(when(col("df") <= maxDf, col("df"))), lit(0L))
        .as("kept")).head()
    val (total, kept) = (m.getLong(0), m.getLong(1))
    System.err.println(
      s"[graft.dfcap] $what: shingle mass total=$total kept=$kept " +
        f"dropFrac=${if (total == 0) 0.0 else 1.0 - kept.toDouble / total}%.3f")
    if (total > 0 && kept == 0) {
      // release the cached DF relation on the fail-loud path — the
      // documented recovery (catch, raise maxDf, retry) must not strand a
      // persisted relation per attempt
      dfs.unpersist()
      throw new IllegalStateException(
        s"$what: every shingle exceeds maxDf=$maxDf " +
          "(bounded shingle space?) — the prefix filter dropped 100% of " +
          "shingle mass, so the method carries no signal here; raise " +
          "maxDf or use the MinHash path (d3), which has no DF " +
          "precondition")
    }
    dfs
  }

  /** Shared body of the df-capped similarity family (d7 Jaccard, d14
    * containment): capped shingle relation → sizes → shared-shingle
    * intersection counts → per-pair scores. Returns EVERY co-shingled
    * pair with `containment_a`, `containment_b`, and `jaccard` columns —
    * callers apply their own threshold, so one relation definition serves
    * both symmetric and asymmetric scoring. */
  private def dfCappedPairScores(sh0: DataFrame, dfs: DataFrame,
      maxDf: Int): DataFrame = {
    val rare = dfs
      .filter(col("df") <= maxDf)
      .select(col("h"))
    // DISK_ONLY, not .cache(): the exploded shingle relation is several×
    // the corpus — at 100 TB it cannot live in storage memory. Disk-backed
    // persist is bounded by local disk exactly like shuffle spill, blocks
    // are recomputed from lineage if an executor dies, and the three
    // consumers below still share one materialization.
    val sh = sh0.join(rare, Seq("h"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    sh.count() // materialize before triple use
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / col("sa.n")).as("containment_a"),
        (col("inter").cast("double") / col("sb.n")).as("containment_b"),
        (col("inter").cast("double") /
          (col("sa.n") + col("sb.n") - col("inter"))).as("jaccard"))
  }

  // ---- D14: containment near-dup (asymmetric) -----------------------------

  /** Pairs whose larger directional containment crosses this line. */
  val ContainmentThreshold = 0.8

  /** E104: CONTAINMENT near-dup pairs — the asymmetric member of the
    * dedup ladder. Jaccard normalizes by the UNION, so a short document
    * fully quoted inside a much longer one scores ≈ \|A\|/\|B\| and slips
    * under any useful Jaccard threshold; directional containment
    * C(A→B) = \|A∩B\|/\|A\| scores that same pair 1.0. This is the quote/
    * subset/boilerplate-expansion detector (the "suffix-eviction" case of
    * text dedup): emitted pairs carry BOTH directions plus the Jaccard
    * score for contrast, and a pair qualifies when its GREATER containment
    * crosses [[ContainmentThreshold]].
    *
    * Same engine as d7 — the df-capped shingle relation
    * ([[dfCappedPairScores]]: stop-shingles excluded from sets AND join,
    * candidate volume linear for heavy-tailed corpora, shuffle keyed on
    * the shingle hash), so the asymmetric score costs nothing beyond the
    * pair pass the pipeline already runs; only the final normalization
    * differs. Same fail-loud DF-collapse guard, same oracle CTE skeleton. */
  def containmentPairs(docs: DataFrame, maxDf: Int = MaxShingleDf,
      minContainment: Double = ContainmentThreshold): DataFrame = {
    val sh0 = shingleSet(docs)
    val dfs = guardedShingleDfs(sh0, maxDf, "containment pairs")
    dfCappedPairScores(sh0, dfs, maxDf)
      .filter(greatest(col("containment_a"), col("containment_b"))
        >= minContainment)
  }

  def containmentPairsSql(corpus: String, maxDf: Int = MaxShingleDf,
      minContainment: Double = ContainmentThreshold): String = s"""
    WITH corpus AS ($corpus),
    sh0 AS (${shingleSetSql("corpus")}),
    rare AS (SELECT h FROM sh0 GROUP BY h HAVING count(*) <= $maxDf),
    sh AS (SELECT sh0.doc_id, sh0.h FROM sh0 JOIN rare ON sh0.h = rare.h),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
      inter::DOUBLE / sa.n AS containment_a,
      inter::DOUBLE / sb.n AS containment_b,
      inter::DOUBLE / (sa.n + sb.n - inter) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE greatest(inter::DOUBLE / sa.n, inter::DOUBLE / sb.n)
      >= $minContainment"""

  def ngramJaccardDfCappedSql(corpus: String,
      maxDf: Int = MaxShingleDf): String = s"""
    WITH corpus AS ($corpus),
    sh0 AS (${shingleSetSql("corpus")}),
    rare AS (SELECT h FROM sh0 GROUP BY h HAVING count(*) <= $maxDf),
    sh AS (SELECT sh0.doc_id, sh0.h FROM sh0 JOIN rare ON sh0.h = rare.h),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
      inter::DOUBLE / (sa.n + sb.n - inter) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= $JaccardThreshold"""

  // ---- D9: duplicate clustering (connected components) --------------------

  /** Rows per partition inside the CC loop's shuffles — sized so a
    * partition of (long, long) label rows is a few tens of MB. */
  val CcRowsPerPartition = 4L * 1000 * 1000

  /** Connected components over an undirected edge list `(doc_a, doc_b)` by
    * iterative min-label propagation: every node starts labeled with its
    * own id; each round it takes the min of its label and its neighbors',
    * until a fixpoint. A "hop" is one fused `union + min-aggregate`:
    * neighbor labels flow through the edge join and are folded together
    * with each node's own label in a single grouped min — ONE shuffle per
    * hop (the previous join + aggregate + left-join shape cost three).
    * Each round runs TWO hops, so labels travel two graph edges per
    * checkpoint and a diameter-d component converges in ⌈d/2⌉ rounds.
    *
    * Scale notes, in the order they matter on a real cluster:
    *  - **Shuffle width is adaptive**: the loop's relations (|V| labels,
    *    2|E| directed edges) are usually orders of magnitude smaller than
    *    the corpus that produced the pairs. Width = rows / a few million,
    *    clamped to the session's `spark.sql.shuffle.partitions` — at 100 TB
    *    the clamp saturates at the configured parallelism and nothing
    *    changes, while at bench scale (thousands of edges) every stage in
    *    the loop is a single task instead of 32 (the round-4 driver bench
    *    measured ~46 s of pure task-scheduling latency on those tiny
    *    stages). AQE cannot do this for us: each round's width is fixed by
    *    the config when the query is planned, and checkpoints cut the plan
    *    into separate queries.
    *  - The edge relation is repartitioned ON the join key (`y`) once and
    *    persisted DISK_ONLY, and every hop's aggregate leaves labels
    *    hash-partitioned on `node` with the same width — so the per-hop
    *    join is co-partitioned and the only exchange per hop is the
    *    grouped min.
    *  - `localCheckpoint` after every round is load-bearing — iterative
    *    joins otherwise stack lineage (round N's plan replays rounds
    *    1..N-1). Checkpoints are LAZY (`eager = false`); the convergence
    *    probe below is the single blocking job per round that materializes
    *    them.
    *  - **Convergence = unchanged exact label sum.** Min-propagation only
    *    ever decreases labels, so the Σlabel (DECIMAL(38,0), overflow-free)
    *    is strictly decreasing until the fixpoint and constant after it —
    *    a one-scalar aggregate replaces the old `label != old` diff count
    *    and needs no `old` column carried through the loop.
    * Non-convergence within maxIters FAILS LOUD — silently returning
    * half-propagated labels would report a wrong cluster count.
    *
    * The loop's confs (narrowed `spark.sql.shuffle.partitions`, AQE off)
    * live on a conf-isolated session CLONE (`newSession()`: same
    * SparkContext, shared cache blocks and CacheManager, separate conf
    * state) — the caller's session is never mutated, so queries planned
    * concurrently on it keep their width and AQE. Plans cross the session
    * boundary via [[org.apache.spark.sql.graft.SessionBridge]] (re-root
    * the logical plan; zero data movement, and the shared CacheManager
    * still substitutes the persisted relations).
    *
    * @return one row per node: (doc_id, cluster_id = min doc_id reachable)
    */
  def connectedComponents(edges: DataFrame, maxIters: Int = 25): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.sql.graft.SessionBridge
    val caller = edges.sparkSession
    // persist the HALF-size edge relation (one materialization of the
    // possibly-expensive pair pipeline); the doubled+repartitioned form
    // below derives from this cache rather than re-running the pairs or
    // double-writing the doubled relation
    val edgesP = edges.select(col("doc_a"), col("doc_b"))
      .persist(StorageLevel.DISK_ONLY)
    var und: DataFrame = null
    try {
      val undRows = edgesP.count() * 2 // also sizes the loop width
      if (undRows == 0) {
        return caller.emptyDataFrame
          .select(lit(0L).as("doc_id"), lit(0L).as("cluster_id")).limit(0)
      }
      val width = math.max(1L,
        math.min(caller.conf.get("spark.sql.shuffle.partitions").toLong,
          undRows / CcRowsPerPartition + 1L)).toInt
      // AQE's only lever here is post-shuffle coalescing, which the adaptive
      // width already decides better (AQE cannot see across checkpoint
      // boundaries) — while its stage-by-stage execution turns every tiny
      // loop stage into a separate scheduled job. Iterative driver-bound
      // loops are the one place that job multiplication dominates, so turn
      // it off — on the clone only.
      val loopSession = caller.newSession()
      loopSession.conf.set("spark.sql.shuffle.partitions", width.toString)
      loopSession.conf.set("spark.sql.adaptive.enabled", "false")
      val edgesL = SessionBridge.rebase(edgesP, loopSession)
      und = edgesL.select(col("doc_a").as("x"), col("doc_b").as("y"))
        .unionByName(edgesL.select(col("doc_b").as("x"), col("doc_a").as("y")))
        .repartition(width, col("y"))
        .persist(StorageLevel.DISK_ONLY)
      und.count()
      edgesP.unpersist()
      // one fused hop: neighbor labels + own label, grouped min on node
      def hop(l: DataFrame): DataFrame =
        l.unionByName(
            und.join(l, col("y") === col("node"))
              .select(col("x").as("node"), col("label")))
          .groupBy(col("node")).agg(min(col("label")).as("label"))
      var labels = und.select(col("x").as("node")).distinct()
        .withColumn("label", col("node"))
      var prevSum: java.math.BigDecimal = null
      var converged = false
      var iter = 0
      while (!converged && iter < maxIters) {
        val t0 = System.nanoTime()
        val next = hop(hop(labels)).localCheckpoint(eager = false)
        val s = next
          .agg(sum(col("label").cast("decimal(38,0)")).as("s"))
          .head().getDecimal(0)
        converged = prevSum != null && s.compareTo(prevSum) == 0
        prevSum = s
        labels = next
        iter += 1
        // instrumentation for driver-environment runs: a round is one
        // blocking job; wall time per round is the whole story of this
        // operator's cost (stderr — never pollutes the bench's stdout JSON)
        System.err.println(
          f"[graft.cc] round=$iter hops=2 width=$width undRows=$undRows " +
            f"wallMs=${(System.nanoTime() - t0) / 1e6}%.0f converged=$converged")
      }
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIters rounds " +
            "(label sum still decreasing) — the pair graph has a component " +
            s"with diameter > ${2 * maxIters}; raise maxIters")
      // `labels` is localCheckpoint-materialized by the last convergence
      // probe, so its plan is a LogicalRDD — rebasing back re-plans from
      // the checkpointed blocks, NOT the loop lineage, and unpersisting
      // `und` below cannot trigger a recompute of the pair pipeline.
      SessionBridge.rebase(
        labels.select(col("node").as("doc_id"), col("label").as("cluster_id")),
        caller)
    } finally {
      // no conf restore needed — the caller session was never touched;
      // just make sure a mid-loop failure doesn't leak cached relations
      edgesP.unpersist()
      if (und != null) und.unpersist()
    }
  }

  /** D9 query: cluster the MinHash-LSH near-dup pair graph, summarize
    * each duplicate cluster, and join back the CANONICAL (keeper) doc's
    * text — the output a dedup pipeline consumes directly: keep
    * `cluster_id` (= keeper doc id) with `keeper_text`, drop the other
    * `n_dupes` members. The keeper join's key is the cluster label (a
    * doc_id), a plain equi-join against the corpus — no extra clustering
    * pass. */
  def dupClusters(docs: DataFrame): DataFrame = {
    val summary = connectedComponents(
        minhashLshPairs(docs).select(col("doc_a"), col("doc_b")))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc_id"))
    summary.join(
        docs.select(col("doc_id").as("keeper_doc_id"),
          col("text").as("keeper_text")),
        col("cluster_id") === col("keeper_doc_id"))
      .select(col("cluster_id"), col("n_docs"), col("max_doc_id"),
        (col("n_docs") - 1).cast("long").as("n_dupes"), col("keeper_text"))
  }

  /** D9 oracle: transitive min-reachability as a recursive CTE over the
    * same LSH pair edges (tiny closure — near-dup clusters are shallow),
    * plus the keeper-text join on the cluster label. */
  def dupClustersSql(corpus: String): String = s"""
    WITH RECURSIVE korpus AS ($corpus),
    edges AS (
      SELECT doc_a, doc_b FROM (${minhashLshPairsSql(corpus)})),
    und AS (
      SELECT doc_a AS x, doc_b AS y FROM edges
      UNION ALL SELECT doc_b AS x, doc_a AS y FROM edges),
    reach AS (
      SELECT x AS node, x AS r FROM und
      UNION
      SELECT reach.node, u.y AS r FROM reach JOIN und u ON u.x = reach.r),
    labels AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
    summary AS (
      SELECT cluster_id, count(*) AS n_docs, max(node) AS max_doc_id
      FROM labels GROUP BY 1)
    SELECT s.cluster_id, s.n_docs, s.max_doc_id,
      s.n_docs - 1 AS n_dupes, k.text AS keeper_text
    FROM summary s JOIN korpus k ON k.doc_id = s.cluster_id"""

  // ---- D16 (E132): quality-aware survivor selection -----------------------

  /** E132 (D16): quality-aware SURVIVOR selection — the stage that turns
    * clusters into a deduped corpus. d9 keeps the min-id member per
    * cluster; a production pipeline keeps the BEST member (near-dup
    * clusters mix a clean original with truncated/boilerplated variants,
    * and min-id is an accident of crawl order). Each duplicate cluster
    * (connected components over the MinHash-LSH pair graph) elects the
    * member with the highest t12 classifier quality score (tie → min
    * doc_id); every unclustered doc survives as its own singleton. Output
    * is one row per SURVIVING doc — exactly the relation the next
    * pipeline stage reads as "the corpus".
    *
    * Scale shape: the corpus itself NEVER shuffles. The quality pass is
    * t12's narrow codegen'd scan; the pair graph + CC loop touch only
    * docs that collide in a band bucket; the election window runs over
    * the CLUSTERED subset (|labels| rows — the small relation), and the
    * singleton side is a left-anti against those labels (AQE broadcasts
    * the label side when it fits). Window-over-everything on cluster_id —
    * the obvious one-liner — would hash-shuffle the full corpus at 100 TB
    * to rank mostly-singleton partitions; splitting clustered from
    * unclustered keeps the big side shuffle-free.
    *
    * Reuse: quality is THE t12 definition ([[TextAnalysis.classifierScore]])
    * and clustering THE d9 machinery ([[connectedComponents]] over
    * [[minhashLshPairs]]) — the rep1/card1 composition rule, so every
    * number here is hash-identical to its standalone query. */
  def dedupSurvivors(docs: DataFrame): DataFrame =
    dedupSurvivorsFromLabels(docs, connectedComponents(
      minhashLshPairs(docs).select(col("doc_a"), col("doc_b"))))

  /** The label-parameterized form: a pipeline that already ran the
    * pair+CC stage (d9) feeds its `(doc_id, cluster_id)` relation to
    * EVERY cluster-grain consumer (this, [[clusterSplitFromLabels]])
    * instead of re-deriving it per query — the round-10 shared-pair-
    * graph measurement (BASELINE) quantifies the saving at ×30. */
  def dedupSurvivorsFromLabels(docs: DataFrame,
      labels: DataFrame): DataFrame = {
    val scored = graft.text.TextAnalysis.classifierScore(docs)
      .select(col("doc_id"), col("score"))
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
    val winners = scored.join(labels, "doc_id")
      .withColumn("rn", row_number().over(
        byCluster.orderBy(col("score").desc, col("doc_id").asc)))
      .withColumn("n_docs", count(lit(1)).over(byCluster))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("cluster_id"), col("n_docs"),
        (col("n_docs") - 1).cast("long").as("n_removed"), col("score"))
    val singles = scored.join(labels.select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"),
        lit(1L).as("n_docs"), lit(0L).as("n_removed"), col("score"))
    winners.unionByName(singles)
  }

  /** D16 oracle: the d9 recursive-CTE closure for cluster labels, the
    * t12 scoring CTE over the same corpus, a ranked election on the
    * clustered subset, and a NOT EXISTS singleton side — the same
    * split-by-membership shape as the Spark plan. */
  def dedupSurvivorsSql(corpus: String): String = s"""
    WITH RECURSIVE
    edges AS (
      SELECT doc_a, doc_b FROM (${minhashLshPairsSql(corpus)})),
    und AS (
      SELECT doc_a AS x, doc_b AS y FROM edges
      UNION ALL SELECT doc_b AS x, doc_a AS y FROM edges),
    reach AS (
      SELECT x AS node, x AS r FROM und
      UNION
      SELECT reach.node, u.y AS r FROM reach JOIN und u ON u.x = reach.r),
    labels AS (SELECT node AS doc_id, min(r) AS cluster_id
      FROM reach GROUP BY node),
    scored AS (
      SELECT doc_id, score
      FROM (${graft.text.TextAnalysis.classifierScoreSqlOver(corpus)})),
    clustered AS (
      SELECT s.doc_id, l.cluster_id, s.score,
        row_number() OVER (PARTITION BY l.cluster_id
          ORDER BY s.score DESC, s.doc_id ASC) AS rn,
        count(*) OVER (PARTITION BY l.cluster_id) AS n_docs
      FROM scored s JOIN labels l ON l.doc_id = s.doc_id)
    SELECT doc_id, cluster_id, n_docs::BIGINT AS n_docs,
      (n_docs - 1)::BIGINT AS n_removed, score
    FROM clustered WHERE rn = 1
    UNION ALL
    SELECT s.doc_id, s.doc_id AS cluster_id, 1::BIGINT AS n_docs,
      0::BIGINT AS n_removed, s.score
    FROM scored s
    WHERE NOT EXISTS (SELECT 1 FROM labels l WHERE l.doc_id = s.doc_id)"""

  // ---- D3: MinHash + LSH banding ------------------------------------------

  val NumHashes = 16
  val NumBands = 4 // 4 rows per band
  val MinhashEstThreshold = 0.5

  /** Permutation constants for h_i(x) = (a_i·x + b_i) mod P — small odd
    * multipliers, deterministic, mirrored verbatim in the oracle SQL. */
  private[graft] def perm(i: Int): (Long, Long) = (2L * i + 3L, 7919L * (i + 1))

  /** MinHash signatures: for each doc, min over its shingle hashes of each
    * permutation — one narrow aggregation, K min() columns. */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val sh = shingleSet(docs)
    val mins = (0 until NumHashes).map { i =>
      val (a, b) = perm(i)
      min(pmod(col("h") * lit(a) + lit(b), lit(HashP))).as(s"mh_$i")
    }
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  // -- shared MinHash-LSH building blocks: the d3 self-join and c3's
  // two-corpus broadcast join consume the SAME banding and estimate
  // definitions (one copy, two consumers — the band key scheme and the
  // agreement estimate can never fork between the operators, and the
  // same single-definition rule holds for their SQL twins below).

  /** Signatures folded into one array column (doc_id, sig[NumHashes]). */
  private def lshSigArray(docs: DataFrame): DataFrame =
    minhashSignatures(docs).select(col("doc_id"),
      array((0 until NumHashes).map(i => col(s"mh_$i")): _*).as("sig"))

  /** Banded rows CARRYING the signature array: (doc_id, sig, band, key). */
  private def lshBanded(df: DataFrame): DataFrame = {
    val r = NumHashes / NumBands
    df.select(col("doc_id"), col("sig"),
      explode(array((0 until NumBands).map { b =>
        struct(lit(b).as("band"), concat_ws("|", (0 until r)
          .map(rr => element_at(col("sig"), b * r + rr + 1).cast("string")): _*)
          .as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("sig"),
        col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Signature-agreement estimate over an x/y banded join. */
  private def lshEst: Column = (aggregate(
    zip_with(col("x.sig"), col("y.sig"),
      (a, b) => when(a === b, 1).otherwise(0)),
    lit(0), (acc, v) => acc + v)).cast("double") / lit(NumHashes.toDouble)

  /** LSH candidate pairs: docs sharing at least one (band, band-signature)
    * bucket, scored by the fraction of equal signature components; kept
    * when the estimate clears the threshold.
    *
    * Single-pass shape: the banded rows CARRY the full signature array, so
    * the pair estimate comes straight out of the band self-join — no
    * re-join against the signature relation (which would recompute the
    * shingle pass or demand a materialized cache). The self-join's two
    * sides share one shuffle (ReusedExchange). */
  def minhashLshPairs(docs: DataFrame): DataFrame = {
    val banded = lshBanded(lshSigArray(docs))
    val est = lshEst
    banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        est.as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= MinhashEstThreshold)
  }

  // SQL twins of the shared building blocks — one definition each, used
  // by BOTH minhashLshPairsSql and crossCorpusNearDupsSql.
  private def lshMinColsSql: String = (0 until NumHashes).map { i =>
    val (a, b) = perm(i)
    s"min((h * $a + $b) % $HashP) AS mh_$i"
  }.mkString(",\n        ")
  private def lshBandRowsSql(from: String = "sig"): String = {
    val r = NumHashes / NumBands
    (0 until NumBands).map { b =>
      val key = (0 until r).map(rr => s"mh_${b * r + rr}::VARCHAR")
        .mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM $from"
    }.mkString("\n      UNION ALL ")
  }
  private def lshEstSql: String = (0 until NumHashes)
    .map(i => s"CASE WHEN a.mh_$i = b.mh_$i THEN 1 ELSE 0 END")
    .mkString(" + ")

  def minhashLshPairsSql(corpus: String): String = {
    val minCols = lshMinColsSql
    val bandRows = lshBandRowsSql()
    val estExpr = lshEstSql
    s"""
    WITH corpus AS ($corpus),
    sh AS (${shingleSetSql("corpus")}),
    sig AS (
      SELECT doc_id,
        $minCols
      FROM sh GROUP BY doc_id),
    banded AS (
      $bandRows),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
    SELECT doc_a, doc_b,
      ($estExpr)::DOUBLE / $NumHashes AS est_jaccard
    FROM cand
    JOIN sig a ON doc_a = a.doc_id
    JOIN sig b ON doc_b = b.doc_id
    WHERE ($estExpr)::DOUBLE / $NumHashes >= $MinhashEstThreshold"""
  }

  // ---- C3: cross-corpus near-dup decontamination ---------------------------

  /** C3 (E93): NEAR-DUP decontamination — the fuzzy tier of the
    * contamination family: c1 flags byte-identical eval copies, c2 flags
    * shared word n-grams, this flags training docs that are near-DUPLICATES
    * of an eval doc (lightly edited benchmark text — the leakage mode
    * n-gram lists miss when the wording drifts). Same MinHash-LSH
    * machinery as d3 with one structural upgrade for the two-corpus case:
    * the EVAL side is small by nature, so its banded signatures broadcast
    * and the training corpus meets them in a broadcast hash join — no
    * self-join, no shuffle on band keys, corpus touched exactly once (the
    * signature aggregate is the only doc-grain pass). Candidates clearing
    * the signature-agreement estimate are (train doc, eval doc) pairs —
    * the drop list plus its provenance. Eval membership is the c1/c2
    * `doc_id % 97` convention so the oracle names the same rows; twins of
    * eval docs planted by [[graft.text.TextAnalysis.withSourcedTwins]]
    * land on the training side (TwinOffset % 97 ≠ 0) and MUST be
    * flagged. */
  def crossCorpusNearDups(docs: DataFrame): DataFrame = {
    val sig = lshSigArray(docs)
    val evalB = lshBanded(sig.filter(pmod(col("doc_id"), lit(97)) === 0))
    val trainB = lshBanded(sig.filter(pmod(col("doc_id"), lit(97)) =!= 0))
    val est = lshEst
    trainB.as("x")
      .join(broadcast(evalB.as("y")),
        col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .select(col("x.doc_id").as("doc_id"),
        col("y.doc_id").as("eval_doc_id"), est.as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= MinhashEstThreshold)
  }

  def crossCorpusNearDupsSql(corpus: String): String = {
    val minCols = lshMinColsSql
    val bandRows = lshBandRowsSql()
    val estExpr = lshEstSql
    s"""
    WITH corpus AS ($corpus),
    sh AS (${shingleSetSql("corpus")}),
    sig AS (
      SELECT doc_id,
        $minCols
      FROM sh GROUP BY doc_id),
    banded AS (
      $bandRows),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS eval_doc_id
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.key = y.key
      WHERE x.doc_id % 97 <> 0 AND y.doc_id % 97 = 0)
    SELECT cand.doc_id, cand.eval_doc_id,
      ($estExpr)::DOUBLE / $NumHashes AS est_jaccard
    FROM cand
    JOIN sig a ON cand.doc_id = a.doc_id
    JOIN sig b ON cand.eval_doc_id = b.doc_id
    WHERE ($estExpr)::DOUBLE / $NumHashes >= $MinhashEstThreshold"""
  }

  // ---- D15: incremental near-dup vs the signature store --------------------

  /** Re-crawl id band for the d15 driver corpus — above the near-dup
    * (+10 M) and quote (+20 M) twin bands. */
  val ReCrawlOffset = 30000000L

  /** The signature STORE's row shape: (doc_id, sig[NumHashes]) — what a
    * caller persists after each batch (NumHashes longs per doc; the text
    * is never needed again). Public face of the shared d3/c3 signature
    * aggregate. */
  def minhashSigStore(docs: DataFrame): DataFrame = lshSigArray(docs)

  /** D15 (E110): INCREMENTAL near-dup — the production form of d3, and
    * d8's philosophy one rung up the ladder: a new batch is checked
    * against the accumulated SIGNATURE store instead of the whole corpus
    * against itself. Only the batch pays the shingle+signature pass; the
    * store contributes stored signatures (its docs are never re-read, let
    * alone re-shingled), the band join touches only matching buckets, and
    * survivors' signatures are what the caller appends to the store —
    * per-batch cost, exactly the `upsertStore`/d8 incremental contract.
    *
    * Same banding and agreement-estimate definitions as d3/c3 (ONE copy:
    * [[lshBanded]]/[[lshEst]] — the scheme can never fork between batch
    * and store sides). Output is the drop list with provenance per batch
    * doc (keeper = lowest-id store match, best estimate, match count —
    * the d12 shape). */
  def incrementalLshDedup(batch: DataFrame, storeSigs: DataFrame)
      : DataFrame = {
    val bb = lshBanded(lshSigArray(batch))
    val sb = lshBanded(storeSigs)
    bb.as("x")
      .join(sb.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("dup_of"),
        lshEst.as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= MinhashEstThreshold)
      .groupBy(col("doc_id"))
      .agg(min(col("dup_of")).as("keeper_id"),
        max(col("est_jaccard")).as("best_est"),
        count(lit(1)).as("n_matches"))
  }

  /** d15 oracle: evens are the stored history; the batch = odds + a
    * near-dup re-crawl of the evens (one appended token, +30 M ids) —
    * every re-crawl must match its original in the store. */
  def incrementalLshDedupSql(corpus: String): String = {
    val minCols = lshMinColsSql
    val estExpr = lshEstSql
    s"""
    WITH corpus AS ($corpus),
    store_docs AS (SELECT doc_id, text FROM corpus WHERE doc_id % 2 = 0),
    batch_docs AS (
      SELECT doc_id, text FROM corpus WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + $ReCrawlOffset AS doc_id, text || ' spark' AS text
      FROM corpus WHERE doc_id % 2 = 0),
    sh_s AS (${shingleSetSql("store_docs")}),
    sig_s AS (
      SELECT doc_id,
        $minCols
      FROM sh_s GROUP BY doc_id),
    sh_b AS (${shingleSetSql("batch_docs")}),
    sig_b AS (
      SELECT doc_id,
        $minCols
      FROM sh_b GROUP BY doc_id),
    banded_s AS (
      ${lshBandRowsSql("sig_s")}),
    banded_b AS (
      ${lshBandRowsSql("sig_b")}),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS dup_of
      FROM banded_b x JOIN banded_s y
        ON x.band = y.band AND x.key = y.key),
    scored AS (
      SELECT cand.doc_id, cand.dup_of,
        ($estExpr)::DOUBLE / $NumHashes AS est_jaccard
      FROM cand
      JOIN sig_b a ON cand.doc_id = a.doc_id
      JOIN sig_s b ON cand.dup_of = b.doc_id
      WHERE ($estExpr)::DOUBLE / $NumHashes >= $MinhashEstThreshold)
    SELECT doc_id, min(dup_of) AS keeper_id, max(est_jaccard) AS best_est,
      count(*)::BIGINT AS n_matches
    FROM scored GROUP BY 1"""
  }

  // ---- S3: split-leakage audit ---------------------------------------------

  /** S3 (E97): split-LEAKAGE audit — the check that closes the loop
    * between the dedup tier and the split tier: hash-range splitting
    * (E83) assigns docs independently, so two near-duplicate documents
    * can land in train AND val/test — the eval split then scores the
    * model on (near-)training data. The published hygiene rule is
    * "dedup BEFORE you split"; this operator measures how much leakage a
    * split carries: d3's MinHash-LSH near-dup pairs, each side assigned
    * its split by the SHARED E83 rule
    * ([[graft.functions.TextFunctions.splitOf]] — one convention, two
    * consumers), aggregated to the (split, split) matrix with the
    * off-diagonal flagged. Cost is d3's pair pass + a 6-row aggregate:
    * nothing beyond the dedup the pipeline should already run. */
  def splitLeakage(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.splitOf
    minhashLshPairs(withNearDups(docs))
      .select(splitOf(col("doc_a")).as("sa"), splitOf(col("doc_b")).as("sb"))
      .select(least(col("sa"), col("sb")).as("split_lo"),
        greatest(col("sa"), col("sb")).as("split_hi"))
      .groupBy(col("split_lo"), col("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak", col("split_lo") =!= col("split_hi"))
  }

  def splitLeakageSql(corpus: String): String = {
    import graft.functions.TextFunctions.splitOfSql
    s"""
    WITH p AS (SELECT * FROM (${minhashLshPairsSql(corpus)}) q),
    labeled AS (
      SELECT ${splitOfSql("p.doc_a")} AS sa,
        ${splitOfSql("p.doc_b")} AS sb
      FROM p)
    SELECT least(sa, sb) AS split_lo, greatest(sa, sb) AS split_hi,
      count(*)::BIGINT AS n_pairs,
      least(sa, sb) <> greatest(sa, sb) AS is_leak
    FROM labeled GROUP BY 1, 2"""
  }

  // ---- S4 (E133): leakage-free split assignment ----------------------------

  /** E133 (S4): leakage-FREE split assignment — the constructive closer
    * of the split trilogy: s2 audits the hash split's proportions, s3
    * MEASURES how many near-dup pairs straddle splits, and this operator
    * makes that number zero BY CONSTRUCTION by assigning splits at the
    * duplicate-CLUSTER grain ("group split" in eval-hygiene terms): every
    * doc inherits its cluster's canonical label (the d9 connected
    * components over d3's LSH pairs; unclustered docs group as
    * themselves) and the split is the SHARED E83 hash rule applied to
    * the GROUP id, not the doc id. Two invariants fall out: (a) near-dup
    * pairs can never straddle splits — both sides hash the same group;
    * (b) unclustered docs keep exactly their s2 split (`splitOf(doc_id)`
    * = `splitOf(group_id)` when group = self), so the assignment is a
    * minimal perturbation of the independent hash split.
    *
    * Scale shape: one left join of the corpus ids against the SMALL
    * label relation (only docs that collided in a band bucket — AQE
    * broadcasts it when it fits) + a scalar md5; the corpus never
    * shuffles. Cost beyond the dedup the pipeline already runs is one
    * scan. */
  def clusterSplit(docs: DataFrame): DataFrame =
    clusterSplitFromLabels(docs, connectedComponents(
      minhashLshPairs(docs).select(col("doc_a"), col("doc_b"))))

  /** Label-parameterized form — see [[dedupSurvivorsFromLabels]]. */
  def clusterSplitFromLabels(docs: DataFrame,
      labels: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.splitOf
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("group_id"))
      .withColumn("split", splitOf(col("group_id")))
  }

  /** S4 oracle: the d9 recursive-CTE closure for labels, a left join,
    * and the shared E83 split rule on the coalesced group id. */
  def clusterSplitSql(corpus: String): String = {
    import graft.functions.TextFunctions.splitOfSql
    s"""
    WITH RECURSIVE korpus AS ($corpus),
    edges AS (
      SELECT doc_a, doc_b FROM (${minhashLshPairsSql(corpus)})),
    und AS (
      SELECT doc_a AS x, doc_b AS y FROM edges
      UNION ALL SELECT doc_b AS x, doc_a AS y FROM edges),
    reach AS (
      SELECT x AS node, x AS r FROM und
      UNION
      SELECT reach.node, u.y AS r FROM reach JOIN und u ON u.x = reach.r),
    labels AS (SELECT node AS doc_id, min(r) AS cluster_id
      FROM reach GROUP BY node),
    grouped AS (
      SELECT k.doc_id,
        coalesce(l.cluster_id, k.doc_id) AS group_id
      FROM korpus k LEFT JOIN labels l ON l.doc_id = k.doc_id)
    SELECT doc_id, group_id, ${splitOfSql("group_id")} AS split
    FROM grouped"""
  }

  // ---- D4: SimHash ---------------------------------------------------------

  val SimhashBits = 32

  /** The rolling char hash is mod 1e9+7 — only its low 30 bits carry
    * signal. Signature bits ≥ 30 therefore vote on a SECOND hash derived
    * by an affine mod-P mix (a bijection on [0, P): distinct tokens stay
    * distinct; h·31 < 2^35 so the arithmetic is overflow-safe in both
    * engines). */
  val SimhashLowBits = 30
  val SimhashMixA = 31L
  val SimhashMixB = 7L

  /** SimHash per doc over token hashes (width `bits`, default 32): bit b is
    * set when the sum of ±1 contributions from each token's bit b is
    * positive. One explode + one grouped aggregation with `bits`
    * conditional sums — no UDF. Bits ≥ [[SimhashLowBits]] vote on the
    * affine-mixed second hash (see above) — without it a wider signature
    * would only add dead always-zero bits. The maximum width is
    * 2·[[SimhashLowBits]] = 60 (the live bits two 30-bit hashes carry);
    * the guard rejects anything wider — a 64-bit signature would need a
    * third hash source for bits 60–63, not more shifting of the same
    * two, so widening past 60 is a design change, not a parameter. */
  def simhashSignatures(docs: DataFrame, bits: Int = SimhashBits)
      : DataFrame = {
    require(bits <= 2 * SimhashLowBits,
      s"simhash width $bits exceeds the live bits two 30-bit hashes carry")
    val tok = spreadSmallScan(docs).select(col("doc_id"),
      explode(tokens(norm(col("text")))).as("t"))
      .select(col("doc_id"), charHash(col("t")).as("h"))
      .withColumn("h2",
        pmod(col("h") * SimhashMixA + SimhashMixB, lit(HashP)))
    val bitSums = (0 until bits).map { b =>
      val src = if (b < SimhashLowBits) shiftright(col("h"), b)
        else shiftright(col("h2"), b - SimhashLowBits)
      sum(when(src.bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"s_$b")
    }
    val sig = (0 until bits)
      .map(b => when(col(s"s_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash signature computation as a subquery over a CTE named `corpus`
    * — composable into larger oracle queries. */
  private def simhashSigSubquerySql(bits: Int = SimhashBits): String = {
    val toks = tokensSql(normSql("text"))
    val bitSums = (0 until bits).map { b =>
      val src = if (b < SimhashLowBits) s"(h >> $b)"
        else s"(h2 >> ${b - SimhashLowBits})"
      s"sum(CASE WHEN $src & 1 = 1 THEN 1 ELSE -1 END) AS s_$b"
    }.mkString(",\n          ")
    val sig = (0 until bits)
      .map(b => s"CASE WHEN s_$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""SELECT doc_id, ($sig)::BIGINT AS simhash FROM (
        SELECT doc_id,
          $bitSums
        FROM (SELECT doc_id, h,
                (h * $SimhashMixA + $SimhashMixB) % $HashP AS h2
              FROM (SELECT doc_id, ${charHashSql("t")} AS h
                    FROM (SELECT doc_id, unnest($toks) AS t FROM corpus)))
        GROUP BY doc_id)"""
  }

  def simhashSignaturesSql(corpus: String): String = s"""
    WITH corpus AS ($corpus)
    ${simhashSigSubquerySql()}"""

  // Hamming ≤ 1: the synthetic corpus is a shared-vocabulary word soup, so
  // docs are globally similar — at distance 3 the pair set grows
  // quadratically with corpus size. Distance 1 keeps the planted twins and
  // stays linear. The 4-band pigeonhole holds for any threshold < 4.
  val SimhashMaxHamming = 1

  /** The PRODUCTION pair-join signature width, and [[simhashPairs]]'s
    * default: the ×10 scaling sweep measured the 32-bit signature space
    * saturating on a concentrated corpus (candidate volume quadratic in
    * corpus size — 19M pairs at ×10), while 60 bits keeps candidates
    * ~105× sparser at the same banded algorithm. 32-bit stays available
    * behind an explicit `bits = SimhashBits` as the documented
    * density-wall exhibit (the d5/d5x twin pair). */
  val SimhashWideBits = 60

  /** SimHash near-dup pairs at hamming ≤ [[SimhashMaxHamming]] via band-
    * PAIR pigeonhole: one flipped bit touches at most one of the 4 bands
    * (width/4 bits each), so a qualifying pair agrees on at least one of
    * the 6 two-band combinations. The two-band candidate key is 2^width/4
    * × sparser than a single band's — on corpora whose signatures
    * concentrate (like this word soup) that is the difference between a
    * candidate set near the cross product and one near the true pair set.
    * The hamming filter runs BEFORE distinct so dedup happens on the
    * surviving pairs only. Default width is the scale-safe
    * [[SimhashWideBits]]; pass `bits = SimhashBits` for the measured
    * 32-bit density-wall exhibit. */
  def simhashPairs(docs: DataFrame, bits: Int = SimhashWideBits): DataFrame = {
    // no cache: the band self-join's two sides share one plan, so the
    // exchange is reused rather than recomputed
    val sig = simhashSignatures(docs, bits)
    val bands = 4
    val width = bits / bands
    val bandPairs = for { i <- 0 until bands; j <- i + 1 until bands }
      yield (i, j)
    def bandKey(b: Int) = shiftright(col("simhash"), b * width)
      .bitwiseAND(lit((1L << width) - 1))
    val banded = sig.select(col("doc_id"), col("simhash"),
      explode(array(bandPairs.zipWithIndex.map { case ((i, j), id) =>
        struct(lit(id).as("band"),
          (bandKey(i) * lit(1L << width) + bandKey(j)).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.simhash ^ y.simhash)").cast("long").as("hamming"))
      .filter(col("hamming") <= SimhashMaxHamming)
      .distinct()
  }

  def simhashPairsSql(corpus: String, bits: Int = SimhashWideBits): String = {
    val bands = 4
    val width = bits / bands
    val bandRows = (0 until bands).map { b =>
      s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * width}) & ${(1L << width) - 1} AS key FROM sig"
    }.mkString("\n      UNION ALL ")
    s"""
    WITH corpus AS ($corpus),
    sig AS (${simhashSigSubquerySql(bits)}),
    banded AS (
      $bandRows)
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
      bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
    FROM banded x JOIN banded y
      ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
    WHERE bit_count(xor(x.simhash, y.simhash)) <= $SimhashMaxHamming"""
  }

  // ---- D10 (E72): exact-substring duplicate spans --------------------------

  val SpanN = 5        // span shingle width, tokens (the c2 n-gram width)
  val SpanMinOccur = 2 // corpus-wide occurrences that flag a shingle

  /** Corpus with planted PARTIAL duplicates for D10: every 10th doc gets a
    * twin holding only its first 15 tokens — so the original is flagged on
    * a prefix SPAN (not wholesale, which is d1's case) and the twin is
    * flagged end-to-end. Background 5-gram collisions in the word-soup
    * corpus contribute additional genuine spans. */
  def withSpanTwins(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .unionByName(docs
        .filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + TwinOffset).as("doc_id"),
          concat_ws(" ", slice(tokens(norm(col("text"))), 1, 15))
            .as("text")))

  def withSpanTwinsSql(docs: String): String = s"""
    SELECT doc_id, text FROM $docs
    UNION ALL
    SELECT doc_id + $TwinOffset AS doc_id,
      array_to_string(list_slice(${tokensSql(normSql("text"))}, 1, 15), ' ')
        AS text
    FROM $docs WHERE doc_id % 10 = 0"""

  /** D10 (E72): duplicate-SPAN detection — the span-level tier of the
    * dedup ladder, after whole-doc (d1) and near-doc (d2/d3/d5): find
    * runs of [[SpanN]] consecutive tokens that repeat verbatim ANYWHERE
    * in the corpus (same doc or another), then merge flagged positions
    * into maximal per-doc spans. This is the published exact-substring
    * dedup result (repeated spans inside otherwise-distinct documents —
    * boilerplate, templates, licenses — which document-level tiers miss
    * because the surrounding text differs); the suffix-array machinery it
    * used centralizes, so the distributed shape is positioned shingles.
    *
    * Plan (the 100-TB shape): ONE narrow pass builds per-position Horner
    * hashes ([[graft.functions.TextFunctions.spanHashesFromTh]], 8 bytes
    * per position — no shingle strings ever exist); posexplode streams
    * (doc, pos, h); the occurrence count is a map-side-combining
    * aggregate on h; flagged hashes join back onto the stream (equi-join
    * on h — AQE broadcasts when the frequent set is small, which
    * boilerplate-only corpora are, but the set is unbounded by nature so
    * the join is not FORCED broadcast); span merge is per-doc windows
    * (doc-sized groups), and the final span aggregate reuses the window's
    * doc_id clustering (no extra shuffle: HashPartitioning(doc_id)
    * satisfies the (doc_id, span_no) clustering). Hash-collision
    * semantics are d2/d3's: matches are on the mod-P hash, exact by
    * construction in both engines.
    *
    * Spans: positions p, p' merge when p' - p ≤ n (overlapping or
    * token-adjacent flagged windows form one contiguous duplicated
    * region); `span_start`/`span_end` are 1-based TOKEN indexes (end =
    * last flagged start + n - 1), `n_starts` counts flagged windows
    * inside the span. */
  def dupSpans(docs: DataFrame, n: Int = SpanN,
      minOccur: Int = SpanMinOccur): DataFrame = {
    // the positioned stream feeds BOTH the occurrence count and the
    // flagged join-back — materialize it once (disk-backed, the t10/
    // pipe1/d7 persist policy; released by the caller's cache clear), or
    // the scan→tokenize→explode subtree runs twice over the corpus
    val sh = spreadSmallScan(docs)
      .select(col("doc_id"), tokenHashes(tokens(norm(col("text")))).as("th"))
      .select(col("doc_id"),
        posexplode(spanHashesFromTh(col("th"), n)).as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("h"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val freq = sh.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minOccur)
    val flagged = sh.join(freq.select(col("h")), Seq("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = flagged
      .withColumn("gap", col("pos") - lag(col("pos"), 1).over(w))
      .withColumn("news",
        when(col("gap").isNull || col("gap") > n, 1L).otherwise(0L))
      .withColumn("span_no", sum(col("news")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    spans.groupBy(col("doc_id"), col("span_no"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(n - 1)).as("span_end"),
        count(lit(1)).as("n_starts"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_starts"))
  }

  /** [[withSpanTwins]] carrying `source` (twins inherit the original's)
    * — the corpus for the per-source rate audit. */
  def withSpanTwinsSourced(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"), col("source"))
      .unionByName(docs
        .filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + TwinOffset).as("doc_id"),
          concat_ws(" ", slice(tokens(norm(col("text"))), 1, 15))
            .as("text"), col("source")))

  def withSpanTwinsSourcedSql(docs: String): String = s"""
    SELECT doc_id, text, source FROM $docs
    UNION ALL
    SELECT doc_id + $TwinOffset AS doc_id,
      array_to_string(list_slice(${tokensSql(normSql("text"))}, 1, 15), ' ')
        AS text, source
    FROM $docs WHERE doc_id % 10 = 0"""

  /** R3 (E75): duplicated-token RATE per source — the decision-grade
    * audit over [[dupSpans]]: what fraction of each source's tokens sits
    * inside duplicated spans (merged spans are disjoint, so summing
    * their lengths counts covered tokens exactly). This is the signal a
    * curation pipeline actually acts on — "source X ships 40 %
    * boilerplate" — the same shape as c1/c2's contamination-by-source.
    * Rate = one double division per source; everything else is integer
    * sums. Adds one doc-keyed left join and a source-grain aggregate on
    * top of d10's plan. */
  def dupSpanRate(docs: DataFrame, n: Int = SpanN,
      minOccur: Int = SpanMinOccur): DataFrame = {
    val cover = dupSpans(docs, n, minOccur)
      .groupBy(col("doc_id"))
      .agg(sum(col("span_end") - col("span_start") + 1).as("dup_toks"))
    docs.select(col("doc_id"), col("source"),
        size(tokens(norm(col("text")))).cast("long").as("n_toks"))
      .join(cover, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_toks"),
        sum(coalesce(col("dup_toks"), lit(0L))).as("dup_toks"))
      .select(col("source"), col("n_docs"), col("total_toks"),
        col("dup_toks"),
        (col("dup_toks").cast("double") /
          col("total_toks").cast("double")).as("dup_rate"))
  }

  def dupSpanRateSql(corpus: String, n: Int = SpanN,
      minOccur: Int = SpanMinOccur): String = s"""
    WITH spans AS (${dupSpansSql(corpus, n, minOccur)}),
    cover AS (
      SELECT doc_id, sum(span_end - span_start + 1)::BIGINT AS dup_toks
      FROM spans GROUP BY 1),
    tokc AS (
      SELECT doc_id, source,
        len(${tokensSql(normSql("text"))})::BIGINT AS n_toks
      FROM ($corpus))
    SELECT t.source, count(*)::BIGINT AS n_docs,
      sum(t.n_toks)::BIGINT AS total_toks,
      sum(coalesce(c.dup_toks, 0))::BIGINT AS dup_toks,
      sum(coalesce(c.dup_toks, 0))::DOUBLE / sum(t.n_toks)::DOUBLE
        AS dup_rate
    FROM tokc t LEFT JOIN cover c ON c.doc_id = t.doc_id
    GROUP BY 1"""

  def dupSpansSql(corpus: String, n: Int = SpanN,
      minOccur: Int = SpanMinOccur): String = s"""
    WITH corpus AS ($corpus),
    th AS (
      SELECT doc_id, ${tokenHashesSql(tokensSql(normSql("text")))} AS th
      FROM corpus),
    shl AS (
      SELECT doc_id, ${spanHashesFromThSql("th", n)} AS shl FROM th),
    sh AS (
      SELECT doc_id, unnest(range(1, len(shl) + 1)) AS pos, shl FROM shl),
    sh2 AS (SELECT doc_id, pos::BIGINT AS pos, shl[pos::INT] AS h FROM sh),
    freq AS (SELECT h FROM sh2 GROUP BY h HAVING count(*) >= $minOccur),
    flagged AS (
      SELECT s.doc_id, s.pos FROM sh2 s JOIN freq f ON f.h = s.h),
    isl AS (
      SELECT doc_id, pos,
        CASE WHEN lag(pos) OVER w IS NULL
          OR pos - lag(pos) OVER w > $n THEN 1 ELSE 0 END AS news
      FROM flagged WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    sp AS (
      SELECT doc_id, pos,
        sum(news) OVER (PARTITION BY doc_id ORDER BY pos) AS span_no
      FROM isl)
    SELECT doc_id, min(pos)::BIGINT AS span_start,
      (max(pos) + ${n - 1})::BIGINT AS span_end,
      count(*)::BIGINT AS n_starts
    FROM sp GROUP BY doc_id, span_no"""

  // ---- R4 (E180): winnowing fingerprints -----------------------------------

  /** Winnowing window width: each sliding window of [[WinnowW]]
    * consecutive [[SpanN]]-gram hashes selects exactly one fingerprint. */
  val WinnowW = 4

  /** Integer argmin encoding base for the winnowing selection: a window's
    * fingerprint is min(h · 2³¹ + (2³¹−1 − pos)) — smallest hash wins,
    * ties break to the RIGHTMOST position (the paper's standard winnowing
    * tie rule — "robust winnowing" is the distinct variant that prefers
    * the previous window's selection) —
    * decoded back to (h, pos) by integer division/mod. h < 10⁹+7 < 2³⁰
    * and any realistic doc position < 2³¹ keep the product well inside
    * int64, and the same pure-integer expression runs on both engines
    * (the no-libm / no-struct-compare oracle discipline). */
  val WinnowEnc = 1L << 31

  /** Shared-fingerprint df cap: a fingerprint selected by more than this
    * many docs is boilerplate (the d7 DF-cap discipline) and is dropped
    * before the pair join. */
  val WinnowDfCap = 50

  /** R4 (E180): WINNOWING fingerprint selection + shared-fingerprint
    * pairs — the Schleimer–Wilkerson–Aiken (MOSS) local fingerprinting
    * scheme, the published answer to "which k-gram hashes do you KEEP":
    * r2/r3 flag spans from corpus-wide frequency (every position kept,
    * then filtered), winnowing keeps a GUARANTEED-coverage sparse subset
    * up front — in every window of [[WinnowW]] consecutive k-gram hashes
    * select the minimum (rightmost on ties), dedupe. Density ≈ 2/(w+1)
    * of positions, and the scheme's theorem gives the detection floor:
    * any match of at least w + k − 1 = [[WinnowW]]+[[SpanN]]−1 tokens
    * shares at least one selected fingerprint (spec-pinned on a fixture;
    * the planted 15-token prefix twins clear the 8-token floor and are
    * all found). The argmin runs as ONE integer window-min via
    * [[WinnowEnc]] — no struct ordering, so the DuckDB oracle computes
    * the identical selection.
    *
    * Scale shape: one narrow corpus pass (tokenize → Horner span hashes
    * → posexplode), one doc-partitioned running window (never a global
    * sort), a fingerprint-grain df aggregate, and the pair join meets
    * only on SELECTED fingerprints — candidate volume is winnowed
    * density × df-capped fan-out, the sparse form of r2's every-position
    * join. Fingerprint sets per doc are ~2/(w+1) of spans, so the state
    * the pair join shuffles is a fraction of d2's shingle relation. */
  def winnowFingerprints(docs: DataFrame, n: Int = SpanN,
      w: Int = WinnowW): DataFrame = {
    val sh = spreadSmallScan(docs)
      .select(col("doc_id"), tokenHashes(tokens(norm(col("text")))).as("th"))
      .select(col("doc_id"),
        posexplode(spanHashesFromTh(col("th"), n)).as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("h"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    // both frame aggregates in ONE projection → one Window node
    sh
      .select(col("doc_id"),
        count(lit(1)).over(win).as("nwin"),
        min(col("h") * lit(WinnowEnc) +
          (lit(WinnowEnc - 1) - col("pos"))).over(win).as("sel"))
      // only FULL windows select (the last w-1 positions start none) —
      // a doc shorter than n+w-1 tokens yields no fingerprint, exactly
      // the scheme's contract (nothing below the guarantee floor)
      .where(col("nwin") === w)
      .select(col("doc_id"), expr(s"sel DIV $WinnowEnc").as("h"),
        (lit(WinnowEnc - 1) - pmod(col("sel"), lit(WinnowEnc))).as("pos"))
      .distinct()
  }

  /** The pair report over [[winnowFingerprints]]: doc pairs sharing at
    * least one selected (df-capped) fingerprint, with the shared count —
    * the plagiarism-candidate relation a similarity review reads. */
  def winnowPairs(docs: DataFrame, n: Int = SpanN, w: Int = WinnowW,
      dfCap: Int = WinnowDfCap): DataFrame = {
    val fp = winnowFingerprints(docs, n, w)
      .select(col("doc_id"), col("h")).distinct()
    val rare = fp.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") <= dfCap)
      .select(col("h"))
    val pruned = fp.join(rare, Seq("h"))
    pruned.as("a")
      .join(pruned.as("b"), col("a.h") === col("b.h") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** R4 oracle: the identical integer selection as DuckDB window SQL. */
  def winnowPairsSql(corpus: String, n: Int = SpanN, w: Int = WinnowW,
      dfCap: Int = WinnowDfCap): String = s"""
    WITH corpus AS ($corpus),
    th AS (
      SELECT doc_id, ${tokenHashesSql(tokensSql(normSql("text")))} AS th
      FROM corpus),
    shl AS (
      SELECT doc_id, ${spanHashesFromThSql("th", n)} AS shl FROM th),
    sh AS (
      SELECT doc_id, pos::BIGINT AS pos, shl[pos::INT] AS h
      FROM (SELECT doc_id, unnest(range(1, len(shl) + 1)) AS pos, shl
            FROM shl) u),
    win AS (
      SELECT doc_id,
        min(h * $WinnowEnc + ($WinnowEnc - 1 - pos)) OVER fr AS sel,
        count(*) OVER fr AS nwin
      FROM sh
      WINDOW fr AS (PARTITION BY doc_id ORDER BY pos
        ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING)),
    fp AS (
      SELECT DISTINCT doc_id, sel // $WinnowEnc AS h
      FROM win WHERE nwin = $w),
    rare AS (
      SELECT h FROM fp GROUP BY h HAVING count(*) <= $dfCap)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      count(*)::BIGINT AS n_shared
    FROM (SELECT fp.doc_id, fp.h FROM fp JOIN rare USING (h)) a
    JOIN (SELECT fp.doc_id, fp.h FROM fp JOIN rare USING (h)) b
      ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2"""

  /** D11 (E91): fuzzy VOCABULARY pairs — near-identical token forms
    * (typos, OCR slips, inflection noise) found by edit distance over the
    * vocabulary, the normalization tier BELOW document near-dup: d2/d3
    * ask "are these docs alike", this asks "are these two spellings the
    * same word" (the SymSpell/typo-clustering published shape). Runs at
    * VOCABULARY grain — sub-linear in corpus size — never on the corpus:
    * one explode+agg builds (token, n), then candidates meet in LENGTH
    * buckets (each side emits keys L..L+maxDist; a pair is kept only
    * where key = max(len_a, len_b), so every |Δlen| ≤ maxDist pair —
    * edit distance bounds the length gap, so every candidate — meets
    * exactly once) and only candidates pay the levenshtein DP — the quadratic is
    * per-bucket, not per-vocabulary. Both engines run the identical
    * classic DP (integer result), token < token cuts the symmetric half.
    * Frequency rides along: the high-n side of a pair is the canonical
    * form a normalizer would rewrite to. */
  def fuzzyVocabPairs(docs: DataFrame, maxDist: Int = 2): DataFrame = {
    val vocab = docs
      .select(explode(tokens(norm(col("text")))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .withColumn("len", length(col("token")))
    def keyed(side: String) = vocab
      .select(col("token").as(s"token_$side"), col("n").as(s"n_$side"),
        col("len").as(s"len_$side"),
        // keys L..L+maxDist: |Δlen| ≤ dist for any edit-distance-dist
        // pair, so the buckets cover ALL candidates (keys {L, L+1} alone
        // would silently drop e.g. every two-insertion typo at dist 2)
        explode(sequence(col("len"), col("len") + maxDist)).as("k"))
    keyed("a").join(keyed("b"), Seq("k"))
      .filter(col("k") === greatest(col("len_a"), col("len_b")) &&
        col("token_a") < col("token_b"))
      .withColumn("dist",
        levenshtein(col("token_a"), col("token_b")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("token_a"), col("token_b"),
        col("n_a"), col("n_b"), col("dist"))
  }

  def fuzzyVocabPairsSql(maxDist: Int = 2): String = s"""
    WITH tok AS (
      SELECT unnest(${tokensSql(normSql("text"))}) AS token FROM documents),
    v AS (
      SELECT token, count(*)::BIGINT AS n, length(token) AS len
      FROM tok GROUP BY 1),
    ka AS (
      SELECT token AS token_a, n AS n_a, len AS len_a,
        unnest(generate_series(len, len + $maxDist)) AS k FROM v),
    kb AS (
      SELECT token AS token_b, n AS n_b, len AS len_b,
        unnest(generate_series(len, len + $maxDist)) AS k FROM v)
    SELECT ka.token_a, kb.token_b, ka.n_a, kb.n_b,
      levenshtein(ka.token_a, kb.token_b)::BIGINT AS dist
    FROM ka JOIN kb ON ka.k = kb.k
    WHERE ka.k = greatest(ka.len_a, kb.len_b)
      AND ka.token_a < kb.token_b
      AND levenshtein(ka.token_a, kb.token_b) <= $maxDist"""

  // ---- R5: paragraph-grain dedup -------------------------------------------

  /** Paragraph width in tokens. The repo's synthetic corpus carries no
    * newlines, so "paragraph" is a FIXED token block (documented stand-in:
    * a real corpus splits on `\n\n` first and falls back to fixed blocks
    * for wall-of-text docs — the Dolma/CCNet convention; the dedup
    * arithmetic below is delimiter-agnostic). */
  val ParaTokens = 16

  /** Id offset for [[withSharedParagraphs]] twins — its own band above
    * [[TwinOffset]] (+10 M) and [[QuoteOffset]] (+20 M). */
  val ParaOffset = 30000000L

  /** Max paragraphs per doc assumed by the keeper key encoding
    * `doc_id · 2²⁰ + para_no` (smallest (doc, position) occurrence wins,
    * one integer min — no struct ordering semantics in the contract). */
  val ParaNoBits = 20

  /** Corpus with planted SHARED-paragraph positives: every 5th doc gets a
    * twin (id +[[ParaOffset]], source inherited) whose FIRST [[ParaTokens]]
    * tokens are the original's verbatim and whose remainder is the rest
    * REVERSED — so the twin shares exactly one paragraph with its original
    * (the repeated header/boilerplate case) while being neither an exact
    * dup (d1's grain) nor mostly-duplicated (r2's span grain would flag
    * the same block; this tier DROPS it). Docs of ≤ [[ParaTokens]] tokens
    * make the twin a verbatim copy — the degenerate case the spec pins. */
  def withSharedParagraphs(docs: DataFrame): DataFrame = {
    val toks = tokens(norm(col("text")))
    docs.select(col("doc_id"), col("text"), col("source"))
      .unionByName(docs
        .filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + ParaOffset).as("doc_id"),
          array_join(concat(slice(toks, 1, ParaTokens),
            reverse(slice(toks, lit(ParaTokens + 1),
              greatest(size(toks) - ParaTokens, lit(0))))), " ").as("text"),
          col("source")))
  }

  def withSharedParagraphsSql(docs: String): String = {
    val t = tokensSql(normSql("text"))
    s"""
    SELECT doc_id, text, source FROM $docs
    UNION ALL
    SELECT doc_id + $ParaOffset AS doc_id,
      array_to_string(list_concat(list_slice(t, 1, $ParaTokens),
        list_reverse(list_slice(t, ${ParaTokens + 1}, len(t)))), ' ')
        AS text, source
    FROM (SELECT doc_id, $t AS t, source FROM $docs)
    WHERE doc_id % 5 = 0"""
  }

  /** R5: PARAGRAPH-grain dedup — the published middle rung the ladder
    * skipped (Dolma/The Pile dedupe at paragraph grain): doc-level d1
    * misses a repeated paragraph inside otherwise-distinct docs, and
    * span-level r2 reports offsets, not a drop list. This elects, per
    * distinct paragraph CONTENT, the first occurrence (smallest
    * (doc_id, para_no)) as keeper and reports the r3-shape per-source
    * audit: docs, paragraphs, droppable duplicate paragraphs, and the
    * drop rate a curation run acts on.
    *
    * Plan (mm2's grain-explode dedup at text grain): docs explode to
    * [[ParaTokens]]-token blocks (the tail block keeps its short length —
    * equal-content tails still match, a 4-token tail never matches a
    * 16-token block), each block md5-fingerprinted (d1's convention);
    * ONE fingerprint groupBy elects keepers (never all-pairs — the
    * shuffle key is the fingerprint, exactly d1 at paragraph grain); the
    * occurrence stream joins the keeper back and aggregates to source
    * grain. Zero-token docs hold no block (the pk2 guard) but still
    * count as docs. Scale: block volume ≈ tokens/[[ParaTokens]] rows;
    * two shuffles (fp, source) + the corpus-side doc count; no window,
    * no sort, no pair join anywhere. */
  def paragraphDedup(docs: DataFrame, paraTokens: Int = ParaTokens)
      : DataFrame = {
    val keyed = docs
      .select(col("doc_id"), col("source"),
        tokens(norm(col("text"))).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), col("source"),
        posexplode(transform(
          sequence(lit(0), expr(s"(size(tk) - 1) DIV $paraTokens")),
          b => md5(array_join(
            slice(col("tk"), b * paraTokens + 1, lit(paraTokens)), " ")
            .cast("binary")))).as(Seq("para_no", "fp")))
      .select(col("source"), col("fp"),
        (col("doc_id") * lit(1L << ParaNoBits) + col("para_no")).as("k"))
    val keeper = keyed.groupBy(col("fp")).agg(min(col("k")).as("keeper"))
    val stats = keyed.join(keeper, Seq("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("k") =!= col("keeper"), 1L).otherwise(0L))
          .as("dup_paras"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(stats, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("dup_paras"), lit(0L)).as("dup_paras"),
        // a source of only empty docs has no paragraphs: NULL rate, the
        // DuckDB 0/0 answer (ANSI Spark would otherwise throw)
        when(coalesce(col("n_paras"), lit(0L)) === 0,
          lit(null).cast("double"))
          .otherwise(coalesce(col("dup_paras"), lit(0L)).cast("double") /
            col("n_paras").cast("double"))
          .as("dup_para_rate"))
  }

  /** R5 oracle: the identical block/fingerprint/keeper pipeline in
    * DuckDB (`//` truncates like Spark DIV on the non-negative sizes
    * here; both engines md5 the same single-space block join). */
  def paragraphDedupSql(corpus: String, paraTokens: Int = ParaTokens)
      : String = s"""
    WITH corpus AS ($corpus),
    tk AS (
      SELECT doc_id, source, ${tokensSql(normSql("text"))} AS t
      FROM corpus),
    keyed AS (
      SELECT source,
        md5(array_to_string(
          list_slice(t, b * $paraTokens + 1, (b + 1) * $paraTokens), ' '))
          AS fp,
        doc_id * ${1L << ParaNoBits} + b AS k
      FROM (SELECT doc_id, source, t,
              unnest(range(0, (len(t) - 1) // $paraTokens + 1)) AS b
            FROM tk WHERE len(t) > 0)),
    keeper AS (SELECT fp, min(k) AS keeper FROM keyed GROUP BY 1),
    st AS (
      SELECT source, count(*)::BIGINT AS n_paras,
        sum(CASE WHEN k <> keeper THEN 1 ELSE 0 END)::BIGINT AS dup_paras
      FROM keyed JOIN keeper USING (fp) GROUP BY 1),
    d AS (SELECT source, count(*)::BIGINT AS n_docs FROM corpus GROUP BY 1)
    SELECT d.source, d.n_docs,
      coalesce(st.n_paras, 0)::BIGINT AS n_paras,
      coalesce(st.dup_paras, 0)::BIGINT AS dup_paras,
      coalesce(st.dup_paras, 0)::DOUBLE / coalesce(st.n_paras, 0)::DOUBLE
        AS dup_para_rate
    FROM d LEFT JOIN st ON st.source = d.source"""
}
