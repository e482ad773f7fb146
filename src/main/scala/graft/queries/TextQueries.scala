package graft.queries

import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.io.Sources
import graft.text.{DomainCuration, TextAnalysis}

/** Text curation over the documents corpus: tokens, quality, sampling,
  * decontamination, tokenizer training and retrieval. */
object TextQueries {

  /** A query whose build is `op` over the documents table. */
  private val onDocs = QuerySpec.onTable("documents") _

  val specs: Seq[QuerySpec] = Seq(

    // E1: token statistics (whitespace + BPE-ish subword counts).
    onDocs("t1_token_stats", TextAnalysis.tokenStats,
      TextAnalysis.tokenStatsSql),

    // E134 (T18): context-length truncation audit — for each candidate
    // max_seq_len, how many docs overflow and how much token mass is
    // lost: the sizing curve a pretraining run reads before fixing L.
    // One conditional-aggregate corpus pass; |CtxLens| output rows.
    onDocs("t18_truncation_audit", TextAnalysis.truncationAudit,
      TextAnalysis.truncationAuditSql),

    // E184 (PK2): context-window packing — the concat-and-chunk step a
    // pretraining run applies after curation: per source, docs
    // concatenate in doc_id order into one token stream cut into
    // fixed-budget windows; docs straddle cuts (GPT-style packing, no
    // padding). Window-grain report: docs touched, tokens held,
    // leading doc. One source-partitioned running sum (never a global
    // sort), one sequence-explode, window-grain aggregate. Distinct
    // from pk1 (E48), which assigns whole docs to sequences and may
    // overshoot: this cuts at EXACT boundaries.
    onDocs("pk2_context_windows", TextAnalysis.contextPacking(_),
      TextAnalysis.contextPackingSql()),

    // E2: language-ID by stopword-marker scoring.
    onDocs("t2_lang_id", TextAnalysis.langId(_), TextAnalysis.langIdSql),

    // E3: quality scoring for corpus filtering.
    onDocs("t3_quality_score", TextAnalysis.qualityScore,
      TextAnalysis.qualityScoreSql),

    // E4: md5 + rolling-hash document fingerprints.
    onDocs("t4_fingerprint", TextAnalysis.fingerprint,
      TextAnalysis.fingerprintSql),

    // E36: deterministic content-hash sampling — keep docs whose md5(id)
    // falls under the cutoff (~25%). The scale-correct way to sample
    // training data: stable across reruns/retries (rand() is not), no
    // global count, trivially composable with stratification by bucketing
    // the hash range.
    QuerySpec("t5_hash_sample", (s, d) =>
      Sources.table(s, d, "documents")
        .select(col("doc_id"),
          substring(graft.functions.TextFunctions.docIdHash(col("doc_id")), 1, 2)
            .as("bucket"))
        .filter(col("bucket") < "40"),
      oracle = """
      SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
      FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'"""),

    // E137 (S5): quality-weighted Bernoulli sampling — each doc
    // survives with probability proportional to its own t3 quality
    // score (soft quality filter; deterministic md5 coin). The
    // continuous-weight member of the sampling family.
    onDocs("s5_quality_sample", TextAnalysis.qualitySample(_),
      TextAnalysis.qualitySampleSql()),

    // E45 (T6): corpus vocabulary top-k by document frequency — the
    // vocab/stopword-building pass: narrow explode, token-keyed partial
    // aggregate, bounded TakeOrderedAndProject ranking.
    // E138 (T19): per-source distinctive terms — top-k tokens by the
    // Dirichlet-smoothed source-vs-rest rate ratio (the data-card
    // "characteristic vocabulary" column; log dropped, rank by the
    // exact rational — the BM25/idf house rule).
    onDocs("t19_distinctive_terms", TextAnalysis.distinctiveTerms(_),
      TextAnalysis.distinctiveTermsSql()),

    // E151 (T20): corpus collocations — top-k adjacent bigrams by the
    // rational PMI-exponential lift n_ab·N/(n_a·n_b) (Manning–Schütze
    // phrase mining, log-free by the libm rule); DF-cap prune, AQE-
    // sized marginal join-backs, bounded TakeOrdered.
    onDocs("t20_collocations", TextAnalysis.collocations(_),
      TextAnalysis.collocationsSql()),

    onDocs("t6_top_tokens", TextAnalysis.topTokens(_),
      TextAnalysis.topTokensSql()),

    // E46 (C1): benchmark decontamination — per-source contamination
    // rate vs an eval-set fingerprint list (broadcast semi join on the
    // content fingerprint; one corpus scan).
    QuerySpec("c1_decontamination", (s, d) => {
      val docs = Sources.table(s, d, "documents")
      TextAnalysis.contaminationBySource(docs, TextAnalysis.evalSetFps(docs))
    }, oracle = TextAnalysis.contaminationBySourceSql),

    // E116: tokenizer fertility audit — subword tokens per word and
    // chars per subword, per source (the vocabulary-quality number an
    // LLM data card reports), over t8's trained merges.
    onDocs("t16_fertility", TextAnalysis.fertilityAudit(_),
      TextAnalysis.fertilityAuditSql()),

    // E115: retrieval-prep capstone — redact → chunk → stub-embed →
    // cross-doc chunk top-k: the RAG twin of pipe1's cleaning chain
    // (deterministic md5-derived embedding, real plumbing end to end).
    onDocs("pipe2_retrieval_prep", TextAnalysis.retrievalPrep(_),
      TextAnalysis.retrievalPrepSql()),

    // E113: per-source contamination report — c1/c2/c3 joined to the
    // one-row-per-source dashboard a curation run publishes (each signal
    // keeps its operator's own convention; signals join, not re-derive).
    onDocs("rep1_contamination_report", TextAnalysis.contaminationReport,
      TextAnalysis.contaminationReportSql),

    // E127: per-source DATA CARD — the datasheet a curation run
    // publishes: volume, frequency-weighted mean quality, language mode
    // + share, exact-dup rate; every column reuses its operator's single
    // definition (the rep1 composition rule).
    onDocs("card1_data_card", TextAnalysis.dataCard, TextAnalysis.dataCardSql),

    // E130 (MIX3): data-constrained epoch allocation — sources fill a
    // token budget in quality order, each capped at 4 repeats; greedy-
    // with-caps collapses to a prefix sum in exact long arithmetic.
    onDocs("mix3_epoch_alloc", TextAnalysis.epochAllocation,
      TextAnalysis.epochAllocationSql),

    // E158 (MIX4): DEDUP-AWARE epoch allocation — "repeat unique data,
    // not duplicates": mix3's budget fill over each source's UNIQUE
    // token mass (d16's quality-elected survivor per near-dup cluster,
    // over the twin-planted corpus), raw mass reported alongside so the
    // dup discount is visible. Composes d16 and mix3 by their single
    // definitions.
    onDocs("mix4_unique_epoch_alloc", TextAnalysis.uniqueEpochAllocation,
      TextAnalysis.uniqueEpochAllocationSql),

    // E163 (TRN1): distributed deterministic perceptron TRAINING —
    // learn binary-label weights over hashed token features in exact
    // integer arithmetic (batch updates fold associatively: any
    // partitioning trains bit-identical weights). Closes the loop t12
    // left open: t12 scores with fixed weights, this learns them.
    onDocs("trn1_perceptron", TextAnalysis.perceptronTrain(_),
      TextAnalysis.perceptronTrainSql()),

    // E159 (T21): tokenizer ROUND-TRIP validation — per-source
    // encode→decode identity rate + char-level edit rate; the BPE layer
    // is round-trip-exact by construction (spec-verified), so the
    // measured loss is exactly the normalization stage's.
    onDocs("t21_roundtrip", TextAnalysis.tokenizerRoundTrip,
      TextAnalysis.tokenizerRoundTripSql),

    // E131 (IR1): retrieval evaluation — per-query first-relevant rank,
    // reciprocal rank, precision@k over t15's BM25 ranking (relevance =
    // shared source; the pluggable-qrels harness closing the retrieval
    // family).
    onDocs("ir1_retrieval_metrics", TextAnalysis.retrievalMetrics(_),
      TextAnalysis.retrievalMetricsSql()),

    // E92 (B1): bloom-filter membership pruning — the set-membership
    // sketch (fixed 64×32-bit words, bit_or-mergeable): per-doc
    // maybe/definitely-not against the eval block list with no corpus
    // join; no-false-negative guarantee visible in the output.
    onDocs("b1_bloom_prune", TextAnalysis.bloomPrune,
      TextAnalysis.bloomPruneSql),

    // E47 (MIX1): source-weighted deterministic sampling audit — the
    // data-mixing op: per-source hash-cutoff rates, rerun-stable, no
    // rand(), reported as the kept-vs-target audit a mixing run emits.
    onDocs("mix1_weighted_sample", TextAnalysis.weightedSampleAudit,
      TextAnalysis.weightedSampleAuditSql),

    // E48 (PK1): sequence packing — fixed-token-budget training-sequence
    // assignment, sharded by content hash so shards pack independently
    // (the global greedy pack would serialize through one task).
    onDocs("pk1_pack_sequences", TextAnalysis.packSequences,
      TextAnalysis.packSequencesSql),

    // E49 (R1): repetition removal — collapse consecutive duplicate
    // tokens (token-array indexed-lambda form; regex backrefs don't
    // exist in RE2 so only this form is oracle-mirrorable).
    onDocs("r1_collapse_repeats", TextAnalysis.collapseRepeats,
      TextAnalysis.collapseRepeatsSql),

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
    onDocs("s6_weighted_reservoir", TextAnalysis.weightedReservoir(_),
      TextAnalysis.weightedReservoirSql()),

    // E172 (S7): STRATIFIED weighted reservoir — per-source budgets over
    // the SAME race key (one definition, two consumers): each stratum
    // keeps its own k smallest keys, so a heavy source can't crowd the
    // tail out of the sample (s6's global race lets it). The rank is a
    // source-partitioned WindowGroupLimit, never a full sort.
    onDocs("s7_stratified_reservoir", TextAnalysis.stratifiedReservoir(_),
      TextAnalysis.stratifiedReservoirSql()),

    QuerySpec("s1_stratified_sample", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(graft.functions.TextFunctions.docIdHash(col("doc_id")).asc,
          col("doc_id").asc)
      Sources.table(s, d, "documents")
        .select(col("source"), col("doc_id"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
    }, oracle = """
      SELECT source, doc_id, rn FROM (
        SELECT source, doc_id,
          row_number() OVER (PARTITION BY source
            ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)::BIGINT
            AS rn
        FROM documents)
      WHERE rn <= 5"""),

    // E54 (T7): corpus-statistics join-back — per-doc token rarity from
    // corpus-level document frequencies (the LM-proxy quality signal);
    // vocabulary-keyed agg + token join-back, re-agg per doc.
    onDocs("t7_token_rarity", TextAnalysis.tokenRarity,
      TextAnalysis.tokenRaritySql),

    // E76 (T12): hashed-feature linear classifier inference — the
    // model-based quality filter (DCLM/FineWeb-Edu stage): token →
    // hash bucket → quantized weight, exact integer margin per doc in
    // one narrow codegen'd pass.
    onDocs("t12_quality_classifier", TextAnalysis.classifierScore(_),
      TextAnalysis.classifierScoreSql),

    // E123 (T17): per-source quality calibration — t12's score percent-
    // ranked WITHIN each source so a global cut can't starve a source
    // (the FineWeb-style fairness normalization); `selected` keeps the
    // top half of every source, the fairness-adjusted alternative to
    // sel1's global budget cut.
    onDocs("t17_source_calibrated", TextAnalysis.sourceCalibratedQuality,
      TextAnalysis.sourceCalibratedQualitySql),

    // E125 (PP1): preference-pair construction — the reward-model/DPO
    // prep stage: per source, the k best t12-scored docs pair with the
    // k worst (best-1 ↔ worst-1, …), margin = score gap, degenerate
    // pairs dropped. One ranking window per source; bottom ranks derive
    // from the SAME sort (n−top+1).
    onDocs("pp1_preference_pairs", TextAnalysis.preferencePairs(_),
      TextAnalysis.preferencePairsSql()),

    // E98 (LM1): bigram LM quality scoring — the CCNet/KenLM curation
    // stage: corpus-trained conditional-frequency table scores each
    // doc's token transitions; integer-deterministic (ratio of exact
    // sums + order-independent min) instead of fold-order-sensitive
    // log-probs.
    onDocs("lm1_bigram_lm", TextAnalysis.bigramLmScore,
      TextAnalysis.bigramLmScoreSql),

    // E94 (SEL1): budget-constrained quality selection — keep the
    // best-scored docs until a global token budget is spent (the
    // "top-X tokens by classifier" curation cut). Exact ordered prefix
    // sum as the verifiable baseline; 100-TB swap = approx-quantile
    // score threshold + narrow filter (t13x path).
    onDocs("sel1_budget_select", TextAnalysis.budgetSelect(_),
      TextAnalysis.budgetSelectSql()),

    // E82 (T13): quality-decile assignment — curriculum/filter bucketing
    // of the corpus by classifier score. Exact ntile(10) with a doc_id
    // tiebreak (integer margins tie heavily; without a total order the
    // tile of a tied doc would be engine-dependent). ntile needs ONE
    // global sort — the verifiable baseline; the 100-TB swap is
    // approx_percentile decile boundaries broadcast-joined back (join-
    // free bucketing, no total order), trading exact equal-width tiles
    // for boundary-rounded ones, same trade as x5→x5x.
    QuerySpec("t13_quality_deciles", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").asc, col("doc_id").asc)
      TextAnalysis.classifierScore(Sources.table(s, d, "documents"))
        .select(col("doc_id"), col("score"))
        .withColumn("decile", ntile(10).over(w).cast("long"))
    }, oracle = s"""
      WITH scored AS (${TextAnalysis.classifierScoreSql})
      SELECT doc_id, score,
        ntile(10) OVER (ORDER BY score ASC, doc_id ASC)::BIGINT AS decile
      FROM scored"""),

    // E90 (T13X): t13's documented 100-TB swap made EXECUTABLE, the
    // a2x/x5x/v1x convention: decile BOUNDARIES from approx_percentile
    // (KLL, one narrow mergeable pass — no global sort) with each
    // boundary gated inside the exact ±1%-rank percentile bracket
    // (sketch rank error ≤ 1e-4 ⊂ the bracket, so the indicator is a
    // theorem, not luck; both engines agree on the reduced counts
    // without sharing sketch internals).
    QuerySpec("t13x_approx_deciles", (s, d) => {
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
    }, oracle = """
      SELECT 9::BIGINT AS n_bounds, 9::BIGINT AS n_within"""),

    // E83 (S2): deterministic train/val/test split audit — the assignment
    // is a pure hash-range function of doc_id (no rand(): rerun/retry
    // stable, no coordination, any worker can re-derive any doc's split),
    // ≈80/10/10 by md5 prefix range. The audit is the decision-grade
    // view: per-split doc count, token mass, and share — one narrow scan,
    // one 3-row aggregate, a window for the share normalizer.
    QuerySpec("s2_split_audit", (s, d) => {
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
    }, oracle = s"""
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
      FROM g"""),

    // E86 (T14): heavy hitters via count-min sketch vs exact counts —
    // the frequency member of the sketch family (HLL a2x, KLL x5x):
    // fixed 3×256 mergeable integer state, one narrow build pass; both
    // engines build the identical deterministic sketch so estimates
    // hash-compare exactly and `overestimate` shows the collision cost.
    onDocs("t14_heavy_hitters", TextAnalysis.heavyHitters(_),
      TextAnalysis.heavyHittersSql()),

    // E69 (T11): incremental DF-store maintenance under the hash gate —
    // the query FOLDS the corpus through the store in two batches
    // (odd/even doc_id); the oracle is the one-shot aggregate, so the
    // hash match IS the incremental ≡ batch-equivalence proof at driver
    // scale (CorpusOpsSpec covers uneven/empty batch shapes).
    QuerySpec("t11_df_store", (s, d) => {
      val docs = Sources.table(s, d, "documents")
      Seq(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
        .foldLeft(TextAnalysis.emptyDfStore(s))(TextAnalysis.dfStoreUpdate)
    }, oracle = s"""
      SELECT token, count(*)::BIGINT AS df
      FROM (SELECT doc_id, unnest(list_distinct(${
        graft.functions.TextFunctions.tokensSql(
          graft.functions.TextFunctions.normSql("text"))})) AS token
            FROM documents)
      GROUP BY 1"""),

    // E62 (C2): n-gram-level decontamination — contamination by shared
    // word-5-grams with the eval set (the published LM-eval hygiene
    // check), one tier stronger than c1's whole-doc fingerprints; eval
    // shingle set broadcasts, corpus explodes distinct shingles once.
    // Runs over the twin-planted corpus (the d2–d9 convention: the
    // synthetic generator plants no duplicates, so twins of eval docs
    // are the deterministic positives).
    onDocs("c2_ngram_decontamination",
      t => TextAnalysis.ngramContamination(TextAnalysis.withSourcedTwins(t)),
      TextAnalysis.ngramContaminationSql(
        TextAnalysis.withSourcedTwinsSql("documents"))),

    // E186 (C5): SPAN-level decontamination — c2 says WHICH train docs
    // overlap the eval set, this says WHERE: maximal contiguous token
    // spans whose 5-gram hashes appear among the eval docs' grams —
    // the excision report (cut the quote, keep the doc). r2's
    // positioned-hash island machinery with c2's eval scoping in place
    // of the corpus-frequency flag; eval side broadcast as a distinct
    // hash set; eval docs excluded from the report.
    onDocs("c5_contamination_spans",
      t => TextAnalysis.contaminationSpans(TextAnalysis.withSourcedTwins(t)),
      TextAnalysis.contaminationSpansSql(
        TextAnalysis.withSourcedTwinsSql("documents"))),

    // E63 (T10): per-doc tf-idf top terms — keyword extraction; tf/df
    // from one token aggregate + its vocabulary-width re-aggregate,
    // rational idf (no log, bitwise parity), doc-keyed bounded top-k.
    onDocs("t10_tfidf_top_terms", TextAnalysis.tfidfTopTerms(_),
      TextAnalysis.tfidfTopTermsSql()),

    // E64 (MIX2): temperature-tempered source mixing (shares ∝ √n) — the
    // upweight-small-sources mixing audit; the global normalizer folds
    // sequentially over a source-sorted list (deterministic global
    // reduce), everything else is one count aggregate. Runs over mix1's
    // sampled subset (genuinely skewed 25/50/75/100% source rates — the
    // raw synthetic corpus is uniform, so boosts there would all be 1.0);
    // mix1 → mix2 is the fixed-weights → rebalance composition a real
    // mixing run performs.
    onDocs("mix2_temperature_mix",
      t => TextAnalysis.temperatureMixAudit(TextAnalysis.weightedKeep(t)),
      TextAnalysis.temperatureMixAuditSql(
        TextAnalysis.weightedKeepSql)),

    // E65 (SH1): content-stable output sharding audit — per-shard doc and
    // token totals under the 16-way writer hash.
    onDocs("sh1_shard_audit", TextAnalysis.shardAudit,
      TextAnalysis.shardAuditSql),

    // E51 (PII1): PII detection + redaction over a deterministically
    // planted corpus — three codegen'd regexp_replace stages + match
    // counts, shuffle-free; patterns confined to the Java-regex/RE2
    // shared subset so the oracle redacts byte-identically.
    onDocs("pii1_redact", t => TextAnalysis.piiRedact(TextAnalysis.withPii(t)),
      TextAnalysis.piiRedactSql),

    // E52 (CH1): overlapping token-window chunking — the doc→sequence
    // fan-out between cleaning and packing (size 32, stride 24). Pure
    // codegen'd columnar explode+slice; chunk md5 composes with d1 for
    // chunk-level dedup.
    onDocs("ch1_chunk_overlap", TextAnalysis.chunkOverlap(_),
      TextAnalysis.chunkOverlapSql()),

    // E58 (T8): BPE-merge vocabulary TRAINING — the first 8 learned
    // byte-pair merges of the corpus. One corpus scan builds the
    // word-frequency table; the merge loop then runs over the VOCABULARY
    // (sub-linear in corpus size): per round, a vocab-width pair agg
    // ending in TakeOrderedAndProject(1) (its single argmax row is the
    // only collect — bounded metadata, the n5-Lloyd rationale) and a
    // narrow per-word fold merge. Oracle = identical iterations unrolled
    // as CTE stages with windowed run-parity greedy merges.
    onDocs("t8_bpe_merges", TextAnalysis.bpeMerges(_),
      TextAnalysis.bpeMergesSql()),

    // E61 (PIPE1): the cleaning tier composed END-TO-END — PII redact →
    // repetition collapse → quality filter → exact dedup → chunking,
    // summarized per source. Every stage is an already-verified operator;
    // the composition proves the tier pipelines (narrow end to end, the
    // d1-form dedup and the final audit are the only shuffles).
    onDocs("pipe1_corpus_prep", TextAnalysis.corpusPrep,
      TextAnalysis.corpusPrepSql()),

    // E58b (T9): BPE tokenization APPLY — per-doc subword counts under
    // the trained merges. Merge folds run once per VOCABULARY word; the
    // corpus-width work is one broadcast join-back + per-doc sum (the
    // t7 shape with the small side guaranteed vocabulary-sized).
    onDocs("t9_bpe_tokenize", TextAnalysis.bpeTokenize(_),
      TextAnalysis.bpeTokenizeSql()),

    // T22: unigram-LM tokenizer TRAINING (the SentencePiece family,
    // Kudo 2018 — the OTHER public tokenizer beside t8's BPE): seed =
    // single chars + top-64 weighted substrings, 3 hard-EM (Viterbi)
    // iterations at VOCABULARY grain with Laplace-smoothed counts,
    // deterministic prune. Oracle = identical iterations unrolled as
    // CTE stages with the DP as a DuckDB list fold.
    onDocs("t22_unigram_train", TextAnalysis.unigramTrain(_),
      TextAnalysis.unigramTrainSql()),

    // T23: unigram tokenization APPLY — t9's join-back shape under the
    // t22 vocabulary: distinct words Viterbi-segment once (broadcast
    // back), per-source fertility report (the t16 columns).
    onDocs("t23_unigram_tokenize", TextAnalysis.unigramTokenize(_),
      TextAnalysis.unigramTokenizeSql()),

    // E194 (DOM1): registrable-domain-grain curation — the CCNet/
    // RefinedWeb/FineWeb filtering grain: per-domain mass audit +
    // blocklist + relative per-domain token cap (cap-the-giant at
    // domain grain, s7's philosophy), with a public-suffix-lite
    // registrable-domain rule over deterministic fixture URLs
    // (planted blocklisted + oversized domains).
    onDocs("dom1_domain_audit", DomainCuration.domainAudit,
      DomainCuration.domainAuditSql),

    // E105: BM25 ranked retrieval — the inverted-index search stage:
    // each query doc's distinct terms score every term-sharing doc
    // (rational-odds idf, ordered per-pair fold), ranked top-k.
    onDocs("t15_bm25", TextAnalysis.bm25TopKRetrieval(_),
      TextAnalysis.bm25TopKRetrievalSql()),

    // E107: DSIR-style targeted selection — hashed-bigram target-vs-raw
    // counts score every raw doc's target affinity (integer-exact
    // posterior, the lm1 discipline), top-k kept.
    onDocs("imp1_dsir_select", TextAnalysis.dsirSelect(_),
      TextAnalysis.dsirSelectSql()),

    // E106: hybrid retrieval — Reciprocal Rank Fusion of the BM25 and
    // dense-cosine rankings over the shared doc/vec id space (no score
    // calibration crosses the system boundary, only ranks).
    QuerySpec("rrf1_hybrid_fusion", (s, d) =>
      TextAnalysis.hybridRrf(Sources.table(s, d, "documents"),
        Sources.table(s, d, "embeddings")),
      oracle = TextAnalysis.hybridRrfSql())
  )
}
