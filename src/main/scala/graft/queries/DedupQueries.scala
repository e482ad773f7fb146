package graft.queries

import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.dedup.Dedup
import graft.io.Sources
import graft.text.TextAnalysis

/** Exact, near-duplicate and span dedup over the documents corpus. */
object DedupQueries {

  /** A query whose build is `op` over the documents table. */
  private val onDocs = QuerySpec.onTable("documents") _

  val specs: Seq[QuerySpec] = Seq(

    // E5: exact dedup by content hash over a doubled corpus.
    QuerySpec("d1_exact_dedup", (s, d) => {
      val docs = Sources.table(s, d, "documents").select(col("doc_id"), col("text"))
      Dedup.exactDedup(docs.unionByName(docs))
    }, oracle = Dedup.exactDedupSql),

    // E6: word-3-gram Jaccard near-dup pairs (planted twins corpus).
    onDocs("d2_ngram_jaccard",
      t => Dedup.ngramJaccardPairs(Dedup.withNearDups(t)),
      Dedup.ngramJaccardPairsSql(Dedup.withNearDupsSql("documents"))),

    // E6b: df-capped Jaccard — the prefix-filtering scale path (stop-
    // shingles excluded from sets and join; linear candidate volume).
    onDocs("d7_jaccard_dfcap",
      t => Dedup.ngramJaccardDfCapped(Dedup.withNearDups(t)),
      Dedup.ngramJaccardDfCappedSql(Dedup.withNearDupsSql("documents"))),

    // E110: INCREMENTAL near-dup — a new batch vs the accumulated
    // MinHash signature store (the production form of d3: only the batch
    // pays the signature pass, the store is never re-read).
    QuerySpec("d15_incremental_lsh", (s, d) => {
      val docs = Sources.table(s, d, "documents")
      val store = Dedup.minhashSigStore(
        docs.filter(col("doc_id") % 2 === 0))
      val batch = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 2 === 0)
          .select((col("doc_id") + Dedup.ReCrawlOffset).as("doc_id"),
            concat(col("text"), lit(" spark")).as("text")))
      Dedup.incrementalLshDedup(batch, store)
    }, oracle = Dedup.incrementalLshDedupSql("SELECT doc_id, text FROM documents")),

    // E104: CONTAINMENT near-dup — the asymmetric twin of d7: directional
    // |A∩B|/|A| catches quote/subset pairs (planted first-12-token quote
    // twins) that Jaccard's union normalizer suppresses on long docs.
    onDocs("d14_containment",
      t => Dedup.containmentPairs(Dedup.withContainedDups(t)),
      Dedup.containmentPairsSql(Dedup.withContainedDupsSql("documents"))),

    // E35 (D8): incremental dedup — a new batch left-anti-joined against
    // the accumulated fingerprint store (evens = history, incoming = odds
    // + a re-crawl of the evens). The production shape: per-batch work
    // scales with the batch, the store never rewrites.
    QuerySpec("d8_incremental_dedup", (s, d) => {
      val docs = Sources.table(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val seen = Dedup.fingerprints(docs.filter(col("doc_id") % 2 === 0))
      val incoming = docs.filter(col("doc_id") % 2 === 1)
        .unionByName(docs.filter(col("doc_id") % 2 === 0)
          .select((col("doc_id") + Dedup.TwinOffset * 2).as("doc_id"),
            col("text")))
      Dedup.incrementalDedup(incoming, seen)
        .select(col("fp"), col("doc_id"))
    }, oracle = Dedup.incrementalDedupSql),

    // E91 (D11): fuzzy vocabulary pairs — edit-distance typo/variant
    // detection at VOCABULARY grain (sub-linear in corpus size), the
    // normalization tier below document near-dup; SymSpell-style length
    // buckets bound the candidates, levenshtein runs only on candidates.
    onDocs("d11_fuzzy_vocab", Dedup.fuzzyVocabPairs(_),
      Dedup.fuzzyVocabPairsSql()),

    // E93 (C3): near-dup decontamination — the fuzzy tier above c2:
    // training docs that are near-DUPLICATES of an eval doc via
    // MinHash-LSH, eval bands broadcast (no self-join, no band-key
    // shuffle); planted eval twins must be flagged.
    onDocs("c3_neardup_decon",
      t => Dedup.crossCorpusNearDups(TextAnalysis.withSourcedTwins(t)),
      Dedup.crossCorpusNearDupsSql(
        TextAnalysis.withSourcedTwinsSql("documents"))),

    // E7: MinHash(16) + LSH(4 bands) near-dup candidates.
    onDocs("d3_minhash_lsh", t => Dedup.minhashLshPairs(Dedup.withNearDups(t)),
      Dedup.minhashLshPairsSql(Dedup.withNearDupsSql("documents"))),

    // E97 (S3): split-leakage audit — near-dup pairs straddling the
    // E83 train/val/test hash split ("dedup before you split" made
    // measurable): d3's pairs, sides split-labeled by the shared rule,
    // off-diagonal cells of the (split, split) matrix flagged.
    onDocs("s3_split_leakage", Dedup.splitLeakage,
      Dedup.splitLeakageSql(Dedup.withNearDupsSql("documents"))),

    // E133 (S4): leakage-FREE split assignment — the constructive closer
    // of the split trilogy (s2 audits proportions, s3 measures leakage,
    // this prevents it): split assigned at the duplicate-cluster grain
    // via the shared E83 hash rule on the GROUP id, so near-dup pairs
    // can never straddle splits; unclustered docs keep their s2 split.
    onDocs("s4_cluster_split", t => Dedup.clusterSplit(Dedup.withNearDups(t)),
      Dedup.clusterSplitSql(Dedup.withNearDupsSql("documents"))),

    // E37 (D9): duplicate clustering — connected components over the
    // MinHash-LSH pair graph (iterative min-label propagation with
    // per-round localCheckpoint), summarized per duplicate cluster. The
    // step a real dedup pipeline runs after pair generation: pairs don't
    // dedup a corpus, clusters with a canonical representative do.
    onDocs("d9_dup_clusters", t => Dedup.dupClusters(Dedup.withNearDups(t)),
      Dedup.dupClustersSql(Dedup.withNearDupsSql("documents"))),

    // E132 (D16): quality-aware survivor selection — the stage after d9
    // that actually emits the deduped corpus: each duplicate cluster
    // elects its best-t12-quality member (tie -> min doc_id), singletons
    // survive as themselves. The corpus never shuffles: election ranks
    // only the clustered subset, singletons are a label anti-join.
    onDocs("d16_dedup_survivors",
      t => Dedup.dedupSurvivors(Dedup.withNearDups(t)),
      Dedup.dedupSurvivorsSql(Dedup.withNearDupsSql("documents"))),

    // E72 (D10): duplicate-SPAN detection — verbatim token runs repeated
    // anywhere in the corpus, merged to maximal per-doc spans (the
    // exact-substring tier; catches boilerplate inside otherwise-distinct
    // docs). Corpus plants prefix-only twins so spans are PARTIAL.
    onDocs("r2_dup_spans", t => Dedup.dupSpans(Dedup.withSpanTwins(t)),
      Dedup.dupSpansSql(Dedup.withSpanTwinsSql("documents"))),

    // E75 (R3): duplicated-token rate per source — the decision-grade
    // summary over r2's spans (which sources ship boilerplate, and how
    // much of their token mass it is).
    onDocs("r3_dup_span_rate",
      t => Dedup.dupSpanRate(Dedup.withSpanTwinsSourced(t)),
      Dedup.dupSpanRateSql(Dedup.withSpanTwinsSourcedSql("documents"))),

    // E180 (R4): winnowing fingerprints — the MOSS selection scheme
    // over r2's span hashes: guaranteed-coverage SPARSE fingerprints
    // (one integer window-min per position), then doc pairs sharing a
    // df-capped selected fingerprint. The published answer to "keep
    // which k-gram hashes" — r2 keeps all and filters by frequency,
    // this keeps ~2/(w+1) with a detection-floor theorem (w+k−1
    // tokens), spec-pinned. Same planted prefix twins as r2.
    onDocs("r4_winnow_pairs", t => Dedup.winnowPairs(Dedup.withSpanTwins(t)),
      Dedup.winnowPairsSql(Dedup.withSpanTwinsSql("documents"))),

    // R5: PARAGRAPH-grain dedup — the published middle rung between
    // doc-level d1 (misses a repeated paragraph inside distinct docs)
    // and span-level r2 (reports offsets, not a drop list): fixed
    // token blocks fingerprinted (d1's md5 convention), ONE
    // fingerprint groupBy elects first-occurrence keepers, r3-shape
    // per-source drop-rate report. Corpus plants shared-first-
    // paragraph twins (header/boilerplate case).
    onDocs("r5_paragraph_dedup",
      t => Dedup.paragraphDedup(Dedup.withSharedParagraphs(t)),
      Dedup.paragraphDedupSql(Dedup.withSharedParagraphsSql("documents"))),

    // E8: 32-bit SimHash signatures.
    onDocs("d4_simhash", t => Dedup.simhashSignatures(Dedup.withNearDups(t)),
      Dedup.simhashSignaturesSql(Dedup.withNearDupsSql("documents"))),

    // E9: SimHash near-dup pairs via band pigeonhole at the EXHIBIT width
    // — 32-bit opts in explicitly; the production default is d5x's 60.
    onDocs("d5_simhash_pairs",
      t => Dedup.simhashPairs(Dedup.withNearDups(t), bits = Dedup.SimhashBits),
      Dedup.simhashPairsSql(Dedup.withNearDupsSql("documents"),
        bits = Dedup.SimhashBits)),

    // E9b: the DEFAULT width — same banded algorithm at 60 bits (4×15-bit
    // bands, band-pair keys 30-bit). The ×10 scaling sweep showed 32-bit
    // candidate volume quadratic in corpus size (signature space
    // saturates on a concentrated corpus); widening the signature is THE
    // production fix, so simhashPairs defaults to it and the 32-bit
    // density-wall exhibit (d5) is the explicit-arg variant.
    onDocs("d5x_simhash60_pairs",
      t => Dedup.simhashPairs(Dedup.withNearDups(t)),
      Dedup.simhashPairsSql(Dedup.withNearDupsSql("documents")))
  )
}
