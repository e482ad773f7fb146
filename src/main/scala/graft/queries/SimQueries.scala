package graft.queries

import graft.QuerySpec
import graft.sim.Similarity

/** Embedding similarity: semantic dedup, ANN search and cluster
  * operators over the embeddings table. */
object SimQueries {

  /** The ANN queries' search shape on both engines: each vector with
    * vec_id < `annQueries` is a query, answered with its `annK` nearest. */
  private val annQueries = 5
  private val annK = 5

  /** d12x's explicit cell count (d12 runs the size-derived default). */
  private val cells = 64

  /** A query whose build is `op` over the embeddings table. */
  private val onEmbeddings = QuerySpec.onTable("embeddings") _

  val specs: Seq[QuerySpec] = Seq(

    // E129 (C4): SEMANTIC decontamination — the embedding-space tier
    // completing the contamination ladder (c1 exact → c2 n-gram → c3
    // lexical near-dup → this): train vectors cosine-matching any eval
    // vector above the 0.9 floor (planted verbatim eval twins score 1.0,
    // the corpus noise ceiling is ~0.5), eval side broadcast.
    onEmbeddings("c4_semantic_decon", Similarity.semanticDecon,
      Similarity.semanticDeconSql),

    // E10: embedding-cosine near-dup pairs (LSH-bucketed).
    onEmbeddings("d6_embedding_neardup", Similarity.embeddingNearDups,
      Similarity.embeddingNearDupsSql),

    // E95 (D12): semantic dedup (SemDeDup) — coarse-quantizer cells,
    // within-cell cosine pairs, keep-one-per-group drop list with
    // provenance. Data-adaptive candidate restriction vs d6's
    // hyperplane buckets.
    onEmbeddings("d12_semdedup", Similarity.semDedup(_),
      Similarity.semDedupSql()),

    // E95 scale knob made executable (the d5/d5x convention): 4× the
    // cells → ~4× smaller cells → ~16× fewer within-cell candidate
    // pairs; identical vectors still collide into the same cell, so the
    // planted twins survive any cell count.
    onEmbeddings("d12x_semdedup_cells",
      Similarity.semDedup(_, numCells = cells),
      Similarity.semDedupSql(numCells = cells)),

    // E102 (D13): SemDeDup with HIERARCHICAL (coarse→fine) cell
    // assignment — the scale path once the size-derived cell count is
    // itself large: per-row assign cost ⌈√cells⌉ + bucket instead of
    // cells, one codegen'd two-level argmin kernel; both stages
    // mirrored in the oracle.
    onEmbeddings("d13_semdedup_hier", Similarity.semDedupHier(_),
      Similarity.semDedupHierSql()),

    // E11: brute-force cosine top-k ANN baseline.
    onEmbeddings("n1_ann_bruteforce",
      Similarity.bruteForceTopK(_, annQueries, annK),
      Similarity.bruteForceTopKSql(annQueries, annK)),

    // E165 (N10): MATRYOSHKA truncation audit — per-query overlap@10
    // between the full-dim and 16-dim-prefix exact rankings (both THE
    // n1 definition): the number you measure before switching serving
    // to truncated embeddings. Exact integer overlaps; zero-overlap
    // queries kept via the spine left-join.
    onEmbeddings("n10_matryoshka_audit", Similarity.matryoshkaAudit(_),
      Similarity.matryoshkaAuditSql()),

    // E12: LSH-bucketed approximate top-k (scale path).
    onEmbeddings("n2_ann_lsh", Similarity.lshTopK(_, annQueries, annK),
      Similarity.lshTopKSql(annQueries, annK)),

    // E12b: grouped top-k via typed Aggregator (map-side-combine shape;
    // same results and oracle as n1).
    onEmbeddings("n3_ann_topk_agg",
      Similarity.topKAggregated(_, annQueries, annK),
      Similarity.bruteForceTopKSql(annQueries, annK)),

    // E12c: IVF-style ANN — seeded coarse quantizer, nprobe-cell search.
    onEmbeddings("n4_ann_ivf", Similarity.ivfTopK(_, annQueries, annK),
      Similarity.ivfTopKSql(annQueries, annK)),

    // E12d: IVF with a TRAINED (deterministic k-means) quantizer — the
    // production ANN build shape; same probe/join structure as n4 with
    // data-adaptive cells. Oracle mirrors the fixed Lloyd iterations as
    // unrolled CTE stages with order-pinned sequential-fold means.
    onEmbeddings("n5_ann_ivf_trained",
      Similarity.ivfTrainedTopK(_, annQueries, annK),
      Similarity.ivfTrainedTopKSql(annQueries, annK)),

    // E66: scalar-quantized (int8) ANN — the memory knob of the ANN tier
    // (4x fewer bytes per candidate; composes under the n2/n4/n5
    // candidate-set knobs). Ranks by the integer codes' cosine — the
    // per-vector scale cancels, so no dequantization at query time.
    onEmbeddings("n6_ann_sq8", Similarity.sqTopK(_, annQueries, annK),
      Similarity.sqTopKSql(annQueries, annK)),

    // E67: IVF cells over int8 codes — the candidate-set and bytes-per-
    // candidate knobs composed (the FAISS IVF-SQ index shape); the
    // stored search tier holds only (cell, codes), never raw floats.
    onEmbeddings("n7_ann_ivf_sq8", Similarity.ivfSqTopK(_, annQueries, annK),
      Similarity.ivfSqTopKSql(annQueries, annK)),

    // E71: product quantization — candidates stored as PqM codebook ids
    // (PqM bytes packed vs SQ8's dim bytes); search is per-query distance
    // tables + PqM lookups per pair (ADC), no per-pair vector math.
    onEmbeddings("n8_ann_pq", Similarity.pqTopK(_, annQueries, annK),
      Similarity.pqTopKSql(annQueries, annK)),

    // E71 quality close: PQ with TRAINED per-subspace codebooks — n5's
    // deterministic Lloyd run once per subspace, adapting each subspace's
    // 16 entries to its actual distribution (the knob FAISS turns by
    // default); same encode/ADC/rank structure as n8.
    onEmbeddings("n8x_ann_pq_trained",
      Similarity.pqTrainedTopK(_, annQueries, annK),
      Similarity.pqTrainedTopKSql(annQueries, annK)),

    // E74: IVF cells over PQ codes — the FAISS IVFPQ flagship: candidate
    // set restricted by the coarse quantizer, bytes by product codes.
    onEmbeddings("n9_ann_ivf_pq", Similarity.ivfPqTopK(_, annQueries, annK),
      Similarity.ivfPqTopKSql(annQueries, annK)),

    // E108: cluster profile — every vector assigned to its trained
    // k-means centroid (native argmin kernel), per-cluster size/dominant
    // label/purity: the inspection stage of cluster-based curation.
    onEmbeddings("cl1_cluster_profile", Similarity.clusterProfile,
      Similarity.clusterProfileSql),

    // E112: hard-negative mining — per anchor, nearest same-label
    // positive + nearest cross-label hard negative with the margin
    // signal (contrastive-pair prep for embedding training).
    onEmbeddings("hn1_hard_negatives", Similarity.hardNegatives(_),
      Similarity.hardNegativesSql()),

    // E109: cluster-balanced sampling — a fixed per-cluster quota over
    // the trained quantizer (uniform embedding-space coverage, the
    // anti-mode-collapse subset), content-stable pick order.
    onEmbeddings("cb1_cluster_sample", Similarity.clusterBalancedSample(_),
      Similarity.clusterBalancedSampleSql()),

    // E103: k-NN label propagation — each "unlabeled" query vector takes
    // the majority label of its k nearest labeled neighbors (the pseudo-
    // labeling stage of a training-data pipeline); exact scoring here as
    // the oracle baseline, candidate generation interchangeable with the
    // whole n2–n9 ANN ladder.
    onEmbeddings("knn1_knn_classify", Similarity.knnClassify(_),
      Similarity.knnClassifySql()),

    // E120: label-noise audit — knn1's leave-one-out twin over the
    // labeled set itself: audited vectors whose k-NN neighborhood
    // out-votes their own label are flagged (the mislabeled-example
    // detector run BEFORE labels drive selection/eval). Audit set
    // bounded by design; scoring swaps for any ANN tier.
    onEmbeddings("ln1_label_noise", Similarity.labelNoiseAudit(_),
      Similarity.labelNoiseAuditSql())
  )
}
