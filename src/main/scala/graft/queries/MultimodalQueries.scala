package graft.queries

import graft.QuerySpec
import graft.multimodal.Multimodal

/** Frame and media operators over the multimodal tables. */
object MultimodalQueries {

  /** A query whose build is `op` over the documents table. */
  private val onDocs = QuerySpec.onTable("documents") _

  val specs: Seq[QuerySpec] = Seq(

    // E111: frame-level dedup — repeated frames (static intros/padding)
    // hide inside distinct media objects; dedup at the sampled-frame
    // grain, d1's one-shuffle plan over the frame generator.
    onDocs("mm2_frame_dedup", Multimodal.frameDedup,
      Multimodal.frameDedupSql),

    // E181 (MM3): perceptual frame NEAR-dup — d5's SimHash shape at the
    // multimodal grain, closing the ladder mm2 starts: per-frame
    // perceptual signatures (nibble-threshold bits — the MediaCodec
    // seam's stand-in), band pigeonhole, XOR-popcount filter,
    // media-object pair report. Planted one-bit twins (byte 0 XOR 0x80).
    // 32-bit EXHIBIT width — opts in explicitly (the d5 convention);
    // the production default is mm3x's 60.
    onDocs("mm3_frame_neardup",
      Multimodal.frameNearDupPairs(_, bits = Multimodal.SigBits),
      Multimodal.frameNearDupSql(bits = Multimodal.SigBits)),

    // E182 (MM3X): the DEFAULT width — same banded pipeline at 60 bits
    // (top TWO bits per nibble over 30 of the 32 frame digits; 30-bit
    // half keys). The d5→d5x lesson applied at frame grain: 16-bit band
    // keys admit ~2n²/2^16 random candidates — the term d5's history
    // measured into a quadratic wall on a signature-concentrated
    // corpus; 30-bit halves push it to ~2n²/2^30 (BASELINE.md "mm3 vs
    // mm3x: the candidate-volume curve, measured" records both curves). frameNearDupPairs defaults to this width; the
    // 32-bit density-watch exhibit (mm3) is the explicit-arg variant.
    onDocs("mm3x_frame_neardup60", Multimodal.frameNearDupPairs(_),
      Multimodal.frameNearDupSql()),

    // E193 (MM4): a REAL image-format perceptual hash through the
    // FrameCodec seam — the public aHash (mean-threshold bitmap) over
    // nibble-grain grayscale frames, on a masked low-dynamic-range
    // corpus with planted BRIGHTNESS-jittered twins: aHash's shifted
    // mean catches them at hamming 0 where the raw top-bits codec
    // misses every one (the property that makes a perceptual hash
    // perceptual, executable). Same banded pair pipeline as mm3/mm3x
    // (frameNearDupPairsFromSigs — textually shared).
    onDocs("mm4_ahash_neardup", Multimodal.aHashNearDupPairs(_),
      Multimodal.aHashNearDupSql()),

    // E13: multimodal binary plumbing — synth payloads, partition-wise
    // decode stub, frame sampling. The stub's byte-stat features follow
    // the repo determinism convention, so the DuckDB oracle
    // (Multimodal.mediaSummarySql) hash-verifies the whole summary.
    onDocs("mm1_media_summary", Multimodal.mediaSummary,
      Multimodal.mediaSummarySql)
  )
}
