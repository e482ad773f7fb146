package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing for a training-data pipeline: media payloads
  * travel as opaque `binary` columns next to typed metadata, and
  * decode/feature-extract steps run per-partition so a real decoder (image
  * lib, ffmpeg binding) would amortize its init across a partition.
  *
  * The DECODE ITSELF IS A STUB — this container has no image/audio codecs —
  * implemented as a deterministic byte-statistics extractor, clearly marked
  * below. Everything around it is the real Spark shape you'd ship:
  *
  *  - schema: `payload binary` + `media_meta struct<format,width,height,
  *    n_frames>` columns;
  *  - partition-wise processing via `mapPartitions` over an explicit
  *    `Row` encoder (the Scala analogue of arrow-batched pandas UDFs:
  *    per-batch init, columnar in/out, no driver round-trip);
  *  - frame sampling = deterministic stride over the payload, emitting one
  *    row per sampled frame (a generator/explode shape);
  *  - all stages are narrow — media work never shuffles; only the final
  *    aggregate (if any) exchanges.
  *
  * At 100 TB the payloads dominate storage; the design keeps them in one
  * column that column pruning drops whenever a query touches only metadata.
  *
  * Determinism convention: the stub's features are byte statistics and the
  * repo-wide rolling hash (`(h*31+b) mod 1e9+7`), and frame fingerprints are
  * md5 over the frame's HEX form — every one exactly mirrorable in DuckDB
  * (whose `md5` is VARCHAR-only), so [[mediaSummary]] has a full hash oracle
  * ([[mediaSummarySql]]) instead of a rows-only check.
  */
object Multimodal {

  val FrameSize = 16 // stub "frame" = 16 payload bytes
  val HashMod = 1000000007L

  /** Synthesize a deterministic media corpus from `documents`: payload
    * bytes derived from the text (repeatable at any scale factor), metadata
    * derived from doc_id. Stands in for `spark.read.format("binaryFile")`. */
  def mediaCorpus(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      // payload: the md5 of the text repeated, truncated to a
      // doc-dependent length — an opaque, deterministic byte blob standing
      // in for real media
      to_binary(repeat(md5(col("text").cast("binary")), 8), lit("hex"))
        .substr(lit(1), (pmod(col("doc_id"), lit(97L)) + lit(32L)).cast("int"))
        .as("payload"),
      struct(
        when(pmod(col("doc_id"), lit(3)) === 0, "png")
          .when(pmod(col("doc_id"), lit(3)) === 1, "jpeg")
          .otherwise("wav").as("format"),
        (pmod(col("doc_id"), lit(4)) * 160 + 320).cast("int").as("width"),
        (pmod(col("doc_id"), lit(4)) * 120 + 240).cast("int").as("height"),
        (pmod(col("doc_id"), lit(5)) + 1).cast("int").as("n_frames"))
        .as("media_meta"))

  private val decodedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("byte_len", LongType),
    StructField("mean_byte", DoubleType),
    StructField("feature_hash", LongType)))

  /** Per-payload decoded features — the codec's output contract. */
  final case class MediaFeatures(byteLen: Long, meanByte: Double,
      featureHash: Long)

  /** The pluggable decoder boundary. A real implementation (image lib,
    * ffmpeg binding) allocates its native context inside
    * [[MediaCodec.openPartition]] — called once per partition on the
    * executor, because codec contexts are neither serializable nor cheap —
    * and decodes each payload in the returned function. Swapping codecs
    * touches nothing else: the query surface ([[decodeFeatures]],
    * [[mediaSummary]], the mm1 oracle) is codec-agnostic. */
  trait MediaCodec extends Serializable {
    /** Executor-side, once per partition: build the decode context and
      * return the per-payload feature extractor (format, payload) ⇒
      * features. Heavy state belongs in the returned closure, NOT in the
      * codec object (which is serialized to executors). */
    def openPartition(): (String, Array[Byte]) => MediaFeatures
  }

  /** STUB codec: no image/audio libraries exist in this environment, so
    * the deterministic stand-in extracts byte statistics (mean byte + the
    * repo-convention rolling hash). It exercises the full plumbing —
    * schema, per-partition init, batch shape — AND stays exactly
    * hash-verifiable against the DuckDB oracle, which is why it remains
    * the test/oracle implementation even after a real codec plugs in. */
  object ByteStatsCodec extends MediaCodec {
    def openPartition(): (String, Array[Byte]) => MediaFeatures =
      (_, bytes) => {
        var sum = 0L
        var h = 0L
        bytes.foreach { b =>
          val v = b & 0xff
          sum += v
          h = (h * 31 + v) % HashMod
        }
        MediaFeatures(bytes.length.toLong,
          sum.toDouble / math.max(bytes.length, 1), h)
      }
  }

  /** Partition-wise decode/feature-extract through the pluggable
    * [[MediaCodec]]: one `openPartition()` per partition (codec-context
    * amortization), then a narrow per-row map — media decode never
    * shuffles. Defaults to the deterministic [[ByteStatsCodec]] stub. */
  def decodeFeatures(media: DataFrame,
      codec: MediaCodec = ByteStatsCodec): DataFrame = {
    val enc = RowEncoder.encoderFor(decodedSchema)
    media.select(col("doc_id"), col("payload"), col("media_meta.format"))
      .mapPartitions { rows =>
        val decode = codec.openPartition() // once per partition
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val fmt = r.getString(2)
          val f = decode(fmt, bytes)
          Row(id, fmt, f.byteLen, f.meanByte, f.featureHash)
        }
      }(enc)
  }

  /** Frame sampling: every `stride`-th FrameSize-byte window of the payload
    * becomes a row `(doc_id, frame_no, frame_bytes)` — the explode shape a
    * video pipeline uses before per-frame featurization. Pure columnar
    * (sequence + transform + explode), no UDF. The fingerprint hashes the
    * frame's HEX form (not raw bytes) so the DuckDB oracle — whose `md5`
    * only accepts VARCHAR — computes the identical value. */
  def sampleFrames(media: DataFrame, stride: Int): DataFrame = {
    val nFrames = ((length(col("payload")) + lit(FrameSize - 1))
      .cast("long") / lit(FrameSize.toLong)).cast("long")
    // empty or NULL payloads yield zero frames EXPLICITLY: sequence(0, -1,
    // stride) is an illegal-range runtime error, and a null sequence
    // would silently drop the doc — real media corpora (the binaryFile
    // stand-in this models) routinely carry zero-byte/null blobs
    val frameIdx = when(nFrames.isNull || nFrames === 0,
        array().cast("array<bigint>"))
      .otherwise(sequence(lit(0L), nFrames - 1, lit(stride.toLong)))
    media.select(col("doc_id"),
      explode(transform(
        frameIdx,
        f => struct(f.as("frame_no"),
          col("payload").substr((f * FrameSize + 1).cast("int"),
            lit(FrameSize)).as("frame_bytes")))).as("fr"))
      .select(col("doc_id"), col("fr.frame_no").as("frame_no"),
        length(col("fr.frame_bytes")).cast("long").as("frame_len"),
        md5(hex(col("fr.frame_bytes")).cast("binary")).as("frame_md5"))
  }

  /** MM1 query: metadata + decoded features + frame counts, one row per
    * media object — exercises payload synthesis, partition-wise decode, and
    * metadata pruning in one plan. The synthesized corpus is persisted so
    * the three consumers (decode, frames, metadata) share ONE scan instead
    * of re-synthesizing the payload per branch — with real payloads the
    * recompute would be three full reads of the binary column. The result
    * is lazy, so the cache outlives this call: the driver harness clears
    * caches per query; other callers should clearCache/unpersist after
    * materializing. */
  def mediaSummary(docs: DataFrame): DataFrame = {
    val media = mediaCorpus(docs).persist()
    val decoded = decodeFeatures(media)
    val frames = sampleFrames(media, stride = 2)
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("sampled_frames"),
        countDistinct(col("frame_md5")).as("distinct_frames"))
    decoded.join(frames, Seq("doc_id"))
      .join(media.select(col("doc_id"),
        col("media_meta.width").cast("long").as("width"),
        col("media_meta.n_frames").cast("long").as("meta_frames")),
        Seq("doc_id"))
      .select(col("doc_id"), col("format"), col("byte_len"),
        col("mean_byte"), col("feature_hash"), col("width"),
        col("meta_frames"), col("sampled_frames"), col("distinct_frames"))
  }

  /** MM2 query (E111): FRAME-level dedup — the video-pipeline shape the
    * doc-level ladder can't see: repeated frames (static intros, logo
    * cards, padding) hide inside distinct media objects, so the dedup
    * grain is the sampled frame, not the document. Every frame
    * (stride 1) is fingerprinted ([[sampleFrames]]'s hex-md5 convention)
    * and grouped: fingerprints occurring more than once come back as the
    * drop list with provenance — copy count, distinct carrying docs, and
    * the lowest (doc, frame) keeper, packed as `doc·1024 + frame_no`
    * (frame counts are payload-bounded ≪ 1024) so the arg-min is one
    * engine-neutral integer MIN.
    *
    * Scale: the frame stream is a generator over the payload column (no
    * shuffle until the fingerprint groupBy — exactly d1's one-shuffle
    * dedup plan at frame grain); with real codecs the fingerprint would
    * be a perceptual hash from [[MediaCodec]], same plan. */
  def frameDedup(docs: DataFrame): DataFrame = {
    val frames = sampleFrames(mediaCorpus(docs), stride = 1)
    frames
      .groupBy(col("frame_md5"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id") * 1024L + col("frame_no")).as("keeper_key"))
      .filter(col("n_copies") >= 2)
      .select(col("frame_md5"), col("n_copies"), col("n_docs"),
        // long/long is TRUE division in the Column DSL — floor it back
        floor(col("keeper_key") / 1024L).cast("long").as("keeper_doc"),
        pmod(col("keeper_key"), lit(1024L)).as("keeper_frame"))
  }

  /** ONE definition of the payload-synthesis oracle base (the E13 stub
    * formula: repeat(md5(text), 8) hex stream truncated to
    * doc_id%97+32 bytes) — shared by [[mediaSummarySql]] and
    * [[frameDedupSql]] so the synthesized-corpus contract can never fork
    * between the two oracles. `ph` = the payload's hex form; `nf` = its
    * frame count at [[FrameSize]]. */
  private def payloadBaseCtesSql: String = s"""
    base AS (
      SELECT doc_id, repeat(md5(text), 8) AS h,
        (doc_id % 97 + 32)::BIGINT AS byte_len
      FROM documents),
    pbase AS (
      SELECT doc_id, byte_len, h,
        substr(h, 1, (2 * byte_len)::INT) AS ph,
        (byte_len + ${FrameSize - 1}) // $FrameSize AS nf
      FROM base)"""

  def frameDedupSql: String = s"""
    WITH $payloadBaseCtesSql,
    fr AS (
      SELECT doc_id, unnest(range(0, nf)) AS frame_no, ph FROM pbase),
    fp AS (
      SELECT doc_id, frame_no,
        md5(upper(substr(ph, (frame_no * ${2 * FrameSize} + 1)::INT,
          ${2 * FrameSize}))) AS frame_md5
      FROM fr)
    SELECT frame_md5, count(*)::BIGINT AS n_copies,
      count(DISTINCT doc_id)::BIGINT AS n_docs,
      (min(doc_id * 1024 + frame_no) // 1024)::BIGINT AS keeper_doc,
      (min(doc_id * 1024 + frame_no) % 1024)::BIGINT AS keeper_frame
    FROM fp GROUP BY 1
    HAVING count(*) >= 2"""

  // ---- MM3 (E181): perceptual frame NEAR-dup ------------------------------

  /** EXHIBIT per-frame signature width: one bit per hex digit of the
    * [[FrameSize]]-byte frame (2 per byte) — 32 bits. Kept as the
    * measured narrow-signature exhibit (the d5 role); the production
    * default is [[SigBitsWide]]. */
  val SigBits = 2 * FrameSize

  /** PRODUCTION per-frame signature width — the d5→d5x lesson applied at
    * frame grain: 32-bit signature spaces saturate on concentrated
    * corpora (d5's measured density wall), so the default folds the top
    * TWO bits of each nibble — a second, finer luminance threshold per
    * block in perceptual-hash terms — over the first [[SigNibblesWide]]
    * of the frame's 32 hex digits: 60 bits, the repo's standard wide
    * width (d5x), leaving int64 sign/overflow headroom. The trade is
    * explicit: the last 2 digits of each frame carry no bits (60 of the
    * 64 available), bought for 2¹⁴× sparser random band collisions
    * (30-bit vs 16-bit half keys). */
  val SigBitsWide = 60
  val SigNibblesWide: Int = SigBitsWide / 2

  /** Bands for the near-dup pigeonhole at the EXHIBIT width:
    * [[Mm3MaxHamming]] + 1 halves of [[SigBits]]/2 = 16 bits — hamming
    * ≤ 1 leaves at least one half exactly equal, and 16-bit keys keep
    * random band collisions at ~2·n²/2¹⁶ candidate pairs (the d5
    * band-width lesson: 8-bit bands would admit ~1.6 % of all cross
    * pairs as candidates; the [[SigBitsWide]] default's 30-bit halves
    * push the same term to ~2·n²/2³⁰). */
  val Mm3BandMod = 1L << (SigBits / 2)
  val Mm3MaxHamming = 1

  /** Twin id offset — the dedup-corpus convention (far above any fanned
    * doc id). */
  val MediaTwinOffset = 10000000L

  private val HexTable = "0123456789abcdef"

  /** Media objects as (doc_id, lowercase payload hex) — mm3 works at the
    * hex grain throughout (the mm2 oracle's `ph` form, now on BOTH
    * engines), so signature/twin arithmetic is identical by construction. */
  def mediaHex(media: DataFrame): DataFrame =
    media.select(col("doc_id"), lower(hex(col("payload"))).as("ph"))

  /** Corpus with planted perceptual NEAR-dup twins: every 10th media
    * object gets a copy whose FIRST hex digit has its top nibble bit
    * flipped (digit + 8 mod 16 ≡ byte XOR 0x80) — a one-bit signature
    * perturbation, the "re-encoded with one changed pixel block" stand-in
    * that exact frame dedup (mm2's md5 grain) cannot see. */
  def withNearDupMediaHex(media: DataFrame): DataFrame = {
    val v = conv(substring(col("ph"), 1, 1), 16, 10).cast("long")
    val flipped = lit(HexTable)
      .substr((pmod(v + 8, lit(16L)) + 1).cast("int"), lit(1))
    media.unionByName(media
      .filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + MediaTwinOffset).as("doc_id"),
        concat(flipped, col("ph").substr(lit(2), length(col("ph"))))
          .as("ph")))
  }

  /** Per-frame PERCEPTUAL signature: bit j of the 32-bit signature is
    * [hex digit j of the frame ≥ '8'] — i.e. the top bit of each nibble,
    * the byte-statistics stand-in for a real perceptual hash's
    * per-block luminance threshold (with a real codec this column comes
    * from [[MediaCodec]]; the plan is identical). Computed as one
    * MSB-first integer fold (acc·2 + bit — no shift builtins, same fold
    * both engines). Only FULL frames fingerprint (floor, not ceil — a
    * perceptual hash is defined on whole blocks): a sub-block tail stub
    * would zero-pad into a low-entropy signature and cluster every
    * short-tail media object into one degenerate near-dup blob
    * (measured before the guard: 151,807 pairs at sf0.1, almost all
    * tail-stub collisions, vs the meaningful relation after).
    *
    * The MSB-first fold acc·2 + bit over digits 1..32 IS the base-2
    * positional reading of the per-digit bit string, so it is computed
    * as ONE codegen expression — `translate` maps each hex digit to its
    * threshold bit ('0'..'7' → '0', '8'..'f' → '1'), `conv(_, 2, 10)`
    * reads the 32-char bit string as the integer. The previous
    * higher-order `aggregate(sequence(1, 32), conv(substr(..)))` form
    * evaluated 32 interpreted lambda steps per frame and was the
    * measured 2/3 of the whole mm3 wall (the banded self-join
    * recomputes BOTH sides — no exchange under a broadcast join — so
    * the fold is paid twice); value-identical by construction, pinned
    * by MultimodalSpec and the mm3 oracle hash. */
  def frameSignatures(media: DataFrame): DataFrame =
    frameHexes(media)
      .select(col("doc_id"), col("frame_no"),
        conv(translate(col("fh"),
          HexTable, "0000000011111111"), 2, 10)
          .cast("long").as("sig"))

  /** (doc_id, frame_no, fh): the FULL-frame hex stream both signature
    * widths fold over — floor framing (see [[frameSignatures]] for the
    * measured tail-stub guard). */
  private def frameHexes(media: DataFrame): DataFrame = {
    val nf = expr(s"CAST(length(ph) AS BIGINT) DIV ${2 * FrameSize}")
    // an all-tail payload (shorter than one frame) yields zero frames
    // EXPLICITLY — sequence(0, -1) is an illegal-range runtime error
    // (the sampleFrames lesson)
    val frameIdx = when(nf === 0, array().cast("array<bigint>"))
      .otherwise(sequence(lit(0L), nf - 1))
    media
      .select(col("doc_id"), col("ph"),
        explode(frameIdx).as("frame_no"))
      .select(col("doc_id"), col("frame_no"),
        col("ph").substr((col("frame_no") * (2 * FrameSize) + 1).cast("int"),
          lit(2 * FrameSize)).as("fh"))
  }

  /** WIDE per-frame perceptual signature — the [[SigBitsWide]] default:
    * each of the first [[SigNibblesWide]] hex digits contributes its top
    * TWO bits (nibble value DIV 4 ∈ 0..3), folded MSB-first as
    * acc·4 + pair — 60 bits from the same hex stream, same fold
    * discipline on both engines. The planted twin digit (+8 mod 16)
    * moves its nibble's top pair by exactly ±2 = one signature bit, so
    * twin structure (hamming 1 on frame 0, 0 on repeated-digest tails)
    * is width-invariant. Digits [[SigNibblesWide]]+1..32 carry no bits —
    * the documented 60-of-64 trade.
    *
    * Computed as ONE codegen expression (the [[frameSignatures]]
    * rationale): the MSB-first fold acc·4 + (nibble DIV 4) is the
    * base-4 positional reading of the digit string, so `translate`
    * maps each hex digit to its top-two-bits base-4 digit and
    * `conv(_, 4, 10)` reads the 30-char string — replacing 30
    * interpreted lambda steps (substr + conv per digit) per frame,
    * paid on both sides of the banded self-join. */
  def frameSignaturesWide(media: DataFrame): DataFrame =
    frameHexes(media)
      .select(col("doc_id"), col("frame_no"),
        conv(translate(col("fh").substr(lit(1), lit(SigNibblesWide)),
          HexTable, "0000111122223333"), 4, 10)
          .cast("long").as("sig"))

  /** MM3/MM3X query (E181/E182): perceptual frame NEAR-dup — the d5
    * SimHash shape at the multimodal grain, closing the ladder mm2
    * starts: mm2 drops bitwise-identical frames, this finds frames whose
    * signatures differ in ≤ [[Mm3MaxHamming]] bit (re-encodes, one-block
    * edits) via the band pigeonhole — each frame posts its two
    * `bits`/2-bit signature halves, candidates meet on an exact
    * (band, key) equi-join (never all-pairs), the cheap XOR popcount
    * filter runs before dedup, and the report aggregates to media-object
    * pairs. Planted twins guarantee findable positives at any scale
    * (hamming 1 on frame 0, hamming 0 on the repeated-digest tail frames
    * — both within the threshold).
    *
    * Scale shape: the signature pass is one narrow generator scan (the
    * mm2 frame stream with an integer fold instead of md5); the join is
    * d5's banded equi-join — candidate volume ≈ 2·n²/2^(bits/2) random
    * pairs plus the genuine near-dups; everything after runs at
    * candidate grain. Default width is the scale-safe [[SigBitsWide]]
    * (30-bit half keys); pass `bits = SigBits` for the measured 32-bit
    * density-watch exhibit (the d5/d5x twin-pair convention — BASELINE.md
    * "mm3 vs mm3x: the candidate-volume curve, measured" records both
    * widths' curves). */
  def frameNearDupPairs(docs: DataFrame,
      maxHamming: Int = Mm3MaxHamming,
      bits: Int = SigBitsWide): DataFrame =
    pairsFromBanded(bandedFrames(docs, bits), maxHamming)

  /** [[frameNearDupPairs]] over an EXISTING frame-signature relation
    * (doc_id, frame_no, sig) — the form that makes the pair pipeline
    * SIGNATURE-SOURCE-AGNOSTIC: the hex-fold defaults and the
    * [[FrameCodec]] mapPartitions seam feed the identical banded join
    * (MultimodalSpec pins the seam equivalence). */
  def frameNearDupPairsFromSigs(sigs: DataFrame,
      maxHamming: Int = Mm3MaxHamming,
      bits: Int = SigBitsWide): DataFrame =
    pairsFromBanded(bandSigs(sigs, bits), maxHamming)

  /** The candidate-join half shared by both entries above: banded
    * equi-join → popcount filter → pair dedup → media-object rollup.
    *
    * The banded signature relation PERSISTS across the self-join sides
    * (r16): the join broadcasts one side, so there is no exchange for
    * ReusedExchange to fire on and an unpersisted relation recomputes
    * the whole corpus scan + synthesis + signature fold + band explode
    * on BOTH sides. The conv(translate) rewrite made that recompute
    * cheap at bench scale, but at 100 TB the duplicated corpus scan is
    * the dominant cost — one InMemoryRelation feeding both sides is the
    * scale-correct shape. Frame×2-band grain (5 narrow columns), far
    * smaller than the corpus; released after the first action
    * ([[graft.operators.CacheRelease]] — no external clearCache
    * needed). */
  private def pairsFromBanded(banded0: DataFrame,
      maxHamming: Int): DataFrame = {
    val banded = banded0.persist()
    val pairs = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("x.frame_no").as("frame_a"),
        col("y.doc_id").as("doc_b"), col("y.frame_no").as("frame_b"),
        expr("bit_count(x.sig ^ y.sig)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_frame_pairs"),
        min(col("hamming")).as("min_hamming"))
    graft.operators.CacheRelease.afterFirstRun(pairs, banded)
  }

  /** The twinned corpus' banded frame signatures at either width — the
    * candidate-generation half of [[frameNearDupPairs]]; the candidate
    * volumes in BASELINE.md "mm3 vs mm3x: the candidate-volume curve,
    * measured" count exactly this relation's self-join. */
  private[graft] def bandedFrames(docs: DataFrame, bits: Int): DataFrame = {
    require(bits == SigBits || bits == SigBitsWide,
      s"mm3 signature width $bits: only the $SigBits-bit exhibit and " +
        s"the $SigBitsWide-bit default exist (a third width is a design " +
        "change, not a parameter)")
    val sigs =
      if (bits == SigBits)
        frameSignatures(withNearDupMediaHex(mediaHex(mediaCorpus(docs))))
      else
        frameSignaturesWide(withNearDupMediaHex(mediaHex(mediaCorpus(docs))))
    bandSigs(sigs, bits)
  }

  /** Frame-grain codec seam — [[MediaCodec]]'s contract one tier down
    * the ladder: a real perceptual hasher (pHash/videohash binding)
    * allocates its context once per partition and maps each frame's RAW
    * BYTES to a signature long. The scaladoc claim "with a real codec
    * this column comes from the same seam, plan unchanged" is executable
    * through [[frameSignaturesVia]] + [[frameNearDupPairsFromSigs]]:
    * MultimodalSpec pins that [[TopBitsFrameCodec]] (the byte-domain
    * twin of [[frameSignaturesWide]]'s hex fold) reproduces the default
    * signatures BIT-FOR-BIT through this seam, and that an alternative
    * codec changes only signature values — never the downstream join/
    * aggregate plan. */
  trait FrameCodec extends Serializable {
    /** Width in bits of the signatures this codec emits. The banding
      * arithmetic downstream must derive from THIS, never from an
      * independent caller-supplied width — a codec emitting 60-bit
      * signatures banded with 32-bit arithmetic silently produces
      * over-wide keys and misses every half-match. */
    def bits: Int
    /** Executor-side, once per partition: build the codec context and
      * return the per-frame signature function. Frames arrive as exactly
      * [[FrameSize]] raw bytes (full frames only — the floor-framing
      * guard runs before the seam). */
    def openPartition(): Array[Byte] => Long
  }

  /** The default codec: [[frameSignaturesWide]]'s fold in the BYTE
    * domain — the top two bits of each of the first [[SigNibblesWide]]
    * nibbles, MSB-first. Exists to make the seam contract testable
    * (codec path ≡ Catalyst fold, bit-for-bit), and as the template a
    * real perceptual hasher replaces. */
  object TopBitsFrameCodec extends FrameCodec {
    def bits: Int = SigBitsWide
    def openPartition(): Array[Byte] => Long = bytes => {
      var acc = 0L
      var i = 0
      while (i < SigNibblesWide) {
        val b = bytes(i / 2) & 0xff
        val nib = if (i % 2 == 0) b >>> 4 else b & 0xf
        acc = acc * 4 + (nib >>> 2)
        i += 1
      }
      acc
    }
  }

  /** MM4 codec: a REAL image-format perceptual hash through the seam —
    * the public AVERAGE-HASH (aHash) algorithm, the first rung of the
    * pHash family (mean-threshold bitmap: downscale, gray, compare each
    * block to the image mean). The [[FrameSize]]-byte frame is read as a
    * raw grayscale image at NIBBLE grain — 32 pixels of 4-bit depth, the
    * 16-byte analogue of aHash's canonical 8×8/64-bit shape — and bit j
    * is `pixel_j · 32 > Σpixels` (strictly-greater integer compare: no
    * division, no float, bitwise cross-engine), folded MSB-first.
    *
    * The property that makes aHash a PERCEPTUAL hash is executable here:
    * a uniform brightness shift adds the same constant c to every pixel,
    * so `(p+c)·32 > Σ+32c ⟺ p·32 > Σ` — the signature is EXACTLY
    * invariant (absent saturation), while [[TopBitsFrameCodec]] reads
    * raw high bits and sees every pixel change. [[aHashNearDupPairs]]
    * plants exactly such twins: aHash catches them at hamming 0, the
    * top-bits codec misses them entirely (spec-pinned both ways). */
  object AHashFrameCodec extends FrameCodec {
    /** 32 nibble-pixels ⇒ 32-bit bitmap — [[SigBits]], so the banding
      * arithmetic downstream is the measured 16-bit-half exhibit width. */
    def bits: Int = SigBits
    def openPartition(): Array[Byte] => Long = bytes => {
      var sum = 0L
      var i = 0
      while (i < FrameSize) {
        val b = bytes(i) & 0xff
        sum += (b >>> 4) + (b & 0xf)
        i += 1
      }
      var acc = 0L
      i = 0
      while (i < 2 * FrameSize) {
        val b = bytes(i / 2) & 0xff
        val px = if (i % 2 == 0) b >>> 4 else b & 0xf
        acc = acc * 2 + (if (px * (2L * FrameSize) > sum) 1L else 0L)
        i += 1
      }
      acc
    }
  }

  private val sigSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("frame_no", LongType),
    StructField("sig", LongType)))

  /** Per-frame signatures through the [[FrameCodec]] mapPartitions seam
    * (the [[decodeFeatures]] shape at frame grain): the same full-frame
    * stream as the hex folds, decoded to raw bytes, one codec context
    * per partition, narrow end to end — media signature work never
    * shuffles regardless of the codec behind the seam. */
  def frameSignaturesVia(media: DataFrame, codec: FrameCodec): DataFrame = {
    val enc = RowEncoder.encoderFor(sigSchema)
    frameHexes(media)
      .select(col("doc_id"), col("frame_no"), unhex(col("fh")).as("fb"))
      .mapPartitions { rows =>
        val sig = codec.openPartition() // once per partition
        rows.map { r =>
          Row(r.getLong(0), r.getLong(1), sig(r.getAs[Array[Byte]](2)))
        }
      }(enc)
  }

  /** Band an existing frame-signature relation (doc_id, frame_no, sig)
    * into the two-half pigeonhole — the one band arithmetic behind
    * [[bandedFrames]] and [[frameNearDupPairsFromSigs]]. */
  def bandSigs(sigs: DataFrame, bits: Int = SigBitsWide): DataFrame = {
    val bandMod = 1L << (bits / 2)
    sigs.select(col("doc_id"), col("frame_no"), col("sig"),
      explode(array(
        struct(lit(0L).as("band"),
          expr(s"sig DIV $bandMod").as("key")),
        struct(lit(1L).as("band"),
          pmod(col("sig"), lit(bandMod)).as("key")))).as("bk"))
      .select(col("doc_id"), col("frame_no"), col("sig"),
        col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** The DuckDB mirror of the per-frame signature fold at either width
    * (`ph`/`frame_no` in scope). */
  private def sigFoldSql(bits: Int): String = {
    require(bits == SigBits || bits == SigBitsWide,
      s"mm3 signature width $bits: only $SigBits and $SigBitsWide exist")
    if (bits == SigBits) s"""
        list_reduce(list_prepend(0::BIGINT, list_transform(
          range(1, ${SigBits + 1}),
          j -> CASE WHEN substr(ph,
              (frame_no * ${2 * FrameSize} + j)::INT, 1) >= '8'
            THEN 1::BIGINT ELSE 0::BIGINT END)),
          (acc, b) -> acc * 2 + b)"""
    else s"""
        list_reduce(list_prepend(0::BIGINT, list_transform(
          range(1, ${SigNibblesWide + 1}),
          j -> ((strpos('$HexTable', substr(ph,
              (frame_no * ${2 * FrameSize} + j)::INT, 1)) - 1)
            // 4)::BIGINT)),
          (acc, b) -> acc * 4 + b)"""
  }

  /** MM3 oracle: the identical hex-grain pipeline in DuckDB (the
    * [[payloadBaseCtesSql]] synthesis, the same +8-mod-16 twin digit, the
    * same MSB-first signature fold at either width, bands, popcount). */
  def frameNearDupSql(maxHamming: Int = Mm3MaxHamming,
      bits: Int = SigBitsWide): String = s"""
    WITH $payloadBaseCtesSql,
    m0 AS (SELECT doc_id, ph FROM pbase),
    media AS (
      SELECT doc_id, ph FROM m0
      UNION ALL
      SELECT doc_id + $MediaTwinOffset AS doc_id,
        substr('$HexTable',
          (((strpos('$HexTable', substr(ph, 1, 1)) - 1 + 8) % 16) + 1)::INT,
          1) || substr(ph, 2) AS ph
      FROM m0 WHERE doc_id % 10 = 0),
    fr AS (
      SELECT doc_id,
        unnest(range(0, len(ph) // ${2 * FrameSize})) AS frame_no, ph
      FROM media),
    sg AS (
      SELECT doc_id, frame_no::BIGINT AS frame_no,
        ${sigFoldSql(bits)} AS sig
      FROM fr),
    banded AS (
      SELECT doc_id, frame_no, sig, 0::BIGINT AS band,
        sig // ${1L << (bits / 2)} AS key FROM sg
      UNION ALL
      SELECT doc_id, frame_no, sig, 1::BIGINT AS band,
        sig % ${1L << (bits / 2)} AS key FROM sg)
    SELECT doc_a, doc_b, count(*)::BIGINT AS n_frame_pairs,
      min(hamming) AS min_hamming
    FROM (
      SELECT DISTINCT x.doc_id AS doc_a, x.frame_no AS frame_a,
        y.doc_id AS doc_b, y.frame_no AS frame_b,
        bit_count(xor(x.sig, y.sig))::BIGINT AS hamming
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
      WHERE bit_count(xor(x.sig, y.sig)) <= $maxHamming) cand
    GROUP BY 1, 2"""

  // ---- MM4 (E193): aHash perceptual near-dup through the codec seam ------

  /** The aHash tier's media stream: every payload masked to LOW DYNAMIC
    * RANGE (each nibble-pixel `& 7`, one `translate` over the hex form) —
    * the deterministic stand-in for under-exposed frames, guaranteeing
    * the [[withBrightnessTwinsHex]] +4-per-nibble brightness shift
    * saturates nowhere (real aHash is shift-invariant only absent
    * saturation; the fixture keeps the property EXACT so the twin catch
    * is hash-verifiable, not probabilistic). */
  def maskedMediaHex(media: DataFrame): DataFrame =
    media.select(col("doc_id"),
      translate(col("ph"), "89abcdef", "01234567").as("ph"))

  /** Corpus with planted BRIGHTNESS-JITTERED twins: every 10th media
    * object gets a copy with +4 on every nibble-pixel (byte +0x44 — a
    * uniform brightness lift, digit-wise `translate` on the masked hex).
    * The perceptual-hash discriminator: [[AHashFrameCodec]]'s mean
    * threshold shifts with the pixels, so twin signatures are IDENTICAL
    * (hamming 0); [[TopBitsFrameCodec]] reads each nibble's raw top two
    * bits, which +4 moves on EVERY nibble — frame hamming 30 of 60, not
    * even a band candidate. The mm3 twin (one flipped digit) is the
    * opposite exhibit: visible to both codecs. */
  def withBrightnessTwinsHex(media: DataFrame): DataFrame =
    media.unionByName(media
      .filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + MediaTwinOffset).as("doc_id"),
        translate(col("ph"), "01234567", "456789ab").as("ph")))

  /** MM4 query (E193): perceptual near-dup with a REAL image-format
    * hash — the first rung of the pHash family — through the
    * [[FrameCodec]] seam: the masked corpus plus brightness twins,
    * signatures via [[AHashFrameCodec]] (mapPartitions, narrow), then
    * the IDENTICAL banded pair pipeline as mm3/mm3x
    * ([[frameNearDupPairsFromSigs]] — textually shared, so the plan
    * skeleton cannot fork). Twins are caught at hamming 0 by
    * construction; the spec pins that the top-bits codec on the same
    * corpus misses every one. */
  def aHashNearDupPairs(docs: DataFrame,
      maxHamming: Int = Mm3MaxHamming): DataFrame =
    frameNearDupPairsFromSigs(
      frameSignaturesVia(
        withBrightnessTwinsHex(maskedMediaHex(mediaHex(mediaCorpus(docs)))),
        AHashFrameCodec),
      maxHamming, AHashFrameCodec.bits)

  /** MM4 oracle: the identical pipeline in DuckDB — mask and jitter as
    * digit `translate`s, the aHash fold as an exact integer
    * pixel·32 > Σpixels bitmap (two list stages: pixels, then sum, then
    * the MSB-first fold), and the mm3 band/popcount/rollup tail at the
    * [[SigBits]] width. */
  def aHashNearDupSql(maxHamming: Int = Mm3MaxHamming): String = s"""
    WITH $payloadBaseCtesSql,
    m0 AS (
      SELECT doc_id, translate(ph, '89abcdef', '01234567') AS ph
      FROM pbase),
    media AS (
      SELECT doc_id, ph FROM m0
      UNION ALL
      SELECT doc_id + $MediaTwinOffset AS doc_id,
        translate(ph, '01234567', '456789ab') AS ph
      FROM m0 WHERE doc_id % 10 = 0),
    fr AS (
      SELECT doc_id,
        unnest(range(0, len(ph) // ${2 * FrameSize})) AS frame_no, ph
      FROM media),
    px AS (
      SELECT doc_id, frame_no::BIGINT AS frame_no,
        list_transform(range(1, ${2 * FrameSize + 1}),
          j -> (strpos('$HexTable', substr(ph,
            (frame_no * ${2 * FrameSize} + j)::INT, 1)) - 1)::BIGINT) AS p
      FROM fr),
    sm AS (
      SELECT doc_id, frame_no, p,
        list_reduce(list_prepend(0::BIGINT, p), (a, x) -> a + x) AS s
      FROM px),
    sg AS (
      SELECT doc_id, frame_no,
        list_reduce(list_prepend(0::BIGINT,
          list_transform(p, v -> CASE WHEN v * ${2 * FrameSize} > s
            THEN 1::BIGINT ELSE 0::BIGINT END)),
          (acc, b) -> acc * 2 + b) AS sig
      FROM sm),
    banded AS (
      SELECT doc_id, frame_no, sig, 0::BIGINT AS band,
        sig // $Mm3BandMod AS key FROM sg
      UNION ALL
      SELECT doc_id, frame_no, sig, 1::BIGINT AS band,
        sig % $Mm3BandMod AS key FROM sg)
    SELECT doc_a, doc_b, count(*)::BIGINT AS n_frame_pairs,
      min(hamming) AS min_hamming
    FROM (
      SELECT DISTINCT x.doc_id AS doc_a, x.frame_no AS frame_a,
        y.doc_id AS doc_b, y.frame_no AS frame_b,
        bit_count(xor(x.sig, y.sig))::BIGINT AS hamming
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
      WHERE bit_count(xor(x.sig, y.sig)) <= $maxHamming) cand
    GROUP BY 1, 2"""

  /** DuckDB twin of [[mediaSummary]]: payload synthesis (md5/repeat/
    * truncate), byte statistics, rolling hash, and frame fingerprints all
    * recomputed from the md5 HEX string — bytes are recovered by folding
    * hex-digit pairs, frames are md5s of UPPER hex slices (≙ Spark
    * `md5(hex(frame_bytes))`, since `hex` upper-cases in both engines). */
  def mediaSummarySql: String = s"""
    WITH $payloadBaseCtesSql,
    b2 AS (
      SELECT doc_id, byte_len, ph,
        list_transform(range(1, (byte_len + 1)::INT),
          i -> (strpos('0123456789abcdef', substr(h, (2*i-1)::INT, 1)) - 1) * 16
             + strpos('0123456789abcdef', substr(h, (2*i)::INT, 1)) - 1) AS bytes,
        nf
      FROM pbase),
    b3 AS (
      SELECT doc_id, byte_len, bytes, nf,
        list_transform(range(0, nf, 2),
          f -> md5(upper(substr(ph, (f * ${2 * FrameSize} + 1)::INT,
            ${2 * FrameSize})))) AS frames
      FROM b2)
    SELECT doc_id,
      CASE WHEN doc_id % 3 = 0 THEN 'png'
           WHEN doc_id % 3 = 1 THEN 'jpeg'
           ELSE 'wav' END AS format,
      byte_len,
      list_reduce(list_prepend(0::BIGINT, bytes),
        (a, x) -> a + x)::DOUBLE / byte_len AS mean_byte,
      list_reduce(list_prepend(0::BIGINT, bytes),
        (a, x) -> (a * 31 + x) % $HashMod) AS feature_hash,
      ((doc_id % 4) * 160 + 320)::BIGINT AS width,
      (doc_id % 5 + 1)::BIGINT AS meta_frames,
      len(frames)::BIGINT AS sampled_frames,
      len(list_distinct(frames))::BIGINT AS distinct_frames
    FROM b3"""
}
