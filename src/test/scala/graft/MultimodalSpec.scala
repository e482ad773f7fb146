package graft

import graft.io.Sources
import graft.multimodal.Multimodal

/** Multimodal plumbing: binary payload column, partition-wise decode stub,
  * frame sampling — schema and batch shape are the real contract. */
class MultimodalSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  private lazy val docs = Sources.table(spark, sf0001, "documents")
  private lazy val media = Multimodal.mediaCorpus(docs).cache()

  // the session is SHARED across all suites: the cached binary corpus
  // must not squat on block-store memory for the rest of the run
  override def afterAll(): Unit = {
    media.unpersist()
    super.afterAll()
  }

  test("media corpus carries binary payload + typed metadata struct") {
    val schema = media.schema
    assert(schema("payload").dataType.typeName === "binary")
    assert(schema("media_meta").dataType.typeName === "struct")
    val r = media.filter(org.apache.spark.sql.functions.col("doc_id") === 5)
      .select("media_meta.format", "media_meta.width").head()
    assert(Set("png", "jpeg", "wav").contains(r.getString(0)))
    assert(r.getInt(1) >= 320)
  }

  test("decode stub is deterministic and partition-amortized") {
    val a = Multimodal.decodeFeatures(media).collect()
      .map(r => (r.getLong(0), r.getLong(4))).sortBy(_._1)
    val b = Multimodal.decodeFeatures(media.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(4))).sortBy(_._1)
    assert(a.toSeq === b.toSeq, "features must not depend on partitioning")
    assert(a.length === docs.count())
  }

  test("a custom codec plugs in without touching the query surface") {
    // a stand-in "real" decoder: constant-dimension features derived only
    // from the format string — if decodeFeatures picks these up verbatim,
    // any real codec wired the same way will too
    object FormatCodec extends Multimodal.MediaCodec {
      def openPartition(): (String, Array[Byte]) => Multimodal.MediaFeatures =
        (fmt, bytes) => Multimodal.MediaFeatures(
          bytes.length.toLong, fmt.length.toDouble, 42L)
    }
    val rows = Multimodal.decodeFeatures(media, FormatCodec).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(4) === 42L))
    assert(rows.forall(r => r.getDouble(3) === r.getString(1).length.toDouble))
    // and the default path (the oracle-verified stub) is unchanged
    val stub = Multimodal.decodeFeatures(media).head()
    assert(stub.getLong(4) !== 42L)
  }

  test("frame sampling strides deterministically over the payload") {
    val frames = Multimodal.sampleFrames(media, stride = 2)
    val perDoc = frames.groupBy("doc_id").count().collect()
    assert(perDoc.nonEmpty)
    // stride 2 over n frames yields ceil(n/2) samples; frame bytes bounded
    val r = frames.head()
    assert(r.getAs[Long]("frame_len") <= Multimodal.FrameSize)
    // frame_no values follow the stride
    val nos = frames.filter("doc_id = 3").collect()
      .map(_.getAs[Long]("frame_no")).sorted
    assert(nos.zipWithIndex.forall { case (n, i) => n == 2L * i })
  }

  test("mm2: frame dedup finds the synthesized payloads' repeated frames") {
    import org.apache.spark.sql.functions.col
    val out = Multimodal.frameDedup(docs).collect()
    assert(out.nonEmpty, "the repeat(md5) payloads guarantee intra-doc dups")
    // verify one group exhaustively against the raw frame stream
    val frames = Multimodal.sampleFrames(media, stride = 1)
      .collect().map(r => (r.getAs[String]("frame_md5"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("frame_no")))
    val byFp = frames.groupBy(_._1)
    out.foreach { r =>
      val g = byFp(r.getAs[String]("frame_md5"))
      assert(r.getAs[Long]("n_copies") === g.length.toLong)
      assert(r.getAs[Long]("n_docs") === g.map(_._2).distinct.length.toLong)
      val (_, kd, kf) = g.minBy(x => x._2 * 1024 + x._3)
      assert(r.getAs[Long]("keeper_doc") === kd)
      assert(r.getAs[Long]("keeper_frame") === kf)
    }
    // completeness: every fingerprint with >= 2 occurrences is reported
    val expected = byFp.count(_._2.length >= 2)
    assert(out.length === expected)
    // singletons never appear
    assert(out.forall(_.getAs[Long]("n_copies") >= 2L))
  }

  test("mediaSummary joins decode + frames + pruned metadata") {
    val out = Multimodal.mediaSummary(docs)
    assert(out.count() === docs.count())
    val cols = out.columns.toSet
    assert(Set("doc_id", "format", "byte_len", "mean_byte", "width",
      "sampled_frames", "distinct_frames").subsetOf(cols))
  }

  test("mm3: signature bit j is [hex digit j >= '8'], MSB-first; only full frames fingerprint") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    def ofHex(rows: (Long, String)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("ph", StringType))))
    // hand-computed: digits '9','f','0','7' → bits 1,1,0,0, then 28
    // zeros: sig = binary 1100…0 = 3 · 2^30
    val one = ofHex((1L, "9f07" + "0" * 28))
    val sig = Multimodal.frameSignatures(one).head()
    assert(sig.getLong(1) === 0L)
    assert(sig.getLong(2) === 3L * (1L << 30))
    // 33 digits = one FULL frame + a 1-digit tail: the stub must NOT
    // fingerprint (a zero-padded tail signature would cluster every
    // short-tail object into one degenerate near-dup blob), and an
    // all-tail payload yields zero frames, not an error
    val sigs = Multimodal.frameSignatures(
      ofHex((2L, "0" * Multimodal.SigBits + "f"), (3L, "ff")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sigs.toSeq === Seq((2L, 0L, 0L)))
  }

  test("mm3/mm3x: the planted one-bit twin lands hamming 1 on frame 0, and every twin pair is found at BOTH widths") {
    import org.apache.spark.sql.functions._
    // the twin digit is +8 mod 16 = the nibble top bit: signature
    // hamming vs the original's frame 0 is EXACTLY 1 at either width
    // (the top-2-bit pair moves by ±2 = one bit); repeated-digest
    // tail frames match at hamming 0 — both inside the threshold, so
    // the banded join must report every planted pair
    val planted = docs.select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(10)) === 0)
      .collect().map(_.getLong(0))
    assert(planted.nonEmpty)
    Seq(Multimodal.SigBits, Multimodal.SigBitsWide).foreach { bits =>
      val out = Multimodal.frameNearDupPairs(docs, bits = bits).cache()
      try {
        val pairs = out.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(3))).toSet // a, b, minham
        planted.foreach { d =>
          val hit = pairs.find(p => p._1 === d &&
            p._2 === d + Multimodal.MediaTwinOffset)
          assert(hit.nonEmpty, s"twin pair ($d) missing at $bits bits")
          // tail frames of the md5-repeated payload tie at hamming 0
          assert(hit.get._3 === 0L, s"twin pair ($d) min hamming at $bits")
        }
        // and the pigeonhole premise holds on every reported pair
        assert(out.agg(max(col("min_hamming"))).head().getLong(0)
          <= Multimodal.Mm3MaxHamming)
        ()
      } finally { out.unpersist(); () }
    }
  }

  test("mm3x: wide signature folds the top TWO bits of each of the first 30 nibbles; digits 31-32 carry none") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    def ofHex(rows: (Long, String)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("ph", StringType))))
    // hand-computed: digits '9','f','0','7' → top-2-bit pairs 2,3,0,1,
    // then 26 zero digits; MSB-first base-4 fold
    val expected = Seq(2L, 3L, 0L, 1L).padTo(30, 0L)
      .foldLeft(0L)((a, b) => a * 4 + b)
    val one = ofHex((1L, "9f07" + "0" * 28))
    val sig = Multimodal.frameSignaturesWide(one).head()
    assert(sig.getLong(1) === 0L)
    assert(sig.getLong(2) === expected)
    // the documented 60-of-64 trade: two frames differing ONLY in
    // digits 31-32 share the wide signature (the 32-bit fold still
    // separates them on digit 31's top bit)
    val tailDiff = ofHex((2L, "0" * 32), (3L, "0" * 30 + "ff"))
    val wide = Multimodal.frameSignaturesWide(tailDiff)
      .collect().map(_.getLong(2)).distinct
    assert(wide.length === 1, "digits 31-32 must not reach the wide fold")
    val narrow = Multimodal.frameSignatures(tailDiff)
      .collect().map(_.getLong(2)).distinct
    assert(narrow.length === 2)
    // full-frame-only guard is shared with the 32-bit path: a 1-digit
    // tail never fingerprints, an all-tail payload yields zero frames
    val sigs = Multimodal.frameSignaturesWide(
      ofHex((4L, "0" * 32 + "f"), (5L, "ff")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sigs.toSeq === Seq((4L, 0L, 0L)))
  }

  // a deterministic NON-hex alternative codec: the BOTTOM two bits of
  // each nibble — a genuinely different signature space. The planted
  // twin digit (+8 mod 16) moves only the nibble's TOP bit, so twins
  // tie at hamming 0 under this codec and must still be caught.
  private object LowBitsFrameCodec extends Multimodal.FrameCodec {
    def bits: Int = Multimodal.SigBitsWide
    def openPartition(): Array[Byte] => Long = bytes => {
      var acc = 0L
      var i = 0
      while (i < Multimodal.SigNibblesWide) {
        val b = bytes(i / 2) & 0xff
        val nib = if (i % 2 == 0) b >>> 4 else b & 0xf
        acc = acc * 4 + (nib & 3)
        i += 1
      }
      acc
    }
  }

  test("frame-codec seam: the default codec reproduces the hex fold bit-for-bit; pairs are source-invariant") {
    // the executable form of "with a real codec this column comes from
    // the same seam, plan unchanged": TopBitsFrameCodec computes the
    // SAME signature from raw frame bytes through the mapPartitions
    // seam that frameSignaturesWide folds from hex — every (doc, frame,
    // sig) row identical across the whole twinned corpus...
    val hexed = Multimodal.withNearDupMediaHex(Multimodal.mediaHex(media))
    def sigRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val viaFold = sigRows(Multimodal.frameSignaturesWide(hexed))
    assert(viaFold ===
      sigRows(Multimodal.frameSignaturesVia(hexed, Multimodal.TopBitsFrameCodec)))
    // ...and therefore the pair report through the codec path equals
    // the shipping mm3x query output exactly
    def pairRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(pairRows(Multimodal.frameNearDupPairsFromSigs(
        Multimodal.frameSignaturesVia(hexed, Multimodal.TopBitsFrameCodec)))
      === pairRows(Multimodal.frameNearDupPairs(docs)))
  }

  test("frame-codec seam: an alternative codec changes values, not the plan; twins still caught") {
    import org.apache.spark.sql.functions._
    val hexed = Multimodal.withNearDupMediaHex(Multimodal.mediaHex(media))
    val alt = Multimodal.frameNearDupPairsFromSigs(
      Multimodal.frameSignaturesVia(hexed, LowBitsFrameCodec))
    val ship = Multimodal.frameNearDupPairs(docs)
    // the downstream plan is codec-invariant: the join/aggregate
    // skeleton (everything after the signature source) is identical —
    // the source-side pushed FILTERS legitimately differ (a codegen fold
    // pushes null guards a mapPartitions source cannot), which is why
    // the pin compares structure, then asserts the popcount filter and
    // join discipline explicitly on the codec plan
    def skeleton(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case n if Seq("Join", "Aggregate", "Deduplicate")
          .exists(n.nodeName.startsWith) => n.nodeName
      }
    assert(skeleton(alt) === skeleton(ship))
    val plan = alt.queryExecution.executedPlan.toString
    assert(plan.contains("bit_count"),
      "the hamming popcount filter must survive the codec path")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    // values differ (a different signature space) but the planted twins
    // tie at hamming 0 under the low-bit codec — every pair still found
    val pairs = alt.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val planted = docs.select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(10)) === 0)
      .collect().map(_.getLong(0))
    assert(planted.nonEmpty)
    planted.foreach { d =>
      assert(pairs.contains((d, d + Multimodal.MediaTwinOffset, 0L)),
        s"twin pair ($d) missing under the alternative codec")
    }
  }

  test("mm4: aHash catches brightness twins the top-bits codec misses; plan skeleton unchanged") {
    import org.apache.spark.sql.functions._
    val jittered = Multimodal.withBrightnessTwinsHex(
      Multimodal.maskedMediaHex(Multimodal.mediaHex(media)))
    // the perceptual property at SIGNATURE grain: a uniform brightness
    // shift moves the mean with the pixels, so every twin frame's aHash
    // is bit-identical to its original's (exact, not approximate — the
    // masked corpus guarantees no saturation)
    val sigs = Multimodal.frameSignaturesVia(jittered,
      Multimodal.AHashFrameCodec)
    val orig = sigs.filter(col("doc_id") < Multimodal.MediaTwinOffset &&
      pmod(col("doc_id"), lit(10)) === 0)
    val twin = sigs.filter(col("doc_id") >= Multimodal.MediaTwinOffset)
      .select((col("doc_id") - Multimodal.MediaTwinOffset).as("doc_id"),
        col("frame_no"), col("sig").as("tsig"))
    val matched = orig.join(twin, Seq("doc_id", "frame_no")).cache()
    try {
      assert(matched.count() > 0)
      assert(matched.filter(col("sig") =!= col("tsig")).count() === 0L,
        "aHash must be exactly invariant under the brightness shift")
    } finally { matched.unpersist(); () }
    // ...and at PAIR grain: the shipping mm4 query reports every planted
    // twin at hamming 0
    val planted = docs.select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(10)) === 0)
      .collect().map(_.getLong(0))
    assert(planted.nonEmpty)
    val mm4 = Multimodal.aHashNearDupPairs(docs)
    val pairs = mm4.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    planted.foreach { d =>
      assert(pairs.contains((d, d + Multimodal.MediaTwinOffset, 0L)),
        s"brightness twin ($d) missing under aHash")
    }
    // the counter-exhibit: the top-bits codec reads raw high bits, which
    // the +4-per-nibble shift moves on EVERY nibble (frame hamming 30 —
    // not even a band candidate): on the SAME corpus it misses every twin
    val topPairs = Multimodal.frameNearDupPairsFromSigs(
        Multimodal.frameSignaturesVia(jittered, Multimodal.TopBitsFrameCodec))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    planted.foreach { d =>
      assert(!topPairs.contains((d, d + Multimodal.MediaTwinOffset)),
        s"top-bits codec should not see brightness twin ($d)")
    }
    // the pair pipeline is textually shared with mm3x — pin the
    // join/aggregate skeleton anyway (the E189 discipline), plus the
    // popcount filter and join type on the executed plan
    def skeleton(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case n if Seq("Join", "Aggregate", "Deduplicate")
          .exists(n.nodeName.startsWith) => n.nodeName
      }
    assert(skeleton(mm4) === skeleton(Multimodal.frameNearDupPairs(docs)))
    val plan = mm4.queryExecution.executedPlan.toString
    assert(plan.contains("bit_count"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }
}
