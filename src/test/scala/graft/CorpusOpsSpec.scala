package graft

import org.apache.spark.sql.functions._

import graft.io.Sources
import graft.text.TextAnalysis

/** Behavior specs for the round-7 corpus operators (the driver oracle
  * verifies their values; these pin the PROPERTIES each op exists for):
  * c2 flags planted eval twins, mix2 rebalances toward small sources, t10
  * ranks deterministically under ties. */
class CorpusOpsSpec extends SparkSpec {

  private def docs = Sources.table(spark, sf0001, "documents")

  test("c2: planted twins of eval docs are flagged; raw corpus is clean") {
    val planted = TextAnalysis.ngramContamination(
      TextAnalysis.withSourcedTwins(docs)).cache()
    try {
      val contaminated = planted.agg(sum("n_contaminated")).head.getLong(0)
      // every eval doc (doc_id % 97 == 0) has a planted twin sharing all
      // interior 5-grams — each MUST be flagged (twins whose own id is
      // eval flag their originals instead; either way ≥ the eval count)
      val nEval = docs.filter(pmod(col("doc_id"), lit(97)) === 0).count()
      assert(nEval > 0, "fixture: eval set must be non-empty")
      assert(contaminated >= nEval,
        s"planted twins not flagged: $contaminated < $nEval")
      // the UNplanted corpus has no duplicates by construction, but the
      // narrow-vocabulary word soup does yield a few ACCIDENTAL 5-gram
      // collisions (measured: 2 of 500 docs) — the planting must strictly
      // dominate that background rate, or the op isn't detecting twins
      val raw = TextAnalysis.ngramContamination(docs)
        .agg(sum("n_contaminated")).head.getLong(0)
      assert(raw < nEval && raw < contaminated,
        s"background collisions ($raw) should stay below planted signal")
    } finally planted.unpersist()
  }

  test("c2 production form: external eval shingle table, same semantics") {
    // the driver query's in-corpus eval derivation must equal the
    // production overload fed the same shingles explicitly
    import graft.functions.TextFunctions._
    val planted = TextAnalysis.withSourcedTwins(docs)
    val isEval = pmod(col("doc_id"), lit(97)) === 0
    val evalSh = planted.filter(isEval)
      .select(explode(array_distinct(
        shingles(tokens(norm(col("text"))), 5))).as("sh"))
      .distinct()
    val viaTable = TextAnalysis.ngramContaminationAgainst(
      planted.filter(!isEval), evalSh).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val viaDerived = TextAnalysis.ngramContamination(planted).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(viaTable === viaDerived)
  }

  test("fvec_quant8 properties: bounds, scale-invariance, max saturation") {
    import org.apache.spark.sql.graft.VectorExpressions.fvecQuant8
    val emb = Sources.table(spark, sf0001, "embeddings")
    // codes live in [-127, 127] and the max-|x| element saturates to ±127
    val checked = emb.select(
      fvecQuant8(col("embedding")).as("c"),
      // positive scaling must not change a single code: the per-vector
      // scale divides out (this is WHY codes-cosine needs no dequant).
      // A power-of-two factor keeps the float products EXACT so the
      // invariance is bitwise; an arbitrary factor is invariant only up
      // to ±1 at floor boundaries (float product rounding)
      fvecQuant8(transform(col("embedding"),
        x => x * lit(8.0f))).as("c_scaled"))
      .collect()
    checked.foreach { r =>
      val c = r.getSeq[Float](0)
      assert(c.forall(v => v >= -127f && v <= 127f))
      assert(c.exists(v => v == 127f || v == -127f),
        "the max-magnitude element must saturate")
      assert(c === r.getSeq[Float](1), "codes must be scale-invariant")
    }
    assert(checked.length === 500)
  }

  test("mix2: tempered shares normalize and upweight small sources") {
    val skewed = TextAnalysis.temperatureMixAudit(
      TextAnalysis.weightedKeep(docs)).collect()
    val tempSum = skewed.map(_.getAs[Double]("temp_share")).sum
    val rawSum = skewed.map(_.getAs[Double]("raw_share")).sum
    assert(math.abs(tempSum - 1.0) < 1e-9, s"temp shares sum $tempSum")
    assert(math.abs(rawSum - 1.0) < 1e-9, s"raw shares sum $rawSum")
    // boost is monotone decreasing in source size: boost = T/(z·√n)
    val bySize = skewed.sortBy(_.getAs[Long]("n_docs"))
    val boosts = bySize.map(_.getAs[Double]("boost"))
    assert(bySize.map(_.getAs[Long]("n_docs")).distinct.length > 1,
      "fixture: mix1 subset must be skewed")
    boosts.zip(boosts.tail).zip(bySize.zip(bySize.tail)).foreach {
      case ((b1, b2), (r1, r2)) =>
        if (r1.getAs[Long]("n_docs") < r2.getAs[Long]("n_docs"))
          assert(b1 > b2, s"boost not decreasing: $b1 <= $b2")
    }
    // a uniform corpus needs no rebalance: every boost is exactly 1
    val uniform = TextAnalysis.temperatureMixAudit(docs).collect()
    assert(uniform.forall(r => math.abs(r.getAs[Double]("boost") - 1.0)
      < 1e-12), "uniform corpus must yield unit boosts")
  }

  test("df store: folding batches equals the one-shot corpus aggregate") {
    import graft.functions.TextFunctions._
    // three uneven batches, one empty — the store must not care
    val batches = Seq(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 === 1),
      docs.filter(col("doc_id") < 0), // empty batch
      docs.filter(col("doc_id") % 3 === 2))
    val folded = batches.foldLeft(TextAnalysis.emptyDfStore(spark)) {
      (store, b) => TextAnalysis.dfStoreUpdate(store, b)
    }
    val oneShot = docs
      .select(explode(array_distinct(tokens(norm(col("text"))))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val f = folded.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val o = oneShot.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(f === o)
    assert(f.nonEmpty)
  }

  test("t10: bounded per-doc top-k with deterministic tie-break") {
    val top = TextAnalysis.tfidfTopTerms(docs, k = 3).cache()
    try {
      val perDoc = top.groupBy("doc_id").count().collect()
      assert(perDoc.forall(_.getAs[Long]("count") <= 3))
      assert(perDoc.length === docs.count(),
        "every doc gets a keyword row set")
      // ties (equal tf, df) must resolve by token ASC — two runs agree
      val a = top.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2))).toSet
      val b = TextAnalysis.tfidfTopTerms(docs, k = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(a === b, "rank assignment must be rerun-stable")
    } finally top.unpersist()
  }

  test("t18: truncation audit is the hand-computed overflow curve") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    // token counts under the BPE-ish pattern: "a b" = 2, 200 letters-
    // runs = 200 tokens, 1500 digits = 1500 single-digit tokens
    val d = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "a b"),
      Row(2L, (1 to 200).map(_ => "tok").mkString(" ")),
      Row(3L, "7" * 1500)), 2), schema)
    val out = TextAnalysis.truncationAudit(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toMap
    val total = 2L + 200L + 1500L
    // L=128: docs 2 (200) and 3 (1500) overflow; lost = 72 + 1372
    assert(out(128L) === ((3L, total, 2L, 72L + 1372L,
      (72.0 + 1372.0) / total.toDouble)))
    // L=256: only doc 3; lost = 1244
    assert(out(256L) === ((3L, total, 1L, 1244L, 1244.0 / total.toDouble)))
    // L=2048: nothing overflows, zero loss
    assert(out(2048L) === ((3L, total, 0L, 0L, 0.0)))
    assert(out.keySet === TextAnalysis.CtxLens.toSet)
    // empty corpus: rows still emitted, counts zero, rate NULL not a
    // divide-by-zero abort
    val empty = TextAnalysis.truncationAudit(d.limit(0)).collect()
    assert(empty.length === TextAnalysis.CtxLens.size)
    assert(empty.forall(r => r.getLong(1) === 0L && r.getLong(2) === 0L
      && r.isNullAt(5)))
  }

  test("s5: sampling is quality-monotone, deterministic, and rate-scaled") {
    val out = TextAnalysis.qualitySample(docs).cache()
    try {
      val rows = out.collect()
      assert(rows.nonEmpty, "fixture: sample must be non-empty")
      // every surviving row really won its coin flip, and p is the
      // mirrored ratio: p = rate * score / smax <= rate
      assert(rows.forall(r => r.getDouble(2) < r.getDouble(3)))
      assert(rows.forall(r => r.getDouble(3) <= 0.5 + 1e-12))
      // deterministic: a rerun selects the identical id set
      val again = TextAnalysis.qualitySample(docs).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(again === rows.map(_.getLong(0)).toSet)
      // quality-monotone in aggregate: the kept docs' mean score
      // strictly exceeds the corpus mean (the soft filter's point)
      val keptMean = rows.map(_.getDouble(1)).sum / rows.length
      val corpusMean = TextAnalysis.qualityScore(docs)
        .agg(avg("quality_score")).head.getDouble(0)
      assert(keptMean > corpusMean,
        s"soft filter should enrich quality: $keptMean <= $corpusMean")
      // rate scales the kept mass: double the rate, roughly double the
      // kept count (Bernoulli with p' = min(2p, ...) on the same coins
      // keeps a strict superset)
      val wide = TextAnalysis.qualitySample(docs, rate = 1.0)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(rows.map(_.getLong(0)).toSet.subsetOf(wide))
      assert(wide.size > rows.length)
      // known scale: passing the analytic bound changes p but keeps
      // the sample deterministic and smaller-or-equal (bound >= max)
      val bounded = TextAnalysis.qualitySample(docs, rate = 0.5,
        scoreMax = Some(1.0)).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(bounded.subsetOf(rows.map(_.getLong(0)).toSet))
    } finally out.unpersist()
  }

  test("t19: distinctive terms are the hand-computed smoothed rate ratios") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType), StructField("text", StringType)))
    // srcA: apple 2, banana 1 (A=3); srcB: cherry 1, banana 1 (B=2)
    // T=5, V=3
    val d = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "srcA", "apple apple banana"),
      Row(2L, "srcB", "cherry banana")), 2), schema)
    try {
      val out = TextAnalysis.distinctiveTerms(d).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5)))
        .toMap
      // srcA/apple: ((2+1)*(2+3)) / ((0+1)*(3+3)) = 15/6
      assert(out(("srcA", "apple")) ===
        ((2L, 0L, (3.0 * 5.0) / (1.0 * 6.0), 1L)))
      // srcA/banana: ((1+1)*(2+3)) / ((1+1)*(3+3)) = 10/12
      assert(out(("srcA", "banana")) ===
        ((1L, 1L, (2.0 * 5.0) / (2.0 * 6.0), 2L)))
      // srcB/cherry beats srcB/banana: 12/5 vs 12/10
      assert(out(("srcB", "cherry")) ===
        ((1L, 0L, (2.0 * 6.0) / (1.0 * 5.0), 1L)))
      assert(out(("srcB", "banana")) ===
        ((1L, 1L, (2.0 * 6.0) / (2.0 * 5.0), 2L)))
      // only tokens PRESENT in a source rank for it
      assert(out.size === 4)
      // the k cap binds: k=1 keeps exactly the per-source argmax
      val top1 = TextAnalysis.distinctiveTerms(d, k = 1).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(top1 === Map("srcA" -> "apple", "srcB" -> "cherry"))
    } finally spark.catalog.clearCache()
  }

  test("t12: classifier margin is the exact integer fold of hashed weights") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val d = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "Alpha beta  BETA"), Row(2L, "   "), Row(3L, "zq")), 2), schema)
    // independent reimplementation of bucket→weight from the same
    // constants: rolling char hash mod P, bucket mod ClfBuckets
    def chash(s: String): Long =
      s.foldLeft(0L)((h, c) => (h * 31 + c.toLong) % 1000000007L)
    def w(tok: String): Long =
      TextAnalysis.ClfWeights((chash(tok) % TextAnalysis.ClfBuckets).toInt)
    val out = TextAnalysis.classifierScore(d).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    val m1 = w("alpha") + 2 * w("beta") // norm lowercases, collapses ws
    assert(out(1L) === ((3L, m1, m1.toDouble / 3.0, m1 > 0)))
    assert(out(2L) === ((0L, 0L, 0.0, false)), "blank doc: zero tokens")
    val m3 = w("zq")
    assert(out(3L) === ((1L, m3, m3.toDouble, m3 > 0)))
    // the weight table must not be degenerate: both signs present
    assert(TextAnalysis.ClfWeights.exists(_ > 0)
      && TextAnalysis.ClfWeights.exists(_ < 0))
  }

  test("b1: bloom membership — no false negatives, real pruning power") {
    val out = TextAnalysis.bloomPrune(docs).cache()
    try {
      // the bloom guarantee: a member is NEVER reported definitely-absent
      assert(out.filter(col("exact_hit") && !col("bloom_maybe")).count()
        === 0L, "bloom filter produced a false negative")
      val n = out.count()
      val hits = out.filter(col("exact_hit")).count()
      assert(hits > 0, "fixture: eval fingerprints must hit the corpus")
      // join-pruning power: at sf0.001 load factor (3 rows × ~5 eval fps
      // of 2048 bits) the maybe-sliver must be a small fraction of the
      // corpus, or the filter prunes nothing and the exact join runs full
      val maybe = out.filter(col("bloom_maybe")).count()
      assert(maybe < n / 2, s"no pruning: $maybe of $n maybe-hits")
    } finally out.unpersist()
  }

  test("s3: leakage matrix partitions d3's pair set, off-diagonal flagged") {
    import graft.dedup.Dedup
    val nPairs = Dedup.minhashLshPairs(Dedup.withNearDups(docs)).count()
    val m = Dedup.splitLeakage(docs).collect()
    // every near-dup pair lands in exactly one (split, split) cell
    assert(m.map(_.getLong(2)).sum === nPairs)
    assert(m.forall(r => r.getBoolean(3) === (r.getString(0) != r.getString(1))))
    // independent hash splitting MUST leak on a corpus with planted twins
    // (a twin's id hashes to an unrelated split) — the fact the audit exists
    assert(m.filter(_.getBoolean(3)).map(_.getLong(2)).sum > 0)
  }

  test("imp1: a target-content clone outranks off-target docs") {
    import spark.implicits._
    // target source docs share a distinctive phrase; raw doc 100 clones
    // it (pure target content), raw doc 101 shares nothing with target,
    // raw docs 102/103 supply off-target mass so 101's bigrams have
    // raw-side counts
    val d = Seq(
      (1L, "quantum flux capacitor alignment protocol active", "tgt"),
      (2L, "quantum flux capacitor alignment protocol standby", "tgt"),
      (100L, "quantum flux capacitor alignment protocol copy", "raw"),
      (101L, "ordinary mundane text about nothing special", "raw"),
      (102L, "ordinary mundane text about nothing special twin", "raw"),
      (103L, "ordinary mundane text about anything else", "raw"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.dsirSelect(d, targetSources = Seq("tgt"), k = 10)
      .collect()
    assert(!out.exists(_.getAs[String]("source") == "tgt"),
      "target docs are the reference distribution, never selected")
    val byRank = out.sortBy(_.getAs[Long]("rank"))
    assert(byRank.head.getAs[Long]("doc_id") === 100L,
      s"the target-content clone must rank 1: ${byRank.toSeq}")
    val aff = out.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Double]("affinity")).toMap
    assert(aff(100L) > 0.5, "clone's bigram mass is mostly target-side")
    assert(aff(101L) < aff(100L))
    out.foreach { r =>
      val a = r.getAs[Double]("affinity")
      assert(a >= 0.0 && a <= 1.0, "affinity is a posterior, in [0,1]")
    }
  }

  test("rep1: report columns equal the standalone signals (join, not re-derive)") {
    val rep = TextAnalysis.contaminationReport(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val c1 = TextAnalysis
      .contaminationBySource(docs, TextAnalysis.evalSetFps(docs)).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_contaminated"))).toMap
    // the report must consume the STANDALONE queries' own corpora — c2
    // and c3 run over the sourced-twin convention, where the planted
    // positives live
    val twinned = TextAnalysis.withSourcedTwins(docs)
    val c2 = TextAnalysis.ngramContamination(twinned).collect()
      .map(r => r.getAs[String]("source") ->
        r.getAs[Long]("n_contaminated")).toMap
    val c3 = {
      import graft.dedup.Dedup
      Dedup.crossCorpusNearDups(twinned)
        .join(twinned.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(org.apache.spark.sql.functions
          .countDistinct(col("doc_id")).as("n"))
        .collect().map(r => r.getAs[String]("source") ->
          r.getAs[Long]("n")).toMap
    }
    assert(rep.keySet === c1.keySet, "one row per source, none dropped")
    assert(rep.values.map(_.getAs[Long]("neardup_docs")).sum > 0,
      "the twinned corpus plants near-dups — a dead c3 column means the " +
        "report is not reading the standalone corpus")
    rep.foreach { case (src, r) =>
      assert((r.getAs[Long]("n_docs"), r.getAs[Long]("exact_contaminated"))
        === c1(src), s"$src: c1 columns must be the standalone values")
      assert(r.getAs[Long]("ngram_contaminated") === c2.getOrElse(src, 0L))
      assert(r.getAs[Long]("neardup_docs") === c3.getOrElse(src, 0L),
        s"$src: c3 column must be the standalone per-source count")
      assert(r.getAs[Boolean]("flagged") ===
        (r.getAs[Long]("exact_contaminated") +
          r.getAs[Long]("ngram_contaminated") +
          r.getAs[Long]("neardup_docs") > 0))
    }
  }

  test("s6: the reservoir is the exact bottom-k of the integer race, any partitioning") {
    import graft.text.TextAnalysis._
    import graft.functions.TextFunctions.HashP
    val out = TextAnalysis.weightedReservoir(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length === ReservoirK)
    // independent recompute in plain Scala: same weights, same unit
    // draws, same min-key ranking — the sample must be bit-identical
    val expected = docs.select(col("doc_id"),
        size(expr("""CASE WHEN lower(trim(regexp_replace(text,
          '[\t-\r ]+', ' '))) = '' THEN CAST(array() AS ARRAY<STRING>)
          ELSE split(lower(trim(regexp_replace(text, '[\t-\r ]+', ' '))),
          ' ', -1) END""")).cast("long").as("n"))
      .collect().map { r =>
        val (id, n) = (r.getLong(0), r.getLong(1))
        val w = 1L + n / ReservoirUnit
        val key = (1L to w).map(j =>
          ((id % HashP) * RaceA + j * RaceB) % HashP).min
        (id, w, key)
      }.sortBy(t => (t._3, t._1)).take(ReservoirK)
    assert(out.sortBy(t => (t._3, t._1)).toSeq === expected.toSeq)
    // partition-order invariance: the race is a min-aggregate + top-k
    val re = TextAnalysis.weightedReservoir(docs.repartition(7))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._3, t._1))
    assert(re.toSeq === expected.toSeq)
    // heavier docs are ahead: the sample's mean weight exceeds the
    // corpus mean (the PPS property, at fixture scale)
    val allW = docs.select(size(expr("""split(lower(trim(regexp_replace(
      text, '[\t-\r ]+', ' '))), ' ', -1)""")).cast("long"))
      .collect().map(r => 1L + r.getLong(0) / ReservoirUnit)
    assert(out.map(_._2).sum.toDouble / out.length >
      allW.sum.toDouble / allW.length,
      "PPS must favor heavier docs")
    // the selection plans as TakeOrderedAndProject — the distributed
    // reservoir (each partition keeps <= k), never a global sort
    val plan = TextAnalysis.weightedReservoir(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    assert(!plan.contains("Exchange rangepartitioning"), plan.take(1500))
  }

  test("s7: per-stratum budgets hold; the race key is s6's, WindowGroupLimit bounds the rank") {
    import graft.text.TextAnalysis._
    val out = TextAnalysis.stratifiedReservoir(docs).collect()
    val bySource = out.groupBy(_.getAs[String]("source"))
    // every stratum lands exactly min(k, |stratum|) docs
    val sizes = docs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    bySource.foreach { case (src, rows) =>
      assert(rows.length === math.min(StratumK.toLong, sizes(src)),
        s"stratum $src budget")
      // ranks are 1..n within the stratum, ordered by (key, doc_id)
      val sorted = rows.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq ===
        (1L to rows.length).toSeq)
      val keys = sorted.map(r =>
        (r.getAs[Long]("race_key"), r.getAs[Long]("doc_id")))
      assert(keys.toSeq === keys.sortBy(identity).toSeq, s"$src order")
    }
    // one race-key definition: a doc sampled by BOTH s6 and s7 carries
    // the identical key
    val s6 = TextAnalysis.weightedReservoir(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    out.filter(r => s6.contains(r.getAs[Long]("doc_id"))).foreach { r =>
      assert(r.getAs[Long]("race_key") === s6(r.getAs[Long]("doc_id")))
    }
    // the per-source rank is WindowGroupLimit-bounded, never a full sort
    val plan = TextAnalysis.stratifiedReservoir(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(1500))
    assert(!plan.contains("Exchange rangepartitioning"), plan.take(1500))
  }

  test("c3: planted near-dup twins of eval docs are flagged") {
    import graft.dedup.Dedup
    val out = Dedup.crossCorpusNearDups(
      TextAnalysis.withSourcedTwins(docs)).cache()
    try {
      val nEval = docs.filter(pmod(col("doc_id"), lit(97)) === 0).count()
      assert(nEval > 0, "fixture: eval set must be non-empty")
      // each eval doc's planted twin (id + TwinOffset, one appended token)
      // shares all but ≤3 shingles with its original — LSH banding plus
      // the 16-hash agreement estimate must flag every (twin, eval) pair
      val twinPairs = out.filter(
        col("doc_id") === col("eval_doc_id") + Dedup.TwinOffset).count()
      assert(twinPairs >= nEval,
        s"planted twins not all flagged: $twinPairs < $nEval")
    } finally out.unpersist()
  }

  test("c5: spans locate the quoted run exactly; islands merge at gap <= n; eval docs never report") {
    import spark.implicits._
    // eval doc 97 (id % 97 == 0): tokens a..h. Train doc 1 quotes its
    // middle six tokens — 5-gram hashes match at train positions 3 and
    // 4 only, which must merge into ONE span covering tokens 3..8
    // (exactly the quoted run "a b c d e f"). Train doc 2 quotes two
    // SEPARATED runs (gap > n) — two spans, not one. Doc 3 shares
    // nothing. The eval doc itself never appears in the report.
    val fixture = Seq(
      (97L, "a b c d e f g h"),
      (1L, "x y a b c d e f z w"),
      (2L, "a b c d e q q q q q q a b c d e"),
      (3L, "p q r s t u v w"))
      .toDF("doc_id", "text").withColumn("source", lit("s"))
    val out = TextAnalysis.contaminationSpans(fixture)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // doc 2: grams "a b c d e" at positions 1 and 12; gap 11 > 5 → two
    // single-gram spans, each covering its 5 tokens
    assert(out === Set(
      (1L, 3L, 8L, 2L),
      (2L, 1L, 5L, 1L), (2L, 12L, 16L, 1L)))
  }

  test("pk2: straddle splits are exact, boundaries bind, zero-token docs pack nowhere, streams are per-source") {
    import spark.implicits._
    // budget 8; token counts chosen to exercise every boundary case:
    //   d1 (3) + d2 (5): d2 ENDS exactly at the window-0 boundary —
    //     it must land in window 0 only, filling it to exactly 8;
    //   d3 (10): starts exactly AT a boundary and straddles windows
    //     1..2 — the split must be exact (8 tokens to w1, 2 to w2);
    //   d4 (0 tokens): packs into NO window and must not shift the
    //     offsets of anything after it;
    //   d5 (6): completes window 2 (2 + 6 = 8);
    //   d6 in source b: its own stream, a short tail window of 4.
    def t(n: Int) = Seq.fill(n)("w").mkString(" ")
    val fixture = Seq(
      (1L, "a", t(3)), (2L, "a", t(5)), (3L, "a", t(10)),
      (4L, "a", ""), (5L, "a", t(6)), (6L, "b", t(4)))
      .toDF("doc_id", "source", "text")
    val expected = Set(
      ("a", 0L, 2L, 8L, 1L), ("a", 1L, 1L, 8L, 3L),
      ("a", 2L, 2L, 8L, 3L), ("b", 0L, 1L, 4L, 6L))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val out = rows(TextAnalysis.contextPacking(fixture, budget = 8))
    assert(out === expected)
    // the packing is a pure function of (source, doc_id, text) — any
    // partitioning of the input produces the identical windows
    assert(rows(TextAnalysis.contextPacking(fixture.repartition(5),
      budget = 8)) === expected)
    // conservation on the real corpus: per source, window tokens sum
    // to the stream's token total, and every non-tail window holds
    // exactly the budget
    val real = TextAnalysis.contextPacking(docs).cache()
    try {
      val bySrc = real.groupBy(col("source"))
        .agg(sum(col("win_tokens")).as("packed"),
          max(col("window_id")).as("last_w"))
      val totals = docs.select(col("source"),
        size(graft.functions.TextFunctions.tokens(
          graft.functions.TextFunctions.norm(col("text"))))
          .cast("long").as("n"))
        .groupBy(col("source")).agg(sum(col("n")).as("total"))
      val joined = bySrc.join(totals, "source").collect()
      assert(joined.nonEmpty)
      joined.foreach { r =>
        assert(r.getAs[Long]("packed") === r.getAs[Long]("total"),
          s"token conservation failed for ${r.getAs[String]("source")}")
      }
      val nonTail = real.as("r").join(
          real.groupBy(col("source")).agg(max(col("window_id")).as("lw")),
          "source")
        .filter(col("window_id") < col("lw"))
        .filter(col("win_tokens") =!= TextAnalysis.CtxWindowTokens)
      assert(nonTail.isEmpty,
        "every non-tail window must hold exactly the budget")
      ()
    } finally { real.unpersist(); () }
  }
}
