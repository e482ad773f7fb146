package graft

import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks

import graft.text.TextAnalysis

/** T8 (E58) BPE-merge training: (1) the columnar fold merge must equal the
  * imperative greedy left-to-right scan on adversarial symbol runs (the
  * l == r alternation cases where a naive formulation diverges), and
  * (2) the full trainer must reproduce a Scala reference BPE run — same
  * pair counts, same tie-breaks, same merged-symbol later rounds — on the
  * sf0.001 corpus. */
class BpeSpec extends SparkSpec with TableDrivenPropertyChecks {

  /** Imperative reference: classic greedy scan, `i += 2` on a match. */
  private def greedy(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Reference trainer mirroring [[TextAnalysis.bpeMerges]] semantics. */
  private def refMerges(words0: Map[String, Long],
      iters: Int): Seq[(Long, String, String, Long)] = {
    var vocab: Map[String, Seq[String]] =
      words0.map { case (w, _) => w -> w.map(_.toString).toSeq }
    val out = Seq.newBuilder[(Long, String, String, Long)]
    for (it <- 1 to iters) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (w, syms) =>
        syms.zip(syms.drop(1)).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + words0(w)
        }
      }
      if (counts.nonEmpty) {
        val ((l, r), cnt) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        out += ((it.toLong, l, r, cnt))
        vocab = vocab.map { case (w, syms) => w -> greedy(syms, l, r) }
      }
    }
    out.result()
  }

  test("fold merge equals imperative greedy on run-parity cases") {
    import spark.implicits._
    val cases = Seq(
      (Seq("a"), "a", "a"),
      (Seq("a", "a"), "a", "a"),
      (Seq("a", "a", "a"), "a", "a"),                  // odd run: aa, a
      (Seq("a", "a", "a", "a"), "a", "a"),             // even run: aa, aa
      (Seq("a", "a", "a", "a", "a"), "a", "a"),
      (Seq("x", "a", "a", "a", "y", "a", "a"), "a", "a"),
      (Seq("a", "b", "a", "b", "a"), "a", "b"),        // ab, ab, a
      (Seq("b", "a", "b"), "a", "b"),                  // b, ab
      (Seq("ab", "ab", "ab"), "ab", "ab"),             // abab, ab
      (Seq("a", "ab", "b"), "a", "ab"),                // aab, b
      (Seq(), "a", "b"))
    val df = cases.map(_._1).toDF("syms")
      .withColumn("i", monotonically_increasing_id())
    cases.zipWithIndex.foreach { case ((syms, l, r), idx) =>
      val got = df.filter(col("i") === idx)
        .select(TextAnalysis.mergePair(col("syms"), l, r))
        .collect()(0).getSeq[String](0)
      assert(got == greedy(syms, l, r), s"case $idx: $syms merge ($l,$r)")
    }
  }

  test("fold merge equals greedy on randomized symbol streams") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val alpha = Seq("a", "b", "ab", "c")
    val seqs = (0 until 200).map(_ =>
      (0 until (1 + rnd.nextInt(12))).map(_ => alpha(rnd.nextInt(alpha.size))))
    for ((l, r) <- Seq(("a", "a"), ("a", "b"), ("ab", "c"), ("b", "ab"))) {
      val df = seqs.toDF("syms")
        .select(TextAnalysis.mergePair(col("syms"), l, r))
      val got = df.collect().map(_.getSeq[String](0).toSeq).toSeq
      val want = seqs.map(greedy(_, l, r))
      assert(got == want, s"pair ($l,$r)")
    }
  }

  test("bpeMerges reproduces the reference trainer on sf0.001") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val got = TextAnalysis.bpeMerges(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq.sortBy(_._1)

    // reference word frequencies from the same normalization/tokenization
    val words0 = docs
      .select(explode(graft.functions.TextFunctions.tokens(
        graft.functions.TextFunctions.norm(col("text")))).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == refMerges(words0, TextAnalysis.BpeMergeIters))
    // later rounds must have exercised merged (multi-char) symbols, or the
    // test corpus isn't actually covering the interesting regime
    assert(got.exists { case (_, l, r, _) => l.length > 1 || r.length > 1 })
  }

  test("bpeTokenize subword counts match the reference apply on sf0.001") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    // reference: learn merges, apply them to each vocab word, then sum
    // per-word subword counts over each doc's token stream
    def toks(text: String): Seq[String] = {
      val n = text.replaceAll("\\s+", " ").trim.toLowerCase
      if (n.isEmpty) Seq.empty else n.split(" ", -1).toSeq
    }
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val words0 = texts.flatMap(t => toks(t._2)).groupBy(identity)
      .map { case (w, o) => w -> o.length.toLong }
    val merges = refMerges(words0, TextAnalysis.BpeMergeIters)
      .map { case (_, l, r, _) => (l, r) }
    val subCount: Map[String, Long] = words0.keys.map { w =>
      w -> merges.foldLeft(w.map(_.toString): Seq[String]) {
        case (syms, (l, r)) => greedy(syms, l, r)
      }.length.toLong
    }.toMap
    val want = texts.collect { case (id, text) if toks(text).nonEmpty =>
      val ts = toks(text)
      (id, ts.length.toLong, ts.map(subCount).sum)
    }.sortBy(_._1).toSeq
    val got = TextAnalysis.bpeTokenize(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got == want)
    // the merges must actually compress: strictly fewer subwords than
    // chars for at least one doc
    assert(got.exists { case (id, _, nb) =>
      nb < texts.toMap.apply(id).replaceAll("\\s+", "").length })
  }

  test("t16: fertility audit is consistent with the per-doc t9 apply") {
    import graft.io.Sources
    val docs = Sources.table(spark, sf0001, "documents")
    val rows = TextAnalysis.fertilityAudit(docs).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nw, nc, nb) = (r.getAs[Long]("n_words"),
        r.getAs[Long]("n_chars"), r.getAs[Long]("n_bpe_tokens"))
      val (fert, cpt) = (r.getAs[Double]("fertility"),
        r.getAs[Double]("chars_per_token"))
      assert(fert === nb.toDouble / nw.toDouble)
      assert(cpt === nc.toDouble / nb.toDouble)
      // each word ≥ 1 subword; each subword ≥ 1 char; merges compress
      assert(nb >= nw && nc >= nb,
        s"fertility bounds violated: $r")
      assert(cpt > 1.0,
        "trained merges must compress at least somewhere per source")
    }
    // corpus-level cross-check against t9's per-doc counts
    val t9sum = TextAnalysis.bpeTokenize(docs).agg(
      org.apache.spark.sql.functions.sum("n_bpe_tokens")).head().getLong(0)
    assert(rows.map(_.getAs[Long]("n_bpe_tokens")).sum === t9sum,
      "the audit's source totals must re-aggregate t9's doc totals")
  }

  // ---- T22/T23: the unigram-LM family ------------------------------------

  /** Independent imperative Viterbi under Laplace-smoothed counts —
    * mirrors [[TextAnalysis.viterbiSeg]]'s contract (longer piece wins
    * ties) with classic arrays instead of a column fold. */
  private def refViterbi(w: String, counts: Map[String, Long],
      tpv: Double): Seq[String] = {
    val best = new Array[(Double, Int, List[String])](w.length + 1)
    best(0) = (1.0, 0, Nil)
    for (j <- 1 to w.length) {
      var cur: (Double, Int, List[String]) = null
      for (s <- 1 to math.min(TextAnalysis.UniMaxPieceLen, j)) {
        val piece = w.substring(j - s, j)
        counts.get(piece).foreach { c =>
          val score = best(j - s)._1 * ((c + 1).toDouble / tpv)
          if (cur == null || score > cur._1 ||
              (score == cur._1 && s > cur._2))
            cur = (score, s, piece :: best(j - s)._3)
        }
      }
      best(j) = cur
    }
    best(w.length)._3.reverse
  }

  /** Independent reference trainer: seed → hard-EM → prune, mirroring
    * [[TextAnalysis.unigramVocab]]'s published semantics. */
  private def refUnigram(wordFreq: Map[String, Long],
      iters: Int): Seq[(String, Long)] = {
    val subCnt = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    for ((w, f) <- wordFreq; st <- 0 until w.length;
         l <- 1 to math.min(TextAnalysis.UniMaxPieceLen, w.length - st))
      subCnt(w.substring(st, st + l)) += f
    val singles = subCnt.filter(_._1.length == 1).toSeq
    val multis = subCnt.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(TextAnalysis.UniSeedMulti)
    var counts = (singles ++ multis).toMap
    val vocabV = counts.size
    for (_ <- 1 to iters) {
      val tpv = (counts.values.sum + vocabV).toDouble
      val usage = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      for ((w, f) <- wordFreq; p <- refViterbi(w, counts, tpv))
        usage(p) += f
      counts = counts.keys.map(p => p -> usage(p)).toMap
    }
    val fin = counts.toSeq
    val kept = fin.filter(_._1.length == 1) ++
      fin.filter(_._1.length > 1).sortBy { case (p, c) => (-c, p) }
        .take(TextAnalysis.UniFinalMulti)
    kept.sortBy { case (p, c) => (-c, p) }
  }

  test("t22: unigramTrain reproduces the reference EM trainer on sf0.001") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val wordFreq = docs
      .select(explode(graft.functions.TextFunctions.tokens(
        graft.functions.TextFunctions.norm(col("text")))).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = refUnigram(wordFreq, TextAnalysis.UniEmIters)
      .zipWithIndex.map { case ((p, c), i) =>
        (i + 1L, p, p.length.toLong, c) }
    val got = TextAnalysis.unigramTrain(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    assert(got === want)
    // EM must have promoted multi-char pieces with live counts, or the
    // corpus isn't exercising the interesting regime
    assert(got.exists { case (_, p, _, c) => p.length > 1 && c > 0 })
  }

  test("t22: Viterbi ties go to the LONGER piece; Laplace keeps zero-count pieces usable") {
    import spark.implicits._
    // counts {a:3, b:4, ab:1} at tpv 10: score('ab') = 2/10 and
    // score('a')*score('b') = (4/10)*(5/10) — the same double (halving
    // is exact), a genuine tie — the longer piece must win
    val m = typedlit(Map("a" -> 3L, "b" -> 4L, "ab" -> 1L))
    val seg = Seq("ab").toDF("word")
      .select(TextAnalysis.viterbiSeg(col("word"), m, 10.0).as("seg"))
      .head().getSeq[String](0)
    assert(seg === Seq("ab"))
    // zero-count pieces (EM drove them to 0) still segment via Laplace
    val m0 = typedlit(Map("x" -> 0L, "y" -> 0L))
    val seg0 = Seq("xy").toDF("word")
      .select(TextAnalysis.viterbiSeg(col("word"), m0, 10.0).as("seg"))
      .head().getSeq[String](0)
    assert(seg0 === Seq("x", "y"))
  }

  test("t22: the knobs measured — iters is the stable knob, seed width is not") {
    // the knob probe's spec pin (the wall numbers are BASELINE.md's
    // "t22 knob-cost probe" table). MEASURED answers, both pinned:
    //  - 3 -> 5 EM iterations leave the kept vocabulary AND its
    //    ranking identical (hard-EM has converged by 3 — the exhibit's
    //    iteration count is sufficient, not merely cheap);
    //  - widening the seed pool 4x REPLACES a majority of the kept
    //    multis (20 of 32 at this SF) and reshuffles the survivors —
    //    the vocabulary is genuinely a function of the candidate pool
    //    (true of the published algorithm: SentencePiece vocabularies
    //    shift with seeding), so the seed is a MODEL parameter, not a
    //    free performance knob. What IS invariant: every single char
    //    kept (the required-character rule), the pruned size, and
    //    determinism per setting.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    def vocabAt(seed: Int, iters: Int = TextAnalysis.UniEmIters) =
      TextAnalysis.unigramVocab(docs, iters, seed)
    val base = vocabAt(TextAnalysis.UniSeedMulti)
    def multis(v: Seq[(String, Long)]) = v.filter(_._1.length > 1).map(_._1)
    def singles(v: Seq[(String, Long)]) = v.filter(_._1.length == 1).map(_._1)
    // iters knob: identical kept set and ranking
    val more = vocabAt(TextAnalysis.UniSeedMulti, TextAnalysis.UniEmIters + 2)
    assert(multis(more) === multis(base))
    // seed knob: same SIZE and required chars, but a genuinely
    // different vocabulary — if this ever becomes stable, the probe's
    // BASELINE table is stale and the exhibit story needs re-measuring
    val wide = vocabAt(TextAnalysis.UniSeedMulti * 4)
    assert(singles(wide).toSet === singles(base).toSet)
    assert(multis(wide).size === multis(base).size)
    assert(multis(wide) !== multis(base),
      "seed widening stopped changing the vocabulary — re-measure")
    // determinism per setting
    assert(vocabAt(TextAnalysis.UniSeedMulti * 4) === wide)
  }

  test("t23: unigram fertility cross-foots t16's word stream and bounds hold") {
    import graft.io.Sources
    val docs = Sources.table(spark, sf0001, "documents")
    val uni = TextAnalysis.unigramTokenize(docs).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_words"),
          r.getAs[Long]("n_uni_tokens"), r.getAs[Double]("fertility"))))
      .toMap
    assert(uni.nonEmpty)
    // the unigram apply walks the SAME word stream as the BPE audit:
    // per-source doc and word counts must agree exactly
    val bpe = TextAnalysis.fertilityAudit(docs).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_words"),
          r.getAs[Long]("n_chars")))).toMap
    assert(uni.keySet === bpe.keySet)
    uni.foreach { case (src, (nd, nw, nu, fert)) =>
      assert((nd, nw) === ((bpe(src)._1, bpe(src)._2)),
        s"$src: word stream diverged from t16's")
      // every word ≥ 1 piece, every piece ≥ 1 char
      assert(nu >= nw && nu <= bpe(src)._3, s"$src: fertility bounds")
      assert(fert === nu.toDouble / nw.toDouble)
    }
  }
}
