package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exactness baseline, and a random-
  * hyperplane LSH-bucketed variant as the scale path.
  *
  * Determinism: cosine is computed as a SEQUENTIAL left fold over the
  * vector (Spark `aggregate` ≙ DuckDB `list_reduce`), in double, element
  * order fixed — so Spark and the DuckDB oracle produce bitwise-identical
  * doubles and the rank windows order identically (ties broken by id).
  *
  * Scale design (100 TB):
  *  - brute force is a broadcast nested-loop of Q queries × N vectors —
  *    fine for small Q (the query side broadcasts), O(QN) regardless;
  *  - the LSH variant hashes every vector once (narrow pass) into a
  *    2^planes-bucket key and joins queries to SAME-BUCKET vectors only —
  *    the shuffle key is the bucket, so the candidate set shrinks by ~2^p
  *    and the plan is a plain equi-join any cluster executes well;
  *  - an IVF build (k-means coarse quantizer) would follow the same shape:
  *    assign-to-centroid narrow pass, then per-cell joins. The LSH form is
  *    preferred here because it needs no trained state.
  */
object Similarity {

  /** Deterministic pseudo-random hyperplane component j·dim+i →
    * Knuth-hash mapped into [-0.5, 0.5). Mirrored verbatim in SQL. */
  val PlaneMod = 1000003L
  val PlaneMul = 2654435761L

  private def planeVal(j: Int, i: Column): Column =
    ((lit(j * 64L) + i) * lit(PlaneMul) % lit(PlaneMod)).cast("double") /
      lit(PlaneMod.toDouble) - lit(0.5)

  private def planeValSql(j: Int, i: String): String =
    s"((($j * 64 + $i) * $PlaneMul) % $PlaneMod)::DOUBLE / $PlaneMod.0 - 0.5"

  /** Sequential dot product of two same-length float vectors, in double —
    * a native codegen'd expression ([[graft.functions.FloatVectorDot]])
    * with exactly the left-fold semantics of
    * `aggregate(zip_with(a,b,_*_), 0d, _+_)`, which Spark would otherwise
    * evaluate interpreted. Bitwise-identical to the DuckDB `list_reduce`
    * mirror ([[dotSql]]). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.fvecDot(a, b)

  /** The fold formulation (kept for the equivalence spec — same results,
    * interpreted evaluation). */
  def dotFold(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0::DOUBLE,
       |  list_transform(range(1, len($a) + 1),
       |    i -> $a[i]::DOUBLE * $b[i]::DOUBLE)),
       |  (acc, x) -> acc + x)""".stripMargin

  def norm2(a: Column): Column = sqrt(dot(a, a))

  def norm2Sql(a: String): String = s"sqrt(${dotSql(a, a)})"

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm2(a) * norm2(b))

  /** N1: brute-force cosine top-k — for each query vector (vec_id <
    * numQueries), the k nearest other vectors by cosine, rank-ordered with
    * id tie-break. */
  def bruteForceTopK(emb: DataFrame, numQueries: Int, k: Int): DataFrame = {
    // norms are computed ONCE per vector (narrow pass), not per pair —
    // at Q queries x N vectors this removes 2/3 of the fold work
    val withN = emb.select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2"))
      // zero-norm vectors have undefined cosine (NaN) — excluded on both
      // sides, mirrored in the oracle (the n6 convention)
      .filter(col("n2") > 0.0)
    val q = withN.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("n2").as("qn"))
    val joined = broadcast(q).join(withN.as("c"),
        col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        (dot(col("qv"), col("c.embedding")) /
          (col("qn") * col("c.n2"))).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cosine"))
  }

  def bruteForceTopKSql(numQueries: Int, k: Int,
      corpus: String = "SELECT vec_id, embedding FROM embeddings")
      : String = s"""
    WITH withn AS (
      SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2
      FROM ($corpus)),
    live AS (SELECT * FROM withn WHERE n2 > 0),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv, n2 AS qn FROM live
      WHERE vec_id < $numQueries),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
        ${dotSql("qv", "c.embedding")} / (qn * c.n2) AS cosine
      FROM q JOIN live c ON c.vec_id <> query_id),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
        row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored)
    SELECT query_id, rank::BIGINT AS rank, neighbor_id, cosine
    FROM ranked WHERE rank <= $k"""

  // ---- N10 (E165): Matryoshka truncation audit -----------------------------

  /** Prefix width for the truncated ranking — a 4× storage/compute cut
    * (64 → 16 dims), the first Matryoshka tier a serving stack tries. */
  val MrlPrefixDims = 16
  val MrlQueries = 32
  val MrlK = 10

  /** N10 (E165): MATRYOSHKA truncation audit — how much of the
    * full-dimension nearest-neighbor structure survives when vectors
    * are truncated to their first [[MrlPrefixDims]] dimensions?
    * (Matryoshka-representation-learning embeddings are trained so
    * prefixes remain usable; serving stacks exploit that for 4–16×
    * cheaper retrieval. Before switching, you MEASURE this number on
    * your own corpus — this op is that measurement.) Per query:
    * overlap@k between the full-dim and prefix-dim exact top-k lists
    * (both EXACTLY [[bruteForceTopK]] — the n1-composition rule, so
    * ranking semantics, tie-breaks and the zero-norm exclusion are the
    * single definition; a vector whose PREFIX is zero-norm drops from
    * the truncated ranking only, exactly as serving would). Overlap is
    * an exact integer; the fraction is one double boundary. Queries
    * with zero surviving overlap still appear (spine left-join).
    *
    * Scale: two n1-shaped broadcast scoring passes + one k-bounded
    * semi-join — at real scale each side swaps for its ANN tier
    * (the n1-vs-ladder contract applies to BOTH rankings). */
  def matryoshkaAudit(emb: DataFrame, numQueries: Int = MrlQueries,
      k: Int = MrlK, prefixDims: Int = MrlPrefixDims): DataFrame = {
    val full = bruteForceTopK(emb, numQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val pref = bruteForceTopK(
        emb.select(col("vec_id"),
          slice(col("embedding"), 1, prefixDims).as("embedding")),
        numQueries, k)
      .select(col("query_id").as("qp"), col("neighbor_id").as("np"))
    val kept = full.join(pref,
        col("query_id") === col("qp") && col("neighbor_id") === col("np"),
        "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
    full.select(col("query_id")).distinct()
      .join(kept, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)).cast("double") /
          lit(k.toDouble)).as("overlap_frac"))
  }

  def matryoshkaAuditSql(numQueries: Int = MrlQueries, k: Int = MrlK,
      prefixDims: Int = MrlPrefixDims): String = s"""
    WITH fullk AS (
      SELECT query_id, neighbor_id
      FROM (${bruteForceTopKSql(numQueries, k)})),
    prefk AS (
      SELECT query_id, neighbor_id
      FROM (${bruteForceTopKSql(numQueries, k,
        s"SELECT vec_id, embedding[1:$prefixDims] AS embedding" +
          " FROM embeddings")})),
    kept AS (
      SELECT f.query_id, count(*)::BIGINT AS n_overlap
      FROM fullk f JOIN prefk p
        ON p.query_id = f.query_id AND p.neighbor_id = f.neighbor_id
      GROUP BY 1)
    SELECT q.query_id, coalesce(k2.n_overlap, 0)::BIGINT AS n_overlap,
      coalesce(k2.n_overlap, 0)::DOUBLE / ${k}.0::DOUBLE AS overlap_frac
    FROM (SELECT DISTINCT query_id FROM fullk) q
    LEFT JOIN kept k2 ON k2.query_id = q.query_id"""

  /** Rank scored candidates `(query_id, neighbor_id, cosine)` to per-query
    * top-k via the typed [[TopKAggregator]] — the 100-TB ranking shape: the
    * aggregator's bounded buffer gives map-side combine, so the shuffle
    * carries ≤ k entries per (group, partition) instead of every scored
    * candidate row a `Window.row_number` formulation would sort. Ordering
    * (score DESC, id ASC on ties) matches `row_number`, so the same oracle
    * SQL verifies both shapes. */
  private def rankTopKAgg(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.select(col("query_id"), col("neighbor_id"), col("cosine"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => TopKAggregator.Scored(r._2, r._3))
      .agg(TopKAggregator.TopK(k).toColumn.name("topk"))
      .flatMap { case (qid, topk) =>
        topk.zipWithIndex.map { case (s, i) =>
          (qid, (i + 1).toLong, s.id, s.score)
        }
      }
      .toDF("query_id", "rank", "neighbor_id", "cosine")
  }

  /** N3: grouped top-k via the typed [[TopKAggregator]] — identical output
    * to [[bruteForceTopK]] (same oracle), different physical shape (see
    * [[rankTopKAgg]]). */
  def topKAggregated(emb: DataFrame, numQueries: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    val withN = emb.select(c("vec_id"), c("embedding"),
      norm2(c("embedding")).as("n2"))
    val q = withN.filter(c("vec_id") < numQueries)
      .select(c("vec_id").as("query_id"), c("embedding").as("qv"),
        c("n2").as("qn"))
    val scored = broadcast(q)
      .join(withN.as("cand"), c("cand.vec_id") =!= c("query_id"))
      .select(c("query_id"), c("cand.vec_id").as("neighbor_id"),
        (dot(c("qv"), c("cand.embedding")) /
          (c("qn") * c("cand.n2"))).as("cosine"))
    rankTopKAgg(scored, k)
  }

  val NumPlanes = 6

  /** LSH bucket id: sign bits of the vector's dot products with the
    * deterministic hyperplanes, packed into a long. */
  def lshBucket(v: Column): Column =
    (0 until NumPlanes).map { j =>
      val d = aggregate(
        transform(sequence(lit(1), size(v)),
          i => element_at(v, i).cast("double") * planeVal(j, (i - 1).cast("long"))),
        lit(0.0), (acc, x) => acc + x)
      when(d > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  def lshBucketSql(v: String): String =
    (0 until NumPlanes).map { j =>
      val d = s"""list_reduce(list_prepend(0.0::DOUBLE,
         |  list_transform(range(1, len($v) + 1),
         |    i -> $v[i]::DOUBLE * (${planeValSql(j, "(i - 1)")}))),
         |  (acc, x) -> acc + x)""".stripMargin
      s"CASE WHEN $d > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** N2: multi-probe LSH approximate top-k — queries meet vectors in their
    * OWN hyperplane-sign bucket plus every bucket ONE bit-flip away
    * (standard multi-probe LSH: a true neighbor separated by exactly one
    * hyperplane is recovered by probing across that boundary). Measured on
    * the test embeddings this lifts global top-5 recall 0.06 → 0.32 while
    * scanning (1+planes)/2^planes ≈ 11% of the corpus per query — on a
    * corpus with no neighborhood structure, where sign-bucket agreement is
    * rare by construction; [[ivfTopK]] (recall 0.94 here) is the stronger
    * global-ANN scale path, and single-probe remains the shape for
    * near-DUP retrieval (cosine ≈ 1 ⇒ same bucket with near-certainty,
    * see [[embeddingNearDups]]). AnnRecallSpec pins all three numbers.
    *
    * Candidates are exact-scored per probed bucket and ranked by the
    * bounded-buffer aggregator ([[rankTopKAgg]] — no Window sort over the
    * candidate stream; ≤ k rows shuffle per partition). Probe buckets are
    * distinct by construction, so no (query, candidate) pair repeats and
    * no dedup pass is needed. */
  def lshTopK(emb: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val bucketed = emb.select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2"),
      lshBucket(col("embedding")).as("bucket"))
      // zero-norm guard: cosine undefined, and a NaN score would break
      // the bounded aggregator's window parity (see TopKAggregator)
      .filter(col("n2") > 0.0)
    val probes = col("qb") +: (0 until NumPlanes).map(j =>
      col("qb").bitwiseXOR(lit(1L << j)))
    val q = bucketed.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("n2").as("qn"), col("bucket").as("qb"))
      .withColumn("probe", explode(array(probes: _*)))
    val joined = q.join(bucketed.as("c"),
        col("c.bucket") === col("probe") &&
          col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        (dot(col("qv"), col("c.embedding")) /
          (col("qn") * col("c.n2"))).as("cosine"))
    rankTopKAgg(joined, k)
  }

  def lshTopKSql(numQueries: Int, k: Int): String = {
    val probeList = ("qb" +: (0 until NumPlanes).map(j =>
      s"xor(qb, ${1L << j})")).mkString("[", ", ", "]")
    s"""
    WITH bucketed AS (
      SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2,
        ${lshBucketSql("embedding")} AS bucket
      FROM embeddings),
    live AS (SELECT * FROM bucketed WHERE n2 > 0),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv, n2 AS qn,
        unnest($probeList) AS probe
      FROM (SELECT vec_id, embedding, n2, bucket AS qb
            FROM live WHERE vec_id < $numQueries)),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
        ${dotSql("qv", "c.embedding")} / (qn * c.n2) AS cosine
      FROM q JOIN live c ON c.bucket = probe AND c.vec_id <> query_id),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
        row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored)
    SELECT query_id, rank::BIGINT AS rank, neighbor_id, cosine
    FROM ranked WHERE rank <= $k"""
  }

  /** N6 (E66): scalar-quantized (int8) ANN — each vector is compressed to
    * per-vector-symmetric int8 codes (`floor(x / max|x| * 127)`), and
    * search ranks by the CODES' cosine. The per-vector scale cancels out
    * of cosine, so no dequantization happens at query time — the score is
    * a pure integer-code dot over norms, every intermediate an exact
    * integer or correctly-rounded sqrt/division (bitwise cross-engine).
    *
    * This is the ANN tier's MEMORY knob, orthogonal to the bucketing ones
    * (n2/n4/n5 shrink the candidate SET; SQ shrinks the BYTES per
    * candidate 4×): at 100 TB the quantized corpus is what fits in
    * executor/page cache, and SQ composes under any of the bucketed
    * variants. Codes here materialize as `array<float>` (int8 values are
    * exact in float) so the codegen'd [[dot]] and the DuckDB oracle
    * evaluate the identical integer arithmetic; the storage form on a
    * real cluster is a packed 1-byte-per-dim binary column — the layout
    * changes, the code values and ranking don't. Quantization is one
    * narrow pass; the search is N1's broadcast-query join shape on the
    * quantized corpus. Zero vectors (max|x| = 0) quantize to all-zero
    * codes and are excluded on both sides (cosine undefined), mirrored in
    * the oracle. AnnRecallSpec measures recall vs exact brute force. */
  /** Per-vector-symmetric int8 quantization pass: `(vec_id, embedding,
    * codes)` — the raw vector rides along for callers that also derive
    * index structure from it (cell assignment in [[ivfSqTopK]]); the
    * index rows keep only the codes. */
  private def withCodes(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      org.apache.spark.sql.graft.VectorExpressions
        .fvecQuant8(col("embedding")).as("codes"))

  /** The HOF formulation of the quantizer (kept for the equivalence
    * spec — same values, interpreted evaluation; [[withCodes]] runs the
    * codegen'd [[org.apache.spark.sql.graft.Int8Quant]]). */
  def quant8Fold(v: Column): Column = {
    val maxabs = aggregate(v, lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    val ma = maxabs
    when(ma === 0.0, transform(v, _ => lit(0.0f)))
      .otherwise(transform(v,
        x => floor(x.cast("double") / ma * lit(127.0)).cast("float")))
  }

  /** The quant CTE shared by the n6/n7 oracles — must mirror
    * [[withCodes]] exactly. */
  private def quantCteSql: String = s"""
    quant AS (
      SELECT vec_id, embedding,
        CASE WHEN ma = 0
          THEN list_transform(embedding, x -> 0.0::DOUBLE)
          ELSE list_transform(embedding,
            x -> floor(x::DOUBLE / ma * 127.0)) END AS codes
      FROM (
        SELECT vec_id, embedding,
          list_reduce(list_prepend(0.0::DOUBLE,
            list_transform(embedding, x -> abs(x::DOUBLE))),
            (acc, x) -> greatest(acc, x)) AS ma
        FROM embeddings))"""

  def sqTopK(emb: DataFrame, numQueries: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withN = withCodes(emb)
      .select(col("vec_id"), col("codes"), norm2(col("codes")).as("n2"))
      .filter(col("n2") > 0.0)
    val q = withN.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("codes").as("qc"),
        col("n2").as("qn"))
    val joined = broadcast(q).join(withN.as("c"),
        col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        (dot(col("qc"), col("c.codes")) /
          (col("qn") * col("c.n2"))).as("approx_cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cosine").desc, col("neighbor_id").asc)
    joined.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("approx_cosine"))
  }

  def sqTopKSql(numQueries: Int, k: Int): String = s"""
    WITH $quantCteSql,
    withn AS (
      SELECT vec_id, codes, ${norm2Sql("codes")} AS n2 FROM quant),
    live AS (SELECT * FROM withn WHERE n2 > 0),
    q AS (
      SELECT vec_id AS query_id, codes AS qc, n2 AS qn FROM live
      WHERE vec_id < $numQueries),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
        ${dotSql("qc", "c.codes")} / (qn * c.n2) AS approx_cosine
      FROM q JOIN live c ON c.vec_id <> query_id),
    ranked AS (
      SELECT query_id, neighbor_id, approx_cosine,
        row_number() OVER (PARTITION BY query_id
          ORDER BY approx_cosine DESC, neighbor_id ASC) AS rank
      FROM scored)
    SELECT query_id, rank::BIGINT AS rank, neighbor_id, approx_cosine
    FROM ranked WHERE rank <= $k"""

  val NumCells = 16
  val NumProbes = 2

  /** N4: IVF-style ANN — a coarse quantizer partitions vectors into cells,
    * and a query searches only its `NumProbes` nearest cells. Centroids
    * here are SEEDED (the first [[NumCells]] vectors verbatim) rather than
    * k-means-trained: training-free, fully deterministic, and exactly
    * mirrorable in the oracle — the structure (assign narrow pass → cell
    * equi-join) is identical to a trained IVF, which would only move the
    * centroid values. Cell assignment = argmin of squared L2 distance to
    * each seed, ties to the lower cell id.
    *
    * Scale: assignment is one narrow pass (k codegen'd dot products per
    * row); the probe join's key is the cell id, so the candidate volume is
    * ~(nprobe/k) of brute force — same join shape as [[lshTopK]] with a
    * data-adaptive partition instead of hyperplane signs.
    */
  /** The seeded coarse quantizer's per-row sorted (d2, cell_id) array —
    * seeds collected once (tiny: NumCells vectors) and shipped as
    * literals; one (d2, cell_id) struct per seed, sorted once per row.
    * array_sort on structs orders by d2 then cell_id, giving both the
    * assignment (element 1) and the probe list (first nprobe) from ONE
    * pass of NumCells codegen'd dot products, not an O(k^2) expression
    * tree. Shared by [[ivfTopK]] and [[ivfSqTopK]]. */
  private def sortedCellsFor(emb: DataFrame,
      numCells: Int = NumCells): Column => Column = {
    val seeds = emb.filter(col("vec_id") < numCells)
      .orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    (v: Column) => {
      val ds = seeds.zipWithIndex.map { case (s, id) =>
        val s2 = s.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)
        // |v|^2 is constant across cells for a row: argmin only needs
        // -2<v,s> + |s|^2
        struct((lit(-2.0) * dot(v, typedlit(s.toSeq)) + lit(s2)).as("d2"),
          lit(id).as("cell_id"))
      }
      array_sort(array(ds.toSeq: _*))
    }
  }

  /** Nearest seeded cell as ONE native argmin loop
    * ([[org.apache.spark.sql.graft.PqEncode]] with m=1: codebook =
    * the seed matrix, subDim = the full vector) — value-identical to
    * `element_at(sortedCellsFor(...), 1).cell_id` (same widened-float
    * entries, same |s|² fold, same total order and lower-id tie-break)
    * but O(cells·dim) primitive flops per row with a constant-size plan,
    * where the composed form's unrolled struct array leaves codegen
    * entirely once `cells` is large. The scale path for SIZE-DERIVED
    * cell counts (semDedup); the fixed-16-cell IVF family keeps the
    * composed form, whose sorted ARRAY it needs for nprobe>1 probing. */
  private def argminCellFor(emb: DataFrame,
      numCells: Int): Column => Column = {
    val seeds = emb.filter(col("vec_id") < numCells)
      .orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq)
    val codebook = Seq(seeds.toSeq)
    (v: Column) => element_at(
      org.apache.spark.sql.graft.VectorExpressions.pqEncode(v, codebook), 1)
  }

  def ivfTopK(emb: DataFrame, numQueries: Int, k: Int,
      nprobe: Int = NumProbes): DataFrame = {
    val sortedCells = sortedCellsFor(emb)
    val assigned = emb
      .select(col("vec_id"), col("embedding"),
        norm2(col("embedding")).as("n2"),
        sortedCells(col("embedding")).as("sc"))
      .select(col("vec_id"), col("embedding"), col("n2"),
        element_at(col("sc"), 1).getField("cell_id").as("cell"))
      .filter(col("n2") > 0.0) // zero-norm guard (cosine undefined)
    val q = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm2(col("embedding")).as("qn"),
        sortedCells(col("embedding")).as("sc"))
      .select(col("query_id"), col("qv"), col("qn"),
        explode(transform(slice(col("sc"), 1, nprobe),
          s => s.getField("cell_id"))).as("probe"))
      .filter(col("qn") > 0.0)
    val joined = q.join(assigned.as("c"),
        col("c.cell") === col("probe") && col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        (dot(col("qv"), col("c.embedding")) /
          (col("qn") * col("c.n2"))).as("cosine"))
    // aggregator-ranked (no Window sort over candidates) — see rankTopKAgg
    rankTopKAgg(joined, k)
  }

  def ivfTopKSql(numQueries: Int, k: Int,
      nprobe: Int = NumProbes): String = {
    val seedsCte = s"""
      seeds AS (
        SELECT vec_id AS cell_id, embedding AS sv,
          list_reduce(list_prepend(0.0::DOUBLE,
            list_transform(range(1, len(embedding) + 1),
              i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)),
            (acc, x) -> acc + x) AS s2
        FROM embeddings WHERE vec_id < $NumCells)"""
    val d2 = s"-2.0 * ${dotSql("e.embedding", "s.sv")} + s.s2"
    s"""
    WITH $seedsCte,
    dists AS (
      SELECT e.vec_id, s.cell_id, $d2 AS d2
      FROM embeddings e CROSS JOIN seeds s),
    ranked_cells AS (
      SELECT vec_id, cell_id, d2,
        row_number() OVER (PARTITION BY vec_id
          ORDER BY d2 ASC, cell_id ASC) AS cell_rank
      FROM dists),
    assigned AS (
      SELECT e.vec_id, e.embedding,
        ${norm2Sql("e.embedding")} AS n2, rc.cell_id AS cell
      FROM embeddings e
      JOIN ranked_cells rc ON rc.vec_id = e.vec_id AND rc.cell_rank = 1
      WHERE ${norm2Sql("e.embedding")} > 0),
    q AS (
      SELECT e.vec_id AS query_id, e.embedding AS qv,
        ${norm2Sql("e.embedding")} AS qn, rc.cell_id AS probe
      FROM embeddings e
      JOIN ranked_cells rc ON rc.vec_id = e.vec_id
        AND rc.cell_rank <= $nprobe
      WHERE e.vec_id < $numQueries
        AND ${norm2Sql("e.embedding")} > 0),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
        ${dotSql("qv", "c.embedding")} / (qn * c.n2) AS cosine
      FROM q JOIN assigned c ON c.cell = probe AND c.vec_id <> query_id),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
        row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored)
    SELECT query_id, rank::BIGINT AS rank, neighbor_id, cosine
    FROM ranked WHERE rank <= $k"""
  }

  /** N7 (E67): IVF cells over int8 codes — the two orthogonal ANN knobs
    * COMPOSED (the FAISS IVF-SQ index shape, from its public design): the
    * coarse quantizer restricts the candidate SET (n4's cell equi-join)
    * while scalar quantization shrinks the BYTES per stored candidate 4×
    * (n6's code cosine). Cell assignment happens at index-build time on
    * the raw vector (the one moment it exists); the index row is only
    * (vec_id, cell, codes, n2), so the probe join never carries the raw
    * floats. One narrow build pass computes codes AND cell together; the
    * probe join and bounded-aggregator ranking are exactly n4's.
    * AnnRecallSpec measures the composition's recall tracking n4's (SQ
    * preserves cosine order near-perfectly, so the composition costs
    * ~nothing in recall on top of the cell restriction). */
  def ivfSqTopK(emb: DataFrame, numQueries: Int, k: Int,
      nprobe: Int = NumProbes): DataFrame = {
    // ONE seed collect serves both the index build and the query probes
    val sortedCells = sortedCellsFor(emb)
    val index = withCodes(emb)
      .select(col("vec_id"), col("codes"), norm2(col("codes")).as("n2"),
        element_at(sortedCells(col("embedding")), 1).getField("cell_id")
          .as("cell"))
      .filter(col("n2") > 0.0)
    val q = withCodes(emb.filter(col("vec_id") < numQueries))
      .select(col("vec_id").as("query_id"), col("codes").as("qc"),
        norm2(col("codes")).as("qn"),
        sortedCells(col("embedding")).as("sc"))
      .filter(col("qn") > 0.0)
      .select(col("query_id"), col("qc"), col("qn"),
        explode(transform(slice(col("sc"), 1, nprobe),
          s => s.getField("cell_id"))).as("probe"))
    val joined = q.join(index.as("c"),
        col("c.cell") === col("probe") &&
          col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        (dot(col("qc"), col("c.codes")) /
          (col("qn") * col("c.n2"))).as("cosine"))
    rankTopKAgg(joined, k)
      .withColumnRenamed("cosine", "approx_cosine")
  }

  def ivfSqTopKSql(numQueries: Int, k: Int,
      nprobe: Int = NumProbes): String = {
    val seedsCte = s"""
      seeds AS (
        SELECT vec_id AS cell_id, embedding AS sv,
          list_reduce(list_prepend(0.0::DOUBLE,
            list_transform(range(1, len(embedding) + 1),
              i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)),
            (acc, x) -> acc + x) AS s2
        FROM embeddings WHERE vec_id < $NumCells)"""
    val d2 = s"-2.0 * ${dotSql("e.embedding", "s.sv")} + s.s2"
    s"""
    WITH $quantCteSql,
    $seedsCte,
    dists AS (
      SELECT e.vec_id, s.cell_id, $d2 AS d2
      FROM embeddings e CROSS JOIN seeds s),
    ranked_cells AS (
      SELECT vec_id, cell_id, d2,
        row_number() OVER (PARTITION BY vec_id
          ORDER BY d2 ASC, cell_id ASC) AS cell_rank
      FROM dists),
    indexed AS (
      SELECT qt.vec_id, qt.codes, ${norm2Sql("qt.codes")} AS n2,
        rc.cell_id AS cell
      FROM quant qt
      JOIN ranked_cells rc ON rc.vec_id = qt.vec_id AND rc.cell_rank = 1
      WHERE ${norm2Sql("qt.codes")} > 0),
    q AS (
      SELECT qt.vec_id AS query_id, qt.codes AS qc,
        ${norm2Sql("qt.codes")} AS qn, rc.cell_id AS probe
      FROM quant qt
      JOIN ranked_cells rc ON rc.vec_id = qt.vec_id
        AND rc.cell_rank <= $nprobe
      WHERE qt.vec_id < $numQueries AND ${norm2Sql("qt.codes")} > 0),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
        ${dotSql("qc", "c.codes")} / (qn * c.n2) AS approx_cosine
      FROM q JOIN indexed c ON c.cell = probe AND c.vec_id <> query_id),
    ranked AS (
      SELECT query_id, neighbor_id, approx_cosine,
        row_number() OVER (PARTITION BY query_id
          ORDER BY approx_cosine DESC, neighbor_id ASC) AS rank
      FROM scored)
    SELECT query_id, rank::BIGINT AS rank, neighbor_id, approx_cosine
    FROM ranked WHERE rank <= $k"""
  }

  // ---- N5: TRAINED IVF (deterministic k-means quantizer) ------------------

  val TrainSample = 256
  val TrainIters = 3

  /** Deterministic Lloyd's k-means over the bounded training sample
    * (`vec_id < TrainSample`, vec_id order): seeds = the first [[NumCells]]
    * sample vectors, then [[TrainIters]] FIXED assignment/mean iterations.
    * Every float op is a sequential left fold in double (assignment dot,
    * per-dim mean) and every tie breaks to the lower cell id, so the
    * centroids are bitwise-reproducible and mirrored verbatim by the
    * unrolled-iteration SQL in [[ivfTrainedTopKSql]]. An empty cell keeps
    * its previous centroid (mirrored by the oracle's left-join coalesce).
    *
    * Scale: training state is NumCells × dim doubles from a CONSTANT-size
    * sample — the driver-side collect is bounded metadata, same rationale
    * as the seeded variant's seed collect. A production build would sample
    * by hash cutoff (t5's shape, [[graft.queries.TextQueries]]) instead
    * of id prefix; id prefix is used here because the oracle must name the
    * same rows. */
  def trainCentroids(emb: DataFrame): Array[Array[Double]] = {
    val rows = emb.filter(col("vec_id") < TrainSample)
      .orderBy(col("vec_id")).select(col("vec_id"), col("embedding"))
      .collect()
    val sample = rows.map(_.getSeq[Float](1).toArray)
    // The oracle keys its seed cells by `vec_id < NumCells` with
    // `cell_id = vec_id`, while this side's cell ids are positional
    // 0..NumCells-1 — those coincide (including the d2-tie break on
    // cell_id) ONLY when the sample ids are the dense prefix 0..N-1, so
    // require exactly that instead of just a sample count.
    val ids = rows.map(_.getLong(0))
    require(ids.sameElements(0L until TrainSample.toLong),
      s"k-means training sample must be the dense vec_id prefix " +
        s"0..${TrainSample - 1} (got ${ids.length} ids" +
        ids.headOption.map(h => s", first=$h, last=${ids.last}").getOrElse("") +
        ") — positional cell ids must equal the oracle's vec_id-keyed cells")
    lloyd(sample, NumCells)
  }

  /** The deterministic Lloyd loop itself, shared by the n5 coarse
    * quantizer (full vectors, [[NumCells]] cells) and the n8x PQ codebook
    * training (per-subspace subvectors, [[PqKsub]] entries): seeds = the
    * first `k` sample vectors, [[TrainIters]] fixed iterations, every
    * float op a sequential left fold in double, ties to the lower id,
    * empty cells keep their previous centroid — bitwise-reproducible and
    * mirrored verbatim by the unrolled-iteration oracle CTEs. */
  private def lloyd(sample: Array[Array[Float]], k: Int): Array[Array[Double]] = {
    var cents = sample.take(k).map(_.map(_.toDouble))
    for (_ <- 1 to TrainIters) {
      val s2 = cents.map(_.foldLeft(0.0)((a, x) => a + x * x))
      // argmin_c of -2<v,c> + |c|^2 (|v|^2 constant per row), ties low
      val assign = sample.map { v =>
        var best = 0
        var bestD = Double.MaxValue
        var j = 0
        while (j < cents.length) {
          var d = 0.0
          var i = 0
          while (i < v.length) { d += v(i).toDouble * cents(j)(i); i += 1 }
          val d2 = -2.0 * d + s2(j)
          if (d2 < bestD) { bestD = d2; best = j }
          j += 1
        }
        best
      }
      cents = Array.tabulate(cents.length) { c =>
        val members = sample.indices.filter(assign(_) == c)
        if (members.isEmpty) cents(c)
        else Array.tabulate(cents(c).length) { i =>
          members.foldLeft(0.0)((a, m) => a + sample(m)(i).toDouble) /
            members.length
        }
      }
    }
    cents
  }

  /** N5: IVF top-k with a TRAINED coarse quantizer — identical probe/join
    * structure to [[ivfTopK]] (assign narrow pass → cell equi-join →
    * aggregator rank), with k-means centroids from [[trainCentroids]] in
    * place of the raw seed vectors. Trained cells track the data's density
    * (balanced cells, tighter cell radii), which is what lifts recall at a
    * fixed probe count — the production ANN build shape. */
  def ivfTrainedTopK(emb: DataFrame, numQueries: Int, k: Int,
      nprobe: Int = NumProbes): DataFrame = {
    import org.apache.spark.sql.graft.VectorExpressions.fdvecDot
    val cents = trainCentroids(emb)
    val s2 = cents.map(_.foldLeft(0.0)((a, x) => a + x * x))
    def sortedCells(v: Column): Column =
      array_sort(array(cents.indices.map { id =>
        struct((lit(-2.0) * fdvecDot(v, typedlit(cents(id).toSeq)) +
          lit(s2(id))).as("d2"), lit(id).as("cell_id"))
      }: _*))
    val assigned = emb
      .select(col("vec_id"), col("embedding"),
        norm2(col("embedding")).as("n2"),
        sortedCells(col("embedding")).as("sc"))
      .select(col("vec_id"), col("embedding"), col("n2"),
        element_at(col("sc"), 1).getField("cell_id").as("cell"))
      .filter(col("n2") > 0.0) // zero-norm guard (cosine undefined)
    val q = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm2(col("embedding")).as("qn"),
        sortedCells(col("embedding")).as("sc"))
      .select(col("query_id"), col("qv"), col("qn"),
        explode(transform(slice(col("sc"), 1, nprobe),
          s => s.getField("cell_id"))).as("probe"))
      .filter(col("qn") > 0.0)
    val joined = q.join(assigned.as("c"),
        col("c.cell") === col("probe") && col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        (dot(col("qv"), col("c.embedding")) /
          (col("qn") * col("c.n2"))).as("cosine"))
    rankTopKAgg(joined, k)
  }

  /** Shared oracle prefix (n5 trained-IVF, cl1 cluster profile): the SAME
    * deterministic Lloyd run unrolled as [[TrainIters]] CTE stages, ending
    * in `ranked_cells` — every vector's cells ranked by d2 (ties to the
    * lower cell id). Per-dim means are explicit sequential folds over
    * `list(... ORDER BY vec_id)` (NOT `avg`, whose summation order is
    * engine-internal) so every centroid double is bitwise-equal to the
    * Scala fold. */
  private def trainedRankedCellsCtesSql: String = {
    def foldDot(v: String, c: String): String =
      s"""list_reduce(list_prepend(0.0::DOUBLE,
         |  list_transform(range(1, len($v) + 1),
         |    i -> $v[i]::DOUBLE * $c[i])),
         |  (acc, x) -> acc + x)""".stripMargin
    val iters = (0 until TrainIters).map { t =>
      s"""
      s2_$t AS (
        SELECT cell_id, list_reduce(list_prepend(0.0::DOUBLE,
            list_transform(range(1, len(cv) + 1), i -> cv[i] * cv[i])),
          (acc, x) -> acc + x) AS s2
        FROM cent_$t),
      dist_$t AS (
        SELECT s.vec_id, c.cell_id,
          -2.0 * ${foldDot("s.embedding", "c.cv")} + z.s2 AS d2
        FROM sample s CROSS JOIN cent_$t c
        JOIN s2_$t z ON z.cell_id = c.cell_id),
      assign_$t AS (
        SELECT vec_id, cell_id FROM (
          SELECT vec_id, cell_id, row_number() OVER (PARTITION BY vec_id
            ORDER BY d2 ASC, cell_id ASC) AS rn
          FROM dist_$t) WHERE rn = 1),
      mean_$t AS (
        SELECT a.cell_id,
          list(s.embedding ORDER BY s.vec_id) AS vecs, count(*) AS n
        FROM assign_$t a JOIN sample s ON s.vec_id = a.vec_id
        GROUP BY a.cell_id),
      cent_${t + 1} AS (
        SELECT c.cell_id,
          coalesce(list_transform(range(1, len(m.vecs[1]) + 1),
            i -> list_reduce(list_prepend(0.0::DOUBLE,
                list_transform(m.vecs, v -> v[i]::DOUBLE)),
              (acc, x) -> acc + x) / m.n), c.cv) AS cv
        FROM cent_$t c LEFT JOIN mean_$t m ON m.cell_id = c.cell_id)"""
    }.mkString(",")
    val cT = s"cent_$TrainIters"
    s"""
    WITH sample AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < $TrainSample),
    cent_0 AS (
      SELECT vec_id AS cell_id,
        list_transform(range(1, len(embedding) + 1),
          i -> embedding[i]::DOUBLE) AS cv
      FROM sample WHERE vec_id < $NumCells),$iters,
    s2_T AS (
      SELECT cell_id, list_reduce(list_prepend(0.0::DOUBLE,
          list_transform(range(1, len(cv) + 1), i -> cv[i] * cv[i])),
        (acc, x) -> acc + x) AS s2
      FROM $cT),
    dists AS (
      SELECT e.vec_id, c.cell_id,
        -2.0 * ${foldDot("e.embedding", "c.cv")} + z.s2 AS d2
      FROM embeddings e CROSS JOIN $cT c
      JOIN s2_T z ON z.cell_id = c.cell_id),
    ranked_cells AS (
      SELECT vec_id, cell_id, d2,
        row_number() OVER (PARTITION BY vec_id
          ORDER BY d2 ASC, cell_id ASC) AS cell_rank
      FROM dists)"""
  }

  def ivfTrainedTopKSql(numQueries: Int, k: Int,
      nprobe: Int = NumProbes): String = {
    s"""
    $trainedRankedCellsCtesSql,
    assigned AS (
      SELECT e.vec_id, e.embedding,
        ${norm2Sql("e.embedding")} AS n2, rc.cell_id AS cell
      FROM embeddings e
      JOIN ranked_cells rc ON rc.vec_id = e.vec_id AND rc.cell_rank = 1
      WHERE ${norm2Sql("e.embedding")} > 0),
    q AS (
      SELECT e.vec_id AS query_id, e.embedding AS qv,
        ${norm2Sql("e.embedding")} AS qn, rc.cell_id AS probe
      FROM embeddings e
      JOIN ranked_cells rc ON rc.vec_id = e.vec_id
        AND rc.cell_rank <= $nprobe
      WHERE e.vec_id < $numQueries
        AND ${norm2Sql("e.embedding")} > 0),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
        ${dotSql("qv", "c.embedding")} / (qn * c.n2) AS cosine
      FROM q JOIN assigned c ON c.cell = probe AND c.vec_id <> query_id),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
        row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored)
    SELECT query_id, rank::BIGINT AS rank, neighbor_id, cosine
    FROM ranked WHERE rank <= $k"""
  }

  val PqM = 8       // subspaces
  val PqSubDim = 8  // dims per subspace (PqM * PqSubDim = embedding dim)
  val PqKsub = 16   // codebook entries per subspace (seeded: vec_id < Ksub)

  /** Trained-PQ (n8x) default, read off the measured recall-vs-Ksub
    * curve (BASELINE.md; AnnRecallSpec reproduces it): recall@5
    * noise/clustered = 0.26/0.63 at 16, 0.34/0.67 at 64, 0.26/0.81 at
    * 256 — 64 is the knee, better than 16 on BOTH fixtures for 4× encode
    * cost, while 256 overfits the 256-vector training sample on noise
    * (one entry per sample point ≈ seeded again). The seeded exhibit
    * (n8, [[PqKsub]]) deliberately stays at 16. */
  val PqKsubTrained = 64

  /** N8 (E71): product-quantized ANN (the public FAISS PQ/ADC shape) —
    * the third orthogonal index knob after the candidate-set restrictors
    * (n2 LSH / n4 IVF) and scalar quantization (n6): each vector is split
    * into [[PqM]] subvectors and each subvector is replaced by the id of
    * its nearest codebook entry, so a stored candidate is PqM small ints
    * (dim×4 bytes → PqM bytes packed — 32× here vs SQ8's 4×). Codebooks
    * are SEEDED per subspace (the first [[PqKsub]] vectors' subvectors —
    * n4's training-free determinism rationale; k-means training would
    * only move the entry values, see [[trainCentroids]]). Search is
    * asymmetric distance computation: the query computes ONE distance
    * table per subspace (its true L2² to every codebook entry — tiny:
    * Ksub doubles × PqM), and a candidate's approximate distance is the
    * sum of PqM table lookups — no per-pair vector math at all, which is
    * why PQ is the classic memory/compute scale shape for billion-vector
    * search. All folds are sequential doubles (the [[dot]] convention),
    * ties to the lower code / neighbor id ⇒ bitwise cross-engine.
    *
    * Scale: encode is one narrow pass (PqM×Ksub subdim-length codegen'd
    * dots per row ≡ Ksub full-dim dots); the search join ships only
    * (vec_id, PqM codes) per candidate and the query side (with its
    * distance tables) broadcasts; ranking is WindowGroupLimit-bounded.
    * Composable with the IVF cell join exactly as n7 composes SQ. */
  /** Seeded PQ codebooks: codebook[j](c) = (entry-as-doubles, |entry|²) —
    * |e|² folded driver-side, identical to the oracle's list_reduce (same
    * sequential fold). Entries are widened float→double at the boundary
    * (exact), so seeded and trained codebooks share one search path. */
  private[graft] def pqCodebook(emb: DataFrame): Array[Array[(Array[Double], Double)]] = {
    val seeds = emb.filter(col("vec_id") < PqKsub).orderBy(col("vec_id"))
      .select(col("embedding")).collect().map(_.getSeq[Float](0))
    Array.tabulate(PqM) { j =>
      seeds.map { s =>
        val sv = s.slice(j * PqSubDim, (j + 1) * PqSubDim)
          .map(_.toDouble).toArray
        (sv, sv.foldLeft(0.0)((a, x) => a + x * x))
      }
    }
  }

  /** N8x: TRAINED PQ codebooks — the SAME deterministic Lloyd run as
    * n5's coarse quantizer ([[lloyd]]), once per subspace over the
    * training sample's subvectors (seeds = the first [[PqKsub]]
    * subvectors, [[TrainIters]] fixed iterations). Training adapts each
    * subspace's 16 entries to that subspace's actual distribution, which
    * is what lifts ADC distance resolution over arbitrary data-point
    * seeds — the quality knob real PQ deployments always turn (FAISS
    * trains codebooks by default). Bounded driver state: PqM × Ksub ×
    * subdim doubles from the same constant-size sample as n5.
    *
    * `ksub` is the measured quality knob (BASELINE.md recall-vs-Ksub
    * curve): entries per subspace, bounded by the training sample. */
  private[graft] def pqTrainedCodebook(emb: DataFrame,
      ksub: Int = PqKsubTrained): Array[Array[(Array[Double], Double)]] = {
    require(ksub >= 2 && ksub <= TrainSample,
      s"PQ codebook entries must be in [2, TrainSample=$TrainSample], " +
        s"got $ksub — Lloyd seeds are the first ksub sample subvectors")
    val rows = emb.filter(col("vec_id") < TrainSample)
      .orderBy(col("vec_id")).select(col("vec_id"), col("embedding"))
      .collect()
    val ids = rows.map(_.getLong(0))
    require(ids.sameElements(0L until TrainSample.toLong),
      s"PQ training sample must be the dense vec_id prefix " +
        s"0..${TrainSample - 1} — codebook entry ids must equal the " +
        "oracle's vec_id-keyed seeds")
    val sample = rows.map(_.getSeq[Float](1).toArray)
    Array.tabulate(PqM) { j =>
      val sub = sample.map(_.slice(j * PqSubDim, (j + 1) * PqSubDim))
      lloyd(sub, ksub).map(c => (c, c.foldLeft(0.0)((a, x) => a + x * x)))
    }
  }

  private def pqSubv(v: Column, j: Int) = slice(v, j * PqSubDim + 1, PqSubDim)

  /** PQ encode: per subspace, argmin_c (-2⟨s,e⟩ + |e|²) — |s|² is
    * constant across entries (the n4 argmin identity); ties to the lower
    * code. Native codegen'd argmin loop
    * ([[org.apache.spark.sql.graft.PqEncode]]) — this is the corpus-width
    * index-build kernel, and the composed `array_sort`-over-structs form
    * ([[pqCodesComposed]], kept for the equivalence spec) allocates
    * M×Ksub boxed structs per ROW, which dominated n8x at Ksub=64. */
  private[graft] def pqCodes(cb: Array[Array[(Array[Double], Double)]],
      v: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.pqEncode(
      v, cb.toSeq.map(_.toSeq.map(_._1.toSeq)))

  /** The composed argmin (struct sort) — same codes as [[pqCodes]],
    * interpreted struct allocation per entry; equivalence-spec twin. */
  private[graft] def pqCodesComposed(
      cb: Array[Array[(Array[Double], Double)]], v: Column): Column = {
    import org.apache.spark.sql.graft.VectorExpressions.fdvecDot
    array((0 until PqM).map { j =>
      val s = pqSubv(v, j)
      val ds = cb(j).zipWithIndex.map { case ((e, ee), c) =>
        struct((lit(-2.0) * fdvecDot(s, typedlit(e.toSeq)) + lit(ee)).as("d2p"),
          lit(c).as("code"))
      }
      element_at(array_sort(array(ds.toIndexedSeq: _*)), 1).getField("code")
    }: _*)
  }

  /** ADC distance tables: dtab[j][c] = |q_j|² - 2⟨q_j,e⟩ + |e|² (true
    * L2², so the reported approx_d2 is the standard ADC estimate, not
    * rank-only). Native ([[org.apache.spark.sql.graft.PqDtab]]) — only Q
    * rows evaluate it, but the composed form's M×Ksub unrolled literal
    * arrays made plan analysis + fresh-per-invocation Janino compile the
    * dominant n8x cost at Ksub=64; one node keeps the plan constant-size
    * at any Ksub. */
  private[graft] def pqDtab(cb: Array[Array[(Array[Double], Double)]],
      v: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.pqDtab(
      v, cb.toSeq.map(_.toSeq.map(_._1.toSeq)))

  /** The composed dtab (unrolled literal arrays) — equivalence-spec twin
    * of the native [[pqDtab]]. */
  private[graft] def pqDtabComposed(
      cb: Array[Array[(Array[Double], Double)]], v: Column): Column = {
    import org.apache.spark.sql.graft.VectorExpressions.fdvecDot
    array((0 until PqM).map { j =>
      val s = pqSubv(v, j)
      array(cb(j).map { case (e, ee) =>
        dot(s, s) - lit(2.0) * fdvecDot(s, typedlit(e.toSeq)) + lit(ee)
      }.toIndexedSeq: _*)
    }: _*)
  }

  /** The per-pair ADC sum: PqM table lookups, fixed j order. */
  private def pqAdcSum(dtab: Column, codes: Column): Column =
    (0 until PqM).map { j =>
      element_at(element_at(dtab, j + 1), element_at(codes, j + 1) + 1)
    }.reduceLeft(_ + _)

  private def pqRank(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_d2").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("approx_d2"))
  }

  def pqTopK(emb: DataFrame, numQueries: Int, k: Int): DataFrame =
    pqSearch(emb, pqCodebook(emb), numQueries, k)

  /** N8x (E71 quality close): PQ ANN with TRAINED codebooks — identical
    * encode/ADC/rank structure to [[pqTopK]], with per-subspace Lloyd
    * centroids ([[pqTrainedCodebook]]) in place of the raw seed
    * subvectors. Same scale shape (one narrow encode pass, broadcast
    * query side, WindowGroupLimit rank); only the codebook literals
    * differ. AnnRecallSpec measures the recall lift over the seeded
    * exhibit and the recall-vs-`ksub` curve (BASELINE.md) behind the
    * default. */
  def pqTrainedTopK(emb: DataFrame, numQueries: Int, k: Int,
      ksub: Int = PqKsubTrained): DataFrame =
    pqSearch(emb, pqTrainedCodebook(emb, ksub), numQueries, k)

  private def pqSearch(emb: DataFrame,
      cb: Array[Array[(Array[Double], Double)]],
      numQueries: Int, k: Int): DataFrame = {
    val coded = emb.select(col("vec_id"),
      pqCodes(cb, col("embedding")).as("codes"))
    val q = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"),
        pqDtab(cb, col("embedding")).as("dtab"))
    val joined = broadcast(q).join(coded.as("c"),
        col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        pqAdcSum(col("dtab"), col("codes")).as("approx_d2"))
    pqRank(joined, k)
  }

  def pqTopKSql(numQueries: Int, k: Int): String = {
    // The ADC sum runs in LONG format — candidate codes joined to the
    // query distance tables on (j, code), then folded per pair over a
    // j-ORDERED list (list_reduce over list(d2 ORDER BY j) ≡ Spark's
    // fixed-order reduceLeft, bitwise). A codes-wide PqM-way self-join
    // formulation made DuckDB's join-order planner go quadratic-plus
    // (the dj⋈dj' pairs bind on query_id alone before the candidate
    // relation enters — 16^M intermediate rows).
    s"""
    WITH subs AS (
      SELECT e.vec_id, t.j,
        embedding[(t.j*$PqSubDim+1)::INT:(t.j*$PqSubDim+$PqSubDim)::INT]
          AS sv
      FROM embeddings e CROSS JOIN range(0, $PqM) t(j)),
    cb AS (
      SELECT s.j, s.vec_id AS code, s.sv,
        list_reduce(list_prepend(0.0::DOUBLE,
          list_transform(s.sv, x -> x::DOUBLE * x::DOUBLE)),
          (acc, x) -> acc + x) AS ee
      FROM subs s WHERE s.vec_id < $PqKsub),
    enc AS (
      SELECT s.vec_id, s.j, cb.code,
        -2.0 * ${dotSql("s.sv", "cb.sv")} + cb.ee AS d2p
      FROM subs s JOIN cb ON cb.j = s.j),
    enc_r AS (
      SELECT vec_id, j, code,
        row_number() OVER (PARTITION BY vec_id, j
          ORDER BY d2p ASC, code ASC) AS rn
      FROM enc),
    codesl AS (
      SELECT vec_id, j, code FROM enc_r WHERE rn = 1),
    qd AS (
      SELECT s.vec_id AS query_id, s.j, cb.code,
        ${dotSql("s.sv", "s.sv")} - 2.0 * ${dotSql("s.sv", "cb.sv")}
          + cb.ee AS d2
      FROM subs s JOIN cb ON cb.j = s.j
      WHERE s.vec_id < $numQueries),
    flag AS (
      SELECT qd.query_id, cl.vec_id, qd.j, qd.d2
      FROM codesl cl JOIN qd ON qd.j = cl.j AND qd.code = cl.code
      WHERE cl.vec_id <> qd.query_id),
    scored AS (
      SELECT query_id, vec_id AS neighbor_id,
        list_reduce(list_prepend(0.0::DOUBLE, list(d2 ORDER BY j)),
          (acc, x) -> acc + x) AS approx_d2
      FROM flag GROUP BY query_id, vec_id),
    ranked AS (
      SELECT query_id, neighbor_id, approx_d2,
        row_number() OVER (PARTITION BY query_id
          ORDER BY approx_d2 ASC, neighbor_id ASC) AS rank
      FROM scored)
    SELECT query_id, rank::BIGINT AS rank, neighbor_id, approx_d2
    FROM ranked WHERE rank <= $k"""
  }

  /** Oracle for [[pqTrainedTopK]]: the per-subspace Lloyd run unrolled as
    * [[TrainIters]] CTE stages keyed by (j, code) — the n5 oracle pattern
    * with the subspace id carried through every stage — then the
    * [[pqTopKSql]] encode/ADC/rank tail against the trained entries.
    * Per-entry means are explicit sequential folds over
    * `list(sv ORDER BY vec_id)` so every centroid double is bitwise-equal
    * to the Scala fold. */
  def pqTrainedTopKSql(numQueries: Int, k: Int,
      ksub: Int = PqKsubTrained): String = {
    def foldDot(v: String, c: String): String =
      s"""list_reduce(list_prepend(0.0::DOUBLE,
         |  list_transform(range(1, len($v) + 1),
         |    i -> $v[i]::DOUBLE * $c[i])),
         |  (acc, x) -> acc + x)""".stripMargin
    val iters = (0 until TrainIters).map { t =>
      s"""
      s2_$t AS (
        SELECT j, code, list_reduce(list_prepend(0.0::DOUBLE,
            list_transform(range(1, len(cv) + 1), i -> cv[i] * cv[i])),
          (acc, x) -> acc + x) AS s2
        FROM cent_$t),
      dist_$t AS (
        SELECT s.vec_id, s.j, c.code,
          -2.0 * ${foldDot("s.sv", "c.cv")} + z.s2 AS d2
        FROM sample s JOIN cent_$t c ON c.j = s.j
        JOIN s2_$t z ON z.j = c.j AND z.code = c.code),
      assign_$t AS (
        SELECT vec_id, j, code FROM (
          SELECT vec_id, j, code, row_number() OVER (PARTITION BY vec_id, j
            ORDER BY d2 ASC, code ASC) AS rn
          FROM dist_$t) WHERE rn = 1),
      mean_$t AS (
        SELECT a.j, a.code,
          list(s.sv ORDER BY s.vec_id) AS vecs, count(*) AS n
        FROM assign_$t a JOIN sample s ON s.vec_id = a.vec_id AND s.j = a.j
        GROUP BY a.j, a.code),
      cent_${t + 1} AS (
        SELECT c.j, c.code,
          coalesce(list_transform(range(1, len(m.vecs[1]) + 1),
            i -> list_reduce(list_prepend(0.0::DOUBLE,
                list_transform(m.vecs, v -> v[i]::DOUBLE)),
              (acc, x) -> acc + x) / m.n), c.cv) AS cv
        FROM cent_$t c LEFT JOIN mean_$t m ON m.j = c.j AND m.code = c.code)"""
    }.mkString(",")
    val cT = s"cent_$TrainIters"
    s"""
    WITH subs AS (
      SELECT e.vec_id, t.j,
        embedding[(t.j*$PqSubDim+1)::INT:(t.j*$PqSubDim+$PqSubDim)::INT]
          AS sv
      FROM embeddings e CROSS JOIN range(0, $PqM) t(j)),
    sample AS (
      SELECT vec_id, j, sv FROM subs WHERE vec_id < $TrainSample),
    cent_0 AS (
      SELECT j, vec_id AS code,
        list_transform(range(1, len(sv) + 1), i -> sv[i]::DOUBLE) AS cv
      FROM sample WHERE vec_id < $ksub),$iters,
    cb AS (
      SELECT j, code, cv, list_reduce(list_prepend(0.0::DOUBLE,
          list_transform(range(1, len(cv) + 1), i -> cv[i] * cv[i])),
        (acc, x) -> acc + x) AS ee
      FROM $cT),
    enc AS (
      SELECT s.vec_id, s.j, cb.code,
        -2.0 * ${foldDot("s.sv", "cb.cv")} + cb.ee AS d2p
      FROM subs s JOIN cb ON cb.j = s.j),
    enc_r AS (
      SELECT vec_id, j, code,
        row_number() OVER (PARTITION BY vec_id, j
          ORDER BY d2p ASC, code ASC) AS rn
      FROM enc),
    codesl AS (
      SELECT vec_id, j, code FROM enc_r WHERE rn = 1),
    qd AS (
      SELECT s.vec_id AS query_id, s.j, cb.code,
        ${dotSql("s.sv", "s.sv")} - 2.0 * ${foldDot("s.sv", "cb.cv")}
          + cb.ee AS d2
      FROM subs s JOIN cb ON cb.j = s.j
      WHERE s.vec_id < $numQueries),
    flag AS (
      SELECT qd.query_id, cl.vec_id, qd.j, qd.d2
      FROM codesl cl JOIN qd ON qd.j = cl.j AND qd.code = cl.code
      WHERE cl.vec_id <> qd.query_id),
    scored AS (
      SELECT query_id, vec_id AS neighbor_id,
        list_reduce(list_prepend(0.0::DOUBLE, list(d2 ORDER BY j)),
          (acc, x) -> acc + x) AS approx_d2
      FROM flag GROUP BY query_id, vec_id),
    ranked AS (
      SELECT query_id, neighbor_id, approx_d2,
        row_number() OVER (PARTITION BY query_id
          ORDER BY approx_d2 ASC, neighbor_id ASC) AS rank
      FROM scored)
    SELECT query_id, rank::BIGINT AS rank, neighbor_id, approx_d2
    FROM ranked WHERE rank <= $k"""
  }

  /** N9 (E74): IVF∘PQ composed ANN — the public FAISS IVFPQ flagship
    * shape: the coarse quantizer restricts the candidate SET (n4's cell
    * probe join) while product quantization shrinks each stored
    * candidate to [[PqM]] code bytes (n8's ADC scoring) — the
    * billion-vector index in its standard form. The stored search-tier
    * row is only (cell, codes): PqM+1 small ints per vector; raw floats
    * exist only at build time, exactly the n7 index philosophy with 8×
    * fewer code bytes. One narrow build pass computes cell AND codes;
    * search joins each query's `nprobe` cells, then ranks on per-pair
    * ADC table lookups (no per-pair vector math). Recall = the cell
    * restriction's recall × PQ's resolution (AnnRecallSpec pins the
    * composition against its floor). */
  def ivfPqTopK(emb: DataFrame, numQueries: Int, k: Int,
      nprobe: Int = NumProbes): DataFrame = {
    val cb = pqCodebook(emb)
    val sortedCells = sortedCellsFor(emb)
    val cand = emb.select(col("vec_id"),
      pqCodes(cb, col("embedding")).as("codes"),
      element_at(sortedCells(col("embedding")), 1).getField("cell_id")
        .as("cell"))
    val q = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"),
        pqDtab(cb, col("embedding")).as("dtab"),
        explode(transform(slice(sortedCells(col("embedding")), 1, nprobe),
          s => s.getField("cell_id"))).as("probe"))
    val joined = q.join(cand.as("c"),
        col("c.cell") === col("probe") && col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        pqAdcSum(col("dtab"), col("codes")).as("approx_d2"))
    pqRank(joined, k)
  }

  def ivfPqTopKSql(numQueries: Int, k: Int,
      nprobe: Int = NumProbes): String = s"""
    WITH seeds AS (
      SELECT vec_id AS cell_id, embedding AS sv,
        list_reduce(list_prepend(0.0::DOUBLE,
          list_transform(range(1, len(embedding) + 1),
            i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)),
          (acc, x) -> acc + x) AS s2
      FROM embeddings WHERE vec_id < $NumCells),
    cdists AS (
      SELECT e.vec_id, s.cell_id,
        -2.0 * ${dotSql("e.embedding", "s.sv")} + s.s2 AS d2
      FROM embeddings e CROSS JOIN seeds s),
    ranked_cells AS (
      SELECT vec_id, cell_id, d2,
        row_number() OVER (PARTITION BY vec_id
          ORDER BY d2 ASC, cell_id ASC) AS cell_rank
      FROM cdists),
    cellof AS (
      SELECT vec_id, cell_id AS cell FROM ranked_cells WHERE cell_rank = 1),
    subs AS (
      SELECT e.vec_id, t.j,
        embedding[(t.j*$PqSubDim+1)::INT:(t.j*$PqSubDim+$PqSubDim)::INT]
          AS sv
      FROM embeddings e CROSS JOIN range(0, $PqM) t(j)),
    cb AS (
      SELECT s.j, s.vec_id AS code, s.sv,
        list_reduce(list_prepend(0.0::DOUBLE,
          list_transform(s.sv, x -> x::DOUBLE * x::DOUBLE)),
          (acc, x) -> acc + x) AS ee
      FROM subs s WHERE s.vec_id < $PqKsub),
    enc AS (
      SELECT s.vec_id, s.j, cb.code,
        -2.0 * ${dotSql("s.sv", "cb.sv")} + cb.ee AS d2p
      FROM subs s JOIN cb ON cb.j = s.j),
    enc_r AS (
      SELECT vec_id, j, code,
        row_number() OVER (PARTITION BY vec_id, j
          ORDER BY d2p ASC, code ASC) AS rn
      FROM enc),
    codesl AS (
      SELECT vec_id, j, code FROM enc_r WHERE rn = 1),
    qd AS (
      SELECT s.vec_id AS query_id, s.j, cb.code,
        ${dotSql("s.sv", "s.sv")} - 2.0 * ${dotSql("s.sv", "cb.sv")}
          + cb.ee AS d2
      FROM subs s JOIN cb ON cb.j = s.j
      WHERE s.vec_id < $numQueries),
    pairs AS (
      SELECT rc.vec_id AS query_id, c.vec_id
      FROM ranked_cells rc
      JOIN cellof c ON c.cell = rc.cell_id AND c.vec_id <> rc.vec_id
      WHERE rc.vec_id < $numQueries AND rc.cell_rank <= $nprobe),
    flag AS (
      SELECT p.query_id, p.vec_id, qd.j, qd.d2
      FROM pairs p
      JOIN codesl cl ON cl.vec_id = p.vec_id
      JOIN qd ON qd.query_id = p.query_id AND qd.j = cl.j
        AND qd.code = cl.code),
    scored AS (
      SELECT query_id, vec_id AS neighbor_id,
        list_reduce(list_prepend(0.0::DOUBLE, list(d2 ORDER BY j)),
          (acc, x) -> acc + x) AS approx_d2
      FROM flag GROUP BY query_id, vec_id),
    ranked AS (
      SELECT query_id, neighbor_id, approx_d2,
        row_number() OVER (PARTITION BY query_id
          ORDER BY approx_d2 ASC, neighbor_id ASC) AS rank
      FROM scored)
    SELECT query_id, rank::BIGINT AS rank, neighbor_id, approx_d2
    FROM ranked WHERE rank <= $k"""

  val NearDupCosine = 0.9
  val VecTwinOffset = 10000000L

  /** Sentinel for [[semDedup]]'s `numCells`: derive the cell count from
    * the corpus size instead of pinning a constant. */
  val CellsBySize = 0

  /** Floor for the derived cell count — below this the per-cell pair
    * join is cheap at any corpus size that matters. */
  val SemDedupMinCells = 64

  /** Target vectors per cell for the derived count. Chosen from the ×50
    * sweep measurement (BASELINE.md): at 200k twinned vectors the
    * hand-turned knee was 256 cells ≈ 780 vectors/cell (10.1 s vs the
    * 64-cell default's quadratic 26.4 s); 768 reproduces that knee
    * (ceil(200000/768) = 261) and keeps within-cell pair volume
    * ~cell_size²/2 ≈ 300k pairs/cell flat as the corpus grows. */
  val SemDedupTargetCellSize = 768

  /** cells = max(SemDedupMinCells, ceil(corpusRows / SemDedupTargetCellSize)).
    * Seeds are the first `cells` vec_ids, so the derived count is valid
    * whenever the raw corpus has at least that many low ids — true by
    * construction here (cells ≤ max(64, 2n/768) ≤ n for n ≥ 64). */
  def semDedupCells(corpusRows: Long): Int =
    math.max(SemDedupMinCells.toLong,
      (corpusRows + SemDedupTargetCellSize - 1) / SemDedupTargetCellSize)
      .toInt

  /** Corpus with planted duplicate vectors (verbatim twin at id+offset) so
    * the near-dup operator has positives to find at any scale factor. */
  def withNearDupVecs(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.select((col("vec_id") + VecTwinOffset).as("vec_id"),
        col("embedding")))

  def withNearDupVecsSql: String = s"""
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + $VecTwinOffset AS vec_id, embedding FROM embeddings"""

  /** Cosine floor for E129: planted verbatim twins score exactly 1.0
    * while the measured cross-cosine noise ceiling on this corpus is
    * ~0.50 (both SFs, BASELINE-checked) — 0.9 separates with margin. */
  val SemDeconThreshold = 0.9

  /** E129 (C4): SEMANTIC decontamination — the embedding-space tier that
    * completes the contamination ladder (c1 byte-identical → c2 shared
    * n-grams → c3 lexical near-dup → this): training vectors whose
    * cosine to ANY eval vector clears [[SemDeconThreshold]] are flagged
    * with the best-matching eval id (paraphrased eval leakage that no
    * lexical tier can see — the reason eval suites decontaminate in
    * embedding space). Eval side = the c2 id-modulus convention
    * (vec_id % 97); the train side plants verbatim eval twins at
    * id+offset (the c3 convention: positives exist at any scale, cosine
    * exactly 1.0). One n1-shape broadcast scoring pass (eval is small by
    * nature), the threshold prunes BEFORE the per-train-vector window
    * (f15's rank-1 + count shape); swaps for any ANN tier at scale (the
    * n1-vs-ladder contract). */
  def semanticDecon(embRaw: DataFrame): DataFrame = {
    val base = embRaw.select(col("vec_id"), col("embedding"))
    val eval = base.filter(pmod(col("vec_id"), lit(97L)) === 0)
    val train = base.filter(pmod(col("vec_id"), lit(97L)) =!= 0)
      .unionByName(eval.select(
        (col("vec_id") + VecTwinOffset).as("vec_id"), col("embedding")))
    val e = eval.select(col("vec_id").as("eval_id"),
        col("embedding").as("ev"), norm2(col("embedding")).as("en"))
      .filter(col("en") > 0.0)
    val scored = train
      .select(col("vec_id"), col("embedding"),
        norm2(col("embedding")).as("n2"))
      .filter(col("n2") > 0.0)
      .join(broadcast(e), dot(col("embedding"), col("ev")) /
        (col("n2") * col("en")) >= SemDeconThreshold)
      .select(col("vec_id"), col("eval_id"),
        (dot(col("embedding"), col("ev")) /
          (col("n2") * col("en"))).as("cos"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("eval_id").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .withColumn("n_matches",
        count(lit(1)).over(Window.partitionBy(col("vec_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("eval_id"), col("cos").as("best_cos"),
        col("n_matches"))
  }

  def semanticDeconSql: String = s"""
    WITH base AS (SELECT vec_id, embedding FROM embeddings),
    ev AS (
      SELECT vec_id AS eval_id, embedding AS evv,
        ${norm2Sql("embedding")} AS en
      FROM base WHERE vec_id % 97 = 0),
    evl AS (SELECT * FROM ev WHERE en > 0),
    tr AS (
      SELECT vec_id, embedding FROM base WHERE vec_id % 97 <> 0
      UNION ALL
      SELECT vec_id + $VecTwinOffset AS vec_id, embedding
      FROM base WHERE vec_id % 97 = 0),
    trl AS (
      SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2
      FROM tr),
    scored AS (
      SELECT t.vec_id, e.eval_id,
        ${dotSql("t.embedding", "e.evv")} / (t.n2 * e.en) AS cos
      FROM (SELECT * FROM trl WHERE n2 > 0) t
      JOIN evl e
        ON ${dotSql("t.embedding", "e.evv")} / (t.n2 * e.en)
          >= $SemDeconThreshold)
    SELECT vec_id, eval_id, cos AS best_cos, n_matches
    FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY cos DESC, eval_id ASC) AS rn,
        count(*) OVER (PARTITION BY vec_id) AS n_matches
      FROM scored)
    WHERE rn = 1"""

  /** D6: embedding-cosine near-dup pairs — all pairs above the threshold,
    * LSH-bucket-restricted (same rationale as [[lshTopK]]: near-identical
    * vectors land in the same sign bucket with high probability, so the
    * pair join is per-bucket, not all-pairs). Runs over the planted-twin
    * corpus so positives exist (each twin pair has cosine 1.0). */
  def embeddingNearDups(embRaw: DataFrame): DataFrame = {
    val emb = withNearDupVecs(embRaw)
    val bucketed = emb.select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2"),
      lshBucket(col("embedding")).as("bucket"))
      // zero-norm guard: Spark drops a NaN cosine at the >= filter but
      // DuckDB compares NaN greater — excluded on both sides instead
      .filter(col("n2") > 0.0)
    bucketed.as("x").join(bucketed.as("y"),
        col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        (dot(col("x.embedding"), col("y.embedding")) /
          (col("x.n2") * col("y.n2"))).as("cosine"))
      .filter(col("cosine") >= NearDupCosine)
  }

  def embeddingNearDupsSql: String = s"""
    WITH twinned AS ($withNearDupVecsSql),
    bucketed AS (
      SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2,
        ${lshBucketSql("embedding")} AS bucket
      FROM twinned WHERE ${norm2Sql("embedding")} > 0)
    SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
      ${dotSql("x.embedding", "y.embedding")} / (x.n2 * y.n2) AS cosine
    FROM bucketed x JOIN bucketed y
      ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    WHERE ${dotSql("x.embedding", "y.embedding")} / (x.n2 * y.n2)
      >= $NearDupCosine"""

  /** D12 (E95): semantic deduplication (the published SemDeDup shape) —
    * cluster the embedding corpus with the coarse quantizer, then find
    * near-duplicate pairs only WITHIN a cluster and keep one
    * representative per duplicate group (min vec_id). The difference from
    * d6 is the candidate restriction: d6's hyperplane sign buckets are
    * data-oblivious; here the cells are the data-adaptive k-means-style
    * partition (n4's quantizer), which is what lets the method catch
    * SEMANTIC duplicates that differ in surface form. Output is the drop
    * list with provenance: each dropped vector, its keeper (lowest-id
    * within-cell partner above the cosine bar), the best cosine, and how
    * many partners it had.
    *
    * Scale: assignment is one narrow pass (cells codegen'd dot
    * products/row); the pair join is per-cell — quadratic only within a
    * cell, the published algorithm's own cost model, bounded by growing
    * the cell count with the corpus so cell size stays ~constant. The
    * DEFAULT now turns that knob itself: `numCells = CellsBySize` derives
    * cells = max([[SemDedupMinCells]], ceil(corpus / [[SemDedupTargetCellSize]]))
    * from one O(1)-output count of the twinned corpus, so the measured
    * ×50 quadratic wall of a fixed small cell count (BASELINE.md) cannot
    * recur silently; an explicit `numCells > 0` still overrides (the
    * d12x pinned-knob twin). The keeper aggregate is doc-grain. No
    * corpus-wide all-pairs anywhere.
    *
    * Bound of THIS quantizer: the flat argmin costs N×cells dots (and
    * ships all seeds to every executor), growing linearly in the cell
    * count — the measured crossover against the two-level assignment
    * ([[semDedupHier]], d13) sits at ≈1000–2000 cells (≈1–1.5M vectors
    * under the derived default; table in BASELINE.md "Hierarchical
    * SemDeDup assignment").
    * This stays the default because its partition is the exact argmin;
    * above ~1M vectors use [[semDedupHier]], and past the seed-collect
    * bound (~1e5 cells) flat is infeasible outright. */
  def semDedup(embRaw: DataFrame,
      numCells: Int = CellsBySize): DataFrame = {
    val emb = withNearDupVecs(embRaw)
    val cells =
      if (numCells != CellsBySize) numCells
      // twin corpus is exactly 2n rows by construction — count the raw
      // side once (narrow single-column scan) instead of the union
      else semDedupCells(2L * embRaw.count())
    // argmin-cell via the native PqEncode kernel with m=1 (same distance
    // form -2⟨v,s⟩+|s|², same double total-order, same lower-id
    // tie-break as the array_sort formulation — AnnIndexSpec pins the
    // equivalence for PQ, AnnRecallSpec/d12 hash parity pins it here).
    // The composed [[sortedCellsFor]] unrolls `cells` struct builds +
    // an array_sort PER ROW: fine at the fixed 16-cell IVF default, but
    // the SIZE-DERIVED cell count grows with the corpus, and at ×100
    // (≈521 cells) the unrolled expression fell out of codegen and made
    // assignment the dominant N×cells cost (BASELINE.md ×100 row).
    val argminCell = argminCellFor(emb, cells)
    val assigned = emb.select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2"),
      argminCell(col("embedding")).as("cell"))
    semDedupPairs(assigned)
  }

  /** Coarse-level size for the hierarchical assign: K1 = ⌈√cells⌉ —
    * balances the two argmin stages (K1 + cells/K1 minimized at √cells).
    * One formula, mirrored in the oracle. */
  def hierCoarseCount(cells: Int): Int =
    math.ceil(math.sqrt(cells.toDouble)).toInt

  /** D13 (E102): SemDeDup with HIERARCHICAL cell assignment — the scale
    * path past [[semDedup]]'s flat argmin once the SIZE-DERIVED cell
    * count itself is large (the documented seed-collect bound): argmin
    * over K1 = ⌈√cells⌉ coarse centroids (the first K1 seeds), then
    * argmin over only that coarse bucket's fine seeds — per-row assign
    * cost K1 + bucket ≈ 2√cells instead of cells (the FAISS coarse+fine
    * IVF composition), one codegen'd kernel
    * ([[org.apache.spark.sql.graft.PqEncodeNested]]). The partition is
    * an APPROXIMATION of the flat argmin (a vector near a coarse
    * boundary may land in a different fine cell), which is exactly how
    * production IVF assignment works — and identical vectors still take
    * identical paths, so planted twins always share a cell and the d12
    * recall-by-construction property holds unchanged (AnnRecallSpec).
    * Pair join + keeper aggregate are [[semDedup]]'s verbatim. The
    * oracle mirrors both argmin stages (same seed set, same fine→coarse
    * bucketing, same rank form) in SQL.
    *
    * When to use which — MEASURED, not extrapolated (the ×100 /
    * 400k-vector corpus, BASELINE.md "Hierarchical SemDeDup
    * assignment"): flat cost grows
    * linearly in the cell count (assignment is N×cells) while this
    * operator flat-lines — 4.9 vs 5.5 s at 521 cells (flat wins,
    * narrowly), 13.0 vs 4.9 s at 2000, 34.6 vs 7.9 s at 5000 (4.4×),
    * outputs within ~1% throughout. Under the derived-cells default
    * (cells ∝ corpus/768) that crossover corresponds to a corpus of
    * ~1–1.5M vectors. [[semDedup]] stays the default because its
    * partition is the exact argmin (and the verify-SF floor sits well
    * below the crossover); callers above ~1M vectors should reach for
    * this operator, and past the seed-collect bound (~1e5 cells) flat
    * is infeasible outright. */
  def semDedupHier(embRaw: DataFrame,
      numCells: Int = CellsBySize): DataFrame = {
    val emb = withNearDupVecs(embRaw)
    val cells =
      if (numCells != CellsBySize) numCells
      else semDedupCells(2L * embRaw.count())
    // seeds widened float→double ONCE (exact) — the same arithmetic the
    // kernel, the flat path and the oracle use
    val seeds: Array[(Int, IndexedSeq[Double])] =
      emb.filter(col("vec_id") < cells).orderBy(col("vec_id"))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt,
          r.getSeq[Float](1).map(_.toDouble).toIndexedSeq))
    // clamped to the seeds actually present: a corpus smaller than
    // ⌈√cells⌉ rows must degrade like the flat path does (review #6),
    // and the oracle clamps with the same least()
    val k1 = math.min(hierCoarseCount(cells), seeds.length)
    val coarse = seeds.take(k1).map(_._2)
    val coarseNorms = coarse.map(_.foldLeft(0.0)((a, x) => a + x * x))
    // fine→coarse bucketing, driver-side, with the kernel's exact rank
    // form (sequential fold, total order, lowest-bucket tie-break) — the
    // oracle recomputes the identical partition in SQL
    def coarseOf(v: IndexedSeq[Double]): Int = {
      var best = 0; var bestD = 0.0; var c = 0
      while (c < coarse.length) {
        var acc = 0.0; var i = 0
        val n = math.min(v.length, coarse(c).length)
        while (i < n) { acc += v(i) * coarse(c)(i); i += 1 }
        val d = -2.0 * acc + coarseNorms(c)
        if (c == 0 || org.apache.spark.sql.catalyst.util.SQLOrderingUtil
          .compareDoubles(d, bestD) < 0) { bestD = d; best = c }
        c += 1
      }
      best
    }
    val fineByBucket: IndexedSeq[Seq[(Int, Seq[Double])]] =
      IndexedSeq.tabulate(k1) { b =>
        seeds.iterator.filter(s => coarseOf(s._2) == b)
          .map { case (id, v) => (id, v: Seq[Double]) }.toSeq
      }
    // the kernel's coarse argmin runs over NON-EMPTY buckets only
    // (review #7): in exact arithmetic an empty bucket is never
    // selectable (its seed lost only to an identical lower coarse, which
    // then also wins every vector), but floating-point folds over
    // NEAR-identical seeds can round the two sides differently — Spark
    // would then emit a wrong cell while the oracle drops the row. The
    // oracle restricts its vector→coarse rank to fine_bucket's image,
    // the exact same set; ascending bucket order keeps the positional
    // tie-break ≡ the oracle's bucket_id tie-break.
    val kept = fineByBucket.zipWithIndex.collect {
      case (b, i) if b.nonEmpty => (coarse(i): Seq[Double], b)
    }
    val cellCol = org.apache.spark.sql.graft.VectorExpressions
      .pqEncodeNested(col("embedding"), kept.map(_._1), kept.map(_._2))
    val assigned = emb.select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2"), cellCol.as("cell"))
    semDedupPairs(assigned)
  }

  /** Shared within-cell pair join + keeper aggregate — ONE definition
    * for the flat (d12/d12x) and hierarchical (d13) assignments, so the
    * dedup contract (cosine bar, pair orientation, keeper tie policy)
    * can never fork between them (review #8). */
  private def semDedupPairs(assigned: DataFrame): DataFrame =
    assigned.as("x").join(assigned.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("lo"), col("y.vec_id").as("vec_id"),
        (dot(col("x.embedding"), col("y.embedding")) /
          (col("x.n2") * col("y.n2"))).as("cosine"))
      .filter(col("cosine") >= NearDupCosine)
      .groupBy(col("vec_id"))
      .agg(min(col("lo")).as("keeper_id"),
        max(col("cosine")).as("best_cosine"),
        count(lit(1)).as("n_partners"))

  /** Oracle for [[semDedupHier]]: both argmin stages unrolled in SQL —
    * the fine→coarse bucketing over the seed relation, the vector→coarse
    * rank, then the vector→fine rank restricted to the bucket. */
  def semDedupHierSql(numCells: Int = CellsBySize): String = {
    val cellExpr =
      if (numCells != CellsBySize)
        s"SELECT ${numCells}::BIGINT AS cb"
      else s"""SELECT greatest($SemDedupMinCells,
          (2 * count(*) + ${SemDedupTargetCellSize - 1})
            // $SemDedupTargetCellSize)::BIGINT AS cb FROM embeddings"""
    val s2 = s"""list_reduce(list_prepend(0.0::DOUBLE,
        list_transform(range(1, len(embedding) + 1),
          i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)),
        (acc, x) -> acc + x)"""
    s"""
    WITH twinned AS ($withNearDupVecsSql),
    cellb AS ($cellExpr),
    seeds AS (
      SELECT vec_id AS cell_id, embedding AS sv, $s2 AS s2
      FROM embeddings WHERE vec_id < (SELECT cb FROM cellb)),
    coarse AS (
      SELECT cell_id AS bucket_id, sv, s2 FROM seeds
      WHERE cell_id < (SELECT least(CAST(ceil(sqrt(cb)) AS BIGINT),
        (SELECT count(*) FROM seeds)) FROM cellb)),
    fine_bucket AS (
      SELECT cell_id, bucket_id FROM (
        SELECT f.cell_id, c.bucket_id,
          row_number() OVER (PARTITION BY f.cell_id
            ORDER BY -2.0 * ${dotSql("f.sv", "c.sv")} + c.s2 ASC,
              c.bucket_id ASC) AS rnk
        FROM seeds f CROSS JOIN coarse c) WHERE rnk = 1),
    vcoarse AS (
      SELECT vec_id, bucket_id FROM (
        SELECT e.vec_id, c.bucket_id,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY -2.0 * ${dotSql("e.embedding", "c.sv")} + c.s2 ASC,
              c.bucket_id ASC) AS rnk
        FROM twinned e CROSS JOIN (
          -- the vector->coarse rank runs over NON-EMPTY buckets only,
          -- the exact set the kernel keeps (see semDedupHier review #7)
          SELECT * FROM coarse WHERE bucket_id IN
            (SELECT DISTINCT bucket_id FROM fine_bucket)) c)
        WHERE rnk = 1),
    vfine AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, f.cell_id AS cell,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY -2.0 * ${dotSql("e.embedding", "f.sv")} + f.s2 ASC,
              f.cell_id ASC) AS rnk
        FROM twinned e
        JOIN vcoarse vc ON vc.vec_id = e.vec_id
        JOIN fine_bucket fb ON fb.bucket_id = vc.bucket_id
        JOIN seeds f ON f.cell_id = fb.cell_id) WHERE rnk = 1),
    assigned AS (
      SELECT e.vec_id, e.embedding, ${norm2Sql("e.embedding")} AS n2,
        vf.cell
      FROM twinned e JOIN vfine vf ON vf.vec_id = e.vec_id),
    pairs AS (
      SELECT x.vec_id AS lo, y.vec_id AS vec_id,
        ${dotSql("x.embedding", "y.embedding")} / (x.n2 * y.n2) AS cosine
      FROM assigned x JOIN assigned y
        ON x.cell = y.cell AND x.vec_id < y.vec_id
      WHERE ${dotSql("x.embedding", "y.embedding")} / (x.n2 * y.n2)
        >= $NearDupCosine)
    SELECT vec_id, min(lo) AS keeper_id, max(cosine) AS best_cosine,
      count(*)::BIGINT AS n_partners
    FROM pairs GROUP BY 1"""
  }

  def semDedupSql(numCells: Int = CellsBySize): String = {
    // the oracle derives the same cell count from the same corpus-size
    // formula (twinned corpus = 2n by construction), so Spark default and
    // SQL default stay value-identical at any scale factor
    val cellBound =
      if (numCells != CellsBySize) numCells.toString
      else s"""(SELECT greatest($SemDedupMinCells,
          (2 * count(*) + ${SemDedupTargetCellSize - 1})
            // $SemDedupTargetCellSize) FROM embeddings)"""
    val seedsCte = s"""
      seeds AS (
        SELECT vec_id AS cell_id, embedding AS sv,
          list_reduce(list_prepend(0.0::DOUBLE,
            list_transform(range(1, len(embedding) + 1),
              i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)),
            (acc, x) -> acc + x) AS s2
        FROM embeddings WHERE vec_id < $cellBound)"""
    val d2 = s"-2.0 * ${dotSql("e.embedding", "s.sv")} + s.s2"
    s"""
    WITH twinned AS ($withNearDupVecsSql),
    $seedsCte,
    dists AS (
      SELECT e.vec_id, s.cell_id, $d2 AS d2
      FROM twinned e CROSS JOIN seeds s),
    ranked_cells AS (
      SELECT vec_id, cell_id, d2,
        row_number() OVER (PARTITION BY vec_id
          ORDER BY d2 ASC, cell_id ASC) AS cell_rank
      FROM dists),
    assigned AS (
      SELECT e.vec_id, e.embedding,
        ${norm2Sql("e.embedding")} AS n2, rc.cell_id AS cell
      FROM twinned e
      JOIN ranked_cells rc ON rc.vec_id = e.vec_id AND rc.cell_rank = 1),
    pairs AS (
      SELECT x.vec_id AS lo, y.vec_id AS vec_id,
        ${dotSql("x.embedding", "y.embedding")} / (x.n2 * y.n2) AS cosine
      FROM assigned x JOIN assigned y
        ON x.cell = y.cell AND x.vec_id < y.vec_id
      WHERE ${dotSql("x.embedding", "y.embedding")} / (x.n2 * y.n2)
        >= $NearDupCosine)
    SELECT vec_id, min(lo) AS keeper_id, max(cosine) AS best_cosine,
      count(*)::BIGINT AS n_partners
    FROM pairs GROUP BY 1"""
  }

  // ---- E108 (CL1): cluster profile (k-means corpus organization) ----------

  /** E108: corpus organization by trained k-means — assign EVERY vector
    * to its [[trainCentroids]] centroid (n5's quantizer, d12's native
    * argmin kernel) and profile each cluster: size, dominant label,
    * label purity, label spread. This is the inspection/balance stage of
    * cluster-based curation (SemDeDup's cells, cluster-balanced sampling,
    * topic discovery): purity tells you whether the embedding space's
    * cells mean anything before you let them drive dedup or mixing.
    *
    * Determinism: assignment is the shared d2-argmin arithmetic (ties to
    * the lower cell id) against bitwise-reproducible Lloyd centroids;
    * the profile is exact integer counts and one ratio-of-longs per
    * cluster; dominant-label ties break to the lower label — all
    * mirrored in the oracle via [[trainedRankedCellsCtesSql]].
    *
    * Scale: one narrow codegen'd assign pass (constant-size plan at any
    * cell count — the [[org.apache.spark.sql.graft.PqEncode]] rationale)
    * plus two cells×labels-bounded aggregates; nothing scales with the
    * corpus but the scan. */
  /** ONE definition of the trained-quantizer assignment (cl1 profile,
    * cb1 quota sample): every vector → (vec_id, label, cluster) through
    * the native argmin kernel against the [[trainCentroids]] centroids.
    * The two consumers can never fork cluster conventions. */
  private def assignClusters(emb: DataFrame): DataFrame = {
    val cents = trainCentroids(emb)
    val codebook = Seq(cents.map(_.toSeq).toSeq)
    emb.select(col("vec_id"), col("label"),
      element_at(org.apache.spark.sql.graft.VectorExpressions
        .pqEncode(col("embedding"), codebook), 1)
        .cast("long").as("cluster"))
  }

  def clusterProfile(emb: DataFrame): DataFrame = {
    // ONE corpus-width pass: the (cluster, label) aggregate is the only
    // consumer of the assignment; totals and label spread derive from
    // the cells×labels-bounded byLab relation, not a second scan
    val byLab = assignClusters(emb).groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("dominant_n"))
    val tot = byLab.groupBy(col("cluster"))
      .agg(sum(col("dominant_n")).as("n"),
        count(lit(1)).as("n_labels"))
    val dom = byLab.withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster"))
          .orderBy(col("dominant_n").desc, col("label").asc)))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("label").as("dominant_label"),
        col("dominant_n"))
    tot.join(dom, Seq("cluster"))
      .select(col("cluster"), col("n"), col("dominant_label"),
        col("dominant_n"), col("n_labels"),
        (col("dominant_n").cast("double") / col("n").cast("double"))
          .as("purity"))
  }

  def clusterProfileSql: String = s"""
    $trainedRankedCellsCtesSql,
    assigned AS (
      SELECT e.vec_id, e.label, rc.cell_id AS cluster
      FROM embeddings e
      JOIN ranked_cells rc ON rc.vec_id = e.vec_id AND rc.cell_rank = 1),
    bylab AS (
      SELECT cluster, label, count(*)::BIGINT AS dominant_n
      FROM assigned GROUP BY 1, 2),
    tot AS (
      SELECT cluster, count(*)::BIGINT AS n,
        count(DISTINCT label)::BIGINT AS n_labels
      FROM assigned GROUP BY 1),
    dom AS (
      SELECT cluster, label AS dominant_label, dominant_n,
        row_number() OVER (PARTITION BY cluster
          ORDER BY dominant_n DESC, label ASC) AS rn
      FROM bylab)
    SELECT t.cluster, t.n, d.dominant_label, d.dominant_n, t.n_labels,
      d.dominant_n::DOUBLE / t.n::DOUBLE AS purity
    FROM tot t JOIN dom d ON d.cluster = t.cluster AND d.rn = 1"""

  // ---- E112 (HN1): hard-negative mining -----------------------------------

  val HnQueries = 20

  /** E112: hard-negative mining — the contrastive-pair prep of an
    * embedding-training pipeline: for each anchor, the nearest SAME-label
    * vector (the positive) and the nearest OTHER-label vector (the hard
    * negative — the pair that actually teaches a contrastive loss), with
    * `margin = pos_cosine − neg_cosine` as the difficulty signal
    * (negative margin = the negative sits closer than the positive: the
    * anchors worth mining).
    *
    * Shape: one n1-style broadcast scoring pass (native [[dot]]), labels
    * joined from the pool, then ONE window partitioned by
    * (anchor, same-label?) picks both rank-1 rows, pivoted to columns by
    * a 2-row-per-anchor aggregate. A missing side (an anchor whose label
    * no pool vector shares) surfaces as NULL, never a dropped anchor.
    * Determinism: cosine ties break on neighbor id; margin is one IEEE
    * subtraction of two exact fold results. */
  def hardNegatives(emb: DataFrame, numQueries: Int = HnQueries)
      : DataFrame = {
    val withN = emb.select(col("vec_id"), col("embedding"), col("label"),
      norm2(col("embedding")).as("n2"))
      .filter(col("n2") > 0.0)
    val q = withN.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("n2").as("qn"), col("label").as("anchor_label"))
    val pool = withN.filter(col("vec_id") >= numQueries)
    val scored = broadcast(q)
      .join(pool.as("c"), col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("anchor_label"),
        col("c.vec_id").as("neighbor_id"), col("c.label").as("nl"),
        (dot(col("qv"), col("c.embedding")) /
          (col("qn") * col("c.n2"))).as("cosine"),
        (col("c.label") === col("anchor_label")).as("same"))
    val best = scored.withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"), col("same"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)))
      .filter(col("rn") === 1)
    val pivoted = best.groupBy(col("query_id"))
      .agg(
        max(when(col("same"), col("neighbor_id"))).as("pos_id"),
        max(when(col("same"), col("cosine"))).as("pos_cosine"),
        max(when(!col("same"), col("neighbor_id"))).as("neg_id"),
        max(when(!col("same"), col("cosine"))).as("neg_cosine"))
    // every anchor anchors its own row — an EMPTY pool (both sides
    // missing, e.g. all pool vectors zero-norm) still surfaces the
    // anchor with NULL columns, never drops it
    q.select(col("query_id"), col("anchor_label"))
      .join(pivoted, Seq("query_id"), "left")
      .select(col("query_id"), col("anchor_label"), col("pos_id"),
        col("pos_cosine"), col("neg_id"), col("neg_cosine"),
        (col("pos_cosine") - col("neg_cosine")).as("margin"))
  }

  def hardNegativesSql(numQueries: Int = HnQueries): String = s"""
    WITH withn AS (
      SELECT vec_id, embedding, label, ${norm2Sql("embedding")} AS n2
      FROM embeddings),
    live AS (SELECT * FROM withn WHERE n2 > 0),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv, n2 AS qn,
        label AS anchor_label
      FROM live WHERE vec_id < $numQueries),
    pool AS (SELECT * FROM live WHERE vec_id >= $numQueries),
    scored AS (
      SELECT query_id, anchor_label, c.vec_id AS neighbor_id,
        ${dotSql("qv", "c.embedding")} / (qn * c.n2) AS cosine,
        c.label = anchor_label AS same
      FROM q JOIN pool c ON c.vec_id <> query_id),
    best AS (
      SELECT * FROM (
        SELECT query_id, neighbor_id, cosine, same,
          row_number() OVER (PARTITION BY query_id, same
            ORDER BY cosine DESC, neighbor_id ASC) AS rn
        FROM scored) WHERE rn = 1),
    pivoted AS (
      SELECT query_id,
        max(CASE WHEN same THEN neighbor_id END) AS pos_id,
        max(CASE WHEN same THEN cosine END) AS pos_cosine,
        max(CASE WHEN NOT same THEN neighbor_id END) AS neg_id,
        max(CASE WHEN NOT same THEN cosine END) AS neg_cosine
      FROM best GROUP BY 1)
    SELECT q.query_id, q.anchor_label, p.pos_id, p.pos_cosine,
      p.neg_id, p.neg_cosine, p.pos_cosine - p.neg_cosine AS margin
    FROM q LEFT JOIN pivoted p ON p.query_id = q.query_id"""

  // ---- E109 (CB1): cluster-balanced sampling ------------------------------

  val CbPerCluster = 8

  /** E109: cluster-balanced sampling — keep a FIXED QUOTA per trained
    * cluster instead of a global rate: uniform coverage of the embedding
    * space (the anti-mode-collapse subset — a global hash sample keeps
    * dense regions dense; the quota form keeps every region represented,
    * the SemDeDup-family's "per-cluster keep" selection).
    *
    * Assignment is cl1's shared quantizer (native argmin kernel against
    * the [[trainCentroids]] centroids); the within-cluster pick order is
    * the CONTENT-STABLE hash convention shared with s1/t5/mix1
    * ([[graft.functions.TextFunctions.docIdHash]] — rerun/retry-stable,
    * no rand(), id tie-break), so the sample is deterministic end to end
    * and mirrored value-for-value in the oracle.
    *
    * Scale: one narrow assign pass + one bounded per-cluster window
    * (rows per group ≤ cluster size; the shuffle key is the cluster id).
    * With size-derived cell counts (d12's rule) the quota form holds at
    * any corpus size — quotas bound the OUTPUT while cells track the
    * data. */
  def clusterBalancedSample(emb: DataFrame,
      perCluster: Int = CbPerCluster): DataFrame = {
    import graft.functions.TextFunctions.docIdHash
    assignClusters(emb).withColumn("pick_rank", row_number().over(
        Window.partitionBy(col("cluster"))
          .orderBy(docIdHash(col("vec_id")).asc, col("vec_id").asc)))
      .filter(col("pick_rank") <= perCluster)
      .select(col("cluster"), col("pick_rank").cast("long").as("pick_rank"),
        col("vec_id"), col("label"))
  }

  def clusterBalancedSampleSql(perCluster: Int = CbPerCluster): String = {
    import graft.functions.TextFunctions.docIdHashSql
    s"""
    $trainedRankedCellsCtesSql,
    assigned AS (
      SELECT e.vec_id, e.label, rc.cell_id AS cluster
      FROM embeddings e
      JOIN ranked_cells rc ON rc.vec_id = e.vec_id AND rc.cell_rank = 1),
    picked AS (
      SELECT cluster, vec_id, label,
        row_number() OVER (PARTITION BY cluster
          ORDER BY ${docIdHashSql("vec_id")} ASC, vec_id ASC)
          AS pick_rank
      FROM assigned)
    SELECT cluster, pick_rank::BIGINT AS pick_rank, vec_id, label
    FROM picked WHERE pick_rank <= $perCluster"""
  }

  // ---- E103 (KNN1): k-NN label propagation --------------------------------

  /** Query count / vote size for the driver's `knn1` query. */
  val KnnQueries = 20
  val KnnK = 5

  /** E103: k-NN label propagation — semi-supervised labeling: each query
    * vector (`vec_id < numQueries`, treated as unlabeled) receives the
    * MAJORITY label of its k nearest labeled neighbors by cosine, with the
    * query's stored label kept as ground truth for the accuracy audit.
    * This is the standard weak-labeling / pseudo-labeling stage of a
    * training-data pipeline (label the unlabeled 99% from the curated 1%).
    *
    * Shape: candidate scoring is the n1/n3 broadcast pass (queries
    * broadcast, one codegen'd [[dot]] per pair), ranking is the bounded
    * [[TopKAggregator]] (map-side combine — the shuffle carries ≤ k
    * entries per group per partition), and the vote is a tiny
    * (numQueries × labels)-row aggregate. The scoring pass is
    * INTERCHANGEABLE with any ANN tier (n2/n4–n9 produce the same
    * `(query_id, neighbor_id, cosine)` relation cheaper at lower recall) —
    * the exact form here is the oracle-verifiable baseline, exactly the
    * n1-vs-ladder contract.
    *
    * Vote tie-break is fully deterministic and mirrored in the oracle:
    * votes DESC, best (lowest) neighbor rank ASC, label ASC. */
  def knnClassify(emb: DataFrame, numQueries: Int = KnnQueries,
      k: Int = KnnK): DataFrame = {
    val withN = emb.select(col("vec_id"), col("embedding"), col("label"),
      norm2(col("embedding")).as("n2"))
      // zero-norm vectors have undefined cosine — excluded both sides,
      // the n1/n6 convention, mirrored in the oracle
      .filter(col("n2") > 0.0)
    val q = withN.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("n2").as("qn"), col("label").as("true_label"))
    // the labeled pool excludes the queries themselves (they are the
    // "unlabeled" set) — disjoint by the vec_id split
    val pool = withN.filter(col("vec_id") >= numQueries)
    val scored = broadcast(q.select(col("query_id"), col("qv"), col("qn")))
      .join(pool.as("c"), col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        (dot(col("qv"), col("c.embedding")) /
          (col("qn") * col("c.n2"))).as("cosine"))
    val ranked = rankTopKAgg(scored, k)
    val votes = ranked
      .join(pool.select(col("vec_id").as("neighbor_id"), col("label")),
        Seq("neighbor_id"))
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"), min(col("rank")).as("best_rank"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("best_rank").asc, col("label").asc)
    votes.withColumn("vr", row_number().over(w)).filter(col("vr") === 1)
      .join(q.select(col("query_id"), col("true_label")), Seq("query_id"))
      .select(col("query_id"), col("label").as("pred_label"), col("votes"),
        col("true_label"),
        (col("label") === col("true_label")).as("correct"))
  }

  def knnClassifySql(numQueries: Int = KnnQueries, k: Int = KnnK)
      : String = s"""
    WITH withn AS (
      SELECT vec_id, embedding, label, ${norm2Sql("embedding")} AS n2
      FROM embeddings),
    live AS (SELECT * FROM withn WHERE n2 > 0),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv, n2 AS qn,
        label AS true_label
      FROM live WHERE vec_id < $numQueries),
    pool AS (SELECT * FROM live WHERE vec_id >= $numQueries),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id, c.label,
        ${dotSql("qv", "c.embedding")} / (qn * c.n2) AS cosine
      FROM q JOIN pool c ON c.vec_id <> query_id),
    ranked AS (
      SELECT query_id, neighbor_id, label,
        row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored),
    votes AS (
      SELECT query_id, label, count(*)::BIGINT AS votes,
        min(rank) AS best_rank
      FROM ranked WHERE rank <= $k GROUP BY 1, 2),
    best AS (
      SELECT query_id, label, votes,
        row_number() OVER (PARTITION BY query_id
          ORDER BY votes DESC, best_rank ASC, label ASC) AS vr
      FROM votes)
    SELECT b.query_id, b.label AS pred_label, b.votes, q.true_label,
      b.label = q.true_label AS correct
    FROM best b JOIN q ON q.query_id = b.query_id
    WHERE vr = 1"""

  // ---- E120 (LN1): label-noise audit ---------------------------------------

  /** Audit-sample size for the driver's `ln1` query. */
  val NoiseAudit = 200

  /** E120: label-NOISE audit — the mislabeled-example detector (the
    * Confident-Learning-family check a labeled training set runs BEFORE
    * the labels drive selection or evaluation): each audited vector takes
    * a leave-one-out k-NN vote over the FULL labeled pool (itself
    * excluded by vec_id — unlike [[knnClassify]], the audited rows stay
    * in the pool for each other), and a vector whose neighborhood
    * disagrees with its own label is flagged `is_noisy`.
    *
    * Shape is knn1's: audited rows broadcast, one codegen'd [[dot]] per
    * (audit, pool) pair, bounded [[TopKAggregator]] ranking, a tiny
    * (audit × labels) vote. The audit SET is the bounded side by design —
    * at 100 TB you audit a deterministic sample (or shard the audit over
    * batches), and the scoring pass swaps for any ANN tier (the
    * n1-vs-ladder contract). Vote tie-break: votes DESC, best rank ASC,
    * label ASC — the knn1 convention, mirrored in the oracle. */
  def labelNoiseAudit(emb: DataFrame, numAudit: Int = NoiseAudit,
      k: Int = KnnK): DataFrame = {
    val withN = emb.select(col("vec_id"), col("embedding"), col("label"),
      norm2(col("embedding")).as("n2"))
      .filter(col("n2") > 0.0)
    val q = withN.filter(col("vec_id") < numAudit)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("n2").as("qn"), col("label").as("own_label"))
    val scored = broadcast(q.select(col("query_id"), col("qv"), col("qn")))
      .join(withN.as("c"), col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        (dot(col("qv"), col("c.embedding")) /
          (col("qn") * col("c.n2"))).as("cosine"))
    val ranked = rankTopKAgg(scored, k)
    val votes = ranked
      .join(withN.select(col("vec_id").as("neighbor_id"), col("label")),
        Seq("neighbor_id"))
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"), min(col("rank")).as("best_rank"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("best_rank").asc, col("label").asc)
    votes.withColumn("vr", row_number().over(w)).filter(col("vr") === 1)
      .join(q.select(col("query_id"), col("own_label")), Seq("query_id"))
      .select(col("query_id"), col("own_label"),
        col("label").as("pred_label"), col("votes"),
        (col("label") =!= col("own_label")).as("is_noisy"))
  }

  def labelNoiseAuditSql(numAudit: Int = NoiseAudit, k: Int = KnnK)
      : String = s"""
    WITH withn AS (
      SELECT vec_id, embedding, label, ${norm2Sql("embedding")} AS n2
      FROM embeddings),
    live AS (SELECT * FROM withn WHERE n2 > 0),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv, n2 AS qn,
        label AS own_label
      FROM live WHERE vec_id < $numAudit),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id, c.label,
        ${dotSql("qv", "c.embedding")} / (qn * c.n2) AS cosine
      FROM q JOIN live c ON c.vec_id <> query_id),
    ranked AS (
      SELECT query_id, neighbor_id, label,
        row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored),
    votes AS (
      SELECT query_id, label, count(*)::BIGINT AS votes,
        min(rank) AS best_rank
      FROM ranked WHERE rank <= $k GROUP BY 1, 2),
    best AS (
      SELECT query_id, label, votes,
        row_number() OVER (PARTITION BY query_id
          ORDER BY votes DESC, best_rank ASC, label ASC) AS vr
      FROM votes)
    SELECT b.query_id, q.own_label, b.label AS pred_label, b.votes,
      b.label <> q.own_label AS is_noisy
    FROM best b JOIN q ON q.query_id = b.query_id
    WHERE vr = 1"""
}
