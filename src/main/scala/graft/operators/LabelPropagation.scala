package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** G4 (E173): LABEL-PROPAGATION community detection over the product
  * co-purchase graph — the fourth member of the graph family (g1
  * centrality ranks nodes, g2 counts closure, g3 measures reach, this
  * PARTITIONS the graph): Raghavan–Albert–Kumara LPA, the near-linear
  * community detector every graph library ships. Each round, every node
  * adopts the most frequent label among its NEIGHBORS (synchronous
  * update), run a fixed [[LpaIters]] rounds from the identity labeling.
  *
  * Determinism (the g1/d9 discipline): labels are node ids (longs),
  * votes are exact integer counts, and the argmax tie-break is the
  * SMALLEST label (`max(struct(cnt, -label))` — one aggregate, no
  * window), so any partitioning on any engine propagates identical
  * labels. Synchronous LPA's known failure mode — period-2 oscillation
  * on bipartite-ish structure — is exactly why the update must be a
  * fixed-round recurrence for a verifiable operator: the K-round state
  * is deterministic whether or not the fixpoint exists (the published
  * mitigation, semi-synchronous coloring, composes this same per-round
  * body; spec documents an oscillating fixture).
  *
  * Scale shape: the edge relation builds once and persists (the G1
  * definition, [[PageRank.copurchaseEdges]] — ONE graph, four
  * consumers; cache-lifetime contract as there); each round is ONE
  * edge⋈label join + a (node, label)-keyed count + a node-keyed argmax
  * — two map-side-combined aggregates per round, K blocking rounds
  * like d9's min-label loop, with per-round eager localCheckpoint (the
  * g3 lifecycle: lineage truncated, no cache residue). Labels carry
  * (node, label) — the graph never re-materializes inside the loop. */
object LabelPropagation {

  /** Fixed round count — the g1/d9 convention: deterministic blocking
    * rounds, not a convergence test (sync LPA may not converge at all;
    * the K-round state is the verifiable object). */
  val LpaIters = 5

  /** (product_id, community) for every non-isolated product; community
    * labels are node ids (a community's label converges toward a member
    * id under the min tie-break, but the CONTRACT is only "same label ⇔
    * same community at round K"). */
  def communities(lineitem: DataFrame,
      iters: Int = LpaIters): DataFrame = {
    // plain persist, deliberately NOT pre-partitioned on the vote key:
    // caching the relation hash-partitioned on `dst` (to spare the
    // per-round edge re-shuffle) was measured SLOWER at ×30 (78 vs
    // 64 s) — the round cost lives in the two vote aggregates, and the
    // skewed dst layout makes the cached scan worse than the exchange
    // it saves. Measured negative result; recorded in BASELINE.
    // Round 16 re-ran that A/B with the skew HANDLED (the one untested
    // lever): a (dst, salt = pmod(xxhash64(src), 8)) layout + ×8 label
    // explode gives exchange-free, skew-balanced round joins and HALVES
    // per-round shuffle bytes (×30: ~0.7 vs ~1.4 GB) — and the wall is
    // STILL par-to-worse (×30 profiler pass-2: 58.5 vs 55.9 s; sweep
    // protocol 73.9 vs 58.0 s; sf0.1 par), because the per-round cache
    // scan + the salted build exchange cost exactly what the saved
    // exchanges did on one box. A third shape — plain cache + one
    // post-join repartition(src) serving both vote aggregates — also
    // measured par (58.6/61.2 s). The round cost is the edge-grain
    // (src, label) vote VOLUME, not its placement; keep the r15 shape.
    // Lifetime: the family contract on [[PageRank.copurchaseEdges]] —
    // rounds are eager, so the returned frame reads only round-K
    // checkpoint blocks and the cache has no consumer left by return.
    val edges = PageRank.copurchaseEdges(lineitem).persist()
    try {
      // symmetrized edges: every non-isolated node appears as src
      val nodes = edges.select(col("src")).distinct()
      var labels = nodes.select(col("src").as("node"), col("src").as("label"))
        .localCheckpoint(true)
      for (_ <- 1 to iters) {
        // SHUFFLE_HASH on the node-grain label side (round 12): the
        // edge⋈state join is the canonical shuffled-hash case — the
        // build side is node-grain (linear in nodes, tiny per reduce
        // partition) while SMJ would SORT the edge-grain side twice per
        // round. Measured: at ×100 under the 8 GiB harness heap the SMJ
        // form OOMs in its sort/spill-merge whatever the partition count
        // (32/128/256 all die — the "raise shuffle partitions" lever is
        // a measured negative result); the checkpointed label state has
        // no stats, so the planner can't discover the asymmetry itself.
        val votes = edges
          .join(labels.hint("shuffle_hash"),
            edges("dst") === labels("node"))
          .groupBy(col("src"), col("label"))
          .agg(count(lit(1)).as("cnt"))
        labels = votes
          .groupBy(col("src"))
          .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("b"))
          .select(col("src").as("node"), (-col("b.nl")).as("label"))
          .localCheckpoint(true)
      }
      labels.select(col("node").as("product_id"),
        col("label").as("community"))
    } finally { edges.unpersist(); () }
  }

  /** Oracle twin: the same graph and K unrolled synchronous rounds as
    * chained CTEs (the g1 convention — each round referenced once, so
    * no MATERIALIZED needed; `edges` is referenced K+1 times and is). */
  def communitiesSql(iters: Int = LpaIters): String = {
    val rounds = (1 to iters).map { k =>
      s"""l$k AS (
      SELECT src AS node, label FROM (
        SELECT e.src, p.label, count(*) AS cnt,
          row_number() OVER (PARTITION BY e.src
            ORDER BY count(*) DESC, p.label ASC) AS rn
        FROM edges e JOIN l${k - 1} p ON p.node = e.dst
        GROUP BY e.src, p.label) v
      WHERE rn = 1)"""
    }.mkString(",\n    ")
    s"""
    WITH li AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    edges AS MATERIALIZED (
      SELECT DISTINCT a.pk AS src, b.pk AS dst
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
    $rounds
    SELECT node AS product_id, label AS community FROM l$iters"""
  }
}
