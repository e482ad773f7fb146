package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** G1 (E140): deterministic integer PAGERANK over the product
  * co-purchase graph — the link-analysis family (the iterative sibling
  * of d9's connected components): products that co-occur in orders form
  * an undirected graph, and centrality ranks them for recommendation /
  * catalog-curation use. Uses the ORIGINAL unnormalized Page–Brin
  * recurrence `PR(v) = 0.15 + 0.85·Σ PR(u)/deg(u)` (mass sums to N, so
  * no node-count term appears anywhere — relative ranks are identical
  * to the normalized form), run a fixed [[PrIters]] rounds.
  *
  * Determinism (the d9/v5 discipline for iterative float algorithms):
  * ranks are SCALED LONGS on the [[PrScale]] grid and every edge
  * contribution is an exact integer floor-division
  * `(r·85) div (deg·100)` — integer sums fold identically in any order
  * on any engine, where float PageRank would make partition order part
  * of the answer. The floor leaks O(1) mass per edge per round
  * (bounded by edges/PrScale — ~10⁻⁷ of total here): the price of a
  * hash-verifiable fixpoint, irrelevant to ranking.
  *
  * Scale shape: degree and the edge relation build once and persist
  * (cache lifetime: the family contract on [[PageRank.copurchaseEdges]]);
  * each round is
  * ONE join-aggregate (shuffle on the node key, map-side-combined sum),
  * so K rounds = K blocking jobs exactly like d9's min-label loop.
  * Long arithmetic holds to ~10⁵ nodes per mass unit at this grid
  * (r·85 < 2⁶³); a 100-TB graph drops PrScale a decade or upgrades
  * the sum to DECIMAL(38,0) — the v5 boundary discipline. Isolated
  * products (never co-purchased) have no edges and are out of the
  * graph by definition.
  */
object PageRank {

  /** Fixed-point grid: rank 1.0 = 10¹² — 12 decimal digits of rank
    * resolution, leaving ×10⁶ headroom under 2⁶³ for hub mass. */
  val PrScale = 1000000000000L

  /** Fixed iteration count — the d9 convention: a deterministic number
    * of blocking rounds, not a float-tolerance convergence test (which
    * would put the tolerance comparison's float fold in the answer). */
  val PrIters = 5

  /** Exact integer division of non-negative longs — Spark's native
    * `DIV` (IntegralDivide: pure long arithmetic, no float boundary),
    * mirrored by DuckDB's `//` in the oracle. The earlier
    * (a − a mod b) / b form routed through a DOUBLE division, exact
    * only while the numerator stays < 2⁵³ (~9.0e15); hub ranks at the
    * PrScale grid reach ~8.5e15·85 of headroom-eating mass, so a hotter
    * hub could silently cross the boundary and fork the engines by one
    * unit per contribution. DIV holds to 2⁶³ — the full grid design. */
  private def idiv(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.TextExpressions.longDiv(a, b)

  /** Distinct undirected co-purchase edges, symmetrized (both
    * directions present): products sharing at least one order.
    *
    * ONE graph, four consumers (g1 ranks, g2 counts closure, g3
    * measures reach, g4 partitions) — and ONE cache-lifetime contract
    * for the family (round 12 settled it by MEASUREMENT, one contract
    * per operator class): ITERATIVE operators (g3, g4) checkpoint each
    * round and release everything in-method — their lineage must
    * truncate regardless, so the eager materialization is already paid
    * for; SINGLE-dataflow operators (g1, g2) return the LAZY dataflow
    * over interior persists, auto-released after the first action
    * ([[CacheRelease]], r16; clearCache stays the fallback for a
    * built-but-never-run frame), because BOTH
    * eager-release forms measured 3–4× slower at sf0.1 (BASELINE.md
    * "The eager-materialization regression"): `localCheckpoint(true)`
    * materializes through `Dataset.rdd` with the plan finalized before
    * adaptive execution, and a `persist()+count()` cache build equally
    * runs without AQE (cached-plan output partitioning must stay
    * stable) — either way the node-grain joins AQE would runtime-plan
    * fall back to static SMJ. Each entry persists this relation around
    * its own single consumer. */
  def copurchaseEdges(lineitem: DataFrame): DataFrame = {
    val li = lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    li.select(col("ok"), col("pk").as("src"))
      .join(li.select(col("ok"), col("pk").as("dst")), Seq("ok"))
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .distinct()
  }

  /** PageRank over [[copurchaseEdges]]: (product_id, degree,
    * rank_scaled, pr). `rank_scaled` is the exact integer fixpoint
    * state; `pr` is the one double boundary (÷PrScale). Lifetime: the
    * family contract on [[copurchaseEdges]] — lazy dataflow over
    * interior persists, which release automatically after the first
    * action ([[CacheRelease]], r16); clearCache remains the fallback
    * for a built-but-never-run frame. */
  def productPageRank(lineitem: DataFrame,
      iters: Int = PrIters): DataFrame = {
    val edges = copurchaseEdges(lineitem).persist()
    val (ranks, interior) = rankDataflow(edges, iters)
    CacheRelease.afterFirstRun(ranks, (edges +: interior): _*)
  }

  /** The lazy rank dataflow (plan-inspectable: PlanSpec/PageRankSpec
    * pin its shape — the persisted per-round join input, no global
    * sort, no cross join). Returns the result frame and the interior
    * persists (deg, ed) the public entries arrange to release. */
  private[graft] def rankDataflow(edges: DataFrame,
      iters: Int): (DataFrame, Seq[DataFrame]) = {
    // persisted (lazy, caller-released like `ed`): deg has K+2
    // consumers — the ed build, every round's node-list rebuild, and
    // the final join — and the pruned consumer subtrees defeat exchange
    // reuse (measured: its aggregation shuffle was written twice per
    // run). Node grain, tiny.
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist()
    // src, dst, deg(src): the per-round join input — persisted so the
    // expensive distinct self-join never re-runs inside the loop
    val ed = edges.join(deg, Seq("src")).persist()
    val base = PrScale * 15L / 100L
    var ranks = deg.select(col("src").as("node"),
      lit(PrScale).as("r"))
    for (_ <- 1 to iters) {
      val contribs = ed.join(ranks, ed("src") === ranks("node"))
        .select(col("dst"),
          idiv(col("r") * lit(85L), col("deg") * lit(100L)).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = deg.select(col("src").as("node"))
        .join(contribs, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("s"), lit(0L))).as("r"))
    }
    (ranks.join(deg, ranks("node") === deg("src"))
      .select(col("node").as("product_id"), col("deg").as("degree"),
        col("r").as("rank_scaled"),
        (col("r").cast("double") / lit(PrScale.toDouble)).as("pr")),
      Seq(deg, ed))
  }

  /** Oracle twin: the same graph, degrees, and K unrolled integer
    * rounds as chained CTEs (the unrolled-Lloyd convention). */
  def productPageRankSql(iters: Int = PrIters): String = {
    val base = PrScale * 15L / 100L
    val rounds = (1 to iters).map { k =>
      s"""r$k AS (
      SELECT n.node, ($base + coalesce(s.s, 0))::BIGINT AS r
      FROM nodes n LEFT JOIN (
        SELECT ed.dst AS node,
          sum((p.r * 85) // (ed.deg * 100))::BIGINT AS s
        FROM ed JOIN r${k - 1} p ON ed.src = p.node
        GROUP BY 1) s USING (node))"""
    }.mkString(",\n    ")
    s"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        AND a.l_partkey <> b.l_partkey),
    deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY 1),
    ed AS (SELECT e.src, e.dst, deg.deg FROM e JOIN deg USING (src)),
    nodes AS (SELECT src AS node FROM deg),
    r0 AS (SELECT node, ${PrScale}::BIGINT AS r FROM nodes),
    $rounds
    SELECT r.node AS product_id, deg.deg AS degree, r.r AS rank_scaled,
      r.r::DOUBLE / ${PrScale}.0 AS pr
    FROM r$iters r JOIN deg ON deg.src = r.node"""
  }
}
