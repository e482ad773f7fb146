package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** G3 (E149): BFS HOP DISTANCES from the catalog hub — the
  * shortest-path member completing the graph family (d9 connected
  * components → g1 PageRank → g2 triangles → this): how many
  * co-purchase hops is every product from the highest-degree product?
  * The "recommendation reach" probe — hop 1 is the hub's direct
  * cross-sell set, hop 2 its extended neighborhood, unreached products
  * (absent rows) are the catalog's isolated corners.
  *
  * Algorithm: K fixed rounds of frontier relaxation (the d9/g1
  * convention — a deterministic number of blocking jobs, never a
  * float-tolerance or emptiness test that would put runtime state in
  * the plan): hops ← min(hops ∪ neighbors(hops)+1), each round ONE
  * join-aggregate shuffled on the node key, map-side-combined min.
  * Everything is exact integer arithmetic — hop counts, the min fold,
  * the (degree, id) seed election — so both engines agree bitwise
  * with zero boundary divisions. The seed is deterministic: max
  * degree, ties to the smallest id (a bounded 1-row TakeOrdered, the
  * w2 FIFO shape).
  *
  * Scale: the relation carried between rounds is (node, hop) — never
  * wider; co-purchase graphs are small-diameter (d9's components
  * close in 3 min-label rounds at every measured scale), so
  * [[HopIters]] = 4 covers the reachable set while keeping the
  * round count — and so the job count — a compile-time constant.
  *
  * Lifecycle (round-10, the d9 alignment): each round materializes
  * EAGERLY via localCheckpoint — the round-k frame is consumed twice
  * next round (union + join), and checkpointing truncates the lineage
  * so the subtree never doubles (2^K job blowup measured without
  * this). Unlike the previous per-round persist, checkpointed RDDs
  * are plain references: when the loop reassigns `hops`, the old
  * round's blocks become unreachable and the ContextCleaner reclaims
  * them — a long-lived driver holds NOTHING after the call (the
  * edge cache is released in-method too; no caller clearCache
  * contract). Cluster caveat: checkpoint blocks are executor-local,
  * unrecoverable on executor loss. */
object BfsHops {

  /** Fixed round count — diameter-bound, matching d9's measured
    * 3-round closure with one round of headroom. */
  val HopIters = 4

  /** (product_id, hop) for every product within [[HopIters]] hops of
    * the hub; the hub itself is hop 0. Lifetime: the family contract on
    * [[PageRank.copurchaseEdges]] (this operator set the convention). */
  def hubHops(lineitem: DataFrame, iters: Int = HopIters): DataFrame = {
    // The edge cache is laid out FOR the per-round join: repartitioned
    // on src (the round join key) and sorted within partitions, so each
    // of the K sort-merge joins reads the cache with its partitioning
    // AND ordering already satisfied — zero edge-side exchange, zero
    // edge-side sort, every round (measured before: once the
    // checkpointed frontier outgrows the broadcast threshold the round
    // join re-shuffled and re-sorted the full edge relation per round —
    // 3 identical 22 MB exchanges). One extra exchange at build time
    // buys K exchange-free rounds; the same layout is what a bucketed
    // edge table gives a 100-TB cluster (guide §2.4). g4 keeps its
    // plain cache deliberately: its round join keys on dst with a
    // skewed layout, where the pre-partitioned cache measured SLOWER
    // (the negative in BASELINE.md "Round-11 close") — the contract
    // stays per operator, set by measurement.
    // Rounds are eager, so the returned frame reads only round-K
    // checkpoint blocks and the cache has no consumer left by return.
    val edges = PageRank.copurchaseEdges(lineitem)
      .repartition(col("src")).sortWithinPartitions("src").persist()
    try {
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      var hops = deg.orderBy(col("deg").desc, col("src")).limit(1)
        .select(col("src").as("node"), lit(0L).as("hop"))
      for (_ <- 1 to iters) {
        val expand = hops.join(edges, hops("node") === edges("src"))
          .select(col("dst").as("node"), (col("hop") + lit(1L)).as("hop"))
        // one blocking job per round (the d9 discipline); the (node,
        // hop)-narrow frame is checkpointed so next round's two
        // consumers read blocks, not a doubling subtree. Round-15
        // measured negative (recorded per the no-silent-caps rule): both
        // a LAZY localCheckpoint and plain lazy per-round persists were
        // tried to collapse the K round jobs into the caller's single
        // action — neither does (localCheckpoint's `Dataset.rdd`
        // finalizes the AQE plan by eagerly running the round's shuffle
        // stages; cached rounds still materialize as per-stage jobs
        // under AQE), and both measured at or above the eager form
        // (4.7 / 5.1 / 5.9 s at sf0.1), so the eager, ×300-proven
        // lifecycle stays.
        hops = hops.unionByName(expand)
          .groupBy(col("node")).agg(min(col("hop")).as("hop"))
          .localCheckpoint(true)
      }
      hops.select(col("node").as("product_id"), col("hop"))
    } finally { edges.unpersist(); () }
  }

  /** Oracle twin: the same seed election and K unrolled min-relaxation
    * rounds as chained CTEs (g1's unrolled-round convention). */
  def hubHopsSql(iters: Int = HopIters): String = {
    val rounds = (1 to iters).map { k =>
      s"""h$k AS (
      SELECT node, min(hop)::BIGINT AS hop FROM (
        SELECT node, hop FROM h${k - 1}
        UNION ALL
        SELECT e.dst AS node, p.hop + 1 AS hop
        FROM e JOIN h${k - 1} p ON e.src = p.node) u
      GROUP BY 1)"""
    }.mkString(",\n    ")
    s"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        AND a.l_partkey <> b.l_partkey),
    deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY 1),
    h0 AS (SELECT src AS node, 0::BIGINT AS hop FROM deg
      ORDER BY deg DESC, src LIMIT 1),
    $rounds
    SELECT node AS product_id, hop FROM h$iters"""
  }
}
