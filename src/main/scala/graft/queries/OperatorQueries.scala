package graft.queries

import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.io.Sources

/** Graph and join operators: PageRank, triangles, label propagation,
  * BFS hops, entity resolution, range joins, baskets and item-item CF. */
object OperatorQueries {

  val specs: Seq[QuerySpec] = Seq(

    // E28: range (interval) join with NO equi-key — purchases × incident
    // windows ([error ts, +30 min], errors with value > 90). Binned to an
    // equi-join (graft.operators.RangeJoin) instead of the O(n·m)
    // nested-loop Spark would otherwise plan; output is exact.
    // E96 (JC1): join-cardinality estimation from count-min key sketches
    // — the CBO statistics primitive: est |orders ⋈ events| on the
    // customer key from two fixed 3×8192 mergeable sketches
    // (inner-product bound, never an underestimate) vs the exact
    // key-grain product.
    QuerySpec("jc1_join_card_sketch", (s, d) =>
      graft.operators.JoinCardinality.ordersEventsJoinCard(
        Sources.table(s, d, "orders"), Sources.table(s, d, "events")),
      oracle = graft.operators.JoinCardinality.ordersEventsJoinCardSql),

    // E140 (G1): deterministic integer PageRank over the product
    // co-purchase graph — link-analysis centrality (the iterative
    // sibling of d9's CC): scaled-long ranks, exact floor-division
    // contributions, 5 fixed join-aggregate rounds.
    QuerySpec("g1_product_pagerank", (s, d) =>
      graft.operators.PageRank.productPageRank(
        Sources.table(s, d, "lineitem")),
      oracle = graft.operators.PageRank.productPageRankSql()),

    // E149 (G3): BFS hop distances from the catalog hub — K fixed
    // frontier-relaxation rounds over the g1 edge relation, exact
    // integer min folds, deterministic (deg, id) seed election. See
    // BfsHops.scala for the diameter-bound story.
    QuerySpec("g3_hub_hops", (s, d) =>
      graft.operators.BfsHops.hubHops(
        Sources.table(s, d, "lineitem")),
      oracle = graft.operators.BfsHops.hubHopsSql()),

    // E145 (G2): triangle census — degree-ordered wedge closing over
    // the g1 co-purchase graph (one edge definition for the family);
    // exact integer corner credits, lcc's guarded division is the one
    // double boundary. See Triangles.scala for the orientation story.
    QuerySpec("g2_triangle_count", (s, d) =>
      graft.operators.Triangles.triangleCensus(
        Sources.table(s, d, "lineitem")),
      oracle = graft.operators.Triangles.triangleCensusSql),

    // E173 (G4): label-propagation COMMUNITIES — the graph family's
    // partitioner (g1 ranks, g2 counts closure, g3 measures reach, this
    // segments): synchronous Raghavan–Albert–Kumara LPA, K fixed rounds,
    // exact integer votes, min-label tie-break — deterministic on any
    // partitioning whether or not the fixpoint exists. One graph, four
    // consumers (the g1 copurchaseEdges definition).
    QuerySpec("g4_lpa_communities", (s, d) =>
      graft.operators.LabelPropagation.communities(
        Sources.table(s, d, "lineitem")),
      oracle = graft.operators.LabelPropagation.communitiesSql()),

    // E136 (ER1): blocked fuzzy entity resolution — candidate pairs
    // form only inside the (nationkey, mktsegment) block (never
    // all-pairs), then the codegen'd Levenshtein comparator thresholds
    // the match. The record-linkage stage before customer-grain
    // analytics; d9's components cluster this pair graph.
    QuerySpec("er1_entity_match", (s, d) =>
      graft.operators.EntityResolution.entityMatchPairs(
        Sources.table(s, d, "customer")),
      oracle = graft.operators.EntityResolution.entityMatchPairsSql()),

    // E160 (ER3): multi-pass sorted-neighborhood matching — the
    // LINEAR-candidate record-linkage method (merge/purge): two sorted
    // passes (name, reversed name), each comparing a record against
    // only its 5 rank-successors; the executable scale path past
    // er1/er2's fixed-block-vocabulary wall (BASELINE: blocked
    // candidates go xN^2 under the fan-out, SNM's stay passes·w·n).
    QuerySpec("er3_sorted_neighborhood", (s, d) =>
      graft.operators.EntityResolution.sortedNeighborhoodPairs(
        Sources.table(s, d, "customer")),
      oracle = graft.operators.EntityResolution.sortedNeighborhoodPairsSql()),

    // E142 (ER2): golden-record construction — duplicate-customer
    // clusters (CC over er1's match graph) elect a master record by
    // the survivorship rule (max balance, tie -> min key); one row per
    // multi-member cluster with the decimal-exact combined balance.
    QuerySpec("er2_golden_records", (s, d) =>
      graft.operators.EntityResolution.goldenRecords(
        Sources.table(s, d, "customer")),
      oracle = graft.operators.EntityResolution.goldenRecordsSql()),

    QuerySpec("e3_range_join_incidents", (s, d) => {
      val ev = Sources.table(s, d, "events")
      val tsSec = Sources.epochSec(ev)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), tsSec.as("t"))
      val incidents = ev
        .filter(col("event_type") === "error" && col("value") > 90.0)
        .select(col("event_id").as("incident_id"),
          tsSec.as("istart"))
        .withColumn("iend", col("istart") + lit(1800L))
      graft.operators.RangeJoin
        .pointInInterval(purchases, "t", incidents, "istart", "iend",
          binWidth = 3600L)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_incidents"),
          min(col("incident_id")).as("first_incident"))
    },
      // the binned equi-join must equal this plain containment join exactly
      oracle = """
      SELECT e.event_id, count(*) AS n_incidents,
        min(i.event_id) AS first_incident
      FROM (SELECT event_id, epoch_us(ts) // 1000000 AS t
            FROM events WHERE event_type = 'purchase') e
      JOIN (SELECT event_id, epoch_us(ts) // 1000000 AS istart
            FROM events WHERE event_type = 'error' AND value > 90.0) i
        ON e.t BETWEEN i.istart AND i.istart + 1800
      GROUP BY 1"""),

    // E119 (MB1): market-basket affinity — support / confidence / lift
    // over within-order product pairs, the association-rule primitive
    // behind "frequently bought together". Baskets form in ONE fact-width
    // shuffle (groupBy order → sorted distinct-part array); ordered pairs
    // explode WITHIN each array (element i × every later element — no
    // self-join, so the fact never meets itself in a shuffle), bounded by
    // basket size squared per order, linear in orders. The min-pair-count
    // filter (the d7 DF-cap discipline) prunes the pair relation BEFORE
    // the per-item join-backs, which AQE sizes (lm1 convention); the
    // basket total rides a broadcast 1-row bounds frame. Every output
    // ratio is ONE double division of exact long products (pair·N and
    // cnt_a·cnt_b stay far inside int64 at any real catalog), so both
    // engines agree bitwise. The basket relation feeds THREE consumers
    // (pairs, item counts, the total) — persisted so the fact is scanned
    // and shuffled once, not once per consumer (the pipe2 barrier rule;
    // Verify/Bench clearCache after each query). The basket/pair/count
    // relations are the SHARED Baskets definitions rec1 also composes.
    QuerySpec("mb1_basket_lift", (s, d) => {
      import graft.operators.Baskets
      val baskets = Baskets.baskets(Sources.table(s, d, "lineitem"))
      val pairCnt = Baskets.canonicalPairs(baskets)
        .groupBy(col("part_a"), col("part_b"))
        .agg(count(lit(1)).as("pair_count"))
        .filter(col("pair_count") >= 2)
      // persisted: joined back twice (cnt_a, cnt_b) — without a cache
      // each join-back re-runs the item-count explode + aggregation
      // (measured: its shuffle was written twice per run, the rec1
      // pattern). Item grain, small; released by the house clearCache.
      val ic = Baskets.itemCounts(baskets).persist()
      val bounds = baskets.agg(count(lit(1)).as("n_orders"))
      val lifted = pairCnt
        .join(ic.select(col("p").as("part_a"), col("c").as("cnt_a")),
          Seq("part_a"))
        .join(ic.select(col("p").as("part_b"), col("c").as("cnt_b")),
          Seq("part_b"))
        .crossJoin(broadcast(bounds))
        .select(col("part_a"), col("part_b"), col("pair_count"),
          (col("pair_count").cast("double") /
            col("n_orders").cast("double")).as("support"),
          (col("pair_count").cast("double") /
            col("cnt_a").cast("double")).as("confidence"),
          ((col("pair_count") * col("n_orders")).cast("double") /
            (col("cnt_a") * col("cnt_b")).cast("double")).as("lift"))
      // interior persists release after the first action (r16, the
      // rec1 contract) — no external clearCache needed.
      graft.operators.CacheRelease.afterFirstRun(lifted, baskets, ic)
    }, oracle = """
      WITH b AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      n AS (SELECT count(DISTINCT o)::BIGINT AS n_orders FROM b),
      ic AS (SELECT p, count(*)::BIGINT AS c FROM b GROUP BY 1),
      pc AS (
        SELECT x.p AS part_a, y.p AS part_b, count(*)::BIGINT AS pair_count
        FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
        GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT pc.part_a, pc.part_b, pc.pair_count,
        pc.pair_count::DOUBLE / n.n_orders::DOUBLE AS support,
        pc.pair_count::DOUBLE / ia.c::DOUBLE AS confidence,
        (pc.pair_count * n.n_orders)::DOUBLE / (ia.c * ib.c)::DOUBLE AS lift
      FROM pc CROSS JOIN n
        JOIN ic ia ON ia.p = pc.part_a
        JOIN ic ib ON ib.p = pc.part_b"""),

    // E147 (REC1): item-item CF recommendations — per-product top-5
    // co-purchase cosine lists over mb1's basket pair relation (one
    // fact-width shuffle, within-array pair explode, DF-cap prune,
    // rank-limited window). See ItemItemCf.scala for the parity story.
    QuerySpec("rec1_item_item_cf", (s, d) =>
      graft.operators.ItemItemCf.recommend(
        Sources.table(s, d, "lineitem")),
      oracle = graft.operators.ItemItemCf.recommendSql())
  )
}
