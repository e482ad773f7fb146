package graft

import org.apache.spark.sql.functions.col

import graft.operators.LabelPropagation

/** G4 semantics: clique collapse under the min tie-break, the documented
  * synchronous-LPA oscillation as a DETERMINISTIC fixed-K state, and
  * partition invariance (the driver oracle verifies the real-corpus
  * values; these pin the properties the operator exists for). */
class LabelPropagationSpec extends SparkSpec {

  private def li(rows: (Long, Long)*) = {
    import spark.implicits._
    rows.toDF("l_orderkey", "l_partkey")
  }

  private def labelsOf(df: org.apache.spark.sql.DataFrame) =
    LabelPropagation.communities(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two disjoint cliques collapse to their min member's label") {
    // order 100 = clique {1,2,3}, order 200 = clique {10,11,12}
    val df = li(100L -> 1L, 100L -> 2L, 100L -> 3L,
      200L -> 10L, 200L -> 11L, 200L -> 12L)
    val out = labelsOf(df)
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    spark.catalog.clearCache() // the persisted edge relation
  }

  test("sync LPA's period-2 oscillation is a deterministic fixed-K state") {
    // a single edge is the minimal bipartite oscillator: the two nodes
    // swap labels every round, so at odd K each carries the OTHER's id —
    // the documented failure mode of synchronous LPA, which the fixed-K
    // + min-tie-break discipline turns into a hash-verifiable state
    // rather than a nondeterministic hang (the published mitigation,
    // semi-synchronous coloring, composes the same per-round body)
    val out = labelsOf(li(300L -> 20L, 300L -> 21L))
    assert(LabelPropagation.LpaIters % 2 === 1, "fixture assumes odd K")
    assert(out === Map(20L -> 21L, 21L -> 20L))
    spark.catalog.clearCache()
  }

  test("labels are partition-order invariant (exact integer votes)") {
    val base = li(100L -> 1L, 100L -> 2L, 100L -> 3L, 150L -> 3L,
      150L -> 4L, 200L -> 10L, 200L -> 11L, 200L -> 12L, 250L -> 12L,
      250L -> 13L, 250L -> 1L)
    val a = labelsOf(base)
    val b = labelsOf(base.repartition(7, col("l_partkey")))
    assert(a === b)
    spark.catalog.clearCache()
  }
}
