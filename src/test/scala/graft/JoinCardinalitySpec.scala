package graft

import graft.io.Sources

/** jc1's count-min join-size sketch ([[graft.operators.JoinCardinality]]):
  * the estimate bounds the true join size from above, and the exact side
  * is the join's real size. The driver oracle verifies the values. */
class JoinCardinalitySpec extends SparkSpec {

  test("jc1: sketch join-size estimate never underestimates; exact is true") {
    import graft.operators.JoinCardinality
    val orders = Sources.table(spark, sf0001, "orders")
    val events = Sources.table(spark, sf0001, "events")
    val row = JoinCardinality.ordersEventsJoinCard(orders, events).head()
    val (est, exact) = (row.getLong(0), row.getLong(1))
    // the CM inner-product bound: collisions only ADD counts
    assert(est >= exact, s"underestimate: $est < $exact")
    // the exact side really is the join's size
    val joined = orders.join(events,
      orders("o_custkey") === events("user_id")).count()
    assert(exact === joined)
  }
}
