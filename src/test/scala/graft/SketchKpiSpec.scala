package graft

import org.apache.spark.sql.functions._

import graft.io.RefShape
import graft.kpi.SketchKpi

/** Per-day HLL distinct sketches (E44): the incremental form of A2's
  * unique_customers. Assertions use the property that DataSketches HLL is
  * EXACT below ~2^lgK distincts (sparse mode), so at test scale the
  * estimates must EQUAL the exact counts — any drift is a real bug, not
  * sketch noise. */
class SketchKpiSpec extends SparkSpec {

  private def orders = RefShape.orders(spark, sf0001)

  test("per-day sketch estimates equal exact per-day distincts at test scale") {
    val daily = SketchKpi.dailyUserSketch(orders)
    val rows = daily
      .select(col("order_date"),
        hll_sketch_estimate(col("user_sketch")).as("est"),
        col("unique_customers"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("est") === r.getAs[Long]("unique_customers"),
        s"sketch must be exact in sparse range for ${r.getString(0)}")
    }
  }
}
