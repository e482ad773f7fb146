package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.Sources
import graft.operators.{BfsHops, LabelPropagation, PageRank, Triangles}

/** The graph family's cache-lifetime contract (round 12, r16): every
  * operator over the co-purchase edge relation releases every cache it
  * creates — iterative ones in-method, single-dataflow ones after the
  * first action — and a result stays readable after its caches go. */
class SharedGraphSpec extends SparkSpec {

  private def li = Sources.table(spark, sf0001, "lineitem")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("lifetime: iterative operators release in-method; single-dataflow caches release after the first action") {
    // a UNIQUE input frame (no other suite builds this exact plan, so
    // the probes below are concurrency-safe under the parallel runner)
    val uin = li.filter(pmod(col("l_orderkey"), lit(2)) === 0)
    import org.apache.spark.storage.StorageLevel
    // Dataset.storageLevel consults the session CacheManager by plan
    // equality — an equal plan probes the cache
    def edgesProbe = PageRank.copurchaseEdges(uin)
    // CacheRelease fires on the listener bus — drain before probing
    def drain(): Unit =
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    // ITERATIVE class (g3/g4): checkpointed rounds, everything released
    // in-method — zero residue the moment the call returns
    BfsHops.hubHops(uin, iters = 2).count()
    LabelPropagation.communities(uin, iters = 2).count()
    assert(edgesProbe.storageLevel === StorageLevel.NONE,
      "an iterative graph operator left its edge relation cached")
    // SINGLE-dataflow class (g1/g2): the returned frame is the LAZY
    // dataflow (the measured AQE choice — BASELINE round 12); since
    // r16 the interior persists release automatically after the FIRST
    // action (CacheRelease) — no external clearCache needed
    val deg = edgesProbe.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edProbe = edgesProbe.join(deg, Seq("src"))
    PageRank.productPageRank(uin, iters = 2).count()
    drain()
    assert(edgesProbe.storageLevel === StorageLevel.NONE,
      "g1's edge cache must release after the first action")
    assert(deg.storageLevel === StorageLevel.NONE,
      "g1's degree cache must release after the first action")
    assert(edProbe.storageLevel === StorageLevel.NONE,
      "g1's round-input cache must release after the first action")
    Triangles.triangleCensus(uin).count()
    drain()
    assert(edgesProbe.storageLevel === StorageLevel.NONE,
      "g2's edge cache must release after the first action")
    assert(deg.storageLevel === StorageLevel.NONE,
      "g2's degree cache must release after the first action")
  }

  test("results stay readable after the caller releases the interior caches") {
    val out = PageRank.productPageRank(li)
    val first = rows(out)
    // release every interior persist the g1 build created, then re-read:
    // the lazy frame must recompute the identical result through lineage
    val edgesProbe = PageRank.copurchaseEdges(li)
    val deg = edgesProbe.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    edgesProbe.join(deg, Seq("src")).unpersist()
    edgesProbe.unpersist()
    // the re-read below re-materializes the interior persists; release
    // them again on the way out so no residue outlives this test in the
    // shared session (later suites probe the CacheManager)
    try assert(first === rows(out),
      "re-reading after the caller releases the interior caches must " +
        "reproduce the result")
    finally {
      edgesProbe.join(deg, Seq("src")).unpersist()
      edgesProbe.unpersist()
      ()
    }
  }
}
