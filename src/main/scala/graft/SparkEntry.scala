package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{DedupQueries, MultimodalQueries, OlapQueries,
  OperatorQueries, PipelineQueries, SimQueries, TextQueries}

/** Driver contract — one named query per implemented operator from
  * SURVEY.md §2, each with matching DuckDB oracle SQL. Query names carry the
  * SURVEY §2 operator ids (a1 = §2.4 A1, j3 = §2.3 J3, …) so the inventory
  * check maps line-by-line. Each query is one [[QuerySpec]] in a family
  * file under `graft/queries`; `queries` and `oracleSql` are views of
  * that registry.
  */
object SparkEntry {

  /** Flagship: category KPI (J1 three-way join + A1/A5 aggregates). */
  def entry(spark: SparkSession): DataFrame =
    queries("a1_category_kpi")(spark, "/root/testdata/sf0.001")

  // lazy vals, not defs: ScaleSweep/Verify/Bench look entries up
  // repeatedly (including inside timed regions) — the registry and the
  // large oracle SQL strings must not rebuild per access

  /** Every query, family by family. Fails loud on a name registered
    * twice: the maps below would keep only one of the two. */
  lazy val registry: Seq[QuerySpec] = {
    val all = PipelineQueries.specs ++ OlapQueries.specs ++
      DedupQueries.specs ++ TextQueries.specs ++ SimQueries.specs ++
      OperatorQueries.specs ++ MultimodalQueries.specs
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, "query names registered more than once: " +
      dups.toSeq.sorted.mkString(", "))
    all
  }

  /** The registry by name. Its iteration order (a hash map's) is the
    * order of `queries`, `oracleSql` and Bench's output lines. */
  private[graft] lazy val byName: Map[String, QuerySpec] =
    registry.map(q => q.name -> q).toMap

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, q) => n -> q.build }

  lazy val oracleSql: Map[String, String] =
    byName.map { case (n, q) => n -> q.oracle }
}
