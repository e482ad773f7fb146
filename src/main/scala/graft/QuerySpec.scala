package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.Sources

/** One registered query: the Spark `build` over a testdata dir, the
  * DuckDB `oracle` SQL its result must hash-equal, and what [[Bench]]
  * times instead of the build, if anything. The family files under
  * `graft/queries` declare every query this way, each build beside its
  * oracle; [[SparkEntry]] derives the contract's maps from them. */
final case class QuerySpec(name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    bench: Option[QuerySpec.BenchBody] = None)

object QuerySpec {

  /** A query whose build is `op` over one testdata table, read per build
    * as every build reads its inputs. */
  def onTable(table: String)(name: String, op: DataFrame => DataFrame,
      oracle: String): QuerySpec =
    QuerySpec(name, (s, d) => op(Sources.table(s, d, table)), oracle)

  /** What [[Bench]] times for a query in place of a plain `.count()` of
    * its build: one body or one phase split, never both. */
  sealed trait BenchBody

  /** The production body. The verify form carries an oracle-gate
    * overhead the production operator never pays; Verify keeps the gated
    * build as the correctness artifact, and Bench times this body so the
    * leader list measures engine speed, not gate cost. */
  final case class Substitute(body: (SparkSession, String) => DataFrame)
      extends BenchBody

  /** A phase split, for a query whose cost mixes input materialization
    * with the operator itself: each (label, action) is timed on its own.
    * The headline time stays first-byte-to-last (identical total work),
    * and the split lands in bench_counts and bench_detail. */
  final case class Phased(
      phases: (SparkSession, String) => Seq[(String, () => Long)])
      extends BenchBody
}
