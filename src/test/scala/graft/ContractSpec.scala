package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract guards: the gate compares `SparkEntry.queries` results
  * against `SparkEntry.oracleSql` by NAME, and the README documents the
  * surface — a key drifting out of either silently weakens the gate (a
  * query without an oracle degrades to rows-only; an oracle without a
  * query is dead weight; an undocumented id fails the self-serve
  * inventory check). No Spark session needed. */
class ContractSpec extends AnyFunSuite {

  test("queries and oracleSql cover exactly the same ids") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o) === Set.empty[String],
      s"queries with no oracle (would degrade to rows-only): ${q -- o}")
    assert((o -- q) === Set.empty[String],
      s"oracles with no query (dead weight): ${o -- q}")
  }

  test("the registry names every query once, and its views cover exactly it") {
    // a name registered twice would leave the by-name views with only one
    // of the two (building the registry throws on it; this pins the count)
    val names = SparkEntry.registry.map(_.name)
    assert(names.diff(names.distinct) === Seq.empty[String],
      "query names registered more than once")
    assert(SparkEntry.registry.size === 191)
    assert(SparkEntry.queries.size === SparkEntry.registry.size)
    assert(SparkEntry.oracleSql.size === SparkEntry.registry.size)
  }

  test("bench overrides and phase decompositions name real queries") {
    // A bench body now lives on its query's QuerySpec, so it names a real
    // query by construction, and `bench` holds ONE Substitute or ONE
    // Phased split, so a query can no longer be both substituted and
    // phase-decomposed: the type rules both cases out. Left to pin: which
    // queries Bench times differently from their build.
    val bench = SparkEntry.registry.flatMap(q => q.bench.map(q.name -> _))
    assert(bench.collect { case (n, _: QuerySpec.Substitute) => n }.toSet ===
      Set("v1x_table_profile_approx", "v4x_histogram_approx"))
    assert(bench.collect { case (n, _: QuerySpec.Phased) => n }.toSet ===
      Set("m1_merge_category_kpi"))
  }

  test("ScaleSweep's queries and Bench's reference subset are registered") {
    // an unregistered sweep name fails only when the sweep reaches it; an
    // unregistered subset name silently shrinks the metric line's subset_n
    val q = SparkEntry.queries.keySet
    assert((graft.tools.ScaleSweep.SweepQueries.toSet -- q) === Set.empty[String])
    assert(Bench.subsetNames.size === 13)
    assert((Bench.subsetNames -- q) === Set.empty[String])
  }

  test("README documents every driver query id") {
    val readme = Files.readString(Paths.get("README.md"))
    val missing = SparkEntry.queries.keySet
      .filterNot(id => readme.contains(s"`$id`"))
    assert(missing === Set.empty[String],
      s"query ids missing from the README surface table: $missing")
    val count = SparkEntry.queries.size
    assert(readme.contains(s"($count queries"),
      s"README header count must say ($count queries ...)")
  }
}
