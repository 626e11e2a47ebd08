package graft

import org.scalatest.funsuite.AnyFunSuite

/** Declared-query completeness gate (no Spark session needed).
  *
  * Round 5 lesson: q42/q58 broke at analysis time and simply produced no
  * row in the round's correctness record — the gate shrank from 130 to 128
  * queries with zero red signal. These assertions make any drop or drift
  * between the query registry and its oracle a build failure.
  */
class RegistrySpec extends AnyFunSuite {

  test("every query has an oracle and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q.diff(o).isEmpty, s"queries without oracle SQL: ${q.diff(o).toSeq.sorted}")
    assert(o.diff(q).isEmpty, s"oracle SQL without query: ${o.diff(q).toSeq.sorted}")
  }

  test("declared query count matches the pinned expectation") {
    val names = SparkEntry.queries.keySet.toSeq.sorted
    assert(
      names.size == SparkEntry.declaredQueryCount,
      s"expected ${SparkEntry.declaredQueryCount} declared queries, found ${names.size}; " +
        "a query was added (bump SparkEntry.declaredQueryCount) or dropped (regression!)")
  }

  test("bench exclusions are pinned to their declared contrast faces") {
    // The headline bench may exclude ONLY these six queries, each a
    // declared contrast face whose scale twin is the benched primary
    // (q40→q66, q200/q182→q203/q204, q254-q256→q356-q358). Any new
    // exclusion must be added HERE with a rationale — a slow query
    // silently dropped from the bench is a measurement lie, not a fix.
    val expected = Set("q40_near_pairs_demo",
      "q200_pareto_revenue", "q182_quantile_normalize",
      "q254_geo_neighbors", "q255_geo_knn", "q256_geo_dbscan")
    assert(Bench.benchExclusions.keySet == expected,
      s"bench exclusion drift: ${Bench.benchExclusions.keySet.diff(expected)} added, " +
        s"${expected.diff(Bench.benchExclusions.keySet)} removed")
    // every exclusion names a real registered query and carries a reason
    Bench.benchExclusions.foreach { case (name, reason) =>
      assert(SparkEntry.queries.contains(name), s"excluded $name is not registered")
      assert(reason.nonEmpty)
    }
  }

  test("query names are unique qNN-prefixed and well-formed") {
    val names = SparkEntry.queries.keySet.toSeq
    val prefixes = names.map(_.takeWhile(_ != '_'))
    assert(names.forall(_.matches("q\\d+_[a-z0-9_]+")), "non-conforming query name")
    assert(prefixes.distinct.size == prefixes.size,
      s"duplicate qNN prefixes: ${prefixes.diff(prefixes.distinct).distinct.sorted}")
  }

  test("bench driver line packs a contiguous slowest-first prefix") {
    // A long-named slow entry that misses the budget ends the packing:
    // the shorter, faster entries behind it must not take its place.
    val entries = Seq("\"a\":9.0", "\"" + "x" * 40 + "\":5.0", "\"b\":1.0", "\"c\":0.5")
    assert(Bench.packPrefix(entries, 20) == "\"a\":9.0")
    assert(Bench.packPrefix(entries, 1000) == entries.mkString(","))
    assert(Bench.packPrefix(entries, 7) == "\"a\":9.0")
    assert(Bench.packPrefix(entries, 6) == "")
  }
}
