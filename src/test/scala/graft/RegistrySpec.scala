package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.registry.QuerySpec

/** Guards the query registry itself — the one failure mode the oracle gate
  * cannot see is a query that silently VANISHES from the map (a duplicate
  * key in a `Map(...)` literal keeps the last binding; this shadowed
  * `percentiles_lineitem` for part of round 6). The registry is now built
  * through [[SparkEntry.distinctKeys]], which refuses collisions; these
  * specs force that require on every test run and pin the gate invariants.
  */
class RegistrySpec extends AnyFunSuite {

  test("registry maps construct (forces the distinct-keys require)") {
    assert(SparkEntry.queries.nonEmpty)
    assert(SparkEntry.oracleSql.nonEmpty)
  }

  test("every query has an oracle entry — full correctness-gate coverage") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty,
      s"queries with no oracle (invisible to the gate): ${missing.toSeq.sorted}")
  }

  test("no orphan oracle entries (oracle for a query that does not exist)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty,
      s"oracle entries with no query: ${orphans.toSeq.sorted}")
  }

  test("distinctKeys rejects a duplicate key loudly") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.distinctKeys("spec", Seq("k" -> 1, "other" -> 2, "k" -> 3))
    }
    assert(e.getMessage.contains("duplicate spec keys"))
    assert(e.getMessage.contains("k"))
  }

  test("a name declared in two families fails when the registry is built") {
    def spec(name: String) =
      QuerySpec(name, (s, _) => s.emptyDataFrame, s"SELECT '$name'")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.registry(Seq(
        Seq(spec("only_a"), spec("twice")),
        Seq(spec("twice"), spec("only_b"))))
    }
    assert(e.getMessage.contains("duplicate queries keys"))
    assert(e.getMessage.contains("twice"))
    assert(!e.getMessage.contains("only_"))
  }
}
