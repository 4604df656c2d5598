package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry: every gate is one `gate(...)` registration, and
  * `queries`, `oracleSql`, `streamGates` and `eagerGates` are derived
  * from it. The counts catch a gate or a flag lost in an edit.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("gate registry: 465 distinct gates, each with a plan and an oracle") {
    assert(SparkEntry.queries.size == 465)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.oracleSql.values.forall(_.trim.nonEmpty))
  }

  test("streamGates registry: every banded stream gate is a real query") {
    val qs = SparkEntry.queries.keySet
    val missing = SparkEntry.streamGates.filterNot(qs.contains)
    assert(missing.isEmpty, s"streamGates not in queries: $missing")
    assert(SparkEntry.streamGates.distinct.size == SparkEntry.streamGates.size)
    assert(SparkEntry.streamGates.size == 22)
    assert(SparkEntry.streamGates == SparkEntry.streamGates.sorted)
  }

  test("eager gates: 48, each a real query") {
    assert(SparkEntry.eagerGates.size == 48)
    assert(SparkEntry.eagerGates.subsetOf(SparkEntry.queries.keySet))
  }
}
