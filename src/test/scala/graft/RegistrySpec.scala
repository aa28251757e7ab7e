package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness query registry, checked without a Spark session: one entry
  * per name, each with an oracle, and its two map views (`queries`,
  * `oracleSql`) cover exactly the registry. */
class RegistrySpec extends AnyFunSuite {

  test("registry: unique names, non-empty oracles, both views cover it") {
    val registry = SparkEntry.registry
    val names = registry.map(_.name)
    assert(names.distinct == names, s"duplicate names: ${names.diff(names.distinct)}")
    assert(names == names.sorted, "registry is not in name order (Verify/Bench run order)")
    registry.foreach(q => assert(q.oracle.trim.nonEmpty, s"${q.name}: empty oracle"))
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == registry.size)
    assert(SparkEntry.oracleSql.size == registry.size)
  }
}
