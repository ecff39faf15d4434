package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract's two maps must name the same queries: a registry
  * entry without oracle SQL (or the reverse) is never compared.
  */
class RegistrySpec extends AnyFunSuite {
  test("queries and oracleSql name the same 277 entries") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q -- o == Set.empty, "registered without oracle SQL")
    assert(o -- q == Set.empty, "oracle SQL without a registered query")
    assert(q.size == 277)
  }
}
