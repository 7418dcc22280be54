package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry is a list, and a name declared twice would collapse
  * silently in the `queries` / `oracleSql` maps derived from it. */
class QueryRegistrySpec extends AnyFunSuite {

  test("every query name is declared once") {
    val dups = SparkEntry.registry.groupBy(_.name).collect {
      case (name, qs) if qs.size > 1 => name }
    assert(dups.isEmpty, s"query names declared more than once: $dups")
    assert(SparkEntry.queries.size == SparkEntry.registry.size)
  }
}
