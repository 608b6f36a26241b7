package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QueryRegistry

/** The operator-query registry and the harness selector, checked without
  * a Spark session: no query frame is built here.
  */
class QueryRegistrySpec extends AnyFunSuite {
  private val names = QueryRegistry.all.map(_.name)

  test("251 uniquely named queries, each shaped q<number>_<name>") {
    assert(names.size == 251)
    assert(names.distinct.size == names.size, names.diff(names.distinct))
    val bad = names.filterNot(_.matches("q\\d+_\\w+"))
    assert(bad.isEmpty, bad)
  }

  test("every spec carries a non-empty oracle") {
    val empty = QueryRegistry.all.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(empty.isEmpty, empty)
  }

  test("SparkEntry's two maps are views of the same registry") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == names.toSet)
    QueryRegistry.all.foreach(q => assert(SparkEntry.oracleSql(q.name) == q.oracle))
  }

  test("the selector matches query ids exactly") {
    assert(Harness.select("q13").map(_.name) == Seq("q13_string_funcs"))
    assert(Harness.select("q13_string_funcs").map(_.name) == Seq("q13_string_funcs"))
    assert(Harness.select(" q130 , q13 ").map(_.name) ==
      Seq("q130_ivf_pq_ann", "q13_string_funcs"))
    assert(Harness.select("").map(_.name) == names)
  }

  test("the selector throws on an id that names no query") {
    Seq("q999", "q1", "q13_str", "q13,nope").foreach { ids =>
      val e = intercept[IllegalArgumentException](Harness.select(ids))
      assert(e.getMessage.contains("unknown query id"), ids)
    }
  }
}
