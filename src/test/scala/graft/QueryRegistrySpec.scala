package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.QueryDef

/** The contract maps all derive from one registry of [[QueryDef]]s,
  * so a query cannot lose its oracle, prep or anchor to a typo in a
  * parallel map; what is left to pin is the registry itself. */
class QueryRegistrySpec extends AnyFunSuite {

  private def stub(name: String) =
    QueryDef(name, (s, _) => s.range(1).toDF(), () => "SELECT 1")

  test("a registry refuses a query name declared twice") {
    val e = intercept[IllegalArgumentException] {
      QueryDef.registry(Seq(stub("a"), stub("b"), stub("a")))
    }
    assert(e.getMessage.endsWith("more than once: a"))
    assert(QueryDef.registry(Seq(stub("a"), stub("b"))).map(_.name) == Seq("a", "b"))
  }

  test("queries, oracleSql and the bench anchors have identical key sets") {
    val names = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet == names)
    assert(Bench.anchors.keySet == names)
  }
}
