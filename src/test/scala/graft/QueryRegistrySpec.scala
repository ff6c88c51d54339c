package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry, checked without a Spark session: each query is
  * declared once, carries an oracle, and the harness views agree. */
class QueryRegistrySpec extends AnyFunSuite {

  private def names = SparkEntry.specs.map(_.name)

  test("121 specs with unique q_ names") {
    assert(names.size == 121)
    assert(names.distinct.size == names.size, names.diff(names.distinct))
    assert(names.forall(_.matches("q_[a-z0-9_]+")), names.filterNot(_.matches("q_[a-z0-9_]+")))
  }

  test("every oracle is non-blank") {
    val blank = SparkEntry.specs.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, blank)
  }

  test("queries and oracleSql cover the same names as specs") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("select keeps the given order and rejects unknown names, naming them") {
    assert(SparkEntry.select(Seq("q_kin_bbox", "q_asof_orders")).map(_.name) ==
      Seq("q_kin_bbox", "q_asof_orders"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q_kin_bbox", "q_kin_bbx", "q_nope")))
    assert(e.getMessage.contains("unknown queries: q_kin_bbx, q_nope"), e.getMessage)
  }
}
