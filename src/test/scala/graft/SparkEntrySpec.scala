package graft

import org.scalatest.funsuite.AnyFunSuite

class SparkEntrySpec extends AnyFunSuite {

  test("a name registered twice fails and the error names it") {
    val plan = SparkEntry.queries("q1_agg")
    val qs = Seq(Query("q_a", plan, "SELECT 1"), Query("q_b", plan, "SELECT 2"),
      Query("q_a", plan, "SELECT 3"))
    val e = intercept[IllegalArgumentException](SparkEntry.distinctNames(qs))
    assert(e.getMessage.contains("q_a"))
    assert(!e.getMessage.contains("q_b"))
  }

  test("the registry holds 360 unique names, each with oracle SQL") {
    val names = SparkEntry.all.map(_.name)
    assert(names.size === 360)
    assert(names.distinct.size === 360)
    SparkEntry.all.foreach(q => assert(q.oracleSql.trim.nonEmpty, q.name))
    assert(SparkEntry.queries.keySet === names.toSet)
    assert(SparkEntry.oracleSql.keySet === names.toSet)
  }
}
