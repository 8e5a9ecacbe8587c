package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The query registry: every module registers each query once, as
  * `Query(name, run, oracle)`, and [[SparkEntry]] derives the driver's
  * `queries` / `oracleSql` maps from that one list. */
class RegistrySpec extends AnyFunSuite {
  private val names = SparkEntry.registered.map(_.name)

  test("every registered name is qNNN_snake_case") {
    val bad = names.filterNot(_.matches("q\\d+_[a-z0-9_]+"))
    assert(bad.isEmpty, s"malformed query names: $bad")
  }

  test("names are unique across modules") {
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"registered more than once: $dups")
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
  }

  test("every oracle is non-blank") {
    val blank = SparkEntry.registered.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracles: $blank")
  }

  test("the map builder rejects a name registered twice") {
    val run: (SparkSession, String) => DataFrame = (_, _) => null
    val e = intercept[IllegalArgumentException](SparkEntry.index(Seq(
      Query("q1_twice", run, "SELECT 1"), Query("q1_twice", run, "SELECT 2"))))
    assert(e.getMessage.contains("q1_twice"))
  }
}
