package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

/** The registry's shape, checked without a Spark session: the public
  * contract's two views list the same 196 names, and every twin is there.
  */
class QueryRegistrySpec extends AnyFunSuite {
  private def noRun: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
    (_, _) => throw new UnsupportedOperationException("not run")

  test("196 unique names, each with a non-blank twin; queries and oracleSql share their keys") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size === 196)
    assert(names.distinct.size === 196)
    SparkEntry.registry.foreach(q => assert(q.oracleSql.trim.nonEmpty, q.name))
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet === names.toSet)
  }

  test("a duplicate name fails the registry; a blank twin fails when read") {
    val a = QuerySpec("qx", noRun, "SELECT 1")
    val dup = intercept[IllegalArgumentException](QuerySpec.registry(Seq(a, QuerySpec("qx", noRun, "SELECT 2"))))
    assert(dup.getMessage.contains("qx"))
    val blank = QuerySpec("qb", noRun, "  \n")
    assert(intercept[IllegalArgumentException](blank.oracleSql).getMessage.contains("qb"))
  }

  test("twins are lazy: building the registry forces none, reading one forces it once") {
    var forced = 0
    val q = QuerySpec("ql", noRun, { forced += 1; "SELECT 1" })
    QuerySpec.registry(Seq(q))
    assert(forced === 0)
    assert(q.oracleSql === "SELECT 1" && q.oracleSql === "SELECT 1")
    assert(forced === 1)
  }
}
