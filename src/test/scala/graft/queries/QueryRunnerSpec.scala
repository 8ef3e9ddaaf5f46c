package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.Bench

/** The runner behind Bench, Verify and RunOne reports a failing query as
  * an error instead of timing it, and keeps going.
  */
class QueryRunnerSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark

  test("Bench: a throwing query is reported as an error, never timed, and the next query still runs") {
    var boomRuns = 0
    var okRuns = 0
    val specs = Seq(
      QuerySpec("q_ok", (s, _) => { okRuns += 1; s.range(5).toDF() }, sys.error("twin forced")),
      QuerySpec("q_boom", (_, _) => { boomRuns += 1; throw new IllegalStateException("planted failure") },
        sys.error("twin forced")))
    val outcomes = Bench.timeQueries(spark, specs, "unused").toMap
    assert(outcomes.keys.toSeq.sorted === Seq("q_boom", "q_ok"))
    outcomes("q_boom") match {
      case Left(e) => assert(QueryRunner.brief(e).contains("planted failure"))
      case Right(t) => fail(s"a throwing query was timed at $t s")
    }
    assert(boomRuns === 1, "the failing query must not be re-run for timing")
    assert(outcomes("q_ok").exists(_ >= 0.0))
    assert(okRuns === 3, "the query after the failure still gets its three timed runs")
  }

  test("runner goes in name order and returns results and errors alike") {
    val seen = collection.mutable.Buffer.empty[String]
    val specs = Seq("qc", "qa", "qb").map(n => QuerySpec(n, (_, _) => null, "SELECT 1"))
    val out = QueryRunner.run(specs) { q =>
      seen += q.name
      if (q.name == "qb") throw new RuntimeException("line one\nline two") else q.name.length
    }
    assert(seen.toSeq === Seq("qa", "qb", "qc"))
    assert(out.map(_._1) === Seq("qa", "qb", "qc"))
    assert(out(0)._2 === Right(2) && out(2)._2 === Right(2))
    assert(out(1)._2.left.map(QueryRunner.brief) === Left("java.lang.RuntimeException: line one"))
  }

  test("jsonString escapes quotes, backslashes and control chars") {
    assert(QueryRunner.jsonString("a\"b\\c\n\t\u0001") === "\"a\\\"b\\\\c\\n\\t\\u0001\"")
  }
}
