package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark body `run(spark, sfDir)` beside its DuckDB
  * twin over the same parquet tables. The twin is by-name and forced at
  * most once, on first read of `oracleSql`: several twins compute their
  * expected values in Scala from the fixture generators, and code that
  * only runs queries (Bench, RunOne) never pays for them.
  */
final class QuerySpec(val name: String, val run: (SparkSession, String) => DataFrame,
                      oracle: => String) {
  lazy val oracleSql: String = {
    val sql = oracle
    require(sql.trim.nonEmpty, s"$name: blank oracle SQL")
    sql
  }
}

object QuerySpec {
  def apply(name: String, run: (SparkSession, String) => DataFrame, oracle: => String): QuerySpec =
    new QuerySpec(name, run, oracle)

  /** The registry: `specs`, failing on a duplicate name. */
  def registry(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    specs
  }
}

/** The one loop behind Bench, Verify and RunOne. */
object QueryRunner {
  /** Applies `body` to each spec in name order and returns every outcome:
    * the result, or the error the query threw. A full GC follows each
    * query so the ContextCleaner drops its broadcasts and localCheckpoint
    * blocks now, not in the middle of the next query (without it, queries
    * late in a shared JVM inflated by 30-90 %, BENCH/BASELINE.md round 4).
    */
  def run[A](specs: Seq[QuerySpec])(body: QuerySpec => A): Seq[(String, Either[Throwable, A])] =
    specs.sortBy(_.name).map { q =>
      val outcome = try Right(body(q)) catch { case e: Throwable => Left(e) }
      System.gc()
      q.name -> outcome
    }

  /** First line of the error, at most 300 chars: a Spark error can carry a
    * whole plan, and a report line must stay parseable.
    */
  def brief(e: Throwable): String = e.toString.linesIterator.nextOption().getOrElse("").take(300)

  /** JSON string literal: escapes quote, backslash and every control char. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
