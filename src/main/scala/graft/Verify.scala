package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.queries.QueryRunner
/** Correctness dump: each registered query's result → parquet, plus
  * oracle_sql.json, for a DuckDB compare (tools/compare.py). A query that
  * throws is reported and the others still run; the process then lists
  * the failed names and exits 1.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional third arg (builder-side only; the driver passes two): run
    // only queries whose name starts with the given comma-separated
    // prefixes — targeted re-verification while iterating
    val only: String => Boolean = args.lift(2) match {
      case Some(pfx) => val ps = pfx.split(','); name => ps.exists(name.startsWith)
      case None => _ => true
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = QueryRunner.run(SparkEntry.registry.filter(q => only(q.name))) { q =>
      q.run(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}.parquet")
    }.collect { case (name, Left(e)) =>
      System.err.println(s"[verify] $name failed: ${QueryRunner.brief(e)}")
      name
    }
    // Dual-key: the driver's CORRECTNESS keys are dump basenames
    // ("qNN_name.parquet") while ours are bare names — emit both so either
    // lookup hits (round-1 all-no_oracle failure was exactly this mismatch).
    // jsonString escapes every control char: a tab or CR in the SQL would
    // otherwise make json.load of the file fail and zero the correctness.
    val json = SparkEntry.oracleSql
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${QueryRunner.jsonString(k)}: ${QueryRunner.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(" ")}")
      sys.exit(1)
    }
  }
}
