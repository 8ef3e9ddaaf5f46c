package graft.tools

import graft.queries.QueryRunner

/** Run a single registered query in a fresh JVM (bench isolation probe):
  * runMain graft.tools.RunOne <queryName> [sfDir] [cpus] [reps]
  * Exits 1 if the query throws. To check its result against the twin,
  * use `runMain graft.Verify <sfDir> <outDir> <queryName>`.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sf = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2) else "32"
    val reps = if (args.length > 3) args(3).toInt else 3
    val spec = graft.SparkEntry.registry.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"unknown query $name"))
    val spark = graft.BenchCore.session(cpus)
    val outcome = QueryRunner.run(Seq(spec)) { q =>
      for (i <- 1 to reps) {
        val t0 = System.nanoTime()
        val n = q.run(spark, sf).count()
        println(f"RUNONE $name rep=$i rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.2f")
      }
    }
    spark.stop()
    outcome.collect { case (_, Left(e)) =>
      System.err.println(s"RUNONE $name failed: ${QueryRunner.brief(e)}")
      sys.exit(1)
    }
  }
}
