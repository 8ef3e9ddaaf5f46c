package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.Fixtures
import graft.functions.GraftFunctions._
import graft.operators.SpatialJoin
import graft.queries.{QueryRunner, QuerySpec}

/** Shared bench kernels (BASELINE.md protocol: warm-up discarded, median of
  * >=3 timed runs, throughput = input rows / median wall-clock).
  */
object BenchCore {
  /** The flagship job: images ⋈ polygon set + tile assignment, fully
    * materialized via aggregation (count + tile checksums force every stage).
    */
  /** @param mode join strategy: "broadcast" (default), "smj" (force the
    *        shuffle sort-merge path), "salted" (shuffle path with hot-cell
    *        salting ×4) — same rows out of all three (FlagshipSpec asserts).
    */
  def flagship(spark: SparkSession, n: Long, replicate: Int = 1,
               mode: String = "broadcast"): DataFrame = {
    val base = Fixtures.images(spark, n)
    // `replicate` unions the same files K times into ONE job — scales the
    // scan/join work without K× disk, for scaling-efficiency measurement
    val src = Seq.fill(replicate)(base).reduce(_ union _)
    val imgs = src
      .withColumn("lon", phashLon(col("phash")))
      .withColumn("lat", phashLat(col("phash")))
    val (bt, salt) = mode match {
      case "broadcast" => (4000000L, 1)
      case "smj"       => (0L, 1)
      case "salted"    => (0L, 4)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    val joined = SpatialJoin.join(spark, imgs, col("lon"), col("lat"), Fixtures.polygons,
      broadcastThreshold = bt, saltBuckets = salt)
    SpatialJoin.assignTiles(joined, col("lon"), col("lat"), 12)
      .agg(count(lit(1)).as("rows"), sum(col("tile_x")).as("cx"), sum(col("tile_y")).as("cy"))
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Warm-up once, then median of `runs`. */
  def medianTime(runs: Int)(body: => Unit): Double = {
    body // warm-up (JIT + codegen + broadcast)
    val ts = (1 to runs).map(_ => timed(body)).sorted
    ts(ts.length / 2)
  }

  /** (steal, busy) jiffies from /proc/stat — this sandbox's hypervisor
    * steals up to ~31% of busy time in bad windows (BASELINE.md caveat),
    * so benchmark output self-reports contention: steal/(steal+busy)
    * over the measured interval tells a reader whether a slow number was
    * the plan or the host. Returns (0,0) where /proc/stat is unreadable.
    */
  def cpuJiffies(): (Long, Long) = try {
    val l = scala.io.Source.fromFile("/proc/stat").getLines().next().trim
      .split("\\s+").drop(1).map(_.toLong)
    (if (l.length > 7) l(7) else 0L, l(0) + l(2))
  } catch { case _: Throwable => (0L, 0L) }

  def session(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Driver-run benchmark: one JSON line with per-query seconds on
  * SPARK_GRAFT_SF_DIR plus flagship join+tiling throughput at
  * SPARK_GRAFT_CPUS cores on the seed-42 1M-row images table.
  */
object Bench {
  val FLAGSHIP_ROWS = 1000000L
  val FLAGSHIP_REPLICATE = 16 // 16M input rows per run — amortizes job overhead

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    val spark = BenchCore.session(cpus)
    val (steal0, busy0) = BenchCore.cpuJiffies()

    Fixtures.images(spark, FLAGSHIP_ROWS) // generate outside timing
    val totalRows = FLAGSHIP_ROWS * FLAGSHIP_REPLICATE
    val tFlag = BenchCore.medianTime(3) {
      BenchCore.flagship(spark, FLAGSHIP_ROWS, FLAGSHIP_REPLICATE).collect()
    }
    val mRowsPerSec = totalRows / tFlag / 1e6

    val outcomes = timeQueries(spark, SparkEntry.registry, sfDir)
    val results = outcomes.collect { case (name, Right(t)) => name -> t }
    val qs = (results :+ ("flagship_join_tiles_16m" -> tFlag))
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val errors = outcomes.collect { case (name, Left(e)) =>
      s"${QueryRunner.jsonString(name)}:${QueryRunner.jsonString(QueryRunner.brief(e))}"
    }
    val total = results.map(_._2).sum + tFlag
    val (steal1, busy1) = BenchCore.cpuJiffies()
    val stealPct =
      if (busy1 > busy0) 100.0 * (steal1 - steal0) / math.max(1L, (steal1 - steal0) + (busy1 - busy0))
      else 0.0
    println(s"""{"metric":"flagship join+tiling throughput","value":${f"$mRowsPerSec%.3f"},"unit":"Mrows/s","total_sec":${f"$total%.3f"},"host_steal_pct":${f"$stealPct%.1f"},"queries":$qs,"errors":${errors.mkString("{", ",", "}")},"cpus":"$cpus","sf":"$sfDir"}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }

  /** Median of 3 in-JVM runs per query: this VM's hypervisor steals up to
    * ~31% of busy time in bad windows (BASELINE.md caveat), and a
    * single-shot number read ~1.4x slow across the whole round-3 suite
    * through no plan fault — one stolen window can inflate at most one of
    * the three runs, and the median discards it. A query that throws is
    * not timed: its outcome is the error.
    */
  def timeQueries(spark: SparkSession, specs: Seq[QuerySpec],
                  sfDir: String): Seq[(String, Either[Throwable, Double])] =
    QueryRunner.run(specs) { q =>
      (1 to 3).map { i =>
        if (i > 1) System.gc() // the runner's between-query isolation, between runs too
        BenchCore.timed { q.run(spark, sfDir).count() }
      }.sorted.apply(1)
    }
}

/** Two-cluster-size scaling proxy (north rule; task instruction): same job,
  * same input, at local[N] — run once per parallelism level in a fresh JVM:
  *   sbt "runMain graft.ScalingBench 8 1000000 3"
  *   sbt "runMain graft.ScalingBench 32 1000000 3"
  * Efficiency N→4N = (T_N / T_4N) / 4, gate ≥ 0.8 (BASELINE.md).
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val cpus = if (args.length > 0) args(0) else "8"
    val n = if (args.length > 1) args(1).toLong else Bench.FLAGSHIP_ROWS
    val runs = if (args.length > 2) args(2).toInt else 3
    val replicate = if (args.length > 3) args(3).toInt else 1
    val mode = if (args.length > 4) args(4) else "broadcast"
    val rows = n * replicate
    val spark = BenchCore.session(cpus)
    Fixtures.images(spark, n)
    val (steal0, busy0) = BenchCore.cpuJiffies()
    val t = BenchCore.medianTime(runs) { BenchCore.flagship(spark, n, replicate, mode).collect() }
    val (steal1, busy1) = BenchCore.cpuJiffies()
    val stealPct =
      if (busy1 > busy0) 100.0 * (steal1 - steal0) / math.max(1L, (steal1 - steal0) + (busy1 - busy0))
      else 0.0
    println(s"""{"bench":"scaling","cpus":$cpus,"rows":$rows,"mode":"$mode","median_sec":${f"$t%.3f"},"mrows_per_sec":${f"${rows / t / 1e6}%.3f"},"host_steal_pct":${f"$stealPct%.1f"}}""")
    spark.stop()
  }
}
