package perfbench

import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and prints one JSON result line:
  *
  *   Main --workload <join_tiles|geo_aggregate|dup_clusters> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir> [--cores <n>]
  *
  * Untraced (--trace 0) it reports setup_s and rows_per_s.
  * Traced (--trace 1) it alternates untraced and listener-traced
  * iterations, and reports the per-layer metrics and the tracing overhead.
  */
object Main {
  /** Input sizes, fixed for every seed. */
  val JoinTilesPoints = 2000000L
  val GeoPoints = 100000L
  val DupMix = Gen.Mix(stars = 150, leaves = 16, shortChains = 300, shortLen = 8,
    longChains = 8, longLen = 64, singles = 500)

  val LayerUnits: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.single_task_stages" -> "count",
    "spark.tasks" -> "count", "spark.task_busy_s" -> "s", "spark.task_p50_s" -> "s",
    "spark.task_max_s" -> "s", "spark.idle_s" -> "s", "spark.plan_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_records" -> "count",
    "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s", "jvm.jit_s" -> "s",
    "cover.build_s" -> "s", "cover.rows" -> "count", "cover.full_rows" -> "count",
    "join.executions" -> "count", "join.candidates" -> "count", "join.pairs" -> "count", "join.refine_yield" -> "ratio",
    "ladder.scan_s" -> "s", "ladder.lonlat_s" -> "s", "ladder.zcell_s" -> "s",
    "ladder.join_s" -> "s", "ladder.tiles_s" -> "s",
    "zones.broadcast_join_s" -> "s", "zones.join_s" -> "s", "zones.agg_s" -> "s", "zones.zerofill_s" -> "s",
    "agg.groups" -> "count", "agg.zerofilled" -> "count",
    "cc.nodes" -> "count", "cc.components" -> "count",
    "jvm.peak_rss_mb" -> "MiB", "host.steal_pct" -> "%", "trace.overhead_pct" -> "%")

  /** One successful iteration: its wall seconds, the host steal during it
    * (percent of the CPU time the host's processors wanted) and the layer
    * numbers read off it. `time` is the wall time less the stolen share,
    * which is what the iteration would take on an unshared host.
    */
  final case class Iter(wall: Double, stealPct: Double, layers: Map[String, Double]) {
    def time: Double = wall * (1 - stealPct / 100)
  }

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, cores: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match { case "0" => false; case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t") },
      need("work"), m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
    require(o.seconds > 0 && o.cores > 0, "--seconds and --cores must be positive")
    o
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, spark: SparkSession, seed: Long, dir: String, cores: Int,
               small: Boolean): Workload = name match {
    case "join_tiles" =>
      new JoinTiles(spark, seed, dir, cores, if (small) 200000L else JoinTilesPoints)
    case "geo_aggregate" =>
      new GeoAggregate(spark, seed, dir, cores, if (small) 100000L else GeoPoints)
    case "dup_clusters" =>
      new DupClusters(spark, seed, dir,
        if (small) DupMix.copy(stars = 20, shortChains = 40, longChains = 2, longLen = 64, singles = 50)
        else DupMix)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o.cores, o.work)
    val sessionSecs = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val code = try runWorkload(o, spark, sessionSecs) finally spark.stop()
    sys.exit(code)
  }

  private def runWorkload(o: Opts, spark: SparkSession, sessionSecs: Double): Int = {
    val t0 = System.nanoTime()
    val wl = workload(o.workload, spark, o.seed, s"${o.work}/data", o.cores, small = false)
    log(f"${o.workload}: ${wl.inputRows} input rows generated in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    var attempted = 0L
    var failed = 0L
    val outs = scala.collection.mutable.ArrayBuffer.empty[wl.Out]
    /** One program operation: counted, timed only if it succeeds. */
    def op(traced: Boolean): Option[Iter] = {
      attempted += 1
      // same isolation on both sides: a full GC, then the listener bus
      // drained of the previous iteration's events
      System.gc()
      BusDrain(spark.sparkContext)
      try {
        val cpu0 = Trace.cpuJiffies()
        val (out, secs, layers) =
          if (traced) Trace.traced(spark)(wl.run())
          else { val n0 = System.nanoTime(); val r = wl.run(); (r, (System.nanoTime() - n0) / 1e9, Map.empty[String, Double]) }
        val steal = Trace.stealPct(cpu0, Trace.cpuJiffies())
        outs += out
        Some(Iter(secs, steal, layers ++ wl.outputLayers(out)))
      } catch {
        case NonFatal(e) =>
          failed += 1
          log(s"operation failed: $e")
          e.printStackTrace()
          None
      }
    }

    val cold = op(traced = false)
    val setupSecs = sessionSecs + cold.map(_.wall).getOrElse(0.0)
    log(f"session $sessionSecs%.2f s, cold iteration ${cold.map(_.wall).getOrElse(Double.NaN)}%.2f s")

    // warm up until the JIT compiles for under a tenth of an iteration, or
    // for the workload's fixed count: the JIT is still busy after that many
    // iterations here, and a fixed count keeps every run at the same stage
    var warm = 0
    var settled = false
    while (!settled && warm < wl.warmups) {
      val c0 = Trace.jitMs()
      val r = op(traced = false)
      val jitMs = Trace.jitMs() - c0
      warm += 1
      settled = r.exists(i => jitMs < 0.1 * i.wall * 1000)
      log(f"warm-up $warm: ${r.map(_.wall).getOrElse(Double.NaN)}%.3f s, JIT $jitMs ms")
    }

    val plain = scala.collection.mutable.ArrayBuffer.empty[Iter]
    val traced = scala.collection.mutable.ArrayBuffer.empty[Iter]
    val cpu0 = Trace.cpuJiffies()
    // traced runs alternate in ABBA order, so a drift over the run (the
    // JIT still settling) does not favour either side
    var round = 0
    while (plain.map(_.wall).sum + traced.map(_.wall).sum < o.seconds || plain.size < wl.minTimed ||
           (o.trace && traced.size < wl.minTimed)) {
      if (o.trace && round % 2 == 1) op(traced = true).foreach(traced += _)
      op(traced = false).foreach(plain += _)
      if (o.trace && round % 2 == 0) op(traced = true).foreach(traced += _)
      round += 1
    }
    val steal = Trace.stealPct(cpu0, Trace.cpuJiffies())
    val rss = Trace.peakRssMb()
    if (plain.isEmpty) { log("no iteration succeeded"); return 1 }
    log(f"timed: ${plain.map(i => f"${i.wall}%.3f").mkString(" ")} s; steal ${plain.map(i => f"${i.stealPct}%.0f").mkString(" ")} %%, $steal%.1f %% over the phase")

    val problems = try wl.check(outs.toSeq) catch {
      case NonFatal(e) => e.printStackTrace(); Seq(s"check failed to run: $e")
    }
    problems.foreach(p => log(s"CHECK FAILED: $p"))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val t = median(plain.toSeq.map(_.time))
        Seq(("setup_s", setupSecs, "s"), ("rows_per_s", wl.inputRows / t, "1/s"), ("peak_rss_mb", rss, "MiB"))
      } else {
        val perIter = traced.map(_.layers).toSeq
        val keys = perIter.flatMap(_.keys).distinct
        val med = keys.map(k => k -> median(perIter.flatMap(_.get(k)))).toMap
        val probes = wl.layerProbes()
        val layers = med ++ probes
        val all = layers ++ Map(
          "join.refine_yield" -> (if (layers.getOrElse("join.candidates", 0.0) > 0)
            layers.getOrElse("join.pairs", 0.0) / layers("join.candidates") else 0.0),
          "host.steal_pct" -> steal, "jvm.peak_rss_mb" -> rss,
          "trace.overhead_pct" -> 100.0 * (median(traced.map(_.time).toSeq) / median(plain.map(_.time).toSeq) - 1))
        log(f"traced ${median(traced.map(_.time).toSeq)}%.3f s vs untraced ${median(plain.map(_.time).toSeq)}%.3f s")
        // layers this workload does not exercise did no work: they read 0
        LayerUnits.map { case (k, u) => (k, all.getOrElse(k, 0.0), u) }
      }
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${problems.isEmpty}, "attempted": $attempted, "failed": $failed, "metrics": {${body.mkString(", ")}}}""")
    0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
