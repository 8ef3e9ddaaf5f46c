package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Output rows of each execution of the program's cell equi-join (the
  * join keyed on `_lc`), read from the executed plan's SQL metrics,
  * through adaptive query stages.
  */
object CellJoinRows extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Seq[Long] = collect(plan) {
    case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == "_lc")) =>
      j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
  }
}

/** Engine counters of one traced iteration. Attached from outside the
  * program for that iteration only; callbacks arrive on listener-bus
  * threads, hence the locking.
  */
final class IterTrace extends SparkListener with QueryExecutionListener {
  private val tasks = ArrayBuffer.empty[(Long, Long)] // launch, finish (epoch ms)
  private var jobs, stages, singleTaskStages = 0
  private var shuffleBytes, shuffleRecords, spillBytes, planMs, cellJoinRows, cellJoins = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    if (e.stageInfo.numTasks == 1) singleTaskStages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
    val joins = CellJoinRows(qe.executedPlan)
    cellJoinRows += joins.sum
    cellJoins += joins.size
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Counters over the iteration window [w0, w1] (epoch ms). */
  def summary(w0: Long, w1: Long, gcMs: Long, jitMs: Long): Map[String, Double] = synchronized {
    val durs = tasks.map { case (a, b) => (b - a) / 1000.0 }.sorted
    // wall time inside the window covered by no task
    var covered = 0L; var reach = w0
    for ((a, b) <- tasks.map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }.sortBy(_._1) if b > a) {
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    Map(
      "spark.jobs" -> jobs, "spark.stages" -> stages, "spark.single_task_stages" -> singleTaskStages,
      "spark.tasks" -> durs.size, "spark.task_busy_s" -> durs.sum,
      "spark.task_p50_s" -> (if (durs.isEmpty) 0.0 else durs(durs.size / 2)),
      "spark.task_max_s" -> (if (durs.isEmpty) 0.0 else durs.last),
      "spark.idle_s" -> (w1 - w0 - covered) / 1000.0, "spark.plan_s" -> planMs / 1000.0,
      "spark.shuffle_write_bytes" -> shuffleBytes, "spark.shuffle_records" -> shuffleRecords,
      "spark.spill_bytes" -> spillBytes, "spark.gc_s" -> gcMs / 1000.0, "jvm.jit_s" -> jitMs / 1000.0,
      "join.executions" -> cellJoins,
      "join.candidates" -> (if (cellJoins == 0) 0.0 else cellJoinRows.toDouble / cellJoins))
  }
}

object Trace {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  /** Compile time of the JVM's JIT compilers, summed over their threads. */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Runs `body` with a fresh [[IterTrace]] attached; returns its result,
    * its wall seconds (the attach and drain are outside that time) and the
    * engine counters of the iteration.
    */
  def traced[T](spark: SparkSession)(body: => T): (T, Double, Map[String, Double]) = {
    val sc = spark.sparkContext
    val t = new IterTrace
    BusDrain(sc)
    sc.addSparkListener(t)
    spark.listenerManager.register(t)
    try {
      val g0 = gcMs(); val j0 = jitMs(); val w0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      val out = body
      val secs = (System.nanoTime() - n0) / 1e9
      val w1 = System.currentTimeMillis(); val g1 = gcMs(); val j1 = jitMs()
      BusDrain(sc)
      (out, secs, t.summary(w0, w1, g1 - g0, j1 - j0))
    } finally {
      spark.listenerManager.unregister(t)
      sc.removeSparkListener(t)
    }
  }

  /** (steal, busy) jiffies of the whole host from /proc/stat; zeros when
    * it cannot be read.
    */
  def cpuJiffies(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f(0) + f(1) + f(2))
    } finally src.close()
  } catch { case _: Exception => (0L, 0L) }

  def stealPct(a: (Long, Long), b: (Long, Long)): Double = {
    val steal = b._1 - a._1; val busy = b._2 - a._2
    if (steal + busy <= 0) 0.0 else 100.0 * steal / (steal + busy)
  }

  /** The process's resident high-water mark in MiB (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
