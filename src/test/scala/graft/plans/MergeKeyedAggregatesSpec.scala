package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{PlanWalk, SparkTestSession}
import graft.api.Reducer
import graft.fixtures.Fixtures
import graft.functions.GraftFunctions._
import graft.operators.SpatialJoin

/** Each case runs its query with the rule and with the rule excluded
  * through `spark.sql.optimizer.excludedRules`, compares the rows, and
  * counts the optimized plan's Aggregates and Joins.
  */
class MergeKeyedAggregatesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val Excluded = "spark.sql.optimizer.excludedRules"

  private def withoutRule[T](f: => T): T = {
    val before = spark.conf.getOption(Excluded)
    spark.conf.set(Excluded, MergeKeyedAggregates.ruleName)
    try f finally before.fold(spark.conf.unset(Excluded))(spark.conf.set(Excluded, _))
  }

  private def shape(p: LogicalPlan) =
    (p.collect { case a: Aggregate => a }.size, p.collect { case j: Join => j }.size)

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  /** (aggregates, joins) with the rule, after checking the rows equal the
    * rows without it; `q` builds a fresh DataFrame each time.
    */
  private def run(q: => DataFrame): ((Int, Int), (Int, Int)) = {
    val (want, before) = withoutRule { val d = q; (rows(d), shape(d.queryExecution.optimizedPlan)) }
    val d = q
    assert(rows(d) === want)
    (shape(d.queryExecution.optimizedPlan), before)
  }

  /** One Aggregate with the rule; `joins` is the number the input has. */
  private def assertMerged(q: => DataFrame, joins: Int = 0): Unit = {
    val (after, before) = run(q)
    assert(before._1 > 1, s"the baseline must keep separate Aggregates: $before")
    assert(after === (1, joins), q.queryExecution.optimizedPlan.treeString)
  }

  private def assertKept(q: => DataFrame): Unit = {
    val (after, before) = run(q)
    assert(before._1 > 1)
    assert(after === before, q.queryExecution.optimizedPlan.treeString)
  }

  /** n rows over a Range (a local relation would fold each side's
    * pruning into its data): key k in 0..3 with k NULL on every 7th row.
    */
  private def input: DataFrame = input(60)
  private def input(n: Long): DataFrame = spark.range(0, n, 1, 3).select(
    when(col("id") % 7 === 0, lit(null).cast("string"))
      .otherwise((col("id") % 4).cast("string")).as("k"),
    (col("id") % 2).as("g"), (col("id") * 3).as("x"), (col("id") % 5).cast("double").as("w"))

  test("merges a 2-way and a 3-way chain of Reducer aggregates into one Aggregate") {
    def r = Reducer.on(input).aggregateBy("k", col("k"))
    assertMerged { val x = r; x.count("c").join(x.sum(col("x"), "s"), Seq("k")) }
    assertMerged {
      val x = r
      x.count("c").join(x.sum(col("x"), "s"), Seq("k"))
        .join(x.sketchQuantile(col("x"), 0.5, "q"), Seq("k"))
    }
    // the NULL-key group stays dropped, as the join dropped it
    val x = r
    val got = x.count("c").join(x.weightedAverage(col("x"), col("w"), "wa"), Seq("k"))
    assert(shape(got.queryExecution.optimizedPlan) === (1, 0))
    assert(got.collect().map(_.getString(0)).sorted.toSeq === Seq("0", "1", "2", "3"))
  }

  test("merges two grouping keys and a reversed equality") {
    assertMerged {
      val r = Reducer.on(input).aggregateBy("k", col("k")).aggregateBy("g", col("g"))
      r.count("c").join(r.average(col("x"), "m"), Seq("k", "g"))
    }
    assertMerged {
      val r = Reducer.on(input).aggregateBy("k", col("k"))
      val c = r.count("c"); val s = r.sum(col("x"), "s")
      c.join(s, s("k") === c("k")).select(c("k"), s("k").as("k2"), col("c"), col("s"))
    }
  }

  test("keeps the join for different inputs, one-sided filters, rand(), left joins and different keys") {
    assertKept {
      Reducer.on(input).aggregateBy("k", col("k")).count("c")
        .join(Reducer.on(input(50)).aggregateBy("k", col("k")).sum(col("x"), "s"), Seq("k"))
    }
    assertKept {
      Reducer.on(input).aggregateBy("k", col("k")).count("c")
        .join(Reducer.on(input.where(col("x") > 30)).aggregateBy("k", col("k")).sum(col("x"), "s"), Seq("k"))
    }
    assertKept {
      val r = Reducer.on(input.withColumn("u", rand(7))).aggregateBy("k", col("k"))
      r.count("c").join(r.sum(col("u"), "s"), Seq("k"))
    }
    assertKept {
      val r = Reducer.on(input).aggregateBy("k", col("k"))
      r.count("c").join(r.sum(col("x"), "s"), Seq("k"), "left")
    }
    assertKept {
      Reducer.on(input).aggregateBy("k", col("k")).count("c")
        .join(Reducer.on(input).aggregateBy("k", concat(col("k"), lit("!"))).sum(col("x"), "s"), Seq("k"))
    }
  }

  test("keeps the join when either side counts distinct values") {
    // two distinct sets in one Aggregate would reach physical planning
    // unrewritten: the optimizer's distinct rewrite runs before this rule
    assertKept {
      val r = Reducer.on(input).aggregateBy("k", col("k"))
      r.countUniq(col("x"), "ux").join(r.countUniq(col("w"), "uw"), Seq("k"))
    }
    assertKept {
      val r = Reducer.on(input).aggregateBy("k", col("k"))
      r.countUniq(col("x"), "ux").join(r.sum(col("x"), "s"), Seq("k"))
    }
  }

  test("joinDf then count, sum and sketch median run one cell join") {
    val imgs = Fixtures.images(spark, 1000)
      .withColumn("lon", phashLon(col("phash")))
      .withColumn("lat", phashLat(col("phash")))
    def q = {
      val r = Reducer.on(SpatialJoin.joinDf(spark, imgs, col("lon"), col("lat"),
        Fixtures.polygonsDf(spark))).aggregateBy("zone", col("poly_id"))
      r.count("cnt").join(r.sum(col("w"), "total"), Seq("zone"))
        .join(r.sketchQuantile(col("h"), 0.5, "q50"), Seq("zone"))
    }
    assertMerged(q, joins = 1)
    val d = q
    assert(d.count() > 0)
    val plan = d.queryExecution.executedPlan
    val joins = PlanWalk.collect(plan) { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
    assert(joins.size === 1, plan.toString)
    assert(joins.head.condition.exists(_.exists(_.prettyName == "raycast_pip_edges")), plan.toString)
  }

  test("installing twice leaves one rule") {
    MergeKeyedAggregates.install(spark)
    MergeKeyedAggregates.install(spark)
    Reducer.on(input)
    assert(spark.experimental.extraOptimizations.count(_ eq MergeKeyedAggregates) === 1)
  }
}
