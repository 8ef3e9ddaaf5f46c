package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.Reducer

class ReducerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val df = Seq(
    ("a", 1.0, 2.0), ("a", 3.0, 1.0), ("b", 10.0, 4.0), ("b", 20.0, 0.0), ("a", 1.0, 1.0)
  ).toDF("k", "x", "w")

  test("count/sum/average/weightedAverage golden values") {
    val r = Reducer.on(df).aggregateBy("k", $"k")
    assert(r.count("c").collect().map(x => (x.getString(0), x.getLong(1))).toSet ==
      Set(("a", 3L), ("b", 2L)))
    assert(r.sum($"x", "s").collect().map(x => (x.getString(0), x.getDouble(1))).toSet ==
      Set(("a", 5.0), ("b", 30.0)))
    assert(r.average($"x", "m").collect().map(x => (x.getString(0), x.getDouble(1))).toSet ==
      Set(("a", 5.0 / 3), ("b", 15.0)))
    // wavg(a) = (1*2 + 3*1 + 1*1)/(2+1+1) = 6/4; b: (10*4 + 0)/4 = 10
    assert(r.weightedAverage($"x", $"w", "wa").collect()
      .map(x => (x.getString(0), x.getDouble(1))).toSet == Set(("a", 1.5), ("b", 10.0)))
  }

  test("weightedAverage is NULL for a group whose weights sum to 0") {
    // ANSI division by a zero weight sum would fail the whole query
    val zero = Seq(("a", 1.0, 0.0), ("b", 3.0, 2.0), ("c", 2.0, 0.0)).toDF("k", "x", "w")
    val got = Reducer.on(zero).aggregateBy("k", $"k").weightedAverage($"x", $"w", "wa")
      .collect().map(x => x.getString(0) -> Option(x.get(1))).toMap
    assert(got == Map("a" -> None, "b" -> Some(3.0), "c" -> None))
  }

  test("uniq and countUniq") {
    val r = Reducer.on(df).aggregateBy("k", $"k")
    assert(r.uniq($"x", "v").collect().map(x => (x.getString(0), x.getDouble(1))).toSet ==
      Set(("a", 1.0), ("a", 3.0), ("b", 10.0), ("b", 20.0)))
    assert(r.countUniq($"x", "n").collect().map(x => (x.getString(0), x.getLong(1))).toSet ==
      Set(("a", 2L), ("b", 2L)))
  }

  test("zerofill inserts identity rows for missing keys") {
    val r = Reducer.on(df.where($"k" === "a")).aggregateBy("k", $"k")
    val counted = r.count("c")
    val domain = Seq("a", "b", "c").toDF("k")
    val filled = r.zerofill(counted, domain, Map("c" -> lit(0L)))
      .collect().map(x => (x.getString(0), x.getLong(1))).toSet
    assert(filled == Set(("a", 3L), ("b", 0L), ("c", 0L)))
  }

  test("nested index = multi-column groupBy (D12)") {
    val r = Reducer.on(df).aggregateBy("k", $"k").aggregateBy("w", $"w")
    assert(r.count("c").collect().length == 5 - 1) // (a,1.0) appears twice
  }

  test("typed Aggregator fold (D8 reduce contract)") {
    import org.apache.spark.sql.{Encoder, Encoders, Row}
    val agg = new org.apache.spark.sql.expressions.Aggregator[Row, (Double, Long), Double] {
      def zero = (0.0, 0L)
      def reduce(b: (Double, Long), r: Row) = (b._1 + r.getAs[Double]("x"), b._2 + 1)
      def merge(a: (Double, Long), b: (Double, Long)) = (a._1 + b._1, a._2 + b._2)
      def finish(b: (Double, Long)) = if (b._2 == 0) 0.0 else b._1 / b._2
      def bufferEncoder: Encoder[(Double, Long)] = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
      def outputEncoder: Encoder[Double] = Encoders.scalaDouble
    }
    val got = Reducer.on(df).aggregateBy("k", $"k").reduce(agg, "m")
      .collect().map(x => (x.getString(0), x.getDouble(1))).toSet
    assert(got == Set(("a", 5.0 / 3), ("b", 15.0)))
  }

  test("uniqSketch: per-batch HLL sketches union to the full-scan estimate") {
    import org.apache.spark.sql.functions._
    val full = spark.range(0, 20000).select((col("id") % 7).as("g"), (col("id") % 4321).as("v"))
    // two disjoint "appends" sketched separately, then unioned — must agree
    // with sketching the whole table in one pass (mergeability), and land
    // within HLL error of the exact distinct count
    val batches = Seq(full.where(col("id") % 2 === 0), full.where(col("id") % 2 === 1))
      .map(b => Reducer.on(b).aggregateBy("g", col("g")).uniqSketch(col("v")))
    val unioned = batches.reduce(_ union _)
      .groupBy("g").agg(hll_union_agg(col("uniq_sketch")).as("sk"))
      .select(col("g"), hll_sketch_estimate(col("sk")).as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val onePass = Reducer.on(full).aggregateBy("g", col("g")).uniqSketch(col("v"))
      .select(col("g"), hll_sketch_estimate(col("uniq_sketch")).as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // union-of-parts and one-pass sketches agree to within sketch error
    // (not bit-identical: sparse/dense register transitions differ), and
    // both land within HLL error of the exact count
    val exact = full.groupBy("g").agg(countDistinct("v").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((g, n) <- exact) {
      assert(math.abs(unioned(g) - onePass(g)).toDouble / n < 0.02, s"g=$g union vs one-pass")
      assert(math.abs(unioned(g) - n).toDouble / n < 0.05, s"g=$g est=${unioned(g)} exact=$n")
    }
  }
}
