package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
/** kNN ring-expansion join (SURVEY.md C4) vs in-JVM brute force. */
class KnnSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark

  /** (id, d2) of the k nearest `pts` to query (qid, lonm, latm). */
  private def bruteForce(pts: Seq[(Long, Long, Long)], q: (Long, Long, Long), k: Int) = {
    val (_, qx, qy) = q
    pts.map { case (id, x, y) =>
      (id, (x - qx) * (x - qx) + (y - qy) * (y - qy))
    }.sortBy { case (id, d2) => (d2, id) }.take(k)
  }

  /** planar kNN of (id, lonm, latm) points for (qid, lonm, latm) queries. */
  private def knn(pts: Seq[(Long, Long, Long)], qs: Seq[(Long, Long, Long)], k: Int,
                  level: Int, r0: Int = 1) =
    Knn.knnJoinDf(spark, spark.createDataFrame(pts).toDF("id", "lonm", "latm"),
      col("id"), col("lonm"), col("latm"),
      spark.createDataFrame(qs).toDF("qid", "lonm", "latm"),
      col("qid"), col("lonm"), col("latm"), k = k, level = level, r0 = r0)

  /** qid -> (neighbor_id, d2) in rank order. */
  private def ranked(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .groupBy(_._1).map { case (qid, rs) => qid -> rs.sortBy(_._3).map(r => (r._2, r._4)).toSeq }

  test("ring-expansion kNN equals brute force on skewed random points") {
    val rnd = new scala.util.Random(42)
    // clustered + uniform mix, forcing multi-round expansion for far queries
    val pts = (0L until 2000L).map { i =>
      if (i % 3 == 0)
        (i, -20000000L + rnd.nextInt(2000000), 10000000L + rnd.nextInt(2000000))
      else
        (i, rnd.nextLong(340000000L) - 170000000L, rnd.nextLong(160000000L) - 80000000L)
    }
    val queries = Seq(
      (0L, -19000000L, 11000000L),  // inside the dense cluster
      (1L, 160000000L, -75000000L), // sparse far corner
      (2L, 0L, 0L))
    val got = ranked(knn(pts, queries, k = 7, level = 5))
    for (q <- queries) assert(got(q._1) === bruteForce(pts, q, 7), s"query ${q._1}")
  }

  test("k larger than a sparse neighbourhood still returns exactly k") {
    val pts = (0L until 50L).map(i => (i, i * 6000000L - 150000000L, i * 3000000L - 75000000L))
    val q = Seq((9L, -149000000L, -74000000L))
    val got = knn(pts, q, k = 20, level = 6)
    assert(got.count() === 20)
    val exp = bruteForce(pts, q.head, 20).map(_._1)
    assert(got.orderBy("rank").collect().map(_.getLong(1)).toSeq === exp)
  }

  test("DataFrame-valued kNN join equals brute force (distributed query side)") {
    val rnd = new scala.util.Random(7)
    val pts = (0L until 2000L).map { i =>
      if (i % 3 == 0)
        (i, -20000000L + rnd.nextInt(2000000), 10000000L + rnd.nextInt(2000000))
      else
        (i, rnd.nextLong(340000000L) - 170000000L, rnd.nextLong(160000000L) - 80000000L)
    }
    // 40 queries spanning dense cluster, sparse corners, and world edges —
    // forces per-round retirement (dense finish round 1, sparse expand on)
    val qs = (0L until 40L).map { j =>
      if (j % 4 == 0) (j, -19500000L + j * 10000, 10500000L + j * 10000)
      else (j, rnd.nextLong(340000000L) - 170000000L, rnd.nextLong(160000000L) - 80000000L)
    }
    val got = ranked(knn(pts, qs, k = 7, level = 5))
    assert(got.size === 40)
    for (q <- qs) assert(got(q._1) === bruteForce(pts, q, 7), s"query ${q._1}")
  }

  test("DataFrame radius join equals brute force") {
    val rnd = new scala.util.Random(13)
    val pts = (0L until 1500L).map(i =>
      (i, rnd.nextLong(340000000L) - 170000000L, rnd.nextLong(160000000L) - 80000000L))
    val qs = (0L until 25L).map(j =>
      (j, rnd.nextLong(340000000L) - 170000000L, rnd.nextLong(160000000L) - 80000000L))
    val r = 20000000L
    val df = spark.createDataFrame(pts).toDF("id", "lonm", "latm")
    val qdf = spark.createDataFrame(qs).toDF("qid", "lonm", "latm")
    val got = Knn.radiusJoinDf(spark, df, col("id"), col("lonm"), col("latm"),
        qdf, col("qid"), col("lonm"), col("latm"), r, level = 5)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    val exp = (for {
      (qid, qx, qy) <- qs; (id, x, y) <- pts
      d2 = (x - qx) * (x - qx) + (y - qy) * (y - qy) if d2 <= r * r
    } yield (qid, id, d2)).toSet
    assert(got === exp)
    assert(exp.nonEmpty)
  }

  test("DataFrame kNN join: empty query table yields empty result") {
    val pts = Seq((1L, 0L, 0L), (2L, 1000000L, 0L))
    val df = spark.createDataFrame(pts).toDF("id", "lonm", "latm")
    val qdf = df.where(lit(false)).toDF("qid", "lonm", "latm")
    val got = Knn.knnJoinDf(spark, df, col("id"), col("lonm"), col("latm"),
      qdf, col("qid"), col("lonm"), col("latm"), k = 3, level = 5)
    assert(got.count() === 0)
    assert(got.columns.toSeq === Seq("qid", "neighbor_id", "rank", "d2"))
    // string point ids against long query ids: an empty result carries the
    // same schema as a non-empty one (neighbor_id is the point id's type)
    val sdf = spark.createDataFrame(Seq(("a", 0L, 0L), ("b", 1000000L, 0L)))
      .toDF("pid", "lonm", "latm")
    val qs = spark.createDataFrame(Seq((7L, 10L, 10L))).toDF("qid", "lonm", "latm")
    def run(q: org.apache.spark.sql.DataFrame) =
      Knn.knnJoinDf(spark, sdf, col("pid"), col("lonm"), col("latm"),
        q, col("qid"), col("lonm"), col("latm"), k = 1, level = 5)
    val full = run(qs)
    val empty = run(qs.where(lit(false)))
    assert(full.collect().map(r => r.getString(1)).toSeq === Seq("a"))
    assert(empty.count() === 0)
    assert(empty.schema === full.schema)
  }

  test("haversine radius join: empty query table yields empty result") {
    val df = spark.createDataFrame(Seq((1L, 0L, 0L), (2L, 1000000L, 0L)))
      .toDF("id", "lonm", "latm")
    def run(q: org.apache.spark.sql.DataFrame) =
      Knn.radiusJoinDf(spark, df, col("id"), col("lonm"), col("latm"),
        q, col("id"), col("lonm"), col("latm"),
        level = 5, metric = "haversine", radiusMeters = 1000.0)
    val got = run(df.where(lit(false)))
    assert(got.count() === 0)
    assert(got.schema === run(df).schema)
    assert(got.columns.toSeq === Seq("qid", "neighbor_id", "d_m"))
  }

  test("straggler ring explosion falls back to full-scan top-k (exact)") {
    // r0 large enough that (2r+1)^2 exceeds the ring-cell cap immediately:
    // the DataFrame join must take the broadcast full-scan path instead of
    // materializing a ~160k-element ring array per query row, and stay exact
    val rnd = new scala.util.Random(99)
    val pts = (0L until 300L).map(i =>
      (i, rnd.nextLong(340000000L) - 170000000L, rnd.nextLong(160000000L) - 80000000L))
    val qs = (0L until 5L).map(j =>
      (j, rnd.nextLong(340000000L) - 170000000L, rnd.nextLong(160000000L) - 80000000L))
    val got = ranked(knn(pts, qs, k = 4, level = 12, r0 = 200))
    for (q <- qs) assert(got(q._1) === bruteForce(pts, q, 4), s"query ${q._1}")
  }

  test("haversine radius join equals exhaustive scan at high latitude") {
    // the planar metric is ~2x too narrow E-W at 60N; the haversine metric
    // with the spherical-cap bbox cover must find every in-radius point.
    // Expected set computed with the SAME Column formula over a cross join
    // (bit-identical evaluation — this test gates cover correctness).
    val rnd = new scala.util.Random(31)
    val pts = (0L until 1200L).map(i =>
      (i, rnd.nextLong(340000000L) - 170000000L,
        55000000L + rnd.nextLong(24000000L))) // lat 55..79 deg N
    val qs = (0L until 12L).map(j =>
      (j, rnd.nextLong(340000000L) - 170000000L, 58000000L + rnd.nextLong(18000000L)))
    val rMeters = 900000.0
    val df = spark.createDataFrame(pts).toDF("id", "lonm", "latm")
    val qdf = spark.createDataFrame(qs).toDF("qid", "lonm", "latm")
    val got = Knn.radiusJoinDf(spark, df, col("id"), col("lonm"), col("latm"),
        qdf, col("qid"), col("lonm"), col("latm"),
        level = 5, metric = "haversine", radiusMeters = rMeters)
      .select("qid", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exp = qdf.withColumnRenamed("lonm", "_qlon").withColumnRenamed("latm", "_qlat")
      .crossJoin(df.withColumnRenamed("lonm", "_plon").withColumnRenamed("latm", "_plat"))
      .where(Knn.haversineMeters(col("_qlon"), col("_qlat"), col("_plon"), col("_plat")) <= rMeters)
      .select("qid", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exp.nonEmpty)
    assert(got === exp)
  }

  test("haversine kNN join equals exhaustive ranking at high latitude") {
    val rnd = new scala.util.Random(57)
    val pts = (0L until 900L).map(i =>
      (i, rnd.nextLong(340000000L) - 170000000L, rnd.nextLong(160000000L) - 80000000L))
    val qs = Seq((0L, 10000000L, 75000000L), (1L, -150000000L, 78000000L),
      (2L, 60000000L, -70000000L), (3L, 0L, 0L), (4L, 179000000L, 60000000L))
    val df = spark.createDataFrame(pts).toDF("id", "lonm", "latm")
    val qdf = spark.createDataFrame(qs).toDF("qid", "lonm", "latm")
    // expected via the same Column formula: cross join + rank
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("_d"), col("id"))
    val exp = qdf.withColumnRenamed("lonm", "_qlon").withColumnRenamed("latm", "_qlat")
      .crossJoin(df.withColumnRenamed("lonm", "_plon").withColumnRenamed("latm", "_plat"))
      .withColumn("_d", Knn.haversineMeters(col("_qlon"), col("_qlat"), col("_plon"), col("_plat")))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 6)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank")) -> r.getAs[Long]("id")).toMap
    val got = Knn.knnJoinDf(spark, df, col("id"), col("lonm"), col("latm"),
        qdf, col("qid"), col("lonm"), col("latm"), k = 6, level = 5, metric = "haversine")
      .collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank")) -> r.getAs[Long]("neighbor_id")).toMap
    assert(got === exp)
  }

  test("haversine cover wraps: seam and polar-cap queries find far-lon points") {
    // query at lon 179.5E must reach points at 179.5W (the ±180 seam), and
    // a near-pole query's cap spans ALL longitudes — both require the
    // wrapped x-ring (the planar clamp misses them, the round-3 q0i bug)
    val pts = Seq(
      (1L, -179500000L, 60000000L),  // ~55 km across the seam from q0
      (2L, 10000000L, -89000000L),   // near south pole, lon 10E
      (3L, 0L, 0L))
    val qs = Seq(
      (0L, 179500000L, 60000000L),   // seam query
      (9L, -170000000L, -89200000L)) // polar query, lon 170W
    val df = spark.createDataFrame(pts).toDF("id", "lonm", "latm")
    val qdf = spark.createDataFrame(qs).toDF("qid", "lonm", "latm")
    val rM = 300000.0 // 300 km
    val rows = Knn.radiusJoinDf(spark, df, col("id"), col("lonm"), col("latm"),
        qdf, col("qid"), col("lonm"), col("latm"),
        level = 6, metric = "haversine", radiusMeters = rM)
      .select("qid", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows === Set((0L, 1L), (9L, 2L)), rows.toString)
    // kNN across the seam: q0's nearest neighbour must be point 1
    val knn = Knn.knnJoinDf(spark, df, col("id"), col("lonm"), col("latm"),
        qdf, col("qid"), col("lonm"), col("latm"), k = 1, level = 6, metric = "haversine")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(knn(0L) === 1L)
    assert(knn(9L) === 2L)
  }

  test("q0i boundary margin: no fixture distance sits near the radius") {
    // the q0i oracle re-evaluates haversine in DuckDB's libm; a row could
    // only flip if some (query, point) distance were within libm's ulp
    // (~1e-9 relative) of the 1.5e6 m radius — verify the margin is huge
    val dir = "/root/testdata/sf0.01"
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"),
        graft.oracle.Derive.lonMicro(col("c_custkey")).as("_plon"),
        graft.oracle.Derive.latMicro(col("c_custkey")).as("_plat"))
    val nat = spark.read.parquet(s"$dir/nation.parquet")
      .select(graft.oracle.Derive.lonMicro(col("n_nationkey")).as("_qlon"),
        graft.oracle.Derive.latMicro(col("n_nationkey")).as("_qlat"))
    val margin = nat.crossJoin(cust)
      .select(abs(Knn.haversineMeters(col("_qlon"), col("_qlat"),
        col("_plon"), col("_plat")) - lit(1500000.0)).as("m"))
      .agg(min("m")).collect()(0).getDouble(0)
    assert(margin > 1.0, s"closest distance to the q0i radius: $margin m")
  }

  test("string neighbour ids take the window fallback and stay exact") {
    val pts = (0L until 400L).map(i =>
      (f"p$i%04d", i * 800000L - 150000000L, (i % 80) * 1800000L - 70000000L))
    val df = spark.createDataFrame(pts).toDF("pid", "lonm", "latm")
    val qs = Seq((0L, 0L, 0L), (1L, -140000000L, -60000000L))
    val qdf = spark.createDataFrame(qs).toDF("qid", "lonm", "latm")
    val got = Knn.knnJoinDf(spark, df, col("pid"), col("lonm"), col("latm"),
        qdf, col("qid"), col("lonm"), col("latm"), k = 5, level = 5)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getString(1)).toMap
    for ((qid, qx, qy) <- qs) {
      val exp = pts.map { case (id, x, y) =>
        (id, (x - qx) * (x - qx) + (y - qy) * (y - qy))
      }.sortBy { case (id, d2) => (d2, id) }.take(5).map(_._1)
      exp.zipWithIndex.foreach { case (id, i) =>
        assert(got((qid, i + 1)) === id, s"q$qid rank ${i + 1}")
      }
    }
  }

  test("k exceeding the table size returns the whole table ranked") {
    val pts = Seq((1L, 0L, 0L), (2L, 1000000L, 0L), (3L, -2000000L, 500000L))
    val got = knn(pts, Seq((0L, 100000L, 100000L)), k = 10, level = 8)
    assert(got.count() === 3)
  }
}
