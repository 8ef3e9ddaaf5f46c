package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Reducer
import graft.core.{PolyM, RingM}
import graft.fixtures.PolySpec
import graft.functions.GraftFunctions._
import graft.operators.{Dedup, SpatialJoin}

/** One workload: seeded inputs written once, one program operation per
  * timed iteration, and checks of the outputs against [[Oracle]].
  */
trait Workload {
  type Out
  /** Rows of input each iteration processes. */
  def inputRows: Long
  /** Most warm-up iterations to discard. */
  def warmups: Int
  /** Fewest timed iterations, however long they take. */
  def minTimed: Int
  /** One timed operation through the program's public API. */
  def run(): Out
  /** Check failures over the outputs of every iteration, plus any extra
    * program calls the checks need (untimed).
    */
  def check(outs: Seq[Out]): Seq[String]
  /** Per-layer numbers read off one output. */
  def outputLayers(out: Out): Map[String, Double]
  /** Per-layer numbers that need their own (untimed) program calls. */
  def layerProbes(): Map[String, Double]
}

object Workload {
  /** Seconds of one run of `body` after a discarded first run. */
  def warmSecs(body: => Any): Double = {
    body
    System.gc()
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def toSpec(p: Poly): PolySpec = PolySpec(p.id, "bench", PolyM(p.rings.map(r => RingM(r.xs, r.ys))))

  /** Driver-side cover of a polygon set: build time and row counts. */
  def coverLayers(specs: Array[PolySpec]): Map[String, Double] = {
    val cover = SpatialJoin.cover(specs)
    Map("cover.build_s" -> warmSecs(SpatialJoin.cover(specs)),
      "cover.rows" -> cover.rows.size.toDouble, "cover.full_rows" -> cover.rows.count(_._5).toDouble)
  }

  def fail(what: String, bad: Seq[String]): Seq[String] =
    if (bad.isEmpty) Nil else Seq(s"$what: ${bad.size} wrong, e.g. ${bad.take(3).mkString("; ")}")
}

/** Flagship: image locations joined to an admin polygon set through the
  * broadcast path, tiled at z12, every pair folded into a checksum.
  */
final class JoinTiles(spark: SparkSession, seed: Long, dir: String, threads: Int, n: Long)
    extends Workload {
  import spark.implicits._
  type Out = Oracle.JoinSum

  val cities: Array[(Long, Long)] = Gen.cities(seed, Gen.Cities)
  val polys: Array[Poly] = Gen.adminPolys(seed, cities)
  val src: PointSource = PointSource(seed, cities, n, Gen.probes(seed, polys), even = false)
  val specs: Array[PolySpec] = polys.map(Workload.toSpec)
  def inputRows: Long = src.size
  val warmups = 15
  val minTimed = 8
  /** Ids of the sampled rows: every planted probe and every 2048th point. */
  val SampleEvery = 2048L

  private val path = s"$dir/join_tiles_points"
  locally {
    val s = src
    // one file per core: Spark packs small files into scan partitions by
    // size, and with several files per core a few bytes more or less flip
    // the scan between nproc and nproc + 1 tasks, a second wave
    spark.range(0, s.size, 1, threads).map { i => val (x, y) = s(i); (i: Long, Gen.phash(x, y)) }
      .toDF("id", "phash").write.mode("overwrite").parquet(path)
  }

  private def points: DataFrame = spark.read.parquet(path)
    .withColumn("lon", phashLon(col("phash"))).withColumn("lat", phashLat(col("phash")))
  private def tiled(pts: DataFrame): DataFrame = SpatialJoin.assignTiles(
    SpatialJoin.join(spark, pts, col("lon"), col("lat"), specs), col("lon"), col("lat"), Oracle.TileZ)
  private val polyNum = expr("cast(substring(poly_id, 2) as long)")

  def run(): Out = {
    val r = tiled(points).agg(count(lit(1)), sum(col("id") * (polyNum + 1)),
      sum(col("tile_x")), sum(col("tile_y"))).head()
    Oracle.JoinSum(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** (id, polygon index, tile x, tile y) of the sampled rows. */
  def sampleRows(): Array[(Long, Int, Long, Long)] =
    tiled(points.where(col("id") >= n || col("id") % SampleEvery === 0))
      .select(col("id"), polyNum.cast("int"), col("tile_x").cast("long"), col("tile_y").cast("long"))
      .as[(Long, Int, Long, Long)].collect()

  /** The sampled pairs equal the oracle's, every polygon is reached by
    * the sample, and every row's tile holds its point.
    */
  def checkSample(rows: Array[(Long, Int, Long, Long)]): Seq[String] = {
    val idx = new Oracle.BoxIndex(polys)
    val ids = (0L until n by SampleEvery) ++ (n until src.size)
    val want = ids.flatMap { i => val (x, y) = src(i); Oracle.holders(idx, polys, x, y).map(p => (i, p)) }.toSet
    val got = rows.map(r => (r._1, r._2))
    val gotSet = got.toSet
    Workload.fail("sample pairs missing", (want -- gotSet).toSeq.map(_.toString)) ++
      Workload.fail("sample pairs extra", (gotSet -- want).toSeq.map(_.toString)) ++
      Workload.fail("sample pairs repeated", got.diff(got.distinct).toSeq.map(_.toString)) ++
      Workload.fail("polygons without a sampled pair",
        polys.indices.filterNot(p => want.exists(_._2 == p)).map(polys(_).id)) ++
      Workload.fail("tile does not hold its point", rows.toSeq.collect {
        case (i, _, tx, ty) if !{ val (x, y) = src(i); Oracle.tileHolds(tx, ty, x, y) } => s"id $i tile ($tx,$ty)"
      })
  }

  def check(outs: Seq[Out]): Seq[String] = {
    val want = Oracle.joinChecksum(src.size, src.apply, polys, threads)
    Workload.fail("pair checksum", outs.filter(_ != want).map(o => s"$o, want $want")) ++
      checkSample(sampleRows())
  }

  def outputLayers(out: Out): Map[String, Double] = Map("join.pairs" -> out.pairs.toDouble)

  /** The flagship ladder, each rung adding one layer to the one before,
    * and the cell-join candidate count. The broadcast join evaluates the
    * refine as its join condition, so its SQL row count is the refined
    * pairs; candidates are counted here as (point, cover cell) key hits.
    */
  def layerProbes(): Map[String, Double] = {
    val cover = SpatialJoin.cover(specs)
    val levels = cover.levels
    val perCell = cover.rows.groupBy(r => (r._3.toLong << 48) | r._4).map { case (k, v) => k -> v.size }
    val candidates = Oracle.parallel(src.size, threads) { (lo, hi) =>
      var c = 0L
      for (i <- lo until hi) {
        val (x, y) = src(i)
        for (z <- levels) c += perCell.getOrElse(Oracle.cellKey(z, x, y), 0)
      }
      c
    }(_ + _)
    Workload.coverLayers(specs) ++ Map(
      "join.candidates" -> candidates.toDouble,
      "ladder.scan_s" -> Workload.warmSecs(spark.read.parquet(path).agg(max("phash")).head()),
      "ladder.lonlat_s" -> Workload.warmSecs(points.agg(max("lon"), max("lat")).head()),
      "ladder.zcell_s" -> Workload.warmSecs {
        val zs = levels.map(z => max(zcell(col("lon"), col("lat"), z)))
        points.agg(zs.head, zs.tail.toIndexedSeq: _*).head()
      },
      "ladder.join_s" -> Workload.warmSecs(
        SpatialJoin.join(spark, points, col("lon"), col("lat"), specs).agg(count(lit(1))).head()),
      "ladder.tiles_s" -> Workload.warmSecs(run()))
  }
}

/** One output row of the zone aggregate; q50 is NaN for an empty zone. */
final case class ZoneRow(zone: String, cnt: Long, total: Double, q50: Double)

/** Aggregate by geometry: a table-sized nested zone set through the
  * distributed-cover shuffle join, then per-zone count, exact sum and
  * sketch median with Reducer, zero-filled over every zone.
  */
final class GeoAggregate(spark: SparkSession, seed: Long, dir: String, threads: Int, n: Long)
    extends Workload {
  import spark.implicits._
  type Out = Array[ZoneRow]

  val cities: Array[(Long, Long)] = Gen.cities(seed, Gen.Cities)
  val zones: Array[(Int, Poly)] = Gen.zones(seed, cities)
  val src: PointSource = PointSource(seed, cities, n, Array.empty, even = true)
  def inputRows: Long = n
  val warmups = 2
  val minTimed = 3

  private val ptsPath = s"$dir/geo_points"
  private val zonePath = s"$dir/geo_zones"
  locally {
    val s = src; val sd = seed
    // one file per core, as for join_tiles
    spark.range(0, n, 1, threads).map { i => val (x, y) = s(i); (i: Long, Gen.phash(x, y), Gen.value(sd, i)) }
      .toDF("id", "phash", "v").write.mode("overwrite").parquet(ptsPath)
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val wkb = new org.locationtech.jts.io.WKBWriter()
    zones.toSeq.map { case (_, p) =>
      val r = p.rings.head
      val cs = (r.xs.indices :+ 0).map(k => new org.locationtech.jts.geom.Coordinate(r.xs(k).toDouble, r.ys(k).toDouble))
      (p.id, wkb.write(gf.createPolygon(cs.toArray)))
    }.toDF("poly_id", "wkb").repartition(threads).write.mode("overwrite").parquet(zonePath)
  }

  private def joined: DataFrame = SpatialJoin.joinDf(spark, spark.read.parquet(ptsPath),
    phashLon(col("phash")), phashLat(col("phash")), spark.read.parquet(zonePath))
  private def byZone(j: DataFrame) = Reducer.on(j).aggregateBy("zone", col("poly_id"))
  private def aggregated(r: Reducer): DataFrame =
    r.count("cnt").join(r.sum(col("v"), "total"), Seq("zone"))
      .join(r.sketchQuantile(col("v"), 0.5, "q50"), Seq("zone"))

  def run(): Out = {
    val r = byZone(joined)
    r.zerofill(aggregated(r), spark.read.parquet(zonePath).select(col("poly_id").as("zone")),
      Map("cnt" -> lit(0L), "total" -> lit(0.0), "q50" -> lit(Double.NaN)))
      .as[(String, Long, Double, Double)].collect()
      .map { case (z, c, t, q) => ZoneRow(z, c, t, q) }
  }

  private lazy val truth = Oracle.zoneTruth(n, src.apply, Gen.value(seed, _), cities, zones, threads)

  /** Every zone appears once; counts and sums are exact (zero for filled
    * zones); medians lie within the sketch's rank bound; each level's
    * counts add up to the points inside that level's frames.
    */
  def checkZones(rows: Array[ZoneRow]): Seq[String] = {
    val ids = zones.map(_._2.id)
    val byId = rows.groupBy(_.zone)
    val level = zones.map { case (l, p) => p.id -> l }.toMap
    Workload.fail("zones missing", ids.filterNot(byId.contains).toSeq) ++
      Workload.fail("zones repeated or unknown", byId.collect {
        case (z, rs) if rs.length > 1 || !level.contains(z) => z }.toSeq) ++
      Workload.fail("zone count or sum", rows.toSeq.collect {
        case r if r.cnt != truth.count.getOrElse(r.zone, 0L) ||
          r.total != truth.sum.getOrElse(r.zone, 0L).toDouble =>
          s"${r.zone} got (${r.cnt}, ${r.total}) want (${truth.count.getOrElse(r.zone, 0L)}, ${truth.sum.getOrElse(r.zone, 0L)})"
      }) ++
      Workload.fail("zone median", rows.toSeq.collect {
        case r if !truth.values.get(r.zone).fold(r.q50.isNaN)(Oracle.quantileOk(_, r.q50, 0.5)) =>
          s"${r.zone} q50 ${r.q50}"
      }) ++
      Workload.fail("level total vs points in frames", truth.frameCount.indices.collect {
        case l if rows.filter(r => level.get(r.zone).contains(l)).map(_.cnt).sum != truth.frameCount(l) =>
          s"level $l: ${rows.filter(r => level.get(r.zone).contains(l)).map(_.cnt).sum} vs ${truth.frameCount(l)}"
      })
  }

  def check(outs: Seq[Out]): Seq[String] = outs.flatMap(checkZones).distinct

  def outputLayers(out: Out): Map[String, Double] = Map(
    "join.pairs" -> out.map(_.cnt).sum.toDouble,
    "agg.groups" -> out.count(_.cnt > 0).toDouble,
    "agg.zerofilled" -> out.count(_.cnt == 0).toDouble)

  /** Zone ladder: cell join alone, plus the Reducer aggregates, plus
    * zerofill; and the same zones through the broadcast `join` path, for
    * comparison with `zones.join_s`.
    */
  def layerProbes(): Map[String, Double] = {
    val specs = zones.map(z => Workload.toSpec(z._2))
    Workload.coverLayers(specs) ++ Map(
      "zones.broadcast_join_s" -> Workload.warmSecs(SpatialJoin.join(spark, spark.read.parquet(ptsPath),
        phashLon(col("phash")), phashLat(col("phash")), specs).agg(count(lit(1))).head()),
      "zones.join_s" -> Workload.warmSecs(joined.agg(count(lit(1))).head()),
      "zones.agg_s" -> Workload.warmSecs(aggregated(byZone(joined)).collect()),
      "zones.zerofill_s" -> Workload.warmSecs(run()))
  }
}

/** Connected components over a planted pair table: few rows, many rounds. */
final class DupClusters(spark: SparkSession, seed: Long, dir: String, mix: Gen.Mix)
    extends Workload {
  import spark.implicits._
  /** (doc_id, cluster_id) of every node */
  type Out = Array[(Long, Long)]

  val pairs: Array[(Long, Long)] = Gen.pairs(seed, mix)
  def inputRows: Long = pairs.length.toLong
  val warmups = 0
  val minTimed = 2

  private val path = s"$dir/dup_pairs"
  spark.createDataset(pairs.toSeq).toDF("id_a", "id_b").write.mode("overwrite").parquet(path)

  def run(): Out = Dedup.dupClusters(spark.read.parquet(path)).as[(Long, Long)].collect()

  private lazy val truth = Oracle.componentMin(pairs)

  /** Every node is labelled once, with its component's minimum id. */
  def checkLabels(rows: Array[(Long, Long)]): Seq[String] = {
    val got = rows.groupBy(_._1)
    Workload.fail("nodes unlabelled", truth.keys.filterNot(got.contains).map(_.toString).toSeq) ++
      Workload.fail("nodes labelled twice or unknown", got.collect {
        case (d, rs) if rs.length > 1 || !truth.contains(d) => d.toString }.toSeq) ++
      Workload.fail("cluster id", rows.toSeq.collect {
        case (d, c) if truth.get(d).exists(_ != c) => s"node $d got $c want ${truth(d)}"
      })
  }

  def check(outs: Seq[Out]): Seq[String] = outs.flatMap(checkLabels).distinct

  def outputLayers(out: Out): Map[String, Double] = Map(
    "cc.nodes" -> out.length.toDouble, "cc.components" -> out.map(_._2).distinct.length.toDouble)

  def layerProbes(): Map[String, Double] = Map.empty
}
