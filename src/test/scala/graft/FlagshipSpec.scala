package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.fixtures.{Fixtures, ImageCodec}
import graft.functions.GraftFunctions._
import graft.operators.SpatialJoin

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Walks a physical plan through adaptive query stages. */
object PlanWalk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

class FlagshipSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val N = 10000

  test("flagship entry: spatial join + tile assignment returns rows") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("join row-set parity: distributed cover-join == brute-force shared kernel") {
    val imgs = Fixtures.images(spark, N)
      .withColumn("lon", phashLon(col("phash")))
      .withColumn("lat", phashLat(col("phash")))
    val specs = Fixtures.polygons
    val got = SpatialJoin.join(spark, imgs, col("lon"), col("lat"), specs)
      .select("image_id", "poly_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet

    // brute-force oracle: same raycast kernel, every point × every polygon
    val pts = imgs.select("image_id", "lon", "lat").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = (for {
      (id, lon, lat) <- pts.iterator
      s <- specs.iterator
      if s.poly.bbox.contains(lon, lat) && Raycast.contains(lon, lat, s.poly)
    } yield (id, s.poly_id)).toSet

    assert(got.size == want.size, s"got ${got.size} rows, want ${want.size}")
    assert(got == want)
    assert(want.nonEmpty, "fixture must produce matches")
    // the dense-cluster fixture must exercise multiple polygons incl. adversarial
    assert(want.map(_._2).size >= 10, s"expected many polygons matched, got ${want.map(_._2)}")
  }

  test("tile assignment parity: expression == kernel, unique per point") {
    val imgs = Fixtures.images(spark, N)
      .withColumn("lon", phashLon(col("phash")))
      .withColumn("lat", phashLat(col("phash")))
    val rows = SpatialJoin.assignTiles(imgs, col("lon"), col("lat"), 12)
      .select("image_id", "lon", "lat", "tile_x", "tile_y").collect()
    rows.foreach { r =>
      assert(r.getLong(3) == TileMath.equirectX(12, r.getLong(1)))
      assert(r.getLong(4) == TileMath.equirectY(12, r.getLong(2)))
    }
    // mercator variant sane: same x tiling, y in range
    val merc = SpatialJoin.assignTiles(imgs, col("lon"), col("lat"), 12, "mercator")
      .select("lon", "lat", "tile_x", "tile_y").limit(500).collect()
    merc.foreach { r =>
      assert(r.getLong(2) == TileMath.mercatorX(12, r.getLong(0) / 1e6))
      assert(r.getLong(3) == TileMath.mercatorY(12, r.getLong(1) / 1e6))
    }
  }

  test("image payload integrity: avgHash == phash, decode PSNR, caption determinism") {
    val rows = Fixtures.images(spark, 1000)
      .select("image_id", "bytes", "w", "h", "fmt", "caption", "phash").collect()
    assert(rows.length == 1000)
    rows.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("bytes")
      val w = r.getInt(2); val h = r.getInt(3); val fmt = r.getString(4)
      val px = ImageCodec.decode(bytes, fmt, w, h)
      assert(px.length == w * h)
      // phash is simultaneously the true average-hash of the pixels
      assert(ImageCodec.avgHash64(px, w, h) == r.getLong(6), s"row ${r.getString(0)}")
      // decode path: regenerate reference pixels, PSNR gate (∞ for lossless)
      val ref = ImageCodec.pixelsFromHash(r.getLong(6), w, h)
      assert(ImageCodec.psnr(px, ref) >= 40.0)
      // caption byte-determinism: regenerate from index
      val i = r.getString(0).stripPrefix("img").toLong
      assert(r.getString(5) == Fixtures.imageRow(i).caption)
    }
  }

  test("sf prefix property: first rows of a larger table equal the smaller table") {
    val small = Fixtures.images(spark, 1000).select("image_id", "phash", "caption")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val bigPrefix = Fixtures.images(spark, N)
      .filter(col("image_id") < f"img${1000L}%012d")
      .select("image_id", "phash", "caption")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(small == bigPrefix)
  }

  test("broadcast plan: cover join broadcasts the polygon side, no point-side shuffle") {
    val imgs = Fixtures.images(spark, 1000)
      .withColumn("lon", phashLon(col("phash")))
      .withColumn("lat", phashLat(col("phash")))
    val df = SpatialJoin.join(spark, imgs, col("lon"), col("lat"), Fixtures.polygons)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast join in plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "point side must not shuffle in broadcast mode")
  }

  test("salted shuffle-join path produces identical row set") {
    val imgs = Fixtures.images(spark, 1000)
      .withColumn("lon", phashLon(col("phash")))
      .withColumn("lat", phashLat(col("phash")))
    val specs = Fixtures.polygons
    val base = SpatialJoin.join(spark, imgs, col("lon"), col("lat"), specs)
      .select("image_id", "poly_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val salted = SpatialJoin.join(spark, imgs, col("lon"), col("lat"), specs,
      broadcastThreshold = 0, saltBuckets = 4)
      .select("image_id", "poly_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(salted == base)
  }

  test("distributed-polygon-side join: joinDf == join, driver-free cover, seam specs work") {
    val imgs = Fixtures.images(spark, 1000)
      .withColumn("lon", phashLon(col("phash")))
      .withColumn("lat", phashLat(col("phash")))
    val specs = Fixtures.polygons ++ graft.oracle.Derive.seamSpecs
    val base = SpatialJoin.join(spark, imgs, col("lon"), col("lat"), specs)
      .select("image_id", "poly_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    // polygon side as a TABLE of (poly_id, wkb) — cover + refine distributed
    val polyDf = Fixtures.polygonsDf(spark, specs)
    val viaDf = SpatialJoin.joinDf(spark, imgs, col("lon"), col("lat"), polyDf)
      .select("image_id", "poly_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(viaDf === base)
    // no row-by-row duplicates either (seam halves must not double-match)
    val cnt = SpatialJoin.joinDf(spark, imgs, col("lon"), col("lat"), polyDf).count()
    assert(cnt === SpatialJoin.join(spark, imgs, col("lon"), col("lat"), specs).count())
  }

  test("joinDf: output is the point columns plus poly_id, also on empty inputs") {
    val imgs = Fixtures.images(spark, 1000)
      .withColumn("lon", phashLon(col("phash")))
      .withColumn("lat", phashLat(col("phash")))
    val want = imgs.columns.toSeq :+ "poly_id"
    val polyDf = Fixtures.polygonsDf(spark)
    val full = SpatialJoin.joinDf(spark, imgs, col("lon"), col("lat"), polyDf)
    assert(full.columns.toSeq === want)
    assert(full.schema("poly_id").dataType === org.apache.spark.sql.types.StringType)
    val noPolys = SpatialJoin.joinDf(spark, imgs, col("lon"), col("lat"),
      Fixtures.polygonsDf(spark, Array.empty[graft.fixtures.PolySpec]))
    val noPoints = SpatialJoin.joinDf(spark, imgs.where(lit(false)),
      col("lon"), col("lat"), polyDf)
    for (df <- Seq(noPolys, noPoints)) {
      assert(df.columns.toSeq === want)
      assert(df.schema === full.schema)
      assert(df.count() === 0L)
    }
  }

  test("joinDf == join where several polygons share PARTIAL cells; the refine is the join condition") {
    val s = spark
    import s.implicits._
    def rect(x0: Long, y0: Long, x1: Long, y1: Long) =
      PolyM(Array(RingM(Array(x0, x1, x1, x0), Array(y0, y0, y1, y1))))
    val specs = Array(
      graft.fixtures.PolySpec("west", "t", rect(0L, 0L, 1000000L, 1000000L)),
      graft.fixtures.PolySpec("east", "t", rect(1000000L, 0L, 2000000L, 1000000L)),
      // a 100-µdeg sliver across the shared edge
      graft.fixtures.PolySpec("sliver", "t", rect(999950L, -200000L, 1000050L, 1200000L)),
      graft.fixtures.PolySpec("holed", "t", PolyM(Array(
        rect(500000L, 500000L, 1500000L, 1500000L).rings(0),
        rect(900000L, 900000L, 1100000L, 1100000L).rings(0)))))
    // precondition: some cover cell is PARTIAL for two or more polygons
    val partial = SpatialJoin.cover(specs).rows.filterNot(_._5)
      .groupBy(r => (r._3, r._4)).values.map(_.map(_._1).distinct.size)
    assert(partial.exists(_ >= 2), "fixture must share PARTIAL cells")
    // a lattice plus points on, and 1 µdeg off, every shared edge
    val lattice = for (x <- -50000L to 2050000L by 25000L;
                       y <- -250000L to 1550000L by 25000L) yield (x, y)
    val edges = for (x <- Seq(999949L, 999950L, 999951L, 999999L, 1000000L,
                              1000001L, 1000049L, 1000050L, 1000051L);
                     y <- -250000L to 1550000L by 50000L) yield (x, y)
    val coords = lattice ++ edges
    val pts = coords.zipWithIndex
      .map { case ((x, y), i) => (i.toLong, x, y) }.toDF("pid", "lon", "lat")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("pid", "poly_id").as[(Long, String)].collect().toSeq.sorted
    val viaDf = SpatialJoin.joinDf(spark, pts, col("lon"), col("lat"),
      Fixtures.polygonsDf(spark, specs))
    val got = pairs(viaDf)
    val want = pairs(SpatialJoin.join(spark, pts, col("lon"), col("lat"), specs))
    assert(got === want)
    assert(want.map(_._2).distinct.size === 4)
    // a point on the west/east edge inside the sliver is in all three
    val onEdge = coords.indexOf((1000000L, 250000L)).toLong
    assert(want.filter(_._1 == onEdge).map(_._2) === Seq("east", "sliver", "west"))

    // the refine runs as the cell join's condition, and nothing decodes
    // the point side into objects
    viaDf.collect() // settles the adaptive plan
    val plan = viaDf.queryExecution.executedPlan
    val joins = PlanWalk.collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "_lc")) => j
    }
    assert(joins.size === 1, plan.toString)
    val j = joins.head
    assert(j.condition.exists(_.exists(_.prettyName == "raycast_pip_edges")), j.toString)
    val pointSide = Seq(j.left, j.right).filter(_.output.exists(_.name == "_lon_r"))
    assert(pointSide.size === 1)
    assert(PlanWalk.collect(pointSide.head) {
      case d: org.apache.spark.sql.execution.DeserializeToObjectExec => d
    }.isEmpty, plan.toString)
  }

  test("world edge: points at lat ±90e6 and lon ±180e6 match join, joinDf and brute raycast") {
    val s = spark
    import s.implicits._
    def poly(pts: (Long, Long)*) = PolyM(Array(RingM(pts.map(_._1).toArray, pts.map(_._2).toArray)))
    val specs = Array(
      // polar caps whose slanted sides cross the top (bottom) cell row
      graft.fixtures.PolySpec("north", "t", poly((-20000000L, 90000000L), (20000000L, 90000000L),
        (25000000L, 80000000L), (0L, 83000000L), (-25000000L, 80000000L))),
      graft.fixtures.PolySpec("south", "t", poly((-25000000L, -80000000L), (25000000L, -80000000L),
        (20000000L, -90000000L), (-20000000L, -90000000L))),
      // a cap over every longitude, and shapes with an edge on the antimeridian
      graft.fixtures.PolySpec("world", "t", poly((-180000000L, 90000000L), (180000000L, 90000000L),
        (180000000L, 88000000L), (0L, 86000000L), (-180000000L, 88000000L))),
      graft.fixtures.PolySpec("east", "t", poly((170000000L, -10000000L), (180000000L, -10000000L),
        (180000000L, 10000000L), (175000000L, 4000000L))),
      graft.fixtures.PolySpec("west", "t", poly((-180000000L, -5000000L), (-170000000L, 0L),
        (-180000000L, 5000000L))))
    val lons = (-26000000L to 26000000L by 1000000L) ++ Seq(-20000001L, 19999999L, 20000001L,
      -180000000L, -179999999L, -170000001L, 169999999L, 179999999L, 180000000L)
    val lats = Seq(-90000000L, -89999999L, 89999999L, 90000000L, 88000000L, 86000000L) ++
      (-11000000L to 11000000L by 1000000L) ++ Seq(-5000001L, 4000001L, 5000001L)
    val coords = for (x <- lons; y <- lats) yield (x, y)
    val pts = coords.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }.toDF("pid", "lon", "lat")
    val want = (for (((x, y), i) <- coords.zipWithIndex; sp <- specs
                     if Raycast.contains(x, y, sp.poly)) yield (i.toLong, sp.poly_id)).sorted
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("pid", "poly_id").as[(Long, String)].collect().toSeq.sorted
    assert(pairs(SpatialJoin.join(spark, pts, col("lon"), col("lat"), specs)) === want)
    assert(pairs(SpatialJoin.joinDf(spark, pts, col("lon"), col("lat"),
      Fixtures.polygonsDf(spark, specs))) === want)
    // the fixture reaches the world edge from inside and from outside
    val at = want.map { case (i, _) => coords(i.toInt) }
    assert(at.count(_._2 == 90000000L) > 10 && at.count(_._2 == -90000000L) > 10, at)
    assert(at.count(_._1 == 180000000L) > 10 && at.count(_._1 == -180000000L) > 5, at)
    val past = coords.indexOf((22000000L, 90000000L)).toLong // east of north's slanted side
    assert(want.filter(_._1 == past).map(_._2) === Seq("world"))
  }

  test("tile clip: distributed plan, pieces stay in-tile, areas sum to the polygon") {
    val df = SpatialJoin.clipPolysToTiles(spark, Fixtures.polygons, z = 8)
    // the per-polygon tile loop + JTS intersection must run in a flatMap on
    // executors, not a driver loop materialized as a LocalTableScan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SerializeFromObject") || plan.contains("MapPartitions"),
      s"clip must be a distributed flatMap:\n$plan")
    val rows = df.collect()
    val byPoly = rows.groupBy(_.getString(0))
    val specs = Fixtures.polygons.map(s => s.poly_id -> s.poly).toMap
    for ((pid, tiles) <- byPoly) {
      val jts = graft.core.Jts.toJtsEvenOdd(specs(pid))
      var areaSum = 0.0
      for (t <- tiles) {
        val clipped = graft.core.Jts.fromWkb(t.getAs[Array[Byte]]("clipped_wkb"))
        val cb = graft.core.ZGrid.cellBBox(8, t.getLong(2), 255L - t.getLong(3))
        val tileBox = graft.core.Jts.bboxToJts(cb)
        assert(tileBox.covers(clipped) || tileBox.buffer(1.0).covers(clipped),
          s"$pid tile (${t.getLong(2)}, ${t.getLong(3)}): clip escapes its tile")
        if (t.getInt(5) == 2) areaSum += clipped.getArea
      }
      val full = jts.getArea
      // tile bboxes are INTEGER-inclusive ([lo, nextLo-1]): every integer
      // micro-degree point belongs to exactly one tile, but the continuous
      // 1-µdeg strip between consecutive integers belongs to none — so the
      // geometric areas sum a hair under the polygon (≤ perimeter × 1 µdeg
      // per tile crossing, ~1e-5 relative here); never over
      assert(areaSum <= full * (1 + 1e-12),
        s"$pid: tile pieces must not overlap (sum=$areaSum full=$full)")
      assert(full - areaSum <= 1e-4 * math.max(1.0, full),
        s"$pid: tile pieces must cover the polygon up to the 1-µdeg strips " +
          s"(sum=$areaSum full=$full)")
    }
  }

  test("manifest pruning: files outside the query cells are skipped") {
    Fixtures.images(spark, N) // ensure written
    val manifest = s"data/images_$N/_graft_manifest.json"
    assert(new java.io.File(manifest).exists())
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(manifest)))
    val total = "\"file\":".r.findAllIn(txt).length
    // a single-cell query must prune to a strict subset of files
    val one = graft.fixtures.Manifest.pruneFiles(manifest, Set(ZGrid.cellAt(12, 0L, 0L)))
    assert(total > 1 && one.size < total)
  }

  test("slabClipLen hand cases: inside, crossing, outside, degenerate axes") {
    val b = BBoxM(0L, 0L, 1000L, 1000L)
    // fully inside: full length
    assert(SpatialJoin.slabClipLen(100, 100, 400, 500, b) ===
      math.sqrt(300.0 * 300 + 400 * 400))
    // crossing left edge horizontally at y=500: clipped to [0,400]
    assert(SpatialJoin.slabClipLen(-400, 500, 400, 500, b) === 400.0)
    // fully outside (above)
    assert(SpatialJoin.slabClipLen(100, 2000, 900, 3000, b) === 0.0)
    // vertical segment (dx=0) inside x-range, crossing both y edges
    assert(SpatialJoin.slabClipLen(500, -500, 500, 1500, b) === 1000.0)
    // vertical segment outside x-range
    assert(SpatialJoin.slabClipLen(2000, -500, 2000, 1500, b) === 0.0)
    // zero-length segment: length 0 even when inside
    assert(SpatialJoin.slabClipLen(500, 500, 500, 500, b) === 0.0)
    // diagonal corner cut: from (-500,500) to (500,1500) enters at (0,1000)
    // touching the corner — zero-length intersection
    assert(SpatialJoin.slabClipLen(-500, 500, 500, 1500, b) === 0.0)
  }

  test("clipLengthJoin == all-pairs slab brute force; JTS path agrees on rects") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val segs = (0L until 2000L).map { i =>
      val x1 = rnd.nextLong(340000000L) - 170000000L
      val y1 = rnd.nextLong(160000000L) - 80000000L
      (i, x1, y1, x1 + rnd.nextLong(4000001L) - 2000000L,
        y1 + rnd.nextLong(4000001L) - 2000000L)
    }
    val df = segs.toDF("seg_id", "x1", "y1", "x2", "y2")
    val rects = graft.oracle.Derive.rectSpecs
    val got = SpatialJoin.clipLengthJoin(spark, df, col("seg_id"),
        col("x1"), col("y1"), col("x2"), col("y2"), rects)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // brute force: every (segment, rect) pair through the same slab kernel
    val expect = scala.collection.mutable.Map[String, (Long, Long)]()
    for ((_, x1, y1, x2, y2) <- segs; (pid, lo, la, hi, ha) <- graft.oracle.Derive.rects) {
      val len = SpatialJoin.slabClipLen(x1, y1, x2, y2, BBoxM(lo, la, hi, ha))
      if (len > 0) {
        val (n, s) = expect.getOrElse(pid, (0L, 0L))
        expect(pid) = (n + 1, s + math.floor(len * 1000.0).toLong)
      }
    }
    assert(got === expect.toMap)
    // JTS path: the same rects written as 5-vertex rings dodge the
    // axis-aligned fast path; totals must agree with the slab path within
    // 1 quantization unit per segment (independent geometry algorithms)
    val rects5 = rects.map { s =>
      val r = s.poly.rings(0)
      val midX = (r.xs(0) + r.xs(1)) / 2
      graft.fixtures.PolySpec(s.poly_id, s.kind, PolyM(Array(RingM(
        Array(r.xs(0), midX, r.xs(1), r.xs(2), r.xs(3)),
        Array(r.ys(0), r.ys(0), r.ys(1), r.ys(2), r.ys(3))))))
    }
    val viaJts = SpatialJoin.clipLengthJoin(spark, df, col("seg_id"),
        col("x1"), col("y1"), col("x2"), col("y2"), rects5)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(viaJts.keySet === expect.keySet)
    expect.foreach { case (pid, (n, s)) =>
      assert(viaJts(pid)._1 === n, s"JTS count at $pid")
      assert(math.abs(viaJts(pid)._2 - s) <= n, s"JTS length at $pid: ${viaJts(pid)._2} vs $s")
    }
  }

  test("clipAreaJoin == all-pairs integer overlap; JTS path exact on integer rects") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val feats = (0L until 2000L).map { i =>
      val cx = rnd.nextLong(338000000L) - 169000000L
      val cy = rnd.nextLong(158000000L) - 79000000L
      val hw = rnd.nextLong(1000001L); val hh = rnd.nextLong(1000001L)
      (i, cx - hw, cy - hh, cx + hw, cy + hh)
    }
    val df = feats.toDF("fid", "flo", "fla", "fhi", "fha")
    val rects = graft.oracle.Derive.rectSpecs
    val got = SpatialJoin.clipAreaJoin(spark, df, col("fid"),
        col("flo"), col("fla"), col("fhi"), col("fha"), rects)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDecimal(2).toBigInteger))).toMap
    val expect = scala.collection.mutable.Map[String, (Long, BigInt)]()
    for ((_, flo, fla, fhi, fha) <- feats; (pid, lo, la, hi, ha) <- graft.oracle.Derive.rects) {
      val w = math.min(fhi, hi) - math.max(flo, lo)
      val h = math.min(fha, ha) - math.max(fla, la)
      if (w > 0 && h > 0) {
        val (n, s) = expect.getOrElse(pid, (0L, BigInt(0)))
        expect(pid) = (n + 1, s + BigInt(w) * BigInt(h))
      }
    }
    assert(got.keySet === expect.keySet)
    expect.foreach { case (pid, (n, s)) =>
      assert(got(pid)._1 === n, s"count at $pid")
      assert(BigInt(got(pid)._2) === s, s"area at $pid")
    }
    // JTS path on integer-coordinate rects is EXACT (intersection vertices
    // are integers, area < 2^53) — 5-vertex rings dodge the fast path
    val rects5 = rects.map { sp =>
      val r = sp.poly.rings(0)
      val midX = (r.xs(0) + r.xs(1)) / 2
      graft.fixtures.PolySpec(sp.poly_id, sp.kind, PolyM(Array(RingM(
        Array(r.xs(0), midX, r.xs(1), r.xs(2), r.xs(3)),
        Array(r.ys(0), r.ys(0), r.ys(1), r.ys(2), r.ys(3))))))
    }
    val viaJts = SpatialJoin.clipAreaJoin(spark, df, col("fid"),
        col("flo"), col("fla"), col("fhi"), col("fha"), rects5)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), BigInt(r.getDecimal(2).toBigInteger)))).toMap
    expect.foreach { case (pid, (n, s)) =>
      assert(viaJts(pid) === ((n, s)), s"JTS exact at $pid")
    }
  }

  test("arealInterpolate == brute floor-share; mass conserved up to quantization") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val feats = (0L until 2000L).map { i =>
      val cx = rnd.nextLong(338000000L) - 169000000L
      val cy = rnd.nextLong(158000000L) - 79000000L
      val hw = rnd.nextLong(1000000L) + 1L; val hh = rnd.nextLong(1000000L) + 1L
      (i, cx - hw, cy - hh, cx + hw, cy + hh, rnd.nextLong(1000L))
    }
    val df = feats.toDF("fid", "flo", "fla", "fhi", "fha", "v")
    val rects = graft.oracle.Derive.rectSpecs
    val got = SpatialJoin.arealInterpolate(spark, df, col("fid"),
        col("flo"), col("fla"), col("fhi"), col("fha"), col("v"), rects)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val expect = scala.collection.mutable.Map[String, (Long, Long)]()
    var pairs = 0L
    for ((_, flo, fla, fhi, fha, v) <- feats;
         (pid, lo, la, hi, ha) <- graft.oracle.Derive.rects) {
      val w = math.min(fhi, hi) - math.max(flo, lo)
      val h = math.min(fha, ha) - math.max(fla, la)
      if (w > 0 && h > 0) {
        pairs += 1
        val (n, s) = expect.getOrElse(pid, (0L, 0L))
        expect(pid) = (n + 1, s + v * (w * h) / ((fhi - flo) * (fha - fla)))
      }
    }
    assert(got === expect.toMap)
    // mass never exceeds the inputs (Σ floor shares ≤ Σ values)
    assert(got.values.map(_._2).sum <= feats.map(_._6).sum)
    // a source fully inside a zone hands over its WHOLE value exactly
    val (pid0, lo0, la0, _, _) = graft.oracle.Derive.rects.head
    val inner = Seq((9999L, lo0 + 10L, la0 + 10L, lo0 + 110L, la0 + 110L, 777L))
      .toDF("fid", "flo", "fla", "fhi", "fha", "v")
    val one = SpatialJoin.arealInterpolate(spark, inner, col("fid"),
        col("flo"), col("fla"), col("fhi"), col("fha"), col("v"), rects)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(one(pid0) === ((1L, 777L)))
    // JTS arm exact on integer rects (5-vertex rings dodge the fast path)
    val rects5 = rects.map { sp =>
      val r = sp.poly.rings(0)
      val midX = (r.xs(0) + r.xs(1)) / 2
      graft.fixtures.PolySpec(sp.poly_id, sp.kind, PolyM(Array(RingM(
        Array(r.xs(0), midX, r.xs(1), r.xs(2), r.xs(3)),
        Array(r.ys(0), r.ys(0), r.ys(1), r.ys(2), r.ys(3))))))
    }
    val viaJts = SpatialJoin.arealInterpolate(spark, df, col("fid"),
        col("flo"), col("fla"), col("fhi"), col("fha"), col("v"), rects5)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(viaJts === expect.toMap)
  }

  test("cosPoly: ≤7e-9 of libm cos over |lat|≤90°, exactly 1 at the equator") {
    assert(SpatialJoin.cosPoly(0.0) === 1.0)
    val rnd = new scala.util.Random(3)
    (0 until 20000).foreach { _ =>
      val phi = (rnd.nextDouble() * 2 - 1) * (math.Pi / 2)
      assert(math.abs(SpatialJoin.cosPoly(phi) - math.cos(phi)) <= 7e-9, s"phi=$phi")
    }
  }

  test("meters kernels: equator parity (== planar × m/µdeg), haversine ≤0.5%") {
    val b = BBoxM(-5000000L, -5000000L, 5000000L, 5000000L)
    val rnd = new scala.util.Random(13)
    (0 until 2000).foreach { _ =>
      // horizontal equator segments: cosPoly(0)=1 exactly, so the meters
      // chain IS the planar chain times MPerMicro (one extra multiply)
      val x1 = rnd.nextLong(20000001L) - 10000000L
      val x2 = x1 + rnd.nextLong(4000001L) - 2000000L
      val planar = SpatialJoin.slabClipLen(x1, 0L, x2, 0L, b)
      assert(SpatialJoin.slabClipLenMeters(x1, 0L, x2, 0L, b) ===
        planar * SpatialJoin.MPerMicro)
      // short segments fully inside the zone at any latitude: equirect
      // meters vs the haversine kernel within the documented 0.5%
      val sx = rnd.nextLong(8000001L) - 4000000L
      val sy = rnd.nextLong(8000001L) - 4000000L
      val ex = sx + rnd.nextLong(200001L) - 100000L
      val ey = sy + rnd.nextLong(200001L) - 100000L
      if ((sx, sy) != ((ex, ey))) {
        val m = SpatialJoin.slabClipLenMeters(sx, sy, ex, ey, b)
        val hav = GeoMetrics.haversine(sx, sy, ex, ey)
        assert(math.abs(m - hav) <= 0.005 * hav + 1e-9,
          s"($sx,$sy)->($ex,$ey): equirect $m vs haversine $hav")
      }
    }
  }

  test("clipLengthJoin meters == brute slab-meters; JTS arm within 1mm/seg") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val segs = (0L until 2000L).map { i =>
      val x1 = rnd.nextLong(340000000L) - 170000000L
      val y1 = rnd.nextLong(160000000L) - 80000000L
      (i, x1, y1, x1 + rnd.nextLong(4000001L) - 2000000L,
        y1 + rnd.nextLong(4000001L) - 2000000L)
    }
    val df = segs.toDF("seg_id", "x1", "y1", "x2", "y2")
    val rects = graft.oracle.Derive.rectSpecs
    val got = SpatialJoin.clipLengthJoin(spark, df, col("seg_id"),
        col("x1"), col("y1"), col("x2"), col("y2"), rects, unit = "meters")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val expect = scala.collection.mutable.Map[String, (Long, Long)]()
    for ((_, x1, y1, x2, y2) <- segs; (pid, lo, la, hi, ha) <- graft.oracle.Derive.rects) {
      val len = SpatialJoin.slabClipLenMeters(x1, y1, x2, y2, BBoxM(lo, la, hi, ha))
      if (len > 0) {
        val (n, s) = expect.getOrElse(pid, (0L, 0L))
        expect(pid) = (n + 1, s + math.floor(len * 1000.0).toLong)
      }
    }
    assert(got === expect.toMap)
    // JTS path (5-vertex rings dodge the fast path): the clipped piece's own
    // midpoint latitude vs the slab's parametric midpoint — same point up to
    // float rounding, so totals agree within the quantization unit per seg
    val rects5 = rects.map { s =>
      val r = s.poly.rings(0)
      val midX = (r.xs(0) + r.xs(1)) / 2
      graft.fixtures.PolySpec(s.poly_id, s.kind, PolyM(Array(RingM(
        Array(r.xs(0), midX, r.xs(1), r.xs(2), r.xs(3)),
        Array(r.ys(0), r.ys(0), r.ys(1), r.ys(2), r.ys(3))))))
    }
    val viaJts = SpatialJoin.clipLengthJoin(spark, df, col("seg_id"),
        col("x1"), col("y1"), col("x2"), col("y2"), rects5, unit = "meters")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(viaJts.keySet === expect.keySet)
    expect.foreach { case (pid, (n, s)) =>
      assert(viaJts(pid)._1 === n, s"JTS count at $pid")
      assert(math.abs(viaJts(pid)._2 - s) <= n, s"JTS mm at $pid: ${viaJts(pid)._2} vs $s")
    }
  }

  test("clipAreaJoin meters == brute rect-m²; JTS arm within 1m²/feature") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val feats = (0L until 2000L).map { i =>
      val cx = rnd.nextLong(338000000L) - 169000000L
      val cy = rnd.nextLong(158000000L) - 79000000L
      val hw = rnd.nextLong(1000001L); val hh = rnd.nextLong(1000001L)
      (i, cx - hw, cy - hh, cx + hw, cy + hh)
    }
    val df = feats.toDF("fid", "flo", "fla", "fhi", "fha")
    val rects = graft.oracle.Derive.rectSpecs
    val got = SpatialJoin.clipAreaJoin(spark, df, col("fid"),
        col("flo"), col("fla"), col("fhi"), col("fha"), rects, unit = "meters")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), BigInt(r.getDecimal(2).toBigInteger)))).toMap
    val expect = scala.collection.mutable.Map[String, (Long, BigInt)]()
    for ((_, flo, fla, fhi, fha) <- feats; (pid, lo, la, hi, ha) <- graft.oracle.Derive.rects) {
      val w = math.min(fhi, hi) - math.max(flo, lo)
      val h = math.min(fha, ha) - math.max(fla, la)
      if (w > 0 && h > 0) {
        val m2 = SpatialJoin.rectOverlapM2(w, h, math.max(fla, la), math.min(fha, ha))
        val (n, s) = expect.getOrElse(pid, (0L, BigInt(0)))
        expect(pid) = (n + 1, s + BigInt(m2))
      }
    }
    assert(got === expect.toMap)
    // JTS arm: w·h comes back as one shoelace product so the multiply chain
    // differs from (w·c·M)·(h·M) by ulps — floor may move ±1 m² per pair
    val rects5 = rects.map { sp =>
      val r = sp.poly.rings(0)
      val midX = (r.xs(0) + r.xs(1)) / 2
      graft.fixtures.PolySpec(sp.poly_id, sp.kind, PolyM(Array(RingM(
        Array(r.xs(0), midX, r.xs(1), r.xs(2), r.xs(3)),
        Array(r.ys(0), r.ys(0), r.ys(1), r.ys(2), r.ys(3))))))
    }
    val viaJts = SpatialJoin.clipAreaJoin(spark, df, col("fid"),
        col("flo"), col("fla"), col("fhi"), col("fha"), rects5, unit = "meters")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), BigInt(r.getDecimal(2).toBigInteger)))).toMap
    assert(viaJts.keySet === expect.keySet)
    expect.foreach { case (pid, (n, s)) =>
      assert(viaJts(pid)._1 === n, s"JTS count at $pid")
      assert((viaJts(pid)._2 - s).abs <= n, s"JTS m² at $pid: ${viaJts(pid)._2} vs $s")
    }
  }
}
