package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryCollection, GeometryFactory, LineString}
import graft.core._
import graft.fixtures.PolySpec
import graft.functions.GraftFunctions._

/** The flagship graft operator (SURVEY.md C2/D11, §3.3): many-polygon
  * spatial join of a huge point table against a polygon extent set.
  *
  * Reference semantics: `MapAggregator.aggregateByGeometry(Map[U, Polygonal])`
  * [ref: oshdb-api/…/mapreducer/MapAggregator :: aggregateByGeometry +
  * GeometrySplitter (STRtree probe, per-polygon clip)] — each row is emitted
  * once per polygon that contains it.
  *
  * Spark-native plan:
  *   1. plan time (driver, polygon side only): each polygon → cover cells at
  *      its own finest-under-budget level from a small allowed-level set,
  *      classified FULL/PARTIAL (FULL ⇒ skip exact PIP — the reference's
  *      fully-inside fast path, SURVEY.md O3/O8).
  *   2. points compute one zcell per distinct cover level (posexplode over a
  *      small literal array — ≤ |allowedLevels| fan-out, constant).
  *   3. equi-join on (level, cell): BROADCAST when the cover is small
  *      (it almost always is — polygons × ≤budget cells), else shuffle join
  *      with optional salting; AQE refines at runtime.
  *   4. refine: `full OR raycast_pip_edges(lon, lat, edges)` — the exact
  *      int64 kernel over the PARTIAL cell's clipped edge list, evaluated as
  *      the join condition inside whole-stage codegen.
  *
  * Shuffle inventory: ZERO exchanges on the point side in broadcast mode —
  * the scan, cell computation, join, and refine fuse into one codegen stage.
  */
object SpatialJoin {
  /** Allowed cover levels: keeps the point-side explode factor ≤ 4 at scale
    * (coarser rounding never violates the cell budget).
    */
  val DefaultLevels: Array[Int] = Array(4, 8, 12, 16)

  def chooseAllowedLevel(bbox: BBoxM, budget: Int, allowed: Array[Int]): Int = {
    val sorted = allowed.sorted
    var z = sorted.last
    var i = sorted.length - 1
    while (i > 0 && ZGrid.bboxCellCount(sorted(i), bbox) > budget) { i -= 1; z = sorted(i) }
    z
  }

  /** A polygon set's cover: per row (poly_id, polygon index, level, morton,
    * full, edges), where edges is the PARTIAL cell's clipped edge list (null
    * for a FULL cell, see [[CoverCell]]); the distinct levels; and the
    * seam-normalized polygons by index, which the clip kernels read.
    */
  final case class Cover(rows: Seq[(String, Int, Int, Long, Boolean, Array[Long])],
                         levels: Array[Int], polyArr: Array[PolyM])

  /** Seam normalization: specs authored with extended longitudes (a
    * ±180-crossing polygon like Fiji written as lon ∈ [178e6, 182e6]) split
    * into in-world halves sharing the poly_id; everything downstream —
    * cover, equi-join, raycast refine — is seam-oblivious. A point's single
    * canonical longitude matches at most one half, so no duplicate rows.
    */
  def normalizeSeam(specs: Array[PolySpec]): Array[PolySpec] =
    specs.flatMap { s =>
      val b = s.poly.bbox
      if (b.lonMax <= 180000000L && b.lonMin >= -180000000L) Seq(s)
      else Jts.splitAtSeam(Jts.toJtsEvenOdd(s.poly))
        .map(g => PolySpec(s.poly_id, s.kind, Jts.fromJtsAny(g)))
    }

  /** Driver-side cover computation for a polygon set, each polygon at its
    * own level from `allowed`.
    */
  def cover(specs0: Array[PolySpec], budget: Int = PolyCover.DEFAULT_BUDGET,
            allowed: Array[Int] = DefaultLevels): Cover = {
    val specs = normalizeSeam(specs0)
    val rows = specs.toSeq.zipWithIndex.flatMap { case (s, i) =>
      val z = chooseAllowedLevel(s.poly.bbox, budget, allowed)
      PolyCover.coverAt(s.poly, z).map(c => (s.poly_id, i, c.level, c.morton, c.full, c.edges))
    }
    Cover(rows, rows.map(_._3).distinct.sorted.toArray, specs.map(_.poly))
  }

  /** Boundary-inclusive AOI bbox predicate (B1); a bbox with
    * lonMin > lonMax crosses the ±180 seam and becomes the OR of its two
    * halves — still a pushdown-friendly scan predicate.
    */
  def aoiBbox(lonCol: Column, latCol: Column, b: BBoxM): Column = {
    val latP = latCol.between(b.latMin, b.latMax)
    if (!Seam.crosses(b)) lonCol.between(b.lonMin, b.lonMax) && latP
    else (lonCol >= b.lonMin || lonCol <= b.lonMax) && latP
  }

  /** Join `points` (must expose micro-degree `lonCol`/`latCol`) with the
    * polygon set; output = point columns + `poly_id`, one row per
    * (point, containing polygon) pair. The cover is built on the driver and
    * its PARTIAL rows carry their cells' edge lists, so the probe refines
    * over those few edges ([[cellJoin]]), as [[joinDf]] does.
    *
    * @param saltBuckets >1 replicates HOT cover cells and salts the point
    *        side — only useful in shuffle-join mode on skewed data.
    */
  def join(spark: SparkSession, points: DataFrame, lonCol: Column, latCol: Column,
           specs: Array[PolySpec], budget: Int = PolyCover.DEFAULT_BUDGET,
           allowed: Array[Int] = DefaultLevels,
           broadcastThreshold: Long = 4000000L,
           saltBuckets: Int = 1): DataFrame = {
    import spark.implicits._
    require(saltBuckets <= 32, "key packing assumes saltBuckets<=32")
    val c = cover(specs, budget, allowed)
    val coverDf = c.rows.map { case (pid, _, lvl, cell, full, edges) =>
      (pid, cellKey(lvl, cell), full, edges)
    }.toDF("poly_id", "_lc", "_full", "_edges")
    cellJoin(points, lonCol, latCol, coverDf, c.levels,
      broadcastCover = c.rows.size <= broadcastThreshold && saltBuckets <= 1, saltBuckets)
  }

  /** Key of cover cell `morton` at `level` — one long in every join mode:
    * joins on one long build/probe a LongHashedRelation (broadcast) or
    * shuffle on an 8-byte key, where a 2-column struct key costs an
    * UnsafeRow allocation per probed row (measured as 28× stage-CPU at 24M
    * probes). Levels ≤ MAX_LEVEL = 16 ⇒ morton < 2^32, so the key is
    * < 2^39 and leaves low bits for the salt: key << 5 | salt < 2^44.
    */
  private def cellKey(level: Int, morton: Long): Long = {
    require(level <= PolyCover.MAX_LEVEL, "key packing assumes level<=16")
    (level.toLong << 34) | morton
  }

  /** The cell join both [[join]] and [[joinDf]] run: each point explodes
    * to its keyed cell at every level of `levels`, equi-joins `coverDf`
    * (poly_id, _lc, _full, _edges) on `_lc` — broadcast, shuffled, or,
    * with `saltBuckets` > 1, shuffled on a key salted `saltBuckets` ways
    * (every cover row replicated, each point in one bucket) — and keeps a
    * pair when its cell is FULL or the point lies inside the cell's edges.
    * Catalyst makes that refine the join condition. Output: the columns of
    * `points`, then `poly_id`.
    */
  private def cellJoin(points: DataFrame, lonCol: Column, latCol: Column, coverDf: DataFrame,
                       levels: Array[Int], broadcastCover: Boolean, saltBuckets: Int): DataFrame = {
    val cellArr = array(levels.map(z =>
      zcell(lonCol, latCol, z).bitwiseOR(lit(cellKey(z, 0L)))): _*)
    val ptsExpl = points.withColumn("_lc", explode(cellArr))
    val joined =
      if (broadcastCover) ptsExpl.join(broadcast(coverDf), Seq("_lc"))
      else if (saltBuckets > 1) {
        val coverSalted = coverDf
          .withColumn("_lc", explode(array((0 until saltBuckets).map(s =>
            shiftleft(col("_lc"), 5).bitwiseOR(lit(s.toLong))): _*)))
        val ptsSalted = ptsExpl
          .withColumn("_lc", shiftleft(col("_lc"), 5)
            .bitwiseOR(pmod(hash(lonCol, latCol), lit(saltBuckets)).cast("long")))
        ptsSalted.join(coverSalted, Seq("_lc"))
      } else ptsExpl.join(coverDf, Seq("_lc"))
    joined
      .where(col("_full") || raycastPipEdges(lonCol, latCol, col("_edges")))
      .drop("_lc", "_full", "_edges")
  }

  /** C2 with a TABLE-SIZED polygon side: `polyDf` is a DataFrame of
    * (poly_id string, wkb binary) — all-tiles × all-admin joins where the
    * polygon set no longer fits the driver. The cover computation runs in a
    * distributed flatMap (the driver does ZERO geometry work — round-2
    * verdict #6). Each PARTIAL cover row carries its cell's clipped edge
    * list (see [[CoverCell]]; FULL cells skip refine and ship none), and
    * the exact refine `_full OR raycast_pip_edges(lon, lat, _edges)` runs
    * over those few edges. Catalyst pushes it into the cell join as the
    * join condition, so the point side stays in whole-stage codegen: no
    * Row decode, no parsed-polygon cache, no per-row key. The two halves of
    * a seam-split polygon share `poly_id`; each half's cover rows carry
    * its own edges and the halves do not overlap, so no point matches both
    * and no key tells them apart.
    *
    * Output: the columns of `points`, then `poly_id`; one row per
    * (point, containing polygon), the same rows as [[join]].
    *
    * Geometry is shipped to the probe on the cover rows — the classic
    * ship-geometry-to-probe layout; the alternative (re-join candidates to
    * geometry by id) costs a second shuffle of the much larger candidate
    * set. What a PARTIAL row ships is only its row band's edges from the
    * cell's west edge eastward, not the whole ring, so the cover rows grow
    * with the boundary's length per row band, not with the polygon's size
    * per cell. Unlike [[join]], the point side explodes to ALL `allowed`
    * levels (constant ≤ 4) because the level set is not known without an
    * extra polygon pass, and the join takes no hint.
    */
  def joinDf(spark: SparkSession, points: DataFrame, lonCol: Column, latCol: Column,
             polyDf: DataFrame, budget: Int = PolyCover.DEFAULT_BUDGET,
             allowed: Array[Int] = DefaultLevels): DataFrame = {
    import spark.implicits._
    val coverDf = polyDf.select(col("poly_id"), col("wkb"))
      .as[(String, Array[Byte])]
      .flatMap { case (pid, wkb) =>
        Jts.splitAtSeam(Jts.fromWkb(wkb)).flatMap { half =>
          val poly = Jts.fromJtsAny(half)
          val z = chooseAllowedLevel(poly.bbox, budget, allowed)
          PolyCover.coverAt(poly, z).map(c => (pid, cellKey(z, c.morton), c.full, c.edges))
        }
      }.toDF("poly_id", "_lc", "_full", "_edges")
    val pts = points.withColumn("_lon_r", lonCol).withColumn("_lat_r", latCol)
    cellJoin(pts, col("_lon_r"), col("_lat_r"), coverDf, allowed,
      broadcastCover = false, saltBuckets = 1).drop("_lon_r", "_lat_r")
  }

  /** Raster↔vector tile assignment (SURVEY.md C5): add web-tile ids.
    * `scheme` = "equirect" (integer-exact, oracle-checkable) or "mercator"
    * (standard slippy map).
    */
  def assignTiles(df: DataFrame, lonCol: Column, latCol: Column, z: Int,
                  scheme: String = "equirect"): DataFrame = scheme match {
    case "equirect" =>
      df.withColumn("tile_z", lit(z))
        .withColumn("tile_x", tileX(lonCol, z))
        .withColumn("tile_y", tileY(latCol, z))
    case "mercator" =>
      df.withColumn("tile_z", lit(z))
        .withColumn("tile_x", mercTileX(lonCol, z))
        .withColumn("tile_y", mercTileY(latCol, z))
    case other => throw new IllegalArgumentException(s"unknown tiling scheme: $other")
  }

  /** Zone-clipped segment length aggregation — the reference's canonical
    * "length of ways per district" (aggregateByGeometry + length reducer:
    * features CLIPPED to each zone, clipped length summed per zone
    * [ref: oshdb-api/…/MapAggregator :: aggregateByGeometry +
    * Geo.lengthOf over GeometrySplitter-clipped geometries]).
    *
    * Input `segs`: (segCol, x1,y1,x2,y2) micro-degree planar segments.
    * Output: (poly_id, n_segments, clipped_len) — count of segments with
    * a POSITIVE clipped length inside the zone, and the clipped length
    * total in 0.001-micro-degree units. Determinism: every per-segment
    * length is ONE fixed IEEE chain (slab clip + one sqrt — bit-identical
    * in any IEEE engine, so the DuckDB twin reproduces the binary double
    * exactly), quantized by floor(len·1000) — floor of an identical
    * binary double is identical in every engine (unlike decimal-string
    * rounding, which diverges at shortest-repr boundaries) — and summed
    * as exact int64, removing float-summation order from the result.
    *
    * Clip kernels: axis-aligned rectangle zones take the closed-form slab
    * (Liang–Barsky) path; general polygons take JTS intersection length —
    * the spec cross-validates the two on rectangles. Candidates come from
    * the same plan-time zone cover as [[join]]: each segment explodes to
    * its bbox cells per distinct cover level (segments are short relative
    * to cover cells, so a handful of cells each), broadcast-joins the
    * cover, and (seg, zone) pairs dedupe before ONE exact clip per pair.
    *
    * Scale: the segment side never shuffles except the pair-distinct
    * (rows = candidate pairs, 5 longs each) and the per-zone aggregate;
    * the zone geometry ships in the task closure.
    */
  def clipLengthJoin(spark: SparkSession, segs: DataFrame, segCol: Column,
                     x1: Column, y1: Column, x2: Column, y2: Column,
                     specs: Array[PolySpec],
                     budget: Int = PolyCover.DEFAULT_BUDGET,
                     allowed: Array[Int] = DefaultLevels,
                     unit: String = "udeg"): DataFrame = {
    val meters = unitIsMeters(unit)
    import spark.implicits._
    val prepared = segs.select(segCol.cast("long").as("_sid"), x1.cast("long").as("_x1"),
      y1.cast("long").as("_y1"), x2.cast("long").as("_x2"), y2.cast("long").as("_y2"))
    val clipped = clipPairs(prepared, least(col("_x1"), col("_x2")), least(col("_y1"), col("_y2")),
        greatest(col("_x1"), col("_x2")), greatest(col("_y1"), col("_y2")),
        cover(specs, budget, allowed)) { (r, zone, gf) =>
      val (sx1, sy1, sx2, sy2) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val len = zone match {
        case b: BBoxM =>
          if (meters) slabClipLenMeters(sx1, sy1, sx2, sy2, b)
          else slabClipLen(sx1, sy1, sx2, sy2, b)
        case g: Geometry =>
          if (meters) jtsClipLenMeters(gf, sx1, sy1, sx2, sy2, g)
          else jtsClipLen(gf, sx1, sy1, sx2, sy2, g)
      }
      (r.getString(5), len)
    }.toDF("poly_id", "_len")

    clipped.where(col("_len") > 0.0)
      .groupBy("poly_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(floor(col("_len") * lit(1000.0)).cast("long"))
          .as(if (meters) "clipped_len_mm" else "clipped_len"))
  }

  /** Zone-clipped feature AREA aggregation — the area twin of
    * [[clipLengthJoin]] ("area of buildings per district": upstream
    * aggregateByGeometry + area over GeometrySplitter-clipped polygons).
    * Features are axis-aligned rectangles (fLo..fHa micro-degree bounds —
    * the building-footprint-envelope shape); zones are any [[PolySpec]].
    *
    * Exactness: rect feature ∩ rect zone is a closed-form INTEGER overlap
    * (max(0, min(hi) − max(lo)) per axis, product in int64) — no float
    * anywhere on the oracle path; general polygon zones clip via JTS
    * (spec cross-validated against the integer kernel on rects). Output:
    * (poly_id, n_features, clipped_area) with the area summed as exact
    * DECIMAL(38,0) µdeg² (a single overlap fits int64 — world² ≈ 2^56 —
    * but a 10^12-feature SUM does not, hence decimal).
    *
    * Same candidate plan as clipLengthJoin: feature bbox cells × zone
    * cover, broadcast join, pair-distinct, one exact kernel per pair.
    */
  def clipAreaJoin(spark: SparkSession, feats: DataFrame, featCol: Column,
                   fLo: Column, fLa: Column, fHi: Column, fHa: Column,
                   specs: Array[PolySpec],
                   budget: Int = PolyCover.DEFAULT_BUDGET,
                   allowed: Array[Int] = DefaultLevels,
                   unit: String = "udeg"): DataFrame = {
    val meters = unitIsMeters(unit)
    import spark.implicits._
    val prepared = feats.select(featCol.cast("long").as("_fid"),
      fLo.cast("long").as("_lo"), fLa.cast("long").as("_la"),
      fHi.cast("long").as("_hi"), fHa.cast("long").as("_ha"))
    val clipped = clipPairs(prepared, col("_lo"), col("_la"), col("_hi"), col("_ha"),
        cover(specs, budget, allowed)) { (r, zone, gf) =>
      (r.getString(5), overlapArea(zone, gf, r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), meters))
    }.toDF("poly_id", "_area")
    clipped.where(col("_area") > 0)
      .groupBy("poly_id")
      .agg(count(lit(1)).as("n_features"),
        sum(col("_area").cast("decimal(38,0)"))
          .as(if (meters) "clipped_m2" else "clipped_area"))
  }

  /** AREAL INTERPOLATION (area-weighted reaggregation [Goodchild & Lam
    * 1980]) — re-express a value carried by one zone system on another:
    * each source rect `s` spreads its `value` uniformly over its own area,
    * and target zone `t` receives Σₛ (valueₛ · area(s∩t)) div areaₛ — the
    * census-tract→grid / admin→watershed verb every GIS stack ships as
    * "areal weighting". The division is INTEGER (floor), making every
    * contribution — and the per-target sum — engine-invariant; the floor
    * loses < 1 unit per (source, target) pair, so Σₜ estₜ ≤ Σₛ valueₛ with
    * deficit < |contributing pairs| (mass is conserved up to quantization;
    * pick value units coarse enough that 1 unit is noise).
    *
    * Output: (poly_id, n_sources, est_value) — n_sources counts sources
    * with positive overlap, including those whose floored share is 0.
    *
    * Plan: identical posture to [[clipAreaJoin]] — features explode to
    * bbox cover cells, broadcast-join the zone cover, pair-distinct, ONE
    * exact clip per pair (closed-form int64 rect overlap / per-task-cached
    * JTS for general polygon zones), one hash aggregate per zone. Overflow
    * ceiling: valueₛ · area(s∩t) must stay < 2^63 — at µdeg² areas (≤
    * ~10¹² for 1°-scale features) that allows values to ~10⁶.
    */
  def arealInterpolate(spark: SparkSession, feats: DataFrame, featCol: Column,
                       fLo: Column, fLa: Column, fHi: Column, fHa: Column,
                       valueCol: Column, specs: Array[PolySpec],
                       budget: Int = PolyCover.DEFAULT_BUDGET,
                       allowed: Array[Int] = DefaultLevels): DataFrame = {
    import spark.implicits._
    val prepared = feats.select(featCol.cast("long").as("_fid"),
        fLo.cast("long").as("_lo"), fLa.cast("long").as("_la"),
        fHi.cast("long").as("_hi"), fHa.cast("long").as("_ha"),
        valueCol.cast("long").as("_v"))
      .where(col("_hi") > col("_lo") && col("_ha") > col("_la"))
    val contrib = clipPairs(prepared, col("_lo"), col("_la"), col("_hi"), col("_ha"),
        cover(specs, budget, allowed)) { (r, zone, gf) =>
      val (lo, la, hi, ha) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val area = overlapArea(zone, gf, lo, la, hi, ha, meters = false)
      (r.getString(6), area, r.getLong(5) * area / ((hi - lo) * (ha - la)))
    }.toDF("poly_id", "_area", "_share")
    contrib.where(col("_area") > 0)
      .groupBy("poly_id")
      .agg(count(lit(1)).as("n_sources"), sum("_share").as("est_value"))
  }

  /** Runs `kernel` once per (feature, zone) candidate pair of a clip join.
    * Each row of `feats` (its id keeps equal features apart) explodes its
    * bbox `lo, la, hi, ha` to the keys of the cells it spans at every
    * distinct level of `c` (features are small relative to cover cells, so
    * a handful each), which broadcast-join the zone cover, and each
    * (feature, zone) pair is kept once. The kernel sees the columns of
    * `feats`, then `poly_id`, with the zone classified once per task
    * ([[classifyZone]]) and a task's JTS geometry factory.
    */
  private def clipPairs[T: Encoder](feats: DataFrame, lo: Column, la: Column, hi: Column,
                                    ha: Column, c: Cover)
                                   (kernel: (Row, AnyRef, GeometryFactory) => T): Dataset[T] = {
    val spark = feats.sparkSession
    import spark.implicits._
    val levels = c.levels
    val cellKeys = udf { (x0: Long, y0: Long, x1: Long, y1: Long) =>
      val b = BBoxM(x0, y0, x1, y1)
      levels.flatMap(z => ZGrid.bboxCells(z, b).map { case (cx, cy) => cellKey(z, Morton.encode(cx, cy)) })
    }
    val coverDf = c.rows.map(r => (r._1, r._2, cellKey(r._3, r._4))).toDF("poly_id", "_pidx", "_lc")
    val pairs = feats.withColumn("_lc", explode(cellKeys(lo, la, hi, ha)))
      .join(broadcast(coverDf), Seq("_lc"))
      .select((feats.columns :+ "poly_id" :+ "_pidx").map(col).toIndexedSeq: _*)
      .distinct()
    val polyArr = c.polyArr
    val pidxAt = feats.columns.length + 1
    pairs.mapPartitions { it =>
      val zones = new Array[AnyRef](polyArr.length)
      val gf = new GeometryFactory()
      it.map { r =>
        val pidx = r.getInt(pidxAt)
        if (zones(pidx) == null) zones(pidx) = classifyZone(polyArr(pidx))
        kernel(r, zones(pidx), gf)
      }
    }
  }

  /** Planar µdeg² (or, with `meters`, m²) of rect [lo, hi] × [la, ha] inside
    * a classified zone: the closed-form int64 overlap on a rect zone, the
    * JTS intersection otherwise.
    */
  private def overlapArea(zone: AnyRef, gf: GeometryFactory, lo: Long, la: Long, hi: Long,
                          ha: Long, meters: Boolean): Long = zone match {
    case b: BBoxM =>
      val w = math.min(hi, b.lonMax) - math.max(lo, b.lonMin)
      val h = math.min(ha, b.latMax) - math.max(la, b.latMin)
      if (w <= 0 || h <= 0) 0L
      else if (meters) rectOverlapM2(w, h, math.max(la, b.latMin), math.min(ha, b.latMax))
      else w * h
    case g: Geometry =>
      val inter = g.intersection(gf.createPolygon(Array(
        new Coordinate(lo.toDouble, la.toDouble), new Coordinate(hi.toDouble, la.toDouble),
        new Coordinate(hi.toDouble, ha.toDouble), new Coordinate(lo.toDouble, ha.toDouble),
        new Coordinate(lo.toDouble, la.toDouble))))
      if (meters) jtsAreaM2(inter) else math.floor(inter.getArea).toLong
  }

  /** A zone is an axis-aligned rectangle iff its single 4-vertex ring has
    * axis-parallel edges — then the closed-form slab clip applies.
    */
  private def classifyZone(p: PolyM): AnyRef = {
    if (p.rings.length == 1 && p.rings(0).xs.length == 4) {
      val r = p.rings(0)
      val xs = r.xs.distinct.sorted
      val ys = r.ys.distinct.sorted
      val axisAligned = xs.length == 2 && ys.length == 2 &&
        (0 until 4).forall { i =>
          val j = (i + 1) % 4
          r.xs(i) == r.xs(j) || r.ys(i) == r.ys(j)
        }
      if (axisAligned) return BBoxM(xs(0), ys(0), xs(1), ys(1))
    }
    Jts.toJtsEvenOdd(p)
  }

  /** Slab-method (Liang–Barsky) clipped length of a segment vs a rect, in
    * ONE fixed IEEE chain — the DuckDB oracle twin evaluates the same
    * expressions, so values are bit-identical: enter/exit per axis with a
    * ±1e308 sentinel on the degenerate axis, t0 = max(0, enters),
    * t1 = min(1, exits), len = sqrt(dx²+dy²)·(t1−t0) when t1 > t0.
    */
  def slabClipLen(sx1: Long, sy1: Long, sx2: Long, sy2: Long, b: BBoxM): Double = {
    val x1 = sx1.toDouble; val y1 = sy1.toDouble
    val dx = (sx2 - sx1).toDouble; val dy = (sy2 - sy1).toDouble
    val INF = 1e308
    val (txe, txx) =
      if (dx > 0) ((b.lonMin - x1) / dx, (b.lonMax - x1) / dx)
      else if (dx < 0) ((b.lonMax - x1) / dx, (b.lonMin - x1) / dx)
      else if (sx1 >= b.lonMin && sx1 <= b.lonMax) (-INF, INF) else (INF, -INF)
    val (tye, tyx) =
      if (dy > 0) ((b.latMin - y1) / dy, (b.latMax - y1) / dy)
      else if (dy < 0) ((b.latMax - y1) / dy, (b.latMin - y1) / dy)
      else if (sy1 >= b.latMin && sy1 <= b.latMax) (-INF, INF) else (INF, -INF)
    val t0 = math.max(0.0, math.max(txe, tye))
    val t1 = math.min(1.0, math.min(txx, tyx))
    if (t1 > t0) math.sqrt(dx * dx + dy * dy) * (t1 - t0) else 0.0
  }

  private def jtsClipLen(f: GeometryFactory,
                         sx1: Long, sy1: Long, sx2: Long, sy2: Long,
                         g: Geometry): Double = {
    val line = f.createLineString(Array(
      new Coordinate(sx1.toDouble, sy1.toDouble),
      new Coordinate(sx2.toDouble, sy2.toDouble)))
    g.intersection(line).getLength
  }

  // ---------------------------------------------------------------- meters
  // Geodesic-unit clip kernels (`unit = "meters"`): the upstream flagship
  // composition answers "km of roads / m² of buildings per district" in
  // METERS [ref: oshdb-util/…/geometry/Geo.java :: lengthOf/areaOf], not
  // planar micro-degrees. These kernels use the local equirectangular
  // metric — dx scaled by cos(lat), both axes by meters-per-µdeg — which
  // for clip-scale geometry (≤ a few km) agrees with the haversine kernels
  // in core.GeoMetrics to <0.5% (the reference's own "fast approx, not
  // ellipsoid-exact" contract; parity spec-gated).
  //
  // Determinism contract (same as the planar kernels): the per-pair chain
  // uses ONLY correctly-rounded IEEE ops (+ − × ÷ sqrt) — cos comes from a
  // fixed degree-12 Horner polynomial (max abs err 6.4e-9 over |lat|≤90°,
  // measured), NOT libm, because JVM fdlibm and DuckDB's libm may differ
  // by 1 ulp on transcendentals. Every coefficient below is a shortest-
  // repr double literal the oracle SQL repeats verbatim, so both engines
  // compute bit-identical doubles and floor-quantization is engine-exact.

  private def unitIsMeters(unit: String): Boolean = unit match {
    case "udeg"   => false
    case "meters" => true
    case other => throw new IllegalArgumentException(
      s"unknown unit '$other' — expected 'udeg' or 'meters'")
  }

  /** π/180/1e6 — radians per micro-degree (shortest-repr double). */
  val RadPerMicro: Double = 1.7453292519943295e-08
  /** EARTH_RADIUS_M · RadPerMicro — meters per micro-degree along a
    * meridian (6371008.8 · π/180/1e6, shortest-repr double).
    */
  val MPerMicro: Double = 0.1111950802335329

  /** cos via fixed Horner Taylor-12 — bit-reproducible in any IEEE engine;
    * cosPoly(0) == 1.0 exactly (the equator-parity anchor).
    */
  def cosPoly(phi: Double): Double = {
    val z = phi * phi
    1.0 + z * (-0.5 + z * (0.041666666666666664 + z * (-0.001388888888888889 +
      z * (2.48015873015873e-05 + z * (-2.755731922398589e-07 +
        z * 2.08767569878681e-09)))))
  }

  /** Meters twin of [[slabClipLen]]: identical slab clip, then the local
    * equirectangular length at the CLIPPED midpoint latitude —
    * `sqrt((dx·cosφ)² + dy²) · (t1−t0) · MPerMicro`, one fixed chain.
    */
  def slabClipLenMeters(sx1: Long, sy1: Long, sx2: Long, sy2: Long, b: BBoxM): Double = {
    val x1 = sx1.toDouble; val y1 = sy1.toDouble
    val dx = (sx2 - sx1).toDouble; val dy = (sy2 - sy1).toDouble
    val INF = 1e308
    val (txe, txx) =
      if (dx > 0) ((b.lonMin - x1) / dx, (b.lonMax - x1) / dx)
      else if (dx < 0) ((b.lonMax - x1) / dx, (b.lonMin - x1) / dx)
      else if (sx1 >= b.lonMin && sx1 <= b.lonMax) (-INF, INF) else (INF, -INF)
    val (tye, tyx) =
      if (dy > 0) ((b.latMin - y1) / dy, (b.latMax - y1) / dy)
      else if (dy < 0) ((b.latMax - y1) / dy, (b.latMin - y1) / dy)
      else if (sy1 >= b.latMin && sy1 <= b.latMax) (-INF, INF) else (INF, -INF)
    val t0 = math.max(0.0, math.max(txe, tye))
    val t1 = math.min(1.0, math.min(txx, tyx))
    if (t1 > t0) {
      val ym = y1 + dy * ((t0 + t1) * 0.5)
      val c = cosPoly(ym * RadPerMicro)
      math.sqrt(dx * c * (dx * c) + dy * dy) * (t1 - t0) * MPerMicro
    } else 0.0
  }

  /** Meters length of an ALREADY-CLIPPED segment (JTS arm): equirect chain
    * at the segment's own midpoint latitude.
    */
  private def equirectLenM(x1: Double, y1: Double, x2: Double, y2: Double): Double = {
    val dx = x2 - x1; val dy = y2 - y1
    val c = cosPoly((y1 + dy * 0.5) * RadPerMicro)
    math.sqrt(dx * c * (dx * c) + dy * dy) * MPerMicro
  }

  private def jtsClipLenMeters(f: GeometryFactory,
                               sx1: Long, sy1: Long, sx2: Long, sy2: Long,
                               g: Geometry): Double = {
    val line = f.createLineString(Array(
      new Coordinate(sx1.toDouble, sy1.toDouble),
      new Coordinate(sx2.toDouble, sy2.toDouble)))
    val inter = g.intersection(line)
    var total = 0.0
    def walk(gg: Geometry): Unit = gg match {
      case ls: LineString =>
        val cs = ls.getCoordinates
        var i = 1
        while (i < cs.length) {
          total += equirectLenM(cs(i - 1).x, cs(i - 1).y, cs(i).x, cs(i).y)
          i += 1
        }
      case gc: GeometryCollection =>
        (0 until gc.getNumGeometries).foreach(i => walk(gc.getGeometryN(i)))
      case _ => () // points from corner touches carry zero length
    }
    walk(inter)
    total
  }

  /** Meters² of an integer rect overlap (w,h > 0 µdeg, lat bounds of the
    * OVERLAP): `floor((w·cosφc·M) · (h·M))` with φc the overlap's center
    * latitude — the fixed chain the oracle SQL repeats. Floor-quantized to
    * whole m² per pair (a single overlap ≤ ~1e11 m² fits int64; the
    * 10^12-feature SUM goes through DECIMAL(38,0) like the planar path).
    */
  def rectOverlapM2(w: Long, h: Long, laClip: Long, haClip: Long): Long = {
    val yc = (laClip + haClip).toDouble * 0.5
    val c = cosPoly(yc * RadPerMicro)
    math.floor(w.toDouble * c * MPerMicro * (h.toDouble * MPerMicro)).toLong
  }

  /** Meters² of a JTS clip result: planar µdeg² area scaled by cos at the
    * result envelope's center latitude — identical chain to [[rectOverlapM2]]
    * when the result IS a rect (spec-gated parity on rect zones).
    */
  private def jtsAreaM2(inter: Geometry): Long = {
    if (inter.isEmpty || inter.getDimension < 2) return 0L
    val env = inter.getEnvelopeInternal
    val yc = (env.getMinY + env.getMaxY) * 0.5
    val c = cosPoly(yc * RadPerMicro)
    val a = inter.getArea // µdeg² — exact for integer-rect clips (< 2^53)
    math.floor(a * c * MPerMicro * MPerMicro).toLong
  }

  /** Attach geodesic metric columns (`area_m2`, `perimeter_m`) to a polygon
    * DataFrame carrying a `wkb` column — SURVEY.md H3/H4 re-hosted: the
    * metrics are computed per-row in a mapPartitions kernel (geometry never
    * enters an Expression), and the filter DSL's `area:(..)` /
    * `perimeter:(..)` predicates then apply AFTER this stage, mirroring the
    * reference's applyOSMGeometry ordering
    * [ref: oshdb-filter/…/GeometryFilterArea, FilterExpression.applyOSMGeometry].
    */
  def withGeoMetrics(polyDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField, StructType}
    import org.locationtech.jts.geom.{MultiPolygon, Point, Polygon}
    val schema = StructType(polyDf.schema.fields ++ Array(
      StructField("area_m2", DoubleType), StructField("perimeter_m", DoubleType),
      StructField("length_m", DoubleType),
      StructField("geom_type", StringType), StructField("n_vertices", IntegerType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val wkbIdx = polyDf.schema.fieldIndex("wkb")
    polyDf.mapPartitions { it =>
      it.map { r =>
        val g = Jts.fromWkb(r.getAs[Array[Byte]](wkbIdx))
        // walk ANY geometry (upstream builds GeometryCollection for
        // non-multipolygon relations — the `geometry:other` class): areal
        // components contribute area + perimeter, linear components the
        // `length` metric, and vertices count everywhere (closing
        // duplicate dropped on rings, matching the polygon-only path)
        var area = 0.0; var perim = 0.0; var len = 0.0; var nv = 0
        def walk(gg: Geometry): Unit = gg match {
          case p: Polygon =>
            // area from the STRUCTURED geometry (shell/hole known) — the
            // flattened-ring areaOf would redo ring nesting via raycast,
            // O(rings²·vertices²) on many-ring multipolygons
            val pm = Jts.fromJtsAny(p)
            area += GeoMetrics.areaOfJts(p)
            perim += GeoMetrics.perimeterOf(pm)
            nv += pm.rings.map(_.xs.length).sum
          case mp: MultiPolygon =>
            (0 until mp.getNumGeometries).foreach(i => walk(mp.getGeometryN(i)))
          case ls: LineString =>
            val cs = ls.getCoordinates
            len += GeoMetrics.lineLength(cs.map(c => Math.round(c.x)), cs.map(c => Math.round(c.y)))
            nv += cs.length
          case pt: Point => nv += 1
          case gc: GeometryCollection =>
            (0 until gc.getNumGeometries).foreach(i => walk(gc.getGeometryN(i)))
          case other =>
            throw new IllegalArgumentException(s"unsupported geometry ${other.getGeometryType}")
        }
        walk(g)
        Row.fromSeq(r.toSeq ++ Seq(area, perim, len, g.getGeometryType.toLowerCase, nv))
      }
    }(enc)
  }

  /** Standard virtual-key bindings for the filter DSL's geometry predicates
    * (upstream `geometry:polygon`, `area:(..)`, `perimeter:(..)`,
    * `vertices:(..)` [ref: oshdb-filter README]) over a
    * [[withGeoMetrics]]-enriched DataFrame.
    */
  def geoBindings: Map[String, (Column, org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    // `geometry` binds to the upstream GeometryTypeFilter CLASS, not the raw
    // JTS type: polygon covers Polygon AND MultiPolygon (the documented
    // upstream semantic), line covers (Multi)LineString, point covers
    // (Multi)Point, and everything else — GeometryCollection from
    // non-multipolygon relations — is `other`
    val geoClass =
      when(col("geom_type").isin("polygon", "multipolygon"), lit("polygon"))
        .when(col("geom_type").isin("linestring", "multilinestring", "linearring"), lit("line"))
        .when(col("geom_type").isin("point", "multipoint"), lit("point"))
        .otherwise(lit("other"))
    Map(
      "geometry" -> (geoClass, StringType),
      "area" -> (col("area_m2"), DoubleType),
      "perimeter" -> (col("perimeter_m"), DoubleType),
      "length" -> (col("length_m"), DoubleType),
      "vertices" -> (col("n_vertices"), IntegerType))
  }

  /** Clip each polygon to the web-tile bboxes it spans and return the
    * clipped geometry per (poly_id, tile) — the vector side of
    * raster↔vector assignment (reference clip semantics
    * [ref: oshdb-util/…/geometry/OSHDBGeometryBuilder :: getGeometryClipped]).
    *
    * DISTRIBUTED: polygons ship as one WKB row each and the per-tile loop +
    * JTS intersection run in a flatMap on executors — the driver does zero
    * geometry work, so a table-sized polygon set (all-admin × z≥14) scales
    * with the cluster (round-2 verdict item: the old version looped
    * specs × tiles on the driver).
    *
    * Output adds the clipped geometry's envelope in micro-degrees and its
    * dimension (2 = areal, 1/0 = degenerate edge/corner touch) — for
    * axis-aligned input the envelope is closed-form rect algebra, which is
    * what lets the driver oracle check this operator exactly (q0d).
    */
  def clipPolysToTiles(spark: SparkSession, specs: Array[PolySpec], z: Int): DataFrame = {
    import spark.implicits._
    val polyRows = specs.toSeq.map(s => (s.poly_id, Jts.toWkb(Jts.toJtsEvenOdd(s.poly))))
    val nParts = math.max(1, math.min(spark.sparkContext.defaultParallelism, specs.length))
    polyRows.toDF("poly_id", "wkb").repartition(nParts)
      .as[(String, Array[Byte])]
      .flatMap { case (polyId, wkb) =>
        val jts = Jts.fromWkb(wkb)
        val env = jts.getEnvelopeInternal
        val x0 = TileMath.equirectX(z, Math.round(env.getMinX))
        val x1 = TileMath.equirectX(z, Math.round(env.getMaxX))
        val y0 = TileMath.equirectY(z, Math.round(env.getMaxY))
        val y1 = TileMath.equirectY(z, Math.round(env.getMinY))
        for {
          tx <- x0 to x1; ty <- y0 to y1
          tileBox = {
            val cb = ZGrid.cellBBox(z, tx, (1L << z) - 1 - ty) // equirect y counts from north
            Jts.bboxToJts(cb)
          }
          inter = jts.intersection(tileBox) if !inter.isEmpty
          ie = inter.getEnvelopeInternal
        } yield (polyId, z, tx, ty, Jts.toWkb(inter), inter.getDimension,
          Math.round(ie.getMinX), Math.round(ie.getMinY),
          Math.round(ie.getMaxX), Math.round(ie.getMaxY))
      }
      .toDF("poly_id", "tile_z", "tile_x", "tile_y", "clipped_wkb", "clip_dim",
        "clip_lon_min", "clip_lat_min", "clip_lon_max", "clip_lat_max")
  }

  /** Area of the UNION of axis-aligned features per rect zone — the
    * "dissolve, then measure" composition: overlapping footprints are
    * counted ONCE (clipAreaJoin's per-pair sum double-counts overlap; a
    * real "built-up area per district" needs the union). Coordinates are
    * HALF-OPEN intervals: a feature (xlo,ylo,xhi,yhi) covers
    * [xlo,xhi)×[ylo,yhi) — so abutting rects neither overlap nor gap, and
    * area = Σ strip-width × covered-y-length exactly in int64 µdeg².
    *
    * Plan — union area made ADDITIVE, then embarrassingly parallel:
    *   1. broadcast the (dim-sized) zone list; clip each feature to each
    *      intersecting zone (strict-inequality join ⇒ clipped width/height
    *      > 0 by construction);
    *   2. explode each clipped rect onto the disjoint `cellSize` grid and
    *      clip to the cell: grid cells partition the plane, so
    *      union-area(zone) = Σ_cells union-area(zone ∩ cell) EXACTLY —
    *      this is what keeps the sweep local: no group ever holds more
    *      than one cell's density, a metropolis of 10⁹ footprints becomes
    *      many bounded (zone, cell) groups instead of one giant sort;
    *   3. per (zone, cell): classic strip sweep (distinct x edges; per
    *      strip, gaps-and-islands union of y intervals) in one
    *      `mapGroups` — exact int64, O(strips × actives) within the cell;
    *   4. one hash aggregate sums cells per zone.
    *
    * Shuffle inventory: one exchange for the (zone, cell) grouping (rows =
    * clipped-rect × small cell fan-out), one for the final per-zone sum.
    */
  def unionAreaJoin(spark: SparkSession, feats: DataFrame,
                    xlo: Column, ylo: Column, xhi: Column, yhi: Column,
                    zones: Seq[(String, Long, Long, Long, Long)],
                    cellSize: Long = 2000000L): DataFrame = {
    require(zones.nonEmpty, "unionAreaJoin needs at least one zone")
    require(cellSize > 0, "cellSize must be positive")
    import spark.implicits._
    val OFF = 180000000L // domain offset so `div` == floor on negatives
    val zdf = broadcast(zones.toDF("poly_id", "zlo", "zla", "zhi", "zha"))
    val f = feats.select(xlo.as("xlo"), ylo.as("ylo"), xhi.as("xhi"), yhi.as("yhi"))
      .where(col("xlo") < col("xhi") && col("ylo") < col("yhi"))
    val clipped = f.join(zdf,
        col("xlo") < col("zhi") && col("xhi") > col("zlo") &&
        col("ylo") < col("zha") && col("yhi") > col("zla"))
      .select(col("poly_id"),
        greatest(col("xlo"), col("zlo")).as("cxlo"),
        greatest(col("ylo"), col("zla")).as("cylo"),
        least(col("xhi"), col("zhi")).as("cxhi"),
        least(col("yhi"), col("zha")).as("cyhi"))
    val perCell = clipped
      .withColumn("cx", explode(sequence(
        expr(s"(cxlo + $OFF) div $cellSize"), expr(s"(cxhi - 1 + $OFF) div $cellSize"))))
      .withColumn("cy", explode(sequence(
        expr(s"(cylo + $OFF) div $cellSize"), expr(s"(cyhi - 1 + $OFF) div $cellSize"))))
      .select(col("poly_id"), (col("cx") * 1073741824L + col("cy")).as("cell"),
        greatest(col("cxlo"), col("cx") * cellSize - OFF).as("rxlo"),
        greatest(col("cylo"), col("cy") * cellSize - OFF).as("rylo"),
        least(col("cxhi"), (col("cx") + 1) * cellSize - OFF).as("rxhi"),
        least(col("cyhi"), (col("cy") + 1) * cellSize - OFF).as("ryhi"))
      .as[(String, Long, Long, Long, Long, Long)]
    perCell.groupByKey(t => (t._1, t._2))
      .mapGroups { (key: (String, Long),
                    it: Iterator[(String, Long, Long, Long, Long, Long)]) =>
        val rs = it.map(t => (t._3, t._4, t._5, t._6)).toArray
        (key._1, sweepUnionArea(rs))
      }
      .toDF("poly_id", "cell_area")
      .groupBy("poly_id").agg(sum("cell_area").as("union_area"))
  }

  /** Exact union area of half-open rects by strip sweep (driver of the
    * per-(zone, cell) group kernel): distinct x edges → strips; per strip,
    * covered y-length = gaps-and-islands over the active rects' y
    * intervals. int64 throughout.
    */
  private[operators] def sweepUnionArea(rs: Array[(Long, Long, Long, Long)]): Long = {
    if (rs.isEmpty) return 0L
    val xs = {
      val b = Array.newBuilder[Long]
      rs.foreach { r => b += r._1; b += r._3 }
      b.result().distinct.sorted
    }
    var area = 0L
    var i = 0
    while (i < xs.length - 1) {
      val x0 = xs(i); val x1 = xs(i + 1)
      val ys = rs.iterator.filter(r => r._1 <= x0 && r._3 >= x1)
        .map(r => (r._2, r._4)).toArray.sorted
      if (ys.nonEmpty) {
        var cov = 0L
        var curLo = ys(0)._1; var curHi = ys(0)._2
        var j = 1
        while (j < ys.length) {
          val (lo, hi) = ys(j)
          if (lo > curHi) { cov += curHi - curLo; curLo = lo; curHi = hi }
          else if (hi > curHi) curHi = hi
          j += 1
        }
        cov += curHi - curLo
        area += (x1 - x0) * cov
      }
      i += 1
    }
    area
  }
}
