package graft.core

/** Fixed-point geographic coordinates.
  *
  * The reference stores lon/lat as `long = degrees * 1e7` so every spatial
  * predicate is exactly reproducible (OSHDB `OSHDB.GEOM_PRECISION_TO_LONG`,
  * see SURVEY.md §1.2 [ref: oshdb/…/OSHDB.java]). We keep the idea but use
  * **micro-degrees** (`degrees * 1e6`): with a ±1.8e8 coordinate range every
  * cross product `(dx1*dy2 - dx2*dy1)` stays well inside int64
  * (≤ 2.6e17 << 9.2e18), so ray-cast point-in-polygon and all cell math are
  * exact integer arithmetic end-to-end — no float tolerance anywhere in a
  * predicate. 1 micro-degree ≈ 0.11 m at the equator, far below the task's
  * geometric resolution. Doubles appear only at the JTS boundary (WKB,
  * seam splitting, clipping) and in metric outputs (area/length/PSNR).
  */
object FixedPoint {
  val MICRO: Long = 1000000L
  val LON_RANGE: Long = 360L * MICRO // 360e6
  val LAT_RANGE: Long = 180L * MICRO // 180e6
  val LON_MIN: Long = -180L * MICRO
  val LAT_MIN: Long = -90L * MICRO

  @inline def toMicro(deg: Double): Long = Math.round(deg * MICRO)
  @inline def toDeg(micro: Long): Double = micro.toDouble / MICRO
}

/** 64-bit Morton (z-order) interleave of two non-negative ints (< 2^31).
  *
  * Replaces the reference's row-major `XYGrid` cell id
  * [ref: oshdb/…/index/XYGrid.java :: getId] with a bit-interleaved code:
  * a z-order walk keeps spatially close cells numerically close, so cell
  * *ranges* stay compact for scan pruning and a coarse cell is exactly a
  * contiguous id range of its children — which row-major ids do not give.
  */
object Morton {
  /** Spread the low 32 bits of v so bit i lands at position 2*i. */
  @inline def spread(v0: Long): Long = {
    var v = v0 & 0xffffffffL
    v = (v | (v << 16)) & 0x0000ffff0000ffffL
    v = (v | (v << 8)) & 0x00ff00ff00ff00ffL
    v = (v | (v << 4)) & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  /** Inverse of [[spread]]: gather even-position bits of v into the low 32. */
  @inline def gather(v0: Long): Long = {
    var v = v0 & 0x5555555555555555L
    v = (v | (v >>> 1)) & 0x3333333333333333L
    v = (v | (v >>> 2)) & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v >>> 4)) & 0x00ff00ff00ff00ffL
    v = (v | (v >>> 8)) & 0x0000ffff0000ffffL
    v = (v | (v >>> 16)) & 0x00000000ffffffffL
    v
  }

  /** x gets even bit positions, y odd. */
  @inline def encode(x: Long, y: Long): Long = spread(x) | (spread(y) << 1)
  @inline def decodeX(m: Long): Long = gather(m)
  @inline def decodeY(m: Long): Long = gather(m >>> 1)
}

/** Hierarchical lon/lat grid: at level z the world is 2^z × 2^z cells
  * (x from lon, y from lat), cell id = Morton(x, y).
  *
  * Mirrors the role of the reference's `XYGrid`/`XYGridTree`/`CellId`
  * [ref: oshdb/…/index/XYGrid.java, XYGridTree.java, CellId.java]: point →
  * cell, bbox → cell ranges (the scan-pruning primitive), and the
  * "insertion level" trick (a geometry lives at the coarsest level where it
  * spans few cells) [ref: XYGridTree :: getInsertId].
  */
object ZGrid {
  import FixedPoint._
  val MAX_LEVEL = 24

  /** Cell x index of a longitude at level z (clamped; lon=180 → last cell). */
  @inline def xAt(z: Int, lonMicro: Long): Long = {
    val x = ((lonMicro - LON_MIN) << z) / LON_RANGE
    val max = (1L << z) - 1
    if (x < 0) 0L else if (x > max) max else x
  }
  @inline def yAt(z: Int, latMicro: Long): Long = {
    val y = ((latMicro - LAT_MIN) << z) / LAT_RANGE
    val max = (1L << z) - 1
    if (y < 0) 0L else if (y > max) max else y
  }

  /** Morton cell id at level z (level NOT encoded — fixed-level joins). */
  @inline def cellAt(z: Int, lonMicro: Long, latMicro: Long): Long =
    Morton.encode(xAt(z, lonMicro), yAt(z, latMicro))

  /** Level-tagged cell id, unique across levels (z ≤ 24 → morton < 2^48). */
  @inline def levelCell(z: Int, morton: Long): Long = (z.toLong << 58) | morton
  @inline def levelOf(lc: Long): Int = (lc >>> 58).toInt
  @inline def mortonOf(lc: Long): Long = lc & ((1L << 58) - 1)

  /** Inclusive micro-degree bbox of cell (z, x, y). Max edge belongs to the
    * next cell except at the world edge (clamping in xAt/yAt).
    */
  def cellBBox(z: Int, x: Long, y: Long): BBoxM =
    BBoxM(cellLon(z, x), cellLat(z, y), cellLon(z, x + 1) - 1, cellLat(z, y + 1) - 1)

  /** West edge of cell column x at level z: the least longitude with
    * xAt == x (ceil-divided, so [cellLon(x), cellLon(x+1)) tiles exactly);
    * x = 2^z gives the world's east edge, 180e6.
    */
  @inline def cellLon(z: Int, x: Long): Long = LON_MIN + ceilDiv(x * LON_RANGE, 1L << z)
  /** South edge of cell row y at level z; y = 2^z gives 90e6. */
  @inline def cellLat(z: Int, y: Long): Long = LAT_MIN + ceilDiv(y * LAT_RANGE, 1L << z)

  @inline private def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b

  /** All (x, y) cell indices whose cell intersects the bbox — the pruning
    * primitive [ref: XYGridTree :: bbox2CellIdRanges].
    */
  def bboxCells(z: Int, b: BBoxM): Iterator[(Long, Long)] = {
    val x0 = xAt(z, b.lonMin); val x1 = xAt(z, b.lonMax)
    val y0 = yAt(z, b.latMin); val y1 = yAt(z, b.latMax)
    for { x <- Iterator.range(x0, x1 + 1); y <- (y0 to y1).iterator } yield (x, y)
  }

  /** Number of cells a bbox spans at level z (without materializing). */
  def bboxCellCount(z: Int, b: BBoxM): Long = {
    val nx = xAt(z, b.lonMax) - xAt(z, b.lonMin) + 1
    val ny = yAt(z, b.latMax) - yAt(z, b.latMin) + 1
    nx * ny
  }

  /** Morton ids of the (2r+1)² cell square (Chebyshev radius r, clamped at
    * the world edge) around the cell containing (lonm, latm) — the k-ring
    * primitive of the DataFrame-valued kNN join (computed per query row
    * inside a codegen expression; no driver-side query set).
    */
  def ringCells(z: Int, lonm: Long, latm: Long, r: Int): Array[Long] =
    ringCells(z, lonm, latm, r, false)

  /** @param wrapX wrap the x (longitude) axis modulo 2^z instead of
    *        clamping — required for GEODESIC covers, where a disk near
    *        ±180 or a pole spans the longitude seam (the planar metric
    *        never wraps: planar distance across the seam is large). The y
    *        axis always clamps (latitude is not periodic). When 2r+1 ≥ 2^z
    *        the wrapped columns dedupe to the full width.
    */
  def ringCells(z: Int, lonm: Long, latm: Long, r: Int, wrapX: Boolean): Array[Long] = {
    val n = 1L << z
    val max = n - 1
    val qx = xAt(z, lonm); val qy = yAt(z, latm)
    val y0 = math.max(0L, qy - r); val y1 = math.min(max, qy + r)
    if (!wrapX) {
      val x0 = math.max(0L, qx - r); val x1 = math.min(max, qx + r)
      val out = new Array[Long](((x1 - x0 + 1) * (y1 - y0 + 1)).toInt)
      var i = 0
      var x = x0
      while (x <= x1) {
        var y = y0
        while (y <= y1) { out(i) = Morton.encode(x, y); i += 1; y += 1 }
        x += 1
      }
      out
    } else {
      val width = math.min(2L * r + 1, n)
      val out = new Array[Long]((width * (y1 - y0 + 1)).toInt)
      var i = 0
      var dx = 0L
      while (dx < width) {
        val x = java.lang.Math.floorMod(qx - r + dx, n)
        var y = y0
        while (y <= y1) { out(i) = Morton.encode(x, y); i += 1; y += 1 }
        dx += 1
      }
      out
    }
  }
}

/** Inclusive fixed-point (micro-degree) bounding box.
  * [ref: oshdb/…/OSHDBBoundingBox.java, OSHDBBoundable.java]
  */
final case class BBoxM(lonMin: Long, latMin: Long, lonMax: Long, latMax: Long) {
  def intersects(o: BBoxM): Boolean =
    lonMin <= o.lonMax && o.lonMin <= lonMax && latMin <= o.latMax && o.latMin <= latMax
  def coveredBy(o: BBoxM): Boolean =
    lonMin >= o.lonMin && lonMax <= o.lonMax && latMin >= o.latMin && latMax <= o.latMax
  def contains(lonMicro: Long, latMicro: Long): Boolean =
    lonMicro >= lonMin && lonMicro <= lonMax && latMicro >= latMin && latMicro <= latMax
}

/** Antimeridian (±180°) seam handling: a bbox with lonMin > lonMax is read
  * as CROSSING the seam (Fiji/Chukotka extracts); geometries may carry
  * extended longitudes beyond ±180e6 before splitting. Upstream's XYGrid
  * has the same seam limitation — this closes it by splitting seam-crossing
  * shapes into ≤2 ordinary halves that flow through the unchanged cover /
  * raycast / join machinery (SURVEY §8 hard-part (c)).
  */
object Seam {
  import FixedPoint._

  def crosses(b: BBoxM): Boolean = b.lonMin > b.lonMax

  /** Split a possibly-seam-crossing bbox into 1–2 ordinary bboxes. */
  def splitBBox(b: BBoxM): Seq[BBoxM] =
    if (!crosses(b)) Seq(b)
    else Seq(BBoxM(b.lonMin, b.latMin, LON_MIN + LON_RANGE, b.latMax),
      BBoxM(LON_MIN, b.latMin, b.lonMax, b.latMax))

  /** Cells intersecting a possibly-seam-crossing bbox (union of halves). */
  def bboxCells(z: Int, b: BBoxM): Iterator[(Long, Long)] =
    splitBBox(b).iterator.flatMap(ZGrid.bboxCells(z, _))
}

/** A polygon ring as parallel fixed-point coordinate arrays; closed
  * (first == last vertex NOT required — edges wrap implicitly).
  */
final case class RingM(xs: Array[Long], ys: Array[Long]) {
  require(xs.length == ys.length && xs.length >= 3, "ring needs >= 3 vertices")
}

/** A polygonal area as a flat ring set under EVEN-ODD semantics: one shell
  * with holes, OR a full MultiPolygon (disjoint shells, nested
  * islands-in-holes) — crossing parity makes them the same object, so the
  * raycast kernel and the join path need no multi-polygon special case.
  * Shell/hole structure is recovered only where JTS needs it
  * (Jts.toJtsEvenOdd, for seam splitting / clipping); built from
  * ways or WKB via graft.core.RingAssembly (H1).
  */
final case class PolyM(rings: Array[RingM]) {
  lazy val bbox: BBoxM = {
    var lo = Long.MaxValue; var la = Long.MaxValue
    var ho = Long.MinValue; var ha = Long.MinValue
    for (r <- rings; i <- r.xs.indices) {
      if (r.xs(i) < lo) lo = r.xs(i); if (r.xs(i) > ho) ho = r.xs(i)
      if (r.ys(i) < la) la = r.ys(i); if (r.ys(i) > ha) ha = r.ys(i)
    }
    BBoxM(lo, la, ho, ha)
  }
}

/** Exact integer even-odd ray-casting point-in-polygon.
  *
  * Boundary rule (LOCKED, SURVEY.md §7): a point exactly on any ring edge or
  * vertex is INSIDE. Even-odd crossing count across all rings handles holes
  * (inside a hole → even → outside; on a hole's boundary → inside by the
  * edge rule). All arithmetic is int64-exact for micro-degree inputs, so the
  * distributed path and any oracle sharing this kernel agree bit-for-bit —
  * replacing the reference's JTS-double `FastPointInPolygon`
  * [ref: oshdb-util/…/geometry/fip/FastPointInPolygon.java] with a
  * reproducible integer kernel (BASELINE.json north_star: "ray-casting
  * point-in-polygon").
  */
object Raycast {
  /** One ring edge (x1, y1)-(x2, y2) against the point: 2 if the point lies
    * on the edge, 1 if a ray from the point to +x crosses it, else 0. The
    * whole integer test, shared by [[classify]] and [[classifyEdges]].
    */
  @inline private def edge(px: Long, py: Long, x1: Long, y1: Long, x2: Long, y2: Long): Int = {
    // on-segment test: collinear and within the segment's bbox
    val cross = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
    if (cross == 0 &&
        px >= math.min(x1, x2) && px <= math.max(x1, x2) &&
        py >= math.min(y1, y2) && py <= math.max(y1, y2)) 2
    // crossing test for a ray to +x; half-open in y so a vertex exactly
    // at py is counted once (standard even-odd convention)
    else if ((y1 > py) != (y2 > py)) {
      // sign of (intersection_x - px) == sign of cross / (y2 - y1)
      if (y2 > y1) { if (cross > 0) 1 else 0 }
      else { if (cross < 0) 1 else 0 }
    } else 0
  }

  /** @return 1 if strictly inside by even-odd, 2 if on boundary, 0 outside */
  def classify(px: Long, py: Long, poly: PolyM): Int = {
    var crossings = 0
    var ri = 0
    while (ri < poly.rings.length) {
      val r = poly.rings(ri)
      val n = r.xs.length
      var i = 0
      var x1 = r.xs(n - 1); var y1 = r.ys(n - 1)
      while (i < n) {
        val x2 = r.xs(i); val y2 = r.ys(i)
        val e = edge(px, py, x1, y1, x2, y2)
        if (e == 2) return 2
        crossings += e
        x1 = x2; y1 = y2
        i += 1
      }
      ri += 1
    }
    if ((crossings & 1) == 1) 1 else 0
  }

  /** [[classify]] over a flat edge list, `(x1, y1, x2, y2)` per edge, in
    * `edges(0 until end)`. For a point that a [[CoverCell]] receives, its
    * edge list gives the same answer as the whole polygon: the list holds
    * every ring edge that reaches the cell's row band and does not lie
    * wholly west of the cell, and no other edge can touch the point or
    * cross its ray to +x. The refine of a join whose PARTIAL cover rows
    * carry those lists calls this per row.
    */
  def classifyEdges(px: Long, py: Long, edges: Array[Long], end: Int): Int = {
    var crossings = 0
    var p = 0
    while (p < end) {
      val e = edge(px, py, edges(p), edges(p + 1), edges(p + 2), edges(p + 3))
      if (e == 2) return 2
      crossings += e
      p += 4
    }
    if ((crossings & 1) == 1) 1 else 0
  }

  def classifyEdges(px: Long, py: Long, edges: Array[Long]): Int =
    classifyEdges(px, py, edges, edges.length)

  /** Boundary-inclusive containment (the join predicate). */
  @inline def contains(px: Long, py: Long, poly: PolyM): Boolean =
    classify(px, py, poly) != 0

  /** Per-ring TEST POINT for nesting queries: a vertex of ring i that lies
    * on no other ring's boundary (rings in a valid even-odd set never cross,
    * so one off-boundary vertex decides containment for the whole ring).
    */
  def ringTestPoints(rings: Array[RingM]): Array[(Long, Long)] = {
    val singles = rings.map(r => PolyM(Array(r)))
    rings.indices.map { i =>
      val n = rings(i).xs.length
      val v = (0 until n).find { k =>
        val (x, y) = (rings(i).xs(k), rings(i).ys(k))
        rings.indices.forall(j => j == i || classify(x, y, singles(j)) != 2)
      }.getOrElse(throw new IllegalArgumentException(
        // every vertex of ring i lies on some other ring's boundary — a
        // degenerate even-odd set (duplicate/overlapping rings); a silent
        // vertex-0 fallback here could misclassify nesting, so reject
        s"ring $i of ${rings.length}: every vertex lies on another ring's " +
          "boundary — degenerate ring set (duplicate or edge-sharing rings)"))
      (rings(i).xs(v), rings(i).ys(v))
    }.toArray
  }

  /** Even-odd nesting depth of each ring (0 = outer shell, 1 = hole,
    * 2 = island-in-hole, …) — the shell/hole classifier shared by
    * Jts.toJtsEvenOdd and GeoMetrics.areaOf.
    */
  def ringDepths(rings: Array[RingM]): Array[Int] = {
    if (rings.length == 1) return Array(0)
    val singles = rings.map(r => PolyM(Array(r)))
    val pts = ringTestPoints(rings)
    rings.indices.map { i =>
      rings.indices.count(j => j != i && classify(pts(i)._1, pts(i)._2, singles(j)) == 1)
    }.toArray
  }
}

/** Web-tile assignment (raster↔vector tiling, BASELINE.json north_star).
  *
  * Two schemes:
  *  - `equirect` — linear lon/lat tiling, pure integer math, exact, and
  *    ANSI-SQL-expressible (used for oracle-checked parity).
  *  - `mercator` — standard OSM/XYZ Web-Mercator tiling (double math at the
  *    final floor only; y clamped to the ±85.05113° Mercator band).
  */
object TileMath {
  import FixedPoint._

  @inline def equirectX(z: Int, lonMicro: Long): Long = ZGrid.xAt(z, lonMicro)
  /** Tile rows count from the NORTH (slippy-map convention). */
  @inline def equirectY(z: Int, latMicro: Long): Long = {
    val y = ((90L * MICRO - latMicro) << z) / LAT_RANGE
    val max = (1L << z) - 1
    if (y < 0) 0L else if (y > max) max else y
  }

  val MERC_LAT_MAX: Double = 85.05112877980659

  def mercatorX(z: Int, lonDeg: Double): Long = {
    val n = 1L << z
    val x = math.floor((lonDeg + 180.0) / 360.0 * n).toLong
    if (x < 0) 0L else if (x >= n) n - 1 else x
  }
  def mercatorY(z: Int, latDeg: Double): Long = {
    val n = 1L << z
    val lat = math.max(-MERC_LAT_MAX, math.min(MERC_LAT_MAX, latDeg))
    val rad = math.toRadians(lat)
    val y = math.floor((1.0 - math.log(math.tan(rad) + 1.0 / math.cos(rad)) / math.Pi) / 2.0 * n).toLong
    if (y < 0) 0L else if (y >= n) n - 1 else y
  }
}
