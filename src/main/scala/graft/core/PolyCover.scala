package graft.core

import org.locationtech.jts.geom._
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.io.{WKBReader, WKBWriter}

/** JTS bridge: micro-degree fixed-point ↔ JTS doubles (exact — micro-degree
  * ints fit a double mantissa), WKB (the only form geometry takes on the
  * wire / in shuffles; JVM geometry objects never cross a stage boundary,
  * SURVEY.md §7 decision (e)).
  */
object Jts {
  val factory = new GeometryFactory(new PrecisionModel(), 4326)

  def ringToJts(r: RingM): LinearRing = {
    val n = r.xs.length
    val closed = r.xs(0) == r.xs(n - 1) && r.ys(0) == r.ys(n - 1)
    val m = if (closed) n else n + 1
    val cs = new Array[Coordinate](m)
    var i = 0
    while (i < n) { cs(i) = new Coordinate(r.xs(i).toDouble, r.ys(i).toDouble); i += 1 }
    if (!closed) cs(n) = new Coordinate(r.xs(0).toDouble, r.ys(0).toDouble)
    factory.createLinearRing(cs)
  }

  def polyToJts(p: PolyM): Polygon = {
    val shell = ringToJts(p.rings(0))
    val holes = p.rings.drop(1).map(ringToJts)
    factory.createPolygon(shell, holes)
  }

  def jtsToPoly(g: Polygon): PolyM = {
    def ring(lr: LineString): RingM = {
      val cs = lr.getCoordinates
      // drop the closing duplicate vertex; RingM wraps implicitly
      val n = cs.length - 1
      RingM(Array.tabulate(n)(i => Math.round(cs(i).x)), Array.tabulate(n)(i => Math.round(cs(i).y)))
    }
    PolyM((ring(g.getExteriorRing) +: (0 until g.getNumInteriorRing).map(i => ring(g.getInteriorRingN(i)))).toArray)
  }

  def toWkb(g: Geometry): Array[Byte] = new WKBWriter().write(g)
  def fromWkb(b: Array[Byte]): Geometry = new WKBReader(factory).read(b)

  /** Even-odd PolyM (flat ring set, shells + holes + disjoint shells mixed)
    * → proper JTS Polygon/MultiPolygon. Ring parity by nesting depth of each
    * ring's strict INTERIOR point (robust to rings sharing boundary
    * vertices/edges): even depth = shell, odd = hole, a hole belongs to its
    * innermost containing shell. This is what lets seam splitting and
    * clipping take multipolygons — the cover and the raycast refine need no
    * conversion (even-odd crossing counting handles multiple shells
    * natively).
    */
  def toJtsEvenOdd(p: PolyM): Geometry = {
    val rings = p.rings
    if (rings.length == 1) return factory.createPolygon(ringToJts(rings(0)))
    val singles = rings.map(r => PolyM(Array(r)))
    // vertex-based test points + raycast depths (Raycast.ringDepths) — NOT
    // the ring-polygon's interiorPoint: a shell's interior point can land
    // inside its own hole.
    val testPt = Raycast.ringTestPoints(rings)
    val depth = Raycast.ringDepths(rings)
    val shells = rings.indices.filter(i => depth(i) % 2 == 0)
    val holes = rings.indices.filter(i => depth(i) % 2 == 1)
    val polys = shells.map { s =>
      // a hole's parent is the unique shell one level up that contains it
      val myHoles = holes.filter { h =>
        depth(h) == depth(s) + 1 &&
          Raycast.classify(testPt(h)._1, testPt(h)._2, singles(s)) == 1
      }
      factory.createPolygon(ringToJts(rings(s)), myHoles.map(h => ringToJts(rings(h))).toArray)
    }
    if (polys.length == 1) polys.head
    else factory.createMultiPolygon(polys.toArray)
  }

  /** Flatten a JTS Polygon/MultiPolygon into the even-odd [[PolyM]] form
    * (all rings of all member polygons, closing vertices dropped).
    */
  def fromJtsAny(g: Geometry): PolyM = g match {
    case p: Polygon => jtsToPoly(p)
    case mp: MultiPolygon =>
      val rings = (0 until mp.getNumGeometries).flatMap { i =>
        jtsToPoly(mp.getGeometryN(i).asInstanceOf[Polygon]).rings
      }
      PolyM(rings.toArray)
    case other =>
      throw new IllegalArgumentException(s"not polygonal: ${other.getGeometryType}")
  }

  def bboxToJts(b: BBoxM): Polygon = {
    val cs = Array(
      new Coordinate(b.lonMin.toDouble, b.latMin.toDouble),
      new Coordinate(b.lonMax.toDouble, b.latMin.toDouble),
      new Coordinate(b.lonMax.toDouble, b.latMax.toDouble),
      new Coordinate(b.lonMin.toDouble, b.latMax.toDouble),
      new Coordinate(b.lonMin.toDouble, b.latMin.toDouble))
    factory.createPolygon(cs)
  }

  def prepare(g: Geometry): PreparedGeometry = PreparedGeometryFactory.prepare(g)

  /** Split a geometry whose longitudes may extend past ±180e6 (the natural
    * authoring form for a seam-crossing polygon: Fiji as [178e6, 182e6])
    * into its in-world halves: the geometry itself and its ±360°-shifted
    * copies, each clipped to the world box, keeping areal parts only.
    * Each half is an ordinary polygon the cover/raycast path handles
    * unchanged; a point row has ONE canonical longitude, so it can match
    * at most one half — no duplicate join rows.
    */
  def splitAtSeam(g: Geometry): Seq[Geometry] = {
    val world = bboxToJts(BBoxM(-180000000L, -90000000L, 180000000L, 90000000L))
    val env = g.getEnvelopeInternal
    if (env.getMinX >= -180000000.0 && env.getMaxX <= 180000000.0) return Seq(g)
    def shifted(dx: Double): Geometry =
      org.locationtech.jts.geom.util.AffineTransformation
        .translationInstance(dx, 0).transform(g)
    Seq(g, shifted(-360000000.0), shifted(360000000.0))
      .map(_.intersection(world))
      .flatMap(polygonalParts)
  }

  /** Areal components of a geometry (drops clip-boundary lines/points). */
  private def polygonalParts(g: Geometry): Seq[Geometry] = g match {
    case p: Polygon if !p.isEmpty => Seq(p)
    case mp: MultiPolygon if !mp.isEmpty => Seq(mp)
    case gc: GeometryCollection =>
      (0 until gc.getNumGeometries).flatMap(i => polygonalParts(gc.getGeometryN(i)))
    case _ => Seq.empty
  }
}

/** One cover cell of a polygon: morton id at `level`. A FULL cell lies
  * wholly inside the polygon and carries no edges (points there skip the
  * exact PIP refine — the reference's fully-inside fast path
  * [ref: oshdb-util/…/geometry/fip/FastBboxInPolygon.java], SURVEY.md O3).
  *
  * A PARTIAL cell carries `edges`, its clipped edge list `(x1, y1, x2, y2)*`:
  * every ring edge that reaches the cell's row band [south edge, north
  * edge + 1] and whose max x is at least the cell's west edge. No other
  * edge can touch a point the cell receives or cross its ray to +x, so
  * [[Raycast.classifyEdges]] over the list equals [[Raycast.classify]] over
  * the whole polygon there. The band's extra µdeg row keeps that exact for
  * points at lat 90e6, which [[ZGrid.yAt]] clamps into the top row.
  */
final case class CoverCell(level: Int, morton: Long, edges: Array[Long]) {
  def full: Boolean = edges == null
}

/** Plan-time polygon → cover-cells computation (runs on the driver over the
  * polygon side only — the BIG side never does geometry work it can skip).
  *
  * Replaces the reference's query-time `bbox2CellIdRanges` pruning +
  * `GeometrySplitter` STRtree probe [ref: oshdb-api/…/mapreducer —
  * MapAggregator :: aggregateByGeometry] with a cover-cell equi-join:
  * polygons explode to (cell, poly_id, full); points compute one zcell;
  * the spatial join becomes a hash join Catalyst can broadcast or
  * sort-merge, with AQE handling skew.
  *
  * Level selection mirrors the reference's insertion-level trick (O8): each
  * polygon is covered at the FINEST level whose cover stays under
  * `cellBudget`, so large polygons get coarse cells (no cover explosion)
  * and small polygons get tight cells (high join selectivity).
  *
  * Cells are classified from the ring edges alone, in int64, with no
  * geometry predicate per cell — Raptor's (VLDB 2019) edge/scanline
  * classification, with GeoBlocks' (EDBT 2021) split into FULL cells and
  * PARTIAL boundary cells that alone are refined.
  */
object PolyCover {
  val DEFAULT_BUDGET = 256
  val MIN_LEVEL = 2
  val MAX_LEVEL = 16

  def chooseLevel(bbox: BBoxM, cellBudget: Int = DEFAULT_BUDGET): Int = {
    var z = MAX_LEVEL
    while (z > MIN_LEVEL && ZGrid.bboxCellCount(z, bbox) > cellBudget) z -= 1
    z
  }

  /** Cover one polygon at its chosen level. Guarantees cover ⊇ polygon:
    * every point with Raycast.contains == true lies in some emitted cell,
    * and every point a FULL cell receives is Raycast-inside.
    */
  def cover(poly: PolyM, cellBudget: Int = DEFAULT_BUDGET): Array[CoverCell] = {
    val z = chooseLevel(poly.bbox, cellBudget)
    coverAt(poly, z)
  }

  /** Cover at level z, in one pass over the ring edges.
    *
    * Each cell stands for the closed box of points it receives: its
    * [[ZGrid.cellBBox]], stretched to lon 180e6 in the last column and to
    * lat 90e6 in the top row, where xAt/yAt clamp the world edge. Edges are
    * bucketed once into the row bands of [[CoverCell]]. A cell is PARTIAL
    * iff one of its band's edges touches its box (an integer segment–box
    * test, run only over the columns the edge spans). A box no edge
    * touches lies wholly inside or wholly outside, so one
    * [[Raycast.classifyEdges]] of its corner against the band's edges
    * calls it FULL or leaves it out. Cells come out in [[ZGrid.bboxCells]]
    * order.
    */
  def coverAt(poly: PolyM, z: Int): Array[CoverCell] = {
    val b = poly.bbox
    val x0 = ZGrid.xAt(z, b.lonMin); val y0 = ZGrid.yAt(z, b.latMin)
    val nx = (ZGrid.xAt(z, b.lonMax) - x0 + 1).toInt
    val ny = (ZGrid.yAt(z, b.latMax) - y0 + 1).toInt
    val top = (1L << z) - 1
    val colLon = Array.tabulate(nx + 1)(i => ZGrid.cellLon(z, x0 + i))
    val rowLat = Array.tabulate(ny + 1)(j => ZGrid.cellLat(z, y0 + j))
    // the east edge of column i's box and the north edge of row j's
    def east(i: Int): Long = if (x0 + i == top) colLon(i + 1) else colLon(i + 1) - 1
    def north(j: Int): Long = if (y0 + j == top) rowLat(j + 1) else rowLat(j + 1) - 1

    val bands = Array.fill(ny)(Array.newBuilder[Long])
    for (r <- poly.rings) {
      val n = r.xs.length
      var k = 0
      while (k < n) {
        val ax = r.xs(if (k == 0) n - 1 else k - 1); val ay = r.ys(if (k == 0) n - 1 else k - 1)
        val bx = r.xs(k); val by = r.ys(k)
        val lo = math.min(ay, by); val hi = math.max(ay, by)
        var j = math.max(0L, ZGrid.yAt(z, lo) - y0 - 1).toInt
        val j1 = (ZGrid.yAt(z, hi) - y0).toInt
        while (j <= j1) {
          if (lo <= rowLat(j + 1) && hi >= rowLat(j)) {
            val band = bands(j)
            band += ax; band += ay; band += bx; band += by
          }
          j += 1
        }
        k += 1
      }
    }

    val grid = new Array[CoverCell](nx * ny)
    var j = 0
    while (j < ny) {
      val band = bands(j).result()
      val ne = band.length / 4
      // edges by max x, descending: a cell's list is then a prefix
      val edges = Array.range(0, ne).sortBy(e => -maxX(band, e))
        .flatMap(e => band.slice(4 * e, 4 * e + 4))
      val touched = new Array[Boolean](nx)
      for (e <- 0 until ne) {
        val ax = edges(4 * e); val ay = edges(4 * e + 1)
        val bx = edges(4 * e + 2); val by = edges(4 * e + 3)
        var i = (ZGrid.xAt(z, math.min(ax, bx)) - x0).toInt
        val i1 = (ZGrid.xAt(z, math.max(ax, bx)) - x0).toInt
        while (i <= i1) {
          if (!touched(i) && touches(ax, ay, bx, by, colLon(i), rowLat(j), east(i), north(j)))
            touched(i) = true
          i += 1
        }
      }
      var prefix = 0
      var i = nx - 1
      while (i >= 0) {
        while (prefix < ne && maxX(edges, prefix) >= colLon(i)) prefix += 1
        val m = Morton.encode(x0 + i, y0 + j)
        grid(i * ny + j) =
          if (touched(i)) CoverCell(z, m, java.util.Arrays.copyOf(edges, 4 * prefix))
          else if (Raycast.classifyEdges(colLon(i), rowLat(j), edges, 4 * prefix) == 1)
            CoverCell(z, m, null)
          else null
        i -= 1
      }
      j += 1
    }
    grid.filter(_ != null)
  }

  @inline private def maxX(edges: Array[Long], e: Int): Long = math.max(edges(4 * e), edges(4 * e + 2))

  /** Whether segment a–b meets the closed box [x0, x1] × [y0, y1]: their
    * bboxes overlap and the box's corners are not all strictly on one side
    * of the segment's line (separating axes of a segment and a box; exact
    * in int64 for micro-degree inputs).
    */
  private def touches(ax: Long, ay: Long, bx: Long, by: Long,
                      x0: Long, y0: Long, x1: Long, y1: Long): Boolean = {
    if (math.max(ax, bx) < x0 || math.min(ax, bx) > x1 ||
        math.max(ay, by) < y0 || math.min(ay, by) > y1) return false
    val dx = bx - ax; val dy = by - ay
    def side(x: Long, y: Long): Int = java.lang.Long.signum(dx * (y - ay) - (x - ax) * dy)
    val s = side(x0, y0) + side(x1, y0) + side(x0, y1) + side(x1, y1)
    s != 4 && s != -4
  }

  /** Cover at a FIXED level for all polygons, as compact morton ranges:
    * contiguous runs of sibling FULL cells collapse into [lo, hi] ranges
    * (z-order ⇒ a full parent = one contiguous child range). Used by the
    * range-join variant at scale where per-polygon levels don't fit an
    * equi-join. Returned ranges are inclusive.
    */
  def coverRanges(poly: PolyM, z: Int): Array[(Long, Long, Boolean)] = {
    val cells = coverAt(poly, z).sortBy(_.morton)
    val out = Array.newBuilder[(Long, Long, Boolean)]
    var i = 0
    while (i < cells.length) {
      var j = i
      while (j + 1 < cells.length && cells(j + 1).morton == cells(j).morton + 1 &&
             cells(j + 1).full == cells(i).full) j += 1
      out += ((cells(i).morton, cells(j).morton, cells(i).full))
      i = j + 1
    }
    out.result()
  }
}
