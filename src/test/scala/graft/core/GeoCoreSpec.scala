package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.Coordinate
import scala.util.Random

/** Deterministic property loops (seeded) — the scalatest/scalacheck bridge
  * isn't in the offline cache, and FIXTURES.md §5 wants seed-stable tests
  * anyway.
  */
object Det {
  def forAll(n: Int, seed: Long)(body: Random => Unit): Unit = {
    val rnd = new Random(seed)
    var i = 0
    while (i < n) { body(rnd); i += 1 }
  }
}

class MortonSpec extends AnyFunSuite {
  test("spread/gather roundtrip on 32-bit values") {
    Det.forAll(2000, 1) { r =>
      val v = r.nextLong() & 0xffffffffL
      assert(Morton.gather(Morton.spread(v)) == v)
    }
  }
  test("encode/decode roundtrip") {
    Det.forAll(2000, 2) { r =>
      val x = r.nextLong() & 0xffffffffL; val y = r.nextLong() & 0xffffffffL
      val m = Morton.encode(x, y)
      assert(Morton.decodeX(m) == x && Morton.decodeY(m) == y)
    }
  }
  test("z-order locality: parent cell = contiguous child range") {
    Det.forAll(500, 3) { r =>
      val x = r.nextInt(1 << 10).toLong; val y = r.nextInt(1 << 10).toLong
      val parent = Morton.encode(x, y)
      val kids = for (dx <- 0 to 1; dy <- 0 to 1) yield Morton.encode(2 * x + dx, 2 * y + dy)
      assert(kids.min == parent * 4 && kids.max == parent * 4 + 3)
    }
  }
}

class PhashLocSpec extends AnyFunSuite {
  test("phash encode/decode roundtrip") {
    Det.forAll(2000, 4) { r =>
      val lon = r.nextLong(340000001L) - 170000000L
      val lat = r.nextLong(160000001L) - 80000000L
      val p = PhashLoc.encode(lon, lat)
      assert(PhashLoc.lonMicro(p) == lon && PhashLoc.latMicro(p) == lat)
    }
  }
}

class ZGridSpec extends AnyFunSuite {
  test("point lies inside its own cell bbox") {
    Det.forAll(3000, 5) { r =>
      val z = r.nextInt(17)
      val lon = r.nextLong(360000001L) - 180000000L
      val lat = r.nextLong(180000001L) - 90000000L
      val x = ZGrid.xAt(z, lon); val y = ZGrid.yAt(z, lat)
      val bb = ZGrid.cellBBox(z, x, y)
      assert(bb.contains(lon, lat), s"z=$z lon=$lon lat=$lat cell=($x,$y) bb=$bb")
    }
  }
  test("adjacent cell bboxes tile exactly (no gap, no overlap)") {
    Det.forAll(500, 6) { r =>
      val z = 1 + r.nextInt(16)
      val x = r.nextLong(math.max(1L, (1L << z) - 1))
      val b1 = ZGrid.cellBBox(z, x, 0)
      val b2 = ZGrid.cellBBox(z, x + 1, 0)
      assert(b1.lonMax + 1 == b2.lonMin)
    }
  }
  test("levelCell roundtrip") {
    Det.forAll(500, 7) { r =>
      val z = r.nextInt(17); val m = r.nextLong(1L << 32)
      val lc = ZGrid.levelCell(z, m)
      assert(ZGrid.levelOf(lc) == z && ZGrid.mortonOf(lc) == m)
    }
  }
}

object TestPolys {
  /** Every ring edge of the polygon as the flat `(x1, y1, x2, y2)*` list
    * Raycast.classifyEdges reads.
    */
  def edges(poly: PolyM): Array[Long] = poly.rings.flatMap { r =>
    r.xs.indices.flatMap { i =>
      val j = (i + 1) % r.xs.length
      Seq(r.xs(i), r.ys(i), r.xs(j), r.ys(j))
    }
  }

  /** Deterministic irregular star-convex polygon around (cx, cy) micro-deg. */
  def irregular(cx: Long, cy: Long, rMicro: Long, nV: Int, seed: Long, hole: Boolean = false): PolyM = {
    val rnd = new Random(seed)
    def ring(radius: Long, n: Int): RingM = {
      val xs = new Array[Long](n); val ys = new Array[Long](n)
      for (i <- 0 until n) {
        val ang = 2 * math.Pi * i / n
        val rr = radius * (0.55 + 0.45 * rnd.nextDouble())
        xs(i) = cx + Math.round(rr * math.cos(ang))
        ys(i) = cy + Math.round(rr * math.sin(ang))
      }
      RingM(xs, ys)
    }
    val shell = ring(rMicro, nV)
    if (hole) {
      val h = ring(rMicro / 4, 6)
      PolyM(Array(shell, RingM(h.xs.reverse, h.ys.reverse)))
    } else PolyM(Array(shell))
  }
}

class RaycastSpec extends AnyFunSuite {
  test("raycast agrees with JTS covers on random polygons/points") {
    Det.forAll(150, 8) { r =>
      val poly = TestPolys.irregular(
        r.nextLong(320000001L) - 160000000L, r.nextLong(140000001L) - 70000000L,
        100000L + r.nextLong(4900000L), 5 + r.nextInt(20), r.nextLong(100000L), r.nextBoolean())
      val jts = Jts.polyToJts(poly)
      if (jts.isValid) {
        val prep = Jts.prepare(jts)
        val b = poly.bbox
        val fx = r.nextLong(7L) - 3; val fy = r.nextLong(7L) - 3
        for (i <- 0 to 8; j <- 0 to 8) {
          val px = b.lonMin + (b.lonMax - b.lonMin) * i / 8 + fx
          val py = b.latMin + (b.latMax - b.latMin) * j / 8 + fy
          val mine = Raycast.contains(px, py, poly)
          val theirs = prep.covers(Jts.factory.createPoint(new Coordinate(px.toDouble, py.toDouble)))
          assert(mine == theirs, s"disagree at ($px,$py) poly=${poly.bbox}")
        }
      }
    }
  }

  test("boundary rule: on-edge and on-vertex points are inside") {
    val sq = PolyM(Array(RingM(Array(0L, 1000L, 1000L, 0L), Array(0L, 0L, 1000L, 1000L))))
    assert(Raycast.classify(0, 0, sq) == 2)        // vertex
    assert(Raycast.classify(500, 0, sq) == 2)      // bottom edge
    assert(Raycast.classify(1000, 500, sq) == 2)   // right edge
    assert(Raycast.classify(500, 500, sq) == 1)    // interior
    assert(Raycast.classify(1001, 500, sq) == 0)   // outside
    assert(Raycast.classify(-1, 0, sq) == 0)
  }

  test("shared edge: point on the common edge is inside BOTH (documented)") {
    val left = PolyM(Array(RingM(Array(0L, 500L, 500L, 0L), Array(0L, 0L, 1000L, 1000L))))
    val right = PolyM(Array(RingM(Array(500L, 1000L, 1000L, 500L), Array(0L, 0L, 1000L, 1000L))))
    assert(Raycast.contains(500, 500, left) && Raycast.contains(500, 500, right))
  }

  test("hole: inside hole is outside, on hole boundary is inside") {
    val withHole = PolyM(Array(
      RingM(Array(0L, 1000L, 1000L, 0L), Array(0L, 0L, 1000L, 1000L)),
      RingM(Array(400L, 600L, 600L, 400L), Array(400L, 400L, 600L, 600L))))
    assert(Raycast.classify(500, 500, withHole) == 0)
    assert(Raycast.classify(400, 500, withHole) == 2)
    assert(Raycast.classify(200, 200, withHole) == 1)
  }
}

/** Raycast.classifyEdges walks a flat edge list around the edge test it
  * shares with classify. Over a polygon's whole edge list, and over the
  * clipped list of the cover cell a point falls in, it must agree with
  * classify on every point, boundary cases above all.
  */
class RaycastEdgesSpec extends AnyFunSuite {
  private def assertParity(poly: PolyM, pts: Iterator[(Long, Long)]): Int = {
    val all = TestPolys.edges(poly)
    val cover = PolyCover.cover(poly)
    val z = cover.head.level
    val byCell = cover.map(c => c.morton -> c).toMap
    var n = 0
    pts.foreach { case (x, y) =>
      val want = Raycast.classify(x, y, poly)
      assert(Raycast.classifyEdges(x, y, all) == want, s"disagree at ($x,$y) poly=${poly.bbox}")
      byCell.get(ZGrid.cellAt(z, x, y)) match {
        case Some(c) if !c.full =>
          assert(Raycast.classifyEdges(x, y, c.edges) == want, s"cell list disagrees at ($x,$y)")
        case Some(_) => assert(want == 1, s"($x,$y) in a FULL cell is not inside")
        case None => assert(want == 0, s"($x,$y) is in no cover cell")
      }
      n += 1
    }
    n
  }

  /** Each vertex, its four 1-µdeg neighbours, and each edge midpoint. */
  private def boundaryPoints(poly: PolyM): Iterator[(Long, Long)] =
    poly.rings.iterator.flatMap { r =>
      r.xs.indices.iterator.flatMap { i =>
        val (x, y) = (r.xs(i), r.ys(i))
        val j = (i + 1) % r.xs.length
        Iterator((x, y), (x + 1, y), (x - 1, y), (x, y + 1), (x, y - 1),
          ((x + r.xs(j)) / 2, (y + r.ys(j)) / 2))
      }
    }

  test("classifyEdges == classify on seeded multi-shell polygons with holes") {
    val seen = Array(0, 0, 0)
    Det.forAll(200, 11) { r =>
      val cx = r.nextLong(320000001L) - 160000000L
      val cy = r.nextLong(140000001L) - 70000000L
      val rad = 20000L + r.nextLong(2000000L)
      // 1–3 shells side by side, each with or without a hole
      val shells = (0 until 1 + r.nextInt(3)).map { k =>
        TestPolys.irregular(cx + k * 3 * rad, cy, rad, 3 + r.nextInt(20),
          r.nextLong(), hole = r.nextBoolean())
      }
      val poly = PolyM(shells.flatMap(_.rings).toArray)
      val b = poly.bbox
      val inBox = Iterator.fill(200)((
        b.lonMin + r.nextLong(b.lonMax - b.lonMin + 1),
        b.latMin + r.nextLong(b.latMax - b.latMin + 1)))
      assertParity(poly, boundaryPoints(poly) ++ inBox)
      (boundaryPoints(poly) ++ Iterator((b.lonMin, b.latMin), (cx, cy)))
        .foreach { case (x, y) => seen(Raycast.classify(x, y, poly)) += 1 }
    }
    // the sample must reach every class: outside, inside and on-edge
    assert(seen.forall(_ > 0), seen.mkString(","))
  }

  test("classifyEdges == classify on the square and hole fixtures") {
    val sq = PolyM(Array(RingM(Array(0L, 1000L, 1000L, 0L), Array(0L, 0L, 1000L, 1000L))))
    val withHole = PolyM(Array(
      RingM(Array(0L, 1000L, 1000L, 0L), Array(0L, 0L, 1000L, 1000L)),
      RingM(Array(400L, 600L, 600L, 400L), Array(400L, 400L, 600L, 600L))))
    // every pairing of the edge coordinates, their ±1 neighbours and
    // interior/exterior values
    val ticks = Seq(-1L, 0L, 1L, 200L, 399L, 400L, 401L, 500L, 599L, 600L,
      601L, 999L, 1000L, 1001L)
    for (poly <- Seq(sq, withHole)) {
      val grid = for (x <- ticks.iterator; y <- ticks.iterator) yield (x, y)
      assertParity(poly, boundaryPoints(poly) ++ grid)
    }
    val e = TestPolys.edges(withHole)
    assert(Raycast.classifyEdges(500, 500, e) == 0)
    assert(Raycast.classifyEdges(400, 500, e) == 2)
    assert(Raycast.classifyEdges(200, 200, e) == 1)
    assert(Raycast.classifyEdges(0, 0, TestPolys.edges(sq)) == 2)
  }
}

class PolyCoverSpec extends AnyFunSuite {
  /** The JTS classifier the integer cover replaced, kept as the reference:
    * each cell's closed cellBBox, lifted to doubles, is FULL if the
    * prepared polygon covers it and PARTIAL if it intersects it.
    */
  private def jtsCover(poly: PolyM, z: Int): Map[Long, Boolean] = {
    val prep = Jts.prepare(Jts.toJtsEvenOdd(poly))
    ZGrid.bboxCells(z, poly.bbox).flatMap { case (x, y) =>
      val cb = Jts.bboxToJts(ZGrid.cellBBox(z, x, y))
      if (prep.covers(cb)) Some(Morton.encode(x, y) -> true)
      else if (prep.intersects(cb)) Some(Morton.encode(x, y) -> false)
      else None
    }.toMap
  }

  /** A cap from lat ±90e6 down to a wiggly edge, over lon [-w, w]. */
  private def polarCap(w: Long, depth: Long, north: Boolean, n: Int, seed: Long): PolyM = {
    val r = new Random(seed)
    val pole = if (north) 90000000L else -90000000L
    val sign = if (north) -1L else 1L
    // top edge west → east, then the wiggly edge back east → west
    val xs = Array(-w, w) ++ (0 to n).map(i => w - 2 * w * i / n)
    val ys = Array(pole, pole) ++ (0 to n).map(_ => pole + sign * (depth / 2 + r.nextLong(depth / 2)))
    PolyM(Array(RingM(xs, ys)))
  }

  /** Seeded single rings, holed rings, multi-shell sets, both halves of
    * seam-crossing polygons, and polar caps reaching lat ±90e6 (one of
    * them spanning the whole antimeridian-to-antimeridian width).
    */
  private lazy val fixtures: Seq[(String, PolyM)] = {
    val r = new Random(21)
    def centre() = (r.nextLong(320000001L) - 160000000L, r.nextLong(140000001L) - 70000000L)
    val rings = (0 until 30).map { k =>
      val (cx, cy) = centre()
      s"ring $k" -> TestPolys.irregular(cx, cy, 50000L + r.nextLong(9950000L), 3 + r.nextInt(40), r.nextLong())
    }
    val holed = (0 until 15).map { k =>
      val (cx, cy) = centre()
      s"holed $k" -> TestPolys.irregular(cx, cy, 50000L + r.nextLong(9950000L), 3 + r.nextInt(40),
        r.nextLong(), hole = true)
    }
    val multi = (0 until 15).map { k =>
      val (cx, cy) = centre()
      val rad = 20000L + r.nextLong(2000000L)
      s"multi $k" -> PolyM((0 until 2 + r.nextInt(2)).flatMap { i =>
        TestPolys.irregular(cx + i * 3 * rad, cy, rad, 3 + r.nextInt(20), r.nextLong(),
          hole = r.nextBoolean()).rings
      }.toArray)
    }
    val seam = (0 until 6).flatMap { k =>
      val poly = graft.fixtures.Fixtures.irregular(180000000L, r.nextLong(120000001L) - 60000000L,
        1000000L + r.nextLong(5000000L), 14, r.nextLong())
      Jts.splitAtSeam(Jts.toJtsEvenOdd(poly)).map(Jts.fromJtsAny).zipWithIndex
        .map { case (h, i) => s"seam $k half $i" -> h }
    }
    val caps = Seq(
      "north cap" -> polarCap(30000000L, 10000000L, north = true, 12, 1),
      "south cap" -> polarCap(5000000L, 3000000L, north = false, 7, 2),
      "world cap" -> polarCap(180000000L, 20000000L, north = true, 40, 3))
    rings ++ holed ++ multi ++ seam ++ caps
  }

  test("integer cover == JTS reference cells on seeded fixtures, FULL ⊆ reference FULL") {
    var fulls = 0
    for ((name, poly) <- fixtures; dz <- 0 to 1) {
      val z = PolyCover.cover(poly).head.level + dz
      val got = PolyCover.coverAt(poly, z).map(c => c.morton -> c.full).toMap
      val want = jtsCover(poly, z)
      assert(got.keySet == want.keySet, s"$name at z=$z: cell sets differ")
      assert(got.forall { case (m, full) => !full || want(m) }, s"$name at z=$z: FULL ⊄ reference FULL")
      fulls += got.count(_._2)
    }
    assert(fulls > 0, "fixtures must produce FULL cells")
  }

  test("a rectangle on cell lines: the cells on its west and south edges turn PARTIAL, none vanish") {
    val z = 8
    val (x0, y0, x1, y1) = (100L, 150L, 106L, 154L)
    val rect = PolyM(Array(RingM(
      Array(ZGrid.cellLon(z, x0), ZGrid.cellLon(z, x1), ZGrid.cellLon(z, x1), ZGrid.cellLon(z, x0)),
      Array(ZGrid.cellLat(z, y0), ZGrid.cellLat(z, y0), ZGrid.cellLat(z, y1), ZGrid.cellLat(z, y1)))))
    val got = PolyCover.coverAt(rect, z).map(c => (Morton.decodeX(c.morton), Morton.decodeY(c.morton)) -> c.full).toMap
    val want = jtsCover(rect, z).map { case (m, f) => (Morton.decodeX(m), Morton.decodeY(m)) -> f }
    assert(got.keySet == want.keySet)
    for (((x, y), full) <- got) {
      val edgeCell = x == x0 || y == y0 || x == x1 || y == y1
      assert(full == !edgeCell, s"cell ($x,$y)")
      if (x == x0 || y == y0) assert(want((x, y)) || x == x1 || y == y1, s"reference FULL at ($x,$y)")
    }
    assert(got.count(_._2) == (x1 - x0 - 1) * (y1 - y0 - 1))
    assert(want.count(_._2) == (x1 - x0) * (y1 - y0))
  }

  test("each PARTIAL cell's edge list classifies every probe in the cell like the whole polygon") {
    val seen = Array(0, 0, 0)
    val r = new Random(23)
    for ((name, poly) <- fixtures) {
      val cells = PolyCover.cover(poly)
      val z = cells.head.level
      val byCell = cells.map(c => c.morton -> c).toMap
      // every vertex, its ±1 µdeg neighbours and every edge midpoint
      val polyProbes = poly.rings.toSeq.flatMap { ring =>
        ring.xs.indices.flatMap { i =>
          val (x, y) = (ring.xs(i), ring.ys(i))
          val j = (i + 1) % ring.xs.length
          Seq((x, y), (x + 1, y), (x - 1, y), (x, y + 1), (x, y - 1),
            ((x + ring.xs(j)) / 2, (y + ring.ys(j)) / 2))
        }
      }
      for ((px, py) <- polyProbes) {
        val c = Raycast.classify(px, py, poly)
        byCell.get(ZGrid.cellAt(z, px, py)) match {
          case None => assert(c == 0, s"$name: ($px,$py) inside but in no cell")
          case Some(cell) if cell.full => assert(c == 1, s"$name: ($px,$py) in a FULL cell")
          case _ =>
        }
      }
      val probesByCell = polyProbes.groupBy { case (x, y) => ZGrid.cellAt(z, x, y) }
      for (cell <- cells if !cell.full) {
        val (cx, cy) = (Morton.decodeX(cell.morton), Morton.decodeY(cell.morton))
        val bb = ZGrid.cellBBox(z, cx, cy)
        // the four corners, the points 1 µdeg past the north and east
        // edges (the cell's own at the world edge), and seeded interior points
        val corners = for (x <- Seq(bb.lonMin, bb.lonMax, bb.lonMax + 1);
                           y <- Seq(bb.latMin, bb.latMax, bb.latMax + 1)) yield (x, y)
        val inner = Seq.fill(20)((bb.lonMin + r.nextLong(bb.lonMax - bb.lonMin + 1),
          bb.latMin + r.nextLong(bb.latMax - bb.latMin + 1)))
        val probes = (probesByCell.getOrElse(cell.morton, Nil) ++ corners ++ inner)
          .filter { case (x, y) => ZGrid.cellAt(z, x, y) == cell.morton }
        for ((px, py) <- probes) {
          val want = Raycast.classify(px, py, poly)
          assert(Raycast.classifyEdges(px, py, cell.edges) == want, s"$name: cell ($cx,$cy) at ($px,$py)")
          seen(want) += 1
        }
      }
    }
    assert(seen.forall(_ > 0), seen.mkString(","))
  }

  test("cover ⊇ polygon: every raycast-inside point falls in a cover cell") {
    Det.forAll(60, 9) { r =>
      val poly = TestPolys.irregular(
        r.nextLong(320000001L) - 160000000L, r.nextLong(140000001L) - 70000000L,
        50000L + r.nextLong(19950000L), 12, r.nextLong(10000L))
      if (Jts.polyToJts(poly).isValid) {
        val cells = PolyCover.cover(poly)
        assert(cells.nonEmpty)
        val z = cells.head.level
        val cellSet = cells.map(_.morton).toSet
        val b = poly.bbox
        for (i <- 0 to 10; j <- 0 to 10) {
          val px = b.lonMin + (b.lonMax - b.lonMin) * i / 10
          val py = b.latMin + (b.latMax - b.latMin) * j / 10
          if (Raycast.contains(px, py, poly))
            assert(cellSet.contains(ZGrid.cellAt(z, px, py)), s"point ($px,$py) inside but not covered")
        }
      }
    }
  }

  test("FULL cells: every point inside a full cell is raycast-inside") {
    val poly = TestPolys.irregular(0, 0, 10000000L, 16, 7)
    val cells = PolyCover.cover(poly)
    val fulls = cells.filter(_.full)
    assert(fulls.nonEmpty, "fixture should produce at least one FULL cell")
    fulls.foreach { c =>
      val bb = ZGrid.cellBBox(c.level, Morton.decodeX(c.morton), Morton.decodeY(c.morton))
      val pts = Seq(
        (bb.lonMin, bb.latMin), (bb.lonMax, bb.latMax),
        ((bb.lonMin + bb.lonMax) / 2, (bb.latMin + bb.latMax) / 2))
      pts.foreach { case (px, py) => assert(Raycast.contains(px, py, poly)) }
    }
  }

  test("coverRanges collapse contiguous runs and preserve coverage") {
    val poly = TestPolys.irregular(0, 0, 5000000L, 16, 3)
    val z = 12
    val cells = PolyCover.coverAt(poly, z).map(_.morton).toSet
    val ranges = PolyCover.coverRanges(poly, z)
    val fromRanges = ranges.flatMap { case (lo, hi, _) => lo to hi }.toSet
    assert(fromRanges == cells)
    assert(ranges.length <= cells.size)
  }
}
