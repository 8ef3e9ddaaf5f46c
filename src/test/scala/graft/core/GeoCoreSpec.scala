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

/** Raycast.classifyBytes reads the PolyBytes wire form in place — its own
  * walk over rings and byte offsets around the edge test it shares with
  * classify, so it must agree with classify on every point, boundary cases
  * above all.
  */
class RaycastBytesSpec extends AnyFunSuite {
  private def assertParity(poly: PolyM, pts: Iterator[(Long, Long)]): Int = {
    val bytes = PolyBytes.toBytes(poly)
    var n = 0
    pts.foreach { case (x, y) =>
      assert(Raycast.classifyBytes(x, y, bytes) == Raycast.classify(x, y, poly),
        s"disagree at ($x,$y) poly=${poly.bbox}")
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

  test("classifyBytes == classify on seeded multi-shell polygons with holes") {
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

  test("classifyBytes == classify on the square and hole fixtures") {
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
    val b = PolyBytes.toBytes(withHole)
    assert(Raycast.classifyBytes(500, 500, b) == 0)
    assert(Raycast.classifyBytes(400, 500, b) == 2)
    assert(Raycast.classifyBytes(200, 200, b) == 1)
    assert(Raycast.classifyBytes(0, 0, PolyBytes.toBytes(sq)) == 2)
  }
}

class PolyCoverSpec extends AnyFunSuite {
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
