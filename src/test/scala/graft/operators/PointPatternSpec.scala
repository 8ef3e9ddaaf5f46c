package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ripleyK vs a brute all-pairs reference plus hand cases: exact ≤ at the
  * radius, coincident distinct-id points, zero-filled empty radii, and
  * cross-cell pairs (the ring join must see neighbors in adjacent cells).
  */
class PointPatternSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  private def run(pts: Seq[(Long, Long, Long)], radii: Seq[Long])
      : Map[Long, (Long, Long)] =
    PointPattern.ripleyK(pts.toDF("id", "lon", "lat"), col("id"), col("lon"),
        col("lat"), radii)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  private def brute(pts: Seq[(Long, Long, Long)], radii: Seq[Long])
      : Map[Long, (Long, Long)] = {
    val n = pts.size.toLong
    radii.map { r =>
      val cnt = (for {
        a <- pts; b <- pts
        if a._1 != b._1
        dx = a._2 - b._2; dy = a._3 - b._3
        if dx * dx + dy * dy <= r * r
      } yield 1L).sum
      r -> ((cnt, n))
    }.toMap
  }

  test("ripleyK: hand case — cumulative counts, exact <= at the radius, zero-fill") {
    // collinear points at gaps 600k / 900k (AC = 1.5e6 = exactly r3)
    val pts = Seq((1L, 0L, 0L), (2L, 600000L, 0L), (3L, 1500000L, 0L))
    val got = run(pts, Seq(500000L, 1000000L, 1500000L, 4000000L))
    assert(got === Map(500000L -> ((0L, 3L)), 1000000L -> ((4L, 3L)),
      1500000L -> ((6L, 3L)), 4000000L -> ((6L, 3L))))
    // coincident points with distinct ids are a pair at every radius
    val coin = Seq((1L, 5000000L, 5000000L), (2L, 5000000L, 5000000L))
    assert(run(coin, Seq(1L, 1000000L)) ===
      Map(1L -> ((2L, 2L)), 1000000L -> ((2L, 2L))))
  }

  test("ripleyK: brute parity on a clustered scatter; clustering exceeds CSR slope") {
    val rnd = new scala.util.Random(23)
    val centers = (0 until 6).map { _ =>
      (rnd.nextLong(40000000L) - 20000000L, rnd.nextLong(30000000L) - 15000000L)
    }
    val pts = centers.zipWithIndex.flatMap { case ((cx, cy), ci) =>
      (0 until 60).map { i =>
        (ci * 60L + i, cx + rnd.nextLong(3000000L) - 1500000L,
          cy + rnd.nextLong(3000000L) - 1500000L)
      }
    }
    val radii = Seq(400000L, 800000L, 1600000L, 3200000L)
    val got = run(pts, radii)
    assert(got === brute(pts, radii))
    // every radius sees pairs and counts are strictly cumulative here
    assert(radii.map(got(_)._1).sliding(2).forall(w => w(0) < w(1)))
  }

  private def runCross(as: Seq[(Long, Long)], bs: Seq[(Long, Long)],
                       radii: Seq[Long]): Map[Long, (Long, Long, Long)] =
    PointPattern.crossK(as.toDF("lon", "lat"), col("lon"), col("lat"),
        bs.toDF("lon", "lat"), col("lon"), col("lat"), radii)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  private def bruteCross(as: Seq[(Long, Long)], bs: Seq[(Long, Long)],
                         radii: Seq[Long]): Map[Long, (Long, Long, Long)] =
    radii.map { r =>
      val cnt = (for {
        a <- as; b <- bs
        dx = a._1 - b._1; dy = a._2 - b._2
        if dx * dx + dy * dy <= r * r
      } yield 1L).sum
      r -> ((cnt, as.size.toLong, bs.size.toLong))
    }.toMap

  test("crossK: hand case — coincident cross pairs count; asymmetric classes") {
    // 2 A-points on a B-point, 1 A far: r1 sees the 2 coincident pairs only
    val as = Seq((5000000L, 5000000L), (5000000L, 5000000L), (8000000L, 5000000L))
    val bs = Seq((5000000L, 5000000L), (5300000L, 5000000L))
    val got = runCross(as, bs, Seq(100000L, 500000L, 4000000L))
    assert(got === Map(100000L -> ((2L, 3L, 2L)), 500000L -> ((4L, 3L, 2L)),
      4000000L -> ((6L, 3L, 2L))))
    assert(got === bruteCross(as, bs, Seq(100000L, 500000L, 4000000L)))
  }

  test("crossK: brute parity — A clustered AROUND B sites, not within itself") {
    val rnd = new scala.util.Random(29)
    val bs = (0 until 8).map { _ =>
      (rnd.nextLong(40000000L) - 20000000L, rnd.nextLong(30000000L) - 15000000L)
    }
    val as = bs.flatMap { case (bx, by) =>
      (0 until 25).map { _ =>
        (bx + rnd.nextLong(2400001L) - 1200000L, by + rnd.nextLong(2400001L) - 1200000L)
      }
    }
    val radii = Seq(300000L, 600000L, 1200000L, 2400000L)
    val got = runCross(as, bs, radii)
    assert(got === bruteCross(as, bs, radii))
    assert(radii.map(got(_)._1).sliding(2).forall(w => w(0) < w(1)))
  }

  private def runPart(pts: Seq[(Long, Long, Long, Long)], r: Long)
      : Map[(Long, Long), (Long, Long)] =
    PointPattern.participationCounts(pts.toDF("id", "cat", "lon", "lat"),
        col("id"), col("cat"), col("lon"), col("lat"), r)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        ((x.getLong(2), x.getLong(3)))).toMap

  private def brutePart(pts: Seq[(Long, Long, Long, Long)], r: Long)
      : Map[(Long, Long), (Long, Long)] = {
    val cats = pts.map(_._2).distinct
    (for (ca <- cats; cb <- cats) yield {
      val as = pts.filter(_._2 == ca)
      val nWith = as.count(a => pts.exists(b => b._2 == cb && b._1 != a._1 && {
        val dx = a._3 - b._3; val dy = a._4 - b._4
        dx * dx + dy * dy <= r * r
      }))
      (ca, cb) -> ((nWith.toLong, as.size.toLong))
    }).toMap
  }

  test("participationCounts: witnesses dedup, self-id excluded, zero rows kept") {
    // cat 0: two features at P and far Q; cat 1: TWO features near P
    // (multiple witnesses must count the P-feature ONCE)
    val pts = Seq((1L, 0L, 5000000L, 5000000L), (2L, 0L, 60000000L, 5000000L),
      (3L, 1L, 5000100L, 5000000L), (4L, 1L, 5000000L, 5000200L),
      // cat 2: a lone feature — (2,2) must read 0 of 1, not vanish
      (5L, 2L, -80000000L, 0L))
    val got = runPart(pts, 500000L)
    assert(got === brutePart(pts, 500000L))
    assert(got((0L, 1L)) === ((1L, 2L))) // only the P-feature participates
    assert(got((1L, 0L)) === ((2L, 2L)))
    assert(got((0L, 0L)) === ((0L, 2L))) // same-cat needs a DIFFERENT feature
    assert(got((1L, 1L)) === ((2L, 2L)))
    assert(got((2L, 2L)) === ((0L, 1L)) && got((2L, 0L)) === ((0L, 1L)))
    assert(got.size === 9)
  }

  test("participationCounts: brute parity on mixed-category hub clusters") {
    val rnd = new scala.util.Random(89)
    val pts = (0L until 300L).map { i =>
      val hub = (i % 7).toInt
      (i, i % 4,
        hub * 20000000L - 60000000L + rnd.nextLong(800001L) - 400000L,
        hub * 15000000L - 45000000L + rnd.nextLong(800001L) - 400000L)
    }
    for (r <- Seq(200000L, 500000L))
      assert(runPart(pts, r) === brutePart(pts, r), s"r=$r")
  }

  // ---- colocationQuotient ------------------------------------------------

  private def bruteClq(pts: Seq[(Long, Long, Long, Long)])
      : Map[(Long, Long), (Long, Long, Long, Long)] = {
    val nTotal = pts.size.toLong
    val catN = pts.groupBy(_._2).map { case (c, v) => c -> v.size.toLong }
    val counts = scala.collection.mutable.Map[(Long, Long), Long]()
      .withDefaultValue(0L)
    pts.foreach { a =>
      val nn = pts.filter(_._1 != a._1).minBy { b =>
        ((a._3 - b._3) * (a._3 - b._3) + (a._4 - b._4) * (a._4 - b._4), b._1)
      }
      counts((a._2, nn._2)) += 1L
    }
    (for (ca <- catN.keys; cb <- catN.keys)
      yield (ca, cb) -> ((counts((ca, cb)), catN(ca), catN(cb), nTotal))).toMap
  }

  private def runClq(pts: Seq[(Long, Long, Long, Long)], level: Int)
      : Map[(Long, Long), (Long, Long, Long, Long)] =
    PointPattern.colocationQuotient(pts.toDF("id", "cat", "x", "y"),
        col("id"), col("cat"), col("x"), col("y"), level)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap

  test("clq hand case: paired A-B stations vote for each other, zerofilled diagonal") {
    // three A points each right next to a B point, pairs far apart:
    // every A's NN is its B and vice versa -> C(A->B) = C(B->A) = 3
    val pts = Seq(
      (1L, 0L, 0L, 0L), (2L, 1L, 100L, 0L),
      (3L, 0L, 10000000L, 0L), (4L, 1L, 10000100L, 0L),
      (5L, 0L, 0L, 10000000L), (6L, 1L, 100L, 10000000L))
    val got = runClq(pts, level = 6)
    assert(got === Map(
      (0L, 0L) -> ((0L, 3L, 3L, 6L)), (0L, 1L) -> ((3L, 3L, 3L, 6L)),
      (1L, 0L) -> ((3L, 3L, 3L, 6L)), (1L, 1L) -> ((0L, 3L, 3L, 6L))))
    assert(got === bruteClq(pts))
  }

  test("clq: brute parity on random categorized points across levels") {
    val rnd = new scala.util.Random(404)
    val pts = (1L to 300L).map(i => (i, rnd.nextLong(4L),
      rnd.nextLong(20000000L) - 10000000L, rnd.nextLong(20000000L) - 10000000L))
    for (level <- Seq(4, 6, 8))
      assert(runClq(pts, level) === bruteClq(pts), s"level=$level")
  }

  test("clq: coincident points resolve the NN by id, self always excluded") {
    val pts = Seq((1L, 0L, 500L, 500L), (2L, 1L, 500L, 500L),
      (3L, 1L, 500L, 500L))
    val got = runClq(pts, level = 8)
    // 1's NN is 2 (d2=0, min id among others); 2's NN is 1? ids 1 and 3 at
    // d2=0 -> id 1 wins; 3's NN -> id 1
    assert(got((0L, 1L)) === ((1L, 1L, 2L, 3L)))
    assert(got((1L, 0L)) === ((2L, 2L, 1L, 3L)))
    assert(got === bruteClq(pts))
  }

  // ---- ellipseComponents -------------------------------------------------

  test("ellipse components: hand values, shift invariance, corridor anisotropy") {
    import spark.implicits._
    // group 1: a diagonal corridor — strong positive cross term;
    // group 2: an axis-aligned square — zero cross term
    val pts = Seq(
      (1L, 0L, 0L), (1L, 100L, 100L), (1L, 200L, 200L), (1L, 300L, 300L),
      (2L, 0L, 0L), (2L, 100L, 0L), (2L, 0L, 100L), (2L, 100L, 100L))
    def run(ps: Seq[(Long, Long, Long)]) =
      PointPattern.ellipseComponents(ps.toDF("lbl", "x", "y"),
          col("lbl"), col("x"), col("y"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val got = run(pts)
    // group 1 anchored at (0,0): sums 600, 600; squares 140000 each; cross 140000
    assert(got(1L) === ((4L, 600L, 600L, 140000L, 140000L, 140000L)))
    // group 2: sums 200, 200; squares 20000; CROSS 10000 (square, isotropic:
    // dxy = 0*0+100*0+0*100+100*100)
    assert(got(2L) === ((4L, 200L, 200L, 20000L, 20000L, 10000L)))
    // central moments: corridor Sxy = sum_dxy - sum_dx*sum_dy/n =
    // 140000 - 600*600/4 = 50000 > 0; square: 10000 - 200*200/4 = 0
    assert(140000L - 600L * 600L / 4L === 50000L)
    assert(10000L - 200L * 200L / 4L === 0L)
    // shift invariance
    val got2 = run(pts.map { case (l, x, y) => (l, x + 70000L, y - 30000L) })
    assert(got2 === got)
  }

  // ---- clarkEvans / quadratCounts ----------------------------------------

  test("clarkEvans: components match brute NN with the floor-sqrt chain") {
    import spark.implicits._
    val rnd = new scala.util.Random(515)
    val pts = (1L to 250L).map(i => (i, rnd.nextLong(3L),
      rnd.nextLong(20000000L) - 10000000L, rnd.nextLong(20000000L) - 10000000L))
    val brute = pts.map { a =>
      val nn = pts.filter(_._1 != a._1).minBy(b =>
        ((a._3 - b._3) * (a._3 - b._3) + (a._4 - b._4) * (a._4 - b._4), b._1))
      val d2 = (a._3 - nn._3) * (a._3 - nn._3) + (a._4 - nn._4) * (a._4 - nn._4)
      (a._2, math.floor(math.sqrt(d2.toDouble)).toLong)
    }.groupBy(_._1).map { case (c, v) =>
      c -> ((v.size.toLong, v.map(_._2).sum, v.map(_._2).min, v.map(_._2).max))
    }
    val got = PointPattern.clarkEvans(pts.toDF("id", "cat", "x", "y"),
        col("id"), col("cat"), col("x"), col("y"), level = 6)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === brute)
  }

  test("quadratCounts: frame includes empty quadrats by arithmetic; poles pinned") {
    import spark.implicits._
    val g = 1000000L
    def at(qx: Long, qy: Long) = (qx * g - 180000000L + 5L, qy * g - 90000000L + 5L)
    // 3 points in one quadrat + 1 far away: frame = (dx+1)*(dy+1) quadrats,
    // occupied 2, sum_n2 = 9 + 1
    val pts = Seq(at(10, 10), at(10, 10), at(10, 10), at(14, 12))
    val got = PointPattern.quadratCounts(pts.toDF("x", "y"),
        col("x"), col("y"), g)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((15L, 2L, 4L, 10L)))
    // uniform lattice: every quadrat exactly 1 -> sum_n2 = n, VMR numerator 0
    val lat = for (qx <- 0L until 5L; qy <- 0L until 4L) yield at(20 + qx, 20 + qy)
    val got2 = PointPattern.quadratCounts(lat.toDF("x", "y"),
        col("x"), col("y"), g)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got2.toSeq === Seq((20L, 20L, 20L, 20L)))
  }

  test("quadratCounts: an empty pattern gives one all-zero row, long columns") {
    import spark.implicits._
    val empty = PointPattern.quadratCounts(Seq.empty[(Long, Long)].toDF("x", "y"),
      col("x"), col("y"), 1000000L)
    val one = PointPattern.quadratCounts(Seq((5L, 5L)).toDF("x", "y"),
      col("x"), col("y"), 1000000L)
    assert(empty.schema.map(f => (f.name, f.dataType)) ===
      one.schema.map(f => (f.name, f.dataType)))
    assert(empty.schema.forall(_.dataType == org.apache.spark.sql.types.LongType))
    assert(empty.collect().map(r => (0 until 4).map(r.getLong)).toSeq ===
      Seq(Seq(0L, 0L, 0L, 0L)))
  }
}
