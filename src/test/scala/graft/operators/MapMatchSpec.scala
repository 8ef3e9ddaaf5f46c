package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** snapToSegments vs a brute-force all-pairs reference using the SAME fixed
  * IEEE chain (the contract is argmin over quantized distances, so the
  * reference must quantize identically), plus hand cases for every kernel
  * branch: interior projection, endpoint clamp, degenerate zero-length
  * segment, deterministic tie-break, and the radius cut.
  */
class MapMatchSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  /** Brute reference: same chain as the operator, all pairs, argmin. */
  private def brute(pts: Seq[(Long, Long, Long)],
                    segs: Seq[(Long, Long, Long, Long, Long)],
                    r: Long): Map[Long, (Long, Long, Long, Long)] =
    pts.flatMap { case (qid, px, py) =>
      val cands = segs.flatMap { case (sid, x1, y1, x2, y2) =>
        val wx = (px - x1).toDouble; val wy = (py - y1).toDouble
        val dx = (x2 - x1).toDouble; val dy = (y2 - y1).toDouble
        val len2 = dx * dx + dy * dy
        val t = if (len2 == 0.0) 0.0
                else math.min(math.max((wx * dx + wy * dy) / len2, 0.0), 1.0)
        val ex = wx - t * dx; val ey = wy - t * dy
        val d2q = math.floor(ex * ex + ey * ey).toLong
        if (d2q <= r * r)
          Some((d2q, sid, math.floor(x1 + t * dx).toLong, math.floor(y1 + t * dy).toLong))
        else None
      }
      if (cands.isEmpty) None
      else {
        val b = cands.min
        Some(qid -> (b._2, b._1, b._3, b._4))
      }
    }.toMap

  private def run(pts: Seq[(Long, Long, Long)],
                  segs: Seq[(Long, Long, Long, Long, Long)],
                  r: Long, level: Int): Map[Long, (Long, Long, Long, Long)] =
    MapMatch.snapToSegments(spark,
        pts.toDF("qid", "lon", "lat"), col("qid"), col("lon"), col("lat"),
        segs.toDF("sid", "x1", "y1", "x2", "y2"), col("sid"),
        col("x1"), col("y1"), col("x2"), col("y2"), r, level)
      .collect()
      .map(row => row.getLong(0) -> (row.getLong(1), row.getLong(2),
        row.getLong(3), row.getLong(4)))
      .toMap

  test("hand cases: interior / endpoint / degenerate / tie-break / radius cut") {
    val segs = Seq(
      (1L, 0L, 0L, 1000L, 0L),         // horizontal
      (2L, 5000L, 5000L, 5000L, 5000L), // degenerate point-segment
      (3L, 0L, 2000L, 1000L, 2000L),    // ties with seg 4 for point 40
      (4L, 0L, 2400L, 1000L, 2400L))
    val pts = Seq(
      (10L, 500L, 300L),   // interior projection onto seg 1: d=300, snap (500,0)
      (20L, 1400L, 300L),  // past the end of seg 1: clamp to (1000,0), d²=500²
      (30L, 5100L, 5000L), // nearest is the degenerate seg 2, d=100
      (40L, 500L, 2200L),  // equidistant (200) from segs 3 and 4 → lower sid 3
      (50L, 90000L, 90000L)) // nothing within radius
    val got = run(pts, segs, r = 1000L, level = 10)
    assert(got(10L) === ((1L, 90000L, 500L, 0L)))
    assert(got(20L) === ((1L, 250000L, 1000L, 0L)))
    assert(got(30L) === ((2L, 10000L, 5000L, 5000L)))
    assert(got(40L) === ((3L, 40000L, 500L, 2000L)))
    assert(!got.contains(50L))
  }

  test("brute-force parity on a deterministic scatter (incl. cell-boundary points)") {
    val rnd = new scala.util.Random(42)
    val pts = (0L until 400L).map(i =>
      (i, rnd.nextLong(40000000L) - 20000000L, rnd.nextLong(30000000L) - 15000000L)) ++
      // far shore: provably outside every segment's radius
      (400L until 410L).map(i => (i, 150000000L + i * 1000L, 70000000L))
    val segs = (0L until 600L).map { i =>
      val x = rnd.nextLong(40000000L) - 20000000L
      val y = rnd.nextLong(30000000L) - 15000000L
      (i, x, y, x + rnd.nextLong(2000000L) - 1000000L, y + rnd.nextLong(2000000L) - 1000000L)
    }
    val r = 2500000L
    val got = run(pts, segs, r, level = 7)
    val want = brute(pts, segs, r)
    assert(got === want)
    assert(want.nonEmpty, "fixture must produce matches")
    assert(pts.size > want.size, "fixture must leave some points unmatched")
  }

  test("snapped point lies on the segment and within radius") {
    val segs = Seq((7L, -1000L, -1000L, 3000L, 5000L))
    val got = run(Seq((1L, 2000L, 0L)), segs, r = 5000L, level = 10)
    val (sid, d2q, sx, sy) = got(1L)
    assert(sid === 7L && d2q <= 5000L * 5000L)
    // snap is within the segment bbox (floor-quantized)
    assert(sx >= -1000L && sx <= 3000L && sy >= -1000L && sy <= 5000L)
  }

  // ---- viterbiMatch ------------------------------------------------------

  /** Brute Viterbi reference: enumerate EVERY candidate path per chain
    * (exponential — small fixtures only), min by (cost, path lexicographic
    * on sids)? No — the operator's tie rule is structural (prefer stay,
    * then smallest sid at each argmin), so the reference checks the COST
    * invariant instead: the emitted path's cost equals the exhaustive
    * minimum, and per-fix candidates are honored.
    */
  private def bruteViterbiCost(fixes: Seq[(Long, Long, Long, Long, Long)],
                               segs: Seq[(Long, Long, Long, Long, Long)],
                               r: Long, lam: Long): Map[Long, Long] = {
    def candsOf(px: Long, py: Long): Seq[(Long, Long)] =
      segs.flatMap { case (sid, x1, y1, x2, y2) =>
        val wx = (px - x1).toDouble; val wy = (py - y1).toDouble
        val dx = (x2 - x1).toDouble; val dy = (y2 - y1).toDouble
        val len2 = dx * dx + dy * dy
        val t = if (len2 == 0.0) 0.0
                else math.min(math.max((wx * dx + wy * dy) / len2, 0.0), 1.0)
        val ex = wx - t * dx; val ey = wy - t * dy
        val d2q = math.floor(ex * ex + ey * ey).toLong
        if (d2q <= r * r) Some((sid, d2q)) else None
      }
    fixes.groupBy(_._1).map { case (ent, fs) =>
      val ordered = fs.sortBy(f => (f._2, f._3))
      // split into chains at no-candidate fixes
      val chains = scala.collection.mutable.ArrayBuffer[Seq[Seq[(Long, Long)]]]()
      var cur = scala.collection.mutable.ArrayBuffer[Seq[(Long, Long)]]()
      ordered.foreach { f =>
        val c = candsOf(f._4, f._5)
        if (c.isEmpty) { if (cur.nonEmpty) { chains += cur.toSeq; cur = cur.empty } }
        else cur += c
      }
      if (cur.nonEmpty) chains += cur.toSeq
      def chainMin(chain: Seq[Seq[(Long, Long)]]): Long = {
        def rec(k: Int, prevSid: Long): Long =
          if (k == chain.length) 0L
          else chain(k).map { case (sid, d2) =>
            val sw = if (prevSid >= 0 && sid != prevSid) lam else 0L
            d2 + sw + rec(k + 1, sid)
          }.min
        rec(0, -1L)
      }
      ent -> chains.map(chainMin).sum
    }
  }

  private def runViterbi(fixes: Seq[(Long, Long, Long, Long, Long)],
                         segs: Seq[(Long, Long, Long, Long, Long)],
                         r: Long, level: Int, lam: Long) =
    MapMatch.viterbiMatch(spark, fixes.toDF("ent", "tus", "oid", "x", "y"),
      col("ent"), col("tus"), col("oid"), col("x"), col("y"),
      segs.toDF("sid", "x1", "y1", "x2", "y2"),
      col("sid"), col("x1"), col("y1"), col("x2"), col("y2"),
      radiusMicro = r, level = level, switchPenalty = lam)
      .collect().map(row => (row.getLong(0), row.getLong(1), row.getLong(2),
        row.getLong(3), row.getLong(4), row.getLong(5)))

  test("viterbi: sticky matching — nearest ping-pongs, the penalty holds the road") {
    // two parallel horizontal roads at y = -100 and y = +100; fixes wobble
    // between y = -60 and +60: nearest-snap alternates roads every fix,
    // viterbi with lam >> d2 gap stays on ONE road
    val segs = Seq((1L, 0L, -100L, 10000L, -100L), (2L, 0L, 100L, 10000L, 100L))
    val fixes = (0 until 6).map(i =>
      (7L, i.toLong, 100L + i, i * 1000L, if (i % 2 == 0) -60L else 60L))
    val got = runViterbi(fixes, segs, r = 1000L, level = 12, lam = 1000000L)
    assert(got.map(_._4).toSet.size === 1, s"path must stay on one road: $got")
    assert(got.map(_._6).sum === 0L, "no switches expected")
    // cost certificate vs exhaustive enumeration
    val total = got.map(_._5).sum + 1000000L * got.map(_._6).sum
    assert(Map(7L -> total) === bruteViterbiCost(fixes, segs, 1000L, 1000000L))
    // tiny penalty: switching every fix IS optimal
    val got2 = runViterbi(fixes, segs, r = 1000L, level = 12, lam = 1L)
    assert(got2.sortBy(_._2).map(_._4) === Seq(1L, 2L, 1L, 2L, 1L, 2L))
  }

  test("viterbi: chain breaks restart the DP with no cross-gap charge") {
    val segs = Seq((1L, 0L, 0L, 10000L, 0L), (2L, 0L, 500L, 10000L, 500L))
    // fix 2 is far from every road (no candidate) -> break; fix 1 ends on
    // road 1, fix 3 resumes on road 2 with NO switch penalty
    val fixes = Seq((9L, 0L, 1L, 100L, 10L), (9L, 1L, 2L, 200L, 90000L),
      (9L, 2L, 3L, 300L, 490L))
    val got = runViterbi(fixes, segs, r = 400L, level = 12, lam = 1000000L)
      .sortBy(_._2)
    assert(got(0)._4 === 1L && got(1)._4 === -1L && got(2)._4 === 2L)
    assert(got.map(_._6).sum === 0L)
    val total = got.filter(_._4 >= 0).map(_._5).sum
    assert(Map(9L -> total) === bruteViterbiCost(fixes, segs, 400L, 1000000L))
  }

  test("viterbi: cost certificate on random multi-entity wobble across penalties") {
    val rnd = new scala.util.Random(808)
    val segs = (0 until 6).map(k =>
      (k.toLong, 0L, k * 300L, 50000L, k * 300L))
    val fixes = for (e <- 0L until 5L; i <- 0 until 8) yield
      (e, i.toLong, e * 100 + i, rnd.nextLong(50000L),
        rnd.nextLong(1800L) - 150L)
    for (lam <- Seq(0L, 50000L, 100000000L)) {
      val got = runViterbi(fixes, segs, r = 500L, level = 12, lam = lam)
      val totals = got.filter(_._4 >= 0).groupBy(_._1).map { case (e, rs) =>
        e -> (rs.map(_._5).sum + lam * rs.map(_._6).sum)
      }
      val expect = bruteViterbiCost(fixes, segs, 500L, lam)
      assert(totals === expect.filter(_._2 >= 0), s"lam=$lam")
    }
  }

  test("viterbi: entities reusing the same oids match as if each ran alone") {
    // entity 1 walks road 1 (y = 0), entity 2 walks road 2 (y = 5000), far
    // outside each other's radius; both number their fixes 100, 101, 102
    val segs = Seq((1L, 0L, 0L, 10000L, 0L), (2L, 0L, 5000L, 10000L, 5000L))
    val e1 = (0 until 3).map(i => (1L, i.toLong, 100L + i, 1000L * i, 20L * i))
    val e2 = (0 until 3).map(i => (2L, i.toLong, 100L + i, 1000L * i, 5000L - 30L * i))
    def run(f: Seq[(Long, Long, Long, Long, Long)]) =
      runViterbi(f, segs, r = 400L, level = 12, lam = 1000000L).toSeq.sorted
    val both = run(e1 ++ e2)
    assert(both === (run(e1) ++ run(e2)).sorted)
    assert(both.filter(_._1 == 1L).map(_._4).toSet === Set(1L))
    assert(both.filter(_._1 == 2L).map(_._4).toSet === Set(2L))
    // a duplicated fix row gets its own candidates once, not twice
    val dup = run(e1 :+ e1.head)
    assert(dup.map(_._4).toSet === Set(1L))
    assert(dup.count(_._3 == 100L) === 2)
  }

  test("viterbi: a NULL entity fails with a named IllegalArgumentException") {
    val segs = Seq((1L, 0L, 0L, 10000L, 0L))
    val fixes = Seq[(java.lang.Long, Long, Long, Long, Long)](
      (1L, 0L, 100L, 1000L, 20L), (null, 1L, 101L, 2000L, 40L))
    val err = intercept[Exception] {
      MapMatch.viterbiMatch(spark, fixes.toDF("ent", "tus", "oid", "x", "y"),
        col("ent"), col("tus"), col("oid"), col("x"), col("y"),
        segs.toDF("sid", "x1", "y1", "x2", "y2"),
        col("sid"), col("x1"), col("y1"), col("x2"), col("y2"),
        radiusMicro = 400L, level = 12, switchPenalty = 1000000L).collect()
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("viterbiMatch: a fix has a NULL entity")), causes.mkString("\n"))
  }
}
