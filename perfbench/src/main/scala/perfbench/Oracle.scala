package perfbench

/** Reference results computed apart from the program: a winding-number
  * point-in-polygon test (not the program's crossing-parity raycast), a
  * tile formula written from the tiling definition, a union-find, and
  * exact per-zone aggregates over regenerated rows.
  */
object Oracle {
  /** Boundary-inclusive even-odd containment. Each ring's winding number
    * (Sunday's rule) says whether the point is inside that ring; the point
    * is in the polygon when an odd number of rings hold it. A point on any
    * edge is in.
    */
  def covers(px: Long, py: Long, p: Poly): Boolean = {
    if (px < p.minX || px > p.maxX || py < p.minY || py > p.maxY) return false
    var inRings = 0
    for (r <- p.rings) {
      val n = r.xs.length
      var wn = 0
      var i = 0
      while (i < n) {
        val ax = r.xs(i); val ay = r.ys(i)
        val bx = r.xs((i + 1) % n); val by = r.ys((i + 1) % n)
        val side = (bx - ax) * (py - ay) - (px - ax) * (by - ay)
        if (side == 0 && math.min(ax, bx) <= px && px <= math.max(ax, bx) &&
            math.min(ay, by) <= py && py <= math.max(ay, by)) return true
        if (ay <= py) { if (by > py && side > 0) wn += 1 }
        else if (by <= py && side < 0) wn -= 1
        i += 1
      }
      if (wn != 0) inRings += 1
    }
    (inRings & 1) == 1
  }

  val TileZ = 12
  private val LonSpan = 360000000L
  private val LatSpan = 180000000L

  /** Equirectangular tile at level z: columns from lon -180 eastward, rows
    * from lat +90 southward; the east and south world edges belong to the
    * last column and row.
    */
  def tile(lon: Long, lat: Long, z: Int = TileZ): (Long, Long) = {
    val n = 1L << z
    (math.min(n - 1, Math.floorDiv((lon + LonSpan / 2) * n, LonSpan)),
      math.min(n - 1, Math.floorDiv((LatSpan / 2 - lat) * n, LatSpan)))
  }

  /** Whether tile (x, y) at level z holds the point, by its edges. */
  def tileHolds(x: Long, y: Long, lon: Long, lat: Long, z: Int = TileZ): Boolean = {
    val n = 1L << z
    val ex = (lon + LonSpan / 2) * n; val ey = (LatSpan / 2 - lat) * n
    x >= 0 && x < n && y >= 0 && y < n &&
      x * LonSpan <= ex && (ex < (x + 1) * LonSpan || x == n - 1 && ex == n * LonSpan) &&
      y * LatSpan <= ey && (ey < (y + 1) * LatSpan || y == n - 1 && ey == n * LatSpan)
  }

  /** Cell of a point at grid level z: 2^z columns over the longitudes and
    * 2^z rows over the latitudes, as a level-tagged Morton key.
    */
  def cellKey(z: Int, lon: Long, lat: Long): Long = {
    val n = 1L << z
    val x = math.min(n - 1, ((lon + LonSpan / 2) << z) / LonSpan)
    val y = math.min(n - 1, ((lat + LatSpan / 2) << z) / LatSpan)
    (z.toLong << 48) | Gen.morton(x, y)
  }

  /** Run `f` over [0, n) split into `threads` contiguous slices and combine. */
  def parallel[A](n: Long, threads: Int)(f: (Long, Long) => A)(combine: (A, A) => A): A = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val step = (n + threads - 1) / threads
      val fs = (0 until threads).map { t =>
        val lo = math.min(n, t * step); val hi = math.min(n, lo + step)
        pool.submit(new java.util.concurrent.Callable[A] { def call(): A = f(lo, hi) })
      }
      fs.map(_.get()).reduce(combine)
    } finally pool.shutdown()
  }

  /** A simple uniform grid over polygon bounding boxes (candidate lookup). */
  final class BoxIndex(polys: Array[Poly], cells: Int = 512) {
    private val lists: Array[Array[Int]] = {
      val b = Array.fill(cells * cells)(scala.collection.mutable.ArrayBuffer.empty[Int])
      for ((p, i) <- polys.zipWithIndex; cx <- cx(p.minX) to cx(p.maxX); cy <- cy(p.minY) to cy(p.maxY))
        b(cx * cells + cy) += i
      b.map(_.toArray)
    }
    private def cx(x: Long) = math.max(0, math.min(cells - 1, ((x - Gen.LonMin) * cells / LonSpan).toInt))
    private def cy(y: Long) = math.max(0, math.min(cells - 1, ((y - Gen.LatMin) * cells / LatSpan).toInt))
    def candidates(x: Long, y: Long): Array[Int] = lists(cx(x) * cells + cy(y))
  }

  /** Order-insensitive checksum of the (point, polygon, tile) rows. */
  final case class JoinSum(pairs: Long, idPoly: Long, tileX: Long, tileY: Long) {
    def +(o: JoinSum) = JoinSum(pairs + o.pairs, idPoly + o.idPoly, tileX + o.tileX, tileY + o.tileY)
  }

  /** Polygon indices holding point (x, y), ascending. */
  def holders(idx: BoxIndex, polys: Array[Poly], x: Long, y: Long): Array[Int] =
    idx.candidates(x, y).filter(i => covers(x, y, polys(i))).sorted

  /** Checksum over every point of `pointAt` against every polygon. */
  def joinChecksum(n: Long, pointAt: Long => (Long, Long), polys: Array[Poly],
                   threads: Int): JoinSum = {
    val idx = new BoxIndex(polys)
    parallel(n, threads) { (lo, hi) =>
      var s = JoinSum(0, 0, 0, 0)
      var i = lo
      while (i < hi) {
        val (x, y) = pointAt(i)
        val hs = holders(idx, polys, x, y)
        if (hs.nonEmpty) {
          val (tx, ty) = tile(x, y)
          var k = 0
          while (k < hs.length) {
            s = JoinSum(s.pairs + 1, s.idPoly + i * (hs(k) + 1), s.tileX + tx, s.tileY + ty)
            k += 1
          }
        }
        i += 1
      }
      s
    }(_ + _)
  }

  /** Per-zone exact count, sum and sorted values; per-level frame counts. */
  final case class ZoneTruth(count: Map[String, Long], sum: Map[String, Long],
                             values: Map[String, Array[Long]], frameCount: Array[Long])

  def zoneTruth(n: Long, pointAt: Long => (Long, Long), valueAt: Long => Long,
                cs: Array[(Long, Long)], zones: Array[(Int, Poly)], threads: Int): ZoneTruth = {
    val lvls = Gen.levels(cs)
    // zones come level by level, frame by frame, column-major within a frame
    val first = lvls.indices.map(li => lvls.take(li).map(l => l.frames.length * l.nx * l.ny).sum)
    val grids = lvls.map(lv => lv.frames.map { case (x0, y0, x1, y1) =>
      (Array.tabulate(lv.nx + 1)(i => Gen.gridLine(x0, x1, i, lv.nx)),
        Array.tabulate(lv.ny + 1)(j => Gen.gridLine(y0, y1, j, lv.ny)))
    })
    // zone index of the point in one frame: its grid cell or a neighbour,
    // since staircase edges move the border by less than a cell
    def zoneOf(li: Int, fi: Int, x: Long, y: Long): Int = {
      val lv = lvls(li); val (gx, gy) = grids(li)(fi)
      val ci = math.max(0, gx.lastIndexWhere(_ < x)); val cj = math.max(0, gy.lastIndexWhere(_ < y))
      val hits = for {
        i <- ci - 1 to ci + 1 if i >= 0 && i < lv.nx
        j <- cj - 1 to cj + 1 if j >= 0 && j < lv.ny
        z = first(li) + (fi * lv.nx + i) * lv.ny + j if covers(x, y, zones(z)._2)
      } yield z
      require(hits.size == 1, s"point ($x,$y) lies in ${hits.size} zones of level $li")
      hits.head
    }
    type Acc = (Array[scala.collection.mutable.ArrayBuilder.ofLong], Array[Long])
    def newAcc: Acc = (Array.fill(zones.length)(new scala.collection.mutable.ArrayBuilder.ofLong),
      new Array[Long](lvls.length))
    val (vals, frames) = parallel[Acc](n, threads) { (lo, hi) =>
      val (m, fc) = newAcc
      var i = lo
      while (i < hi) {
        val (x, y) = pointAt(i); val v = valueAt(i)
        for ((lv, li) <- lvls.zipWithIndex) {
          val fi = lv.frames.indexWhere { case (x0, y0, x1, y1) => x > x0 && x < x1 && y > y0 && y < y1 }
          if (fi >= 0) { fc(li) += 1; m(zoneOf(li, fi, x, y)) += v }
        }
        i += 1
      }
      (m, fc)
    } { case ((m1, f1), (m2, f2)) =>
      m1.indices.foreach(z => m1(z) ++= m2(z).result())
      (m1, f1.zip(f2).map { case (a, b) => a + b })
    }
    val sorted = zones.indices.collect { case z if vals(z).length > 0 =>
      val a = vals(z).result(); java.util.Arrays.sort(a); zones(z)._2.id -> a
    }.toMap
    ZoneTruth(sorted.map { case (k, a) => k -> a.length.toLong }, sorted.map { case (k, a) => k -> a.sum },
      sorted, frames)
  }

  /** Rank-error bound of the program's KLL sketch at k = 200, as its
    * property spec asserts for merged sketches.
    */
  val KllRankError = 0.03

  /** Whether `q` is a `phi`-quantile of sorted `a` within the rank bound. */
  def quantileOk(a: Array[Long], q: Double, phi: Double): Boolean = {
    val n = a.length.toDouble
    val below = lowerBound(a, q).toDouble; val atMost = upperBound(a, q).toDouble
    below / n - KllRankError <= phi && phi <= atMost / n + KllRankError
  }
  private def lowerBound(a: Array[Long], q: Double): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m).toDouble < q) lo = m + 1 else hi = m }
    lo
  }
  private def upperBound(a: Array[Long], q: Double): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m).toDouble <= q) lo = m + 1 else hi = m }
    lo
  }

  /** Component minimum of every node, by union-find over the pairs. */
  def componentMin(pairs: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    for ((a, b) <- pairs) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // the smaller id becomes the root, so every root is its set's minimum
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(k => k -> find(k)).toMap
  }
}
