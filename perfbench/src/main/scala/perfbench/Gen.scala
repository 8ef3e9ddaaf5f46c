package perfbench

/** Seeded input generators. Every row derives from (seed, index) alone, so
  * the checks in [[Oracle]] regenerate any row in plain Scala instead of
  * reading the program's tables back. Coordinates are micro-degrees.
  */
object Rng {
  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  /** Hash of (seed, stream, i): independent streams per generator. */
  def at(seed: Long, stream: Long, i: Long): Long =
    mix(mix(seed * 0x632be59bd9b4e019L + stream) ^ i)
  def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble
  def below(h: Long, n: Long): Long = java.lang.Long.remainderUnsigned(h, n)
}

final case class Ring(xs: Array[Long], ys: Array[Long])

final case class Poly(id: String, rings: Array[Ring]) {
  lazy val (minX, minY, maxX, maxY) = {
    val xs = rings.flatMap(_.xs); val ys = rings.flatMap(_.ys)
    (xs.min, ys.min, xs.max, ys.max)
  }
}

object Gen {
  val LonMin: Long = -180000000L
  val LatMin: Long = -90000000L
  /** The point range: every generated point lies in this box. */
  val PtLon: Long = 170000000L
  val PtLat: Long = 80000000L

  /** Morton interleave of the non-negative offsets (lon on even bits, lat on
    * odd): the image-location hash the program decodes with phashLon/Lat.
    */
  def phash(lon: Long, lat: Long): Long = morton(lon - LonMin, lat - LatMin)

  /** Bit interleave of two non-negative 32-bit values, x on even bits. */
  def morton(x: Long, y: Long): Long = {
    var m = 0L; var b = 0
    while (b < 32) {
      m |= ((x >>> b) & 1L) << (2 * b)
      m |= ((y >>> b) & 1L) << (2 * b + 1)
      b += 1
    }
    m
  }

  /** Number of dense cities. Many, so that the work per point, and the
    * spread of hot cells over shuffle partitions, hardly depend on where
    * the seed puts them.
    */
  val Cities = 32

  /** `k` dense-city centres, pairwise at least `sep` apart on one axis so
    * the per-city zone frames of [[zones]] never overlap. Even coordinates.
    */
  def cities(seed: Long, k: Int, sep: Long = 1000000L): Array[(Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var draw = 0L
    while (out.size < k) {
      val h = Rng.at(seed, 1, draw); draw += 1
      val x = (math.round((Rng.unit(h) * 300.0 - 150.0) * 1e6) >> 1) << 1
      val y = (math.round((Rng.unit(Rng.mix(h)) * 130.0 - 65.0) * 1e6) >> 1) << 1
      if (out.forall { case (a, b) => math.max(math.abs(a - x), math.abs(b - y)) >= sep })
        out += ((x, y))
    }
    out.toArray
  }

  /** Point i: 70 % in a Gaussian (sigma 0.05 deg) around one of the cities,
    * 30 % uniform over the point range. With `even`, both coordinates are
    * rounded down to even values, so no point can lie on the odd-valued
    * axis-aligned zone edges of [[zones]].
    */
  def point(seed: Long, cs: Array[(Long, Long)], i: Long, even: Boolean): (Long, Long) = {
    val h1 = Rng.at(seed, 2, i)
    val h2 = Rng.mix(h1 ^ 0x5555aaaa5555aaaaL)
    val h3 = Rng.mix(h2 + 17)
    val (x, y) =
      if (Rng.below(h1, 100) < 70) {
        val (cx, cy) = cs(Rng.below(h2, cs.length).toInt)
        val u1 = math.max(Rng.unit(h3), 1e-12)
        val u2 = Rng.unit(Rng.mix(h3 + 1))
        val r = math.sqrt(-2.0 * math.log(u1)) * 50000.0
        (clamp(cx + math.round(r * math.cos(2 * math.Pi * u2)), PtLon),
          clamp(cy + math.round(r * math.sin(2 * math.Pi * u2)), PtLat))
      } else
        (math.round((Rng.unit(h2) * 2 - 1) * PtLon), math.round((Rng.unit(h3) * 2 - 1) * PtLat))
    if (even) ((x >> 1) << 1, (y >> 1) << 1) else (x, y)
  }
  private def clamp(v: Long, m: Long) = math.max(-m, math.min(m, v))

  /** Per-point measure for the zone aggregates: 1..1e6, few ties. */
  def value(seed: Long, i: Long): Long = 1L + Rng.below(Rng.at(seed, 3, i), 1000000L)

  // ---- join_tiles: broadcast-sized admin-style polygon set ---------------

  /** Star-convex irregular ring around (cx, cy); counter-clockwise. */
  def starRing(cx: Long, cy: Long, r: Long, n: Int, h0: Long): Ring = {
    val xs = new Array[Long](n); val ys = new Array[Long](n)
    for (i <- 0 until n) {
      val a = 2 * math.Pi * i / n
      val rr = r * (0.55 + 0.45 * Rng.unit(Rng.mix(h0 + i)))
      xs(i) = cx + math.round(rr * math.cos(a)); ys(i) = cy + math.round(rr * math.sin(a))
    }
    Ring(xs, ys)
  }

  private def rect(x0: Long, y0: Long, x1: Long, y1: Long): Ring =
    Ring(Array(x0, x1, x1, x0), Array(y0, y0, y1, y1))

  /** Per city three nested admin levels (the middle one with a hole), eight
    * large rural polygons (all of one size, so the work per point does not
    * depend on the seed), and at the first city two squares sharing an
    * edge, a one-micro-degree sliver and a polygon smaller than a level-16
    * cover cell. Ids are "p" + index, which the checksum parses back.
    */
  def adminPolys(seed: Long, cs: Array[(Long, Long)]): Array[Poly] = {
    val rings = scala.collection.mutable.ArrayBuffer.empty[Array[Ring]]
    for (((cx, cy), k) <- cs.zipWithIndex; lvl <- 0 until 3) {
      val h = Rng.at(seed, 4, k * 3L + lvl)
      val r = Array(300000L, 150000L, 70000L)(lvl)
      val shell = starRing(cx, cy, r, 12 + 4 * lvl, h)
      if (lvl == 1) {
        val hole = starRing(cx, cy, r / 4, 6, h + 7)
        rings += Array(shell, Ring(hole.xs.reverse, hole.ys.reverse))
      } else rings += Array(shell)
    }
    for (j <- 0 until 8) {
      val h = Rng.at(seed, 5, j)
      val cx = math.round((Rng.unit(h) * 280.0 - 140.0) * 1e6)
      val cy = math.round((Rng.unit(Rng.mix(h)) * 110.0 - 55.0) * 1e6)
      rings += Array(starRing(cx, cy, 5000000L, 20, h))
    }
    val (x, y) = cs(0)
    rings += Array(rect(x - 100000, y - 80000, x, y + 80000))
    rings += Array(rect(x, y - 80000, x + 100000, y + 80000))
    rings += Array(rect(x - 100000, y, x + 100000, y + 1))
    rings += Array(Ring(Array(x, x + 2000, x + 1000), Array(y, y, y + 2000)))
    rings.zipWithIndex.map { case (r, i) => Poly(f"p$i%03d", r) }.toArray
  }

  /** Sample points planted on and around every polygon: each vertex and
    * its four one-micro-degree neighbours, each edge midpoint, each ring's
    * vertex mean (inside holes for the hole ring) and eight points spread
    * over the bounding box. They join the table after the regular points.
    */
  def probes(seed: Long, polys: Array[Poly]): Array[(Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    for ((p, pi) <- polys.zipWithIndex) {
      for (r <- p.rings) {
        val n = r.xs.length
        for (i <- 0 until n) {
          val (x, y) = (r.xs(i), r.ys(i))
          out ++= Seq((x, y), (x + 1, y), (x - 1, y), (x, y + 1), (x, y - 1))
          val j = (i + 1) % n
          out += (((x + r.xs(j)) >> 1, (y + r.ys(j)) >> 1))
        }
        out += ((r.xs.sum / n, r.ys.sum / n))
      }
      for (j <- 0 until 8) {
        val h = Rng.at(seed, 6, pi * 8L + j)
        out += ((p.minX + Rng.below(h, p.maxX - p.minX + 1),
          p.minY + Rng.below(Rng.mix(h), p.maxY - p.minY + 1)))
      }
    }
    out.map { case (x, y) => (clamp(x, PtLon), clamp(y, PtLat)) }.toArray
  }

  // ---- geo_aggregate: nested zone partitions ------------------------------

  /** One nesting level: a grid over each frame box, every cell a zone. */
  final case class Level(frames: Array[(Long, Long, Long, Long)], nx: Int, ny: Int)

  /** Three levels: a 24 x 12 grid over the whole point range, a 4 x 4 grid
    * over +-0.4 deg around each city and a 6 x 6 grid over +-0.12 deg around
    * each city, so zones are fine where points are dense. All zone vertices
    * have odd coordinates and all edges are axis-aligned, so no (even)
    * point lies on a zone boundary and each level partitions its frames
    * exactly. Interior cell edges are staircases with two jogs, seeded, so
    * the refine sees 20-28 vertex polygons instead of rectangles.
    */
  def levels(cs: Array[(Long, Long)]): Array[Level] = Array(
    Level(Array((-PtLon - 1, -PtLat - 1, PtLon + 1, PtLat + 1)), 24, 12),
    Level(cs.map { case (x, y) => (x - 400001, y - 400001, x + 400001, y + 400001) }, 4, 4),
    Level(cs.map { case (x, y) => (x - 120001, y - 120001, x + 120001, y + 120001) }, 6, 6))

  /** Grid line i of n over [a, b], forced odd. */
  def gridLine(a: Long, b: Long, i: Int, n: Int): Long =
    if (i == 0) a else if (i == n) b else (a + (b - a) * i / n) | 1L

  /** Staircase from (x, y0) to (x, y1) with two jogs of at most a fifth of
    * `w` sideways, kept to the middle 40 % of the edge so staircases of
    * neighbouring edges never meet. `straight` gives the plain edge (frame
    * borders). Returned without its last vertex.
    */
  private def stairs(h0: Long, x: Long, y0: Long, y1: Long, w: Long,
                     straight: Boolean): Seq[(Long, Long)] =
    if (straight) Seq((x, y0))
    else {
      val len = y1 - y0
      val t = Array(0.3, 0.5, 0.7).map(f => (y0 + (len * f).toLong) | 1L)
      val o1 = (((w / 20) + Rng.below(h0, math.max(1L, w / 8))) >> 1) << 1
      val o2 = -((((w / 20) + Rng.below(Rng.mix(h0), math.max(1L, w / 8))) >> 1) << 1)
      Seq((x, y0), (x, t(0)), (x + o1, t(0)), (x + o1, t(1)), (x + o2, t(1)),
        (x + o2, t(2)), (x, t(2)))
    }

  /** The zones of every level as (level, polygon); ids "z<level>_<frame>_<i>_<j>". */
  def zones(seed: Long, cs: Array[(Long, Long)]): Array[(Int, Poly)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Poly)]
    for ((lv, li) <- levels(cs).zipWithIndex; ((x0, y0, x1, y1), fi) <- lv.frames.zipWithIndex) {
      val gx = Array.tabulate(lv.nx + 1)(i => gridLine(x0, x1, i, lv.nx))
      val gy = Array.tabulate(lv.ny + 1)(j => gridLine(y0, y1, j, lv.ny))
      val cw = (x1 - x0) / lv.nx; val ch = (y1 - y0) / lv.ny
      def key(kind: Int, i: Int, j: Int) = ((li * 64L + fi) * 4 + kind) * 4096 + i * 64 + j
      // vertical edge on grid line i between rows j and j+1, upward
      def vEdge(i: Int, j: Int) =
        stairs(Rng.at(seed, 7, key(0, i, j)), gx(i), gy(j), gy(j + 1), cw, i == 0 || i == lv.nx)
      // horizontal edge on grid line j between columns i and i+1, rightward
      def hEdge(i: Int, j: Int) =
        stairs(Rng.at(seed, 7, key(1, i, j)), gy(j), gx(i), gx(i + 1), ch, j == 0 || j == lv.ny)
          .map(_.swap)
      def rev(e: Seq[(Long, Long)], end: (Long, Long)) = (e :+ end).reverse.dropRight(1)
      for (i <- 0 until lv.nx; j <- 0 until lv.ny) {
        val ring = hEdge(i, j) ++ vEdge(i + 1, j) ++
          rev(hEdge(i, j + 1), (gx(i + 1), gy(j + 1))) ++ rev(vEdge(i, j), (gx(i), gy(j + 1)))
        out += ((li, Poly(s"z${li}_${fi}_${i}_$j", Array(Ring(ring.map(_._1).toArray, ring.map(_._2).toArray)))))
      }
    }
    out.toArray
  }

  // ---- dup_clusters: planted components ----------------------------------

  /** Fixed component mix; only node ids and edge order depend on the seed. */
  final case class Mix(stars: Int, leaves: Int, shortChains: Int, shortLen: Int,
                       longChains: Int, longLen: Int, singles: Int) {
    val sizes: Array[Int] = Array.fill(stars)(leaves + 1) ++ Array.fill(shortChains)(shortLen) ++
      Array.fill(longChains)(longLen) ++ Array.fill(singles)(1)
    val nodes: Long = sizes.map(_.toLong).sum
  }

  /** Node ids: an affine bijection of [0, 2^40) keyed by the seed, so ids are
    * distinct and their order along a chain is scrambled.
    */
  def nodeId(seed: Long, i: Long): Long =
    (i * 0x9e3779b97fL + (Rng.at(seed, 8, 0) & 0xffffffffffL)) & 0xffffffffffL

  /** Pair rows (id_a, id_b): star spokes, chain links (every fifth link also
    * repeated reversed) and self-pairs for singleton components.
    */
  def pairs(seed: Long, mix: Mix): Array[(Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var base = 0L
    for ((size, c) <- mix.sizes.zipWithIndex) {
      def id(k: Int) = nodeId(seed, base + k)
      if (size == 1) out += ((id(0), id(0)))
      else if (c < mix.stars) for (k <- 1 until size) out += ((id(k), id(0)))
      else for (k <- 1 until size) {
        out += ((id(k - 1), id(k)))
        if (k % 5 == 0) out += ((id(k), id(k - 1)))
      }
      base += size
    }
    // seeded row order, so a component's links do not arrive together
    val h = Rng.at(seed, 9, 0)
    val rnd = new scala.util.Random(h)
    rnd.shuffle(out).toArray
  }
}

/** Serializable point lookup for Spark closures and the checks: regular
  * points 0 until n, then the planted `extra` points.
  */
final case class PointSource(seed: Long, cs: Array[(Long, Long)], n: Long,
                             extra: Array[(Long, Long)], even: Boolean) {
  def size: Long = n + extra.length
  def apply(i: Long): (Long, Long) = if (i < n) Gen.point(seed, cs, i, even) else extra((i - n).toInt)
}
