package graft
package queries

import org.apache.spark.sql.functions._
import graft.fixtures.Fixtures
import graft.functions.GraftFunctions._
import graft.oracle.Derive
import Shared._

/** Raster and image queries: grids built from points, image decode and
  * hashing, tile pyramids and mosaics, zonal statistics and cost surfaces.
  */
object RasterQueries {
  /** Aspect buckets for q6z — deliberately no 1:1 bucket at 64 px so the
    * 64×64 fixture images must REASSIGN to the nearest ratio, proving the
    * argmin does more than echo the source dims.
    */
  private val AspectBuckets: Seq[(Int, Int)] =
    Seq((32, 32), (64, 32), (96, 32), (32, 64), (96, 64))

  val specs: Seq[QuerySpec] = Seq(
    // ---- VECTOR→RASTER: inverse-distance-weighted interpolation of a
    //      point attribute onto the world grid (Shepard p=2), exact
    //      integer weights scale div (d²+1) — every cell value is an
    //      engine-invariant int64. Bounded per-point cell explode, one
    //      partial-sum hash aggregate; the oracle derives the same raster
    //      from the full grid × points-in-radius join.
    QuerySpec("q7v_idw_grid", (s, dir) => {
      val pts = customerPts(s, dir)
        .withColumn("v", col("c_custkey") % 1000L)
      operators.GridRaster.idwGrid(pts, col("lonm"), col("latm"), col("v"),
          cellMicro = 4000000L, radiusMicro = 5000000L)
        .orderBy("cx", "cy")
    },
      s"""WITH p AS (SELECT ${Derive.lonSql("c_custkey")} + 180000000 AS wx,
         |    ${Derive.latSql("c_custkey")} + 90000000 AS wy,
         |    c_custkey % 1000 AS v FROM customer),
         |grid AS (SELECT g1.range AS cx, g2.range AS cy
         |  FROM range(0, ${360000000L / 4000000L}) g1, range(0, ${180000000L / 4000000L}) g2),
         |j AS (SELECT grid.cx, grid.cy, p.v,
         |    (p.wx - (grid.cx * 4000000 + 2000000)) * (p.wx - (grid.cx * 4000000 + 2000000))
         |    + (p.wy - (grid.cy * 4000000 + 2000000)) * (p.wy - (grid.cy * 4000000 + 2000000)) AS d2
         |  FROM grid JOIN p ON
         |    (p.wx - (grid.cx * 4000000 + 2000000)) * (p.wx - (grid.cx * 4000000 + 2000000))
         |    + (p.wy - (grid.cy * 4000000 + 2000000)) * (p.wy - (grid.cy * 4000000 + 2000000))
         |    <= ${5000000L * 5000000L}),
         |w AS (SELECT cx, cy, v, 1000000000000 // (d2 // 10000 + 1) AS w FROM j)
         |SELECT cx, cy, count(*) AS n_points,
         |  CAST(CAST(sum(w * v) AS BIGINT) // CAST(sum(w) AS BIGINT) AS BIGINT) AS idw_value
         |FROM w GROUP BY cx, cy ORDER BY cx, cy""".stripMargin),
    // ---- RASTER smoothing: per-cell point counts convolved with the 3×3
    //      binomial kernel (zero-padded world edge) — the density heatmap
    //      every tile server renders. Points collapse to raster size in
    //      exchange one; the convolution is a 9-way explode of CELLS, not
    //      points.
    QuerySpec("q7w_heatmap", (s, dir) => {
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        Derive.lonMicro(col("o_orderkey")).as("lonm"),
        Derive.latMicro(col("o_orderkey")).as("latm"))
      operators.GridRaster.heatmap(pts, col("lonm"), col("latm"),
          cellMicro = 2000000L)
        .orderBy("cx", "cy")
    },
      s"""WITH p AS (SELECT ${Derive.lonSql("o_orderkey")} + 180000000 AS wx,
         |    ${Derive.latSql("o_orderkey")} + 90000000 AS wy FROM orders),
         |c AS (SELECT wx // 2000000 AS px, wy // 2000000 AS py, count(*) AS n
         |  FROM p GROUP BY 1, 2),
         |k AS (SELECT * FROM (VALUES (-1, -1, 1), (0, -1, 2), (1, -1, 1),
         |    (-1, 0, 2), (0, 0, 4), (1, 0, 2),
         |    (-1, 1, 1), (0, 1, 2), (1, 1, 1)) t(ox, oy, kw)),
         |e AS (SELECT px + ox AS cx, py + oy AS cy, n * kw AS contrib,
         |    CASE WHEN ox = 0 AND oy = 0 THEN n ELSE 0 END AS rawc
         |  FROM c CROSS JOIN k)
         |SELECT cx, cy, CAST(sum(rawc) AS BIGINT) AS raw,
         |  CAST(sum(contrib) AS BIGINT) AS smoothed
         |FROM e WHERE cx BETWEEN 0 AND ${360000000L / 2000000L - 1}
         |  AND cy BETWEEN 0 AND ${180000000L / 2000000L - 1}
         |GROUP BY cx, cy ORDER BY cx, cy""".stripMargin),
    // ---- RASTER→VECTOR polygonize: threshold the density raster into a
    //      binary mask and return one row per 4-connected region (GDAL
    //      polygonize) — the inverse of q7v/q7w's vector→raster ops.
    //      Points collapse to raster size in exchange one; components via
    //      the pointer-doubling min-label kernel; region id = min cell.
    QuerySpec("q7y_polygonize", (s, dir) => {
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        Derive.lonMicro(col("o_orderkey")).as("lonm"),
        Derive.latMicro(col("o_orderkey")).as("latm"))
      operators.GridRaster.polygonize(pts, col("lonm"), col("latm"),
          cellMicro = 4000000L, minCount = 4L)
        .orderBy("rx", "ry")
    },
      s"""WITH RECURSIVE pts AS (SELECT ${Derive.lonSql("o_orderkey")} + 180000000 AS wx,
         |    ${Derive.latSql("o_orderkey")} + 90000000 AS wy FROM orders),
         |c AS (SELECT wx // 4000000 AS px, wy // 4000000 AS py, count(*) AS n
         |  FROM pts GROUP BY 1, 2),
         |m AS (SELECT px, py, n, px * 1073741824 + py AS k FROM c WHERE n >= 4),
         |e AS (SELECT a.k AS src, b.k AS dst FROM m a JOIN m b
         |  ON (b.px = a.px + 1 AND b.py = a.py) OR (b.px = a.px AND b.py = a.py + 1)),
         |eu AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
         |comp(k, lbl) AS (SELECT k, k FROM m
         |  UNION SELECT eu.dst, c.lbl FROM comp c JOIN eu ON eu.src = c.k),
         |lbl AS (SELECT k, min(lbl) AS l FROM comp GROUP BY k)
         |SELECT l // 1073741824 AS rx, l % 1073741824 AS ry,
         |  count(*) AS n_cells, CAST(sum(n) AS BIGINT) AS total_points,
         |  min(px) AS cx_min, max(px) AS cx_max,
         |  min(py) AS cy_min, max(py) AS cy_max
         |FROM m JOIN lbl USING (k)
         |GROUP BY l ORDER BY rx, ry""".stripMargin),
    // ---- RASTER curation score: exact integer L1 total variation per
    //      image (sharpness/flatness gate), decode-once narrow kernel,
    //      rolled up per dims bucket. Oracle by rule: each differing
    //      adjacent phash-bit block pair contributes 150 × (block edge px).
    QuerySpec("q7o_raster_tv", (s, dir) => {
      operators.Multimodal.rasterTv(Fixtures.images(s, 5000))
        .groupBy("w", "h")
        .agg(count(lit(1)).as("n_images"), sum("tv").as("sum_tv"),
          min("tv").as("min_tv"), max("tv").as("max_tv"))
        .orderBy("w", "h")
    }, {
      // exact TV from the bit→block rule: horizontally-adjacent differing
      // bits (k, k+1 same block row) each contribute 150·(h/8) px pairs,
      // vertically-adjacent (k, k+8) contribute 150·(w/8); pixels inside a
      // block are constant, so block boundaries are the ONLY transitions
      import graft.fixtures.Fixtures
      val per = scala.collection.mutable.Map[(Int, Int), (Long, Long, Long, Long)]()
      (0L until 5000L).foreach { i =>
        val (lon, lat) = Fixtures.locOf(i)
        val p = graft.core.PhashLoc.encode(lon, lat)
        val (w, h) = Fixtures.dimsOf(i)
        val hd = java.lang.Long.bitCount((p ^ (p >>> 1)) & 0x7f7f7f7f7f7f7f7fL)
        val vd = java.lang.Long.bitCount((p ^ (p >>> 8)) & 0x00ffffffffffffffL)
        val tv = 150L * (h / 8) * hd + 150L * (w / 8) * vd
        val (n, s0, mn, mx) = per.getOrElse((w, h), (0L, 0L, Long.MaxValue, Long.MinValue))
        per((w, h)) = (n + 1, s0 + tv, math.min(mn, tv), math.max(mx, tv))
      }
      val vals = per.toSeq.sortBy(_._1).map { case ((w, h), (n, s0, mn, mx)) =>
        s"($w, $h, CAST($n AS BIGINT), CAST($s0 AS BIGINT), CAST($mn AS BIGINT), CAST($mx AS BIGINT))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(w, h, n_images, sum_tv, min_tv, max_tv) " +
        "ORDER BY w, h"
    }),
    // ---- raster tile pyramid: per-tile counts rolled up the zoom stack —
    //      a z-order parent is a plain right-shift (each zoom level drops
    //      2 interleaved bits), so the pyramid is three shifted groupBys,
    //      no geometry re-processing (SURVEY.md O8 payoff)
    QuerySpec("q0c_tile_pyramid", (s, dir) => {
      val pts = customerPts(s, dir)
        .select(zcell(col("lonm"), col("latm"), 12).as("c12"))
      val levels = Seq(12, 10, 8).map { z =>
        pts.groupBy(shiftright(col("c12"), 2 * (12 - z)).as("cell"))
          .agg(count(lit(1)).as("n"))
          .select(lit(z).as("z"), col("cell"), col("n"))
      }
      levels.reduce(_ union _).orderBy("z", "cell")
    },
      s"""WITH pts AS (SELECT ${Derive.lonSql("c_custkey")} AS lonm,
         |  ${Derive.latSql("c_custkey")} AS latm FROM customer),
         |${Derive.zcellSqlCte(12)},
         |p AS (SELECT 12 AS z, cell, count(*) AS n FROM zc GROUP BY 2
         |  UNION ALL SELECT 10, cell // 16, count(*) FROM zc GROUP BY 2
         |  UNION ALL SELECT 8, cell // 256, count(*) FROM zc GROUP BY 2)
         |SELECT z, cell, n FROM p ORDER BY z, cell""".stripMargin),
    // ---- IMAGE OBJECT COUNT (q97): decode (PNG/VP8L/raw) → 8×8 integer
    //      mean-pool → threshold → 4-connected blob count per image, as a
    //      corpus histogram. On the generator's bit→block images the mask
    //      equals the phash bit grid, so the oracle re-derives every count
    //      from the rules alone — the decode+pool+CC chain must agree.
    QuerySpec("q97_object_count", (s, dir) => {
      operators.Multimodal.objectCount(Fixtures.images(s, 5000))
        .groupBy("n_objects").agg(count(lit(1)).as("n_images"))
        .orderBy("n_objects")
    }, {
      // generator-rule replay: block value 200 ≥ 128 > 50 ⇒ the pooled mask
      // IS the phash bit grid; components via an independent BFS flood fill
      import graft.fixtures.Fixtures
      val hist = scala.collection.mutable.Map[Int, Long]()
      (0L until 5000L).foreach { i =>
        val (lon, lat) = Fixtures.locOf(i)
        val bits = graft.core.PhashLoc.encode(lon, lat)
        def set(c: Int): Boolean = ((bits >>> c) & 1L) == 1L
        var seen = Set.empty[Int]; var cnt = 0
        (0 until 64).foreach { s0 =>
          if (set(s0) && !seen(s0)) {
            cnt += 1
            var frontier = List(s0)
            while (frontier.nonEmpty) {
              val c = frontier.head; frontier = frontier.tail
              if (!seen(c)) {
                seen += c
                val cx = c % 8; val cy = c / 8
                frontier = List((cx + 1, cy), (cx - 1, cy), (cx, cy + 1), (cx, cy - 1))
                  .collect { case (x, y)
                    if x >= 0 && x < 8 && y >= 0 && y < 8 && set(y * 8 + x) =>
                      y * 8 + x } ::: frontier
              }
            }
          }
        }
        hist(cnt) = hist.getOrElse(cnt, 0L) + 1L
      }
      val vals = hist.toSeq.sorted
        .map { case (k, n) => s"($k, CAST($n AS BIGINT))" }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(n_objects, n_images) ORDER BY n_objects"
    }),
    // ---- SOBEL gradient raster (q9l): slope/edge detection over the
    //      orders density surface — zero-padded 3×3 Sobel, dilated support,
    //      flat-interior zeros included; aspect stays a consumer float.
    QuerySpec("q9l_sobel", (s, dir) => {
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        Derive.lonMicro(col("o_orderkey")).as("lonm"),
        Derive.latMicro(col("o_orderkey")).as("latm"))
      operators.GridRaster.sobel(pts, col("lonm"), col("latm"),
          cellMicro = 2000000L)
        .orderBy("cx", "cy")
    },
      // direct convolution twin: dilated targets × Chebyshev-1 neighbors,
      // G(d) = d·(2 − |d⊥|) evaluated in the join
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("o_orderkey")} + 180000000 AS wx,
         |  ${Derive.latSql("o_orderkey")} + 90000000 AS wy FROM orders),
         |c AS MATERIALIZED (SELECT wx // 2000000 AS px, wy // 2000000 AS py,
         |  count(*) AS n FROM pts GROUP BY 1, 2),
         |t AS (SELECT DISTINCT px + ox AS tx, py + oy AS ty
         |  FROM c CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS ox)
         |  CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS oy)
         |  WHERE px + ox >= 0 AND px + ox <= ${360000000L / 2000000L - 1}
         |    AND py + oy >= 0 AND py + oy <= ${180000000L / 2000000L - 1}),
         |s AS (SELECT t.tx AS cx, t.ty AS cy,
         |  CAST(COALESCE(sum(CASE WHEN c.px = t.tx AND c.py = t.ty
         |    THEN c.n ELSE 0 END), 0) AS BIGINT) AS n,
         |  CAST(COALESCE(sum(c.n * (c.px - t.tx)
         |    * (2 - abs(c.py - t.ty))), 0) AS BIGINT) AS gx,
         |  CAST(COALESCE(sum(c.n * (c.py - t.ty)
         |    * (2 - abs(c.px - t.tx))), 0) AS BIGINT) AS gy
         |  FROM t LEFT JOIN c ON abs(c.px - t.tx) <= 1
         |    AND abs(c.py - t.ty) <= 1
         |  GROUP BY 1, 2)
         |SELECT cx, cy, n, gx, gy, gx * gx + gy * gy AS g2
         |FROM s ORDER BY cx, cy""".stripMargin),
    // ---- MASK BOUNDARY (q9n): raster→vector outline — every mask-cell
    //      edge whose rook neighbor is off-mask, as exact µdeg segments
    //      (S→N verticals, W→E horizontals); q7y labels the regions, this
    //      emits their unstitched rings. Same threshold fixture as q7y.
    QuerySpec("q9n_boundary", (s, dir) => {
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        Derive.lonMicro(col("o_orderkey")).as("lonm"),
        Derive.latMicro(col("o_orderkey")).as("latm"))
      operators.GridRaster.maskBoundary(pts, col("lonm"), col("latm"),
          cellMicro = 4000000L, minCount = 4L)
        .orderBy("cx", "cy", "side")
    },
      // mask → 4-side candidates → anti-join on the rook neighbor
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("o_orderkey")} + 180000000 AS wx,
         |  ${Derive.latSql("o_orderkey")} + 90000000 AS wy FROM orders),
         |m AS MATERIALIZED (SELECT wx // 4000000 AS px, wy // 4000000 AS py
         |  FROM pts GROUP BY 1, 2 HAVING count(*) >= 4),
         |sides AS (SELECT * FROM (VALUES (0, -1, 0), (1, 1, 0), (2, 0, -1),
         |  (3, 0, 1)) t(s, dx, dy)),
         |cand AS (SELECT m.px, m.py, sides.s,
         |  m.px + sides.dx AS nx, m.py + sides.dy AS ny
         |  FROM m CROSS JOIN sides)
         |SELECT c.px AS cx, c.py AS cy, CAST(c.s AS BIGINT) AS side,
         |  (CASE WHEN c.s = 1 THEN c.px + 1 ELSE c.px END) * 4000000
         |    - 180000000 AS x1,
         |  (CASE WHEN c.s = 3 THEN c.py + 1 ELSE c.py END) * 4000000
         |    - 90000000 AS y1,
         |  (CASE WHEN c.s = 0 THEN c.px ELSE c.px + 1 END) * 4000000
         |    - 180000000 AS x2,
         |  (CASE WHEN c.s = 2 THEN c.py ELSE c.py + 1 END) * 4000000
         |    - 90000000 AS y2
         |FROM cand c LEFT JOIN m n ON n.px = c.nx AND n.py = c.ny
         |WHERE n.px IS NULL ORDER BY cx, cy, side""".stripMargin),
    // ---- THUMBNAIL materialization (q9o): decode (PNG/VP8L/raw) →
    //      integer resize → re-encode through the in-repo PNG writer; the
    //      whole chain is deterministic, so per-dims-group thumbnail byte
    //      totals are oracle-checkable from generator rules alone.
    QuerySpec("q9o_thumbnails", (s, dir) => {
      operators.Multimodal.thumbnails(Fixtures.images(s, 5000), 16, 16)
        .groupBy("w", "h").agg(count(lit(1)).as("n_images"),
          sum("thumb_len").as("thumb_bytes"))
        .orderBy("w", "h")
    }, {
      // generator-rule replay: pixels → the same integer resize → the same
      // deterministic PNG writer → per-dims length totals
      import graft.fixtures.{Fixtures, ImageCodec}
      val agg = scala.collection.mutable.Map[(Int, Int), (Long, Long)]()
      (0L until 5000L).foreach { i =>
        val (lon, lat) = Fixtures.locOf(i)
        val phash = graft.core.PhashLoc.encode(lon, lat)
        val (w, h) = Fixtures.dimsOf(i)
        val px = ImageCodec.pixelsFromHash(phash, w, h)
        val out = new Array[Byte](16 * 16)
        var y = 0
        while (y < 16) {
          val sy = y * h / 16
          var x = 0
          while (x < 16) { out(y * 16 + x) = px(sy * w + x * w / 16); x += 1 }
          y += 1
        }
        val len = ImageCodec.encodePng(out, 16, 16).length.toLong
        val (n, b) = agg.getOrElse((w, h), (0L, 0L))
        agg((w, h)) = (n + 1, b + len)
      }
      val vals = agg.toSeq.sortBy(_._1).map { case ((w, h), (n, b)) =>
        s"($w, $h, CAST($n AS BIGINT), CAST($b AS BIGINT))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(w, h, n_images, thumb_bytes) " +
        "ORDER BY w, h"
    }),
    // ---- WHT frequency-energy profile (q9t): integer-exact spectral
    //      sharpness over the corpus — per-image sequency-band L1 energies
    //      summed corpus-wide; the decode+pool+WHT chain must reproduce
    //      the generator's bit-grid spectrum exactly.
    QuerySpec("q9t_wht_energy", (s, dir) => {
      operators.Multimodal.whtEnergy(Fixtures.images(s, 5000))
        .agg(count(lit(1)).as("n_images"), sum("dc_e").as("dc_total"),
          sum("low_e").as("low_total"), sum("high_e").as("high_total"))
    }, {
      // generator replay: direct-definition 2D WHT of each phash bit grid
      val seq = Array(0, 7, 3, 4, 1, 6, 2, 5)
      var n = 0L; var dct = 0L; var lot = 0L; var hit = 0L
      (0L until 5000L).foreach { i =>
        val (lon, lat) = graft.fixtures.Fixtures.locOf(i)
        val p = graft.core.PhashLoc.encode(lon, lat)
        def g(b: Int) = if (((p >>> b) & 1L) == 1L) 200L else 50L
        for (u <- 0 until 8; x <- 0 until 8) {
          val c = (for (gy <- 0 until 8; gx <- 0 until 8) yield {
            val sgn = java.lang.Integer.bitCount(u & gy) +
              java.lang.Integer.bitCount(x & gx)
            if (sgn % 2 == 0) g(gy * 8 + gx) else -g(gy * 8 + gx)
          }).sum
          val e = math.abs(c)
          if (u == 0 && x == 0) dct += e
          else if (seq(u) + seq(x) < 8) lot += e else hit += e
        }
        n += 1
      }
      s"SELECT CAST($n AS BIGINT) AS n_images, CAST($dct AS BIGINT) AS dc_total, " +
        s"CAST($lot AS BIGINT) AS low_total, CAST($hit AS BIGINT) AS high_total"
    }),
    // ---- Otsu threshold (qa9): per-image optimal binarization level —
    //      on two-tone generator images every valid split ties so the
    //      smallest-t rule lands exactly 51; single-tone images emit −1.
    QuerySpec("qa9_otsu", (s, dir) => {
      operators.Multimodal.otsuThreshold(Fixtures.images(s, 5000))
        .groupBy("otsu_t")
        .agg(count(lit(1)).as("n_images"), sum("n_below").as("below_total"))
        .orderBy("otsu_t")
    }, {
      // generator replay: both tones present -> every valid split ties,
      // smallest t = 51, n_below = count of 50-luma pixels; single tone
      // (popcount 0 or 64) -> t = -1, n_below = 0
      import graft.fixtures.Fixtures
      val per = scala.collection.mutable.Map[Int, (Long, Long)]()
      (0L until 5000L).foreach { i =>
        val (lon, lat) = Fixtures.locOf(i)
        val p = graft.core.PhashLoc.encode(lon, lat)
        val (w, h) = Fixtures.dimsOf(i)
        val bpx = (w / 8).toLong * (h / 8)
        val pc = java.lang.Long.bitCount(p).toLong
        val (t, nb) = if (pc == 0L || pc == 64L) (-1, 0L)
          else (51, (64L - pc) * bpx)
        val (n, s0) = per.getOrElse(t, (0L, 0L))
        per(t) = (n + 1, s0 + nb)
      }
      val vals = per.toSeq.sortBy(_._1).map { case (t, (n, s0)) =>
        s"($t, CAST($n AS BIGINT), CAST($s0 AS BIGINT))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(otsu_t, n_images, below_total) " +
        "ORDER BY otsu_t"
    }),
    // ---- Focal median (qa4): rank-order smoothing over the occupied
    //      density surface — the salt-and-pepper denoiser a linear kernel
    //      can't be; lower median of the ≤9 present window values.
    QuerySpec("qa4_focal_median", (s, dir) => {
      val hub = col("o_orderkey") % 37L
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        (Derive.lonMicro(hub) + (col("o_orderkey") * 48271L) % 9000001L
          - 4500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("o_orderkey") + 7L) * 16807L) % 9000001L
          - 4500000L).as("latm"))
      operators.GridRaster.focalMedian(pts, col("lonm"), col("latm"),
          cellMicro = 2000000L)
        .orderBy("cx", "cy")
    },
      // same scatter + ordered-list lower median (1-based [(m+1)//2])
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("(o_orderkey % 37)")}
         |    + (o_orderkey * 48271) % 9000001 - 4500000 AS lon,
         |  ${Derive.latSql("(o_orderkey % 37)")}
         |    + ((o_orderkey + 7) * 16807) % 9000001 - 4500000 AS lat
         |  FROM orders),
         |r AS (SELECT (lon + 180000000) // 2000000 AS px,
         |    (lat + 90000000) // 2000000 AS py, count(*) AS n
         |  FROM pts GROUP BY 1, 2),
         |o AS (SELECT dx.g AS dx, dy.g AS dy
         |  FROM (SELECT unnest(generate_series(-1, 1)) AS g) dx,
         |       (SELECT unnest(generate_series(-1, 1)) AS g) dy),
         |e AS (SELECT r.px + o.dx AS px, r.py + o.dy AS py, r.n AS v
         |  FROM r CROSS JOIN o),
         |m AS (SELECT px, py, list(v ORDER BY v) AS vs
         |  FROM e GROUP BY 1, 2)
         |SELECT r.px AS cx, r.py AS cy, r.n,
         |  m.vs[(len(m.vs) + 1) // 2] AS med
         |FROM r JOIN m ON m.px = r.px AND m.py = r.py
         |ORDER BY cx, cy""".stripMargin),
    // ---- Zonal majority (qa3): the categorical half of zonal statistics
    //      — density raster reclassified by the {2,4,8} ladder, cell
    //      centers zone-joined to the fixed world rects, per-zone
    //      majority/minority/variety with deterministic ties.
    QuerySpec("qa3_zonal_majority", (s, dir) => {
      val hub = col("o_orderkey") % 37L
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        (Derive.lonMicro(hub) + (col("o_orderkey") * 48271L) % 9000001L
          - 4500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("o_orderkey") + 7L) * 16807L) % 9000001L
          - 4500000L).as("latm"))
      operators.GridRaster.zonalMajority(s, pts, col("lonm"), col("latm"),
          cellMicro = 2000000L, thresholds = Seq(2L, 4L, 8L),
          specs = Derive.rectSpecs)
        .orderBy("poly_id")
    },
      // inclusive-bbox zone test (rect raycast == bbox) + window argmins
      // with the same deterministic tie rules
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("(o_orderkey % 37)")}
         |    + (o_orderkey * 48271) % 9000001 - 4500000 AS lon,
         |  ${Derive.latSql("(o_orderkey % 37)")}
         |    + ((o_orderkey + 7) * 16807) % 9000001 - 4500000 AS lat
         |  FROM orders),
         |rst AS (SELECT (lon + 180000000) // 2000000 AS px,
         |    (lat + 90000000) // 2000000 AS py, count(*) AS n
         |  FROM pts GROUP BY 1, 2),
         |c AS (SELECT px * 2000000 + 1000000 - 180000000 AS lonm,
         |    py * 2000000 + 1000000 - 90000000 AS latm,
         |    CAST(CASE WHEN n >= 2 THEN 1 ELSE 0 END
         |      + CASE WHEN n >= 4 THEN 1 ELSE 0 END
         |      + CASE WHEN n >= 8 THEN 1 ELSE 0 END AS BIGINT) AS cls
         |  FROM rst),
         |z AS (SELECT r.poly_id, c.cls FROM c JOIN ${Derive.rectsSqlValues}
         |  ON c.lonm BETWEEN r.lon_min AND r.lon_max
         |  AND c.latm BETWEEN r.lat_min AND r.lat_max),
         |pc AS (SELECT poly_id, cls, count(*) AS cnt FROM z GROUP BY 1, 2),
         |maj AS (SELECT poly_id, cls AS majority_class,
         |    cnt AS majority_count FROM (SELECT *, row_number() OVER (
         |      PARTITION BY poly_id ORDER BY cnt DESC, cls) AS rn FROM pc)
         |  WHERE rn = 1),
         |mino AS (SELECT poly_id, cls AS minority_class,
         |    cnt AS minority_count FROM (SELECT *, row_number() OVER (
         |      PARTITION BY poly_id ORDER BY cnt, cls) AS rn FROM pc)
         |  WHERE rn = 1),
         |v AS (SELECT poly_id, CAST(count(*) AS BIGINT) AS variety,
         |    CAST(sum(cnt) AS BIGINT) AS n_cells FROM pc GROUP BY 1)
         |SELECT maj.poly_id, majority_class, majority_count,
         |  minority_class, minority_count, v.variety, v.n_cells
         |FROM maj JOIN mino ON maj.poly_id = mino.poly_id
         |JOIN v ON maj.poly_id = v.poly_id
         |ORDER BY maj.poly_id""".stripMargin),
    // ---- Difference hash (qa1): the gradient-sign perceptual hash —
    //      immune to the global brightness shifts that flip avg-hash bits;
    //      on generator images the pooled cells ARE the phash bit blocks,
    //      so the oracle replays the popcount histogram from the closed
    //      form dh = (~p) & row-rotated(p).
    QuerySpec("qa1_dhash", (s, dir) => {
      operators.Multimodal.dHash(Fixtures.images(s, 5000))
        .groupBy(expr("bit_count(dhash)").as("dh_pop"))
        .agg(count(lit(1)).as("n_images"),
          min("dhash").as("min_dh"), max("dhash").as("max_dh"))
        .orderBy("dh_pop")
    }, {
      // generator replay: dh bit (r,c) = 1 iff p bit (r,c) = 0 and p bit
      // (r,(c+1) mod 8) = 1 — blocks are the pooled cells
      import graft.fixtures.Fixtures
      val per = scala.collection.mutable.Map[Int, (Long, Long, Long)]()
      (0L until 5000L).foreach { i =>
        val (lon, lat) = Fixtures.locOf(i)
        val p = graft.core.PhashLoc.encode(lon, lat)
        var dh = 0L
        for (gy <- 0 until 8; gx <- 0 until 8) {
          val cur = (p >>> (gy * 8 + gx)) & 1L
          val nxt = (p >>> (gy * 8 + (gx + 1) % 8)) & 1L
          if (cur == 0L && nxt == 1L) dh |= 1L << (gy * 8 + gx)
        }
        val pop = java.lang.Long.bitCount(dh)
        val (n, mn, mx) = per.getOrElse(pop, (0L, Long.MaxValue, Long.MinValue))
        per(pop) = (n + 1, math.min(mn, dh), math.max(mx, dh))
      }
      val vals = per.toSeq.sortBy(_._1).map { case (pop, (n, mn, mx)) =>
        s"($pop, CAST($n AS BIGINT), CAST($mn AS BIGINT), CAST($mx AS BIGINT))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(dh_pop, n_images, min_dh, max_dh) " +
        "ORDER BY dh_pop"
    }),
    // ---- Epanechnikov KDE raster (qa0): the general-bandwidth hotspot
    //      surface (heatmap's 3×3 binomial is the fixed special case) —
    //      R=3 disk with precomputed integer weights w = ⌊scale(R²−d²)/R²⌋
    //      over the q9w hub scatter; halo cells receive spill with raw=0.
    QuerySpec("qa0_kde", (s, dir) => {
      val hub = col("o_orderkey") % 37L
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        (Derive.lonMicro(hub) + (col("o_orderkey") * 48271L) % 9000001L
          - 4500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("o_orderkey") + 7L) * 16807L) % 9000001L
          - 4500000L).as("latm"))
      operators.GridRaster.kde(pts, col("lonm"), col("latm"),
          cellMicro = 2000000L, bandwidthCells = 3)
        .orderBy("cx", "cy")
    },
      // same collapse-then-scatter with the identical integer kernel
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("(o_orderkey % 37)")}
         |    + (o_orderkey * 48271) % 9000001 - 4500000 AS lon,
         |  ${Derive.latSql("(o_orderkey % 37)")}
         |    + ((o_orderkey + 7) * 16807) % 9000001 - 4500000 AS lat
         |  FROM orders),
         |r AS (SELECT (lon + 180000000) // 2000000 AS px,
         |    (lat + 90000000) // 2000000 AS py, count(*) AS n
         |  FROM pts GROUP BY 1, 2),
         |o AS (SELECT dx.g AS dx, dy.g AS dy,
         |    (1000000 * (9 - (dx.g * dx.g + dy.g * dy.g))) // 9 AS w
         |  FROM (SELECT unnest(generate_series(-3, 3)) AS g) dx,
         |       (SELECT unnest(generate_series(-3, 3)) AS g) dy
         |  WHERE dx.g * dx.g + dy.g * dy.g < 9)
         |SELECT r.px + o.dx AS cx, r.py + o.dy AS cy,
         |  CAST(sum(CASE WHEN o.dx = 0 AND o.dy = 0 THEN r.n ELSE 0 END)
         |    AS BIGINT) AS raw,
         |  CAST(sum(r.n * o.w) AS BIGINT) AS density
         |FROM r CROSS JOIN o
         |WHERE r.px + o.dx BETWEEN 0 AND 179
         |  AND r.py + o.dy BETWEEN 0 AND 89
         |GROUP BY 1, 2 ORDER BY cx, cy""".stripMargin),
    // ---- Luma-histogram concentration gate (q9x): the tonal-distribution
    //      curation stat — Simpson/Rényi-2 collision Σnᵢ², dominant-bin
    //      ppm, nonzero bins per image; generator images put every pixel
    //      in bin 3 (luma 50) or 12 (luma 200), so the oracle replays the
    //      corpus totals closed-form from each phash's popcount.
    QuerySpec("q9x_luma_hist", (s, dir) => {
      operators.Multimodal.lumaHistogram(Fixtures.images(s, 5000))
        .groupBy("w", "h")
        .agg(count(lit(1)).as("n_images"), sum("collision").as("sum_coll"),
          sum("dominant_ppm").as("sum_dom"),
          min("nonzero_bins").as("min_nz"), max("nonzero_bins").as("max_nz"))
        .orderBy("w", "h")
    }, {
      // generator replay: every pixel is 50 (bit=0 -> bin 3) or 200
      // (bit=1 -> bin 12); per-image counts follow from popcount(phash)
      import graft.fixtures.Fixtures
      val per = scala.collection.mutable.Map[(Int, Int), (Long, Long, Long, Int, Int)]()
      (0L until 5000L).foreach { i =>
        val (lon, lat) = Fixtures.locOf(i)
        val p = graft.core.PhashLoc.encode(lon, lat)
        val (w, h) = Fixtures.dimsOf(i)
        val bpx = (w / 8).toLong * (h / 8)
        val pc = java.lang.Long.bitCount(p).toLong
        val c200 = pc * bpx; val c50 = (64L - pc) * bpx
        val mx = math.max(c50, c200)
        val coll = c50 * c50 + c200 * c200
        val nz = (if (c50 > 0) 1 else 0) + (if (c200 > 0) 1 else 0)
        val dom = mx * 1000000L / (w.toLong * h)
        val (n, sc, sd, mn, mxn) = per.getOrElse((w, h), (0L, 0L, 0L, 16, 0))
        per((w, h)) = (n + 1, sc + coll, sd + dom,
          math.min(mn, nz), math.max(mxn, nz))
      }
      val vals = per.toSeq.sortBy(_._1).map { case ((w, h), (n, sc, sd, mn, mx)) =>
        s"($w, $h, CAST($n AS BIGINT), CAST($sc AS BIGINT), " +
          s"CAST($sd AS BIGINT), $mn, $mx)"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(w, h, n_images, sum_coll, sum_dom, " +
        "min_nz, max_nz) ORDER BY w, h"
    }),
    // ---- D8 flow accumulation (q9w): density-as-elevation hydrology over
    //      the q9j hub raster — each occupied cell flows to its minimum
    //      lower neighbor (deterministic integer variant of D8), acc counts
    //      the upstream cells draining through; basins are density peaks.
    //      Oracle replays the same rule set: window argmin + recursive
    //      path walk (forest ⇒ UNION ALL terminates).
    QuerySpec("q9w_flow_accum", (s, dir) => {
      val hub = col("o_orderkey") % 37L
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        (Derive.lonMicro(hub) + (col("o_orderkey") * 48271L) % 9000001L
          - 4500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("o_orderkey") + 7L) * 16807L) % 9000001L
          - 4500000L).as("latm"))
      operators.GridRaster.flowAccumulation(pts, col("lonm"), col("latm"),
          cellMicro = 2000000L)
        .orderBy("cx", "cy")
    },
      // same deterministic rule set: window argmin direction + recursive
      // downstream path walk (strictly-decreasing forest ⇒ terminates)
      s"""WITH RECURSIVE pts AS (SELECT
         |  ${Derive.lonSql("(o_orderkey % 37)")}
         |    + (o_orderkey * 48271) % 9000001 - 4500000 AS lon,
         |  ${Derive.latSql("(o_orderkey % 37)")}
         |    + ((o_orderkey + 7) * 16807) % 9000001 - 4500000 AS lat
         |  FROM orders),
         |r AS (SELECT (lon + 180000000) // 2000000 AS cx,
         |    (lat + 90000000) // 2000000 AS cy, count(*) AS n
         |  FROM pts GROUP BY 1, 2),
         |o(dx, dy, idx) AS (VALUES (-1,-1,0),(-1,0,1),(-1,1,2),(0,-1,3),
         |  (0,1,5),(1,-1,6),(1,0,7),(1,1,8)),
         |cand AS (SELECT a.cx, a.cy, b.cx AS nx, b.cy AS ny, b.n AS nn, o.idx
         |  FROM r a CROSS JOIN o JOIN r b
         |    ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
         |  WHERE b.n < a.n),
         |flow AS (SELECT cx, cy, nx, ny FROM (SELECT *, row_number() OVER (
         |    PARTITION BY cx, cy ORDER BY nn, idx) AS rn FROM cand)
         |  WHERE rn = 1),
         |paths(s, cur) AS (
         |  SELECT cx * 1073741824 + cy, cx * 1073741824 + cy FROM r
         |  UNION ALL SELECT p.s, f.nx * 1073741824 + f.ny
         |  FROM paths p JOIN flow f ON p.cur = f.cx * 1073741824 + f.cy),
         |acc AS (SELECT cur, count(*) AS acc FROM paths GROUP BY cur)
         |SELECT r.cx, r.cy, r.n,
         |  CAST(coalesce(f.nx, -1) AS BIGINT) AS tcx,
         |  CAST(coalesce(f.ny, -1) AS BIGINT) AS tcy,
         |  CAST(CASE WHEN f.cx IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_pit,
         |  a.acc
         |FROM r LEFT JOIN flow f ON f.cx = r.cx AND f.cy = r.cy
         |JOIN acc a ON a.cur = r.cx * 1073741824 + r.cy
         |ORDER BY r.cx, r.cy""".stripMargin),
    // ---- multimodal image ops over the fixture image table (binary column
    //      + typed metadata; real raw/png decode). ORACLED: per-fmt counts
    //      derive from the generator's fmt rule (VALUES from the same
    //      Fixtures constants, not from running the operator), and the
    //      decode-integrity booleans (recomputed phash == stored phash,
    //      re-encode roundtrip PSNR ≥ 40 dB) are guarantees the oracle
    //      asserts — a decode regression turns the row red in the parity check.
    QuerySpec("q62_image_meta", (s, dir) => {
      operators.Multimodal.decodeMeta(Fixtures.images(s, 5000))
        .groupBy("fmt").agg(count(lit(1)).as("n"),
          min(col("phash_match").cast("int")).as("all_match"),
          min((col("roundtrip_psnr_db") >= 40.0).cast("int")).as("all_psnr_ok"))
        .orderBy("fmt")
    }, {
      // per-fmt counts from the generator's fmt RULE (not from running the
      // operator) — the decode-integrity booleans are asserted guarantees
      val counts = (0L until 5000L).groupBy(graft.fixtures.Fixtures.fmtOf)
        .view.mapValues(_.size).toMap
      val vals = counts.toSeq.sortBy(_._1).map { case (f, n) =>
        s"('$f', CAST($n AS BIGINT), CAST(1 AS INTEGER), CAST(1 AS INTEGER))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(fmt, n, all_match, all_psnr_ok) ORDER BY fmt"
    }),
    // ---- JOINT image+caption curation (the axes-A+B composition): planted
    //      re-uploads (rows 0..499 re-labeled with an xdup- prefix, same
    //      bytes/phash/caption) → exact phash dedup with min-id canonical
    //      election → real-decode integrity gates → min-resolution filter on
    //      DECODED pixels → caption wordpiece accounting of the kept set.
    //      Oracle: per-fmt VALUES derived from the SAME generator rules
    //      (locOf/dimsOf/fmtOf/captionOf) without decoding anything.
    QuerySpec("q6p_image_curate", (s, dir) => {
      val base = Fixtures.images(s, 5000)
      val dups = base.where(col("image_id") < lit(f"img${500L}%012d"))
        .withColumn("image_id", concat(lit("xdup-"), col("image_id")))
      operators.Multimodal.curateImages(base.unionByName(dups), minPixels = 2048)
        .orderBy("fmt")
    }, {
      // per-fmt curation report derived from the generator rules alone
      // (locOf → phash, dimsOf → pixels, fmtOf, captionOf → wordpieces);
      // the decode-integrity gates are asserted guarantees like q62's
      import graft.fixtures.Fixtures
      val wpRe = graft.operators.TextAnalysis.WordPieceRegex.r
      // (i, image_id) rows incl. the planted xdup- re-uploads of 0..499
      val rows = (0L until 5000L).flatMap { i =>
        val id = f"img$i%012d"
        if (i < 500) Seq((i, id), (i, s"xdup-$id")) else Seq((i, id))
      }
      val phashOf = (i: Long) => {
        val (lo, la) = Fixtures.locOf(i); graft.core.PhashLoc.encode(lo, la)
      }
      val canonicalIds = rows.groupBy { case (i, _) => phashOf(i) }
        .values.map(g => g.minBy(_._2)).toSet
      val fmts = rows.map { case (i, _) => Fixtures.fmtOf(i) }.distinct.sorted
      val vals = fmts.map { f =>
        val all = rows.filter { case (i, _) => Fixtures.fmtOf(i) == f }
        val canon = all.filter(canonicalIds.contains)
        val kept = canon.filter { case (i, _) =>
          val (w, h) = Fixtures.dimsOf(i); w * h >= 2048
        }
        val wp = kept.map { case (i, _) =>
          wpRe.findAllIn(Fixtures.captionOf(i)).size.toLong
        }.sum
        s"('$f', CAST(${all.size} AS BIGINT), CAST(${canon.size} AS BIGINT), " +
          s"CAST(${all.size - canon.size} AS BIGINT), CAST(${kept.size} AS BIGINT), " +
          s"CAST($wp AS BIGINT), CAST(1 AS INTEGER), CAST(1 AS INTEGER))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(fmt, n_rows, n_canonical, " +
        "n_dups_removed, n_kept_minres, wp_tokens_kept, all_decode_ok, " +
        "all_psnr_ok) ORDER BY fmt"
    }),
    // ---- aspect-ratio bucketing (SDXL-style multi-aspect batching): every
    //      image to its nearest-ratio bucket by exact integer cross-
    //      multiplication, ties to the lowest index; per-bucket loader
    //      report. Oracle: VALUES from the dims generator rule + the same
    //      integer argmin.
    QuerySpec("q6z_aspect_bucket", (s, dir) => {
      operators.Multimodal.aspectBucket(Fixtures.images(s, 5000), AspectBuckets)
        .groupBy("bucket_id", "bucket_w", "bucket_h")
        .agg(count(lit(1)).as("n_images"),
          sum(col("w").cast("long") * col("h")).as("total_src_pixels"))
        .orderBy("bucket_id")
    }, {
      // same integer nearest-ratio argmin over the dims generator rule
      import graft.fixtures.Fixtures
      val lcm = AspectBuckets.map(_._2.toLong).reduce { (a, b) =>
        @annotation.tailrec def g(x: Long, y: Long): Long = if (y == 0) x else g(y, x % y)
        a / g(a, b) * b
      }
      val per = scala.collection.mutable.Map[Int, (Long, Long)]()
      (0L until 5000L).foreach { i =>
        val (w, h) = Fixtures.dimsOf(i)
        val ks = AspectBuckets.map { case (tw, th) =>
          math.abs(w.toLong * th - tw.toLong * h) * (lcm / th)
        }
        val b = ks.indexOf(ks.min)
        val (n, p) = per.getOrElse(b, (0L, 0L))
        per(b) = (n + 1, p + w.toLong * h)
      }
      val vals = per.toSeq.sortBy(_._1).map { case (b, (n, p)) =>
        val (tw, th) = AspectBuckets(b)
        s"(CAST($b AS INTEGER), $tw, $th, CAST($n AS BIGINT), CAST($p AS BIGINT))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(bucket_id, bucket_w, bucket_h, " +
        "n_images, total_src_pixels) ORDER BY bucket_id"
    }),
    // ---- RASTER↔VECTOR zonal statistics (the north star's own composition):
    //      real pixel decode (narrow) → phash-decoded location → generic
    //      cover-cell polygon join → exact-int64 per-zone aggregate.
    //      Oracle: VALUES derived from the generator rules alone (locOf →
    //      phash → popcount pixel rule, dimsOf → block size, inclusive
    //      rect containment — same boundary rule the raycast locks).
    QuerySpec("q6w_zonal_stats", (s, dir) => {
      operators.Multimodal.zonalStats(s, Fixtures.images(s, 5000), Derive.rectSpecs)
        .orderBy("poly_id")
    }, {
      // per-zone exact stats from the generator rules alone: location from
      // locOf (phash encode∘decode is the identity), pixel sums from the
      // bit→block rule (bit set = 200, clear = 50, block = (w/8)·(h/8) px),
      // zone containment = inclusive rect test (for axis-aligned rects the
      // boundary-inclusive raycast IS the inclusive bbox test — q01 note)
      import graft.fixtures.Fixtures
      val perZone = scala.collection.mutable.Map[String, (Long, Long, Long)]()
      (0L until 5000L).foreach { i =>
        val (lon, lat) = Fixtures.locOf(i)
        val (w, h) = Fixtures.dimsOf(i)
        val bits = java.lang.Long.bitCount(graft.core.PhashLoc.encode(lon, lat))
        val bs = (w / 8).toLong * (h / 8)
        val sumLuma = bits * 200L * bs + (64L - bits) * 50L * bs
        Derive.rects.foreach { case (pid, lo, la, hi, ha) =>
          if (lon >= lo && lon <= hi && lat >= la && lat <= ha) {
            val (n, p, s0) = perZone.getOrElse(pid, (0L, 0L, 0L))
            perZone(pid) = (n + 1, p + w.toLong * h, s0 + sumLuma)
          }
        }
      }
      val vals = perZone.toSeq.sortBy(_._1).map { case (pid, (n, p, s0)) =>
        s"('$pid', CAST($n AS BIGINT), CAST($p AS BIGINT), CAST($s0 AS BIGINT))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(poly_id, n_images, total_pixels, sum_luma) " +
        "ORDER BY poly_id"
    }),
    // ---- RASTER mosaic tile rendering: per-image 8×8 block-luma sums
    //      aggregated elementwise into one mosaic grid per z=4 map tile via
    //      the mergeable vector-sum aggregate (one partial grid per
    //      (task,tile) through the shuffle — never a posexplode fan-out).
    //      mosaic_fp is a position-weighted checksum computed FROM the
    //      aggregated grid; the oracle re-derives it by linearity from the
    //      generator's bit→block rule.
    QuerySpec("q6x_tile_mosaic", (s, dir) => {
      operators.Multimodal.tileMosaic(Fixtures.images(s, 5000), z = 4, grid = 8)
        .withColumn("mosaic_fp",
          aggregate(zip_with(col("mosaic"), sequence(lit(1L), lit(64L)),
            (v, w) => v * w), lit(0L), (a, x) => a + x))
        .select("tile_z", "tile_x", "tile_y", "n_images", "total_pixels", "mosaic_fp")
        .orderBy("tile_x", "tile_y")
    }, {
      // per-tile mosaic checksum by LINEARITY: fp(Σ grids) = Σ fp(grid);
      // each image's grid block k = (200|50)·(w/8)·(h/8) from phash bit k,
      // tile = integer equirect floor rule (q02's oracle form) at z=4
      import graft.fixtures.Fixtures
      val perTile = scala.collection.mutable.Map[(Long, Long), (Long, Long, Long)]()
      (0L until 5000L).foreach { i =>
        val (lon, lat) = Fixtures.locOf(i)
        val (w, h) = Fixtures.dimsOf(i)
        val phash = graft.core.PhashLoc.encode(lon, lat)
        val bs = (w / 8).toLong * (h / 8)
        var fp = 0L; var k = 0
        while (k < 64) {
          val v = if (((phash >>> k) & 1L) == 1L) 200L else 50L
          fp += (k + 1) * v * bs
          k += 1
        }
        val tx = Math.floorDiv((lon + 180000000L) * 16L, 360000000L)
        val ty = Math.floorDiv((90000000L - lat) * 16L, 180000000L)
        val (n, p, f0) = perTile.getOrElse((tx, ty), (0L, 0L, 0L))
        perTile((tx, ty)) = (n + 1, p + w.toLong * h, f0 + fp)
      }
      val vals = perTile.toSeq.sortBy(_._1).map { case ((tx, ty), (n, p, f0)) =>
        s"(4, CAST($tx AS BIGINT), CAST($ty AS BIGINT), CAST($n AS BIGINT), " +
          s"CAST($p AS BIGINT), CAST($f0 AS BIGINT))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(tile_z, tile_x, tile_y, n_images, " +
        "total_pixels, mosaic_fp) ORDER BY tile_x, tile_y"
    }),
    // ---- RASTER overview pyramid (gdaladdo/COG-overviews shape): the z=4
    //      mosaic plus its z=3 level from ONE spatial 2×2 fold — each child
    //      tile's grid scatters into its quadrant of the parent, 4 child
    //      cells per parent cell, aggregated through the same mergeable
    //      vec_sum. Oracle: VALUES by linearity from the generator's
    //      bit→block rule, with the quadrant mapping composed for z=3.
    QuerySpec("q7d_tile_pyramid", (s, dir) => {
      operators.Multimodal.tilePyramid(Fixtures.images(s, 5000), z = 4, zMin = 3)
        .withColumn("mosaic_fp",
          aggregate(zip_with(col("mosaic"), sequence(lit(1L), lit(64L)),
            (v, w) => v * w), lit(0L), (a, x) => a + x))
        .select("tile_z", "tile_x", "tile_y", "n_images", "total_pixels", "mosaic_fp")
        .orderBy("tile_z", "tile_x", "tile_y")
    }, {
      // both levels by LINEARITY from the generator rule (q6x's form): the
      // z=4 rows are exactly q6x's; the z=3 rows compose the quadrant map —
      // image block (i,j) in child (tx,ty) lands in parent cell
      // ((ty%2·8+i) div 2, (tx%2·8+j) div 2) of tile (tx div 2, ty div 2)
      import graft.fixtures.Fixtures
      val perTile = scala.collection.mutable.Map[(Int, Long, Long), (Long, Long, Long)]()
      (0L until 5000L).foreach { i =>
        val (lon, lat) = Fixtures.locOf(i)
        val (w, h) = Fixtures.dimsOf(i)
        val phash = graft.core.PhashLoc.encode(lon, lat)
        val bs = (w / 8).toLong * (h / 8)
        val tx = Math.floorDiv((lon + 180000000L) * 16L, 360000000L)
        val ty = Math.floorDiv((90000000L - lat) * 16L, 180000000L)
        val oy = (ty % 2).toInt; val ox = (tx % 2).toInt
        var fp4 = 0L; var fp3 = 0L; var k = 0
        while (k < 64) {
          val v = if (((phash >>> k) & 1L) == 1L) 200L else 50L
          fp4 += (k + 1) * v * bs
          val p = ((oy * 8 + k / 8) / 2) * 8 + (ox * 8 + k % 8) / 2
          fp3 += (p + 1) * v * bs
          k += 1
        }
        def add(key: (Int, Long, Long), fp: Long): Unit = {
          val (n, px, f0) = perTile.getOrElse(key, (0L, 0L, 0L))
          perTile(key) = (n + 1, px + w.toLong * h, f0 + fp)
        }
        add((4, tx, ty), fp4)
        add((3, tx / 2, ty / 2), fp3)
      }
      val vals = perTile.toSeq.sortBy(_._1).map { case ((z, tx, ty), (n, p, f0)) =>
        s"($z, CAST($tx AS BIGINT), CAST($ty AS BIGINT), CAST($n AS BIGINT), " +
          s"CAST($p AS BIGINT), CAST($f0 AS BIGINT))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(tile_z, tile_x, tile_y, n_images, " +
        "total_pixels, mosaic_fp) ORDER BY tile_z, tile_x, tile_y"
    }),
    // ---- frame sampling (video-pipeline shape). ORACLED: per-image frame
    //      counts are a closed form of the generator's height rule
    //      (ceil((h/frameH)/stride)); the oracle derives the expected
    //      (n_frames, n_images) histogram from Fixtures.dimsOf — the
    //      operator must decode and fan out to exactly those counts.
    QuerySpec("q64_frame_sample", (s, dir) => {
      operators.Multimodal.sampleFrames(Fixtures.images(s, 2000), frameH = 8, stride = 2)
        .groupBy("image_id").agg(count(lit(1)).as("n_frames"))
        .groupBy("n_frames").agg(count(lit(1)).as("n_images"))
        .orderBy("n_frames")
    }, {
      // frames per image = ceil((h/frameH)/stride) with frameH=8, stride=2,
      // h from the generator's dims rule
      val hist = (0L until 2000L).map(i => (graft.fixtures.Fixtures.dimsOf(i)._2 / 8 + 1) / 2)
        .groupBy(identity).view.mapValues(_.size).toMap
      val vals = hist.toSeq.sorted.map { case (f, n) =>
        s"(CAST($f AS BIGINT), CAST($n AS BIGINT))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(n_frames, n_images) ORDER BY n_frames"
    }),
    // ---- ISOCHRONE raster (q9j): cells reachable from 3 hub centers
    //      within 6 rook steps, walking only occupied cells (occupancy as
    //      walkability) — BFS = the q83 SSSP engine on packed cell keys,
    //      operator composition over the q93 hub raster.
    QuerySpec("q9j_isochrone", (s, dir) => {
      val hub = col("o_orderkey") % 37L
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        (Derive.lonMicro(hub) + (col("o_orderkey") * 48271L) % 9000001L
          - 4500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("o_orderkey") + 7L) * 16807L) % 9000001L
          - 4500000L).as("latm"))
      val sources = (0L until 3L).map(j =>
        (Derive.lonMicroL(j), Derive.latMicroL(j)))
      operators.GridRaster.isochrone(pts, col("lonm"), col("latm"),
          cellMicro = 2000000L, sources, maxSteps = 6)
        .orderBy("cx", "cy")
    }, {
      // q83's chained-relaxation discipline on the mask's rook graph
      val K = 1073741824L; val g = 2000000L
      val srcs = (0L until 3L).map { j =>
        ((Derive.lonMicroL(j) + 180000000L) / g) * K +
          (Derive.latMicroL(j) + 90000000L) / g
      }
      val d0 = srcs.map(id => s"($id, 0)").mkString(", ")
      val rounds = (1 to 6).map { k =>
        s"""d$k AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
           |  SELECT node, dist FROM d${k - 1} UNION ALL
           |  SELECT e.d AS node, d${k - 1}.dist + 1 AS dist
           |  FROM d${k - 1} JOIN e ON d${k - 1}.node = e.s) GROUP BY node)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("(o_orderkey % 37)")}
         |    + (o_orderkey * 48271) % 9000001 - 4500000 + 180000000 AS wx,
         |  ${Derive.latSql("(o_orderkey % 37)")}
         |    + ((o_orderkey + 7) * 16807) % 9000001 - 4500000 + 90000000 AS wy
         |  FROM orders),
         |m AS (SELECT wx // $g AS px, wy // $g AS py FROM pts GROUP BY 1, 2),
         |e0 AS (SELECT a.px * $K + a.py AS s, b.px * $K + b.py AS d
         |  FROM m a JOIN m b ON (b.px = a.px + 1 AND b.py = a.py)
         |    OR (b.px = a.px AND b.py = a.py + 1)),
         |e AS MATERIALIZED (SELECT s, d FROM e0
         |  UNION ALL SELECT d AS s, s AS d FROM e0),
         |d0 AS (SELECT * FROM (VALUES $d0) t(node, dist)),
         |$rounds
         |SELECT node // $K AS cx, node % $K AS cy, dist AS dist_steps
         |FROM d6 ORDER BY cx, cy""".stripMargin
    }),
    // ---- CATCHMENT allocation (q9r): the q9j isochrone with an answer to
    //      "reached by WHOM" — every occupied cell within 6 rook steps is
    //      labeled by its nearest of 3 hub sources (ties → smaller index);
    //      network Voronoi via the confluent (dist, label) relaxation.
    QuerySpec("q9r_catchments", (s, dir) => {
      val hub = col("o_orderkey") % 37L
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        (Derive.lonMicro(hub) + (col("o_orderkey") * 48271L) % 9000001L
          - 4500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("o_orderkey") + 7L) * 16807L) % 9000001L
          - 4500000L).as("latm"))
      val sources = (0L until 3L).map(j =>
        (Derive.lonMicroL(j), Derive.latMicroL(j)))
      operators.GridRaster.catchments(pts, col("lonm"), col("latm"),
          cellMicro = 2000000L, sources, maxSteps = 6)
        .orderBy("cx", "cy")
    }, {
      // q9j's chained relaxation with labels: per round, union then min
      // dist per node, then min label among rows achieving it
      val K = 1073741824L; val g = 2000000L
      val d0 = (0L until 3L).map { j =>
        val id = ((Derive.lonMicroL(j) + 180000000L) / g) * K +
          (Derive.latMicroL(j) + 90000000L) / g
        s"($id, 0, $j)"
      }.mkString(", ")
      val rounds = (1 to 6).map { k =>
        s"""c$k AS (SELECT node, dist, lab FROM d${k - 1} UNION ALL
           |  SELECT e.d AS node, d${k - 1}.dist + 1 AS dist, d${k - 1}.lab
           |  FROM d${k - 1} JOIN e ON d${k - 1}.node = e.s),
           |d$k AS (SELECT c.node, CAST(mm.m AS BIGINT) AS dist,
           |  CAST(min(c.lab) AS BIGINT) AS lab
           |  FROM c$k c JOIN (SELECT node, min(dist) AS m FROM c$k
           |    GROUP BY node) mm ON mm.node = c.node AND c.dist = mm.m
           |  GROUP BY c.node, mm.m)""".stripMargin
      }.mkString(",\n")
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("(o_orderkey % 37)")}
         |    + (o_orderkey * 48271) % 9000001 - 4500000 + 180000000 AS wx,
         |  ${Derive.latSql("(o_orderkey % 37)")}
         |    + ((o_orderkey + 7) * 16807) % 9000001 - 4500000 + 90000000 AS wy
         |  FROM orders),
         |m AS (SELECT wx // $g AS px, wy // $g AS py FROM pts GROUP BY 1, 2),
         |e0 AS (SELECT a.px * $K + a.py AS s, b.px * $K + b.py AS d
         |  FROM m a JOIN m b ON (b.px = a.px + 1 AND b.py = a.py)
         |    OR (b.px = a.px AND b.py = a.py + 1)),
         |e AS MATERIALIZED (SELECT s, d FROM e0
         |  UNION ALL SELECT d AS s, s AS d FROM e0),
         |d0 AS (SELECT * FROM (VALUES $d0) t(node, dist, lab)),
         |$rounds
         |SELECT node // $K AS cx, node % $K AS cy, dist AS dist_steps,
         |  lab AS src_id FROM d6 ORDER BY cx, cy""".stripMargin
    }),
  )
}
