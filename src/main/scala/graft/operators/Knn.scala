package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.FixedPoint
import graft.functions.GraftFunctions._

/** kNN join via iterative cell-ring expansion (SURVEY.md C4; BASELINE.json
  * north_star "kNN via iterative H3 k-ring expansion joins" — our grid is the
  * hand-built Morton ZGrid, same k-ring idea), plus the exact radius join.
  * Each operator has one entry point, [[knnJoinDf]] and [[radiusJoinDf]],
  * whose query side is a DataFrame: a small query set is a small table, and
  * nothing about the queries is collected to the driver.
  *
  * Algorithm (exact, not approximate):
  *   round r: every active query row explodes to the square of cells with
  *   Chebyshev cell-radius r around its own cell, equi-joins the point table
  *   on cell, and keeps its k nearest candidates. A query is finished once
  *   it holds k neighbours whose kth distance is strictly under the lower
  *   bound of any unexplored cell; the rest expand to 2r next round.
  *
  * Per-query top-k: a window top-k — whole-stage-codegen sort of each
  * query's candidates by (distance, neighbour id) and `row_number` ≤ k.
  * Spark plans it with a partial WindowGroupLimit before the exchange, so
  * at most k rows per query per map partition are shuffled (docs/PLANS.md,
  * q0e section). Measured against the bounded k-heap aggregate
  * (KnnTopKAgg), the window won 2–2.5× at fixture candidate sizes (q06
  * 1.3 s vs 3.3 s isolated) and tied at 8M points (4.1 vs 4.4 s), and it
  * takes neighbour ids of any orderable type.
  *
  * Distance metrics (`metric` parameter):
  *   - "planar" (default): squared planar micro-degree distance —
  *     int64-exact (|Δ| ≤ 3.6e8 ⇒ Δ² ≤ 1.3e17, sum < 2.7e17 << 2^63), so
  *     ranks are bit-reproducible and DuckDB's brute-force cross join is an
  *     exact oracle. Ring bound: a point ≥ r whole cells away is
  *     ≥ r·minCellSpan micro-degrees away.
  *   - "haversine": great-circle meters (double; Spark builtin sin/cos/asin
  *     — codegen, same formula text as the DuckDB twin). The ring bound is
  *     latitude-aware: meridional separation gives d ≥ r·latSpan·m_per_deg;
  *     pure-longitude separation gives d ≥ 2R·asin(cos φ_band ·
  *     sin(r·lonSpan/2)) with φ_band = |φq| + (r+1)·latSpan (sin²(d/2R) ≥
  *     cos φ1 cos φ2 sin²(Δλ/2)); the bound takes the min and collapses to
  *     0 near the poles, where termination falls back to the world-covering
  *     r ≥ maxR round. This is what real spatial users need at high
  *     latitude — the planar metric narrows E-W radii by cos(lat)
  *     (upstream computes geodesic metrics too [ref: oshdb-util/…/Geo.java]).
  *
  * At 100 TB: the point table is scanned once per round (2–3 rounds typical
  * when `level` is chosen from point density), and finished queries leave
  * the next round, so later scans serve only the stragglers.
  */
object Knn {
  val EARTH_R: Double = graft.core.GeoMetrics.EARTH_RADIUS_M
  val M_PER_DEG: Double = EARTH_R * math.Pi / 180.0

  /** Haversine meters between micro-degree coordinate columns, from Spark
    * builtins only (codegen'd; the DuckDB oracle mirrors the formula text).
    */
  def haversineMeters(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    def rad(c: Column) = radians(c.cast("double") / lit(1000000.0))
    val a = pow(sin((rad(lat2) - rad(lat1)) / 2), 2) +
      cos(rad(lat1)) * cos(rad(lat2)) * pow(sin((rad(lon2) - rad(lon1)) / 2), 2)
    lit(2.0 * EARTH_R) * asin(least(lit(1.0), sqrt(a)))
  }

  /** Micro-degree (lonHalf, latHalf) of a bbox covering the haversine disk
    * of `radiusMeters` at latitude `latMicro` — the standard spherical-cap
    * bounding box: Δφ = r/R, Δλ = asin(sin(r/R)/cos φ), full lon range when
    * the cap reaches a pole (public formula, e.g. Matuschek's bounding-box
    * note). +1 µdeg guard on each half for the rounding.
    */
  def haversineBBoxHalf(latMicro: Long, radiusMeters: Double): (Long, Long) = {
    val dPhiDeg = radiusMeters / M_PER_DEG
    val latHalf = math.min(180000000L, math.ceil(dPhiDeg * 1e6).toLong + 1)
    val phiAbsDeg = math.abs(latMicro).toDouble / 1e6
    val sinR = math.sin(radiusMeters / EARTH_R)
    val cosPhi = math.cos(math.toRadians(phiAbsDeg))
    if (phiAbsDeg + dPhiDeg >= 90.0 || sinR >= cosPhi) (180000000L, latHalf)
    else {
      val dLamDeg = math.toDegrees(math.asin(sinR / cosPhi))
      (math.min(180000000L, math.ceil(dLamDeg * 1e6).toLong + 1), latHalf)
    }
  }

  /** Lower bound (meters) on the haversine distance from a query at
    * latitude `latCol` (micro-degrees) to any point ≥ r whole cells away
    * (Chebyshev) at `level`. Collapses to 0 when the latitude band reaches
    * a pole — the query then keeps expanding (r ≥ maxR terminates).
    */
  private def haversineRingBoundCol(latCol: Column, r: Int, level: Int): Column = {
    val latSpanDeg = (FixedPoint.LAT_RANGE >> level).toDouble / 1e6
    val lonSpanDeg = (FixedPoint.LON_RANGE >> level).toDouble / 1e6
    val dLat = lit(r * latSpanDeg * M_PER_DEG)
    val bandDeg = abs(latCol).cast("double") / lit(1e6) + lit((r + 1) * latSpanDeg)
    val dLon = lit(2 * EARTH_R) * asin(least(lit(1.0),
      cos(radians(bandDeg)) * lit(math.sin(math.toRadians(r * lonSpanDeg) / 2))))
    when(bandDeg >= 90.0, lit(0.0)).otherwise(least(dLat, dLon))
  }

  private def requireMetric(metric: String): Boolean = metric match {
    case "planar" => true
    case "haversine" => false
    case other => throw new IllegalArgumentException(
      s"metric must be planar|haversine, got $other")
  }

  /** distance column + its output name for a metric. */
  private def distCol(metric: String): (Column, String) =
    if (requireMetric(metric))
      ((col("_plon") - col("_qlon")) * (col("_plon") - col("_qlon")) +
        (col("_plat") - col("_qlat")) * (col("_plat") - col("_qlat")), "d2")
    else
      (haversineMeters(col("_qlon"), col("_qlat"), col("_plon"), col("_plat")), "d_m")

  /** Exact radius (range) join: every `points` row within the radius of
    * each `queries` row — planar micro-degrees (int64-exact d²,
    * oracle-friendly, `radiusMicro`) or haversine meters (`radiusMeters`).
    * Each query row explodes to the cell square covering its disk bbox (one
    * round, the radius is fixed), equi-joins on cell, then the exact
    * distance filter. The cell cover is a superset of the disk, so
    * correctness never depends on the ring size — only the candidate count
    * does. For haversine the ring radius is sized from the query table's
    * max |lat| (one tiny pre-agg): conservative for low-latitude queries,
    * correct for all.
    *
    * @return (qid, neighbor_id, d2|d_m)
    */
  def radiusJoinDf(spark: SparkSession, points: DataFrame, pId: Column,
                   pLon: Column, pLat: Column, queries: DataFrame, qId: Column,
                   qLon: Column, qLat: Column, radiusMicro: Long = 0L,
                   level: Int, metric: String = "planar",
                   radiusMeters: Double = 0.0): DataFrame = {
    val planar = requireMetric(metric)
    require(if (planar) radiusMicro > 0 else radiusMeters > 0,
      "pass radiusMicro for planar, radiusMeters for haversine")
    val (lonHalf, latHalf) =
      if (planar) (radiusMicro, radiusMicro)
      else {
        // an empty query table has a NULL max; any latitude serves it
        val maxAbsLat = queries.agg(coalesce(max(abs(qLat.cast("long"))), lit(0L)))
          .collect()(0).getLong(0)
        haversineBBoxHalf(maxAbsLat, radiusMeters)
      }
    val rx = lonHalf / (FixedPoint.LON_RANGE >> level)
    val ry = latHalf / (FixedPoint.LAT_RANGE >> level)
    val rr = (math.max(rx, ry) + 1).toInt
    // geodesic disks wrap in longitude (±180 seam, polar caps) — wrapX
    // makes the ring modulo-2^level on the x axis; planar clamps
    val cand = queries.select(qId.as("qid"), qLon.as("_qlon"), qLat.as("_qlat"))
      .withColumn("_pcell", explode(ringCells(col("_qlon"), col("_qlat"), level, rr,
        wrapX = !planar)))
    val src = points.select(pId.as("neighbor_id"), pLon.as("_plon"), pLat.as("_plat"))
      .withColumn("_pcell", zcell(col("_plon"), col("_plat"), level))
      .join(cand, Seq("_pcell"))
    val (d, dName) = distCol(metric)
    val filtered = src.withColumn(dName, d)
    (if (planar) filtered.where(col(dName) <= radiusMicro * radiusMicro)
     else filtered.where(col(dName) <= radiusMeters))
      .select("qid", "neighbor_id", dName)
  }

  /** Window top-k per query over a joined candidate frame carrying
    * (qid, _qlon, _qlat, neighbor_id, _plon, _plat): the
    * (qid, _qlat, neighbor_id, rank, d2|d_m) rows with rank ≤ k.
    */
  private def topK(joined: DataFrame, metric: String, k: Int): DataFrame = {
    val (d, dName) = distCol(metric)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col(dName), col("neighbor_id"))
    joined.withColumn(dName, d)
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("qid"), col("_qlat"), col("neighbor_id"), col("rank"), col(dName))
  }

  /** Exact k nearest `points` rows for every `queries` row. The query side
    * stays distributed, so arbitrarily large query tables work: tile-serving
    * joins, all-pairs kNN, the reference's MapReducer-over-entities shape.
    *
    * Per round r: every ACTIVE query row explodes to its (2r+1)² ring cells
    * (codegen RingCellsExpr — a few long columns, no strings), equi-joins the
    * point table on cell (Catalyst/AQE picks broadcast vs sort-merge from the
    * candidate side's size), then the window top-k. Queries whose kth
    * neighbour distance is strictly inside the explored ring are FINISHED:
    * their rows are banked and they leave the next round — the iteration
    * only ever re-scans for stragglers in sparse regions. Driver sees one
    * scalar count per round (control only). The strict < on the bound
    * forbids an unexplored point at exactly the bound distance from tying
    * the kth row and winning the (d, id) tie-break.
    *
    * @param level grid level for ring expansion (cells ≈ point spacing·k)
    * @param r0    initial ring radius (≥1 saves rounds when k > density)
    * @return (qid, neighbor_id, rank, d2|d_m) — exactly k rows per query
    *         unless the table holds fewer than k rows in total
    */
  def knnJoinDf(spark: SparkSession, points: DataFrame, pId: Column,
                pLon: Column, pLat: Column, queries: DataFrame, qId: Column,
                qLon: Column, qLat: Column, k: Int, level: Int,
                r0: Int = 1, metric: String = "planar"): DataFrame = {
    val planar = requireMetric(metric)
    require(k >= 1)
    val minSpan = math.min(FixedPoint.LON_RANGE >> level, FixedPoint.LAT_RANGE >> level)
    val maxR = (1L << level).toInt

    val pts = points.select(pId.as("neighbor_id"), pLon.as("_plon"), pLat.as("_plat"))
      .withColumn("_pcell", zcell(col("_plon"), col("_plat"), level))
    var active = queries.select(qId.as("qid"), qLon.as("_qlon"), qLat.as("_qlat"))
      .localCheckpoint()
    val dName = distCol(metric)._2
    // starts empty with the result's schema, so a query-free call keeps the
    // point id's type; the optimizer drops this empty branch of the union
    var acc = topK(pts.join(active), metric, k).drop("_qlat").where(lit(false))
    var r = math.max(1, r0)
    var remaining = active.limit(1).count()
    // straggler guard (sparse regions, |points| < k): RingCellsExpr
    // materializes a (2r+1)² long array PER ACTIVE ROW — at level 12 the
    // final doubling rounds would allocate ~16M-element (~128 MB) arrays and
    // OOM the executor before r ≥ maxR terminates. Past this cap, remaining
    // stragglers switch to a direct full-scan top-k (no ring explosion);
    // exact because the full scan needs no pruning bound.
    val maxRingCellsPerQuery = 100000L
    while (remaining > 0) {
      val ringTooBig = (2L * r + 1) * (2L * r + 1) > maxRingCellsPerQuery
      val joined =
        if (ringTooBig) pts.join(broadcast(active)) // stragglers are few: broadcast × full scan
        else pts.join(active.withColumn("_pcell",
          explode(ringCells(col("_qlon"), col("_qlat"), level, r,
            wrapX = !planar))), Seq("_pcell"))
      // the round's ≤ k rows per query materialize once: the retirement
      // test, the banked result and the next active set all read them, so
      // neither this round's join nor a lazy union of rounds re-runs it
      val topk = topK(joined, metric, k).localCheckpoint()
      val doneIds =
        if (r >= maxR || ringTooBig) active.select("qid") // whole world explored
        else {
          val bound =
            if (planar) { val b = r.toLong * minSpan; lit(b * b) }
            else haversineRingBoundCol(col("_qlat"), r, level)
          // a query holds k rows iff its rank-k row exists
          topk.where(col("rank") === k && col(dName) < bound).select("qid")
        }
      acc = acc.union(topk.join(doneIds, Seq("qid"), "left_semi").drop("_qlat"))
      active = active.join(doneIds, Seq("qid"), "left_anti").localCheckpoint()
      remaining = active.limit(1).count()
      r = math.min(maxR, r * 2)
    }
    acc
  }
}
