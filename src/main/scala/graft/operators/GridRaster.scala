package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector→raster grid analytics: build regular-grid rasters FROM point
  * tables — the inverse direction of the zonal-statistics / mosaic ops in
  * [[Multimodal]] (which aggregate existing rasters). Both operators are
  * integer-exact so a DuckDB twin reproduces every cell bit-for-bit; all
  * integer divisions run on NON-NEGATIVE world-shifted coordinates, where
  * Spark's truncating `div` and DuckDB's flooring `//` coincide.
  *
  * The grid: uniform `cellMicro`-sized cells anchored at the world corner
  * (−180e6, −90e6); cell (cx, cy) has center at world-shifted
  * (cx·g + g/2, cy·g + g/2), so `cellMicro` must be even (integer centers).
  * Plain (cx, cy) indices, not Morton: raster consumers want row/column
  * math and the oracle stays readable; nothing here needs z-order locality
  * because each op's shuffle key IS the cell.
  */
object GridRaster {

  /** INVERSE-DISTANCE-WEIGHTED interpolation of a point attribute onto the
    * grid (Shepard's method, p = 2) — "sensor readings → continuous
    * surface". For each cell whose CENTER has at least one point within
    * `radiusMicro`: value = Σ wᵢ·vᵢ div Σ wᵢ with the EXACT integer weight
    * wᵢ = scale div (d²ᵢ div d2Quant + 1) — d² quantized to `d2Quant`-sized
    * steps so distant in-radius points keep a NONZERO weight (guarded:
    * r² div d2Quant + 1 must stay ≤ scale) while a point on the center gets
    * the dominant w = scale. All int64: w ≤ scale = 10¹², and Σ w·v needs
    * v·scale·n < 2^63 — fine for attribute values up to ~10³ at thousands
    * of in-radius points (scale is a parameter when the budget differs).
    *
    * Candidate-bound proof: for cx < (max(wx−r, 0)) div g the center
    * cx·g + g/2 < wx − r, and for cx > (min(wx+r, W−1)) div g it is
    * > wx + r — so the explode range covers exactly the cells that can
    * pass the exact d² ≤ r² filter, no ±1 slack and no missed cell.
    *
    * Plan (100 TB posture): each point explodes to that bounded square of
    * cells (fan-out ≤ (2r/g + 2)²; pick g ≈ r), then ONE hash aggregate on
    * (cx, cy) with map-side partial sums — the shuffle carries two int64
    * partials per (task, cell), never the points. No driver structure, no
    * broadcast; a sensor-hotspot cell is still one group (values, not
    * rows, aggregate).
    */
  def idwGrid(points: DataFrame, lonCol: Column, latCol: Column,
              valueCol: Column, cellMicro: Long, radiusMicro: Long,
              scale: Long = 1000000000000L, d2Quant: Long = 10000L): DataFrame = {
    require(cellMicro > 0 && cellMicro % 2 == 0, "cellMicro must be positive even")
    require(radiusMicro > 0 && scale > 0 && d2Quant > 0,
      "radius, scale and d2Quant must be positive")
    require(radiusMicro * radiusMicro / d2Quant + 1 <= scale,
      "weights underflow to 0 at the radius edge: raise scale or d2Quant")
    val g = cellMicro; val r = radiusMicro
    val pts = points.select(
      (lonCol.cast("long") + 180000000L).as("_wx"),
      (latCol.cast("long") + 90000000L).as("_wy"),
      valueCol.cast("long").as("_v"))
    val cand = pts
      .withColumn("cx", explode(sequence(
        expr(s"greatest(_wx - $r, 0L) div $g"),
        expr(s"least(_wx + $r, ${360000000L - 1}L) div $g"))))
      .withColumn("cy", explode(sequence(
        expr(s"greatest(_wy - $r, 0L) div $g"),
        expr(s"least(_wy + $r, ${180000000L - 1}L) div $g"))))
      .withColumn("_d2", expr(
        s"(_wx - (cx * $g + ${g / 2})) * (_wx - (cx * $g + ${g / 2})) + " +
        s"(_wy - (cy * $g + ${g / 2})) * (_wy - (cy * $g + ${g / 2}))"))
    cand.where(col("_d2") <= r * r)
      .select(col("cx"), col("cy"),
        expr(s"$scale div (_d2 div $d2Quant + 1L)").as("_w"),
        (expr(s"$scale div (_d2 div $d2Quant + 1L)") * col("_v")).as("_wv"))
      .groupBy("cx", "cy")
      .agg(count(lit(1)).as("n_points"),
        expr("sum(_wv) div sum(_w)").as("idw_value"))
  }

  /** Binomial-smoothed density heatmap — per-cell point counts convolved
    * with the 3×3 binomial kernel [1 2 1; 2 4 2; 1 2 1] (the standard
    * separable Gaussian approximation), zero-padded at the world edge.
    * Output: every cell with a nonzero smoothed count,
    * (cx, cy, raw = its own count, smoothed = Σ kernel·neighbor count).
    *
    * Plan: ONE hash aggregate collapses points to (cell, count) — after
    * this the data is raster-sized, not point-sized — then the 3×3
    * convolution explodes each nonzero cell to its ≤9 neighbors (9×
    * raster rows, trivial) and a second hash aggregate sums; `raw` rides
    * the same aggregate as the center-offset contribution, so the plan
    * stays two exchanges total and never re-touches the points.
    */
  /** RASTER→VECTOR polygonization — the missing direction of the
    * raster↔vector pair (GDAL `polygonize` / Rasterio `features.shapes`):
    * threshold the per-cell density raster into a binary mask, then return
    * one row per 4-CONNECTED REGION of mask cells — the "turn the density
    * surface back into discrete places" verb (settlement footprints from
    * photo density, burned-area patches from hotspot counts).
    *
    * Determinism: a region is identified by its minimum cell (row-major
    * (cx, cy) packed key), so output is a pure function of the input —
    * (rx, ry) = that cell's indices, plus cell count, total point mass and
    * the region's cell-index bbox.
    *
    * Plan (100 TB posture): points collapse to (cell, count) in exchange
    * one — everything after is RASTER-sized. Mask edges are one equi-join
    * of each mask cell against its right/up neighbor keys (each undirected
    * adjacency produced exactly once), components via [[Dedup.dupClusters]]
    * (one task when the edges fit its bound, else alternating star
    * contraction, O(log² n) rounds, convergence `require`d — region
    * diameters are raster-bounded), then ONE hash
    * aggregate per region. No driver-side data, no all-pairs stage.
    */
  def polygonize(points: DataFrame, lonCol: Column, latCol: Column,
                 cellMicro: Long, minCount: Long): DataFrame = {
    require(cellMicro > 0, "cellMicro must be positive")
    require(minCount >= 1, "minCount must be >= 1")
    val g = cellMicro
    val maxX = 360000000L / g - 1; val maxY = 180000000L / g - 1
    val K = 1073741824L // pack (px, py): px < 2^29 for g >= 1, py < K
    val mask = points.select(
        (lonCol.cast("long") + 180000000L).as("_wx"),
        (latCol.cast("long") + 90000000L).as("_wy"))
      .select(expr(s"_wx div $g").as("px"), expr(s"_wy div $g").as("py"))
      .where(col("px").between(0L, maxX) && col("py").between(0L, maxY))
      .groupBy("px", "py").agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
      .withColumn("k", col("px") * K + col("py"))
      .localCheckpoint() // referenced by edges (twice) + labels + rollup
    val edges = mask
      .select(col("k").as("id_a"),
        explode(array(col("k") + K, col("k") + 1L)).as("id_b"))
      .join(mask.select(col("k").as("id_b")), "id_b")
      // right-neighbor key of (maxX, py) would alias to px=0 of the next
      // row-major block only if px could exceed maxX — it can't (masked
      // above); +1 wraps py→py+1 only past maxY, also masked out
      .select("id_a", "id_b")
    val comp = Dedup.dupClusters(edges)
      .select(col("doc_id").as("k"), col("cluster_id").as("_lbl"))
    mask.join(comp, Seq("k"), "left")
      .select(col("px"), col("py"), col("n"),
        coalesce(col("_lbl"), col("k")).as("_lbl")) // isolated cell = own region
      .groupBy("_lbl")
      .agg(count(lit(1)).as("n_cells"), sum("n").as("total_points"),
        min("px").as("cx_min"), max("px").as("cx_max"),
        min("py").as("cy_min"), max("py").as("cy_max"))
      .select(expr(s"_lbl div $K").as("rx"), (col("_lbl") % K).as("ry"),
        col("n_cells"), col("total_points"),
        col("cx_min"), col("cx_max"), col("cy_min"), col("cy_max"))
  }

  /** Global MORAN'S I spatial autocorrelation of the point-density raster —
    * the clustered-vs-dispersed diagnostic [Moran 1950], the standard first
    * question asked of any geographic distribution (hotspot screening
    * before drilling into local statistics).
    *
    * Units are the OCCUPIED cells (≥1 point — the quadrat convention for
    * sparse point data); weights are rook adjacency (shared edge),
    * symmetric, reported as ORDERED pair count W (each undirected adjacency
    * contributes 2, the classical normalization). Exact integer surface:
    * with N = #cells and S = Σx, the N-scaled deviation uᵢ = N·xᵢ − S turns
    *   I = (N / W) · Σ_{i~j} uᵢuⱼ / Σᵢ uᵢ²
    * into a ratio of exact int64 sums — the operator emits ONE row
    * (n_cells, w_ordered, num_scaled, den_scaled) and leaves the single
    * float division to the consumer, so the result is engine-invariant and
    * oracle-hashable. Overflow ceiling: |u| ≤ N·max(x), so Σu² ≤ N³·max(x)²
    * must stay < 2^63 — at a 10^6-cell raster that allows max(x) ~ 3·10³;
    * coarsen the grid or pre-scale counts past it.
    *
    * Plan (100 TB posture): points collapse to (cell, count) in exchange
    * ONE — everything after is raster-sized. (N, S) is a single tiny
    * aggregate broadcast back onto the cells; adjacency is the polygonize
    * equi-join of each cell against its right/up neighbor keys (each
    * undirected pair produced exactly once, doubled in the sum — no 8× nor
    * dedup exchange); numerator and denominator are single-row aggregates.
    * No window, no sort, no driver-side raster.
    */
  def moransI(points: DataFrame, lonCol: Column, latCol: Column,
              cellMicro: Long): DataFrame = {
    require(cellMicro > 0, "cellMicro must be positive")
    val g = cellMicro
    val maxX = 360000000L / g - 1; val maxY = 180000000L / g - 1
    val K = 1073741824L // pack (px, py); py ≤ maxY < K so +1 never rolls px
    val cells = points.select(
        (lonCol.cast("long") + 180000000L).as("_wx"),
        (latCol.cast("long") + 90000000L).as("_wy"))
      .select(expr(s"_wx div $g").as("px"), expr(s"_wy div $g").as("py"))
      .where(col("px").between(0L, maxX) && col("py").between(0L, maxY))
      .groupBy("px", "py").agg(count(lit(1)).as("n"))
      .localCheckpoint() // feeds stats + both adjacency sides + denominator
    val stats = cells.agg(count(lit(1)).as("nc"), sum("n").as("s"))
    val u = cells.crossJoin(broadcast(stats))
      .select(col("px"), col("py"), col("nc"),
        (col("nc") * col("n") - col("s")).as("u"))
    val uk = u.withColumn("k", col("px") * K + col("py"))
    val adj = uk.select(col("k").as("ka"), col("u").as("ua"),
        explode(array(col("k") + K, col("k") + 1L)).as("kb"))
      .join(uk.select(col("k").as("kb"), col("u").as("ub")), "kb")
    val num = adj.agg((sum(col("ua") * col("ub")) * 2L).as("_num"),
      (count(lit(1)) * 2L).as("w_ordered"))
    u.agg(max("nc").as("n_cells"), sum(col("u") * col("u")).as("den_scaled"))
      .crossJoin(broadcast(num))
      .select(col("n_cells"), col("w_ordered"),
        coalesce(col("_num"), lit(0L)).as("num_scaled"), col("den_scaled"))
  }

  /** LOCAL Moran's I (LISA, [Anselin 1995]) — the per-cell drill-down of
    * [[moransI]]: which cells are the hotspots, coldspots and spatial
    * outliers behind the global statistic. Same units (occupied cells),
    * same rook weights, same N-scaled deviations uᵢ = N·xᵢ − S, so the
    * global numerator is exactly Σᵢ uᵢ·nbrᵢ over this output.
    *
    * Emits one row per occupied cell: (cx, cy, n, u_scaled, nbr_u_sum,
    * nbr_cnt). Local Iᵢ ∝ uᵢ·nbr_u_sum (the classical zᵢ·Σwᵢⱼzⱼ up to the
    * global variance divisor, which is one [[moransI]] call away) — the
    * SIGNS alone classify the Anselin quadrants: u>0 ∧ nbr>0 = HH hotspot,
    * u<0 ∧ nbr<0 = LL coldspot, opposite signs = HL/LH spatial outliers.
    * All int64, engine-invariant, oracle-hashable.
    *
    * Plan: points collapse to (cell, count) in exchange one; each
    * undirected rook adjacency is produced ONCE by the right/up-neighbor
    * equi-join and then explodes into its two directed halves, so the
    * per-cell neighbor aggregate is ONE map-side-combined hash aggregate —
    * no 4-way neighbor fan-out, no second adjacency join. Isolated cells
    * keep a row with nbr_cnt = 0 via the left join.
    */
  def localMorans(points: DataFrame, lonCol: Column, latCol: Column,
                  cellMicro: Long): DataFrame = {
    require(cellMicro > 0, "cellMicro must be positive")
    val g = cellMicro
    val maxX = 360000000L / g - 1; val maxY = 180000000L / g - 1
    val K = 1073741824L // pack (px, py); py ≤ maxY < K so +1 never rolls px
    val cells = points.select(
        (lonCol.cast("long") + 180000000L).as("_wx"),
        (latCol.cast("long") + 90000000L).as("_wy"))
      .select(expr(s"_wx div $g").as("px"), expr(s"_wy div $g").as("py"))
      .where(col("px").between(0L, maxX) && col("py").between(0L, maxY))
      .groupBy("px", "py").agg(count(lit(1)).as("n"))
      .localCheckpoint() // feeds stats, both adjacency sides, the left join
    val stats = cells.agg(count(lit(1)).as("nc"), sum("n").as("s"))
    val u = cells.crossJoin(broadcast(stats))
      .select(col("px"), col("py"), col("n"),
        (col("nc") * col("n") - col("s")).as("u"),
        (col("px") * K + col("py")).as("k"))
    val adj = u.select(col("k").as("ka"), col("u").as("ua"),
        explode(array(col("k") + K, col("k") + 1L)).as("kb"))
      .join(u.select(col("k").as("kb"), col("u").as("ub")), "kb")
    val nbr = adj.select(explode(array(
        struct(col("ka").as("k"), col("ub").as("v")),
        struct(col("kb").as("k"), col("ua").as("v")))).as("d"))
      .groupBy(col("d.k").as("k"))
      .agg(sum("d.v").as("_nsum"), count(lit(1)).as("_ncnt"))
    u.join(nbr, Seq("k"), "left")
      .select(col("px").as("cx"), col("py").as("cy"), col("n"),
        col("u").as("u_scaled"),
        coalesce(col("_nsum"), lit(0L)).as("nbr_u_sum"),
        coalesce(col("_ncnt"), lit(0L)).as("nbr_cnt"))
  }

  /** GETIS-ORD Gi* hot/cold-spot surface [Getis & Ord 1992; Ord & Getis
    * 1995] — the third member of the spatial-autocorrelation family:
    * [[moransI]] asks "is the map clustered?", [[localMorans]] asks "is
    * this cell LIKE its neighbors?", Gi* asks "is this NEIGHBORHOOD's
    * total high or low vs the map?" — the statistic behind every "hotspot
    * analysis" layer. Weights are the queen 3×3 contiguity INCLUDING self
    * (the * variant), over occupied cells.
    *
    * Emits per occupied cell: (cx, cy, n, hood_sum, hood_cnt, n_cells,
    * s_total, sq_total) — hood_sum/hood_cnt are the Σxⱼ and k of the
    * neighborhood, the three globals make each row self-contained for the
    * consumer's z-score z = (hood_sum − k·S/N) / (σ·√…) — the only float
    * steps, kept off the engine surface so every emitted number is exact
    * int64.
    *
    * Plan: points collapse to (cell, count) in exchange one; each
    * undirected queen adjacency is produced ONCE by a 4-direction
    * (E, N, NE, SE) neighbor equi-join and exploded into its two directed
    * halves through ONE map-side-combined hash aggregate (4× fan-out, not
    * 9×, and never a dedup); self joins in as a plain column add. Globals
    * are a tiny broadcast.
    */
  def getisOrd(points: DataFrame, lonCol: Column, latCol: Column,
               cellMicro: Long): DataFrame = {
    require(cellMicro > 0, "cellMicro must be positive")
    val g = cellMicro
    val maxX = 360000000L / g - 1; val maxY = 180000000L / g - 1
    val K = 1073741824L // pack (px, py); |dy| ≤ 1 never crosses a px step
    val cells = points.select(
        (lonCol.cast("long") + 180000000L).as("_wx"),
        (latCol.cast("long") + 90000000L).as("_wy"))
      .select(expr(s"_wx div $g").as("px"), expr(s"_wy div $g").as("py"))
      .where(col("px").between(0L, maxX) && col("py").between(0L, maxY))
      .groupBy("px", "py").agg(count(lit(1)).as("n"))
      .localCheckpoint() // feeds stats, both adjacency sides, the left join
    val stats = cells.agg(count(lit(1)).as("n_cells"), sum("n").as("s_total"),
      sum(col("n") * col("n")).as("sq_total"))
    val ck = cells.withColumn("k", col("px") * K + col("py"))
    val dirs = Seq(K, 1L, K + 1L, K - 1L) // E, N, NE, SE cover all 8 once
    val adj = ck.select(col("k").as("ka"), col("n").as("na"),
        explode(array(dirs.map(d => col("k") + lit(d)): _*)).as("kb"))
      .join(ck.select(col("k").as("kb"), col("n").as("nb")), "kb")
    val hood = adj.select(explode(array(
        struct(col("ka").as("k"), col("nb").as("v")),
        struct(col("kb").as("k"), col("na").as("v")))).as("d"))
      .groupBy(col("d.k").as("k"))
      .agg(sum("d.v").as("_hs"), count(lit(1)).as("_hc"))
    ck.join(hood, Seq("k"), "left")
      .crossJoin(broadcast(stats))
      .select(col("px").as("cx"), col("py").as("cy"), col("n"),
        (coalesce(col("_hs"), lit(0L)) + col("n")).as("hood_sum"),
        (coalesce(col("_hc"), lit(0L)) + lit(1L)).as("hood_cnt"),
        col("n_cells"), col("s_total"), col("sq_total"))
  }

  /** EMERGING-HOTSPOT trend raster — the space-time-cube question ("which
    * cells are heating up / cooling down?"): per occupied cell, the
    * MANN-KENDALL S statistic [Mann 1945; Kendall 1975] of its time-binned
    * count series, S = Σ_{i<j} sgn(xⱼ − xᵢ) over the `nBins` fixed bins
    * [t0, t0 + nBins·binUs). Empty bins are REAL zeros in the series (a
    * cell that appears late trends up against its silent past — the whole
    * point of the statistic), which is why the per-cell series is densified
    * to all nBins positions before the pair scan. S is a pure integer in
    * [−T(T−1)/2, T(T−1)/2]; the normal-approximation z-score (the
    * significance gate) is the consumer's one float division against the
    * closed-form variance, keeping every emitted number engine-invariant.
    *
    * Output: (cx, cy, total, s_stat) per occupied cell.
    *
    * Plan (100 TB posture): events collapse to (cell, bin, count) in
    * exchange ONE — map-side combined, so the shuffle carries at most
    * raster×T rows; exchange two builds the per-cell T-entry map (bounded
    * by nBins ≤ 64). The O(T²) pair scan is a map-only codegen'd
    * higher-order expression over the dense array — no self-join of the
    * bin table, no window, nothing driver-side.
    */
  def emergingHotspots(points: DataFrame, lonCol: Column, latCol: Column,
                       tsUsCol: Column, cellMicro: Long, t0Us: Long,
                       binUs: Long, nBins: Int): DataFrame = {
    require(cellMicro > 0, "cellMicro must be positive")
    require(binUs > 0 && nBins >= 2 && nBins <= 64,
      "need binUs > 0 and 2 <= nBins <= 64")
    val g = cellMicro
    val maxX = 360000000L / g - 1; val maxY = 180000000L / g - 1
    val binned = points.select(
        (lonCol.cast("long") + 180000000L).as("_wx"),
        (latCol.cast("long") + 90000000L).as("_wy"),
        (tsUsCol.cast("long") - t0Us).as("_dt"))
      .where(col("_dt") >= 0L && col("_dt") < binUs * nBins)
      .select(expr(s"_wx div $g").as("cx"), expr(s"_wy div $g").as("cy"),
        expr(s"_dt div $binUs").as("b"))
      .where(col("cx").between(0L, maxX) && col("cy").between(0L, maxY))
      .groupBy("cx", "cy", "b").agg(count(lit(1)).as("n"))
    binned.groupBy("cx", "cy")
      .agg(map_from_entries(collect_list(struct(col("b"), col("n")))).as("m"),
        sum("n").as("total"))
      .withColumn("xs",
        expr(s"transform(sequence(0L, ${nBins - 1}L), t -> coalesce(m[t], 0L))"))
      .select(col("cx"), col("cy"), col("total"),
        expr(s"""aggregate(sequence(1, ${nBins - 1}), 0L, (acc, j) ->
          acc + aggregate(sequence(0, j - 1), 0L, (a, i) ->
            a + CASE WHEN xs[j] > xs[i] THEN 1L
                     WHEN xs[j] < xs[i] THEN -1L ELSE 0L END))""")
          .as("s_stat"))
  }

  /** ISOCHRONE / service-area raster — "which cells can be reached from
    * these sources within H steps, walking only where there is data": BFS
    * over the rook adjacency of the OCCUPIED-cell mask (occupancy as
    * walkability — the road-network-as-density proxy; swap the mask for a
    * real network by calling [[Routing.shortestPaths]] directly). The
    * reachability verb behind service-area maps, catchment analysis and
    * coverage QA.
    *
    * Semantics: a source cell is reachable at dist 0 by definition (even
    * if unoccupied — you are standing there); everything else must be an
    * occupied cell adjacent (rook) to a reached cell. dist = step count,
    * capped at `maxSteps` — cells reachable only beyond the cap are
    * absent, exactly the bounded-relaxation d_H of the [[Routing]] twin.
    *
    * Output: (cx, cy, dist_steps).
    *
    * Plan: points collapse to the mask in exchange one; undirected rook
    * edges come from the polygonize right/up equi-join (each edge once,
    * then both directions — no dedup); the BFS is literally
    * [[Routing.shortestPaths]] on packed cell keys (one frontier⋈edges
    * join + one min hash-aggregate per round, localCheckpoint truncation,
    * early exit at the fixpoint) — operator composition, not a new engine.
    */
  def isochrone(points: DataFrame, lonCol: Column, latCol: Column,
                cellMicro: Long, sources: Seq[(Long, Long)], maxSteps: Int)
      : DataFrame = {
    require(cellMicro > 0, "cellMicro must be positive")
    require(sources.nonEmpty, "need at least one source point")
    require(maxSteps >= 0 && maxSteps <= 64, "maxSteps in [0, 64]")
    require(sources.forall { case (lonM, latM) =>
      lonM >= -180000000L && lonM < 180000000L &&
        latM >= -90000000L && latM < 90000000L },
      "source points must lie inside the world")
    val g = cellMicro
    val maxX = 360000000L / g - 1; val maxY = 180000000L / g - 1
    val K = 1073741824L
    val cells = points.select(
        (lonCol.cast("long") + 180000000L).as("_wx"),
        (latCol.cast("long") + 90000000L).as("_wy"))
      .select(expr(s"_wx div $g").as("px"), expr(s"_wy div $g").as("py"))
      .where(col("px").between(0L, maxX) && col("py").between(0L, maxY))
      .groupBy("px", "py").agg(count(lit(1)).as("n"))
      .select((col("px") * K + col("py")).as("k"))
    val half = cells.select(col("k").as("ka"),
        explode(array(col("k") + K, col("k") + 1L)).as("kb"))
      .join(cells.select(col("k").as("kb")), "kb")
    val edges = half.select(col("ka").as("s"), col("kb").as("d"))
      .union(half.select(col("kb").as("s"), col("ka").as("d")))
      .withColumn("w", lit(1L))
    val srcIds = sources.map { case (lonM, latM) =>
      ((lonM + 180000000L) / g) * K + (latM + 90000000L) / g
    }
    Routing.shortestPaths(edges, col("s"), col("d"), col("w"),
        srcIds, maxSteps)
      .select(expr(s"node div ${K}L").as("cx"),
        (col("node") % K).as("cy"), col("dist").as("dist_steps"))
  }

  /** MASK BOUNDARY extraction — the raster→vector OUTLINE: threshold the
    * density raster into a mask (the [[polygonize]] rule) and emit every
    * boundary edge — a cell edge whose rook neighbor is off-mask (or off
    * the world) — as a micro-degree segment. Together with [[polygonize]]
    * (which labels the regions) this is the GDAL polygonize output split
    * into its two halves: region rows there, ring geometry here; the
    * emitted segments are exactly the regions' outer+hole rings, unstitched
    * (consumers stitch or draw — tile renderers consume edge soup
    * directly).
    *
    * Determinism: each edge belongs to its mask cell and one side ∈
    * {0=W, 1=E, 2=S, 3=N}; vertical segments run S→N, horizontal W→E —
    * every output number is an exact int64 corner coordinate.
    *
    * Output: (cx, cy, side, x1, y1, x2, y2).
    *
    * Plan: points collapse to the mask in exchange one; the off-mask test
    * is ONE self left-join on the 4-exploded neighbor key (null ⇒
    * boundary) — raster-sized, AQE-broadcastable; coordinates are
    * map-side arithmetic. No window, no driver raster.
    */
  def maskBoundary(points: DataFrame, lonCol: Column, latCol: Column,
                   cellMicro: Long, minCount: Long): DataFrame = {
    require(cellMicro > 0 && minCount >= 1,
      "need cellMicro > 0 and minCount >= 1")
    val g = cellMicro
    val maxX = 360000000L / g - 1; val maxY = 180000000L / g - 1
    val K = 1073741824L
    val mask = points.select(
        (lonCol.cast("long") + 180000000L).as("_wx"),
        (latCol.cast("long") + 90000000L).as("_wy"))
      .select(expr(s"_wx div $g").as("px"), expr(s"_wy div $g").as("py"))
      .where(col("px").between(0L, maxX) && col("py").between(0L, maxY))
      .groupBy("px", "py").agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
      .select(col("px"), col("py"), (col("px") * K + col("py")).as("k"))
    // side s looks at neighbor offset (dx, dy): W(-1,0) E(1,0) S(0,-1) N(0,1)
    val sides = array(Seq((0L, -1L, 0L), (1L, 1L, 0L), (2L, 0L, -1L),
      (3L, 0L, 1L)).map { case (s, dx, dy) => struct(lit(s).as("s"),
        lit(dx * K + dy).as("dk")) }: _*)
    val cand = mask.select(col("px"), col("py"), explode(sides).as("o"),
        col("k"))
      .select(col("px"), col("py"), col("o.s").as("side"),
        (col("k") + col("o.dk")).as("nk"))
    val x0 = col("px") * g - 180000000L; val y0 = col("py") * g - 90000000L
    cand.join(mask.select(col("k").as("nk")), Seq("nk"), "left_anti")
      .select(col("px").as("cx"), col("py").as("cy"), col("side"),
        when(col("side") === 1L, x0 + g).otherwise(x0).as("x1"),
        when(col("side") === 3L, y0 + g).otherwise(y0).as("y1"),
        when(col("side") === 0L, x0).otherwise(x0 + g).as("x2"),
        when(col("side") === 2L, y0).otherwise(y0 + g).as("y2"))
  }

  /** CATCHMENT / allocation raster — [[isochrone]] with an ANSWER to
    * "reached by WHOM": every occupied cell reachable within H rook steps
    * is labeled with its nearest source's index (ties → smallest index) —
    * network-Voronoi service areas over the density mask ("which depot /
    * hospital / antenna serves this block"). Same walkability semantics
    * and composition as [[isochrone]], with [[Routing.labeledPaths]] (the
    * lexicographic-(dist, label) confluent relaxation) as the engine.
    *
    * Output: (cx, cy, dist_steps, src_id) — src_id is the 0-based index
    * into `sources`.
    */
  def catchments(points: DataFrame, lonCol: Column, latCol: Column,
                 cellMicro: Long, sources: Seq[(Long, Long)], maxSteps: Int)
      : DataFrame = {
    require(cellMicro > 0, "cellMicro must be positive")
    require(sources.nonEmpty, "need at least one source point")
    require(maxSteps >= 0 && maxSteps <= 64, "maxSteps in [0, 64]")
    require(sources.forall { case (lonM, latM) =>
      lonM >= -180000000L && lonM < 180000000L &&
        latM >= -90000000L && latM < 90000000L },
      "source points must lie inside the world")
    val g = cellMicro
    val maxX = 360000000L / g - 1; val maxY = 180000000L / g - 1
    val K = 1073741824L
    val cells = points.select(
        (lonCol.cast("long") + 180000000L).as("_wx"),
        (latCol.cast("long") + 90000000L).as("_wy"))
      .select(expr(s"_wx div $g").as("px"), expr(s"_wy div $g").as("py"))
      .where(col("px").between(0L, maxX) && col("py").between(0L, maxY))
      .groupBy("px", "py").agg(count(lit(1)).as("n"))
      .select((col("px") * K + col("py")).as("k"))
    val half = cells.select(col("k").as("ka"),
        explode(array(col("k") + K, col("k") + 1L)).as("kb"))
      .join(cells.select(col("k").as("kb")), "kb")
    val edges = half.select(col("ka").as("s"), col("kb").as("d"))
      .union(half.select(col("kb").as("s"), col("ka").as("d")))
      .withColumn("w", lit(1L))
    val srcIds = sources.zipWithIndex.map { case ((lonM, latM), i) =>
      (((lonM + 180000000L) / g) * K + (latM + 90000000L) / g, i.toLong)
    }
    Routing.labeledPaths(edges, col("s"), col("d"), col("w"),
        srcIds, maxSteps)
      .select(expr(s"node div ${K}L").as("cx"),
        (col("node") % K).as("cy"), col("dist").as("dist_steps"),
        col("lab").as("src_id"))
  }

  /** SOBEL GRADIENT raster — slope and aspect of the point-density surface
    * [Sobel operator; the Horn-slope shape on a count DEM]: per cell, the
    * 3×3 Sobel responses gx, gy and the squared magnitude g² = gx² + gy² —
    * the edge/front detector over density (urban boundaries, coverage
    * cliffs, data-density fronts). Zero padding: empty cells are REAL
    * zeros, so the support's rim carries the steepest responses — that is
    * the edge-detection semantics, not an artifact. Aspect = atan2(gy, gx)
    * stays a consumer-side float; everything emitted is exact int64
    * (|gx| ≤ 4·max n).
    *
    * Output: one row per cell of the DILATED support (any cell whose 3×3
    * neighborhood holds data): (cx, cy, n, gx, gy, g2) — flat-interior
    * zeros included (g² = 0 is signal: a plateau).
    *
    * Plan: the [[heatmap]] scatter shape — points collapse to (cell,
    * count) in exchange one; each cell explodes to its 9 target cells
    * with both Sobel weights attached; ONE map-side-combined hash
    * aggregate per target cell. No window, no join, no driver raster.
    */
  /** D8 FLOW DIRECTION + ACCUMULATION [O'Callaghan & Mark 1984] — the
    * hydrology pair over the point-density surface (density as elevation):
    * each occupied cell FLOWS to one of its 8 existing neighbors, and the
    * accumulation counts the upstream cells draining through each cell
    * (including itself) — ridge/basin structure of the corpus: "which
    * hotspot cores does the sparse fringe drain into". On a DEM this is
    * GDAL/GRASS `r.flow`/`r.watershed`'s first stage; here the surface is
    * the density raster, so basins are density peaks.
    *
    * Deterministic rule set (the [[polygonize]]/[[Simplify]] discipline —
    * a total, engine-invariant rule replaces float slope): a cell flows to
    * the MINIMUM-valued existing neighbor with value strictly below its
    * own; ties break to the smallest fixed neighbor index (row-major
    * (dx,dy) order). Cells with no strictly-lower existing neighbor are
    * PITS (no outflow; off-raster cells are not part of the surface).
    * Canonical D8 divides the drop by √2 on diagonals — a float; the
    * min-value rule keeps every comparison int64 and the spec pins the
    * variant. Out-edges strictly decrease the value, so the flow graph is
    * a forest and accumulation is well-defined.
    *
    * acc(c) = 1 + Σ_{u : flow(u)=c} acc(u), computed by bounded Jacobi
    * rounds under the [[Routing.shortestPaths]] Pregel discipline: one
    * frontier⋈edges equi-join + one hash sum-aggregate per round;
    * acc_k(c) = 1 + (upstream cells within k hops) is monotone
    * non-decreasing and fixes at the in-tree depth, `require`d to
    * converge within `maxIters`.
    *
    * Output: (cx, cy, n, tcx, tcy, is_pit, acc) — flow target coalesced
    * to (-1, -1) for pits so the driver surface stays null-free.
    *
    * Plan (100 TB posture): points collapse to the raster in exchange
    * one; direction is ONE 8-exploded self equi-join of the raster with a
    * map-side-partial `min(struct)` argmin (raster-sized, AQE-broadcast);
    * each accumulation round exchanges one int64 per raster cell. No
    * window, no driver raster, no float anywhere.
    */
  def flowAccumulation(points: DataFrame, lonCol: Column, latCol: Column,
                       cellMicro: Long, maxIters: Int = 64): DataFrame = {
    require(cellMicro > 0, "cellMicro must be positive")
    require(maxIters >= 1 && maxIters <= 256, "maxIters in [1, 256]")
    val g = cellMicro
    val maxX = 360000000L / g - 1; val maxY = 180000000L / g - 1
    val K = 1073741824L
    val raster = points.select(
        (lonCol.cast("long") + 180000000L).as("_wx"),
        (latCol.cast("long") + 90000000L).as("_wy"))
      .select(expr(s"_wx div $g").as("cx"), expr(s"_wy div $g").as("cy"))
      .where(col("cx").between(0L, maxX) && col("cy").between(0L, maxY))
      .groupBy("cx", "cy").agg(count(lit(1)).as("n"))
      .localCheckpoint() // feeds the direction join AND every acc round
    // 8-neighbor candidates: scatter each cell to its ring with a fixed
    // row-major index; join against the raster = only EXISTING neighbors
    val offsets = array((for (dx <- -1 to 1; dy <- -1 to 1
        if dx != 0 || dy != 0) yield struct(
      lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"),
      lit(((dx + 1) * 3 + (dy + 1)).toLong).as("idx"))): _*)
    val cand = raster.select(col("cx"), col("cy"), col("n"),
        explode(offsets).as("o"))
      .select(col("cx"), col("cy"), col("n"),
        (col("cx") + col("o.dx")).as("nx"), (col("cy") + col("o.dy")).as("ny"),
        col("o.idx").as("idx"))
      .join(raster.select(col("cx").as("nx"), col("cy").as("ny"),
        col("n").as("nn")), Seq("nx", "ny"))
      .where(col("nn") < col("n"))
    val flow = cand.groupBy("cx", "cy")
      .agg(min(struct(col("nn"), col("idx"), col("nx"), col("ny"))).as("m"))
      .select(col("cx"), col("cy"), col("m.nx").as("tcx"), col("m.ny").as("tcy"))
    val dir = raster.join(flow, Seq("cx", "cy"), "left")
      .select(col("cx"), col("cy"), col("n"),
        coalesce(col("tcx"), lit(-1L)).as("tcx"),
        coalesce(col("tcy"), lit(-1L)).as("tcy"),
        when(col("tcx").isNull, lit(1L)).otherwise(lit(0L)).as("is_pit"))
      .localCheckpoint()
    val edges = dir.where(col("is_pit") === 0L)
      .select((col("cx") * K + col("cy")).as("s"),
        (col("tcx") * K + col("tcy")).as("d"))
      .localCheckpoint()
    var acc = raster.select((col("cx") * K + col("cy")).as("node"))
      .withColumn("acc", lit(1L)).localCheckpoint()
    var round = 0
    var converged = false
    while (round < maxIters && !converged) {
      val inflow = acc.join(edges, col("node") === col("s"))
        .groupBy(col("d").as("node")).agg(sum("acc").as("_in"))
      val next = acc.select("node").join(inflow, Seq("node"), "left")
        .select(col("node"), (lit(1L) + coalesce(col("_in"), lit(0L))).as("acc"))
        .localCheckpoint()
      converged = next.join(acc.withColumnRenamed("acc", "_old"), Seq("node"))
        .where(col("acc") =!= col("_old")).limit(1).count() == 0
      acc = next
      round += 1
    }
    require(converged,
      s"flow accumulation did not converge within $maxIters rounds")
    dir.join(acc.select(expr(s"node div ${K}L").as("cx"),
        (col("node") % K).as("cy"), col("acc")), Seq("cx", "cy"))
      .select("cx", "cy", "n", "tcx", "tcy", "is_pit", "acc")
  }

  def sobel(points: DataFrame, lonCol: Column, latCol: Column,
            cellMicro: Long): DataFrame = {
    require(cellMicro > 0, "cellMicro must be positive")
    val g = cellMicro
    val maxX = 360000000L / g - 1; val maxY = 180000000L / g - 1
    val counts = points.select(
        (lonCol.cast("long") + 180000000L).as("_wx"),
        (latCol.cast("long") + 90000000L).as("_wy"))
      .select(expr(s"_wx div $g").as("px"), expr(s"_wy div $g").as("py"))
      .where(col("px").between(0L, maxX) && col("py").between(0L, maxY))
      .groupBy("px", "py").agg(count(lit(1)).as("n"))
    // source cell s scatters to target t = s + o; its Sobel weight at t is
    // G(d) with d = s − t = −o: gxw = −ox·(2 − |oy|), gyw = −oy·(2 − |ox|)
    val offsets = array((for (ox <- -1 to 1; oy <- -1 to 1) yield struct(
      lit(ox.toLong).as("ox"), lit(oy.toLong).as("oy"),
      lit((-ox * (2 - math.abs(oy))).toLong).as("gxw"),
      lit((-oy * (2 - math.abs(ox))).toLong).as("gyw"))): _*)
    counts.select(col("px"), col("py"), col("n"), explode(offsets).as("o"))
      .select((col("px") + col("o.ox")).as("cx"),
        (col("py") + col("o.oy")).as("cy"),
        when(col("o.ox") === 0L && col("o.oy") === 0L, col("n"))
          .otherwise(0L).as("_raw"),
        (col("n") * col("o.gxw")).as("_gx"),
        (col("n") * col("o.gyw")).as("_gy"))
      .where(col("cx").between(0L, maxX) && col("cy").between(0L, maxY))
      .groupBy("cx", "cy")
      .agg(sum("_raw").as("n"), sum("_gx").as("gx"), sum("_gy").as("gy"))
      .withColumn("g2", col("gx") * col("gx") + col("gy") * col("gy"))
  }

  /** EPANECHNIKOV KERNEL DENSITY raster — the general-bandwidth KDE verb
    * ([[heatmap]] is the fixed 3×3 binomial special case): per-cell
    * density = Σ over source cells within `bandwidthCells` of
    * n_src · w(d), with the Epanechnikov kernel K(u) ∝ 1 − u² made
    * integer-exact as
    *   `w(d²) = (scale · (R² − d²)) div R²`   for d² < R², else 0
    * (d² in CELL units between cell centers — quantization IS the
    * semantics, as in the co-visitation/Hausdorff family; w ≥
    * scale div R² ≥ 1 whenever scale ≥ R², so every covered cell gets a
    * positive density). The hotspot-surface verb of spatial analysis
    * (crime/disease mapping, retail siting) at a bandwidth the analyst
    * chooses, where [[heatmap]]'s kernel is fixed.
    *
    * Output: (cx, cy, raw, density) — raw = the cell's own point count
    * (0 for halo cells that only receive spill).
    *
    * Plan (100 TB posture): points collapse to the raster in exchange ONE
    * (the [[heatmap]] discipline — the kernel explode fans out CELLS, not
    * points); each occupied cell scatters into its ≤ (2R+1)² disk with
    * PRECOMPUTED literal weights (d² depends only on the offset, so the
    * whole kernel is a constant array — codegen explode, zero per-row
    * arithmetic for w), and one map-side-combined hash aggregate sums per
    * target cell. R is capped so the plan-side literal stays bounded.
    */
  def kde(points: DataFrame, lonCol: Column, latCol: Column,
          cellMicro: Long, bandwidthCells: Int,
          scale: Long = 1000000L): DataFrame = {
    require(cellMicro > 0, "cellMicro must be positive")
    require(bandwidthCells >= 1 && bandwidthCells <= 16,
      "bandwidthCells in [1, 16] (the kernel literal is (2R+1)^2-sized)")
    val R2 = bandwidthCells.toLong * bandwidthCells
    require(scale >= R2, "scale must be >= bandwidthCells^2 for w >= 1")
    val g = cellMicro
    val maxX = 360000000L / g - 1; val maxY = 180000000L / g - 1
    val counts = points.select(
        (lonCol.cast("long") + 180000000L).as("_wx"),
        (latCol.cast("long") + 90000000L).as("_wy"))
      .select(expr(s"_wx div $g").as("px"), expr(s"_wy div $g").as("py"))
      .where(col("px").between(0L, maxX) && col("py").between(0L, maxY))
      .groupBy("px", "py").agg(count(lit(1)).as("n"))
    val R = bandwidthCells
    val offsets = array((for {
      dx <- -R to R; dy <- -R to R
      d2 = dx.toLong * dx + dy.toLong * dy; if d2 < R2
    } yield struct(lit(dx.toLong).as("ox"), lit(dy.toLong).as("oy"),
      lit(scale * (R2 - d2) / R2).as("w"))): _*)
    counts.select(col("px"), col("py"), col("n"), explode(offsets).as("o"))
      .select((col("px") + col("o.ox")).as("cx"),
        (col("py") + col("o.oy")).as("cy"),
        (col("n") * col("o.w")).as("_c"),
        when(col("o.ox") === 0L && col("o.oy") === 0L, col("n"))
          .otherwise(0L).as("_raw"))
      .where(col("cx").between(0L, maxX) && col("cy").between(0L, maxY))
      .groupBy("cx", "cy")
      .agg(sum("_raw").as("raw"), sum("_c").as("density"))
  }

  /** JOIN-COUNT statistics [Cliff & Ord 1973] — the categorical
    * autocorrelation test the Moran family can't do: threshold the
    * occupied density raster into Black (n ≥ `minCount`) / White cells
    * and count the rook-adjacent pairs by color — BB ≫ expected means the
    * hot class clumps, BW ≫ expected means a checkerboard. One row:
    * (n_black, n_white, bb, bw, ww, n_pairs), all zero for an empty input;
    * the expectations under the free-sampling null (E[BB] = J·p_B², etc.)
    * are consumer arithmetic.
    * Adjacency is OVER THE OCCUPIED SURFACE (empty cells are absent, not
    * White — the [[flowAccumulation]] convention), so the statistic reads
    * the pattern of density GIVEN presence.
    *
    * Plan: points collapse to the raster in exchange one; each
    * undirected rook pair is produced ONCE by the right/up neighbor-key
    * self equi-join (the [[maskBoundary]] construction); one single-row
    * aggregate. Raster-sized, AQE-broadcastable.
    */
  def joinCounts(points: DataFrame, lonCol: Column, latCol: Column,
                 cellMicro: Long, minCount: Long): DataFrame = {
    require(cellMicro > 0 && minCount >= 1,
      "need cellMicro > 0 and minCount >= 1")
    val g = cellMicro
    val maxX = 360000000L / g - 1; val maxY = 180000000L / g - 1
    val K = 1073741824L
    val cells = points.select(
        (lonCol.cast("long") + 180000000L).as("_wx"),
        (latCol.cast("long") + 90000000L).as("_wy"))
      .select(expr(s"_wx div $g").as("px"), expr(s"_wy div $g").as("py"))
      .where(col("px").between(0L, maxX) && col("py").between(0L, maxY))
      .groupBy("px", "py").agg(count(lit(1)).as("n"))
      .select((col("px") * K + col("py")).as("k"),
        when(col("n") >= minCount, 1L).otherwise(0L).as("b"))
      .localCheckpoint() // feeds both join sides and the color census
    val pairs = cells.select(col("k").as("ka"), col("b").as("ba"),
        explode(array(col("k") + K, col("k") + 1L)).as("kb"))
      .join(cells.select(col("k").as("kb"), col("b").as("bb_")), "kb")
    // sums over no rows are NULL; an empty raster reads as all zeros
    def sum0(c: Column): Column = coalesce(sum(c), lit(0L))
    val census = cells.agg(sum0(col("b")).as("n_black"),
      (count(lit(1)) - sum0(col("b"))).as("n_white"))
    pairs.agg(
        sum0(col("ba") * col("bb_")).as("bb"),
        sum0(when(col("ba") =!= col("bb_"), 1L).otherwise(0L)).as("bw"),
        sum0(when(col("ba") === 0L && col("bb_") === 0L, 1L)
          .otherwise(0L)).as("ww"),
        count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(census))
      .select("n_black", "n_white", "bb", "bw", "ww", "n_pairs")
  }

  /** FOCAL MEDIAN — the rank-order smoother over the occupied density
    * surface (GRASS `r.neighbors method=median`): each occupied cell's
    * value is replaced by the LOWER MEDIAN of the occupied cells in its
    * 3×3 window — the salt-and-pepper denoiser that [[heatmap]]'s linear
    * kernel cannot be (a single 1000-count glitch cell pulls every mean
    * around it; the median ignores it entirely). "Occupied cells are the
    * surface" per the [[flowAccumulation]] convention: empty neighbors
    * are absent, not zero, so sparse fringes aren't dragged to 0.
    *
    * Deterministic rule: sort the m ∈ [1, 9] present values ascending,
    * take index ⌈m/2⌉ (1-based) — the lower median, exact int64, no
    * averaging of middle pairs (which would need fractions).
    *
    * Output: (cx, cy, n, med) for every occupied cell.
    *
    * Plan (100 TB posture): points collapse to the raster in exchange
    * one; each cell scatters its value to its 9 window targets (cells,
    * not points); per-target the BOUNDED ≤9-element list sorts map-side
    * (`array_sort ∘ collect_list` — bounded by construction, the
    * anchor-cells collect discipline); one inner join back to the raster
    * keeps only occupied centers. No window function, no driver state.
    */
  def focalMedian(points: DataFrame, lonCol: Column, latCol: Column,
                  cellMicro: Long): DataFrame = {
    require(cellMicro > 0, "cellMicro must be positive")
    val g = cellMicro
    val maxX = 360000000L / g - 1; val maxY = 180000000L / g - 1
    val counts = points.select(
        (lonCol.cast("long") + 180000000L).as("_wx"),
        (latCol.cast("long") + 90000000L).as("_wy"))
      .select(expr(s"_wx div $g").as("px"), expr(s"_wy div $g").as("py"))
      .where(col("px").between(0L, maxX) && col("py").between(0L, maxY))
      .groupBy("px", "py").agg(count(lit(1)).as("n"))
      .localCheckpoint() // feeds the scatter AND the occupied-center join
    val offsets = array((for (ox <- -1 to 1; oy <- -1 to 1) yield struct(
      lit(ox.toLong).as("ox"), lit(oy.toLong).as("oy"))): _*)
    val meds = counts.select(col("px"), col("py"), col("n"),
        explode(offsets).as("o"))
      .select((col("px") + col("o.ox")).as("px"),
        (col("py") + col("o.oy")).as("py"), col("n").as("v"))
      .groupBy("px", "py")
      .agg(array_sort(collect_list(col("v"))).as("vs"))
      .select(col("px"), col("py"),
        element_at(col("vs"), expr("(size(vs) + 1) div 2").cast("int")).as("med"))
    counts.join(meds, Seq("px", "py"))
      .select(col("px").as("cx"), col("py").as("cy"), col("n"), col("med"))
  }

  /** RECLASSIFY + ZONAL MAJORITY/MINORITY/VARIETY — the categorical half
    * of zonal statistics (GRASS `r.stats` / ArcGIS ZonalStatistics
    * MAJORITY·MINORITY·VARIETY), where [[graft.operators.Multimodal
    * .zonalStats]] covers the numeric half (sum/count): the density raster
    * is reclassified into ordinal classes by a threshold ladder
    * (class = #{t ∈ thresholds : n ≥ t} — the standard monotone
    * reclassify, integer-exact), each cell CENTER is assigned to its
    * zone(s) through the real cover-cell polygon join, and each zone
    * reports its most/least common class with deterministic ties
    * (majority: highest count then SMALLEST class; minority: lowest count
    * then smallest class), plus variety (distinct classes present) and
    * n_cells.
    *
    * Output: (poly_id, majority_class, majority_count, minority_class,
    * minority_count, variety, n_cells) — zones covering no occupied cell
    * are absent (the [[graft.operators.Multimodal.zonalStats]]
    * convention).
    *
    * Plan (100 TB posture): points collapse to the raster in exchange
    * one; the zone assignment is the standard [[SpatialJoin.join]]
    * cover-cell equi-join (raster-sized, AQE-broadcastable); the
    * majority/minority argmins are `min(struct)` hash aggregates over
    * (zone, class) rows — |zones|·|classes|-sized, never a window sort.
    */
  def zonalMajority(spark: org.apache.spark.sql.SparkSession,
                    points: DataFrame, lonCol: Column, latCol: Column,
                    cellMicro: Long, thresholds: Seq[Long],
                    specs: Array[graft.fixtures.PolySpec]): DataFrame = {
    require(cellMicro > 0, "cellMicro must be positive")
    require(thresholds.nonEmpty && thresholds == thresholds.sorted &&
      thresholds.distinct == thresholds,
      "thresholds must be a nonempty strictly increasing ladder")
    val g = cellMicro
    val maxX = 360000000L / g - 1; val maxY = 180000000L / g - 1
    val counts = points.select(
        (lonCol.cast("long") + 180000000L).as("_wx"),
        (latCol.cast("long") + 90000000L).as("_wy"))
      .select(expr(s"_wx div $g").as("px"), expr(s"_wy div $g").as("py"))
      .where(col("px").between(0L, maxX) && col("py").between(0L, maxY))
      .groupBy("px", "py").agg(count(lit(1)).as("n"))
    val cls = thresholds.map(t => when(col("n") >= t, 1L).otherwise(0L))
      .reduce(_ + _)
    val centers = counts.select(
      (col("px") * g + g / 2 - 180000000L).as("lonm"),
      (col("py") * g + g / 2 - 90000000L).as("latm"), cls.as("cls"))
    val perZoneClass = SpatialJoin.join(spark, centers, col("lonm"),
        col("latm"), specs)
      .groupBy("poly_id", "cls").agg(count(lit(1)).as("cnt"))
    perZoneClass.groupBy("poly_id")
      .agg(min(struct((-col("cnt")).as("nc"), col("cls").as("c"))).as("maj"),
        min(struct(col("cnt").as("pc"), col("cls").as("c"))).as("mino"),
        count(lit(1)).as("variety"), sum("cnt").as("n_cells"))
      .select(col("poly_id"), col("maj.c").as("majority_class"),
        (-col("maj.nc")).as("majority_count"),
        col("mino.c").as("minority_class"), col("mino.pc").as("minority_count"),
        col("variety"), col("n_cells"))
  }

  def heatmap(points: DataFrame, lonCol: Column, latCol: Column,
              cellMicro: Long): DataFrame = {
    require(cellMicro > 0, "cellMicro must be positive")
    val g = cellMicro
    val maxX = 360000000L / g - 1; val maxY = 180000000L / g - 1
    val counts = points.select(
        (lonCol.cast("long") + 180000000L).as("_wx"),
        (latCol.cast("long") + 90000000L).as("_wy"))
      .select(expr(s"_wx div $g").as("px"), expr(s"_wy div $g").as("py"))
      .where(col("px").between(0L, maxX) && col("py").between(0L, maxY))
      .groupBy("px", "py").agg(count(lit(1)).as("n"))
    val kernel = Seq((-1, -1, 1L), (0, -1, 2L), (1, -1, 1L),
      (-1, 0, 2L), (0, 0, 4L), (1, 0, 2L),
      (-1, 1, 1L), (0, 1, 2L), (1, 1, 1L))
    val offsets = array(kernel.map { case (ox, oy, kw) =>
      struct(lit(ox.toLong).as("ox"), lit(oy.toLong).as("oy"), lit(kw).as("kw"))
    }: _*)
    counts.select(col("px"), col("py"), col("n"), explode(offsets).as("o"))
      .select((col("px") + col("o.ox")).as("cx"), (col("py") + col("o.oy")).as("cy"),
        (col("n") * col("o.kw")).as("_contrib"),
        when(col("o.ox") === 0L && col("o.oy") === 0L, col("n"))
          .otherwise(0L).as("_raw"))
      .where(col("cx").between(0L, maxX) && col("cy").between(0L, maxY))
      .groupBy("cx", "cy")
      .agg(sum("_raw").as("raw"), sum("_contrib").as("smoothed"))
  }
}
