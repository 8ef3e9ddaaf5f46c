package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Point-pattern statistics: distance-indexed summaries of a point set as a
  * whole (vs the per-pair/per-cell outputs of [[Knn]] and [[GridRaster]]).
  * Planar micro-degree coordinates, all predicates exact int64 — same
  * conventions as the radius joins.
  */
object PointPattern {

  /** RIPLEY'S K pair counts [Ripley 1976] — the multi-scale clustering
    * diagnostic: for each radius r, how many ORDERED pairs of distinct
    * points lie within r of each other. Under complete spatial randomness
    * E[K(r)] ∝ πr², so the count curve's departure from quadratic growth
    * localizes the scale at which clustering (above) or inhibition (below)
    * operates — the question Moran's I ([[GridRaster.moransI]]) answers only
    * at its single fixed grid scale.
    *
    * Emits one row per radius, zero-filled: (r_micro, pairs_ordered,
    * n_points). The classical estimate K̂(r) = A·pairs_ordered / n² is the
    * consumer's one float multiply (A = study-area); no edge correction is
    * applied (raw counts — border corrections are a consumer-side reweight
    * and would put floats on the driver surface).
    *
    * Plan (100 TB posture): candidates come from a cell grid at g = max(r)
    * — the b-side keeps its one home-cell key, the a-side explodes its 3×3
    * Chebyshev ring, and `a.id < b.id` picks one orientation, so each
    * qualifying pair is produced EXACTLY once with no all-pairs stage and
    * no dedup exchange (ring cells are distinct ⇒ one join hit per pair).
    * The exact d² ≤ r² filters decide membership; blocking affects cost
    * only. Per-pair radius assignment explodes map-locally into the ≤
    * |radii| qualifying rows and collapses to |radii| partials per task in
    * ONE map-side-combined hash aggregate; the final zero-fill join and
    * the n_points broadcast are literal-sized.
    */
  def ripleyK(points: DataFrame, idCol: Column, lonCol: Column,
              latCol: Column, radiiMicro: Seq[Long]): DataFrame = {
    require(radiiMicro.nonEmpty && radiiMicro.forall(_ > 0),
      "radii must be nonempty positive")
    require(radiiMicro == radiiMicro.sorted && radiiMicro.distinct == radiiMicro,
      "radii must be strictly increasing")
    val rmax = radiiMicro.max
    val g = rmax
    val K = 1073741824L // pack (cx, cy); cy < K so ±1 never rolls cx
    val pts = points.select(idCol.cast("long").as("id"),
        (lonCol.cast("long") + 180000000L).as("wx"),
        (latCol.cast("long") + 90000000L).as("wy"))
      .where(col("wx").between(0L, 359999999L) && col("wy").between(0L, 179999999L))
      .select(col("id"), col("wx"), col("wy"),
        (expr(s"wx div $g") * K + expr(s"wy div $g")).as("cell"))
    val ring = array((for (dx <- -1 to 1; dy <- -1 to 1)
      yield col("cell") + lit(dx.toLong * K + dy.toLong)): _*)
    val a = pts.select(col("id").as("ida"), col("wx").as("ax"),
      col("wy").as("ay"), explode(ring).as("cell"))
    val b = pts.select(col("id").as("idb"), col("wx").as("bx"),
      col("wy").as("by"), col("cell"))
    val d2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
      (col("ay") - col("by")) * (col("ay") - col("by"))
    val radii = array(radiiMicro.map(lit): _*)
    val counts = a.join(b, "cell")
      .where(col("ida") < col("idb") && d2 <= lit(rmax * rmax))
      .select(d2.as("d2"))
      .select(explode(filter(radii, r => col("d2") <= r * r)).as("r_micro"))
      .groupBy("r_micro").agg((count(lit(1)) * 2L).as("_cnt"))
    val n = pts.agg(count(lit(1)).as("n_points"))
    points.sparkSession.range(radiiMicro.size)
      .select(element_at(radii, col("id").cast("int") + 1).as("r_micro"))
      .join(counts, Seq("r_micro"), "left")
      .crossJoin(broadcast(n))
      .select(col("r_micro"), coalesce(col("_cnt"), lit(0L)).as("pairs_ordered"),
        col("n_points"))
  }

  /** BIVARIATE CROSS-K pair counts [the K₁₂ of Lotwick & Silverman 1982] —
    * does class A cluster AROUND class B (cafés near stations, crimes near
    * bars), not merely within itself: for each radius r, the number of
    * (a ∈ A, b ∈ B) pairs within r. Under independence E[K₁₂(r)] ∝ πr²;
    * excess = attraction, deficit = repulsion between the classes — the
    * question [[ripleyK]] cannot ask and a plain radius join answers only
    * at one scale.
    *
    * Emits one row per radius, zero-filled: (r_micro, pairs, n_a, n_b);
    * K̂₁₂(r) = A·pairs / (n_a·n_b) is the consumer's float step. Every
    * cross pair counts once — no orientation (the sets are distinct by
    * construction; coincident points across classes are genuine pairs).
    *
    * Plan: the [[ripleyK]] blocking — B keeps its home cell at
    * g = max(r), A explodes its 3×3 Chebyshev ring (distinct cells ⇒ each
    * qualifying pair produced exactly once), exact d² ≤ r² decides, the
    * per-pair radius explode collapses map-side into |radii| partials per
    * task.
    */
  def crossK(aPts: DataFrame, aLon: Column, aLat: Column,
             bPts: DataFrame, bLon: Column, bLat: Column,
             radiiMicro: Seq[Long]): DataFrame = {
    require(radiiMicro.nonEmpty && radiiMicro.forall(_ > 0),
      "radii must be nonempty positive")
    require(radiiMicro == radiiMicro.sorted && radiiMicro.distinct == radiiMicro,
      "radii must be strictly increasing")
    val rmax = radiiMicro.max
    val g = rmax
    val K = 1073741824L
    def world(df: DataFrame, lonC: Column, latC: Column): DataFrame =
      df.select((lonC.cast("long") + 180000000L).as("wx"),
          (latC.cast("long") + 90000000L).as("wy"))
        .where(col("wx").between(0L, 359999999L) &&
          col("wy").between(0L, 179999999L))
        .withColumn("cell", expr(s"wx div $g") * K + expr(s"wy div $g"))
    val a0 = world(aPts, aLon, aLat)
    val b0 = world(bPts, bLon, bLat)
    val ring = array((for (dx <- -1 to 1; dy <- -1 to 1)
      yield col("cell") + lit(dx.toLong * K + dy.toLong)): _*)
    val a = a0.select(col("wx").as("ax"), col("wy").as("ay"),
      explode(ring).as("cell"))
    val b = b0.select(col("wx").as("bx"), col("wy").as("by"), col("cell"))
    val d2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
      (col("ay") - col("by")) * (col("ay") - col("by"))
    val radii = array(radiiMicro.map(lit): _*)
    val counts = a.join(b, "cell")
      .where(d2 <= lit(rmax * rmax))
      .select(d2.as("d2"))
      .select(explode(filter(radii, r => col("d2") <= r * r)).as("r_micro"))
      .groupBy("r_micro").agg(count(lit(1)).as("_cnt"))
    val na = a0.agg(count(lit(1)).as("n_a"))
    val nb = b0.agg(count(lit(1)).as("n_b"))
    aPts.sparkSession.range(radiiMicro.size)
      .select(element_at(radii, col("id").cast("int") + 1).as("r_micro"))
      .join(counts, Seq("r_micro"), "left")
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .select(col("r_micro"), coalesce(col("_cnt"), lit(0L)).as("pairs"),
        col("n_a"), col("n_b"))
  }

  /** CO-LOCATION PATTERN participation counts [Shekhar & Huang 2001] — for
    * every ordered category pair (A, B): how many A-features have at least
    * one B-feature (a DIFFERENT feature) within `radiusMicro`, plus A's
    * total — the participation ratio n_with/n_total is the consumer's one
    * division, and min over a pattern's members gives the classical
    * participation index. The categorical spatial-data-mining verb
    * ("pharmacies near clinics?") that [[crossK]] answers only for one
    * pre-chosen pair and [[graft.operators.Trajectory.coLocation]] asks
    * about entities, not categories.
    *
    * (A, A) pairs are included (a feature never witnesses itself — id
    * inequality, not category inequality, is the guard), and ZERO rows are
    * kept for every ordered category pair so absence of co-location is
    * visible, not missing.
    *
    * Output: (cat_a, cat_b, n_with, n_total).
    *
    * Plan (100 TB posture): the ripleyK ring blocking (b-side one home
    * cell, a-side 3×3 Chebyshev ring at g = r — each qualifying feature
    * pair seen exactly once, no all-pairs); the witness collapse is one
    * DISTINCT (a-feature, cat_b) hash aggregate, so the per-pair count
    * never double-counts multiple witnesses; the category-pair frame is
    * |cats|² rows built by a tiny self cross join.
    */
  def participationCounts(feats: DataFrame, idCol: Column, catCol: Column,
                          lonCol: Column, latCol: Column,
                          radiusMicro: Long): DataFrame = {
    require(radiusMicro > 0, "radiusMicro must be positive")
    val g = radiusMicro
    val K = 1073741824L
    val pts = feats.select(idCol.cast("long").as("id"),
        catCol.cast("long").as("cat"),
        (lonCol.cast("long") + 180000000L).as("wx"),
        (latCol.cast("long") + 90000000L).as("wy"))
      .where(col("wx").between(0L, 359999999L) &&
        col("wy").between(0L, 179999999L))
      .select(col("id"), col("cat"), col("wx"), col("wy"),
        (expr(s"wx div $g") * K + expr(s"wy div $g")).as("cell"))
      .localCheckpoint() // feeds ring side, cell side, totals, pair frame
    val ring = array((for (dx <- -1 to 1; dy <- -1 to 1)
      yield col("cell") + lit(dx.toLong * K + dy.toLong)): _*)
    val a = pts.select(col("id").as("ida"), col("cat").as("cat_a"),
      col("wx").as("ax"), col("wy").as("ay"), explode(ring).as("cell"))
    val b = pts.select(col("id").as("idb"), col("cat").as("cat_b"),
      col("wx").as("bx"), col("wy").as("by"), col("cell"))
    val d2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
      (col("ay") - col("by")) * (col("ay") - col("by"))
    val withB = a.join(b, "cell")
      .where(col("ida") =!= col("idb") && d2 <= lit(radiusMicro * radiusMicro))
      .groupBy("ida", "cat_a", "cat_b").agg(count(lit(1)).as("_w")).drop("_w")
      .groupBy("cat_a", "cat_b").agg(count(lit(1)).as("_nw"))
    val totals = pts.groupBy(col("cat").as("cat_a"))
      .agg(count(lit(1)).as("n_total"))
    totals.crossJoin(totals.select(col("cat_a").as("cat_b")).distinct())
      .join(withB, Seq("cat_a", "cat_b"), "left")
      .select(col("cat_a"), col("cat_b"),
        coalesce(col("_nw"), lit(0L)).as("n_with"), col("n_total"))
  }

  /** CLARK–EVANS nearest-neighbor components [Clark & Evans 1954] — the
    * aggregation-vs-dispersion index R = r̄_obs / r̄_exp per category:
    * observed mean NN distance against the CSR expectation ½√(A/n).
    * R < 1 = clustered, R ≈ 1 = random, R > 1 = dispersed (overdispersed
    * lattice-like patterns — territorial animals, retail spacing — that
    * density statistics read as merely "sparse"). Integer components per
    * category — (cat, n, sum_nn_q, min_nn_q, max_nn_q) with nn_q =
    * ⌊√(nn_d²)⌋ over the exact NN (argmin by (d², id), self excluded, the
    * [[colocationQuotient]] machinery — k = 2 top-2 always contains the
    * best non-self neighbor) — the ½√(A/n) denominator and the division
    * are the consumer's. NN is computed against the WHOLE point set
    * (cross-category neighbors count — the classical univariate index per
    * category subset would filter first; this is the "how isolated is
    * each category in the full pattern" reading, documented).
    *
    * Plan: the kNN ring join is the only spatial exchange; the floor-√
    * is the fixed IEEE chain; one hash aggregate per category.
    */
  def clarkEvans(points: DataFrame, id: Column, cat: Column,
                 lon: Column, lat: Column, level: Int): DataFrame = {
    val spark = points.sparkSession
    val p = points.select(id.cast("long").as("pid"), cat.cast("long").as("cat"),
        lon.cast("long").as("x"), lat.cast("long").as("y"))
      .localCheckpoint()
    val nn = Knn.knnJoinDf(spark, p, col("pid"), col("x"), col("y"),
        p, col("pid"), col("x"), col("y"), k = 2, level = level)
      .where(col("neighbor_id") =!= col("qid"))
      .groupBy("qid").agg(min(struct(col("d2"), col("neighbor_id"))).as("m"))
      .select(col("qid"), floor(sqrt(col("m.d2"))).cast("long").as("nn_q"))
    nn.join(p.select(col("pid").as("qid"), col("cat")), "qid")
      .groupBy("cat").agg(count(lit(1)).as("n"), sum("nn_q").as("sum_nn_q"),
        min("nn_q").as("min_nn_q"), max("nn_q").as("max_nn_q"))
  }

  /** QUADRAT-COUNT dispersion components [the classical CSR quadrat
    * test; Greig-Smith 1952] — the cheapest clustered-vs-random-vs-
    * uniform diagnostic: partition the pattern's BOUNDING FRAME into
    * g-sized quadrats and emit the count moments; the variance-mean
    * ratio VMR = S²/x̄ (≈1 Poisson/CSR, >1 clustered, <1 uniform) is the
    * consumer's one division. Empty quadrats are REAL observations: the
    * frame size comes from the pattern's own bbox (total quadrat count
    * is arithmetic, never materialized), so sum_n2 over empties adds 0
    * and n_quadrats carries the zeros' weight exactly.
    *
    * Output: one row — (n_quadrats, n_occupied, n_points, sum_n2); all
    * zero for an empty input.
    *
    * Plan: one hash aggregate to quadrat counts, one single-row
    * aggregate over the (occupied-only) quadrat table + a bbox
    * aggregate for the frame; nothing per-empty-cell is ever created.
    */
  def quadratCounts(points: DataFrame, lon: Column, lat: Column,
                    quadMicro: Long): DataFrame = {
    require(quadMicro > 0, "quadMicro must be positive")
    val p = points.select((lon.cast("long") + 180000000L).as("wx"),
        (lat.cast("long") + 90000000L).as("wy"))
      .select(expr(s"wx div $quadMicro").as("qx"),
        expr(s"wy div $quadMicro").as("qy"))
      .localCheckpoint() // feeds the counts AND the frame bbox
    val counts = p.groupBy("qx", "qy").agg(count(lit(1)).as("n"))
    val frame = p.agg(min("qx").as("x0"), max("qx").as("x1"),
      min("qy").as("y0"), max("qy").as("y1"))
    // an empty pattern has no frame and empty sums: one all-zero row
    counts.agg(count(lit(1)).as("n_occupied"),
        coalesce(sum("n"), lit(0L)).as("n_points"),
        coalesce(sum(col("n") * col("n")), lit(0L)).as("sum_n2"))
      .crossJoin(broadcast(frame))
      .select(coalesce((col("x1") - col("x0") + 1L) *
          (col("y1") - col("y0") + 1L), lit(0L)).as("n_quadrats"),
        col("n_occupied"), col("n_points"), col("sum_n2"))
  }

  /** STANDARD DEVIATIONAL ELLIPSE components [Lefever 1926; the ArcGIS
    * "directional distribution" verb] — per-group centrographic shape:
    * mean center, spread AND ORIENTATION (is the cluster round, or a
    * corridor along a road/coast?). The ellipse parameters are
    *   tan 2θ = 2·Sxy / (Sxx − Syy),  axes from the eigenvalues of the
    *   2×2 scatter matrix —
    * all derivable from five sums, so the engine emits exact int64
    * components per group — (label, n, sum_dx, sum_dy, sum_dx2, sum_dy2,
    * sum_dxy) anchored at the group's own (min x, min y) — and the
    * consumer does the two float ops. The anchor bounds every deviation
    * by the GROUP footprint, keeping Σd·d far from int64 overflow where
    * raw world coordinates would not (the [[graft.operators.Trajectory
    * .radiusOfGyration]] discipline, plus the cross term the scalar r_g
    * doesn't need); the anchor shift cancels in every central moment.
    *
    * Plan: one hash aggregate for anchors, one equi-join (same key —
    * exchange reuse), one closing hash aggregate. No window, no sort.
    */
  def ellipseComponents(pts: DataFrame, label: Column, x: Column, y: Column)
      : DataFrame = {
    val p = pts.select(label.cast("long").as("lbl"),
      x.cast("long").as("x"), y.cast("long").as("y"))
    val anchors = p.groupBy("lbl").agg(min("x").as("ax"), min("y").as("ay"))
    p.join(anchors, "lbl")
      .select(col("lbl"), (col("x") - col("ax")).as("dx"),
        (col("y") - col("ay")).as("dy"))
      .groupBy(col("lbl").as("label"))
      .agg(count(lit(1)).as("n"), sum("dx").as("sum_dx"),
        sum("dy").as("sum_dy"),
        sum(col("dx") * col("dx")).as("sum_dx2"),
        sum(col("dy") * col("dy")).as("sum_dy2"),
        sum(col("dx") * col("dy")).as("sum_dxy"))
  }

  /** COLOCATION QUOTIENT counts [Leslie & Kronenfeld 2011] — the
    * nearest-neighbor categorical association stat: CLQ_{A→B} =
    * (C_{A→B}/N_A) / (N_B/(N−1)), where C_{A→B} counts A-points whose
    * nearest OTHER point is a B. Sharper than the participation/cross-K
    * counts for mixed-density data because each point casts exactly ONE
    * vote (its NN), so a dense downtown can't swamp the statistic the way
    * it inflates radius counts. Emits the integer components per ordered
    * category pair, zero-filled over the full cat×cat matrix —
    * (cat_a, cat_b, nn_count, n_a, n_b, n_total) — the one float division
    * is the consumer's.
    *
    * Deterministic NN: argmin by (d², id), self excluded. Computed from
    * [[Knn.knnJoinDf]] with k = 2 — the top-2 by (d², id) always contain
    * the best non-self neighbor whether or not self makes the heap (self
    * appears at most once), so filter-self → argmin is exact with no
    * radius guess and no second pass.
    *
    * Plan (100 TB posture): the kNN ring join is the only spatial
    * exchange; everything after is category-count-sized (two broadcastable
    * joins to attach cats, one hash aggregate, a |cats|² zerofill cross).
    */
  def colocationQuotient(points: DataFrame, id: Column, cat: Column,
                         lon: Column, lat: Column, level: Int): DataFrame = {
    val spark = points.sparkSession
    val p = points.select(id.cast("long").as("pid"), cat.cast("long").as("cat"),
        lon.cast("long").as("x"), lat.cast("long").as("y"))
      .localCheckpoint() // feeds the kNN join twice + three cat lookups
    val nn = Knn.knnJoinDf(spark, p, col("pid"), col("x"), col("y"),
        p, col("pid"), col("x"), col("y"), k = 2, level = level)
      .where(col("neighbor_id") =!= col("qid"))
      .groupBy("qid").agg(min(struct(col("d2"), col("neighbor_id"))).as("m"))
      .select(col("qid"), col("m.neighbor_id").as("nnid"))
    val counts = nn
      .join(p.select(col("pid").as("qid"), col("cat").as("cat_a")), "qid")
      .join(p.select(col("pid").as("nnid"), col("cat").as("cat_b")), "nnid")
      .groupBy("cat_a", "cat_b").agg(count(lit(1)).as("nn_count"))
    val catN = p.groupBy("cat").agg(count(lit(1)).as("n"))
    val tot = p.agg(count(lit(1)).as("n_total"))
    catN.select(col("cat").as("cat_a"), col("n").as("n_a"))
      .crossJoin(catN.select(col("cat").as("cat_b"), col("n").as("n_b")))
      .join(counts, Seq("cat_a", "cat_b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("cat_a"), col("cat_b"),
        coalesce(col("nn_count"), lit(0L)).as("nn_count"),
        col("n_a"), col("n_b"), col("n_total"))
  }
}
