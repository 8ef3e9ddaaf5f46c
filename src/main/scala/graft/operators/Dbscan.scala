package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Grid-partitioned DBSCAN (Ester, Kriegel, Sander & Xu 1996) over planar
  * micro-degree points — density clustering for geospatial corpora: "group
  * the POIs / image capture locations into dense sites, flag strays as
  * noise". The reference surface has no clustering verb; this fills the
  * gap the same way its aggregateByGeometry fills zonal aggregation —
  * as a declarative DataFrame operator.
  *
  * Deterministic variant (classic DBSCAN's border assignment is
  * visit-order-dependent; an oracle needs a total rule):
  *   - neighborhood N(p) = points within L2 distance `eps` of p,
  *     INCLUDING p itself (the 1996 paper's |N_eps(p)| convention);
  *   - p is CORE iff |N(p)| >= minPts;
  *   - clusters = connected components of the core-core eps-graph,
  *     labeled by the component's MINIMUM point id;
  *   - a non-core point with >= 1 core neighbor is a BORDER point and
  *     joins the MINIMUM cluster label among its core neighbors
  *     (order-free tie rule);
  *   - everything else is NOISE, cluster = -1.
  *
  * Spark-native plan, no all-pairs stage anywhere:
  *   1. eps-cell grid: each point keys to cell (x div eps, y div eps)
  *      (domain offset makes coords non-negative so `div` == floor —
  *      exact int64, no float). Any pair within eps is within the 3×3
  *      cell ring, so candidates = one equi-join of home-cell points
  *      against 9-exploded ring keys — each (a,b) pair produced EXACTLY
  *      once (b's home cell is unique), no pair-dedup shuffle.
  *   2. exact int64 distance filter dx²+dy² <= eps² inside the join —
  *      codegen, no UDF.
  *   3. degree count = one hash aggregate; core = degree >= minPts.
  *   4. components via [[Dedup.dupClusters]] — a one-task union-find when
  *      the core edges fit its bound, alternating star contraction
  *      (O(log² n) rounds, convergence `require`d) above it.
  *   5. border labels = one more aggregate over the (non-core, core)
  *      neighbor edges.
  *
  * 100 TB posture: the candidate join shuffles on cell keys whose
  * population is bounded by point density × 9 (grid salting holds off
  * city-sized skew: a cell with k points makes 9k² candidate rows ONLY
  * inside that cell — eps chosen near the density scale keeps k small;
  * for metropolis-grade skew pass a finer `eps` grid and raise minPts,
  * or pre-aggregate exact-duplicate coordinates). Everything else is
  * hash aggregates and the O(log d) component loop. No driver-side data.
  */
object Dbscan {
  private val LON_OFF = 180000000L
  private val LAT_OFF = 90000000L

  /** Neighbor pairs (id_a, id_b) with dist² <= eps², self-pairs included.
    * Each ordered pair appears exactly once.
    */
  def neighborPairs(pts: DataFrame, id: Column, x: Column, y: Column,
                    eps: Long): DataFrame = {
    require(eps > 0, "eps must be positive")
    val p = pts.select(id.as("id"), x.as("x"), y.as("y"))
    val cxa = expr(s"(x + $LON_OFF) div $eps")
    val cya = expr(s"(y + $LAT_OFF) div $eps")
    // 3×3 ring keys for the probe side; home key for the build side.
    // Pack (cx, cy) into one long: cx <= 360e6/eps < 2^29 for eps >= 1.
    val home = p.select(col("id").as("id_a"), col("x").as("xa"), col("y").as("ya"),
      (cxa * 1073741824L + cya).as("cell"))
    val ringCells = array((for (dx <- -1 to 1; dy <- -1 to 1) yield {
      ((cxa + dx) * 1073741824L + (cya + dy))
    }): _*)
    val ring = p.select(col("id").as("id_b"), col("x").as("xb"), col("y").as("yb"),
      explode(ringCells).as("cell"))
    home.join(ring, "cell")
      .where((col("xa") - col("xb")) * (col("xa") - col("xb")) +
             (col("ya") - col("yb")) * (col("ya") - col("yb")) <= lit(eps * eps))
      .select("id_a", "id_b")
  }

  /** ST neighbor pairs (id_a, id_b) with dist² <= eps1² AND |Δt| <= eps2,
    * self-pairs included — the [[neighborPairs]] grid extended with a time
    * axis per the co-location blocking discipline
    * ([[Trajectory.coLocation]]): the home side keeps its ONE
    * (cell, τ-bucket) key, the probe side explodes 3×3 spatial ring ×
    * {tb−1, tb, tb+1}. Containment: |Δt| <= eps2 bounds the τ-bucket gap
    * by 1 for any sign of t (bucket boundaries are eps2 apart; a closed
    * interval of length eps2 spans at most one boundary — trunc vs floor
    * only re-labels the bucket at 0, never widens a gap past 1). The 27
    * (cell, tb) ring keys are distinct, so each ordered pair is produced
    * exactly once — no dedup exchange. Exact int64 predicates decide.
    */
  def neighborPairsST(pts: DataFrame, id: Column, x: Column, y: Column,
                      t: Column, eps1: Long, eps2: Long): DataFrame = {
    require(eps1 > 0 && eps2 > 0, "eps1/eps2 must be positive")
    val p = pts.select(id.as("id"), x.as("x"), y.as("y"), t.cast("long").as("t"))
    val cxa = expr(s"(x + $LON_OFF) div $eps1")
    val cya = expr(s"(y + $LAT_OFF) div $eps1")
    val tb = expr(s"t div ${eps2}L")
    val home = p.select(col("id").as("id_a"), col("x").as("xa"),
      col("y").as("ya"), col("t").as("ta"),
      (cxa * 1073741824L + cya).as("cell"), tb.as("tb"))
    val ringCells = array((for (dx <- -1 to 1; dy <- -1 to 1) yield {
      ((cxa + dx) * 1073741824L + (cya + dy))
    }): _*)
    val ring = p.select(col("id").as("id_b"), col("x").as("xb"),
        col("y").as("yb"), col("t").as("tbt"),
        explode(ringCells).as("cell"), tb.as("_tb0"))
      .select(col("id_b"), col("xb"), col("yb"), col("tbt"), col("cell"),
        explode(array(col("_tb0") - 1L, col("_tb0"), col("_tb0") + 1L)).as("tb"))
    home.join(ring, Seq("cell", "tb"))
      .where((col("xa") - col("xb")) * (col("xa") - col("xb")) +
             (col("ya") - col("yb")) * (col("ya") - col("yb")) <= lit(eps1 * eps1) &&
             abs(col("ta") - col("tbt")) <= lit(eps2))
      .select("id_a", "id_b")
  }

  /** Full DBSCAN: returns (id, cluster) for EVERY input point —
    * cluster = component-min id for core/border points, -1 for noise.
    */
  def cluster(pts: DataFrame, id: Column, x: Column, y: Column,
              eps: Long, minPts: Int): DataFrame =
    labelFrom(pts, id, neighborPairs(pts, id, x, y, eps), minPts)

  /** ST-DBSCAN [Birant & Kut 2007, deterministic min-label variant]:
    * density clustering where the neighborhood requires BOTH spatial
    * distance <= eps1 AND temporal distance <= eps2 — "group the fixes
    * into EVENTS, not just places": a plaza that fills up every evening is
    * one spatial cluster but a different ST cluster per evening. Same rule
    * set as [[cluster]] with the ST neighborhood: core iff
    * |N_{eps1,eps2}(p)| >= minPts (self included), clusters = min-id
    * components of the core-core ST graph, borders take the min
    * core-neighbor label, noise −1. With eps2 >= the data's time span the
    * labels coincide with plain [[cluster]] (spec-pinned).
    */
  def clusterST(pts: DataFrame, id: Column, x: Column, y: Column, t: Column,
                eps1: Long, eps2: Long, minPts: Int): DataFrame =
    labelFrom(pts, id, neighborPairsST(pts, id, x, y, t, eps1, eps2), minPts)

  /** Shared deterministic labeling downstream of a neighbor-pair set:
    * degree → core, dupClusters components, min-core-neighbor
    * borders, noise −1.
    */
  private def labelFrom(pts: DataFrame, id: Column, nbrIn: DataFrame,
                        minPts: Int): DataFrame = {
    val nbr = nbrIn.localCheckpoint()
    val core = nbr.groupBy(col("id_a").as("id")).agg(count(lit(1)).as("deg"))
      .where(col("deg") >= minPts).select("id")
    // core-core edges, one row per unordered pair (dupClusters mirrors)
    val coreEdges = nbr.where(col("id_a") < col("id_b"))
      .join(core.withColumnRenamed("id", "id_a"), Seq("id_a"))
      .join(core.withColumnRenamed("id", "id_b"), Seq("id_b"))
      .select("id_a", "id_b")
    val comp = Dedup.dupClusters(coreEdges)
      .withColumnRenamed("doc_id", "id").withColumnRenamed("cluster_id", "cl")
    // isolated core (no core neighbor) = its own singleton cluster
    val coreLbl = core.join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("cl"), col("id")).as("cl"))
    // border: non-core with >= 1 core neighbor -> min core-neighbor label
    val borderLbl = nbr.where(col("id_a") =!= col("id_b"))
      .join(coreLbl.select(col("id").as("id_b"), col("cl")), Seq("id_b"))
      .join(coreLbl.select(col("id").as("id_a")), Seq("id_a"), "left_anti")
      .groupBy(col("id_a").as("id")).agg(min("cl").as("cl"))
    val labeled = coreLbl.unionByName(borderLbl)
    pts.select(id.as("id"))
      .join(labeled, Seq("id"), "left")
      .select(col("id"), coalesce(col("cl"), lit(-1L)).as("cluster"))
  }
}
