package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{BBoxM, Morton, ZGrid}

/** Map matching — snap each point to its NEAREST segment within a radius
  * (the "attach GPS fix / photo location to the road network" verb; upstream
  * users compose OSHDB's cell index with a nearest-way scan for this, we make
  * it one operator).
  *
  * Semantics: for every point p, among all segments s with
  * point-to-segment distance d(p, s) ≤ radius, return the one minimizing
  * (⌊d²⌋, segment_id) — the floor-quantized squared planar micro-degree
  * distance with the id as the deterministic tie-break. Points with no
  * segment inside the radius are absent from the output (standard max-snap
  * map matching). Output also carries the snapped position — the closest
  * point ON the chosen segment — floor-quantized to micro-degrees.
  *
  * Exactness / oracle parity: the per-pair kernel is a FIXED IEEE double
  * chain (the q74 trick): long differences (exact) cast to double (exact,
  * diffs < 2^53), then dot = wx·dx + wy·dy, len² = dx² + dy²,
  * t = clamp(dot/len², 0, 1) (0 for degenerate zero-length segments),
  * e = w − t·d, d² = ex² + ey². Every operation is a correctly-rounded IEEE
  * double op evaluated in the same order by any engine, so ⌊d²⌋ and the
  * ⌊snap⌋ coordinates are engine-invariant integers a DuckDB twin
  * reproduces bit-for-bit — no libm call anywhere in the chain.
  *
  * Plan (100 TB posture): NO broadcast — both sides are table-sized.
  *   1. segments explode to the cover cells of their bbox EXPANDED by the
  *      radius at `level` (fan-out bounded by (len/cell + 2r/cell + 2)²;
  *      pick cell ≈ radius); points compute their ONE cell — so each
  *      candidate pair appears exactly once and needs no dedup;
  *   2. one equi-join on the cell (shuffle ∝ candidates, AQE-skew-safe —
  *      no all-pairs stage anywhere);
  *   3. the codegen double kernel filters to d² ≤ r² and ONE
  *      ObjectHashAggregate takes the lexicographic argmin per point via
  *      [[graft.functions.ArgMinLongsAgg]] — map-side partial argmin in a
  *      hash table (min(struct) would plan as SortAggregate and sort the
  *      candidate set on both exchange sides), so the second exchange
  *      carries ≤ one row per (task, point) and the plan has NO sort node.
  * Containment proof: d(p, s) ≤ r ⇒ p lies in s's r-expanded bbox ⇒ p's
  * cell (same level, same clamped grid) is among that bbox's cover cells.
  */
object MapMatch {

  /** @param points (pId, pLon, pLat) micro-degree point table
    * @param segs   (sId, x1, y1, x2, y2) micro-degree segment table
    * @param radiusMicro max snap distance (planar micro-degrees)
    * @param level  ZGrid level for the candidate cell join (cell ≈ radius)
    * @return (qid, seg_id, snap_d2q, snap_x, snap_y) — one row per matched
    *         point: ⌊d²⌋ and the ⌊·⌋-quantized closest point on the segment
    */
  def snapToSegments(spark: SparkSession, points: DataFrame,
                     pId: Column, pLon: Column, pLat: Column,
                     segs: DataFrame, sId: Column,
                     x1: Column, y1: Column, x2: Column, y2: Column,
                     radiusMicro: Long, level: Int): DataFrame =
    candidatePairs(spark, points.select(pId.cast("long").as("qid"),
        pLon.cast("long").as("_plon"), pLat.cast("long").as("_plat")),
        segs, sId, x1, y1, x2, y2, radiusMicro, level)
      .groupBy("qid")
      .agg(graft.functions.ArgMinLongsAgg.argminLongs(
        struct(col("_d2q"), col("_sid"), col("_snapx"), col("_snapy"))).as("_best"))
      .select(col("qid"), col("_best._sid").as("seg_id"),
        col("_best._d2q").as("snap_d2q"),
        col("_best._snapx").as("snap_x"), col("_best._snapy").as("snap_y"))

  /** Shared candidate kernel: all (point, segment) pairs with ⌊d²⌋ ≤ r² —
    * the cover-cell join + fixed IEEE chain of [[snapToSegments]]'s
    * scaladoc, each pair produced exactly once. `points` holds long
    * `_plon`/`_plat` and any key columns; returns those key columns, then
    * (_sid, _d2q, _snapx, _snapy).
    */
  private def candidatePairs(spark: SparkSession, points: DataFrame,
                             segs: DataFrame, sId: Column,
                             x1: Column, y1: Column, x2: Column, y2: Column,
                             radiusMicro: Long, level: Int): DataFrame = {
    require(radiusMicro > 0, "radiusMicro must be positive")
    require(level >= 1 && level <= 16, "level must be in [1, 16]")
    import spark.implicits._

    val keys = points.columns.filterNot(c => c == "_plon" || c == "_plat")
    val pts = points
      .withColumn("_cell",
        graft.functions.GraftFunctions.zcell(col("_plon"), col("_plat"), level))

    val prepared = segs.select(sId.cast("long").as("_sid"),
      x1.cast("long").as("_x1"), y1.cast("long").as("_y1"),
      x2.cast("long").as("_x2"), y2.cast("long").as("_y2"))
    val r = radiusMicro
    val exploded = prepared.flatMap { row =>
      val (sx1, sy1, sx2, sy2) =
        (row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
      val b = BBoxM(math.min(sx1, sx2) - r, math.min(sy1, sy2) - r,
        math.max(sx1, sx2) + r, math.max(sy1, sy2) + r)
      ZGrid.bboxCells(level, b).map { case (cx, cy) =>
        (row.getLong(0), sx1, sy1, sx2, sy2, Morton.encode(cx, cy))
      }
    }.toDF("_sid", "_x1", "_y1", "_x2", "_y2", "_cell")

    val joined = pts.join(exploded, Seq("_cell"))

    // fixed IEEE chain — identical op order to the DuckDB twin
    val wx = (col("_plon") - col("_x1")).cast("double")
    val wy = (col("_plat") - col("_y1")).cast("double")
    val dx = (col("_x2") - col("_x1")).cast("double")
    val dy = (col("_y2") - col("_y1")).cast("double")
    val dot = wx * dx + wy * dy
    val len2 = dx * dx + dy * dy
    val t = when(len2 === 0.0, lit(0.0))
      .otherwise(least(greatest(dot / len2, lit(0.0)), lit(1.0)))
    val ex = wx - t * dx
    val ey = wy - t * dy
    val d2 = ex * ex + ey * ey

    joined
      .withColumn("_d2q", floor(d2).cast("long"))
      .withColumn("_snapx", floor(col("_x1").cast("double") + t * dx).cast("long"))
      .withColumn("_snapy", floor(col("_y1").cast("double") + t * dy).cast("long"))
      .where(col("_d2q") <= lit(r * r))
      .select((keys ++ Seq("_sid", "_d2q", "_snapx", "_snapy")).map(col): _*)
  }

  /** HMM/VITERBI map matching [Newson & Krakauer 2009, deterministic
    * integer variant] — the SEQUENCE-consistent upgrade of
    * [[snapToSegments]]: per-fix nearest snapping ping-pongs between
    * parallel roads on every GPS wobble; Viterbi charges a switch penalty
    * λ so the matched road changes only when the evidence outweighs it.
    *
    * Deterministic rule set (total, spec/oracle-replayable):
    *   - candidates per fix = segments with ⌊d²⌋ ≤ r² (the shared fixed
    *     IEEE kernel); emission cost = ⌊d²⌋;
    *   - path cost = Σ emissions + λ · (number of segment CHANGES between
    *     consecutive fixes); uniform λ collapses the transition min to
    *     `cost(s) = d2(s) + min(stay(s), m_prev + λ)` — O(C) per fix, not
    *     O(C²) (m_prev = the previous column's min);
    *   - optimal path, ties broken by preferring STAY over switch, then
    *     the smallest segment id (final state argmin by (cost, sid);
    *     switch-source = smallest-sid argmin of the previous column);
    *   - a fix with NO candidate emits seg −1 and BREAKS the chain: the
    *     DP restarts after it with no switch charge across the gap.
    *
    * Output: one row per fix — (entity, tus, oid, seg_id, d2q, switched)
    * with switched = 1 on fixes where the matched segment differs from the
    * previous fix's within one chain (Σ d2q + λ·Σ switched = the DP
    * minimum by construction — the oracle checks exactly this).
    *
    * Plan (100 TB posture): the candidate cover-cell join is the only
    * spatial exchange; per-fix candidate lists are bounded collects
    * (radius-bounded fan-in, the gridFrechet discipline); the DP is a
    * map-only kernel over ONE entity exchange — O(fixes · C) time,
    * O(fixes · C) memory per entity, both bounded by the radius and the
    * per-entity fix count (cap upstream for pathological entities).
    *
    * Every fix must carry an entity: the DP throws an
    * `IllegalArgumentException` naming `viterbiMatch` when it meets the
    * NULL-entity group, which fails the query (filter such fixes first).
    */
  def viterbiMatch(spark: SparkSession, fixes: DataFrame, entity: Column,
                   tUs: Column, orderId: Column, lon: Column, lat: Column,
                   segs: DataFrame, sId: Column,
                   x1: Column, y1: Column, x2: Column, y2: Column,
                   radiusMicro: Long, level: Int,
                   switchPenalty: Long): DataFrame = {
    require(switchPenalty >= 0, "switchPenalty must be non-negative")
    val fx = fixes.select(entity.cast("long").as("ent"),
      tUs.cast("long").as("tus"), orderId.cast("long").as("oid"),
      lon.cast("long").as("x"), lat.cast("long").as("y"))
    // candidates are keyed by the whole fix, so entities that reuse an oid
    // never see each other's candidates; the set drops the copies that
    // duplicate fix rows would add
    val fixKey = Seq("ent", "tus", "oid", "x", "y")
    val cand = candidatePairs(spark,
        fx.select(fixKey.map(col) ++ Seq(col("x").as("_plon"), col("y").as("_plat")): _*),
        segs, sId, x1, y1, x2, y2, radiusMicro, level)
      .groupBy(fixKey.map(col): _*)
      .agg(collect_set(struct(col("_d2q").as("d2q"), col("_sid").as("sid")))
        .as("cands"))
    val seqd = fx.join(cand, fixKey, "left")
      .select(col("ent"), struct(col("tus"), col("oid"),
        coalesce(col("cands"), expr(
          "cast(array() as array<struct<d2q: bigint, sid: bigint>>)"))
          .as("cands")).as("fx"))
      .groupBy("ent").agg(array_sort(collect_list(col("fx"))).as("seq"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("entity",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("tus",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("oid",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("seg_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("d2q",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("switched",
        org.apache.spark.sql.types.LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val lam = switchPenalty
    seqd.mapPartitions { it =>
      it.flatMap { row =>
        if (row.isNullAt(0)) throw new IllegalArgumentException(
          "viterbiMatch: a fix has a NULL entity; filter such fixes before matching")
        val ent = row.getLong(0)
        val seq = row.getSeq[org.apache.spark.sql.Row](1)
        val INF = Long.MaxValue / 4
        val out = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
        // chains split at empty-candidate fixes
        var i = 0
        val n = seq.length
        while (i < n) {
          if (seq(i).getSeq[org.apache.spark.sql.Row](2).isEmpty) {
            out += org.apache.spark.sql.Row(ent, seq(i).getLong(0),
              seq(i).getLong(1), -1L, 0L, 0L)
            i += 1
          } else {
            var j = i
            while (j < n && seq(j).getSeq[org.apache.spark.sql.Row](2).nonEmpty) j += 1
            // DP over chain [i, j)
            val steps = (i until j).map { k =>
              seq(k).getSeq[org.apache.spark.sql.Row](2)
                .map(c => (c.getLong(1), c.getLong(0))).sortBy(_._1).toArray
            } // per step: (sid, d2q) sorted by sid
            val cost = steps.map(st => new Array[Long](st.length)).toArray
            val back = steps.map(st => new Array[Int](st.length)).toArray
            for (c <- steps(0).indices) {
              cost(0)(c) = steps(0)(c)._2; back(0)(c) = -1
            }
            for (k <- 1 until steps.length) {
              val prev = steps(k - 1); val pc = cost(k - 1)
              val prevSids = prev.map(_._1)
              var mIdx = 0
              for (c <- prev.indices)
                if (pc(c) < pc(mIdx)) mIdx = c // first (smallest sid) argmin
              val m = pc(mIdx)
              for (c <- steps(k).indices) {
                val (sid, d2) = steps(k)(c)
                // stay: same sid in prev column (sorted -> binary search)
                var stay = INF; var stayIdx = -1
                val pos = java.util.Arrays.binarySearch(prevSids, sid)
                if (pos >= 0) { stay = pc(pos); stayIdx = pos }
                val switchCost = m + lam
                if (stay <= switchCost) {
                  cost(k)(c) = d2 + stay; back(k)(c) = stayIdx
                } else {
                  cost(k)(c) = d2 + switchCost; back(k)(c) = mIdx
                }
              }
            }
            // final argmin by (cost, sid); backtrack
            val last = steps.length - 1
            var bIdx = 0
            for (c <- steps(last).indices)
              if (cost(last)(c) < cost(last)(bIdx)) bIdx = c
            val chosen = new Array[Int](steps.length)
            chosen(last) = bIdx
            for (k <- last to 1 by -1) chosen(k - 1) = back(k)(chosen(k))
            for (k <- steps.indices) {
              val (sid, d2) = steps(k)(chosen(k))
              val switched =
                if (k > 0 && steps(k - 1)(chosen(k - 1))._1 != sid) 1L else 0L
              out += org.apache.spark.sql.Row(ent, seq(i + k).getLong(0),
                seq(i + k).getLong(1), sid, d2, switched)
            }
            i = j
          }
        }
        out
      }
    }(enc)
  }
}
