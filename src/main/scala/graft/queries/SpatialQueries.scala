package graft
package queries

import org.apache.spark.sql.functions._
import graft.api.Reducer
import graft.fixtures.Fixtures
import graft.functions.GraftFunctions._
import graft.operators.{Dbscan, Knn, Routing, SpatialJoin}
import graft.oracle.Derive
import Shared._

/** Vector-spatial queries: point-in-polygon and clipped joins, kNN and
  * radius joins, geometry metrics, antimeridian seams, density clustering,
  * graph/network analysis and the point-pattern statistics.
  */
object SpatialQueries {
  /** cos as the fixed degree-12 Horner polynomial over `z` = φ² — the SAME
    * shortest-repr double literals the Scala kernel
    * (SpatialJoin.cosPoly) evaluates, so DuckDB and the JVM produce
    * bit-identical doubles (libm cos may differ by 1 ulp between engines).
    */
  private def cosPolySql(z: String): String =
    s"1.0 + $z * (-0.5 + $z * (0.041666666666666664 + $z * (-0.001388888888888889 + " +
      s"$z * (2.48015873015873e-05 + $z * (-2.755731922398589e-07 + $z * 2.08767569878681e-09)))))"

  val specs: Seq[QuerySpec] = Seq(
    // ---- C2: many-polygon spatial join (cover-cell equi-join + raycast refine)
    QuerySpec("q01_spatial_join", (s, dir) => {
      SpatialJoin.join(s, customerPts(s, dir), col("lonm"), col("latm"), Derive.rectSpecs)
        .select("c_custkey", "poly_id")
        .orderBy("c_custkey", "poly_id")
    },
      s"""SELECT c.c_custkey AS c_custkey, r.poly_id AS poly_id
         |FROM customer c JOIN ${Derive.rectsSqlValues}
         |ON ${Derive.lonSql("c.c_custkey")} BETWEEN r.lon_min AND r.lon_max
         |AND ${Derive.latSql("c.c_custkey")} BETWEEN r.lat_min AND r.lat_max
         |ORDER BY c_custkey, poly_id""".stripMargin),
    // ---- C5: raster↔vector tile assignment (equirect, integer-exact)
    QuerySpec("q02_tile_assign", (s, dir) => {
      val pts = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"),
          Derive.lonMicro(col("o_orderkey")).as("lonm"),
          Derive.latMicro(col("o_orderkey")).as("latm"))
      SpatialJoin.assignTiles(pts, col("lonm"), col("latm"), 8)
        .select("o_orderkey", "tile_z", "tile_x", "tile_y")
        .orderBy("o_orderkey")
    },
      s"""WITH pts AS (SELECT o_orderkey, ${Derive.lonSql("o_orderkey")} AS lonm,
         |  ${Derive.latSql("o_orderkey")} AS latm FROM orders)
         |SELECT o_orderkey, 8 AS tile_z,
         |  ((lonm + 180000000) * 256) // 360000000 AS tile_x,
         |  ((90000000 - latm) * 256) // 180000000 AS tile_y
         |FROM pts ORDER BY o_orderkey""".stripMargin),
    // ---- H1/B2: MultiPolygon-with-hole spatial join — even-odd PolyM
    //      (shell + hole + disjoint island per id) through the SAME generic
    //      cover-join + raycast path; oracle is exact rect algebra
    QuerySpec("q0f_multipolygon_join", (s, dir) => {
      SpatialJoin.join(s, customerPts(s, dir), col("lonm"), col("latm"), Derive.multiSpecs)
        .select("c_custkey", "poly_id")
        .orderBy("c_custkey", "poly_id")
    },
      s"""SELECT c.c_custkey AS c_custkey, m.poly_id AS poly_id
         |FROM customer c JOIN ${Derive.multisSqlValues}
         |ON ((${Derive.lonSql("c.c_custkey")} BETWEEN m.a_lo AND m.a_hi
         |     AND ${Derive.latSql("c.c_custkey")} BETWEEN m.a_la AND m.a_ha
         |     AND NOT (${Derive.lonSql("c.c_custkey")} > m.h_lo AND ${Derive.lonSql("c.c_custkey")} < m.h_hi
         |              AND ${Derive.latSql("c.c_custkey")} > m.h_la AND ${Derive.latSql("c.c_custkey")} < m.h_ha))
         |    OR (${Derive.lonSql("c.c_custkey")} BETWEEN m.b_lo AND m.b_hi
         |        AND ${Derive.latSql("c.c_custkey")} BETWEEN m.b_la AND m.b_ha))
         |ORDER BY c_custkey, poly_id""".stripMargin),
    // ---- C2 with a TABLE-SIZED polygon side: cover computed in a
    //      distributed flatMap over (poly_id, wkb) rows, refine against
    //      rings shipped on partial cover cells — same semantics and oracle
    //      as q01, different (driver-free) physical plan
    QuerySpec("q0l_spatial_join_df", (s, dir) => {
      SpatialJoin.joinDf(s, customerPts(s, dir), col("lonm"), col("latm"),
          Fixtures.polygonsDf(s, Derive.rectSpecs))
        .select("c_custkey", "poly_id")
        .orderBy("c_custkey", "poly_id")
    },
      s"""SELECT c.c_custkey AS c_custkey, r.poly_id AS poly_id
         |FROM customer c JOIN ${Derive.rectsSqlValues}
         |ON ${Derive.lonSql("c.c_custkey")} BETWEEN r.lon_min AND r.lon_max
         |AND ${Derive.latSql("c.c_custkey")} BETWEEN r.lat_min AND r.lat_max
         |ORDER BY c_custkey, poly_id""".stripMargin),
    // ---- C2/H4 line-feature composition: zone-CLIPPED segment length per
    //      polygon (the reference's "length of ways per district" —
    //      aggregateByGeometry + length over clipped geometries). Segments
    //      derive from order keys (endpoint + bounded delta); the clip is
    //      one fixed IEEE slab chain quantized by floor(len·1000), so the
    //      DuckDB twin reproduces every binary double exactly and the sum
    //      is int64-exact.
    QuerySpec("q74_clip_length", (s, dir) => {
      val k = col("o_orderkey")
      val segs = s.read.parquet(s"$dir/orders.parquet").select(k,
        Derive.lonMicro(k).as("x1"), Derive.latMicro(k).as("y1"),
        (Derive.lonMicro(k) + (k * 7919L) % 2000001L - 1000000L).as("x2"),
        (Derive.latMicro(k) + (k * 104729L) % 2000001L - 1000000L).as("y2"))
      SpatialJoin.clipLengthJoin(s, segs, k, col("x1"), col("y1"),
          col("x2"), col("y2"), Derive.rectSpecs)
        .orderBy("poly_id")
    },
      s"""WITH segs AS (SELECT o_orderkey,
         |  ${Derive.lonSql("o_orderkey")} AS x1, ${Derive.latSql("o_orderkey")} AS y1,
         |  ${Derive.lonSql("o_orderkey")} + (o_orderkey * 7919) % 2000001 - 1000000 AS x2,
         |  ${Derive.latSql("o_orderkey")} + (o_orderkey * 104729) % 2000001 - 1000000 AS y2
         |  FROM orders),
         |d AS (SELECT s.o_orderkey, r.poly_id,
         |    CAST(s.x1 AS DOUBLE) AS x1d, CAST(s.y1 AS DOUBLE) AS y1d,
         |    CAST(s.x2 - s.x1 AS DOUBLE) AS dx, CAST(s.y2 - s.y1 AS DOUBLE) AS dy,
         |    CAST(r.lon_min AS DOUBLE) AS lo, CAST(r.lat_min AS DOUBLE) AS la,
         |    CAST(r.lon_max AS DOUBLE) AS hi, CAST(r.lat_max AS DOUBLE) AS ha
         |  FROM segs s CROSS JOIN ${Derive.rectsSqlValues}),
         |t AS (SELECT o_orderkey, poly_id, dx, dy,
         |    CASE WHEN dx > 0 THEN (lo - x1d) / dx WHEN dx < 0 THEN (hi - x1d) / dx
         |         WHEN x1d >= lo AND x1d <= hi THEN -1e308 ELSE 1e308 END AS txe,
         |    CASE WHEN dx > 0 THEN (hi - x1d) / dx WHEN dx < 0 THEN (lo - x1d) / dx
         |         WHEN x1d >= lo AND x1d <= hi THEN 1e308 ELSE -1e308 END AS txx,
         |    CASE WHEN dy > 0 THEN (la - y1d) / dy WHEN dy < 0 THEN (ha - y1d) / dy
         |         WHEN y1d >= la AND y1d <= ha THEN -1e308 ELSE 1e308 END AS tye,
         |    CASE WHEN dy > 0 THEN (ha - y1d) / dy WHEN dy < 0 THEN (la - y1d) / dy
         |         WHEN y1d >= la AND y1d <= ha THEN 1e308 ELSE -1e308 END AS tyx
         |  FROM d),
         |ln AS (SELECT poly_id,
         |    CASE WHEN LEAST(1.0, LEAST(txx, tyx)) > GREATEST(0.0, GREATEST(txe, tye))
         |         THEN sqrt(dx * dx + dy * dy) *
         |              (LEAST(1.0, LEAST(txx, tyx)) - GREATEST(0.0, GREATEST(txe, tye)))
         |         ELSE 0.0 END AS len
         |  FROM t)
         |SELECT poly_id, count(*) AS n_segments,
         |  CAST(sum(CAST(floor(len * 1000.0) AS BIGINT)) AS BIGINT) AS clipped_len
         |FROM ln WHERE len > 0 GROUP BY poly_id ORDER BY poly_id""".stripMargin),
    // ---- C2/H3 polygon-feature composition: zone-CLIPPED feature AREA per
    //      polygon ("area of buildings per district"). Rect features derive
    //      from customer keys (center ± bounded half-dims); rect∩rect is a
    //      closed-form INTEGER overlap — no float anywhere on this path.
    QuerySpec("q75_clip_area", (s, dir) => {
      val k = col("c_custkey")
      val feats = s.read.parquet(s"$dir/customer.parquet").select(k,
        (Derive.lonMicro(k) - (k * 6101L) % 1500001L).as("flo"),
        (Derive.latMicro(k) - (k * 9203L) % 1500001L).as("fla"),
        (Derive.lonMicro(k) + (k * 6101L) % 1500001L).as("fhi"),
        (Derive.latMicro(k) + (k * 9203L) % 1500001L).as("fha"))
      SpatialJoin.clipAreaJoin(s, feats, k, col("flo"), col("fla"),
          col("fhi"), col("fha"), Derive.rectSpecs)
        // DECIMAL(38,0) stays internal (10^12-feature sum headroom); the
        // output surface gets the canonical digit STRING — decimal hash
        // canonicalization differs between parquet readers.
        .withColumn("clipped_area", col("clipped_area").cast("string"))
        .orderBy("poly_id")
    },
      s"""WITH f AS (SELECT c_custkey,
         |  ${Derive.lonSql("c_custkey")} - (c_custkey * 6101) % 1500001 AS flo,
         |  ${Derive.latSql("c_custkey")} - (c_custkey * 9203) % 1500001 AS fla,
         |  ${Derive.lonSql("c_custkey")} + (c_custkey * 6101) % 1500001 AS fhi,
         |  ${Derive.latSql("c_custkey")} + (c_custkey * 9203) % 1500001 AS fha
         |  FROM customer),
         |o AS (SELECT r.poly_id,
         |    LEAST(f.fhi, r.lon_max) - GREATEST(f.flo, r.lon_min) AS w,
         |    LEAST(f.fha, r.lat_max) - GREATEST(f.fla, r.lat_min) AS h
         |  FROM f CROSS JOIN ${Derive.rectsSqlValues})
         |SELECT poly_id, count(*) AS n_features,
         |  CAST(CAST(sum(w * h) AS DECIMAL(38,0)) AS VARCHAR) AS clipped_area
         |FROM o WHERE w > 0 AND h > 0 GROUP BY poly_id ORDER BY poly_id""".stripMargin),
    // ---- C2/H4 in METERS — the upstream flagship "km of roads per
    //      district" answers in meters [ref: oshdb-util Geo.lengthOf], not
    //      planar µdeg: same slab clip, then the local equirectangular
    //      metric at the clipped midpoint latitude. cos is a fixed Horner
    //      polynomial (not libm) so the DuckDB twin reproduces every binary
    //      double bit-for-bit; floor(m·1000) per pair → exact int64 mm sum.
    QuerySpec("q78_clip_length_m", (s, dir) => {
      val k = col("o_orderkey")
      val segs = s.read.parquet(s"$dir/orders.parquet").select(k,
        Derive.lonMicro(k).as("x1"), Derive.latMicro(k).as("y1"),
        (Derive.lonMicro(k) + (k * 7919L) % 2000001L - 1000000L).as("x2"),
        (Derive.latMicro(k) + (k * 104729L) % 2000001L - 1000000L).as("y2"))
      SpatialJoin.clipLengthJoin(s, segs, k, col("x1"), col("y1"),
          col("x2"), col("y2"), Derive.rectSpecs, unit = "meters")
        .orderBy("poly_id")
    },
      // meters twins: identical slab clip, then the equirect meters chain with
      // cos as the SAME fixed Horner polynomial the Scala kernel evaluates —
      // only correctly-rounded IEEE ops, so doubles match bit-for-bit
      s"""WITH segs AS (SELECT o_orderkey,
         |  ${Derive.lonSql("o_orderkey")} AS x1, ${Derive.latSql("o_orderkey")} AS y1,
         |  ${Derive.lonSql("o_orderkey")} + (o_orderkey * 7919) % 2000001 - 1000000 AS x2,
         |  ${Derive.latSql("o_orderkey")} + (o_orderkey * 104729) % 2000001 - 1000000 AS y2
         |  FROM orders),
         |d AS (SELECT s.o_orderkey, r.poly_id,
         |    CAST(s.x1 AS DOUBLE) AS x1d, CAST(s.y1 AS DOUBLE) AS y1d,
         |    CAST(s.x2 - s.x1 AS DOUBLE) AS dx, CAST(s.y2 - s.y1 AS DOUBLE) AS dy,
         |    CAST(r.lon_min AS DOUBLE) AS lo, CAST(r.lat_min AS DOUBLE) AS la,
         |    CAST(r.lon_max AS DOUBLE) AS hi, CAST(r.lat_max AS DOUBLE) AS ha
         |  FROM segs s CROSS JOIN ${Derive.rectsSqlValues}),
         |t AS (SELECT o_orderkey, poly_id, y1d, dx, dy,
         |    CASE WHEN dx > 0 THEN (lo - x1d) / dx WHEN dx < 0 THEN (hi - x1d) / dx
         |         WHEN x1d >= lo AND x1d <= hi THEN -1e308 ELSE 1e308 END AS txe,
         |    CASE WHEN dx > 0 THEN (hi - x1d) / dx WHEN dx < 0 THEN (lo - x1d) / dx
         |         WHEN x1d >= lo AND x1d <= hi THEN 1e308 ELSE -1e308 END AS txx,
         |    CASE WHEN dy > 0 THEN (la - y1d) / dy WHEN dy < 0 THEN (ha - y1d) / dy
         |         WHEN y1d >= la AND y1d <= ha THEN -1e308 ELSE 1e308 END AS tye,
         |    CASE WHEN dy > 0 THEN (ha - y1d) / dy WHEN dy < 0 THEN (la - y1d) / dy
         |         WHEN y1d >= la AND y1d <= ha THEN 1e308 ELSE -1e308 END AS tyx
         |  FROM d),
         |tt AS (SELECT poly_id, y1d, dx, dy,
         |    GREATEST(0.0, GREATEST(txe, tye)) AS t0,
         |    LEAST(1.0, LEAST(txx, tyx)) AS t1 FROM t),
         |ph AS (SELECT poly_id, dx, dy, t0, t1,
         |    ((y1d + dy * ((t0 + t1) * 0.5)) * 1.7453292519943295e-08)
         |    * ((y1d + dy * ((t0 + t1) * 0.5)) * 1.7453292519943295e-08) AS z
         |  FROM tt),
         |cp AS (SELECT poly_id, dx, dy, t0, t1, ${cosPolySql("z")} AS c FROM ph),
         |ln AS (SELECT poly_id,
         |    CASE WHEN t1 > t0
         |         THEN sqrt(dx * c * (dx * c) + dy * dy) * (t1 - t0) * 0.1111950802335329
         |         ELSE 0.0 END AS len
         |  FROM cp)
         |SELECT poly_id, count(*) AS n_segments,
         |  CAST(sum(CAST(floor(len * 1000.0) AS BIGINT)) AS BIGINT) AS clipped_len_mm
         |FROM ln WHERE len > 0 GROUP BY poly_id ORDER BY poly_id""".stripMargin),
    // ---- C2/H3 in METERS² — "m² of buildings per district" [ref:
    //      oshdb-util Geo.areaOf]: integer rect overlap, then w·cosφc·M ×
    //      h·M at the overlap's center latitude, floor-quantized to whole
    //      m² per pair; DECIMAL(38,0) sum stays internal, STRING surfaces.
    QuerySpec("q79_clip_area_m2", (s, dir) => {
      val k = col("c_custkey")
      val feats = s.read.parquet(s"$dir/customer.parquet").select(k,
        (Derive.lonMicro(k) - (k * 6101L) % 1500001L).as("flo"),
        (Derive.latMicro(k) - (k * 9203L) % 1500001L).as("fla"),
        (Derive.lonMicro(k) + (k * 6101L) % 1500001L).as("fhi"),
        (Derive.latMicro(k) + (k * 9203L) % 1500001L).as("fha"))
      SpatialJoin.clipAreaJoin(s, feats, k, col("flo"), col("fla"),
          col("fhi"), col("fha"), Derive.rectSpecs, unit = "meters")
        .withColumn("clipped_m2", col("clipped_m2").cast("string"))
        .orderBy("poly_id")
    },
      s"""WITH f AS (SELECT c_custkey,
         |  ${Derive.lonSql("c_custkey")} - (c_custkey * 6101) % 1500001 AS flo,
         |  ${Derive.latSql("c_custkey")} - (c_custkey * 9203) % 1500001 AS fla,
         |  ${Derive.lonSql("c_custkey")} + (c_custkey * 6101) % 1500001 AS fhi,
         |  ${Derive.latSql("c_custkey")} + (c_custkey * 9203) % 1500001 AS fha
         |  FROM customer),
         |o AS (SELECT r.poly_id,
         |    LEAST(f.fhi, r.lon_max) - GREATEST(f.flo, r.lon_min) AS w,
         |    LEAST(f.fha, r.lat_max) - GREATEST(f.fla, r.lat_min) AS h,
         |    GREATEST(f.fla, r.lat_min) AS lac, LEAST(f.fha, r.lat_max) AS hac
         |  FROM f CROSS JOIN ${Derive.rectsSqlValues}),
         |ph AS (SELECT poly_id, w, h,
         |    ((CAST(lac + hac AS DOUBLE) * 0.5) * 1.7453292519943295e-08)
         |    * ((CAST(lac + hac AS DOUBLE) * 0.5) * 1.7453292519943295e-08) AS z
         |  FROM o WHERE w > 0 AND h > 0),
         |cp AS (SELECT poly_id, w, h, ${cosPolySql("z")} AS c FROM ph),
         |aa AS (SELECT poly_id, CAST(floor(
         |    CAST(w AS DOUBLE) * c * 0.1111950802335329
         |    * (CAST(h AS DOUBLE) * 0.1111950802335329)) AS BIGINT) AS m2 FROM cp)
         |SELECT poly_id, count(*) AS n_features,
         |  CAST(CAST(sum(m2) AS DECIMAL(38,0)) AS VARCHAR) AS clipped_m2
         |FROM aa GROUP BY poly_id ORDER BY poly_id""".stripMargin),
    // ---- H5: zcell encoding + cell-keyed aggregation (the scan-pruning key)
    QuerySpec("q03_zcell_count", (s, dir) => {
      customerPts(s, dir)
        .select(zcell(col("lonm"), col("latm"), 12).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("n_points"))
        .orderBy("cell")
    },
      s"""WITH pts AS (SELECT ${Derive.lonSql("c_custkey")} AS lonm,
         |  ${Derive.latSql("c_custkey")} AS latm FROM customer),
         |${Derive.zcellSqlCte(12)}
         |SELECT cell, count(*) AS n_points FROM zc GROUP BY cell ORDER BY cell""".stripMargin),
    // ---- D11: aggregateByGeometry = spatial join → keyed count
    QuerySpec("q04_agg_by_geometry", (s, dir) => {
      val joined = SpatialJoin.join(s, customerPts(s, dir), col("lonm"), col("latm"), Derive.rectSpecs)
      Reducer.on(joined).aggregateBy("poly_id", col("poly_id")).count("n_points")
        .orderBy("poly_id")
    },
      s"""SELECT r.poly_id AS poly_id, count(*) AS n_points
         |FROM customer c JOIN ${Derive.rectsSqlValues}
         |ON ${Derive.lonSql("c.c_custkey")} BETWEEN r.lon_min AND r.lon_max
         |AND ${Derive.latSql("c.c_custkey")} BETWEEN r.lat_min AND r.lat_max
         |GROUP BY r.poly_id ORDER BY poly_id""".stripMargin),
    // ---- C4: exact kNN join via iterative cell-ring expansion
    QuerySpec("q06_knn", (s, dir) => {
      val nation = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey").cast("long").as("qid"),
          Derive.lonMicro(col("n_nationkey")).as("lonm"),
          Derive.latMicro(col("n_nationkey")).as("latm"))
      Knn.knnJoinDf(s, customerPts(s, dir), col("c_custkey"), col("lonm"), col("latm"),
          nation, col("qid"), col("lonm"), col("latm"), k = 5, level = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    },
      s"""WITH q AS (SELECT CAST(n_nationkey AS BIGINT) AS qid, ${Derive.lonSql("n_nationkey")} AS qlon,
         |  ${Derive.latSql("n_nationkey")} AS qlat FROM nation),
         |c AS (SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS plon,
         |  ${Derive.latSql("c_custkey")} AS plat FROM customer),
         |d AS (SELECT q.qid, c.c_custkey AS neighbor_id,
         |  (c.plon - q.qlon) * (c.plon - q.qlon) + (c.plat - q.qlat) * (c.plat - q.qlat) AS d2
         |  FROM q CROSS JOIN c),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d2, neighbor_id) AS rank FROM d)
         |SELECT qid, neighbor_id, rank, d2 FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),
    // ---- radius join over the supplier table as the query side (single-round cell cover)
    QuerySpec("q0g_radius_join_df", (s, dir) => {
      val sup = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey"),
          Derive.lonMicro(col("s_suppkey")).as("lonm"),
          Derive.latMicro(col("s_suppkey")).as("latm"))
      Knn.radiusJoinDf(s, customerPts(s, dir), col("c_custkey"), col("lonm"), col("latm"),
          sup, col("s_suppkey"), col("lonm"), col("latm"),
          radiusMicro = 15000000L, level = 5)
        .orderBy("qid", "neighbor_id")
    },
      s"""WITH q AS (SELECT CAST(s_suppkey AS BIGINT) AS qid, ${Derive.lonSql("s_suppkey")} AS qlon,
         |  ${Derive.latSql("s_suppkey")} AS qlat FROM supplier),
         |c AS (SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS plon,
         |  ${Derive.latSql("c_custkey")} AS plat FROM customer)
         |SELECT q.qid, c.c_custkey AS neighbor_id,
         |  (c.plon - q.qlon) * (c.plon - q.qlon) + (c.plat - q.qlat) * (c.plat - q.qlat) AS d2
         |FROM q CROSS JOIN c
         |WHERE (c.plon - q.qlon) * (c.plon - q.qlon) + (c.plat - q.qlat) * (c.plat - q.qlat)
         |      <= ${15000000L * 15000000L}
         |ORDER BY qid, neighbor_id""".stripMargin),
    // ---- C4 at scale: q06's kNN join over the supplier table as the query
    //      side (distributed ring expansion + per-round retirement)
    QuerySpec("q0e_knn_df", (s, dir) => {
      val sup = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey"),
          Derive.lonMicro(col("s_suppkey")).as("lonm"),
          Derive.latMicro(col("s_suppkey")).as("latm"))
      Knn.knnJoinDf(s, customerPts(s, dir), col("c_custkey"), col("lonm"), col("latm"),
          sup, col("s_suppkey"), col("lonm"), col("latm"), k = 5, level = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    },
      s"""WITH q AS (SELECT CAST(s_suppkey AS BIGINT) AS qid, ${Derive.lonSql("s_suppkey")} AS qlon,
         |  ${Derive.latSql("s_suppkey")} AS qlat FROM supplier),
         |c AS (SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS plon,
         |  ${Derive.latSql("c_custkey")} AS plat FROM customer),
         |d AS (SELECT q.qid, c.c_custkey AS neighbor_id,
         |  (c.plon - q.qlon) * (c.plon - q.qlon) + (c.plat - q.qlat) * (c.plat - q.qlat) AS d2
         |  FROM q CROSS JOIN c),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d2, neighbor_id) AS rank FROM d)
         |SELECT qid, neighbor_id, rank, d2 FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),
    // ---- H3/H4 + B5 geometry stage: WKB → metrics (spherical-shoelace area,
    //      haversine perimeter, geometry type) → filter-DSL virtual keys
    //      (geometry/area/perimeter — upstream oshdb-filter grammar). ORACLED:
    //      over rect + multipolygon specs the same metric formulas are
    //      closed-form SQL; only exact columns are output and every threshold
    //      sits ≥3% from the nearest value, so double jitter cannot flip rows.
    QuerySpec("q07_geo_metric_filter", (s, dir) => {
      val polys = SpatialJoin.withGeoMetrics(
        Fixtures.polygonsDf(s, Derive.rectSpecs ++ Derive.multiSpecs))
      polys.where(graft.filter.FilterDsl.toColumn(
          "geometry in (polygon, multipolygon) and area:(8e12..2e13) and not perimeter:(3e7..)",
          polys.schema, SpatialJoin.geoBindings))
        .select("poly_id", "kind", "geom_type", "n_vertices").orderBy("poly_id")
    }, {
      def a(p: String) = Derive.rectAreaSql(s"${p}_lo", s"${p}_la", s"${p}_hi", s"${p}_ha")
      def pm(p: String) = Derive.rectPerimeterSql(s"${p}_lo", s"${p}_la", s"${p}_hi", s"${p}_ha")
      s"""WITH rp AS (SELECT poly_id, 'rect' AS kind, 'polygon' AS geom_type, 4 AS n_vertices,
         |  ${Derive.rectAreaSql("lon_min", "lat_min", "lon_max", "lat_max")} AS area,
         |  ${Derive.rectPerimeterSql("lon_min", "lat_min", "lon_max", "lat_max")} AS per
         |  FROM ${Derive.rectsSqlValues}),
         |mp AS (SELECT poly_id, 'multi' AS kind, 'multipolygon' AS geom_type, 12 AS n_vertices,
         |  ${a("a")} - ${a("h")} + ${a("b")} AS area,
         |  ${pm("a")} + ${pm("h")} + ${pm("b")} AS per
         |  FROM ${Derive.multisSqlValues}),
         |u AS (SELECT * FROM rp UNION ALL SELECT * FROM mp)
         |SELECT poly_id, kind, geom_type, n_vertices FROM u
         |WHERE geom_type IN ('polygon', 'multipolygon')
         |  AND area BETWEEN 8e12 AND 2e13 AND NOT per >= 3e7
         |ORDER BY poly_id""".stripMargin
    }),
    // ---- H1 fallback + B5 `geometry:other` arm: a mixed-geometry table
    //      (closed rects → polygon, hole/island specs → multipolygon, OPEN
    //      relations → GeometryCollection via RingAssembly.relationGeometry,
    //      the upstream non-multipolygon-relation behavior) filtered with
    //      the DSL's GeometryTypeFilter classes. `geometry:polygon` matches
    //      Polygon AND MultiPolygon (the upstream class semantic);
    //      vertices:(..8) then excludes the 12-vertex multis, so all three
    //      classes discriminate. ORACLED: every output column is a
    //      generator-rule constant (ids, kinds, JTS type names, vertex
    //      counts).
    QuerySpec("q6h_geometry_other", (s, dir) => {
      import s.implicits._
      val polyRows = (Derive.rectSpecs ++ Derive.multiSpecs).toSeq.map(sp =>
        (sp.poly_id, sp.kind, graft.core.Jts.toWkb(graft.core.Jts.toJtsEvenOdd(sp.poly))))
      val otherRows = Derive.openRels.toSeq.map { case (id, ways) =>
        (id, "open",
          graft.core.Jts.toWkb(graft.core.RingAssembly.relationGeometry(ways.toSeq)))
      }
      val df = (polyRows ++ otherRows).toDF("poly_id", "kind", "wkb")
      val g = SpatialJoin.withGeoMetrics(df)
      g.where(graft.filter.FilterDsl.toColumn(
          "geometry:other or (geometry:polygon and vertices:(..8))",
          g.schema, SpatialJoin.geoBindings))
        .select("poly_id", "kind", "geom_type", "n_vertices").orderBy("poly_id")
    },
      // generator-rule VALUES: survivors are the 4-vertex rects (polygon
      // class, vertices<=8) and the open relations (GeometryCollection /
      // `other`, total vertices = sum of member way lengths by construction)
      {
      val rectRows = Derive.rects.map { case (id, _, _, _, _) =>
        (id, "rect", "polygon", 4) }
      val otherRows = Derive.openRels.map { case (id, ways) =>
        (id, "open", "geometrycollection", ways.map(_.length).sum) }
      val vals = (rectRows ++ otherRows).sortBy(_._1).map { case (i, k, t, n) =>
        s"('$i', '$k', '$t', CAST($n AS INTEGER))"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t(poly_id, kind, geom_type, n_vertices) ORDER BY poly_id"
    }),
    // ---- H2/C5: vector side of raster↔vector — polygons clipped to
    //      web-tile bboxes (distributed JTS ∩ flatMap). ORACLED: over the
    //      rect fixture set rect ∩ tile = rect, so the clipped envelope is
    //      closed-form integer algebra in ANSI SQL; only areal (dim-2)
    //      intersections count (an edge-aligned rect/tile touch is a line).
    //      Generic-polygon clip stays kernel-gated in FlagshipSpec.
    QuerySpec("q0d_clip_tiles", (s, dir) => {
      SpatialJoin.clipPolysToTiles(s, Derive.rectSpecs, z = 8)
        .where(col("clip_dim") === 2)
        .select(col("poly_id"), col("tile_z"), col("tile_x"), col("tile_y"),
          col("clip_lon_min"), col("clip_lat_min"),
          col("clip_lon_max"), col("clip_lat_max"))
        .orderBy("poly_id", "tile_x", "tile_y")
    },
      // rect ∩ tile is closed-form rect algebra: tile bounds at z=8 are exact
      // integers (360e6/256 = 1406250, 180e6/256 = 703125); strict overlap on
      // both axes ⟺ the engine's dim-2 (areal) intersection filter
      s"""WITH r AS (SELECT * FROM ${Derive.rectsSqlValues}),
         |tx AS (SELECT r.*, unnest(generate_series((r.lon_min + 180000000) // 1406250,
         |                                          (r.lon_max + 180000000) // 1406250)) AS tile_x FROM r),
         |t AS (SELECT tx.*, unnest(generate_series((90000000 - tx.lat_max) // 703125,
         |                                          (90000000 - tx.lat_min) // 703125)) AS tile_y FROM tx),
         |b AS (SELECT *, -180000000 + tile_x * 1406250 AS t_lo,
         |               -180000000 + tile_x * 1406250 + 1406249 AS t_hi,
         |               -90000000 + (255 - tile_y) * 703125 AS t_la,
         |               -90000000 + (255 - tile_y) * 703125 + 703124 AS t_ha FROM t)
         |SELECT poly_id, CAST(8 AS INTEGER) AS tile_z, tile_x, tile_y,
         |  greatest(lon_min, t_lo) AS clip_lon_min, greatest(lat_min, t_la) AS clip_lat_min,
         |  least(lon_max, t_hi) AS clip_lon_max, least(lat_max, t_ha) AS clip_lat_max
         |FROM b
         |WHERE greatest(lon_min, t_lo) < least(lon_max, t_hi)
         |  AND greatest(lat_min, t_la) < least(lat_max, t_ha)
         |ORDER BY poly_id, tile_x, tile_y""".stripMargin),
    // ---- D11 + zerofill: every polygon keyed, empty ones filled with 0
    QuerySpec("q08_agg_geometry_zerofill", (s, dir) => {
      import s.implicits._
      val joined = SpatialJoin.join(s, customerPts(s, dir), col("lonm"), col("latm"), Derive.rectSpecs)
      val counted = joined.groupBy("poly_id").agg(count(lit(1)).as("n_points"))
      val domain = Derive.rects.map(_._1).toSeq.toDF("poly_id")
      domain.join(counted, Seq("poly_id"), "left")
        .select(col("poly_id"), coalesce(col("n_points"), lit(0L)).as("n_points"))
        .orderBy("poly_id")
    },
      s"""WITH counted AS (SELECT r.poly_id AS poly_id, count(*) AS n_points
         |  FROM customer c JOIN ${Derive.rectsSqlValues}
         |  ON ${Derive.lonSql("c.c_custkey")} BETWEEN r.lon_min AND r.lon_max
         |  AND ${Derive.latSql("c.c_custkey")} BETWEEN r.lat_min AND r.lat_max
         |  GROUP BY r.poly_id),
         |dom AS (SELECT poly_id FROM ${Derive.rectsSqlValues.replace("AS r(", "AS d(")})
         |SELECT d.poly_id AS poly_id, coalesce(c.n_points, 0) AS n_points
         |FROM dom d LEFT JOIN counted c ON d.poly_id = c.poly_id
         |ORDER BY poly_id""".stripMargin),
    // ---- O10: salted shuffle-join path — same rows as q01, different plan
    QuerySpec("q09_spatial_join_salted", (s, dir) => {
      SpatialJoin.join(s, customerPts(s, dir), col("lonm"), col("latm"), Derive.rectSpecs,
          broadcastThreshold = 0L, saltBuckets = 4)
        .select("c_custkey", "poly_id")
        .orderBy("c_custkey", "poly_id")
    },
      s"""SELECT c.c_custkey AS c_custkey, r.poly_id AS poly_id
         |FROM customer c JOIN ${Derive.rectsSqlValues}
         |ON ${Derive.lonSql("c.c_custkey")} BETWEEN r.lon_min AND r.lon_max
         |AND ${Derive.latSql("c.c_custkey")} BETWEEN r.lat_min AND r.lat_max
         |ORDER BY c_custkey, poly_id""".stripMargin),
    // ---- C2/H4 dissolve: UNION area of overlapping footprints per zone
    //      (clipAreaJoin's sum double-counts overlap; "built-up area per
    //      district" needs the union). Zone-clip → disjoint-cell tiling
    //      (union area additive across cells) → per-(zone,cell) strip
    //      sweep → one sum. Oracle: an independent DuckDB derivation —
    //      per-zone strip decomposition with window-function
    //      gaps-and-islands y-interval union.
    QuerySpec("q7r_union_area", (s, dir) => {
      val k = col("c_custkey")
      val feats = s.read.parquet(s"$dir/customer.parquet").select(
        (Derive.lonMicro(k) - (k * 6101L) % 1500001L).as("flo"),
        (Derive.latMicro(k) - (k * 9203L) % 1500001L).as("fla"),
        (Derive.lonMicro(k) + (k * 6101L) % 1500001L).as("fhi"),
        (Derive.latMicro(k) + (k * 9203L) % 1500001L).as("fha"))
      SpatialJoin.unionAreaJoin(s, feats, col("flo"), col("fla"),
          col("fhi"), col("fha"), Derive.rects.toSeq)
        .orderBy("poly_id")
    },
      s"""WITH f AS (SELECT
         |  ${Derive.lonSql("c_custkey")} - (c_custkey * 6101) % 1500001 AS flo,
         |  ${Derive.latSql("c_custkey")} - (c_custkey * 9203) % 1500001 AS fla,
         |  ${Derive.lonSql("c_custkey")} + (c_custkey * 6101) % 1500001 AS fhi,
         |  ${Derive.latSql("c_custkey")} + (c_custkey * 9203) % 1500001 AS fha
         |  FROM customer),
         |p AS (SELECT r.poly_id,
         |    GREATEST(f.flo, r.lon_min) AS xlo, GREATEST(f.fla, r.lat_min) AS ylo,
         |    LEAST(f.fhi, r.lon_max) AS xhi, LEAST(f.fha, r.lat_max) AS yhi
         |  FROM f JOIN ${Derive.rectsSqlValues}
         |  ON f.flo < r.lon_max AND f.fhi > r.lon_min
         |  AND f.fla < r.lat_max AND f.fha > r.lat_min),
         |xs AS (SELECT DISTINCT poly_id, x FROM
         |  (SELECT poly_id, xlo AS x FROM p UNION ALL SELECT poly_id, xhi FROM p)),
         |strips AS (SELECT poly_id, x AS x0,
         |    lead(x) OVER (PARTITION BY poly_id ORDER BY x) AS x1 FROM xs),
         |cover AS (SELECT s.poly_id, s.x0, s.x1, p.ylo, p.yhi
         |  FROM strips s JOIN p ON p.poly_id = s.poly_id
         |  AND p.xlo <= s.x0 AND p.xhi >= s.x1 WHERE s.x1 IS NOT NULL),
         |marked AS (SELECT *, CASE WHEN ylo > coalesce(max(yhi) OVER
         |    (PARTITION BY poly_id, x0 ORDER BY ylo, yhi
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), ylo - 1)
         |  THEN 1 ELSE 0 END AS ni FROM cover),
         |grp AS (SELECT *, sum(ni) OVER
         |    (PARTITION BY poly_id, x0 ORDER BY ylo, yhi) AS g FROM marked),
         |isl AS (SELECT poly_id, x0, min(x1) AS x1, g,
         |    min(ylo) AS lo, max(yhi) AS hi
         |  FROM grp GROUP BY poly_id, x0, g)
         |SELECT poly_id, CAST(sum((x1 - x0) * (hi - lo)) AS BIGINT) AS union_area
         |FROM isl GROUP BY poly_id ORDER BY poly_id""".stripMargin),
    // ---- POLYLINE SIMPLIFICATION (Douglas–Peucker 1973): drop interior
    //      vertices within eps of the chord, deterministically (split at
    //      max ⌊d²⌋, lowest-idx tie, strict >). One geometry-assembly hash
    //      aggregate, then map-only; the per-vertex kernel is the q7t fixed
    //      IEEE chain, so a DuckDB recursive CTE replays the WHOLE
    //      recursion bit-for-bit.
    QuerySpec("q7z_simplify", (s, dir) => {
      val verts = s.read.parquet(s"$dir/customer.parquet").select(
        expr("(c_custkey - 1) div 10").as("doc"),
        expr("(c_custkey - 1) % 10").as("i"),
        expr("((c_custkey - 1) % 10) * 1000000").as("x"),
        expr("(c_custkey * 2654435761) % 10000001 - 5000000").as("y"))
      operators.Simplify.douglasPeucker(s, verts, col("doc"), col("i"),
          col("x"), col("y"), epsMicro = 1200000L)
        .orderBy("doc_id", "idx")
    }, {
      // the fixed IEEE point-to-segment chain (q7t), inlined per reference
      // so the recursive term stays one LATERAL scan; strict tie rule =
      // ORDER BY d2q DESC, idx ASC LIMIT 1, split iff d2q > eps²
      def d(v: String) = s"CAST($v AS DOUBLE)"
      val len2 = s"(${d("b.x - a.x")} * ${d("b.x - a.x")} + ${d("b.y - a.y")} * ${d("b.y - a.y")})"
      val dot = s"(${d("m.x - a.x")} * ${d("b.x - a.x")} + ${d("m.y - a.y")} * ${d("b.y - a.y")})"
      val t = s"(CASE WHEN $len2 = 0.0 THEN 0.0 ELSE LEAST(GREATEST($dot / $len2, 0.0), 1.0) END)"
      val ex = s"(${d("m.x - a.x")} - $t * ${d("b.x - a.x")})"
      val ey = s"(${d("m.y - a.y")} - $t * ${d("b.y - a.y")})"
      s"""WITH RECURSIVE p AS (SELECT (c_custkey - 1) // 10 AS doc,
         |    (c_custkey - 1) % 10 AS idx,
         |    ((c_custkey - 1) % 10) * 1000000 AS x,
         |    (c_custkey * 2654435761) % 10000001 - 5000000 AS y
         |  FROM customer),
         |iv(doc, i, j) AS (
         |  SELECT doc, min(idx), max(idx) FROM p GROUP BY doc
         |  UNION ALL
         |  SELECT iv.doc, CASE WHEN s.b = 0 THEN iv.i ELSE q.k END,
         |    CASE WHEN s.b = 0 THEN q.k ELSE iv.j END
         |  FROM iv JOIN LATERAL (
         |    SELECT m.idx AS k, CAST(floor($ex * $ex + $ey * $ey) AS BIGINT) AS d2q
         |    FROM p m, p a, p b
         |    WHERE m.doc = iv.doc AND a.doc = iv.doc AND b.doc = iv.doc
         |      AND a.idx = iv.i AND b.idx = iv.j AND m.idx > iv.i AND m.idx < iv.j
         |    ORDER BY d2q DESC, m.idx ASC LIMIT 1
         |  ) q ON q.d2q > ${1200000L * 1200000L}
         |  CROSS JOIN (VALUES (0), (1)) s(b)),
         |kept AS (SELECT DISTINCT doc, idx FROM
         |  (SELECT doc, i AS idx FROM iv UNION ALL SELECT doc, j AS idx FROM iv) u)
         |SELECT doc AS doc_id, idx, x, y FROM kept JOIN p USING (doc, idx)
         |ORDER BY doc_id, idx""".stripMargin
    }),
    // ---- SEGMENT-INTERSECTION join: all (road, river)-style pairs whose
    //      segments share a point, decided in PURE int64 (4-orientation
    //      test — zero float on the predicate path); proper crossings also
    //      carry the ⌊crossing point⌋ via a fixed IEEE chain the oracle
    //      reproduces bit-for-bit. Cover-cell equi-join; each pair produced
    //      EXACTLY once in the canonical cell of its bbox-overlap corner
    //      (Dittrich–Seeger reference point) — no dedup exchange.
    QuerySpec("q7x_seg_intersect", (s, dir) => {
      val pk = col("p_partkey"); val ck = col("c_custkey")
      val roads = s.read.parquet(s"$dir/part.parquet").select(pk.as("aid"),
        Derive.lonMicro(pk).as("x1"), Derive.latMicro(pk).as("y1"),
        (Derive.lonMicro(pk) + (pk * 7919L) % 20000001L - 10000000L).as("x2"),
        (Derive.latMicro(pk) + (pk * 104729L) % 20000001L - 10000000L).as("y2"))
      val rivers = s.read.parquet(s"$dir/customer.parquet").select(ck.as("bid"),
        Derive.lonMicro(ck).as("x1"), Derive.latMicro(ck).as("y1"),
        (Derive.lonMicro(ck) + (ck * 40503L) % 20000001L - 10000000L).as("x2"),
        (Derive.latMicro(ck) + (ck * 65537L) % 20000001L - 10000000L).as("y2"))
      operators.LineIntersect.intersectJoin(s,
          roads, col("aid"), col("x1"), col("y1"), col("x2"), col("y2"),
          rivers, col("bid"), col("x1"), col("y1"), col("x2"), col("y2"),
          level = 8)
        .orderBy("a_id", "b_id")
    },
      s"""WITH a AS (SELECT CAST(p_partkey AS BIGINT) AS a_id,
         |    ${Derive.lonSql("p_partkey")} AS ax1, ${Derive.latSql("p_partkey")} AS ay1,
         |    ${Derive.lonSql("p_partkey")} + (p_partkey * 7919) % 20000001 - 10000000 AS ax2,
         |    ${Derive.latSql("p_partkey")} + (p_partkey * 104729) % 20000001 - 10000000 AS ay2
         |  FROM part),
         |b AS (SELECT CAST(c_custkey AS BIGINT) AS b_id,
         |    ${Derive.lonSql("c_custkey")} AS bx1, ${Derive.latSql("c_custkey")} AS by1,
         |    ${Derive.lonSql("c_custkey")} + (c_custkey * 40503) % 20000001 - 10000000 AS bx2,
         |    ${Derive.latSql("c_custkey")} + (c_custkey * 65537) % 20000001 - 10000000 AS by2
         |  FROM customer),
         |x AS (SELECT *,
         |    (ax2 - ax1) * (by1 - ay1) - (ay2 - ay1) * (bx1 - ax1) AS c1,
         |    (ax2 - ax1) * (by2 - ay1) - (ay2 - ay1) * (bx2 - ax1) AS c2,
         |    (bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1) AS c3,
         |    (bx2 - bx1) * (ay2 - by1) - (by2 - by1) * (ax2 - bx1) AS c4
         |  FROM a CROSS JOIN b),
         |g AS (SELECT *,
         |    CASE WHEN c1 > 0 THEN 1 WHEN c1 < 0 THEN -1 ELSE 0 END AS d1,
         |    CASE WHEN c2 > 0 THEN 1 WHEN c2 < 0 THEN -1 ELSE 0 END AS d2,
         |    CASE WHEN c3 > 0 THEN 1 WHEN c3 < 0 THEN -1 ELSE 0 END AS d3,
         |    CASE WHEN c4 > 0 THEN 1 WHEN c4 < 0 THEN -1 ELSE 0 END AS d4
         |  FROM x),
         |p AS (SELECT *, (d1 * d2 < 0 AND d3 * d4 < 0) AS proper,
         |    ((d1 = 0 AND bx1 BETWEEN LEAST(ax1, ax2) AND GREATEST(ax1, ax2)
         |              AND by1 BETWEEN LEAST(ay1, ay2) AND GREATEST(ay1, ay2))
         |  OR (d2 = 0 AND bx2 BETWEEN LEAST(ax1, ax2) AND GREATEST(ax1, ax2)
         |              AND by2 BETWEEN LEAST(ay1, ay2) AND GREATEST(ay1, ay2))
         |  OR (d3 = 0 AND ax1 BETWEEN LEAST(bx1, bx2) AND GREATEST(bx1, bx2)
         |              AND ay1 BETWEEN LEAST(by1, by2) AND GREATEST(by1, by2))
         |  OR (d4 = 0 AND ax2 BETWEEN LEAST(bx1, bx2) AND GREATEST(bx1, bx2)
         |              AND ay2 BETWEEN LEAST(by1, by2) AND GREATEST(by1, by2))) AS touches
         |  FROM g),
         |t AS (SELECT *, CAST((bx1 - ax1) * (by2 - by1) - (by1 - ay1) * (bx2 - bx1) AS DOUBLE)
         |      / CAST((ax2 - ax1) * (by2 - by1) - (ay2 - ay1) * (bx2 - bx1) AS DOUBLE) AS tt
         |  FROM p WHERE proper OR touches)
         |SELECT a_id, b_id, proper,
         |  CASE WHEN proper THEN CAST(floor(CAST(ax1 AS DOUBLE) + tt * CAST(ax2 - ax1 AS DOUBLE)) AS BIGINT) ELSE 0 END AS ix,
         |  CASE WHEN proper THEN CAST(floor(CAST(ay1 AS DOUBLE) + tt * CAST(ay2 - ay1 AS DOUBLE)) AS BIGINT) ELSE 0 END AS iy
         |FROM t ORDER BY a_id, b_id""".stripMargin),
    // ---- Density clustering: grid-partitioned DBSCAN (Ester et al. 1996,
    //      deterministic min-label variant) — dense sites become clusters
    //      labeled by their minimum point id, strays are noise (-1). The
    //      oracle recomputes it with a quadratic neighbor join + recursive
    //      min-propagation CTE; the Spark plan is the eps-grid 3×3 join +
    //      pointer-doubling components (no all-pairs stage).
    QuerySpec("q7m_dbscan", (s, dir) => {
      Dbscan.cluster(customerPts(s, dir), col("c_custkey"), col("lonm"),
          col("latm"), eps = 5000000L, minPts = 3)
        .orderBy("id")
    },
      s"""$dbscanCteSql
         |SELECT id, cluster FROM lbl ORDER BY id""".stripMargin),
    // ---- DBSCAN composition — summarize each discovered site: size,
    //      centroid sums, bounding box per cluster (noise excluded). The
    //      downstream verb of density clustering; one extra broadcast-able
    //      join + hash aggregate on top of q7m's labels.
    QuerySpec("q7p_dbscan_summary", (s, dir) => {
      val pts = customerPts(s, dir)
      val labels = Dbscan.cluster(pts, col("c_custkey"), col("lonm"),
        col("latm"), eps = 5000000L, minPts = 3)
      labels.where(col("cluster") =!= -1L)
        .join(pts.withColumnRenamed("c_custkey", "id"), "id")
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_pts"),
          sum("lonm").as("sum_lon"), sum("latm").as("sum_lat"),
          min("lonm").as("min_lon"), max("lonm").as("max_lon"),
          min("latm").as("min_lat"), max("latm").as("max_lat"))
        .orderBy("cluster")
    },
      s"""$dbscanCteSql
         |SELECT l.cluster, CAST(count(*) AS BIGINT) AS n_pts,
         |  CAST(sum(p.x) AS BIGINT) AS sum_lon, CAST(sum(p.y) AS BIGINT) AS sum_lat,
         |  min(p.x) AS min_lon, max(p.x) AS max_lon,
         |  min(p.y) AS min_lat, max(p.y) AS max_lat
         |FROM lbl l JOIN pts p ON l.id = p.id
         |WHERE l.cluster <> -1
         |GROUP BY l.cluster ORDER BY l.cluster""".stripMargin),
    // ---- range/radius join: cell cover + exact integer distance filter
    QuerySpec("q0a_radius_join", (s, dir) => {
      val nation = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey").cast("long").as("qid"),
          Derive.lonMicro(col("n_nationkey")).as("lonm"),
          Derive.latMicro(col("n_nationkey")).as("latm"))
      Knn.radiusJoinDf(s, customerPts(s, dir), col("c_custkey"), col("lonm"), col("latm"),
          nation, col("qid"), col("lonm"), col("latm"), radiusMicro = 15000000L, level = 5)
        .orderBy("qid", "neighbor_id")
    },
      s"""WITH q AS (SELECT CAST(n_nationkey AS BIGINT) AS qid, ${Derive.lonSql("n_nationkey")} AS qlon,
         |  ${Derive.latSql("n_nationkey")} AS qlat FROM nation),
         |c AS (SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS plon,
         |  ${Derive.latSql("c_custkey")} AS plat FROM customer)
         |SELECT q.qid, c.c_custkey AS neighbor_id,
         |  (c.plon - q.qlon) * (c.plon - q.qlon) + (c.plat - q.qlat) * (c.plat - q.qlat) AS d2
         |FROM q CROSS JOIN c
         |WHERE (c.plon - q.qlon) * (c.plon - q.qlon) + (c.plat - q.qlat) * (c.plat - q.qlat)
         |      <= ${15000000L * 15000000L}
         |ORDER BY qid, neighbor_id""".stripMargin),
    // ---- geodesic (haversine) radius join — real-world meters on the
    //      sphere (the planar metric narrows E-W radii by cos(lat) at high
    //      latitude). ORACLED: DuckDB evaluates the same haversine formula;
    //      output carries ids only, and the fixture's closest distance to
    //      the radius boundary is ~km (probed in KnnSpec), so last-ulp libm
    //      sin/cos differences between engines cannot flip a row.
    QuerySpec("q0i_radius_haversine", (s, dir) => {
      val nation = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey").cast("long").as("qid"),
          Derive.lonMicro(col("n_nationkey")).as("lonm"),
          Derive.latMicro(col("n_nationkey")).as("latm"))
      Knn.radiusJoinDf(s, customerPts(s, dir), col("c_custkey"), col("lonm"), col("latm"),
          nation, col("qid"), col("lonm"), col("latm"),
          level = 5, metric = "haversine", radiusMeters = 1500000.0)
        .select("qid", "neighbor_id").orderBy("qid", "neighbor_id")
    },
      s"""WITH q AS (SELECT CAST(n_nationkey AS BIGINT) AS qid, ${Derive.lonSql("n_nationkey")} AS qlon,
         |  ${Derive.latSql("n_nationkey")} AS qlat FROM nation),
         |c AS (SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS plon,
         |  ${Derive.latSql("c_custkey")} AS plat FROM customer)
         |SELECT q.qid, c.c_custkey AS neighbor_id
         |FROM q CROSS JOIN c
         |WHERE 2 * 6371008.8 * asin(least(1.0, sqrt(
         |    pow(sin((radians(plat / 1000000.0) - radians(qlat / 1000000.0)) / 2), 2)
         |    + cos(radians(qlat / 1000000.0)) * cos(radians(plat / 1000000.0))
         |      * pow(sin((radians(plon / 1000000.0) - radians(qlon / 1000000.0)) / 2), 2)
         |  ))) <= 1500000.0
         |ORDER BY qid, neighbor_id""".stripMargin),
    // ---- B1: areaOfInterest bbox pre-filter (pushdown-friendly predicate)
    QuerySpec("q05_aoi_bbox", (s, dir) => {
      customerPts(s, dir)
        .where(col("lonm").between(40000000L, 80000000L) && col("latm").between(0L, 40000000L))
        .select("c_custkey").orderBy("c_custkey")
    },
      s"""SELECT c_custkey FROM customer
         |WHERE ${Derive.lonSql("c_custkey")} BETWEEN 40000000 AND 80000000
         |AND ${Derive.latSql("c_custkey")} BETWEEN 0 AND 40000000
         |ORDER BY c_custkey""".stripMargin),
    // ---- B1 at the antimeridian: lonMin > lonMax crosses ±180 and the
    //      predicate becomes the OR of the two halves (Fiji/Chukotka AOIs)
    QuerySpec("q0j_aoi_seam", (s, dir) => {
      customerPts(s, dir)
        .where(SpatialJoin.aoiBbox(col("lonm"), col("latm"),
          graft.core.BBoxM(165000000L, 0L, -165000000L, 40000000L)))
        .select("c_custkey").orderBy("c_custkey")
    },
      s"""SELECT c_custkey FROM customer
         |WHERE (${Derive.lonSql("c_custkey")} >= 165000000 OR ${Derive.lonSql("c_custkey")} <= -165000000)
         |AND ${Derive.latSql("c_custkey")} BETWEEN 0 AND 40000000
         |ORDER BY c_custkey""".stripMargin),
    // ---- C2 at the antimeridian: a polygon authored ACROSS ±180 (extended
    //      lon) splits into two in-world halves and runs the SAME generic
    //      cover-join + raycast path; oracle is the two-range rect algebra
    QuerySpec("q0k_seam_join", (s, dir) => {
      SpatialJoin.join(s, customerPts(s, dir), col("lonm"), col("latm"), Derive.seamSpecs)
        .select("c_custkey", "poly_id")
        .orderBy("c_custkey", "poly_id")
    },
      s"""SELECT c.c_custkey AS c_custkey, 's0' AS poly_id FROM customer c
         |WHERE (${Derive.lonSql("c.c_custkey")} BETWEEN 165000000 AND 180000000
         |       OR ${Derive.lonSql("c.c_custkey")} BETWEEN -180000000 AND -165000000)
         |AND ${Derive.latSql("c.c_custkey")} BETWEEN -30000000 AND 10000000
         |ORDER BY c_custkey""".stripMargin),
    // ---- ROUTING: bounded-hop single-source shortest path over a synthetic
    //      road graph (Bellman-Ford rounds = Pregel shape: one frontier⋈edges
    //      equi-join + one hash min-aggregate per round, localCheckpoint
    //      lineage truncation, early exit at the fixpoint). Pure int64 adds
    //      and mins — the DuckDB twin is H chained min-relaxation CTEs.
    QuerySpec("q83_sssp", (s, dir) => {
      val k = col("o_orderkey")
      // dst mixes in (k div 500) so parallel orders on the same src residue
      // fan out to DIFFERENT neighbours (out-degree ~30) — a pure k·c % 500
      // term is a function of src and would collapse the graph to one path
      val edges = s.read.parquet(s"$dir/orders.parquet").select(
        (k % 500L).as("src"),
        expr("(o_orderkey div 500 + o_orderkey * 7919 + 13) % 500").as("dst"),
        (k % 997L + 1L).as("w"))
      Routing.shortestPaths(edges, col("src"), col("dst"), col("w"),
          sources = Seq(0L), maxHops = 8)
        .orderBy("node")
    }, {
      // H chained Bellman-Ford relaxation CTEs: d_k = min over (d_{k-1} ∪
      // one-edge extensions of d_{k-1}) — each CTE is the exact invariant
      // dist_k, so d8 equals the engine's 8-round (early-exit-stable) run.
      val rounds = (1 to 8).map { k =>
        s"""d$k AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
           |  SELECT node, dist FROM d${k - 1} UNION ALL
           |  SELECT e.dst AS node, d${k - 1}.dist + e.w AS dist
           |  FROM d${k - 1} JOIN e ON d${k - 1}.node = e.src) GROUP BY node)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT o_orderkey % 500 AS src,
         |  (o_orderkey // 500 + o_orderkey * 7919 + 13) % 500 AS dst,
         |  o_orderkey % 997 + 1 AS w FROM orders),
         |d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
         |$rounds
         |SELECT node, dist FROM d8 ORDER BY node""".stripMargin
    }),
    // ---- TRIANGLE COUNT: degree-oriented wedge join (Suri–Vassilvitskii) —
    //      orientation caps per-vertex wedge fan-out at outdeg² = O(m), so
    //      no "last reducer" hot task on power-law hubs; three hash
    //      exchanges, pure int64, single-row exact result.
    QuerySpec("q84_triangles", (s, dir) => {
      val k = col("o_orderkey")
      val edges = s.read.parquet(s"$dir/orders.parquet").select(
        (k % 300L).as("u"),
        expr("(o_orderkey div 300 + o_orderkey * 7919) % 300").as("v"))
      operators.Graph.triangleCount(edges, col("u"), col("v"))
    },
      // canonical a<b edges; triangle {x<y<z} counted once via
      // (x,y)⋈(y,z)⋈(x,z) — the orientation trick is plan-side only,
      // the counted set is identical
      """WITH raw AS (SELECT
        |  least(o_orderkey % 300, (o_orderkey // 300 + o_orderkey * 7919) % 300) AS a,
        |  greatest(o_orderkey % 300, (o_orderkey // 300 + o_orderkey * 7919) % 300) AS b
        |  FROM orders),
        |e AS (SELECT DISTINCT a, b FROM raw WHERE a <> b)
        |SELECT count(*) AS triangles FROM e e1
        |JOIN e e2 ON e1.b = e2.a
        |JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin),
    // ---- PAGERANK: bounded-iteration link centrality in EXACT int64
    //      fixed-point (SCALE 10^12, damping 85/100, integer `div` at both
    //      the per-edge contribution and the damped sum) — the same Pregel
    //      discipline as q83: one rank⋈edges equi-join + one hash
    //      sum-aggregate per round, localCheckpoint lineage truncation.
    //      6 rounds; the DuckDB twin is 6 chained CTEs replaying the rule.
    QuerySpec("q86_pagerank", (s, dir) => {
      val k = col("o_orderkey")
      val edges = s.read.parquet(s"$dir/orders.parquet").select(
        (k % 400L).as("src"),
        expr("(o_orderkey div 400 + o_orderkey * 7919 + 31) % 400").as("dst"))
      operators.Graph.pageRank(edges, col("src"), col("dst"), iters = 6)
        .orderBy("node")
    }, {
      // 6 chained CTEs replay the integer power-iteration rule exactly:
      // r_k(v) = BASE + (85 * Σ (r_{k-1}(u) // out(u))) // 100
      val rounds = (1 to 6).map { k =>
        s"""r$k AS (SELECT n.node,
           |  ${15L * 10000000000L} + (85 * coalesce(s.s, 0)) // 100 AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node, sum(r${k - 1}.r // e.out) AS s
           |    FROM r${k - 1} JOIN e ON r${k - 1}.node = e.src
           |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH raw AS (SELECT DISTINCT o_orderkey % 400 AS src,
         |  (o_orderkey // 400 + o_orderkey * 7919 + 31) % 400 AS dst
         |  FROM orders),
         |od AS (SELECT src, count(*) AS out FROM raw GROUP BY src),
         |e AS (SELECT raw.src, raw.dst, od.out FROM raw JOIN od USING (src)),
         |nodes AS (SELECT src AS node FROM raw UNION
         |          SELECT dst AS node FROM raw),
         |r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM nodes),
         |$rounds
         |SELECT node, CAST(r AS BIGINT) AS r FROM r6 ORDER BY node""".stripMargin
    }),
    // ---- POLYGON CENTROID / label point: exact int64 shoelace over the
    //      vertex-table form, translated to the ring's first vertex so every
    //      product stays in int64 (ANSI-checked), label point via ONE
    //      correctly-rounded IEEE division + floor → engine-invariant. One
    //      exchange on the polygon key serves the ordering window AND the
    //      final aggregate.
    QuerySpec("q87_centroid", (s, dir) => {
      val k = col("c_custkey")
      val pidE = expr("(c_custkey - 1) div 8")
      val verts = s.read.parquet(s"$dir/customer.parquet").select(
        pidE.as("pid"), expr("(c_custkey - 1) % 8").as("idx"),
        // quadratic-in-key offsets: a LINEAR hash makes every non-wrapping
        // ring collinear (a2 = 0); the square term keeps rings genuinely 2-D
        (Derive.lonMicro(pidE) + (k * k * 48271L) % 600001L - 300000L).as("x"),
        (Derive.latMicro(pidE) + ((k + 7L) * (k + 13L) * 16807L) % 600001L - 300000L).as("y"))
      operators.Centroid.labelPoints(verts, col("pid"), col("idx"),
          col("x"), col("y"))
        .orderBy("poly_id")
    },
      s"""WITH v AS (SELECT (c_custkey - 1) // 8 AS pid,
         |  (c_custkey - 1) % 8 AS idx,
         |  ${Derive.lonSql("((c_custkey - 1) // 8)")}
         |    + (c_custkey * c_custkey * 48271) % 600001 - 300000 AS x,
         |  ${Derive.latSql("((c_custkey - 1) // 8)")}
         |    + ((c_custkey + 7) * (c_custkey + 13) * 16807) % 600001 - 300000
         |    AS y FROM customer),
         |w AS (SELECT *, first_value(x) OVER wo AS x0,
         |  first_value(y) OVER wo AS y0,
         |  coalesce(lead(x) OVER wo, first_value(x) OVER wo) AS xn,
         |  coalesce(lead(y) OVER wo, first_value(y) OVER wo) AS yn
         |  FROM v WINDOW wo AS (PARTITION BY pid ORDER BY idx)),
         |c AS (SELECT pid, x0, y0, x - x0 AS dx, y - y0 AS dy,
         |  xn - x0 AS dxn, yn - y0 AS dyn FROM w),
         |s AS (SELECT pid AS poly_id,
         |  CAST(sum(dx*dyn - dxn*dy) AS BIGINT) AS a2,
         |  CAST(sum((dx + dxn) * (dx*dyn - dxn*dy)) AS BIGINT) AS cx6a,
         |  CAST(sum((dy + dyn) * (dx*dyn - dxn*dy)) AS BIGINT) AS cy6a,
         |  min(x0) AS x0, min(y0) AS y0 FROM c GROUP BY 1)
         |SELECT poly_id, a2,
         |  CAST(floor(CAST(x0 AS DOUBLE)
         |    + CAST(cx6a AS DOUBLE) / CAST(3*a2 AS DOUBLE)) AS BIGINT) AS cx_q,
         |  CAST(floor(CAST(y0 AS DOUBLE)
         |    + CAST(cy6a AS DOUBLE) / CAST(3*a2 AS DOUBLE)) AS BIGINT) AS cy_q
         |FROM s WHERE a2 <> 0 ORDER BY poly_id""".stripMargin),
    // ---- FEATURE DIAMETER via convex hull: exact int64 max pairwise
    //      squared distance per feature — the hull (monotone chain, exact
    //      cross products) is pure acceleration, turning the oracle's O(n²)
    //      brute max into O(n log n) + O(h²); one geometry-assembly hash
    //      aggregate then a map-only kernel, same shape as q7z.
    QuerySpec("q88_diameter", (s, dir) => {
      val k = col("o_orderkey")
      val pidE = expr("(o_orderkey - 1) div 30")
      val verts = s.read.parquet(s"$dir/orders.parquet").select(
        pidE.as("pid"),
        (Derive.lonMicro(pidE) + (k * k * 48271L) % 600001L - 300000L).as("x"),
        (Derive.latMicro(pidE) + ((k + 7L) * (k + 13L) * 16807L) % 600001L - 300000L).as("y"))
      operators.Hull.diameter(s, verts, col("pid"), col("x"), col("y"))
        .orderBy("poly_id")
    },
      // brute max over ALL vertex pairs (self-pairs give the single-vertex
      // d2 = 0 for free) — the engine's hull is acceleration, not semantics
      s"""WITH v AS (SELECT (o_orderkey - 1) // 30 AS pid,
         |  ${Derive.lonSql("((o_orderkey - 1) // 30)")}
         |    + (o_orderkey * o_orderkey * 48271) % 600001 - 300000 AS x,
         |  ${Derive.latSql("((o_orderkey - 1) // 30)")}
         |    + ((o_orderkey + 7) * (o_orderkey + 13) * 16807) % 600001
         |    - 300000 AS y FROM orders),
         |n AS (SELECT pid, count(*) AS n_pts FROM v GROUP BY 1),
         |d AS (SELECT a.pid,
         |  CAST(max((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))
         |    AS BIGINT) AS d2
         |  FROM v a JOIN v b ON a.pid = b.pid GROUP BY 1)
         |SELECT n.pid AS poly_id, n.n_pts, d.d2
         |FROM n JOIN d ON n.pid = d.pid ORDER BY poly_id""".stripMargin),
    // ---- k-CORE: the 2-core of a skewed hash graph UNION a 15-vertex
    //      dangling path — the path peels from both ends at one vertex
    //      per round (8 rounds at every SF), so only a genuinely iterative
    //      peel reproduces the fixpoint; the oracle replays 12 synchronous
    //      rounds (idempotent past convergence).
    QuerySpec("q91_kcore", (s, dir) => {
      val ok = col("o_orderkey")
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val raw = orders.select(((ok * ok) % 2311L).as("x"),
          ((ok * 7919L + 13L) % ((ok % 389L) + 7L)).as("y"))
        .union(orders.select((ok % 14L + 10000L).as("x"),
          (ok % 14L + 10001L).as("y")))
      operators.Graph.kCore(raw, col("x"), col("y"), k = 2, maxRounds = 12)
        .orderBy("n")
    }, {
      // 12 synchronous peel rounds: d_i = degrees over e_{i-1}, e_i keeps
      // edges whose BOTH endpoints have d_i ≥ 2. Fixpoint lands by round 8
      // on every SF; rounds past it are idempotent, so e12 IS the 2-core.
      // MATERIALIZED is load-bearing: each round references its predecessor
      // 5× (d_i twice, e_i three ways) — inlined, the expansion is 5^12
      // copies of the base scan; materialized, it is 12 linear passes.
      val rounds = (1 to 12).map { i =>
        s"""d$i AS MATERIALIZED (SELECT n, count(*) AS d FROM (
           |  SELECT a AS n FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
           |  GROUP BY n),
           |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
           |  JOIN d$i da ON e.a = da.n JOIN d$i db ON e.b = db.n
           |  WHERE da.d >= 2 AND db.d >= 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
         |  FROM (SELECT (o_orderkey * o_orderkey) % 2311 AS x,
         |      (o_orderkey * 7919 + 13) % ((o_orderkey % 389) + 7) AS y
         |    FROM orders
         |    UNION ALL
         |    SELECT o_orderkey % 14 + 10000, o_orderkey % 14 + 10001
         |    FROM orders) t WHERE x <> y),
         |$rounds
         |SELECT n, count(*) AS core_deg FROM (
         |  SELECT a AS n FROM e12 UNION ALL SELECT b FROM e12)
         |GROUP BY n ORDER BY n""".stripMargin
    }),
    // ---- GLOBAL MORAN'S I: spatial autocorrelation of the point-density
    //      raster [Moran 1950] — ONE row (n_cells, w_ordered, num_scaled,
    //      den_scaled) of exact int64 sums; I = (N/W)·num/den is the
    //      consumer's single float division. Hub fixture with triangular
    //      jitter so the raster has real density gradients (I > 0).
    QuerySpec("q93_morans_i", (s, dir) => {
      val hub = col("o_orderkey") % 37L
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        (Derive.lonMicro(hub) + (col("o_orderkey") * 48271L) % 9000001L
          - 4500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("o_orderkey") + 7L) * 16807L) % 9000001L
          - 4500000L).as("latm"))
      operators.GridRaster.moransI(pts, col("lonm"), col("latm"),
          cellMicro = 2000000L)
    },
      // definition replay: occupied cells → N-scaled deviations u = N·x − S
      // → rook-adjacency products; all-int64 so the one row hashes exactly
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("(o_orderkey % 37)")}
         |    + (o_orderkey * 48271) % 9000001 - 4500000 + 180000000 AS wx,
         |  ${Derive.latSql("(o_orderkey % 37)")}
         |    + ((o_orderkey + 7) * 16807) % 9000001 - 4500000 + 90000000 AS wy
         |  FROM orders),
         |c AS (SELECT wx // 2000000 AS px, wy // 2000000 AS py,
         |  count(*) AS n FROM pts GROUP BY 1, 2),
         |st AS (SELECT count(*) AS nc, CAST(sum(n) AS BIGINT) AS s FROM c),
         |u AS MATERIALIZED (SELECT px, py, nc * n - s AS u
         |  FROM c CROSS JOIN st),
         |adj AS (SELECT a.u * b.u AS p FROM u a JOIN u b
         |  ON (b.px = a.px + 1 AND b.py = a.py)
         |    OR (b.px = a.px AND b.py = a.py + 1))
         |SELECT (SELECT nc FROM st) AS n_cells,
         |  (SELECT count(*) * 2 FROM adj) AS w_ordered,
         |  (SELECT COALESCE(CAST(sum(p) AS BIGINT), 0) * 2 FROM adj)
         |    AS num_scaled,
         |  (SELECT CAST(sum(u * u) AS BIGINT) FROM u) AS den_scaled""".stripMargin),
    // ---- LOCAL Moran's I (LISA, Anselin 1995): the per-cell drill-down of
    //      q93 — same occupied-cell units, rook weights and N-scaled
    //      deviations, one row per cell whose (u_scaled, nbr_u_sum) signs
    //      classify HH hotspots / LL coldspots / HL-LH outliers. Same hub
    //      fixture so the two statistics decompose exactly.
    QuerySpec("q94_local_morans", (s, dir) => {
      val hub = col("o_orderkey") % 37L
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        (Derive.lonMicro(hub) + (col("o_orderkey") * 48271L) % 9000001L
          - 4500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("o_orderkey") + 7L) * 16807L) % 9000001L
          - 4500000L).as("latm"))
      operators.GridRaster.localMorans(pts, col("lonm"), col("latm"),
          cellMicro = 2000000L)
        .orderBy("cx", "cy")
    },
      // per-cell replay: 4-way neighbor lookup against the same u surface
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("(o_orderkey % 37)")}
         |    + (o_orderkey * 48271) % 9000001 - 4500000 + 180000000 AS wx,
         |  ${Derive.latSql("(o_orderkey % 37)")}
         |    + ((o_orderkey + 7) * 16807) % 9000001 - 4500000 + 90000000 AS wy
         |  FROM orders),
         |c AS (SELECT wx // 2000000 AS px, wy // 2000000 AS py,
         |  count(*) AS n FROM pts GROUP BY 1, 2),
         |st AS (SELECT count(*) AS nc, CAST(sum(n) AS BIGINT) AS s FROM c),
         |u AS MATERIALIZED (SELECT px, py, n, nc * n - s AS u
         |  FROM c CROSS JOIN st)
         |SELECT a.px AS cx, a.py AS cy, a.n, a.u AS u_scaled,
         |  COALESCE(CAST(sum(b.u) AS BIGINT), 0) AS nbr_u_sum,
         |  count(b.u) AS nbr_cnt
         |FROM u a LEFT JOIN u b
         |  ON abs(a.px - b.px) + abs(a.py - b.py) = 1
         |GROUP BY 1, 2, 3, 4 ORDER BY cx, cy""".stripMargin),
    // ---- RIPLEY'S K pair counts (q95): the multi-scale clustering curve —
    //      ordered pairs within r for four radii, zero-filled, exact int64
    //      d² ≤ r². Candidates from a 3×3 ring at g = max(r); each pair
    //      produced exactly once via id orientation; no all-pairs stage.
    QuerySpec("q95_ripley_k", (s, dir) => {
      val hub = col("c_custkey") % 23L
      val pts = s.read.parquet(s"$dir/customer.parquet").select(
        col("c_custkey").as("id"),
        (Derive.lonMicro(hub) + (col("c_custkey") * 48271L) % 7000001L
          - 3500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("c_custkey") + 7L) * 16807L) % 7000001L
          - 3500000L).as("latm"))
      operators.PointPattern.ripleyK(pts, col("id"), col("lonm"), col("latm"),
          Seq(500000L, 1000000L, 2000000L, 4000000L))
        .orderBy("r_micro")
    },
      // brute time-free twin: all id-ordered pairs within rmax, then the
      // cumulative per-radius count via a theta left join
      s"""WITH p AS MATERIALIZED (SELECT c_custkey AS id,
         |  ${Derive.lonSql("(c_custkey % 23)")}
         |    + (c_custkey * 48271) % 7000001 - 3500000 AS x,
         |  ${Derive.latSql("(c_custkey % 23)")}
         |    + ((c_custkey + 7) * 16807) % 7000001 - 3500000 AS y
         |  FROM customer),
         |d AS MATERIALIZED (SELECT
         |    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
         |  FROM p a JOIN p b ON a.id < b.id
         |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         |    <= ${4000000L * 4000000L}),
         |r AS (SELECT CAST(unnest([500000, 1000000, 2000000, 4000000])
         |  AS BIGINT) AS r_micro)
         |SELECT r.r_micro, CAST(2 * count(d.d2) AS BIGINT) AS pairs_ordered,
         |  (SELECT count(*) FROM p) AS n_points
         |FROM r LEFT JOIN d ON d.d2 <= r.r_micro * r.r_micro
         |GROUP BY r.r_micro ORDER BY r_micro""".stripMargin),
    // ---- EMERGING HOTSPOTS (q96): per-cell Mann-Kendall S over the
    //      space-time cube — 10 three-day bins across the events month,
    //      empty bins are real zeros in each cell's series. The hub fixture
    //      gives cells genuine per-bin count fluctuation; S is pure int64.
    QuerySpec("q96_emerging_hotspots", (s, dir) => {
      val hub = col("user_id") % 13L
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        unix_micros(col("ts").cast("timestamp")).as("tus"),
        (Derive.lonMicro(hub) + (col("event_id") * 48271L) % 600001L
          - 300000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("event_id") + 7L) * 16807L) % 600001L
          - 300000L).as("latm"))
      operators.GridRaster.emergingHotspots(ev, col("lonm"), col("latm"),
          col("tus"), cellMicro = 200000L, t0Us = 1704067200000000L,
          binUs = 259200000000L, nBins = 10)
        .orderBy("cx", "cy")
    },
      // definition replay: (cell, bin) counts → densified series via a
      // bin-ladder cross join (empty bins are REAL zeros) → pairwise sgn sum
      s"""WITH f AS (SELECT
         |  ${Derive.lonSql("(user_id % 13)")}
         |    + (event_id * 48271) % 600001 - 300000 + 180000000 AS wx,
         |  ${Derive.latSql("(user_id % 13)")}
         |    + ((event_id + 7) * 16807) % 600001 - 300000 + 90000000 AS wy,
         |  epoch_us(ts) - 1704067200000000 AS dt FROM events),
         |e AS (SELECT wx // 200000 AS cx, wy // 200000 AS cy,
         |  dt // 259200000000 AS b FROM f
         |  WHERE dt >= 0 AND dt < ${259200000000L * 10L}),
         |c AS MATERIALIZED (SELECT cx, cy, b, count(*) AS n
         |  FROM e GROUP BY 1, 2, 3),
         |cells AS MATERIALIZED (SELECT cx, cy, CAST(sum(n) AS BIGINT)
         |  AS total FROM c GROUP BY 1, 2),
         |dense AS MATERIALIZED (SELECT cells.cx, cells.cy, bins.b,
         |  COALESCE(c.n, 0) AS x
         |  FROM cells CROSS JOIN
         |    (SELECT unnest(generate_series(0, 9)) AS b) bins
         |  LEFT JOIN c ON c.cx = cells.cx AND c.cy = cells.cy AND c.b = bins.b),
         |s AS (SELECT a.cx, a.cy, CAST(sum(CASE WHEN d.x > a.x THEN 1
         |    WHEN d.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
         |  FROM dense a JOIN dense d
         |    ON d.cx = a.cx AND d.cy = a.cy AND d.b > a.b
         |  GROUP BY 1, 2)
         |SELECT cells.cx, cells.cy, total, s_stat
         |FROM cells JOIN s USING (cx, cy) ORDER BY cx, cy""".stripMargin),
    // ---- GETIS-ORD Gi* (q98): neighborhood-total hot/cold-spot surface —
    //      queen 3×3 weights INCLUDING self over occupied cells, globals on
    //      every row so the consumer's z-score is self-contained; all int64.
    //      Same hub fixture as q93/q94 — the three statistics triangulate.
    QuerySpec("q98_getis_ord", (s, dir) => {
      val hub = col("o_orderkey") % 37L
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        (Derive.lonMicro(hub) + (col("o_orderkey") * 48271L) % 9000001L
          - 4500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("o_orderkey") + 7L) * 16807L) % 9000001L
          - 4500000L).as("latm"))
      operators.GridRaster.getisOrd(pts, col("lonm"), col("latm"),
          cellMicro = 2000000L)
        .orderBy("cx", "cy")
    },
      // queen-contiguity theta join includes self (|0| ≤ 1), matching Gi*
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("(o_orderkey % 37)")}
         |    + (o_orderkey * 48271) % 9000001 - 4500000 + 180000000 AS wx,
         |  ${Derive.latSql("(o_orderkey % 37)")}
         |    + ((o_orderkey + 7) * 16807) % 9000001 - 4500000 + 90000000 AS wy
         |  FROM orders),
         |c AS MATERIALIZED (SELECT wx // 2000000 AS px, wy // 2000000 AS py,
         |  count(*) AS n FROM pts GROUP BY 1, 2)
         |SELECT a.px AS cx, a.py AS cy, a.n,
         |  CAST(sum(b.n) AS BIGINT) AS hood_sum, count(*) AS hood_cnt,
         |  (SELECT count(*) FROM c) AS n_cells,
         |  (SELECT CAST(sum(n) AS BIGINT) FROM c) AS s_total,
         |  (SELECT CAST(sum(n * n) AS BIGINT) FROM c) AS sq_total
         |FROM c a JOIN c b
         |  ON abs(a.px - b.px) <= 1 AND abs(a.py - b.py) <= 1
         |GROUP BY 1, 2, 3 ORDER BY cx, cy""".stripMargin),
    // ---- AREAL INTERPOLATION (q9a): area-weighted reaggregation — each
    //      source rect spreads its value uniformly, target zones receive
    //      value·clip div srcArea (integer floor, engine-invariant). Same
    //      feature fixture as q75 with a value column; mass ≤ inputs.
    QuerySpec("q9a_areal_interp", (s, dir) => {
      val k = col("c_custkey")
      val feats = s.read.parquet(s"$dir/customer.parquet").select(k,
        (Derive.lonMicro(k) - (k * 6101L) % 1500001L).as("flo"),
        (Derive.latMicro(k) - (k * 9203L) % 1500001L).as("fla"),
        (Derive.lonMicro(k) + (k * 6101L) % 1500001L).as("fhi"),
        (Derive.latMicro(k) + (k * 9203L) % 1500001L).as("fha"),
        (k % 1000L).as("v"))
      SpatialJoin.arealInterpolate(s, feats, k, col("flo"), col("fla"),
          col("fhi"), col("fha"), col("v"), Derive.rectSpecs)
        .orderBy("poly_id")
    },
      // closed-form rect overlap + the same integer floor share
      s"""WITH f AS (SELECT c_custkey,
         |  ${Derive.lonSql("c_custkey")} - (c_custkey * 6101) % 1500001 AS flo,
         |  ${Derive.latSql("c_custkey")} - (c_custkey * 9203) % 1500001 AS fla,
         |  ${Derive.lonSql("c_custkey")} + (c_custkey * 6101) % 1500001 AS fhi,
         |  ${Derive.latSql("c_custkey")} + (c_custkey * 9203) % 1500001 AS fha,
         |  c_custkey % 1000 AS v
         |  FROM customer),
         |o AS (SELECT r.poly_id, f.v,
         |    LEAST(f.fhi, r.lon_max) - GREATEST(f.flo, r.lon_min) AS w,
         |    LEAST(f.fha, r.lat_max) - GREATEST(f.fla, r.lat_min) AS h,
         |    (f.fhi - f.flo) * (f.fha - f.fla) AS fa
         |  FROM f CROSS JOIN ${Derive.rectsSqlValues})
         |SELECT poly_id, count(*) AS n_sources,
         |  CAST(sum((v * (w * h)) // fa) AS BIGINT) AS est_value
         |FROM o WHERE w > 0 AND h > 0
         |GROUP BY poly_id ORDER BY poly_id""".stripMargin),
    // ---- BIVARIATE CROSS-K (q9h): does the event cloud cluster AROUND
    //      the 13 hub sites — K₁₂ pair counts per radius ladder, the
    //      two-class question q95's univariate K can't ask. The fixture
    //      places events ±300k around hubs, so the curve saturates fast.
    QuerySpec("q9h_cross_k", (s, dir) => {
      val hub = col("user_id") % 13L
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        (Derive.lonMicro(hub) + (col("event_id") * 48271L) % 600001L
          - 300000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("event_id") + 7L) * 16807L) % 600001L
          - 300000L).as("latm"))
      val sites = s.range(0, 13).select(
        Derive.lonMicro(col("id")).as("slon"),
        Derive.latMicro(col("id")).as("slat"))
      operators.PointPattern.crossK(ev, col("lonm"), col("latm"),
          sites, col("slon"), col("slat"),
          Seq(200000L, 400000L, 800000L, 1600000L))
        .orderBy("r_micro")
    },
      // brute cross join + cumulative theta left join, as in q95
      s"""WITH a AS (SELECT
         |  ${Derive.lonSql("(user_id % 13)")}
         |    + (event_id * 48271) % 600001 - 300000 AS lon,
         |  ${Derive.latSql("(user_id % 13)")}
         |    + ((event_id + 7) * 16807) % 600001 - 300000 AS lat
         |  FROM events),
         |b AS (SELECT ${Derive.lonSql("j")} AS lon, ${Derive.latSql("j")} AS lat
         |  FROM (SELECT unnest(generate_series(0, 12)) AS j)),
         |d AS MATERIALIZED (SELECT
         |    (a.lon - b.lon) * (a.lon - b.lon)
         |    + (a.lat - b.lat) * (a.lat - b.lat) AS d2
         |  FROM a CROSS JOIN b
         |  WHERE (a.lon - b.lon) * (a.lon - b.lon)
         |    + (a.lat - b.lat) * (a.lat - b.lat) <= ${1600000L * 1600000L}),
         |r AS (SELECT CAST(unnest([200000, 400000, 800000, 1600000])
         |  AS BIGINT) AS r_micro)
         |SELECT r.r_micro, CAST(count(d.d2) AS BIGINT) AS pairs,
         |  (SELECT count(*) FROM a) AS n_a,
         |  (SELECT count(*) FROM b) AS n_b
         |FROM r LEFT JOIN d ON d.d2 <= r.r_micro * r.r_micro
         |GROUP BY r.r_micro ORDER BY r_micro""".stripMargin),
    // ---- PER-VERTEX triangles (q9p): the clustering-coefficient core —
    //      (vertex, triangles, degree) over the q84 hash graph; cc =
    //      2T/(d(d−1)) is the consumer's float step. Triangle-free
    //      vertices keep zero rows.
    QuerySpec("q9p_vertex_triangles", (s, dir) => {
      val k = col("o_orderkey")
      val edges = s.read.parquet(s"$dir/orders.parquet").select(
        (k % 300L).as("u"),
        expr("(o_orderkey div 300 + o_orderkey * 7919) % 300").as("v"))
      operators.Graph.vertexTriangles(edges, col("u"), col("v")).orderBy("n")
    },
      // canonical triangle triples → ×3 vertex explode → zerofilled join
      """WITH raw AS (SELECT
        |  least(o_orderkey % 300, (o_orderkey // 300 + o_orderkey * 7919) % 300) AS a,
        |  greatest(o_orderkey % 300, (o_orderkey // 300 + o_orderkey * 7919) % 300) AS b
        |  FROM orders),
        |e AS MATERIALIZED (SELECT DISTINCT a, b FROM raw WHERE a <> b),
        |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1
        |  JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tv AS (SELECT x AS n FROM t UNION ALL SELECT y FROM t
        |  UNION ALL SELECT z FROM t),
        |tc AS (SELECT n, count(*) AS triangles FROM tv GROUP BY n),
        |deg AS (SELECT n, count(*) AS degree FROM
        |  (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n)
        |SELECT deg.n, CAST(COALESCE(tc.triangles, 0) AS BIGINT) AS triangles,
        |  deg.degree
        |FROM deg LEFT JOIN tc USING (n) ORDER BY n""".stripMargin),
    // ---- CO-LOCATION PATTERN participation (q9q): per ordered category
    //      pair, how many A-features have a different B-feature within
    //      300k µdeg — Shekhar-style categorical co-location mining over
    //      parts scattered on 39 hubs (39 ⊥ 5 so every hub mixes all
    //      categories); zero rows kept.
    QuerySpec("q9q_participation", (s, dir) => {
      val k = col("p_partkey")
      val feats = s.read.parquet(s"$dir/part.parquet").select(
        k.as("id"), (k % 5L).as("cat"),
        (Derive.lonMicro(k % 39L) + (k * 48271L) % 800001L - 400000L).as("lonm"),
        (Derive.latMicro(k % 39L) + ((k + 7L) * 16807L) % 800001L
          - 400000L).as("latm"))
      operators.PointPattern.participationCounts(feats, col("id"), col("cat"),
          col("lonm"), col("latm"), radiusMicro = 300000L)
        .orderBy("cat_a", "cat_b")
    },
      // brute witness-exists join → distinct participant collapse → zerofill
      s"""WITH p AS (SELECT p_partkey AS id, p_partkey % 5 AS cat,
         |  ${Derive.lonSql("(p_partkey % 39)")}
         |    + (p_partkey * 48271) % 800001 - 400000 AS x,
         |  ${Derive.latSql("(p_partkey % 39)")}
         |    + ((p_partkey + 7) * 16807) % 800001 - 400000 AS y
         |  FROM part),
         |w AS (SELECT DISTINCT a.id, a.cat AS cat_a, b.cat AS cat_b
         |  FROM p a JOIN p b ON a.id <> b.id
         |  AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         |    <= ${300000L * 300000L}),
         |nw AS (SELECT cat_a, cat_b, count(*) AS n_with FROM w GROUP BY 1, 2),
         |tot AS (SELECT cat AS cat_a, count(*) AS n_total FROM p GROUP BY 1),
         |frame AS (SELECT a.cat_a, b.cat_a AS cat_b, a.n_total
         |  FROM tot a CROSS JOIN tot b)
         |SELECT f.cat_a, f.cat_b,
         |  CAST(COALESCE(nw.n_with, 0) AS BIGINT) AS n_with, f.n_total
         |FROM frame f LEFT JOIN nw USING (cat_a, cat_b)
         |ORDER BY 1, 2""".stripMargin),
    // ---- Join-count statistics (qad): categorical lattice autocorrelation
    //      — BB/BW/WW rook pairs of the thresholded density raster, the
    //      clumping-vs-checkerboard test closing the Moran/LISA/Gi* family.
    QuerySpec("qad_join_counts", (s, dir) => {
      val hub = col("o_orderkey") % 37L
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        (Derive.lonMicro(hub) + (col("o_orderkey") * 48271L) % 9000001L
          - 4500000L).as("lonm"),
        (Derive.latMicro(hub) + ((col("o_orderkey") + 7L) * 16807L) % 9000001L
          - 4500000L).as("latm"))
      operators.GridRaster.joinCounts(pts, col("lonm"), col("latm"),
        cellMicro = 2000000L, minCount = 10L)
    },
      // same right/up rook pairing + color census
      s"""WITH pts AS (SELECT
         |  ${Derive.lonSql("(o_orderkey % 37)")}
         |    + (o_orderkey * 48271) % 9000001 - 4500000 AS lon,
         |  ${Derive.latSql("(o_orderkey % 37)")}
         |    + ((o_orderkey + 7) * 16807) % 9000001 - 4500000 AS lat
         |  FROM orders),
         |r AS (SELECT (lon + 180000000) // 2000000 AS px,
         |    (lat + 90000000) // 2000000 AS py,
         |    CASE WHEN count(*) >= 10 THEN 1 ELSE 0 END AS b
         |  FROM pts GROUP BY 1, 2),
         |pr AS (SELECT a.b AS ba, c.b AS bb_ FROM r a
         |  JOIN r c ON (c.px = a.px + 1 AND c.py = a.py)
         |           OR (c.px = a.px AND c.py = a.py + 1)),
         |cen AS (SELECT CAST(sum(b) AS BIGINT) AS n_black,
         |  CAST(count(*) - sum(b) AS BIGINT) AS n_white FROM r)
         |SELECT cen.n_black, cen.n_white,
         |  CAST(sum(ba * bb_) AS BIGINT) AS bb,
         |  CAST(sum(CASE WHEN ba <> bb_ THEN 1 ELSE 0 END) AS BIGINT) AS bw,
         |  CAST(sum(CASE WHEN ba = 0 AND bb_ = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS ww,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pr CROSS JOIN cen
         |GROUP BY cen.n_black, cen.n_white""".stripMargin),
    // ---- Clark–Evans NN components (qab): aggregation-vs-dispersion per
    //      category — observed mean NN distance components over the full
    //      pattern, the overdispersion reading density stats can't give.
    QuerySpec("qab_clark_evans", (s, dir) => {
      val pts = customerPts(s, dir)
        .withColumn("cat", col("c_custkey") % 5L)
      operators.PointPattern.clarkEvans(pts, col("c_custkey"), col("cat"),
          col("lonm"), col("latm"), level = 6)
        .orderBy("cat")
    },
      // brute window NN by (d2, id) + the same floor-sqrt chain
      s"""WITH p AS (SELECT c_custkey AS pid, c_custkey % 5 AS cat,
         |  ${Derive.lonSql("c_custkey")} AS x, ${Derive.latSql("c_custkey")} AS y
         |  FROM customer),
         |nn AS (SELECT pid, cat, CAST(floor(sqrt(CAST(d2 AS DOUBLE)))
         |    AS BIGINT) AS nn_q FROM (
         |  SELECT a.pid, a.cat,
         |    (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y) AS d2,
         |    row_number() OVER (PARTITION BY a.pid ORDER BY
         |      (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y), b.pid) AS rn
         |  FROM p a JOIN p b ON a.pid <> b.pid) WHERE rn = 1)
         |SELECT cat, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(nn_q) AS BIGINT) AS sum_nn_q,
         |  min(nn_q) AS min_nn_q, max(nn_q) AS max_nn_q
         |FROM nn GROUP BY cat ORDER BY cat""".stripMargin),
    // ---- Quadrat-count dispersion (qac): the classical CSR quadrat test
    //      moments over the pattern's own bounding frame — empty quadrats
    //      are real observations carried by arithmetic, never materialized.
    QuerySpec("qac_quadrat", (s, dir) => {
      operators.PointPattern.quadratCounts(customerPts(s, dir),
        col("lonm"), col("latm"), quadMicro = 10000000L)
    },
      s"""WITH q AS (SELECT (${Derive.lonSql("c_custkey")} + 180000000)
         |      // 10000000 AS qx,
         |    (${Derive.latSql("c_custkey")} + 90000000) // 10000000 AS qy
         |  FROM customer),
         |c AS (SELECT qx, qy, count(*) AS n FROM q GROUP BY qx, qy),
         |f AS (SELECT min(qx) x0, max(qx) x1, min(qy) y0, max(qy) y1 FROM q)
         |SELECT CAST((f.x1 - f.x0 + 1) * (f.y1 - f.y0 + 1) AS BIGINT)
         |    AS n_quadrats,
         |  (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_occupied,
         |  (SELECT CAST(sum(n) AS BIGINT) FROM c) AS n_points,
         |  (SELECT CAST(sum(n * n) AS BIGINT) FROM c) AS sum_n2
         |FROM f""".stripMargin),
    // ---- Cluster deviational ellipses (qa8): centrographic SHAPE of each
    //      q7m DBSCAN site — exact int64 scatter-matrix components
    //      anchored per cluster; round blob vs corridor is the consumer's
    //      two float ops away. Noise excluded.
    QuerySpec("qa8_cluster_ellipse", (s, dir) => {
      val pts = customerPts(s, dir)
      val labeled = Dbscan.cluster(pts, col("c_custkey"), col("lonm"),
          col("latm"), eps = 5000000L, minPts = 3)
        .where(col("cluster") =!= -1L)
        .join(pts.withColumnRenamed("c_custkey", "id"), "id")
      operators.PointPattern.ellipseComponents(labeled, col("cluster"),
          col("lonm"), col("latm"))
        .orderBy("label")
    },
      // shared DBSCAN label CTE + the same anchor-shifted integer sums
      s"""$dbscanCteSql,
         |pc AS (SELECT l.cluster AS lbl, p.x, p.y FROM lbl l
         |  JOIN pts p ON l.id = p.id WHERE l.cluster <> -1),
         |anc AS (SELECT lbl, min(x) AS ax, min(y) AS ay FROM pc GROUP BY lbl)
         |SELECT pc.lbl AS label, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(pc.x - anc.ax) AS BIGINT) AS sum_dx,
         |  CAST(sum(pc.y - anc.ay) AS BIGINT) AS sum_dy,
         |  CAST(sum((pc.x - anc.ax) * (pc.x - anc.ax)) AS BIGINT) AS sum_dx2,
         |  CAST(sum((pc.y - anc.ay) * (pc.y - anc.ay)) AS BIGINT) AS sum_dy2,
         |  CAST(sum((pc.x - anc.ax) * (pc.y - anc.ay)) AS BIGINT) AS sum_dxy
         |FROM pc JOIN anc ON pc.lbl = anc.lbl
         |GROUP BY pc.lbl ORDER BY label""".stripMargin),
    // ---- Label propagation communities (qa6): K synchronous rounds of
    //      "adopt the neighbors' most common label" with the total
    //      (−count, label) argmin rule — fixed-K snapshot, no convergence
    //      claim (sync LPA 2-cycles on bipartite structure); q91's graph.
    QuerySpec("qa6_lpa", (s, dir) => {
      val ok = col("o_orderkey")
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val raw = orders.select(((ok * ok) % 2311L).as("x"),
          ((ok * 7919L + 13L) % ((ok % 389L) + 7L)).as("y"))
        .union(orders.select((ok % 14L + 10000L).as("x"),
          (ok % 14L + 10001L).as("y")))
      operators.Graph.labelPropagation(raw, col("x"), col("y"), rounds = 4)
        .orderBy("node")
    }, {
      // 4 chained synchronous rounds, QUALIFY argmin with the same
      // (cnt DESC, label) total rule
      val rounds = (1 to 4).map { i =>
        s"""l$i AS (SELECT a AS node, nl AS lbl FROM (
           |  SELECT u.a, l.lbl AS nl, count(*) AS cnt
           |  FROM und u JOIN l${i - 1} l ON u.b = l.node GROUP BY 1, 2
           |  QUALIFY row_number() OVER (
           |    PARTITION BY u.a ORDER BY cnt DESC, nl) = 1))""".stripMargin
      }.mkString(",\n")
      s"""WITH g AS (SELECT (o_orderkey * o_orderkey) % 2311 AS x,
         |    (o_orderkey * 7919 + 13) % ((o_orderkey % 389) + 7) AS y
         |  FROM orders
         |  UNION ALL SELECT o_orderkey % 14 + 10000, o_orderkey % 14 + 10001
         |  FROM orders),
         |und AS (SELECT x AS a, y AS b FROM g WHERE x <> y
         |  UNION SELECT y, x FROM g WHERE x <> y),
         |l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM und),
         |$rounds
         |SELECT node, lbl FROM l4 ORDER BY node""".stripMargin
    }),
    // ---- Colocation quotient (qa2): NN-based categorical association —
    //      each point casts ONE vote (its nearest other point), so dense
    //      areas can't swamp the stat like radius counts; integer CLQ
    //      components per ordered category pair, zero-filled matrix.
    QuerySpec("qa2_clq", (s, dir) => {
      val pts = customerPts(s, dir)
        .withColumn("cat", col("c_custkey") % 5L)
      operators.PointPattern.colocationQuotient(pts, col("c_custkey"),
          col("cat"), col("lonm"), col("latm"), level = 6)
        .orderBy("cat_a", "cat_b")
    },
      // brute NN by (d2, id) via a window over the full pair cross
      s"""WITH p AS (SELECT c_custkey AS pid, c_custkey % 5 AS cat,
         |  ${Derive.lonSql("c_custkey")} AS x, ${Derive.latSql("c_custkey")} AS y
         |  FROM customer),
         |nn AS (SELECT cat_a, cat_b FROM (
         |  SELECT a.cat AS cat_a, b.cat AS cat_b, row_number() OVER (
         |    PARTITION BY a.pid ORDER BY
         |      (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y), b.pid) AS rn
         |  FROM p a JOIN p b ON a.pid <> b.pid) WHERE rn = 1),
         |c AS (SELECT cat_a, cat_b, count(*) AS nn_count FROM nn GROUP BY 1, 2),
         |n AS (SELECT cat, count(*) AS n FROM p GROUP BY 1),
         |t AS (SELECT count(*) AS n_total FROM p)
         |SELECT na.cat AS cat_a, nb.cat AS cat_b,
         |  CAST(coalesce(c.nn_count, 0) AS BIGINT) AS nn_count,
         |  na.n AS n_a, nb.n AS n_b, t.n_total
         |FROM n na CROSS JOIN n nb CROSS JOIN t
         |LEFT JOIN c ON c.cat_a = na.cat AND c.cat_b = nb.cat
         |ORDER BY cat_a, cat_b""".stripMargin),
    // ---- Huff gravity allocation (q9z): the probabilistic catchment —
    //      each customer splits its population across reachable suppliers
    //      ∝ capacity/d² (quantized-integer weights, floor shares), sites
    //      zerofilled; the market-share complement of q9v's access score.
    QuerySpec("q9z_huff_alloc", (s, dir) => {
      val dem = s.read.parquet(s"$dir/customer.parquet").select(
        col("c_custkey"),
        Derive.lonMicro(col("c_custkey")).as("lonm"),
        Derive.latMicro(col("c_custkey")).as("latm"),
        ((col("c_custkey") % 97L) + 1L).as("pop"))
      val sup = s.read.parquet(s"$dir/supplier.parquet").select(
        col("s_suppkey"),
        Derive.lonMicro(col("s_suppkey")).as("slon"),
        Derive.latMicro(col("s_suppkey")).as("slat"),
        (((col("s_suppkey") % 13L) + 1L) * 1000L).as("cap"))
      operators.Accessibility.huffAllocation(s,
          dem, col("c_custkey"), col("lonm"), col("latm"), col("pop"),
          sup, col("s_suppkey"), col("slon"), col("slat"), col("cap"),
          radiusMicro = 15000000L, level = 5,
          wScale = 1000000L, distQ = 1000000000000L)
        .orderBy("sid")
    },
      // brute in-range pairs + the same quantized-weight floor-share chain
      s"""WITH d AS (SELECT c_custkey AS id,
         |  ${Derive.lonSql("c_custkey")} AS x, ${Derive.latSql("c_custkey")} AS y,
         |  (c_custkey % 97) + 1 AS pop FROM customer),
         |s AS (SELECT s_suppkey AS sid,
         |  ${Derive.lonSql("s_suppkey")} AS x, ${Derive.latSql("s_suppkey")} AS y,
         |  ((s_suppkey % 13) + 1) * 1000 AS cap FROM supplier),
         |p AS (SELECT d.id, s.sid,
         |    (s.cap * 1000000) // (((d.x-s.x)*(d.x-s.x)+(d.y-s.y)*(d.y-s.y))
         |      // 1000000000000 + 1) AS w,
         |    d.pop
         |  FROM d, s
         |  WHERE (d.x-s.x)*(d.x-s.x)+(d.y-s.y)*(d.y-s.y) <= 225000000000000),
         |dn AS (SELECT id, sum(w) AS wsum FROM p GROUP BY id),
         |al AS (SELECT p.sid,
         |    CASE WHEN dn.wsum > 0 THEN (p.pop * p.w) // dn.wsum ELSE 0 END AS a
         |  FROM p JOIN dn ON p.id = dn.id),
         |t AS (SELECT sid, sum(a) AS ta, count(*) AS nd FROM al GROUP BY sid)
         |SELECT s.sid, CAST(coalesce(t.ta, 0) AS BIGINT) AS total_alloc,
         |  CAST(coalesce(t.nd, 0) AS BIGINT) AS n_demand
         |FROM s LEFT JOIN t ON s.sid = t.sid ORDER BY 1""".stripMargin),
    // ---- Network dissolve (q9y): merge touching segments into polylines
    //      by exact shared-endpoint equality — chains derived from order
    //      keys with a deterministic ~9% segment drop, so chains fragment
    //      wherever a position is missing and the components have
    //      genuinely varied sizes. Node-star pairs (k−1 edges per degree-k
    //      junction) feed the components kernel; lengths ride the
    //      fixed IEEE chain.
    QuerySpec("q9y_dissolve", (s, dir) => {
      val chain = col("o_orderkey") % 200L
      val pos = expr("o_orderkey div 200")
      val segs = s.read.parquet(s"$dir/orders.parquet")
        .where((col("o_orderkey") * 7919L) % 11L =!= 0L)
        .select(
        col("o_orderkey"),
        (Derive.lonMicro(chain) + pos * 300L).as("x1"),
        (Derive.latMicro(chain) + (pos * 16807L) % 80001L - 40000L).as("y1"),
        (Derive.lonMicro(chain) + (pos + 1L) * 300L).as("x2"),
        (Derive.latMicro(chain) + ((pos + 1L) * 16807L) % 80001L
          - 40000L).as("y2"))
      operators.Dissolve.dissolveSegments(segs, col("o_orderkey"),
          col("x1"), col("y1"), col("x2"), col("y2"))
        .orderBy("cluster")
    },
      // same star-pair construction + recursive min-label propagation;
      // the len chain is the q9g fixed IEEE double chain
      s"""WITH RECURSIVE segs AS (SELECT o_orderkey AS sid,
         |  ${Derive.lonSql("(o_orderkey % 200)")}
         |    + (o_orderkey // 200) * 300 AS x1,
         |  ${Derive.latSql("(o_orderkey % 200)")}
         |    + ((o_orderkey // 200) * 16807) % 80001 - 40000 AS y1,
         |  ${Derive.lonSql("(o_orderkey % 200)")}
         |    + (o_orderkey // 200 + 1) * 300 AS x2,
         |  ${Derive.latSql("(o_orderkey % 200)")}
         |    + ((o_orderkey // 200 + 1) * 16807) % 80001 - 40000 AS y2
         |  FROM orders WHERE (o_orderkey * 7919) % 11 <> 0),
         |eps AS (SELECT sid, x1 AS ex, y1 AS ey FROM segs
         |  UNION ALL SELECT sid, x2, y2 FROM segs),
         |m AS (SELECT ex, ey, min(sid) AS ida FROM eps GROUP BY ex, ey),
         |pr AS (SELECT m.ida, e.sid AS idb FROM eps e
         |  JOIN m ON e.ex = m.ex AND e.ey = m.ey WHERE e.sid <> m.ida),
         |und AS (SELECT ida, idb FROM pr UNION SELECT idb, ida FROM pr),
         |comp(id, lbl) AS (SELECT sid, sid FROM segs
         |  UNION SELECT u.idb, c.lbl FROM comp c JOIN und u ON u.ida = c.id),
         |clbl AS (SELECT id, min(lbl) AS cl FROM comp GROUP BY id),
         |len AS (SELECT sid, CAST(floor(sqrt(CAST(
         |    (x2-x1)*(x2-x1) + (y2-y1)*(y2-y1) AS DOUBLE))) AS BIGINT) AS len_q
         |  FROM segs)
         |SELECT c.cl AS cluster, CAST(count(*) AS BIGINT) AS n_segments,
         |  CAST(sum(l.len_q) AS BIGINT) AS total_len_q
         |FROM clbl c JOIN len l ON c.id = l.sid
         |GROUP BY c.cl ORDER BY cluster""".stripMargin),
    // ---- 2SFCA accessibility (q9v): customers are demand (pop 1..97),
    //      suppliers are capacity sites — per-customer access = sum of
    //      reachable sites' fixed-point capacity/catchment-demand ratios
    //      [Luo & Wang 2003]. ONE cell-grid radius join reused by both
    //      steps; 309 of 1500 customers reach NO site at sf0.01 and come
    //      back zerofilled (a coverage gap is a result, not a missing row).
    QuerySpec("q9v_access_2sfca", (s, dir) => {
      val dem = s.read.parquet(s"$dir/customer.parquet").select(
        col("c_custkey"),
        Derive.lonMicro(col("c_custkey")).as("lonm"),
        Derive.latMicro(col("c_custkey")).as("latm"),
        ((col("c_custkey") % 97L) + 1L).as("pop"))
      val sup = s.read.parquet(s"$dir/supplier.parquet").select(
        col("s_suppkey"),
        Derive.lonMicro(col("s_suppkey")).as("slon"),
        Derive.latMicro(col("s_suppkey")).as("slat"),
        (((col("s_suppkey") % 13L) + 1L) * 1000L).as("cap"))
      operators.Accessibility.twoStepFca(s,
          dem, col("c_custkey"), col("lonm"), col("latm"), col("pop"),
          sup, col("s_suppkey"), col("slon"), col("slat"), col("cap"),
          radiusMicro = 15000000L, level = 5)
        .orderBy("id")
    },
      // brute in-range pairs + the same integer floor-div ratio chain;
      // // is floor in DuckDB, div trunc in Spark — operands non-negative
      s"""WITH d AS (SELECT c_custkey AS id,
         |  ${Derive.lonSql("c_custkey")} AS x, ${Derive.latSql("c_custkey")} AS y,
         |  (c_custkey % 97) + 1 AS pop FROM customer),
         |s AS (SELECT s_suppkey AS sid,
         |  ${Derive.lonSql("s_suppkey")} AS x, ${Derive.latSql("s_suppkey")} AS y,
         |  ((s_suppkey % 13) + 1) * 1000 AS cap FROM supplier),
         |p AS (SELECT d.id, s.sid FROM d, s
         |  WHERE (d.x-s.x)*(d.x-s.x)+(d.y-s.y)*(d.y-s.y) <= 225000000000000),
         |r AS (SELECT p.sid, CASE WHEN sum(d.pop) > 0
         |    THEN (any_value(s.cap) * 1000000) // sum(d.pop) ELSE 0 END AS r_fp
         |  FROM p JOIN d ON p.id = d.id JOIN s ON p.sid = s.sid GROUP BY p.sid),
         |a AS (SELECT p.id, sum(r.r_fp) AS acc, count(*) AS ns
         |  FROM p JOIN r ON p.sid = r.sid GROUP BY p.id)
         |SELECT d.id, CAST(coalesce(a.acc, 0) AS BIGINT) AS access_fp,
         |  CAST(coalesce(a.ns, 0) AS BIGINT) AS n_sites
         |FROM d LEFT JOIN a ON d.id = a.id ORDER BY 1""".stripMargin),
  )
}
