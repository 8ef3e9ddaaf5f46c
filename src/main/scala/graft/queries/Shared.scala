package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.oracle.Derive

/** SQL and DataFrame pieces shared by more than one query family: the
  * customer point table, the trip/stay-point/geofence twins that the
  * batch and streaming queries both check against, and the DBSCAN
  * labeling CTE of the spatial and spatiotemporal twins.
  */
private[queries] object Shared {
  def customerPts(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"),
        Derive.lonMicro(col("c_custkey")).as("lonm"),
        Derive.latMicro(col("c_custkey")).as("latm"))

  /** Shared trip-segmentation CTE chain (p → l → f → t): per-user fixes,
    * lag pairs, dwell-gap trip starts, running trip numbers + the fixed
    * IEEE hop. Heads the q82/q85 twin and the q89 OD-matrix twin.
    */
  def tripsCtes: String =
    s"""p AS (SELECT user_id, epoch_us(ts) AS tus, event_id,
       |  ${Derive.lonSql("event_id")} AS lonm,
       |  ${Derive.latSql("event_id")} AS latm FROM events),
       |l AS (SELECT *, lag(tus) OVER w AS ptus, lag(lonm) OVER w AS plon,
       |  lag(latm) OVER w AS plat FROM p
       |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
       |f AS (SELECT *, CASE WHEN ptus IS NULL OR tus - ptus > 43200000000
       |  THEN 1 ELSE 0 END AS nt FROM l),
       |t AS (SELECT *, CAST(SUM(nt) OVER (PARTITION BY user_id
       |    ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) - 1
       |    AS BIGINT) AS trip_no,
       |  CASE WHEN nt = 1 THEN 0 ELSE CAST(floor(sqrt(
       |    CAST(lonm - plon AS DOUBLE) * CAST(lonm - plon AS DOUBLE) +
       |    CAST(latm - plat AS DOUBLE) * CAST(latm - plat AS DOUBLE)))
       |    AS BIGINT) END AS hop FROM f)""".stripMargin

  /** Batch sessionization twin (q82) — also the oracle for the STREAMING
    * q85: managed-state session windows with full flush must reproduce the
    * batch operator exactly, hop chain and all.
    */
  def tripsOracleSql: String =
    s"""WITH $tripsCtes
       |SELECT user_id AS entity, trip_no, count(*) AS n_pts,
       |  min(tus) AS start_us, max(tus) - min(tus) AS dur_us,
       |  CAST(sum(hop) AS BIGINT) AS len_q
       |FROM t GROUP BY 1, 2 ORDER BY entity, trip_no""".stripMargin

  /** Batch stay-point twin (q99) — also the oracle for the STREAMING q9c:
    * window replay of the (t, oid) order, cell-change run numbering and
    * post-aggregate gates over the slot-anchored jittered fixture.
    */
  def stayPointsOracleSql: String =
    s"""WITH f AS (SELECT user_id AS ent, epoch_us(ts) AS tus,
       |  event_id AS oid,
       |  ${Derive.lonSql("(user_id % 13)")}
       |    + ((user_id * 31 + ((epoch_us(ts) - 1704067200000000)
       |        // 259200000000) * 7) * 48271) % 600001 - 300000
       |    + (event_id * 7919) % 200001 - 100000 AS lon,
       |  ${Derive.latSql("(user_id % 13)")}
       |    + ((user_id * 17 + ((epoch_us(ts) - 1704067200000000)
       |        // 259200000000) * 11) * 16807) % 600001 - 300000
       |    + ((event_id + 3) * 104729) % 200001 - 100000 AS lat
       |  FROM events),
       |c AS (SELECT ent, tus, oid, (lon + 180000000) // 400000 AS cx,
       |  (lat + 90000000) // 400000 AS cy FROM f),
       |l AS (SELECT *, CASE WHEN lag(cx) OVER w IS NULL
       |    OR lag(cx) OVER w <> cx OR lag(cy) OVER w <> cy
       |  THEN 1 ELSE 0 END AS nw FROM c
       |  WINDOW w AS (PARTITION BY ent ORDER BY tus, oid)),
       |r AS (SELECT *, sum(nw) OVER (PARTITION BY ent ORDER BY tus, oid
       |  ROWS UNBOUNDED PRECEDING) AS run FROM l)
       |SELECT ent AS entity, min(cx) AS cx, min(cy) AS cy,
       |  min(tus) AS enter_us, max(tus) AS exit_us, count(*) AS n_fixes
       |FROM r GROUP BY ent, run
       |HAVING max(tus) - min(tus) >= 86400000000 AND count(*) >= 3
       |ORDER BY entity, enter_us""".stripMargin

  /** Geofence transition twin (q9d) — also the oracle for the STREAMING
    * q9e: flag-series replay with the same fixture, inclusive containment
    * and lag-with-0-default transition filter.
    */
  def geofenceOracleSql: String =
    s"""WITH f AS (SELECT user_id AS ent, epoch_us(ts) AS tus,
       |  event_id AS oid,
       |  ${Derive.lonSql("(user_id % 13)")}
       |    + ((user_id * 31 + ((epoch_us(ts) - 1704067200000000)
       |        // 259200000000) * 7) * 48271) % 600001 - 300000
       |    + (event_id * 7919) % 200001 - 100000 AS lon,
       |  ${Derive.latSql("(user_id % 13)")}
       |    + ((user_id * 17 + ((epoch_us(ts) - 1704067200000000)
       |        // 259200000000) * 11) * 16807) % 600001 - 300000
       |    + ((event_id + 3) * 104729) % 200001 - 100000 AS lat
       |  FROM events),
       |fc AS (SELECT CAST(j AS BIGINT) AS fence_id,
       |  ${Derive.lonSql("j")} - 250000 AS lon_min,
       |  ${Derive.latSql("j")} - 250000 AS lat_min,
       |  ${Derive.lonSql("j")} + 250000 AS lon_max,
       |  ${Derive.latSql("j")} + 250000 AS lat_max
       |  FROM (SELECT unnest(generate_series(0, 12)) AS j)),
       |x AS (SELECT f.ent, fc.fence_id, f.tus, f.oid,
       |  CASE WHEN f.lon >= fc.lon_min AND f.lon <= fc.lon_max
       |    AND f.lat >= fc.lat_min AND f.lat <= fc.lat_max
       |  THEN 1 ELSE 0 END AS i FROM f CROSS JOIN fc),
       |l AS (SELECT ent, fence_id, tus, i, COALESCE(lag(i) OVER (
       |  PARTITION BY ent, fence_id ORDER BY tus, oid), 0) AS pi FROM x)
       |SELECT ent AS entity, fence_id, tus, CAST(i AS BIGINT) AS enter
       |FROM l WHERE i <> pi ORDER BY entity, fence_id, tus""".stripMargin

  /** Shared DBSCAN label derivation (q7m/q7p): quadratic neighbor join,
    * core by degree, recursive min-propagation components, min-core-
    * neighbor borders — ends with `lbl(id, cluster)` for every point
    * (noise = -1). Must stay the exact rule set `operators.Dbscan`
    * implements.
    */
  def dbscanCteSql: String = dbscanCteSqlBody(
    s"""SELECT c_custkey AS id,
       |  ${Derive.lonSql("c_custkey")} AS x, ${Derive.latSql("c_custkey")} AS y
       |  FROM customer""".stripMargin,
    "(a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 25000000000000")

  /** q9u twin: q7m's spatial CTE with the 3-phase pseudo-time and the
    * conjunctive ST neighborhood predicate.
    */
  def stDbscanCteSql: String = dbscanCteSqlBody(
    s"""SELECT c_custkey AS id,
       |  ${Derive.lonSql("c_custkey")} AS x, ${Derive.latSql("c_custkey")} AS y,
       |  ((c_custkey * 104729) % 3) * 20000000
       |    + (c_custkey * 7919) % 5000001 AS t
       |  FROM customer""".stripMargin,
    """(a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 64000000000000
      |    AND abs(a.t - b.t) <= 6000000""".stripMargin)

  /** Quadratic-neighbor recursive min-propagation DBSCAN labeling, shared
    * by the spatial (q7m/q7p) and spatiotemporal (q9u) twins: `ptsSql`
    * defines (id, x, y[, t]), `nbrPred` the neighborhood predicate over
    * aliases a/b; minPts = 3 in both uses.
    */
  def dbscanCteSqlBody(ptsSql: String, nbrPred: String): String =
    s"""WITH RECURSIVE pts AS ($ptsSql),
       |nbr AS (SELECT a.id AS ida, b.id AS idb FROM pts a, pts b
       |  WHERE $nbrPred),
       |core AS (SELECT ida AS id FROM nbr GROUP BY ida HAVING count(*) >= 3),
       |ce AS (SELECT n.ida, n.idb FROM nbr n
       |  JOIN core a ON n.ida = a.id JOIN core b ON n.idb = b.id),
       |comp(id, lbl) AS (SELECT id, id FROM core
       |  UNION SELECT ce.idb, c.lbl FROM comp c JOIN ce ON ce.ida = c.id),
       |clbl AS (SELECT id, min(lbl) AS cl FROM comp GROUP BY id),
       |border AS (SELECT n.ida AS id, min(c.cl) AS cl FROM nbr n
       |  JOIN clbl c ON n.idb = c.id
       |  WHERE n.ida <> n.idb AND n.ida NOT IN (SELECT id FROM core)
       |  GROUP BY n.ida),
       |lbl AS (SELECT p.id, CAST(coalesce(cl.cl, b.cl, -1) AS BIGINT) AS cluster
       |  FROM pts p LEFT JOIN clbl cl ON p.id = cl.id
       |  LEFT JOIN border b ON p.id = b.id)""".stripMargin
}
