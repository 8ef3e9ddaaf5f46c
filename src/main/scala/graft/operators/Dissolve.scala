package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Network dissolve — merge touching line segments into connected
  * polylines: the GIS "dissolve"/"merge lines" verb ([ref:
  * oshdb-util/…/geometry — upstream assembles way geometries from shared
  * nodes the same way], GDAL/PostGIS `ST_LineMerge` shape). Where
  * [[SpatialJoin.unionAreaJoin]] dissolves AREAS, this dissolves the
  * segment NETWORK: road edges into continuous routes, contour pieces into
  * iso-lines, [[GridRaster.maskBoundary]] edge soup into rings.
  */
object Dissolve {

  /** Group segments into connected components by SHARED ENDPOINTS (exact
    * int64 coordinate equality — the fixed-point discipline makes "same
    * node" well-defined with no snap tolerance) and summarize each
    * resulting polyline: (cluster, n_segments, total_len_q), cluster = the
    * component's minimum segment id, total_len_q = Σ ⌊√(dx²+dy²)⌋ over
    * member segments (the engine-invariant fixed IEEE hop chain of the
    * trajectory family — floor-quantized per segment, summed exactly).
    * Isolated segments are their own single-segment polylines.
    *
    * Plan (100 TB posture): endpoints explode 2× and hash-aggregate to one
    * MIN segment id per node; the component edges are the node-STAR pairs
    * (every co-incident segment → the node's min segment), so a junction
    * of degree k contributes k−1 edges, never k² — the same hub-safe shape
    * as the LSH band trick. Components run through [[Dedup.dupClusters]]
    * (one task when the pairs fit its bound, else O(log² n) star-contraction
    * rounds); the summary is one hash aggregate. No all-pairs stage, no
    * window, no driver data.
    */
  def dissolveSegments(segs: DataFrame, sid: Column,
                       x1: Column, y1: Column, x2: Column, y2: Column)
      : DataFrame = {
    val s = segs.select(sid.cast("long").as("sid"),
        x1.cast("long").as("x1"), y1.cast("long").as("y1"),
        x2.cast("long").as("x2"), y2.cast("long").as("y2"))
      .localCheckpoint() // feeds endpoints, lengths, and the label join
    val eps = s.select(col("sid"), col("x1").as("ex"), col("y1").as("ey"))
      .union(s.select(col("sid"), col("x2").as("ex"), col("y2").as("ey")))
    val nodeMin = eps.groupBy("ex", "ey").agg(min("sid").as("id_a"))
    val starPairs = eps.join(nodeMin, Seq("ex", "ey"))
      .where(col("sid") =!= col("id_a"))
      .select(col("id_a"), col("sid").as("id_b"))
    val comp = Dedup.dupClusters(starPairs)
      .withColumnRenamed("doc_id", "sid").withColumnRenamed("cluster_id", "cl")
    val dx = col("x2") - col("x1"); val dy = col("y2") - col("y1")
    s.withColumn("len_q", floor(sqrt(dx * dx + dy * dy)).cast("long"))
      .join(comp, Seq("sid"), "left")
      .select(coalesce(col("cl"), col("sid")).as("cluster"), col("len_q"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_segments"), sum("len_q").as("total_len_q"))
  }
}
