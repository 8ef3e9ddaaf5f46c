package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.BenchCore
import graft.api.Reducer
import graft.fixtures.Fixtures
import graft.functions.GraftFunctions._
import graft.operators.{Dedup, Similarity, SpatialJoin}

/** Writes docs/PLANS.md: formatted physical plans of the headline
  * pipelines with the shuffle inventory annotated.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = BenchCore.session("8")
    val sf = "/root/testdata/sf0.01"
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.tools.PlanDump — regenerate after plan changes)\n")

    def dump(title: String, notes: String, df: org.apache.spark.sql.DataFrame): Unit = {
      sb.append(s"\n## $title\n\n$notes\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).take(8000))
      sb.append("\n```\n")
    }

    val imgs = Fixtures.images(spark, 10000)
      .withColumn("lon", phashLon(col("phash")))
      .withColumn("lat", phashLat(col("phash")))
    dump("Flagship spatial join + tiling",
      "Shuffle inventory: ZERO point-side exchanges — scan (phash column only) → " +
        "lon/lat decode → level-tagged cell explode → BroadcastHashJoin on one " +
        "long key (LongHashedRelation) → codegen raycast refine → tile exprs → " +
        "partial agg; the only Exchange is the final single-row aggregate.",
      SpatialJoin.assignTiles(
        SpatialJoin.join(spark, imgs, col("lon"), col("lat"), Fixtures.polygons),
        col("lon"), col("lat"), 12)
        .agg(count(lit(1)).as("rows"), sum("tile_x").as("cx")))

    val docs = spark.read.parquet(s"$sf/documents.parquet")
    dump("MinHash-LSH near-dup (q45)",
      "Narrow shuffles only: banding on (band, bandHash); candidates verified " +
        "via array_intersect joins on doc ids — the raw text never shuffles.",
      Dedup.minhashLshPairs(docs, col("doc_id"), col("text"), 3, 0.5))

    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    dump("Brute-force top-k similarity (q48)",
      "Query side broadcast (small by construction); the corpus streams " +
        "through one codegen stage computing the int64 dot; only " +
        "(qid, nid, dot) reach the per-query top-k window.",
      Similarity.topKDot(emb, emb.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", 10))

    dump("Exact cosine near-dup, broadcast-blocked (q50/q59, round 2)",
      "Exact path: quantized corpus broadcast once (200k-vector cap), " +
        "primitive i<j loop per partition emitting only qualifying pairs — " +
        "NO join node, no shuffle, no pair-row materialization. (Exact " +
        "threshold joins are Θ(n²) dots; below t≈0.7 LSH candidates " +
        "provably cost more than all-pairs — Similarity scaladoc.)",
      Similarity.cosineNearDupPairsExact(emb, "vec_id", "embedding", 0.45))

    dump("LSH-bucketed cosine near-dup (corpus-scale path, round 2)",
      "The subquadratic path for real near-dup thresholds (t >= 0.8): " +
        "hyperplane buckets explode (codegen), equi-join on (table, bucket), " +
        "candidate distinct on TWO LONGS only, vectors re-joined by id for " +
        "the exact integer verify. No cartesian/BNLJ anywhere.",
      Similarity.cosineNearDupPairsLsh(emb, "vec_id", "embedding", 0.45, dims = 64))

    dump("kNN join, round-1 candidate stage (q0e)",
      "Query side stays a DataFrame: ring cells explode per query row " +
        "(codegen RingCellsExpr), equi-join on cell, then the per-query " +
        "top-k is a window top-k (sort by (d2, neighbor_id) within qid, " +
        "row_number <= k), as in Knn.knnJoinDf. Spark puts a " +
        "WindowGroupLimit on both sides of the exchange, so at most k rows " +
        "per query per map partition are shuffled. The driver sees only a " +
        "per-round scalar. Shown: the r=1 round's plan.",
      {
        val pts = emb.select(col("vec_id").as("id"),
          (col("vec_id") % 340000).cast("long").as("lonm"), (col("vec_id") % 160000).cast("long").as("latm"))
        val cand = pts.select(col("id").as("qid"), col("lonm").as("_qlon"), col("latm").as("_qlat"))
          .where(col("qid") % 100 === 0)
          .withColumn("_pcell", explode(ringCells(col("_qlon"), col("_qlat"), 4, 1)))
        pts.select(col("id").as("neighbor_id"), col("lonm").as("_plon"), col("latm").as("_plat"))
          .withColumn("_pcell", zcell(col("_plon"), col("_plat"), 4))
          .join(cand, Seq("_pcell"))
          .withColumn("d2", (col("_plon") - col("_qlon")) * (col("_plon") - col("_qlon")) +
            (col("_plat") - col("_qlat")) * (col("_plat") - col("_qlat")))
          .withColumn("rank", row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("qid").orderBy(col("d2"), col("neighbor_id"))))
          .where(col("rank") <= 5)
          .select("qid", "neighbor_id", "rank", "d2")
      })

    val custPts = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"),
        graft.oracle.Derive.lonMicro(col("c_custkey")).as("lonm"),
        graft.oracle.Derive.latMicro(col("c_custkey")).as("latm"))
    dump("Distributed polygon-side spatial join (q0l, round 3)",
      "The polygon side is a TABLE of (poly_id, wkb): cover cells computed " +
        "in a flatMap on executors (SerializeFromObject — the driver does " +
        "zero geometry work), equi-join on the level-tagged cell long whose " +
        "condition is the refine `_full OR raycast_pip_edges(lon, lat, _edges)`: " +
        "a codegen raycast over the clipped edge list shipped on PARTIAL cover " +
        "rows (FULL cells carry null edges and skip it). The point side has no " +
        "DeserializeToObject: scan, cell explode, join and refine stay in " +
        "whole-stage codegen.",
      SpatialJoin.joinDf(spark, custPts, col("lonm"), col("latm"),
        Fixtures.polygonsDf(spark, graft.oracle.Derive.rectSpecs)))

    dump("Aggregate-by-geometry, several reducers in one pass",
      "Reducer count, exact decimal sum and KLL sketch median of one joinDf " +
        "result, joined back on the zone: MergeKeyedAggregates plans them as " +
        "ONE aggregate (partial and final ObjectHashAggregate around one " +
        "exchange) over ONE cell join whose condition is still the refine — " +
        "not one cover build, cell join and raycast per reducer.",
      {
        val r = Reducer.on(SpatialJoin.joinDf(spark, custPts, col("lonm"), col("latm"),
          Fixtures.polygonsDf(spark, graft.oracle.Derive.rectSpecs))).aggregateBy("zone", col("poly_id"))
        r.count("cnt").join(r.sum(col("c_custkey"), "total"), Seq("zone"))
          .join(r.sketchQuantile(col("c_custkey"), 0.5, "q50"), Seq("zone"))
      })

    dump("Haversine radius join (q0i, round 3)",
      "Geodesic metric: spherical-cap bbox cover sized from the query " +
        "table's max |lat| (one tiny pre-agg), longitude-WRAPPING ring " +
        "cells (codegen), broadcast-able candidate side, exact haversine " +
        "filter from Spark builtins (sin/cos/asin — whole-stage codegen; " +
        "same formula text as the DuckDB twin).",
      {
        val cpts = spark.read.parquet(s"$sf/customer.parquet")
          .select(col("c_custkey"),
            graft.oracle.Derive.lonMicro(col("c_custkey")).as("lonm"),
            graft.oracle.Derive.latMicro(col("c_custkey")).as("latm"))
        val nat = spark.read.parquet(s"$sf/nation.parquet")
          .select(col("n_nationkey").cast("long").as("qid"),
            graft.oracle.Derive.lonMicro(col("n_nationkey")).as("lonm"),
            graft.oracle.Derive.latMicro(col("n_nationkey")).as("latm"))
        graft.operators.Knn.radiusJoinDf(spark, cpts, col("c_custkey"),
          col("lonm"), col("latm"), nat, col("qid"), col("lonm"), col("latm"),
          level = 5, metric = "haversine", radiusMeters = 1500000.0)
      })

    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val dict = graft.sources.TagDictionary.build(orders, col("o_orderpriority"))
    dump("Broadcast tag dictionary encode + int aggregate (q32, round 2)",
      "keytables/TagTranslator role: strings → dense ids via BroadcastHashJoin " +
        "(the fact table never shuffles a string); aggregation runs on the long id.",
      graft.sources.TagDictionary.encode(orders, col("o_orderpriority"), dict)
        .groupBy("tag_id").agg(count(lit(1)).as("n")))

    val docsT = spark.read.parquet(s"$sf/documents.parquet")
    dump("Eval-set decontamination (q65, round 3)",
      "Benchmark shingles BroadcastExchange'd; the corpus side explodes " +
        "map-side straight into the BroadcastHashJoin — corpus text and " +
        "shingles never shuffle; the only Exchange is the (doc, bench) " +
        "count over HIT rows.",
      Dedup.decontaminate(
        docsT.where(col("doc_id") % 50 =!= 0), col("doc_id"), col("text"),
        docsT.where(col("doc_id") % 50 === 0), col("doc_id"), col("text"),
        n = 3, minHits = 3))

    dump("Banded hamming pairs over a precomputed hash column (q67, round 3)",
      "pHash image-dedup shape: maxDist+1 narrow (band, bits) keys per row, " +
        "one self-equi-join (no cartesian), bit_count verify inside codegen.",
      Dedup.hammingPairs(
        docsT.select(col("doc_id"),
          graft.functions.TextFunctions.charHash64(
            expr("cast(doc_id div 8 as string)"))
            .bitwiseXOR(col("doc_id") % 8).as("ph")),
        col("doc_id"), col("ph"), maxDist = 2, bits = 60))

    dump("Raster↔vector zonal statistics (q6w, round 4)",
      "Decode-once narrow kernel (MapPartitions — pixels never leave the " +
        "task, output is (phash, n_pixels, sum_luma) only: no strings), " +
        "lon/lat decoded from phash by codegen exprs, cover-cell " +
        "BroadcastHashJoin + raycast refine, ONE final per-zone " +
        "hash-aggregate with map-side partials.",
      graft.operators.Multimodal.zonalStats(spark,
        Fixtures.images(spark, 10000), graft.oracle.Derive.rectSpecs))

    dump("Tile-mosaic rendering (q6x, round 4)",
      "Same decode stage emitting the 8×8 block-sum grid; integer equirect " +
        "tile exprs; ObjectHashAggregate carrying the mergeable vec_sum " +
        "vector — one partial grid per (task, tile) through the single " +
        "Exchange, never a 64× posexplode fan-out.",
      graft.operators.Multimodal.tileMosaic(Fixtures.images(spark, 10000), z = 4))

    dump("DSIR importance resampling (q6y, round 4)",
      "Two bucket-bounded hash-aggregates build the target/raw models; the " +
        "≤numBuckets weight table is BroadcastExchange'd; scoring is the " +
        "corpus bigram explode flowing map-side through the " +
        "BroadcastHashJoin into a partially-combining per-doc aggregate — " +
        "the corpus text never shuffles.",
      graft.operators.TextAnalysis.importanceResample(docsT, col("doc_id"),
        col("text"), docsT.where(col("doc_id") % 7 === 0), col("text"),
        numBuckets = 4096))

    dump("Sequence-packing manifest offsets (q6r, round 5 — O(1) lookup)",
      "The two-pass bucket-offset cumsum: global offsets come from ONE " +
        "array-literal element_at lookup per row (shift(element_at(...)) " +
        "— no parts-deep CASE WHEN chain, which was O(parts) per row and " +
        "a codegen method-size hazard at cluster parallelism), and doc " +
        "text rides a single range exchange.",
      graft.operators.TextAnalysis.packSequences(docsT, col("doc_id"),
        col("text"), seqLen = 512, salt = "plans"))

    val segRnd = spark.range(0, 10000).select(col("id").as("seg_id"),
      (col("id") % 1000 * 360000).as("x1"), (col("id") % 500 * 360000 - 90000000).as("y1"),
      (col("id") % 1000 * 360000 + 500000).as("x2"), (col("id") % 500 * 360000 - 89500000).as("y2"))
    dump("Zone-clipped length join, METERS arm (q78, round 5)",
      "Identical plan to the planar q74 — the meters conversion is inside " +
        "the same per-pair mapPartitions kernel (equirect chain + Horner " +
        "cos, zero extra plan nodes): segment bbox-cell explode → " +
        "BroadcastHashJoin with the zone cover → pair-distinct exchange " +
        "(5 longs/row) → ONE exact clip per pair → per-zone hash aggregate.",
      SpatialJoin.clipLengthJoin(spark, segRnd, col("seg_id"), col("x1"),
        col("y1"), col("x2"), col("y2"), graft.oracle.Derive.rectSpecs,
        unit = "meters"))

    dump("Sharded HNSW graph ANN (q7a, round 5)",
      "One hash repartition of (nid, quantized vec) into shards; each " +
        "shard's graph builds AND searches inside a single mapPartitions " +
        "(the graph never crosses the wire or touches the driver; the " +
        "query batch is the broadcast side); only (qid, nid, d2) " +
        "candidates — ≤ shards·k per query — reach the final top-k window.",
      Similarity.hnswTopK(spark, emb, emb.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 10, shards = 4))

    dump("Grid DBSCAN (q7m, round 5)",
      "Candidate stage = ONE shuffle join on packed eps-cell keys (home " +
        "cell vs 9-exploded ring — each pair produced exactly once, no " +
        "dedup exchange), codegen int64 distance filter; degree and " +
        "border labels are hash aggregates with map-side partials; the " +
        "components come from dupClusters: one localCheckpointed, counted " +
        "edge table, then a one-task union-find while it fits 2^20 pairs " +
        "(O(log² n) alternating star-contraction rounds above that). " +
        "No all-pairs stage, no driver data.",
      graft.operators.Dbscan.cluster(
        spark.read.parquet(s"$sf/customer.parquet")
          .select(col("c_custkey"),
            graft.oracle.Derive.lonMicro(col("c_custkey")).as("lonm"),
            graft.oracle.Derive.latMicro(col("c_custkey")).as("latm")),
        col("c_custkey"), col("lonm"), col("latm"), 5000000L, 3))

    dump("Filtered IVF vector search (q7q, round 5)",
      "The keep predicate is projected into the cached corpus scan as a " +
        "boolean, rides the list rows, and filters AFTER the probed-list " +
        "equi-join / BEFORE the rank window — index built filter-agnostic, " +
        "no id-set join, no second corpus pass.",
      Similarity.ivfTopK(spark, emb, emb.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 10, nprobe = 8, lloydRounds = 1,
        keep = col("vec_id") % 7 === 3))

    dump("Map matching — nearest segment within radius (q7t, round 5)",
      "NO broadcast (both sides table-sized): segments explode to " +
        "radius-expanded bbox cover cells, points compute ONE cell, one " +
        "SortMergeJoin/ShuffledHashJoin on the cell (each candidate pair " +
        "exactly once — no dedup exchange), codegen fixed-IEEE " +
        "point-to-segment kernel + radius filter, then ObjectHashAggregate " +
        "argmin via ArgMinLongsAgg with MAP-SIDE partials — min(struct) " +
        "would SortAggregate and sort the candidates on both exchange " +
        "sides; this plan has NO sort node and the second exchange " +
        "carries ≤ one row per (task, point).",
      graft.operators.MapMatch.snapToSegments(spark, custPts,
        col("c_custkey"), col("lonm"), col("latm"), segRnd, col("seg_id"),
        col("x1"), col("y1"), col("x2"), col("y2"),
        radiusMicro = 1500000L, level = 8))

    dump("IDW vector→raster interpolation (q7v, round 5)",
      "Bounded per-point explode to candidate grid cells (fan-out ≤ " +
        "(2r/g+2)²), codegen integer weight chain, ONE hash aggregate on " +
        "(cx, cy) with map-side partial sums — the only exchange carries " +
        "two int64 partials per (task, cell); no driver structure, no " +
        "broadcast, hotspot cells aggregate values not rows.",
      graft.operators.GridRaster.idwGrid(custPts, col("lonm"), col("latm"),
        col("c_custkey") % 1000L, cellMicro = 4000000L, radiusMicro = 5000000L))

    val fixes = spark.read.parquet(s"$sf/events.parquet").select(
      col("user_id"), expr("unix_micros(cast(ts as timestamp))").as("tus"),
      col("event_id"),
      graft.oracle.Derive.lonMicro(col("event_id")).as("lonm"),
      graft.oracle.Derive.latMicro(col("event_id")).as("latm"))
    dump("Trajectory trips — sessionize + per-trip metrics (q82, round 5)",
      "ONE hash exchange on the entity key serves the whole plan: the lag " +
        "windows, the running trip-number sum, AND the final (entity, trip) " +
        "aggregate (its keys refine the window partitioning, so Catalyst " +
        "plans no second exchange). The per-entity sort is task-local and " +
        "spillable; no global sort, no driver state.",
      graft.operators.Trajectory.trips(fixes, col("user_id"), col("tus"),
        col("event_id"), col("lonm"), col("latm"), gapUs = 43200000000L))

    dump("Global Moran's I (q93, round 5)",
      "Points collapse to (cell, count) in exchange ONE (map-side combined); " +
        "(N, S) is a single-row broadcast back onto cells; rook adjacency is " +
        "one equi-join of each cell against its right/up neighbor keys " +
        "(AQE-broadcast at raster size); numerator and denominator are " +
        "single-row aggregates. No window, no sort, no driver raster.",
      graft.operators.GridRaster.moransI(custPts, col("lonm"), col("latm"),
        cellMicro = 2000000L))

    dump("Stay-point detection (q99, round 5)",
      "The trips discipline: ONE entity-key exchange serves the cell-change " +
        "lag, the run-numbering running sum AND the per-(entity, run) " +
        "aggregate; the dwell gates are post-aggregate filters on run-sized " +
        "rows.",
      graft.operators.Trajectory.stayPoints(fixes, col("user_id"), col("tus"),
        col("event_id"), col("lonm"), col("latm"), cellMicro = 400000L,
        minStayUs = 86400000000L, minFixes = 3L))

    dump("Geofence transitions (q9d, round 5)",
      "The broadcast fence cross runs as a MAP-SIDE filter keeping only " +
        "inside rows; their distinct (entity, fence) pairs — the only series " +
        "that can emit — pull the entity's full fix stream through ONE " +
        "(entity, fence) window exchange. Sorted volume ≈ fixes × fences an " +
        "entity actually touches, not fixes × fences (measured 243 s → 3.5 s " +
        "at 16M×64, Round5bStress).",
      graft.operators.Trajectory.geofenceEvents(fixes, col("user_id"),
        col("tus"), col("event_id"), col("lonm"), col("latm"),
        spark.range(0, 13).select(col("id").as("fence_id"),
          (graft.oracle.Derive.lonMicro(col("id")) - 250000L).as("lon_min"),
          (graft.oracle.Derive.latMicro(col("id")) - 250000L).as("lat_min"),
          (graft.oracle.Derive.lonMicro(col("id")) + 250000L).as("lon_max"),
          (graft.oracle.Derive.latMicro(col("id")) + 250000L).as("lat_max"))))

    dump("Convoy detection (q9b, round 5)",
      "Per-bin candidates via the co-location ring join (no all-pairs); the " +
        "together-set collapse is one (pair, bin) hash aggregate; the island " +
        "window, the (pair, island) run aggregate AND the final per-pair " +
        "aggregate share ONE pair-key exchange (each stage's keys refine the " +
        "previous partitioning).",
      graft.operators.Trajectory.convoyPairs(fixes, col("user_id"),
        col("tus"), col("lonm"), col("latm"), radiusMicro = 200000L,
        t0Us = 1704067200000000L, binUs = 259200000000L, nBins = 10,
        minRun = 3, level = 9))

    val ordersT = spark.read.parquet(s"$sf/orders.parquet")
    val hubPts = ordersT.select(
      (((col("o_orderkey") % 37L) * 2654435761L) % 340000000L - 170000000L
        + (col("o_orderkey") * 48271L) % 9000001L - 4500000L).as("lonm"),
      (((col("o_orderkey") % 37L) * 2246822519L) % 160000000L - 80000000L
        + ((col("o_orderkey") + 7L) * 16807L) % 9000001L - 4500000L).as("latm"))
    dump("Epanechnikov KDE raster (qa0, round 5)",
      "Collapse-then-scatter: points reach the raster in ONE exchange (the " +
        "partial-agg/Exchange pair on the cell key); the kernel disk is a " +
        "PRECOMPUTED literal array — Generate(explode) with zero per-row " +
        "weight arithmetic — and the second hash aggregate sums per target " +
        "cell. Cost after exchange one is raster-sized, independent of the " +
        "point count.",
      graft.operators.GridRaster.kde(hubPts, col("lonm"), col("latm"),
        cellMicro = 2000000L, bandwidthCells = 3))

    dump("Zonal majority/minority/variety (qa3, round 5)",
      "Reclassify is a codegen CASE ladder over the collapsed raster; the " +
        "zone assignment is the standard cover-cell BroadcastHashJoin on one " +
        "long key; the majority/minority argmins are min(struct) hash " +
        "aggregates over (zone, class) rows — no window sort anywhere.",
      graft.operators.GridRaster.zonalMajority(spark, hubPts, col("lonm"),
        col("latm"), cellMicro = 2000000L, thresholds = Seq(2L, 4L, 8L),
        specs = graft.oracle.Derive.rectSpecs))

    dump("Viterbi map matching (qa7, round 5)",
      "Fully lazy end-to-end: the shared candidatePairs cover-cell join " +
        "(segments explode radius-expanded bbox cells, points keep ONE " +
        "cell), a bounded per-fix collect_list, ONE entity exchange into " +
        "array_sort, and the DP is mapPartitions — no window, no driver " +
        "state, no second spatial exchange.",
      graft.operators.MapMatch.viterbiMatch(spark,
        ordersT.limit(600).select((col("o_orderkey") % 100L).as("ent"),
          expr("o_orderkey div 100").as("tus"), col("o_orderkey").as("oid"),
          col("o_orderkey").as("x"), col("o_orderkey").as("y")),
        col("ent"), col("tus"), col("oid"), col("x"), col("y"),
        ordersT.limit(100).select(col("o_orderkey").as("sid"),
          lit(0L).as("x1"), lit(0L).as("y1"),
          lit(100000L).as("x2"), lit(0L).as("y2")),
        col("sid"), col("x1"), col("y1"), col("x2"), col("y2"),
        radiusMicro = 40000L, level = 13, switchPenalty = 800000000L))

    Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
    println("wrote docs/PLANS.md")
    spark.stop()
  }
}
