package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators.{SpatialJoin, TextAnalysis}
import graft.oracle.{Derive, TextOracle}
import Shared._

/** Streaming queries: each runs a managed-state stream to completion and
  * is checked against the same twin as its batch counterpart.
  */
object StreamingQueries {
  val specs: Seq[QuerySpec] = Seq(
    // ---- STREAMING curation, parity-checked (§2 row J): the quality →
    //      repetition gate chain (incl. the stream-stream join) runs as a
    //      Structured Streaming job over a file source with
    //      Trigger.AvailableNow, lands in an IcebergLite table through the
    //      EXACTLY-ONCE foreachBatch sink (batchId inside the snapshot
    //      commit), and the query returns the TABLE read-back — so the
    //      oracle checks the whole stream→sink→snapshot path against the
    //      batch twin SQL (stream==batch for these map-only kernels is
    //      additionally spec-gated in EventStreamSpec).
    QuerySpec("q6g_stream_curate", (s, dir) => {
      import java.nio.file.{Files, Paths}
      // FileStreamSource wants a landing DIRECTORY; stage the single
      // input file into one (read-only testdata stays untouched)
      val staged = Files.createTempDirectory("graft_q6g_src")
      Files.copy(Paths.get(s"$dir/documents.parquet"),
        staged.resolve("documents-0.parquet"))
      val tbl = Files.createTempDirectory("graft_q6g_tbl").toString
      val ckpt = Files.createTempDirectory("graft_q6g_ck").toString
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema).parquet(staged.toString)
      val kept = TextAnalysis.quality(stream, col("doc_id"), col("text"))
        .where(col("keep")).select("doc_id")
      val curated = TextAnalysis.repetition(
          kept.join(stream.select(col("doc_id"), col("text")), "doc_id"),
          col("doc_id"), col("text"))
        .where(col("repetition_keep"))
        .select("doc_id", "n_grams", "dup_frac")
      val q = curated.writeStream
        .queryName("q6g")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(graft.streaming.EventStream.icebergBatchWriter(
          tbl, col("doc_id"), "q6g"))
        .start()
      q.awaitTermination()
      graft.sources.IcebergLite.read(s, tbl).orderBy("doc_id")
    },
      // batch twin of the streamed quality -> repetition curation chain (the
      // q51 keep gate composed with the q68 repetition gate)
      {
      val stopList = TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH ${TextOracle.toksCte()},
         |sc AS (SELECT d.doc_id AS doc_id, CAST(length(d.text) AS INTEGER) AS n_chars,
         |  CAST(len(t) AS INTEGER) AS n_tokens,
         |  CAST(length(regexp_replace(d.text, '[^A-Za-z]', '', 'g')) AS INTEGER) AS n_alpha,
         |  CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS INTEGER) AS n_tok_chars
         |  FROM documents d JOIN toks ON d.doc_id = toks.doc_id),
         |qm AS (SELECT doc_id,
         |  (n_tokens >= 10 AND n_tokens <= 100000
         |   AND CASE WHEN n_tokens > 0 THEN CAST(n_tok_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END >= 2.0
         |   AND CASE WHEN n_tokens > 0 THEN CAST(n_tok_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END <= 12.0
         |   AND CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END >= 0.5) AS keep
         |  FROM sc),
         |bg AS (SELECT doc_id, CASE WHEN len(t) >= 2
         |  THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
         |  ELSE CAST([] AS VARCHAR[]) END AS g FROM toks),
         |st AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams,
         |  CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
         |  CAST(coalesce(list_max(list_transform(list_distinct(g),
         |    x -> len(list_filter(g, y -> y = x)))), 0) AS BIGINT) AS top_cnt FROM bg),
         |rm AS (SELECT doc_id, n_grams,
         |  CASE WHEN n_grams > 0 THEN CAST(n_grams - n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE) ELSE 0.0 END AS dup_frac,
         |  CASE WHEN n_grams > 0 THEN CAST(top_cnt AS DOUBLE) / CAST(n_grams AS DOUBLE) ELSE 0.0 END AS top_frac
         |  FROM st)
         |SELECT rm.doc_id, rm.n_grams, rm.dup_frac
         |FROM qm JOIN rm ON qm.doc_id = rm.doc_id
         |WHERE qm.keep AND rm.dup_frac <= 0.05 AND rm.top_frac <= 0.06
         |ORDER BY rm.doc_id""".stripMargin
    }),
    // ---- STREAMING dedup-within-watermark (J): dropDuplicatesWithinWatermark
    //      state in front of the exactly-once Iceberg sink — the ingestion
    //      guard against re-delivered rows. THREE micro-batches
    //      (maxFilesPerTrigger=1) where every key arrives in MULTIPLE
    //      batches (c_custkey % 3 splits the files, % 500 makes the key),
    //      so only cross-batch dedup STATE — not per-batch distinct —
    //      reproduces the batch DISTINCT twin. Duplicate rows are
    //      byte-identical, so the survivor is order-independent.
    QuerySpec("q81_stream_dedup", (s, dir) => {
      import java.nio.file.Files
      val staged = Files.createTempDirectory("graft_q81_src")
      val tmp = Files.createTempDirectory("graft_q81_tmp").toString
      val cust = s.read.parquet(s"$dir/customer.parquet")
      def events(part: Int) = cust.where(col("c_custkey") % 3 === part)
        .select((col("c_custkey") % 500L).as("k"),
          expr("(c_custkey % 500) * 2654435761 % 1000000").as("payload"),
          to_timestamp(lit("2024-01-01 00:00:00")).as("ts"))
      (0 until 3).foreach { p =>
        events(p).coalesce(1).write.mode("overwrite").parquet(s"$tmp/p$p")
        val f = new java.io.File(s"$tmp/p$p").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.copy(f.toPath, staged.resolve(s"events-$p.parquet"))
      }
      val tbl = Files.createTempDirectory("graft_q81_tbl").toString
      val ckpt = Files.createTempDirectory("graft_q81_ck").toString
      val schema = events(0).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(staged.toString)
      val deduped = graft.streaming.EventStream.streamingDedup(stream, Seq("k"))
        .select("k", "payload")
      val q = deduped.writeStream
        .queryName("q81")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(graft.streaming.EventStream.icebergBatchWriter(
          tbl, col("k"), "q81"))
        .start()
      q.awaitTermination()
      graft.sources.IcebergLite.read(s, tbl).orderBy("k")
    },
      """SELECT DISTINCT c_custkey % 500 AS k,
        |  (c_custkey % 500) * 2654435761 % 1000000 AS payload
        |FROM customer ORDER BY k""".stripMargin),
    // ---- STREAMING stay points (q9c): the q99 semantics as managed state —
    //      one StayState per live entity across THREE micro-batches (global
    //      (tus, oid)-ordered tertile files, so runs span batch boundaries
    //      and only cross-batch state reproduces the batch twin), stays
    //      emitted exactly-once into the IcebergLite sink; a 4th flush file
    //      (past-horizon fix in the traffic-free corner cell) closes each
    //      entity's final run. Oracle IS the batch q99 SQL.
    QuerySpec("q9c_stream_stays", (s, dir) => {
      import java.nio.file.Files
      import s.implicits._
      val staged = Files.createTempDirectory("graft_q9c_src")
      val tmp = Files.createTempDirectory("graft_q9c_tmp").toString
      val hub = col("user_id") % 13L
      val tusC = unix_micros(col("ts").cast("timestamp"))
      val slot = expr("(unix_micros(cast(ts as timestamp)) " +
        "- 1704067200000000) div 259200000000")
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id").as("entity"), tusC.as("tus"),
        col("event_id").as("oid"),
        (Derive.lonMicro(hub)
          + ((col("user_id") * 31L + slot * 7L) * 48271L) % 600001L - 300000L
          + (col("event_id") * 7919L) % 200001L - 100000L).as("lon"),
        (Derive.latMicro(hub)
          + ((col("user_id") * 17L + slot * 11L) * 16807L) % 600001L - 300000L
          + ((col("event_id") + 3L) * 104729L) % 200001L - 100000L).as("lat"))
      val maxTus = ev.agg(max("tus")).as[Long].head()
      val w = org.apache.spark.sql.expressions.Window.orderBy("tus", "oid")
      val chunked = ev.withColumn("_c", ntile(3).over(w))
      (1 to 3).foreach { c =>
        chunked.where(col("_c") === c).drop("_c")
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/p$c")
        val f = new java.io.File(s"$tmp/p$c").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.copy(f.toPath, staged.resolve(s"fixes-$c.parquet"))
      }
      // flush: cell (0,0) is unreachable by the fixture (hub lon ≥ −171°),
      // so the flush breaks every final run and parks unemitted
      ev.select(col("entity")).distinct()
        .select(col("entity"), lit(maxTus + 1L).as("tus"), lit(-1L).as("oid"),
          lit(-179999999L).as("lon"), lit(-89999999L).as("lat"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/p4")
      val f4 = new java.io.File(s"$tmp/p4").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f4.toPath, staged.resolve(s"fixes-4.parquet"))
      val tbl = Files.createTempDirectory("graft_q9c_tbl").toString
      val ckpt = Files.createTempDirectory("graft_q9c_ck").toString
      val stream = s.readStream.schema(chunked.drop("_c").schema)
        .option("maxFilesPerTrigger", 1).parquet(staged.toString)
        .as[graft.streaming.EventStream.Fix]
      val stays = graft.streaming.EventStream.streamingStayPoints(stream,
        cellMicro = 400000L, minStayUs = 86400000000L, minFixes = 3L)
      val q = stays.toDF().writeStream
        .queryName("q9c")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(graft.streaming.EventStream.icebergBatchWriter(
          tbl, col("entity"), "q9c"))
        .start()
      q.awaitTermination()
      graft.sources.IcebergLite.read(s, tbl).orderBy("entity", "enter_us")
    },
      // the STREAMING stay detector must equal the batch operator over the
      // real fixes — same twin, by construction
      stayPointsOracleSql),
    // ---- STREAMING geofence alerting (q9e): the q9d semantics as managed
    //      state — the inside-set per live entity carried across THREE
    //      micro-batches; crossings emit on the batch where the crossing
    //      fix arrives (no flush file: a crossing is its own evidence).
    //      Exactly-once into the IcebergLite sink; oracle IS the batch SQL.
    QuerySpec("q9e_stream_geofence", (s, dir) => {
      import java.nio.file.Files
      val hub = col("user_id") % 13L
      val tusC = unix_micros(col("ts").cast("timestamp"))
      val slot = expr("(unix_micros(cast(ts as timestamp)) " +
        "- 1704067200000000) div 259200000000")
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id").as("entity"), tusC.as("tus"),
        col("event_id").as("oid"),
        (Derive.lonMicro(hub)
          + ((col("user_id") * 31L + slot * 7L) * 48271L) % 600001L - 300000L
          + (col("event_id") * 7919L) % 200001L - 100000L).as("lon"),
        (Derive.latMicro(hub)
          + ((col("user_id") * 17L + slot * 11L) * 16807L) % 600001L - 300000L
          + ((col("event_id") + 3L) * 104729L) % 200001L - 100000L).as("lat"))
      val staged = Files.createTempDirectory("graft_q9e_src")
      val tmp = Files.createTempDirectory("graft_q9e_tmp").toString
      val w = org.apache.spark.sql.expressions.Window.orderBy("tus", "oid")
      val chunked = ev.withColumn("_c", ntile(3).over(w))
      (1 to 3).foreach { c =>
        chunked.where(col("_c") === c).drop("_c")
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/p$c")
        val f = new java.io.File(s"$tmp/p$c").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.copy(f.toPath, staged.resolve(s"fixes-$c.parquet"))
      }
      val fences = (0L until 13L).map(j => (j,
        Derive.lonMicroL(j) - 250000L, Derive.latMicroL(j) - 250000L,
        Derive.lonMicroL(j) + 250000L, Derive.latMicroL(j) + 250000L)).toArray
      val tbl = Files.createTempDirectory("graft_q9e_tbl").toString
      val ckpt = Files.createTempDirectory("graft_q9e_ck").toString
      val stream = s.readStream.schema(chunked.drop("_c").schema)
        .option("maxFilesPerTrigger", 1).parquet(staged.toString)
        .as[graft.streaming.EventStream.Fix](
          org.apache.spark.sql.Encoders.product[graft.streaming.EventStream.Fix])
      val evts = graft.streaming.EventStream.streamingGeofence(stream, fences)
      val q = evts.toDF().writeStream
        .queryName("q9e")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(graft.streaming.EventStream.icebergBatchWriter(
          tbl, col("entity"), "q9e"))
        .start()
      q.awaitTermination()
      graft.sources.IcebergLite.read(s, tbl)
        .orderBy("entity", "fence_id", "tus")
    },
      // the STREAMING geofence must equal the batch operator — same twin
      geofenceOracleSql),
    // ---- Streaming hotspot ignition (qaa): the first streaming RASTER
    //      operator — per-cell cumulative counts across THREE staged
    //      micro-batches, ONE exactly-once event on the fix that crosses
    //      threshold 20 (74 of 102 cells ignite; late batches matter —
    //      only cross-batch state reproduces the batch row_number twin).
    QuerySpec("qaa_stream_hotspot", (s, dir) => {
      import java.nio.file.Files
      import s.implicits._
      val staged = Files.createTempDirectory("graft_qaa_src")
      val tmp = Files.createTempDirectory("graft_qaa_tmp").toString
      val hub = col("user_id") % 13L
      val tusC = unix_micros(col("ts").cast("timestamp"))
      val slot = expr("(unix_micros(cast(ts as timestamp)) " +
        "- 1704067200000000) div 259200000000")
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id").as("entity"), tusC.as("tus"),
        col("event_id").as("oid"),
        (Derive.lonMicro(hub)
          + ((col("user_id") * 31L + slot * 7L) * 48271L) % 600001L - 300000L
          + (col("event_id") * 7919L) % 200001L - 100000L).as("lon"),
        (Derive.latMicro(hub)
          + ((col("user_id") * 17L + slot * 11L) * 16807L) % 600001L - 300000L
          + ((col("event_id") + 3L) * 104729L) % 200001L - 100000L).as("lat"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("tus", "oid")
      val chunked = ev.withColumn("_c", ntile(3).over(w))
      (1 to 3).foreach { c =>
        chunked.where(col("_c") === c).drop("_c")
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/p$c")
        val f = new java.io.File(s"$tmp/p$c").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.copy(f.toPath, staged.resolve(s"fixes-$c.parquet"))
      }
      val tbl = Files.createTempDirectory("graft_qaa_tbl").toString
      val ckpt = Files.createTempDirectory("graft_qaa_ck").toString
      val stream = s.readStream.schema(chunked.drop("_c").schema)
        .option("maxFilesPerTrigger", 1).parquet(staged.toString)
        .as[graft.streaming.EventStream.Fix]
      val hot = graft.streaming.EventStream.streamingHotspots(stream,
        cellMicro = 400000L, threshold = 20L)
      val q = hot.toDF().writeStream
        .queryName("qaa")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(graft.streaming.EventStream.icebergBatchWriter(
          tbl, col("cx"), "qaa"))
        .start()
      q.awaitTermination()
      graft.sources.IcebergLite.read(s, tbl).orderBy("cx", "cy")
    },
      // batch twin: the threshold-th fix per cell in (tus, oid) order
      s"""WITH f AS (SELECT epoch_us(ts) AS tus, event_id AS oid,
         |  ${Derive.lonSql("(user_id % 13)")}
         |    + ((user_id * 31 + ((epoch_us(ts) - 1704067200000000)
         |        // 259200000000) * 7) * 48271) % 600001 - 300000
         |    + (event_id * 7919) % 200001 - 100000 AS lon,
         |  ${Derive.latSql("(user_id % 13)")}
         |    + ((user_id * 17 + ((epoch_us(ts) - 1704067200000000)
         |        // 259200000000) * 11) * 16807) % 600001 - 300000
         |    + ((event_id + 3) * 104729) % 200001 - 100000 AS lat
         |  FROM events),
         |c AS (SELECT (lon + 180000000) // 400000 AS cx,
         |    (lat + 90000000) // 400000 AS cy, tus, oid FROM f),
         |r AS (SELECT cx, cy, tus, oid, row_number() OVER (
         |    PARTITION BY cx, cy ORDER BY tus, oid) AS rn FROM c)
         |SELECT cx, cy, tus AS t_cross, oid AS oid_cross,
         |  CAST(20 AS BIGINT) AS n_at_cross
         |FROM r WHERE rn = 20 ORDER BY cx, cy""".stripMargin),
    // ---- STREAMING trajectory sessionization: the q82 semantics as managed
    //      state — one TripState record per live entity carried across THREE
    //      micro-batches (global (tus, oid) order split into tertile files,
    //      so trips span batch boundaries and only cross-batch state can
    //      reproduce the batch twin), completed trips emitted exactly-once
    //      into the IcebergLite sink; a 4th past-horizon flush file closes
    //      each entity's final trip. Identical fixed IEEE hop chain → the
    //      oracle is the SAME SQL as the batch q82.
    QuerySpec("q85_stream_trips", (s, dir) => {
      import java.nio.file.Files
      import s.implicits._
      val gapUs = 43200L * 1000000L
      val staged = Files.createTempDirectory("graft_q85_src")
      val tmp = Files.createTempDirectory("graft_q85_tmp").toString
      val ev = s.read.parquet(s"$dir/events.parquet").select(
        col("user_id").as("entity"),
        unix_micros(col("ts").cast("timestamp")).as("tus"),
        col("event_id").as("oid"),
        Derive.lonMicro(col("event_id")).as("lon"),
        Derive.latMicro(col("event_id")).as("lat"))
      val maxTus = ev.agg(max("tus")).as[Long].head()
      // fixture STAGING (not the operator): tertile files in global
      // (tus, oid) order so per-entity arrival order across micro-batches
      // matches the batch ordering; the single-partition window is staging-
      // only scaffolding
      val w = org.apache.spark.sql.expressions.Window.orderBy("tus", "oid")
      val chunked = ev.withColumn("_c", ntile(3).over(w))
      (1 to 3).foreach { c =>
        chunked.where(col("_c") === c).drop("_c")
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/p$c")
        val f = new java.io.File(s"$tmp/p$c").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.copy(f.toPath, staged.resolve(s"fixes-$c.parquet"))
      }
      // flush file: one past-horizon fix per entity closes its last trip
      // (the flush fix itself parks as an unemitted 1-fix trip in state)
      ev.select(col("entity")).distinct()
        .select(col("entity"), lit(maxTus + gapUs + 1L).as("tus"),
          lit(-1L).as("oid"), lit(0L).as("lon"), lit(0L).as("lat"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/p4")
      val f4 = new java.io.File(s"$tmp/p4").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f4.toPath, staged.resolve(s"fixes-4.parquet"))

      val tbl = Files.createTempDirectory("graft_q85_tbl").toString
      val ckpt = Files.createTempDirectory("graft_q85_ck").toString
      val stream = s.readStream.schema(chunked.drop("_c").schema)
        .option("maxFilesPerTrigger", 1).parquet(staged.toString)
        .as[graft.streaming.EventStream.Fix]
      val trips = graft.streaming.EventStream.streamingTrips(stream, gapUs)
      val q = trips.toDF().writeStream
        .queryName("q85")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(graft.streaming.EventStream.icebergBatchWriter(
          tbl, col("entity"), "q85"))
        .start()
      q.awaitTermination()
      graft.sources.IcebergLite.read(s, tbl).orderBy("entity", "trip_no")
    },
      // the STREAMING sessionization must equal the batch operator over the
      // real fixes — same twin, by construction
      tripsOracleSql),
    // ---- STREAMING geospatial ingest (J on axis A): the tile-assignment
    //      transform run as a Structured Streaming job over a 3-file landing
    //      directory with maxFilesPerTrigger=1 — THREE micro-batches, each
    //      committing one exactly-once IcebergLite snapshot (batchId inside
    //      the snapshot commit) — then a batch per-tile rollup of the
    //      ingested table. Oracle: the batch twin (q02's tile algebra +
    //      GROUP BY), which only matches if every row arrived exactly once
    //      across the multi-batch run.
    QuerySpec("q70_stream_tiles", (s, dir) => {
      import java.nio.file.{Files, Paths}
      val staged = Files.createTempDirectory("graft_q70_src")
      val tmp = Files.createTempDirectory("graft_q70_tmp").toString
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"),
          Derive.lonMicro(col("o_orderkey")).as("lonm"),
          Derive.latMicro(col("o_orderkey")).as("latm"))
      orders.repartition(3).write.parquet(s"$tmp/split")
      new java.io.File(s"$tmp/split").listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          Files.copy(f.toPath, staged.resolve(s"f$i.parquet")) }
      val tbl = Files.createTempDirectory("graft_q70_tbl").toString
      val ckpt = Files.createTempDirectory("graft_q70_ck").toString
      val stream = s.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      val tiled = SpatialJoin.assignTiles(stream, col("lonm"), col("latm"), 8)
        .select("o_orderkey", "tile_z", "tile_x", "tile_y")
      val q = tiled.writeStream
        .queryName("q70")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(graft.streaming.EventStream.icebergBatchWriter(
          tbl, col("o_orderkey"), "q70"))
        .start()
      q.awaitTermination()
      graft.sources.IcebergLite.read(s, tbl)
        .groupBy("tile_z", "tile_x", "tile_y")
        .agg(count(lit(1)).as("n_points"))
        .orderBy("tile_x", "tile_y")
    },
      s"""WITH pts AS (SELECT o_orderkey, ${Derive.lonSql("o_orderkey")} AS lonm,
         |  ${Derive.latSql("o_orderkey")} AS latm FROM orders)
         |SELECT 8 AS tile_z,
         |  ((lonm + 180000000) * 256) // 360000000 AS tile_x,
         |  ((90000000 - latm) * 256) // 180000000 AS tile_y,
         |  count(*) AS n_points
         |FROM pts GROUP BY 1, 2, 3 ORDER BY tile_x, tile_y""".stripMargin),
    // ---- J+A1 streaming WRITE-AUDIT-PUBLISH: micro-batches commit to a
    //      BRANCH (exactly-once, batchId inside each branch snapshot) while
    //      main serves only audited data; main even moves mid-window (MoR
    //      delete of %10==1 odds) and the publish cherry-picks the whole
    //      ingest window — markers carried — in ONE commit.
    QuerySpec("q7k_stream_wap", (s, dir) => {
      import java.nio.file.Files
      val staged = Files.createTempDirectory("graft_q7k_src")
      val tmp = Files.createTempDirectory("graft_q7k_tmp").toString
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"),
          Derive.lonMicro(col("o_orderkey")).as("lonm"),
          Derive.latMicro(col("o_orderkey")).as("latm"))
      orders.where(col("o_orderkey") % 2 === 0).repartition(3)
        .write.parquet(s"$tmp/split")
      new java.io.File(s"$tmp/split").listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          Files.copy(f.toPath, staged.resolve(s"f$i.parquet")) }
      val tbl = Files.createTempDirectory("graft_q7k_tbl").toString
      val ckpt = Files.createTempDirectory("graft_q7k_ck").toString
      val key = col("o_orderkey")
      graft.sources.IcebergLite.append(s, tbl,
        orders.where(col("o_orderkey") % 2 === 1), key) // v1 main: odds
      graft.sources.IcebergLite.createBranch(tbl, "ingest")
      val stream = s.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      val q = stream.writeStream
        .queryName("q7k")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(graft.streaming.EventStream.icebergBranchBatchWriter(
          tbl, "ingest", key, "q7k"))
        .start()
      q.awaitTermination()
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl,
        col("o_orderkey") % 10 === 1, "o_orderkey") // main moves mid-audit
      graft.sources.IcebergLite.publishBranch(tbl, "ingest") // cherry-pick
      graft.sources.IcebergLite.read(s, tbl)
        .select("o_orderkey", "lonm").orderBy("o_orderkey")
    },
      s"""SELECT o_orderkey, ${Derive.lonSql("o_orderkey")} AS lonm
         |FROM orders WHERE o_orderkey % 10 <> 1 ORDER BY o_orderkey""".stripMargin),
  )
}
