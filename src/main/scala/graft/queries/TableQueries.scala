package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.api.Reducer
import graft.oracle.Derive
import Shared._

/** Table-layer queries: the Iceberg-shaped snapshot/delete/branch verbs,
  * the Reducer aggregates, temporal joins, the filter DSL and the
  * contribution classifiers.
  */
object TableQueries {
  /** Weekly snapshot instants via the ISO interval+period expander (B3 —
    * the reference's `timestamps("2024-01-08","2024-01-29","P7D")`).
    */
  private val snapTimes = graft.api.Timestamps.expandStrings(
    "2024-01-08", "2024-01-29", "P7D")

  val specs: Seq[QuerySpec] = Seq(
    // ---- A1: Iceberg-shaped table layer — two-snapshot append + current
    //      read must equal the plain source (snapshot/commit machinery
    //      proven equivalent; time travel + pruning gated in IcebergLiteSpec)
    QuerySpec("q0b_iceberg_scan", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q0b").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |${Derive.latSql("c_custkey")} AS latm
         |FROM customer ORDER BY c_custkey""".stripMargin),
    // ---- A1 terminal verb: copy-on-write row-level DELETE — two appends,
    //      then delete-by-predicate producing a third snapshot; the current
    //      read must equal the oracle's anti-filter. Untouched-file reuse +
    //      time travel across the delete are gated in IcebergLiteSpec.
    QuerySpec("q0h_iceberg_delete", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q0h").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.deleteWhere(s, tbl, col("c_custkey") % 10 === 3, key)
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |${Derive.latSql("c_custkey")} AS latm
         |FROM customer WHERE NOT c_custkey % 10 = 3 ORDER BY c_custkey""".stripMargin),
    // ---- A1 layout maintenance: many micro-batch appends → one compaction
    //      rewrite (bin-pack + cluster on the zcell stats key). Rows must be
    //      IDENTICAL to the plain source — compaction changes layout only.
    //      File-count reduction + pruning improvement gated in IcebergLiteSpec.
    QuerySpec("q0m_iceberg_compact", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q0m").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      (0 until 6).foreach { i =>
        graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 6 === i), key)
      }
      graft.sources.IcebergLite.compact(s, tbl, targetFileRows = 600L)
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |${Derive.latSql("c_custkey")} AS latm
         |FROM customer ORDER BY c_custkey""".stripMargin),
    // ---- A1 incremental read: rows of data files ADDED between two
    //      snapshots (the downstream-consumer "what arrived since v1" verb).
    //      Three appends split by c_custkey%3; changes v1→v3 = splits 1,2.
    QuerySpec("q72_iceberg_changes", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q72").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      (0 until 3).foreach { i =>
        graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 3 === i), key)
      }
      graft.sources.IcebergLite.readChanges(s, tbl, fromVersion = 1)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |${Derive.latSql("c_custkey")} AS latm
         |FROM customer WHERE c_custkey % 3 IN (1, 2) ORDER BY c_custkey""".stripMargin),
    // ---- A1 maintenance: snapshot expiration + orphan-file removal after
    //      a compaction rewrite — history bounded, current rows unchanged
    //      (the oracle is the full row set; IcebergLiteSpec gates the
    //      physical deletes and the retained-window time travel).
    QuerySpec("q73_iceberg_expire", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q73").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      (0 until 6).foreach { i =>
        graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 6 === i), key)
      }
      graft.sources.IcebergLite.compact(s, tbl, targetFileRows = 600L)
      graft.sources.IcebergLite.expireSnapshots(tbl, retainLast = 1)
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |${Derive.latSql("c_custkey")} AS latm
         |FROM customer ORDER BY c_custkey""".stripMargin),
    // ---- A1 merge-on-read DELETE (Iceberg v2 equality deletes): the
    //      100 TB point-delete shape — a delete commit writes only the
    //      matched keys (no data-file rewrite; spec-gated), readers
    //      anti-merge at scan time, and compact folds the delete debt.
    //      Read after fold must equal the plain anti-filter.
    QuerySpec("q76_iceberg_mor_delete", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q76").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl, col("c_custkey") % 10 === 3, "c_custkey")
      graft.sources.IcebergLite.compact(s, tbl) // folds the delete files
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |${Derive.latSql("c_custkey")} AS latm
         |FROM customer WHERE NOT c_custkey % 10 = 3 ORDER BY c_custkey""".stripMargin),
    // ---- A1 POSITION delete (Iceberg v2's second delete-file kind): the
    //      predicate runs on a NON-key column (latm), so an equality delete
    //      would first have to materialize keys — the position delete
    //      records (file, row-position) pairs directly. Sequence rule for
    //      free: the re-appended %7==2 evens are byte-identical to deleted
    //      rows yet survive (their file postdates the delete). An equality
    //      delete stacks on top (mixed generations), compact folds both.
    QuerySpec("q7i_iceberg_pos_delete", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7i").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts, key)
      graft.sources.IcebergLite.deleteWhereMoRPos(s, tbl, col("c_custkey") % 7 === 2)
      graft.sources.IcebergLite.append(s, tbl,
        pts.where(col("c_custkey") % 7 === 2 && col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl,
        col("c_custkey") % 10 === 5, "c_custkey")
      graft.sources.IcebergLite.compact(s, tbl) // folds both delete kinds
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm").orderBy("c_custkey")
    },
      s"""WITH merged AS (
         |  SELECT c_custkey FROM customer WHERE c_custkey % 7 <> 2
         |  UNION ALL
         |  SELECT c_custkey FROM customer
         |  WHERE c_custkey % 7 = 2 AND c_custkey % 2 = 0)
         |SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm
         |FROM merged WHERE c_custkey % 10 <> 5 ORDER BY c_custkey""".stripMargin),
    // ---- A1 layout migration: Z-ORDER SORT REWRITE + file-skipping bbox
    //      scan (Iceberg's rewrite_data_files strategy=sort, zorder(lon,lat)).
    //      Ingest lands round-robin (every file spans ~the whole z-range:
    //      zero skipping possible), one rewriteClustered re-sorts the table
    //      on the Morton z-key, then a bbox query plans from the MANIFEST:
    //      pruneRead keeps only files whose [min,max] z-range meets the
    //      bbox's cover cells — the scan never opens the rest. require()
    //      proves skipping actually happened; values oracle against the
    //      plain bbox filter. Skip-ratio scaling gated in IcebergLiteSpec.
    QuerySpec("q7l_zorder_prune", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7l").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 8)
      graft.sources.IcebergLite.append(s, tbl, pts.repartition(8), key)
      graft.sources.IcebergLite.rewriteClustered(s, tbl, key, targetFileRows = 256L)
      val bbox = graft.core.BBoxM(10000000L, 5000000L, 80000000L, 60000000L)
      val cells = graft.core.ZGrid.bboxCells(8, bbox)
        .map { case (x, y) => graft.core.Morton.encode(x, y) }.toSet
      val (scan, kept, total) = graft.sources.IcebergLite.pruneRead(s, tbl, cells)
      require(kept < total, s"z-order pruning must skip files (kept=$kept of $total)")
      scan.where(col("lonm").between(10000000L, 80000000L) &&
                 col("latm").between(5000000L, 60000000L))
        .agg(count(lit(1)).as("n_pts"), sum(col("c_custkey")).as("sum_key"))
    },
      s"""SELECT CAST(count(*) AS BIGINT) AS n_pts,
         |  CAST(sum(c_custkey) AS BIGINT) AS sum_key
         |FROM customer
         |WHERE ${Derive.lonSql("c_custkey")} BETWEEN 10000000 AND 80000000
         |  AND ${Derive.latSql("c_custkey")} BETWEEN 5000000 AND 60000000""".stripMargin),
    // ---- A1 replication: incremental table-to-table SYNC (Iceberg
    //      streaming read + exactly-once sink): bootstrap full snapshot,
    //      then ship only appended files; the consumed source version is
    //      the stream marker INSIDE each destination commit, so the replay
    //      call between syncs is a provable no-op (a double-apply would
    //      double rows and fail the oracle hash).
    QuerySpec("q7n_incremental_sync", (s, dir) => {
      val src = java.nio.file.Files.createTempDirectory("graft_iclite_q7n_src").toString
      val dst = java.nio.file.Files.createTempDirectory("graft_iclite_q7n_dst").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, src, pts.where(col("c_custkey") % 3 === 0), key)
      graft.sources.IcebergLite.append(s, src, pts.where(col("c_custkey") % 3 === 1), key)
      graft.sources.IcebergLite.syncIncremental(s, src, dst, key, "rep") // bootstrap
      graft.sources.IcebergLite.syncIncremental(s, src, dst, key, "rep") // replay no-op
      graft.sources.IcebergLite.append(s, src, pts.where(col("c_custkey") % 3 === 2), key)
      graft.sources.IcebergLite.syncIncremental(s, src, dst, key, "rep") // increment
      graft.sources.IcebergLite.read(s, dst)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |  ${Derive.latSql("c_custkey")} AS latm
         |FROM customer ORDER BY c_custkey""".stripMargin),
    // ---- A1 CDC MIRROR: full replication incl. MoR deletes, applied IN
    //      VERSION ORDER (delete-then-re-append must survive — a naive
    //      all-inserts-then-all-deletes replay fails this exact workload).
    //      Bootstrap after v1, then the walk applies append/delete/append/
    //      delete/re-append; mirror read == source read == oracle.
    QuerySpec("q7s_cdc_mirror", (s, dir) => {
      val src = java.nio.file.Files.createTempDirectory("graft_iclite_q7s_src").toString
      val dst = java.nio.file.Files.createTempDirectory("graft_iclite_q7s_dst").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      val I = graft.sources.IcebergLite
      I.append(s, src, pts.where(col("c_custkey") % 2 === 1), key)      // v1 odds
      I.syncCdcMirror(s, src, dst, key, "cdc")                          // bootstrap
      I.deleteWhereMoR(s, src, col("c_custkey") % 10 === 1, "c_custkey") // v2
      I.append(s, src, pts.where(col("c_custkey") % 2 === 0), key)      // v3 evens
      I.deleteWhereMoR(s, src, col("c_custkey") % 10 === 2, "c_custkey") // v4
      I.append(s, src, pts.where(col("c_custkey") % 10 === 1), key)     // v5 re-append
      I.syncCdcMirror(s, src, dst, key, "cdc")                          // walk v2..v5
      I.syncCdcMirror(s, src, dst, key, "cdc")                          // replay no-op
      I.read(s, dst).select("c_custkey", "lonm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm
         |FROM customer
         |WHERE c_custkey % 2 = 1
         |   OR (c_custkey % 2 = 0 AND c_custkey % 10 <> 2)
         |ORDER BY c_custkey""".stripMargin),
    // ---- A1 metadata tables: the table's own manifest AS a DataFrame
    //      (Iceberg's table$history) — commit lineage + exact row/delete
    //      counters per version, zero data-file I/O. The verb chain is
    //      append/append/MoR-delete/compact; the oracle recomputes each
    //      version's counters from the raw table.
    QuerySpec("q7j_iceberg_history", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7j").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl,
        col("c_custkey") % 10 === 3, "c_custkey")
      graft.sources.IcebergLite.compact(s, tbl)
      graft.sources.IcebergLite.historyTable(s, tbl)
        .select("version", "data_rows", "delete_rows").orderBy("version")
    },
      s"""WITH c AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ev,
         |  CAST(sum(CASE WHEN c_custkey % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS del
         |  FROM customer)
         |SELECT 1 AS version, ev AS data_rows, CAST(0 AS BIGINT) AS delete_rows FROM c
         |UNION ALL SELECT 2, n, CAST(0 AS BIGINT) FROM c
         |UNION ALL SELECT 3, n, del FROM c
         |UNION ALL SELECT 4, n - del, CAST(0 AS BIGINT) FROM c
         |ORDER BY version""".stripMargin),
    // ---- A1 schema evolution: addColumn is a metadata-only commit; files
    //      written before it read back with the column null-backfilled,
    //      files after carry it physically — one scan crosses the
    //      evolution boundary (per-snapshot schema travel spec-gated).
    QuerySpec("q77_iceberg_evolve", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q77").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.addColumn(s, tbl, "flag", "BIGINT")
      graft.sources.IcebergLite.append(s, tbl,
        pts.where(col("c_custkey") % 2 === 1).withColumn("flag", col("c_custkey") % 5), key)
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm", "flag").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |CASE WHEN c_custkey % 2 = 1 THEN c_custkey % 5 ELSE NULL END AS flag
         |FROM customer ORDER BY c_custkey""".stripMargin),
    // ---- A1 full schema-evolution verb set: RENAME (old files read-mapped
    //      via the col-op ledger, zero data files touched), DROP, and
    //      re-ADD of a dropped name (pre-re-add files read NULL — dropped
    //      data never resurrects, the Iceberg field-id rule). The output
    //      mixes all three epochs in one scan.
    QuerySpec("q80_iceberg_rename", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q80").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      val I = graft.sources.IcebergLite
      // epoch 1: evens, columns (c_custkey, lonm, latm)
      I.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      I.renameColumn(s, tbl, "lonm", "lon_micro")
      I.dropColumn(s, tbl, "latm")
      // epoch 2: odds %4==1 under the renamed/narrowed schema
      I.append(s, tbl, pts.where(col("c_custkey") % 4 === 1)
        .withColumnRenamed("lonm", "lon_micro").drop("latm"), col("lon_micro"))
      // re-add the dropped name: epoch-1 files must read it as NULL
      I.addColumn(s, tbl, "latm", "BIGINT")
      // epoch 3: odds %4==3 with real latm values again
      I.append(s, tbl, pts.where(col("c_custkey") % 4 === 3)
        .withColumnRenamed("lonm", "lon_micro"), col("lon_micro"))
      I.read(s, tbl).select("c_custkey", "lon_micro", "latm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lon_micro,
         |  CASE WHEN c_custkey % 4 = 3 THEN ${Derive.latSql("c_custkey")}
         |       ELSE NULL END AS latm
         |FROM customer ORDER BY c_custkey""".stripMargin),
    // ---- A1 CHANGELOG scan (CDC): inserts from window-appended files +
    //      full-content delete rows restored from the pre-delete snapshot
    //      (version d.seq−1 ⋉ delete keys). from=v1 here, so the odd-key
    //      append is the insert set and EVERY %10==3 row (evens included —
    //      they predate the window) is a delete event; odd %10==3 rows
    //      emit BOTH events, the standard changelog double-event contract.
    QuerySpec("q7c_iceberg_cdc", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7c").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl, col("c_custkey") % 10 === 3, "c_custkey")
      graft.sources.IcebergLite.readChangesCdc(s, tbl, 1)
        .select("c_custkey", "lonm", "_change_type")
        .orderBy("c_custkey", "_change_type")
    },
      s"""WITH ev AS (SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |  'insert' AS _change_type FROM customer WHERE c_custkey % 2 = 1
         |  UNION ALL
         |  SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |  'delete' AS _change_type FROM customer WHERE c_custkey % 10 = 3)
         |SELECT * FROM ev ORDER BY c_custkey, _change_type""".stripMargin),
    // ---- A1 ROLLBACK verb: a bad MoR delete (%10==3) is undone by
    //      rollbackTo(v2) — a pure metadata commit restoring v2's exact
    //      file/delete/schema state — then writes continue on the restored
    //      line (a correct MoR delete of %10==7). Read = all customers
    //      minus %10==7: the undone delete leaves NO trace, the new one
    //      applies. Timestamp travel + no-data-file-writes are spec-gated.
    QuerySpec("q7e_iceberg_rollback", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7e").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl, col("c_custkey") % 10 === 3, "c_custkey")
      graft.sources.IcebergLite.rollbackTo(tbl, 2)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl, col("c_custkey") % 10 === 7, "c_custkey")
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm
         |FROM customer WHERE c_custkey % 10 <> 7 ORDER BY c_custkey""".stripMargin),
    // ---- A1 WRITE-AUDIT-PUBLISH: the 100 TB ingestion audit gate. Odd
    //      customers are STAGED (invisible to the table), audited by
    //      version, then published by fast-forward; a second stage (every
    //      11th customer cloned under key+1000000) publishes by CHERRY-PICK
    //      because main moved during its audit (a MoR delete of %10==3).
    //      Cherry-picked files re-sequence AFTER the delete, so no clone
    //      loses rows to it — and the delete keys were collected before the
    //      clones existed, so the final table is (all customers − %10==3)
    //      + all clones. Stage-invisibility, pointer-only fast-forward, and
    //      the schema/append-only cherry-pick guards are spec-gated.
    QuerySpec("q7f_iceberg_wap", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7f").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      val st1 = graft.sources.IcebergLite.stageAppend(s, tbl,
        pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.publish(tbl, st1) // fast-forward
      val st2 = graft.sources.IcebergLite.stageAppend(s, tbl,
        pts.where(col("c_custkey") % 11 === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000L), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl,
        col("c_custkey") % 10 === 3, "c_custkey") // main moves mid-audit
      graft.sources.IcebergLite.publish(tbl, st2) // cherry-pick
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm").orderBy("c_custkey")
    },
      s"""WITH merged AS (
         |  SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm
         |  FROM customer WHERE c_custkey % 10 <> 3
         |  UNION ALL
         |  SELECT c_custkey + 1000000, ${Derive.lonSql("c_custkey")} AS lonm
         |  FROM customer WHERE c_custkey % 11 = 0)
         |SELECT c_custkey, lonm FROM merged ORDER BY c_custkey""".stripMargin),
    // ---- A1 TAG: the reproducible-training-corpus pin. Even customers
    //      land in v1 and get tagged "train-v1"; the table then moves on
    //      (odd append, MoR delete, compact fold) and old snapshots are
    //      expired with retainLast=1 — yet the tag still reads EXACTLY the
    //      v1 corpus, because expiration never reclaims a ref target.
    QuerySpec("q7g_iceberg_tag", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7g").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.tag(tbl, "train-v1")
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl,
        col("c_custkey") % 10 === 3, "c_custkey")
      graft.sources.IcebergLite.compact(s, tbl)
      graft.sources.IcebergLite.expireSnapshots(tbl, retainLast = 1)
      graft.sources.IcebergLite.readTag(s, tbl, "train-v1")
        .select("c_custkey", "lonm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm
         |FROM customer WHERE c_custkey % 2 = 0 ORDER BY c_custkey""".stripMargin),
    // ---- A1 BRANCH: multi-commit write-audit-publish. Base = evens;
    //      branch "ingest" appends odds, then RE-APPENDS the %10==4 evens
    //      (same keys); main moves mid-audit with a MoR delete of %10==4.
    //      publishBranch cherry-picks BOTH branch commits re-sequenced
    //      AFTER the delete, so the re-appended rows survive it — the
    //      final table is exactly all customers, each once.
    QuerySpec("q7h_iceberg_branch", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q7h").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.createBranch(tbl, "ingest")
      graft.sources.IcebergLite.appendToBranch(s, tbl, "ingest",
        pts.where(col("c_custkey") % 2 === 1), key)
      graft.sources.IcebergLite.appendToBranch(s, tbl, "ingest",
        pts.where(col("c_custkey") % 10 === 4), key)
      graft.sources.IcebergLite.deleteWhereMoR(s, tbl,
        col("c_custkey") % 10 === 4, "c_custkey") // main moves mid-audit
      graft.sources.IcebergLite.publishBranch(tbl, "ingest") // cherry-pick
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm").orderBy("c_custkey")
    },
      s"""SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm
         |FROM customer ORDER BY c_custkey""".stripMargin),
    // ---- A1 upsert verb: copy-on-write MERGE — updates shift lon for every
    //      7th customer, inserts clone every 11th under a shifted key; only
    //      files holding matched keys rewrite (gated in IcebergLiteSpec).
    QuerySpec("q0n_iceberg_merge", (s, dir) => {
      val tbl = java.nio.file.Files.createTempDirectory("graft_iclite_q0n").toString
      val pts = customerPts(s, dir)
      val key = graft.functions.GraftFunctions.zcell(col("lonm"), col("latm"), 12)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 0), key)
      graft.sources.IcebergLite.append(s, tbl, pts.where(col("c_custkey") % 2 === 1), key)
      val upserts = pts.where(col("c_custkey") % 7 === 0)
          .withColumn("lonm", col("lonm") + 1000L)
        .unionByName(pts.where(col("c_custkey") % 11 === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000L))
      graft.sources.IcebergLite.merge(s, tbl, upserts, "c_custkey", key)
      graft.sources.IcebergLite.read(s, tbl)
        .select("c_custkey", "lonm", "latm").orderBy("c_custkey")
    },
      s"""WITH base AS (SELECT c_custkey, ${Derive.lonSql("c_custkey")} AS lonm,
         |  ${Derive.latSql("c_custkey")} AS latm FROM customer),
         |merged AS (
         |  SELECT c_custkey, lonm, latm FROM base WHERE NOT c_custkey % 7 = 0
         |  UNION ALL SELECT c_custkey, lonm + 1000, latm FROM base WHERE c_custkey % 7 = 0
         |  UNION ALL SELECT c_custkey + 1000000, lonm, latm FROM base WHERE c_custkey % 11 = 0)
         |SELECT c_custkey, lonm, latm FROM merged ORDER BY c_custkey""".stripMargin),
    // ---- D1/D12: count with nested (two-level) index
    QuerySpec("q10_count_nested", (s, dir) => {
      Reducer.on(s.read.parquet(s"$dir/lineitem.parquet"))
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .aggregateBy("l_linestatus", col("l_linestatus"))
        .count("cnt").orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt FROM lineitem
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // ---- D2: sum (exact decimal accumulation → double)
    QuerySpec("q11_sum", (s, dir) => {
      Reducer.on(s.read.parquet(s"$dir/lineitem.parquet"))
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .sum(col("l_quantity"), "sum_qty").orderBy("l_returnflag")
    },
      """SELECT l_returnflag, CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- D3: average
    QuerySpec("q12_avg", (s, dir) => {
      Reducer.on(s.read.parquet(s"$dir/lineitem.parquet"))
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .average(col("l_quantity"), "avg_qty").orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
        |CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) / count(l_quantity) AS avg_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- D4: weighted average (Σwx/Σw)
    QuerySpec("q13_weighted_avg", (s, dir) => {
      Reducer.on(s.read.parquet(s"$dir/lineitem.parquet"))
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .weightedAverage(col("l_extendedprice"), col("l_quantity"), "wavg_price")
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
        |CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(27,6))) AS DOUBLE)
        | / CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS wavg_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- D5: uniq (exact distinct set, surfaced as rows)
    QuerySpec("q14_uniq", (s, dir) => {
      Reducer.on(s.read.parquet(s"$dir/orders.parquet"))
        .aggregateBy("o_orderstatus", col("o_orderstatus"))
        .uniq(col("o_orderpriority"), "priority")
        .orderBy("o_orderstatus", "priority")
    },
      """SELECT DISTINCT o_orderstatus, o_orderpriority AS priority FROM orders
        |ORDER BY o_orderstatus, priority""".stripMargin),
    // ---- D6: countUniq (exact distinct count)
    QuerySpec("q15_count_uniq", (s, dir) => {
      Reducer.on(s.read.parquet(s"$dir/lineitem.parquet"))
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .countUniq(col("l_partkey"), "n_parts").orderBy("l_returnflag")
    },
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts FROM lineitem
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- D9+zerofill: timestamp-keyed count with empty buckets filled
    QuerySpec("q16_zerofill_month", (s, dir) => {
      val fo = s.read.parquet(s"$dir/orders.parquet").where(col("o_orderkey") % 97 === 0)
      val r = Reducer.on(fo).aggregateByTimestamp("month", col("o_orderdate"), "month")
      val counted = r.count("cnt")
      val domain = fo.agg(date_trunc("month", min("o_orderdate")).as("lo"),
          date_trunc("month", max("o_orderdate")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 month"))).as("m"))
        .select(date_format(col("m"), "yyyy-MM-dd HH:mm:ss").as("month"))
      r.zerofill(counted, domain, Map("cnt" -> lit(0L))).orderBy("month")
    },
      """WITH fo AS (SELECT * FROM orders WHERE o_orderkey % 97 = 0),
        |b AS (SELECT date_trunc('month', min(o_orderdate)) AS lo,
        |             date_trunc('month', max(o_orderdate)) AS hi FROM fo),
        |d AS (SELECT strftime(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)), '%Y-%m-%d %H:%M:%S') AS month FROM b),
        |c AS (SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d %H:%M:%S') AS month,
        |      count(*) AS cnt FROM fo GROUP BY 1)
        |SELECT d.month AS month, coalesce(c.cnt, 0) AS cnt
        |FROM d LEFT JOIN c USING(month) ORDER BY month""".stripMargin),
    // ---- D-extra: hierarchical rollup (grouping sets — free via Catalyst,
    //      noted in SURVEY §2.D; exposed for completeness)
    QuerySpec("q23_rollup", (s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"), col("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |coalesce(l_linestatus, 'ALL') AS l_linestatus, count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    // ---- D7: exact quantiles (reference: estimatedMedian/Quantiles via t-digest)
    QuerySpec("q17_quantiles", (s, dir) => {
      Reducer.on(s.read.parquet(s"$dir/lineitem.parquet"))
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .quantile(col("l_quantity"), 0.5, "median_qty").orderBy("l_returnflag")
    },
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- D7 plural: estimatedQuantiles(qs) — exact multi-quantile list
    QuerySpec("q22_quantiles_multi", (s, dir) => {
      // Flat double columns (not an array) — the parity check's pandas
      // hasher can't sort array cells (round-1 q22 err).
      Reducer.on(s.read.parquet(s"$dir/lineitem.parquet"))
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .quantiles(col("l_quantity"), Seq(0.25, 0.5, 0.75), "qs")
        .select(col("l_returnflag"),
          element_at(col("qs"), 1).as("q25"),
          element_at(col("qs"), 2).as("q50"),
          element_at(col("qs"), 3).as("q75"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.25) AS q25,
        |quantile_cont(l_quantity, 0.5) AS q50, quantile_cont(l_quantity, 0.75) AS q75
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- D7 at scale: mergeable KLL quantile sketch. ORACLED via a
    //      parity-checkable rank bound: the estimate's EXACT rank (computed
    //      in Spark over the same data) must sit within 0.5 ± 0.02 — the
    //      KLL k=200 guarantee KllSpec gates; the oracle recomputes n and
    //      asserts the same boolean, so a sketch drifting out of its
    //      guarantee turns this row red in the parity check.
    QuerySpec("q24_sketch_quantile", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val est = Reducer.on(li)
        .aggregateBy("l_returnflag", col("l_returnflag"))
        .sketchQuantile(col("l_quantity"), 0.5, "median_est")
      li.join(broadcast(est), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("l_quantity") < col("median_est"), 1L).otherwise(0L)).as("_lt"),
          sum(when(col("l_quantity") <= col("median_est"), 1L).otherwise(0L)).as("_le"))
        .select(col("l_returnflag"), col("n_rows"),
          (col("_le").cast("double") >= lit(0.48) * col("n_rows").cast("double") &&
           col("_lt").cast("double") <= lit(0.52) * col("n_rows").cast("double"))
            .as("within_bound"))
        .orderBy("l_returnflag")
    },
      // sketch bound rows: the oracle recomputes the exact aggregates and
      // asserts the guarantee booleans the Spark side derived from the sketch
      """SELECT l_returnflag, count(*) AS n_rows, TRUE AS within_bound
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- C3: as-of join — entity state valid at each snapshot timestamp
    QuerySpec("q18_snapshot_asof", (s, dir) => {
      import s.implicits._
      val snaps = snapTimes.toDF("snap_ts")
      val ev = s.read.parquet(s"$dir/events.parquet")
      val w = Window.partitionBy("snap_ts", "user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      ev.join(snaps, col("ts") <= to_timestamp(col("snap_ts")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("snap_ts"), col("user_id"), col("value").as("last_value"))
        .orderBy("snap_ts", "user_id")
    }, {
      val snapList = snapTimes.map(t => s"'$t'").mkString("[", ", ", "]")
      s"""WITH snaps AS (SELECT unnest($snapList) AS snap_ts),
         |cand AS (SELECT s.snap_ts AS snap_ts, e.user_id, e.value,
         |  row_number() OVER (PARTITION BY s.snap_ts, e.user_id
         |                     ORDER BY e.ts DESC, e.event_id DESC) AS rn
         |  FROM events e JOIN snaps s ON e.ts <= CAST(s.snap_ts AS TIMESTAMP))
         |SELECT snap_ts, user_id, value AS last_value FROM cand WHERE rn = 1
         |ORDER BY snap_ts, user_id""".stripMargin
    }),
    // ---- C3 general form: interval × instant temporal join (entity
    //      validity containment) via time-bin bucketing — equi-join on bin,
    //      exact epoch-second containment filter, no dedupe needed
    QuerySpec("q33_interval_join", (s, dir) => {
      import s.implicits._
      val ev = s.read.parquet(s"$dir/events.parquet")
      val intervals = ev.select(col("event_id"), col("ts").as("t_start"),
        // deterministic validity length: 1..7 hours by event id
        (col("ts").cast("timestamp").cast("long") + (col("event_id") % 7 + 1) * 3600L)
          .cast("timestamp").as("t_end"))
      val snaps = snapTimes.toDF("snap_ts")
        .withColumn("snap", to_timestamp(col("snap_ts")))
      graft.operators.TemporalJoin.intervalInstantJoin(
          intervals, col("t_start"), col("t_end"), snaps, col("snap"))
        .select(col("snap_ts"), col("event_id"))
        .orderBy("snap_ts", "event_id")
    }, {
      val snapList = snapTimes.map(t => s"'$t'").mkString("[", ", ", "]")
      s"""WITH snaps AS (SELECT unnest($snapList) AS snap_ts),
         |iv AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         |  CAST(floor(epoch(ts)) AS BIGINT) + (event_id % 7 + 1) * 3600 AS e FROM events)
         |SELECT sn.snap_ts, iv.event_id
         |FROM iv JOIN snaps sn
         |  ON epoch(CAST(sn.snap_ts AS TIMESTAMP)) BETWEEN iv.s AND iv.e
         |ORDER BY snap_ts, event_id""".stripMargin
    }),
    // ---- interval × interval overlap join (bin bucketing, first-shared-bin
    //      dedupe-free emission)
    QuerySpec("q35_interval_overlap", (s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("user_id") % 20 === 0)
      def ivs(par: Int) = ev.where(col("event_id") % 2 === par)
        .select(col("event_id"), col("ts").as("t_start"),
          (col("ts").cast("timestamp").cast("long") + (col("event_id") % 7 + 1) * 3600L)
            .cast("timestamp").as("t_end"))
      graft.operators.TemporalJoin.intervalOverlapJoin(
          ivs(0).withColumnRenamed("event_id", "id_a"), col("t_start"), col("t_end"),
          ivs(1).withColumnRenamed("event_id", "id_b"),
          col("t_start"), col("t_end"))
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    },
      // floor(epoch(ts)): Spark's ts.cast(long) TRUNCATES to whole seconds —
      // fractional-second epochs here would disagree on intervals that only
      // touch after truncation (caught at sf0.1: one boundary pair)
      """WITH base AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |  CAST(floor(epoch(ts)) AS BIGINT) + (event_id % 7 + 1) * 3600 AS e
        |  FROM events WHERE user_id % 20 = 0),
        |a AS (SELECT event_id AS id_a, s, e FROM base WHERE event_id % 2 = 0),
        |b AS (SELECT event_id AS id_b, s, e FROM base WHERE event_id % 2 = 1)
        |SELECT a.id_a, b.id_b FROM a JOIN b ON a.s <= b.e AND b.s <= a.e
        |ORDER BY id_a, id_b""".stripMargin),
    // ---- E: gap-based sessionization (30-min inactivity ends a session)
    QuerySpec("q20_sessionize", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("gap",
          when(col("ts").cast("timestamp").cast("long") - lag(col("ts").cast("timestamp").cast("long"), 1).over(w) > 1800, 1)
            .otherwise(0))
        .withColumn("session_idx", sum("gap").over(
          Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"), min("ts").as("t_start"), max("ts").as("t_end"))
        .withColumn("session_idx", col("session_idx").cast("long"))
        .orderBy("user_id", "session_idx")
    },
      // floor(epoch(ts)) matches Spark's whole-second ts.cast(long) — a
      // fractional gap of exactly ~1800.x s could otherwise split sessions
      // differently (same truncation hazard the sf0.1 run caught on q35)
      """WITH g AS (SELECT user_id, ts, event_id,
        |  CASE WHEN floor(epoch(ts)) - floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) > 1800
        |       THEN 1 ELSE 0 END AS gap FROM events),
        |s AS (SELECT user_id, ts,
        |  CAST(sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM g)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  min(ts) AS t_start, max(ts) AS t_end
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin),
    // ---- B7: groupByEntity — full ordered history per entity as one row
    QuerySpec("q21_group_entity", (s, dir) => {
      // groupByEntity then explode back to one row per version: the parity
      // check's pandas hasher can't handle array cells (round-1 q21 err), and the
      // exploded form still exercises the collect→sort→per-entity kernel.
      s.read.parquet(s"$dir/events.parquet")
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"), col("value"))))
          .as("history"))
        .select(col("user_id"), size(col("history")).as("n_versions"),
          posexplode(col("history").getField("value")))
        .select(col("user_id"), col("n_versions"),
          (col("pos") + 1).cast("long").as("version_idx"), col("col").as("value"))
        .orderBy("user_id", "version_idx")
    },
      """SELECT user_id,
        |CAST(count(*) OVER (PARTITION BY user_id) AS INTEGER) AS n_versions,
        |row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version_idx,
        |value
        |FROM events ORDER BY user_id, version_idx""".stripMargin),
    // ---- B5: filter DSL compiled to Catalyst Columns (pushdown for free)
    QuerySpec("q30_filter_dsl", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.where(graft.filter.FilterDsl.toColumn(
          "l_returnflag=R and l_quantity:(10..30) and not l_linestatus=F", li.schema))
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity BETWEEN 10 AND 30 AND NOT l_linestatus = 'F'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    QuerySpec("q31_filter_dsl_in", (s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      o.where(graft.filter.FilterDsl.toColumn(
          "o_orderpriority in (1-URGENT, 2-HIGH) and o_orderstatus=* and o_totalprice:(100000..)", o.schema))
        .select("o_orderkey").orderBy("o_orderkey")
    },
      """SELECT o_orderkey FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_orderstatus IS NOT NULL
        |AND o_totalprice >= 100000 ORDER BY o_orderkey""".stripMargin),
    // ---- A4: broadcast tag dictionary (keytables / TagTranslator role) —
    //      strings → dense ids at the boundary, aggregate on ints, decode at
    //      the end; ids reproducible (sorted-value order)
    QuerySpec("q32_tag_dictionary", (s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val dict = graft.sources.TagDictionary.build(o, col("o_orderpriority"))
      val agg = graft.sources.TagDictionary.encode(o, col("o_orderpriority"), dict)
        .groupBy("tag_id").agg(count(lit(1)).as("n_orders"))
      graft.sources.TagDictionary.decode(agg, col("tag_id"), dict)
        .select("tag_id", "tag", "n_orders").orderBy("tag_id")
    },
      """WITH d AS (SELECT DISTINCT o_orderpriority AS tag FROM orders WHERE o_orderpriority IS NOT NULL),
        |ids AS (SELECT CAST(row_number() OVER (ORDER BY tag) AS BIGINT) - 1 AS tag_id, tag FROM d)
        |SELECT i.tag_id, i.tag, count(*) AS n_orders
        |FROM orders o JOIN ids i ON o.o_orderpriority = i.tag
        |GROUP BY 1, 2 ORDER BY tag_id""".stripMargin),
    // ---- checkpoint/resume with per-partition lineage: a per-customer
    //      aggregation deliberately run as partial attempt + resume; the
    //      oracle checks the recovered result equals the plain aggregation
    QuerySpec("q61_checkpoint_agg", (s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_ckpt_q61").toString
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val transform: DataFrame => DataFrame =
        df => df.groupBy(col("_bucket"), col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"))
      // first attempt covers only half the buckets, second resumes the rest
      graft.plans.CheckpointedRun.runAttempt(s, orders, col("o_custkey"), transform,
        numBuckets = 8, out, "q61", maxBuckets = 4)
      graft.plans.CheckpointedRun.runToCompletion(s, orders, col("o_custkey"), transform,
          numBuckets = 8, out, "q61")
        .select("o_custkey", "n_orders").orderBy("o_custkey")
    },
      """SELECT o_custkey, count(*) AS n_orders FROM orders
        |GROUP BY 1 ORDER BY o_custkey""".stripMargin),
    // ---- H7/H8: contribution classification (diff consecutive versions)
    QuerySpec("q19_contributions", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("prev", lag("value", 1).over(w))
        .withColumn("kind", when(col("prev").isNull, "CREATION")
          .when(col("value") =!= col("prev"), "VALUE_CHANGE")
          .otherwise("NO_CHANGE"))
        .groupBy("kind").agg(count(lit(1)).as("cnt"))
        .orderBy("kind")
    },
      """WITH t AS (SELECT user_id, value,
        |  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT CASE WHEN prev IS NULL THEN 'CREATION'
        |            WHEN value != prev THEN 'VALUE_CHANGE'
        |            ELSE 'NO_CHANGE' END AS kind, count(*) AS cnt
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin),
    // ---- H7/H8 FULL ContributionType enum (upstream: {CREATION, DELETION,
    //      TAG_CHANGE, GEOMETRY_CHANGE} as an EnumSet): DELETION via the
    //      tombstone convention (event_type='error' ⇒ visible=false; the
    //      next visible version is a re-CREATION), TAG_CHANGE from the
    //      props column, VALUE_CHANGE standing in for GEOMETRY_CHANGE —
    //      both at once kept as the canonical joined set. State is one lag
    //      deep by construction (comparisons only against a VISIBLE
    //      predecessor), so the whole kernel is a single window pass.
    QuerySpec("q6e_contribution_types", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val e = s.read.parquet(s"$dir/events.parquet")
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .withColumn("prev_value", lag("value", 1).over(w))
        .withColumn("prev_props", lag("props", 1).over(w))
      val tomb = col("event_type") === lit("error")
      val prevVisible = col("prev_type").isNotNull && col("prev_type") =!= lit("error")
      e.withColumn("kinds",
          when(tomb, when(prevVisible, lit("DELETION")).otherwise(lit("NO_CHANGE")))
            .when(!prevVisible, lit("CREATION"))
            .when(col("props") =!= col("prev_props") && col("value") =!= col("prev_value"),
              lit("TAG_CHANGE+VALUE_CHANGE"))
            .when(col("props") =!= col("prev_props"), lit("TAG_CHANGE"))
            .when(col("value") =!= col("prev_value"), lit("VALUE_CHANGE"))
            .otherwise(lit("NO_CHANGE")))
        .groupBy("kinds")
        .agg(count(lit(1)).as("cnt"), countDistinct("user_id").as("n_users"))
        .orderBy("kinds")
    },
      """WITH e AS (SELECT user_id, event_type, value, props,
        |    lag(event_type) OVER w AS prev_type,
        |    lag(value) OVER w AS prev_value,
        |    lag(props) OVER w AS prev_props
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |k AS (SELECT user_id, CASE
        |    WHEN event_type = 'error' THEN
        |      CASE WHEN prev_type IS NOT NULL AND prev_type <> 'error'
        |           THEN 'DELETION' ELSE 'NO_CHANGE' END
        |    WHEN prev_type IS NULL OR prev_type = 'error' THEN 'CREATION'
        |    WHEN props <> prev_props AND value <> prev_value THEN 'TAG_CHANGE+VALUE_CHANGE'
        |    WHEN props <> prev_props THEN 'TAG_CHANGE'
        |    WHEN value <> prev_value THEN 'VALUE_CHANGE'
        |    ELSE 'NO_CHANGE' END AS kinds
        |  FROM e)
        |SELECT kinds, count(*) AS cnt, count(DISTINCT user_id) AS n_users
        |FROM k GROUP BY kinds ORDER BY kinds""".stripMargin),
  )
}
