package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.fixtures.Fixtures
import graft.operators.Similarity
import graft.oracle.TextOracle

/** Vector-search queries: exact top-k, LSH, IVF (plain, sharded,
  * persisted, PQ, filtered) and HNSW, each checked by value or recall bound.
  */
object AnnQueries {
  val specs: Seq[QuerySpec] = Seq(
    // ---- brute-force exact top-k similarity (quantized dot product)
    QuerySpec("q48_embed_topk", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.topKDot(emb, emb.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 10).orderBy("qid", "rank")
    },
      s"""WITH ${TextOracle.quantCte()},
         |q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
         |d AS (SELECT q.vec_id AS qid, e.vec_id AS nid, ${TextOracle.dotSql("q.q", "e.q", 64)} AS dot
         |      FROM q JOIN e ON e.vec_id <> q.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rank FROM d)
         |SELECT qid, nid, rank, dot FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin),
    // ---- ANN via hyperplane LSH. ORACLED via a recall bound: the ANN
    //      result is compared IN SPARK against the exact brute-force top-k
    //      over the same corpus; recall ≥ 0.8 (SimilaritySpec's gate)
    //      becomes a boolean the oracle re-asserts — an ANN regression
    //      turns the row red in the parity check.
    QuerySpec("q49_ann_lsh", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      // planes/tables picked by RecallProbe measurement: recall 1.0 (sf0.01)
      // / 0.96 (sf0.1) vs the 0.8 bound — deterministic per SF, real margin
      val ann = Similarity.annTopK(s, emb, q, "vec_id", "embedding", k = 10,
        dims = 64, planes = 4, tables = 24)
      val exact = Similarity.topKDot(emb, q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    },
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin),
    // ---- IVF-bucketed ANN. ORACLED via the same recall-bound shape as
    //      q49, against the exact L2 top-k (IVF ranks by L2 — the FAISS
    //      IndexIVFFlat contract, so the reference must too).
    QuerySpec("q53_ivf_topk", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      // nprobe by RecallProbe measurement: recall 1.0 (sf0.01) / 0.87
      // (sf0.1) vs the 0.8 bound — the fixture embeddings are mostly
      // unclustered, so honest IVF recall needs a high probe fraction at
      // this corpus size; Lloyd centroids (2 rounds) add ~0.05
      val ann = Similarity.ivfTopK(s, emb, q, "vec_id", "embedding", k = 10,
        nprobe = 24, lloydRounds = 2)
      val exact = Similarity.topKL2(emb, q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    },
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin),
    // ---- persisted IVF index (build-once/query-many): build writes the
    //      partition-pruned list table, query reads ONLY probed lists; same
    //      recall-bound contract vs in-job exact L2 as q53. Equality with
    //      the one-shot path + physical pruning gated in SimilaritySpec.
    QuerySpec("q6a_ivf_index", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      val idx = java.nio.file.Files.createTempDirectory("graft_ivf_q6a").toString
      Similarity.ivfBuildSave(s, emb, "vec_id", "embedding", idx, lloydRounds = 2)
      val ann = Similarity.ivfQueryIndex(s, idx, q, "vec_id", "embedding",
        k = 10, nprobe = 24)
      val exact = Similarity.topKL2(emb, q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    },
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin),
    // ---- SHARDED-centroid IVF query (the 10^12-scale two-stage probe:
    //      centroid table never broadcasts / never reaches the driver;
    //      only the √nlist meta-quantizer does). Same checked contract as
    //      q6a: exact twin computed in-job, recall≥0.8 bound row.
    //      coarseProbe covers the full coarse stage here because the
    //      fixture's nprobe/nlist is huge (24/44 at sf0.1 — measured: any
    //      coarse pruning below full coverage must lose recall when more
    //      than half of ALL lists are wanted); deployments probe ~1% of
    //      lists and prune the coarse stage too — that approximate point
    //      is spec-gated (SimilaritySpec two-stage recall ≥ 0.8 at 3/5
    //      coarse cells).
    QuerySpec("q71_ivf_sharded", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      val idx = java.nio.file.Files.createTempDirectory("graft_ivf_q71").toString
      Similarity.ivfBuildSave(s, emb, "vec_id", "embedding", idx, lloydRounds = 2)
      val ann = Similarity.ivfQueryIndexSharded(s, idx, q, "vec_id", "embedding",
        k = 10, nprobe = 24, coarseProbe = 8)
      val exact = Similarity.topKL2(emb, q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    },
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin),
    // ---- Sharded HNSW graph ANN (core.Hnsw + Similarity.hnswTopK) — the
    //      high-recall serving index (Malkov & Yashunin 2016): per-shard
    //      graphs built in mapPartitions (Lucene per-segment layout), query
    //      fans out and merges per-shard top-k. Same recall-bound contract
    //      vs the exact L2 twin as q53/q6a/q71.
    QuerySpec("q7a_hnsw", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      val ann = Similarity.hnswTopK(s, emb, q, "vec_id", "embedding",
        k = 10, shards = 8, m = 16, efConstruction = 100, efSearch = 128)
      val exact = Similarity.topKL2(emb, q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    },
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin),
    // ---- PERSISTED sharded-HNSW index (build-once/query-many, the q6a
    //      contract for the graph family): graphs serialize chunked under
    //      graphs/shard_id=N, a query batch deserializes each shard once;
    //      persisted == in-job rows and append-only-touched-shards are
    //      spec-gated. Same recall-bound row vs the exact L2 twin.
    QuerySpec("q7b_hnsw_index", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      val idx = java.nio.file.Files.createTempDirectory("graft_hnsw_q7b").toString
      Similarity.hnswBuildSave(s, emb, "vec_id", "embedding", idx,
        shards = 8, m = 16, efConstruction = 100)
      val ann = Similarity.hnswQueryIndex(s, idx, q, "vec_id", "embedding",
        k = 10, efSearch = 128)
      val exact = Similarity.topKL2(emb, q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    },
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin),
    // ---- PQ-COMPRESSED persisted IVF (FAISS IVFPQ shape): lists store m
    //      one-byte codes per vector instead of the full vector; query =
    //      partition-pruned scan + codegen ADC + exact re-rank of top-C
    //      against the primary store. Same recall-bound contract as q6a;
    //      the ≥4x on-disk shrink at equal recall is gated in
    //      SimilaritySpec.
    QuerySpec("q6f_ivf_pq", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq_q6f").toString
      Similarity.ivfPqBuildSave(s, emb, "vec_id", "embedding", idx, lloydRounds = 2)
      val ann = Similarity.ivfPqQueryIndex(s, idx, emb, q, "vec_id", "embedding",
        k = 10, nprobe = 24, rerankC = 100)
      val exact = Similarity.topKL2(emb, q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    },
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin),
    // ---- FILTERED vector search (FAISS IDSelector semantics): the index
    //      is built filter-agnostic over the whole corpus; an attribute
    //      predicate drops candidates inside the probed-list scan, before
    //      the rank heap. require() proves the filter is EXACT (no
    //      non-matching neighbor escapes); recall bound vs the filtered
    //      exact top-k, same contract as q53.
    QuerySpec("q7q_ivf_filtered", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") % 100 === 0)
      val pred = col("vec_id") % 7 === 3
      val ann = Similarity.ivfTopK(s, emb, q, "vec_id", "embedding", k = 10,
        nprobe = 24, lloydRounds = 2, keep = pred)
      require(ann.where(col("nid") % 7 =!= 3).limit(1).count() == 0,
        "filtered ANN returned a non-matching candidate")
      val exact = Similarity.topKL2(emb.where(pred), q, "vec_id", "embedding", k = 10)
      val hits = exact.join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
      exact.agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("_n"))
        .crossJoin(hits.agg(count(lit(1)).as("_h")))
        .select(col("n_queries"),
          (col("_h").cast("double") >= lit(0.8) * col("_n").cast("double")).as("recall_ok"))
    },
      """SELECT count(*) AS n_queries, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin),
    // ---- image decode → block-mean embedding → exact top-k bridge.
    //      ORACLED structurally: the oracle recomputes the query count from
    //      the generator's id+crc32 rule and asserts the contract booleans
    //      (exactly k ranked rows per query, dots non-increasing by rank,
    //      self excluded) — value-level dot parity is impossible without an
    //      image decoder in the oracle engine, but a decode/feature/top-k
    //      pipeline break flips one of these to false.
    QuerySpec("q63_image_embed_topk", (s, dir) => {
      val feats = operators.Multimodal.features(Fixtures.images(s, 2000))
      val tk = Similarity.topKDot(feats, feats.where(crc32(col("image_id")) % 100 === 0),
        "image_id", "embedding", k = 5)
      val w = Window.partitionBy("qid").orderBy("rank")
      tk.withColumn("_prev", lag("dot", 1).over(w))
        .agg(count_distinct(col("qid")).as("n_queries"),
          (count(lit(1)) === count_distinct(col("qid")) * 5).as("all_k"),
          min((col("_prev").isNull || col("_prev") >= col("dot")).cast("int"))
            .cast("boolean").as("ranks_sorted"),
          min((col("qid") =!= col("nid")).cast("int")).cast("boolean").as("no_self"))
    }, {
      // query count from the generator's id rule + Spark's crc32 semantics
      // (standard CRC32 over the UTF-8 id bytes)
      val nq = (0L until 2000L).count { i =>
        val c = new java.util.zip.CRC32()
        c.update(f"img$i%012d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        c.getValue % 100 == 0
      }
      s"SELECT CAST($nq AS BIGINT) AS n_queries, TRUE AS all_k, " +
        "TRUE AS ranks_sorted, TRUE AS no_self"
    }),
  )
}
