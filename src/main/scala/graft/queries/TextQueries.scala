package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.oracle.{Derive, TextOracle}

/** Text and dedup queries: tokenization, exact and near-duplicate
  * detection, LM and quality filters, sampling, splits and packing.
  */
object TextQueries {
  val specs: Seq[QuerySpec] = Seq(
    // ==== Training-data pipeline ops (documents / embeddings tables) ====
    // ---- token counting: whitespace + word-piece regex
    QuerySpec("q40_token_counts", (s, dir) => {
      TextAnalysis.tokenCounts(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text")).orderBy("doc_id")
    },
      s"""WITH ${TextOracle.toksCte()}
         |SELECT d.doc_id, CAST(len(t.t) AS INTEGER) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(d.text, '${TextAnalysis.WordPieceRegex}')) AS INTEGER) AS n_wordpieces
         |FROM documents d JOIN toks t ON d.doc_id = t.doc_id ORDER BY d.doc_id""".stripMargin),
    // ---- language-ID (marker-token heuristic, deterministic argmax)
    QuerySpec("q41_lang_id", (s, dir) => {
      TextAnalysis.langId(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text")).orderBy("doc_id")
    }, {
      val scoreExprs = TextAnalysis.langMarkers.map { case (lang, ws) =>
        "CAST(" + ws.map(w => s"len(list_filter(t, x -> x = '$w'))").mkString(" + ") +
          s" AS INTEGER) AS score_$lang"
      }.mkString(",\n  ")
      val langs = TextAnalysis.langMarkers.map(_._1).sorted
      val caseChain = langs.init.zipWithIndex.map { case (l, i) =>
        val rest = langs.drop(i + 1).map(r => s"score_$r")
        val cmp = if (rest.size == 1) rest.head else s"greatest(${rest.mkString(", ")})"
        s"WHEN score_$l >= $cmp THEN '$l'"
      }.mkString(" ")
      s"""WITH ${TextOracle.toksCte(textExpr = "lower(text)")},
         |sc AS (SELECT doc_id, $scoreExprs FROM toks)
         |SELECT doc_id, ${TextAnalysis.langMarkers.map(m => "score_" + m._1).mkString(", ")},
         |  CASE $caseChain ELSE '${langs.last}' END AS pred_lang
         |FROM sc ORDER BY doc_id""".stripMargin
    }),
    // ---- document fingerprinting (rolling hash + min-shingle)
    QuerySpec("q42_fingerprints", (s, dir) => {
      TextAnalysis.fingerprints(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text")).orderBy("doc_id")
    },
      s"""WITH ${TextOracle.toksCte()},
         |${TextOracle.ngramsCte(3)}
         |SELECT d.doc_id, ${TextOracle.charHashSql("d.text")} AS text_hash,
         |  CASE WHEN len(g) = 0 THEN CAST(-1 AS BIGINT)
         |       ELSE list_min(list_transform(g, s -> ${TextOracle.charHashSql("s")})) END AS min_shingle
         |FROM documents d JOIN ng ON d.doc_id = ng.doc_id ORDER BY d.doc_id""".stripMargin),
    // ---- exact dedup by content hash
    QuerySpec("q43_exact_dedup", (s, dir) => {
      Dedup.exactDedup(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text")).orderBy("text_hash")
    },
      s"""WITH h AS (SELECT doc_id, ${TextOracle.charHash64Sql("text")} AS text_hash FROM documents)
         |SELECT text_hash, min(doc_id) AS canonical_id, count(*) AS n_copies
         |FROM h GROUP BY 1 ORDER BY text_hash""".stripMargin),
    // ---- exact n-gram Jaccard near-dup pairs (shingle-explode join)
    QuerySpec("q44_ngram_jaccard", (s, dir) => {
      Dedup.ngramJaccardPairs(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text"), n = 3, threshold = 0.5).orderBy("id_a", "id_b")
    }, TextOracle.jaccardPairsSql(3, 0.5)),
    // ---- incremental-ingestion near-dedup: new batch (odd doc ids) vs
    //      existing corpus (even ids) — cross-set MinHash-LSH, exact-verified.
    //      16x2 banding for the same recall-by-construction reason as q45.
    QuerySpec("q69_cross_dedup", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Dedup.minhashLshPairsCross(
        docs.where(col("doc_id") % 2 === 1), col("doc_id"), col("text"),
        docs.where(col("doc_id") % 2 === 0), col("doc_id"), col("text"),
        n = 3, threshold = 0.5, bands = 16).orderBy("id_a", "id_b")
    },
      s"""WITH ${TextOracle.toksCte()},
         |${TextOracle.ngramsCte(3)},
         |nz AS (SELECT doc_id, g FROM ng WHERE len(g) > 0),
         |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  len(list_intersect(a.g, b.g)) AS c, len(a.g) AS sz_a, len(b.g) AS sz_b
         |  FROM nz a JOIN nz b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0)
         |SELECT id_a, id_b, CAST(c AS DOUBLE) / CAST(sz_a + sz_b - c AS DOUBLE) AS jaccard
         |FROM pr WHERE CAST(c AS DOUBLE) / CAST(sz_a + sz_b - c AS DOUBLE) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin),
    // ---- eval-set decontamination: corpus docs sharing >= minHits distinct
    //      3-gram shingles with any benchmark doc (benchmark = doc_id % 50
    //      == 0 split of the same table so the oracle can re-derive it).
    //      Broadcast the bench shingles; corpus never shuffles, only hits do.
    QuerySpec("q65_decontaminate", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Dedup.decontaminate(
        docs.where(col("doc_id") % 50 =!= 0), col("doc_id"), col("text"),
        docs.where(col("doc_id") % 50 === 0), col("doc_id"), col("text"),
        n = 3, minHits = 3).orderBy("doc_id", "bench_id")
    }, TextOracle.decontaminateSql(3, 3, "doc_id % 50 = 0")),
    // ---- SUBSTRING-level exact dedup (Lee et al. 2022): per-doc merged
    //      dup-span stats over 8-token windows, first occurrence survives.
    //      Detection is one hash-aggregate over positional window hashes;
    //      only duplicated-window occurrences ever shuffle.
    QuerySpec("q6c_substring_dedup", (s, dir) => {
      Dedup.substringDupSpans(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text"), L = 8).orderBy("doc_id")
    }, TextOracle.substringSpanStatsSql(8)),
    // ---- the CLEANED corpus from the same operator: dup-span tokens
    //      removed, whitespace normalized (every doc appears).
    QuerySpec("q6d_substring_clean", (s, dir) => {
      Dedup.dedupSubstrings(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text"), L = 8).orderBy("doc_id")
    }, TextOracle.substringCleanSql(8)),
    // ---- SEGMENT-level keep-first dedup (C4 "dedupe lines, keep one copy"):
    //      consecutive 8-token segments, first (doc_id, seg_no) occurrence
    //      survives corpus-wide, doc rebuilt from kept segments. One
    //      hash-aggregate keeper election + one doc_id reassembly — no
    //      corpus-wide window/sort.
    QuerySpec("q6k_segment_dedup", (s, dir) => {
      Dedup.segmentDedup(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text"), n = 8).orderBy("doc_id")
    }, TextOracle.segmentDedupSql(8)),
    // ---- CCNet-shape LM filtering, train side: bigram model (exact-integer
    //      counts >= 2) trained on the doc_id%10<3 "trusted" split. One
    //      distributed hash-aggregate, state = observed-bigram vocab.
    QuerySpec("q6l_lm_train", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.lmTrain(docs.where(col("doc_id") % 10 < 3), col("text"),
        minCount = 2L).orderBy("lhs", "rhs")
    }, TextOracle.lmTrainSql(2L, "doc_id % 10 < 3")),
    // ---- and the corpus-wide score: per-doc bigram coverage against that
    //      model (broadcast), keep at hit_rate >= 0.5. Every doc appears.
    QuerySpec("q6m_lm_score", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = TextAnalysis.lmTrain(docs.where(col("doc_id") % 10 < 3),
        col("text"), minCount = 2L)
      TextAnalysis.lmScore(docs, col("doc_id"), col("text"), model,
        minHitRate = 0.5).orderBy("doc_id")
    }, TextOracle.lmScoreSql(2L, "doc_id % 10 < 3", 0.5)),
    // ---- DSIR-shape importance resampling: hashed-bigram target vs raw
    //      models → int64 fixed-point ratio weights (broadcast) → per-doc
    //      score → deterministic content-addressed keep draw. The
    //      "make the corpus look like the target" verb; every doc appears
    //      with its score + draw + decision. Integer-exact end to end.
    QuerySpec("q6y_importance_resample", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.importanceResample(docs, col("doc_id"), col("text"),
          docs.where(col("doc_id") % 7 === 0), col("text"),
          numBuckets = 4096, tau = 2)
        .orderBy("doc_id")
    }, TextOracle.importanceResampleSql(4096, 2, "doc_id % 7 = 0")),
    // ---- per-source cap (the "domain cap" rule): keep <= 20 docs per
    //      source in content-addressed hash order — bounded-heap aggregate,
    //      no window sort, skew-immune by construction.
    QuerySpec("q6n_group_cap", (s, dir) => {
      TextAnalysis.groupCap(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("source"), cap = 20, salt = "q6n")
        .orderBy("grp", "rk")
    }, TextOracle.groupCapSql("source", 20, "q6n")),
    // ---- Bloom-filter approximate anti-join bound row: corpus =
    //      doc_id%10<8 split, batch = all docs; the bucketed mergeable
    //      filter (16 bits/key, k=7) marks definitely-new rows. Emits the
    //      parity-checkable contract — zero false negatives (bloom
    //      soundness) and FP withholding <= 5% of the truly-new set — plus
    //      exact counts the oracle recomputes. The exact-membership twin
    //      here is the verification fixture, not the production path (the
    //      verb itself never joins the corpus).
    QuerySpec("q6o_bloom_new", (s, dir) => {
      import graft.functions.TextFunctions.charHash64
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val corpus = docs.where(col("doc_id") % 10 < 8)
      val defNew = Dedup.bloomNew(corpus, col("text"),
        docs, col("doc_id"), col("text"), expectedCorpusKeys = 500L)
      val memberIds = docs.select(col("doc_id"), charHash64(col("text")).as("k"))
        .join(corpus.select(charHash64(col("text")).as("k")).distinct(), Seq("k"),
          "left_semi").select("doc_id")
      val nBatch = docs.count()
      val nMembers = memberIds.count()
      val nTrulyNew = nBatch - nMembers
      val nDefNew = defNew.count()
      val falseNegs = defNew.join(memberIds, Seq("doc_id"), "left_semi").count()
      import s.implicits._
      Seq((nBatch, nMembers, falseNegs == 0L,
        nTrulyNew - nDefNew <= 0.05 * nTrulyNew))
        .toDF("n_batch", "n_members", "no_false_negatives", "fpr_below_bound")
    }, TextOracle.bloomNewSql("c.doc_id % 10 < 8")),
    // ---- MinHash-LSH near-dup pairs, exact-verified (the 100 TB path).
    //      bands=16 (r=2), NOT the default 8×4: the oracle is exact
    //      brute-force Jaccard and the fixture corpus has pairs down to
    //      J=0.8, where 8×4 misses ~1.5% of candidates — 16×2 brings the
    //      per-pair miss to (1−0.8²)^16 ≈ 8e-8, so exact parity is by
    //      construction, not fixture luck.
    QuerySpec("q45_minhash_lsh", (s, dir) => {
      Dedup.minhashLshPairs(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text"), n = 3, threshold = 0.5, bands = 16)
        .orderBy("id_a", "id_b")
    }, TextOracle.jaccardPairsSql(3, 0.5)),
    // ---- per-doc 62-bit SimHash (two independent 31-bit halves)
    QuerySpec("q46_simhash", (s, dir) => {
      Dedup.simhashDocs(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text")).orderBy("doc_id")
    },
      s"""WITH ${TextOracle.simhash64Ctes}
         |SELECT doc_id, simhash FROM sim ORDER BY doc_id""".stripMargin),
    // ---- SimHash near-dup pairs, hamming ≤ 3, band pigeonhole (exact recall)
    QuerySpec("q47_simhash_pairs", (s, dir) => {
      Dedup.simhashPairs(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text"), maxDist = 3)
        .withColumn("hamming", col("hamming").cast("int"))
        .orderBy("id_a", "id_b")
    },
      s"""WITH ${TextOracle.simhash64Ctes}
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 ORDER BY id_a, id_b""".stripMargin),
    // ---- image-dedup shape: banded hamming pairs over a PRECOMPUTED long
    //      hash column (pHashes computed once at ingest). The hash here is
    //      integer-derived so the oracle brute-forces the same bits: docs in
    //      the same div-8 group share a charHash64 base, perturbed by the
    //      low-3-bit residue — planted near-dups at hamming 1..3, of which
    //      only <= 2 must survive the verify.
    QuerySpec("q67_phash_neardup", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("ph", graft.functions.TextFunctions.charHash64(
            expr("cast(doc_id div 8 as string)"))
          .bitwiseXOR(col("doc_id") % 8))
      Dedup.hammingPairs(docs, col("doc_id"), col("ph"), maxDist = 2, bits = 60)
        .withColumn("hamming", col("hamming").cast("int"))
        .orderBy("id_a", "id_b")
    },
      s"""WITH h AS (SELECT doc_id,
         |  xor(${TextOracle.charHash64Sql("CAST(doc_id // 8 AS VARCHAR)")}, doc_id % 8) AS ph
         |  FROM documents)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.ph, b.ph)) AS INTEGER) AS hamming
         |FROM h a JOIN h b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ph, b.ph)) <= 2 ORDER BY id_a, id_b""".stripMargin),
    // ---- embedding cosine near-dup pairs (integer-exact comparison)
    QuerySpec("q50_cosine_near_dup", (s, dir) => {
      // Exact broadcast-blocked path (primitive i<j loop, zero pair-row
      // materialization, no cartesian/BNLJ node) — at t=0.45 an exact
      // answer is Θ(n²) dots and LSH candidates provably cost ≥6× more
      // (see Similarity scaladoc); the subquadratic LSH path (q-gated in
      // SimilaritySpec) is for corpus-scale t≥0.8 near-dup.
      Similarity.cosineNearDupPairsExact(s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", threshold = 0.45).orderBy("id_a", "id_b")
    },
      s"""WITH ${TextOracle.quantCte()},
         |n AS (SELECT vec_id, q, ${TextOracle.dotSql("q", "q", 64)} AS n2 FROM e),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${TextOracle.dotSql("a.q", "b.q", 64)} AS dot,
         |       a.n2 AS na, b.n2 AS nb FROM n a JOIN n b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, dot FROM p
         |WHERE dot > 0 AND CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE) >= 0.45 * 0.45 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
         |ORDER BY id_a, id_b""".stripMargin),
    // ---- SemDeDup: hash-seeded coarse clusters (oracle-exact seed rule),
    //      within-cluster cosine prune — drop any vector with a lower-id
    //      neighbor at cos >= 0.45 in its cluster; the prune join is equi on
    //      list_id, never all-pairs.
    QuerySpec("q6q_semantic_dedup", (s, dir) => {
      Similarity.semanticDedup(s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", numLists = 8, threshold = 0.45).orderBy("vec_id")
    }, {
      // the whole pipeline re-derived in SQL: hash-ordered seeds, exact
      // int-L2 nearest-seed assignment (ties → lower seed index), within-
      // cluster cosine prune with the verifyCosine double convention
      val h = TextOracle.charHash64Sql("CAST(vec_id AS VARCHAR)")
      def dot(a: String, b: String) = TextOracle.dotSql(a, b, 64)
      s"""WITH ${TextOracle.quantCte()},
         |n AS (SELECT vec_id, q, ${dot("q", "q")} AS n2 FROM e),
         |sd AS (SELECT vec_id, q FROM e ORDER BY $h, vec_id LIMIT 8),
         |s0 AS (SELECT row_number() OVER (ORDER BY $h, vec_id) - 1 AS j, q AS cq FROM sd),
         |seeds AS (SELECT j, cq, ${dot("cq", "cq")} AS cn2 FROM s0),
         |ar AS (SELECT n.vec_id, n.q, n.n2, s.j,
         |  s.cn2 - 2 * ${dot("n.q", "s.cq")} AS d FROM n CROSS JOIN seeds s),
         |asg AS (SELECT vec_id, q, n2, CAST(j AS INTEGER) AS list_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn FROM ar) z
         |  WHERE rn = 1),
         |dr AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
         |  ON a.list_id = b.list_id AND a.vec_id < b.vec_id
         |  WHERE ${dot("a.q", "b.q")} > 0 AND
         |    CAST(${dot("a.q", "b.q")} AS DOUBLE) * CAST(${dot("a.q", "b.q")} AS DOUBLE) >=
         |    0.45 * 0.45 * CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE))
         |SELECT asg.vec_id, asg.list_id, dr.vec_id IS NULL AS kept
         |FROM asg LEFT JOIN dr ON asg.vec_id = dr.vec_id
         |ORDER BY asg.vec_id""".stripMargin
    }),
    // ---- GPT-style sequence packing manifest: docs concatenated in
    //      content-addressed order (1 EOS each), cut into 512-token
    //      windows; per doc its global offset + first/last sequence.
    //      Global cumsum is the two-pass partition-offset form — no
    //      single-partition window anywhere.
    QuerySpec("q6r_pack_sequences", (s, dir) => {
      TextAnalysis.packSequences(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text"), seqLen = 512, salt = "q6r").orderBy("doc_id")
    }, TextOracle.packSequencesSql(512, "q6r")),
    // ---- packed-sequence materialization: the same stream as q6r cut
    //      into 512-token rows; one row per sequence, tokens fingerprinted
    //      in stream order. Text rides the single range exchange; the only
    //      other shuffle is the token→sequence groupBy.
    QuerySpec("q6v_pack_tokens", (s, dir) => {
      TextAnalysis.packTokens(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text"), seqLen = 512, salt = "q6r").orderBy("seq_id")
    }, TextOracle.packTokensSql(512, "q6r")),
    // ---- domain-mixture resampling: integer ppm rates per source —
    //      upsample src0 2.5x, halve src1, drop src2, 1.3x src3, keep the
    //      rest; content-addressed draws, map-side only.
    QuerySpec("q6s_mixture_sample", (s, dir) => {
      TextAnalysis.mixtureSample(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("source"),
        ratesPpm = Map("src0" -> 2500000L, "src1" -> 500000L,
          "src2" -> 0L, "src3" -> 1300000L),
        defaultPpm = 1000000L, salt = "q6s").orderBy("doc_id", "copy_no")
    }, TextOracle.mixtureSampleSql(
      Map("src0" -> 2500000L, "src1" -> 500000L, "src2" -> 0L,
        "src3" -> 1300000L), 1000000L, "q6s")),
    // ---- PII redaction over deterministically PII-augmented text (the
    //      fixture corpus carries none, so the query plants emails /
    //      phones / IPs from doc_id — the oracle rebuilds the same text);
    //      counts from the original, scrub hash+length of the result.
    QuerySpec("q6t_redact_pii", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val aug = concat(col("text"),
        when(col("doc_id") % 4 === 0,
            concat(lit(" mail user"), col("doc_id").cast("string"),
              lit("@example.com now")))
          .when(col("doc_id") % 4 === 1, lit(" call 555-123-4567 or 555-000-1234"))
          .when(col("doc_id") % 4 === 2,
            concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
              lit(".7 net")))
          .otherwise(lit("")))
      TextAnalysis.redactPii(d, col("doc_id"), aug).orderBy("doc_id")
    }, TextOracle.redactPiiSql(
      """text || CASE WHEN doc_id % 4 = 0
        |    THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@example.com now'
        |  WHEN doc_id % 4 = 1 THEN ' call 555-123-4567 or 555-000-1234'
        |  WHEN doc_id % 4 = 2
        |    THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 net'
        |  ELSE '' END""".stripMargin)),
    // ---- cross-modal alignment gate (CLIP-score filter shape): pair the
    //      even/odd embedding rows as (image, caption) sides, keep pairs
    //      with quantized-int cosine >= 0.1 — map-only after the pairing
    //      join; at ingest both embeddings arrive on one row (no join).
    QuerySpec("q6u_alignment_filter", (s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val a = e.where(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("pair_id"), col("embedding").as("img_emb"))
      val b = e.where(col("vec_id") % 2 === 1)
        .select((col("vec_id") - 1).as("pair_id"), col("embedding").as("cap_emb"))
      Similarity.alignmentFilter(a.join(b, Seq("pair_id")),
        col("pair_id"), col("img_emb"), col("cap_emb"), threshold = 0.1)
        .orderBy("pair_id")
    }, TextOracle.alignmentFilterSql(0.1, 64)),
    // ---- canonical normalization (pre-dedup key) — hash parity checked
    QuerySpec("q54_normalize", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
          graft.functions.TextFunctions.charHash(TextAnalysis.normalize(col("text"))).as("norm_hash"),
          length(TextAnalysis.normalize(col("text"))).as("norm_len"))
        .orderBy("doc_id")
    }, {
      val norm = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
      s"""SELECT doc_id, ${TextOracle.charHashSql(norm)} AS norm_hash,
         |CAST(length($norm) AS INTEGER) AS norm_len
         |FROM documents ORDER BY doc_id""".stripMargin
    }),
    // ---- deduplicated corpus: keep min-id row per normalized key
    QuerySpec("q55_dedup_keep", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      Dedup.keepFirst(d, col("doc_id"), TextAnalysis.normalize(col("text")))
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")
    }, {
      val norm = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
      s"""WITH k AS (SELECT min(doc_id) AS keep_id FROM documents GROUP BY $norm)
         |SELECT doc_id, lang, n_chars FROM documents
         |WHERE doc_id IN (SELECT keep_id FROM k) ORDER BY doc_id""".stripMargin
    }),
    // ---- dedup clusters: connected components over LSH near-dup pairs
    QuerySpec("q52_dup_clusters", (s, dir) => {
      val pairs = Dedup.minhashLshPairs(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text"), n = 3, threshold = 0.5)
      Dedup.dupClusters(pairs).orderBy("doc_id")
    },
      s"""WITH RECURSIVE ${TextOracle.toksCte()},
         |${TextOracle.ngramsCte(3)},
         |nz AS (SELECT doc_id, g FROM ng WHERE len(g) > 0),
         |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM nz a JOIN nz b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |        / CAST(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS DOUBLE) >= 0.5),
         |edges AS (SELECT id_a AS s, id_b AS d FROM pr UNION ALL SELECT id_b, id_a FROM pr),
         |reach AS (
         |  SELECT s AS id, d AS r FROM edges
         |  UNION
         |  SELECT w.id, e.d FROM reach w JOIN edges e ON w.r = e.s
         |)
         |SELECT id AS doc_id, least(id, min(r)) AS cluster_id FROM reach
         |GROUP BY id ORDER BY doc_id""".stripMargin),
    // ---- leakage-safe split: near-dup clusters are atomic — all members
    //      share one split, so a near-copy of a train doc can never leak
    //      into val/test (pairs = the q52 LSH set; singletons self-cluster)
    QuerySpec("q6b_leakage_safe_split", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
        n = 3, threshold = 0.5, bands = 16)
      TextAnalysis.leakageSafeSplit(docs, col("doc_id"), pairs, "split-v1")
        .orderBy("doc_id")
    }, {
      val bucket = TextOracle.charHashSql(
        "CAST(coalesce(l.cluster_id, d.doc_id) AS VARCHAR) || ':split-v1'") + " % 100"
      s"""WITH RECURSIVE ${TextOracle.toksCte()},
         |${TextOracle.ngramsCte(3)},
         |nz AS (SELECT doc_id, g FROM ng WHERE len(g) > 0),
         |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM nz a JOIN nz b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |        / CAST(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS DOUBLE) >= 0.5),
         |edges AS (SELECT id_a AS s, id_b AS d FROM pr UNION ALL SELECT id_b, id_a FROM pr),
         |reach AS (
         |  SELECT s AS id, d AS r FROM edges
         |  UNION
         |  SELECT w.id, e.d FROM reach w JOIN edges e ON w.r = e.s
         |),
         |lab AS (SELECT id AS doc_id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id)
         |SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
         |  CASE WHEN $bucket < 80 THEN 'train' WHEN $bucket < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }),
    // ---- deterministic stratified sampling: per-language rates via
    //      content-addressed hash buckets (reproducible, shuffle-proof)
    QuerySpec("q57_stratified_sample", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("bucket", TextAnalysis.hashBucket(col("doc_id"), "sample-v1"))
      val rate = when(col("lang") === "en", 10).otherwise(30) // en downsampled
      d.where(col("bucket") < rate).select("doc_id", "lang").orderBy("doc_id")
    }, {
      val bucket = TextOracle.charHashSql("CAST(doc_id AS VARCHAR) || ':sample-v1'") + " % 100"
      s"""SELECT doc_id, lang FROM documents
         |WHERE $bucket < (CASE WHEN lang = 'en' THEN 10 ELSE 30 END)
         |ORDER BY doc_id""".stripMargin
    }),
    // ---- train/val/test split: 80/10/10 by the same hash-bucket scheme
    QuerySpec("q58_dataset_split", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("bucket", TextAnalysis.hashBucket(col("doc_id"), "split-v1"))
        .withColumn("split", when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val").otherwise("test"))
      d.groupBy("split").agg(count(lit(1)).as("n"),
          min("doc_id").as("first_id")).orderBy("split")
    }, {
      val bucket = TextOracle.charHashSql("CAST(doc_id AS VARCHAR) || ':split-v1'") + " % 100"
      s"""WITH b AS (SELECT doc_id, $bucket AS bucket FROM documents)
         |SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
         |            ELSE 'test' END AS split,
         |  count(*) AS n, min(doc_id) AS first_id
         |FROM b GROUP BY 1 ORDER BY split""".stripMargin
    }),
    // ---- the WHOLE training-data pipeline as one job: quality gate →
    //      exact dedup (min-id per normalized text) → eval-set
    //      decontamination → deterministic split. Every stage is an
    //      already-oracled operator; this query proves they COMPOSE (the
    //      thing a real user runs) and the oracle recomputes the full chain.
    QuerySpec("q66_pipeline_e2e", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val kept = TextAnalysis.quality(docs, col("doc_id"), col("text"))
        .where(col("keep")).select("doc_id")
      // stage boundary materialized: keepFirst scans its input twice and
      // `deduped` is referenced twice below — lazy composition re-runs the
      // quality scan up to 4x (measured 185 s vs 40 s at the 8M stress
      // scale; at 100 TB this boundary is a parquet write between stages)
      val deduped = Dedup.keepFirst(docs.join(kept, "doc_id"),
        col("doc_id"), TextAnalysis.normalize(col("text"))).localCheckpoint()
      val corpus = deduped.where(col("doc_id") % 50 =!= 0)
      val contaminated = Dedup.decontaminate(
          corpus, col("doc_id"), col("text"),
          docs.where(col("doc_id") % 50 === 0), col("doc_id"), col("text"),
          n = 3, minHits = 3)
        .select("doc_id").distinct()
      corpus.join(contaminated, Seq("doc_id"), "left_anti")
        .withColumn("bucket", TextAnalysis.hashBucket(col("doc_id"), "split-v1"))
        .withColumn("split", when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val").otherwise("test"))
        .select("doc_id", "lang", "split").orderBy("doc_id")
    }, {
      val norm = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
      val bucket = TextOracle.charHashSql("CAST(doc_id AS VARCHAR) || ':split-v1'") + " % 100"
      s"""WITH ${TextOracle.toksCte()},
         |sc AS (SELECT d.doc_id AS doc_id,
         |  CAST(len(t) AS INTEGER) AS n_tokens,
         |  CAST(length(d.text) AS INTEGER) AS n_chars,
         |  CAST(length(regexp_replace(d.text, '[^A-Za-z]', '', 'g')) AS INTEGER) AS n_alpha,
         |  CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS INTEGER) AS n_tok_chars
         |  FROM documents d JOIN toks ON d.doc_id = toks.doc_id),
         |keepers AS (SELECT doc_id FROM sc
         |  WHERE n_tokens >= 10 AND n_tokens <= 100000
         |    AND (CASE WHEN n_tokens > 0 THEN CAST(n_tok_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) BETWEEN 2.0 AND 12.0
         |    AND (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END) >= 0.5),
         |dedup AS (SELECT min(d.doc_id) AS doc_id FROM documents d
         |  JOIN keepers USING (doc_id) GROUP BY $norm),
         |corpus0 AS (SELECT doc_id FROM dedup WHERE doc_id % 50 <> 0),
         |${TextOracle.ngramsCte(3)},
         |b AS (SELECT doc_id AS bench_id, g FROM ng WHERE doc_id % 50 = 0 AND len(g) > 0),
         |c AS (SELECT doc_id, g FROM ng JOIN corpus0 USING (doc_id) WHERE len(g) > 0),
         |cont AS (SELECT DISTINCT c.doc_id FROM c CROSS JOIN b
         |  WHERE len(list_intersect(c.g, b.g)) >= 3),
         |fin AS (SELECT doc_id FROM corpus0 WHERE doc_id NOT IN (SELECT doc_id FROM cont))
         |SELECT d.doc_id, d.lang,
         |  CASE WHEN $bucket < 80 THEN 'train' WHEN $bucket < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents d JOIN fin USING (doc_id) ORDER BY d.doc_id""".stripMargin
    }),
    // ---- LEARNED BPE vocabulary (Sennrich et al. 2016): 8 trained merges
    //      over the corpus. The corpus-scale stage is ONE distributed
    //      word-frequency aggregate; the merge loop runs on the driver over
    //      that bounded sketch (the subword-nmt/fastBPE layout). The DuckDB
    //      twin re-derives every round — pair counts, tie-break, and the
    //      greedy run-position apply — from the raw table.
    QuerySpec("q6i_bpe_train", (s, dir) => {
      import s.implicits._
      TextAnalysis.bpeTrain(s.read.parquet(s"$dir/documents.parquet"),
          col("text"), numMerges = 8)
        .map(m => (m.rank, m.lhs, m.rhs, m.cnt)).toDF("rank", "lhs", "rhs", "cnt")
        .orderBy("rank")
    }, TextOracle.bpeTrainSql(8)),
    // ---- distributed BPE ENCODE with the learned table: per-token merges
    //      in rank order (same greedy rule as training ⇒ encoding the
    //      training corpus reproduces the trainer's final state, which is
    //      what the oracle recomputes); output = top-30 piece frequencies.
    QuerySpec("q6j_bpe_encode", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val merges = TextAnalysis.bpeTrain(docs, col("text"), numMerges = 8)
      TextAnalysis.bpeEncode(docs, col("doc_id"), col("text"), merges)
        .select(explode(col("pieces")).as("piece"))
        .groupBy("piece").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("piece")).limit(30)
    }, TextOracle.bpeEncodeSql(8, 30)),
    // ---- vocabulary building: corpus term frequencies, top-50 tokens
    //      (tokenizer-prep shape: explode → count → top-k)
    QuerySpec("q56_vocab", (s, dir) => {
      val toks = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), explode(Dedup.tokens(lower(col("text")))).as("token"))
      toks.groupBy("token")
        .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
        .orderBy(col("tf").desc, col("token")).limit(50)
    },
      s"""WITH ${TextOracle.toksCte(textExpr = "lower(text)")},
         |e AS (SELECT doc_id, unnest(t) AS token FROM toks)
         |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
         |FROM e GROUP BY token ORDER BY tf DESC, token LIMIT 50""".stripMargin),
    // ---- end-to-end embedding dedup: near-dup pairs → connected
    //      components → drop non-canonical rows (the full pipeline shape)
    QuerySpec("q59_embed_dedup_keep", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val pairs = Similarity.cosineNearDupPairsExact(emb, "vec_id", "embedding", 0.45)
        .select(col("id_a"), col("id_b"))
      val clusters = Dedup.dupClusters(pairs.withColumn("jaccard", lit(1.0)))
      val drop = clusters.where(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as("vec_id"))
      emb.join(drop, Seq("vec_id"), "left_anti")
        .select("vec_id", "label").orderBy("vec_id")
    },
      s"""WITH RECURSIVE ${TextOracle.quantCte()},
         |n AS (SELECT vec_id, q, ${TextOracle.dotSql("q", "q", 64)} AS n2 FROM e),
         |pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id
         |  WHERE ${TextOracle.dotSql("a.q", "b.q", 64)} > 0
         |    AND CAST(${TextOracle.dotSql("a.q", "b.q", 64)} AS DOUBLE) * CAST(${TextOracle.dotSql("a.q", "b.q", 64)} AS DOUBLE)
         |        >= 0.45 * 0.45 * CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)),
         |edges AS (SELECT id_a AS s, id_b AS d FROM pr UNION ALL SELECT id_b, id_a FROM pr),
         |reach AS (SELECT s AS id, d AS r FROM edges
         |  UNION SELECT w.id, e.d FROM reach w JOIN edges e ON w.r = e.s),
         |lab AS (SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (SELECT id FROM lab WHERE id <> cluster_id)
         |ORDER BY vec_id""".stripMargin),
    // ---- vocab at scale: mergeable heavy-hitters summary per language.
    //      ORACLED via the SpaceSaving guarantee as a parity-checkable
    //      boolean: each reported (grp, rank) estimate must satisfy
    //      true ≤ est ≤ true + err against EXACT token counts computed in
    //      Spark; the oracle asserts the same per-rank booleans (langs ×
    //      ranks 1..m are deterministic). Merge-path one-sidedness is what
    //      the round-3 SpaceSaving merge fix guarantees.
    QuerySpec("q34_vocab_sketch", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val sk = TextAnalysis.vocabSketch(docs, col("text"), col("lang"), k = 200, m = 10)
      val exact = docs.select(col("lang").as("grp"),
          explode(Dedup.tokens(lower(col("text")))).as("token"))
        .groupBy("grp", "token").agg(count(lit(1)).as("_true"))
      sk.join(exact, Seq("grp", "token"), "left")
        .select(col("grp"), col("rank"),
          (col("est_count") >= coalesce(col("_true"), lit(0L)) &&
           col("est_count") - col("max_err") <= coalesce(col("_true"), lit(0L)))
            .as("within_bound"))
        .orderBy("grp", "rank")
    },
      """SELECT l.lang AS grp, CAST(g.r AS BIGINT) AS rank, TRUE AS within_bound
        |FROM (SELECT DISTINCT lang FROM documents) l
        |CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS r) g
        |ORDER BY grp, rank""".stripMargin),
    // ---- quality scoring (Gopher-style keep rule)
    QuerySpec("q51_quality", (s, dir) => {
      TextAnalysis.quality(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text")).orderBy("doc_id")
    }, {
      val stopList = TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH ${TextOracle.toksCte()},
         |sc AS (SELECT d.doc_id AS doc_id, CAST(length(d.text) AS INTEGER) AS n_chars,
         |  CAST(len(t) AS INTEGER) AS n_tokens,
         |  CAST(length(regexp_replace(d.text, '[^A-Za-z]', '', 'g')) AS INTEGER) AS n_alpha,
         |  CAST(len(list_filter(t, x -> x IN ($stopList))) AS INTEGER) AS n_stop,
         |  CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS INTEGER) AS n_tok_chars
         |  FROM documents d JOIN toks ON d.doc_id = toks.doc_id),
         |m AS (SELECT *,
         |  CASE WHEN n_tokens > 0 THEN CAST(n_tok_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS mean_token_len,
         |  CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS alpha_ratio,
         |  CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stop_ratio
         |  FROM sc)
         |SELECT doc_id, n_chars, n_tokens, n_alpha, n_stop, n_tok_chars, mean_token_len, alpha_ratio, stop_ratio,
         |  (n_tokens >= 10 AND n_tokens <= 100000 AND mean_token_len >= 2.0
         |   AND mean_token_len <= 12.0 AND alpha_ratio >= 0.5) AS keep
         |FROM m ORDER BY doc_id""".stripMargin
    }),
    // ---- Gopher repetition rules: duplicate-bigram fraction + top-bigram
    //      share, one codegen kernel pass (sort + run-length, no HashMap)
    QuerySpec("q68_repetition", (s, dir) => {
      TextAnalysis.repetition(s.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text")).orderBy("doc_id")
    },
      // non-distinct bigram counts by STRING grouping (Spark counts the mod-P
      // rolling hash — same ~1e-9 collision trade as the Jaccard oracles);
      // ratios are single divisions of identical exact integers in both engines
      s"""WITH ${TextOracle.toksCte()},
         |bg AS (SELECT doc_id, CASE WHEN len(t) >= 2
         |  THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
         |  ELSE CAST([] AS VARCHAR[]) END AS g FROM toks),
         |st AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams,
         |  CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
         |  CAST(coalesce(list_max(list_transform(list_distinct(g),
         |    x -> len(list_filter(g, y -> y = x)))), 0) AS BIGINT) AS top_cnt FROM bg),
         |m AS (SELECT *,
         |  CASE WHEN n_grams > 0 THEN CAST(n_grams - n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE) ELSE 0.0 END AS dup_frac,
         |  CASE WHEN n_grams > 0 THEN CAST(top_cnt AS DOUBLE) / CAST(n_grams AS DOUBLE) ELSE 0.0 END AS top_frac
         |  FROM st)
         |SELECT doc_id, n_grams, n_distinct, top_cnt, dup_frac, top_frac,
         |  (dup_frac <= 0.05 AND top_frac <= 0.06) AS repetition_keep
         |FROM m ORDER BY doc_id""".stripMargin),
    // ---- GEO-SCOPED image near-dup: pairs that are BOTH perceptual
    //      near-dups (phash hamming ≤ 1) AND spatially close ("same scene
    //      re-uploaded"). Spatial cell blocking replaces corpus-wide hash
    //      banding — exact hamming, exchange ∝ co-located pairs. The
    //      fixture makes BOTH gates bite: groups of 4 share a location
    //      cluster, groups of 8 share a phash family, and within a group
    //      only xor-popcount ≤ 1 id pairs survive.
    QuerySpec("q7u_geo_neardup", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"),
        (Derive.lonMicro(expr("doc_id div 4") * 31L + 7L) +
          (col("doc_id") % 4) * 400000L).as("lon"),
        (Derive.latMicro(expr("doc_id div 4") * 17L + 3L) +
          (col("doc_id") % 4) * 300000L).as("lat"),
        graft.functions.TextFunctions.charHash64(expr("cast(doc_id div 8 as string)"))
          .bitwiseXOR(col("doc_id") % 8).as("ph"))
      Dedup.geoHammingPairs(docs, col("doc_id"), col("lon"), col("lat"),
          col("ph"), radiusMicro = 2000000L, level = 9, maxDist = 1)
        .orderBy("id_a", "id_b")
    },
      s"""WITH d0 AS (SELECT doc_id,
         |    ${Derive.lonSql("(doc_id // 4 * 31 + 7)")} + (doc_id % 4) * 400000 AS lon,
         |    ${Derive.latSql("(doc_id // 4 * 17 + 3)")} + (doc_id % 4) * 300000 AS lat,
         |    xor(${TextOracle.charHash64Sql("CAST(doc_id // 8 AS VARCHAR)")}, doc_id % 8) AS ph
         |  FROM documents)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.ph, b.ph)) AS INTEGER) AS hamming,
         |  (b.lon - a.lon) * (b.lon - a.lon) + (b.lat - a.lat) * (b.lat - a.lat) AS d2
         |FROM d0 a JOIN d0 b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ph, b.ph)) <= 1
         |  AND (b.lon - a.lon) * (b.lon - a.lon) + (b.lat - a.lat) * (b.lat - a.lat)
         |      <= ${2000000L * 2000000L}
         |ORDER BY id_a, id_b""".stripMargin),
  )
}
