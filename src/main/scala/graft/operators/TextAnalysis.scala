package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Text-analysis operators for training-data curation: language-ID
  * (marker-word heuristic), quality scoring (length / alpha / stopword
  * ratios, Gopher-style keep rule), token counting (whitespace + word-regex)
  * and document fingerprinting (rolling hash + min-shingle).
  *
  * Every metric here is built from integer counts and single double
  * divisions, so the DuckDB oracle twins reproduce values bit-exactly —
  * the same discipline as the geo kernels. All column builders are Spark
  * builtins (codegen'd, pushdown-friendly); only the fingerprints use the
  * custom char_hash expression.
  */
object TextAnalysis {

  /** Marker-word tables for the n-gram/stopword language heuristic.
    * Deterministic and tiny — a real pipeline would swap in fastText; the
    * *operator shape* (per-doc scoring + argmax) is what scales.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "a", "to"),
    "de" -> Seq("der", "und", "die", "das", "ist"),
    "es" -> Seq("el", "de", "que", "la", "los"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Per-doc language scores + argmax prediction (ties → first by the
    * scoring order below). Score = number of tokens that are marker words
    * for the language — `size(filter(tokens, _ == w))`, which DuckDB mirrors
    * as `len(list_filter(toks, x -> x = w))`.
    */
  def langId(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    // all 25 marker counts from ONE codegen pass (functions.LangBridge) —
    // the previous 25 interpreted size(filter(...)) lambda scans were
    // 13.8 s at 8M docs; Generate barrier pins the kernel to one eval
    val markerBytes = langMarkers.map(_._2.map(_.getBytes("UTF-8")).toArray).toArray
    val scored = df.select(idCol.as("doc_id"),
        explode(array(graft.functions.TextFunctions.langScores(textCol, markerBytes))).as("_s"))
      .select(col("doc_id") +: langMarkers.zipWithIndex.map { case ((lang, _), i) =>
        element_at(col("_s"), i + 1).cast("int").as(s"score_$lang")
      }: _*)
    val best = langMarkers.map(_._1).sorted.map(l =>
      struct(col(s"score_$l").as("s"), lit(l).as("l")))
    // argmax with deterministic tie-break: strict > keeps the EARLIER
    // (alphabetically-first) language on equal scores — the DuckDB oracle
    // encodes the same rule; do not "fix" to >= without changing both
    val pred = best.reduce((a, b) =>
      when(b.getField("s") > a.getField("s"), b).otherwise(a))
    scored.withColumn("pred_lang", pred.getField("l"))
  }

  /** Quality metrics + Gopher-style keep flag. All ratios are single double
    * divisions of exact integer counts.
    */
  val stopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")

  def quality(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    // counts from ONE codegen byte pass (functions.QualityBridge) — the
    // previous split/filter/transform/aggregate HOF chain ran interpreted
    // lambdas 3x per row (same lesson as normalize; parity spec-gated
    // against the HOF build, oracle unchanged). explode(array(..)) pins
    // the kernel to one evaluation (CollapseProject re-inline).
    df.select(idCol.as("doc_id"),
        explode(array(graft.functions.TextFunctions.qualityStats(textCol))).as("_q"))
      .select(
        col("doc_id"),
        element_at(col("_q"), 1).cast("int").as("n_chars"),
        element_at(col("_q"), 2).cast("int").as("n_tokens"),
        element_at(col("_q"), 3).cast("int").as("n_alpha"),
        element_at(col("_q"), 4).cast("int").as("n_stop"),
        element_at(col("_q"), 5).cast("int").as("n_tok_chars"))
      .withColumn("mean_token_len",
        when(col("n_tokens") > 0,
          col("n_tok_chars").cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("alpha_ratio",
        when(col("n_chars") > 0, col("n_alpha").cast("double") / col("n_chars").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("stop_ratio",
        when(col("n_tokens") > 0, col("n_stop").cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("keep",
        col("n_tokens") >= 10 && col("n_tokens") <= 100000 &&
        col("mean_token_len") >= 2.0 && col("mean_token_len") <= 12.0 &&
        col("alpha_ratio") >= 0.5)

  /** Gopher-style REPETITION metrics (the published repetition-removal
    * rules boilerplate/spam filters run before training): per doc, the
    * duplicate-n-gram fraction and the most-frequent n-gram's share of all
    * n-grams, plus the keep flag at the given thresholds. All three counts
    * come from ONE codegen kernel pass over the token array (sort +
    * run-length; the HOF pipeline would re-tokenize per element — the
    * measured ~19 µs/shingle interpreted tax). Narrow, no shuffle: at
    * 100 TB this is a map-only scan like the other quality ops. Ratios are
    * single divisions of exact integer counts (oracle-parity rule).
    */
  def repetition(df: DataFrame, idCol: Column, textCol: Column, n: Int = 2,
                 maxDupFrac: Double = 0.05, maxTopFrac: Double = 0.06): DataFrame =
    // explode(array(..)) = a Generate node, deliberately: a plain alias gets
    // re-inlined by CollapseProject and the kernel would run once per
    // downstream reference (~10x/row through the ratio/keep columns —
    // measured 150 s on 8M captions); Generate is a projection barrier,
    // so the kernel runs exactly once per row
    df.select(idCol.as("doc_id"),
        explode(array(graft.functions.TextFunctions.repetitionStats(
          Dedup.tokens(textCol), n))).as("_r"))
      .select(col("doc_id"),
        element_at(col("_r"), 1).as("n_grams"),
        element_at(col("_r"), 2).as("n_distinct"),
        element_at(col("_r"), 3).as("top_cnt"))
      .withColumn("dup_frac", when(col("n_grams") > 0,
        (col("n_grams") - col("n_distinct")).cast("double") / col("n_grams").cast("double"))
        .otherwise(lit(0.0)))
      .withColumn("top_frac", when(col("n_grams") > 0,
        col("top_cnt").cast("double") / col("n_grams").cast("double"))
        .otherwise(lit(0.0)))
      .withColumn("repetition_keep",
        col("dup_frac") <= maxDupFrac && col("top_frac") <= maxTopFrac)

  /** Token counts: whitespace tokens + BPE-ish word-piece regex matches
    * (letter runs, digit runs, single punctuation marks).
    */
  val WordPieceRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  // one codegen byte pass (functions.WordPieceBridge), semantics identical
  // to size(tokens) + regexp_count(WordPieceRegex) — parity spec-gated;
  // the java.util.regex scan was 24.3 s at 8M docs
  def tokenCounts(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.select(idCol.as("doc_id"),
        explode(array(graft.functions.TextFunctions.wordpieceCounts(textCol))).as("_w"))
      .select(col("doc_id"),
        element_at(col("_w"), 1).cast("int").as("n_ws_tokens"),
        element_at(col("_w"), 2).cast("int").as("n_wordpieces"))

  /** Vocabulary statistics AT SCALE: mergeable SpaceSaving heavy-hitters
    * summary per group (graft.functions.HeavyHittersAgg) instead of an
    * exact token groupBy — exact counting shuffles every distinct token
    * (fine at fixture scale, q56; a giant shuffle at 10^12 docs), the
    * summary is O(k) state per group with map-side partials. Guarantee:
    * every token with true frequency > n/k appears; est ∈ [true,
    * true + n/k] (spec-gated on zipf data incl. the merge path).
    * Output: one flat row per (group, rank) — no array columns.
    */
  def vocabSketch(df: DataFrame, textCol: Column, by: Column,
                  k: Int = 200, m: Int = 20): DataFrame =
    df.select(by.as("grp"), explode(Dedup.tokens(lower(textCol))).as("tok"))
      .groupBy("grp")
      .agg(graft.functions.HeavyHittersAgg.heavyHitters(col("tok"), k, m).as("_hh"))
      .select(col("grp"), posexplode(col("_hh")))
      .select(col("grp"), (col("pos") + 1).cast("long").as("rank"),
        col("col.item").as("token"), col("col.est_count"), col("col.max_err"))

  /** Deterministic hash-split bucket in [0, 100): reproducible sampling /
    * dataset splits keyed on a stable id — `(charHash(id·salt) mod 100)`.
    * Content-addressed (no RNG state, no partition sensitivity), identical
    * in ANSI SQL, and stable under re-runs and repartitioning — the
    * properties training-data splits actually need.
    */
  def hashBucket(idCol: Column, salt: String): Column =
    pmod(charHash(concat(idCol.cast("string"), lit(":" + salt))), lit(100L))

  /** Canonical text normalization for dedup keys: lowercase, strip
    * non-alphanumerics (keep spaces), collapse whitespace, trim — the
    * standard pre-dedup canonicalization; DuckDB twin uses the same regex
    * chain with the 'g' flag.
    */
  /** Normalization contract (== the DuckDB oracle twin):
    * `trim(regexp_replace(regexp_replace(lower(s), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))`
    * — executed as ONE codegen byte pass (functions.NormBridge), not two
    * java regex NFAs per row; parity spec-gated against the regex chain.
    */
  def normalize(textCol: Column): Column =
    graft.functions.TextFunctions.normalizeText(textCol)

  /** LEAKAGE-SAFE train/val/test split: near-duplicate CLUSTERS are the
    * atomic unit — every member of a connected near-dup component gets the
    * split of its cluster id, so a near-copy of a training doc can never
    * land in val/test (the train/eval contamination failure mode a plain
    * per-doc hash split has). Singletons cluster as themselves. Same
    * content-addressed bucket scheme as `hashBucket`, keyed by cluster.
    *
    * Scale: cluster labels come from the caller's pair set (LSH-sized, not
    * corpus-sized); the corpus-side work is one left join + the hash map.
    */
  def leakageSafeSplit(df: DataFrame, idCol: Column, pairs: DataFrame,
                       salt: String): DataFrame =
    df.select(idCol.as("doc_id"))
      .join(Dedup.dupClusters(pairs), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket", hashBucket(col("cluster_id"), salt))
      .withColumn("split", when(col("bucket") < 80, "train")
        .when(col("bucket") < 90, "val").otherwise("test"))
      .select("doc_id", "cluster_id", "split")

  // -------------------------------------------------------------------
  // Learned BPE vocabulary (Sennrich et al. 2016, "Neural Machine
  // Translation of Rare Words with Subword Units" — public knowledge).
  //
  // Layout: the only corpus-scale stage is ONE distributed aggregate (the
  // distinct-word frequency table); the merge loop then runs on the
  // driver over that BOUNDED sketch — natural-language vocabularies
  // plateau at ~10^6–10^7 distinct words regardless of corpus size, which
  // is exactly why every published BPE trainer (subword-nmt, fastBPE, the
  // HF trainer) works off the word-frequency table rather than re-scanning
  // the corpus per merge. The "each merge a distributed groupBy"
  // alternative costs numMerges full corpus scans for identical output.
  // Encoding (the per-document hot path) is fully distributed.
  // -------------------------------------------------------------------

  final case class BpeMerge(rank: Int, lhs: String, rhs: String, cnt: Long)

  /** Code-point symbols of a word (matches DuckDB's w[i:i] slicing). */
  private def symbolsOf(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** ONE merge applied greedily left-to-right, non-overlapping — in a run
    * of identical symbols, merges land at positions 0, 2, 4… of the run
    * (the standard BPE apply rule; the q6i oracle reproduces it with an
    * islands + odd-rank window).
    */
  private def applyMergeGreedy(syms: Array[String], l: String, r: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { out += l + r; i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Train `numMerges` BPE merges over whitespace-tokenized, lowercased
    * text. Pair counts weight by word frequency and count EVERY adjacent
    * occurrence (overlaps included); ties break (count DESC, then
    * lhs+US+rhs ASC) so the result is deterministic and the DuckDB twin
    * recomputes it exactly (q6i). `maxVocab` guards the driver collect:
    * the word table is counted first and collected only under the cap.
    */
  def bpeTrain(df: DataFrame, textCol: Column, numMerges: Int,
               maxVocab: Long = 1000000L): Seq[BpeMerge] = {
    val words = df.select(explode(Dedup.tokens(lower(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    val nWords = words.count()
    require(nWords <= maxVocab,
      s"$nWords distinct words exceed maxVocab=$maxVocab — raise the cap " +
        "or pre-filter the corpus; the merge loop needs the word table in memory")
    val rows = words.collect()
    var table = rows.map(r => (symbolsOf(r.getString(0)), r.getLong(1)))
    val out = Seq.newBuilder[BpeMerge]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      table.foreach { case (syms, f) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          cnt.update(k, cnt.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (cnt.isEmpty) exhausted = true
      else {
        val best = cnt.iterator.reduceLeft { (a, b) =>
          val (ka, ca) = a; val (kb, cb) = b
          if (cb > ca || (cb == ca &&
              (kb._1 + '\u001f' + kb._2) < (ka._1 + '\u001f' + ka._2))) b else a
        }
        out += BpeMerge(rank, best._1._1, best._1._2, best._2)
        table = table.map { case (syms, f) =>
          (applyMergeGreedy(syms, best._1._1, best._1._2), f)
        }
        rank += 1
      }
    }
    out.result()
  }

  /** Distributed BPE ENCODE with a learned merge table: per token, merges
    * apply in rank order with the same greedy rule as training, so
    * encoding the training corpus reproduces the trainer's final state
    * (the q6j oracle leans on exactly this equivalence). Output:
    * (doc_id, pieces array<string>). For production merge counts (30k+)
    * swap the rank-ordered scan for a pair→rank heap per token — the
    * public fastBPE layout; at oracle-scale K the scan is simpler and
    * identical.
    */
  def bpeEncode(df: DataFrame, idCol: Column, textCol: Column,
                merges: Seq[BpeMerge]): DataFrame = {
    val spark = df.sparkSession
    val ordered = merges.sortBy(_.rank).map(m => (m.lhs, m.rhs)).toArray
    val bc = spark.sparkContext.broadcast(ordered)
    val base = df.select(idCol.as("doc_id"), Dedup.tokens(lower(textCol)).as("toks"))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(
      org.apache.spark.sql.types.StructType(base.schema.fields.init :+
        org.apache.spark.sql.types.StructField("pieces",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, containsNull = false))))
    base.mapPartitions { it =>
      val ms = bc.value
      it.map { r =>
        val toks = r.getSeq[String](1)
        val pieces = toks.flatMap { tok =>
          var syms = symbolsOf(tok)
          var k = 0
          while (k < ms.length) {
            val (l, rr) = ms(k)
            syms = applyMergeGreedy(syms, l, rr)
            k += 1
          }
          syms
        }
        org.apache.spark.sql.Row(r.get(0), pieces)
      }
    }(enc)
  }

  /** Document fingerprints: full-text rolling hash + min-shingle hash
    * (content-defined, order-robust to prefix edits).
    */
  def fingerprints(df: DataFrame, idCol: Column, textCol: Column, n: Int = 3): DataFrame =
    df.select(idCol.as("doc_id"), charHash(textCol).as("text_hash"),
        shingleHashes(Dedup.tokens(textCol), n).as("_gha"))
      .select(col("doc_id"), col("text_hash"),
        when(size(col("_gha")) > 0, element_at(col("_gha"), 1))
          .otherwise(lit(-1L)).as("min_shingle")) // _gha sorted asc ⇒ [1] is min

  // -------------------------------------------------------------------
  // CCNet-shape LM quality filtering (Wenzek et al. 2020, public
  // knowledge): train a language model on a trusted subset, score the
  // whole corpus with it, filter on the score. The model here is a bigram
  // coverage model with EXACT-INTEGER features (counts + single double
  // divisions — the repo's oracle-parity discipline; a perplexity with
  // transcendental log sums would not hash-match a DuckDB twin
  // bit-for-bit, and the operator SHAPE — train-on-subset, broadcast
  // model, map-side score, threshold — is identical).
  // -------------------------------------------------------------------

  /** Adjacent lowercased token pairs of each doc — EVERY occurrence, not
    * distinct (each bigram instance is scored). Rows: (doc_id, lhs, rhs).
    */
  private def bigrams(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.select(idCol.as("doc_id"), Dedup.tokens(lower(textCol)).as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("t")) - 1),
        i => struct(element_at(col("t"), i).as("lhs"),
          element_at(col("t"), i + 1).as("rhs")))).as("bg"))
      .select(col("doc_id"), col("bg.lhs"), col("bg.rhs"))

  /** Train the bigram table on `train`: (lhs, rhs, cnt) for every pair seen
    * ≥ `minCount` times. ONE distributed hash-aggregate over the training
    * subset — map-side combine, state bounded by the observed-bigram
    * vocabulary (zipf-bounded ≪ corpus size, the same plateau argument as
    * [[bpeTrain]]), no driver collect.
    */
  def lmTrain(train: DataFrame, textCol: Column, minCount: Long = 2L): DataFrame =
    bigrams(train, lit(0L), textCol)
      .groupBy("lhs", "rhs").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)

  /** Score every doc against a trained bigram `model`: n_bigrams, n_hits
    * (bigram instances present in the model), hit_weight (Σ model counts
    * over hits — the exact-integer evidence mass), hit_rate = n_hits /
    * n_bigrams, and keep at `minHitRate`. Docs with < 2 tokens score 0 / 0
    * / 0.0 / keep=false.
    *
    * Scale: the model is broadcast (bounded by the trained-bigram table,
    * NOT the corpus — same posture as the tag dictionary); the corpus makes
    * one narrow pass exploding bigram instances, the join is map-side, and
    * the per-doc aggregate combines partially. Past broadcast size, drop
    * the hint and let AQE shuffle — semantics identical.
    */
  def lmScore(df: DataFrame, idCol: Column, textCol: Column, model: DataFrame,
              minHitRate: Double = 0.5): DataFrame = {
    val scored = bigrams(df, idCol, textCol)
      .join(broadcast(model), Seq("lhs", "rhs"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("cnt").isNotNull, 1L).otherwise(0L)).as("n_hits"),
        sum(coalesce(col("cnt"), lit(0L))).as("hit_weight"))
    df.select(idCol.as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("hit_weight"), lit(0L)).as("hit_weight"))
      .withColumn("hit_rate",
        when(col("n_bigrams") > 0,
          col("n_hits").cast("double") / col("n_bigrams").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("lm_keep", col("n_bigrams") > 0 && col("hit_rate") >= minHitRate)
  }

  /** Fixed-point scale for [[importanceResample]] feature weights. */
  val DSIR_SCALE: Long = 1L << 16
  /** Per-feature ratio clip — keeps score·1e6 in int64 for docs up to
    * ~2M tokens (1e6 · n · 64 · 2^16 < 2^63 ⇔ n < 2.2e6).
    */
  val DSIR_RATIO_CAP: Long = 64L

  /** Hashed n-gram importance resampling — the DSIR shape (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling", public
    * knowledge): estimate how much more likely each corpus document's
    * hashed-bigram bag is under a TARGET text distribution than under the
    * RAW corpus, then keep documents by a deterministic content-addressed
    * draw against that importance score — the "make the corpus look like
    * the target" curation verb.
    *
    * Fixed-point discipline (documented deviation from the paper): DSIR
    * sums per-feature LOG-likelihood ratios in float; this engine quantizes
    * the per-feature ratio itself to exact int64 —
    *   w_f = min(DSIR_RATIO_CAP·SCALE,
    *             (SCALE·(cnt_target(f)+1)) div (cnt_raw(f)+1))
    * (add-one smoothing on both models) and scores
    *   score(doc) = Σ_bigram-instances w_{f(g)}
    * — a rational-ratio surrogate over the same per-feature evidence that
    * keeps the whole path AND the DuckDB twin integer-exact: float enters
    * nowhere, so a keep decision can never flip on a libm ulp.
    *
    * Keep rule (cross-multiplied, division-free): with
    *   draw = charHash64(id:salt) mod 1e6,
    *   keep ⇔ n_grams > 0 ∧ draw·n_grams·SCALE·tau < score·1e6
    * i.e. accept with probability min(1, avg_ratio/tau); integer `tau ≥ 1`
    * is the sampling temperature (higher = more selective), playing the
    * role of DSIR's resampling normalizer.
    *
    * Scale: both feature models are ONE hash-aggregate each into
    * ≤ numBuckets rows (map-side combine — aggregate state is
    * bucket-bounded, never corpus-bounded); the weight table (≤ numBuckets
    * rows) broadcasts; scoring is one narrow bigram pass map-side-joined
    * against it with a partially-combining per-doc aggregate — the corpus
    * text never shuffles (same posture as lmScore/decontaminate). The raw
    * model and the scoring are two scans of the corpus; a deployment
    * caches the hashed-feature projection between them.
    */
  def importanceResample(corpus: DataFrame, idCol: Column, textCol: Column,
                         target: DataFrame, targetText: Column,
                         numBuckets: Int = 1 << 16, tau: Int = 2,
                         salt: String = "dsir"): DataFrame = {
    require(numBuckets > 0 && tau >= 1, "numBuckets > 0 and tau >= 1 required")
    def feats(df: DataFrame, id: Column, text: Column): DataFrame =
      bigrams(df, id, text).select(col("doc_id"),
        pmod(charHash64(concat(col("lhs"), lit(" "), col("rhs"))),
          lit(numBuckets.toLong)).as("f"))
    val corpusFeats = feats(corpus, idCol, textCol)
    val tCnt = feats(target, lit(0L), targetText)
      .groupBy("f").agg(count(lit(1)).as("cnt_t"))
    val rCnt = corpusFeats.groupBy("f").agg(count(lit(1)).as("cnt_r"))
    // every corpus feature appears in the raw model by construction, so a
    // left join covers scoring; integer div truncation == DuckDB // here
    // (both operands non-negative)
    val weights = rCnt.join(tCnt, Seq("f"), "left")
      .select(col("f"), least(lit(DSIR_RATIO_CAP * DSIR_SCALE),
        expr(s"(CAST($DSIR_SCALE AS BIGINT) * (coalesce(cnt_t, CAST(0 AS BIGINT)) + 1))" +
          " div (cnt_r + 1)")).as("w"))
    val scored = corpusFeats.join(broadcast(weights), Seq("f"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(col("w")).as("score"))
    corpus.select(idCol.as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("score"), lit(0L)).as("score"))
      .withColumn("draw", pmod(charHash64(
        concat(col("doc_id").cast("string"), lit(":" + salt))), lit(1000000L)))
      .withColumn("kept", col("n_grams") > 0 &&
        col("draw") * col("n_grams") * lit(DSIR_SCALE * tau) <
          col("score") * lit(1000000L))
  }

  /** Per-group document cap (the "domain cap" curation rule — bound any one
    * source/domain/language's share of the corpus): keep at most `cap` docs
    * per group, chosen in content-addressed hash order (charHash64 of
    * id:salt — reproducible across runs/partitionings, no RNG state; ties
    * on the astronomically-unlikely hash collision break by id).
    *
    * Output: (grp, rk 1-based in hash order, doc_id, sample_key).
    *
    * Scale: NOT a row_number window (that sorts every group's full
    * membership on an exchange and serializes each group through one
    * partition — the skew trap when one domain is half the corpus). The
    * bounded k-heap aggregate (graft.functions.KnnTopKAgg) keeps O(cap)
    * state per group with map-side partials: the shuffle carries ≤ cap rows
    * per group per map partition and no sort node exists in the plan — the
    * same replacement the kNN joins made (round-2 verdict #8).
    */
  def groupCap(df: DataFrame, idCol: Column, byCol: Column, cap: Int,
               salt: String): DataFrame =
    df.select(byCol.as("grp"), idCol.cast("long").as("doc_id"))
      .withColumn("sk",
        charHash64(concat(col("doc_id").cast("string"), lit(":" + salt))))
      .groupBy("grp")
      .agg(graft.functions.KnnTopKAgg.knnTopK(
        struct(col("sk"), col("doc_id")), cap).as("_k"))
      .select(col("grp"), posexplode(col("_k")))
      .select(col("grp"), (col("pos") + 1).cast("long").as("rk"),
        col("col.id").as("doc_id"), col("col.d").as("sample_key"))

  /** GPT-style sequence packing (concat-then-chunk, the standard
    * pretraining layout): documents are laid end-to-end in a deterministic
    * content-addressed order (charHash64 of the id + salt, ties by id) with
    * one EOS token appended per doc, and the resulting token stream is cut
    * into fixed `seqLen` windows. Output is one row per doc — its global
    * token offset and the first/last training sequence it lands in — i.e.
    * the packing MANIFEST a loader shards on.
    *
    * Scale: the only global state is the running token offset. A naive
    * `sum().over(Window.orderBy(...))` is a single-partition window —
    * instead this range-partitions on the sample key, cumulative-sums
    * WITHIN partitions in parallel, and adds per-partition offsets (a
    * partition-count-sized collect — scalar metadata, not data; the same
    * two-pass trick as TagDictionary.build). Token counts come from the
    * one-pass wordpieceCounts byte kernel (whitespace convention), so the
    * scan is map-only before the range exchange.
    *
    * Determinism: content-addressed order makes the manifest stable under
    * re-runs, input repartitioning and input row order — the property a
    * resumable packing job actually needs (spec-gated).
    */
  def packSequences(df: DataFrame, idCol: Column, textCol: Column,
                    seqLen: Int, salt: String): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val base = df.select(idCol.cast("long").as("doc_id"),
        (element_at(wordpieceCounts(textCol), 1).cast("long") + 1L).as("n_tok"))
    withGlobalOffsets(base, salt)
      // `div` (integral), never `/`+cast — long/int division through double
      // silently loses exactness past 2^53 global tokens, which a 100 TB
      // corpus actually reaches
      .select(col("doc_id"), col("n_tok"), col("sample_key"), col("tok_start"),
        expr(s"tok_start div $seqLen").as("seq_first"),
        expr(s"(tok_start + n_tok - 1) div $seqLen").as("seq_last"),
        (col("tok_start") % seqLen).as("offset_in_seq"))
  }

  /** Shared packing core: attach the GLOBAL token offset (`tok_start`) to a
    * (doc_id, n_tok, extras…) frame in content-addressed (charHash64(id:salt),
    * id) order. Two-pass bucket-offset cumsum: buckets are FIXED-WIDTH key
    * ranges over charHash64's [0, P²) output (bucket = key div width — a
    * deterministic function of the row, uniform because the hash is), so
    * bucket-id order IS global order. Pass 1 is a narrow groupBy(bucket)
    * sum collected to a bucket-count-sized prefix map; pass 2 is the
    * in-bucket window cumsum, whose partitionBy supplies the only exchange
    * — extras ride it, so materialization never re-joins the corpus.
    * No repartitionByRange (its bounds come from a nondeterministic sample
    * job) and no localCheckpoint: the old pin-the-layout design kept the
    * whole keyed frame in executor storage, and un-GC'd checkpoint blocks
    * from earlier pipeline stages measurably crushed later ones (packTokens
    * at 8M: 99 s under accumulated pins vs 5–9 s clean — see
    * BENCH/BASELINE.md round 4).
    */
  private def withGlobalOffsets(base: DataFrame, salt: String): DataFrame = {
    val spark = base.sparkSession
    val parts = math.max(2, spark.sparkContext.defaultParallelism / 2)
    val P = graft.core.TextHash.P
    val width = P * P / parts + 1
    val ranged = base
      .withColumn("sample_key",
        charHash64(concat(col("doc_id").cast("string"), lit(":" + salt))))
      .withColumn("_pid", expr(s"sample_key div $width"))
    val counts = ranged.groupBy("_pid").agg(sum("n_tok").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val offsets = (0 until parts).scanLeft(0L)((acc, p) => acc + counts.getOrElse(p.toLong, 0L))
    // O(1) per-row lookup: an array-literal element_at, NOT a parts-deep
    // CASE chain — defaultParallelism on a real cluster is 10^3..10^4 and a
    // linear WHEN fold is both O(parts) per row and a codegen method-size
    // hazard (round-4 advice #3).
    val offsetExpr = element_at(
      typedLit(offsets.take(parts).toSeq), col("_pid").cast("int") + 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_pid").orderBy("sample_key", "doc_id")
    ranged.withColumn("tok_start", offsetExpr + sum("n_tok").over(w) - col("n_tok"))
  }

  /** End-of-document sentinel appended to every doc's token stream. */
  val EosToken = "</s>"

  /** Packed-sequence MATERIALIZATION (the step after the [[packSequences]]
    * manifest): emits one row per fixed-length training sequence —
    * `(seq_id, n_filled, seq_hash)` where `seq_hash` fingerprints the
    * space-joined tokens in stream order (rows stay narrow; a shard writer
    * would emit the token array instead of its hash). Tokens are the
    * whitespace convention + one [[EosToken]] per doc, identical to the
    * manifest's counts, so `packTokens` and `packSequences` describe the
    * same stream (spec-gated).
    *
    * Scale: the doc text rides the ONE range exchange of the offset pass
    * (no manifest re-join), and the only other shuffle moves each doc's
    * contribution to its sequences — the irreducible data motion of
    * materialization. That shuffle is per doc-sequence OVERLAP, not per
    * token: a doc's tokens are one contiguous run of the stream, so its
    * slice into each overlapped sequence is pre-joined into a single
    * chunk string map-side (≈1 row per doc for seqLen ≫ doc length,
    * vs one row per token). With the checkpoint-free offset pass this
    * measures 11 s at 8M docs / 48M tokens (was 99–105 s under the old
    * pinned-checkpoint design — BENCH/BASELINE.md round 4). Every
    * sequence is exactly seqLen tokens except the final partial one
    * (invariant tested).
    */
  def packTokens(df: DataFrame, idCol: Column, textCol: Column,
                 seqLen: Int, salt: String): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    // array_remove, not filter(_ =!= "") — the HOF lambda is interpreted
    // (blocks codegen, ~26 s map-only at 8M just to tokenize); array_remove
    // is a codegen expression with identical drop-empties semantics
    val base = df.select(idCol.cast("long").as("doc_id"),
      concat(array_remove(split(textCol, "\\s+"), ""),
        array(lit(EosToken))).as("t"))
      .withColumn("n_tok", size(col("t")).cast("long"))
    withGlobalOffsets(base, salt)
      .select(col("tok_start"), col("n_tok"), col("t"),
        explode(sequence(expr(s"tok_start div $seqLen"),
          expr(s"(tok_start + n_tok - 1) div $seqLen"))).as("seq_id"))
      // the doc's token run ∩ [seq_id*L, (seq_id+1)*L) — slice() is
      // 1-based; `from` is the doc-local index of the overlap start
      .select(col("seq_id"),
        greatest(col("seq_id") * seqLen, col("tok_start")).as("from_g"),
        (least((col("seq_id") + 1) * seqLen, col("tok_start") + col("n_tok"))
          - greatest(col("seq_id") * seqLen, col("tok_start"))).as("len"),
        col("tok_start"), col("t"))
      .select(col("seq_id"), col("from_g"), col("len"),
        concat_ws(" ", slice(col("t"),
          (col("from_g") - col("tok_start") + 1).cast("int"),
          col("len").cast("int"))).as("chunk"))
      .groupBy(col("seq_id"))
      .agg(sum(col("len")).as("n_filled"),
        charHash(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("from_g"), col("chunk")))),
            s => s.getField("chunk")))).as("seq_hash"))
  }

  /** Domain-mixture resampling: re-weight the corpus to target per-domain
    * rates, expressed as exact integers in parts-per-million so both the
    * distributed path and the SQL twin evaluate the SAME integer predicate
    * (no float sampling probabilities on a keep decision — house rule).
    * A rate of 1_000_000 keeps every row once; below it down-samples;
    * above it UP-samples: every doc emits `rate / 1e6` guaranteed copies
    * plus one more iff its uniform draw `u = charHash64(id:salt) mod 1e6`
    * falls below the fractional remainder. Content-addressed draws make
    * the sample a pure function of (id, salt) — stable under re-runs,
    * repartitioning and resumption, and disjoint salts give independent
    * draws (the DoReMi / Pile-style mixture-application step).
    *
    * Scale: map-side only — a literal map lookup, one hash, one
    * `explode(sequence(...))`; no shuffle, no RNG state. Output carries
    * `copy_no` (0-based) so downstream packing can distinguish epochs of
    * an up-sampled doc.
    */
  def mixtureSample(df: DataFrame, idCol: Column, domainCol: Column,
                    ratesPpm: Map[String, Long], defaultPpm: Long,
                    salt: String): DataFrame = {
    require(defaultPpm >= 0 && ratesPpm.values.forall(_ >= 0), "rates must be >= 0")
    val M = 1000000L
    val rateExpr = ratesPpm.toSeq.sortBy(_._1).foldLeft(lit(defaultPpm)) {
      case (e, (dom, ppm)) => when(domainCol === dom, lit(ppm)).otherwise(e)
    }
    df.select(idCol.cast("long").as("doc_id"), domainCol.as("domain"),
        rateExpr.as("ppm"),
        pmod(charHash64(concat(idCol.cast("string"), lit(":" + salt))), lit(M)).as("u"))
      .withColumn("n_copies",
        expr(s"ppm div $M") +
          when(col("u") < col("ppm") % M, 1L).otherwise(0L))
      .where(col("n_copies") > 0)
      .select(col("doc_id"), col("domain"), col("u"),
        explode(sequence(lit(0L), col("n_copies") - 1L)).as("copy_no"))
  }

  /** Email pattern — RE2-safe (no backrefs / lookarounds), identical
    * semantics under java.util.regex and DuckDB's RE2.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  /** North-American-style phone: ddd-ddd-dddd. */
  val PhoneRe = "[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"
  /** Dotted-quad IPv4 (syntactic — no octet range check, per C4 practice). */
  val Ipv4Re = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"

  /** PII redaction (the C4/CCNet-style scrub that runs before training):
    * replaces emails, phone numbers and IPv4 addresses with typed
    * placeholder tokens and counts each category from the ORIGINAL text.
    * Replacement order is fixed email → ip → phone (an email eats its
    * dotted host before the IP pattern can see it; the remaining patterns
    * are disjoint). Patterns are RE2-compatible by construction so the
    * DuckDB twin runs the byte-identical scrub.
    *
    * Scale: map-only — three codegen'd regexp passes per row, no shuffle;
    * at 100 TB this pipelines with the other per-doc quality scans.
    * Output keeps the row narrow (hash + length of the redacted text, the
    * q54 discipline); callers wanting the text itself use `redactedText`.
    */
  def redactedText(textCol: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(textCol, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  def redactPii(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val red = redactedText(textCol)
    df.select(idCol.cast("long").as("doc_id"),
      regexp_count(textCol, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(textCol, lit(Ipv4Re)).cast("long").as("n_ips"),
      regexp_count(textCol, lit(PhoneRe)).cast("long").as("n_phones"),
      charHash(red).as("red_hash"),
      length(red).cast("long").as("red_len"))
  }
}
