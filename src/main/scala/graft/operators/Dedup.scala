package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions._

/** Deduplication operators for large-scale training-data pipelines — the ops
  * a 100 TB text corpus needs before training (exact dedup, MinHash-LSH,
  * SimHash, n-gram Jaccard). No reference counterpart (OSHDB is spatial);
  * these extend the engine per the task brief, built in the same style:
  * shared integer kernels (graft.core.TextHash), declarative plans, oracle
  * SQL twins where ANSI-expressible.
  *
  * Scale notes per operator are in each method's doc.
  */
object Dedup {

  /** Whitespace tokens, empties dropped — semantics chosen to be
    * bit-identical to the DuckDB twin
    * `list_filter(string_split_regex(text,'\s+'), x -> x <> '')`.
    */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= lit(""))

  /** Distinct word n-grams (shingles) of a token array, space-joined. */
  def wordNgrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*))))
      .otherwise(array().cast("array<string>"))

  /** Exact dedup by content hash: one row per distinct text with its
    * canonical (minimum) id and the duplicate count.
    *
    * Scale: a single hash-aggregate on char_hash64(text) — map-side partial
    * combine, no row ever carries the full text through the shuffle. The key
    * is the combined 60-bit hash (TextHash.charHash64): a single mod-P hash
    * would false-merge distinct docs from ~45k distinct texts on (birthday
    * bound), i.e. hundreds of silently dropped documents at corpus scale.
    */
  def exactDedup(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.groupBy(charHash64(textCol).as("text_hash"))
      .agg(min(idCol).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Shingle-hash arrays per doc: (doc_id, gha sorted distinct array<long>,
    * sz = |gha|), via the codegen'd `shingle_hashes` kernel — the
    * string-building HOF pipeline (transform + concat_ws + element_at) was
    * measured at ~19 µs/shingle interpreted; the primitive kernel does the
    * identical rolling hash with zero intermediate strings. Dedup is by
    * hash (mod-P string collision ≈ 1e-9/pair — accepted, same trade the
    * array_intersect verify already makes).
    */
  private def shingleHashes(df: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame =
    df.select(idCol.as("doc_id"),
        graft.functions.TextFunctions.shingleHashes(tokens(textCol), n).as("gha"))
      .where(size(col("gha")) > 0)
      .select(col("doc_id"), col("gha"), size(col("gha")).as("sz"))

  /** Sorted-array intersection count (shared by both verify paths). */
  def intersectCount(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1 else j += 1
    }
    c
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs against the
    * docs' sorted shingle-hash arrays — |A∩B| in O(|A|+|B|) per pair, no
    * shingle-level fan-out (a cross-explode here is quadratic per pair and
    * was the measured bottleneck at sf0.1).
    *
    * Two physical paths, chosen by the number of DISTINCT docs appearing in
    * candidates: if they fit the driver (constant-width arrays ⇒ bounded),
    * their arrays are collected once and BROADCAST — the verify becomes a
    * map over the pair list with zero array shuffles (the dim-side-broadcast
    * shape). Otherwise two hash joins ship the arrays to the pairs.
    */
  private def verifyPairs(cand0: DataFrame, sh: DataFrame, threshold: Double,
                          maxBroadcastDocs: Long = 200000L): DataFrame = {
    // 200k docs × ~100 shingles × 8 B ≈ 160 MB driver map — the previous
    // 2M default risked multi-GB driver state; above this the join path runs.
    val spark = cand0.sparkSession
    val cand = cand0.localCheckpoint() // candidate generation runs ONCE
    val ids = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b").as("doc_id"))).distinct()
    if (ids.count() <= maxBroadcastDocs) {
      val m = new java.util.HashMap[Any, Array[Long]]()
      sh.join(broadcast(ids), "doc_id").select("doc_id", "gha").collect()
        .foreach(r => m.put(r.get(0), r.getSeq[Long](1).toArray))
      val bc = spark.sparkContext.broadcast(m)
      val enc = RowEncoder.encoderFor(
        StructType(cand.schema.fields :+ StructField("jaccard", DoubleType)))
      cand.mapPartitions { it =>
        val mm = bc.value
        it.flatMap { r =>
          val a = mm.get(r.get(0)); val b = mm.get(r.get(1))
          if (a == null || b == null) None
          else {
            val c = intersectCount(a, b)
            val j = c.toDouble / (a.length + b.length - c).toDouble
            if (j >= threshold) Some(Row(r.get(0), r.get(1), j)) else None
          }
        }
      }(enc)
    } else
      cand
        .join(sh.select(col("doc_id").as("id_a"), col("gha").as("gha_a"), col("sz").as("sz_a")), "id_a")
        .join(sh.select(col("doc_id").as("id_b"), col("gha").as("gha_b"), col("sz").as("sz_b")), "id_b")
        .withColumn("c", size(array_intersect(col("gha_a"), col("gha_b"))))
        .withColumn("jaccard",
          col("c").cast("double") / (col("sz_a") + col("sz_b") - col("c")).cast("double"))
        .where(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
  }

  /** Exact n-gram Jaccard near-dup pairs via PREFIX FILTERING (PPJoin-style,
    * SNIPPETS-free standard technique): shingles get a global total order by
    * (document frequency asc, hash) — each doc emits only its
    * |A| − ⌈t·|A|⌉ + 1 rarest shingles ("prefix"); any pair with J ≥ t must
    * share a prefix shingle (⌈·⌉ done in exact integer arithmetic), plus the
    * size-ratio prune t·|B| ≤ |A|. Candidates are then exact-verified.
    *
    * Scale: candidate generation joins only on RARE shingles, so boilerplate
    * mega-shingles never form quadratic buckets (the naive shingle
    * self-join measured 109 s at sf0.1; this is the fix). Two extra linear
    * shuffles (df count + prefix regroup) buy candidate sets ~|true pairs|.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: Column, textCol: Column, n: Int,
                        threshold: Double): DataFrame = {
    val tNum = math.round(threshold * 10000).toInt
    val sh = shingleHashes(df, idCol, textCol, n)
    val ex = sh.select(col("doc_id"), explode(col("gha")).as("gh"))
    val dfreq = ex.groupBy("gh").agg(count(lit(1)).as("df"))
    // per doc: shingles in global (df, gh) order, keep the prefix
    val prefix = ex.join(dfreq, "gh")
      .groupBy("doc_id").agg(array_sort(collect_list(struct(col("df"), col("gh")))).as("o"),
        count(lit(1)).as("sz"))
      .withColumn("alpha", floor((col("sz") * tNum + lit(10000 - 1)) / lit(10000)).cast("long"))
      .withColumn("pref", slice(col("o"), lit(1), (col("sz") - col("alpha") + 1).cast("int")))
      .select(col("doc_id"), col("sz"), explode(col("pref")).as("p"))
      .select(col("doc_id"), col("sz"), col("p.gh"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id") &&
        col("a.sz") * tNum <= col("b.sz") * 10000 &&
        col("b.sz") * tNum <= col("a.sz") * 10000)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")).distinct()
    verifyPairs(cand, sh, threshold)
  }

  /** Eval-set DECONTAMINATION (the published GPT-3/PaLM-style n-gram overlap
    * rule): one row per (corpus doc, benchmark doc) pair sharing at least
    * `minHits` distinct word n-gram shingles, with the exact shared count —
    * the pipeline then drops (or audits) every doc_id that appears.
    *
    * Scale shape — and why this is NOT ngramJaccardPairs with a low
    * threshold: the benchmark side is an eval set, dim-sized by nature, so
    * its exploded (bench_id, shingle-hash) rows are BROADCAST. The corpus
    * side explodes map-side straight into the broadcast hash join — corpus
    * text and shingles never shuffle — and the only exchange is the final
    * (doc_id, bench_id) count over HIT rows, which are rare by construction.
    * At 100 TB: one scan of the corpus, shuffle ∝ |hits|. Shingle identity
    * is the mod-P rolling hash (same ~1e-9/pair collision trade as the
    * Jaccard verify path; both sides' arrays are distinct, so the count is
    * the exact distinct-intersection size under that hash).
    */
  def decontaminate(corpus: DataFrame, idCol: Column, textCol: Column,
                    bench: DataFrame, benchIdCol: Column, benchTextCol: Column,
                    n: Int = 3, minHits: Int = 1,
                    maxBroadcastBenchShingles: Long = 100000000L): DataFrame = {
    val corpusSh = shingleHashes(corpus, idCol, textCol, n)
      .select(col("doc_id"), explode(col("gha")).as("h"))
    // cache the EXPLODED bench shingles once: the same materialization feeds
    // both the broadcast-size probe and the join, so the bench lineage runs
    // exactly once and the probe measures what is actually shipped. The cache
    // is dim-sized by construction (eval sets); blocks are reclaimed by the
    // ContextCleaner with the result's lineage.
    val benchSh = shingleHashes(bench, benchIdCol, benchTextCol, n)
      .select(col("doc_id").as("bench_id"), explode(col("gha")).as("h"))
      .persist()
    // gate on SHINGLE volume, not doc count — long bench docs blow the
    // broadcast budget well before any doc-count ceiling. Default budget
    // 1e8 shingles ≈ 1.6 GB of (bench_id, h) rows; past it the broadcast
    // would OOM executors with an opaque error, so fall back to a shuffled
    // hash join on the shingle hash — corpus shingles then shuffle once
    // (still no text movement)
    val benchShingles = benchSh.count()
    val joined =
      if (benchShingles <= maxBroadcastBenchShingles) corpusSh.join(broadcast(benchSh), "h")
      else corpusSh.join(benchSh.hint("shuffle_hash"), "h")
    joined
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_hits"))
      .where(col("n_hits") >= minHits)
  }

  /** MinHash-LSH near-dup pairs: k=32 signature, `bands` bands of k/bands
    * rows; candidate pairs share at least one full band; candidates are then
    * VERIFIED with the exact Jaccard join above, so the output contains no
    * false positives — only (possibly) missed pairs, with miss probability
    * (1−J^r)^b (≈4e−12 for J=0.99, b=8, r=4).
    *
    * Scale: this is the 100 TB path — signatures are 32 longs per doc
    * (constant width), banding is a narrow shuffle on (band, bandHash), and
    * the expensive exact join runs only on candidates. Mega-buckets from
    * boilerplate are capped by `maxBucket` (a bucket larger than that is
    * all-pairs quadratic — skip or handle downstream).
    */
  def minhashLshPairs(df: DataFrame, idCol: Column, textCol: Column, n: Int,
                      threshold: Double, bands: Int = 8,
                      maxBucket: Int = 10000): DataFrame = {
    val r = graft.core.TextHash.MINHASH_K / bands
    val sh0 = shingleHashes(df, idCol, textCol, n)
      .withColumn("sig", graft.functions.TextFunctions.minhashFromHashes(col("gha")))
    val banded = sh0.select(col("doc_id"), explode(
        array((0 until bands).map(b =>
          struct(lit(b).as("band"), hash(lit(b), slice(col("sig"), b * r + 1, r)).as("bh"))): _*)
      ).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bh"))
    val okBuckets = banded.groupBy("band", "bh").agg(count(lit(1)).as("bn"))
      .where(col("bn") <= maxBucket && col("bn") > 1)
    val inB = banded.join(okBuckets.select("band", "bh"), Seq("band", "bh"))
    val cand = inB.as("a").join(inB.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")).distinct()
    verifyPairs(cand, sh0.select("doc_id", "gha", "sz"), threshold)
  }

  /** CROSS-corpus MinHash-LSH near-dup pairs — the incremental-ingestion
    * verb: which docs of a NEW batch near-duplicate something in the
    * EXISTING corpus ("don't re-train on what we already have"). Same
    * banding + exact-verify machinery as `minhashLshPairs`, but the band
    * join is batch×corpus, not a self-join — output is one (batch id_a,
    * corpus id_b, jaccard) row per pair with J ≥ threshold; `id_a` always
    * comes from `batch`. Ids must be unique ACROSS both sets (the verify
    * map is keyed by id).
    *
    * Scale: identical posture to the self-join path — banding is a narrow
    * (band, bandHash) shuffle on both sides, the corpus side's signatures
    * are computed per run here; an ingestion pipeline would persist the
    * corpus (sig, gha) table once (e.g. as an IcebergLite table) and
    * append to it per accepted batch, making each increment's cost
    * O(batch) + one bucket join.
    */
  def minhashLshPairsCross(batch: DataFrame, batchIdCol: Column, batchTextCol: Column,
                           corpus: DataFrame, corpusIdCol: Column, corpusTextCol: Column,
                           n: Int, threshold: Double, bands: Int = 8,
                           maxBucket: Int = 10000): DataFrame = {
    val r = graft.core.TextHash.MINHASH_K / bands
    def prep(df: DataFrame, idCol: Column, textCol: Column): (DataFrame, DataFrame) = {
      val sh = shingleHashes(df, idCol, textCol, n)
        .withColumn("sig", graft.functions.TextFunctions.minhashFromHashes(col("gha")))
      val banded = sh.select(col("doc_id"), explode(
          array((0 until bands).map(b =>
            struct(lit(b).as("band"), hash(lit(b), slice(col("sig"), b * r + 1, r)).as("bh"))): _*)
        ).as("bb"))
        .select(col("doc_id"), col("bb.band"), col("bb.bh"))
      (sh, banded)
    }
    val (shA, bandedA) = prep(batch, batchIdCol, batchTextCol)
    val (shB, bandedB) = prep(corpus, corpusIdCol, corpusTextCol)
    // bucket cap on the CORPUS side (the boilerplate crowd lives there)
    val inB =
      if (maxBucket > 0) {
        val ok = bandedB.groupBy("band", "bh").agg(count(lit(1)).as("bn"))
          .where(col("bn") <= maxBucket)
        bandedB.join(ok.select("band", "bh"), Seq("band", "bh"))
      } else bandedB
    val cand = bandedA.as("a").join(inB.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")).distinct()
    verifyPairs(cand, shA.select("doc_id", "gha", "sz")
      .unionByName(shB.select("doc_id", "gha", "sz")), threshold)
  }

  /** The deduplicated corpus: keep exactly one row (min id) per distinct
    * key — the op a pipeline actually runs after exact dedup analysis.
    * One hash-aggregate + semi-join; no text moves through the shuffle.
    */
  def keepFirst(df: DataFrame, idCol: Column, keyCol: Column): DataFrame = {
    val keep = df.select(idCol.as("_id"), charHash64(keyCol).as("_kh"))
      .groupBy("_kh").agg(min(col("_id")).as("_keep_id"))
      .select(col("_keep_id"))
    df.join(keep, idCol === col("_keep_id"), "left_semi")
  }

  /** Planner note for the checkpoints of [[dupClusters]]: localCheckpoint
    * PRESERVES the origin plan's ESTIMATED stats, and iterative rounds join
    * the carried table against itself — so sizeInBytes estimates compound
    * per round. Seeded by an input whose pipeline already carries a large
    * estimate (the DBSCAN candidate join at bench SF), planning itself
    * became BigInteger arithmetic on ever-growing numbers: measured q7m
    * wedged > 25 min inside SizeInBytesOnlyStatsPlanVisitor (jstack:
    * Toom-Cook multiplies) while every executor sat idle. `rebase` resets
    * the stats of the already-materialized checkpoint blocks through an RDD
    * round-trip — bounded planner cost, identical rows; join-strategy
    * quality is unaffected because AQE re-plans from RUNTIME sizes. The
    * round-trip costs one narrow job, so it runs ONLY when the estimate has
    * bloated past 256 bits — probing stats is cheap precisely because the
    * gate keeps them small.
    */
  private def rebase(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength <= 256) df
    else df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** Largest canonical pair table [[dupClusters]] finishes in one task:
    * 2^20 rows hold at most 2^21 distinct ids, so the task's arrays come to
    * 16 MiB of edge longs, 16 MiB of sorted ids and 8 MiB of parent ints.
    */
  private val LocalFinishEdges = 1L << 20

  /** Id types [[dupClusters]] accepts, narrowest first. */
  private val IntegralIds = Seq(ByteType, ShortType, IntegerType, LongType)

  /** Duplicate-cluster assignment: connected components over a near-dup
    * pair set `(id_a, id_b)`.
    *
    * Output: (doc_id, cluster_id = min doc_id in the component), one row
    * per doc that appears in ≥1 pair (self-paired isolated docs label
    * themselves). Ids must be integral (byte, short, int or long; any other
    * type raises an IllegalArgumentException); they run through the kernel
    * as long and come back as the wider of the two id columns' types.
    *
    * Plan. `pairs` — typically a whole LSH or DBSCAN pipeline — is
    * evaluated ONCE: projected to canonical (a = least, b = greatest) rows
    * with self-pairs kept, made distinct, localCheckpointed and COUNTED.
    *   - At most 2^20 rows (`LocalFinishEdges`): one task labels every node
    *     with a union-find over primitive arrays ([[unionFind]], about
    *     40 MiB at the bound). Nothing is collected to the driver, and the
    *     output is that task's single partition. A call costs the
    *     checkpoint, the count and the caller's own action — a few Spark
    *     jobs, not four per round.
    *   - Above it: ALTERNATING STAR CONTRACTION [Kiveris et al. 2014,
    *     "Connected Components in MapReduce and Beyond"] over the non-self
    *     edges. Each round is a large-star step (every neighbor of u LARGER
    *     than u re-attaches to the minimum of u's closed neighborhood) and a
    *     small-star step (the ≤-u neighbors and u itself re-attach to that
    *     minimum). The rewritten set stays connectivity-equivalent and
    *     contracts to a union of STARS rooted at each component's minimum in
    *     O(log² n) rounds regardless of diameter (min-label propagation took
    *     64 rounds on the percolated DBSCAN core graph at bench SF, star
    *     contraction 7). Each round's checkpoint is counted; as soon as the
    *     count is at or under the bound the rounds HAND OFF to the same
    *     one-task union-find over the current edges. Otherwise they run to
    *     the fixpoint (the edge set unchanged: two anti-join probes, run only
    *     when the count did not move), where every non-root is the b side of
    *     exactly one star edge. Either way each node is then labelled
    *     coalesce(root, id) by one join against the node set.
    *
    * `maxRounds` bounds the distributed star rounds only (the one-task
    * finish has none). Not converging within it RAISES rather than returning
    * silently wrong labels.
    */
  def dupClusters(pairs: DataFrame, maxRounds: Int = 30): DataFrame =
    dupClusters(pairs, maxRounds, LocalFinishEdges)

  /** [[dupClusters]] with the one-task bound as a parameter: 0 forces the
    * star rounds to their fixpoint; a bound under the edge count but at or
    * over the fixpoint's star-edge count forces a mid-run hand-off.
    */
  private[graft] def dupClusters(pairs: DataFrame, maxRounds: Int,
                                 localFinishEdges: Long): DataFrame = {
    val ids = pairs.select("id_a", "id_b").schema.fields
    ids.foreach { f =>
      if (!IntegralIds.contains(f.dataType))
        throw new IllegalArgumentException(s"dupClusters: ${f.name} is " +
          s"${f.dataType.simpleString}; ids must be byte, short, int or long")
    }
    val idType = ids.map(_.dataType).maxBy(IntegralIds.indexOf(_))
    val x = col("id_a").cast("long"); val y = col("id_b").cast("long")
    // a null id keeps its partner as a node (b = null) and labels itself,
    // as it did when the node set was the union of both columns
    val canon = rebase(pairs
      .select(least(x, y).as("a"),
        when(x.isNull || y.isNull, lit(null)).otherwise(greatest(x, y)).as("b"))
      .distinct().localCheckpoint())
    val n = canon.count()
    val labels =
      if (n <= localFinishEdges) unionFind(canon, n)
      else starRounds(canon, maxRounds, localFinishEdges)
    labels.select(col("doc_id").cast(idType), col("cluster_id").cast(idType))
  }

  /** The distributed path of [[dupClusters]] over its canonical table:
    * star rounds until the fixpoint or the hand-off, then one join that
    * labels every node.
    */
  private def starRounds(canon: DataFrame, maxRounds: Int,
                         localFinishEdges: Long): DataFrame = {
    def pair(x: Column, y: Column) =
      Seq(least(x, y).as("a"), greatest(x, y).as("b"))
    // one star step over the current edge set: for each u with closed-
    // neighborhood minimum m, re-attach the selected neighbors to m.
    // `large` selects v > u; small-star selects v <= u and adds (u, m).
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val dirs = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val mins = dirs.groupBy("u").agg(min("v").as("_mn"))
        .select(col("u"), least(col("_mn"), col("u")).as("m"))
      val sel = dirs.join(mins, "u")
        .where((if (large) col("v") > col("u") else col("v") <= col("u"))
          && col("v") =!= col("m"))
        .select(pair(col("v"), col("m")): _*)
      val out = if (large) sel
        else sel.union(mins.where(col("u") =!= col("m"))
          .select(pair(col("u"), col("m")): _*))
      out.distinct()
    }
    var edges = canon.where(col("a") =!= col("b"))
    var n = edges.count()
    var round = 0
    var converged = false
    while (n > localFinishEdges && !converged) {
      require(round < maxRounds,
        s"dupClusters did not converge in $maxRounds star rounds — " +
          s"raise maxRounds (alternating star contraction is O(log² n))")
      val next = rebase(star(star(edges, large = true), large = false)
        .localCheckpoint())
      val m = next.count()
      // fixpoint ⟺ the edge SET is unchanged; sets of different sizes
      // differ, so the anti-join probes run only when the count held
      converged = m > localFinishEdges && m == n &&
        next.except(edges).union(edges.except(next)).limit(1).count() == 0
      edges = next
      n = m
      round += 1
    }
    val roots =
      if (converged) edges.select(col("b").as("id"), col("a").as("_root"))
      else unionFind(edges, n)
        .select(col("doc_id").as("id"), col("cluster_id").as("_root"))
    canon.select(col("a").as("id")).union(canon.select(col("b").as("id")))
      .distinct()
      .join(roots, Seq("id"), "left")
      .select(col("id").as("doc_id"), coalesce(col("_root"), col("id")).as("cluster_id"))
  }

  /** One-task finish of [[dupClusters]]: (doc_id, cluster_id) for every id
    * of an (a, b) long table of `n` rows, self-pairs included; a row with a
    * null b is a self-pair of a, plus one (null, null) row. The rows are
    * already materialized, so `coalesce(1)` gathers them into one task
    * without moving any upstream work there.
    */
  private def unionFind(edges: DataFrame, n: Long): DataFrame = {
    val cap = n.toInt
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("cluster_id", LongType)))
    edges.coalesce(1).mapPartitions { rows =>
      val ea = new mutable.ArrayBuilder.ofLong; ea.sizeHint(cap)
      val eb = new mutable.ArrayBuilder.ofLong; eb.sizeHint(cap)
      var sawNull = false
      rows.foreach { r =>
        sawNull ||= r.isNullAt(1)
        if (!r.isNullAt(0)) {
          ea += r.getLong(0)
          eb += (if (r.isNullAt(1)) r.getLong(0) else r.getLong(1))
        }
      }
      val (ids, root) = componentMins(ea.result(), eb.result())
      Iterator.range(0, root.length).map(i => Row(ids(i), ids(root(i)))) ++
        (if (sawNull) Iterator.single(Row(null, null)) else Iterator.empty)
    }(RowEncoder.encoderFor(schema))
  }

  /** Union-find over an edge list `(ea(i), eb(i))`: returns the endpoint
    * ids, sorted and distinct in their first `root.length` slots, and
    * `root`, per id index the index of its component's minimum id.
    * Parents are indices into the sorted ids; union points the larger root
    * at the smaller, so every root is its set's minimum index — its
    * minimum id — and path halving keeps each find short.
    */
  private def componentMins(ea: Array[Long], eb: Array[Long]): (Array[Long], Array[Int]) = {
    val all = new Array[Long](ea.length + eb.length)
    System.arraycopy(ea, 0, all, 0, ea.length)
    System.arraycopy(eb, 0, all, ea.length, eb.length)
    java.util.Arrays.sort(all)
    var m = 0
    var i = 0
    while (i < all.length) {
      if (m == 0 || all(i) != all(m - 1)) { all(m) = all(i); m += 1 }
      i += 1
    }
    val parent = Array.range(0, m)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    i = 0
    while (i < ea.length) {
      val ra = find(java.util.Arrays.binarySearch(all, 0, m, ea(i)))
      val rb = find(java.util.Arrays.binarySearch(all, 0, m, eb(i)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 1
    }
    i = 0
    while (i < m) { parent(i) = find(i); i += 1 }
    (all, parent)
  }

  /** Per-doc 62-bit SimHash (token multiset, ±1 bit votes; two independent
    * 31-bit halves — see TextHash.simhash64). The old 31-bit kernel remains
    * available as `simhash(tokens)` but is band-degenerate at corpus scale
    * (≤2^8 distinct keys per 4-way band ⇒ near-quadratic buckets).
    */
  def simhashDocs(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.select(idCol.as("doc_id"), simhash64(tokens(textCol)).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, via band
    * pigeonhole: the 62 bits split into `maxDist+1` bands — ≤ maxDist flips
    * cannot touch every band, so matching on any one band is EXACT recall
    * (not probabilistic). Candidates verified with bit_count(a^b).
    *
    * Scale: each doc emits maxDist+1 (band, bandBits) keys — narrow shuffle,
    * quadratic only inside identical-band buckets. Band keys span 15-16 bits
    * each (the 31-bit kernel's ~2^8-value bands were the degenerate case).
    * `maxBucket` is an OPT-IN recall trade for corpus scale: buckets larger
    * than the cap are dropped entirely (an identical-band-code crowd that
    * size is boilerplate; all-pairs inside it is quadratic). The default is
    * 0 = NO cap, so the band-pigeonhole "exact recall ≤ maxDist" guarantee
    * holds for every caller unless they explicitly pass a cap — a silent
    * default cap would break the documented guarantee at scale.
    */
  def simhashPairs(df: DataFrame, idCol: Column, textCol: Column,
                   maxDist: Int = 3, maxBucket: Long = 0L): DataFrame =
    hammingPairs(simhashDocs(df, idCol, textCol), col("doc_id"), col("simhash"),
      maxDist, graft.core.TextHash.SIMHASH64_BITS, maxBucket)

  /** Generic banded Hamming-distance pair join over a PRECOMPUTED long hash
    * column — the shape perceptual-hash image dedup takes at scale: pHashes
    * are computed once at ingest (decode is the expensive part), stored as a
    * 64-bit column, and near-duplicate frames/images are pairs within
    * `maxDist` bit flips. Same band pigeonhole as simhashPairs (of which
    * this is the extracted core): `maxDist+1` bands over the low `bits`
    * bits — ≤ maxDist flips cannot touch every band, so one-band equality
    * gives EXACT recall, and bit_count(a^b) verifies candidates exactly.
    * All hash values must fit in `bits` bits (callers with full 64-bit
    * hashes pass bits = 64; sign bit participates like any other).
    *
    * Scale: maxDist+1 narrow keys per row; quadratic only inside
    * identical-band buckets; `maxBucket` stays an OPT-IN recall trade
    * (default 0 = exact) for the same reason documented on simhashPairs.
    */
  def hammingPairs(df: DataFrame, idCol: Column, hashCol: Column,
                   maxDist: Int = 3, bits: Int = 64,
                   maxBucket: Long = 0L): DataFrame = {
    require(bits >= maxDist + 1 && bits <= 64, s"bits=$bits out of range")
    val bands = maxDist + 1
    val sh = df.select(idCol.as("doc_id"), hashCol.as("simhash"))
    val banded = sh.select(col("doc_id"), col("simhash"), explode(array(
        (0 until bands).map { b =>
          val lo = b * bits / bands; val hi = (b + 1) * bits / bands
          val width = hi - lo
          val mask = (if (width == 64) -1L else (1L << width) - 1) << lo
          struct(lit(b).as("band"), (col("simhash").bitwiseAND(lit(mask))).as("bb"))
        }: _*)).as("k"))
      .select(col("doc_id"), col("simhash"), col("k.band"), col("k.bb"))
    val inB =
      if (maxBucket > 0L) {
        val okBuckets = banded.groupBy("band", "bb").agg(count(lit(1)).as("bn"))
          .where(col("bn") <= maxBucket && col("bn") > 1)
        banded.join(okBuckets.select("band", "bb"), Seq("band", "bb"))
      } else banded
    inB.as("a").join(inB.as("b"),
        col("a.band") === col("b.band") && col("a.bb") === col("b.bb") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxDist)
  }

  /** GEO-SCOPED hamming near-dup — pairs that are BOTH perceptual near-dups
    * (hamming(hash) ≤ maxDist) AND spatially close (planar micro-degree
    * distance ≤ radius): the "same scene re-uploaded" detector for an image
    * corpus with locations (photo near-dups of the same landmark are
    * near-dups; the same sunset template shot on two continents is not).
    *
    * Scale re-expression: [[hammingPairs]]' corpus-wide hash banding is
    * replaced by SPATIAL blocking — candidates come from the cell grid
    * (a's Chebyshev cell ring covers b's cell whenever dist(a,b) ≤ r, the
    * radius-join containment argument), so the exchange is ∝ spatially
    * co-located pairs and the hamming test is EXACT — no banding recall
    * trade and no corpus-wide hash shuffle; city-hotspot skew lands on
    * many distinct cells (ring fan-out), AQE handles the rest. Each
    * unordered pair is produced exactly once: b contributes its ONE cell,
    * a explodes to the ring, and `a.id < b.id` picks one orientation.
    */
  def geoHammingPairs(df: DataFrame, idCol: Column, lonCol: Column,
                      latCol: Column, hashCol: Column, radiusMicro: Long,
                      level: Int, maxDist: Int = 3): DataFrame = {
    require(radiusMicro > 0 && level >= 1 && level <= 16, "bad radius/level")
    import graft.core.FixedPoint
    val base = df.select(idCol.as("id"), lonCol.cast("long").as("lon"),
      latCol.cast("long").as("lat"), hashCol.as("h"))
    val rx = radiusMicro / (FixedPoint.LON_RANGE >> level)
    val ry = radiusMicro / (FixedPoint.LAT_RANGE >> level)
    val rr = (math.max(rx, ry) + 1).toInt
    val ringSide = base.withColumn("_cell", explode(
      graft.functions.GraftFunctions.ringCells(col("lon"), col("lat"), level, rr)))
    val cellSide = base.withColumn("_cell",
      graft.functions.GraftFunctions.zcell(col("lon"), col("lat"), level))
    val ddx = col("b.lon") - col("a.lon")
    val ddy = col("b.lat") - col("a.lat")
    ringSide.as("a").join(cellSide.as("b"),
        col("a._cell") === col("b._cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.h").bitwiseXOR(col("b.h"))).cast("int").as("hamming"),
        (ddx * ddx + ddy * ddy).as("d2"))
      .where(col("hamming") <= maxDist && col("d2") <= radiusMicro * radiusMicro)
  }

  /** SUBSTRING-level exact dedup marks (the Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" operator, public
    * knowledge): every position whose L-token window repeats an EARLIER
    * occurrence in corpus order — (doc_id, pos) ascending; the first
    * occurrence survives — is a dup mark. The reference implementation is a
    * suffix array on one machine; the distributed re-expression is windowed
    * hashing: dup-window detection is ONE hash-aggregate over positional
    * window hashes (map-side partial combine), and marked positions come
    * back via a join that ships ONLY occurrences of duplicated windows
    * (rare in a clean corpus — the exchange is ∝ dup volume, never
    * ∝ corpus; text itself never shuffles).
    *
    * Output: one (doc_id, pos) row per marked window position, pos 1-based
    * in the whitespace-token stream. Window identity is the combined 60-bit
    * rolling hash (collision ~1e-18/pair; a single mod-P hash would
    * birthday-collide from ~45k distinct windows — exactDedup's reasoning).
    */
  def substringDupMarks(df: DataFrame, idCol: Column, textCol: Column,
                        L: Int): DataFrame = {
    val wins = df
      .select(idCol.as("doc_id"),
        graft.functions.TextFunctions.positionalWindowHashes(tokens(textCol), L).as("wh"))
      .where(size(col("wh")) > 0)
      .select(col("doc_id"), posexplode(col("wh")).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
    val firsts = wins.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"), count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2)
    wins.join(firsts, "h")
      .where(col("doc_id") =!= col("first.doc_id") || col("pos") =!= col("first.pos"))
      .select(col("doc_id"), col("pos"))
  }

  /** Gaps-and-islands merge of marked windows [pos, pos+L−1] into per-doc
    * token spans: a new island starts when pos − prev > L (overlap OR
    * adjacency merges — the covered token range is contiguous either way).
    * Returns (doc_id, isl, s = first pos, e = last pos, nw = window count);
    * covered tokens per island = [s, e+L−1]. Runs per doc over MARKED
    * positions only, after one shuffle on doc_id of those rare rows.
    */
  private def substringSpans(marks: DataFrame, L: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    marks
      .withColumn("prev", lag("pos", 1).over(byDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > L, 1).otherwise(0))
      .withColumn("isl",
        sum("brk").over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "isl")
      .agg(min("pos").as("s"), max("pos").as("e"), count(lit(1)).as("nw"))
  }

  /** Per-doc merged dup-span stats over [[substringDupMarks]]: one row per
    * doc with ≥1 marked window — (doc_id, dup_windows, dup_spans,
    * dup_tokens) where dup_tokens is the union size of the marked windows'
    * token coverage, i.e. the volume substring dedup would delete.
    */
  def substringDupSpans(df: DataFrame, idCol: Column, textCol: Column,
                        L: Int): DataFrame =
    substringSpans(substringDupMarks(df, idCol, textCol, L), L)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("dup_spans"),
        sum(col("e") - col("s") + L).cast("long").as("dup_tokens"),
        sum("nw").cast("long").as("dup_windows"))

  /** The CLEANED corpus: every doc with the tokens covered by its merged
    * dup spans REMOVED (the first occurrence of each window survives
    * elsewhere, so no content is lost corpus-wide); remaining tokens are
    * re-joined with single spaces — whitespace is normalized by
    * construction, for span-free docs too, so the output column is uniform.
    *
    * Scale: span lists are per-doc tiny (collect_list over the rare merged
    * spans); the rewrite is a narrow map over one corpus scan plus one join
    * against that rare span table.
    */
  def dedupSubstrings(df: DataFrame, idCol: Column, textCol: Column,
                      L: Int): DataFrame = {
    val spanLists = substringSpans(substringDupMarks(df, idCol, textCol, L), L)
      .select(col("doc_id"), col("s"), (col("e") + (L - 1)).as("e"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("sp"))
    df.select(idCol.as("doc_id"), textCol.as("text"))
      .join(spanLists, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("sp").isNull, concat_ws(" ", tokens(col("text"))))
          .otherwise(concat_ws(" ",
            filter(tokens(col("text")), (_, i) =>
              !exists(col("sp"), sp => i + 1 >= sp("s") && i + 1 <= sp("e")))))
          .as("clean_text"))
  }

  /** C4/RefinedWeb-style SEGMENT-level keep-first exact dedup (the "remove
    * duplicated lines/paragraphs, keeping one copy" curation rule — Raffel
    * et al. 2020 §2.2, Penedo et al. 2023; public knowledge). Distinct verb
    * from [[substringDupMarks]]: that marks every LATER copy of any shared
    * window; this partitions each doc into consecutive `n`-token segments
    * (the "lines" of a corpus without newlines) and keeps exactly the FIRST
    * occurrence of each distinct segment corpus-wide — first in (doc_id,
    * seg_no) order, duplicates within one doc dedup too.
    *
    * Output: one row per non-empty doc — (doc_id, n_segs, n_kept,
    * clean_text = the kept segments re-joined in order, "" if the whole doc
    * was a later copy).
    *
    * Scale: two shuffles — one hash-aggregate on the 60-bit segment hash
    * (min-struct keeper election; map-side combine, segments never carry
    * text through this exchange beyond the seg string itself) and one
    * groupBy doc_id for reassembly. No window over the corpus, no sort
    * node; the keeper join is an equi-join on the hash. Same
    * collision trade as [[exactDedup]] (~1e−18/pair on the combined hash).
    */
  def segmentDedup(df: DataFrame, idCol: Column, textCol: Column,
                   n: Int = 8): DataFrame = {
    val segs = df
      .select(idCol.as("doc_id"), tokens(textCol).as("t"))
      .where(size(col("t")) > 0)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), floor((size(col("t")) + (n - 1)) / n).cast("int") - 1),
        i => concat_ws(" ", slice(col("t"), i * n + 1, lit(n))))).as(Seq("seg_no", "seg")))
      .withColumn("h", charHash64(col("seg")))
    val firsts = segs.groupBy("h")
      .agg(min(struct(col("doc_id"), col("seg_no"))).as("first"))
    segs.join(firsts, "h")
      .withColumn("kept",
        col("doc_id") === col("first.doc_id") && col("seg_no") === col("first.seg_no"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("seg_no"), col("seg"))))),
          s => s("seg"))).as("clean_text"))
  }

  /** Bloom-filter approximate anti-join — "which batch rows are DEFINITELY
    * not in the corpus" — the no-corpus-shuffle membership verb of an
    * ingestion loop (probe a 100 TB corpus-at-rest with a filter, not a
    * join; Putze et al. 2007 blocked-bloom deployment shape).
    *
    * Returns the batch rows whose key is definitely new. Soundness: a Bloom
    * filter has NO false negatives, so every returned row is truly absent
    * from the corpus (spec-gated; q6o emits the driver-checkable bound row).
    * False positives only WITHHOLD rows (rate sized by bitsPerKey —
    * 16 bits/key, k=7 ≈ 4e−4); the withheld maybe-members go to exact
    * verification in a real loop.
    *
    * Scale shape: corpus keys bucket by `pmod(key, buckets)`; each bucket
    * builds its own mergeable filter (map-side partial OR), so total filter
    * bytes spread across `buckets` rows instead of one driver blob. The
    * batch side equi-joins that B-row table on the bucket id — broadcast
    * here (B tiny); at 10^12 corpus keys raise `buckets` so each filter
    * stays executor-sized and let AQE pick the join. The corpus is read
    * once, shuffles only (bucket, 64-bit key) pairs into the aggregate, and
    * the batch probe is one codegen zero-copy expression per row.
    *
    * `expectedCorpusKeys` sizes the filters (explicit, like an index build —
    * an overestimate only wastes bits; an underestimate inflates the FP
    * rate, never breaks soundness).
    */
  def bloomNew(corpus: DataFrame, corpusKey: Column,
               batch: DataFrame, batchIdCol: Column, batchKey: Column,
               expectedCorpusKeys: Long, buckets: Int = 16,
               bitsPerKey: Int = 16, numHashes: Int = 7): DataFrame = {
    import graft.functions.BloomAgg.{bloom, bloomContains}
    val bits = graft.core.Bloom.sizeFor(
      math.max(1L, expectedCorpusKeys / buckets), bitsPerKey)
    val blooms = corpus
      .select(charHash64(corpusKey).as("k"))
      .groupBy(pmod(col("k"), lit(buckets.toLong)).as("b"))
      .agg(bloom(col("k"), bits, numHashes).as("bf"))
    batch
      .select(batchIdCol.as("doc_id"), charHash64(batchKey).as("k"))
      .withColumn("b", pmod(col("k"), lit(buckets.toLong)))
      .join(broadcast(blooms), Seq("b"), "left")
      // an empty bucket has no filter row → no corpus key hashes there → new
      .where(!coalesce(bloomContains(col("bf"), col("k")), lit(false)))
      .select("doc_id")
  }
}
