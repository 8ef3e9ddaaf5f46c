package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.TextHash

class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  test("charHash kernel matches the documented DuckDB formula on 'abc'") {
    // list_reduce(list_prepend(7,[97,98,99]),(acc,c)->(acc*31+c)%1000000007) = 304891
    assert(TextHash.charHash("abc") === 304891L)
    assert(TextHash.charHash("") === 7L)
  }

  test("langId: marker-dominant texts classified, ties deterministic") {
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "der hund und die katze ist da und der"),
      (3L, "le chat et la maison les des le"),
      (4L, "xyzzy plugh")).toDF("doc_id", "text")
    val got = TextAnalysis.langId(df, col("doc_id"), col("text"))
      .select("doc_id", "pred_lang").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "en")
    assert(got(2L) === "de")
    assert(got(3L) === "fr")
    assert(got(4L) === "de") // all-zero tie → first language in sorted order
  }

  test("repetition metrics: hand-computed + brute-force parity on random docs") {
    // "a b a b a b c" → bigrams: ab ba ab ba ab bc = 6 total, 3 distinct,
    // top ("a b") = 3
    val hand = Seq((1L, "a b a b a b c"), (2L, "x"), (3L, "p q r s"))
      .toDF("doc_id", "text")
    val h = TextAnalysis.repetition(hand, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(6))).toMap
    assert(h(1L) === ((6L, 3L, 3L, false))) // dup_frac 0.5, top 0.5
    assert(h(2L) === ((0L, 0L, 0L, true)))  // no bigrams → keep
    assert(h(3L) === ((3L, 3L, 1L, false))) // top_frac 1/3 > 0.06
    // brute force over random small-vocab docs (repetition guaranteed)
    val rnd = new scala.util.Random(13)
    val vocab = Vector("aa", "bb", "cc")
    val docs = (0L until 30L).map(i =>
      i -> Seq.fill(5 + rnd.nextInt(40))(vocab(rnd.nextInt(3))).mkString(" "))
    val got = TextAnalysis.repetition(docs.toDF("doc_id", "text"),
        col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    for ((i, t) <- docs) {
      val bg = t.split(" ").sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val counts = bg.groupBy(identity).view.mapValues(_.size)
      val exp = (bg.size.toLong, counts.size.toLong,
        if (bg.isEmpty) 0L else counts.values.max.toLong)
      assert(got(i) === exp, s"doc $i: '$t'")
    }
  }

  test("normalize kernel: byte parity with the regex chain, incl. unicode and space runs") {
    val regexChain: org.apache.spark.sql.Column => org.apache.spark.sql.Column = c =>
      trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))
    val rnd = new scala.util.Random(17)
    val alphabet = "aZ9 !.,#_-é世İß\t\n" // é 世 İ ß tab nl
    val adversarial = Seq("", " ", "   ", "a", " a ", "A!B", "a  b",
      "x!! !y", "İstanbul ßpass", "café 世界", "a.b,c;d")
    val fuzz = (0 until 300).map(_ =>
      Seq.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = (adversarial ++ fuzz).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    val rows = df.select(col("id"), TextAnalysis.normalize(col("t")).as("k"),
        regexChain(col("t")).as("r"))
      .collect()
    for (r <- rows)
      assert(r.getString(1) === r.getString(2),
        s"id=${r.getLong(0)}: kernel '${r.getString(1)}' != regex '${r.getString(2)}'")
  }

  test("langId kernel: score parity with the HOF build; tokenCounts parity with the regex") {
    val rnd = new scala.util.Random(29)
    val alphabet = Seq("the", "der", "le", "el", "的", "Zq9", "a.b", "x!", "世界",
      "THE", "Der", "", " ", "\t")
    val docs = (0L until 400L).map(i =>
      i -> Seq.fill(rnd.nextInt(25))(alphabet(rnd.nextInt(alphabet.length))).mkString(" "))
    val df = docs.toDF("doc_id", "text")
    // langId: kernel scores vs the interpreted size(filter(...)) build
    val toks = Dedup.tokens(lower(col("text")))
    val refScores = df.select(col("doc_id") +: TextAnalysis.langMarkers.map { case (lang, ws) =>
        ws.map(w => size(filter(toks, t => t === lit(w)))).reduce(_ + _).as(s"score_$lang")
      }: _*)
      .collect().map(r => r.getLong(0) -> (1 to 5).map(r.getInt)).toMap
    val got = TextAnalysis.langId(df, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> (1 to 5).map(r.getInt)).toMap
    assert(got === refScores)
    // tokenCounts: kernel vs size(tokens) + regexp_count
    val refTc = df.select(col("doc_id"),
        size(Dedup.tokens(col("text"))).as("a"),
        regexp_count(col("text"), lit(TextAnalysis.WordPieceRegex)).cast("int").as("b"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    val gotTc = TextAnalysis.tokenCounts(df, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(gotTc === refTc)
  }

  test("quality kernel: integer parity with the HOF build, incl. unicode and odd whitespace") {
    import org.apache.spark.sql.Column
    // the pre-kernel HOF pipeline, verbatim — the parity reference
    def hof(textCol: Column) = Seq(
      length(textCol),
      size(filter(split(textCol, "\\s+"), t => t =!= lit(""))),
      length(regexp_replace(textCol, "[^A-Za-z]", "")),
      size(filter(filter(split(textCol, "\\s+"), t => t =!= lit("")),
        t => t.isInCollection(TextAnalysis.stopwords))),
      aggregate(transform(filter(split(textCol, "\\s+"), t => t =!= lit("")),
        t => length(t)), lit(0), (acc, x) => acc + x))
    val rnd = new scala.util.Random(23)
    val alphabet = "the a of Zq9 !.\t\n\r é世ß"
    val adversarial = Seq("", " ", "the", " the ", "a  the\tof", "é世 the é",
      "xy", "tab\ttab", "The THE the")
    val fuzz = (0 until 300).map(_ =>
      Seq.fill(rnd.nextInt(50))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = (adversarial ++ fuzz).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    val kernel = TextAnalysis.quality(df, col("id"), col("t"))
      .select("doc_id", "n_chars", "n_tokens", "n_alpha", "n_stop", "n_tok_chars")
      .collect().map(r => r.getLong(0) -> (1 to 5).map(r.getInt)).toMap
    val ref = df.select(col("id") +: hof(col("t")): _*)
      .collect().map(r => r.getLong(0) -> (1 to 5).map(r.getInt)).toMap
    assert(kernel === ref)
  }

  test("quality metrics: hand-computed doc") {
    val df = Seq((1L, "the quick brown fox jumps over a lazy dog again today ok")).toDF("doc_id", "text")
    val r = TextAnalysis.quality(df, col("doc_id"), col("text")).collect().head
    val m = r.getValuesMap[Any](r.schema.fieldNames.toIndexedSeq)
    assert(m("n_tokens") === 12)
    assert(m("n_stop") === 2) // the, a
    assert(m("keep") === true)
    val meanLen = m("mean_token_len").asInstanceOf[Double]
    assert(math.abs(meanLen - 45.0 / 12) < 1e-12) // Σ token lengths = 45
  }

  test("tokenCounts: wordpiece regex counts letter runs, digit runs, punct") {
    val df = Seq((1L, "abc de-f 12 x9!")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(df, col("doc_id"), col("text")).collect().head
    assert(r.getInt(1) === 4) // ws tokens
    // pieces: abc | de | - | f | 12 | x | 9 | !
    assert(r.getInt(2) === 8)
  }

  test("fingerprints: min-shingle matches in-JVM kernel") {
    val text = "a b c d e f"
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val r = TextAnalysis.fingerprints(df, col("doc_id"), col("text")).collect().head
    val grams = text.split(" ").sliding(3).map(_.mkString(" ")).toSeq
    assert(r.getLong(1) === TextHash.charHash(text))
    assert(r.getLong(2) === grams.map(TextHash.charHash).min)
  }

  test("BPE train: overlap runs merge at run positions 0,2,4..; training exhausts; encode == train state") {
    // hand-computed: words aa(x2), aaaa(x1); pair (a,a) counts EVERY
    // adjacent occurrence = 2 + 3 = 5; greedy apply turns aaaa into
    // [aa][aa] (positions 0 and 2 of the run), then (aa,aa) merges once
    val docs = Seq((1L, "aa aa aaaa")).toDF("doc_id", "text")
    val ms = TextAnalysis.bpeTrain(docs, col("text"), numMerges = 10)
    assert(ms.map(m => (m.rank, m.lhs, m.rhs, m.cnt)) ===
      Seq((0, "a", "a", 5L), (1, "aa", "aa", 1L)))
    val enc = TextAnalysis.bpeEncode(docs, col("doc_id"), col("text"), ms)
      .select(explode(col("pieces")).as("p")).groupBy("p").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(enc === Map("aa" -> 2L, "aaaa" -> 1L))
    // zero merges: pieces are the code points
    val raw = TextAnalysis.bpeEncode(docs, col("doc_id"), col("text"), Seq.empty)
      .select(explode(col("pieces")).as("p")).collect().map(_.getString(0))
    assert(raw.length === 8 && raw.forall(_ == "a"))
  }

  test("BPE: subword merges on a real-ish corpus; pieces concat back to their words") {
    val docs = Seq(
      (1L, "low lower lowest low lowly"),
      (2L, "new newer newest new")).toDF("doc_id", "text")
    val ms = TextAnalysis.bpeTrain(docs, col("text"), numMerges = 8)
    assert(ms.length === 8)
    // (l,o) and (o,w) both count 5; tie-break "l US o" < "o US w"
    assert((ms.head.lhs, ms.head.rhs, ms.head.cnt) === ("l", "o", 5L))
    // lossless: each doc's pieces concatenated == its tokens concatenated
    val got = TextAnalysis.bpeEncode(docs, col("doc_id"), col("text"), ms)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).mkString).toMap
    val want = Seq(1L -> "lowlowerlowestlowlowly", 2L -> "newnewernewestnew").toMap
    assert(got === want)
  }

  test("BPE train: a word table over maxVocab raises before the merge loop; at the cap it trains") {
    // 5 distinct lowercased words: low, lower, lowest, new, newer
    val docs = Seq((1L, "low Lower lowest"), (2L, "new newer low")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bpeTrain(docs, col("text"), numMerges = 3, maxVocab = 2)
    }
    assert(e.getMessage.contains("5 distinct words exceed maxVocab=2"), e.getMessage)
    assert(TextAnalysis.bpeTrain(docs, col("text"), numMerges = 3, maxVocab = 5).length === 3)
  }

  test("LM coverage: train counts, hits vs misses, zero-bigram docs, threshold") {
    val train = Seq(
      (1L, "the cat sat the cat sat"),   // (the,cat)x2 (cat,sat)x2 (sat,the)x1
      (2L, "the cat ran")).toDF("doc_id", "text") // (the,cat)x1 (cat,ran)x1
    val model = TextAnalysis.lmTrain(train, col("text"), minCount = 2L)
    val m = model.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // minCount=2 keeps (the,cat)=3 and (cat,sat)=2 only
    assert(m === Map(("the", "cat") -> 3L, ("cat", "sat") -> 2L))
    val corpus = Seq(
      (10L, "the cat sat"),     // 2 bigrams, 2 hits, weight 5
      (11L, "dog ate food"),    // 2 bigrams, 0 hits
      (12L, "solo"),            // 0 bigrams
      (13L, "THE CAT sat")      // lowercased → 2 hits
    ).toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(corpus, col("doc_id"), col("text"), model, 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getBoolean(5)))).toMap
    assert(got(10L) === ((2L, 2L, 5L, 1.0, true)))
    assert(got(11L) === ((2L, 0L, 0L, 0.0, false)))
    assert(got(12L) === ((0L, 0L, 0L, 0.0, false)))
    assert(got(13L) === ((2L, 2L, 5L, 1.0, true)))
  }

  test("groupCap: bounded-heap per-group top-cap == row_number window reference") {
    val df = (0L until 200L).map(i => (i, s"src${i % 5}")).toDF("doc_id", "source")
    val cap = 7
    val got = TextAnalysis.groupCap(df, col("doc_id"), col("source"), cap, "s")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // reference: full sort by (hash, id) per group, take cap
    val want = (0L until 200L).map(i => (s"src${i % 5}", i))
      .map { case (g, i) => (g, graft.core.TextHash.charHash64(s"$i:s"), i) }
      .groupBy(_._1).toSeq.flatMap { case (g, rows) =>
        rows.sortBy(r => (r._2, r._3)).take(cap).zipWithIndex
          .map { case ((_, h, i), rk) => (g, (rk + 1).toLong, i, h) }
      }.toSet
    assert(got.length === 5 * cap)
    assert(got.toSet === want)
    // every group capped at exactly `cap`, ranks 1..cap
    got.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.toSeq === (1L to cap).toSeq)
    }
  }

  test("packSequences: matches sequential in-JVM reference; stable under repartition") {
    val docs = (0L until 300L).map(i =>
      (i, (0 until (i % 17).toInt).map(j => s"w$j").mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    val seqLen = 16
    // reference: sort by (hash, id), running offset, floor-div windows
    val ordered = docs.map { case (i, t) =>
      val nTok = t.split("\\s+").count(_.nonEmpty) + 1
      (TextHash.charHash64(s"$i:s"), i, nTok.toLong)
    }.sortBy(r => (r._1, r._2))
    var off = 0L
    val want = ordered.map { case (h, i, n) =>
      val r = (i, n, h, off, off / seqLen, (off + n - 1) / seqLen, off % seqLen)
      off += n; r
    }.toSet
    val got = TextAnalysis.packSequences(df, col("doc_id"), col("text"), seqLen, "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(got === want)
    // manifest is a pure function of content — input layout must not matter
    val shuffled = TextAnalysis.packSequences(
        df.repartition(7, col("text")), col("doc_id"), col("text"), seqLen, "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(shuffled === got)
    // stream is gapless: offsets tile [0, total) exactly
    assert(got.toSeq.map(_._2).sum === got.toSeq.map(r => r._4 + r._2).max)
    assert(got.toSeq.sortBy(_._4).sliding(2).forall {
      case Seq(a, b) => a._4 + a._2 == b._4; case _ => true
    })
  }

  test("packTokens: sequences tile the stream exactly and hash-match an in-JVM rebuild") {
    val docs = (0L until 120L).map(i =>
      (i, (0 until (i % 11).toInt).map(j => s"t${i}x$j").mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    val seqLen = 16
    // rebuild the stream sequentially: hash order, ws tokens + EOS each
    val stream = docs
      .map { case (i, t) => (TextHash.charHash64(s"$i:s"), i,
        t.split("\\s+").filter(_.nonEmpty) :+ TextAnalysis.EosToken) }
      .sortBy(r => (r._1, r._2)).flatMap(_._3)
    val want = stream.grouped(seqLen).zipWithIndex.map { case (chunk, i) =>
      (i.toLong, chunk.length.toLong, TextHash.charHash(chunk.mkString(" ")))
    }.toSeq
    val got = TextAnalysis.packTokens(df, col("doc_id"), col("text"), seqLen, "s")
      .orderBy("seq_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want)
    // every sequence full except possibly the last; ids dense from 0
    assert(got.map(_._1) === got.indices.map(_.toLong))
    assert(got.dropRight(1).forall(_._2 == seqLen))
    // stream length conservation vs the manifest
    val manifestTotal = TextAnalysis.packSequences(df, col("doc_id"), col("text"), seqLen, "s")
      .agg(sum("n_tok")).collect()(0).getLong(0)
    assert(got.map(_._2).sum === manifestTotal)
  }

  test("mixtureSample: integer ppm semantics — drop / down / keep / upsample") {
    val df = (0L until 400L).map(i => (i, s"d${i % 4}")).toDF("doc_id", "source")
    val rates = Map("d0" -> 0L, "d1" -> 500000L, "d3" -> 2300000L)
    val got = TextAnalysis.mixtureSample(df, col("doc_id"), col("source"),
        rates, defaultPpm = 1000000L, salt = "mx")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byDoc = got.groupBy(_._1)
    def uOf(i: Long) = math.floorMod(TextHash.charHash64(s"$i:mx"), 1000000L)
    (0L until 400L).foreach { i =>
      val dom = s"d${i % 4}"
      val ppm = rates.getOrElse(dom, 1000000L)
      val wantCopies = ppm / 1000000L + (if (uOf(i) < ppm % 1000000L) 1L else 0L)
      val copies = byDoc.get(i).map(_.length.toLong).getOrElse(0L)
      assert(copies === wantCopies, s"doc $i dom $dom")
      if (copies > 0) // copy_no dense 0..n-1 (epoch labels for the packer)
        assert(byDoc(i).map(_._4).sorted.toSeq === (0L until copies).toSeq)
    }
    assert(!got.exists(_._2 == "d0"))                       // rate 0 → gone
    assert(byDoc.filter(_._2.head._2 == "d3").forall(_._2.length >= 2)) // ≥2x
  }

  test("redactPii: hand cases — placement, order email→ip→phone, counts") {
    val df = Seq(
      (1L, "reach me at bob.smith+x@sub.example.org thanks"),
      (2L, "server 192.168.0.1 and 10.0.0.7 rebooted"),
      (3L, "call 555-123-4567 or 555-000-1234 today"),
      (4L, "mixed a@b.co at 1.2.3.4 tel 111-222-3333"),
      (5L, "nothing to scrub here"),
      (6L, "v1.2.3 is not an ip but 1.2.3.4.5 contains one")).toDF("doc_id", "text")
    val red = df.select(col("doc_id"),
        TextAnalysis.redactedText(col("text")).as("r")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(red(1L) === "reach me at <EMAIL> thanks")
    assert(red(2L) === "server <IP> and <IP> rebooted")
    assert(red(3L) === "call <PHONE> or <PHONE> today")
    assert(red(4L) === "mixed <EMAIL> at <IP> tel <PHONE>")
    assert(red(5L) === "nothing to scrub here")
    assert(red(6L) === "v1.2.3 is not an ip but <IP>.5 contains one")
    val counts = TextAnalysis.redactPii(df, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(counts(1L) === ((1L, 0L, 0L)))
    assert(counts(2L) === ((0L, 2L, 0L)))
    assert(counts(3L) === ((0L, 0L, 2L)))
    assert(counts(4L) === ((1L, 1L, 1L)))
    assert(counts(5L) === ((0L, 0L, 0L)))
  }

  test("importanceResample equals in-JVM DSIR-shape reference; short docs dropped") {
    val docs = Seq(
      (1L, "alpha beta alpha beta alpha beta"), // target-like → high ratio
      (2L, "alpha beta gamma delta"),
      (3L, "gamma delta gamma delta gamma delta"), // raw-only → low ratio
      (4L, "epsilon"), // < 2 tokens → n_grams 0, never kept
      (5L, "alpha beta alpha beta"),
      (6L, "")).toDF("doc_id", "text")
    val B = 64; val tau = 1
    val got = TextAnalysis.importanceResample(docs, col("doc_id"), col("text"),
        docs.where(col("doc_id") % 2 === 1), col("text"), numBuckets = B, tau = tau)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap

    // in-JVM reference with the SAME hash kernels
    val texts = Map(1L -> "alpha beta alpha beta alpha beta", 2L -> "alpha beta gamma delta",
      3L -> "gamma delta gamma delta gamma delta", 4L -> "epsilon",
      5L -> "alpha beta alpha beta", 6L -> "")
    def feats(t: String): Seq[Long] = {
      val ts = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      ts.sliding(2).filter(_.length == 2)
        .map(p => Math.floorMod(TextHash.charHash64(p.mkString(" ")), B.toLong)).toSeq
    }
    val all = texts.view.mapValues(feats).toMap
    val rc = all.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tc = all.filter(_._1 % 2 == 1).values.flatten.groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val S = TextAnalysis.DSIR_SCALE
    def w(f: Long): Long = math.min(TextAnalysis.DSIR_RATIO_CAP * S,
      S * (tc.getOrElse(f, 0L) + 1) / (rc(f) + 1))
    texts.keys.foreach { id =>
      val fs = all(id)
      val n = fs.size.toLong
      val score = fs.map(w).sum
      val draw = Math.floorMod(TextHash.charHash64(s"$id:dsir"), 1000000L)
      val kept = n > 0 && draw * n * S * tau < score * 1000000L
      assert(got(id) === ((n, score, draw, kept)), s"doc $id")
    }
    // the target-heavy doc must outscore per-gram the raw-only doc
    assert(got(1L)._2 / got(1L)._1 > got(3L)._2 / got(3L)._1)
    assert(!got(4L)._4 && !got(6L)._4)
  }
}
