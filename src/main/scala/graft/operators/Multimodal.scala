package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.fixtures.ImageCodec

/** Multimodal (image) column operators: the payload rides as an opaque
  * `binary` column with typed metadata (input_hint shape), and per-row
  * kernels run inside `mapPartitions` — one decoded image in flight per
  * row, nothing heavy enters Catalyst expressions or the shuffle.
  *
  * The SUPPORTED format set is exactly the real codecs: raw bytes, png,
  * jpeg (lossy DCT), bmp, gif via the in-JDK javax.imageio stack, and
  * lossless WebP via the in-repo VP8L codec (graft.core.Vp8l: real RIFF
  * container, prefix codes, color cache, LZ77, all four transforms).
  * Formats outside that set are NOT advertised; an unknown `fmt` tag hits
  * `decodeStub`, the clearly marked extension point where a production
  * build links an external decoder (libavif, libheif, …) — the plumbing
  * around it (schema, batching, partition preservation, verification
  * metrics) is format-agnostic and tested with a synthetic foreign tag.
  *
  * Scale: all ops are narrow (no shuffle); decode cost dominates, so
  * partition sizing is rows/partition × avg image bytes — the caller
  * controls it with the input layout, and lineage-checkpointing (q61)
  * composes for resumability.
  */
object Multimodal {

  /** Extension point for format tags OUTSIDE the supported set:
    * deterministic fake decode so the pipeline shape is exercised
    * end-to-end. Not part of the advertised surface — a production build
    * replaces this body with the external decoder link.
    */
  def decodeStub(bytes: Array[Byte], fmt: String, w: Int, h: Int): Array[Byte] = {
    // ??? in production: link a real decoder. Deterministic fake for tests:
    val px = new Array[Byte](w * h)
    var i = 0
    while (i < px.length) { px(i) = bytes(i % math.max(1, bytes.length)); i += 1 }
    px
  }

  private def decodeAny(bytes: Array[Byte], fmt: String, w: Int, h: Int): Array[Byte] =
    if (ImageCodec.RealFormats.contains(fmt.toLowerCase))
      ImageCodec.decode(bytes, fmt, w, h) // raw/png/jpeg/bmp/gif/webp — real decode
    else decodeStub(bytes, fmt, w, h)     // foreign tag — extension point

  private val metaSchema = StructType(Seq(
    StructField("image_id", StringType), StructField("fmt", StringType),
    StructField("w", IntegerType), StructField("h", IntegerType),
    StructField("n_pixels", IntegerType), StructField("mean_luma", DoubleType),
    StructField("phash_recomputed", LongType), StructField("phash_match", BooleanType),
    StructField("roundtrip_psnr_db", DoubleType)))

  /** Decode + verify each image: recompute the 8×8 average-hash (must equal
    * the stored `phash` for fixture rows), re-encode + decode and measure
    * PSNR (∞ for lossless — the ≥40 dB gate is what a lossy fmt would face).
    */
  def decodeMeta(images: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(metaSchema)
    images.select("image_id", "bytes", "w", "h", "fmt", "phash")
      .mapPartitions { it =>
        it.map { r =>
          val (id, bytes, w, h, fmt, phash) = (r.getString(0), r.getAs[Array[Byte]](1),
            r.getInt(2), r.getInt(3), r.getString(4), r.getLong(5))
          val px = decodeAny(bytes, fmt, w, h)
          var sum = 0L; var i = 0
          while (i < px.length) { sum += (px(i) & 0xff); i += 1 }
          val rehash = ImageCodec.avgHash64(px, w, h)
          val reenc = fmt match {
            case "png" => ImageCodec.decode(ImageCodec.encodePng(px, w, h), "png", w, h)
            case "webp" => ImageCodec.decode(ImageCodec.encodeWebp(px, w, h), "webp", w, h)
            case "jpg" | "jpeg" => // genuinely lossy roundtrip — PSNR finite
              ImageCodec.decode(ImageCodec.encodeJpeg(px, w, h), "jpg", w, h)
            case _ => px
          }
          Row(id, fmt, w, h, px.length, sum.toDouble / px.length, rehash,
            rehash == phash, ImageCodec.psnr(px, reenc))
        }
      }(enc)
  }

  private val resizeSchema = StructType(Seq(
    StructField("image_id", StringType), StructField("bytes", BinaryType),
    StructField("w", IntegerType), StructField("h", IntegerType),
    StructField("fmt", StringType)))

  /** Nearest-neighbour resample to (tw, th) — a real, dependency-free
    * resize over gray pixels; output is `raw` fmt.
    */
  def resize(images: DataFrame, tw: Int, th: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(resizeSchema)
    images.select("image_id", "bytes", "w", "h", "fmt")
      .mapPartitions { it =>
        it.map { r =>
          val (id, bytes, w, h, fmt) = (r.getString(0), r.getAs[Array[Byte]](1),
            r.getInt(2), r.getInt(3), r.getString(4))
          val px = decodeAny(bytes, fmt, w, h)
          val out = new Array[Byte](tw * th)
          var y = 0
          while (y < th) {
            val sy = y * h / th
            var x = 0
            while (x < tw) { out(y * tw + x) = px(sy * w + x * w / tw); x += 1 }
            y += 1
          }
          Row(id, out, tw, th, "raw")
        }
      }(enc)
  }

  private val whtSchema = StructType(Seq(
    StructField("phash", LongType), StructField("dc_e", LongType),
    StructField("low_e", LongType), StructField("high_e", LongType)))

  /** WALSH–HADAMARD frequency-energy profile — the frequency-domain
    * sharpness gate, integer-exact where DCT is not: decode → 8×8 exact
    * mean-pool (the [[objectCount]] grid) → 2D WHT of the 64 pooled values
    * (±1 butterflies only — every coefficient is an exact int64) → L1
    * energies by SEQUENCY band (sequency = sign changes of the Walsh
    * function; the natural-order butterfly index is NOT a frequency, so
    * each axis index maps through the n=8 natural→sequency table): DC,
    * LOW (0 < seq(u)+seq(x) < 8), HIGH (≥ 8). high/low is the consumer's
    * blur-vs-texture ratio; a flat image is all-DC and a block
    * checkerboard all-HIGH (both spec-pinned poles). Complements
    * [[rasterTv]] (spatial gradient) with the spectral view a
    * compression-aware curation pipeline wants.
    *
    * Output: (phash, dc_e, low_e, high_e) per image — decode-once narrow
    * map kernel, 32 B/row, no shuffle.
    */
  def whtEnergy(images: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(whtSchema)
    images.select("bytes", "w", "h", "fmt", "phash")
      .mapPartitions { it =>
        val v = new Array[Long](64)
        // natural (Hadamard) butterfly index → sequency, n = 8
        val seq = Array(0, 7, 3, 4, 1, 6, 2, 5)
        it.map { r =>
          val (bytes, w, h, fmt, phash) = (r.getAs[Array[Byte]](0),
            r.getInt(1), r.getInt(2), r.getString(3), r.getLong(4))
          require(w % 8 == 0 && h % 8 == 0, s"dims ${w}x$h not 8-divisible")
          val px = decodeAny(bytes, fmt, w, h)
          val bw = w / 8; val bh = h / 8; val cellPx = bw.toLong * bh
          var gy = 0
          while (gy < 8) {
            var gx = 0
            while (gx < 8) {
              var sum = 0L; var y = gy * bh
              while (y < (gy + 1) * bh) {
                val base = y * w + gx * bw; var i = 0
                while (i < bw) { sum += (px(base + i) & 0xff); i += 1 }
                y += 1
              }
              v(gy * 8 + gx) = sum / cellPx
              gx += 1
            }
            gy += 1
          }
          // in-place 2D WHT: rows then columns, 3 butterfly stages each
          var stride = 1
          while (stride < 8) { // rows
            var row = 0
            while (row < 8) {
              var j = 0
              while (j < 8) {
                if ((j / stride) % 2 == 0) {
                  val a = v(row * 8 + j); val b = v(row * 8 + j + stride)
                  v(row * 8 + j) = a + b; v(row * 8 + j + stride) = a - b
                }
                j += 1
              }
              row += 1
            }
            stride *= 2
          }
          stride = 1
          while (stride < 8) { // columns
            var colI = 0
            while (colI < 8) {
              var j = 0
              while (j < 8) {
                if ((j / stride) % 2 == 0) {
                  val a = v(j * 8 + colI); val b = v((j + stride) * 8 + colI)
                  v(j * 8 + colI) = a + b; v((j + stride) * 8 + colI) = a - b
                }
                j += 1
              }
              colI += 1
            }
            stride *= 2
          }
          var dc = 0L; var lo = 0L; var hi = 0L
          var u = 0
          while (u < 8) {
            var x = 0
            while (x < 8) {
              val e = math.abs(v(u * 8 + x))
              if (u == 0 && x == 0) dc += e
              else if (seq(u) + seq(x) < 8) lo += e
              else hi += e
              x += 1
            }
            u += 1
          }
          Row(phash, dc, lo, hi)
        }
      }(enc)
  }

  private val thumbSchema = StructType(Seq(
    StructField("image_id", StringType), StructField("w", IntegerType),
    StructField("h", IntegerType), StructField("thumb", BinaryType),
    StructField("thumb_len", IntegerType)))

  /** THUMBNAIL materialization — the decode→resize→ENCODE leg of an image
    * pipeline (preview grids, low-res training variants, review UIs): each
    * image decodes (PNG/VP8L/raw), nearest-neighbor-resizes to tw×th (the
    * [[resize]] integer kernel — deterministic, no filtering kernel to
    * disagree about), and re-encodes through the in-repo RFC-2083 PNG
    * writer, so the output column is a REAL self-contained artifact, not a
    * pixel blob. Everything is deterministic end-to-end: the same input
    * corpus produces byte-identical thumbnails on any engine, which is
    * what makes `thumb_len` oracle-checkable from generator rules alone.
    *
    * Output: (image_id, w, h, thumb, thumb_len) — w/h are the ORIGINAL
    * dims (the grouping key a curation report wants); thumb is the PNG.
    *
    * Scale: decode-once narrow map kernel; a tw×th thumbnail is a few
    * hundred bytes, so the output is shuffle-light even at corpus scale
    * and the stage is embarrassingly parallel with no exchange at all.
    */
  def thumbnails(images: DataFrame, tw: Int, th: Int): DataFrame = {
    require(tw >= 1 && th >= 1 && tw <= 4096 && th <= 4096,
      "thumbnail dims in [1, 4096]")
    val enc = RowEncoder.encoderFor(thumbSchema)
    images.select("image_id", "bytes", "w", "h", "fmt")
      .mapPartitions { it =>
        it.map { r =>
          val (id, bytes, w, h, fmt) = (r.getString(0), r.getAs[Array[Byte]](1),
            r.getInt(2), r.getInt(3), r.getString(4))
          val px = decodeAny(bytes, fmt, w, h)
          val out = new Array[Byte](tw * th)
          var y = 0
          while (y < th) {
            val sy = y * h / th
            var x = 0
            while (x < tw) { out(y * tw + x) = px(sy * w + x * w / tw); x += 1 }
            y += 1
          }
          val png = graft.fixtures.ImageCodec.encodePng(out, tw, th)
          Row(id, w, h, png, png.length)
        }
      }(enc)
  }

  private val featSchema = StructType(Seq(
    StructField("image_id", StringType),
    StructField("embedding", ArrayType(DoubleType, containsNull = false)),
    StructField("hist8", ArrayType(LongType, containsNull = false))))

  /** Feature extraction: 64-dim block-mean embedding (8×8 grid of mean
    * luma, normalized to [0,1]) + 8-bin luma histogram — bridges the image
    * table into the embedding similarity operators (Similarity.topKDot).
    */
  def features(images: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(featSchema)
    images.select("image_id", "bytes", "w", "h", "fmt")
      .mapPartitions { it =>
        it.map { r =>
          val (id, bytes, w, h, fmt) = (r.getString(0), r.getAs[Array[Byte]](1),
            r.getInt(2), r.getInt(3), r.getString(4))
          val px = decodeAny(bytes, fmt, w, h)
          val bw = w / 8; val bh = h / 8
          val emb = new Array[Double](64)
          var k = 0
          while (k < 64) {
            val br = k / 8; val bc = k % 8
            var sum = 0L; var y = br * bh
            while (y < (br + 1) * bh) {
              var x = bc * bw
              while (x < (bc + 1) * bw) { sum += (px(y * w + x) & 0xff); x += 1 }
              y += 1
            }
            emb(k) = sum.toDouble / (bw * bh) / 255.0
            k += 1
          }
          val hist = new Array[Long](8)
          var i = 0
          while (i < px.length) { hist((px(i) & 0xff) >> 5) += 1; i += 1 }
          Row(id, emb, hist)
        }
      }(enc)
  }

  private val frameSchema = StructType(Seq(
    StructField("image_id", StringType), StructField("frame_idx", IntegerType),
    StructField("bytes", BinaryType), StructField("w", IntegerType),
    StructField("h", IntegerType)))

  private val audioSchema = StructType(Seq(
    StructField("image_id", StringType), StructField("window_idx", IntegerType),
    StructField("rms", DoubleType), StructField("peak", IntegerType)))

  /** Audio-pipeline shape: treat the binary payload as unsigned 8-bit PCM
    * and emit per-window RMS + peak (the feature a speech-data pipeline
    * extracts before filtering). Same plumbing contract as decode: the
    * byte interpretation is the swappable part, the flatMap fan-out +
    * schema is the real operator.
    */
  def audioFeatures(rows: DataFrame, window: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(audioSchema)
    rows.select("image_id", "bytes")
      .flatMap { r =>
        val id = r.getString(0); val b = r.getAs[Array[Byte]](1)
        (0 until b.length / window).map { wi =>
          var sumSq = 0.0; var peak = 0
          var i = wi * window
          while (i < (wi + 1) * window) {
            val v = (b(i) & 0xff) - 128
            sumSq += v.toDouble * v
            if (math.abs(v) > peak) peak = math.abs(v)
            i += 1
          }
          Row(id, wi, math.sqrt(sumSq / window), peak)
        }
      }(enc)
  }

  /** Frame sampling: treat each image as a stack of `h/frameH` horizontal
    * bands ("frames") and emit every `stride`-th band — the video-pipeline
    * shape (1 row in → N frame rows out, flatMap fan-out, no shuffle).
    */
  def sampleFrames(images: DataFrame, frameH: Int, stride: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(frameSchema)
    images.select("image_id", "bytes", "w", "h", "fmt")
      .flatMap { r =>
        val (id, bytes, w, h, fmt) = (r.getString(0), r.getAs[Array[Byte]](1),
          r.getInt(2), r.getInt(3), r.getString(4))
        val px = decodeAny(bytes, fmt, w, h)
        val nFrames = h / frameH
        (0 until nFrames by stride).map { f =>
          Row(id, f, java.util.Arrays.copyOfRange(px, f * frameH * w, (f + 1) * frameH * w),
            w, frameH)
        }
      }(enc)
  }

  private val zonalDecodeSchema = StructType(Seq(
    StructField("phash", LongType),
    StructField("n_pixels", IntegerType), StructField("sum_luma", LongType)))

  /** Per-image decoded luma totals — the narrow raster stage behind
    * [[zonalStats]]: decode once per row inside the scan task, emit ONLY
    * (phash, n_pixels, sum_luma) — 20 bytes/row, no image_id string: the
    * zone aggregate never reads it, and dropping it from the decode
    * projection measurably cut the stage's GC share (the per-row UTF8
    * string was ~20% of task time in allocation/GC at 8M rows). Pixel
    * bytes NEVER leave the task.
    */
  private val tvSchema = StructType(Seq(
    StructField("w", IntegerType), StructField("h", IntegerType),
    StructField("tv", LongType)))

  /** Exact integer L1 total variation per image — Σ|adjacent-pixel luma
    * difference| over both axes — the sharpness/flatness score an image
    * curation pipeline gates on (flat = low-information screenshot/solid
    * fill → drop; the TV-per-pixel threshold is the knob). Same
    * decode-once narrow-kernel shape as [[decodedLuma]]: real codec work
    * inside the scan task, 16 bytes/row out, pixel bytes never leave the
    * task, no shuffle until the caller aggregates. Exact int64 (≤255 per
    * pair × <2·w·h pairs), so the fixture oracle re-derives it
    * bit-for-bit from the generator's bit→block rule: each differing
    * adjacent block pair contributes 150·(block edge length in pixels).
    */
  def rasterTv(images: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(tvSchema)
    images.select("bytes", "w", "h", "fmt")
      .mapPartitions { it =>
        it.map { r =>
          val (bytes, w, h, fmt) = (r.getAs[Array[Byte]](0),
            r.getInt(1), r.getInt(2), r.getString(3))
          val px = decodeAny(bytes, fmt, w, h)
          var tv = 0L
          var y = 0
          while (y < h) {
            val base = y * w
            var x = 0
            while (x < w - 1) {
              tv += math.abs((px(base + x + 1) & 0xff) - (px(base + x) & 0xff)); x += 1
            }
            y += 1
          }
          y = 0
          while (y < h - 1) {
            val b0 = y * w; val b1 = b0 + w
            var x = 0
            while (x < w) {
              tv += math.abs((px(b1 + x) & 0xff) - (px(b0 + x) & 0xff)); x += 1
            }
            y += 1
          }
          Row(w, h, tv)
        }
      }(enc)
  }

  private val histSchema = StructType(Seq(
    StructField("w", IntegerType), StructField("h", IntegerType),
    StructField("total_px", LongType), StructField("max_count", LongType),
    StructField("collision", LongType), StructField("nonzero_bins", IntegerType),
    StructField("dominant_ppm", LongType)))

  /** Per-image 16-bin LUMA-HISTOGRAM concentration stats — the tonal-
    * distribution curation gate next to [[rasterTv]] (spatial gradient)
    * and [[whtEnergy]] (spectral): a near-single-tone image (solid fill,
    * letterboxed black, blown-out white) concentrates its histogram into
    * one bin regardless of how much EDGE it has, and this gate catches it
    * where TV alone can dither. Integer-exact entropy surrogate (log never
    * enters the engine): `collision` = Σ nᵢ² over the 16 bin counts — the
    * Simpson / Rényi-2 index numerator, maximal (total²) for a one-bin
    * image and minimal (total²/16) for a uniform histogram — plus
    * `dominant_ppm` = ⌊max-bin · 10⁶ / total⌋ and `nonzero_bins`. Same
    * decode-once narrow kernel as [[rasterTv]]: real codec work inside
    * the scan task, ≤ 40 bytes/row out, no shuffle until the caller
    * aggregates. Exact int64 (nᵢ ≤ w·h, so Σnᵢ² ≤ (w·h)² — fine to
    * gigapixel frames).
    */
  def lumaHistogram(images: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(histSchema)
    images.select("bytes", "w", "h", "fmt")
      .mapPartitions { it =>
        val bins = new Array[Long](16)
        it.map { r =>
          val (bytes, w, h, fmt) = (r.getAs[Array[Byte]](0),
            r.getInt(1), r.getInt(2), r.getString(3))
          val px = decodeAny(bytes, fmt, w, h)
          java.util.Arrays.fill(bins, 0L)
          var i = 0
          val n = w * h
          while (i < n) { bins((px(i) & 0xff) >> 4) += 1L; i += 1 }
          var b = 0; var mx = 0L; var coll = 0L; var nz = 0
          while (b < 16) {
            val c = bins(b)
            if (c > 0) { nz += 1; if (c > mx) mx = c; coll += c * c }
            b += 1
          }
          Row(w, h, n.toLong, mx, coll,
            nz, if (n > 0) mx * 1000000L / n else 0L)
        }
      }(enc)
  }

  private val dhashSchema = StructType(Seq(
    StructField("w", IntegerType), StructField("h", IntegerType),
    StructField("dhash", LongType)))

  /** Per-image DIFFERENCE HASH (dHash) — the gradient-based perceptual
    * hash: 8×8 exact integer mean-pool (block SUMS compared directly —
    * equal denominators, so no division ever happens), bit (r,c) = 1 iff
    * the row-wise NEXT cell (wrapping, (c+1) mod 8) is strictly brighter.
    * The wrap keeps all 64 bits defined from an 8×8 grid (the classic
    * 9×8 variant needs a 9-column pool that can't be integer-exact on
    * 8-divisible fixture dims — documented deviation). Complements
    * avg-hash (level-based, [[imageFeatures]]) the way [[rasterTv]]
    * complements [[whtEnergy]]: avg-hash thresholds against the global
    * mean, dHash sees local gradient SIGN, so it is immune to global
    * brightness/contrast shifts that flip avg-hash bits. Feed the output
    * into [[Dedup.hammingPairs]] for dHash-keyed image near-dup.
    *
    * Blocks are (w/8)×(h/8) px; when w or h is not a multiple of 8 the
    * remainder columns/rows fold into block 7 of their row/column. An
    * image under 8 px on either side has no block grid and is rejected
    * with an IllegalArgumentException naming its size.
    *
    * On generator images the pooled cells ARE the phash bit blocks, so
    * dhash = (~p) & rotlRow(p) in closed form (bit set ⟺ current bit 0 ∧
    * row-next bit 1) — the oracle replays the corpus histogram from that
    * identity alone. Decode-once narrow kernel: ≤ 24 B/row, no shuffle.
    */
  def dHash(images: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(dhashSchema)
    images.select("bytes", "w", "h", "fmt")
      .mapPartitions { it =>
        val sums = new Array[Long](64)
        it.map { r =>
          val (bytes, w, h, fmt) = (r.getAs[Array[Byte]](0),
            r.getInt(1), r.getInt(2), r.getString(3))
          require(w >= 8 && h >= 8, s"dHash needs an image of at least 8x8 px, got ${w}x$h")
          val px = decodeAny(bytes, fmt, w, h)
          java.util.Arrays.fill(sums, 0L)
          val bw = w / 8; val bh = h / 8
          var y = 0
          while (y < h) {
            val gy = math.min(y / bh, 7); val base = y * w
            var x = 0
            while (x < w) {
              sums(gy * 8 + math.min(x / bw, 7)) += (px(base + x) & 0xff)
              x += 1
            }
            y += 1
          }
          var dh = 0L
          var gy = 0
          while (gy < 8) {
            var gx = 0
            while (gx < 8) {
              if (sums(gy * 8 + (gx + 1) % 8) > sums(gy * 8 + gx))
                dh |= 1L << (gy * 8 + gx)
              gx += 1
            }
            gy += 1
          }
          Row(w, h, dh)
        }
      }(enc)
  }

  private val otsuSchema = StructType(Seq(
    StructField("w", IntegerType), StructField("h", IntegerType),
    StructField("otsu_t", IntegerType), StructField("n_below", LongType)))

  /** OTSU THRESHOLD [Otsu 1979] per image — the optimal global
    * binarization level: the t maximizing between-class variance
    * σ_b²(t) = ω₀ω₁(μ₀−μ₁)², the classic document/mask binarizer and the
    * adaptive upgrade of [[objectCount]]'s fixed threshold. Deterministic
    * integer rule: σ_b² comparisons are done EXACTLY as the cross-
    * multiplied rationals A(t)²·D(t′) vs A(t′)²·D(t) with
    * A = m₀ω₁ − m₁ω₀ and D = ω₀ω₁ (A² reaches ~2⁷² on large frames, so
    * the per-image comparison uses BigInt — bounded per-row work in a
    * map-only kernel, no codegen constraint); only splits with both
    * classes nonempty are valid; ties take the SMALLEST t; images with a
    * single distinct luma emit t = −1 (nothing to separate). Output:
    * (w, h, otsu_t, n_below = pixels strictly below t).
    *
    * On two-tone generator images every valid split ties (A = −150·c₀c₁
    * for all t ∈ (50, 200]), so the rule lands t = 51 exactly — the
    * oracle replays the corpus histogram closed-form from popcount(phash).
    * Decode-once narrow kernel: ≤ 24 B/row, no shuffle.
    */
  def otsuThreshold(images: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(otsuSchema)
    images.select("bytes", "w", "h", "fmt")
      .mapPartitions { it =>
        val bins = new Array[Long](256)
        it.map { r =>
          val (bytes, w, h, fmt) = (r.getAs[Array[Byte]](0),
            r.getInt(1), r.getInt(2), r.getString(3))
          val px = decodeAny(bytes, fmt, w, h)
          java.util.Arrays.fill(bins, 0L)
          var i = 0
          val n = w * h
          while (i < n) { bins(px(i) & 0xff) += 1L; i += 1 }
          val totW = bins.sum
          val totM = bins.indices.map(b => b.toLong * bins(b)).sum
          var bestT = -1
          var bestA2: BigInt = null; var bestD: BigInt = null
          var w0 = 0L; var m0 = 0L
          var t = 1
          while (t < 256) {
            w0 += bins(t - 1); m0 += (t - 1).toLong * bins(t - 1)
            val w1 = totW - w0; val m1 = totM - m0
            if (w0 > 0 && w1 > 0) {
              val a = BigInt(m0) * w1 - BigInt(m1) * w0
              val a2 = a * a; val d = BigInt(w0) * w1
              // a2/d > bestA2/bestD  ⟺  a2·bestD > bestA2·d
              if (bestT == -1 || a2 * bestD > bestA2 * d) {
                bestT = t; bestA2 = a2; bestD = d
              }
            }
            t += 1
          }
          val nBelow = if (bestT <= 0) 0L
            else (0 until bestT).map(bins(_)).sum
          Row(w, h, bestT, nBelow)
        }
      }(enc)
  }

  private val objSchema = StructType(Seq(
    StructField("phash", LongType), StructField("w", IntegerType),
    StructField("h", IntegerType), StructField("n_objects", IntegerType)))

  /** Per-image OBJECT COUNT — connected-component labeling of the bright
    * mask: decode → `grid`×`grid` exact integer mean-pool → threshold →
    * count 4-connected components of bright cells. The blob-count gate an
    * image curation pipeline uses to drop empty frames (0 objects) and
    * cluttered collages (many), and the third member of the sharpness
    * triad next to [[rasterTv]] (gradient energy) and phash (layout): TV
    * says HOW MUCH edge, this says how many separate THINGS.
    *
    * Same decode-once narrow-kernel shape as [[decodedLuma]]: real codec
    * work (PNG/VP8L/raw), then a bounded grid²-cell union-free DFS entirely
    * in the map task — output is 20 B/row, no pixel bytes ever reach a
    * shuffle. Mean-pooling is exact integer division (sum div cellPixels),
    * so the mask — and therefore the count — is engine-invariant; `w`, `h`
    * must be multiples of `grid` (checked) so pools tile exactly.
    */
  def objectCount(images: DataFrame, grid: Int = 8, thresh: Int = 128): DataFrame = {
    require(grid >= 1 && grid <= 64 && thresh >= 0 && thresh <= 255,
      "need 1 <= grid <= 64 and a byte threshold")
    val enc = RowEncoder.encoderFor(objSchema)
    images.select("bytes", "w", "h", "fmt", "phash")
      .mapPartitions { it =>
        val stack = new Array[Int](64 * 64) // reused per task; grid ≤ 64
        it.map { r =>
          val (bytes, w, h, fmt, phash) = (r.getAs[Array[Byte]](0),
            r.getInt(1), r.getInt(2), r.getString(3), r.getLong(4))
          require(w % grid == 0 && h % grid == 0,
            s"dims ${w}x$h not divisible by grid $grid")
          val px = decodeAny(bytes, fmt, w, h)
          val bw = w / grid; val bh = h / grid; val cellPx = bw.toLong * bh
          val mask = new Array[Boolean](grid * grid)
          var gy = 0
          while (gy < grid) {
            var gx = 0
            while (gx < grid) {
              var sum = 0L; var y = gy * bh
              while (y < (gy + 1) * bh) {
                val base = y * w + gx * bw; var i = 0
                while (i < bw) { sum += (px(base + i) & 0xff); i += 1 }
                y += 1
              }
              mask(gy * grid + gx) = sum / cellPx >= thresh
              gx += 1
            }
            gy += 1
          }
          var count = 0; var seed = 0
          while (seed < grid * grid) {
            if (mask(seed)) {
              count += 1
              var top = 0; stack(top) = seed; top += 1; mask(seed) = false
              while (top > 0) {
                top -= 1; val c = stack(top)
                val cx = c % grid; val cy = c / grid
                if (cx + 1 < grid && mask(c + 1)) { mask(c + 1) = false; stack(top) = c + 1; top += 1 }
                if (cx > 0 && mask(c - 1)) { mask(c - 1) = false; stack(top) = c - 1; top += 1 }
                if (cy + 1 < grid && mask(c + grid)) { mask(c + grid) = false; stack(top) = c + grid; top += 1 }
                if (cy > 0 && mask(c - grid)) { mask(c - grid) = false; stack(top) = c - grid; top += 1 }
              }
            }
            seed += 1
          }
          Row(phash, w, h, count)
        }
      }(enc)
  }

  private def decodedLuma(images: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(zonalDecodeSchema)
    images.select("bytes", "w", "h", "fmt", "phash")
      .mapPartitions { it =>
        it.map { r =>
          val (bytes, w, h, fmt, phash) = (r.getAs[Array[Byte]](0),
            r.getInt(1), r.getInt(2), r.getString(3), r.getLong(4))
          val px = decodeAny(bytes, fmt, w, h)
          var sum = 0L; var i = 0
          while (i < px.length) { sum += (px(i) & 0xff); i += 1 }
          Row(phash, px.length, sum)
        }
      }(enc)
  }

  /** Zonal statistics — the raster↔vector composition the north star names:
    * aggregate decoded-pixel statistics of an image corpus per polygon zone
    * (upstream analogue: aggregateByGeometry over raster-derived values
    * [ref: oshdb-api/…/MapAggregator :: aggregateByGeometry]).
    *
    * Plan: (1) [[decodedLuma]] narrow decode — real codec work, no shuffle;
    * (2) location decoded from the phash Morton code (codegen exprs, exact
    * identity); (3) the generic cover-cell spatial join (broadcast polygon
    * cover + raycast refine — point side stays shuffle-free in broadcast
    * mode); (4) one hash-aggregate per zone with map-side partials. All
    * outputs exact int64 — n_images, total_pixels, sum_luma per zone —
    * so the oracle can re-derive them bit-for-bit from generator rules.
    *
    * Scale: the only exchange is the final per-zone aggregate (rows =
    * candidate join output, bytes/row ≤ 28); decode dominates wall-clock
    * and is embarrassingly parallel.
    */
  def zonalStats(spark: SparkSession, images: DataFrame,
                 specs: Array[graft.fixtures.PolySpec]): DataFrame = {
    import graft.functions.GraftFunctions.{phashLon, phashLat}
    val pts = decodedLuma(images)
      .withColumn("lonm", phashLon(col("phash")))
      .withColumn("latm", phashLat(col("phash")))
    SpatialJoin.join(spark, pts, col("lonm"), col("latm"), specs)
      .groupBy("poly_id")
      .agg(count(lit(1)).as("n_images"),
        sum(col("n_pixels").cast("long")).as("total_pixels"),
        sum("sum_luma").as("sum_luma"))
  }

  private val blockSchema = StructType(Seq(
    StructField("phash", LongType), StructField("n_pixels", IntegerType),
    StructField("blocks", ArrayType(LongType, containsNull = false))))

  /** Tile-mosaic rendering — the raster side of raster↔vector: aggregate
    * every image's grid×grid block-luma sums into one mosaic grid per map
    * tile (the "mean-luma tile layer" a 10^12-image corpus renders for
    * inspection; divide by pixel counts for means at display time — sums
    * stay exact int64 end-to-end).
    *
    * Plan: narrow decode+block-sum kernel (requires w,h divisible by grid;
    * true for the 8-multiple fixture dims), equirect tile assignment from
    * the phash location (integer-exact codegen), then ONE hash-aggregate
    * per tile where the grid rides [[graft.functions.VecSumAgg]] — an
    * elementwise mergeable vector sum with map-side partials. The naive
    * alternative (posexplode to (tile, pos) rows) would shuffle grid²×
    * more rows; the aggregate ships one partial vector per (task, tile).
    *
    * Output: (tile_z, tile_x, tile_y, n_images, total_pixels, mosaic) with
    * `mosaic` = elementwise summed grid (length grid², row-major).
    */
  def tileMosaic(images: DataFrame, z: Int, grid: Int = 8): DataFrame = {
    import graft.functions.GraftFunctions.{phashLon, phashLat}
    val enc = RowEncoder.encoderFor(blockSchema)
    // no image_id through the kernel: the per-tile aggregate never reads
    // it, and the per-row UTF8 string measurably dominated GC at 8M rows
    // (same finding as decodedLuma)
    val blocks = images.select("bytes", "w", "h", "fmt", "phash")
      .mapPartitions { it =>
        it.map { r =>
          val (bytes, w, h, fmt, phash) = (r.getAs[Array[Byte]](0),
            r.getInt(1), r.getInt(2), r.getString(3), r.getLong(4))
          require(w % grid == 0 && h % grid == 0,
            s"tileMosaic: dims ${w}x$h not divisible by grid $grid")
          val px = decodeAny(bytes, fmt, w, h)
          val bw = w / grid; val bh = h / grid
          val sums = new Array[Long](grid * grid)
          var k = 0
          while (k < sums.length) {
            val br = k / grid; val bc = k % grid
            var acc = 0L; var y = br * bh
            while (y < (br + 1) * bh) {
              var x = bc * bw
              while (x < (bc + 1) * bw) { acc += (px(y * w + x) & 0xff); x += 1 }
              y += 1
            }
            sums(k) = acc
            k += 1
          }
          Row(phash, px.length, sums)
        }
      }(enc)
    val located = blocks
      .withColumn("lonm", phashLon(col("phash")))
      .withColumn("latm", phashLat(col("phash")))
    SpatialJoin.assignTiles(located, col("lonm"), col("latm"), z)
      .groupBy("tile_z", "tile_x", "tile_y")
      .agg(count(lit(1)).as("n_images"),
        sum(col("n_pixels").cast("long")).as("total_pixels"),
        graft.functions.VecSumAgg.vecSum(col("blocks")).as("mosaic"))
  }

  /** One overview level of a raster tile PYRAMID (the standard map-serving
    * maintenance verb — gdaladdo / COG overviews shape): the z-level mosaic
    * table aggregates into z−1 tiles with true SPATIAL downsampling — each
    * parent grid cell is the sum of the 2×2 child-cell block that covers
    * the same ground, each child tile landing in its quadrant of the
    * parent. (Re-running tileMosaic at z−1 is NOT the same operator: that
    * re-bins whole images into coarser tiles at full grid resolution;
    * overviews must downsample the raster.)
    *
    * The per-child remap (child g×g grid → its quadrant of the parent
    * g×g grid, 4 cells → 1) is a pure codegen `transform` over the mosaic
    * array — shiftright/bitwise index math, no UDF — and parent tiles
    * aggregate through the same mergeable `vec_sum` as the base level, so
    * each level is ONE exchange of one partial grid per (task, parent
    * tile). A full pyramid build is `levels` such exchanges, each over 4×
    * fewer tiles — the classic geometric-cost overview pass.
    *
    * `grid` must be a power of two (the 2×2 fold). Exact int64 throughout.
    */
  def pyramidLevel(mosaic: DataFrame, grid: Int): DataFrame = {
    require(grid >= 2 && (grid & (grid - 1)) == 0, s"grid must be a power of 2, got $grid")
    val g = grid
    val s = Integer.numberOfTrailingZeros(g)
    val half = lit(g / 2)
    // quadrant of this child within its parent (tiles count from 0 at
    // north-west, so y%2=0 is the TOP half of the parent)
    val oy = pmod(col("tile_y"), lit(2)).cast("int")
    val ox = pmod(col("tile_x"), lit(2)).cast("int")
    val remapped = transform(sequence(lit(0), lit(g * g - 1)), p => {
      val pi = shiftright(p, s)
      val pj = p.bitwiseAND(lit(g - 1))
      val inQuad = (shiftright(pi, s - 1) === oy) && (shiftright(pj, s - 1) === ox)
      val i0 = pi * 2 - oy * lit(g) // child row of the 2×2 block
      val j0 = pj * 2 - ox * lit(g)
      def e(idx: org.apache.spark.sql.Column) =
        element_at(col("mosaic"), (idx + 1).cast("int")).cast("long")
      when(inQuad,
        e(i0 * g + j0) + e(i0 * g + j0 + 1) +
          e((i0 + 1) * g + j0) + e((i0 + 1) * g + j0 + 1))
        .otherwise(lit(0L))
    })
    mosaic
      .withColumn("_px", expr("tile_x div 2"))
      .withColumn("_py", expr("tile_y div 2"))
      .withColumn("_rm", remapped)
      .groupBy((col("tile_z") - 1).as("tile_z"), col("_px").as("tile_x"),
        col("_py").as("tile_y"))
      .agg(sum(col("n_images")).as("n_images"),
        sum(col("total_pixels")).as("total_pixels"),
        graft.functions.VecSumAgg.vecSum(col("_rm")).as("mosaic"))
  }

  /** Full overview chain: the base mosaic at `z` plus every pyramid level
    * down to `zMin`, one table (`tile_z` distinguishes levels).
    */
  def tilePyramid(images: DataFrame, z: Int, zMin: Int, grid: Int = 8): DataFrame = {
    require(zMin >= 0 && zMin <= z, s"need 0 <= zMin <= z, got $zMin..$z")
    val base = tileMosaic(images, z, grid)
    val levels = Iterator.iterate(base)(pyramidLevel(_, grid)).take(z - zMin + 1)
    levels.reduce(_ unionByName _)
  }

  /** Aspect-ratio bucketing (the image-training batching shape — SDXL-style
    * multi-aspect training, public technique): assign every image to the
    * bucket whose aspect ratio tw/th is nearest the image's own w/h, so a
    * loader can batch same-shaped tensors without destructive square crops.
    *
    * Exactness: nearest-ratio selection is integer cross-multiplied —
    * |w/h − tw/th| ∝ |w·th − tw·h| · (L/th) with L = lcm of all bucket
    * heights — so no float ratio exists and ties break to the LOWEST bucket
    * index (array_position returns the first minimum). Map-only, metadata
    * only: no decode, no shuffle; the per-bucket report downstream is one
    * hash-aggregate.
    */
  def aspectBucket(images: DataFrame, buckets: Seq[(Int, Int)]): DataFrame = {
    require(buckets.nonEmpty && buckets.forall { case (tw, th) => tw > 0 && th > 0 },
      "buckets must be non-empty positive dims")
    val lcm = buckets.map(_._2.toLong).reduce((a, b) => a / gcd(a, b) * b)
    require(lcm <= 1000000L, s"bucket-height lcm $lcm too large for exact int64 keys")
    val keys = array(buckets.map { case (tw, th) =>
      abs(col("w").cast("long") * th - lit(tw.toLong) * col("h")) * lit(lcm / th)
    }: _*)
    images.withColumn("_keys", keys)
      .withColumn("bucket_id",
        (array_position(col("_keys"), array_min(col("_keys"))) - 1).cast("int"))
      .withColumn("bucket_w",
        element_at(array(buckets.map(b => lit(b._1)): _*), col("bucket_id") + 1))
      .withColumn("bucket_h",
        element_at(array(buckets.map(b => lit(b._2)): _*), col("bucket_id") + 1))
      .drop("_keys")
  }

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** JOINT image+caption curation over an ingest table (the input_hint
    * shape): exact image dedup by the stored 64-bit phash (min-image_id
    * canonical election — the re-upload/mirror case), decode-integrity
    * gates from [[decodeMeta]] (recomputed avgHash must equal the stored
    * phash; re-encode roundtrip PSNR ≥ 40 dB), a minimum-resolution filter
    * on the DECODED pixel count, and caption token accounting over the
    * canonical survivors. Output: one compact report row per fmt —
    * (fmt, n_rows, n_canonical, n_dups_removed, n_kept_minres,
    * wp_tokens_kept, all_decode_ok, all_psnr_ok) — the curation report an
    * ingest loop checks before training.
    *
    * Scale: the dedup is ONE hash-aggregate on the 64-bit phash — no pixel
    * bytes ever shuffle (the canonical join is (phash, image_id) against
    * the aggregate's tiny output); decode runs once per row in narrow
    * mapPartitions; every gate aggregates with map-side partials. At 10^12
    * rows the phash aggregate is the only exchange and it carries 16 bytes
    * per distinct image.
    */
  def curateImages(images: DataFrame, minPixels: Int = 2048): DataFrame = {
    val canon = images.groupBy("phash")
      .agg(min("image_id").as("image_id"), count(lit(1)).as("n_copies"))
    val meta = decodeMeta(images)
    val gates = meta.groupBy("fmt")
      .agg(min(col("phash_match").cast("int")).as("all_decode_ok"),
        min((col("roundtrip_psnr_db") >= 40.0).cast("int")).as("all_psnr_ok"))
    val rowsPerFmt = images.groupBy("fmt").agg(count(lit(1)).as("n_rows"))
    val canonStats = images
      .join(canon, Seq("phash", "image_id")) // canonical full rows only
      .join(meta.select("image_id", "n_pixels"), Seq("image_id"))
      .withColumn("wp", element_at(
        graft.functions.TextFunctions.wordpieceCounts(col("caption")), 2))
      .groupBy("fmt")
      .agg(count(lit(1)).as("n_canonical"),
        sum(when(col("n_pixels") >= minPixels, 1L).otherwise(0L)).as("n_kept_minres"),
        sum(when(col("n_pixels") >= minPixels, col("wp")).otherwise(0L)).as("wp_tokens_kept"))
    rowsPerFmt.join(canonStats, "fmt").join(gates, "fmt")
      .select(col("fmt"), col("n_rows"), col("n_canonical"),
        (col("n_rows") - col("n_canonical")).as("n_dups_removed"),
        col("n_kept_minres"), col("wp_tokens_kept"),
        col("all_decode_ok"), col("all_psnr_ok"))
  }
}
