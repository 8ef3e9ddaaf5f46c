package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core._

/** Stateless deterministic randomness: every row derives from its index
  * alone (FIXTURES.md §5 — larger scale factors prefix smaller ones).
  */
object Rand {
  /** splitmix64 finalizer — public-domain mixing constants. */
  @inline def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  /** uniform double in [0,1) from a mixed long */
  @inline def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble
}

final case class ImageRow(image_id: String, bytes: Array[Byte], w: Int, h: Int,
                          fmt: String, caption: String, phash: Long)

final case class PolySpec(poly_id: String, kind: String, poly: PolyM)

/** Deterministic fixture generators (seed 42 convention), FIXTURES.md §1–2.
  * Spatial distribution: 8 dense "city" Gaussian clusters holding ~70% of
  * rows + uniform background — reproduces OSHDB's uneven-grid-cell hotspot
  * skew so salting/AQE is actually exercised (BASELINE.json north_star).
  */
object Fixtures {
  val SEED = 42L

  // 8 city centers (degrees), fixed; away from ±170/±80 edges.
  val cities: Array[(Double, Double)] = {
    val out = new Array[(Double, Double)](8)
    var k = 0
    while (k < 8) {
      val h1 = Rand.mix(SEED * 7919 + k * 104729)
      val h2 = Rand.mix(h1)
      out(k) = (Rand.unit(h1) * 300.0 - 150.0, Rand.unit(h2) * 130.0 - 65.0)
      k += 1
    }
    out
  }

  private val adjs = Array("quiet", "bright", "old", "misty", "green", "busy", "stone", "red")
  private val nouns = Array("bridge", "market", "tower", "harbor", "garden", "station", "gate", "mill")

  /** Location of row i in micro-degrees: 70% clustered, 30% uniform. */
  def locOf(i: Long): (Long, Long) = {
    val h1 = Rand.mix(i * 31 + SEED)
    val h2 = Rand.mix(h1 ^ 0x5555aaaa5555aaaaL)
    val h3 = Rand.mix(h2 + 17)
    if (java.lang.Long.remainderUnsigned(h1, 100) < 70) {
      val k = java.lang.Long.remainderUnsigned(h2, 8).toInt
      val (cx, cy) = cities(k)
      // Box-Muller, sigma = 0.05 deg
      val u1 = math.max(Rand.unit(h3), 1e-12)
      val u2 = Rand.unit(Rand.mix(h3 + 1))
      val r = math.sqrt(-2.0 * math.log(u1)) * 0.05
      val lon = cx + r * math.cos(2 * math.Pi * u2)
      val lat = cy + r * math.sin(2 * math.Pi * u2)
      (clampLon(FixedPoint.toMicro(lon)), clampLat(FixedPoint.toMicro(lat)))
    } else {
      val lon = Rand.unit(h2) * 340.0 - 170.0
      val lat = Rand.unit(h3) * 160.0 - 80.0
      (FixedPoint.toMicro(lon), FixedPoint.toMicro(lat))
    }
  }
  private def clampLon(v: Long) = math.max(-170000000L, math.min(170000000L, v))
  private def clampLat(v: Long) = math.max(-80000000L, math.min(80000000L, v))

  /** (w, h) of image row i — exposed separately so oracle generators can
    * derive expected per-image frame/pixel counts from the SAME rule
    * without decoding anything (q62/q64 bound oracles).
    */
  def dimsOf(i: Long): (Int, Int) = {
    val hw = Rand.mix(i ^ 0x0123456789abcdefL)
    (Array(32, 64, 96)(java.lang.Long.remainderUnsigned(hw, 3).toInt),
      Array(32, 64)(java.lang.Long.remainderUnsigned(hw >>> 8, 2).toInt))
  }

  /** fmt of image row i (same sharing rationale as [[dimsOf]]). */
  def fmtOf(i: Long): String =
    if (i % 4 == 0) "png" else if (i % 4 == 2) "webp" else "raw"

  /** caption of image row i (same sharing rationale as [[dimsOf]]). */
  def captionOf(i: Long): String = {
    val hc = Rand.mix(i ^ 0xfedcba9876543210L)
    val cityK = java.lang.Long.remainderUnsigned(hc, 8).toInt
    s"${adjs(java.lang.Long.remainderUnsigned(hc >>> 3, 8).toInt)} " +
      s"${nouns(java.lang.Long.remainderUnsigned(hc >>> 17, 8).toInt)} near city_$cityK #$i"
  }

  def imageRow(i: Long): ImageRow = {
    val (lonM, latM) = locOf(i)
    val phash = PhashLoc.encode(lonM, latM)
    val (w, h) = dimsOf(i)
    val px = ImageCodec.pixelsFromHash(phash, w, h)
    val fmt = fmtOf(i)
    val bytes = fmt match {
      case "png"  => ImageCodec.encodePng(px, w, h)
      case "webp" => ImageCodec.encodeWebp(px, w, h)
      case _      => px
    }
    ImageRow(f"img$i%012d", bytes, w, h, fmt, captionOf(i), phash)
  }

  /** Build (or reuse cached) the images table at the exact input_hint shape,
    * cell-clustered on disk: rows range-partitioned + sorted by zcell(12) of
    * the phash location, so parquet files carry compact cell ranges —
    * the Iceberg-style layout that makes cell predicates prune files
    * (SURVEY.md O6; stands in for Iceberg clustering, no jar in sandbox).
    */
  def images(spark: SparkSession, n: Long, dir: String = "data"): DataFrame = {
    val path = s"$dir/images_$n"
    if (!new java.io.File(path, "_SUCCESS").exists()) {
      import spark.implicits._
      import graft.functions.GraftFunctions._
      import org.apache.spark.sql.functions._
      val parts = math.max(1, math.min(64, n / 4096)).toInt
      val df = spark.range(0, n, 1, parts).as[Long].map(imageRow _)
        .withColumn("zc", zcell(phashLon(col("phash")), phashLat(col("phash")), 12))
      df.repartitionByRange(math.max(2, parts / 2), col("zc"))
        .sortWithinPartitions("zc")
        .drop("zc")
        .write.mode("overwrite").parquet(path)
      Manifest.write(spark, path)
    }
    spark.read.parquet(path)
  }

  /** The polygon extent set (FIXTURES.md §2): per-city nested admin-style
    * polygons + large rural polygons + adversarial cases.
    */
  def polygons: Array[PolySpec] = {
    val out = Array.newBuilder[PolySpec]
    // 3 nested irregular polygons per city
    for (k <- cities.indices; lvl <- 0 until 3) {
      val (cx, cy) = cities(k)
      val r = Array(300000L, 150000L, 70000L)(lvl) // 0.3 / 0.15 / 0.07 deg
      out += PolySpec(f"city${k}_admin$lvl", "admin",
        irregular(FixedPoint.toMicro(cx), FixedPoint.toMicro(cy), r, 12 + 4 * lvl,
          SEED + k * 31 + lvl, hole = lvl == 1))
    }
    // 8 large rural polygons
    for (j <- 0 until 8) {
      val h1 = Rand.mix(SEED * 52711 + j)
      val h2 = Rand.mix(h1)
      val cx = FixedPoint.toMicro(Rand.unit(h1) * 280.0 - 140.0)
      val cy = FixedPoint.toMicro(Rand.unit(h2) * 110.0 - 55.0)
      out += PolySpec(f"rural$j", "rural",
        irregular(cx, cy, 3000000L + java.lang.Long.remainderUnsigned(h2, 5000000L), 20, SEED + 1000 + j))
    }
    // adversarial: two squares sharing an edge (unique-assignment boundary rule)
    val c0 = (FixedPoint.toMicro(cities(0)._1), FixedPoint.toMicro(cities(0)._2))
    out += PolySpec("shared_left", "adversarial",
      PolyM(Array(RingM(Array(c0._1 - 100000, c0._1, c0._1, c0._1 - 100000),
                        Array(c0._2 - 80000, c0._2 - 80000, c0._2 + 80000, c0._2 + 80000)))))
    out += PolySpec("shared_right", "adversarial",
      PolyM(Array(RingM(Array(c0._1, c0._1 + 100000, c0._1 + 100000, c0._1),
                        Array(c0._2 - 80000, c0._2 - 80000, c0._2 + 80000, c0._2 + 80000)))))
    // sliver polygon (1 micro-deg tall, 0.2 deg wide)
    out += PolySpec("sliver", "adversarial",
      PolyM(Array(RingM(Array(c0._1 - 100000, c0._1 + 100000, c0._1 + 100000, c0._1 - 100000),
                        Array(c0._2, c0._2, c0._2 + 1, c0._2 + 1)))))
    // polygon smaller than one level-16 cell (~5.5e-3 deg)
    out += PolySpec("subcell", "adversarial",
      PolyM(Array(RingM(Array(c0._1, c0._1 + 2000, c0._1 + 1000),
                        Array(c0._2, c0._2, c0._2 + 2000)))))
    out.result()
  }

  /** Deterministic irregular star-convex polygon (shared with tests). */
  def irregular(cx: Long, cy: Long, rMicro: Long, nV: Int, seed: Long, hole: Boolean = false): PolyM = {
    def ring(radius: Long, n: Int, s: Long): RingM = {
      val xs = new Array[Long](n); val ys = new Array[Long](n)
      var i = 0
      while (i < n) {
        val ang = 2 * math.Pi * i / n
        val rr = radius * (0.55 + 0.45 * Rand.unit(Rand.mix(s * 131 + i)))
        xs(i) = cx + Math.round(rr * math.cos(ang))
        ys(i) = cy + Math.round(rr * math.sin(ang))
        i += 1
      }
      RingM(xs, ys)
    }
    val shell = ring(rMicro, nV, seed)
    if (hole) {
      val h = ring(rMicro / 4, 6, seed + 7)
      PolyM(Array(shell, RingM(h.xs.reverse, h.ys.reverse)))
    } else PolyM(Array(shell))
  }

  /** Polygon set as a DataFrame (poly_id, wkb, bbox in micro-deg, kind) —
    * the shape a real deployment would read from an Iceberg dim table.
    */
  def polygonsDf(spark: SparkSession, specs: Array[PolySpec] = polygons): DataFrame = {
    import spark.implicits._
    specs.map { s =>
      val b = s.poly.bbox
      (s.poly_id, Jts.toWkb(Jts.toJtsEvenOdd(s.poly)), b.lonMin, b.latMin, b.lonMax, b.latMax, s.kind)
    }.toSeq.toDF("poly_id", "wkb", "bbox_lon_min", "bbox_lat_min", "bbox_lon_max", "bbox_lat_max", "kind")
  }
}

/** Iceberg-shaped manifest for a parquet dir: snapshot id + per-file row
  * counts and zcell(12) min/max — the pruning stats an Iceberg table would
  * carry (no Iceberg jar ships in this sandbox; SURVEY.md A1).
  */
object Manifest {
  def write(spark: SparkSession, path: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions._
    val stats = spark.read.parquet(path)
      .select(input_file_name().as("file"),
        zcell(phashLon(col("phash")), phashLat(col("phash")), 12).as("zc"))
      .groupBy("file").agg(count("*").as("rows"), min("zc").as("cell_min"), max("zc").as("cell_max"))
      .collect()
    val snapshotId = java.util.UUID.nameUUIDFromBytes(path.getBytes).toString
    val body = stats.map { r =>
      s"""    {"file": "${r.getString(0)}", "rows": ${r.getLong(1)}, "cell_min": ${r.getLong(2)}, "cell_max": ${r.getLong(3)}}"""
    }.mkString("[\n", ",\n", "\n  ]")
    val json = s"""{\n  "snapshot_id": "$snapshotId",\n  "cell_level": 12,\n  "files": $body\n}\n"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path, "_graft_manifest.json"), json)
  }

  /** Files whose [cell_min, cell_max] range intersects any query cell —
    * manifest-level pruning (Iceberg partition stats stand-in).
    */
  def pruneFiles(manifestPath: String, cells: Set[Long]): Seq[String] = {
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(manifestPath)))
    val entry = """\{"file": "([^"]+)", "rows": \d+, "cell_min": (\d+), "cell_max": (\d+)\}""".r
    val sorted = cells.toArray.sorted
    entry.findAllMatchIn(txt).flatMap { m =>
      val lo = m.group(2).toLong; val hi = m.group(3).toLong
      // any query cell in [lo, hi]?
      val idx = java.util.Arrays.binarySearch(sorted, lo)
      val ins = if (idx >= 0) idx else -idx - 1
      if (ins < sorted.length && sorted(ins) <= hi) Some(m.group(1)) else None
    }.toSeq
  }
}
