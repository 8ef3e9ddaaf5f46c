package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Dedup.dupClusters' three paths — the one-task union-find, the star
  * rounds to their fixpoint (bound 0) and a mid-run hand-off from the rounds
  * to the one-task finish — against a driver-side union-find.
  */
class DupClustersSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  /** node -> component minimum, by a map-based union-find on the driver. */
  private def reference(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** A seeded graph over distinct random ids of both signs: stars, chains
    * up to 300 long, one clique, self-paired singletons and self-pairs on
    * component nodes; a tenth of the pairs repeat, a tenth repeat reversed,
    * every link's direction is random and the row order is shuffled. The
    * clique's redundant edges outnumber the tree edges of everything else,
    * so the converged star set is at most half the distinct edges.
    */
  private def graph(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val seen = mutable.HashSet.empty[Long]
    def fresh(): Long = { var x = rnd.nextLong(); while (!seen.add(x)) x = rnd.nextLong(); x }
    def link(a: Long, b: Long) = if (rnd.nextBoolean()) (a, b) else (b, a)
    val stars = Seq.fill(1 + rnd.nextInt(3)) {
      val c = fresh(); Seq.fill(3 + rnd.nextInt(18))(link(c, fresh()))
    }.flatten
    val chains = Seq.fill(1 + rnd.nextInt(3)) {
      val ns = Seq.fill(2 + rnd.nextInt(299))(fresh())
      ns.zip(ns.tail).map { case (a, b) => link(a, b) }
    }.flatten
    val tree = stars.size + chains.size
    // converged: tree + k - 1 star edges ≤ half of tree + k(k-1)/2 edges
    val k = Iterator.from(4).find(k => (k - 1) * (k - 4) / 2 >= tree).get
    val clique = Seq.fill(k)(fresh())
    val dense = for (i <- 0 until k; j <- i + 1 until k) yield link(clique(i), clique(j))
    val base = stars ++ chains ++ dense
    val singles = Seq.fill(rnd.nextInt(6)) { val x = fresh(); (x, x) }
    val selfOnNodes = Seq.fill(rnd.nextInt(4)) { val x = base(rnd.nextInt(base.size))._1; (x, x) }
    val dups = Seq.fill(base.size / 10)(base(rnd.nextInt(base.size)))
    val revs = Seq.fill(base.size / 10)(base(rnd.nextInt(base.size))).map(_.swap)
    rnd.shuffle(base ++ singles ++ selfOnNodes ++ dups ++ revs)
  }

  private def labels(df: DataFrame): Map[Long, Long] = {
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.map(_._1).distinct.length === rows.length, "one row per node")
    rows.toMap
  }

  test("dupClusters parity: one-task finish, star rounds and mid-run hand-off == driver union-find on 20 seeded graphs") {
    for (seed <- 1 to 20) {
      val pairs = graph(seed)
      val expect = reference(pairs)
      val edges = pairs.map { case (a, b) => (a min b, a max b) }.filter(p => p._1 != p._2).distinct.size
      val starEdges = expect.count { case (n, root) => n != root }
      val half = edges / 2L
      // the fixpoint cannot sit above `half`, so that run must hand off
      assert(starEdges <= half && half < edges, s"seed $seed")
      val df = pairs.toDF("id_a", "id_b")
      for (bound <- Seq(1L << 20, 0L, half))
        assert(labels(Dedup.dupClusters(df, 30, bound)) === expect, s"seed $seed, bound $bound")
    }
  }

  test("dupClusters edge cases: empty input, one self-pair, int ids, null ids, non-integral ids") {
    val longSchema = StructType(Seq(StructField("doc_id", LongType), StructField("cluster_id", LongType)))
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    for (bound <- Seq(1L << 20, 0L)) {
      val out = Dedup.dupClusters(empty, 30, bound)
      assert(out.collect().isEmpty)
      assert(out.schema.map(f => (f.name, f.dataType)) === longSchema.map(f => (f.name, f.dataType)))
      assert(labels(Dedup.dupClusters(Seq((5L, 5L)).toDF("id_a", "id_b"), 30, bound)) === Map(5L -> 5L))
      val ints = Dedup.dupClusters(Seq((3, 1), (1, 2), (9, 9)).toDF("id_a", "id_b"), 30, bound)
      assert(ints.schema.map(_.dataType) === Seq(IntegerType, IntegerType))
      assert(ints.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ===
        Map(1 -> 1, 2 -> 1, 3 -> 1, 9 -> 9))
      // a null id labels itself once and leaves its partner a node
      val nulls = Seq[(java.lang.Long, java.lang.Long)]((7L, null), (null, null), (1L, 2L))
        .toDF("id_a", "id_b")
      assert(Dedup.dupClusters(nulls, 30, bound).collect()
        .map(r => Option(r.get(0)) -> Option(r.get(1))).toSet ===
        Set(Some(7L) -> Some(7L), Some(1L) -> Some(1L), Some(2L) -> Some(1L), None -> None))
    }
    // mixed widths come back as the wider type
    val mixed = Seq((1, 2L)).toDF("id_a", "id_b")
    assert(Dedup.dupClusters(mixed).schema.map(_.dataType) === Seq(LongType, LongType))
    for (bad <- Seq(Seq(("a", "b")).toDF("id_a", "id_b"), Seq((1L, 2.0)).toDF("id_a", "id_b"))) {
      val e = intercept[IllegalArgumentException](Dedup.dupClusters(bad))
      assert(e.getMessage.contains("ids must be byte, short, int or long"), e.getMessage)
    }
  }
}
