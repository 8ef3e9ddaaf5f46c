package perfbench

/** Negative self-test of the output checks: on small inputs, each check
  * must accept the program's real output and reject each corrupted copy.
  *
  *   SelfTest --work <dir> [--cores <n>]
  *
  * Exits 0 when every check behaves, 1 otherwise.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val work = m.getOrElse("work", throw new IllegalArgumentException("missing --work"))
    val cores = m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = Main.session(cores, work)
    var bad = 0
    def expect(name: String, problems: Seq[String], shouldFail: Boolean): Unit = {
      val ok = problems.nonEmpty == shouldFail
      if (!ok) bad += 1
      println(s"${if (ok) "ok  " else "FAIL"} $name: " +
        (if (problems.isEmpty) "accepted" else s"rejected (${problems.head})"))
    }
    try {
      def wl(name: String) = Main.workload(name, spark, 7L, s"$work/selftest", cores, small = true)

      val jt = wl("join_tiles").asInstanceOf[JoinTiles]
      val rows = jt.sampleRows()
      expect("join_tiles sample, as computed", jt.checkSample(rows), shouldFail = false)
      expect("join_tiles sample, one pair dropped", jt.checkSample(rows.tail), shouldFail = true)
      expect("join_tiles sample, one tile id shifted",
        jt.checkSample(rows.updated(0, rows(0).copy(_3 = rows(0)._3 + 1))), shouldFail = true)
      val sum = jt.run()
      expect("join_tiles checksum, as computed", jt.check(Seq(sum)), shouldFail = false)
      expect("join_tiles checksum, one pair dropped",
        jt.check(Seq(sum.copy(pairs = sum.pairs - 1))), shouldFail = true)

      val ga = wl("geo_aggregate").asInstanceOf[GeoAggregate]
      val zones = ga.run()
      expect("geo_aggregate, as computed", ga.checkZones(zones), shouldFail = false)
      val full = zones.indexWhere(_.cnt > 1)
      expect("geo_aggregate, one zone count off by one",
        ga.checkZones(zones.updated(full, zones(full).copy(cnt = zones(full).cnt - 1))), shouldFail = true)
      expect("geo_aggregate, one zero-filled zone missing",
        ga.checkZones(zones.patch(zones.indexWhere(_.cnt == 0), Nil, 1)), shouldFail = true)
      expect("geo_aggregate, one median far off",
        ga.checkZones(zones.updated(full, zones(full).copy(q50 = 2e6))), shouldFail = true)

      val dc = wl("dup_clusters").asInstanceOf[DupClusters]
      val labels = dc.run()
      expect("dup_clusters, as computed", dc.checkLabels(labels), shouldFail = false)
      // merge the component of the largest id into that of the smallest
      val (lo, hi) = (labels.minBy(_._2)._2, labels.maxBy(_._2)._2)
      expect("dup_clusters, two components merged",
        dc.checkLabels(labels.map { case (d, c) => (d, if (c == hi) lo else c) }), shouldFail = true)
    } finally spark.stop()
    println(if (bad == 0) "selftest passed" else s"selftest: $bad check(s) misbehaved")
    sys.exit(if (bad == 0) 0 else 1)
  }
}
