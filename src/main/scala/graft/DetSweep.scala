package graft

/** Diagnostic main (not part of the library surface): registry-wide
  * determinism sweep. Runs EVERY SparkEntry query twice — once at 32
  * shuffle partitions, once at 7 — and compares the canonicalized
  * (collected, stringified, sorted) results. Partition-count
  * invariance is the cheapest strong probe for hidden
  * order-dependence (first() without sort, float sum drift, hash
  * ties resolved by shuffle order): any of those flips under a
  * different partitioning. DeterminismSpec pins 15 high-risk queries
  * permanently; this main covers the whole registry on demand.
  *
  * Usage: `sbt "runMain graft.DetSweep [sfDir]"` — prints one line
  * per query; exits nonzero if any query diverges.
  */
object DetSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = GraftSession.local(8)
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    // AQE's partition coalescing would converge the 32- and
    // 7-partition runs to near-identical physical partitioning at
    // small scale, weakening the invariance probe — keep the two
    // settings genuinely different
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("ERROR")
    def canon(name: String): Seq[String] = {
      val r = SparkEntry.queries(name)(spark, sfDir)
        .collect().map(_.toString).sorted.toSeq
      spark.catalog.clearCache()
      System.gc()
      r
    }
    var bad = 0
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      val a = canon(name)
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b = canon(name)
      if (a == b) println(s"[det] $name ok (${a.size} rows)")
      else { bad += 1; println(s"[DET] $name DIVERGES: ${a.size} vs ${b.size} rows") }
    }
    spark.stop()
    if (bad > 0) { System.err.println(s"$bad queries diverge"); sys.exit(1) }
  }
}
