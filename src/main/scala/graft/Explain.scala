package graft

/** Plan auditor: `runMain graft.Explain [query ...]` prints the
  * formatted physical plan of each named SparkEntry query (all when
  * none given) — the loop for checking pushdown/broadcast/codegen. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"==== $n ====")
      SparkEntry.queries(n)(spark, "/root/testdata/sf0.01").explain("formatted")
    }
    spark.stop()
  }
}
