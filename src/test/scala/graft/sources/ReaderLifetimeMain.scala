package graft.sources

/** The lifetime of [[IndexLayout.rowReader]]'s readers across sessions,
  * in a JVM of its own: stopping a SparkContext is not something the
  * suite's shared session can do. A first session reads an IVF commit
  * log on the driver and is stopped; a second session reads the same
  * log, and the stopped context's readers must be gone. Prints
  * `evicted` and exits 0 when they are; fails otherwise.
  *
  * Usage: `ReaderLifetimeMain <empty scratch dir>` (IndexLayoutSpec
  * starts it with the suite's classpath). */
object ReaderLifetimeMain {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val first = graft.GraftSession.local(1)
    first.sparkContext.setLogLevel("WARN")
    first.range(3).selectExpr("cast(id as string) as batch_id")
      .write.mode("overwrite").parquet(s"$dir/commits")
    val before = IndexLayout.Ivf.local(first, dir, "commits")
    val stopped = first.sparkContext
    require(before.size == 3 && IndexLayout.readersOf(stopped) == 1,
      s"first session: ${before.size} rows, ${IndexLayout.readersOf(stopped)} readers")
    first.stop()
    val second = graft.GraftSession.local(1)
    try {
      require(!(second.sparkContext eq stopped), "a new context")
      val after = IndexLayout.Ivf.local(second, dir, "commits")
      require(after == before, s"second session read $after, first $before")
      require(IndexLayout.readersOf(stopped) == 0,
        s"${IndexLayout.readersOf(stopped)} readers of the stopped context kept")
      require(IndexLayout.readersOf(second.sparkContext) == 1)
    } finally second.stop()
    println("evicted")
  }
}
