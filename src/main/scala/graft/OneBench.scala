package graft

/** Time a single named SparkEntry query with the same session config
  * as Bench (honors SPARK_GRAFT_CPUS/SPARK_GRAFT_SF_DIR; defaults to
  * 32 cpus, matching the driver's bench environment), repeated N times
  * with the cache cleared between runs. Diagnostic tool, not part of
  * the library surface. */
object OneBench {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.envCpus)
    // keep AQE from coalescing small-input/large-output stages (pair
    // joins explode AFTER the shuffle AQE sizes partitions by)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    spark.sparkContext.setLogLevel("WARN")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Long, Long, Long)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(-1L)
        stages.add((si.stageId, si.name.takeWhile(_ != '\n').take(60), wall,
          si.taskMetrics.executorRunTime, si.taskMetrics.jvmGCTime,
          si.taskMetrics.executorCpuTime / 1000000L))
      }
    })
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    (1 to reps).foreach { i =>
      stages.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"[onebench] $name rep$i ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sortBy(-_._3).take(8).foreach { case (id, nm, wall, run, gc, cpu) =>
        println(f"[onebench]   stage $id%4d wall=${wall / 1e3}%7.2fs taskRun=${run / 1e3}%8.2fs " +
          f"gc=${gc / 1e3}%7.2fs cpu=${cpu / 1e3}%7.2fs  $nm")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
