package graft

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default matches the driver's bench environment (and OneBench)
    val spark = GraftSession.local(GraftSession.envCpus)
    // keep AQE from coalescing small-input/large-output stages (pair
    // joins explode AFTER the shuffle AQE sizes partitions by)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    spark.sparkContext.setLogLevel("WARN")
    // Self-adjudicating artifact: wall-clock alone can't distinguish a
    // plan regression from ambient machine load (three rounds of
    // "was it load?"), so record per-query executor CPU and in-task GC
    // from the task metrics. Reading: wall up with cpu flat ⇒ the
    // executors were starved (load); cpu up ⇒ the query really does
    // more work; gc up ⇒ memory pressure. jvmGCTime counts GC DURING
    // tasks only, so the untimed System.gc() between queries never
    // pollutes the next query's number. The capture is graft.Metrics —
    // the same per-operation metrics surface a production monitor
    // scrapes; Bench is just its first consumer.
    val metrics = new Metrics(spark)
    // absorb session/JIT/codegen warmup so the timed queries aren't
    // charged for it: run the WHOLE registry once at the smallest SF —
    // generated code is keyed on plan shape, which is identical across
    // SFs, so this warms every operator's codegen/JIT for pennies
    // (sf0.001 is ~100x smaller than the timed SF). Steady-state
    // numbers, standard benchmark practice. The warmup's wall is
    // recorded as a LOAD CANARY — normalized per registry query
    // (warmup_sec_per_query) so it stays comparable as the registry
    // grows round over round (~2 s/query historically at sf0.001,
    // e.g. r12: 285.9 s / 137 queries = 2.09): a canary 2× its
    // trailing per-query value brands the whole artifact as measured
    // under load.
    val warmT0 = System.nanoTime()
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      SparkEntry.queries.foreach { case (_, fn) =>
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
        spark.catalog.clearCache()
      }
      System.gc()
    } else {
      try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    val warmupSec = (System.nanoTime() - warmT0) / 1e9
    Artifacts.drain() // warmup's artifact builds are not a timed query's cost
    // per-query memo-build attribution: which timed query FIRST
    // materialized which shared memo table / index, and what that
    // one-time build cost — so a cross-round wall/cpu move caused by
    // ownership alone adjudicates as such (roundclose reads this)
    val memoBuilds = scala.collection.mutable.LinkedHashMap.empty[String, Seq[(String, Double)]]
    // deterministic (sorted) order so per-round numbers are comparable
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // noop sink: forces every output column to materialize (a bare
      // count() would let Catalyst prune the projections under test).
      // A failure records -1 — a broken query must be visible in the
      // metric line, not look like a fast run.
      val sec =
        try {
          metrics.measure(name) {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
          metrics.snapshot.last.wallSec
        } catch {
          case e: Throwable => System.err.println(s"[bench] $name: $e"); -1.0
        }
      val mb = Artifacts.drain().map(b => (b.key.label, b.seconds))
      if (mb.nonEmpty) memoBuilds(name) = mb
      spark.catalog.clearCache() // operators may persist intermediates
      // untimed: ContextCleaner frees broadcast/shuffle/cache blocks
      // only via weak refs, i.e. after a GC — and its safety-net
      // periodic GC (30min) never fires within this bench. Without
      // this, 49 queries of block garbage accumulate and GC-thrash the
      // late heavy ones (observed: same query 3s alone, 70s late in
      // the sequence; totals swung 58-273s run to run).
      System.gc()
      val op = metrics.snapshot.lastOption.filter(_.name == name)
      (name, sec, op.map(_.cpuSec).getOrElse(-1.0), op.map(_.gcSec).getOrElse(-1.0))
    }
    def jmap(f: ((String, Double, Double, Double)) => Double): String =
      results.map(r => s"\"" + r._1 + "\":" + f(r)).mkString("{", ",", "}")
    val qs = jmap(_._2)
    val total = results.map(_._2).sum
    // stdout keeps the COMPACT contract line — it rides through sbt
    // and the driver's tail-capture, either of which can clip a long
    // line (BENCH_r02 lost the total + 4 queries that way), so the
    // cpu/gc diagnostic maps go only to the file artifact
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    val memoJson = memoBuilds.map { case (q, bs) =>
      "\"" + q + "\":" + bs.map { case (t, sec) =>
        // Locale.ROOT: the f-interpolator uses the default locale, and
        // a comma-decimal locale would corrupt the JSON artifact
        "\"" + t.replace("\\", "\\\\").replace("\"", "\\\"") + "\":" +
          String.format(java.util.Locale.ROOT, "%.3f", Double.box(sec))
      }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""cpu_sec":${jmap(_._3)},"gc_sec":${jmap(_._4)},""" +
      s""""warmup_sec":$warmupSec,""" +
      s""""warmup_sec_per_query":${warmupSec / math.max(1, results.size)},""" +
      s""""memo_builds":$memoJson,""" +
      s""""n_queries":${results.size},"sf":"$sfDir"}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), json + "\n")
    // the full per-query metrics rows (input/output/shuffle/spill) as
    // JSONL — the scrape-able artifact of the graft.Metrics surface
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_metrics.jsonl"),
      metrics.asDataFrame.toJSON.collect().mkString("", "\n", "\n"))
    spark.stop()
  }
}
