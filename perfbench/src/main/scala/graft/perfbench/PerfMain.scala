package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.operators.{Clean, Govern, Ingest, NearDup, Similarity, TextAnalysis}
import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** One cold benchmark JVM: builds a session, runs one workload over the
  * inputs the runner generated, and writes a JSON run record (raw per-op
  * timings, the outputs to check, spans when traced). The runner
  * (`run.py`) checks the outputs and reduces the record to metrics;
  * nothing here judges correctness, it only reports what each call
  * returned or threw.
  *
  * Workloads (memo builds are charged to the first span that triggers
  * them, so the call order below is part of the measurement):
  *   curate — jsonl.gz batches → Lake.readJsonl → Lake.quarantine →
  *            landed `documents` → Ingest.batchAssign, Clean.parseClean,
  *            NearDup.dedupKeepBest, Govern.piiRedact,
  *            TextAnalysis.nbQualityClassify, dsirSelect, perplexityScore,
  *            Govern.decontaminate → Govern.trainingManifest written.
  *   serve  — bm25Write + ivfWrite over the corpus and bm25WriteRaw +
  *            ivfWriteFrom over its maintenance prefix, warm-up requests,
  *            then a read-only closed loop (one client) of hybrid
  *            requests (bm25ServeFrom + annIvfServe) on the corpus
  *            indexes for `--seconds`, then the plan's maintenance
  *            rounds on the prefix indexes (bm25Append + ivfAppend of a
  *            new batch, bm25Delete + ivfDelete of seeded ids, a
  *            bm25ServeRaw + annIvfServe probe; bm25Vacuum + ivfCompact
  *            after every second round).
  *
  * Usage: PerfMain --workload curate|serve --in DIR --work DIR
  *        --out FILE --launched EPOCH_MS --seconds S --trace 0|1
  */
object PerfMain {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val vecSchema = StructType(Seq( // graft.Tables.embeddings' schema
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  private val K = 10  // BM25 top-k
  private val KNN = 5 // IVF neighbours
  private val VacuumEvery = 2 // maintenance rounds per bm25Vacuum + ivfCompact

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val in = a("in")
    val work = a("work")
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sessionMs = System.currentTimeMillis()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count() // the first job: scheduler and codegen start-up
    val readyMs = System.currentTimeMillis()

    val tr = new Tracer(spark, a("trace") == "1")
    val rec = scala.collection.mutable.LinkedHashMap[String, Any](
      "launched_ms" -> a("launched").toLong, "main_ms" -> mainMs,
      "session_ms" -> sessionMs, "ready_ms" -> readyMs, "nproc" -> nproc)
    // one top-level span per workload; the calls into graft are its children
    a("workload") match {
      case "curate" => rec("curate") = tr.span("curate")(curate(spark, tr, in, work))
      case "serve" => rec("serve") = tr.span("serve")(serve(spark, tr, in, work,
        a("seconds").toDouble))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    rec("cpu_s") = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
    rec("peak_heap_mb") = liveHeap.maxOption.getOrElse(0.0)
    rec("spans") = tr.records()
    rec("end_ms") = System.currentTimeMillis()
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(a("out")), rec)
    spark.stop()
  }

  // ---------------------------------------------------------------- helpers

  /** Heap still in use after full collections, sampled at the end of
    * each phase (build, loop): the live set the workload holds, memos,
    * caches and broadcasts included. The raw peak of heap used depends
    * on where collections happened to fall and varies far more between
    * identical runs. Collecting at a phase end also starts the next
    * phase from the same heap state every run. */
  private val liveHeap = ArrayBuffer[Double]()

  private def sampleLiveHeap(): Unit = {
    // the first collection queues dropped RDDs and broadcasts for Spark's
    // ContextCleaner, which frees their blocks within its 100 ms poll;
    // the second collection then reclaims those blocks
    System.gc()
    Thread.sleep(300)
    System.gc()
    liveHeap += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0))
  }

  /** Run one op: its latency, whether it threw, and its output. */
  private def op(body: => Any): Map[String, Any] = {
    val t0 = System.nanoTime()
    try {
      body match {
        case () => Map("ms" -> ms(t0), "ok" -> true)
        case r => Map("ms" -> ms(t0), "ok" -> true, "res" -> r)
      }
    } catch {
      case e: Throwable =>
        Map("ms" -> ms(t0), "ok" -> false, "err" -> s"${e.getClass.getName}: ${e.getMessage}")
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // ---------------------------------------------------------------- curate

  private def curate(spark: SparkSession, tr: Tracer, in: String, work: String): Map[String, Any] = {
    val lake = s"$work/lake"
    val steps = ArrayBuffer[Map[String, Any]]()
    def step(name: String)(body: => Unit): Unit = {
      val (_, t) = timed(tr.span(name)(body))
      steps += Map("name" -> name, "ms" -> t)
    }
    var lines, bad = 0L
    var raw: DataFrame = null
    val t0 = System.nanoTime()
    step("Lake.readJsonl") {
      raw = Lake.readJsonl(spark, s"$in/batches", docSchema).cache()
      lines = raw.count()
    }
    step("Lake.quarantine") {
      val (clean, quarantined) = Lake.quarantine(raw)
      bad = quarantined.count()
      clean.write.mode("overwrite").parquet(s"$lake/documents.parquet")
    }
    raw.unpersist()
    step("Ingest.batchAssign")(noop(Ingest.batchAssign(spark, lake)))
    step("Clean.parseClean")(noop(Clean.parseClean(spark, lake)))
    step("NearDup.dedupKeepBest")(noop(NearDup.dedupKeepBest(spark, lake)))
    step("Govern.piiRedact")(noop(Govern.piiRedact(spark, lake)))
    step("TextAnalysis.nbQualityClassify")(noop(TextAnalysis.nbQualityClassify(spark, lake)))
    step("TextAnalysis.dsirSelect")(noop(TextAnalysis.dsirSelect(spark, lake)))
    step("TextAnalysis.perplexityScore")(noop(TextAnalysis.perplexityScore(spark, lake)))
    step("Govern.decontaminate")(noop(Govern.decontaminate(spark, lake)))
    step("Govern.trainingManifest") {
      Govern.trainingManifest(spark, lake).write.mode("overwrite")
        .parquet(s"$work/manifest.parquet")
    }
    val curateS = ms(t0) / 1e3
    sampleLiveHeap()
    Map("curate_s" -> curateS, "steps" -> steps, "lines_read" -> lines,
      "quarantined" -> bad, "manifest" -> s"$work/manifest.parquet",
      "oracle_sql" -> Govern.trainingManifestSql())
  }

  // ---------------------------------------------------------------- serve

  /** A query: BM25 tokens (word trigrams) and an IVF query vector. */
  final case class Req(qid: Long, toks: Seq[String], vec: Array[Float])

  private def req(qid: String, toks: String, vec: String): Req =
    Req(qid.toLong, toks.split("\\|").toSeq,
      if (vec.isEmpty) Array.empty[Float] else vec.split(",").map(_.toFloat))

  private def bm25Query(spark: SparkSession, r: Req): DataFrame = {
    import spark.implicits._
    r.toks.map(t => (r.qid, t)).toDF("query_id", "token")
  }

  private def bm25Rows(df: DataFrame): Seq[Seq[Long]] =
    df.select("doc_id", "rk", "score").collect().toSeq
      .map(r => Seq(r.getLong(0), r.getInt(1).toLong, r.getLong(2))).sortBy(_(1))

  private def ivfRows(df: DataFrame): Seq[Long] =
    df.select("neighbor_id", "rank_nn").collect().toSeq
      .sortBy(_.getAs[Number](1).intValue()).map(_.getLong(0))

  private def serve(spark: SparkSession, tr: Tracer, in: String, work: String,
                    seconds: Double): Map[String, Any] = {
    import spark.implicits._
    val corpus = s"$in/corpus"
    val prefix = s"$in/maint/prefix"
    val bm = s"$work/idx/bm25"
    val iv = s"$work/idx/ivf"
    val raw = s"$work/idx/bm25raw"
    val mutIv = s"$work/idx/ivf-maint"
    def vecs(dir: String) = spark.read.schema(vecSchema).parquet(s"$dir/embeddings.parquet")
    val (_, buildMs) = timed {
      tr.span("TextAnalysis.bm25Write")(TextAnalysis.bm25Write(spark, corpus, bm))
      tr.span("Similarity.ivfWrite")(Similarity.ivfWrite(spark, corpus, iv, nlist = 16))
      tr.span("TextAnalysis.bm25WriteRaw") {
        TextAnalysis.bm25WriteRaw(spark.read.parquet(s"$prefix/documents.parquet"), raw)
      }
      tr.span("Similarity.ivfWriteFrom")(Similarity.ivfWriteFrom(vecs(prefix), mutIv, nlist = 16))
    }

    def ivfProbe(index: String, r: Req): Seq[Long] =
      tr.span("Similarity.annIvfServe", r.qid) {
        ivfRows(Similarity.annIvfServe(spark, index, nprobe = 10, k = KNN,
          queries = Some(Seq((r.qid, r.vec.toSeq)).toDF("vec_id", "embedding")),
          shortlist = Some(32)))
      }

    // a hybrid request: BM25 over the impact index, then the IVF index
    def request(r: Req): Map[String, Any] = {
      val (b, bMs) = timed(tr.span("TextAnalysis.bm25ServeFrom", r.qid) {
        bm25Rows(TextAnalysis.bm25ServeFrom(spark, bm, k = K, queries = Some(bm25Query(spark, r))))
      })
      val (v, vMs) = timed(ivfProbe(iv, r))
      Map("bm25" -> b, "ivf" -> v, "bm25_ms" -> bMs, "ivf_ms" -> vMs)
    }

    // a maintenance round: append batch n to both mutable indexes, delete
    // seeded ids from both, then probe both
    def round(n: Int, ids: Seq[Long], r: Req): Map[String, Any] = {
      val batch = s"$in/maint/batch_$n"
      val (_, aMs) = timed {
        tr.span("TextAnalysis.bm25Append", n) {
          TextAnalysis.bm25Append(spark.read.parquet(s"$batch/documents.parquet"), raw)
        }
        tr.span("Similarity.ivfAppend", n)(Similarity.ivfAppend(spark, mutIv, vecs(batch)))
      }
      val (_, dMs) = timed {
        tr.span("TextAnalysis.bm25Delete", n)(TextAnalysis.bm25Delete(spark, raw, ids.toDF("doc_id")))
        tr.span("Similarity.ivfDelete", n)(Similarity.ivfDelete(spark, mutIv, ids.toDF("vec_id")))
      }
      val ((b, v), pMs) = timed {
        (tr.span("TextAnalysis.bm25ServeRaw", n) {
          bm25Rows(TextAnalysis.bm25ServeRaw(spark, raw, k = K, queries = Some(bm25Query(spark, r))))
        }, ivfProbe(mutIv, r))
      }
      Map("bm25" -> b, "ivf" -> v, "append_ms" -> aMs, "delete_ms" -> dMs, "probe_ms" -> pMs)
    }

    val plan = {
      val src = scala.io.Source.fromFile(s"$in/plan.tsv", "UTF-8")
      try src.getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toVector
      finally src.close()
    }
    def lines(kind: String) = plan.filter(_(0) == kind)
    sampleLiveHeap()
    val (_, warmMs) = timed(tr.span("serve.warmup") {
      lines("W").foreach(p => request(req(p(1), p(2), p(3))))
    })

    val ops = ArrayBuffer[Map[String, Any]]()
    // the read-only closed loop: one client, one request at a time
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    tr.span("serve.loop") {
      val it = lines("S").iterator
      while (it.hasNext && System.nanoTime() < deadline) {
        val p = it.next()
        ops += op(request(req(p(1), p(2), p(3)))) ++ Map("kind" -> "request", "qid" -> p(1).toLong)
      }
    }

    // maintenance rounds on their own indexes, reclaiming every few rounds
    tr.span("serve.maintain") {
      for ((p, i) <- lines("M").zipWithIndex) {
        val n = p(1).toInt
        ops += op(round(n, p(2).split(",").map(_.toLong).toSeq, req(p(1), p(3), p(4)))) ++
          Map("kind" -> "maintain", "batch" -> n)
        if ((i + 1) % VacuumEvery == 0)
          ops += op {
            tr.span("TextAnalysis.bm25Vacuum", n)(TextAnalysis.bm25Vacuum(spark, raw))
            tr.span("Similarity.ivfCompact", n)(Similarity.ivfCompact(spark, mutIv))
          } ++ Map("kind" -> "reclaim", "batch" -> n)
      }
    }
    sampleLiveHeap()
    Map("build_ms" -> buildMs, "warmup_ms" -> warmMs, "ops" -> ops)
  }
}
