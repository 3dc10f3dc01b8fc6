package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{Similarity, TextAnalysis}
import graft.sources.{IndexLayout, Lake}
import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The index layouts' declared schemas ([[IndexLayout]]) against what
  * the writers actually produce, and the driver-job budget of the two
  * request-path serves that read through them. */
class IndexLayoutSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def cleanup(dirs: String*): Unit =
    dirs.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))

  /** Nullability dropped at every level: file scans force nullable
    * fields, and writers differ in the element nullability of arrays. */
  private def loose(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => StructField(f.name, loose(f.dataType))))
    case a: ArrayType => ArrayType(loose(a.elementType), containsNull = true)
    case m: MapType => MapType(loose(m.keyType), loose(m.valueType), valueContainsNull = true)
    case o => o
  }

  test("layout drift: every declared index schema equals the schema Spark infers from a fresh build") {
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val cut = docs.agg(max($"doc_id")).head().getLong(0) * 7 / 10
    val impact = tmp("graft_layout_impact")
    TextAnalysis.bm25Write(spark, sf, impact)
    TextAnalysis.bm25MarkDeleted(spark, impact, docs.filter($"doc_id" % 5 === 3))
    val raw = tmp("graft_layout_raw")
    TextAnalysis.bm25WriteRaw(docs.filter($"doc_id" <= cut), raw)
    TextAnalysis.bm25Append(docs.filter($"doc_id" > cut), raw)
    TextAnalysis.bm25Delete(spark, raw, docs.filter($"doc_id" % 7 === 0))
    val ivf = tmp("graft_layout_ivf")
    val emb = Tables.embeddings(spark, sf)
    Similarity.ivfWrite(spark, sf, ivf)
    Similarity.ivfAppend(spark, ivf, emb.filter($"vec_id" < 40)
      .withColumn("vec_id", $"vec_id" + 1000000L))
    Similarity.ivfDelete(spark, ivf, emb.filter($"vec_id" % 9 === 0))
    Similarity.pqAttach(spark, ivf)
    val roots = Seq(
      IndexLayout.ImpactBm25 -> Lake.currentVersionDir(spark, impact).get,
      IndexLayout.RawBm25 -> raw, IndexLayout.Ivf -> ivf, IndexLayout.Pq -> ivf)
    assert(roots.map(_._1).toSet == IndexLayout.all.toSet, "every layout is built here")
    for ((layout, root) <- roots; (dir, declared) <- layout.dirs) {
      val inferred = spark.read.parquet(s"$root/$dir")
      assert(loose(inferred.schema) == loose(declared),
        s"${layout.name} $dir: written ${inferred.schema.simpleString}, " +
          s"declared ${declared.simpleString}")
      assert(layout.read(spark, root, dir).count() == inferred.count(),
        s"${layout.name} $dir: the declared read must see every written row")
    }
    cleanup(impact, raw, ivf)
  }

  test("job budget: an external-query bm25ServeFrom runs <= 7 jobs, a shortlist annIvfServe <= 11") {
    val sc = spark.sparkContext
    val key = "graft.spec.jobBudget"
    val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach(tag =>
          jobs.computeIfAbsent(tag, _ => new AtomicInteger()).incrementAndGet())
    }
    // every job the body submits, including Par.jobs threads (local
    // properties are inherited), charged to `tag`
    def jobsOf(tag: String)(body: => Unit): Int = {
      sc.setLocalProperty(key, tag)
      try body finally sc.setLocalProperty(key, null)
      SpecBus.drain(sc)
      Option(jobs.get(tag)).map(_.get).getOrElse(0)
    }
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val emb = Tables.embeddings(spark, sf)
    val bm = tmp("graft_budget_bm25")
    val iv = tmp("graft_budget_ivf")
    TextAnalysis.bm25WriteImpactFrom(Tables.fanout(docs), bm)
    Similarity.ivfWriteFrom(emb, iv)
    val toks = spark.read.parquet(s"${Lake.currentVersionDir(spark, bm).get}/postings")
      .select($"token").orderBy($"token").limit(2).as[String].collect().toSeq
    val vec = emb.filter($"vec_id" === 3L).select($"embedding").head().getSeq[Float](0)
    // the benchmark's request: collect the top-k like a client would
    def bm25(): Array[_] = TextAnalysis.bm25ServeFrom(spark, bm, k = 10,
        queries = Some(toks.map(t => (1L, t)).toDF("query_id", "token")))
      .select($"doc_id", $"rk", $"score").collect()
    def ann(): Array[_] = Similarity.annIvfServe(spark, iv, nprobe = 10, k = 5,
        queries = Some(Seq((1L, vec)).toDF("vec_id", "embedding")), shortlist = Some(32))
      .select($"neighbor_id", $"rank_nn").collect()
    sc.addSparkListener(listener)
    try {
      assert(bm25().nonEmpty && ann().length == 5, "warm-up answers")
      val bmJobs = jobsOf("bm25")(assert(bm25().nonEmpty))
      val annJobs = jobsOf("ann")(assert(ann().length == 5))
      info(s"bm25ServeFrom: $bmJobs jobs, annIvfServe: $annJobs jobs")
      assert(bmJobs <= 7, s"bm25ServeFrom ran $bmJobs jobs")
      assert(annJobs <= 11, s"annIvfServe ran $annJobs jobs")
    } finally sc.removeSparkListener(listener)
    cleanup(bm, iv)
  }
}
