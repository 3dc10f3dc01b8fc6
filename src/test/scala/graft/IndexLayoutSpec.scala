package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{Similarity, TextAnalysis}
import graft.sources.{IndexLayout, IndexRoute, Lake}
import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The index layouts' declared schemas ([[IndexLayout]]) against what
  * the writers actually produce, the driver-side metadata reads and
  * routers ([[IndexLayout.Layout.local]], [[IndexRoute]]) against the
  * Spark formulations they replace, and the driver-job budget of the
  * two request-path serves that read through them. */
class IndexLayoutSpec extends AnyFunSuite with BeforeAndAfterAll {
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

  /** Every job the body submits, including Par.jobs threads (local
    * properties are inherited), counted through a listener. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobBudget"
    val tag = java.util.UUID.randomUUID.toString
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      try body finally sc.setLocalProperty(key, null)
      SpecBus.drain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  /** One index of every layout, each mutated once (tombstones, an
    * append, a delete, a PQ sidecar) so every declared directory
    * exists: (layout, root) pairs. */
  private lazy val built: Seq[(IndexLayout.Layout, String)] = {
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
    scratch ++= Seq(impact, raw, ivf)
    Seq(IndexLayout.ImpactBm25 -> Lake.currentVersionDir(spark, impact).get,
      IndexLayout.RawBm25 -> raw, IndexLayout.Ivf -> ivf, IndexLayout.Pq -> ivf)
  }

  private val scratch = scala.collection.mutable.ArrayBuffer.empty[String]

  override def afterAll(): Unit = {
    cleanup(scratch.toSeq: _*)
    super.afterAll()
  }

  test("layout drift: every declared index schema equals the schema Spark infers from a fresh build") {
    assert(built.map(_._1).toSet == IndexLayout.all.toSet, "every layout is built here")
    for ((layout, root) <- built; (dir, declared) <- layout.dirs) {
      val inferred = spark.read.parquet(s"$root/$dir")
      assert(loose(inferred.schema) == loose(declared),
        s"${layout.name} $dir: written ${inferred.schema.simpleString}, " +
          s"declared ${declared.simpleString}")
      assert(layout.read(spark, root, dir).count() == inferred.count(),
        s"${layout.name} $dir: the declared read must see every written row")
    }
  }

  test("local: every metadata directory reads on the driver the rows the declared read collects, with no job") {
    assert(built.flatMap(_._1.meta).toSet ==
      Set("stats", "stats_log", "commits", "centroids", "pq/books", "pq/commits"))
    for ((layout, root) <- built; dir <- layout.meta) {
      // Spark's writers leave _SUCCESS and checksum files next to the data
      val names = new java.io.File(s"$root/$dir").list().toSeq
      assert(names.contains("_SUCCESS") && names.exists(_.startsWith(".")),
        s"${layout.name} $dir: ${names.mkString(",")}")
      var rows = Seq.empty[Row]
      assert(jobsOf { rows = layout.local(spark, root, dir) } == 0,
        s"${layout.name} $dir: local ran a job")
      val expected = layout.read(spark, root, dir).collect().toSeq
      assert(rows.nonEmpty && rows.size == expected.size && rows.diff(expected).isEmpty,
        s"${layout.name} $dir: local ${rows.take(3)} vs read ${expected.take(3)}")
      assert(rows.forall(_.schema == layout.dirs(dir)))
    }
  }

  test("local: a missing directory holds no rows; a data directory is refused") {
    val none = tmp("graft_layout_none")
    scratch += none
    for (layout <- IndexLayout.all; dir <- layout.meta)
      assert(layout.local(spark, s"$none/absent", dir).isEmpty, s"${layout.name} $dir")
    for ((layout, dir) <- Seq(IndexLayout.ImpactBm25 -> "postings",
        IndexLayout.RawBm25 -> "postings", IndexLayout.Ivf -> "lists",
        IndexLayout.Pq -> "pq/codes", IndexLayout.Ivf -> "deletes")) {
      val e = intercept[IllegalArgumentException](layout.local(spark, none, dir))
      assert(e.getMessage.contains(s"$dir is not a metadata directory"))
    }
  }

  test("local: vintage PQ books without opq_iters/rot read those columns as null") {
    val root = tmp("graft_layout_vintage")
    scratch += root
    Seq((0, 1, Seq(1f, 2f), 2.5d, 4, 2, 32, "s0"), (1, 0, Seq(3f, 4f), 12.5d, 4, 2, 32, "s0"))
      .toDF("sub", "code", "cvec", "chalf", "m", "dsub", "kpq", "cstamp")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/pq/books")
    val rows = IndexLayout.Pq.local(spark, root, "pq/books")
    assert(rows.size == 2)
    assert(rows.forall(r => r.isNullAt(r.fieldIndex("opq_iters")) && r.isNullAt(r.fieldIndex("rot"))))
    assert(rows.map(_.getAs[Int]("sub")).sorted == Seq(0, 1))
    val expected = IndexLayout.Pq.read(spark, root, "pq/books").collect().toSeq
    assert(rows.diff(expected).isEmpty && expected.diff(rows).isEmpty)
  }

  test("bm25 router: driver buckets equal SQL pmod(xxhash64(token), n)") {
    val rnd = new scala.util.Random(7)
    def token(): String = {
      val n = rnd.nextInt(12)
      val sb = new java.lang.StringBuilder
      (0 until n).foreach { _ => rnd.nextInt(4) match {
        case 0 => sb.append(rnd.nextPrintableChar())
        case 1 => sb.append((0x00a0 + rnd.nextInt(0x2000)).toChar)
        case 2 => sb.appendCodePoint(0x1f300 + rnd.nextInt(0x300)) // surrogate pair
        case _ => sb.append(' ')
      } }
      sb.toString
    }
    val tokens: Seq[String] = Seq("", null, " ", "a b c") ++ Seq.fill(300)(token())
    val schema = StructType(Seq(StructField("token", StringType)))
    // an RDD-backed frame: the SQL side runs as a real (codegen'd) scan task
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(tokens.map(Row(_)), 3), schema)
    for (n <- Seq(1, 7, 16, 1000)) {
      val sql = df.select(pmod(xxhash64($"token"), lit(n)).cast("int")).as[Int].collect().toSeq
      assert(IndexRoute.buckets(tokens, StringType, n) == sql, s"n=$n")
    }
  }

  test("ivf router: driver cells equal ivfRoute's on random batches, tied centroids and a zero-norm query") {
    val rnd = new scala.util.Random(11)
    val dim = 8
    def vec(): Seq[Float] = Seq.fill(dim)(rnd.nextGaussian().toFloat)
    def norm(v: Seq[Float]): Double = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
    def cents(vs: Seq[Seq[Float]]) =
      vs.zipWithIndex.map { case (v, i) => (i, v, norm(v)) }.toDF("cid", "cvec", "cnorm")
    def queries(vs: Seq[Seq[Float]]) =
      vs.zipWithIndex.map { case (v, i) => (i.toLong, v, norm(v)) }
        .toDF("vec_id", "embedding", "norm")
    // the cells per query, nearest first when ranked by the driver
    def driver(c: DataFrame, q: DataFrame, nprobe: Int): Set[(Long, Int)] = {
      val cRows = c.collect().toSeq
      val qRows = q.collect().toSeq
      qRows.zip(IndexRoute.nearest(spark, qRows.map(r => (r.get(1), r.get(2))), cRows, nprobe))
        .flatMap { case (r, is) => is.map(i => (r.getLong(0), cRows(i).getInt(0))) }.toSet
    }
    def viaSpark(c: DataFrame, q: DataFrame, nprobe: Int): Set[(Long, Int)] =
      Similarity.ivfRoute(c, spark.createDataFrame(
          spark.sparkContext.parallelize(q.collect().toSeq, 2), q.schema), nprobe)
        .select($"query_id", $"cell").as[(Long, Int)].collect().toSet
    val c16 = cents(Seq.fill(16)(vec()))
    for (round <- 0 until 4; nprobe <- Seq(1, 2, 5, 16, 20)) {
      val q = queries(Seq.fill(5 + round)(vec()))
      assert(driver(c16, q, nprobe) == viaSpark(c16, q, nprobe), s"round $round nprobe $nprobe")
    }
    // a tied pair: cids 2 and 5 hold the same centroid; a query on it
    // ties them for first place, and the lower cid wins the single probe
    val base = Seq.fill(8)(vec())
    val tied = cents(base.updated(5, base(2)))
    val onTie = queries(Seq(base(2), base(2).map(_ * 3f)))
    for (nprobe <- Seq(1, 2, 3)) {
      val d = driver(tied, onTie, nprobe)
      assert(d == viaSpark(tied, onTie, nprobe), s"tie nprobe $nprobe")
      if (nprobe == 1) assert(d == Set((0L, 2), (1L, 2)))
    }
    // a zero-norm query divides by zero: under ANSI both routers refuse
    // it, without ANSI its cosines are null and both take the lowest cids
    val zero = queries(Seq(Seq.fill(dim)(0f), vec()))
    val eDriver = intercept[ArithmeticException](driver(c16, zero, 3))
    val eSpark = intercept[Exception](viaSpark(c16, zero, 3))
    assert(eDriver.getMessage.contains("DIVIDE_BY_ZERO"))
    assert(Iterator.iterate[Throwable](eSpark)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("DIVIDE_BY_ZERO"))))
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      for (nprobe <- Seq(1, 3)) {
        val d = driver(c16, zero, nprobe)
        assert(d == viaSpark(c16, zero, nprobe), s"zero-norm nprobe $nprobe")
        assert(d.filter(_._1 == 0L) == (0 until nprobe).map(c => (0L, c)).toSet)
      }
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("job budget: an external-query bm25ServeFrom runs <= 4 jobs, a shortlist annIvfServe <= 5") {
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val emb = Tables.embeddings(spark, sf)
    val bm = tmp("graft_budget_bm25")
    val iv = tmp("graft_budget_ivf")
    scratch ++= Seq(bm, iv)
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
    assert(bm25().nonEmpty && ann().length == 5, "warm-up answers")
    val bmJobs = jobsOf(assert(bm25().nonEmpty))
    val annJobs = jobsOf(assert(ann().length == 5))
    info(s"bm25ServeFrom: $bmJobs jobs, annIvfServe: $annJobs jobs")
    assert(bmJobs <= 4, s"bm25ServeFrom ran $bmJobs jobs")
    assert(annJobs <= 5, s"annIvfServe ran $annJobs jobs")
  }
}
