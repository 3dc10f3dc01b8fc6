package graft

import graft.operators.{Similarity, TextAnalysis}
import graft.sources.{IndexLayout, IndexProbe, IndexRoute, Lake}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[IndexProbe]] against the Spark plans it replaces on the request
  * path, kept here as the reference: `TextAnalysis.bm25TopK` over the
  * impact and raw postings (the raw layout's committed filter,
  * tombstone anti-join, df cap and impact expression spelled out as
  * `bm25ServeRaw` plans them) and `Similarity.ivfScore` /
  * `ivfScoreRerank` over the live lists, each fed the same query batch.
  * The answers must be equal bit for bit: same rows, same ranks, same
  * doubles, same schema. */
class IndexProbeSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._
  import spark.implicits._

  private val scratch = scala.collection.mutable.ArrayBuffer.empty[String]

  private def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath
    scratch += d
    d
  }

  override def afterAll(): Unit = {
    scratch.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    super.afterAll()
  }

  /** Nullability aside (a local relation declares what it holds; a
    * plan derives it), the schemas and the row multisets are equal;
    * the probe's rows are returned. */
  private def assertSame(probe: DataFrame, plan: DataFrame, what: String): Seq[Row] = {
    def loose(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    assert(loose(probe.schema) == loose(plan.schema),
      s"$what: schema ${probe.schema.simpleString} vs ${plan.schema.simpleString}")
    val (p, r) = (probe.collect().toSeq, plan.collect().toSeq)
    assert(p.size == r.size && p.diff(r).isEmpty && r.diff(p).isEmpty,
      s"$what: probe ${p.sortBy(_.toString).take(8)} vs plan ${r.sortBy(_.toString).take(8)}")
    p
  }

  /** `body(mode)` in process (the default bound), then with every
    * probe one job (bound -1). */
  private def inBothModes(body: String => Unit): Unit = {
    body("in process")
    withInProcessBytes(-1)(body("job"))
  }

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    spark.conf.set("spark.sql.ansi.enabled", on.toString)
    try body finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  private def causes(t: Throwable): Iterator[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)

  private def divideByZero(body: => Any): Unit = {
    val e = intercept[Throwable](body)
    assert(causes(e).exists(c => Option(c.getMessage).exists(_.contains("DIVIDE_BY_ZERO"))),
      s"expected DIVIDE_BY_ZERO, got $e")
  }

  private lazy val docs = Tables.documents(spark, sf).select($"doc_id", $"text")

  /** A BM25 batch with every edge the probe must get right: rare and
    * common tokens, two queries sharing a token, a repeated (query,
    * token) row, a token with no postings and a null token. */
  private def bm25Batch(tokens: Seq[String]): DataFrame = {
    val Seq(a, b, c, d, e) = tokens.take(5)
    Seq[(Long, String)]((1L, a), (1L, b), (2L, b), (2L, c), (3L, d), (3L, d),
        (4L, "no such shingle anywhere"), (4L, null), (5L, e), (6L, null))
      .toDF("query_id", "token")
  }

  /** Tokens of docs 0-4, the rarest of each doc first. */
  private def sampleTokens(post: DataFrame): Seq[String] = {
    val df = post.groupBy($"token").agg(count(lit(1)).as("df"))
    Seq(0L, 1L, 2L, 3L, 4L).flatMap { d =>
      post.filter($"doc_id" === d).join(df, "token").orderBy($"df", $"token")
        .select($"token").as[String].take(1)
    } ++ post.join(df, "token").orderBy($"df".desc, $"token").select($"token")
      .as[String].take(1)
  }

  test("impact BM25: the probe equals bm25TopK, with and without tombstones") {
    val path = tmp("graft_probe_impact")
    TextAnalysis.bm25Write(spark, sf, path)
    val root = Lake.currentVersionDir(spark, path).get
    val post = IndexLayout.ImpactBm25.read(spark, root, "postings")
      .select($"token", $"doc_id", $"impact")
    val toks = sampleTokens(post)
    // doc 0's own rare token with a second doc's common one
    val q = bm25Batch(toks.take(4) :+ toks.last)
    inBothModes { mode =>
      for (k <- Seq(1, 3, 1000)) {
        val got = assertSame(TextAnalysis.bm25ServeFrom(spark, path, k = k, queries = Some(q)),
          TextAnalysis.bm25TopK(post, q, k), s"$mode impact k=$k")
        // queries 1, 2, 3 and 5 ask for indexed tokens
        assert(got.map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 5L), s"$mode k=$k")
      }
    }
    TextAnalysis.bm25MarkDeleted(spark, path, docs.filter($"doc_id" % 3 === 1 || $"doc_id" === 0L))
    val live = post.join(IndexLayout.ImpactBm25.read(spark, root, "deletes"), Seq("doc_id"),
      "left_anti")
    inBothModes { mode =>
      for (k <- Seq(2, 1000)) {
        assertSame(TextAnalysis.bm25ServeFromLive(spark, path, k = k, queries = Some(q)),
          TextAnalysis.bm25TopK(live, q, k), s"$mode impact live k=$k")
      }
      // the stale serve keeps serving the tombstoned docs
      assertSame(TextAnalysis.bm25ServeFrom(spark, path, k = 5, queries = Some(q)),
        TextAnalysis.bm25TopK(post, q, 5), s"$mode impact, tombstones ignored")
    }
  }

  /** bm25ServeRaw's plan, spelled out over the whole postings table. */
  private def rawPlan(path: String, q: DataFrame, k: Int, dfCap: Int,
                      snapshot: Option[Seq[String]]): DataFrame = {
    val (log, _) = TextAnalysis.rawIndexLog(spark, path)
    val committed = snapshot.getOrElse(log.map(_.batchId))
    val (nDocs, am) = TextAnalysis.rawIndexStats(log, committed)
    val dead = IndexLayout.RawBm25.tombstones(spark, path, committed)
    val live = IndexLayout.RawBm25.read(spark, path, "postings")
      .filter($"batch_id".isin(committed: _*))
      .join(dead.toDF("doc_id"), Seq("doc_id"), "left_anti")
    val dfc = live.groupBy($"token").agg(count(lit(1)).as("df")).filter($"df" <= dfCap)
    TextAnalysis.bm25TopK(live.join(dfc, Seq("token"))
      .crossJoin(Seq((nDocs, am)).toDF("n_docs", "am"))
      .select($"doc_id", $"token", expr(TextAnalysis.bm25ImpactExpr).as("impact")), q, k)
  }

  test("raw BM25: the probe equals the plan across a torn batch, tombstones and a snapshot") {
    val path = tmp("graft_probe_raw")
    val maxId = docs.agg(max($"doc_id")).head().getLong(0)
    val (cut, tornFrom) = (maxId * 6 / 10, maxId * 9 / 10)
    TextAnalysis.bm25WriteRaw(docs.filter($"doc_id" <= cut), path)
    TextAnalysis.bm25Append(docs.filter($"doc_id" > cut && $"doc_id" <= tornFrom), path)
    val beforeDelete = TextAnalysis.bm25Snapshot(spark, path)
    TextAnalysis.bm25Delete(spark, path, docs.filter($"doc_id" % 4 === 1))
    // a torn append: postings and doclens land, the stats row never does
    TextAnalysis.bm25AppendRaw(docs.filter($"doc_id" > tornFrom), path, None,
      overwrite = false, commit = false)
    val post = IndexLayout.RawBm25.read(spark, path, "postings").select($"token", $"doc_id")
    val toks = sampleTokens(post)
    // a token of a torn doc and one of a tombstoned doc ride along
    val torn = post.filter($"doc_id" > tornFrom).select($"token").as[String].head()
    val q = bm25Batch(toks.take(4) :+ toks.last)
      .unionAll(Seq((7L, torn), (7L, toks(1))).toDF("query_id", "token"))
    assert(IndexLayout.RawBm25.tombstones(spark, path, TextAnalysis.bm25Snapshot(spark, path))
      .nonEmpty)
    inBothModes { mode =>
      for (k <- Seq(1, 4, 1000); dfCap <- Seq(2, 100)) {
        val got = assertSame(
          TextAnalysis.bm25ServeRaw(spark, path, k = k, dfCap = dfCap, queries = Some(q)),
          rawPlan(path, q, k, dfCap, None), s"$mode raw k=$k dfCap=$dfCap")
        assert(got.nonEmpty, s"$mode k=$k dfCap=$dfCap")
      }
      // the impact expression is parsed per evaluation mode
      withAnsi(on = false) {
        assertSame(TextAnalysis.bm25ServeRaw(spark, path, k = 4, queries = Some(q)),
          rawPlan(path, q, 4, 100, None), s"$mode raw without ANSI")
      }
      assertSame(TextAnalysis.bm25ServeRaw(spark, path, k = 6, queries = Some(q),
          snapshot = Some(beforeDelete)),
        rawPlan(path, q, 6, 100, Some(beforeDelete)), s"$mode raw snapshot before the delete")
      assertSame(TextAnalysis.bm25ServeRaw(spark, path, k = 6, queries = Some(q),
          snapshot = Some(Seq.empty)),
        rawPlan(path, q, 6, 100, Some(Seq.empty)), s"$mode raw, empty snapshot")
    }
  }

  /** A small IVF index of integer-valued vectors with exact duplicates
    * under other ids (tied cosines), a torn append and tombstones:
    * (path, vectors). */
  private lazy val ivfIndex: (String, Seq[(Long, Seq[Float])]) = {
    val rnd = new scala.util.Random(5)
    val base = (0L until 80L).map(i => i -> Seq.fill(8)((rnd.nextInt(7) - 3).toFloat))
      .map { case (i, v) => i -> (if (v.forall(_ == 0f)) v.updated(0, 1f) else v) }
    val vecs = base ++ base.take(12).map { case (i, v) => (i + 100L, v) }
    val path = tmp("graft_probe_ivf")
    Similarity.ivfWriteFrom(vecs.map { case (i, v) => (i, v, 0) }
      .toDF("vec_id", "embedding", "label"), path, nlist = 4)
    val extra = Seq.fill(10)(Seq.fill(8)((rnd.nextInt(7) - 3).toFloat + 0.5f))
      .zipWithIndex.map { case (v, i) => (500L + i, v, 0) }.toDF("vec_id", "embedding", "label")
    Similarity.ivfAppendRaw(spark, path, extra, commit = false)
    Similarity.ivfDelete(spark, path, Seq(5L, 17L, 104L).toDF("vec_id"))
    (path, vecs)
  }

  private def norm(v: Seq[Float]): Double = math.sqrt(v.map(x => x.toDouble * x).sum)

  /** The routed batch both sides serve: every query probes `cells`. */
  private def routed(queries: Seq[(Long, Seq[Float])], cells: Seq[Int]) =
    queries.map { case (id, v) => IndexProbe.RoutedQuery(id, v, norm(v), cells) }

  private def probes(batch: Seq[IndexProbe.RoutedQuery]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(batch.flatMap(q => q.cells.map(c => Row(c, q.queryId, q.vec, q.norm)))
      .asJava, StructType(Seq(StructField("cell", IntegerType), StructField("query_id", LongType),
      StructField("vq", ArrayType(FloatType)), StructField("nq", DoubleType))))
  }

  private def ivfPair(batch: Seq[IndexProbe.RoutedQuery], k: Int, shortlist: Option[Int],
                      excludeSelf: Boolean,
                      path: String = ivfIndex._1): (() => DataFrame, () => DataFrame) = {
    val committed = Similarity.ivfSnapshot(spark, path)
    val dead = IndexLayout.Ivf.tombstones(spark, path, committed)
    val probe = () => IndexProbe.ivf(spark, path, committed, dead, batch,
      StructField("query_id", LongType), k, shortlist, excludeSelf)
    val plan = () => {
      val lists = Similarity.liveLists(spark, path)
      shortlist match {
        case Some(sl) => Similarity.ivfScoreRerank(probes(batch),
          lists.select($"cell", $"neighbor_id", $"q8", $"qn"),
          lists.select($"neighbor_id", $"vc", $"nc"), sl, k, excludeSelf)
        case None => Similarity.ivfScore(probes(batch), lists, k, excludeSelf)
      }
    }
    (probe, plan)
  }

  test("IVF: the probe equals ivfScore and ivfScoreRerank with tied cosines, under ANSI on and off") {
    val (path, vecs) = ivfIndex
    assert(IndexLayout.Ivf.tombstones(spark, path, Similarity.ivfSnapshot(spark, path)).size == 3)
    val cells = Similarity.liveLists(spark, path).select($"cell").distinct().as[Int]
      .collect().sorted.toSeq
    assert(cells.size > 2)
    // queries ON duplicated corpus vectors (cosine ties of 1.0 between
    // id i and i + 100), a scaled one, and a deleted id's vector
    val onTies = Seq(1000L -> vecs(0)._2, 1001L -> vecs(3)._2.map(_ * 2f),
      1002L -> vecs(5)._2, 1003L -> vecs(40)._2)
    val zero = 1009L -> Seq.fill(8)(0f)
    inBothModes { mode =>
      for (ansi <- Seq(true, false)) withAnsi(ansi) {
        for ((batch, what) <- Seq(routed(onTies, cells) -> "every cell",
               routed(onTies, cells.take(2)) -> "two cells",
               routed(onTies.take(1), Seq(cells.head)) -> "one cell");
             k <- Seq(1, 3, 500); sl <- Seq(None, Some(2), Some(8))) {
          val (probe, plan) = ivfPair(batch, k, sl, excludeSelf = false)
          assertSame(probe(), plan(), s"$mode ansi=$ansi $what k=$k shortlist=$sl")
        }
        // a zero-norm query divides by zero: under ANSI both sides raise
        // it, without ANSI its cosines are null on both sides
        for (sl <- Seq(None, Some(4))) {
          val (probe, plan) = ivfPair(routed(onTies :+ zero, cells), 3, sl, excludeSelf = false)
          if (ansi) { divideByZero(probe().collect()); divideByZero(plan().collect()) }
          else assertSame(probe(), plan(), s"$mode zero-norm query shortlist=$sl")
        }
      }
    }
  }

  test("IVF: selfPanel exclusion, k beyond the candidates, an empty batch") {
    val (path, vecs) = ivfIndex
    val cells = Similarity.liveLists(spark, path).select($"cell").distinct().as[Int]
      .collect().sorted.toSeq
    inBothModes { mode =>
      // the index's own members as queries: each must lose itself, and
      // its tied twin (i + 100) must then rank first
      val members = routed(vecs.filter(v => Set(0L, 1L, 2L, 101L)(v._1)), cells)
      for (sl <- Seq(None, Some(6)); k <- Seq(2, 1000)) {
        val (probe, plan) = ivfPair(members, k, sl, excludeSelf = true)
        val got = probe()
        assertSame(got, plan(), s"$mode selfPanel k=$k shortlist=$sl")
        assert(got.filter($"query_id" === $"neighbor_id").isEmpty)
        assert(got.filter($"query_id" === 0L && $"rank_nn" === 1).select($"neighbor_id")
          .as[Long].collect().toSeq == Seq(100L))
      }
      // every live vector of the probed cells, when k exceeds them
      val (probe, _) = ivfPair(routed(vecs.take(1), cells), 10000, None, excludeSelf = false)
      assert(probe().count() == Similarity.liveLists(spark, path).count())
      // no query, no job and the plan's schema
      val (empty, emptyPlan) = ivfPair(Nil, 5, Some(8), excludeSelf = false)
      var got: DataFrame = null
      assert(jobsOf { got = empty() } == 0)
      assertSame(got, emptyPlan(), s"$mode empty IVF batch")
      // annIvfServe with queries goes through the probe: ids shifted out
      // of the corpus namespace keep their corpus twins
      val ext = vecs.take(3).map { case (i, v) => (i + 5000L, v) }.toDF("vec_id", "embedding")
      val served = Similarity.annIvfServe(spark, path, nprobe = 4, k = 2, queries = Some(ext))
      val (refProbe, refPlan) = ivfPair(
        routed(vecs.take(3).map { case (i, v) => (i + 5000L, v) }, cells), 2, None,
        excludeSelf = false)
      assertSame(served, refPlan(), s"$mode annIvfServe, every cell probed")
      assertSame(served, refProbe(), s"$mode annIvfServe vs the probe")
    }
  }

  test("in process: throwing requests close their readers and raise what the job raises") {
    val (path, vecs) = ivfIndex
    val cells = Similarity.liveLists(spark, path).select($"cell").distinct().as[Int]
      .collect().sorted.toSeq
    // a zero-norm query divides by zero on the first row it scores,
    // leaving the file being read unfinished
    val (probe, _) = ivfPair(routed(Seq(1009L -> Seq.fill(8)(0f), vecs(0)), cells), 3, None,
      excludeSelf = false)
    def openFds(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.UnixOperatingSystemMXBean].getOpenFileDescriptorCount
    // with the vectorized reader off, the files are read in row mode,
    // whose abandoned iterator must be closed too
    val vectorized = "spark.sql.parquet.enableVectorizedReader"
    withAnsi(on = true) {
      for (on <- Seq(true, false)) {
        spark.conf.set(vectorized, on.toString)
        try {
          withInProcessBytes(-1)(divideByZero(probe()))
          assert(jobsOf(divideByZero(probe())) == 0, s"vectorized=$on: the request ran a job")
          val before = openFds()
          for (_ <- 1 to 20) divideByZero(probe())
          val after = openFds()
          info(s"vectorized=$on: $before open descriptors before 20 throwing requests, " +
            s"$after after")
          assert(after - before <= 5, s"vectorized=$on: $before open descriptors before, " +
            s"$after after")
        } finally spark.conf.unset(vectorized)
      }
    }
  }

  test("concurrent requests: 8 BM25 and IVF requests under Par.jobs equal their serial answers") {
    val (ivf, vecs) = ivfIndex
    val bm = tmp("graft_probe_par")
    TextAnalysis.bm25Write(spark, sf, bm)
    val toks = sampleTokens(IndexLayout.ImpactBm25.read(spark,
      Lake.currentVersionDir(spark, bm).get, "postings").select($"token", $"doc_id"))
    val requests: Seq[() => Seq[Row]] = (0 until 4).flatMap { i =>
      val q = bm25Batch(toks.drop(i) ++ toks.take(i))
      val ext = Seq(vecs(i * 7), vecs(i * 7 + 1)).map { case (id, v) => (id + 5000L, v) }
        .toDF("vec_id", "embedding")
      Seq(() => TextAnalysis.bm25ServeFrom(spark, bm, k = 3 + i, queries = Some(q))
          .collect().toSeq,
        () => Similarity.annIvfServe(spark, ivf, nprobe = 2 + i % 3, k = 3, queries = Some(ext),
          shortlist = if (i % 2 == 0) None else Some(8)).collect().toSeq)
    }
    val serial = requests.map(_())
    assert(serial.forall(_.nonEmpty))
    inBothModes { mode =>
      val got = new Array[Seq[Row]](requests.size)
      val jobs = jobsOf(Par.jobs(requests.indices.map(i => () => got(i) = requests(i)()): _*))
      assert(jobs == (if (mode == "job") requests.size else 0), s"$mode: $jobs jobs")
      for (i <- requests.indices) assert(got(i) == serial(i), s"$mode request $i")
    }
  }

  test("BM25: an empty batch runs no job, a batch of only unknown or null tokens answers empty") {
    val path = tmp("graft_probe_empty")
    TextAnalysis.bm25Write(spark, sf, path)
    val root = Lake.currentVersionDir(spark, path).get
    val post = IndexLayout.ImpactBm25.read(spark, root, "postings")
      .select($"token", $"doc_id", $"impact")
    val empty = Seq.empty[(Long, String)].toDF("query_id", "token")
    var got: DataFrame = null
    assert(jobsOf { got = TextAnalysis.bm25ServeFrom(spark, path, queries = Some(empty)) } == 0)
    assertSame(got, TextAnalysis.bm25TopK(post, empty, 10), "empty batch")
    val unknown = Seq[(Long, String)]((1L, "no such shingle anywhere"), (2L, null))
      .toDF("query_id", "token")
    val nBuckets = IndexLayout.ImpactBm25.local(spark, root, "stats").head.getAs[Int]("n_buckets")
    val routedDirs = IndexRoute.buckets(Seq("no such shingle anywhere"), StringType, nBuckets)
      .count(b => new java.io.File(s"$root/postings/bucket=$b").isDirectory)
    withInProcessBytes(-1) {
      assert(tasksOf { got = TextAnalysis.bm25ServeFrom(spark, path, queries = Some(unknown)) } ==
        routedDirs, "a null token routes nowhere")
    }
    assertSame(got, TextAnalysis.bm25TopK(post, unknown, 10), "unknown tokens")
    assert(got.isEmpty)
    // in process: the same rows, and no job
    var again: DataFrame = null
    assert(jobsOf { again = TextAnalysis.bm25ServeFrom(spark, path, queries = Some(unknown)) } == 0)
    assertSame(again, got, "unknown tokens, in process")
  }

  test("reused readers: every serve answers the current state through each mutation; a conf change builds a new reader") {
    val maxId = docs.agg(max($"doc_id")).head().getLong(0)
    val cut = maxId / 2
    // impact BM25: tombstones, then the refresh's version swap
    val impact = tmp("graft_life_impact")
    TextAnalysis.bm25Write(spark, sf, impact)
    def impactPost = IndexLayout.ImpactBm25.read(spark,
      Lake.currentVersionDir(spark, impact).get, "postings").select($"token", $"doc_id", $"impact")
    val toks = sampleTokens(impactPost)
    // a token of a doc only the raw index's append brings in
    val late = impactPost.filter($"doc_id" > cut).orderBy($"doc_id", $"token")
      .select($"token").as[String].head()
    val q = bm25Batch(toks.take(4) :+ toks.last)
      .unionAll(Seq((7L, late), (7L, toks(1))).toDF("query_id", "token"))
    def impactServes(what: String): Unit = {
      val root = Lake.currentVersionDir(spark, impact).get
      val live = if (!new java.io.File(s"$root/deletes").isDirectory) impactPost
        else impactPost.join(IndexLayout.ImpactBm25.read(spark, root, "deletes"),
          Seq("doc_id"), "left_anti")
      for (k <- Seq(3, 1000)) {
        assertSame(TextAnalysis.bm25ServeFrom(spark, impact, k = k, queries = Some(q)),
          TextAnalysis.bm25TopK(impactPost, q, k), s"impact $what k=$k")
        assertSame(TextAnalysis.bm25ServeFromLive(spark, impact, k = k, queries = Some(q)),
          TextAnalysis.bm25TopK(live, q, k), s"impact live $what k=$k")
      }
    }
    impactServes("fresh")
    TextAnalysis.bm25MarkDeleted(spark, impact, docs.filter($"doc_id" % 3 === 1))
    impactServes("tombstoned")
    val before = Lake.currentVersionDir(spark, impact).get
    assert(TextAnalysis.bm25RefreshIfStale(docs, impact), "a third tombstoned is stale")
    assert(Lake.currentVersionDir(spark, impact).get != before, "the refresh swaps versions")
    impactServes("refreshed")

    // raw BM25: append, delete, vacuum
    val raw = tmp("graft_life_raw")
    TextAnalysis.bm25WriteRaw(docs.filter($"doc_id" <= cut), raw)
    def rawServes(what: String): Unit = for (k <- Seq(3, 1000)) {
      assertSame(TextAnalysis.bm25ServeRaw(spark, raw, k = k, queries = Some(q)),
        rawPlan(raw, q, k, 100, None), s"raw $what k=$k")
    }
    rawServes("fresh")
    TextAnalysis.bm25Append(docs.filter($"doc_id" > cut), raw)
    rawServes("appended")
    TextAnalysis.bm25Delete(spark, raw, docs.filter($"doc_id" % 4 === 1))
    rawServes("deleted")
    TextAnalysis.bm25Vacuum(spark, raw)
    rawServes("vacuumed")

    // IVF: append, delete, compact, retrain; then a PQ sidecar
    val (_, vecs) = ivfIndex
    val ivf = tmp("graft_life_ivf")
    def frame(vs: Seq[(Long, Seq[Float])]) =
      vs.map { case (i, v) => (i, v, 0) }.toDF("vec_id", "embedding", "label")
    Similarity.ivfWriteFrom(frame(vecs.take(60)), ivf, nlist = 4)
    val ext = Seq(9000L -> vecs(1)._2, 9001L -> vecs(70)._2, 9002L -> vecs(5)._2.map(_ * 3f))
    def cids = IndexLayout.Ivf.local(spark, ivf, "centroids").map(_.getAs[Int]("cid"))
    def ivfServes(what: String): Unit = for (sl <- Seq(None, Some(8))) {
      val (_, plan) = ivfPair(routed(ext, cids), 3, sl, excludeSelf = false, path = ivf)
      assertSame(Similarity.annIvfServe(spark, ivf, nprobe = cids.size, k = 3,
          queries = Some(ext.toDF("vec_id", "embedding")), shortlist = sl),
        plan(), s"ivf $what shortlist=$sl")
    }
    ivfServes("fresh")
    Similarity.ivfAppend(spark, ivf, frame(vecs.drop(60)))
    ivfServes("appended")
    Similarity.ivfDelete(spark, ivf, Seq(5L, 70L, 101L).toDF("vec_id"))
    ivfServes("deleted")
    Similarity.ivfCompact(spark, ivf)
    ivfServes("compacted")
    Similarity.ivfRetrain(spark, ivf)
    ivfServes("retrained")
    // a shortlist past every candidate makes the ADC serve exact
    Similarity.pqAttach(spark, ivf, m = 2, kpq = 8)
    val (_, exact) = ivfPair(routed(ext, cids), 3, None, excludeSelf = false, path = ivf)
    assertSame(Similarity.annIvfPqServe(spark, ivf, nprobe = cids.size, shortlist = 10000,
        k = 3, queries = Some(ext.toDF("vec_id", "embedding"))), exact(), "PQ serve")
    ivfServes("PQ attached")

    // the readers are keyed by the session's SQL conf: a reader setting
    // builds new ones, and unsetting it finds the old ones again
    def request(): DataFrame = TextAnalysis.bm25ServeFrom(spark, impact, k = 3, queries = Some(q))
    assert(observe(request()).broadcasts == 0, "a warm request builds no reader")
    spark.conf.set("spark.sql.parquet.filterPushdown", "false")
    try {
      var got: DataFrame = null
      assert(observe { got = request() }.broadcasts > 0, "a conf change builds new readers")
      assertSame(got, TextAnalysis.bm25TopK(impactPost, q, 3), "impact, pushdown off")
      assert(observe(request()).broadcasts == 0, "then reuses them")
    } finally spark.conf.unset("spark.sql.parquet.filterPushdown")
    assert(observe(request()).broadcasts == 0, "the first conf's readers are kept")
  }
}
