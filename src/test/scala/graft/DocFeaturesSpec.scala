package graft

import graft.operators.{DocFeatures, Govern, NearDup, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[DocFeatures]] against the per-family derivations it replaced —
  * kept here, test-side, as the reference: every family's features row
  * for row on a crafted corpus of tokenizer edge cases, the twin shift
  * against re-tokenizing the doubled corpus, the driver-fitted NB and
  * DSIR models against the Spark-plan fits bit for bit — and the
  * driver-job budget of the cold curation steps that read it. */
class DocFeaturesSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._
  import spark.implicits._

  private val scratch = scala.collection.mutable.ArrayBuffer.empty[String]

  override def afterAll(): Unit = {
    scratch.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    super.afterAll()
  }

  private def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath
    scratch += d
    d
  }

  /** Empty and blank text, 1-4-token docs (the n-gram boundaries),
    * control characters, tabs and newlines, unicode, repeated tokens. */
  private lazy val crafted: DataFrame = Seq(
    1L -> "", 2L -> "   ", 3L -> "\t \n", 4L -> "alpha", 5L -> "alpha beta",
    6L -> "alpha beta gamma", 7L -> "alpha beta gamma delta",
    8L -> "alpha beta gamma delta epsilon",
    9L -> "ctl\u0001char \u0007bell x\u0000y z",
    10L -> "tab\tsep line\nbreak  double  space\r\nend",
    11L -> "  leading and trailing  ", 12L -> "\tlead tab kept",
    13L -> "naïve café über straße 東京 🚀 emoji",
    14L -> "the the the the a a of of to and is in",
    15L -> "The THE the. of-of in is",
    16L -> "order price spark shuffle table row scan hash order order",
    17L -> "a b a b a b a b").toDF("doc_id", "text")

  // ---- the pre-change derivations (the reference) ----------------------

  private def refToks(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  private def refShingles(docs: DataFrame): DataFrame = docs
    .withColumn("toks", split(trim($"text"), "\\s+"))
    .filter(size($"toks") >= 3)
    .select($"doc_id", explode(expr(
      """array_distinct(transform(sequence(0, size(toks)-3),
        |  i -> xxhash64(toks[i], toks[i+1], toks[i+2])))""".stripMargin)).as("sh"))

  private def refGrams(docs: DataFrame, n: Int): DataFrame = docs
    .withColumn("toks", split(trim($"text"), "\\s+"))
    .filter(size($"toks") >= n)
    .select($"doc_id", explode(expr(
      s"array_distinct(transform(sequence(0, size(toks)-$n), i -> xxhash64(concat_ws(' ', slice(toks, i+1, $n)))))"))
      .as("gh"))

  private def refQuality(docs: DataFrame): DataFrame = {
    val t = refToks($"text")
    docs
      .select($"doc_id",
        length($"text").as("n_chars_m"),
        size(t).as("n_tokens"),
        size(array_distinct(t)).as("n_distinct"),
        regexp_count(lower($"text"), lit("\\b(the|a|of|to|and|is|in)\\b")).as("n_stop"))
      .withColumn("len_score", least(lit(1.0), $"n_chars_m".cast("double") / lit(500.0)))
      .withColumn("diversity", $"n_distinct".cast("double") / greatest($"n_tokens", lit(1)).cast("double"))
      .withColumn("stop_ratio", $"n_stop".cast("double") / greatest($"n_tokens", lit(1)).cast("double"))
      .withColumn("quality",
        ($"len_score" * lit(0.4)) + ($"diversity" * lit(0.4)) + ($"stop_ratio" * lit(0.2)))
  }

  private def refTf(docs: DataFrame): DataFrame =
    docs.select($"doc_id", explode(refToks($"text")).as("token"))
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))

  private def refSlot(dim: Int): Column =
    (conv(substring(md5($"token"), 1, 8), 16, 10).cast("long") % dim).cast("int")

  private def refFeat(docs: DataFrame, dim: Int): DataFrame =
    refTf(docs).withColumn("slot", refSlot(dim))
      .groupBy($"doc_id", $"slot").agg(sum($"tf").as("x"))

  /** The Spark-plan NB fit (teacher labels, per-(class, slot) counts,
    * the dense model grid, the priors). */
  private def refNbTrain(docs: DataFrame, dim: Int, trainMod: Int): (DataFrame, DataFrame) = {
    val keepList = TextAnalysis.nbKeepWords.map(w => s"'$w'").mkString(", ")
    val dropList = TextAnalysis.nbDropWords.map(w => s"'$w'").mkString(", ")
    val tokTf = refTf(docs.filter($"doc_id" % trainMod =!= 0))
    val labels = tokTf.groupBy($"doc_id")
      .agg(sum(expr(s"if(token in ($keepList), tf, 0L)")).as("np"),
        sum(expr(s"if(token in ($dropList), tf, 0L)")).as("nn"))
      .select($"doc_id", when($"np" >= $"nn", lit("keep")).otherwise(lit("drop")).as("label"))
    val trainFeat = tokTf.withColumn("slot", refSlot(dim))
      .groupBy($"doc_id", $"slot").agg(sum($"tf").as("x"))
      .join(labels, Seq("doc_id"))
    val slotCounts = trainFeat.groupBy($"label", $"slot").agg(sum($"x").as("n"))
    val classTotals = trainFeat.groupBy($"label").agg(sum($"x").as("t"))
    val classDocs = labels.groupBy($"label").agg(count(lit(1)).as("dc"))
    val grid = Seq("keep", "drop").toDF("label")
      .crossJoin(spark.range(dim).select($"id".cast("int").as("slot")))
    val model = grid.join(slotCounts, Seq("label", "slot"), "left").na.fill(0L, Seq("n"))
      .join(classTotals, Seq("label"))
      .select($"label", $"slot",
        floor(lit(1e6) * log(($"n" + 1).cast("double") / ($"t" + dim).cast("double")))
          .cast("long").as("w"))
    val priors = classDocs.crossJoin(labels.agg(count(lit(1)).as("dn")))
      .select($"label",
        floor(lit(1e6) * log($"dc".cast("double") / $"dn".cast("double"))).cast("long").as("prior"))
    (model, priors)
  }

  /** The Spark-plan DSIR fit: (ratio, (doc_id, logw), eps). */
  private def refDsirFit(docs: DataFrame, dim: Int,
                         selectFrac: Double): (DataFrame, DataFrame, Option[Long]) = {
    val tgtList = TextAnalysis.dsirTargetWords.map(w => s"'$w'").mkString(", ")
    val tf0 = refTf(docs)
    val feat = refFeat(docs, dim)
    val tgtFeat = feat.join(tf0.filter(expr(s"token in ($tgtList)")).select($"doc_id").distinct(),
      Seq("doc_id"), "left_semi")
    def slotModel(f: DataFrame): DataFrame =
      spark.range(dim).select($"id".cast("int").as("slot"))
        .join(f.groupBy($"slot").agg(sum($"x").as("n")), Seq("slot"), "left").na.fill(0L, Seq("n"))
        .crossJoin(f.agg(sum($"x").as("t")))
        .select($"slot",
          floor(lit(1e6) * log(($"n" + 1).cast("double") / ($"t" + dim).cast("double")))
            .cast("long").as("lp"))
    val ratio = slotModel(tgtFeat).withColumnRenamed("lp", "lt")
      .join(slotModel(feat).withColumnRenamed("lp", "lr"), Seq("slot"))
      .select($"slot", ($"lt" - $"lr").as("r"))
    val weighted = docs.select($"doc_id").distinct()
      .join(feat.join(ratio, Seq("slot")).groupBy($"doc_id").agg(sum($"x" * $"r").as("logw")),
        Seq("doc_id"), "left")
      .na.fill(0L, Seq("logw"))
    val logws = weighted.select($"logw").as[Long].collect().sorted(Ordering[Long].reverse)
    val k = math.floor(selectFrac * logws.length).toInt
    (ratio, weighted, if (k == 0) None else Some(logws(k - 1)))
  }

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    val (g, w) = (sorted(got), sorted(want))
    assert(g.nonEmpty || w.isEmpty, what)
    assert(g == w, s"$what: ${g.diff(w).take(3)} vs ${w.diff(g).take(3)}")
  }

  test("every family's features equal its pre-change derivation, row for row, on the edge-case corpus") {
    val f = DocFeatures.of(crafted)
    assertSame(DocFeatures.shingles(f), refShingles(crafted), "C4 shingle postings")
    assertSame(NearDup.shinglePostings(crafted), refShingles(crafted), "shinglePostings")
    for (n <- Seq(3, 4, 5))
      assertSame(DocFeatures.grams(f, n), refGrams(crafted, n), s"F3 $n-grams")
    assertSame(Govern.docGrams(crafted), refGrams(crafted, 4), "docGrams")
    assertSame(TextAnalysis.qualityFrom(f), refQuality(crafted), "C9 quality inputs and score")
    assertSame(DocFeatures.tf(f), refTf(crafted), "per-document token counts")
    for (dim <- Seq(64, 256))
      assertSame(f.select($"doc_id", explode(DocFeatures.slots(dim)).as("slot"))
        .groupBy($"doc_id", $"slot").agg(count(lit(1)).as("x")), refFeat(crafted, dim),
        s"hashed-unigram slot counts at dim $dim")
    // the perplexity stream: every token in order, at its position
    assertSame(f.select($"doc_id", posexplode($"toks")),
      crafted.select($"doc_id", posexplode(refToks($"text"))), "ordered token stream")
    // the boundary docs: blank text has no token, 1-2 tokens no shingle
    val byId = f.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    def hashes(id: Long, c: String): Seq[Long] = byId(id).getSeq[Long](byId(id).fieldIndex(c)).toSeq
    for (id <- Seq(1L, 2L)) assert(byId(id).getAs[Int]("n_tokens") == 0, s"doc $id")
    for (id <- Seq(4L, 5L)) assert(hashes(id, "sh3").isEmpty, s"doc $id")
    assert(hashes(6L, "sh3").size == 1 && hashes(6L, "g4").isEmpty)
    assert(hashes(7L, "g4").size == 1)
    assert(hashes(17L, "sh3").size == 2, "repeated shingles are distinct")
  }

  test("the twin shift equals re-tokenizing NearDup.corpus; a (doc_id, text)-only lake reads") {
    val lake = tmp("graft_docfeatures_twins")
    crafted.write.mode("overwrite").parquet(s"$lake/documents.parquet")
    val shifted = DocFeatures.withTwins(DocFeatures.forDir(spark, lake))
    assertSame(shifted, DocFeatures.of(NearDup.corpus(spark, lake)), "twin features")
    assert(shifted.filter($"doc_id" >= NearDup.BigOffset).count() == crafted.count())
  }

  private def assertNbEqual(docs: DataFrame, dim: Int, trainMod: Int, what: String): Unit = {
    val (m, p) = TextAnalysis.nbTrain(docs, dim, trainMod)
    val (rm, rp) = refNbTrain(docs, dim, trainMod)
    assertSame(m, rm, s"$what: NB model")
    assertSame(p, rp, s"$what: NB priors")
  }

  private def assertDsirEqual(docs: DataFrame, dim: Int, selectFrac: Double,
                              what: String): Option[Long] = {
    val (ratio, weighted, eps) = TextAnalysis.dsirFitFrom(DocFeatures.of(docs), dim, selectFrac)
    val (rRatio, rWeighted, rEps) = refDsirFit(docs, dim, selectFrac)
    assertSame(ratio, rRatio, s"$what: DSIR ratio")
    assertSame(weighted, rWeighted, s"$what: DSIR weights")
    assert(eps == rEps, s"$what: eps")
    eps
  }

  test("driver-fitted NB and DSIR models equal the Spark-plan fits bit for bit") {
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    for (dim <- Seq(64, 256)) {
      assertNbEqual(docs, dim, 4, s"corpus dim $dim")
      assertDsirEqual(docs, dim, 0.25, s"corpus dim $dim")
    }
    assertNbEqual(crafted, 64, 4, "edge-case corpus")
    assertDsirEqual(crafted, 256, 0.25, "edge-case corpus")
    // one class: every train doc is keep-labeled, no drop weights or prior
    val oneClass = (1L to 20L).map(i => (i, s"customer order piece $i")).toDF("doc_id", "text")
    assertNbEqual(oneClass, 64, 4, "one-class corpus")
    val (_, p1) = TextAnalysis.nbTrain(oneClass, 64)
    assert(p1.collect().map(_.getString(0)).toSeq == Seq("keep"))
    assert(TextAnalysis.nbScore(oneClass, TextAnalysis.nbTrain(oneClass, 64)._1, p1).count() == 0)
    // k = ⌊selectFrac·N⌋ = 0: no threshold, nothing selected
    assert(assertDsirEqual(docs, 64, 1e-9, "k = 0").isEmpty)
    // no target doc: every ratio is null and every doc weighs 0
    assert(assertDsirEqual(oneClass, 64, 0.25, "no target doc").contains(0L))
    // ties at the threshold: ten identical target docs straddle rank k
    val tied = ((1L to 10L).map(i => (i, "table row scan hash filler words")) ++
      (11L to 30L).map(i => (i, s"plain ordinary text $i more words"))).toDF("doc_id", "text")
    val eps = assertDsirEqual(tied, 64, 0.25, "tied threshold")
    val selected = TextAnalysis.dsirSelectOf(tied, 64, 0.25)
      .filter($"selected").select($"doc_id").as[Long].collect().toSet
    assert(eps.nonEmpty && selected == (1L to 10L).toSet, s"all tied docs kept: $selected")
  }

  test("job budget: cold dedupKeepBest, nbQualityClassify and dsirSelect on a fresh lake") {
    val lake = tmp("graft_docfeatures_budget")
    Tables.documents(spark, sf).write.mode("overwrite").parquet(s"$lake/documents.parquet")
    def run(df: => DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val m = new Metrics(spark)
    val keep = jobsOf(m.measure("keepBest")(run(NearDup.dedupKeepBest(spark, lake))))
    val nb = jobsOf(run(TextAnalysis.nbQualityClassify(spark, lake)))
    val dsir = jobsOf(run(TextAnalysis.dsirSelect(spark, lake)))
    info(s"dedupKeepBest: $keep jobs, nbQualityClassify: $nb, dsirSelect: $dsir")
    // keep-best builds the features (2 jobs), the pair edges, the
    // star-contraction closure and the argmax; NB is its fit's one
    // fold plus the scoring; DSIR its fit, the threshold histogram, the
    // in-bucket top and the scoring
    assert(keep <= 31, s"dedupKeepBest ran $keep jobs")
    assert(nb <= 2, s"nbQualityClassify ran $nb jobs")
    assert(dsir <= 4, s"dsirSelect ran $dsir jobs")
    // a cold pipeline compiles: the scope sees its own codegen compiles
    val op = m.snapshot.find(_.name == "keepBest").get
    assert(op.codegenCompiles > 0 && op.jitMs >= 0, op)
  }
}
