package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the text / near-dup / similarity / multimodal blocks
  * (C, D). The DuckDB gate hash-checks the sql-oracled ones; these pin
  * the semantic properties of the rows-only operators — above all that
  * every planted twin (doc_id + 1e6, identical text) is detected. */
class TextDedupSpec extends AnyFunSuite {
  import TestSpark._

  private val nDocs = Tables.documents(spark, sf).count()

  test("bloom_dedup_serve: zero false negatives on the re-crawl; novel-doc FP rate under the design bound") {
    val out = operators.NearDup.bloomDedupServe(spark, sf).localCheckpoint()
    // every exact re-crawl doc (ids + 1e6) MUST flag — the Bloom
    // guarantee the admission control rests on
    val twins = out.filter(col("doc_id") >= 1000000L && col("doc_id") < 2000000L)
    assert(twins.count() == nDocs)
    assert(twins.filter(!col("maybe_dup")).count() == 0,
      "a Bloom filter can never miss an indexed member")
    // novel docs (ids + 2e6, content-disjoint) flag only by FP —
    // design rate ~1e-4; allow 100x headroom against unlucky corpora
    val novel = out.filter(col("doc_id") >= 2000000L)
    val fp = novel.filter(col("maybe_dup")).count()
    assert(novel.count() == nDocs)
    assert(fp.toDouble / nDocs <= 0.01,
      s"false-positive rate must stay near the design point: $fp of $nDocs")
    // hit counts are k-bounded
    assert(out.filter(col("n_hits") > 4 || col("n_hits") < 0).count() == 0)
    spark.catalog.clearCache()
  }

  test("text_exact_dedup: every planted twin collapses; keeper is the original id") {
    val df = operators.TextAnalysis.textExactDedup(spark, sf)
    assert(df.filter(col("n_copies") < 2).count() == 0)
    assert(df.filter(col("keeper_id") >= 1000000L).count() == 0)
    assert(df.agg(sum("n_copies")).head().getLong(0) == 2 * nDocs)
  }

  test("line_dedup: planted boilerplate struck everywhere, content intact, idempotent") {
    val s = spark
    import s.implicits._
    // three docs share a verbatim banner segment; each also has
    // unique content; doc 3 is PURE boilerplate; doc 4 repeats a
    // segment twice within itself only (df = 1 → must survive)
    val docs = Seq(
      (0L, "cookie banner here the alpha content zero"),
      (1L, "cookie banner here the beta content one"),
      (2L, "cookie banner here the gamma content two"),
      (3L, "cookie banner here"),
      (4L, "self repeat the self repeat")
    ).toDF("doc_id", "text")
    val out = operators.TextAnalysis.lineDedupOf(docs)
      .orderBy("doc_id").collect()
    assert(out.map(_.getString(3)).toSeq == Seq(
      "alpha content zero", "beta content one", "gamma content two",
      "", "self repeat the self repeat"),
      "shared banner struck from every doc; within-doc repeats survive")
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 1L), (1L, 1L), (1L, 1L), (0L, 1L), (2L, 0L)))
    // idempotence: a second pass over the cleaned corpus drops nothing
    val second = operators.TextAnalysis.lineDedupOf(
      out.toSeq.map(r => (r.getLong(0), r.getString(3))).toDF("doc_id", "text"))
    assert(second.agg(sum("n_dropped")).head().getLong(0) == 0L,
      "line dedup must be idempotent")
    // corpus invariants at sf: every line is either kept or dropped,
    // untouched docs reassemble their exact original text
    val full = operators.TextAnalysis.lineDedup(spark, sf)
    val untouched = full.filter(col("n_dropped") === 0)
      .join(Tables.documents(spark, sf), Seq("doc_id"))
    assert(untouched.count() > 0)
    assert(untouched.filter(col("clean_text") =!= col("text")).count() == 0,
      "a doc with nothing dropped must reassemble byte-identically")
    assert(full.count() == Tables.documents(spark, sf).count(),
      "every doc must survive as a row, even when emptied")
  }

  test("boilerplate_strip: per-source chrome struck, cross-source shared lines survive, idempotent") {
    val s = spark
    import s.implicits._
    val TA = operators.TextAnalysis
    // siteA: 3 of 4 docs carry the site's nav chrome (75% ≥ 30%);
    // siteB: its own banner on every doc; the segment 'common quote
    // text' appears once in EACH site (cross-source df = 2 but
    // within-source fraction 25% — line_dedup would strike it, the
    // per-source rule must NOT)
    val docs = Seq(
      (0L, "siteA", "site nav chrome the alpha body zero"),
      (1L, "siteA", "site nav chrome the beta body one"),
      (2L, "siteA", "site nav chrome the common quote text"),
      (3L, "siteA", "delta body three"),
      (4L, "siteB", "cookie banner b the common quote text"),
      (5L, "siteB", "cookie banner b the epsilon body five")
    ).toDF("doc_id", "source", "text")
    val out = TA.boilerplateStripOf(docs, pct = 30)
      .orderBy("doc_id").collect()
    assert(out.map(_.getString(4)).toSeq == Seq(
      "alpha body zero", "beta body one", "common quote text",
      "delta body three", "common quote text", "epsilon body five"),
      "each site's chrome struck; the cross-source quote survives both sites")
    assert(out.map(r => (r.getLong(2), r.getLong(3))).toSeq ==
      Seq((1L, 1L), (1L, 1L), (1L, 1L), (1L, 0L), (1L, 1L), (1L, 1L)))
    // idempotence: a second pass over the cleaned corpus drops nothing
    val second = TA.boilerplateStripOf(
      out.toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(4)))
        .toDF("doc_id", "source", "text"), pct = 30)
    assert(second.agg(sum("n_dropped")).head().getLong(0) == 0L,
      "boilerplate strip must be idempotent")
    // corpus invariants at sf: the planted header is the ONLY strike
    // (exactly 1 dropped per doc) and every cleaned doc reassembles
    // its original (pre-chrome) segmentation byte-identically
    val full = TA.boilerplateStrip(spark, sf).localCheckpoint()
    assert(full.count() == nDocs)
    assert(full.filter(col("n_dropped") =!= 1L).count() == 0,
      "exactly the planted chrome segment drops from every doc")
    val orig = TA.boilerplateApply(
      Tables.documents(spark, sf).select(col("doc_id"), col("source"), col("text")),
      Seq.empty[(String, String)].toDF("source", "line"))
      .select(col("doc_id"), col("clean_text").as("orig_reassembled"))
    assert(full.join(orig, Seq("doc_id"))
      .filter(col("clean_text") =!= col("orig_reassembled")).count() == 0,
      "stripping the chrome must restore the original segmentation")
    spark.catalog.clearCache()
  }

  test("line_dedup_serve: union-df parity, erasure revives lines, torn append invisible, snapshot pins") {
    val s = spark
    import s.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_line_idx_spec").toString
    // accumulated corpus: a banner shared by two ref docs; a line
    // shared between ONE ref doc and a new doc; unique content
    val ref = Seq(
      (10L, "banner text here the ref alpha"),
      (11L, "banner text here the ref beta"),
      (12L, "shared with new the ref gamma")
    ).toDF("doc_id", "text")
    val neu = Seq(
      (20L, "shared with new the new delta"),
      (21L, "banner text here the new epsilon"),
      (22L, "only new content")
    ).toDF("doc_id", "text")
    operators.TextAnalysis.lineIndexWrite(ref, idx, nBuckets = 4)
    val served = operators.TextAnalysis.lineDedupServe(s, idx, neu)
      .orderBy("doc_id").collect()
    // 'banner text here' df=3 (2 ref + 1 new) → struck; 'shared with
    // new' df=2 (1 ref + 1 new) → struck; unique lines survive
    assert(served.map(_.getString(3)).toSeq ==
      Seq("new delta", "new epsilon", "only new content"))
    // …and equals the from-scratch union recompute restricted to new
    val scratch = operators.TextAnalysis.lineDedupOf(ref.unionAll(neu))
      .filter($"doc_id" >= 20L).orderBy("doc_id").collect()
    assert(served.toSeq == scratch.toSeq,
      "index serve must equal from-scratch line_dedup on the union")
    // snapshot BEFORE maintenance pins the strike decisions
    val snap = sources.IndexLayout.Lines.committed(s, idx)
    // erasure: doc 11 forgotten → 'banner text here' drops to df 2
    // (doc 10 + new doc 21) — still struck; erase doc 10 too → df 1
    // ref-side 0 + new 1 → the banner is CONTENT again for doc 21
    sources.IndexLayout.Lines.delete(s, idx, Seq(10L, 11L).toDF("doc_id"))
    val afterErase = operators.TextAnalysis.lineDedupServe(s, idx, neu)
      .orderBy("doc_id").collect()
    assert(afterErase.map(_.getString(3)).toSeq ==
      Seq("new delta", "banner text here the new epsilon", "only new content"),
      "a line whose other holders were erased must become content again")
    // the pinned snapshot still sees the pre-erasure state
    val pinned = operators.TextAnalysis.lineDedupServe(s, idx, neu,
      snapshot = Some(snap)).orderBy("doc_id").collect()
    assert(pinned.toSeq == served.toSeq,
      "a snapshot-pinned serve must be isolated from later deletes")
    // torn append (postings landed, commit row absent) is invisible;
    // the re-driven append lands exactly once
    val late = Seq((13L, "late banner the only new content")).toDF("doc_id", "text")
    operators.TextAnalysis.lineIndexAppendRaw(late, idx, None,
      overwrite = false, commit = false)
    val tornServe = operators.TextAnalysis.lineDedupServe(s, idx, neu)
      .orderBy("doc_id").collect()
    assert(tornServe.toSeq == afterErase.toSeq,
      "a torn append must not change any strike decision")
    operators.TextAnalysis.lineIndexAppend(late, idx)
    val afterAppend = operators.TextAnalysis.lineDedupServe(s, idx, neu)
      .orderBy("doc_id").collect()
    assert(afterAppend.map(_.getString(3)).toSeq ==
      Seq("new delta", "banner text here the new epsilon", ""),
      "the committed append must strike the newly-shared line")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    spark.catalog.clearCache()
  }

  test("minhash_lsh_dedup: all planted twins surface with est_jaccard 1.0") {
    val pairs = operators.NearDup.minhashLshDedup(spark, sf)
    val twins = pairs.filter(col("id2") === col("id1") + 1000000L)
    val eligible = Tables.documents(spark, sf)
      .filter(size(split(trim(col("text")), "\\s+")) >= 3).count()
    assert(twins.count() == eligible, "every ≥3-token doc must pair with its twin")
    assert(twins.filter(col("est_jaccard") =!= 1.0).count() == 0)
  }

  test("simhash_dedup: planted twins at hamming 0") {
    val pairs = operators.NearDup.simhashDedup(spark, sf)
    val twins = pairs.filter(col("id2") === col("id1") + 1000000L)
    val eligible = Tables.documents(spark, sf)
      .filter(length(trim(col("text"))) > 0).count()
    assert(twins.count() == eligible)
    assert(twins.filter(col("hamming") =!= 0).count() == 0)
  }

  test("ngram_jaccard_dedup: twins found at jaccard 1.0, pairs symmetric-free (id1<id2)") {
    val pairs = operators.NearDup.ngramJaccardDedup(spark, sf)
    assert(pairs.filter(col("id1") >= col("id2")).count() == 0)
    val twins = pairs.filter(col("id2") === col("id1") + 1000000L && col("jaccard") === 1.0)
    val eligible = Tables.documents(spark, sf)
      .filter(size(split(trim(col("text")), "\\s+")) >= 3).count()
    assert(twins.count() == eligible)
  }

  test("doc_fingerprint: twin docs have identical fingerprint sets") {
    val fp = operators.NearDup.docFingerprint(spark, sf)
    val orig = fp.filter(col("doc_id") < 1000000L)
      .select(col("doc_id"), col("fp_xor").as("h1"), col("n_fingerprints").as("n1"))
    val twin = fp.filter(col("doc_id") >= 1000000L)
      .select((col("doc_id") - 1000000L).as("doc_id"), col("fp_xor").as("h2"),
        col("n_fingerprints").as("n2"))
    assert(orig.join(twin, "doc_id")
      .filter(col("h1") =!= col("h2") || col("n1") =!= col("n2")).count() == 0)
  }

  test("embedding_dedup pairs match ann threshold semantics; ann_lsh buckets partition") {
    val lsh = operators.Similarity.annLsh(spark, sf)
    // each (query, neighbor) pair shares the bucket by construction
    assert(lsh.filter(col("rank_nn") > 5).count() == 0)
    assert(lsh.count() > 0)
  }

  test("dedup_weights: cluster mass totals one doc, twins split evenly, singletons keep full weight") {
    val out = operators.NearDup.dedupWeights(spark, sf).localCheckpoint()
    // full corpus coverage (documents + the noisy re-crawl)
    assert(out.count() == 2 * nDocs)
    // the ppm rule itself: weight == 10^6 div size, everywhere
    assert(out.filter(
      col("weight_ppm") =!= expr("1000000L div cluster_size")).count() == 0)
    // singleton docs (no near-dup) keep the full weight
    assert(out.filter(col("cluster_size") === 1L)
      .filter(col("weight_ppm") =!= 1000000L).count() == 0)
    // every planted twin pair shares a cluster of >= 2 → each member
    // weighs at most half; and a cluster's total weight never exceeds
    // one document's (floor division only loses mass)
    val twins = out.filter(col("doc_id") >= 1000000L)
    assert(twins.filter(col("weight_ppm") > 500000L).count() == 0,
      "a re-crawl twin always has at least its original as a cluster-mate")
    val mass = out.groupBy("cluster_id")
      .agg(sum("weight_ppm").as("m"), max("cluster_size").as("sz"))
    assert(mass.filter(col("m") > 1000000L).count() == 0,
      "soft dedup must cap each cluster's total contribution at one doc")
    // membership agrees with dedup_cluster (same memoized table)
    val c = operators.NearDup.dedupCluster(spark, sf)
      .select(col("doc_id"), col("cluster_id").as("c2"))
    assert(out.join(c, Seq("doc_id"))
      .filter(col("cluster_id") =!= col("c2")).count() == 0)
    spark.catalog.clearCache()
  }

  test("leak_safe_split: clusters land whole, twins never straddle, singletons keep F4's draw") {
    val out = operators.NearDup.leakSafeSplit(spark, sf).localCheckpoint()
    // full corpus coverage (documents + the noisy re-crawl)
    assert(out.count() == 2 * nDocs)
    // the leakage guarantee itself: every group is entirely in ONE split
    assert(out.groupBy("group_id").agg(countDistinct("split").as("ns"))
      .filter(col("ns") > 1).count() == 0,
      "a near-dup cluster must never straddle splits")
    // in particular each planted twin pair (doc, doc + 10^6) agrees
    val base = out.filter(col("doc_id") < 1000000L)
      .select(col("doc_id"), col("split").as("s1"))
    val twin = out.filter(col("doc_id") >= 1000000L)
      .select((col("doc_id") - 1000000L).as("doc_id"), col("split").as("s2"))
    assert(base.join(twin, Seq("doc_id"))
      .filter(col("s1") =!= col("s2")).count() == 0,
      "a re-crawl twin must land in its original's split")
    // refinement of F4: docs that are their own group keep the plain
    // sample_split assignment bit-for-bit (same salt, same cuts)
    val f4 = operators.Govern.sampleSplit(spark, sf)
      .select(col("doc_id"), col("split").as("f4"))
    assert(out.filter(col("group_id") === col("doc_id"))
      .join(f4, Seq("doc_id"))
      .filter(col("split") =!= col("f4")).count() == 0,
      "singleton groups must keep F4's draw")
    // group labels agree with dedup_cluster where a doc is clustered
    val c = operators.NearDup.dedupCluster(spark, sf)
      .select(col("doc_id"), col("cluster_id"))
    assert(out.join(c, Seq("doc_id"))
      .filter(col("group_id") =!= col("cluster_id")).count() == 0)
    spark.catalog.clearCache()
  }

  test("dedup_cluster: exactly one keeper per cluster; twins share a cluster") {
    val cl = operators.NearDup.dedupCluster(spark, sf)
    // one keeper per cluster, keeper id == cluster id
    val keepers = cl.filter(col("is_keeper"))
    assert(keepers.count() == cl.select("cluster_id").distinct().count())
    assert(keepers.filter(col("doc_id") =!= col("cluster_id")).count() == 0)
    // every planted twin pair is in the same cluster
    val orig = cl.select(col("doc_id"), col("cluster_id").as("c1"))
    val twin = cl.filter(col("doc_id") >= 1000000L)
      .select((col("doc_id") - 1000000L).as("doc_id"), col("cluster_id").as("c2"))
    assert(orig.join(twin, "doc_id").filter(col("c1") =!= col("c2")).count() == 0)
  }

  test("ann_ivf: neighbors only from probed cells, ranks within k, cells partition the corpus") {
    val ivf = operators.Similarity.annIvf(spark, sf)
    assert(ivf.count() > 0)
    assert(ivf.filter(col("rank_nn") > 5).count() == 0)
    // per query, at most nprobe distinct cells contribute
    val cellsPerQuery = ivf.groupBy("query_id")
      .agg(countDistinct("cell").as("nc")).filter(col("nc") > 2)
    assert(cellsPerQuery.count() == 0)
  }

  test("skew_salted_agg is bit-identical to the direct aggregation") {
    val salted = operators.Skew.saltedAgg(spark, sf)
    val direct = Tables.events(spark, sf).groupBy("event_type").agg(
      count(lit(1)).as("n_events"),
      sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
        .cast("double").as("sum_value"),
      min("value").as("min_value"), max("value").as("max_value"))
    assert(salted.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(salted).count() == 0)
  }

  test("approx_distinct within rsd of exact") {
    val approx = operators.Analytics.approxDistinct(spark, sf)
      .select(col("event_type"), col("approx_users"))
    val exact = Tables.events(spark, sf)
      .groupBy("event_type").agg(countDistinct("user_id").as("exact_users"))
    val bad = approx.join(exact, "event_type")
      .filter(abs(col("approx_users") - col("exact_users")) >
        col("exact_users") * 0.1 + 5)
    assert(bad.count() == 0)
  }

  test("ngram df-cap: boilerplate collapses to zero pairs, genuine near-dups survive") {
    import spark.implicits._
    val boiler = (1 to 20).map(i => s"b$i").mkString(" ")
    // 30 docs whose ONLY mutual overlap is the 20-token boilerplate
    // header (uncapped Jaccard ≈ 18/26 ≈ 0.69 — spurious pairs), plus
    // one genuine near-dup pair overlapping on unique content.
    val docs = (
      (0 until 30).map(i => (i.toLong, s"$boiler u${i}a u${i}b u${i}c u${i}d")) ++
        Seq((100L, (1 to 12).map(i => s"x$i").mkString(" ")),
            (101L, ((1 to 11).map(i => s"x$i") :+ "y").mkString(" ")))
      ).toDF("doc_id", "text")
    val capped = operators.NearDup.ngramJaccardPairs(docs, 0.5, dfCap = 10)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSet == Set((100L, 101L)),
      s"cap must drop boilerplate-only pairs, keep the genuine one: ${capped.toSeq}")
    // without the cap the boilerplate makes all C(30,2) pairs "duplicates"
    val uncapped = operators.NearDup.ngramJaccardPairs(docs, 0.5, dfCap = 1000000)
    assert(uncapped.count() == 30L * 29 / 2 + 1,
      "sanity: boilerplate inflates the uncapped pair count quadratically")
    spark.catalog.clearCache()
  }

  test("dedup_cluster_star: 1000-node chain contracts in logarithmic rounds") {
    import spark.implicits._
    // the adversarial shape for neighbor-min propagation: one 1000-link
    // chain (diameter 999 — ~999 rounds). The star contraction must
    // collapse it to cluster 0 within 15 rounds, or it throws.
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("id1", "id2")
    val out = operators.NearDup.starContract(chain, maxIters = 15)
    assert(out.count() == 1000)
    assert(out.filter(col("cluster_id") =!= 0L).count() == 0,
      "chain did not fully contract to its minimum")
    assert(out.filter(col("is_keeper")).collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  /** Driver-side ground truth: union-find that always roots at the
    * component minimum — (node, component min) for every edge endpoint. */
  private def unionFind(edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(x => (x, find(x))).toSet
  }

  test("dedup_cluster_star: equals driver-side union-find on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    // three densities: mostly-isolated pairs, sparse components, dense
    for ((n, nEdges) <- Seq((120, 50), (150, 150), (100, 400))) {
      val edges = (1 to nEdges)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val out = operators.NearDup.starContract(edges.toDF("id1", "id2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(out == unionFind(edges), s"graph(n=$n, e=$nEdges) labels diverge from union-find")
    }
  }

  test("dedup_cluster equals driver-side union-find on the corpus pair graph") {
    val pairs = operators.NearDup.ngramJaccardDedup(spark, sf)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val labels = operators.NearDup.dedupCluster(spark, sf)
      .select("doc_id", "cluster_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    assert(labels.length == labels.toSet.size, "one row per clustered doc")
    assert(labels.toSet == unionFind(pairs), "cluster labels diverge from union-find")
  }

  test("dedup_cluster: a long near-dup path closes into one cluster with one keeper") {
    import spark.implicits._
    // doc i = tokens p_i … p_{i+9}: docs 1 and 2 apart share 7/9 and
    // 6/10 of their word 3-shingles (Jaccard ≥ 0.5), docs 3 apart only
    // 5/11 — so the 40 docs and their twins form ONE cluster whose pair
    // graph has diameter 20, beyond any fixed small number of rounds
    val lake = java.nio.file.Files.createTempDirectory("graft_dedup_path").toFile
    try {
      (0 until 40).map(i => (i.toLong, (i until i + 10).map(j => s"p$j").mkString(" ")))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$lake/documents.parquet")
      val dir = lake.getAbsolutePath
      val cl = operators.NearDup.dedupCluster(spark, dir).collect()
      assert(cl.length == 80, "every doc and twin is clustered")
      assert(cl.map(_.getAs[Long]("cluster_id")).toSet == Set(0L),
        "the path must close into the cluster of its minimum")
      assert(cl.filter(_.getAs[Boolean]("is_keeper")).map(_.getAs[Long]("doc_id")).toSeq == Seq(0L))
      val kb = operators.NearDup.dedupKeepBest(spark, dir).collect()
      assert(kb.length == 80 && kb.map(_.getAs[Long]("cluster_id")).toSet == Set(0L))
      assert(kb.count(_.getAs[Boolean]("keep")) == 1, "keep-best keeps one doc of the path")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(lake)
  }

  test("dedup_keep_best: one keeper per cluster, argmax quality, full corpus coverage") {
    val kb = operators.NearDup.dedupKeepBest(spark, sf).cache()
    // every doc of the doubled corpus appears exactly once
    val nDocs = Tables.documents(spark, sf).count()
    assert(kb.count() == 2 * nDocs)
    assert(kb.select("doc_id").distinct().count() == 2 * nDocs)
    // exactly one keeper per cluster
    val perCluster = kb.groupBy("cluster_id")
      .agg(sum(col("keep").cast("long")).as("n_keep"))
    assert(perCluster.filter(col("n_keep") =!= 1L).count() == 0,
      "every cluster must keep exactly one representative")
    // the keeper carries the cluster's max quality, min doc_id on ties
    val best = kb.groupBy("cluster_id").agg(
      max(struct(col("quality"), (-col("doc_id")).as("nd"))).as("b"))
    val kept = kb.filter(col("keep")).join(best, "cluster_id")
    assert(kept.filter(col("quality") =!= col("b.quality") ||
      col("doc_id") =!= -col("b.nd")).count() == 0,
      "keeper is not the (max quality, min doc_id) member")
    // planted twins score identically, so whenever a copy shares its
    // cluster with the original, the tiebreak keeps the ORIGINAL
    // (lower id) — a kept copy is only legal as its own singleton
    // (docs with <3 tokens or fully df-capped shingles never pair)
    val keptCopies = kb.filter(col("keep") && col("doc_id") >= 1000000L)
      .select((col("doc_id") - 1000000L).as("doc_id"), col("cluster_id").as("copy_cl"))
    assert(keptCopies.join(kb, "doc_id")
      .filter(col("cluster_id") === col("copy_cl")).count() == 0,
      "a re-crawl copy was kept over its original in the same cluster")
    kb.unpersist()
  }

  test("embedding_dedup_lsh: pair set equals the exact blocked all-pairs join") {
    val corpus = operators.Similarity.twinCorpus(spark, sf)
    val exact = operators.Similarity.blockedAllPairs(corpus, 8)
      .filter(col("cosine") >= 0.8).select("id1", "id2")
    val lsh = operators.Similarity.embeddingDedupLsh(spark, sf)
    assert(lsh.exceptAll(exact).count() == 0, "LSH emitted a pair the exact join lacks")
    assert(exact.exceptAll(lsh).count() == 0, "LSH missed a qualifying pair (recall < 1)")
    // and the pairs are exactly the planted twins on this data
    val nBase = Tables.embeddings(spark, sf).count()
    assert(lsh.count() == nBase)
    assert(lsh.filter(col("id2") =!= col("id1") + 1000000L).count() == 0)
    spark.catalog.clearCache() // release embeddingDedupLsh's corpus cache
  }

  test("embedding_dedup_lsh: twin signature hamming stays far inside the multiprobe guarantee") {
    // The band join guarantees recall for signature hamming ≤ 7 (4
    // bands of 16 bits + 1-bit multiprobe). Assert planted twins stay
    // ≤ 4 — margin that flags data-regeneration drift before the gate.
    import graft.functions.VectorExpressions.{dotF, hyperplane}
    val corpus = operators.Similarity.twinCorpus(spark, sf)
    val bits = (0 until 64).map { p =>
      org.apache.spark.sql.functions.when(
        dotF(col("embedding"), typedLit(hyperplane(p, 64))) > 0d, 1).otherwise(0).as(s"p$p")
    }
    val sig = corpus.select(col("vec_id") +: bits: _*)
    val a = sig.filter(col("vec_id") < 1000000L)
    val b = sig.filter(col("vec_id") >= 1000000L)
      .select((col("vec_id") - 1000000L).as("vec_id") +:
        (0 until 64).map(p => col(s"p$p").as(s"q$p")): _*)
    val hamming = a.join(b, "vec_id")
      .select((0 until 64).map(p => abs(col(s"p$p") - col(s"q$p"))).reduce(_ + _).as("h"))
    val maxH = hamming.agg(max(col("h"))).head().getInt(0)
    assert(maxH <= 4, s"twin signature hamming reached $maxH (recall guarantee holds to 7)")
    spark.catalog.clearCache()
  }

  test("cross_dedup: every new doc recovers its original at jaccard 1.0; only new×ref pairs") {
    val out = operators.NearDup.crossDedup(spark, sf).cache()
    val eligible = Tables.documents(spark, sf)
      .filter(size(split(trim(col("text")), "\\s+")) >= 3).count()
    val twins = out.filter(col("new_id") === col("ref_id") + 1000000L &&
      col("jaccard") === 1.0).count()
    assert(twins == eligible, s"recovered $twins of $eligible planted twins")
    // asymmetry is structural: no ref×ref, no new×new pair can exist
    assert(out.filter(col("ref_id") >= 1000000L || col("new_id") < 1000000L).count() == 0)
    out.unpersist()
    spark.catalog.clearCache()
  }

  test("cross_dedup equals C4's symmetric pair set restricted to new×ref when the cap never binds") {
    // with an unbinding df cap the two formulations share one shingle
    // universe, so the incremental path must produce EXACTLY the
    // symmetric path's pairs in the (new ≥ 1e6, ref < 1e6) orientation
    val big = 1000000
    val cross = operators.NearDup.crossDedup(spark, sf, threshold = 0.5, dfCap = big)
    val sym = operators.NearDup
      .ngramJaccardPairs(operators.NearDup.corpus(spark, sf), 0.5, dfCap = big)
      .filter(col("id1") < 1000000L && col("id2") >= 1000000L)
      .select(col("id2").as("new_id"), col("id1").as("ref_id"),
        col("n_inter"), col("jaccard"))
    assert(cross.exceptAll(sym).count() == 0 && sym.exceptAll(cross).count() == 0,
      "incremental and symmetric near-dup disagree on the new×ref pairs")
    spark.catalog.clearCache()
  }

  test("cross_dedup cap: reference boilerplate creates no pairs; below the cap it scores normally") {
    import spark.implicits._
    // 5 ref docs share one boilerplate shingle ('common header line');
    // the new doc consists ONLY of that shingle
    val ref = (1 to 5).map(i => (i.toLong, s"common header line w$i x$i y$i"))
      .toDF("doc_id", "text")
    val neu = Seq((100L, "common header line")).toDF("doc_id", "text")
    // cap 3 < df 5: the index's boilerplate is excluded from the
    // shingle universe — the new doc has nothing left to match on
    assert(operators.NearDup.crossDedupPairs(neu, ref, threshold = 0.1, dfCap = 3)
      .count() == 0)
    // cap 10 > df 5: the same shingle scores normally — 5 pairs at
    // jaccard 1/(1 + 4 − 1) = 0.25
    val scored = operators.NearDup.crossDedupPairs(neu, ref, threshold = 0.1, dfCap = 10)
      .collect()
    assert(scored.length == 5 && scored.forall(_.getAs[Double]("jaccard") == 0.25))
  }

  test("mm_resize halves decoded dimensions; mm_frame_sample keeps every 2nd frame") {
    val full = operators.Multimodal.mmFeatureExtract(spark, sf)
      .select(col("doc_id"), col("width_px"), col("height_px"))
    val small = operators.Multimodal.mmResize(spark, sf)
    val joined = full.join(small, "doc_id")
    assert(joined.count() == full.count())
    assert(joined.filter(col("out_w") =!= expr("cast(width_px div 2 as int)") ||
      col("out_h") =!= expr("cast(height_px div 2 as int)")).count() == 0)
    assert(small.filter(col("mean_b") < 0 || col("mean_b") > 255 ||
      col("mean_g") < 0 || col("mean_g") > 255 ||
      col("mean_r") < 0 || col("mean_r") > 255).count() == 0)

    val frames = operators.Multimodal.mmFrameSample(spark, sf)
    assert(frames.filter(col("frame_idx") % 2 =!= 0).count() == 0)
    // per doc: sampled rows = ceil(n_frames / 2), all digests distinct
    // per (doc, frame) pair-wise (payload bytes differ per offset)
    val perDoc = frames.groupBy(col("doc_id"), col("n_frames"))
      .agg(count(lit(1)).as("n_sampled"),
        countDistinct(col("frame_md5")).as("n_digests"))
    assert(perDoc.filter(col("n_sampled") =!= expr("(n_frames + 1) div 2")).count() == 0)
    assert(perDoc.filter(col("n_digests") =!= col("n_sampled")).count() == 0,
      "sampled frames of a doc must have pairwise-distinct content digests")
  }

  test("mm_feature_extract: SQL and typed BMP decoders agree byte-for-byte") {
    val sql = operators.Multimodal.mmFeatureExtract(spark, sf)
    val typed = operators.Multimodal.mmFeatures(spark, sf).toDF()
      .select(col("doc_id"), col("width_px"), col("height_px"), col("bpp"),
        col("n_bytes"), round(col("mean_b"), 6).as("mean_b"),
        round(col("mean_g"), 6).as("mean_g"), round(col("mean_r"), 6).as("mean_r"))
    assert(sql.count() == Tables.documents(spark, sf).filter(col("doc_id") % 3 === 0).count())
    assert(sql.exceptAll(typed).count() == 0 && typed.exceptAll(sql).count() == 0)
    // decoded header fields carry real BMP semantics (4-byte row stride)
    assert(sql.filter(col("bpp") =!= 24).count() == 0)
    assert(sql.filter(col("n_bytes") =!=
      expr("((width_px * 3 + 3) div 4) * 4") * col("height_px") + 54).count() == 0)
  }

  test("crafted invalid BMPs quarantine in BOTH decode paths; valid ones (incl. row-padded) decode") {
    import spark.implicits._
    // hand-assembled BMP: header fields little-endian, rows padded to
    // the 4-byte stride. Pixel bytes carry `px`; padding bytes carry a
    // DIFFERENT value, so a decoder that misstrides shifts the means
    // off px and fails the exact-value asserts below.
    def bmp(w: Int, h: Int, bpp: Int = 24, dataOff: Int = 54,
            pixelBytes: Int = -1, px: Byte = 9, pad: Byte = 85): Array[Byte] = {
      val hh = math.abs(h) // negative h = top-down; lattice height |h|
      val stride = if (w > 0) ((w.toLong * 3 + 3) / 4) * 4 else 0L
      val body = if (pixelBytes >= 0) pixelBytes else (stride * hh).toInt
      val p = new Array[Byte](54 + math.max(body, 0))
      def le32(off: Int, v: Int): Unit = (0 until 4).foreach(k => p(off + k) = ((v >> (8 * k)) & 0xff).toByte)
      p(0) = 'B'.toByte; p(1) = 'M'.toByte
      le32(2, p.length); le32(10, dataOff); le32(14, 40)
      le32(18, w); le32(22, h)
      p(26) = 1; p(28) = (bpp & 0xff).toByte; p(29) = ((bpp >> 8) & 0xff).toByte
      (54 until p.length).foreach(p(_) = pad)
      // fill only rows/columns that can intersect the payload — giant
      // crafted dims must not iterate (or overflow) here
      if (w > 0 && hh > 0 && stride > 0) {
        val maxR = math.max(0L, math.min(hh.toLong, (p.length.toLong - dataOff) / stride + 1)).toInt
        val maxC = math.min(w.toLong * 3, p.length.toLong).toInt
        for (r <- 0 until maxR; c <- 0 until maxC) {
          val i = (dataOff + r * stride + c).toInt
          if (i >= 54 && i < p.length) p(i) = px
        }
      }
      p
    }
    val items = Seq(
      operators.Multimodal.MmItem(1L, bmp(4, 2)),                    // valid, stride == w*3
      operators.Multimodal.MmItem(2L, bmp(4, 2, bpp = 32)),          // wrong depth
      operators.Multimodal.MmItem(3L, bmp(5, 2)),                    // valid, PADDED rows (15 → stride 16)
      operators.Multimodal.MmItem(4L, bmp(4, -2)),                   // valid, TOP-DOWN (negative height)
      operators.Multimodal.MmItem(5L, bmp(4, 2, dataOff = 78)),      // lattice past payload
      operators.Multimodal.MmItem(6L, bmp(4, 2, dataOff = 10)),      // data_off inside header
      operators.Multimodal.MmItem(7L, bmp(4, 2, pixelBytes = 20)),   // truncated pixel block
      operators.Multimodal.MmItem(8L, bmp(100000, 100000, pixelBytes = 24)), // giant header
      operators.Multimodal.MmItem(9L, Array[Byte]('B', 'M', 1, 2)),  // runt file
      operators.Multimodal.MmItem(10L, bmp(5, 2, pixelBytes = 30)),  // raw pixels fit, padded rows don't
      // stride*h overflows Long (≈1.4e19): the division-form check must
      // quarantine, not wrap past the bound or throw under ANSI
      operators.Multimodal.MmItem(11L, bmp(Int.MaxValue, Int.MaxValue, pixelBytes = 24)))
    val typed = operators.Multimodal.mmFeaturesTyped(items.toDS()).collect()
    assert(typed.map(_.doc_id).sorted.toSeq == Seq(1L, 3L, 4L),
      s"typed kept ${typed.map(_.doc_id).mkString(",")}")
    // exact means == px: padding bytes stayed out in every layout
    typed.foreach(f => assert(f.mean_b == 9.0 && f.mean_g == 9.0 && f.mean_r == 9.0))
    assert(typed.find(_.doc_id == 4L).get.height_px == 2, "top-down height is |h|")
    val colDf = operators.Multimodal.mmFeatureExtractFrame(
      items.toDF("doc_id", "payload")).collect()
    assert(colDf.map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 4L),
      s"columnar kept ${colDf.map(_.getLong(0)).mkString(",")}")
    colDf.foreach(r => assert(r.getAs[Double]("mean_b") == 9.0 &&
      r.getAs[Double]("mean_g") == 9.0 && r.getAs[Double]("mean_r") == 9.0))
    val resized = operators.Multimodal.mmResizeFrame(
      items.toDF("doc_id", "payload")).collect()
    assert(resized.map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 4L))
    resized.foreach { r =>
      assert(r.getAs[Int]("out_w") == 2 && r.getAs[Int]("out_h") == 1)
      assert(r.getAs[Double]("mean_b") == 9.0 && r.getAs[Double]("mean_r") == 9.0)
    }
  }

  test("sparse_tfidf_pairs: twins pair at cosine 1; the df cap silences a fully-duplicated corpus") {
    val pairs = operators.TextAnalysis.sparseTfidfPairs(spark, sf)
    assert(pairs.filter(col("id1") >= col("id2")).count() == 0)
    assert(pairs.filter(col("dot") <= 0L).count() == 0)
    // identical twin docs have identical integer weight vectors over
    // the surviving term space → cosine exactly 1 → above any
    // threshold < 1; every ≥3-token doc must recover its twin
    val twins = pairs.filter(col("id2") === col("id1") + 1000000L)
    val eligible = Tables.documents(spark, sf)
      .filter(size(split(trim(col("text")), "\\s+")) >= 3).count()
    assert(twins.count() == eligible,
      s"${twins.count()} twin pairs vs $eligible eligible docs")
    // planted twins double every term's df, so dfCap = 1 caps EVERY
    // term out of the posting index — no pairs can form
    assert(operators.TextAnalysis.sparseTfidfPairs(spark, sf, dfCap = 1).count() == 0)
  }

  test("pagerank_pairs: exact integer equality with a driver reference; twins symmetric; isolated at the teleport floor") {
    import spark.implicits._
    // crafted graph: path 1-2-3-4 plus isolated node 5 — exact
    // micro-unit equality against a driver-side reference of the same
    // integer recurrence
    val nodes = (1L to 5L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id1", "id2")
    val got = operators.NearDup.pagerankGraph(nodes, edges, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val und = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L).flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = und.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var ref = (1L to 5L).map(_ -> 1000000L).toMap
    (1 to 5).foreach { _ =>
      val cin = und.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => ref(src) / deg(src) }.sum
      }
      ref = ref.keys.map(n => n -> (150000L + 850L * cin.getOrElse(n, 0L) / 1000L)).toMap
    }
    assert(got == ref, s"engine $got vs reference $ref")
    assert(got(5L) == 150000L, "isolated node sits at the teleport floor")
    // symmetric path positions get identical ranks
    assert(got(1L) == got(4L) && got(2L) == got(3L))

    // corpus run: every doc present once; a doc and its planted twin
    // have identical neighborhoods (same text → same shingles), so
    // identical ranks
    val pr = operators.NearDup.pagerankPairs(spark, sf)
    assert(pr.count() == 2 * nDocs)
    val orig = pr.filter(col("doc_id") < 1000000L)
      .select(col("doc_id"), col("rank_units").as("r1"))
    val twin = pr.filter(col("doc_id") >= 1000000L)
      .select((col("doc_id") - 1000000L).as("doc_id"), col("rank_units").as("r2"))
    assert(orig.join(twin, "doc_id").filter(col("r1") =!= col("r2")).count() == 0)
    // connected docs (the twin edge guarantees deg >= 1 for every
    // >= 3-token doc) rise above the floor
    assert(pr.filter(col("rank_units") < 150000L).count() == 0)
  }

  test("mm_phash: brightness-shift invariant; quarantines crafted invalids like D2") {
    import spark.implicits._
    val ph = operators.Multimodal.mmPhash(spark, sf).collect()
    val nImgs = Tables.documents(spark, sf).filter(col("doc_id") % 3 === 0).count()
    assert(ph.length == nImgs)
    ph.foreach(r => (1 to 4).foreach { i =>
      val b = r.getInt(i); assert(b >= 0 && b <= 65535, s"band $i out of range: $b")
    })

    // 4x2 gradient image; shift = uniform brightness offset on every
    // pixel byte (no mod wrap: values stay < 256). aHash thresholds
    // each cell against the grid total, so a uniform shift moves both
    // sides equally → identical hash.
    def grad(shift: Int): Array[Byte] = {
      val (w, h) = (4, 2); val stride = ((w * 3 + 3) / 4) * 4
      val p = new Array[Byte](54 + stride * h)
      def le32(off: Int, v: Int): Unit =
        (0 until 4).foreach(k => p(off + k) = ((v >> (8 * k)) & 0xff).toByte)
      p(0) = 'B'.toByte; p(1) = 'M'.toByte
      le32(2, p.length); le32(10, 54); le32(14, 40); le32(18, w); le32(22, h)
      p(26) = 1; p(28) = 24
      for (r <- 0 until h; c <- 0 until w; ch <- 0 until 3)
        p(54 + r * stride + c * 3 + ch) = (((r * 31 + c * 13 + ch * 7) % 100) + shift).toByte
      p
    }
    val hs = operators.Multimodal.phashFrame(
        Seq((1L, grad(0)), (2L, grad(40))).toDF("doc_id", "payload"))
      .orderBy("doc_id").collect()
    assert(hs.length == 2)
    assert(hs(0).getAs[scala.collection.Seq[Int]]("bands").toList ==
      hs(1).getAs[scala.collection.Seq[Int]]("bands").toList,
      "uniform brightness shift must not change the aHash")

    // the shared header decode quarantines exactly like D2: wrong
    // depth and truncated pixel blocks drop, valid images hash
    val crafted = Seq(
      (10L, grad(0)),
      (11L, { val b = grad(0); b(28) = 32; b }),          // 32bpp
      (12L, grad(0).take(54 + 7)))                        // truncated
      .toDF("doc_id", "payload")
    assert(operators.Multimodal.phashFrame(crafted).collect()
      .map(_.getLong(0)).toSeq == Seq(10L))
  }

  test("mm_phash_serve: tombstones never serve, full lifecycle vs from-scratch, commit-last holds") {
    import spark.implicits._
    val mm = operators.Multimodal
    // the gate (write + append + tombstone every 5th original +
    // serve): no pair may touch a tombstoned original, every pair
    // touches the batch, and the batch still strikes (the oracle
    // hash-gate carries the exact from-scratch equality)
    val served = mm.mmPhashServeGate(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(served.nonEmpty, "the twin batch must strike against the index")
    assert(!served.exists(p => p._1 < 1000000L && p._1 % 5 == 0),
      "a tombstoned original must never serve")
    assert(served.forall(_._2 >= 1000000L),
      "every served pair must touch the arriving batch")

    val ref = mm.bmpTable(spark, sf).select(col("doc_id"), col("payload"))
    val neu = mm.bmpTwinTable(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("phash_idx_spec").toString
    try {
      // an undeleted store serves the from-scratch twin answer
      mm.phashIndexWrite(ref.filter(col("doc_id") % 2 === 0), tmp)
      mm.phashIndexAppend(ref.filter(col("doc_id") % 2 =!= 0), tmp)
      val full = mm.mmPhashServe(spark, tmp, neu)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val scratch = mm.mmPhashDedup(spark, sf)
        .filter(col("id2") >= 1000000L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(full == scratch,
        s"undeleted index must serve the from-scratch answer (${full.size} vs ${scratch.size})")

      // commit-last: a torn append (postings landed, no commit row)
      // is invisible to the serve
      mm.phashIndexAppendRaw(neu.filter(col("doc_id") % 9 === 0), tmp,
        None, overwrite = false, commit = false)
      val afterTorn = mm.mmPhashServe(spark, tmp, neu)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(afterTorn == full, "uncommitted postings must not serve")

      // tombstoning is immediate and idempotent
      val goners = full.map(_._1).filter(_ < 1000000L).take(3).toSeq
      sources.IndexLayout.Phash.delete(spark, tmp, goners.toDF("doc_id"))
      sources.IndexLayout.Phash.delete(spark, tmp, goners.toDF("doc_id")) // no-op re-drive
      val afterDel = mm.mmPhashServe(spark, tmp, neu)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(afterDel == full.filterNot(p => goners.contains(p._1)),
        "deletes must erase exactly the tombstoned ids' pairs")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    spark.catalog.clearCache()
  }

  test("mm_phash_dedup: planted noisy twins pair perceptually where the exact content hash cannot") {
    import spark.implicits._
    val pairs = operators.Multimodal.mmPhashDedup(spark, sf)
    val nImgs = Tables.documents(spark, sf).filter(col("doc_id") % 3 === 0).count()
    // emitted pairs respect the declared threshold
    assert(pairs.filter(col("hamming") > 6 || col("hamming") < 0).count() == 0)

    // ground truth: full-hash hamming between every base image and its
    // twin; every twin within the threshold must be recovered (the
    // 4 × 16-bit bands GUARANTEE collision for hamming ≤ 3, and the
    // remainder must not be lost to banding either — exactness of the
    // emitted set is what the DuckDB gate hashes)
    val base = operators.Multimodal.phashFrame(
      operators.Multimodal.bmpTable(spark, sf)).select(col("doc_id"), col("bands").as("ba"))
    val twin = operators.Multimodal.phashFrame(
      operators.Multimodal.bmpTwinTable(spark, sf))
      .select((col("doc_id") - 1000000L).as("doc_id"), col("bands").as("bt"))
    val ham = base.join(twin, "doc_id").select(col("doc_id"), expr(
      "aggregate(sequence(0, 3), 0, (a, i) -> a + bit_count(ba[i] ^ bt[i]))").as("ham"))
    val within = ham.filter(col("ham") <= 6).count()
    val found = pairs.filter(col("id2") === col("id1") + 1000000L).count()
    assert(found == within, s"twin pairs emitted $found != twins within threshold $within")
    // the perturbation is genuinely small: most twins stay near-dups
    assert(within >= (0.8 * nImgs).toLong, s"only $within of $nImgs twins within threshold")

    // an exact content hash pairs NONE of them: every twin payload
    // differs from its original (the D3-vs-D6 contrast)
    val md5Base = operators.Multimodal.bmpTable(spark, sf)
      .select(col("doc_id"), md5(col("payload")).as("m1"))
    val md5Twin = operators.Multimodal.bmpTwinTable(spark, sf)
      .select((col("doc_id") - 1000000L).as("doc_id"), md5(col("payload")).as("m2"))
    assert(md5Base.join(md5Twin, "doc_id").filter(col("m1") === col("m2")).count() == 0)

    // D6c: one keeper (= min id) per perceptual component, and every
    // twin that D6b paired DIRECTLY with its original shares its
    // component (a twin beyond the hamming threshold may legitimately
    // cluster with other similar images instead)
    val cl = operators.Multimodal.mmPhashCluster(spark, sf)
    val keepers = cl.filter(col("is_keeper"))
    assert(keepers.count() == cl.select("cluster_id").distinct().count())
    assert(keepers.filter(col("doc_id") =!= col("cluster_id")).count() == 0)
    val pairedTwins = pairs.filter(col("id2") === col("id1") + 1000000L)
      .select(col("id1").as("doc_id"))
    val cOrig = cl.select(col("doc_id"), col("cluster_id").as("c1"))
    val cTwin = cl.filter(col("doc_id") >= 1000000L)
      .select((col("doc_id") - 1000000L).as("doc_id"), col("cluster_id").as("c2"))
    assert(cOrig.join(cTwin, "doc_id").join(pairedTwins, "doc_id")
      .filter(col("c1") =!= col("c2")).count() == 0)
  }

  test("bmp payloads are valid BMP files (magic, declared size == byte length)") {
    val rows = operators.Multimodal.bmpTable(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p = r.getAs[Array[Byte]]("payload")
      assert(p(0) == 'B'.toByte && p(1) == 'M'.toByte)
      def le32(off: Int) = (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8) |
        ((p(off + 2) & 0xff) << 16) | ((p(off + 3) & 0xff) << 24)
      assert(le32(2) == p.length, "declared file size must equal actual")
      assert(le32(10) == 54 && le32(14) == 40)
      val (w, hRaw) = (le32(18), le32(22))
      val h = math.abs(hRaw) // negative biHeight = planted top-down
      val stride = ((w * 3 + 3) / 4) * 4
      assert(p.length == 54 + stride * h)
      // padding bytes are present and are NOT pixel values (0xAB)
      if (stride != w * 3)
        (0 until h).foreach { r =>
          (54 + r * stride + w * 3 until 54 + (r + 1) * stride).foreach(i =>
            assert((p(i) & 0xff) == 171, s"padding byte at $i"))
        }
    }
  }

  test("C4c dedup index lifecycle: serve parity, torn append invisible, delete exact") {
    val s = spark
    import s.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_dedup_lc").toFile
    // overlapping corpus: doc i shares a 3-token run with doc i+1
    val ref = (0 until 30).map(i =>
      (i.toLong, s"w$i w${i + 1} w${i + 2} w${i + 3} w${i + 4} z${i % 4}"))
      .toDF("doc_id", "text")
    val neu = ref.select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.count() == b.count() && a.exceptAll(b).count() == 0
    operators.NearDup.dedupIndexWrite(ref.filter(col("doc_id") < 20), idx.getAbsolutePath)
    // torn append: postings land, commit row does not -> invisible
    operators.NearDup.dedupIndexAppendRaw(ref.filter(col("doc_id") >= 20),
      idx.getAbsolutePath, None, overwrite = false, commit = false)
    val torn = operators.NearDup.dedupServe(s, idx.getAbsolutePath, neu, 0.3)
    val preRef = operators.NearDup.crossDedupPairs(neu, ref.filter(col("doc_id") < 20), 0.3)
    assert(same(torn, preRef), "torn append must be invisible to serve")
    // re-drive: the batch lands once; serve == from-scratch cross pairs
    operators.NearDup.dedupIndexAppend(ref.filter(col("doc_id") >= 20), idx.getAbsolutePath)
    val served = operators.NearDup.dedupServe(s, idx.getAbsolutePath, neu, 0.3)
    assert(same(served, operators.NearDup.crossDedupPairs(neu, ref, 0.3)),
      "index serve must equal the from-scratch cross pairs on the full reference")
    // delete every 3rd ref doc: no posting file rewritten, serve ==
    // from-scratch on survivors, snapshot pinned before still sees all
    val snap = sources.IndexLayout.DedupSig.committed(s, idx.getAbsolutePath)
    def files(): Map[String, Long] =
      new java.io.File(idx, "postings").listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
        .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => s"${d.getName}/${f.getName}" -> f.length())).toMap
    val before = files()
    sources.IndexLayout.DedupSig.delete(s, idx.getAbsolutePath,
      ref.filter(col("doc_id") % 3 === 0).select(col("doc_id")))
    assert(files() == before, "delete must not rewrite any posting file")
    val afterDel = operators.NearDup.dedupServe(s, idx.getAbsolutePath, neu, 0.3)
    assert(same(afterDel, operators.NearDup.crossDedupPairs(
      neu, ref.filter(col("doc_id") % 3 =!= 0), 0.3)),
      "tombstoned serve must equal the from-scratch pairs on survivors")
    val pinned = operators.NearDup.dedupServe(s, idx.getAbsolutePath, neu, 0.3,
      snapshot = Some(snap))
    assert(same(pinned, served), "snapshot serve must predate the delete")
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    spark.catalog.clearCache()
  }

  test("C4c stats sidecars: hot re-count is exact when deletes un-hot a shingle; cap pinned at build") {
    val s = spark
    import s.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_dedup_unhot").toFile
    val cap = 3
    // every ref doc shares the (a b c) shingle; df(abc) = 5 > cap at
    // build time, so the candidate log records it as hot
    val ref = (0 until 5).map(i =>
      (i.toLong, s"a b c u$i v$i w$i")).toDF("doc_id", "text")
    val neu = Seq((100L, "a b c u1 v1 w1")).toDF("doc_id", "text")
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.count() == b.count() && a.exceptAll(b).count() == 0
    operators.NearDup.dedupIndexWrite(ref, idx.getAbsolutePath, dfCap = cap)
    assert(same(
      operators.NearDup.dedupServe(s, idx.getAbsolutePath, neu, 0.3, dfCap = cap),
      operators.NearDup.crossDedupPairs(neu, ref, 0.3, dfCap = cap)),
      "hot-shingle serve must equal the from-scratch pairs")
    // deleting two docs drops df(abc) to 3 = cap: NOT hot any more.
    // The candidate log still lists it (superset by design) — the
    // serve's bucket-bounded re-count must score it back IN, shifting
    // both the pair join and every survivor's capped size
    sources.IndexLayout.DedupSig.delete(s, idx.getAbsolutePath,
      Seq(3L, 4L).toDF("doc_id"))
    val survivors = ref.filter($"doc_id" < 3)
    assert(same(
      operators.NearDup.dedupServe(s, idx.getAbsolutePath, neu, 0.3, dfCap = cap),
      operators.NearDup.crossDedupPairs(neu, survivors, 0.3, dfCap = cap)),
      "a delete that un-hots a shingle must restore it to serving exactly")
    // vacuum re-counts the candidate log: the un-hotted shingle drops
    // out, and the post-vacuum serve still matches from-scratch
    operators.NearDup.dedupIndexVacuum(s, idx.getAbsolutePath,
      maxFilesPerBucket = 1000)
    assert(s.read.parquet(s"${idx.getAbsolutePath}/hotcand").count() == 0,
      "vacuum must drop un-hotted candidates")
    assert(same(
      operators.NearDup.dedupServe(s, idx.getAbsolutePath, neu, 0.3, dfCap = cap),
      operators.NearDup.crossDedupPairs(neu, survivors, 0.3, dfCap = cap)),
      "post-vacuum serve must still match the from-scratch pairs")
    // a re-append can re-cross the cap: the new batch's scan re-logs it
    val more = (10 until 13).map(i =>
      (i.toLong, s"a b c u$i v$i w$i")).toDF("doc_id", "text")
    operators.NearDup.dedupIndexAppend(more, idx.getAbsolutePath)
    assert(s.read.parquet(s"${idx.getAbsolutePath}/hotcand").count() > 0,
      "an append that re-crosses the cap must re-log the candidate")
    assert(same(
      operators.NearDup.dedupServe(s, idx.getAbsolutePath, neu, 0.3, dfCap = cap),
      operators.NearDup.crossDedupPairs(neu, survivors.unionAll(more), 0.3, dfCap = cap)),
      "re-hotted serve must equal the from-scratch pairs on the union")
    // the boilerplate cutoff is pinned at build: serving with another
    // cap must fail loudly, never silently retune
    intercept[IllegalArgumentException](
      operators.NearDup.dedupServe(s, idx.getAbsolutePath, neu, 0.3, dfCap = 99))
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    spark.catalog.clearCache()
  }

  test("C4c dfs migration: appending to a pre-dfs-era index backfills the live df floor") {
    val s = spark
    import s.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_dedup_predfs").toFile
    val cap = 3
    // build-time df(abc) = 3 = cap: NOT hot yet
    val ref = (0 until 3).map(i =>
      (i.toLong, s"a b c u$i v$i w$i")).toDF("doc_id", "text")
    operators.NearDup.dedupIndexWrite(ref, idx.getAbsolutePath, dfCap = cap)
    // simulate an index persisted before the df-delta sidecar existed
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idx, "dfs"))
    // the append adds 2 more abc postings: the crossing (3 + 2 > cap)
    // is visible ONLY against the backfilled floor — the batch's own
    // delta sums to 2 <= cap, so without the migration the hot log
    // silently misses it and the serve under-caps
    val more = (10 until 12).map(i =>
      (i.toLong, s"a b c u$i v$i w$i")).toDF("doc_id", "text")
    operators.NearDup.dedupIndexAppend(more, idx.getAbsolutePath)
    assert(s.read.parquet(s"${idx.getAbsolutePath}/hotcand").count() > 0,
      "the cap crossing must be detected against the backfilled df floor")
    val neu = Seq((100L, "a b c u1 v1 w1")).toDF("doc_id", "text")
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.count() == b.count() && a.exceptAll(b).count() == 0
    assert(same(
      operators.NearDup.dedupServe(s, idx.getAbsolutePath, neu, 0.3, dfCap = cap),
      operators.NearDup.crossDedupPairs(neu, ref.unionAll(more), 0.3, dfCap = cap)),
      "post-migration serve must equal the from-scratch pairs")
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    spark.catalog.clearCache()
  }

  test("C30b line serve prunes the df probe to the new batch's line buckets") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val s = spark
    import s.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_line_prune").toFile
    // many distinct lines spread the buckets; ' the ' splits each doc
    // into two segments
    val ref = (0 until 200).map(i =>
      (i.toLong, s"left segment $i the right segment $i"))
      .toDF("doc_id", "text")
    operators.TextAnalysis.lineIndexWrite(ref, idx.getAbsolutePath)
    val bucketDirs = new java.io.File(idx, "lines").listFiles()
      .count(d => d.isDirectory && d.getName.startsWith("bucket="))
    assert(bucketDirs >= 12, s"corpus should populate most buckets, got $bucketDirs")
    // one small arriving doc: its two lines route to at most two
    // buckets — the df probe must read only those directories
    val one = Seq((9999L, "left segment 7 the brand new content")).toDF("doc_id", "text")
    val served = operators.TextAnalysis.lineDedupServe(s, idx.getAbsolutePath, one)
    val rows = served.collect()
    def all(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case q: QueryStageExec => all(q.plan)
      case _ => p +: p.children.flatMap(all)
    }
    val lineScans = all(served.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("lines")) => f
    }
    assert(lineScans.nonEmpty, "expected the df probe's lines scan in the plan")
    lineScans.foreach { f =>
      assert(f.partitionFilters.nonEmpty, "df probe must carry a bucket partition filter")
      val opened = f.metrics("numFiles").value
      assert(opened < bucketDirs,
        s"probe opened $opened files over $bucketDirs bucket dirs — no pruning")
    }
    // and the pruned strike decision is right: the shared line struck,
    // the fresh one kept
    assert(rows.length == 1 && rows(0).getString(3) == "brand new content")
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    spark.catalog.clearCache()
  }

  test("C4c dedup serve prunes the pair probe to the new batch's shingle buckets") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val s = spark
    import s.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_dedup_prune").toFile
    val ref = (0 until 200).map(i =>
      (i.toLong, s"w$i w${i + 1} w${i + 2} w${i + 3} w${i + 4}"))
      .toDF("doc_id", "text")
    operators.NearDup.dedupIndexWrite(ref, idx.getAbsolutePath)
    val bucketDirs = new java.io.File(idx, "postings").listFiles()
      .count(d => d.isDirectory && d.getName.startsWith("bucket="))
    assert(bucketDirs >= 12, s"corpus should populate most buckets, got $bucketDirs")
    // a single-doc nightly batch: its handful of shingles route to a
    // handful of buckets — the pair probe must read only those dirs
    // (the full-scan side for df/sizes is served from checkpoint
    // blocks, so the returned plan's only postings scan IS the probe)
    val one = Seq((9999L, "w5 w6 w7 w8 w9")).toDF("doc_id", "text")
    val served = operators.NearDup.dedupServe(s, idx.getAbsolutePath, one, 0.3)
    served.collect()
    def all(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case q: QueryStageExec => all(q.plan)
      case _ => p +: p.children.flatMap(all)
    }
    val postingScans = all(served.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("postings")) => f
    }
    assert(postingScans.nonEmpty, "expected the probe's postings scan in the plan")
    postingScans.foreach { f =>
      assert(f.partitionFilters.nonEmpty, "probe scan must carry a bucket partition filter")
      val opened = f.metrics("numFiles").value
      assert(opened < bucketDirs,
        s"probe opened $opened files over $bucketDirs bucket dirs — no pruning")
    }
    // and the pruned serve still finds the overlapping neighbors
    assert(served.count() > 0, "the probe must still retrieve overlapping refs")
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    spark.catalog.clearCache()
  }

  test("C38 para_dedup: whole repeated passages strike; one shared line inside a novel window does not") {
    val s = spark
    import s.implicits._
    val TA = operators.TextAnalysis
    // docs 1,2: the SAME 2-segment passage (window-aligned) -> strikes
    // whole from both. docs 3,4: share only their FIRST segment; the
    // window (seg0+seg1) differs -> survives in both, where line
    // granularity (C30) would strike the shared line from each.
    val docs = Seq(
      (1L, "passage alpha one the passage alpha two the unique one tail"),
      (2L, "passage alpha one the passage alpha two the unique two tail"),
      (3L, "common line here the unique c tail"),
      (4L, "common line here the unique d tail")
    ).toDF("doc_id", "text")
    val out = TA.paraDedupOf(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // docs 1,2: window0 (the passage) struck, window1 (their unique
    // tails) kept
    assert(out(0) == (1L, 1L, 1L, "unique one tail"), s"got ${out(0)}")
    assert(out(1) == (2L, 1L, 1L, "unique two tail"), s"got ${out(1)}")
    // docs 3,4: single window each, differing in the second segment —
    // nothing strikes despite the shared first line
    assert(out(2) == (3L, 1L, 0L, "common line here the unique c tail"))
    assert(out(3) == (4L, 1L, 0L, "common line here the unique d tail"))
    // the SAME corpus under line granularity strikes the shared line —
    // the middle rung is strictly less aggressive here
    val lineOut = TA.lineDedupOf(docs).filter(col("doc_id") >= 3L)
      .agg(org.apache.spark.sql.functions.sum("n_dropped")).head().getLong(0)
    assert(lineOut == 2L, "line dedup strikes what paragraph dedup spares")
    // idempotence
    val second = TA.paraDedupOf(out.toSeq.map(r => (r._1, r._4)).toDF("doc_id", "text"))
    assert(second.agg(org.apache.spark.sql.functions.sum("n_dropped"))
      .head().getLong(0) == 0L)
  }

  test("C38b para_dedup_serve: the index lifecycle reproduces the from-scratch paragraph answer") {
    val s = spark
    import s.implicits._
    val TA = operators.TextAnalysis
    val served = TA.paraDedupServeGate(spark, sf)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // from-scratch answer on (surviving reference ∪ batch) restricted
    // to the batch
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val union = docs.filter($"doc_id" % 3 =!= 0 && $"doc_id" % 7 =!= 0)
      .unionAll(docs.filter($"doc_id" % 3 === 0))
    val scratch = TA.paraDedupOf(union).filter($"doc_id" % 3 === 0)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(served.toSeq == scratch.toSeq,
      "index-served paragraph strikes must equal the from-scratch answer")
  }

  test("C35 html_extract: byte-exact blocks on planted pages — script/style/comment drop, entity decode, segmentation") {
    val s = spark
    import s.implicits._
    val TA = operators.TextAnalysis
    val pages = Seq(
      // script body carries raw '<' and '&&' that a naive tag strip
      // would mangle; the comment HIDES a <p> that must not emit
      (1L, "<html><body><script>if (a < b && c > 1) { x(); }</script>" +
        "<h1>Head &amp; tail</h1><!-- <p>ghost</p> -->" +
        "<p>one   two\tthree</p><p>&lt;em&gt; is text</p></body></html>"),
      // style dropped whole; <br> segments; entity-only block survives
      (2L, "<div>top</div><style>p { color: red; }</style>" +
        "alpha<br>beta &nbsp;&quot;q&quot;"),
      // nothing but dropped content -> zero blocks
      (3L, "<script>junk < more junk</script><style>x</style><!-- gone -->"),
      // inline (non-block) tags strip without segmenting
      (4L, "<p>a <b>bold</b> word</p>")
    ).toDF("doc_id", "html")
    val out = TA.htmlExtractOf(pages).orderBy("doc_id", "block_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(out.filter(_._1 == 1L).map(_._3).toSeq ==
      Seq("Head & tail", "one two three", "<em> is text"),
      s"doc 1 blocks wrong: ${out.filter(_._1 == 1L).toSeq}")
    assert(out.filter(_._1 == 2L).map(_._3).toSeq ==
      Seq("top", "alpha", "beta \"q\""),
      s"doc 2 blocks wrong: ${out.filter(_._1 == 2L).toSeq}")
    assert(!out.exists(_._1 == 3L), "all-markup page yields zero blocks")
    assert(out.filter(_._1 == 4L).map(_._3).toSeq == Seq("a bold word"),
      "inline tags strip without creating block boundaries")
    assert(out.filter(_._1 == 1L).map(_._2).toSeq == Seq(1, 2, 3),
      "block ids number the SURVIVING blocks contiguously per doc")
    // the corpus wrap is total: every sf doc emits >= 3 blocks (title,
    // heading, at least one entity tail), markup-free
    val full = TA.htmlExtract(spark, sf).localCheckpoint()
    assert(full.groupBy("doc_id").count().filter(col("count") < 3).count() == 0)
    // no LIVE markup survives — the decoded '<em>' literal is text by
    // design, so probe for the wrap's actual tag/entity inventory
    assert(full.filter(col("block_text").rlike(
      "</|<html|<body|<head|<title|<script|<style|<h1|<p>|&amp;|&lt;|&quot;|&nbsp;|<!--")).count() == 0,
      "no live tag, comment, or undecoded entity survives extraction")
  }
}
