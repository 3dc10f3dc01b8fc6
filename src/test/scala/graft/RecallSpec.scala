package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quantitative evidence for the rows-only (sketch/hash-specific)
  * operators: each approximate operator is measured against its exact
  * counterpart, so "spec-only" rows carry recall/accuracy numbers, not
  * just structural invariants.
  *
  * Floors are set with ~2x slack under the measured values at sf0.001
  * so data regeneration jitter cannot flake them while a real
  * regression (broken hashing, wrong banding, lost candidates) still
  * trips immediately.
  */
class RecallSpec extends AnyFunSuite {
  import TestSpark._

  test("embedding_quantize: dequantized vectors keep cosine >= 0.999 with the originals") {
    val q = operators.Similarity.embeddingQuantize(spark, sf)
      .filter(col("scale") > 0)
      .withColumn("dq", col("q").cast("double") / col("scale"))
    val orig = Tables.embeddings(spark, sf)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos"), col("col").cast("double").as("x"))
    val cos = q.join(orig, Seq("vec_id", "pos"))
      .groupBy(col("vec_id"))
      .agg((sum(col("dq") * col("x")) /
        (sqrt(sum(col("dq") * col("dq"))) * sqrt(sum(col("x") * col("x"))))).as("cos"))
    val worst = cos.agg(min(col("cos"))).head().getDouble(0)
    // int8 with a per-vector scale: worst-case per-cell error 0.5/scale;
    // on 64-dim unit-ish vectors the cosine floor is comfortably 3 nines
    assert(worst >= 0.999, s"worst dequantized cosine = $worst")
    // and the quantized domain really is int8
    val range = operators.Similarity.embeddingQuantize(spark, sf)
      .agg(min(col("q")), max(col("q"))).head()
    assert(range.getInt(0) >= -128 && range.getInt(1) <= 127, s"q out of int8 range: $range")
    spark.catalog.clearCache()
  }

  test("C6b ann_truncated: prefix shortlist recovers full-dim top-5; ranks really come from the prefix") {
    val s = spark
    import s.implicits._
    val full = operators.Similarity.annBruteforce(spark, sf, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    // candidate-stage posture: a 5x truncated shortlist must recover
    // a usable fraction of the exact top-5 (measured 0.61-0.66 at
    // dims=32/64 on these isotropic synthetic embeddings; floor 0.4
    // with regeneration slack — real MRL checkpoints sit far higher)
    val short25 = operators.Similarity.annTruncated(spark, sf, k = 25)
      .select(col("query_id"), col("neighbor_id"))
    val nFull = full.count().toDouble
    val recall = full.join(short25, Seq("query_id", "neighbor_id")).count() / nFull
    assert(recall >= 0.4, s"truncated shortlist recall@5-in-25 = $recall")
    // and the operator really truncates: the prefix ordering must
    // DISAGREE with the full-dim ordering somewhere in the top-5
    val trunc5 = operators.Similarity.annTruncated(spark, sf, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    assert(full.exceptAll(trunc5).count() > 0,
      "dims=32 ranks identical to full-dim ranks — truncation is not happening")

    // C6c: the funnel's recall equals the shortlist's by construction
    // (exact rerank loses nothing the shortlist found), and every
    // reranked neighbor came from the shortlist
    val rr = operators.Similarity.annTruncatedRerank(spark, sf)
      .select(col("query_id"), col("neighbor_id"))
    val rrRecall = full.join(rr, Seq("query_id", "neighbor_id")).count() / nFull
    assert(rrRecall >= 0.4, s"funnel recall@5 = $rrRecall")
    assert(rr.exceptAll(short25).count() == 0,
      "reranked neighbors must all come from the truncated shortlist")
    assert(rrRecall >= recall - 1e-9,
      s"exact rerank must not lose shortlist recall: $rrRecall < $recall")
    spark.catalog.clearCache()
  }

  test("C2 minhash est_jaccard tracks C4 exact jaccard within the binomial band") {
    val est = operators.NearDup.minhashLshDedup(spark, sf)
      .select(col("id1"), col("id2"), col("est_jaccard"))
    val exact = operators.NearDup.ngramJaccardDedup(spark, sf)
      .select(col("id1"), col("id2"), col("jaccard"))
    val both = est.join(exact, Seq("id1", "id2")).cache()
    val n = both.count()
    assert(n > 0, "estimator and exact operator must overlap on this corpus")
    // 16 minhash slots -> est stddev <= sqrt(.25/16) = 0.125; |err| <= 0.25 is 2 sigma
    val maxErr = both.agg(max(abs(col("est_jaccard") - col("jaccard")))).head().getDouble(0)
    assert(maxErr <= 0.25, s"max |est - exact| = $maxErr over $n shared pairs")
    // and every exact-jaccard-1.0 pair is estimated at exactly 1.0
    // (identical shingle sets -> identical signatures, no variance)
    assert(both.filter(col("jaccard") === 1.0 && col("est_jaccard") =!= 1.0).count() == 0)
    both.unpersist()
    spark.catalog.clearCache()
  }

  test("C3 simhash separates planted one-token mutations from unrelated docs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Array.tabulate(400)(i => s"w$i")
    // 80-token docs: each simhash bit's vote margin is ~sqrt(80), so a
    // single-token edit flips only near-tie bits (few), while unrelated
    // docs re-roll every bit — the regime simhash is built for
    def doc(): String = Seq.fill(80)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val origs = (0 until 40).map(i => (i.toLong, doc()))
    // mutant = same doc with ONE token replaced (ids offset by 1000)
    val mutants = origs.map { case (id, text) =>
      val toks = text.split(" ")
      toks(rnd.nextInt(toks.length)) = "mutated_token"
      (id + 1000L, toks.mkString(" "))
    }
    val docs = (origs ++ mutants).toDF("doc_id", "text")
    val sig = docs
      .withColumn("simhash",
        graft.functions.VectorExpressions.simhash64(split(trim($"text"), "\\s+")))
      .select($"doc_id", $"simhash")
    val o = sig.filter($"doc_id" < 1000).select($"doc_id", $"simhash".as("h1"))
    val m = sig.filter($"doc_id" >= 1000)
      .select(($"doc_id" - 1000).as("doc_id"), $"simhash".as("h2"))
    val mutHam = o.join(m, "doc_id")
      .select(bit_count($"h1".bitwiseXOR($"h2")).as("h"))
    val mutMean = mutHam.agg(avg($"h")).head().getDouble(0)
    val mutMax = mutHam.agg(max($"h")).head().getInt(0)
    // unrelated pairs: orig i vs mutant of i+1 (cyclic)
    val unrel = o.withColumn("doc_id", ($"doc_id" + 1) % 40).join(m, "doc_id")
      .select(bit_count($"h1".bitwiseXOR($"h2")).as("h"))
    val unrelMean = unrel.agg(avg($"h")).head().getDouble(0)
    val unrelMin = unrel.agg(min($"h")).head().getInt(0)
    // 1-of-30-token edits sit near hamming 0; unrelated docs near 32
    assert(mutMean <= 8, s"mutation mean hamming $mutMean")
    assert(unrelMean >= 20, s"unrelated mean hamming $unrelMean")
    assert(mutMean + 8 <= unrelMean,
      s"no separation: mutations $mutMean (max $mutMax) vs unrelated $unrelMean (min $unrelMin)")
    // and the operator itself surfaces the mutation pairs it guarantees
    // (some 16-bit band unchanged): measured recall at maxHamming 8
    val found = operators.NearDup.simhashPairs(docs, maxHamming = 8)
      .filter($"id2" === $"id1" + 1000).count()
    assert(found >= 32, s"simhash found only $found/40 planted mutation pairs")
    spark.catalog.clearCache()
  }

  test("C2/C3 recover NOISY planted twins that the exact detector provably cannot") {
    import spark.implicits._
    // twins = each document with k=2 evenly-spaced tokens replaced by a
    // twin-unique marker (NearDup.noisyCorpus — in-plan, deterministic):
    // near-duplicates through real signature noise, not exact copies
    val docs = operators.NearDup.noisyCorpus(spark, sf, k = 2).cache()
    val eligible = docs.filter($"doc_id" < 1000000L)
      .filter(size(split(trim($"text"), "\\s+")) >= 3).count()
    assert(eligible > 0)
    // the exact detector CANNOT pair them: every marker embeds doc_id
    val exactHits = docs
      .select($"doc_id", md5(lower(trim(regexp_replace($"text", "\\s+", " ")))).as("h"))
      .groupBy($"h").agg(min($"doc_id").as("lo"), max($"doc_id").as("hi"))
      .filter($"hi" === $"lo" + 1000000L).count()
    assert(exactHits == 0, s"noisy twins must NOT be exact duplicates ($exactHits were)")
    // C2: minhash LSH bands. A 2-of-n token edit rewrites <= 6 of ~n
    // shingles (j ~ 0.8 at the corpus's ~50-token docs); 4x4 banding
    // collides such pairs w.p. 1-(1-j^4)^4 ~ 0.85 — floor 0.6 leaves
    // ~3 sigma of binomial slack at this corpus size
    val mhPairs = operators.NearDup.minhashLshPairs(docs)
    val mhTwins = mhPairs.filter($"id2" === $"id1" + 1000000L)
    val mhRecall = mhTwins.count().toDouble / eligible
    assert(mhRecall >= 0.6, s"C2 noisy-twin recall = $mhRecall ($eligible eligible)")
    // ...and recovered through real noise: the estimates sit BELOW 1
    val mhEstMax = mhTwins.agg(max($"est_jaccard")).head().getDouble(0)
    val mhEstAvg = mhTwins.agg(avg($"est_jaccard")).head().getDouble(0)
    assert(mhEstAvg < 1.0, s"twin est_jaccard avg $mhEstAvg — noise not visible?")
    // C3: simhash bands. 2 edited tokens of ~50 flip only near-tie
    // bits, but unigram votes on this ~31-word vocabulary are heavily
    // shared, so a marker token can swing several ties at once:
    // measured recall 0.78 at maxHamming 8 — floor 0.7
    val shRecall = operators.NearDup.simhashPairs(docs)
      .filter($"id2" === $"id1" + 1000000L).count().toDouble / eligible
    assert(shRecall >= 0.7, s"C3 noisy-twin recall = $shRecall ($eligible eligible)")
    info(f"noisy-twin recall: C2 minhash $mhRecall%.3f (est avg $mhEstAvg%.3f, max $mhEstMax%.3f), C3 simhash $shRecall%.3f over $eligible docs")
    docs.unpersist()
    spark.catalog.clearCache()
  }

  test("C7 ann_lsh buckets concentrate similar pairs: collision rate rises with cosine") {
    val exact = operators.Similarity.blockedAllPairs(
      operators.Similarity.twinCorpus(spark, sf)
        .filter(col("vec_id") < 1000000L), 8).cache()
    val lshPairs = operators.Similarity.annLsh(spark, sf)
      .select(least(col("query_id"), col("neighbor_id")).as("id1"),
        greatest(col("query_id"), col("neighbor_id")).as("id2"))
      .distinct()
    val joined = exact.join(lshPairs, Seq("id1", "id2"), "left_semi")
    // mean cosine of collided pairs must sit clearly above the global mean
    val allMean = exact.agg(avg("cosine")).head().getDouble(0)
    val lshMean = joined.agg(avg("cosine")).head().getDouble(0)
    assert(lshMean >= allMean + 0.05,
      s"LSH collided-pair mean cosine $lshMean vs global $allMean")
    // collision rate in the top cosine quartile >= 2x the bottom quartile
    val q = exact.stat.approxQuantile("cosine", Array(0.25, 0.75), 0.001)
    val lo = exact.filter(col("cosine") <= q(0))
    val hi = exact.filter(col("cosine") >= q(1))
    val rateLo = lo.join(lshPairs, Seq("id1", "id2"), "left_semi").count().toDouble /
      math.max(lo.count(), 1)
    val rateHi = hi.join(lshPairs, Seq("id1", "id2"), "left_semi").count().toDouble /
      math.max(hi.count(), 1)
    assert(rateHi >= 2 * rateLo,
      s"collision rate not monotone in cosine: hi=$rateHi lo=$rateLo")
    exact.unpersist()
    spark.catalog.clearCache()
  }

  test("C7b persisted IVF index serves identical results to the in-process memo") {
    // build-once-serve-many: write the index tables (centroids +
    // cell-partitioned lists), then run the SAME probe plan from disk —
    // every row must match the memo-served operator exactly (float
    // vectors round-trip parquet bit-exactly)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf").toFile
    idx.deleteOnExit()
    operators.Similarity.ivfWrite(spark, sf, idx.getAbsolutePath)
    val memo = operators.Similarity.annIvf(spark, sf)
    val served = operators.Similarity.annIvfServe(spark, idx.getAbsolutePath)
    assert(memo.count() == served.count() &&
      memo.exceptAll(served).count() == 0,
      "table-served IVF probe must equal the memo-served operator")
    // the on-disk layout is the probe-prunable shape: one directory per cell
    val cells = new java.io.File(idx, "lists").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cells > 1, s"lists must be partitioned by cell (found $cells dirs)")
    // the SERVING path: an external query batch numbers its OWN id
    // namespace (ids shifted out of the corpus range), so no corpus
    // neighbor is self-excluded — each query's rank 1 must be its own
    // corpus twin at cosine ~1, and ranks 2..k must equal the
    // memo-served ranks 1..k-1
    val external = Tables.embeddings(spark, sf).filter(col("vec_id") < 50)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val servedExt = operators.Similarity.annIvfServe(
      spark, idx.getAbsolutePath, queries = Some(external)).cache()
    assert(servedExt.filter(col("rank_nn") === 1 &&
      col("neighbor_id") === col("query_id") - 10000L &&
      col("cosine") > 0.9999).count() == 50,
      "each external query must recover its own corpus vector first")
    val shifted = servedExt.filter(col("rank_nn") > 1)
      .select((col("query_id") - 10000L).as("query_id"),
        (col("rank_nn") - 1).as("rank_nn"), col("neighbor_id").as("ext_n"))
    val mism = shifted.join(memo, Seq("query_id", "rank_nn"))
      .filter(col("ext_n") =!= col("neighbor_id")).count()
    assert(mism == 0, s"external ranks 2..k must equal memo ranks 1..k-1 ($mism differ)")
    servedExt.unpersist()
    // ...and the candidate scan touches ONLY the probed cells: the
    // serve is one IndexProbe job with a task per routed cell
    // directory, routed on the driver; with 3 queries x nprobe 2 (a
    // local batch, as a request's is), at most 6 of the 16 cell dirs
    // are read
    val threeQ0 = Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 3).select(col("vec_id"), col("embedding"))
    val threeQ = spark.createDataFrame(
      java.util.Arrays.asList(threeQ0.collect(): _*), threeQ0.schema)
    val centroids = graft.sources.IndexLayout.Ivf.local(spark, idx.getAbsolutePath, "centroids")
    val routedCells = graft.sources.IndexRoute.nearest(spark,
        threeQ.collect().toSeq.map(r => (r.getSeq[Float](1),
          math.sqrt(r.getSeq[Float](1).map(x => x.toDouble * x).sum))), centroids, 2)
      .flatten.map(centroids(_).getAs[Int]("cid")).distinct
      .count(c => new java.io.File(idx, s"lists/cell=$c").isDirectory)
    // pinned as a job (in-process bound -1); in process the same request
    // answers the same rows with no job
    def inProcessAsJob(serve: => org.apache.spark.sql.DataFrame): Int = {
      var job: org.apache.spark.sql.DataFrame = null
      val tasks = withInProcessBytes(-1)(tasksOf { job = serve })
      var local: org.apache.spark.sql.DataFrame = null
      assert(jobsOf { local = serve } == 0, "the in-process serve ran a job")
      assert(local.collect().toSeq == job.collect().toSeq, "in process vs the job")
      tasks
    }
    val tasks = inProcessAsJob(operators.Similarity.annIvfServe(
      spark, idx.getAbsolutePath, queries = Some(threeQ)))
    assert(tasks == routedCells && tasks <= 6 && tasks < cells,
      s"probed-cells read must cover the $routedCells routed of $cells dirs (<= 6), ran $tasks tasks")
    // two-stage serve parity: the disk-served rerank path must equal
    // the memo-served rerank operator row-for-row
    val memoRr = operators.Similarity.annIvfRerank(spark, sf)
    val servedRr = operators.Similarity.annIvfServe(
      spark, idx.getAbsolutePath, nprobe = 10, shortlist = Some(32))
    assert(memoRr.count() == servedRr.count() &&
      memoRr.exceptAll(servedRr).count() == 0,
      "table-served two-stage probe must equal the memo-served rerank operator")
    // ...and its read bound: the code pass and the float rerank read
    // the same routed cell directories, one task each
    val tasksRr = inProcessAsJob(operators.Similarity.annIvfServe(
      spark, idx.getAbsolutePath, queries = Some(threeQ), shortlist = Some(8)))
    assert(tasksRr == routedCells && tasksRr <= 6,
      s"two-stage probed-cells read must cover the $routedCells routed dirs (<= 6), ran $tasksRr tasks")
    spark.catalog.clearCache()
  }

  test("C7b/C7c IVF recall@5 curve: monotone in nprobe; rerank config >= 0.8") {
    val exact = operators.Similarity.annBruteforce(spark, sf, k = 5, nQueries = 20)
      .select(col("query_id"), col("neighbor_id")).cache()
    val total = exact.count()
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      exact.join(df.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi").count().toDouble / total
    // recall is EXACTLY monotone in nprobe: the probed cell set at
    // nprobe n is a subset of n+1's, candidates only grow, and a true
    // top-5 neighbor cannot be displaced by >4 higher-cosine
    // candidates (those would themselves be truth ranks 1-4)
    val curve = Seq(1, 2, 4, 8, 10).map(np =>
      np -> recallOf(operators.Similarity.annIvf(spark, sf, nprobe = np, nQueries = 20)))
    info("recall@5 vs nprobe: " +
      curve.map { case (np, r) => f"$np%d->$r%.3f" }.mkString(", "))
    curve.sliding(2).foreach { case Seq((n1, r1), (n2, r2)) =>
      assert(r2 >= r1, s"recall not monotone: nprobe=$n1 -> $r1, nprobe=$n2 -> $r2")
    }
    // probing must actually buy recall (a broken router would flatline)
    assert(curve.last._2 >= curve.head._2 + 0.2,
      s"curve flat: ${curve.head} .. ${curve.last}")
    // the single-stage registry config (nprobe=2): measured 0.5-0.7
    assert(curve.find(_._1 == 2).get._2 >= 0.4,
      s"single-stage recall@5 = ${curve.find(_._1 == 2).get._2}")
    // the two-stage registry config (nprobe=10, int8 shortlist, exact
    // rerank): measured 0.90-0.95 — check.py grades the same floor
    // cross-engine at sf0.01
    val rr = recallOf(operators.Similarity.annIvfRerank(spark, sf, nQueries = 20))
    assert(rr >= 0.8, s"rerank recall@5 = $rr")
    // the int8 cheap pass must not cost recall vs exact scoring of the
    // same probed cells (shortlist >> k absorbs quantization noise)
    val singleWide = curve.find(_._1 == 10).get._2
    assert(rr >= singleWide - 0.02,
      s"rerank recall $rr fell below single-stage nprobe=10 $singleWide")
    exact.unpersist()
    spark.catalog.clearCache()
  }

  test("C7d ivfAppend: append == one-shot assign-all under the same centroids; no rewrite of existing files") {
    import java.nio.file.{Files, Paths}
    val all = Tables.embeddings(spark, sf)
    val cut = all.agg(max(col("vec_id"))).head().getLong(0) * 7 / 10
    val idxA = Files.createTempDirectory("graft_ivf_a").toFile
    val idxB = Files.createTempDirectory("graft_ivf_b").toFile
    idxA.deleteOnExit(); idxB.deleteOnExit()
    // A: build on the 70% prefix, then append the 30% suffix batch
    operators.Similarity.ivfWriteFrom(all.filter(col("vec_id") <= cut), idxA.getAbsolutePath)
    val preFiles = Files.walk(Paths.get(idxA.getAbsolutePath, "lists")).iterator()
      .asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    val before = {
      val b = scala.collection.mutable.Map[String, Long]()
      preFiles.forEachRemaining(p =>
        if (p.toString.endsWith(".parquet")) b(p.toString) = Files.size(p))
      b.toMap
    }
    operators.Similarity.ivfAppend(spark, idxA.getAbsolutePath,
      all.filter(col("vec_id") > cut))
    // O(batch) maintenance: every pre-append list file survives
    // untouched (append adds files to touched cells, rewrites nothing)
    before.foreach { case (p, sz) =>
      val path = Paths.get(p)
      assert(Files.exists(path) && Files.size(path) == sz,
        s"append rewrote or removed existing list file $p")
    }
    // B: the SAME centroids (bit-exact parquet copy), all vectors
    // assigned in one shot — append must be indistinguishable from it
    spark.read.parquet(s"${idxA.getAbsolutePath}/centroids")
      .coalesce(1).write.parquet(s"${idxB.getAbsolutePath}/centroids")
    operators.Similarity.ivfAppend(spark, idxB.getAbsolutePath, all)
    val servedA = operators.Similarity.annIvfServe(spark, idxA.getAbsolutePath,
      nprobe = 10, shortlist = Some(32))
    val servedB = operators.Similarity.annIvfServe(spark, idxB.getAbsolutePath,
      nprobe = 10, shortlist = Some(32))
    assert(servedA.count() == servedB.count() &&
      servedA.exceptAll(servedB).count() == 0,
      "serve-after-append must equal one-shot assign-all under the same centroids")
    // ...and the appended vectors are actually served: some neighbor
    // beyond the cut must appear (the suffix is 30% of the corpus —
    // its vectors are their own twins' nearest neighbors)
    assert(servedA.filter(col("neighbor_id") > cut).count() > 0,
      "no appended vector ever surfaced as a neighbor")
    spark.catalog.clearCache()
  }

  test("C7e ivfRetrain: migration == assign-all under retrained centroids; unchanged cells untouched; no stale vectors") {
    import java.nio.file.Files
    val all = Tables.embeddings(spark, sf)
    val cut = all.agg(max(col("vec_id"))).head().getLong(0) * 7 / 10
    val idx = Files.createTempDirectory("graft_ivf_rt").toFile
    val idx2 = Files.createTempDirectory("graft_ivf_rt2").toFile
    idx.deleteOnExit(); idx2.deleteOnExit()
    operators.Similarity.ivfWriteFrom(all.filter(col("vec_id") <= cut), idx.getAbsolutePath)
    operators.Similarity.ivfAppend(spark, idx.getAbsolutePath, all.filter(col("vec_id") > cut))
    // snapshot per-cell member sets + files before the retrain
    def members(): Map[Int, Set[Long]] = spark.read.parquet(s"${idx.getAbsolutePath}/lists")
      .select(col("cell").cast("int"), col("neighbor_id"))
      .collect().groupBy(_.getInt(0)).map { case (c, rs) => c -> rs.map(_.getLong(1)).toSet }
    def files(): Map[String, Seq[(String, Long)]] =
      new java.io.File(idx, "lists").listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length())).toSeq.sorted).toMap
    val (mBefore, fBefore) = (members(), files())
    operators.Similarity.ivfRetrain(spark, idx.getAbsolutePath)
    val (mAfter, fAfter) = (members(), files())
    info(s"retrain churn: ${mAfter.keySet.union(mBefore.keySet)
      .count(c => mBefore.getOrElse(c, Set()) != mAfter.getOrElse(c, Set()))} of ${mBefore.size} cells changed")
    // every vector still present exactly once — no stale double-serving
    assert(mAfter.values.map(_.size).sum == all.count(),
      "retrain lost or duplicated vectors")
    assert(mAfter.values.toSeq.flatMap(_.toSeq).distinct.size == all.count(),
      "a vector appears in more than one cell after retrain")
    // cells whose membership did not change keep their exact files
    mBefore.keySet.intersect(mAfter.keySet)
      .filter(c => mBefore(c) == mAfter(c))
      .foreach { c =>
        assert(fAfter(s"cell=$c") == fBefore(s"cell=$c"),
          s"retrain rewrote unchanged cell $c")
      }
    // parity: serve-after-retrain == one-shot assign-all under the
    // SAME retrained centroids
    spark.read.parquet(s"${idx.getAbsolutePath}/centroids")
      .coalesce(1).write.parquet(s"${idx2.getAbsolutePath}/centroids")
    operators.Similarity.ivfAppend(spark, idx2.getAbsolutePath, all)
    val servedA = operators.Similarity.annIvfServe(spark, idx.getAbsolutePath,
      nprobe = 10, shortlist = Some(32))
    val servedB = operators.Similarity.annIvfServe(spark, idx2.getAbsolutePath,
      nprobe = 10, shortlist = Some(32))
    assert(servedA.count() == servedB.count() &&
      servedA.exceptAll(servedB).count() == 0,
      "serve-after-retrain must equal one-shot assign-all under the retrained centroids")
    spark.catalog.clearCache()
  }

  test("C7d ivfCompact: fragmented cells rewrite to one file, untouched cells keep theirs, serve unchanged") {
    import java.nio.file.{Files, Paths}
    val all = Tables.embeddings(spark, sf)
    val cut = all.agg(max(col("vec_id"))).head().getLong(0) * 7 / 10
    val idx = Files.createTempDirectory("graft_ivf_compact").toFile
    idx.deleteOnExit()
    operators.Similarity.ivfWriteFrom(all.filter(col("vec_id") <= cut), idx.getAbsolutePath)
    operators.Similarity.ivfAppend(spark, idx.getAbsolutePath, all.filter(col("vec_id") > cut))
    def filesPerCell(): Map[String, Seq[(String, Long)]] =
      new java.io.File(idx, "lists").listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length())).toSeq.sorted).toMap
    val before = filesPerCell()
    val fragCells = before.filter(_._2.size > 1).keySet
    val quietCells = before.keySet -- fragCells
    assert(fragCells.nonEmpty, "append must have fragmented at least one cell")
    val pre = operators.Similarity.annIvfServe(spark, idx.getAbsolutePath,
      nprobe = 10, shortlist = Some(32)).cache()
    pre.count()
    operators.Similarity.ivfCompact(spark, idx.getAbsolutePath)
    val after = filesPerCell()
    // every fragmented cell is now exactly one file
    fragCells.foreach { c =>
      assert(after(c).size == 1, s"$c still has ${after(c).size} files after compaction")
    }
    // untouched cells keep their exact files (name + size)
    quietCells.foreach { c =>
      assert(after(c) == before(c), s"compaction touched quiet cell $c")
    }
    // and the served answer is unchanged by the physical rewrite
    val post = operators.Similarity.annIvfServe(spark, idx.getAbsolutePath,
      nprobe = 10, shortlist = Some(32))
    assert(pre.count() == post.count() && pre.exceptAll(post).count() == 0,
      "compaction must not change the served result")
    pre.unpersist()
    // idempotence: a second compact is a no-op (nothing fragmented)
    val snap = filesPerCell()
    operators.Similarity.ivfCompact(spark, idx.getAbsolutePath)
    assert(filesPerCell() == snap, "second compact must be a no-op")
    spark.catalog.clearCache()
  }

  test("C7f ivfDelete: exact erasure, untouched cells byte-identical, compact purges") {
    import java.nio.file.Files
    val all = Tables.embeddings(spark, sf)
    val idx = Files.createTempDirectory("graft_ivf_del").toFile
    val idx2 = Files.createTempDirectory("graft_ivf_del2").toFile
    operators.Similarity.ivfWriteFrom(all, idx.getAbsolutePath)
    def filesPerCell(d: java.io.File): Map[String, Seq[(String, Long)]] =
      new java.io.File(d, "lists").listFiles()
        .filter(x => x.isDirectory && x.getName.startsWith("cell="))
        .map(x => x.getName -> x.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length())).toSeq.sorted).toMap
    val before = filesPerCell(idx)
    val victims = all.filter(col("vec_id") % 3 === 0 && col("vec_id") >= 50)
      .select(col("vec_id"))
    operators.Similarity.ivfDelete(spark, idx.getAbsolutePath, victims)
    // tombstones, not rewrites
    assert(filesPerCell(idx) == before, "delete must not rewrite any list file")
    // deleted ids never served — as neighbors (the panel is intact by
    // construction: victims are >= 50)
    val served = operators.Similarity.annIvfServe(spark, idx.getAbsolutePath,
      nprobe = 10, shortlist = Some(32)).cache()
    assert(served.filter(col("neighbor_id") % 3 === 0 &&
      col("neighbor_id") >= 50).count() == 0,
      "a tombstoned vector must never be served")
    // serve parity with a from-scratch build under the SAME centroids
    // on the surviving corpus
    spark.read.parquet(s"${idx.getAbsolutePath}/centroids")
      .coalesce(1).write.parquet(s"${idx2.getAbsolutePath}/centroids")
    operators.Similarity.ivfAppend(spark, idx2.getAbsolutePath,
      all.filter(!(col("vec_id") % 3 === 0 && col("vec_id") >= 50)))
    val ref = operators.Similarity.annIvfServe(spark, idx2.getAbsolutePath,
      nprobe = 10, shortlist = Some(32))
    assert(served.count() == ref.count() && served.exceptAll(ref).count() == 0,
      "tombstoned serve must equal the from-scratch build on survivors")
    // compact physically purges the tombstoned rows; serve unchanged
    operators.Similarity.ivfCompact(spark, idx.getAbsolutePath, maxFilesPerCell = 1000)
    assert(spark.read.parquet(s"${idx.getAbsolutePath}/lists")
      .filter(col("neighbor_id") % 3 === 0 && col("neighbor_id") >= 50).count() == 0,
      "compact must physically remove tombstoned rows")
    val postCompact = operators.Similarity.annIvfServe(spark, idx.getAbsolutePath,
      nprobe = 10, shortlist = Some(32))
    assert(postCompact.count() == ref.count() && postCompact.exceptAll(ref).count() == 0,
      "compaction must not change the served answer")
    served.unpersist()
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    org.apache.commons.io.FileUtils.deleteDirectory(idx2)
    spark.catalog.clearCache()
  }

  test("C7k x C7f: adaptive serve over a tombstoned index — zero deleted served, recall floor through adaptiveProbeLoop") {
    import java.nio.file.Files
    val s = spark
    import s.implicits._
    val Sim = operators.Similarity
    val all = Tables.embeddings(spark, sf)
    val idx = Files.createTempDirectory("graft_ivf_adel").toFile
    // the C7f lifecycle (build → append → delete → compact), then the
    // ADAPTIVE loop serves: every per-width serve must go through the
    // committed+live view, so the tombstone contract holds for the
    // adaptive read path exactly as for the fixed-width one
    val cut = Tables.prefixCut(all, "vec_id").get
    Sim.prefixIvfWrite(spark, sf, idx.getAbsolutePath, 16, cut)
    Sim.ivfAppend(spark, idx.getAbsolutePath, all.filter($"vec_id" > cut))
    Sim.ivfDelete(spark, idx.getAbsolutePath,
      all.filter($"vec_id" % 3 === 0 && $"vec_id" >= 50).select($"vec_id"))
    Sim.ivfCompact(spark, idx.getAbsolutePath)
    val out = Sim.annIvfAdaptiveServe(spark, idx.getAbsolutePath).cache()
    assert(out.count() > 0)
    // zero-deleted-served through every adaptive width
    assert(out.filter($"neighbor_id" % 3 === 0 && $"neighbor_id" >= 50).count() == 0,
      "the adaptive loop must never serve a tombstoned vector")
    // one width per query, bounded by nlist
    val w = out.groupBy($"query_id")
      .agg(countDistinct($"probes_used").as("nw"),
        org.apache.spark.sql.functions.max($"probes_used").as("mw"))
    assert(w.filter($"nw" > 1).count() == 0, "one width per query")
    assert(w.filter($"mw" > 16).count() == 0, "widths bounded by nlist")
    // recall floor vs exact cosine brute force over the SURVIVORS
    val cosd = "aggregate(zip_with(eq, ec, (x, y) -> cast(x as double) * cast(y as double)), 0d, (a, v) -> a + v)" +
      " / (sqrt(aggregate(eq, 0d, (a, v) -> a + cast(v as double) * cast(v as double)))" +
      " * sqrt(aggregate(ec, 0d, (a, v) -> a + cast(v as double) * cast(v as double))))"
    val surv = all.filter(!($"vec_id" % 3 === 0 && $"vec_id" >= 50)).localCheckpoint()
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    val exact = surv.filter($"vec_id" < 50)
      .select($"vec_id".as("query_id"), $"embedding".as("eq"))
      .crossJoin(surv.select($"vec_id".as("neighbor_id"), $"embedding".as("ec")))
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("cos", expr(cosd))
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(rw))
      .filter($"rk" <= 5)
      .select($"query_id", $"neighbor_id").localCheckpoint()
    val total = exact.count().toDouble
    val hit = exact.join(out.select($"query_id", $"neighbor_id"),
      Seq("query_id", "neighbor_id"), "left_semi").count()
    val rec = hit / total
    assert(rec >= 0.8, s"adaptive-over-tombstones recall@5 = $rec (floor 0.8)")
    info(f"adaptive-over-tombstones recall@5 = $rec%.3f")
    out.unpersist()
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    spark.catalog.clearCache()
  }

  test("C7 snapshot isolation: a pinned probe ignores appends and deletes committed after it") {
    import java.nio.file.Files
    val all = Tables.embeddings(spark, sf)
    val cut = all.agg(max(col("vec_id"))).head().getLong(0) * 7 / 10
    val idx = Files.createTempDirectory("graft_ivf_snap").toFile
    operators.Similarity.ivfWriteFrom(all.filter(col("vec_id") <= cut), idx.getAbsolutePath)
    val snap = operators.Similarity.ivfSnapshot(spark, idx.getAbsolutePath)
    val pre = operators.Similarity.annIvfServe(spark, idx.getAbsolutePath,
      nprobe = 10, shortlist = Some(32)).cache()
    pre.count()
    operators.Similarity.ivfAppend(spark, idx.getAbsolutePath,
      all.filter(col("vec_id") > cut))
    operators.Similarity.ivfDelete(spark, idx.getAbsolutePath,
      all.filter(col("vec_id") % 5 === 0 && col("vec_id") >= 50).select(col("vec_id")))
    val pinned = operators.Similarity.annIvfServe(spark, idx.getAbsolutePath,
      nprobe = 10, shortlist = Some(32), snapshot = Some(snap))
    assert(pinned.count() == pre.count() && pinned.exceptAll(pre).count() == 0,
      "snapshot probe must equal the state at pin time")
    // an unpinned probe sees the maintained index: appended vectors
    // surface, deleted ones never do
    val now = operators.Similarity.annIvfServe(spark, idx.getAbsolutePath,
      nprobe = 10, shortlist = Some(32))
    assert(now.filter(col("neighbor_id") > cut).count() > 0,
      "unpinned probe must see appended vectors")
    assert(now.filter(col("neighbor_id") % 5 === 0 &&
      col("neighbor_id") >= 50).count() == 0,
      "unpinned probe must not serve deleted vectors")
    pre.unpersist()
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    spark.catalog.clearCache()
  }

  test("C7d append crash between lists and commit: invisible, re-drivable, compact reclaims") {
    import java.nio.file.Files
    val all = Tables.embeddings(spark, sf)
    val cut = all.agg(max(col("vec_id"))).head().getLong(0) * 7 / 10
    val idx = Files.createTempDirectory("graft_ivf_crash").toFile
    operators.Similarity.ivfWriteFrom(all.filter(col("vec_id") <= cut), idx.getAbsolutePath)
    val pre = operators.Similarity.annIvfServe(spark, idx.getAbsolutePath,
      nprobe = 10, shortlist = Some(32)).cache()
    pre.count()
    // simulated crash: list rows land, the commit row does NOT
    operators.Similarity.ivfAppendRaw(spark, idx.getAbsolutePath,
      all.filter(col("vec_id") > cut), commit = false)
    val torn = operators.Similarity.annIvfServe(spark, idx.getAbsolutePath,
      nprobe = 10, shortlist = Some(32))
    assert(torn.count() == pre.count() && torn.exceptAll(pre).count() == 0,
      "serve after a torn append must return exactly the pre-append state")
    // re-drive — the batch lands once: serve equals one-shot assign-all
    operators.Similarity.ivfAppend(spark, idx.getAbsolutePath,
      all.filter(col("vec_id") > cut))
    val idx2 = Files.createTempDirectory("graft_ivf_crash2").toFile
    spark.read.parquet(s"${idx.getAbsolutePath}/centroids")
      .coalesce(1).write.parquet(s"${idx2.getAbsolutePath}/centroids")
    operators.Similarity.ivfAppend(spark, idx2.getAbsolutePath, all)
    val served = operators.Similarity.annIvfServe(spark, idx.getAbsolutePath,
      nprobe = 10, shortlist = Some(32))
    val ref = operators.Similarity.annIvfServe(spark, idx2.getAbsolutePath,
      nprobe = 10, shortlist = Some(32))
    assert(served.count() == ref.count() && served.exceptAll(ref).count() == 0,
      "re-driven append must serve the union corpus exactly (no double-landing)")
    // compact reclaims the orphaned attempt's rows physically
    val rowsBefore = spark.read.parquet(s"${idx.getAbsolutePath}/lists").count()
    operators.Similarity.ivfCompact(spark, idx.getAbsolutePath, maxFilesPerCell = 1000)
    val rowsAfter = spark.read.parquet(s"${idx.getAbsolutePath}/lists").count()
    assert(rowsAfter < rowsBefore, "compact must drop the orphaned list rows")
    assert(rowsAfter == all.count(), "exactly one live row per vector after reclaim")
    pre.unpersist()
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    org.apache.commons.io.FileUtils.deleteDirectory(idx2)
    spark.catalog.clearCache()
  }

  test("C7e drift trigger: a drifting append raises the measure, retrain fires past eps and lowers it") {
    import java.nio.file.Files
    val s = spark
    import s.implicits._
    val all = Tables.embeddings(spark, sf)
    val idx = Files.createTempDirectory("graft_ivf_drift").toFile
    val path = idx.getAbsolutePath
    operators.Similarity.ivfWriteFrom(all, path)
    val d0 = operators.Similarity.ivfDriftMeasure(s, path)
    assert(d0 >= 0.0 && d0 < 0.5, s"a fresh index must sit near its means: $d0")
    // the corpus drifts: a shifted batch appends under FROZEN
    // centroids — every touched cell's true mean moves away from the
    // centroid that routes its probes
    val shifted = all
      .select(($"vec_id" + 1000000L).as("vec_id"),
        expr("transform(embedding, x -> x + float(2.0))").as("embedding"),
        $"label")
    operators.Similarity.ivfAppend(s, path, shifted)
    val d1 = operators.Similarity.ivfDriftMeasure(s, path)
    assert(d1 > d0, s"a drifting append must raise the measure: $d0 -> $d1")
    // below eps the (never free) retrain is skipped …
    assert(!operators.Similarity.ivfRetrainIfDrifted(s, path, eps = d1 * 1.01),
      "drift at or below eps must not retrain")
    assert(operators.Similarity.ivfDriftMeasure(s, path) == d1)
    // … past eps it fires, and the migrated index sits closer to its
    // (new) centroids than the drifted one did
    assert(operators.Similarity.ivfRetrainIfDrifted(s, path, eps = (d0 + d1) / 2))
    val d2 = operators.Similarity.ivfDriftMeasure(s, path)
    assert(d2 < d1, s"retrain must lower the drift measure: $d1 -> $d2")
    // and the retrained index still serves (the C7e migration-parity
    // contract is pinned in its own spec; here: the trigger composes)
    val served = operators.Similarity.annIvfServe(s, path, nprobe = 16, k = 1)
    assert(served.count() > 0, "the retrained index must still serve")
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    spark.catalog.clearCache()
  }

  test("C7g PQ: dense sub-codebooks, complete m-code rows, ADC recall@5 >= 0.8") {
    val s = spark
    import s.implicits._
    val (m, dsub, kpq) = (16, 4, 32)
    val (books, coded) = operators.Similarity.pqIndex(s, sf, 16, m, dsub, kpq)
    // codebook invariants: every subspace's codes are DENSE 0..cnt-1
    // (a drained Lloyd seed must never leave a hole — the ADC gather
    // indexes lut[sub] positionally), cnt <= kpq, codewords are dsub-dim
    val bk = books.groupBy($"sub")
      .agg(count(lit(1)).as("cnt"), min($"code").as("lo"), max($"code").as("hi"),
        min(size($"cvec")).as("dmin"), max(size($"cvec")).as("dmax"))
      .collect()
    assert(bk.length == m, s"expected $m sub-codebooks, got ${bk.length}")
    bk.foreach { r =>
      val (cnt, lo, hi) = (r.getAs[Long]("cnt"), r.getAs[Int]("lo"), r.getAs[Int]("hi"))
      assert(lo == 0 && hi == cnt - 1 && cnt <= kpq,
        s"sub ${r.getAs[Int]("sub")}: codes not dense 0..${cnt - 1} (lo=$lo hi=$hi)")
      assert(r.getAs[Int]("dmin") == dsub && r.getAs[Int]("dmax") == dsub,
        s"sub ${r.getAs[Int]("sub")}: codeword dim != $dsub")
    }
    // coded rows: one per corpus vector, exactly m in-range codes
    val n = Tables.embeddings(spark, sf).count()
    assert(coded.count() == n, "every vector must carry a PQ code row")
    val badLen = coded.filter(size($"codes") =!= m).count()
    assert(badLen == 0, s"$badLen vectors lack exactly $m codes")
    // range-check each code against ITS OWN subspace's codebook size
    // (codes[pos] indexes sub=pos's lut row — a global max would let a
    // code that overruns a smaller sub-codebook slip through and null
    // out its ADC term at serve time)
    val perSub = books.groupBy($"sub").agg(count(lit(1)).as("cnt"))
    val badCode = coded
      .select(posexplode($"codes").as(Seq("sub", "code")))
      .join(perSub, Seq("sub"), "left_outer")
      .filter($"code" < 0 || $"cnt".isNull || $"code" >= $"cnt").count()
    assert(badCode == 0, s"$badCode (vector, sub) codes out of their sub-codebook's range")
    // end-to-end ADC quality: IVFADC shortlist + exact rerank must hold
    // the family's two-stage floor (measured 0.948 at these defaults)
    val exact = operators.Similarity.annBruteforce(spark, sf, k = 5, nQueries = 20)
      .select(col("query_id"), col("neighbor_id")).cache()
    val total = exact.count()
    val pq = operators.Similarity.annIvfPq(spark, sf, nQueries = 20)
    val hit = exact.join(pq.select(col("query_id"), col("neighbor_id")),
      Seq("query_id", "neighbor_id"), "left_semi").count()
    val recall = hit.toDouble / total
    assert(recall >= 0.8, s"C7g IVFADC recall@5 = $recall")
    info(f"C7g IVFADC recall@5 = $recall%.3f over $total exact pairs")
    exact.unpersist()
    spark.catalog.clearCache()
  }

  test("C7i OPQ: rotation orthogonal, sample MSE <= plain PQ's, end-to-end recall@5 >= 0.8") {
    val s = spark
    import s.implicits._
    val Sim = operators.Similarity
    val (m, dsub, kpq) = (16, 4, 32)
    val dim = m * dsub
    val sample = Tables.embeddings(s, sf).orderBy(col("vec_id")).limit(1000)
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
    val (r, books, mseOpq) = Sim.opqTrain(sample, m, dsub, kpq, iters = 4)
    // R must be orthogonal (RRᵀ = I): the ADC identity q·r = (qR)·(rR)
    // and the exactness of rotated-space serving both hang on it
    var maxDev = 0.0
    for (i <- 0 until dim; j <- 0 until dim) {
      var sum = 0.0
      for (k2 <- 0 until dim) sum += r(i * dim + k2).toDouble * r(j * dim + k2).toDouble
      maxDev = math.max(maxDev, math.abs(sum - (if (i == j) 1.0 else 0.0)))
    }
    assert(maxDev < 1e-4, s"RRt deviates from identity by $maxDev")
    // codebook geometry: m dense sub-books, dsub-dim codewords
    assert(books.length == m && books.forall(b => b.length <= kpq &&
      b.forall(_.length == dsub)))
    // the learned rotation must not lose to the identity baseline
    // (iters = 0 trains the same books with R = I — plain PQ)
    val (_, _, msePq) = Sim.opqTrain(sample, m, dsub, kpq, iters = 0)
    assert(mseOpq <= msePq * 1.001,
      s"OPQ sample MSE $mseOpq must not exceed plain PQ's $msePq")
    info(f"sample MSE: OPQ $mseOpq%.5f vs PQ $msePq%.5f (${100 * (1 - mseOpq / msePq)}%.1f%% lower)")
    // end-to-end: rotated-space ADC + exact rerank holds the two-stage floor
    val exact = Sim.annBruteforce(s, sf, k = 5, nQueries = 20)
      .select(col("query_id"), col("neighbor_id")).cache()
    val total = exact.count()
    val served = Sim.annIvfOpq(s, sf, nQueries = 20)
    val hit = exact.join(served.select(col("query_id"), col("neighbor_id")),
      Seq("query_id", "neighbor_id"), "left_semi").count()
    val recall = hit.toDouble / total
    assert(recall >= 0.8, s"C7i OPQ recall@5 = $recall")
    info(f"C7i OPQ recall@5 = $recall%.3f over $total exact pairs")
    exact.unpersist()
    spark.catalog.clearCache()
  }

  test("C7g sidecar lifecycle: retrain stales the books, reattach restores freshness + recall, torn attach reads as empty") {
    val s = spark
    import s.implicits._
    val Sim = operators.Similarity
    val idx = java.nio.file.Files.createTempDirectory("graft_pq_life").toFile
    val path = idx.getAbsolutePath
    Sim.ivfWrite(s, sf, path)
    Sim.pqAttach(s, path)
    val live = Sim.liveLists(s, path).count()
    assert(!Sim.pqBooksStale(s, path) && Sim.pqCoverageGap(s, path) == 0,
      "a fresh attach must be fully covered with fresh books")
    // a RETRAIN moves the centroids: every residual code is orphaned by
    // stamp (coverage gap = whole live set) AND the frozen books are
    // flagged stale — the quality-drift signal pqRefresh alone can't clear
    Sim.ivfRetrain(s, path)
    assert(Sim.pqBooksStale(s, path),
      "post-retrain the sidecar books must read as stale")
    assert(Sim.pqCoverageGap(s, path) == live,
      "post-retrain every live vector must count as uncoded")
    // REATTACH re-fits books + codes against the new centroids: fresh,
    // covered, and the served recall holds the family floor
    Sim.pqReattach(s, path)
    assert(!Sim.pqBooksStale(s, path) && Sim.pqCoverageGap(s, path) == 0,
      "reattach must restore coverage and book freshness")
    val exact = Sim.annBruteforce(s, sf, k = 5, nQueries = 20)
      .select(col("query_id"), col("neighbor_id")).cache()
    val total = exact.count()
    def recallNow(): Double = {
      val served = Sim.annIvfPqServe(s, path, nQueries = 20)
      exact.join(served.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi").count().toDouble / total
    }
    val r1 = recallNow()
    assert(r1 >= 0.8, s"post-reattach ADC recall@5 = $r1")
    info(f"post-retrain reattach recall@5 = $r1%.3f")
    // TORN ATTACH (crash before the commit write): a missing pq/commits
    // dir is "no committed batches" — readers see an empty sidecar, not
    // an exception, and the coverage gap arms the re-drive
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/pq/commits"), true)
    assert(Sim.pqCoverageGap(s, path) == live,
      "a torn attach must read as everything-uncoded, not throw")
    assert(Sim.annIvfPqServe(s, path, nQueries = 20).count() == 0,
      "an empty sidecar must serve no ADC rows, not throw")
    // … and the re-driven refresh heals it under the surviving books
    Sim.pqRefresh(s, path)
    assert(Sim.pqCoverageGap(s, path) == 0, "re-driven refresh must re-cover")
    val r2 = recallNow()
    assert(r2 >= 0.8, s"post-heal ADC recall@5 = $r2")
    exact.unpersist()
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    spark.catalog.clearCache()
  }

  test("C7g vintage books: reattach over a pre-OPQ sidecar defaults to plain PQ instead of throwing") {
    val s = spark
    import s.implicits._
    val Sim = operators.Similarity
    val idx = java.nio.file.Files.createTempDirectory("graft_pq_vintage").toFile
    val path = idx.getAbsolutePath
    Sim.ivfWrite(s, sf, path)
    Sim.pqAttach(s, path)
    // simulate books persisted before the OPQ columns existed: the
    // sweep's automated pqReattach runs over whatever sidecar vintage
    // a maintenance tick finds, so a missing opq_iters must mean
    // "trained plain-PQ" — never an AnalysisException with exit 1
    val vintage = s.read.parquet(s"$path/pq/books")
      .drop("opq_iters", "rot").localCheckpoint()
    vintage.write.mode("overwrite").parquet(s"$path/pq/books")
    Sim.pqReattach(s, path)
    assert(s.read.parquet(s"$path/pq/books")
      .select($"opq_iters").head().getInt(0) == 0,
      "a vintage reattach must re-persist the plain-PQ posture")
    assert(Sim.pqCoverageGap(s, path) == 0,
      "the vintage reattach must fully re-cover the live set")
    val exact = Sim.annBruteforce(s, sf, k = 5, nQueries = 20)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint()
    val served = Sim.annIvfPqServe(s, path, nQueries = 20)
    val recall = exact.join(served.select(col("query_id"), col("neighbor_id")),
      Seq("query_id", "neighbor_id"), "left_semi").count().toDouble / exact.count()
    assert(recall >= 0.8, s"post-vintage-reattach ADC recall@5 = $recall")
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    spark.catalog.clearCache()
  }

  test("C7k adaptive probing: settled queries match their fixed-width probe, budget bounded, recall >= fixed-min baseline") {
    val s = spark
    import s.implicits._
    val Sim = operators.Similarity
    val out = Sim.annIvfAdaptive(s, sf).localCheckpoint()
    // per-query probes_used is one value and within (minProbe, nlist]
    val widths = out.groupBy($"query_id")
      .agg(countDistinct($"probes_used").as("nw"), max($"probes_used").as("w"))
    assert(widths.filter($"nw" =!= 1).count() == 0)
    assert(widths.filter($"w" < 2 || $"w" > 16).count() == 0)
    val avgProbes = widths.agg(avg($"w")).head().getDouble(0)
    assert(avgProbes <= 16.0, s"avg probes $avgProbes must not exceed nlist")
    info(f"adaptive avg probes/query = $avgProbes%.2f of nlist=16")
    // settled-query parity: a query that settled at width w returns
    // EXACTLY the fixed-nprobe=w probe's answer
    val perQ: Map[Long, Array[org.apache.spark.sql.Row]] =
      out.select($"query_id", $"neighbor_id", $"probes_used").collect()
        .groupBy(r => r.getLong(0))
    val settleWidths: Set[Int] =
      perQ.values.map(rs => rs.head.getInt(2)).toSet
    for (w <- settleWidths) {
      val fixed = Sim.annIvf(s, sf, nprobe = w)
        .select($"query_id", $"neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      perQ.filter(_._2.head.getInt(2) == w).foreach { case (q, rows) =>
        assert(rows.map(_.getLong(1)).toSet == fixed(q),
          s"query $q settled at $w must equal the fixed-$w probe")
      }
    }
    // the adaptive panel's recall dominates the fixed-minProbe baseline
    val exact = Sim.annBruteforce(s, sf, k = 5, nQueries = 50)
      .select($"query_id", $"neighbor_id").localCheckpoint()
    val total = exact.count().toDouble
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      exact.join(df.select($"query_id", $"neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi").count() / total
    val rAdaptive = recallOf(out)
    val rFixedMin = recallOf(Sim.annIvf(s, sf, nprobe = 2))
    assert(rAdaptive >= rFixedMin,
      s"adaptive recall $rAdaptive must dominate fixed-minProbe $rFixedMin")
    assert(rAdaptive >= 0.8, s"adaptive recall@5 = $rAdaptive")
    info(f"adaptive recall@5 = $rAdaptive%.3f vs fixed-2 $rFixedMin%.3f")
    spark.catalog.clearCache()
  }

  test("C7l adaptive ADC: settled queries match the fixed-width serve, avg probes < fixed nprobe, recall holds") {
    val s = spark
    import s.implicits._
    val Sim = operators.Similarity
    val idx = java.nio.file.Files.createTempDirectory("graft_pq_adapt").toFile
    val path = idx.getAbsolutePath
    // CLUSTERED corpus — the production embedding shape the adaptive
    // rule is for: each query's whole neighborhood sits in one cell,
    // so most queries settle at the first doubling. (The uniform gate
    // corpus is the documented worst case — settling skews late and
    // avg probes ≈ fixed, which check.py's recall floor still covers.)
    val dims = 64
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(40)(Array.fill(dims)(rnd.nextGaussian().toFloat))
    val all: Seq[(Long, Array[Float])] = (0 until 2000).map { i =>
      val c = centers(i % 40)
      (i.toLong, c.zipWithIndex.map { case (x, j) =>
        x + ((i * 31 + j) % 7 - 3) * 0.01f })
    }
    val corpus = all.toDF("vec_id", "embedding").withColumn("label", lit(0))
    Sim.ivfWriteFrom(corpus, path)
    Sim.pqAttach(s, path)
    val out = Sim.annIvfPqAdaptive(s, path).localCheckpoint()
    // one settle width per query, within (minProbe, nlist]
    val widths = out.groupBy($"query_id")
      .agg(countDistinct($"probes_used").as("nw"), max($"probes_used").as("w"))
    assert(widths.filter($"nw" =!= 1).count() == 0)
    assert(widths.filter($"w" < 2 || $"w" > 16).count() == 0)
    val avgProbes = widths.agg(avg($"w")).head().getDouble(0)
    // the point of adapting: beat the fixed nprobe=10 the ADC serves spend
    assert(avgProbes < 10.0,
      s"avg probes $avgProbes must undercut the fixed nprobe=10")
    info(f"adaptive ADC avg probes/query = $avgProbes%.2f vs fixed 10 of nlist=16")
    // settled-query parity: a query settled at width w returns EXACTLY
    // the fixed-nprobe=w ADC serve's answer
    val perQ: Map[Long, Array[org.apache.spark.sql.Row]] =
      out.select($"query_id", $"neighbor_id", $"probes_used").collect()
        .groupBy(r => r.getLong(0))
    val settleWidths: Set[Int] = perQ.values.map(rs => rs.head.getInt(2)).toSet
    for (w <- settleWidths) {
      val fixed = Sim.annIvfPqServe(s, path, nprobe = w)
        .select($"query_id", $"neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      perQ.filter(_._2.head.getInt(2) == w).foreach { case (q, rows) =>
        assert(rows.map(_.getLong(1)).toSet == fixed(q),
          s"query $q settled at $w must equal the fixed-$w ADC serve")
      }
    }
    // recall vs exact brute force over the constructed corpus: the
    // adaptive panel dominates the fixed-minProbe ADC baseline and
    // holds the two-stage floor
    val vecs = all.toMap
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      val (ad, bd) = (a.map(_.toDouble), b.map(_.toDouble))
      val d = ad.zip(bd).map { case (x, y) => x * y }.sum
      d / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val exactTop: Map[Long, Set[Long]] = (0L until 50L).map { q =>
      q -> all.filter(_._1 != q)
        .map { case (id, v) => (id, cosine(vecs(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
    }.toMap
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select($"query_id", $"neighbor_id").as[(Long, Long)]
        .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      exactTop.map { case (q, t) =>
        (t & got.getOrElse(q, Set.empty)).size }.sum / (50.0 * 5)
    }
    val rAdaptive = recallOf(out)
    val rFixedMin = recallOf(Sim.annIvfPqServe(s, path, nprobe = 2))
    assert(rAdaptive >= rFixedMin,
      s"adaptive ADC recall $rAdaptive must dominate fixed-minProbe $rFixedMin")
    assert(rAdaptive >= 0.8, s"adaptive ADC recall@5 = $rAdaptive")
    info(f"adaptive ADC recall@5 = $rAdaptive%.3f vs fixed-2 $rFixedMin%.3f")
    // the same loop over an OPQ sidecar: every per-width serve reads
    // the persisted rotation back — the adaptive rule must not care
    // which codebook vintage is attached
    val idx2 = java.nio.file.Files.createTempDirectory("graft_pq_adapt_opq").toFile
    Sim.ivfWriteFrom(corpus, idx2.getAbsolutePath)
    Sim.pqAttach(s, idx2.getAbsolutePath, opqIters = 4)
    val outOpq = Sim.annIvfPqAdaptive(s, idx2.getAbsolutePath).localCheckpoint()
    val avgOpq = outOpq.groupBy($"query_id").agg(max($"probes_used").as("w"))
      .agg(avg($"w")).head().getDouble(0)
    val rOpq = recallOf(outOpq)
    assert(avgOpq < 10.0, s"OPQ adaptive avg probes $avgOpq")
    assert(rOpq >= 0.8, s"OPQ adaptive recall@5 = $rOpq")
    info(f"OPQ adaptive: avg probes $avgOpq%.2f recall@5 $rOpq%.3f")
    org.apache.commons.io.FileUtils.deleteDirectory(idx2)
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    spark.catalog.clearCache()
  }

  test("C31 semdedup: one twin per pair drops, keeper is the group's farthest-from-centroid, evidence exact") {
    val s = spark
    import s.implicits._
    val Sim = operators.Similarity
    val out = Sim.semDedup(s, sf).localCheckpoint()
    val n = Tables.embeddings(s, sf).count()
    // planted-twin recall: each (v, v + 1e6) pair loses EXACTLY one
    // endpoint (both lost would be over-pruning; the only allowed
    // miss is a twin pair split across cells)
    val drops = out.select($"drop_id").as[Long].collect().toSet
    val oneLost = (0L until n)
      .count(v => drops.contains(v) ^ drops.contains(v + 1000000L))
    val bothLost = (0L until n)
      .count(v => drops.contains(v) && drops.contains(v + 1000000L))
    assert(bothLost == 0, "a dup group must keep one member")
    assert(oneLost.toDouble / n >= 0.9,
      s"twin-pair recall ${oneLost.toDouble / n} (cell-split loss only)")
    info(f"semdedup twin recall = ${oneLost.toDouble / n}%.3f over $n pairs")
    // no keeper is ever dropped; every witness edge clears eps
    assert(out.join(out.select($"drop_id".as("keeper_id")),
      Seq("keeper_id"), "left_semi").count() == 0)
    assert(out.filter($"cosine" < 0.8).count() == 0)
    // the keeper RULE: within each group the survivor has the LOWEST
    // centroid cosine (ties to the lowest id) among its members —
    // checked against the same clustered membership the operator used
    val c2c = Sim.semDedupMembers(s, sf).select($"vec_id", $"c2c")
    val bad = out
      .join(c2c.select($"vec_id".as("drop_id"), $"c2c".as("dropC")), Seq("drop_id"))
      .join(c2c.select($"vec_id".as("keeper_id"), $"c2c".as("keepC")), Seq("keeper_id"))
      .filter($"keepC" > $"dropC" ||
        ($"keepC" === $"dropC" && $"keeper_id" > $"drop_id"))
      .count()
    assert(bad == 0, s"$bad drops beat their keeper on the farthest-from-centroid rule")
    spark.catalog.clearCache()
  }

  test("C31c semdedup_keep_best: keeper is the quality argmax, ties break to the lowest id, keeper never drops") {
    val s = spark
    import s.implicits._
    val Sim = operators.Similarity
    val dims = 8
    def vec(d: Int, wobble: Long): Array[Float] = Array.tabulate(dims)(j =>
      ((if (j == d) 1.0 else 0.0) + ((wobble * 31 + j) % 7 - 3) * 1e-5).toFloat)
    // seeds 0..3 (vec_id < nlist=4) sit on FOUR distinct directions;
    // cluster A = {0, 10, 11} on direction 0, cluster B = {1, 20} on
    // direction 2, singletons {2, 3}
    val all: Seq[(Long, Array[Float])] =
      Seq((0L, vec(0, 0L)), (1L, vec(2, 1L)), (2L, vec(4, 2L)),
        (3L, vec(6, 3L)), (10L, vec(0, 10L)), (11L, vec(0, 11L)),
        (20L, vec(2, 20L)))
    val corpus = all.toDF("vec_id", "embedding").withColumn("label", lit(0))
    val mem = Sim.semDedupMembersFrom(corpus, 4)
    // planted qualities: A's max quality 9 is TIED between 10 and 11 →
    // keeper 10 (lowest id among the ARGMAX, not the global lowest 0);
    // B ties everywhere → keeper 1
    val quality = Seq((0L, 5L), (10L, 9L), (11L, 9L), (1L, 1L), (20L, 1L),
      (2L, 7L), (3L, 7L)).toDF("vec_id", "quality")
    val out = Sim.semDedupKeepBestFrom(s, mem, quality, 0.8, 2000)
      .localCheckpoint()
    val got = out.select($"drop_id", $"keeper_id").as[(Long, Long)]
      .collect().toMap
    assert(got == Map(0L -> 10L, 11L -> 10L, 20L -> 1L),
      s"quality-argmax keeper/tie-break mismatch: $got")
    // every witness edge is recomputable >= eps (zero false drops) and
    // the singletons never appear
    assert(out.filter($"cosine" < 0.8).count() == 0)
    assert(!got.contains(2L) && !got.contains(3L) &&
      !got.values.toSet.exists(Set(2L, 3L)))
    spark.catalog.clearCache()
  }

  test("C31d semdedup_budget: eps is the pair-cosine quantile, budgets nest, full budget equals the floor run") {
    val s = spark
    import s.implicits._
    val Sim = operators.Similarity
    val full = Sim.semDedupBudget(s, sf, dropFrac = 1.0).localCheckpoint()
    // dropFrac = 1 admits every floor edge: identical drops to C31
    val base = Sim.semDedup(s, sf).localCheckpoint()
    assert(full.drop("eps").count() == base.count() &&
      full.drop("eps").exceptAll(base).count() == 0,
      "the full budget must reproduce the floor-eps semdedup exactly")
    // budgets NEST: a tighter budget's drops are a subset (tight
    // components are subsets of loose ones, and a member outscored on
    // the keeper rule inside its tight component stays outscored when
    // the component only grows)
    val half = Sim.semDedupBudget(s, sf, dropFrac = 0.5).localCheckpoint()
    val quarter = Sim.semDedupBudget(s, sf, dropFrac = 0.25).localCheckpoint()
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select($"drop_id").as[Long].collect().toSet
    assert(ids(quarter).subsetOf(ids(half)) && ids(half).subsetOf(ids(full)),
      "a tighter budget must drop a subset")
    // eps rises as the budget tightens, and IS the k-th largest edge
    // cosine over the operator's own capped pair set
    def eps(df: org.apache.spark.sql.DataFrame): Double =
      df.select($"eps").head().getDouble(0)
    assert(eps(quarter) >= eps(half) && eps(half) >= eps(full))
    val cos = Sim.semDedupEdgesFor(s, sf, 0.8, 16, 2000)
      .select($"cosine").as[Double].collect().sorted(Ordering[Double].reverse)
    assert(eps(half) == cos(math.floor(0.5 * cos.length).toInt - 1),
      "eps must be exactly the floor(dropFrac*C)-th largest edge cosine")
    // a zero budget admits nothing
    assert(Sim.semDedupBudget(s, sf, dropFrac = 0.0).count() == 0)
    spark.catalog.clearCache()
  }

  test("C31 hot-cell cap: oversized cells split geometrically, tight clusters pair anchor-star, candidates bounded") {
    val s = spark
    import s.implicits._
    val Sim = operators.Similarity
    val dims = 8
    val nlist = 4
    val cap = 50
    def unit(d: Int) = Array.tabulate(dims)(j => if (j == d) 1f else 0f)
    // seeds 0..3 = four orthogonal directions (ivf seeds on vec_id < nlist)
    val seeds = (0L until nlist.toLong).map(i => (i, unit(2 * i.toInt)))
    // ONE HOT TIGHT CLUSTER, ~30% of the corpus: 300 near-identical
    // members of direction 0 (cosine ≈ 1 to each other — the
    // boilerplate shape no hyperplane can split)
    val hot = (100L until 400L).map(i => (i, Array.tabulate(dims)(j =>
      ((if (j == 0) 1.0 else 0.0) + ((i * 31 + j) % 7 - 3) * 1e-5).toFloat)))
    // spread mass on the other three directions, noise wide enough to
    // straddle hyperplanes (geometric split applies)
    val spread = (500L until 1200L).map(i => (i, Array.tabulate(dims)(j =>
      ((if (j == 2 * (1 + i % 3)) 1.0 else 0.0)
        + ((i * 37 + j) % 11 - 5) * 0.1).toFloat)))
    // twins planted INSIDE the split cells: identical vectors land in
    // the same sign-bit subcell by construction — the recall property
    // an id-hash split would destroy
    val twinIds = (500L until 530L)
    val twins = spread.filter(p => twinIds.contains(p._1))
      .map(p => (p._1 + 10000L, p._2))
    val all = seeds ++ hot ++ spread ++ twins
    val corpus = all.toDF("vec_id", "embedding").withColumn("label", lit(0))
    val mem = Sim.semDedupMembersFrom(corpus, nlist)
    val tag = Sim.semDedupTag(mem, cap)
    // the tight cluster stays whole under geometry → the star path fires
    assert(tag.filter($"n_s" > cap).count() > 0,
      "the near-identical cluster must remain an oversized subcell (star path)")
    // candidate bound: the documented cap — and an order less than the
    // uncapped Σ n_c(n_c-1)/2 the r13 code would have scored
    val cand = Sim.semDedupCandidateCount(tag, cap)
    val uncapped = mem.groupBy($"cell").agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) div 2"))).head().getLong(0)
    assert(cand <= cap.toLong * all.size,
      s"candidates $cand exceed the cellCap*n bound")
    assert(cand * 5 <= uncapped,
      s"capped candidates $cand not materially below uncapped $uncapped")
    info(s"hot-cell candidates: capped $cand vs uncapped $uncapped")
    val out = Sim.semDedupFrom(s, mem, 0.8, cap).localCheckpoint()
    val drops = out.select($"drop_id").as[Long].collect().toSet
    // the tight cluster (seed 0 included — cosine ≈ 1 to it) keeps
    // EXACTLY one member: the anchor-star closes it into one component
    val hotIds = Set(0L) ++ (100L until 400L)
    val hotSurvivors = hotIds -- drops
    assert(hotSurvivors.size == 1,
      s"tight cluster must keep exactly one member, kept ${hotSurvivors.size}")
    // zero false drops: every (drop, witness) cosine recomputed exactly
    // from the constructed vectors clears eps
    val vecs = all.toMap
    def cos(a: Long, b: Long): Double = {
      val (va, vb) = (vecs(a).map(_.toDouble), vecs(b).map(_.toDouble))
      val d = va.zip(vb).map { case (x, y) => x * y }.sum
      d / (math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum))
    }
    val rows = out.select($"drop_id", $"witness_id").as[(Long, Long)].collect()
    assert(rows.forall { case (d, w) => cos(d, w) >= 0.8 - 1e-9 },
      "every drop's witness must recompute >= eps — zero false drops")
    // keepers never drop
    assert(out.join(out.select($"drop_id".as("keeper_id")),
      Seq("keeper_id"), "left_semi").count() == 0)
    // geometric-split recall: identical twins share a subcell, so no
    // twin pair survives whole even inside a split cell
    val bothSurvive = twinIds.count(i => !drops.contains(i) && !drops.contains(i + 10000L))
    assert(bothSurvive == 0,
      s"$bothSurvive twin pairs survived whole inside split cells")
    spark.catalog.clearCache()
  }

  test("C31b semdedup_serve: twins strike their indexed originals, clean batches pass, deletion un-strikes") {
    val s = spark
    import s.implicits._
    val Sim = operators.Similarity
    val idx = java.nio.file.Files.createTempDirectory("graft_sds").toFile
    val path = idx.getAbsolutePath
    val base = Tables.embeddings(s, sf).localCheckpoint()
    val n = base.count()
    Sim.ivfWriteFrom(base, path)
    // the re-crawl batch: perturbed twins of every indexed vector
    val twins = Sim.twinCorpus(s, sf)
      .filter($"vec_id" >= 1000000L).select($"vec_id", $"embedding")
      .localCheckpoint()
    val struck = Sim.semDedupServe(s, path, twins).localCheckpoint()
    val recall = struck.select($"drop_id").distinct().count().toDouble / n
    assert(recall >= 0.9, s"twin strike recall = $recall")
    // the witness is (essentially always) the true original
    val exactWit = struck.filter($"witness_id" === $"drop_id" - 1000000L).count()
    assert(exactWit.toDouble / struck.count() >= 0.9,
      "witnesses must overwhelmingly be the planted originals")
    assert(struck.filter($"cosine" < 0.8).count() == 0)
    info(f"semdedup_serve twin strike recall = $recall%.3f over $n")
    // a CLEAN batch (disjoint one-hot-ish vectors nearly orthogonal to
    // the corpus) strikes nothing — no false positives by construction
    val dim = base.select(size($"embedding")).head().getInt(0)
    val clean = s.range(2000000L, 2000020L).toDF("vec_id")
      .withColumn("embedding", expr(
        s"transform(sequence(0, ${dim - 1})," +
          " d -> cast(if(d = vec_id % " + dim + ", 1.0, 0.0) as float))"))
    assert(Sim.semDedupServe(s, path, clean).count() == 0,
      "an orthogonal batch must strike nothing")
    // tombstoning an original stops it striking its twin (the serve
    // reads the live view)
    val victim = 7L
    Sim.ivfDelete(s, path, Seq(victim).toDF("vec_id"))
    val after = Sim.semDedupServe(s, path, twins.filter($"vec_id" === victim + 1000000L))
    assert(after.filter($"witness_id" === victim).count() == 0,
      "a deleted original must not strike")
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    spark.catalog.clearCache()
  }

  test("C7i sidecar: the OPQ rotation persists, survives append+refresh, and reattach re-learns it") {
    val s = spark
    import s.implicits._
    val Sim = operators.Similarity
    val idx = java.nio.file.Files.createTempDirectory("graft_opq_life").toFile
    val path = idx.getAbsolutePath
    val all = Tables.embeddings(s, sf).localCheckpoint()
    val cut = all.agg(max($"vec_id")).head().getLong(0) * 7 / 10
    Sim.ivfWriteFrom(all.filter($"vec_id" <= cut), path)
    // OPQ attach: the rotation + its training budget land ON the books
    Sim.pqAttach(s, path, opqIters = 4)
    val bk = s.read.parquet(s"$path/pq/books")
    val rot = bk.select($"rot").head().getSeq[Float](0).toArray
    assert(bk.select($"opq_iters").head().getInt(0) == 4,
      "the OPQ iteration budget must persist with the books")
    val dim = math.sqrt(rot.length.toDouble).toInt
    assert(dim * dim == rot.length, "rot must be a square dim x dim matrix")
    // persisted R is orthogonal: R Rᵀ = I within float tolerance
    val maxDev = (for (i <- 0 until dim; j <- 0 until dim) yield {
      val d = (0 until dim).map(t => rot(i * dim + t).toDouble *
        rot(j * dim + t).toDouble).sum
      math.abs(d - (if (i == j) 1.0 else 0.0))
    }).max
    assert(maxDev < 1e-4, s"persisted rotation must stay orthogonal ($maxDev)")
    // append + refresh: the delta codes under the FROZEN rotation;
    // the books file (incl. the rotation) stays byte-untouched
    val booksBefore = new java.io.File(s"$path/pq/books").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified))
    Sim.ivfAppend(s, path, all.filter($"vec_id" > cut))
    Sim.pqRefresh(s, path)
    val booksAfter = new java.io.File(s"$path/pq/books").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified))
    assert(booksBefore.sameElements(booksAfter),
      "refresh must freeze the books AND the rotation")
    assert(Sim.pqCoverageGap(s, path) == 0, "refresh must cover the append")
    // full-corpus recall through the persisted rotated-space ADC
    val exact = Sim.annBruteforce(s, sf, k = 5, nQueries = 20)
      .select(col("query_id"), col("neighbor_id")).cache()
    val served = Sim.annIvfPqServe(s, path, nQueries = 20)
    val r = exact.join(served.select(col("query_id"), col("neighbor_id")),
      Seq("query_id", "neighbor_id"), "left_semi").count().toDouble / exact.count()
    assert(r >= 0.8, s"persisted-OPQ lifecycle recall@5 = $r")
    info(f"opq sidecar attach->append->refresh->serve recall@5 = $r%.3f")
    // a retrain orphans the rotated codes; reattach RE-LEARNS the
    // rotation (new residual distribution) with the persisted budget
    Sim.ivfRetrain(s, path)
    assert(Sim.pqBooksStale(s, path))
    Sim.pqReattach(s, path)
    val bk2 = s.read.parquet(s"$path/pq/books")
    assert(bk2.select($"opq_iters").head().getInt(0) == 4,
      "reattach must keep the OPQ posture")
    val rot2 = bk2.select($"rot").head().getSeq[Float](0).toArray
    assert(!rot2.sameElements(rot),
      "reattach after retrain must re-learn the rotation on the new residuals")
    assert(!Sim.pqBooksStale(s, path) && Sim.pqCoverageGap(s, path) == 0)
    exact.unpersist()
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    spark.catalog.clearCache()
  }

  test("lsh_diversity_sample: seats sum to budget, picks honor quotas, sqrt flattens a planted hot cell") {
    val s = spark
    import s.implicits._
    // planted layout: one dominant cell of 900 vectors + 10 sparse
    // cells of 10 — density-proportional sampling would hand the hot
    // cell ~90% of the panel
    val cells = ((0 until 900).map(i => (i.toLong, 0)) ++
      (0 until 10).flatMap(c => (0 until 10).map(j =>
        ((1000 + c * 10 + j).toLong, c + 1)))).toDF("vec_id", "cell")
    val out = operators.Similarity.apportionPick(cells, budget = 100L)
      .localCheckpoint()
    val quotas = out.select($"cell", $"quota").distinct()
    assert(quotas.agg(sum($"quota")).head().getLong(0) == 100L,
      "largest-remainder seats must sum exactly to the budget")
    // sqrt flattening: w_hot = 30 vs Σw_small = 10·√10 ≈ 31.6 — the
    // hot cell gets ~49 seats, not 90
    val hot = quotas.filter($"cell" === 0).head().getLong(1)
    assert(hot >= 40 && hot <= 55,
      s"hot-cell quota $hot should be ~49 under sqrt weights (90 under proportional)")
    assert(quotas.filter($"cell" =!= 0 && $"quota" < 5L).count() == 0,
      "every sparse cell must keep meaningful representation")
    // picks per cell = min(quota, size), ranks contiguous from 1
    val per = out.groupBy($"cell")
      .agg(count(lit(1)).as("n"), max($"quota").as("q"),
        max($"cell_size").as("sz"), max($"pick_rank").as("maxr"))
    assert(per.filter($"n" =!= least($"q", $"sz")).count() == 0)
    assert(per.filter($"maxr".cast("long") =!= $"n").count() == 0)

    // end-to-end on the real corpus: same invariants through the
    // hyperplane cell compute, and the panel is deterministic
    val real = operators.Similarity.lshDiversitySample(spark, sf)
      .localCheckpoint()
    val rq = real.select($"cell", $"quota").distinct()
    assert(rq.agg(sum($"quota")).head().getLong(0) == 200L)
    val rper = real.groupBy($"cell")
      .agg(count(lit(1)).as("n"), max($"quota").as("q"), max($"cell_size").as("sz"))
    assert(rper.filter($"n" =!= least($"q", $"sz")).count() == 0)
    val again = operators.Similarity.lshDiversitySample(spark, sf)
    assert(real.exceptAll(again).count() == 0 && again.exceptAll(real).count() == 0)
    spark.catalog.clearCache()
  }
}
