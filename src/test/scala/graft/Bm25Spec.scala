package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** C23 `bm25_retrieve` — ranking-behavior pins on crafted corpora
  * (the DuckDB hash gate is the cross-engine equivalence check; these
  * pin that the integer-exact scoring still BEHAVES like BM25:
  * self-retrieval, overlap ordering, length normalization, tf
  * saturation — the retrieval qualities the reference's "related
  * notes" recommendation promises). */
class Bm25Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def run(docs: Seq[(Long, String)], k: Int = 10) =
    operators.TextAnalysis.bm25Of(docs.toDF("doc_id", "text"), k = k, qMod = 1)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("rk"), r.getAs[Long]("score")))

  test("bm25: self first, then more-overlap before less-overlap; zero-overlap absent") {
    val out = run(Seq(
      0L -> "alpha beta gamma delta epsilon", // the query of interest
      1L -> "alpha beta gamma delta",         // shares 2 of its 3 shingles
      2L -> "alpha beta gamma zeta",          // shares 1
      3L -> "zeta eta theta iota"))           // shares 0
    val q0 = out.filter(_._1 == 0L).sortBy(_._3)
    assert(q0.map(_._2).toSeq == Seq(0L, 1L, 2L),
      s"expected self, 2-shingle, 1-shingle order; got $q0")
    // ranks are dense from 1 and scores non-increasing
    assert(q0.map(_._3).toSeq == Seq(1, 2, 3))
    assert(q0.map(_._4).toSeq == q0.map(_._4).toSeq.sorted.reverse)
  }

  test("bm25: length normalization — same term once, shorter doc ranks higher") {
    val out = run(Seq(
      0L -> "k1 k2 k3 q1 q2",                 // query: one shared shingle + own tail
      1L -> "k1 k2 k3",                        // short match (dl = 1)
      2L -> "k1 k2 k3 f1 f2 f3 f4 f5 f6"))     // long match (dl = 7), same tf
    val q0 = out.filter(t => t._1 == 0L && t._2 != 0L).sortBy(_._3)
    assert(q0.map(_._2).toSeq == Seq(1L, 2L),
      s"short doc must outrank long doc at equal tf: $q0")
    assert(q0(0)._4 > q0(1)._4)
  }

  test("bm25: tf saturation — 4x the tf scores far less than 4x, at equal length") {
    // both candidates dl = 10; doc 1 carries the query shingle once,
    // doc 2 four times (k1 k2 k3 repeated: the shingle recurs at
    // stride 3) — BM25's saturating tf must keep the ratio under
    // (k1+1)/1 = 2.2, far below linear
    val out = run(Seq(
      0L -> "k1 k2 k3 q1 q2",
      1L -> "k1 k2 k3 u1 u2 u3 u4 u5 u6 u7 u8 u9",
      2L -> "k1 k2 k3 k1 k2 k3 k1 k2 k3 k1 k2 k3"))
    val sc = out.filter(t => t._1 == 0L).map(t => t._2 -> t._4).toMap
    // doc 2 also matches cross-shingles ("k2 k3 k1", "k3 k1 k2") only
    // with itself, not the query, so only "k1 k2 k3" scores for q0
    assert(sc(2L) > sc(1L), s"higher tf must still score higher: $sc")
    assert(sc(2L).toDouble < 2.3 * sc(1L).toDouble,
      s"tf=4 must saturate below (k1+1)x the tf=1 score: $sc")
  }

  test("hard_negatives: self and same-cluster candidates excluded, ranks dense, survivors = bm25 minus positives") {
    val hn = operators.TextAnalysis.hardNegatives(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(hn.nonEmpty, "the panel must mine some negatives")
    // no self-negatives
    assert(!hn.exists(r => r._1 == r._2), "a query must never be its own negative")
    // no same-cluster (near-dup) negatives
    val cl = operators.NearDup.dedupCluster(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val poisoned = hn.filter { case (q, d, _, _) =>
      cl.contains(q) && cl.contains(d) && cl(q) == cl(d) }
    assert(poisoned.isEmpty, s"near-dup positives mined as negatives: ${poisoned.take(3).toSeq}")
    // ranks are dense 1..n per query, ordered by (score desc, doc_id)
    hn.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1 to rows.length).toSeq, s"query $q ranks not dense")
      assert(sorted.sameElements(rows.sortBy(r => (-r._4, r._2))),
        s"query $q negatives not ordered by score desc, id")
    }
    // survivors are exactly bm25's top-k minus the excluded positives
    val bm = operators.TextAnalysis.bm25Retrieve(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hn.forall(r => bm.contains((r._1, r._2))),
      "every negative must come from the bm25 candidate set")
    val excluded = bm -- hn.map(r => (r._1, r._2)).toSet
    assert(excluded.forall { case (q, d) =>
      q == d || (cl.contains(q) && cl.contains(d) && cl(q) == cl(d)) },
      "only self or same-cluster candidates may be excluded")
    spark.catalog.clearCache()
  }

  test("bpe_train_merges: the merge sequence is the greedy argmax with rewrite") {
    // corpus: "abc" x3, "abd", "xy" x2 — round 1 must merge "ab" (4
    // occurrences beat "xy"'s 2 and the singletons); after the rewrite
    // ab -> chr(1), round 2's top pair is chr(1)+"c" (3 beats "xy"'s
    // 2); after chr(1)c -> chr(2), round 3 merges "xy" (2)
    val words = (Seq.fill(3)("abc") ++ Seq("abd") ++ Seq.fill(2)("xy"))
      .toDF("w")
    val out = operators.TextAnalysis.bpeMergesOf(words, rounds = 3)
      .collect().map(r => (r.getAs[Int]("round"),
        r.getAs[String]("merged"), r.getAs[Long]("n_occ"))).sortBy(_._1)
    assert(out(0) == ((1, "ab", 4L)), s"round 1: ${out(0)}")
    assert(out(1) == ((2, "\u0001c", 3L)), s"round 2: ${out(1)}")
    assert(out(2) == ((3, "xy", 2L)), s"round 3: ${out(2)}")
  }

  test("bpe_encode: the merge table applies as a per-row map; sentinels expand back") {
    // same corpus as the training spec: merges are (1:"ab", 2:chr1+"c",
    // 3:"xy"), so "abc" encodes to the single symbol chr(2), "abd" to
    // chr(1)+"d", "xy" to chr(3) — and the vocabulary expands each
    // sentinel back through the reverse-round substitution
    val words = (Seq.fill(3)("abc") ++ Seq("abd") ++ Seq.fill(2)("xy"))
      .toDF("w")
    val vocab = operators.TextAnalysis.bpeEncodeOf(words, rounds = 3)
      .collect().map(r => (r.getAs[Int]("sym_code"),
        r.getAs[String]("token"), r.getAs[Long]("n_occ"))).sortBy(_._1).toSeq
    assert(vocab == Seq(
      (1, "ab", 1L),    // the chr(1) left in "abd"
      (2, "abc", 3L),   // chr(2) = chr(1)+"c" expands through chr(1) = "ab"
      (3, "xy", 2L),
      ('d'.toInt, "d", 1L)), s"vocab was $vocab")
  }

  test("bm25_serve: a short external query prunes the postings read to its token buckets") {
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25_spec").toFile
    idx.deleteOnExit()
    operators.TextAnalysis.bm25Write(spark, sf, idx.getAbsolutePath)
    // disk-served self-panel must equal the one-shot retrieval exactly
    val oneShot = operators.TextAnalysis.bm25Retrieve(spark, sf)
    val served = operators.TextAnalysis.bm25ServeFrom(spark, idx.getAbsolutePath)
    assert(oneShot.count() == served.count() &&
      oneShot.exceptAll(served).count() == 0,
      "index-served BM25 must equal the one-shot retrieval")
    // a SHORT external query (two shingles of doc 0) routes to at most
    // two of the 16 bucket dirs — the static pruning a search
    // frontend's shard router does; and it still retrieves doc 0
    val tf0 = operators.TextAnalysis.bm25TfTable(
      Tables.documents(spark, sf).select(col("doc_id"), col("text")))
    val dfTab = tf0.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // doc 0's two RAREST shingles: near-unique terms, so doc 0 wins
    // rank 1 by construction (common terms could let a shorter doc
    // outscore the source)
    val qTokens = tf0.filter(col("doc_id") === 0).join(dfTab, "token")
      .orderBy(col("df"), col("token")).limit(2)
      .select(lit(777L).as("query_id"), col("token"))
    val ext = operators.TextAnalysis.bm25ServeFrom(spark, idx.getAbsolutePath,
      k = 50, queries = Some(qTokens))
    val opened = filesOpened(ext)
    // the impact layout is version-swapped: internals live under the
    // current committed version directory
    val vdir = new java.io.File(graft.sources.Lake
      .currentVersionDir(spark, idx.getAbsolutePath).get)
    val bucketDirs = new java.io.File(vdir, "postings").listFiles()
      .count(d => d.isDirectory && d.getName.startsWith("bucket="))
    assert(opened <= 2 && opened < bucketDirs,
      s"2-token query must open <= 2 of $bucketDirs bucket dirs, opened $opened")
    // the source doc is retrieved through the pruned read (a planted
    // near-duplicate may legitimately outscore it on length, so pin
    // membership, not rank 1)
    assert(ext.filter(col("query_id") === 777L && col("doc_id") === 0L).count() == 1,
      "the query's own source doc must be retrieved")
    spark.catalog.clearCache()
  }

  test("bm25_append raw index: serveable between appends; bucket read stays pruned") {
    val s = spark
    import s.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25_raw").toFile
    idx.deleteOnExit()
    val docs = Tables.documents(s, sf).select(col("doc_id"), col("text"))
    val cut = docs.agg(max(col("doc_id"))).head().getLong(0) * 7 / 10
    operators.TextAnalysis.bm25WriteRaw(docs.filter(col("doc_id") <= cut), idx.getAbsolutePath)
    // MID-STATE: before the append, the index serves exactly the
    // prefix-corpus BM25 answer (the E11 finalized-batch posture)
    val mid = operators.TextAnalysis.bm25ServeRaw(s, idx.getAbsolutePath)
    val midRef = operators.TextAnalysis.bm25Of(docs.filter(col("doc_id") <= cut))
    assert(mid.count() == midRef.count() && mid.exceptAll(midRef).count() == 0,
      "raw index must serve the prefix-corpus answer before the append")
    operators.TextAnalysis.bm25Append(docs.filter(col("doc_id") > cut), idx.getAbsolutePath)
    // append is O(batch): the stats log accumulates rows, nothing
    // rewrites — two log rows, and serve sums them
    assert(s.read.parquet(s"${idx.getAbsolutePath}/stats_log").count() == 2)
    // a 2-token external query's postings read touches only its
    // tokens' bucket dirs (token-hash partitioning makes df
    // bucket-local, so pruning is sound)
    val post0 = s.read.parquet(s"${idx.getAbsolutePath}/postings")
    val qTokens = operators.TextAnalysis.bm25TfTable(docs)
      .filter(col("doc_id") === 0).orderBy(col("token")).limit(2)
      .select(col("token"))
    val buckets = qTokens
      .select(pmod(xxhash64(col("token")), lit(16)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val opened = filesOpened(post0.filter(col("bucket").cast("int").isin(buckets: _*)))
    val allDirs = new java.io.File(idx, "postings").listFiles()
      .count(d => d.isDirectory && d.getName.startsWith("bucket="))
    assert(opened < allDirs * 2 && buckets.size <= 2,
      s"pruned read opened $opened files over ${buckets.size} buckets of $allDirs dirs")
    // and the served result after the append actually covers appended
    // docs (queries beyond the cut retrieve themselves)
    val served = operators.TextAnalysis.bm25ServeRaw(s, idx.getAbsolutePath).cache()
    assert(served.filter(col("query_id") > cut && col("rk") === 1 &&
      col("doc_id") === col("query_id")).count() > 0,
      "appended docs must be served (self-retrieval at rank 1)")
    served.unpersist()
    spark.catalog.clearCache()
  }

  test("typo_neighbors blocking: every distance-1 pair class found; distance-2 rejected") {
    val s = spark
    import s.implicits._
    // one doc whose vocabulary contains all three distance-1 pair
    // classes plus a transposition (distance 2 — must NOT pair):
    //   grafted/grafed   deletion
    //   spark/sparks     insertion
    //   shuffle/shuffte  substitution
    //   kernel/kernle    transposition (lev = 2)
    // plus the operator's own planted middle-char deletions
    val docs = Seq((1L, "grafted grafed spark sparks shuffle shuffte kernel kernle"))
      .toDF("doc_id", "text")
    // drive the operator core on a crafted corpus via a temp dir-less
    // path: reuse the plan pieces by writing through a temp view is
    // overkill — recompute with the same construction inline
    val base = docs.select(explode(split(trim($"text"), "\\s+")).as("t"))
    val planted = base.filter(length($"t") >= 4)
      .select(expr(
        "concat(substring(t, 1, length(t) div 2), substring(t, length(t) div 2 + 2, length(t)))")
        .as("t"))
    val vocab = base.unionAll(planted).distinct()
    val posts = vocab.select($"t", explode(concat(
        array($"t"),
        expr("transform(sequence(1, length(t))," +
          " i -> concat(substring(t, 1, i - 1), substring(t, i + 1, length(t))))")))
      .as("key"))
    val pairs = posts.as("a").join(posts.as("b"),
        $"a.key" === $"b.key" && $"a.t" < $"b.t")
      .select($"a.t".as("t1"), $"b.t".as("t2")).distinct()
      .filter(levenshtein($"t1", $"t2") === 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("grafed", "grafted")), s"deletion pair missing: $pairs")
    assert(pairs.contains(("spark", "sparks")), s"insertion pair missing: $pairs")
    assert(pairs.contains(("shuffle", "shuffte")), s"substitution pair missing: $pairs")
    assert(!pairs.exists(p => p == (("kernel", "kernle")) || p == (("kernle", "kernel"))),
      s"transposition (lev 2) must be rejected: $pairs")
  }

  test("approx_topk: MG guarantees — planted hitter present, never overcounted, bounded undercount") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    // 3000 "hot" + 7000 distinct cold tokens: n = 10000, capacity 9 →
    // threshold n/(k+1) = 1000 < 3000, so MG GUARANTEES presence with
    // est in [true - 1000, true] — under any partitioning/merge order
    val toks = Seq.fill(3000)("hot") ++ (0 until 7000).map(i => s"cold$i")
    val df = rnd.shuffle(toks).toDF("token")
    for (parts <- Seq("4", "7")) {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      val out = operators.TextAnalysis.approxTopKOf(df, capacity = 9, m = 9)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(out.contains("hot"), s"planted hitter missing at $parts partitions: $out")
      assert(out("hot") <= 3000 && out("hot") >= 2000,
        s"hot est ${out("hot")} outside [2000, 3000]")
    }
    spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("doc_embed: bag-of-words semantics — permutation-invariant, identical docs identical vectors") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "beta alpha alpha gamma"), // permutation of doc 1
      (3L, "alpha beta gamma alpha"), // identical to doc 1
      (4L, "delta epsilon zeta")      // disjoint vocabulary
    ).toDF("doc_id", "text")
    val emb = operators.TextAnalysis.docEmbedOf(docs).cache()
    def vec(id: Long) = emb.filter(col("doc_id") === id)
      .select(col("slot"), col("w"))
    // the hashing trick is bag-of-words: token order cannot matter
    assert(vec(1L).exceptAll(vec(2L)).count() == 0 &&
      vec(2L).exceptAll(vec(1L)).count() == 0, "permutation changed the vector")
    assert(vec(1L).exceptAll(vec(3L)).count() == 0, "identical docs must embed identically")
    // weights are signed tf sums: total mass bounded by token count
    val mass = emb.filter(col("doc_id") === 1L).agg(sum(abs(col("w")))).head().getLong(0)
    assert(mass >= 1 && mass <= 4, s"doc 1 |w| mass $mass out of [1, 4]")
    // disjoint vocabularies share no slots unless hashes collide into
    // opposite... (collision possible but not for these 7 tokens at
    // dim 64 — pinned so a hashing change that degenerates slots trips)
    val overlap = vec(1L).join(vec(4L), "slot").count()
    assert(overlap == 0, s"disjoint docs shared $overlap slots")
    emb.unpersist()
  }

  test("hybrid_retrieve: dense per-query ranks; rrf bounded by the two-surface maximum") {
    val out = operators.TextAnalysis.hybridRetrieve(spark, sf).cache()
    assert(out.count() > 0)
    // rank_h is a dense 1..n sequence per query
    val bad = out.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n"), max(col("rank_h")).as("mx"), min(col("rank_h")).as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1).count()
    assert(bad == 0, "rank_h must be dense 1..n per query")
    // the integer RRF impact is bounded by a doc topping BOTH lists
    val maxRrf = out.agg(max(col("rrf"))).head().getLong(0)
    assert(maxRrf <= 2 * (1000000L / 61) && maxRrf > 0, s"rrf out of range: $maxRrf")
    out.unpersist()
    spark.catalog.clearCache()
  }

  test("bm25: the df cap drops corpus-wide boilerplate terms from scoring") {
    // 'b1 b2 b3' is in every doc; with dfCap = 2 it contributes no
    // postings, so doc 3 (boilerplate-only overlap) is not retrieved
    val docs = Seq(
      0L -> "b1 b2 b3 alpha beta gamma",
      1L -> "b1 b2 b3 alpha beta delta",
      2L -> "b1 b2 b3 zeta eta theta",
      3L -> "b1 b2 b3")
    val out = operators.TextAnalysis.bm25Of(docs.toDF("doc_id", "text"),
        k = 10, dfCap = 2, qMod = 1)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")))
    val q0 = out.filter(_._1 == 0L).map(_._2).toSet
    assert(q0.contains(1L), "shingle-sharing doc must be retrieved")
    assert(!q0.contains(3L), s"boilerplate-only doc must be df-capped out: $q0")
  }

  test("weighted RRF shifts fused ranks toward the upweighted surface") {
    // mirrored profiles: doc 10 is lexical-rank-1/semantic-rank-3,
    // doc 20 the reverse, doc 30 rank 2 on both
    val etop = Seq((0L, 10L, 3), (0L, 20L, 1), (0L, 30L, 2))
      .toDF("query_id", "doc_id", "rank_e")
    val btop = Seq((0L, 10L, 1), (0L, 20L, 3), (0L, 30L, 2))
      .toDF("query_id", "doc_id", "rank_b")
    def top(wSem: Int, wLex: Int): Seq[Long] =
      operators.TextAnalysis.weightedRrf(etop, btop, 3, 60, wSem, wLex)
        .orderBy(col("rank_h")).collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(top(1, 2) == Seq(10L, 30L, 20L),
      "lexical-heavy weights must put the lexical-rank-1 doc first")
    assert(top(2, 1) == Seq(20L, 30L, 10L),
      "semantic-heavy weights must put the semantic-rank-1 doc first")
    // unit weights: the mirrored docs tie exactly (and, RRF being
    // convex, outrank the rank-2-on-both doc: f(1)+f(3) > 2·f(2));
    // the id tiebreak orders the tied pair
    val unit = operators.TextAnalysis.weightedRrf(etop, btop, 3, 60, 1, 1)
      .orderBy(col("rank_h")).collect()
    assert(unit.map(_.getAs[Long]("doc_id")).toSeq == Seq(10L, 20L, 30L))
    assert(unit(0).getAs[Long]("rrf") == unit(1).getAs[Long]("rrf"),
      "mirrored docs must carry equal fused scores at unit weights")
  }

  // ---- raw-index lifecycle: self-description, crash safety, erasure ----

  /** Overlapping synthetic corpus: every doc shares shingles with its
    * neighbors, so retrieval lists are non-trivial. */
  private def mkDocs(n: Int) = (0 until n).map { i =>
    (i.toLong, s"w$i w${i + 1} w${i + 2} w${i + 3} c${i % 5} c${i % 5 + 1} c${i % 5 + 2}")
  }

  private def sameResult(a: org.apache.spark.sql.DataFrame,
                         b: org.apache.spark.sql.DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).count() == 0

  private def postingFiles(idx: java.io.File): Map[String, Long] =
    new java.io.File(idx, "postings").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
      .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => s"${d.getName}/${f.getName}" -> f.length()))
      .toMap

  test("raw index is self-describing: an nBuckets=8 build serves external queries correctly") {
    val s = spark
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25_nb8").toFile
    val docs = mkDocs(40).toDF("doc_id", "text")
    // r10's serve hardcoded nBuckets=16: an 8-bucket index routed
    // external queries to the wrong dirs and silently dropped postings
    operators.TextAnalysis.bm25WriteRaw(docs, idx.getAbsolutePath, nBuckets = 8)
    val meta = operators.TextAnalysis.rawIndexMeta(s, idx.getAbsolutePath)
    assert(meta._2 == 8, s"stats log must persist the bucket count, got ${meta._2}")
    val q = operators.TextAnalysis.bm25TfTable(docs)
      .filter(col("doc_id") === 7).select(lit(901L).as("query_id"), col("token"))
    val ext = operators.TextAnalysis.bm25ServeRaw(s, idx.getAbsolutePath,
      k = 40, queries = Some(q))
    // the routed read must retrieve the source doc — and the full
    // external answer must match the unpruned self-describing serve
    assert(ext.filter(col("query_id") === 901L && col("doc_id") === 7L).count() == 1,
      "external query on an 8-bucket index must retrieve its source doc")
    val full = operators.TextAnalysis.bm25ServeRaw(s, idx.getAbsolutePath, k = 40, qMod = 1)
      .filter(col("query_id") === 7L).withColumn("query_id", lit(901L))
    assert(sameResult(ext, full),
      "pruned external serve must equal the unpruned answer for the same query")
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    spark.catalog.clearCache()
  }

  test("append crash between postings and stats commit: invisible, re-drivable, vacuumable") {
    val s = spark
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25_crash").toFile
    val docs = mkDocs(40).toDF("doc_id", "text")
    val prefix = docs.filter(col("doc_id") < 28)
    val batch = docs.filter(col("doc_id") >= 28)
    operators.TextAnalysis.bm25WriteRaw(prefix, idx.getAbsolutePath)
    val pre = operators.TextAnalysis.bm25ServeRaw(s, idx.getAbsolutePath, qMod = 1).cache()
    // simulated crash: postings + doclens land, the stats commit row
    // does NOT (the write-order contract makes this the only torn
    // state a single-writer maintenance loop can leave)
    operators.TextAnalysis.bm25AppendRaw(batch, idx.getAbsolutePath,
      None, overwrite = false, commit = false)
    val torn = operators.TextAnalysis.bm25ServeRaw(s, idx.getAbsolutePath, qMod = 1)
    assert(sameResult(torn, pre),
      "serve after a torn append must return exactly the pre-append state")
    // re-drive the append (fresh batch_id) — the batch lands ONCE:
    // serve equals the one-shot build on the union corpus
    operators.TextAnalysis.bm25Append(batch, idx.getAbsolutePath)
    val served = operators.TextAnalysis.bm25ServeRaw(s, idx.getAbsolutePath, qMod = 1)
    val ref = operators.TextAnalysis.bm25Of(docs, qMod = 1)
    assert(sameResult(served, ref),
      "re-driven append must serve the union corpus exactly (no double-landing)")
    // vacuum physically reclaims the orphaned attempt's rows
    val rowsBefore = s.read.parquet(s"${idx.getAbsolutePath}/postings").count()
    operators.TextAnalysis.bm25Vacuum(s, idx.getAbsolutePath, maxFilesPerBucket = 1000)
    val rowsAfter = s.read.parquet(s"${idx.getAbsolutePath}/postings").count()
    assert(rowsAfter < rowsBefore, "vacuum must drop the orphaned postings")
    val postVac = operators.TextAnalysis.bm25ServeRaw(s, idx.getAbsolutePath, qMod = 1)
    assert(sameResult(postVac, ref), "vacuum must not change the served answer")
    pre.unpersist()
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    spark.catalog.clearCache()
  }

  test("snapshot isolation: a pinned serve ignores appends and deletes committed after it") {
    val s = spark
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25_snap").toFile
    val docs = mkDocs(40).toDF("doc_id", "text")
    val prefix = docs.filter(col("doc_id") < 28)
    operators.TextAnalysis.bm25WriteRaw(prefix, idx.getAbsolutePath)
    val snap = operators.TextAnalysis.bm25Snapshot(s, idx.getAbsolutePath)
    val pre = operators.TextAnalysis.bm25ServeRaw(s, idx.getAbsolutePath, qMod = 1).cache()
    pre.count()
    // maintenance proceeds: an append AND a delete commit after the pin
    operators.TextAnalysis.bm25Append(docs.filter(col("doc_id") >= 28), idx.getAbsolutePath)
    operators.TextAnalysis.bm25Delete(s, idx.getAbsolutePath,
      docs.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
    // the pinned serve still answers from the exact pre-maintenance
    // state — stats, dfs, postings and panel all frozen together
    val pinned = operators.TextAnalysis.bm25ServeRaw(s, idx.getAbsolutePath,
      qMod = 1, snapshot = Some(snap))
    assert(sameResult(pinned, pre),
      "snapshot serve must equal the state at pin time")
    // an unpinned serve sees the maintained index
    val now = operators.TextAnalysis.bm25ServeRaw(s, idx.getAbsolutePath, qMod = 1)
    val ref = operators.TextAnalysis.bm25Of(docs.filter(col("doc_id") % 5 =!= 0), qMod = 1)
    assert(sameResult(now, ref), "unpinned serve must see the maintained state")
    pre.unpersist()
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    spark.catalog.clearCache()
  }

  test("raw serve stats: driver-summed n_docs/am equal the SQL aggregate over the stats log; empty states serve empty") {
    val s = spark
    val TA = operators.TextAnalysis
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25_stats").toFile
    val path = idx.getAbsolutePath
    val docs = mkDocs(40).toDF("doc_id", "text")
    TA.bm25WriteRaw(docs.filter(col("doc_id") < 28), path)
    val snap = TA.bm25Snapshot(s, path)
    TA.bm25Append(docs.filter(col("doc_id") >= 28), path)
    TA.bm25Delete(s, path, docs.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
    val (log, _) = TA.rawIndexLog(s, path)
    // the pre-change form: one more scan of the log, aggregated in SQL
    def sqlStats(committed: Seq[String]): (Option[Long], Option[Long]) = {
      val r = s.read.parquet(s"$path/stats_log")
        .filter(col("batch_id").isin(committed: _*))
        .agg(sum(col("n_docs_delta")).as("n_docs"), sum(col("sum_dl_delta")).as("t_tok"))
        .select(col("n_docs"), expr("(1000 * t_tok) div n_docs").as("am")).head()
      (Option(r.getAs[java.lang.Long](0)).map(_.longValue),
        Option(r.getAs[java.lang.Long](1)).map(_.longValue))
    }
    for (committed <- Seq(log.map(_.batchId), snap))
      assert(TA.rawIndexStats(log, committed) == sqlStats(committed),
        s"driver stats must equal the SQL aggregate at $committed")
    assert(TA.rawIndexStats(log, Seq.empty) == ((None, None)),
      "nothing committed: no N and no avgdl, like SQL's sum over no rows")
    assert(TA.bm25ServeRaw(s, path, qMod = 1, snapshot = Some(Seq.empty)).count() == 0)
    // every doc deleted: N = 0 leaves nothing to score in either mode
    TA.bm25Delete(s, path, docs.select(col("doc_id")))
    val q = Seq((1L, "w1 w2 w3")).toDF("query_id", "token")
    assert(TA.rawIndexStats(TA.rawIndexLog(s, path)._1, TA.bm25Snapshot(s, path))._1
      .contains(0L))
    assert(TA.bm25ServeRaw(s, path, qMod = 1).count() == 0)
    assert(TA.bm25ServeRaw(s, path, queries = Some(q)).count() == 0)
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    spark.catalog.clearCache()
  }

  test("delete: exact erasure, untouched buckets byte-identical, idempotent, vacuum purges") {
    val s = spark
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25_del").toFile
    val docs = mkDocs(40).toDF("doc_id", "text")
    operators.TextAnalysis.bm25WriteRaw(docs, idx.getAbsolutePath)
    val before = postingFiles(idx)
    val victims = docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"))
    operators.TextAnalysis.bm25Delete(s, idx.getAbsolutePath, victims)
    // tombstones, not rewrites: every postings file untouched
    assert(postingFiles(idx) == before,
      "delete must not rewrite any postings file")
    // serve parity with a from-scratch build on the surviving corpus:
    // N, avgdl, df and the panel all shrink exactly
    val survivors = docs.filter(col("doc_id") % 3 =!= 0)
    val ref = operators.TextAnalysis.bm25Of(survivors, qMod = 1)
    val served = operators.TextAnalysis.bm25ServeRaw(s, idx.getAbsolutePath, qMod = 1).cache()
    assert(sameResult(served, ref),
      "tombstoned serve must equal the from-scratch build on survivors")
    assert(served.filter(col("doc_id") % 3 === 0).count() == 0 &&
      served.filter(col("query_id") % 3 === 0).count() == 0,
      "a deleted id must never be served, as neighbor or query")
    // idempotent: re-deleting the same ids changes nothing (the
    // doclens ⋈ ¬deleted victim set is empty → zero delta)
    val statsBefore = s.read.parquet(s"${idx.getAbsolutePath}/stats_log")
      .agg(sum(col("n_docs_delta")), sum(col("sum_dl_delta"))).head()
    operators.TextAnalysis.bm25Delete(s, idx.getAbsolutePath, victims)
    val statsAfter = s.read.parquet(s"${idx.getAbsolutePath}/stats_log")
      .agg(sum(col("n_docs_delta")), sum(col("sum_dl_delta"))).head()
    assert(statsBefore == statsAfter, "re-delete must be a no-op on the stats")
    // vacuum physically drops the tombstoned rows; the answer holds
    operators.TextAnalysis.bm25Vacuum(s, idx.getAbsolutePath, maxFilesPerBucket = 1000)
    assert(s.read.parquet(s"${idx.getAbsolutePath}/postings")
      .filter(col("doc_id") % 3 === 0).count() == 0,
      "vacuum must physically remove deleted docs' postings")
    val postVac = operators.TextAnalysis.bm25ServeRaw(s, idx.getAbsolutePath, qMod = 1)
    assert(sameResult(postVac, ref), "vacuum must not change the served answer")
    served.unpersist()
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    spark.catalog.clearCache()
  }

  test("stale serve: tombstones mask now, survivors keep stale impacts; refresh rebuilds past eps") {
    val s = spark
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25_stale_spec").toFile
    val docs = mkDocs(40).toDF("doc_id", "text")
    operators.TextAnalysis.bm25WriteImpactFrom(docs, idx.getAbsolutePath)
    // k >= corpus so retrieval lists are complete — set-level claims below
    val full = operators.TextAnalysis.bm25ServeFrom(s, idx.getAbsolutePath,
      k = 100, qMod = 1).localCheckpoint()
    val victims = docs.filter(col("doc_id") % 4 === 1).select(col("doc_id"))
    operators.TextAnalysis.bm25MarkDeleted(s, idx.getAbsolutePath, victims)
    val live = operators.TextAnalysis.bm25ServeFromLive(s, idx.getAbsolutePath,
      k = 100, qMod = 1).localCheckpoint()
    assert(live.filter(col("doc_id") % 4 === 1).count() == 0 &&
      live.filter(col("query_id") % 4 === 1).count() == 0,
      "a tombstoned id must never be served, as neighbor or query")
    // THE stale property: surviving (query, doc, score) triples are
    // byte-equal to the pre-delete serve's — impacts did not shift
    val fullSurv = full.filter(col("doc_id") % 4 =!= 1 && col("query_id") % 4 =!= 1)
      .select("query_id", "doc_id", "score")
    assert(live.select("query_id", "doc_id", "score").exceptAll(fullSurv).count() == 0 &&
      fullSurv.exceptAll(live.select("query_id", "doc_id", "score")).count() == 0,
      "surviving scores must keep their (stale) build-time impacts exactly")
    // the staleness measure: 10 of 40 docs tombstoned; re-mark is a no-op
    val fr = operators.TextAnalysis.bm25DeletedFraction(s, idx.getAbsolutePath)
    assert(math.abs(fr - 0.25) < 1e-9, s"expected fraction 0.25, got $fr")
    operators.TextAnalysis.bm25MarkDeleted(s, idx.getAbsolutePath, victims)
    assert(operators.TextAnalysis.bm25DeletedFraction(s, idx.getAbsolutePath) == fr,
      "re-marking the same victims must not change the fraction")
    // below eps: refresh declines; above: rebuild on survivors with
    // fresh stats — parity with from-scratch, tombstones cleared
    assert(!operators.TextAnalysis.bm25RefreshIfStale(docs, idx.getAbsolutePath, eps = 0.30),
      "refresh must be a no-op while staleness is within eps")
    assert(operators.TextAnalysis.bm25RefreshIfStale(docs, idx.getAbsolutePath, eps = 0.20),
      "refresh must rebuild once staleness exceeds eps")
    val fresh = operators.TextAnalysis.bm25ServeFromLive(s, idx.getAbsolutePath,
      k = 100, qMod = 1).localCheckpoint()
    val ref = operators.TextAnalysis.bm25Of(
      docs.filter(col("doc_id") % 4 =!= 1), k = 100, qMod = 1)
    assert(sameResult(fresh, ref),
      "refreshed serve must equal a from-scratch build on the survivors")
    assert(operators.TextAnalysis.bm25DeletedFraction(s, idx.getAbsolutePath) == 0.0,
      "refresh must clear the tombstones it absorbed")
    // and the rebuild genuinely recomputed: fresh stats shift scores
    assert(fresh.select("query_id", "doc_id", "score")
      .exceptAll(live.select("query_id", "doc_id", "score")).count() > 0,
      "fresh N/df must move at least one score off its stale value")
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    spark.catalog.clearCache()
  }

  test("atomic version swap: marker-atomic publish, prior version untouched, torn rebuild invisible, GC bounded") {
    val s = spark
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25_vswap").toFile
    val path = idx.getAbsolutePath
    val docs = mkDocs(30).toDF("doc_id", "text")
    operators.TextAnalysis.bm25WriteImpactFrom(docs, path)
    assert(graft.sources.Lake.committedVersions(s, path) == Seq(1L),
      "a fresh build must publish exactly version 1")
    // tombstone the evens INSIDE v=1, then fingerprint every v=1 file
    operators.TextAnalysis.bm25MarkDeleted(s, path,
      docs.filter(col("doc_id") % 2 === 0).select(col("doc_id")))
    def filesOf(d: java.io.File): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[(String, (Long, Long))] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq((f.getAbsolutePath, (f.length, f.lastModified)))
      walk(d).toMap
    }
    val v1 = new java.io.File(idx, "v=1")
    val v1Files = filesOf(v1)
    val v1Serve = operators.TextAnalysis.bm25ServeFromLive(s, path,
      k = 100, qMod = 1).localCheckpoint()
    // a TORN rebuild = a version directory with data but no marker:
    // no reader ever resolves it
    val torn = new java.io.File(idx, "v=7")
    docs.limit(1).write.parquet(s"${torn.getAbsolutePath}/stats")
    assert(graft.sources.Lake.currentVersionDir(s, path).get.endsWith("v=1"),
      "an unpublished version directory must be invisible to readers")
    // the refresh publishes ATOMICALLY as v=8 — numbering skips past
    // the torn leftover so its stale files can never shadow the write
    assert(operators.TextAnalysis.bm25RefreshIfStale(docs, path, eps = 0.1))
    assert(graft.sources.Lake.committedVersions(s, path) == Seq(1L, 8L),
      "publish must skip the torn directory's number and retain v=1")
    // the in-flight readers' grace period: v=1 still complete and
    // byte-untouched, and still serves its exact pre-swap answer
    assert(filesOf(v1) == v1Files,
      "the previous version must survive the swap byte-identically")
    // a reader that resolved v=1 before the swap reads live files: its
    // postings (minus its tombstones) still reconstruct the exact
    // doc set the pre-swap masked serve saw
    val v1LiveDocs = s.read.parquet(s"$path/v=1/postings")
      .join(s.read.parquet(s"$path/v=1/deletes"), Seq("doc_id"), "left_anti")
      .select(col("doc_id")).distinct()
    assert(v1LiveDocs.count() == 15 &&
      v1Serve.select(col("doc_id")).distinct()
        .exceptAll(v1LiveDocs).count() == 0,
      "an in-flight v=1 reader must still see its complete pinned state")
    // the new version starts with a clean tombstone slate and serves
    // the survivor-corpus answer with fresh stats
    assert(operators.TextAnalysis.bm25DeletedFraction(s, path) == 0.0)
    val odds = docs.filter(col("doc_id") % 2 =!= 0)
    assert(sameResult(
      operators.TextAnalysis.bm25ServeFrom(s, path, k = 100, qMod = 1),
      operators.TextAnalysis.bm25Of(odds, k = 100, qMod = 1)),
      "v=8 must serve the from-scratch survivor answer")
    // second cycle: GC keeps the top two committed versions and
    // removes both v=1 and the torn leftover
    operators.TextAnalysis.bm25MarkDeleted(s, path,
      docs.filter(col("doc_id") === 1).select(col("doc_id")))
    assert(operators.TextAnalysis.bm25RefreshIfStale(odds, path, eps = 0.01))
    assert(graft.sources.Lake.committedVersions(s, path) == Seq(8L, 9L),
      "GC must retain exactly the newest two committed versions")
    assert(!v1.exists && !torn.exists,
      "GC must remove the aged-out version and the torn leftover")
    assert(sameResult(
      operators.TextAnalysis.bm25ServeFrom(s, path, k = 100, qMod = 1),
      operators.TextAnalysis.bm25Of(odds.filter(col("doc_id") =!= 1),
        k = 100, qMod = 1)),
      "v=9 must serve the twice-survived corpus from scratch")
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    spark.catalog.clearCache()
  }

  test("serve guard: a corpus entirely under the 3-token shingle floor serves empty, never a schemaless-store crash") {
    val s = spark
    import s.implicits._
    val TA = operators.TextAnalysis
    // every doc has non-empty text but < 3 tokens: the tf table is
    // empty (bm25TfTable's size >= 3 floor) while the old
    // "any non-empty text" guard would NOT fire — serving then wrote
    // a postings store with zero partitions and crashed read-back on
    // schema inference
    val tmp = java.nio.file.Files.createTempDirectory("graft_shortdocs").toString
    Seq((1L, "one two", "en", "srcA", 7L), (2L, "hi", "en", "srcB", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    assert(TA.corpusTokenFree(spark, tmp),
      "1-2-token docs are below the shingle floor: token-free for the serve paths")
    assert(TA.bm25IndexServe(spark, tmp).count() == 0,
      "short-doc corpus must serve the empty frame")
    assert(TA.bm25StaleServe(spark, tmp).count() == 0)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    spark.catalog.clearCache()
  }

  test("nbScore: a single-class train split classifies nothing (the oracle's empty answer), never all-drop") {
    val s = spark
    import s.implicits._
    val TA = operators.TextAnalysis
    // every doc keep-labeled by the teacher: no drop prior exists, so
    // pred would compare against NULL and flip all-keep evidence to
    // all-drop while the oracle's cross join returns zero rows
    val docs = (1L to 20L).map(i => (i, s"plain ordinary content piece $i"))
      .toDF("doc_id", "text")
    val (model, priors) = TA.nbTrain(docs, 64)
    assert(priors.select($"label").distinct().count() == 1,
      "corpus must actually be single-class for this probe")
    assert(TA.nbScore(docs, model, priors, 64).count() == 0,
      "an un-trainable classifier must classify nothing, matching the oracle")
    spark.catalog.clearCache()
  }

  test("phrase_retrieve: exact adjacency counts, order sensitivity, anchor-swap equality") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "x y x y x y"), // "x y" at 0, 2, 4
      (2L, "y x y x"),     // "x y" once (pos 1); "y x" twice
      (3L, "x x y y"),     // "x y" once; "x x" once
      (4L, "z z z z")      // "z z" three times, no x/y
    ).toDF("doc_id", "text")
    // qMod = 1: every doc queries its own leading bigram
    val got = operators.TextAnalysis.phraseOf(docs, k = 10, qMod = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getInt(3))).toMap
    // query 1 = (x, y): doc1 3x, doc2 1x, doc3 1x — count desc, id tiebreak
    assert(got((1L, 1L)) == ((3L, 1)) && got((1L, 2L)) == ((1L, 2)) &&
      got((1L, 3L)) == ((1L, 3)))
    // query 2 = (y, x): ORDER MATTERS — doc1 2x, doc2 2x, doc3 zero
    assert(got((2L, 1L)) == ((2L, 1)) && got((2L, 2L)) == ((2L, 2)))
    assert(!got.contains((2L, 3L)), "'y x' never occurs in doc 3 ('x x y y')")
    // query 3 = (x, x), query 4 = (z, z): overlapping starts all count
    assert(got((3L, 3L)) == ((1L, 1)) && got((4L, 4L)) == ((3L, 1)))
    assert(!got.contains((1L, 4L)) && !got.contains((4L, 1L)))

    // anchor-swap equality: a corpus where one phrase leads with the
    // COMMON term and another with the RARE term — both anchors fire,
    // and the result must equal the naive t1-first formulation
    val skew = Seq(
      (10L, "the rare " + (1 to 50).map(_ => "the").mkString(" ")),
      (11L, "rare the " + (1 to 50).map(_ => "filler").mkString(" ")),
      (12L, "the rare the rare pad"),
      (13L, "rare the rare the pad")
    ).toDF("doc_id", "text")
    val fast = operators.TextAnalysis.phraseOf(skew, k = 10, qMod = 1)
    val pos = skew.withColumn("w", split(trim($"text"), "\\s+"))
      .select($"doc_id", posexplode($"w")).select($"doc_id", $"pos".as("p"), $"col".as("token"))
    val panel = skew.withColumn("w", split(trim($"text"), "\\s+"))
      .select($"doc_id".as("query_id"), $"w".getItem(0).as("t1"), $"w".getItem(1).as("t2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"n_occ".desc, $"doc_id")
    val naive = pos.join(panel, $"token" === $"t1")
      .select($"query_id", $"doc_id", $"p", $"t2")
      .join(pos.select($"doc_id", ($"p" - 1).as("p"), $"token".as("nxt")), Seq("doc_id", "p"))
      .filter($"nxt" === $"t2")
      .groupBy($"query_id", $"doc_id").agg(count(lit(1)).as("n_occ"))
      .withColumn("rank_phrase", row_number().over(w))
      .filter($"rank_phrase" <= 10)
    assert(fast.exceptAll(naive).count() == 0 && naive.exceptAll(fast).count() == 0,
      "rarest-first anchoring must be answer-invisible")
    spark.catalog.clearCache()
  }

  test("bpe deep rounds: 16-round merges use whitespace-safe sentinels and round-trip cleanly") {
    val s = spark
    import s.implicits._
    val TA = operators.TextAnalysis
    val words = Tables.fanout(Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("text")))
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    val merges = TA.bpeMergesOf(words, rounds = 16).orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(merges.length == 16, s"the sf corpus supports 16 rounds: ${merges.length}")
    // later merges may embed earlier sentinels, but NEVER a whitespace
    // code point (chr 9-13) — the gap bpeSentinel exists for
    assert(merges.forall { case (_, m) => !m.exists(c => c >= 9 && c <= 13) },
      "no merge string may contain a whitespace-range sentinel")
    // encode/expand round-trip: expanded tokens contain no control
    // chars at all (full reverse-round expansion)
    val vocab = TA.bpeEncodeOf(words, rounds = 16).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(vocab.forall { case (_, tok, _) => !tok.exists(_ < 32) },
      "every encoded symbol must expand back to sentinel-free text")
    // symbol mass is conserved: total expanded chars == total word chars
    val wordChars = words.agg(org.apache.spark.sql.functions
      .sum(length(col("w")))).head().getLong(0)
    val expandedChars = vocab.map { case (_, tok, n) => tok.length * n }.sum
    assert(expandedChars == wordChars,
      s"expansion must conserve characters: $expandedChars vs $wordChars")
    spark.catalog.clearCache()
  }

  test("phrase_serve: the bucket-pruned persisted index reproduces the from-scratch answer; external panel serves") {
    val s = spark
    import s.implicits._
    val TA = operators.TextAnalysis
    // lifecycle parity on the sf corpus through the gate entry
    val served = TA.phraseServeGate(spark, sf).orderBy("query_id", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val scratch = TA.phraseRetrieve(spark, sf).orderBy("query_id", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(served.toSeq == scratch.toSeq,
      "persisted-index phrase serve must equal the from-scratch retrieval")
    // an EXTERNAL panel (tokens the corpus builder never saw as a
    // query) serves correctly against a small planted index
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta"),
      (2L, "beta alpha beta gamma"),
      (3L, "gamma gamma alpha")
    ).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("phrase_idx").toString
    TA.phraseIndexWrite(docs, idx, nBuckets = 8)
    val out = TA.phraseServe(spark,
        idx, Seq((100L, "alpha", "beta")).toDF("query_id", "t1", "t2"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
    // doc1: "alpha beta" at 0 and 3; doc2: once; doc3: never
    assert(out.toSeq == Seq((1L, 2L, 1), (2L, 1L, 2)),
      s"external phrase query wrong: ${out.toSeq}")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
    spark.catalog.clearCache()
  }
}
