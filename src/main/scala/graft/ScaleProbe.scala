package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** STRUCTURAL scale probe for the incremental-index claims — the
  * 100 TB arguments ("append is O(batch), not O(index)", "retrain
  * rewrites ∝ churn", "a serve reads only the batch's buckets")
  * asserted from task metrics instead of plan prose. The probe builds
  * each index twice — once on the base corpus, once on an R×
  * replicated corpus — and measures the SAME maintenance operation on
  * both through [[Metrics]]:
  *
  *   - append cost axis: shuffle-write bytes of an identical batch
  *     appended to the 1× vs the R× index must be ~equal (corpus
  *     independence), while a 2× batch on the same index must cost
  *     ~2× (batch proportionality);
  *   - retrain cost axis: output rows of a retrain after a
  *     same-distribution trickle (low membership churn) vs after a
  *     shifted bulk append (high churn) — the rewrite must track the
  *     churn, not the index size;
  *   - serve cost axis: input bytes of a small-batch bucket-pruned
  *     serve vs a full scan of the same index's postings — the serve
  *     must read a strict fraction (its batch's buckets only).
  *
  * Emits SCALE_PROBE.json (measurements + per-claim verdicts) and
  * exits nonzero if any structural ratio is violated — the CI shape
  * of the claim, re-runnable at any SF
  * (`runMain graft.ScaleProbe [sfDir] [replication]`).
  */
object ScaleProbe {

  private final case class Check(name: String, value: Double, bound: String,
                                 pass: Boolean, detail: String)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rep = if (args.length > 1) args(1).toInt else 8
    val spark = GraftSession.local(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val m = new Metrics(spark)
    val checks = Seq.newBuilder[Check]
    def ratio(name: String, num: Double, den: Double, lo: Double, hi: Double,
              detail: String): Unit = {
      val r = if (den == 0) Double.NaN else num / den
      checks += Check(name, r, s"[$lo, $hi]", r >= lo && r <= hi,
        s"$detail (num=$num den=$den)")
    }
    def tmp(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"graft_scale_$tag").toString
    def scope(name: String)(body: => Unit): Metrics.Op = {
      m.measure(name)(body)
      System.gc()
      m.snapshot.reverse.find(_.name == name).get
    }

    // ---- corpora: base (1×) and replicated (R×) -------------------
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
      .localCheckpoint()
    val nDocs = docs.count()
    // replicas are TOKEN-DISJOINT (every word carries its copy tag): a
    // real crawl grows with new content, not verbatim re-crawls — a
    // verbatim ×R copy would multiply every shingle's df by R, turn
    // the whole corpus boilerplate-hot, and measure that degeneracy
    // instead of the index's pruning structure
    val bigDocs = Tables.fanout(
      (0 until rep).map(i => docs.select(($"doc_id" + lit(i * 10000000L))
        .as("doc_id"),
        (if (i == 0) $"text"
         else regexp_replace($"text", "(\\S+)", s"c$i" + "_$1")).as("text")))
        .reduce(_ unionAll _)).localCheckpoint()
    val emb = Tables.embeddings(spark, sfDir).localCheckpoint()
    val bigEmb = Tables.fanout(
      (0 until rep).map(i => emb.select(($"vec_id" + lit(i * 10000000L))
        .as("vec_id"), $"embedding", $"label")).reduce(_ unionAll _))
      .localCheckpoint()
    // append batches live in a disjoint id namespace
    def docBatch(n: Long, off: Long): DataFrame = Tables.fanout(
      docs.filter($"doc_id" < n).select(($"doc_id" + lit(off)).as("doc_id"), $"text"))
    def vecBatch(n: Long, off: Long, shift: Boolean): DataFrame = Tables.fanout(
      emb.filter($"vec_id" < n).select(($"vec_id" + lit(off)).as("vec_id"),
        (if (shift) expr("transform(embedding, x -> x + float(2.0))")
         else $"embedding").as("embedding"), $"label"))

    // ---- claim 1: raw-BM25 append is O(batch), not O(index) -------
    val (bmS, bmB) = (tmp("bm_s"), tmp("bm_b"))
    operators.TextAnalysis.bm25WriteRaw(Tables.fanout(docs), bmS)
    operators.TextAnalysis.bm25WriteRaw(bigDocs, bmB)
    val b1s = scope("bm25_append_1x_small") {
      operators.TextAnalysis.bm25Append(docBatch(250, 100000000L), bmS)
    }
    val b2s = scope("bm25_append_1x_double") {
      operators.TextAnalysis.bm25Append(docBatch(500, 200000000L), bmS)
    }
    val b1b = scope(s"bm25_append_${rep}x_small") {
      operators.TextAnalysis.bm25Append(docBatch(250, 100000000L), bmB)
    }
    ratio("bm25_append_batch_prop", b2s.shuffleWriteBytes.toDouble,
      b1s.shuffleWriteBytes.toDouble, 1.3, 3.0,
      "2x batch onto the same index must shuffle ~2x the bytes")
    ratio("bm25_append_corpus_indep", b1b.shuffleWriteBytes.toDouble,
      b1s.shuffleWriteBytes.toDouble, 0.5, 1.5,
      s"same batch onto a ${rep}x index must shuffle ~the same bytes")

    // ---- claim 2: IVF append is O(batch), not O(index) ------------
    val (ivS, ivB) = (tmp("ivf_s"), tmp("ivf_b"))
    operators.Similarity.ivfWriteFrom(emb, ivS)
    operators.Similarity.ivfWriteFrom(bigEmb, ivB)
    val v1s = scope("ivf_append_1x_small") {
      operators.Similarity.ivfAppend(spark, ivS, vecBatch(200, 100000000L, shift = false))
    }
    val v2s = scope("ivf_append_1x_double") {
      operators.Similarity.ivfAppend(spark, ivS, vecBatch(400, 200000000L, shift = false))
    }
    val v1b = scope(s"ivf_append_${rep}x_small") {
      operators.Similarity.ivfAppend(spark, ivB, vecBatch(200, 100000000L, shift = false))
    }
    ratio("ivf_append_batch_prop", v2s.shuffleWriteBytes.toDouble,
      v1s.shuffleWriteBytes.toDouble, 1.3, 3.0,
      "2x vector batch must shuffle ~2x the bytes")
    ratio("ivf_append_corpus_indep", v1b.shuffleWriteBytes.toDouble,
      v1s.shuffleWriteBytes.toDouble, 0.5, 1.5,
      s"same vector batch onto a ${rep}x index must shuffle ~the same bytes")

    // ---- claim 3: IVF retrain rewrites ∝ membership churn ---------
    // cell granularity is the rewrite unit, so the probe needs enough
    // cells for a trickle to leave most untouched (nlist=16 over 2k
    // vectors makes EVERY cell own a boundary flipper; production
    // nlist scales with the corpus — model that with 64 cells here)
    val retrainNlist = 64
    // the build runs ONE Lloyd step, so the first retrains measure
    // k-means convergence, not maintenance churn — burn the index in
    // until membership is Lloyd-stable, as a production index is by
    // the time a maintenance tick measures it
    def converged(path: String): Unit = {
      operators.Similarity.ivfWriteFrom(emb, path, nlist = retrainNlist)
      (0 until 4).foreach(_ => operators.Similarity.ivfRetrain(spark, path))
    }
    // low churn: a same-distribution trickle nudges the centroids;
    // only boundary vectors reassign, so few cells rewrite
    val ivLow = tmp("ivf_low")
    converged(ivLow)
    operators.Similarity.ivfAppend(spark, ivLow, vecBatch(50, 100000000L, shift = false))
    val lowRetrain = scope("ivf_retrain_low_churn") {
      operators.Similarity.ivfRetrain(spark, ivLow)
    }
    // high churn: a shifted bulk append drags every centroid; most
    // vectors reassign and most cells rewrite
    val ivHigh = tmp("ivf_high")
    converged(ivHigh)
    operators.Similarity.ivfAppend(spark, ivHigh, vecBatch(2000, 100000000L, shift = true))
    val highRetrain = scope("ivf_retrain_high_churn") {
      operators.Similarity.ivfRetrain(spark, ivHigh)
    }
    ratio("ivf_retrain_churn_prop", highRetrain.outputRows.toDouble,
      math.max(lowRetrain.outputRows, 1L).toDouble, 2.0, Double.MaxValue,
      "a high-churn retrain must rewrite strictly more rows than a trickle's")
    val nLow = emb.count() + 50
    checks += Check("ivf_retrain_low_churn_bounded",
      lowRetrain.outputRows.toDouble / nLow, "< 0.9",
      lowRetrain.outputRows.toDouble / nLow < 0.9,
      s"low-churn retrain must NOT rewrite the whole index " +
        s"(rewrote ${lowRetrain.outputRows} of $nLow live rows)")

    // ---- claim 4: bucket-pruned serves read ∝ the batch's buckets -
    val lin = tmp("line")
    operators.TextAnalysis.lineIndexWrite(bigDocs, lin, nBuckets = 512)
    // pruning bites when the batch's distinct shingles ≪ bucket count
    // (each doc carries ~50 shingles ≈ 50 buckets touched): 2 docs vs
    // 512 buckets models a small nightly batch vs a corpus-sized index
    val tiny = Tables.fanout(docs.filter($"doc_id" < 2)
      .select(($"doc_id" + 300000000L).as("doc_id"), $"text"))
      .localCheckpoint()
    // the baseline FORCES a real read of the serve's columns — a bare
    // count() on parquet answers from footers and reads ~no bytes
    val pruned = scope("line_serve_pruned") {
      operators.TextAnalysis.lineDedupServe(spark, lin, tiny).count()
    }
    val full = scope("line_index_full_scan") {
      spark.read.parquet(s"$lin/lines")
        .agg(bit_xor(xxhash64($"line", $"doc_id", $"batch_id"))).head()
    }
    ratio("line_serve_bucket_pruned", pruned.inputBytes.toDouble,
      full.inputBytes.toDouble, 0.0, 0.5,
      "a tiny-batch serve must read a strict fraction of the line index")
    // phrase postings (C23i): a one-query serve routes its TWO tokens
    // to their buckets and reads nothing else — the sharpest pruning
    // of the family (2 of 512 buckets, vs a batch's ~50 lines)
    val ph = tmp("phrase")
    operators.TextAnalysis.phraseIndexWrite(bigDocs, ph, nBuckets = 512)
    val onePanel = Tables.fanout(docs.filter($"doc_id" === 0)
      .select($"doc_id".as("query_id"),
        split(trim($"text"), "\\s+").getItem(0).as("t1"),
        split(trim($"text"), "\\s+").getItem(1).as("t2")))
      .localCheckpoint()
    // correctness of the serve itself (answer checked elsewhere); the
    // byte claim scopes a REPRODUCTION of its pruned postings scan
    // alone — the serve's localCheckpoint re-reads count as
    // inputBytes and would drown the scan (the r14 scoping lesson)
    operators.TextAnalysis.phraseServe(spark, ph, onePanel).count()
    val qTok = onePanel.select($"t1".as("token"))
      .unionAll(onePanel.select($"t2".as("token"))).distinct().localCheckpoint()
    val bks = qTok.select(pmod(xxhash64($"token"), lit(512)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val prunedPh = scope("phrase_serve_pruned_scan") {
      spark.read.parquet(s"$ph/pos")
        .filter($"bucket".cast("int").isin(bks: _*))
        .join(broadcast(qTok), Seq("token"), "left_semi")
        .agg(bit_xor(xxhash64($"token", $"doc_id", $"p"))).head()
    }
    val fullPh = scope("phrase_index_full_scan") {
      spark.read.parquet(s"$ph/pos")
        .agg(bit_xor(xxhash64($"token", $"doc_id", $"p"))).head()
    }
    ratio("phrase_serve_bucket_pruned", prunedPh.inputBytes.toDouble,
      fullPh.inputBytes.toDouble, 0.0, 0.25,
      "a one-query phrase serve must read only its two tokens' buckets")
    val sig = tmp("sig")
    // bucket granularity bounds the pruning: a 5-doc batch carries ~30
    // distinct shingles, so the bucket count must comfortably exceed
    // that for per-bucket pruning to bite (production sizes it to the
    // corpus; 64 buckets would saturate at ~half the index)
    operators.NearDup.dedupIndexWrite(bigDocs, sig, nBuckets = 512)
    val prunedSig = scope("dedup_serve_pruned") {
      operators.NearDup.dedupServe(spark, sig, tiny).count()
    }
    val fullSig = scope("dedup_index_full_scan") {
      spark.read.parquet(s"$sig/postings")
        .agg(bit_xor(xxhash64($"sh", $"doc_id", $"batch_id"))).head()
    }
    val sizesScan = scope("dedup_sizes_scan") {
      spark.read.parquet(s"$sig/sizes")
        .agg(bit_xor(xxhash64($"doc_id", $"n_raw", $"batch_id"))).head()
    }
    // the stats sidecars replace the old O(postings) df/size
    // aggregates: a small-batch serve reads its buckets + the hot
    // candidates' buckets of the POSTINGS, plus the O(docs) sizes
    // sidecar. Assert each half: the postings read beyond the sidecar
    // is bucket-bounded, and the sidecar itself is smaller than the
    // postings (it is one row per DOC — on this synthetic corpus docs
    // are only ~50 shingles so the gap is thin; real text widens it)
    ratio("dedup_serve_bucket_pruned",
      (prunedSig.inputBytes - sizesScan.inputBytes).toDouble,
      fullSig.inputBytes.toDouble, 0.0, 0.5,
      "a tiny-batch serve's postings read (beyond the O(docs) sizes sidecar) must be bucket-bounded")
    ratio("dedup_sizes_sidecar_bounded", sizesScan.inputBytes.toDouble,
      fullSig.inputBytes.toDouble, 0.0, 1.0,
      "the per-doc sizes sidecar must undercut the postings it replaces")

    // ---- claim 4b: bucket count is the serve-read knob -------------
    // the serve reads the batch's + hot candidates' BUCKETS in full,
    // so its read fraction must SHRINK as the bucket count grows —
    // the dial a 100 TB deployment turns (SURVEY §5 sizing rule:
    // nBuckets ≫ distinct shingles per serving batch). Same corpus,
    // same tiny batch, 64 vs 512 buckets.
    val sig64 = tmp("sig64")
    operators.NearDup.dedupIndexWrite(bigDocs, sig64, nBuckets = 64)
    val prunedSig64 = scope("dedup_serve_pruned_64b") {
      operators.NearDup.dedupServe(spark, sig64, tiny).count()
    }
    val fullSig64 = scope("dedup_index_full_scan_64b") {
      spark.read.parquet(s"$sig64/postings")
        .agg(bit_xor(xxhash64($"sh", $"doc_id", $"batch_id"))).head()
    }
    val frac512 = (prunedSig.inputBytes - sizesScan.inputBytes).toDouble /
      fullSig.inputBytes
    val frac64 = (prunedSig64.inputBytes - sizesScan.inputBytes).toDouble /
      fullSig64.inputBytes
    ratio("dedup_serve_bucket_scaling", frac512, frac64, 0.0, 0.7,
      "8x the buckets must shrink a tiny-batch serve's read fraction " +
        s"(frac512=$frac512 frac64=$frac64)")

    // ---- claim 5: dedup-signature append is O(batch), not O(index) -
    // the cap-crossing probe reads the df-DELTA sidecar (per-shingle
    // per-batch counts), never the accumulated posting lists — so an
    // identical batch appended to the 1x and the Rx index shuffles
    // ~the same bytes (claim-4's `sig` IS the Rx index; serve
    // measurements above are done, so mutating it now is safe)
    val sigSmall = tmp("sig_app_s")
    operators.NearDup.dedupIndexWrite(Tables.fanout(docs), sigSmall,
      nBuckets = 512)
    val g1s = scope("dedup_append_1x_small") {
      operators.NearDup.dedupIndexAppend(docBatch(250, 100000000L), sigSmall)
    }
    val g2s = scope("dedup_append_1x_double") {
      operators.NearDup.dedupIndexAppend(docBatch(500, 200000000L), sigSmall)
    }
    val g1b = scope(s"dedup_append_${rep}x_small") {
      operators.NearDup.dedupIndexAppend(docBatch(250, 100000000L), sig)
    }
    ratio("dedup_append_batch_prop", g2s.shuffleWriteBytes.toDouble,
      g1s.shuffleWriteBytes.toDouble, 1.3, 3.0,
      "2x batch onto the same signature index must shuffle ~2x the bytes")
    ratio("dedup_append_corpus_indep", g1b.shuffleWriteBytes.toDouble,
      g1s.shuffleWriteBytes.toDouble, 0.5, 1.5,
      s"same batch onto a ${rep}x signature index must shuffle ~the same bytes")

    // ---- claim 5b: the append's detection READ is bounded ----------
    // shuffle independence (claim 5) is not the whole story: the
    // cap-crossing detection READS the touched buckets' dfs delta
    // history, which grows with appends-per-bucket until a vacuum
    // recompacts. Two input-bytes bounds: (a) a tiny-batch append on
    // the Rx index reads a strict fraction of the POSTINGS the r12
    // design rescanned in full — the sidecar replaces the store, and
    // bucket pruning bites; (b) after appends bloat the history, ONE
    // vacuum recompacts dfs to live counts and the same tiny append
    // reads materially less — the compaction arm the retention tick
    // now triggers on dedupDfsReclaimableFraction.
    def tinyBatch(off: Long): org.apache.spark.sql.DataFrame = Tables.fanout(
      docs.filter($"doc_id" < 5)
        .select(($"doc_id" + lit(off)).as("doc_id"), $"text"))
    // isolate the DETECTION read itself (the dfs rows the cap-crossing
    // sum scans for this batch's buckets): scoping the whole append
    // would conflate it with cached-block reads of the corpus frame
    // the batch is filtered from, which count as input bytes too
    val touchedTiny = operators.NearDup.shinglePostings(tinyBatch(300000000L))
      .select(pmod($"sh", lit(512)).cast("int").as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val detScan = scope(s"dedup_detection_scan_${rep}x") {
      spark.read.parquet(s"$sig/dfs")
        .filter($"bucket".cast("int").isin(touchedTiny: _*))
        .agg(bit_xor(xxhash64($"sh", $"n_new"))).head()
    }
    val postingsScanB = scope(s"dedup_postings_scan_${rep}x_post") {
      spark.read.parquet(s"$sig/postings")
        .agg(bit_xor(xxhash64($"sh", $"doc_id", $"batch_id"))).head()
    }
    ratio("dedup_append_input_indep", detScan.inputBytes.toDouble,
      postingsScanB.inputBytes.toDouble, 0.0, 0.5,
      s"a tiny-batch append's detection read on the ${rep}x index " +
        "(bucket-pruned dfs sidecar) must be a strict fraction of the " +
        "postings store the pre-r13 rescan read in full")
    // bloat sigSmall's history with repeated same-content appends,
    // then show one vacuum shrinks the identical tiny append's read
    (0 until 3).foreach { i =>
      operators.NearDup.dedupIndexAppend(
        docBatch(1000, 500000000L + i * 10000000L), sigSmall)
    }
    val preVac = scope("dedup_append_tiny_prevac") {
      operators.NearDup.dedupIndexAppend(tinyBatch(310000000L), sigSmall)
    }
    operators.NearDup.dedupIndexVacuum(spark, sigSmall,
      maxFilesPerBucket = 1000)
    val postVac = scope("dedup_append_tiny_postvac") {
      operators.NearDup.dedupIndexAppend(tinyBatch(320000000L), sigSmall)
    }
    ratio("dedup_vacuum_compacts_dfs", postVac.inputBytes.toDouble,
      preVac.inputBytes.toDouble, 0.0, 0.7,
      "one vacuum must recompact the dfs delta history a run of appends " +
        "accumulated (the detection read resets to the live floor)")

    // ---- claim 6: substring STRIP volume is linear in the corpus ---
    // the strip's strike path (shared-window semi-join + per-doc
    // interval merge + reassembly) must shuffle ∝ total selected
    // windows — a per-window all-pairs formulation would blow up
    // quadratically in the duplication density. Each replica carries
    // its own partial re-crawl twins (token-disjoint across replicas,
    // duplication WITHIN each), so the R× corpus has R× the shared
    // windows and the shuffle must scale ~R×, never R².
    def stripCorpus(d: DataFrame): DataFrame = {
      val base = d.select($"doc_id",
        lower(trim(regexp_replace($"text", "\\s+", " "))).as("norm"))
      base.unionAll(base.select(($"doc_id" + lit(500000000L)).as("doc_id"),
        concat(expr("substring(norm, 1, (length(norm) * 3) div 5)"),
          lit(" zztail"),
          ($"doc_id" + lit(500000000L)).cast("string")).as("norm")))
    }
    // the strip replicas must be content-disjoint at IDENTICAL length
    // (bigDocs' token prefixes inflate chars ~1.4x, and windows scale
    // with chars — the probe would measure the inflation, not the
    // claimed linearity): a per-replica Caesar shift keeps every
    // byte count while making the window hashes disjoint
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val stripBig = Tables.fanout((0 until rep).map { i =>
      val shifted = alpha.drop(i) + alpha.take(i)
      docs.select(($"doc_id" + lit(i * 10000000L)).as("doc_id"),
        (if (i == 0) $"text" else translate($"text", alpha, shifted)).as("text"))
    }.reduce(_ unionAll _)).localCheckpoint()
    val st1 = scope("strip_1x") {
      graft.operators.NearDup.substringStripOf(stripCorpus(docs), 64, 8)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    val stR = scope(s"strip_${rep}x") {
      graft.operators.NearDup.substringStripOf(stripCorpus(stripBig), 64, 8)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    ratio("strip_volume_linear", stR.shuffleWriteBytes.toDouble,
      st1.shuffleWriteBytes.toDouble, 0.5 * rep, 1.6 * rep,
      s"the ${rep}x twinned corpus must shuffle ~${rep}x the bytes " +
        "(linear strike/merge/reassembly, never pair-quadratic)")

    // ---- claim 7: learned-filter selection volume is linear --------
    // the DSIR selector's whole lifecycle (model fit + threshold order
    // statistic + scoring) must read ∝ corpus: the model is
    // dim-row-bounded by the hashing trick and fitted from one fold of
    // slot sums, scoring is a per-document projection, and the
    // k-th-largest threshold goes through a coarse value-bucketed
    // driver histogram and one in-bucket top — none of them shuffles
    // the corpus, so the lifecycle's volume is the rows its passes
    // read, which must grow with the corpus and no faster (never
    // pairwise, never a pass per distinct value).
    val ds1 = scope("dsir_1x") {
      graft.operators.TextAnalysis.dsirSelectOf(docs, 64, 0.25)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    val dsR = scope(s"dsir_${rep}x") {
      graft.operators.TextAnalysis.dsirSelectOf(bigDocs, 64, 0.25)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    ratio("dsir_volume_linear", dsR.inputRows.toDouble,
      ds1.inputRows.toDouble, 0.5 * rep, 1.8 * rep,
      s"the ${rep}x corpus must read ~${rep}x the rows through " +
        "fit+threshold+score (dim-bounded model, histogram quantile — " +
        "never a corpus sort or shuffle)")

    // ---- claim 8: the Gopher rule verdict's volume is linear --------
    // the full rule table (scalar stats + bigram + 5-gram legs + the
    // per-doc top-2-gram window) must shuffle ∝ corpus tokens: every
    // leg is an explode→partial-agg keyed by doc and the window
    // partitions per doc — nothing is pairwise, nothing corpus-global.
    val gr1 = scope("gopher_1x") {
      graft.operators.TextAnalysis.gopherRulesOf(docs)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    val grR = scope(s"gopher_${rep}x") {
      graft.operators.TextAnalysis.gopherRulesOf(bigDocs)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    ratio("gopher_volume_linear", grR.shuffleWriteBytes.toDouble,
      gr1.shuffleWriteBytes.toDouble, 0.5 * rep, 1.8 * rep,
      s"the ${rep}x corpus must shuffle ~${rep}x the bytes through all " +
        "three rule legs (per-doc explode-aggs + per-doc window — " +
        "never pairwise)")

    // ---- claim 9: the KN bigram LM's state is type-bounded ---------
    // The LM tables (cb/fwd/bwd) are bigram-TYPE-bounded: replicating
    // the corpus adds COUNTS, never types — at 100 TB the model a
    // scorer joins against is vocabulary-sized, not corpus-sized.
    // Probed directly on the state (cb row counts, 1x vs Rx must be
    // EQUAL), plus an at-most-linear bound on total shuffle (both
    // sides fanout'd so task-count effects cancel; the lower side is
    // deliberately loose — at this tiny SF the fixed per-task type
    // partials dominate the data term, so the ratio sits well UNDER
    // linear; the claim that matters is never-superlinear/pairwise).
    // a VERBATIM ×R copy (bigDocs is deliberately token-disjoint, which
    // grows the vocabulary itself — the wrong axis for this claim)
    val knRep = Tables.fanout(
      (0 until rep).map(i => docs.select(($"doc_id" + lit(i * 10000000L))
        .as("doc_id"), $"text")).reduce(_ unionAll _)).localCheckpoint()
    val knTypes1 = graft.operators.TextAnalysis
      .knBigramTypes(Tables.fanout(docs)).count()
    val knTypesR = graft.operators.TextAnalysis
      .knBigramTypes(knRep).count()
    ratio("kn_lm_type_bounded", knTypesR.toDouble, knTypes1.toDouble,
      0.999, 1.001,
      s"a verbatim ${rep}x replication must train the SAME bigram-type " +
        s"table ($knTypesR vs $knTypes1 rows — counts grow, types don't)")
    val kn1 = scope("kn_1x") {
      graft.operators.TextAnalysis.knBigramOf(Tables.fanout(docs))
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    val knR = scope(s"kn_${rep}x") {
      graft.operators.TextAnalysis.knBigramOf(bigDocs)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    ratio("kn_volume_at_most_linear", knR.shuffleWriteBytes.toDouble,
      kn1.shuffleWriteBytes.toDouble, 0.5, 1.8 * rep,
      s"the ${rep}x corpus must shuffle at MOST ~${rep}x the bytes " +
        "through LM fit + scoring (type-bounded tables, broadcast " +
        "scalar — never pairwise)")

    // ---- claim: KN store append is O(batch), not O(store) ---------
    // (the bm25/IVF append axes for the C21i delta log: a 2x batch
    // folds ~2x the bytes, the same batch onto an 8x-corpus store
    // folds ~the same — the append never re-reads corpus or store)
    val (knS, knB) = (tmp("kn_s"), tmp("kn_b"))
    graft.operators.TextAnalysis.knStoreWrite(Tables.fanout(docs), knS)
    graft.operators.TextAnalysis.knStoreWrite(bigDocs, knB)
    val k1s = scope("kn_append_1x_small") {
      graft.operators.TextAnalysis.knStoreAppend(docBatch(250, 100000000L), knS)
    }
    val k2s = scope("kn_append_1x_double") {
      graft.operators.TextAnalysis.knStoreAppend(docBatch(500, 200000000L), knS)
    }
    val k1b = scope(s"kn_append_${rep}x_small") {
      graft.operators.TextAnalysis.knStoreAppend(docBatch(250, 100000000L), knB)
    }
    ratio("kn_append_batch_prop", k2s.shuffleWriteBytes.toDouble,
      k1s.shuffleWriteBytes.toDouble, 1.3, 3.0,
      "2x batch onto the same LM store must shuffle ~2x the bytes")
    ratio("kn_append_corpus_indep", k1b.shuffleWriteBytes.toDouble,
      k1s.shuffleWriteBytes.toDouble, 0.5, 1.5,
      s"same batch onto a ${rep}x-corpus LM store must shuffle ~the same bytes")

    // ---- claim: mm phash serve reads only the batch's band buckets --
    // (the byte claim scopes a REPRODUCTION of the pruned postings
    // scan alone — the r14 scoping lesson, as with phrase_serve)
    val mmIdx = tmp("phash")
    val MM = graft.operators.Multimodal
    MM.phashIndexWrite(Tables.fanout(
      MM.bmpTable(spark, sfDir).select($"doc_id", $"payload")), mmIdx,
      nBuckets = 512)
    // ONE arriving image (the phrase-probe posture): at tiny SFs a
    // wider twin batch touches most of the index's band keys and the
    // measurement saturates on batch size, not pruning structure
    val twinBatch = Tables.fanout(MM.bmpTwinTable(spark, sfDir)
      .filter($"doc_id" < 1000003L)).localCheckpoint()
    MM.mmPhashServe(spark, mmIdx, twinBatch).count()
    val tKeys = MM.phashFrame(twinBatch)
      .select(posexplode($"bands"))
      .select($"pos".as("band_idx"), $"col".as("band_val"))
      .distinct().localCheckpoint()
    val mmBks = tKeys
      .select(pmod(xxhash64($"band_idx", $"band_val"), lit(512))
        .cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val prunedMm = scope("mm_serve_pruned_scan") {
      spark.read.parquet(s"$mmIdx/bands")
        .filter($"bucket".cast("int").isin(mmBks: _*))
        .join(broadcast(tKeys), Seq("band_idx", "band_val"), "left_semi")
        .agg(bit_xor(xxhash64($"band_idx", $"band_val", $"doc_id"))).head()
    }
    val fullMm = scope("mm_index_full_scan") {
      spark.read.parquet(s"$mmIdx/bands")
        .agg(bit_xor(xxhash64($"band_idx", $"band_val", $"doc_id"))).head()
    }
    ratio("mm_serve_bucket_pruned", prunedMm.inputBytes.toDouble,
      fullMm.inputBytes.toDouble, 0.0, 0.25,
      "a tiny twin batch must read only its band values' buckets")

    // ---- emit ------------------------------------------------------
    val out = checks.result()
    def j(c: Check): String =
      s"""{"check":"${c.name}","ratio":${"%.4f".format(c.value)},""" +
        s""""bound":"${c.bound}","pass":${c.pass},"detail":"${c.detail}"}"""
    val json = s"""{"sf":"$sfDir","replication":$rep,"n_docs":$nDocs,""" +
      s""""checks":[${out.map(j).mkString(",")}],""" +
      s""""pass":${out.forall(_.pass)}}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("SCALE_PROBE.json"), json + "\n")
    println(json)
    out.foreach(c => println(
      f"  [${if (c.pass) "PASS" else "FAIL"}] ${c.name}%-28s ratio=${c.value}%.3f bound=${c.bound} ${c.detail}"))
    spark.stop()
    if (!out.forall(_.pass)) sys.exit(1)
  }
}
