package graft

import graft.streaming.Streams
import graft.streaming.Streams.Ev
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** E1/E2 exercised through the real streaming engine (MemoryStream →
  * micro-batches → memory sink), cross-checked against the identical
  * transform run in batch — the batch/stream parity Structured
  * Streaming is designed around. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private def evs(n: Int): Seq[Ev] = {
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    (0 until n).map { i =>
      Ev(i.toLong, t0.plusMinutes(i * 7L), i % 5L,
        if (i % 2 == 0) "click" else "view", i * 1.5)
    }
  }

  test("E1 stream_window_agg: streaming result equals batch result on the same data") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val data = evs(200)

    val source = MemoryStream[Ev]
    source.addData(data: _*)
    val q = Streams.windowAgg(source.toDF(), withWatermark = true)
      .writeStream.format("memory").queryName("e1_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    // append mode only emits finalized windows; re-run in complete mode for full compare
    val source2 = MemoryStream[Ev]
    source2.addData(data: _*)
    val q2 = Streams.windowAgg(source2.toDF())
      .writeStream.format("memory").queryName("e1_full")
      .outputMode("complete").start()
    q2.processAllAvailable()
    q2.stop()

    val streamed = s.table("e1_full")
    val batch = Streams.windowAgg(data.toDF())
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("E8 stream_window_topk: chained stateful aggs equal batch on finalized windows") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val data = evs(200)

    val source = MemoryStream[Ev]
    source.addData(data: _*)
    val q = Streams.windowTopk(source.toDF(), withWatermark = true)
      .writeStream.format("memory").queryName("e8_out")
      .outputMode("append").start()
    q.processAllAvailable()
    // a far-future sentinel pushes the watermark past every data
    // window so the chained stateful aggregations finalize them all
    source.addData(Ev(9999L,
      java.time.LocalDateTime.of(2025, 6, 1, 0, 0, 0), 0L, "click", 0.0))
    q.processAllAvailable()
    q.stop()

    val cutoff = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    val streamed = s.table("e8_out").filter(col("window_start") < cutoff)
    val batch = Streams.windowTopk(data.toDF())
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    // heavy-hitter contract: at most k rows per (window, type), ranks
    // contiguous from 1, values non-increasing within a window
    val bad = s.table("e8_out")
      .groupBy(col("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("rank_in_window")).as("maxr"))
      .filter(col("n") > 3 || col("maxr") =!= col("n"))
    assert(bad.count() == 0)
  }

  test("E5 stream_enrich: stream-static broadcast join equals batch, keeps unmatched facts") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val data = evs(100) // user_id ∈ 0..4
    val dim = (0L until 4L).map(k => (k, s"SEG$k", (k % 3).toInt))
      .toDF("c_custkey", "c_mktsegment", "c_nationkey") // user 4 unmatched

    val source = MemoryStream[Ev]
    source.addData(data: _*)
    val q = Streams.enrich(source.toDF().drop("ts"), dim)
      .writeStream.format("memory").queryName("e5_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val streamed = s.table("e5_out")
    val batch = Streams.enrich(data.toDF().drop("ts"), dim)
    assert(streamed.count() == 100)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    // left join: events without a dimension row survive with nulls
    assert(streamed.filter(col("user_id") === 4 && col("segment").isNull).count() > 0)
  }

  test("E7 stream_asof_enrich: streaming point-in-time enrichment equals batch; never a later version") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    def ts(m: Long) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0).plusMinutes(m))
    // two users, two state versions each; events straddle the versions
    val intervals = Seq(
      (0L, ts(0), 1.0, ts(60)), (0L, ts(60), 2.0, null),
      (1L, ts(30), 5.0, null)
    ).map { case (u, f, v, t) => (u, f, v, t.asInstanceOf[java.sql.Timestamp]) }
      .toDF("s_user_id", "valid_from", "state_value", "valid_to")
    val data = evs(40) // user_id ∈ 0..4, ts = i*7 minutes
    val source = MemoryStream[Streams.Ev]
    source.addData(data: _*)
    val q = Streams.asofEnrich(source.toDF(), intervals)
      .writeStream.format("memory").queryName("e7_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = s.table("e7_out")
    val batch = Streams.asofEnrich(data.toDF(), intervals)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    // point-in-time correctness: the joined version is valid AT the
    // event time — state_ts ≤ ts, and never a later version's window
    assert(streamed.filter(col("state_ts") > col("ts")).count() == 0)
    assert(streamed.filter(col("user_id") === 0L && col("ts") >= ts(60).toString
      && col("state_value") =!= 2.0).count() == 0,
      "an event after the version flip must see the NEW state")
    assert(streamed.filter(col("user_id") === 0L && col("ts") < ts(60).toString
      && col("state_value") =!= 1.0).count() == 0,
      "an event before the version flip must see the OLD state")
  }

  test("E6 stream_near_dedup: batch pair set equals C2's bucket join; stream finds twins") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // batch parity at an uncapped bucket size (cap semantics for
    // oversized buckets intentionally differ: C2 drops, E6 truncates)
    val big = Int.MaxValue
    val c2 = operators.NearDup.minhashLshDedup(s, sf, bucketCap = big)
      .select(col("id1"), col("id2"), col("est_jaccard"))
    val e6 = Streams.nearDedupTyped(Streams.bandPosts(s, sf), bucketCap = big)
      .toDF().distinct()
    assert(e6.exceptAll(c2).count() == 0 && c2.exceptAll(e6).count() == 0,
      "streaming detector (batch mode) diverges from C2's bucket join")

    // true streaming: posts arrive via MemoryStream; planted twin pairs
    // (doc, doc + 1e6) must surface as candidates
    // cap-independent twin assertion (a bucket bigger than the default
    // cap would legitimately drop late-arriving twins)
    val posts = Streams.bandPosts(s, sf).collect().toSeq
    val source = MemoryStream[Streams.BandPost]
    source.addData(posts: _*)
    val q = Streams.nearDedupTyped(source.toDS().withWatermark("ts", "1 hour"), bucketCap = big)
      .writeStream.format("memory").queryName("e6_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = s.table("e6_out")
    val nDocs = Tables.documents(s, sf)
      .filter(size(split(trim(col("text")), "\\s+")) >= 3).count()
    val twinPairs = streamed
      .filter(col("id2") === col("id1") + 1000000L && col("est_jaccard") === 1.0)
      .select(col("id1"), col("id2")).distinct().count()
    assert(twinPairs == nDocs, s"stream surfaced $twinPairs of $nDocs planted twins")
    spark.catalog.clearCache()
  }

  test("E11 stream_bm25: the incremental index serves the batch BM25 answer after every batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val docs = Tables.documents(s, sf).select(col("doc_id"), col("text"))
    def postsOf(part: org.apache.spark.sql.DataFrame): Seq[Streams.TermPost] =
      Streams.termPosts(operators.TextAnalysis.bm25TfTable(part)).collect().toSeq
    val half1 = docs.filter(col("doc_id") < 250)
    val source = MemoryStream[Streams.TermPost]
    val q = Streams.bm25Postings(source.toDS())
      .toDF().writeStream.format("memory").queryName("bm25_idx")
      .outputMode("update").start()
    // batch 1: first half of the corpus → the snapshot must serve
    // EXACTLY the batch BM25 answer over that prefix
    source.addData(postsOf(half1): _*)
    q.processAllAvailable()
    val served1 = Streams.bm25Serve(s.table("bm25_idx"))
    val batch1 = operators.TextAnalysis.bm25Of(half1)
    assert(served1.exceptAll(batch1).count() == 0 &&
      batch1.exceptAll(served1).count() == 0,
      "snapshot after batch 1 must serve the prefix-corpus BM25 answer")
    // batch 2: the rest → stats (N, avgdl), dfs, and postings all
    // shift; the refreshed snapshot must serve the full-corpus answer
    source.addData(postsOf(docs.filter(col("doc_id") >= 250)): _*)
    q.processAllAvailable()
    q.stop()
    val served2 = Streams.bm25Serve(s.table("bm25_idx"))
    val batch2 = operators.TextAnalysis.bm25Of(docs)
    val n2 = batch2.count()
    assert(n2 > 0 && served2.count() == n2 &&
      served2.exceptAll(batch2).count() == 0 &&
      batch2.exceptAll(served2).count() == 0,
      "snapshot after batch 2 must serve the full-corpus BM25 answer")
    // and it really was maintained incrementally: cross-batch tokens
    // carry version 2 (refreshed state), not a rebuilt version 1
    val refreshed = s.table("bm25_idx").groupBy(col("token"))
      .agg(max(col("version")).as("v")).filter(col("v") >= 2).count()
    assert(refreshed > 0, "no token refreshed across batches — index not incremental")
    spark.catalog.clearCache()
  }

  test("E12 stream_ivf_append: MemoryStream batches through foreachBatch == one-shot append; serveable between batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import java.nio.file.Files
    val all = Tables.embeddings(s, sf)
    val cut = all.agg(max(col("vec_id"))).head().getLong(0) * 7 / 10
    val idxS = Files.createTempDirectory("graft_ivf_stream_s").toFile
    val idxO = Files.createTempDirectory("graft_ivf_stream_o").toFile
    idxS.deleteOnExit(); idxO.deleteOnExit()
    operators.Similarity.ivfWriteFrom(all.filter(col("vec_id") <= cut), idxS.getAbsolutePath)
    // the one-shot reference rides bit-identical centroids
    s.read.parquet(s"${idxS.getAbsolutePath}/centroids")
      .coalesce(1).write.parquet(s"${idxO.getAbsolutePath}/centroids")
    val suffix = all.filter(col("vec_id") > cut)
      .select(col("vec_id"), col("embedding"), col("label"))
      .as[Streams.EmbRow].collect().toSeq
    assert(suffix.nonEmpty)
    val (b1, b2) = suffix.partition(_.vec_id % 2 == 0)
    val source = MemoryStream[Streams.EmbRow]
    val appender: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => operators.Similarity.ivfAppend(s, idxS.getAbsolutePath, batch.toDF())
    val q = source.toDF().writeStream.foreachBatch(appender)
      .outputMode("append").start()
    source.addData(b1: _*)
    q.processAllAvailable()
    // the index stays serveable mid-stream: batch-1 vectors findable
    val mid = operators.Similarity.annIvfServe(s, idxS.getAbsolutePath,
      nprobe = 10, shortlist = Some(32)).cache()
    assert(mid.count() > 0)
    assert(mid.filter(col("neighbor_id").isin(b1.map(r => r.vec_id): _*)).count() > 0,
      "no batch-1 vector surfaced after the first micro-batch append")
    mid.unpersist()
    source.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    // N streamed appends == ONE append of the whole corpus under the
    // same frozen centroids (assignment is per-vector — batch
    // composition provably cannot matter, and this pins it)
    operators.Similarity.ivfAppend(s, idxO.getAbsolutePath, all)
    val servedS = operators.Similarity.annIvfServe(s, idxS.getAbsolutePath,
      nprobe = 10, shortlist = Some(32))
    val servedO = operators.Similarity.annIvfServe(s, idxO.getAbsolutePath,
      nprobe = 10, shortlist = Some(32))
    assert(servedS.count() == servedO.count() &&
      servedS.exceptAll(servedO).count() == 0,
      "streamed micro-batch appends must serve exactly the one-shot-append answer")
    spark.catalog.clearCache()
  }

  test("E17 stream_semdedup: foreachBatch strikes == one-shot serve of the union; clean batches stay silent") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val base = Tables.embeddings(s, sf)
    val idx = java.nio.file.Files.createTempDirectory("graft_semdd_str").toFile
    idx.deleteOnExit()
    operators.Similarity.ivfWriteFrom(base, idx.getAbsolutePath)
    val twins = operators.Similarity.twinCorpus(s, sf)
      .filter(col("vec_id") >= 1000000L)
      .select(col("vec_id"), col("embedding"), lit(0).as("label"))
      .as[Streams.EmbRow].collect().toSeq
    assert(twins.nonEmpty)
    val (b1, b2) = twins.partition(_.vec_id % 2 == 0)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Int)]
    val source = MemoryStream[Streams.EmbRow]
    val sink: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => got ++= operators.Similarity.semDedupServe(s,
          idx.getAbsolutePath, batch.toDF())
        .as[(Long, Long, Double, Int)].collect()
    val q = source.toDF().writeStream.foreachBatch(sink)
      .outputMode("append").start()
    source.addData(b1: _*)
    q.processAllAvailable()
    val afterB1 = got.size
    assert(afterB1 > 0, "the first micro-batch's twins must strike")
    // a CLEAN micro-batch (near-orthogonal one-hots) mid-stream strikes
    // nothing — zero false strikes holds per batch, not just in bulk
    val dim = twins.head.embedding.length
    val clean = (0 until 10).map(i => Streams.EmbRow(5000000L + i,
      Seq.tabulate(dim)(j => if (j == i % dim) 1f else 0f), 0))
    source.addData(clean: _*)
    q.processAllAvailable()
    assert(got.size == afterB1, "an orthogonal micro-batch must strike nothing")
    source.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    // the serve is read-only on the index, so N micro-batches must
    // equal ONE serve of the union — exactly, row for row
    val oneShot = operators.Similarity.semDedupServe(s, idx.getAbsolutePath,
        twins.toDF().select(col("vec_id"), col("embedding")))
      .as[(Long, Long, Double, Int)].collect()
    assert(got.toSet == oneShot.toSet,
      "streamed per-batch strikes must equal the one-shot union serve")
    assert(got.forall(_._3 >= 0.8), "every strike must carry a >= eps witness")
    spark.catalog.clearCache()
  }

  test("E18 stream_catalog_serve: a mid-stream epoch cutover flips the serving store without a restart") {
    import graft.sources.Catalog
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val cat = java.nio.file.Files.createTempDirectory("graft_stream_cat").toString
    val docs = (0 until 30).map(i =>
      (i.toLong, s"alpha$i beta${i % 3} gamma${i % 5} word$i")).toDF("doc_id", "text")
    val p1 = Catalog.resolveOrBuild(s, cat, "dedup_sig", "spec",
      stamp = "epoch-1") { d =>
      operators.NearDup.dedupIndexWrite(docs.filter($"doc_id" <= 20), d)
    }
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val source = MemoryStream[(Long, String)]
    // the sink RE-RESOLVES the serving path per micro-batch — nothing
    // about the stream pins a store directory
    val sink: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => {
        val (path, _) = Catalog.lookup(s, cat, "dedup_sig", "spec").get
        got ++= operators.NearDup.dedupServe(s, path,
            batch.toDF("doc_id", "text"), 0.3)
          .as[(Long, Long, Long, Double)].collect()
      }
    val q = source.toDS().toDF("doc_id", "text").writeStream.foreachBatch(sink)
      .outputMode("append").start()
    val twins = docs.select(($"doc_id" + 1000000L).as("doc_id"), $"text")
      .as[(Long, String)].collect().toSeq
    source.addData(twins.filter(_._1 % 2 == 0): _*)
    q.processAllAvailable()
    val preCut = got.toSet
    assert(preCut.nonEmpty && preCut.forall(_._2 <= 20),
      "pre-cutover strikes must come from the epoch-1 prefix only")
    // the cutover + vacuum land MID-STREAM: the old store is GONE, so
    // a sink that cached its resolved path would crash on the next batch
    Catalog.resolveOrBuild(s, cat, "dedup_sig", "spec", stamp = "epoch-2") { d =>
      operators.NearDup.dedupIndexWrite(docs, d)
    }
    Catalog.vacuum(s, cat)
    val fs = new org.apache.hadoop.fs.Path(cat)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p1)),
      "the superseded store must be reclaimed under the live stream")
    source.addData(twins.filter(_._1 % 2 == 1): _*)
    q.processAllAvailable()
    q.stop()
    val postCut = got.toSet -- preCut
    // the post-cutover batch serves the NEW epoch: full-reference
    // strikes, exactly the from-scratch pairs of that batch
    val expect = operators.NearDup.crossDedupPairs(
      twins.filter(_._1 % 2 == 1).toDF("doc_id", "text"),
      docs, 0.3).as[(Long, Long, Long, Double)].collect().toSet
    assert(postCut == expect,
      "post-cutover strikes must equal from-scratch vs the new epoch")
    fs.delete(new org.apache.hadoop.fs.Path(cat), true)
    spark.catalog.clearCache()
  }

  test("E13 stream_scd2_apply: MemoryStream change batches fold to the from-scratch interval table") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val all = Tables.events(s, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Ev].collect().toSeq
    def us(e: Ev): Long = e.ts.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000 +
      e.ts.getNano / 1000 % 1000
    val (mn, mx) = (all.map(us).min, all.map(us).max)
    // strict global time windows: every batch is provably later than
    // all earlier events of its keys — scd2ApplyOf's contract
    val batches = all.groupBy(e => math.min(2, ((us(e) - mn) * 3) / (mx - mn + 1)))
      .toSeq.sortBy(_._1).map(_._2)
    assert(batches.size == 3 && batches.forall(_.nonEmpty))
    var base: org.apache.spark.sql.DataFrame = null
    val folder: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => {
        val ev = batch.select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        base = if (base == null) operators.Scd.intervalsOf(ev).localCheckpoint()
               else operators.Scd.scd2ApplyOf(base, ev).localCheckpoint()
      }
    val source = MemoryStream[Ev]
    val q = source.toDF().writeStream.foreachBatch(folder)
      .outputMode("append").start()
    batches.foreach { b => source.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val scratch = operators.Scd.intervalsOf(
      Tables.events(s, sf).select(col("user_id"), col("event_id"), col("event_type"), col("ts")))
    assert(base.count() == scratch.count() &&
      base.exceptAll(scratch).count() == 0 &&
      scratch.exceptAll(base).count() == 0,
      "streamed SCD2 folds must reproduce the from-scratch interval table exactly")
    spark.catalog.clearCache()
  }

  test("E10 stream_substring_dedup: batch equals the declarative bucket join; stream flags partial re-crawls") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val big = Int.MaxValue
    // declarative reference: posts self-joined on the bucket key, the
    // detector's own score formula stated as a column expression
    val p = Streams.substringPosts(s, sf).toDF()
      .select(col("band_sig").as("h1"), col("doc_id"), col("sig")(1).as("h2"))
    val ref = p.as("x").join(p.as("y"), col("x.h1") === col("y.h1") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"),
        ((lit(1) + when(col("x.h2") === col("y.h2"), 1).otherwise(0))
          .cast("double") / 2).as("est_jaccard"))
      .distinct()
    val e10 = Streams.nearDedupTyped(Streams.substringPosts(s, sf), bucketCap = big)
      .toDF().distinct()
    assert(e10.exceptAll(ref).count() == 0 && ref.exceptAll(e10).count() == 0,
      "streaming detector (batch mode) diverges from the declarative bucket join")

    // true streaming: partial re-crawl twins share anchored windows in
    // their common 3/5 prefix — most must surface as window-match pairs
    val posts = Streams.substringPosts(s, sf).collect().toSeq
    val source = MemoryStream[Streams.BandPost]
    source.addData(posts: _*)
    val q = Streams.nearDedupTyped(source.toDS().withWatermark("ts", "1 hour"),
        bucketCap = big)
      .writeStream.format("memory").queryName("e10_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = s.table("e10_out")
    // twins eligible = originals whose twin posts at least one window
    val eligible = p.filter(col("doc_id") >= 1000000L)
      .select(col("doc_id")).distinct().count()
    val found = streamed
      .filter(col("id2") === col("id1") + 1000000L && col("est_jaccard") === 1.0)
      .select("id1", "id2").distinct().count()
    assert(eligible > 0 && found * 10 >= eligible * 5,
      s"stream flagged only $found of $eligible twin-posting docs")
    spark.catalog.clearCache()
  }

  test("E9 stream_mm_dedup: batch equals D6b at uncapped size; stream surfaces noisy twins") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // batch parity at an uncapped bucket size (cap semantics for
    // oversized buckets intentionally differ: D6b drops, E9 truncates)
    val big = Int.MaxValue
    val d6b = operators.Multimodal.mmPhashDedup(s, sf, bucketCap = big)
    val e9 = Streams.streamMmDedup(s, sf, bucketCap = big)
    assert(e9.exceptAll(d6b).count() == 0 && d6b.exceptAll(e9).count() == 0,
      "streaming perceptual detector (batch mode) diverges from D6b's bucket join")

    // true streaming: image band posts arrive via MemoryStream; every
    // twin D6b pairs directly must surface within the threshold
    val posts = Streams.phashPosts(s, sf).collect().toSeq
    val source = MemoryStream[Streams.BandPost]
    source.addData(posts: _*)
    val q = Streams.nearDedupTyped(source.toDS().withWatermark("ts", "1 hour"),
        bucketCap = big, score = Streams.bandHamming)
      .writeStream.format("memory").queryName("e9_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamedTwins = s.table("e9_out")
      .filter(col("est_jaccard") <= 6.0 && col("id2") === col("id1") + 1000000L)
      .select(col("id1"), col("id2")).distinct().count()
    val batchTwins = d6b.filter(col("id2") === col("id1") + 1000000L).count()
    assert(streamedTwins == batchTwins,
      s"stream surfaced $streamedTwins twin pairs vs $batchTwins in batch")
    spark.catalog.clearCache()
  }

  test("E6: a bucket idle past the horizon ages out via the event-time timeout") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    def ts(hours: Long): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0).plusHours(hours))
    val sigA = (1L to 16L).toSeq
    val sigB = (17L to 32L).toSeq
    val source = MemoryStream[Streams.BandPost]
    val q = Streams.nearDedupTyped(
      source.toDS().withWatermark("ts", "1 hour"),
      horizon = java.time.Duration.ofHours(24))
      .writeStream.format("memory").queryName("e6_age_out")
      .outputMode("append").start()
    // batch 1: doc 1 opens bucket (0, 42); its timeout arms at t0+24h
    source.addData(Streams.BandPost(0, 42L, 1L, sigA, ts(0)))
    q.processAllAvailable()
    // batch 2: unrelated bucket advances the watermark to t0+29h
    source.addData(Streams.BandPost(0, 99L, 50L, sigB, ts(30)))
    q.processAllAvailable()
    // batch 3: watermark (t0+29h) has passed bucket 42's timeout and it
    // gets no data this trigger → its state is REMOVED. Bucket 99 gets
    // a pair-mate within the horizon as the control.
    source.addData(Streams.BandPost(0, 99L, 51L, sigB, ts(31)))
    q.processAllAvailable()
    // batch 4: doc 2 would have paired with doc 1 — but the bucket aged
    source.addData(Streams.BandPost(0, 42L, 2L, sigA, ts(31)))
    q.processAllAvailable()
    q.stop()
    val out = s.table("e6_age_out")
    assert(out.filter(col("id1") === 50L && col("id2") === 51L).count() == 1,
      "control pair within the horizon must surface")
    assert(out.filter(col("id1") === 1L && col("id2") === 2L).count() == 0,
      "aged bucket must not match across the horizon")
  }

  test("E6: a backfill that jumps the watermark past ts + horizon does not kill the query") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    def ts(hours: Long): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0).plusHours(hours))
    val sig = (1L to 16L).toSeq
    val source = MemoryStream[Streams.BandPost]
    val q = Streams.nearDedupTyped(
      source.toDS().withWatermark("ts", "1 hour"),
      horizon = java.time.Duration.ofHours(24))
      .writeStream.format("memory").queryName("e6_backfill_out")
      .outputMode("append").start()
    // batch 1 mixes a 30-day-old post with a current one: the watermark
    // jumps to ~now-1h in one step
    source.addData(
      Streams.BandPost(0, 7L, 1L, sig, ts(0)),
      Streams.BandPost(0, 8L, 50L, sig, ts(24 * 30)))
    q.processAllAvailable()
    // batch 2: a 20-day-old post whose ts + horizon is far below the
    // current watermark. GroupStateImpl.setTimeoutTimestamp throws
    // IllegalArgumentException for timestamps under the watermark, so
    // the re-arm must clamp. (Smoke test: Spark's no-data micro-batches
    // usually promote the late-event filter watermark between data
    // batches and drop this row first — the clamp is the guarantee for
    // the back-to-back-batch schedule where it does reach the function.)
    source.addData(Streams.BandPost(0, 9L, 60L, sig, ts(24 * 10)))
    q.processAllAvailable()
    assert(q.exception.isEmpty, s"query died: ${q.exception}")
    q.stop()
  }

  test("E6: at the cap a bucket truncates to the first cap doc_ids (pairs only among admitted)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    def ts(h: Long): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0).plusHours(h))
    val sig = (1L to 16L).toSeq
    // one bucket, five posts, cap 2: the two SMALLEST doc_ids of the
    // first batch are admitted (sorted admission), everything after is
    // drained without pairing — C2 would DROP the whole bucket; the
    // stream truncates instead (the documented semantic fork)
    val source = MemoryStream[Streams.BandPost]
    val q = Streams.nearDedupTyped(
      source.toDS().withWatermark("ts", "1 hour"), bucketCap = 2)
      .writeStream.format("memory").queryName("e6_cap_out")
      .outputMode("append").start()
    source.addData(
      Streams.BandPost(0, 5L, 30L, sig, ts(0)),
      Streams.BandPost(0, 5L, 10L, sig, ts(0)),
      Streams.BandPost(0, 5L, 20L, sig, ts(0)))
    q.processAllAvailable()
    // second batch: bucket is full — O(1) drain path, zero new pairs
    source.addData(Streams.BandPost(0, 5L, 5L, sig, ts(1)),
      Streams.BandPost(0, 5L, 40L, sig, ts(1)))
    q.processAllAvailable()
    q.stop()
    val pairs = s.table("e6_cap_out").select("id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 20L)),
      s"cap must admit the first 2 doc_ids (10, 20) and pair only those, got $pairs")
  }

  test("E2 stream_sessionize: closed sessions stream out; abandoned sessions flush by event-time timeout") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // 5-minute spacing with a 30-min gap: inject explicit gaps
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    val data = (0 until 60).map { i =>
      // every 10th event jumps 2 hours → session break
      val ts = t0.plusMinutes(i * 5L + (i / 10) * 120L)
      Ev(i.toLong, ts, i % 3L, "click", 1.0)
    }
    val source = MemoryStream[Ev]
    val q = Streams.sessionizeStream(source.toDS())
      .writeStream.format("memory").queryName("e2_out")
      .outputMode("append").start()
    source.addData(data: _*)
    q.processAllAvailable()
    // each user's trailing session is still OPEN: held in state, not
    // emitted, until the watermark passes its gap horizon
    val closedSoFar = s.table("e2_out").count()
    // a far-future tick advances the watermark past every horizon; the
    // three abandoned sessions flush via the event-time timeout
    source.addData(Ev(9001L, t0.plusDays(10), 99L, "click", 0.0))
    q.processAllAvailable()
    source.addData(Ev(9002L, t0.plusDays(10).plusMinutes(1), 99L, "click", 0.0))
    q.processAllAvailable()
    q.stop()

    val streamed = s.table("e2_out").filter(col("user_id") =!= 99L)
    val batch = Streams.sessionizeTyped(data.toDS()).toDF()
    assert(closedSoFar == batch.count() - 3,
      s"open sessions must be withheld until timeout (got $closedSoFar of ${batch.count()})")
    assert(streamed.count() == batch.count(),
      "timeout must flush the abandoned sessions")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("E2 stream_sessionize: a user returning after a timeout flush continues session numbering") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    val source = MemoryStream[Ev]
    val q = Streams.sessionizeStream(source.toDS())
      .writeStream.format("memory").queryName("e2_tomb_out")
      .outputMode("append").start()
    // user 7 opens a session, then goes idle
    source.addData(Ev(1L, t0, 7L, "click", 1.0),
      Ev(2L, t0.plusMinutes(5), 7L, "click", 1.0))
    q.processAllAvailable()
    // watermark ticks (other user) flush user 7's session by timeout
    source.addData(Ev(9001L, t0.plusDays(1), 99L, "click", 0.0))
    q.processAllAvailable()
    source.addData(Ev(9002L, t0.plusDays(1).plusMinutes(1), 99L, "click", 0.0))
    q.processAllAvailable()
    // user 7 RETURNS above the watermark; close the new session inline
    // via an in-batch gap jump so it emits without further ticks
    source.addData(Ev(3L, t0.plusDays(2), 7L, "click", 1.0),
      Ev(4L, t0.plusDays(2).plusHours(2), 7L, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val idxs = s.table("e2_tomb_out").filter(col("user_id") === 7L)
      .select("session_idx").collect().map(_.getLong(0)).sorted.toSeq
    assert(idxs == Seq(1L, 2L),
      s"tombstone must continue numbering after a timeout flush, got $idxs")
  }

  test("E3 stream_dedup: duplicates across micro-batches are dropped by the state store") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val data = evs(50)
    val source = MemoryStream[Ev]
    val q = Streams.dedup(source.toDF(), withWatermark = true)
      .writeStream.format("memory").queryName("e3_out")
      .outputMode("append").start()
    source.addData(data: _*)
    q.processAllAvailable()
    // same ids again in a later micro-batch — state store must reject them
    source.addData(data.take(25): _*)
    q.processAllAvailable()
    q.stop()
    val out = s.table("e3_out")
    assert(out.count() == 50)
    assert(out.select("event_id").distinct().count() == 50)
  }

  test("file-based readStream: windowed agg over a parquet directory equals batch") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val data = evs(300).toDF()
    // two "arriving" files
    data.filter($"event_id" < 150).write.mode("append").parquet(dir)
    data.filter($"event_id" >= 150).write.mode("append").parquet(dir)
    val streamed = s.readStream
      .schema(data.schema)
      .option("maxFilesPerTrigger", 1) // one file per micro-batch
      .parquet(dir)
    val q = Streams.windowAgg(streamed)
      .writeStream.format("memory").queryName("file_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val batch = Streams.windowAgg(data)
    val got = s.table("file_out")
    assert(got.count() == batch.count())
    assert(got.exceptAll(batch).count() == 0)
  }

  test("E4 stream_join: stream-stream interval join equals batch join on the same data") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    // purchases every 50 min, views every 7 min, 3 users
    val purchases = (0 until 20).map(i =>
      (i % 3L, 1000L + i, t0.plusMinutes(i * 50L)))
    val views = (0 until 120).map(i =>
      (i % 3L, 2000L + i, t0.plusMinutes(i * 7L)))
    val pDf = purchases.toDF("user_id", "purchase_id", "p_ts")
    val vDf = views.toDF("v_user_id", "view_id", "v_ts")

    val pSrc = MemoryStream[(Long, Long, java.time.LocalDateTime)]
    val vSrc = MemoryStream[(Long, Long, java.time.LocalDateTime)]
    pSrc.addData(purchases: _*)
    vSrc.addData(views: _*)
    val q = Streams.intervalJoin(
        pSrc.toDF().toDF("user_id", "purchase_id", "p_ts"),
        vSrc.toDF().toDF("v_user_id", "view_id", "v_ts"),
        withWatermark = true)
      .writeStream.format("memory").queryName("e4_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val streamed = s.table("e4_out")
      .select(col("user_id"), col("purchase_id"), col("view_id"))
    val batch = Streams.intervalJoin(pDf, vDf)
      .select(col("user_id"), col("purchase_id"), col("view_id"))
    assert(batch.count() > 0)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("E15 dedup index: MemoryStream appends through foreachBatch serve the one-shot answer") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("graft_dedup_ms").toString
    val ref = (0 until 30).map(i =>
      (i.toLong, s"w$i w${i + 1} w${i + 2} w${i + 3} w${i + 4} z${i % 4}"))
    val refDf = ref.toDF("doc_id", "text")
    // prefix builds the index; the suffix ARRIVES as a real stream,
    // each micro-batch folded in by the maintenance sink
    operators.NearDup.dedupIndexWrite(refDf.filter(col("doc_id") < 20),
      idx)
    val source = MemoryStream[(Long, String)]
    val q = source.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        operators.NearDup.dedupIndexAppend(df, idx)
      }
      .start()
    ref.filter(_._1 >= 20).grouped(4).foreach { batch =>
      source.addData(batch: _*)
      q.processAllAvailable()
    }
    q.stop()
    val neu = refDf.select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    val served = operators.NearDup.dedupServe(s, idx, neu, 0.3)
    val oneShot = operators.NearDup.crossDedupPairs(neu, refDf, 0.3)
    assert(served.count() == oneShot.count() &&
      served.exceptAll(oneShot).count() == 0,
      "streamed appends must serve exactly the one-shot reference answer")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
    spark.catalog.clearCache()
  }

  test("E31 stream_kn_append: MemoryStream batches through foreachBatch train the one-shot LM; serveable between batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("graft_kn_ms").toString
    val TA = operators.TextAnalysis
    val docs = (0 until 24).map(i =>
      (i.toLong, s"the quick w${i % 5} fox jumps over the lazy w${i % 3}"))
    val docsDf = docs.toDF("doc_id", "text")
    // nightly base: the first ten docs; the rest ARRIVE as a stream,
    // each micro-batch folded in by the maintenance sink
    TA.knStoreWrite(docsDf.filter(col("doc_id") < 10), idx)
    val source = MemoryStream[(Long, String)]
    val q = source.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        TA.knStoreAppend(df, idx)
      }
      .start()
    // uneven micro-batches; serve IN FLIGHT after the first one —
    // the store is consistent (commit-last) at every batch boundary
    val tail = docs.filter(_._1 >= 10)
    source.addData(tail.take(3): _*)
    q.processAllAvailable()
    val partial = docsDf.filter(col("doc_id") < 13)
    val inFlight = TA.knStoreScore(s, idx, partial)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
    val inFlightScratch = TA.knBigramOf(partial)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
    assert(inFlight == inFlightScratch,
      "mid-stream store must serve the LM of exactly the docs folded so far")
    tail.drop(3).grouped(5).foreach { b =>
      source.addData(b: _*)
      q.processAllAvailable()
    }
    q.stop()
    // after the stream drains: store LM == one-shot LM, bit for bit
    val served = TA.knStoreScore(s, idx, docsDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    val oneShot = TA.knBigramOf(docsDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(served == oneShot,
      "streamed count deltas must train exactly the one-shot LM")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
    spark.catalog.clearCache()
  }

  test("E19 stream_quality_classify: MemoryStream batches scored against the frozen model equal one-shot scoring") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // the planted separable corpus from the C32 spec
    val docs = (0L until 40L).map { i =>
      val t =
        if (i % 2 == 0) s"customer value part kfilla kfillb kfill${i % 7}"
        else s"spark batch stream dfilla dfillb dfill${i % 7}"
      (i, t)
    }.toDF("doc_id", "text")
    // nightly training job: the model freezes BEFORE the stream starts
    val (model, priors) = operators.TextAnalysis.nbTrain(docs, 64, 5)
    val oneShot = operators.TextAnalysis.nbScore(docs, model, priors, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    // the corpus ARRIVES as a real stream in uneven micro-batches;
    // each batch scores against the broadcast model, stateless
    val source = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
    val q = source.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= operators.TextAnalysis.nbScore(df, model, priors, 64)
          .collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        (): Unit
      }
      .start()
    // deliberately uneven batch sizes: composition must be irrelevant
    val rows = (0L until 40L).map { i =>
      val t =
        if (i % 2 == 0) s"customer value part kfilla kfillb kfill${i % 7}"
        else s"spark batch stream dfilla dfillb dfill${i % 7}"
      (i, t)
    }
    Seq(rows.slice(0, 3), rows.slice(3, 17), rows.slice(17, 40)).foreach { b =>
      source.addData(b: _*)
      q.processAllAvailable()
    }
    q.stop()
    assert(got.sortBy(_._1).toSeq == oneShot.toSeq,
      "per-batch scoring against the frozen model must equal one-shot scoring")
    spark.catalog.clearCache()
  }

  test("E20 stream_dsir_select: MemoryStream batches scored against the frozen (ratio, eps) equal one-shot selection") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // the C33 spec's corpus: strong in-domain, tied medium, off-domain
    val rows = (0L until 5L).map(i => (i, s"table index query scan hash merge u$i")) ++
      (5L until 15L).map(i => (i, "table fillcommon fillcommon")) ++
      (15L until 40L).map(i => (i, "alpha beta gamma gamma"))
    val docs = rows.toDF("doc_id", "text")
    // nightly training job: ratio model AND threshold freeze BEFORE
    // the stream starts (a per-batch quantile would redefine the
    // selection as data arrives)
    val (ratio, eps) = operators.TextAnalysis.dsirTrain(docs, 256, 0.25)
    assert(eps.nonEmpty, "the reference corpus must freeze a threshold")
    val oneShot = operators.TextAnalysis.dsirScore(docs, ratio, eps, 256)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    val source = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Boolean)]
    val q = source.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= operators.TextAnalysis.dsirScore(df, ratio, eps, 256)
          .collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        (): Unit
      }
      .start()
    // uneven batches; one SPLITS the medium tie group — composition
    // must be irrelevant because eps is frozen, not per-batch
    Seq(rows.slice(0, 7), rows.slice(7, 12), rows.slice(12, 40)).foreach { b =>
      source.addData(b: _*)
      q.processAllAvailable()
    }
    q.stop()
    assert(got.sortBy(_._1).toSeq == oneShot.toSeq,
      "per-batch scoring against the frozen (ratio, eps) must equal one-shot selection")
    // the frozen threshold still selects exactly the in-domain docs
    assert(got.filter(_._4).map(_._1).toSet == (0L until 15L).toSet)
    spark.catalog.clearCache()
  }

  test("E21 stream_decontaminate: MemoryStream batches flagged against the frozen bench grams equal one-shot; clean batches stay silent") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val Gov = operators.Govern
    // benchmark docs (the frozen set) + training docs: some copy a
    // benchmark 4-gram verbatim, some share nothing
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (200L, "four score and seven years ago our fathers"))
    val contaminated = (0L until 6L).map(i =>
      (i, s"prefix $i the quick brown fox tail $i"))
    val clean = (6L until 12L).map(i =>
      (i, s"entirely original content number $i with no overlap"))
    val benchSet = Gov.docGrams(bench.toDF("doc_id", "text")).select($"gh")
      .distinct().localCheckpoint()
    val oneShot = Gov.decontScore(
        Gov.docGrams((contaminated ++ clean).toDF("doc_id", "text")), benchSet)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(oneShot.map(_._1).toSet == (0L until 6L).toSet,
      "exactly the contaminated docs must be flagged")
    val source = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val q = source.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val flagged = Gov.decontScore(Gov.docGrams(df), benchSet)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        got ++= flagged
        batchSizes += ((df.count().toInt, flagged.length))
        (): Unit
      }
      .start()
    val rows = contaminated ++ clean
    // last batch is ALL-clean: the flagger must emit nothing for it
    Seq(rows.slice(0, 4), rows.slice(4, 7), rows.slice(7, 12)).foreach { b =>
      source.addData(b: _*)
      q.processAllAvailable()
    }
    q.stop()
    assert(got.sortBy(_._1).toSeq == oneShot.toSeq,
      "per-batch flagging against the frozen bench set must equal one-shot")
    assert(batchSizes.last == ((5, 0)), "an all-clean batch must flag nothing")
    spark.catalog.clearCache()
  }

  test("E22 stream_source_block: MemoryStream batches tagged by the frozen verdict table equal one-shot; unseen sources admit") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val Gov = operators.Govern
    // the frozen nightly verdict table: one blocked, one clean source
    val verdicts = Seq(("spamfarm", true), ("clean", false))
      .toDF("source", "blocked").localCheckpoint()
    // arriving docs: both known sources plus a source the nightly job
    // never saw (it must ADMIT — blocklist, not allowlist)
    val rows = (0L until 30L).map { i =>
      val src = if (i % 3 == 0) "spamfarm" else if (i % 3 == 1) "clean" else "brandnew"
      (i, src)
    }
    val oneShot = Gov.sourceBlockTag(rows.toDF("doc_id", "source"), verdicts)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).sortBy(_._1)
    val source = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Boolean)]
    val q = source.toDF().toDF("doc_id", "source").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= Gov.sourceBlockTag(df, verdicts)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
        (): Unit
      }
      .start()
    Seq(rows.slice(0, 11), rows.slice(11, 19), rows.slice(19, 30)).foreach { b =>
      source.addData(b: _*)
      q.processAllAvailable()
    }
    q.stop()
    assert(got.sortBy(_._1).toSeq == oneShot.toSeq,
      "per-batch tagging against the frozen verdicts must equal one-shot")
    assert(got.forall { case (_, src, b) =>
      b == (src == "spamfarm") }, "only the blocked source's docs may be refused")
    spark.catalog.clearCache()
  }

  test("E23 stream_curation_audit: MemoryStream batches tagged against the frozen states equal one-shot; a cross-batch dup pair flags; a novel doc admits") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val Gov = operators.Govern
    // planted corpus: id 0 is a benchmark member (0 % 17 == 0);
    // 5 & 6 are a normalized dup pair; 7 copies a benchmark 4-gram
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta", "bench", 250L),
      (1L, "customer value part order price line one", "good", 250L),
      (2L, "table row scan hash customer order value", "good", 250L),
      (3L, "spark shuffle stream batch agg partition", "good", 250L),
      (5L, "Repeated   Text body", "good", 250L),
      (6L, "repeated text BODY", "good", 250L),
      (7L, "prefix alpha beta gamma delta tail", "good", 250L),
      (8L, "novel completely fresh unseen content here", "good", 250L))
      .toDF("doc_id", "text", "source", "n_chars")
    val st = Gov.curationFreezeOf(corpus)
    val train = corpus.filter($"doc_id" % Gov.BenchMod =!= 0)
      .select($"doc_id", $"text", $"source")
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Boolean]("is_dup"), r.getAs[Boolean]("contaminated"),
        r.getAs[Boolean]("low_quality"), r.getAs[Boolean]("deselected"),
        r.getAs[Boolean]("blocked_source"), r.getAs[Boolean]("kept")))
    val oneShot = rowsOf(Gov.curationTag(train, st)).sortBy(_._1)
    val byId = oneShot.map(r => r._1 -> r).toMap
    assert(!byId(5L)._3 && byId(6L)._3, "keeper 5 clean, dup 6 flagged")
    assert(byId(7L)._4, "the benchmark-gram copier must flag contaminated")
    assert(oneShot.forall(r => r._8 == !(r._3 || r._4 || r._5 || r._6 || r._7)))
    val docRows = train.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2)))
    val source = MemoryStream[(Long, String, String)]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
    val q = source.toDF().toDF("doc_id", "text", "source").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= rowsOf(Gov.curationTag(df, st))
        (): Unit
      }
      .start()
    // the dup pair (5, 6) is deliberately split across batches 1 and 2;
    // the final batch carries a doc the frozen index has NEVER seen
    val b1 = docRows.filter(r => Seq(1L, 5L, 3L).contains(r._1))
    val b2 = docRows.filter(r => Seq(6L, 7L).contains(r._1))
    val b3 = docRows.filter(r => Seq(2L, 8L).contains(r._1)) :+
      ((99L, "totally new appended doc content arriving later", "good"))
    Seq(b1, b2, b3).foreach { b =>
      source.addData(b: _*)
      q.processAllAvailable()
    }
    q.stop()
    val (novel, replayed) = got.partition(_._1 == 99L)
    assert(replayed.sortBy(_._1).toSeq == oneShot.toSeq,
      "per-batch tagging against the frozen states must equal the one-shot audit")
    assert(got.find(_._1 == 6L).get._3,
      "a doc whose dup partner arrived in ANOTHER batch must still flag")
    assert(novel.size == 1 && !novel.head._3,
      "a doc the frozen index never saw is novel, not a duplicate")
    spark.catalog.clearCache()
  }

  test("E24 stream_ccnet_bucket: MemoryStream batches bucketed against the frozen (LM, cuts) equal one-shot; unseen tokens and langs serve tail") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val TA = operators.TextAnalysis
    val corpus = Seq(
      (0L, "en", "common common word common word common"),
      (1L, "en", "common word common common word word"),
      (2L, "en", "common word mid2 rare2 other2 extra2"),
      (3L, "en", "common word mid3 rare3 other3 extra3"),
      (4L, "en", "zz4 qq4 ww4 vv4 uu4 tt4"),
      (5L, "en", "zz5 qq5 ww5 vv5 uu5 tt5"))
    val corpusDf = corpus.toDF("doc_id", "lang", "text")
    val (counts, scal) = TA.perplexityLm(corpusDf.select($"doc_id", $"text"))
    val thr = TA.ccnetThresholds(corpusDf)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("bits_micros"), r.getAs[String]("bucket")))
    val oneShot = rowsOf(TA.ccnetServe(corpusDf, counts, scal, thr)).sortBy(_._1)
    val source = MemoryStream[(Long, String, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, String)]
    val q = source.toDF().toDF("doc_id", "lang", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= rowsOf(TA.ccnetServe(df, counts, scal, thr))
        (): Unit
      }
      .start()
    // batch 3 carries docs the freeze never saw: unseen tokens in a
    // known lang, and a known text in an unknown lang
    val b3 = Seq((98L, "en", "xxa98 xxb98 xxc98 xxd98 xxe98 xxf98"),
      (99L, "zz", "common common word common word common"))
    Seq(corpus.slice(0, 3), corpus.slice(3, 6), b3).foreach { b =>
      source.addData(b: _*)
      q.processAllAvailable()
    }
    q.stop()
    val (novel, replayed) = got.partition(_._1 >= 98L)
    assert(replayed.sortBy(_._1).toSeq == oneShot.toSeq,
      "per-batch bucketing against the frozen pair must equal one-shot")
    assert(novel.find(_._1 == 98L).get._4 == "tail", "unseen tokens -> floor -> tail")
    assert(novel.find(_._1 == 99L).get._4 == "tail", "unseen lang -> no cuts -> tail")
    spark.catalog.clearCache()
  }

  test("E26 stream_boilerplate: per-batch strips against frozen strikes equal one-shot; a source split across batches keeps its freeze-time verdict") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val TA = operators.TextAnalysis
    // the accumulated corpus the nightly job trained on: siteA's nav
    // chrome on 3 of 4 pages, siteB's banner on both of its pages
    val corpus = Seq(
      (0L, "siteA", "site nav chrome the alpha body zero"),
      (1L, "siteA", "site nav chrome the beta body one"),
      (2L, "siteA", "site nav chrome the gamma body two"),
      (3L, "siteA", "delta body three"),
      (4L, "siteB", "cookie banner b the epsilon body four"),
      (5L, "siteB", "cookie banner b the zeta body five")
    ).toDF("doc_id", "source", "text")
    val strikes = TA.boilerplateStrikes(corpus, pct = 30).localCheckpoint()
    val oneShot = TA.boilerplateApply(corpus, strikes)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(_._1).toSeq
    // replay the same pages as arrivals — siteA's pages deliberately
    // SPLIT across batches (batch 1 sees only one siteA page: a
    // batch-local fraction rule would never reach 30% there; the
    // frozen verdict must still strike its chrome)
    val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val source = MemoryStream[(Long, String, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
    val q = source.toDF().toDF("doc_id", "source", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= TA.boilerplateApply(df, strikes)
          .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getString(4)))
        (): Unit
      }
      .start()
    Seq(rows.slice(0, 1), rows.slice(1, 4), rows.slice(4, 6)).foreach { b =>
      source.addData(b.toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    assert(got.sortBy(_._1).toSeq == oneShot,
      "stateless per-batch strips against the frozen strike table must equal one-shot")
    assert(got.find(_._1 == 0L).get._4 == "alpha body zero",
      "the lone siteA page in batch 1 still loses its chrome — the verdict froze corpus-side")
    spark.catalog.clearCache()
  }

  test("E25 stream_bloom_dedup: MemoryStream batches tagged by the frozen Bloom equal one-shot; dups always flag, novels admit") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ND = operators.NearDup
    // indexed corpus: 40 distinct normalized docs
    val base = (0L until 40L).map(i => (i, s"indexed document number $i body"))
      .toDF("doc_id", "norm")
    val filter = ND.bloomBuild(base)
    // arriving stream: 20 exact dups of indexed docs + 20 novels
    val rows = (0L until 20L).map(i => (100 + i, s"indexed document number $i body")) ++
      (0L until 20L).map(i => (200 + i, s"fresh unseen arrival $i payload"))
    val oneShot = ND.bloomTag(rows.toDF("doc_id", "norm"), filter)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    val source = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    val q = source.toDF().toDF("doc_id", "norm").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= ND.bloomTag(df, filter)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        (): Unit
      }
      .start()
    Seq(rows.slice(0, 13), rows.slice(13, 27), rows.slice(27, 40)).foreach { b =>
      source.addData(b: _*)
      q.processAllAvailable()
    }
    q.stop()
    assert(got.sortBy(_._1).toSeq == oneShot.toSeq,
      "per-batch tagging against the frozen Bloom must equal one-shot")
    assert(got.filter(_._1 < 200).forall(_._3),
      "an exact duplicate of an indexed doc must ALWAYS flag")
    assert(got.filter(_._1 >= 200).count(_._3) <= 1,
      "novel docs admit except rare FPs")
    spark.catalog.clearCache()
  }

  test("E32 stream_robots_filter: per-batch admission equals one-shot; verdicts batch-invariant") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val U = operators.Url
    // mixed frontier stream: disallowed, nested allow, tie, rule-less
    val rows = (0L until 20L).map { i =>
      (i, (i % 4) match {
        case 0 => s"https://cdn.site.org/doc/1$i"
        case 1 => s"https://cdn.site.org/doc/12$i"
        case 2 => s"https://cdn.site.org/doc/5"
        case _ => s"https://open.example.edu/page/$i"
      })
    }
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      U.robotsFilterOf(U.canonicalizeOf(df)).collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.getString(3)),
          r.getBoolean(5)))
    val oneShot = verdicts(rows.toDF("doc_id", "url")).sortBy(_._1)
    val source = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Option[String], Boolean)]
    val q = source.toDF().toDF("doc_id", "url").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= verdicts(df)
        (): Unit
      }
      .start()
    Seq(rows.slice(0, 7), rows.slice(7, 13), rows.slice(13, 20)).foreach { b =>
      source.addData(b: _*)
      q.processAllAvailable()
    }
    q.stop()
    assert(got.sortBy(_._1).toSeq == oneShot.toSeq,
      "per-batch robots verdicts must equal the one-shot admission")
    assert(oneShot.exists(!_._4) && oneShot.exists(_._4),
      "the stream must contain both admitted and blocked URLs")
  }

  test("E30 stream_pii_structured: per-batch checksum redaction equals one-shot; verdicts batch-invariant") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val G = operators.Govern
    // mixed stream: valid card, invalid card, valid IBAN, clean text
    val rows = (0L until 24L).map { i =>
      (i, (i % 4) match {
        case 0 => s"doc $i pay 4111111111111111 now"
        case 1 => s"doc $i pay 4111111111111112 now"
        case 2 => s"doc $i send DE89370400440532013000 today"
        case _ => s"doc $i nothing sensitive"
      })
    }
    val oneShot = G.piiStructuredOf(rows.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4))).sortBy(_._1)
    val source = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int, Int, Int, String)]
    val q = source.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= G.piiStructuredOf(df).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
            r.getString(4)))
        (): Unit
      }
      .start()
    Seq(rows.slice(0, 9), rows.slice(9, 17), rows.slice(17, 24)).foreach { b =>
      source.addData(b: _*)
      q.processAllAvailable()
    }
    q.stop()
    assert(got.sortBy(_._1).toSeq == oneShot.toSeq,
      "per-batch redaction must equal one-shot, verdict for verdict")
    assert(got.filter(_._1 % 4 == 0).forall(r => r._2 == 1 && r._5.contains("<CARD>")),
      "valid cards always redact regardless of batch")
    assert(got.filter(_._1 % 4 == 1).forall(r => r._2 == 0 && r._4 == 1),
      "checksum-failing cards always reject regardless of batch")
    spark.catalog.clearCache()
  }

  test("E28 stream_html_extract: per-batch page extraction equals one-shot; blocks stay page-local") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val TA = operators.TextAnalysis
    val pages = (0L until 30L).map(i => (i,
      s"<html><body><script>a < $i && b</script><h1>Page &amp; $i</h1>" +
        s"<p>alpha $i beta</p><p>gamma &lt;x&gt; $i</p></body></html>"))
    val oneShot = TA.htmlExtractOf(pages.toDF("doc_id", "html"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sortBy(x => (x._1, x._2))
    val source = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, String)]
    val q = source.toDF().toDF("doc_id", "html").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= TA.htmlExtractOf(df)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        (): Unit
      }
      .start()
    Seq(pages.slice(0, 11), pages.slice(11, 19), pages.slice(19, 30)).foreach { b =>
      source.addData(b: _*)
      q.processAllAvailable()
    }
    q.stop()
    assert(got.sortBy(x => (x._1, x._2)).toSeq == oneShot.toSeq,
      "per-batch extraction must equal one-shot block for block")
    assert(got.groupBy(_._1).forall { case (_, bs) =>
      bs.map(_._2).sorted == (1 to bs.size).toSeq },
      "block numbering is page-local, untouched by batch composition")
    spark.catalog.clearCache()
  }

  test("E27 stream_source_overlap: MemoryStream folds merge to the one-shot sketch exactly") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val G = operators.Govern
    val k = 32
    // three sources whose pages arrive interleaved across batches
    val wa = (1 to 120).map("a" + _).mkString(" ")
    val wb = ((1 to 60).map("a" + _) ++ (1 to 60).map("b" + _)).mkString(" ")
    val wc = (1 to 120).map("c" + _).mkString(" ")
    val pages = Seq(("A", wa), ("B", wb), ("C", wc),
      ("A", wb), ("B", wa), ("C", wa)) // cross-posted pages too
    val oneShot = G.sourceOverlapOf(pages.toDF("source", "text"), k)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(4))).sortBy(x => (x._1, x._2))
    val source = MemoryStream[(String, String)]
    var state = G.sourceSketch(Seq.empty[(String, String)].toDF("source", "text"), k)
      .localCheckpoint()
    val q = source.toDF().toDF("source", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        state = G.kmvTop(state.unionAll(G.sourceSketch(df, k)), k).localCheckpoint()
        (): Unit
      }
      .start()
    // batch split deliberately cuts a source's pages across arrivals
    Seq(pages.slice(0, 2), pages.slice(2, 5), pages.slice(5, 6)).foreach { b =>
      source.addData(b: _*)
      q.processAllAvailable()
    }
    q.stop()
    val folded = G.sketchPairs(state, k)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(4))).sortBy(x => (x._1, x._2))
    assert(folded.toSeq == oneShot.toSeq,
      "the KMV merge law must make N micro-batch folds serve the one-shot estimates exactly")
    spark.catalog.clearCache()
  }

  test("E16 line index: MemoryStream appends through foreachBatch strike the one-shot union answer") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("graft_line_ms").toString
    // reference corpus: a banner shared across many docs + unique tails
    val ref = (0 until 30).map(i =>
      (i.toLong, s"shared banner line the unique tail $i"))
    val refDf = ref.toDF("doc_id", "text")
    operators.TextAnalysis.lineIndexWrite(refDf.filter(col("doc_id") < 20), idx)
    val source = MemoryStream[(Long, String)]
    val q = source.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        operators.TextAnalysis.lineIndexAppend(df, idx)
      }
      .start()
    ref.filter(_._1 >= 20).grouped(4).foreach { batch =>
      source.addData(batch: _*)
      q.processAllAvailable()
    }
    q.stop()
    // the new batch shares the banner AND one doc's unique tail
    val neu = Seq(
      (100L, s"shared banner line the fresh content"),
      (101L, s"unique tail 25 the more fresh content")
    ).toDF("doc_id", "text")
    val served = operators.TextAnalysis.lineDedupServe(s, idx, neu)
    val oneShot = operators.TextAnalysis.lineDedupOf(refDf.unionAll(neu))
      .filter(col("doc_id") >= 100L)
    assert(served.count() == oneShot.count() &&
      served.exceptAll(oneShot).count() == 0,
      "streamed appends must strike exactly the one-shot union answer")
    // the banner (in every ref doc) and doc 25's tail (ref + new) are
    // struck; fresh content survives
    val byId = served.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(byId(100L) == "fresh content" && byId(101L) == "more fresh content")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
    spark.catalog.clearCache()
  }

  test("E14 upsert sink: foreachBatch with dup keys + injected transient failure lands the exact merge") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft_sink").toString
    // base snapshot lands first (batch 0 outside the stream — the
    // initial table load)
    val base = Seq((1L, 10.0, "base"), (2L, 20.0, "base"), (3L, 30.0, "base"))
      .toDF("k", "v", "src")
    graft.sources.UpsertSink.writeBatch(base, store, -1L, Seq("k"))
    // the stream: keys 2,3 collide with base (must NOT overwrite),
    // keys 4,5,6 are fresh; key 4 arrives in TWO different batches
    // (cross-batch duplicate — second occurrence must lose)
    val source = MemoryStream[(Long, Double, String)]
    // inject ONE transient failure between a row write and its log
    // commit — the retry must land that batch exactly once
    val failures = new java.util.concurrent.atomic.AtomicInteger(1)
    val q = source.toDF().toDF("k", "v", "src").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.sources.UpsertSink.writeBatch(df, store, id, Seq("k"),
          beforeCommit = () =>
            if (failures.getAndDecrement() > 0)
              throw new java.io.IOException("injected transient store failure"))
      }
      .start()
    source.addData((2L, 99.0, "inc"), (4L, 40.0, "inc"))
    q.processAllAvailable()
    source.addData((3L, 99.0, "inc"), (4L, 99.0, "inc2"), (5L, 50.0, "inc"))
    q.processAllAvailable()
    source.addData((6L, 60.0, "inc"))
    q.processAllAvailable()
    q.stop()
    val got = graft.sources.UpsertSink.committedRows(s, store)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    val want = Set((1L, 10.0, "base"), (2L, 20.0, "base"), (3L, 30.0, "base"),
      (4L, 40.0, "inc"), (5L, 50.0, "inc"), (6L, 60.0, "inc"))
    assert(got == want, s"sink state diverged: got $got")
    assert(failures.get() <= 0, "the injected failure must actually have fired")
    // the store carries exactly the failed attempt's orphaned row
    // (key 4 — key 2 was anti-joined before the torn write), invisible
    // to the committed view above
    val raw = s.read.parquet(s"$store/rows").count()
    assert(raw == want.size + 1,
      s"expected ${want.size} committed + 1 orphaned row from the failed attempt, got $raw")
    // redelivery of an applied batch id is a no-op (foreachBatch replay)
    graft.sources.UpsertSink.writeBatch(
      Seq((7L, 70.0, "replay")).toDF("k", "v", "src"), store, 0L, Seq("k"))
    assert(graft.sources.UpsertSink.committedRows(s, store).count() == want.size,
      "redelivered batch id must be skipped whole")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(store))
  }

  test("E14 upsert sink retry: an interrupt runs the body once and rethrows without sleeping") {
    val delayMs = 2000L
    var runs = 0
    val t0 = System.nanoTime()
    intercept[InterruptedException] {
      graft.sources.UpsertSink.withRetry(maxAttempts = 3, initialDelayMs = delayMs) {
        runs += 1
        throw new InterruptedException("delivery interrupted")
      }
    }
    val ms = (System.nanoTime() - t0) / 1000000
    assert(runs == 1, s"an interrupted delivery must not retry: $runs runs")
    assert(ms < delayMs, s"an interrupted delivery must not back off: $ms ms")
    // a transient failure still backs off and retries
    var tries = 0
    val out = graft.sources.UpsertSink.withRetry(maxAttempts = 3, initialDelayMs = 1) {
      tries += 1
      if (tries < 3) throw new java.io.IOException("transient") else tries
    }
    assert(out == 3)
  }

  test("E14 upsert sink: a crash before the store's first commit is re-driven to one landing") {
    val s = spark
    import s.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft_sink_first").toString
    // the first attempt writes rows but no batch_log exists yet; the
    // retry must read that as "nothing committed" and land the batch
    val failures = new java.util.concurrent.atomic.AtomicInteger(1)
    graft.sources.UpsertSink.writeBatch(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), store, 0L,
      Seq("k"), initialDelayMs = 1, beforeCommit = () =>
        if (failures.getAndDecrement() > 0) throw new java.io.IOException("torn first batch"))
    assert(failures.get() <= 0, "the injected failure must actually have fired")
    val got = graft.sources.UpsertSink.committedRows(s, store)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b")))
    assert(graft.sources.UpsertSink.appliedBatches(s, store) == Set(0L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(store))
  }

  test("E2 batch analogue agrees with B8 declarative sessionization on session counts") {
    val typed = Streams.streamSessionize(spark, sf)
    val sql = operators.Analytics.sessionize(spark, sf)
    assert(typed.count() == sql.count())
    val a = typed.groupBy("user_id").agg(max("session_idx").as("n_sessions"))
    val b = sql.groupBy("user_id").agg(countDistinct("session_idx").as("n_sessions"))
    assert(a.join(b, "user_id")
      .filter(a("n_sessions") =!= b("n_sessions")).count() == 0)
  }
}
