package graft

import graft.sources.{IndexLayout, Lake}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** File-source round trips: gzip jsonl with corrupt-record quarantine,
  * and the partitioned parquet sink with planner-visible pruning. */
class LakeSpec extends AnyFunSuite {
  import TestSpark._

  private def sameResult(a: org.apache.spark.sql.DataFrame,
                         b: org.apache.spark.sql.DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).count() == 0

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("jsonl.gz round trip: typed rows survive, schema enforced") {
    val dir = tmp("jsonl")
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "n_chars")
    Lake.writeJsonlGz(docs, dir)
    // compressed files actually written
    val files = new java.io.File(dir).listFiles.map(_.getName)
    assert(files.exists(_.endsWith(".json.gz")))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType)))
    val back = Lake.readJsonl(spark, dir, schema)
    val (clean, bad) = Lake.quarantine(back)
    assert(bad.count() == 0)
    assert(clean.count() == docs.count())
    assert(clean.exceptAll(docs).count() == 0)
  }

  test("corrupt jsonl lines are quarantined, not fatal; clean rows still typed") {
    val dir = tmp("corrupt")
    Files.write(Paths.get(dir, "batch_0.jsonl"),
      java.util.Arrays.asList(
        """{"doc_id": 1, "lang": "en", "n_chars": 10}""",
        """{"doc_id": BROKEN""",
        """{"doc_id": 2, "lang": "fr", "n_chars": 20}""",
        """not json at all"""))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType)))
    val (clean, bad) = Lake.quarantine(Lake.readJsonl(spark, dir, schema))
    assert(clean.count() == 2)
    assert(bad.count() == 2)
    assert(clean.agg(sum("n_chars")).head().getLong(0) == 30)
  }

  test("partitioned sink: partition filters prune at plan time") {
    val dir = tmp("part")
    val orders = Tables.orders(spark, sf)
      .withColumn("o_year", year(col("o_orderdate")))
    Lake.writePartitioned(orders, dir, Seq("o_year"))
    val pruned = Lake.readPartitioned(spark, dir).filter(col("o_year") === 1996)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("o_year"))
    // pruned read matches predicate applied to the original
    assert(pruned.count() == orders.filter(col("o_year") === 1996).count())
    // only the matching partition directory is listed in the scan
    val dirs = new java.io.File(dir).listFiles.filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("o_year=")))
  }

  test("orc sink: round trip exact, partition pruning + data-predicate pushdown visible") {
    val dir = tmp("orc")
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    Lake.writeOrc(docs, dir, Seq("lang"))
    val files = new java.io.File(dir).listFiles.filter(_.isDirectory).map(_.getName)
    assert(files.exists(_.startsWith("lang=")), "hive partition dirs expected")
    val back = Lake.readOrc(spark, dir)
    // exact round trip (modulo column order; lang comes back as a
    // partition column)
    assert(back.count() == docs.count())
    assert(back.select("doc_id", "lang", "source", "n_chars")
      .exceptAll(docs).count() == 0)
    // partition filter prunes at plan time; data filter pushes into ORC
    val pruned = back.filter(col("lang") === "en" && col("n_chars") > 100)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"partition pruning missing:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("n_chars"),
      s"ORC predicate pushdown missing:\n$plan")
    assert(pruned.count() ==
      docs.filter(col("lang") === "en" && col("n_chars") > 100).count())
  }

  test("schema evolution across ingest batches: mergeSchema unions columns, old rows null-fill") {
    val s = spark
    import s.implicits._
    val dir = tmp("evolve")
    // batch 1 lands with the v1 schema, batch 2 adds a column — the
    // routine crawl-pipeline reality (new extractor fields appear)
    Tables.documents(spark, sf).select($"doc_id", $"lang").limit(100)
      .write.parquet(s"$dir/batch=1")
    Tables.documents(spark, sf).select($"doc_id", $"lang", $"n_chars").limit(100)
      .write.parquet(s"$dir/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("doc_id", "lang", "n_chars", "batch"))
    assert(merged.count() == 200)
    // v1 rows surface the new column as null; v2 rows keep their values
    assert(merged.filter($"batch" === 1 && $"n_chars".isNotNull).count() == 0)
    assert(merged.filter($"batch" === 2 && $"n_chars".isNull).count() == 0)
  }

  test("writer lock: exclusive while held, named loser, released on every exit, stale lease broken") {
    import graft.sources.Lake
    val idx = java.nio.file.Files.createTempDirectory("graft_lock").toString
    // exclusion: a second writer inside the first's lease loses, and
    // the error names the holder
    val err = intercept[Lake.ConcurrentMaintenanceException] {
      Lake.withWriterLock(spark, idx, owner = "writer-a") {
        Lake.withWriterLock(spark, idx, owner = "writer-b")(fail("must not enter"))
      }
    }
    assert(err.getMessage.contains("writer-a"), s"loser must learn the holder: $err")
    // release on normal exit: the next writer takes the lease freely
    Lake.withWriterLock(spark, idx, owner = "writer-c")(())
    // release on THROWING exit too
    intercept[RuntimeException] {
      Lake.withWriterLock(spark, idx, owner = "writer-d")(sys.error("body blew up"))
    }
    Lake.withWriterLock(spark, idx, owner = "writer-e")(())
    // a crashed writer's stale lease (older than leaseMs) is broken
    // and taken over rather than wedging the index forever
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"$idx/_maintenance_lock")
    val out = fs.create(lock, false); out.write("dead-writer".getBytes); out.close()
    var entered = false
    Lake.withWriterLock(spark, idx, owner = "writer-f", leaseMs = 0L) { entered = true }
    assert(entered, "a stale lease must be broken and taken over")
    assert(!fs.exists(lock), "the takeover's own lease must release on exit")
    // and the REWRITING maintenance ops refuse to run under a foreign
    // live lease (the multi-writer hazard they exist to close)
    val out2 = fs.create(lock, false); out2.write("live-writer".getBytes); out2.close()
    intercept[Lake.ConcurrentMaintenanceException] {
      operators.TextAnalysis.bm25Vacuum(spark, idx)
    }
    intercept[Lake.ConcurrentMaintenanceException] {
      operators.Similarity.ivfCompact(spark, idx)
    }
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
  }

  test("snapshot retention: a live read pin blocks physical reclaim; release or expiry unblocks") {
    import graft.sources.Lake
    val s = spark
    import s.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_pin").toString
    // a raw bm25 index with tombstoned rows a vacuum would reclaim
    val docs = (0 until 20).map(i =>
      (i.toLong, s"alpha$i beta${i % 3} gamma${i % 5} delta$i")).toDF("doc_id", "text")
    operators.TextAnalysis.bm25WriteRaw(docs, idx)
    // a long probe session resolves its snapshot and pins it, THEN a
    // concurrent curation pass deletes docs the snapshot still sees
    val snap = operators.TextAnalysis.bm25Snapshot(s, idx)
    val pin = Lake.pinSnapshot(s, idx, owner = "probe-1")
    operators.TextAnalysis.bm25Delete(s, idx,
      docs.filter($"doc_id" % 2 === 0).select($"doc_id"))
    val rowsBefore = s.read.parquet(s"$idx/postings").count()
    val err = intercept[Lake.PinnedSnapshotException] {
      operators.TextAnalysis.bm25Vacuum(s, idx)
    }
    assert(err.getMessage.contains("probe-1"),
      s"the refusal must name the live pin owner: $err")
    assert(s.read.parquet(s"$idx/postings").count() == rowsBefore,
      "a refused vacuum must reclaim nothing")
    // ... and the refusal must not leak the writer lease
    Lake.withWriterLock(s, idx, owner = "after-refusal")(())
    // the pinned serve still reads its complete snapshot
    val pinned = operators.TextAnalysis.bm25ServeRaw(s, idx, qMod = 1,
      snapshot = Some(snap))
    assert(pinned.filter($"doc_id" % 2 === 0).count() > 0,
      "the pinned snapshot must still see rows a vacuum would drop")
    // release → vacuum reclaims; pins are idempotent to double-release
    Lake.releasePin(s, idx, pin)
    Lake.releasePin(s, idx, pin)
    operators.TextAnalysis.bm25Vacuum(s, idx)
    assert(s.read.parquet(s"$idx/postings").count() < rowsBefore,
      "vacuum must reclaim once the pin is released")
    // a crashed reader's pin expires by its own TTL instead of
    // blocking maintenance forever
    Lake.pinSnapshot(s, idx, owner = "crashed-probe", ttlMs = 0L)
    Thread.sleep(5)
    operators.TextAnalysis.bm25Vacuum(s, idx) // must not throw
    assert(Lake.livePins(s, idx).isEmpty, "expired pins must be cleaned up")
    // the ivf reclaim steps honor the same gate
    val pin2 = Lake.pinSnapshot(s, idx, owner = "probe-2")
    intercept[Lake.PinnedSnapshotException] {
      operators.Similarity.ivfCompact(s, idx)
    }
    intercept[Lake.PinnedSnapshotException] {
      operators.Similarity.ivfRetrain(s, idx)
    }
    Lake.releasePin(s, idx, pin2)
    val fs2 = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs2.delete(new org.apache.hadoop.fs.Path(idx), true)
    spark.catalog.clearCache()
  }

  test("index catalog: build-once across processes, supersede by seq, vacuum reclaims losers") {
    import graft.sources.{Catalog, Lake}
    val s = spark
    import s.implicits._
    val cat = java.nio.file.Files.createTempDirectory("graft_catalog").toString
    val docs = (0 until 25).map(i =>
      (i.toLong, s"alpha$i beta${i % 3} gamma${i % 5}")).toDF("doc_id", "text")
    // the MAINTENANCE process: a miss builds and registers commit-last
    var builds = 0
    val p1 = Catalog.resolveOrBuild(s, cat, "bm25", "corpus-a dfCap=100",
      stamp = "epoch-1") { dir =>
      builds += 1
      operators.TextAnalysis.bm25WriteImpactFrom(docs, dir)
    }
    assert(builds == 1)
    val servedByBuilder = operators.TextAnalysis
      .bm25ServeFrom(s, p1, k = 100, qMod = 1).localCheckpoint()
    // a SERVING process knows only the catalog dir: its resolve must
    // not rebuild, and must serve the identical answer
    val p2 = Catalog.resolveOrBuild(s, cat, "bm25", "corpus-a dfCap=100") { _ =>
      fail("a registered index must never rebuild")
    }
    assert(p2 == p1, "both processes must resolve the same index")
    val servedByServer = operators.TextAnalysis.bm25ServeFrom(s, p2, k = 100, qMod = 1)
    assert(servedByBuilder.count() == servedByServer.count() &&
      servedByBuilder.exceptAll(servedByServer).count() == 0,
      "catalog-resolved serve must equal the builder's serve")
    // a different key is a different index
    Catalog.resolveOrBuild(s, cat, "bm25", "corpus-b dfCap=100") { dir =>
      builds += 1
      operators.TextAnalysis.bm25WriteImpactFrom(docs.limit(10), dir)
    }
    assert(builds == 2, "an unseen key must build")
    assert(Catalog.lookup(s, cat, "bm25", "nope").isEmpty)
    // a re-registration supersedes: lookup returns the newest stamp
    val rebuilt = s"$cat/store/bm25/rebuilt-by-hand"
    operators.TextAnalysis.bm25WriteImpactFrom(docs, rebuilt)
    Catalog.register(s, cat, "bm25", "corpus-a dfCap=100", rebuilt, "epoch-2")
    val (latestPath, latestStamp) =
      Catalog.lookup(s, cat, "bm25", "corpus-a dfCap=100").get
    assert(latestPath == rebuilt && latestStamp == "epoch-2",
      "lookup must resolve the highest-seq registration")
    // vacuum drops the superseded store dir and its manifest row; a
    // live read pin blocks it first (same retention contract)
    val pin = Lake.pinSnapshot(s, cat, owner = "server-1")
    intercept[Lake.PinnedSnapshotException] { Catalog.vacuum(s, cat) }
    Lake.releasePin(s, cat, pin)
    Catalog.vacuum(s, cat)
    val fs = new org.apache.hadoop.fs.Path(cat)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p1)),
      "vacuum must reclaim the superseded index directory")
    assert(Catalog.lookup(s, cat, "bm25", "corpus-a dfCap=100")
      .exists(_._1 == rebuilt), "the latest registration must survive vacuum")
    assert(Catalog.entries(s, cat).count() == 2,
      "only the latest row per key survives vacuum")
    fs.delete(new org.apache.hadoop.fs.Path(cat), true)
    spark.catalog.clearCache()
  }

  test("retention cycle: TTL expiry serves immediately; reclaim defers under a pin, runs next tick") {
    import graft.sources.Lake
    val s = spark
    import s.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_ttl").toString
    val docs = (0 until 20).map(i =>
      (i.toLong, s"alpha$i beta${i % 3} gamma${i % 5} word$i")).toDF("doc_id", "text")
    // the pipeline's landed metadata: docs 0-7 predate the horizon
    val meta = (0 until 20).map(i =>
      (i.toLong, java.sql.Date.valueOf(if (i < 8) "2025-01-01" else "2026-06-01")))
      .toDF("doc_id", "ingested")
    val cutoff = lit("2026-01-01").cast("date")
    operators.TextAnalysis.bm25WriteRaw(docs, idx)
    val rowsBefore = s.read.parquet(s"$idx/postings").count()
    // tick 1, under a live reader pin: the expiry commits (tombstones
    // are append-only — they can't invalidate the pin) but the
    // physical reclaim DEFERS
    val pin = Lake.pinSnapshot(s, idx, owner = "probe")
    assert(operators.Retention.bm25RetentionCycle(s, idx, meta, "ingested", cutoff)
      == operators.Retention.Deferred,
      "reclaim must defer, not fail, under a live pin")
    val served = operators.TextAnalysis.bm25ServeRaw(s, idx, qMod = 1)
    assert(served.filter($"doc_id" < 8).count() == 0 &&
      served.filter($"query_id" < 8).count() == 0,
      "expired docs must stop serving immediately, reclaim or not")
    assert(s.read.parquet(s"$idx/postings").count() == rowsBefore,
      "a deferred reclaim must not touch the postings")
    // tick 2, pin released: the re-driven expiry is a no-op
    // (idempotent) and the vacuum lands
    Lake.releasePin(s, idx, pin)
    assert(operators.Retention.bm25RetentionCycle(s, idx, meta, "ingested", cutoff)
      == operators.Retention.Reclaimed,
      "the next tick must complete the deferred reclaim")
    assert(s.read.parquet(s"$idx/postings").count() < rowsBefore,
      "vacuum must reclaim the expired docs' postings")
    // the IVF tick: same shape over the vector index
    val ivf = java.nio.file.Files.createTempDirectory("graft_ttl_ivf").toString
    val emb = Tables.embeddings(s, sf)
    operators.Similarity.ivfWriteFrom(emb, ivf)
    val vmeta = emb.select($"vec_id".as("doc_id"))
      .withColumn("ingested", when($"doc_id" % 4 === 1, lit("2025-01-01"))
        .otherwise(lit("2026-06-01")).cast("date"))
    assert(operators.Retention.ivfRetentionCycle(s, ivf, vmeta, "ingested", cutoff,
      maxFilesPerCell = 1000) == operators.Retention.Reclaimed)
    val served2 = operators.Similarity.annIvfServe(s, ivf, nprobe = 10)
    assert(served2.filter($"neighbor_id" % 4 === 1).count() == 0,
      "expired vectors must never be served")
    val fs3 = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs3.delete(new org.apache.hadoop.fs.Path(idx), true)
    fs3.delete(new org.apache.hadoop.fs.Path(ivf), true)
    spark.catalog.clearCache()
  }

  test("self-tuning tick: reclaim skipped below the ε-gate, runs above it, measures exposed, phases in metrics") {
    val s = spark
    import s.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_eps").toString
    val docs = (0 until 40).map(i =>
      (i.toLong, s"alpha$i beta${i % 3} gamma${i % 5} word$i")).toDF("doc_id", "text")
    // 2 of 40 docs expire: ~5% of rows reclaimable — real dead weight,
    // but far below a 50% rewrite threshold
    val meta = (0 until 40).map(i =>
      (i.toLong, java.sql.Date.valueOf(if (i < 2) "2025-01-01" else "2026-06-01")))
      .toDF("doc_id", "ingested")
    val cutoff = lit("2026-01-01").cast("date")
    operators.TextAnalysis.bm25WriteRaw(docs, idx)
    assert(IndexLayout.RawBm25.reclaimableFraction(s, idx) == 0.0,
      "a fresh index has nothing to reclaim")
    val rowsBefore = s.read.parquet(s"$idx/postings").count()
    val m = new Metrics(s)
    assert(operators.Retention.bm25RetentionCycle(s, idx, meta, "ingested", cutoff,
      maxFilesPerBucket = 1000, minReclaim = 0.5, metrics = Some(m))
      == operators.Retention.Skipped,
      "below ε and unfragmented, the tick must skip the rewrite")
    assert(s.read.parquet(s"$idx/postings").count() == rowsBefore,
      "a skipped reclaim must not touch the postings")
    // …but the expiry committed anyway: correctness never waits on ε
    val served = operators.TextAnalysis.bm25ServeRaw(s, idx, qMod = 1)
    assert(served.filter($"doc_id" < 2).count() == 0,
      "expired docs must stop serving even when the reclaim is skipped")
    val frac = IndexLayout.RawBm25.reclaimableFraction(s, idx)
    assert(frac > 0.0 && frac < 0.5,
      s"the dead weight must be measurable and below the gate: $frac")
    // the same tick at a lower threshold pays the rewrite
    assert(operators.Retention.bm25RetentionCycle(s, idx, meta, "ingested", cutoff,
      maxFilesPerBucket = 1000, minReclaim = 0.01, metrics = Some(m))
      == operators.Retention.Reclaimed)
    assert(s.read.parquet(s"$idx/postings").count() < rowsBefore)
    assert(IndexLayout.RawBm25.reclaimableFraction(s, idx) == 0.0,
      "after the vacuum the reclaimable fraction must read zero")
    // the phases landed as named metric scopes (the operational trail)
    val names = m.snapshot.map(_.name)
    assert(names.count(_ == "bm25_retention_expire") == 2 &&
      names.count(_ == "bm25_retention_reclaim") == 1,
      s"expire on both ticks, reclaim only on the second: $names")
    // ivf side: the fraction measure agrees with the tombstoned share
    val ivf = java.nio.file.Files.createTempDirectory("graft_eps_ivf").toString
    val emb = Tables.embeddings(s, sf)
    operators.Similarity.ivfWriteFrom(emb, ivf)
    assert(IndexLayout.Ivf.reclaimableFraction(s, ivf) == 0.0)
    val n = emb.count()
    operators.Similarity.ivfDelete(s, ivf, emb.filter($"vec_id" % 10 === 0)
      .select($"vec_id"))
    val ifrac = IndexLayout.Ivf.reclaimableFraction(s, ivf)
    assert(math.abs(ifrac - emb.filter($"vec_id" % 10 === 0).count().toDouble / n) < 1e-9,
      s"the ivf fraction must equal the tombstoned share: $ifrac")
    val vmeta = emb.select($"vec_id".as("doc_id"))
      .withColumn("ingested", lit("2026-06-01").cast("date"))
    assert(operators.Retention.ivfRetentionCycle(s, ivf, vmeta, "ingested", cutoff,
      maxFilesPerCell = 1000, minReclaim = 0.5) == operators.Retention.Skipped,
      "a tombstoned share below ε must not pay the cell rewrite")
    assert(operators.Retention.ivfRetentionCycle(s, ivf, vmeta, "ingested", cutoff,
      maxFilesPerCell = 1000, minReclaim = 0.05) == operators.Retention.Reclaimed)
    assert(IndexLayout.Ivf.reclaimableFraction(s, ivf) == 0.0)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    fs.delete(new org.apache.hadoop.fs.Path(ivf), true)
    spark.catalog.clearCache()
  }

  test("version pins: a pinned version survives GC across swaps byte-identically; release reclaims") {
    val s = spark
    import s.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_vpin").toFile
    val path = idx.getAbsolutePath
    val docs = (0 until 30).map(i =>
      (i.toLong, s"alpha$i beta${i % 3} gamma${i % 5} word$i")).toDF("doc_id", "text")
    operators.TextAnalysis.bm25WriteImpactFrom(docs, path)
    // a probe session resolves AND PINS the current version before a
    // maintenance storm of refresh swaps
    val (pin, v1dir) = Lake.pinCurrentVersion(s, path, owner = "probe-v")
    assert(v1dir.endsWith("v=1"))
    val pinnedServe = operators.TextAnalysis.bm25ServeFromLive(s, path,
      k = 100, qMod = 1).localCheckpoint()
    def filesOf(d: java.io.File): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[(String, (Long, Long))] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq((f.getAbsolutePath, (f.length, f.lastModified)))
      walk(d).toMap
    }
    // the tombstone write lands in the still-current v=1 (expected —
    // it IS the live version until the swap); fingerprint after it,
    // so the assertion isolates what the SWAPS must not touch
    operators.TextAnalysis.bm25MarkDeleted(s, path,
      docs.filter($"doc_id" % 2 === 0).select($"doc_id"))
    val v1Files = filesOf(new java.io.File(idx, "v=1"))
    // swap twice: without the pin, v=1 would age below keep=2 and GC
    assert(operators.TextAnalysis.bm25RefreshIfStale(docs, path, eps = 0.1))
    operators.TextAnalysis.bm25MarkDeleted(s, path,
      docs.filter($"doc_id" === 1).select($"doc_id"))
    assert(operators.TextAnalysis.bm25RefreshIfStale(
      docs.filter($"doc_id" % 2 =!= 0), path, eps = 0.01))
    assert(graft.sources.Lake.committedVersions(s, path) == Seq(1L, 2L, 3L),
      "the pinned version must survive GC beyond the keep depth")
    assert(filesOf(new java.io.File(idx, "v=1")) == v1Files,
      "the pinned version must survive byte-identically")
    // a plain versionless pin is conservative: it retains EVERY
    // committed version, because the reader never said which one
    Lake.releasePin(s, path, pin)
    val anon = Lake.pinSnapshot(s, path, owner = "anon-probe")
    operators.TextAnalysis.bm25MarkDeleted(s, path,
      docs.filter($"doc_id" === 3).select($"doc_id"))
    assert(operators.TextAnalysis.bm25RefreshIfStale(
      docs.filter(($"doc_id" % 2 =!= 0) && ($"doc_id" =!= 1)), path, eps = 0.01))
    assert(graft.sources.Lake.committedVersions(s, path) == Seq(1L, 2L, 3L, 4L),
      "a versionless pin must conservatively retain all committed versions")
    // release → the next swap GCs back down to the keep depth
    Lake.releasePin(s, path, anon)
    operators.TextAnalysis.bm25MarkDeleted(s, path,
      docs.filter($"doc_id" === 5).select($"doc_id"))
    assert(operators.TextAnalysis.bm25RefreshIfStale(
      docs.filter(($"doc_id" % 2 =!= 0) && ($"doc_id" =!= 1) && ($"doc_id" =!= 3)),
      path, eps = 0.01))
    assert(graft.sources.Lake.committedVersions(s, path) == Seq(4L, 5L),
      "with no pins live, GC must return to the keep depth")
    assert(!new java.io.File(idx, "v=1").exists,
      "the released version must finally reclaim")
    // sanity: the pre-storm pinned serve was a real answer
    assert(pinnedServe.count() > 0)
    org.apache.commons.io.FileUtils.deleteDirectory(idx)
    spark.catalog.clearCache()
  }

  test("impact retention tick: expiry serves immediately, refresh gated by ε, defers under a foreign lease") {
    import graft.sources.Lake
    val s = spark
    import s.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_impact_ttl").toString
    val docs = (0 until 20).map(i =>
      (i.toLong, s"alpha$i beta${i % 3} gamma${i % 5} word$i")).toDF("doc_id", "text")
    val meta = (0 until 20).map(i =>
      (i.toLong, java.sql.Date.valueOf(if (i < 4) "2025-01-01" else "2026-06-01")))
      .toDF("doc_id", "ingested")
    val cutoff = lit("2026-01-01").cast("date")
    operators.TextAnalysis.bm25WriteImpactFrom(docs, idx)
    // tick 1 at a high ε: the 20% expiry is below threshold — masked
    // serving, no rebuild, version list untouched
    assert(operators.Retention.bm25ImpactRetentionCycle(s, idx, docs, meta,
      "ingested", cutoff, eps = 0.5) == operators.Retention.Skipped)
    assert(Lake.committedVersions(s, idx) == Seq(1L),
      "a skipped tick must not publish a version")
    val served = operators.TextAnalysis.bm25ServeFromLive(s, idx, qMod = 1)
    assert(served.filter($"doc_id" < 4).count() == 0,
      "expired docs must stop serving even while the rebuild is skipped")
    // tick 2 at a lower ε: the refresh rebuilds on the survivors and
    // publishes atomically; the new version starts with a clean slate
    assert(operators.Retention.bm25ImpactRetentionCycle(s, idx, docs, meta,
      "ingested", cutoff, eps = 0.1) == operators.Retention.Reclaimed)
    assert(Lake.committedVersions(s, idx) == Seq(1L, 2L))
    assert(operators.TextAnalysis.bm25DeletedFraction(s, idx) == 0.0)
    // tick 3: nothing newly expired — re-marking already-absent docs
    // leaves the fraction at zero, so the tick is a cheap no-op
    assert(operators.Retention.bm25ImpactRetentionCycle(s, idx, docs, meta,
      "ingested", cutoff, eps = 0.1) == operators.Retention.Skipped)
    assert(Lake.committedVersions(s, idx) == Seq(1L, 2L))
    // a clean tick never touches the lease at all …
    Lake.withWriterLock(s, idx, owner = "other-maintainer") {
      assert(operators.Retention.bm25ImpactRetentionCycle(s, idx, docs,
        meta.filter($"doc_id" >= 4), "ingested", cutoff, eps = 0.0)
        == operators.Retention.Skipped, // nothing expired → skip, no lease touched
        "a tick with nothing stale must not contend for the lease")
    }
    // now make it stale AND hold the lease: the tick defers
    operators.TextAnalysis.bm25MarkDeleted(s, idx,
      docs.filter($"doc_id" % 3 === 1).select($"doc_id"))
    Lake.withWriterLock(s, idx, owner = "other-maintainer") {
      assert(operators.Retention.bm25ImpactRetentionCycle(s, idx, docs, meta,
        "ingested", cutoff, eps = 0.1) == operators.Retention.Deferred)
    }
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    spark.catalog.clearCache()
  }

  test("directory artifact stamp: a corpus-state change re-resolves through the catalog") {
    val s = spark
    import s.implicits._
    val cat = java.nio.file.Files.createTempDirectory("graft_shared_stamp").toString
    var builds = 0
    def build(tag: String)(dir: String): Unit = {
      builds += 1
      Seq((tag, 1L)).toDF("tag", "v").write.parquet(s"$dir/data")
    }
    def shared(stamp: String)(b: String => Unit): String =
      Artifacts.directory(s, Artifacts.LineDfTemplate, "stampspec",
        stamp = stamp, catalogDir = Some(cat))(b)
    val p1 = shared("corpus-v1")(build("a"))
    assert(builds == 1)
    // same stamp: in-session memo AND catalog both reuse
    assert(shared("corpus-v1")(build("b")) == p1 && builds == 1)
    // the corpus moved: the stamped resolve rebuilds and supersedes
    val p2 = shared("corpus-v2")(build("c"))
    assert(builds == 2 && p2 != p1,
      "a new stamp must re-resolve instead of serving the stale memo")
    // an unstamped consumer now resolves the superseded-to index
    assert(graft.sources.Catalog.lookup(s, cat, "shared", "tmpl:line_df:stampspec")
      .contains((p2, "corpus-v2")))
    val fs = new org.apache.hadoop.fs.Path(cat)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(cat), true)
    spark.catalog.clearCache()
  }

  test("retention sweep: dfs delta-history bloat arms the dedup slot with zero dead rows") {
    import operators.Retention
    val s = spark
    import s.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_sweep_dfs").toString
    val docs = (0 until 20).map(i =>
      (i.toLong, s"alpha$i beta${i % 3} gamma${i % 5} word$i")).toDF("doc_id", "text")
    operators.NearDup.dedupIndexWrite(docs, idx)
    assert(operators.NearDup.dedupDfsReclaimableFraction(s, idx) == 0.0,
      "a fresh build's dfs is already compact")
    // repeated same-content appends bloat the delta history without a
    // single tombstone or orphan — the read-cost growth the postings
    // fractions can't see
    (0 until 3).foreach(i => operators.NearDup.dedupIndexAppend(
      docs.select(($"doc_id" + (1000L * (i + 1))).as("doc_id"), $"text"), idx))
    assert(IndexLayout.DedupSig.reclaimableFraction(s, idx) == 0.0,
      "no posting is dead — only the dfs history grew")
    val frac = operators.NearDup.dedupDfsReclaimableFraction(s, idx)
    assert(frac > 0.5, s"3 same-content appends must bloat dfs: $frac")
    val meta = (0 until 20).map(i =>
      (i.toLong, java.sql.Date.valueOf("2026-06-01"))).toDF("doc_id", "ingested")
    val fleet = Seq(Retention.Maintained("sig", Retention.DedupSig, idx, meta,
      "ingested", lit("2026-01-01").cast("date"), maxFiles = 1000))
    assert(Retention.retentionSweep(s, fleet) == Map("sig" -> Retention.Reclaimed),
      "the dfs fraction alone must arm the slot")
    assert(operators.NearDup.dedupDfsReclaimableFraction(s, idx) == 0.0,
      "the sweep's vacuum must recompact the dfs history to the live floor")
    assert(Retention.retentionSweep(s, fleet) == Map("sig" -> Retention.Skipped),
      "a recompacted index must skip the next tick")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    spark.catalog.clearCache()
  }

  test("retention sweep: a phash band index's tombstones are reclaimed and the serve answer is unchanged") {
    import operators.{Multimodal, Retention}
    val s = spark
    import s.implicits._
    val idx = tmp("sweep_phash")
    val bmp = Multimodal.bmpTable(s, sf).select($"doc_id", $"payload")
    val twins = Multimodal.bmpTwinTable(s, sf)
    Multimodal.phashIndexWrite(bmp, idx)
    // tombstone every fifth image: a serve stops seeing them at once
    IndexLayout.Phash.delete(s, idx, bmp.filter($"doc_id" % 5 === 0))
    assert(IndexLayout.Phash.reclaimableFraction(s, idx) > 0.0)
    val before = Multimodal.mmPhashServe(s, idx, twins).collect().toSet
    assert(before.nonEmpty)
    // the sweep's expiry names the same images (a re-delete is a no-op);
    // the fleet line addresses the index by the `phash` kind word
    val meta = tmp("sweep_phash_meta")
    bmp.select($"doc_id", when($"doc_id" % 5 === 0, lit("2000-01-01").cast("date"))
      .otherwise(current_date()).as("ingested")).write.mode("overwrite").parquet(meta)
    val fleet = MaintenanceMain.parseFleet(s, s"index name=img kind=phash path=$idx " +
      s"meta=$meta ts=ingested ttlDays=365 maxFiles=1000").indexes
    assert(fleet.map(_.kind) == Seq(Retention.Phash))
    assert(Retention.retentionSweep(s, fleet) == Map("img" -> Retention.Reclaimed))
    assert(IndexLayout.Phash.reclaimableFraction(s, idx) == 0.0,
      "the sweep's vacuum reclaims every tombstoned band row")
    assert(Multimodal.mmPhashServe(s, idx, twins).collect().toSet == before,
      "the reclaim is answer-invisible")
  }

  test("retention sweep: expiry always commits, rewrite budget spent highest-dead-weight-first, converges") {
    import operators.Retention
    val s = spark
    import s.implicits._
    def mkIdx(n: Int, nOld: Int): (String, org.apache.spark.sql.DataFrame) = {
      val idx = java.nio.file.Files.createTempDirectory("graft_sweep").toString
      val docs = (0 until n).map(i =>
        (i.toLong, s"alpha$i beta${i % 3} gamma${i % 5} word$i")).toDF("doc_id", "text")
      operators.TextAnalysis.bm25WriteRaw(docs, idx)
      val meta = (0 until n).map(i =>
        (i.toLong, java.sql.Date.valueOf(if (i < nOld) "2025-01-01" else "2026-06-01")))
        .toDF("doc_id", "ingested")
      (idx, meta)
    }
    val cutoff = lit("2026-01-01").cast("date")
    val (heavy, heavyMeta) = mkIdx(20, 10) // ~50% expires
    val (light, lightMeta) = mkIdx(20, 2)  // ~10% expires
    val fleet = Seq(
      Retention.Maintained("heavy", Retention.RawBm25, heavy, heavyMeta, "ingested", cutoff,
        maxFiles = 1000),
      Retention.Maintained("light", Retention.RawBm25, light, lightMeta, "ingested", cutoff,
        maxFiles = 1000))
    // sweep 1, budget = one rewrite: the heavier index wins the slot,
    // the lighter defers — but BOTH stop serving their expired docs
    val r1 = Retention.retentionSweep(s, fleet, maxReclaims = 1)
    assert(r1 == Map("heavy" -> Retention.Reclaimed, "light" -> Retention.Deferred), s"$r1")
    val lightServe = operators.TextAnalysis.bm25ServeRaw(s, light, qMod = 1)
    assert(lightServe.filter($"doc_id" < 2).count() == 0,
      "a deferred index's expiry must still serve-mask immediately")
    assert(IndexLayout.RawBm25.reclaimableFraction(s, heavy) == 0.0)
    assert(IndexLayout.RawBm25.reclaimableFraction(s, light) > 0.0)
    // sweep 2: the deferred reclaim lands; the already-clean index
    // skips (no dead weight, no fragmentation at this threshold)
    val r2 = Retention.retentionSweep(s, fleet, maxReclaims = 1)
    assert(r2 == Map("light" -> Retention.Reclaimed, "heavy" -> Retention.Skipped), s"$r2")
    assert(IndexLayout.RawBm25.reclaimableFraction(s, light) == 0.0)
    // a pinned index defers even inside the budget
    operators.TextAnalysis.bm25Delete(s, heavy,
      (10 until 12).map(_.toLong).toDF("doc_id"))
    val pin = Lake.pinSnapshot(s, heavy, owner = "sweep-probe")
    val r3 = Retention.retentionSweep(s, fleet.take(1))
    assert(r3 == Map("heavy" -> Retention.Deferred), s"$r3")
    Lake.releasePin(s, heavy, pin)
    // a drift-armed IVF index with ZERO dead rows still wins a slot
    // once its measured drift passes eps, and spends it on the retrain
    val ivf = java.nio.file.Files.createTempDirectory("graft_sweep_ivf").toString
    val emb = Tables.embeddings(s, sf)
    operators.Similarity.ivfWriteFrom(emb, ivf)
    operators.Similarity.ivfAppend(s, ivf, emb
      .select(($"vec_id" + 1000000L).as("vec_id"),
        expr("transform(embedding, x -> x + float(2.0))").as("embedding"), $"label"))
    val drifted = operators.Similarity.ivfDriftMeasure(s, ivf)
    val vmeta = emb.select($"vec_id".as("doc_id"))
      .withColumn("ingested", lit("2026-06-01").cast("date"))
    val armed = Seq(Retention.Maintained("vec", Retention.Ivf, ivf, vmeta,
      "ingested", cutoff, maxFiles = 1000, driftEps = Some(drifted / 2)))
    assert(Retention.retentionSweep(s, armed) == Map("vec" -> Retention.Reclaimed))
    assert(operators.Similarity.ivfDriftMeasure(s, ivf) < drifted,
      "the sweep's slot must have retrained the drifted index")
    // re-measured below eps: the next sweep skips
    val calm = Seq(armed.head.copy(driftEps =
      Some(operators.Similarity.ivfDriftMeasure(s, ivf) * 1.01)))
    assert(Retention.retentionSweep(s, calm) == Map("vec" -> Retention.Skipped))
    val fsIvf = new org.apache.hadoop.fs.Path(ivf)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsIvf.delete(new org.apache.hadoop.fs.Path(ivf), true)
    val fs = new org.apache.hadoop.fs.Path(heavy)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(heavy), true)
    fs.delete(new org.apache.hadoop.fs.Path(light), true)
    spark.catalog.clearCache()
  }

  test("catalog checkpoint: lookups unchanged, files bounded, rollback headroom and crash duplicates absorbed") {
    import sources.Catalog
    val s = spark
    val cat = java.nio.file.Files.createTempDirectory("graft_cat_ckpt").toString
    val fs = new org.apache.hadoop.fs.Path(cat)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def manifestFiles(): Seq[org.apache.hadoop.fs.Path] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$cat/manifest")).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(_.getPath)
    // five registrations across two keys = five manifest files
    Catalog.register(s, cat, "t", "a", s"$cat/store/t/a1", "v1")
    Catalog.register(s, cat, "t", "a", s"$cat/store/t/a2", "v2")
    Catalog.register(s, cat, "t", "b", s"$cat/store/t/b1", "v1")
    Catalog.registerAll(s, cat, Seq(
      ("t", "a", s"$cat/store/t/a3", "v3"), ("t", "b", s"$cat/store/t/b2", "v2")))
    Catalog.register(s, cat, "t", "b", s"$cat/store/t/b3", "v3")
    assert(manifestFiles().length == 5)
    val before = Catalog.entries(s, cat).collect().map(_.toString).sorted.toSeq
    // checkpoint: one file, every row preserved, lookups identical
    Catalog.checkpoint(s, cat)
    assert(manifestFiles().length == 1, "checkpoint must merge to one file")
    assert(Catalog.entries(s, cat).collect().map(_.toString).sorted.toSeq == before,
      "checkpoint must preserve every manifest row exactly")
    assert(Catalog.lookup(s, cat, "t", "a").contains((s"$cat/store/t/a3", "v3")))
    assert(Catalog.lookup(s, cat, "t", "b").contains((s"$cat/store/t/b3", "v3")))
    // registrations after the checkpoint append fresh files that the
    // next checkpoint absorbs; seq keeps advancing past the merge
    Catalog.register(s, cat, "t", "a", s"$cat/store/t/a4", "v4")
    assert(manifestFiles().length == 2)
    assert(Catalog.lookup(s, cat, "t", "a").contains((s"$cat/store/t/a4", "v4")))
    Catalog.checkpoint(s, cat)
    assert(manifestFiles().length == 1)
    // rollback still resolves the true prior epoch through the merged file
    assert(Catalog.rollback(s, cat, "t", "a") == (s"$cat/store/t/a3", "v3"))
    assert(Catalog.lookup(s, cat, "t", "a").contains((s"$cat/store/t/a3", "v3")))
    // CRASHED checkpoint (merged file landed, an absorbed original not
    // yet deleted → rows housed twice): lookups, rollback and vacuum
    // must all absorb exact duplicates instead of double-counting
    Catalog.checkpoint(s, cat) // fold the rollback's append in first
    val mf = manifestFiles().head
    org.apache.hadoop.fs.FileUtil.copy(fs, mf, fs,
      new org.apache.hadoop.fs.Path(s"$cat/manifest/dup-copy.parquet"),
      false, s.sparkContext.hadoopConfiguration)
    assert(Catalog.entries(s, cat).count() == 2 * (before.length + 2),
      "precondition: every row is duplicated")
    assert(Catalog.lookup(s, cat, "t", "a").contains((s"$cat/store/t/a3", "v3")))
    // vacuum(keepEpochs=2): the duplicated newest row must not push the
    // true prior epoch out of the retention window — rollback works after
    Catalog.vacuum(s, cat, keepEpochs = 2)
    assert(Catalog.rollback(s, cat, "t", "b") == (s"$cat/store/t/b2", "v2"))
    fs.delete(new org.apache.hadoop.fs.Path(cat), true)
    spark.catalog.clearCache()
  }

  test("retention sweep maintains all five persisted index families in one tick, incl. the PQ sidecar") {
    import operators.{NearDup, Retention, Similarity, TextAnalysis}
    val s = spark
    import s.implicits._
    val cutoff = lit("2026-01-01").cast("date")
    val docs = Tables.documents(s, sf).select($"doc_id", $"text")
      .filter($"doc_id" < 60).localCheckpoint()
    // every even doc expires; odd docs survive
    val dmeta = docs.select($"doc_id")
      .withColumn("ingested", when($"doc_id" % 2 === 0, lit("2025-01-01"))
        .otherwise(lit("2026-06-01")).cast("date")).localCheckpoint()
    def tmp(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"graft_sweep5_$tag").toString
    val (raw, imp, sig, lin, ivf) =
      (tmp("raw"), tmp("imp"), tmp("sig"), tmp("lin"), tmp("ivf"))
    TextAnalysis.bm25WriteRaw(Tables.fanout(docs), raw)
    TextAnalysis.bm25WriteImpactFrom(docs, imp)
    NearDup.dedupIndexWrite(Tables.fanout(docs), sig)
    TextAnalysis.lineIndexWrite(Tables.fanout(docs), lin)
    // the vector member: drift-armed IVF with an attached PQ sidecar
    val emb = Tables.embeddings(s, sf)
    Similarity.ivfWriteFrom(emb, ivf)
    Similarity.pqAttach(s, ivf)
    Similarity.ivfAppend(s, ivf, emb
      .select(($"vec_id" + 1000000L).as("vec_id"),
        expr("transform(embedding, x -> x + float(2.0))").as("embedding"), $"label"))
    val drift0 = Similarity.ivfDriftMeasure(s, ivf)
    val vmeta = emb.select($"vec_id".as("doc_id"))
      .withColumn("ingested", lit("2026-06-01").cast("date"))
    val fleet = Seq(
      Retention.Maintained("raw", Retention.RawBm25, raw, dmeta, "ingested", cutoff,
        maxFiles = 1000),
      Retention.Maintained("imp", Retention.ImpactBm25, imp, dmeta, "ingested", cutoff,
        maxFiles = 1000, docs = Some(docs)),
      Retention.Maintained("sig", Retention.DedupSig, sig, dmeta, "ingested", cutoff,
        maxFiles = 1000),
      Retention.Maintained("lin", Retention.LineDf, lin, dmeta, "ingested", cutoff,
        maxFiles = 1000),
      Retention.Maintained("vec", Retention.Ivf, ivf, vmeta, "ingested", cutoff,
        maxFiles = 1000, driftEps = Some(drift0 / 2)))
    val r1 = Retention.retentionSweep(s, fleet)
    assert(r1.values.forall(_ == Retention.Reclaimed), s"sweep 1: $r1")
    // every family is physically clean and serving only survivors
    assert(IndexLayout.RawBm25.reclaimableFraction(s, raw) == 0.0)
    assert(TextAnalysis.bm25ServeRaw(s, raw, qMod = 1)
      .filter($"doc_id" % 2 === 0).count() == 0, "raw must not serve expired docs")
    assert(TextAnalysis.bm25DeletedFraction(s, imp) == 0.0,
      "the impact refresh must have rebuilt on survivors (fresh version, no tombstones)")
    assert(TextAnalysis.bm25ServeFrom(s, imp, qMod = 1)
      .filter($"doc_id" % 2 === 0).count() == 0, "impact must not serve expired docs")
    assert(IndexLayout.DedupSig.reclaimableFraction(s, sig) == 0.0)
    assert(IndexLayout.Lines.reclaimableFraction(s, lin) == 0.0)
    // the drifted vector index spent its slot on the retrain AND the
    // sidecar re-fit (a coverage-only refresh would leave stale books)
    assert(Similarity.ivfDriftMeasure(s, ivf) < drift0)
    assert(!Similarity.pqBooksStale(s, ivf) && Similarity.pqCoverageGap(s, ivf) == 0,
      "a sweep-driven retrain must leave the PQ sidecar fresh and covered")
    // sweep 2 on the same fleet (drift re-thresholded): everything is
    // clean, so every slot SKIPS — the loop converges
    val calm = fleet.init :+ fleet.last.copy(
      driftEps = Some(Similarity.ivfDriftMeasure(s, ivf) * 1.01))
    val r2 = Retention.retentionSweep(s, calm)
    assert(r2.values.forall(_ == Retention.Skipped), s"sweep 2: $r2")
    // an append re-arms ONLY the sidecar (coverage gap > 0, books
    // fresh): the slot fires and repairs by the cheap pqRefresh path
    Similarity.ivfAppend(s, ivf, emb
      .select(($"vec_id" + 2000000L).as("vec_id"), $"embedding", $"label"))
    assert(Similarity.pqCoverageGap(s, ivf) > 0)
    val r3 = Retention.retentionSweep(s, Seq(calm.last))
    assert(r3 == Map("vec" -> Retention.Reclaimed), s"sweep 3: $r3")
    assert(Similarity.pqCoverageGap(s, ivf) == 0 && !Similarity.pqBooksStale(s, ivf),
      "the sidecar-gap arm must re-cover the appended vectors")
    assert(Similarity.annIvfPqServe(s, ivf, nQueries = 20).count() > 0)
    val fs = new org.apache.hadoop.fs.Path(raw)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq(raw, imp, sig, lin, ivf).foreach { p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
    }
    spark.catalog.clearCache()
  }

  test("bm25_catalog_serve lifecycle: epoch-1 fleet parity, drift supersedes, vacuum reclaims") {
    import graft.sources.Catalog
    val s = spark
    import s.implicits._
    val cat = java.nio.file.Files.createTempDirectory("graft_cat_srv").toString
    val docs = (0 until 30).map(i =>
      (i.toLong, s"alpha$i beta${i % 3} gamma${i % 5} word$i")).toDF("doc_id", "text")
    val p1 = Catalog.resolveOrBuild(s, cat, "bm25impact", "spec-corpus",
      stamp = "epoch-1") { d =>
      operators.TextAnalysis.bm25WriteImpactFrom(docs.filter($"doc_id" <= 20), d)
    }
    // the serving fleet: lookup-only resolve, epoch-1 answer parity
    val fleet1 = operators.TextAnalysis.bm25ServeFrom(s,
      Catalog.lookup(s, cat, "bm25impact", "spec-corpus").get._1,
      k = 100, qMod = 1).localCheckpoint()
    assert(sameResult(fleet1, operators.TextAnalysis.bm25Of(
      docs.filter($"doc_id" <= 20), k = 100, qMod = 1)),
      "the fleet's catalog-resolved serve must equal the from-scratch answer")
    // drift → supersede → vacuum → the fleet serves the new epoch
    Catalog.resolveOrBuild(s, cat, "bm25impact", "spec-corpus",
      stamp = "epoch-2") { d =>
      operators.TextAnalysis.bm25WriteImpactFrom(docs, d)
    }
    Catalog.vacuum(s, cat)
    val fs = new org.apache.hadoop.fs.Path(cat)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p1)),
      "vacuum must reclaim the superseded epoch-1 store")
    val (p2, stamp2) = Catalog.lookup(s, cat, "bm25impact", "spec-corpus").get
    assert(stamp2 == "epoch-2")
    assert(sameResult(
      operators.TextAnalysis.bm25ServeFrom(s, p2, k = 100, qMod = 1),
      operators.TextAnalysis.bm25Of(docs, k = 100, qMod = 1)),
      "the post-drift fleet serve must equal the full-corpus answer")
    fs.delete(new org.apache.hadoop.fs.Path(cat), true)
    spark.catalog.clearCache()
  }

  test("nb_catalog_serve lifecycle: epoch-1 model parity, drift retrains, vacuum reclaims, rollback restores the prior model") {
    import graft.sources.Catalog
    val s = spark
    import s.implicits._
    val TA = operators.TextAnalysis
    val cat = java.nio.file.Files.createTempDirectory("graft_nbm_srv").toString
    // the C32 separable corpus
    val docs = (0L until 60L).map { i =>
      val t =
        if (i % 2 == 0) s"customer value part kfilla kfillb kfill${i % 7}"
        else s"spark batch stream dfilla dfillb dfill${i % 7}"
      (i, t)
    }.toDF("doc_id", "text")
    val prefix = docs.filter($"doc_id" <= 40)
    val p1 = Catalog.resolveOrBuild(s, cat, "nbmodel", "spec-corpus",
      stamp = "epoch-1") { d => TA.nbModelWrite(prefix, d) }
    // a serving process: lookup-only resolve, scores == the
    // from-scratch prefix-trained scores (integer parquet round-trip)
    val (m1, pr1) = TA.nbModelRead(s, p1)
    val fleet1 = TA.nbScore(docs, m1, pr1).localCheckpoint()
    val (m1s, pr1s) = TA.nbTrain(prefix)
    assert(sameResult(fleet1, TA.nbScore(docs, m1s, pr1s)),
      "the catalog-resolved model must score identically to the in-session one")
    // drift → retrain on the full corpus → supersede, keeping
    // rollback headroom (keepEpochs = 2)
    Catalog.resolveOrBuild(s, cat, "nbmodel", "spec-corpus",
      stamp = "epoch-2") { d => TA.nbModelWrite(docs, d) }
    Catalog.vacuum(s, cat, keepEpochs = 2)
    val fs = new org.apache.hadoop.fs.Path(cat)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(p1)),
      "keepEpochs=2 must preserve the rollback target")
    val (p2, stamp2) = Catalog.lookup(s, cat, "nbmodel", "spec-corpus").get
    assert(stamp2 == "epoch-2")
    val (m2, pr2) = TA.nbModelRead(s, p2)
    val (m2s, pr2s) = TA.nbTrain(docs)
    assert(sameResult(TA.nbScore(docs, m2, pr2), TA.nbScore(docs, m2s, pr2s)))
    // the one-commit rollback applies to MODEL kinds identically:
    // the fleet flips back to epoch-1 and serves the prior scores
    val (pb, sb) = Catalog.rollback(s, cat, "nbmodel", "spec-corpus")
    assert(sb == "epoch-1" && pb == p1)
    val (mb, prb) = TA.nbModelRead(s, pb)
    assert(sameResult(TA.nbScore(docs, mb, prb), fleet1),
      "rollback must restore the prior model's exact scores")
    // the bad epoch reclaims on the next default vacuum; the
    // rolled-back-to store survives (it is the newest registration)
    Catalog.vacuum(s, cat)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p2)) &&
      fs.exists(new org.apache.hadoop.fs.Path(p1)))
    fs.delete(new org.apache.hadoop.fs.Path(cat), true)
    spark.catalog.clearCache()
  }

  test("fleet_catalog_serve: all four kinds flip in one seq per epoch; mixed epochs refuse loudly") {
    import graft.sources.Catalog
    import operators.TextAnalysis
    val s = spark
    import s.implicits._
    val cat = java.nio.file.Files.createTempDirectory("graft_fleet4").toString
    val cut = Tables.prefixCut(Tables.documents(s, sf)).get
    val fleet = TextAnalysis.fleetTemplates(s, sf)
    val kinds = fleet.map(_._1)
    for ((stamp, snap) <- Seq("epoch-1" -> Some(cut), "epoch-2" -> None))
      Catalog.cutover(s, cat, "spec", stamp)(fleet.map { case (kind, template) =>
        kind -> Artifacts.promote(s, template(snap)) }: _*)
    // each epoch's FOUR rows share ONE seq — the single-commit flip
    val rows = Catalog.entries(s, cat)
      .select($"kind", $"stamp", $"seq").collect()
      .groupBy(_.getAs[String]("stamp"))
    for ((stamp, rs) <- rows) {
      assert(rs.map(_.getAs[Long]("seq")).distinct.length == 1,
        s"$stamp rows must share one seq")
      assert(rs.map(_.getAs[String]("kind")).sorted.toSeq ==
        kinds.sorted, s"$stamp must cover all four kinds")
    }
    // the resolve refuses a mixed fleet: one kind re-registered at a
    // newer epoch must fail the all-four check, never serve a mix
    assert(Catalog.resolve(s, cat, "spec", "epoch-2")(kinds: _*).keySet == kinds.toSet)
    Catalog.register(s, cat, "ivf", "spec",
      Catalog.lookup(s, cat, "ivf", "spec").get._1, "epoch-3")
    intercept[IllegalArgumentException] {
      Catalog.resolve(s, cat, "spec", "epoch-3")(kinds: _*)
    }
    val fs = new org.apache.hadoop.fs.Path(cat)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(cat), true)
    spark.catalog.clearCache()
  }

  test("bm25_rollback_serve drill: bad epoch reclaimed, rolled-back-to store survives, serve restores the prior answer") {
    import graft.sources.Catalog
    val s = spark
    import s.implicits._
    val cat = java.nio.file.Files.createTempDirectory("graft_rollb").toString
    val docs = (0 until 30).map(i =>
      (i.toLong, s"alpha$i beta${i % 3} gamma${i % 5} word$i")).toDF("doc_id", "text")
    val p1 = Catalog.resolveOrBuild(s, cat, "bm25impact", "spec",
      stamp = "epoch-1") { d =>
      operators.TextAnalysis.bm25WriteImpactFrom(docs.filter($"doc_id" <= 20), d)
    }
    val p2 = Catalog.resolveOrBuild(s, cat, "bm25impact", "spec",
      stamp = "epoch-2") { d =>
      operators.TextAnalysis.bm25WriteImpactFrom(docs, d)
    }
    Catalog.vacuum(s, cat, keepEpochs = 2)
    val fs = new org.apache.hadoop.fs.Path(cat)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(p1)),
      "keepEpochs=2 must retain the rollback headroom")
    assert(Catalog.rollback(s, cat, "bm25impact", "spec") == (p1, "epoch-1"))
    // the default vacuum now reclaims the BAD epoch-2 store and keeps
    // the rolled-back-to one (it is the newest registration again)
    Catalog.vacuum(s, cat)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p2)),
      "the rolled-away epoch's store must reclaim")
    assert(fs.exists(new org.apache.hadoop.fs.Path(p1)),
      "the serving store must survive the reclaim")
    val (path, stamp) = Catalog.lookup(s, cat, "bm25impact", "spec").get
    assert(path == p1 && stamp == "epoch-1")
    assert(sameResult(
      operators.TextAnalysis.bm25ServeFrom(s, path, k = 100, qMod = 1),
      operators.TextAnalysis.bm25Of(docs.filter($"doc_id" <= 20), k = 100, qMod = 1)),
      "the rolled-back fleet serve must equal the prior epoch's answer")
    fs.delete(new org.apache.hadoop.fs.Path(cat), true)
    spark.catalog.clearCache()
  }

  test("dedup_sig + line_df catalog lifecycle: epoch-1 fleet parity, drift supersedes, vacuum reclaims") {
    import graft.sources.Catalog
    val s = spark
    import s.implicits._
    val cat = java.nio.file.Files.createTempDirectory("graft_cat_dl").toString
    val docs = (0 until 30).map(i =>
      (i.toLong, s"alpha$i beta${i % 3} gamma${i % 5} the word$i tail${i % 4}"))
      .toDF("doc_id", "text").localCheckpoint()
    val neu = docs.select(($"doc_id" + 1000000L).as("doc_id"), $"text")
      .localCheckpoint()
    // ── dedup_sig: epoch-1 (prefix) → fleet parity → drift → vacuum ──
    val d1 = Catalog.resolveOrBuild(s, cat, "dedup_sig", "spec",
      stamp = "epoch-1") { d =>
      operators.NearDup.dedupIndexWrite(docs.filter($"doc_id" <= 20), d)
    }
    assert(sameResult(
      operators.NearDup.dedupServe(s,
        Catalog.lookup(s, cat, "dedup_sig", "spec").get._1, neu, 0.3),
      operators.NearDup.crossDedupPairs(neu, docs.filter($"doc_id" <= 20), 0.3)),
      "the fleet's catalog-resolved dedup serve must equal from-scratch")
    Catalog.resolveOrBuild(s, cat, "dedup_sig", "spec", stamp = "epoch-2") { d =>
      operators.NearDup.dedupIndexWrite(docs, d)
    }
    // ── line_df: same lifecycle under the same catalog root ──
    val l1 = Catalog.resolveOrBuild(s, cat, "line_df", "spec",
      stamp = "epoch-1") { d =>
      operators.TextAnalysis.lineIndexWrite(docs.filter($"doc_id" <= 20), d)
    }
    val refIdx = tmp("linecat_ref")
    operators.TextAnalysis.lineIndexWrite(docs.filter($"doc_id" <= 20), refIdx)
    assert(sameResult(
      operators.TextAnalysis.lineDedupServe(s,
        Catalog.lookup(s, cat, "line_df", "spec").get._1, neu),
      operators.TextAnalysis.lineDedupServe(s, refIdx, neu)),
      "the fleet's catalog-resolved line serve must equal the direct build")
    Catalog.resolveOrBuild(s, cat, "line_df", "spec", stamp = "epoch-2") { d =>
      operators.TextAnalysis.lineIndexWrite(docs, d)
    }
    // one vacuum reclaims BOTH kinds' superseded epoch-1 stores
    Catalog.vacuum(s, cat)
    val fs = new org.apache.hadoop.fs.Path(cat)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(d1)) &&
      !fs.exists(new org.apache.hadoop.fs.Path(l1)),
      "vacuum must reclaim both superseded epoch-1 stores")
    val (d2, ds2) = Catalog.lookup(s, cat, "dedup_sig", "spec").get
    val (l2, ls2) = Catalog.lookup(s, cat, "line_df", "spec").get
    assert(ds2 == "epoch-2" && ls2 == "epoch-2")
    assert(sameResult(
      operators.NearDup.dedupServe(s, d2, neu, 0.3),
      operators.NearDup.crossDedupPairs(neu, docs, 0.3)),
      "the post-drift dedup serve must equal the full-reference answer")
    val refIdx2 = tmp("linecat_ref2")
    operators.TextAnalysis.lineIndexWrite(docs, refIdx2)
    assert(sameResult(
      operators.TextAnalysis.lineDedupServe(s, l2, neu),
      operators.TextAnalysis.lineDedupServe(s, refIdx2, neu)),
      "the post-drift line serve must equal the full-reference build")
    fs.delete(new org.apache.hadoop.fs.Path(cat), true)
    spark.catalog.clearCache()
  }

  test("hybrid_catalog_serve lifecycle: two kinds flip in one commit, epoch parity, vacuum reclaims both") {
    import graft.sources.Catalog
    import operators.TextAnalysis
    val s = spark
    import s.implicits._
    val cat = tmp("hybcat")
    val docs = Tables.documents(s, sf).select($"doc_id", $"text")
    val cut = Tables.prefixCut(docs).get
    def cutover(stamp: String, snap: Option[Long]): Seq[String] =
      Catalog.cutover(s, cat, "spec", stamp)(TextAnalysis.hybridTemplates(s, sf).map {
        case (kind, template) => kind -> Artifacts.promote(s, template(snap)) }: _*)
    def resolveServe(epoch: String) = {
      val p = Catalog.resolve(s, cat, "spec", epoch)("bm25impact", "ivf")
      TextAnalysis.hybridServeFrom(s, sf, p("ivf"), p("bm25impact"))
    }
    // epoch 1: BOTH kinds land under one registerAll commit
    cutover("epoch-1", Some(cut))
    val (bm1, st1) = Catalog.lookup(s, cat, "bm25impact", "spec").get
    val (iv1, stv1) = Catalog.lookup(s, cat, "ivf", "spec").get
    assert(st1 == "epoch-1" && stv1 == "epoch-1")
    assert(Catalog.entries(s, cat).select($"seq").distinct().count() == 1,
      "one cutover = one shared seq for both kinds")
    // epoch-1 fleet parity: the catalog-resolved serve must equal a
    // direct serve of an INDEPENDENTLY built prefix pair
    val ref = tmp("hybref")
    graft.operators.Similarity.ivfWriteFrom(
      TextAnalysis.docEmbedDense(s, sf, 64).filter($"vec_id" <= cut),
      s"$ref/ivf", nlist = 16)
    TextAnalysis.bm25WriteImpactFrom(
      Tables.fanout(docs.filter($"doc_id" <= cut)), s"$ref/bm25")
    assert(sameResult(
      resolveServe("epoch-1"),
      TextAnalysis.hybridServeFrom(s, sf, s"$ref/ivf", s"$ref/bm25")),
      "the fleet's two catalog lookups must serve the epoch-1 answer")
    // drift: epoch-2 rebuilds BOTH kinds and supersedes atomically
    cutover("epoch-2", None)
    val e2seq = Catalog.entries(s, cat).filter($"stamp" === "epoch-2")
      .select($"seq").distinct().collect()
    assert(e2seq.length == 1, "the epoch-2 pair must share one cutover seq")
    Catalog.vacuum(s, cat)
    val fs = new org.apache.hadoop.fs.Path(cat)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(bm1)) &&
      !fs.exists(new org.apache.hadoop.fs.Path(iv1)),
      "vacuum must reclaim BOTH superseded epoch-1 stores")
    assert(sameResult(
      resolveServe("epoch-2"),
      TextAnalysis.hybridServe(s, sf)),
      "the post-drift fleet serve must equal the full-corpus hybrid answer")
    // a mixed-epoch fleet must refuse to fuse
    Catalog.register(s, cat, "ivf", "spec",
      Catalog.lookup(s, cat, "ivf", "spec").get._1, "epoch-3")
    assertThrows[IllegalArgumentException] {
      resolveServe("epoch-3")
    }
    fs.delete(new org.apache.hadoop.fs.Path(cat), true)
    spark.catalog.clearCache()
  }

  test("a failed cutover registers nothing and leaves no store directory; the re-driven cutover lands once") {
    import graft.sources.Catalog
    val s = spark
    import s.implicits._
    val cat = tmp("failcut")
    val fs = new org.apache.hadoop.fs.Path(cat).getFileSystem(s.sparkContext.hadoopConfiguration)
    def build(d: String): Unit = Seq(1, 2, 3).toDF("x").write.parquet(d)
    def stores: Set[String] = Seq("a", "b").flatMap { kind =>
      val dir = new org.apache.hadoop.fs.Path(s"$cat/store/$kind")
      if (fs.exists(dir)) fs.listStatus(dir).map(_.getPath.getName).map(n => s"$kind/$n")
      else Nil
    }.toSet
    val first = Catalog.cutover(s, cat, "k", "epoch-1")("a" -> build, "b" -> build)
    val before = stores
    assert(before.size == 2)
    // the second leg writes its directory and then fails: both legs'
    // directories are this attempt's and neither is registered
    val e = intercept[IllegalStateException] {
      Catalog.cutover(s, cat, "k", "epoch-2")("a" -> build,
        "b" -> (d => { build(d); throw new IllegalStateException("leg b failed") }))
    }
    assert(e.getMessage == "leg b failed")
    assert(Catalog.resolve(s, cat, "k", "epoch-1")("a", "b") ==
      Map("a" -> first.head, "b" -> first(1)), "the previous epoch still resolves")
    assert(Catalog.entries(s, cat).filter($"stamp" === "epoch-2").count() == 0,
      "a failed cutover registers no row")
    assert(stores == before, "a failed cutover leaves no store directory behind")
    // the re-driven cutover lands once, under one seq
    val second = Catalog.cutover(s, cat, "k", "epoch-2")("a" -> build, "b" -> build)
    val landed = Catalog.entries(s, cat).filter($"stamp" === "epoch-2").collect()
    assert(landed.length == 2 && landed.map(_.getAs[Long]("seq")).distinct.length == 1)
    assert(Catalog.resolve(s, cat, "k", "epoch-2")("a", "b") ==
      Map("a" -> second.head, "b" -> second(1)))
    assert(stores == before ++ second.map(_.stripPrefix(s"$cat/store/")))
    fs.delete(new org.apache.hadoop.fs.Path(cat), true)
  }

  test("fleet manifest resolves a catalog-addressed index to its serving epoch") {
    import graft.sources.Catalog
    val s = spark
    import s.implicits._
    val cat = tmp("fleetcat")
    val idx = tmp("fleetivf")
    graft.operators.Similarity.ivfWriteFrom(
      Tables.embeddings(s, sf).limit(200), idx, nlist = 4)
    Catalog.register(s, cat, "ivf", "corpus:spec", idx, "epoch-1")
    val meta = tmp("fleetmeta")
    Tables.embeddings(s, sf).limit(200)
      .select($"vec_id".as("doc_id"),
        current_timestamp().as("ingested"))
      .write.mode("overwrite").parquet(meta)
    val fleet = MaintenanceMain.parseFleet(s,
      s"index name=vecs kind=ivf catalog=$cat key=corpus:spec " +
        s"meta=$meta ts=ingested ttlDays=365")
    assert(fleet.indexes.head.path == idx,
      "catalog-addressed line must resolve to the registered store path")
    // unknown key fails loudly; path+catalog together fails loudly
    assertThrows[IllegalArgumentException] {
      MaintenanceMain.parseFleet(s,
        s"index name=vecs kind=ivf catalog=$cat key=missing " +
          s"meta=$meta ts=ingested ttlDays=365")
    }
    assertThrows[IllegalArgumentException] {
      MaintenanceMain.parseFleet(s,
        s"index name=vecs kind=ivf path=$idx catalog=$cat key=corpus:spec " +
          s"meta=$meta ts=ingested ttlDays=365")
    }
    // the r14 catalog kinds resolve the same way — the fleet grammar's
    // kind words ARE the catalog kind strings, no ckind mapping needed
    val docs = (0 until 20).map(i =>
      (i.toLong, s"alpha$i beta${i % 3} the gamma${i % 5} word$i"))
      .toDF("doc_id", "text")
    val sigIdx = tmp("fleetsig")
    val lineIdx = tmp("fleetline")
    operators.NearDup.dedupIndexWrite(docs, sigIdx)
    operators.TextAnalysis.lineIndexWrite(docs, lineIdx)
    Catalog.register(s, cat, "dedup_sig", "corpus:spec", sigIdx, "epoch-1")
    Catalog.register(s, cat, "line_df", "corpus:spec", lineIdx, "epoch-1")
    val dmeta = tmp("fleetdmeta")
    docs.select($"doc_id", current_timestamp().as("ingested"))
      .write.mode("overwrite").parquet(dmeta)
    val fleet2 = MaintenanceMain.parseFleet(s,
      s"index name=sig kind=dedup_sig catalog=$cat key=corpus:spec " +
        s"meta=$dmeta ts=ingested ttlDays=365\n" +
      s"index name=lines kind=line_df catalog=$cat key=corpus:spec " +
        s"meta=$dmeta ts=ingested ttlDays=365")
    assert(fleet2.indexes.map(_.path) == Seq(sigIdx, lineIdx),
      "dedup_sig/line_df fleet lines must resolve their registered stores")
    // and a real tick maintains the resolved stores without error
    val outcomes = operators.Retention.retentionSweep(s, fleet2.indexes)
    assert(outcomes.keySet == Set("sig", "lines"), s"$outcomes")
  }

  test("lake compaction: fragmented partitions repack to target, clean ones byte-untouched, rows exact, gated") {
    import operators.Retention
    val s = spark
    import s.implicits._
    val dir = tmp("compact")
    val orders = Tables.orders(spark, sf)
      .withColumn("o_year", year(col("o_orderdate")))
    // fragment ONE partition (many small files), keep the rest clean
    val y = orders.select(max($"o_year")).head().getInt(0)
    orders.filter($"o_year" =!= y).coalesce(1)
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    orders.filter($"o_year" === y).repartition(8)
      .write.mode("append").partitionBy("o_year").parquet(dir)
    val before = Lake.readPartitioned(s, dir).localCheckpoint()
    def filesIn(p: String): Map[String, (Long, Long)] =
      new java.io.File(p).listFiles.filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length, f.lastModified)).toMap
    val cleanYear = new java.io.File(dir).listFiles
      .filter(d => d.isDirectory && d.getName != s"o_year=$y").head
    val cleanBefore = filesIn(cleanYear.getAbsolutePath)
    assert(filesIn(s"$dir/o_year=$y").size == 8)
    // a pinned table defers; the tick reports it
    val pin = Lake.pinSnapshot(s, dir, owner = "scan-1")
    assert(Retention.lakeCompactionCycle(s, dir) == Retention.Deferred)
    Lake.releasePin(s, dir, pin)
    // the tick repacks the fragmented partition only
    assert(Retention.lakeCompactionCycle(s, dir) == Retention.Reclaimed)
    assert(filesIn(s"$dir/o_year=$y").size == 1,
      "the fragmented partition must repack to the target file count")
    assert(filesIn(cleanYear.getAbsolutePath) == cleanBefore,
      "clean partitions must keep their files byte-for-byte")
    val after = Lake.readPartitioned(s, dir)
    assert(after.count() == before.count() &&
      after.exceptAll(before).count() == 0,
      "compaction must preserve every row exactly")
    // now clean: the next tick skips without reading anything
    assert(Retention.lakeCompactionCycle(s, dir) == Retention.Skipped)
    // an UNPARTITIONED table compacts at the root without touching
    // the lock/pin control files
    val flat = tmp("compact_flat")
    Tables.nation(spark, sf).repartition(6).write.mode("overwrite").parquet(flat)
    assert(filesIn(flat).size == 6)
    val flatBefore = Lake.readPartitioned(s, flat).localCheckpoint()
    assert(Retention.lakeCompactionCycle(s, flat) == Retention.Reclaimed)
    assert(filesIn(flat).size == 1)
    val flatAfter = Lake.readPartitioned(s, flat)
    assert(flatAfter.count() == flatBefore.count() &&
      flatAfter.exceptAll(flatBefore).count() == 0)
    spark.catalog.clearCache()
  }

  test("catalog epoch cutover: registerAll flips every key together in one manifest commit") {
    import graft.sources.Catalog
    val s = spark
    import s.implicits._
    val cat = java.nio.file.Files.createTempDirectory("graft_cat_epoch").toString
    val docs = (0 until 20).map(i =>
      (i.toLong, s"alpha$i beta${i % 3} gamma${i % 5}")).toDF("doc_id", "text")
    // epoch 1: two keys registered individually
    val a1 = Catalog.resolveOrBuild(s, cat, "bm25impact", "corpus-a", "epoch-1") {
      d => operators.TextAnalysis.bm25WriteImpactFrom(docs.limit(10), d) }
    val b1 = Catalog.resolveOrBuild(s, cat, "bm25impact", "corpus-b", "epoch-1") {
      d => operators.TextAnalysis.bm25WriteImpactFrom(docs.limit(5), d) }
    // nightly epoch-2 rebuild of BOTH, cut over atomically
    val a2 = s"$cat/store/bm25impact/a2"
    val b2 = s"$cat/store/bm25impact/b2"
    operators.TextAnalysis.bm25WriteImpactFrom(docs, a2)
    operators.TextAnalysis.bm25WriteImpactFrom(docs.limit(15), b2)
    val manifestFiles =
      new java.io.File(s"$cat/manifest").listFiles
        .count(_.getName.endsWith(".parquet"))
    Catalog.registerAll(s, cat, Seq(
      ("bm25impact", "corpus-a", a2, "epoch-2"),
      ("bm25impact", "corpus-b", b2, "epoch-2")))
    // ONE new manifest file = one rename-atomic commit for both keys
    assert(new java.io.File(s"$cat/manifest").listFiles
      .count(_.getName.endsWith(".parquet")) == manifestFiles + 1,
      "the cutover must land as a single manifest file")
    // both keys flip together, sharing one seq
    assert(Catalog.lookup(s, cat, "bm25impact", "corpus-a").contains((a2, "epoch-2")))
    assert(Catalog.lookup(s, cat, "bm25impact", "corpus-b").contains((b2, "epoch-2")))
    assert(Catalog.entries(s, cat)
      .filter($"stamp" === "epoch-2").select($"seq").distinct().count() == 1,
      "a cutover's rows must share one seq")
    // duplicate keys in one cutover are rejected (seq tie would
    // resolve arbitrarily)
    intercept[IllegalArgumentException] {
      Catalog.registerAll(s, cat, Seq(
        ("bm25impact", "corpus-a", a2, "epoch-3"),
        ("bm25impact", "corpus-a", b2, "epoch-3")))
    }
    // keepEpochs = 2: both epochs' stores survive — rollback headroom
    Catalog.vacuum(s, cat, keepEpochs = 2)
    val fs = new org.apache.hadoop.fs.Path(cat)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(a1)) &&
      fs.exists(new org.apache.hadoop.fs.Path(b1)),
      "keepEpochs=2 must retain the previous epoch's stores")
    assert(Catalog.entries(s, cat).count() == 4,
      "two epochs x two keys must survive a keepEpochs=2 vacuum")
    // default vacuum reclaims both epoch-1 stores, keeps both epoch-2
    Catalog.vacuum(s, cat)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(a1)) &&
      !fs.exists(new org.apache.hadoop.fs.Path(b1)))
    assert(fs.exists(new org.apache.hadoop.fs.Path(a2)) &&
      fs.exists(new org.apache.hadoop.fs.Path(b2)))
    fs.delete(new org.apache.hadoop.fs.Path(cat), true)
    spark.catalog.clearCache()
  }

  test("catalog rollback: one commit flips the fleet back, vacuum then reclaims the bad epoch") {
    import graft.sources.Catalog
    val s = spark
    import s.implicits._
    val cat = java.nio.file.Files.createTempDirectory("graft_cat_rb").toString
    val docs = (0 until 20).map(i =>
      (i.toLong, s"alpha$i beta${i % 3} gamma${i % 5}")).toDF("doc_id", "text")
    val good = Catalog.resolveOrBuild(s, cat, "bm25impact", "rb-key", "epoch-1") {
      d => operators.TextAnalysis.bm25WriteImpactFrom(docs, d) }
    val bad = Catalog.resolveOrBuild(s, cat, "bm25impact", "rb-key", "epoch-2") {
      d => operators.TextAnalysis.bm25WriteImpactFrom(docs.limit(3), d) }
    assert(Catalog.lookup(s, cat, "bm25impact", "rb-key").contains((bad, "epoch-2")))
    // epoch-2 turns out broken: one rollback call flips every lookup
    assert(Catalog.rollback(s, cat, "bm25impact", "rb-key") == (good, "epoch-1"))
    assert(Catalog.lookup(s, cat, "bm25impact", "rb-key").contains((good, "epoch-1")),
      "after rollback the fleet must resolve the prior epoch again")
    // the manifest stays an audit log: the bad row is superseded, not
    // erased, until vacuum reclaims its store and keeps the live one
    assert(Catalog.entries(s, cat).count() == 3)
    Catalog.vacuum(s, cat)
    val fs = new org.apache.hadoop.fs.Path(cat)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(bad)),
      "vacuum must reclaim the rolled-away epoch's store")
    assert(fs.exists(new org.apache.hadoop.fs.Path(good)))
    assert(Catalog.lookup(s, cat, "bm25impact", "rb-key").contains((good, "epoch-1")))
    // with only one epoch left, a further rollback refuses loudly
    intercept[IllegalArgumentException] {
      Catalog.rollback(s, cat, "bm25impact", "rb-key")
    }
    fs.delete(new org.apache.hadoop.fs.Path(cat), true)
    spark.catalog.clearCache()
  }

  test("fleet rollback: one seq flips every kind back; missing headroom aborts all-or-nothing; reclaim asymmetric per kind") {
    import graft.sources.Catalog
    val s = spark
    import s.implicits._
    val cat = java.nio.file.Files.createTempDirectory("graft_cat_frb").toString
    val docs = (0 until 20).map(i =>
      (i.toLong, s"alpha$i beta${i % 3} gamma${i % 5}")).toDF("doc_id", "text")
    def store(k: String, e: String) = s"$cat/store/$k/$e"
    // two kinds cut over atomically at each epoch (epoch-2 is the
    // drill's bad fleet build)
    for (e <- Seq("epoch-1", "epoch-2")) {
      val n = if (e == "epoch-1") 10 else 20
      operators.TextAnalysis.bm25WriteImpactFrom(docs.limit(n), store("bm25impact", e))
      operators.TextAnalysis.lineIndexWrite(docs.limit(n), store("line_df", e))
      Catalog.registerAll(s, cat, Seq(
        ("bm25impact", "frb", store("bm25impact", e), e),
        ("line_df", "frb", store("line_df", e), e)))
    }
    Catalog.vacuum(s, cat, keepEpochs = 2)
    val filesBefore = new java.io.File(s"$cat/manifest").listFiles
      .count(_.getName.endsWith(".parquet"))
    val back = Catalog.rollbackAll(s, cat,
      Seq(("bm25impact", "frb"), ("line_df", "frb")))
    assert(back.forall(_._4 == "epoch-1"))
    // ONE manifest file = one rename-atomic commit for the whole fleet
    assert(new java.io.File(s"$cat/manifest").listFiles
      .count(_.getName.endsWith(".parquet")) == filesBefore + 1,
      "the fleet rollback must land as a single manifest file")
    // both kinds' rollback rows share the new highest seq — no reader
    // can ever observe kind A rolled back and kind B not
    val maxSeq = Catalog.entries(s, cat)
      .agg(org.apache.spark.sql.functions.max($"seq")).head().getLong(0)
    assert(Catalog.entries(s, cat).filter($"seq" === maxSeq).count() == 2,
      "the rollback rows must share one seq across kinds")
    assert(Catalog.lookup(s, cat, "bm25impact", "frb").exists(_._2 == "epoch-1"))
    assert(Catalog.lookup(s, cat, "line_df", "frb").exists(_._2 == "epoch-1"))
    // reclaim asymmetry, per kind: the bad epoch's store goes, the
    // rolled-back-to one survives (it is the newest registration again)
    val fs = new org.apache.hadoop.fs.Path(cat)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Catalog.vacuum(s, cat)
    for (k <- Seq("bm25impact", "line_df")) {
      assert(!fs.exists(new org.apache.hadoop.fs.Path(store(k, "epoch-2"))),
        s"$k: the bad epoch's store must be reclaimed")
      assert(fs.exists(new org.apache.hadoop.fs.Path(store(k, "epoch-1"))),
        s"$k: the rolled-back-to store must survive the reclaim")
    }
    // all-or-nothing: one kind without rollback headroom (a single
    // registered epoch) aborts the WHOLE drill with nothing written —
    // a partial fleet rollback is the mixed-epoch state the atomic
    // cutover exists to exclude
    operators.TextAnalysis.bm25WriteImpactFrom(docs, store("ivf", "only"))
    Catalog.register(s, cat, "ivf", "frb", store("ivf", "only"), "only")
    val rowsBefore = Catalog.entries(s, cat).count()
    val lookBefore = Seq("bm25impact", "line_df", "ivf")
      .map(k => Catalog.lookup(s, cat, k, "frb"))
    intercept[IllegalArgumentException] {
      Catalog.rollbackAll(s, cat, Seq(("bm25impact", "frb"), ("ivf", "frb")))
    }
    assert(Catalog.entries(s, cat).count() == rowsBefore,
      "an aborted fleet rollback must write NOTHING")
    assert(Seq("bm25impact", "line_df", "ivf")
      .map(k => Catalog.lookup(s, cat, k, "frb")) == lookBefore,
      "an aborted fleet rollback must leave every lookup untouched")
    fs.delete(new org.apache.hadoop.fs.Path(cat), true)
    spark.catalog.clearCache()
  }

  test("catalog freshness: a changed stamp rebuilds and supersedes; matching or empty stamps reuse") {
    import graft.sources.Catalog
    val s = spark
    import s.implicits._
    val cat = java.nio.file.Files.createTempDirectory("graft_cat_fresh").toString
    val docs = (0 until 20).map(i =>
      (i.toLong, s"alpha$i beta${i % 3} gamma${i % 5}")).toDF("doc_id", "text")
    var builds = 0
    val p1 = Catalog.resolveOrBuild(s, cat, "bm25", "corpus dfCap=100",
      stamp = "epoch-1") { dir =>
      builds += 1
      operators.TextAnalysis.bm25WriteImpactFrom(docs.limit(10), dir)
    }
    // same stamp → fresh enough → reuse; empty stamp → any → reuse
    assert(Catalog.resolveOrBuild(s, cat, "bm25", "corpus dfCap=100",
      stamp = "epoch-1") { _ => fail("matching stamp must reuse") } == p1)
    assert(Catalog.resolveOrBuild(s, cat, "bm25", "corpus dfCap=100") { _ =>
      fail("empty stamp must reuse any registration") } == p1)
    assert(builds == 1)
    // the corpus moved (new landed batch → new fingerprint): the next
    // maintenance resolve rebuilds and supersedes automatically
    val p2 = Catalog.resolveOrBuild(s, cat, "bm25", "corpus dfCap=100",
      stamp = "epoch-2") { dir =>
      builds += 1
      operators.TextAnalysis.bm25WriteImpactFrom(docs, dir)
    }
    assert(builds == 2 && p2 != p1, "a changed stamp must rebuild")
    assert(Catalog.lookup(s, cat, "bm25", "corpus dfCap=100")
      .contains((p2, "epoch-2")), "the rebuild must supersede by seq")
    // serving processes (empty stamp) now resolve the fresh index; the
    // stale path still reads fine until vacuum (superseded ≠ deleted)
    assert(Catalog.resolveOrBuild(s, cat, "bm25", "corpus dfCap=100") { _ =>
      fail("post-supersede resolve must reuse the fresh index") } == p2)
    val fs = new org.apache.hadoop.fs.Path(cat)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(p1)))
    Catalog.vacuum(s, cat)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p1)),
      "vacuum must reclaim the superseded build")
    assert(fs.exists(new org.apache.hadoop.fs.Path(p2)))
    fs.delete(new org.apache.hadoop.fs.Path(cat), true)
    spark.catalog.clearCache()
  }
}
