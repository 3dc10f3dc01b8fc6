package graft

import graft.operators.{Multimodal, NearDup, Similarity, TextAnalysis}
import graft.sources.{Catalog, IndexLayout, IndexRoute, Lake, UpsertSink}
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

  /** One index of every layout, each mutated once (tombstones, an
    * append, a delete, a PQ sidecar) so every declared directory
    * exists: (layout, root) pairs. */
  private lazy val built: Seq[(IndexLayout.Layout, String)] = {
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val cut = Tables.prefixCut(docs).get
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
    val lines = tmp("graft_layout_lines")
    TextAnalysis.lineIndexWrite(docs.filter($"doc_id" <= cut), lines)
    TextAnalysis.lineIndexAppend(docs.filter($"doc_id" > cut), lines)
    IndexLayout.Lines.delete(spark, lines, docs.filter($"doc_id" % 7 === 0))
    val phrase = tmp("graft_layout_phrase")
    TextAnalysis.phraseIndexWrite(docs.filter($"doc_id" <= cut), phrase)
    TextAnalysis.phraseIndexAppend(docs.filter($"doc_id" > cut), phrase)
    val sig = tmp("graft_layout_sig")
    NearDup.dedupIndexWrite(docs.filter($"doc_id" <= cut), sig)
    NearDup.dedupIndexAppend(docs.filter($"doc_id" > cut), sig)
    IndexLayout.DedupSig.delete(spark, sig, docs.filter($"doc_id" % 7 === 0))
    val phash = tmp("graft_layout_phash")
    val bmp = Multimodal.bmpTable(spark, sf).select($"doc_id", $"payload")
    val bcut = Tables.prefixCut(bmp).get
    Multimodal.phashIndexWrite(bmp.filter($"doc_id" <= bcut), phash)
    Multimodal.phashIndexAppend(bmp.filter($"doc_id" > bcut), phash)
    IndexLayout.Phash.delete(spark, phash, bmp.filter($"doc_id" % 5 === 0))
    val kn = tmp("graft_layout_kn")
    TextAnalysis.knStoreWrite(docs.filter($"doc_id" <= cut), kn)
    TextAnalysis.knStoreAppend(docs.filter($"doc_id" > cut), kn)
    // a catalog: two registrations and a two-kind cutover commit
    val cat = tmp("graft_layout_catalog")
    Catalog.register(spark, cat, "bm25impact", "k", impact, "epoch-1")
    Catalog.register(spark, cat, "kn", "k", kn, "epoch-1")
    Catalog.registerAll(spark, cat, Seq(("bm25impact", "k", impact, "epoch-2"),
      ("ivf", "k", ivf, "epoch-2")))
    // an upsert store: two delivered batches
    val store = tmp("graft_layout_upsert")
    UpsertSink.writeBatch(docs.filter($"doc_id" <= cut), store, 1L, Seq("doc_id"))
    UpsertSink.writeBatch(docs.filter($"doc_id" > cut), store, 2L, Seq("doc_id"))
    scratch ++= Seq(impact, raw, ivf, lines, phrase, sig, phash, kn, cat, store)
    Seq(IndexLayout.ImpactBm25 -> Lake.currentVersionDir(spark, impact).get,
      IndexLayout.RawBm25 -> raw, IndexLayout.Ivf -> ivf, IndexLayout.Pq -> ivf,
      IndexLayout.Lines -> lines, IndexLayout.Phrase -> phrase, IndexLayout.DedupSig -> sig,
      IndexLayout.Phash -> phash, IndexLayout.KnCounts -> kn, IndexLayout.Manifest -> cat,
      IndexLayout.BatchLog -> store)
  }

  private val scratch = scala.collection.mutable.ArrayBuffer.empty[String]

  override def afterAll(): Unit = {
    cleanup(scratch.toSeq: _*)
    super.afterAll()
  }

  test("layout drift: every declared index schema equals the schema Spark infers from a fresh build") {
    assert(built.map(_._1).toSet == IndexLayout.all.toSet, "every layout is built here")
    // the tombstone directories are driver-read metadata: each built
    // index holds some, so the loop below checks their schemas too
    for ((layout, root) <- built if layout.dirs.contains("deletes"))
      assert(layout.read(spark, root, "deletes").count() > 0, s"${layout.name} deletes")
    for ((layout, root) <- built; (dir, declared) <- layout.dirs) {
      val inferred = spark.read.parquet(s"$root/$dir")
      assert(loose(inferred.schema) == loose(declared),
        s"${layout.name} $dir: written ${inferred.schema.simpleString}, " +
          s"declared ${declared.simpleString}")
      assert(layout.read(spark, root, dir).count() == inferred.count(),
        s"${layout.name} $dir: the declared read must see every written row")
    }
  }

  test("documents drift: the declared schema equals the inferred one on the generated lake and on a quarantine-landed lake") {
    def check(lake: String): Unit = {
      val inferred = spark.read.parquet(s"$lake/documents.parquet")
      assert(loose(inferred.schema) == loose(Tables.documentsSchema),
        s"$lake: written ${inferred.schema.simpleString}, " +
          s"declared ${Tables.documentsSchema.simpleString}")
      assert(Tables.documents(spark, lake).count() == inferred.count())
    }
    check(sf)
    // the ingest path: jsonl.gz batches (one torn line) through
    // readJsonl's PERMISSIVE read and quarantine, the clean rows landed
    val batches = tmp("graft_layout_jsonl")
    val lake = tmp("graft_layout_lake")
    scratch ++= Seq(batches, lake)
    Lake.writeJsonlGz(Tables.documents(spark, sf), s"$batches/b0")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$batches/b0/torn.jsonl"),
      "{\"doc_id\": 7, \"text\": \"torn\n")
    val ingest = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val (clean, bad) = Lake.quarantine(Lake.readJsonl(spark, s"$batches/b0", ingest))
    assert(bad.count() == 1)
    clean.write.mode("overwrite").parquet(s"$lake/documents.parquet")
    check(lake)
    assert(Tables.documents(spark, lake).count() == Tables.documents(spark, sf).count())
  }

  test("local: every metadata directory reads on the driver the rows the declared read collects, with no job") {
    assert(built.flatMap(_._1.meta).toSet == Set("stats", "stats_log", "commits", "centroids",
      "deletes", "pq/books", "pq/commits", "manifest", "batch_log"))
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
    // the catalog reads its manifest the same way: a lookup runs no job
    val cat = built.collectFirst { case (IndexLayout.Manifest, root) => root }.get
    var found = Option.empty[(String, String)]
    assert(jobsOf { found = Catalog.lookup(spark, cat, "bm25impact", "k") } == 0,
      "Catalog.lookup ran a job")
    assert(found.map(_._2).contains("epoch-2"))
  }

  test("local: a missing directory holds no rows; a data directory is refused") {
    val none = tmp("graft_layout_none")
    scratch += none
    for (layout <- IndexLayout.all; dir <- layout.meta)
      assert(layout.local(spark, s"$none/absent", dir).isEmpty, s"${layout.name} $dir")
    for ((layout, dir) <- Seq(IndexLayout.ImpactBm25 -> "postings",
        IndexLayout.RawBm25 -> "postings", IndexLayout.Ivf -> "lists",
        IndexLayout.Pq -> "pq/codes", IndexLayout.RawBm25 -> "doclens",
        IndexLayout.Lines -> "lines", IndexLayout.Phrase -> "pos",
        IndexLayout.DedupSig -> "postings", IndexLayout.DedupSig -> "sizes",
        IndexLayout.DedupSig -> "dfs", IndexLayout.DedupSig -> "hotcand",
        IndexLayout.Phash -> "bands", IndexLayout.KnCounts -> "counts")) {
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

  /** One appendable layout driven through the shared protocol steps:
    * `build` writes and appends two committed batches, `torn` lands a
    * batch without its commit row, `delete` tombstones ids (None for a
    * layout without tombstones), `vacuum` is the family's reclaim, and
    * `serve` answers from the committed state, its index ids picked
    * out by `ids`. */
  private case class Walk(layout: IndexLayout.Appendable, build: String => Unit,
                          torn: String => Unit, delete: Option[(String, Seq[Long]) => Unit],
                          vacuum: String => Unit, serve: String => Set[Row],
                          ids: Row => Seq[Long])

  /** The files of every partition directory of `layout`'s data
    * directory: partition value -> (file name -> bytes). */
  private def partitionFiles(layout: IndexLayout.Appendable,
                             root: String): Map[Int, Map[String, Seq[Byte]]] = {
    val part = layout.part.get
    val dirs = Option(new java.io.File(s"$root/${layout.data}").listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith(s"$part="))
    dirs.map { d =>
      d.getName.stripPrefix(s"$part=").toInt -> d.listFiles().filter(_.isFile).map(f =>
        f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    }.toMap
  }

  test("shared protocol: every appendable layout hides a torn append, tombstones idempotently, and vacuums to zero dead weight") {
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    val docs = (0 until 30).map { i =>
      (i.toLong, (0 until 9).map(j => words((i * 7 + j * j + i * j) % 8))
        .grouped(3).map(_.mkString(" ")).mkString(" the "))
    }.toDF("doc_id", "text")
    val first = docs.filter($"doc_id" < 20)
    val second = docs.filter($"doc_id" >= 20)
    // novel tokens, lines and shingles: the torn batch's rows land in
    // partitions no committed row shares
    val late = Seq((500L, "omega psi chi the phi rho sigma the tau upsilon nu"))
      .toDF("doc_id", "text")
    val twins = docs.filter($"doc_id" % 4 === 1).select(($"doc_id" + 1000L).as("doc_id"), $"text")
    val emb = Tables.embeddings(spark, sf)
    val bmp = Multimodal.bmpTable(spark, sf).select($"doc_id", $"payload")
    val bcut = Tables.prefixCut(bmp).get
    val phrases = Seq((1L, "alpha", "beta"), (2L, "gamma", "delta"), (3L, "eta", "theta"))
      .toDF("query_id", "t1", "t2")
    def set(df: DataFrame): Set[Row] = df.collect().toSet
    def ids(cols: String*)(r: Row): Seq[Long] = cols.map(c => r.getAs[Long](c))
    val walks = Seq(
      Walk(IndexLayout.RawBm25,
        p => { TextAnalysis.bm25WriteRaw(first, p, nBuckets = 256)
          TextAnalysis.bm25Append(second, p) },
        p => TextAnalysis.bm25AppendRaw(late, p, None, overwrite = false, commit = false),
        Some((p, v) => TextAnalysis.bm25Delete(spark, p, v.toDF("doc_id"))),
        p => TextAnalysis.bm25Vacuum(spark, p, 1000),
        p => set(TextAnalysis.bm25ServeRaw(spark, p, qMod = 1)), ids("query_id", "doc_id")),
      Walk(IndexLayout.Ivf,
        p => { Similarity.ivfWriteFrom(emb.filter($"vec_id" < 300), p)
          Similarity.ivfAppend(spark, p, emb.filter($"vec_id" >= 300 && $"vec_id" < 400)) },
        p => Similarity.ivfAppendRaw(spark, p, emb.filter($"vec_id" >= 400), commit = false),
        Some((p, v) => Similarity.ivfDelete(spark, p, v.toDF("vec_id"))),
        p => Similarity.ivfCompact(spark, p, 1000),
        p => set(Similarity.annIvfServe(spark, p, nprobe = 16, k = 5, nQueries = 1000)),
        ids("query_id", "neighbor_id")),
      Walk(IndexLayout.Lines,
        p => { TextAnalysis.lineIndexWrite(first, p, nBuckets = 256)
          TextAnalysis.lineIndexAppend(second, p) },
        p => TextAnalysis.lineIndexAppendRaw(late, p, None, overwrite = false, commit = false),
        Some((p, v) => IndexLayout.Lines.delete(spark, p, v.toDF("doc_id"))),
        p => IndexLayout.Lines.vacuum(spark, p, 1000),
        p => set(TextAnalysis.lineDedupServe(spark, p, twins)), _ => Nil),
      Walk(IndexLayout.Phrase,
        p => { TextAnalysis.phraseIndexWrite(first, p, nBuckets = 256)
          TextAnalysis.phraseIndexAppend(second, p) },
        p => TextAnalysis.phraseIndexAppendRaw(late, p, None, overwrite = false,
          commit = false),
        None,
        p => IndexLayout.Phrase.vacuum(spark, p, 1000),
        p => set(TextAnalysis.phraseServe(spark, p, phrases, k = 100)), ids("doc_id")),
      Walk(IndexLayout.DedupSig,
        p => { NearDup.dedupIndexWrite(first, p, nBuckets = 256)
          NearDup.dedupIndexAppend(second, p) },
        p => NearDup.dedupIndexAppendRaw(late, p, None, overwrite = false, commit = false),
        Some((p, v) => IndexLayout.DedupSig.delete(spark, p, v.toDF("doc_id"))),
        p => NearDup.dedupIndexVacuum(spark, p, 1000),
        p => set(NearDup.dedupServe(spark, p, twins, threshold = 0.3)), ids("ref_id")),
      Walk(IndexLayout.Phash,
        p => { Multimodal.phashIndexWrite(bmp.filter($"doc_id" <= bcut), p, nBuckets = 1024)
          Multimodal.phashIndexAppend(bmp.filter($"doc_id" > bcut && $"doc_id" % 2 === 0), p) },
        p => Multimodal.phashIndexAppendRaw(bmp.filter($"doc_id" > bcut && $"doc_id" % 2 =!= 0),
          p, None, overwrite = false, commit = false),
        Some((p, v) => IndexLayout.Phash.delete(spark, p, v.toDF("doc_id"))),
        p => IndexLayout.Phash.vacuum(spark, p, 1000),
        p => set(Multimodal.mmPhashServe(spark, p, Multimodal.bmpTwinTable(spark, sf))),
        r => Seq(r.getAs[Long]("id1"), r.getAs[Long]("id2"))))
    for (w <- walks) {
      val L = w.layout
      val root = tmp("graft_walk")
      scratch += root
      w.build(root)
      assert(L.reclaimableFraction(spark, root) == 0.0, s"$L: a fresh build holds no dead rows")
      val answer = w.serve(root)
      assert(answer.nonEmpty, s"$L: the walk's serve answers")
      // a torn append: rows landed, commit row absent
      w.torn(root)
      assert(w.serve(root) == answer, s"$L: a torn append is invisible")
      assert(L.reclaimableFraction(spark, root) > 0.0, s"$L: torn rows are reclaimable")
      val committed = L.committed(spark, root)
      val rows = L.read(spark, root, L.data)
      val part = col(L.part.get)
      val id = col(L.id.get)
      // the sparsest committed partition's ids: tombstoning them drains it
      val victims = w.delete.fold(Seq.empty[Long]) { del =>
        val sparse = rows.filter(col(L.batch).isin(committed: _*))
          .groupBy(part).agg(countDistinct(id).as("n")).orderBy($"n", part).head().getInt(0)
        val v = rows.filter(part === sparse && col(L.batch).isin(committed: _*))
          .select(id).distinct().as[Long].collect().toSeq
        del(root, v)
        val dead = L.tombstones(spark, root, L.committed(spark, root)).toSet
        assert(v.toSet.subsetOf(dead), s"$L: the victims are tombstoned")
        val deletes = L.read(spark, root, "deletes").count()
        val hidden = w.serve(root)
        assert(hidden.forall(r => w.ids(r).forall(i => !v.contains(i))), s"$L: a delete hides its victims")
        del(root, v)
        assert(L.read(spark, root, "deletes").count() == deletes, s"$L: a re-delete adds no tombstone")
        assert(w.serve(root) == hidden, s"$L: a re-delete is a no-op")
        v
      }
      val served = w.serve(root)
      val live = L.committed(spark, root)
      val dirty = IndexLayout.partitionsOf(rows.filter(!col(L.batch).isin(live: _*) ||
        id.isin(victims: _*)).select(part)).toSet
      val drained = dirty -- IndexLayout.partitionsOf(rows.filter(col(L.batch).isin(live: _*) &&
        !id.isin(victims: _*)).select(part))
      assert(drained.nonEmpty, s"$L: the walk drains a partition")
      val files = partitionFiles(L, root)
      val pin = Lake.pinSnapshot(spark, root, owner = "walk")
      intercept[Lake.PinnedSnapshotException](w.vacuum(root))
      assert(partitionFiles(L, root) == files, s"$L: a refused vacuum rewrites nothing")
      Lake.releasePin(spark, root, pin)
      w.vacuum(root)
      assert(L.reclaimableFraction(spark, root) == 0.0, s"$L: vacuum reclaims every dead row")
      val after = partitionFiles(L, root)
      assert(drained.forall(p => !after.contains(p)), s"$L: drained partitions are dropped")
      assert(files.keySet -- dirty == after.keySet -- dirty &&
        (files.keySet -- dirty).forall(p => files(p) == after(p)),
        s"$L: clean partitions keep their files byte-for-byte")
      assert(w.serve(root) == served, s"$L: vacuum serves the same answer")
    }
  }

  test("shared protocol: the PQ sidecar and the KN count store hide a torn write and vacuum it away") {
    val emb = Tables.embeddings(spark, sf)
    val ivf = tmp("graft_walk_pq")
    val kn = tmp("graft_walk_kn")
    scratch ++= Seq(ivf, kn)
    Similarity.ivfWriteFrom(emb.filter($"vec_id" < 300), ivf)
    Similarity.pqAttach(spark, ivf, m = 4, kpq = 8)
    Similarity.ivfAppend(spark, ivf, emb.filter($"vec_id" >= 300 && $"vec_id" < 340))
    val gap = Similarity.pqCoverageGap(spark, ivf)
    assert(gap == 40L)
    Similarity.pqRefreshRaw(spark, ivf, commit = false)
    assert(Similarity.pqCoverageGap(spark, ivf) == gap, "torn PQ codes are invisible")
    val codes = IndexLayout.Pq.read(spark, ivf, "pq/codes").count()
    val pin = Lake.pinSnapshot(spark, ivf, owner = "walk")
    intercept[Lake.PinnedSnapshotException](Similarity.pqVacuum(spark, ivf, 1000))
    Lake.releasePin(spark, ivf, pin)
    Similarity.pqVacuum(spark, ivf, 1000)
    assert(IndexLayout.Pq.read(spark, ivf, "pq/codes").count() == codes - gap,
      "the PQ vacuum drops the torn codes")
    Similarity.pqRefresh(spark, ivf)
    assert(Similarity.pqCoverageGap(spark, ivf) == 0L)
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    TextAnalysis.knStoreWrite(docs, kn)
    val counts = TextAnalysis.knStoreCounts(spark, kn).collect().toSet
    TextAnalysis.knStoreDelta(docs.limit(5), kn, overwrite = false, sign = 1L, commit = false)
    assert(TextAnalysis.knStoreCounts(spark, kn).collect().toSet == counts,
      "a torn KN delta is invisible")
    // the KN vacuum rewrites counts/ and commits/: a live read pin
    // refuses it before any file is touched
    def knFiles: Map[String, Long] = Seq("counts", "commits").flatMap { d =>
      new java.io.File(s"$kn/$d").listFiles().toSeq.map(f => s"$d/${f.getName}" -> f.lastModified)
    }.toMap
    val knBefore = knFiles
    val knPin = Lake.pinSnapshot(spark, kn, owner = "walk")
    intercept[Lake.PinnedSnapshotException](TextAnalysis.knStoreVacuum(spark, kn))
    assert(knFiles == knBefore, "a refused KN vacuum touches no file")
    Lake.releasePin(spark, kn, knPin)
    TextAnalysis.knStoreVacuum(spark, kn)
    assert(IndexLayout.KnCounts.committed(spark, kn).size == 1)
    assert(IndexLayout.KnCounts.read(spark, kn, "counts").count() == counts.size,
      "the KN vacuum keeps only the merged live counts")
    assert(TextAnalysis.knStoreCounts(spark, kn).collect().toSet == counts)
  }

  test("drift guard: the commit-log protocol lives in IndexLayout only") {
    import scala.jdk.CollectionConverters._
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")).iterator()
      .asScala.filter(_.toString.endsWith(".scala"))
      .filter(_.getFileName.toString != "IndexLayout.scala").toSeq
    val overwrites = for (p <- sources;
                          (line, n) <- java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
                          if line.contains("partitionOverwriteMode")) yield (p, n)
    // ivfRetrain alone rewrites partitions itself: it commits first
    assert(overwrites.map(_._1.getFileName.toString) == Seq("Similarity.scala") &&
      overwrites.forall { case (p, n) =>
        java.nio.file.Files.readAllLines(p).asScala.take(n).reverse
          .find(_.trim.startsWith("def ")).exists(_.contains("def ivfRetrain")) },
      s"partition rewrites go through IndexLayout.Appendable.rewrite: $overwrites")
    val metaReads = "read\\s*\\.\\s*parquet\\([^)]*/(commits|deletes|stats_log|manifest|batch_log)".r
    val offenders = sources.filter(p => metaReads.findFirstIn(java.nio.file.Files.readString(p))
      .isDefined)
    assert(offenders.isEmpty, "commit logs, tombstones, the catalog manifest and the upsert " +
      s"batch log are read through IndexLayout: ${offenders.mkString(", ")}")
    // the catalog names its manifest directory by a constant: it reads
    // no parquet but through its declared layout
    val catalog = sources.find(_.getFileName.toString == "Catalog.scala").get
    assert(!java.nio.file.Files.readString(catalog).contains("read.parquet"),
      "Catalog reads its manifest through IndexLayout.Manifest")
    // the registry's drills go through the one epoch lifecycle
    // (Catalog.drill / cutover / resolve), never its lower steps
    val steps = "\\b(resolveOrBuild|registerAll|rollbackAll)\\s*\\(".r
    val drills = sources.filter(p => Seq("/graft/operators/", "/graft/streaming/")
      .exists(p.toString.replace('\\', '/').contains))
    assert(drills.nonEmpty)
    val bypass = drills.filter(p => steps.findFirstIn(java.nio.file.Files.readString(p)).isDefined)
    assert(bypass.isEmpty, s"drills bypass the catalog lifecycle: ${bypass.mkString(", ")}")
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

  /** The bytes of the data files in `dirs`, listed as the probe lists
    * them (names starting with `_` or `.` skipped): what a request
    * weighs against `IndexProbe.InProcessBytes`. */
  private def dataBytes(dirs: Seq[String]): Long =
    dirs.flatMap(d => Option(new java.io.File(d).listFiles()).toSeq.flatten)
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.length).sum

  /** The routed bytes of a BM25 request over `tokens`. */
  private def bm25Routed(root: String, tokens: Seq[String], nBuckets: Int): Long =
    dataBytes(IndexRoute.buckets(tokens, StringType, nBuckets).distinct
      .map(b => s"$root/postings/bucket=$b"))

  /** The routed bytes of an IVF request for `vec` at `nprobe`. */
  private def ivfRouted(path: String, vec: Seq[Float], nprobe: Int): Long = {
    val cents = IndexLayout.Ivf.local(spark, path, "centroids")
    val norm = math.sqrt(vec.map(x => x.toDouble * x).sum)
    dataBytes(IndexRoute.nearest(spark, Seq((vec, norm)), cents, nprobe).flatten
      .map(i => s"$path/lists/cell=${cents(i).getAs[Int]("cid")}").distinct)
  }

  /** A warm request's budget: in process (the default bound) no job
    * and no broadcast; with the bound one byte below its `routed` bytes
    * exactly one job, and at exactly them none; the same rows every
    * time. */
  private def budget(name: String, routed: Long)(request: => Seq[Row]): Unit = {
    var rows: Seq[Row] = null
    val warm = observe { rows = request }
    info(s"$name: ${warm.jobs} jobs, ${warm.broadcasts} broadcasts, $routed routed bytes")
    assert(rows.nonEmpty, s"$name answered nothing")
    assert(warm.jobs == 0, s"$name ran ${warm.jobs} jobs in process")
    assert(warm.broadcasts == 0, s"$name built ${warm.broadcasts} broadcasts")
    for ((bound, jobs) <- Seq(routed - 1 -> 1, routed -> 0))
      withInProcessBytes(bound) {
        var again: Seq[Row] = null
        val n = jobsOf { again = request }
        assert(n == jobs, s"$name ran $n jobs at bound $bound (routed $routed)")
        assert(again == rows, s"$name at bound $bound: $again vs $rows")
      }
  }

  test("job budget: a warm bm25ServeFrom and shortlist annIvfServe run no job") {
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val emb = Tables.embeddings(spark, sf)
    val bm = tmp("graft_budget_bm25")
    val iv = tmp("graft_budget_ivf")
    scratch ++= Seq(bm, iv)
    TextAnalysis.bm25WriteImpactFrom(Tables.fanout(docs), bm)
    Similarity.ivfWriteFrom(emb, iv)
    val root = Lake.currentVersionDir(spark, bm).get
    val toks = spark.read.parquet(s"$root/postings")
      .select($"token").orderBy($"token").limit(2).as[String].collect().toSeq
    val vec = emb.filter($"vec_id" === 3L).select($"embedding").head().getSeq[Float](0)
    // the benchmark's requests: collect the top-k like a client would
    def bm25(): Seq[Row] = TextAnalysis.bm25ServeFrom(spark, bm, k = 10,
        queries = Some(toks.map(t => (1L, t)).toDF("query_id", "token")))
      .select($"doc_id", $"rk", $"score").collect().toSeq
    def ann(): Seq[Row] = Similarity.annIvfServe(spark, iv, nprobe = 10, k = 5,
        queries = Some(Seq((1L, vec)).toDF("vec_id", "embedding")), shortlist = Some(32))
      .select($"neighbor_id", $"rank_nn").collect().toSeq
    assert(bm25().nonEmpty && ann().length == 5, "warm-up answers")
    val nBuckets = IndexLayout.ImpactBm25.local(spark, root, "stats").head.getAs[Int]("n_buckets")
    budget("bm25ServeFrom", bm25Routed(root, toks, nBuckets))(bm25())
    budget("annIvfServe", ivfRouted(iv, vec, 10))(ann())
  }

  test("job budget: a tombstoned bm25ServeRaw and annIvfServe run no job") {
    val emb = Tables.embeddings(spark, sf)
    val vec = emb.filter($"vec_id" === 3L).select($"embedding").head().getSeq[Float](0)
    // the maintenance indexes: the tombstoned raw and IVF indexes
    val raw = built.collectFirst { case (IndexLayout.RawBm25, root) => root }.get
    val ivfDel = built.collectFirst { case (IndexLayout.Ivf, root) => root }.get
    assert(IndexLayout.RawBm25.tombstones(spark, raw, TextAnalysis.bm25Snapshot(spark, raw))
      .nonEmpty && IndexLayout.Ivf.tombstones(spark, ivfDel, Similarity.ivfSnapshot(spark, ivfDel))
      .nonEmpty, "the maintenance indexes carry committed tombstones")
    val rawToks = IndexLayout.RawBm25.read(spark, raw, "postings").select($"token")
      .orderBy($"token").limit(2).as[String].collect().toSeq
    def bm25Raw(): Seq[Row] = TextAnalysis.bm25ServeRaw(spark, raw, k = 10,
        queries = Some(rawToks.map(t => (1L, t)).toDF("query_id", "token")))
      .select($"doc_id", $"rk", $"score").collect().toSeq
    def ann(): Seq[Row] = Similarity.annIvfServe(spark, ivfDel, nprobe = 10, k = 5,
        queries = Some(Seq((1L, vec)).toDF("vec_id", "embedding")), shortlist = Some(32))
      .select($"neighbor_id", $"rank_nn").collect().toSeq
    assert(bm25Raw().nonEmpty && ann().length == 5, "warm-up answers")
    budget("bm25ServeRaw", bm25Routed(raw, rawToks, TextAnalysis.rawIndexLog(spark, raw)._2))(
      bm25Raw())
    budget("annIvfServe", ivfRouted(ivfDel, vec, 10))(ann())
  }

  test("warm requests build no parquet reader and run no job") {
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val emb = Tables.embeddings(spark, sf)
    val bm = tmp("graft_warm_bm25")
    val iv = tmp("graft_warm_ivf")
    scratch ++= Seq(bm, iv)
    TextAnalysis.bm25WriteImpactFrom(Tables.fanout(docs), bm)
    Similarity.ivfWriteFrom(emb, iv)
    val root = Lake.currentVersionDir(spark, bm).get
    val toks = IndexLayout.ImpactBm25.read(spark, root, "postings")
      .select($"token").distinct().orderBy($"token").limit(6).as[String].collect().toSeq
    val vecs = emb.filter($"vec_id" < 6L).orderBy($"vec_id").select($"embedding")
      .as[Seq[Float]].collect().toSeq
    def bm25(i: Int): Seq[Row] = TextAnalysis.bm25ServeFrom(spark, bm, k = 10,
        queries = Some(toks.slice(i, i + 2).map(t => (1L, t)).toDF("query_id", "token")))
      .select($"doc_id", $"rk", $"score").collect().toSeq
    def ann(i: Int): Seq[Row] = Similarity.annIvfServe(spark, iv, nprobe = 10, k = 5,
        queries = Some(Seq((1L, vecs(i))).toDF("vec_id", "embedding")), shortlist = Some(32))
      .select($"neighbor_id", $"rank_nn").collect().toSeq
    assert(bm25(0).nonEmpty && ann(0).length == 5, "warm-up answers")
    val nBuckets = IndexLayout.ImpactBm25.local(spark, root, "stats").head.getAs[Int]("n_buckets")
    // other tokens and vectors than the warm-up's: the readers are
    // reused across requests, not across identical requests
    for (i <- 1 to 5) {
      if (i % 2 == 1)
        budget(s"bm25ServeFrom $i", bm25Routed(root, toks.slice(i, i + 2), nBuckets))(bm25(i))
      else budget(s"annIvfServe $i", ivfRouted(iv, vecs(i), 10))(ann(i))
    }
  }

  test("readers of a stopped context are evicted when a new context builds one") {
    // stopping a context would end the suite's shared session, so the
    // check runs in a JVM of its own
    val dir = tmp("graft_reader_lifetime")
    scratch += dir
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cmd = Seq(javaBin, "-Xmx768m", "-Dspark.ui.enabled=false") ++
      org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptionArray().toSeq ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.sources.ReaderLifetimeMain", dir)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val exit = scala.sys.process.Process(cmd)
      .!(scala.sys.process.ProcessLogger(l => out.add(l), l => out.add(l)))
    val lines = out.toArray.toSeq.map(_.toString)
    assert(exit == 0 && lines.contains("evicted"),
      s"exit $exit:\n${lines.takeRight(30).mkString("\n")}")
  }
}
