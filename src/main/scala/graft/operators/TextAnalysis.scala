package graft.operators

import graft.{GraftConfig, Tables}
import graft.sources.IndexLayout
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` (SURVEY.md §2 C1, C8-C10,
  * C12-C13) — the realized form of the reference's declared-but-stubbed
  * NLP columns (`keywords TEXT[]`, `topic TEXT`, create_table.sql:60-80)
  * plus the text hygiene a training-data pipeline needs.
  *
  * Everything here is built from `functions._` string/array/higher-order
  * primitives — no UDFs — so the whole block stays inside codegen'd
  * projections: per-row compute, zero shuffles until the final
  * aggregation (if any). That is the 100 TB posture: these run at scan
  * speed on any number of executors.
  */
object TextAnalysis {

  /** Word tokens of a whitespace-separated text column (empty text → empty array). */
  private def toks(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  /** C1 `text_exact_dedup` — exact text dedup via normalized-hash
    * groupBy. Corpus = documents ∪ an exact re-crawl (ids offset by
    * 1,000,000) so the operator provably collapses the planted
    * duplicates at any SF. Normalize (lower, collapse ws, trim) → md5 →
    * one hash-partitioned groupBy; keeper = min id (first-writer-wins).
    * No sort, no window — the dedup shape that scales. */
  def textExactDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val corpus = docs.unionAll(
      docs.select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
    corpus
      .select($"doc_id",
        md5(lower(trim(regexp_replace($"text", "\\s+", " ")))).as("text_hash"))
      .groupBy($"text_hash")
      .agg(count(lit(1)).as("n_copies"), min($"doc_id").as("keeper_id"))
  }

  val textExactDedupSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents)
      |SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS text_hash,
      |       COUNT(*) AS n_copies, MIN(doc_id) AS keeper_id
      |FROM corpus GROUP BY 1""".stripMargin

  /** C30 `line_dedup` — corpus-level duplicated-line removal, the
    * boilerplate strip every crawl-derived training corpus runs
    * (C4/RefinedWeb line dedup: navigation chrome, cookie banners and
    * footers repeat VERBATIM across pages, so any line occurring in
    * more than one distinct document is struck from all of them).
    * "Lines" follow F6 `sentence_stats`' segmentation convention —
    * the synthetic corpus has no newlines or punctuation, so segments
    * split on the literal token ' the '; real corpora split on '\n'
    * with the identical plan. Docs reassemble from their surviving
    * segments in position order (empty string when everything was
    * boilerplate), with kept/dropped counts for the quality monitor.
    *
    * Shape that scales: segment df is one hash aggregation (partial
    * map-side combine — no window, no sort); the duplicated-line set
    * is a tiny fraction of distinct lines (boilerplate by definition
    * concentrates), so the strike join's build side stays small and
    * AQE broadcasts it at runtime; reassembly is one groupBy with a
    * bounded per-doc collect (a doc's own segments). Nothing shuffles
    * the corpus twice. */
  def lineDedup(spark: SparkSession, dir: String): DataFrame =
    lineDedupOf(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** [[lineDedup]]'s core over any (doc_id, text) frame — the spec
    * drives planted-boilerplate and idempotence cases through it. */
  private[graft] def lineDedupOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dup = positionedLines(docs).groupBy($"line")
      .agg(countDistinct($"doc_id").as("df"))
      .filter($"df" > 1)
      .select($"line")
    lineStrike(docs, dup)
  }

  /** A doc frame exploded to (doc_id, pos, line) under the
    * ' the '-segmentation convention — position kept for reassembly. */
  private def positionedLines(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", posexplode(split($"text", " the ")))
      .select($"doc_id", $"pos", trim($"col").as("line"))
      .filter($"line" =!= "")
  }

  /** The PARAGRAPH granularity (C38): non-overlapping windows of
    * `paraSegs` consecutive RAW segments (empty segments keep their
    * slot, so paragraph boundaries are stable under trimming), each
    * window's surviving trimmed segments rejoined with the separator.
    * Same (doc_id, pos, line) shape as [[positionedLines]], so the
    * whole strike/index machinery runs unchanged one granularity up.
    * Windowing is a per-row array transform — no extra shuffle. */
  private def positionedParas(docs: DataFrame, k: Int = 2): DataFrame = {
    import docs.sparkSession.implicits._
    docs.withColumn("parts", split($"text", " the "))
      .select($"doc_id", posexplode(expr(
        s"""transform(sequence(0, (size(parts) - 1) div $k),
           |  j -> array_join(
           |         filter(transform(slice(parts, j * $k + 1, $k), s -> trim(s)),
           |                s -> s != ''),
           |         ' the '))""".stripMargin)))
      .select($"doc_id", $"pos", $"col".as("line"))
      .filter($"line" =!= "")
  }

  /** Strike every occurrence of a `dup` line from `docs` and
    * reassemble — the shared tail of [[lineDedupOf]] (corpus-derived
    * strike set) and [[lineDedupServe]] (index-derived strike set).
    * `segs` picks the granularity (lines by default, paragraphs for
    * the C38 family). */
  private def lineStrike(docs: DataFrame, dup: DataFrame,
                         segs: DataFrame => DataFrame = positionedLines): DataFrame = {
    import docs.sparkSession.implicits._
    segs(docs)
      .join(dup.select($"line", lit(1).as("dead")), Seq("line"), "left_outer")
      .groupBy($"doc_id")
      .agg(
        sum(when($"dead".isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when($"dead".isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(when($"dead".isNull, struct($"pos", $"line")))),
            x => x.getField("line")),
          " the ").as("clean_text"))
  }

  val lineDedupSql: String =
    """WITH segs AS (
      |  SELECT doc_id, string_split(text, ' the ') AS parts FROM documents),
      |lines AS (
      |  SELECT doc_id, i AS pos, trim(parts[i]) AS line
      |  FROM segs, unnest(generate_series(1, len(parts))) AS t(i)
      |  WHERE trim(parts[i]) <> ''),
      |dup AS (
      |  SELECT line FROM (SELECT line, COUNT(DISTINCT doc_id) AS df
      |                    FROM lines GROUP BY 1)
      |  WHERE df > 1)
      |SELECT l.doc_id,
      |       COUNT(*) FILTER (WHERE d.line IS NULL) AS n_kept,
      |       COUNT(*) FILTER (WHERE d.line IS NOT NULL) AS n_dropped,
      |       COALESCE(string_agg(CASE WHEN d.line IS NULL THEN l.line END,
      |                           ' the ' ORDER BY l.pos), '') AS clean_text
      |FROM lines l LEFT JOIN dup d USING (line)
      |GROUP BY 1""".stripMargin

  // ---- C30b: the PERSISTED line-frequency index --------------------
  //
  // C30 recomputes segment df from the whole corpus per run; at
  // 100 TB the accumulated-crawl side must be indexed once and probed
  // per new batch. Same lifecycle posture as the C4c reference-
  // signature index (NearDup), the raw BM25 index and the IVF index:
  //   lines/bucket=*/  (line, doc_id, batch_id) — line-hash bucketed,
  //                    so a line's whole posting list lives in ONE
  //                    bucket and a batch probe reads only its own
  //                    lines' buckets
  //   deletes/         doc tombstones (commit-gated)
  //   commits/         (batch_id, n_buckets), written LAST
  // Serve recomputes df from the live postings (exact under any
  // append/delete history) and strikes a new batch's lines whose
  // UNION df — accumulated corpus + the batch itself — exceeds one,
  // which is exactly [[lineDedup]]'s from-scratch answer on the union
  // restricted to the new docs (the gate proves it).

  def lineIndexWrite(docs: DataFrame, path: String, nBuckets: Int = 16): Unit =
    lineIndexAppendRaw(docs, path, Some(nBuckets), overwrite = true)

  /** Fold a new crawl batch into the accumulated line index:
    * O(batch) — touched buckets gain files, the commit log gains one
    * row, nothing rewrites. */
  def lineIndexAppend(docs: DataFrame, path: String): Unit =
    lineIndexAppendRaw(docs, path, None, overwrite = false)

  /** `commit = false` is the kill-between-writes state the
    * crash-safety spec drives (postings landed, commit row absent —
    * invisible to every serve until the re-driven append commits). */
  private[graft] def lineIndexAppendRaw(docs: DataFrame, path: String,
                                        nBucketsOpt: Option[Int],
                                        overwrite: Boolean,
                                        commit: Boolean = true,
                                        segs: DataFrame => DataFrame = positionedLines): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val mode = if (overwrite) "overwrite" else "append"
    val nBuckets = nBucketsOpt.getOrElse(lineIndexMeta(spark, path)._2)
    val batchId = java.util.UUID.randomUUID.toString
    if (overwrite) {
      val del = new org.apache.hadoop.fs.Path(s"$path/deletes")
      del.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(del, true)
    }
    // one row per (doc, line) — df counts DISTINCT docs; postings
    // first (invisible until the commit row lands) …
    segs(docs).select($"doc_id", $"line").distinct()
      .select(pmod(xxhash64($"line"), lit(nBuckets)).cast("int").as("bucket"),
        $"line", $"doc_id", lit(batchId).as("batch_id"))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").mode(mode).parquet(s"$path/lines")
    // … the commit row LAST
    if (commit)
      Seq((batchId, nBuckets)).toDF("batch_id", "n_buckets")
        .coalesce(1).write.mode(mode).parquet(s"$path/commits")
  }

  private[graft] def lineIndexMeta(spark: SparkSession,
                                   path: String): (Seq[String], Int) = {
    import spark.implicits._
    val rows = spark.read.parquet(s"$path/commits")
      .select($"batch_id", $"n_buckets").collect()
    val nb = rows.map(_.getInt(1)).distinct
    require(nb.length == 1,
      s"inconsistent n_buckets in $path/commits: ${nb.mkString(",")}")
    (rows.map(_.getString(0)).toSeq, nb.head)
  }

  private[graft] def lineIndexDeletes(spark: SparkSession, path: String,
                                      committed: Seq[String]): DataFrame = {
    import spark.implicits._
    val del = new org.apache.hadoop.fs.Path(s"$path/deletes")
    if (del.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(del))
      spark.read.parquet(s"$path/deletes")
        .filter($"batch_id".isin(committed: _*)).select($"doc_id")
    else spark.emptyDataset[Long].toDF("doc_id")
  }

  /** Tombstone docs out of the line index — their lines stop counting
    * toward df immediately (a banner that only ever appeared in
    * since-erased docs is content again); zero posting rewrites;
    * idempotent; commit row last. */
  def lineIndexDelete(spark: SparkSession, path: String, ids: DataFrame): Unit = {
    import spark.implicits._
    val (committed, nBuckets) = lineIndexMeta(spark, path)
    val batchId = java.util.UUID.randomUUID.toString
    ids.select($"doc_id").distinct()
      .join(lineIndexDeletes(spark, path, committed), Seq("doc_id"), "left_anti")
      .withColumn("batch_id", lit(batchId))
      .coalesce(1).write.mode("append").parquet(s"$path/deletes")
    Seq((batchId, nBuckets)).toDF("batch_id", "n_buckets")
      .coalesce(1).write.mode("append").parquet(s"$path/commits")
  }

  /** Fraction of the line index's posting rows a [[lineIndexVacuum]]
    * would physically drop — tombstoned or orphaned (uncommitted)
    * rows over total; the sweep's self-tuning measure
    * ([[bm25ReclaimableFraction]]'s posture for the line-df family).
    * One scan reading only batch_id/doc_id against metadata-sized
    * tombstones. */
  def lineIndexReclaimableFraction(spark: SparkSession, path: String): Double = {
    import spark.implicits._
    val (committed, _) = lineIndexMeta(spark, path)
    val counts = spark.read.parquet(s"$path/lines")
      .select($"batch_id", $"doc_id")
      .join(lineIndexDeletes(spark, path, committed)
        .withColumn("dead", lit(1)), Seq("doc_id"), "left_outer")
      .agg(count(lit(1)).as("total"),
        sum(when($"dead".isNotNull || !$"batch_id".isin(committed: _*), 1L)
          .otherwise(0L)).as("reclaimable"))
      .head()
    if (counts.getLong(0) == 0L) 0.0
    else counts.getLong(1).toDouble / counts.getLong(0)
  }

  /** VACUUM the line index — the physical reclaim behind
    * [[lineIndexDelete]]'s zero-rewrite tombstones, [[bm25Vacuum]]
    * bucket for bucket: drop orphaned and tombstoned postings,
    * defragment buckets past `maxFilesPerBucket`, rewrite ONLY dirty
    * buckets (dynamic partition overwrite — clean buckets
    * byte-for-byte), drained buckets' directories dropped through the
    * Hadoop FS API. Writer lease + read-pin gate like every other
    * physical reclaim; deletes/ and commits/ are retained
    * (metadata-sized; tombstones keep re-deletes idempotent). */
  def lineIndexVacuum(spark: SparkSession, path: String,
                      maxFilesPerBucket: Int = 1): Unit =
      graft.sources.Lake.withWriterLock(spark, path, "lineIndexVacuum") {
    graft.sources.Lake.requireUnpinned(spark, path, "lineIndexVacuum")
    import spark.implicits._
    val (committed, _) = lineIndexMeta(spark, path)
    val post = spark.read.parquet(s"$path/lines")
      .withColumn("bucket", $"bucket".cast("int"))
    val del = lineIndexDeletes(spark, path, committed)
    val dirty = IndexLayout.partitionsOf(
      post.join(del, Seq("doc_id"), "left_semi").select($"bucket")
        .unionAll(post.filter(!$"batch_id".isin(committed: _*)).select($"bucket"))).toSet
    val fragmented = graft.sources.Lake.fragmentedPartitions(
      spark, s"$path/lines", "bucket", maxFilesPerBucket)
    val targets = dirty ++ fragmented
    if (targets.nonEmpty) {
      // eager: the rewrite replaces the very files being read
      val clean = post.filter($"bucket".isin(targets.toSeq: _*))
        .filter($"batch_id".isin(committed: _*))
        .join(broadcast(del), Seq("doc_id"), "left_anti")
        .localCheckpoint()
      clean.repartition(col("bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(s"$path/lines")
      val stillThere = IndexLayout.partitionsOf(clean.select($"bucket")).toSet
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      (targets -- stillThere).foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/lines/bucket=$b"), true)
      }
    }
  }

  /** Strike boilerplate from a NEW crawl batch against the
    * accumulated index: a line is struck when its distinct-doc count
    * over (live index ∪ the batch) exceeds one. The index read is
    * statically pruned to the batch's lines' buckets (distinct bucket
    * set ≤ nBuckets driver ints) and then semi-restricted to the
    * batch's own lines — df is only ever needed for lines the batch
    * contains. `snapshot` pins the serve to a [[lineIndexMeta]]
    * committed set (the bm25Snapshot posture). */
  def lineDedupServe(spark: SparkSession, path: String, newDocs: DataFrame,
                     snapshot: Option[Seq[String]] = None,
                     segs: DataFrame => DataFrame = positionedLines): DataFrame = {
    import spark.implicits._
    val (committedNow, nBuckets) = lineIndexMeta(spark, path)
    val committed = snapshot.getOrElse(committedNow)
    val dead = lineIndexDeletes(spark, path, committed)
    val newLines = segs(newDocs).select($"doc_id", $"line")
      .distinct().localCheckpoint()
    val buckets = IndexLayout.partitionsOf(newLines
      .select(pmod(xxhash64($"line"), lit(nBuckets)).cast("int").as("b")))
    val dfIndex = spark.read.parquet(s"$path/lines")
      .select($"bucket".cast("int").as("bucket"), $"line", $"doc_id", $"batch_id")
      .filter($"bucket".isin(buckets: _*))
      .filter($"batch_id".isin(committed: _*))
      .join(broadcast(dead), Seq("doc_id"), "left_anti")
      .join(newLines.select($"line").distinct(), Seq("line"), "left_semi")
      .groupBy($"line").agg(countDistinct($"doc_id").as("df_ref"))
    val dfNew = newLines.groupBy($"line")
      .agg(countDistinct($"doc_id").as("df_new"))
    val dup = dfNew.join(dfIndex, Seq("line"), "left_outer")
      .filter(coalesce($"df_ref", lit(0L)) + $"df_new" > 1)
      .select($"line")
    lineStrike(newDocs, dup, segs)
  }

  /** C30b `line_dedup_serve` — the incremental boilerplate strip
    * under the gate: index 70% of the accumulated corpus → append the
    * other 30% → tombstone every 7th doc (erasure) → strike a new
    * crawl batch (every 3rd doc, disjoint ids) against the index.
    * HASH-EQUAL to [[lineDedup]]'s from-scratch semantics on
    * (surviving reference ∪ batch) restricted to the batch — df caps
    * and every strike shift exactly with the appends and deletes. */
  def lineDedupServeGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val ref = docs.filter($"doc_id" % 3 =!= 0)
    val neu = docs.filter($"doc_id" % 3 === 0)
    if (ref.isEmpty || neu.isEmpty)
      return Seq.empty[(Long, Long, Long, String)]
        .toDF("doc_id", "n_kept", "n_dropped", "clean_text")
    val cut = ref.agg(max($"doc_id")).head().getLong(0) * 7 / 10
    graft.sources.Lake.withScratchIndex(spark, "graft_line_idx") { tmp =>
      // prefix build promotes from the session template ("ref3" snap —
      // this family's reference excludes the mm third); appends and
      // deletes mutate this drill's own copy (r17 opt)
      promoteTemplate(spark)(lineDfRef3Template(spark, dir, Some(cut)))(tmp)
      lineIndexAppend(Tables.fanout(ref.filter($"doc_id" > cut)), tmp)
      lineIndexDelete(spark, tmp, docs.filter($"doc_id" % 7 === 0).select($"doc_id"))
      lineDedupServe(spark, tmp, Tables.fanout(neu))
    }
  }

  /** C30c `line_catalog_serve` — the line-df family's CROSS-PROCESS
    * deployment story ([[bm25CatalogServe]]'s posture for this index
    * kind): epoch-1 line index (70% of the reference) registered in a
    * catalog under kind `line_df` (the SAME kind word MaintenanceMain's
    * fleet grammar uses, so a `catalog= key=` fleet line resolves
    * these registrations directly), the corpus drifts, the stamped
    * epoch-2 resolve rebuilds on the full reference and supersedes by
    * seq, `Catalog.vacuum` reclaims the superseded store, and a
    * serving process resolves by manifest lookup and strikes the new
    * crawl batch. HASH-EQUAL to the from-scratch line dedup on
    * (full reference ∪ batch) restricted to the batch — the catalog
    * lifecycle must be answer-invisible. */
  def lineCatalogServe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val ref = docs.filter($"doc_id" % 3 =!= 0)
    val neu = docs.filter($"doc_id" % 3 === 0)
    if (ref.isEmpty || neu.isEmpty)
      return Seq.empty[(Long, Long, Long, String)]
        .toDF("doc_id", "n_kept", "n_dropped", "clean_text")
    val cut = ref.agg(max($"doc_id")).head().getLong(0) * 7 / 10
    val key = s"corpus:$dir"
    graft.sources.Lake.withScratchIndex(spark, "graft_line_cat") { cat =>
      // epoch artifacts promote from session templates (r17 opt);
      // "ref3" snaps: this drill's reference EXCLUDES the mm third
      // (doc_id % 3 == 0 arrives as the batch), so its artifacts must
      // never alias the fleet's full-corpus line_df template
      graft.sources.Catalog.resolveOrBuild(spark, cat, "line_df", key,
        stamp = "epoch-1")(promoteTemplate(spark)(
        lineDfRef3Template(spark, dir, Some(cut))))
      graft.sources.Catalog.resolveOrBuild(spark, cat, "line_df", key,
        stamp = "epoch-2")(promoteTemplate(spark)(
        lineDfRef3Template(spark, dir, None)))
      graft.sources.Catalog.vacuum(spark, cat)
      val (path, stamp) =
        graft.sources.Catalog.lookup(spark, cat, "line_df", key).get
      require(stamp == "epoch-2", s"fleet must resolve the fresh epoch: $stamp")
      lineDedupServe(spark, path, Tables.fanout(neu))
    }
  }

  /** `refPred` restricts the oracle's reference side — the gate's
    * lifecycle deletes every 7th doc (C30b); the streaming fold (E16)
    * keeps the whole reference. */
  def lineDedupServeSql(refPred: String = "doc_id % 7 <> 0"): String =
    s"""WITH ref AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id % 3 <> 0 AND $refPred),
      |neu AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
      |corpus AS (SELECT * FROM ref UNION ALL SELECT * FROM neu),
      |segs AS (
      |  SELECT doc_id, string_split(text, ' the ') AS parts FROM corpus),
      |lines AS (
      |  SELECT doc_id, i AS pos, trim(parts[i]) AS line
      |  FROM segs, unnest(generate_series(1, len(parts))) AS t(i)
      |  WHERE trim(parts[i]) <> ''),
      |dup AS (
      |  SELECT line FROM (SELECT line, COUNT(DISTINCT doc_id) AS df
      |                    FROM lines GROUP BY 1)
      |  WHERE df > 1)
      |SELECT l.doc_id,
      |       COUNT(*) FILTER (WHERE d.line IS NULL) AS n_kept,
      |       COUNT(*) FILTER (WHERE d.line IS NOT NULL) AS n_dropped,
      |       COALESCE(string_agg(CASE WHEN d.line IS NULL THEN l.line END,
      |                           ' the ' ORDER BY l.pos), '') AS clean_text
      |FROM lines l LEFT JOIN dup d USING (line)
      |WHERE l.doc_id % 3 = 0
      |GROUP BY 1""".stripMargin

  // ---- C38/C38b/E29: PARAGRAPH-granularity dedup -------------------
  //
  // The granularity ladder had whole-doc (C1), line (C30) and k-char
  // window (C24); the PARAGRAPH middle rung — what RefinedWeb
  // actually strips (its "exact duplicated passages") — was missing.
  // A paragraph here is a non-overlapping window of `paraSegs`
  // consecutive segments: long enough that striking it removes a
  // duplicated PASSAGE wholesale, short enough that one shared line
  // inside an otherwise-novel passage does NOT strike it (the
  // over-stripping C30 is prone to — the spec pins the distinction
  // both ways). The entire C30 machinery (strike, persisted
  // bucket-partitioned df index, serve, stream maintenance) runs
  // unchanged one granularity up via the `segs` parameter.

  /** The paragraph-window size: the ' the '-segmentation convention
    * makes segments short, so two segments ≈ one real paragraph. */
  private val ParaSegs = 2

  /** C38 `para_dedup` — corpus-level duplicated-PARAGRAPH removal. */
  def paraDedup(spark: SparkSession, dir: String): DataFrame =
    paraDedupOf(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** [[paraDedup]]'s core over any (doc_id, text) frame. */
  private[graft] def paraDedupOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val dup = positionedParas(docs, ParaSegs).groupBy($"line")
      .agg(countDistinct($"doc_id").as("df"))
      .filter($"df" > 1)
      .select($"line")
    lineStrike(docs, dup, positionedParas(_, ParaSegs))
  }

  /** The oracle's paragraph CTE over a `corpus` relation — the
    * identical windowed re-join (coalesce: DuckDB's array_to_string
    * of an empty list is NULL). */
  private def paraCteSql(k: Int): String =
    s"""segs AS (
       |  SELECT doc_id, string_split(text, ' the ') AS parts FROM corpus),
       |paras AS (
       |  SELECT doc_id, j AS pos,
       |         coalesce(array_to_string(
       |           list_filter(list_transform(parts[j*$k+1:j*$k+$k], s -> trim(s)),
       |                       s -> s <> ''), ' the '), '') AS line
       |  FROM segs, unnest(generate_series(0, (len(parts) - 1) // $k)) AS t(j))""".stripMargin

  /** C38 oracle. */
  val paraDedupSql: String =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents),
       |${paraCteSql(ParaSegs)},
       |lines AS (SELECT * FROM paras WHERE line <> ''),
       |dup AS (
       |  SELECT line FROM (SELECT line, COUNT(DISTINCT doc_id) AS df
       |                    FROM lines GROUP BY 1)
       |  WHERE df > 1)
       |SELECT l.doc_id,
       |       COUNT(*) FILTER (WHERE d.line IS NULL) AS n_kept,
       |       COUNT(*) FILTER (WHERE d.line IS NOT NULL) AS n_dropped,
       |       COALESCE(string_agg(CASE WHEN d.line IS NULL THEN l.line END,
       |                           ' the ' ORDER BY l.pos), '') AS clean_text
       |FROM lines l LEFT JOIN dup d USING (line)
       |GROUP BY 1""".stripMargin

  /** The paragraph segmentation as a reusable handle (E29 builds the
    * streamed para index through these). */
  private[graft] val paraSegsFn: DataFrame => DataFrame =
    positionedParas(_, ParaSegs)

  /** Paragraph-index lifecycle — [[lineIndexWrite]]/[[lineIndexAppend]]
    * over paragraph rows (same store layout, same commit protocol;
    * deletes/vacuum are granularity-blind and shared as-is). */
  def paraIndexWrite(docs: DataFrame, path: String, nBuckets: Int = 16): Unit =
    lineIndexAppendRaw(docs, path, Some(nBuckets), overwrite = true, segs = paraSegsFn)

  def paraIndexAppend(docs: DataFrame, path: String): Unit =
    lineIndexAppendRaw(docs, path, None, overwrite = false, segs = paraSegsFn)

  def paraDedupServe(spark: SparkSession, path: String, newDocs: DataFrame): DataFrame =
    lineDedupServe(spark, path, newDocs, segs = paraSegsFn)

  /** C38b `para_dedup_serve` — the C30b lifecycle one granularity up:
    * index 70% of the reference → append the rest → tombstone every
    * 7th doc → strike a new crawl batch against the index. Same
    * bucket-partitioned (line, doc_id, batch_id) store, same commit
    * protocol, same O(batch) bucket-pruned serve — the rows are
    * paragraphs instead of lines. HASH-EQUAL to [[paraDedup]]'s
    * from-scratch semantics on (surviving reference ∪ batch)
    * restricted to the batch. */
  def paraDedupServeGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val ref = docs.filter($"doc_id" % 3 =!= 0)
    val neu = docs.filter($"doc_id" % 3 === 0)
    if (ref.isEmpty || neu.isEmpty)
      return Seq.empty[(Long, Long, Long, String)]
        .toDF("doc_id", "n_kept", "n_dropped", "clean_text")
    val cut = ref.agg(max($"doc_id")).head().getLong(0) * 7 / 10
    graft.sources.Lake.withScratchIndex(spark, "graft_para_idx") { tmp =>
      // prefix build promotes from the session template shared with
      // stream_para_index; the lifecycle mutates this drill's own copy
      promoteTemplate(spark)(paraDfRef3Template(spark, dir, cut))(tmp)
      paraIndexAppend(Tables.fanout(ref.filter($"doc_id" > cut)), tmp)
      lineIndexDelete(spark, tmp, docs.filter($"doc_id" % 7 === 0).select($"doc_id"))
      paraDedupServe(spark, tmp, Tables.fanout(neu))
    }
  }

  /** C38b oracle — the from-scratch paragraph dedup on (surviving
    * reference ∪ batch) restricted to the batch. `refPred` restricts
    * the reference side like [[lineDedupServeSql]]. */
  def paraDedupServeSql(refPred: String = "doc_id % 7 <> 0"): String =
    s"""WITH ref AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % 3 <> 0 AND $refPred),
       |neu AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
       |corpus AS (SELECT * FROM ref UNION ALL SELECT * FROM neu),
       |${paraCteSql(ParaSegs)},
       |lines AS (SELECT * FROM paras WHERE line <> ''),
       |dup AS (
       |  SELECT line FROM (SELECT line, COUNT(DISTINCT doc_id) AS df
       |                    FROM lines GROUP BY 1)
       |  WHERE df > 1)
       |SELECT l.doc_id,
       |       COUNT(*) FILTER (WHERE d.line IS NULL) AS n_kept,
       |       COUNT(*) FILTER (WHERE d.line IS NOT NULL) AS n_dropped,
       |       COALESCE(string_agg(CASE WHEN d.line IS NULL THEN l.line END,
       |                           ' the ' ORDER BY l.pos), '') AS clean_text
       |FROM lines l LEFT JOIN dup d USING (line)
       |WHERE l.doc_id % 3 = 0
       |GROUP BY 1""".stripMargin

  // ---- C30d/E26: PER-SOURCE boilerplate stripping ------------------
  //
  // C30 strikes a line when it repeats across ANY two documents —
  // right for verbatim chrome that leaks across the whole crawl, but
  // it also eats legitimate text that happens to repeat across
  // sources. The published crawl pipelines (CCNet's per-shard line
  // dedup, RefinedWeb §3.2's line-wise filtering) scope the decision
  // to the DOMAIN: a line is boilerplate when it appears in a large
  // FRACTION of one site's pages (nav bars, cookie banners, footers
  // repeat on most pages of their own site), while a sentence shared
  // by two unrelated pages survives. C30d is that operator; E26 is
  // the same verdict frozen and applied statelessly at ingest.

  /** C30d `boilerplate_strip` — per-source frequent-line removal.
    * The gate corpus plants realistic chrome: every document of a
    * source carries that source's own header segment (prepended
    * identically in the oracle), so each source has a line present in
    * 100% of its pages; the strip must remove exactly that chrome and
    * NOTHING else — in particular the corpus-wide duplicated lines
    * C30 would strike (df > 1 across sources but rare within each
    * source) must survive, which is what distinguishes the per-source
    * fraction rule from plain line dedup.
    *
    * Strike rule: a (source, line) with df ≥ 2 distinct docs and
    * df · 100 ≥ boilerplatePct · n_docs(source) — an integer
    * cross-multiply (B-block posture), engine-exact at any scale.
    *
    * Shape that scales: one (source, line) hash agg for df, one
    * source-cardinality doc count, and the strike set is tiny by
    * definition (chrome concentrates — here 1 line/source), so the
    * strike join's build side broadcasts at runtime; reassembly is
    * C30's bounded per-doc collect. Nothing is quadratic and nothing
    * shuffles wider than the (source, line) key. */
  def boilerplateStrip(spark: SparkSession, dir: String,
                       pct: Int = GraftConfig.ambient.boilerplatePct): DataFrame =
    boilerplateStripOf(chromeCorpus(spark, dir), pct)

  /** The gate corpus: documents with their source's chrome header
    * PREPENDED — the planted per-source boilerplate (the synthetic
    * corpus has none naturally; real crawls arrive pre-chromed).
    * Prepended, not appended: the split consumes separators
    * left-to-right, so one clean ' the ' after the header leaves the
    * original text's segmentation verbatim — an appended footer would
    * merge with documents that END in the separator word and leak a
    * per-doc chrome variant below the strike threshold (measured: 14
    * of 500 sf0.01 docs end in ' the'). */
  private[graft] def chromeCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select($"doc_id", $"source",
      concat(lit("chrome banner "), $"source", lit(" the "), $"text").as("text"))
  }

  /** Frame-based core of C30d (docs = (doc_id, source, text)) — the
    * spec drives planted-chrome, survival and idempotence cases. */
  private[graft] def boilerplateStripOf(docs: DataFrame, pct: Int): DataFrame =
    boilerplateApply(docs, boilerplateStrikes(docs, pct))

  /** The per-source strike set (source, line) — the artifact E26
    * freezes batch-side (a site's chrome changes slowly; the strike
    * table is the nightly job's output). */
  private[graft] def boilerplateStrikes(docs: DataFrame, pct: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val perLine = sourcedLines(docs).groupBy($"source", $"line")
      .agg(countDistinct($"doc_id").as("df"))
    val perSrc = docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
    perLine.join(perSrc, Seq("source"))
      .filter($"df" >= 2 && $"df" * 100 >= $"n_docs" * pct)
      .select($"source", $"line")
  }

  /** Strike a frozen (source, line) set from `docs` and reassemble —
    * the shared tail of [[boilerplateStripOf]] (corpus-derived
    * strikes) and E26 `stream_boilerplate` (index-derived strikes
    * applied per micro-batch). */
  private[graft] def boilerplateApply(docs: DataFrame, strikes: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    sourcedLines(docs)
      .join(strikes.select($"source", $"line", lit(1).as("dead")),
        Seq("source", "line"), "left_outer")
      .groupBy($"doc_id", $"source")
      .agg(
        sum(when($"dead".isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when($"dead".isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(when($"dead".isNull, struct($"pos", $"line")))),
            x => x.getField("line")),
          " the ").as("clean_text"))
  }

  /** [[positionedLines]] with the source carried through. */
  private def sourcedLines(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", $"source", posexplode(split($"text", " the ")))
      .select($"doc_id", $"source", $"pos", trim($"col").as("line"))
      .filter($"line" =!= "")
  }

  /** C30d oracle: identical chrome planting, per-source df fraction
    * rule and position-ordered reassembly in DuckDB. `docPred`
    * restricts which docs are scored — E26's oracle reuses the CTE
    * chain unchanged (frozen strikes come from the full corpus either
    * way). */
  def boilerplateStripSql(pct: Int = GraftConfig.ambient.boilerplatePct,
                          docPred: String = "TRUE"): String =
    s"""WITH docs AS (
      |  SELECT doc_id, source, 'chrome banner ' || source || ' the ' || text AS text
      |  FROM documents),
      |segs AS (SELECT doc_id, source, string_split(text, ' the ') AS parts FROM docs),
      |lines AS (
      |  SELECT doc_id, source, i AS pos, trim(parts[i]) AS line
      |  FROM segs, unnest(generate_series(1, len(parts))) AS t(i)
      |  WHERE trim(parts[i]) <> ''),
      |df AS (SELECT source, line, COUNT(DISTINCT doc_id) AS df
      |       FROM lines GROUP BY 1, 2),
      |tot AS (SELECT source, COUNT(*) AS n_docs FROM docs GROUP BY 1),
      |strike AS (
      |  SELECT d.source, d.line FROM df d JOIN tot USING (source)
      |  WHERE df >= 2 AND df * 100 >= n_docs * $pct)
      |SELECT l.doc_id, l.source,
      |       COUNT(*) FILTER (WHERE s.line IS NULL) AS n_kept,
      |       COUNT(*) FILTER (WHERE s.line IS NOT NULL) AS n_dropped,
      |       COALESCE(string_agg(CASE WHEN s.line IS NULL THEN l.line END,
      |                           ' the ' ORDER BY l.pos), '') AS clean_text
      |FROM lines l LEFT JOIN strike s ON s.source = l.source AND s.line = l.line
      |WHERE $docPred
      |GROUP BY 1, 2""".stripMargin

  // ---- C35/E28: HTML/markup → text extraction ----------------------
  //
  // Every C-block filter assumes clean text; the reference gets it
  // from an API (reference arxiv_etl.py:84-86 strips only control
  // chars), but the corpus the LLM-pipeline surface targets is
  // CRAWLED MARKUP. Tag stripping, entity decode, script/style/
  // comment removal and block segmentation are the stage BEFORE
  // boilerplate_strip (C30d) and gopher_rules (C9b) — RefinedWeb §3.1
  // runs exactly this before any quality rule fires.

  /** The planted markup corpus: the synthetic documents are clean
    * text, so the gate corpus wraps each one in deterministic HTML —
    * head/title, a script block whose BODY contains raw '<' and '&&'
    * (must not leak into text), a style block, an entity-encoded
    * heading, the text split across two <p> blocks with
    * entity-encoded tails, and a comment hiding markup. Built
    * identically in the oracle, so extraction gates byte-exact. */
  private[graft] def htmlCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    htmlWrap(Tables.documents(spark, dir).select($"doc_id", $"text"))
  }

  /** Frame-based corpus builder ((doc_id, text) → (doc_id, html)). */
  private[graft] def htmlWrap(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.withColumn("w", toks($"text"))
      .withColumn("h", expr("size(w) div 2"))
      .select($"doc_id", concat(
        lit("<html><head><title>Doc "), $"doc_id".cast("string"), lit("</title>"),
        lit("<script type=\"text/javascript\">if (a < b && c > 1) { track(\"x\"); }</script>"),
        lit("<style>.nav { display: none; }</style></head><body>"),
        lit("<h1>Title &amp; sect "), $"doc_id".cast("string"), lit("</h1><p>"),
        concat_ws(" ", expr("slice(w, 1, h)")), lit(" &lt;em&gt; tail</p>"),
        lit("<!-- comment <p>hidden</p> --><p>"),
        concat_ws(" ", expr("slice(w, h+1, size(w)-h)")),
        lit(" &quot;quoted&quot;&nbsp;end</p></body></html>")).as("html"))
  }

  /** C35 `html_extract` — markup → text extraction with block
    * segmentation. Pipeline (order matters, and the oracle mirrors
    * it step for step):
    *   1. drop script/style/comment blocks WHOLE (their bodies
    *      contain raw '<' that a naive tag strip would mangle);
    *   2. replace block-level tags (p, h1-h4, br, div, li, ul, ol,
    *      tr, table) with newlines — the block boundaries;
    *   3. strip every remaining tag;
    *   4. decode the fixed entity set (&lt; &gt; &quot; &nbsp;
    *      &amp; — ampersand LAST, the standard order that never
    *      double-decodes), so entity-ENCODED markup stays text;
    *   5. split on newlines, collapse intra-block whitespace, drop
    *      empty blocks, number the survivors per doc.
    * Output (doc_id, block_id, block_text) — one row per retained
    * block, byte-exact vs the oracle.
    *
    * Scale: pure per-row regex projection (codegen'd) + one explode +
    * a PER-DOC window — no shuffle wider than the doc key, no state;
    * at 100 TB this is an embarrassingly parallel scan stage. */
  def htmlExtract(spark: SparkSession, dir: String): DataFrame =
    htmlExtractOf(Tables.fanout(htmlCorpus(spark, dir)))

  /** Frame-based core of C35 (pages = (doc_id, html)). */
  private[graft] def htmlExtractOf(pages: DataFrame): DataFrame = {
    import pages.sparkSession.implicits._
    pages
      .withColumn("s", regexp_replace($"html", "<script[^>]*>.*?</script>", ""))
      .withColumn("s", regexp_replace($"s", "<style[^>]*>.*?</style>", ""))
      .withColumn("s", regexp_replace($"s", "<!--.*?-->", ""))
      .withColumn("s", regexp_replace($"s",
        "</?(p|h1|h2|h3|h4|br|div|li|ul|ol|tr|table)[^>]*>", "\n"))
      .withColumn("s", regexp_replace($"s", "<[^>]*>", ""))
      .withColumn("s", regexp_replace($"s", "&lt;", "<"))
      .withColumn("s", regexp_replace($"s", "&gt;", ">"))
      .withColumn("s", regexp_replace($"s", "&quot;", "\""))
      .withColumn("s", regexp_replace($"s", "&nbsp;", " "))
      .withColumn("s", regexp_replace($"s", "&amp;", "&"))
      .select($"doc_id", posexplode(split($"s", "\n")).as(Seq("pos", "raw")))
      .withColumn("block_text", trim(regexp_replace($"raw", "\\s+", " ")))
      .filter(length($"block_text") > 0)
      .withColumn("block_id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"pos")))
      .select($"doc_id", $"block_id", $"block_text")
  }

  /** C35 oracle: identical corpus construction and extraction chain
    * in DuckDB (regexp_replace needs the 'g' flag there — the engine
    * replaces all matches by default). `docPred` restricts which
    * pages are extracted — E28's oracle reuses the chain unchanged. */
  def htmlExtractSql(docPred: String = "TRUE"): String =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |              ELSE string_split_regex(trim(text), '\\s+') END AS l
      |  FROM documents),
      |pages AS (
      |  SELECT doc_id,
      |         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>'
      |         || '<script type="text/javascript">if (a < b && c > 1) { track("x"); }</script>'
      |         || '<style>.nav { display: none; }</style></head><body>'
      |         || '<h1>Title &amp; sect ' || CAST(doc_id AS VARCHAR) || '</h1><p>'
      |         || array_to_string(l[1:len(l) // 2], ' ') || ' &lt;em&gt; tail</p>'
      |         || '<!-- comment <p>hidden</p> --><p>'
      |         || array_to_string(l[len(l) // 2 + 1:len(l)], ' ')
      |         || ' &quot;quoted&quot;&nbsp;end</p></body></html>' AS html
      |  FROM toks),
      |cleaned AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |      html, '<script[^>]*>.*?</script>', '', 'g'),
      |      '<style[^>]*>.*?</style>', '', 'g'),
      |      '<!--.*?-->', '', 'g'),
      |      '</?(p|h1|h2|h3|h4|br|div|li|ul|ol|tr|table)[^>]*>', chr(10), 'g'),
      |      '<[^>]*>', '', 'g') AS s
      |  FROM pages),
      |decoded AS (
      |  SELECT doc_id, replace(replace(replace(replace(replace(s,
      |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&nbsp;', ' '),
      |    '&amp;', '&') AS s
      |  FROM cleaned),
      |blocks AS (
      |  SELECT doc_id, i AS pos,
      |         trim(regexp_replace(b[i+1], '\\s+', ' ', 'g')) AS block_text
      |  FROM (SELECT doc_id, string_split(s, chr(10)) AS b FROM decoded),
      |       unnest(generate_series(0, len(b) - 1)) AS t(i))
      |SELECT doc_id,
      |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS INT) AS block_id,
      |       block_text
      |FROM blocks WHERE length(block_text) > 0 AND $docPred""".stripMargin

  /** C8 `lang_id` — n-gram-heuristic language identification: count
    * marker-word hits per candidate language (codegen'd regexp_count),
    * argmax with a fixed precedence for ties. Per-row only. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def hits(pat: String): Column = regexp_count(lower($"text"), lit(pat))
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang",
        hits("\\b(the|a|of|to|and|is|in)\\b").as("en_hits"),
        hits("\\b(der|die|das|und|ist|ein)\\b").as("de_hits"),
        hits("\\b(le|la|les|et|est|un)\\b").as("fr_hits"),
        hits("\\b(el|los|las|y|es|una)\\b").as("es_hits"))
      .withColumn("lang_pred",
        when($"en_hits" === 0 && $"de_hits" === 0 && $"fr_hits" === 0 && $"es_hits" === 0, lit("und"))
          .when($"en_hits" >= $"de_hits" && $"en_hits" >= $"fr_hits" && $"en_hits" >= $"es_hits", lit("en"))
          .when($"de_hits" >= $"fr_hits" && $"de_hits" >= $"es_hits", lit("de"))
          .when($"fr_hits" >= $"es_hits", lit("fr"))
          .otherwise(lit("es")))
  }

  val langIdSql: String =
    """SELECT doc_id, lang,
      |  CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|is|in)\b')) AS INT) AS en_hits,
      |  CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein)\b')) AS INT) AS de_hits,
      |  CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|un)\b')) AS INT) AS fr_hits,
      |  CAST(len(regexp_extract_all(lower(text), '\b(el|los|las|y|es|una)\b')) AS INT) AS es_hits,
      |  CASE WHEN len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|is|in)\b')) = 0
      |        AND len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein)\b')) = 0
      |        AND len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|un)\b')) = 0
      |        AND len(regexp_extract_all(lower(text), '\b(el|los|las|y|es|una)\b')) = 0 THEN 'und'
      |       WHEN len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|is|in)\b')) >= len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein)\b'))
      |        AND len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|is|in)\b')) >= len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|un)\b'))
      |        AND len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|is|in)\b')) >= len(regexp_extract_all(lower(text), '\b(el|los|las|y|es|una)\b')) THEN 'en'
      |       WHEN len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein)\b')) >= len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|un)\b'))
      |        AND len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein)\b')) >= len(regexp_extract_all(lower(text), '\b(el|los|las|y|es|una)\b')) THEN 'de'
      |       WHEN len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|un)\b')) >= len(regexp_extract_all(lower(text), '\b(el|los|las|y|es|una)\b')) THEN 'fr'
      |       ELSE 'es' END AS lang_pred
      |FROM documents""".stripMargin

  /** C9 `quality_score` — document quality scoring from
    * length/stopword/diversity ratios (the usual pre-training filters).
    * All ratios are single divisions of integers → bit-identical across
    * engines; per-row, codegen'd, no shuffle. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityOf(spark, Tables.documents(spark, dir))

  /** [[qualityScore]]'s scorer over an arbitrary (doc_id, text) frame —
    * shared with `dedup_keep_best`, which scores the doubled near-dup
    * corpus rather than `documents` directly. */
  private[operators] def qualityOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val t = toks($"text")
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

  val qualityScoreSql: String = qualityScoreSqlFrom("documents")

  /** [[qualityScoreSql]] parameterized on its source relation (a table
    * or CTE name with doc_id + text) — the oracle-side twin of
    * [[qualityOf]]. */
  private[operators] def qualityScoreSqlFrom(src: String): String =
    s"""WITH base AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS INT) AS n_chars_m,
      |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS INT) AS n_tokens,
      |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(list_distinct(string_split_regex(trim(text), '\\s+'))) END AS INT) AS n_distinct,
      |    CAST(len(regexp_extract_all(lower(text), '\\b(the|a|of|to|and|is|in)\\b')) AS INT) AS n_stop
      |  FROM $src)
      |SELECT *,
      |  least(1.0, CAST(n_chars_m AS DOUBLE) / 500.0) AS len_score,
      |  CAST(n_distinct AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE) AS diversity,
      |  CAST(n_stop AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE) AS stop_ratio,
      |  (least(1.0, CAST(n_chars_m AS DOUBLE) / 500.0) * 0.4)
      |    + ((CAST(n_distinct AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE)) * 0.4)
      |    + ((CAST(n_stop AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE)) * 0.2) AS quality
      |FROM base""".stripMargin

  /** Gopher's stop-word list (Rae et al. 2021, A1.1): a doc must carry
    * at least two of these to pass the stop-word rule. */
  private val gopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** C9b `gopher_rules` — the published Gopher quality-rule VERDICT
    * (Rae et al. 2021, appendix A1.1), per doc: every rule as its own
    * boolean flag plus `gopher_keep` = the conjunction. The published
    * complement to C9's weighted score and F2's two repetition
    * fractions — this is the rule set real curation pipelines cite
    * (Gopher → MassiveText → FineWeb all start here):
    *
    *   - word count ∈ [50, 100 000]
    *   - mean word length ∈ [3, 10]
    *   - symbol-to-word ratio ('#' or '...') ≤ 0.1
    *   - ≥ 80 % of words contain an alphabetic character
    *   - ≥ 2 distinct stop words present
    *   - chars in the most frequent word-2-gram ≤ 20 % of word chars
    *   - chars in duplicated word-5-grams ≤ 15 % of word chars
    *
    * ENGINE-EXACT: every threshold is an integer cross-multiply
    * (3·n_words ≤ word_chars, top2_chars·5 ≤ word_chars, dup5_chars·20
    * ≤ word_chars·3 — the F18 posture: no division anywhere), so the
    * gate hash-compares the full flag table. Char masses count word
    * characters only (gram length minus its n−1 joiner spaces) so both
    * engines share one definition; the top-2-gram tie breaks (count
    * desc, gram asc) — binary string order in both engines.
    *
    * Scale shape: one tokenize projection for the scalar stats (pure
    * codegen, no shuffle), plus the bigram and 5-gram explode→agg pairs
    * keyed by doc — partial-agg combines before any exchange, identical
    * to F2's proven shape; the three legs re-join on doc_id. Linear in
    * corpus tokens, never pairwise. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRulesOf(Tables.fanout(
      Tables.documents(spark, dir).select(col("doc_id"), col("text"))))

  /** [[gopherRules]]'s rule engine over an arbitrary (doc_id, text)
    * frame — lets the spec plant one doc per rule violation. */
  private[graft] def gopherRulesOf(in: DataFrame): DataFrame = {
    import in.sparkSession.implicits._
    val docs = in.withColumn("w", toks($"text"))
    val base = docs.select($"doc_id",
      size($"w").as("n_words"),
      expr("aggregate(w, 0L, (a, x) -> a + length(x))").as("word_chars"),
      size(expr("filter(w, x -> x rlike '[A-Za-z]')")).as("n_alpha_words"),
      regexp_count($"text", lit("#|\\.\\.\\.")).as("n_sym"),
      size(array_intersect(expr("transform(w, x -> lower(x))"),
        array(gopherStops.map(lit): _*))).as("n_stop_distinct"))
    val wTop = Window.partitionBy($"doc_id").orderBy($"c".desc, $"gram")
    val top2 = docs.filter(size($"w") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(w)-2), i -> concat_ws(' ', w[i], w[i+1]))")).as("gram"))
      .groupBy($"doc_id", $"gram").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(wTop))
      .filter($"rn" === 1)
      .select($"doc_id", ($"c" * (length($"gram") - lit(1)).cast("long")).as("top2_chars"))
    val dup5 = docs.filter(size($"w") >= 5)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(w)-5), i -> concat_ws(' ', slice(w, i+1, 5)))")).as("gram"))
      .groupBy($"doc_id", $"gram").agg(count(lit(1)).as("c"))
      .filter($"c" > 1)
      .groupBy($"doc_id")
      .agg(sum($"c" * (length($"gram") - lit(4)).cast("long")).as("dup5_chars"))
    base
      .join(top2, Seq("doc_id"), "left")
      .join(dup5, Seq("doc_id"), "left")
      .select($"doc_id", $"n_words", $"word_chars", $"n_alpha_words",
        $"n_sym", $"n_stop_distinct",
        coalesce($"top2_chars", lit(0L)).as("top2_chars"),
        coalesce($"dup5_chars", lit(0L)).as("dup5_chars"))
      .withColumn("r_word_count", $"n_words" >= 50 && $"n_words" <= 100000)
      .withColumn("r_mean_word_len",
        lit(3L) * $"n_words" <= $"word_chars" && $"word_chars" <= lit(10L) * $"n_words")
      .withColumn("r_symbol_ratio", $"n_sym" * lit(10L) <= $"n_words")
      .withColumn("r_alpha_frac", $"n_alpha_words" * lit(5L) >= $"n_words" * lit(4L))
      .withColumn("r_stopwords", $"n_stop_distinct" >= 2)
      .withColumn("r_top2gram", $"top2_chars" * lit(5L) <= $"word_chars")
      .withColumn("r_dup5gram", $"dup5_chars" * lit(20L) <= $"word_chars" * lit(3L))
      .withColumn("gopher_keep",
        $"r_word_count" && $"r_mean_word_len" && $"r_symbol_ratio" &&
          $"r_alpha_frac" && $"r_stopwords" && $"r_top2gram" && $"r_dup5gram")
  }

  /** C9b oracle: the identical rule arithmetic in DuckDB — integer
    * stats, integer cross-multiplied thresholds, same tiebreak. */
  def gopherRulesSql(): String = {
    val stops = gopherStops.map(s => s"'$s'").mkString(", ")
    s"""WITH docs AS (
       |  SELECT doc_id, text,
       |         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
       |              ELSE string_split_regex(trim(text), '\\s+') END AS w
       |  FROM documents),
       |base AS (
       |  SELECT doc_id,
       |    CAST(len(w) AS INT) AS n_words,
       |    CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT) AS word_chars,
       |    CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS INT) AS n_alpha_words,
       |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS INT) AS n_sym,
       |    CAST(len(list_intersect(list_transform(w, x -> lower(x)), [$stops])) AS INT) AS n_stop_distinct
       |  FROM docs),
       |big AS (
       |  SELECT doc_id, gram, COUNT(*) AS c
       |  FROM (SELECT doc_id, unnest(list_transform(range(len(w)-1), i -> w[i+1] || ' ' || w[i+2])) AS gram
       |        FROM docs WHERE len(w) >= 2)
       |  GROUP BY 1, 2),
       |top2 AS (
       |  SELECT doc_id, CAST(c * (length(gram) - 1) AS BIGINT) AS top2_chars
       |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS rn FROM big)
       |  WHERE rn = 1),
       |five AS (
       |  SELECT doc_id, gram, COUNT(*) AS c
       |  FROM (SELECT doc_id, unnest(list_transform(range(len(w)-4), i -> array_to_string(list_slice(w, i+1, i+5), ' '))) AS gram
       |        FROM docs WHERE len(w) >= 5)
       |  GROUP BY 1, 2),
       |dup5 AS (
       |  SELECT doc_id, CAST(SUM(c * (length(gram) - 4)) AS BIGINT) AS dup5_chars
       |  FROM five WHERE c > 1 GROUP BY 1)
       |SELECT b.doc_id, b.n_words, b.word_chars, b.n_alpha_words, b.n_sym, b.n_stop_distinct,
       |  COALESCE(t.top2_chars, 0) AS top2_chars,
       |  COALESCE(d.dup5_chars, 0) AS dup5_chars,
       |  (b.n_words >= 50 AND b.n_words <= 100000) AS r_word_count,
       |  (3 * b.n_words <= b.word_chars AND b.word_chars <= 10 * b.n_words) AS r_mean_word_len,
       |  (b.n_sym * 10 <= b.n_words) AS r_symbol_ratio,
       |  (b.n_alpha_words * 5 >= b.n_words * 4) AS r_alpha_frac,
       |  (b.n_stop_distinct >= 2) AS r_stopwords,
       |  (COALESCE(t.top2_chars, 0) * 5 <= b.word_chars) AS r_top2gram,
       |  (COALESCE(d.dup5_chars, 0) * 20 <= b.word_chars * 3) AS r_dup5gram,
       |  ((b.n_words >= 50 AND b.n_words <= 100000)
       |   AND (3 * b.n_words <= b.word_chars AND b.word_chars <= 10 * b.n_words)
       |   AND (b.n_sym * 10 <= b.n_words)
       |   AND (b.n_alpha_words * 5 >= b.n_words * 4)
       |   AND (b.n_stop_distinct >= 2)
       |   AND (COALESCE(t.top2_chars, 0) * 5 <= b.word_chars)
       |   AND (COALESCE(d.dup5_chars, 0) * 20 <= b.word_chars * 3)) AS gopher_keep
       |FROM base b
       |LEFT JOIN top2 t USING (doc_id)
       |LEFT JOIN dup5 d USING (doc_id)""".stripMargin
  }

  /** C9c `compression_score` — the deflate-ratio quality signal
    * (RedPajama-v2's signal class): a document that compresses far
    * below normal prose is boilerplate/template/repetition almost
    * surely — the SINGLE cheapest repetition detector, because the
    * compressor "measures" every repeated substring at once where the
    * C9b dup-gram legs count fixed n-gram sizes. One
    * [[graft.functions.VectorExpressions.DeflateLen]] kernel call per
    * row (zlib level 6), pure projection — no shuffle, no state; the
    * ratio is kept in integer MILLI units (comp·1000 div raw) so the
    * signal is engine-exact. Rows-only entry: no deflate in DuckDB —
    * check.py recomputes the lengths with CPython's zlib (the same
    * underlying library, length parity verified) and compares EVERY
    * row exactly, making this the strongest-graded rows-only entry. */
  def compressionScore(spark: SparkSession, dir: String): DataFrame =
    compressionScoreOf(Tables.fanout(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))))

  /** Frame-based core of C9c (docs = (doc_id, text)). */
  private[graft] def compressionScoreOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("raw_len", octet_length($"text"))
      .filter($"raw_len" > 0)
      .withColumn("comp_len", graft.functions.VectorExpressions.deflateLen($"text"))
      .select($"doc_id", $"raw_len", $"comp_len",
        expr("cast(comp_len as bigint) * 1000 div raw_len").as("ratio_milli"))
  }

  /** C10 `token_count` — whitespace tokens + BPE-ish regex tokens
    * (letter runs / digit runs / single punctuation, the pre-tokenizer
    * split GPT-style BPE vocabularies assume). regexp_count is one
    * codegen'd pass per row. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        size(toks($"text")).as("ws_tokens"),
        regexp_count(lower($"text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).as("bpe_tokens"),
        length($"text").as("n_chars_m"))
      .withColumn("chars_per_token",
        $"n_chars_m".cast("double") / greatest($"bpe_tokens", lit(1)).cast("double"))
  }

  val tokenCountSql: String =
    """SELECT doc_id,
      |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |       ELSE len(string_split_regex(trim(text), '\s+')) END AS INT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS bpe_tokens,
      |  CAST(length(text) AS INT) AS n_chars_m,
      |  CAST(length(text) AS DOUBLE)
      |    / CAST(greatest(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')), 1) AS DOUBLE) AS chars_per_token
      |FROM documents""".stripMargin

  private val stopwords = Seq("a", "the", "and", "of", "to", "in", "is")

  /** C12 `keyword_extract` — top-3 TF keywords per doc minus stopwords.
    * Explode → per-(doc, token) count → windowed top-k. The explode
    * multiplies rows by tokens-per-doc but never leaves the partition;
    * the only shuffle is the groupBy on (doc_id, token), and the window
    * repartitions by doc_id. Ties broken by token for determinism. */
  def keywordExtract(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"tf".desc, $"keyword")
    // the per-(doc, token) counts ARE the session unigramTf memo —
    // filter the stopwords on the aggregated table (exact: the filter
    // commutes with the per-(doc, token) count; r17 opt)
    unigramTfFor(spark, dir)
      .select($"doc_id", $"token".as("keyword"), $"tf")
      .filter(!$"keyword".isin(stopwords: _*) && length($"keyword") > 0)
      .withColumn("rank_kw", row_number().over(w))
      .filter($"rank_kw" <= k)
  }

  def keywordExtractSql(k: Int = 3): String =
    s"""WITH words AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS keyword
       |  FROM documents WHERE length(trim(text)) > 0),
       |tf AS (
       |  SELECT doc_id, keyword, COUNT(*) AS tf FROM words
       |  WHERE keyword NOT IN (${stopwords.map(s => s"'$s'").mkString(", ")})
       |    AND length(keyword) > 0
       |  GROUP BY 1, 2)
       |SELECT doc_id, keyword, tf, CAST(rn AS INT) AS rank_kw
       |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, keyword) AS rn FROM tf)
       |WHERE rn <= $k""".stripMargin

  /** C15 `pipeline_clean_corpus` — the composed training-data pipeline:
    * clean text → quality filter (≥ 0.5) → exact dedup (first-writer
    * keeper on the normalized-text hash) → per-language corpus stats.
    * This is what a user of the engine actually runs end-to-end; every
    * stage reuses the gated operators' expressions, and the whole chain
    * is one declarative plan: Catalyst pipelines the scans/filters, the
    * only shuffles are the dedup groupBy and the final per-lang agg.
    * Mean quality goes through decimal addition (hash-stable). */
  def pipelineCleanCorpus(spark: SparkSession, dir: String,
                          minQuality: Double = 0.5): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"h").orderBy($"doc_id")
    val quality = qualityScore(spark, dir).select($"doc_id", $"quality")
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang",
        lower(trim(regexp_replace($"text", "\\s+", " "))).as("clean_text"))
      .join(quality, Seq("doc_id"))
      .filter($"quality" >= minQuality)
      .withColumn("h", md5($"clean_text"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(regexp_count($"clean_text", lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).cast("long"))
          .as("sum_tokens"),
        (sum($"quality".cast(org.apache.spark.sql.types.DecimalType(18, 6))).cast("double")
          / count(lit(1))).as("avg_quality"))
  }

  def pipelineCleanCorpusSql(minQuality: Double = 0.5): String =
    s"""WITH q AS (${qualityScoreSql}),
       |cleaned AS (
       |  SELECT d.doc_id, d.lang,
       |         lower(trim(regexp_replace(d.text, '\\s+', ' ', 'g'))) AS clean_text,
       |         q.quality
       |  FROM documents d JOIN q ON d.doc_id = q.doc_id
       |  WHERE q.quality >= $minQuality),
       |deduped AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY md5(clean_text) ORDER BY doc_id) AS rn
       |    FROM cleaned)
       |  WHERE rn = 1)
       |SELECT lang, COUNT(*) AS n_docs,
       |       CAST(SUM(len(regexp_extract_all(clean_text, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS sum_tokens,
       |       CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_quality
       |FROM deduped GROUP BY lang""".stripMargin

  /** C13 `topic_classify` — heuristic topic from term evidence: count
    * lexicon hits per topic, argmax with fixed precedence. Per-row
    * regexp passes, no shuffle. */
  def topicClassify(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def hits(pat: String): Column = regexp_count(lower($"text"), lit(pat))
    Tables.documents(spark, dir)
      .select($"doc_id",
        hits("\\b(table|row|scan|hash|sort|merge|filter|index|query)\\b").as("db_hits"),
        hits("\\b(spark|partition|shuffle|stream|batch|agg)\\b").as("engine_hits"),
        hits("\\b(customer|order|price|value|part|line)\\b").as("commerce_hits"))
      .withColumn("topic",
        when($"db_hits" === 0 && $"engine_hits" === 0 && $"commerce_hits" === 0, lit("other"))
          .when($"db_hits" >= $"engine_hits" && $"db_hits" >= $"commerce_hits", lit("database"))
          .when($"engine_hits" >= $"commerce_hits", lit("engine"))
          .otherwise(lit("commerce")))
  }

  val topicClassifySql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(lower(text), '\b(table|row|scan|hash|sort|merge|filter|index|query)\b')) AS INT) AS db_hits,
      |  CAST(len(regexp_extract_all(lower(text), '\b(spark|partition|shuffle|stream|batch|agg)\b')) AS INT) AS engine_hits,
      |  CAST(len(regexp_extract_all(lower(text), '\b(customer|order|price|value|part|line)\b')) AS INT) AS commerce_hits,
      |  CASE WHEN len(regexp_extract_all(lower(text), '\b(table|row|scan|hash|sort|merge|filter|index|query)\b')) = 0
      |        AND len(regexp_extract_all(lower(text), '\b(spark|partition|shuffle|stream|batch|agg)\b')) = 0
      |        AND len(regexp_extract_all(lower(text), '\b(customer|order|price|value|part|line)\b')) = 0 THEN 'other'
      |       WHEN len(regexp_extract_all(lower(text), '\b(table|row|scan|hash|sort|merge|filter|index|query)\b')) >= len(regexp_extract_all(lower(text), '\b(spark|partition|shuffle|stream|batch|agg)\b'))
      |        AND len(regexp_extract_all(lower(text), '\b(table|row|scan|hash|sort|merge|filter|index|query)\b')) >= len(regexp_extract_all(lower(text), '\b(customer|order|price|value|part|line)\b')) THEN 'database'
      |       WHEN len(regexp_extract_all(lower(text), '\b(spark|partition|shuffle|stream|batch|agg)\b')) >= len(regexp_extract_all(lower(text), '\b(customer|order|price|value|part|line)\b')) THEN 'engine'
      |       ELSE 'commerce' END AS topic
      |FROM documents""".stripMargin

  /** C32 `nb_quality_classify` — a LEARNED quality filter, the piece
    * the curation surface's heuristics (C9 ratios, C21 unigram
    * perplexity) feed in a real pipeline: label a subset cheaply
    * (here a deterministic teacher heuristic over two marker word
    * lists on the 75% train split — production swaps in human or LLM
    * judgments), train a fasttext-style linear classifier on hashed
    * unigram features, apply it to the FULL corpus. The classifier is
    * multinomial Naive Bayes with Laplace smoothing — the decision is
    * linear in the slot counts, exactly fasttext's model class — over
    * [[docEmbed]]'s md5 slot space (unsigned counts; the hashing
    * trick bounds the model at classes × dim rows no matter the
    * vocabulary).
    *
    * ENGINE-EXACT scoring (the C23/F17 posture): every log-prob
    * quantizes to INTEGER MICRO-UNITS at train time —
    * w = ⌊10⁶·ln((n+1)/(t+dim))⌋, prior = ⌊10⁶·ln(dc/dn)⌋ — so a
    * doc's score is an exact integer dot product Σ x·w + prior and
    * the gate hash-compares scores AND predictions (the only float
    * op, ln of an exact integer ratio, feeds a floor like C22's
    * quantizer; C21 already gates raw log2 doubles).
    *
    * Scale: one tokenize scan → two hash aggs (teacher labels, slot
    * counts); the model is a broadcast 2×dim-row table; scoring is
    * one broadcast join + one hash agg. No driver state, no window,
    * nothing wider than (doc, slot) shuffles. */
  def nbQualityClassify(spark: SparkSession, dir: String,
                        dim: Int = 64): DataFrame = {
    import spark.implicits._
    val (model, priors) = nbTrainFor(spark, dir, dim)
    nbScore(Tables.fanout(Tables.documents(spark, dir)
      .select($"doc_id", $"text")), model, priors, dim,
      tf = Some(unigramTfFor(spark, dir)))
  }

  /** Teacher word lists: the commerce/engine halves of
    * [[topicClassify]]'s evidence sets — the heuristic the learned
    * filter distills. */
  private[graft] val nbKeepWords = Seq("customer", "order", "price", "value", "part", "line")
  private[graft] val nbDropWords = Seq("spark", "partition", "shuffle", "stream", "batch", "agg")

  /** Frame-based core of C32 (docs = (doc_id, text)); `trainMod`
    * holds out every trainMod-th doc (scored, never trained on). */
  private[graft] def nbQualityClassifyOf(docs: DataFrame, dim: Int = 64,
                                         trainMod: Int = 4): DataFrame = {
    val (model, priors) = nbTrain(docs, dim, trainMod)
    nbScore(docs, model, priors, dim)
  }

  /** The hashed unigram slot counts NB trains and scores on
    * (docEmbed's slot hash, unsigned). */
  /** The session unigram tf table — fanout(documents) tokenized ONCE
    * into distinct (doc_id, token, tf) rows (strictly smaller than
    * the raw token stream). tf rows are doc-local, so a doc-id
    * predicate over this table ≡ tokenizing the filtered corpus,
    * and every EXACT-INTEGER training build (NB, DSIR — full corpus
    * AND their 70%-prefix freezes) starts here instead of re-running
    * its own corpus tokenize (guide §1.2). The double-summing LM
    * families (perplexity, KN) stay on their own token streams: their
    * per-occurrence double sums are order/term-set-shaped and must
    * not become tf-weighted products. */
  private[graft] def unigramTfFor(spark: SparkSession, dir: String): DataFrame =
    NearDup.Shared.memo(spark, s"unigramTf:$dir") {
      import spark.implicits._
      Tables.fanout(Tables.documents(spark, dir).select($"doc_id", $"text"))
        .select($"doc_id", explode(toks($"text")).as("token"))
        .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
        .localCheckpoint()
    }

  /** The session word-frequency table (w, n_occ) — the corpus word
    * stream compressed to its distinct words, derived from the
    * unigramTf memo (summing tf over docs ≡ counting the stream; same
    * tokenizer, exact integers). Vocabulary-sized, so the iterative
    * BPE trainer and the vocabulary/pair-ranking entries run their
    * counting over this table instead of re-streaming every word
    * occurrence per pass (guide §2.3 "aggregate before you shuffle" —
    * here, before every downstream pass). */
  private[graft] def bpeWordCountsFor(spark: SparkSession, dir: String): DataFrame =
    NearDup.Shared.memo(spark, s"bpeWordCounts:$dir") {
      import spark.implicits._
      unigramTfFor(spark, dir)
        .groupBy($"token").agg(sum($"tf").as("n_occ"))
        .select($"token".as("w"), $"n_occ")
        .localCheckpoint()
    }

  private def nbFeatures(docs: DataFrame, dim: Int,
                         tf: Option[DataFrame] = None): DataFrame = {
    import docs.sparkSession.implicits._
    // a caller-provided (doc_id, token, tf) table (the session
    // unigramTf memo, optionally id-filtered) replaces the tokenize
    // outright — the slot sums below are the same exact integers
    tf.getOrElse(docs.select($"doc_id", explode(toks($"text")).as("token"))
        .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf")))
      .withColumn("slot",
        (conv(substring(md5($"token"), 1, 8), 16, 10).cast("long") % dim).cast("int"))
      .groupBy($"doc_id", $"slot").agg(sum($"tf").as("x"))
  }

  /** TRAIN the NB filter: teacher-label the train split (every
    * trainMod-th doc held out), aggregate per-(class, slot) counts,
    * quantize log-probs to integer micro-units. Returns the
    * (model, priors) pair — classes × dim + classes rows, both
    * eagerly materialized: this is the nightly training job whose
    * frozen output the batch scorer AND the streaming scorer (E19)
    * broadcast. */
  private[graft] def nbTrain(docs: DataFrame, dim: Int = 64,
                             trainMod: Int = 4,
                             tf: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    import docs.sparkSession.implicits._
    val spark = docs.sparkSession
    val keepList = nbKeepWords.map(w => s"'$w'").mkString(", ")
    val dropList = nbDropWords.map(w => s"'$w'").mkString(", ")
    // eager: the tf table feeds the teacher labels AND the feature
    // counts (materialization contract). A caller-provided tf table
    // (the session unigramTf memo) replaces the tokenize outright —
    // tf rows are doc-local, so the id-mod filter commutes with the
    // tokenize, and every count below is an exact-integer tf-weighted
    // sum of what the raw stream summed per occurrence.
    val tokTf = tf.map(_.filter($"doc_id" % trainMod =!= 0)).getOrElse(
      docs.filter($"doc_id" % trainMod =!= 0)
        .select($"doc_id", explode(toks($"text")).as("token"))
        .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
        .localCheckpoint())
    val labels = tokTf
      .groupBy($"doc_id")
      .agg(sum(expr(s"if(token in ($keepList), tf, 0L)")).as("np"),
        sum(expr(s"if(token in ($dropList), tf, 0L)")).as("nn"))
      .select($"doc_id",
        when($"np" >= $"nn", lit("keep")).otherwise(lit("drop")).as("label"))
    val trainFeat = tokTf
      .withColumn("slot",
        (conv(substring(md5($"token"), 1, 8), 16, 10).cast("long") % dim).cast("int"))
      .groupBy($"doc_id", $"slot").agg(sum($"tf").as("x"))
      .join(labels, Seq("doc_id"))
    val slotCounts = trainFeat.groupBy($"label", $"slot").agg(sum($"x").as("n"))
    val classTotals = trainFeat.groupBy($"label").agg(sum($"x").as("t"))
    val classDocs = labels.groupBy($"label").agg(count(lit(1)).as("dc"))
    // dense classes × dim model grid (Laplace: unseen slots get n=0);
    // all metadata-sized, the scalar-broadcast posture
    val grid = Seq("keep", "drop").toDF("label")
      .crossJoin(spark.range(dim).select($"id".cast("int").as("slot")))
    val model = grid
      .join(slotCounts, Seq("label", "slot"), "left")
      .na.fill(0L, Seq("n"))
      .join(classTotals, Seq("label"))
      .select($"label", $"slot",
        floor(lit(1e6) * log(($"n" + 1).cast("double") / ($"t" + dim).cast("double")))
          .cast("long").as("w"))
      .localCheckpoint()
    val priors = classDocs
      .crossJoin(broadcast(labels.agg(count(lit(1)).as("dn"))))
      .select($"label",
        floor(lit(1e6) * log($"dc".cast("double") / $"dn".cast("double")))
          .cast("long").as("prior"))
      .localCheckpoint()
    (model, priors)
  }

  /** The full-corpus frozen (model, priors) pair, memoized per
    * (session, dir, dim, trainMod) — the nightly training job runs
    * ONCE and every consumer (C32's one-shot scorer, E19's streaming
    * scorer, C32b's calibration sweep, C32d's epoch-2 registry write,
    * F19's freeze) broadcasts the same frozen artifact instead of
    * retraining (r16 opt: 5 identical trainings → 1). Deterministic:
    * integer micro-unit weights from exact integer counts. */
  private[graft] def nbTrainFor(spark: SparkSession, dir: String,
                                dim: Int = 64,
                                trainMod: Int = 4): (DataFrame, DataFrame) =
    NearDup.Shared.memo(spark, s"nbModel:$dir:$dim:$trainMod") {
      import spark.implicits._
      nbTrain(Tables.fanout(Tables.documents(spark, dir)
        .select($"doc_id", $"text")), dim, trainMod,
        tf = Some(unigramTfFor(spark, dir)))
    }

  /** SCORE a doc frame against a frozen (model, priors) pair: one
    * broadcast join + one hash agg — stateless, so the identical call
    * scores a batch corpus or an arriving micro-batch (E19). A doc's
    * score depends on the model and ITS OWN tokens alone, which is
    * what makes per-batch streaming scoring ≡ one-shot batch scoring
    * (StreamingSpec pins it). */
  /** Per-frozen-model cache of the two-class check below: the answer
    * is fixed once the model is trained, but the check is an eager
    * Spark action — without the memo every nbScore call (including
    * each E19 micro-batch against the SAME frozen priors) pays two
    * extra jobs. Weak identity keys: a priors frame is a stable
    * localCheckpoint'ed object for its model's lifetime. */
  private val nbTwoClass =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, java.lang.Boolean]())

  private[graft] def nbScore(docs: DataFrame, model: DataFrame,
                             priors: DataFrame, dim: Int = 64,
                             tf: Option[DataFrame] = None): DataFrame = {
    import docs.sparkSession.implicits._
    // DEGENERATE MODEL GUARD: a train split the teacher labeled all
    // one way has no second class — the missing class's prior/weights
    // vanish, the null coalesce below would make `pred` compare
    // against NULL (classifying all-keep evidence as all-drop), and
    // the oracle's cross join against the empty prior relation
    // returns zero rows. Serve the oracle's answer: an un-trainable
    // classifier classifies nothing (r15 review's catch, spec-pinned).
    // get/put, not computeIfAbsent: never hold the map monitor across
    // a Spark action (a racing duplicate count is harmless)
    val twoClass = Option(nbTwoClass.get(priors)).map(_.booleanValue())
      .getOrElse {
        val v = priors.select($"label").distinct().count() >= 2
        nbTwoClass.put(priors, v)
        v
      }
    if (!twoClass)
      return Seq.empty[(Long, Long, Long, String)]
        .toDF("doc_id", "score_keep", "score_drop", "pred")
    val partSc = nbFeatures(docs, dim, tf).join(broadcast(model), Seq("slot"))
      .groupBy($"doc_id", $"label").agg(sum($"x" * $"w").as("lsum"))
    val wide = partSc.join(broadcast(priors), Seq("label"))
      .select($"doc_id", $"label", ($"lsum" + $"prior").as("score"))
      .groupBy($"doc_id")
      .agg(max(when($"label" === "keep", $"score")).as("sk"),
        max(when($"label" === "drop", $"score")).as("sd"))
    val pwide = priors
      .groupBy().agg(max(when($"label" === "keep", $"prior")).as("pk"),
        max(when($"label" === "drop", $"prior")).as("pd"))
    // token-free docs fall back to priors alone
    docs.select($"doc_id").distinct()
      .join(wide, Seq("doc_id"), "left")
      .crossJoin(broadcast(pwide))
      .select($"doc_id",
        coalesce($"sk", $"pk").as("score_keep"),
        coalesce($"sd", $"pd").as("score_drop"))
      .withColumn("pred",
        when($"score_keep" >= $"score_drop", lit("keep")).otherwise(lit("drop")))
  }

  /** C32 oracle: the identical teacher → hashed counts → micro-unit
    * NB train → integer scoring pipeline in DuckDB. */
  def nbQualityClassifySql(dim: Int = 64, trainMod: Int = 4,
                           trainExtra: String = ""): String = {
    val keepList = nbKeepWords.map(w => s"'$w'").mkString(", ")
    val dropList = nbDropWords.map(w => s"'$w'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
       |  FROM documents WHERE length(trim(text)) > 0),
       |lab AS (
       |  SELECT doc_id,
       |         CASE WHEN SUM(CASE WHEN token IN ($keepList) THEN 1 ELSE 0 END)
       |                   >= SUM(CASE WHEN token IN ($dropList) THEN 1 ELSE 0 END)
       |              THEN 'keep' ELSE 'drop' END AS label
       |  FROM tok WHERE doc_id % $trainMod <> 0 $trainExtra GROUP BY 1),
       |tf0 AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |feat AS (
       |  SELECT doc_id,
       |         CAST(CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % $dim AS INT) AS slot,
       |         CAST(SUM(tf) AS BIGINT) AS x
       |  FROM tf0 GROUP BY 1, 2),
       |trainf AS (SELECT f.doc_id, f.slot, f.x, l.label FROM feat f JOIN lab l USING (doc_id)),
       |sc0 AS (SELECT label, slot, CAST(SUM(x) AS BIGINT) AS n FROM trainf GROUP BY 1, 2),
       |ct AS (SELECT label, CAST(SUM(x) AS BIGINT) AS t FROM trainf GROUP BY 1),
       |cd AS (SELECT label, COUNT(*) AS dc FROM lab GROUP BY 1),
       |dn AS (SELECT COUNT(*) AS dn FROM lab),
       |grid AS (
       |  SELECT label, CAST(slot AS INT) AS slot
       |  FROM (SELECT unnest(['keep', 'drop']) AS label)
       |  CROSS JOIN (SELECT unnest(range(0, $dim)) AS slot)),
       |model AS (
       |  SELECT g.label, g.slot,
       |         CAST(floor(1e6 * ln(CAST(COALESCE(s.n, 0) + 1 AS DOUBLE)
       |                             / CAST(ct.t + $dim AS DOUBLE))) AS BIGINT) AS w
       |  FROM grid g
       |  LEFT JOIN sc0 s ON s.label = g.label AND s.slot = g.slot
       |  JOIN ct ON ct.label = g.label),
       |priors AS (
       |  SELECT cd.label,
       |         CAST(floor(1e6 * ln(CAST(dc AS DOUBLE) / CAST(dn AS DOUBLE))) AS BIGINT) AS prior
       |  FROM cd, dn),
       |psum AS (
       |  SELECT f.doc_id, m.label, CAST(SUM(f.x * m.w) AS BIGINT) AS lsum
       |  FROM feat f JOIN model m ON m.slot = f.slot
       |  GROUP BY 1, 2),
       |wide AS (
       |  SELECT doc_id,
       |         MAX(CASE WHEN p.label = 'keep' THEN p.lsum + pr.prior END) AS sk,
       |         MAX(CASE WHEN p.label = 'drop' THEN p.lsum + pr.prior END) AS sd
       |  FROM psum p JOIN priors pr ON pr.label = p.label
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |       COALESCE(w.sk, pk.prior) AS score_keep,
       |       COALESCE(w.sd, pd.prior) AS score_drop,
       |       CASE WHEN COALESCE(w.sk, pk.prior) >= COALESCE(w.sd, pd.prior)
       |            THEN 'keep' ELSE 'drop' END AS pred
       |FROM documents d
       |LEFT JOIN wide w ON w.doc_id = d.doc_id
       |CROSS JOIN (SELECT prior FROM priors WHERE label = 'keep') pk(prior)
       |CROSS JOIN (SELECT prior FROM priors WHERE label = 'drop') pd(prior)"""
      .stripMargin
  }

  /** C32c `nb_stale_serve` — the learned quality filter's STALENESS
    * drill under the gate (the C33b posture carried to NB): the
    * (model, priors) pair freezes on the 70% id-mod prefix (the
    * nightly training job's corpus — doc_id mod 10 < 7, deterministic
    * in both engines, with the usual trainMod held-out discipline
    * inside the prefix), the corpus then GROWS to 100%, and ALL docs
    * score against the frozen pair — the production state between
    * nightly retrains, where new docs are judged by yesterday's
    * model. The oracle independently refits the prefix model and
    * scores all docs — hash-equal on scores and predictions. The
    * refresh branch ([[nbRefreshIfDrifted]]) is spec-pinned rather
    * than gated — at the gate it would be indistinguishable from
    * `nb_quality_classify`. */
  def nbStaleServe(spark: SparkSession, dir: String,
                   dim: Int = 64): DataFrame = {
    import spark.implicits._
    val docs = Tables.fanout(Tables.documents(spark, dir)
      .select($"doc_id", $"text"))
    // the frozen prefix pair is a session artifact like nbTrainFor's
    // full-corpus one — train it once per (dir, dim) (r17 opt)
    val (model, priors) = NearDup.Shared.memo(spark, s"nbModelPrefix:$dir:$dim") {
      nbTrain(docs.filter($"doc_id" % 10 < 7), dim,
        tf = Some(unigramTfFor(spark, dir).filter($"doc_id" % 10 < 7)))
    }
    nbScore(docs, model, priors, dim, tf = Some(unigramTfFor(spark, dir)))
  }

  /** C32c oracle: the prefix-trained model scoring all docs — C32's
    * SQL with the training split additionally restricted to the
    * id-mod prefix. */
  def nbStaleServeSql(dim: Int = 64): String =
    nbQualityClassifySql(dim, 4, "AND doc_id % 10 < 7")

  /** PERSIST a trained NB filter (model + priors, classes × dim + 2
    * integer rows) as a catalog store — the model-registry write the
    * nightly training job commits. Integer micro-unit weights
    * round-trip parquet exactly, so a catalog-resolved model scores
    * bit-identically to the in-session one. */
  private[graft] def nbModelWrite(docs: DataFrame, d: String,
                                  dim: Int = 64,
                                  trained: Option[(DataFrame, DataFrame)] = None): Unit = {
    val (model, priors) = trained.getOrElse(nbTrain(docs, dim))
    model.coalesce(1).write.parquet(s"$d/model")
    priors.coalesce(1).write.parquet(s"$d/priors")
  }

  /** Read a persisted NB filter back ([[nbModelWrite]]'s layout). */
  private[graft] def nbModelRead(spark: SparkSession, d: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$d/model"), spark.read.parquet(s"$d/priors"))

  /** C32d `nb_catalog_serve` — the MODEL REGISTRY lifecycle for the
    * learned quality filter, the same cross-process story the index
    * kinds have (C23f/C4d): a nightly training process commits the
    * epoch-1 model (trained on the 70% id-cut corpus) into the
    * catalog ([[graft.sources.Catalog.resolveOrBuild]], commit-last),
    * the corpus drifts, the stamped epoch-2 resolve RETRAINS on the
    * full corpus and supersedes by seq, `Catalog.vacuum` reclaims the
    * superseded epoch-1 store, and a serving process that knows only
    * the catalog root resolves the model by manifest lookup and
    * scores. HASH-EQUAL to `nb_quality_classify` — the whole registry
    * lifecycle must be answer-invisible (integer weights round-trip
    * parquet exactly). The spec additionally pins epoch-1 lookup
    * parity before the drift, physical reclaim, and the
    * one-commit rollback ([[graft.sources.Catalog.rollback]] is
    * kind-generic — the C23g drill applies to models too). */
  def nbCatalogServe(spark: SparkSession, dir: String,
                     dim: Int = 64): DataFrame = {
    import spark.implicits._
    val docs = Tables.fanout(Tables.documents(spark, dir)
      .select($"doc_id", $"text"))
    // empty-corpus guard: no docs → no cut, no model to register —
    // serve the empty scored frame (nbScore's schema)
    val maxId = Tables.documents(spark, dir).agg(max($"doc_id")).head()
    if (maxId.isNullAt(0))
      return Seq.empty[(Long, Long, Long, String)]
        .toDF("doc_id", "score_keep", "score_drop", "pred")
    val cut = maxId.getLong(0) * 7 / 10
    val key = s"corpus:$dir dim=$dim"
    graft.sources.Lake.withScratchIndex(spark, "graft_nbmodel_cat") { cat =>
      // nightly training, epoch 1: the corpus as of the cut (the
      // prefix model promotes from a session template — one prefix
      // train per session, r17 opt)
      graft.sources.Catalog.resolveOrBuild(spark, cat, "nbmodel", key,
        stamp = "epoch-1")(promoteTemplate(spark)(
        nbModelTemplate(spark, dir, Some(cut), dim)))
      // the corpus drifted: the stamped epoch-2 resolve retrains on
      // the full corpus and supersedes — never serves stale (the full
      // train is the nbTrainFor memo's)
      graft.sources.Catalog.resolveOrBuild(spark, cat, "nbmodel", key,
        stamp = "epoch-2")(promoteTemplate(spark)(
        nbModelTemplate(spark, dir, None, dim)))
      graft.sources.Catalog.vacuum(spark, cat)
      val (path, stamp) =
        graft.sources.Catalog.lookup(spark, cat, "nbmodel", key).get
      require(stamp == "epoch-2", s"fleet must resolve the fresh epoch: $stamp")
      val (model, priors) = nbModelRead(spark, path)
      nbScore(docs, model, priors, dim, tf = Some(unigramTfFor(spark, dir)))
    }
  }

  /** Drift of a FROZEN NB model against the CURRENT corpus: mean |Δw|
    * over the classes × dim weight grid between the frozen model and
    * a freshly trained one, in natural log units (micro-units / 10⁶).
    * Both tables are classes × dim rows — a broadcast join over
    * driver-metadata-sized frames; the only corpus pass is the fresh
    * fit's own aggregates. [[dsirDriftMeasure]]'s ε-trigger posture
    * for the learned classifier. */
  private[graft] def nbDriftMeasure(docs: DataFrame, frozenModel: DataFrame,
                                    dim: Int = 64, trainMod: Int = 4): Double = {
    import docs.sparkSession.implicits._
    val (fresh, _) = nbTrain(docs, dim, trainMod)
    frozenModel.select($"label", $"slot", $"w".as("w0"))
      .join(fresh.select($"label", $"slot", $"w".as("w1")), Seq("label", "slot"))
      .agg(avg(abs($"w1" - $"w0")).as("d"))
      .head().getDouble(0) / 1e6
  }

  /** Refresh the frozen (model, priors) pair when the corpus has
    * drifted past `driftEps` log-units; below the threshold the
    * frozen pair keeps serving (None — the caller's pair stands). */
  private[graft] def nbRefreshIfDrifted(docs: DataFrame, frozenModel: DataFrame,
                                        dim: Int = 64, trainMod: Int = 4,
                                        driftEps: Double = 0.05)
      : Option[(DataFrame, DataFrame)] =
    if (nbDriftMeasure(docs, frozenModel, dim, trainMod) <= driftEps) None
    else Some(nbTrain(docs, dim, trainMod))

  /** DSIR target lexicon: a doc is IN-DOMAIN when it carries at least
    * one of these tokens (the database half of [[topicClassify]]'s
    * evidence — the "domain we want more of"). Production swaps in a
    * real target corpus (Wikipedia, textbooks); the estimator below
    * never depends on how the target set was chosen. */
  private[graft] val dsirTargetWords =
    Seq("table", "row", "scan", "hash", "sort", "merge", "filter", "index", "query")

  /** C33 `dsir_select` — Data Selection via Importance Resampling
    * (Xie et al., NeurIPS 2023), the published importance-weighting
    * selector real LM-data pipelines run between the heuristic and
    * learned filters: fit two bag-of-hashed-ngram models — p̂_target
    * over an in-domain subset, p̂_raw over the full corpus — and score
    * every doc with its log importance weight
    * log ŵ(x) = Σ_slot x_slot·(log p̂_t(slot) − log p̂_r(slot)), then
    * keep the top `selectFrac` of the corpus by weight. Features are
    * [[docEmbed]]'s md5 slot space (the hashing trick bounds both
    * models at `dim` rows no matter the vocabulary) with Laplace
    * smoothing, exactly C32's estimator class.
    *
    * ENGINE-EXACT (the C32 posture): each slot's two log-probs
    * quantize to integer micro-units SEPARATELY —
    * r = ⌊10⁶·ln((n_t+1)/(T_t+dim))⌋ − ⌊10⁶·ln((n_r+1)/(T_r+dim))⌋ —
    * so logw is an exact integer dot product and the selection
    * threshold eps (the k-th largest logw, k = ⌊selectFrac·N⌋) is an
    * exact integer order statistic; the gate hash-compares logw, eps
    * and the selected flag. Boundary ties are ALL kept (selected ⇔
    * logw ≥ eps) — deterministic without a global total order.
    *
    * Scale: one tokenize scan → (doc, slot) hash agg; the two
    * distributions are dim-row aggregates (broadcast); scoring is one
    * broadcast join + one hash agg. The order statistic NEVER sorts
    * the corpus: a coarse ⌊logw/10⁶⌋ histogram (driver metadata,
    * bounded by the micro-unit range) locates rank k's bucket, and
    * only that bucket's rows take the exact top-(k−above) — the
    * semdedup_budget selection pattern. Selection itself is a
    * stateless filter against the 1-row threshold. */
  def dsirSelect(spark: SparkSession, dir: String, dim: Int = 64,
                 selectFrac: Double = 0.25): DataFrame = {
    import spark.implicits._
    val (_, weighted, epsOpt) = dsirFitFor(spark, dir, dim, selectFrac)
    dsirSelected(weighted, epsOpt)
  }

  /** The full-corpus DSIR fit — (ratio model, weighted corpus,
    * threshold) — memoized per (session, dir, dim, selectFrac): the
    * nightly fit runs ONCE and the one-shot selector (C33), the
    * streaming filter's freeze (E20) and the curation freeze (F19)
    * all serve against the same frozen triple (r16 opt: 4 identical
    * fits → 1). Deterministic: integer micro-unit log-ratios and an
    * exact integer order-statistic threshold. */
  private[graft] def dsirFitFor(spark: SparkSession, dir: String,
                                dim: Int = 64, selectFrac: Double = 0.25)
      : (DataFrame, DataFrame, Option[Long]) =
    NearDup.Shared.memo(spark, s"dsirFit:$dir:$dim:$selectFrac") {
      import spark.implicits._
      dsirFit(Tables.fanout(Tables.documents(spark, dir)
        .select($"doc_id", $"text")), dim, selectFrac,
        tf = Some(unigramTfFor(spark, dir)))
    }

  /** Frame-based core of C33 (docs = (doc_id, text)). */
  private[graft] def dsirSelectOf(docs: DataFrame, dim: Int = 64,
                                  selectFrac: Double = 0.25): DataFrame = {
    import docs.sparkSession.implicits._
    val (_, weighted, epsOpt) = dsirFit(docs, dim, selectFrac)
    dsirSelected(weighted, epsOpt)
  }

  /** The (logw, eps, selected) output frame from a fit's weighted
    * corpus and threshold. */
  private def dsirSelected(weighted: DataFrame, epsOpt: Option[Long]): DataFrame = {
    import weighted.sparkSession.implicits._
    epsOpt match {
      case None =>
        weighted.select($"doc_id", $"logw", lit(null).cast("long").as("eps"),
          lit(false).as("selected"))
      case Some(eps) =>
        weighted.select($"doc_id", $"logw", lit(eps).as("eps"),
          ($"logw" >= eps).as("selected"))
    }
  }

  /** The shared fit: the dim-row log-ratio model, the checkpointed
    * (doc_id, logw) corpus, and the selection threshold (None when
    * ⌊selectFrac·N⌋ = 0). */
  /** The dim-row log-ratio model alone: p̂_target vs p̂_raw fitted
    * over `docs` (the reference corpus), checkpointed. Shared by the
    * full fit and the drift measure, which compares a FROZEN ratio
    * against a fresh one without ever building the weighted corpus. */
  private[graft] def dsirRatioOf(docs: DataFrame, dim: Int = 64): DataFrame = {
    val tf0 = dsirTf(docs)
    dsirRatioParts(tf0, dsirFeat(tf0, dim), dim)
  }

  /** ONE tokenize pass shared by the ratio model's two slot models,
    * the target-doc flags and the weighted corpus — the fit used to
    * re-run the explode+aggregate per consumer (guide §1.2). Distinct
    * (doc, token) counts: strictly smaller than the raw token stream,
    * and every downstream measure derives from it exactly. */
  private def dsirTf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", explode(toks($"text")).as("token"))
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
  }

  /** [[nbFeatures]]' (doc_id, slot, x) table derived from the shared
    * tf counts — docs × dim bounded, checkpointed for its three
    * readers (lt / lr slot models, weighted corpus). */
  private def dsirFeat(tf0: DataFrame, dim: Int): DataFrame = {
    import tf0.sparkSession.implicits._
    tf0.withColumn("slot",
        (conv(substring(md5($"token"), 1, 8), 16, 10).cast("long") % dim).cast("int"))
      .groupBy($"doc_id", $"slot").agg(sum($"tf").as("x"))
      .localCheckpoint()
  }

  private def dsirRatioParts(tf0: DataFrame, feat: DataFrame,
                             dim: Int): DataFrame = {
    val spark = feat.sparkSession
    import spark.implicits._
    val tgtList = dsirTargetWords.map(w => s"'$w'").mkString(", ")
    // a doc is target iff it carries a target token — the tf rows
    // witness exactly the same membership the raw token stream did
    val tgtDocs = tf0.filter(expr(s"token in ($tgtList)"))
      .select($"doc_id").distinct()
    val tgtFeat = feat.join(tgtDocs, Seq("doc_id"), "left_semi")
    def slotModel(f: DataFrame): DataFrame = {
      val n = f.groupBy($"slot").agg(sum($"x").as("n"))
      val t = f.agg(sum($"x").as("t"))
      spark.range(dim).select($"id".cast("int").as("slot"))
        .join(n, Seq("slot"), "left").na.fill(0L, Seq("n"))
        .crossJoin(broadcast(t))
        .select($"slot",
          floor(lit(1e6) * log(($"n" + 1).cast("double") / ($"t" + dim).cast("double")))
            .cast("long").as("lp"))
    }
    slotModel(tgtFeat).withColumnRenamed("lp", "lt")
      .join(slotModel(feat).withColumnRenamed("lp", "lr"), Seq("slot"))
      .select($"slot", ($"lt" - $"lr").as("r"))
      .localCheckpoint()
  }

  private def dsirFit(docs: DataFrame, dim: Int,
                      selectFrac: Double,
                      tf: Option[DataFrame] = None): (DataFrame, DataFrame, Option[Long]) = {
    import docs.sparkSession.implicits._
    require(selectFrac > 0.0 && selectFrac <= 1.0,
      s"selectFrac must be in (0, 1]: $selectFrac")
    // a caller-provided tf table (the session unigramTf memo) replaces
    // the fit's own tokenize — identical distinct (doc, token, tf)
    // rows by the doc-local-commute argument on [[unigramTfFor]]
    val tf0 = tf.getOrElse(dsirTf(docs))
    val feat = dsirFeat(tf0, dim)
    val ratio = dsirRatioParts(tf0, feat, dim)
    // eager: the weighted corpus feeds the threshold histogram AND the
    // output (materialization contract) — (doc_id, logw) only, two
    // longs per doc
    val weighted = docs.select($"doc_id").distinct()
      .join(feat.join(broadcast(ratio), Seq("slot"))
        .groupBy($"doc_id").agg(sum($"x" * $"r").as("logw")),
        Seq("doc_id"), "left")
      .na.fill(0L, Seq("logw"))
      .localCheckpoint()
    val n = weighted.count()
    val k = math.floor(selectFrac * n).toLong
    if (k == 0L) (ratio, weighted, None)
    else {
      // exact k-th largest integer logw without a global sort: coarse
      // 1e6-wide buckets locate rank k (driver metadata — the bucket
      // count is bounded by the micro-unit weight range, not N), then
      // only that bucket's rows take the exact within-bucket top
      val hist = weighted
        .select(org.apache.spark.sql.functions.floor($"logw" / 1000000L).as("b"))
        .groupBy($"b").agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(-_._1)
      var cum = 0L; var i = 0
      while (cum + hist(i)._2 < k) { cum += hist(i)._2; i += 1 }
      val (bkt, inRank) = (hist(i)._1, k - cum)
      require(inRank <= Int.MaxValue.toLong,
        s"threshold bucket $bkt holds > Int.MaxValue rows at 1e6 " +
          "width — narrow the histogram before selecting")
      val eps = weighted
        .filter(org.apache.spark.sql.functions.floor($"logw" / 1000000L) === bkt)
        .select($"logw").orderBy($"logw".desc)
        .limit(inRank.toInt).agg(min($"logw")).head().getLong(0)
      (ratio, weighted, Some(eps))
    }
  }

  /** TRAIN the DSIR selector: the nightly job whose frozen output the
    * streaming filter (E20) broadcasts — the dim-row log-ratio table
    * plus the integer selection threshold eps fitted on the reference
    * corpus. Both are exactly [[dsirSelectOf]]'s internals; a doc's
    * (logw, selected) verdict against the frozen pair depends on the
    * model and its own tokens alone, which is what makes per-batch
    * scoring ≡ one-shot scoring. */
  private[graft] def dsirTrain(docs: DataFrame, dim: Int = 64,
                               selectFrac: Double = 0.25,
                               tf: Option[DataFrame] = None): (DataFrame, Option[Long]) = {
    val (ratio, _, epsOpt) = dsirFit(docs, dim, selectFrac, tf)
    // epsOpt is None only when ⌊selectFrac·N⌋ = 0 (degenerate/empty
    // reference corpus) — the scorer then selects nothing, exactly
    // the batch k = 0 branch
    (ratio, epsOpt)
  }

  /** Drift of a FROZEN ratio model against the CURRENT corpus: mean
    * |Δr| over the dim slots between the frozen table and a freshly
    * fitted one, in NATURAL LOG units (micro-units / 10⁶). Both
    * tables are dim rows — the measure is a broadcast join over
    * driver-metadata-sized frames, never a corpus pass beyond the
    * fresh fit's own two aggregates. The ε-trigger posture of
    * [[bm25RefreshIfStale]] / ivfRetrainIfDrifted carried to the
    * learned selector. */
  private[graft] def dsirDriftMeasure(docs: DataFrame, frozenRatio: DataFrame,
                                      dim: Int = 64): Double = {
    import docs.sparkSession.implicits._
    val fresh = dsirRatioOf(docs, dim)
    frozenRatio.select($"slot", $"r".as("r0"))
      .join(fresh.select($"slot", $"r".as("r1")), Seq("slot"))
      .agg(avg(abs($"r1" - $"r0")).as("d"))
      .head().getDouble(0) / 1e6
  }

  /** Refresh the frozen (ratio, eps) pair when the reference corpus
    * has drifted past `eps` log-units; below the threshold the frozen
    * pair keeps serving (returns None — the caller's pair stands).
    * The nightly retrain bound: a stable corpus never retrains. */
  private[graft] def dsirRefreshIfDrifted(docs: DataFrame, frozenRatio: DataFrame,
                                          dim: Int = 64, selectFrac: Double = 0.25,
                                          driftEps: Double = 0.05)
      : Option[(DataFrame, Option[Long])] =
    if (dsirDriftMeasure(docs, frozenRatio, dim) <= driftEps) None
    else Some(dsirTrain(docs, dim, selectFrac))

  /** C33b `dsir_stale_serve` — the learned selector's STALENESS drill
    * under the gate: the (ratio, eps) pair freezes on the 70%
    * id-mod prefix (the nightly job's reference corpus — doc_id mod
    * 10 < 7, deterministic in both engines), the corpus then GROWS to
    * 100%, and the full corpus serves against the frozen pair — the
    * production state between nightly retrains, where new docs are
    * admitted by yesterday's model and yesterday's threshold. The
    * oracle independently refits the same prefix models and prefix
    * threshold and scores all docs — hash-equal on weights, eps and
    * flags. The REFRESH branch ([[dsirRefreshIfDrifted]]: drift
    * rising on a shifted append, the sub-ε skip, retrain restoring
    * full-corpus parity) is spec-pinned rather than gated — at the
    * gate it would be indistinguishable from `dsir_select`. */
  def dsirStaleServe(spark: SparkSession, dir: String, dim: Int = 64,
                     selectFrac: Double = 0.25): DataFrame = {
    import spark.implicits._
    val docs = Tables.fanout(Tables.documents(spark, dir)
      .select($"doc_id", $"text"))
    // the frozen prefix (ratio, eps) is a session artifact like
    // dsirFitFor's full-corpus one — train it once per key (r17 opt)
    val (ratio, eps) = NearDup.Shared.memo(spark,
      s"dsirPrefix:$dir:$dim:$selectFrac") {
      dsirTrain(docs.filter($"doc_id" % 10 < 7), dim, selectFrac,
        tf = Some(unigramTfFor(spark, dir).filter($"doc_id" % 10 < 7)))
    }
    dsirScore(docs, ratio, eps, dim)
  }

  /** C33b oracle: prefix-fitted models + prefix threshold, all docs
    * scored. */
  def dsirStaleServeSql(dim: Int = 64, selectFrac: Double = 0.25): String = {
    val tgtList = dsirTargetWords.map(w => s"'$w'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
       |  FROM documents WHERE length(trim(text)) > 0),
       |tf0 AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |feat AS (
       |  SELECT doc_id,
       |         CAST(CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % $dim AS INT) AS slot,
       |         CAST(SUM(tf) AS BIGINT) AS x
       |  FROM tf0 GROUP BY 1, 2),
       |reff AS (SELECT * FROM feat WHERE doc_id % 10 < 7),
       |tgt AS (SELECT DISTINCT doc_id FROM tok
       |        WHERE token IN ($tgtList) AND doc_id % 10 < 7),
       |nt AS (SELECT slot, SUM(x) AS n FROM reff
       |       WHERE doc_id IN (SELECT doc_id FROM tgt) GROUP BY 1),
       |tt AS (SELECT SUM(x) AS t FROM reff WHERE doc_id IN (SELECT doc_id FROM tgt)),
       |nr AS (SELECT slot, SUM(x) AS n FROM reff GROUP BY 1),
       |tr AS (SELECT SUM(x) AS t FROM reff),
       |grid AS (SELECT CAST(unnest(range(0, $dim)) AS INT) AS slot),
       |ratio AS (
       |  SELECT g.slot,
       |         CAST(floor(1e6 * ln(CAST(COALESCE(nt.n, 0) + 1 AS DOUBLE)
       |                             / CAST(tt.t + $dim AS DOUBLE))) AS BIGINT)
       |       - CAST(floor(1e6 * ln(CAST(COALESCE(nr.n, 0) + 1 AS DOUBLE)
       |                             / CAST(tr.t + $dim AS DOUBLE))) AS BIGINT) AS r
       |  FROM grid g
       |  LEFT JOIN nt ON nt.slot = g.slot
       |  LEFT JOIN nr ON nr.slot = g.slot, tt, tr),
       |lw AS (SELECT f.doc_id, CAST(SUM(f.x * r.r) AS BIGINT) AS logw
       |       FROM feat f JOIN ratio r USING (slot) GROUP BY 1),
       |weighted AS (
       |  SELECT d.doc_id, COALESCE(l.logw, 0) AS logw
       |  FROM documents d LEFT JOIN lw l USING (doc_id)),
       |refw AS (SELECT * FROM weighted WHERE doc_id % 10 < 7),
       |eps AS (
       |  SELECT MIN(logw) AS eps FROM (
       |    SELECT logw FROM refw ORDER BY logw DESC
       |    LIMIT (SELECT CAST(floor($selectFrac * COUNT(*)) AS BIGINT) FROM refw)))
       |SELECT w.doc_id, w.logw, e.eps,
       |       COALESCE(w.logw >= e.eps, FALSE) AS selected
       |FROM weighted w, eps e""".stripMargin
  }

  /** SCORE a doc frame against a frozen (ratio, eps) pair: one
    * broadcast join + one hash agg + a stateless filter column — the
    * identical call scores the batch corpus or an arriving micro-batch
    * (E20). */
  private[graft] def dsirScore(docs: DataFrame, ratio: DataFrame,
                               eps: Option[Long], dim: Int = 64): DataFrame = {
    import docs.sparkSession.implicits._
    val weighted = docs.select($"doc_id").distinct()
      .join(nbFeatures(docs, dim).join(broadcast(ratio), Seq("slot"))
        .groupBy($"doc_id").agg(sum($"x" * $"r").as("logw")),
        Seq("doc_id"), "left")
      .na.fill(0L, Seq("logw"))
    eps match {
      case Some(e) =>
        weighted.select($"doc_id", $"logw", lit(e).as("eps"),
          ($"logw" >= e).as("selected"))
      case None =>
        weighted.select($"doc_id", $"logw", lit(null).cast("long").as("eps"),
          lit(false).as("selected"))
    }
  }

  /** C33 oracle: the identical target/raw hashed-unigram models,
    * micro-unit log-ratio, integer dot product and k-th-largest
    * threshold in DuckDB. */
  def dsirSelectSql(dim: Int = 64, selectFrac: Double = 0.25): String = {
    val tgtList = dsirTargetWords.map(w => s"'$w'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
       |  FROM documents WHERE length(trim(text)) > 0),
       |tf0 AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |feat AS (
       |  SELECT doc_id,
       |         CAST(CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % $dim AS INT) AS slot,
       |         CAST(SUM(tf) AS BIGINT) AS x
       |  FROM tf0 GROUP BY 1, 2),
       |tgt AS (SELECT DISTINCT doc_id FROM tok WHERE token IN ($tgtList)),
       |nt AS (SELECT slot, SUM(x) AS n FROM feat
       |       WHERE doc_id IN (SELECT doc_id FROM tgt) GROUP BY 1),
       |tt AS (SELECT SUM(x) AS t FROM feat WHERE doc_id IN (SELECT doc_id FROM tgt)),
       |nr AS (SELECT slot, SUM(x) AS n FROM feat GROUP BY 1),
       |tr AS (SELECT SUM(x) AS t FROM feat),
       |grid AS (SELECT CAST(unnest(range(0, $dim)) AS INT) AS slot),
       |ratio AS (
       |  SELECT g.slot,
       |         CAST(floor(1e6 * ln(CAST(COALESCE(nt.n, 0) + 1 AS DOUBLE)
       |                             / CAST(tt.t + $dim AS DOUBLE))) AS BIGINT)
       |       - CAST(floor(1e6 * ln(CAST(COALESCE(nr.n, 0) + 1 AS DOUBLE)
       |                             / CAST(tr.t + $dim AS DOUBLE))) AS BIGINT) AS r
       |  FROM grid g
       |  LEFT JOIN nt ON nt.slot = g.slot
       |  LEFT JOIN nr ON nr.slot = g.slot, tt, tr),
       |lw AS (SELECT f.doc_id, CAST(SUM(f.x * r.r) AS BIGINT) AS logw
       |       FROM feat f JOIN ratio r USING (slot) GROUP BY 1),
       |weighted AS (
       |  SELECT d.doc_id, COALESCE(l.logw, 0) AS logw
       |  FROM documents d LEFT JOIN lw l USING (doc_id)),
       |eps AS (
       |  SELECT MIN(logw) AS eps FROM (
       |    SELECT logw FROM weighted ORDER BY logw DESC
       |    LIMIT (SELECT CAST(floor($selectFrac * COUNT(*)) AS BIGINT) FROM weighted)))
       |SELECT w.doc_id, w.logw, e.eps,
       |       COALESCE(w.logw >= e.eps, FALSE) AS selected
       |FROM weighted w, eps e""".stripMargin
  }

  /** C32b `nb_quality_calibrate` — the operating-point sweep that
    * turns C32's scores into a deployable filter: on the HELD-OUT
    * split (never trained on), compute each doc's integer margin
    * (score_keep − score_drop) and the teacher's truth label, then
    * emit the full confusion table (tp, fp, fn, tn) at EVERY distinct
    * margin threshold — the exact ROC/PR sweep a pipeline reads to
    * pick its keep threshold. All counts are exact integers at exact
    * integer thresholds, so the gate hash-compares the whole sweep.
    *
    * Scale: scoring is C32's broadcast join + hash agg; the sweep
    * NEVER sorts the corpus — margins aggregate per distinct value,
    * band by coarse ⌊margin/10⁶⌋ buckets, band offsets come from the
    * bounded band-aggregate's broadcast inequality self-join
    * (vocab_build's replacement for a global ordered window), and the
    * cumulative confusion counts run in a window PARTITIONED by band.
    * The per-distinct-margin relation is ≤ held-out-doc-sized; a
    * 100 TB deployment sweeps a quantile grid of thresholds instead —
    * same plan, coarser margin key. */
  def nbQualityCalibrate(spark: SparkSession, dir: String,
                         dim: Int = 64): DataFrame = {
    import spark.implicits._
    nbQualityCalibrateOf(Tables.fanout(Tables.documents(spark, dir)
      .select($"doc_id", $"text")), dim,
      trained = Some(nbTrainFor(spark, dir, dim)),
      tf = Some(unigramTfFor(spark, dir)))
  }

  /** Frame-based core of C32b (docs = (doc_id, text)). */
  private[graft] def nbQualityCalibrateOf(docs: DataFrame, dim: Int = 64,
                                          trainMod: Int = 4,
                                          trained: Option[(DataFrame, DataFrame)] = None,
                                          tf: Option[DataFrame] = None): DataFrame = {
    import docs.sparkSession.implicits._
    val keepList = nbKeepWords.map(w => s"'$w'").mkString(", ")
    val dropList = nbDropWords.map(w => s"'$w'").mkString(", ")
    val (model, priors) = trained.getOrElse(nbTrain(docs, dim, trainMod))
    val held = docs.filter($"doc_id" % trainMod === 0)
    // the held-out slice of the session tf memo serves BOTH the
    // margin scoring and the teacher-truth aggregate (tf rows are
    // doc-local, so the id-mod filter commutes; the marker counts are
    // exact tf-weighted sums of the per-occurrence indicators)
    val heldTf = tf.map(_.filter($"doc_id" % trainMod === 0))
    val margins = nbScore(held, model, priors, dim, tf = heldTf)
      .select($"doc_id", ($"score_keep" - $"score_drop").as("margin"))
    // the teacher's truth on the held-out docs (same marker rule the
    // training labels used; a token-free doc counts 0 ≥ 0 → keep)
    val heldTok = heldTf.getOrElse(
      held.select($"doc_id", explode(toks($"text")).as("token"))
        .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf")))
    val truth = held.select($"doc_id").distinct()
      .join(heldTok
        .groupBy($"doc_id")
        .agg(sum(expr(s"if(token in ($keepList), tf, 0L)")).as("np"),
          sum(expr(s"if(token in ($dropList), tf, 0L)")).as("nn")),
        Seq("doc_id"), "left")
      .select($"doc_id",
        when(coalesce($"np", lit(0L)) >= coalesce($"nn", lit(0L)), lit(1L))
          .otherwise(lit(0L)).as("isk"))
    // per-distinct-margin confusion mass, banded for the cumsum;
    // eager: feeds the band aggregate AND the windowed main path
    val m = margins.join(truth, Seq("doc_id"))
      .groupBy($"margin")
      .agg(sum($"isk").as("nk"), sum(lit(1L) - $"isk").as("nd"))
      .withColumn("band",
        org.apache.spark.sql.functions.floor($"margin" / 1000000L).cast("long"))
      .localCheckpoint()
    val bandAgg = m.groupBy($"band")
      .agg(sum($"nk").as("bk"), sum($"nd").as("bd")).localCheckpoint()
    val higher = bandAgg.select($"band".as("hb"), $"bk".as("hk"), $"bd".as("hd"))
    val offsets = bandAgg.join(broadcast(higher), $"hb" > $"band", "left")
      .groupBy($"band")
      .agg(coalesce(sum($"hk"), lit(0L)).as("ok"),
        coalesce(sum($"hd"), lit(0L)).as("od"))
    val totals = bandAgg.agg(sum($"bk").as("totk"), sum($"bd").as("totd"))
    val w = Window.partitionBy($"band").orderBy($"margin".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m.join(broadcast(offsets), Seq("band"))
      .crossJoin(broadcast(totals))
      .withColumn("ck", sum($"nk").over(w) + $"ok")
      .withColumn("cd", sum($"nd").over(w) + $"od")
      .select($"margin".as("thr"), $"ck".as("tp"), $"cd".as("fp"),
        ($"totk" - $"ck").as("fn"), ($"totd" - $"cd").as("tn"))
  }

  /** C32b oracle: the identical train → held-out margins → teacher
    * truth → cumulative confusion sweep in DuckDB (the ordered window
    * there runs over the same per-distinct-margin aggregate). */
  def nbQualityCalibrateSql(dim: Int = 64, trainMod: Int = 4): String = {
    val keepList = nbKeepWords.map(w => s"'$w'").mkString(", ")
    val dropList = nbDropWords.map(w => s"'$w'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
       |  FROM documents WHERE length(trim(text)) > 0),
       |lab AS (
       |  SELECT doc_id,
       |         CASE WHEN SUM(CASE WHEN token IN ($keepList) THEN 1 ELSE 0 END)
       |                   >= SUM(CASE WHEN token IN ($dropList) THEN 1 ELSE 0 END)
       |              THEN 'keep' ELSE 'drop' END AS label
       |  FROM tok WHERE doc_id % $trainMod <> 0 GROUP BY 1),
       |tf0 AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |feat AS (
       |  SELECT doc_id,
       |         CAST(CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % $dim AS INT) AS slot,
       |         CAST(SUM(tf) AS BIGINT) AS x
       |  FROM tf0 GROUP BY 1, 2),
       |trainf AS (SELECT f.doc_id, f.slot, f.x, l.label FROM feat f JOIN lab l USING (doc_id)),
       |sc0 AS (SELECT label, slot, CAST(SUM(x) AS BIGINT) AS n FROM trainf GROUP BY 1, 2),
       |ct AS (SELECT label, CAST(SUM(x) AS BIGINT) AS t FROM trainf GROUP BY 1),
       |cd AS (SELECT label, COUNT(*) AS dc FROM lab GROUP BY 1),
       |dn AS (SELECT COUNT(*) AS dn FROM lab),
       |grid AS (
       |  SELECT label, CAST(slot AS INT) AS slot
       |  FROM (SELECT unnest(['keep', 'drop']) AS label)
       |  CROSS JOIN (SELECT unnest(range(0, $dim)) AS slot)),
       |model AS (
       |  SELECT g.label, g.slot,
       |         CAST(floor(1e6 * ln(CAST(COALESCE(s.n, 0) + 1 AS DOUBLE)
       |                             / CAST(ct.t + $dim AS DOUBLE))) AS BIGINT) AS w
       |  FROM grid g
       |  LEFT JOIN sc0 s ON s.label = g.label AND s.slot = g.slot
       |  JOIN ct ON ct.label = g.label),
       |priors AS (
       |  SELECT cd.label,
       |         CAST(floor(1e6 * ln(CAST(dc AS DOUBLE) / CAST(dn AS DOUBLE))) AS BIGINT) AS prior
       |  FROM cd, dn),
       |held AS (SELECT doc_id FROM documents WHERE doc_id % $trainMod = 0),
       |psum AS (
       |  SELECT f.doc_id, m.label, CAST(SUM(f.x * m.w) AS BIGINT) AS lsum
       |  FROM feat f JOIN model m ON m.slot = f.slot
       |  WHERE f.doc_id % $trainMod = 0
       |  GROUP BY 1, 2),
       |wide AS (
       |  SELECT doc_id,
       |         MAX(CASE WHEN p.label = 'keep' THEN p.lsum + pr.prior END) AS sk,
       |         MAX(CASE WHEN p.label = 'drop' THEN p.lsum + pr.prior END) AS sd
       |  FROM psum p JOIN priors pr ON pr.label = p.label
       |  GROUP BY 1),
       |margins AS (
       |  SELECT h.doc_id,
       |         COALESCE(w.sk, pk.prior) - COALESCE(w.sd, pd.prior) AS margin
       |  FROM held h
       |  LEFT JOIN wide w ON w.doc_id = h.doc_id
       |  CROSS JOIN (SELECT prior FROM priors WHERE label = 'keep') pk(prior)
       |  CROSS JOIN (SELECT prior FROM priors WHERE label = 'drop') pd(prior)),
       |truth AS (
       |  SELECT h.doc_id,
       |         CASE WHEN COALESCE(t.np, 0) >= COALESCE(t.nn, 0) THEN 1 ELSE 0 END AS isk
       |  FROM held h
       |  LEFT JOIN (
       |    SELECT doc_id,
       |           SUM(CASE WHEN token IN ($keepList) THEN 1 ELSE 0 END) AS np,
       |           SUM(CASE WHEN token IN ($dropList) THEN 1 ELSE 0 END) AS nn
       |    FROM tok GROUP BY 1) t ON t.doc_id = h.doc_id),
       |m AS (
       |  SELECT margin, CAST(SUM(t.isk) AS BIGINT) AS nk,
       |         CAST(SUM(1 - t.isk) AS BIGINT) AS nd
       |  FROM margins g JOIN truth t USING (doc_id) GROUP BY 1),
       |tot AS (SELECT SUM(nk) AS totk, SUM(nd) AS totd FROM m)
       |SELECT m.margin AS thr,
       |       CAST(SUM(m.nk) OVER (ORDER BY m.margin DESC) AS BIGINT) AS tp,
       |       CAST(SUM(m.nd) OVER (ORDER BY m.margin DESC) AS BIGINT) AS fp,
       |       CAST(tot.totk - SUM(m.nk) OVER (ORDER BY m.margin DESC) AS BIGINT) AS fn,
       |       CAST(tot.totd - SUM(m.nd) OVER (ORDER BY m.margin DESC) AS BIGINT) AS tn
       |FROM m, tot""".stripMargin
  }

  /** C18 `vocab_build` — tokenizer vocabulary candidates: corpus-wide
    * token frequencies with rank and cumulative coverage, truncated to
    * the top `topN`. The coverage curve (what fraction of all token
    * occurrences the first r vocabulary entries explain) is the
    * standard vocab-size/OOV trade-off plot.
    *
    * Scale: counting is a two-phase hash agg over the corpus — the
    * heavy, fully-distributed part. The rank/coverage pass must NOT be
    * a global ordered window (at lake scale the distinct-token table is
    * billions of rows — URLs, typos, code — and one executor would sort
    * it all), so it is a BANDED two-pass rank: tokens band by
    * ⌊log₂ n_occ⌋ (computed exactly in integer arithmetic via the
    * binary-string length, so band is monotone in n_occ and every tied
    * count lands in one band), a ≤64-row per-band aggregate yields
    * rank/occurrence offsets through a tiny broadcast self-join (no
    * ordered window anywhere), and row_number/cumsum run per band —
    * `Window.partitionBy(band)`, parallel across bands. Bands whose
    * rank offset already exceeds `topN` never enter the window, so the
    * windowed rows are only the bands overlapping the top-N prefix
    * (under a Zipfian vocabulary, a handful of high-count bands; the
    * degenerate all-counts-equal corpus collapses to one band, which a
    * production build would further pre-filter with an approximate
    * count threshold). Global rank = band offset + within-band rank —
    * exact, because bands partition the (n_occ desc, token) order.
    * Ties rank deterministically by token. */
  def vocabBuild(spark: SparkSession, dir: String, topN: Int = 500): DataFrame = {
    import spark.implicits._
    // the counted vocabulary IS the session word-frequency table
    // (same tokenizer, tf summed over docs — exact integers; r17 opt)
    rankedVocab(bpeWordCountsFor(spark, dir)
      .select($"w".as("token"), $"n_occ"), topN)
  }

  /** The banded rank/coverage core shared by C18 and C25: takes any
    * (token, n_occ) frequency table and emits the top-N with exact
    * global rank and cumulative coverage, without a global ordered
    * window (see [[vocabBuild]]'s Scaladoc for the banding argument). */
  private def rankedVocab(counted: DataFrame, topN: Int): DataFrame = {
    import counted.sparkSession.implicits._
    // eager (materialization contract): counts feeds the band aggregate
    // AND the ranked main path — lazy, both consumers re-run the corpus
    // tokenization+agg. At cluster scale this is the "materialize the
    // vocabulary" step; ≪ corpus.
    val counts = counted
      .withColumn("band", (length(bin($"n_occ")) - 1).cast("int"))
      .localCheckpoint()
    // ≤64 rows no matter the vocabulary size; eager because three tiny
    // consumers (offset self-join sides + total) would each re-shuffle
    // the full vocab otherwise
    val bandAgg = counts.groupBy($"band")
      .agg(count(lit(1)).as("band_cnt"), sum($"n_occ").as("band_occ"))
      .localCheckpoint()
    // offsets = totals over STRICTLY HIGHER bands (higher band = higher
    // n_occ = earlier in desc rank order); 64×64 broadcast inequality
    // join, replacing the global ordered window
    val higher = bandAgg.select($"band".as("hb"), $"band_cnt".as("hc"), $"band_occ".as("ho"))
    val offsets = bandAgg.join(broadcast(higher), $"hb" > $"band", "left")
      .groupBy($"band")
      .agg(coalesce(sum($"hc"), lit(0L)).as("rank_off"),
        coalesce(sum($"ho"), lit(0L)).as("occ_off"))
    val total = bandAgg.agg(sum($"band_occ").as("total_occ"))
    val w = Window.partitionBy($"band").orderBy($"n_occ".desc, $"token")
    counts
      .join(broadcast(offsets), Seq("band"))
      .filter($"rank_off" < topN)
      .crossJoin(broadcast(total))
      .withColumn("rn", row_number().over(w))
      .withColumn("cum_in_band",
        sum($"n_occ").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter($"rn" <= topN) // implied by rank<=topN (rank_off ≥ 0); prunes early
      .withColumn("rank", ($"rank_off" + $"rn").cast("int"))
      .withColumn("cum_cov",
        round(($"occ_off" + $"cum_in_band").cast("double") / $"total_occ".cast("double"), 8))
      .filter($"rank" <= topN)
      .select($"token", $"n_occ", $"rank", $"cum_cov")
  }

  /** Extension `bpe_pair_counts` (C25) — the merge-candidate table BPE
    * tokenizer training starts from: corpus-wide adjacent character
    * pairs WITHIN words (the iteration-0 pair statistics whose argmax
    * is the first merge), ranked with cumulative coverage through the
    * same banded core as C18 — a second vocabulary-scale ranking that
    * never globally sorts. Together with C18 (word vocabulary) and C10
    * (token counting) this covers the tokenizer-side data work a
    * training pipeline runs; full iterative BPE mutates the token
    * stream per merge and belongs in a driver loop over this table. */
  def bpePairCounts(spark: SparkSession, dir: String, topN: Int = 200): DataFrame = {
    import spark.implicits._
    // pair counts as n_occ-weighted sums over the session word-
    // frequency table — the same integers the per-occurrence stream
    // counts, at vocabulary-sized cost (r17 opt)
    val counted = bpeWordCountsFor(spark, dir)
      .filter(length($"w") >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("token"),
        $"n_occ")
      .groupBy($"token").agg(sum($"n_occ").as("n_occ"))
    rankedVocab(counted, topN).withColumnRenamed("token", "pair")
  }

  /** Extension `bpe_train_merges` (C25b) — ACTUAL BPE training, the
    * first `rounds` merges: per round, argmax the adjacent-pair counts
    * (ties by pair string), then rewrite the word stream with the
    * merged symbol (a sentinel char below the corpus alphabet) and
    * recount. `replace` is non-overlapping left-to-right in both
    * engines, so the rewritten streams — and therefore every
    * subsequent count — agree exactly; output is the merge TABLE
    * (round, merged pair, count), the artifact a tokenizer trainer
    * persists. Fully hash-gated against `rounds` unrolled CTEs.
    *
    * Scale: each round is one two-phase hash agg over the (rewritten)
    * word stream + a TakeOrdered(1) argmax (per-partition top-1, tiny
    * merge) + a broadcast of the 1-row merge into a per-row rewrite —
    * the loop is driver-side but BOUNDED (like C14d's five pagerank
    * rounds); no round materializes anything corpus-sized.
    *
    * Production posture: this gated 3-round loop is the MECHANISM demo
    * (argmax → broadcast rewrite → recount). A production tokenizer
    * (30k merges) runs the same loop off a SAMPLED sub-corpus — pair
    * statistics converge at millions of words, so training never
    * streams the full 100 TB corpus per merge; only the final APPLY of
    * the learned merge table is a full-corpus pass (and that is a
    * stateless per-row map). */
  def bpeTrainMerges(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame =
    bpeMergesFor(spark, dir, rounds)

  /** The trained merge table, memoized per (session, dir, rounds) —
    * the train-once-apply-many economics C25b's scaladoc promises:
    * `bpe_train_merges`, `bpe_encode` and `tokenizer_fertility` all
    * consume the SAME ≤26-row artifact, so one training pays (MemoLog
    * attributes the build to whichever entry ran first) and the apply
    * passes reuse it instead of re-running the 16-round argmax loop
    * over the corpus per entry (r16 opt: 3 trainings → 1, ~290 CPU-s
    * at sf0.1). */
  private[graft] def bpeMergesFor(spark: SparkSession, dir: String,
                                  rounds: Int): DataFrame =
    NearDup.Shared.memo(spark, s"bpeMerges:$dir:$rounds") {
      bpeMergesOfCounts(bpeWordCountsFor(spark, dir), rounds).localCheckpoint()
    }

  /** Extension `bpe_encode` (C25c) — APPLY the trained merge table:
    * the full-corpus pass C25b's Scaladoc promises. Training collects
    * the ≤`rounds`-row merge table to the driver (bounded index
    * metadata, like the IVF router); encoding is then a STATELESS
    * per-row map — each word rewritten through the merges in round
    * order (`replace` is non-overlapping left-to-right in both
    * engines), exploded into symbols, counted. This is the shape that
    * scales: the 100 TB corpus sees one scan + one symbol hash-agg,
    * with zero joins (the merge table is baked into the expression as
    * literals, the codegen'd form of a broadcast).
    *
    * Output is the post-merge symbol VOCABULARY (sym_code, token,
    * n_occ): sentinel symbols expand back to their merged string via
    * reverse-round substitution (chr(3)→m₃ … chr(1)→m₁ — later merges
    * may contain earlier sentinels, so the reverse order fully
    * expands); `sym_code` keys the row uniquely even if two distinct
    * merge paths expanded to equal text. Fully hash-gated: the oracle
    * unrolls the same training CTEs as C25b and re-applies them. */
  def bpeEncode(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame =
    bpeEncodeOfCounts(bpeWordCountsFor(spark, dir), rounds,
      Some(bpeMergesFor(spark, dir, rounds)))

  /** Frame-based core of C25c (words = one column `w`).
    *
    * `rounds` is capped at 8: merge sentinel r is chr(r), and from
    * chr(9) on the sentinels collide with tab/newline/space — which
    * the whitespace tokenizer (and the oracle's `string_split_regex`)
    * would mangle, corrupting the encode/expand round-trip. */
  private[graft] def bpeEncodeOf(words: DataFrame, rounds: Int,
                                 merges: Option[DataFrame] = None): DataFrame = {
    import words.sparkSession.implicits._
    bpeEncodeOfCounts(words.groupBy($"w").agg(count(lit(1)).as("n_occ")),
      rounds, merges)
  }

  /** Word-frequency-table core of C25c: the encode rewrite is per
    * distinct word and the symbol counts are n_occ-weighted integer
    * sums — identical output to streaming every word occurrence, at
    * vocabulary-sized cost (r17 opt, same argument as
    * [[bpeMergesOfCounts]]). */
  private[graft] def bpeEncodeOfCounts(wc: DataFrame, rounds: Int,
                                       merges: Option[DataFrame] = None): DataFrame = {
    require(rounds >= 1 && rounds <= 26,
      s"bpe_encode rounds must be in [1, 26] (bpeSentinel's control-char " +
        s"range minus the whitespace block); got $rounds")
    import wc.sparkSession.implicits._
    val mseq = merges.getOrElse(bpeMergesOfCounts(wc, rounds))
      .orderBy($"round").collect().map(r => (r.getInt(0), r.getString(1)))
    val encoded = mseq.foldLeft($"w": Column) { case (c, (r, m)) =>
      replace(c, lit(m), lit(bpeSentinel(r).toChar.toString))
    }
    val expanded = mseq.sortBy(-_._1).foldLeft($"sym": Column) { case (c, (r, m)) =>
      replace(c, lit(bpeSentinel(r).toChar.toString), lit(m))
    }
    wc.select(explode(split(encoded, "")).as("sym"), $"n_occ")
      .filter(length($"sym") > 0)
      .groupBy($"sym").agg(sum($"n_occ").as("n_occ"))
      .select(ascii($"sym").as("sym_code"), expanded.as("token"), $"n_occ")
  }

  /** The C25b training pipeline as a CTE prefix (w0 = the word
    * stream, cN/mN/wN = each round's counts, argmax merge and
    * rewritten stream) — shared by the encode oracle and the
    * fertility oracle, which both re-apply the learned merges. */
  /** The unrolled training CTEs. MATERIALIZED is load-bearing: each
    * w_r is referenced by BOTH c_{r+1} and w_{r+1}, so a plain CTE
    * chain inlines 2^rounds copies of the corpus scan — measured 1 s
    * at 6 rounds, 5.7 s at 8, hopeless at 16; materialized, 16 rounds
    * run in 1 s. */
  private def bpeTrainCtesSql(rounds: Int): String = {
    val w0 =
      """w0 AS MATERIALIZED (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents WHERE length(trim(text)) > 0)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""c$r AS MATERIALIZED (
         |  SELECT pair, COUNT(*) AS n_occ FROM (
         |    SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair
         |    FROM w${r - 1} WHERE length(w) >= 2)
         |  GROUP BY 1),
         |m$r AS MATERIALIZED (SELECT pair, n_occ FROM c$r ORDER BY n_occ DESC, pair LIMIT 1),
         |w$r AS MATERIALIZED (SELECT replace(w, (SELECT pair FROM m$r), chr(${bpeSentinel(r)})) AS w FROM w${r - 1})"""
        .stripMargin
    }
    s"$w0,\n${steps.mkString(",\n")}"
  }

  def bpeEncodeSql(rounds: Int = 3): String = {
    require(rounds >= 1 && rounds <= 26,
      s"bpe_encode rounds must be in [1, 26] (same sentinel bound as bpeEncodeOf); got $rounds")
    val expand = (1 to rounds).reverse.foldLeft("sym") { (acc, r) =>
      s"replace($acc, chr(${bpeSentinel(r)}), (SELECT pair FROM m$r))"
    }
    s"""WITH ${bpeTrainCtesSql(rounds)},
       |syms AS (
       |  SELECT unnest(list_transform(range(1, length(w) + 1), i -> substr(w, i, 1))) AS sym
       |  FROM w$rounds),
       |counts AS (SELECT sym, COUNT(*) AS n_occ FROM syms GROUP BY 1)
       |SELECT CAST(ascii(sym) AS INT) AS sym_code, $expand AS token, n_occ
       |FROM counts""".stripMargin
  }

  /** C25d `tokenizer_fertility` — the per-language FERTILITY report of
    * the trained tokenizer (symbols per word, chars per symbol): the
    * standard multilingual-tokenizer diagnostic — a language whose
    * fertility is far above the corpus mean is being over-segmented
    * by the learned merges (its bytes cost more training compute), the
    * signal that drives vocab re-allocation in multilingual pipelines.
    * Composes C25b's learned merge table (driver-collected, ≤ rounds
    * rows, baked into the rewrite expression as literals — the
    * codegen'd form of a broadcast) with one stateless per-word encode
    * pass + one per-lang hash agg.
    *
    * ENGINE-EXACT: counts are integers; the two ratios are integer
    * micro-units via integer division ((n·10⁶) div d — no IEEE
    * anywhere), so the gate hash-compares the whole report. */
  def tokenizerFertility(spark: SparkSession, dir: String,
                         rounds: Int = 3): DataFrame =
    tokenizerFertilityOf(Tables.fanout(Tables.documents(spark, dir)
      .select(col("lang"), col("text"))), rounds,
      Some(bpeMergesFor(spark, dir, rounds)))

  /** Frame-based core of C25d (docs = (lang, text)). */
  private[graft] def tokenizerFertilityOf(docs: DataFrame,
                                          rounds: Int = 3,
                                          merges: Option[DataFrame] = None): DataFrame = {
    require(rounds >= 1 && rounds <= 26,
      s"tokenizer_fertility rounds must be in [1, 26] (bpe_encode's sentinel bound); got $rounds")
    import docs.sparkSession.implicits._
    val mseq = merges.getOrElse(
        bpeMergesOf(docs.select(explode(toks($"text")).as("w")), rounds))
      .orderBy($"round").collect().map(r => (r.getInt(0), r.getString(1)))
    val encoded = mseq.foldLeft($"w": Column) { case (c, (r, m)) =>
      replace(c, lit(m), lit(bpeSentinel(r).toChar.toString))
    }
    // aggregate the (lang, word) stream to counts FIRST so the merge-
    // rewrite expression evaluates once per distinct (lang, word), and
    // every per-lang total is an exact n-weighted integer sum of what
    // the raw stream summed per occurrence (r17 opt)
    docs.select($"lang", explode(toks($"text")).as("w"))
      .groupBy($"lang", $"w").agg(count(lit(1)).as("n"))
      .select($"lang", $"n",
        (length($"w").cast("long") * $"n").as("wc"),
        (length(encoded).cast("long") * $"n").as("sc"))
      .groupBy($"lang")
      .agg(sum($"n").as("n_words"), sum($"wc").as("word_chars"),
        sum($"sc").as("n_symbols"))
      .withColumn("symbols_per_word_micros",
        expr("(n_symbols * 1000000) div n_words"))
      .withColumn("chars_per_symbol_micros",
        expr("(word_chars * 1000000) div n_symbols"))
  }

  /** C25d oracle: the same training CTEs re-applied per (lang, word),
    * integer-division micro-unit ratios. */
  def tokenizerFertilitySql(rounds: Int = 3): String = {
    require(rounds >= 1 && rounds <= 26,
      s"tokenizer_fertility rounds must be in [1, 26]; got $rounds")
    val enc = (1 to rounds).foldLeft("w") { (acc, r) =>
      s"replace($acc, (SELECT pair FROM m$r), chr(${bpeSentinel(r)}))"
    }
    s"""WITH ${bpeTrainCtesSql(rounds)},
       |docw AS (
       |  SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS w
       |  FROM documents WHERE length(trim(text)) > 0),
       |enc AS (
       |  SELECT lang, CAST(length(w) AS BIGINT) AS wc,
       |         CAST(length($enc) AS BIGINT) AS sc
       |  FROM docw),
       |agg AS (
       |  SELECT lang, COUNT(*) AS n_words,
       |         CAST(SUM(wc) AS BIGINT) AS word_chars,
       |         CAST(SUM(sc) AS BIGINT) AS n_symbols
       |  FROM enc GROUP BY 1)
       |SELECT lang, n_words, word_chars, n_symbols,
       |       (n_symbols * 1000000) // n_words AS symbols_per_word_micros,
       |       (word_chars * 1000000) // n_symbols AS chars_per_symbol_micros
       |FROM agg""".stripMargin
  }

  /** Frame-based core of C25b (words = one column `w`) — lets the spec
    * pin the merge sequence on a crafted corpus. */
  /** Merge-round sentinel code point: the C0 control range, SKIPPING
    * the whitespace block chr(9..13) — a tab/newline sentinel would be
    * mangled by the whitespace tokenizer and the oracle's
    * string_split_regex on the encode round-trip (the old reason the
    * encode path capped at 8 rounds). Rounds 1-8 keep their historic
    * codes; 9+ shift past the gap — max round 26 lands on chr(31). */
  private[graft] def bpeSentinel(r: Int): Int = if (r <= 8) r else r + 5

  private[graft] def bpeMergesOf(wordsIn: DataFrame, rounds: Int): DataFrame = {
    import wordsIn.sparkSession.implicits._
    bpeMergesOfCounts(
      wordsIn.groupBy($"w").agg(count(lit(1)).as("n_occ")), rounds)
  }

  /** The training loop over the WORD-FREQUENCY table (w, n_occ)
    * instead of the word stream (r17 opt): every pair count is the
    * n_occ-weighted sum over distinct words — the same multiset of
    * adjacent pairs the per-occurrence stream yields, as exact
    * integers — and the per-round rewrite maps the vocabulary-sized
    * table, so each of the `rounds` passes costs vocab-sized work
    * where the stream form re-tokenized and re-replayed the corpus per
    * round (the r15 "don't materialize the stream" adjudication stands
    * — the fix is to never stream per round at all, not to checkpoint
    * the stream). Argmax and tie-break (n_occ desc, pair) see
    * identical values, so the learned merge sequence is bit-identical. */
  private[graft] def bpeMergesOfCounts(countsIn: DataFrame, rounds: Int): DataFrame = {
    val spark = countsIn.sparkSession
    import spark.implicits._
    // sentinels are the C0 control range minus whitespace (see
    // bpeSentinel); past 26 the shifted code would leave the control
    // range and collide with printable characters — refuse.
    require(rounds >= 1 && rounds <= 26,
      s"rounds must be in [1, 26] (control-char sentinels minus the whitespace block), got $rounds")
    var words = countsIn
    val out = Seq.newBuilder[(Int, String, Long)]
    var exhausted = false
    for (r <- 1 to rounds if !exhausted) {
      // the 1-row argmax is COLLECTED (bounded driver metadata — the
      // encode path collects the full merge table anyway) and the
      // merged pair baked into the next rewrite as a literal: one
      // driver job per round, where the checkpoint/isEmpty/broadcast
      // form ran ~4 — at vocab-table scale those per-round driver jobs
      // ARE the loop's cost (guide §2.6). An empty argmax means no
      // mergeable pair is left: stop and emit only the merged rounds.
      val best = words.filter(length($"w") >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"),
          $"n_occ")
        .groupBy($"pair").agg(sum($"n_occ").as("n_occ"))
        .orderBy($"n_occ".desc, $"pair").limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (pair, n) = (best(0).getString(0), best(0).getLong(1))
        out += ((r, pair, n))
        words = words.select(
          replace($"w", lit(pair), lit(bpeSentinel(r).toChar.toString)).as("w"),
          $"n_occ")
      }
    }
    out.result().toDF("round", "merged", "n_occ")
  }

  def bpeTrainMergesSql(rounds: Int = 3): String = {
    val sel = (1 to rounds).map(r =>
      s"SELECT CAST($r AS INT) AS round, pair AS merged, CAST(n_occ AS BIGINT) AS n_occ FROM m$r")
      .mkString("\nUNION ALL\n")
    s"WITH ${bpeTrainCtesSql(rounds)}\n$sel"
  }

  def bpePairCountsSql(topN: Int = 200): String =
    s"""WITH words AS (
       |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
       |  FROM documents WHERE length(trim(text)) > 0),
       |pairs AS (
       |  SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair
       |  FROM words WHERE length(w) >= 2),
       |vocab AS (SELECT pair, COUNT(*) AS n_occ FROM pairs GROUP BY 1)
       |SELECT pair, n_occ,
       |       CAST(row_number() OVER (ORDER BY n_occ DESC, pair) AS INT) AS rank,
       |       round(CAST(SUM(n_occ) OVER (ORDER BY n_occ DESC, pair
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |             / CAST(SUM(n_occ) OVER () AS DOUBLE), 8) AS cum_cov
       |FROM vocab
       |QUALIFY rank <= $topN""".stripMargin

  /** C19 `tfidf_terms` — top-k TF-IDF terms per document: tf from a
    * per-(doc, token) count, df from a per-token distinct-doc count
    * joined back SIZE-AWARE: no broadcast hint, so AQE broadcasts the
    * vocabulary when its runtime size allows and falls back to a
    * (token)-keyed shuffle join when it doesn't — a forced broadcast
    * would OOM the driver once the vocabulary outgrows memory (billions
    * of distinct tokens at lake scale), while the shuffle join only
    * ever moves (token, df) rows. Smooth idf
    * `ln((N+1)/(df+1)) + 1`. The weight is QUANTIZED to 6 decimals
    * before ranking: both engines rank the same rounded value (ties
    * break by token), so a cross-engine libm ulp difference in ln()
    * can only flip a rank when the true weight sits within ~1 ulp of
    * a rounding boundary — measure-zero, the same exposure as every
    * other rounded-double column in the gate. Two hash aggs + one
    * broadcast join; nothing wider than (doc, token) ever shuffles. */
  def tfidfTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    // corpus size as a broadcast 1-row aggregate: stays a lazy plan
    // (no count() action at construction time)
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    // the per-(doc, token) counts ARE the session unigramTf memo
    // (same fanout + tokenizer + agg — one corpus tokenize per
    // session, r17 opt); it arrives checkpointed, which the df
    // aggregate + join probe fan-out requires anyway
    val tf = unigramTfFor(spark, dir)
    val df = tf.groupBy($"token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"token")
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round($"tf" * (log(($"n_docs" + 1.0) / ($"df" + 1.0)) + 1.0), 6))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .select($"doc_id", $"token", $"tf", $"df", $"rk", $"tfidf")
  }

  def tfidfTermsSql(k: Int = 3): String =
    s"""WITH tf AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
       |  FROM documents WHERE length(trim(text)) > 0),
       |tfc AS (SELECT doc_id, token, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
       |dfc AS (SELECT token, COUNT(*) AS df FROM tfc GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |weighted AS (
       |  SELECT tfc.doc_id, tfc.token, tfc.tf, dfc.df,
       |         round(tfc.tf * (ln((n.n_docs + 1.0) / (dfc.df + 1.0)) + 1.0), 6) AS tfidf
       |  FROM tfc JOIN dfc USING (token), n)
       |SELECT doc_id, token, tf, df, CAST(rk AS INT) AS rk, tfidf
       |FROM (
       |  SELECT *, row_number() OVER (
       |           PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rk
       |  FROM weighted)
       |WHERE rk <= $k""".stripMargin

  /** Extension `sparse_tfidf_pairs` (C19b) — SPARSE lexical retrieval:
    * pairwise tf·idf cosine over the corpus via an inverted-index
    * posting join — the lexical (BM25-family) counterpart of the
    * dense C5/C6 embedding similarity, and the "mine near-pairs by
    * words" step of a curation pipeline.
    *
    * Engine-exact by construction: weights are INTEGER
    * w = min(tf, 100) · min((N·100) div df, 100000) — floor division
    * and caps (capped tf is standard lexical practice; the idf cap
    * keeps granularity for common terms while bounding the weight),
    * sized so every Σw² and pair dot stays ≤ ~10¹⁷, inside Long.
    * Pair dots and norms² are exact integer hash aggregates; the one
    * float operation — cosine ≥ t ⇔ dot ≥ t·√n1²·√n2² — evaluates
    * once per candidate on identical doubles in both engines. Emitted
    * (id1, id2, dot): fully hash-gated, no float in the output.
    *
    * The term space is word 3-grams (C4's feature space, WITHOUT the
    * distinct so tf is real): the generator vocabulary is ~31 words,
    * so unigram df ≈ corpus size and no unigram discriminates — the
    * same reason production sparse retrieval over boilerplate-heavy
    * corpora moves to shingled/phrase features. Σ df² stays bounded by
    * the cap exactly as in C4.
    *
    * Scale: exactly C4's inverted-index shape — df-capped postings
    * (boilerplate terms contribute no pairs; Σ df² ≤ dfCap·|postings|,
    * linear in the corpus), map-side partial agg on (id1, id2), the
    * shuffle carries ids and weights only. */
  def sparseTfidfPairs(spark: SparkSession, dir: String,
                       threshold: Double = 0.5, dfCap: Int = 100): DataFrame = {
    import spark.implicits._
    val docs = graft.operators.NearDup.corpus(spark, dir)
    val n = docs.agg(count(lit(1)).as("n_corpus"))
    // eager (materialization contract): tf feeds the df aggregate AND
    // the weight build
    val tf = docs
      .withColumn("t", toks($"text"))
      .filter(size($"t") >= 3)
      .select($"doc_id", explode(expr(
        """transform(sequence(0, size(t) - 3),
          |  i -> concat_ws(' ', t[i], t[i+1], t[i+2]))""".stripMargin)).as("token"))
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy($"token").agg(count(lit(1)).as("df"))
      .filter($"df" <= dfCap)
    // eager: the weight table feeds the norms aggregate AND both
    // posting join sides
    val wtab = tf.join(df, Seq("token")).crossJoin(broadcast(n))
      .select($"doc_id", $"token",
        (least($"tf", lit(100L)) *
          least(expr("(n_corpus * 100) div df"), lit(100000L))).as("w"))
      .localCheckpoint()
    val norms = wtab.groupBy($"doc_id").agg(sum($"w" * $"w").as("n2"))
    val a = wtab.select($"token", $"doc_id".as("id1"), $"w".as("w1"))
    val b = wtab.select($"token", $"doc_id".as("id2"), $"w".as("w2"))
    val dots = a.join(b, Seq("token")).filter($"id1" < $"id2")
      .groupBy($"id1", $"id2").agg(sum($"w1" * $"w2").as("dot"))
    dots
      .join(norms.select($"doc_id".as("id1"), $"n2".as("n21")), Seq("id1"))
      .join(norms.select($"doc_id".as("id2"), $"n2".as("n22")), Seq("id2"))
      .filter($"dot".cast("double") >=
        lit(threshold) * sqrt($"n21".cast("double")) * sqrt($"n22".cast("double")))
      .select($"id1", $"id2", $"dot")
  }

  def sparseTfidfPairsSql(threshold: Double = 0.5, dfCap: Int = 100): String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
       |tok AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM corpus
       |  WHERE length(trim(text)) > 0),
       |tf AS (
       |  SELECT doc_id, token, COUNT(*) AS tf FROM (
       |    SELECT doc_id, unnest(list_transform(range(0, len(l) - 2),
       |             i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])) AS token
       |    FROM tok WHERE len(l) >= 3)
       |  GROUP BY 1, 2),
       |dfc AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1 HAVING COUNT(*) <= $dfCap),
       |n AS (SELECT COUNT(*) AS n_corpus FROM corpus),
       |wt AS (
       |  SELECT tf.doc_id, tf.token,
       |         LEAST(tf.tf, 100) * LEAST((n.n_corpus * 100) // dfc.df, 100000) AS w
       |  FROM tf JOIN dfc USING (token), n),
       |norms AS (SELECT doc_id, SUM(w * w) AS n2 FROM wt GROUP BY 1),
       |dots AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, SUM(a.w * b.w) AS dot
       |  FROM wt a JOIN wt b USING (token)
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT id1, id2, CAST(dot AS BIGINT) AS dot
       |FROM dots
       |JOIN (SELECT doc_id AS id1, n2 AS n21 FROM norms) USING (id1)
       |JOIN (SELECT doc_id AS id2, n2 AS n22 FROM norms) USING (id2)
       |WHERE CAST(dot AS DOUBLE) >=
       |      $threshold * sqrt(CAST(n21 AS DOUBLE)) * sqrt(CAST(n22 AS DOUBLE))""".stripMargin

  /** Extension `bm25_retrieve` (C23) — BM25 top-k retrieval over the
    * corpus: a deterministic query panel (every `qMod`-th document,
    * query terms = its word 3-grams) ranks all documents by summed
    * BM25 term impacts — the retrieval surface behind the reference's
    * promised "related notes" recommendation (README.md:52-57,
    * create_table.sql keywords/topic columns) and the lexical-search
    * half of a curation stack (C19b mines pairs; this answers
    * queries).
    *
    * ENGINE-EXACT BM25 (rank- AND score-gateable): k1 = 6/5 and
    * b = 3/4 as exact rationals, the average doc length folded into
    * one integer `am = (1000·Σdl) div N` (avgdl in token-millis), and
    * the per-term impact evaluated wholly in Long floor arithmetic:
    *
    *   impact = idf · (44·am·tf) div (20·am·tf + 6·am + 18000·dl)
    *
    * which is floor( idf · (k1+1)·tf / (tf + k1·(1−b+b·dl/(am/1000)))
    * ) exactly — multiply the classic form through by 20·am. idf is
    * C19b's capped integer family least((N·100) div df, 100000)
    * (log-idf is float; the capped rational keeps the same ordering on
    * this corpus and gates exactly). Every magnitude is bounded by am
    * (≈ 1000·avgdl, corpus-size-INDEPENDENT — a 100 TB corpus changes
    * N and T but not their ratio): idf ≤ 10⁵, ratio < 2.2·am·tf, so
    * impacts stay ≤ ~10¹³ and per-query sums well inside Long.
    *
    * Scale: postings build = two hash aggs over (doc, token) (C19b's
    * inverted-index shape, df-capped so boilerplate terms drop out);
    * the query panel is tiny relative to the corpus and BROADCASTS to
    * the postings scan — per-query partial sums combine map-side, and
    * the final top-k window partitions by query_id (parallel across
    * queries; candidates per query are bounded by the df cap ×
    * |query terms|). Nothing corpus-sized ever shuffles wider than
    * (doc_id, token, impact). */
  def bm25Retrieve(spark: SparkSession, dir: String, k: Int = 10,
                   dfCap: Int = 100, qMod: Int = 20): DataFrame =
    bm25OfTf(tfTableFor(spark, dir), k, dfCap, qMod)

  /** The corpus tf table, memoized per (session, shuffle setting,
    * dir) — four registry entries consume it (C23 retrieval, C23b
    * index build, E11 stream posts, C27's lexical side); one
    * tokenize pass per process instead of four. Already
    * checkpointed, so every consumer starts from the materialized
    * rows (the NearDup.Shared contract). */
  /** Degenerate-corpus probe for the serve entries' early-return
    * guards: true iff no document reaches [[bm25TfTable]]'s 3-token
    * shingle floor — exactly when the tf table is empty (its filter
    * is `size(toks) >= 3`), as a LIMIT-1 scan of the docs frame
    * rather than a materialization of the memoized tf table (r14
    * verdict's note). NOT the weaker "no non-empty text" check: a
    * corpus of 1-2-token docs has text but no shingles, and serving
    * it would write a postings store with zero partitions and crash
    * the read-back on schema inference (r15 review's catch,
    * spec-pinned in Bm25Spec). */
  private[graft] def corpusTokenFree(spark: SparkSession, dir: String): Boolean =
    Tables.documents(spark, dir)
      .filter(size(toks(col("text"))) >= 3).isEmpty

  private[graft] def tfTableFor(spark: SparkSession, dir: String): DataFrame =
    NearDup.Shared.memo(spark, s"bm25Tf:$dir") {
      bm25TfTable(Tables.fanout(
        Tables.documents(spark, dir).select(col("doc_id"), col("text"))))
        .localCheckpoint()
    }

  /** Frame-based core of `bm25_retrieve` (docs = (doc_id, text)) —
    * lets the spec pin ranking behavior on crafted corpora. */
  def bm25Of(docs: DataFrame, k: Int = 10, dfCap: Int = 100, qMod: Int = 20): DataFrame =
    bm25OfTf(bm25TfTable(docs).localCheckpoint(), k, dfCap, qMod)

  /** tf-table-based core: the plan below the (memoizable) tokenize. */
  private def bm25OfTf(tf: DataFrame, k: Int, dfCap: Int, qMod: Int): DataFrame = {
    import tf.sparkSession.implicits._
    // eager (materialization contract): tf feeds the df aggregate, the
    // postings build, AND the query-panel side — callers pass it
    // checkpointed
    val stats = tf.groupBy($"doc_id").agg(first($"dl").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum($"dl").as("t_tok"))
      .select($"n_docs", expr("(1000 * t_tok) div n_docs").as("am"))
    val dfc = tf.groupBy($"token").agg(count(lit(1)).as("df")).filter($"df" <= dfCap)
    val post = tf.join(dfc, Seq("token"))
      .crossJoin(broadcast(stats))
      .select($"doc_id", $"token", expr(bm25ImpactExpr).as("impact"))
    // query panel: terms of every qMod-th doc, weight 1 per distinct
    // term (short-query convention); capped terms drop out via the
    // posting join itself (post only carries df ≤ dfCap tokens)
    val q = tf.filter($"doc_id" % qMod === 0)
      .select($"doc_id".as("query_id"), $"token")
    bm25TopK(post, q, k)
  }

  /** C42 `hard_negatives` — retrieval-training NEGATIVE mining, the
    * standard recipe (DPR/ANCE posture): a trainable hard negative is
    * a document that SCORES high for the query but is NOT a true
    * match. Candidates = C23's BM25 top-k per panel query; positives
    * to exclude = the query itself and every member of the query's
    * near-dup cluster (C14 over the same corpus — a near-duplicate
    * of the query ranked as a "negative" would poison the loss with
    * a false negative, the classic mining bug). Survivors re-rank
    * densely per query (score desc, doc_id) — a query may yield
    * fewer than k negatives (mine-from-top-k-then-filter; no
    * backfill from below k, matching the published recipe).
    *
    * Scale: C23's retrieval plan + one cluster-membership table
    * joined TWICE (query side and candidate side) — membership is
    * cluster-member-cardinality (only docs in near-dup pairs appear,
    * C14b's convention), so AQE broadcasts it; the re-rank window
    * partitions by query over ≤ k rows each. */
  def hardNegatives(spark: SparkSession, dir: String, k: Int = 10,
                    dfCap: Int = 100, qMod: Int = 20,
                    threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    val cand = bm25Retrieve(spark, dir, k, dfCap, qMod)
    val cl = NearDup.dedupCluster(spark, dir, threshold)
      .select($"doc_id", $"cluster_id")
    val cq = cl.select($"doc_id".as("query_id"), $"cluster_id".as("qc"))
    val cd = cl.select($"doc_id", $"cluster_id".as("dc"))
    val w = Window.partitionBy($"query_id").orderBy($"score".desc, $"doc_id")
    cand.join(cq, Seq("query_id"), "left")
      .join(cd, Seq("doc_id"), "left")
      .filter($"doc_id" =!= $"query_id")
      .filter($"qc".isNull || $"dc".isNull || $"qc" =!= $"dc")
      .withColumn("neg_rank", row_number().over(w))
      .select($"query_id", $"doc_id", $"neg_rank", $"score")
  }

  /** C42 oracle — the C23 and C14 oracles composed (both nested as
    * parenthesized WITH subqueries; LEFT joins keep the stream-driven
    * order, the r16 DuckDB join-order lesson). */
  def hardNegativesSql(k: Int = 10, dfCap: Int = 100, qMod: Int = 20,
                       threshold: Double = 0.5): String =
    s"""WITH cand AS (${bm25RetrieveSql(k, dfCap, qMod)}),
       |cl AS (${NearDup.dedupClusterSql(threshold)})
       |SELECT query_id, doc_id, CAST(rn AS INT) AS neg_rank, score FROM (
       |  SELECT c.query_id, c.doc_id, c.score,
       |         row_number() OVER (PARTITION BY c.query_id
       |           ORDER BY c.score DESC, c.doc_id) AS rn
       |  FROM cand c
       |  LEFT JOIN cl cq ON cq.doc_id = c.query_id
       |  LEFT JOIN cl cd ON cd.doc_id = c.doc_id
       |  WHERE c.doc_id <> c.query_id
       |    AND (cq.cluster_id IS NULL OR cd.cluster_id IS NULL
       |         OR cq.cluster_id <> cd.cluster_id))""".stripMargin

  /** C23h `phrase_retrieve` — exact-PHRASE retrieval over a positional
    * index: the retrieval depth the BM25 family lacks (C23* is
    * bag-of-words — "data base" and "base data" score identically
    * there; a phrase query requires CONSECUTIVE positions). Postings
    * carry (doc, pos, token); a deterministic bigram panel (the first
    * two tokens of every qMod-th doc, C23's panel convention, self-
    * matches kept) retrieves every doc containing the exact adjacent
    * pair, scored by occurrence count, top-k per query (count desc,
    * doc_id asc).
    *
    * RAREST-FIRST ANCHOR (the published phrase-query plan): each query
    * anchors on whichever term occurs LESS in the corpus and verifies
    * the neighbor position with one (doc, pos)-keyed join — the join
    * volume is min(occ(t₁), occ(t₂)) per query, not occ(t₁); with a
    * stopword-leading phrase that is the difference between scanning
    * the corpus and scanning the rare term's postings. Anchor choice
    * is answer-invisible (spec pins branch-swap equality); the oracle
    * computes the naive t₁-first form.
    *
    * Scale: one posexplode scan → checkpointed positional postings
    * (the C23 tf volume class, +1 int column); panel and its
    * occurrence-count routing table are broadcast; both verify joins
    * key on (doc, pos) — linear, never pairwise; top-k in a
    * query-partitioned window (F16's class). */
  def phraseRetrieve(spark: SparkSession, dir: String,
                     k: Int = 10, qMod: Int = 20): DataFrame =
    phraseOf(Tables.fanout(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))), k, qMod)

  /** Frame-based core of C23h (docs = (doc_id, text)). */
  private[graft] def phraseOf(docs: DataFrame, k: Int, qMod: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val pos = docs.withColumn("w", toks($"text"))
      .filter(size($"w") >= 1)
      .select($"doc_id", posexplode($"w"))
      .select($"doc_id", $"pos".as("p"), $"col".as("token"))
      // eager (materialization contract): pos feeds the occurrence
      // counts, both anchor branches AND both verify legs
      .localCheckpoint()
    val occ = pos.groupBy($"token").agg(count(lit(1)).as("tocc"))
    val panel = docs.filter($"doc_id" % qMod === 0)
      .withColumn("w", toks($"text")).filter(size($"w") >= 2)
      .select($"doc_id".as("query_id"), $"w".getItem(0).as("t1"), $"w".getItem(1).as("t2"))
      .join(occ.select($"token".as("t1"), $"tocc".as("o1")), Seq("t1"), "left")
      .join(occ.select($"token".as("t2"), $"tocc".as("o2")), Seq("t2"), "left")
      .na.fill(0L, Seq("o1", "o2"))
      // strict <: an occurrence tie anchors on t1 (deterministic)
      .withColumn("anchor2", $"o2" < $"o1")
      .select($"query_id", $"t1", $"t2", $"anchor2")
      .localCheckpoint()
    phraseMatch(pos, panel, k)
  }

  /** The rarest-first verify + rank tail shared by [[phraseOf]]
    * (full-corpus postings) and [[phraseServe]] (bucket-pruned
    * postings — sufficient because a hit's BOTH rows carry query
    * tokens, so the verify legs never need a posting outside the
    * query tokens' buckets). */
  private def phraseMatch(pos: DataFrame, panel: DataFrame, k: Int): DataFrame = {
    import pos.sparkSession.implicits._
    // anchor = t1: hits at p, verify token(p+1) == t2
    val m1 = pos.join(broadcast(panel.filter(!$"anchor2")), $"token" === $"t1")
      .select($"query_id", $"doc_id", $"p", $"t2")
      .join(pos.select($"doc_id", ($"p" - 1).as("p"), $"token".as("nxt")),
        Seq("doc_id", "p"))
      .filter($"nxt" === $"t2")
      .select($"query_id", $"doc_id", $"p")
    // anchor = t2: hits at q, verify token(q-1) == t1; start pos = q-1
    val m2 = pos.join(broadcast(panel.filter($"anchor2")), $"token" === $"t2")
      .select($"query_id", $"doc_id", ($"p" - 1).as("p"), $"t1")
      .join(pos.select($"doc_id", $"p", $"token".as("prv")), Seq("doc_id", "p"))
      .filter($"prv" === $"t1")
      .select($"query_id", $"doc_id", $"p")
    val w = Window.partitionBy($"query_id").orderBy($"n_occ".desc, $"doc_id")
    m1.unionAll(m2)
      .groupBy($"query_id", $"doc_id").agg(count(lit(1)).as("n_occ"))
      .withColumn("rank_phrase", row_number().over(w))
      .filter($"rank_phrase" <= k)
  }

  // ---- C23i: the PERSISTED positional phrase index -----------------
  //
  // C23h re-derives the positional table and shuffles it per call —
  // right as the batch form, but the 100 TB serve wants the postings
  // PERSISTED token-hash-bucket-partitioned (C23b's layout), so an
  // external phrase query reads ONLY its tokens' buckets. The verify
  // legs stay bucket-local: a phrase hit's two rows both carry query
  // tokens, so the pruned read is sufficient, not just faster. Same
  // commit-last protocol as the line/BM25 indexes ([[lineIndexMeta]]
  // reads the shared commits/ layout).

  def phraseIndexWrite(docs: DataFrame, path: String, nBuckets: Int = 16): Unit =
    phraseIndexAppendRaw(docs, path, Some(nBuckets), overwrite = true)

  /** O(batch) fold of a new crawl batch into the positional index. */
  def phraseIndexAppend(docs: DataFrame, path: String): Unit =
    phraseIndexAppendRaw(docs, path, None, overwrite = false)

  private[graft] def phraseIndexAppendRaw(docs: DataFrame, path: String,
                                          nBucketsOpt: Option[Int],
                                          overwrite: Boolean,
                                          commit: Boolean = true): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val mode = if (overwrite) "overwrite" else "append"
    val nBuckets = nBucketsOpt.getOrElse(lineIndexMeta(spark, path)._2)
    val batchId = java.util.UUID.randomUUID.toString
    docs.withColumn("w", toks($"text")).filter(size($"w") >= 1)
      .select($"doc_id", posexplode($"w"))
      .select(pmod(xxhash64($"col"), lit(nBuckets)).cast("int").as("bucket"),
        $"col".as("token"), $"doc_id", $"pos".as("p"), lit(batchId).as("batch_id"))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").mode(mode).parquet(s"$path/pos")
    if (commit)
      Seq((batchId, nBuckets)).toDF("batch_id", "n_buckets")
        .coalesce(1).write.mode(mode).parquet(s"$path/commits")
  }

  /** Serve an external phrase-query panel (query_id, t1, t2) against
    * the persisted positional index: route the panel's tokens to
    * their buckets (≤ 2·|panel| driver ints), statically prune the
    * postings read to those buckets, semi-restrict to the panel's
    * tokens, and run C23h's rarest-first verify on the pruned table —
    * the occurrence counts for anchor choice are exact because a
    * token's WHOLE posting list lives in its one bucket. */
  def phraseServe(spark: SparkSession, path: String, queries: DataFrame,
                  k: Int = 10): DataFrame = {
    import spark.implicits._
    val (committed, nBuckets) = lineIndexMeta(spark, path)
    val qp = queries.localCheckpoint()
    val qTokens = qp.select($"t1".as("token"))
      .unionAll(qp.select($"t2".as("token"))).distinct().localCheckpoint()
    val buckets = IndexLayout.partitionsOf(qTokens
      .select(pmod(xxhash64($"token"), lit(nBuckets)).cast("int").as("b")))
    val posQ = spark.read.parquet(s"$path/pos")
      .select($"bucket".cast("int").as("bucket"), $"token", $"doc_id", $"p",
        $"batch_id")
      .filter($"bucket".isin(buckets: _*))
      .filter($"batch_id".isin(committed: _*))
      .join(broadcast(qTokens), Seq("token"), "left_semi")
      .select($"doc_id", $"p", $"token")
      .localCheckpoint()
    val occ = posQ.groupBy($"token").agg(count(lit(1)).as("tocc"))
    val panel = qp
      .join(occ.select($"token".as("t1"), $"tocc".as("o1")), Seq("t1"), "left")
      .join(occ.select($"token".as("t2"), $"tocc".as("o2")), Seq("t2"), "left")
      .na.fill(0L, Seq("o1", "o2"))
      .withColumn("anchor2", $"o2" < $"o1")
      .select($"query_id", $"t1", $"t2", $"anchor2")
      .localCheckpoint()
    phraseMatch(posQ, panel, k)
  }

  /** C23i `phrase_serve` gate — index 70% of the corpus, append the
    * other 30% (the full corpus accumulated incrementally), then
    * serve C23h's own query panel: HASH-EQUAL to [[phraseRetrieve]]'s
    * from-scratch answer through [[phraseRetrieveSql]]. */
  def phraseServeGate(spark: SparkSession, dir: String,
                      k: Int = 10, qMod: Int = 20): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val live = docs.filter(length(trim($"text")) > 0)
    // a token-free corpus writes zero postings partitions (read-back
    // crash) and serves nothing — return the empty answer directly
    val mx = live.agg(max($"doc_id")).head()
    if (mx.isNullAt(0))
      return Seq.empty[(Long, Long, Long, Int)]
        .toDF("query_id", "doc_id", "n_occ", "rank_phrase")
    val cut = mx.getLong(0) * 7 / 10
    val panel = docs.filter($"doc_id" % qMod === 0)
      .withColumn("w", toks($"text")).filter(size($"w") >= 2)
      .select($"doc_id".as("query_id"), $"w".getItem(0).as("t1"),
        $"w".getItem(1).as("t2"))
    graft.sources.Lake.withScratchIndex(spark, "graft_phrase_idx") { tmp =>
      phraseIndexWrite(Tables.fanout(docs.filter($"doc_id" <= cut)), tmp)
      phraseIndexAppend(Tables.fanout(docs.filter($"doc_id" > cut)), tmp)
      phraseServe(spark, tmp, Tables.fanout(panel), k)
    }
  }

  /** C23h oracle: the naive t₁-first positional join in DuckDB —
    * anchor choice is answer-invisible by construction. */
  def phraseRetrieveSql(k: Int = 10, qMod: Int = 20): String =
    s"""WITH docs AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents WHERE length(trim(text)) > 0),
       |pos AS (
       |  SELECT doc_id, i AS p, w[i+1] AS token
       |  FROM docs, unnest(generate_series(0, len(w) - 1)) AS t(i)),
       |panel AS (
       |  SELECT doc_id AS query_id, w[1] AS t1, w[2] AS t2
       |  FROM docs WHERE doc_id % $qMod = 0 AND len(w) >= 2),
       |m AS (
       |  SELECT q.query_id, a.doc_id, a.p
       |  FROM panel q
       |  JOIN pos a ON a.token = q.t1
       |  JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1 AND b.token = q.t2),
       |cnt AS (SELECT query_id, doc_id, COUNT(*) AS n_occ FROM m GROUP BY 1, 2)
       |SELECT query_id, doc_id, n_occ, CAST(rn AS INT) AS rank_phrase
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY n_occ DESC, doc_id) AS rn FROM cnt)
       |WHERE rn <= $k""".stripMargin

  /** C29 `typo_neighbors` — EXACT edit-distance-1 vocabulary pairs via
    * deletion-neighborhood blocking (the SymSpell candidate scheme,
    * Garbe 2012): every term posts itself plus its `len` single-char
    * deletions; any distance-1 pair — deletion/insertion (b = del(a)
    * shares the key b) or substitution at position i (del_i(a) =
    * del_i(b)) — PROVABLY shares a posting key, so the equi-join
    * reaches all of them: recall 1.0 by construction, with Σ(len+1)
    * postings instead of the n² all-pairs a naive typo scan compares.
    * `levenshtein == 1` verifies candidates (the join also surfaces
    * del+del distance-2 pairs — dropped). The blocking family no LSH
    * covers: banding finds SIMILAR sets, deletion keys find
    * near-IDENTICAL strings, the normalization step (OCR noise, typo
    * collapse) a vocabulary pipeline runs before counting.
    *
    * Vocabulary = corpus unigrams ∪ deterministic planted middle-char
    * deletions (so distance-1 structure exists at every SF); fully
    * hash-gated against the identical DuckDB construction. */
  def typoNeighbors(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.fanout(Tables.documents(spark, dir).select($"text"))
      .select(explode(toks($"text")).as("t"))
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
    posts.as("a").join(posts.as("b"),
        $"a.key" === $"b.key" && $"a.t" < $"b.t")
      .select($"a.t".as("t1"), $"b.t".as("t2")).distinct()
      .filter(levenshtein($"t1", $"t2") === 1)
  }

  val typoNeighborsSql: String =
    """WITH base AS (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS t
      |  FROM documents WHERE length(trim(text)) > 0),
      |planted AS (
      |  SELECT substr(t, 1, length(t) // 2) || substr(t, length(t) // 2 + 2, length(t)) AS t
      |  FROM base WHERE length(t) >= 4),
      |vocab AS (SELECT DISTINCT t FROM (SELECT t FROM base UNION ALL SELECT t FROM planted)),
      |posts AS (
      |  SELECT t, unnest(list_prepend(t, list_transform(range(1, length(t) + 1),
      |           i -> substr(t, 1, i - 1) || substr(t, i + 1, length(t))))) AS key
      |  FROM vocab)
      |SELECT DISTINCT a.t AS t1, b.t AS t2
      |FROM posts a JOIN posts b ON a.key = b.key AND a.t < b.t
      |WHERE levenshtein(a.t, b.t) = 1""".stripMargin

  /** C28 `approx_topk` — corpus-wide heavy-hitter shingles through the
    * [[graft.functions.MisraGriesAgg]] frequent-items sketch: AT MOST
    * `capacity` counters per partial aggregate regardless of the token
    * space, the shuffle moves only the bounded summaries, and the
    * global merge is the proven mergeable-summaries rule. This is the
    * 100 TB answer to "what text repeats most" when the full
    * (shingle, count) aggregate (C25's shape) would carry a key space
    * bigger than memory: a boilerplate detector runs THIS, then feeds
    * the survivors to the exact df-cap machinery.
    *
    * Word-3-gram shingles (the C4/C23 feature space — the unigram
    * vocabulary is degenerate on this corpus) over documents ∪ the
    * planted re-crawl, so true heavy hitters exist. Rows-only at the
    * gate (estimates are merge-order dependent); check.py grades the
    * MG guarantees cross-engine — no estimate overcounts, undercount
    * ≤ n/(capacity+1), and every emitted token exists — and the spec
    * pins presence of a planted hitter above the threshold. */
  def approxTopK(spark: SparkSession, dir: String, capacity: Int = 64,
                 m: Int = 20): DataFrame = {
    import spark.implicits._
    approxTopKOf(tfTableFor(spark, dir)
      .select($"token", $"tf"), capacity, m)
  }

  /** Frame-based core of C28: tokens = (token, tf) weighted rows or
    * (token) raw rows — tf fans back out so the sketch sees raw
    * occurrences. */
  private[graft] def approxTopKOf(tokens: DataFrame, capacity: Int,
                                  m: Int): DataFrame = {
    import tokens.sparkSession.implicits._
    val raw =
      if (tokens.columns.contains("tf"))
        tokens.select(explode(expr("array_repeat(token, cast(tf as int))")).as("token"))
      else tokens.select($"token")
    raw.agg(graft.functions.MisraGriesAgg.mgTopk($"token", capacity).as("sk"))
      .select(explode($"sk").as("e"))
      .select($"e.token".as("token"), $"e.est".as("est"))
      .orderBy($"est".desc, $"token").limit(m)
  }

  /** C26 `doc_embed` — feature-hashing document vectors (the hashing
    * trick, Weinberger et al. 2009): each unigram token hashes to one
    * of `dim` slots with a hash-derived ±1 sign, and the slot weight
    * is the signed tf sum. This is the deterministic text→vector
    * bridge a pipeline without a neural encoder runs (candidate
    * generation for dedup/decontamination, cheap clustering,
    * hybrid retrieval) — and unlike float embeddings it is
    * ENGINE-EXACT: weights are integer sums over md5-derived
    * (slot, sign), so the table hash-gates cell-for-cell. Sparse
    * output (doc_id, slot, w), zero-sum slots dropped; downstream
    * cosine needs only integer dots + one final float divide.
    * Scale: tokenize-scan → two hash aggregates; nothing wider than
    * (doc, token) shuffles, no joins, no driver state. */
  def docEmbed(spark: SparkSession, dir: String, dim: Int = 64): DataFrame = {
    import spark.implicits._
    docEmbedOf(Tables.fanout(Tables.documents(spark, dir)
      .select($"doc_id", $"text")), dim)
  }

  /** Frame-based core of C26 (docs = (doc_id, text)). */
  private[graft] def docEmbedOf(docs: DataFrame, dim: Int = 64): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", explode(toks($"text")).as("token"))
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
      .withColumn("slot",
        (conv(substring(md5($"token"), 1, 8), 16, 10).cast("long") % dim).cast("int"))
      .withColumn("sign",
        when(conv(substring(md5($"token"), 9, 1), 16, 10).cast("long") % 2 === 0,
          lit(1L)).otherwise(lit(-1L)))
      .groupBy($"doc_id", $"slot").agg(sum($"sign" * $"tf").as("w"))
      .filter($"w" =!= 0)
  }

  def docEmbedSql(dim: Int = 64): String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
       |  FROM documents WHERE length(trim(text)) > 0),
       |tf0 AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |sw AS (
       |  SELECT doc_id,
       |         CAST(CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % $dim AS INT) AS slot,
       |         (CASE WHEN CAST(('0x' || substr(md5(token), 9, 1)) AS BIGINT) % 2 = 0
       |               THEN 1 ELSE -1 END) * tf AS st
       |  FROM tf0)
       |SELECT doc_id, slot, CAST(SUM(st) AS BIGINT) AS w
       |FROM sw GROUP BY 1, 2 HAVING SUM(st) <> 0"""
      .stripMargin

  /** C27 `hybrid_retrieve` — reciprocal-rank fusion (Cormack et al.
    * 2009) of the two retrieval surfaces: BM25's lexical top-k (C23)
    * and [[docEmbed]] cosine top-k, fused per (query, doc) as
    * Σ 10⁶ div (60 + rank) — INTEGER RRF impacts, so the fused scores
    * hash-gate exactly. This is how a curation pipeline actually
    * retrieves (decontamination and near-dup candidate generation
    * want lexical AND semantic recall; RRF needs no score
    * calibration between the two).
    *
    * The embedding side ranks by cosine over integer dots
    * (sparse slot-posting join against the broadcast query panel —
    * candidates ∝ slot collisions, never n²), quantized to 6dp
    * before ranking (the C19 posture: both engines rank the same
    * rounded value). The lexical side IS C23's plan. Fusion is a
    * full-outer join of two k-bounded rank lists — queries × ≤2k
    * rows — then one windowed top-k. */
  def hybridRetrieve(spark: SparkSession, dir: String, k: Int = 10,
                     dfCap: Int = 100, qMod: Int = 20, kRrf: Int = 60): DataFrame = {
    import spark.implicits._
    // eager: the embedding table feeds the norms, the panel AND the
    // posting side (materialization contract)
    val emb = docEmbed(spark, dir).localCheckpoint()
    val nsq = emb.groupBy($"doc_id").agg(sum($"w" * $"w").as("nsq"))
    val q = emb.filter($"doc_id" % qMod === 0)
      .select($"doc_id".as("query_id"), $"slot", $"w".as("wq"))
    val dots = broadcast(q).join(emb, Seq("slot"))
      .filter($"query_id" =!= $"doc_id")
      .groupBy($"query_id", $"doc_id").agg(sum($"wq" * $"w").as("dot"))
    val cosr = dots
      .join(nsq.select($"doc_id".as("query_id"), $"nsq".as("nq")), Seq("query_id"))
      .join(nsq, Seq("doc_id"))
      .withColumn("cos6", round($"dot".cast("double") /
        sqrt($"nq".cast("double") * $"nsq".cast("double")), 6))
    val wE = Window.partitionBy($"query_id").orderBy($"cos6".desc, $"doc_id")
    val embTop = cosr.withColumn("rank_e", row_number().over(wE))
      .filter($"rank_e" <= k).select($"query_id", $"doc_id", $"rank_e")
    val bmTop = bm25OfTf(tfTableFor(spark, dir), k, dfCap, qMod)
      .select($"query_id", $"doc_id", $"rk".as("rank_b"))
    weightedRrf(embTop, bmTop, k, kRrf, wSem = 1, wLex = 1)
  }

  /** WEIGHTED reciprocal-rank fusion of a semantic and a lexical
    * top-k list — the fusion tail shared by C27 (unit weights) and
    * C27b `hybrid_serve` (non-unit): rrf = wSem·⌊10⁶/(kRrf+rank_e)⌋ +
    * wLex·⌊10⁶/(kRrf+rank_b)⌋, all integers, so fused scores
    * hash-gate exactly. Integer weight RATIOS express surface trust
    * (upweight lexical for code/IDs, semantic for prose) without
    * breaking the no-score-calibration property that makes RRF robust.
    * Both inputs are k-bounded rank lists (queries × ≤k rows), so the
    * full-outer join and the window are panel-sized — never corpus
    * work. */
  private[graft] def weightedRrf(etop: DataFrame, btop: DataFrame, k: Int,
                                 kRrf: Int, wSem: Int, wLex: Int): DataFrame = {
    import etop.sparkSession.implicits._
    val fused = etop.join(btop, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        lit(wSem.toLong) * coalesce(
          expr(s"cast(1000000 as bigint) div ($kRrf + cast(rank_e as bigint))"), lit(0L)) +
        lit(wLex.toLong) * coalesce(
          expr(s"cast(1000000 as bigint) div ($kRrf + cast(rank_b as bigint))"), lit(0L)))
    val wH = Window.partitionBy($"query_id").orderBy($"rrf".desc, $"doc_id")
    fused.withColumn("rank_h", row_number().over(wH)).filter($"rank_h" <= k)
      .select($"query_id", $"doc_id", $"rrf", $"rank_h")
  }

  /** C27b `hybrid_serve` — the SERVED, scale-safe form of C27: a
    * BOUNDED external query panel (doc_id < nQueries — size fixed by
    * the serving batch, independent of corpus size) against two
    * PERSISTED indexes, fused with weighted RRF (wLex = 2: lexical
    * upweighted 2:1).
    *
    * C27's self-panel harness broadcasts a corpus-proportional query
    * panel and joins postings on 64 dense hash slots — Θ(n²/qMod)
    * candidates, fine for a gate, fatal at 100×. This entry is the
    * serving shape instead: the semantic side densifies [[docEmbed]]'s
    * integer feature-hash vectors (exact in float32) into a persisted
    * IVF index ([[graft.operators.Similarity.ivfWriteFrom]]) and
    * probes it ([[graft.operators.Similarity.annIvfServe]] — external
    * queries route on the driver against the centroids; the gate probes
    * nprobe = nlist, the exact configuration, so the answer
    * hash-gates; production turns nprobe down and trades recall like
    * C7b/C7c, graded elsewhere). The lexical side serves the
    * persisted impact index ([[bm25ServeFrom]]) with the panel's
    * tokens — the postings read statically prunes to the query
    * tokens' buckets. NO broadcast in the plan grows with the corpus:
    * panel vectors, panel tokens, centroids, global stats — all
    * serving-batch- or index-metadata-sized (PlanAuditSpec asserts
    * it). Fusion is exact-integer weighted RRF over two k-bounded
    * rank lists.
    *
    * Fully hash-gated: integer dots make the semantic cosines
    * bit-identical across engines (double-accumulated int products,
    * one sqrt·sqrt divide), BM25 is C23's integer-exact plan, and
    * the fused scores are integers. */
  def hybridServe(spark: SparkSession, dir: String, k: Int = 10,
                  dfCap: Int = 100, nQueries: Int = 50, kRrf: Int = 60,
                  wLex: Int = 2, wSem: Int = 1, dim: Int = 64): DataFrame = {
    import spark.implicits._
    if (corpusTokenFree(spark, dir))
      return Seq.empty[(Long, Long, Long, Int)]
        .toDF("query_id", "doc_id", "rrf", "rank_h")
    // both serving indexes are session-shared (read-only): the BM25
    // impact index is THE SAME directory bm25_serve reads, the
    // docEmbed IVF builds once per (dir, dim)
    // the canonical full-corpus ivf template — one physical build per
    // session, shared with the fleet/hybrid cutovers (r16/r17 opt)
    val ivfPath = ivfTemplate(spark, dir, None, dim)
    hybridServeFrom(spark, dir, ivfPath, sharedImpactIndex(spark, dir, dfCap),
      k, nQueries, kRrf, wLex, wSem, dim)
  }

  /** The densified [[docEmbed]] vectors — sparse integer slot weights
    * as a dim-length float array: |w| ≪ 2²⁴ so every weight, product
    * and running sum is exact, which is what makes the index-served
    * cosine the same integer dot the oracle computes. The map binds
    * ONCE as a lambda variable (the nested-HOF inlining trap would
    * otherwise rebuild it per slot). Memoized per (session, dir, dim)
    * — the IVF build and the serve panel share one materialization. */
  private[graft] def docEmbedDense(spark: SparkSession, dir: String,
                                   dim: Int): DataFrame =
    NearDup.Shared.memo(spark, s"docEmbedDense:$dir:$dim") {
      import spark.implicits._
      docEmbed(spark, dir, dim)
        .groupBy($"doc_id")
        .agg(collect_list(struct($"slot", $"w")).as("sw"))
        .select($"doc_id".as("vec_id"), expr(
          s"""transform(array(map_from_arrays(transform(sw, x -> x.slot),
             |                                transform(sw, x -> x.w))),
             |  m -> transform(sequence(0, ${dim - 1}),
             |         d -> cast(coalesce(element_at(m, d), 0L) as float)))[0]"""
            .stripMargin).as("embedding"),
          lit(0).as("label"))
        .localCheckpoint()
    }

  /** The serve core of C27b against explicit index directories
    * (un-checkpointed — PlanAuditSpec audits these plans' broadcasts
    * directly). */
  private[graft] def hybridServeFrom(spark: SparkSession, dir: String,
                                     ivfPath: String, bmPath: String,
                                     k: Int = 10, nQueries: Int = 50,
                                     kRrf: Int = 60, wLex: Int = 2,
                                     wSem: Int = 1, dim: Int = 64): DataFrame = {
    import spark.implicits._
    val panelVecs = docEmbedDense(spark, dir, dim).filter($"vec_id" < nQueries)
      .select($"vec_id", $"embedding")
    val etop = graft.operators.Similarity.annIvfServe(spark, ivfPath,
        nprobe = 16, k = k, queries = Some(panelVecs))
      .select($"query_id", $"neighbor_id".as("doc_id"), $"rank_nn".as("rank_e"))
    val qTokens = tfTableFor(spark, dir).filter($"doc_id" < nQueries)
      .select($"doc_id".as("query_id"), $"token")
    val btop = bm25ServeFrom(spark, bmPath, k = k, queries = Some(qTokens))
      .select($"query_id", $"doc_id", $"rk".as("rank_b"))
    weightedRrf(etop, btop, k, kRrf, wSem, wLex)
  }

  /** C27b's build+serve against a PRIVATE directory — the plan-audit
    * entry point (builds both indexes under `tmp`, no session
    * sharing). */
  private[graft] def hybridServeOn(spark: SparkSession, dir: String, tmp: String,
                                   k: Int = 10, dfCap: Int = 100,
                                   nQueries: Int = 50, kRrf: Int = 60,
                                   wLex: Int = 2, wSem: Int = 1,
                                   dim: Int = 64): DataFrame = {
    graft.operators.Similarity.ivfWriteFrom(
      docEmbedDense(spark, dir, dim), s"$tmp/ivf", nlist = 16)
    bm25Write(spark, dir, s"$tmp/bm25", dfCap = dfCap)
    hybridServeFrom(spark, dir, s"$tmp/ivf", s"$tmp/bm25",
      k, nQueries, kRrf, wLex, wSem, dim)
  }

  /** C27c `hybrid_catalog_serve` — the MULTI-KIND fleet epoch cutover
    * composed under the gate: both of C27b's serving indexes (the
    * impact-BM25 postings AND the docEmbed IVF) rebuild against the
    * same corpus snapshot and become visible TOGETHER through
    * [[graft.sources.Catalog.registerAll]]'s single-commit manifest
    * write — a fleet that fuses a fresh lexical epoch with a stale
    * semantic one mixes corpus states inside ONE RRF answer, the
    * exact failure registerAll exists to exclude. Lifecycle under the
    * gate: epoch-1 builds both kinds on the 70% prefix and registers
    * them in one cutover; the corpus drifts; epoch-2 rebuilds both on
    * the full corpus and supersedes in one cutover; `Catalog.vacuum`
    * reclaims BOTH superseded stores (lease + pin gates); a serving
    * process that knows only the catalog root resolves both kinds by
    * manifest lookup and runs [[hybridServeFrom]]. HASH-EQUAL to
    * `hybrid_serve`'s oracle on the full corpus — the whole two-kind
    * lifecycle must be answer-invisible (nprobe = nlist keeps the IVF
    * side exact; integer dots/impacts/RRF keep every score
    * bit-stable). LakeSpec pins the epoch-1 fleet parity, the
    * one-commit flip of both kinds, and the physical reclaim. */
  def hybridCatalogServe(spark: SparkSession, dir: String, k: Int = 10,
                         dfCap: Int = 100, nQueries: Int = 50, kRrf: Int = 60,
                         wLex: Int = 2, wSem: Int = 1, dim: Int = 64): DataFrame = {
    import spark.implicits._
    if (corpusTokenFree(spark, dir))
      return Seq.empty[(Long, Long, Long, Int)]
        .toDF("query_id", "doc_id", "rrf", "rank_h")
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val cut = docs.agg(max($"doc_id")).head().getLong(0) * 7 / 10
    val key = s"corpus:$dir"
    graft.sources.Lake.withScratchIndex(spark, "graft_hyb_cat") { cat =>
      hybridCatalogCutover(spark, dir, cat, key, "epoch-1", Some(cut),
        dfCap, dim)
      hybridCatalogCutover(spark, dir, cat, key, "epoch-2", None, dfCap, dim)
      graft.sources.Catalog.vacuum(spark, cat)
      hybridCatalogResolveServe(spark, dir, cat, key, "epoch-2",
        k, nQueries, kRrf, wLex, wSem, dim)
    }
  }

  /** One maintenance epoch for the hybrid pair: build BOTH kinds
    * against the same corpus snapshot (`cutId` bounds the prefix;
    * None = full corpus) into fresh store directories, then flip them
    * visible together in one [[graft.sources.Catalog.registerAll]]
    * commit. Store paths follow the catalog's own store convention so
    * its vacuum can reclaim superseded epochs. */
  private[graft] def hybridCatalogCutover(spark: SparkSession, dir: String,
                                          cat: String, key: String,
                                          stamp: String, cutId: Option[Long],
                                          dfCap: Int = 100,
                                          dim: Int = 64): Unit = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val bmDir = s"$cat/store/bm25impact/${java.util.UUID.randomUUID}"
    val ivDir = s"$cat/store/ivf/${java.util.UUID.randomUUID}"
    // template-and-promote (the fleet cutover's economics, r16 opt):
    // each kind's artifact builds ONCE per (session, snapshot,
    // params) in the shared template and this cutover pays a copy —
    // the two INDEPENDENT legs overlap (guide §2.6), the one-commit
    // registerAll lands strictly after both
    graft.Par.jobs(
      () => promoteCopy(spark, bm25ImpactTemplate(spark, dir, cutId, dfCap), bmDir),
      () => promoteCopy(spark, ivfTemplate(spark, dir, cutId, dim), ivDir))
    graft.sources.Catalog.registerAll(spark, cat, Seq(
      ("bm25impact", key, bmDir, stamp), ("ivf", key, ivDir, stamp)))
  }

  /** The serving process's half of C27c: resolve both kinds from the
    * manifest (requiring the expected epoch — a fleet must never fuse
    * mixed epochs), then serve. */
  private[graft] def hybridCatalogResolveServe(spark: SparkSession,
                                               dir: String, cat: String,
                                               key: String, epoch: String,
                                               k: Int = 10, nQueries: Int = 50,
                                               kRrf: Int = 60, wLex: Int = 2,
                                               wSem: Int = 1,
                                               dim: Int = 64): DataFrame = {
    val (bmPath, bmStamp) =
      graft.sources.Catalog.lookup(spark, cat, "bm25impact", key).get
    val (ivPath, ivStamp) =
      graft.sources.Catalog.lookup(spark, cat, "ivf", key).get
    require(bmStamp == epoch && ivStamp == epoch,
      s"fleet must resolve one fresh epoch for both kinds: " +
        s"bm25impact=$bmStamp ivf=$ivStamp want $epoch")
    hybridServeFrom(spark, dir, ivPath, bmPath, k, nQueries, kRrf,
      wLex, wSem, dim)
  }

  def hybridServeSql(k: Int = 10, dfCap: Int = 100, nQueries: Int = 50,
                     kRrf: Int = 60, wLex: Int = 2, wSem: Int = 1,
                     dim: Int = 64): String =
    s"""WITH emb AS (${docEmbedSql(dim)}),
       |nsq AS (SELECT doc_id, SUM(w * w) AS nsq FROM emb GROUP BY 1),
       |qp AS (SELECT doc_id AS query_id, slot, w AS wq FROM emb WHERE doc_id < $nQueries),
       |dots AS (
       |  SELECT qp.query_id, e.doc_id, SUM(qp.wq * e.w) AS dot
       |  FROM qp JOIN emb e USING (slot) GROUP BY 1, 2),
       |cosr AS (
       |  SELECT d.query_id, d.doc_id,
       |         CAST(d.dot AS DOUBLE)
       |           / (sqrt(CAST(nq.nsq AS DOUBLE)) * sqrt(CAST(nd.nsq AS DOUBLE))) AS cos
       |  FROM dots d
       |  JOIN nsq nq ON nq.doc_id = d.query_id
       |  JOIN nsq nd ON nd.doc_id = d.doc_id),
       |etop AS (
       |  SELECT query_id, doc_id, rank_e FROM (
       |    SELECT query_id, doc_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rank_e
       |    FROM cosr) WHERE rank_e <= $k),
       |btop AS (
       |  SELECT query_id, doc_id, rk AS rank_b
       |  FROM (${bm25RetrieveSql(k, dfCap, qPred = s"doc_id < $nQueries")})),
       |fused AS (
       |  SELECT COALESCE(e.query_id, b.query_id) AS query_id,
       |         COALESCE(e.doc_id, b.doc_id) AS doc_id,
       |         $wSem * COALESCE(CAST(1000000 AS BIGINT) // ($kRrf + CAST(e.rank_e AS BIGINT)), 0)
       |         + $wLex * COALESCE(CAST(1000000 AS BIGINT) // ($kRrf + CAST(b.rank_b AS BIGINT)), 0) AS rrf
       |  FROM etop e FULL OUTER JOIN btop b
       |    ON e.query_id = b.query_id AND e.doc_id = b.doc_id)
       |SELECT query_id, doc_id, rrf, CAST(rank_h AS INT) AS rank_h FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank_h
       |  FROM fused)
       |WHERE rank_h <= $k""".stripMargin

  def hybridRetrieveSql(k: Int = 10, dfCap: Int = 100, qMod: Int = 20,
                        kRrf: Int = 60, dim: Int = 64): String =
    s"""WITH emb AS (${docEmbedSql(dim)}),
       |nsq AS (SELECT doc_id, SUM(w * w) AS nsq FROM emb GROUP BY 1),
       |qp AS (SELECT doc_id AS query_id, slot, w AS wq FROM emb WHERE doc_id % $qMod = 0),
       |dots AS (
       |  SELECT qp.query_id, e.doc_id, SUM(qp.wq * e.w) AS dot
       |  FROM qp JOIN emb e USING (slot)
       |  WHERE qp.query_id <> e.doc_id GROUP BY 1, 2),
       |cosr AS (
       |  SELECT d.query_id, d.doc_id,
       |         round(CAST(d.dot AS DOUBLE)
       |               / sqrt(CAST(nq.nsq AS DOUBLE) * CAST(nd.nsq AS DOUBLE)), 6) AS cos6
       |  FROM dots d
       |  JOIN nsq nq ON nq.doc_id = d.query_id
       |  JOIN nsq nd ON nd.doc_id = d.doc_id),
       |etop AS (
       |  SELECT query_id, doc_id, rank_e FROM (
       |    SELECT query_id, doc_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, doc_id) AS rank_e
       |    FROM cosr) WHERE rank_e <= $k),
       |btop AS (
       |  SELECT query_id, doc_id, rk AS rank_b
       |  FROM (${bm25RetrieveSql(k, dfCap, qMod)})),
       |fused AS (
       |  SELECT COALESCE(e.query_id, b.query_id) AS query_id,
       |         COALESCE(e.doc_id, b.doc_id) AS doc_id,
       |         COALESCE(CAST(1000000 AS BIGINT) // ($kRrf + CAST(e.rank_e AS BIGINT)), 0)
       |         + COALESCE(CAST(1000000 AS BIGINT) // ($kRrf + CAST(b.rank_b AS BIGINT)), 0) AS rrf
       |  FROM etop e FULL OUTER JOIN btop b
       |    ON e.query_id = b.query_id AND e.doc_id = b.doc_id)
       |SELECT query_id, doc_id, rrf, CAST(rank_h AS INT) AS rank_h FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank_h
       |  FROM fused)
       |WHERE rank_h <= $k""".stripMargin

  /** Persist the BM25 index as on-disk tables at `path` — the text
    * retrieval counterpart of [[graft.operators.Similarity.ivfWrite]]:
    * `stats/` (one row: n_docs, am, n_buckets) and `postings/`
    * PARTITIONED BY token-hash bucket. Impacts are precomputed at
    * build time ([[bm25ImpactExpr]] over the df-capped postings — the
    * impact-ordered-postings layout real text engines ship), so a
    * serve run is join + sum + top-k with no corpus-level statistics
    * to recompute. Build once, serve many. */
  def bm25Write(spark: SparkSession, dir: String, path: String,
                nBuckets: Int = 16, dfCap: Int = 100): Unit =
    // tf memoized per (session, dir) — shared with C23/E11/C27
    bm25WriteImpactTf(tfTableFor(spark, dir), path, nBuckets, dfCap)

  /** [[bm25Write]] from a docs FRAME rather than a corpus dir — the
    * [[bm25RefreshIfStale]] rebuild path needs to build on SURVIVORS,
    * which is no longer "the corpus at dir". The new version starts
    * with no tombstones (the fresh impacts already reflect the
    * surviving corpus — carrying the old tombstones forward would
    * delete the victims twice); the version swap makes that automatic,
    * since tombstones live INSIDE a version directory. */
  def bm25WriteImpactFrom(docs: DataFrame, path: String,
                          nBuckets: Int = 16, dfCap: Int = 100): Unit =
    bm25WriteImpactTf(bm25TfTable(docs).localCheckpoint(), path, nBuckets, dfCap)

  /** The impact-layout build (tf = (doc_id, dl, token, tf)). The
    * stats row persists EVERY parameter a later maintenance step
    * needs — n_buckets for routing, df_cap so a refresh rebuilds
    * under the same boilerplate cutoff — the self-description
    * principle the raw layout's stats_log established.
    *
    * ATOMIC VERSION SWAP ([[graft.sources.Lake.publishVersion]]): the
    * build lands in a fresh `v=N` directory and becomes visible in one
    * marker-file create. Unlike the raw layout — whose appends are
    * incremental and therefore commit via stats-log rows — the impact
    * layout's only mutations are FULL rebuilds, so versioning costs
    * nothing extra and buys lock-free readers: a serve that resolved
    * v=N keeps reading v=N untouched while a refresh publishes v=N+1
    * (one older version is retained as the in-flight grace period),
    * and a crashed rebuild leaves an unpublished directory no reader
    * ever resolves. */
  private def bm25WriteImpactTf(tf: DataFrame, path: String,
                                nBuckets: Int, dfCap: Int): Unit =
    graft.sources.Lake.publishVersion(tf.sparkSession, path) { vdir =>
      import tf.sparkSession.implicits._
      val stats = tf.groupBy($"doc_id").agg(first($"dl").as("dl"))
        .agg(count(lit(1)).as("n_docs"), sum($"dl").as("t_tok"))
        .select($"n_docs", expr("(1000 * t_tok) div n_docs").as("am"),
          lit(nBuckets).as("n_buckets"), lit(dfCap).as("df_cap"))
      val dfc = tf.groupBy($"token").agg(count(lit(1)).as("df")).filter($"df" <= dfCap)
      val post = tf.join(dfc, Seq("token"))
        .crossJoin(broadcast(stats.select($"n_docs", $"am")))
        .select(pmod(xxhash64($"token"), lit(nBuckets)).cast("int").as("bucket"),
          $"token", $"doc_id", expr(bm25ImpactExpr).as("impact"))
      // independent writes off the checkpointed tf (guide §2.6); the
      // version-publish marker still lands after both
      graft.Par.jobs(
        () => stats.coalesce(1).write.mode("overwrite").parquet(s"$vdir/stats"),
        () => post.repartition(col("bucket"))
          .write.partitionBy("bucket").mode("overwrite").parquet(s"$vdir/postings"))
    }

  /** Resolve the impact index's CURRENT committed version directory —
    * every public read/tombstone operation resolves once, up front,
    * then touches only that version's files. */
  private def impactRoot(spark: SparkSession, path: String): String =
    graft.sources.Lake.currentVersionDir(spark, path).getOrElse(
      throw new IllegalStateException(
        s"no committed index version at $path — build with bm25Write first"))

  /** BM25 served from a persisted [[bm25Write]] index. An EXTERNAL
    * query batch (query_id, token) routes on the driver first
    * ([[bm25Route]]): the bucket count comes from the `stats` row read
    * without a job, the batch is collected once, and its tokens' hash
    * buckets — O(query terms) driver ints, what a search frontend's
    * shard router holds — statically prune the postings read to those
    * bucket directories, so a short query touches a handful of the
    * index partitions and never the corpus (the annIvfServe posture
    * applied to text). Spark runs only the scoring query. Without
    * `queries`, the self-test panel (every `qMod`-th doc's terms)
    * derives FROM the postings, which necessarily scans them once —
    * that mode hash-gates serve ≡ `bm25_retrieve` exactly. */
  def bm25ServeFrom(spark: SparkSession, path: String, k: Int = 10,
                    qMod: Int = 20, queries: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val root = impactRoot(spark, path)
    val post0 = IndexLayout.ImpactBm25.read(spark, root, "postings")
      .select($"bucket", $"token", $"doc_id", $"impact")
    bm25ServeRouted(spark, root, post0, k, qMod, queries)
  }

  /** The STALENESS-BOUNDED serve of the impact layout: committed
    * tombstones ([[bm25MarkDeleted]]) are anti-joined out of the
    * postings — a deleted doc is never served and never issues a
    * self-test query — but surviving docs keep their build-time
    * impacts, whose baked-in N/avgdl/df still count the victims.
    * That staleness is the layout's design price (precomputed impacts
    * CANNOT shift on delete without a rebuild — the raw layout exists
    * for corpora that mutate); [[bm25RefreshIfStale]] bounds it by
    * rebuilding once the deleted fraction passes ε. This is the
    * production middle ground real impact-ordered engines ship:
    * tombstone masks at serve, periodic segment rebuild. */
  def bm25ServeFromLive(spark: SparkSession, path: String, k: Int = 10,
                        qMod: Int = 20, queries: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val root = impactRoot(spark, path)
    val post0 = IndexLayout.ImpactBm25.read(spark, root, "postings")
      .select($"bucket", $"token", $"doc_id", $"impact")
      .join(impactDeletesAt(spark, root), Seq("doc_id"), "left_anti")
    bm25ServeRouted(spark, root, post0, k, qMod, queries)
  }

  /** The BM25 router of both persisted layouts: an external query
    * batch (query_id, token) — a serving batch, small by contract — is
    * collected once (a local relation collects without a job), its
    * tokens' buckets are computed on the driver
    * ([[graft.sources.IndexRoute.buckets]], the writers' own hash), and
    * the rows come back as a local relation for the scoring query. */
  private def bm25Route(q0: DataFrame, nBuckets: Int): (DataFrame, Seq[Int]) = {
    import scala.jdk.CollectionConverters._
    val q = q0.select(col("query_id"), col("token"))
    val rows = q.collect().toSeq
    (q0.sparkSession.createDataFrame(rows.asJava, q.schema),
      graft.sources.IndexRoute.buckets(rows.map(_.get(1)), q.schema("token").dataType,
        nBuckets).distinct)
  }

  /** `root` is a RESOLVED version directory ([[impactRoot]]) — the
    * whole serve (stats, postings, panel) reads one committed version,
    * immune to a concurrent refresh's swap. */
  private def bm25ServeRouted(spark: SparkSession, root: String, post0: DataFrame,
                              k: Int, qMod: Int,
                              queries: Option[DataFrame]): DataFrame = {
    import spark.implicits._
    queries match {
      case Some(q0) =>
        val nBuckets = IndexLayout.ImpactBm25.local(spark, root, "stats")
          .head.getAs[Int]("n_buckets")
        val (q, buckets) = bm25Route(q0, nBuckets)
        bm25TopK(post0.filter($"bucket".isin(buckets: _*)).drop("bucket"), q, k)
      case None =>
        val q = post0.filter($"doc_id" % qMod === 0)
          .select($"doc_id".as("query_id"), $"token")
        bm25TopK(post0.drop("bucket"), q, k)
    }
  }

  /** Tombstone docs in an impact-layout ([[bm25Write]]) index. The
    * write is a metadata-sized parquet append; duplicates are legal
    * (the read side dedups), so re-driving a delete is idempotent.
    * Served results exclude the victims immediately
    * ([[bm25ServeFromLive]]); the baked impacts go stale — see
    * [[bm25RefreshIfStale]] for the bound. */
  def bm25MarkDeleted(spark: SparkSession, path: String, ids: DataFrame): Unit =
    ids.select(col("doc_id")).distinct()
      .coalesce(1).write.mode("append")
      .parquet(s"${impactRoot(spark, path)}/deletes")

  /** Distinct committed tombstones of an impact index — empty if none
    * were ever marked. Tombstones live INSIDE the version directory:
    * a refresh's new version starts clean by construction. */
  private[graft] def impactDeletes(spark: SparkSession, path: String): DataFrame =
    impactDeletesAt(spark, impactRoot(spark, path))

  private def impactDeletesAt(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val del = new org.apache.hadoop.fs.Path(s"$root/deletes")
    if (del.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(del))
      IndexLayout.ImpactBm25.read(spark, root, "deletes").select($"doc_id").distinct()
    else spark.emptyDataset[Long].toDF("doc_id")
  }

  /** Fraction of the index's docs that are tombstoned — the staleness
    * measure [[bm25RefreshIfStale]] thresholds on. Tombstones that
    * never matched an indexed doc don't count (deleting a stranger
    * makes nothing stale). The semi-join probes only the postings'
    * doc_id column (parquet prunes the rest) against a
    * metadata-sized tombstone set. */
  def bm25DeletedFraction(spark: SparkSession, path: String): Double = {
    import spark.implicits._
    val root = impactRoot(spark, path)
    val n = IndexLayout.ImpactBm25.local(spark, root, "stats").head.getAs[Long]("n_docs")
    if (n == 0L) return 0.0
    val dead = impactDeletesAt(spark, root)
      .join(IndexLayout.ImpactBm25.read(spark, root, "postings").select($"doc_id"),
        Seq("doc_id"), "left_semi")
      .count()
    dead.toDouble / n
  }

  /** Bound the impact layout's delete staleness: when the tombstoned
    * fraction exceeds `eps`, rebuild the index from the SURVIVING
    * docs (fresh N/avgdl/df — scores snap back to from-scratch
    * exactness; the spec pins hash-parity) and clear the tombstones;
    * below the threshold it is a no-op and [[bm25ServeFromLive]]
    * keeps masking. Returns whether a rebuild happened. `docs` is
    * the CURRENT source corpus — the impact layout stores derived
    * postings only, so its rebuild reads the source of truth, like
    * any segment-merge in an impact-ordered engine. The rebuild
    * reuses the index's own persisted n_buckets/df_cap, so a refresh
    * can never silently retune the index. */
  def bm25RefreshIfStale(docs: DataFrame, path: String, eps: Double = 0.2): Boolean = {
    val spark = docs.sparkSession
    if (bm25DeletedFraction(spark, path) <= eps) false
    else graft.sources.Lake.withWriterLock(spark, path, "bm25Refresh") {
      // the lease serializes rebuilds against other REWRITERS; readers
      // need no lock at all — the rebuild publishes a fresh version
      // directory atomically (publishVersion), so an unpinned serve
      // reads either the old complete state or the new complete state,
      // never a mix, and a crash mid-rebuild is invisible
      val root = impactRoot(spark, path)
      val st = IndexLayout.ImpactBm25.local(spark, root, "stats").head
      val survivors = docs.join(impactDeletesAt(spark, root),
        Seq("doc_id"), "left_anti")
      bm25WriteImpactFrom(survivors, path,
        st.getAs[Int]("n_buckets"), st.getAs[Int]("df_cap"))
      true
    }
  }

  /** C23e `bm25_stale_serve` — the impact layout's forget path under
    * the gate: build → tombstone every doc ≡ 3 (mod 5) (~20% of the
    * corpus) → refresh check at ε = 0.25 (below threshold — the
    * STALE branch is the one being graded) → live serve. The oracle
    * recomputes the same semantics independently: impacts off the
    * FULL corpus statistics (stale by construction), served postings
    * and self-test panel restricted to survivors. The refresh branch
    * (fraction > ε ⇒ rebuild ⇒ fresh-stats parity) is spec-pinned in
    * Bm25Spec rather than gated — at the gate it would be
    * indistinguishable from `bm25_retrieve` on the survivors. */
  def bm25StaleServe(spark: SparkSession, dir: String, k: Int = 10,
                     dfCap: Int = 100, qMod: Int = 20): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    if (corpusTokenFree(spark, dir))
      return Seq.empty[(Long, Long, Int, Long)]
        .toDF("query_id", "doc_id", "rk", "score")
    graft.sources.Lake.withScratchIndex(spark, "graft_bm25_stale") { tmp =>
      // the full-corpus impact build promotes from the session
      // template (sharedImpactIndex's key); the staleness lifecycle
      // (mark + ε-gated refresh) mutates this drill's own copy (r17 opt)
      promoteTemplate(spark)(bm25ImpactTemplate(spark, dir, None, dfCap))(tmp)
      bm25MarkDeleted(spark, tmp, docs.filter($"doc_id" % 5 === 3))
      bm25RefreshIfStale(Tables.fanout(docs), tmp, eps = 0.25)
      bm25ServeFromLive(spark, tmp, k, qMod)
    }
  }

  /** The RAW-postings index layout that makes BM25 APPENDABLE: unlike
    * [[bm25Write]]'s precomputed impacts — which every new batch would
    * invalidate, because idf, avgdl and N are GLOBAL statistics — the
    * raw layout stores (token, doc_id, dl, tf) postings partitioned by
    * token-hash bucket plus an append-only stats LOG of
    * (n_docs_delta, sum_dl_delta) rows. Appending a batch touches only
    * its tokens' buckets and adds one stats row; nothing existing
    * rewrites. Impacts are computed at SERVE time from the summed
    * stats — and since token-hash partitioning puts ALL of a token's
    * postings in one bucket, df is bucket-local, so the pruned
    * external-query read still computes exact df for its tokens.
    * This is E11's state machine persisted as tables: the stream and
    * disk maintenance paths share one semantics. */
  def bm25WriteRaw(docs: DataFrame, path: String, nBuckets: Int = 16,
                   tf: Option[DataFrame] = None): Unit =
    bm25AppendRaw(docs, path, Some(nBuckets), overwrite = true, tf = tf)

  /** Fold a new doc batch into a [[bm25WriteRaw]] index: append-only,
    * O(batch) — touched buckets gain files, the stats log gains one
    * row. The bucket count is READ FROM THE INDEX (the stats log
    * persists it), never trusted from the caller — an append routed
    * with the wrong modulus would scatter a token across buckets and
    * silently break bucket-local df. Serve-after-N-appends ≡ one-shot
    * build on the union corpus (the gate proves it against the
    * independent engine).
    *
    * CRASH SAFETY — the write order is the commit protocol: postings
    * and doclens first (tagged with a fresh batch_id), the stats-log
    * row LAST. The stats row is the commit record: [[bm25ServeRaw]]
    * only reads postings whose batch_id appears in the stats log, so
    * a failure between the writes leaves orphan rows that are never
    * served and never counted — serve sees exactly the pre-append
    * state, and re-driving the append (fresh batch_id) lands the
    * batch once. This is the reference's re-drivable idempotent-batch
    * posture (pg_engine.py:104-125, arxiv_etl.py:42-58) expressed as
    * a lake-native commit marker; [[bm25Vacuum]] reclaims orphans. */
  def bm25Append(docs: DataFrame, path: String,
                 tf: Option[DataFrame] = None): Unit =
    bm25AppendRaw(docs, path, None, overwrite = false, tf = tf)

  private[graft] def bm25AppendRaw(docs: DataFrame, path: String,
                                   nBucketsOpt: Option[Int], overwrite: Boolean,
                                   commit: Boolean = true,
                                   tf: Option[DataFrame] = None): Unit = {
    import docs.sparkSession.implicits._
    val spark = docs.sparkSession
    val mode = if (overwrite) "overwrite" else "append"
    val nBuckets = nBucketsOpt.getOrElse(rawIndexMeta(spark, path)._2)
    require(nBuckets > 0, s"n_buckets must be positive, got $nBuckets")
    // batch_id is unique PER ATTEMPT, so a re-driven append after a
    // mid-write crash cannot collide with its orphaned first attempt
    val batchId = java.util.UUID.randomUUID.toString
    // eager: tf feeds the postings, doclens AND the stats row. A
    // caller-provided tf table (the session memo's id-filtered slice —
    // tf rows are doc-local, so the filter commutes with the
    // tokenize) arrives checkpointed and replaces the tokenize.
    val tfT = tf.getOrElse(bm25TfTable(docs).localCheckpoint())
    if (overwrite) {
      // a fresh build resets the whole index — including tombstones
      // from a previous index at the same path
      val del = new org.apache.hadoop.fs.Path(s"$path/deletes")
      del.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(del, true)
    }
    // the per-doc length table feeds BOTH the doclens sidecar and the
    // stats delta — aggregate it once (one row per doc, metadata-sized)
    // instead of re-running the groupBy per write (r17 opt, guide §1.2)
    val doclens = tfT.groupBy($"doc_id").agg(first($"dl").as("dl")).localCheckpoint()
    // 1+2. postings and the per-doc length sidecar — independent
    // writes to disjoint dirs off checkpointed inputs; overlap them
    // (guide §2.6). Both stay invisible until the stats row commits.
    graft.Par.jobs(
      () => tfT.select(pmod(xxhash64($"token"), lit(nBuckets)).cast("int").as("bucket"),
          $"token", $"doc_id", $"dl", $"tf", lit(batchId).as("batch_id"))
        .repartition(col("bucket"))
        .write.partitionBy("bucket").mode(mode).parquet(s"$path/postings"),
      () => doclens
        .withColumn("batch_id", lit(batchId))
        .coalesce(1).write.mode(mode).parquet(s"$path/doclens"))
    // 3. the stats row LAST — this single-file write is the commit
    if (commit)
      doclens
        .agg(count(lit(1)).as("n_docs_delta"),
          coalesce(sum($"dl"), lit(0L)).as("sum_dl_delta"))
        .select(lit(batchId).as("batch_id"), $"n_docs_delta", $"sum_dl_delta",
          lit(nBuckets).as("n_buckets"))
        .coalesce(1).write.mode(mode).parquet(s"$path/stats_log")
  }

  /** The raw index's self-description, read off the stats log:
    * (committed batch ids, bucket count). O(appends + deletes) driver
    * rows — maintenance-cycle metadata, what a table format keeps in
    * its manifest. The bucket count is pinned at build time and
    * consistency-checked on every read, so an index can never be
    * served or appended under the wrong modulus. */
  private[graft] def rawIndexMeta(spark: SparkSession, path: String): (Seq[String], Int) = {
    val (log, nb) = rawIndexLog(spark, path)
    (log.map(_.batchId), nb)
  }

  /** One stats-log row: a committed append's (or delete's) deltas. */
  private[graft] final case class RawLogRow(batchId: String, nDocsDelta: Long,
                                            sumDlDelta: Long)

  /** [[rawIndexMeta]] with the log's deltas: the whole stats log in one
    * driver-side read ([[IndexLayout.Layout.local]], no job), so a serve
    * derives N and avgdl without a second scan. */
  private[graft] def rawIndexLog(spark: SparkSession, path: String): (Seq[RawLogRow], Int) = {
    val rows = IndexLayout.RawBm25.local(spark, path, "stats_log")
    val nb = rows.map(_.getAs[Int]("n_buckets")).distinct
    require(nb.nonEmpty, s"no committed batch in $path/stats_log")
    require(nb.length == 1,
      s"inconsistent n_buckets in $path/stats_log: ${nb.mkString(",")}")
    (rows.map(r => RawLogRow(r.getAs[String]("batch_id"), r.getAs[Long]("n_docs_delta"),
      r.getAs[Long]("sum_dl_delta"))), nb.head)
  }

  /** (n_docs, am) of a raw index at the `committed` batch set, summed
    * on the driver from its stats-log rows: n_docs = Σ n_docs_delta,
    * am = (1000 · Σ sum_dl_delta) div n_docs — the integers the SQL
    * aggregate `(1000 * t_tok) div n_docs` yields (exact long
    * arithmetic, division truncating toward zero). Both are None when
    * no committed row exists (SQL's sum over no rows). am is also None
    * when n_docs is 0: no live doc is left to score, so the serve
    * answers empty instead of dividing by zero. */
  private[graft] def rawIndexStats(log: Seq[RawLogRow],
                                   committed: Seq[String]): (Option[Long], Option[Long]) = {
    val keep = committed.toSet
    val live = log.filter(r => keep(r.batchId))
    if (live.isEmpty) (None, None)
    else {
      val nDocs = live.map(_.nDocsDelta).reduce(Math.addExact(_: Long, _: Long))
      val tTok = live.map(_.sumDlDelta).reduce(Math.addExact(_: Long, _: Long))
      (Some(nDocs),
        if (nDocs == 0L) None else Some(Math.multiplyExact(1000L, tTok) / nDocs))
    }
  }

  /** Committed tombstones (doc_id) of a raw index — empty if none
    * were ever written. Like postings, a tombstone batch is invisible
    * until its stats-log row commits. */
  private[graft] def rawIndexDeletes(spark: SparkSession, path: String,
                                     committed: Seq[String]): DataFrame = {
    import spark.implicits._
    val del = new org.apache.hadoop.fs.Path(s"$path/deletes")
    if (del.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(del))
      IndexLayout.RawBm25.read(spark, path, "deletes")
        .filter($"batch_id".isin(committed: _*)).select($"doc_id")
    else spark.emptyDataset[Long].toDF("doc_id")
  }

  /** DELETE docs from a raw index — the forget path a curation
    * pipeline needs (GDPR erasure, dedup-loser removal): tombstones,
    * not rewrites. Writes the victims' ids to `deletes/` and a
    * NEGATIVE stats-log row (computed exactly from the doclens
    * sidecar — N and Σdl shrink by precisely the victims'
    * contribution), so a from-scratch build on the surviving corpus
    * and the tombstoned index serve identical scores: idf, avgdl and
    * df all shift exactly (the gate proves it). Untouched postings
    * buckets keep their files byte-for-byte; [[bm25Vacuum]] reclaims
    * the dead rows physically. Same commit protocol as [[bm25Append]]
    * (tombstones first, stats row last) and idempotent by
    * construction: already-deleted and never-indexed ids contribute
    * nothing to the delta, so re-driving a delete is harmless. */
  def bm25Delete(spark: SparkSession, path: String, ids: DataFrame): Unit = {
    import spark.implicits._
    val (committed, nBuckets) = rawIndexMeta(spark, path)
    val batchId = java.util.UUID.randomUUID.toString
    val doclens = IndexLayout.RawBm25.read(spark, path, "doclens")
      .filter($"batch_id".isin(committed: _*))
    // eager: victims feed the tombstone write AND the stats delta
    val victims = doclens.join(ids.select($"doc_id").distinct(), Seq("doc_id"))
      .join(rawIndexDeletes(spark, path, committed), Seq("doc_id"), "left_anti")
      .select($"doc_id", $"dl").localCheckpoint()
    // 1. tombstones (invisible until the stats row commits)
    victims.select($"doc_id", lit(batchId).as("batch_id"))
      .coalesce(1).write.mode("append").parquet(s"$path/deletes")
    // 2. the negative stats row LAST — the commit
    victims.agg(count(lit(1)).as("n"), coalesce(sum($"dl"), lit(0L)).as("s"))
      .select(lit(batchId).as("batch_id"), (-$"n").as("n_docs_delta"),
        (-$"s").as("sum_dl_delta"), lit(nBuckets).as("n_buckets"))
      .coalesce(1).write.mode("append").parquet(s"$path/stats_log")
  }

  /** Fraction of a raw index's posting rows that a [[bm25Vacuum]]
    * would physically drop — tombstoned or orphaned (uncommitted)
    * rows over total. The measure a self-tuning maintenance loop
    * thresholds the rewrite on ([[Retention.bm25RetentionCycle]]'s
    * ε-gate — the [[bm25RefreshIfStale]] posture generalized to the
    * raw layout): below ε the vacuum isn't worth its write cost, so
    * the tick skips it and the fraction simply accumulates toward the
    * next tick. One scan reading only batch_id/doc_id (parquet prunes
    * the rest) against metadata-sized tombstones. */
  def bm25ReclaimableFraction(spark: SparkSession, path: String): Double = {
    import spark.implicits._
    val (committed, _) = rawIndexMeta(spark, path)
    val post = IndexLayout.RawBm25.read(spark, path, "postings")
      .select($"batch_id", $"doc_id")
    val counts = post
      .join(rawIndexDeletes(spark, path, committed).withColumn("dead", lit(1)),
        Seq("doc_id"), "left_outer")
      .agg(count(lit(1)).as("total"),
        sum(when($"dead".isNotNull || !$"batch_id".isin(committed: _*), 1L)
          .otherwise(0L)).as("reclaimable"))
      .head()
    if (counts.getLong(0) == 0L) 0.0
    else counts.getLong(1).toDouble / counts.getLong(0)
  }

  /** VACUUM a raw index: physically drop orphaned (uncommitted) and
    * tombstoned postings, and defragment buckets whose file count
    * exceeded `maxFilesPerBucket` (every append adds a file per
    * touched bucket — the ivfCompact pathology for text). Rewrites
    * ONLY dirty buckets via dynamic partition overwrite; clean
    * buckets keep their files byte-for-byte. stats_log, doclens and
    * deletes/ are retained — the log rows stay the exact record of
    * N/Σdl (tombstone removal does not change them) and retained
    * tombstones keep re-deletes idempotent; both are
    * metadata-sized. A bucket drained to zero live rows has its
    * directory dropped through the Hadoop FileSystem API. */
  def bm25Vacuum(spark: SparkSession, path: String,
                 maxFilesPerBucket: Int = 1): Unit =
      graft.sources.Lake.withWriterLock(spark, path, "bm25Vacuum") {
    // retention: a live reader pin means some snapshot still
    // references tombstoned/orphaned rows — reclaiming them now would
    // corrupt that pinned view, so refuse and let the caller retry
    graft.sources.Lake.requireUnpinned(spark, path, "bm25Vacuum")
    import spark.implicits._
    val (committed, _) = rawIndexMeta(spark, path)
    val post = IndexLayout.RawBm25.read(spark, path, "postings")
    val del = rawIndexDeletes(spark, path, committed)
    // dirty = has orphan or tombstoned rows (one scan that reads only
    // bucket/batch_id/doc_id — parquet prunes the rest) ∪ fragmented
    // (driver listing, O(buckets) metadata like a format manifest)
    val dirty = IndexLayout.partitionsOf(
      post.join(del, Seq("doc_id"), "left_semi").select($"bucket")
        .unionAll(post.filter(!$"batch_id".isin(committed: _*)).select($"bucket"))).toSet
    val postingsPath = new org.apache.hadoop.fs.Path(s"$path/postings")
    val fs = postingsPath.getFileSystem(spark.sessionState.newHadoopConf())
    val fragmented = graft.sources.Lake.fragmentedPartitions(
      spark, s"$path/postings", "bucket", maxFilesPerBucket)
    val targets = dirty ++ fragmented
    if (targets.nonEmpty) {
      // eager: the rewrite replaces the very files being read
      val clean = post.filter($"bucket".isin(targets.toSeq: _*))
        .filter($"batch_id".isin(committed: _*))
        .join(del, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      clean.repartition(col("bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(s"$path/postings")
      // a target bucket with zero surviving rows writes no partition —
      // drop its stale directory explicitly
      val stillThere = IndexLayout.partitionsOf(clean.select($"bucket")).toSet
      (targets -- stillThere).foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/postings/bucket=$b"), true)
      }
    }
  }

  /** The raw index's current committed batch set — pass it back into
    * [[bm25ServeRaw]] as `snapshot` to pin a serve (or a whole query
    * session) to this exact index state: appends and deletes that
    * commit AFTER the snapshot stay invisible, so a long-running
    * probe never sees a half-session mix of index versions. O(appends
    * + deletes) driver strings. Snapshots survive appends/deletes
    * (both are append-only on disk); [[bm25Vacuum]] physically
    * reclaims rows, so a session that must outlive a maintenance
    * window takes a read pin ([[graft.sources.Lake.pinSnapshot]]) —
    * vacuum refuses to reclaim while the pin is live, and the pin
    * expires by TTL if the reader crashes. */
  def bm25Snapshot(spark: SparkSession, path: String): Seq[String] =
    rawIndexMeta(spark, path)._1

  /** Serve BM25 from a raw appendable index: global stats summed from
    * the log rows the manifest read already collected
    * ([[rawIndexStats]]), df counts per token off its own bucket, the
    * SAME integer impact formula, the same scoring tail. Only
    * COMMITTED batches are visible (batch_id ∈ stats_log — the
    * [[bm25Append]] crash-safety contract) and committed tombstones
    * are anti-joined out, so serve always reflects a prefix of
    * successful appends/deletes, never a torn one. The bucket count
    * comes from the index's own stats log — an index built with any
    * nBuckets routes external queries correctly. With `queries`, the
    * postings read statically prunes to the query tokens' buckets
    * ([[bm25ServeFrom]]'s routing). With `snapshot` (a
    * [[bm25Snapshot]] value), the serve reads exactly that committed
    * state — snapshot isolation against concurrent maintenance. */
  def bm25ServeRaw(spark: SparkSession, path: String, k: Int = 10,
                   dfCap: Int = 100, qMod: Int = 20,
                   queries: Option[DataFrame] = None,
                   snapshot: Option[Seq[String]] = None): DataFrame = {
    import spark.implicits._
    val (log, nBuckets) = rawIndexLog(spark, path)
    val committed = snapshot.getOrElse(log.map(_.batchId))
    val (nDocs, am) = rawIndexStats(log, committed)
    val stats = Seq((nDocs, am)).toDF("n_docs", "am")
    val dead = rawIndexDeletes(spark, path, committed)
    val post0 = IndexLayout.RawBm25.read(spark, path, "postings")
      .select($"bucket", $"token", $"doc_id", $"dl", $"tf", $"batch_id")
    val pruned = queries match {
      case Some(q0) =>
        val (q, buckets) = bm25Route(q0, nBuckets)
        (post0.filter($"bucket".isin(buckets: _*)), Some(q))
      case None => (post0, None)
    }
    // committed-batch filter + tombstone anti-join AFTER the bucket
    // prune: both run over the pruned read. Tombstones are bounded
    // curation metadata — broadcast the anti-join side.
    val tf = pruned._1.filter($"batch_id".isin(committed: _*))
      .join(broadcast(dead), Seq("doc_id"), "left_anti")
      .drop("bucket", "batch_id").localCheckpoint()
    val dfc = tf.groupBy($"token").agg(count(lit(1)).as("df")).filter($"df" <= dfCap)
    val post = tf.join(dfc, Seq("token"))
      .crossJoin(broadcast(stats))
      .select($"doc_id", $"token", expr(bm25ImpactExpr).as("impact"))
    val q = pruned._2.getOrElse(
      tf.filter($"doc_id" % qMod === 0).select($"doc_id".as("query_id"), $"token"))
    bm25TopK(post, q, k)
  }

  /** C23c `bm25_append` — the incremental text index under the gate:
    * build the raw index from a 70%-by-id doc prefix, [[bm25Append]]
    * the remaining 30% as an arriving batch, serve the self-test
    * panel. HASH-EQUAL to `bm25_retrieve` over the FULL corpus on
    * C23's own oracle — global stats (N, avgdl), dfs and postings all
    * shifted with the append, and the served scores must land
    * integer-exact anyway: full-recompute parity through an
    * independent engine, the scd2_apply posture for text retrieval. */
  def bm25AppendServe(spark: SparkSession, dir: String, k: Int = 10,
                      dfCap: Int = 100, qMod: Int = 20): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val maxRow = docs.agg(max($"doc_id")).head()
    if (maxRow.isNullAt(0))
      return Seq.empty[(Long, Long, Int, Long)]
        .toDF("query_id", "doc_id", "rk", "score")
    val cut = maxRow.getLong(0) * 7 / 10
    graft.sources.Lake.withScratchIndex(spark, "graft_bm25_append") { tmp =>
      // both legs' tf tables are id-filtered slices of the session
      // memo (doc-local rows: the filter commutes with the tokenize) —
      // the drill's own write/append/serve lifecycle is unchanged
      val tfAll = tfTableFor(spark, dir)
      bm25WriteRaw(Tables.fanout(docs.filter($"doc_id" <= cut)), tmp,
        tf = Some(tfAll.filter($"doc_id" <= cut)))
      bm25Append(Tables.fanout(docs.filter($"doc_id" > cut)), tmp,
        tf = Some(tfAll.filter($"doc_id" > cut)))
      bm25ServeRaw(spark, tmp, k, dfCap, qMod)
    }
  }

  /** C23d `bm25_delete` — the raw index's FORGET path under the gate,
    * run as the full lifecycle: prefix build → batch append →
    * tombstone delete of every third doc ([[bm25Delete]]) → vacuum
    * (physical reclaim of tombstoned + orphaned rows,
    * [[bm25Vacuum]]) → serve. HASH-EQUAL to `bm25_retrieve`
    * recomputed FROM SCRATCH on the surviving corpus through the
    * independent engine: N, avgdl, df and every posting must shrink
    * by exactly the victims' contribution, and the self-test panel
    * must lose its deleted queries — the scd2_apply parity posture
    * applied to erasure. */
  def bm25DeleteServe(spark: SparkSession, dir: String, k: Int = 10,
                      dfCap: Int = 100, qMod: Int = 20): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val maxRow = docs.agg(max($"doc_id")).head()
    if (maxRow.isNullAt(0))
      return Seq.empty[(Long, Long, Int, Long)]
        .toDF("query_id", "doc_id", "rk", "score")
    val cut = maxRow.getLong(0) * 7 / 10
    graft.sources.Lake.withScratchIndex(spark, "graft_bm25_delete") { tmp =>
      // memo-fed tf slices, same as the append drill (r17 opt)
      val tfAll = tfTableFor(spark, dir)
      bm25WriteRaw(Tables.fanout(docs.filter($"doc_id" <= cut)), tmp,
        tf = Some(tfAll.filter($"doc_id" <= cut)))
      bm25Append(Tables.fanout(docs.filter($"doc_id" > cut)), tmp,
        tf = Some(tfAll.filter($"doc_id" > cut)))
      bm25Delete(spark, tmp, docs.filter($"doc_id" % 3 === 0).select($"doc_id"))
      bm25Vacuum(spark, tmp)
      bm25ServeRaw(spark, tmp, k, dfCap, qMod)
    }
  }

  /** The SHARED impact-index directory for `dir` — built once per
    * (session, dir, dfCap) via [[graft.sources.Lake.sharedIndex]] and
    * reused by every read-only serve (C23b, C27b): the
    * build-once-serve-many economics made literal inside one process.
    * Read-only by contract (the impact layout cannot be appended or
    * forgotten — that is the raw layout's job). */
  private[graft] def sharedImpactIndex(spark: SparkSession, dir: String,
                                       dfCap: Int): String =
    // the canonical full-corpus bm25impact template — one physical
    // build per session, shared with every cutover/drill (r16/r17 opt)
    bm25ImpactTemplate(spark, dir, None, dfCap)

  /** C23b `bm25_serve` — the build-once-serve-many path under the
    * gate: [[bm25Write]] the index (shared per session — C27b reuses
    * it), self-panel [[bm25ServeFrom]] it; hash-equal to
    * `bm25_retrieve` on C23's own oracle (precomputed integer impacts
    * round-trip parquet exactly). */
  def bm25IndexServe(spark: SparkSession, dir: String, k: Int = 10,
                     dfCap: Int = 100, qMod: Int = 20): DataFrame = {
    import spark.implicits._
    // a corpus with no indexable terms (empty, or all docs under the
    // 3-token shingle floor) writes no postings partitions and a
    // schemaless dir is unreadable — serve the empty result instead
    if (corpusTokenFree(spark, dir))
      return Seq.empty[(Long, Long, Int, Long)]
        .toDF("query_id", "doc_id", "rk", "score")
    bm25ServeFrom(spark, sharedImpactIndex(spark, dir, dfCap), k, qMod)
  }

  /** C23f `bm25_catalog_serve` — the CROSS-PROCESS deployment story
    * composed end-to-end under the gate: a maintenance process builds
    * the epoch-1 index (70% of the corpus) into a catalog
    * ([[graft.sources.Catalog.resolveOrBuild]], commit-last
    * registration), the corpus drifts, the stamped epoch-2 resolve
    * REBUILDS on the full corpus and supersedes by seq (the freshness
    * contract — no stale serve), `Catalog.vacuum` reclaims the
    * superseded epoch-1 store under the lease+pin retention gates,
    * and a serving process that knows only the catalog root resolves
    * by manifest lookup and serves. HASH-EQUAL to `bm25_retrieve` on
    * the full corpus — the whole catalog lifecycle must be
    * answer-invisible. The spec additionally pins the epoch-1 fleet
    * serve (lookup parity before the drift) and the physical reclaim
    * of the superseded build. */
  def bm25CatalogServe(spark: SparkSession, dir: String, k: Int = 10,
                       dfCap: Int = 100, qMod: Int = 20): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    if (corpusTokenFree(spark, dir))
      return Seq.empty[(Long, Long, Int, Long)]
        .toDF("query_id", "doc_id", "rk", "score")
    val cut = docs.agg(max($"doc_id")).head().getLong(0) * 7 / 10
    val key = s"corpus:$dir dfCap=$dfCap"
    graft.sources.Lake.withScratchIndex(spark, "graft_catalog_srv") { cat =>
      // nightly maintenance, epoch 1: index the corpus as of the cut.
      // Both epoch artifacts promote from the session templates (the
      // same keys the fleet cutover builds — one corpus pass per
      // snapshot per session, r17 opt); the drill still registers,
      // supersedes, vacuums and serves REAL files it owns.
      graft.sources.Catalog.resolveOrBuild(spark, cat, "bm25impact", key,
        stamp = "epoch-1")(promoteTemplate(spark)(
        bm25ImpactTemplate(spark, dir, Some(cut), dfCap)))
      // the corpus drifted: the stamped epoch-2 resolve rebuilds on
      // the full corpus and supersedes — never serves stale
      graft.sources.Catalog.resolveOrBuild(spark, cat, "bm25impact", key,
        stamp = "epoch-2")(promoteTemplate(spark)(
        bm25ImpactTemplate(spark, dir, None, dfCap)))
      // reclaim the superseded epoch-1 store (lease + pin gates)
      graft.sources.Catalog.vacuum(spark, cat)
      // a serving process: manifest lookup only, then serve
      val (path, stamp) =
        graft.sources.Catalog.lookup(spark, cat, "bm25impact", key).get
      require(stamp == "epoch-2", s"fleet must resolve the fresh epoch: $stamp")
      bm25ServeFrom(spark, path, k, qMod)
    }
  }

  /** C27d `fleet_catalog_serve` — the FLEET-WIDE epoch cutover across
    * all four durable index kinds: one maintenance epoch builds
    * bm25impact + ivf + dedup_sig + line_df against the SAME corpus
    * snapshot and flips them visible in ONE
    * [[graft.sources.Catalog.registerAll]] commit (one manifest file,
    * one shared seq — a fleet can never serve kind A from epoch-2 and
    * kind B from epoch-1), the corpus drifts, epoch-2 rebuilds all
    * four and supersedes atomically, vacuum reclaims every superseded
    * store, and a serving process resolves EVERY kind by manifest
    * lookup, refuses mixed epochs, and serves. Gated on the
    * dedup-signature member: HASH-EQUAL to cross_dedup's from-scratch
    * oracle on the full reference — the whole four-kind lifecycle
    * must be answer-invisible. The spec pins the one-seq-per-epoch
    * atomicity across all four kinds and the mixed-epoch refusal. */
  def fleetCatalogServe(spark: SparkSession, dir: String,
                        threshold: Double = 0.5, dfCap: Int = 100,
                        dim: Int = 64): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    if (corpusTokenFree(spark, dir))
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("new_id", "ref_id", "n_inter", "jaccard")
    val cut = docs.agg(max($"doc_id")).head().getLong(0) * 7 / 10
    val neu = docs.select(
      ($"doc_id" + graft.operators.NearDup.BigOffset).as("doc_id"), $"text")
    val key = s"corpus:$dir"
    graft.sources.Lake.withScratchIndex(spark, "graft_fleet_cat") { cat =>
      fleetCatalogCutover(spark, dir, cat, key, "epoch-1", Some(cut), dfCap, dim)
      fleetCatalogCutover(spark, dir, cat, key, "epoch-2", None, dfCap, dim)
      graft.sources.Catalog.vacuum(spark, cat)
      val resolved = fleetCatalogResolve(spark, cat, key, "epoch-2")
      graft.operators.NearDup.dedupServe(spark, resolved("dedup_sig"),
        Tables.fanout(neu), threshold, dfCap,
        shingled = Some(graft.operators.NearDup.neuShinglesFor(spark, dir)))
    }
  }

  /** The serving process's half of C27d: resolve EVERY kind from the
    * manifest and refuse mixed epochs — a fleet must never serve kind
    * A from one corpus state and kind B from another. */
  private[graft] def fleetCatalogResolve(spark: SparkSession, cat: String,
                                         key: String,
                                         epoch: String): Map[String, String] = {
    val resolved = FleetKinds.map(kind =>
      kind -> graft.sources.Catalog.lookup(spark, cat, kind, key).get).toMap
    require(resolved.values.forall(_._2 == epoch),
      s"fleet must resolve ONE fresh epoch for all four kinds: " +
        resolved.map { case (k, (_, st)) => s"$k=$st" }.mkString(" "))
    resolved.map { case (k, (p, _)) => k -> p }
  }

  private[graft] val FleetKinds =
    Seq("bm25impact", "ivf", "dedup_sig", "line_df")

  /** One maintenance epoch for the whole fleet: build all four kinds
    * against the same corpus snapshot (`cutId` bounds the prefix; None
    * = full), then flip them visible together in one registerAll
    * commit. Store paths follow the catalog's store convention so its
    * vacuum reclaims superseded epochs.
    *
    * Each kind's artifact is BUILT ONCE per (corpus snapshot, params)
    * in the session's shared template dir and PROMOTED — a physical
    * file copy — into this cutover's own catalog store. That is the
    * economics a fleet actually runs: a rollback rehearsal (C27e) must
    * not re-tokenize the corpus four more times to obtain the same
    * artifacts the cutover drill (C27d) already built; one maintenance
    * job pays the build, every catalog that registers it pays a copy.
    * The one-time build cost stays visible — MemoLog attributes it to
    * whichever bench entry built first (bench_out's memo_builds) — and
    * every drill still registers, vacuums and reclaims REAL files it
    * exclusively owns. */
  /** The canonical session-template key per (kind, corpus snapshot,
    * params) — ONE vocabulary for every template-and-promote cutover
    * (fleet, hybrid) AND the read-only serves (C23b's shared impact
    * dir, the hybrid IVF), so the same physical artifact is built
    * once per session no matter which entry needs it first (r16 opt:
    * the hybrid cutover used to rebuild what the fleet cutover had
    * already built). Keys carry EVERY parameter that shapes the
    * artifact (dfCap shapes postings; dim shapes embeddings;
    * nBuckets/nlist shape the physical layout) so a parameter drift
    * at one build site can never silently serve the other callers a
    * mismatched artifact — callers that deviate from the registry
    * defaults get their own template. */
  private[graft] def indexTemplateKey(kind: String, dir: String, snap: String,
                                      dfCap: Int, dim: Int,
                                      nBuckets: Int = 16,
                                      nlist: Int = 16): String = kind match {
    case "bm25impact" => s"tmpl:bm25impact:$dir:$snap:$dfCap:nb$nBuckets"
    case "ivf"        => s"tmpl:ivf:$dir:$snap:$dim:nl$nlist"
    case "dedup_sig"  => s"tmpl:dedup_sig:$dir:$snap:$dfCap:nb$nBuckets"
    case "line_df"    => s"tmpl:line_df:$dir:$snap:nb$nBuckets"
    case "para_df"    => s"tmpl:para_df:$dir:$snap:nb$nBuckets"
    case "kn2store"   => s"tmpl:kn2store:$dir:$snap"
    case "ivfpre"     => s"tmpl:ivfpre:$dir:$snap:nl$nlist"
    case "nbmodel"    => s"tmpl:nbmodel:$dir:$snap:$dim"
    case other => throw new IllegalArgumentException(s"unknown template kind $other")
  }

  /** Physically COPY a resolved session template into a destination
    * store dir (the promote step of every template-and-promote drill,
    * r17 opt — the r16 verdict's deferred item). The drill's subject
    * is the register/supersede/vacuum/rollback lifecycle over real
    * files it exclusively owns, not the build, so the epoch artifacts
    * promote from one session build instead of re-running a corpus
    * pass per epoch per entry; MemoLog attributes the one-time build
    * to whichever entry needed it first. `src` is by-name so a
    * resolveOrBuild HIT never resolves (or builds) the template. */
  private[graft] def promoteTemplate(spark: SparkSession)(src: => String)
      : String => Unit = d => {
    // an empty pre-created scratch dir (withScratchIndex) is replaced
    // wholesale so the copy lands AS `d`, not under it
    val dp = new org.apache.hadoop.fs.Path(d)
    val fs = dp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dp)) fs.delete(dp, true)
    promoteCopy(spark, src, d)
  }

  /** ONE canonical builder per template kind (the r16 ADVICE fix made
    * structural: whichever caller runs first defines the artifact for
    * every consumer, so every key-sharing call site routes through
    * THESE — a parameter drift at one site is now impossible, and the
    * builds feed from the session memos). The bm25 impacts build from
    * the memoized tf table — per-doc tf rows are doc-local, so
    * filtering the full tf to a doc-id prefix ≡ tokenizing the prefix
    * (the r17-run-1 lesson: a fresh tokenize inside the template cost
    * 10 s where the memo-fed build costs 2 s). */
  private[graft] def bm25ImpactTemplate(spark: SparkSession, dir: String,
                                        cutId: Option[Long],
                                        dfCap: Int = 100): String =
    graft.sources.Lake.sharedIndex(spark,
      indexTemplateKey("bm25impact", dir, cutId.fold("full")(_.toString),
        dfCap, 0)) { d =>
      val tf = cutId.fold(tfTableFor(spark, dir))(c =>
        tfTableFor(spark, dir).filter(col("doc_id") <= c))
      bm25WriteImpactTf(tf, d, 16, dfCap)
    }

  private[graft] def ivfTemplate(spark: SparkSession, dir: String,
                                 cutId: Option[Long], dim: Int = 64): String =
    graft.sources.Lake.sharedIndex(spark,
      indexTemplateKey("ivf", dir, cutId.fold("full")(_.toString), 0, dim)) { d =>
      graft.operators.Similarity.ivfWriteFrom(
        cutId.fold(docEmbedDense(spark, dir, dim))(c =>
          docEmbedDense(spark, dir, dim).filter(col("vec_id") <= c)),
        d, nlist = 16)
    }

  /** line_df over the FULL corpus (the fleet family). */
  private[graft] def lineDfTemplate(spark: SparkSession, dir: String,
                                    cutId: Option[Long]): String =
    graft.sources.Lake.sharedIndex(spark,
      indexTemplateKey("line_df", dir, cutId.fold("full")(_.toString), 0, 0)) { d =>
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      lineIndexWrite(Tables.fanout(
        cutId.fold(docs)(c => docs.filter(col("doc_id") <= c))), d)
    }

  /** line_df over the mm-excluded reference (doc_id % 3 != 0 — the
    * C30 drill family; "ref3" snaps so it can never alias the fleet's
    * full-corpus artifacts). */
  private[graft] def lineDfRef3Template(spark: SparkSession, dir: String,
                                        cutId: Option[Long]): String =
    graft.sources.Lake.sharedIndex(spark,
      indexTemplateKey("line_df", dir,
        cutId.fold("ref3:full")(c => s"ref3:$c"), 0, 0)) { d =>
      val ref = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 3 =!= 0)
      lineIndexWrite(Tables.fanout(
        cutId.fold(ref)(c => ref.filter(col("doc_id") <= c))), d)
    }

  /** para_df over the mm-excluded reference PREFIX — C38b
    * (`para_dedup_serve`) and E29 (`stream_para_index`) both
    * initialize their lifecycle from the same 70% ref3 prefix; the
    * drills' appends/deletes/serves mutate their own promoted copy. */
  private[graft] def paraDfRef3Template(spark: SparkSession, dir: String,
                                        cut: Long): String =
    graft.sources.Lake.sharedIndex(spark,
      indexTemplateKey("para_df", dir, s"ref3:$cut", 0, 0)) { d =>
      val ref = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 3 =!= 0)
      paraIndexWrite(Tables.fanout(ref.filter(col("doc_id") <= cut)), d)
    }

  /** The 60% id-mod KN count-store prefix — C21i (`kn_append`) and
    * E31 (`stream_kn_append`) both initialize from it; counts are
    * additive integers, so each drill's appends/retractions fold into
    * its own promoted copy exactly as into a fresh write. */
  private[graft] def knPrefixStoreTemplate(spark: SparkSession, dir: String): String =
    graft.sources.Lake.sharedIndex(spark,
      indexTemplateKey("kn2store", dir, "mod10lt6", 0, 0)) { d =>
      val all = Tables.fanout(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text")))
      knStoreWrite(all.filter(col("doc_id") % 10 < 6), d)
    }

  /** The persisted NB model template — full-corpus models come from
    * the nbTrainFor memo; prefix models train once per key. */
  private[graft] def nbModelTemplate(spark: SparkSession, dir: String,
                                     cutId: Option[Long],
                                     dim: Int = 64): String =
    graft.sources.Lake.sharedIndex(spark,
      indexTemplateKey("nbmodel", dir, cutId.fold("full")(_.toString),
        0, dim)) { d =>
      val docs = Tables.fanout(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text")))
      cutId match {
        case Some(c) => nbModelWrite(docs.filter(col("doc_id") <= c), d, dim,
          trained = Some(nbTrain(docs.filter(col("doc_id") <= c), dim,
            tf = Some(unigramTfFor(spark, dir).filter(col("doc_id") <= c)))))
        case None => nbModelWrite(docs, d, dim,
          trained = Some(nbTrainFor(spark, dir, dim)))
      }
    }

  /** Physical copy of a finished template index into a catalog-owned
    * store directory — the promote step of every template-and-promote
    * cutover (the drill registers, vacuums and reclaims REAL files it
    * exclusively owns while the session template stays reusable). */
  private[graft] def promoteCopy(spark: SparkSession, src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sp = new org.apache.hadoop.fs.Path(src)
    val dp = new org.apache.hadoop.fs.Path(dst)
    org.apache.hadoop.fs.FileUtil.copy(sp.getFileSystem(conf), sp,
      dp.getFileSystem(conf), dp, false, conf)
  }

  private[graft] def fleetCatalogCutover(spark: SparkSession, dir: String,
                                         cat: String, key: String,
                                         stamp: String, cutId: Option[Long],
                                         dfCap: Int = 100,
                                         dim: Int = 64): Unit = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    def store(kind: String) =
      s"$cat/store/$kind/${java.util.UUID.randomUUID}"
    val (bm, iv, sg, ln) =
      (store("bm25impact"), store("ivf"), store("dedup_sig"), store("line_df"))
    // the four kind builds are INDEPENDENT (disjoint template keys,
    // disjoint store dirs) — overlap them (guide §2.6: back-fill the
    // tail of each build's jobs with the next build's tasks) and keep
    // the one-commit registerAll strictly after all four land. Every
    // leg routes through its kind's CANONICAL template builder (r17).
    graft.Par.jobs(
      () => promoteCopy(spark, bm25ImpactTemplate(spark, dir, cutId, dfCap), bm),
      () => promoteCopy(spark, ivfTemplate(spark, dir, cutId, dim), iv),
      () => promoteCopy(spark,
        graft.operators.NearDup.dedupSigTemplate(spark, dir, cutId, dfCap), sg),
      () => promoteCopy(spark, lineDfTemplate(spark, dir, cutId), ln))
    graft.sources.Catalog.registerAll(spark, cat, Seq(
      ("bm25impact", key, bm, stamp), ("ivf", key, iv, stamp),
      ("dedup_sig", key, sg, stamp), ("line_df", key, ln, stamp)))
  }

  /** C27e `fleet_rollback_serve` — the FLEET-WIDE rollback drill:
    * C23g proves the single-kind rollback; this entry proves the
    * operational story is SYMMETRIC with C27d's four-kind cutover. A
    * fleet that flipped bm25impact + ivf + dedup_sig + line_df
    * visible in one commit must be able to flip them BACK in one
    * commit — rolling kinds back one at a time recreates exactly the
    * mixed-epoch state [[fleetCatalogResolve]]'s refusal exists to
    * prevent. Lifecycle under the gate: epoch-1 (70% prefix) cuts all
    * four kinds over atomically, epoch-2 (the drill's "bad" fleet
    * build, full corpus) supersedes atomically, a keepEpochs=2 vacuum
    * retains rollback headroom for EVERY kind,
    * [[graft.sources.Catalog.rollbackAll]] re-registers all four
    * prior epochs under ONE shared seq (all-or-nothing: a kind
    * without headroom aborts the drill with nothing written), the
    * next default vacuum reclaims the four bad-epoch stores while the
    * four rolled-back-to ones survive (they are the newest
    * registrations again), and the serving process resolves every
    * kind — refusing mixed epochs — and serves. HASH-EQUAL to
    * cross_dedup's from-scratch oracle on the 70% prefix reference:
    * the rollback must restore the prior fleet answer exactly,
    * through the reclaim. */
  def fleetRollbackServe(spark: SparkSession, dir: String,
                         threshold: Double = 0.5, dfCap: Int = 100,
                         dim: Int = 64): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    if (corpusTokenFree(spark, dir))
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("new_id", "ref_id", "n_inter", "jaccard")
    val cut = docs.agg(max($"doc_id")).head().getLong(0) * 7 / 10
    val neu = docs.select(
      ($"doc_id" + graft.operators.NearDup.BigOffset).as("doc_id"), $"text")
    val key = s"corpus:$dir"
    graft.sources.Lake.withScratchIndex(spark, "graft_fleet_rb") { cat =>
      fleetCatalogCutover(spark, dir, cat, key, "epoch-1", Some(cut), dfCap, dim)
      fleetCatalogCutover(spark, dir, cat, key, "epoch-2", None, dfCap, dim)
      // the cutover discipline that makes rollback possible at all:
      // every kind's epoch-1 store survives the routine reclaim
      graft.sources.Catalog.vacuum(spark, cat, keepEpochs = 2)
      // epoch-2 is the drill's bad fleet build: one commit rolls all
      // four kinds back together
      val back = graft.sources.Catalog.rollbackAll(spark, cat,
        FleetKinds.map(k => (k, key)))
      require(back.forall(_._4 == "epoch-1"),
        s"fleet rollback must restore the prior epoch for every kind: $back")
      // reclaim the four bad-epoch stores; the rolled-back-to four
      // must survive (reclaim asymmetry, spec-pinned per kind)
      graft.sources.Catalog.vacuum(spark, cat)
      val resolved = fleetCatalogResolve(spark, cat, key, "epoch-1")
      graft.operators.NearDup.dedupServe(spark, resolved("dedup_sig"),
        Tables.fanout(neu), threshold, dfCap,
        shingled = Some(graft.operators.NearDup.neuShinglesFor(spark, dir)))
    }
  }

  /** C23g `bm25_rollback_serve` — the ROLLBACK DRILL composed under
    * the gate, the operational loop `Catalog.vacuum(keepEpochs)`'s
    * retention headroom exists for: epoch-1 (70% prefix) registers,
    * epoch-2 (full corpus — the drill's "bad" build) supersedes, a
    * keepEpochs=2 vacuum retains rollback headroom,
    * [[graft.sources.Catalog.rollback]] re-registers the prior epoch
    * at a new seq (one rename-atomic commit — every fleet lookup flips
    * back together), the next DEFAULT vacuum reclaims the bad epoch's
    * store while keeping the rolled-back-to one (it is the newest
    * registration again), and the fleet serves. HASH-EQUAL to
    * `bm25_retrieve` on the 70% prefix — the rollback must restore the
    * prior answer exactly, through the reclaim. */
  def bm25RollbackServe(spark: SparkSession, dir: String, k: Int = 10,
                        dfCap: Int = 100, qMod: Int = 20): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    if (corpusTokenFree(spark, dir))
      return Seq.empty[(Long, Long, Int, Long)]
        .toDF("query_id", "doc_id", "rk", "score")
    val cut = docs.agg(max($"doc_id")).head().getLong(0) * 7 / 10
    val key = s"corpus:$dir dfCap=$dfCap"
    graft.sources.Lake.withScratchIndex(spark, "graft_rollback_srv") { cat =>
      // epoch artifacts promote from the session templates (one corpus
      // pass per snapshot per session — r17 opt); the rollback drill's
      // subject is the supersede/rollback/vacuum lifecycle, which
      // still runs over real files it owns
      graft.sources.Catalog.resolveOrBuild(spark, cat, "bm25impact", key,
        stamp = "epoch-1")(promoteTemplate(spark)(
        bm25ImpactTemplate(spark, dir, Some(cut), dfCap)))
      graft.sources.Catalog.resolveOrBuild(spark, cat, "bm25impact", key,
        stamp = "epoch-2")(promoteTemplate(spark)(
        bm25ImpactTemplate(spark, dir, None, dfCap)))
      // the cutover discipline that makes rollback possible at all
      graft.sources.Catalog.vacuum(spark, cat, keepEpochs = 2)
      val (_, back) = graft.sources.Catalog.rollback(spark, cat,
        "bm25impact", key)
      require(back == "epoch-1", s"rollback must restore the prior epoch: $back")
      // reclaim the bad epoch; the rolled-back-to store must survive it
      graft.sources.Catalog.vacuum(spark, cat)
      val (path, stamp) =
        graft.sources.Catalog.lookup(spark, cat, "bm25impact", key).get
      require(stamp == "epoch-1", s"fleet must resolve the rollback: $stamp")
      bm25ServeFrom(spark, path, k, qMod)
    }
  }

  /** The (doc_id, dl, token, tf) table BM25 builds on. `dl` rides
    * THROUGH the tf aggregate as a functionally-dependent grouping
    * column (constant per doc_id — zero extra shuffle volume), so the
    * postings build needs NO per-doc length join and nothing
    * downstream re-runs the tokenize pipeline (re-deriving dl from
    * the scan cost 2x the query's task time in re-tokenization; a
    * separate groupBy-sum cost an extra shuffled agg + join). Shared
    * with the streaming postings maintainer (E11) so the term space
    * cannot drift between batch and stream. */
  private[graft] def bm25TfTable(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.withColumn("t", toks($"text")).filter(size($"t") >= 3)
      .select($"doc_id", (size($"t") - 2).cast("long").as("dl"), explode(expr(
        """transform(sequence(0, size(t) - 3),
          |  i -> concat_ws(' ', t[i], t[i+1], t[i+2]))""".stripMargin)).as("token"))
      .groupBy($"doc_id", $"dl", $"token").agg(count(lit(1)).as("tf"))
  }

  /** C23's integer impact formula (see [[bm25Retrieve]]'s Scaladoc for
    * the exact-rational derivation) — ONE definition consumed by the
    * batch plan and the streaming serve path. Expects columns
    * n_docs, df, am, tf, dl in scope. */
  private[graft] val bm25ImpactExpr: String =
    """(least((n_docs * 100) div df, 100000) * (44 * am * tf))
      |  div (20 * am * tf + 6 * am + 18000 * dl)""".stripMargin

  /** Shared scoring tail: per-query partial sums over the posting ×
    * broadcast-panel join, then the per-query top-k window. */
  private[graft] def bm25TopK(post: DataFrame, q: DataFrame, k: Int): DataFrame = {
    import post.sparkSession.implicits._
    val scores = post.join(broadcast(q), Seq("token"))
      .groupBy($"query_id", $"doc_id").agg(sum($"impact").as("score"))
    val w = Window.partitionBy($"query_id").orderBy($"score".desc, $"doc_id")
    scores.withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .select($"query_id", $"doc_id", $"rk", $"score")
  }

  /** `pred` restricts the oracle corpus (SQL over `documents`
    * columns) — the from-scratch recompute the delete gate compares
    * the tombstoned index against. `qPred` overrides the self-test
    * panel predicate (default: every `qMod`-th doc) — the served
    * entries pass a bounded panel like `doc_id < 50`. */
  /** `servedPred` restricts only the SERVED side (postings and panel)
    * while corpus statistics stay global — the oracle form of
    * [[bm25ServeFromLive]]'s staleness-bounded semantics: a deleted
    * doc is invisible, but N/avgdl/df still count it. */
  def bm25RetrieveSql(k: Int = 10, dfCap: Int = 100, qMod: Int = 20,
                      pred: String = "TRUE", qPred: String = "",
                      servedPred: String = "TRUE"): String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
       |  WHERE ($pred) AND length(trim(text)) > 0),
       |tf AS (
       |  SELECT doc_id, token, COUNT(*) AS tf FROM (
       |    SELECT doc_id, unnest(list_transform(range(0, len(l) - 2),
       |             i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])) AS token
       |    FROM tok WHERE len(l) >= 3)
       |  GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(len(l) - 2 AS BIGINT) AS dl FROM tok WHERE len(l) >= 3),
       |stats AS (SELECT COUNT(*) AS n_docs,
       |                 (1000 * CAST(SUM(dl) AS BIGINT)) // COUNT(*) AS am FROM dl),
       |dfc AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1 HAVING COUNT(*) <= $dfCap),
       |post AS (
       |  SELECT tf.doc_id, tf.token,
       |         (LEAST((s.n_docs * 100) // dfc.df, 100000) * (44 * s.am * tf.tf))
       |           // (20 * s.am * tf.tf + 6 * s.am + 18000 * d.dl) AS impact
       |  FROM tf JOIN dfc USING (token) JOIN dl d ON d.doc_id = tf.doc_id, stats s),
       |live AS (SELECT * FROM post WHERE ($servedPred)),
       |q AS (SELECT doc_id AS query_id, token FROM tf
       |      WHERE (${if (qPred.nonEmpty) qPred else s"doc_id % $qMod = 0"})
       |        AND ($servedPred)),
       |scores AS (
       |  SELECT q.query_id, p.doc_id, SUM(p.impact) AS score
       |  FROM live p JOIN q USING (token) GROUP BY 1, 2)
       |SELECT query_id, doc_id, CAST(rk AS INT) AS rk, CAST(score AS BIGINT) AS score
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
       |      FROM scores)
       |WHERE rk <= $k""".stripMargin

  /** Extension `perplexity_score` — unigram-LM perplexity per document,
    * the quality-filtering signal corpus pipelines rank and threshold
    * on (CCNet scores crawl text with a wiki-trained LM; Gopher
    * thresholds on similar fluency signals). The LM here is trained on
    * the corpus itself (the self-scored form; swapping in an external
    * reference corpus changes only the `counts` input): Laplace
    * p(t) = (c(t)+1)/(N+V), per-doc cross-entropy
    * bits_per_token = −mean log2 p(tᵢ), ppl = 2^bits. High ppl = rare
    * vocabulary = boilerplate/garbled/off-language text.
    *
    * Scale: one token-count hash aggregate (map-side partial), then the
    * (token → count) table joins back UNHINTED like C19's df join — AQE
    * broadcasts a small vocabulary, falls back to a (token)-keyed
    * shuffle join when it outgrows memory — and (N, V) ride along as a
    * broadcast 1-row aggregate. Nothing wider than (doc, token) ever
    * shuffles. Rounding: bits quantize to 6dp AFTER the per-doc mean
    * (tfidf's libm-ulp posture); ppl derives from the already-rounded
    * bits so the pow() amplification never sees unrounded noise. */
  def perplexityScore(spark: SparkSession, dir: String): DataFrame =
    pplScoresFor(spark, dir)

  /** The full-corpus self-trained perplexity scores, memoized per
    * (session, dir) — the shared intermediate C21 (`perplexity_score`),
    * C21b (`ccnet_buckets`) and F20 (`curriculum_order`) all rank or
    * bucket from: one LM fit + one scoring pass instead of three
    * (r16 opt). Four narrow columns per doc, eagerly checkpointed. */
  private[graft] def pplScoresFor(spark: SparkSession, dir: String): DataFrame =
    NearDup.Shared.memo(spark, s"pplScores:$dir") {
      perplexityOf(Tables.fanout(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text")))).localCheckpoint()
    }

  /** The full-corpus frozen unigram LM (counts + (N, V)), memoized per
    * (session, dir) — E24's nightly freeze, shared with any other
    * full-corpus LM consumer in the session. */
  private[graft] def perplexityLmFor(spark: SparkSession,
                                     dir: String): (DataFrame, DataFrame) =
    NearDup.Shared.memo(spark, s"pplLm:$dir") {
      import spark.implicits._
      // the LM's count table IS the session word-frequency memo (sum
      // of tf over docs ≡ counting the token stream — exact integers;
      // r17 opt). The SCORING side stays per-occurrence: its double
      // sum's term set must not move.
      val counts = bpeWordCountsFor(spark, dir)
        .select($"w".as("token"), $"n_occ".as("c"))
      val scal = counts.agg(sum($"c").as("n_tok"), count(lit(1)).as("v_size"))
        .localCheckpoint()
      (counts, scal)
    }

  /** Frame-based core of `perplexity_score` (docs = (doc_id, text)) —
    * lets the spec pin the fluency ordering on crafted documents. */
  def perplexityOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val tok = docs.select($"doc_id", explode(toks($"text")).as("token"))
    // eager (materialization contract): tok feeds the LM count
    // aggregate AND the scoring join probe — lazy, both consumers
    // re-run the tokenization concurrently
    val tokCk = tok.localCheckpoint()
    val counts = tokCk.groupBy($"token").agg(count(lit(1)).as("c"))
    val scal = counts.agg(sum($"c").as("n_tok"), count(lit(1)).as("v_size"))
    perplexityAgainst(tokCk, counts, scal)
  }

  /** The frozen unigram LM (token counts + the (N, V) scalar) trained
    * on a reference corpus — what C21c/E24 freeze batch-side. Both
    * sides eagerly materialized (the nightly LM-training job). */
  private[graft] def perplexityLm(docs: DataFrame): (DataFrame, DataFrame) = {
    import docs.sparkSession.implicits._
    val counts = docs.select($"doc_id", explode(toks($"text")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val scal = counts.agg(sum($"c").as("n_tok"), count(lit(1)).as("v_size"))
      .localCheckpoint()
    (counts, scal)
  }

  /** SCORE a (doc_id, token) stream against a frozen LM: tokens the LM
    * never saw take the Laplace floor p = 1/(N+V) (a LEFT join with
    * c → 0) — on a self-trained LM every token is present, so this is
    * exactly the original inner-join scoring; on a frozen LM it is
    * CCNet's real posture (a FIXED reference LM scoring new text). */
  private[graft] def perplexityAgainst(tok: DataFrame, counts: DataFrame,
                                       scal: DataFrame): DataFrame = {
    import tok.sparkSession.implicits._
    tok.join(counts, Seq("token"), "left")
      .na.fill(0L, Seq("c"))
      .crossJoin(broadcast(scal))
      .withColumn("logp", log2(($"c" + 1.0) / ($"n_tok" + $"v_size").cast("double")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(-sum($"logp") / count(lit(1)), 6).as("bits_per_token"))
      .withColumn("ppl", round(pow(lit(2.0), $"bits_per_token"), 4))
  }

  val perplexityScoreSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      |  FROM documents WHERE length(trim(text)) > 0),
      |c AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY 1),
      |s AS (SELECT SUM(c) AS n_tok, COUNT(*) AS v_size FROM c),
      |scored AS (
      |  SELECT doc_id, COUNT(*) AS n_tokens,
      |         round(-SUM(log2((c.c + 1.0) / CAST(s.n_tok + s.v_size AS DOUBLE)))
      |               / COUNT(*), 6) AS bits_per_token
      |  FROM tok JOIN c USING (token), s
      |  GROUP BY doc_id)
      |SELECT doc_id, n_tokens, bits_per_token,
      |       round(pow(2.0, bits_per_token), 4) AS ppl
      |FROM scored""".stripMargin

  /** C21e `kn_bigram_score` — interpolated Kneser–Ney BIGRAM perplexity
    * per document: the published smoothing (Kneser & Ney 1995; Chen &
    * Goodman 1999 eq. 4.26) behind the KenLM models real CCNet filters
    * score with — where C21's unigram LM sees only vocabulary rarity,
    * this sees WORD ORDER: a doc whose token multiset is fluent but
    * whose sequence is scrambled keeps its unigram ppl and blows up
    * here (the spec pins exactly that discrimination). Model, trained
    * in-plan on the corpus (swap the count inputs for a frozen
    * reference LM — C21c's posture):
    *   D        = n₁ / (n₁ + 2·n₂)            (absolute-discount estimate;
    *              0.5 when n₁ = n₂ = 0 — a closed vocabulary at scale
    *              has no singleton/doubleton types and the estimate
    *              degenerates 0/0, the classic default takes over)
    *   P_cont(w₂) = N₁₊(·w₂) / |bigram types|  (continuation probability)
    *   P(w₂|w₁) = (max(c(w₁w₂)−D, 0) + D·N₁₊(w₁·)·P_cont(w₂)) / c(w₁·)
    * bits_per_bigram = −mean log₂ P over the doc's adjacent pairs,
    * kn_ppl = 2^bits. Self-trained ⇒ every scored bigram is in the
    * model (inner joins, no OOV leg); docs with < 2 tokens have no
    * bigram and are absent by definition (C21's token-free posture).
    *
    * ENGINE-EXACT: all counts are integers; D, P_cont and P are the
    * same left-associated single-IEEE-op chain in both engines, and
    * bits quantize to 6dp AFTER the per-doc mean (C21's proven
    * rounding posture), kn_ppl deriving from the rounded bits.
    *
    * Scale: one (doc, bigram) explode → three hash aggregates over the
    * bigram-TYPE table (cb rows are distinct pairs, so COUNT(*) per w₁
    * IS N₁₊(w₁·) and SUM(cb) IS c(w₁·) — fwd stats cost ONE agg, never
    * a distinct), then scoring joins keyed on w₁ / (w₁,w₂) / w₂ — AQE
    * broadcasts small LM tables, shuffle-joins a 100 TB vocabulary;
    * (n₁, n₂, B) ride as a broadcast 1-row aggregate. Nothing wider
    * than (doc, bigram) ever shuffles — the same volume class as the
    * C4 shingle pipeline (ScaleProbe: kn_lm_type_bounded pins the
    * type-bounded LM state, kn_volume_at_most_linear the shuffle). */
  def knBigramScore(spark: SparkSession, dir: String): DataFrame =
    knBigramOf(Tables.fanout(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))))

  /** Adjacent-pair stream of a (doc_id, text) frame — the shared
    * bigram extraction of the C21e/C21f KN family. */
  private def bigramStream(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.withColumn("w", toks($"text"))
      .filter(size($"w") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(w)-2), i -> named_struct('w1', w[i], 'w2', w[i+1]))")).as("g"))
      .select($"doc_id", $"g.w1".as("w1"), $"g.w2".as("w2"))
  }

  /** The bigram-TYPE table of the KN LM ((w₁, w₂, cb) rows) —
    * ScaleProbe pins its replication INVARIANCE: replicating a corpus
    * grows counts, never types, so the model stays vocabulary-sized
    * at any corpus scale. */
  private[graft] def knBigramTypes(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    bigramStream(docs).groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
  }

  /** Frame-based core of C21e (docs = (doc_id, text)) — lets the spec
    * pin the order-sensitivity signal on crafted fluent/scrambled
    * twins. */
  private[graft] def knBigramOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // eager (materialization contract): bg feeds the LM count
    // aggregates AND the scoring join probe — lazy, all consumers
    // re-run the tokenize+explode concurrently
    val bg = bigramStream(docs).localCheckpoint()
    val cb = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("cb")).localCheckpoint()
    knScoreJoins(bg, cb)
  }

  /** The C21e scoring joins given the bigram stream and the count
    * table — shared VERBATIM by the self-trained C21e and the C21i
    * persisted-store path, so a store-served score is definitionally
    * the same IEEE chain as a from-scratch retrain (inner joins: the
    * covered-corpus contract — every scored bigram has a count row). */
  private def knScoreJoins(bg: DataFrame, cb: DataFrame): DataFrame = {
    import bg.sparkSession.implicits._
    val fwd = cb.groupBy($"w1").agg(sum($"cb").as("c1"), count(lit(1)).as("nf"))
    val bwd = cb.groupBy($"w2").agg(count(lit(1)).as("nb"))
    val scal = cb.agg(count(lit(1)).as("btypes"),
      sum(when($"cb" === 1, 1L).otherwise(0L)).as("n1"),
      sum(when($"cb" === 2, 1L).otherwise(0L)).as("n2"))
    bg.join(cb, Seq("w1", "w2"))
      .join(fwd, Seq("w1"))
      .join(bwd, Seq("w2"))
      .crossJoin(broadcast(scal))
      // n₁ = n₂ = 0 (every bigram type repeats 3+ times — small closed
      // vocabularies at scale) leaves the discount estimate 0/0; the
      // classic absolute-discounting default D = 0.5 takes over
      .withColumn("d",
        when($"n1" + lit(2L) * $"n2" === 0L, lit(0.5))
          .otherwise($"n1".cast("double") / ($"n1" + lit(2L) * $"n2").cast("double")))
      .withColumn("logp", log2(
        (greatest($"cb".cast("double") - $"d", lit(0.0))
          + $"d" * $"nf".cast("double")
            * ($"nb".cast("double") / $"btypes".cast("double")))
          / $"c1".cast("double")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(-sum($"logp") / count(lit(1)), 6).as("bits_per_bigram"))
      .withColumn("kn_ppl", round(pow(lit(2.0), $"bits_per_bigram"), 4))
  }

  /** C21e oracle: identical KN arithmetic in DuckDB — same integer
    * counts, same left-associated IEEE chain, same 6dp-after-mean
    * rounding. */
  val knBigramScoreSql: String = knBigramSqlOver("")

  /** The C21e oracle parameterized over an extra corpus predicate —
    * C21i's gate is the SAME self-trained arithmetic on the surviving
    * (post-retract) corpus, so both oracles share one template. */
  private def knBigramSqlOver(extraWhere: String): String =
    s"""WITH docs AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
      |  FROM documents WHERE length(trim(text)) > 0$extraWhere),
      |bg AS (
      |  SELECT doc_id, w[i+1] AS w1, w[i+2] AS w2
      |  FROM docs, unnest(generate_series(0, len(w) - 2)) AS t(i)
      |  WHERE len(w) >= 2),
      |cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
      |fwd AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS c1, COUNT(*) AS nf FROM cb GROUP BY 1),
      |bwd AS (SELECT w2, COUNT(*) AS nb FROM cb GROUP BY 1),
      |scal AS (SELECT COUNT(*) AS btypes,
      |                CAST(SUM(CASE WHEN cb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |                CAST(SUM(CASE WHEN cb = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |         FROM cb),
      |scored AS (
      |  SELECT doc_id, COUNT(*) AS n_bigrams,
      |         round(-SUM(log2(
      |           (greatest(CAST(cb AS DOUBLE) - d, 0.0)
      |            + d * CAST(nf AS DOUBLE) * (CAST(nb AS DOUBLE) / CAST(btypes AS DOUBLE)))
      |           / CAST(c1 AS DOUBLE))) / COUNT(*), 6) AS bits_per_bigram
      |  FROM (SELECT bg.doc_id, cb.cb, f.c1, f.nf, b.nb, s.btypes,
      |               CASE WHEN s.n1 + 2 * s.n2 = 0 THEN 0.5
      |                    ELSE CAST(s.n1 AS DOUBLE) / CAST(s.n1 + 2 * s.n2 AS DOUBLE) END AS d
      |        FROM bg
      |        JOIN cb USING (w1, w2)
      |        JOIN fwd f USING (w1)
      |        JOIN bwd b USING (w2), scal s)
      |  GROUP BY doc_id)
      |SELECT doc_id, n_bigrams, bits_per_bigram,
      |       round(pow(2.0, bits_per_bigram), 4) AS kn_ppl
      |FROM scored""".stripMargin

  // ---- C21i `kn_append`: the PERSISTED KN count store ---------------
  //
  // C21e retrains from the corpus per run; a nightly LM over a growing
  // crawl needs the TYPE-BOUNDED count table persisted once and FOLDED
  // per batch. Bigram counts are additive integers over documents, so
  // the store is a delta log: an append writes the batch's own counts
  // as positive rows, a retract the removed docs' counts negated, and
  // the merged LM (SUM per type, net ≤ 0 types dropped) is EXACTLY the
  // LM a from-scratch retrain on the surviving corpus would build —
  // the gate pins hash-equality, not approximation. At 100 TB the
  // append shuffles O(batch bigrams) and never re-reads the corpus;
  // the serve-side merge reads LM TYPES (vocabulary-bounded,
  // ScaleProbe kn_lm_type_bounded), never corpus bytes.

  /** Initialize the persisted LM count store from a corpus. */
  def knStoreWrite(docs: DataFrame, path: String): Unit =
    knStoreDelta(docs, path, overwrite = true, sign = 1L)

  /** O(batch) fold of a new doc batch's bigram counts into the LM. */
  def knStoreAppend(docs: DataFrame, path: String): Unit =
    knStoreDelta(docs, path, overwrite = false, sign = 1L)

  /** Retract documents from the LM: their counts re-derived and
    * appended NEGATED (additive-inverse delta — no store rewrite). */
  def knStoreRetract(docs: DataFrame, path: String): Unit =
    knStoreDelta(docs, path, overwrite = false, sign = -1L)

  /** Delta writer shared by write/append/retract: count rows first,
    * the commit row LAST — a crashed batch stays invisible. */
  private[graft] def knStoreDelta(docs: DataFrame, path: String,
                                  overwrite: Boolean, sign: Long,
                                  commit: Boolean = true): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val mode = if (overwrite) "overwrite" else "append"
    val batchId = java.util.UUID.randomUUID.toString
    knBigramTypes(docs)
      .select($"w1", $"w2", ($"cb" * lit(sign)).as("cb"),
        lit(batchId).as("batch_id"))
      .write.mode(mode).parquet(s"$path/counts")
    if (commit)
      Seq(batchId).toDF("batch_id")
        .coalesce(1).write.mode(mode).parquet(s"$path/commits")
  }

  /** The merged LM count table: committed deltas summed per bigram
    * type; a fully-retracted type (net count ≤ 0) no longer exists.
    * One type-bounded aggregate — never a corpus read. */
  private[graft] def knStoreCounts(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val committed = spark.read.parquet(s"$path/commits").select($"batch_id")
    spark.read.parquet(s"$path/counts")
      .join(broadcast(committed), Seq("batch_id"), "left_semi")
      .groupBy($"w1", $"w2").agg(sum($"cb").as("cb"))
      .filter($"cb" > 0L)
  }

  /** Score a corpus against the persisted LM — C21e's scoring joins
    * verbatim on the merged table (covered-corpus contract: callers
    * score docs whose counts are in the store, as C21e self-scores). */
  def knStoreScore(spark: SparkSession, path: String, docs: DataFrame): DataFrame =
    knScoreJoins(bigramStream(docs).localCheckpoint(),
      knStoreCounts(spark, path).localCheckpoint())

  /** Compact the delta log: rewrite the merged LIVE counts as one
    * batch and retire the append/retract history (the dedup-vacuum
    * posture — a long run of retractions otherwise accumulates dead
    * delta rows every merge re-reads). Merge-preserving by
    * construction; the eager checkpoint frees the read before the
    * overwrite lands. */
  def knStoreVacuum(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val live = knStoreCounts(spark, path).localCheckpoint()
    val batchId = java.util.UUID.randomUUID.toString
    live.select($"w1", $"w2", $"cb", lit(batchId).as("batch_id"))
      .write.mode("overwrite").parquet(s"$path/counts")
    Seq(batchId).toDF("batch_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/commits")
  }

  /** C21i `kn_append` gate — build the store as a nightly lifecycle
    * would (60% initial write, two appends, retract every 7th doc)
    * and score the surviving corpus from the merged table: HASH-EQUAL
    * to a from-scratch C21e retrain on the survivors. */
  def knAppendGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = Tables.fanout(Tables.documents(spark, dir)
      .select($"doc_id", $"text")).localCheckpoint()
    if (all.isEmpty)
      return Seq.empty[(Long, Long, Double, Double)]
        .toDF("doc_id", "n_bigrams", "bits_per_bigram", "kn_ppl")
    graft.sources.Lake.withScratchIndex(spark, "graft_kn_store") { tmp =>
      // 60% initial write promotes from the session template shared
      // with stream_kn_append; the deltas fold into this drill's copy
      promoteTemplate(spark)(knPrefixStoreTemplate(spark, dir))(tmp)
      knStoreAppend(all.filter($"doc_id" % 10 === 6 || $"doc_id" % 10 === 7), tmp)
      knStoreAppend(all.filter($"doc_id" % 10 >= 8), tmp)
      knStoreRetract(all.filter($"doc_id" % 7 === 0), tmp)
      knStoreScore(spark, tmp, all.filter($"doc_id" % 7 =!= 0))
    }
  }

  /** C21i oracle: the from-scratch C21e arithmetic on the surviving
    * corpus — additive-delta merge ≡ retrain, asserted in SQL. */
  val knAppendSql: String = knBigramSqlOver(" AND doc_id % 7 <> 0")

  /** C21f `kn_stale_serve` — the KN scorer's STALENESS drill, and the
    * only place its real BACKOFF runs: C21e is self-trained, so every
    * scored bigram is in the model; here the LM freezes on the 70%
    * id-mod prefix (yesterday's nightly job, C21c's posture), the
    * corpus grows to 100%, and ALL docs score against the frozen
    * tables — exercising the out-of-vocabulary legs Kneser–Ney exists
    * for:
    *   - unseen bigram, seen context: c(w₁w₂) = 0 ⇒ the max(c−D,0)
    *     term vanishes and the doc pays only the backoff mass
    *     D·N₁₊(w₁·)·P'cont(w₂)/c(w₁·);
    *   - unseen context w₁: no c(w₁·) row ⇒ P = P'cont(w₂) — the pure
    *     continuation probability, which prefers words seen after
    *     MANY distinct contexts over frequent-but-bound words ("san
    *     francisco": high count, one context — the published
    *     motivating example, spec-pinned);
    *   - unseen continuation w₂: P'cont Laplace-floors the
    *     continuation counts ((N₁₊(·w₂)+1)/(B+C), C = continuation
    *     types), so nothing scores −∞.
    * Oracle refits the prefix LM independently — hash-equal on bits
    * and ppl for every doc, stale and new alike.
    *
    * Scale: C21e's plan with the count aggregates on the prefix and
    * LEFT joins on the serve side — same type-bounded LM tables, same
    * (doc, bigram) linear volume. */
  def knStaleServe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docsAll = Tables.fanout(Tables.documents(spark, dir)
      .select($"doc_id", $"text"))
    // the frozen prefix bigram tables are a session artifact — train
    // once per dir (r17 opt; the nbModelPrefix/dsirPrefix pattern)
    val lm = NearDup.Shared.memo(spark, s"kn2Prefix:$dir") {
      knBigramLm(docsAll.filter($"doc_id" % 10 < 7))
    }
    knStaleServeFrom(docsAll, lm)
  }

  /** The frozen bigram LM tables (cb, fwd, bwd, scal) — eagerly
    * materialized, the C21f nightly artifact. */
  private def knBigramLm(ref: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import ref.sparkSession.implicits._
    val cb = knBigramTypes(ref).localCheckpoint()
    val fwd = cb.groupBy($"w1").agg(sum($"cb").as("c1"), count(lit(1)).as("nf"))
      .localCheckpoint()
    val bwd = cb.groupBy($"w2").agg(count(lit(1)).as("nb")).localCheckpoint()
    val scal = cb.agg(count(lit(1)).as("btypes"),
        coalesce(sum(when($"cb" === 1, 1L).otherwise(0L)), lit(0L)).as("n1"),
        coalesce(sum(when($"cb" === 2, 1L).otherwise(0L)), lit(0L)).as("n2"))
      .crossJoin(bwd.agg(count(lit(1)).as("ctypes")))
      .localCheckpoint()
    (cb, fwd, bwd, scal)
  }

  /** Frame-based core of C21f: score `docs` against the LM trained on
    * `ref` (the frozen nightly tables — eagerly materialized). */
  private[graft] def knStaleServeOf(docs: DataFrame, ref: DataFrame): DataFrame =
    knStaleServeFrom(docs, knBigramLm(ref))

  private def knStaleServeFrom(docs: DataFrame,
                               lm: (DataFrame, DataFrame, DataFrame, DataFrame))
      : DataFrame = {
    import docs.sparkSession.implicits._
    val (cb, fwd, bwd, scal) = lm
    bigramStream(docs)
      .join(cb, Seq("w1", "w2"), "left").na.fill(0L, Seq("cb"))
      .join(fwd, Seq("w1"), "left")
      .join(bwd, Seq("w2"), "left").na.fill(0L, Seq("nb"))
      .crossJoin(broadcast(scal))
      // guard on n1 == 0 (not just n1 + 2n2 == 0): with n1 = 0 but
      // n2 > 0 the estimate gives d = 0, and an UNSEEN bigram under a
      // seen context then scores p = (max(0-0,0) + 0·nf·pc)/c1 = 0 —
      // log2(0) on exactly the backoff leg this serve exists for
      .withColumn("d",
        when($"n1" === 0L, lit(0.5))
          .otherwise($"n1".cast("double") / ($"n1" + lit(2L) * $"n2").cast("double")))
      // greatest(…, 1): an EMPTY frozen LM (no prefix docs at all)
      // must serve uniform-floor bits, not an ANSI 0/0
      .withColumn("pc", ($"nb" + lit(1.0))
        / greatest($"btypes" + $"ctypes", lit(1L)).cast("double"))
      .withColumn("p",
        when($"c1".isNull, $"pc")
          .otherwise((greatest($"cb".cast("double") - $"d", lit(0.0))
            + $"d" * $"nf".cast("double") * $"pc") / $"c1".cast("double")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(-sum(log2($"p")) / count(lit(1)), 6).as("bits_per_bigram"))
      .withColumn("kn_ppl", round(pow(lit(2.0), $"bits_per_bigram"), 4))
  }

  /** C21f oracle: the prefix LM refit + the identical backoff CASE
    * chain in DuckDB. */
  val knStaleServeSql: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents WHERE length(trim(text)) > 0),
      |bg AS (
      |  SELECT doc_id, w[i+1] AS w1, w[i+2] AS w2
      |  FROM docs, unnest(generate_series(0, len(w) - 2)) AS t(i)
      |  WHERE len(w) >= 2),
      |cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg
      |       WHERE doc_id % 10 < 7 GROUP BY 1, 2),
      |fwd AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS c1, COUNT(*) AS nf FROM cb GROUP BY 1),
      |bwd AS (SELECT w2, COUNT(*) AS nb FROM cb GROUP BY 1),
      |scal AS (SELECT (SELECT COUNT(*) FROM cb) AS btypes,
      |                (SELECT CAST(COALESCE(SUM(CASE WHEN cb = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM cb) AS n1,
      |                (SELECT CAST(COALESCE(SUM(CASE WHEN cb = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM cb) AS n2,
      |                (SELECT COUNT(*) FROM bwd) AS ctypes),
      |pr AS (
      |  SELECT bg.doc_id,
      |         CASE WHEN f.c1 IS NULL THEN pc
      |              ELSE (greatest(CAST(COALESCE(c.cb, 0) AS DOUBLE) - d, 0.0)
      |                    + d * CAST(f.nf AS DOUBLE) * pc) / CAST(f.c1 AS DOUBLE) END AS p
      |  FROM (SELECT bg.*,
      |               CASE WHEN s.n1 = 0 THEN 0.5
      |                    ELSE CAST(s.n1 AS DOUBLE) / CAST(s.n1 + 2 * s.n2 AS DOUBLE) END AS d,
      |               (COALESCE(b.nb, 0) + 1.0) / CAST(greatest(s.btypes + s.ctypes, 1) AS DOUBLE) AS pc
      |        FROM bg
      |        LEFT JOIN bwd b USING (w2), scal s) bg
      |  LEFT JOIN cb c USING (w1, w2)
      |  LEFT JOIN fwd f USING (w1)),
      |scored AS (
      |  SELECT doc_id, COUNT(*) AS n_bigrams,
      |         round(-SUM(log2(p)) / COUNT(*), 6) AS bits_per_bigram
      |  FROM pr GROUP BY doc_id)
      |SELECT doc_id, n_bigrams, bits_per_bigram,
      |       round(pow(2.0, bits_per_bigram), 4) AS kn_ppl
      |FROM scored""".stripMargin

  /** Adjacent-triple stream of a (doc_id, text) frame — the trigram
    * extraction shared by the C21g/C21h interpolated-KN family. */
  private def trigramStream(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.withColumn("w", toks($"text"))
      .filter(size($"w") >= 3)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(w)-3), i -> named_struct('w1', w[i], 'w2', w[i+1], 'w3', w[i+2]))")).as("g"))
      .select($"doc_id", $"g.w1".as("w1"), $"g.w2".as("w2"), $"g.w3".as("w3"))
  }

  /** The type-bounded table set of the interpolated trigram KN LM —
    * every frame is bounded by vocabulary TYPES, never corpus size,
    * so the model broadcasts at any scale (the C21e/C21f posture one
    * order up):
    *   ct   (w1,w2,w3,c3)   trigram token counts
    *   fwd2 (w1,w2,c12,nf12) context totals + N₁₊(w₁w₂·)
    *   mid  (w2,w3,cc)      continuation counts N₁₊(·w₂w₃) — the
    *                        Kneser–Ney substitution: the MIDDLE level
    *                        counts distinct preceding contexts, not
    *                        raw frequency
    *   midfwd (w2,ccs,nfm)  mid-level totals + N₁₊(w₂·)
    *   low  (w3,nl)         N₁₊(·w₃) over mid types
    *   scal                 discount stats n1/n2 at BOTH levels +
    *                        type totals (one broadcast row). */
  private def knTrigramTables(tg: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    import tg.sparkSession.implicits._
    val ct = tg.groupBy($"w1", $"w2", $"w3")
      .agg(count(lit(1)).as("c3")).localCheckpoint()
    val fwd2 = ct.groupBy($"w1", $"w2")
      .agg(sum($"c3").as("c12"), count(lit(1)).as("nf12")).localCheckpoint()
    val mid = ct.groupBy($"w2", $"w3").agg(count(lit(1)).as("cc")).localCheckpoint()
    val midfwd = mid.groupBy($"w2")
      .agg(sum($"cc").as("ccs"), count(lit(1)).as("nfm")).localCheckpoint()
    val low = mid.groupBy($"w3").agg(count(lit(1)).as("nl")).localCheckpoint()
    val scal = ct.agg(
        coalesce(sum(when($"c3" === 1, 1L).otherwise(0L)), lit(0L)).as("n1t"),
        coalesce(sum(when($"c3" === 2, 1L).otherwise(0L)), lit(0L)).as("n2t"))
      .crossJoin(mid.agg(count(lit(1)).as("mtypes"),
        coalesce(sum(when($"cc" === 1, 1L).otherwise(0L)), lit(0L)).as("n1m"),
        coalesce(sum(when($"cc" === 2, 1L).otherwise(0L)), lit(0L)).as("n2m")))
      .crossJoin(low.agg(count(lit(1)).as("ltypes")))
      .localCheckpoint()
    (ct, fwd2, mid, midfwd, low, scal)
  }

  /** C21g `kn_trigram_score` — interpolated TRIGRAM Kneser–Ney
    * (Chen & Goodman 1999 §3; the order production CCNet's 5-gram
    * KenLM actually recurses through), self-trained like C21e. Unlike
    * the bigram LM, the backoff here is RECURSIVE: the trigram
    * estimate interpolates a discounted direct count with the
    * mid-level model, which itself interpolates CONTINUATION counts
    * (N₁₊(·w₂w₃), distinct preceding contexts — the KN substitution)
    * with the lowest-level continuation distribution. Even
    * self-trained, every scored trigram pays all three levels — the
    * interpolation mass D·N₁₊/c is always present — so the recursion
    * arithmetic is exercised on every row, and the spec pins it
    * against a driver re-derivation.
    *
    * ENGINE-EXACT: integer type/count tables, both discounts from
    * the published n₁/(n₁+2n₂) estimate (n₁ = 0 ⇒ the classic 0.5
    * default — the closed-vocabulary guard C21e/f needed), one
    * left-associated IEEE chain per level, 6dp-after-mean rounding.
    *
    * Scale: one trigram explode (linear), five type-bounded count
    * aggregates, one broadcast scalar row; scoring is the linear
    * stream joined against vocabulary-sized tables — nothing grows
    * with corpus size but the stream itself. */
  def knTrigramScore(spark: SparkSession, dir: String): DataFrame =
    knTrigramOf(Tables.fanout(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))))

  /** Frame-based core of C21g (docs = (doc_id, text)). */
  private[graft] def knTrigramOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // eager (materialization contract): tg feeds the LM aggregates
    // AND the scoring probe — lazy, every consumer re-runs the
    // tokenize+explode concurrently
    val tg = trigramStream(docs).localCheckpoint()
    val (ct, fwd2, mid, midfwd, low, scal) = knTrigramTables(tg)
    tg.join(ct, Seq("w1", "w2", "w3"))
      .join(fwd2, Seq("w1", "w2"))
      .join(mid, Seq("w2", "w3"))
      .join(midfwd, Seq("w2"))
      .join(low, Seq("w3"))
      .crossJoin(broadcast(scal))
      .withColumn("d3",
        when($"n1t" === 0L, lit(0.5))
          .otherwise($"n1t".cast("double") / ($"n1t" + lit(2L) * $"n2t").cast("double")))
      .withColumn("d2",
        when($"n1m" === 0L, lit(0.5))
          .otherwise($"n1m".cast("double") / ($"n1m" + lit(2L) * $"n2m").cast("double")))
      // level 1 (unigram continuation), level 2 (bigram continuation),
      // level 3 (trigram direct) — each level's backoff mass
      // D·N₁₊·P_lower is live on every row: interpolated KN
      .withColumn("pl", $"nl".cast("double") / $"mtypes".cast("double"))
      .withColumn("pm",
        (greatest($"cc".cast("double") - $"d2", lit(0.0))
          + $"d2" * $"nfm".cast("double") * $"pl") / $"ccs".cast("double"))
      .withColumn("p",
        (greatest($"c3".cast("double") - $"d3", lit(0.0))
          + $"d3" * $"nf12".cast("double") * $"pm") / $"c12".cast("double"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        round(-sum(log2($"p")) / count(lit(1)), 6).as("bits_per_trigram"))
      .withColumn("kn3_ppl", round(pow(lit(2.0), $"bits_per_trigram"), 4))
  }

  /** C21g oracle: identical three-level interpolated-KN arithmetic in
    * DuckDB — same integer tables, same IEEE chains per level, same
    * 6dp-after-mean rounding. LEFT-join chain even though self-trained
    * rows all match (values identical): an INNER chain here lets
    * DuckDB 1.0's join-order optimizer reorder around the inlined
    * scalar-subquery relations of `scal`, which explodes to 100+ GB
    * (measured); LEFT joins pin the tg-driven order. */
  val knTrigramScoreSql: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents WHERE length(trim(text)) > 0),
      |tg AS (
      |  SELECT doc_id, w[i+1] AS w1, w[i+2] AS w2, w[i+3] AS w3
      |  FROM docs, unnest(generate_series(0, len(w) - 3)) AS t(i)
      |  WHERE len(w) >= 3),
      |ct AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tg GROUP BY 1, 2, 3),
      |fwd2 AS (SELECT w1, w2, CAST(SUM(c3) AS BIGINT) AS c12, COUNT(*) AS nf12
      |         FROM ct GROUP BY 1, 2),
      |mid AS (SELECT w2, w3, COUNT(*) AS cc FROM ct GROUP BY 1, 2),
      |midfwd AS (SELECT w2, CAST(SUM(cc) AS BIGINT) AS ccs, COUNT(*) AS nfm
      |           FROM mid GROUP BY 1),
      |low AS (SELECT w3, COUNT(*) AS nl FROM mid GROUP BY 1),
      |scal AS (SELECT
      |  (SELECT CAST(COALESCE(SUM(CASE WHEN c3 = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM ct) AS n1t,
      |  (SELECT CAST(COALESCE(SUM(CASE WHEN c3 = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM ct) AS n2t,
      |  (SELECT COUNT(*) FROM mid) AS mtypes,
      |  (SELECT CAST(COALESCE(SUM(CASE WHEN cc = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM mid) AS n1m,
      |  (SELECT CAST(COALESCE(SUM(CASE WHEN cc = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM mid) AS n2m),
      |pr AS (
      |  SELECT doc_id,
      |         (greatest(CAST(c3 AS DOUBLE) - d3, 0.0)
      |          + d3 * CAST(nf12 AS DOUBLE) * pm) / CAST(c12 AS DOUBLE) AS p
      |  FROM (SELECT tg.doc_id, c.c3, f.c12, f.nf12, tg.d3,
      |               (greatest(CAST(m.cc AS DOUBLE) - tg.d2, 0.0)
      |                + tg.d2 * CAST(mf.nfm AS DOUBLE) * tg.pl)
      |                 / CAST(mf.ccs AS DOUBLE) AS pm
      |        FROM (SELECT tg.*, d3, d2,
      |                     CAST(l.nl AS DOUBLE) / CAST(s.mtypes AS DOUBLE) AS pl
      |              FROM tg
      |              LEFT JOIN low l USING (w3)
      |              CROSS JOIN (SELECT *,
      |                  CASE WHEN n1t = 0 THEN 0.5
      |                       ELSE CAST(n1t AS DOUBLE) / CAST(n1t + 2 * n2t AS DOUBLE) END AS d3,
      |                  CASE WHEN n1m = 0 THEN 0.5
      |                       ELSE CAST(n1m AS DOUBLE) / CAST(n1m + 2 * n2m AS DOUBLE) END AS d2
      |                FROM scal) s) tg
      |        LEFT JOIN ct c USING (w1, w2, w3)
      |        LEFT JOIN fwd2 f USING (w1, w2)
      |        LEFT JOIN mid m USING (w2, w3)
      |        LEFT JOIN midfwd mf USING (w2))),
      |scored AS (
      |  SELECT doc_id, COUNT(*) AS n_trigrams,
      |         round(-SUM(log2(p)) / COUNT(*), 6) AS bits_per_trigram
      |  FROM pr GROUP BY doc_id)
      |SELECT doc_id, n_trigrams, bits_per_trigram,
      |       round(pow(2.0, bits_per_trigram), 4) AS kn3_ppl
      |FROM scored""".stripMargin

  /** C21h `kn_trigram_stale_serve` — the trigram LM's staleness
    * drill: the model freezes on the 70% id-mod prefix, the corpus
    * grows to 100%, and all docs score against the frozen tables.
    * This is where the RECURSION earns its keep — a trigram can now
    * miss at any level, and each miss backs off exactly one rung:
    *   - unseen trigram, seen context w₁w₂: pays the discounted-zero
    *     direct term and the interpolation mass D₃·N₁₊(w₁w₂·)·P(w₃|w₂);
    *   - unseen context w₁w₂: P = P(w₃|w₂) — the full mid-level model;
    *   - unseen mid context w₂: P = P'cont(w₃);
    *   - unseen w₃: Laplace floor over continuation types — nothing
    *     scores −∞.
    * Oracle refits the prefix LM independently; hash-equal on bits
    * and ppl for every doc, stale and new alike. */
  def knTrigramStaleServe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docsAll = Tables.fanout(Tables.documents(spark, dir)
      .select($"doc_id", $"text"))
    // the frozen prefix trigram tables are a session artifact — train
    // once per dir (r17 opt; the nbModelPrefix/dsirPrefix pattern)
    val tables = NearDup.Shared.memo(spark, s"kn3Prefix:$dir") {
      knTrigramTables(trigramStream(docsAll.filter($"doc_id" % 10 < 7)))
    }
    knTrigramStaleServeFrom(docsAll, tables)
  }

  /** Frame-based core of C21h: score `docs` against the trigram LM
    * trained on `ref` (the frozen nightly tables). */
  private[graft] def knTrigramStaleServeOf(docs: DataFrame, ref: DataFrame): DataFrame =
    knTrigramStaleServeFrom(docs, knTrigramTables(trigramStream(ref)))

  private def knTrigramStaleServeFrom(
      docs: DataFrame,
      tables: (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame))
      : DataFrame = {
    import docs.sparkSession.implicits._
    val (ct, fwd2, mid, midfwd, low, scal) = tables
    trigramStream(docs)
      .join(ct, Seq("w1", "w2", "w3"), "left").na.fill(0L, Seq("c3"))
      .join(fwd2, Seq("w1", "w2"), "left")
      .join(mid, Seq("w2", "w3"), "left").na.fill(0L, Seq("cc"))
      .join(midfwd, Seq("w2"), "left")
      .join(low, Seq("w3"), "left").na.fill(0L, Seq("nl"))
      .crossJoin(broadcast(scal))
      // n1 == 0 guard at BOTH levels (today's C21f lesson: d = 0
      // makes an unseen type under a seen context score log2(0))
      .withColumn("d3",
        when($"n1t" === 0L, lit(0.5))
          .otherwise($"n1t".cast("double") / ($"n1t" + lit(2L) * $"n2t").cast("double")))
      .withColumn("d2",
        when($"n1m" === 0L, lit(0.5))
          .otherwise($"n1m".cast("double") / ($"n1m" + lit(2L) * $"n2m").cast("double")))
      // greatest(…, 1): an EMPTY frozen LM serves uniform-floor bits
      .withColumn("pl", ($"nl" + lit(1.0))
        / greatest($"mtypes" + $"ltypes", lit(1L)).cast("double"))
      .withColumn("pm",
        when($"ccs".isNull, $"pl")
          .otherwise((greatest($"cc".cast("double") - $"d2", lit(0.0))
            + $"d2" * $"nfm".cast("double") * $"pl") / $"ccs".cast("double")))
      .withColumn("p",
        when($"c12".isNull, $"pm")
          .otherwise((greatest($"c3".cast("double") - $"d3", lit(0.0))
            + $"d3" * $"nf12".cast("double") * $"pm") / $"c12".cast("double")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        round(-sum(log2($"p")) / count(lit(1)), 6).as("bits_per_trigram"))
      .withColumn("kn3_ppl", round(pow(lit(2.0), $"bits_per_trigram"), 4))
  }

  /** C21h oracle: the prefix trigram LM refit + the identical
    * three-level backoff CASE chain in DuckDB. */
  val knTrigramStaleServeSql: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents WHERE length(trim(text)) > 0),
      |tg AS (
      |  SELECT doc_id, w[i+1] AS w1, w[i+2] AS w2, w[i+3] AS w3
      |  FROM docs, unnest(generate_series(0, len(w) - 3)) AS t(i)
      |  WHERE len(w) >= 3),
      |ct AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tg
      |       WHERE doc_id % 10 < 7 GROUP BY 1, 2, 3),
      |fwd2 AS (SELECT w1, w2, CAST(SUM(c3) AS BIGINT) AS c12, COUNT(*) AS nf12
      |         FROM ct GROUP BY 1, 2),
      |mid AS (SELECT w2, w3, COUNT(*) AS cc FROM ct GROUP BY 1, 2),
      |midfwd AS (SELECT w2, CAST(SUM(cc) AS BIGINT) AS ccs, COUNT(*) AS nfm
      |           FROM mid GROUP BY 1),
      |low AS (SELECT w3, COUNT(*) AS nl FROM mid GROUP BY 1),
      |scal AS (SELECT
      |  (SELECT CAST(COALESCE(SUM(CASE WHEN c3 = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM ct) AS n1t,
      |  (SELECT CAST(COALESCE(SUM(CASE WHEN c3 = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM ct) AS n2t,
      |  (SELECT COUNT(*) FROM mid) AS mtypes,
      |  (SELECT CAST(COALESCE(SUM(CASE WHEN cc = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM mid) AS n1m,
      |  (SELECT CAST(COALESCE(SUM(CASE WHEN cc = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM mid) AS n2m,
      |  (SELECT COUNT(*) FROM low) AS ltypes),
      |pr AS (
      |  SELECT doc_id,
      |         CASE WHEN c12 IS NULL THEN pm
      |              ELSE (greatest(CAST(COALESCE(c3, 0) AS DOUBLE) - d3, 0.0)
      |                    + d3 * CAST(nf12 AS DOUBLE) * pm) / CAST(c12 AS DOUBLE) END AS p
      |  FROM (SELECT tg.doc_id, c.c3, f.c12, f.nf12, d3,
      |               CASE WHEN mf.ccs IS NULL THEN pl
      |                    ELSE (greatest(CAST(COALESCE(m.cc, 0) AS DOUBLE) - d2, 0.0)
      |                          + d2 * CAST(mf.nfm AS DOUBLE) * pl) / CAST(mf.ccs AS DOUBLE) END AS pm
      |        FROM (SELECT tg.*, d3, d2,
      |                     (COALESCE(l.nl, 0) + 1.0)
      |                       / CAST(greatest(s.mtypes + s.ltypes, 1) AS DOUBLE) AS pl
      |              FROM tg
      |              LEFT JOIN low l USING (w3)
      |              CROSS JOIN (SELECT *,
      |                  CASE WHEN n1t = 0 THEN 0.5
      |                       ELSE CAST(n1t AS DOUBLE) / CAST(n1t + 2 * n2t AS DOUBLE) END AS d3,
      |                  CASE WHEN n1m = 0 THEN 0.5
      |                       ELSE CAST(n1m AS DOUBLE) / CAST(n1m + 2 * n2m AS DOUBLE) END AS d2
      |                FROM scal) s) tg
      |        LEFT JOIN ct c USING (w1, w2, w3)
      |        LEFT JOIN fwd2 f USING (w1, w2)
      |        LEFT JOIN mid m USING (w2, w3)
      |        LEFT JOIN midfwd mf USING (w2))),
      |scored AS (
      |  SELECT doc_id, COUNT(*) AS n_trigrams,
      |         round(-SUM(log2(p)) / COUNT(*), 6) AS bits_per_trigram
      |  FROM pr GROUP BY doc_id)
      |SELECT doc_id, n_trigrams, bits_per_trigram,
      |       round(pow(2.0, bits_per_trigram), 4) AS kn3_ppl
      |FROM scored""".stripMargin

  /** C21b `ccnet_buckets` — CCNet's head/middle/tail split (Wenzek et
    * al., LREC 2020): per LANGUAGE, rank documents by LM perplexity
    * and cut the corpus into equal thirds — `head` (most fluent, kept
    * outright by CCNet), `middle`, `tail` (usually dropped). The
    * published bucketing that turns C21's raw score into the curation
    * decision real crawl pipelines ship.
    *
    * ENGINE-EXACT: bits_per_token is C21's 6dp-rounded double; it
    * quantizes to integer micro-units with one identically-rounded
    * IEEE multiply-add (⌊b·10⁶ + 0.5⌋ — NOT a decimal round, the F10
    * posture), ranks break ties by doc_id, and the two cuts are
    * integer cross-multiplies (3·rank ≤ n, 3·rank ≤ 2n) — the gate
    * hash-compares buckets whole. Token-free docs have no perplexity
    * and are absent by definition (C21's inner tokenize join).
    *
    * Scale: C21's scoring plan plus one per-lang ranking window (the
    * F16/F11 banded-rank posture — partitions are per-language, not
    * global). A 100 TB deployment computes the two per-lang thresholds
    * on a sample and buckets with a stateless filter — same output
    * contract, no corpus sort. */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame =
    ccnetBucketsFor(spark, dir)

  /** The full-corpus bucket table, memoized per (session, dir) — the
    * shared artifact of C21b's one-shot bucketing and E24's frozen
    * per-lang cut points (r16 opt: the LM score pass reuses
    * [[pplScoresFor]], and E24 derives its thresholds from this table
    * instead of re-bucketing from scratch). */
  private[graft] def ccnetBucketsFor(spark: SparkSession, dir: String): DataFrame =
    NearDup.Shared.memo(spark, s"ccnetBuckets:$dir") {
      import spark.implicits._
      ccnetBucketsOf(Tables.fanout(Tables.documents(spark, dir)
        .select($"doc_id", $"lang", $"text")),
        scored = Some(pplScoresFor(spark, dir))).localCheckpoint()
    }

  /** Frame-based core of C21b (docs = (doc_id, lang, text)). */
  private[graft] def ccnetBucketsOf(docs: DataFrame,
                                    scored: Option[DataFrame] = None): DataFrame = {
    import docs.sparkSession.implicits._
    val scored0 = docs.select($"doc_id", $"lang")
      .join(scored.getOrElse(perplexityOf(docs.select($"doc_id", $"text")))
        .select($"doc_id", $"bits_per_token"), Seq("doc_id"))
      .withColumn("bits_micros",
        floor($"bits_per_token" * lit(1e6) + lit(0.5)).cast("long"))
    val wRank = Window.partitionBy($"lang").orderBy($"bits_micros", $"doc_id")
    scored0
      .withColumn("ppl_rank", row_number().over(wRank))
      .withColumn("n_lang", count(lit(1)).over(Window.partitionBy($"lang")))
      .select($"doc_id", $"lang", $"bits_micros", $"ppl_rank", $"n_lang")
      .withColumn("bucket",
        when($"ppl_rank" * 3 <= $"n_lang", lit("head"))
          .when($"ppl_rank" * 3 <= $"n_lang" * 2, lit("middle"))
          .otherwise(lit("tail")))
  }

  /** C21b oracle: C21's scored subquery + the identical micro-unit
    * quantize, per-lang rank and integer cuts. */
  def ccnetBucketsSql(): String =
    s"""WITH ppl AS ($perplexityScoreSql),
       |j AS (
       |  SELECT d.doc_id, d.lang,
       |         CAST(floor(p.bits_per_token * 1e6 + 0.5) AS BIGINT) AS bits_micros
       |  FROM documents d JOIN ppl p ON p.doc_id = d.doc_id),
       |r AS (
       |  SELECT *,
       |         row_number() OVER (PARTITION BY lang ORDER BY bits_micros, doc_id) AS rn,
       |         COUNT(*) OVER (PARTITION BY lang) AS n_lang
       |  FROM j)
       |SELECT doc_id, lang, bits_micros, CAST(rn AS INT) AS ppl_rank, n_lang,
       |       CASE WHEN rn * 3 <= n_lang THEN 'head'
       |            WHEN rn * 3 <= n_lang * 2 THEN 'middle'
       |            ELSE 'tail' END AS bucket
       |FROM r""".stripMargin

  /** The frozen per-lang CCNet cut points from a reference corpus:
    * t1 = the largest bits_micros inside the rank-based head third,
    * t2 = inside head∪middle — so value-bucketing against (t1, t2)
    * reproduces the reference's own thirds and EXTENDS them to new
    * text. A lang with too few reference docs for a third (or absent
    * entirely) gets NULL cuts → everything serves `tail` (conservative:
    * CCNet drops text it cannot score). */
  private[graft] def ccnetThresholds(ref: DataFrame): DataFrame =
    ccnetThresholdsFromBuckets(ccnetBucketsOf(ref))

  /** The (t1, t2) cut points from an already-computed bucket table —
    * lets a session that has C21b's bucket table derive E24's frozen
    * cuts without re-bucketing. */
  private[graft] def ccnetThresholdsFromBuckets(buckets: DataFrame): DataFrame = {
    import buckets.sparkSession.implicits._
    buckets.groupBy($"lang").agg(
      max(when($"ppl_rank" * 3 <= $"n_lang", $"bits_micros")).as("t1"),
      max(when($"ppl_rank" * 3 <= $"n_lang" * 2, $"bits_micros")).as("t2"))
      .localCheckpoint()
  }

  /** BUCKET a (doc_id, lang, text) frame against a frozen (LM,
    * thresholds) pair: one scoring pass against the frozen counts
    * ([[perplexityAgainst]] — unseen tokens take the Laplace floor) +
    * one broadcast threshold join — stateless, so the identical call
    * serves the batch corpus or an arriving micro-batch (E24). */
  private[graft] def ccnetServe(docs: DataFrame, counts: DataFrame,
                                scal: DataFrame, thr: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val bits = perplexityAgainst(
      docs.select($"doc_id", explode(toks($"text")).as("token")), counts, scal)
      .select($"doc_id",
        floor($"bits_per_token" * lit(1e6) + lit(0.5)).cast("long").as("bits_micros"))
    docs.select($"doc_id", $"lang").join(bits, Seq("doc_id"))
      .join(broadcast(thr), Seq("lang"), "left")
      .select($"doc_id", $"lang", $"bits_micros", $"t1", $"t2",
        when($"bits_micros" <= $"t1", lit("head"))
          .when($"bits_micros" <= $"t2", lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** C21c `ccnet_stale_serve` — the CCNet bucketing's STALENESS drill,
    * which is also its TRUE published posture: real CCNet scores crawl
    * text with a FIXED pretrained LM, not a self-trained one. The LM
    * (token counts + (N, V)) and the per-lang cut points freeze on the
    * 70% id-mod prefix (yesterday's nightly bucketing job), the corpus
    * grows to 100%, and ALL docs serve against the frozen pair —
    * tokens the LM never saw take the Laplace floor p = 1/(N+V), langs
    * without reference thirds serve `tail`. Oracle refits the prefix
    * LM + prefix cuts independently and hash-matches bits, cuts and
    * buckets. Value-bucketing (bits ≤ t1/t2) rather than rank thirds:
    * ties at a cut all take the better bucket — deterministic without
    * ranking the grown corpus. */
  def ccnetStaleServe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docsAll = Tables.fanout(Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"text"))
    // the frozen prefix LM + per-lang cuts are session artifacts like
    // perplexityLmFor's full-corpus ones — train once per dir (r17 opt)
    val (counts, scal, cuts) = NearDup.Shared.memo(spark, s"ccnetPrefix:$dir") {
      val prefix = docsAll.filter($"doc_id" % 10 < 7)
      val (c, s) = perplexityLm(prefix.select($"doc_id", $"text"))
      (c, s, ccnetThresholds(prefix).localCheckpoint())
    }
    ccnetServe(docsAll, counts, scal, cuts)
  }

  /** C21c oracle: prefix LM (LEFT-join Laplace floor for unseen
    * tokens), prefix rank-based cuts, all docs value-bucketed. */
  def ccnetStaleServeSql(prefixPred: String = "doc_id % 10 < 7"): String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
       |  FROM documents WHERE length(trim(text)) > 0),
       |c AS (SELECT token, COUNT(*) AS c FROM tok WHERE $prefixPred GROUP BY 1),
       |s AS (SELECT SUM(c) AS n_tok, COUNT(*) AS v_size FROM c),
       |bits AS (
       |  SELECT t.doc_id,
       |         CAST(floor(round(-SUM(log2((COALESCE(c.c, 0) + 1.0)
       |                                    / CAST(s.n_tok + s.v_size AS DOUBLE)))
       |                          / COUNT(*), 6) * 1e6 + 0.5) AS BIGINT) AS bits_micros
       |  FROM tok t LEFT JOIN c ON c.token = t.token, s
       |  GROUP BY 1),
       |bm AS (
       |  SELECT d.doc_id, d.lang, b.bits_micros
       |  FROM documents d JOIN bits b ON b.doc_id = d.doc_id),
       |r AS (
       |  SELECT *,
       |         row_number() OVER (PARTITION BY lang ORDER BY bits_micros, doc_id) AS rn,
       |         COUNT(*) OVER (PARTITION BY lang) AS n_lang
       |  FROM bm WHERE $prefixPred),
       |thr AS (
       |  SELECT lang,
       |         MAX(CASE WHEN rn * 3 <= n_lang THEN bits_micros END) AS t1,
       |         MAX(CASE WHEN rn * 3 <= n_lang * 2 THEN bits_micros END) AS t2
       |  FROM r GROUP BY 1)
       |SELECT bm.doc_id, bm.lang, bm.bits_micros, thr.t1, thr.t2,
       |       CASE WHEN bm.bits_micros <= thr.t1 THEN 'head'
       |            WHEN bm.bits_micros <= thr.t2 THEN 'middle'
       |            ELSE 'tail' END AS bucket
       |FROM bm LEFT JOIN thr USING (lang)""".stripMargin

  /** C20 `doc_chunk` — sliding-window token chunking: every document
    * becomes ⌈n/stride⌉ chunks of up to `chunkSize` tokens starting
    * every `stride` tokens (consecutive full chunks overlap by
    * chunkSize − stride) — the step between cleaning and sequence
    * packing (F8) in a pre-training pipeline, where over-long documents
    * must split without losing cross-boundary context. Pure per-row
    * compute (split → sequence of starts → explode → slice): no
    * shuffle, scan-parallel at any scale, and chunk ids are
    * deterministic (doc_id, chunk_idx) so reprocessing is idempotent. */
  def docChunk(spark: SparkSession, dir: String,
               chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", split(trim($"text"), "\\s+").as("toks"))
      .select($"doc_id", $"toks",
        explode(expr(s"sequence(0, size(toks) - 1, $stride)")).as("s"))
      .select($"doc_id",
        expr(s"cast(s div $stride as int)").as("chunk_idx"),
        expr(s"slice(toks, s + 1, $chunkSize)").as("ctoks"))
      .select($"doc_id", $"chunk_idx",
        size($"ctoks").as("n_tokens"),
        concat_ws(" ", $"ctoks").as("chunk_text"))
  }

  def docChunkSql(chunkSize: Int = 32, stride: Int = 24): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
       |  FROM documents WHERE length(trim(text)) > 0),
       |starts AS (
       |  SELECT doc_id, l, unnest(generate_series(0, len(l) - 1, $stride)) AS s
       |  FROM toks)
       |SELECT doc_id, CAST(s // $stride AS INT) AS chunk_idx,
       |       CAST(len(list_slice(l, s + 1, s + $chunkSize)) AS INT) AS n_tokens,
       |       array_to_string(list_slice(l, s + 1, s + $chunkSize), ' ') AS chunk_text
       |FROM starts""".stripMargin

  def vocabBuildSql(topN: Int = 500): String =
    s"""WITH counts AS (
       |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
       |  FROM documents WHERE length(trim(text)) > 0),
       |vocab AS (
       |  SELECT token, COUNT(*) AS n_occ FROM counts GROUP BY token)
       |SELECT token, n_occ,
       |       CAST(row_number() OVER (ORDER BY n_occ DESC, token) AS INT) AS rank,
       |       round(CAST(SUM(n_occ) OVER (ORDER BY n_occ DESC, token
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |             / CAST(SUM(n_occ) OVER () AS DOUBLE), 8) AS cum_cov
       |FROM vocab
       |QUALIFY rank <= $topN""".stripMargin
}
