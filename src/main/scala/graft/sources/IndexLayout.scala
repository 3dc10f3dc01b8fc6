package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{broadcast, col, count, lit, sum, when}
import org.apache.spark.sql.types._

/** The declared schemas of the on-disk index layouts graft writes and
  * serves from: every directory of the impact BM25, raw BM25, IVF,
  * PQ-sidecar, line, phrase, dedup signature, phash band and KN count
  * layouts and of the catalog manifest, in one table, and the
  * commit-log protocol of the appendable ones ([[Appendable]]),
  * written once.
  *
  * Readers go through [[Layout.read]], i.e. `spark.read.schema(s)`:
  * inferring a parquet schema runs a one-task footer-read job per
  * `read`, and on a serve path that does almost no data work a job's
  * fixed cost is most of the request. Declaring the schema also pins
  * the partition columns (`bucket`, `cell`) to int without depending
  * on `spark.sql.sources.partitionColumnTypeInference.enabled`.
  *
  * Fields are listed in the order the writers produce them, the
  * partition column last (where Spark puts it on read), so a rewrite
  * of rows read through a layout (vacuum, compaction) keeps the file
  * column order. Columns a vintage file lacks read as null (the PQ
  * books' `opq_iters`/`rot`). IndexLayoutSpec checks every directory
  * against the schema Spark infers from a freshly built index.
  *
  * Each layout also names its METADATA directories: the few-KB tables
  * (a stats row, a commit log, nlist centroids, codebooks, tombstones)
  * a serve or a maintenance step reads whole before it plans any data
  * work. [[Layout.local]] reads those on the driver without a Spark
  * job. IndexLayoutSpec walks every appendable layout through the
  * shared protocol steps. */
object IndexLayout {

  class Layout(val name: String, val dirs: Map[String, StructType], val meta: Set[String]) {
    require(meta.subsetOf(dirs.keySet), s"$name: undeclared metadata dirs")

    override def toString: String = name

    def read(spark: SparkSession, root: String, dir: String): DataFrame =
      spark.read.schema(dirs(dir)).parquet(s"$root/$dir")

    /** Every row of the flat metadata directory `root/dir`, read on
      * the driver with the reader a scan task runs
      * (`ParquetFileFormat.buildReaderWithPartitionValues`, row mode)
      * and converted to external rows of the declared schema: the rows
      * `read(spark, root, dir).collect()` returns, with no job, from
      * the files [[files]] lists. Only the directories in `meta`
      * qualify: a data directory (postings, lists, codes) is
      * corpus-sized, so only its routed partitions are read, by
      * [[IndexProbe]]: on the driver when they add up to at most
      * [[IndexProbe.InProcessBytes]], else by a job. */
    def local(spark: SparkSession, root: String, dir: String): Seq[Row] = {
      require(meta(dir), s"$name: $dir is not a metadata directory")
      val schema = dirs(dir)
      val found = files(spark.sessionState.newHadoopConf(), s"$root/$dir")
      if (found.isEmpty) return Seq.empty
      val reader = rowReader(spark, schema)
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      // convert while iterating: the reader reuses its row object
      found.flatMap(f => reader(f.partitioned).map(r => toRow(r).asInstanceOf[Row]).toVector)
    }
  }

  /** An APPENDABLE layout: the commit-log protocol every incremental
    * index shares, written once. The rows of the data directory `data`
    * carry the id of the batch that wrote them (column `batch`); a
    * batch becomes visible when its row lands in the commit directory
    * `commits`, which is written LAST, so a crash between the writes
    * leaves orphans no reader serves and a re-driven write (fresh batch
    * id) lands once. Deletes are tombstones: (`id`, `batch`) rows in
    * `deletes/`, committed the same way, idempotent, zero data
    * rewrites. The vacuum rewrites only the `part` partitions that hold
    * orphaned or tombstoned rows or more files than asked, drops the
    * directories it drains, and keeps `commits`/`deletes` (metadata
    * sized; retained tombstones keep a re-delete a no-op). This is the
    * reference's re-drivable idempotent batch (pg_engine.py:104-125,
    * arxiv_etl.py:42-58) as lake files.
    *
    * The commit rows are read on the driver ([[Layout.local]], no job).
    * Besides the batch id they carry the build-time parameters every
    * later write must reuse (the bucket count, the df cap), or, in the
    * raw BM25 stats log, the batch's corpus-statistics deltas. */
  final class Appendable(name: String, dirs: Map[String, StructType], meta: Set[String],
                         val data: String, val part: Option[String], val id: Option[String],
                         val batch: String = "batch_id", val commits: String = "commits")
    extends Layout(name, dirs, meta) {
    require(dirs.contains(data) && meta(commits), s"$name: undeclared data or commit dir")

    private val tombstoned = dirs.contains("deletes")
    private def idCol: String = id.getOrElse(sys.error(s"$name: no id column"))
    private def partCol: String = part.getOrElse(sys.error(s"$name: not partitioned"))

    /** One write of the protocol: `write(batchId, mode)` lands the
      * batch's rows (tagged with a per-attempt batch id), then the
      * commit row `commitRow(batchId)` lands LAST. `overwrite` builds afresh
      * (dropping the previous index's tombstones first); `commit =
      * false` stops before the commit row — the kill-between-writes
      * state the crash-safety specs drive. */
    def append(spark: SparkSession, root: String, overwrite: Boolean, commit: Boolean = true)(
        write: (String, String) => Unit)(commitRow: String => DataFrame): Unit = {
      val batchId = java.util.UUID.randomUUID.toString
      if (overwrite && tombstoned) {
        val del = new Path(s"$root/deletes")
        del.getFileSystem(spark.sessionState.newHadoopConf()).delete(del, true)
      }
      write(batchId, if (overwrite) "overwrite" else "append")
      if (commit) this.commit(root, commitRow(batchId), overwrite)
    }

    /** Write commit rows: the step that makes a batch visible. */
    def commit(root: String, rows: DataFrame, overwrite: Boolean = false): Unit =
      rows.coalesce(1).write.mode(if (overwrite) "overwrite" else "append")
        .parquet(s"$root/$commits")

    /** A one-row frame of the commit directory's declared schema. */
    def row(spark: SparkSession, values: Any*): DataFrame =
      spark.createDataFrame(java.util.List.of(Row(values: _*)), dirs(commits))

    /** The commit rows, read on the driver. */
    def log(spark: SparkSession, root: String): Seq[Row] = local(spark, root, commits)

    /** The committed batch ids: the snapshot a serve pins. */
    def committed(spark: SparkSession, root: String): Seq[String] = batches(log(spark, root))

    def batches(log: Seq[Row]): Seq[String] = log.map(_.getAs[String](batch))

    /** The build-time parameter `field` every commit row carries (the
      * bucket count, the df cap): an index is never written or served
      * under a value it was not built with. */
    def pinned(log: Seq[Row], root: String, field: String): Int = {
      val vs = log.map(_.getAs[Int](field)).distinct
      require(vs.nonEmpty, s"no committed batch in $root/$commits")
      require(vs.length == 1, s"inconsistent $field in $root/$commits: ${vs.mkString(",")}")
      vs.head
    }

    /** Ids tombstoned by `committed` batches, read on the driver (none
      * for a layout without tombstones). */
    def tombstones(spark: SparkSession, root: String, committed: Seq[String]): Seq[Long] =
      if (!tombstoned) Nil
      else {
        val keep = committed.toSet
        local(spark, root, "deletes").collect {
          case r if !r.isNullAt(0) && keep(r.getString(1)) => r.getLong(0)
        }.distinct
      }

    /** Tombstone `victims` (the id column, plus what `commitRow`
      * reads): ids a committed batch already tombstoned are skipped,
      * the rest land in `deletes/` under a fresh batch id, and the
      * commit row `commitRow(batchId, fresh)` lands last. `eager` materializes the fresh
      * victims once when the commit row is derived from them. */
    def delete(spark: SparkSession, root: String, victims: DataFrame, committed: Seq[String],
               eager: Boolean)(commitRow: (String, DataFrame) => DataFrame): Unit = {
      import spark.implicits._
      require(tombstoned, s"$name: no tombstones")
      val batchId = java.util.UUID.randomUUID.toString
      val found = victims.join(tombstones(spark, root, committed).toDF(idCol), Seq(idCol),
        "left_anti")
      val fresh = if (eager) found.localCheckpoint() else found
      fresh.select(col(idCol), lit(batchId).as(batch))
        .coalesce(1).write.mode("append").parquet(s"$root/deletes")
      commit(root, commitRow(batchId, fresh))
    }

    /** [[delete]] of the distinct ids in `ids`' id column, committed
      * by a row that repeats the index's build-time parameters. */
    def delete(spark: SparkSession, root: String, ids: DataFrame): Unit = {
      val log = this.log(spark, root)
      require(log.nonEmpty, s"no committed batch in $root/$commits")
      val last = log.head
      delete(spark, root, ids.select(col(idCol)).distinct(), batches(log), eager = false) {
        (b, _) => row(spark, last.toSeq.updated(last.fieldIndex(batch), b): _*)
      }
    }

    /** The fraction of data rows a vacuum would drop: orphaned
      * (uncommitted) or tombstoned over all. The measure the retention
      * sweep thresholds the rewrite on. One scan of the batch and id
      * columns against driver-read tombstones. */
    def reclaimableFraction(spark: SparkSession, root: String): Double = {
      import spark.implicits._
      val committed = this.committed(spark, root)
      val counts = read(spark, root, data).select(col(batch), col(idCol))
        .join(broadcast(tombstones(spark, root, committed).toDF(idCol)
          .withColumn("dead", lit(1))), Seq(idCol), "left_outer")
        .agg(count(lit(1)).as("total"),
          sum(when(col("dead").isNotNull || !col(batch).isin(committed: _*), 1L)
            .otherwise(0L)).as("reclaimable"))
        .head()
      if (counts.getLong(0) == 0L) 0.0
      else counts.getLong(1).toDouble / counts.getLong(0)
    }

    /** Partitions holding more than `maxFiles` data files (a driver
      * listing: every append adds a file per touched partition). */
    def fragmented(spark: SparkSession, root: String, maxFiles: Int): Set[Int] =
      Lake.fragmentedPartitions(spark, s"$root/$data", partCol, maxFiles)

    /** VACUUM: [[rewrite]] at the current committed state, under the
      * writer lease and the read-pin gate. */
    def vacuum(spark: SparkSession, root: String, maxFiles: Int = 1): Unit =
      maintain(spark, root, s"$name vacuum") {
        val c = committed(spark, root)
        rewrite(spark, root, c, tombstones(spark, root, c), maxFiles)
      }

    /** Rewrite the dirty partitions (orphaned rows — batch not in
      * `committed` — or rows of `dead` ids) and the fragmented ones to
      * their live rows, one file each, by dynamic partition overwrite:
      * clean partitions keep their files byte-for-byte, and a target
      * drained to no live row has its directory dropped. Returns the
      * rewritten partitions. Callers hold the writer lease. */
    def rewrite(spark: SparkSession, root: String, committed: Seq[String], dead: Seq[Long],
                maxFiles: Int): Set[Int] = {
      import spark.implicits._
      val rows = read(spark, root, data)
      val deadIds = dead.toDF(idCol)
      val dirty = partitionsOf(rows.join(deadIds, Seq(idCol), "left_semi").select(col(partCol))
        .unionAll(rows.filter(!col(batch).isin(committed: _*)).select(col(partCol)))).toSet
      val targets = dirty ++ fragmented(spark, root, maxFiles)
      if (targets.nonEmpty) {
        // eager: the rewrite replaces the very files being read
        val clean = rows.filter(col(partCol).isin(targets.toSeq: _*))
          .filter(col(batch).isin(committed: _*))
          .join(broadcast(deadIds), Seq(idCol), "left_anti")
          .select(rows.columns.map(col): _*)
          .localCheckpoint()
        clean.repartition(col(partCol)) // one task owns each partition -> one file
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partCol).parquet(s"$root/$data")
        drop(spark, root, targets -- partitionsOf(clean.select(col(partCol))))
      }
      targets
    }

    /** Drop partition directories of the data directory through the
      * Hadoop FileSystem API (java.io.File silently no-ops off-local,
      * and a stale directory would double-serve). */
    def drop(spark: SparkSession, root: String, partitions: Iterable[Int]): Unit = {
      val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
      partitions.foreach(p => fs.delete(new Path(s"$root/$data/$partCol=$p"), true))
    }
  }

  /** Run a rewriting maintenance step under the index's exclusive
    * writer lease, refusing while a read pin is live (a pinned
    * snapshot may still reference the rows a rewrite reclaims). */
  def maintain[T](spark: SparkSession, root: String, step: String)(body: => T): T =
    Lake.withWriterLock(spark, root, step) {
      Lake.requireUnpinned(spark, root, step)
      body
    }

  /** A data file of an index directory, as a scan task opens it. */
  private[sources] final case class DataFile(path: String, length: Long, modified: Long) {
    def partitioned: PartitionedFile = PartitionedFile(InternalRow.empty,
      SparkPath.fromPath(new Path(path)), 0L, length, Array.empty[String], modified, length)
  }

  /** The data files of the flat directory `dir`, sorted by name. Files
    * whose names start with `_` or `.` (`_SUCCESS`, checksums) are
    * skipped as Spark's own listing skips them; a missing directory
    * holds none. One `listStatus` call: a missing directory answers it
    * with FileNotFoundException, so no separate `exists` call (a second
    * round trip on a remote file system) is made. */
  private[sources] def files(conf: Configuration, dir: String): Seq[DataFile] = {
    val path = new Path(dir)
    val listed = try path.getFileSystem(conf).listStatus(path).toSeq
      catch { case _: FileNotFoundException => return Seq.empty }
    listed.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.getName)
      .map(st => DataFile(st.getPath.toString, st.getLen, st.getModificationTime))
  }

  /** The reader a scan task runs over one parquet file
    * (`ParquetFileFormat.buildReaderWithPartitionValues`, row mode),
    * reading the columns of `schema` and nothing else. The function is
    * serializable: a task built on the driver can carry it.
    *
    * Built once per (SparkContext, schema, session SQL conf entries)
    * and reused: every build broadcasts the session's Hadoop
    * configuration (a block held until GC lets the ContextCleaner drop
    * it), and a serve request reads a few metadata directories and
    * probes once, each with a reader. The SQL conf entries are the key
    * because the build reads them twice: from the session's SQL conf
    * (pushdown, rebase and vectorization settings) and from the Hadoop
    * configuration `newHadoopConf` layers them onto; a `set` or `unset`
    * therefore builds a new reader. Entries of stopped contexts are
    * evicted on the next build, as [[graft.Artifacts]] evicts its
    * cells. The build runs outside the map's lock: two threads that
    * miss together both build, and the first to land is kept. */
  private[sources] def rowReader(spark: SparkSession,
                                 schema: StructType): PartitionedFile => Iterator[InternalRow] = {
    val key = (spark.sparkContext, schema, spark.sessionState.conf.getAllConfs)
    val hit = readers.get(key)
    if (hit != null) return hit
    readers.keySet.removeIf(_._1.isStopped)
    val built = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), spark.sessionState.newHadoopConf())
    Option(readers.putIfAbsent(key, built)).getOrElse(built)
  }

  private val readers = new java.util.concurrent.ConcurrentHashMap[
    (SparkContext, StructType, Map[String, String]), PartitionedFile => Iterator[InternalRow]]()

  /** How many readers are kept for `sc`. */
  private[sources] def readersOf(sc: SparkContext): Int =
    readers.keySet.stream.filter(_._1 eq sc).count.toInt

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  private val floats = ArrayType(FloatType)

  /** [[graft.operators.TextAnalysis.bm25Write]], per version directory. */
  val ImpactBm25: Layout = new Layout("impact BM25", Map(
    "stats" -> schema("n_docs" -> LongType, "am" -> LongType,
      "n_buckets" -> IntegerType, "df_cap" -> IntegerType),
    "postings" -> schema("token" -> StringType, "doc_id" -> LongType,
      "impact" -> LongType, "bucket" -> IntegerType),
    "deletes" -> schema("doc_id" -> LongType)),
    meta = Set("stats", "deletes"))

  /** [[graft.operators.TextAnalysis.bm25WriteRaw]] and its appends:
    * the commit rows are the stats log's (n_docs, Σdl) deltas. */
  val RawBm25: Appendable = new Appendable("raw BM25", Map(
    "stats_log" -> schema("batch_id" -> StringType, "n_docs_delta" -> LongType,
      "sum_dl_delta" -> LongType, "n_buckets" -> IntegerType),
    "postings" -> schema("token" -> StringType, "doc_id" -> LongType,
      "dl" -> LongType, "tf" -> LongType, "batch_id" -> StringType,
      "bucket" -> IntegerType),
    "doclens" -> schema("doc_id" -> LongType, "dl" -> LongType,
      "batch_id" -> StringType),
    "deletes" -> schema("doc_id" -> LongType, "batch_id" -> StringType)),
    meta = Set("stats_log", "deletes"),
    data = "postings", part = Some("bucket"), id = Some("doc_id"), commits = "stats_log")

  /** [[graft.operators.Similarity.ivfWrite]] and its maintenance. */
  val Ivf: Appendable = new Appendable("IVF", Map(
    "centroids" -> schema("cid" -> IntegerType, "cvec" -> floats,
      "cnorm" -> DoubleType),
    "lists" -> schema("neighbor_id" -> LongType, "vc" -> floats,
      "nc" -> DoubleType, "label" -> IntegerType,
      "q8" -> ArrayType(ByteType), "qn" -> DoubleType,
      "batch_id" -> StringType, "cell" -> IntegerType),
    "commits" -> schema("batch_id" -> StringType),
    "deletes" -> schema("neighbor_id" -> LongType, "batch_id" -> StringType)),
    meta = Set("centroids", "commits", "deletes"),
    data = "lists", part = Some("cell"), id = Some("neighbor_id"))

  /** [[graft.operators.Similarity.pqAttach]]'s sidecar, under an IVF
    * root: its tombstones are the IVF index's, and a commit row counts
    * only under the centroid stamp it carries. */
  val Pq: Appendable = new Appendable("PQ sidecar", Map(
    "pq/books" -> schema("sub" -> IntegerType, "code" -> IntegerType,
      "cvec" -> floats, "chalf" -> DoubleType, "m" -> IntegerType,
      "dsub" -> IntegerType, "kpq" -> IntegerType, "cstamp" -> StringType,
      "opq_iters" -> IntegerType, "rot" -> floats),
    "pq/codes" -> schema("neighbor_id" -> LongType,
      "codes" -> ArrayType(IntegerType), "nc" -> DoubleType,
      "pq_batch" -> StringType, "cell" -> IntegerType),
    "pq/commits" -> schema("pq_batch" -> StringType, "cstamp" -> StringType)),
    meta = Set("pq/books", "pq/commits"),
    data = "pq/codes", part = Some("cell"), id = Some("neighbor_id"),
    batch = "pq_batch", commits = "pq/commits")

  /** [[graft.operators.TextAnalysis.lineIndexWrite]]: the line and
    * paragraph boilerplate-df indexes and the URL seen set. */
  val Lines: Appendable = new Appendable("line index", Map(
    "lines" -> schema("line" -> StringType, "doc_id" -> LongType,
      "batch_id" -> StringType, "bucket" -> IntegerType),
    "commits" -> schema("batch_id" -> StringType, "n_buckets" -> IntegerType),
    "deletes" -> schema("doc_id" -> LongType, "batch_id" -> StringType)),
    meta = Set("commits", "deletes"),
    data = "lines", part = Some("bucket"), id = Some("doc_id"))

  /** [[graft.operators.TextAnalysis.phraseIndexWrite]]'s positional postings. */
  val Phrase: Appendable = new Appendable("phrase index", Map(
    "pos" -> schema("token" -> StringType, "doc_id" -> LongType, "p" -> IntegerType,
      "batch_id" -> StringType, "bucket" -> IntegerType),
    "commits" -> schema("batch_id" -> StringType, "n_buckets" -> IntegerType)),
    meta = Set("commits"),
    data = "pos", part = Some("bucket"), id = Some("doc_id"))

  /** [[graft.operators.NearDup.dedupIndexWrite]]: shingle postings and
    * the per-doc size, per-batch df-delta and hot-candidate sidecars. */
  val DedupSig: Appendable = new Appendable("dedup signature index", Map(
    "postings" -> schema("sh" -> LongType, "doc_id" -> LongType,
      "batch_id" -> StringType, "bucket" -> IntegerType),
    "sizes" -> schema("doc_id" -> LongType, "n_raw" -> LongType, "batch_id" -> StringType),
    "dfs" -> schema("sh" -> LongType, "n_new" -> LongType, "batch_id" -> StringType,
      "bucket" -> IntegerType),
    "hotcand" -> schema("sh" -> LongType, "bucket" -> IntegerType, "batch_id" -> StringType),
    "commits" -> schema("batch_id" -> StringType, "n_buckets" -> IntegerType,
      "df_cap" -> IntegerType),
    "deletes" -> schema("doc_id" -> LongType, "batch_id" -> StringType)),
    meta = Set("commits", "deletes"),
    data = "postings", part = Some("bucket"), id = Some("doc_id"))

  /** [[graft.operators.Multimodal.phashIndexWrite]]'s band postings. */
  val Phash: Appendable = new Appendable("phash band index", Map(
    "bands" -> schema("band_idx" -> IntegerType, "band_val" -> IntegerType,
      "doc_id" -> LongType, "bands" -> ArrayType(IntegerType), "batch_id" -> StringType,
      "bucket" -> IntegerType),
    "commits" -> schema("batch_id" -> StringType, "n_buckets" -> IntegerType),
    "deletes" -> schema("doc_id" -> LongType, "batch_id" -> StringType)),
    meta = Set("commits", "deletes"),
    data = "bands", part = Some("bucket"), id = Some("doc_id"))

  /** [[graft.operators.TextAnalysis.knStoreWrite]]'s bigram-count delta
    * log (unpartitioned, no tombstones: a retraction is a negated delta). */
  val KnCounts: Appendable = new Appendable("KN count store", Map(
    "counts" -> schema("w1" -> StringType, "w2" -> StringType, "cb" -> LongType,
      "batch_id" -> StringType),
    "commits" -> schema("batch_id" -> StringType)),
    meta = Set("commits"),
    data = "counts", part = None, id = None)

  /** [[Catalog]]'s manifest, under the catalog root: one row per
    * registration, the (kind, key) pair's newest `seq` serving. */
  val Manifest: Layout = new Layout("catalog manifest", Map(
    "manifest" -> schema("kind" -> StringType, "key" -> StringType, "path" -> StringType,
      "stamp" -> StringType, "seq" -> LongType)),
    meta = Set("manifest"))

  /** [[UpsertSink]]'s commit log, under the store root: one
    * (batch_id, write_id) row per delivered batch, written after the
    * batch's rows. */
  val BatchLog: Layout = new Layout("upsert batch log", Map(
    "batch_log" -> schema("batch_id" -> LongType, "write_id" -> StringType)),
    meta = Set("batch_log"))

  val all: Seq[Layout] = Seq(ImpactBm25, RawBm25, Ivf, Pq, Lines, Phrase, DedupSig, Phash,
    KnCounts, Manifest, BatchLog)

  /** The distinct partition values (bucket or cell ids) a frame of one
    * int column names — the dirty and surviving partition sets of the
    * maintenance rewrites (vacuum, compaction, retrain) and the
    * routing sets of the serves whose query batch is itself a Spark
    * computation (line and phrase dedup). Each task dedups its own rows
    * and the driver merges the per-task sets: one job and no shuffle,
    * where a SQL `distinct()` plans an exchange (two adaptive jobs)
    * over a handful of rows. The driver receives at most
    * tasks × partitions ints, whatever the size of the frame. */
  def partitionsOf(keys: DataFrame): Seq[Int] = {
    import keys.sparkSession.implicits._
    keys.as[Int].mapPartitions(_.toSet.iterator).collect().distinct.toSeq
  }
}
