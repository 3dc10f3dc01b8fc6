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
import org.apache.spark.sql.types._

/** The declared schemas of the on-disk index layouts graft writes and
  * serves from: every directory of the impact BM25, raw BM25, IVF and
  * PQ-sidecar layouts, in one table.
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
  * job. */
object IndexLayout {

  final case class Layout(name: String, dirs: Map[String, StructType],
                          meta: Set[String]) {
    require(meta.subsetOf(dirs.keySet), s"$name: undeclared metadata dirs")

    def read(spark: SparkSession, root: String, dir: String): DataFrame =
      spark.read.schema(dirs(dir)).parquet(s"$root/$dir")

    /** Every row of the flat metadata directory `root/dir`, read on
      * the driver with the reader a scan task runs
      * (`ParquetFileFormat.buildReaderWithPartitionValues`, row mode)
      * and converted to external rows of the declared schema: the rows
      * `read(spark, root, dir).collect()` returns, with no job, from
      * the files [[files]] lists. Only the directories in `meta`
      * qualify: a data directory (postings, lists, codes) is
      * corpus-sized and must be read by a job. */
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
  val ImpactBm25: Layout = Layout("impact BM25", Map(
    "stats" -> schema("n_docs" -> LongType, "am" -> LongType,
      "n_buckets" -> IntegerType, "df_cap" -> IntegerType),
    "postings" -> schema("token" -> StringType, "doc_id" -> LongType,
      "impact" -> LongType, "bucket" -> IntegerType),
    "deletes" -> schema("doc_id" -> LongType)),
    meta = Set("stats", "deletes"))

  /** [[graft.operators.TextAnalysis.bm25WriteRaw]] and its appends. */
  val RawBm25: Layout = Layout("raw BM25", Map(
    "stats_log" -> schema("batch_id" -> StringType, "n_docs_delta" -> LongType,
      "sum_dl_delta" -> LongType, "n_buckets" -> IntegerType),
    "postings" -> schema("token" -> StringType, "doc_id" -> LongType,
      "dl" -> LongType, "tf" -> LongType, "batch_id" -> StringType,
      "bucket" -> IntegerType),
    "doclens" -> schema("doc_id" -> LongType, "dl" -> LongType,
      "batch_id" -> StringType),
    "deletes" -> schema("doc_id" -> LongType, "batch_id" -> StringType)),
    meta = Set("stats_log", "deletes"))

  /** [[graft.operators.Similarity.ivfWrite]] and its maintenance. */
  val Ivf: Layout = Layout("IVF", Map(
    "centroids" -> schema("cid" -> IntegerType, "cvec" -> floats,
      "cnorm" -> DoubleType),
    "lists" -> schema("neighbor_id" -> LongType, "vc" -> floats,
      "nc" -> DoubleType, "label" -> IntegerType,
      "q8" -> ArrayType(ByteType), "qn" -> DoubleType,
      "batch_id" -> StringType, "cell" -> IntegerType),
    "commits" -> schema("batch_id" -> StringType),
    "deletes" -> schema("neighbor_id" -> LongType, "batch_id" -> StringType)),
    meta = Set("centroids", "commits", "deletes"))

  /** [[graft.operators.Similarity.pqAttach]]'s sidecar, under an IVF root. */
  val Pq: Layout = Layout("PQ sidecar", Map(
    "pq/books" -> schema("sub" -> IntegerType, "code" -> IntegerType,
      "cvec" -> floats, "chalf" -> DoubleType, "m" -> IntegerType,
      "dsub" -> IntegerType, "kpq" -> IntegerType, "cstamp" -> StringType,
      "opq_iters" -> IntegerType, "rot" -> floats),
    "pq/codes" -> schema("neighbor_id" -> LongType,
      "codes" -> ArrayType(IntegerType), "nc" -> DoubleType,
      "pq_batch" -> StringType, "cell" -> IntegerType),
    "pq/commits" -> schema("pq_batch" -> StringType, "cstamp" -> StringType)),
    meta = Set("pq/books", "pq/commits"))

  val all: Seq[Layout] = Seq(ImpactBm25, RawBm25, Ivf, Pq)

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
