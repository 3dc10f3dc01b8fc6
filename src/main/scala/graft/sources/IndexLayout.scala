package graft.sources

import org.apache.hadoop.fs.Path
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
  * (a stats row, a commit log, nlist centroids, codebooks) a serve or
  * a maintenance step reads whole before it plans any data work.
  * [[Layout.local]] reads those on the driver without a Spark job. */
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
      * `read(spark, root, dir).collect()` returns, with no job. Files
      * whose names start with `_` or `.` (`_SUCCESS`, checksums) are
      * skipped as Spark's own listing skips them; a missing directory
      * holds no rows. Only the directories in `meta` qualify: a data
      * directory (postings, lists, codes) is corpus-sized and must be
      * read by a job. */
    def local(spark: SparkSession, root: String, dir: String): Seq[Row] = {
      require(meta(dir), s"$name: $dir is not a metadata directory")
      val schema = dirs(dir)
      val conf = spark.sessionState.newHadoopConf()
      val path = new Path(s"$root/$dir")
      val fs = path.getFileSystem(conf)
      if (!fs.exists(path)) return Seq.empty
      val files = fs.listStatus(path).toSeq.filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.sortBy(_.getPath.getName)
      if (files.isEmpty) return Seq.empty
      val reader = new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, schema, new StructType(), schema, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      files.flatMap { st =>
        val file = PartitionedFile(InternalRow.empty, SparkPath.fromPath(st.getPath),
          0L, st.getLen, Array.empty[String], st.getModificationTime, st.getLen)
        // convert while iterating: the reader reuses its row object
        reader(file).map(r => toRow(r).asInstanceOf[Row]).toVector
      }
    }
  }

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
    meta = Set("stats"))

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
    meta = Set("stats_log"))

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
    meta = Set("centroids", "commits"))

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
