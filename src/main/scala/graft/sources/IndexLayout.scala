package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * against the schema Spark infers from a freshly built index. */
object IndexLayout {

  final case class Layout(name: String, dirs: Map[String, StructType]) {
    def read(spark: SparkSession, root: String, dir: String): DataFrame =
      spark.read.schema(dirs(dir)).parquet(s"$root/$dir")
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
    "deletes" -> schema("doc_id" -> LongType)))

  /** [[graft.operators.TextAnalysis.bm25WriteRaw]] and its appends. */
  val RawBm25: Layout = Layout("raw BM25", Map(
    "stats_log" -> schema("batch_id" -> StringType, "n_docs_delta" -> LongType,
      "sum_dl_delta" -> LongType, "n_buckets" -> IntegerType),
    "postings" -> schema("token" -> StringType, "doc_id" -> LongType,
      "dl" -> LongType, "tf" -> LongType, "batch_id" -> StringType,
      "bucket" -> IntegerType),
    "doclens" -> schema("doc_id" -> LongType, "dl" -> LongType,
      "batch_id" -> StringType),
    "deletes" -> schema("doc_id" -> LongType, "batch_id" -> StringType)))

  /** [[graft.operators.Similarity.ivfWrite]] and its maintenance. */
  val Ivf: Layout = Layout("IVF", Map(
    "centroids" -> schema("cid" -> IntegerType, "cvec" -> floats,
      "cnorm" -> DoubleType),
    "lists" -> schema("neighbor_id" -> LongType, "vc" -> floats,
      "nc" -> DoubleType, "label" -> IntegerType,
      "q8" -> ArrayType(ByteType), "qn" -> DoubleType,
      "batch_id" -> StringType, "cell" -> IntegerType),
    "commits" -> schema("batch_id" -> StringType),
    "deletes" -> schema("neighbor_id" -> LongType, "batch_id" -> StringType)))

  /** [[graft.operators.Similarity.pqAttach]]'s sidecar, under an IVF root. */
  val Pq: Layout = Layout("PQ sidecar", Map(
    "pq/books" -> schema("sub" -> IntegerType, "code" -> IntegerType,
      "cvec" -> floats, "chalf" -> DoubleType, "m" -> IntegerType,
      "dsub" -> IntegerType, "kpq" -> IntegerType, "cstamp" -> StringType,
      "opq_iters" -> IntegerType, "rot" -> floats),
    "pq/codes" -> schema("neighbor_id" -> LongType,
      "codes" -> ArrayType(IntegerType), "nc" -> DoubleType,
      "pq_batch" -> StringType, "cell" -> IntegerType),
    "pq/commits" -> schema("pq_batch" -> StringType, "cstamp" -> StringType)))

  val all: Seq[Layout] = Seq(ImpactBm25, RawBm25, Ivf, Pq)

  /** The distinct partition values (bucket or cell ids) a routing frame
    * of one int column names. Each task dedups its own rows and the
    * driver merges the per-task sets: one job and no shuffle, where a
    * SQL `distinct()` plans an exchange (two adaptive jobs) over a
    * handful of rows. The driver receives at most tasks × partitions
    * ints, whatever the size of the frame. */
  def partitionsOf(keys: DataFrame): Seq[Int] = {
    import keys.sparkSession.implicits._
    keys.as[Int].mapPartitions(_.toSet.iterator).collect().distinct.toSeq
  }
}
