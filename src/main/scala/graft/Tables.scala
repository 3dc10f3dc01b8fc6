package graft

import org.apache.spark.sql.{DataFrame, SparkSession, functions}
import org.apache.spark.sql.types._

/** Parquet loaders for the driver-generated testdata layout
  * (`<dir>/<table>.parquet`).
  *
  * Plain `spark.read.parquet` so Catalyst handles column pruning and
  * filter pushdown at the scan: callers `.select`/`.filter` and the
  * parquet reader sees `ReadSchema`/`PushedFilters` accordingly. At
  * cluster scale the same loaders work against a directory of many
  * files; nothing here assumes a single file.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  /** `events.ts` normalized to TIMESTAMP_NTZ regardless of the
    * generator's physical layout. Earlier testdata rounds wrote parquet
    * TIMESTAMP(NANOS), which Spark 4 rejects outright — those are read
    * as a raw long (legacy conf) and truncated ns→µs with integer
    * division (`div`: the values exceed double's 2^53 mantissa, so
    * `/ 1000` would corrupt them), matching how µs-native engines
    * (e.g. DuckDB) truncate the same column. Current testdata writes
    * TIMESTAMP(MICROS), which both engines read natively. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(spark, dir, "events")
    val ts = df.schema("ts").dataType match {
      case LongType => timestamp_micros(expr("ts div 1000"))
      case TimestampType =>
        // an LTZ→NTZ cast goes through the SESSION timezone; the
        // cross-engine contract (DuckDB reads the same parquet
        // naively) requires UTC wall clock. Cancel the session-zone
        // interpretation IN the expression (to_utc_timestamp shifts
        // the wall time back by the session offset before the NTZ
        // cast re-applies it) instead of mutating the session conf —
        // a table read must not silently rewrite the caller's
        // timezone for every later query. Every repo entry point
        // pins UTC anyway, where this is the identity; the
        // offset-at-instant vs offset-at-wall divergence inside a
        // DST transition hour is the only residue on non-UTC
        // sessions (same caveat as sessionizeStream's watermark).
        to_utc_timestamp(col("ts"),
          spark.conf.get("spark.sql.session.timeZone"))
      case _ => col("ts") // TIMESTAMP_NTZ reads timezone-free
    }
    df.withColumn("ts", ts.cast("timestamp_ntz"))
  }
  /** `documents`' declared schema: the same in every generated scale
    * and in the lake `Lake.quarantine` lands, so the read needs no
    * footer-inference job. A lake written with only some of these
    * columns reads the missing ones as null. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(documentsSchema).parquet(s"$dir/documents.parquet")

  /** Embeddings are read with an explicit schema (documents the dense
    * `array<float>` ingest contract and skips schema inference; note
    * file scans still force nullable flags on read — the vector kernel
    * handles null slots with HOF-equivalent semantics instead). */
  def embeddings(spark: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    spark.read.schema(schema).parquet(s"$dir/embeddings.parquet")
  }

  /** The 70% id prefix the lifecycle drills build their first index
    * on (the rest arrives as appends, or as the next epoch):
    * `max(id) * 7 / 10`, None on an empty frame. */
  def prefixCut(df: DataFrame, id: String = "doc_id"): Option[Long] = {
    val m = df.agg(functions.max(id)).head()
    if (m.isNullAt(0)) None else Some(m.getLong(0) * 7 / 10)
  }

  /** Spread a scan across all cores before a compute-heavy fan-out
    * (shingling, signatures, pair scoring). The generated testdata is
    * one row group per file, so the scan itself yields ONE split and
    * everything narrow after it would run on one task; a production
    * lake yields thousands of splits and makes this exchange a no-op
    * cost-wise. Round-robin keeps sizes balanced; all downstream
    * keyed ops re-shuffle on their own keys anyway. */
  def fanout(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
}
