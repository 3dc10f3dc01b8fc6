package graft.operators

import graft.{Artifacts, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, EvalMode, Floor,
  Literal, Log, Multiply}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Per-document text features from ONE tokenize: the curation chain's
  * shared input (the reference parses each batch once). A
  * (doc_id, text) frame becomes one row per document:
  *
  *  - `toks`: the whitespace token stream, in order
  *    ([[TextAnalysis.toks]]: `split(trim(text), '\s+')`, empty for
  *    blank text);
  *  - `n_chars`, `n_tokens`, `n_distinct`, `n_stop`: the inputs of
  *    C9's quality score;
  *  - `th`: per token, in stream order, the md5-prefix integer
  *    `conv(substring(md5(token), 1, 8), 16, 10)` whose residue mod
  *    `dim` is the hashed-unigram slot of NB, DSIR and docEmbed;
  *  - `sh3`: the distinct word-3-gram hashes `xxhash64(t0, t1, t2)`
  *    of C4's shingle postings (empty under 3 tokens);
  *  - `g4`: the distinct word-4-gram hashes
  *    `xxhash64(concat_ws(' ', gram))` of F3's decontamination grams
  *    (empty under 4 tokens).
  *
  * Only exact integers, hashes and ordered streams are carried, so
  * every consumer derives exactly what its own tokenize derived: the
  * integer counts of NB and DSIR are sums over `th`, and the
  * perplexity LM's per-doc double sum still sees each doc's tokens
  * contiguous and in stream order within one partition.
  *
  * [[of]] is the one featurizer: the registry path reads the session
  * artifact [[forDir]] (one scan of `fanout(documents)`, checkpointed),
  * and the frame-based cores the specs and streaming scorers call
  * build their features through [[of]] itself, so the two paths
  * cannot drift. The re-crawl twins of [[NearDup.corpus]] (the same
  * text under doc_id + BigOffset) take their rows by [[withTwins]]'s
  * id shift instead of a second tokenize. */
object DocFeatures {

  private val StopRe = "\\b(the|a|of|to|and|is|in)\\b"

  /** The distinct word-n-gram hashes of the `toks` column, as F3's
    * decontamination grams hash them. */
  private def gramHashes(n: Int): Column = expr(
    s"""CASE WHEN size(toks) >= $n THEN array_distinct(transform(
       |  sequence(0, size(toks) - $n),
       |  i -> xxhash64(concat_ws(' ', slice(toks, i + 1, $n)))))
       |ELSE CAST(array() AS array<bigint>) END""".stripMargin)

  /** The features of a (doc_id, text) frame — one row per input row. */
  def of(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"), TextAnalysis.toks(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        length(col("text")).as("n_chars"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        regexp_count(lower(col("text")), lit(StopRe)).as("n_stop"),
        transform(col("toks"),
          t => conv(substring(md5(t), 1, 8), 16, 10).cast("long")).as("th"),
        expr(
          """CASE WHEN size(toks) >= 3 THEN array_distinct(transform(
            |  sequence(0, size(toks) - 3),
            |  i -> xxhash64(toks[i], toks[i + 1], toks[i + 2])))
            |ELSE CAST(array() AS array<bigint>) END""".stripMargin).as("sh3"),
        gramHashes(4).as("g4"))

  /** The session artifact: [[of]] over `fanout(documents)` of `dir`,
    * built once per corpus state and checkpointed. */
  def forDir(spark: SparkSession, dir: String): DataFrame =
    Artifacts.value(spark, Artifacts.DocFeatures, dir) {
      of(Tables.fanout(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text")))).localCheckpoint()
    }

  /** Features ∪ the exact re-crawl's: every row again under
    * doc_id + [[NearDup.BigOffset]] — the features of
    * [[NearDup.corpus]] without tokenizing its twins. */
  def withTwins(f: DataFrame): DataFrame =
    f.unionAll(f.withColumn("doc_id", col("doc_id") + NearDup.BigOffset))

  /** (doc_id, sh): C4's shingle postings. */
  def shingles(f: DataFrame): DataFrame =
    f.select(col("doc_id"), explode(col("sh3")).as("sh"))

  /** (doc_id, gh): F3's distinct word-n-gram hashes. */
  def grams(f: DataFrame, n: Int): DataFrame =
    f.select(col("doc_id"),
      explode(if (n == 4) col("g4") else gramHashes(n)).as("gh"))

  /** (doc_id, token, tf): per-document token counts. */
  def tf(f: DataFrame): DataFrame =
    f.select(col("doc_id"), explode(col("toks")).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))

  /** Per token, in stream order, its hashed-unigram slot in a
    * `dim`-slot space. */
  def slots(dim: Int): Column =
    transform(col("th"), h => (h % dim).cast("int"))

  /** Σ over the doc's tokens of `w(slot)` — the integer dot product
    * of its hashed-unigram counts with a dim-sized weight vector. */
  def dot(dim: Int, w: Array[Long]): Column =
    aggregate(col("th"), lit(0L),
      (acc, h) => acc + element_at(typedLit(w), (h % dim).cast("int") + 1))

  /** ⌊10⁶·ln(a / b)⌋ — the micro-unit log-probability the NB and DSIR
    * fits quantize to — evaluated on the driver by Catalyst's own
    * Floor, Log, Divide and Cast: the expressions
    * `floor(lit(1e6) * log(a.cast("double") / b.cast("double")))`
    * plans, under the session's evaluation mode, so a driver fit
    * equals the Spark-plan fit bit for bit. */
  def microLn(spark: SparkSession, a: Long, b: Long): Long = {
    val mode = EvalMode.fromSQLConf(spark.sessionState.conf)
    Floor(Multiply(Literal(1e6), Log(Divide(Cast(Literal(a), DoubleType),
      Cast(Literal(b), DoubleType), mode)), mode)).eval().asInstanceOf[Long]
  }

  /** Fold every row of `df` into a `size`-long array of counts in ONE
    * job: each task adds its rows into its own array (`add`), the
    * driver sums the arrays. For metadata-sized fits (≤ 2·(dim+1)
    * slot sums); integer sums, so the fold order is immaterial. */
  def driverSums(df: DataFrame, size: Int)(add: (InternalRow, Array[Long]) => Unit): Array[Long] =
    df.queryExecution.toRdd.aggregate(new Array[Long](size))(
      (acc, r) => { add(r, acc); acc },
      (a, b) => { var i = 0; while (i < size) { a(i) += b(i); i += 1 }; a })

  /** Occurrences of each value of `df`'s single long column, in ONE
    * job — for keys bounded by a value range, never by N. */
  def driverHistogram(df: DataFrame): Map[Long, Long] =
    df.queryExecution.toRdd.aggregate(Map.empty[Long, Long])(
      (m, r) => { val k = r.getLong(0); m.updated(k, m.getOrElse(k, 0L) + 1L) },
      (a, b) => b.foldLeft(a) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0L) + v) })
}
