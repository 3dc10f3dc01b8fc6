package graft.sources

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, AttributeReference,
  BindReferences, BoundReference, EvalMode, Expression, GenericInternalRow, GreaterThan, If,
  Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.LongAccumulator

/** Serves an external query batch against a persisted index with at
  * most ONE Spark job. The batch is routed on the driver ([[IndexRoute]])
  * to `bucket=`/`cell=` directories, whose files are listed on the
  * driver (a routed directory with no data file holds no rows, and no
  * routed file means no work). Each routed directory is scored by one
  * function: it reads the directory with the reader
  * [[IndexLayout.Layout.local]] uses, applies the committed-batch and
  * tombstone sets the driver read, and returns a bounded partial. A
  * warm probe over at most [[InProcessBytes]] routed bytes runs that
  * function in the calling thread and starts no job; a larger probe
  * runs it as one job with a task per routed directory. The driver
  * merges the partials into each query's top-k and returns them as a
  * local relation with the Spark plan's schema, so the caller's
  * `select(...).collect()` runs no job either.
  *
  * Partials are scored with the Catalyst expressions the Spark plans evaluate,
  * under the session's evaluation mode: `bm25ImpactExpr` parsed and
  * analysed once per mode, and [[IndexRoute.cosine]]'s DotProductFloat,
  * Divide and Multiply. Ranks follow the plans' windows: score
  * descending with nulls last, then the id ascending with nulls first.
  * IndexProbeSpec holds each probe bit for bit to the plan it replaces
  * (`TextAnalysis.bm25TopK`, `Similarity.ivfScore`,
  * `Similarity.ivfScoreRerank`), fed the same routed batch.
  *
  * Every task of the job adds the number of partial rows it returns to
  * an accumulator named [[PartialsAccumulator]], so a listener can
  * bound what the driver receives. */
object IndexProbe {

  val PartialsAccumulator = "IndexProbe.partials"

  /** The routed bytes (data file lengths) up to which a probe is scored
    * in the calling thread. A job costs a fixed 10-25 ms more than the
    * calling thread and wins it back only by scoring several routed
    * directories at once. Measured warm on 4 vCPUs (CHANGES.md): over
    * 4 to 16 routed directories, BM25 postings break even near 0.8-1.3
    * MB and IVF lists near 2-4 MB; past that the job pulls ahead (1.3
    * times faster at 8.7 MB over 4 cells, 2.5 times at 102 MB over 16).
    * The bound is the lower crossover. */
  val InProcessBytes: Long = 1L << 20

  /** The bound [[run]] applies: [[InProcessBytes]]. Specs move it to
    * force the job (-1) or to place it at a request's routed bytes. */
  @volatile private[graft] var inProcessBytes: Long = InProcessBytes

  // ------------------------------------------------------------ BM25

  /** A bucket's share of a BM25 batch: its query tokens, each with the
    * query groups that ask for it (a repeated (query_id, token) row
    * repeats its group, as the plan's join would count it twice). */
  private type Asks = Array[(String, Array[Int])]

  private type Partial = ((Int, java.lang.Long), java.lang.Long)

  /** The impact layout's request (`TextAnalysis.bm25ServeFrom`,
    * `bm25ServeFromLive`): per query, Σ impact over the postings of its
    * tokens whose doc is not in `dead`, top-k by score. `root` is the
    * resolved version directory; `nBuckets` its stats row's. */
  def bm25Impact(root: String, queries: DataFrame, nBuckets: Int,
                 dead: Seq[Long], k: Int): DataFrame = {
    val gone = dead.toSet
    bm25(IndexLayout.ImpactBm25, root, Seq("token", "doc_id", "impact"),
        queries, nBuckets, k) { (mode, asks, rows) =>
      val want = tokenIndex(asks)
      val sums = new Sums[(Int, java.lang.Long)](mode)
      rows.foreach { r =>
        if (!r.isNullAt(0)) want.get(r.getUTF8String(0)).foreach { t =>
          val doc = longOrNull(r, 1)
          if (doc == null || !gone(doc)) {
            val impact = longOrNull(r, 2)
            asks(t)._2.foreach(g => sums.add((g, doc), impact))
          }
        }
      }
      sums.acc.iterator
    }
  }

  /** The raw layout's request (`TextAnalysis.bm25ServeRaw`): postings
    * of `committed` batches whose doc is not in `dead`; per query token,
    * df = its surviving postings (all in the token's bucket), tokens
    * with df > `dfCap` dropped; impact = `bm25ImpactExpr` over the
    * driver's (n_docs, am) and each posting's (df, tf, dl); per query,
    * Σ impact, top-k by score. */
  def bm25Raw(root: String, queries: DataFrame, nBuckets: Int,
              committed: Seq[String], dead: Seq[Long], nDocs: Option[Long],
              am: Option[Long], dfCap: Int, k: Int): DataFrame = {
    val spark = queries.sparkSession
    val live = committed.map(UTF8String.fromString).toSet
    val gone = dead.toSet
    val impact = impactExpr(spark)
    val (n, a) = (nDocs.map(Long.box).orNull, am.map(Long.box).orNull)
    bm25(IndexLayout.RawBm25, root, Seq("token", "doc_id", "dl", "tf", "batch_id"),
        queries, nBuckets, k) { (mode, asks, rows) =>
      val want = tokenIndex(asks)
      val df = new Array[Long](asks.length)
      val hits = mutable.ArrayBuffer.empty[(Int, java.lang.Long, java.lang.Long, java.lang.Long)]
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(4) && live(r.getUTF8String(4))) {
          val doc = longOrNull(r, 1)
          if (doc == null || !gone(doc)) want.get(r.getUTF8String(0)).foreach { t =>
            df(t) += 1
            hits += ((t, doc, longOrNull(r, 2), longOrNull(r, 3)))
          }
        }
      }
      val sums = new Sums[(Int, java.lang.Long)](mode)
      hits.foreach { case (t, doc, dl, tf) =>
        if (df(t) <= dfCap) {
          val v = impact.eval(InternalRow(n, df(t), a, tf, dl)).asInstanceOf[java.lang.Long]
          asks(t)._2.foreach(g => sums.add((g, doc), v))
        }
      }
      sums.acc.iterator
    }
  }

  /** The request shared by both layouts: group the batch by query_id,
    * route each non-null token to its bucket (a null token matches no
    * posting), run `score` over the routed buckets' postings ([[run]]),
    * sum the partials per (query, doc) and keep each query's top-k. */
  private def bm25(layout: IndexLayout.Layout, root: String, columns: Seq[String],
                   queries: DataFrame, nBuckets: Int, k: Int)(
      score: (EvalMode.Value, Asks, Iterator[InternalRow]) => Iterator[Partial]): DataFrame = {
    val spark = queries.sparkSession
    val q = queries.select(col("query_id"), col("token"))
    require(q.schema("token").dataType == StringType, s"token must be a string: ${q.schema}")
    val rows = q.collect().toSeq
    val ids = rows.map(_.get(0)).distinct.toVector
    val group = ids.zipWithIndex.toMap
    val asks = rows.filter(!_.isNullAt(1)).groupBy(_.getString(1)).toSeq.sortBy(_._1)
      .map { case (t, rs) => (t, rs.map(r => group(r.get(0))).toArray) }
    val routed = asks.zip(IndexRoute.buckets(asks.map(_._1), StringType, nBuckets))
      .groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (b, ts) => (b, ts.map(_._1).toArray) }
    val mode = EvalMode.fromSQLConf(spark.sessionState.conf)
    val sums = new Sums[(Int, java.lang.Long)](mode)
    run(spark, layout, root, "postings", "bucket", columns, routed)(score(mode, _, _))
      .foreach { case (key, v) => sums.add(key, v) }
    val out = sums.acc.toSeq.groupBy(_._1._1).toSeq.sortBy(_._1).flatMap { case (g, docs) =>
      docs.map { case ((_, doc), s) => (s, doc) }.sorted(longRank).take(k).zipWithIndex
        .map { case ((s, doc), i) => Row(ids(g), doc, i + 1, s) }
    }
    spark.createDataFrame(out.asJava, StructType(Seq(q.schema("query_id"),
      StructField("doc_id", LongType), StructField("rk", IntegerType, nullable = false),
      StructField("score", LongType))))
  }

  private def tokenIndex(asks: Asks): Map[UTF8String, Int] =
    asks.indices.map(i => UTF8String.fromString(asks(i)._1) -> i).toMap

  /** `bm25ImpactExpr` over long (n_docs, df, am, tf, dl), bound to those
    * ordinals. Parsing fixes the arithmetic's evaluation mode, so the
    * parsed and analysed expression is kept per mode. */
  private val impactExprs =
    new java.util.concurrent.ConcurrentHashMap[EvalMode.Value, Expression]()

  private def impactExpr(spark: SparkSession): Expression = {
    val conf = spark.sessionState.conf
    impactExprs.computeIfAbsent(EvalMode.fromSQLConf(conf), _ =>
      SQLConf.withExistingConf(conf) {
        val in = Seq("n_docs", "df", "am", "tf", "dl").map(AttributeReference(_, LongType)())
        val parsed = spark.sessionState.sqlParser.parseExpression(
          graft.operators.TextAnalysis.bm25ImpactExpr)
        val analyzed = spark.sessionState.executePlan(
          Project(Seq(Alias(parsed, "impact")()), LocalRelation(in))).analyzed
        val impact = analyzed.asInstanceOf[Project].projectList.head.asInstanceOf[Alias].child
        BindReferences.bindReference(impact, in)
      })
  }

  /** SQL `sum` per key: nulls are skipped, the sum is null while every
    * input is, and values add through Catalyst's Add (overflow as the
    * evaluation mode has it). */
  private final class Sums[K](mode: EvalMode.Value) {
    private val plus = Add(BoundReference(0, LongType, nullable = false),
      BoundReference(1, LongType, nullable = false), mode)
    val acc = mutable.LinkedHashMap.empty[K, java.lang.Long]
    def add(key: K, v: java.lang.Long): Unit = {
      val cur = acc.getOrElse(key, null)
      acc(key) = if (v == null) cur else if (cur == null) v
        else plus.eval(InternalRow(cur, v)).asInstanceOf[java.lang.Long]
    }
  }

  // ------------------------------------------------------------- IVF

  /** An external query routed on the driver: its id, vector and norm as
    * the panel row holds them (external values), and the cells it
    * probes. */
  final case class RoutedQuery(queryId: Any, vec: Any, norm: Any, cells: Seq[Int])

  /** An IVF candidate of query group `group`, scored against panel row
    * `query`; `vc`/`nc` ride along for the two-stage rerank only. */
  private final case class Cand(group: Int, query: Int, id: java.lang.Long, cell: Int,
                                score: java.lang.Double, vc: ArrayData, nc: java.lang.Double)

  /** The plain IVF request (`Similarity.annIvfServe` with `queries`):
    * the live rows (batch in `committed`, id not in `dead`) of each
    * query's routed cells, less its own id when `excludeSelf`.
    * Single-stage, each routed cell's partial keeps every query's top-k of its cell by
    * exact cosine and the driver the global top-k. With `shortlist`,
    * each cell's partial keeps the top-`shortlist` by int8-code cosine with the
    * float vector and norm carried along; the driver takes the global
    * shortlist, reranks it by exact cosine and keeps the top-k. */
  def ivf(spark: SparkSession, root: String, committed: Seq[String], dead: Seq[Long],
          queries: Seq[RoutedQuery], queryId: StructField, k: Int,
          shortlist: Option[Int], excludeSelf: Boolean): DataFrame = {
    val mode = EvalMode.fromSQLConf(spark.sessionState.conf)
    val ids = queries.map(_.queryId).distinct.toVector
    val group = ids.zipWithIndex.toMap
    val qs = queries.map(q => (group(q.queryId), q.queryId,
      CatalystTypeConverters.convertToCatalyst(q.vec), q.norm)).toArray
    val routed = queries.indices.flatMap(i => queries(i).cells.map(_ -> i))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (c, qi) => (c, (c, qi.map(_._2).toArray)) }
    val live = committed.map(UTF8String.fromString).toSet
    val gone = dead.toSet
    val twoStage = shortlist.isDefined
    val n = shortlist.getOrElse(k)
    val exact = IndexRoute.cosine(mode)
    // the plan's `when(qn > 0, dot(vq, float(q8)) / (nq * qn)).otherwise(-2)`
    val coarse = if (twoStage)
      If(GreaterThan(BoundReference(3, DoubleType, nullable = true), Literal(0d)), exact,
        Literal(-2d)) else exact
    val parts = run(spark, IndexLayout.Ivf, root, "lists", "cell",
        Seq("neighbor_id", "vc", "nc", "q8", "qn", "batch_id"), routed) {
      case ((cell, probing), rows) =>
        val tops = mutable.LinkedHashMap.empty[Int, TopN]
        val in = new GenericInternalRow(4)
        rows.foreach { r =>
          val id = longOrNull(r, 0)
          if (!r.isNullAt(5) && live(r.getUTF8String(5)) && (id == null || !gone(id))) {
            val (b, nb) =
              if (twoStage) (if (r.isNullAt(3)) null else floats(r.getArray(3)), doubleOrNull(r, 4))
              else (if (r.isNullAt(1)) null else r.getArray(1), doubleOrNull(r, 2))
            probing.foreach { qi =>
              val (g, qid, vq, nq) = qs(qi)
              if (!excludeSelf || (qid != null && id != null && qid != id)) {
                in.update(0, vq); in.update(1, b); in.update(2, nq); in.update(3, nb)
                val c = Cand(g, qi, id, cell, coarse.eval(in).asInstanceOf[java.lang.Double],
                  null, null)
                val top = tops.getOrElseUpdate(g, new TopN(n))
                if (top.admits(c)) top.add(if (!twoStage) c else c.copy(
                  vc = if (r.isNullAt(1)) null else r.getArray(1).copy(),
                  nc = doubleOrNull(r, 2)))
              }
            }
          }
        }
        tops.valuesIterator.flatMap(_.items)
    }
    val out = parts.toSeq.groupBy(_.group).toSeq.sortBy(_._1).flatMap { case (g, cs) =>
      val top = shortlist match {
        case Some(sl) =>
          // the plan's rerank joins the shortlist to the vectors on
          // neighbor_id, which drops a null id
          cs.sorted(candRank).take(sl).filter(_.id != null).map { c =>
            val (_, _, vq, nq) = qs(c.query)
            c.copy(score = exact.eval(InternalRow(vq, c.vc, nq, c.nc)).asInstanceOf[java.lang.Double])
          }.sorted(candRank).take(k)
        case None => cs.sorted(candRank).take(k)
      }
      top.zipWithIndex.map { case (c, i) => Row(ids(g), c.id, c.cell, i + 1, c.score) }
    }
    spark.createDataFrame(out.asJava, StructType(Seq(queryId,
      StructField("neighbor_id", LongType), StructField("cell", IntegerType),
      StructField("rank_nn", IntegerType, nullable = false), StructField("cosine", DoubleType))))
  }

  /** `transform(q8, x -> cast(x as float))`: tinyint codes as floats. */
  private def floats(q8: ArrayData): ArrayData =
    new GenericArrayData(Array.tabulate[Any](q8.numElements())(i =>
      if (q8.isNullAt(i)) null else q8.getByte(i).toFloat))

  /** The best `n` candidates seen, by [[candRank]]. */
  private final class TopN(n: Int) {
    private val heap = new java.util.PriorityQueue[Cand](math.max(n, 1), candRank.reverse)
    def admits(c: Cand): Boolean =
      n > 0 && (heap.size < n || candRank.compare(c, heap.peek) < 0)
    def add(c: Cand): Unit = {
      heap.add(c)
      if (heap.size > n) heap.poll()
    }
    def items: Iterator[Cand] = heap.iterator.asScala
  }

  // ---------------------------------------------------------- shared

  /** `score(payload, rows of columns)` over every routed partition
    * `partCol=p` of `root/dir` that holds data files, run in the calling
    * thread when the routed files add up to at most [[inProcessBytes]],
    * else as one job with a task per partition. */
  private def run[P, R: ClassTag](spark: SparkSession, layout: IndexLayout.Layout,
                                  root: String, dir: String, partCol: String,
                                  columns: Seq[String], routed: Seq[(Int, P)])(
      score: (P, Iterator[InternalRow]) => Iterator[R]): Array[R] = {
    val conf = spark.sessionState.newHadoopConf()
    val parts = routed.map { case (p, payload) =>
      (IndexLayout.files(conf, s"$root/$dir/$partCol=$p"), payload)
    }.filter(_._1.nonEmpty)
    if (parts.isEmpty) return Array.empty[R]
    val probe = new Probe(
      IndexLayout.rowReader(spark, StructType(columns.map(layout.dirs(dir)(_)))), score)
    if (parts.iterator.flatMap(_._1).map(_.length).sum <= inProcessBytes)
      return parts.toArray.flatMap { case (files, payload) => probe(files, payload) }
    val sc = spark.sparkContext
    sc.runJob(sc.parallelize(parts, parts.length),
      new ProbeTask(probe, sc.longAccumulator(PartialsAccumulator))).flatten
  }

  /** One routed partition's share of a request: `score(payload, rows)`
    * over its files, read with `reader`. The file being read when
    * `score` returns or throws is closed then: a reader closes its file
    * at its end, and nothing else closes one that a throwing `score`
    * abandoned (in the calling thread, no task ends). A named class rather
    * than a lambda, as is [[ProbeTask]]: Spark's ClosureCleaner skips
    * classes that are not closures, instead of re-reading the class
    * files of every closure on each request. */
  private final class Probe[P, R: ClassTag](reader: PartitionedFile => Iterator[InternalRow],
                                            score: (P, Iterator[InternalRow]) => Iterator[R])
    extends Serializable {
    def apply(files: Seq[IndexLayout.DataFile], payload: P): Array[R] = {
      var open: Iterator[InternalRow] = Iterator.empty
      try score(payload, files.iterator.flatMap { f =>
        open = reader(f.partitioned)
        open
      }).toArray
      finally open match {
        // both of Spark's parquet readers, vectorized and row mode,
        // return a Closeable iterator
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
  }

  /** The job's function: [[Probe]] over the task's partitions, adding
    * the number of partial rows it returns to `partials`. */
  private final class ProbeTask[P, R: ClassTag](probe: Probe[P, R], partials: LongAccumulator)
    extends ((TaskContext, Iterator[(Seq[IndexLayout.DataFile], P)]) => Array[R])
    with Serializable {
    def apply(ctx: TaskContext, parts: Iterator[(Seq[IndexLayout.DataFile], P)]): Array[R] = {
      val out = parts.toArray.flatMap { case (files, payload) => probe(files, payload) }
      partials.add(out.length)
      out
    }
  }

  private def longOrNull(r: InternalRow, i: Int): java.lang.Long =
    if (r.isNullAt(i)) null else r.getLong(i)

  private def doubleOrNull(r: InternalRow, i: Int): java.lang.Double =
    if (r.isNullAt(i)) null else r.getDouble(i)

  /** The plans' window order: score descending with nulls last, then
    * the id ascending with nulls first. */
  private def rank[S](cmp: (S, S) => Int): Ordering[(S, java.lang.Long)] = (a, b) => {
    val c = (a._1, b._1) match {
      case (null, null) => 0
      case (null, _) => 1
      case (_, null) => -1
      case (x, y) => cmp(y, x)
    }
    if (c != 0) c else (a._2, b._2) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x, y) => java.lang.Long.compare(x, y)
    }
  }

  private val longRank = rank[java.lang.Long]((x, y) => java.lang.Long.compare(x, y))

  private val candRank: Ordering[Cand] =
    rank[java.lang.Double]((x, y) => SQLOrderingUtil.compareDoubles(x, y))
      .on(c => (c.score, c.id))
}
