package graft.sources

import graft.functions.VectorExpressions.DotProductFloat
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Divide, EvalMode,
  Expression, Literal, Multiply, Pmod, XxHash64}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types._

/** Driver-side routing for the persisted-index serves: which postings
  * buckets a BM25 query batch touches, which IVF cells a vector batch
  * probes. A serving batch is small by contract and the routing
  * metadata (a bucket count, nlist centroids) is read by
  * [[IndexLayout.Layout.local]], so the route costs no Spark job; the
  * serve sends Spark only the scoring query.
  *
  * Both routers evaluate the same Catalyst expressions the Spark-side
  * formulations plan, so they agree by construction: the bucket is the
  * writers' `pmod(xxhash64(token), n)`, the cell ranking is
  * [[graft.operators.Similarity]]'s `ivfRoute` window (cosine
  * `dot / (norm * cnorm)` descending, nulls last, ties by `cid`). */
object IndexRoute {

  /** The postings bucket of each value: Catalyst's own
    * `Pmod(XxHash64(value), n)`, so a value of any type (a null too)
    * lands where the writer's `pmod(xxhash64(token), n)` put it. */
  def buckets(values: Seq[Any], dataType: DataType, nBuckets: Int): Seq[Int] =
    values.map(v => Pmod(new XxHash64(Seq(Literal.create(v, dataType))),
      Literal(nBuckets.toLong)).eval().asInstanceOf[Long].toInt)

  /** For each query (embedding, norm), the indices into `centroids`
    * (cid, cvec, cnorm) of its `nprobe` nearest cells, nearest first.
    * The cosine is DotProductFloat's arithmetic under the session's
    * evaluation mode (a zero norm divides by zero exactly as the
    * window's query would); the order is the window's:
    * `SQLOrderingUtil.compareDoubles` descending, nulls last, ties by
    * `cid` ascending. */
  def nearest(spark: SparkSession, queries: Seq[(Any, Any)], centroids: Seq[Row],
              nprobe: Int): Seq[Seq[Int]] = {
    val cos = cosine(EvalMode.fromSQLConf(spark.sessionState.conf))
    val cents = centroids.map(r => (r.getAs[Int]("cid"),
      CatalystTypeConverters.convertToCatalyst(r.getAs[Any]("cvec")),
      r.getAs[Any]("cnorm")))
    val byCosine: ((Any, Int), (Any, Int)) => Boolean = { case ((a, ca), (b, cb)) =>
      (a, b) match {
        case (null, null) => ca < cb
        case (null, _) => false
        case (_, null) => true
        case (x: Double, y: Double) =>
          val c = SQLOrderingUtil.compareDoubles(x, y)
          c > 0 || (c == 0 && ca < cb)
      }
    }
    queries.map { case (vq, nq) =>
      val q = CatalystTypeConverters.convertToCatalyst(vq)
      cents.indices.map { i =>
        val (cid, cvec, cnorm) = cents(i)
        ((cos.eval(InternalRow(q, cvec, nq, cnorm)), cid), i)
      }.sortWith((a, b) => byCosine(a._1, b._1)).take(nprobe).map(_._2)
    }
  }

  /** The cosine the IVF plans compute, `dot(a, b) / (na * nb)`, over
    * (a, b, na, nb) at ordinals 0-3: DotProductFloat, and Divide and
    * Multiply under the evaluation mode `mode`. */
  def cosine(mode: EvalMode.Value): Expression = {
    val arr = ArrayType(FloatType)
    Divide(
      DotProductFloat(BoundReference(0, arr, nullable = true),
        BoundReference(1, arr, nullable = true)),
      Multiply(BoundReference(2, DoubleType, nullable = true),
        BoundReference(3, DoubleType, nullable = true), mode), mode)
  }

  /** DotProductFloat of two array<float> values (external Scala Seqs),
    * as a driver-side routed row carries it; null as the expression
    * yields it. */
  def dot(a: Any, b: Any): Any =
    DotProductFloat(Literal.create(a, ArrayType(FloatType)),
      Literal.create(b, ArrayType(FloatType))).eval()
}
