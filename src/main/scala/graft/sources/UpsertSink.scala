package graft.sources

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Idempotent, retrying, first-writer-wins upsert sink over a keyed
  * parquet store — the external-delivery endpoint a streaming
  * pipeline folds its batches into (SURVEY.md §2 A6's semantics as a
  * SINK, not just a query).
  *
  * Reference behavior: every batch lands through idempotent
  * `ON CONFLICT DO NOTHING` inserts under a bounded
  * exponential-backoff retry loop (pg_engine.py:104-125; config.yaml
  * `s3_max_attempts`/`initial_delay_seconds`), so a re-driven batch
  * or a transient store failure never duplicates or loses rows. The
  * Spark-native form for a lake store:
  *
  *   - FIRST-WRITER-WINS: incoming keys already committed are
  *     anti-joined away before the write — ON CONFLICT DO NOTHING as
  *     a join, one key shuffle, AQE free to broadcast the batch side.
  *   - IDEMPOTENT REPLAY: `foreachBatch` redelivers a batch id after
  *     restarts; an id already in the batch log is skipped whole.
  *   - CRASH-SAFE: rows land first under a per-ATTEMPT write id, the
  *     (batch_id, write_id) log row commits LAST. Readers see only
  *     rows whose write id is logged, so a crash between the writes
  *     leaves invisible orphans, and the retry (fresh write id) lands
  *     the batch exactly once — the same commit protocol as the BM25
  *     and IVF index maintenance.
  *   - BOUNDED RETRY: transient write failures back off exponentially
  *     and rethrow after `maxAttempts` — delivery fails loudly, never
  *     half-applies.
  *
  * Single-writer per store (the structured-streaming sink contract);
  * the store stays a plain parquet directory readable by any engine.
  */
object UpsertSink {

  /** Bounded-retry delivery: run `body`, backing off exponentially on
    * failure (initialDelayMs, doubling), rethrowing after
    * `maxAttempts`. Only non-fatal failures retry: an interrupt or a
    * VM error (out of memory) rethrows at once, without sleeping. */
  private[graft] def withRetry[T](maxAttempts: Int, initialDelayMs: Long)
                                 (body: => T): T = {
    var attempt = 1
    var delay = initialDelayMs
    var out: Option[T] = None
    while (out.isEmpty) {
      try out = Some(body)
      catch {
        case NonFatal(e) =>
          if (attempt >= maxAttempts) throw e
          Thread.sleep(delay)
          delay *= 2
          attempt += 1
      }
    }
    out.get
  }

  /** The store's committed (batch_id, write_id) log rows, read on the
    * driver through the declared [[IndexLayout.BatchLog]] (no job; a
    * store with no commit yet has none). */
  private def batchLog(spark: SparkSession, store: String): Seq[(Long, String)] =
    IndexLayout.BatchLog.local(spark, store, "batch_log")
      .map(r => (r.getLong(0), r.getString(1)))

  /** Batch ids already committed to the store's log — the idempotent-
    * replay check. O(batches) driver metadata. */
  def appliedBatches(spark: SparkSession, store: String): Set[Long] =
    batchLog(spark, store).map(_._1).toSet

  /** The committed view of the store: only rows whose per-attempt
    * write id reached the log — orphans of failed attempts are
    * invisible. This is what downstream queries (and the
    * first-writer-wins check itself) read. */
  def committedRows(spark: SparkSession, store: String): DataFrame = {
    import spark.implicits._
    val rows = spark.read.parquet(s"$store/rows")
    val writes = batchLog(spark, store).map(_._2).toDF("write_id")
    rows.join(broadcast(writes), Seq("write_id"), "left_semi")
      .drop("write_id")
  }

  /** Deliver one keyed batch: skip if the batch id is already logged,
    * anti-join committed keys (first-writer-wins), land the rows
    * under a fresh write id, commit the log row last — all inside the
    * retry loop. `beforeCommit` is a test seam: the crash-safety spec
    * injects a transient failure between the row write and the log
    * commit to prove the torn state is invisible and the retry lands
    * the batch once. */
  def writeBatch(batch: DataFrame, store: String, batchId: Long,
                 keyCols: Seq[String], maxAttempts: Int = 3,
                 initialDelayMs: Long = 50,
                 beforeCommit: () => Unit = () => ()): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    withRetry(maxAttempts, initialDelayMs) {
      if (!appliedBatches(spark, store).contains(batchId)) {
        val writeId = java.util.UUID.randomUUID.toString
        val rowsPath = new org.apache.hadoop.fs.Path(s"$store/rows")
        val fs = rowsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val fresh =
          if (fs.exists(rowsPath))
            batch.join(committedRows(spark, store).select(keyCols.map(col): _*),
              keyCols, "left_anti")
          else batch
        fresh.withColumn("write_id", lit(writeId))
          .write.mode("append").parquet(s"$store/rows")
        beforeCommit()
        Seq((batchId, writeId)).toDF("batch_id", "write_id")
          .coalesce(1).write.mode("append").parquet(s"$store/batch_log")
      }
    }
  }
}
