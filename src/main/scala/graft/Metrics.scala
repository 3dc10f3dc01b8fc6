package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-operation task-metrics capture — the operational-metrics
  * surface the reference ships per batch to its dashboards (README:
  * per-category counts + latency to CloudWatch/Grafana), expressed
  * Spark-natively: one listener, named `measure` scopes, and the
  * collected numbers exposed as a DataFrame so they land wherever the
  * lake writes (a parquet metrics table a monitor scrapes, an alert
  * query, the bench artifact).
  *
  * Captured per scope: wall, executor CPU, in-task GC, input
  * rows/bytes, output rows, shuffle read/write bytes, spilled bytes,
  * task count; and, from the process rather than the tasks, the
  * whole-stage codegen compiles (Janino) and the HotSpot JIT
  * milliseconds, which say whether a scope is compile-bound.
  * Listener-based — zero instrumentation inside
  * operators, and the numbers are the same task metrics the Spark UI
  * reports. Counters settle on the async listener bus before and
  * after each scope (task-end events trail job completion), the same
  * discipline Bench always used; Bench now consumes this class.
  *
  * Single-session, sequential scopes (measure one operation at a
  * time — the Bench/maintenance-loop shape; concurrent scopes would
  * attribute each other's tasks, and the compile counters are
  * process-wide, so a concurrent scope's compiles land in both). */
object Metrics {
  /** One measured scope's task-metric deltas, plus its codegen
    * compiles (the delta of Spark's `CodegenMetrics` compilation
    * count) and JIT time (the delta of the JVM's total compilation
    * milliseconds; -1 where the JVM does not report it). */
  final case class Op(name: String, wallSec: Double, cpuSec: Double,
                      gcSec: Double, inputRows: Long, inputBytes: Long,
                      outputRows: Long, shuffleReadBytes: Long,
                      shuffleWriteBytes: Long, spillBytes: Long, tasks: Long,
                      codegenCompiles: Long, jitMs: Long)

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def jitMs: Long = {
    val jit = ManagementFactory.getCompilationMXBean
    if (jit != null && jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime
    else -1L
  }
}

final class Metrics(spark: SparkSession) {
  import Metrics.Op

  private val cpuNs = new AtomicLong(0L)
  private val gcMs = new AtomicLong(0L)
  private val inRows = new AtomicLong(0L)
  private val inBytes = new AtomicLong(0L)
  private val outRows = new AtomicLong(0L)
  private val shRead = new AtomicLong(0L)
  private val shWrite = new AtomicLong(0L)
  private val spilled = new AtomicLong(0L)
  private val tasks = new AtomicLong(0L)
  private val ops = scala.collection.mutable.ArrayBuffer.empty[Op]

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        inRows.addAndGet(m.inputMetrics.recordsRead)
        inBytes.addAndGet(m.inputMetrics.bytesRead)
        outRows.addAndGet(m.outputMetrics.recordsWritten)
        shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        tasks.incrementAndGet()
      }
    }
  })

  private def counters: Seq[Long] = Seq(cpuNs.get, gcMs.get, inRows.get,
    inBytes.get, outRows.get, shRead.get, shWrite.get, spilled.get, tasks.get)

  /** Task-end events arrive on the async listener bus — poll until
    * the counters stop moving (5×20 ms quiet, 4 s cap). */
  def settle(): Unit = {
    var last = counters
    var stable = 0
    var spins = 0
    while (stable < 5 && spins < 200) {
      Thread.sleep(20)
      val now = counters
      if (now == last) stable += 1 else { stable = 0; last = now }
      spins += 1
    }
  }

  /** Run `body` as a named scope and record its task-metric deltas. */
  def measure[T](name: String)(body: => T): T = {
    settle()
    val c0 = counters
    val (k0, j0) = (Metrics.compiles, Metrics.jitMs)
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    val (k1, j1) = (Metrics.compiles, Metrics.jitMs)
    settle()
    val c1 = counters
    val d = c1.zip(c0).map { case (a, b) => a - b }
    ops.synchronized {
      ops += Op(name, wall, d(0) / 1e9, d(1) / 1e3, d(2), d(3), d(4),
        d(5), d(6), d(7), d(8), k1 - k0, if (j0 < 0) -1L else j1 - j0)
    }
    out
  }

  def snapshot: Seq[Op] = ops.synchronized(ops.toSeq)

  /** The collected scopes as a DataFrame — write it to the metrics
    * table / sink of choice. */
  def asDataFrame: DataFrame = {
    import spark.implicits._
    snapshot.toDF()
  }
}
