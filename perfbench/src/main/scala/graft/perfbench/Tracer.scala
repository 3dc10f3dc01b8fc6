package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spans around the benchmark's calls into graft's public functions.
  *
  * A span is (name, start, end, parent, request id), kept in memory and
  * written once the run ends. While a span is open its id is the
  * calling thread's `perfbench.span` local property; Spark copies local
  * properties into every job the thread submits, and threads the
  * library starts (`graft.Par.jobs`) inherit them, so the listener
  * charges each job and task to the innermost open span. Jobs outside
  * every span are charged to span -1.
  *
  * Disabled (the untraced run), `span` only runs its body: no property,
  * no listener, no record. */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  import Tracer._

  final case class Span(id: Int, name: String, parent: Int, req: Long,
                        startNs: Long, endNs: Long)

  private val sc = spark.sparkContext
  private val spans = ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0
  // per span id: jobs, executor cpu ns, shuffle bytes, input bytes
  private val counts = new ConcurrentHashMap[Int, AtomicLongArray]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  private def slot(span: Int) = counts.computeIfAbsent(span, _ => new AtomicLongArray(4))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      val span = p.map(_.toInt).getOrElse(-1)
      slot(span).incrementAndGet(0)
      e.stageIds.foreach(stageSpan.put(_, span))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val c = slot(stageSpan.getOrDefault(e.stageId, -1))
        c.addAndGet(1, m.executorCpuTime)
        c.addAndGet(2, m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        c.addAndGet(3, m.inputMetrics.bytesRead)
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, id.toString)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Key, prev)
        spans += Span(id, name, parent, req, t0, t1)
      }
    }

  /** Every span with its counters, once the listener bus is drained. */
  def records(): Seq[Map[String, Any]] = {
    if (!enabled) return Seq.empty
    PerfBus.drain(sc)
    def c(id: Int) = Option(counts.get(id)).getOrElse(new AtomicLongArray(4))
    val out = spans.toSeq.sortBy(_.id).map { s =>
      val k = c(s.id)
      Map[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "req" -> s.req, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "jobs" -> k.get(0), "exec_cpu_ns" -> k.get(1),
        "shuffle_bytes" -> k.get(2), "input_bytes" -> k.get(3))
    }
    val u = c(-1)
    out :+ Map[String, Any]("id" -> -1, "name" -> "(no span)", "parent" -> -1,
      "req" -> -1L, "start_ns" -> 0L, "end_ns" -> 0L, "jobs" -> u.get(0),
      "exec_cpu_ns" -> u.get(1), "shuffle_bytes" -> u.get(2), "input_bytes" -> u.get(3))
  }
}

object Tracer {
  val Key = "perfbench.span"
}
