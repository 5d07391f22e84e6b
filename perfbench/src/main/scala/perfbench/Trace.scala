package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable.ArrayBuffer

/** One timed interval: name, start/end (ns since the tracer's origin),
  * the span that was open when it started, and the job it belongs to. */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, job: Int)

/** In-memory spans and counters around calls into the program's modules.
  * Nothing is written until the harness renders the buffer at the end
  * of a run; self time and layer totals are computed afterwards by
  * `perfbench/stats.py`. */
final class Tracer {
  private val origin = System.nanoTime()
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0
  private var job = -1
  val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def spans: Seq[Span] = done.toSeq

  def beginJob(j: Int): Unit = job = j

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name, System.nanoTime() - origin) :: stack
    try body
    finally {
      val (_, _, start) = stack.head
      stack = stack.tail
      done += Span(id, name, start, System.nanoTime() - origin, parent, job)
    }
  }

  /** Counter keyed by job, so medians can be taken across traced jobs. */
  def count(name: String, v: Double): Unit = counters(s"$job/$name") = v
}

/** Task-level runtime counters, registered by the benchmark only for
  * traced runs. Read through [[SparkCounters.snapshot]], which drains
  * the listener bus first so every finished task is counted. */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  @volatile var tasks = 0L
  @volatile var runNanos = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleWrite = 0L
  @volatile var spill = 0L
  @volatile var jobs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runNanos += m.executorRunTime * 1000000L
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot(): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      Map("tasks" -> tasks.toDouble, "run_s" -> runNanos / 1e9,
        "gc_s" -> gcMs / 1e3, "shuffle_write_bytes" -> shuffleWrite.toDouble,
        "spill_bytes" -> spill.toDouble, "jobs" -> jobs.toDouble)
    }
  }
}

object SparkCounters {
  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a(k)) }
}
