package whbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, WhbenchBus}
import org.apache.spark.scheduler._

/** One traced interval: a phase (seed, commit, serve, catchup, compact)
  * or a call into one engine public function inside a phase. Spark
  * counters are not stored here: the listener keeps timestamped events
  * and metrics.py charges each one to the innermost span open at its time. */
final class Span(val id: Int, val parent: Int, val name: String,
                 val batch: Long, val startNs: Long, val startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  /** Counts the benchmark knows at the call site (rows, bytes, files). */
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
}

/** Span recorder for the single client thread. Spans are kept in memory
  * and written once at exit. With `active` false a span is a plain call
  * and a count is not evaluated, so an untraced run pays nothing. A
  * traced run adds up the time it spends in its own bookkeeping and
  * trace-only counts (`costNs`), which is its overhead on the client
  * thread. */
final class Tracer(val runId: String) {
  var active: Boolean = false
  var costNs: Long = 0L
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0

  def span[T](name: String, batch: Long = -1L)(body: => T): T =
    if (!active) body
    else {
      val c0 = System.nanoTime()
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = new Span(nextId, parent, name, batch, System.nanoTime(),
        System.currentTimeMillis())
      nextId += 1
      stack = s :: stack
      costNs += System.nanoTime() - c0
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
        done += s
        costNs += System.nanoTime() - s.endNs
      }
    }

  private def add(s: Span, key: String, v: Double): Unit =
    s.counts(key) = s.counts.getOrElse(key, 0.0) + v

  /** Add `v` to a count on the innermost open span; `v` is evaluated only
    * when tracing. */
  def count(key: String, v: => Double): Unit =
    if (active) {
      val c0 = System.nanoTime()
      stack.headOption.foreach(add(_, key, v))
      costNs += System.nanoTime() - c0
    }

  /** Add `v` to a count on the most recently finished span called `name`,
    * for counts that can only be read after the span has closed. */
  def annotate(name: String, key: String, v: => Double): Unit =
    if (active) {
      val c0 = System.nanoTime()
      done.findLast(_.name == name).foreach(add(_, key, v))
      costNs += System.nanoTime() - c0
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)
}

/** The one Spark listener: records job starts and task ends with their
  * wall-clock times while `enabled`, and the time its handlers take on
  * the listener bus thread (`handlerNs`). */
final class BenchListener extends SparkListener {
  @volatile var enabled: Boolean = false
  private val jobs = mutable.ArrayBuffer.empty[Long]
  private val tasks = mutable.ArrayBuffer.empty[Array[Long]]
  private var handlerNanos = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (enabled) {
      val c0 = System.nanoTime()
      synchronized { jobs += e.time; handlerNanos += System.nanoTime() - c0 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (enabled && e.taskInfo != null) {
      val c0 = System.nanoTime()
      val m = e.taskMetrics
      val row =
        if (m == null) Array(e.taskInfo.finishTime, 0L, 0L, 0L, 0L, 0L, 0L)
        else Array(
          e.taskInfo.finishTime,
          m.executorRunTime,
          m.jvmGCTime,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead +
            m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.outputMetrics.bytesWritten,
          m.inputMetrics.bytesRead)
      synchronized { tasks += row; handlerNanos += System.nanoTime() - c0 }
    }

  def handlerNs: Long = synchronized(handlerNanos)
  def jobTimes: Seq[Long] = synchronized(jobs.toSeq)
  def taskRows: Seq[Array[Long]] = synchronized(tasks.toSeq)
}

object BenchListener {
  /** Register once per SparkContext: reuse a listener already on the bus. */
  def install(sc: SparkContext): BenchListener = synchronized {
    WhbenchBus.registered[BenchListener](sc).headOption.getOrElse {
      val l = new BenchListener
      sc.addSparkListener(l)
      l
    }
  }

  /** Task event columns, in the order metrics.py reads them. */
  val TaskFields: Seq[String] = Seq("finish_ms", "run_ms", "gc_ms",
    "shuffle_bytes", "spill_bytes", "output_bytes", "input_bytes")
}
