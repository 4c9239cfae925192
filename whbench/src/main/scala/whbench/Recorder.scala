package whbench

import scala.collection.mutable

/** What one run measured: raw timing samples per op kind, the workload's
  * scalar readings, correctness-check outcomes and the op tally. All the
  * arithmetic (medians, percentiles, self time) happens in metrics.py. */
final class Recorder(val workload: String, val tracer: Tracer) {
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  val scalars: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L
  /** Input rows made readable by timed commits, and those commits' wall. */
  var rowsCommitted = 0L
  var commitWallS = 0.0
  var firstOpMs: Long = -1L

  def markFirstOp(): Unit = if (firstOpMs < 0) firstOpMs = System.currentTimeMillis()

  def sample(kind: String, seconds: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += seconds

  /** Count an AtomicPublish lost-race error anywhere in `e`'s causes:
    * a single-writer run must read publish_conflicts = 0. */
  def noteConflict(e: Throwable): Unit =
    if (Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(c =>
        c.isInstanceOf[java.util.ConcurrentModificationException] &&
          String.valueOf(c.getMessage).startsWith("publish conflict")))
      scalars("publish_conflicts") = scalars.getOrElse("publish_conflicts", 0.0) + 1

  private def fail(what: String, batch: Long, detail: String): Unit = {
    failed += 1
    val msg = s"FAILED [workload=$workload batch=$batch] $what: $detail"
    failures += msg
    Recorder.log(msg)
  }

  /** One timed op: counted as attempted, timed under `kind`, and counted
    * as failed (with workload and batch named) if it throws. Returns
    * None on failure so the caller can stop the loop. */
  def op[T](kind: String, batch: Long)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(s"phase:$kind", batch)(body)
      val dt = (System.nanoTime() - t0) / 1e9
      sample(kind, dt)
      if (kind != "serve") Recorder.log(f"$workload $kind batch=$batch%d ${dt}%.3fs")
      Some(r)
    } catch {
      case e: Throwable =>
        noteConflict(e)
        fail(kind, batch, s"${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** A correctness check: one attempted op, failed unless `ok` holds. */
  def check(name: String, batch: Long)(ok: => Boolean, detail: => String): Boolean = {
    attempted += 1
    val passed = try ok catch {
      case e: Throwable =>
        noteConflict(e)
        fail(s"check $name", batch, s"${e.getClass.getName}: ${e.getMessage}")
        return false
    }
    if (!passed) fail(s"check $name", batch, detail)
    passed
  }
}

object Recorder {
  private val t0 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[whbench +${(System.nanoTime() - t0) / 1e9}%.1fs] $msg")
}
