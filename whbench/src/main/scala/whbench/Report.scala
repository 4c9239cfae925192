package whbench

/** The run's raw record, written as one JSON document for run.py. */
object Report {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  private def calib(c: Calibration): String = obj(Seq(
    "cpu_s" -> num(c.cpuS), "io_s" -> num(c.ioS),
    "load1" -> num(c.load1), "elapsed_s" -> num(c.elapsedS)))

  def json(rec: Recorder, tracer: Tracer, listener: Option[BenchListener],
           before: Calibration, after: Calibration, cores: Int): String = {
    val spans = tracer.spans.map { s =>
      arr(Seq(s.id.toString, s.parent.toString, str(s.name), s.batch.toString,
        s.startNs.toString, s.endNs.toString, s.startMs.toString, s.endMs.toString,
        obj(s.counts.toSeq.map { case (k, v) => k -> num(v) })))
    }
    obj(Seq(
      "workload" -> str(rec.workload),
      "run_id" -> str(tracer.runId),
      "cores" -> cores.toString,
      "first_op_ms" -> rec.firstOpMs.toString,
      "attempted" -> rec.attempted.toString,
      "failed" -> rec.failed.toString,
      "failures" -> arr(rec.failures.map(str)),
      "rows_committed" -> rec.rowsCommitted.toString,
      "commit_wall_s" -> num(rec.commitWallS),
      "samples" -> obj(rec.samples.toSeq.map { case (k, v) => k -> arr(v.map(num)) }),
      "scalars" -> obj(rec.scalars.toSeq.map { case (k, v) => k -> num(v) }),
      "calib_before" -> calib(before),
      "calib_after" -> calib(after),
      "trace_cost_s" -> num(tracer.costNs / 1e9),
      "listener_s" -> num(listener.map(_.handlerNs / 1e9).getOrElse(0.0)),
      "spans" -> arr(spans),
      "jobs_ms" -> arr(listener.map(_.jobTimes).getOrElse(Nil).map(_.toString)),
      "task_fields" -> arr(BenchListener.TaskFields.map(str)),
      "tasks" -> arr(listener.map(_.taskRows).getOrElse(Nil).map(r => arr(r.map(_.toString))))
    ))
  }
}
