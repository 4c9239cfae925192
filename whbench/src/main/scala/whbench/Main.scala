package whbench

import java.nio.file.{Files, Paths}

import org.apache.spark.WhbenchBus
import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its inputs and directories,
  * the run's seed, and the recorder/tracer pair. */
final case class Ctx(spark: SparkSession, fixture: String, work: String,
                     seed: Long, traced: Boolean,
                     rec: Recorder, tracer: Tracer,
                     listener: Option[BenchListener]) {
  def setTracing(on: Boolean): Unit = {
    tracer.active = on
    listener.foreach(_.enabled = on)
  }

  /** Closed loop: run `step(i)` for i = 1 .. Ctx.Steps, stopping early if
    * a step reports failure; returns the number of steps run. The count is
    * fixed, not taken from a clock, so every run measures the same mix of
    * ops (a time-bounded loop gave fast runs an extra, warmer op). */
  def loop(step: Int => Boolean): Int = {
    var i = 0
    var ok = true
    while (ok && i < Ctx.Steps) {
      i += 1
      ok = step(i)
    }
    i
  }

  def path(rel: String): String = s"$work/$rel"
}

object Ctx {
  /** Timed steps (commits or ingest rounds, each with its reads and one
    * catch-up) per run. */
  val Steps = 2
}

object Main {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val traced = arg(args, "trace") == "1"
    val fixture = arg(args, "fixture")
    val work = arg(args, "work")
    val out = arg(args, "out")
    val cores = arg(args, "cores").toInt
    val impl: Ctx => Unit = workload match {
      case "star_etl"      => StarEtl.run
      case "cube_maintain" => CubeMaintain.run
      case "curate_ingest" => CurateIngest.run
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"whbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Recorder.log("session up")
    // taken before the workload's set-up rather than between its warm-up
    // and its window, so the first timed step follows the warm-up directly
    val calibBefore = Calibration.measure(spark, work, warm = true)
    Recorder.log(s"calibration before: $calibBefore")
    val tracer = new Tracer(s"$workload-$seed-${ProcessHandle.current().pid()}")
    val listener = if (traced) Some(BenchListener.install(spark.sparkContext)) else None
    val rec = new Recorder(workload, tracer)
    rec.scalars("publish_conflicts") = 0
    val ctx = Ctx(spark, fixture, work, seed, traced, rec, tracer, listener)
    ctx.setTracing(traced)
    try impl(ctx)
    catch {
      case e: Throwable =>
        rec.noteConflict(e)
        rec.attempted += 1
        rec.failed += 1
        rec.failures += s"FAILED [workload=$workload] ${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[whbench] workload $workload aborted")
        e.printStackTrace()
    }
    ctx.setTracing(false)
    rec.scalars("peak_rss_mb") = Calibration.peakRssMb()
    WhbenchBus.drain(spark.sparkContext)
    val calibAfter = Calibration.measure(spark, work, warm = false)
    Files.write(Paths.get(out), Report.json(rec, tracer, listener,
      calibBefore, calibAfter, cores).getBytes("UTF-8"))
    spark.stop()
  }
}
