package whbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.sum

/** Host-contention readings taken before and after every run, so a run
  * that shared the machine can be told from its own output. The two
  * kernels are graft.Bench's: a fixed CPU+shuffle aggregate that touches
  * no files, and a 256 MiB write (fsync every 64 MiB) plus read-back on
  * the volume the stores use. Each gets one untimed warm pass per JVM,
  * then one timed pass per reading (Bench takes the minimum of two; one
  * keeps a run inside the time budget). Neither is an end-to-end metric. */
final case class Calibration(cpuS: Double, ioS: Double, load1: Double,
                             elapsedS: Double)

object Calibration {
  private def cpuOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 64L * 1000 * 1000, 1, 32)
      .selectExpr("id % 9973 AS k", "id")
      .groupBy("k").agg(sum("id")).count()
    (System.nanoTime() - t0) / 1e9
  }

  private def ioOnce(path: java.nio.file.Path): Double = {
    import java.nio.file.StandardOpenOption._
    val chunk = new Array[Byte](8 * 1024 * 1024)
    java.util.Arrays.fill(chunk, 0x5a.toByte)
    val t0 = System.nanoTime()
    val wch = java.nio.channels.FileChannel.open(path, CREATE, WRITE, TRUNCATE_EXISTING)
    try {
      var i = 0
      while (i < 32) {
        val buf = java.nio.ByteBuffer.wrap(chunk)
        while (buf.hasRemaining) wch.write(buf)
        if ((i & 7) == 7) wch.force(false)
        i += 1
      }
    } finally wch.close()
    val rch = java.nio.channels.FileChannel.open(path, READ)
    try {
      val buf = java.nio.ByteBuffer.allocate(8 * 1024 * 1024)
      while (rch.read(buf) > 0) buf.clear()
    } finally rch.close()
    (System.nanoTime() - t0) / 1e9
  }

  def load1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8")
      .trim.split("\\s+").head.toDouble
    catch { case _: Exception => -1.0 }

  /** Peak resident set (VmHWM) of this JVM in MiB, -1 where /proc is absent. */
  def peakRssMb(): Double =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
        .split("\n").find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => -1.0 }

  /** One timed pass of each kernel; `warm` adds the untimed first pass,
    * which the before-reading needs and the after-reading does not. */
  def measure(spark: SparkSession, work: String, warm: Boolean): Calibration = {
    val t0 = System.nanoTime()
    val load = load1()
    val probe = Paths.get(work, "calib_io_probe.bin")
    if (warm) { cpuOnce(spark); ioOnce(probe) }
    val cpu = cpuOnce(spark)
    val io = ioOnce(probe)
    Files.deleteIfExists(probe)
    Calibration(cpu, io, load, (System.nanoTime() - t0) / 1e9)
  }
}
