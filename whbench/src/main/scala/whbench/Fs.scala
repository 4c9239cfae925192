package whbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Local-filesystem helpers for the benchmark's own bookkeeping: sizes of
  * store roots, fresh directories, and hard-linked snapshots. */
object Fs {
  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }

  /** Bytes of the data files under `dir` (Hadoop .crc side files excluded). */
  def bytes(dir: String): Long =
    walk(Paths.get(dir)).filter(f => Files.isRegularFile(f) &&
      !f.getFileName.toString.endsWith(".crc")).map(Files.size).sum

  def files(dir: String): Int =
    walk(Paths.get(dir)).count(f => Files.isRegularFile(f) &&
      !f.getFileName.toString.endsWith(".crc"))

  /** Paths of the data files under `dir`. */
  def paths(dir: String): Set[String] =
    walk(Paths.get(dir)).filter(f => Files.isRegularFile(f) &&
      !f.getFileName.toString.endsWith(".crc")).map(_.toString).toSet

  def children(dir: String): Set[String] =
    Option(new File(dir).list()).map(_.toSet).getOrElse(Set.empty)

  def delete(dir: String): Unit =
    walk(Paths.get(dir)).reverse.foreach(Files.deleteIfExists)

  /** Recreate `dst` as a tree of hard links to `src`'s files: a snapshot
    * that stays valid because parquet files are never modified in place. */
  def linkTree(src: String, dst: String): Unit = {
    val s = Paths.get(src)
    walk(s).foreach { f =>
      val t = Paths.get(dst).resolve(s.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.createLink(t, f)
    }
  }
}
