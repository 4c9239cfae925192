package graft.etl

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalParquet.read]]'s decode memo: repeat reads of unchanged part
  * files are served held, any change to the listed files (a re-written
  * dir, an added part) is seen at once, a deleted dir still throws, and
  * the memo never holds more than its row budget. Runs without a
  * SparkSession — the driver-side reader needs only a Hadoop conf. */
class LocalParquetSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val conf = new Configuration()
  private val base = Files.createTempDirectory("localparquet-spec").toFile

  private val schema = StructType(Seq(
    StructField("bucket", IntegerType), StructField("ref", StringType)))

  private def freshDir(tag: String): String =
    new java.io.File(base, s"$tag-${System.nanoTime()}").getPath

  private def rows(n: Int, tag: String): Seq[Row] =
    (0 until n).map(i => Row(i, s"$tag-$i"))

  private def delete(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  private def values(read: (StructType, Seq[Row])): Seq[(Int, String)] =
    read._2.map(r => (r.getInt(0), r.getString(1)))

  override def afterAll(): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(base)

  test("a repeat read of an unchanged dir returns the held rows without " +
    "decoding them again; the selection is part of the key") {
    val dir = freshDir("repeat")
    LocalParquet.write(conf, dir, schema, rows(67, "a"))
    val first = LocalParquet.read(conf, dir, Seq("bucket", "ref"))
    val again = LocalParquet.read(conf, dir, Seq("bucket", "ref"))
    assert(values(first) === (0 until 67).map(i => (i, s"a-$i")))
    assert(again._2 eq first._2, "the second read decoded the files again")
    assert(again._1 eq first._1)
    val projected = LocalParquet.read(conf, dir, Seq("ref"))
    assert(projected._1.fieldNames.toSeq === Seq("ref"))
    assert(projected._2.map(_.getString(0)) === (0 until 67).map(i => s"a-$i"))
  }

  test("a dir deleted and re-written at the same path with different " +
    "rows returns the new rows") {
    val dir = freshDir("republish")
    LocalParquet.write(conf, dir, schema, rows(5, "old"))
    assert(values(LocalParquet.read(conf, dir, Seq("bucket", "ref"))) ===
      (0 until 5).map(i => (i, s"old-$i")))
    delete(dir)
    LocalParquet.write(conf, dir, schema, rows(5, "new"))
    assert(values(LocalParquet.read(conf, dir, Seq("bucket", "ref"))) ===
      (0 until 5).map(i => (i, s"new-$i")))
  }

  test("a part file added to a dir changes the result") {
    val dir = freshDir("addpart")
    LocalParquet.write(conf, dir, schema, rows(3, "p0"))
    assert(LocalParquet.read(conf, dir, Seq("bucket", "ref"))._2.size === 3)
    LocalParquet.write(conf, dir, schema, rows(4, "p1"))
    assert(values(LocalParquet.read(conf, dir, Seq("bucket", "ref"))).toSet ===
      ((0 until 3).map(i => (i, s"p0-$i")) ++
        (0 until 4).map(i => (i, s"p1-$i"))).toSet)
  }

  test("a read of a deleted dir still throws, even after it was held") {
    val dir = freshDir("deleted")
    LocalParquet.write(conf, dir, schema, rows(2, "d"))
    assert(LocalParquet.read(conf, dir, Seq("bucket", "ref"))._2.size === 2)
    delete(dir)
    assertThrows[java.io.FileNotFoundException](
      LocalParquet.read(conf, dir, Seq("bucket", "ref")))
  }

  test("held rows never exceed the budget: a table over the budget is " +
    "not held, and the least recently read table is evicted first") {
    val budget = LocalParquet.MemoRowBudget
    // an entry weighs its rows plus one: `budget` rows is over budget
    val big = freshDir("big")
    LocalParquet.write(conf, big, schema, rows(budget.toInt, "big"))
    val heldBefore = LocalParquet.memoHeldRows
    val bigFirst = LocalParquet.read(conf, big, Seq("bucket", "ref"))
    assert(bigFirst._2.size === budget)
    assert(LocalParquet.memoHeldRows === heldBefore,
      "an over-budget table must not be held")
    assert(!(LocalParquet.read(conf, big, Seq("bucket", "ref"))._2 eq bigFirst._2))
    // three half-budget tables: two fit exactly, the third evicts the
    // least recently READ one
    val half = (budget / 2 - 1).toInt
    val Seq(a, b, c) = Seq("a", "b", "c").map { t =>
      val d = freshDir(s"half-$t")
      LocalParquet.write(conf, d, schema, rows(half, t))
      d
    }
    def readHeld(dir: String) = {
      val r = LocalParquet.read(conf, dir, Seq("bucket", "ref"))
      assert(LocalParquet.memoHeldRows <= budget)
      r
    }
    val aRows = readHeld(a)._2
    val bRows = readHeld(b)._2
    assert(LocalParquet.memoHeldRows === budget)
    assert(readHeld(a)._2 eq aRows, "a re-read must touch, not re-decode")
    readHeld(c)
    assert(readHeld(a)._2 eq aRows, "the recently read table was evicted")
    val bAgain = readHeld(b)._2
    assert(!(bAgain eq bRows), "the least recently read table was kept")
    assert(bAgain === bRows)
  }

  test("concurrent first reads of one dir from several threads all " +
    "return equal rows") {
    val dir = freshDir("concurrent")
    (0 until 4).foreach(p => LocalParquet.write(conf, dir, schema, rows(200, s"c$p")))
    val threads = 6
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val start = new CountDownLatch(1)
      val futures = (0 until threads).map(_ => pool.submit(
        new java.util.concurrent.Callable[(StructType, Seq[Row])] {
          def call() = { start.await(); LocalParquet.read(conf, dir, Seq("bucket", "ref")) }
        }))
      start.countDown()
      val results = futures.map(_.get(60, TimeUnit.SECONDS))
      assert(results.map(_._2).distinct.size === 1)
      assert(results.head._2.size === 800)
      // whichever decode was published first is what every later read gets
      val held = LocalParquet.read(conf, dir, Seq("bucket", "ref"))._2
      assert(results.exists(_._2 eq held))
    } finally pool.shutdownNow()
  }
}
