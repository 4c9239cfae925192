package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.expr

import graft.functions.NativeVectorExpressions

/** The `pq_adc` kernel ([[graft.functions.PqAdc]]): the product-
  * quantization asymmetric distance every PQ serve scores with. It must
  * equal the plain Scala sum of LUT entries at the codes, in both its
  * generated and interpreted forms, and must refuse a code that would
  * read another subspace's slot. */
class PqAdcSpec extends SparkSuite {
  import spark.implicits._

  private val (nSub, kCw) = (16, 32)

  private def reference(codes: Seq[Int], lut: Seq[Long]): Long =
    (0 until nSub).map(m => lut(m * kCw + codes(m))).sum

  /** Rows (codes, lut) read back from parquet, so the projection runs in
    * a scan stage instead of being folded into a local relation. */
  private def frame(rows: Seq[(Seq[Int], Seq[Long])]): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("pq_adc_").toFile
    dir.deleteOnExit()
    val path = s"${dir.getAbsolutePath}/t"
    rows.toDF("codes", "lut").write.parquet(path)
    spark.read.parquet(path)
  }

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  private def scored(df: DataFrame): DataFrame = {
    NativeVectorExpressions.register(spark)
    df.select($"codes", $"lut", expr(s"pq_adc(codes, lut, $nSub, $kCw)").as("d"))
  }

  test("pq_adc equals the Scala LUT sum on random codes and LUTs, generated and interpreted") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(200)((Seq.fill(nSub)(rnd.nextInt(kCw)),
      Seq.fill(nSub * kCw)(rnd.nextLong() >> 20)))
    val df = frame(rows)
    def check(out: DataFrame): Unit = out.collect().foreach { r =>
      val codes = r.getSeq[Int](0)
      val lut = r.getSeq[Long](1)
      assert(r.getLong(2) == reference(codes, lut), s"codes $codes")
    }
    val generated = scored(df)
    val stages = generated.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w }
    assert(stages.exists(_.toString.contains("pq_adc")),
      s"pq_adc must run inside a whole-stage codegen stage:\n${generated.queryExecution.executedPlan}")
    check(generated)
    withConfs(interpreted: _*) {
      val plain = scored(df)
      assert(plain.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec => w }.isEmpty)
      check(plain)
    }
  }

  test("pq_adc throws on an out-of-range code or short input, never reading another subspace's slot") {
    val lut = Seq.tabulate(nSub * kCw)(_.toLong)
    def fails(codes: Seq[Int], l: Seq[Long], needle: String): Unit = {
      val df = frame(Seq((codes, l)))
      Seq(Nil, interpreted).foreach { confs =>
        withConfs(confs: _*) {
          val e = intercept[Exception](scored(df).collect())
          val msgs = Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
          assert(msgs.exists(_.contains(needle)), s"${confs.toMap}: $msgs")
        }
      }
    }
    // code K in subspace 0 would read subspace 1's slot 0 in a bare LUT
    fails(kCw +: Seq.fill(nSub - 1)(0), lut, s"outside [0, $kCw)")
    fails(Seq.fill(nSub - 1)(0) :+ -1, lut, s"outside [0, $kCw)")
    fails(Seq.fill(nSub - 1)(0), lut, s"need nSub = $nSub")
    fails(Seq.fill(nSub)(0), lut.dropRight(1), s"need nSub*K = ${nSub * kCw}")
  }

  test("NativeVectorExpressions.register leaves functions the session already has") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    val names = Seq("vec_dot", "vec_norm2", "block_mean_hash48", "pq_adc")
    NativeVectorExpressions.register(s)
    assert(names.forall(n => registry.functionExists(FunctionIdentifier(n))))
    // stand-ins for builders the session already holds: a second
    // register must keep every one of them
    val held = names.map { n =>
      val b: Seq[Expression] => Expression = _ => Literal(n)
      registry.createOrReplaceTempFunction(n, b, "scala_udf")
      n -> b
    }
    NativeVectorExpressions.register(s)
    held.foreach { case (n, b) =>
      assert(registry.lookupFunctionBuilder(FunctionIdentifier(n)).exists(_ eq b),
        s"$n was re-registered")
    }
  }
}
