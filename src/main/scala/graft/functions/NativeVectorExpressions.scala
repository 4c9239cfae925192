package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Catalyst-native float-vector kernels (SURVEY.md §7.4 preference order:
  * custom codegen'd `Expression` > Scala UDF). Unlike the UDF forms in
  * [[VectorUdfs]], these participate in whole-stage codegen and read
  * `ArrayData` directly — no Seq boxing per row. The arithmetic is the
  * same sequential left-to-right double fold, so results remain
  * bit-identical to the DuckDB oracle's `list_sum`.
  *
  * Registered as SQL functions `vec_dot` / `vec_norm2` (and the PQ
  * kernel `pq_adc`, [[PqAdc]]) by [[register]].
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"
  // array<float> only: getFloat on a wider element type would silently
  // reinterpret the slot bytes, so misuse must fail at analysis time.
  // (return type inferred: AbstractDataType itself is private[sql])
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class FloatVectorNorm2(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm2"
  override def inputTypes = Seq(ArrayType(FloatType))

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) { val v = x.getFloat(i).toDouble; acc += v * v; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = (double) $a.getFloat($i);
         |  $acc += $v * $v;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Product-quantization asymmetric distance (ADC): the sum over the
  * `nSub` subspaces of `lut[m*k + codes[m]]` — one query's
  * `nSub`×`k` distance table read at one candidate's codeword ids. The
  * kernel reads both arrays in place, `nSub` LUT slots per candidate,
  * and sums in BIGINT, so the distance is exact and ranking replays
  * bit-identically in the DuckDB oracle.
  *
  * `nSub` and `k` are plan constants (SQL: integer literals). A code
  * outside `[0, k)` or NULL, or a codes / LUT array shorter than
  * `nSub` / `nSub*k`, throws: a bad code must never read another
  * subspace's slot. Registered as SQL function `pq_adc` by
  * [[NativeVectorExpressions.register]]. */
case class PqAdc(codes: Expression, lut: Expression, nSub: Int, k: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(nSub > 0 && k > 0 && nSub.toLong * k <= Int.MaxValue,
    s"pq_adc: need nSub > 0, K > 0 and nSub*K within an array; got nSub=$nSub, K=$k")

  override def left: Expression = codes
  override def right: Expression = lut
  override def dataType: DataType = LongType
  override def prettyName: String = "pq_adc"
  override def inputTypes = Seq(ArrayType(IntegerType), ArrayType(LongType))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val c = a.asInstanceOf[ArrayData]
    val l = b.asInstanceOf[ArrayData]
    PqAdcKernel.checkLengths(c.numElements(), l.numElements(), nSub, k)
    var acc = 0L
    var m = 0
    while (m < nSub) {
      if (c.isNullAt(m)) throw PqAdcKernel.badCode(m, null, k)
      val code = c.getInt(m)
      if (code < 0 || code >= k) throw PqAdcKernel.badCode(m, code, k)
      val slot = m * k + code
      if (l.isNullAt(slot)) throw PqAdcKernel.nullSlot(slot)
      acc += l.getLong(slot)
      m += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l) => {
      val m = ctx.freshName("m")
      val code = ctx.freshName("code")
      val slot = ctx.freshName("slot")
      val acc = ctx.freshName("acc")
      val kernel = "graft.functions.PqAdcKernel"
      s"""
         |$kernel.checkLengths($c.numElements(), $l.numElements(), $nSub, $k);
         |long $acc = 0L;
         |for (int $m = 0; $m < $nSub; $m++) {
         |  if ($c.isNullAt($m)) throw $kernel.badCode($m, null, $k);
         |  int $code = $c.getInt($m);
         |  if ($code < 0 || $code >= $k) throw $kernel.badCode($m, $code, $k);
         |  int $slot = $m * $k + $code;
         |  if ($l.isNullAt($slot)) throw $kernel.nullSlot($slot);
         |  $acc += $l.getLong($slot);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(codes = newLeft, lut = newRight)
}

/** [[PqAdc]]'s failure paths, shared by the interpreted and generated
  * forms. */
object PqAdcKernel {
  def checkLengths(nCodes: Int, nLut: Int, nSub: Int, k: Int): Unit = {
    if (nCodes < nSub) throw new IllegalArgumentException(
      s"pq_adc: codes array has $nCodes entries, need nSub = $nSub")
    if (nLut < nSub * k) throw new IllegalArgumentException(
      s"pq_adc: LUT has $nLut entries, need nSub*K = ${nSub * k}")
  }

  def badCode(m: Int, code: Integer, k: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"pq_adc: code $code in subspace $m is outside [0, $k)")

  def nullSlot(slot: Int): IllegalArgumentException =
    new IllegalArgumentException(s"pq_adc: LUT slot $slot is NULL")
}

object NativeVectorExpressions {
  /** Idempotently register vec_dot / vec_norm2 / block_mean_hash48 /
    * pq_adc (and the self-dot rewrite rule) on the session: a function
    * the session already has is left as it is. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    def intArg(e: Expression, what: String): Int =
      if (e.foldable && e.dataType == IntegerType && e.eval() != null)
        e.eval().asInstanceOf[Int]
      else throw new IllegalArgumentException(
        s"pq_adc: $what must be an integer literal, got ${e.sql}")
    def pqAdc(exprs: Seq[Expression]): Expression = {
      require(exprs.size == 4,
        s"pq_adc takes (codes, lut, nSub, K), got ${exprs.size} arguments")
      PqAdc(exprs(0), exprs(1), intArg(exprs(2), "nSub"), intArg(exprs(3), "K"))
    }
    Seq[(String, Seq[Expression] => Expression)](
      "vec_dot" -> (exprs => FloatVectorDot(exprs(0), exprs(1))),
      "vec_norm2" -> (exprs => FloatVectorNorm2(exprs.head)),
      "block_mean_hash48" -> (exprs => BlockMeanHash48(exprs.head)),
      "pq_adc" -> pqAdc
    ).foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "internal")
    }
    if (!spark.experimental.extraOptimizations.contains(SelfDotToNorm)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SelfDotToNorm
    }
  }
}
