package graft.functions

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Native implementations of the vector folds in [[VectorExprs]] — same
  * sequential left-to-right double arithmetic, so results stay
  * bit-identical to the DuckDB oracle (list_sum is a sequential fold in
  * both engines; see VectorExprs). Used in the hot paths where the
  * higher-order-expression form is CodegenFallback and interprets one
  * lambda per element (candidate-pair cosines dominate the dedup/ANN
  * bench otherwise).
  */
object VectorUdfs {

  /** Spark's Scala-2.13 row deserializer hands `array<T>` UDF inputs to
    * us as `immutable.Seq` — concretely a List, whose `apply(i)` is
    * O(i). Every kernel below indexes in a loop, which silently turns
    * O(dim) folds into O(dim²) — invisible at the 64-dim fixture,
    * catastrophic at real embedding widths (caught by the 768-dim
    * rehearsal, HighDimEmbeddingSpec: 3 threads pinned in List.drop).
    * One O(dim) copy to a primitive-indexed array first. */
  @inline private[graft] def arrF(v: Seq[Float]): Array[Float] = v match {
    case null => null
    case w: scala.collection.immutable.ArraySeq.ofFloat => w.unsafeArray
    case _ => v.toArray
  }

  @inline private[graft] def arrL(v: scala.collection.Seq[Long]): Array[Long] = v match {
    case null => null
    case w: scala.collection.immutable.ArraySeq.ofLong => w.unsafeArray
    case _ => v.toArray
  }

  /** Squared norm: left fold of x². */
  val norm2: UserDefinedFunction = udf { (v0: Seq[Float]) =>
    val v = arrF(v0)
    var acc = 0.0
    var i = 0
    while (i < v.length) { val x = v(i).toDouble; acc += x * x; i += 1 }
    acc
  }

  /** Dot product: left fold of elementwise products. */
  val pairDot: UserDefinedFunction = udf { (a0: Seq[Float], b0: Seq[Float]) =>
    val a = arrF(a0); val b = arrF(b0)
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** `bits`-bit random-hyperplane signature (planes from [[DetHash]]);
    * per-plane dot is the same left fold as [[VectorExprs.sparkSig]].
    * Plane width follows each vector's own length (memoized per dim on
    * the executor), so wide embeddings are no longer silently truncated
    * to 64 dims; plane component (i, j) is derived purely from its index
    * pair, so a wider matrix agrees with a narrower one on the shared
    * prefix.
    *
    * `oracleDim ≥ 0` pins the expected vector width: any row whose
    * length differs throws instead of silently signing with a plane
    * matrix the differential oracle (which hardcodes its plane width in
    * SQL) doesn't have. Oracle-backed queries pass the fixture dim;
    * the open-ended API leaves it at -1. */
  def planeSig(bits: Int, oracleDim: Int = -1): UserDefinedFunction = {
    require(bits >= 1 && bits <= DetHash.K,
      s"planeSig supports 1..${DetHash.K} signature bits (DetHash defines " +
        s"${DetHash.K} hyperplanes); got $bits")
    udf { (v0: Seq[Float]) =>
      if (oracleDim >= 0 && v0.length != oracleDim)
        throw new IllegalArgumentException(
          s"planeSig: vector dim ${v0.length} != oracle plane dim $oracleDim " +
            "— Spark and the SQL oracle would sign with different plane matrices")
      val v = arrF(v0)
      val planes = DetHash.planesArrFor(DetHash.K, v.length)
      var sig = 0L
      var i = 0
      while (i < bits) {
        val row = planes(i)
        var acc = 0.0
        var j = 0
        val n = math.min(row.length, v.length)
        while (j < n) { acc += row(j) * v(j).toDouble; j += 1 }
        if (acc > 0) sig |= (1L << i)
        i += 1
      }
      sig
    }
  }

  /** RAW plane projections (the un-thresholded form of [[planeSig]]):
    * the vector's dot against each of the first `dims` hyperplanes —
    * a deterministic Johnson-Lindenstrauss random projection to `dims`
    * dimensions. Same left-fold double arithmetic and the same
    * `oracleDim` width pin as planeSig, so projections are bit-identical
    * to the SQL oracle's plane literal. */
  def planeProject(dims: Int, oracleDim: Int = -1): UserDefinedFunction = {
    // dims beyond DetHash.K draw additional md5-derived planes (row i is
    // identical for every matrix width, so results for dims <= K are
    // unchanged); the JL tier at 768-d projects to 192, not 16
    require(dims >= 1, s"planeProject needs >= 1 output dim, got $dims")
    udf { (v0: Seq[Float]) =>
      if (oracleDim >= 0 && v0.length != oracleDim)
        throw new IllegalArgumentException(
          s"planeProject: vector dim ${v0.length} != oracle plane dim $oracleDim")
      val v = arrF(v0)
      val planes = DetHash.planesArrFor(dims, v.length)
      val out = new Array[Double](dims)
      var i = 0
      while (i < dims) {
        val row = planes(i)
        var acc = 0.0
        var j = 0
        val n = math.min(row.length, v.length)
        while (j < n) { acc += row(j) * v(j).toDouble; j += 1 }
        out(i) = acc
        i += 1
      }
      out
    }
  }
}
