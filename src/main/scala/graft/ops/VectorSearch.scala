package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{NativeVectorExpressions, VectorUdfs}

/** Public similarity-search API over embedding DataFrames — the
  * parameterized form of the verified `sim*`/`dd5` queries. Vectors are
  * `array<float>` columns; cosine uses the codegen'd vec_dot/vec_norm2
  * kernels. See SCALE.md for probe-width scaling guidance.
  */
object VectorSearch {

  private def withNorm(spark: SparkSession, df: DataFrame, vecCol: String): DataFrame = {
    NativeVectorExpressions.register(spark)
    df.withColumn("__norm2", expr(s"vec_norm2($vecCol)"))
  }

  private def rankTopK(pairs: DataFrame, k: Int): DataFrame =
    pairs
      .withColumn("cos_sim",
        expr("vec_dot(__qv, __cv)") / (sqrt(col("__qn")) * sqrt(col("__cn"))))
      // project the embedding arrays away BEFORE the window's shuffle:
      // the exchange then moves (id, id, double) rows, not vectors
      .select("query_id", "vec_id", "cos_sim")
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos_sim", "rank")

  /** Exact brute-force cosine top-k: one map-side pass over the corpus
    * per (small, broadcast) query set.
    *
    * `excludeSelf` drops pairs whose ids are equal — correct when the
    * queries are drawn FROM the corpus (a vector should not be its own
    * neighbor); set it false when the query table has an independent id
    * space, or corpus members sharing a query's id would be lost. */
  def cosineTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int = 10,
                 excludeSelf: Boolean = true): DataFrame = {
    val c = withNorm(spark, corpus, vecCol)
      .select(col(idCol).as("vec_id"), col(vecCol).as("__cv"), col("__norm2").as("__cn"))
    val q = withNorm(spark, queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"), col("__norm2").as("__qn"))
    val pairs = c.crossJoin(broadcast(q))
    rankTopK(if (excludeSelf) pairs.filter(col("query_id") =!= col("vec_id")) else pairs, k)
  }

  /** Exact brute-force squared-L2 top-k — [[cosineTopK]]'s sibling for
    * the Euclidean metric (the baseline [[pqTopK]]'s ADC approximates;
    * cf. the PQ paper's evaluation protocol). Same shape: broadcast
    * queries, map-side scan, only (id, id, double) rows reach the
    * window. The distance is a fixed-order element fold, so it is
    * IEEE-deterministic and oracle-comparable. */
  def l2TopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int = 10,
             excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("__cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val pairs = c.crossJoin(broadcast(q))
    val self = if (excludeSelf) pairs.filter(col("query_id") =!= col("vec_id")) else pairs
    self
      .withColumn("dist2", expr(
        """aggregate(zip_with(__qv, __cv,
          |  (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
          |CAST(0.0 AS DOUBLE), (a, v) -> a + v)""".stripMargin))
      .select("query_id", "vec_id", "dist2")
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("dist2").asc, col("vec_id").asc)))
      .filter(col("rank") <= k)
  }

  /** Recall of an approximate top-k against its exact baseline: one row
    * (method, hits, possible, recall) where hits = |approx ∩ exact| over
    * all queries and recall = hits/possible — the evaluation loop every
    * ANN deployment runs to size probes/codebooks. Inputs are any two
    * (query_id, vec_id, …) top-k frames; both are k·|Q| rows, so the
    * semi-join and counts are corpus-size-independent. */
  def recallVsExact(exact: DataFrame, approx: DataFrame, method: String): DataFrame = {
    val hits = approx.select("query_id", "vec_id")
      .join(exact.select("query_id", "vec_id"), Seq("query_id", "vec_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    val poss = exact.agg(count(lit(1)).as("possible"))
    hits.crossJoin(poss).select(
      lit(method).as("method"), col("hits"), col("possible"),
      (col("hits").cast("double") / col("possible")).as("recall"))
  }

  /** XOR masks enumerating every bucket within `probeHamming` of a
    * signature (shared with the DuckDB oracle text). */
  def probeMasks(sigBits: Int, probeHamming: Int): Seq[Long] = {
    require(probeHamming <= 2, "probe enumeration implemented to depth 2")
    val bits = 0 until sigBits
    val d1 = if (probeHamming >= 1) bits.map(1L << _) else Nil
    val d2 = if (probeHamming >= 2)
      for { i <- bits; j <- bits if j > i } yield (1L << i) | (1L << j)
    else Nil
    0L +: (d1 ++ d2)
  }

  /** Multi-probe LSH ANN top-k: hyperplane signatures, probe all buckets
    * within `probeHamming` of the query's. Examined corpus fraction ≈
    * Σ C(sigBits, d) / 2^sigBits for d ≤ probeHamming. */
  def annTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int = 10,
              sigBits: Int = 8, probeHamming: Int = 2,
              excludeSelf: Boolean = true, oracleDim: Int = -1): DataFrame = {
    val masks = probeMasks(sigBits, probeHamming)
    val sig = VectorUdfs.planeSig(sigBits, oracleDim)
    val c = withNorm(spark, corpus, vecCol)
      .select(col(idCol).as("vec_id"), col(vecCol).as("__cv"),
        col("__norm2").as("__cn"), sig(col(vecCol)).as("__sig"))
    val q = withNorm(spark, queries, vecCol)
      .withColumn("__masks", typedlit(masks))
      .withColumn("__qsig", sig(col(vecCol)))
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        col("__norm2").as("__qn"),
        explode(expr("transform(__masks, m -> __qsig ^ m)")).as("__probe"))
    val self = if (excludeSelf) col("query_id") =!= col("vec_id") else lit(true)
    // No dedup needed: a (query, corpus) pair matches exactly one probe
    // row (its mask is forced to qsig ^ csig), so candidates are already
    // unique — a distinct() here would shuffle full embedding arrays for
    // nothing (it cost round 1 ~10 s at sf0.1).
    val cand = c.join(broadcast(q), col("__sig") === col("__probe") && self)
      .select("query_id", "vec_id", "__qv", "__cv", "__qn", "__cn")
    rankTopK(cand, k)
  }

  /** IVF ANN top-k: corpus vectors are assigned to their
    * nearest-by-cosine centroid (the inverted lists); each query probes
    * its `nprobe` nearest lists and exact-verifies only those members.
    * Centroids are caller-supplied seed vectors here (at production
    * scale, k-means output) — assignment is one map-side pass of
    * |corpus|×|centroids| codegen'd dots, and the probe join touches
    * ≈ nprobe/|centroids| of the corpus per query. */
  def ivfTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
              centroids: DataFrame, idCol: String, vecCol: String,
              k: Int = 10, nprobe: Int = 4,
              excludeSelf: Boolean = true): DataFrame = {
    val cent = withNorm(spark, centroids, vecCol)
      .select(col(idCol).as("cid"), col(vecCol).as("__centv"), col("__norm2").as("__centn"))
    def nearestLists(df: DataFrame, outId: String, vOut: String, nOut: String,
                     depth: Int, rankCol: String): DataFrame =
      df.crossJoin(broadcast(cent))
        .withColumn("__ccos",
          expr(s"vec_dot($vOut, __centv)") / (sqrt(col(nOut)) * sqrt(col("__centn"))))
        .withColumn(rankCol, row_number().over(
          Window.partitionBy(outId).orderBy(col("__ccos").desc, col("cid").asc)))
        .filter(col(rankCol) <= depth)
        .drop("__centv", "__centn", "__ccos")
    val c = nearestLists(
      withNorm(spark, corpus, vecCol)
        .select(col(idCol).as("vec_id"), col(vecCol).as("__cv"), col("__norm2").as("__cn")),
      "vec_id", "__cv", "__cn", 1, "__crk")
    val q = nearestLists(
      withNorm(spark, queries, vecCol)
        .select(col(idCol).as("query_id"), col(vecCol).as("__qv"), col("__norm2").as("__qn")),
      "query_id", "__qv", "__qn", nprobe, "__qrk")
    // Unique by construction: a corpus vector sits in exactly one list
    // (__crk = 1) and a query probes each list at most once, so no
    // distinct() — see annTopK.
    val cand = c.join(broadcast(q), Seq("cid"))
      .filter(if (excludeSelf) col("query_id") =!= col("vec_id") else lit(true))
      .select("query_id", "vec_id", "__qv", "__cv", "__qn", "__cn")
    rankTopK(cand, k)
  }

  /** Deterministic k-means (Lloyd) centroids for IVF list construction.
    *
    * Init: the `k` lowest-id corpus vectors (reproducible, no RNG).
    * Each iteration assigns every vector to its nearest-by-cosine
    * centroid (one map-side pass of codegen'd dots against the broadcast
    * centroid set) and recomputes centroids as element-wise means via
    * [[graft.functions.VectorMeanAggregator]] (map-side partial sums —
    * the shuffle is k×dim per mapper, never the member vectors). Only
    * the k centroids themselves are collected per iteration, so the loop
    * is driver-light at any corpus size. Output: cid, centroid
    * (array<float>), n_members.
    *
    * `vecCol` must be non-NULL and uniform-length: the mean aggregator
    * hard-fails on NULL or jagged vectors (diverging from the SQL
    * skip-NULLs convention on purpose — a silently dropped or
    * prefix-summed vector would skew centroids). Pre-filter with
    * `.filter(col(vecCol).isNotNull)` over corpora that carry NULLs. */
  def kmeansCentroids(spark: SparkSession, corpus: DataFrame,
                      idCol: String, vecCol: String,
                      k: Int, iters: Int = 5): DataFrame = {
    import spark.implicits._
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters (the result is " +
      "the assignment + mean of the final iteration)")
    val vecs = corpus.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
    val dim = vecs.select(size(col("__v"))).as[Int].head()
    val meanAgg = udaf(new graft.functions.VectorMeanAggregator(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())

    // deterministic init: the k lowest-id vectors (no RNG to reproduce)
    var cents: Array[Array[Float]] = vecs.orderBy("__id").limit(k)
      .select("__v").as[Seq[Float]].collect().map(_.toArray)

    var result: DataFrame = null
    var it = 0
    while (it < iters) {
      // assignment is a pure map: the centroid set (k×dim floats) rides
      // in the UDF closure — no join, no shuffle; ties break to the
      // lowest cid so runs are reproducible
      val snap = cents
      val assign = udf { (v0: Seq[Float]) =>
        val v = graft.functions.VectorUdfs.arrF(v0)
        var best = 0; var bestCos = Double.MinValue
        var c = 0
        while (c < snap.length) {
          val cv = snap(c)
          var dot = 0.0; var nv = 0.0; var nc = 0.0
          var i = 0
          val m = math.min(v.length, cv.length)
          while (i < m) {
            val a = v(i).toDouble; val b = cv(i).toDouble
            dot += a * b; nv += a * a; nc += b * b
            i += 1
          }
          val cos = if (nv == 0.0 || nc == 0.0) -2.0
                    else dot / (math.sqrt(nv) * math.sqrt(nc))
          if (cos > bestCos) { bestCos = cos; best = c }
          c += 1
        }
        best + 1L // cids are 1-based like the seed-vector variant
      }
      result = vecs.select(assign(col("__v")).as("cid"), col("__v"))
        .groupBy("cid")
        .agg(meanAgg(col("__v")).as("centroid"), count(lit(1)).as("n_members"))
      // only the k centroids come back to the driver per iteration
      cents = result.orderBy("cid").select("cid", "centroid")
        .as[(Long, Seq[Float])].collect()
        .foldLeft(cents.clone()) { case (acc, (cid, v)) =>
          acc((cid - 1).toInt) = v.toArray; acc
        }
      it += 1
    }
    result.orderBy("cid")
  }

  /** Integer-space Lloyd with SUM-centroids: the learned-centroid
    * counterpart of [[kmeansCentroids]] whose output is exactly
    * reproducible across engines and partitionings, so the learned IVF
    * path can sit under the hash-compare oracle gate.
    *
    * The float mean that makes ordinary k-means irreproducible (double
    * summation order varies with partitioning) is eliminated by two
    * observations: (1) after int8 scalar quantization (the [[scalarQuantTopK]]
    * quantizer — itself oracle-proven exact) every vector is integral, so
    * per-dimension cluster sums are exact BIGINTs under ANY aggregation
    * order; (2) cosine is scale-invariant, so cos(v, mean) = cos(v, sum)
    * and the mean's division never needs to happen — the centroid IS the
    * sum vector. Assignment ranks by
    * `dot(v, s) / sqrt(|s|²)` (the |v| factor is constant per vector):
    * both operands are exact BIGINTs, and BIGINT→DOUBLE cast, divide and
    * sqrt are correctly-rounded IEEE ops, so the score — and therefore
    * the argmax, ties to the lowest cid — is bit-identical in Spark and
    * DuckDB. Empty clusters keep their previous centroid (mirrored in
    * the oracle's `coalesce`).
    *
    * Init: the `k` lowest-id quantized vectors (no RNG). Each iteration
    * is one map-side assignment pass (centroids ride in the closure —
    * k×dim longs, no join) plus a (cid, dim)-grid sum with map-side
    * combine (the shuffle is ≤ k×dim rows per mapper, never the member
    * vectors); only k centroids return to the driver per iteration —
    * the same driver-light contract as [[kmeansCentroids]].
    *
    * Exactness bound: |s_i| ≤ 127·n and |s|² ≤ dim·(127·n)² must fit a
    * BIGINT → n ≲ 3×10⁶ members per cluster at dim 64. At 100 TB scale
    * keep k ∝ N (the SemDeDup sizing contract, SCALE.md) or right-shift
    * the sums by a power of two — cosine is unchanged by the rescale.
    *
    * Returns (cid, sumvec: array<bigint>, b: bigint = |s|²), cid 1-based
    * in seed-id order. */
  def lloydSumCentroids(spark: SparkSession, quantized: DataFrame,
                        idCol: String, qvecCol: String,
                        k: Int, iters: Int): Array[(Array[Long], Long)] = {
    import spark.implicits._
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // persisted across the seed collect + every Lloyd iteration: without
    // it each iteration re-runs the upstream scan + quantize transform
    // (iters+1 redundant passes). At 100 TB `quantized` is a SAMPLE (see
    // learnedIvfTopK scaladoc), so the training set is cache-sized by
    // construction.
    val vecs = quantized.select(col(idCol).cast("long").as("__id"),
      col(qvecCol).as("__v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    var cents: Array[Array[Long]] = vecs.orderBy("__id").limit(k)
      .select("__v").as[Seq[Long]].collect().map(_.toArray)
    require(cents.length == k,
      s"corpus has only ${cents.length} vectors; need k = $k seeds")
    val dim = cents(0).length
    var it = 0
    while (it < iters) {
      val assign = assignUdf(cents)
      // exact per-dimension BIGINT sums: posexplode to a (cid, dim) grid,
      // partial-aggregated map-side; sort_array makes re-assembly
      // order-deterministic
      val sums = vecs
        .select(assign(col("__v")).as("cid"),
          posexplode(col("__v")).as(Seq("__j", "__x")))
        .groupBy("cid", "__j").agg(sum("__x").as("__sj"))
        .groupBy("cid")
        .agg(expr("transform(array_sort(collect_list(struct(__j, __sj))), p -> p.__sj)").as("__s"))
        .as[(Long, Seq[Long])].collect()
      val next = cents.map(_.clone()) // empty cluster keeps previous centroid
      sums.foreach { case (cid, s) =>
        require(s.length == dim, s"jagged sum vector for cid $cid")
        next((cid - 1).toInt) = s.toArray
      }
      cents = next
      it += 1
    }
    cents.map(s => (s, s.map(x => x * x).sum))
    } finally vecs.unpersist(blocking = false)
  }

  /** Top-`nprobe` sum-centroid list ids for a query vector (same score
    * arithmetic as [[assignUdf]]; ties to the lowest cid). */
  private def probeUdf(cents: Array[(Array[Long], Long)], nprobe: Int) = {
    val cs = cents.map(_._1); val bs = cents.map(_._2); val np = nprobe
    udf { (v0: scala.collection.Seq[Long]) =>
      val v = graft.functions.VectorUdfs.arrL(v0)
      val scored = Array.tabulate(cs.length) { c =>
        val s = cs(c)
        var d = 0L; var i = 0
        val m = math.min(v.length, s.length)
        while (i < m) { d += v(i) * s(i); i += 1 }
        val score = if (bs(c) <= 0L) -1.0e300
                    else d.toDouble / math.sqrt(bs(c).toDouble)
        (score, c + 1L)
      }
      scored.sortBy { case (score, cid) => (-score, cid) }.take(np).map(_._2)
    }
  }

  /** Map-side nearest-sum-centroid assignment (1-based cid; ties to the
    * lowest cid; all-zero centroid scores -1e300 so it is never chosen
    * over a live one). The score arithmetic — exact BIGINT dot and norm,
    * then one IEEE divide/sqrt — matches the DuckDB oracle bit-for-bit. */
  private def assignUdf(cents: Array[Array[Long]]) = {
    val bs = cents.map(s => s.map(x => x * x).sum)
    udf { (v0: scala.collection.Seq[Long]) =>
      val v = graft.functions.VectorUdfs.arrL(v0)
      var best = 0; var bestScore = Double.NegativeInfinity
      var c = 0
      while (c < cents.length) {
        val s = cents(c)
        var d = 0L; var i = 0
        val m = math.min(v.length, s.length)
        while (i < m) { d += v(i) * s(i); i += 1 }
        val score = if (bs(c) <= 0L) -1.0e300
                    else d.toDouble / math.sqrt(bs(c).toDouble)
        if (score > bestScore) { bestScore = score; best = c }
        c += 1
      }
      best + 1L
    }
  }

  /** Trained IVF coarse-quantizer state — the driver-side model split
    * out of [[learnedIvfTopK]] so train and serve can be priced
    * separately (round-9 verdict ask #6): `amaxVal` is the corpus int8
    * quantization denominator, `cents` the learned (sum-vector, |s|²)
    * centroids. A session shares ONE model per corpus
    * ([[graft.queries.Shared.obj]]) and serves every query batch from
    * it — the production contract, where the index is trained offline
    * and queries pay only the search. */
  final case class IvfModel(amaxVal: Double, cents: Array[(Array[Long], Long)])

  /** Corpus |x|-max for int8 quantization; fails fast on an empty or
    * all-zero corpus (message text is API: tests pin it). */
  private def corpusAmax(corpus: DataFrame, vecCol: String, who: String): Double = {
    val amaxVal = Option(corpus.select(max(expr(
      s"aggregate($vecCol, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"
    )).as("__amax")).head.get(0)).map(_.asInstanceOf[Double]).getOrElse(0.0)
    require(amaxVal > 0.0,
      s"$who: corpus is empty or all-zero (max|x| = $amaxVal); cannot quantize")
    amaxVal
  }

  /** int8 quantization against a driver-side scale: `__amax` rides as a
    * LITERAL column (the exact double the trainer measured), so the
    * arithmetic is bit-identical to the crossJoin-attached form the
    * oracle replays, without re-scanning the corpus per serve. */
  private def quantExpr(vecCol: String): org.apache.spark.sql.Column = expr(
    s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * (127.0D / __amax) + 0.5D) AS BIGINT))")

  private def quantized(df: DataFrame, vecCol: String, amaxVal: Double,
                        idCol: String, outId: String): DataFrame =
    df.withColumn("__amax", lit(amaxVal)).withColumn("__qv", quantExpr(vecCol))
      .select(col(idCol).cast("long").as(outId), col("__qv"))

  /** Train the IVF coarse quantizer: one amax scan + integer Lloyd
    * ([[lloydSumCentroids]]). Scans `corpus` iters+2 times — at 100 TB
    * pass a SAMPLE as the training corpus; assignment and search still
    * make one pass over the full corpus. */
  def ivfTrain(spark: SparkSession, corpus: DataFrame, idCol: String,
               vecCol: String, kLists: Int = 8, iters: Int = 2,
               who: String = "learnedIvfTopK"): IvfModel = {
    val amaxVal = corpusAmax(corpus, vecCol, who)
    val cq = quantized(corpus, vecCol, amaxVal, idCol, "vec_id")
    IvfModel(amaxVal, lloydSumCentroids(spark, cq, "vec_id", "__qv", kLists, iters))
  }

  /** The IVF serving index: ONE map-only corpus pass — quantize →
    * assign to the model's nearest centroid → carry the float vector +
    * norm for exact verification. Persist/share this frame to serve
    * many query batches from one build (the battery does, via
    * [[graft.queries.Shared]]). */
  def learnedIvfAssign(spark: SparkSession, model: IvfModel, corpus: DataFrame,
                       idCol: String, vecCol: String): DataFrame = {
    val assign = assignUdf(model.cents.map(_._1))
    withNorm(spark, corpus, vecCol).withColumn("__amax", lit(model.amaxVal))
      .withColumn("__qv", quantExpr(vecCol))
      .select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("__cv"),
        col("__norm2").as("__cn"), assign(col("__qv")).as("cid"))
  }

  /** Serve a query batch against a pre-built [[learnedIvfAssign]] index:
    * queries (tiny) probe their `nprobe` best lists and broadcast
    * against the assigned corpus; candidates are exact-verified with
    * the float cosine, so compression error affects only recall, never
    * the reported similarity. */
  def learnedIvfServe(spark: SparkSession, model: IvfModel, indexed: DataFrame,
                      queries: DataFrame, idCol: String, vecCol: String,
                      k: Int = 10, nprobe: Int = 3,
                      excludeSelf: Boolean = true): DataFrame = {
    require(nprobe >= 1 && nprobe <= model.cents.length,
      s"nprobe ($nprobe) must be in [1, kLists=${model.cents.length}]")
    val topProbes = probeUdf(model.cents, nprobe)
    val q = withNorm(spark, queries, vecCol).withColumn("__amax", lit(model.amaxVal))
      .withColumn("__qv", quantExpr(vecCol))
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("__qv2"),
        col("__norm2").as("__qn"),
        explode(topProbes(col("__qv"))).as("cid"))
      .withColumnRenamed("__qv2", "__qv")
    val cand = indexed.join(broadcast(q), Seq("cid"))
      .filter(if (excludeSelf) col("query_id") =!= col("vec_id") else lit(true))
      .select("query_id", "vec_id", "__qv", "__cv", "__qn", "__cn")
    rankTopK(cand, k)
  }

  /** IVF ANN top-k over LEARNED centroids: [[lloydSumCentroids]] output
    * replaces [[ivfTopK]]'s caller-supplied seed rows — closing the
    * "k-means output at production scale" loop under the oracle gate.
    * One-shot composition of [[ivfTrain]] → [[learnedIvfAssign]] →
    * [[learnedIvfServe]]; callers serving many batches should hold the
    * model/index and call the phases directly.
    *
    * Plan shape is strictly better than seed-row ivfTopK: assignment is
    * a closure UDF (centroids are already on the driver), so the corpus
    * side is ONE map-only pass — scan → quantize → assign → attach float
    * vector+norm — with no per-vector window and no exchange until the
    * final (id, id, double) top-k window. */
  def learnedIvfTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int = 10,
                     kLists: Int = 8, iters: Int = 2, nprobe: Int = 3,
                     excludeSelf: Boolean = true): DataFrame = {
    require(nprobe >= 1 && nprobe <= kLists,
      s"nprobe ($nprobe) must be in [1, kLists=$kLists]")
    val model = ivfTrain(spark, corpus, idCol, vecCol, kLists, iters)
    learnedIvfServe(spark, model,
      learnedIvfAssign(spark, model, corpus, idCol, vecCol),
      queries, idCol, vecCol, k, nprobe, excludeSelf)
  }

  /** Embedding near-dup pairs: banded signature candidates + exact
    * cosine ≥ threshold. Output: vec_a, vec_b, cos_sim.
    *
    * A pair agreeing on SEVERAL bands must still surface once; instead
    * of enumerating every agreement and `distinct()`-ing (a
    * near-unique-key dedup whose map-side state OOMed at the 200k-vector
    * sf10 rung — the candidate volume here is Θ(N²/16) because a 4-bit
    * band has only 16 bucket values), each pair is emitted solely from
    * its LOWEST matching band, decided from the two signatures inline in
    * the join condition. The emitted pair set is identical by
    * construction, and the pipeline holds ZERO dedup state — the
    * quadratic candidate stream stays a stream, feeding the map-side
    * broadcast cosine verification directly. The enumeration itself is
    * inherently Θ(N²/16) at this signature geometry (the recall contract
    * pins 4 × 4-bit bands); corpora past ~10⁶ vectors should move to a
    * wider signature with the recall-equivalent band count re-derived
    * from the collision bound — a parameter change, not a shape
    * change. */
  def nearDupPairs(spark: SparkSession, corpus: DataFrame,
                   idCol: String, vecCol: String,
                   threshold: Double = 0.4, oracleDim: Int = -1): DataFrame = {
    val sig = VectorUdfs.planeSig(16, oracleDim)
    val sigs = withNorm(spark, corpus, vecCol)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        col("__norm2").as("__n"), sig(col(vecCol)).as("sig"))
    val bands = sigs.select(col("__id"), col("sig"),
      posexplode(expr(
        """array(sig & 15, shiftright(sig, 4) & 15,
          |      shiftright(sig, 8) & 15, shiftright(sig, 12) & 15)""".stripMargin))
        .as(Seq("band", "bkey")))
    def bandOf(s: Column, i: Int): Column =
      (if (i == 0) s else shiftright(s, 4 * i)).bitwiseAND(lit(15))
    val firstMatch = {
      val sa = col("a.sig"); val sb = col("b.sig")
      when(bandOf(sa, 0) === bandOf(sb, 0), lit(0))
        .when(bandOf(sa, 1) === bandOf(sb, 1), lit(1))
        .when(bandOf(sa, 2) === bandOf(sb, 2), lit(2))
        .otherwise(lit(3))
    }
    val pairs = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.__id") < col("b.__id") && firstMatch === col("a.band"))
      .select(col("a.__id").as("vec_a"), col("b.__id").as("vec_b"))
    pairs
      .join(broadcast(sigs.select(col("__id").as("vec_a"),
        col("__v").as("ea"), col("__n").as("na"))), "vec_a")
      .join(broadcast(sigs.select(col("__id").as("vec_b"),
        col("__v").as("eb"), col("__n").as("nb"))), "vec_b")
      .withColumn("cos_sim",
        expr("vec_dot(ea, eb)") / (sqrt(col("na")) * sqrt(col("nb"))))
      .filter(col("cos_sim") >= threshold)
      .select("vec_a", "vec_b", "cos_sim")
  }

  /** Scalar-quantized (int8) brute-force top-k — the memory/bandwidth
    * scale path for exact-ish search: embeddings compress 4× (float32 →
    * int8), so a 100 TB float corpus scans as 25 TB of codes and a
    * 1000-executor pass keeps 4× more of it in page cache; scoring is
    * integer multiply-adds. Recall loss at int8 is negligible for
    * cosine ranking (quantization noise ≪ inter-neighbor gaps).
    *
    * Quantization is symmetric with one corpus-global scale:
    * `q_i = floor(x_i · (127/amax) + 0.5)` where `amax` is the largest
    * |component| in the corpus (one map-side aggregate, broadcast back —
    * the same one-row attach as the dd4 threshold). The floor(·+0.5)
    * form is [[graft.queries.Det.q6]]'s tie-free rounding: every step is
    * exact IEEE double arithmetic reproduced verbatim by the DuckDB
    * oracle, so even this *approximate* operator is hash-verified.
    * Scores are integer dot products (exact); the reported `qcos` is the
    * cosine over the quantized vectors — a double computed from exact
    * integers, bit-identical across engines.
    *
    * Like [[cosineTopK]], the query side broadcasts and the corpus scan
    * stays map-side; the window shuffles (id, id, double) rows only —
    * codes are projected away before any exchange. */
  def scalarQuantTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String, k: Int = 10,
                      excludeSelf: Boolean = true): DataFrame = {
    val amax = corpus.select(max(expr(
      s"aggregate($vecCol, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"
    )).as("__amax"))
    def quantize(df: DataFrame, outId: String, vOut: String, nOut: String) =
      df.crossJoin(broadcast(amax))
        .withColumn(vOut, expr(
          s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * (127.0D / __amax) + 0.5D) AS BIGINT))"))
        .withColumn(nOut, expr(s"aggregate($vOut, 0L, (a, x) -> a + x * x)"))
        .select(col(idCol).as(outId), col(vOut), col(nOut))
    val c = quantize(corpus, "vec_id", "__cq", "__cn")
    val q = quantize(queries, "query_id", "__qq", "__qn")
    val pairs = c.crossJoin(broadcast(q))
    val self = if (excludeSelf) col("query_id") =!= col("vec_id") else lit(true)
    pairs.filter(self)
      .withColumn("__dot", expr(
        "aggregate(zip_with(__qq, __cq, (x, y) -> x * y), 0L, (a, v) -> a + v)"))
      .withColumn("qcos",
        col("__dot").cast("double") / (sqrt(col("__qn").cast("double")) * sqrt(col("__cn").cast("double"))))
      // codes projected away before the window's exchange (see rankTopK)
      .select("query_id", "vec_id", "qcos")
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("qcos").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "qcos", "rank")
  }

  /** Two-stage search: [[scalarQuantTopK]]'s int8 shortlist re-ranked by
    * the exact float cosine — the production ANN serving shape (a cheap
    * wide recall stage feeding an expensive precise stage). The
    * quantized stage scans 4×-compressed codes and keeps `shortlist`
    * candidates per query; only those ≈`|Q|·shortlist` (id, id) rows are
    * re-scored exactly, so stage-2 cost is independent of corpus size.
    *
    * Plan shape: the shortlist (ids only) broadcasts back against the
    * corpus scan, so raw vectors re-attach map-side and never shuffle;
    * the final window moves (id, id, double) rows. Output: query_id,
    * vec_id, stage1_rank (the quantized rank — recall diagnostics),
    * cos_sim, rank ≤ k. */
  def rerankTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int = 10,
                 shortlist: Int = 50, excludeSelf: Boolean = true): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must cover k ($k)")
    val short = scalarQuantTopK(spark, corpus, queries, idCol, vecCol,
        shortlist, excludeSelf)
      .select(col("query_id"), col("vec_id"), col("rank").as("stage1_rank"))
    val c = withNorm(spark, corpus, vecCol)
      .select(col(idCol).as("vec_id"), col(vecCol).as("__cv"),
        col("__norm2").as("__cn"))
    val q = withNorm(spark, queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        col("__norm2").as("__qn"))
    c.join(broadcast(short), "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("cos_sim",
        expr("vec_dot(__qv, __cv)") / (sqrt(col("__qn")) * sqrt(col("__cn"))))
      // arrays projected away before the window's exchange (see rankTopK)
      .select("query_id", "vec_id", "stage1_rank", "cos_sim")
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "stage1_rank", "cos_sim", "rank")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    * the embedding space, then prune documents whose WITHIN-CLUSTER
    * cosine to a lower-id neighbor reaches `threshold` — semantic
    * near-dups (re-encodings, templated rewrites) that text-level
    * shingles miss. Clustering to `centroids` (seed vectors here;
    * [[kmeansCentroids]] output at production scale) bounds the pair
    * search to cluster members — never all-pairs across the corpus.
    *
    * Plan shape: assignment is one map-side pass of codegen'd dots
    * against the broadcast centroid set, reduced by a min-struct
    * aggregate (ties to the lowest cid) — only (id, cos, cid) scalars
    * reach the exchange. Candidate pairs self-join the (id, cid)
    * assignment — ids only. For exact verification the pair set
    * (ids-only, bounded by Σ cluster-member² ≪ N²) broadcasts against
    * the corpus scan so the left vectors attach map-side; the right
    * vectors attach via a plain equi-join on the pair id — at corpus
    * scale that shuffles only candidate-pair rows keyed by id (the
    * planner broadcasts it at small scale on stats), never the corpus
    * by construction. Size |clusters| ∝ N to bound member counts.
    * Output: vec_id, cid, n_dup_neighbors (lower-id τ-neighbors in the
    * cluster), keep — one row per non-NULL input vector. */
  def semanticDedup(spark: SparkSession, corpus: DataFrame,
                    centroids: DataFrame, idCol: String, vecCol: String,
                    threshold: Double = 0.4): DataFrame = {
    val cent = withNorm(spark, centroids.filter(col(vecCol).isNotNull), vecCol)
      .select(col(idCol).as("cid"), col(vecCol).as("__centv"),
        col("__norm2").as("__centn"))
    val vecs = withNorm(spark, corpus.filter(col(vecCol).isNotNull), vecCol)
      .select(col(idCol).as("vec_id"), col(vecCol).as("__v"),
        col("__norm2").as("__n"))
    val assigned = vecs.crossJoin(broadcast(cent))
      .withColumn("__ccos",
        expr("vec_dot(__v, __centv)") / (sqrt(col("__n")) * sqrt(col("__centn"))))
      .select(col("vec_id"), col("__ccos"), col("cid"))
      .groupBy("vec_id")
      .agg(min(struct((col("__ccos") * lit(-1.0)).as("nc"),
        col("cid").as("cid"))).as("__best"))
      .select(col("vec_id"), col("__best.cid").as("cid"))
    val cand = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
    val dup = broadcast(cand)
      .join(vecs.select(col("vec_id").as("va"), col("__v").as("ea"),
        col("__n").as("na")), "va")
      .join(vecs.select(col("vec_id").as("vb"), col("__v").as("eb"),
        col("__n").as("nb")), "vb")
      .withColumn("cos_sim",
        expr("vec_dot(ea, eb)") / (sqrt(col("na")) * sqrt(col("nb"))))
      .filter(col("cos_sim") >= threshold)
      .groupBy(col("vb").as("vec_id"))
      .agg(count(lit(1)).as("n_dup_neighbors"))
    assigned.join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("n_dup_neighbors"), lit(0L)).as("n_dup_neighbors"),
        (coalesce(col("n_dup_neighbors"), lit(0L)) === 0).as("keep"))
  }

  /** Embedding-space outlier scoring: squared L2 distance of every
    * vector to the CORPUS CENTROID, top-k most distant first — the
    * embedding-quality gate of a training pipeline (mis-embedded, empty,
    * or off-distribution items sit far from the mass of the corpus).
    *
    * Scale shape: the centroid is a per-dimension aggregate (dim rows —
    * KBs at any corpus size) broadcast back; scoring is a pure map and
    * top-k is TakeOrderedAndProject, so nothing corpus-sized ever
    * shuffles. Determinism: per-dim sums go through the q6-quantize →
    * DECIMAL(38,6) route (Det.scala — decimal sums are exact and
    * order-independent where a double sum depends on partitioning; the
    * pre-quantize makes the cast tie-free across engines), and the
    * distance fold is a sequential IEEE pass both engines replay.
    * Output: idCol, dist2 — ordered dist2 desc, id asc, limited to k. */
  def centroidOutliers(vecs: DataFrame, idCol: String, vecCol: String,
                       k: Int = 20): DataFrame = {
    val nn = vecs.filter(col(vecCol).isNotNull)
    val per = nn
      .select(posexplode(col(vecCol)).as(Seq("__d", "__x")))
      .select(col("__d"),
        (floor(col("__x").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6)).as("__q"))
      .groupBy("__d")
      .agg((sum(col("__q").cast("decimal(38,6)")).cast("double")
        / count(lit(1))).as("__m"))
    val cent = per
      .agg(array_sort(collect_list(struct(col("__d"), col("__m")))).as("__s"))
      .select(transform(col("__s"), s => s.getField("__m")).as("__c"))
    nn.crossJoin(broadcast(cent))
      .select(col(idCol), expr(
        s"""aggregate(zip_with($vecCol, __c, (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
           |CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin).as("dist2"))
      .orderBy(col("dist2").desc, col(idCol).asc)
      .limit(k)
  }

  /** Product-quantization ANN top-k (Jégou, Douze & Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search") on int8-quantized vectors
    * — the memory-scale path past [[scalarQuantTopK]]: where scalar
    * quantization shrinks the corpus 4× (one byte per dimension), PQ
    * shrinks it to `nSub` sub-byte codes per VECTOR (64-dim float32 at
    * nSub=16, K=32 → 16 five-bit codes ≈ 10 packed bytes: 25×; fewer,
    * wider subspaces compress harder), the compression that lets a
    * 100 TB embedding corpus fit scan-resident.
    *
    * Pipeline (every stage map-side; the only exchange is the final
    * per-query top-k window moving (id, id, long) rows):
    *  1. int8-quantize corpus, queries and codebook seeds with
    *     [[scalarQuantTopK]]'s tie-free floor quantizer (one corpus-max
    *     scalar, broadcast);
    *  2. the quantized seeds (tiny, caller-chosen — k-means output at
    *     production scale, like [[ivfTopK]]'s centroids) collect to the
    *     driver and split into `nSub` per-subspace codebooks, baked into
    *     the plan as one literal;
    *  3. ENCODE: each corpus vector → `nSub` codeword ids, argmin of the
    *     exact integer squared-L2 per subspace (first-min = lowest
    *     codeword id, so ties are deterministic);
    *  4. ADC scoring: each query precomputes its `nSub`×`K` integer
    *     distance LUT (one small array per query, broadcast); a
    *     candidate's distance is the codegen'd `pq_adc` kernel
    *     ([[graft.functions.PqAdc]]): `nSub` in-place LUT reads at the
    *     candidate's codes, summed — O(nSub) per candidate, never a
    *     copy of the LUT, and the scan touches only the codes, never
    *     the vectors.
    *
    * All distances are exact BIGINTs end-to-end (quantize → encode →
    * LUT → sum), so ranking and the DuckDB oracle replay are
    * bit-identical — same trick as sim4/ir1's fixed-point scoring.
    * Asymmetric-distance ranking is approximate vs exact cosine by
    * design; recall is pinned in ScalaTest like sim2/sim4. */
  def pqTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
             codebookSeeds: DataFrame, idCol: String, vecCol: String,
             k: Int = 10, nSub: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    val amax = corpus.select(max(expr(
      s"aggregate($vecCol, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"
    )).as("__amax"))
    // degenerate-corpus guard (mirrors the empty-corpus guards the other
    // ops grew): an empty corpus yields a NULL amax and an all-zero one
    // yields 0 — either way the quantize transform would emit NULL
    // arrays and the seed collect / encode UDF would NPE. Fail fast
    // with the actual condition instead. One scalar head() — the same
    // documented small-side collect as the codebook seeds below.
    val amaxVal = Option(amax.head.get(0)).map(_.asInstanceOf[Double]).getOrElse(0.0)
    require(amaxVal > 0.0,
      s"pqTopK: corpus is empty or all-zero (max|x| = $amaxVal); cannot quantize")
    def quantize(df: DataFrame, outId: String) =
      df.crossJoin(broadcast(amax))
        .withColumn("__qv", expr(
          s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * (127.0D / __amax) + 0.5D) AS BIGINT))"))
        .select(col(idCol).as(outId), col("__qv"))
    // documented small-side collect (cf. ivfTopK centroids): the seed set
    // is the codebook — K rows at any corpus size
    val seedRows = quantize(codebookSeeds, "__sid").orderBy("__sid")
      .collect().map(_.getSeq[Long](1).toArray)
    require(seedRows.nonEmpty, "codebook seed set is empty")
    NativeVectorExpressions.register(spark)
    val coder = pqCoder(seedRows, nSub)
    val c = quantize(corpus, "vec_id")
      .withColumn("__codes", coder.encode(col("__qv")))
      .select("vec_id", "__codes")
    val q = quantize(queries, "query_id")
      .withColumn("__lut", coder.lut(col("__qv")))
      .select("query_id", "__lut")
    val self = if (excludeSelf) col("query_id") =!= col("vec_id") else lit(true)
    c.crossJoin(broadcast(q)).filter(self)
      .withColumn("pq_dist", coder.adc(col("__codes"), col("__lut")))
      .select("query_id", "vec_id", "pq_dist")
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("pq_dist").asc, col("vec_id").asc)))
      .filter(col("rank") <= k)
  }

  /** The PQ kernel triple shared by [[pqTopK]] and [[ivfPqTopK]]:
    * encode (argmin codeword per subspace, first-min tie-break), LUT
    * (the query's distance to every (subspace, codeword)), ADC (the
    * `pq_adc` kernel: sum of LUT entries at the candidate's codes;
    * needs [[NativeVectorExpressions.register]] on the session). All
    * exact-BIGINT. */
  private final case class PqCoder(
      encode: org.apache.spark.sql.expressions.UserDefinedFunction,
      lut: org.apache.spark.sql.expressions.UserDefinedFunction,
      nSub: Int, kCw: Int) {
    def adc(codes: Column, lut: Column): Column =
      call_function("pq_adc", codes, lut, lit(nSub), lit(kCw))
  }

  private def pqCoder(seedRows: Array[Array[Long]], nSub: Int): PqCoder = {
    val dim = seedRows.head.length
    require(dim % nSub == 0, s"dim $dim not divisible into $nSub subspaces")
    val sd = dim / nSub
    val kCw = seedRows.length
    // flat codebook: cb(m*kCw + cw)(j) — one primitive-array kernel per
    // row beats the equivalent nested HOF lambdas ~10× (higher-order
    // array expressions evaluate interpreted with per-element boxing;
    // this is the same compute-bound-kernel justification as
    // TokenProfileUdf/WinnowUdf)
    val cb: Array[Array[Long]] =
      Array.tabulate(nSub * kCw) { i => seedRows(i % kCw).slice((i / kCw) * sd, (i / kCw + 1) * sd) }
    def subDists(qv: Array[Long], m: Int): Array[Long] = {
      val out = new Array[Long](kCw)
      var cw = 0
      while (cw < kCw) {
        val w = cb(m * kCw + cw)
        var s = 0L; var j = 0
        while (j < sd) { val d = qv(m * sd + j) - w(j); s += d * d; j += 1 }
        out(cw) = s; cw += 1
      }
      out
    }
    // argmin with first-min tie-break = lowest codeword id
    val encodeUdf = udf { qv0: scala.collection.Seq[Long] =>
      val qv = graft.functions.VectorUdfs.arrL(qv0)
      Array.tabulate(nSub) { m =>
        val ds = subDists(qv, m)
        var best = 0; var cw = 1
        while (cw < kCw) { if (ds(cw) < ds(best)) best = cw; cw += 1 }
        best
      }
    }
    val lutUdf = udf { qv0: scala.collection.Seq[Long] =>
      val qv = graft.functions.VectorUdfs.arrL(qv0)
      val out = new Array[Long](nSub * kCw)
      var m = 0
      while (m < nSub) {
        System.arraycopy(subDists(qv, m), 0, out, m * kCw, kCw); m += 1
      }
      out
    }
    PqCoder(encodeUdf, lutUdf, nSub, kCw)
  }

  /** Composite IVF-PQ ANN top-k — the IVFADC shape of the PQ paper
    * (coarse quantizer bounds WHICH vectors are scanned; product codes
    * bound the BYTES per scanned vector), which is the production ANN
    * deployment shape at 100 TB: scan cost ≈ (nprobe/kLists) × corpus ×
    * ~codes bytes. Composes [[lloydSumCentroids]] (the oracle-exact
    * integer Lloyd of sim11) with [[pqTopK]]'s exact-BIGINT ADC (sim7):
    * corpus vectors are assigned to learned lists and PQ-encoded in ONE
    * map-only pass; queries probe their `nprobe` best lists and carry
    * their LUT; candidates in probed lists score by ADC only. Codes are
    * encoded from the raw quantized vector, not the list residual (the
    * residual is a rational sum/n — re-quantizing it would break the
    * exact-integer contract that makes the whole composite
    * hash-gateable; recall at fixture scale is unaffected, pinned in
    * ScalaTest).
    *
    * Output: query_id, vec_id, pq_dist, rank ≤ k. */
  /** Trained IVF-PQ state: the coarse quantizer plus the (quantized)
    * codebook seed rows the PQ kernels derive from. The seed rows — not
    * the UDF triple — are the model so the state is a plain serializable
    * value; [[pqCoder]] rebuilds the kernels driver-side for free. */
  final case class IvfPqModel(ivf: IvfModel, seedRows: Array[Array[Long]],
                              nSub: Int)

  /** Train the PQ codebook against an already-trained coarse quantizer
    * (the two share one corpus scale, so composing with a session-shared
    * [[ivfTrain]] model halves the training passes). */
  def ivfPqTrain(spark: SparkSession, ivf: IvfModel, codebookSeeds: DataFrame,
                 idCol: String, vecCol: String, nSub: Int = 4): IvfPqModel = {
    val seedRows = quantized(codebookSeeds, vecCol, ivf.amaxVal, idCol, "__sid")
      .orderBy("__sid").collect().map(_.getSeq[Long](1).toArray)
    require(seedRows.nonEmpty, "codebook seed set is empty")
    IvfPqModel(ivf, seedRows, nSub)
  }

  /** The IVF-PQ serving index: ONE map-only corpus pass — quantize →
    * coarse list id + product codes (~nSub bytes of payload per vector).
    * Persist/share this frame to serve many query batches. */
  def ivfPqEncode(model: IvfPqModel, corpus: DataFrame,
                  idCol: String, vecCol: String): DataFrame = {
    val assign = assignUdf(model.ivf.cents.map(_._1))
    val coder = pqCoder(model.seedRows, model.nSub)
    quantized(corpus, vecCol, model.ivf.amaxVal, idCol, "vec_id")
      .withColumn("cid", assign(col("__qv")))
      .withColumn("__codes", coder.encode(col("__qv")))
      .select("vec_id", "cid", "__codes")
  }

  /** Serve a query batch against a pre-built [[ivfPqEncode]] index:
    * queries carry their LUT, probe `nprobe` lists, and candidates
    * score by exact-BIGINT ADC only — the codegen'd `pq_adc` kernel,
    * `nSub` in-place LUT reads per candidate. */
  def ivfPqServe(model: IvfPqModel, encoded: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int = 10, nprobe: Int = 3,
                 excludeSelf: Boolean = true): DataFrame = {
    require(nprobe >= 1 && nprobe <= model.ivf.cents.length,
      s"nprobe ($nprobe) must be in [1, kLists=${model.ivf.cents.length}]")
    val probes = probeUdf(model.ivf.cents, nprobe)
    NativeVectorExpressions.register(encoded.sparkSession)
    val coder = pqCoder(model.seedRows, model.nSub)
    val q = quantized(queries, vecCol, model.ivf.amaxVal, idCol, "query_id")
      .withColumn("__lut", coder.lut(col("__qv")))
      .select(col("query_id"), col("__lut"),
        explode(probes(col("__qv"))).as("cid"))
    val self = if (excludeSelf) col("query_id") =!= col("vec_id") else lit(true)
    encoded.join(broadcast(q), Seq("cid")).filter(self)
      .withColumn("pq_dist", coder.adc(col("__codes"), col("__lut")))
      .select("query_id", "vec_id", "pq_dist")
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("pq_dist").asc, col("vec_id").asc)))
      .filter(col("rank") <= k)
  }

  def ivfPqTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
                codebookSeeds: DataFrame, idCol: String, vecCol: String,
                k: Int = 10, nSub: Int = 4, kLists: Int = 8, iters: Int = 2,
                nprobe: Int = 3, excludeSelf: Boolean = true): DataFrame = {
    require(nprobe >= 1 && nprobe <= kLists,
      s"nprobe ($nprobe) must be in [1, kLists=$kLists]")
    val ivf = ivfTrain(spark, corpus, idCol, vecCol, kLists, iters, who = "ivfPqTopK")
    val model = ivfPqTrain(spark, ivf, codebookSeeds, idCol, vecCol, nSub)
    ivfPqServe(model, ivfPqEncode(model, corpus, idCol, vecCol),
      queries, idCol, vecCol, k, nprobe, excludeSelf)
  }

  /** Random-projection ANN top-k — the THIRD compression tier
    * (sim4 quantizes values, sim7 quantizes codewords; this reduces
    * DIMENSIONS): vectors project onto `dims` deterministic hyperplanes
    * (Johnson-Lindenstrauss; [[graft.functions.DetHash]]'s md5-derived
    * planes, the un-thresholded form of sim2's signatures) and cosine
    * ranking runs entirely in the projected space — a 64→16 projection
    * reads 4× less per vector with distances preserved to ~1/√dims
    * distortion. Size `dims` by data geometry: clustered real
    * embeddings keep their ranking at strong compressions, while
    * near-uniform data (whose cosine spread is tiny) needs more dims —
    * the fixture measures recall 0.19 vs chance 0.02 at 16/64
    * (OpsApiSpec). All arithmetic is fixed-order double folds, so even
    * this approximate ranking is oracle-replayable from the same plane
    * literal. Same scan shape as [[cosineTopK]]: broadcast queries,
    * map-side projection, only (id, id, double) rows reach the window. */
  def rpTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int = 10,
             dims: Int = 16, oracleDim: Int = -1,
             excludeSelf: Boolean = true): DataFrame = {
    val proj = VectorUdfs.planeProject(dims, oracleDim)
    def p(df: DataFrame, outId: String, vOut: String, nOut: String) =
      df.withColumn(vOut, proj(col(vecCol)))
        .withColumn(nOut, expr(
          s"aggregate($vOut, CAST(0.0 AS DOUBLE), (a, x) -> a + x * x)"))
        .select(col(idCol).as(outId), col(vOut), col(nOut))
    val c = p(corpus, "vec_id", "__cp", "__cn")
    val q = p(queries, "query_id", "__qp", "__qn")
    val pairs = c.crossJoin(broadcast(q))
    val self = if (excludeSelf) pairs.filter(col("query_id") =!= col("vec_id")) else pairs
    self
      .withColumn("rp_cos", expr(
        "aggregate(zip_with(__qp, __cp, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, v) -> a + v)")
        / (sqrt(col("__qn")) * sqrt(col("__cn"))))
      .select("query_id", "vec_id", "rp_cos")
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("rp_cos").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)
  }

  /** MMR diversified top-k (Carbonell & Goldstein 1998, "maximal
    * marginal relevance"): from each query's exact top-`poolK` pool,
    * greedily pick `k` items maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈picked} sim(c, s)` — relevance traded
    * against redundancy, the selection shape that keeps retrieved
    * context (or sampled training examples) DIVERSE instead of five
    * near-copies of the best hit.
    *
    * The greedy is unrolled into `k` relational steps (pick 1 = top
    * relevance; step t anti-joins the picked set, attaches
    * max-sim-to-picked by an id join over the pool's pairwise cosines,
    * and keeps the arg-max with the id tiebreak) — no driver loop over
    * rows, and every quantity (cos from the codegen'd kernels, fixed
    * λ-arithmetic) is bit-exact, so the whole greedy trajectory is
    * oracle-replayable. Pool and pair frames are k·|Q|-sized —
    * corpus-independent once the pool is priced; a production serving
    * path materializes the pool once and runs the same unrolled plan. */
  /** The exact top-`poolK` relevance pool MMR re-ranks: (query_id,
    * vec_id, rel). Split out (round 10) so a session can materialize it
    * once and serve repeated diversifications — the same train/serve
    * separation as the ANN index split. Returned SYMBOLIC; the caller
    * decides the materialization (localCheckpoint / Shared.frame). */
  def mmrPool(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, poolK: Int = 20): DataFrame =
    cosineTopK(spark, corpus, queries, idCol, vecCol, poolK)
      .select(col("query_id"), col("vec_id"), col("cos_sim").as("rel"))

  /** Pairwise within-pool cosines (query_id, a, b, sim) — poolK²·|Q|
    * rows; the corpus attaches by broadcast, so only pool-sized rows
    * shuffle. Symbolic, like [[mmrPool]]. */
  def mmrSims(spark: SparkSession, corpus: DataFrame, pool: DataFrame,
              idCol: String, vecCol: String): DataFrame = {
    val e = withNorm(spark, corpus, vecCol)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"), col("__norm2").as("__n2"))
    pool.as("pa").join(pool.as("pb"),
        col("pa.query_id") === col("pb.query_id") &&
        col("pa.vec_id") =!= col("pb.vec_id"))
      .select(col("pa.query_id").as("query_id"),
        col("pa.vec_id").as("a"), col("pb.vec_id").as("b"))
      .join(broadcast(e).withColumnRenamed("__id", "a"), Seq("a"))
      .withColumnsRenamed(Map("__v" -> "__va", "__n2" -> "__na"))
      .join(broadcast(e).withColumnRenamed("__id", "b"), Seq("b"))
      .withColumn("sim",
        expr("vec_dot(__va, __v)") / (sqrt(col("__na")) * sqrt(col("__n2"))))
      .select("query_id", "a", "b", "sim")
  }

  def mmrDiversify(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
                   idCol: String, vecCol: String,
                   poolK: Int = 20, k: Int = 5,
                   lambdaRel: Double = 0.7): DataFrame = {
    require(k >= 1 && poolK >= k, s"need poolK >= k >= 1, got poolK=$poolK k=$k")
    // The unrolled greedy references pool/sims/selected in every one of
    // its k branches — left symbolic, the plan recomputes the corpus
    // scan per branch (measured 11.3 s vs 1.4 s at sf0.1). These frames
    // are poolK·|Q|-sized, so materialize them ONCE eagerly; every
    // branch then reads the tiny materialized blocks. (localCheckpoint
    // is content-deterministic; at production scale the pool would be a
    // written table — same decision, durable form. localCheckpoint
    // blocks are executor-local and non-fault-tolerant: acceptable in
    // local[*]/local-cluster harnesses, NOT on clusters that can lose
    // executors mid-session — write the pool/sims to a table there.)
    val pool = mmrPool(spark, corpus, queries, idCol, vecCol, poolK)
      .localCheckpoint(true)
    val sims = mmrSims(spark, corpus, pool, idCol, vecCol).localCheckpoint(true)
    mmrDiversifyPrebuilt(pool, sims, k, lambdaRel)
  }

  /** The greedy alone, over already-materialized [[mmrPool]]/[[mmrSims]]
    * frames — the serve half for a session that diversifies repeatedly
    * from one pool build (sim9 memoizes both frames per session). A
    * separate method, not an optional param on [[mmrDiversify]], so a
    * caller can never pass a corpus/poolK that silently disagrees with
    * the prebuilt frames. `k` must not exceed the prebuilt pool depth. */
  def mmrDiversifyPrebuilt(pool: DataFrame, sims: DataFrame,
                           k: Int = 5, lambdaRel: Double = 0.7): DataFrame = {
    require(k >= 1, s"need k >= 1, got k=$k")
    // Enforce the documented contract (k ≤ prebuilt pool depth) instead
    // of silently truncating pick lists: the pool is a materialized
    // poolK·|Q| frame, so the min-depth probe is one job over tiny
    // cached blocks (single-row collect, k-bounded by construction).
    val depthRow = pool.groupBy("query_id").agg(count(lit(1)).as("__n"))
      .agg(min(col("__n"))).collect()(0)
    require(!depthRow.isNullAt(0), "prebuilt pool is empty (no queries)")
    val minDepth = depthRow.getLong(0)
    require(k <= minDepth,
      s"k=$k exceeds the prebuilt pool's min per-query depth $minDepth " +
        "(build the pool with poolK >= k)")
    val first = pool
      .withColumn("__rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("rel").desc, col("vec_id").asc)))
      .filter(col("__rk") === 1)
      .select(col("query_id"), col("vec_id"), lit(1).as("pick_order"),
        col("rel").as("score"))
    var selected = first
    for (t <- 2 to k) {
      val maxSim = sims
        .join(selected.select(col("query_id"), col("vec_id").as("b")),
          Seq("query_id", "b"))
        .groupBy(col("query_id"), col("a").as("vec_id"))
        .agg(max(col("sim")).as("__ms"))
      val step = pool
        .join(selected.select("query_id", "vec_id"), Seq("query_id", "vec_id"),
          "left_anti")
        .join(maxSim, Seq("query_id", "vec_id"))
        .withColumn("score",
          lit(lambdaRel) * col("rel") - lit(1.0 - lambdaRel) * col("__ms"))
        .withColumn("__rk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id").asc)))
        .filter(col("__rk") === 1)
        .select(col("query_id"), col("vec_id"), lit(t).as("pick_order"), col("score"))
      // keep the accumulated picks materialized too, or step t's plan
      // embeds every earlier step's plan (exponential growth in k)
      selected = selected.unionByName(step).localCheckpoint(true)
    }
    selected
  }

  /** DuckDB replay of [[mmrDiversify]] — the greedy unrolled into `k`
    * chained CTEs generated from the same constants. λ and 1−λ are
    * printed at full precision so both engines score with bit-identical
    * doubles (1.0 − 0.7 is NOT the literal 0.3). */
  def duckMmrDiversify(nQueries: Int, poolK: Int = 20, k: Int = 5,
                       lambdaRel: Double = 0.7): String = {
    def d(v: Double) = String.format(java.util.Locale.ROOT, "%.17g", Double.box(v))
    val lam = d(lambdaRel)
    val oneMinus = d(1.0 - lambdaRel)
    val dotAB =
      """list_sum(list_transform(generate_series(1, 64), j ->
        |      CAST(a.v[j] AS DOUBLE) * CAST(b.v[j] AS DOUBLE)))""".stripMargin
    val selCtes = (2 to k).map { t =>
      val prev = (1 until t).map(i =>
        s"SELECT vec_id FROM sel$i s$i WHERE s$i.query_id = p.query_id")
        .mkString(" UNION ALL ")
      s"""sel$t AS (SELECT query_id, vec_id, score FROM (
         |  SELECT s.query_id, s.vec_id, s.score,
         |    row_number() OVER (PARTITION BY s.query_id
         |      ORDER BY s.score DESC, s.vec_id ASC) AS rk
         |  FROM (
         |    SELECT p.query_id, p.vec_id,
         |      $lam * p.rel - $oneMinus * (
         |        SELECT max(ps.sim) FROM psim ps
         |        WHERE ps.query_id = p.query_id AND ps.a = p.vec_id
         |          AND ps.b IN ($prev)) AS score
         |    FROM pool p
         |    WHERE p.vec_id NOT IN ($prev)) s) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val finalSel = (1 to k).map(t =>
      s"SELECT query_id, vec_id, $t AS pick_order, score FROM sel$t")
      .mkString("\nUNION ALL ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding, ${graft.functions.VectorExprs.duckNorm2} AS norm2
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS ea, norm2 AS qnorm
       |      FROM e WHERE vec_id < $nQueries),
       |prs AS (
       |  SELECT q.query_id, c.vec_id, q.ea, c.embedding AS eb,
       |         q.qnorm, c.norm2 AS cnorm
       |  FROM e c, q WHERE q.query_id <> c.vec_id),
       |scored AS (
       |  SELECT query_id, vec_id,
       |    CAST(${graft.functions.VectorExprs.duckPairDot} AS DOUBLE)
       |      / (sqrt(CAST(qnorm AS DOUBLE)) * sqrt(CAST(cnorm AS DOUBLE))) AS rel
       |  FROM prs),
       |pool AS (SELECT query_id, vec_id, rel FROM (
       |  SELECT query_id, vec_id, rel, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rel DESC, vec_id ASC) AS rk FROM scored) WHERE rk <= $poolK),
       |pv AS (SELECT p.query_id, p.vec_id, e.embedding AS v, e.norm2 AS n2
       |       FROM pool p JOIN e ON p.vec_id = e.vec_id),
       |psim AS (
       |  SELECT a.query_id, a.vec_id AS a, b.vec_id AS b,
       |    CAST($dotAB AS DOUBLE)
       |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS sim
       |  FROM pv a JOIN pv b
       |    ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
       |sel1 AS (SELECT query_id, vec_id, rel AS score FROM (
       |  SELECT query_id, vec_id, rel, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rel DESC, vec_id ASC) AS rk FROM pool) WHERE rk = 1),
       |$selCtes
       |$finalSel
       |ORDER BY query_id, pick_order""".stripMargin
  }

  /** DuckDB replay of [[centroidOutliers]], generated from the same
    * dim/k constants. */
  def duckCentroidOutliers(k: Int = 20, dim: Int = 64,
                           idCol: String = "vec_id", table: String = "embeddings",
                           vecCol: String = "embedding"): String =
    s"""WITH nn AS (SELECT $idCol, $vecCol AS v FROM $table WHERE $vecCol IS NOT NULL),
       |per AS (
       |  SELECT d,
       |    CAST(SUM(CAST(floor(CAST(v[d] AS DOUBLE) * 1000000 + 0.5) / 1000000
       |             AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS m
       |  FROM nn, UNNEST(generate_series(1, $dim)) u(d)
       |  GROUP BY d),
       |cent AS (SELECT list(m ORDER BY d) AS c FROM per)
       |SELECT $idCol,
       |  list_sum(list_transform(generate_series(1, $dim), j ->
       |    (CAST(v[j] AS DOUBLE) - c[j]) * (CAST(v[j] AS DOUBLE) - c[j]))) AS dist2
       |FROM nn, cent
       |ORDER BY dist2 DESC, $idCol ASC LIMIT $k""".stripMargin
}
