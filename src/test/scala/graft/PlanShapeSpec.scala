package graft

/** Plan-shape regression tests — the 100 TB posture (SCALE.md) encoded as
  * assertions on the physical plan, so a future change that silently
  * reintroduces a shuffle or drops a broadcast fails the build. */
class PlanShapeSpec extends SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Every battery query planned once under AQE off — its executed plan
    * and its normalized formatted text — shared by the battery sweep and
    * the snapshot guard. */
  private lazy val battery = graft.plans.PlanSnapshot.planAll(spark, sf)

  test("star join broadcasts every dimension (no shuffle on the fact side)") {
    val p = plan("j1_star_join")
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ in star join")
  }

  test("point lookup pushes the equality predicate into the parquet scan") {
    val p = plan("s4_point_lookup")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(o_orderkey,42)"),
      s"predicate not pushed:\n$p")
  }

  test("runtime-filtered dim join triggers dynamic partition pruning on the fact scan") {
    val p = plan("p7_dynamic_pruning")
    assert(p.contains("dynamicpruning"),
      s"no dynamicpruningexpression in the fact scan's partition filters:\n$p")
  }

  test("year-partitioned fact read-back prunes to partition filters, not data filters") {
    val p = plan("s7_partitioned_fact_sink")
    assert(p.contains("PartitionFilters") && p.contains("year"),
      s"no partition filter on the year-partitioned layout:\n$p")
    assert(p.contains("(year") || p.contains("year#"),
      s"year predicate missing from partition filters:\n$p")
    assert(!p.contains("PushedFilters: [IsNotNull(year"),
      s"year landed in data filters — the partition layout is not pruning:\n$p")
  }

  test("q6's range + measure predicates all reach the parquet scan") {
    val p = plan("tpch_q6_forecast")
    assert(p.contains("PushedFilters"), s"no pushdown section:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") &&
           p.contains("LessThan(l_shipdate"),
      s"shipdate range not pushed (year() wrapping would cause this):\n$p")
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)") &&
           p.contains("LessThan(l_quantity,24.0)"),
      s"measure predicates not pushed:\n$p")
  }

  test("top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("o2_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to full sort:\n$p")
  }

  test("bucketed join reads co-located buckets and elides join exchanges") {
    val p = plan("bkt_bucketed_join")
    assert(p.contains("SortMergeJoin"), "merge hint should force SMJ")
    assert(p.contains("SelectedBucketsCount: 8 out of 8"), "scans must be bucketed")
    assert(!p.contains("Exchange hashpartitioning(o_orderkey") &&
           !p.contains("Exchange hashpartitioning(l_orderkey"),
      s"bucketed join still shuffles on the join key:\n$p")
  }

  test("bucketed change-feed diff is exchange-free: two key-bucketed " +
    "snapshots diff without shuffling either side") {
    // the r14 verdict's ask: ChangeFeed's Scaladoc claims a table
    // bucketed on its key diffs exchange-free — turn the sentence into
    // a gate. Two snapshots of one logical table, both bucketed 8 ways
    // on the key; the full-outer keyed diff must ride the co-located
    // layout (its presence-flag projection must not break the scan's
    // partitioning).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val (ta, tb) = ("cf_bkt_v0", "cf_bkt_v1")
    val v0 = (1L to 1000L).map(k => (k, s"p$k", (k % 97).toDouble))
      .toDF("id", "name", "score")
    val v1 = v0.filter(col("id") % 10 =!= 3)
      .withColumn("score", when(col("id") % 10 === 4, col("score") + 0.5)
        .otherwise(col("score")))
      .union(Seq((2000L, "new", 1.0)).toDF("id", "name", "score"))
    for ((t, df) <- Seq(ta -> v0, tb -> v1)) {
      df.repartition(8, col("id"))
        .write.mode("overwrite")
        .bucketBy(8, "id").sortBy("id")
        .option("path", s"/root/repo/target/sink/$t")
        .saveAsTable(t)
    }
    val diff = graft.etl.ChangeFeed.diff(spark.table(ta), spark.table(tb),
      Seq("id"))
    val p = diff.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"keyed diff should plan a full-outer SMJ over the buckets:\n$p")
    assert(p.contains("SelectedBucketsCount: 8 out of 8"),
      s"scans must read the bucketed layout:\n$p")
    assert(!p.contains("Exchange hashpartitioning(id"),
      s"bucketed diff still shuffles on the key:\n$p")
    // and the plan is the same feed: spot-check the classification
    val counts = diff.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(counts("delete") === 100 && counts("insert") === 1 &&
      counts("update_preimage") === 100 && counts("update_postimage") === 100,
      s"unexpected feed: $counts")
  }

  test("applyTo broadcasts the feed side: the base never shuffles " +
    "(replication's no-base-shuffle claim, plan-pinned)") {
    // the r15 verdict's ask: ChangeFeed.applyTo documents "the feed
    // side of the anti join is delta-sized — it broadcasts and the
    // BASE NEVER SHUFFLES"; same promotion the bucketed diff got.
    // Representative shapes: a parquet base, a delta-sized feed read
    // from parquet (what a replica site receives), the default session
    // confs (AQE on).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = "/root/repo/target/sink/applyto_plan"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val v0 = (1L to 50000L).map(k => (k, s"n$k", (k % 997).toDouble))
      .toDF("id", "name", "score")
    v0.write.mode("overwrite").parquet(s"$dir/base")
    val v1 = v0.filter(col("id") % 1000 =!= 7)
      .withColumn("score", when(col("id") % 1000 === 8, col("score") + 0.5)
        .otherwise(col("score")))
    graft.etl.ChangeFeed.diff(v0, v1, Seq("id"))
      .write.mode("overwrite").parquet(s"$dir/feed")
    val base = spark.read.parquet(s"$dir/base")
    val feed = spark.read.parquet(s"$dir/feed")
    val applied = graft.etl.ChangeFeed.applyTo(base, feed, Seq("id"))
    // collect() (not count(), which builds its OWN query execution)
    // drives THIS plan's AdaptiveSparkPlanExec to its final form
    assert(applied.collect().length === 49950)
    val p = applied.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"feed preimages must broadcast into the base anti join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"anti join must not sort-merge (that shuffles the base):\n$p")
    assert(!p.contains("Exchange hashpartitioning(id"),
      s"the base must never shuffle on the key:\n$p")
  }

  test("optimizer rewrites a self-dot into a squared norm (SelfDotToNorm rule)") {
    graft.functions.NativeVectorExpressions.register(spark)
    val df = Tables.embeddings(spark, sf)
      .selectExpr("vec_dot(embedding, embedding) AS d")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("vec_norm2"), s"rule did not fire:\n$optimized")
    assert(!optimized.contains("vec_dot"), s"self-dot survived:\n$optimized")
    // and the rewrite is semantics-preserving
    val viaNorm = Tables.embeddings(spark, sf).selectExpr("vec_norm2(embedding) AS d")
    assert(df.collect().map(_.getDouble(0)).toSeq ===
           viaNorm.collect().map(_.getDouble(0)).toSeq)
  }

  test("flagship cube: all joins broadcast, fact spine carries exactly one exchange") {
    // Pins the regression class behind round-6's j2 slowdown: the star
    // build must stay a pure broadcast-join chain over ONE widened fact
    // scan. Asserted on the raw builder (StarSchema.build), not the
    // session-cached Shared.cube — and the cache is cleared first, or
    // Spark's cache manager would substitute a plan-equal InMemoryRelation
    // for the whole subtree and hide the join topology being pinned.
    spark.catalog.clearCache()
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val phys = graft.etl.StarSchema.build(spark, sf).cube
        .queryExecution.executedPlan
      import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
      val bhj = phys.collect { case j: BroadcastHashJoinExec => j }
      // 11 = the 7-way cube star (product, subcategory, client, date,
      // month, year, country) + the fact build's orders and customer
      // joins + the dim-side builds (dimproduct⋈subcategory,
      // dimdate⋈years), all broadcast at fixture scale.
      assert(bhj.size == 11, s"expected 11 broadcast joins, got ${bhj.size}:\n$phys")
      assert(phys.collect { case j: SortMergeJoinExec => j }.isEmpty,
        s"cube must not sort-merge:\n$phys")
      // Walk the streamed (fact) side from the root: the only shuffle on
      // that spine is factInput's fanOut rebalance. Dim-side subtrees may
      // shuffle freely (distinct/dense_rank) — they end in broadcasts.
      var node: org.apache.spark.sql.execution.SparkPlan = phys
      var exchanges = 0
      var done = false
      while (!done) {
        node match {
          case j: BroadcastHashJoinExec =>
            node = j.buildSide match {
              case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.left
              case org.apache.spark.sql.catalyst.optimizer.BuildLeft  => j.right
            }
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            exchanges += 1; node = e.child
          case l if l.children.isEmpty => done = true
          case other => node = other.children.head
        }
      }
      assert(exchanges == 1,
        s"fact spine must carry exactly the one fanOut exchange, got $exchanges:\n$phys")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q1's shipdate cutoff reaches the parquet scan and aggregation is two-phase") {
    val p = plan("tpch_q1_pricing")
    assert(p.contains("LessThanOrEqual(l_shipdate"),
      s"shipdate cutoff not pushed:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("q7's manually-implied nation filter reaches both dimension scans") {
    val p = plan("tpch_q7_volume")
    // the disjunctive pair predicate can't push through the join, but the
    // single-side In(n_name, ...) implication must land on the nation scans
    assert(p.contains("In(n_name, [NATION_1,NATION_2])"),
      s"nation pre-filter not pushed to the dim scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
  }

  test("q9's shipdate-independent dims broadcast; only the pair aggregate shuffles") {
    val p = plan("tpch_q9_profit")
    assert(p.contains("StringStartsWith(p_name,small)"),
      s"part name prefix not pushed:\n$p")
    assert(p.contains("BroadcastHashJoin"), "part/supplier/nation must broadcast")
  }

  test("runtime bloom filter injects on a selective large⋈large join") {
    // At 100 TB the fact side of a selective join should be pre-filtered
    // by a bloom filter built from the (post-filter) build side — Spark's
    // InjectRuntimeFilter does this once the sides cross its size
    // thresholds. Fixture tables sit below the defaults, so the pin
    // lowers them: what is asserted is that our join SHAPES are eligible
    // (equi-join, selective filter, no broadcast), not the thresholds.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force the large⋈large path
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, sf)
      val ord = Tables.orders(spark, sf)
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        s"runtime bloom filter did not inject on the fact side:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("dedup/ANN family never shuffles embedding or signature arrays") {
    // The round-1 regression this pins against: a distinct/join that drags
    // an array<float> embedding or array<bigint> minhash signature through
    // a hash Exchange serializes megabytes per partition for keys that fit
    // in 8 bytes. Candidate generation must shuffle IDS (+ band keys) only;
    // arrays re-attach map-side afterwards (broadcast is fine — that's the
    // deliberate small-side ship in sim1/sim2). AQE is disabled for the
    // assertion because AdaptiveSparkPlanExec hides the tree from collect.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (q <- Seq("dd2_minhash_lsh", "dd5_embedding_neardup", "sim2_ann_lsh",
                    "dd9_winnowing_containment", "dd10_incremental_lsh",
                    "dd11_semantic_dedup", "sim6_two_stage_rerank",
                    "dd12_span_coverage",
                    // sim7: codes/LUT are arrays but must stay map-side
                    // (only (id, id, long) rows reach the top-k window);
                    // mm5: payloads and their hashes never shuffle;
                    // ir4: positioned gram arrays stay in the scan
                    "sim7_pq_ann", "mm5_perceptual_hash",
                    "ir4_phrase_search")) {
        val phys = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
        val offenders = phys.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            e.output.collect {
              case a if a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] =>
                s"$q: ${a.name}: ${a.dataType.simpleString}"
            }
        }.flatten
        assert(offenders.isEmpty,
          s"array columns cross a shuffle Exchange:\n${offenders.mkString("\n")}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("incremental LSH probes the snapshot with BROADCAST batch bands") {
    // the 100 TB contract: the snapshot (huge side) must never shuffle —
    // its band rows probe a broadcast of the batch's band keys
    val p = plan("dd10_incremental_lsh")
    assert(p.contains("BroadcastHashJoin"),
      s"batch bands must broadcast into the snapshot probe:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"snapshot side must not sort-merge (it would shuffle the corpus):\n$p")
  }

  test("keyword retrieval broadcasts idf and takes top-k without a global sort") {
    // the inverted-index contract: document frequencies come back as a
    // broadcast (never a shuffle of the postings against a |terms|-row
    // table), and the final top-k is TakeOrderedAndProject (O(k) per
    // partition), not a full Sort of the scored corpus
    val phys = SparkEntry.queries("ir1_keyword_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"),
      s"idf table must broadcast-join the postings:\n$phys")
    assert(phys.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrderedAndProject, not a global sort:\n$phys")
  }

  test("battery sweep: no cartesian product, no missed broadcast, in ANY query plan") {
    // The whole-battery generalization of the per-query pins above —
    // catches the regression class the samples sample:
    //  (a) a CartesianProductExec anywhere is always a bug (the
    //      documented tiny-side attaches plan as
    //      BroadcastNestedLoopJoin over a broadcast, never cartesian);
    //  (b) a shuffle join (SMJ/SHJ) whose either side is ESTIMATED
    //      under the autoBroadcast threshold means a join that should
    //      have broadcast didn't — at fixture scale every
    //      dimension-sized side must broadcast.
    // AQE off so the physical tree is visible to collect; exemptions
    // are queries whose *subject* is the non-broadcast join itself.
    val exempt = Map(
      // merge-hinted SMJ over co-located buckets — the exchange-free
      // SMJ IS the operator under test (its own pin asserts bucketing)
      "bkt_bucketed_join" -> "deliberate merge-hinted bucketed SMJ",
      // the salting demos force the shuffle path (broadcast would
      // dissolve the skew being demonstrated)
      "skew_salted_join" -> "deliberate salted shuffle join")
    val threshold = 10L * 1024 * 1024 // the session autoBroadcast default
    val problems = scala.collection.mutable.Buffer[String]()
    import org.apache.spark.sql.execution.joins.{CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
    def minSideEstimate(l: org.apache.spark.sql.execution.SparkPlan,
                        r: org.apache.spark.sql.execution.SparkPlan): Option[BigInt] = {
      def est(p: org.apache.spark.sql.execution.SparkPlan): Option[BigInt] =
        p.logicalLink.map(_.stats.sizeInBytes)
      for (a <- est(l); b <- est(r)) yield a.min(b)
    }
    for ((name, phys, _) <- battery if !exempt.contains(name)) {
      phys.foreach {
        case _: CartesianProductExec =>
          problems += s"$name: CartesianProductExec"
        case j: SortMergeJoinExec =>
          minSideEstimate(j.left, j.right).filter(_ < threshold).foreach(sz =>
            problems += s"$name: SMJ with ${sz}B side (should broadcast)")
        case j: ShuffledHashJoinExec =>
          minSideEstimate(j.left, j.right).filter(_ < threshold).foreach(sz =>
            problems += s"$name: SHJ with ${sz}B side (should broadcast)")
        case _ =>
      }
    }
    assert(problems.isEmpty, s"plan sweep violations:\n${problems.mkString("\n")}")
  }

  test("snapshot guard: no query's join/exchange structure degraded vs committed PLANS/") {
    // The committed artifact (PLANS/<name>.txt, written by
    // `runMain graft.plans.PlanDump`) is the reviewable plan history;
    // this guard regenerates every battery plan live under the same
    // session config and fails if any query GAINED a shuffle join /
    // cartesian product / exchange relative to its snapshot — the
    // "join silently flipped broadcast→SMJ between rounds" regression
    // class. Improvements (fewer shuffle joins/exchanges) pass but are
    // reported so the snapshot gets refreshed deliberately.
    import graft.plans.PlanSnapshot
    val dir = new java.io.File("/root/repo/PLANS")
    assert(dir.isDirectory,
      "PLANS/ missing - run `sbt \"runMain graft.plans.PlanDump\"` and commit it")
    val committed = dir.listFiles().filter(_.getName.endsWith(".txt"))
      .map(f => f.getName.stripSuffix(".txt") ->
        new String(java.nio.file.Files.readAllBytes(f.toPath))).toMap
    val live = battery.map { case (name, _, text) => name -> text }.toMap
    val missing = live.keySet -- committed.keySet
    assert(missing.isEmpty,
      s"queries without a committed plan snapshot (re-run PlanDump): " +
        missing.toSeq.sorted.mkString(", "))
    val stale = committed.keySet -- live.keySet
    assert(stale.isEmpty,
      s"stale snapshots for removed queries: ${stale.toSeq.sorted.mkString(", ")}")
    val shuffleJoins = Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct")
    val problems = scala.collection.mutable.Buffer[String]()
    val improved = scala.collection.mutable.Buffer[String]()
    for (name <- live.keySet.toSeq.sorted) {
      val want = PlanSnapshot.structure(committed(name))
      val got = PlanSnapshot.structure(live(name))
      val wantSJ = shuffleJoins.map(want).sum
      val gotSJ = shuffleJoins.map(got).sum
      if (gotSJ > wantSJ)
        problems += s"$name: shuffle joins $wantSJ -> $gotSJ (broadcast flip?)"
      if (got("Exchange") > want("Exchange"))
        problems += s"$name: exchanges ${want("Exchange")} -> ${got("Exchange")}"
      if (gotSJ < wantSJ || got("Exchange") < want("Exchange"))
        improved += name
    }
    assert(problems.isEmpty,
      s"plan structure degraded vs PLANS/ snapshots:\n${problems.mkString("\n")}\n" +
        "(if intentional, re-run `sbt \"runMain graft.plans.PlanDump\"` and commit)")
    if (improved.nonEmpty)
      info(s"plans improved vs snapshot (refresh PLANS/): ${improved.mkString(", ")}")
  }

  test("incremental dedup prefilters the snapshot before any exchange; packing shuffles once on the shard") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // dd8: the snapshot side's bloom probe must sit below the exchange —
      // a plan that shuffles the raw snapshot and filters after defeats
      // the whole asymmetry (at 100 TB the snapshot IS the corpus).
      val dd8 = SparkEntry.queries("dd8_incremental_dedup")(spark, sf)
        .queryExecution.executedPlan
      // the snapshot branch is the one whose exchange moves fingerprints
      // with no id attached (the batch never shuffles at all — it feeds
      // the probe side of the broadcast join); such an exchange must have
      // the UDF probe filter somewhere below it
      val shuffledRawSnapshot = dd8.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.output.exists(_.name.startsWith("fingerprint")) &&
              !e.output.exists(_.name.startsWith("doc_id")) &&
              e.child.collectFirst {
                case f: org.apache.spark.sql.execution.FilterExec
                    if f.condition.toString.contains("UDF") => f
              }.isEmpty => e
      }
      assert(shuffledRawSnapshot.isEmpty,
        s"snapshot rows reach an exchange without the bloom prefilter:\n$dd8")

      // pk1: one hash exchange (per-shard window), no global range sort
      // inside the op itself (the query-level orderBy is presentation).
      val pk = graft.ops.Packing.packSequences(
        Tables.documents(spark, sf), "doc_id", "text", "source", 2048L)
        .queryExecution.executedPlan
      val exchanges = pk.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.size == 1 &&
          exchanges.head.outputPartitioning.toString.contains("hashpartitioning"),
        s"packing must shuffle exactly once, hash-partitioned by shard:\n$pk")

      // tx6: a pure map — no exchange at all below the op
      val tx = graft.ops.TextAnalysis.repetitionScore(
        Tables.documents(spark, sf), "doc_id", "text")
        .queryExecution.executedPlan
      assert(tx.collectFirst {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, s"repetition scoring must not shuffle:\n$tx")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}
