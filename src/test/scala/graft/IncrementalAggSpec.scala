package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.etl.{ChangeFeed, IncrementalAgg}

/** [[graft.etl.IncrementalAgg]] — the o11 gate pins maintained ≡
  * recomputed end-to-end against DuckDB; this spec pins the algebra on
  * constructed edges: group migration, group birth and death, NULL
  * groups, the zero-delta no-op, exact decimal identity on drift-prone
  * doubles, and the corrupted-feed surfacing contract. */
class IncrementalAggSpec extends SparkSuite {
  import spark.implicits._

  private val grp = Seq("g")
  private val sums = Seq("total" -> "x")

  private def state(rows: Seq[(Int, Option[String], Double)]): DataFrame =
    IncrementalAgg.aggregate(rows.toDF("id", "g", "x"), grp, sums)

  private def maintained(from: Seq[(Int, Option[String], Double)],
                         to: Seq[(Int, Option[String], Double)]): DataFrame =
    IncrementalAgg.maintain(state(from),
      ChangeFeed.diff(from.toDF("id", "g", "x"), to.toDF("id", "g", "x"),
        Seq("id")),
      grp, sums)

  private def snap(df: DataFrame): Set[(Option[String], Long, BigDecimal)] =
    df.select(col("g"), col("n"), col("total"))
      .as[(Option[String], Long, BigDecimal)].collect().toSet

  test("maintained state is IDENTICAL to a from-scratch recompute " +
    "(migration, birth, death, null group, drift-prone doubles)") {
    val from = Seq(
      (1, Some("a"), 0.1), (2, Some("a"), 0.2), (3, Some("b"), 0.3),
      (4, None, 0.7), (5, Some("dies"), 1.1))
    val to = Seq(
      (1, Some("a"), 0.1),            // untouched
      (2, Some("b"), 0.2),            // migrated a → b
      (3, Some("b"), 0.45),           // value updated in place
      (4, None, 0.8),                 // null group updated
      (6, Some("born"), 2.2))         // new row, brand-new group
    assert(snap(maintained(from, to)) === snap(state(to)))
  }

  test("an all-NULL-sum group maintains bit-identically: both paths agree " +
    "on 0 (the additive identity), not SQL's NULL-on-empty") {
    // the r14 advisory edge: SQL leaves SUM over an all-NULL group as
    // NULL, but maintain's merge adds the group identity (0) for absent
    // sides — aggregate() now normalizes both paths to coalesce(sum, 0)
    // so maintained ≡ recompute holds on nullable sum columns too
    def stateN(rows: Seq[(Int, Option[String], Option[Double])]): DataFrame =
      IncrementalAgg.aggregate(rows.toDF("id", "g", "x"), grp, sums)
    def maintainedN(from: Seq[(Int, Option[String], Option[Double])],
                    to: Seq[(Int, Option[String], Option[Double])]): DataFrame =
      IncrementalAgg.maintain(stateN(from),
        ChangeFeed.diff(from.toDF("id", "g", "x"), to.toDF("id", "g", "x"),
          Seq("id")),
        grp, sums)
    val from = Seq(
      (1, Some("allnull"), None),          // group whose every value is NULL
      (2, Some("allnull"), None),
      (3, Some("mixed"), Some(1.5)), (4, Some("mixed"), None),
      (5, Some("dies"), None))             // all-NULL group that will empty
    val to = Seq(
      (1, Some("allnull"), None),
      (2, Some("allnull"), None),          // untouched: EMPTY feed for it
      (3, Some("mixed"), Some(2.5)), (4, Some("mixed"), None),
      (6, Some("born"), None))             // brand-new group, NULL value
    assert(snap(maintainedN(from, to)) === snap(stateN(to)))
    // the all-NULL group's state is 0.000000 on BOTH paths — and an
    // empty feed leaves it byte-identical (the r14 bug: an empty feed
    // mutated NULL → 0)
    assert(snap(maintainedN(from, from)) === snap(stateN(from)))
    val allNull = stateN(from).filter(col("g") === "allnull")
      .as[(Option[String], Long, BigDecimal)].collect().toSeq
    assert(allNull === Seq((Some("allnull"), 2L, BigDecimal("0.000000"))))
  }

  test("an empty feed is a no-op: state passes through unchanged") {
    val rows = Seq((1, Some("a"), 1.5), (2, None, 2.5))
    assert(snap(maintained(rows, rows)) === snap(state(rows)))
  }

  test("decimal sums make repeated maintenance exact, not approximate") {
    // 0.1 is not representable in binary; ten float additions of 0.1
    // already differ from 1.0. Chain three maintenance steps and demand
    // BigDecimal equality with the direct aggregate.
    val v0 = (1 to 10).map(i => (i, Some("g"), 0.1))
    val v1 = v0.filterNot(_._1 == 3)
    val v2 = v1.map { case (i, g, x) => (i, g, if (i == 5) 0.3 else x) }
    val v3 = v2 :+ (11, Some("g"), 0.1)
    val s3 = IncrementalAgg.maintain(
      IncrementalAgg.maintain(
        IncrementalAgg.maintain(state(v0),
          ChangeFeed.diff(v0.toDF("id", "g", "x"), v1.toDF("id", "g", "x"), Seq("id")), grp, sums),
        ChangeFeed.diff(v1.toDF("id", "g", "x"), v2.toDF("id", "g", "x"), Seq("id")), grp, sums),
      ChangeFeed.diff(v2.toDF("id", "g", "x"), v3.toDF("id", "g", "x"), Seq("id")), grp, sums)
    assert(snap(s3) === snap(state(v3)))
  }

  test("a feed that does not match the state SURFACES as an impossible row") {
    val from = Seq((1, Some("a"), 1.0))
    val to = Seq.empty[(Int, Option[String], Double)]
    val feed = ChangeFeed.diff(from.toDF("id", "g", "x"),
      to.toDF("id", "g", "x"), Seq("id"))
    // apply the same delete feed TWICE: the second application has no
    // row left to remove — the count goes negative and must be visible,
    // not silently dropped
    val once = IncrementalAgg.maintain(state(from), feed, grp, sums)
    val twice = IncrementalAgg.maintain(
      once.select(col("g"), col("n"), col("total")), feed, grp, sums)
    val bad = twice.as[(Option[String], Long, BigDecimal)].collect().toSeq
    assert(bad === Seq((Some("a"), -1L, BigDecimal("-1.000000"))))
  }

  test("applyOnce is exactly-once: a replayed batch id is a no-op even " +
    "though the feed would corrupt the state if re-applied") {
    import graft.etl.{AtomicPublish, IncrementalAgg}
    val root = "/root/repo/target/test-sink/incagg_applyonce"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val v0 = Seq((1, Some("a"), 1.0), (2, Some("a"), 2.0), (3, Some("b"), 3.0))
    val v1 = Seq((1, Some("a"), 1.0), (3, Some("b"), 9.0))
    IncrementalAgg.publishInitial(spark, root, v0.toDF("id", "g", "x"), grp, sums)
    val feed = ChangeFeed.diff(v0.toDF("id", "g", "x"),
      v1.toDF("id", "g", "x"), Seq("id"))
    assert(IncrementalAgg.applyOnce(spark, root, feed, 0L, grp, sums))
    val after = snap(IncrementalAgg.readState(spark, root))
    assert(after === snap(state(v1)))
    // the replay: same batch id, same feed — must refuse and leave the
    // published state byte-identical (a re-application would double the
    // delete and drop group "a" entirely)
    assert(!IncrementalAgg.applyOnce(spark, root, feed, 0L, grp, sums))
    assert(snap(IncrementalAgg.readState(spark, root)) === after)
    // a NEW batch id still applies
    val v2 = v1 :+ (4, Some("c"), 4.0)
    val feed2 = ChangeFeed.diff(v1.toDF("id", "g", "x"),
      v2.toDF("id", "g", "x"), Seq("id"))
    assert(IncrementalAgg.applyOnce(spark, root, feed2, 1L, grp, sums))
    assert(snap(IncrementalAgg.readState(spark, root)) === snap(state(v2)))
  }

  test("bucketed state: a batch rewrites ONLY the buckets its delta " +
    "touches; untouched buckets carry by reference, and time travel " +
    "still reads every version's exact state") {
    import graft.etl.{AtomicPublish, IncrementalAgg}
    val root = "/root/repo/target/test-sink/incagg_buckets"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    // many groups spread over 8 buckets; the delta touches ONE group
    val v0 = (0 until 64).map(i => (i, Some(s"g$i"), i * 1.0))
    val v1 = v0.map { case (i, g, x) => if (i == 7) (i, g, 100.0) else (i, g, x) }
    IncrementalAgg.publishInitial(spark, root, v0.toDF("id", "g", "x"),
      grp, sums, numBuckets = 8)
    def manifest(): Map[Int, String] =
      AtomicPublish.snapshot(spark, root)
        .table(spark, IncrementalAgg.ManifestT)
        .collect().filter(r => r.getInt(0) >= 0 && !r.isNullAt(1))
        .map(r => r.getInt(0) -> r.getString(1)).toMap
    val refs0 = manifest()
    assert(refs0.size === 8, s"64 groups should fill all 8 buckets: $refs0")
    val feed = ChangeFeed.diff(v0.toDF("id", "g", "x"),
      v1.toDF("id", "g", "x"), Seq("id"))
    assert(IncrementalAgg.applyOnce(spark, root, feed, 0L, grp, sums))
    val refs1 = manifest()
    val changed = refs1.filter { case (b, r) => refs0(b) != r }
    assert(changed.size === 1,
      s"a one-group delta must rewrite exactly one bucket, rewrote: ${changed.keys}")
    assert((refs1 -- changed.keySet) === (refs0 -- changed.keySet),
      "untouched buckets must carry IDENTICAL refs (by reference, not rewrite)")
    // both versions still read exactly, through their manifests
    assert(snap(IncrementalAgg.readState(spark, root)) === snap(state(v1)))
    assert(snap(IncrementalAgg.readState(spark, root, version = Some(0L)))
      === snap(state(v0)))
    // a second batch touching the SAME group supersedes batch 0's
    // segment for that bucket — but the segment stays live while v1's
    // manifest (which references it) is retained
    val v2 = v1.map { case (i, g, x) => if (i == 7) (i, g, 200.0) else (i, g, x) }
    val feed2 = ChangeFeed.diff(v1.toDF("id", "g", "x"),
      v2.toDF("id", "g", "x"), Seq("id"))
    assert(IncrementalAgg.applyOnce(spark, root, feed2, 1L, grp, sums))
    assert(IncrementalAgg.vacuumSegments(spark, root, minAgeMs = 0) === Nil)
    // vacuum v0+v1 away: the initial segment stays LIVE (7 untouched
    // buckets still reference it from v2's manifest); only batch 0's
    // one-bucket segment is now unreferenced
    AtomicPublish.vacuum(spark, root, keep = 1, minAgeMs = 0)
    val reclaimed = IncrementalAgg.vacuumSegments(spark, root, minAgeMs = 0)
    assert(reclaimed === Seq(changed.head._2.split('/').head),
      s"exactly batch 0's superseded segment goes: $reclaimed")
    assert(snap(IncrementalAgg.readState(spark, root)) === snap(state(v2)),
      "current state must survive segment GC")
  }

  test("multi-view store: one feed advances EVERY view atomically — one " +
    "version per batch, cross-view consistency, exactly-once shared ledger") {
    import graft.etl.{AtomicPublish, IncrementalAgg}
    import graft.etl.IncrementalAgg.ViewSpec
    val root = "/root/repo/target/test-sink/incagg_multiview"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    // rows carry TWO grouping dimensions; each view maintains one
    val v0 = Seq((1, Some("a"), "x", 1.0), (2, Some("a"), "y", 2.0),
      (3, Some("b"), "x", 3.0), (4, None, "y", 4.0))
    val v1 = Seq((1, Some("a"), "x", 1.0), (2, Some("b"), "y", 2.0),
      (4, None, "y", 9.0), (5, Some("c"), "x", 5.0))
    def df(rows: Seq[(Int, Option[String], String, Double)]) =
      rows.toDF("id", "g", "h", "x")
    val views = Seq(
      ViewSpec("by_g", Seq("g"), Seq("total" -> "x"), numBuckets = 4),
      ViewSpec("by_h", Seq("h"), Seq("total" -> "x"), numBuckets = 4))
    val seeded = IncrementalAgg.publishInitialMulti(spark, root, df(v0), views)
    assert(seeded === 0L)
    def viewSnap(view: String): Set[Seq[Any]] =
      IncrementalAgg.readView(spark, root, view)
        .collect().map(_.toSeq).toSet
    def recompute(rows: Seq[(Int, Option[String], String, Double)],
                  grpCol: String): Set[Seq[Any]] =
      IncrementalAgg.aggregate(df(rows), Seq(grpCol), Seq("total" -> "x"))
        .collect().map(_.toSeq).toSet
    assert(viewSnap("by_g") === recompute(v0, "g"))
    assert(viewSnap("by_h") === recompute(v0, "h"))
    // ONE feed advances BOTH views in ONE committed version
    val feed = ChangeFeed.diff(df(v0), df(v1), Seq("id"))
    assert(IncrementalAgg.applyOnceMulti(spark, root, feed, 0L, views))
    assert(AtomicPublish.currentVersion(spark, root) === Some(1L),
      "one batch must commit exactly one version across all views")
    assert(viewSnap("by_g") === recompute(v1, "g"))
    assert(viewSnap("by_h") === recompute(v1, "h"))
    // cross-view time travel: version 0 still serves BOTH views' seed
    assert(IncrementalAgg.readView(spark, root, "by_g", Some(0L))
      .collect().map(_.toSeq).toSet === recompute(v0, "g"))
    // replay: the shared ledger refuses once for ALL views — neither
    // view mutates, no version is burned
    assert(!IncrementalAgg.applyOnceMulti(spark, root, feed, 0L, views))
    assert(AtomicPublish.currentVersion(spark, root) === Some(1L))
    assert(viewSnap("by_g") === recompute(v1, "g"))
    assert(viewSnap("by_h") === recompute(v1, "h"))
    // segment GC discovers every view's manifest: nothing live is lost
    AtomicPublish.vacuum(spark, root, keep = 1, minAgeMs = 0)
    IncrementalAgg.vacuumSegments(spark, root, minAgeMs = 0)
    assert(viewSnap("by_g") === recompute(v1, "g"))
    assert(viewSnap("by_h") === recompute(v1, "h"))
    // view-name hygiene fails fast
    assertThrows[IllegalArgumentException](ViewSpec("applied", Seq("g"), Nil))
    assertThrows[IllegalArgumentException](ViewSpec("bad name", Seq("g"), Nil))
    assertThrows[IllegalArgumentException](
      IncrementalAgg.publishInitialMulti(spark, root, df(v0),
        views :+ views.head))
  }

  test("feed-per-target store (applyOnceFeeds): sibling views over " +
    "DIFFERENT feeds advance under ONE ledgered commit — one version " +
    "per batch, per-target correctness, exactly-once, time travel") {
    import graft.etl.{AtomicPublish, IncrementalAgg}
    import graft.etl.IncrementalAgg.{TargetFeed, ViewSpec}
    val root = "/root/repo/target/test-sink/incagg_feeds"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    // two UNRELATED base tables, each with its own chain — exactly the
    // shape applyOnceMulti cannot host in one root (one feed per root)
    // and the o26 family gate needs six of
    val p0 = Seq((1, Some("a"), 1.0), (2, Some("a"), 2.0), (3, Some("b"), 3.0))
    val p1 = Seq((1, Some("a"), 1.0), (2, Some("b"), 2.0), (4, None, 7.0))
    val q0 = Seq((10, Some("x"), 5.0), (11, Some("y"), 6.0))
    val q1 = Seq((10, Some("x"), 5.5), (12, Some("y"), 8.0), (13, Some("z"), 9.0))
    def df(rows: Seq[(Int, Option[String], Double)]) = rows.toDF("id", "g", "x")
    val vp = ViewSpec("p_by_g", Seq("g"), Seq("total" -> "x"), numBuckets = 4)
    val vq = ViewSpec("q_by_g", Seq("g"), Seq("total" -> "x"), numBuckets = 4)
    assert(IncrementalAgg.publishInitialSeeds(spark, root, Seq(
      TargetFeed(vp, df(p0)), TargetFeed(vq, df(q0)))) === 0L)
    def viewSnap(view: String, version: Option[Long] = None): Set[Seq[Any]] =
      IncrementalAgg.readView(spark, root, view, version)
        .collect().map(_.toSeq).toSet
    def recompute(rows: Seq[(Int, Option[String], Double)]): Set[Seq[Any]] =
      IncrementalAgg.aggregate(df(rows), Seq("g"), Seq("total" -> "x"))
        .collect().map(_.toSeq).toSet
    assert(viewSnap("p_by_g") === recompute(p0))
    assert(viewSnap("q_by_g") === recompute(q0))
    // TWO feeds, ONE commit: both views advance in one version
    val feedP = ChangeFeed.diff(df(p0), df(p1), Seq("id"))
    val feedQ = ChangeFeed.diff(df(q0), df(q1), Seq("id"))
    val tf = Seq(TargetFeed(vp, feedP), TargetFeed(vq, feedQ))
    assert(IncrementalAgg.applyOnceFeeds(spark, root, 0L, tf))
    assert(AtomicPublish.currentVersion(spark, root) === Some(1L),
      "one batch over two feeds must commit exactly one version")
    assert(viewSnap("p_by_g") === recompute(p1))
    assert(viewSnap("q_by_g") === recompute(q1))
    // exactly-once: the SHARED ledger refuses the replay for both
    assert(!IncrementalAgg.applyOnceFeeds(spark, root, 0L, tf))
    assert(AtomicPublish.currentVersion(spark, root) === Some(1L))
    // cross-sibling time travel from the single version lineage
    assert(viewSnap("p_by_g", Some(0L)) === recompute(p0))
    assert(viewSnap("q_by_g", Some(0L)) === recompute(q0))
    // a frame shared BY REFERENCE between two targets is legal (probed
    // once) and both targets see it
    val root2 = "/root/repo/target/test-sink/incagg_feeds_shared"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root2))
    val sharedSeed = df(p0)
    IncrementalAgg.publishInitialSeeds(spark, root2, Seq(
      TargetFeed(vp, sharedSeed), TargetFeed(vq, sharedSeed)))
    val sharedFeed = feedP
    assert(IncrementalAgg.applyOnceFeeds(spark, root2, 7L, Seq(
      TargetFeed(vp, sharedFeed), TargetFeed(vq, sharedFeed))))
    assert(IncrementalAgg.readView(spark, root2, "p_by_g")
      .collect().map(_.toSeq).toSet === recompute(p1))
    assert(IncrementalAgg.readView(spark, root2, "q_by_g")
      .collect().map(_.toSeq).toSet === recompute(p1))
    // hygiene: duplicate target names fail fast
    assertThrows[IllegalArgumentException](
      IncrementalAgg.applyOnceFeeds(spark, root, 1L,
        Seq(TargetFeed(vp, feedP), TargetFeed(vp, feedP))))
    // segment GC still discovers every sibling's manifest
    AtomicPublish.vacuum(spark, root, keep = 1, minAgeMs = 0)
    IncrementalAgg.vacuumSegments(spark, root, minAgeMs = 0)
    assert(viewSnap("p_by_g") === recompute(p1))
    assert(viewSnap("q_by_g") === recompute(q1))
  }

  test("replica store: a row-level replica advances under feeds with " +
    "touched-bucket writes, co-advances atomically beside an aggregate " +
    "view, and strict mode rejects a mispaired feed") {
    import graft.etl.{AtomicPublish, IncrementalAgg}
    import graft.etl.IncrementalAgg.{ReplicaSpec, ViewSpec}
    val root = "/root/repo/target/test-sink/incagg_replica"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    // many keys over 8 buckets; batch 0's delta touches ONE key
    val v0 = (0 until 64).map(i => (i, Some(s"g${i % 4}"), i * 1.0))
    val v1 = v0.map { case (i, g, x) => if (i == 7) (i, g, 100.0) else (i, g, x) }
    def df(rows: Seq[(Int, Option[String], Double)]) = rows.toDF("id", "g", "x")
    val targets = Seq(
      ReplicaSpec("replica", Seq("id"), numBuckets = 8, strict = true),
      ViewSpec("by_g", Seq("g"), Seq("total" -> "x"), numBuckets = 4))
    IncrementalAgg.publishInitialMulti(spark, root, df(v0), targets)
    def replicaSnap(version: Option[Long] = None) =
      IncrementalAgg.readView(spark, root, "replica", version)
        .as[(Int, Option[String], Double)].collect().toSet
    def manifest(): Map[Int, String] =
      AtomicPublish.snapshot(spark, root)
        .table(spark, "replica_manifest")
        .collect().filter(r => r.getInt(0) >= 0 && !r.isNullAt(1))
        .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(replicaSnap() === v0.toSet)
    val refs0 = manifest()
    assert(refs0.size === 8, s"64 keys should fill all 8 buckets: $refs0")
    // ONE batch advances replica AND view in ONE committed version
    val feed = ChangeFeed.diff(df(v0), df(v1), Seq("id"))
    assert(IncrementalAgg.applyOnceMulti(spark, root, feed, 0L, targets))
    assert(AtomicPublish.currentVersion(spark, root) === Some(1L))
    assert(replicaSnap() === v1.toSet)
    assert(IncrementalAgg.readView(spark, root, "by_g")
      .collect().map(_.toSeq).toSet ===
      IncrementalAgg.aggregate(df(v1), Seq("g"), Seq("total" -> "x"))
        .collect().map(_.toSeq).toSet)
    // the one-key delta rewrote exactly one replica bucket
    val refs1 = manifest()
    val changed = refs1.filter { case (b, r) => refs0(b) != r }
    assert(changed.size === 1,
      s"a one-key delta must rewrite exactly one bucket, rewrote: ${changed.keys}")
    assert((refs1 -- changed.keySet) === (refs0 -- changed.keySet))
    // exactly-once: the replayed batch id refuses for replica and view
    assert(!IncrementalAgg.applyOnceMulti(spark, root, feed, 0L, targets))
    assert(replicaSnap() === v1.toSet)
    // time travel serves the seed verbatim
    assert(replicaSnap(Some(0L)) === v0.toSet)
    // strict replica SURFACES a mispaired feed (preimage key absent):
    // key 7 was already updated, so re-diffing v0→v1 yields a preimage
    // the replica no longer holds only if values differ — construct an
    // unambiguous orphan instead: a feed deleting a key never present
    val orphan = ChangeFeed.diff(
      Seq((999, Some("zz"), 1.0)).toDF("id", "g", "x"),
      Seq.empty[(Int, Option[String], Double)].toDF("id", "g", "x"),
      Seq("id"))
    val e = intercept[IllegalArgumentException] {
      IncrementalAgg.applyOnceMulti(spark, root, orphan, 1L, targets)
    }
    assert(e.getMessage.contains("does not correspond"))
    // the failed batch burned no version and mutated nothing
    assert(AtomicPublish.currentVersion(spark, root) === Some(1L))
    assert(replicaSnap() === v1.toSet)
    // spec hygiene: reserved names and the bucket column fail fast
    assertThrows[IllegalArgumentException](ReplicaSpec("applied", Seq("id")))
    assertThrows[IllegalArgumentException](ReplicaSpec("r", Nil))
    assertThrows[IllegalArgumentException](
      ReplicaSpec("r", Seq(IncrementalAgg.BucketCol)))
  }

  test("catch-up apply: missed batches compose into ONE maintenance round; " +
    "exactly-once survives regrouping; inconsistent chains fail loudly") {
    import graft.etl.{AtomicPublish, IncrementalAgg}
    val base = "/root/repo/target/test-sink/incagg_catchup"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val v0 = Seq((1, Some("a"), 1.0), (2, Some("a"), 2.0), (3, Some("b"), 3.0))
    val v1 = Seq((1, Some("a"), 1.0), (3, Some("b"), 9.0), (4, Some("c"), 4.0))
    val v2 = Seq((1, Some("b"), 1.5), (3, Some("b"), 9.0), (4, Some("c"), 4.0))
    val v3 = Seq((3, Some("b"), 9.0), (4, Some("c"), 5.0), (5, Some("a"), 7.0))
    val chain = Seq(v0, v1, v2, v3)
    def df(rows: Seq[(Int, Option[String], Double)]) = rows.toDF("id", "g", "x")
    val feeds = chain.sliding(2).zipWithIndex.map { case (pair, i) =>
      i.toLong -> ChangeFeed.diff(df(pair.head), df(pair.last), Seq("id"))
    }.toSeq
    // store A: batch-by-batch; store B: one catch-up round
    val (ra, rb) = (s"$base/one_by_one", s"$base/composed")
    for (r <- Seq(ra, rb))
      IncrementalAgg.publishInitial(spark, r, df(v0), grp, sums)
    feeds.foreach { case (id, f) =>
      assert(IncrementalAgg.applyOnce(spark, ra, f, id, grp, sums))
    }
    assert(IncrementalAgg.applyComposed(spark, rb, feeds, Seq("id"),
      grp, sums) === 3)
    assert(snap(IncrementalAgg.readState(spark, rb)) ===
      snap(IncrementalAgg.readState(spark, ra)))
    assert(snap(IncrementalAgg.readState(spark, rb)) === snap(state(v3)))
    // ONE version committed for all three batches on the catch-up store
    assert(AtomicPublish.currentVersion(spark, rb) === Some(1L))
    // exactly-once across regroupings: every individual batch now
    // no-ops on the catch-up store, and the whole chain re-offered is 0
    feeds.foreach { case (id, f) =>
      assert(!IncrementalAgg.applyOnce(spark, rb, f, id, grp, sums))
    }
    assert(IncrementalAgg.applyComposed(spark, rb, feeds, Seq("id"),
      grp, sums) === 0)
    // the checkpoint-replay shape: an applied PREFIX is skipped, the
    // rest applies — seed a third store, apply batch 0 alone, then
    // offer the full chain
    val rc = s"$base/prefix"
    IncrementalAgg.publishInitial(spark, rc, df(v0), grp, sums)
    assert(IncrementalAgg.applyOnce(spark, rc, feeds.head._2, 0L, grp, sums))
    assert(IncrementalAgg.applyComposed(spark, rc, feeds, Seq("id"),
      grp, sums) === 2)
    assert(snap(IncrementalAgg.readState(spark, rc)) === snap(state(v3)))
    // chain inconsistency: batch 2 applied but 1 not — offering the
    // chain must fail loudly, not re-apply or silently skip
    val rd = s"$base/stray"
    IncrementalAgg.publishInitial(spark, rd, df(v0), grp, sums)
    assert(IncrementalAgg.applyOnce(spark, rd, feeds.head._2, 0L, grp, sums))
    assert(IncrementalAgg.applyOnce(spark, rd, feeds(2)._2, 2L, grp, sums))
    assert(intercept[IllegalArgumentException] {
      IncrementalAgg.applyComposed(spark, rd, feeds, Seq("id"), grp, sums)
    }.getMessage.contains("chain inconsistency"))
  }

  test("catch-up at N = 64: the one-pass composed round equals 64 batch-level " +
    "states, commits ONE version, and a misordered chain fails loudly " +
    "under strict") {
    import graft.etl.{AtomicPublish, IncrementalAgg}
    import graft.etl.IncrementalAgg.ViewSpec
    val base = "/root/repo/target/test-sink/incagg_catchup64"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    // 65 deterministic versions over 20 keys: key 0 is a counter every
    // version bumps (seam-checkable), version j also bumps key j%20
    def v(i: Int): Seq[(Int, Option[String], Double)] =
      (0 until 20).map { k =>
        if (k == 0) (0, Some("ctr"), i.toDouble)
        else (k, Some(s"g${k % 3}"), k.toDouble + 10.0 * (1 to i).count(_ % 20 == k))
      }
    def df(rows: Seq[(Int, Option[String], Double)]) = rows.toDF("id", "g", "x")
    val feeds = (0 until 64).map(i =>
      i.toLong -> ChangeFeed.diff(df(v(i)), df(v(i + 1)), Seq("id")))
    val views = Seq(ViewSpec("state", grp, sums, numBuckets = 4))
    val root = s"$base/main"
    IncrementalAgg.publishInitialMulti(spark, root, df(v(0)), views)
    // the whole backlog lands as ONE maintenance round, ONE version
    assert(IncrementalAgg.applyComposedMulti(spark, root, feeds, Seq("id"),
      views) === 64)
    assert(AtomicPublish.currentVersion(spark, root) === Some(1L))
    assert(snap(IncrementalAgg.readState(spark, root)) === snap(state(v(64))))
    // every individual batch id is in the ledger: all replays refuse
    assert(IncrementalAgg.applyComposedMulti(spark, root, feeds, Seq("id"),
      views) === 0)
    assert(!IncrementalAgg.applyOnce(spark, root, feeds(17)._2, 17L, grp, sums))
    // a MISORDERED chain (two adjacent batches swapped) fails loudly
    // under strict instead of composing garbage into the store
    val root2 = s"$base/misordered"
    IncrementalAgg.publishInitialMulti(spark, root2, df(v(0)), views)
    // — naming the store and the batch ids on both sides of the seam
    // (the counter breaks at positions 29|30, 30|31 and 31|32, which
    // hold batches 29, 31, 30, 32 after the swap)
    val swapped = feeds.updated(30, feeds(31)).updated(31, feeds(30))
    val msg = intercept[IllegalArgumentException] {
      IncrementalAgg.applyComposedMulti(spark, root2, swapped, Seq("id"),
        views, strict = true)
    }.getMessage
    assert(msg.contains("not consecutive") && msg.contains(root2), msg)
    assert(Seq("batch 29 → batch 31", "batch 31 → batch 30",
      "batch 30 → batch 32").exists(msg.contains), msg)
    // nothing committed on the failed store
    assert(AtomicPublish.currentVersion(spark, root2) === Some(0L))
    assert(snap(IncrementalAgg.readState(spark, root2)) === snap(state(v(0))))
  }

  test("a strict catch-up over LAZY feeds reads each input row exactly once: " +
    "the composition's one aggregate is the round's cache") {
    import graft.etl.IncrementalAgg.ViewSpec
    val root = new java.io.File("target/test-sink/incagg_catchup_once").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    def v(i: Int): Seq[(Int, Option[String], Double)] =
      (0 until 30).filter(k => (k + i) % 7 != 0).map(k =>
        (k, if (k % 5 == 0) None else Some(s"g${(k + i) % 3}"), k + i.toDouble))
    def df(rows: Seq[(Int, Option[String], Double)]) = rows.toDF("id", "g", "x")
    val diffs = (0 until 6).map(i => ChangeFeed.diff(df(v(i)), df(v(i + 1)), Seq("id")))
    val inputRows = diffs.map(_.count()).sum
    // each lazy diff passes its rows through a counter on the way out
    val seen = spark.sparkContext.longAccumulator("catch-up input rows")
    val feeds = diffs.zipWithIndex.map { case (d, i) =>
      i.toLong -> d.mapPartitions(_.map { r => seen.add(1); r })(
        org.apache.spark.sql.Encoders.row(d.schema))
    }
    // two views, so a net feed read per view would show too
    val views = Seq(ViewSpec("state", grp, sums, numBuckets = 2),
      ViewSpec("by_id", Seq("id"), sums, numBuckets = 2))
    IncrementalAgg.publishInitialMulti(spark, root, df(v(0)), views)
    assert(IncrementalAgg.applyComposedMulti(spark, root, feeds, Seq("id"), views,
      strict = true) === 6)
    assert(seen.sum === inputRows,
      s"the backlog's $inputRows rows were read ${seen.sum.toDouble / inputRows} times")
    assert(snap(IncrementalAgg.readState(spark, root)) === snap(state(v(6))))
  }

  test("state manifest format versioning: current stores carry the format " +
    "row, r15-layout manifests (no row) still read, a FUTURE format fails " +
    "with an upgrade error instead of a confusing read failure") {
    import graft.etl.{AtomicPublish, IncrementalAgg}
    val root = "/root/repo/target/test-sink/incagg_format"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val v0 = Seq((1, Some("a"), 1.0), (2, Some("b"), 2.0))
    IncrementalAgg.publishInitial(spark, root, v0.toDF("id", "g", "x"), grp, sums)
    val manifestPath = s"$root/v0/${IncrementalAgg.ManifestT}"
    val rows = spark.read.parquet(manifestPath)
    assert(rows.filter(col("bucket") === -2 && col("ref") === "1").count() === 1L,
      "seeded manifest must carry format row (-2, \"1\")")
    // simulate an r15 store: rewrite the manifest WITHOUT the format row
    val legacy = rows.filter(col("bucket") =!= -2).collect()
    val tmp = s"$root-legacy-manifest"
    spark.createDataFrame(java.util.Arrays.asList(legacy: _*), rows.schema)
      .repartition(1).write.mode("overwrite").parquet(tmp)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(manifestPath))
    org.apache.commons.io.FileUtils.moveDirectory(
      new java.io.File(tmp), new java.io.File(manifestPath))
    assert(snap(IncrementalAgg.readState(spark, root)) === snap(state(v0)),
      "format-row-free (pre-r16) manifest must read unchanged")
    // and maintenance over the legacy manifest REWRITES it at the
    // current format (the upgrade is per-write, not a migration pass)
    val v1 = v0 :+ (3, Some("a"), 3.0)
    val feed = ChangeFeed.diff(v0.toDF("id", "g", "x"),
      v1.toDF("id", "g", "x"), Seq("id"))
    assert(IncrementalAgg.applyOnce(spark, root, feed, 0L, grp, sums))
    assert(spark.read.parquet(s"$root/v1/${IncrementalAgg.ManifestT}")
      .filter(col("bucket") === -2).count() === 1L)
    // a manifest claiming a NEWER format fails loudly and names the cure
    val cur = spark.read.parquet(s"$root/v1/${IncrementalAgg.ManifestT}")
      .withColumn("ref", when(col("bucket") === -2, lit("99"))
        .otherwise(col("ref"))).collect()
    val tmp2 = s"$root-future-manifest"
    spark.createDataFrame(java.util.Arrays.asList(cur: _*), rows.schema)
      .repartition(1).write.mode("overwrite").parquet(tmp2)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$root/v1/${IncrementalAgg.ManifestT}"))
    org.apache.commons.io.FileUtils.moveDirectory(
      new java.io.File(tmp2), new java.io.File(s"$root/v1/${IncrementalAgg.ManifestT}"))
    val e = intercept[IllegalArgumentException] {
      IncrementalAgg.readState(spark, root).collect()
    }
    assert(e.getMessage.contains("newer engine"))
  }

  test("the ZERO-COUNT face of feed corruption surfaces too: n = 0 with a " +
    "nonzero residual sum stays visible instead of vanishing") {
    import graft.etl.{ChangeFeed, IncrementalAgg}
    // state: group "a" holds one row of x=2.0; the (inconsistent) feed
    // deletes a row that group never contained (x=3.0) — count reaches
    // zero but the sum leaves a -1.0 residue that must not disappear
    val prev = state(Seq((1, Some("a"), 2.0)))
    val feed = ChangeFeed.diff(
      Seq((1, Some("a"), 3.0)).toDF("id", "g", "x"),
      Seq.empty[(Int, Option[String], Double)].toDF("id", "g", "x"), Seq("id"))
    val out = IncrementalAgg.maintain(prev, feed, grp, sums)
      .as[(Option[String], Long, BigDecimal)].collect().toSeq
    assert(out === Seq((Some("a"), 0L, BigDecimal("-1.000000"))))
    // a CONSISTENT emptying (same values deleted) still leaves cleanly
    val cleanFeed = ChangeFeed.diff(
      Seq((1, Some("a"), 2.0)).toDF("id", "g", "x"),
      Seq.empty[(Int, Option[String], Double)].toDF("id", "g", "x"), Seq("id"))
    assert(IncrementalAgg.maintain(prev, cleanFeed, grp, sums).count() === 0L)
  }

  test("extrema view: min/max maintain by recompute-on-invalidation — " +
    "exact across extremum deletion, duplicate extrema, migration, " +
    "group death, and NULL values") {
    import graft.etl.{AtomicPublish, IncrementalAgg}
    import graft.etl.IncrementalAgg.{ExtremaViewSpec, ReplicaSpec}
    val root = "/root/repo/target/test-sink/incagg_extrema"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    def df(rows: Seq[(Int, Option[String], Option[Double])]) =
      rows.toDF("id", "g", "x")
    val targets = Seq(
      ReplicaSpec("replica", Seq("id"), numBuckets = 8),
      ExtremaViewSpec("ext", Seq("g"),
        minCols = Seq("min_x" -> "x"), maxCols = Seq("max_x" -> "x"),
        baseReplica = "replica", numBuckets = 4))
    val v0 = Seq(
      (1, Some("a"), Some(1.0)), (2, Some("a"), Some(5.0)),
      (3, Some("a"), Some(5.0)),                    // duplicated max
      (4, Some("b"), Some(2.0)), (5, Some("b"), Some(7.0)),
      (6, None, Some(3.0)),                         // NULL group
      (7, Some("nn"), None), (8, Some("nn"), None)) // all-NULL group
    // batch 0: delete ONE copy of a's duplicated max (rescan must keep
    // 5.0 via the survivor) and b's minimum (rescan to 7.0)
    val v1 = Seq(
      (1, Some("a"), Some(1.0)), (3, Some("a"), Some(5.0)),
      (5, Some("b"), Some(7.0)),
      (6, None, Some(3.0)), (7, Some("nn"), None), (8, Some("nn"), None))
    // batch 1: fast paths — insert a new a-minimum, migrate id 5 b→a
    // (b dies by rescan, a's max rises by merge), fill one nn NULL
    val v2 = Seq(
      (1, Some("a"), Some(1.0)), (3, Some("a"), Some(5.0)),
      (9, Some("a"), Some(0.5)), (5, Some("a"), Some(7.0)),
      (6, None, Some(3.0)), (7, Some("nn"), Some(2.0)), (8, Some("nn"), None))
    // batch 2: the NULL group dies; a loses BOTH 5.0 and its max 7.0
    // in one batch (one rescan covers both deletions)
    val v3 = Seq(
      (1, Some("a"), Some(1.0)), (9, Some("a"), Some(0.5)),
      (7, Some("nn"), Some(2.0)), (8, Some("nn"), None))
    val chain = Seq(v0, v1, v2, v3)
    IncrementalAgg.publishInitialMulti(spark, root, df(v0), targets)
    def expected(rows: Seq[(Int, Option[String], Option[Double])]) =
      df(rows).groupBy("g").agg(count(lit(1)).as("n"),
        min("x").as("min_x"), max("x").as("max_x"))
        .collect().map(_.toSeq).toSet
    def actual() = IncrementalAgg.readView(spark, root, "ext")
      .collect().map(_.toSeq).toSet
    assert(actual() === expected(v0))
    chain.sliding(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
      assert(IncrementalAgg.applyOnceMulti(spark, root,
        ChangeFeed.diff(df(a), df(b), Seq("id")), i.toLong, targets))
      assert(actual() === expected(b), s"extrema diverged after batch $i")
      assert(IncrementalAgg.readView(spark, root, "replica")
        .as[(Int, Option[String], Option[Double])].collect().toSet === b.toSet,
        s"replica diverged after batch $i")
    }
    // exactly-once holds for the bundle
    assert(!IncrementalAgg.applyOnceMulti(spark, root,
      ChangeFeed.diff(df(v0), df(v1), Seq("id")), 0L, targets))
    // dependency order is enforced: the rescan base must be listed first
    assert(intercept[IllegalArgumentException] {
      IncrementalAgg.applyOnceMulti(spark, root,
        ChangeFeed.diff(df(v3), df(v0), Seq("id")), 99L, targets.reverse)
    }.getMessage.contains("listed before"))
    // spec hygiene
    assertThrows[IllegalArgumentException](
      ExtremaViewSpec("e", Seq("g"), Nil, Nil, "replica"))
    assertThrows[IllegalArgumentException](
      ExtremaViewSpec("e", Seq("g"), Seq("n" -> "x"), Nil, "replica"))
    assertThrows[IllegalArgumentException](
      ExtremaViewSpec("e", Seq("g"), Seq("y" -> "x"), Seq("y" -> "x"), "replica"))
  }

  test("vacuumSegments: an unreadable manifest on a COMMITTED version " +
    "ABORTS the pass (live segments survive a transient read failure); " +
    "an unreadable claim above the pointer is tolerated") {
    import graft.etl.{AtomicPublish, IncrementalAgg}
    val root = "/root/repo/target/test-sink/incagg_vacuum_guard"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val v0 = (0 until 32).map(i => (i, Some(s"g$i"), i * 1.0))
    val v1 = v0.map { case (i, g, x) => if (i == 3) (i, g, 99.0) else (i, g, x) }
    IncrementalAgg.publishInitial(spark, root, v0.toDF("id", "g", "x"),
      grp, sums, numBuckets = 8)
    val feed = ChangeFeed.diff(v0.toDF("id", "g", "x"),
      v1.toDF("id", "g", "x"), Seq("id"))
    assert(IncrementalAgg.applyOnce(spark, root, feed, 0L, grp, sums))
    // corrupt v0's manifest in place (a stand-in for a transient read
    // failure — the r15 advisory: treating this as "references nothing"
    // deleted segments v1 still carries by reference)
    val m0 = new java.io.File(s"$root/v0/${IncrementalAgg.ManifestT}")
    val backup = new java.io.File(s"$root/manifest-backup")
    org.apache.commons.io.FileUtils.copyDirectory(m0, backup)
    m0.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.write(f.toPath, "not a parquet file".getBytes)
    }
    val e = intercept[IllegalStateException] {
      IncrementalAgg.vacuumSegments(spark, root, minAgeMs = 0)
    }
    assert(e.getMessage.contains("COMMITTED") && e.getMessage.contains("unreadable"))
    // the abort deleted NOTHING: current state reads exactly
    assert(snap(IncrementalAgg.readState(spark, root)) === snap(state(v1)))
    // restore v0, then plant a half-written CLAIM above the pointer —
    // garbage there is the torn-write case and must be tolerated
    org.apache.commons.io.FileUtils.deleteDirectory(m0)
    org.apache.commons.io.FileUtils.moveDirectory(backup, m0)
    val claimManifest = new java.io.File(
      s"$root/v7/junk_manifest")
    claimManifest.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(claimManifest, "part-00000.parquet").toPath,
      "torn".getBytes)
    assert(IncrementalAgg.vacuumSegments(spark, root, minAgeMs = 0) === Nil,
      "claim garbage must not abort the pass, and both live segments stay")
    assert(snap(IncrementalAgg.readState(spark, root)) === snap(state(v1)))
  }

  test("preconditions fail fast: wrong state shape, non-feed input") {
    val st = state(Seq((1, Some("a"), 1.0)))
    val notFeed = Seq((1, "a")).toDF("id", "g")
    assert(intercept[IllegalArgumentException] {
      IncrementalAgg.maintain(notFeed, notFeed, grp, sums)
    }.getMessage.contains("not an aggregate state"))
    assert(intercept[IllegalArgumentException] {
      IncrementalAgg.maintain(st, notFeed, grp, sums)
    }.getMessage.contains("_change_type"))
  }

  /** Bucket dirs a DataFrame's parquet input actually opens — the
    * listing-level evidence the pruned-read gates assert on. */
  private def bucketsOpened(df: DataFrame): Set[Int] =
    df.inputFiles.flatMap { f =>
      f.split('/').find(_.startsWith(s"${IncrementalAgg.BucketCol}="))
        .map(_.stripPrefix(s"${IncrementalAgg.BucketCol}=").toInt)
    }.toSet

  test("subset-bucketed replica (bucketOn): maintenance stays exact when " +
    "the bucket column is NOT the key — including a bucket-migrating " +
    "update — and readViewPruned opens ONLY the asked values' buckets") {
    import graft.etl.IncrementalAgg
    import graft.etl.IncrementalAgg.ReplicaSpec
    val root = "/root/repo/target/test-sink/incagg_bucketon"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    def df(rows: Seq[(Int, String, Double)]) = rows.toDF("id", "g", "x")
    // 64 keys over 8 g-values; replica keyed by id, BUCKETED on g
    val v0 = (0 until 64).map(i => (i, s"g${i % 8}", i * 1.0))
    // batch 0: in-place value update (bucket unchanged) + an insert
    val v1 = v0.map { case (i, g, x) => if (i == 7) (i, g, 700.0) else (i, g, x) } :+
      ((64, "g1", 64.0))
    // batch 1: id 12 MIGRATES g4 → g0 (touches both buckets), id 3 dies
    val v2 = v1.map { case (i, g, x) => if (i == 12) (i, "g0", x) else (i, g, x) }
      .filterNot(_._1 == 3)
    val targets = Seq(ReplicaSpec("replica", Seq("id"), numBuckets = 8,
      strict = true, bucketOn = Seq("g")))
    IncrementalAgg.publishInitialMulti(spark, root, df(v0), targets)
    def replicaSnap(version: Option[Long] = None) =
      IncrementalAgg.readView(spark, root, "replica", version)
        .as[(Int, String, Double)].collect().toSet
    Seq((v0, v1), (v1, v2)).zipWithIndex.foreach { case ((a, b), i) =>
      assert(IncrementalAgg.applyOnceMulti(spark, root,
        ChangeFeed.diff(df(a), df(b), Seq("id")), i.toLong, targets))
      assert(replicaSnap() === b.toSet, s"replica diverged after batch $i")
    }
    assert(replicaSnap(Some(0L)) === v0.toSet, "time travel reads the seed")
    // THE PRUNED READ: ask for g3's rows — only g3's bucket dir opens
    val pruned = IncrementalAgg.readViewPruned(spark, root, "replica",
      Seq("g"), Seq(Seq[Any]("g3")))
    val opened = bucketsOpened(pruned)
    assert(opened.size === 1,
      s"a one-value pruned read must open one bucket dir, opened $opened")
    val allOpened = bucketsOpened(IncrementalAgg.readView(spark, root, "replica"))
    assert(allOpened.size > 1 && opened.subsetOf(allOpened),
      s"the unpruned read opens every populated bucket ($allOpened), the " +
        s"pruned one a strict subset ($opened)")
    // superset contract: the bucket holds g3's rows (plus cohabitants);
    // the caller's own filter lands exactly
    assert(pruned.filter(col("g") === "g3").as[(Int, String, Double)]
      .collect().toSet === v2.filter(_._2 == "g3").toSet)
    // two values still open at most two buckets
    assert(bucketsOpened(IncrementalAgg.readViewPruned(spark, root, "replica",
      Seq("g"), Seq(Seq[Any]("g3"), Seq[Any]("g5")))).size <= 2)
    // a forCols that is NOT the recorded layout falls back to the FULL
    // view — superset contract on any store, pruning never wrong
    assert(IncrementalAgg.readViewPruned(spark, root, "replica",
      Seq("id"), Seq(Seq[Any](3))).count() === v2.size.toLong)
    // the driver-side bucket id IS the writer's: for each bucket-column
    // type (int, bigint, string, double, and a decimal, whose hash
    // depends on the column's scale), for NULL and for a two-column
    // layout, the one bucket a stored value's read opens equals
    // pmod(hash(cols), B) as Spark evaluates it over a DataFrame
    val typedRoot = s"${root}_typed"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(typedRoot))
    val typedSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "id INT, i INT, l BIGINT, s STRING, d DOUBLE, m DECIMAL(12,2)")
    def dec(s: String) = new java.math.BigDecimal(s)
    val typedRows = Seq(
      Row(0, 0, 0L, "", 0.0, dec("0")),
      Row(1, 1, 1L, "g3", -3.25, dec("1.5")),
      Row(2, -7, -7L, "ünï", 1e300, dec("-7.25")),
      Row(3, Int.MaxValue, Long.MinValue, "x" * 40, -0.0, dec("9999999999.99")),
      Row(4, null, null, null, null, null),
      Row(5, 42, 42L, "42", Double.NaN, dec("42")))
    // an RDD source, so the expected ids come from a real evaluation,
    // not from folding over a local relation
    val typedDf = spark.createDataFrame(
      spark.sparkContext.parallelize(typedRows, 2), typedSchema)
    val layouts = Seq("by_i" -> Seq("i"), "by_l" -> Seq("l"), "by_s" -> Seq("s"),
      "by_d" -> Seq("d"), "by_m" -> Seq("m"), "by_si" -> Seq("s", "i"))
    IncrementalAgg.publishInitialMulti(spark, typedRoot, typedDf, layouts.map {
      case (n, cols) => ReplicaSpec(n, Seq("id"), numBuckets = 8, bucketOn = cols)
    })
    val expected = typedDf.select(col("id") +: layouts.map { case (n, cols) =>
      pmod(hash(cols.map(col): _*), lit(8)).as(n)
    }: _*).collect().map(r => r.getInt(0) -> r).toMap
    for (r <- typedRows; ((n, cols), j) <- layouts.zipWithIndex) {
      val v = cols.map(c => r.get(typedSchema.fieldIndex(c)))
      assert(bucketsOpened(IncrementalAgg.readViewPruned(spark, typedRoot, n,
        cols, Seq(v))) === Set(expected(r.getInt(0)).getInt(j + 1)),
        s"$n: the pruned read of $v opened another bucket than the writer's")
    }
    // a wrongly-TYPED value fails loudly instead of pruning wrong: an
    // Int for a string column, and an Int for a bigint one
    assertThrows[Exception](IncrementalAgg.readViewPruned(spark, root,
      "replica", Seq("g"), Seq(Seq[Any](42))).count())
    assertThrows[Exception](IncrementalAgg.readViewPruned(spark, typedRoot,
      "by_l", Seq("l"), Seq(Seq[Any](42))).count())
    // hygiene: bucketOn must name replica columns
    assertThrows[IllegalArgumentException](
      IncrementalAgg.publishInitialMulti(spark, root, df(v0),
        Seq(ReplicaSpec("r2", Seq("id"), bucketOn = Seq("nope")))))
  }

  test("subset-bucketed aggregate view (ViewSpec.bucketOn): a (g, h) view " +
    "bucketed on g alone maintains exactly and point-reads one g's " +
    "aggregates from one bucket") {
    import graft.etl.IncrementalAgg
    import graft.etl.IncrementalAgg.ViewSpec
    val root = "/root/repo/target/test-sink/incagg_view_bucketon"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    def df(rows: Seq[(Int, String, String, Double)]) =
      rows.toDF("id", "g", "h", "x")
    val v0 = (0 until 96).map(i => (i, s"g${i % 8}", s"h${i % 3}", i * 1.0))
    // batch: one value update, one (g,h) group death, one group birth
    // in a brand-new g
    val v1 = v0.map { case (i, g, h, x) => if (i == 5) (i, g, h, 500.0) else (i, g, h, x) }
      .filterNot { case (i, _, _, _) => i % 24 == 1 } :+ ((96, "g8", "h0", 9.0))
    val targets = Seq(ViewSpec("by_gh", Seq("g", "h"),
      Seq("total" -> "x"), numBuckets = 8, bucketOn = Seq("g")))
    IncrementalAgg.publishInitialMulti(spark, root, df(v0), targets)
    assert(IncrementalAgg.applyOnceMulti(spark, root,
      ChangeFeed.diff(df(v0), df(v1), Seq("id")), 0L, targets))
    def recompute(rows: Seq[(Int, String, String, Double)]) =
      IncrementalAgg.aggregate(df(rows), Seq("g", "h"), Seq("total" -> "x"))
        .collect().map(_.toSeq).toSet
    assert(IncrementalAgg.readView(spark, root, "by_gh")
      .collect().map(_.toSeq).toSet === recompute(v1))
    assert(IncrementalAgg.readView(spark, root, "by_gh", Some(0L))
      .collect().map(_.toSeq).toSet === recompute(v0))
    // the point read: one g's (g, h) aggregate rows from ONE bucket
    val pruned = IncrementalAgg.readViewPruned(spark, root, "by_gh",
      Seq("g"), Seq(Seq[Any]("g2")))
    assert(bucketsOpened(pruned).size === 1,
      s"one g must read one bucket, read ${bucketsOpened(pruned)}")
    assert(pruned.filter(col("g") === "g2").collect().map(_.toSeq).toSet ===
      recompute(v1).filter(_.head == "g2"))
    // hygiene: bucketOn outside groupCols fails at construction
    assertThrows[IllegalArgumentException](
      ViewSpec("v", Seq("g"), Nil, bucketOn = Seq("x")))
  }

  test("derived target: recomputed from its sibling's post-batch state " +
    "and committed in the SAME version — stats equal a recompute at every " +
    "version, including through catch-up composition") {
    import graft.etl.{AtomicPublish, IncrementalAgg}
    import graft.etl.IncrementalAgg.{DerivedSpec, ViewSpec}
    val root = "/root/repo/target/test-sink/incagg_derived"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    def df(rows: Seq[(Int, Option[String], Double)]) = rows.toDF("id", "g", "x")
    val byG = ViewSpec("by_g", Seq("g"), Seq("total" -> "x"), numBuckets = 4)
    val targets = Seq(byG,
      DerivedSpec("stats", byG, st =>
        st.agg(count(lit(1)).as("n_groups"), sum(col("total")).as("grand"))))
    val v0 = Seq((1, Some("a"), 1.0), (2, Some("a"), 2.0), (3, Some("b"), 3.0))
    val v1 = Seq((1, Some("a"), 1.0), (3, Some("b"), 9.0), (4, Some("c"), 4.0))
    val v2 = Seq((3, Some("b"), 9.0), (4, Some("c"), 5.0), (5, None, 1.0))
    val v3 = Seq((4, Some("c"), 5.0), (5, None, 2.0))
    val chain = Seq(v0, v1, v2, v3)
    IncrementalAgg.publishInitialMulti(spark, root, df(v0), targets)
    assert(IncrementalAgg.applyOnceMulti(spark, root,
      ChangeFeed.diff(df(v0), df(v1), Seq("id")), 0L, targets))
    // catch-up: two missed batches compose into ONE round; the derived
    // target recomputes from the composed post-batch sibling state
    assert(IncrementalAgg.applyComposedMulti(spark, root,
      Seq(1L -> ChangeFeed.diff(df(v1), df(v2), Seq("id")),
        2L -> ChangeFeed.diff(df(v2), df(v3), Seq("id"))),
      Seq("id"), targets, strict = true) === 2)
    // at EVERY retained version: stats ≡ recompute over that version's
    // sibling state (versions 0, 1, 2 — catch-up committed ONE version)
    assert(AtomicPublish.currentVersion(spark, root) === Some(2L))
    Seq(0L, 1L, 2L).foreach { v =>
      val fromView = IncrementalAgg.readView(spark, root, "by_g", Some(v))
        .agg(count(lit(1)).as("n_groups"), sum(col("total")).as("grand"))
        .collect().map(_.toSeq).toSeq
      val stats = IncrementalAgg.readView(spark, root, "stats", Some(v))
        .collect().map(_.toSeq).toSeq
      assert(stats === fromView, s"derived stats diverged at version $v")
    }
    // replay refuses for the whole bundle
    assert(!IncrementalAgg.applyOnceMulti(spark, root,
      ChangeFeed.diff(df(v0), df(v1), Seq("id")), 0L, targets))
    // dependency order enforced, like the extrema rescan
    assert(intercept[IllegalArgumentException] {
      IncrementalAgg.applyOnceMulti(spark, root,
        ChangeFeed.diff(df(v3), df(v0), Seq("id")), 99L, targets.reverse)
    }.getMessage.contains("listed before"))
  }

  test("extrema rescan PRUNES to the invalidated groups' buckets when the " +
    "replica is co-bucketed on the group columns — same answers, a " +
    "fraction of the replica read") {
    import graft.etl.IncrementalAgg
    import graft.etl.IncrementalAgg.{ExtremaViewSpec, ReplicaSpec}
    def df(rows: Seq[(Int, String, Double)]) = rows.toDF("id", "g", "x")
    // 64 groups × 16 rows over 32 replica buckets; ONE group loses its
    // minimum → exactly one group rescans
    val v0 = (0 until 1024).map(i => (i, s"g${i % 64}", (i / 64) + (i % 64) * 0.01))
    val v1 = v0.filterNot { case (_, g, x) => g == "g7" && x < 1.0 }
    def run(bucketOn: Seq[String], tag: String): (Set[Seq[Any]], Long) = {
      val root = s"/root/repo/target/test-sink/incagg_extprune_$tag"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val targets = Seq(
        ReplicaSpec("replica", Seq("id"), numBuckets = 32, bucketOn = bucketOn),
        ExtremaViewSpec("ext", Seq("g"),
          minCols = Seq("min_x" -> "x"), maxCols = Seq("max_x" -> "x"),
          baseReplica = "replica", numBuckets = 8))
      IncrementalAgg.publishInitialMulti(spark, root, df(v0), targets)
      val bytes = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) bytes.addAndGet(m.inputMetrics.bytesRead): Unit
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        assert(IncrementalAgg.applyOnceMulti(spark, root,
          ChangeFeed.diff(df(v0), df(v1), Seq("id")), 0L, targets))
        // listener delivery is async: poll until the counter stabilizes
        var last = -1L
        var settle = 0
        while (settle < 3) {
          Thread.sleep(150)
          val now = bytes.get()
          if (now == last) settle += 1 else { settle = 0; last = now }
        }
      } finally spark.sparkContext.removeSparkListener(listener)
      (IncrementalAgg.readView(spark, root, "ext")
        .collect().map(_.toSeq).toSet, bytes.get())
    }
    val (keyed, keyedBytes) = run(Nil, "keyed")       // rescan = full replica
    val (grouped, groupedBytes) = run(Seq("g"), "grp") // rescan = 1 bucket
    val expected = df(v1).groupBy("g").agg(count(lit(1)).as("n"),
      min("x").as("min_x"), max("x").as("max_x"))
      .collect().map(_.toSeq).toSet
    assert(keyed === expected && grouped === expected,
      "both replica layouts must maintain identical extrema")
    assert(groupedBytes < keyedBytes,
      s"co-bucketed rescan must read less: $groupedBytes vs $keyedBytes")
    info(s"rescan batch bytesRead: keyed layout $keyedBytes, " +
      s"group-bucketed $groupedBytes " +
      f"(${groupedBytes.toDouble / keyedBytes}%.2fx)")
  }

  test("top-k view: per-group leaderboards maintain by merge-on-insert / " +
    "rescan-on-dangerous-delete — exact across member deletion, " +
    "non-member deletion, ties, NULL sort values, under-k groups, " +
    "migration, and group death") {
    import graft.etl.IncrementalAgg
    import graft.etl.IncrementalAgg.{ReplicaSpec, TopKViewSpec}
    val root = "/root/repo/target/test-sink/incagg_topk"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    def df(rows: Seq[(Int, Option[String], Option[Double])]) =
      rows.toDF("id", "g", "x")
    val targets = Seq(
      // co-bucketed on the group column: the dangerous-delete rescans
      // below run bucket-pruned
      ReplicaSpec("replica", Seq("id"), numBuckets = 8, bucketOn = Seq("g")),
      TopKViewSpec("top", Seq("g"), sortCol = "x", ascending = false, k = 2,
        keyCols = Seq("id"), baseReplica = "replica", numBuckets = 4))
    val v0 = Seq(
      (1, Some("a"), Some(9.0)), (2, Some("a"), Some(7.0)),
      (3, Some("a"), Some(5.0)), (4, Some("a"), Some(7.0)), // tie with id 2
      (5, Some("b"), Some(3.0)),                            // under-k group
      (6, None, Some(4.0)), (7, None, Some(2.0)),           // NULL group
      (8, Some("n"), None), (9, Some("n"), Some(1.0)))      // NULL sort value
    // batch 0: delete a NON-member of a (id 3, worse than the boundary
    // — fast path); insert a new best into b (merge); delete the NULL
    // group's member id 6 (dangerous — rescan)
    val v1 = Seq(
      (1, Some("a"), Some(9.0)), (2, Some("a"), Some(7.0)),
      (4, Some("a"), Some(7.0)),
      (5, Some("b"), Some(3.0)), (10, Some("b"), Some(8.0)),
      (7, None, Some(2.0)),
      (8, Some("n"), None), (9, Some("n"), Some(1.0)))
    // batch 1: delete a's CURRENT BEST (rescan — id 4 must re-enter by
    // tiebreak order); migrate b's best to group a (both groups
    // change); group n loses its NULL-valued row
    val v2 = Seq(
      (2, Some("a"), Some(7.0)), (4, Some("a"), Some(7.0)),
      (10, Some("a"), Some(8.0)),
      (5, Some("b"), Some(3.0)),
      (7, None, Some(2.0)),
      (9, Some("n"), Some(1.0)))
    // batch 2: group b DIES; an update lifts a non-member past the
    // boundary (id 9 group n is sole member — trivial); empty a of all
    // but one
    val v3 = Seq(
      (2, Some("a"), Some(7.0)),
      (7, None, Some(2.0)),
      (9, Some("n"), Some(6.0)))
    val chain = Seq(v0, v1, v2, v3)
    def recompute(rows: Seq[(Int, Option[String], Option[Double])]) = {
      import org.apache.spark.sql.expressions.Window
      df(rows).withColumn("_rk", row_number().over(
          Window.partitionBy("g")
            .orderBy(col("x").desc_nulls_last, col("id").asc)))
        .filter(col("_rk") <= 2)
        .select(col("g"), col("id"), col("x"))
        .collect().map(_.toSeq).toSet
    }
    def actual() = IncrementalAgg.readView(spark, root, "top")
      .collect().map(_.toSeq).toSet
    IncrementalAgg.publishInitialMulti(spark, root, df(v0), targets)
    assert(actual() === recompute(v0))
    chain.sliding(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
      assert(IncrementalAgg.applyOnceMulti(spark, root,
        ChangeFeed.diff(df(a), df(b), Seq("id")), i.toLong, targets))
      assert(actual() === recompute(b), s"top-k diverged after batch $i")
    }
    // time travel reads each version's own leaderboard
    assert(IncrementalAgg.readView(spark, root, "top", Some(0L))
      .collect().map(_.toSeq).toSet === recompute(v0))
    // randomized differential: 60 rows over 4 groups, 3 random-ish
    // mutation batches (value churn, deletes, inserts), maintained ≡
    // recomputed after every batch
    val rnd = new scala.util.Random(17)
    var cur = (0 until 60).map(i =>
      (i, Some(s"g${i % 4}"): Option[String],
        if (i % 13 == 0) None: Option[Double] else Some(rnd.nextInt(50) * 1.0)))
    val root2 = "/root/repo/target/test-sink/incagg_topk_rand"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root2))
    IncrementalAgg.publishInitialMulti(spark, root2, df(cur), targets)
    (0 until 3).foreach { b =>
      val next = cur
        .filterNot(_._1 % 7 == b % 7)
        .map { case (i, g, x) =>
          if (i % 5 == b % 5) (i, Some(s"g${(i + 1) % 4}"): Option[String],
            x.map(_ + rnd.nextInt(20) - 10))
          else (i, g, x)
        } ++ (0 until 4).map(j => (100 + b * 10 + j,
          Some(s"g$j"): Option[String], Some(rnd.nextInt(60) * 1.0): Option[Double]))
      assert(IncrementalAgg.applyOnceMulti(spark, root2,
        ChangeFeed.diff(df(cur), df(next), Seq("id")), b.toLong, targets))
      assert(IncrementalAgg.readView(spark, root2, "top")
        .collect().map(_.toSeq).toSet === recompute(next),
        s"random top-k diverged after batch $b")
      cur = next
    }
    // hygiene
    assertThrows[IllegalArgumentException](
      TopKViewSpec("t", Seq("g"), "x", ascending = false, k = 0,
        Seq("id"), "replica"))
    assertThrows[IllegalArgumentException](
      TopKViewSpec("t", Seq("g"), "x", ascending = false, k = 2,
        Nil, "replica"))
  }

  test("mid-stream segment GC: vacuuming every Nth batch of a LIVE " +
    "stream keeps the state exact and the segment count bounded") {
    import graft.etl.{AtomicPublish, IncrementalAgg}
    import graft.streaming.Streams
    val root = "/root/repo/target/test-sink/incagg_gc_stream"
    val feedDir = "/root/repo/target/test-sink/incagg_gc_feeds"
    Seq(root, feedDir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    def df(rows: Seq[(Int, Option[String], Double)]) = rows.toDF("id", "g", "x")
    // 7 versions → 6 feed files, one admitted per trigger
    val versions = (0 to 6).map(v =>
      (0 until 48).map(i => (i, Some(s"g${i % 6}"),
        if (i % 7 == v % 7) i * 10.0 + v else i * 1.0)))
    versions.sliding(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
      ChangeFeed.diff(df(a), df(b), Seq("id"))
        .repartition(1).write.mode("overwrite").parquet(f"$feedDir/f$i%02d")
    }
    IncrementalAgg.publishInitial(spark, root, df(versions.head), grp, sums,
      numBuckets = 8)
    def segCount(): Int = Option(new java.io.File(s"$root/state_segments")
      .listFiles()).map(_.count(_.isDirectory)).getOrElse(0)
    val feedSchema = df(versions.head).schema
      .add("_change_type", "string", nullable = false)
    val stream = spark.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$feedDir/*")
    val counts = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    Streams.runIngest(spark, stream,
      s"${Streams.ephemeralChkRoot}/incagg_gc_stream") { (batch, batchId) =>
      if (!batch.isEmpty &&
          IncrementalAgg.applyOnce(spark, root, batch, batchId, grp, sums) &&
          batchId % 2 == 1) {
        // the ops cadence the StreamingOps template documents: GC runs
        // INSIDE the live stream, every Nth batch. minAgeMs = 0 is safe
        // because this consumer is the store's only publisher.
        AtomicPublish.vacuum(spark, root, keep = 2, minAgeMs = 0)
        IncrementalAgg.vacuumSegments(spark, root, minAgeMs = 0): Unit
      }
      counts += ((batchId, segCount()))
    }
    assert(counts.size === 6, s"expected 6 micro-batches, saw $counts")
    // state is exact after GC-interleaved ingest
    assert(snap(IncrementalAgg.readState(spark, root))
      === snap(state(versions.last)))
    // and bounded: each batch adds ONE segment; GC at keep=2 holds the
    // retained set near (2 versions × ≤8 buckets referenced) — without
    // mid-stream GC the count would grow monotonically to 7
    val finalCount = counts.last._2
    assert(finalCount <= 5,
      s"segment count must stay bounded under mid-stream GC: $counts")
    assert(counts.map(_._2).max <= 7, s"unbounded growth mid-stream: $counts")
  }
}
