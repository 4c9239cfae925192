package graft

import org.apache.spark.sql.functions._
import graft.etl.{AtomicPublish, ChangeFeed}

/** [[graft.etl.ChangeFeed]] — the post-hoc CDC diff of two immutable
  * snapshots. The oracle gate (o10_change_feed) pins the end-to-end
  * values against DuckDB; this spec pins the semantic edges the fixture
  * data can't reach: null-safe update detection, null-key behavior, the
  * empty feed, schema/key preconditions, and the version-store
  * round-trip through snapshotAt. */
class ChangeFeedSpec extends SparkSuite {
  import spark.implicits._

  private def feed(from: Seq[(Int, Option[String], Option[Long])],
                   to: Seq[(Int, Option[String], Option[Long])]) =
    ChangeFeed.diff(
      from.toDF("id", "name", "score"),
      to.toDF("id", "name", "score"),
      Seq("id"))

  test("classifies insert, delete, and update; unchanged rows emit nothing") {
    val out = feed(
      from = Seq((1, Some("a"), Some(10L)), (2, Some("b"), Some(20L)),
        (3, Some("c"), Some(30L))),
      to = Seq((1, Some("a"), Some(10L)), (2, Some("b2"), Some(20L)),
        (4, Some("d"), Some(40L))))
      .orderBy("id", "_change_type")
      .as[(Int, Option[String], Option[Long], String)].collect().toSeq
    assert(out === Seq(
      (2, Some("b2"), Some(20L), "update_postimage"),
      (2, Some("b"), Some(20L), "update_preimage"),
      (3, Some("c"), Some(30L), "delete"),
      (4, Some("d"), Some(40L), "insert")))
  }

  test("update detection is null-safe: null→value is an update, null→null is not") {
    val out = feed(
      from = Seq((1, None, Some(10L)), (2, None, None)),
      to = Seq((1, Some("x"), Some(10L)), (2, None, None)))
      .orderBy("id", "_change_type")
      .as[(Int, Option[String], Option[Long], String)].collect().toSeq
    // id=2 is identical under null-safe compare → absent from the feed
    assert(out === Seq(
      (1, Some("x"), Some(10L), "update_postimage"),
      (1, None, Some(10L), "update_preimage")))
  }

  test("identical snapshots produce an empty feed") {
    val rows = Seq((1, Some("a"), Some(1L)), (2, None, None))
    assert(feed(rows, rows).count() === 0L)
  }

  test("a null key never matches across sides: surfaces as delete+insert, not update") {
    val from = Seq((Some(1), "a"), (None, "b")).toDF("id", "name")
    val to = Seq((Some(1), "a"), (None, "b2")).toDF("id", "name")
    val out = ChangeFeed.diff(from, to, Seq("id"))
      .orderBy("_change_type")
      .as[(Option[Int], String, String)].collect().toSeq
    assert(out === Seq(
      (None, "b", "delete"), (None, "b2", "insert")))
  }

  test("key = whole row degrades to a presence-only diff: inserts and deletes, never updates") {
    val from = Seq((1, "a"), (2, "b")).toDF("id", "name")
    val to = Seq((2, "b"), (3, "c")).toDF("id", "name")
    val out = ChangeFeed.diff(from, to, Seq("id", "name"))
      .orderBy("id")
      .as[(Int, String, String)].collect().toSeq
    assert(out === Seq((1, "a", "delete"), (3, "c", "insert")))
  }

  test("requireUniqueKey fails loudly on a duplicate key; unchecked diff " +
    "row-multiplies (the documented CDC false-primary-key hazard)") {
    val from = Seq((1, "a"), (1, "a2")).toDF("id", "name") // dup key
    val to = Seq((1, "b")).toDF("id", "name")
    val e = intercept[IllegalArgumentException] {
      ChangeFeed.diff(from, to, Seq("id"), requireUniqueKey = true)
    }
    assert(e.getMessage.contains("not unique on the from side"))
    // the unchecked form multiplies: 2 from-rows × 1 to-row → 2 update
    // pairs (4 rows) — pinned so the hazard stays visible, not vague
    assert(ChangeFeed.diff(from, to, Seq("id")).count() === 4L)
    // a clean pair passes the check and diffs normally
    assert(ChangeFeed.diff(to, to, Seq("id"),
      requireUniqueKey = true).count() === 0L)
  }

  test("compose nets out the vanishing chains: insert-then-delete, revert, " +
    "delete-then-reinsert-same; update chains collapse to one pair") {
    val v1 = Seq((1, Some("a"), Some(10L)), (2, Some("b"), Some(20L)),
      (3, Some("c"), Some(30L)), (4, Some("d"), Some(40L)))
    val v2 = Seq((1, Some("a!"), Some(10L)),              // 1 updated…
      (2, Some("b"), Some(20L)),
      (4, Some("d!"), Some(41L)),                         // 4 updated (chain 1/2)
      (5, Some("born"), Some(50L)))                       // 5 inserted… (3 deleted…)
    val v3 = Seq((1, Some("a"), Some(10L)),               // …1 REVERTED
      (2, Some("b"), Some(20L)),
      (3, Some("c"), Some(30L)),                          // …3 REINSTATED verbatim
      (4, Some("d!!"), Some(42L)))                        // 4 updated again (…5 deleted)
    val composed = ChangeFeed.compose(feed(v1, v2), feed(v2, v3), Seq("id"))
      .as[(Int, Option[String], Option[Long], String)].collect().toSet
    // 1, 3, 5 net to NOTHING; 4's two updates collapse to v1→v3 images
    assert(composed === Set(
      (4, Some("d"), Some(40L), "update_preimage"),
      (4, Some("d!!"), Some(42L), "update_postimage")))
    // and the identity against the direct diff, on the same chain
    assert(composed === feed(v1, v3)
      .as[(Int, Option[String], Option[Long], String)].collect().toSet)
    // preconditions: non-feed input, schema mismatch, bad key
    val notFeed = Seq((1, "x")).toDF("id", "name")
    assert(intercept[IllegalArgumentException] {
      ChangeFeed.compose(notFeed, feed(v1, v2), Seq("id"))
    }.getMessage.contains("_change_type"))
    assert(intercept[IllegalArgumentException] {
      ChangeFeed.compose(feed(v1, v2),
        feed(v2, v3).withColumnRenamed("score", "points"), Seq("id"))
    }.getMessage.contains("schema mismatch"))
    assert(intercept[IllegalArgumentException] {
      ChangeFeed.compose(feed(v1, v2), feed(v2, v3), Seq("missing"))
    }.getMessage.contains("absent"))
  }

  test("compose preserves EVERY NULL-keyed change: two NULL-keyed rows " +
    "do not collapse into one pair, and unchanged NULL-keyed rows still " +
    "match diff's delete+insert surfacing") {
    // diff carries each NULL-keyed row as its own delete/insert (no
    // join match); a keyed GROUP BY would fold them all into ONE key.
    // Three NULL-keyed rows in a, two different ones in c — the
    // composed feed must carry all five, exactly as diff(a, c) does.
    val a = Seq((Some(1), "k"), (None, "x"), (None, "y"), (None, "z"))
      .toDF("id", "name")
    val b = Seq((Some(1), "k"), (None, "x"), (None, "w")).toDF("id", "name")
    val c = Seq((Some(1), "k!"), (None, "w"), (None, "v")).toDF("id", "name")
    val composed = ChangeFeed.compose(
      ChangeFeed.diff(a, b, Seq("id")),
      ChangeFeed.diff(b, c, Seq("id")), Seq("id"))
      .as[(Option[Int], String, String)].collect()
      .groupBy(_._3).view.mapValues(_.map(r => (r._1, r._2)).toSet).toMap
    val direct = ChangeFeed.diff(a, c, Seq("id"))
      .as[(Option[Int], String, String)].collect()
      .groupBy(_._3).view.mapValues(_.map(r => (r._1, r._2)).toSet).toMap
    assert(composed === direct, "compose must be row-for-row diff(a,c)")
    // and the NULL-keyed portion is a's rows as deletes, c's as inserts
    assert(composed("delete").filter(_._1.isEmpty) ===
      Set((None, "x"), (None, "y"), (None, "z")))
    assert(composed("insert").filter(_._1.isEmpty) ===
      Set((None, "w"), (None, "v")))
    // applying the composed feed still reconstructs c exactly
    val replayed = ChangeFeed.applyTo(a,
      ChangeFeed.compose(ChangeFeed.diff(a, b, Seq("id")),
        ChangeFeed.diff(b, c, Seq("id")), Seq("id")), Seq("id"))
      .as[(Option[Int], String)].collect().toSet
    assert(replayed === Set((Some(1), "k!"), (None, "w"), (None, "v")))
    // a 4-feed chain: each intermediate version's NULL-keyed rows
    // cancel at their seams, the net is still diff(first, last)
    val d = Seq((Some(1), "k!!"), (None, "w"), (None, "u")).toDF("id", "name")
    val e = Seq((Some(2), "k2"), (None, "u"), (None, "t"), (None, "t"))
      .toDF("id", "name")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Option[Int], String, String)].collect().sortBy(_.toString).toSeq
    val chain = Seq(a, b, c, d, e).sliding(2).map {
      case Seq(x, y) => ChangeFeed.diff(x, y, Seq("id"))
    }.toSeq
    assert(rows(ChangeFeed.composeAll(chain, Seq("id"), strict = true)) ===
      rows(ChangeFeed.diff(a, e, Seq("id"))))
    // strict rejects a broken NULL-keyed seam in the MIDDLE of the chain:
    // the third feed starts from a version whose NULL-keyed rows are not
    // the ones the second feed left
    val notC = Seq((Some(1), "k!"), (None, "w"), (None, "other")).toDF("id", "name")
    val broken = chain.updated(2, ChangeFeed.diff(notC, d, Seq("id")))
    val err = intercept[ChangeFeed.BrokenSeam] {
      ChangeFeed.composeAll(broken, Seq("id"), strict = true)
    }
    assert(err.getMessage.contains("not consecutive") &&
      err.getMessage.contains("NULL-keyed"), err.getMessage)
    assert((err.before, err.after) === ((1, 2)))
  }

  test("compose strict mode verifies consecutiveness: a broken keyed " +
    "seam and a broken NULL-keyed seam both fail loudly; a valid chain " +
    "passes") {
    val v1 = Seq((Some(1), "a"), (Some(2), "b"), (None, "n1")).toDF("id", "name")
    val v2 = Seq((Some(1), "a!"), (Some(2), "b"), (None, "n2")).toDF("id", "name")
    val v3 = Seq((Some(1), "a!!"), (None, "n2")).toDF("id", "name")
    val f12 = ChangeFeed.diff(v1, v2, Seq("id"))
    val f23 = ChangeFeed.diff(v2, v3, Seq("id"))
    // the valid chain passes strict and still equals the direct diff
    assert(ChangeFeed.compose(f12, f23, Seq("id"), strict = true)
      .as[(Option[Int], String, String)].collect().toSet ===
      ChangeFeed.diff(v1, v3, Seq("id"))
        .as[(Option[Int], String, String)].collect().toSet)
    // keyed seam violation: key 1 leaves f12 at "a!" but a mispaired
    // second feed starts it from "A?" — strict catches what lenient
    // lets corrupt silently
    val wrong = ChangeFeed.diff(
      Seq((Some(1), "A?"), (Some(2), "b")).toDF("id", "name"),
      Seq((Some(1), "zz"), (Some(2), "b")).toDF("id", "name"), Seq("id"))
    val e1 = intercept[IllegalArgumentException] {
      ChangeFeed.compose(f12, wrong, Seq("id"), strict = true)
    }
    assert(e1.getMessage.contains("not consecutive"))
    // NULL-keyed seam violation: f12 inserts (None,"n2") into B, but
    // the mispaired feed deletes a DIFFERENT NULL-keyed row
    val wrongNull = ChangeFeed.diff(
      Seq((Some(1), "a!"), (Some(2), "b"), (None, "other")).toDF("id", "name"),
      Seq((Some(1), "a!"), (Some(2), "b")).toDF("id", "name"), Seq("id"))
    val e2 = intercept[IllegalArgumentException] {
      ChangeFeed.compose(f12, wrongNull, Seq("id"), strict = true)
    }
    assert(e2.getMessage.contains("not consecutive"))
  }

  test("composeAll folds a 64-feed chain in one keyed pass to the direct " +
    "diff, strict passes on the valid chain and names the broken seam on a " +
    "shuffled one") {
    // a deterministic 65-version chain over 40 keys: key 0 is a
    // counter EVERY version bumps (so every adjacent-feed seam shares
    // a key — a swapped chain is detectable; strict's coverage is
    // inherently limited to keys touched by two feeds);
    // version j additionally renames key j%40, inserts key 1000+j and
    // deletes key 1000+j-3 (transients later net out)
    def version(i: Int): Seq[(Int, String, Long)] = {
      val baseKeys = (0 until 40).map { k =>
        if (k == 0) (0, s"counter-v$i", 0L)
        else {
          val lastTouched = (0 to i).filter(_ % 40 == k).lastOption.getOrElse(-1)
          (k, s"name-$k-v$lastTouched", k.toLong * 7)
        }
      }
      val transient = (math.max(0, i - 2) to i).map(j => (1000 + j, s"t-$j", j.toLong))
      baseKeys ++ transient
    }
    def df(i: Int) = version(i).toDF("id", "name", "score")
    // the 64 diffs are evaluated ONCE (one job) and held as stored feeds
    // — the shape a catching-up consumer holds — in two schemas: the
    // diff's own (nullable key, so the NULL-keyed strict check runs too)
    // and a NON-nullable key for the plan pin below. Each is an RDD scan:
    // the optimizer folds and prunes filters over local relations, which
    // would hide a second read of a feed from the plan pin
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val diffs = (0 until 64).map(i => ChangeFeed.diff(df(i), df(i + 1), Seq("id")))
    val rowsAt = diffs.zipWithIndex.map { case (f, i) => f.withColumn("_i", lit(i)) }
      .reduce(_ union _).collect().groupBy(_.getInt(4))
      .map { case (i, rs) => i -> rs.map(r => Row.fromSeq(r.toSeq.init)).toSeq }
    def stored(schema: StructType) = (0 until 64).map(i =>
      spark.createDataFrame(spark.sparkContext.parallelize(rowsAt.getOrElse(i, Nil), 1), schema))
    val feeds = stored(diffs.head.schema)
    val net = ChangeFeed.composeAll(feeds, Seq("id"), strict = true)
    val direct = ChangeFeed.diff(df(0), df(64), Seq("id"))
    assert(net.as[(Int, String, Long, String)].collect().toSet ===
      direct.as[(Int, String, Long, String)].collect().toSet)
    // a shuffled chain (two adjacent feeds swapped) breaks the counter's
    // seams at positions 9|10, 10|11 and 11|12 — strict fails loudly,
    // naming one of them, instead of composing garbage
    val shuffled = feeds.updated(10, feeds(11)).updated(11, feeds(10))
    val e = intercept[ChangeFeed.BrokenSeam] {
      ChangeFeed.composeAll(shuffled, Seq("id"), strict = true)
    }
    assert(e.getMessage.contains("not consecutive"))
    assert(Set((9, 10), (10, 11), (11, 12))((e.before, e.after)),
      s"unexpected seam ${e.before}|${e.after}: ${e.getMessage}")
    assert(e.getMessage.contains(s"feed ${e.before} ") &&
      e.getMessage.contains(s"feed ${e.after} "), e.getMessage)
    // singleton chain is the identity
    assert(ChangeFeed.composeAll(Seq(feeds.head), Seq("id")) eq feeds.head)
    // plan pin: the composed feed is one keyed aggregate that reads each
    // feed once — no join, exactly one key exchange and exactly N scan
    // leaves, at N = 64 the same as at N = 8 — for a NON-nullable key and
    // for the diff's nullable one, whose NULL-keyed rows ride the same
    // aggregate. The strict check is one action, and its plan is the same
    // single pass. AQE off so the trees are final.
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    val nonNullKey = stored(StructType(feeds.head.schema.map {
      case StructField("id", t, _, m) => StructField("id", t, nullable = false, m)
      case f => f
    }))
    // `global`: the check's `min` adds one single-partition exchange
    def onePass(plan: SparkPlan, n: Int, what: String, global: Boolean = false): Unit = {
      assert(plan.collect { case j: BaseJoinExec => j }.isEmpty, s"$what has a join:\n$plan")
      assert(plan.collect { case x: ShuffleExchangeExec => x.outputPartitioning match {
        case _: HashPartitioning => "key"
        case p => p.toString
      } }.sorted === (if (global) Seq("SinglePartition", "key") else Seq("key")),
        s"$what must shuffle once, on the key:\n$plan")
      assert(plan.collectLeaves().size === n, s"$what must scan its $n feeds once:\n$plan")
    }
    // the plans of the actions `body` runs, in order: listener events
    // arrive asynchronously but in order, so a fence action closes them
    val ran = new LinkedBlockingQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        ran.put(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def actionPlans(body: => Unit): Seq[SparkPlan] = {
      body
      spark.range(1).toDF("_fence").collect()
      Iterator.continually(ran.poll(60, TimeUnit.SECONDS))
        .takeWhile(p => p.output.map(_.name) != Seq("_fence")).toSeq
    }
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.listenerManager.register(listener)
    try {
      actionPlans(())
      for (chain <- Seq(nonNullKey, feeds); n <- Seq(8, 64)) {
        val what = s"N=$n ${if (chain eq feeds) "nullable" else "non-nullable"}-key"
        onePass(ChangeFeed.composeAll(chain.take(n), Seq("id"))
          .queryExecution.executedPlan, n, s"$what composed plan")
        val check = actionPlans(ChangeFeed.composeAll(chain.take(n), Seq("id"), strict = true))
        assert(check.size === 1, s"$what strict check must be one action")
        onePass(check.head, n, s"$what strict check", global = true)
      }
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
    assert(ChangeFeed.composeAll(nonNullKey, Seq("id"), strict = true)
      .as[(Int, String, Long, String)].collect().toSet ===
      direct.as[(Int, String, Long, String)].collect().toSet)
  }

  test("point-in-time reconstruction: an old snapshot plus retained " +
    "feeds replays any later version after the intermediate snapshots " +
    "are vacuumed") {
    // The retention policy ChangeFeed documents (keep feeds, vacuum
    // snapshots) as a gate: 5 published versions; a site retains v1's
    // rows plus the four feeds; vacuum reclaims v1..v3; every later
    // version is then reconstructible from the retained base by an
    // applyTo CHAIN and by ONE composed feed — both equal to the
    // direct snapshots read before vacuum.
    val root = "/root/repo/target/test-sink/changefeed_pit"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    def v(i: Int): Seq[(Int, String, Long)] =
      (0 until 30).filter(k => k % 5 != i % 5)
        .map(k => (k, s"r$k-${(0 to i).count(j => j % 3 == k % 3)}", k.toLong + i))
    val versions = (0 to 4).map { i =>
      AtomicPublish.publish(spark, root, Seq("t" -> v(i).toDF("id", "name", "score")))
    }
    val expected = versions.map(ver =>
      AtomicPublish.snapshotAt(spark, root, ver).table(spark, "t")
        .as[(Int, String, Long)].collect().toSet)
    // the retained artifacts: base rows + the four feeds, materialized
    // OUTSIDE the version store (what a replica site actually holds)
    val side = s"$root-retained"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(side))
    AtomicPublish.snapshotAt(spark, root, versions.head).table(spark, "t")
      .write.parquet(s"$side/base")
    versions.sliding(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
      ChangeFeed.between(spark, root, "t", a, b, Seq("id"))
        .write.parquet(s"$side/f$i")
    }
    // vacuum everything but the newest (keep = 1, age guard off — no
    // publisher is in flight in the test)
    val reclaimed = AtomicPublish.vacuum(spark, root, keep = 1, minAgeMs = 0)
    assert(reclaimed === versions.init.toSeq,
      s"expected v1..v3 reclaimed, got $reclaimed")
    versions.init.foreach { ver =>
      assert(intercept[IllegalArgumentException] {
        AtomicPublish.snapshotAt(spark, root, ver)
      }.getMessage.contains("not present"))
    }
    val base = spark.read.parquet(s"$side/base")
    val feeds = (0 until 4).map(i => spark.read.parquet(s"$side/f$i"))
    // applyTo chain reaches every intermediate AND the head…
    (1 to 4).foreach { k =>
      val replayed = feeds.take(k).foldLeft(base)(
        (acc, f) => ChangeFeed.applyTo(acc, f, Seq("id")))
      assert(replayed.as[(Int, String, Long)].collect().toSet === expected(k),
        s"applyTo chain diverged at version index $k")
    }
    // …and ONE composed feed jumps straight to the head
    val jumped = ChangeFeed.applyTo(base,
      ChangeFeed.composeAll(feeds, Seq("id"), strict = true), Seq("id"))
    assert(jumped.as[(Int, String, Long)].collect().toSet === expected(4))
  }

  test("preconditions fail fast: schema mismatch, missing key, empty key") {
    val a = Seq((1, "x")).toDF("id", "name")
    val b = Seq((1, "x", 2L)).toDF("id", "name", "extra")
    assert(intercept[IllegalArgumentException] {
      ChangeFeed.diff(a, b, Seq("id"))
    }.getMessage.contains("schema mismatch"))
    assert(intercept[IllegalArgumentException] {
      ChangeFeed.diff(a, a, Seq("nope"))
    }.getMessage.contains("key columns absent"))
    assert(intercept[IllegalArgumentException] {
      ChangeFeed.diff(a, a, Nil)
    }.getMessage.contains("at least one column"))
    val clash = Seq((1, "x")).toDF("id", "_change_type")
    assert(intercept[IllegalArgumentException] {
      ChangeFeed.diff(clash, clash, Seq("id"))
    }.getMessage.contains("reserved change-feed column"))
  }

  test("applyTo replays a feed exactly: apply(a, diff(a,b)) ≡ b, and " +
    "composing before applying changes nothing") {
    val v1 = Seq((1, Some("a"), Some(10L)), (2, Some("b"), Some(20L)),
      (3, Some("c"), Some(30L)))
    val v2 = Seq((1, Some("a!"), Some(11L)), (3, Some("c"), Some(30L)),
      (4, Some("d"), Some(40L)))
    val v3 = Seq((1, Some("a!"), Some(11L)), (4, Some("d!"), Some(41L)),
      (5, Some("e"), Some(50L)))
    def df(rows: Seq[(Int, Option[String], Option[Long])]) =
      rows.toDF("id", "name", "score")
    def set(d: org.apache.spark.sql.DataFrame) =
      d.as[(Int, Option[String], Option[Long])].collect().toSet
    val f12 = feed(v1, v2)
    val f23 = feed(v2, v3)
    // the replay identity
    assert(set(ChangeFeed.applyTo(df(v1), f12, Seq("id"))) === v2.toSet)
    // sequential apply walks the chain…
    val stepped = ChangeFeed.applyTo(
      ChangeFeed.applyTo(df(v1), f12, Seq("id")), f23, Seq("id"))
    assert(set(stepped) === v3.toSet)
    // …and applying the COMPOSED feed lands on the same rows
    val composed = ChangeFeed.applyTo(df(v1),
      ChangeFeed.compose(f12, f23, Seq("id")), Seq("id"))
    assert(set(composed) === v3.toSet)
    // an empty feed is the identity
    assert(set(ChangeFeed.applyTo(df(v1), feed(v1, v1), Seq("id"))) === v1.toSet)
  }

  test("applyTo matches keys null-safely: a NULL-keyed row's " +
    "delete+insert pair replays correctly") {
    val from = Seq((Some(1), "a"), (None, "b")).toDF("id", "name")
    val to = Seq((Some(1), "a"), (None, "b2")).toDF("id", "name")
    val f = ChangeFeed.diff(from, to, Seq("id"))
    val out = ChangeFeed.applyTo(from, f, Seq("id"))
      .as[(Option[Int], String)].collect().toSet
    assert(out === Set((Some(1), "a"), (None, "b2")))
  }

  test("applyTo strict mode fails loudly on a feed that does not " +
    "correspond to the base; lenient mode silently merges") {
    val right = Seq((1, "a"), (2, "b")).toDF("id", "name")
    val wrong = Seq((9, "z")).toDF("id", "name") // never saw key 1 or 2
    val f = ChangeFeed.diff(right,
      Seq((1, "a!"), (2, "b")).toDF("id", "name"), Seq("id"))
    val e = intercept[IllegalArgumentException] {
      ChangeFeed.applyTo(wrong, f, Seq("id"), strict = true)
    }
    assert(e.getMessage.contains("does not correspond"))
    // lenient: the preimage delete no-ops, the postimage still lands
    val merged = ChangeFeed.applyTo(wrong, f, Seq("id"))
      .as[(Int, String)].collect().toSet
    assert(merged === Set((9, "z"), (1, "a!")))
    // and strict passes on the base the feed was actually diffed from
    assert(ChangeFeed.applyTo(right, f, Seq("id"), strict = true)
      .count() === 2L)
  }

  test("applyTo preconditions fail fast: non-feed input, schema " +
    "mismatch, missing key") {
    val base = Seq((1, "a")).toDF("id", "name")
    assert(intercept[IllegalArgumentException] {
      ChangeFeed.applyTo(base, base, Seq("id"))
    }.getMessage.contains("_change_type"))
    val f = ChangeFeed.diff(base, Seq((1, "b")).toDF("id", "name"), Seq("id"))
    assert(intercept[IllegalArgumentException] {
      ChangeFeed.applyTo(base.withColumnRenamed("name", "label"), f, Seq("id"))
    }.getMessage.contains("schema mismatch"))
    assert(intercept[IllegalArgumentException] {
      ChangeFeed.applyTo(base, f, Seq("nope"))
    }.getMessage.contains("absent"))
  }

  test("between() reads the two RETAINED versions through snapshotAt") {
    val root = "/root/repo/target/test-sink/changefeed_between"
    new java.io.File(root).getParentFile.mkdirs()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val v1 = AtomicPublish.publish(spark, root,
      Seq("t" -> Seq((1, "a"), (2, "b")).toDF("id", "name")))
    val v2 = AtomicPublish.publish(spark, root,
      Seq("t" -> Seq((2, "b!"), (3, "c")).toDF("id", "name")))
    val out = ChangeFeed.between(spark, root, "t", v1, v2, Seq("id"))
      .orderBy("id", "_change_type")
      .as[(Int, String, String)].collect().toSeq
    assert(out === Seq(
      (1, "a", "delete"),
      (2, "b!", "update_postimage"), (2, "b", "update_preimage"),
      (3, "c", "insert")))
    // feed direction matters: reversed versions invert the classification
    val rev = ChangeFeed.between(spark, root, "t", v2, v1, Seq("id"))
      .groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(rev === Map("insert" -> 1L, "delete" -> 1L,
      "update_preimage" -> 1L, "update_postimage" -> 1L))
  }
}
