package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Post-hoc CHANGE FEED between two committed versions of a published
  * table — "what did batch N change?", answered from the immutable
  * snapshots themselves, with no CDC bookkeeping at write time.
  *
  * The reference's MySQL warehouse answers this with binlog/CDC tooling;
  * lakehouse formats answer it with a change-data-feed the WRITER must
  * emit (Delta CDF's `_change_type` columns, Iceberg's changelog scans).
  * On [[AtomicPublish]]'s versioned layout neither is needed: version
  * directories are immutable once committed and vacuum is the only
  * deleter, so the exact row-level delta between ANY two retained
  * versions is computable after the fact — one full-outer join on the
  * table's key, classified into the standard four change types:
  *
  *   - `insert`            — key present only in the newer version
  *   - `delete`            — key present only in the older version
  *   - `update_preimage`   — key in both, any non-key column differs
  *                           (null-safely): the OLD row
  *   - `update_postimage`  — ditto: the NEW row
  *
  * Unchanged rows produce nothing, so the feed is sized by the true
  * delta, not the table.
  *
  * Contract: `key` must uniquely identify a row WITHIN each version (the
  * table's primary key — the same precondition every CDC format carries).
  * Rows whose key columns contain NULL never match across sides (SQL
  * join semantics) and therefore surface as a delete+insert pair rather
  * than an update — same as Delta CDF, documented rather than hidden.
  *
  * Scale: one shuffle on `key` per side (the information-theoretic floor
  * for a keyed diff — every row's fate depends on its key's presence on
  * the other side), then a streaming merge-join; nothing is collected,
  * nothing is all-pairs. A table bucketed or range-laid-out on its key
  * diffs exchange-free — plan-pinned, not just asserted:
  * PlanShapeSpec's "bucketed change-feed diff is exchange-free" gate
  * diffs two key-bucketed snapshots and fails on any Exchange over the
  * key. The change-type classification and the null-safe
  * column comparison are codegen'd expressions (struct `<=>`). A keyless
  * multiset diff, when a table has no primary key, is the existing
  * composition `to.exceptAll(from)` / `from.exceptAll(to)` (E1's
  * operator) and deliberately not duplicated here.
  */
object ChangeFeed {

  /** Row-level changes turning `from` into `to`, classified per the
    * table above. Output schema: `key ++ nonKey` columns in `to`'s
    * order, plus `_change_type` last. Both inputs must share one
    * schema; `key` must be a per-side unique key.
    *
    * A VIOLATED uniqueness precondition row-multiplies the outer join
    * (a key with n `from` rows and m `to` rows emits up to n×m change
    * pairs) — the same corruption every CDC format exhibits on a false
    * primary key. Callers diffing tables whose key is enforced
    * upstream pay nothing; callers that cannot trust the key pass
    * `requireUniqueKey = true` to fail loudly instead (one extra
    * aggregate per side — a key-shuffle-sized check, worth it exactly
    * when the key is unverified). */
  def diff(from: DataFrame, to: DataFrame, key: Seq[String],
           requireUniqueKey: Boolean = false): DataFrame = {
    if (requireUniqueKey) {
      Seq("from" -> from, "to" -> to).foreach { case (side, df) =>
        val dup = df.groupBy(key.map(col): _*)
          .agg(count(lit(1)).as("_cf_n")).filter(col("_cf_n") > 1)
          .limit(1).collect()
        require(dup.isEmpty,
          s"change-feed key (${key.mkString(",")}) is not unique on the " +
            s"$side side: e.g. ${dup.head.toSeq.init.mkString(",")} appears " +
            s"${dup.head.getAs[Long]("_cf_n")} times")
      }
    }
    diffUnchecked(from, to, key)
  }

  private def diffUnchecked(from: DataFrame, to: DataFrame,
                            key: Seq[String]): DataFrame = {
    require(key.nonEmpty, "change-feed key must name at least one column")
    require(from.columns.sorted.sameElements(to.columns.sorted),
      s"schema mismatch: from=${from.columns.sorted.mkString(",")} " +
        s"to=${to.columns.sorted.mkString(",")}")
    val missing = key.filterNot(to.columns.contains)
    require(missing.isEmpty, s"key columns absent from table: ${missing.mkString(",")}")
    val reserved = Seq("_cf_present", "_change_type").filter(to.columns.contains)
    require(reserved.isEmpty,
      s"table uses reserved change-feed column name(s): ${reserved.mkString(",")}")
    val cols = to.columns.toSeq
    val nonKey = cols.filterNot(key.contains)
    // Presence flags survive the outer join even when every data column
    // of a side is NULL (a key column could legitimately be NULL-free
    // only by convention; the flag makes absence unambiguous).
    val f = from.withColumn("_cf_present", lit(true)).as("f")
    val t = to.withColumn("_cf_present", lit(true)).as("t")
    val joinCond = key.map(k => col(s"f.$k") === col(s"t.$k")).reduce(_ && _)
    val fPresent = col("f._cf_present").isNotNull
    val tPresent = col("t._cf_present").isNotNull
    def row(side: String, changeType: String): Column =
      struct(cols.map(c => col(s"$side.$c").as(c)) :+
        lit(changeType).as("_change_type"): _*)
    // Null-safe "any non-key column differs": struct <=> struct compares
    // field-wise with NULL == NULL, exactly the update predicate. When
    // the key IS the whole row (presence-only diff) a key present on
    // both sides is unchanged by definition — inserts and deletes only.
    val sameValues =
      if (nonKey.isEmpty) lit(true)
      else struct(nonKey.map(c => col(s"f.$c")): _*) <=>
        struct(nonKey.map(c => col(s"t.$c")): _*)
    f.join(t, joinCond, "full_outer")
      // both-present-and-identical rows leave the feed BEFORE the
      // explode, so every surviving row emits 1 or 2 change rows
      .filter(!fPresent || !tPresent || !sameValues)
      .select(explode(
        when(!fPresent, array(row("t", "insert")))
          .when(!tPresent, array(row("f", "delete")))
          .otherwise(array(row("f", "update_preimage"),
            row("t", "update_postimage")))).as("_r"))
      .select(col("_r.*"))
  }

  /** COMPOSE two consecutive feeds: the net row-level changes A→C from
    * the feeds of A→B and B→C, without touching either snapshot — the
    * two-feed case of [[composeAll]], which holds the construction and
    * its contract. Identity (differential-tested on random version
    * chains): `compose(diff(a,b), diff(b,c), k)` is row-for-row
    * `diff(a,c, k)`. */
  def compose(ab: DataFrame, bc: DataFrame, key: Seq[String],
              strict: Boolean = false): DataFrame =
    composeAll(Seq(ab, bc), key, strict)

  /** Thrown by a strict [[composeAll]]: the feeds at chain positions
    * `before` and `after` (0-based, `before < after`) are not
    * consecutive — `after` does not start from the state `before` left.
    * The positions let a caller name its own batches. */
  final class BrokenSeam(message: String, val before: Int, val after: Int)
    extends IllegalArgumentException(message)

  /** Fold a CHAIN of consecutive feeds into the net feed — the algebra
    * behind CDC topic/ledger compaction (Kafka log compaction, Debezium
    * event folding): a consumer that fell N batches behind applies ONE
    * composed feed instead of N, and the composed feed is sized by the
    * NET delta (a row inserted then deleted vanishes; a row changed then
    * reverted vanishes; a chain of updates collapses to one
    * preimage/postimage pair). Identity (differential-tested):
    * `composeAll(diff(v0,v1) … diff(vN−1,vN), k)` is row-for-row
    * `diff(v0, vN, k)`. Since [[IncrementalAgg.maintain]] consumes
    * exactly this shape, maintenance over the composed feed equals
    * maintenance over the chain — N batches of MV work collapse with it.
    *
    * Construction: ONE keyed aggregate, whatever N is. Every feed row
    * is tagged with its feed's chain position and its rank within the
    * feed (pre-image rows — delete, update_preimage — before post-image
    * rows — insert, update_postimage), the tagged feeds are unioned, and
    * the union is grouped by key. The net from-image is the pre-image of
    * the key's EARLIEST touching row (none if that row is an insert, the
    * key was born in the chain); the net to-image is the post-image of
    * its LATEST touching row (none if that row is a delete). `min`/`max`
    * over `struct(position, rank, image)` pick both without a join.
    * Equal from- and to-images (born-then-died, changed-then-reverted)
    * emit nothing — exactly diff's verdict.
    *
    * Rows with NULL key columns never match across [[diff]]'s join, so
    * a feed carries each as its own delete/insert row, which a group by
    * key alone would collapse into ONE pair. NULL-keyed rows are
    * therefore grouped by their whole image too, each distinct row a
    * multiset of its own: its net is its copies in v0 (the first feed's
    * deletes) and in vN (the last feed's inserts), while every
    * intermediate version's copies cancel (inserted by one feed,
    * deleted by the next) — the row-for-row `diff(v0, vN)` identity
    * again. The emitted image comes from the aggregate over the rows,
    * not from the grouping key, which Spark normalizes (-0.0, NaN).
    *
    * Preconditions: every input is a [[diff]] output over the same
    * schema and key, in chain order, and CONSECUTIVE (feed i's `to`
    * side is feed i+1's `from` side). By default violations surface as
    * impossible rows downstream (the same contract as maintain's
    * corrupted-feed surfacing); callers that cannot trust the chain
    * pass `strict = true` to fail loudly instead with a [[BrokenSeam]]
    * naming the offending key or NULL-keyed row and the two feed
    * positions. Strict keeps each group's touches, sorted by (position,
    * rank), in the same aggregate: every adjacent pair of a key's
    * touches from different feeds must chain (the earlier feed's
    * post-image, none after a delete, null-safely equals the later
    * feed's pre-image, none before an insert), and at every seam a
    * NULL-keyed row's copies one feed inserts must be those the next
    * deletes. Every valid chain passes, and every key touched by two
    * feeds is checked — a key touched by only one feed asserts nothing
    * about its neighbours, a limit inherent to any feed-only check. The
    * check is one eager action (the earliest break over the aggregate)
    * before the lazy net feed returns, so lazy inputs are evaluated
    * twice; [[IncrementalAgg.applyComposedMulti]] caches in between.
    *
    * CAVEAT — in lenient mode a MISPAIRED chain's NULL-keyed residue at
    * a seam (possible only on a broken chain) vanishes silently rather
    * than surfacing downstream like keyed violations do; strict mode
    * verifies exactly this.
    *
    * Scale: one key shuffle of the union, nullable keys and strict mode
    * included (lenient: map-side partial aggregation folds each key's
    * touches before it; strict holds ≤ 2N touches per key), then a
    * streaming aggregate; work ∝ the feeds, never a snapshot, each feed
    * is read once, and the plan has no join and no intermediate
    * materialization at any N. A single feed is returned as is. */
  def composeAll(feeds: Seq[DataFrame], key: Seq[String],
                 strict: Boolean = false): DataFrame =
    composeHeld(feeds, key, strict)(identity)

  /** [[composeAll]] with `hold` applied to its aggregate (a single
    * feed: the feed) before the strict check and the net read it; a
    * caller that persists it there reads the chain exactly once. */
  private[etl] def composeHeld(feeds: Seq[DataFrame], key: Seq[String],
                               strict: Boolean)(
                               hold: DataFrame => DataFrame): DataFrame = {
    require(feeds.nonEmpty, "no feeds")
    val last = feeds.last
    feeds.zipWithIndex.foreach { case (f, i) =>
      require(f.columns.contains("_change_type"),
        "compose inputs must be ChangeFeed.diff outputs (missing _change_type)")
      require(f.columns.sorted.sameElements(last.columns.sorted),
        s"schema mismatch: feed $i=${f.columns.sorted.mkString(",")} " +
          s"feed ${feeds.size - 1}=${last.columns.sorted.mkString(",")}")
    }
    val cols = last.columns.toSeq.filterNot(_ == "_change_type")
    val missing = key.filterNot(cols.contains)
    require(missing.isEmpty, s"key columns absent from feed: ${missing.mkString(",")}")
    if (feeds.size == 1) hold(last)
    else {
      val touch = struct(col("_cf_pos"), col("_cf_rank"), col("_cf_img"))
      def copies(pos: Int, rank: Int): Column =
        count(when(col("_cf_pos") === pos && col("_cf_rank") === rank, 1))
      val agg = feeds.zipWithIndex.map { case (f, i) =>
        f.select(key.map(col) ++ Seq(lit(i).as("_cf_pos"),
          when(isPre, 0).otherwise(1).as("_cf_rank"),
          struct(cols.map(col): _*).as("_cf_img")): _*)
      }.reduce(_ union _)
        .groupBy(key.map(col) :+ when(anyNull(key), col("_cf_img")).as("_cf_nimg"): _*)
        .agg(min(touch).as("_cf_first"), Seq(max(touch).as("_cf_last"),
          copies(0, 0).as("_cf_dels"), copies(feeds.size - 1, 1).as("_cf_ins")) ++
          (if (strict) Seq(sort_array(collect_list(touch)).as("_cf_ts")) else Nil): _*)
      val held = hold(if (!strict) agg else agg
        .select(col("*"), firstBreak(key, cols, feeds.size).as("_cf_break")).drop("_cf_ts"))
      // the strict check: the earliest break over the aggregate
      if (strict) Option(held.agg(min("_cf_break")).head().getStruct(0)).foreach { b =>
        throw new BrokenSeam(
          s"feeds are not consecutive: ${b.getString(2)} (${b.getString(3)}) " +
            s"leaves feed ${b.getInt(0)} in a state feed ${b.getInt(1)} " +
            "does not start from", b.getInt(0), b.getInt(1))
      }
      val f = when(col("_cf_first._cf_rank") === 0, col("_cf_first._cf_img"))
      val t = when(col("_cf_last._cf_rank") === 1, col("_cf_last._cf_img"))
      def row(image: Column, changeType: String): Column =
        struct(cols.map(n => image.getField(n).as(n)) :+
          lit(changeType).as("_change_type"): _*)
      held.filter(nullKeyed || !(f <=> t))
        .select(explode(
          // a NULL-keyed row: its copies in v0 deleted, in vN inserted
          when(nullKeyed, concat(
            array_repeat(row(f, "delete"), col("_cf_dels").cast("int")),
            array_repeat(row(t, "insert"), col("_cf_ins").cast("int"))))
            .when(f.isNull, array(row(t, "insert")))
            .when(t.isNull, array(row(f, "delete")))
            .otherwise(array(row(f, "update_preimage"),
              row(t, "update_postimage")))).as("_r"))
        .select(col("_r.*"))
    }
  }

  /** A feed row carrying the key's state BEFORE its feed (delete,
    * update_preimage); the others carry the state after it. */
  private val isPre = col("_change_type").isin("delete", "update_preimage")

  private def anyNull(key: Seq[String]): Column = key.map(col(_).isNull).reduce(_ || _)

  private val nullKeyed = col("_cf_nimg").isNotNull

  /** A strict group's first break, `(before, after, what, which)`, from
    * its sorted touches; NULL when it chains. A NULL-keyed touch counts
    * +1 (post-image at p) or −1 (pre-image at p) at seam p + rank − 1,
    * which the sorted touches visit in order, so one fold nets each
    * seam between feeds 0 and N−1. */
  private def firstBreak(key: Seq[String], cols: Seq[String], n: Int): Column = {
    val ts = col("_cf_ts")
    def seam(before: Column, after: Column) = struct(before.as("before"), after.as("after"))
    val keyed = array_min(zip_with(
      slice(ts, lit(1), size(ts) - 1), slice(ts, lit(2), size(ts) - 1), (a, b) =>
        when(a("_cf_pos") =!= b("_cf_pos") &&
          !(when(a("_cf_rank") === 1, a("_cf_img")) <=>
            when(b("_cf_rank") === 0, b("_cf_img"))),
          seam(a("_cf_pos"), b("_cf_pos")))))
    def unbalanced(acc: Column): Column = acc("n") =!= 0 && acc("s").between(0, n - 2)
    val nullSeam = aggregate(ts,
      struct(lit(-1).as("s"), lit(0).as("n"), lit(null).cast("int").as("bad")),
      (acc, x) => {
        val s = x("_cf_pos") + x("_cf_rank") - 1
        val moved = s =!= acc("s")
        struct(s.as("s"),
          (when(moved, 0).otherwise(acc("n")) +
            when(x("_cf_rank") === 1, 1).otherwise(-1)).as("n"),
          coalesce(acc("bad"), when(moved && unbalanced(acc), acc("s"))).as("bad"))
      },
      acc => coalesce(acc("bad"), when(unbalanced(acc), acc("s"))))
    val brk = when(nullKeyed, when(nullSeam.isNotNull, seam(nullSeam, nullSeam + 1)))
      .otherwise(keyed)
    when(brk.isNotNull, struct(brk("before").as("before"), brk("after").as("after"),
      when(nullKeyed, lit("NULL-keyed row")).otherwise(lit("key")).as("what"),
      when(nullKeyed, concat_ws(",", cols.map(c =>
        coalesce(col("_cf_first._cf_img")(c).cast("string"), lit("null"))): _*))
        .otherwise(concat_ws(",", key.map(col(_).cast("string")): _*)).as("which")))
  }

  /** APPLY a feed: replay the row-level changes onto the snapshot they
    * were diffed FROM, reconstructing the snapshot they lead TO — the
    * inverse leg of the CDC algebra ([[diff]] produces a feed,
    * [[composeAll]] folds feeds, [[IncrementalAgg.maintain]] consumes one
    * into an aggregate; `applyTo` consumes one into the TABLE itself).
    * Identity (differential-tested on random version chains):
    * `applyTo(a, diff(a, b, k), k)` is row-for-row `b`, and composing
    * before applying changes nothing:
    * `applyTo(a, compose(f1, f2, k), k) ≡ applyTo(applyTo(a, f1, k), f2, k)`.
    *
    * This is the primitive behind feed-based table REPLICATION: a
    * replica site holding version N needs only the (delta-sized) feed
    * to reach N+1, never the snapshot — see
    * [[IncrementalAgg.ReplicaSpec]] for the published, exactly-once,
    * bucketed-write form. It is also point-in-time RECONSTRUCTION: an
    * old snapshot plus its retained feeds replays any later version,
    * so a retention policy may vacuum intermediate snapshots and keep
    * the (much smaller) feeds.
    *
    * Deletes and update preimages remove their key; inserts and update
    * postimages add their row. Keys match null-safely (`<=>`), so the
    * delete+insert pair [[diff]] emits for a NULL-keyed row replays
    * correctly. Under diff's unique-key contract the anti join removes
    * exactly the feed's preimage rows.
    *
    * A feed applied to a base it was NOT diffed from silently merges
    * (a delete for an absent key no-ops — SQL anti-join semantics);
    * callers that cannot trust the pairing pass `strict = true` to
    * fail loudly on the first preimage key absent from the base (one
    * extra feed-vs-base anti join, the same opt-in-verification
    * posture as [[diff]]'s `requireUniqueKey`).
    *
    * Scale: the feed side of the anti join is delta-sized — under AQE
    * it broadcasts and the BASE NEVER SHUFFLES; the postimage union is
    * map-side. Work ∝ base scan + delta, the replication floor.
    * Plan-PINNED, not just asserted: PlanShapeSpec's "applyTo
    * broadcasts the feed side" gate fails on any SMJ or key Exchange
    * in a representative parquet-base apply. */
  def applyTo(base: DataFrame, feed: DataFrame, key: Seq[String],
              strict: Boolean = false): DataFrame = {
    require(feed.columns.contains("_change_type"),
      "applyTo feed must be a ChangeFeed.diff output (missing _change_type)")
    val cols = feed.columns.toSeq.filterNot(_ == "_change_type")
    require(base.columns.sorted.sameElements(cols.sorted),
      s"schema mismatch: base=${base.columns.sorted.mkString(",")} " +
        s"feed=${cols.sorted.mkString(",")}")
    val missing = key.filterNot(cols.contains)
    require(missing.isEmpty, s"key columns absent from feed: ${missing.mkString(",")}")
    val removes = feed
      .filter(col("_change_type").isin("delete", "update_preimage"))
      .select(key.map(col): _*)
    val b = base.as("b")
    val r = removes.as("r")
    val joinCond = key.map(k => col(s"b.$k") <=> col(s"r.$k")).reduce(_ && _)
    if (strict) {
      val orphan = r.join(b, joinCond, "left_anti").limit(1).collect()
      require(orphan.isEmpty,
        s"feed does not correspond to this base: preimage key " +
          s"(${orphan.headOption.map(_.toSeq.mkString(",")).getOrElse("")}) " +
          "is absent from the base")
    }
    val adds = feed
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .select(base.columns.toSeq.map(col): _*)
    b.join(r, joinCond, "left_anti").unionByName(adds)
  }

  /** [[diff]] between two RETAINED versions of a published table, read
    * through [[AtomicPublish.snapshotAt]] — throws if either version was
    * vacuumed or never committed. `fromVersion` is the older side. */
  def between(spark: SparkSession, root: String, table: String,
              fromVersion: Long, toVersion: Long, key: Seq[String]): DataFrame =
    diff(
      AtomicPublish.snapshotAt(spark, root, fromVersion).table(spark, table),
      AtomicPublish.snapshotAt(spark, root, toVersion).table(spark, table),
      key)
}
