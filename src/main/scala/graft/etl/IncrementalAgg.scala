package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType}

/** Incremental maintenance of an additive aggregate under a
  * [[ChangeFeed]] — the materialized-view half of the CDC story: given
  * last batch's group-by state and the row-level delta that turned the
  * base table into this batch, produce this batch's state WITHOUT
  * rescanning the base. At 100 TB this is the difference between a
  * full-table aggregate per batch and work proportional to the batch's
  * true delta (the feed is sized by changed rows only).
  *
  * Soundness rests on two properties:
  *
  *   1. ADDITIVITY — counts and sums form a commutative group: an
  *      `insert`/`update_postimage` row contributes (+1, +x); a
  *      `delete`/`update_preimage` row contributes (−1, −x). A row
  *      whose GROUP migrated between versions decrements its old group
  *      via the preimage and increments the new one via the postimage —
  *      no special case. (Non-additive aggregates cannot be maintained
  *      this way directly: MIN/MAX are covered by [[ExtremaViewSpec]]'s
  *      recompute-on-invalidation against a co-maintained replica;
  *      DISTINCT counts are maintainable BY COMPOSITION — an additive
  *      view grouped by (group, value) tracks each pair's live count,
  *      a pair leaves the state exactly when its count reaches zero,
  *      so the per-group row count of that state IS the group's
  *      distinct-value count: one read-time aggregate over the
  *      |live pairs|-sized state, no base scan, no sketch — the o16
  *      gate pins it against a direct COUNT(DISTINCT).)
  *   2. EXACT ARITHMETIC — sums are carried as DECIMAL(38,6) (the
  *      engine-wide [[graft.queries.Det]] discipline), so
  *      maintained state is BIT-IDENTICAL to a from-scratch recompute,
  *      not merely close: the o11 gate hashes the maintained aggregate
  *      against an oracle that only ever sees the full recompute.
  *      Double-typed sums would drift (float addition is not
  *      associative) and the identity would be approximate.
  *
  * State schema: `groupCols ++ ("n": count) ++ sum columns` (decimal).
  * Groups whose maintained count reaches zero leave the state; a
  * NEGATIVE count survives deliberately — it means the feed does not
  * correspond to the state it was applied to (wrong version pair,
  * state applied twice), and surfacing the impossible row beats
  * silently absorbing the corruption.
  *
  * Scale: the delta aggregation shuffles only the FEED (map-side
  * partial agg first), and the merge is one full-outer join on the
  * group key against the |groups|-sized state — never the base table.
  * Group keys join null-safely (`<=>`), so a NULL group maintains like
  * any other.
  */
object IncrementalAgg {

  private val D = DecimalType(38, 6)

  /** Build the initial additive state of `rows`: one count column `n`
    * plus one exact decimal sum per `(outName, sourceCol)`.
    *
    * Sums are `coalesce(sum(x), 0)` — a DELIBERATE deviation from SQL's
    * NULL-on-all-NULL-input: the state's sums live in the additive
    * group (Decimal, +), and that group's identity element is 0, not
    * NULL. Under SQL semantics a group whose every source value is NULL
    * would carry `sum = NULL`, but [[maintain]]'s merge must treat an
    * absent group and a contributes-nothing group identically (both add
    * the identity), so the state normalizes both to 0. With NULL sums
    * the two paths would diverge after one maintenance cycle (state 0
    * vs recompute NULL) and the bit-identity contract would break;
    * IncrementalAggSpec's all-NULL-sum case pins the agreement. NULL
    * source values inside a mixed group are still skipped, as in SQL. */
  def aggregate(rows: DataFrame, groupCols: Seq[String],
                sumCols: Seq[(String, String)]): DataFrame =
    rows.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sumCols.map { case (out, src) =>
          coalesce(sum(col(src).cast(D)), lit(0).cast(D)).cast(D).as(out) }: _*)

  /** Apply a [[ChangeFeed.diff]] to `prev` (a state produced by
    * [[aggregate]] with the same `groupCols`/`sumCols`), yielding the
    * state [[aggregate]] would produce on the feed's `to` side.
    *
    * SHAPE (r20, guide §2.3/§2.4): one UNION + one aggregation, not a
    * per-feed aggregate full-outer-joined back to `prev`. The previous
    * form shuffled the delta twice (partial/final aggregate, then a
    * re-exchange for the sort-merge full-outer join) and `prev` once,
    * plus two sorts; folding the prev rows into the aggregation as
    * ready-made partial states shuffles each input exactly once and
    * sorts nothing. VALUE-IDENTICAL, not just row-identical: the state
    * sums live in the exact decimal group (`D`), whose addition is
    * associative and commutative, so regrouping `prev + Σdelta` into
    * `Σ(prev ∪ delta)` cannot move a single bit — the same argument
    * that makes the state mergeable at all. (With FLOAT sums this
    * rewrite would be wrong — reordering float addition changes
    * results — which is one more reason the state is decimal.) The
    * group key groups NULLs together under GROUP BY exactly as the old
    * null-safe join condition matched them. */
  def maintain(prev: DataFrame, feed: DataFrame, groupCols: Seq[String],
               sumCols: Seq[(String, String)]): DataFrame = {
    val expected = groupCols ++ ("n" +: sumCols.map(_._1))
    require(prev.columns.toSeq == expected,
      s"prev is not an aggregate state: have ${prev.columns.mkString(",")}, " +
        s"expected ${expected.mkString(",")}")
    require(feed.columns.contains("_change_type"),
      "feed must be a ChangeFeed.diff output (missing _change_type)")
    val sign = when(col("_change_type").isin("insert", "update_postimage"),
      lit(1L)).otherwise(lit(-1L))
    val zero = lit(0).cast(D)
    // each feed row as a one-row partial state: ±1 count, ±value sums
    // (NULL source values contribute NULL, which SUM skips — as before)
    val deltaRows = feed.select(
      groupCols.map(col) ++
        Seq(sign.as("n")) ++
        sumCols.map { case (out, src) =>
          ((col(src).cast(D)) * sign).cast(D).as(out) }: _*)
    prev.unionByName(deltaRows)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("n")).as("n"),
        sumCols.map { case (out, _) =>
          // coalesce: a NEW group whose every contribution is NULL must
          // read 0 (the additive identity), matching aggregate()'s
          // normalization — SUM alone would yield NULL
          coalesce(sum(col(out)), zero).cast(D).as(out) }: _*)
      // a consistently-emptied group has n = 0 AND every sum exactly 0
      // (decimal arithmetic) and leaves the state; n = 0 with a nonzero
      // residual sum is the zero-count face of feed corruption and
      // SURFACES like the negative count does
      .filter(sumCols.map(s => col(s._1) =!= zero)
        .foldLeft(col("n") =!= 0L)(_ || _))
  }

  // ------------------------------------------------------------------
  // The published maintained-aggregate store: BUCKETED state segments
  //
  // A maintained state at warehouse scale can hold 10⁸ groups; a
  // minute-cadence consumer that republishes the whole state table per
  // batch rewrites it 1,440×/day regardless of delta size — the write
  // half of the maintenance cost would stay O(|groups|) while the
  // compute half is O(delta). The store therefore HASH-BUCKETS the
  // state on its group key and a batch rewrites ONLY the buckets its
  // delta touches; untouched buckets are carried BY REFERENCE into the
  // new version's manifest (the same segments-outside-versions device
  // as [[graft.ops.AnnIndexStore]], and as Iceberg's data files).
  //
  // Layout:
  //   root/state_segments/seg-<uuid>/graft_bucket=<b>/  immutable rows
  //     of one bucket, written once, never mutated; a segment dir holds
  //     the buckets one batch wrote (partitionBy output)
  //   root/v<N>/state_manifest  (bucket, ref) rows: bucket -1 carries
  //     the state schema as a DDL string (so an EMPTY state is still
  //     readable), -2 the manifest format version, -3 the bucket
  //     columns (so serving reads can prune — readViewPruned); buckets
  //     0..B-1 carry the relative segment ref of that bucket's current
  //     rows, or NULL for an empty bucket. B is fixed at seeding (row
  //     count of the non-negative rows).
  //   root/v<N>/applied         the exactly-once ledger (batch_id)
  //
  // Readers union the referenced bucket dirs ([[readState]]); the
  // manifest is B+1 tiny rows. Orphaned segments (vacuumed or
  // never-committed versions) are reclaimed by [[vacuumSegments]].
  //
  // A store can maintain SEVERAL differently-grouped views of one fact
  // stream ([[applyOnceMulti]]): each view gets its own
  // `<view>_manifest` table, all views share ONE ledger, and one batch
  // commits every view's new manifest + the ledger row as ONE atomic
  // publish — the amortization claim (one diff maintains every
  // downstream aggregate) as a store primitive with cross-view
  // consistency: a reader can never observe view A at batch N next to
  // view B at batch N−1. The single-view API is the one-element case.
  // ------------------------------------------------------------------

  /** One maintained TARGET of the feed: how to seed its state from a
    * base snapshot, how to advance it under one feed, and which columns
    * hash a row into its bucket. Three shapes exist — the additive
    * aggregate view ([[ViewSpec]]), the row-level table replica
    * ([[ReplicaSpec]]), and the non-additive min/max view
    * ([[ExtremaViewSpec]], which rescans invalidated groups from a
    * co-maintained replica) — and they share everything else: the bucketed
    * segment layout, the delta-proportional touched-bucket writes, the
    * exactly-once ledger, and atomic co-advancement (a store may
    * maintain a replica NEXT TO its aggregate views, and one batch
    * commits all of them together — a reader can never observe the
    * table at batch N beside an index or MV at batch N−1). */
  /** The post-batch state of one already-maintained target, held as its
    * BUCKET LAYOUT (refs, not a pre-unioned DataFrame) so dependents can
    * read a pruned subset of it — the device behind the extrema rescan
    * reading only the invalidated groups' buckets. */
  private[etl] final case class SteppedState(root: String,
      bucketCols: Seq[String], numBuckets: Int,
      refs: Map[Int, String], schemaDDL: String) {
    def read(spark: SparkSession, buckets: Option[Set[Int]]): DataFrame = {
      val keep = buckets.fold(refs)(bs => refs.view.filterKeys(bs).toMap)
      if (keep.isEmpty) emptyState(spark, schemaDDL)
      else spark.read.schema(readerSchema(schemaDDL))
        .parquet(keep.values.toSeq.distinct.sorted
          .map(r => s"$root/state_segments/$r"): _*)
    }
  }

  /** What a target's [[TargetSpec.step]] may reach beyond its own
    * previous state: the POST-BATCH full state of targets maintained
    * earlier in the same round. Non-additive views use it to rescan
    * invalidated groups from a co-maintained replica; additive targets
    * ignore it. */
  private[etl] final class StepContext(spark: SparkSession,
      stepped: scala.collection.Map[String, SteppedState]) {
    private def state(name: String): SteppedState =
      stepped.getOrElse(name, throw new IllegalStateException(
        s"target '$name' is not maintained before this one in the round " +
          "(order targets so a rescan base precedes its dependents)"))
    // Frames persisted for THIS round via [[manage]]; the round's owner
    // (maintainRound) releases them after the publish.
    private val managedFrames =
      new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    /** Cache `df` for the remainder of the round (r20): a step whose
      * plan references the same derived subtree several times (the
      * extrema/top-k invalidation frame is consumed by the kept path,
      * the rescan path, AND the bucket-pruning probe) otherwise
      * re-evaluates it per reference — Spark has no cross-branch
      * common-subexpression elimination. persist() here is lazy; the
      * round's first action populates it, and maintainRound unpersists
      * every managed frame after the commit. */
    def manage(df: DataFrame): DataFrame = {
      val d = df.persist()
      managedFrames.add(d)
      d
    }
    private[etl] def releaseManaged(): Unit = {
      import scala.jdk.CollectionConverters._
      managedFrames.asScala.foreach(_.unpersist())
      managedFrames.clear()
    }
    /** Post-batch full state of an already-maintained sibling target;
      * throws if `name` was not maintained before the caller. */
    def baseAfter(name: String): DataFrame = state(name).read(spark, None)
    /** Post-batch state of sibling `name`, PRUNED to the buckets the
      * rows of `groups` (columns = `cols`) hash into — exact iff the
      * sibling is bucketed on exactly `cols` (all rows sharing those
      * column values share a bucket). When the sibling's bucket layout
      * is anything else the full state returns instead, so callers get
      * a correct superset either way; pruning is an optimization, never
      * a semantics change. Cost of the pruned path: one tiny job over
      * `groups` folding to ≤ B bucket ints. */
    def baseAfterForGroups(name: String, groups: DataFrame,
                           cols: Seq[String]): DataFrame = {
      val st = state(name)
      if (st.bucketCols != cols || cols.isEmpty) st.read(spark, None)
      else {
        val bs = groups
          .agg(collect_set(bucketExpr(cols, st.numBuckets)).as("b"))
          .collect()(0).getSeq[Int](0).toSet
        st.read(spark, Some(bs))
      }
    }
  }

  sealed trait TargetSpec {
    def name: String
    def numBuckets: Int
    /** Columns whose hash picks a state row's bucket. For a view the
      * group key (a feed row's ± contribution lands in its group's
      * bucket); for a replica the primary key (a changed row lands in
      * its own bucket) — either way the buckets a feed TOUCHES are
      * computable from the feed alone. */
    private[etl] def bucketCols: Seq[String]
    /** Names of sibling targets this one's step reads post-batch (via
      * [[StepContext.baseAfter]]); they must be maintained first. */
    private[etl] def dependsOn: Seq[String] = Nil
    private[etl] def seed(rows: DataFrame): DataFrame
    private[etl] def step(prev: DataFrame, feed: DataFrame,
                          ctx: StepContext): DataFrame
    private[IncrementalAgg] final def manifestT: String = s"${name}_manifest"
    protected final def validateCommon(): Unit = {
      require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
        s"target name must be [A-Za-z0-9_]+: '$name'")
      require(name != "applied", "'applied' is reserved for the ledger")
      require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
      require(!bucketCols.contains(BucketCol),
        s"'$BucketCol' is reserved for the state store's bucket layout")
    }
  }

  /** One maintained aggregate view of the feed: a name (its manifest
    * table is `<name>_manifest`), its grouping, its sums, and its
    * bucket count (fixed at seeding; B sizes WRITE granularity —
    * SCALE.md's f ≈ gΔ/B rule — not group capacity).
    *
    * `bucketOn` (default: the full group key) may name a SUBSET of
    * `groupCols` — the same serving-read lever as
    * [[ReplicaSpec.bucketOn]]: every group sharing the subset's values
    * shares a bucket, so a point read of one dimension's aggregates
    * ([[readViewPruned]] — "this customer's running totals") opens one
    * bucket instead of the view. Sound for the same reason: feed rows
    * carry the group columns, so a delta group's bucket is always
    * touched and delta-proportional writes survive. */
  final case class ViewSpec(name: String, groupCols: Seq[String],
                            sumCols: Seq[(String, String)],
                            numBuckets: Int = 64,
                            bucketOn: Seq[String] = Nil) extends TargetSpec {
    require(!(groupCols ++ sumCols.map(_._1)).contains(BucketCol),
      s"'$BucketCol' is reserved for the state store's bucket layout")
    require(bucketOn.forall(groupCols.contains),
      s"bucketOn must be a subset of groupCols: " +
        s"${bucketOn.filterNot(groupCols.contains).mkString(",")}")
    validateCommon()
    private[etl] def bucketCols: Seq[String] =
      if (bucketOn.nonEmpty) bucketOn else groupCols
    private[etl] def seed(rows: DataFrame): DataFrame =
      aggregate(rows, groupCols, sumCols)
    private[etl] def step(prev: DataFrame, feed: DataFrame,
                          ctx: StepContext): DataFrame =
      maintain(prev, feed, groupCols, sumCols)
  }

  /** A maintained row-level REPLICA of the feed's table: the state IS
    * the table (seeded from the base snapshot verbatim), advanced by
    * [[ChangeFeed.applyTo]] — feed-based replication with
    * delta-proportional writes: a batch rewrites only the buckets its
    * changed KEYS hash into, and because preimage keys live in exactly
    * those buckets, applying against the touched subset is exact.
    * `strict` forwards to `applyTo`: fail loudly if a feed's preimage
    * key is absent from the replica (a feed applied out of order or
    * against the wrong site).
    *
    * `bucketOn` (default: the key) picks the replica's bucket layout —
    * ANY column subset of the table, not just the key, because a change
    * feed carries FULL rows: a preimage row IS the state row it
    * removes, so it hashes into the same bucket that row lives in, and
    * a postimage hashes into the bucket it must land in — the touched
    * buckets stay feed-computable and delta-proportional writes
    * survive. This is what makes a SERVING read prunable: bucket the
    * postings replica on `term` alone and a query's
    * [[readViewPruned]] opens only the buckets its terms hash into,
    * instead of the whole index (the r16 verdict's one
    * weak-at-100×-scale plan). An update whose bucket columns changed
    * touches both its old and new bucket (both images are in the
    * feed); pick LOW-CARDINALITY bucket columns only when their value
    * distribution is not too skewed — every row of one bucket-column
    * value shares a bucket, the same trade as any partition key. */
  final case class ReplicaSpec(name: String, key: Seq[String],
                               numBuckets: Int = 64,
                               strict: Boolean = false,
                               bucketOn: Seq[String] = Nil) extends TargetSpec {
    require(key.nonEmpty, "replica key must name at least one column")
    validateCommon()
    private[etl] def bucketCols: Seq[String] =
      if (bucketOn.nonEmpty) bucketOn else key
    private[etl] def seed(rows: DataFrame): DataFrame = {
      require(!rows.columns.contains(BucketCol),
        s"'$BucketCol' is reserved for the state store's bucket layout")
      val absent = bucketOn.filterNot(rows.columns.contains)
      require(absent.isEmpty,
        s"bucketOn columns absent from the replicated table: ${absent.mkString(",")}")
      rows
    }
    private[etl] def step(prev: DataFrame, feed: DataFrame,
                          ctx: StepContext): DataFrame =
      ChangeFeed.applyTo(prev, feed, key, strict)
  }

  /** A maintained NON-ADDITIVE view: per-group MIN/MAX under a
    * [[ChangeFeed]], via RECOMPUTE-ON-INVALIDATION. Min and max are
    * not group-invertible (deleting a value gives no way to "subtract"
    * it from the extremum), so pure feed-only maintenance is
    * impossible — the standard rung beyond additive MVs:
    *
    *   - INSERTS merge in O(delta): `min' = least(min, delta-min)`,
    *     `max' = greatest(max, delta-max)` — no base access.
    *   - A DELETE (preimage) INVALIDATES its group only if the removed
    *     value ties or beats the group's current extremum (removing a
    *     non-extremal value cannot move min/max). Invalidated groups —
    *     and only they — are RE-AGGREGATED from the post-batch base.
    *
    * The rescan base is a [[ReplicaSpec]] co-maintained IN THE SAME
    * STORE (`baseReplica` names it; it must be listed BEFORE this view
    * so its post-batch state exists when this step runs) — the replica
    * is exactly the base table at the feed's `to` version, so the
    * rescan is self-contained: no external snapshot, and the whole
    * bundle (replica + extrema + any additive views) still commits as
    * ONE atomic version with ONE exactly-once decision.
    *
    * COST MODEL, stated honestly: the fast path is feed-sized like the
    * additive views. The rescan path aggregates the replica's rows for
    * the invalidated groups — a semi-joined SCAN of the replica (no
    * pruning beyond what the scan's layout provides), so a batch that
    * deletes the extremum of g groups costs one replica pass
    * regardless of g (all invalidated groups share it). Worst case —
    * an adversarial feed deleting every group's minimum — degrades to
    * the full re-aggregate this construction exists to avoid; typical
    * CDC (uniform deletes) invalidates ~1/|group| of deletes for a
    * distinct-valued column. Groups counts are maintained additively
    * (`n`), so group death needs no special case: an emptied group's
    * rescan finds no rows and the group leaves the state.
    *
    * A rescan LAUNDERS feed inconsistencies for the groups it touches
    * (the replica is ground truth there) — the additive views'
    * negative-count surfacing applies only on the fast path. The
    * replica itself still surfaces mispairing via `strict`. */
  final case class ExtremaViewSpec(name: String, groupCols: Seq[String],
                                   minCols: Seq[(String, String)],
                                   maxCols: Seq[(String, String)],
                                   baseReplica: String,
                                   numBuckets: Int = 64) extends TargetSpec {
    require(minCols.nonEmpty || maxCols.nonEmpty,
      "extrema view must track at least one min or max column")
    require((groupCols ++ minCols.map(_._1) ++ maxCols.map(_._1))
      .distinct.size == groupCols.size + minCols.size + maxCols.size,
      "group/min/max output names must be distinct")
    require(!(minCols.map(_._1) ++ maxCols.map(_._1)).contains("n"),
      "'n' is reserved for the maintained group count")
    require(!(groupCols ++ minCols.map(_._1) ++ maxCols.map(_._1))
      .contains(BucketCol),
      s"'$BucketCol' is reserved for the state store's bucket layout")
    validateCommon()
    private[etl] def bucketCols: Seq[String] = groupCols
    private[etl] override def dependsOn: Seq[String] = Seq(baseReplica)

    private def outCols: Seq[(String, String, Boolean)] =
      minCols.map { case (o, s) => (o, s, true) } ++
        maxCols.map { case (o, s) => (o, s, false) }

    private[etl] def seed(rows: DataFrame): DataFrame =
      rows.groupBy(groupCols.map(col): _*)
        .agg(count(lit(1)).as("n"),
          outCols.map { case (out, src, isMin) =>
            (if (isMin) min(col(src)) else max(col(src))).as(out) }: _*)

    private[etl] def step(prev: DataFrame, feed: DataFrame,
                          ctx: StepContext): DataFrame = {
      val expected = groupCols ++ ("n" +: outCols.map(_._1))
      require(prev.columns.toSeq == expected,
        s"prev is not an extrema state: have ${prev.columns.mkString(",")}, " +
          s"expected ${expected.mkString(",")}")
      require(feed.columns.contains("_change_type"),
        "feed must be a ChangeFeed.diff output (missing _change_type)")
      val isPost = col("_change_type").isin("insert", "update_postimage")
      val sign = when(isPost, lit(1L)).otherwise(lit(-1L))
      // ONE union + ONE aggregation (r20, the maintain() rewrite's
      // shape): the previous form aggregated the feed per group and
      // full-outer sort-merge-joined the fold back to prev — three
      // exchanges and two sorts for the round's most-consumed frame.
      // Each input row becomes a tagged partial: prev rows carry their
      // state (count, extrema) and a presence flag; feed rows carry ±1
      // and the insert-side / delete-side witness values. min/max/sum
      // are order-independent, so the regrouping is value-identical,
      // and GROUP BY groups NULL keys exactly as the old null-safe
      // join condition matched them.
      val nul = lit(null)
      val prevRows = prev.select(
        groupCols.map(col) ++
          Seq(col("n").as("_n"), lit(1L).as("_has_prev")) ++
          outCols.flatMap { case (out, _, _) => Seq(
            col(out).as(s"_p_$out"),
            nul.cast(prev.schema(out).dataType).as(s"_ins_$out"),
            nul.cast(prev.schema(out).dataType).as(s"_del_$out")) }: _*)
      val feedRows = feed.select(
        groupCols.map(col) ++
          Seq(sign.as("_n"), lit(0L).as("_has_prev")) ++
          outCols.flatMap { case (out, src, _) => Seq(
            nul.cast(feed.schema(src).dataType).as(s"_p_$out"),
            when(isPost, col(src)).as(s"_ins_$out"),
            when(!isPost, col(src)).as(s"_del_$out")) }: _*)
      val agg = prevRows.unionByName(feedRows)
        .groupBy(groupCols.map(col): _*)
        .agg(sum(col("_n")).as("n"),
          (max(col("_has_prev")) === 1L).as("_has_prev") +:
          outCols.flatMap { case (out, _, isMin) => Seq(
            // ≤1 prev row per group, so min() recovers its value (or
            // NULL when the group is new / the stored extremum is NULL)
            min(col(s"_p_$out")).as(s"_p_$out"),
            (if (isMin) min(col(s"_ins_$out"))
             else max(col(s"_ins_$out"))).as(s"_ins_$out"),
            (if (isMin) min(col(s"_del_$out"))
             else max(col(s"_del_$out"))).as(s"_del_$out")) }: _*)
      // a group needs a rescan iff some delete could have moved an
      // extremum: the deleted-side witness ties-or-beats the current
      // one, OR the group has deletes but no previous state (a feed
      // the state never saw — the replica is ground truth there)
      val invalidated = outCols.map { case (out, _, isMin) =>
        col(s"_del_$out").isNotNull &&
          (!col("_has_prev") ||
            (if (isMin) col(s"_del_$out") <= col(s"_p_$out")
             else col(s"_del_$out") >= col(s"_p_$out")))
      }.reduce(_ || _)
      // managed for the round (r20): consumed by the kept filter, the
      // rescan's group list, and the pruning probe — three evaluations
      // of the union-aggregate without the cache
      val joined = ctx.manage(agg.select(
        groupCols.map(col) ++
          Seq(col("n"), coalesce(invalidated, lit(false)).as("_rescan")) ++
          outCols.map { case (out, _, isMin) =>
            (if (isMin) least(col(s"_p_$out"), col(s"_ins_$out"))
             else greatest(col(s"_p_$out"), col(s"_ins_$out"))).as(out) }: _*))
      val kept = joined.filter(!col("_rescan"))
        .drop("_rescan")
        .filter(col("n") =!= 0L)
        .select(expected.map(col): _*)
      // the rescan: re-aggregate ONLY the invalidated groups from the
      // co-maintained replica's post-batch state. If the replica is
      // bucketed on exactly this view's groupCols (ReplicaSpec.bucketOn
      // — every row of a group then shares its bucket), the scan PRUNES
      // to the invalidated groups' buckets; any other replica layout
      // falls back to the full semi-joined pass (the honest cost, see
      // Scaladoc). An emptied group yields no rows and thereby leaves
      // the state.
      val invalidGroups = joined.filter(col("_rescan"))
        .select(groupCols.map(col): _*)
      val base = ctx.baseAfterForGroups(baseReplica, invalidGroups, groupCols)
        .as("b")
      val ig = invalidGroups.as("ig")
      val rescanCond = groupCols.map(g => col(s"b.$g") <=> col(s"ig.$g"))
        .reduce(_ && _)
      val rescanned = seed(base.join(ig, rescanCond, "left_semi"))
        .select(expected.map(col): _*)
      kept.unionByName(rescanned)
    }
  }

  /** A maintained PER-GROUP TOP-K view — the general form of
    * [[ExtremaViewSpec]] (which is k = 1 over the sort value alone):
    * per group, the k best ROWS under a total order, maintained under a
    * [[ChangeFeed]] by the same merge/invalidate split:
    *
    *   - INSERTS merge in O(delta + touched state): the new top-k of
    *     (current members ∪ inserted rows) — a window over a set whose
    *     size is k·|touched groups| + |delta|, never the base. Sound
    *     because any live non-member row is strictly worse than the
    *     group's BOUNDARY (the k-th member) under the total order, so
    *     it can never re-enter on an insert.
    *   - A DELETE invalidates its group only if the removed row could
    *     have been a member: its sort value ties-or-beats the boundary
    *     (value-level compare — ties are conservatively dangerous, so
    *     tie-breaking never needs to be re-derived from state), the
    *     group's membership is not full (every live row is then a
    *     member), or NULL values make the compare unsable. Invalidated
    *     groups — and only they — re-rank from the co-maintained
    *     replica, PRUNED to their buckets when the replica is
    *     co-bucketed on the group columns (the extrema rescan's
    *     machinery, verbatim).
    *
    * TOTAL ORDER: `sortCol` descending (`ascending = false`, a
    * leaderboard) or ascending, NULLS LAST either way (pinned
    * explicitly — Spark's and DuckDB's defaults differ), ties broken
    * by `keyCols` ascending. Both the seed and every maintenance path
    * use the same order, so maintained state is row-identical to a
    * recompute. State schema: `groupCols ++ keyCols ++ sortCol` — the
    * members themselves, rank-free (ranks shift under merge; readers
    * derive them with one window over the k·|groups|-sized state).
    * `keyCols` must be the replica's unique key restricted to these
    * columns — member identity under replay. */
  final case class TopKViewSpec(name: String, groupCols: Seq[String],
                                sortCol: String, ascending: Boolean, k: Int,
                                keyCols: Seq[String], baseReplica: String,
                                numBuckets: Int = 64) extends TargetSpec {
    require(k > 0, s"k must be positive: $k")
    require(keyCols.nonEmpty, "keyCols must name at least one column")
    require((groupCols ++ keyCols :+ sortCol).distinct.size ==
      groupCols.size + keyCols.size + 1,
      "group/key/sort columns must be distinct")
    require(!(groupCols ++ keyCols :+ sortCol).contains(BucketCol),
      s"'$BucketCol' is reserved for the state store's bucket layout")
    validateCommon()
    private[etl] def bucketCols: Seq[String] = groupCols
    private[etl] override def dependsOn: Seq[String] = Seq(baseReplica)

    private def expected: Seq[String] = groupCols ++ keyCols :+ sortCol

    private def orderExprs = {
      val s = if (ascending) col(sortCol).asc_nulls_last
              else col(sortCol).desc_nulls_last
      s +: keyCols.map(col(_).asc)
    }

    /** Top-k of `rows` per group under the pinned total order. */
    private def topK(rows: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      rows.select(expected.map(col): _*)
        .withColumn("_rk", row_number().over(
          Window.partitionBy(groupCols.map(col): _*).orderBy(orderExprs: _*)))
        .filter(col("_rk") <= k).drop("_rk")
    }

    private[etl] def seed(rows: DataFrame): DataFrame = topK(rows)

    private[etl] def step(prev: DataFrame, feed: DataFrame,
                          ctx: StepContext): DataFrame = {
      require(prev.columns.toSeq == expected,
        s"prev is not a top-k state: have ${prev.columns.mkString(",")}, " +
          s"expected ${expected.mkString(",")}")
      require(feed.columns.contains("_change_type"),
        "feed must be a ChangeFeed.diff output (missing _change_type)")
      val isPost = col("_change_type").isin("insert", "update_postimage")
      // ONE union + ONE aggregation (r20, the maintain() rewrite's
      // shape — the old form aggregated prev and feed separately and
      // full-outer sort-merge-joined the two folds): each input row
      // becomes a tagged partial — prev rows contribute to the
      // boundary/membership witnesses, feed deletes to the danger
      // witnesses — and one GROUP BY folds them. count/min/max/sum are
      // order-independent, so the flags are value-identical; GROUP BY
      // groups NULL keys exactly as the old null-safe join did.
      val isPrev = col("_is_prev") === 1L
      val isDel = col("_is_prev") === 0L && !col("_is_post")
      val prevRows = prev.select(groupCols.map(col) ++ Seq(
        col(sortCol).as("_sort"), lit(1L).as("_is_prev"),
        lit(false).as("_is_post")): _*)
      val feedRows = feed.select(groupCols.map(col) ++ Seq(
        col(sortCol).as("_sort"), lit(0L).as("_is_prev"),
        isPost.as("_is_post")): _*)
      val bound = if (ascending) max(when(isPrev, col("_sort")))
                  else min(when(isPrev, col("_sort")))
      val delBest = if (ascending) min(when(isDel, col("_sort")))
                    else max(when(isDel, col("_sort")))
      val agg = prevRows.unionByName(feedRows)
        .groupBy(groupCols.map(col): _*)
        .agg(bound.as("_bound"),
          sum(col("_is_prev")).as("_m"),
          max(when(isPrev && col("_sort").isNull, lit(1L)).otherwise(lit(0L)))
            .as("_null_member"),
          sum(when(isDel, lit(1L)).otherwise(lit(0L))).as("_del_n"),
          delBest.as("_del_best"),
          max(when(isDel && col("_sort").isNull, lit(1L)).otherwise(lit(0L)))
            .as("_del_null"))
      // dangerous delete: the group could have lost a member — the
      // deleted value ties-or-beats the boundary under the order
      // (ties conservative), membership is below k (every live row is
      // a member — this also covers a group the state never saw,
      // whose membership folds to 0), or NULLs make the value compare
      // unusable
      val beatsBound =
        if (ascending) col("_del_best") <= col("_bound")
        else col("_del_best") >= col("_bound")
      val invalidated = col("_del_n") > 0L && (
        col("_m") < k ||
          col("_null_member") === 1L || col("_del_null") === 1L ||
          coalesce(beatsBound, lit(true)))
      // managed for the round (r20): consumed by both withFlag joins,
      // the rescan's group list, and the pruning probe
      val flags = ctx.manage(agg.select(
        groupCols.map(col) :+
          coalesce(invalidated, lit(false)).as("_rescan"): _*))
      def withFlag(rows: DataFrame, alias: String): DataFrame = {
        val r = rows.as(alias)
        val f = flags.as("f")
        val cond = groupCols.map(g => col(s"$alias.$g") <=> col(s"f.$g"))
          .reduce(_ && _)
        r.join(f, cond, "left")
          .select(expected.map(c => col(s"$alias.$c")) :+
            coalesce(col("f._rescan"), lit(false)).as("_rescan"): _*)
      }
      // kept path: members of non-invalidated groups merge with those
      // groups' inserted rows, re-ranked — O(touched state + delta)
      val keptPool = withFlag(prev, "m").filter(!col("_rescan")).drop("_rescan")
        .unionByName(withFlag(feed.filter(isPost), "i")
          .filter(!col("_rescan")).drop("_rescan"))
      val kept = topK(keptPool)
      // rescan path: invalidated groups re-rank from the co-maintained
      // replica's post-batch state, bucket-pruned when co-bucketed
      val invalidGroups = flags.filter(col("_rescan"))
        .select(groupCols.map(col): _*)
      val base = ctx.baseAfterForGroups(baseReplica, invalidGroups, groupCols)
        .as("b")
      val ig = invalidGroups.as("ig")
      val rescanCond = groupCols.map(g => col(s"b.$g") <=> col(s"ig.$g"))
        .reduce(_ && _)
      val rescanned = topK(base.join(ig, rescanCond, "left_semi"))
      kept.unionByName(rescanned)
    }
  }

  /** A DERIVED target: a (small) state recomputed each round from a
    * sibling target's POST-BATCH state and committed WITH it in the
    * same atomic version — the store's answer to aggregates that are
    * not feed-maintainable but are cheap once per batch. The canonical
    * use is the retrieval index's corpus stats: BM25 needs (N, Σdl),
    * N is a live-group count (the distinct-count shape — not additive,
    * a group dies only when its count reaches zero), but deriving it
    * from the maintained `bydoc` view once per MAINTENANCE round turns
    * a per-QUERY |docs|-sized aggregate into a per-BATCH one, amortized
    * across every query the version serves. Because the derived table
    * rides in the same publish as the state it was computed from, a
    * reader can never observe stats from batch N beside postings from
    * batch N−1.
    *
    * `base` must be LISTED BEFORE this target in the store's sequence
    * (same rule as the extrema rescan); `derive` maps its full
    * post-batch state to this target's state. The state is rewritten
    * whole each round — size `derive`'s output accordingly (a handful
    * of rows; numBuckets is fixed at 1). Seeding derives from the
    * base's own seed of the initial rows. */
  final case class DerivedSpec(name: String, base: TargetSpec,
                               derive: DataFrame => DataFrame) extends TargetSpec {
    validateCommon()
    def numBuckets: Int = 1
    private[etl] def bucketCols: Seq[String] = Nil
    private[etl] override def dependsOn: Seq[String] = Seq(base.name)
    private[etl] def seed(rows: DataFrame): DataFrame = derive(base.seed(rows))
    private[etl] def step(prev: DataFrame, feed: DataFrame,
                          ctx: StepContext): DataFrame =
      derive(ctx.baseAfter(base.name))
  }

  /** Table names of the default single-view store (see [[applyOnce]]). */
  val ManifestT = "state_manifest"
  val AppliedT = "applied"

  /** The single-view name behind [[publishInitial]]/[[applyOnce]]. */
  private val DefaultView = "state"

  /** Reserved bucket column name (also the partition-dir prefix inside
    * state segments). Group/sum columns may not use it. */
  val BucketCol = "graft_bucket"

  private val SchemaBucket = -1

  /** Manifest FORMAT VERSION row (bucket −2): names the layout this
    * manifest was written under, so a future layout change fails with
    * "written by a newer engine — upgrade" instead of a confusing read
    * error (the lesson [[graft.ops.AnnIndexStore]] paid for post-hoc
    * with its legacy-layout detector; here it is pre-paid). Manifests
    * WITHOUT the row are format 1 — the r15 layout, identical to this
    * one — so pre-existing stores read unchanged. */
  private val FormatBucket = -2
  private val StateFormat = 1

  /** Manifest BUCKET-LAYOUT row (bucket −3): the comma-joined bucket
    * columns the state's segments are hashed on, so READERS can prune
    * ([[readViewPruned]] recomputes the hash for a predicate's values
    * and opens only those buckets' refs). Purely additive metadata —
    * pre-r17 readers ignore unknown negative buckets, and manifests
    * WITHOUT the row (pre-r17 stores, or bucket columns containing a
    * comma) simply serve unpruned — so the format version stays 1.
    * Absent for bucket-column-less targets ([[DerivedSpec]]). */
  private val BucketColsBucket = -3

  private def bucketExpr(groupCols: Seq[String], numBuckets: Int) =
    pmod(hash(groupCols.map(col): _*), lit(numBuckets))

  /** [[bucketExpr]] evaluated driver-side on typed literals — the same
    * `Pmod(Murmur3Hash(...))` the writer's `pmod(hash(...))` builds
    * (seed 42), so it lands in the writer's bucket without a job or a
    * DataFrame. */
  private def bucketOf(values: Seq[Literal], numBuckets: Int): Int =
    Pmod(new Murmur3Hash(values), Literal(numBuckets)).eval().asInstanceOf[Int]

  /** `x` as a literal of the state column's type `dt`, converted the
    * way a DataFrame row of that schema converts it — a decimal takes
    * the column's scale, which its hash depends on — and validated by
    * `Literal`: an Int for a bigint or a string column throws. */
  private def typedLiteral(x: Any, dt: DataType): Literal =
    Literal(CatalystTypeConverters.createToCatalystConverter(dt)(x), dt)

  /** Decoded manifest of one target's state. `bucketCols` is present
    * only when the writing spec recorded its layout (see
    * [[BucketColsBucket]]); readers must treat None as "pruning
    * unavailable", never as an error. */
  private[etl] final case class StateManifest(numBuckets: Int,
      refs: Map[Int, String], schemaDDL: String,
      bucketCols: Option[Seq[String]])

  /** The exactly-once ledger's batch ids, read DRIVER-SIDE (r20: the
    * ledger is O(batches) longs — a Spark job per read was pure fixed
    * latency at micro-batch cadence; [[LocalParquet]] reads the same
    * files in-process). */
  private def readLedger(spark: SparkSession,
                         snap: AtomicPublish.Snapshot): Seq[Long] =
    LocalParquet.read(spark.sparkContext.hadoopConfiguration,
      s"${snap.root}/v${snap.version}/$AppliedT", Seq("batch_id"))
      ._2.map(_.getLong(0))

  private def readManifest(spark: SparkSession, snap: AtomicPublish.Snapshot,
                           table: String): StateManifest = {
    // DRIVER-SIDE read (r20): a manifest is O(buckets) rows; the
    // previous snap.table(...).collect() paid a scan job (plus the
    // read's file-listing job) per manifest per batch — the same bytes
    // arrive in-process at ~no scheduling cost. Layout unchanged, so
    // Spark-written pre-existing manifests read identically. Repeat
    // reads of a version are memoized (LocalParquet's decode memo);
    // the checks below still run on every read.
    val rows = LocalParquet.read(spark.sparkContext.hadoopConfiguration,
      s"${snap.root}/v${snap.version}/$table", Seq("bucket", "ref"))._2
    rows.find(_.getInt(0) == FormatBucket).map(_.getString(1)).foreach { f =>
      require(f.toIntOption.exists(_ <= StateFormat),
        s"state manifest '$table' at ${snap.root} v${snap.version} has " +
          s"format $f but this engine supports ≤ $StateFormat — written " +
          "by a newer engine; upgrade, or re-seed the store")
    }
    val schema = rows.find(_.getInt(0) == SchemaBucket).map(_.getString(1))
      .getOrElse(throw new IllegalStateException(
        s"corrupt state manifest '$table' at ${snap.root} v${snap.version}: no schema row"))
    val bucketCols = rows.find(r => r.getInt(0) == BucketColsBucket && !r.isNullAt(1))
      .map(_.getString(1).split(',').toSeq)
    val refs = rows.filter(r => r.getInt(0) >= 0 && !r.isNullAt(1))
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    StateManifest(rows.count(_.getInt(0) >= 0), refs, schema, bucketCols)
  }

  private def manifestDF(spark: SparkSession, numBuckets: Int,
                         refs: Map[Int, String], schemaDDL: String,
                         bucketCols: Seq[String]): DataFrame = {
    import spark.implicits._
    // layout row only when faithfully representable (no empty layout,
    // no comma-bearing column names — the join character); a skipped
    // row degrades readers to unpruned, never to wrong
    val layout =
      if (bucketCols.nonEmpty && !bucketCols.exists(_.contains(",")))
        Seq((BucketColsBucket, Option(bucketCols.mkString(","))))
      else Nil
    (layout ++
      Seq((FormatBucket, Option(StateFormat.toString)),
        (SchemaBucket, Option(schemaDDL))) ++
      (0 until numBuckets).map(b => (b, refs.get(b))))
      .toDF("bucket", "ref")
  }

  /** Write `state` as one immutable segment, partitioned by bucket;
    * returns the refs of the buckets that actually hold rows (an
    * emptied bucket writes nothing and drops out of the manifest). */
  private def writeSegment(spark: SparkSession, root: String, state: DataFrame,
                           groupCols: Seq[String], numBuckets: Int): Map[Int, String] = {
    val seg = s"seg-${java.util.UUID.randomUUID}"
    // bucket-column-less targets (DerivedSpec) live whole in bucket 0
    val bexpr = if (groupCols.isEmpty) lit(0)
                else bucketExpr(groupCols, numBuckets)
    // One write task per bucket EXACTLY (r21, guide §2.5): partitioning
    // on the derived bucket VALUE re-hashes it — B distinct values into
    // B partitions leaves ~1/e of tasks empty and piles 2-3 buckets on
    // others, a built-in straggler for every segment write once buckets
    // carry real data. Partitioning on the bucket COLUMNS instead makes
    // Spark's partition id — pmod(murmur3(cols), B), the same
    // expression as [[bucketExpr]] — the bucket id itself, so the
    // assignment is 1:1: task b writes bucket b's dir, one file. Rows,
    // refs, and the dir layout are identical either way (the dir is
    // keyed by the bucket column's VALUE, not by which task wrote it);
    // the shuffle stays |touched state|-sized.
    val partExprs = if (groupCols.isEmpty) Seq(col(BucketCol))
                    else groupCols.map(col)
    state.withColumn(BucketCol, bexpr)
      .repartition(numBuckets, partExprs: _*)
      .write.partitionBy(BucketCol).mode("overwrite")
      .parquet(s"$root/state_segments/$seg")
    // non-empty buckets from the written layout — a directory listing,
    // not a recompute of the state
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      spark.sparkContext.hadoopConfiguration)
    val it = fc.listStatus(new org.apache.hadoop.fs.Path(s"$root/state_segments/$seg"))
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(s"$BucketCol="))
      .map(n => n.stripPrefix(s"$BucketCol=").toInt)
      .map(b => b -> s"$seg/$BucketCol=$b")
      .toMap
  }

  private def emptyState(spark: SparkSession, schemaDDL: String): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(schemaDDL))

  /** Reader schema for state-segment reads, from the manifest's
    * recorded DDL (r20): every segment read previously ran a footer
    * schema-inference JOB before the actual scan — pure fixed latency
    * (profiled at ~1 s per read under a concurrent family batch, ×20
    * reads per gate). The manifest already records the state schema;
    * fields are forced nullable to match exactly what footer inference
    * produced, so plans and results are byte-identical. */
  private def readerSchema(schemaDDL: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructType.fromDDL(schemaDDL)
        .map(_.copy(nullable = true)))

  /** The maintained state of one view, served by a store version
    * (current by default) — the union of every referenced bucket. */
  def readView(spark: SparkSession, root: String, view: String,
               version: Option[Long] = None): DataFrame = {
    val snap = version.fold(AtomicPublish.snapshot(spark, root))(
      AtomicPublish.snapshotAt(spark, root, _))
    val m = readManifest(spark, snap, s"${view}_manifest")
    if (m.refs.isEmpty) emptyState(spark, m.schemaDDL)
    else spark.read.schema(readerSchema(m.schemaDDL))
      .parquet(m.refs.values.toSeq.distinct.sorted
        .map(r => s"${snap.root}/state_segments/$r"): _*)
  }

  /** BUCKET-PRUNED serving read — the point of bucketing the state in
    * the first place: a reader whose predicate pins the view's bucket
    * columns to a value list opens ONLY the buckets those values hash
    * into, not the whole state. For the `term`-bucketed postings
    * replica this turns a BM25 query's index read from "every postings
    * file, filter pushed" into "the query terms' buckets" — serve cost
    * ∝ the queried values' share of the state, independent of |state|.
    *
    * CONTRACT — superset, not filter: returns every row of the buckets
    * that the `values` tuples (one per row of `forCols`, typed exactly
    * as the state columns) hash into, which contains all rows whose
    * `forCols` equal any tuple PLUS hash-cohabitants; the caller still
    * applies its own filter. Pruning engages only when the manifest
    * records that this view is bucketed on exactly `forCols` (order
    * included — the hash is order-sensitive); any other or unrecorded
    * layout returns the FULL view, so the superset contract holds on
    * every store, including pre-layout-metadata ones. The bucket ids
    * are the writer's expression evaluated on typed literals, no
    * DataFrame ([[bucketOf]]): each value becomes a literal of its
    * state column's type ([[typedLiteral]]), so a wrongly-typed value
    * fails loudly rather than pruning to the wrong bucket. */
  def readViewPruned(spark: SparkSession, root: String, view: String,
                     forCols: Seq[String], values: Seq[Seq[Any]],
                     version: Option[Long] = None): DataFrame = {
    require(forCols.nonEmpty, "forCols must name at least one column")
    require(values.forall(_.size == forCols.size),
      s"every values tuple must have ${forCols.size} element(s) (one per forCols)")
    val snap = version.fold(AtomicPublish.snapshot(spark, root))(
      AtomicPublish.snapshotAt(spark, root, _))
    val m = readManifest(spark, snap, s"${view}_manifest")
    val pruned: Option[Map[Int, String]] =
      if (!m.bucketCols.contains(forCols) || values.isEmpty) None
      else {
        val stateType = org.apache.spark.sql.types.StructType
          .fromDDL(m.schemaDDL)
        val buckets = values.map(v => bucketOf(forCols.zip(v).map {
          case (c, x) => typedLiteral(x, stateType(c).dataType)
        }, m.numBuckets)).toSet
        Some(m.refs.view.filterKeys(buckets).toMap)
      }
    val refs = pruned.getOrElse(m.refs)
    if (refs.isEmpty) emptyState(spark, m.schemaDDL)
    else spark.read.schema(readerSchema(m.schemaDDL))
      .parquet(refs.values.toSeq.distinct.sorted
        .map(r => s"${snap.root}/state_segments/$r"): _*)
  }

  /** [[readViewPruned]] driven by a DATAFRAME of values instead of a
    * driver-side literal list — for readers whose pruning values are
    * themselves data (a change feed's join keys, an invalidated-group
    * set). One tiny job folds `keys` map-side to ≤ B bucket ints
    * (collect_set of the bucket hash — the [[applyOnceMulti]] probe's
    * shape), then only those buckets' refs open. `keys` must expose
    * the view's bucket columns under the same names and types; rows
    * beyond `forCols` are ignored. Same SUPERSET contract and full-view
    * fallback as the literal form. */
  def readViewPrunedBy(spark: SparkSession, root: String, view: String,
                       forCols: Seq[String], keys: DataFrame,
                       version: Option[Long] = None): DataFrame = {
    require(forCols.nonEmpty, "forCols must name at least one column")
    val missing = forCols.filterNot(keys.columns.contains)
    require(missing.isEmpty,
      s"keys is missing bucket column(s): ${missing.mkString(",")}")
    val snap = version.fold(AtomicPublish.snapshot(spark, root))(
      AtomicPublish.snapshotAt(spark, root, _))
    val m = readManifest(spark, snap, s"${view}_manifest")
    val refs =
      if (!m.bucketCols.contains(forCols)) m.refs
      else {
        // hash(int) ≠ hash(long): a silently mistyped key column would
        // prune to the WRONG buckets — fail loudly instead
        val stateSchema = org.apache.spark.sql.types.StructType
          .fromDDL(m.schemaDDL)
        forCols.foreach { c =>
          val want = stateSchema(c).dataType
          val got = keys.schema(keys.schema.fieldIndex(c)).dataType
          require(got == want,
            s"keys column '$c' is $got but the view's bucket column is " +
              s"$want — the bucket hash is type-sensitive; cast first")
        }
        val buckets = keys
          .agg(collect_set(bucketExpr(forCols, m.numBuckets)).as("b"))
          .collect()(0).getSeq[Int](0).toSet
        m.refs.view.filterKeys(buckets).toMap
      }
    if (refs.isEmpty) emptyState(spark, m.schemaDDL)
    else spark.read.schema(readerSchema(m.schemaDDL))
      .parquet(refs.values.toSeq.distinct.sorted
        .map(r => s"${snap.root}/state_segments/$r"): _*)
  }

  /** One [[readViewPrunedBy]]-shaped request for [[readViewsPruned]]:
    * `keys` (exposing `forCols` under the state's names and types)
    * names the values in play for `view` under `root` at `version`. */
  private[etl] final case class PruneRead(root: String, view: String,
      forCols: Seq[String], keys: DataFrame, version: Option[Long] = None)

  /** Several [[readViewPrunedBy]] reads resolved with ONE probe job
    * (r21, guide §2.4 — the per-batch pruned reads each paid their own
    * driver-blocking probe aggregate; a join-family batch ran four
    * back-to-back). Each prunable request contributes its keys' bucket
    * hashes, tagged by request index, to one union; a single tiny
    * aggregate folds them to per-request bucket sets. Per request the
    * contract is [[readViewPrunedBy]]'s verbatim: a view whose recorded
    * layout is not exactly `forCols` reads FULL (superset, never
    * wrong), mistyped key columns fail loudly, and an empty keys frame
    * opens nothing. */
  private[etl] def readViewsPruned(spark: SparkSession,
                                   reqs: Seq[PruneRead]): Seq[DataFrame] = {
    val resolved = reqs.map { r =>
      require(r.forCols.nonEmpty, "forCols must name at least one column")
      val missing = r.forCols.filterNot(r.keys.columns.contains)
      require(missing.isEmpty,
        s"keys is missing bucket column(s): ${missing.mkString(",")}")
      val snap = r.version.fold(AtomicPublish.snapshot(spark, r.root))(
        AtomicPublish.snapshotAt(spark, r.root, _))
      (r, snap, readManifest(spark, snap, s"${r.view}_manifest"))
    }
    val prunable = resolved.zipWithIndex.filter {
      case ((r, _, m), _) => m.bucketCols.contains(r.forCols)
    }
    val probed: Map[Int, Set[Int]] =
      if (prunable.isEmpty) Map.empty
      else {
        prunable.foreach { case ((r, _, m), _) =>
          val stateSchema = org.apache.spark.sql.types.StructType
            .fromDDL(m.schemaDDL)
          r.forCols.foreach { c =>
            val want = stateSchema(c).dataType
            val got = r.keys.schema(r.keys.schema.fieldIndex(c)).dataType
            require(got == want,
              s"keys column '$c' is $got but the view's bucket column is " +
                s"$want — the bucket hash is type-sensitive; cast first")
          }
        }
        val tagged = prunable.map { case ((r, _, m), i) =>
          r.keys.select(lit(i).as("_t"),
            bucketExpr(r.forCols, m.numBuckets).as("_b"))
        }.reduce(_ unionByName _)
        val rows = tagged.groupBy(col("_t"))
          .agg(collect_set(col("_b")).as("b")).collect()
        // a request absent from the result had ZERO key rows: it opens
        // no buckets (readViewPrunedBy's empty-keys behavior), never
        // the full view
        prunable.map { case (_, i) => i -> Set.empty[Int] }.toMap ++
          rows.map(row => row.getInt(0) -> row.getSeq[Int](1).toSet).toMap
      }
    resolved.zipWithIndex.map { case ((_, snap, m), i) =>
      val refs = probed.get(i)
        .fold(m.refs)(bs => m.refs.view.filterKeys(bs).toMap)
      if (refs.isEmpty) emptyState(spark, m.schemaDDL)
      else spark.read.schema(readerSchema(m.schemaDDL))
        .parquet(refs.values.toSeq.distinct.sorted
          .map(ref => s"${snap.root}/state_segments/$ref"): _*)
    }
  }

  /** [[readView]] of the single-view store's default view. */
  def readState(spark: SparkSession, root: String,
                version: Option[Long] = None): DataFrame =
    readView(spark, root, DefaultView, version)

  /** EVERY feed's EVERY target's touched-bucket set in ONE Spark job
    * (r21, guide §2.4): per feed, a global aggregate folds each
    * partition map-side to ≤ B ints per target (no shuffle of feed
    * rows) and wraps them as one (target → buckets) map row; the
    * per-feed rows union into a single action whose collect drains
    * them all. The r15 layout ran one feed-scanning
    * `distinct().collect()` per target per batch; r20 folded that to
    * one probe JOB per distinct feed, overlapped on the step pool —
    * still one driver-blocking job schedule per feed, and for a
    * feed-per-target family (applyOnceFeeds — the one-root join
    * family's six familyDeltas outputs) six probe jobs per batch.
    * This folds them into ONE job whose independent branches the
    * scheduler overlaps at stage level; each branch remains its own
    * feed's cache-materializing action, and nothing new is persisted.
    * A feed with only bucket-column-less targets (DerivedSpec —
    * rewritten whole each round, touched = every bucket) contributes
    * a count branch: still that feed's materializer, no probe rows. */
  private def touchedBucketsAll(
      groups: Seq[(DataFrame, Seq[(TargetSpec, Int)])]): Map[String, Set[Int]] = {
    val all = groups.flatMap { case (_, ts) =>
      ts.filter(_._1.bucketCols.isEmpty)
        .map { case (t, nb) => t.name -> (0 until nb).toSet } }.toMap
    val branches = groups.map { case (f, ts) =>
      val probed = ts.filter(_._1.bucketCols.nonEmpty)
      if (probed.isEmpty)
        f.agg(count(lit(1)).as("_c"))
          .select(lit(null).cast("map<string,array<int>>").as("m"))
      else {
        val aggs = probed.map { case (t, nb) =>
          collect_set(bucketExpr(t.bucketCols, nb)).as(t.name) }
        f.agg(aggs.head, aggs.tail: _*)
          .select(map(probed.flatMap { case (t, _) =>
            Seq(lit(t.name), col(t.name)) }: _*).as("m"))
      }
    }
    val rows = branches.reduce(_ unionByName _).collect()
    all ++ rows.iterator.flatMap { r =>
      if (r.isNullAt(0)) Iterator.empty
      else r.getMap[String, scala.collection.Seq[Int]](0).iterator
    }.map { case (k, v) => k -> v.toSet }.toMap
  }

  /** Advance ONE target against the feed under `snap`, returning its
    * new manifest table (name -> rows). The delta-proportional core:
    * only the buckets the feed's rows hash into (by the target's
    * bucket columns — `touched`, precomputed for ALL targets by
    * [[touchedBucketsAll]]) are read, stepped, and rewritten; every other
    * bucket's ref is carried verbatim. */
  private def maintainView(spark: SparkSession, snap: AtomicPublish.Snapshot,
                           feed: DataFrame, target: TargetSpec,
                           manifest: StateManifest,
                           touched: Set[Int],
                           ctx: StepContext): (String, DataFrame, SteppedState) = {
    val StateManifest(numBuckets, refs, schemaDDL, _) = manifest
    val prevTouched = {
      val paths = touched.toSeq.sorted.flatMap(refs.get).distinct
        .map(r => s"${snap.root}/state_segments/$r")
      if (paths.isEmpty) emptyState(spark, schemaDDL)
      else spark.read.schema(readerSchema(schemaDDL)).parquet(paths: _*)
    }
    val newRefs = writeSegment(spark, snap.root,
      target.step(prevTouched, feed, ctx),
      target.bucketCols, numBuckets)
    val allRefs = (refs -- touched) ++ newRefs
    (target.manifestT,
      manifestDF(spark, numBuckets, allRefs, schemaDDL, target.bucketCols),
      SteppedState(snap.root, target.bucketCols, numBuckets, allRefs, schemaDDL))
  }

  /** The shared maintenance round: read every target's manifest, probe
    * all touched buckets in one job PER DISTINCT FEED, advance every
    * target in dependency order (a target's `dependsOn` siblings must
    * be LISTED before it — their post-batch state is what its step may
    * rescan), and commit all new manifests + the ledger delta as ONE
    * atomic publish. Targets are paired with their feeds — the
    * single-feed callers pass the same frame for every target (one
    * probe job, unchanged cost), [[applyOnceFeeds]] passes one per
    * target (one probe job per distinct feed, each feed-sized). */
  private def maintainRound(spark: SparkSession, root: String,
                            snap: AtomicPublish.Snapshot,
                            targetFeeds: Seq[(TargetSpec, DataFrame)],
                            ledger: DataFrame): Unit = {
    val views = targetFeeds.map(_._1)
    val idx = views.map(_.name).zipWithIndex.toMap
    views.zipWithIndex.foreach { case (v, i) =>
      v.dependsOn.foreach { dep =>
        require(idx.get(dep).exists(_ < i),
          s"target '${v.name}' depends on '$dep', which must be listed " +
            "before it in the store's target sequence")
      }
    }
    val manifests = views.map(v => readManifest(spark, snap, v.manifestT))
    // one touched-bucket probe job for ALL distinct feed frames
    // (reference identity — DataFrames don't define value equality):
    // each feed folds to one map row, the rows union into a single
    // action (r21; see touchedBucketsAll). Each branch is also its
    // feed's cache-materializing action, so the expensive part of a
    // feed-per-target family batch (applyOnceFeeds — o26's six
    // familyDeltas outputs) runs as one job's concurrently-scheduled
    // stages instead of six pool-overlapped probe jobs (r20's form),
    // and a plain store keeps its single probe job unchanged.
    val touched: Map[String, Set[Int]] = {
      val groups = targetFeeds.zip(manifests)
        .groupBy { case ((_, f), _) => f }.toSeq
        .map { case (f, group) =>
          f -> group.map { case ((v, _), m) => (v, m.numBuckets) } }
      touchedBucketsAll(groups)
    }
    // INDEPENDENT targets advance CONCURRENTLY within the one round —
    // the intra-root analogue of Coordinator.advanceMembers, and what
    // keeps the one-commit layout from serializing the six view steps
    // a multi-root family would run in parallel (the sf1 steady-state
    // rehearsal measured exactly that trade before this: one-root won
    // the commit floor at sf0.1 but lost the data-bound regime at sf1
    // to serialization). Targets are grouped into dependency LAYERS
    // (a target lands one layer after the deepest sibling it rescans
    // via StepContext); layers run in order with a barrier, a layer's
    // targets run on the shared pool. `stepped` is a TrieMap so a
    // later layer's pool thread safely reads states the previous
    // layer published. Segment writes are UUID-named (no collision),
    // manifests are per-target, and NOTHING commits until the single
    // atomic publish below — concurrency never touches the
    // exactly-once or crash story.
    val stepped = scala.collection.concurrent.TrieMap.empty[String, SteppedState]
    val ctx = new StepContext(spark, stepped)
    val layerOf = scala.collection.mutable.Map.empty[String, Int]
    views.foreach { v =>
      layerOf(v.name) =
        if (v.dependsOn.isEmpty) 0
        else v.dependsOn.map(d => layerOf(d) + 1).max
    }
    val outs = new Array[(String, DataFrame)](views.size)
    targetFeeds.zip(manifests).zipWithIndex
      .groupBy { case (((v, _), _), _) => layerOf(v.name) }
      .toSeq.sortBy(_._1)
      .foreach { case (_, layer) =>
        val results = inParallel(layer.map { case (((v, feed), m), i) =>
          () => (i, v.name,
            maintainView(spark, snap, feed, v, m, touched(v.name), ctx))
        })
        results.foreach { case (i, name, (table, mdf, postBatch)) =>
          stepped(name) = postBatch
          outs(i) = table -> mdf
        }
      }
    try AtomicPublish.publish(spark, root, outs.toSeq :+ (AppliedT -> ledger),
      expectedBase = Some(Some(snap.version)))
    finally ctx.releaseManaged()
    ()
  }

  /** Run `thunks` concurrently on the shared daemon pool, bounded by a
    * per-call semaphore (the [[graft.etl.Coordinator.advanceMembers]]
    * pattern: cached daemon threads reused across batches, per-call
    * bound so two stores' rounds never starve each other through a
    * shared cap). Waits for ALL to settle; rethrows the first failure
    * in input order. A single thunk runs inline — no pool round-trip
    * for the common single-target store. */
  private def inParallel[T](thunks: Seq[() => T],
                            parallelism: Int = 8): Seq[T] =
    if (thunks.sizeIs <= 1) thunks.map(_())
    else {
      import scala.jdk.CollectionConverters._
      val gate = new java.util.concurrent.Semaphore(
        math.max(1, math.min(parallelism, thunks.size)))
      // SparkPlan captures SparkSession.getActiveSession AT CONSTRUCTION
      // (thread-local): a cached pool thread either has no active
      // session or — worse — one inherited from whichever thread first
      // created it, possibly a long-stopped one. Pin the CALLER's
      // active session in every task so plans built on pool threads
      // (maintainView's reads, persist's InMemoryRelation) bind to the
      // session actually driving this round.
      val callerSession =
        org.apache.spark.sql.SparkSession.getActiveSession
      val tasks = thunks.map { t =>
        new java.util.concurrent.Callable[T] {
          def call(): T = {
            callerSession.foreach(
              org.apache.spark.sql.SparkSession.setActiveSession)
            gate.acquire()
            try t() finally gate.release()
          }
        }
      }
      try stepPool.invokeAll(tasks.asJava).asScala.toSeq.map(_.get())
      catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
    }

  /** Shared daemon pool for [[inParallel]] — lazily built once per
    * JVM, cached (idle threads reaped after 60 s), daemon so a hung
    * step never blocks JVM exit. */
  private lazy val stepPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-target-step-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })

  /** EXACTLY-ONCE application of one CDC batch to EVERY maintained view
    * of a store — the consumer side of a change-feed stream (a
    * foreachBatch body at minute cadence), and the production form of
    * the amortization claim: the feed is read once per view's delta
    * aggregation, but the diff that produced it is computed (or
    * received) ONCE, and all views advance TOGETHER. Because every
    * view's manifest and the shared [[AppliedT]] ledger commit in ONE
    * atomic publish, the ledger can never disagree with any state it
    * describes, and a reader can never observe view A at batch N next
    * to view B at batch N−1: a checkpoint-replayed batch finds its own
    * id and returns false without touching anything, and a crash
    * between maintain and commit leaves the previous version of EVERY
    * view serving — there is no partial application to observe.
    * `expectedBase` pins the snapshot the maintenance read, so a
    * concurrent publisher surfaces as a publish conflict rather than a
    * lost update. Returns true iff the batch was applied.
    *
    * DELTA-PROPORTIONAL WRITES per view: a batch touching k of B
    * buckets costs k bucket reads + k bucket writes + (B+1) manifest
    * rows — independent of |groups| outside the touched buckets.
    *
    * The ledger costs one long per batch EVER applied (a year of
    * minute-cadence ingest ≈ 0.5M rows — noise next to any real
    * state); re-seeding via [[publishInitialMulti]] from a fresh base
    * rebase resets it, the same device as the ANN store's rebuild.
    *
    * `views` must be the seeded set (same names). Call
    * [[publishInitialMulti]] once to seed the store. */
  def applyOnceMulti(spark: SparkSession, root: String, feed: DataFrame,
                     batchId: Long, views: Seq[TargetSpec]): Boolean =
    graft.PhaseClock.batchAt(root) {
      applyOnceMultiImpl(spark, root, feed, batchId, views) }

  private def applyOnceMultiImpl(spark: SparkSession, root: String,
                                 feed: DataFrame, batchId: Long,
                                 views: Seq[TargetSpec]): Boolean = {
    import spark.implicits._
    require(views.nonEmpty, "no views")
    require(views.map(_.name).distinct.size == views.size,
      s"duplicate view names: ${views.map(_.name).mkString(",")}")
    // one pointer resolution: the snapshot read IS the expectedBase pin
    // (reading the pointer twice would let a publish land in between and
    // surface as a spurious conflict)
    val snap = AtomicPublish.snapshot(spark, root)
    val applied = readLedger(spark, snap)
    if (applied.contains(batchId)) false
    else {
      // The feed is delta-sized by contract but its PLAN need not be
      // delta-cheap (ChangeFeed.diff is a keyed full-outer join over
      // both snapshots), and one maintenance round evaluates it once
      // per target's step (plus a strict replica's preimage probe).
      // Materialize it once for the round — a CDC batch is exactly the
      // thing production pins in memory — with the all-targets
      // touched-bucket probe as the materializing action. A feed the
      // CALLER already persisted is left alone: its cache is shared
      // (Coordinator.advanceMembers feeds several members one frame,
      // and derived feeds like a join view's may still be
      // materializing against it on a sibling thread), so the first
      // member to finish must not unpersist it out from under the
      // others — the caller owns that cache's lifetime.
      val callerCached =
        feed.storageLevel != org.apache.spark.storage.StorageLevel.NONE
      val f = if (callerCached) feed else feed.persist()
      try maintainRound(spark, root, snap, views.map(v => (v, f)),
        (applied :+ batchId).toDF("batch_id"))
      finally { if (!callerCached) f.unpersist(); () }
      true
    }
  }

  /** Single-view [[applyOnceMulti]] against the default view. */
  def applyOnce(spark: SparkSession, root: String, feed: DataFrame,
                batchId: Long, groupCols: Seq[String],
                sumCols: Seq[(String, String)]): Boolean =
    applyOnceMulti(spark, root, feed, batchId,
      Seq(ViewSpec(DefaultView, groupCols, sumCols)))

  /** One target paired with ITS OWN feed — the unit of
    * [[applyOnceFeeds]] / [[publishInitialSeeds]]. `rows` is the feed
    * (a [[ChangeFeed.diff]] output) for maintenance, the seed rows for
    * the initial publish. Several entries may share one frame (shared
    * by REFERENCE — it is probed and persisted once). */
  final case class TargetFeed(target: TargetSpec, rows: DataFrame)

  /** [[applyOnceMulti]] with a feed PER TARGET under ONE root — the
    * commit-amplification fix the r19 verdict priced (missing #2):
    * `applyOnceMulti` takes one feed for all of a root's targets, so a
    * family of views whose six forms need six DIFFERENT feeds (the o25
    * join family) had to live in six separate stores — six ledgered
    * commits plus six pointer swaps per batch where the DATA only
    * needs one. Here all targets share ONE root, ONE exactly-once
    * ledger, and ONE atomic publish per batch: the per-batch fixed
    * floor is one commit regardless of how many sibling views the
    * family maintains, and a reader pinning the root's single version
    * sees every sibling at the same batch BY CONSTRUCTION (stronger
    * than a cross-store cut — there is nothing to coordinate).
    *
    * Cost note: one touched-bucket probe job per DISTINCT feed frame
    * (each feed-sized, over the caller's persisted feeds) replaces the
    * per-store probes the multi-root layout paid anyway — the saving
    * is pure commit overhead: 1 ledger append + 1 manifest set + 1
    * pointer CAS instead of k. Exactly-once, crash, and conflict
    * semantics are [[applyOnceMulti]]'s verbatim (same snapshot pin,
    * same ledger, same publish). Feeds the caller already persisted
    * are left alone, same contract as [[applyOnceMulti]]. */
  def applyOnceFeeds(spark: SparkSession, root: String, batchId: Long,
                     targets: Seq[TargetFeed]): Boolean =
    graft.PhaseClock.batchAt(root) {
      applyOnceFeedsImpl(spark, root, batchId, targets) }

  private def applyOnceFeedsImpl(spark: SparkSession, root: String,
                                 batchId: Long,
                                 targets: Seq[TargetFeed]): Boolean = {
    import spark.implicits._
    require(targets.nonEmpty, "no targets")
    require(targets.map(_.target.name).distinct.size == targets.size,
      s"duplicate view names: ${targets.map(_.target.name).mkString(",")}")
    val snap = AtomicPublish.snapshot(spark, root)
    val applied = readLedger(spark, snap)
    if (applied.contains(batchId)) false
    else {
      // persist each DISTINCT caller-unpersisted feed for the round
      // (its touched-bucket probe is the materializing action);
      // caller-persisted feeds are left alone — applyOnceMulti's
      // ownership rule, per feed
      val distinctFeeds = targets.map(_.rows).distinct
      val toCache = distinctFeeds.filter(
        _.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      toCache.foreach(_.persist())
      try maintainRound(spark, root, snap,
        targets.map(tf => (tf.target, tf.rows)),
        (applied :+ batchId).toDF("batch_id"))
      finally { toCache.foreach(_.unpersist()); () }
      true
    }
  }

  /** Seed a per-target-feed store ([[applyOnceFeeds]]' counterpart to
    * [[publishInitialMulti]]): every target's initial state from ITS
    * OWN seed rows plus one empty shared ledger, committed as one
    * atomic publish; returns the version. Frames shared by reference
    * are persisted once for the seeding round. */
  def publishInitialSeeds(spark: SparkSession, root: String,
                          targets: Seq[TargetFeed]): Long =
    graft.PhaseClock.seedAt(root) {
      publishInitialSeedsImpl(spark, root, targets) }

  private def publishInitialSeedsImpl(spark: SparkSession, root: String,
                                      targets: Seq[TargetFeed]): Long = {
    import spark.implicits._
    require(targets.nonEmpty, "no targets")
    require(targets.map(_.target.name).distinct.size == targets.size,
      s"duplicate view names: ${targets.map(_.target.name).mkString(",")}")
    val distinctRows = targets.map(_.rows).distinct
    val toCache = distinctRows.filter(
      _.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    toCache.foreach(_.persist())
    // independent seeds write their segments concurrently, same as
    // publishInitialMulti — one atomic publish commits them together
    try AtomicPublish.publish(spark, root,
      inParallel(targets.map { case TargetFeed(v, rows) => () =>
        val state = v.seed(rows)
        val refs = writeSegment(spark, root, state, v.bucketCols, v.numBuckets)
        v.manifestT -> manifestDF(spark, v.numBuckets, refs, state.schema.toDDL,
          v.bucketCols)
      }) :+ (AppliedT -> Seq.empty[Long].toDF("batch_id")))
    finally { toCache.foreach(_.unpersist()); () }
  }

  /** CATCH-UP application: a consumer that fell N batches behind
    * applies them as ONE maintenance round — the unapplied feeds fold
    * into the net feed ([[ChangeFeed.composeAll]]), every view advances
    * once against it, and ALL the composed-in batch ids join the
    * ledger in the same atomic publish. Exactly-once therefore
    * survives arbitrary regrouping: a later replay of any INDIVIDUAL
    * batch finds its id and no-ops, and a crash mid-catch-up leaves
    * every view and the ledger at the pre-catch-up version together.
    *
    * `feeds` are (batchId, feed) in CHAIN ORDER and must be
    * consecutive ([[ChangeFeed.composeAll]]'s contract). An
    * already-applied PREFIX is skipped (the checkpoint-replay shape: a
    * restart re-offers batches the crashed run published); an applied
    * batch AFTER an unapplied one cannot happen on a consistent chain
    * and fails loudly instead of silently re-applying or skipping.
    * Returns how many batches were applied (0 = nothing to do).
    *
    * Cost: ONE keyed aggregate over the unioned feeds + ONE
    * maintenance round, versus N maintenance rounds and N publishes
    * batch-by-batch — the compaction a woken-up consumer's ops schedule
    * wants. That aggregate is the round's one cache: the backlog is read
    * once, stored or lazy, and `strict`'s check ([[ChangeFeed.composeAll]])
    * materializes it. A broken seam fails loudly naming this store's
    * root and the batch ids on both sides of it; nothing is committed. */
  def applyComposedMulti(spark: SparkSession, root: String,
                         feeds: Seq[(Long, DataFrame)], key: Seq[String],
                         views: Seq[TargetSpec],
                         strict: Boolean = false): Int =
    graft.PhaseClock.batchAt(root) {
      applyComposedMultiImpl(spark, root, feeds, key, views, strict) }

  private def applyComposedMultiImpl(spark: SparkSession, root: String,
                                     feeds: Seq[(Long, DataFrame)],
                                     key: Seq[String],
                                     views: Seq[TargetSpec],
                                     strict: Boolean): Int = {
    import spark.implicits._
    require(feeds.nonEmpty, "no feeds")
    require(feeds.map(_._1).distinct.size == feeds.size,
      s"duplicate batch ids: ${feeds.map(_._1).mkString(",")}")
    require(views.nonEmpty, "no views")
    val snap = AtomicPublish.snapshot(spark, root)
    val applied = readLedger(spark, snap)
    val ids = feeds.map(_._1)
    val alreadyApplied = applied.toSet.intersect(ids.toSet)
    val todo = feeds.dropWhile { case (id, _) => alreadyApplied(id) }
    val stray = todo.map(_._1).filter(alreadyApplied)
    require(stray.isEmpty,
      s"chain inconsistency: batch(es) ${stray.mkString(",")} already " +
        s"applied AFTER unapplied batch ${todo.head._1} — the offered " +
        "chain does not match the ledger")
    if (todo.isEmpty) 0
    else {
      // the composition's one aggregate is the round's cache (see Cost)
      var held = Option.empty[DataFrame]
      try {
        val netFeed = try ChangeFeed.composeHeld(todo.map(_._2), key, strict) { agg =>
          held = Some(agg)
          agg.persist()
        } catch {
          case e: ChangeFeed.BrokenSeam => throw new IllegalArgumentException(
            s"catch-up of $root: batch ${todo(e.before)._1} → batch " +
              s"${todo(e.after)._1}: ${e.getMessage}", e)
        }
        maintainRound(spark, root, snap, views.map(v => (v, netFeed)),
          (applied ++ todo.map(_._1)).toDF("batch_id"))
      } finally held.foreach(_.unpersist())
      todo.size
    }
  }

  /** Single-view [[applyComposedMulti]] against the default view. */
  def applyComposed(spark: SparkSession, root: String,
                    feeds: Seq[(Long, DataFrame)], key: Seq[String],
                    groupCols: Seq[String],
                    sumCols: Seq[(String, String)]): Int =
    applyComposedMulti(spark, root, feeds, key,
      Seq(ViewSpec(DefaultView, groupCols, sumCols)))

  /** Seed a multi-view maintained store: every view's initial bucketed
    * state plus one empty shared ledger, committed as one atomic
    * publish; returns the version. Each view's `numBuckets` is fixed
    * for the store's lifetime — size it so one bucket's groups fit
    * comfortably in one task (10⁸ groups / 1024 buckets ≈ 10⁵ rows per
    * bucket file). */
  def publishInitialMulti(spark: SparkSession, root: String, rows: DataFrame,
                          views: Seq[TargetSpec]): Long =
    graft.PhaseClock.seedAt(root) {
      publishInitialMultiImpl(spark, root, rows, views) }

  private def publishInitialMultiImpl(spark: SparkSession, root: String,
                                      rows: DataFrame,
                                      views: Seq[TargetSpec]): Long = {
    import spark.implicits._
    require(views.nonEmpty, "no views")
    require(views.map(_.name).distinct.size == views.size,
      s"duplicate view names: ${views.map(_.name).mkString(",")}")
    // materialize the base once for the seeding round: every target's
    // seed reads `rows`, and the caller's plan need not be cheap (ir5
    // seeds three targets from a corpus-wide tokenize+aggregate) —
    // the same convention as applyOnceMulti's feed persist
    val r = rows.persist()
    // seeds are independent (a derived target seeds from its base's
    // SEED FUNCTION, not the sibling's written state) — write every
    // view's initial segments concurrently, then the one publish
    try AtomicPublish.publish(spark, root,
      inParallel(views.map { v => () =>
        val state = v.seed(r)
        val refs = writeSegment(spark, root, state, v.bucketCols, v.numBuckets)
        v.manifestT -> manifestDF(spark, v.numBuckets, refs, state.schema.toDDL,
          v.bucketCols)
      }) :+ (AppliedT -> Seq.empty[Long].toDF("batch_id")))
    finally { r.unpersist(); () }
  }

  /** Single-view [[publishInitialMulti]] under the default view name. */
  def publishInitial(spark: SparkSession, root: String, rows: DataFrame,
                     groupCols: Seq[String], sumCols: Seq[(String, String)],
                     numBuckets: Int = 64): Long =
    publishInitialMulti(spark, root, rows,
      Seq(ViewSpec(DefaultView, groupCols, sumCols, numBuckets)))

  /** Reclaim state segments no retained version's manifests (of ANY
    * view) reference — conflict losers, crashed publishers, segments
    * whose last referencing version was vacuumed. Age-guarded like
    * [[AtomicPublish.vacuum]]: a fresh unreferenced segment may belong
    * to an in-flight [[applyOnce]] between its write and its publish.
    * Returns the reclaimed segment dir names. */
  def vacuumSegments(spark: SparkSession, root: String,
                     minAgeMs: Long = AtomicPublish.DefaultVacuumMinAgeMs): Seq[String] = {
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      spark.sparkContext.hadoopConfiguration)
    val segRoot = new org.apache.hadoop.fs.Path(s"$root/state_segments")
    if (!fc.util.exists(segRoot)) return Nil
    val rootPath = new org.apache.hadoop.fs.Path(root)
    def ls(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val it = fc.listStatus(p)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
    }
    val versions = ls(rootPath).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("v")).flatMap(_.drop(1).toLongOption)
    // Read the pointer ONCE: versions at or below it are COMMITTED —
    // their manifests are immutable and complete, so an unreadable one
    // is a transient failure (or a concurrent vacuum), NEVER a torn
    // write. Treating it as "references nothing" would drop the
    // CURRENT state's long-carried segments from the live set and
    // delete them (untouched-bucket refs are typically far older than
    // minAgeMs, so the age guard does not save them). Versions ABOVE
    // the pointer are claims — possibly half-written by a crashed or
    // in-flight publisher — and keeping nothing from an unreadable one
    // is the correct conservative-in-the-other-direction call: its
    // segments stay protected by the age guard until the claim is
    // either committed or itself vacuumed.
    val committedAtOrBelow = AtomicPublish.currentVersion(spark, root)
    val live: Set[String] = versions.flatMap { v =>
      val snap = AtomicPublish.Snapshot(root, v)
      // every view's manifest in this version — discovered from the
      // version dir itself, so vacuum needs no view list
      val manifests = try ls(new org.apache.hadoop.fs.Path(s"$root/v$v"))
        .filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.endsWith("_manifest"))
      catch { case _: java.io.FileNotFoundException => Nil }
      manifests.flatMap { t =>
        try readManifest(spark, snap, t).refs.values.map(_.split('/').head).toSeq
        catch {
          case _: Exception if !committedAtOrBelow.exists(v <= _) =>
            Nil // above-pointer claim: possibly half-written, keep nothing
          case e: Exception =>
            // committed version: tolerate only "the version dir itself
            // vanished" (a concurrent AtomicPublish.vacuum reclaimed it
            // mid-scan — its references genuinely no longer pin
            // anything); anything else aborts the pass rather than
            // risking deletion of segments the current state references
            if (!fc.util.exists(new org.apache.hadoop.fs.Path(s"$root/v$v"))) Nil
            else throw new IllegalStateException(
              s"vacuumSegments aborted: manifest '$t' of COMMITTED " +
                s"version v$v under $root is unreadable — refusing to " +
                "treat it as empty (that would delete live segments); " +
                s"retry after the transient failure clears", e)
        }
      }
    }.toSet
    val now = System.currentTimeMillis()
    ls(segRoot).filter(_.isDirectory)
      .map(s => (s.getPath, s.getModificationTime))
      .filter { case (p, m) =>
        !live.contains(p.getName) &&
          now - AtomicPublish.newestUnder(fc, p, m) >= minAgeMs
      }.map { case (p, _) => fc.delete(p, true); p.getName }
  }
}
