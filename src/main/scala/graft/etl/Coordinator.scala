package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-STORE consistent cuts — the stretch form of the r16 verdict's
  * atomicity note: each [[AtomicPublish]] store (the warehouse's
  * maintained views, the ANN index, the retrieval index) commits
  * atomically and exactly-once ON ITS OWN, but nothing relates their
  * versions, so a reader resolving two stores independently can
  * observe the warehouse at batch N beside the index at batch N−1.
  *
  * The fix is the catalog pattern (Iceberg's REST-catalog multi-table
  * commit, a lakehouse metastore's transaction log): a COORDINATOR
  * root — itself a plain [[AtomicPublish]] store — whose one tiny
  * table records a CUT, `(store, version)` for every member. One
  * committed coordinator version IS one consistent cross-store
  * snapshot: readers resolve the cut once ([[currentCut]] /
  * [[cutAt]]) and pin every member read to its recorded version
  * (the members' version dirs are immutable and vacuum-protected by
  * retention, exactly like any time-travel read).
  *
  * Write protocol per batch: advance each member store through its
  * OWN exactly-once commit (IncrementalAgg.applyOnceMulti, the ANN
  * store's append/delete — unchanged), then [[commitCut]] the new
  * version pair(s). Failure analysis:
  *   - crash BETWEEN member commits: members that committed are
  *     invisible to coordinator readers (the cut still names the old
  *     versions) — stale but CONSISTENT, never mixed;
  *   - recovery: re-run the batch — every member's own ledger makes
  *     its replay a no-op, the re-run reaches commitCut, and the cut
  *     lands; a batch that advanced only SOME members before dying is
  *     therefore self-healing, which is exactly why the members'
  *     exactly-once ledgers stay where they are instead of moving
  *     into the coordinator;
  *   - concurrent coordinators: commitCut pins `expectedBase` by
  *     default to the cut it read at entry, so two racing batches
  *     surface as [[java.util.ConcurrentModificationException]]
  *     (AtomicPublish's claim/CAS protocol), never a lost cut.
  *
  * Scale: a cut is |stores| rows — the coordinator's cost per batch
  * is one tiny parquet write + one pointer swap, independent of data
  * size; retention/vacuum of member stores must keep every version
  * any RETAINED cut references (same contract as their own time
  * travel — prune coordinator versions first, then members). That
  * rule is ENFORCED, not prose: vacuum members through
  * [[vacuumMember]], which protects every version a retained cut
  * names ([[referencedVersions]]) no matter how small `keep` is.
  */
object Coordinator {

  /** The coordinator's single table: (store, version) rows. */
  val StoresT = "stores"

  /** Commit a new cut. `cut` must name every member the coordinator
    * tracks (a cut is a complete snapshot, not a delta — carry
    * forward unchanged members' versions from [[currentCut]]).
    * `expectedBase`: `None` (default) pins the coordinator version
    * read at entry — a concurrent cut commit surfaces as a publish
    * conflict; pass `Some(base)` to pin an earlier read. Returns the
    * committed coordinator version. */
  def commitCut(spark: SparkSession, root: String, cut: Map[String, Long],
                expectedBase: Option[Option[Long]] = None): Long = {
    import spark.implicits._
    require(cut.nonEmpty, "a cut must name at least one store")
    AtomicPublish.publish(spark, root,
      Seq(StoresT -> cut.toSeq.sorted.toDF("store", "version")),
      expectedBase)
  }

  private def decode(spark: SparkSession,
                     snap: AtomicPublish.Snapshot): Map[String, Long] =
    // DRIVER-SIDE read (r20): a cut is |stores| rows — resolving it
    // through a Spark job per read was fixed latency on every
    // version-pinned read path; LocalParquet reads the same files
    // in-process, and a repeat read of a version is memoized.
    LocalParquet.read(spark.sparkContext.hadoopConfiguration,
      s"${snap.root}/v${snap.version}/$StoresT", Seq("store", "version"))
      ._2.map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The current committed cut — resolve ONCE per job and pin every
    * member read to it ([[graft.etl.IncrementalAgg.readView]]'s /
    * [[graft.ops.AnnIndexStore.load]]'s `version` argument). */
  def currentCut(spark: SparkSession, root: String): Map[String, Long] =
    decode(spark, AtomicPublish.snapshot(spark, root))

  /** Time travel for the PAIRING itself: the cut a retained
    * coordinator version recorded — "the warehouse AND the index as
    * of batch N", one consistent historical read across stores. */
  def cutAt(spark: SparkSession, root: String, version: Long): Map[String, Long] =
    decode(spark, AtomicPublish.snapshotAt(spark, root, version))

  /** Every version of member `store` that ANY retained coordinator
    * cut references — the set a member vacuum must keep or it strands
    * a resolvable cross-store snapshot. Cost: one tiny parquet read
    * per retained coordinator version (bounded by the coordinator's
    * own `keep`, so prune the coordinator FIRST and this set shrinks
    * with it). */
  def referencedVersions(spark: SparkSession, root: String,
                         store: String): Set[Long] =
    AtomicPublish.liveVersions(spark, root)
      .flatMap(v => cutAt(spark, root, v).get(store)).toSet

  /** [[AtomicPublish.vacuum]] for a MEMBER store, cut-aware: every
    * version a retained coordinator cut references is protected from
    * deletion regardless of `keep`, so a reader resolving any
    * retained cut ([[cutAt]]) can always open the member versions it
    * names. The retention ordering the class Scaladoc states — prune
    * coordinator versions first (its own vacuum), then members (this)
    * — is thereby safe at BOTH steps instead of by convention.
    *
    * Concurrency note: `protect` is passed BY NAME, so
    * [[referencedVersions]] is read inside [[AtomicPublish.vacuum]]
    * immediately before the doomed set is computed and deleted — a cut
    * committed while vacuum's staging/claim sweeps ran is still seen.
    * The residual window (a [[commitCut]] landing between that read
    * and the deletes, naming an ALREADY-OLD member version — only a
    * backfill cut built with arbitrary versions can do this; a normal
    * cut names versions the `keep` floor retains anyway) is covered by
    * the store's standing single-writer convention: don't run a
    * backfill commitCut concurrently with a member vacuum.
    * Returns the versions actually deleted. */
  def vacuumMember(spark: SparkSession, root: String, store: String,
                   memberRoot: String, keep: Int = 2,
                   minAgeMs: Long = AtomicPublish.DefaultVacuumMinAgeMs)
      : Seq[Long] =
    AtomicPublish.vacuum(spark, memberRoot, keep, minAgeMs,
      protect = referencedVersions(spark, root, store))

  /** One member store's advance for [[advanceMembers]] — either the
    * one-feed-per-root form ([[MemberAdvance]] →
    * [[IncrementalAgg.applyOnceMulti]]) or the feed-per-target form
    * ([[MemberAdvanceFeeds]] → [[IncrementalAgg.applyOnceFeeds]]). */
  sealed trait MemberCommit { def root: String }

  /** One member store's advance for [[advanceMembers]]: the store
    * root, its batch feed, and the seeded target set
    * ([[IncrementalAgg.applyOnceMulti]]'s arguments). */
  final case class MemberAdvance(root: String, feed: DataFrame,
                                 targets: Seq[IncrementalAgg.TargetSpec])
    extends MemberCommit

  /** A feed-PER-TARGET member ([[IncrementalAgg.applyOnceFeeds]]'
    * arguments) — one ledgered commit for a whole sibling-view family
    * whose targets need different feeds. */
  final case class MemberAdvanceFeeds(root: String,
                                      targets: Seq[IncrementalAgg.TargetFeed])
    extends MemberCommit

  /** One member store's initial publish for [[seedMembers]]: either
    * one-rows-for-all-targets ([[IncrementalAgg.publishInitialMulti]])
    * or seed-rows-per-target ([[IncrementalAgg.publishInitialSeeds]]). */
  sealed trait MemberSeed { def root: String }
  final case class SeedRows(root: String, rows: DataFrame,
                            targets: Seq[IncrementalAgg.TargetSpec])
    extends MemberSeed
  final case class SeedFeeds(root: String,
                             targets: Seq[IncrementalAgg.TargetFeed])
    extends MemberSeed

  /** Seed several INDEPENDENT member stores CONCURRENTLY (r20) — the
    * one-time analogue of [[advanceMembers]]: a multi-store gate that
    * seeds its roots back-to-back pays each seed's full write+publish
    * latency serially, for stores that share nothing. Same safety
    * argument as the batch round (distinct roots required; each
    * store's publish is its own atomic commit), same pool, same
    * first-failure propagation. The whole round is ONE PhaseClock seed
    * bracket (members' own brackets nest and are suppressed globally;
    * per-root labels still attribute), exactly like advanceMembers'
    * batch bracket. Returns each member's published version in input
    * order. */
  def seedMembers(spark: SparkSession, members: Seq[MemberSeed],
                  parallelism: Int = 0): Seq[Long] =
    graft.PhaseClock.seed {
      require(members.nonEmpty, "no members")
      require(members.map(_.root).distinct.size == members.size,
        s"member roots must be distinct: ${members.map(_.root).mkString(",")}")
      val par = if (parallelism > 0) math.min(parallelism, members.size)
                else math.min(members.size, 8)
      val gate = new java.util.concurrent.Semaphore(par)
      val callerSession = org.apache.spark.sql.SparkSession.getActiveSession
      try {
        import scala.jdk.CollectionConverters._
        val tasks = members.map { m =>
          new java.util.concurrent.Callable[Long] {
            def call(): Long = {
              callerSession.foreach(
                org.apache.spark.sql.SparkSession.setActiveSession)
              gate.acquire()
              try m match {
                case SeedRows(root, rows, targets) =>
                  IncrementalAgg.publishInitialMulti(spark, root, rows, targets)
                case SeedFeeds(root, targets) =>
                  IncrementalAgg.publishInitialSeeds(spark, root, targets)
              }
              finally gate.release()
            }
          }
        }
        memberPool.invokeAll(tasks.asJava).asScala.toSeq.map(_.get())
      } catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
    }

  /** Advance several INDEPENDENT member stores through one batch
    * CONCURRENTLY — the multi-store round's latency fix: each member's
    * [[IncrementalAgg.applyOnceMulti]] pays a fixed per-commit price
    * (touched-bucket probe job + stepped write + manifest + pointer
    * swap) that is independent of the others', so running the members
    * back-to-back multiplies that floor by |stores| for no reason.
    * Here each member commits on its own pool thread (Spark's
    * scheduler interleaves the jobs), so the batch's wall-clock floor
    * is ~max over members instead of the sum — at micro-batch cadence
    * with 5 stores (the composed star-cube shape) that is the
    * dominant per-batch cost.
    *
    * SAFE because the members are DISTINCT roots (required): each
    * store's exactly-once ledger, staging dirs, and pointer are
    * private to it, and every cross-store READ in a maintenance round
    * is version-pinned to the PRE-batch cut (immutable version dirs),
    * so one member's commit cannot change what another's feed reads.
    * Callers must persist() any feed whose plan is shared or
    * expensive (the gates already do) — concurrent first-evaluation
    * of one unpersisted plan from two members would duplicate work,
    * never corrupt it.
    *
    * Failure semantics are the serial protocol's: if a member throws,
    * others may already have committed — the cut is NOT taken, readers
    * stay on the old consistent cut, and re-running the batch no-ops
    * the committed members via their ledgers ([[commitCut]]'s crash
    * analysis). The first failure is rethrown after all members
    * settle. Returns each member's applied flag in input order. */
  def advanceMembers(spark: SparkSession, batchId: Long,
                     members: Seq[MemberCommit],
                     parallelism: Int = 0): Seq[Boolean] =
    graft.PhaseClock.batch {
      advanceMembersImpl(spark, batchId, members, parallelism) }

  private def advanceMembersImpl(spark: SparkSession, batchId: Long,
                                 members: Seq[MemberCommit],
                                 parallelism: Int): Seq[Boolean] = {
    require(members.nonEmpty, "no members")
    require(members.map(_.root).distinct.size == members.size,
      s"member roots must be distinct: ${members.map(_.root).mkString(",")}")
    val par = if (parallelism > 0) math.min(parallelism, members.size)
              else math.min(members.size, 8)
    // Parallelism is a per-call SEMAPHORE over the shared pool, not a
    // per-call pool size: at micro-batch cadence a fresh pool per batch
    // churns threads every few seconds, and non-daemon workers would
    // block JVM exit if a member ever hung. A task holds a pool thread
    // while it waits on the semaphore — fine at this fan-out (≤ a
    // handful of member stores), and the cached pool reaps idle
    // threads after a minute anyway.
    val gate = new java.util.concurrent.Semaphore(par)
    try {
      import scala.jdk.CollectionConverters._
      val tasks = members.map { m =>
        new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            gate.acquire()
            try m match {
              case MemberAdvance(root, feed, targets) =>
                IncrementalAgg.applyOnceMulti(spark, root, feed, batchId,
                  targets)
              case MemberAdvanceFeeds(root, targets) =>
                IncrementalAgg.applyOnceFeeds(spark, root, batchId, targets)
            }
            finally gate.release()
          }
        }
      }
      // invokeAll waits for ALL to settle (no member is interrupted
      // mid-commit by a sibling's failure); .get() rethrows the first
      // failure in input order
      memberPool.invokeAll(tasks.asJava).asScala.toSeq.map(_.get())
    } catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }
  }

  /** Shared daemon-thread pool for [[advanceMembers]] — lazily built
    * once per JVM, cached (threads reused across batches, reaped after
    * 60 s idle), daemon so a hung member commit can never block JVM
    * exit. Unbounded on purpose: concurrency is bounded per CALL by
    * the semaphore above, so two coordinators advancing different
    * pairings never starve each other through a shared fixed cap. */
  private lazy val memberPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-member-advance-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })
}
