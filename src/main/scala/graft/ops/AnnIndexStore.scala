package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.etl.{AtomicPublish, LocalParquet}
import graft.ops.VectorSearch.{IvfModel, IvfPqModel}

/** TABLE-persisted ANN serving state — the 100 TB deployment shape the
  * session cache only rehearses (SCALE.md): train on a sample, encode
  * the corpus ONCE (map-only, ~nSub bytes/vector), persist model +
  * coded index as plain parquet tables, and serve every later query
  * batch against the read-back. Restarting the serving job costs a
  * table read, not a corpus re-encode.
  *
  * The model (IVF centroids + PQ codebook seeds + the corpus amax
  * scale) and the coded index are published as ONE
  * [[graft.etl.AtomicPublish]] batch: a serving job can never observe a
  * new index against an old codebook — the exact cross-table-atomicity
  * hazard the reference's multi-statement transactions guard against
  * (/root/reference/warehouse.py:252-301), solved here by the same
  * pointer-commit that backs `o7_atomic_publish`. Readers pin a
  * snapshot (or time travel to a retained one — the o8 shape), so a
  * rebuild mid-serve is invisible.
  *
  * LAYOUT — immutable artifacts referenced by a tiny per-version
  * manifest (the Iceberg/Delta data-file/metadata split reduced to
  * plain parquet):
  *
  *   - `root/model/<model-id>/` — the trained model's three tables,
  *     written ONCE per lineage ([[publish]] mints a fresh id) and
  *     never rewritten: codes are only comparable under one codebook,
  *     so every append/compaction of a lineage shares its model. This
  *     is what keeps a minute-cadence ingest cheap — before round 14
  *     every published version re-wrote the model tables and every
  *     append re-collected them; now a version is ONE small manifest
  *     write, and model reads are memoized per (session, model-id)
  *     (sound because a model dir is immutable once its manifest
  *     commits).
  *   - `root/seg/<seg-id>/` — immutable coded segments
  *     ([[VectorSearch.ivfPqEncode]] outputs); appends add one, never
  *     copy old ones.
  *   - `root/ts/<ts-id>/` — immutable TOMBSTONES (one `vec_id` column):
  *     the ids a [[applyDeletes]] batch removed from the corpus. The
  *     index mirrors a corpus that training pipelines DELETE from
  *     (takedowns, licence withdrawals, dedup verdicts) — the same
  *     CDC feeds that maintain the warehouse's views must reach the
  *     serving index, and re-encoding the corpus per deletion is the
  *     exact rewrite this store exists to avoid. Lucene's
  *     deletes-applied-on-merge and Delta's deletion vectors, reduced
  *     to plain parquet.
  *   - `root/v<N>/ann_manifest` — one table of (seq, kind, ref) rows:
  *     exactly one `model` row, the ordered seg/ts TIMELINE the
  *     version serves, the `applied` ledger (below), and a `format`
  *     row (2 once tombstones appear; absent/1 before — old manifests
  *     read unchanged, a FUTURE format fails with an upgrade error
  *     instead of silently serving deleted rows).
  *
  * DELETION SEMANTICS: a tombstone hides its ids in segments that
  * PRECEDE it in the manifest timeline. Appends land at the end, so a
  * document re-added after its deletion serves again (its new segment
  * follows the tombstone) — order-correct replication of the corpus,
  * not a global ban list. [[serve]] applies tombstones as ONE
  * broadcast anti join per timeline block (delta-sized — tombstones
  * are changed ids, never the corpus). The broadcast side is the raw
  * tombstone read, with no dedup stage: an anti join ignores duplicate
  * build keys, and [[applyDeletes]] already writes each tombstone
  * distinct. Segments and tombstones are read with their schemas
  * pinned ([[segSchema]], [[tsSchema]]), so loading a version plans
  * without a Spark job. [[compactSegments]] APPLIES a
  * merged segment's later tombstones physically (the merged output
  * moves to the end of the timeline, already clean), and drops
  * tombstones no segment precedes — repeated compaction converges the
  * store back to tombstone-free.
  *
  * INCREMENTAL GROWTH: [[appendEncode]] encodes ONLY the new batch and
  * publishes a manifest of (old segments :+ new segment): at 100 TB,
  * daily corpus growth costs one batch-sized encode + a pointer
  * commit, never a corpus rewrite. Re-training is a full rebuild
  * ([[publish]]), which readers again only ever see atomically.
  * Orphaned segments and model dirs (from vacuumed or never-committed
  * versions) are reclaimed by [[vacuumSegments]].
  *
  * THE APPLIED LEDGER: the manifest's `applied` rows record every
  * caller-named segment id ever appended to this lineage — appends
  * extend the list, compactions copy it verbatim, a rebuild resets it.
  * This is Delta's `txn`/streaming-transaction-id device reduced to
  * manifest rows: [[appendEncode]]'s replay guard asks "was this batch
  * id ever APPLIED?", not "is its segment still in the current
  * manifest?" — the latter breaks the moment a compaction merges the
  * just-committed segment away (a checkpoint-replayed batch would
  * re-encode, overwrite the still-referenced seg dir, and serve its
  * vectors twice). One short string per append ever; a year of
  * minute-cadence ingest is ~0.5M rows — noise next to any real index.
  *
  * Everything stored is exact-integer or an exact double (the trained
  * amax literal), so a served ranking from the read-back is
  * bit-identical to one served from the in-session model — pinned by
  * PersistedIndexSpec against sim12's oracle-gated output, and the
  * append path by IncrementalIndexSpec against a one-shot full encode.
  */
object AnnIndexStore {

  /** The single per-version table (see layout above). */
  private val ManifestT = "ann_manifest"

  /** Model tables inside `root/model/<model-id>/`. */
  private val MetaT = "ivf_meta"
  private val CentsT = "ivf_centroids"
  private val SeedsT = "pq_seeds"

  private val centSchema = StructType(Seq(
    StructField("cid", IntegerType, nullable = false),
    StructField("cent", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("cnt", LongType, nullable = false)))

  private val seedSchema = StructType(Seq(
    StructField("sid", IntegerType, nullable = false),
    StructField("qv", ArrayType(LongType, containsNull = false), nullable = false)))

  private val metaSchema = StructType(Seq(
    StructField("amax", DoubleType, nullable = false),
    StructField("n_sub", IntegerType, nullable = false)))

  /** A coded segment: [[VectorSearch.ivfPqEncode]]'s output schema
    * (IncrementalIndexSpec pins the match). Reading segments with it
    * skips parquet schema inference, which is a Spark job per read. */
  private[graft] val segSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("cid", LongType),
    StructField("__codes", ArrayType(IntegerType, containsNull = false))))

  /** A tombstone: the deleted ids. Dirs written before ids were cast
    * on write may hold INT32 ids; the parquet reader widens them. */
  private val tsSchema = StructType(Seq(StructField("vec_id", LongType)))

  private val manifestSchema = StructType(Seq(
    StructField("seq", IntegerType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("ref", StringType, nullable = false)))

  /** Highest manifest format this build reads/writes: 1 = segments
    * only (pre-tombstone), 2 = seg/ts timeline. Written as 2 only when
    * a manifest actually carries tombstones, so tombstone-free stores
    * stay byte-compatible with format-1 readers. */
  private val CurrentFormat = 2

  /** A version's decoded manifest: the model, the ORDERED seg/ts
    * timeline, and the applied ledger. */
  private final case class Manifest(modelId: String,
                                    entries: Seq[(String, String)],
                                    applied: Seq[String]) {
    def segs: Seq[String] = entries.collect { case ("seg", r) => r }
    def tombstones: Seq[String] = entries.collect { case ("ts", r) => r }
  }

  private def readManifest(spark: SparkSession,
                           snap: AtomicPublish.Snapshot): Manifest = {
    // Version detection for stores published by the pre-manifest layout
    // (one ann_segments table + ivf_* model tables inside each version
    // dir, replaced by the one-manifest layout): reading one through
    // this code would otherwise throw a bare missing-path error deep in
    // the parquet reader. The formats share no table name, so presence
    // of the legacy table is an unambiguous signal — fail with the
    // remedy instead of a stack trace.
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      spark.sparkContext.hadoopConfiguration)
    val manifestPath = new org.apache.hadoop.fs.Path(
      s"${snap.root}/v${snap.version}/$ManifestT")
    if (!fc.util.exists(manifestPath)) {
      val legacy = fc.util.exists(new org.apache.hadoop.fs.Path(
        s"${snap.root}/v${snap.version}/ann_segments"))
      if (legacy) throw new IllegalStateException(
        s"${snap.root} v${snap.version} uses the legacy ann_segments " +
          "index layout (pre-manifest); this build reads only the " +
          "one-manifest layout — rebuild the index with " +
          "AnnIndexStore.publish (re-training from the corpus resets " +
          "the store in place)")
      else throw new IllegalStateException(
        s"${snap.root} v${snap.version} is not an ANN index store: " +
          s"no $ManifestT table under the version dir")
    }
    // DRIVER-SIDE read (r20): a manifest is O(segments) rows — the
    // per-read Spark job (scan + sort + collect) was fixed latency on
    // every append and serve; LocalParquet reads the same files
    // in-process (a repeat read of a version is memoized) and the
    // sort is a driver-side sortBy.
    val rows = LocalParquet.read(spark.sparkContext.hadoopConfiguration,
      s"${snap.root}/v${snap.version}/$ManifestT", Seq("seq", "kind", "ref"))
      ._2.sortBy(_.getInt(0)).toArray
    def refs(kind: String): Seq[String] = rows.toSeq
      .filter(_.getAs[String]("kind") == kind).map(_.getAs[String]("ref"))
    refs("format").headOption.foreach { f =>
      require(f.toIntOption.exists(_ <= CurrentFormat),
        s"ANN manifest at ${snap.root} v${snap.version} has format $f " +
          s"but this engine reads ≤ $CurrentFormat — written by a newer " +
          "engine; upgrade, or rebuild the index with AnnIndexStore.publish")
    }
    // the DOWNGRADE poison is known to this reader and filtered out;
    // see [[DowngradePoison]] for why tombstone-bearing manifests
    // carry it
    val model = refs("model").filterNot(_.startsWith("poison-"))
    require(model.size == 1,
      s"corrupt manifest at ${snap.root} v${snap.version}: ${model.size} model rows")
    val entries = rows.toSeq
      .map(r => r.getAs[String]("kind") -> r.getAs[String]("ref"))
      .filter { case (k, _) => k == "seg" || k == "ts" }
    Manifest(model.head, entries, refs("applied"))
  }

  /** Write one immutable coded segment; returns its id. Segment dirs
    * live OUTSIDE version dirs (like Iceberg data files) so appends
    * never copy them; only manifests reference them. Overwrite mode so
    * a CALLER-named segment (streaming batch replay) lands
    * idempotently; uuid-named segments never collide. */
  private def writeSegment(spark: SparkSession, root: String,
                           encoded: DataFrame,
                           segmentId: Option[String] = None): String = {
    val id = segmentId.getOrElse(s"seg-${java.util.UUID.randomUUID}")
    encoded.write.mode("overwrite").parquet(s"$root/seg/$id")
    id
  }

  /** Write the trained model's three tables under a fresh immutable
    * model dir; returns its id. Only [[publish]] (full rebuild) calls
    * this — appends and compactions reference the lineage's existing
    * model by id. */
  private def writeModel(spark: SparkSession, root: String,
                         model: IvfPqModel): String = {
    val id = s"model-${java.util.UUID.randomUUID}"
    val dir = s"$root/model/$id"
    val cents = spark.createDataFrame(
      java.util.Arrays.asList(model.ivf.cents.zipWithIndex.map {
        case ((cent, cnt), i) => Row(i, cent.toSeq, cnt)
      }: _*), centSchema)
    val seeds = spark.createDataFrame(
      java.util.Arrays.asList(model.seedRows.zipWithIndex.map {
        case (qv, i) => Row(i, qv.toSeq)
      }: _*), seedSchema)
    val meta = spark.createDataFrame(
      java.util.Arrays.asList(Row(model.ivf.amaxVal, model.nSub)), metaSchema)
    // three independent tiny writes — submit concurrently (same
    // rationale as AtomicPublish.stage: pay one job latency, not three)
    val writes = Seq(MetaT -> meta, CentsT -> cents, SeedsT -> seeds)
      .map { case (t, df) =>
        val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
        val th = new Thread(() =>
          try df.write.mode("overwrite").parquet(s"$dir/$t")
          catch { case e: Throwable => err.set(e) })
        th.setDaemon(true)
        th.start()
        (th, err)
      }
    writes.foreach(_._1.join())
    writes.flatMap(w => Option(w._2.get())).headOption.foreach(throw _)
    id
  }

  // Model reads memoized per (session, model dir): a model dir is
  // immutable once any manifest referencing it commits, so the memo can
  // never serve stale state; it turns the per-micro-batch ingest cost
  // from three collect jobs into zero. Same session-lifecycle eviction
  // pattern as graft.queries.Shared (entries die with their session).
  private val modelMemo = new ConcurrentHashMap[(Int, String), IvfPqModel]()
  private val cleanupHooked = new ConcurrentHashMap[Int, Boolean]()
  private def hookCleanup(spark: SparkSession): Unit = {
    val key = System.identityHashCode(spark)
    cleanupHooked.computeIfAbsent(key, _ => {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          modelMemo.keySet.removeIf(_._1 == key)
          cleanupHooked.remove(key)
          ()
        }
      })
      true
    }): Unit
  }

  private def loadModel(spark: SparkSession, root: String,
                        modelId: String): IvfPqModel = {
    hookCleanup(spark)
    val dir = s"$root/model/$modelId"
    modelMemo.computeIfAbsent((System.identityHashCode(spark), dir), _ => {
      val metaRow = spark.read.schema(metaSchema)
        .parquet(s"$dir/$MetaT").collect()(0)
      val cents = spark.read.schema(centSchema).parquet(s"$dir/$CentsT")
        .orderBy("cid").collect()
        .map(r => (r.getSeq[Long](r.fieldIndex("cent")).toArray,
          r.getAs[Long]("cnt")))
      val seeds = spark.read.schema(seedSchema).parquet(s"$dir/$SeedsT")
        .orderBy("sid").collect()
        .map(r => r.getSeq[Long](r.fieldIndex("qv")).toArray)
      IvfPqModel(IvfModel(metaRow.getAs[Double]("amax"), cents), seeds,
        metaRow.getAs[Int]("n_sub"))
    })
  }

  /** Publish a manifest as one atomic version. `expectedBase` (see
    * [[graft.etl.AtomicPublish.stage]]) pins the version the manifest
    * was DERIVED from: appendEncode/compactSegments build their new
    * manifest from a snapshot taken BEFORE a potentially long
    * encode/merge, so a publish that commits inside that window must
    * fail this one (ConcurrentModificationException) rather than let
    * the stale manifest silently drop the other writer's segment. */
  /** Downgrade poison for tombstone-bearing manifests. The `format`
    * row gates FORWARD (this reader rejects newer formats) but a
    * PRE-format reader ignores unknown kinds — it would read a
    * format-2 manifest's `seg` rows, skip the `ts` rows it doesn't
    * know, and silently RESURRECT tombstoned documents during a
    * mixed-version rollout (the r16 ADVICE hazard: takedown/licence
    * deletes un-happening in the downgrade direction). So a manifest
    * that carries tombstones also carries this second `model`-kind
    * row: every pre-format reader requires EXACTLY ONE model row, so
    * it fails loudly at manifest decode (a "corrupt manifest: 2 model
    * rows" error whose ref names the remedy) instead of serving
    * deleted rows; this reader filters it back out. Tombstone-free
    * manifests stay byte-identical to format 1. */
  private val DowngradePoison =
    "poison-format2-tombstones-UPGRADE-READER-pre-r16-readers-would-resurrect-deleted-rows"

  private def publishVersion(spark: SparkSession, root: String, m: Manifest,
                             expectedBase: Option[Option[Long]] = None): Long = {
    val format =
      if (m.tombstones.nonEmpty)
        Seq("format" -> CurrentFormat.toString, "model" -> DowngradePoison)
      else Nil
    val rows = (format ++ Seq("model" -> m.modelId) ++
      m.entries ++ m.applied.map("applied" -> _))
      .zipWithIndex.map { case ((kind, ref), i) => Row(i, kind, ref) }
    val manifest = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), manifestSchema)
    AtomicPublish.publish(spark, root, Seq(ManifestT -> manifest), expectedBase)
  }

  /** FULL build: publish trained model + coded corpus as one atomic
    * version (a fresh model dir + a single initial segment); returns
    * the committed version. `encoded` is [[VectorSearch.ivfPqEncode]]'s
    * output — the only corpus-sized write. A rebuild starts a new index
    * lineage: the applied ledger resets with it (batch ids of the
    * PREVIOUS lineage are re-appendable against the rebuilt corpus by
    * design — the rebuild replaced them). */
  def publish(spark: SparkSession, root: String, model: IvfPqModel,
              encoded: DataFrame): Long = graft.PhaseClock.seedAt(root) {
    val modelId = writeModel(spark, root, model)
    val seg = writeSegment(spark, root, encoded)
    publishVersion(spark, root, Manifest(modelId, Seq("seg" -> seg), Seq(seg)))
  }

  /** INCREMENTAL growth: encode ONLY `batch` under the lineage's frozen
    * model and commit a new version referencing (old segments :+ the
    * new one). Cost ∝ batch, never corpus; the old segments' files are
    * untouched (IncrementalIndexSpec pins this). Rows in `batch` are
    * the caller's responsibility to be new ids — the index is
    * append-only, like the corpus it mirrors.
    *
    * The commit is CONDITIONAL on the base snapshot: the new manifest
    * is (that snapshot's segments :+ the new one), so a version
    * published by anyone else during the encode window would be
    * silently dropped from it — instead the publish fails with
    * ConcurrentModificationException and the caller re-runs against
    * the fresh snapshot. `asOf` pins an explicit base version (a
    * caller that resolved a snapshot earlier for other reads); default
    * is the current version at entry.
    *
    * A replayed caller-named segment (streaming batch retry) whose
    * publish ALREADY committed short-circuits to a no-op via the
    * applied ledger — robust to compactions between commit and replay
    * (see the header; pinned in IncrementalIndexSpec). */
  def appendEncode(spark: SparkSession, root: String, batch: DataFrame,
                   idCol: String, vecCol: String,
                   segmentId: Option[String] = None,
                   asOf: Option[Long] = None): Long =
    graft.PhaseClock.batchAt(root) {
      appendEncodeImpl(spark, root, batch, idCol, vecCol, segmentId, asOf) }

  private def appendEncodeImpl(spark: SparkSession, root: String,
                               batch: DataFrame, idCol: String,
                               vecCol: String, segmentId: Option[String],
                               asOf: Option[Long]): Long = {
    val snap = asOf.fold(AtomicPublish.snapshot(spark, root))(
      AtomicPublish.snapshotAt(spark, root, _))
    val m = readManifest(spark, snap)
    // replay guard — the APPLIED ledger, not the current segment list:
    // rewriting a committed segment (even with identical content) would
    // transiently break pinned-snapshot readers mid-scan, and a
    // manifest-only check stops recognizing the segment the moment a
    // compaction merges it away (the replay would then append the
    // batch's vectors a second time — duplicate ids in the served
    // index)
    if (segmentId.exists(m.applied.contains)) return snap.version
    val model = loadModel(spark, root, m.modelId)
    val seg = writeSegment(spark, root,
      VectorSearch.ivfPqEncode(model, batch, idCol, vecCol), segmentId)
    publishVersion(spark, root,
      Manifest(m.modelId, m.entries :+ ("seg" -> seg), m.applied :+ seg),
      expectedBase = Some(Some(snap.version)))
  }

  /** CDC-shaped DELETION: commit a tombstone hiding `deletes`' ids in
    * every segment published SO FAR — cost ∝ the delete batch (one
    * tiny parquet write + a manifest commit), never the corpus. The
    * feed a training pipeline already computes ([[graft.etl.ChangeFeed]]'s
    * delete/update_preimage rows) routes here unchanged: diff feeds
    * maintain the warehouse's aggregates, replicas — and now the
    * serving index. A later [[appendEncode]] of the same id serves
    * again (timeline semantics, header above), so update = delete the
    * preimage + append the postimage.
    *
    * Exactly-once under replay via the same applied ledger as appends:
    * a caller-named `tombstoneId` whose commit already landed
    * short-circuits to a no-op (the streaming-batch-retry contract).
    * The publish is conditional on the entry snapshot, like every
    * other writer of this store. Physical reclamation happens at
    * compaction ([[compactSegments]] applies tombstones while
    * merging); until then deleted rows cost their anti-join probe. */
  def applyDeletes(spark: SparkSession, root: String, deletes: DataFrame,
                   idCol: String, tombstoneId: Option[String] = None,
                   asOf: Option[Long] = None): Long =
    graft.PhaseClock.batchAt(root) {
      applyDeletesImpl(spark, root, deletes, idCol, tombstoneId, asOf) }

  private def applyDeletesImpl(spark: SparkSession, root: String,
                               deletes: DataFrame, idCol: String,
                               tombstoneId: Option[String],
                               asOf: Option[Long]): Long = {
    val snap = asOf.fold(AtomicPublish.snapshot(spark, root))(
      AtomicPublish.snapshotAt(spark, root, _))
    val m = readManifest(spark, snap)
    if (tombstoneId.exists(m.applied.contains)) return snap.version
    val id = tombstoneId.getOrElse(s"ts-${java.util.UUID.randomUUID}")
    deletes.select(org.apache.spark.sql.functions.col(idCol).cast("long").as("vec_id"))
      .distinct()
      .write.mode("overwrite").parquet(s"$root/ts/$id")
    publishVersion(spark, root,
      Manifest(m.modelId, m.entries :+ ("ts" -> id), m.applied :+ id),
      expectedBase = Some(Some(snap.version)))
  }

  /** Each segment of the manifest timeline, in order, paired with the
    * tombstones AFTER it — the ones that hide its ids. */
  private def segmentsWithLaterTombstones(m: Manifest): Seq[(String, List[String])] = {
    var tsAfter = List.empty[String]
    m.entries.reverse.flatMap {
      case ("ts", r) => tsAfter = r :: tsAfter; None
      case ("seg", r) => Some(r -> tsAfter)
      case _ => None
    }.reverse
  }

  /** Segments `segs` minus the ids in tombstones `ts`: one pinned-schema
    * union and, when `ts` is non-empty, ONE broadcast anti join against
    * the raw tombstone read (no dedup: an anti join ignores duplicate
    * build keys). */
  private def liveRows(spark: SparkSession, root: String, segs: Seq[String],
                       ts: Seq[String]): DataFrame = {
    val df = spark.read.schema(segSchema).parquet(segs.map(s => s"$root/seg/$s"): _*)
    if (ts.isEmpty) df
    else df.join(
      org.apache.spark.sql.functions.broadcast(
        spark.read.schema(tsSchema).parquet(ts.map(t => s"$root/ts/$t"): _*)),
      Seq("vec_id"), "left_anti")
  }

  /** The version's served index: the manifest's segments with every
    * tombstone APPLIED — consecutive segments sharing the same set of
    * later tombstones read as one union with ONE broadcast anti join
    * (tombstone-free manifests reduce to the plain segment union). */
  private def indexFrame(spark: SparkSession, root: String,
                         m: Manifest): DataFrame = {
    val blocks = segmentsWithLaterTombstones(m)
      .foldLeft(Vector.empty[(Vector[String], List[String])]) {
        case (acc, (seg, ts)) if acc.nonEmpty && acc.last._2 == ts =>
          acc.init :+ ((acc.last._1 :+ seg, ts))
        case (acc, (seg, ts)) => acc :+ ((Vector(seg), ts))
      }
    blocks.map { case (segs, ts) => liveRows(spark, root, segs, ts) }
      .reduce(_.unionByName(_))
  }

  /** Load the serving state back from a committed snapshot (the current
    * one, or a retained `version` for o8-style time travel). The model
    * tables collect to the driver once per (session, model-id) — the
    * same driver-side footprint training produced; the index is the
    * lazy union of the manifest's segments for
    * [[VectorSearch.ivfPqServe]]. Once the model is memoized, a load
    * starts no Spark job: the manifest is read driver-side and the
    * segment and tombstone reads have pinned schemas. */
  def load(spark: SparkSession, root: String,
           version: Option[Long] = None): (IvfPqModel, DataFrame) = {
    val snap = version.fold(AtomicPublish.snapshot(spark, root))(
      AtomicPublish.snapshotAt(spark, root, _))
    val m = readManifest(spark, snap)
    (loadModel(spark, root, m.modelId), indexFrame(spark, root, m))
  }

  /** Convenience: load (optionally pinned) state and serve one query
    * batch — the whole production serve path in one call. */
  def serve(spark: SparkSession, root: String, queries: DataFrame,
            idCol: String, vecCol: String, k: Int = 10, nprobe: Int = 3,
            version: Option[Long] = None,
            excludeSelf: Boolean = true): DataFrame = {
    val (model, index) = load(spark, root, version)
    VectorSearch.ivfPqServe(model, index, queries, idCol, vecCol, k, nprobe,
      excludeSelf)
  }

  /** SEGMENT COMPACTION — the counterweight to [[appendEncode]]'s
    * accretion: at streaming cadence (st13's shape) the manifest gains
    * one small segment per micro-batch, and [[serve]]'s union must plan
    * ~1,440 parquet dirs/day — the classic small-files problem every
    * segment store (Lucene's tiered merge, Iceberg's rewrite-data-files)
    * solves by merging. This rewrites the SMALLEST segments whose
    * combined size fits `targetBytes` into one segment and publishes a
    * new version whose manifest swaps them; repeated calls converge to
    * ~ceil(corpus / targetBytes) segments (tiered-merge style).
    *
    * Codes are pure (model, row) functions and the merge is a narrow
    * byte-copy (`coalesce`, no shuffle, no re-encode), so the compacted
    * index serves BIT-IDENTICAL rankings (IncrementalIndexSpec pins
    * this, including mid-stream in the ingest chain). The doomed
    * segments' files are untouched — still referenced by every earlier
    * retained version (time travel unaffected) — until
    * [[AtomicPublish.vacuum]] drops those versions and
    * [[vacuumSegments]] reclaims the then-orphaned dirs. The applied
    * ledger passes through UNCHANGED: compaction rearranges segments,
    * it never applies a batch — this is what keeps replayed batches
    * no-ops after their segment is merged away.
    *
    * Trigger policy (SCALE.md): run at an ops cadence (e.g. hourly
    * against a minute-level ingest, or every Nth batch inside the
    * ingest loop — st13 runs every 4th), with `targetBytes` at the
    * table's file sweet spot (default 128 MiB). Cost per call is one
    * narrow read+rewrite pass over at most `targetBytes` of the
    * SMALLEST segments — independent of corpus size. Returns the new
    * version, or the current one unchanged when fewer than
    * `minSegments` segments fit the merge budget (nothing worth
    * merging). The publish is conditional on the entry snapshot (same
    * contract as [[appendEncode]]): an ingest that commits mid-merge
    * turns this compaction into a loud ConcurrentModificationException
    * — retry at the next cadence tick — never a manifest that drops
    * its segment. */
  def compactSegments(spark: SparkSession, root: String,
                      targetBytes: Long = 128L * 1024 * 1024,
                      minSegments: Int = 2): Long =
    graft.PhaseClock.batchAt(root) {
      compactSegmentsImpl(spark, root, targetBytes, minSegments) }

  private def compactSegmentsImpl(spark: SparkSession, root: String,
                                  targetBytes: Long,
                                  minSegments: Int): Long = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    require(minSegments >= 2, s"minSegments must be >= 2, got $minSegments")
    val snap = AtomicPublish.snapshot(spark, root)
    val m = readManifest(spark, snap)
    val sizes = m.segs.map(s =>
      s -> Maintenance.dataFiles(spark, s"$root/seg/$s").map(_._2).sum)
    // smallest-first (id tiebreak for determinism); merge the longest
    // prefix whose cumulative size fits the target
    val bySize = sizes.sortBy { case (id, n) => (n, id) }
    val cum = bySize.map(_._2).scanLeft(0L)(_ + _).tail
    val doomed = bySize.zip(cum).takeWhile(_._2 <= targetBytes).map(_._1._1)
    if (doomed.size < minSegments) return snap.version
    val doomedSet = doomed.toSet
    val total = sizes.collect { case (id, n) if doomedSet(id) => n }.sum
    val nOut = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    // read each doomed segment with its LATER tombstones applied: the
    // merged output lands at the END of the timeline, so it must be
    // physically clean (Lucene's deletes-applied-on-merge). With no
    // tombstones this reduces to the plain narrow byte-copy.
    val merged = segmentsWithLaterTombstones(m).collect {
      case (s, ts) if doomedSet(s) => liveRows(spark, root, Seq(s), ts)
    }.reduce(_.unionByName(_)).coalesce(nOut)
    val newSeg = writeSegment(spark, root, merged)
    // survivors keep their timeline positions (their tombstone
    // relationships are positional); the merged segment appends at the
    // end; tombstones that no remaining segment precedes are DROPPED —
    // repeated compaction converges the store back to tombstone-free
    val kept = m.entries.filterNot { case (k, r) => k == "seg" && doomedSet(r) }
    var segSeen = false
    val newEntries = (kept :+ ("seg" -> newSeg)).flatMap {
      case e @ ("seg", _) => segSeen = true; Some(e)
      case e @ ("ts", _) => if (segSeen) Some(e) else None
      case e => Some(e)
    }
    publishVersion(spark, root, Manifest(m.modelId, newEntries, m.applied),
      expectedBase = Some(Some(snap.version)))
  }

  /** Reclaim segment dirs — and model dirs — referenced by NO retained
    * version's manifest (run after [[AtomicPublish.vacuum]]); returns
    * the deleted SEGMENT ids (orphaned model dirs are reclaimed in the
    * same pass). Retained-version reads are unaffected — their
    * manifests only reference surviving artifacts by construction.
    *
    * Same in-flight hazard class as [[AtomicPublish.vacuum]]'s staging
    * dirs, one level down: a segment (or rebuild's model dir) just
    * written by a publisher that has NOT yet committed its manifest is
    * unreferenced at this instant — deleting it would let that publish
    * commit a manifest pointing at a missing dir (serving then fails at
    * read time). Dirs younger than `minAgeMs` are therefore SKIPPED;
    * pass 0 only where no index writer can be in flight. */
  def vacuumSegments(spark: SparkSession, root: String,
                     minAgeMs: Long = AtomicPublish.DefaultVacuumMinAgeMs): Seq[String] = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segRoot = new Path(root, "seg")
    if (!fs.exists(segRoot)) return Nil
    val rootPath = new Path(root)
    val retained = fs.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v"))
      .flatMap(s => s.getPath.getName.drop(1).toLongOption)
    val manifests = retained.map { v =>
      readManifest(spark, AtomicPublish.Snapshot(root, v))
    }
    val refSegs = manifests.flatMap(_.segs).toSet
    val refModels = manifests.map(_.modelId).toSet
    val refTs = manifests.flatMap(_.tombstones).toSet
    val now = System.currentTimeMillis()
    def orphansUnder(sub: Path, referenced: Set[String]): Seq[String] =
      if (!fs.exists(sub)) Nil
      else fs.listStatus(sub).toSeq
        .filter(s => now - s.getModificationTime >= minAgeMs)
        .map(_.getPath.getName)
        .filterNot(referenced)
    val doomedSegs = orphansUnder(segRoot, refSegs)
    doomedSegs.foreach(id => fs.delete(new Path(segRoot, id), true))
    val modelRoot = new Path(root, "model")
    orphansUnder(modelRoot, refModels)
      .foreach(id => fs.delete(new Path(modelRoot, id), true))
    val tsRoot = new Path(root, "ts")
    orphansUnder(tsRoot, refTs)
      .foreach(id => fs.delete(new Path(tsRoot, id), true))
    doomedSegs
  }
}
