package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
import org.apache.spark.sql.functions.col

import graft.ops.{AnnIndexStore, VectorSearch}

/** The segment-manifest growth path of [[graft.ops.AnnIndexStore]]:
  * appending a batch must cost one batch-sized encode + a pointer
  * commit — never a corpus rewrite — and the grown index must serve
  * EXACTLY what a one-shot full encode serves (codes are deterministic
  * per row under a frozen model, so segment layout cannot leak into
  * results). Segment immutability, time travel across appends, and
  * orphan-segment GC are pinned alongside. */
class IncrementalIndexSpec extends SparkSuite {

  private def norm(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def freshRoot(): String = {
    val d = java.nio.file.Files.createTempDirectory("ann_inc_").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def segListing(root: String): Map[String, Set[(String, Long)]] = {
    val segRoot = new java.io.File(s"$root/seg")
    Option(segRoot.listFiles()).getOrElse(Array.empty).map { d =>
      d.getName -> d.listFiles().map(f => (f.getName, f.length())).toSet
    }.toMap
  }

  private val (kQ, topK, nSub, nprobe, kLists, iters) = (10, 10, 16, 3, 8, 2)

  private def train() = {
    val emb = Tables.embeddings(spark, sf)
    val ivf = VectorSearch.ivfTrain(spark, emb, "vec_id", "embedding",
      kLists, iters)
    (emb,
      VectorSearch.ivfPqTrain(spark, ivf,
        emb.filter(col("vec_id") >= 40 && col("vec_id") < 72),
        "vec_id", "embedding", nSub = nSub),
      emb.filter(col("vec_id") < kQ))
  }

  test("a store published by the legacy pre-manifest layout fails with a " +
    "named remedy, not a parquet stack trace") {
    import spark.implicits._
    // the r14 advisory: the ann_segments→ann_manifest layout change is
    // backward-incompatible, so a pre-manifest store must be DETECTED
    // (the legacy table name is unambiguous) and the error must say
    // what to do, instead of a missing-path failure deep in the reader
    val root = freshRoot()
    graft.etl.AtomicPublish.publish(spark, root, Seq(
      "ann_segments" -> Seq((0, "seg-0")).toDF("seq", "ref"),
      "ivf_meta" -> Seq((1.0, 16)).toDF("amax", "n_sub")))
    val e = intercept[IllegalStateException] {
      AnnIndexStore.load(spark, root)
    }
    assert(e.getMessage.contains("legacy ann_segments"), e.getMessage)
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    // a random non-index store gets the plain diagnosis
    val notIndex = freshRoot()
    graft.etl.AtomicPublish.publish(spark, notIndex,
      Seq("whatever" -> Seq((1, "x")).toDF("k", "v")))
    val e2 = intercept[IllegalStateException] {
      AnnIndexStore.load(spark, notIndex)
    }
    assert(e2.getMessage.contains("not an ANN index store"), e2.getMessage)
  }

  test("appendEncode grows the index to exactly the full-encode serve, without touching prior segments") {
    val root = freshRoot()
    val (emb, model, queries) = train()
    val n = emb.count()
    val half = emb.filter(col("vec_id") < n / 2)
    val rest = emb.filter(col("vec_id") >= n / 2)

    val v0 = AnnIndexStore.publish(spark, root, model,
      VectorSearch.ivfPqEncode(model, half, "vec_id", "embedding"))
    assert(v0 == 0L)
    val before = norm(AnnIndexStore.serve(spark, root, queries,
      "vec_id", "embedding", k = topK, nprobe = nprobe))
    val segsBefore = segListing(root)
    assert(segsBefore.size == 1)

    val v1 = AnnIndexStore.appendEncode(spark, root, rest, "vec_id", "embedding")
    assert(v1 == 1L)

    // the first segment's files are byte-for-byte untouched
    val segsAfter = segListing(root)
    assert(segsAfter.size == 2, "append should add exactly one segment")
    val (firstId, firstFiles) = segsBefore.head
    assert(segsAfter(firstId) == firstFiles,
      "append rewrote the prior segment's files")

    // grown serve == one-shot full-encode serve (bit-identical)
    val grown = norm(AnnIndexStore.serve(spark, root, queries,
      "vec_id", "embedding", k = topK, nprobe = nprobe))
    val full = norm(VectorSearch.ivfPqServe(model,
      VectorSearch.ivfPqEncode(model, emb, "vec_id", "embedding"),
      queries, "vec_id", "embedding", topK, nprobe))
    assert(grown == full, "grown index serve diverged from one-shot full encode")

    // time travel: v0 still serves the half-corpus ranking
    val travel = norm(AnnIndexStore.serve(spark, root, queries,
      "vec_id", "embedding", k = topK, nprobe = nprobe, version = Some(0L)))
    assert(travel == before, "time-traveled v0 serve changed after the append")
  }

  test("streaming ingest converges to the batch index across REAL multiple micro-batches") {
    // st13's fixture replay is one AvailableNow batch; this forces a
    // genuine multi-batch split (one file per trigger) and pins that
    // the grown index serves exactly the one-shot batch encode.
    val root = freshRoot()
    val (emb, model, queries) = train()
    val feed = java.nio.file.Files.createTempDirectory("ann_feed_").toString
    emb.repartition(4).write.mode("overwrite").parquet(feed)

    graft.ops.AnnIndexStore.publish(spark, root, model,
      VectorSearch.ivfPqEncode(model, emb.limit(0), "vec_id", "embedding"))
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
    var batches = 0
    graft.streaming.Streams.runIngest(spark, stream, s"$root/chk") {
      (batch, batchId) =>
        if (!batch.isEmpty) {
          batches += 1
          graft.ops.AnnIndexStore.appendEncode(spark, root, batch,
            "vec_id", "embedding", Some(f"batch-$batchId%05d")): Unit
          // compaction interleaved with live ingest (the production
          // cadence: merge while batches keep arriving) must not
          // disturb convergence
          if (batches == 2)
            AnnIndexStore.compactSegments(spark, root, targetBytes = 1L << 30): Unit
          // a DELETE interleaved with live ingest (the CDC consumer's
          // shape: appends and takedowns share the stream). Fired in
          // the batch that carried vec_id 5, so the tombstone lands
          // AFTER that id's segment in the timeline — deterministic
          // hide regardless of how the files split into triggers
          if (!batch.filter(col("vec_id") === 5).isEmpty)
            AnnIndexStore.applyDeletes(spark, root,
              emb.filter(col("vec_id") === 5).select("vec_id"),
              "vec_id", Some("ts-mid-stream")): Unit
        }
    }
    assert(batches >= 2, s"expected a real multi-batch split, got $batches batch(es)")

    val streamed = norm(graft.ops.AnnIndexStore.serve(spark, root, queries,
      "vec_id", "embedding", k = topK, nprobe = nprobe))
    val oneShot = norm(VectorSearch.ivfPqServe(model,
      VectorSearch.ivfPqEncode(model,
        emb.filter(col("vec_id") =!= 5), "vec_id", "embedding"),
      queries, "vec_id", "embedding", topK, nprobe))
    assert(streamed == oneShot,
      "multi-batch streamed index serve diverged from the one-shot batch " +
        "encode of the corpus minus the mid-stream takedown")
  }

  test("a publish landing inside an append's encode window fails that append instead of dropping the segment") {
    // the two-writer lost-update hole: writer A snapshots v0, spends
    // minutes encoding; writer B commits v1 (adding its segment) inside
    // that window; A's manifest was derived from v0's segment list, so
    // an unconditional publish of it would make v2 silently DROP B's
    // segment. The expected-base pin must turn that into a loud
    // ConcurrentModificationException, with B's segment still served.
    val root = freshRoot()
    val (emb, model, queries) = train()
    val n = emb.count()
    val third = (i: Int) =>
      emb.filter(col("vec_id") >= i * n / 3 && col("vec_id") < (i + 1) * n / 3)
    AnnIndexStore.publish(spark, root, model,
      VectorSearch.ivfPqEncode(model, third(0), "vec_id", "embedding"))
    // writer A "snapshots" v0 (asOf pin); writer B then commits v1
    AnnIndexStore.appendEncode(spark, root, third(1), "vec_id", "embedding")
    val served = norm(AnnIndexStore.serve(spark, root, queries,
      "vec_id", "embedding", k = topK, nprobe = nprobe))
    // writer A's append, derived from the stale v0 snapshot, must fail
    intercept[java.util.ConcurrentModificationException] {
      AnnIndexStore.appendEncode(spark, root, third(2), "vec_id", "embedding",
        asOf = Some(0L))
    }
    // B's segment is intact: the current serve is unchanged
    assert(norm(AnnIndexStore.serve(spark, root, queries,
      "vec_id", "embedding", k = topK, nprobe = nprobe)) == served,
      "failed conditional append disturbed the committed index")
    // and A recovers by re-running against the fresh snapshot
    AnnIndexStore.appendEncode(spark, root, third(2), "vec_id", "embedding")
    val grown = norm(AnnIndexStore.serve(spark, root, queries,
      "vec_id", "embedding", k = topK, nprobe = nprobe))
    val full = norm(VectorSearch.ivfPqServe(model,
      VectorSearch.ivfPqEncode(model, emb, "vec_id", "embedding"),
      queries, "vec_id", "embedding", topK, nprobe))
    assert(grown == full, "recovered append diverged from one-shot full encode")
  }

  test("appendEncode replay of a committed named segment is a pure no-op (version and files untouched)") {
    val root = freshRoot()
    val (emb, model, _) = train()
    val n = emb.count()
    val half = emb.filter(col("vec_id") < n / 2)
    val rest = emb.filter(col("vec_id") >= n / 2)
    AnnIndexStore.publish(spark, root, model,
      VectorSearch.ivfPqEncode(model, half, "vec_id", "embedding"))
    val v1 = AnnIndexStore.appendEncode(spark, root, rest,
      "vec_id", "embedding", Some("batch-00001"))
    assert(v1 == 1L)
    def mtimes: Map[String, Set[(String, Long, Long)]] = {
      val segRoot = new java.io.File(s"$root/seg")
      segRoot.listFiles().map { d =>
        d.getName -> d.listFiles().map(f =>
          (f.getName, f.length(), f.lastModified())).toSet
      }.toMap
    }
    val before = mtimes
    // a streaming retry replays the batch AFTER its publish committed:
    // the committed segment's files must not be rewritten (pinned
    // readers could be mid-scan) and no new version may appear
    val replay = AnnIndexStore.appendEncode(spark, root, rest,
      "vec_id", "embedding", Some("batch-00001"))
    assert(replay == 1L, "replay minted a new version")
    assert(mtimes == before, "replay rewrote committed segment files")
    assert(graft.etl.AtomicPublish.currentVersion(spark, root) == Some(1L))
  }

  test("replay of a committed named segment stays a no-op AFTER compaction merged it away") {
    // the crash window the applied-segment ledger exists for: a
    // checkpointed ingest loop commits batch-00001, compacts (removing
    // batch-00001 from the CURRENT manifest), then the driver dies
    // before the checkpoint commit — the restarted stream replays the
    // batch. A manifest-only replay guard no longer finds the segment,
    // re-encodes it, overwrites the still-referenced seg dir, and
    // appends the batch's vectors a SECOND time (duplicate ids in the
    // served index). The ledger must keep the replay a pure no-op.
    val root = freshRoot()
    val (emb, model, queries) = train()
    val n = emb.count()
    AnnIndexStore.publish(spark, root, model,
      VectorSearch.ivfPqEncode(model, emb.filter(col("vec_id") < n / 2),
        "vec_id", "embedding"))
    AnnIndexStore.appendEncode(spark, root,
      emb.filter(col("vec_id") >= n / 2), "vec_id", "embedding",
      Some("batch-00001"))
    val vc = AnnIndexStore.compactSegments(spark, root, targetBytes = 1L << 30)
    assert(vc == 2L, "compaction should have merged the two segments")
    val served = norm(AnnIndexStore.serve(spark, root, queries,
      "vec_id", "embedding", k = topK, nprobe = nprobe))
    val segsBefore = segListing(root)

    val replay = AnnIndexStore.appendEncode(spark, root,
      emb.filter(col("vec_id") >= n / 2), "vec_id", "embedding",
      Some("batch-00001"))
    assert(replay == vc, "post-compaction replay minted a new version")
    assert(segListing(root) == segsBefore,
      "post-compaction replay touched segment files")
    val after = norm(AnnIndexStore.serve(spark, root, queries,
      "vec_id", "embedding", k = topK, nprobe = nprobe))
    assert(after == served,
      "post-compaction replay changed the served ranking (duplicate append?)")
  }

  test("compactSegments merges small segments bit-identically; time travel and GC behave") {
    val root = freshRoot()
    val (emb, model, queries) = train()
    val n = emb.count()
    val quarters = (0 until 4).map(q =>
      emb.filter(col("vec_id") >= q * n / 4 && col("vec_id") < (q + 1) * n / 4))
    AnnIndexStore.publish(spark, root, model,
      VectorSearch.ivfPqEncode(model, quarters.head, "vec_id", "embedding"))
    quarters.tail.foreach(qd =>
      AnnIndexStore.appendEncode(spark, root, qd, "vec_id", "embedding"): Unit)
    val vPre = graft.etl.AtomicPublish.currentVersion(spark, root).get
    val before = norm(AnnIndexStore.serve(spark, root, queries,
      "vec_id", "embedding", k = topK, nprobe = nprobe))
    val segsBefore = segListing(root)
    assert(segsBefore.size == 4)

    // a tiny budget merges nothing — not even one segment is worth it
    assert(AnnIndexStore.compactSegments(spark, root, targetBytes = 1L) == vPre)
    assert(segListing(root).size == 4)

    val vc = AnnIndexStore.compactSegments(spark, root, targetBytes = 1L << 30)
    assert(vc == vPre + 1, "compaction should commit exactly one new version")
    // merged dir added; the doomed segments' files stay byte-identical
    // (earlier retained versions still reference them)
    val segsAfter = segListing(root)
    assert(segsAfter.size == 5)
    segsBefore.foreach { case (id, files) =>
      assert(segsAfter(id) == files, s"compaction touched live segment $id")
    }
    // served ranking is bit-identical pre/post compaction
    val after = norm(AnnIndexStore.serve(spark, root, queries,
      "vec_id", "embedding", k = topK, nprobe = nprobe))
    assert(after == before, "compaction changed the served ranking")
    // time travel to the pre-compaction version still serves identically
    val travel = norm(AnnIndexStore.serve(spark, root, queries,
      "vec_id", "embedding", k = topK, nprobe = nprobe, version = Some(vPre)))
    assert(travel == before, "pre-compaction version no longer serves")
    // once pre-compaction versions are vacuumed, the merged-away
    // segments become orphans and GC reclaims exactly them
    graft.etl.AtomicPublish.vacuum(spark, root, keep = 1)
    // the default-age GC SKIPS fresh orphans (an in-flight writer's
    // not-yet-committed segment is indistinguishable); explicit zero
    // age reclaims them here, where no writer is in flight
    assert(AnnIndexStore.vacuumSegments(spark, root).isEmpty,
      "age-guarded segment GC reclaimed a fresh dir")
    val deleted = AnnIndexStore.vacuumSegments(spark, root, minAgeMs = 0)
    assert(deleted.toSet == segsBefore.keySet,
      s"expected exactly the pre-compaction segments reclaimed, got $deleted")
    val served = norm(AnnIndexStore.serve(spark, root, queries,
      "vec_id", "embedding", k = topK, nprobe = nprobe))
    assert(served == before, "serve changed after segment GC")
  }

  test("mid-stream compaction: append → compact → append still converges to the one-shot encode") {
    val root = freshRoot()
    val (emb, model, queries) = train()
    val n = emb.count()
    val third = (0 until 3).map(q =>
      emb.filter(col("vec_id") >= q * n / 3 && col("vec_id") < (q + 1) * n / 3))
    AnnIndexStore.publish(spark, root, model,
      VectorSearch.ivfPqEncode(model, third(0), "vec_id", "embedding"))
    AnnIndexStore.appendEncode(spark, root, third(1), "vec_id", "embedding")
    AnnIndexStore.compactSegments(spark, root, targetBytes = 1L << 30)
    assert(segListing(root).size == 3) // 2 doomed + 1 merged on disk
    AnnIndexStore.appendEncode(spark, root, third(2), "vec_id", "embedding")
    val grown = norm(AnnIndexStore.serve(spark, root, queries,
      "vec_id", "embedding", k = topK, nprobe = nprobe))
    val full = norm(VectorSearch.ivfPqServe(model,
      VectorSearch.ivfPqEncode(model, emb, "vec_id", "embedding"),
      queries, "vec_id", "embedding", topK, nprobe))
    assert(grown == full,
      "append-compact-append index diverged from the one-shot encode")
  }

  test("tombstones: applyDeletes hides ids until re-added; compaction " +
    "applies deletes physically and drops dead tombstones; replay is a " +
    "no-op; GC reclaims orphaned tombstone dirs") {
    val root = freshRoot()
    val (emb, model, queries) = train()
    AnnIndexStore.publish(spark, root, model,
      VectorSearch.ivfPqEncode(model, emb, "vec_id", "embedding"))
    val deadRule = col("vec_id") % 7 === 3
    def served() = norm(AnnIndexStore.serve(spark, root, queries,
      "vec_id", "embedding", k = topK, nprobe = nprobe))
    // the reference: a one-shot encode of the corpus the tombstones
    // should leave visible — the store's timeline never appears in it
    def reference(corpus: DataFrame) = norm(VectorSearch.ivfPqServe(model,
      VectorSearch.ivfPqEncode(model, corpus, "vec_id", "embedding"),
      queries, "vec_id", "embedding", topK, nprobe))
    // the pre-tombstone manifest carries exactly ONE model-kind row —
    // byte-compatible with format-1 readers
    def modelRows(v: Long) = spark.read.parquet(s"$root/v$v/ann_manifest")
      .filter(col("kind") === "model").select("ref")
      .collect().map(_.getString(0)).toSeq
    assert(modelRows(0L).size == 1 && !modelRows(0L).head.startsWith("poison-"))
    val v1 = AnnIndexStore.applyDeletes(spark, root,
      emb.filter(deadRule).select("vec_id"), "vec_id",
      tombstoneId = Some("ts-b1"))
    // exactly-once: the replayed named tombstone is a pure no-op
    assert(AnnIndexStore.applyDeletes(spark, root,
      emb.filter(deadRule).select("vec_id"), "vec_id",
      tombstoneId = Some("ts-b1")) == v1)
    // DOWNGRADE POISON (r16 ADVICE): a tombstone-BEARING manifest
    // carries a second model-kind row, so a pre-format-2 reader (which
    // requires exactly one and ignores the ts rows it can't apply)
    // fails loudly at decode instead of silently RESURRECTING the
    // tombstoned ids; this build's reader filters it back out (served()
    // below stays correct)
    val poisoned = modelRows(v1)
    assert(poisoned.size == 2 && poisoned.count(_.startsWith("poison-")) == 1,
      s"tombstone-bearing manifest must carry the downgrade poison: $poisoned")
    assert(poisoned.exists(r => r.startsWith("poison-") && r.contains("UPGRADE")),
      "the poison ref must name the remedy for the operator who hits it")
    assert(served() == reference(emb.filter(col("vec_id") % 7 =!= 3)),
      "tombstoned ids still served")
    // RE-ADD one deleted id: its new segment follows the tombstone in
    // the timeline, so it serves again
    AnnIndexStore.appendEncode(spark, root,
      emb.filter(col("vec_id") === 10), "vec_id", "embedding",
      segmentId = Some("seg-readd"))
    assert(served() == reference(
      emb.filter(col("vec_id") % 7 =!= 3 || col("vec_id") === 10)),
      "re-added id must serve again")
    // delete it AGAIN — the second tombstone follows the re-add segment
    AnnIndexStore.applyDeletes(spark, root,
      emb.filter(col("vec_id") === 10).select("vec_id"), "vec_id",
      tombstoneId = Some("ts-b2"))
    val expect = reference(emb.filter(col("vec_id") % 7 =!= 3))
    assert(served() == expect, "re-deleted id must hide again")
    // compaction applies every tombstone physically and the ranking is
    // bit-identical; with all segments merged, every tombstone becomes
    // dead (no preceding segment) and drops from the manifest
    val vPre = graft.etl.AtomicPublish.currentVersion(spark, root).get
    val vc = AnnIndexStore.compactSegments(spark, root, targetBytes = 1L << 30)
    assert(vc == vPre + 1)
    assert(served() == expect, "compaction changed the served ranking")
    val manifest = spark.read.parquet(s"$root/v$vc/ann_manifest")
    assert(manifest.filter(col("kind") === "ts").count() == 0,
      "full compaction must drop all (now dead) tombstones")
    // converging tombstone-free also sheds the downgrade poison: the
    // compacted manifest is format-1-readable again, byte-for-byte
    assert(modelRows(vc).size == 1 && !modelRows(vc).head.startsWith("poison-"))
    import spark.implicits._
    val segIds = manifest.filter(col("kind") === "seg")
      .select("ref").as[String].collect().toSeq
    val physical = spark.read.parquet(segIds.map(s => s"$root/seg/$s"): _*)
    assert(physical.filter(deadRule).count() == 0,
      "compaction left physically dead rows")
    // time travel: the pre-compaction (tombstone-bearing) version still
    // serves identically
    assert(norm(AnnIndexStore.serve(spark, root, queries, "vec_id",
      "embedding", k = topK, nprobe = nprobe, version = Some(vPre))) == expect)
    // vacuum the old versions → the orphaned tombstone dirs reclaim
    graft.etl.AtomicPublish.vacuum(spark, root, keep = 1)
    AnnIndexStore.vacuumSegments(spark, root, minAgeMs = 0)
    assert(Option(new java.io.File(s"$root/ts").listFiles())
      .getOrElse(Array.empty).isEmpty,
      "orphaned tombstone dirs must be reclaimed")
    assert(served() == expect, "serve changed after GC")
  }

  test("vacuumSegments reclaims only unreferenced segments; the current serve is unaffected") {
    val root = freshRoot()
    val (emb, model, queries) = train()
    val n = emb.count()
    AnnIndexStore.publish(spark, root, model,
      VectorSearch.ivfPqEncode(model, emb.filter(col("vec_id") < n / 2),
        "vec_id", "embedding"))
    AnnIndexStore.appendEncode(spark, root,
      emb.filter(col("vec_id") >= n / 2), "vec_id", "embedding")
    // full rebuild (fresh single segment) — v0/v1's segments become
    // garbage once those versions are vacuumed
    AnnIndexStore.publish(spark, root, model,
      VectorSearch.ivfPqEncode(model, emb, "vec_id", "embedding"))
    assert(segListing(root).size == 3)
    val current = norm(AnnIndexStore.serve(spark, root, queries,
      "vec_id", "embedding", k = topK, nprobe = nprobe))

    // nothing is orphaned while v0/v1 are retained
    assert(AnnIndexStore.vacuumSegments(spark, root).isEmpty)
    graft.etl.AtomicPublish.vacuum(spark, root, keep = 1)
    val deleted = AnnIndexStore.vacuumSegments(spark, root, minAgeMs = 0)
    assert(deleted.size == 2, s"expected the two pre-rebuild segments gone, got $deleted")
    assert(segListing(root).size == 1)
    // the rebuild minted a fresh model dir; the first lineage's model is
    // unreferenced once v0/v1 are vacuumed and goes in the same pass
    assert(new java.io.File(s"$root/model").list().length == 1,
      "orphaned model dir survived vacuumSegments")
    val served = norm(AnnIndexStore.serve(spark, root, queries,
      "vec_id", "embedding", k = topK, nprobe = nprobe))
    assert(served == current, "segment GC changed the current serve")
  }

  test("ivfPqEncode's output schema is the pinned segment schema") {
    val (emb, model, _) = train()
    val encoded = VectorSearch.ivfPqEncode(model, emb, "vec_id", "embedding")
    def shape(t: org.apache.spark.sql.types.StructType) =
      t.fields.map(f => f.name -> f.dataType).toSeq
    assert(shape(encoded.schema) == shape(AnnIndexStore.segSchema),
      "segments are read with AnnIndexStore.segSchema; it must match what ivfPqEncode writes")
  }

  /** Spark jobs `body` starts on this thread. They carry a probe job
    * group; a sentinel job in a second group, once the listener sees
    * it, proves every earlier job start has been delivered. */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"probe-${java.util.UUID.randomUUID}"
    val counted = new AtomicInteger(0)
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => counted.incrementAndGet()
          case Some(g) if g == s"$group-sentinel" => sentinelSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobs started by the probed call")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-sentinel", "listener sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
      counted.get
    } finally sc.removeSparkListener(listener)
  }

  /** A two-segment store whose first segment is tombstoned. */
  private def tombstonedStore() = {
    val root = freshRoot()
    val (emb, model, queries) = train()
    val n = emb.count()
    AnnIndexStore.publish(spark, root, model, VectorSearch.ivfPqEncode(model,
      emb.filter(col("vec_id") < n / 2), "vec_id", "embedding"))
    AnnIndexStore.applyDeletes(spark, root,
      emb.filter(col("vec_id") % 5 === 1).select("vec_id"), "vec_id")
    AnnIndexStore.appendEncode(spark, root,
      emb.filter(col("vec_id") >= n / 2), "vec_id", "embedding")
    (root, emb, model, queries)
  }

  test("load starts no Spark job once the model is memoized, tombstones included") {
    val (root, _, _, _) = tombstonedStore()
    AnnIndexStore.load(spark, root) // first load of the lineage collects the model
    var index: DataFrame = null
    assert(jobsStartedBy { index = AnnIndexStore.load(spark, root)._2 } == 0,
      "loading a committed version must not start a Spark job")
    assert(index.columns.toSeq == AnnIndexStore.segSchema.fieldNames.toSeq)
  }

  test("a tombstoned serve broadcasts the raw tombstone read: no aggregate or exchange under it") {
    val (root, emb, model, queries) = tombstonedStore()
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val served = AnnIndexStore.serve(spark, root, queries, "vec_id", "embedding",
        k = topK, nprobe = nprobe)
      val plan = served.queryExecution.executedPlan
      val tsBroadcasts = plan.collect {
        case b: BroadcastExchangeExec if b.collectFirst {
          case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains(s"$root/ts/")) => s
        }.isDefined => b
      }
      assert(tsBroadcasts.size == 1, s"expected one tombstone broadcast:\n$plan")
      val under = tsBroadcasts.head.child.collect {
        case a: BaseAggregateExec => a.nodeName
        case e: Exchange => e.nodeName
      }
      assert(under.isEmpty, s"tombstone broadcast side has $under:\n$plan")
      assert(norm(served) == norm(VectorSearch.ivfPqServe(model,
        VectorSearch.ivfPqEncode(model, emb.filter(col("vec_id") % 5 =!= 1 ||
          col("vec_id") >= emb.count() / 2), "vec_id", "embedding"),
        queries, "vec_id", "embedding", topK, nprobe)))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("a tombstone from an int-typed delete frame is written as bigint and hides its ids; " +
    "an INT32 tombstone dir still reads") {
    val root = freshRoot()
    val (emb, model, queries) = train()
    AnnIndexStore.publish(spark, root, model,
      VectorSearch.ivfPqEncode(model, emb, "vec_id", "embedding"))
    val dead = emb.filter(col("vec_id") % 6 === 2).select(col("vec_id").cast("int"))
    AnnIndexStore.applyDeletes(spark, root, dead, "vec_id", tombstoneId = Some("ts-int"))
    assert(spark.read.parquet(s"$root/ts/ts-int").schema("vec_id").dataType ==
      org.apache.spark.sql.types.LongType)
    val expect = norm(VectorSearch.ivfPqServe(model,
      VectorSearch.ivfPqEncode(model, emb.filter(col("vec_id") % 6 =!= 2),
        "vec_id", "embedding"), queries, "vec_id", "embedding", topK, nprobe))
    def served() = norm(AnnIndexStore.serve(spark, root, queries,
      "vec_id", "embedding", k = topK, nprobe = nprobe))
    assert(served() == expect, "int-typed deletes still served")
    // a tombstone dir written before ids were cast on write holds INT32
    dead.distinct().write.mode("overwrite").parquet(s"$root/ts/ts-int")
    assert(spark.read.parquet(s"$root/ts/ts-int").schema("vec_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(served() == expect, "an INT32 tombstone dir no longer hides its ids")
  }
}
