package whbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{AtomicPublish, Coordinator, IncrementalAgg}
import graft.etl.IncrementalAgg.ReplicaSpec
import graft.ops.{AnnIndexStore, TextDedup, VectorSearch}

/** curate_ingest: the LLM-data-pipeline extension. The corpus is the
  * fixture's documents and embeddings, the vectors doubled by seeded
  * perturbation. IVF-PQ is trained during set-up. Each ingest round
  * probes its new documents against the maintained MinHash-LSH index at
  * the committed cut (planted near-duplicates must be found), indexes
  * them through TextDedup.indexFeeds and Coordinator.advanceMembers,
  * appends the round's vectors with AnnIndexStore.appendEncode, takes
  * down a few documents and vectors every third round (applyDeletes),
  * and commits one cut over the three stores. Compaction and vacuum run
  * once mid-run. Serving reads are AnnIndexStore.serve top-10 at the
  * committed cut. Each timed round ends with a catch-up: copies of the
  * stores taken `Backlog` rounds earlier apply those rounds as one round. */
object CurateIngest {
  val DocsPerRound = 100
  val PlantedPerRound = 20
  val VectorsPerRound = 200
  val TakedownEvery = 3
  val DocTakedowns = 25
  val VectorTakedowns = 50
  val CompactAfter = 1
  val ServesPerRound = 10
  val Backlog = 2
  /** Rounds 1 .. WarmRounds are the warm-up; the rest up to Rounds are
    * timed, as in cube_maintain. */
  val WarmRounds = 2
  val Rounds = WarmRounds + Ctx.Steps
  val QueryVectors = 10
  val RecallQueries = 20
  /** Floors below which the run's quality checks fail: they catch a
    * broken index, not a weaker one. Recall@10 reads 0.29-0.38 across
    * seeds here; a ranking that ignored the codes would read ~0.01. */
  val MinRecallAt10 = 0.15
  val MinDedupRecall = 0.8

  private val bandsT = Seq(ReplicaSpec("bands", Seq("doc_id", "band"), numBuckets = 16,
    bucketOn = Seq("bkey")))
  private val sigsT = Seq(ReplicaSpec("sigs", Seq("doc_id"), numBuckets = 16))
  private val docSchema = StructType(Seq(StructField("doc_id", LongType, false),
    StructField("text", StringType, false)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType, false),
    StructField("embedding", ArrayType(FloatType, false), false)))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val tr = ctx.tracer
    val rnd = new java.util.Random(ctx.seed)
    val bandsRoot = ctx.path("stores/bands")
    val sigsRoot = ctx.path("stores/sigs")
    val annRoot = ctx.path("stores/ann")
    val cutRoot = ctx.path("stores/cut")

    def docsDF(rows: Iterable[(Long, String)]): DataFrame =
      spark.createDataFrame(rows.map { case (i, t) => Row(i, t) }.toSeq.asJava, docSchema)
    def vecsDF(rows: Iterable[(Long, Array[Float])]): DataFrame =
      spark.createDataFrame(rows.map { case (i, v) => Row(i, v.toSeq) }.toSeq.asJava, vecSchema)
    def perturb(v: Array[Float], scale: Double): Array[Float] = {
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x + rnd.nextGaussian() * scale * norm / math.sqrt(v.length)).toFloat)
    }

    // ---- inputs: live corpus kept driver-side, the engine sees frames
    val docs = mutable.LinkedHashMap.empty[Long, String]
    val vecs = mutable.LinkedHashMap.empty[Long, Array[Float]]
    val vocab = mutable.ArrayBuffer.empty[String]
    tr.span("phase:seed")(tr.span("inputs") {
      graft.Tables.documents(spark, ctx.fixture).select("doc_id", "text").orderBy("doc_id")
        .collect().foreach(r => docs(r.getLong(0)) = r.getString(1))
      vocab ++= docs.values.flatMap(_.split(" ")).toSeq.distinct.sorted
      val base = graft.Tables.embeddings(spark, ctx.fixture).select("vec_id", "embedding")
        .orderBy("vec_id").collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      base.foreach { case (i, v) => vecs(i) = v }
      val offset = base.map(_._1).max + 1
      base.foreach { case (i, v) => vecs(offset + i) = perturb(v, 0.2) }
    })
    var nextDoc = docs.keys.max + 1
    var nextVec = vecs.keys.max + 1
    // takedowns draw from the base corpus only, so a backlog of rounds
    // never inserts and deletes the same id
    val baseDocs = docs.keys.toIndexedSeq
    val baseVecs = vecs.keys.toIndexedSeq
    val planted = mutable.Set.empty[(Long, Long)] // (source doc, planted copy)
    val found = mutable.Set.empty[(Long, Long)]
    val takenDown = mutable.Set.empty[Long]

    // ---- set-up: train IVF-PQ, publish the index, seed the LSH stores
    tr.span("phase:seed") {
      val corpus = vecsDF(vecs).persist()
      val ivf = tr.span("VectorSearch.ivfTrain")(
        VectorSearch.ivfTrain(spark, corpus, "vec_id", "embedding", kLists = 8, iters = 2))
      val model = tr.span("VectorSearch.ivfPqTrain")(VectorSearch.ivfPqTrain(spark, ivf,
        corpus.filter(col("vec_id") >= 40 && col("vec_id") < 72), "vec_id", "embedding", nSub = 16))
      tr.span("VectorSearch.ivfPqEncode") {
        val encoded = VectorSearch.ivfPqEncode(model, corpus, "vec_id", "embedding").persist()
        encoded.count()
        AnnIndexStore.publish(spark, annRoot, model, encoded)
        encoded.unpersist()
      }
      corpus.unpersist()
      val d0 = docsDF(docs).persist()
      tr.span("IncrementalAgg.publishInitialMulti") {
        IncrementalAgg.publishInitialMulti(spark, bandsRoot, TextDedup.bandRows(d0, "doc_id", "text"), bandsT)
        IncrementalAgg.publishInitialMulti(spark, sigsRoot, TextDedup.signatureRows(d0, "doc_id", "text"), sigsT)
      }
      d0.unpersist()
      tr.span("Coordinator.commitCut")(commitCut())
    }
    Recorder.log("curate_ingest index trained and stores seeded")

    def commitCut(): Long = Coordinator.commitCut(spark, cutRoot, Map(
      "bands" -> AtomicPublish.currentVersion(spark, bandsRoot).get,
      "sigs" -> AtomicPublish.currentVersion(spark, sigsRoot).get,
      "ann" -> AtomicPublish.currentVersion(spark, annRoot).get))

    final case class Round(newDocs: Seq[(Long, String)], goneDocs: Seq[(Long, String)],
                           newVecs: Seq[(Long, Array[Float])], goneVecs: Seq[Long])

    /** Round r's inputs, drawn from the live corpus and the seed. */
    def nextRound(r: Int): Round = {
      val liveDocs = docs.keys.toIndexedSeq
      val sources = Iterator.continually(liveDocs(rnd.nextInt(liveDocs.size)))
        .filter(d => docs(d).split(" ").length >= 30).distinct.take(PlantedPerRound).toSeq
      val copies = sources.map { s =>
        val id = nextDoc; nextDoc += 1
        planted += ((s, id))
        id -> s"${docs(s)} ${vocab(rnd.nextInt(vocab.size))}"
      }
      val fresh = (PlantedPerRound until DocsPerRound).map { _ =>
        val id = nextDoc; nextDoc += 1
        id -> Seq.fill(10 + rnd.nextInt(90))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val liveVecs = vecs.keys.toIndexedSeq
      val newVecs = (0 until VectorsPerRound).map { _ =>
        val id = nextVec; nextVec += 1
        id -> perturb(vecs(liveVecs(rnd.nextInt(liveVecs.size))), 0.2)
      }
      val takedown = r % TakedownEvery == 0
      val plantedIds = planted.flatMap { case (a, b) => Seq(a, b) }
      val goneDocs = if (!takedown) Nil else
        scala.util.Random.javaRandomToRandom(rnd)
          .shuffle(baseDocs.filter(d => docs.contains(d) && !plantedIds(d)))
          .take(DocTakedowns).map(d => d -> docs(d))
      val goneVecs = if (!takedown) Nil else
        scala.util.Random.javaRandomToRandom(rnd).shuffle(baseVecs.filter(vecs.contains))
          .take(VectorTakedowns)
      Round(copies ++ fresh, goneDocs, newVecs, goneVecs)
    }

    def docFeed(rd: Round): DataFrame =
      docsDF(rd.newDocs).withColumn("_change_type", lit("insert"))
        .unionByName(docsDF(rd.goneDocs).withColumn("_change_type", lit("delete")))

    /** One ingest round against stores at (bands, sigs, ann). */
    def ingest(r: Int, rd: Round, bands: String, sigs: String, ann: String, cut: String,
               probe: Boolean): Unit = {
      if (probe) tr.span("TextDedup.probeAtCut") {
        val batch = docsDF(rd.newDocs)
        val hits = TextDedup.probeAtCut(spark, cut, bands, sigs, batch, "doc_id", "text")
          .select("snap_id", "batch_id").collect().map(h => (h.getLong(0), h.getLong(1)))
        found ++= hits.filter(planted)
        tr.count("probed", rd.newDocs.size); tr.count("matches", hits.length)
      }
      val feed = docFeed(rd).persist()
      val (sigFeed, bandFeed) = tr.span("TextDedup.indexFeeds") {
        val (s, b) = TextDedup.indexFeeds(feed, "doc_id", "text")
        (s.persist(), b.persist())
      }
      try tr.span("Coordinator.advanceMembers")(Coordinator.advanceMembers(spark, r.toLong, Seq(
        Coordinator.MemberAdvance(bands, bandFeed, bandsT),
        Coordinator.MemberAdvance(sigs, sigFeed, sigsT))))
      finally { feed.unpersist(); sigFeed.unpersist(); bandFeed.unpersist() }
      tr.span("AnnIndexStore.appendEncode")(AnnIndexStore.appendEncode(spark, ann,
        vecsDF(rd.newVecs), "vec_id", "embedding", segmentId = Some(s"seg-r$r")))
      if (rd.goneVecs.nonEmpty) tr.span("AnnIndexStore.applyDeletes")(AnnIndexStore.applyDeletes(
        spark, ann, spark.createDataFrame(rd.goneVecs.map(Tuple1(_))).toDF("vec_id"),
        "vec_id", tombstoneId = Some(s"ts-r$r")))
    }

    def apply(rd: Round): Unit = {
      rd.newDocs.foreach { case (i, t) => docs(i) = t }
      rd.goneDocs.foreach { case (i, _) => docs.remove(i) }
      rd.newVecs.foreach { case (i, v) => vecs(i) = v }
      rd.goneVecs.foreach(vecs.remove)
      takenDown ++= rd.goneVecs
    }

    def serveAnn(): Seq[Long] = {
      val ids = vecs.keys.toIndexedSeq
      val q = vecsDF((0 until QueryVectors).map(_ => ids(rnd.nextInt(ids.size))).distinct
        .map(i => i -> vecs(i)))
      val v = tr.span("Coordinator.currentCut")(Coordinator.currentCut(spark, cutRoot))("ann")
      tr.span("AnnIndexStore.serve")(AnnIndexStore.serve(spark, annRoot, q, "vec_id",
        "embedding", k = 10, nprobe = 3, version = Some(v)).select("vec_id").collect()
        .map(_.getLong(0)).toSeq)
    }
    def serve(r: Int): Unit = {
      val bad = serveAnn().filter(takenDown)
      rec.check("no tombstoned id served", r)(bad.isEmpty,
        s"served taken-down vec_ids ${bad.distinct.take(10).mkString(",")}")
    }

    def compact(): Unit = {
      tr.span("AnnIndexStore.compactSegments")(AnnIndexStore.compactSegments(spark, annRoot))
      tr.span("Coordinator.commitCut")(commitCut())
      tr.span("AtomicPublish.vacuum") {
        val before = if (tr.active) Seq(cutRoot, bandsRoot, sigsRoot, annRoot).map(Fs.files).sum else 0
        AtomicPublish.vacuum(spark, cutRoot, keep = 1, minAgeMs = 0)
        Seq("bands" -> bandsRoot, "sigs" -> sigsRoot, "ann" -> annRoot).foreach { case (m, r) =>
          Coordinator.vacuumMember(spark, cutRoot, m, r, keep = 1, minAgeMs = 0) }
        tr.count("files_removed", before - Seq(cutRoot, bandsRoot, sigsRoot, annRoot).map(Fs.files).sum)
      }
      tr.span("IncrementalAgg.vacuumSegments")(Seq(bandsRoot, sigsRoot).foreach(r =>
        IncrementalAgg.vacuumSegments(spark, r, minAgeMs = 0)))
      tr.span("AnnIndexStore.vacuumSegments")(AnnIndexStore.vacuumSegments(spark, annRoot, minAgeMs = 0))
    }

    // hard-linked copies of the stores after round r: lagging consumers
    // that catch up once the live stores are Backlog rounds ahead
    val stores = Seq(bandsRoot, sigsRoot, annRoot, cutRoot)
    def lagRoot(r: Int): String = ctx.path(s"lagging/after$r")
    def snapshot(r: Int): Unit =
      if (r + Backlog > WarmRounds && r + Backlog <= Rounds)
        stores.foreach(s => Fs.linkTree(s, s"${lagRoot(r)}/${new java.io.File(s).getName}"))
    val history = mutable.Map.empty[Int, Round]

    def liveIds(root: String): Set[Long] =
      AnnIndexStore.load(spark, root)._2.select("vec_id").collect().map(_.getLong(0)).toSet

    /** Catch up the copies taken after round r - Backlog with the backlog
      * merged into one round, timed, and check them against the live stores. */
    def timedCatchup(r: Int): Boolean = {
      val lag = lagRoot(r - Backlog)
      val backlog = (r - Backlog + 1 to r).map(history)
      val merged = Round(backlog.flatMap(_.newDocs), backlog.flatMap(_.goneDocs),
        backlog.flatMap(_.newVecs), backlog.flatMap(_.goneVecs))
      val ok = rec.op("catchup", r)(ingest(r, merged, s"$lag/bands", s"$lag/sigs", s"$lag/ann",
          s"$lag/cut", probe = false)).isDefined &&
        rec.check("caught-up ANN store equals live", r)(liveIds(s"$lag/ann") == liveIds(annRoot),
          "the lagging ANN store's live ids differ from the live store's after catch-up") &&
        rec.check("caught-up LSH store equals live", r)(
          IncrementalAgg.readView(spark, s"$lag/sigs", "sigs").count() ==
            IncrementalAgg.readView(spark, sigsRoot, "sigs").count(),
          "the lagging signature store differs from the live one after catch-up")
      Fs.delete(lag)
      ok
    }

    // warm-up, untimed: the warm rounds, one compaction after the first,
    // then a few reads (the catch-up runs the ingest path these warm)
    tr.span("phase:seed")(tr.span("warmup") {
      (1 to WarmRounds).foreach { r =>
        val rd = nextRound(r)
        history(r) = rd
        ingest(r, rd, bandsRoot, sigsRoot, annRoot, cutRoot, probe = true)
        tr.span("Coordinator.commitCut")(commitCut())
        apply(rd)
        snapshot(r)
        if (r == 1) compact()
      }
      (0 until 3).foreach(_ => serve(WarmRounds))
    })
    Recorder.log("curate_ingest warm-up done")

    rec.markFirstOp()
    val n = ctx.loop { i =>
      val r = WarmRounds + i
      val rd = nextRound(r)
      history(r) = rd
      val c0 = System.nanoTime()
      val ok = rec.op("commit", r) {
        ingest(r, rd, bandsRoot, sigsRoot, annRoot, cutRoot, probe = true)
        tr.span("Coordinator.commitCut")(commitCut())
      }.isDefined
      if (ok) {
        rec.commitWallS += (System.nanoTime() - c0) / 1e9
        rec.rowsCommitted += rd.newDocs.size + rd.goneDocs.size + rd.newVecs.size + rd.goneVecs.size
        apply(rd)
        snapshot(r)
      }
      // compaction and vacuum once, after the first timed round, so every
      // run has the same mix; their wall counts against rows_per_s like
      // any other stall
      val compactOk = if (!ok || i != CompactAfter) ok
        else {
          // what the compaction faces: the warm-up's vacuum left only live
          // segments and tombstones, and rounds since then only add
          rec.scalars("ann_segments_live") = Fs.children(s"$annRoot/seg").size
          rec.scalars("ann_tombstones_live") = Fs.children(s"$annRoot/ts").size
          val c1 = System.nanoTime()
          val done = rec.op("compact", r)(compact()).isDefined
          rec.commitWallS += (System.nanoTime() - c1) / 1e9
          done
        }
      compactOk && (0 until ServesPerRound).forall(_ => rec.op("serve", r)(serve(r)).isDefined) &&
        timedCatchup(r)
    }
    val last = WarmRounds + n
    if (rec.failed > 0) return

    rec.check("live ANN ids equal the corpus", last)(liveIds(annRoot) == vecs.keySet,
      "the ANN store's live ids differ from the generated corpus")

    // quality: ANN top-10 against exact cosine top-10, planted pairs found
    val ids = vecs.keys.toIndexedSeq
    val q = vecsDF((0 until RecallQueries).map(_ => ids(rnd.nextInt(ids.size))).distinct
      .map(i => i -> vecs(i)))
    def topk(df: DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "vec_id").collect().groupBy(_.getLong(0))
        .map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    val approx = topk(AnnIndexStore.serve(spark, annRoot, q, "vec_id", "embedding", k = 10, nprobe = 3))
    val exact = topk(VectorSearch.cosineTopK(spark, vecsDF(vecs), q, "vec_id", "embedding", 10))
    val recall = exact.map { case (k, e) => approx.getOrElse(k, Set.empty).intersect(e).size / 10.0 }
    rec.scalars("recall_at_10") = recall.sum / recall.size
    rec.scalars("dedup_recall") = found.size.toDouble / planted.size
    rec.check("ANN recall@10 above floor", last)(rec.scalars("recall_at_10") >= MinRecallAt10,
      s"recall@10 ${rec.scalars("recall_at_10")} below $MinRecallAt10")
    rec.check("planted near-duplicates found", last)(rec.scalars("dedup_recall") >= MinDedupRecall,
      s"dedup recall ${rec.scalars("dedup_recall")} below $MinDedupRecall")

    // space: vacuumed stores against the same live state written fresh
    tr.span("phase:compact")(compact())
    val m = AnnIndexStore.load(spark, annRoot)
    val liveBytes = stores.map(Fs.bytes).sum
    val fresh = ctx.path("fresh")
    val corpus = vecsDF(vecs)
    AnnIndexStore.publish(spark, s"$fresh/ann", m._1,
      VectorSearch.ivfPqEncode(m._1, corpus, "vec_id", "embedding"))
    val d = docsDF(docs).persist()
    IncrementalAgg.publishInitialMulti(spark, s"$fresh/bands", TextDedup.bandRows(d, "doc_id", "text"), bandsT)
    IncrementalAgg.publishInitialMulti(spark, s"$fresh/sigs", TextDedup.signatureRows(d, "doc_id", "text"), sigsT)
    d.unpersist()
    Coordinator.commitCut(spark, s"$fresh/cut", Map("bands" -> 0L, "sigs" -> 0L, "ann" -> 0L))
    rec.scalars("space_amp") = liveBytes.toDouble / Fs.bytes(fresh)
  }
}
