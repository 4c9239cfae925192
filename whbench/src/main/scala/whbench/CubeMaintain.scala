package whbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{AtomicPublish, ChangeFeed, Coordinator, IncrementalAgg, JoinView}
import graft.etl.IncrementalAgg.{ReplicaSpec, ViewSpec}

/** cube_maintain: the reference's revenue cube kept current by change
  * data capture instead of rebuilt. Orders and customer replica stores
  * plus a (segment, year) cube view over their join are seeded from the
  * fixture; each batch changes ~1% of orders (inserts, deletes, price
  * bumps) and a few customers' segments, with half of all changes
  * landing on 2% of customers. Batch path: ChangeFeed.diff on both
  * sources, JoinView.joinDeltaFromStores, Coordinator.advanceMembers,
  * then a cut commit; ten pruned cube reads follow each batch. Then a
  * copy of the cube taken `Backlog` batches behind catches up through
  * IncrementalAgg.applyComposedMulti(strict = true). A traced run ends
  * with the star-schema control (StarEtl.control). */
object CubeMaintain {
  val ChangeShare = 0.01
  val SegmentMovesPerBatch = 5
  val HotCustomerShare = 0.02
  val ServesPerBatch = 10
  val Backlog = 2
  /** Batches 1 .. WarmBatches are the warm-up; the rest up to Batches are
    * timed. Two warm batches, because with one the first timed commit,
    * reads and catch-up still ran up to 50% slower than the later ones
    * on a busy host. */
  val WarmBatches = 2
  val Batches = WarmBatches + Ctx.Steps

  private val OrderCols = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_year")
  private val CustCols = Seq("c_custkey", "c_mktsegment")
  private val aT = Seq(ReplicaSpec("replica", Seq("o_orderkey"), numBuckets = 16,
    bucketOn = Seq("o_custkey")))
  private val bT = Seq(ReplicaSpec("replica", Seq("c_custkey"), numBuckets = 16))
  private val gT = Seq(ViewSpec("cube", Seq("c_mktsegment", "o_year"),
    Seq("sum_price" -> "o_totalprice"), numBuckets = 8, bucketOn = Seq("c_mktsegment")))

  /** Versioned source tables: a row is live at batch k iff from <= k < to. */
  final case class History(orders: DataFrame, customers: DataFrame,
                           segments: IndexedSeq[String]) {
    def ordersAt(k: Int): DataFrame =
      orders.filter(col("v_from") <= k && col("v_to") > k).select(OrderCols.map(col): _*)
    def customersAt(k: Int): DataFrame =
      customers.filter(col("v_from") <= k && col("v_to") > k).select(CustCols.map(col): _*)
  }

  private final class OrderRow(val key: Long, val cust: Long, val price: Double,
                               val year: Int, val from: Int, var to: Int)

  /** Build the change history driver-side from the fixture and `seed`. */
  def history(spark: SparkSession, fixture: String, work: String, seed: Long,
              batches: Int): History = {
    val rnd = new java.util.Random(seed)
    val base = graft.Tables.orders(spark, fixture)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        year(col("o_orderdate")).as("o_year"))
      .orderBy("o_orderkey").collect()
    val custs = graft.Tables.customer(spark, fixture)
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val segments = custs.map(_._2).distinct.sorted.toIndexedSeq
    val years = base.map(_.getInt(3)).distinct.sorted
    val custKeys = custs.map(_._1)
    val shuffled = scala.util.Random.javaRandomToRandom(rnd).shuffle(custKeys.toSeq)
    val hot = shuffled.take(math.max(1, (custKeys.length * HotCustomerShare).toInt)).toSet

    val rows = mutable.ArrayBuffer.empty[OrderRow]
    val current = mutable.ArrayBuffer.empty[OrderRow] // one slot per order identity
    val hotSlots = mutable.ArrayBuffer.empty[Int]
    def addSlot(r: OrderRow): Unit = {
      if (hot(r.cust)) hotSlots += current.size
      current += r; rows += r
    }
    base.foreach(r => addSlot(new OrderRow(r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getInt(3), 0, Int.MaxValue)))
    var nextKey = base.map(_.getLong(0)).max + 1
    val custRows = mutable.ArrayBuffer.empty[(Long, String, Int, Int)]
    val custCur = mutable.LinkedHashMap(custs.map { case (k, s) => k -> ((s, 0)) }: _*)
    val hotCusts = hot.toIndexedSeq.sorted
    def pickCust(): Long =
      if (rnd.nextDouble() < 0.5) hotCusts(rnd.nextInt(hotCusts.size))
      else custKeys(rnd.nextInt(custKeys.length))

    (1 to batches).foreach { b =>
      val live = current.count(_.to == Int.MaxValue)
      val nChange = math.max(3, (live * ChangeShare).toInt)
      val touched = mutable.Set.empty[Int]
      def pickLive(): Option[Int] = Iterator.continually {
        if (rnd.nextDouble() < 0.5 && hotSlots.nonEmpty) hotSlots(rnd.nextInt(hotSlots.size))
        else rnd.nextInt(current.size)
      }.take(64).find(s => current(s).to == Int.MaxValue && !touched(s))
      (0 until nChange).foreach { i =>
        i % 3 match {
          case 0 => // insert a new order
            addSlot(new OrderRow(nextKey, pickCust(), 1000.0 + rnd.nextInt(40000000) / 100.0,
              years(rnd.nextInt(years.length)), b, Int.MaxValue))
            touched += current.size - 1
            nextKey += 1
          case 1 => pickLive().foreach { s => touched += s; current(s).to = b }
          case _ => pickLive().foreach { s =>
            touched += s
            val old = current(s)
            old.to = b
            val bumped = new OrderRow(old.key, old.cust,
              math.rint((old.price + 1.0 + rnd.nextInt(100000) / 100.0) * 100) / 100,
              old.year, b, Int.MaxValue)
            current(s) = bumped; rows += bumped
          }
        }
      }
      (0 until SegmentMovesPerBatch).foreach { _ =>
        val c = pickCust()
        val (seg, from) = custCur(c)
        val next = segments.filterNot(_ == seg)(rnd.nextInt(segments.size - 1))
        custRows += ((c, seg, from, b))
        custCur(c) = (next, b)
      }
    }
    custCur.foreach { case (c, (s, from)) => custRows += ((c, s, from, Int.MaxValue)) }

    val oSchema = StructType(Seq(StructField("o_orderkey", LongType, false),
      StructField("o_custkey", LongType, false), StructField("o_totalprice", DoubleType, false),
      StructField("o_year", IntegerType, false), StructField("v_from", IntegerType, false),
      StructField("v_to", IntegerType, false)))
    val cSchema = StructType(Seq(StructField("c_custkey", LongType, false),
      StructField("c_mktsegment", StringType, false), StructField("v_from", IntegerType, false),
      StructField("v_to", IntegerType, false)))
    import scala.jdk.CollectionConverters._
    val oRows = rows.map(r => Row(r.key, r.cust, r.price, r.year, r.from, r.to))
    val cRows = custRows.map { case (c, s, f, t) => Row(c, s, f, t) }
    spark.createDataFrame(oRows.asJava, oSchema).repartition(4)
      .write.parquet(s"$work/src/orders_hist")
    spark.createDataFrame(cRows.asJava, cSchema).coalesce(1)
      .write.parquet(s"$work/src/customer_hist")
    History(spark.read.parquet(s"$work/src/orders_hist"),
      spark.read.parquet(s"$work/src/customer_hist"), segments)
  }

  private def joined(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b, col("o_custkey") === col("c_custkey"), "inner")

  /** Cube rows as (segment, year) -> (n, sum) for exact comparison. */
  private def cubeMap(df: DataFrame): Map[(String, Int), (Long, BigDecimal)] =
    df.select(col("c_mktsegment"), col("o_year"), col("n"),
        col("sum_price").cast(DecimalType(38, 2)))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), BigDecimal(r.getDecimal(3))))).toMap

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val tr = ctx.tracer
    val hist = tr.span("phase:seed")(tr.span("inputs")(
      history(spark, ctx.fixture, ctx.work, ctx.seed, Batches)))
    Recorder.log("cube_maintain inputs ready")
    val aRoot = ctx.path("stores/orders")
    val bRoot = ctx.path("stores/customer")
    val gRoot = ctx.path("stores/cube")
    val cutRoot = ctx.path("stores/cut")
    val rnd = new java.util.Random(ctx.seed * 31 + 7)

    def cutNow(): Map[String, Long] = Map(
      "orders" -> AtomicPublish.currentVersion(spark, aRoot).get,
      "customer" -> AtomicPublish.currentVersion(spark, bRoot).get,
      "cube" -> AtomicPublish.currentVersion(spark, gRoot).get)

    tr.span("phase:seed") {
      tr.span("Coordinator.seedMembers")(Coordinator.seedMembers(spark, Seq(
        Coordinator.SeedRows(aRoot, hist.ordersAt(0), aT),
        Coordinator.SeedRows(bRoot, hist.customersAt(0), bT),
        Coordinator.SeedRows(gRoot, joined(hist.ordersAt(0), hist.customersAt(0)), gT))))
      tr.span("Coordinator.commitCut")(Coordinator.commitCut(spark, cutRoot, cutNow()))
    }
    // hard-linked copies of the cube after batch k: lagging consumers
    // that catch up once the live cube is Backlog batches ahead
    def lagRoot(k: Int): String = ctx.path(s"lagging/cube-after$k")
    def snapshot(k: Int): Unit = if (k + Backlog <= Batches) Fs.linkTree(gRoot, lagRoot(k))
    snapshot(0)

    Recorder.log("cube_maintain stores seeded")
    // the last Backlog view feeds, kept cached for the catch-up
    val viewFeeds = mutable.Queue.empty[(Long, DataFrame)]

    /** Batch k's source feeds and the cube's view feed, all persisted,
      * against the stores' current versions, plus the source feeds' rows. */
    def feeds(k: Int): (DataFrame, DataFrame, DataFrame, Long) = {
      def diff(before: DataFrame, after: DataFrame, key: String): (DataFrame, Long) =
        tr.span("ChangeFeed.diff") {
          val f = ChangeFeed.diff(before, after, Seq(key)).persist()
          val n = f.count()
          tr.count("rows_out", n)
          tr.count("bytes_out", f.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble)
          (f, n)
        }
      val (feedA, rowsA) = diff(hist.ordersAt(k - 1), hist.ordersAt(k), "o_orderkey")
      val (feedB, rowsB) = diff(hist.customersAt(k - 1), hist.customersAt(k), "c_custkey")
      val viewFeed = tr.span("JoinView.joinDeltaFromStores") {
        JoinView.joinDeltaFromStores(spark,
          JoinView.Side(aRoot, "replica", Seq("o_custkey"),
            AtomicPublish.currentVersion(spark, aRoot).get),
          JoinView.Side(bRoot, "replica", Seq("c_custkey"),
            AtomicPublish.currentVersion(spark, bRoot).get),
          feedA, feedB).persist()
      }
      (feedA, feedB, viewFeed, rowsA + rowsB)
    }

    /** Commit batch k; returns the feed rows it made readable. */
    def commit(k: Int): Long = {
      val (feedA, feedB, viewFeed, rows) = feeds(k)
      tr.span("Coordinator.advanceMembers")(Coordinator.advanceMembers(spark, k.toLong, Seq(
        Coordinator.MemberAdvance(aRoot, feedA, aT),
        Coordinator.MemberAdvance(bRoot, feedB, bT),
        Coordinator.MemberAdvance(gRoot, viewFeed, gT))))
      tr.span("Coordinator.commitCut")(Coordinator.commitCut(spark, cutRoot, cutNow()))
      feedA.unpersist(); feedB.unpersist()
      viewFeeds.enqueue(k.toLong -> viewFeed)
      if (viewFeeds.size > Backlog) viewFeeds.dequeue()._2.unpersist()
      rows
    }

    def catchup(root: String, backlog: Seq[(Long, DataFrame)]): Int =
      tr.span("IncrementalAgg.applyComposedMulti")(IncrementalAgg.applyComposedMulti(
        spark, root, backlog, Seq("o_orderkey"), gT, strict = true))

    /** Catch up the copy taken after batch k - Backlog with the backlog of
      * view feeds, timed, and check it against the live cube. */
    def timedCatchup(k: Int): Boolean = {
      val lag = lagRoot(k - Backlog)
      val ok = rec.op("catchup", k)(catchup(lag, viewFeeds.toSeq)).isDefined &&
        rec.check("caught-up cube equals live cube", k)(
          cubeMap(IncrementalAgg.readView(spark, lag, "cube")) ==
            cubeMap(IncrementalAgg.readView(spark, gRoot, "cube")),
          "the lagging store's cube differs from the live store's after catch-up")
      Fs.delete(lag)
      ok
    }

    def serve(): Int = {
      val v = tr.span("Coordinator.currentCut")(Coordinator.currentCut(spark, cutRoot))("cube")
      val seg = hist.segments(rnd.nextInt(hist.segments.size))
      tr.span("IncrementalAgg.readViewPruned")(IncrementalAgg.readViewPruned(spark, gRoot,
        "cube", Seq("c_mktsegment"), Seq(Seq(seg)), Some(v)).collect().length)
    }

    // warm-up, untimed: the warm batches with their reads, then the
    // batch-0 copy catches up with them
    tr.span("phase:seed")(tr.span("warmup") {
      (1 to WarmBatches).foreach { k =>
        commit(k)
        snapshot(k)
        (1 to ServesPerBatch).foreach(_ => serve())
      }
      catchup(lagRoot(0), viewFeeds.toSeq)
      Fs.delete(lagRoot(0))
    })
    Recorder.log("cube_maintain warm-up done")
    val segsBefore = mutable.Map.empty[String, Set[String]]
    rec.markFirstOp()
    val n = ctx.loop { i =>
      val k = WarmBatches + i
      if (tr.active) Seq(aRoot, bRoot, gRoot).foreach(r =>
        segsBefore(r) = Fs.children(s"$r/state_segments"))
      val t0 = System.nanoTime()
      val rows = rec.op("commit", k)(commit(k))
      val ok = rows.isDefined
      if (ok) {
        rec.commitWallS += (System.nanoTime() - t0) / 1e9
        rec.rowsCommitted += rows.get
        snapshot(k)
      }
      if (ok) tr.annotate("phase:commit", "segments_written",
        Seq(aRoot, bRoot, gRoot).map(r =>
          (Fs.children(s"$r/state_segments") -- segsBefore(r)).size).sum)
      if (ok) tr.annotate("phase:commit", "viewfeed_rows", viewFeeds.last._2.count())
      ok && (1 to ServesPerBatch).forall(_ => rec.op("serve", k)(serve()).isDefined) &&
        timedCatchup(k)
    }
    val last = WarmBatches + n
    if (rec.failed > 0) return

    val live = cubeMap(IncrementalAgg.readView(spark, gRoot, "cube"))
    rec.check("maintained cube equals recompute", last)({
      val fresh = cubeMap(IncrementalAgg.aggregate(
        joined(hist.ordersAt(last), hist.customersAt(last)),
        Seq("c_mktsegment", "o_year"), Seq("sum_price" -> "o_totalprice")))
      fresh == live
    }, s"cube at batch $last differs from a from-scratch aggregate of the batch-$last snapshots")
    viewFeeds.foreach(_._2.unpersist())
    Fs.delete(ctx.path("lagging"))

    // vacuum to the live version, then compare with the same state written fresh
    tr.span("phase:compact") {
      val roots = Seq("orders" -> aRoot, "customer" -> bRoot, "cube" -> gRoot)
      tr.span("AtomicPublish.vacuum") {
        val before = if (tr.active) (roots.map(_._2) :+ cutRoot).map(Fs.files).sum else 0
        AtomicPublish.vacuum(spark, cutRoot, keep = 1, minAgeMs = 0)
        roots.foreach { case (name, r) =>
          Coordinator.vacuumMember(spark, cutRoot, name, r, keep = 1, minAgeMs = 0) }
        tr.count("files_removed", before - (roots.map(_._2) :+ cutRoot).map(Fs.files).sum)
      }
      tr.span("IncrementalAgg.vacuumSegments")(roots.foreach { case (_, r) =>
        IncrementalAgg.vacuumSegments(spark, r, minAgeMs = 0) })
    }
    val liveBytes = Seq(aRoot, bRoot, gRoot, cutRoot).map(Fs.bytes).sum
    val fresh = ctx.path("fresh")
    Coordinator.seedMembers(spark, Seq(
      Coordinator.SeedRows(s"$fresh/orders", hist.ordersAt(last), aT),
      Coordinator.SeedRows(s"$fresh/customer", hist.customersAt(last), bT),
      Coordinator.SeedRows(s"$fresh/cube", joined(hist.ordersAt(last), hist.customersAt(last)), gT)))
    Coordinator.commitCut(spark, s"$fresh/cut", Map(
      "orders" -> AtomicPublish.currentVersion(spark, s"$fresh/orders").get,
      "customer" -> AtomicPublish.currentVersion(spark, s"$fresh/customer").get,
      "cube" -> AtomicPublish.currentVersion(spark, s"$fresh/cube").get))
    rec.scalars("space_amp") = liveBytes.toDouble / Fs.bytes(fresh)

    if (ctx.traced) StarEtl.control(ctx)
  }
}
