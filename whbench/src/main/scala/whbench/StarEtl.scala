package whbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.etl.Pipeline

/** star_etl: the reference's nightly job. Source snapshots are cumulative:
  * night 0 (loaded during set-up) holds a seeded half of the orders of a
  * one-in-ten customer slice of the fixture with their lineitems; every
  * later night adds a seeded share of the remaining orders, with the
  * customers and parts they are first to reference. Each night is one
  * etl.Pipeline.run (anti-join appends of dims and fact, full cube
  * overwrite) followed by serving reads: a year-pruned transportfact
  * scan and the top-10 revenue by country over cube_table.
  *
  * `control` runs the same nights at a smaller count inside another
  * workload's traced run, so the Pipeline, StarSchema and DimOps layers
  * are measured on a gated workload too. */
object StarEtl {
  val CustomerStride = 10
  val ServesPerNight = 20
  private val Tables = Seq("orders", "lineitem", "customer", "part")
  private val Static = Seq("nation", "region")

  /** Split the fixture slice into chunks for nights 0 .. `nights` under
    * `work/star/chunks`. */
  private def chunk(ctx: Ctx, nights: Int): Unit = {
    val spark = ctx.spark
    val fx = ctx.fixture
    val seed = ctx.seed
    val orders = graft.Tables.orders(spark, fx).filter(col("o_custkey") % CustomerStride === 0)
      // half the orders load on night 0, the rest spread over the nights
      .withColumn("night", when(abs(xxhash64(col("o_orderkey"), lit(seed))) % 2 === 0, lit(0))
        .otherwise(lit(1) + abs(xxhash64(lit(seed), col("o_orderkey"))) % nights))
    val lineitem = graft.Tables.lineitem(spark, fx)
      .join(orders.select(col("o_orderkey").as("l_orderkey"), col("night")), "l_orderkey")
    // a customer or part arrives with the first order that references it
    val custNight = orders.groupBy(col("o_custkey").as("c_custkey")).agg(min("night").as("night"))
    val customer = graft.Tables.customer(spark, fx).filter(col("c_custkey") % CustomerStride === 0)
      .join(custNight, Seq("c_custkey"), "left").na.fill(0, Seq("night"))
    val partNight = lineitem.groupBy(col("l_partkey").as("p_partkey")).agg(min("night").as("night"))
    val part = graft.Tables.part(spark, fx).join(partNight, Seq("p_partkey"), "left")
      .na.fill(0, Seq("night"))
    Seq("orders" -> orders, "lineitem" -> lineitem, "customer" -> customer, "part" -> part)
      .foreach { case (t, df) =>
        df.repartition(col("night")).write.partitionBy("night").parquet(ctx.path(s"star/chunks/$t"))
      }
    Static.foreach(t => graft.Tables.read(spark, fx, t).write.parquet(ctx.path(s"star/chunks/$t")))
  }

  /** The cumulative source snapshot of night `k`: hard links to chunks 0..k. */
  private def snapshot(ctx: Ctx, k: Int): String = {
    val dir = ctx.path(s"star/night$k")
    if (new java.io.File(dir).exists()) return dir
    Tables.foreach { t =>
      val out = Paths.get(s"$dir/$t.parquet")
      Files.createDirectories(out)
      (0 to k).foreach { n =>
        val src = new java.io.File(ctx.path(s"star/chunks/$t/night=$n"))
        Option(src.listFiles()).getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
          .foreach(f => Files.createLink(out.resolve(s"n${n}_${f.getName}"), f.toPath))
      }
    }
    Static.foreach(t => Fs.linkTree(ctx.path(s"star/chunks/$t"), s"$dir/$t.parquet"))
    dir
  }

  /** Nights of Pipeline.run into one warehouse, with star_etl's checks:
    * after each checked night the cube has as many rows as the fact, and
    * a replayed night inserts nothing. */
  private final class Nightly(ctx: Ctx, val warehouse: String) {
    private val tr = ctx.tracer
    private var factRows = 0L

    /** Pipeline.run on snapshot k into `wh`. */
    def night(k: Int, wh: String = warehouse): Seq[Pipeline.LoadReport] = {
      val src = snapshot(ctx, k)
      val before = if (tr.active) Fs.paths(wh) else Set.empty[String]
      val reports = tr.span("Pipeline.run") {
        val reports = Pipeline.run(ctx.spark, src, wh)
        val loads = reports.filterNot(_.table == "cube_table")
        tr.count("inserted", loads.map(_.inserted).sum.toDouble)
        tr.count("offered", loads.map(r => r.inserted + r.skipped).sum.toDouble)
        reports
      }
      tr.annotate("Pipeline.run", "files_written", (Fs.paths(wh) -- before).size)
      reports
    }

    /** Night k into the warehouse; returns the rows it inserted. */
    def checkedNight(k: Int): Long = {
      val reports = night(k)
      factRows += reports.find(_.table == "transportfact").get.inserted
      val cubeRows = reports.find(_.table == "cube_table").get.inserted
      ctx.rec.check("cube rows equal fact rows", k)(cubeRows == factRows,
        s"cube_table has $cubeRows rows, transportfact $factRows")
      reports.filterNot(_.table == "cube_table").map(_.inserted).sum
    }

    def replay(k: Int): Unit = {
      val again = night(k).filterNot(_.table == "cube_table")
      ctx.rec.check("replayed night inserts 0 rows", k)(again.forall(_.inserted == 0),
        again.filter(_.inserted != 0).map(r => s"${r.table}+${r.inserted}").mkString(", "))
    }
  }

  /** The star-schema control for another workload's traced run: night 0
    * and night 1 of the slice through Pipeline.run, then night 1 replayed,
    * with star_etl's checks. Untimed; it only feeds the per-layer metrics
    * of those layers. */
  def control(ctx: Ctx): Unit = ctx.tracer.span("phase:star") {
    ctx.tracer.span("inputs")(chunk(ctx, nights = 1))
    val w = new Nightly(ctx, ctx.path("star/warehouse"))
    w.checkedNight(0)
    w.checkedNight(1)
    w.replay(1)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val tr = ctx.tracer
    val rnd = new java.util.Random(ctx.seed * 17 + 3)
    tr.span("phase:seed")(tr.span("inputs")(chunk(ctx, nights = Ctx.Steps)))
    val w = new Nightly(ctx, ctx.path("star/warehouse"))
    val wh = w.warehouse

    val years = (1992 to 1998).toIndexedSeq
    /** One dashboard refresh: a year-pruned fact scan, then the top-10
      * revenue by country over the cube. */
    def serve(): Long = {
      val y = years(rnd.nextInt(years.size))
      val n = tr.span("serve.transportfact_year_scan")(
        spark.read.parquet(s"$wh/transportfact").filter(col("year") === y)
          .agg(count(lit(1)), sum("quantity")).collect().head.getLong(0))
      tr.span("serve.cube_top10_country_revenue")(
        spark.read.parquet(s"$wh/cube_table").groupBy("country_name")
          .agg(sum(col("price")).as("revenue")).orderBy(col("revenue").desc).limit(10)
          .collect())
      n
    }

    // night 0 is the base load; replaying it and a few reads warm every op kind
    tr.span("phase:seed") {
      w.checkedNight(0)
      tr.span("warmup") { w.replay(0); (0 until 3).foreach(_ => serve()) }
    }
    Recorder.log("star_etl base load and warm-up done")
    rec.markFirstOp()
    val n = ctx.loop { k =>
      val t0 = System.nanoTime()
      rec.op("commit", k)(w.checkedNight(k)) match {
        case None => false
        case Some(rows) =>
          rec.commitWallS += (System.nanoTime() - t0) / 1e9
          rec.rowsCommitted += rows
          (0 until ServesPerNight).forall(_ => rec.op("serve", k)(serve()).isDefined)
      }
    }
    if (rec.failed > 0) return

    // catch-up: a warehouse that missed every night loads the latest
    // snapshot in one run; the result is also the fresh copy space_amp
    // compares the live warehouse against
    val fresh = ctx.path("star/fresh")
    rec.op("catchup", n)(w.night(n, fresh))
    val liveCounts = countAll(ctx, wh)
    val freshCounts = countAll(ctx, fresh)
    rec.check("caught-up warehouse equals live", n)(freshCounts == liveCounts,
      s"caught-up $freshCounts vs live $liveCounts")
    rec.scalars("space_amp") = Fs.bytes(wh).toDouble / Fs.bytes(fresh)
  }

  private val WarehouseTables = Seq("dimproduct", "dimclient", "dimdate", "transportfact",
    "cube_table")

  private def countAll(ctx: Ctx, wh: String): Map[String, Long] =
    WarehouseTables.map(t => t -> ctx.spark.read.parquet(s"$wh/$t").count()).toMap
}
