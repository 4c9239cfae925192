package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.etl.{DimOps, StarSchema}

/** The reference's ETL surface as verifiable queries: every dimension
  * loader, the fact load, and the cube rebuild
  * (/root/reference/warehouse.py:76-305), each paired with ANSI SQL the
  * DuckDB oracle replays on the same parquet. Surrogate keys are
  * deterministic (dense_rank, SURVEY.md §7.3) so both engines agree.
  */
object Etl {

  /** Shared oracle CTE text for the dims (DuckDB side of StarSchema). */
  private val subcatCte =
    """subcat AS (
      |  SELECT CAST(dense_rank() OVER (ORDER BY p_type) AS BIGINT) AS id,
      |         p_type AS subcategory
      |  FROM (SELECT DISTINCT p_type FROM part))""".stripMargin

  private val yearsCte =
    """years AS (
      |  SELECT CAST(dense_rank() OVER (ORDER BY y) AS BIGINT) AS id,
      |         y AS year
      |  FROM (SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS y FROM orders))""".stripMargin

  private val datesCte =
    """dimdate AS (
      |  SELECT CAST(dense_rank() OVER (ORDER BY d.date) AS BIGINT) AS id,
      |         d.date,
      |         CAST(day(d.date) AS BIGINT) AS day,
      |         CAST(month(d.date) AS BIGINT) AS month_id,
      |         y.id AS year_id,
      |         CAST((quarter(d.date)-1)*3+1 AS BIGINT) AS three_months
      |  FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS date FROM orders) d
      |  JOIN years y ON CAST(year(d.date) AS BIGINT) = y.year)""".stripMargin

  private val clientDecodeSql =
    """CASE c_mktsegment
      |  WHEN 'BUILDING'   THEN 'industry'
      |  WHEN 'AUTOMOBILE' THEN 'mechanic_company'
      |  WHEN 'MACHINERY'  THEN 'mechanic_company'
      |  WHEN 'HOUSEHOLD'  THEN 'electric_company'
      |  WHEN 'FURNITURE'  THEN 'industry'
      |END""".stripMargin

  private val factCte =
    """fact AS (
      |  SELECT CAST(l_orderkey*100 + l_linenumber AS BIGINT) AS id,
      |         l_partkey AS product_id,
      |         o_custkey AS client_id,
      |         CAST(o_orderdate AS DATE) AS date_id,
      |         CAST(c_nationkey AS BIGINT) AS country_id,
      |         l_quantity AS quantity,
      |         l_extendedprice AS price,
      |         CAST(year(l_shipdate) AS BIGINT) AS year
      |  FROM lineitem
      |  JOIN orders   ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey  = c_custkey)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_dim_client" -> ((s, dir) =>
      StarSchema.dimClient(Tables.customer(s, dir)).orderBy("id")),

    "etl_dim_product_subcategory" -> ((s, dir) =>
      StarSchema.dimProductSubcategory(Tables.part(s, dir)).orderBy("id")),

    "etl_dim_product" -> ((s, dir) => {
      val part = Tables.part(s, dir)
      StarSchema.dimProduct(part, StarSchema.dimProductSubcategory(part)).orderBy("id")
    }),

    "etl_dim_country" -> ((s, dir) =>
      StarSchema.dimCountry(Tables.nation(s, dir)).orderBy("id")),

    "etl_dim_country_subregion" -> ((s, dir) =>
      StarSchema.dimCountrySubregion(Tables.region(s, dir)).orderBy("id")),

    "etl_dim_date_month" -> ((s, dir) =>
      StarSchema.dimDateMonth(s).orderBy("id")),

    "etl_dim_date_year" -> ((s, dir) =>
      StarSchema.dimDateYear(Tables.orders(s, dir), "o_orderdate").orderBy("id")),

    "etl_dim_date" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      StarSchema.dimDate(orders, "o_orderdate",
        StarSchema.dimDateYear(orders, "o_orderdate")).orderBy("id")
    }),

    // The composite fact id (orderkey×100+linenumber) is not unique on this
    // generator (duplicate (orderkey,linenumber) pairs exist), so tie-safe
    // determinism needs the full column list as sort key — same in the oracle.
    "etl_fact_load" -> ((s, dir) => {
      val f = StarSchema.fact(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir))
      f.orderBy(f.columns.map(col): _*)
    }),

    "etl_cube_build" -> ((s, dir) => {
      val c = Shared.cube(s, dir)
      c.orderBy(c.columns.map(col): _*)
    }),

    // O1 — pipeline driver (warehouse.py:307-314): every stage built in
    // dependency order, summarized as per-output row counts (the shape of
    // a pipeline run report).
    "o1_pipeline_counts" -> ((s, dir) => {
      val out = StarSchema.build(s, dir)
      val parts: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
        "1_dimproduct_subcategory" -> out.subcategory,
        "2_dimproduct" -> out.product,
        "3_dimclient" -> out.client,
        "4_dimcountry" -> out.country,
        "5_dimcountry_subregion" -> out.subregion,
        "6_dimdate_month" -> out.months,
        "7_dimdate_year" -> out.years,
        "8_dimdate" -> out.dates,
        "9_transportfact" -> out.fact,
        "10_cube_table" -> Shared.cube(s, dir))
      parts.map { case (name, df) =>
        df.agg(count(lit(1)).as("n_rows")).select(lit(name).as("stage"), col("n_rows"))
      }.reduce(_ unionByName _).orderBy("stage")
    }),

    // O3 — skip/violation accounting (warehouse.py:94,116,...): the
    // anti-join upsert yields inserted-vs-skipped counts for free.
    // Existing = clients with odd keys (a prior partial load); incoming =
    // the full source; re-running inserts only the evens.
    "o3_upsert_audit" -> ((s, dir) => {
      val incoming = StarSchema.dimClient(Tables.customer(s, dir))
      val existing = incoming.filter(col("id") % 2 === 1)
      val inserted = DimOps.newRows(existing, incoming, Seq("id"))
      inserted.agg(count(lit(1)).as("inserted"))
        .crossJoin(incoming.agg(count(lit(1)).as("total")))
        .select(col("inserted"), (col("total") - col("inserted")).as("skipped"),
          col("total"))
    }),

    // O7 — cross-table transactional publish [warehouse.py:50-70,252-301
    // multi-statement transactions; previously the engine's one
    // documented non-goal]: two aggregates of the same orders batch
    // publish ATOMICALLY via AtomicPublish's version-pointer swap, then
    // read back through ONE resolved snapshot. total_check (the grand
    // total from the by-year table) equaling the sum of the by-priority
    // rows is exactly the cross-table consistency a torn publish would
    // break. Each run bumps the version; vacuum bounds retained history.
    "o7_atomic_publish" -> ((s, dir) => {
      import graft.etl.AtomicPublish
      val root = s"/root/repo/target/sink/o7_pub_${Tables.dirSlug(dir)}"
      val orders = Tables.orders(s, dir)
      val byPriority = orders.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
      val byYear = orders.groupBy(year(col("o_orderdate")).as("order_year"))
        .agg(count(lit(1)).as("n"))
      AtomicPublish.publish(s, root, Seq(
        "orders_by_priority" -> byPriority, "orders_by_year" -> byYear))
      AtomicPublish.vacuum(s, root, keep = 2)
      val snap = AtomicPublish.snapshot(s, root)
      snap.table(s, "orders_by_priority")
        .crossJoin(broadcast(
          snap.table(s, "orders_by_year").agg(sum("n").as("total_check"))))
        .select(col("o_orderpriority"), col("n"), col("total_check"))
        .orderBy("o_orderpriority")
    }),

    // O8 — time-travel read + version diff [extension over O7]: two
    // successive publishes of the same logical table (the second a
    // "correction batch" dropping urgent orders), then BOTH versions
    // read back via AtomicPublish.snapshotAt and diffed — the as-of
    // read + change audit Iceberg/Delta users run after a bad batch.
    // Versions are immutable once committed (vacuum is the only
    // deleter), so the historical read is exact by construction.
    "o8_version_travel" -> ((s, dir) => {
      import graft.etl.AtomicPublish
      val root = s"/root/repo/target/sink/o8_tt_${Tables.dirSlug(dir)}"
      val orders = Tables.orders(s, dir)
      def byYear(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(year(col("o_orderdate")).as("order_year"))
          .agg(count(lit(1)).as("n"))
      val v1 = AtomicPublish.publish(s, root,
        Seq("orders_by_year" -> byYear(orders)))
      val v2 = AtomicPublish.publish(s, root,
        Seq("orders_by_year" -> byYear(
          orders.filter(col("o_orderpriority") =!= "1-URGENT"))))
      AtomicPublish.vacuum(s, root, keep = 2)
      val a = AtomicPublish.snapshotAt(s, root, v1).table(s, "orders_by_year")
        .withColumnRenamed("n", "n_v1")
      val b = AtomicPublish.snapshotAt(s, root, v2).table(s, "orders_by_year")
        .withColumnRenamed("n", "n_v2")
      a.join(b, Seq("order_year"), "full_outer")
        .select(col("order_year"),
          coalesce(col("n_v1"), lit(0L)).as("n_v1"),
          coalesce(col("n_v2"), lit(0L)).as("n_v2"),
          (coalesce(col("n_v2"), lit(0L)) - coalesce(col("n_v1"), lit(0L)))
            .as("delta"))
        .orderBy("order_year")
    }),

    // o10 — post-hoc change feed [extension over O8; Delta-CDF shape
    // without writer-side bookkeeping]: two successive publishes of the
    // client dimension — a correction batch that drops one decile
    // (deletes), admits a previously-missing decile (inserts), and
    // reclassifies a third (updates) — then the exact row-level delta
    // recovered from the two immutable snapshots alone:
    // ChangeFeed.between classifies insert / delete / update_preimage /
    // update_postimage via one keyed full-outer join. Unchanged rows
    // (seven deciles) never enter the feed.
    "o10_change_feed" -> ((s, dir) => {
      import graft.etl.{AtomicPublish, ChangeFeed}
      val root = s"/root/repo/target/sink/o10_cdc_${Tables.dirSlug(dir)}"
      val base = StarSchema.dimClient(Tables.customer(s, dir))
      val v1 = AtomicPublish.publish(s, root, Seq("dim_client" ->
        base.filter(col("id") % 10 =!= 7)))
      val v2 = AtomicPublish.publish(s, root, Seq("dim_client" ->
        base.filter(col("id") % 10 =!= 3)
          .withColumn("company_type",
            when(col("id") % 10 === 4, lit("reclassified"))
              .otherwise(col("company_type")))))
      AtomicPublish.vacuum(s, root, keep = 2)
      ChangeFeed.between(s, root, "dim_client", v1, v2, Seq("id"))
        .orderBy("id", "_change_type")
    }),

    // o11 — incremental aggregate maintenance [extension; the
    // materialized-view half of o10's CDC]: last batch's group-by state
    // plus the row-level change feed yields this batch's state WITHOUT
    // rescanning the base — work ∝ the true delta. The correction batch
    // deliberately MIGRATES one decile's rows to a brand-new group (a
    // value only the postimages carry), drops one decile, and admits
    // another. The oracle recomputes the aggregate from scratch on the
    // v2 slice — it never sees the incremental path — so the hash match
    // proves maintained state ≡ full recompute, bit-exactly (decimal
    // sums; double sums would only be approximately equal).
    "o11_incremental_agg" -> ((s, dir) => {
      import graft.etl.{ChangeFeed, IncrementalAgg}
      val rows = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val v1 = rows.filter(col("o_orderkey") % 10 =!= 7)
      val v2 = rows.filter(col("o_orderkey") % 10 =!= 3)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 10 === 4, lit("9-RECLASSIFIED"))
            .otherwise(col("o_orderpriority")))
      val grp = Seq("o_orderpriority")
      val sums = Seq("total_price" -> "o_totalprice")
      val prev = IncrementalAgg.aggregate(v1, grp, sums)
      val feed = ChangeFeed.diff(v1, v2, Seq("o_orderkey"))
      IncrementalAgg.maintain(prev, feed, grp, sums)
        .select(col("o_orderpriority"), col("n"),
          col("total_price").cast("double").as("total_price"))
        .orderBy("o_orderpriority")
    }),

    // o12 — change-feed FAN-OUT [extension; gates SCALE.md's
    // amortization claim: ONE diff maintains EVERY downstream
    // aggregate]: the o11 version chain's feed is MATERIALIZED ONCE
    // (the shape a production consumer stores alongside its state),
    // then two DIFFERENTLY-GROUPED maintained aggregates consume that
    // same feed — priority and status views of the same fact stream,
    // each reaching its batch state without rescanning the base. The
    // oracle recomputes BOTH views from the v2 slice from scratch, so
    // the hash match proves the fan-out exact on every branch. Results
    // normalize to (agg_name, group_key) so one gate carries both.
    "o12_feed_fanout" -> ((s, dir) => {
      import graft.etl.{ChangeFeed, IncrementalAgg}
      val rows = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_orderstatus"), col("o_totalprice"))
      val v1 = rows.filter(col("o_orderkey") % 10 =!= 7)
      val v2 = rows.filter(col("o_orderkey") % 10 =!= 3)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 10 === 4, lit("9-RECLASSIFIED"))
            .otherwise(col("o_orderpriority")))
      val feedDir = s"/root/repo/target/sink/o12_feed_${Tables.dirSlug(dir)}"
      Shared.setupOnce(s, dir, "o12_feed") {
        ChangeFeed.diff(v1, v2, Seq("o_orderkey"))
          .write.mode("overwrite").parquet(feedDir)
      }
      val feed = s.read.parquet(feedDir)
      val sums = Seq("total_price" -> "o_totalprice")
      def maintained(grp: String, label: String) =
        IncrementalAgg.maintain(
          IncrementalAgg.aggregate(v1, Seq(grp), sums), feed, Seq(grp), sums)
          .select(lit(label).as("agg_name"), col(grp).as("group_key"),
            col("n"), col("total_price").cast("double").as("total_price"))
      maintained("o_orderpriority", "by_priority")
        .unionByName(maintained("o_orderstatus", "by_status"))
        .orderBy("agg_name", "group_key")
    }),

    // o13 — feed COMPOSITION [extension; CDC ledger compaction]: the
    // net row-level changes across a THREE-version chain, computed from
    // the two per-batch feeds alone — compose(diff(v1,v2), diff(v2,v3))
    // — never from the snapshots. A consumer that fell behind applies
    // ONE composed feed instead of two; rows that changed and changed
    // back (decile 4 is reclassified in batch 1 and the classification
    // survives batch 2 — but decile 1 rows UPDATED in batch 1 are
    // DELETED by batch 2, collapsing to plain deletes) net out exactly.
    // The feeds are MATERIALIZED once (o12's convention — the shape a
    // ledger consumer actually holds): compose is one keyed aggregate
    // that reads each feed once, NULL-keyed rows included, so the plan
    // scans each stored feed once instead of re-running a diff's joins.
    // The oracle computes the direct v1↔v3 classification relationally
    // — the composition path never appears in it, so the hash match
    // proves compose ≡ direct diff on real data.
    "o13_feed_compose" -> ((s, dir) => {
      import graft.etl.ChangeFeed
      val rows = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val reclass = (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("o_orderpriority",
          when(col("o_orderkey") % 10 === 4, lit("9-RECLASSIFIED"))
            .otherwise(col("o_orderpriority")))
      val v1 = rows.filter(col("o_orderkey") % 10 =!= 7)
      val v2 = reclass(rows.filter(col("o_orderkey") % 10 =!= 3))
      val v3 = reclass(rows.filter(col("o_orderkey") % 10 =!= 3 &&
        col("o_orderkey") % 10 =!= 1))
      val feedDir = s"/root/repo/target/sink/o13_feeds_${Tables.dirSlug(dir)}"
      Shared.setupOnce(s, dir, "o13_feeds") {
        ChangeFeed.diff(v1, v2, Seq("o_orderkey"))
          .write.mode("overwrite").parquet(s"$feedDir/f0")
        ChangeFeed.diff(v2, v3, Seq("o_orderkey"))
          .write.mode("overwrite").parquet(s"$feedDir/f1")
      }
      ChangeFeed.compose(
        s.read.parquet(s"$feedDir/f0"),
        s.read.parquet(s"$feedDir/f1"), Seq("o_orderkey"))
        .orderBy("o_orderkey", "_change_type")
    }),

    // o14 — feed-based table REPLICATION [extension; the inverse leg of
    // the CDC algebra: diff produces a feed, compose folds feeds,
    // maintain consumes one into an aggregate — applyTo consumes one
    // into the TABLE]: a replica site holding v1 of the orders slice
    // reaches v3 by applying the two delta-sized feeds alone, never a
    // snapshot, through the bucketed replica store (ReplicaSpec —
    // exactly-once ledger, strict preimage verification, and writes
    // proportional to the delta's touched buckets). The oracle computes
    // the v3 slice directly from the base table — the feeds, applyTo,
    // and the store never appear in it, so the hash match proves
    // replica ≡ primary row-for-row.
    "o14_feed_replicate" -> ((s, dir) => {
      import graft.etl.{ChangeFeed, IncrementalAgg}
      import graft.etl.IncrementalAgg.ReplicaSpec
      // pinned for the build: v1/v2/v3 are synthetic slices of ONE scan
      // (an artifact of the gate — production's versions already exist
      // on disk), and each diff reads two of them. The store build is
      // eager, so the pin is released before the result is returned.
      val rows = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .persist()
      val reclass = (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("o_orderpriority",
          when(col("o_orderkey") % 10 === 4, lit("9-RECLASSIFIED"))
            .otherwise(col("o_orderpriority")))
      val v1 = rows.filter(col("o_orderkey") % 10 =!= 7)
      val v2 = reclass(rows.filter(col("o_orderkey") % 10 =!= 3))
      val v3 = reclass(rows.filter(col("o_orderkey") % 10 =!= 3 &&
        col("o_orderkey") % 10 =!= 1))
      val key = Seq("o_orderkey")
      val root = s"/root/repo/target/sink/o14_replica_${Tables.dirSlug(dir)}"
      // a fresh replica site per run: the replication state IS the
      // query's subject, so it must not accrete across invocations
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        s.sparkContext.hadoopConfiguration)
      val rp = new org.apache.hadoop.fs.Path(root)
      if (fc.util.exists(rp)) fc.delete(rp, true)
      val site = Seq(ReplicaSpec("replica", key, numBuckets = 16, strict = true))
      try {
        IncrementalAgg.publishInitialMulti(s, root, v1, site)
        IncrementalAgg.applyOnceMulti(s, root, ChangeFeed.diff(v1, v2, key), 1L, site)
        IncrementalAgg.applyOnceMulti(s, root, ChangeFeed.diff(v2, v3, key), 2L, site)
      } finally { rows.unpersist(); () }
      IncrementalAgg.readView(s, root, "replica").orderBy("o_orderkey")
    }),

    // o15 — NON-ADDITIVE maintenance [extension; recompute-on-
    // invalidation]: per-priority MIN/MAX maintained under a feed chain
    // in the same bucketed exactly-once store as a co-maintained
    // replica (ExtremaViewSpec → rescans only invalidated groups from
    // the replica's post-batch state; ReplicaSpec listed first). The
    // chain FORCES the rescan path deterministically: batch 1 deletes
    // EVERY decile-0 row — every group's minimum over the decile
    // column — and batch 2 deletes every decile-9 row (the maxima);
    // batch 1 also migrates decile 4 into a brand-new group (the
    // insert-only fast path). The oracle recomputes count/min/max from
    // the v3 slice directly — the feeds, the invalidation logic, and
    // the rescan never appear in it, so the hash match proves
    // maintained extrema ≡ full recompute on both paths.
    "o15_extrema_maintain" -> ((s, dir) => {
      import graft.etl.{ChangeFeed, IncrementalAgg}
      import graft.etl.IncrementalAgg.{ExtremaViewSpec, ReplicaSpec}
      val rows = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          (col("o_orderkey") % 10).as("dec"))
        .persist()
      val reclass = (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("o_orderpriority",
          when(col("o_orderkey") % 10 === 4, lit("9-RECLASSIFIED"))
            .otherwise(col("o_orderpriority")))
      val v1 = rows
      val v2 = reclass(rows.filter(col("dec") =!= 0))
      val v3 = reclass(rows.filter(col("dec") =!= 0 && col("dec") =!= 9))
      val key = Seq("o_orderkey")
      val root = s"/root/repo/target/sink/o15_extrema_${Tables.dirSlug(dir)}"
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        s.sparkContext.hadoopConfiguration)
      val rp = new org.apache.hadoop.fs.Path(root)
      if (fc.util.exists(rp)) fc.delete(rp, true)
      val targets = Seq(
        // the rescan replica is co-bucketed on the extrema's GROUP
        // column (ReplicaSpec.bucketOn — sound because feeds carry full
        // rows), so the invalidation rescan reads only the invalidated
        // groups' buckets instead of the whole replica
        ReplicaSpec("replica", key, numBuckets = 16, strict = true,
          bucketOn = Seq("o_orderpriority")),
        ExtremaViewSpec("extrema", Seq("o_orderpriority"),
          minCols = Seq("min_dec" -> "dec", "min_price" -> "o_totalprice"),
          maxCols = Seq("max_dec" -> "dec", "max_price" -> "o_totalprice"),
          baseReplica = "replica", numBuckets = 8))
      try {
        IncrementalAgg.publishInitialMulti(s, root, v1, targets)
        IncrementalAgg.applyOnceMulti(s, root, ChangeFeed.diff(v1, v2, key), 1L, targets)
        IncrementalAgg.applyOnceMulti(s, root, ChangeFeed.diff(v2, v3, key), 2L, targets)
      } finally { rows.unpersist(); () }
      IncrementalAgg.readView(s, root, "extrema")
        .select(col("o_orderpriority"), col("n"),
          col("min_dec"), col("max_dec"), col("min_price"), col("max_price"))
        .orderBy("o_orderpriority")
    }),

    // o18 — MAINTAINED JOIN VIEW [extension; classical IVM]: a
    // materialized orders ⋈ customer enrichment kept current under
    // BOTH tables' change feeds without re-joining the bases.
    // JoinView.joinDeltaFromStores computes the view's six-term change
    // feed with each side's pre-state read BUCKET-PRUNED by the
    // opposite delta's join keys (orders' replica is bucketed on its
    // JOIN column o_custkey — the round's subset bucketing — and
    // customer's key IS its join column), so every term is
    // delta × matching-buckets, never a base scan. Three stores
    // (orders, customer, view) each advance exactly-once; one
    // Coordinator cut per batch pins the consistent triple. The chain
    // exercises both sides: an orders delete + price update batch
    // beside a customer segment-update batch, then a customer
    // deletion (cascading pair death) beside an orders re-insertion.
    // The oracle joins the two final slices directly — the feeds, the
    // six terms, and the cut never appear in it.
    "o18_join_maintain" -> ((s, dir) => {
      import graft.etl.{AtomicPublish, ChangeFeed, Coordinator, IncrementalAgg, JoinView}
      import graft.etl.IncrementalAgg.ReplicaSpec
      val ordBase = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val custBase = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val bump = (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 4, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      val reseg = (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("c_mktsegment",
          when(col("c_custkey") % 5 === 0, lit("GRAFTSEG"))
            .otherwise(col("c_mktsegment")))
      // the bump touches only decile 4, so the decile-7 re-insertion in
      // the last step rides through it unchanged
      val aChain = Seq(
        ordBase.filter(col("o_orderkey") % 10 =!= 7),
        bump(ordBase.filter(col("o_orderkey") % 10 =!= 7 &&
          col("o_orderkey") % 10 =!= 3)),
        bump(ordBase.filter(col("o_orderkey") % 10 =!= 3)))
      val bChain = Seq(custBase, reseg(custBase),
        reseg(custBase).filter(col("c_custkey") % 7 =!= 3))
      val base = s"/root/repo/target/sink/o18_join_${Tables.dirSlug(dir)}"
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        s.sparkContext.hadoopConfiguration)
      val bp = new org.apache.hadoop.fs.Path(base)
      if (fc.util.exists(bp)) fc.delete(bp, true)
      val aRoot = s"$base/a"; val bRoot = s"$base/b"
      val vRoot = s"$base/v"; val cutRoot = s"$base/cut"
      val aT = Seq(ReplicaSpec("replica", Seq("o_orderkey"), numBuckets = 16,
        bucketOn = Seq("o_custkey")))
      val bT = Seq(ReplicaSpec("replica", Seq("c_custkey"), numBuckets = 16))
      val vT = Seq(ReplicaSpec("view", Seq("o_orderkey", "c_custkey"),
        numBuckets = 16))
      // independent roots seed CONCURRENTLY (r20) — one-time cost,
      // previously paid serially per store
      Coordinator.seedMembers(s, Seq(
        Coordinator.SeedRows(aRoot, aChain.head, aT),
        Coordinator.SeedRows(bRoot, bChain.head, bT),
        Coordinator.SeedRows(vRoot, aChain.head.join(bChain.head,
          col("o_custkey") === col("c_custkey"), "inner"), vT)))
      Coordinator.commitCut(s, cutRoot, Map("a" -> 0L, "b" -> 0L, "v" -> 0L))
      aChain.zip(bChain).sliding(2).zipWithIndex.foreach {
        case (Seq((a0, b0), (a1, b1)), i) =>
          val feedA = ChangeFeed.diff(a0, a1, Seq("o_orderkey")).persist()
          val feedB = ChangeFeed.diff(b0, b1, Seq("c_custkey")).persist()
          val cut = Coordinator.currentCut(s, cutRoot)
          val viewFeed = JoinView.joinDeltaFromStores(s,
            JoinView.Side(aRoot, "replica", Seq("o_custkey"), cut("a")),
            JoinView.Side(bRoot, "replica", Seq("c_custkey"), cut("b")),
            feedA, feedB).persist()
          try {
            // three independent stores, reads pinned to the pre-batch
            // cut — their per-commit latencies overlap (ask: the
            // multi-store serial-commit floor)
            Coordinator.advanceMembers(s, i.toLong, Seq(
              Coordinator.MemberAdvance(aRoot, feedA, aT),
              Coordinator.MemberAdvance(bRoot, feedB, bT),
              Coordinator.MemberAdvance(vRoot, viewFeed, vT)))
          } finally {
            feedA.unpersist(); feedB.unpersist(); viewFeed.unpersist(); ()
          }
          Coordinator.commitCut(s, cutRoot, Map(
            "a" -> AtomicPublish.currentVersion(s, aRoot).get,
            "b" -> AtomicPublish.currentVersion(s, bRoot).get,
            "v" -> AtomicPublish.currentVersion(s, vRoot).get))
      }
      val cut = Coordinator.currentCut(s, cutRoot)
      IncrementalAgg.readView(s, vRoot, "view", Some(cut("v")))
        .orderBy("o_orderkey")
    }),

    // o19 — MAINTAINED LEFT-OUTER JOIN [extension; the fiddly IVM
    // case]: beyond o18's inner pairs, the view holds a NULL-EXTENDED
    // row per unmatched order, and those rows are born/die on
    // FIRST-MATCH TRANSITIONS no inner term sees. The corrections are
    // decided from a per-join-key match-count view CO-MAINTAINED in
    // the customer store (the ir5 df-view pattern — count and replica
    // can never disagree), read bucket-pruned by the keys in play.
    // The chain forces every transition: a third of customers are
    // absent at seed (extensions from birth), batch 1 deletes a
    // customer slice (last-match losses — extensions born for
    // UNTOUCHED orders), batch 2 inserts back part of the absent
    // third (first matches — extensions die) while orders churn
    // underneath. The oracle is a direct LEFT JOIN of the final
    // slices.
    "o19_leftouter_maintain" -> ((s, dir) => {
      import graft.etl.{AtomicPublish, ChangeFeed, Coordinator, IncrementalAgg, JoinView}
      import graft.etl.IncrementalAgg.{ReplicaSpec, ViewSpec}
      val ordBase = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val custBase = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val bump = (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 4, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      val aChain = Seq(
        ordBase,
        ordBase.filter(col("o_orderkey") % 10 =!= 3),
        bump(ordBase.filter(col("o_orderkey") % 10 =!= 3)))
      val bChain = Seq(
        custBase.filter(col("c_custkey") % 3 =!= 1),
        custBase.filter(col("c_custkey") % 3 =!= 1 &&
          col("c_custkey") % 5 =!= 2),
        custBase.filter((col("c_custkey") % 3 =!= 1 &&
          col("c_custkey") % 5 =!= 2) ||
          (col("c_custkey") % 3 === 1 && col("c_custkey") % 7 === 0)))
      val base = s"/root/repo/target/sink/o19_lo_${Tables.dirSlug(dir)}"
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        s.sparkContext.hadoopConfiguration)
      val bp = new org.apache.hadoop.fs.Path(base)
      if (fc.util.exists(bp)) fc.delete(bp, true)
      val aRoot = s"$base/a"; val bRoot = s"$base/b"; val vRoot = s"$base/v"
      val aT = Seq(ReplicaSpec("replica", Seq("o_orderkey"), numBuckets = 16,
        bucketOn = Seq("o_custkey")))
      val bT = Seq(
        ReplicaSpec("replica", Seq("c_custkey"), numBuckets = 16),
        ViewSpec("bcnt", Seq("c_custkey"), Nil, numBuckets = 16))
      val vT = Seq(ReplicaSpec("view", Seq("o_orderkey", "c_custkey"),
        numBuckets = 16))
      Coordinator.seedMembers(s, Seq(
        Coordinator.SeedRows(aRoot, aChain.head, aT),
        Coordinator.SeedRows(bRoot, bChain.head, bT),
        Coordinator.SeedRows(vRoot, aChain.head.join(bChain.head,
          col("o_custkey") === col("c_custkey"), "left_outer"), vT)))
      aChain.zip(bChain).sliding(2).zipWithIndex.foreach {
        case (Seq((a0, b0), (a1, b1)), i) =>
          val feedA = ChangeFeed.diff(a0, a1, Seq("o_orderkey")).persist()
          val feedB = ChangeFeed.diff(b0, b1, Seq("c_custkey")).persist()
          val (outer0, release) = JoinView.leftOuterDeltaManaged(s,
            JoinView.Side(aRoot, "replica", Seq("o_custkey"),
              AtomicPublish.currentVersion(s, aRoot).get),
            JoinView.Side(bRoot, "replica", Seq("c_custkey"),
              AtomicPublish.currentVersion(s, bRoot).get),
            "bcnt", feedA, feedB)
          val outer = outer0.persist()
          try {
            Coordinator.advanceMembers(s, i.toLong, Seq(
              Coordinator.MemberAdvance(aRoot, feedA, aT),
              Coordinator.MemberAdvance(bRoot, feedB, bT),
              Coordinator.MemberAdvance(vRoot, outer, vT)))
          } finally {
            feedA.unpersist(); feedB.unpersist(); outer.unpersist(); release()
          }
      }
      IncrementalAgg.readView(s, vRoot, "view")
        .orderBy("o_orderkey")
    }),

    // o20 — MAINTAINED SEMI/ANTI JOIN [extension; membership views]:
    // A ⋉ B and its complement, maintained WITHOUT any inner join
    // terms — membership is a pure function of the per-join-key match
    // count (the o19 correction algebra with B's row values never
    // read), so B churn that keeps a key's count positive produces NO
    // view change at all. Both views ride the same chain as o19
    // (absent-at-seed customers, a deleted slice, a partial re-insert)
    // and are returned tagged, so the oracle's EXISTS / NOT EXISTS
    // recompute pins both the memberships AND their partition of the
    // live orders.
    "o20_semi_anti_maintain" -> ((s, dir) => {
      import graft.etl.{AtomicPublish, ChangeFeed, Coordinator, IncrementalAgg, JoinView}
      import graft.etl.IncrementalAgg.{ReplicaSpec, ViewSpec}
      val ordBase = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val custBase = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val bump = (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 4, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      val aChain = Seq(
        ordBase,
        ordBase.filter(col("o_orderkey") % 10 =!= 3),
        bump(ordBase.filter(col("o_orderkey") % 10 =!= 3)))
      val bChain = Seq(
        custBase.filter(col("c_custkey") % 3 =!= 1),
        custBase.filter(col("c_custkey") % 3 =!= 1 &&
          col("c_custkey") % 5 =!= 2),
        custBase.filter((col("c_custkey") % 3 =!= 1 &&
          col("c_custkey") % 5 =!= 2) ||
          (col("c_custkey") % 3 === 1 && col("c_custkey") % 7 === 0)))
      val base = s"/root/repo/target/sink/o20_sa_${Tables.dirSlug(dir)}"
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        s.sparkContext.hadoopConfiguration)
      val bp = new org.apache.hadoop.fs.Path(base)
      if (fc.util.exists(bp)) fc.delete(bp, true)
      val aRoot = s"$base/a"; val bRoot = s"$base/b"
      val sRoot = s"$base/s"; val nRoot = s"$base/n"
      val aT = Seq(ReplicaSpec("replica", Seq("o_orderkey"), numBuckets = 16,
        bucketOn = Seq("o_custkey")))
      val bT = Seq(
        ReplicaSpec("replica", Seq("c_custkey"), numBuckets = 16),
        ViewSpec("bcnt", Seq("c_custkey"), Nil, numBuckets = 16))
      val sT = Seq(ReplicaSpec("semi", Seq("o_orderkey"), numBuckets = 16))
      val nT = Seq(ReplicaSpec("anti", Seq("o_orderkey"), numBuckets = 16))
      Coordinator.seedMembers(s, Seq(
        Coordinator.SeedRows(aRoot, aChain.head, aT),
        Coordinator.SeedRows(bRoot, bChain.head, bT),
        Coordinator.SeedRows(sRoot, aChain.head.join(bChain.head,
          col("o_custkey") === col("c_custkey"), "left_semi"), sT),
        Coordinator.SeedRows(nRoot, aChain.head.join(bChain.head,
          col("o_custkey") === col("c_custkey"), "left_anti"), nT)))
      aChain.zip(bChain).sliding(2).zipWithIndex.foreach {
        case (Seq((a0, b0), (a1, b1)), i) =>
          val feedA = ChangeFeed.diff(a0, a1, Seq("o_orderkey")).persist()
          val feedB = ChangeFeed.diff(b0, b1, Seq("c_custkey")).persist()
          val aSide = JoinView.Side(aRoot, "replica", Seq("o_custkey"),
            AtomicPublish.currentVersion(s, aRoot).get)
          val bSide = JoinView.Side(bRoot, "replica", Seq("c_custkey"),
            AtomicPublish.currentVersion(s, bRoot).get)
          val (semi0, anti0, release) =
            JoinView.semiAntiDeltasManaged(s, aSide, bSide, "bcnt",
              feedA, feedB)
          val semi = semi0.persist(); val anti = anti0.persist()
          try {
            Coordinator.advanceMembers(s, i.toLong, Seq(
              Coordinator.MemberAdvance(aRoot, feedA, aT),
              Coordinator.MemberAdvance(bRoot, feedB, bT),
              Coordinator.MemberAdvance(sRoot, semi, sT),
              Coordinator.MemberAdvance(nRoot, anti, nT)))
          } finally {
            feedA.unpersist(); feedB.unpersist()
            semi.unpersist(); anti.unpersist(); release()
          }
      }
      IncrementalAgg.readView(s, sRoot, "semi")
        .withColumn("side", lit("semi"))
        .unionByName(IncrementalAgg.readView(s, nRoot, "anti")
          .withColumn("side", lit("anti")))
        .orderBy("side", "o_orderkey")
    }),

    // o21 — MAINTAINED FULL-OUTER JOIN [extension; the symmetric
    // close of o19]: null extensions on BOTH sides, each decided by
    // the OTHER side's co-maintained match-count view (acnt in the
    // orders store for customer-side extensions, bcnt in the customer
    // store for order-side ones). Every testdata customer has orders,
    // so customer-side extensions are FORCED by the chain: batch 1
    // deletes every order of an o_custkey slice (count >0→0 for
    // UNTOUCHED customers — extensions born), batch 2 re-adds part of
    // it (0→>0 — extensions die). The oracle is a direct FULL JOIN of
    // the final slices, NULLS LAST on both engines so the row order
    // pins too.
    "o21_fullouter_maintain" -> ((s, dir) => {
      import graft.etl.{AtomicPublish, ChangeFeed, Coordinator, IncrementalAgg, JoinView}
      import graft.etl.IncrementalAgg.{ReplicaSpec, ViewSpec}
      val ordBase = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val custBase = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val bump = (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 4, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      val aChain = Seq(
        ordBase,
        ordBase.filter(col("o_orderkey") % 10 =!= 3 &&
          col("o_custkey") % 11 =!= 5),
        bump(ordBase.filter(col("o_orderkey") % 10 =!= 3 &&
          (col("o_custkey") % 11 =!= 5 || col("o_custkey") % 13 === 0))))
      val bChain = Seq(
        custBase.filter(col("c_custkey") % 3 =!= 1),
        custBase.filter(col("c_custkey") % 3 =!= 1 &&
          col("c_custkey") % 5 =!= 2),
        custBase.filter((col("c_custkey") % 3 =!= 1 &&
          col("c_custkey") % 5 =!= 2) ||
          (col("c_custkey") % 3 === 1 && col("c_custkey") % 7 === 0)))
      val base = s"/root/repo/target/sink/o21_fo_${Tables.dirSlug(dir)}"
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        s.sparkContext.hadoopConfiguration)
      val bp = new org.apache.hadoop.fs.Path(base)
      if (fc.util.exists(bp)) fc.delete(bp, true)
      val aRoot = s"$base/a"; val bRoot = s"$base/b"; val vRoot = s"$base/v"
      val aT = Seq(
        ReplicaSpec("replica", Seq("o_orderkey"), numBuckets = 16,
          bucketOn = Seq("o_custkey")),
        ViewSpec("acnt", Seq("o_custkey"), Nil, numBuckets = 16))
      val bT = Seq(
        ReplicaSpec("replica", Seq("c_custkey"), numBuckets = 16),
        ViewSpec("bcnt", Seq("c_custkey"), Nil, numBuckets = 16))
      val vT = Seq(ReplicaSpec("view", Seq("o_orderkey", "c_custkey"),
        numBuckets = 16))
      Coordinator.seedMembers(s, Seq(
        Coordinator.SeedRows(aRoot, aChain.head, aT),
        Coordinator.SeedRows(bRoot, bChain.head, bT),
        Coordinator.SeedRows(vRoot, aChain.head.join(bChain.head,
          col("o_custkey") === col("c_custkey"), "full_outer"), vT)))
      aChain.zip(bChain).sliding(2).zipWithIndex.foreach {
        case (Seq((a0, b0), (a1, b1)), i) =>
          val feedA = ChangeFeed.diff(a0, a1, Seq("o_orderkey")).persist()
          val feedB = ChangeFeed.diff(b0, b1, Seq("c_custkey")).persist()
          // the family substrate's fullOuter is fullOuterDelta's exact
          // construction (same inner terms, same two Corrections) with
          // the count/transition frames CACHED for the batch (r20) —
          // they appear in ~8 terms of this one feed's plan, and the
          // uncached form re-ran the pruned count reads for each
          val fam = JoinView.familyDeltas(s,
            JoinView.Side(aRoot, "replica", Seq("o_custkey"),
              AtomicPublish.currentVersion(s, aRoot).get),
            JoinView.Side(bRoot, "replica", Seq("c_custkey"),
              AtomicPublish.currentVersion(s, bRoot).get),
            "acnt", "bcnt", feedA, feedB)
          val outer = fam.fullOuter.persist()
          try {
            Coordinator.advanceMembers(s, i.toLong, Seq(
              Coordinator.MemberAdvance(aRoot, feedA, aT),
              Coordinator.MemberAdvance(bRoot, feedB, bT),
              Coordinator.MemberAdvance(vRoot, outer, vT)))
          } finally {
            feedA.unpersist(); feedB.unpersist(); outer.unpersist()
            fam.release()
          }
      }
      IncrementalAgg.readView(s, vRoot, "view")
        .orderBy(col("o_orderkey").asc_nulls_last,
          col("c_custkey").asc_nulls_last)
    }),

    // o22 — MAINTAINED CUBE OVER A JOIN [the reference's own artifact,
    // closed incrementally: warehouse.py:214-246's denormalizing cube
    // view is rebuilt by re-running the ETL; here `revenue by
    // (segment, year)` over orders ⋈ customer stays current under BOTH
    // tables' change feeds while the JOIN IS NEVER STORED — the
    // six-term join delta (o18) feeds an additive view (o11) directly,
    // zero new machinery]. Customer churn is the interesting case: a
    // segment reclassification MOVES whole groups' rows between cube
    // cells via A_keep ⋈ ΔB alone, no orders touched. Downstream store
    // holds ONLY the (segment, year) aggregate — |cube| state, not
    // |join| state.
    "o22_cube_maintain" -> ((s, dir) => {
      import graft.etl.{AtomicPublish, ChangeFeed, Coordinator, IncrementalAgg, JoinView}
      import graft.etl.IncrementalAgg.{ReplicaSpec, ViewSpec}
      val ordBase = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("o_year"))
      val custBase = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val bump = (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 4, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      val aChain = Seq(
        ordBase,
        ordBase.filter(col("o_orderkey") % 10 =!= 3),
        bump(ordBase.filter(col("o_orderkey") % 10 =!= 3)))
      val reseg = (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("c_mktsegment",
          when(col("c_custkey") % 5 === 0, lit("GRAFTSEG"))
            .otherwise(col("c_mktsegment")))
      val bChain = Seq(
        custBase,
        custBase.filter(col("c_custkey") % 7 =!= 3),
        reseg(custBase.filter(col("c_custkey") % 7 =!= 3)))
      val base = s"/root/repo/target/sink/o22_cube_${Tables.dirSlug(dir)}"
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        s.sparkContext.hadoopConfiguration)
      val bp = new org.apache.hadoop.fs.Path(base)
      if (fc.util.exists(bp)) fc.delete(bp, true)
      val aRoot = s"$base/a"; val bRoot = s"$base/b"; val gRoot = s"$base/g"
      val aT = Seq(ReplicaSpec("replica", Seq("o_orderkey"), numBuckets = 16,
        bucketOn = Seq("o_custkey")))
      val bT = Seq(ReplicaSpec("replica", Seq("c_custkey"), numBuckets = 16))
      val gT = Seq(ViewSpec("cube", Seq("c_mktsegment", "o_year"),
        Seq("sum_price" -> "o_totalprice"), numBuckets = 8))
      def joined(a: org.apache.spark.sql.DataFrame,
                 b: org.apache.spark.sql.DataFrame) =
        a.join(b, col("o_custkey") === col("c_custkey"), "inner")
      Coordinator.seedMembers(s, Seq(
        Coordinator.SeedRows(aRoot, aChain.head, aT),
        Coordinator.SeedRows(bRoot, bChain.head, bT),
        Coordinator.SeedRows(gRoot, joined(aChain.head, bChain.head), gT)))
      aChain.zip(bChain).sliding(2).zipWithIndex.foreach {
        case (Seq((a0, b0), (a1, b1)), i) =>
          val feedA = ChangeFeed.diff(a0, a1, Seq("o_orderkey")).persist()
          val feedB = ChangeFeed.diff(b0, b1, Seq("c_custkey")).persist()
          val viewFeed = JoinView.joinDeltaFromStores(s,
            JoinView.Side(aRoot, "replica", Seq("o_custkey"),
              AtomicPublish.currentVersion(s, aRoot).get),
            JoinView.Side(bRoot, "replica", Seq("c_custkey"),
              AtomicPublish.currentVersion(s, bRoot).get),
            feedA, feedB).persist()
          try {
            Coordinator.advanceMembers(s, i.toLong, Seq(
              Coordinator.MemberAdvance(aRoot, feedA, aT),
              Coordinator.MemberAdvance(bRoot, feedB, bT),
              Coordinator.MemberAdvance(gRoot, viewFeed, gT)))
          } finally {
            feedA.unpersist(); feedB.unpersist(); viewFeed.unpersist(); ()
          }
      }
      IncrementalAgg.readView(s, gRoot, "cube")
        .select(col("c_mktsegment"), col("o_year"), col("n"),
          col("sum_price").cast("double").as("sum_price"))
        .orderBy("c_mktsegment", "o_year")
    }),

    // o23 — MAINTAINED STAR CUBE BY COMPOSED JOIN VIEWS [the
    // generality proof: a maintained join view is ITSELF a
    // maintainable base]. The reference's star join (warehouse.py:
    // 275-283) runs orders ⋈ customer ⋈ nation per rebuild; here the
    // middle view V1 = orders ⋈ customer is a replica in its own
    // store BUCKETED ON c_nationkey (the NEXT join's column), its
    // change feed is the six-term o18 delta, and that feed drives the
    // SECOND join layer V1 ⋈ nation whose feed in turn drives the
    // additive cube by (n_name, o_year) — three base stores, one
    // intermediate view store, one |cube|-sized aggregate store, all
    // advanced exactly-once per batch. A nation rename relabels whole
    // cube cells through V1_keep ⋈ ΔN without touching a single order;
    // a customer's nation move migrates its orders' cells through the
    // composed feeds alone.
    "o23_star_cube_maintain" -> ((s, dir) => {
      import graft.etl.{AtomicPublish, ChangeFeed, Coordinator, IncrementalAgg, JoinView}
      import graft.etl.IncrementalAgg.{ReplicaSpec, ViewSpec}
      val ordBase = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("o_year"))
      val custBase = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))
      val natBase = Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))
      val bump = (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 4, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      val aChain = Seq(
        ordBase,
        ordBase.filter(col("o_orderkey") % 10 =!= 3),
        bump(ordBase.filter(col("o_orderkey") % 10 =!= 3)))
      val moveNation = (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("c_nationkey",
          when(col("c_custkey") % 11 === 0, (col("c_nationkey") + 1) % 25)
            .otherwise(col("c_nationkey")))
      val bChain = Seq(
        custBase,
        custBase.filter(col("c_custkey") % 7 =!= 3),
        moveNation(custBase.filter(col("c_custkey") % 7 =!= 3)))
      val renamed = natBase.withColumn("n_name",
        when(col("n_nationkey") === 7, concat(col("n_name"), lit("-RENAMED")))
          .otherwise(col("n_name")))
      val nChain = Seq(natBase, natBase, renamed)
      val base = s"/root/repo/target/sink/o23_star_${Tables.dirSlug(dir)}"
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        s.sparkContext.hadoopConfiguration)
      val bp = new org.apache.hadoop.fs.Path(base)
      if (fc.util.exists(bp)) fc.delete(bp, true)
      val aRoot = s"$base/a"; val bRoot = s"$base/b"; val nRoot = s"$base/n"
      val v1Root = s"$base/v1"; val gRoot = s"$base/g"
      val aT = Seq(ReplicaSpec("replica", Seq("o_orderkey"), numBuckets = 16,
        bucketOn = Seq("o_custkey")))
      val bT = Seq(ReplicaSpec("replica", Seq("c_custkey"), numBuckets = 16))
      val nT = Seq(ReplicaSpec("replica", Seq("n_nationkey"), numBuckets = 4))
      // the middle view: keyed by its pair key, BUCKETED on the next
      // join's column so the second layer's V1_keep ⋈ ΔN term prunes
      val v1T = Seq(ReplicaSpec("replica", Seq("o_orderkey", "c_custkey"),
        numBuckets = 16, bucketOn = Seq("c_nationkey")))
      val gT = Seq(ViewSpec("cube", Seq("n_name", "o_year"),
        Seq("sum_price" -> "o_totalprice"), numBuckets = 8))
      def j1(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame) =
        a.join(b, col("o_custkey") === col("c_custkey"), "inner")
      def j2(v: org.apache.spark.sql.DataFrame,
             n: org.apache.spark.sql.DataFrame) =
        v.join(n, col("c_nationkey") === col("n_nationkey"), "inner")
      Coordinator.seedMembers(s, Seq(
        Coordinator.SeedRows(aRoot, aChain.head, aT),
        Coordinator.SeedRows(bRoot, bChain.head, bT),
        Coordinator.SeedRows(nRoot, nChain.head, nT),
        Coordinator.SeedRows(v1Root, j1(aChain.head, bChain.head), v1T),
        Coordinator.SeedRows(gRoot,
          j2(j1(aChain.head, bChain.head), nChain.head), gT)))
      aChain.zip(bChain).zip(nChain).sliding(2).zipWithIndex.foreach {
        case (Seq(((a0, b0), n0), ((a1, b1), n1)), i) =>
          val feedA = ChangeFeed.diff(a0, a1, Seq("o_orderkey")).persist()
          val feedB = ChangeFeed.diff(b0, b1, Seq("c_custkey")).persist()
          val feedN = ChangeFeed.diff(n0, n1, Seq("n_nationkey")).persist()
          // both layers' pre-state reads pin to the PRE-batch versions,
          // so the apply order below cannot race them
          val feed1 = JoinView.joinDeltaFromStores(s,
            JoinView.Side(aRoot, "replica", Seq("o_custkey"),
              AtomicPublish.currentVersion(s, aRoot).get),
            JoinView.Side(bRoot, "replica", Seq("c_custkey"),
              AtomicPublish.currentVersion(s, bRoot).get),
            feedA, feedB).persist()
          val feed2 = JoinView.joinDeltaFromStores(s,
            JoinView.Side(v1Root, "replica", Seq("c_nationkey"),
              AtomicPublish.currentVersion(s, v1Root).get),
            JoinView.Side(nRoot, "replica", Seq("n_nationkey"),
              AtomicPublish.currentVersion(s, nRoot).get),
            feed1, feedN).persist()
          try {
            // the five stores are independent (distinct roots, every
            // cross-store read above version-pinned to the pre-batch
            // state), so their fixed per-commit latencies OVERLAP —
            // the batch floor is ~max over members, not the 5× sum
            Coordinator.advanceMembers(s, i.toLong, Seq(
              Coordinator.MemberAdvance(aRoot, feedA, aT),
              Coordinator.MemberAdvance(bRoot, feedB, bT),
              Coordinator.MemberAdvance(nRoot, feedN, nT),
              Coordinator.MemberAdvance(v1Root, feed1, v1T),
              Coordinator.MemberAdvance(gRoot, feed2, gT)))
          } finally {
            feedA.unpersist(); feedB.unpersist()
            feedN.unpersist(); feed1.unpersist(); feed2.unpersist(); ()
          }
      }
      IncrementalAgg.readView(s, gRoot, "cube")
        .select(col("n_name"), col("o_year"), col("n"),
          col("sum_price").cast("double").as("sum_price"))
        .orderBy("n_name", "o_year")
    }),

    // o24 — MAINTAINED RIGHT-OUTER JOIN [extension; the symmetry
    // witness]: JoinView.rightOuterDelta IS leftOuterDelta with the
    // sides swapped — this gate EXECUTES that swapped call against a
    // real RIGHT JOIN oracle so the r17 claim is priced, not prose.
    // Every customer row is kept; an unmatched customer carries a
    // NULL-extended order side, and those rows are born/die on the
    // customer's order-count transitions, decided from `acnt` (orders
    // per o_custkey) co-maintained in the ORDERS store. o21's chains
    // force them: batch 1 deletes every order of an o_custkey slice
    // (untouched customers lose their last match — extensions born),
    // batch 2 re-adds part of it (extensions die) while customers
    // churn too (deletes drop their orders from the view entirely;
    // re-inserts are judged against the post-batch order count). The
    // oracle is a direct RIGHT JOIN of the final slices.
    "o24_rightouter_maintain" -> ((s, dir) => {
      import graft.etl.{AtomicPublish, ChangeFeed, Coordinator, IncrementalAgg, JoinView}
      import graft.etl.IncrementalAgg.{ReplicaSpec, ViewSpec}
      val ordBase = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val custBase = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val bump = (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 4, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      val aChain = Seq(
        ordBase,
        ordBase.filter(col("o_orderkey") % 10 =!= 3 &&
          col("o_custkey") % 11 =!= 5),
        bump(ordBase.filter(col("o_orderkey") % 10 =!= 3 &&
          (col("o_custkey") % 11 =!= 5 || col("o_custkey") % 13 === 0))))
      val bChain = Seq(
        custBase.filter(col("c_custkey") % 3 =!= 1),
        custBase.filter(col("c_custkey") % 3 =!= 1 &&
          col("c_custkey") % 5 =!= 2),
        custBase.filter((col("c_custkey") % 3 =!= 1 &&
          col("c_custkey") % 5 =!= 2) ||
          (col("c_custkey") % 3 === 1 && col("c_custkey") % 7 === 0)))
      val base = s"/root/repo/target/sink/o24_ro_${Tables.dirSlug(dir)}"
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        s.sparkContext.hadoopConfiguration)
      val bp = new org.apache.hadoop.fs.Path(base)
      if (fc.util.exists(bp)) fc.delete(bp, true)
      val aRoot = s"$base/a"; val bRoot = s"$base/b"; val vRoot = s"$base/v"
      val aT = Seq(
        ReplicaSpec("replica", Seq("o_orderkey"), numBuckets = 16,
          bucketOn = Seq("o_custkey")),
        ViewSpec("acnt", Seq("o_custkey"), Nil, numBuckets = 16))
      val bT = Seq(ReplicaSpec("replica", Seq("c_custkey"), numBuckets = 16))
      // the view is B ⟕ A under the swap, so its pair key leads with
      // the kept side: (c_custkey, o_orderkey), o_orderkey NULL on
      // extension rows
      val vT = Seq(ReplicaSpec("view", Seq("c_custkey", "o_orderkey"),
        numBuckets = 16))
      Coordinator.seedMembers(s, Seq(
        Coordinator.SeedRows(aRoot, aChain.head, aT),
        Coordinator.SeedRows(bRoot, bChain.head, bT),
        Coordinator.SeedRows(vRoot, aChain.head.join(bChain.head,
          col("o_custkey") === col("c_custkey"), "right_outer"), vT)))
      aChain.zip(bChain).sliding(2).zipWithIndex.foreach {
        case (Seq((a0, b0), (a1, b1)), i) =>
          val feedA = ChangeFeed.diff(a0, a1, Seq("o_orderkey")).persist()
          val feedB = ChangeFeed.diff(b0, b1, Seq("c_custkey")).persist()
          val (outer0, release) = JoinView.rightOuterDeltaManaged(s,
            JoinView.Side(aRoot, "replica", Seq("o_custkey"),
              AtomicPublish.currentVersion(s, aRoot).get),
            JoinView.Side(bRoot, "replica", Seq("c_custkey"),
              AtomicPublish.currentVersion(s, bRoot).get),
            "acnt", feedA, feedB)
          val outer = outer0.persist()
          try {
            Coordinator.advanceMembers(s, i.toLong, Seq(
              Coordinator.MemberAdvance(aRoot, feedA, aT),
              Coordinator.MemberAdvance(bRoot, feedB, bT),
              Coordinator.MemberAdvance(vRoot, outer, vT)))
          } finally {
            feedA.unpersist(); feedB.unpersist(); outer.unpersist(); release()
          }
      }
      IncrementalAgg.readView(s, vRoot, "view")
        .orderBy(col("c_custkey").asc_nulls_last,
          col("o_orderkey").asc_nulls_last)
    }),

    // o25 — THE JOIN FAMILY FROM ONE SUBSTRATE, ORACLE-SEALED
    // [extension; familyDeltas' hash gate]: r18's familyDeltas builds
    // all six join-form feeds (inner/leftOuter/rightOuter/fullOuter/
    // semi/anti) from ONE pair of bucket-pruned inner reads and ONE
    // Corrections per side — but only a spec exercised it; the
    // per-form gates (o18-o21, o24) each use the standalone entry
    // points, which re-run the count/transition probe machinery per
    // form. This gate maintains ALL SIX views of one pair from one
    // familyDeltas call per batch — o21's chains, so both sides churn
    // and both extension classes are forced — with all EIGHT stores
    // (two bases + six views) advanced concurrently and committed
    // under ONE Coordinator cut, and every final read pinned to that
    // cut. The oracle recomputes each form directly over the final
    // slices (JOIN / LEFT / RIGHT / FULL / EXISTS / NOT EXISTS) as a
    // tagged union — the substrate, the cut, and the stores never
    // appear in it, so the hash match seals the sharing claim: six
    // forms, one probe pass, row-identical to six from-scratch joins.
    "o25_join_family_maintain" -> ((s, dir) => {
      import graft.etl.{AtomicPublish, ChangeFeed, Coordinator, IncrementalAgg, JoinView}
      import graft.etl.IncrementalAgg.{ReplicaSpec, ViewSpec}
      val ordBase = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val custBase = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val bump = (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 4, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      val aChain = Seq(
        ordBase,
        ordBase.filter(col("o_orderkey") % 10 =!= 3 &&
          col("o_custkey") % 11 =!= 5),
        bump(ordBase.filter(col("o_orderkey") % 10 =!= 3 &&
          (col("o_custkey") % 11 =!= 5 || col("o_custkey") % 13 === 0))))
      val bChain = Seq(
        custBase.filter(col("c_custkey") % 3 =!= 1),
        custBase.filter(col("c_custkey") % 3 =!= 1 &&
          col("c_custkey") % 5 =!= 2),
        custBase.filter((col("c_custkey") % 3 =!= 1 &&
          col("c_custkey") % 5 =!= 2) ||
          (col("c_custkey") % 3 === 1 && col("c_custkey") % 7 === 0)))
      val base = s"/root/repo/target/sink/o25_fam_${Tables.dirSlug(dir)}"
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        s.sparkContext.hadoopConfiguration)
      val bp = new org.apache.hadoop.fs.Path(base)
      if (fc.util.exists(bp)) fc.delete(bp, true)
      val aRoot = s"$base/a"; val bRoot = s"$base/b"
      val cutRoot = s"$base/cut"
      val forms = Seq("inner", "left", "right", "full", "semi", "anti")
      val vRoots = forms.map(f => f -> s"$base/v_$f").toMap
      val aT = Seq(
        ReplicaSpec("replica", Seq("o_orderkey"), numBuckets = 16,
          bucketOn = Seq("o_custkey")),
        ViewSpec("acnt", Seq("o_custkey"), Nil, numBuckets = 16))
      val bT = Seq(
        ReplicaSpec("replica", Seq("c_custkey"), numBuckets = 16),
        ViewSpec("bcnt", Seq("c_custkey"), Nil, numBuckets = 16))
      // pair-keyed forms key (o,c) null-safely (extensions carry a
      // NULL half); semi/anti are A-rows only, keyed by A's key
      val vT: Map[String, Seq[IncrementalAgg.TargetSpec]] = Map(
        "inner" -> Seq(ReplicaSpec("view",
          Seq("o_orderkey", "c_custkey"), numBuckets = 16)),
        "left" -> Seq(ReplicaSpec("view",
          Seq("o_orderkey", "c_custkey"), numBuckets = 16)),
        "right" -> Seq(ReplicaSpec("view",
          Seq("c_custkey", "o_orderkey"), numBuckets = 16)),
        "full" -> Seq(ReplicaSpec("view",
          Seq("o_orderkey", "c_custkey"), numBuckets = 16)),
        "semi" -> Seq(ReplicaSpec("view", Seq("o_orderkey"),
          numBuckets = 16)),
        "anti" -> Seq(ReplicaSpec("view", Seq("o_orderkey"),
          numBuckets = 16)))
      val joinType = Map("inner" -> "inner", "left" -> "left_outer",
        "right" -> "right_outer", "full" -> "full_outer",
        "semi" -> "left_semi", "anti" -> "left_anti")
      // all EIGHT independent roots seed concurrently (r20): the
      // serial form paid eight publish latencies back-to-back
      Coordinator.seedMembers(s,
        Coordinator.SeedRows(aRoot, aChain.head, aT) +:
        Coordinator.SeedRows(bRoot, bChain.head, bT) +:
        forms.map(f => Coordinator.SeedRows(vRoots(f),
          aChain.head.join(bChain.head,
            col("o_custkey") === col("c_custkey"), joinType(f)), vT(f))))
      def allVersions(): Map[String, Long] =
        (Seq("a" -> aRoot, "b" -> bRoot) ++ forms.map(f => f -> vRoots(f)))
          .map { case (n, r) =>
            n -> AtomicPublish.currentVersion(s, r).get }.toMap
      Coordinator.commitCut(s, cutRoot, allVersions())
      aChain.zip(bChain).sliding(2).zipWithIndex.foreach {
        case (Seq((a0, b0), (a1, b1)), i) =>
          val feedA = ChangeFeed.diff(a0, a1, Seq("o_orderkey")).persist()
          val feedB = ChangeFeed.diff(b0, b1, Seq("c_custkey")).persist()
          // ONE substrate: two pruned inner reads + one Corrections per
          // side, every form's feed derived from those
          val fam = JoinView.familyDeltas(s,
            JoinView.Side(aRoot, "replica", Seq("o_custkey"),
              AtomicPublish.currentVersion(s, aRoot).get),
            JoinView.Side(bRoot, "replica", Seq("c_custkey"),
              AtomicPublish.currentVersion(s, bRoot).get),
            "acnt", "bcnt", feedA, feedB)
          val feeds = Map(
            "inner" -> fam.inner.persist(),
            "left" -> fam.leftOuter.persist(),
            "right" -> fam.rightOuter.persist(),
            "full" -> fam.fullOuter.persist(),
            "semi" -> fam.semi.persist(),
            "anti" -> fam.anti.persist())
          try {
            Coordinator.advanceMembers(s, i.toLong,
              Coordinator.MemberAdvance(aRoot, feedA, aT) +:
              Coordinator.MemberAdvance(bRoot, feedB, bT) +:
              forms.map(f =>
                Coordinator.MemberAdvance(vRoots(f), feeds(f), vT(f))))
            Coordinator.commitCut(s, cutRoot, allVersions())
          } finally {
            feedA.unpersist(); feedB.unpersist()
            feeds.values.foreach(_.unpersist()); fam.release()
          }
      }
      // every read pinned to ONE resolved cut — the six views AND the
      // bases they were derived from are the same batch by construction
      val cut = Coordinator.currentCut(s, cutRoot)
      def rd(f: String) =
        IncrementalAgg.readView(s, vRoots(f), "view", Some(cut(f)))
      val aOnly = Seq(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"),
        lit(null).cast("long").as("c_custkey"),
        lit(null).cast("string").as("c_mktsegment"))
      forms.map { f =>
        val v = if (f == "semi" || f == "anti") rd(f).select(aOnly: _*)
                else rd(f)
        v.withColumn("side", lit(f))
      }.reduce(_ unionByName _)
        .select(col("side"), col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("side"), col("o_orderkey").asc_nulls_last,
          col("c_custkey").asc_nulls_last)
    }),

    // o26 — THE FAMILY UNDER ONE ROOT, ONE COMMIT PER BATCH
    // [extension; the r19 verdict's commit-amplification reduction
    // (missing #2)]: o25 proves the six-form family shares one
    // familyDeltas substrate, but its LAYOUT pays eight ledgered
    // commits per batch — six view stores exist only because
    // applyOnceMulti takes ONE feed per root. applyOnceFeeds removes
    // that constraint: here the SAME six views (same keys, same feeds,
    // same chains as o25) live in ONE store as six targets each fed
    // its own familyDeltas output, so a batch is THREE commits (base
    // A, base B, family) + the cut instead of eight + the cut, and
    // the six forms are mutually consistent by construction — one
    // root version IS the family at one batch, nothing to coordinate
    // between the siblings. The oracle is o25's verbatim (the six
    // direct joins as a tagged union): a hash match proves the
    // consolidation changed only the commit layout, never a row.
    // Bench A/B vs o25 (same machinery, same data, same batches)
    // prices exactly the per-batch fixed floor the layout saves.
    "o26_join_family_oneroot" -> ((s, dir) => {
      import graft.etl.{AtomicPublish, ChangeFeed, Coordinator, IncrementalAgg, JoinView}
      import graft.etl.IncrementalAgg.{ReplicaSpec, TargetFeed, ViewSpec}
      val ordBase = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val custBase = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val bump = (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 4, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      val aChain = Seq(
        ordBase,
        ordBase.filter(col("o_orderkey") % 10 =!= 3 &&
          col("o_custkey") % 11 =!= 5),
        bump(ordBase.filter(col("o_orderkey") % 10 =!= 3 &&
          (col("o_custkey") % 11 =!= 5 || col("o_custkey") % 13 === 0))))
      val bChain = Seq(
        custBase.filter(col("c_custkey") % 3 =!= 1),
        custBase.filter(col("c_custkey") % 3 =!= 1 &&
          col("c_custkey") % 5 =!= 2),
        custBase.filter((col("c_custkey") % 3 =!= 1 &&
          col("c_custkey") % 5 =!= 2) ||
          (col("c_custkey") % 3 === 1 && col("c_custkey") % 7 === 0)))
      val base = s"/root/repo/target/sink/o26_fam1_${Tables.dirSlug(dir)}"
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        s.sparkContext.hadoopConfiguration)
      val bp = new org.apache.hadoop.fs.Path(base)
      if (fc.util.exists(bp)) fc.delete(bp, true)
      val aRoot = s"$base/a"; val bRoot = s"$base/b"
      val famRoot = s"$base/fam"; val cutRoot = s"$base/cut"
      val forms = Seq("inner", "left", "right", "full", "semi", "anti")
      val aT = Seq(
        ReplicaSpec("replica", Seq("o_orderkey"), numBuckets = 16,
          bucketOn = Seq("o_custkey")),
        ViewSpec("acnt", Seq("o_custkey"), Nil, numBuckets = 16))
      val bT = Seq(
        ReplicaSpec("replica", Seq("c_custkey"), numBuckets = 16),
        ViewSpec("bcnt", Seq("c_custkey"), Nil, numBuckets = 16))
      // six sibling targets in ONE store — o25's per-root specs, named
      // v_<form>; pair-keyed forms key (o,c) null-safely, semi/anti
      // are A-rows only
      val famT: Map[String, IncrementalAgg.TargetSpec] = Map(
        "inner" -> ReplicaSpec("v_inner",
          Seq("o_orderkey", "c_custkey"), numBuckets = 16),
        "left" -> ReplicaSpec("v_left",
          Seq("o_orderkey", "c_custkey"), numBuckets = 16),
        "right" -> ReplicaSpec("v_right",
          Seq("c_custkey", "o_orderkey"), numBuckets = 16),
        "full" -> ReplicaSpec("v_full",
          Seq("o_orderkey", "c_custkey"), numBuckets = 16),
        "semi" -> ReplicaSpec("v_semi", Seq("o_orderkey"), numBuckets = 16),
        "anti" -> ReplicaSpec("v_anti", Seq("o_orderkey"), numBuckets = 16))
      val joinType = Map("inner" -> "inner", "left" -> "left_outer",
        "right" -> "right_outer", "full" -> "full_outer",
        "semi" -> "left_semi", "anti" -> "left_anti")
      Coordinator.seedMembers(s, Seq(
        Coordinator.SeedRows(aRoot, aChain.head, aT),
        Coordinator.SeedRows(bRoot, bChain.head, bT),
        Coordinator.SeedFeeds(famRoot, forms.map { f =>
          TargetFeed(famT(f), aChain.head.join(bChain.head,
            col("o_custkey") === col("c_custkey"), joinType(f)))
        })))
      def allVersions(): Map[String, Long] =
        Seq("a" -> aRoot, "b" -> bRoot, "fam" -> famRoot)
          .map { case (n, r) =>
            n -> AtomicPublish.currentVersion(s, r).get }.toMap
      Coordinator.commitCut(s, cutRoot, allVersions())
      aChain.zip(bChain).sliding(2).zipWithIndex.foreach {
        case (Seq((a0, b0), (a1, b1)), i) =>
          val feedA = ChangeFeed.diff(a0, a1, Seq("o_orderkey")).persist()
          val feedB = ChangeFeed.diff(b0, b1, Seq("c_custkey")).persist()
          val fam = JoinView.familyDeltas(s,
            JoinView.Side(aRoot, "replica", Seq("o_custkey"),
              AtomicPublish.currentVersion(s, aRoot).get),
            JoinView.Side(bRoot, "replica", Seq("c_custkey"),
              AtomicPublish.currentVersion(s, bRoot).get),
            "acnt", "bcnt", feedA, feedB)
          val feeds = Map(
            "inner" -> fam.inner.persist(),
            "left" -> fam.leftOuter.persist(),
            "right" -> fam.rightOuter.persist(),
            "full" -> fam.fullOuter.persist(),
            "semi" -> fam.semi.persist(),
            "anti" -> fam.anti.persist())
          try {
            // THREE member commits where o25 pays eight
            Coordinator.advanceMembers(s, i.toLong, Seq(
              Coordinator.MemberAdvance(aRoot, feedA, aT),
              Coordinator.MemberAdvance(bRoot, feedB, bT),
              Coordinator.MemberAdvanceFeeds(famRoot,
                forms.map(f => TargetFeed(famT(f), feeds(f))))))
            Coordinator.commitCut(s, cutRoot, allVersions())
          } finally {
            feedA.unpersist(); feedB.unpersist()
            feeds.values.foreach(_.unpersist()); fam.release()
          }
      }
      // one resolved cut; the six views share ONE pinned store version
      val cut = Coordinator.currentCut(s, cutRoot)
      def rd(f: String) =
        IncrementalAgg.readView(s, famRoot, s"v_$f", Some(cut("fam")))
      val aOnly = Seq(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"),
        lit(null).cast("long").as("c_custkey"),
        lit(null).cast("string").as("c_mktsegment"))
      forms.map { f =>
        val v = if (f == "semi" || f == "anti") rd(f).select(aOnly: _*)
                else rd(f)
        v.withColumn("side", lit(f))
      }.reduce(_ unionByName _)
        .select(col("side"), col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("side"), col("o_orderkey").asc_nulls_last,
          col("c_custkey").asc_nulls_last)
    }),

    // o17 — MAINTAINED TOP-K [extension; leaderboard maintenance]:
    // the general form of o15's extrema (k = 1): per group, the k best
    // ROWS under a pinned total order, maintained by merge-on-insert /
    // rescan-on-dangerous-delete against the co-maintained (and
    // group-co-bucketed, so the rescan prunes) replica. The chain
    // forces both paths deterministically: sorting by the decile
    // column, batch 1 deletes decile 0 — every deleted value is
    // strictly below every boundary (fast path) — while the decile-4
    // reclassification births a new group built purely by merge;
    // batch 2 deletes decile 9, every group's ENTIRE top set, forcing
    // a full re-rank from the replica with the tiebreak deciding among
    // the dec-8 tie cohort. The oracle is a direct window ROW_NUMBER
    // over the final slice — the feeds, the boundary compare, and the
    // rescan never appear in it.
    "o17_topk_maintain" -> ((s, dir) => {
      import graft.etl.{ChangeFeed, IncrementalAgg}
      import graft.etl.IncrementalAgg.{ReplicaSpec, TopKViewSpec}
      val rows = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          (col("o_orderkey") % 10).as("dec"))
        .persist()
      val reclass = (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("o_orderpriority",
          when(col("o_orderkey") % 10 === 4, lit("9-RECLASSIFIED"))
            .otherwise(col("o_orderpriority")))
      val v1 = rows
      val v2 = reclass(rows.filter(col("dec") =!= 0))
      val v3 = reclass(rows.filter(col("dec") =!= 0 && col("dec") =!= 9))
      val key = Seq("o_orderkey")
      val root = s"/root/repo/target/sink/o17_topk_${Tables.dirSlug(dir)}"
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        s.sparkContext.hadoopConfiguration)
      val rp = new org.apache.hadoop.fs.Path(root)
      if (fc.util.exists(rp)) fc.delete(rp, true)
      val targets = Seq(
        ReplicaSpec("replica", key, numBuckets = 16, strict = true,
          bucketOn = Seq("o_orderpriority")),
        TopKViewSpec("top", Seq("o_orderpriority"), sortCol = "dec",
          ascending = false, k = 3, keyCols = key,
          baseReplica = "replica", numBuckets = 8))
      try {
        IncrementalAgg.publishInitialMulti(s, root, v1, targets)
        IncrementalAgg.applyOnceMulti(s, root, ChangeFeed.diff(v1, v2, key), 1L, targets)
        IncrementalAgg.applyOnceMulti(s, root, ChangeFeed.diff(v2, v3, key), 2L, targets)
      } finally { rows.unpersist(); () }
      // readers derive ranks with one window over the k·|groups| state
      import org.apache.spark.sql.expressions.Window
      IncrementalAgg.readView(s, root, "top")
        .withColumn("rank", row_number().over(
          Window.partitionBy("o_orderpriority")
            .orderBy(col("dec").desc_nulls_last, col("o_orderkey").asc))
          .cast("int"))
        .select(col("o_orderpriority"), col("rank"), col("o_orderkey"), col("dec"))
        .orderBy("o_orderpriority", "rank")
    }),

    // o16 — MAINTAINED DISTINCT COUNTS [extension; by composition]:
    // COUNT(DISTINCT) is not additive (a value's death is only knowable
    // when its LAST row leaves), so it cannot ride the ± fold directly —
    // but it composes out of machinery the store already has: an
    // additive view grouped by (group, value) maintains each pair's
    // live-row count, a pair leaves the state exactly at count zero,
    // and the per-group ROW COUNT of that state IS the distinct count.
    // The chain is delete-heavy on purpose (two decile deletions kill
    // pairs whose custkey had its only order there) and migrates a
    // decile into a brand-new group. The oracle recomputes
    // COUNT(DISTINCT) from the v3 slice directly — the pairs view and
    // the feeds never appear in it.
    "o16_distinct_maintain" -> ((s, dir) => {
      import graft.etl.{ChangeFeed, IncrementalAgg}
      import graft.etl.IncrementalAgg.ViewSpec
      val rows = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_custkey"))
        .persist()
      val reclass = (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("o_orderpriority",
          when(col("o_orderkey") % 10 === 4, lit("9-RECLASSIFIED"))
            .otherwise(col("o_orderpriority")))
      val v1 = rows.filter(col("o_orderkey") % 10 =!= 7)
      val v2 = reclass(rows.filter(col("o_orderkey") % 10 =!= 7 &&
        col("o_orderkey") % 10 =!= 3))
      val v3 = reclass(rows.filter(col("o_orderkey") % 10 =!= 7 &&
        col("o_orderkey") % 10 =!= 3 && col("o_orderkey") % 10 =!= 1))
      val key = Seq("o_orderkey")
      val root = s"/root/repo/target/sink/o16_distinct_${Tables.dirSlug(dir)}"
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        s.sparkContext.hadoopConfiguration)
      val rp = new org.apache.hadoop.fs.Path(root)
      if (fc.util.exists(rp)) fc.delete(rp, true)
      val targets = Seq(
        ViewSpec("pairs", Seq("o_orderpriority", "o_custkey"), Nil,
          numBuckets = 16))
      try {
        IncrementalAgg.publishInitialMulti(s, root, v1, targets)
        IncrementalAgg.applyOnceMulti(s, root, ChangeFeed.diff(v1, v2, key), 1L, targets)
        IncrementalAgg.applyOnceMulti(s, root, ChangeFeed.diff(v2, v3, key), 2L, targets)
      } finally { rows.unpersist(); () }
      // the derived read: live pairs → per-group distinct-value count
      // (one aggregate over the |live pairs|-sized state, never the base)
      IncrementalAgg.readView(s, root, "pairs")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_distinct"))
        .orderBy("o_orderpriority")
    }),

    // o9 — schema evolution [extension]: a partitioned table whose later
    // batches added a column (the constant lake migration — no rewrite
    // of old data). Old files lack `channel`; a mergeSchema read unions
    // the schemas and back-fills NULL, and the aggregate proves old and
    // new batches query together. The oracle replays the same batch
    // split with an explicit NULL for the legacy half — the read must be
    // exactly that union.
    "o9_schema_evolution" -> ((s, dir) => {
      val root = s"/root/repo/target/sink/o9_evo_${Tables.dirSlug(dir)}"
      val orders = Tables.orders(s, dir)
      val legacy = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val evolved = orders.filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          // the new column the later batch started recording
          when(col("o_orderkey") % 3 === 0, lit("web")).otherwise(lit("store"))
            .as("channel"))
      legacy.write.mode("overwrite").parquet(s"$root/batch=1")
      evolved.write.mode("overwrite").parquet(s"$root/batch=2")
      s.read.option("mergeSchema", "true").parquet(root)
        .groupBy(coalesce(col("channel"), lit("unknown")).as("channel"))
        .agg(count(lit(1)).as("n"),
          Det.dsum(col("o_totalprice")).as("total_price"))
        .orderBy("channel")
    }),

    // dq2 — column profile [extension]: Deequ/Glue-crawler-shape table
    // audit — per column row/null/distinct counts + typed extremes and
    // decimal-exact means, ALL columns in one aggregate pass
    // (graft.ops.DataQuality.profile).
    "dq2_profile" -> ((s, dir) =>
      graft.ops.DataQuality.profile(Tables.orders(s, dir),
        numericCols = Seq("o_orderkey", "o_custkey", "o_totalprice"),
        stringCols = Seq("o_orderstatus", "o_orderpriority"))),

    // dq1 — data-quality expectations [extension]: the dbt-test /
    // Deequ-style validation report a lake runs before publishing
    // (MySQL constraints enforced this for the reference; parquet has
    // none, so the checks become queries). All row-level orders rules
    // share ONE scan; uniqueness is count-vs-distinct; RI is one
    // anti-join. The lineitem composite-key rule genuinely FAILS on
    // this generator (TESTDATA's documented non-uniqueness) — the
    // report proves the harness catches real defects, not just clean
    // data (graft.ops.DataQuality).
    "dq1_expectations" -> ((s, dir) => {
      import graft.ops.DataQuality._
      val orders = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      report(
        rowExpectations(orders, Seq(
          "orders.custkey_not_null" -> col("o_custkey").isNull,
          "orders.priority_in_set" -> !col("o_orderpriority").isin(
            "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
          "orders.totalprice_positive" -> (col("o_totalprice") <= 0))),
        uniqueKey(orders, "orders.orderkey_unique", Seq("o_orderkey")),
        uniqueKey(li, "lineitem.composite_key_unique",
          Seq("l_orderkey", "l_linenumber")),
        referential(li, "l_orderkey", orders, "o_orderkey",
          "lineitem.orderkey_in_orders"))
    }))

  val oracles: Map[String, String] = Map(
    "o7_atomic_publish" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS total_check
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // Both published versions replayed from the base table — the
    // round-trip through the versioned store must be lossless.
    "o8_version_travel" ->
      """WITH v1 AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS order_year, COUNT(*) AS n
        |  FROM orders GROUP BY 1),
        |v2 AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS order_year, COUNT(*) AS n
        |  FROM orders WHERE o_orderpriority <> '1-URGENT' GROUP BY 1)
        |SELECT order_year,
        |  COALESCE(v1.n, 0) AS n_v1, COALESCE(v2.n, 0) AS n_v2,
        |  COALESCE(v2.n, 0) - COALESCE(v1.n, 0) AS delta
        |FROM v1 FULL OUTER JOIN v2 USING (order_year)
        |ORDER BY order_year""".stripMargin,

    // The from-scratch recompute on the v2 slice — the incremental path
    // never appears here, so a hash match proves it exact.
    "o11_incremental_agg" ->
      """WITH v2 AS (
        |  SELECT CASE WHEN o_orderkey % 10 = 4 THEN '9-RECLASSIFIED'
        |              ELSE o_orderpriority END AS o_orderpriority,
        |         o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3)
        |SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS VARCHAR)
        |    AS DOUBLE) AS total_price
        |FROM v2 GROUP BY 1 ORDER BY 1""".stripMargin,

    // The DIRECT v1↔v3 classification — the two per-batch feeds and
    // their composition never appear in the oracle.
    "o13_feed_compose" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 7),
        |v3 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 4 THEN '9-RECLASSIFIED'
        |         ELSE o_orderpriority END AS o_orderpriority,
        |    o_totalprice
        |  FROM orders WHERE o_orderkey % 10 NOT IN (3, 1)),
        |j AS (
        |  SELECT v1.o_orderkey AS f_k, v1.o_orderpriority AS f_p,
        |         v1.o_totalprice AS f_t,
        |         v3.o_orderkey AS t_k, v3.o_orderpriority AS t_p,
        |         v3.o_totalprice AS t_t
        |  FROM v1 FULL OUTER JOIN v3 ON v1.o_orderkey = v3.o_orderkey)
        |SELECT o_orderkey, o_orderpriority, o_totalprice, _change_type FROM (
        |  SELECT t_k AS o_orderkey, t_p AS o_orderpriority,
        |         t_t AS o_totalprice, 'insert' AS _change_type
        |  FROM j WHERE f_k IS NULL
        |  UNION ALL
        |  SELECT f_k, f_p, f_t, 'delete' FROM j WHERE t_k IS NULL
        |  UNION ALL
        |  SELECT f_k, f_p, f_t, 'update_preimage' FROM j
        |  WHERE f_k IS NOT NULL AND t_k IS NOT NULL
        |    AND (f_p IS DISTINCT FROM t_p OR f_t IS DISTINCT FROM t_t)
        |  UNION ALL
        |  SELECT t_k, t_p, t_t, 'update_postimage' FROM j
        |  WHERE f_k IS NOT NULL AND t_k IS NOT NULL
        |    AND (f_p IS DISTINCT FROM t_p OR f_t IS DISTINCT FROM t_t))
        |ORDER BY o_orderkey, _change_type""".stripMargin,

    // The v3 slice computed directly from the base table — the feeds,
    // applyTo, and the replica store never appear here, so the hash
    // match proves the feed-replicated site ≡ the primary row-for-row.
    "o14_feed_replicate" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 4 THEN '9-RECLASSIFIED'
        |       ELSE o_orderpriority END AS o_orderpriority,
        |  o_totalprice
        |FROM orders WHERE o_orderkey % 10 NOT IN (3, 1)
        |ORDER BY o_orderkey""".stripMargin,

    // count/min/max recomputed from the v3 slice directly — the feeds,
    // the invalidation predicate, and the replica rescan never appear
    // here, so the hash match proves maintained extrema ≡ recompute.
    "o15_extrema_maintain" ->
      """WITH v3 AS (
        |  SELECT CASE WHEN o_orderkey % 10 = 4 THEN '9-RECLASSIFIED'
        |              ELSE o_orderpriority END AS o_orderpriority,
        |         o_totalprice, o_orderkey % 10 AS dec
        |  FROM orders WHERE o_orderkey % 10 NOT IN (0, 9))
        |SELECT o_orderpriority, COUNT(*) AS n,
        |  MIN(dec) AS min_dec, MAX(dec) AS max_dec,
        |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
        |FROM v3 GROUP BY 1 ORDER BY 1""".stripMargin,

    // The final slices LEFT-joined directly — the match-count view,
    // the transition corrections, and the feeds never appear here, so
    // the hash match proves the maintained outer view ≡ a from-scratch
    // LEFT JOIN (null extensions included).
    "o19_leftouter_maintain" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |c AS (
        |  SELECT c_custkey, c_mktsegment FROM customer
        |  WHERE (c_custkey % 3 <> 1 AND c_custkey % 5 <> 2)
        |     OR (c_custkey % 3 = 1 AND c_custkey % 7 = 0))
        |SELECT o_orderkey, o_custkey, o_totalprice, c_custkey, c_mktsegment
        |FROM o LEFT JOIN c ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    // Both memberships recomputed as direct EXISTS / NOT EXISTS over
    // the final slices — the match-count view, the correction algebra,
    // and the four stores never appear here, so the match proves
    // maintained semi/anti ≡ from-scratch semi/anti AND that the two
    // views partition the live orders (the union is checked row for
    // row).
    "o20_semi_anti_maintain" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |c AS (
        |  SELECT c_custkey FROM customer
        |  WHERE (c_custkey % 3 <> 1 AND c_custkey % 5 <> 2)
        |     OR (c_custkey % 3 = 1 AND c_custkey % 7 = 0))
        |SELECT * FROM (
        |  SELECT 'semi' AS side, o_orderkey, o_custkey, o_totalprice
        |  FROM o WHERE EXISTS (SELECT 1 FROM c WHERE c_custkey = o_custkey)
        |  UNION ALL
        |  SELECT 'anti' AS side, o_orderkey, o_custkey, o_totalprice
        |  FROM o WHERE NOT EXISTS (SELECT 1 FROM c WHERE c_custkey = o_custkey))
        |ORDER BY side, o_orderkey""".stripMargin,

    // The final slices FULL-joined directly — extensions on both sides
    // included; NULLS LAST pins the same row order as the Spark read.
    "o21_fullouter_maintain" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3
        |    AND (o_custkey % 11 <> 5 OR o_custkey % 13 = 0)),
        |c AS (
        |  SELECT c_custkey, c_mktsegment FROM customer
        |  WHERE (c_custkey % 3 <> 1 AND c_custkey % 5 <> 2)
        |     OR (c_custkey % 3 = 1 AND c_custkey % 7 = 0))
        |SELECT o_orderkey, o_custkey, o_totalprice, c_custkey, c_mktsegment
        |FROM o FULL JOIN c ON o_custkey = c_custkey
        |ORDER BY o_orderkey NULLS LAST, c_custkey NULLS LAST""".stripMargin,

    // The final slices RIGHT-joined directly — the swapped-call
    // maintenance, the acnt view, and the three stores never appear
    // here, so the hash match proves rightOuterDelta ≡ a from-scratch
    // RIGHT JOIN (customer-side rows all kept, order side
    // null-extended). Same slices as o21, so the two oracles also pin
    // right ≡ full minus the order-side extensions.
    "o24_rightouter_maintain" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3
        |    AND (o_custkey % 11 <> 5 OR o_custkey % 13 = 0)),
        |c AS (
        |  SELECT c_custkey, c_mktsegment FROM customer
        |  WHERE (c_custkey % 3 <> 1 AND c_custkey % 5 <> 2)
        |     OR (c_custkey % 3 = 1 AND c_custkey % 7 = 0))
        |SELECT o_orderkey, o_custkey, o_totalprice, c_custkey, c_mktsegment
        |FROM o RIGHT JOIN c ON o_custkey = c_custkey
        |ORDER BY c_custkey NULLS LAST, o_orderkey NULLS LAST""".stripMargin,

    // All six forms recomputed directly over the final slices as a
    // tagged union — familyDeltas, the one-Corrections-per-side
    // sharing, the eight stores, and the cut never appear here, so the
    // hash match proves the shared substrate serves every form exactly.
    "o25_join_family_maintain" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3
        |    AND (o_custkey % 11 <> 5 OR o_custkey % 13 = 0)),
        |c AS (
        |  SELECT c_custkey, c_mktsegment FROM customer
        |  WHERE (c_custkey % 3 <> 1 AND c_custkey % 5 <> 2)
        |     OR (c_custkey % 3 = 1 AND c_custkey % 7 = 0))
        |SELECT * FROM (
        |  SELECT 'inner' AS side, o_orderkey, o_custkey, o_totalprice,
        |         c_custkey, c_mktsegment
        |  FROM o JOIN c ON o_custkey = c_custkey
        |  UNION ALL
        |  SELECT 'left', o_orderkey, o_custkey, o_totalprice,
        |         c_custkey, c_mktsegment
        |  FROM o LEFT JOIN c ON o_custkey = c_custkey
        |  UNION ALL
        |  SELECT 'right', o_orderkey, o_custkey, o_totalprice,
        |         c_custkey, c_mktsegment
        |  FROM o RIGHT JOIN c ON o_custkey = c_custkey
        |  UNION ALL
        |  SELECT 'full', o_orderkey, o_custkey, o_totalprice,
        |         c_custkey, c_mktsegment
        |  FROM o FULL JOIN c ON o_custkey = c_custkey
        |  UNION ALL
        |  SELECT 'semi', o_orderkey, o_custkey, o_totalprice,
        |         CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
        |  FROM o WHERE EXISTS (SELECT 1 FROM c WHERE c_custkey = o_custkey)
        |  UNION ALL
        |  SELECT 'anti', o_orderkey, o_custkey, o_totalprice,
        |         CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
        |  FROM o WHERE NOT EXISTS (SELECT 1 FROM c WHERE c_custkey = o_custkey))
        |ORDER BY side, o_orderkey NULLS LAST, c_custkey NULLS LAST""".stripMargin,

    // o25's oracle VERBATIM: o26 maintains the same six forms over the
    // same chains — only the store layout differs (one root, one
    // ledgered commit per batch, via applyOnceFeeds), and the layout
    // must never appear in a row.
    "o26_join_family_oneroot" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3
        |    AND (o_custkey % 11 <> 5 OR o_custkey % 13 = 0)),
        |c AS (
        |  SELECT c_custkey, c_mktsegment FROM customer
        |  WHERE (c_custkey % 3 <> 1 AND c_custkey % 5 <> 2)
        |     OR (c_custkey % 3 = 1 AND c_custkey % 7 = 0))
        |SELECT * FROM (
        |  SELECT 'inner' AS side, o_orderkey, o_custkey, o_totalprice,
        |         c_custkey, c_mktsegment
        |  FROM o JOIN c ON o_custkey = c_custkey
        |  UNION ALL
        |  SELECT 'left', o_orderkey, o_custkey, o_totalprice,
        |         c_custkey, c_mktsegment
        |  FROM o LEFT JOIN c ON o_custkey = c_custkey
        |  UNION ALL
        |  SELECT 'right', o_orderkey, o_custkey, o_totalprice,
        |         c_custkey, c_mktsegment
        |  FROM o RIGHT JOIN c ON o_custkey = c_custkey
        |  UNION ALL
        |  SELECT 'full', o_orderkey, o_custkey, o_totalprice,
        |         c_custkey, c_mktsegment
        |  FROM o FULL JOIN c ON o_custkey = c_custkey
        |  UNION ALL
        |  SELECT 'semi', o_orderkey, o_custkey, o_totalprice,
        |         CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
        |  FROM o WHERE EXISTS (SELECT 1 FROM c WHERE c_custkey = o_custkey)
        |  UNION ALL
        |  SELECT 'anti', o_orderkey, o_custkey, o_totalprice,
        |         CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
        |  FROM o WHERE NOT EXISTS (SELECT 1 FROM c WHERE c_custkey = o_custkey))
        |ORDER BY side, o_orderkey NULLS LAST, c_custkey NULLS LAST""".stripMargin,

    // The cube recomputed as a direct join + group-by over the final
    // slices — the six-term feed, the additive maintenance, and the
    // three stores never appear here, so the match proves the
    // incrementally-maintained cube ≡ the reference's re-run-the-ETL
    // rebuild (warehouse.py:214-246), cell for cell.
    "o22_cube_maintain" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    EXTRACT(year FROM o_orderdate) AS o_year
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |c AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'GRAFTSEG'
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer WHERE c_custkey % 7 <> 3)
        |SELECT c_mktsegment, o_year, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS VARCHAR)
        |    AS DOUBLE) AS sum_price
        |FROM o JOIN c ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // The star cube recomputed as a direct 3-way join + group-by over
    // the final slices — the two composed view feeds, the five stores,
    // and the middle view never appear here, so the match proves the
    // two-layer composition exact: cell counts, decimal sums, the
    // nation rename's relabel, and the customers' nation migrations.
    "o23_star_cube_maintain" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    EXTRACT(year FROM o_orderdate) AS o_year
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |c AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 11 = 0 THEN (c_nationkey + 1) % 25
        |         ELSE c_nationkey END AS c_nationkey
        |  FROM customer WHERE c_custkey % 7 <> 3),
        |n AS (
        |  SELECT n_nationkey,
        |    CASE WHEN n_nationkey = 7 THEN n_name || '-RENAMED'
        |         ELSE n_name END AS n_name
        |  FROM nation)
        |SELECT n_name, o_year, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS VARCHAR)
        |    AS DOUBLE) AS sum_price
        |FROM o JOIN c ON o_custkey = c_custkey
        |       JOIN n ON c_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // The final-slice join recomputed directly — the feeds, the
    // six-term delta algebra, the three stores, and the cut never
    // appear here, so the hash match proves the maintained join view ≡
    // a from-scratch join of the final tables.
    "o18_join_maintain" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |c AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'GRAFTSEG'
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer WHERE c_custkey % 7 <> 3)
        |SELECT o_orderkey, o_custkey, o_totalprice,
        |       c_custkey, c_name, c_mktsegment
        |FROM o JOIN c ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    // The leaderboard recomputed by a direct window over the v3 slice
    // — the feeds, the boundary compare, and the replica rescan never
    // appear here, so the hash match proves maintained top-k ≡ direct
    // re-rank (same NULLS LAST + key-ascending total order).
    "o17_topk_maintain" ->
      """WITH v3 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 4 THEN '9-RECLASSIFIED'
        |         ELSE o_orderpriority END AS o_orderpriority,
        |    o_orderkey % 10 AS dec
        |  FROM orders WHERE o_orderkey % 10 NOT IN (0, 9)),
        |r AS (
        |  SELECT o_orderpriority, o_orderkey, dec,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY dec DESC NULLS LAST, o_orderkey ASC) AS rank
        |  FROM v3)
        |SELECT o_orderpriority, CAST(rank AS INT) AS rank, o_orderkey, dec
        |FROM r WHERE rank <= 3 ORDER BY o_orderpriority, rank""".stripMargin,

    // COUNT(DISTINCT) recomputed from the v3 slice directly — the
    // pairs view, its live-count semantics, and the feeds never appear
    // here, so the hash match proves composed distinct maintenance ≡
    // direct distinct recompute.
    "o16_distinct_maintain" ->
      """WITH v3 AS (
        |  SELECT CASE WHEN o_orderkey % 10 = 4 THEN '9-RECLASSIFIED'
        |              ELSE o_orderpriority END AS o_orderpriority,
        |         o_custkey
        |  FROM orders WHERE o_orderkey % 10 NOT IN (7, 3, 1))
        |SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_distinct
        |FROM v3 GROUP BY 1 ORDER BY 1""".stripMargin,

    // Both fan-out branches recomputed from scratch on the v2 slice —
    // neither the feed nor the incremental path appears here.
    "o12_feed_fanout" ->
      """WITH v2 AS (
        |  SELECT CASE WHEN o_orderkey % 10 = 4 THEN '9-RECLASSIFIED'
        |              ELSE o_orderpriority END AS o_orderpriority,
        |         o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3)
        |SELECT * FROM (
        |  SELECT 'by_priority' AS agg_name, o_orderpriority AS group_key,
        |    COUNT(*) AS n,
        |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS VARCHAR)
        |      AS DOUBLE) AS total_price
        |  FROM v2 GROUP BY 2
        |  UNION ALL
        |  SELECT 'by_status', o_orderstatus, COUNT(*),
        |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS VARCHAR)
        |      AS DOUBLE)
        |  FROM v2 GROUP BY 2)
        |ORDER BY agg_name, group_key""".stripMargin,

    // The feed replayed relationally: both versions rebuilt from the
    // base table, full-outer-joined on the key, classified with
    // IS DISTINCT FROM (the null-safe compare ChangeFeed uses).
    "o10_change_feed" ->
      s"""WITH base AS (
         |  SELECT c_custkey AS id, c_name AS client_name,
         |         $clientDecodeSql AS company_type
         |  FROM customer),
         |v1 AS (SELECT * FROM base WHERE id % 10 <> 7),
         |v2 AS (SELECT id, client_name,
         |         CASE WHEN id % 10 = 4 THEN 'reclassified'
         |              ELSE company_type END AS company_type
         |       FROM base WHERE id % 10 <> 3),
         |j AS (
         |  SELECT v1.id AS f_id, v1.client_name AS f_name,
         |         v1.company_type AS f_ct,
         |         v2.id AS t_id, v2.client_name AS t_name,
         |         v2.company_type AS t_ct
         |  FROM v1 FULL OUTER JOIN v2 ON v1.id = v2.id)
         |SELECT id, client_name, company_type, _change_type FROM (
         |  SELECT t_id AS id, t_name AS client_name, t_ct AS company_type,
         |         'insert' AS _change_type
         |  FROM j WHERE f_id IS NULL
         |  UNION ALL
         |  SELECT f_id, f_name, f_ct, 'delete' FROM j WHERE t_id IS NULL
         |  UNION ALL
         |  SELECT f_id, f_name, f_ct, 'update_preimage' FROM j
         |  WHERE f_id IS NOT NULL AND t_id IS NOT NULL
         |    AND (f_name IS DISTINCT FROM t_name
         |         OR f_ct IS DISTINCT FROM t_ct)
         |  UNION ALL
         |  SELECT t_id, t_name, t_ct, 'update_postimage' FROM j
         |  WHERE f_id IS NOT NULL AND t_id IS NOT NULL
         |    AND (f_name IS DISTINCT FROM t_name
         |         OR f_ct IS DISTINCT FROM t_ct))
         |ORDER BY id, _change_type""".stripMargin,

    "o9_schema_evolution" ->
      """WITH evo AS (
        |  SELECT o_totalprice,
        |    CASE WHEN o_orderkey % 2 = 0 THEN NULL
        |         WHEN o_orderkey % 3 = 0 THEN 'web'
        |         ELSE 'store' END AS channel
        |  FROM orders)
        |SELECT coalesce(channel, 'unknown') AS channel,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS total_price
        |FROM evo GROUP BY 1 ORDER BY 1""".stripMargin,

    "dq2_profile" -> {
      def num(c: String) =
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
           |  CAST(CAST(sum(CAST($c AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / count($c) AS mean,
           |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
           |FROM orders""".stripMargin
      def str(c: String) =
        s"""SELECT '$c', CAST(count(*) AS BIGINT),
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           |  CAST(count(DISTINCT $c) AS BIGINT),
           |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           |  min($c), max($c)
           |FROM orders""".stripMargin
      Seq(num("o_orderkey"), num("o_custkey"), num("o_totalprice"),
        str("o_orderstatus"), str("o_orderpriority"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    "dq1_expectations" ->
      """WITH o AS (SELECT
        |    CAST(count(*) AS BIGINT) AS checked,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null,
        |    CAST(sum(CASE WHEN o_orderpriority NOT IN
        |      ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_prio,
        |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_uk
        |  FROM orders),
        |l AS (SELECT
        |    CAST(count(*) AS BIGINT) AS checked,
        |    CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS v_ck
        |  FROM lineitem),
        |ri AS (SELECT
        |    CAST((SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
        |      (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)
        |      OR l_orderkey IS NULL) AS BIGINT) AS v_ri,
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS checked)
        |SELECT rule, violations, checked, violations = 0 AS pass FROM (
        |  SELECT 'orders.custkey_not_null' AS rule, v_null AS violations, checked FROM o
        |  UNION ALL SELECT 'orders.priority_in_set', v_prio, checked FROM o
        |  UNION ALL SELECT 'orders.totalprice_positive', v_price, checked FROM o
        |  UNION ALL SELECT 'orders.orderkey_unique', v_uk, checked FROM o
        |  UNION ALL SELECT 'lineitem.composite_key_unique', v_ck, checked FROM l
        |  UNION ALL SELECT 'lineitem.orderkey_in_orders', v_ri, checked FROM ri)
        |ORDER BY rule""".stripMargin,

    "etl_dim_client" ->
      s"""SELECT c_custkey AS id, c_name AS client_name,
         |       $clientDecodeSql AS company_type
         |FROM customer ORDER BY id""".stripMargin,

    "etl_dim_product_subcategory" ->
      s"""WITH $subcatCte
         |SELECT id, subcategory FROM subcat ORDER BY id""".stripMargin,

    "etl_dim_product" ->
      s"""WITH $subcatCte
         |SELECT p_partkey AS id, p_name AS product_name, p_brand AS code,
         |       p_type AS family, sc.id AS category_id
         |FROM part LEFT JOIN subcat sc ON part.p_type = sc.subcategory
         |ORDER BY id""".stripMargin,

    "etl_dim_country" ->
      """SELECT n_nationkey AS id, n_name AS name,
        |       n_regionkey AS subregion_id
        |FROM nation ORDER BY id""".stripMargin,

    "etl_dim_country_subregion" ->
      "SELECT r_regionkey AS id, r_name AS subregion FROM region ORDER BY id",

    "etl_dim_date_month" ->
      """SELECT CAST(range AS BIGINT) AS id,
        |       monthname(make_date(2000, CAST(range AS INT), 1)) AS month
        |FROM range(1, 13) ORDER BY id""".stripMargin,

    "etl_dim_date_year" ->
      s"""WITH $yearsCte
         |SELECT id, year FROM years ORDER BY id""".stripMargin,

    "etl_dim_date" ->
      s"""WITH $yearsCte, $datesCte
         |SELECT id, date, day, month_id, year_id, three_months
         |FROM dimdate ORDER BY id""".stripMargin,

    "etl_fact_load" ->
      s"""WITH $factCte
         |SELECT * FROM fact
         |ORDER BY id, product_id, client_id, date_id, country_id,
         |         quantity, price, year""".stripMargin,

    "etl_cube_build" ->
      s"""WITH $subcatCte, $yearsCte, $datesCte, $factCte
         |SELECT tf.id AS fact_id,
         |       tf.product_id AS product_id,
         |       sc.subcategory AS category,
         |       p.p_name AS product_name,
         |       p.p_type AS family,
         |       tf.client_id AS client_id,
         |       c.c_name AS client_name,
         |       dd.id AS date_id,
         |       dd.day AS day,
         |       dd.month_id AS month_id,
         |       monthname(dd.date) AS month,
         |       y.year AS year,
         |       tf.country_id AS country_id,
         |       n.n_name AS country_name,
         |       tf.quantity AS quantity,
         |       tf.price AS price
         |FROM fact tf
         |JOIN part p   ON tf.product_id = p.p_partkey
         |JOIN subcat sc ON p.p_type = sc.subcategory
         |JOIN customer c ON tf.client_id = c.c_custkey
         |JOIN dimdate dd ON tf.date_id = dd.date
         |JOIN years y  ON dd.year_id = y.id
         |JOIN nation n ON tf.country_id = n.n_nationkey
         |ORDER BY fact_id, product_id, category, product_name, family,
         |         client_id, client_name, date_id, day, month_id, month,
         |         year, country_id, country_name, quantity, price""".stripMargin,

    "o1_pipeline_counts" ->
      """SELECT stage, n_rows FROM (
        |  SELECT '1_dimproduct_subcategory' AS stage,
        |         (SELECT COUNT(DISTINCT p_type) FROM part) AS n_rows
        |  UNION ALL SELECT '2_dimproduct', (SELECT COUNT(*) FROM part)
        |  UNION ALL SELECT '3_dimclient', (SELECT COUNT(*) FROM customer)
        |  UNION ALL SELECT '4_dimcountry', (SELECT COUNT(*) FROM nation)
        |  UNION ALL SELECT '5_dimcountry_subregion', (SELECT COUNT(*) FROM region)
        |  UNION ALL SELECT '6_dimdate_month', 12
        |  UNION ALL SELECT '7_dimdate_year',
        |    (SELECT COUNT(DISTINCT year(o_orderdate)) FROM orders)
        |  UNION ALL SELECT '8_dimdate',
        |    (SELECT COUNT(DISTINCT CAST(o_orderdate AS DATE)) FROM orders)
        |  UNION ALL SELECT '9_transportfact', (SELECT COUNT(*) FROM lineitem)
        |  UNION ALL SELECT '10_cube_table', (SELECT COUNT(*) FROM lineitem))
        |ORDER BY stage""".stripMargin,

    "o3_upsert_audit" ->
      """SELECT
        |  (SELECT COUNT(*) FROM customer WHERE c_custkey % 2 = 0) AS inserted,
        |  (SELECT COUNT(*) FROM customer WHERE c_custkey % 2 = 1) AS skipped,
        |  (SELECT COUNT(*) FROM customer) AS total""".stripMargin)
}
