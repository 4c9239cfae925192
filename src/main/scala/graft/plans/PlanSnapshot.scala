package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}

/** Committed plan-snapshot artifact (round-9 verdict ask #6): a
  * normalized `explain("formatted")` per battery query, written to
  * `PLANS/<name>.txt`, so round-over-round plan diffs are reviewable
  * from the git history without re-running anything, and the plan
  * sweep can assert no join silently flipped broadcast→shuffle
  * between rounds (PlanShapeSpec's snapshot-guard test).
  *
  * Normalization strips everything that varies run-to-run without
  * changing the plan's SHAPE: expression ids (`#123`), filesystem
  * paths (fixture dirs, warehouse, tmp checkpoints), and `plan_id`
  * tags. Partition counts, codegen spans, pushed filters, join
  * strategies and exchange placement all survive — those ARE the
  * reviewable content.
  *
  * Snapshots are generated under the ScalaTest session configuration
  * (local[4], shuffle.partitions=4, AQE off, sf0.001) so the guard
  * test can regenerate byte-comparable structure live. AQE is off
  * because AdaptiveSparkPlanExec hides the final tree until runtime —
  * the static plan is the reviewable/deterministic one (same choice
  * as PlanShapeSpec's battery sweep).
  */
object PlanSnapshot {

  /** Strip run-varying noise from a formatted explain string. */
  def normalize(plan: String): String = {
    plan
      .replaceAll("#\\d+", "#N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      // typed-op closures print as Class$$Lambda$123/0x7f..@identityhash
      .replaceAll("\\$\\$\\$?Lambda\\$?\\d*/0x[0-9a-f]+@[0-9a-f]+", "\\$\\$Lambda")
      // aggregator/closure instances print as ClassName@identityhash
      .replaceAll("@[0-9a-f]{6,10}\\b", "@ID")
      // checkpointed inputs print a session-scoped RDD id and the
      // callsite's source line — both vary run-to-run / edit-to-edit
      // without changing plan shape
      .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
      .replaceAll("\\.scala:\\d+", ".scala:N")
      // Location: InMemoryFileIndex(1 paths)[file:/root/testdata/...]
      .replaceAll("\\(\\d+ paths?\\)", "(P paths)")
      .replaceAll("file:/[^\\s,\\]\\)]*", "PATH")
      .replaceAll("/root/[^\\s,\\]\\)]*", "PATH")
      .replaceAll("/tmp/[^\\s,\\]\\)]*", "PATH")
      .linesIterator.map(_.replaceAll("\\s+$", "")).mkString("\n")
      .trim + "\n"
  }

  /** Normalized formatted plan of a frame (AQE must already be off in
    * the session for the tree to be final). */
  def formatted(df: DataFrame): String =
    normalize(df.queryExecution.explainString(ExplainMode.fromString("formatted")))

  /** Join/exchange structure of a normalized plan — the counts the
    * snapshot guard compares. Counting node-name occurrences in the
    * formatted tree section is exact: formatted mode prints each
    * operator exactly once in the numbered tree (the details section
    * repeats the name in `(n) NodeName` form, counted identically for
    * snapshot and live text since both pass through [[normalize]]). */
  def structure(normalizedPlan: String): Map[String, Int] = {
    val kinds = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct", "Exchange")
    kinds.map { k => k -> ("""(?m)^\s*(:?[+\-:\s]*)?\(\d+\) """ + k + "\\b").r
      .findAllIn(normalizedPlan).size }.toMap
  }

  /** The session configuration shared by snapshot generation and the
    * guard test — MUST stay in lockstep with SparkSuite.session. */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", "/root/repo/target/spark-warehouse")
      .config("spark.sql.maxMetadataStringLength", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Render every battery query's normalized plan at the suite fixture
    * scale. AQE toggled off for the duration. */
  def renderAll(spark: SparkSession, sfDir: String,
                names: Option[Set[String]] = None): Seq[(String, String)] =
    planAll(spark, sfDir, names).map { case (n, _, text) => n -> text }

  /** Every battery query's executed plan and its normalized formatted
    * text, each query planned ONCE (the text renders the same executed
    * plan). AQE toggled off for the duration, so both are the final
    * static tree. */
  def planAll(spark: SparkSession, sfDir: String,
              names: Option[Set[String]] = None): Seq[(String, SparkPlan, String)] = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      graft.SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => names.forall(_(n)) }
        .map { case (n, fn) =>
          val df = fn(spark, sfDir)
          (n, df.queryExecution.executedPlan, formatted(df))
        }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}

/** Writes `PLANS/<name>.txt` for the full battery.
  * Usage: runMain graft.plans.PlanDump [outDir] [name ...] */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("PLANS")
    val only = if (args.length > 1) Some(args.drop(1).toSet) else None
    val spark = PlanSnapshot.session()
    new java.io.File(outDir).mkdirs()
    PlanSnapshot.renderAll(spark, "/root/testdata/sf0.001", only).foreach {
      case (name, text) =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$name.txt"), text)
        println(s"[plandump] $name")
    }
    spark.stop()
  }
}
