package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.notion.{Cli, Derive, Normalize, NotionSchemas}
import graft.notion.NotionSchemas._
import graft.sinks.{JsonlSink, ManifestTable, MaterializedView, TableGroup}

/** The paper's pipeline: raw Notion JSONL → `Cli.normalize` (canon +
  * quality issues) → `Derive.deriveAll` → the seven tables landed as
  * manifest tables → one `TableGroup` commit publishing them → each
  * table read back through the group, as a report refresh would.
  * Then the day's corrections on the published StageThroughput_Daily:
  * a recount upsert, a retention delete and a correction update, the
  * refresh of a per-stage view over it, maintenance (optimize, vacuum
  * of every table) and an audit read of the published version.
  * Landing the raw JSONL is set-up. There is no warm-up: a scheduled
  * run of the pipeline starts a fresh JVM, so its first pass is what
  * users wait for. */
final class NotionEtl(spark: SparkSession, input: String) extends Workload {
  private val cfg = NotionConfig(
    timeslices = TimeslicePropertyIds(
      workflowDefinitionRel = "rel_workflow",
      workflowRecordRel = "rel_workflow_record",
      workflowInstancePageName = "rollup_instance_name",
      fromStageRel = "rel_from_step",
      toStageRel = "rel_to_step",
      startedAtDate = "start_date",
      endedAtDate = "end_date",
      fromTaskPageId = "rt_from_task_page",
      toTaskPageId = "rt_to_task_page",
      fromTaskName = "rt_from_task_name",
      toTaskName = "rt_to_task_name"),
    workflowStages = WorkflowStagePropertyIds(
      workflowDefinitionRel = "wf_rel",
      stageNumber = "stage_number",
      stageLabel = "stage_label"),
    workflowDefinitions = WorkflowDefinitionPropertyIds(title = "title_prop"))
  private val runDate = "2026-02-01"
  private val env = Cli.Env(spark, cfg, runDate = runDate, log = _ => ())

  private var dataDir = ""
  private var tablesDir = ""
  private var groupRoot = ""
  private var rawBytes = 0L
  private var lastCounts = Map.empty[String, Long]
  private var returned = 0L
  private val tableOps = Input.longs(s"$input/table_ops.json")
  private var passNo = 0
  private var viewRoot = ""
  private var audit = Seq.empty[Long]

  private val factTables = Seq("FactTimeslices", "DimWorkflow", "DimStage",
    "DimDate", "DimPlaybackFrame")
  private val Throughput = "StageThroughput_Daily"
  /** Versions one pass commits to the throughput table: the landing,
    * the three corrections and the optimize. Vacuum keeps them all, so
    * the published version stays readable. */
  private val ThroughputVersions = 5

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Long = {
    var n = 0L
    val it = Files.walk(src).iterator()
    while (it.hasNext) {
      val p = it.next()
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else {
        Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
        n += Files.size(p)
      }
    }
    n
  }

  def setup(dir: String): Long = {
    dataDir = s"$dir/data"
    tablesDir = s"$dir/tables"
    groupRoot = s"$dir/group"
    rawBytes = copyTree(Paths.get(input, "data", "raw"), Paths.get(dataDir, "raw"))
    rawBytes
  }

  private def canon(ds: String, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val date = JsonlSink.latestDate(spark, dataDir, "canon", ds).getOrElse(
      sys.error(s"no canon output for $ds"))
    JsonlSink.read(spark, schema, dataDir, "canon", ds, date)
  }

  private def land(ops: Ops, name: String, df: DataFrame): Long =
    ops.timed("commit")(Trace.span("sinks.manifest.append") {
      val root = s"$tablesDir/$name"
      if (ManifestTable.exists(spark, root)) ManifestTable.overwrite(df, root)
      else ManifestTable.create(df, root, Nil)
    })

  def pass(ops: Ops): Long = {
    lastCounts = ops.timed("step")(Trace.span("notion.normalize")(Cli.normalize(env, dataDir)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], NotionSchemas.rawRecordSchema)
    val defs = canon("workflowDefinitions", Normalize.workflowDefinitions(empty, cfg).schema)
    val stages = canon("workflowStages", Normalize.workflowStages(empty, cfg).schema)
    val ts = canon("timeslices", Normalize.timeslices(empty, cfg).schema)
    val versions = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val tables = Trace.span("notion.derive.fact") {
      val t = Derive.deriveAll(defs, stages, ts)
      factTables.foreach(n => versions(n) = land(ops, n, t(n)))
      t
    }
    Trace.span("notion.derive.occupancy") {
      versions("StageOccupancy_Hourly") =
        land(ops, "StageOccupancy_Hourly", tables("StageOccupancy_Hourly"))
    }
    Trace.span("notion.derive.throughput") {
      versions(Throughput) = land(ops, Throughput, tables(Throughput))
    }
    ops.timed("commit")(Trace.span("sinks.group.publish") {
      if (new java.io.File(s"$groupRoot/_members").exists())
        TableGroup.commit(spark, groupRoot, versions.toMap)
      else
        TableGroup.create(spark, groupRoot,
          versions.keys.map(n => n -> s"$tablesDir/$n").toMap)
    })
    versions.keys.foreach { n =>
      val rows = ops.timed("read")(
        Trace.span("sources.v2.read")(TableGroup.read(spark, groupRoot, n).count()))
      if (Trace.enabled) returned += rows
    }
    corrections(ops, versions(Throughput))
    rawBytes
  }

  /** The day's corrections on the throughput table, whose `published`
    * version the group holds. The per-stage view over it is created
    * fresh in each pass, so that every pass does the same work. */
  private def corrections(ops: Ops, published: Long): Unit = {
    val thr = s"$tablesDir/$Throughput"
    def days(from: String) =
      col("bucket_n") >= tableOps(s"${from}_lo") && col("bucket_n") < tableOps(s"${from}_hi")
    passNo += 1
    viewRoot = s"$tablesDir/throughput_by_stage-$passNo"
    MaterializedView.create(spark, viewRoot, thr,
      "SELECT stage_key, count(*) AS days, sum(entry_count) AS entries, " +
        "sum(exit_count) AS exits FROM __BASE__ GROUP BY stage_key",
      Seq("stage_key"))
    ops.timed("commit")(Trace.span("sinks.manifest.upsert")(ManifestTable.merge(
      ManifestTable.read(spark, thr).filter(days("merge"))
        .withColumn("exit_count", col("exit_count") + lit(tableOps("merge_delta"))),
      thr, Seq("bucket_day", "stage_key"))))
    ops.timed("commit")(Trace.span("sinks.manifest.delete")(ManifestTable.deleteWhere(
      spark, thr, col("bucket_n") < tableOps("delete_before"))))
    ops.timed("commit")(Trace.span("sinks.manifest.delete")(ManifestTable.updateWhere(
      spark, thr, days("update"),
      Seq("entry_count" -> (col("entry_count") + lit(tableOps("update_delta")))))))
    ops.timed("commit")(Trace.span("sinks.mv.refresh")(
      MaterializedView.refresh(spark, viewRoot)))
    ops.timed("commit")(Trace.span("sinks.manifest.maintain") {
      ManifestTable.optimize(spark, thr, Seq("bucket_n"), numFiles = 1)
      // retention, so that the bytes under the roots do not grow with passes
      Derive.ExpectedTables.foreach(n => ManifestTable.vacuum(spark, s"$tablesDir/$n",
        keep = if (n == Throughput) ThroughputVersions else 1, ttlMs = 0L))
    })
    audit = ops.timed("read")(Trace.span("sources.v2.time_travel") {
      val r = spark.read.format("graft").option("versionAsOf", published.toString).load(thr)
        .agg(count(lit(1)), coalesce(sum(col("entry_count")), lit(0L)),
          coalesce(sum(col("exit_count")), lit(0L))).head()
      if (Trace.enabled) returned += r.getLong(0)
      Seq(r.getLong(0), r.getLong(1), r.getLong(2))
    })
  }

  def export(out: String): Unit = {
    val counts = lastCounts.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    Files.write(Paths.get(out, "normalize_counts.json"), counts.getBytes("UTF-8"))
    copyTree(Paths.get(JsonlSink.datasetDir(dataDir, "canon", "qualityIssues", runDate)),
      Paths.get(out, "issues"))
    Derive.ExpectedTables.foreach { n =>
      TableGroup.read(spark, groupRoot, n).write.mode("overwrite")
        .parquet(s"$out/tables/$n")
    }
    ManifestTable.read(spark, s"$tablesDir/$Throughput").write.mode("overwrite")
      .parquet(s"$out/corrections/head")
    ManifestTable.read(spark, viewRoot).write.mode("overwrite")
      .parquet(s"$out/corrections/view")
    Files.write(Paths.get(out, "corrections", "audit.json"),
      audit.mkString("[", ",", "]").getBytes("UTF-8"))
  }

  def roots: Seq[String] = Derive.ExpectedTables.map(n => s"$tablesDir/$n")
  override def rowsReturned: Long = returned
}
