package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case x => apply(x.toString)
  }
}

/** The client's operation log: every timed public call by kind
  * ("commit", "read" or "step", a pipeline stage that is neither), and
  * whether it failed. One closed-loop client, so calls never overlap. */
final class Ops {
  val latMs = mutable.LinkedHashMap("commit" -> mutable.ArrayBuffer.empty[Double],
    "read" -> mutable.ArrayBuffer.empty[Double], "step" -> mutable.ArrayBuffer.empty[Double])
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  def timed[T](kind: String)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      latMs(kind) += (System.nanoTime() - t0) / 1e6
      r
    } catch {
      case e: Throwable =>
        failed += 1
        errors += e.toString.take(500)
        throw e
    }
  }
}

/** One benchmark workload: set-up (repeatable into fresh directories),
  * warm-up, a measured pass, and the export of outputs for the checks. */
trait Workload {
  /** Builds the workload's tables under `dir`; returns user bytes landed. */
  def setup(dir: String): Long
  /** Untimed work after set-up; its time counts as set-up time. */
  def warmup(): Unit = ()
  /** One unit of work; returns user bytes it landed. */
  def pass(ops: Ops): Long
  /** Writes the outputs the correctness checks read. Untimed. */
  def export(out: String): Unit
  /** Table roots whose bytes count towards space amplification. */
  def roots: Seq[String]
  /** Rows returned by reads (for rows examined per row returned). */
  def rowsReturned: Long = 0L
  /** Named counters the per-layer report needs. */
  def counters: Map[String, Double] = Map.empty
}

object Main {
  final case class Args(workload: String, input: String, work: String,
                        out: String, seconds: Double, trace: Boolean,
                        cores: Int)

  /** Set-ups per run, each into a fresh directory; the median is reported. */
  val SetupReps = 3

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("input"), m("work"), m("out"), m("seconds").toDouble,
      m("trace") == "1", m("cores").toInt)
  }

  /** The one fixed session configuration every run uses. AQE stays on
    * (Spark's default); no setting is tuned per workload. */
  def conf(cores: Int, work: String, trace: Boolean): Seq[(String, String)] =
    Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.sql.codegen.useIdInClassName" -> "false",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse",
    ) ++ (if (trace) Seq(
      "spark.hadoop.fs.file.impl" -> classOf[CountingLocalFs].getName) else Nil)

  private def fsBytesWritten(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(x => dirBytes(x.getPath)).sum).getOrElse(0L)
  }

  private def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private val t00 = System.nanoTime()
  /** A progress line in the harness log, with seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t00) / 1e9}%7.2f s] $msg")

  def workload(name: String, spark: SparkSession, input: String): Workload =
    name match {
      case "notion_etl"    => new NotionEtl(spark, input)
      case "table_commits" => new TableCommits(spark, input)
      case "table_scans"   => new TableScans(spark, input)
      case "corpus_dedup"  => new CorpusDedup(spark, input)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.out))
    val loadStart = Conditions.loadAvg()
    val (ratio, rate) = Conditions.coreRatio()
    val t0 = System.nanoTime()
    val b = SparkSession.builder()
    val c = conf(a.cores, a.work, a.trace)
    c.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    note("session started")
    graft.util.OpMetrics.install(spark)
    if (a.trace) Trace.install(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w = workload(a.workload, spark, a.input)
    val result = mutable.LinkedHashMap.empty[String, Any]
    val ops = new Ops
    var code = 0
    try {
      // set-up, several times into fresh directories; the last one is
      // used. Its engine writes and user bytes are kept for read-only
      // workloads, whose passes land nothing
      var setupWritten = 0L
      var setupUser = 0L
      val setupS = (1 to SetupReps).map { r =>
        val b = fsBytesWritten()
        val s = System.nanoTime()
        val landed = w.setup(s"${a.work}/setup-$r")
        val t = (System.nanoTime() - s) / 1e9
        note(s"set-up $r done")
        setupWritten = fsBytesWritten() - b
        setupUser = landed
        t
      }
      val w0 = System.nanoTime()
      w.warmup()
      val warmS = (System.nanoTime() - w0) / 1e9
      // the measured window: passes until `seconds` have elapsed
      val passS = mutable.ArrayBuffer.empty[Double]
      val external = Conditions.externalCpuShare()
      // write amplification covers the passes only: what they write over
      // what they land
      val bytes0 = fsBytesWritten()
      var userBytes = 0L
      if (a.trace) Trace.start()
      val tStart = System.nanoTime()
      def elapsed = (System.nanoTime() - tStart) / 1e9
      while (passS.isEmpty || elapsed < a.seconds) {
        val p0 = System.nanoTime()
        userBytes += w.pass(ops)
        passS += (System.nanoTime() - p0) / 1e9
        note(s"pass done in ${passS.last} s")
      }
      val windowS = elapsed
      val externalShare = external()
      if (a.trace) Trace.stop()
      val written = fsBytesWritten() - bytes0

      w.export(a.out)
      val liveCopy = s"${a.work}/compact"
      val rootBytes = w.roots.map(dirBytes).sum
      val compactBytes = {
        w.roots.zipWithIndex.foreach { case (r, i) =>
          graft.sinks.ManifestTable.read(spark, r).coalesce(1)
            .write.mode("overwrite").parquet(s"$liveCopy/$i")
        }
        w.roots.indices.map(i => dirBytes(s"$liveCopy/$i")).sum
      }
      result ++= Seq(
        "session_s" -> sessionS, "setup_s" -> setupS, "warmup_s" -> warmS,
        "pass_s" -> passS,
        "window_s" -> windowS, "op_ms" -> ops.latMs,
        "attempted" -> ops.attempted, "failed" -> ops.failed,
        "errors" -> ops.errors, "bytes_written" -> written,
        "user_bytes" -> userBytes, "setup_bytes_written" -> setupWritten,
        "setup_user_bytes" -> setupUser,
        "root_bytes" -> rootBytes, "compact_bytes" -> compactBytes,
        "rows_returned" -> w.rowsReturned, "counters" -> w.counters,
        "conf" -> c.toMap, "cores" -> a.cores,
        "conditions" -> Map("loadavg_start" -> loadStart,
          "loadavg_end" -> Conditions.loadAvg(), "core_ratio" -> ratio,
          "core_rate" -> rate, "external_cpu_share" -> externalShare))
      if (a.trace) {
        val reps = Trace.reports()
        result("spans") = reps.map { r =>
          Map("id" -> r.span.id, "name" -> r.span.name, "parent" -> r.span.parent,
            "start_ms" -> r.span.startMs, "end_ms" -> r.span.endMs,
            "wall_ms" -> r.span.wallNs / 1e6, "self_ms" -> r.selfMs,
            "jobs" -> r.jobs, "job_ms" -> r.jobMs, "catalyst_ms" -> r.catalystMs,
            "task_ms" -> r.taskMs, "shuffle_bytes" -> r.shuffleBytes,
            "records_read" -> r.recordsRead, "gap_ms" -> r.gapMs,
            "fs_ops" -> r.fsOps)
        }
      }
      result("driver_heap_mb") = retainedHeapMb()
    } catch {
      case e: Throwable =>
        code = 3
        result("fatal") = e.toString.take(2000)
        result("attempted") = ops.attempted
        result("failed") = ops.failed + 1
        result("errors") = ops.errors
        e.printStackTrace()
    } finally {
      Files.write(Paths.get(a.out, "result.json"), Json(result).getBytes(UTF_8))
      spark.stop()
    }
    System.exit(code)
  }
}
