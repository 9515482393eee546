package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Total length of a set of closed intervals, overlaps counted once,
  * clipped to [lo, hi]. */
object Intervals {
  def unionLength(xs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.iterator
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** One recorded span: a public engine call made by the benchmark client.
  * Times are epoch milliseconds (the clock Spark's events use) plus a
  * nanosecond wall duration for the span itself. */
final case class Span(id: Long, name: String, parent: Long,
                      startMs: Long, endMs: Long, wallNs: Long)

/** Spark work attributed to spans. Jobs carry the submitting thread's
  * span id as a local property; each stage maps to the job that
  * submitted it first, and each task to its stage's job — never to
  * "the newest unfinished job", which misattributes when AQE runs
  * several jobs at once. */
final class Attribution {
  final class JobRec(val span: Long, val startMs: Long) {
    var endMs: Long = -1L
  }
  final class Work {
    var tasks = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var recordsRead = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val work = mutable.HashMap.empty[Long, Work]
  private val phases = mutable.ArrayBuffer.empty[(Long, Long)]

  def jobStart(jobId: Int, timeMs: Long, stageIds: Seq[Int], span: Long): Unit =
    synchronized {
      jobs(jobId) = new JobRec(span, timeMs)
      stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = jobId)
    }

  def jobEnd(jobId: Int, timeMs: Long): Unit = synchronized {
    jobs.get(jobId).foreach(_.endMs = timeMs)
  }

  def taskEnd(stageId: Int, durationMs: Long, shuffleBytes: Long,
              recordsRead: Long): Unit = synchronized {
    for (j <- stageJob.get(stageId); rec <- jobs.get(j)) {
      val w = work.getOrElseUpdate(rec.span, new Work)
      w.tasks += 1
      w.taskMs += durationMs
      w.shuffleBytes += shuffleBytes
      w.recordsRead += recordsRead
    }
  }

  /** A Catalyst phase (analysis, optimization or planning) interval. */
  def phase(startMs: Long, endMs: Long): Unit = synchronized {
    phases += ((startMs, endMs))
  }

  /** Job intervals of one span (closed jobs only). */
  def jobIntervals(span: Long): Seq[(Long, Long)] = synchronized {
    jobs.values.filter(j => j.span == span && j.endMs >= 0)
      .map(j => (j.startMs, j.endMs)).toSeq
  }
  def workOf(span: Long): Option[Work] = synchronized(work.get(span))
  def allPhases: Seq[(Long, Long)] = synchronized(phases.toSeq)
}

/** Per-span totals, inclusive of child spans, plus self time. */
final case class SpanReport(span: Span, selfMs: Double, jobs: Long,
                            jobMs: Long, catalystMs: Long, taskMs: Long,
                            shuffleBytes: Long, recordsRead: Long,
                            gapMs: Double, fsOps: Long)

object SpanReport {
  /** Resolves attribution into per-span reports. A Catalyst phase goes to
    * the innermost span whose interval holds the phase's start (the
    * client is one closed-loop thread, so that span is unique). */
  def build(spans: Seq[Span], attr: Attribution,
            fsOps: Long => Long): Seq[SpanReport] = {
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    def innermost(t: Long): Option[Span] =
      spans.filter(s => s.startMs <= t && t <= s.endMs)
        .sortBy(s => (s.endMs - s.startMs, -s.id)).headOption
    val phaseBySpan = attr.allPhases.groupBy { case (a, _) =>
      innermost(a).map(_.id).getOrElse(-1L) }
    spans.map { s =>
      val sub = subtree(s)
      val jobIv = sub.flatMap(x => attr.jobIntervals(x.id))
      val phIv = sub.flatMap(x => phaseBySpan.getOrElse(x.id, Nil))
      val works = sub.flatMap(x => attr.workOf(x.id))
      val busy = Intervals.unionLength(jobIv ++ phIv, s.startMs, s.endMs)
      val wallMs = s.wallNs / 1e6
      val childMs = Intervals.unionLength(
        children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)),
        s.startMs, s.endMs)
      SpanReport(s,
        selfMs = math.max(0.0, wallMs - childMs),
        jobs = jobIv.size.toLong,
        jobMs = Intervals.unionLength(jobIv, s.startMs, s.endMs),
        catalystMs = Intervals.unionLength(phIv, s.startMs, s.endMs),
        taskMs = works.map(_.taskMs).sum,
        shuffleBytes = works.map(_.shuffleBytes).sum,
        recordsRead = works.map(_.recordsRead).sum,
        gapMs = math.max(0.0, wallMs - busy),
        fsOps = sub.map(x => fsOps(x.id)).sum)
    }
  }
}

/** The benchmark's tracer: spans around public engine calls, with Spark
  * jobs, tasks, Catalyst phases and filesystem calls attributed to the
  * open span. Off by default; `span` then only runs its body. */
object Trace {
  val SpanKey = "perfbench.span"
  private val on = new AtomicBoolean(false)
  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var sc: SparkContext = _
  val attribution = new Attribution
  private val fsCounts = new ConcurrentHashMap[Long, AtomicLong]()

  def enabled: Boolean = on.get()

  /** Registers the listeners; counting starts with [[start]]. */
  def install(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
          .map(_.toLong).getOrElse(-1L)
        if (span >= 0) attribution.jobStart(e.jobId, e.time, e.stageIds, span)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        attribution.jobEnd(e.jobId, e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        val (sh, rr) =
          if (m == null) (0L, 0L)
          else (m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.recordsRead)
        attribution.taskEnd(e.stageId, e.taskInfo.duration, sh, rr)
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = if (enabled)
        Seq("analysis", "optimization", "planning").foreach { p =>
          qe.tracker.phases.get(p).foreach(s =>
            attribution.phase(s.startTimeMs, s.endTimeMs))
        }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    })
  }

  def start(): Unit = on.set(true)

  /** Waits for the listener bus, then stops recording. */
  def stop(): Unit = {
    drain()
    on.set(false)
  }

  /** Best-effort wait until Spark's listener bus has delivered. */
  def drain(): Unit = if (sc != null) {
    try {
      val bus = classOf[SparkContext].getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: ReflectiveOperationException => Thread.sleep(1000L) }
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val parent = parents.headOption.getOrElse(0L)
      val prevProp = sc.getLocalProperty(SpanKey)
      stack.set(id :: parents)
      sc.setLocalProperty(SpanKey, id.toString)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val wall = System.nanoTime() - t0
        val endMs = System.currentTimeMillis()
        sc.setLocalProperty(SpanKey, prevProp)
        stack.set(parents)
        spans.synchronized(spans += Span(id, name, parent, startMs, endMs, wall))
      }
    }

  def recorded: Seq[Span] = spans.synchronized(spans.toSeq)

  /** The span open where a filesystem call is made: a task's local
    * property on executor threads, the driver thread's otherwise. */
  private[perfbench] def countFsOp(): Unit = if (enabled) {
    val tc = TaskContext.get()
    val p = if (tc != null) tc.getLocalProperty(SpanKey)
            else if (sc != null) sc.getLocalProperty(SpanKey) else null
    if (p != null) fsCounts.computeIfAbsent(p.toLong, _ => new AtomicLong())
      .incrementAndGet(): Unit
  }

  def fsOps(span: Long): Long = Option(fsCounts.get(span)).map(_.get).getOrElse(0L)

  def reports(): Seq[SpanReport] = SpanReport.build(recorded, attribution, fsOps)
}

/** The local filesystem with every namespace and data-access call
  * counted against the open span: list, status, open, create, rename,
  * delete and mkdirs. Registered as `fs.file.impl` for traced runs only;
  * behaviour is exactly [[LocalFileSystem]]'s. */
class CountingLocalFs extends LocalFileSystem {
  private def c(): Unit = Trace.countFsOp()
  override def listStatus(p: Path): Array[FileStatus] = { c(); super.listStatus(p) }
  override def getFileStatus(p: Path): FileStatus = { c(); super.getFileStatus(p) }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = { c(); super.open(p, bufferSize) }
  override def create(p: Path, perm: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    c(); super.create(p, perm, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { c(); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { c(); super.delete(p, recursive) }
  override def mkdirs(p: Path, perm: FsPermission): Boolean = { c(); super.mkdirs(p, perm) }
}
