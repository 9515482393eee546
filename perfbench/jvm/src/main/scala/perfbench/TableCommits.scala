package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.{ManifestTable, MaterializedView, TableGroup}

/** Reads the generator's JSON files (a list of flat objects). */
object Input {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def objects(path: String, key: String): IndexedSeq[Map[String, Any]] = {
    val root = mapper.readValue(new java.io.File(path), classOf[java.util.Map[String, Any]])
    root.get(key).asInstanceOf[java.util.List[java.util.Map[String, Any]]]
      .asScala.map(_.asScala.toMap).toIndexedSeq
  }
  def field(path: String, key: String): Any =
    mapper.readValue(new java.io.File(path), classOf[java.util.Map[String, Any]]).get(key)
  def long(m: Map[String, Any], k: String): Long = m(k).asInstanceOf[Number].longValue
  /** A flat JSON object of whole numbers. */
  def longs(path: String): Map[String, Long] =
    mapper.readValue(new java.io.File(path), classOf[java.util.Map[String, Number]])
      .asScala.map { case (k, v) => k -> v.longValue }.toMap
}

/** One writer runs the generator's seeded schedule of metadata-scale
  * commits against an orders-derived manifest table: appends, keyed
  * upserts, deletes and updates, and refreshes of a join+aggregate
  * materialized view. Each commit is followed by a selective read of the
  * new head and, every other commit, a `versionAsOf` read of a version
  * committed earlier in the same block. A pass is
  * one block of nine commits (each operation kind once, in a fixed order)
  * closed by a TableGroup commit and by maintenance (optimize, vacuum). */
final class TableCommits(spark: SparkSession, input: String) extends Workload {
  private val schedule = Input.objects(s"$input/schedule.json", "ops")
  private val BlockOps = Input.field(s"$input/schedule.json", "block")
    .asInstanceOf[Number].intValue

  private lazy val pool = spark.read.parquet(s"$input/base.parquet").cache()
  private var root, dimRoot, mvRoot, groupRoot = ""
  private var step = 0
  private val versionAt = mutable.ArrayBuffer.empty[Long]  // head version after each step
  private val log = mutable.ArrayBuffer.empty[String]
  private var returned = 0L

  def setup(dir: String): Long = {
    root = s"$dir/orders"; dimRoot = s"$dir/segments"
    mvRoot = s"$dir/mv"; groupRoot = s"$dir/group"
    ManifestTable.create(
      pool.repartitionByRange(4, col("k")).sortWithinPartitions(col("k")),
      root, Seq("k"))
    ManifestTable.create(spark.read.parquet(s"$input/dim.parquet"), dimRoot, Seq("cust"))
    MaterializedView.create(spark, mvRoot, root,
      "SELECT segment, count(*) AS n, sum(price) AS total " +
        "FROM __BASE__ b JOIN __DIM_seg__ d ON b.cust = d.cust GROUP BY segment",
      Seq("segment"),
      dims = Seq(MaterializedView.JoinDim("seg", dimRoot, Seq("cust"), Seq("cust"))))
    TableGroup.create(spark, groupRoot, Map("orders" -> root, "mv" -> mvRoot))
    step = 0; versionAt.clear(); log.clear(); returned = 0L
    Main.dirBytes(s"$input/base.parquet") + Main.dirBytes(s"$input/dim.parquet")
  }

  private def batch(o: Map[String, Any]): DataFrame =
    pool.filter(col("k") >= Input.long(o, "lo") && col("k") < Input.long(o, "hi"))

  private def commit(o: Map[String, Any]): Unit = {
    val lo = Input.long(o, "lo"); val hi = Input.long(o, "hi")
    val delta = Input.long(o, "delta")
    val bumped = batch(o).withColumn("price", col("price") + lit(delta))
    val range = col("k").between(lo, hi)
    o("op") match {
      case "append" => Trace.span("sinks.manifest.append")(ManifestTable.write(
        batch(o).withColumn("k", col("k") + lit(Input.long(o, "shift"))), root))
      case "merge" => Trace.span("sinks.manifest.upsert")(
        ManifestTable.merge(bumped, root, Seq("k")))
      case "mergeEq" => Trace.span("sinks.manifest.upsert")(
        ManifestTable.mergeEq(bumped, root, Seq("k")))
      case "mergeMor" => Trace.span("sinks.manifest.upsert")(
        ManifestTable.mergeMor(bumped, root, Seq("k")))
      case "applyCdc" => Trace.span("sinks.manifest.upsert")(ManifestTable.applyCdc(
        bumped.withColumn("op", when(col("k") % 3 === 0, lit("D")).otherwise(lit("U")))
          .withColumn("seq", lit(1L)), root, Seq("k")))
      case "deleteWhere" => Trace.span("sinks.manifest.delete")(
        ManifestTable.deleteWhere(spark, root, range))
      case "deleteWhereMor" => Trace.span("sinks.manifest.delete")(
        ManifestTable.deleteWhereMor(spark, root, range))
      case "updateWhere" => Trace.span("sinks.manifest.delete")(
        ManifestTable.updateWhere(spark, root, range,
          Seq("price" -> (col("price") + lit(delta)))))
      case "refresh" => Trace.span("sinks.mv.refresh")(MaterializedView.refresh(spark, mvRoot))
    }
  }

  /** Count and price sum of a key range, at the head or at a version. */
  private def rangeRead(version: Option[Long], o: Map[String, Any]): String = {
    val reader = spark.read.format("graft")
    val r = version.fold(reader)(v => reader.option("versionAsOf", v.toString)).load(root)
      .filter(col("k").between(Input.long(o, "read_lo"), Input.long(o, "read_hi")))
      .agg(count(lit(1)), coalesce(sum(col("price")), lit(0L))).head()
    if (Trace.enabled) returned += r.getLong(0)
    s"[${r.getLong(0)},${r.getLong(1)}]"
  }

  private def headRead(o: Map[String, Any]): String = Trace.span("sources.v2.read") {
    if (o("op") == "refresh") {
      val rows = spark.read.format("graft").load(mvRoot)
        .select(col("segment"), col("n"), col("total")).collect()
        .sortBy(_.getString(0))
      if (Trace.enabled) returned += rows.length
      rows.map(r => s"""["${r.getString(0)}",${r.getLong(1)},${r.getLong(2)}]""")
        .mkString("[", ",", "]")
    } else rangeRead(None, o)
  }

  def pass(ops: Ops): Long = block(ops, readAll = true)

  /** One block of commits. Without `readAll` only the first two commits
    * are read back: enough to warm both read paths. */
  private def block(ops: Ops, readAll: Boolean): Long = {
    var landed = 0L
    val first = step
    (0 until BlockOps).foreach { j =>
      require(step < schedule.size, "schedule exhausted")
      val o = schedule(step)
      // on odd steps, the earlier step of this block whose version the
      // time-travel read pins
      val back = if (j % 2 == 0) -1 else first + (Input.long(o, "back") % j).toInt
      ops.timed("commit")(commit(o))
      val head = if (readAll || j < 2) ops.timed("read")(headRead(o)) else "null"
      versionAt += ManifestTable.latestVersion(spark, root)
      log += (if (back < 0 || !(readAll || j < 2)) s"""{"i":$step,"res":$head}""" else {
        val old = ops.timed("read")(
          Trace.span("sources.v2.time_travel")(rangeRead(Some(versionAt(back)), o)))
        s"""{"i":$step,"res":$head,"back":$back,"travel":$old}"""
      })
      step += 1
      landed += Input.long(o, "user_bytes")
    }
    ops.timed("commit")(Trace.span("sinks.group.publish") {
      TableGroup.commit(spark, groupRoot, Map(
        "orders" -> ManifestTable.latestVersion(spark, root),
        "mv" -> ManifestTable.latestVersion(spark, mvRoot)))
    })
    ops.timed("commit")(Trace.span("sinks.manifest.maintain") {
      ManifestTable.optimize(spark, root, Seq("k"), numFiles = 4)
      // keeps every version the view may still have to consume: the
      // view refreshes once per block, so at most two blocks apart
      ManifestTable.vacuum(spark, root, keep = 3 * BlockOps, ttlMs = 0L)
    })
    landed
  }

  /** A writer is a long-lived service: one untimed block first, so the
    * measured block runs every operation kind warm. */
  override def warmup(): Unit = block(new Ops, readAll = false)

  def export(out: String): Unit = {
    Files.write(Paths.get(out, "log.jsonl"), (log.mkString("\n") + "\n").getBytes("UTF-8"))
    ManifestTable.read(spark, root).write.mode("overwrite").parquet(s"$out/final")
  }

  def roots: Seq[String] = Seq(root, mvRoot)
  override def rowsReturned: Long = returned
}
