package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.ManifestTable

/** A seeded mix of selective reads over a many-file lineitem manifest
  * table with a version history: key lookups, range filters, top-N, a
  * bucket join with orders, whole-table COUNT/MIN/MAX, and time-travel
  * reads spread over every version. */
final class TableScans(spark: SparkSession, input: String) extends Workload {
  private val reads = Input.objects(s"$input/reads.json", "reads")
  private val bounds: Seq[Long] = Input.field(s"$input/reads.json", "bounds")
    .asInstanceOf[java.util.List[Number]].asScala.map(_.longValue).toSeq
  private def param(k: String) =
    Input.field(s"$input/reads.json", k).asInstanceOf[Number].intValue
  private val PassReads = 20
  private val Buckets = 16
  private val BaseFiles = param("base_files")
  private val AppendFiles = param("append_files")

  private lazy val li = spark.read.parquet(s"$input/lineitem.parquet")
  private var root, bucketedRoot, ordersRoot = ""
  private val versionIds = mutable.ArrayBuffer.empty[Long]
  private var step = 0
  private val log = mutable.ArrayBuffer.empty[String]
  private var returned = 0L

  /** Version b of the history holds the keys up to bounds(b); each
    * version appends one contiguous key block. */
  private def block(b: Int): DataFrame =
    if (b == 0) li.filter(col("ok") <= bounds(0))
    else li.filter(col("ok") > bounds(b - 1) && col("ok") <= bounds(b))

  def setup(dir: String): Long = {
    root = s"$dir/lineitem"; bucketedRoot = s"$dir/lineitem_bucketed"
    ordersRoot = s"$dir/orders"
    versionIds.clear(); step = 0; log.clear(); returned = 0L
    // many files: one per landing task, key-range clustered
    versionIds += ManifestTable.create(block(0).repartitionByRange(BaseFiles, col("ok")),
      root, Seq("ok", "ship"))
    Main.note("version 0 built")
    bounds.indices.drop(1).foreach(b => versionIds +=
      ManifestTable.write(block(b).repartitionByRange(AppendFiles, col("ok")), root))
    Main.note(s"versions built: ${versionIds.size}")
    ManifestTable.buildBloom(spark, root, "ok")
    // the bucket join's two sides share one hash layout on the key
    ManifestTable.create(li, bucketedRoot, Seq("ok"), bucketBy = Some(("ok", Buckets)))
    ManifestTable.create(spark.read.parquet(s"$input/orders.parquet"), ordersRoot,
      Seq("ok"), bucketBy = Some(("ok", Buckets)))
    Main.note("bloom and bucketed tables built")
    Main.dirBytes(s"$input/lineitem.parquet") + Main.dirBytes(s"$input/orders.parquet")
  }

  private def head: DataFrame = spark.read.format("graft").load(root)

  private def read(o: Map[String, Any]): String = {
    val lo = Input.long(o, "lo"); val hi = Input.long(o, "hi")
    val range = col("ok").between(lo, hi)
    def agg2(df: DataFrame, c: String, span: String): String = Trace.span(span) {
      val r = df.agg(count(lit(1)), coalesce(sum(col(c)), lit(0L))).head()
      if (Trace.enabled) returned += r.getLong(0)
      s"[${r.getLong(0)},${r.getLong(1)}]"
    }
    o("kind") match {
      case "lookup" => agg2(head.filter(col("ok") === Input.long(o, "key")), "qty",
        "sources.v2.read")
      case "range" => agg2(head.filter(range), "price", "sources.v2.read")
      case "travel" =>
        val b = Input.long(o, "version").toInt
        val v = versionIds(b)
        val res = agg2(spark.read.format("graft").option("versionAsOf", v.toString)
          .load(root).filter(range), "price", "sources.v2.time_travel")
        s"""{"block":$b,"res":$res}"""
      case "topn" => Trace.span("sources.v2.read") {
        val rows = head.filter(range)
          .orderBy(col("price").desc, col("ok"), col("ln"))
          .limit(Input.long(o, "n").toInt).select("ok", "ln", "price").collect()
        if (Trace.enabled) returned += rows.length
        rows.map(r => s"[${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}]")
          .mkString("[", ",", "]")
      }
      case "join" => Trace.span("sources.v2.read") {
        val r = spark.read.format("graft").load(bucketedRoot).filter(range)
          .join(spark.read.format("graft").load(ordersRoot), Seq("ok"))
          .agg(count(lit(1)), coalesce(sum(col("qty")), lit(0L)),
            coalesce(sum(col("cust")), lit(0L))).head()
        if (Trace.enabled) returned += r.getLong(0)
        s"[${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}]"
      }
      case "minmax" => Trace.span("sources.v2.read") {
        val r = head.agg(count(lit(1)), min(col("price")), max(col("price"))).head()
        if (Trace.enabled) returned += r.getLong(0)
        s"[${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}]"
      }
    }
  }

  def pass(ops: Ops): Long = {
    (0 until PassReads).foreach { _ =>
      require(step < reads.size, "read mix exhausted")
      val o = reads(step)
      val res = ops.timed("read")(read(o))
      log += s"""{"i":$step,"res":$res}"""
      step += 1
    }
    0L
  }


  def export(out: String): Unit =
    Files.write(Paths.get(out, "log.jsonl"), (log.mkString("\n") + "\n").getBytes("UTF-8"))

  def roots: Seq[String] = Seq(root)
  override def rowsReturned: Long = returned
}
