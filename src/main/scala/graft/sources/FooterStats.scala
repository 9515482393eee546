package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-file column statistics for a manifest landing — one row per
  * data file: `path, row_count`, then `c_min, c_max, c_nulls` per
  * tracked column, the shape [[graft.sinks.ManifestTable]] commits as
  * its manifest rows.
  *
  * Two producers, chosen by [[graft.sinks.ManifestTable]]'s landing:
  * footers ([[fileRow]] on the driver for small landings,
  * [[collectFooters]] distributed above that) when every tracked
  * column's type records parquet stats, and an exact scan
  * ([[scanStats]]) otherwise.
  *
  * Honesty rules for writer-omitted stats: if ANY row group of a file
  * lacks usable stats for a column, that column's min/max/nulls are
  * emitted as NULL — "unknown", which pruning must keep — never as a
  * partial fold that would claim a narrower envelope than the data's.
  * Row counts come from block metadata and are always exact.
  */
private[graft] object FooterStats {

  /** Exact stats by one scan of `df`, grouped by `input_file_name()`
    * — distributed, no per-file driver loop. The fallback for tracked
    * columns whose type parquet records no usable stats for (and for
    * a table tracking none, which still needs per-file row counts). */
  def scanStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("row_count") +: cols.flatMap { c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"))
    }
    df.groupBy(input_file_name().as("path")).agg(aggs.head, aggs.tail: _*)
  }

  /** Stats from parquet FOOTERS only — no data pages are read: each
    * task opens its files' footers (a few KB each, holding the per-
    * row-group min/max/null-count written at landing) and folds them
    * with [[fileRow]]. Cost is |files| footer reads, distributed over
    * the cluster, independent of data volume. `schema` is the landed
    * frame's schema; every tracked column must be [[supported]]. */
  def collectFooters(spark: SparkSession, files: Seq[String],
                     schema: StructType, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "track at least one column")
    cols.foreach { c =>
      val dt = schema(c).dataType
      require(supported(dt),
        s"footer stats for $c: unsupported type ${dt.catalogString}")
    }
    val statsSchema = StructType(
      StructField("path", StringType, nullable = false) +:
      StructField("row_count", LongType, nullable = false) +:
      cols.flatMap { c =>
        val dt = schema(c).dataType
        Seq(StructField(s"${c}_min", dt), StructField(s"${c}_max", dt),
          StructField(s"${c}_nulls", LongType))
      })
    val colTypes = cols.map(c => c -> schema(c).dataType)
    // Configuration isn't serializable; ship it as entries and rebuild
    // per task (the iterator already includes resolved defaults)
    val confKv = spark.sparkContext.hadoopConfiguration.iterator().asScala
      .map(e => e.getKey -> e.getValue).toArray
    val bconf = spark.sparkContext.broadcast(confKv)
    val slices = math.max(1, math.min(files.size,
      spark.sparkContext.defaultParallelism))
    val rows = spark.sparkContext.parallelize(files, slices).map { path =>
      val conf = new Configuration(false)
      bconf.value.foreach { case (k, v) => conf.set(k, v) }
      fileRow(path, conf, colTypes)
    }
    spark.createDataFrame(rows, statsSchema)
  }

  def supported(dt: DataType): Boolean = dt match {
    case BooleanType | IntegerType | LongType | FloatType | DoubleType |
         StringType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Natural ordering on the JVM-side stat values per Spark type. */
  private def lessThan(dt: DataType, a: Any, b: Any): Boolean = dt match {
    case BooleanType => !a.asInstanceOf[Boolean] && b.asInstanceOf[Boolean]
    case IntegerType => a.asInstanceOf[Int] < b.asInstanceOf[Int]
    case LongType    => a.asInstanceOf[Long] < b.asInstanceOf[Long]
    case FloatType   => a.asInstanceOf[Float] < b.asInstanceOf[Float]
    case DoubleType  => a.asInstanceOf[Double] < b.asInstanceOf[Double]
    case StringType  =>
      // UNSIGNED UTF-8 BYTE order — parquet's binary stat ordering and
      // Spark's own UTF8String comparison. Java String '<' (UTF-16
      // code-unit order) disagrees for supplementary characters vs
      // [U+E000, U+FFFF]: a surrogate pair (code point > U+10000)
      // sorts BELOW '' by code unit but ABOVE it by byte — a
      // cross-row-group fold under the wrong order understates the
      // max, and an envelope consumer then proves exclusions (or
      // whole-file matches) that delete/skip real rows.
      java.util.Arrays.compareUnsigned(
        a.asInstanceOf[String].getBytes(
          java.nio.charset.StandardCharsets.UTF_8),
        b.asInstanceOf[String].getBytes(
          java.nio.charset.StandardCharsets.UTF_8)) < 0
    case DateType =>
      a.asInstanceOf[java.sql.Date].toLocalDate
        .isBefore(b.asInstanceOf[java.sql.Date].toLocalDate)
    case TimestampType =>
      a.asInstanceOf[java.sql.Timestamp]
        .before(b.asInstanceOf[java.sql.Timestamp])
    case TimestampNTZType =>
      a.asInstanceOf[java.time.LocalDateTime]
        .isBefore(b.asInstanceOf[java.time.LocalDateTime])
    case other => throw new IllegalStateException(s"unreachable: $other")
  }

  /** Parquet stat value → the Spark EXTERNAL type `createDataFrame`
    * expects for `dt`. Timestamp unit comes from the column's logical
    * annotation (MICROS or MILLIS; NANOS is rejected the same way
    * Spark's own reader rejects it). Returns None when the physical/
    * logical shape doesn't match `dt` — fold treats that as unknown. */
  private def convert(dt: DataType, v: Any,
                      ann: LogicalTypeAnnotation): Option[Any] = (dt, v) match {
    case (BooleanType, b: java.lang.Boolean) => Some(b.booleanValue)
    case (IntegerType, i: java.lang.Integer) => Some(i.intValue)
    case (LongType, l: java.lang.Long)       => Some(l.longValue)
    case (FloatType, f: java.lang.Float)     => Some(f.floatValue)
    case (DoubleType, d: java.lang.Double)   => Some(d.doubleValue)
    case (StringType, b: Binary)             => Some(b.toStringUsingUTF8)
    case (DateType, i: java.lang.Integer) =>
      Some(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.longValue)))
    case (TimestampType | TimestampNTZType, l: java.lang.Long) =>
      micros(ann, l.longValue).map { us =>
        if (dt == TimestampType) {
          val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
          t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
          t
        } else
          java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(us, 1000000L),
            (Math.floorMod(us, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC)
      }
    case _ => None
  }

  private def micros(ann: LogicalTypeAnnotation, raw: Long): Option[Long] = {
    import LogicalTypeAnnotation.TimeUnit
    ann match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        t.getUnit match {
          case TimeUnit.MICROS => Some(raw)
          case TimeUnit.MILLIS => Some(Math.multiplyExact(raw, 1000L))
          case _               => None // NANOS: Spark 4 rejects the column too
        }
      case _ => None
    }
  }

  /** One file → one stats Row. Opens only the footer. */
  def fileRow(path: String, conf: Configuration,
              colTypes: Seq[(String, DataType)]): Row = {
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), conf)
    val reader = ParquetFileReader.open(in)
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val rowCount = blocks.map(_.getRowCount).sum
      val perCol = colTypes.flatMap { case (c, dt) =>
        var mn: Option[Any] = None
        var mx: Option[Any] = None
        var nulls = 0L
        var known = true // false once any row group's stats are unusable
        blocks.filter(_.getRowCount > 0).foreach { bg =>
          bg.getColumns.asScala
            .find(_.getPath.toDotString == c) match {
            case None => known = false
            case Some(cc) =>
              val st = cc.getStatistics
              val ann = cc.getPrimitiveType.getLogicalTypeAnnotation
              if (st == null || !st.isNumNullsSet) known = false
              else {
                nulls += st.getNumNulls
                if (st.hasNonNullValue) {
                  (convert(dt, st.genericGetMin, ann),
                    convert(dt, st.genericGetMax, ann)) match {
                    case (Some(lo), Some(hi)) =>
                      if (mn.forall(m => lessThan(dt, lo, m))) mn = Some(lo)
                      if (mx.forall(m => lessThan(dt, m, hi))) mx = Some(hi)
                    case _ => known = false
                  }
                } else if (st.getNumNulls != bg.getRowCount)
                  known = false // no values recorded yet not all-null
              }
          }
        }
        if (known) Seq(mn.orNull, mx.orNull, nulls)
        else Seq(null, null, null)
      }
      Row.fromSeq(path +: rowCount +: perCol)
    } finally reader.close()
  }
}
