package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** Suites run in PARALLEL over this one shared session, so another
    * suite may flip `spark.sql.adaptive.enabled` between a frame's
    * planning and its assert. With AQE on, `executedPlan` is an
    * `AdaptiveSparkPlanExec` that keeps the real plan in a FIELD — not
    * in `children` — so tree-walking asserts (`collect`,
    * `collectLeaves`) see one opaque leaf and silently match nothing.
    * Every plan walker in the suites must descend through this. */
  def physicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }

  /** Distinct data files the physical plan's batch scans would read —
    * unwraps every partition shape the source can emit (plain splits,
    * DV composite branches, bucket-grouped cells), so counts are
    * conf-independent under parallel suites flipping v2 bucketing. */
  def plannedDataFiles(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import sources.v2.{GraftDvCleanPartition, GraftDvFilePartition}
    def files(p: org.apache.spark.sql.connector.read.InputPartition)
        : Seq[String] = p match {
      case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
      case GraftDvCleanPartition(fp: FilePartition) =>
        fp.files.map(_.filePath.toString).toSeq
      case p: GraftDvFilePartition =>
        p.inner.files.map(_.filePath.toString).toSeq
      case b: sources.v2.GraftBucketPartition =>
        b.parts.toSeq.flatMap(files)
      case _ => Nil
    }
    physicalPlan(df).collect {
      case b: BatchScanExec => b.partitions.flatten }
      .flatten.flatMap(files).distinct.size
  }
}

/** Every registered query runs and yields a sane result on sf0.001;
  * plus exact-value spot checks on known aggregates. */
class QueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("every query executes at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n >= 0, s"$name returned negative count")
      // q_anti_join: all sf0.001 customers have an 'F' order.
      // q_dedup_embedding: blocked on label — no same-label pair reaches
      // the cosine threshold at sf0.001 (2 do at sf0.01, the gate scale).
      // q_fuzzy_match: 200 parts at sf0.001 → no (brand, size) block
      // holds two names within edit distance 2 (41 pairs at sf0.01).
      val mayBeEmpty = Set("q_anti_join", "q_dedup_embedding", "q_fuzzy_match")
      withClue(s"$name should be non-empty: ") { assert(n > 0 || mayBeEmpty(name)) }
    }
  }

  test("manifest-path gated queries are re-runnable in one JVM (the Bench twice-per-round contract)") {
    Seq("q_merge_upsert", "q_cdc_apply").foreach { n =>
      val fn = SparkEntry.queries(n)
      val a = fn(spark, sf).collect().toSeq
      val b = fn(spark, sf).collect().toSeq
      assert(a == b, s"$n must re-run with identical results")
    }
  }

  /** Sketch-based queries can't be reproduced in DuckDB; the driver
    * records a rows-only check for them. Everything else must have an
    * oracle. */
  val rowsOnlyQueries = Set("q_occupancy_approx")

  test("registerAll exposes every table to spark.sql, events with µs timestamps") {
    sources.Tables.registerAll(spark, sf)
    sources.Tables.names.foreach { n =>
      assert(spark.sql(s"SELECT * FROM $n LIMIT 1").count() == 1L, s"table $n")
    }
    // events.ts must be a usable timestamp, not raw nanos
    val t = spark.sql("SELECT ts FROM events LIMIT 1").schema("ts").dataType
    assert(t == org.apache.spark.sql.types.TimestampType)
    assert(spark.sql(
      "SELECT COUNT(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"
    ).collect()(0).getLong(0) > 0)
  }

  test("every query has an oracle or is documented rows-only") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnlyQueries
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
  }

  test("approx occupancy tracks exact occupancy within HLL error") {
    val exact = queries.TimeSeries.qOccupancyHourly(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val approx = queries.TimeSeries.qOccupancyApprox(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n) <= math.max(2L, math.round(n * 0.15)),
        s"approx diverged at $k: exact=$n approx=${approx(k)}")
    }
  }

  test("interval-skew guard: a 10-year interval explodes in bounded chunks, result unchanged") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val hourUs = 3600000000L
    val tenYearsHours = 10 * 8760
    val iv = Seq(
      ("A", 1L, 0L, tenYearsHours.toLong * hourUs), // pathological
      ("B", 2L, hourUs, 3L * hourUs))               // normal 3-hour interval
      .toDF("event_type", "user_id", "start_us", "end_us")
    // chunk bound: no chunk spans more than the cap, chunks tile exactly
    val withHours = iv
      .withColumn("fh_us", (ceil(col("start_us") / lit(3600000000.0)) * hourUs).cast("long"))
      .withColumn("lh_us", (floor(col("end_us") / lit(3600000000.0)) * hourUs).cast("long"))
    val chunks = queries.TimeSeries.chunkedIntervals(withHours, 1000)
      .select(col("user_id"), col("chunk_fh"), col("chunk_lh"))
      .as[(Long, Long, Long)].collect()
    val big = chunks.filter(_._1 == 1L)
    assert(big.length == math.ceil((tenYearsHours + 1) / 1000.0).toInt)
    assert(big.forall { case (_, f, l) => (l - f) / hourUs < 1000 })
    assert(big.map { case (_, f, l) => (l - f) / hourUs + 1 }.sum == tenYearsHours + 1)
    // semantics unchanged vs an effectively-unchunked run
    val guarded = queries.TimeSeries.occupancyHourly(iv, maxHoursPerChunk = 1000)
      .orderBy("frame_ts", "event_type").collect()
    val unchunked = queries.TimeSeries.occupancyHourly(iv, maxHoursPerChunk = 1000000)
      .orderBy("frame_ts", "event_type").collect()
    assert(guarded.sameElements(unchunked))
    assert(guarded.length == tenYearsHours + 1 + 3)
  }

  test("q1_agg groups by returnflag/linestatus with positive sums") {
    val rows = queries.Relational.q1Agg(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(r.fieldIndex("sum_qty")) > 0)
      assert(r.getLong(r.fieldIndex("n")) > 0)
    }
  }

  test("q_window_rownum gaps are null-first then non-negative") {
    val rows = queries.Relational.qWindowRownum(spark, sf).collect()
    val byUser = rows.groupBy(_.getLong(0))
    byUser.values.foreach { evs =>
      val sorted = evs.sortBy(_.getInt(2))
      assert(sorted.head.isNullAt(3), "first event in partition has null gap")
      sorted.tail.foreach(r => assert(r.getLong(3) >= 0))
    }
  }

  test("q_dedup_lastwin yields one row per user") {
    val df = queries.Relational.qDedupLastWin(spark, sf)
    assert(df.count() == df.select("user_id").distinct().count())
  }

  test("equiDepthHistogram matches NTILE when N is not divisible by k") {
    import spark.implicits._
    // NTILE front-loads the remainder: first N mod k buckets get the
    // extra row. Exercise several (n, k) shapes, including n < k.
    def ntileCounts(n: Int, k: Int): Map[Long, Long] = {
      val base = n / k; val rem = n % k
      (1 to math.min(n, k)).map { b =>
        b.toLong -> (if (b <= rem) base + 1L else base.toLong)
      }.filter(_._2 > 0).toMap
    }
    for ((n, k) <- Seq((10, 8), (7, 3), (100, 7), (5, 8), (9, 9))) {
      val df = (1 to n).map(i => (i.toDouble, i.toLong)).toDF("v", "id")
      val got = queries.Relational.equiDepthHistogram(df, "v", "id", k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ntileCounts(n, k), s"n=$n k=$k")
    }
    // the ADVICE counter-example: N=10, k=8 → rank 4 is NTILE bucket 2
    val df10 = (1 to 10).map(i => (i.toDouble, i.toLong)).toDF("v", "id")
    val b = queries.Relational.equiDepthHistogram(df10, "v", "id", 8)
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(b(2L) == ((3.0, 4.0)), "bucket 2 holds ranks 3-4 (incl. rank 4)")
  }

  test("equiDepthHistogram releases its internal cache — no lingering executor memory per library call") {
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    val df = (1 to 500).map(i => (i.toDouble, i.toLong)).toDF("v", "id")
    val got = queries.Relational.equiDepthHistogram(df, "v", "id", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 125L, 2L -> 125L, 3L -> 125L, 4L -> 125L))
    assert(spark.sharedState.cacheManager.isEmpty,
      "the sorted intermediate must be unpersisted before returning")
  }
}
