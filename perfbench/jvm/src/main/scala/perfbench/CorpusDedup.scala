package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{CorpusQuality, Dedup, TfIdf}
import graft.sinks.ManifestTable

/** The curation chain over a documents corpus: exact dedup (keep the
  * smallest id per fingerprint) → MinHash-LSH near-duplicate pairs →
  * duplicate clusters, one kept per cluster → TF-IDF similar pairs (the
  * larger id of each dropped) → quantile quality filter → the curated
  * corpus committed. Parameters are those of the gated queries. */
final class CorpusDedup(spark: SparkSession, input: String) extends Workload {
  private val JaccardThreshold = 0.5
  private val TfidfPct = 60
  private val TfidfMaxDf = 20L
  private val QualityQuantile = 0.25

  private var docsDir, root = ""
  private var landed = 0L
  private var last = Map.empty[String, DataFrame]
  private var candidates = 0L
  private var pairsFound = 0L
  private var returned = 0L

  def setup(dir: String): Long = {
    docsDir = s"$dir/documents"; root = s"$dir/curated"
    // landing: the corpus files, copied into the run's directory
    val src = new java.io.File(s"$input/documents")
    new java.io.File(docsDir).mkdirs()
    src.listFiles().sortBy(_.getName).foreach { f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(docsDir, f.getName).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    landed = Main.dirBytes(docsDir)
    landed
  }

  private def step(ops: Ops, span: String)(df: => DataFrame): DataFrame =
    ops.timed("step")(Trace.span(span) {
      val d = df.cache()
      d.count()
      d
    })

  def pass(ops: Ops): Long = {
    last.values.foreach(_.unpersist())
    val docs = spark.read.parquet(docsDir)
    val survivors = step(ops, "operators.dedup") {
      val groups = Dedup.exactDuplicateGroups(docs, "doc_id", "text")
      Dedup.fingerprints(docs, "doc_id", "text")
        .join(groups.select(col("fp"), col("rep_doc_id")), Seq("fp"), "left")
        .filter(col("rep_doc_id").isNull || col("doc_id") === col("rep_doc_id"))
        .select(col("doc_id")).join(docs, Seq("doc_id"))
    }
    graft.util.OpMetrics.reset()
    val pairs = step(ops, "operators.dedup")(
      Dedup.minhashLshPairs(survivors, "doc_id", "text", JaccardThreshold))
    val obs = graft.util.OpMetrics.await(Set("minhash_candidates"))
    if (Trace.enabled) {
      candidates += obs.getOrElse("minhash_candidates", 0L)
      pairsFound += pairs.count()
    }
    val kept = step(ops, "operators.dedup")(
      Dedup.keepClusterRepresentatives(survivors, pairs, "doc_id"))
    val similar = step(ops, "operators.dedup")(
      TfIdf.similarPairs(kept, "doc_id", "text", TfidfPct, TfidfMaxDf))
    val good = step(ops, "operators.corpus_quality") {
      val distinct = kept.join(similar.select(col("doc_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      val scored = distinct
        .withColumn("quality", TextAnalysis.qualityScoreFromTokens(
          TextAnalysis.tokens(col("text"))))
      CorpusQuality.filterByScoreQuantile(scored, "quality", QualityQuantile)
        .select(col("doc_id"), col("text"))
    }
    ops.timed("commit")(Trace.span("sinks.manifest.append") {
      if (ManifestTable.exists(spark, root)) ManifestTable.overwrite(good, root)
      else ManifestTable.create(good, root, Seq("doc_id"))
    })
    // retention, so that the bytes under the root do not grow with passes
    ops.timed("commit")(Trace.span("sinks.manifest.maintain")(
      ManifestTable.vacuum(spark, root, keep = 1, ttlMs = 0L)))
    val rows = ops.timed("read")(Trace.span("sources.v2.read")(
      spark.read.format("graft").load(root).count()))
    if (Trace.enabled) returned += rows
    last = Map("survivors" -> survivors.select("doc_id"), "pairs" -> pairs,
      "kept" -> kept.select("doc_id"), "similar" -> similar, "good" -> good.select("doc_id"))
    landed
  }


  def export(out: String): Unit = {
    last.foreach { case (n, df) => df.write.mode("overwrite").parquet(s"$out/$n") }
    ManifestTable.read(spark, root).select("doc_id").write.mode("overwrite")
      .parquet(s"$out/committed")
  }

  def roots: Seq[String] = Seq(root)
  override def rowsReturned: Long = returned
  override def counters: Map[String, Double] =
    Map("minhash_candidates" -> candidates.toDouble, "pairs" -> pairsFound.toDouble)
}
