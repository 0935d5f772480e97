package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.TrainingPipeline
import graft.operators.{Graphs, TextOps}

/** corpus_curation: `TrainingPipeline.run` over the generated corpus,
  * writing the verdicts, kept, mixed and training-shard layers. One
  * operation = one whole pipeline run. */
final class Corpus(work: String, conf: String => String) extends Workload {
  private val dir = s"$work/input/corpus"
  private val warm = s"$work/input/corpus_warm"
  private val out = s"$work/corpus_out"
  private val docs = conf("docs").toDouble

  def setup(spark: SparkSession): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    TrainingPipeline.run(spark, warm, s"$work/corpus_warm_out")
  }

  private def counts(r: TrainingPipeline.Result): Seq[Long] =
    Seq(r.verdicts.count(), r.kept.count(), r.mixed.count(), r.training.count())

  /** The last run's training layer in q154's output form, plus q154's
    * oracle SQL, for run.py's DuckDB comparison. */
  private def writeCheck(spark: SparkSession, r: TrainingPipeline.Result): Unit = {
    r.training.select(col("doc_id"), col("lang"), col("source"),
        col("shard").cast("long").as("shard"), col("pos"),
        col("n_tokens"), col("pack_id"))
      .write.mode("overwrite").parquet(s"$work/corpus_check/q154_training_pipeline")
    Files.write(Paths.get(s"$work/corpus_check/oracle_sql.json"),
      Json.encode(Map("q154_training_pipeline" ->
        graft.SparkEntry.oracleSql("q154_training_pipeline")))
        .getBytes(StandardCharsets.UTF_8))
  }

  /** Pipeline runs for at least `seconds` and at least three runs. Each
    * run truncate-writes the same layers, so run.py checks the last. */
  def measure(spark: SparkSession, seconds: Double): Measured = {
    val walls = mutable.ArrayBuffer.empty[Double]
    var last: TrainingPipeline.Result = null
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds || walls.size < 3) {
      val s = System.nanoTime()
      last = TrainingPipeline.run(spark, dir, out)
      walls += (System.nanoTime() - s) / 1e9
    }
    writeCheck(spark, last)
    Measured(Map(
      "latency_p50_ms" -> Stats.median(walls.toSeq) * 1000,
      "latency_p75_ms" -> Stats.quantile(walls.toSeq, 0.75) * 1000,
      "throughput_per_s" -> docs / Stats.median(walls.toSeq)),
      walls.size.toLong, 0L,
      Map("layer_counts" -> counts(last), "runs" -> walls.size))
  }

  /** Traced, between two untraced `TrainingPipeline.run`s (the first
    * warms up and gives the layer row counts, the second the untraced
    * time): the verdict's stages each forced on its own (the verdict
    * plan fuses them, so only a separate call shows their cost), then
    * the pipeline itself decomposed into its layer steps, whose row
    * counts must equal the untraced run's. */
  def trace(spark: SparkSession, rec: SpanRecorder): Measured = {
    val r = TrainingPipeline.run(spark, dir, out)
    val base = counts(r)
    writeCheck(spark, r)

    def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val g0 = Host.gcSeconds()
    val t0 = System.nanoTime()
    rec.span("corpus.quality")(force(TextOps.qualityScore(spark, dir)))
    rec.span("corpus.repetition")(force(TextOps.repetitionStats(spark, dir)))
    rec.span("corpus.decontam")(force(TextOps.decontaminate(spark, dir)))
    rec.span("corpus.dedup")(force(Graphs.dedupClustersAuto(spark, dir)))

    val tout = s"$work/corpus_traced"
    val p0 = System.nanoTime()
    val documents = graft.sources.Tables.documents(spark, dir)
    val verdicts = rec.span("corpus.verdicts") {
      TextOps.curationVerdictsUnordered(spark, dir)
        .write.mode("overwrite").parquet(s"$tout/curation_verdicts")
      spark.read.parquet(s"$tout/curation_verdicts")
    }
    val kept = rec.span("corpus.kept") {
      val multiKeep = verdicts.filter(col("quality_ok") && col("rep_ok")
        && col("decon_ok") && col("dedup_ok"))
      documents.join(multiKeep.select("doc_id"), "doc_id")
        .write.mode("overwrite").parquet(s"$tout/corpus_kept")
      spark.read.parquet(s"$tout/corpus_kept")
    }
    val mixed = rec.span("corpus.mixture") {
      kept.join(TextOps.langMixtureOn(spark, kept)
          .filter(col("keep")).select("doc_id"), "doc_id")
        .write.mode("overwrite").parquet(s"$tout/corpus_mixed")
      spark.read.parquet(s"$tout/corpus_mixed")
    }
    val shardAsg = rec.span("corpus.shard")(
      TextOps.shuffleShardOn(mixed, 8).localCheckpoint())
    val training = rec.span("corpus.pack") {
      val sharded = mixed.join(shardAsg, "doc_id")
      val packs = TextOps.packDocumentsOn(sharded, 256,
          shardCols = Seq("shard", "source"))
        .select("doc_id", "n_tokens", "pack_id")
      sharded.join(packs, "doc_id")
        .write.mode("overwrite").partitionBy("shard")
        .parquet(s"$tout/training_shards")
      spark.read.parquet(s"$tout/training_shards")
    }
    val end = System.nanoTime()
    val traced = (end - t0) / 1e9
    val pipeline = (end - p0) / 1e9
    val gc = Host.gcSeconds() - g0
    val tracedCounts = Seq(verdicts.count(), kept.count(), mixed.count(),
      training.count())
    val u0 = System.nanoTime()
    TrainingPipeline.run(spark, dir, out)
    val untraced = (System.nanoTime() - u0) / 1e9
    rec.drain()
    val names = Seq("quality", "repetition", "decontam", "dedup", "verdicts",
      "kept", "mixture", "shard", "pack").map("corpus." + _)
    Measured(rec.perName(names, traced) ++ rec.totals(traced, traced) ++ Map(
      "engine.gc_s" -> gc, "trace_overhead_frac" -> (pipeline / untraced - 1.0)),
      2L, if (tracedCounts == base) 0L else 1L,
      Map("layer_counts" -> base, "traced_layer_counts" -> tracedCounts))
  }
}
