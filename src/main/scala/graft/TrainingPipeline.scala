package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** One-command corpus-curation pipeline — the LLM-training analog of
  * the medallion [[Pipeline]]: every stage is an already-gated operator
  * and every layer is truncate-written parquet, so the chain is
  * independently queryable, idempotent to rerun, and end-to-end
  * deterministic (no RNG anywhere — hashes drive the mixture and the
  * shuffle):
  *
  *   documents ─→ curation verdicts (q145: lang target ∧ quality ∧
  *     repetition ∧ decontamination ∧ dedup-canonical)
  *     ─→ kept corpus ─→ language-balanced mixture (q149 rates derived
  *        from the KEPT corpus, not the raw one)
  *     ─→ training set = shuffle-shard (q144) + sequence packing
  *        (q136) over the mixed corpus, written `partitionBy(shard)` —
  *        the layout a trainer's data loader actually reads (one
  *        directory per worker shard, rows pre-ordered by pos).
  *
  * Scale: each stage is the operator's own shape (doc-keyed joins and
  * aggs, broadcast probes, two-phase rank); the writes between stages
  * cut lineage exactly where a deployment would persist — no stage
  * re-executes its upstream and nothing funnels through the driver
  * beyond the documented metadata scalars.
  *
  * Run: `sbt "runMain graft.TrainingPipeline [sfDir [outDir]]"`.
  */
object TrainingPipeline {

  case class Result(verdicts: DataFrame, kept: DataFrame,
      mixed: DataFrame, training: DataFrame)

  def run(spark: SparkSession, dir: String, outDir: String,
      nShards: Int = 8, packBudget: Int = 256): Result = {
    val docs = graft.sources.Tables.documents(spark, dir)

    // ── curation verdicts (the q145 composition; unordered — row
    // order inside a parquet layer is not part of any contract, and a
    // sorted write pays a range exchange + sort, r11) ────────────────
    TextOps.curationVerdictsUnordered(spark, dir)
      .write.mode("overwrite").parquet(s"$outDir/curation_verdicts")
    val verdicts = spark.read.parquet(s"$outDir/curation_verdicts")

    // ── kept corpus: full rows of the documents that survived the
    // MULTILINGUAL criteria (quality ∧ repetition ∧ decontamination ∧
    // dedup). The q145 `keep` additionally selects the target
    // language — correct for a monolingual corpus, but this pipeline
    // builds a language-BALANCED one, so selecting one language here
    // would make the mixture stage vacuous; the two contracts compose
    // as filter-then-balance on the same verdict table ──────────────
    val multiKeep = verdicts.filter(col("quality_ok") && col("rep_ok")
      && col("decon_ok") && col("dedup_ok"))
    docs.join(multiKeep.select("doc_id"), "doc_id")
      .write.mode("overwrite").parquet(s"$outDir/corpus_kept")
    val kept = spark.read.parquet(s"$outDir/corpus_kept")

    // ── language-balanced mixture over the KEPT corpus ─────────────
    kept.join(TextOps.langMixtureOn(spark, kept)
        .filter(col("keep")).select("doc_id"), "doc_id")
      .write.mode("overwrite").parquet(s"$outDir/corpus_mixed")
    val mixed = spark.read.parquet(s"$outDir/corpus_mixed")

    // ── training set: shard assignment FIRST, then packs scoped to
    // (shard, source) — a pack never spans a shard directory, so a
    // trainer worker reading its one directory sees only complete
    // packs; written in the trainer's layout (one dir per shard) ────
    // the shard assignment feeds TWO consumers (the pack derivation and
    // the final write join), and uncheckpointed the two-phase global
    // rank (two shuffles + md5 keys) re-executes once per consumer
    // (r11, guide §2.4). Narrow grain: (doc_id, shard, pos) — the
    // text-bearing `sharded` rows themselves stay lazy, each consumer
    // re-reads the cheap parquet layer instead of materializing text.
    val shardAsg = TextOps.shuffleShardOn(mixed, nShards).localCheckpoint()
    val sharded = mixed.join(shardAsg, "doc_id")
    val packs = TextOps.packDocumentsOn(sharded, packBudget,
        shardCols = Seq("shard", "source"))
      .select("doc_id", "n_tokens", "pack_id")
    sharded.join(packs, "doc_id")
      .write.mode("overwrite").partitionBy("shard")
      .parquet(s"$outDir/training_shards")
    val training = spark.read.parquet(s"$outDir/training_shards")

    Result(verdicts, kept, mixed, training)
  }

  /** The pipeline's `training_shards` layer as a GATED query (q154):
    * run the whole chain into a scratch root (per dir and per process —
    * concurrent JVMs never share it), read the trainer layout back, and
    * emit one totally-ordered row per training document with its full
    * provenance (shard, pos, pack). The DuckDB oracle recomputes the
    * entire chain as composed CTEs — the same per-stage oracles that
    * gate q145/q149/q144/q136 standalone — so the WRITE PATH (four
    * truncate-written layers, partitionBy(shard)) is hash-verified
    * end-to-end, not just spec-asserted. `shard` reads back from the
    * partition directory as INT; cast to the written BIGINT. */
  def trainingSet(spark: SparkSession, dir: String): DataFrame = {
    val key = java.util.UUID.nameUUIDFromBytes(("tpipe:" + dir).getBytes)
      .toString.take(8)
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-tpipe-$key" +
      s"-p${ProcessHandle.current().pid()}"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    val r = run(spark, dir, out)
    r.training
      .select(col("doc_id"), col("lang"), col("source"),
        col("shard").cast("long").as("shard"), col("pos"),
        col("n_tokens"), col("pack_id"))
      .orderBy("doc_id")
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse(
      s"${System.getProperty("java.io.tmpdir")}/graft_training_pipeline")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.util.Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = run(spark, dir, outDir)
    println(s"verdicts=${r.verdicts.count()} kept=${r.kept.count()} " +
      s"mixed=${r.mixed.count()} training=${r.training.count()}")
    r.training.groupBy("shard").count().orderBy("shard")
      .show(truncate = false)
    println(s"layers written under $outDir")
    spark.stop()
  }
}
