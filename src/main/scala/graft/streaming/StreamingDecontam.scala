package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextOps
import graft.sources.Tables

/** q212 — CONTINUOUS decontamination: q209's exact containment check
  * (eval-registry shingles quoted inside corpus documents) run at
  * INGEST, batch by batch, instead of as a corpus-wide audit after the
  * fact. The practical deployment shape: the eval registry is a small
  * static index; every arriving document batch is checked against it
  * and contaminated docs are flagged before they ever land in the
  * released corpus.
  *
  * Why this decomposes perfectly: containment C(A→B) = |A∩B|/|A|
  * depends on ONE eval doc and ONE corpus doc — no cross-batch state
  * exists, so per-batch work is batch-sized and the union over batches
  * is EXACTLY the batch audit (the hash gate runs q209's oracle
  * against the drained stream). Within a batch the registry side is a
  * broadcast-joined static index — the stream side never shuffles
  * corpus-wide.
  *
  * The fixture is staged as four id-sliced parquet files and streamed
  * one file per trigger, so the monitor really processes multiple
  * micro-batches; per-epoch output dirs are overwritten idempotently
  * (the q135 foreachBatch discipline).
  */
object StreamingDecontam {

  def containmentStream(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = {
    import spark.implicits._

    val fixture = s"$dir/documents.parquet"
    val land = FixtureStaging.stageOnce("decon-split", fixture,
      "/tmp/graft-decon") { d =>
      val docs = Tables.documents(spark, dir)
      (0 until 4).foreach { i =>
        docs.filter(pmod(col("doc_id"), lit(4)) === i)
          .coalesce(1).write.mode("overwrite")
          .parquet(d.resolve(s"slice_$i").toString)
      }
      // flatten: the file stream wants files in ONE dir
      val files = new java.io.File(d.toString).listFiles()
        .filter(_.isDirectory)
        .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
      files.zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.move(f.toPath,
          d.resolve(s"docs_$i.parquet"))
      }
      new java.io.File(d.toString).listFiles()
        .filter(_.isDirectory)
        .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    }

    // static registry index: shingle sets of the eval sliver, exploded
    // once, with sizes — metadata-sized next to any corpus
    val shingled = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(TextOps.EvalMod.toLong)) === 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        (id, TextOps.shinglesOf(t).distinct)
      })
      .toDF("eval_id", "toks")
      .localCheckpoint()
    val evalTok = shingled
      .select(col("eval_id"), explode(col("toks")).as("tok"))
    val evalSz = shingled.select(col("eval_id"), size(col("toks")).as("m"))

    val pid = ProcessHandle.current().pid()
    val out = s"/tmp/graft-decon-out-${FixtureStaging.key("decon-out",
      fixture)}-p$pid"

    val stream = spark.readStream
      .schema(Tables.documents(spark, dir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(land)

    Drain.run(stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$out-ckpt")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val b = batch
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .mapPartitions(_.map { case (id, t) =>
            (id, TextOps.shinglesOf(t).distinct)
          })
          .toDF("doc_id", "btoks")
        val btok = b.select(col("doc_id"),
          explode(col("btoks")).as("tok"))
        val verdicts = btok
          .join(broadcast(evalTok), "tok")
          .filter(col("eval_id") =!= col("doc_id"))
          .groupBy("eval_id", "doc_id")
          .agg(count(lit(1)).cast("double").as("c"))
          .join(broadcast(evalSz), "eval_id")
          .withColumn("containment", col("c") / col("m"))
          .filter(col("containment") >= threshold)
          .select(col("eval_id"), col("doc_id"),
            graft.util.Portable.val6(col("containment"))
              .as("containment"))
        // epoch-keyed overwrite: a replayed batch lands on the same
        // path — idempotent, never duplicated
        verdicts.write.mode("overwrite").parquet(s"$out/epoch=$epochId")
        ()
      })

    spark.read.parquet(s"$out/*")
      .select("eval_id", "doc_id", "containment")
      .orderBy("eval_id", "doc_id")
  }
}
