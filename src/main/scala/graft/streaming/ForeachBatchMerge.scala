package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `foreachBatch` incremental merge — the operational sink pattern for
  * aggregates that outlive a micro-batch: each batch's partial counts
  * MERGE into a persistent target (read → full-outer combine on the
  * key → atomic swap), so the target always holds the running total.
  * This is what a Delta `MERGE INTO` does behind one call; on plain
  * parquet directories the swap is write-new + rename, and the batch
  * epoch id makes the merge idempotent under retries (same epoch →
  * same target state; a production table format would carry the epoch
  * in its commit log).
  *
  * Scale: the per-batch partial aggregate is map-side combined before
  * it ever reaches the sink, so the merge operand is |key domain|
  * rows, not event volume; the target re-read is the same size. The
  * final state must equal the batch aggregate — that is the oracle.
  */
object ForeachBatchMerge {

  def mergedTypeCounts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val target = s"${System.getProperty("java.io.tmpdir")}/graft_fbm_$tag"
    val fs = new Path(target).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(target), true) // fresh accumulation per run

    def readTarget(): Option[DataFrame] =
      if (fs.exists(new Path(target + "/cur")))
        Some(spark.read.parquet(target + "/cur"))
      else None

    val evs = StreamingFunnel.eventsStream(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(floor(col("value") * 100.0 + 0.5)
        .cast("long")).as("value_c"))

    Drain.run(evs.writeStream
      .outputMode("complete")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        // complete mode re-emits the full per-type state each batch, so
        // the merge is replace-by-key: new snapshot wins, keys absent
        // from this batch keep their previous row (can't happen in
        // complete mode, but the merge is written for the general
        // update-mode contract)
        val prev = readTarget()
        val merged = prev match {
          case Some(p) =>
            val b = batch.select(col("event_type"), col("n"), col("value_c"))
            p.join(b.select(col("event_type").as("bk")),
                col("event_type") === col("bk"), "left_anti")
              .unionByName(b)
          case None => batch
        }
        val next = s"$target/epoch_$epochId"
        merged.write.mode("overwrite").parquet(next)
        val cur = new Path(target + "/cur")
        fs.delete(cur, true)
        fs.rename(new Path(next), cur)
        ()
      })

    spark.read.parquet(target + "/cur")
      .select(col("event_type"), col("n"),
        (col("value_c").cast("double") / 100.0).as("total_value"))
      .orderBy("event_type")
  }
}
