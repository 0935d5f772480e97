package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.Scd2

/** SCD Type 2 as a stream — the §2.9 → §2.10 bridge SURVEY.md maps out,
  * with one semantics for batch and stream: the stream lands the CDC
  * event log as is, and the history is [[graft.operators.Scd2.history]]
  * of that log, the derivation the batch MERGE (reference
  * Scd_Type2.sql:38–53) uses too.
  *
  * The stream is stateless: no per-key state, no suppression of
  * unchanged events, one append per event to the sink. Ties at one ts,
  * unchanged repeats and late or out-of-order arrival are settled when
  * the log is read, by event time and the batch tie rule, so the result
  * does not depend on how events were split into micro-batches or in
  * which order they arrived. `StreamingScd2Spec` and `Scd2ModelSpec`
  * check that against the batch history, surrogate keys included.
  *
  * Scale: the write side is a map-only append (no shuffle, no state
  * store commit); the read side is the batch window, one shuffle on the
  * business key, over every event rather than every version start.
  * Surrogate keys are assigned at read time by the batch two-phase rank
  * — deliberately NOT in the stream, where global contiguity would
  * serialize.
  */
object StreamingScd2 {

  case class CdcRow(key: Long, status: String, price: Double,
      priority: String, ts: Timestamp)

  /** The emission log: every CDC event, unchanged. A pass-through, kept
    * as the stream's named write side because the benchmark harness
    * compiles against it. */
  def versions(evs: Dataset[CdcRow]): Dataset[CdcRow] = evs

  /** The q23 scenario replayed as a two-batch CDC stream (initial load
    * at T1, flip-batch at T2) in the DEPLOYMENT shape end-to-end: each
    * CDC batch is written straight from the orders scan into a landing
    * directory (executor-side — no driver collect anywhere, so the
    * harness itself survives an unbounded orders table), and the query
    * drains the landing folder twice with `Trigger.AvailableNow` against
    * one checkpoint — the second drain restarts from the checkpoint's
    * source offsets and reads only the NEW files, exactly how a
    * scheduled production drain of a CDC bucket runs. Both drains append
    * the events to one parquet sink; the final history is a batch read
    * of that sink. Output = the full history without the surrogate keys,
    * oracle-checked as q55. */
  def ordersScenarioStream(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sscd2").toString
    val land = s"$base/landing"
    val out = s"$base/out"
    val ckpt = s"$base/ckpt"

    val o = graft.sources.Tables.orders(spark, dir).select(
      col("o_orderkey").as("key"), col("o_orderstatus").as("status"),
      col("o_totalprice").cast("double").as("price"),
      col("o_orderpriority").as("priority"))

    def drain(): Unit = {
      val evs = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[CdcRow].schema)
        .parquet(land)
        .as[CdcRow]
      val q = versions(evs).writeStream
        .outputMode("append")
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // batch 1: initial load (80% of keys) lands at T1, first drain
    o.filter(col("key") % 10 < 8)
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
      .write.mode("append").parquet(land)
    drain()
    // batch 2: CDC flip-batch lands at T2, second drain resumes from
    // the checkpoint (new files only)
    o.withColumn("status",
        when(col("key") % 5 === 0, lit("D")).otherwise(col("status")))
      .withColumn("ts", to_timestamp(lit("2024-06-01 00:00:00")))
      .write.mode("append").parquet(land)
    drain()

    finalizeHistory(spark.read.parquet(out), Scd2.FarFuture)
      .select(col("key").as("order_id"), col("status").as("order_status"),
        col("price").as("total_price"), col("priority"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy("order_id", "valid_from")
  }

  /** The history table of an emission log: the batch SCD2 history of
    * its events, in event-time order, with SKs, and `farFuture` as the
    * open end. */
  def finalizeHistory(emitted: DataFrame, farFuture: String): DataFrame =
    Scd2.history(emitted,
        Scd2.Config("key", Seq("status", "price", "priority")), "ts")
      .withColumn("valid_to", when(col("is_current"),
        to_timestamp(lit(farFuture))).otherwise(col("valid_to")))
}
