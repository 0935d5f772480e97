package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Broker-shaped ingestion: an UNBOUNDED, offset-based source standing
  * in for the Kafka/PubSub feed the reference claims to be ready for
  * (reference README.md:27, 53) — this sandbox has no broker to connect
  * to, but `rate-micro-batch` reproduces the two properties that make a
  * broker source different from a file drop:
  *
  *   - OFFSETS, not files: the source hands out a deterministic,
  *     monotonically-increasing offset sequence (`value` = 0,1,2,…),
  *     and progress is the committed offset in the CHECKPOINT — the
  *     Kafka consumer-group shape. A second drain against the same
  *     checkpoint resumes exactly where the last one stopped, with no
  *     reprocessing (BrokerReplaySpec proves both).
  *   - BACKPRESSURE: `rowsPerBatch` bounds each micro-batch (the
  *     broker analogue of `maxOffsetsPerTrigger`), so an unbounded
  *     backlog drains in bounded-memory batches instead of one giant
  *     batch.
  *
  * Each offset is enriched against the events table with a
  * stream-static join on `event_id = offset` — the "attach the payload
  * at ingest" pattern — and appended to a parquet sink, so the replay
  * is also exactly-once end-to-end: offsets committed in the
  * checkpoint, rows in the sink's transaction log.
  *
  * Scale: the stream side shuffles nothing (the static side joins per
  * micro-batch task); the sink append is per-batch atomic. Swapping
  * `rate-micro-batch` for `kafka` changes the `.format` and the key
  * extraction, nothing else.
  */
object BrokerReplay {

  /** One `Trigger.AvailableNow` drain: consumes the next `rowsPerBatch`
    * offsets from the broker-shaped source, enriches them against the
    * events table, appends to `out`, commits the offsets to `ckpt`. */
  def drainOnce(spark: SparkSession, dir: String, rowsPerBatch: Int,
      ckpt: String, out: String): Unit = {
    val offsets = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("numPartitions", 2)
      .load()
      .select(col("value").as("offset"))
    val enriched = offsets.join(Tables.events(spark, dir),
      col("offset") === col("event_id"))
    Drain.run(enriched.writeStream
      .outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt))
  }
}
