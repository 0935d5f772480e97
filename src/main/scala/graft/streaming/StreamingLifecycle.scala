package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Silver

/** The reference's OWN raw event file, replayed as a real stream: the
  * csv file-source streams the pinned fixture file, event
  * time comes from the parsed `event_timestamp` with a watermark, and
  * the per-stage funnel counts + payment totals drain with
  * `Trigger.AvailableNow` — so the result must equal a batch engine
  * reading the same file, which is exactly what the oracle does
  * (DuckDB `read_csv` over the identical path). This closes the loop
  * the reference never did: its "near-real-time" pipeline is batch
  * over a table (README.md:17, 27); here the published CSV actually
  * flows through Structured Streaming and lands on its published
  * numbers.
  *
  * Scale: the same query pointed at a Kafka/landing-bucket source with
  * `ProcessingTime` + checkpointing is the production deployment; the
  * per-stage aggregate state is 4 rows regardless of volume.
  */
object StreamingLifecycle {

  /** Pinned to the exact fixture FILE, not its folder: the q139 oracle
    * reads this one CSV, so the streamed input set must provably equal
    * it — a bare directory source would silently diverge the gate the
    * day another file lands there. The file-stream source requires a
    * directory or glob, so the pin is a single-entry brace glob that
    * matches only this filename. */
  val RawDir =
    "/root/reference/Data Sets/Raw Datasets/{synthetic_order_lifecycle.csv}"

  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", StringType),
    StructField("order_id", StringType),
    StructField("customer_id", StringType),
    StructField("event_type", StringType),
    StructField("event_timestamp", StringType),
    StructField("customer_name", StringType),
    StructField("customer_email", StringType),
    StructField("customer_city", StringType),
    StructField("customer_state", StringType),
    StructField("payment_value", DoubleType),
    StructField("lifecycle_step", IntegerType)))

  /** Golden streaming funnel: stage counts + exact payment cents per
    * lifecycle stage over the streamed reference CSV. `dir` is unused
    * (the fixture is the reference's published file, not TESTDATA). */
  def goldenFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = spark.readStream
      .schema(rawSchema)
      .option("header", "true")
      .csv(RawDir)
      .withColumn("ts",
        Silver.parseTimestamp(col("event_timestamp"), Silver.lifecycleFormats))
      .withWatermark("ts", "1 hour")

    val counts = events
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(coalesce(col("payment_value"), lit(0.0)) * 100.0 + 0.5)
          .cast("long")).as("cents"))

    // update-mode memory sink may hold several versions per key: the
    // final version has the max running count
    val latest = Drain.toMemory(counts, "update", "streaming_lifecycle_sink")
      .groupBy("event_type")
      .agg(max(col("n_events")).as("n_events"), max(col("cents")).as("cents"))
    val stageDf = graft.Pipeline.lifecycleStages.toDF("stage", "stage_rank")
    // Broadcast the buildable (right) side; a hint on the preserved side
    // of a left outer join is silently dropped with a WARN.
    stageDf
      .join(broadcast(latest), stageDf("stage") === latest("event_type"), "left")
      .select(col("stage"), col("stage_rank"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        (coalesce(col("cents"), lit(0L)).cast("double") / 100.0)
          .as("total_payment"))
      .orderBy("stage_rank")
  }
}
