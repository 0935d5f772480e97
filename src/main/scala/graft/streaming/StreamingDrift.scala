package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Analytics
import graft.sources.Tables

/** q176: the PSI drift gate (q169) as a CONTINUOUS monitor — the shape
  * a production pipeline actually deploys: the reference histogram is
  * frozen once (window A, computed statically), while the current
  * window's histogram is maintained INCREMENTALLY by a streaming
  * aggregation over the live event feed; the drift statistic is read
  * off the maintained state at any time. Here the stream drains
  * AvailableNow and the final reading must equal the batch statistic
  * bit-for-bit — q169's oracle IS this query's oracle.
  *
  * Scale: the streaming state is the (event_type, bucket) count table —
  * a few dozen rows regardless of rate; per micro-batch the update is
  * one map-side-combined partial count. The PSI combine runs over that
  * reduced grain. Nothing corpus-sized is stored or shuffled, so the
  * monitor's cost follows the feed's rate, not the corpus.
  */
object StreamingDrift {

  def driftMonitor(spark: SparkSession, dir: String): DataFrame = {
    val refA = Tables.events(spark, dir)
      .filter(col("ts") < Analytics.DriftBoundary)
      .select(col("event_type"), Analytics.driftBucket)
      .groupBy("event_type", "bucket").agg(count(lit(1)).as("n_a"))
    val aggB = StreamingFunnel.eventsStream(spark, dir)
      .filter(col("ts") >= Analytics.DriftBoundary)
      .select(col("event_type"), Analytics.driftBucket)
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n_b"))
    val aggBDrained = Drain.toMemory(aggB, "complete", "streaming_drift_sink")
    val g = refA.join(aggBDrained, Seq("event_type", "bucket"), "full_outer")
      .select(col("event_type"), col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    Analytics.psiFrom(g)
  }
}
