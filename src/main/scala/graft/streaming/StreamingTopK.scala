package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.util.Portable

/** q187: a CONTINUOUS top-k leaderboard — per-entity purchase revenue
  * maintained by a streaming keyed aggregation over the live event
  * feed, with the ranked top-k read off the maintained state at any
  * time (the "trending sellers" / "top spenders" widget every
  * commerce dashboard ships, deployed as a running query instead of a
  * nightly batch).
  *
  * State is the (user_id → integer-cents revenue, purchase count)
  * table: entity-grain, independent of event rate — each micro-batch
  * contributes one map-side-combined partial sum. Ranking runs over
  * the reduced state, never the feed. For key domains too large to
  * hold (open-world ids at 100 TB), the bounded-memory composition is
  * q94's Misra-Gries candidate pass in front of this exact keyed agg;
  * here the entity domain is the bounded one a leaderboard serves.
  *
  * Determinism: revenue accumulates as floor-scaled integer cents
  * (exact under any partial-agg order and any micro-batch slicing);
  * ranking ties break on user_id. Drained AvailableNow, the reading
  * must equal the batch aggregate bit-for-bit — the oracle states the
  * batch form.
  */
object StreamingTopK {

  def topSpenders(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val agg = StreamingFunnel.eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(Portable.cents2(col("value"))).as("cents"),
        count(lit(1)).as("n_purchases"))
    // top-k first via TakeOrderedAndProject's distributed heap; the
    // global-order window then ranks only k rows
    val w = Window.orderBy(desc("cents"), asc("user_id"))
    Drain.toMemory(agg, "complete", "streaming_topk_sink")
      .orderBy(desc("cents"), asc("user_id")).limit(k)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("user_id"), col("n_purchases"),
        (col("cents").cast("double") / lit(100.0)).as("revenue"))
      .orderBy("rank")
  }
}
