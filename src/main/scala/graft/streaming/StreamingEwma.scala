package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Portable

/** q251: a CONTINUOUS KPI anomaly monitor — the streaming deployment
  * of q250's EWMA forecaster: per-channel daily value maintained by a
  * streaming keyed aggregation over the live event feed, with the
  * one-step-ahead forecast and the anomaly band read off the
  * maintained state at any time. Pairs with q176 (drift) and q187
  * (top-k) as the third always-on dashboard widget: "is today's
  * number weird, per channel?".
  *
  * State is the (event_type × day → integer cents) table —
  * calendar-grain, independent of event rate; each micro-batch
  * contributes one map-side-combined partial sum (the q187 argument).
  * The EWMA lag-chain runs over the reduced state, never the feed —
  * at any corpus scale the forecast pass touches (#channels × #days)
  * rows. A production deployment would bound the day domain with a
  * watermark-driven retention sweep; the fixture's ~30-day span keeps
  * the full history metadata-sized here.
  *
  * Determinism: value accumulates as floor-scaled integer cents
  * (exact under any micro-batch slicing — q187's discipline) and the
  * shared [[graft.operators.Analytics.ewmaFrom]] core is
  * integer-exact end-to-end, so the drained AvailableNow reading
  * equals the batch recurrence bit-for-bit — the oracle states the
  * batch form.
  */
object StreamingEwma {

  def ewmaMonitor(spark: SparkSession, dir: String): DataFrame = {
    val agg = StreamingFunnel.eventsStream(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Portable.cents2(col("value"))).as("cents"))
    graft.operators.Analytics
      .ewmaFrom(Drain.toMemory(agg, "complete", "streaming_ewma_sink"),
        Seq("event_type"))
      .orderBy("event_type", "day")
  }

  /** q305: the CONTINUOUS Holt monitor — q296's level+trend forecast
    * deployed exactly like [[ewmaMonitor]] deploys q250: the
    * (event_type × day → cents) state maintained by a streaming keyed
    * aggregation (calendar-grain, rate-independent), the dyadic
    * integer lag chain read off the maintained state. Trend-aware
    * monitoring catches the ramp the flat EWMA band flags late. The
    * drained reading ≡ the batch recurrence bit-for-bit (shared
    * [[graft.operators.Analytics.holtFrom]] core) — the oracle states
    * the batch form. */
  def holtMonitor(spark: SparkSession, dir: String): DataFrame = {
    val agg = StreamingFunnel.eventsStream(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Portable.cents2(col("value"))).as("cents"))
    graft.operators.Analytics.holtFrom(
      Drain.toMemory(agg, "complete", "streaming_holt_sink"))
      .orderBy("event_type", "day")
  }

  /** q320: the CONTINUOUS CUSUM monitor — q312's mean-shift detector
    * deployed exactly like [[ewmaMonitor]] deploys q250: the
    * (event_type × day → cents) state maintained by a streaming keyed
    * aggregation (calendar-grain, rate-independent), the prefix-sum
    * closed form read off the maintained state. Where the EWMA band
    * (q251) flags single weird days and Holt (q305) flags ramps,
    * CUSUM accumulates small persistent shifts — the drift class both
    * miss until late. The drained reading ≡ the batch statistic
    * bit-for-bit (shared [[graft.operators.Analytics.cusumFrom]]
    * core, all-integer) — the oracle states the batch form. */
  def cusumMonitor(spark: SparkSession, dir: String): DataFrame = {
    val agg = StreamingFunnel.eventsStream(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Portable.cents2(col("value"))).as("x"))
    graft.operators.Analytics.cusumFrom(
      Drain.toMemory(agg, "complete", "streaming_cusum_sink"), "event_type")
  }

  /** q325: the CONTINUOUS conformal monitor — q324's distribution-free
    * bands deployed over streaming-maintained state, completing the
    * always-on monitor family (EWMA band q251, Holt ramp q305, CUSUM
    * shift q320, now CALIBRATED uncertainty): the (event_type × day →
    * cents) state maintained by a streaming keyed aggregation, the
    * integer-exact conformal readout (lag-chain forecast, residual
    * ranks, empirical coverage) off the maintained state via the SAME
    * [[graft.operators.Analytics.conformalFrom]] core. The drained
    * reading ≡ the batch statistic bit-for-bit — the oracle states the
    * batch form. */
  def conformalMonitor(spark: SparkSession, dir: String): DataFrame = {
    val agg = StreamingFunnel.eventsStream(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(Portable.cents2(col("value"))).as("cents"))
    graft.operators.Analytics.conformalFrom(
      Drain.toMemory(agg, "complete", "streaming_conformal_sink"))
  }
}
