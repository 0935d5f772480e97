package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-stream inner join with event-time range bounds (SURVEY §2.10
  * — the last streaming join shape the surface was missing; q53 covers
  * stream-static). Purchase events join the same user's view events
  * from the preceding hour: last-hour attribution as a continuously
  * running query.
  *
  * Both sides carry a watermark and the join condition bounds view_ts
  * to [purchase_ts - 1h, purchase_ts], which is what lets Spark's
  * symmetric hash join EXPIRE state: a buffered view older than
  * (watermark - 1h) can never match a future purchase and is dropped,
  * so state is bounded by the time-bound × arrival rate, not by
  * history — the property that makes this run forever at 100 TB/day.
  * Append mode emits each matched pair exactly once when it becomes
  * final. `Trigger.AvailableNow` drains the bounded testdata, making
  * the result equal the batch range self-join, which IS the oracle.
  */
object StreamingJoin {

  def viewsBeforePurchases(spark: SparkSession, dir: String): DataFrame = {
    val views = StreamingFunnel.eventsStream(spark, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "2 hours")
    val purchases = StreamingFunnel.eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")

    val joined = purchases.join(views,
      expr("""user_id = v_user
             |AND view_ts >= purchase_ts - INTERVAL 1 HOUR
             |AND view_ts <= purchase_ts""".stripMargin))
      .select(col("user_id"), col("purchase_ts"), col("view_ts"))

    Drain.toMemory(joined, "append", "streaming_join_sink")
      .orderBy("user_id", "purchase_ts", "view_ts")
  }

  /** Landing dir for the LEFT OUTER join: the events file plus a
    * sentinel view/purchase pair 30 days past the data. Outer results
    * only emit when
    * the watermark proves a row can never match, and a bounded drain's
    * watermark stops `delay` short of max event time — purchases in
    * that tail would never get their null verdict and the result would
    * depend on watermark arithmetic at the boundary. The sentinel
    * pushes every watermark far past ALL real rows, so the drain emits
    * a final verdict for every purchase and the oracle is the plain
    * batch left range join — no cutoff arithmetic to replicate. */
  private def sentinelDir(spark: SparkSession, dir: String): String = {
    import java.nio.file.{Files, Paths}
    // key includes the fixture's content signature: a regenerated
    // events.parquet (later timestamps) gets a FRESH staging dir, so a
    // stale sentinel can never silently undercut the new max event time
    val key = FixtureStaging.key("lojoin", s"$dir/events.parquet")
    val d = Paths.get(s"/tmp/graft-stream-lo-$key")
    // completion marker, not bare exists(): a crash (or a racing
    // second JVM) between createDirectories and the sentinel copy
    // would otherwise leave a half-staged dir every later run accepts —
    // and a sentinel-less landing dir silently breaks outer emission
    val ready = d.resolve("_READY")
    if (Files.exists(d) && !Files.exists(ready)) {
      org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
    }
    if (!Files.exists(ready)) {
      Files.createDirectories(d)
      FixtureStaging.linkParquet(d, "events.parquet",
        s"$dir/events.parquet")
      val maxUs = StreamingFunnel.maxEventUs(spark, s"$dir/events.parquet")
      val thirtyDaysUs = 30L * 24 * 3600 * 1000000L
      val hourUs = 3600L * 1000000L
      val stagedTmp = s"$d/_sentinel_stage"
      // one sentinel VIEW and one sentinel PURCHASE (2h apart, so they
      // cannot match each other): the type filters are pushed BELOW the
      // watermark operator by Catalyst, so a row only advances a
      // branch's watermark if it passes that branch's filter — a
      // neutral 'sentinel' type would be dropped before the watermark
      // stats and the global (min-of-branches) watermark would stall.
      // The sentinel purchase itself never emits: the watermark never
      // passes its own event time (nothing arrives after it).
      StreamingFunnel.writeSentinelEvents(spark,
        Seq(
          (-1L, maxUs + thirtyDaysUs, -1L, "view", 0.0, "{}"),
          (-2L, maxUs + thirtyDaysUs + 2 * hourUs, -1L, "purchase", 0.0, "{}")),
        StreamingFunnel.tsIsLong(spark, s"$dir/events.parquet"), stagedTmp)
      val part = new java.io.File(stagedTmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, d.resolve("sentinel.parquet"))
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(stagedTmp))
      Files.createFile(ready)
    }
    d.toString
  }

  /** Stream-stream LEFT OUTER join (q152): every purchase gets a final
    * verdict — its attributed prior-hour views, or ONE null row if no
    * view preceded it. The watermark both bounds state (as in
    * [[viewsBeforePurchases]]) and gates outer emission: a purchase's
    * null verdict becomes final only when the watermark proves no
    * matching view can still arrive. Watermarks attach BEFORE the
    * type filters so the sentinel advances them. */
  def purchasesWithViewAttribution(spark: SparkSession, dir: String): DataFrame = {
    def src = StreamingFunnel
      .eventsStreamFrom(spark, sentinelDir(spark, dir), s"$dir/events.parquet")
      .withWatermark("ts", "2 hours")
    val views = src.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"))

    val joined = purchases.join(views,
      expr("""user_id = v_user
             |AND view_ts >= purchase_ts - INTERVAL 1 HOUR
             |AND view_ts <= purchase_ts""".stripMargin), "left_outer")
      .select(col("user_id"), col("purchase_ts"), col("view_ts"))

    // the sentinel pair never emits (the purchase's own verdict stays
    // pending forever); the filter is defense-in-depth
    Drain.toMemory(joined, "append", "streaming_lo_join_sink")
      .filter(col("user_id") =!= -1)
      .orderBy("user_id", "purchase_ts", "view_ts")
  }
}
