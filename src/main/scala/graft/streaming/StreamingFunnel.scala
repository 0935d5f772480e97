package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Events
import graft.util.Portable._

/** Structured Streaming surface (SURVEY §2.10): the reference claims
  * near-real-time event processing but implements batch over an event
  * table (README.md:17, 27); here the funnel runs as a real stream.
  *
  * `readStream` over the events parquet with `Trigger.AvailableNow`
  * drains all existing files exactly once and stops — the streaming
  * equivalent of a batch replay, so the result must equal the batch
  * funnel, which is exactly what the oracle checks. In production the
  * same query pointed at a Kafka source with `Trigger.ProcessingTime`
  * plus checkpointing gives incremental exactly-once counts; the
  * watermark bounds state for late events (the reference has no
  * late-data story — SURVEY §2.10 divergence note).
  */
object StreamingFunnel {

  /** The events fixture has shipped with BOTH physical ts encodings
    * across driver generations: ns-annotated INT64 (which Spark reads as
    * a plain LONG under `nanosAsLong`) and µs-annotated INT64 (read as a
    * TIMESTAMP). A file-stream source needs its schema up front, so the
    * streaming layer probes the fixture's batch schema once (footer-only,
    * driver-side) and adapts — the streaming twin of the defensive read
    * `Tables.events` does for batch. */
  def tsIsLong(spark: SparkSession, eventsParquet: String): Boolean =
    spark.read.parquet(eventsParquet).schema("ts").dataType == LongType

  /** Raw parquet schema of the events table for the probed ts form. */
  def rawSchema(tsLong: Boolean): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", if (tsLong) LongType else TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** `readStream` over a staged landing dir whose files share `probe`'s
    * physical ts form; `ts` arrives normalized to a µs TIMESTAMP either
    * way (ns-longs truncate to µs — the same truncation DuckDB applies). */
  def eventsStreamFrom(spark: SparkSession, landing: String,
      probe: String): DataFrame = {
    val long = tsIsLong(spark, probe)
    val raw = spark.readStream.schema(rawSchema(long)).parquet(landing)
    if (long) raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else raw
  }

  /** Fixture max event time in epoch µs (driver scalar, metadata-sized —
    * sentinel staging needs it to place rows past ALL real data). */
  def maxEventUs(spark: SparkSession, eventsParquet: String): Long = {
    val agg =
      if (tsIsLong(spark, eventsParquet)) "max(ts) DIV 1000"
      else "max(unix_micros(ts))"
    spark.read.parquet(eventsParquet).selectExpr(s"$agg AS m").head().getLong(0)
  }

  /** Write sentinel event rows (`ts` given in epoch µs) as one parquet
    * dir in the fixture's physical ts form, so a single streaming schema
    * reads fixture and sentinel files alike. */
  def writeSentinelEvents(spark: SparkSession,
      rows: Seq[(Long, Long, Long, String, Double, String)],
      tsLong: Boolean, outDir: String): Unit = {
    import spark.implicits._
    val base = rows.toDF("event_id", "ts_us", "user_id", "event_type",
      "value", "props")
    val withTs =
      if (tsLong) base.withColumn("ts", col("ts_us") * 1000L)
      else base.withColumn("ts", timestamp_micros(col("ts_us")))
    withTs.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(outDir)
  }

  /** Spark's file-stream source wants a directory to watch; stage a
    * per-fixture symlink landing (what a production deployment's
    * landing folder is). Handles single-file AND directory fixtures
    * and is content-sig-keyed — see [[FixtureStaging.linkLanding]]. */
  private def stageDir(dir: String): String =
    FixtureStaging.linkLanding("events-stream", "/tmp/graft-stream",
      "events.parquet" -> s"$dir/events.parquet")

  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    eventsStreamFrom(spark, stageDir(dir), s"$dir/events.parquet")

  /** Streaming funnel: watermarked stage counts in update mode, drained
    * with AvailableNow into a memory sink, zero-filled against the fixed
    * stage domain. Returns the final batch-equivalent counts. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))

    val stageDf = Events.stages.toDF("stage", "stage_rank")
    // update-mode memory sink may hold several versions per key: keep max
    val latest = Drain.toMemory(counts, "update", "streaming_funnel_sink")
      .groupBy("event_type").agg(max(col("n")).as("n"))
    // Broadcast the buildable (right) side of the left outer join; a hint
    // on the preserved side is silently dropped with a WARN.
    stageDf
      .join(broadcast(latest), stageDf("stage") === latest("event_type"), "left")
      .select(col("stage"), col("stage_rank"),
        coalesce(col("n"), lit(0L)).as("n_events"))
      .orderBy("stage_rank")
  }

  /** Watermarked tumbling-window aggregation — the canonical Structured
    * Streaming operator (event-time windows + watermark-bounded state).
    * 6-hour tumbling windows over event time, counting events and
    * summing the portable money value per window.
    *
    * Spark aligns tumbling windows to the unix epoch; the oracle mirrors
    * that with integer floor-division of epoch microseconds, so the
    * window boundaries are bit-identical. Complete mode + AvailableNow
    * drains the bounded input; in production the same query in update
    * mode emits per-trigger deltas and the 1-hour watermark lets state
    * for closed windows be dropped — window state scales with the number
    * of OPEN windows per key-space, not with history. */
  def windowedCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(count(lit(1)).as("n_events"),
        sumMoney2(col("value")).as("window_value"))

    Drain.toMemory(agg, "complete", "streaming_windowed_counts_sink")
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_events"), col("window_value"))
      .orderBy("window_start")
  }

  /** SLIDING event-time windows (6 h window, 3 h slide) — the third
    * canonical window shape next to tumbling ([[windowedCounts]]) and
    * session (q106): every event lands in exactly two overlapping
    * windows, the moving-average view a monitoring dashboard reads.
    * State per key is bounded by (window/slide) concurrent windows ×
    * watermark horizon, so the shape deploys unchanged at any rate;
    * the oracle replays the two-window assignment as a UNION ALL of
    * shifted 3 h floors. */
  def slidingWindowCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours", "3 hours"))
      .agg(count(lit(1)).as("n_events"),
        sumMoney2(col("value")).as("window_value"))

    Drain.toMemory(agg, "complete", "streaming_sliding_counts_sink")
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_events"), col("window_value"))
      .orderBy("window_start")
  }

  /** Stream-static join: the event stream enriched against a static
    * dimension (the funnel stage domain) BEFORE aggregating — the
    * pattern every production pipeline uses to attach dimension
    * attributes at ingest (SURVEY §2.10). The static side is broadcast
    * to every micro-batch task; no stream-side shuffle is added by the
    * join, only by the aggregation that follows. Inner join doubles as
    * the stage filter (non-funnel event types drop out). */
  def enrichedStageCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stageDf = Events.stages.toDF("stage", "stage_rank")
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .join(broadcast(stageDf), col("event_type") === col("stage"))
      .groupBy(col("stage"), col("stage_rank"))
      .agg(count(lit(1)).as("n_events"),
        sumMoney2(col("value")).as("stage_value"))

    Drain.toMemory(agg, "complete", "streaming_enriched_sink")
      .orderBy("stage_rank")
  }

  /** Streaming SESSION windows in append mode (SURVEY §2.10 — the
    * stateful-window shape q77 runs in batch): per-user 30-minute-gap
    * sessions, emitted exactly once each when the event-time watermark
    * passes their end (sessions MERGE as events arrive, so only
    * watermark-final emission is correct — update-mode sinks would
    * retain stale pre-merge fragments).
    *
    * Append mode only emits a session once the watermark clears it, so
    * a bounded replay would otherwise never flush the trailing session
    * of every user. The staging dir therefore adds one SENTINEL event
    * (user −1) far past the real data; its event time drags the
    * watermark over every real session's end, the real sessions all
    * emit, and the sentinel's own (never-closed) session is filtered
    * out. In production there is no sentinel — the stream simply keeps
    * running and time itself closes sessions; the sentinel is the
    * bounded-replay stand-in for "time passes". */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    // content-signature key + completion marker: a regenerated fixture
    // re-stages (a stale sentinel would undercut the new max event time
    // and the trailing sessions would never flush), and a half-staged
    // dir from a crash is rebuilt instead of silently accepted
    val key = FixtureStaging.key("sess", s"$dir/events.parquet")
    val d = Paths.get(s"/tmp/graft-stream-sess-$key")
    val ready = d.resolve("_READY")
    if (Files.exists(d) && !Files.exists(ready))
      org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
    if (!Files.exists(ready)) {
      Files.createDirectories(d)
      FixtureStaging.linkParquet(d, "events.parquet",
        s"$dir/events.parquet")
      // sentinel: one far-future row, in the fixture's physical ts form
      val maxUs = maxEventUs(spark, s"$dir/events.parquet")
      val tmp = Files.createTempDirectory("graft-sentinel").toString
      writeSentinelEvents(spark,
        Seq((-1L, maxUs + 10L * 86400 * 1000000L, -1L, "view", 0.0,
          null.asInstanceOf[String])),
        tsIsLong(spark, s"$dir/events.parquet"), tmp)
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, d.resolve("zz-sentinel.parquet"))
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(tmp))
      Files.createFile(ready)
    }
    val raw = eventsStreamFrom(spark, d.toString, s"$dir/events.parquet")

    val agg = raw
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        sumMoney2(col("value")).as("session_value"))

    Drain.toMemory(agg, "append", "streaming_session_sink")
      .filter(col("user_id") >= 0)
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("session_value"))
      .orderBy("user_id", "session_start")
  }

  /** Streaming last-event-per-user (the reference's "current order
    * status" mart, app.py:102–106, in update mode): flatMapGroupsWithState
    * would carry richer state; max_by aggregation is sufficient here and
    * keeps state bounded per key. */
  def lastEventPerUser(spark: SparkSession, dir: String): DataFrame = {
    val latest = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_ts"),
        max_by(col("event_type"), struct(col("ts"), col("event_id")))
          .as("last_event"))

    Drain.toMemory(latest, "complete", "streaming_last_event_sink")
      .orderBy("user_id")
  }
}
