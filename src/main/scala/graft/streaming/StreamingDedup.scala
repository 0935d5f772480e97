package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming deduplication — the ingestion-side twin of the batch exact
  * dedup (q12): at-least-once transports (Kafka redelivery, file-source
  * replays) hand the engine duplicate events, and the stream must emit
  * each logical event exactly once.
  *
  * `dropDuplicatesWithinWatermark` keys state by `event_id` and drops
  * state for keys older than the watermark — state is bounded by the
  * duplicate-arrival horizon (how far apart duplicates can land), NOT by
  * stream history, which is what makes it deployable at 100 TB/day: an
  * unbounded `dropDuplicates` would accrete every id ever seen.
  *
  * The verify scenario makes the duplication REAL: the staged source
  * directory contains the events file twice (two symlinks), so the
  * file stream delivers every event exactly twice; the deduped per-type
  * counts must equal the batch distinct counts — which is the oracle.
  */
object StreamingDedup {

  /** Stage a landing dir with the events file TWICE (simulated
    * at-least-once redelivery of the whole topic). */
  private def dupDir(dir: String): String =
    FixtureStaging.linkLanding("dup", "/tmp/graft-stream-dup",
      "events_a.parquet" -> s"$dir/events.parquet",
      "events_b.parquet" -> s"$dir/events.parquet")

  /** Per-type counts after exactly-once dedup of a doubled stream. */
  def dedupedCounts(spark: SparkSession, dir: String): DataFrame = {
    val deduped = StreamingFunnel
      .eventsStreamFrom(spark, dupDir(dir), s"$dir/events.parquet")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"))

    // update-mode sink holds one row per trigger per key: keep the max
    Drain.toMemory(deduped, "update", "streaming_dedup_sink")
      .groupBy("event_type").agg(max(col("n_events")).as("n_events"))
      .orderBy("event_type")
  }

  /** Content-level dedup on DOCUMENT ingest — the training-corpus twin
    * of [[dedupedCounts]]: an at-least-once transport redelivers whole
    * document batches, and the corpus must count each distinct CONTENT
    * once. The dedup key is the content fingerprint (md5 of normalized
    * text, the q30 operator) computed scan-local on the stream, not the
    * transport's doc_id — the key a real ingest dedups on, since
    * redelivered and re-crawled copies carry fresh ids. State is
    * bounded by the watermark horizon exactly as in [[dedupedCounts]];
    * event time derives deterministically from doc_id so the replay is
    * reproducible. Emits per-source corpus stats (docs, tokens) after
    * dedup; the oracle is the batch distinct-content aggregation. */
  private def dupDocDir(dir: String): String = {
    import java.nio.file.{Files, Paths}
    // content-signature key: regenerating the fixture re-stages (the
    // symlinked content tracks automatically, but a fresh dir also ends
    // the cross-JVM window where one JVM deletes a half-staged dir the
    // other is mid-building)
    val key = FixtureStaging.key("dupdoc", s"$dir/documents.parquet")
    val d = Paths.get(s"/tmp/graft-stream-dupdoc-$key")
    // completion marker: a crash between the two symlinks would leave a
    // half-staged dir (single delivery) that bare exists() accepts —
    // the doubled-delivery premise of the test would silently vanish
    val ready = d.resolve("_READY")
    if (Files.exists(d) && !Files.exists(ready))
      org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
    if (!Files.exists(ready)) {
      Files.createDirectories(d)
      FixtureStaging.linkParquet(d, "documents_a.parquet",
        s"$dir/documents.parquet")
      FixtureStaging.linkParquet(d, "documents_b.parquet",
        s"$dir/documents.parquet")
      Files.createFile(ready)
    }
    d.toString
  }

  private val docSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")

  /** Per-source corpus stats after exactly-once content dedup of a
    * doubled document stream. */
  def dedupedDocStats(spark: SparkSession, dir: String): DataFrame = {
    val deduped = spark.readStream
      .schema(docSchema)
      .parquet(dupDocDir(dir))
      .withColumn("fp", graft.operators.TextOps.contentFp(col("text")))
      // tokens counted over the NORMALIZED text: the dedup key is the
      // normalized content, so the emitted stats must be a function of
      // that key — counting the surviving copy's RAW tokens would make
      // n_tokens depend on which whitespace/case variant arrived first
      .withColumn("norm_tokens", size(split(
        regexp_replace(lower(col("text")), "\\s+", " "), " ")))
      // +1 day: the initial watermark is epoch 0, and a row whose event
      // time EQUALS the watermark is dropped as late — doc_id 0 at
      // epoch 0 would silently vanish (observed: 24-of-25 in src0)
      .withColumn("ts",
        timestamp_micros((col("doc_id") + 86400L) * 1000000L))
      .withWatermark("ts", "1 hour")
      // key = (source, fp): PER-FEED content dedup. A global fp key
      // would be nondeterministic on this corpus — its few exact dups
      // span two sources, and which source "wins" depends on arrival
      // order within the micro-batch; per-feed is also the deployment
      // contract (each feed owner sees their own feed deduped)
      .dropDuplicatesWithinWatermark("source", "fp")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("norm_tokens").cast("long")).as("n_tokens"))

    // counts are monotone across triggers: the max is the final state
    Drain.toMemory(deduped, "update", "streaming_doc_dedup_sink")
      .groupBy("source")
      .agg(max(col("n_docs")).as("n_docs"),
        max(col("n_tokens")).as("n_tokens"))
      .orderBy("source")
  }
}
