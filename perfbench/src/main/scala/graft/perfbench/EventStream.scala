package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.streaming.StreamingScd2
import graft.streaming.StreamingScd2.CdcRow

/** One completed micro-batch as the query reported it. */
final case class Batch(id: Long, startMs: Long, durMs: Map[String, Long],
    rows: Long, stateRows: Long, stateBytes: Long, stateCommitMs: Long) {
  def commitMs: Long = startMs + durMs.getOrElse("triggerExecution", 0L)
}

/** What one latency-then-drain pass observed. */
final case class Pass(latMs: Seq[Double], drainRowsPerS: Double,
    drainSeconds: Double, batches: Seq[Batch], backlogMax: Double,
    lateMaxMs: Double)

/** event_stream: an open loop of order-lifecycle CDC files. A generator
  * lands one file at each due time (fixed offered rate) into a
  * directory that a checkpointed ProcessingTime query reads, running
  * `StreamingScd2.versions` into a parquet sink; then a pre-built
  * backlog lands at once and drains under a per-trigger file cap (the
  * file source's maxFilesPerTrigger, Kafka's maxOffsetsPerTrigger). One
  * operation = one landed file. */
final class EventStream(work: String, conf: String => String) extends Workload {
  private val staging = s"$work/input/stream"
  private val triggerMs = conf("trigger_ms").toLong
  private val cap = conf("max_files_per_trigger")
  private val ratePerS = conf("rate_files_per_s").toDouble
  private val rowsPerFile = conf("rows_per_file").toLong
  private def files(sub: String): Seq[File] =
    Option(new File(s"$staging/$sub").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
  private val latencyFiles = files("latency")
  private val backlogFiles = files("backlog")
  private var attempt = 0

  private final class Progress extends StreamingQueryListener {
    val batches = java.util.Collections.synchronizedList(new java.util.ArrayList[Batch]())
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators.headOption
      batches.add(Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, st.map(_.numRowsTotal).getOrElse(0L),
        st.map(_.memoryUsedBytes).getOrElse(0L),
        st.map(_.commitTimeMs).getOrElse(0L)))
    }
  }

  private def start(spark: SparkSession, base: String): StreamingQuery = {
    import spark.implicits._
    val evs = spark.readStream.schema(Encoders.product[CdcRow].schema)
      .option("maxFilesPerTrigger", cap)
      .parquet(s"$base/landing").as[CdcRow]
    StreamingScd2.versions(evs).writeStream
      .outputMode("append").format("parquet")
      .option("path", s"$base/sink")
      .option("checkpointLocation", s"$base/checkpoint")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .start()
  }

  private var lastMtime = 0L

  /** Lands a staged file atomically: copy under a hidden name (the file
    * source skips those), then rename into place. The file source takes
    * files in modification-time order and breaks ties in listing order,
    * while a CDC log is ordered; every landed file therefore gets a
    * modification time strictly after the previous one's, as files
    * appended one after another to a log directory have. */
  private def land(f: File, base: String): Unit = {
    val tmp = Paths.get(s"$base/landing/.${f.getName}.tmp")
    Files.copy(f.toPath, tmp)
    lastMtime = math.max(System.currentTimeMillis(), lastMtime + 1)
    Files.setLastModifiedTime(tmp, FileTime.fromMillis(lastMtime))
    Files.move(tmp, Paths.get(s"$base/landing/${f.getName}"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  def setup(spark: SparkSession): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    attempt += 1
    val base = s"$work/stream/warm-$attempt"
    Files.createDirectories(Paths.get(s"$base/landing"))
    files("warm").foreach(land(_, base))
    val q = start(spark, base)
    q.processAllAvailable()
    q.stop()
  }

  private def pass(spark: SparkSession, latency: Seq[File]): Pass = {
    attempt += 1
    val base = s"$work/stream/attempt-$attempt"
    Files.createDirectories(Paths.get(s"$base/landing"))
    val progress = new Progress
    spark.streams.addListener(progress)
    val q = start(spark, base)
    try {
      q.processAllAvailable() // the query is up and has run a trigger
      val landed = mutable.LinkedHashMap.empty[String, (Long, Long)] // due, landed
      val t0 = System.currentTimeMillis() + triggerMs
      latency.zipWithIndex.foreach { case (f, i) =>
        val due = t0 + (i * 1000.0 / ratePerS).toLong
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        land(f, base)
        landed(f.getName) = (due, System.currentTimeMillis())
      }
      q.processAllAvailable()
      val drainStart = System.currentTimeMillis()
      backlogFiles.foreach { f =>
        land(f, base)
        landed(f.getName) = (drainStart, System.currentTimeMillis())
      }
      q.processAllAvailable()
      q.stop()
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val batches = progress.batches.asScala.toSeq.sortBy(_.id)
      val commit = batches.map(b => b.id -> b.commitMs).toMap
      val batchOf = fileBatches(s"$base/checkpoint")
      val lat = latency.map(f => (commit(batchOf(f.getName)) - landed(f.getName)._1).toDouble)
      val drainEnd = backlogFiles.map(f => commit(batchOf(f.getName))).max
      val drainSeconds = (drainEnd - drainStart) / 1000.0
      // files landed but not yet taken by an earlier batch, at each start
      val backlog = batches.map { b =>
        landed.count { case (n, (_, at)) => at <= b.startMs && batchOf(n) >= b.id }
      }
      // finalize the emission log; run.py compares it with the landed rows
      val out = s"$work/stream_out"
      StreamingScd2.finalizeHistory(spark.read.parquet(s"$base/sink"),
        graft.operators.Scd2.FarFuture)
        .write.mode("overwrite").parquet(s"$out/history")
      Files.write(Paths.get(s"$out/landed.txt"),
        (latency ++ backlogFiles).map(_.getAbsolutePath).asJava)
      Pass(lat, backlogFiles.size * rowsPerFile / drainSeconds, drainSeconds,
        batches, if (backlog.isEmpty) 0.0 else backlog.max.toDouble,
        latency.map { f => val (due, at) = landed(f.getName); (at - due).toDouble }.max)
    } finally {
      if (q.isActive) q.stop()
      spark.streams.removeListener(progress)
    }
  }

  /** File name → micro-batch id, from the file source's metadata log. */
  private def fileBatches(checkpoint: String): Map[String, Long] = {
    val Entry = """.*"path":"([^"]+)".*"batchId":(\d+).*""".r
    new File(s"$checkpoint/sources/0").listFiles().toSeq
      .filterNot(_.getName.startsWith("."))
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
      .collect { case Entry(p, b) => p.substring(p.lastIndexOf('/') + 1) -> b.toLong }
      .toMap
  }

  def measure(spark: SparkSession, seconds: Double): Measured = {
    val p = pass(spark, latencyFiles)
    Measured(Map(
      "latency_p50_ms" -> Stats.median(p.latMs),
      "latency_p75_ms" -> Stats.quantile(p.latMs, 0.75),
      "throughput_per_s" -> p.drainRowsPerS),
      (latencyFiles.size + backlogFiles.size).toLong, 0L,
      Map("drain_s" -> p.drainSeconds, "batches" -> p.batches.size))
  }

  /** A pass inside a `stream.run` span (the query's execution thread
    * inherits the span), then the same pass untraced, with where each
    * micro-batch's time went and the state counters, from the streaming
    * listener. Durations are shares of the batches' total time. */
  def trace(spark: SparkSession, rec: SpanRecorder): Measured = {
    val short = latencyFiles.take(conf("trace_latency_files").toInt)
    val g0 = Host.gcSeconds()
    val t0 = System.nanoTime()
    val p = rec.span("stream.run")(pass(spark, short))
    val traced = (System.nanoTime() - t0) / 1e9
    val gc = Host.gcSeconds() - g0
    val u = pass(spark, short)
    rec.drain()
    val data = p.batches.filter(_.rows > 0)
    def d(b: Batch, k: String) = b.durMs.getOrElse(k, 0L).toDouble
    val total = data.map(d(_, "triggerExecution")).sum
    def share(f: Batch => Double) = data.map(f).sum / total
    Measured(rec.totals(traced, traced) ++ Map(
      "stream.latest_offset_share" -> share(d(_, "latestOffset")),
      "stream.planning_share" -> share(d(_, "queryPlanning")),
      "stream.add_batch_share" -> share(d(_, "addBatch")),
      "stream.commit_share" -> share(b => d(b, "walCommit") + d(b, "commitOffsets")),
      "stream.state_commit_share" -> share(_.stateCommitMs.toDouble),
      "stream.state_rows" -> data.last.stateRows.toDouble,
      "stream.state_mb" -> data.last.stateBytes / 1048576.0,
      "stream.rows_per_batch.p50" -> Stats.median(data.map(_.rows.toDouble)),
      "stream.batches" -> data.size.toDouble,
      "stream.backlog_files.max" -> p.backlogMax,
      "stream.generator_late_share" -> p.lateMaxMs * ratePerS / 1000.0,
      "engine.gc_s" -> gc,
      "trace_overhead_frac" -> (p.drainSeconds / u.drainSeconds - 1.0)),
      (short.size + backlogFiles.size).toLong, 0L)
  }
}
