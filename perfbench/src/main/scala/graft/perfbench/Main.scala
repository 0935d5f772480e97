package graft.perfbench

import java.io.{File, FileInputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one measurement produced: end-to-end metrics plus the count of
  * operations attempted and of those that failed an in-run check. */
final case class Measured(metrics: Map[String, Double], attempted: Long,
    failed: Long, notes: Map[String, Any] = Map.empty)

/** A benchmark workload. `setup` is timed (and repeated); `measure`
  * runs untraced for a fixed time; `trace` runs once with spans on. */
trait Workload {
  def setup(spark: SparkSession): Unit
  def teardown(spark: SparkSession): Unit = ()
  def measure(spark: SparkSession, seconds: Double): Measured
  def trace(spark: SparkSession, rec: SpanRecorder): Measured
}

/** Harness entry point: `Main <work-dir>`. Reads `bench.properties`
  * from the work directory (written by run.py), runs the workload and
  * writes `result.json` next to it. */
object Main {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val props = new Properties()
    val in = new FileInputStream(s"$work/bench.properties")
    try props.load(in) finally in.close()
    val conf = (k: String) => Option(props.getProperty(k))
      .getOrElse(sys.error(s"missing property $k"))
    val workload = conf("workload")
    val seconds = conf("seconds").toDouble
    val traced = conf("trace") == "1"
    val setups = conf("setups").toInt
    val driftBound = conf("drift_bound").toDouble
    val maxAttempts = conf("max_attempts").toInt

    val w: Workload = workload match {
      case "medallion_batch" => new Medallion(work, conf)
      case "dashboard_mix" => new Dashboard(work, conf)
      case "event_stream" => new EventStream(work, conf)
      case "corpus_curation" => new Corpus(work, conf)
      case other => sys.error(s"unknown workload $other")
    }

    // Set-up, repeated: session start plus the workload's own set-up.
    // Every repetition but the last tears its session down again.
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to setups) {
      val t0 = System.nanoTime()
      spark = session(work)
      w.setup(spark)
      setupTimes += (System.nanoTime() - t0) / 1e9
      if (i < setups) { w.teardown(spark); spark.stop() }
    }

    val out = mutable.LinkedHashMap.empty[String, Any]
    out("setup_s_samples") = setupTimes.toSeq
    val measureStart = System.nanoTime()
    Host.calibrate() // JIT the calibration loop before timing it

    if (!traced) {
      // Untraced measurement, guarded against host noise: a fixed-work
      // calibration before and after; an attempt whose calibration
      // drifts past the bound is discarded and re-run, never averaged.
      val attempts = mutable.ArrayBuffer.empty[Map[String, Any]]
      var kept: Measured = null
      var n = 0
      while (kept == null && n < maxAttempts) {
        n += 1
        val steal0 = Host.stealSeconds()
        val c0 = Host.calibrate()
        val m = w.measure(spark, seconds)
        val c1 = Host.calibrate()
        val drift = math.abs(c1 - c0) / math.min(c0, c1)
        val flagged = drift > driftBound
        attempts += Map("calibration_ms" -> Seq(c0, c1), "drift" -> drift,
          "steal_s" -> (Host.stealSeconds() - steal0), "flagged" -> flagged)
        if (!flagged || n == maxAttempts) kept = m
      }
      out("attempts") = attempts.toSeq
      out("metrics") = kept.metrics ++ Map(
        "setup_s" -> Stats.median(setupTimes.toSeq))
      out("attempted") = kept.attempted
      out("failed") = kept.failed
      out("notes") = kept.notes
    } else {
      val rec = new SpanRecorder(spark, s"$workload-${conf("seed")}")
      val m = w.trace(spark, rec)
      rec.finish()
      out("spans") = rec.toJson
      out("metrics") = m.metrics ++ Map("jvm.peak_rss_mb" -> Host.peakRssMb())
      out("attempted") = m.attempted
      out("failed") = m.failed
      out("notes") = m.notes
    }
    out("measure_s") = (System.nanoTime() - measureStart) / 1e9
    w.teardown(spark)
    spark.stop()
    Files.write(Paths.get(s"$work/result.json"),
      Json.encode(out).getBytes(StandardCharsets.UTF_8))
  }

  /** The session exactly as graft.Bench builds it (shared graft
    * defaults, GraftExtensions, shuffle partitions = parallelism, 2 MB
    * file splits), at local[nproc], with all scratch under `work`. */
  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    graft.util.Sessions.withGraftDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString))
      .config("spark.sql.warehouse.dir", new File(s"$work/warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(s"$work/spark-local").getAbsolutePath)
      .config("spark.sql.files.maxPartitionBytes", (2 * 1024 * 1024).toString)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
  }
}
