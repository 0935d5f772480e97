package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{DeltaLog, Tables}

/** q310 — dead-letter-queue routing (the exactly-once SIDE OUTPUT):
  * every production ingest splits each micro-batch into rows that
  * parse and rows that don't, lands the good rows in the main table
  * and QUARANTINES the bad ones — with a reason — instead of dropping
  * them (silent drops are how corpora lose mass unaccounted; the
  * reference's pipeline reads pre-cleaned CSVs and has no bad-row
  * story at all).
  *
  * Mechanics: a staged landing dir of raw CSV-ish lines (every 13th
  * event's value field corrupted); per micro-batch, `try_cast`
  * classifies, and BOTH sinks commit through [[DeltaLog]] under the
  * SAME epoch id — `_READY`-marked, so a crash between the two
  * commits replays idempotently and each row lands exactly once on
  * exactly one side. That two-sink atomicity-via-idempotence is the
  * point of the operator.
  *
  * Gate: the drained mart (per event_type: rows and exact cents per
  * sink) must equal a batch classification of the same corpus by the
  * same rule — routing is invisible to totals; nothing is lost or
  * double-counted.
  *
  * Scale: classification is a map-only expression; each epoch commits
  * only its batch's rows (delta-sized); the mart reads the resolved
  * state tables at event_type grain. */
object StreamingDlq {

  private def stagedLanding(spark: SparkSession, dir: String): String =
    FixtureStaging.stageOnce("dlqstream", s"$dir/events.parquet",
      "/tmp/graft-dlqstream") { d =>
      import java.nio.file.Files
      // the value field travels as exact integer CENTS (the Portable
      // money discipline survives the text round-trip losslessly);
      // every 13th event's field is an unparseable marker
      val lines = Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          when(col("event_id") % 13 === 0, lit("corrupt!"))
            .otherwise(graft.util.Portable.cents2(col("value"))
              .cast("string"))
            .as("value_raw"))
        .select(concat_ws("|", col("event_id"), col("user_id"),
          col("event_type"), col("value_raw")).as("line"))
      def land(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = Files.createTempDirectory("graft-dlqstream").toString
        df.coalesce(1).write.mode("overwrite").text(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".txt")).head
        Files.copy(part.toPath, d.resolve(name))
        d.resolve(name).toFile.setLastModified(mtime)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
      val t0 = System.currentTimeMillis() - 60000
      land(lines.filter(expr("abs(hash(line)) % 2 = 0")),
        "0000_a.txt", t0)
      land(lines.filter(expr("abs(hash(line)) % 2 = 1")),
        "0001_b.txt", t0 + 30000)
    }

  private val replay = new Drain.Replay("dlqstream", "events.parquet")

  def runRoot(dir: String): String = replay.root(dir)

  def applyBatch(spark: SparkSession, root: String, batch: DataFrame,
      batchId: Long): Unit = {
    val parsed = batch
      .select(split(col("value"), "\\|").as("f"))
      .select(col("f").getItem(0).cast("long").as("event_id"),
        col("f").getItem(1).cast("long").as("user_id"),
        col("f").getItem(2).as("event_type"),
        col("f").getItem(3).as("value_raw"))
      .withColumn("cents", expr("try_cast(value_raw as bigint)"))
      .localCheckpoint() // both sinks derive from one classification
    val good = parsed.filter(col("cents").isNotNull)
      .select("event_id", "user_id", "event_type", "cents")
    val bad = parsed.filter(col("cents").isNull)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value_raw"), lit("unparseable value").as("reason"))
    // same epoch id on both tables: a crash between the commits
    // replays the batch and the _READY guard skips the finished side
    DeltaLog.commit(spark, s"$root/state/main", batchId, good, None,
      Seq("event_id"))
    DeltaLog.commit(spark, s"$root/state/dlq", batchId, bad, None,
      Seq("event_id"))
  }

  def drainedStateRoot(spark: SparkSession, dir: String): String =
    replay.once(spark, dir, stagedLanding(spark, dir),
      StructType(Seq(StructField("value", StringType))), "text")(
      applyBatch(spark, _, _, _))

  /** The drained routing mart: per (sink, event_type) — row count and
    * exact cents (null for the quarantine side: its values never
    * parsed; that asymmetry is the contract). */
  def routedCounts(spark: SparkSession, dir: String): DataFrame = {
    val root = drainedStateRoot(spark, dir)
    val main = DeltaLog.read(spark, s"$root/state/main",
      Seq("event_id")).get
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      .select(lit("main").as("sink"), col("event_type"), col("n"),
        col("cents"))
    val dlq = DeltaLog.read(spark, s"$root/state/dlq",
      Seq("event_id")).get
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .select(lit("dlq").as("sink"), col("event_type"), col("n"),
        lit(null).cast("long").as("cents"))
    main.unionByName(dlq).orderBy("sink", "event_type")
  }
}
