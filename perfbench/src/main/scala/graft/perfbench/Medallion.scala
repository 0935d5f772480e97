package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.operators.{Bronze, Gold, Scd2, Silver}

/** medallion_batch: `Pipeline.run` over the generated lifecycle CSV,
  * writing bronze, silver, scd2_dim_order, fact and mart layers. One
  * operation = one whole pipeline run. */
final class Medallion(work: String, conf: String => String) extends Workload {
  private val raw = s"$work/input/lifecycle.csv"
  private val warm = s"$work/input/lifecycle_warm.csv"
  private val out = s"$work/medallion_out"
  private val rawRows = conf("raw_rows").toDouble

  def setup(spark: SparkSession): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    Pipeline.run(spark, warm, s"$work/medallion_warm")
  }

  private def counts(r: Pipeline.Result): Seq[Long] =
    Seq(r.bronze.count(), r.silver.count(), r.dimOrderHistory.count(),
      r.fact.count(), r.funnel.count())

  /** Pipeline runs for at least `seconds` and at least three runs. Each
    * run truncate-writes the same layers, so run.py checks the last. */
  def measure(spark: SparkSession, seconds: Double): Measured = {
    val walls = mutable.ArrayBuffer.empty[Double]
    var last: Pipeline.Result = null
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds || walls.size < 3) {
      val s = System.nanoTime()
      last = Pipeline.run(spark, raw, out)
      walls += (System.nanoTime() - s) / 1e9
    }
    Measured(Map(
      "latency_p50_ms" -> Stats.median(walls.toSeq) * 1000,
      "latency_p75_ms" -> Stats.quantile(walls.toSeq, 0.75) * 1000,
      "throughput_per_s" -> rawRows / Stats.median(walls.toSeq)),
      walls.size.toLong, 0L,
      Map("layer_counts" -> counts(last), "runs" -> walls.size))
  }

  /** The chain decomposed into the public functions `Pipeline.run`
    * composes, one span per layer, between two untraced `Pipeline.run`s:
    * the first warms up and gives the layer row counts the traced layers
    * must match, the second gives the untraced time. */
  def trace(spark: SparkSession, rec: SpanRecorder): Measured = {
    val base = counts(Pipeline.run(spark, raw, out))

    val tout = s"$work/medallion_traced"
    val batchTs = new java.sql.Timestamp(System.currentTimeMillis())
    def register(name: String, path: String, cols: Seq[String]): DataFrame =
      rec.span("medallion.catalog") {
        spark.sql(s"DROP TABLE IF EXISTS $name")
        spark.sql(s"CREATE TABLE $name USING parquet LOCATION '$path'")
        spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR COLUMNS " +
          cols.mkString(", "))
        spark.table(name)
      }
    val g0 = Host.gcSeconds()
    val t0 = System.nanoTime()
    val bronze = rec.span("medallion.bronze") {
      Bronze.loadRaw(spark, Map("synthetic_order_lifecycle" -> raw),
        s"$tout/bronze_raw")
    }
    rec.span("medallion.silver") {
      Silver.cleanseLifecycle(
        bronze.filter(col("source_table") === "synthetic_order_lifecycle")
          .drop("source_table"), batchTs)
        .write.mode("overwrite").parquet(s"$tout/silver_lifecycle")
    }
    val silver = register("graft_silver_lifecycle", s"$tout/silver_lifecycle",
      Seq("order_id", "lifecycle_step"))
    rec.span("medallion.scd2") {
      val cfg = Scd2.Config("order_id", Seq("order_status", "payment_value"),
        "order_sk")
      def latestState(events: DataFrame) = Silver.dedupByKey(
          events, Seq("order_id"),
          Seq(col("lifecycle_step").desc, col("event_id")))
        .select(col("order_id"), col("event_type").as("order_status"),
          col("payment_value"))
      val dim0 = Scd2.initialLoad(latestState(
        silver.filter(col("lifecycle_step") <= 2)), cfg,
        to_timestamp(lit(batchTs)) - expr("INTERVAL 1 DAY"))
      Scd2.merge(dim0, latestState(silver), cfg, to_timestamp(lit(batchTs)))
        .write.mode("overwrite").parquet(s"$tout/scd2_dim_order")
    }
    val dim = register("graft_dim_order", s"$tout/scd2_dim_order",
      Seq("order_id", "order_status"))
    rec.span("medallion.gold") {
      Gold.lifecycleFact(silver).write.mode("overwrite")
        .parquet(s"$tout/fact_order_lifecycle")
    }
    val fact = register("graft_fact_order_lifecycle",
      s"$tout/fact_order_lifecycle", Seq("order_id", "event_type"))
    val funnel = rec.span("medallion.mart") {
      import spark.implicits._
      val stageDf = Pipeline.lifecycleStages.toDF("stage", "stage_rank")
      val counts = fact.groupBy("event_type").agg(count(lit(1)).as("n"))
      stageDf
        .join(broadcast(counts), stageDf("stage") === counts("event_type"), "left")
        .select(col("stage"), col("stage_rank"),
          coalesce(col("n"), lit(0L)).as("n_events"))
        .orderBy("stage_rank")
        .write.mode("overwrite").parquet(s"$tout/mart_funnel")
      spark.read.parquet(s"$tout/mart_funnel")
    }
    val traced = (System.nanoTime() - t0) / 1e9
    val gc = Host.gcSeconds() - g0
    val tracedCounts = Seq(bronze.count(), silver.count(), dim.count(),
      fact.count(), funnel.count())
    val u0 = System.nanoTime()
    Pipeline.run(spark, raw, out)
    val untraced = (System.nanoTime() - u0) / 1e9
    val names = Seq("bronze", "silver", "scd2", "gold", "catalog", "mart")
      .map("medallion." + _)
    rec.drain()
    Measured(rec.perName(names, traced) ++ rec.totals(traced, traced) ++ Map(
      "engine.gc_s" -> gc, "trace_overhead_frac" -> (traced / untraced - 1.0)),
      2L, if (tracedCounts == base) 0L else 1L,
      Map("layer_counts" -> base, "traced_layer_counts" -> tracedCounts))
  }
}
