package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bronze, Gold, Scd2, Silver}

/** One-command medallion pipeline — the reference's three-notebook
  * chain (ecom_Bronze_Layer.ipynb → ecom_Silver_Layer.ipynb →
  * Scd_Type2.sql → ecom_Gold_Layer.ipynb) as a single Spark lineage
  * over the event-stream source that survives in the reference checkout:
  *
  *   raw CSV ─→ bronze tagged union ─→ silver cleanse (golden-parity)
  *     ─→ SCD2 order-dimension history (two CDC batches derived from
  *        the lifecycle steps) ─→ gold lifecycle fact ─→ funnel mart
  *        (ecom_Gold_Layer.ipynb:168–170's probe shape)
  *
  * Every stage truncate-writes parquet under `outDir` (the reference's
  * WRITE_TRUNCATE layer tables), so each layer is independently
  * queryable afterwards. Scale: bronze/silver/gold are scan-shaped
  * (the union is plan-level, the cleanse map-only after one dedup
  * shuffle); the SCD2 step is one key-shuffled window over both batches
  * with two-phase SK assignment — no stage funnels through one task.
  *
  * Run: `sbt "runMain graft.Pipeline [rawCsv [outDir]]"`.
  */
object Pipeline {

  /** The reference's 4 lifecycle stages in funnel order (app.py:239). */
  val lifecycleStages: Seq[(String, Int)] = Seq(
    "order_created" -> 1, "order_paid" -> 2,
    "order_shipped" -> 3, "order_delivered" -> 4)

  case class Result(bronze: DataFrame, silver: DataFrame,
      dimOrderHistory: DataFrame, fact: DataFrame, funnel: DataFrame)

  /** Register a written layer as an external catalog table and ANALYZE
    * it (table + join-column stats) — CBO's input. Downstream stages
    * read the layer via the catalog, so their joins plan from real
    * statistics (post-filter cardinalities → broadcast decisions)
    * instead of raw file sizes. At 100 TB that is the difference
    * between a dimension join shuffling and broadcasting; CboStatsSpec
    * proves the mechanism, PipelineCboSpec that the pipeline wires it. */
  private def registerAnalyzed(spark: SparkSession, name: String,
      path: String, statCols: Seq[String]): DataFrame = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING parquet LOCATION '$path'")
    spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS" +
      (if (statCols.nonEmpty) statCols.mkString(" FOR COLUMNS ", ", ", "")
       else ""))
    spark.table(name)
  }

  /** Full chain; returns every layer (all backed by the parquet just
    * written, so downstream reads don't recompute the lineage). */
  def run(spark: SparkSession, rawCsv: String, outDir: String,
      batchTs: java.sql.Timestamp =
        new java.sql.Timestamp(System.currentTimeMillis())): Result = {

    // ── Bronze: tagged CSV union, truncate-loaded ──────────────────
    val bronze = Bronze.loadRaw(spark,
      Map("synthetic_order_lifecycle" -> rawCsv), s"$outDir/bronze_raw")

    // ── Silver: the golden-parity cleanse (GoldenFixtureSpec) ──────
    val silver0 = Silver.cleanseLifecycle(
      bronze.filter(col("source_table") === "synthetic_order_lifecycle")
        .drop("source_table"), batchTs)
    silver0.write.mode("overwrite").parquet(s"$outDir/silver_lifecycle")
    val silver = registerAnalyzed(spark, "graft_silver_lifecycle",
      s"$outDir/silver_lifecycle", Seq("order_id", "lifecycle_step"))

    // ── SCD2: order dimension from the event stream as a two-batch
    // CDC log — early lifecycle (created/paid) stamped a day before the
    // batch, late lifecycle (shipped/delivered) at the batch, so orders
    // that progressed carry a closed + a current version, exactly
    // Scd_Type2.sql's close-and-insert shape ──────────────────────
    val cfg = Scd2.Config("order_id", Seq("order_status", "payment_value"),
      "order_sk")
    def latestState(events: DataFrame, ts: Column) = Silver.dedupByKey(
        events, Seq("order_id"),
        Seq(col("lifecycle_step").desc, col("event_id")))
      .select(col("order_id"), col("event_type").as("order_status"),
        col("payment_value"), ts.as("ts"))
    val loadTs = to_timestamp(lit(batchTs))
    val log = latestState(silver.filter(col("lifecycle_step") <= 2),
        loadTs - expr("INTERVAL 1 DAY"))
      .unionByName(latestState(silver, loadTs))
    val history = Scd2.history(log, cfg, "ts")
    history.write.mode("overwrite").parquet(s"$outDir/scd2_dim_order")
    val dimOrderHistory = registerAnalyzed(spark, "graft_dim_order",
      s"$outDir/scd2_dim_order", Seq("order_id", "order_status"))

    // ── Gold: lifecycle fact (golden-parity projection) ────────────
    Gold.lifecycleFact(silver).write.mode("overwrite")
      .parquet(s"$outDir/fact_order_lifecycle")
    val fact = registerAnalyzed(spark, "graft_fact_order_lifecycle",
      s"$outDir/fact_order_lifecycle", Seq("order_id", "event_type"))

    // ── Mart: fixed-domain funnel with zero-fill (A12 shape) ───────
    import spark.implicits._
    val stageDf = lifecycleStages.toDF("stage", "stage_rank")
    val counts = fact.groupBy("event_type").agg(count(lit(1)).as("n"))
    // Hint the buildable (right) side: left outer cannot build-left.
    val funnel = stageDf
      .join(broadcast(counts), stageDf("stage") === counts("event_type"), "left")
      .select(col("stage"), col("stage_rank"),
        coalesce(col("n"), lit(0L)).as("n_events"))
      .orderBy("stage_rank")
    funnel.write.mode("overwrite").parquet(s"$outDir/mart_funnel")

    Result(bronze, silver, dimOrderHistory, fact, funnel)
  }

  def main(args: Array[String]): Unit = {
    val rawCsv = args.headOption.getOrElse(
      "/root/reference/Data Sets/Raw Datasets/synthetic_order_lifecycle.csv")
    val outDir = args.lift(1).getOrElse(
      s"${System.getProperty("java.io.tmpdir")}/graft_pipeline")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.util.Sessions.withGraftDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = run(spark, rawCsv, outDir)
    println(s"bronze=${r.bronze.count()} silver=${r.silver.count()} " +
      s"scd2=${r.dimOrderHistory.count()} fact=${r.fact.count()}")
    r.funnel.show(truncate = false)
    println(s"layers written under $outDir")
    spark.stop()
  }
}
