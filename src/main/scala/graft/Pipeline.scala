package graft

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
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
  * queryable afterwards. Silver, the SCD2 dimension and the fact are
  * also published as catalog tables whose row counts are observed on
  * their own writes ([[publish]]), and the mart is the fact write's
  * observed per-stage counts: registration runs no Spark job and the
  * mart one 4-row write (17 jobs per run on the seed-1 benchmark
  * input). Scale: bronze/silver/gold are scan-shaped (the union is
  * plan-level, the cleanse map-only after one dedup shuffle); the SCD2
  * step is one key-shuffled window over both batches with two-phase SK
  * assignment — no stage funnels through one task.
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

  /** Write `df` as parquet at `path` and publish it as the external
    * catalog table `name` with the statistics the CBO plans from
    * (CboStatsSpec proves the mechanism, PipelineRunSpec that the
    * pipeline wires it), at no Spark job beyond the write:
    *   - the row count and `extra` (aliased aggregates) are observed on
    *     the write itself, not counted by a second pass;
    *   - the table is created with the schema just written, so nothing
    *     infers it from the files;
    *   - `ANALYZE … NOSCAN` lists the files for `sizeInBytes`, and the
    *     observed count becomes `rowCount` through the session
    *     catalog's `alterTableStats` (an internal Spark API).
    * No column statistics are written; nothing in the pipeline reads
    * them. Returns the table and the observed values by alias. */
  private def publish(spark: SparkSession, name: String, path: String,
      df: DataFrame, extra: Column*): (DataFrame, Map[String, Any]) = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"), extra: _*)
      .write.mode("overwrite").parquet(path)
    val observed = obs.get
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.catalog.createTable(name, "parquet", df.schema, Map("path" -> path))
    spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS NOSCAN")
    val catalog = spark.sessionState.catalog
    val id = TableIdentifier(name)
    catalog.alterTableStats(id, catalog.getTableMetadata(id).stats.map(
      _.copy(rowCount = Some(BigInt(observed("rows").asInstanceOf[Long])))))
    (spark.table(name), observed)
  }

  /** Full chain; returns every layer (backed by the parquet just
    * written, the mart by its four observed counts, so downstream reads
    * don't recompute the lineage). */
  def run(spark: SparkSession, rawCsv: String, outDir: String,
      batchTs: java.sql.Timestamp =
        new java.sql.Timestamp(System.currentTimeMillis())): Result = {

    // ── Bronze: tagged CSV union, truncate-loaded ──────────────────
    val bronze = Bronze.loadRaw(spark,
      Map("synthetic_order_lifecycle" -> rawCsv), s"$outDir/bronze_raw")

    // ── Silver: the golden-parity cleanse (GoldenFixtureSpec) ──────
    val (silver, _) = publish(spark, "graft_silver_lifecycle",
      s"$outDir/silver_lifecycle", Silver.cleanseLifecycle(
        bronze.filter(col("source_table") === "synthetic_order_lifecycle")
          .drop("source_table"), batchTs))

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
    val (dimOrderHistory, _) = publish(spark, "graft_dim_order",
      s"$outDir/scd2_dim_order", Scd2.history(log, cfg, "ts"))

    // ── Gold: lifecycle fact (golden-parity projection), observed
    // per stage on its own write ───────────────────────────────────
    val (fact, stageCounts) = publish(spark, "graft_fact_order_lifecycle",
      s"$outDir/fact_order_lifecycle", Gold.lifecycleFact(silver),
      lifecycleStages.map { case (stage, _) =>
        count_if(col("event_type") === stage).as(stage) }: _*)

    // ── Mart: fixed-domain funnel with zero-fill (A12 shape), the
    // fact's observed counts as one 4-row file ────────────────────
    import spark.implicits._
    val funnel = lifecycleStages
      .map { case (stage, rank) =>
        (stage, rank, stageCounts(stage).asInstanceOf[Long]) }
      .toDF("stage", "stage_rank", "n_events").coalesce(1)
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
