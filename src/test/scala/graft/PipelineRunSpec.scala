package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `Pipeline.run` end to end on a small hand-written lifecycle CSV
  * (PipelineSpec needs the reference's raw file; this spec needs
  * nothing but a temp dir). The CSV carries Silver's quirks — one
  * exact-duplicate row and one unparseable timestamp — and orders at
  * every lifecycle stage, plus one order whose created/paid events
  * landed in an earlier file, so the SCD2 merge inserts both changed
  * and fresh keys.
  *
  * It also holds the pipeline's CBO wiring on this input (PipelineCboSpec
  * needs the reference's raw file) and its Spark job budget.
  */
class PipelineRunSpec extends SparkSpec {
  import spark.implicits._

  private val stages = Pipeline.lifecycleStages.map(_._1)
  private val batchTs = java.sql.Timestamp.valueOf("2025-11-06 18:56:55.137075")

  private def event(order: Int, step: Int, ts: String): String =
    Seq(s"e$order-$step", order, s"c${order % 3}", stages(step - 1), ts,
      "ana silva", "ana.silva@example.com", "recife", "PE",
      if (step == 2) f"${order * 1.5}%.2f" else "", step).mkString(",")

  private def event(order: Int, step: Int): String =
    event(order, step, f"2025-11-0$step ${order % 24}%02d:00:00.000000 UTC")

  // order -> its stages in this file; 35 arrives at stage 3
  private val events: Seq[String] =
    Seq(10 -> (1 to 1), 20 -> (1 to 2), 30 -> (1 to 3), 40 -> (1 to 4),
        50 -> (1 to 4), 35 -> (3 to 4))
      .flatMap { case (o, steps) => steps.map(event(o, _)) } ++
    Seq(event(60, 1), event(60, 2, "not a date"), event(30, 2))

  private val header = "event_id,order_id,customer_id,event_type," +
    "event_timestamp,customer_name,customer_email,customer_city," +
    "customer_state,payment_value,lifecycle_step"

  /** `Pipeline.run` on `lines` under a fresh temp dir; the result and
    * the layers' directory. */
  private def runOn(lines: Seq[String]): (Pipeline.Result, String) = {
    val dir = Files.createTempDirectory("graft_pipeline_run_spec")
    dir.toFile.deleteOnExit()
    val csv = dir.resolve("synthetic_order_lifecycle.csv")
    Files.write(csv, (header +: lines).mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
    val layers = dir.resolve("layers").toString
    (Pipeline.run(spark, csv.toString, layers, batchTs), layers)
  }

  private lazy val out = runOn(events)._1

  test("the fixture has every stage, one duplicate, one bad timestamp") {
    val steps = events.map(_.split(",").last.toInt).toSet
    assert(steps == Set(1, 2, 3, 4))
    assert(events.length - events.distinct.length == 1)
    assert(events.count(_.contains("not a date")) == 1)
  }

  test("funnel mart equals a direct count over the CSV") {
    // oracle: distinct lines minus the unparseable one, counted by type
    val oracle = events.distinct.filterNot(_.contains("not a date"))
      .groupBy(_.split(",")(3)).view.mapValues(_.size.toLong).toMap
    val funnel = out.funnel.collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_events")).toMap
    assert(funnel == stages.map(s => s -> oracle.getOrElse(s, 0L)).toMap)

    // zero-fill: a stage with no events still has its row, in rank order
    val (_, layers) = runOn(events.filterNot(_.contains("order_delivered")))
    val mart = spark.read.parquet(s"$layers/mart_funnel")
      .as[(String, Int, Long)].collect().toSeq
    assert(mart.map(_._1) == stages)
    assert(mart.map(_._2) == (1 to 4))
    assert(mart.last._3 == 0L && mart.init.forall(_._3 > 0))
  }

  test("catalog tables carry the written row count and schema; the " +
      "fact⋈current-dim join broadcasts from them with AQE off") {
    out // the tables of whichever run in this suite published last
    val catalog = spark.sessionState.catalog
    Seq("graft_silver_lifecycle", "graft_dim_order",
        "graft_fact_order_lifecycle").foreach { t =>
      val meta = catalog.getTableMetadata(TableIdentifier(t))
      assert(meta.stats.flatMap(_.rowCount).contains(
        BigInt(spark.table(t).count())), t)
      assert(meta.schema == spark.read.parquet(meta.location.toString).schema, t)
    }

    val conf = spark.conf
    val saved = Seq("spark.sql.adaptive.enabled", "spark.sql.cbo.enabled")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      conf.set("spark.sql.cbo.enabled", "true")
      val q = spark.table("graft_fact_order_lifecycle")
        .join(spark.table("graft_dim_order").filter($"is_current"),
          Seq("order_id"))
        .groupBy("order_status").agg(count(lit(1)).as("n"))
      val leafStats = q.queryExecution.optimizedPlan.collectLeaves().map(_.stats)
      assert(leafStats.exists(_.rowCount.isDefined), leafStats)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(q.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("SCD2 history: one current row per order, closed intervals abut") {
    val hist = out.dimOrderHistory.cache()
    val orders = events.map(_.split(",")(1).toInt).distinct
    val current = hist.filter($"is_current")
      .groupBy("order_id").count().as[(Int, Long)].collect().toMap
    assert(current == orders.map(_ -> 1L).toMap)
    val closed = hist.filter(!$"is_current").count()
    assert(closed == 3) // 30, 40 and 50 progressed past stage 2
    val abutting = hist
      .withColumn("next_from", lead($"valid_from", 1).over(
        Window.partitionBy("order_id").orderBy("valid_from")))
      .filter(!$"is_current" && $"valid_to" === $"next_from")
      .count()
    assert(abutting == closed)
    hist.unpersist()
  }

  test("SKs are dense, follow order_id, and the merge continues from " +
      "the initial maximum") {
    val rows = out.dimOrderHistory
      .select($"order_id", $"order_sk", $"valid_from" < lit(batchTs))
      .as[(Int, Long, Boolean)].collect()
    assert(rows.map(_._2).sorted.toSeq == (1L to rows.length.toLong))
    val (initial, inserted) = rows.partition(_._3)
    val initialSorted = initial.sortBy(_._1)
    assert(initialSorted.map(_._1).toSeq == Seq(10, 20, 30, 40, 50, 60))
    assert(initialSorted.map(_._2).toSeq == (1L to initial.length.toLong))
    val insertedSorted = inserted.sortBy(_._1)
    assert(insertedSorted.map(_._1).toSeq == Seq(30, 35, 40, 50))
    assert(insertedSorted.map(_._2).toSeq ==
      (initial.length + 1L to rows.length.toLong))
  }

  /** Counted with a SparkListener after a warm-up run: 31 jobs before
    * the catalog stats and the funnel were observed on the layer writes
    * (each catalog table ran CREATE TABLE's schema inference and
    * ANALYZE … FOR COLUMNS, the mart a group-by, a broadcast join and a
    * range sort, Bronze a parquet schema inference), 17 since. */
  test("one Pipeline.run stays within its Spark job budget") {
    val sc = spark.sparkContext
    runOn(events)
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      runOn(events)
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get <= 17, s"${jobs.get} Spark jobs")
  }
}
