package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry

final case class Sample(query: String, ms: Double, ok: Boolean)

/** One traced query: its plan and exec spans and its scan leaves. */
final case class Traced(name: String, plan: Span, exec: Span, hit: Int, miss: Int)

/** dashboard_mix: a closed loop of two client threads sharing one
  * session, each walking its own seeded order of the 18 reference
  * dashboard queries (every query once per cycle) over base tables
  * cached as graft.Bench caches them. One operation = one query, from
  * call to collected result. */
final class Dashboard(work: String, conf: String => String) extends Workload {
  private val dir = s"$work/input/tables"
  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events")
  /** Query → operator family (the module that implements it). */
  private val family: Map[String, String] = Map(
    "q01_pricing_summary" -> "relational", "q02_filter_topk" -> "relational",
    "q03_revenue_by_nation" -> "relational",
    "q04_brand_performance" -> "relational",
    "q05_top_customers" -> "relational", "q08_monthly_revenue" -> "relational",
    "q09_funnel" -> "events", "q10_last_event_per_user" -> "events",
    "q18_conversion_rates" -> "events", "q22_rollup_revenue" -> "relational",
    "q26_product_performance" -> "gold", "q39_kpis" -> "gold",
    "q46_cube_revenue" -> "relational", "q47_moving_avg" -> "relational",
    "q60_gapfill_daily" -> "relational",
    "q66_retention_cohorts" -> "analytics", "q67_rfm_segments" -> "analytics",
    "q99_time_to_convert" -> "analytics")
  private val queries = family.keys.toSeq.sorted
  private val fns = SparkEntry.queries
  private val sequences: Seq[Seq[String]] =
    conf("sequences").split(";").toSeq.map(_.split(",").toSeq)
  /** Queries per cycle: each cycle runs every query once. */
  private val cycle = conf("cycle").toInt
  /** Result hash of each query's first execution in this run. */
  private val firstHash = mutable.Map.empty[String, String]
  private var cacheSeconds = 0.0

  def setup(spark: SparkSession): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    tables.foreach { t =>
      graft.sources.Tables.load(spark, dir, t)
        .persist(StorageLevel.MEMORY_AND_DISK).count()
    }
    cacheSeconds = (System.nanoTime() - t0) / 1e9
  }

  override def teardown(spark: SparkSession): Unit =
    spark.catalog.clearCache()

  private def hash(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes(StandardCharsets.UTF_8)); md.update(10.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** First execution of every query: its rows go to parquet for the
    * DuckDB oracle comparison, its hash is what later executions of the
    * same query must reproduce. Runs untimed, before any measurement. */
  private def firstPass(spark: SparkSession): Unit = if (firstHash.isEmpty) {
    val oracle = SparkEntry.oracleSql
    // four threads share the cold first executions
    val firsts = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val threads = queries.grouped((queries.size + 3) / 4).toSeq.map { part =>
      new Thread(() => part.foreach { q =>
        try {
          val df = fns(q)(spark, dir)
          val rows = df.collect()
          firsts.put(q, hash(rows))
          spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$work/dashboard_out/$q")
        } catch { case e: Throwable =>
          // no first result: every later execution of q counts as failed
          System.err.println(s"[perfbench] $q failed: $e")
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    firstHash ++= firsts.asScala
    Files.write(Paths.get(s"$work/dashboard_out/oracle_sql.json"),
      Json.encode(queries.map(q => q -> oracle(q)).toMap)
        .getBytes(StandardCharsets.UTF_8))
  }

  /** Both clients walk their sequences, each until it has run `limit`
    * queries or, past `until` (nanoTime), reaches the end of a cycle of
    * the query set; returns every sample and the clients' summed time. */
  private def closedLoop(spark: SparkSession, until: Long, limit: Int,
      run: (String, () => Array[Row]) => Array[Row]): (Seq[Sample], Double) = {
    val out = java.util.Collections.synchronizedList(new java.util.ArrayList[Sample]())
    val busy = new java.util.concurrent.atomic.DoubleAdder()
    val threads = sequences.zipWithIndex.map { case (seq, c) =>
      new Thread(() => {
        val start = System.nanoTime()
        var i = 0
        while (i < limit && i < seq.size &&
            (i % cycle != 0 || System.nanoTime() < until)) {
          val q = seq(i)
          val t0 = System.nanoTime()
          val rows = try Some(run(q, () => fns(q)(spark, dir).collect()))
            catch { case e: Throwable =>
              System.err.println(s"[perfbench] $q failed: $e"); None }
          val ms = (System.nanoTime() - t0) / 1e6
          out.add(Sample(q, ms, rows.exists(r => firstHash.get(q).contains(hash(r)))))
          i += 1
        }
        busy.add((System.nanoTime() - start) / 1e9)
      }, s"dashboard-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (out.asScala.toSeq, busy.sum())
  }

  def measure(spark: SparkSession, seconds: Double): Measured = {
    firstPass(spark)
    val t0 = System.nanoTime()
    val (samples, _) = closedLoop(spark, t0 + (seconds * 1e9).toLong,
      Int.MaxValue, (_, f) => f())
    val elapsed = (System.nanoTime() - t0) / 1e9
    val ms = samples.map(_.ms)
    Measured(Map(
      "latency_p50_ms" -> Stats.median(ms),
      "latency_p75_ms" -> Stats.quantile(ms, 0.75),
      "throughput_per_s" -> samples.size / elapsed),
      samples.size.toLong, samples.count(!_.ok).toLong,
      Map("per_query_n" -> samples.groupBy(_.query).map { case (q, s) => q -> s.size },
        "per_query_p50_ms" -> samples.groupBy(_.query).map { case (q, s) =>
          q -> Stats.median(s.map(_.ms)) }))
  }

  /** Scan leaves of an executed plan: (served from cache, from files). */
  private def scans(p: SparkPlan): (Int, Int) = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case _: InMemoryTableScanExec => (1, 0)
    case _: FileSourceScanExec => (0, 1)
    case other =>
      (other.children ++ other.subqueries).map(scans)
        .foldLeft((0, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  /** One cycle of both clients traced, then the same cycle untraced: per query a `dashboard.plan` span
    * (the query function call through `executedPlan`, eager jobs
    * included) and a `dashboard.exec` span (collect). */
  def trace(spark: SparkSession, rec: SpanRecorder): Measured = {
    firstPass(spark)
    val perClient = cycle

    val qs = java.util.Collections.synchronizedList(new java.util.ArrayList[Traced]())
    val g0 = Host.gcSeconds()
    val t0 = System.nanoTime()
    val (samples, busy) = closedLoop(spark, Long.MaxValue, perClient, (q, _) =>
      rec.span("dashboard.query") {
        val (df, plan) = rec.timed("dashboard.plan") {
          val d = fns(q)(spark, dir)
          d.queryExecution.executedPlan
          d
        }
        val (rows, exec) = rec.timed("dashboard.exec")(df.collect())
        val (hit, miss) = scans(df.queryExecution.executedPlan)
        qs.add(Traced(q, plan, exec, hit, miss))
        rows
      })
    val traced = (System.nanoTime() - t0) / 1e9
    val gc = Host.gcSeconds() - g0
    val u0 = System.nanoTime()
    closedLoop(spark, Long.MaxValue, perClient, (_, f) => f())
    val untraced = (System.nanoTime() - u0) / 1e9
    rec.drain()
    val all = qs.asScala.toSeq
    val cs = all.map(q => Seq(rec.countersOf(q.plan), rec.countersOf(q.exec)))
    val execTotal = all.map(_.exec.seconds).sum
    // each family's share of all execution time
    val famShare = family.values.toSeq.distinct.map { f =>
      s"dashboard.$f.exec_share" ->
        all.filter(q => family(q.name) == f).map(_.exec.seconds).sum / execTotal
    }
    val hits = all.map(_.hit).sum
    val scanned = hits + all.map(_.miss).sum
    Measured(Map(
      "dashboard.plan_share.p50" -> Stats.median(all.map(q =>
        q.plan.seconds / (q.plan.seconds + q.exec.seconds))),
      "dashboard.plan_share.p90" -> Stats.quantile(all.map(q =>
        q.plan.seconds / (q.plan.seconds + q.exec.seconds)), 0.9),
      "dashboard.jobs_per_query" -> cs.map(_.map(_.jobs).sum).sum.toDouble / all.size,
      "dashboard.tasks_per_query" -> cs.map(_.map(_.tasks).sum).sum.toDouble / all.size,
      "dashboard.shuffle_kb_per_query" ->
        cs.map(_.map(_.shuffleBytes).sum).sum / 1024.0 / all.size,
      "dashboard.cache_hit_frac" -> (if (scanned == 0) 0.0 else hits.toDouble / scanned),
      "setup.cached_mb" -> spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1048576.0,
      "engine.gc_s" -> gc,
      "trace_overhead_frac" -> (traced / untraced - 1.0)) ++ famShare ++
      rec.totals(traced, busy),
      samples.size.toLong, samples.count(!_.ok).toLong,
      Map("cache_tables_s" -> cacheSeconds))
  }
}
