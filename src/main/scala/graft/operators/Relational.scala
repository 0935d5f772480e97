package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.sources.Tables
import graft.util.Portable._

/** Core batch relational operators from SURVEY.md §2 (aggregations,
  * joins, windows, top-k, set ops), re-expressed Spark-first over the
  * TESTDATA star schema.
  *
  * Scale notes (100 TB): every query here keeps the plan fully
  * declarative so Catalyst pushes filters/projections into the parquet
  * scan; dimension joins (`nation`, `region`, `part`, stage domains) are
  * explicit `broadcast()` so the fact table never shuffles for them;
  * fact↔fact joins (orders⋈lineitem) shuffle on the join key once and
  * AQE handles skew. Top-k uses `orderBy(...).limit(k)` which Spark
  * plans as TakeOrderedAndProject (per-partition heaps, no full sort).
  */
object Relational {

  /** Pricing summary per return flag / line status — the reference's
    * grouped-mean/sum dashboard aggregations (SURVEY A3/A5/A6/A7;
    * reference app.py:188, 210–216, 281). Map-side partial aggregation
    * then a 4-group final: the shuffle carries only the group keys. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        sumMoney2(col("l_quantity")).as("sum_qty"),
        sumMoney2(col("l_extendedprice")).as("sum_base_price"),
        sumMoney4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("sum_disc_price"),
        sumMoney4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        avgExact2(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Equality filter + projection + top-k (SURVEY P2/P3/T2; reference
    * app.py:253, 400). Filter and 4-column projection reach the parquet
    * scan (PushedFilters / ReadSchema); limit plans as
    * TakeOrderedAndProject. */
  def filterTopkOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.filter(col("o_orderstatus") === "F" && col("o_totalprice") > 150000.0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        substring(col("o_orderpriority"), 1, 1).as("priority_class"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(25)
  }

  /** Revenue by nation: the dashboard's "revenue by region" rolled over
    * the star schema (SURVEY J1/J2/A7; reference app.py:347,
    * ecom_Gold_Layer.ipynb:79–83). customer⋈orders⋈lineitem shuffle on
    * their keys; 25-row nation dim is broadcast. */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val n = Tables.nation(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(
        sumMoney4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  /** Product performance by brand via broadcast dimension join
    * (SURVEY J4, T2; reference ecom_Gold_Layer.ipynb:94–104 SK lookup
    * maps → proper broadcast hash joins, app.py:400 top products). */
  def brandPerformance(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy("p_brand")
      .agg(
        sumMoney4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
        sumMoney2(col("l_quantity")).as("total_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy("p_brand")
  }

  /** Top-10 customers by revenue (SURVEY T2/A10; reference app.py:563
    * top customers by profit). Deterministic tiebreak on the key. */
  def topCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    o.groupBy("o_custkey")
      .agg(sumMoney2(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .join(c, col("o_custkey") === c("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"), col("n_orders"))
      .orderBy(desc("revenue"), asc("c_custkey"))
      .limit(10)
  }

  /** Distinct counts per event type (SURVEY A9; reference app.py:502–504
    * `nunique()`): exact countDistinct — at 100 TB swap for
    * approx_count_distinct (HLL) where exactness isn't contractual. */
  def distinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** Conditional count: late shipments per order priority (SURVEY P7/A4;
    * reference app.py:195–197 late orders = delivered > estimated). */
  def lateShipments(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        sum(when(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 30 DAYS"), 1).otherwise(0))
          .as("late_items"),
        count(lit(1)).as("total_items"))
      .orderBy("o_orderpriority")
  }

  /** Monthly revenue trend (SURVEY F5/A7; reference app.py:280–281
    * groups on a "YYYY-MM" month string). */
  def monthlyRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sumMoney2(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("month")

  /** First row per group by sort order — the reference's "first payment
    * per order, sorted by installments" (SURVEY W2/J7; app.py:114–119).
    * One shuffle on the partition key; rn=1 filter happens before any
    * further join. */
  def firstItemPerOrder(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_orderkey")
      .orderBy(asc("l_extendedprice"), asc("l_linenumber"))
    Tables.lineitem(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_quantity"))
      .orderBy("l_orderkey")
  }

  /** Exact deduplication survivors (SURVEY U2/U3; reference
    * ecom_Silver_Layer.ipynb:198–199 drop_duplicates): group on the
    * dedup key, keep min id — the scalable hash-groupBy form. */
  def dedupExactDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("text")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")

  /** Union-all with source tagging (SURVEY U1/S2; reference
    * ecom_Bronze_Layer.ipynb:40–44 stacks heterogeneous CSVs with a
    * source_table discriminator). */
  def unionTagged(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(lit("customer").as("source_table"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"))
    val s = Tables.supplier(spark, dir)
      .select(lit("supplier").as("source_table"), col("s_name").as("name"),
        col("s_acctbal").as("acctbal"))
    c.unionByName(s).orderBy("source_table", "name")
  }

  /** Mode: most common brand (SURVEY A11; reference app.py:374) with a
    * deterministic tiebreak — groupBy-count + TakeOrdered, no full sort. */
  def modeBrand(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy("p_brand").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("p_brand"))
      .limit(1)

  /** Exact median + p90 per group (SURVEY A14; reference
    * ecom_Silver_Layer.ipynb:214 median null-fill values). Exact
    * percentiles need a per-group sort; at 100 TB prefer
    * percentile_approx (t-digest-style sketch, map-side combinable). */
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(expr("median(l_quantity)").as("median_qty"),
        expr("percentile(l_quantity, 0.9d)").as("p90_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Anti join: customers with no orders before 1996 (left_anti ≡ NOT
    * EXISTS). Not in the reference surface (SURVEY §2.3 notes its
    * absence) — added as the idiomatic Spark form. The date filter is
    * pushed into the orders scan before the anti-join shuffles; at scale
    * a small distinct key set broadcasts, else shuffled hash anti-join. */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .select("o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Semi join: customers with at least one order before 1996 —
    * left_semi ≡ EXISTS, the complement of [[customersWithoutOrders]]
    * (SURVEY §2.3). Same scale shape as the anti join: the date filter
    * is pushed into the orders scan, only the distinct key set crosses
    * the shuffle (or broadcasts when small). */
  def customersWithOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .select("o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** EXCEPT (distinct set difference, SURVEY §2.7): user-days with a
    * view but no purchase — the dashboard's "browsed, didn't buy"
    * cohort at day granularity (user-level EXCEPT is degenerate in the
    * dense synthetic data: every user eventually does everything).
    * Spark plans except() as a left-anti join over pre-aggregated
    * distinct keys, so the shuffle carries distinct (user, day) pairs
    * only. */
  def viewedNeverPurchased(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def days(t: String) = e.filter(col("event_type") === t)
      .select(col("user_id"), to_date(col("ts")).as("view_date"))
    days("view").except(days("purchase"))
      .orderBy("user_id", "view_date")
  }

  /** INTERSECT (distinct set intersection, SURVEY §2.7): user-days with
    * BOTH a view and a purchase — the converted-browse cohort, the
    * complement of [[viewedNeverPurchased]]. Same plan family: left-semi
    * over pre-aggregated distinct keys. */
  def viewedAndPurchasedDays(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def days(t: String) = e.filter(col("event_type") === t)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    days("view").intersect(days("purchase"))
      .orderBy("user_id", "day")
  }

  /** Data-quality counters (SURVEY A13/S9; reference
    * ecom_Silver_Layer.ipynb:196–246 prints dup/null counters per
    * table): one pass over lineitem, no joins. */
  def dqMetrics(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(
      count(lit(1)).as("total_rows"),
      // distinct over an explicit delimited concat, not countDistinct(a, b):
      // multi-column COUNT(DISTINCT) drops rows where ANY column is null in
      // Spark but not in DuckDB's row-tuple form; the concat (null if any
      // part is null) has identical null semantics in both engines.
      (count(lit(1)) - countDistinct(concat(
        col("l_orderkey").cast("string"), lit("|"),
        col("l_linenumber").cast("string"))))
        .as("dup_keys"),
      sum(col("l_quantity").isNull.cast("long")).as("null_qty"),
      sum(col("l_shipdate").isNull.cast("long")).as("null_shipdate"))

  /** Dense surrogate-key assignment (SURVEY W1; reference
    * Scd_Type2.sql:33–34 ROW_NUMBER + MAX offset) — WITHOUT the
    * single-partition global sort `row_number() OVER (ORDER BY …)`
    * plans. Two-phase shape: range-repartition on the order key (so
    * partition i holds strictly smaller keys than partition i+1), rank
    * locally per partition, then add per-partition offsets computed
    * from a tiny count-per-partition aggregate. Every stage is fully
    * parallel; the only driver-side data is one long per partition.
    * Result is bit-identical to the global ROW_NUMBER because the order
    * key is unique and range partitioning preserves global order. */
  def denseGlobalRank(df: DataFrame, orderCol: String, skName: String,
      base: Long): DataFrame =
    // rank = the prefix-sum kernel with a constant-1 value column: ONE
    // copy of the subtle two-phase machinery (checkpoint pins the range
    // boundaries, pid-sorted offset scan) for both rank and cumsum
    globalRankedPrefixSum(df.withColumn("_one", lit(1L)),
      orderCol, "_one", skName, "_cum")
      .withColumn(skName, col(skName) + lit(base))
      .drop("_one", "_cum")

  /** Global rank AND running sum over a unique order key in ONE
    * two-phase pass — the distributed prefix-sum. Bit-identical to
    * `ROW_NUMBER() OVER (ORDER BY k)` + `SUM(v) OVER (ORDER BY k ROWS
    * UNBOUNDED PRECEDING)` without their single-partition sort:
    * range-repartition on the key, rank and running-sum locally per
    * partition, then add per-partition (count, sum) prefix offsets —
    * one long pair per partition is the only driver-side data. The
    * shape every cumulative mart (vocab coverage, pack budgets, CDF
    * tables) needs at 100 TB. */
  def globalRankedPrefixSum(df: DataFrame, orderCol: String,
      valueCol: String, rankName: String, cumName: String): DataFrame =
    globalRankedPrefixSums(df, orderCol,
      Seq(valueCol -> cumName), rankName)

  /** Multi-column form of [[globalRankedPrefixSum]]: one two-phase
    * pass (one checkpoint, one offset collect of a few longs per
    * partition) yields the running sum of EVERY (valueCol -> cumName)
    * pair — the shape a two-sample CDF comparison (q269) needs, where
    * both groups' cumulative counts must advance over the SAME value
    * order and a second pass would checkpoint the histogram twice. */
  def globalRankedPrefixSums(df: DataFrame, orderCol: String,
      valueCols: Seq[(String, String)], rankName: String): DataFrame = {
    val spark = df.sparkSession
    // materialized once: all three jobs must see the same boundaries
    val parted = df.repartitionByRange(col(orderCol))
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint()
    val stats = parted.groupBy("_pid")
      .agg(count(lit(1)).as("_cnt"),
        valueCols.map { case (v, _) => sum(col(v)).as(s"_s_$v") }: _*)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1),
        valueCols.indices.map(i => r.getLong(2 + i)).toVector))
      .sortBy(_._1)
    val zero = Vector.fill(valueCols.length)(0L)
    val offsets = stats.scanLeft((0, 0L, zero)) {
      case ((_, accN, accS), (pid, n, s)) =>
        (pid, accN + n, accS.lazyZip(s).map(_ + _))
    }.tail.zip(stats).map { case ((pid, endN, endS), (_, n, s)) =>
      Row.fromSeq(pid +: (endN - n) +: endS.lazyZip(s).map(_ - _))
    }
    val offSchema = StructType(
      StructField("_pid", IntegerType) +:
      StructField("_offn", LongType) +:
      valueCols.map { case (v, _) =>
        StructField(s"_off_$v", LongType) })
    val offsetDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offsets.toSeq, 1), offSchema)
    val w = Window.partitionBy("_pid").orderBy(orderCol)
    val localled = valueCols.foldLeft(
      parted.withColumn("_lrn", row_number().over(w))) {
      case (d, (v, _)) =>
        d.withColumn(s"_ls_$v", sum(col(v)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }
    val summed = valueCols.foldLeft(
      localled.join(broadcast(offsetDf), "_pid")
        .withColumn(rankName, col("_lrn") + col("_offn"))) {
      case (d, (v, cumName)) =>
        d.withColumn(cumName, col(s"_ls_$v") + col(s"_off_$v"))
    }
    summed.drop(Seq("_pid", "_lrn", "_offn") ++
      valueCols.flatMap { case (v, _) => Seq(s"_ls_$v", s"_off_$v") }: _*)
  }

  /** Two-phase global ROW_NUMBER over an arbitrary total-order key
    * expression (possibly composite, possibly descending — callers
    * negate numeric components for DESC): materialize the key as a
    * struct column and run [[denseGlobalRank]]'s range-partitioned
    * rank over it. No single-partition sort at any grain. */
  def rankedBy(df: DataFrame, key: Column, rankName: String): DataFrame =
    denseGlobalRank(df.withColumn("_rkey", key), "_rkey", rankName, 0L)
      .drop("_rkey")

  /** Closed-form NTILE(k) from the 1-based global rank over `n` total
    * rows: the first n%k buckets take ⌈n/k⌉ rows, the rest ⌊n/k⌋ —
    * NTILE's exact contract, derived arithmetically from the rank so
    * the assignment is bit-identical to `NTILE(k) OVER (ORDER BY …)`
    * on a total order WITHOUT the single-partition WindowExec that
    * window plans. Division is double but exact here: the quotient is
    * ≤ k and the divisor ≥ n/k, so the 0.5-ulp division error (~k·2⁻⁵³)
    * stays below the 1/divisor gap to the next integer for any
    * n < 2⁴⁰, k ≤ 10³ (q213's proven discipline, now shared by
    * q62/q67). Returns a LONG 1..k; callers cast to int to match the
    * window function's type. */
  def ntileFromRank(rank: Column, n: Long, k: Int): Column = {
    val q = n / k; val rem = n % k
    when(rank <= lit(rem * (q + 1)),
        ((rank - lit(1L)) / lit((q + 1).toDouble)).cast("long") + 1)
      .otherwise(lit(rem) +
        ((rank - lit(rem * (q + 1)) - lit(1L)) / lit(q.toDouble))
          .cast("long") + 1)
  }

  def customerSk(spark: SparkSession, dir: String): DataFrame =
    denseGlobalRank(Tables.customer(spark, dir), "c_custkey",
        "customer_sk", base = 1000L)
      .select("c_custkey", "customer_sk", "c_mktsegment")
      .orderBy("c_custkey")

  /** Rollup: revenue by (mktsegment, orderstatus) with subtotals —
    * grouping-sets form of the dashboard's segment revenue
    * (reference app.py:545); not in the reference surface, added as the
    * idiomatic warehouse operator. Partial aggregation still applies. */
  def rollupRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("rr_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("rr_orders")
    spark.sql(
      """SELECT c_mktsegment, o_orderstatus,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
        |  COUNT(*) AS n_orders
        |FROM rr_orders JOIN rr_customer ON o_custkey = c_custkey
        |GROUP BY ROLLUP(c_mktsegment, o_orderstatus)
        |ORDER BY c_mktsegment ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST
        |""".stripMargin)
  }

  /** Cube: all 2^2 grouping sets over (segment, status) — rollup's big
    * sibling (SURVEY §2.4). Same analyzer workaround as [[rollupRevenue]]
    * (DataFrame-API cube after a join trips a spurious ambiguous-self-join
    * error in Spark 4.1.2). Grouping-set expansion happens AFTER the
    * map-side partial agg on the full key, so the extra sets cost one
    * expand + re-agg on already-reduced data, not extra fact passes. */
  def cubeRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("cr_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("cr_orders")
    spark.sql(
      """SELECT c_mktsegment, o_orderstatus,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
        |  COUNT(*) AS n_orders
        |FROM cr_orders JOIN cr_customer ON o_custkey = c_custkey
        |GROUP BY CUBE(c_mktsegment, o_orderstatus)
        |ORDER BY c_mktsegment ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST
        |""".stripMargin)
  }

  /** Trailing 3-month moving average + running total of monthly revenue
    * (SURVEY §2.5 window-frame gap; the reference's dashboard draws the
    * monthly trend, app.py:280–281, but has no frame windows at all).
    * All math runs over integer cents inside the frames so the doubles
    * at the boundary are engine-exact. The unpartitioned window is over
    * the MONTHLY aggregate (≤ hundreds of rows at any scale) — the fact
    * table was already reduced by the groupBy, so single-partition
    * window execution is free. */
  def movingAvgRevenue(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum(cents2(col("o_totalprice"))).as("rev_cents"))
    val w3 = Window.orderBy("month").rowsBetween(-2, 0)
    val wc = Window.orderBy("month")
      .rowsBetween(Window.unboundedPreceding, 0)
    monthly.select(
        col("month"),
        (col("rev_cents").cast("double") / 100.0).as("revenue"),
        (sum(col("rev_cents")).over(w3).cast("double")
          / count(lit(1)).over(w3) / 100.0).as("revenue_ma3"),
        (sum(col("rev_cents")).over(wc).cast("double") / 100.0)
          .as("revenue_cum"))
      .orderBy("month")
  }

  /** Two-phase SALTED aggregation — the skew-mitigation pattern
    * SCALE.md prescribes, as a first-class operator: phase 1 groups on
    * (key, salt) so a hot key's rows spread across `salt` reducers;
    * phase 2 merges the partials per key. The salt is a deterministic
    * function of another column (not rand()) so the result is
    * reproducible and the oracle can check the invariant that matters:
    * the salted plan computes EXACTLY the plain groupBy's answer. Here
    * the grouping key is o_orderstatus — 3 values over the whole fact
    * table, the canonical pathological-skew shape where a plain groupBy
    * funnels everything through 3 reducers. */
  def saltedRevenueByStatus(spark: SparkSession, dir: String,
      salt: Int = 16): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("__salt", pmod(col("o_custkey"), lit(salt)))
      .groupBy("o_orderstatus", "__salt")
      .agg(sum(cents2(col("o_totalprice"))).as("cents"),
        count(lit(1)).as("n"))
      .groupBy("o_orderstatus")
      .agg((sum(col("cents")).cast("double") / 100.0).as("revenue"),
        sum(col("n")).as("n_orders"))
      .orderBy("o_orderstatus")

  /** String-function sweep (SURVEY §2.8 F12/F13/F21 + silver cleanse
    * string ops): case fold, trim+substring, regexp extraction, LIKE
    * predicate — all codegen'd built-ins evaluated in one projection
    * over the scan (no shuffle until the output sort). */
  def stringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(
        col("c_custkey"),
        upper(trim(col("c_name"))).as("name_upper"),
        substring(col("c_mktsegment"), 1, 3).as("seg_prefix"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("name_num"),
        col("c_mktsegment").like("%ING%").as("seg_ing"))
      .orderBy("c_custkey")

  /** Date-function sweep (SURVEY §2.8 F5–F9 family, widened): quarter /
    * day-of-week / day-of-year / ISO week / month-end / month-add /
    * month-trunc / day-add, at DISTINCT order-date grain — the
    * calendar-attribute derivation every date dimension build performs
    * (q40 generates the dim; this derives the attributes). Dedup-first:
    * the distinct-date grain is bounded by the calendar (~2.4k dates),
    * not fact cardinality. Engine-portability pins: Spark dayofweek is
    * 1-based Sunday, DuckDB 0-based (oracle adds 1); month-add clamps
    * to month-end identically in both. */
  def dateFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(to_date(col("o_orderdate")).as("d")).distinct()
      .select(col("d"),
        quarter(col("d")).cast("long").as("qtr"),
        dayofweek(col("d")).cast("long").as("dow"),
        dayofyear(col("d")).cast("long").as("doy"),
        weekofyear(col("d")).cast("long").as("iso_week"),
        last_day(col("d")).as("month_end"),
        add_months(col("d"), 1).as("next_month"),
        trunc(col("d"), "month").as("month_start"),
        date_add(col("d"), 7).as("plus_week"))
      .orderBy("d")

  /** Conditional + bitwise aggregate sweep (SURVEY §2.8/§2.4 widened):
    * greatest/least, NULLIF-driven conditional counting, CASE-guarded
    * max, and the bit_and/bit_or/bit_xor aggregate family — the
    * flag-mask rollups monitoring pipelines use. All inputs are exact
    * (integers, or raw column values compared without arithmetic), so
    * no portability scaffolding is needed beyond the money sums. */
  def condBitwise(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val alt = col("l_quantity") * lit(1000.0)
    li.groupBy("l_returnflag")
      .agg(
        sumMoney2(greatest(col("l_extendedprice"), alt)).as("sum_greatest"),
        sumMoney2(least(col("l_extendedprice"), alt)).as("sum_least"),
        count(nullif(col("l_linestatus"), lit("O"))).as("n_not_open"),
        bit_and(col("l_linenumber").cast("long")).as("mask_and"),
        bit_or(col("l_linenumber").cast("long")).as("mask_or"),
        bit_xor(col("l_linenumber").cast("long")).as("mask_xor"),
        max(when(col("l_discount") > 0.05, col("l_discount"))
          .otherwise(lit(0.0))).as("max_hi_disc"))
      .orderBy("l_returnflag")
  }

  /** FULL OUTER join (SURVEY §2.3 widened — the one outer-join shape
    * the surface was missing): per-user-day view counts against
    * purchase counts, keeping days present on either side only. The
    * classic reconciliation shape (left-only = browsed-not-bought,
    * right-only = bought-without-browsing — attribution leakage). Both
    * sides pre-aggregate to (user, day) grain BEFORE the join, so the
    * full-outer shuffle carries group rows, not raw events. */
  def fullOuterDays(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def daily(t: String, n: String) = ev.filter(col("event_type") === t)
      .groupBy(col("user_id").as(s"${n}_user"),
        to_date(col("ts")).as(s"${n}_day"))
      .agg(count(lit(1)).as(s"n_${n}s"))
    daily("view", "view")
      .join(daily("purchase", "purchase"),
        col("view_user") === col("purchase_user")
          && col("view_day") === col("purchase_day"), "full_outer")
      .select(
        coalesce(col("view_user"), col("purchase_user")).as("user_id"),
        coalesce(col("view_day"), col("purchase_day")).as("day"),
        coalesce(col("n_views"), lit(0L)).as("n_views"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        when(col("view_user").isNull, "purchase_only")
          .when(col("purchase_user").isNull, "view_only")
          .otherwise("both").as("presence"))
      .orderBy("user_id", "day")
  }

  /** Correlated subqueries (SURVEY §2.4 A15 generalized): a correlated
    * SCALAR subquery (each customer against their nation's max balance)
    * plus a correlated EXISTS (has at least one order). Spark de-
    * correlates both — the scalar becomes an aggregate + left outer
    * join, EXISTS a left-semi join — so the "per-row subquery" never
    * executes per row; it's the same shuffled-join plan a hand-written
    * version would produce, at any scale. */
  def correlatedSubqueries(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("cs_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("cs_orders")
    spark.sql(
      """SELECT c_custkey, c_acctbal,
        |  (SELECT MAX(c2.c_acctbal) FROM cs_customer c2
        |   WHERE c2.c_nationkey = c.c_nationkey) AS nation_max
        |FROM cs_customer c
        |WHERE c_acctbal > 9000.0
        |  AND EXISTS (SELECT 1 FROM cs_orders o
        |              WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Approximate quantiles (Greenwald-Khanna `percentile_approx`) next
    * to their exact twins — the sketch that replaces q15's exact
    * medians when the group is fact-sized: GK summaries are bounded
    * (O(1/ε log εN) per group), mergeable map-side, and never hold the
    * group's values. Approximations are engine-specific (DuckDB uses
    * t-digest), so the gate checks rows-only and the accuracy contract
    * lives in the spec: with accuracy 10⁴ the approx rank error is
    * ≤ N/10⁴, tiny against these group sizes. */
  def approxQuantiles(spark: SparkSession, dir: String): DataFrame =
    // Sketch quantiles have no engine-exact oracle, so the gate contract
    // is the error envelope: exact group counts plus a ≤1% value-error
    // verdict per percentile (approx vs the in-engine exact percentile).
    // The oracle asserts TRUE; exact interpolated percentiles stay
    // Spark-side only (their float repr is not engine-portable).
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
          .as("__p50a"),
        percentile_approx(col("l_extendedprice"), lit(0.99), lit(10000))
          .as("__p99a"),
        expr("percentile(l_extendedprice, 0.5)").as("__p50e"),
        expr("percentile(l_extendedprice, 0.99)").as("__p99e"))
      .select(col("l_returnflag"), col("n"),
        (abs(col("__p50a") - col("__p50e")) / col("__p50e") <= lit(0.01))
          .as("p50_within_1pct"),
        (abs(col("__p99a") - col("__p99e")) / col("__p99e") <= lit(0.01))
          .as("p99_within_1pct"))
      .orderBy("l_returnflag")

  /** Correlated LATERAL subquery with ORDER BY + LIMIT — "top 2 orders
    * per customer" in its declarative SQL form (SURVEY §8.3 extensions).
    * Catalyst DECORRELATES the per-row subquery: the plan is one join +
    * per-key window limit, not a subquery execution per customer row —
    * the transformation that makes lateral SQL viable at 100 TB (a
    * naive nested-loop lateral is O(customers × orders)). Same result
    * contract as q100's TopKPerKey strategy, expressed from the SQL
    * side. */
  def lateralTopOrders(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("lt_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("lt_orders")
    spark.sql(
      """SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.top_price
        |FROM lt_customer c
        |JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice AS top_price
        |  FROM lt_orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC
        |  LIMIT 2) t
        |ORDER BY c.c_custkey, top_price DESC, o_orderkey""".stripMargin)
  }

  /** Nested-type JSON round trip: per order, the line items collect into
    * an array-of-structs, serialize with `to_json`, parse back with
    * `from_json` under an explicit schema, and the parsed tree answers
    * the aggregates — proving serialize ∘ parse = identity on the
    * engine's own canonical JSON. The oracle reconstructs the identical
    * text by string aggregation, so the emitted JSON is pinned
    * cross-engine (integer-valued fields only: float text rendering is
    * not portable). Shape: one order-grain shuffle for the collect_list;
    * everything after is scan-local JSON codec work. */
  def jsonRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("order_id", LongType),
      StructField("items", ArrayType(StructType(Seq(
        StructField("ln", LongType), StructField("qty", LongType)))))))
    val nested = Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") < 500)
      .select(col("l_orderkey"), struct(
        col("l_linenumber").cast("long").as("ln"),
        col("l_quantity").cast("long").as("qty")).as("item"))
      .groupBy(col("l_orderkey").as("order_id"))
      .agg(array_sort(collect_list(col("item"))).as("items"))
      .select(to_json(struct(col("order_id"), col("items"))).as("doc"),
        col("order_id"))
    val parsed = from_json(col("doc"), schema)
    nested
      .select(col("order_id"), col("doc"),
        size(parsed.getField("items")).cast("long").as("n_items"),
        aggregate(parsed.getField("items"), lit(0L),
          (acc, it) => acc + it.getField("qty")).as("qty_sum"))
      .orderBy("order_id")
  }

  /** Referential-integrity audit across every FK edge of the star
    * schema (SURVEY A13 generalized — the DQ pass a warehouse runs
    * after each load): per edge, child cardinality and orphan count
    * via left-anti join. NULL FKs count as orphans in both engines
    * (null never equals a key). Each edge is one anti-join whose
    * parent side broadcasts when small; the 7 single-row aggregates
    * union into one report. At 100 TB this is the shape that replaces
    * per-row assertions: set-level reconciliation, one number per
    * constraint. */
  def riAudit(spark: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, fk: String,
        parent: DataFrame, pk: String): DataFrame =
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(child.join(parent, child(fk) === parent(pk), "left_anti")
          .agg(count(lit(1)).as("n_orphans")))
        .select(lit(name).as("fk_edge"), col("n_child"), col("n_orphans"))
    val (c, o, li) = (Tables.customer(spark, dir), Tables.orders(spark, dir),
      Tables.lineitem(spark, dir))
    val (n, r, p, s) = (Tables.nation(spark, dir), Tables.region(spark, dir),
      Tables.part(spark, dir), Tables.supplier(spark, dir))
    Seq(
      edge("customer->nation", c, "c_nationkey", n, "n_nationkey"),
      edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
      edge("lineitem->part", li, "l_partkey", p, "p_partkey"),
      edge("lineitem->supplier", li, "l_suppkey", s, "s_suppkey"),
      edge("nation->region", n, "n_regionkey", r, "r_regionkey"),
      edge("orders->customer", o, "o_custkey", c, "c_custkey"),
      edge("supplier->nation", s, "s_nationkey", n, "n_nationkey"))
      .reduce(_.unionByName(_))
      .orderBy("fk_edge")
  }

  /** Per-key top-k through the CUSTOM physical operator
    * (`plans/TopKPerKey`): the `row_number() <= k` pattern that
    * `TopKPerKeyStrategy` replaces with bounded per-key heaps —
    * absorbing the window's sort AND its exchange-wide buffering, the
    * difference between O(rows log k) heap work and a full per-
    * partition sort at 100 TB. This query exists so the custom
    * operator itself sits behind the hash gate, not only its spec:
    * the oracle is the plain ROW_NUMBER form. */
  def topPartsPerBrand(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = Window.partitionBy("p_brand")
      .orderBy(desc("p_retailprice"), asc("p_partkey"))
    Tables.part(spark, dir)
      .select(col("p_brand"), col("p_partkey"), col("p_name"),
        col("p_retailprice"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      // cast above the filter so TopKPerKeyStrategy still sees the raw
      // Filter(rank <= k, Window(row_number)) pattern underneath
      .select(col("p_brand"), col("p_partkey"), col("p_name"),
        col("p_retailprice"), col("rank").cast("long").as("rank"))
      .orderBy("p_brand", "rank")
  }

  /** Second string-function sweep (SURVEY §2.8 F12/F13 widened):
    * translate / pad / split_part / repeat / reverse / ascii / instr /
    * left / right / concat_ws — the remaining scalar string surface
    * with engine-identical semantics (initcap is excluded: DuckDB has
    * no equivalent). Scan-local projection; no shuffle until the
    * output sort. */
  def stringFuncs2(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(
        col("c_custkey"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("seg_translated"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("key_padded"),
        rpad(col("c_mktsegment"), 12, ".").as("seg_padded"),
        split_part(col("c_name"), lit("#"), lit(2)).as("name_num"),
        repeat(expr("left(c_mktsegment, 1)"), 3).as("seg_echo"),
        reverse(col("c_name")).as("name_rev"),
        ascii(col("c_mktsegment")).cast("long").as("seg_ascii"),
        instr(col("c_name"), "#").cast("long").as("hash_pos"),
        expr("right(c_name, 4)").as("key_tail"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"))
      .orderBy("c_custkey")

  /** Grouped ordinary-least-squares regression (SURVEY §2.4 widened —
    * the regr_slope/regr_intercept family): revenue trend per order
    * priority, fitted over (epoch-day, whole-dollar price) pairs.
    * Same exact-integer-power-sums machinery as [[groupedMoments]]:
    * the shuffle carries five BIGINTs per group and the closed-form
    * slope/intercept run once per group on exact operands — built-in
    * regr_* would sum raw doubles and drift per partial-agg order. */
  def groupedRegression(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val sums = o
      .select(col("o_orderpriority"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("long").as("x"),
        floor(col("o_totalprice") + lit(0.5)).cast("long").as("y"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
    val nD = col("n").cast("double")
    val (dsx, dsy) = (col("sx").cast("double"), col("sy").cast("double"))
    val (dsxx, dsxy) = (col("sxx").cast("double"), col("sxy").cast("double"))
    val slope = (nD * dsxy - dsx * dsy) / (nD * dsxx - dsx * dsx)
    sums.select(col("o_orderpriority"), col("n"),
        val6(slope).as("slope_per_day"),
        val6((dsy - slope * dsx) / nD).as("intercept"))
      .orderBy("o_orderpriority")
  }

  /** Keyset + offset pagination (SURVEY §2.6 T-family completed):
    * page 3 of the customer ranking, both ways. OFFSET pagination
    * (`offset(40).limit(20)`) is the API surface dashboards ask for —
    * Spark plans it as CollectLimit(60) and drops 40, so cost grows
    * with page DEPTH; the keyset variant (`WHERE key > last-seen`)
    * carries the same page at constant cost and is what the 100 TB
    * deployment should use. Both emitted here, proven identical. */
  def paginationPage3(spark: SparkSession, dir: String): DataFrame = {
    val ranked = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy("c_custkey")
    // keyset form: the page-2 boundary key is a scalar lookup (cheap,
    // index-like at scale), then one range scan
    val boundary = ranked.limit(40).agg(max("c_custkey")).head().getLong(0)
    val keyset = Tables.customer(spark, dir)
      .filter(col("c_custkey") > boundary)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy("c_custkey").limit(20)
    val offsetForm = ranked.offset(40).limit(20)
    offsetForm.withColumn("method", lit("offset"))
      .unionByName(keyset.withColumn("method", lit("keyset")))
      .orderBy("method", "c_custkey")
  }

  /** Z-order clustering-key profile (SURVEY §2.1 write-layout family —
    * the Delta/Iceberg Z-ORDER BY primitive, computed in-engine): a
    * 32-bit Morton key over (customer, order-day), rolled up to coarse
    * z-buckets (256x256 rectangles). Each bucket's min/max per DIMENSION stay tight — the
    * locality that lets min/max file statistics prune scans on either
    * predicate column after a z-sorted write. The key is five exact
    * mask-and-shift integer ops per dimension ([[graft.util.ZOrder]]),
    * scan-local; writing `.sortWithinPartitions(z)` is then an ordinary
    * sorted write. */
  def zorderProfile(spark: SparkSession, dir: String): DataFrame = {
    import graft.util.ZOrder
    val o = Tables.orders(spark, dir)
      .select(pmod(col("o_custkey"), lit(65536L)).as("x"),
        pmod(datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("long"), lit(65536L)).as("y"))
    o.select(col("x"), col("y"),
        shiftright(ZOrder.morton(col("x"), col("y")), 16).as("z_bucket"))
      .groupBy("z_bucket")
      .agg(count(lit(1)).as("n_rows"),
        min("x").as("min_cust"), max("x").as("max_cust"),
        min("y").as("min_day"), max("y").as("max_day"))
      .orderBy("z_bucket")
  }

  /** Dynamic partition pruning through the storage layout (the runtime
    * twin of q107's z-order file-stat locality): the fact is written
    * ONCE, partitioned by ship month (≈84 directories — the reference's
    * own `PARTITION BY DATE(valid_from)` layout, Scd_Type2.sql:91), and
    * the query joins it to a GENERATED month dimension filtered to one
    * quarter. The filter is on the dim side only — Catalyst plants a
    * DynamicPruningSubquery on the fact scan, so at execution the scan
    * reads exactly the 3 matching partitions out of 84. On 100 TB this
    * is the difference between scanning 7 years and 3 months; the plan
    * shape (broadcast dim reused as the pruning filter) is asserted in
    * DppSpec. The write is idempotent and cached across invocations via
    * its _SUCCESS marker. */
  def dppRevenue(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_dpp_$tag"
    if (!new java.io.File(path, "_SUCCESS").exists())
      Tables.lineitem(spark, dir)
        .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
        .write.partitionBy("ship_month").mode("overwrite").parquet(path)
    val fact = spark.read.parquet(path)
    val monthDim = spark.range(1)
      .select(explode(sequence(
        to_date(lit("1992-01-01")), to_date(lit("1998-12-01")),
        expr("interval 1 month"))).as("m"))
      .select(date_format(col("m"), "yyyy-MM").as("ship_month"),
        concat(year(col("m")), lit("Q"), quarter(col("m"))).as("qtr"))
    fact
      .join(broadcast(monthDim.filter(col("qtr") === "1996Q1")), "ship_month")
      .groupBy("ship_month")
      .agg(sumMoney4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("ship_month")
  }

  /** Time-series gap fill (resample): the daily revenue grid per order
    * priority with missing days materialized as zero rows — the
    * dashboard's trend charts need a dense axis, and gap-filled frames
    * are what downstream forecasting consumes. The dense grid is
    * GENERATED, not scanned: `sequence(min_day, max_day)` explodes
    * scan-locally from a 1-row aggregate, the 5-row priority dim
    * cross-joins it (both sides broadcast), and the actuals left-join
    * onto the grid. The grid's size is (days × priorities), independent
    * of fact cardinality, so this shape is constant-cost at any scale
    * factor while the actuals aggregation stays one map-side-combined
    * shuffle over the fact table. */
  def gapfillDailyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(to_date(col("o_orderdate")).as("day"),
        col("o_orderpriority").as("priority"), col("o_totalprice"))
    val days = o.agg(min("day").as("lo"), max("day").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val prios = o.select("priority").distinct()
    val actual = o.groupBy("priority", "day")
      .agg(sum(cents2(col("o_totalprice"))).as("cents"),
        count(lit(1)).as("n"))
    days.crossJoin(prios)
      .join(actual, Seq("priority", "day"), "left")
      .select(col("priority"), col("day"),
        coalesce(col("cents").cast("double") / 100.0, lit(0.0)).as("revenue"),
        coalesce(col("n"), lit(0L)).as("n_orders"))
      .orderBy("priority", "day")
  }

  /** Explicit GROUPING SETS with grouping flags — the general form under
    * rollup (q22) and cube (q46): exactly the requested marginals, here
    * the two one-dimensional ones plus the grand total, with
    * `GROUPING()` disambiguating "NULL because subtotal" from a NULL
    * key value. Same SQL-over-temp-view workaround and the same
    * expand-after-partial-agg execution shape as [[rollupRevenue]]. */
  def groupingSetsRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("gs_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("gs_orders")
    spark.sql(
      """SELECT c_mktsegment, o_orderstatus,
        |  CAST(GROUPING(c_mktsegment) AS INT) AS g_seg,
        |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
        |  COUNT(*) AS n_orders
        |FROM gs_orders JOIN gs_customer ON o_custkey = c_custkey
        |GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus), ())
        |ORDER BY g_seg ASC, g_status ASC,
        |  c_mktsegment ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST
        |""".stripMargin)
  }

  /** Rank-family windows over customer revenue: decile bucketing
    * (`ntile`), `percent_rank`, and `cume_dist` — the distribution
    * views a dashboard derives cohorts from (SURVEY §2.5 extension).
    * The window's ORDER BY carries the key tiebreak so every rank
    * function sees a total order (ntile assignment under ties is
    * otherwise row-order-dependent). percent_rank/cume_dist are exact
    * rational divisions of rank integers — engine-portable doubles.
    *
    * NO single-partition sort, at any grain: the rank comes from
    * [[rankedBy]]'s two-phase range-partitioned pass over the total
    * key (revenue DESC, custkey ASC — the DESC leg negates the
    * integer cents), and all three window functions are closed-form
    * arithmetic on that rank — the key is unique, so
    * rank ≡ row_number, percent_rank = (rank−1)/(n−1), cume_dist =
    * rank/n, and NTILE is [[ntileFromRank]]. Both engines evaluate
    * the same IEEE division of the same integers, so the output is
    * bit-identical to the window-function plan this replaced. */
  def ntileRanks(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(sum(cents2(col("o_totalprice"))).as("cents"))
    val n = rev.count()
    val ranked = rankedBy(rev,
      struct((-col("cents")).as("nc"), col("o_custkey").as("ck")), "_rnk")
    val pctRank =
      if (n <= 1L) lit(0.0)
      else (col("_rnk") - lit(1L)).cast("double") / lit((n - 1).toDouble)
    ranked.select(col("o_custkey"),
        (col("cents").cast("double") / 100.0).as("revenue"),
        ntileFromRank(col("_rnk"), n, 10).cast("int").as("decile"),
        pctRank.as("pct_rank"),
        (col("_rnk").cast("double") / lit(n.toDouble)).as("cume"))
      .orderBy("o_custkey")
  }

  /** Deterministic hash sample: keep rows where a portable key hash lands
    * in 1 of 20 buckets (~5%). Unlike TABLESAMPLE this is reproducible
    * across engines, runs, AND cluster layouts — it's a scan-local
    * filter (no shuffle, no RNG state), the property a 100 TB pipeline
    * needs for stable eval/holdout splits. */
  def hashSample(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(portable32(col("o_orderkey").cast("string")) % 20 === 0)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")

  /** Grouped DISCRETE percentiles — `percentile_disc` returns an actual
    * data value (no interpolation), which makes exact quantiles fully
    * engine-portable where `percentile_cont`'s lo+frac·(hi−lo) float
    * interpolation is a cross-engine hazard (q15's continuous forms work
    * here only because the inputs are small integers). At 100 TB the
    * exact per-group sort becomes a groupBy + percentile sketch with
    * discrete rank lookup — same output contract. */
  def percentileDiscPrices(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir).createOrReplaceTempView("pd_part")
    spark.sql(
      """SELECT p_brand,
        |  percentile_disc(0.25) WITHIN GROUP (ORDER BY p_retailprice) AS p25,
        |  percentile_disc(0.5)  WITHIN GROUP (ORDER BY p_retailprice) AS p50,
        |  percentile_disc(0.9)  WITHIN GROUP (ORDER BY p_retailprice) AS p90,
        |  COUNT(*) AS n
        |FROM pd_part GROUP BY p_brand
        |ORDER BY p_brand ASC NULLS FIRST""".stripMargin)
  }

  /** Bloom-pruned semi join (SURVEY §2.3 J1 hardened for 100 TB): the
    * dim-side key set (suppliers of one nation) is sketched into a
    * bloom filter by `bloom_agg` in a scalar subquery — one ~100 KB
    * binary broadcast to every fact scan task — and
    * `bloom_might_contain` drops non-qualifying lineitem rows AT THE
    * SCAN, before any exchange. The exact `IN` semi join afterwards
    * removes the ε false positives, so the result is exactly the plain
    * semi join (which is the oracle). This is the manual form of
    * Spark's runtime row-level filtering, for when the key set comes
    * from a source the optimizer can't see through. */
  def bloomPrunedRevenue(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.BloomFuncs.register(spark)
    Tables.lineitem(spark, dir).createOrReplaceTempView("bp_lineitem")
    Tables.supplier(spark, dir).createOrReplaceTempView("bp_supplier")
    Tables.nation(spark, dir).createOrReplaceTempView("bp_nation")
    import graft.util.Portable.Sql
    spark.sql(
      s"""WITH keys AS (
         |  SELECT s_suppkey FROM bp_supplier
         |  JOIN bp_nation ON s_nationkey = n_nationkey
         |  WHERE n_name = 'NATION_3')
         |SELECT date_format(l_shipdate, 'yyyy-MM') AS ship_month,
         |  ${Sql.sum4("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |  COUNT(*) AS n_items
         |FROM bp_lineitem
         |WHERE bloom_might_contain(
         |    (SELECT bloom_agg(CAST(s_suppkey AS BIGINT), CAST(100000 AS BIGINT)) FROM keys),
         |    CAST(l_suppkey AS BIGINT))
         |  AND l_suppkey IN (SELECT s_suppkey FROM keys)
         |GROUP BY 1 ORDER BY 1 ASC NULLS FIRST""".stripMargin)
  }

  /** Incremental aggregate maintenance — materialized-view refresh
    * without full recompute. The running state is a PARTIAL aggregate
    * (sum-cents, count per group); a new batch aggregates alone and the
    * two partials re-aggregate by group key. Associativity of the
    * integer partial state makes this exact — the same algebra Spark's
    * own map-side combine exploits within one job, applied ACROSS jobs.
    *
    * The scenario splits orders at 1996-01-01 into a "materialized"
    * base and a "newly arrived" delta, maintains segment-level revenue
    * incrementally, and the oracle recomputes from scratch over
    * everything — the refresh must be indistinguishable from full
    * recompute. At 100 TB the base state is a stored table at GROUP
    * grain (tiny), so a refresh touches only the delta partition plus a
    * group-grain merge: cost scales with the delta, not history. Only
    * algebraic aggregates (sum/count/min/max, sketch merges) maintain
    * this way; holistic ones (exact median) need their inputs and are
    * the reason sketches exist. */
  def incrementalRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderdate"), col("o_totalprice"))
    val split = lit("1996-01-01").cast("timestamp")
    def partial(df: DataFrame): DataFrame = df
      .groupBy("c_mktsegment")
      .agg(sum(cents2(col("o_totalprice"))).as("cents"),
        count(lit(1)).as("n"))
    val base = partial(o.filter(col("o_orderdate") < split))
    val delta = partial(o.filter(col("o_orderdate") >= split))
    base.unionByName(delta)
      .groupBy("c_mktsegment")
      .agg((sum("cents").cast("double") / 100.0).as("revenue"),
        sum("n").as("n_orders"))
      .orderBy("c_mktsegment")
  }

  /** Grouped second moments — stddev and correlation — via exact
    * integer power sums (SURVEY §2.4 beyond-ref; the dashboard's
    * dispersion/association stats). Built-in `stddev`/`corr` sum raw
    * doubles across rows, so partial-aggregation order changes the
    * result bit-for-bit run to run (and engine to engine). Here each
    * row contributes scaled INTEGERS (quantity in cents, price in
    * whole dollars) and the shuffle carries six exact BIGINT power
    * sums (n, Σx, Σy, Σx², Σy², Σxy) — order-independent,
    * map-side-combinable, one tiny row per group. The float formula
    * then runs ONCE per group on exact inputs: a fixed IEEE op
    * sequence both engines evaluate identically. Same algebra at any
    * scale: the 100 TB shuffle still carries 6 longs per group. */
  def groupedMoments(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val sums = li
      .select(col("l_linestatus"),
        cents2(col("l_quantity")).as("qx"),
        floor(col("l_extendedprice") + lit(0.5)).cast("long").as("py"))
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum("qx").as("sx"), sum("py").as("sy"),
        sum(col("qx") * col("qx")).as("sxx"),
        sum(col("py") * col("py")).as("syy"),
        sum(col("qx") * col("py")).as("sxy"))
    // doubles only from here: every operand is an exactly-known integer
    val nD = col("n").cast("double")
    val (dsx, dsy) = (col("sx").cast("double"), col("sy").cast("double"))
    val (dsxx, dsyy, dsxy) =
      (col("sxx").cast("double"), col("syy").cast("double"),
        col("sxy").cast("double"))
    val varxNum = nD * dsxx - dsx * dsx
    val varyNum = nD * dsyy - dsy * dsy
    sums.select(col("l_linestatus"), col("n"),
        val6(sqrt(varxNum) / nD / lit(100.0)).as("stddev_qty"),
        val6(sqrt(varyNum) / nD).as("stddev_price"),
        val6((nD * dsxy - dsx * dsy) / (sqrt(varxNum) * sqrt(varyNum)))
          .as("corr_qty_price"))
      .orderBy("l_linestatus")
  }

  /** Fuzzy entity matching by edit distance with key blocking (SURVEY
    * §8.10 dedup family): near-identical part names within a brand.
    * The scale shape is dedup-first — project to DISTINCT (brand,
    * name), a grain that is bounded by the real-world vocabulary, not
    * the fact cardinality (64 names here; low millions at 100 TB) —
    * then a blocked self-join so the quadratic runs per brand over the
    * deduped set, never over raw rows. `levenshtein` is exact integer
    * DP, portable across engines. */
  def fuzzyNamePairs(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir)
      .select(col("p_brand"), col("p_name")).distinct()
    val right = names
      .select(col("p_brand").as("brand_r"), col("p_name").as("name_b"))
    names.select(col("p_brand"), col("p_name").as("name_a"))
      .join(right, col("p_brand") === col("brand_r")
        && col("name_a") < col("name_b"))
      .select(col("p_brand"), col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).cast("long")
          .as("edit_dist"))
      .filter(col("edit_dist") <= 2)
      .orderBy("p_brand", "name_a", "name_b")
  }

  /** Prefix-weighted fuzzy matching with the native [[graft.functions
    * .JaroWinklerSimilarity]] expression — the codegen'd custom-scalar
    * companion to [[fuzzyNamePairs]] (edit distance counts whole-string
    * edits; Jaro-Winkler favors shared prefixes, the usual choice for
    * names/identifiers). Same dedup-first + brand-blocked shape; the
    * expression inlines into whole-stage codegen so the per-pair cost
    * is the raw comparison, no UDF boxing. Threshold applies to the
    * val6-rounded score so both engines cut on the identical value. */
  def jaroNamePairs(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.JaroWinkler.jaroWinkler
    val names = Tables.part(spark, dir)
      .select(col("p_brand"), col("p_name")).distinct()
    val right = names
      .select(col("p_brand").as("brand_r"), col("p_name").as("name_b"))
    names.select(col("p_brand"), col("p_name").as("name_a"))
      .join(right, col("p_brand") === col("brand_r")
        && col("name_a") < col("name_b"))
      .select(col("p_brand"), col("name_a"), col("name_b"),
        val6(jaroWinkler(col("name_a"), col("name_b"))).as("jw"))
      .filter(col("jw") >= 0.9)
      .orderBy("p_brand", "name_a", "name_b")
  }

  /** q323 — the q83 fuzzy join served by the BANDED Levenshtein
    * expression ([[graft.functions.BoundedLevenshteinExpr]]): identical
    * results (`lev_bounded(a,b,k) ≤ k` ⟺ `levenshtein(a,b) ≤ k` — the
    * oracle states the builtin form), but each candidate pair costs
    * O(k·min(|a|,|b|)) with a length gate and a band-saturation bail
    * instead of the builtin's full O(|a|·|b|) matrix — at 100 TB the
    * blocked-pair population is the dominant cost and k is 1–3, so the
    * band is the difference between a 2×k-row strip and the whole
    * matrix per pair. Codegen'd: inlines into the same whole-stage
    * span as the join residual. */
  def fuzzyNamePairsBanded(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.BoundedLevenshtein.levBounded
    val names = Tables.part(spark, dir)
      .select(col("p_brand"), col("p_name")).distinct()
    val right = names
      .select(col("p_brand").as("brand_r"), col("p_name").as("name_b"))
    names.select(col("p_brand"), col("p_name").as("name_a"))
      .join(right, col("p_brand") === col("brand_r")
        && col("name_a") < col("name_b"))
      .select(col("p_brand"), col("name_a"), col("name_b"),
        levBounded(col("name_a"), col("name_b"), 2).cast("long")
          .as("edit_dist"))
      .filter(col("edit_dist") <= 2)
      .orderBy("p_brand", "name_a", "name_b")
  }

  /** Time-based RANGE window frame (SURVEY §2.5 beyond-ref): trailing
    * 7-day revenue per order priority. Unlike the ROWS frame of q47, a
    * RANGE frame is defined over the VALUE of the order key — days with
    * no orders still age out of the window, so the trailing sum is
    * correct over sparse dates without gap-filling first. The frame key
    * is an integer day number (epoch days) so both engines share exact
    * frame-boundary arithmetic; the windowed sum runs over integer
    * cents. Partitioned by priority: the window shuffles once on the
    * partition key and each partition sorts locally — no global sort,
    * no single-partition WindowExec. */
  def rangeFrameRevenue(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"),
        to_date(col("o_orderdate")).as("order_date"))
      .agg(sum(cents2(col("o_totalprice"))).as("day_cents"))
      .withColumn("day_num", datediff(col("order_date"), lit("1970-01-01")))
    val w = Window.partitionBy("o_orderpriority").orderBy("day_num")
      .rangeBetween(-6, Window.currentRow)
    daily
      .select(col("o_orderpriority"), col("order_date"),
        (col("day_cents").cast("double") / 100.0).as("revenue"),
        (sum("day_cents").over(w).cast("double") / 100.0).as("revenue_7d"))
      .orderBy("o_orderpriority", "order_date")
  }

  /** SQL-defined function (Spark 4 `CREATE FUNCTION … RETURN expr`) —
    * the engine-native macro layer a warehouse exposes so business
    * definitions (net price, charge) live ONCE in the catalog instead
    * of copy-pasted into every query. The body inlines into the plan at
    * analysis time: zero call overhead, full codegen, pushdown through
    * the function boundary — the oracle simply states the inlined math. */
  def sqlUdfRevenue(spark: SparkSession, dir: String): DataFrame = {
    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_net" +
      "(price DOUBLE, disc DOUBLE) RETURNS DOUBLE RETURN price * (1.0 - disc)")
    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_val4(x DOUBLE) " +
      "RETURNS DOUBLE RETURN CAST(CAST(FLOOR(x * 10000.0 + 0.5) AS BIGINT) " +
      "AS DOUBLE) / 10000.0")
    Tables.lineitem(spark, dir).createOrReplaceTempView("udf_lineitem")
    spark.sql(
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(FLOOR(graft_net(l_extendedprice, l_discount)
        |    * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS net_revenue,
        |  graft_val4(AVG(l_quantity)) AS avg_qty,
        |  COUNT(*) AS n
        |FROM udf_lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

  /** Ordered string aggregation (`listagg` / `string_agg`) — the
    * canonical "collapse a group to a delimited label" reporting op.
    * WITHIN GROUP ordering makes the text deterministic; grouping keys
    * keep the shuffle keyed and partial-aggregable. */
  def listaggNations(spark: SparkSession, dir: String): DataFrame = {
    Tables.nation(spark, dir).createOrReplaceTempView("la_nation")
    Tables.region(spark, dir).createOrReplaceTempView("la_region")
    spark.sql(
      """SELECT r_name AS region,
        |  listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations,
        |  COUNT(*) AS n_nations
        |FROM la_nation JOIN la_region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)
  }

  /** Error-safe (TRY) arithmetic: per-user purchase stats where the
    * denominator can be zero — `try_divide` yields NULL instead of the
    * ANSI error, the engine-level form of defensive metric math. All
    * inputs are exact integers (counts, cents), so the one emitted
    * division is deterministic. */
  def tryArithStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        sum(when(col("event_type") === "purchase", cents2(col("value")))
          .otherwise(0L)).as("purchase_cents"))
      .select(col("user_id"), col("n_events"), col("n_purchases"),
        (col("purchase_cents").cast("double") / 100.0).as("purchase_value"),
        val4(expr("try_divide(CAST(purchase_cents AS DOUBLE) / 100.0, " +
          "n_purchases)")).as("avg_purchase"))
      .orderBy("user_id")

  /** Exact DECIMAL money pipeline: cents enter as integers, become
    * DECIMAL(18,2) (an exact base-10 representation — no binary-float
    * hazard), aggregate in decimal arithmetic, and only the OUTPUT
    * boundary casts to double (one deterministic IEEE conversion per
    * emitted value). This is the 100 TB money discipline when the
    * storage schema is decimal end-to-end, complementing the
    * floor-scaled-BIGINT discipline of [[graft.util.Portable]] used
    * where inputs arrive as doubles. */
  def decimalMoney(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderstatus"), cents2(col("o_totalprice")).as("cents_i"),
        (cents2(col("o_totalprice")).cast("decimal(18,0)") /
          lit(100).cast("decimal(4,0)")).cast("decimal(18,2)").as("price_dec"))
      .groupBy("o_orderstatus")
      .agg(sum(col("price_dec")).as("total_dec"),
        sum(col("cents_i")).as("cents"),
        count(lit(1)).as("n"))
      .select(col("o_orderstatus"),
        // exact decimal sum, one double conversion at the boundary —
        // equals the floor-scaled BIGINT route bit-for-bit
        col("total_dec").cast("double").as("total_revenue"),
        // decimal DIVISION scale/round rules differ across engines, so
        // the average goes through exact integer cents instead
        val4(col("cents").cast("double") / lit(100.0) / col("n"))
          .as("avg_revenue"),
        col("n").as("n_orders"))
      .orderBy("o_orderstatus")

  /** CDC changelog apply — fold an ordered INSERT/UPDATE/DELETE op log
    * into the final table state, the batch core of every
    * change-data-capture ingest (Debezium→warehouse; the reference's
    * full-reload Silver notebooks are exactly what CDC replaces). The
    * log here derives deterministically from orders: every order
    * INSERTs at its order date; 'F'-status orders UPDATE (+10% price)
    * 30 days later; every 97th customer's orders DELETE 60 days later.
    *
    * Apply = keep the LATEST op per key (one window, partitioned by the
    * key — shuffles once on the key like any keyed agg, no global
    * state), then drop keys whose latest op is DELETE. Op-rank breaks
    * same-timestamp ties (I < U < D at equal ts can't happen here; the
    * rank guards the general contract). */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).filter(col("o_orderkey") < 2000)
    val ins = o.select(col("o_orderkey").as("order_id"),
      lit("I").as("op"), col("o_orderdate").as("op_ts"),
      col("o_totalprice").as("price"), col("o_orderstatus").as("status"))
    val upd = o.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("order_id"), lit("U").as("op"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("op_ts"),
        val2(col("o_totalprice") * lit(1.1)).as("price"),
        col("o_orderstatus").as("status"))
    val del = o.filter(col("o_custkey") % 97 === 0)
      .select(col("o_orderkey").as("order_id"), lit("D").as("op"),
        (col("o_orderdate") + expr("INTERVAL 60 DAYS")).as("op_ts"),
        lit(null).cast("double").as("price"),
        lit(null).cast("string").as("status"))
    val log = ins.unionByName(upd).unionByName(del)
    val opRank = when(col("op") === "D", 3)
      .when(col("op") === "U", 2).otherwise(1)
    log
      .withColumn("rn", row_number().over(
        Window.partitionBy("order_id")
          .orderBy(col("op_ts").desc, opRank.desc)))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("order_id"), col("op").as("last_op"),
        val2(col("price")).as("final_price"), col("status"))
      .orderBy("order_id")
  }

  /** 2-D skyline (Pareto frontier): parts not dominated on
    * (minimize p_retailprice, maximize p_size) — "no other part is both
    * cheaper-or-equal and larger-or-equal with one strict". The naive
    * form is a quadratic NOT EXISTS self-join (the oracle states it
    * that way); the engine form is O(n log n): collapse to the distinct
    * price domain, running-max the size over strictly-cheaper prices
    * (a lag of the cumulative max per distinct price), and a part
    * survives iff it beats that running max AND tops its own price
    * group. The frontier window runs over the compressed distinct-price
    * domain; at 100 TB the same two-phase offset trick as
    * [[denseGlobalRank]] replaces the single-partition ordered window —
    * the per-part work stays one broadcast-joined filter pass. */
  def skylineParts(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
      .select("p_partkey", "p_brand", "p_retailprice", "p_size")
    val perPrice = parts.groupBy("p_retailprice")
      .agg(max(col("p_size")).as("price_max_size"))
    val frontier = perPrice.withColumn("cheaper_max_size",
      max(col("price_max_size")).over(
        Window.orderBy("p_retailprice")
          .rowsBetween(Window.unboundedPreceding, -1)))
    parts
      .join(broadcast(frontier), "p_retailprice")
      .filter(
        (col("cheaper_max_size").isNull ||
          col("cheaper_max_size") < col("p_size")) &&
        col("p_size") === col("price_max_size"))
      .select("p_partkey", "p_brand", "p_retailprice", "p_size")
      .orderBy("p_retailprice", "p_partkey")
  }
}
