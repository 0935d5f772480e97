package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** SCD Type 2 dimension history — the reference's one genuinely stateful
  * batch operator (SURVEY §2.9; reference Scd_Type2.sql:13–53, 94–140).
  *
  * Semantics preserved from the reference MERGE:
  *   - match on business key where `is_current`
  *   - changed row (row-hash differs) → close old version
  *     (`valid_to = load_ts`, `is_current = false`) and insert the new
  *     current version
  *   - unmatched source key → insert new current version
  *   - surrogate keys continue from MAX(existing) via ROW_NUMBER
  *     (Scd_Type2.sql:33–34)
  *
  * Two deliberate fixes over the reference (documented divergences):
  *   1. The reference's MATCHED branch overwrites the closed row's own
  *      row_hash with the source hash (Scd_Type2.sql:43) — a bug; we
  *      keep the closed row intact.
  *   2. BigQuery MERGE cannot insert and update from the same source row,
  *      so the reference only materializes a changed row's new version on
  *      the *next* run; we do the standard close-AND-insert in one pass.
  *
  * One derivation, [[history]]: a change log of (key, tracked columns,
  * ts) becomes the history through one window on the key and one
  * two-phase global rank for the SKs. [[initialLoad]] is the history of a
  * one-batch log, [[merge]] the history of the current rows plus the
  * staging batch, and the stream's `finalizeHistory` the history of its
  * emitted version starts. At 100 TB the same plan holds: the window
  * shuffles on the key (AQE skew-handled), the rank collects one long
  * per range partition, and the history table is partitioned
  * by `DATE(valid_from)` / bucketed by key on write (reference
  * Scd_Type2.sql:91–92) so point-in-time reads prune.
  */
object Scd2 {
  /** Open-ended `valid_to` sentinel. Deliberately NOT 9999-12-31: ns-based
    * parquet readers (pandas/pyarrow coerce timestamps to datetime64[ns],
    * whose max is 2262-04-11) silently wrap 9999-12-31 to 1816-03-30,
    * which breaks any downstream exact compare. 2261-12-31 is the same
    * "forever" semantically and survives every reader. */
  val FarFuture = "2261-12-31 23:59:59"

  case class Config(
      keyCol: String,
      trackedCols: Seq[String],
      skCol: String = "sk")

  /** Row hash over tracked attributes (reference Scd_Type2.sql:25–32
    * MD5(CONCAT(COALESCE(...)))) — we insert a  separator because
    * the reference's plain CONCAT is collision-prone across column
    * boundaries (SURVEY §1.4). */
  def rowHash(cfg: Config): Column =
    md5(concat_ws("\u0001",
      cfg.trackedCols.map(c => coalesce(col(c).cast("string"), lit(""))): _*))

  /** The dimension's columns, in output order. */
  private def dimCols(cfg: Config): Seq[Column] =
    (Seq(cfg.keyCol) ++ cfg.trackedCols ++ Seq(cfg.skCol, "valid_from",
      "valid_to", "is_current")).map(col)

  /** The SCD2 history of a change log: `log` holds the key, the tracked
    * columns and the change time `tsCol`, and may carry an SK column
    * (`cfg.skCol`) on rows that are already versions.
    *
    *   - Per key, in `tsCol` order, a row starts a version when its
    *     [[rowHash]] differs from the previous row's; an unchanged repeat
    *     starts nothing.
    *   - A version ends where the key's next version starts
    *     (`valid_to`, [[FarFuture]] and `is_current` for the last).
    *   - Tie rule: of several rows of one key at one `tsCol`, the one
    *     with the greatest row hash is kept. Rows equal in hash are equal
    *     in every tracked column (NULL reads as ''), so the result does
    *     not depend on input order, and no version has zero length.
    *   - Version starts without an SK are numbered in (`valid_from`, key)
    *     order, continuing from the highest SK in the log (0 when there
    *     is none); rows that carry an SK keep it.
    *
    * One window (`partitionBy(key).orderBy(ts)`: one shuffle, three
    * passes over its sorted partitions) and one two-phase
    * [[Relational.globalRankedPrefixSum]], the same kernel as
    * [[Relational.denseGlobalRank]], counting only the starts that still
    * need an SK. */
  def history(log: DataFrame, cfg: Config, tsCol: String): DataFrame = {
    val k = cfg.keyCol
    val sk = col(cfg.skCol)
    val hasSk = log.columns.contains(cfg.skCol)
    // Scd_Type2.sql:34's scalar subquery → one collected scalar
    val base =
      if (hasSk) log.agg(coalesce(max(sk), lit(0L))).first().getLong(0)
      else 0L
    val byKey = Window.partitionBy(k).orderBy(col("valid_from"), col("__h"))
    val starts = log
      .select(col(k) +: cfg.trackedCols.map(col) :+
        (if (hasSk) sk else lit(null).cast("long").as(cfg.skCol)) :+
        col(tsCol).as("valid_from"): _*)
      .withColumn("__h", rowHash(cfg))
      // the tie rule: only the last row of each (key, ts) in window order
      .withColumn("__tie",
        coalesce(lead("valid_from", 1).over(byKey) === col("valid_from"),
          lit(false)))
      .filter(!col("__tie"))
      .withColumn("__same",
        coalesce(lag("__h", 1).over(byKey) === col("__h"), lit(false)))
      .filter(!col("__same"))
      .withColumn("valid_to", lead("valid_from", 1).over(byKey))
      .withColumn("__ord", struct(col("valid_from"), col(k)))
      .withColumn("__new", when(sk.isNull, 1L).otherwise(0L))
    Relational.globalRankedPrefixSum(starts, "__ord", "__new", "__rank",
        "__cum")
      .withColumn(cfg.skCol, coalesce(sk, col("__cum") + lit(base)))
      .withColumn("is_current", col("valid_to").isNull)
      .withColumn("valid_to",
        coalesce(col("valid_to"), to_timestamp(lit(FarFuture))))
      .select(dimCols(cfg): _*)
  }

  /** Initial dimension load: the history of `staging` as a one-batch log
    * at `loadTs` — one current version per key, SKs 1..n in key order. */
  def initialLoad(staging: DataFrame, cfg: Config, loadTs: Column): DataFrame =
    history(staging.withColumn("valid_from", loadTs), cfg, "valid_from")

  /** One merge pass: `dim` is the full history table (current + closed
    * rows), `staging` carries the key + tracked columns, stamped at
    * `loadTs` (later than every version in `dim`). Returns the new full
    * history: the closed rows as they are, plus the [[history]] of the
    * current rows and the staging batch. Existing versions keep their
    * SKs; new ones continue from the current rows' maximum, which is the
    * dimension's maximum, since every version this object starts gets a
    * larger SK than the one it closes. */
  def merge(dim: DataFrame, staging: DataFrame, cfg: Config,
      loadTs: Column): DataFrame = {
    val keyed = (cfg.keyCol +: cfg.trackedCols).map(col)
    val log = dim.filter(col("is_current"))
      .select(keyed :+ col(cfg.skCol) :+ col("valid_from"): _*)
      .unionByName(staging.select(keyed :+
        lit(null).cast("long").as(cfg.skCol) :+ loadTs.as("valid_from"): _*))
    dim.filter(!col("is_current")).select(dimCols(cfg): _*)
      .unionByName(history(log, cfg, "valid_from"))
  }

  /** The "latest version" view every consumer reads by default. */
  def currentView(dim: DataFrame): DataFrame = dim.filter(col("is_current"))

  /** Deterministic verify scenario over TESTDATA `orders`: initial load
    * of 80% of keys at T1, then a staging batch where every key
    * divisible by 5 flips its status (simulated CDC update à la
    * Scd_Type2.sql:7–11) plus the remaining 20% as new keys, merged at
    * T2. Output = full history. */
  def ordersScenario(spark: SparkSession, dir: String): DataFrame =
    ordersHistory(spark, dir).orderBy("order_id", "valid_from")

  /** The scenario's full history, unordered — shared by the merge query
    * (q23) and the as-of lookup (q43). */
  def ordersHistory(spark: SparkSession, dir: String): DataFrame = {
    val cfg = Config("order_id",
      Seq("order_status", "total_price", "priority"), "order_sk")
    val t1 = to_timestamp(lit("2024-01-01 00:00:00"))
    val t2 = to_timestamp(lit("2024-06-01 00:00:00"))
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey").as("order_id"),
      col("o_orderstatus").as("order_status"),
      col("o_totalprice").as("total_price"),
      col("o_orderpriority").as("priority"))
    val initial = o.filter(col("order_id") % 10 < 8)
    val staging = o.withColumn("order_status",
      when(col("order_id") % 5 === 0, lit("D")).otherwise(col("order_status")))
    // dim0's rank already sits on a localCheckpoint, so merge()'s two
    // dim0 branches (closed rows, the current rows in its log) and its
    // MAX(sk) probe read the checkpoint, not the orders scan
    merge(initialLoad(initial, cfg, t1), staging, cfg, t2)
  }

  /** Written-history cache: one parquet materialization per source dir
    * per JVM, so repeated probes (and bench re-runs) read the TABLE
    * instead of re-executing the merge lineage. */
  private val histTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The scenario history materialized as a partitioned parquet TABLE —
    * the deployment shape: an SCD2 history is a table consumers probe,
    * not a lineage they re-derive (reference Scd_Type2.sql:91–92
    * partitions the dimension by date + clusters by key for exactly
    * this read). Partitioned by `valid_dt = DATE(valid_from)` so a
    * point-in-time read with a version-date predicate prunes whole
    * partitions at plan time (Scd2HistoryTableSpec proves it); callers
    * that don't filter on it just drop the extra column. Written once
    * per source dir per JVM (merge lineage executes exactly once),
    * `repartition(valid_dt)` keeps one writer task per partition —
    * no small-file spray. */
  def ordersHistoryTable(spark: SparkSession, dir: String): DataFrame = {
    val path = histTables.computeIfAbsent(dir, d => {
      // 128-bit name-UUID of the dir, not String.hashCode: 32-bit
      // hashCode collisions would silently serve dir A's history for
      // dir B. The path also carries the PROCESS id: the dir-keyed map
      // only serializes writers within one JVM, and two JVMs sharing a
      // path (Verify and Bench running concurrently) would overwrite
      // the table the other is mid-read on.
      val out = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        "graft_scd2_hist_" + java.util.UUID
          .nameUUIDFromBytes(d.getBytes).toString.take(16) +
          "_p" + ProcessHandle.current().pid()).toString
      ordersHistory(spark, d)
        .withColumn("valid_dt", to_date(col("valid_from")))
        .repartition(col("valid_dt"))
        .write.mode("overwrite").partitionBy("valid_dt").parquet(out)
      out
    })
    spark.read.parquet(path)
  }

  /** Point-in-time (as-of) lookup: each probe (key, ts) resolves to the
    * dimension version whose `[valid_from, valid_to)` interval covers the
    * probe timestamp — the query every SCD2 table exists to answer
    * (reference Scd_Type2.sql:91–92 partitions/clusters the history for
    * exactly this read). Probes before a key's first version drop out
    * (inner join), which the scenario exercises via the 20% of keys born
    * at T2. Probes run against [[ordersHistoryTable]] — the materialized
    * parquet history — NOT the merge lineage: re-deriving the dimension
    * per probe join re-executes the whole merge (the round-3 q43
    * regression), while a table scan is one columnar read.
    *
    * Scale shape: equi-join on the business key carries the work — the
    * validity-range predicate is a residual filter on the joined row, so
    * this is a plain broadcast/shuffled hash join, never a nested-loop
    * range join. A 100 TB deployment joins fact-sized probes against a
    * dimension-sized history: NO broadcast hint here on purpose — AQE
    * picks broadcast when the history's runtime size fits
    * `autoBroadcastJoinThreshold` and falls back to a key-shuffled join
    * when it doesn't (history rows per key are the version count, so no
    * skew beyond the fact's own key skew). A hard `broadcast()` hint
    * would OOM the driver the day the dimension outgrows it. */
  def asOfLookup(spark: SparkSession, dir: String): DataFrame = {
    val hist = ordersHistoryTable(spark, dir).drop("valid_dt")
    val probes = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("order_id"))
      .withColumn("probe_ts", explode(array(
        to_timestamp(lit("2024-03-01 00:00:00")),
        to_timestamp(lit("2024-07-01 00:00:00")))))
    asOfJoin(probes, hist, "order_id", "probe_ts")
      .select(col("order_id"), col("probe_ts"),
        col("order_status"), col("order_sk"))
      .orderBy("order_id", "probe_ts")
  }

  /** Generic point-in-time join: each probe row resolves to the history
    * version whose `[validFrom, validTo)` interval covers `tsCol`.
    * Probes before a key's first version drop out (inner join). The
    * history's columns come back alongside the probe columns (history
    * key/validity columns deduplicated away). Scale shape per
    * [[asOfLookup]]: key equi-join carries the work, the validity range
    * is a residual predicate, AQE picks broadcast vs shuffle. */
  def asOfJoin(probes: DataFrame, history: DataFrame, keyCol: String,
      tsCol: String, validFrom: String = "valid_from",
      validTo: String = "valid_to"): DataFrame = {
    val h = history.as("__h")
    val joined = probes.as("__p").join(h,
      col(s"__p.$keyCol") === col(s"__h.$keyCol") &&
      col(s"__h.$validFrom") <= col(s"__p.$tsCol") &&
      col(s"__p.$tsCol") < col(s"__h.$validTo"))
    val histCols = history.columns
      .filterNot(c => c == keyCol || c == validFrom || c == validTo)
    joined.select(
      probes.columns.map(c => col(s"__p.$c")) ++
        histCols.map(c => col(s"__h.$c")): _*)
  }
}
