package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, NumericType, StringType}

/** Silver-layer cleansing — the Spark-native form of the reference's
  * per-table `transform_with_pandas` driver loop
  * (ecom_Silver_Layer.ipynb:191–289; SURVEY §2 U2, A13, A14, F1, F10,
  * F15, P5, F8/F9).
  *
  * The reference pulls every bronze table into driver pandas, dedups,
  * median/constant-fills nulls, stamps an audit timestamp, parses
  * timestamps with NULL-on-fail, drops rows with invalid date ranges and
  * derives day-count durations — then truncate-loads the result. Here
  * the same pipeline is a composition of pure `DataFrame => DataFrame`
  * stages that run distributed; the only driver-side values are the
  * per-column medians (a one-row aggregate, computed in a single pass
  * over all numeric columns) and the captured batch timestamp.
  *
  * Scale: dedup is the only shuffle; fills/parses/durations are map-only
  * and stay inside whole-stage codegen. Median fill uses
  * percentile_approx (mergeable sketch) rather than an exact sort.
  */
object Silver {

  /** Full-row dedup (U2; ipynb:198–199). */
  def dedup(df: DataFrame): DataFrame = df.dropDuplicates()

  /** Key dedup keeping the first row by `orderBy` (U3/W2; app.py:116). */
  def dedupByKey(df: DataFrame, key: Seq[String], orderBy: Seq[Column]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Multi-format timestamp parse with NULL-on-fail (F1; reference
    * app.py:22–40 tries 5 formats, ipynb:173–189 `errors='coerce'`).
    * Spark 4 runs ANSI mode by default, so plain `to_timestamp` THROWS
    * on mismatch — `try_to_timestamp` restores the reference's coerce
    * semantics; coalesce walks the format list in priority order. */
  val defaultFormats: Seq[String] = Seq(
    "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss", "dd-MM-yyyy HH:mm",
    "yyyy/MM/dd HH:mm:ss", "yyyy-MM-dd")

  def parseTimestamp(c: Column, formats: Seq[String] = defaultFormats): Column =
    coalesce(formats.map(f => try_to_timestamp(c, lit(f))): _*)

  /** Median fill for numeric columns in ONE aggregation pass (A14/F15;
    * ipynb:204–214 loops per column in the driver — here all
    * percentile_approx sketches ride a single job), plus constant fills:
    * strings → "Unknown", explicit overrides per column
    * (ipynb:218–246: zip → "0", payment_value → 100.0). */
  def fillNulls(df: DataFrame,
      medianCols: Seq[String] = Seq.empty,
      stringDefault: String = "Unknown",
      overrides: Map[String, Any] = Map.empty): DataFrame = {
    val medians: Map[String, Double] =
      if (medianCols.isEmpty) Map.empty
      else {
        val row = df.select(medianCols.map(c =>
          percentile_approx(col(c).cast(DoubleType), lit(0.5), lit(10000))
            .as(c)): _*).first()
        medianCols.zipWithIndex.collect {
          case (c, i) if !row.isNullAt(i) => c -> row.getDouble(i)
        }.toMap
      }
    val stringCols = df.schema.fields.collect {
      case f if f.dataType == StringType && !overrides.contains(f.name) => f.name
    }
    df.na.fill(medians)
      .na.fill(stringDefault, stringCols)
      .na.fill(overrides.collect { case (k, v: Double) => k -> (v: Any) })
      .na.fill(overrides.collect { case (k, v: String) => k -> (v: Any) })
      .na.fill(overrides.collect { case (k, v: Long) => k -> (v: Any) })
      .na.fill(overrides.collect { case (k, v: Int) => k -> (v.toLong: Any) })
  }

  /** Audit timestamp captured ONCE per batch for determinism (F10;
    * ipynb:248 stamps pandas now() per table — we freeze one instant). */
  def withAudit(df: DataFrame, batchTs: java.sql.Timestamp): DataFrame =
    df.withColumn("load_timestamp", lit(batchTs))

  /** Validity filter + integer-day duration (P5/F8; ipynb:264–282:
    * drop rows where either endpoint is null, derive day counts). */
  def withDurationDays(df: DataFrame, startCol: String, endCol: String,
      as: String): DataFrame =
    df.filter(col(startCol).isNotNull && col(endCol).isNotNull)
      .withColumn(as, datediff(col(endCol), col(startCol)))

  /** The reference's raw event-stream timestamp text
    * (`2025-11-05 21:10:58.201676 UTC`) plus the generic fallbacks. */
  val lifecycleFormats: Seq[String] =
    "yyyy-MM-dd HH:mm:ss.SSSSSS 'UTC'" +: defaultFormats

  /** The full synthetic_order_lifecycle cleanse, exactly the reference's
    * per-table driver pass (ecom_Silver_Layer.ipynb:191–289, golden
    * output `Data Sets/Cleansed Data/synthetic_order_lifecycle.csv`):
    * full-row dedup → numeric NULLs filled 0 (the [SYNTHETIC] branch,
    * ipynb:204–210) / string NULLs 'Unknown' → constant audit
    * `load_timestamp` → event_timestamp parsed UTC with NULL-on-fail,
    * unparseable rows dropped → `days_since_event` = whole days between
    * the batch instant and the event. Floor semantics match pandas
    * `Timedelta.days` (floor toward -inf — events AFTER the batch
    * instant give negative days, which the golden file contains), NOT
    * `datediff` (which counts date boundaries). GoldenFixtureSpec pins
    * this bit-for-bit against the reference's published output. */
  def cleanseLifecycle(raw: DataFrame, batchTs: java.sql.Timestamp): DataFrame = {
    val numericCols = raw.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }
    val filled = fillNulls(dedup(raw),
      overrides = numericCols.map(_ -> (0.0: Any)).toMap)
    // The raw text is explicitly UTC ('… UTC' suffix) but try_to_timestamp
    // interprets wall clocks in the SESSION zone — re-anchor through
    // to_utc_timestamp(…, sessionTz) so the parse is session-independent
    // (identity under a UTC session; correct shift under any other).
    val sessionTz = raw.sparkSession.sessionState.conf.sessionLocalTimeZone
    withAudit(filled, batchTs)
      .withColumn("event_timestamp",
        to_utc_timestamp(
          parseTimestamp(col("event_timestamp"), lifecycleFormats),
          sessionTz))
      .filter(col("event_timestamp").isNotNull)
      .withColumn("days_since_event",
        floor((unix_micros(col("load_timestamp")) -
          unix_micros(col("event_timestamp"))).cast("double")
          / lit(86400e6)).cast("int"))
  }

  /** Observed DQ metrics: piggyback row/null/dup-proxy counters on a
    * pipeline stage with `Dataset.observe` — the counters ride the
    * existing job (accumulator-backed, zero extra passes over the
    * data), where [[nullCounts]] costs one dedicated aggregation job.
    * This is how a production Silver layer emits its audit counters at
    * 100 TB: the cleanse job itself reports them, and a
    * `QueryExecutionListener` (or `StreamingQueryListener` for streams)
    * ships them to the metrics sink. The reference prints its
    * counters from driver-side pandas (ecom_Silver_Layer.ipynb:196–246);
    * this is that audit without the extra pass. */
  def observed(df: DataFrame, name: String, watchCols: Seq[String]): DataFrame =
    df.observe(name, count(lit(1)).as("rows"),
      watchCols.map(c => sum(col(c).isNull.cast("long")).as(s"nulls_$c")): _*)

  /** Count nulls per column in one pass. */
  def nullCounts(df: DataFrame, cols: Seq[String]): Map[String, Long] = {
    if (cols.isEmpty) return Map.empty
    val row = df.select(cols.map(c =>
      sum(col(c).isNull.cast("long")).as(c)): _*).first()
    cols.zipWithIndex.map { case (c, i) =>
      c -> (if (row.isNullAt(i)) 0L else row.getLong(i)) }.toMap
  }
}
