package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A DataSource V2 connector: deterministic synthetic event stream.
  *
  * The reference *claims* Kafka/PubSub-ready event ingestion but
  * simulates it with Faker in the driver (reference README.md:27, 53;
  * requirements.txt:7) — non-reproducible, single-process. This is the
  * Spark-native version of that claim: a first-class connector whose
  * "topic" is a pure function of the row id, so it scales to any
  * parallelism and every read is bit-reproducible.
  *
  * Engine surface demonstrated (all three DSv2 optimization hooks):
  *   - **column pruning** (`SupportsPushDownRequiredColumns`): the
  *     reader materializes only requested fields — `select(count(*))`
  *     never computes an md5;
  *   - **filter pushdown** (`SupportsPushDownFilters`): range/equality
  *     predicates on `event_id` narrow the generated id interval and are
  *     fully absorbed (not re-evaluated by Spark);
  *   - **partition pruning**: `planInputPartitions` intersects each
  *     id-chunk with the pushed range and drops empty chunks, so a
  *     narrow filter schedules fewer tasks — the generator's analogue of
  *     parquet row-group/partition skipping.
  *
  * Determinism contract (mirrors [[graft.util.Portable.portable32]]):
  * `h = first-8-hex-chars(md5(id)) as u32`; `user_id = h % users`;
  * `event_type = types[(h / users) % 5]`; `value = (h % 10000)/100.0`;
  * `ts = start + id seconds`. The DuckDB oracle replays the identical
  * arithmetic from `range()`, making a custom SOURCE hash-verifiable —
  * see SparkEntry q71.
  *
  * Options: `rows` (default 100000), `partitions` (default 8),
  * `users` (default 500), `start` (epoch seconds, default 2024-01-01).
  */
class EventGenSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-eventgen"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EventGen.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new EventGenTable(new CaseInsensitiveStringMap(properties))
}

object EventGen {

  /** q71: aggregate a filtered window of the generated stream. The
    * event_id range predicate is absorbed by the source (filter
    * pushdown) and prunes 4 of the 10 generated partitions before any
    * task launches; the DuckDB oracle regenerates the identical rows
    * from `range()` with the same md5 arithmetic — a custom source whose
    * OUTPUT is hash-verified, not just row-counted. */
  def typeSummary(spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.util.Portable._
    spark.read.format("graft-eventgen")
      .option("rows", 100000L).option("partitions", 10)
      .option("users", 500L).load()
      .filter(col("event_id") >= 20000L && col("event_id") < 80000L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        sumMoney2(col("value")).as("total_value"),
        min("ts").as("first_ts"))
      .orderBy("event_type")
  }

  /** q317: the SAME aggregate shape served by AGGREGATE PUSHDOWN
    * (`SupportsPushDownAggregates`) — the GROUP BY event_type
    * COUNT/SUM(user_id)/MIN/MAX(value) collapses inside each partition
    * reader, so the scan emits ≤ partitions·|types| pre-aggregated
    * rows instead of 60k generated events, composed UNDER the absorbed
    * event_id range filters (pushdown only fires when no residual
    * filter remains — the DSv2 contract). Spark's final merge
    * aggregate makes it the partial-pushdown shape every JDBC-class
    * connector implements; `Round13Spec` pins that the executed scan
    * really served the aggregation and that a non-absorbable filter
    * falls back to the row path with identical results. */
  def aggPushSummary(spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.format("graft-eventgen")
      .option("rows", 100000L).option("partitions", 10)
      .option("users", 500L).load()
      .filter(col("event_id") >= 20000L && col("event_id") < 80000L)
      .groupBy("event_type")
      .agg(count(col("event_id")).as("n_events"),
        sum("user_id").as("sum_uid"),
        min("value").as("min_value"),
        max("value").as("max_value"))
      .orderBy("event_type")
  }

  /** q326: ORDER BY event_id DESC LIMIT 50 served by TOP-N PUSHDOWN
    * (`SupportsPushDownTopN`, composed UNDER the absorbed range
    * filters): ids are the sort order, so the top-n window collapses
    * to a closed-form 50-id sub-range — the readers generate 50 rows
    * instead of 60k, and Spark's TakeOrderedAndProject runs over those
    * survivors (the partial contract). A bare LIMIT takes the
    * `SupportsPushDownLimit` path the same way. `Round13Spec` pins the
    * executed scan's id range and the unpushed-equivalence. */
  def topNPushSummary(spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.format("graft-eventgen")
      .option("rows", 100000L).option("partitions", 10)
      .option("users", 500L).load()
      .filter(col("event_id") >= 20000L && col("event_id") < 80000L)
      .orderBy(col("event_id").desc)
      .limit(50)
  }

  /** q74: the SAME connector read as a rate-limited micro-batch stream
    * (5 triggers × 10k ids via admission control), aggregated and
    * drained with AvailableNow. The oracle regenerates the full id
    * range — stream-drain must equal batch generation, the
    * batch≡stream contract the connector's two capabilities promise. */
  def streamTypeCounts(spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.util.Portable._
    val counts = spark.readStream.format("graft-eventgen")
      .option("rows", 50000L).option("batchRows", 10000L)
      .option("users", 500L).load()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sumMoney2(col("value")).as("total_value"))
    graft.streaming.Drain.toMemory(counts, "complete", "eventgen_stream_sink")
      .orderBy("event_type")
  }

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  val types: Array[String] = Array("view", "cart", "purchase", "refund", "support")

  /** First 8 hex chars of md5(decimal string of id), as an unsigned int
    * in a long — byte-identical to Portable.portable32 / the DuckDB
    * `CAST('0x'||substr(md5(x),1,8) AS BIGINT)` macro. */
  def hash32(id: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(java.lang.Long.toString(id).getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }
}

class EventGenTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = "graft_eventgen"
  override def schema(): StructType = EventGen.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new EventGenScanBuilder(
      rows = options.getLong("rows", 100000L),
      numPartitions = options.getInt("partitions", 8),
      users = options.getLong("users", 500L),
      startSec = options.getLong("start", 1704067200L), // 2024-01-01 UTC
      batchRows = options.getLong("batchRows", 10000L))
}

class EventGenScanBuilder(rows: Long, numPartitions: Int, users: Long,
    startSec: Long, batchRows: Long = 10000L)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {

  private var lo: Long = 0L
  private var hi: Long = rows // exclusive
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = EventGen.schema
  private var aggOps: Option[Seq[String]] = None
  private var aggSchema: StructType = EventGen.schema
  private var pushedShape: Option[String] = None // "limit(n)"/"topN(...)"

  // both default methods collide in Scala's linearization; state the
  // shared answer once: the source pre-trims, Spark finishes
  override def isPartiallyPushed(): Boolean = true

  /** LIMIT pushdown: any `n` generated rows satisfy a bare LIMIT, so
    * the id range shrinks to its first n ids — the readers generate n
    * rows total instead of the full range. Partial contract: Spark
    * still applies its own LIMIT on top. */
  override def pushLimit(limit: Int): Boolean = {
    hi = math.min(hi, lo + limit)
    pushedShape = Some(s"limit($limit)")
    true
  }

  /** ORDER BY event_id [ASC|DESC] LIMIT n pushdown: ids ARE the
    * order, so the top-n window is a closed-form sub-range — the
    * row-transfer win without generating, sorting, or shipping the
    * rest. Partial contract (`isPartiallyPushed` default true): Spark
    * keeps its TakeOrderedAndProject over the ≤n survivors. */
  override def pushTopN(orders: Array[SortOrder], limit: Int): Boolean = {
    val ok = orders.length == 1 && (orders(0).expression() match {
      case nr: NamedReference =>
        nr.fieldNames.length == 1 && nr.fieldNames()(0) == "event_id"
      case _ => false
    })
    if (!ok) return false
    if (orders(0).direction() == SortDirection.ASCENDING)
      hi = math.min(hi, lo + limit)
    else
      lo = math.max(lo, hi - limit)
    pushedShape = Some(s"topN(event_id ${orders(0).direction()}, $limit)")
    true
  }

  /** Absorb event_id range/equality predicates into the generated
    * interval; everything else stays with Spark. An absorbed filter is
    * NOT re-evaluated post-scan, so the interval math must be exact. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (absorbed, residual) = filters.partition {
      case GreaterThan("event_id", _: Number) => true
      case GreaterThanOrEqual("event_id", _: Number) => true
      case LessThan("event_id", _: Number) => true
      case LessThanOrEqual("event_id", _: Number) => true
      case EqualTo("event_id", _: Number) => true
      case _ => false
    }
    absorbed.foreach {
      case GreaterThan("event_id", v: Number) => lo = math.max(lo, v.longValue() + 1)
      case GreaterThanOrEqual("event_id", v: Number) => lo = math.max(lo, v.longValue())
      case LessThan("event_id", v: Number) => hi = math.min(hi, v.longValue())
      case LessThanOrEqual("event_id", v: Number) => hi = math.min(hi, v.longValue() + 1)
      case EqualTo("event_id", v: Number) =>
        lo = math.max(lo, v.longValue()); hi = math.min(hi, v.longValue() + 1)
      case _ => ()
    }
    pushed = absorbed
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Aggregate pushdown (`SupportsPushDownAggregates`): a
    * GROUP BY event_type over COUNT(*)/COUNT(col), SUM(user_id),
    * MIN(value), MAX(value) collapses in the reader — each partition
    * emits ≤ |types| pre-aggregated rows instead of its id range, so
    * the exchange carries partitions·|types| rows at ANY generated
    * volume (the row-transfer win aggregate pushdown exists for; Spark
    * still runs the final merge aggregate, so this is the PARTIAL
    * contract and values stay exact). Composes with the absorbed
    * event_id range filters: Spark only offers the aggregation once
    * every pushed filter left no residual. Anything outside this shape
    * (distinct, other columns, float sums whose partial order Spark
    * may not fix) is declined and falls back to the row scan. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    def fieldOf(e: Expression): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    val grpOk = aggregation.groupByExpressions.toSeq match {
      case Seq(g) => fieldOf(g).contains("event_type")
      case _ => false
    }
    if (!grpOk) return false
    val ops: Seq[Option[(String, DataType)]] =
      aggregation.aggregateExpressions.toSeq.map {
        case _: CountStar => Some("count_star" -> LongType)
        case c: Count if !c.isDistinct
            && fieldOf(c.column).contains("event_id") =>
          Some("count_star" -> LongType) // event_id is never null
        case s: Sum if !s.isDistinct
            && fieldOf(s.column).contains("user_id") =>
          Some("sum_user_id" -> LongType)
        case m: Min if fieldOf(m.column).contains("value") =>
          Some("min_value" -> DoubleType)
        case m: Max if fieldOf(m.column).contains("value") =>
          Some("max_value" -> DoubleType)
        case _ => None
      }
    if (ops.exists(_.isEmpty)) return false
    aggOps = Some(ops.flatten.map(_._1))
    // the pushed-scan schema convention (positional): group-by columns
    // first, then each aggregate in its pushed order. Field names are
    // POSITION-suffixed: COUNT(*) and COUNT(event_id) both push as the
    // count_star op, and a query using both would otherwise produce a
    // readSchema() with duplicate field names — Spark consumes the
    // schema positionally either way, but name-based schema consumers
    // break on duplicates (the reader's op dispatch keys on the
    // unsuffixed aggOps, so emission is unaffected).
    aggSchema = StructType(
      StructField("event_type", StringType, nullable = false) +:
        ops.flatten.zipWithIndex.map { case ((n, t), i) =>
          StructField(s"${n}_$i", t, nullable = false) })
    true
  }

  override def build(): Scan =
    new EventGenScan(lo, math.max(lo, hi), numPartitions, users, startSec,
      if (aggOps.isDefined) aggSchema else required, rows, batchRows,
      aggOps, pushedShape)
}

case class EventGenPartition(start: Long, end: Long) extends InputPartition

class EventGenScan(lo: Long, hi: Long, numPartitions: Int, users: Long,
    startSec: Long, required: StructType, totalRows: Long,
    batchRows: Long = 10000L, aggOps: Option[Seq[String]] = None,
    pushedShape: Option[String] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new EventGenMicroBatchStream(lo, hi, numPartitions, users, startSec,
      required, batchRows)
  override def description(): String =
    s"EventGen[range=[$lo,$hi), partitions<=$numPartitions, " +
      s"pruned=${required.fieldNames.mkString(",")}" +
      aggOps.map(o => s", aggPushed=${o.mkString("+")}").getOrElse("") +
      pushedShape.map(s => s", pushed=$s").getOrElse("") + "]"

  /** Chunk the FULL id space evenly, then intersect each chunk with the
    * pushed range — empty chunks are never scheduled (partition
    * pruning), and surviving chunk boundaries are independent of the
    * filter so task splits stay stable across queries. */
  override def planInputPartitions(): Array[InputPartition] = {
    val per = math.max(1L, (totalRows + numPartitions - 1) / numPartitions)
    (0 until numPartitions).iterator
      .map(i => (i * per, math.min(totalRows, (i + 1) * per)))
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => s < e }
      .map { case (s, e) => EventGenPartition(s, e): InputPartition }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EventGenReaderFactory(users, startSec, required, aggOps)

  /** Exposed for the plan-shape spec: whether this scan serves a
    * pushed aggregation. */
  def aggPushed: Boolean = aggOps.isDefined

  /** Exposed for the plan-shape spec: the pushed limit/topN, if any. */
  def limitShape: Option[String] = pushedShape

  /** Exposed for the plan-shape spec: the generated id range. */
  def idRange: (Long, Long) = (lo, hi)
}

/** Streaming offset = position in the id space (a Kafka-offset
  * analogue: totally ordered, serialized as its JSON long). */
case class EventGenOffset(pos: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = pos.toString
}

/** The DSv2 MICRO-BATCH surface on the same generator: each trigger
  * admits the next `batchRows` ids, so the stream delivers the
  * identical rows the batch scan would — the claim the reference makes
  * for its Kafka path ("same pipeline, streaming or batch") realized as
  * one connector with two read capabilities. `latestOffset` caps the
  * admitted range (rate limiting à la Kafka's maxOffsetsPerTrigger);
  * `planInputPartitions(start, end)` re-chunks each admitted slice, and
  * the same PartitionReaderFactory serves both paths. Spark wraps this
  * in AvailableNowDataStreamWrapper for Trigger.AvailableNow, draining
  * to the fixed end then stopping — used by q74's verify scenario. */
class EventGenMicroBatchStream(lo: Long, hi: Long, numPartitions: Int,
    users: Long, startSec: Long, required: StructType, batchRows: Long)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  /** Implementing SupportsTriggerAvailableNow (not just
    * SupportsAdmissionControl) is what keeps AvailableNow rate-limited:
    * otherwise Spark wraps the stream in AvailableNowDataStreamWrapper,
    * which snapshots reportLatestOffset and drains to it in ONE batch,
    * bypassing latestOffset(start, limit). The end target here is the
    * fixed id-space bound, so there is nothing to snapshot. */
  override def prepareForTriggerAvailableNow(): Unit = ()

  override def initialOffset(): Offset = EventGenOffset(lo)
  /** Admission control: each trigger admits at most `batchRows` ids —
    * the Kafka `maxOffsetsPerTrigger` analogue. */
  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset =
    EventGenOffset(math.min(hi,
      startOffset.asInstanceOf[EventGenOffset].pos + batchRows))
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit)")
  override def reportLatestOffset(): Offset = EventGenOffset(hi)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(batchRows)
  override def deserializeOffset(json: String): Offset =
    EventGenOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[EventGenOffset].pos
    val e = end.asInstanceOf[EventGenOffset].pos
    if (s >= e) Array.empty
    else {
      val per = math.max(1L, math.min(batchRows, (e - s + numPartitions - 1) / numPartitions))
      Iterator.iterate(s)(_ + per).takeWhile(_ < e)
        .map(b => EventGenPartition(b, math.min(e, b + per)): InputPartition)
        .toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EventGenReaderFactory(users, startSec, required)
}

class EventGenReaderFactory(users: Long, startSec: Long,
    required: StructType, aggOps: Option[Seq[String]] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[EventGenPartition]
    aggOps match {
      case Some(ops) =>
        new EventGenAggReader(p.start, p.end, users, ops)
      case None =>
        new EventGenReader(p.start, p.end, users, startSec, required)
    }
  }
}

/** Serves a pushed partial aggregation: one generator pass over the
  * partition's id range folds into per-type counters, then emits
  * ≤ |types| rows in the pushed-aggregation schema (group column
  * first, then each aggregate in its pushed order). Counts and
  * user_id sums are exact longs; min/max are order-free — nothing
  * here depends on fold order, so the partial contract is safe. */
class EventGenAggReader(start: Long, end: Long, users: Long,
    ops: Seq[String]) extends PartitionReader[InternalRow] {
  private val it: Iterator[InternalRow] = {
    val nTypes = EventGen.types.length
    val counts = new Array[Long](nTypes)
    val sums = new Array[Long](nTypes)
    val mins = Array.fill(nTypes)(Double.MaxValue)
    val maxs = Array.fill(nTypes)(Double.MinValue)
    var id = start
    while (id < end) {
      val h = EventGen.hash32(id)
      val t = ((h / users) % nTypes).toInt
      counts(t) += 1
      sums(t) += h % users
      val v = (h % 10000L).toDouble / 100.0
      if (v < mins(t)) mins(t) = v
      if (v > maxs(t)) maxs(t) = v
      id += 1
    }
    (0 until nTypes).iterator.filter(counts(_) > 0).map { t =>
      // explicit boxing: a bare Long/Double match would LUB-widen the
      // long branches to Double and corrupt the typed InternalRow
      val vals: Seq[Any] = ops.map {
        case "count_star" => java.lang.Long.valueOf(counts(t))
        case "sum_user_id" => java.lang.Long.valueOf(sums(t))
        case "min_value" => java.lang.Double.valueOf(mins(t))
        case "max_value" => java.lang.Double.valueOf(maxs(t))
      }
      InternalRow.fromSeq(
        UTF8String.fromString(EventGen.types(t)) +: vals)
    }
  }
  private var row: InternalRow = _
  override def next(): Boolean = {
    if (!it.hasNext) return false
    row = it.next(); true
  }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}

/** Generates only the pruned columns; md5 is skipped entirely when no
  * hash-derived column is requested. */
class EventGenReader(start: Long, end: Long, users: Long, startSec: Long,
    required: StructType) extends PartitionReader[InternalRow] {
  private var id = start - 1
  private val fields = required.fieldNames
  private val needsHash = fields.exists(f =>
    f == "user_id" || f == "event_type" || f == "value")

  override def next(): Boolean = { id += 1; id < end }

  override def get(): InternalRow = {
    val h = if (needsHash) EventGen.hash32(id) else 0L
    InternalRow.fromSeq(fields.toSeq.map {
      case "event_id" => id
      case "ts" => (startSec + id) * 1000000L // TimestampType micros
      case "user_id" => h % users
      case "event_type" =>
        UTF8String.fromString(EventGen.types(((h / users) % 5).toInt))
      case "value" => (h % 10000L).toDouble / 100.0
      case other => throw new IllegalArgumentException(s"unknown column $other")
    })
  }

  override def close(): Unit = ()
}
