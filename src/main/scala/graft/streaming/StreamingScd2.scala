package graft.streaming

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Scd2

/** SCD Type 2 as a stream — the §2.9 → §2.10 bridge SURVEY.md maps out:
  * the same close-and-insert semantics as [[graft.operators.Scd2]], but
  * maintained incrementally per key with `flatMapGroupsWithState`
  * instead of a full staging⋈dimension re-join per batch.
  *
  * State per business key = the OPEN version (tracked attrs +
  * valid_from). Each change event either starts the first version,
  * closes the open version and opens a new one (emitting both), or is
  * an unchanged no-op — the same three branches as the batch MERGE
  * (reference Scd_Type2.sql:38–53), minus the re-join. Ties follow
  * [[graft.operators.Scd2.history]]'s rule: of a key's events at one
  * ts the greatest row hash wins, within a micro-batch and against the
  * open version's own start from an earlier one (a greater hash
  * re-emits the start at that ts, with no close).
  *
  * Emission protocol (append mode can't dump final state): every state
  * change also emits the new OPEN version as a `is_current = true` row
  * with `valid_to = null`, so each version start is emitted exactly once;
  * [[finalizeHistory]] is the batch [[graft.operators.Scd2.history]] of
  * those starts. `StreamingScd2Spec` proves the result equals the batch
  * merge's history exactly, surrogate keys included.
  *
  * Scale: one shuffle on the business key (same as the batch window);
  * state is one version per live key. Surrogate keys are assigned at
  * sink time by the batch two-phase rank — deliberately NOT in the
  * stream, where global contiguity would serialize.
  */
object StreamingScd2 {

  case class CdcRow(key: Long, status: String, price: Double,
      priority: String, ts: Timestamp)
  case class OpenVersion(status: String, price: Double, priority: String,
      from: Timestamp)
  case class VersionRow(key: Long, status: String, price: Double,
      priority: String, valid_from: Timestamp, valid_to: Option[Timestamp],
      is_current: Boolean)

  /** [[graft.operators.Scd2.rowHash]] of one row's tracked values,
    * computed in Scala: the order of the tie rule. */
  def rowHash(status: String, price: Double, priority: String): String =
    MessageDigest.getInstance("MD5")
      .digest(Seq(status, price.toString, priority)
        .map(v => Option(v).getOrElse("")).mkString("\u0001")
        .getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private def rowHash(r: CdcRow): String = rowHash(r.status, r.price, r.priority)

  /** One key's events in ts order, one per ts. The batch tie rule: of
    * several rows at one ts the greatest [[rowHash]] wins; hashes are
    * computed only where two rows share a ts. */
  private def tieResolved(rows: Seq[CdcRow]): List[CdcRow] =
    rows.sortWith(_.ts before _.ts)
      .foldRight(List.empty[CdcRow]) {
        case (r, next :: rest) if r.ts == next.ts =>
          (if (rowHash(r) > rowHash(next)) r else next) :: rest
        case (r, acc) => r :: acc
      }

  def update(key: Long, rows: Iterator[CdcRow],
      state: GroupState[OpenVersion]): Iterator[VersionRow] = {
    var out = List.empty[VersionRow]
    var cur = state.getOption
    def open(r: CdcRow): Unit = {
      cur = Some(OpenVersion(r.status, r.price, r.priority, r.ts))
      out ::= VersionRow(key, r.status, r.price, r.priority, r.ts,
        None, is_current = true)
    }
    tieResolved(rows.toSeq).foreach { r =>
      cur match {
        case None => open(r)
        case Some(c)
            if c.status == r.status && c.price == r.price
              && c.priority == r.priority =>
          () // unchanged: no new version (same as batch merge)
        case Some(c) if c.from == r.ts =>
          // a tie with the open version's own start, from an earlier
          // micro-batch: the greater hash replaces that start
          if (rowHash(r) > rowHash(c.status, c.price, c.priority)) open(r)
        case Some(c) =>
          out ::= VersionRow(key, c.status, c.price, c.priority, c.from,
            Some(r.ts), is_current = false)
          open(r)
      }
    }
    cur.foreach(state.update)
    out.reverse.iterator
  }

  def versions(evs: Dataset[CdcRow]): Dataset[VersionRow] = {
    import evs.sparkSession.implicits._
    evs.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** The q23 scenario replayed as a two-batch CDC stream (initial load
    * at T1, flip-batch at T2) in the DEPLOYMENT shape end-to-end: each
    * CDC batch is written straight from the orders scan into a landing
    * directory (executor-side — no driver collect anywhere, so the
    * harness itself survives an unbounded orders table), and the
    * stateful query drains the landing folder twice with
    * `Trigger.AvailableNow` against one checkpoint — the second drain
    * restarts from the checkpoint, reads only the NEW files, and
    * recovers the per-key open-version state from the state store,
    * exactly how a scheduled production drain of a CDC bucket runs.
    * Emissions append to a parquet sink across both drains; the final
    * history is a batch read of that sink. Output = the full history
    * without the surrogate keys, oracle-checked as q55. */
  def ordersScenarioStream(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sscd2").toString
    val land = s"$base/landing"
    val out = s"$base/out"
    val ckpt = s"$base/ckpt"

    val o = graft.sources.Tables.orders(spark, dir).select(
      col("o_orderkey").as("key"), col("o_orderstatus").as("status"),
      col("o_totalprice").cast("double").as("price"),
      col("o_orderpriority").as("priority"))

    def drain(): Unit = {
      val evs = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[CdcRow].schema)
        .parquet(land)
        .as[CdcRow]
      val q = versions(evs).writeStream
        .outputMode("append")
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // batch 1: initial load (80% of keys) lands at T1, first drain
    o.filter(col("key") % 10 < 8)
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
      .write.mode("append").parquet(land)
    drain()
    // batch 2: CDC flip-batch lands at T2, second drain resumes from
    // the checkpoint (new files only, state recovered)
    o.withColumn("status",
        when(col("key") % 5 === 0, lit("D")).otherwise(col("status")))
      .withColumn("ts", to_timestamp(lit("2024-06-01 00:00:00")))
      .write.mode("append").parquet(land)
    drain()

    finalizeHistory(spark.read.parquet(out), Scd2.FarFuture)
      .select(col("key").as("order_id"), col("status").as("order_status"),
        col("price").as("total_price"), col("priority"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy("order_id", "valid_from")
  }

  /** The history table of an emission log: the batch SCD2 history of
    * its version starts (the `is_current` rows), with SKs, and
    * `farFuture` as the open end. */
  def finalizeHistory(emitted: DataFrame, farFuture: String): DataFrame =
    Scd2.history(emitted.filter(col("is_current")),
        Scd2.Config("key", Seq("status", "price", "priority")), "valid_from")
      .withColumn("valid_to", when(col("is_current"),
        to_timestamp(lit(farFuture))).otherwise(col("valid_to")))
}
