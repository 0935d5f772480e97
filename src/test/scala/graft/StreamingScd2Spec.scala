package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.Scd2
import graft.sources.Tables
import graft.streaming.StreamingScd2
import graft.streaming.StreamingScd2.CdcRow

/** Streaming SCD2 ≡ batch SCD2: the q23 scenario fed as two CDC
  * micro-batches produces the exact history the batch merge builds,
  * surrogate keys included; ties at one ts, a late event in a later
  * micro-batch and a late file drained after a restart from the
  * checkpoint all give the batch history of the same events.
  */
class StreamingScd2Spec extends SparkSpec {
  import spark.implicits._

  private val cfg = Scd2.Config("key", Seq("status", "price", "priority"))
  private val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val t2 = Timestamp.valueOf("2024-06-01 00:00:00")
  private val t3 = Timestamp.valueOf("2024-09-01 00:00:00")
  private def row(status: String, ts: Timestamp) =
    CdcRow(1L, status, 10.0, "1-URGENT", ts)

  private def history(df: org.apache.spark.sql.DataFrame) =
    df.select("status", "sk", "valid_from", "valid_to", "is_current")
      .as[(String, Long, Timestamp, Timestamp, Boolean)].collect().toSet

  /** `finalizeHistory` of `versions` over a `MemoryStream`, one
    * micro-batch per element of `batches`. */
  private def streamed(batches: Seq[Seq[CdcRow]], sink: String) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[CdcRow]
    val q = StreamingScd2.versions(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName(sink)
      .trigger(Trigger.ProcessingTime(0)).start()
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
    StreamingScd2.finalizeHistory(spark.table(sink), Scd2.FarFuture)
  }

  test("two-batch CDC stream reproduces the batch merge history") {
    val dir = sf("sf0.001")

    val o = Tables.orders(spark, dir).select(
      col("o_orderkey").as("key"),
      col("o_orderstatus").as("status"),
      col("o_totalprice").as("price"),
      col("o_orderpriority").as("priority"))
      .as[(Long, String, Double, String)].collect()

    val batch1 = o.filter(_._1 % 10 < 8)
      .map { case (k, s, p, pr) => CdcRow(k, s, p, pr, t1) }
    val batch2 = o.map { case (k, s, p, pr) =>
      CdcRow(k, if (k % 5 == 0) "D" else s, p, pr, t2)
    }

    val viaStream = streamed(Seq(batch1.toSeq, batch2.toSeq),
        "streaming_scd2_sink")
      .select(col("key").as("order_id"), col("status").as("order_status"),
        col("price").as("total_price"), col("priority"),
        col("sk").as("order_sk"),
        col("valid_from"), col("valid_to"), col("is_current"))

    val batch = Scd2.ordersHistory(spark, dir)
      .select("order_id", "order_status", "total_price", "priority",
        "order_sk", "valid_from", "valid_to", "is_current")

    val s = viaStream.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s.size == b.size, s"row counts differ: ${s.size} vs ${b.size}")
    assert(s == b, {
      val onlyS = (s -- b).take(3); val onlyB = (b -- s).take(3)
      s"only-streaming: $onlyS\nonly-batch: $onlyB"
    })
  }

  /** (status, valid_from, is_current) of each version. */
  private def shape(h: Set[(String, Long, Timestamp, Timestamp, Boolean)]) =
    h.map(v => (v._1, v._3, v._5))

  /** A late b@t2 splits a@t1, a@t3 into three versions. */
  private val late = Set(("a", t1, false), ("b", t2, false), ("a", t3, true))

  test("ties at one ts follow the batch rule, within a micro-batch and " +
      "across micro-batches") {
    // b wins a tie with a
    val Seq(hb, ha) = Seq(row("b", t1), row("a", t1)).toDF()
      .select(Scd2.rowHash(cfg)).as[String].collect().toSeq
    assert(hb > ha)
    // b from t1 to t2, then a
    val tie = Set(("b", t1, false), ("a", t2, true))
    val cases = Seq(
      Seq(Seq(row("b", t1), row("a", t1)), Seq(row("a", t2))) -> tie,
      Seq(Seq(row("a", t1), row("b", t1)), Seq(row("a", t2))) -> tie,
      Seq(Seq(row("b", t1)), Seq(row("a", t1)), Seq(row("a", t2))) -> tie,
      Seq(Seq(row("a", t1)), Seq(row("b", t1)), Seq(row("a", t2))) -> tie,
      Seq(Seq(row("a", t1), row("a", t3)), Seq(row("b", t2))) -> late)
    cases.zipWithIndex.foreach { case ((batches, want), i) =>
      val got = history(streamed(batches, s"streaming_scd2_ties_$i"))
      val batch = history(Scd2.history(batches.flatten.toDF(), cfg, "ts"))
      assert(got == batch, s"case $i: $batches")
      assert(shape(batch) == want, s"case $i")
    }
  }

  test("a late file drained after a restart from the checkpoint is " +
      "placed by event time") {
    val base = java.nio.file.Files.createTempDirectory("graft_sscd2_late")
      .toString
    val (land, out, ckpt) = (s"$base/landing", s"$base/out", s"$base/ckpt")
    def drain(): Unit = {
      val evs = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[CdcRow].schema)
        .parquet(land).as[CdcRow]
      StreamingScd2.versions(evs).writeStream.outputMode("append")
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    val files = Seq(Seq(row("a", t1), row("a", t3)), Seq(row("b", t2)))
    files.foreach { f => f.toDF().write.mode("append").parquet(land); drain() }
    assert(spark.read.parquet(out).count() == 3) // each event once
    val got = history(StreamingScd2.finalizeHistory(spark.read.parquet(out),
      Scd2.FarFuture))
    assert(got == history(Scd2.history(files.flatten.toDF(), cfg, "ts")))
    assert(shape(got) == late)
  }
}
