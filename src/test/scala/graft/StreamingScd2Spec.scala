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
  * surrogate keys included.
  */
class StreamingScd2Spec extends SparkSpec {
  import spark.implicits._

  test("two-batch CDC stream reproduces the batch merge history") {
    val dir = sf("sf0.001")
    val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t2 = Timestamp.valueOf("2024-06-01 00:00:00")

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

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[CdcRow]
    val sink = "streaming_scd2_sink"
    val q = StreamingScd2.versions(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName(sink)
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(batch1.toSeq); q.processAllAvailable()
      input.addData(batch2.toSeq); q.processAllAvailable()
    } finally q.stop()

    val streamed = StreamingScd2
      .finalizeHistory(spark.table(sink), Scd2.FarFuture)
      .select(col("key").as("order_id"), col("status").as("order_status"),
        col("price").as("total_price"), col("priority"),
        col("sk").as("order_sk"),
        col("valid_from"), col("valid_to"), col("is_current"))

    val batch = Scd2.ordersHistory(spark, dir)
      .select("order_id", "order_status", "total_price", "priority",
        "order_sk", "valid_from", "valid_to", "is_current")

    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s.size == b.size, s"row counts differ: ${s.size} vs ${b.size}")
    assert(s == b, {
      val onlyS = (s -- b).take(3); val onlyB = (b -- s).take(3)
      s"only-streaming: $onlyS\nonly-batch: $onlyB"
    })
  }

  test("ties at one ts follow the batch rule, within a micro-batch and " +
      "across micro-batches") {
    val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t2 = Timestamp.valueOf("2024-06-01 00:00:00")
    def row(status: String, ts: Timestamp) =
      CdcRow(1L, status, 10.0, "1-URGENT", ts)
    // b wins a tie with a
    assert(StreamingScd2.rowHash("b", 10.0, "1-URGENT") >
      StreamingScd2.rowHash("a", 10.0, "1-URGENT"))
    val cases = Seq(
      Seq(Seq(row("b", t1), row("a", t1)), Seq(row("a", t2))),
      Seq(Seq(row("a", t1), row("b", t1)), Seq(row("a", t2))),
      Seq(Seq(row("b", t1)), Seq(row("a", t1)), Seq(row("a", t2))),
      Seq(Seq(row("a", t1)), Seq(row("b", t1)), Seq(row("a", t2))))
    val cfg = Scd2.Config("key", Seq("status", "price", "priority"))
    def history(df: org.apache.spark.sql.DataFrame) =
      df.select("status", "sk", "valid_from", "valid_to", "is_current")
        .as[(String, Long, Timestamp, Timestamp, Boolean)].collect().toSet

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    cases.zipWithIndex.foreach { case (batches, i) =>
      val input = MemoryStream[CdcRow]
      val sink = s"streaming_scd2_ties_$i"
      val q = StreamingScd2.versions(input.toDS())
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .trigger(Trigger.ProcessingTime(0)).start()
      try batches.foreach { b => input.addData(b); q.processAllAvailable() }
      finally q.stop()
      val streamed = history(
        StreamingScd2.finalizeHistory(spark.table(sink), Scd2.FarFuture))
      val batch = history(Scd2.history(batches.flatten.toDF(), cfg, "ts"))
      assert(streamed == batch, s"case $i: $batches")
      // b from t1 to t2, then a
      assert(batch.map(v => (v._1, v._3, v._5)) ==
        Set(("b", t1, false), ("a", t2, true)), s"case $i")
    }
  }
}
