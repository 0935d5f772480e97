package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamingDlq

/** q310 — dead-letter routing. Pins the two claims the mart's hash
  * gate can't see directly: (1) epoch replay is a no-op on BOTH sinks
  * (the crash-between-commits story), and (2) the routing is a
  * PARTITION — every event lands on exactly one side, none on both,
  * none dropped. Also pins the empty-drain guard that the q310 replay
  * shares with every other fixture replay (`Drain.Replay`).
  */
class StreamingDlqSpec extends SparkSpec {
  import spark.implicits._

  private val dir = sf("sf0.001")

  private def ids(root: String, t: String): Set[Long] =
    graft.sources.DeltaLog
      .read(spark, s"$root/state/$t", Seq("event_id")).get
      .select($"event_id").as[Long].collect().toSet

  test("replaying a committed epoch is a no-op on both sinks") {
    val root = StreamingDlq.drainedStateRoot(spark, dir)
    val m0 = ids(root, "main")
    val d0 = ids(root, "dlq")
    // re-apply epoch 0 with DIFFERENT content: the _READY guard must
    // skip both commits, exactly what a post-crash replay relies on
    val fake = spark.range(1)
      .select(lit("999999999|1|view|123").as("value"))
    StreamingDlq.applyBatch(spark, root, fake, 0L)
    assert(ids(root, "main") == m0)
    assert(ids(root, "dlq") == d0)
    assert(!m0.contains(999999999L) && !d0.contains(999999999L))
  }

  test("the routing partitions the corpus: disjoint sides, full cover") {
    val root = StreamingDlq.drainedStateRoot(spark, dir)
    val m = ids(root, "main")
    val d = ids(root, "dlq")
    assert((m & d).isEmpty, "an event landed on both sides")
    val all = graft.sources.Tables.events(spark, dir)
      .select($"event_id").as[Long].collect().toSet
    assert(m ++ d == all, "routing dropped or invented events")
    assert(d == all.filter(_ % 13 == 0), "quarantine rule")
  }

  test("a replay of an empty landing dir throws, naming the dir") {
    import org.apache.spark.sql.types._
    val land = java.nio.file.Files.createTempDirectory("graft-empty-land")
    try {
      val replay = new graft.streaming.Drain.Replay("emptyland", "none")
      val e = intercept[IllegalStateException] {
        replay(spark, land.toString, land.toString,
          StructType(Seq(StructField("value", StringType))), "text")(
          (_, _, _) => ())
      }
      assert(e.getMessage.contains(land.toString))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(land.toFile)
  }
}
