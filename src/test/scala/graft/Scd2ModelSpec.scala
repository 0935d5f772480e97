package graft

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalacheck.{Gen, rng}

import graft.operators.Scd2
import graft.streaming.StreamingScd2
import graft.streaming.StreamingScd2.CdcRow

/** SCD2 against a plain-Scala, row-at-a-time model. On generated change
  * logs of 3–5 batches, four derivations must equal the model,
  * surrogate keys included:
  *  - `Scd2.history` of the whole log;
  *  - `initialLoad` of the first batch, then one `merge` per later batch;
  *  - `StreamingScd2.versions` over a `MemoryStream`, one micro-batch
  *    per log batch, then `finalizeHistory`;
  *  - the same stream fed the log's rows shuffled across as many
  *    micro-batches, so events arrive late and out of order.
  * The logs have keys that appear and disappear, unchanged repeats,
  * NULL attributes and the tie rule's duplicates (one key several times
  * in one batch), and every derivation, the stream included, gets them
  * raw. The model orders ties by the hashes Spark's `Scd2.rowHash`
  * gives the generated rows.
  */
class Scd2ModelSpec extends SparkSpec {
  import spark.implicits._

  private type Version =
    (Long, String, Double, String, Long, Timestamp, Timestamp, Boolean)

  private val cfg = Scd2.Config("key", Seq("status", "price", "priority"))

  /** `Scd2.rowHash` of each row of `log`, computed by Spark. */
  private def hashes(log: Seq[CdcRow]): CdcRow => String = {
    val h = log.map(r => (r.status, r.price, r.priority))
      .zip(log.toDF().select(Scd2.rowHash(cfg)).as[String].collect()).toMap
    r => h((r.status, r.price, r.priority))
  }

  /** The tie rule: per key and ts, the greatest hash wins. */
  private def tieResolved(rows: Seq[CdcRow],
      hash: CdcRow => String): Seq[CdcRow] =
    rows.groupBy(r => (r.key, r.ts)).values.map(_.maxBy(hash)).toSeq

  /** Batches in time order, keys in order within one; a version starts
    * where the key's hash changes and ends where its next one starts;
    * SKs count the starts. */
  private def model(log: Seq[CdcRow], farFuture: Timestamp): Set[Version] = {
    val hash = hashes(log)
    def version(r: CdcRow, sk: Long, to: Timestamp, current: Boolean) =
      (r.key, r.status, r.price, r.priority, sk, r.ts, to, current)
    val open = mutable.Map.empty[Long, (CdcRow, Long)]
    val closed = mutable.Buffer.empty[Version]
    var sk = 0L
    for (r <- tieResolved(log, hash).sortBy(r => (r.ts.getTime, r.key))) {
      open.get(r.key) match {
        case Some((o, _)) if hash(o) == hash(r) => ()
        case prev =>
          prev.foreach { case (o, s) => closed += version(o, s, r.ts, false) }
          sk += 1
          open(r.key) = (r, sk)
      }
    }
    (closed ++ open.values.map { case (o, s) =>
      version(o, s, farFuture, true) }).toSet
  }

  private def rowGen(ts: Timestamp): Gen[CdcRow] = for {
    key <- Gen.choose(1L, 8L) // few keys: repeats within a batch
    status <- Gen.oneOf("open", "paid", null)
    price <- Gen.oneOf(10.0, 12.5)
    priority <- Gen.oneOf("1-URGENT", "5-LOW")
  } yield CdcRow(key, status, price, priority, ts)

  private val logGen: Gen[Seq[Seq[CdcRow]]] = for {
    n <- Gen.choose(3, 5)
    batches <- Gen.sequence[List[Seq[CdcRow]], Seq[CdcRow]]((1 to n).map { d =>
      val ts = Timestamp.valueOf(s"2024-01-0$d 00:00:00")
      Gen.choose(1, 10).flatMap(m => Gen.listOfN(m, rowGen(ts)))
    })
  } yield batches

  private def versions(df: DataFrame): Set[Version] =
    df.select("key", "status", "price", "priority", "sk", "valid_from",
        "valid_to", "is_current")
      .as[Version].collect().toSet

  private def streamed(batches: Seq[Seq[CdcRow]], name: String): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[CdcRow]
    val q = StreamingScd2.versions(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName(name)
      .trigger(Trigger.ProcessingTime(0)).start()
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
    StreamingScd2.finalizeHistory(spark.table(name), Scd2.FarFuture)
  }

  test("history, chained merges and the stream all equal the model") {
    val farFuture = spark.range(1)
      .select(to_timestamp(lit(Scd2.FarFuture))).as[Timestamp].first()
    var seed = rng.Seed(2024L)
    val logs = (1 to 5).map { _ =>
      val v = logGen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      v
    }
    // each log's rows in a seeded random order, cut into as many
    // micro-batches as the log has batches
    val arrivals = logs.zipWithIndex.map { case (batches, i) =>
      val rows = new scala.util.Random(i).shuffle(batches.flatten)
      rows.grouped((rows.size + batches.size - 1) / batches.size).toSeq
    }
    logs.zipWithIndex.foreach { case (batches, i) =>
      val log = batches.flatten
      val want = model(log, farFuture)
      val ctx = s"log=${batches.map(_.mkString(", ")).mkString("\n")}"

      assert(versions(Scd2.history(log.toDF(), cfg, "ts")) == want, ctx)

      def staging(b: Seq[CdcRow]) = b.toDF().drop("ts")
      val merged = batches.tail.foldLeft(Scd2.initialLoad(
          staging(batches.head), cfg, lit(batches.head.head.ts))) {
        (dim, b) => Scd2.merge(dim, staging(b), cfg, lit(b.head.ts))
      }
      assert(versions(merged) == want, ctx)

      assert(versions(streamed(batches, s"scd2_model_$i")) == want, ctx)

      val late = arrivals(i)
      assert(versions(streamed(late, s"scd2_model_late_$i")) == want,
        s"$ctx\narrival=${late.map(_.mkString(", ")).mkString("\n")}")
    }
    // the generated logs exercise what the model distinguishes
    val all = logs.map(_.map(b => b.groupBy(_.key)))
    assert(all.exists(_.exists(_.values.exists(_.size > 1))), "no duplicate")
    assert(all.exists(bs => bs.zip(bs.tail).exists { case (a, b) =>
      !a.keySet.subsetOf(b.keySet) }), "no key that disappears")
    assert(logs.exists { bs =>
      val log = bs.flatten
      model(log, farFuture).size < tieResolved(log, hashes(log)).size
    }, "no unchanged repeat")
    assert(arrivals.exists(bs => bs.zipWithIndex.exists { case (b, j) =>
      bs.drop(j + 1).flatten.exists(l =>
        b.exists(r => r.key == l.key && l.ts.before(r.ts)))
    }), "no late arrival")
  }
}
