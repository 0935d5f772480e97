package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

import graft.operators.Scd2

/** Property tests for SCD2 invariants (SURVEY §5 item 4): across
  * arbitrary initial dimensions and staging batches —
  *  - exactly one current row per key present in the dimension,
  *  - [valid_from, valid_to) intervals per key are contiguous and
  *    non-overlapping,
  *  - surrogate keys stay unique and dense (sorted SKs are 1..count),
  *    and
  *  - replaying the SAME staging batch is a no-op (idempotence), and
  *  - a staging batch that repeats keys still leaves one current row
  *    per key, the same whatever the input order (the tie rule of
  *    `Scd2.history`).
  * ScalaCheck generators driven directly with a fixed seed (the
  * scalatest-scalacheck bridge isn't in the offline cache).
  */
class Scd2PropertySpec extends SparkSpec {
  import spark.implicits._

  private val cfg = Scd2.Config("id", Seq("status"), "sk")
  private def ts(s: String) = to_timestamp(lit(s))

  private val statusGen = Gen.oneOf("open", "paid", "shipped", "done")
  private val rowsGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(0, 12)
    ids <- Gen.pick(n, 1L to 20L) // distinct by construction
    sts <- Gen.listOfN(n, statusGen)
  } yield ids.toList.zip(sts)

  test("SCD2 invariants hold for arbitrary initial + staging batches") {
    var seed = rng.Seed(42L)
    def sample(): List[(Long, String)] = {
      val v = rowsGen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      v
    }
    for (_ <- 1 to 15) {
      val init = sample()
      val stage = sample()
      val dim0 = Scd2.initialLoad(init.toDF("id", "status"), cfg,
        ts("2024-01-01 00:00:00"))
      val merged = Scd2.merge(dim0, stage.toDF("id", "status"), cfg,
        ts("2024-02-01 00:00:00")).cache()

      // exactly one current row per key
      val multiCurrent = merged.filter($"is_current")
        .groupBy("id").count().filter($"count" =!= 1).count()
      assert(multiCurrent == 0, s"init=$init stage=$stage")
      // every key ever seen still has a current row (no deletes)
      val keys = (init.map(_._1) ++ stage.map(_._1)).distinct.toSet
      val currentKeys = merged.filter($"is_current")
        .select("id").as[Long].collect().toSet
      assert(currentKeys == keys, s"init=$init stage=$stage")
      // contiguous, non-overlapping intervals per key
      val gaps = merged
        .withColumn("next_from", lead($"valid_from", 1).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("id").orderBy("valid_from")))
        .filter($"next_from".isNotNull && $"valid_to" =!= $"next_from")
        .count()
      assert(gaps == 0, s"init=$init stage=$stage")
      // SKs unique
      val sks = merged.select("sk").as[Long].collect()
      assert(sks.distinct.length == sks.length, s"init=$init stage=$stage")
      // SKs dense: the initial load numbers 1..n, the merge continues
      assert(sks.sorted.toSeq == (1L to sks.length.toLong),
        s"init=$init stage=$stage sks=${sks.sorted.toSeq}")

      // idempotence: replaying the same staging batch changes nothing
      val replay = Scd2.merge(merged, stage.toDF("id", "status"), cfg,
        ts("2024-03-01 00:00:00"))
      assert(replay.count() == merged.count(), s"init=$init stage=$stage")
      assert(replay.filter($"valid_from" === ts("2024-03-01 00:00:00"))
        .count() == 0, s"init=$init stage=$stage")
      merged.unpersist()
    }
  }

  test("tie rule: a staging batch that repeats keys gives one current " +
      "row per key, whatever the input order") {
    val dupRowsGen: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(1, 12)
      ids <- Gen.listOfN(n, Gen.choose(1L, 6L)) // repeats by construction
      sts <- Gen.listOfN(n, statusGen)
    } yield ids.zip(sts)
    var seed = rng.Seed(7L)
    def sample[A](g: Gen[A]): A = {
      val v = g.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      v
    }
    for (i <- 1 to 10) {
      val init = sample(rowsGen)
      val stage = sample(dupRowsGen)
      def merged(rows: List[(Long, String)]) = Scd2.merge(
        Scd2.initialLoad(init.toDF("id", "status"), cfg,
          ts("2024-01-01 00:00:00")),
        rows.toDF("id", "status").repartition(3), cfg,
        ts("2024-02-01 00:00:00"))
        .as[(Long, String, Long, java.sql.Timestamp, java.sql.Timestamp,
          Boolean)].collect().toSet
      val got = merged(stage)
      val current = got.toSeq.filter(_._6).map(_._1)
      assert(current.sorted == (init.map(_._1) ++ stage.map(_._1)).distinct
        .sorted, s"init=$init stage=$stage")
      val shuffled = new scala.util.Random(i).shuffle(stage)
      assert(merged(shuffled) == got, s"init=$init stage=$shuffled")
      assert(merged(stage.reverse) == got, s"init=$init stage=${stage.reverse}")
    }
  }
}
