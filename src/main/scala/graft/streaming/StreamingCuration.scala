package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.IncrementalCuration

/** CONTINUOUS incremental curation (q162) — q157's day-2 delta run as a
  * running process: document batches (upserts + tombstones) land on a
  * file source, and every micro-batch applies ONE incremental step
  * ([[IncrementalCuration.incrementalStep]]) against the persisted
  * artifact tables via `foreachBatch`, exactly the maintainer a living
  * corpus deploys:
  *
  *   - batch 0 seeds the prev snapshot (every doc "added" to an empty
  *     corpus — the incremental step degenerates to the full chain);
  *   - batch 1 delivers the snapshot delta: added + re-crawled docs as
  *     upserts, removed docs as TOMBSTONES (`deleted = true`) — the
  *     CDC convention for retraction on an append-only transport;
  *   - each step persists the updated corpus + artifacts (verdicts,
  *     signatures, pairs, component labels) under a per-batch state dir
  *     with a `_READY` marker — the crash-safe handoff to the next
  *     batch, ForeachBatchMerge's epoch discipline.
  *
  * After the drain, the verdict table must equal q157's — and therefore
  * the oracle's FULL recompute of the current snapshot — bit-for-bit:
  * the gate proves batch-incremental ≡ stream-incremental ≡ full.
  *
  * Scale: per batch the work is delta-sized (the q157 argument); state
  * tables are parquet dirs here and real tables in deployment. The
  * file source with `maxFilesPerTrigger = 1` pins the batch boundary
  * deterministically (files carry strictly increasing mtimes).
  */
object StreamingCuration {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("text", StringType), StructField("deleted", BooleanType)))

  /** Stage the two-batch landing dir per fixture signature (shared
    * staged-dir protocol): b0 = prev snapshot, b1 = delta upserts +
    * tombstones, mtimes ascending so the file source replays in order. */
  private def stagedLanding(spark: SparkSession, dir: String): String =
    FixtureStaging.stageOnce("curstream", s"$dir/documents.parquet",
      "/tmp/graft-curstream") { d =>
      import java.nio.file.Files
      val prev = IncrementalCuration.snapshotPrev(spark, dir)
        .withColumn("deleted", lit(false))
      val cur = IncrementalCuration.snapshotCur(spark, dir)
      // delta: additions (in cur, not prev), re-crawls (text changed),
      // and tombstones for removals (in prev, not cur)
      val adds = cur.filter(col("doc_id") % 6 === 0)
      val changes = cur.filter(col("doc_id") % 11 === 0
        && col("doc_id") % 6 =!= 0)
      val tombs = prev.select("doc_id").filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), lit(null).cast("string").as("lang"),
          lit(null).cast("string").as("text"))
      val delta = adds.unionByName(changes).withColumn("deleted", lit(false))
        .unionByName(tombs.withColumn("deleted", lit(true)))
      def land(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = Files.createTempDirectory("graft-curstream").toString
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.copy(part.toPath, d.resolve(name))
        d.resolve(name).toFile.setLastModified(mtime)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
      val t0 = System.currentTimeMillis() - 60000
      land(prev, "0000_seed.parquet", t0)
      land(delta, "0001_delta.parquet", t0 + 30000)
    }

  /** Per-run scratch root (state logs + checkpoint), per fixture
    * signature AND pid — exposed so the spec can audit the per-batch
    * commit sizes on disk. */
  def runRoot(dir: String): String = {
    val key = FixtureStaging.key("curstream-state", s"$dir/documents.parquet")
    val pid = ProcessHandle.current().pid()
    s"/tmp/graft-curstream-run-$key-p$pid"
  }

  /** ONE maintainer step of the gated two-batch replay
    * ([[curationStream]]): resolve the state as of epochs < `batchId`
    * (the replay-safe bound — a crashed batch's partial table commits
    * are invisible), run the incremental step on this batch's upserts +
    * tombstones, and commit ONLY the keyed deltas into the five
    * [[graft.sources.DeltaLog]] state tables. */
  def applyBatch(spark: SparkSession, root: String, eval: DataFrame,
      batch: DataFrame, batchId: Long): Unit = {
    import java.nio.file.{Files, Paths}
    import graft.sources.DeltaLog
    def log(t: String) = s"$root/state/$t"
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    // each resolved state table is consumed several times inside the
    // step (pairs twice, comp three times, sigs by band-join AND
    // jaccard) — checkpoint the resolution ONCE per batch so consumers
    // re-read blocks, not the log-fold plan; the five independent
    // resolutions run CONCURRENTLY (Spark's scheduler is thread-safe,
    // the Verify harness relies on the same property), so the batch
    // pays ~one resolution latency, not five in sequence
    def resolved(t: String, keys: Seq[String]) = Future(
      DeltaLog.read(spark, log(t), keys, Some(batchId))
        .map(_.localCheckpoint()))
    val rs = Await.result(Future.sequence(Seq(
      resolved("corpus", Seq("doc_id")),
      resolved("verdicts", Seq("doc_id")),
      resolved("sigs", Seq("doc_id")),
      resolved("pairs", Seq("ida", "idb")),
      resolved("comp", Seq("doc_id")))), Duration.Inf)
    val (prevCorpus, prevArt) = rs.head match {
      case Some(c) => (c, IncrementalCuration.PrevArtifacts(
        verdicts = rs(1).get, sigs = rs(2).get,
        pairs = rs(3).get, comp = rs(4).get))
      case None => (
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(docSchema.fields.take(3))),
        IncrementalCuration.emptyArtifacts(spark))
    }
    val ups = batch.filter(!col("deleted"))
      .select("doc_id", "lang", "text")
    val tombs = batch.filter(col("deleted")).select("doc_id")
    val ids = batch.select("doc_id")
    val cur = prevCorpus.join(ids, Seq("doc_id"), "left_anti")
      .unionByName(ups)
      .localCheckpoint() // the step reads it many times
    val d = IncrementalCuration
      .incrementalStep(prevArt, prevCorpus, cur, eval).deltas
    // delta-sized keyed commits — never a corpus rewrite. Changed
    // docs are replaced by their upsert (same key); only removals
    // delete. Tombstones map to corpus deletes — the q151 DELETE
    // semantics on an append-only transport. The removedIds/statusDelta
    // frames feed several commits — checkpoint once so the diff plan
    // isn't replayed per table; the six independent table commits then
    // run CONCURRENTLY (distinct dirs, marker-last each).
    val removed = d.removedIds.localCheckpoint()
    Await.result(Future.sequence(Seq(
      Future(DeltaLog.commit(spark, log("corpus"), batchId,
        ups, Some(tombs), Seq("doc_id"))),
      Future(DeltaLog.commit(spark, log("verdicts"), batchId,
        d.verdictUps, Some(removed), Seq("doc_id"))),
      Future(DeltaLog.commit(spark, log("sigs"), batchId,
        d.sigUps, Some(removed), Seq("doc_id"))),
      Future(DeltaLog.commit(spark, log("pairs"), batchId,
        d.pairUps, Some(d.pairDels), Seq("ida", "idb"))),
      Future(DeltaLog.commit(spark, log("comp"), batchId,
        d.compUps, Some(removed), Seq("doc_id"))),
      Future {
        // statuses are relative to the PREVIOUS batch, so the table is
        // per-epoch (latest wins whole-sale), not cumulative — a doc
        // added in batch 0 and untouched since is "unchanged" now
        val sdir = f"${log("status")}/e$batchId%010d"
        if (!Files.exists(Paths.get(s"$sdir/_READY"))) {
          org.apache.commons.io.FileUtils
            .deleteDirectory(new java.io.File(sdir))
          d.statusDelta.repartition(1)
            .write.mode("overwrite").parquet(s"$sdir/up")
          Files.createFile(Paths.get(s"$sdir/_READY"))
        }
      })), Duration.Inf)
    ()
  }

  /** Drain the two-batch replay and return the final verdict table —
    * identical contract (and oracle) to q157.
    *
    * State is five log-structured keyed tables ([[graft.sources
    * .DeltaLog]]): per micro-batch, each table commits ONLY the step's
    * keyed deltas ([[IncrementalCuration.ArtifactDeltas]] — upserts of
    * changed rows, deletes of gone keys), so per-batch WRITE I/O scales
    * with the batch's delta, matching the delta-sized compute. The
    * final verdict table is assembled at read time from the committed
    * state (verdicts ⋈ components + the last batch's statuses) — the
    * one corpus-sized materialization happens once at the END, not once
    * per batch. DeltaLog's epoch discipline gives crash-safe replay:
    * each table skips already-committed epochs, and a replayed batch
    * resolves state AS OF the previous epoch even if some tables had
    * already committed parts of the crashed batch. */
  def curationStream(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import graft.sources.DeltaLog
    val land = stagedLanding(spark, dir)
    val root = runRoot(dir)
    // the scenario replays from scratch every invocation (deterministic
    // end state); state + checkpoint live and die together, and the
    // per-pid root is removed on JVM exit so runs don't accumulate
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    FixtureStaging.deleteOnExit(root)
    val eval = IncrementalCuration.evalRegistry(spark, dir)
    def log(t: String) = s"$root/state/$t"

    // driver-held id of the last committed batch (None until one lands)
    val lastBatch =
      new java.util.concurrent.atomic.AtomicReference[java.lang.Long](null)

    val q = spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(land)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(spark, root, eval, batch, batchId)
        lastBatch.set(batchId)
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    if (lastBatch.get() == null)
      throw new IllegalStateException(
        s"no batches drained from $land — the staged landing dir is " +
          "empty (a foreign process blessed a half-staged dir?) or the " +
          "fixture path is wrong")

    // read-time assembly from the committed state: verdict flags join
    // component labels; status = last batch's delta, default unchanged
    val verd = DeltaLog.read(spark, log("verdicts"), Seq("doc_id")).get
    val comp = DeltaLog.read(spark, log("comp"), Seq("doc_id")).get
    val statusDirs = Option(new java.io.File(log("status")).listFiles())
      .getOrElse(Array.empty)
      .filter(f => new java.io.File(f, "_READY").exists())
    val lastStatus = spark.read
      .parquet(s"${statusDirs.map(_.toString).max}/up")
      .withColumnRenamed("status", "_st")
    verd
      .join(comp.select(col("doc_id"),
        (col("doc_id") === col("component")).as("dedup_ok")), "doc_id")
      .join(lastStatus, Seq("doc_id"), "left")
      .withColumn("status", coalesce(col("_st"), lit("unchanged")))
      .withColumn("keep", col("lang_ok") && col("quality_ok")
        && col("rep_ok") && col("decon_ok") && col("dedup_ok"))
      .select("doc_id", "lang_ok", "quality_ok", "rep_ok", "decon_ok",
        "dedup_ok", "keep", "status")
      .orderBy("doc_id")
  }
}
