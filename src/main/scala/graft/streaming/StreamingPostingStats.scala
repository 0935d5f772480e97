package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TextOps
import graft.sources.DeltaLog

/** CONTINUOUS posting-stats maintenance (q236) — the text-index
  * sibling of the streaming IVF maintainer (q235): document batches
  * (upserts + tombstones) land on a file source and every micro-batch
  * updates the vocabulary-grain (t, df, tf) table by ADDITIVE merge —
  * add the batch docs' stats, subtract the tombstoned docs' — committing
  * only the TOUCHED vocabulary rows into a [[DeltaLog]] state table.
  * This composes q196 (append merge) and q232 (delete subtraction)
  * into the running process a living BM25 index deploys:
  *
  *   - batch 0 seeds: full stats over the first snapshot, plus the
  *     corpus itself as a doc-keyed state table (deletes must
  *     re-tokenize retracted docs, and a CDC tombstone carries only
  *     the key — the corpus table is the index's own copy, the same
  *     reason Lucene keeps stored fields);
  *   - batch 1+ applies the epoch: the touched vocabulary = terms of
  *     batch docs ∪ terms of tombstoned docs; each touched term's row
  *     is upserted with stored + added − deleted (or DELETED when df
  *     hits zero — BM25 reads this table and df=0 is a
  *     divide-by-zero). Untouched vocabulary is never rewritten.
  *
  * The gate proves the lifecycle: after the drain, the resolved stats
  * must equal the oracle's from-scratch stats of the post-epoch
  * corpus, row for row.
  *
  * Scale: df/tf are additive group aggregates, so per batch the work
  * is tokenizing the batch ∪ tombstoned docs and a vocabulary-grain
  * merge on the touched terms — never a corpus re-aggregate. Commits
  * are touched-rows-sized; DeltaLog epochs give the q162 crash/replay
  * discipline. */
object StreamingPostingStats {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("deleted", BooleanType)))

  /** Stage the two-batch landing dir per fixture signature: b0 = prev
    * snapshot (doc_id % 6 ≠ 0), b1 = the CDC epoch — appends (% 6 = 0)
    * plus tombstones for prev keys with doc_id % 7 = 3 (mirroring the
    * q233/q235 epoch shape on the documents table). */
  private def stagedLanding(spark: SparkSession, dir: String): String =
    FixtureStaging.stageOnce("pststream", s"$dir/documents.parquet",
      "/tmp/graft-pststream") { d =>
      import java.nio.file.Files
      val all = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      val prev = all.filter(col("doc_id") % 6 =!= 0)
      val seed = prev.withColumn("deleted", lit(false))
      val epoch = all.filter(col("doc_id") % 6 === 0)
        .withColumn("deleted", lit(false))
        .unionByName(prev.filter(col("doc_id") % 7 === 3)
          .select(col("doc_id"), lit(null).cast("string").as("text"))
          .withColumn("deleted", lit(true)))
      def land(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = Files.createTempDirectory("graft-pststream").toString
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.copy(part.toPath, d.resolve(name))
        d.resolve(name).toFile.setLastModified(mtime)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
      val t0 = System.currentTimeMillis() - 60000
      land(seed, "0000_seed.parquet", t0)
      land(epoch, "0001_epoch.parquet", t0 + 30000)
    }

  private val replay = new Drain.Replay("pststream", "documents.parquet")

  /** Per-run scratch root (state logs + checkpoint), per fixture
    * signature AND pid — exposed so the spec can audit per-batch
    * commit sizes on disk. */
  def runRoot(dir: String): String = replay.root(dir)

  /** ONE maintainer step: resolve state `< batchId`, add the batch
    * docs' stats, subtract the tombstoned docs' (re-tokenized from the
    * corpus state), commit only the touched vocabulary rows and the
    * corpus delta. */
  def applyBatch(spark: SparkSession, root: String, batch: DataFrame,
      batchId: Long): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    def log(t: String) = s"$root/state/$t"
    val rs = Await.result(Future.sequence(Seq(
      Future(DeltaLog.read(spark, log("stats"), Seq("t"), Some(batchId))
        .map(_.localCheckpoint())),
      Future(DeltaLog.read(spark, log("corpus"), Seq("doc_id"),
        Some(batchId))))), Duration.Inf)
    val ups = batch.filter(!col("deleted")).select("doc_id", "text")
    val tombs = batch.filter(col("deleted")).select("doc_id")
    // an upsert REPLACES its key: its old text's stats must leave the
    // index just like a tombstone's (on this fixture upserts are pure
    // appends, but the maintainer honors the general CDC contract)
    val gone = rs(1) match {
      case Some(corpus) => corpus
        .join(tombs.unionByName(ups.select("doc_id")), Seq("doc_id"),
          "left_semi")
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(docSchema.fields.take(2)))
    }
    val add = TextOps.postingStatsOf(ups)
      .select(col("t"), col("df").as("dfa"), col("tf").as("tfa"))
    val sub = TextOps.postingStatsOf(gone)
      .select(col("t"), col("df").as("dfd"), col("tf").as("tfd"))
    val touched = add.join(sub, Seq("t"), "full_outer").localCheckpoint()
    val stored = rs.head.getOrElse(
      spark.range(0).select(lit("").as("t"), lit(0L).as("df"),
        lit(0L).as("tf")).filter(lit(false)))
    // left join: only touched terms are read from (and written back
    // to) the stored vocabulary — the untouched rows never move
    val merged = touched
      .join(stored.select(col("t"), col("df").as("dfp"),
        col("tf").as("tfp")), Seq("t"), "left")
      .select(col("t"),
        (coalesce(col("dfp"), lit(0L)) + coalesce(col("dfa"), lit(0L))
          - coalesce(col("dfd"), lit(0L))).as("df"),
        (coalesce(col("tfp"), lit(0L)) + coalesce(col("tfa"), lit(0L))
          - coalesce(col("tfd"), lit(0L))).as("tf"))
      .localCheckpoint()
    Await.result(Future.sequence(Seq(
      Future(DeltaLog.commit(spark, log("stats"), batchId,
        merged.filter(col("df") > 0),
        Some(merged.filter(col("df") <= 0).select("t")), Seq("t"))),
      Future(DeltaLog.commit(spark, log("corpus"), batchId,
        ups, Some(tombs), Seq("doc_id"))))), Duration.Inf)
    ()
  }

  /** Drain the two-batch replay and return the final (t, df, tf)
    * table — identical contract to q232's, over the post-epoch
    * corpus. */
  def statsStream(spark: SparkSession, dir: String): DataFrame = {
    val root = replay.once(spark, dir, stagedLanding(spark, dir), docSchema)(
      applyBatch(spark, _, _, _))
    DeltaLog.read(spark, s"$root/state/stats", Seq("t")).get.orderBy("t")
  }
}
