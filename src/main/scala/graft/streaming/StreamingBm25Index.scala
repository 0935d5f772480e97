package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{Bucketing, DeltaLog, Tables}

/** CONTINUOUS full inverted-index maintenance + bucket-PRUNED BM25
  * serve (q292) — the text-index counterpart of the q286 unification:
  * where q236 maintains only the vocabulary-grain (t, df, tf) stats,
  * this maintainer keeps the whole SERVING index live under CDC
  * (upserts + tombstones) and answers BM25 queries from the
  * maintained state with plan-time pruning, never a corpus pass.
  *
  * State tables (all [[DeltaLog]] — delta-sized commits, `_READY`
  * epochs, crash-replay):
  *   - `postings` keyed (t, doc_id): the posting lists — tf per
  *     (term, doc). The serve's candidate source.
  *   - `doclen`   keyed (doc_id): BM25's length normalizer.
  *   - `totals`   keyed (k): ONE row — live doc count and token count
  *     (avgdl's numerator/denominator), maintained ADDITIVELY.
  *   - `corpus`   keyed (doc_id): the index's own stored fields
  *     (tombstones carry only keys; retracting a doc's postings means
  *     re-tokenizing its text — the reason Lucene keeps stored fields).
  *
  * Per epoch the work is tokenizing the batch ∪ retracted docs and a
  * keyed merge on the TOUCHED rows: posting-row upserts for the batch
  * docs, posting-key deletes for the retracted ones, a doc-grain
  * doclen merge, and a 1-row totals update — never a corpus
  * re-aggregate, exactly how a living BM25 index absorbs a delete
  * (reference's pipeline has no deletes at all; see
  * /root/reference/README.md:1 scope).
  *
  * The serve ([[servedBm25]]) publishes the resolved postings ONCE as
  * a term-bucketed table ([[Bucketing.ensure]] — the q161/q286
  * artifact discipline) and reads ONLY the query terms' posting rows:
  * the query-term set reaches the scan as a literal IN-filter on the
  * bucket key, so term buckets prune at PLAN time
  * (`SelectedBucketsCount` — StreamingBm25ServeSpec pins a 1-term
  * probe to a strict subset) and min/max on the SORTED bucket files
  * skips non-matching row groups inside survivors. df for the scoring
  * formula is counted from the pruned posting rows themselves (a
  * term's full posting list IS in its bucket, so the count is the
  * exact corpus df); nd/avgdl read from the 1-row totals state.
  *
  * Gate: the drained replay's serve must hash-equal a from-scratch
  * BM25 (q182's exact nano-unit arithmetic) over the post-epoch
  * corpus — maintenance invisible to the query layer, now WITH the
  * serving representation, where q234 proved it for df only. */
object StreamingBm25Index {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("deleted", BooleanType)))

  /** The q236 epoch shape on its own staging key: b0 = prev snapshot
    * (doc_id % 6 ≠ 0), b1 = appends (% 6 = 0) + tombstones for prev
    * keys with doc_id % 7 = 3. */
  private[streaming] def stagedLanding(spark: SparkSession, dir: String): String =
    FixtureStaging.stageOnce("bm25stream", s"$dir/documents.parquet",
      "/tmp/graft-bm25stream") { d =>
      import java.nio.file.Files
      val all = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      val prev = all.filter(col("doc_id") % 6 =!= 0)
      val seed = prev.withColumn("deleted", lit(false))
      val epoch = all.filter(col("doc_id") % 6 === 0)
        .withColumn("deleted", lit(false))
        .unionByName(prev.filter(col("doc_id") % 7 === 3)
          .select(col("doc_id"), lit(null).cast("string").as("text"))
          .withColumn("deleted", lit(true)))
      def land(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = Files.createTempDirectory("graft-bm25stream").toString
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

  private val replay = new Drain.Replay("bm25stream", "documents.parquet")

  def runRoot(dir: String): String = replay.root(dir)

  private def tfOf(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
    .groupBy("t", "doc_id").agg(count(lit(1)).as("tf"))

  /** ONE maintainer step: resolve state `< batchId`, upsert the batch
    * docs' posting/doclen rows, delete the retracted docs' (keys
    * re-tokenized from the corpus state), fold the totals delta. */
  def applyBatch(spark: SparkSession, root: String, batch: DataFrame,
      batchId: Long): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    def log(t: String) = s"$root/state/$t"
    val corpusF = Future(DeltaLog.read(spark, log("corpus"),
      Seq("doc_id"), Some(batchId)))
    val totalsF = Future(DeltaLog.read(spark, log("totals"),
      Seq("k"), Some(batchId)).map(_.collect()(0)))
    val corpusPrev = Await.result(corpusF, Duration.Inf)
    val totalsPrev = Await.result(totalsF, Duration.Inf)
    val ups = batch.filter(!col("deleted")).select("doc_id", "text")
    val tombs = batch.filter(col("deleted")).select("doc_id")
    // an upsert REPLACES its key: its old text's postings leave the
    // index exactly like a tombstone's (general CDC contract; on this
    // fixture the epoch's upserts are pure appends)
    val gone = corpusPrev match {
      case Some(corpus) => corpus
        .join(tombs.unionByName(ups.select("doc_id")), Seq("doc_id"),
          "left_semi")
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(docSchema.fields.take(2)))
    }
    val tfUps = tfOf(ups).localCheckpoint()
    val tfGone = tfOf(gone).localCheckpoint()
    val dlUps = tfUps.groupBy("doc_id").agg(sum("tf").as("dl"))
      .localCheckpoint()
    // totals delta: four metadata-grain scalars (1-row aggregates) —
    // nd/nt fold additively so the serve never counts the corpus
    def ndNt(dl: DataFrame): (Long, Long) = {
      val r = dl.agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val (nu, tu) = ndNt(dlUps)
    val (ng, tg) = ndNt(tfGone.groupBy("doc_id").agg(sum("tf").as("dl")))
    val (ndPrev, ntPrev) = totalsPrev match {
      case Some(row) => (row.getAs[Long]("nd"), row.getAs[Long]("nt"))
      case None => (0L, 0L)
    }
    import spark.implicits._
    val totalsNew = Seq((0L, ndPrev + nu - ng, ntPrev + tu - tg))
      .toDF("k", "nd", "nt")
    Await.result(Future.sequence(Seq(
      Future(DeltaLog.commit(spark, log("postings"), batchId, tfUps,
        Some(tfGone.select("t", "doc_id")), Seq("t", "doc_id"))),
      Future(DeltaLog.commit(spark, log("doclen"), batchId, dlUps,
        Some(tombs), Seq("doc_id"))),
      Future(DeltaLog.commit(spark, log("totals"), batchId, totalsNew,
        None, Seq("k"))),
      Future(DeltaLog.commit(spark, log("corpus"), batchId, ups,
        Some(tombs), Seq("doc_id"))))), Duration.Inf)
    ()
  }

  /** Fixture dir → drained state root, once per process per fixture. */
  def drainedStateRoot(spark: SparkSession, dir: String): String =
    replay.once(spark, dir, stagedLanding(spark, dir), docSchema)(
      applyBatch(spark, _, _, _))

  /** The resolved post-epoch postings PUBLISHED once as a t-bucketed
    * table — the serving artifact. Deterministic end state, so
    * [[Bucketing.ensure]]'s catalog + file-lock discipline amortizes
    * the publish across processes; at 100 TB the rewrite restricts to
    * the epoch's touched terms' buckets (the DeltaLog commits carry
    * the touched term keys).
    *
    * STALENESS CONTRACT: the artifact carries an `_epoch` stamp (the
    * state log's last committed epoch at publish time). Every serve
    * goes through here, and a stamp that disagrees with the live log
    * (a crash between a commit and its publish, or a stale surviving
    * generation) is read-repaired — table dropped, files rebuilt from
    * the log, restamped — before anything answers from it. */
  def publishedPostings(spark: SparkSession, dir: String): DataFrame = {
    val root = drainedStateRoot(spark, dir)
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val sig = FixtureStaging.key("bm25pub", s"$dir/documents.parquet")
    val name = s"b_bm25pub_s${sig}_$tag"
    val logEpoch = DeltaLog
      .lastEpoch(spark, s"$root/state/postings")
      .getOrElse(throw new IllegalStateException(
        s"no committed postings state under $root"))
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed"
    val stamp = java.nio.file.Paths.get(s"$base/$name/_epoch")
    def ensure(): Unit = Bucketing.ensure(spark, name,
      DeltaLog.read(spark, s"$root/state/postings",
        Seq("t", "doc_id")).get,
      "t", sweep = Some(("b_bm25pub_s", s"_$tag")))
    Bucketing.lockFor(name).synchronized {
      ensure()
      val stampedEpoch =
        if (java.nio.file.Files.exists(stamp))
          Some(new String(java.nio.file.Files.readAllBytes(stamp),
            "UTF-8").trim.toLong)
        else None
      if (!stampedEpoch.contains(logEpoch)) {
        if (stampedEpoch.isDefined) { // stale: rebuild from the log
          spark.sql(s"DROP TABLE IF EXISTS $name")
          org.apache.commons.io.FileUtils.deleteDirectory(
            new java.io.File(s"$base/$name"))
          ensure()
          spark.catalog.refreshTable(name)
        }
        java.nio.file.Files.write(stamp,
          logEpoch.toString.getBytes("UTF-8"))
      }
    }
    spark.table(name)
  }

  /** The epoch the published artifact was stamped at — after
    * [[publishedPostings]]'s repair, always the state log's last
    * committed epoch (StreamingBm25ServeSpec pins the equality). */
  def servedEpoch(spark: SparkSession, dir: String): Long = {
    publishedPostings(spark, dir)
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val sig = FixtureStaging.key("bm25pub", s"$dir/documents.parquet")
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed"
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$base/b_bm25pub_s${sig}_$tag/_epoch")),
      "UTF-8").trim.toLong
  }

  /** q292: BM25 served from the delete-maintained index — q182's exact
    * scoring (same nano-unit expression tree, same ranks) answered
    * entirely from maintained state: candidates from the published
    * posting buckets pruned to the query terms, df counted from those
    * same pruned rows, dl from the doclen state, nd/avgdl from the
    * 1-row totals state. The query-term collect is metadata-grain
    * (the query set's vocabulary, never the corpus's). */
  def servedBm25(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val root = drainedStateRoot(spark, dir)
    val post = publishedPostings(spark, dir)
    val dl = DeltaLog.read(spark, s"$root/state/doclen", Seq("doc_id")).get
    val tot = DeltaLog.read(spark, s"$root/state/totals", Seq("k"))
      .get.collect()(0)
    val nd = tot.getAs[Long]("nd")
    val avgdl = tot.getAs[Long]("nt").toDouble / nd
    val corpus = DeltaLog.read(spark, s"$root/state/corpus",
      Seq("doc_id")).get
    val q = corpus
      .filter(graft.operators.Retrieval.inQueryCohort(col("doc_id")))
      .select(col("doc_id").as("query_id"),
        explode(split(col("text"), " ")).as("t"))
      .distinct().localCheckpoint()
    val terms = q.select("t").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val pruned = post.filter(col("t").isin(terms: _*))
    val df = pruned.groupBy("t").agg(count(lit(1)).as("df"))
    val idf = log(((lit(nd) - col("df")).cast("double") + lit(0.5))
      / (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val tfn = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") + lit(1.2) *
        (lit(0.25) + lit(0.75) * (col("dl").cast("double") / lit(avgdl))))
    val c9 = floor(idf * tfn * lit(1000000000.0) + lit(0.5)).cast("long")
    val w = Window.partitionBy("query_id")
      .orderBy(desc("s9"), asc("doc_id"))
    broadcast(q)
      .join(pruned, "t")
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(df), "t")
      .join(dl, "doc_id")
      .select(col("query_id"), col("doc_id"), c9.as("c9"))
      .groupBy("query_id", "doc_id")
      .agg(sum("c9").as("s9"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        (col("s9").cast("double") / lit(1000000000.0)).as("score"))
      .orderBy("query_id", "rank")
  }
}
