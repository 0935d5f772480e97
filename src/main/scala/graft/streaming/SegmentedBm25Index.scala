package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SEGMENT-published text index (q328) — the Lucene storage model the
  * round-9 SCALE.md addendum names as the at-scale answer for text:
  * where [[StreamingBm25Index]]'s bucketed artifact must REWRITE a
  * term's bucket file to absorb an epoch (and an epoch of k docs
  * touches ~k·|doc vocabulary| terms hashing uniformly across every
  * bucket — the in-place rewrite degenerates to a full rewrite), the
  * segment store APPENDS one immutable segment per epoch and never
  * rewrites anything:
  *
  *   root/seg<epoch>/postings/  (t, doc_id, tf, seg) — sorted by t, so
  *                              parquet row-group min/max skip inside
  *                              each segment under the query-term IN
  *                              filter (the per-segment analogue of
  *                              bucket pruning)
  *   root/seg<epoch>/doclen/    (doc_id, dl)  — BM25's normalizer
  *   root/seg<epoch>/corpus/    (doc_id, text) — stored fields (the
  *                              query set re-tokenizes from here)
  *   root/seg<epoch>/tombs/     (doc_id)      — tombstone SIDECAR: docs
  *                              this epoch retracts from EARLIER
  *                              segments
  *   root/seg<epoch>/meta/      1 row (seg, nd_add, nt_add, nd_del,
  *                              nt_del) — additive totals, so nd/avgdl
  *                              is a metadata-grain Σ over segment
  *                              manifests, never a corpus count
  *   root/seg<epoch>/_READY     commit marker, written LAST
  *
  * A doc's live version is its row in the LATEST segment that mentions
  * it (upsert or tombstone); a tombstone mention kills it. Serves union
  * the per-segment posting reads (each pruned to the query terms) and
  * keep rows whose (doc, seg) is the winning mention — one doc-grain
  * resolve, no index-sized I/O, no publish step at all: the `_READY`
  * marker IS the publish, so the commit→publish staleness window the
  * bucketed artifacts need a stamp + read-repair for (q286/q292)
  * does not exist in this representation.
  *
  * Compaction ([[compact]]) folds all live segments into one — resolved
  * postings/doclen/corpus, empty tombs, totals restated as absolutes —
  * exactly Lucene's merge, with Lucene's publish order: the merged
  * segment commits BESIDE the live ones (as `cseg<epoch>`, which
  * outranks what it folded but never collides with a future batch
  * epoch) and the folded segments are deleted only after its `_READY`
  * lands; a crash anywhere leaves a store every read resolves
  * correctly ([[liveSegs]]). The maintainer loop triggers the fold
  * automatically past [[MaxLiveSegments]] ([[maybeCompact]]) — the
  * merge-policy half of the Lucene model — so per-serve segment
  * fan-in stays bounded under continuous epochs. SegmentedBm25Spec
  * pins: an appended epoch leaves every prior segment file
  * byte-identical; compaction (including its crash window) leaves the
  * serve hash-identical; the policy fires and bounds the count; the
  * serve equals the bucketed q292 serve row-for-row (two
  * representations, one contract).
  *
  * At 100 TB: per-epoch write cost is Θ(epoch delta) by construction
  * (the segment holds only the batch's rows), read cost is
  * Σ per-segment pruned posting reads — segment COUNT is the knob, and
  * compaction bounds it; both are the economics Lucene/ES run in
  * production. Reference scope: the reference pipeline has no deletes
  * or serving index at all (/root/reference/README.md:1); this is the
  * beyond-ref scale surface. */
object SegmentedBm25Index {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("deleted", BooleanType)))

  private val replay = new Drain.Replay("bm25seg", "documents.parquet")

  def runRoot(dir: String): String = replay.root(dir)

  /** A committed segment: plain (one batch epoch) or compacted (the
    * fold of everything at or below its epoch). `ord = 2·epoch +
    * compacted` totally orders mentions so that a compacted segment
    * outranks every segment it folded (same or lower epoch) but is
    * outranked by any LATER batch epoch — and, because batch epochs
    * map to even ords, a compacted segment's odd ord can never collide
    * with a future streaming batchId (the hazard of publishing the
    * merge at `max + 1` in the batch-epoch namespace: a replayed or
    * future batch with that id would see `_READY` and silently drop
    * its data). */
  private case class Seg(epoch: Long, compacted: Boolean) {
    def ord: Long = epoch * 2 + (if (compacted) 1 else 0)
  }
  private def segDir(root: String, s: Seg) =
    f"$root/${if (s.compacted) "cseg" else "seg"}${s.epoch}%010d"
  private def segDir(root: String, e: Long): String =
    segDir(root, Seg(e, compacted = false))
  private val SegRe = "(c?)seg(\\d{10})".r

  /** Every committed segment under `root` (including ones a crashed
    * compaction already folded), ascending by ord. */
  private def committedSegs(root: String): Seq[Seg] = {
    val f = new java.io.File(root)
    Option(f.listFiles()).getOrElse(Array.empty).toSeq
      .flatMap(d => d.getName match {
        case SegRe(c, e) if new java.io.File(d, "_READY").exists =>
          Some(Seg(e.toLong, c == "c"))
        case _ => None
      }).sortBy(_.ord)
  }

  /** LIVE segments: committed minus anything a committed compacted
    * segment has folded (ord below the newest compacted segment's).
    * Folded leftovers exist only in the crash window between a
    * compaction's `_READY` and its cleanup — excluding them here makes
    * every read correct through that window (the merged segment
    * restates their entire state); [[compact]] physically sweeps them
    * on its next run. */
  private def liveSegs(root: String): Seq[Seg] = {
    val all = committedSegs(root)
    all.flatMap(s => Option.when(s.compacted)(s.ord)).maxOption
      .fold(all)(m => all.filter(_.ord >= m))
  }

  /** Live segment epochs under `root`, ascending. Epochs are unique
    * among live segments: a compacted segment shares its epoch only
    * with segments it folded, which [[liveSegs]] excludes. */
  def segments(root: String): Seq[Long] = liveSegs(root).map(_.epoch)

  private def tfOf(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
    .groupBy("t", "doc_id").agg(count(lit(1)).as("tf"))

  /** Doc-grain mention resolve over segments `<= upTo`: one row per
    * doc_id with the winning segment and its dl (null ⇒ tombstoned).
    * Doc-grain — the only non-posting-grain work a serve does. */
  private def resolvedDoclen(spark: SparkSession, root: String,
      upTo: Option[Long] = None): DataFrame = {
    val segs = liveSegs(root).filter(s => upTo.forall(s.epoch <= _))
    require(segs.nonEmpty, s"no committed segments under $root")
    val mentions = segs.map { s =>
      val d = segDir(root, s)
      spark.read.parquet(s"$d/doclen")
        .select(col("doc_id"), col("dl"), lit(s.epoch).as("seg"))
        .unionByName(spark.read.parquet(s"$d/tombs")
          .select(col("doc_id"), lit(null).cast("long").as("dl"),
            lit(s.epoch).as("seg")))
    }.reduce(_ unionByName _)
    mentions.groupBy("doc_id")
      .agg(max_by(col("dl"), col("seg")).as("dl"),
        max(col("seg")).as("win_seg"))
  }

  /** Live postings, optionally pruned to `terms` BEFORE the union —
    * the IN filter pushes into every per-segment parquet scan, where
    * the t-sorted files row-group-skip (per-segment pruning). */
  private def livePostings(spark: SparkSession, root: String,
      terms: Option[Seq[String]]): DataFrame = {
    val segs = liveSegs(root)
    val posts = segs.map { s =>
      val p = spark.read.parquet(s"${segDir(root, s)}/postings")
      terms.fold(p)(ts => p.filter(col("t").isin(ts: _*)))
    }.reduce(_ unionByName _)
    val live = resolvedDoclen(spark, root)
      .filter(col("dl").isNotNull)
      .select(col("doc_id"), col("win_seg"))
    posts.join(live, posts("doc_id") === live("doc_id")
        && posts("seg") === live("win_seg"))
      .select(posts("t"), posts("doc_id"), posts("tf"))
  }

  /** (nd, nt) from the segment manifests — metadata-grain Σ. */
  private def totals(spark: SparkSession, root: String): (Long, Long) = {
    val metas = liveSegs(root)
      .map(s => spark.read.parquet(s"${segDir(root, s)}/meta"))
      .reduce(_ unionByName _)
    val r = metas.agg(
      sum(col("nd_add") - col("nd_del")).as("nd"),
      sum(col("nt_add") - col("nt_del")).as("nt")).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  // spec access (SegmentedBm25Spec drives synthetic stores directly)
  private[graft] def resolvedDoclenForSpec(spark: SparkSession,
      root: String): DataFrame = resolvedDoclen(spark, root)
  private[graft] def livePostingsForSpec(spark: SparkSession,
      root: String, terms: Option[Seq[String]]): DataFrame =
    livePostings(spark, root, terms)
  private[graft] def totalsForSpec(spark: SparkSession,
      root: String): (Long, Long) = totals(spark, root)

  /** Append ONE immutable segment for `batch` (idempotent per epoch —
    * an already-committed segment is a no-op, the foreachBatch replay
    * discipline). Writes only the batch's rows: Θ(delta) I/O. */
  def applySegment(spark: SparkSession, root: String, batch: DataFrame,
      batchId: Long): Unit = {
    val d = segDir(root, batchId)
    val ready = new java.io.File(d, "_READY")
    if (ready.exists) return
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(d)) // half-written: rebuild
    // Within-batch conflict rule (the public per-batch API allows a
    // batch to mention a doc_id more than once): ONE mention per
    // doc_id survives — a tombstone beats any upsert (retract wins
    // over replace inside one epoch), and duplicate upserts resolve
    // to the lexicographically greatest text. Without this, two
    // equal-seg mentions would make max_by(dl, seg) nondeterministic
    // and duplicate live postings would survive the resolve.
    val one = batch.groupBy("doc_id").agg(
      max(col("deleted").cast("int")).as("del"),
      max(when(!col("deleted"), col("text"))).as("text"))
    val ups = one.filter(col("del") === 0).select("doc_id", "text")
      .localCheckpoint()
    val tombs = one.filter(col("del") === 1).select("doc_id")
      .localCheckpoint()
    val tf = tfOf(ups).withColumn("seg", lit(batchId))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl")).localCheckpoint()
    // retracted token mass: tombstoned + REPLACED docs' dl from the
    // prior live state (doc-grain; known at append time, recorded in
    // the manifest so totals stay an additive Σ over manifests)
    val goneKeys = tombs.unionByName(ups.select("doc_id"))
    val (ndDel, ntDel) =
      if (segments(root).isEmpty) (0L, 0L)
      else {
        val prior = resolvedDoclen(spark, root, Some(batchId - 1))
          .filter(col("dl").isNotNull)
          .join(goneKeys, Seq("doc_id"), "left_semi")
        val r = prior.agg(count(lit(1)),
          coalesce(sum("dl"), lit(0L))).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
    val r = dl.agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).collect()(0)
    val (ndAdd, ntAdd) = (r.getLong(0), r.getLong(1))
    import spark.implicits._
    // postings sorted by t inside the segment's files: the query-term
    // IN filter then skips non-matching row groups (per-segment prune)
    tf.sortWithinPartitions("t").write.parquet(s"$d/postings")
    dl.write.parquet(s"$d/doclen")
    ups.write.parquet(s"$d/corpus")
    tombs.write.parquet(s"$d/tombs")
    Seq((batchId, ndAdd, ntAdd, ndDel, ntDel))
      .toDF("seg", "nd_add", "nt_add", "nd_del", "nt_del")
      .write.parquet(s"$d/meta")
    ready.createNewFile(): Unit
  }

  /** Fold every live segment into one (Lucene's merge): resolved
    * postings / doclen / corpus, no tombstones, totals restated as
    * absolutes. Serve results are pinned hash-identical across a
    * compaction; segment count returns to 1, bounding per-serve
    * segment fan-in.
    *
    * Crash-safe publish order: the merged segment is written BESIDE
    * the live ones as `cseg<maxEpoch>` (odd ord — outranks everything
    * it folded, is outranked by any later batch epoch, and can never
    * collide with a future streaming batchId), its `_READY` lands,
    * and only THEN are the folded segments deleted. A crash at any
    * point leaves a correct store: before `_READY`, the live segments
    * are untouched and the half-written merge is swept on the next
    * run; after `_READY`, [[liveSegs]] already excludes the folded
    * segments from every read (so no double-counted totals and no
    * tombstone-history resurrection), and the leftover directories
    * are swept here on the next call.
    *
    * `failBeforeCleanup` is a test hook that simulates exactly that
    * post-`_READY` crash. */
  def compact(spark: SparkSession, root: String,
      failBeforeCleanup: Boolean = false): Unit = {
    // sweep: folded leftovers from a prior post-_READY crash, plus any
    // half-written (no _READY) merge target
    committedSegs(root).filter(_.compacted).map(_.ord).maxOption
      .foreach { m =>
        committedSegs(root).filter(_.ord < m).foreach(s =>
          org.apache.commons.io.FileUtils
            .deleteDirectory(new java.io.File(segDir(root, s))))
      }
    val segs = liveSegs(root)
    if (segs.size <= 1) return
    // size > 1 ⇒ the max-ord live segment is a plain batch segment (a
    // compacted one is live-max only when it folded everything), so
    // cseg<last> cannot itself be committed yet
    val last = segs.map(_.epoch).max
    val d = segDir(root, Seg(last, compacted = true))
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(d)) // half-written merge: rebuild
    val posts = livePostings(spark, root, None)
      .withColumn("seg", lit(last)).localCheckpoint()
    val dl = resolvedDoclen(spark, root).filter(col("dl").isNotNull)
      .select("doc_id", "dl").localCheckpoint()
    val corpus = resolvedCorpus(spark, root).localCheckpoint()
    val (nd, nt) = totals(spark, root)
    import spark.implicits._
    posts.sortWithinPartitions("t").write.parquet(s"$d/postings")
    dl.write.parquet(s"$d/doclen")
    corpus.write.parquet(s"$d/corpus")
    spark.emptyDataset[Long].toDF("doc_id").write.parquet(s"$d/tombs")
    Seq((last, nd, nt, 0L, 0L))
      .toDF("seg", "nd_add", "nt_add", "nd_del", "nt_del")
      .write.parquet(s"$d/meta")
    new java.io.File(d, "_READY").createNewFile()
    if (failBeforeCleanup) return // simulated crash: _READY down, folded
                                  // segments still on disk
    segs.foreach(s => org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(segDir(root, s))))
  }

  /** Auto-compaction policy (the maintainer-loop trigger): serve cost
    * grows with live segment count, so the drain folds the store
    * whenever the count exceeds this — Lucene's merge-policy role in
    * its simplest correct form. The bound makes per-serve fan-in
    * ≤ maxSegments + 1 under continuous epochs while per-epoch write
    * cost stays Θ(delta) between folds. */
  val MaxLiveSegments = 8

  def maybeCompact(spark: SparkSession, root: String,
      maxSegments: Int = MaxLiveSegments): Unit =
    if (liveSegs(root).size > maxSegments) compact(spark, root)

  /** Live stored fields (latest-mention-wins over segment corpora). */
  private def resolvedCorpus(spark: SparkSession, root: String): DataFrame = {
    val segs = liveSegs(root)
    val mentions = segs.map { s =>
      val d = segDir(root, s)
      spark.read.parquet(s"$d/corpus")
        .select(col("doc_id"), col("text"), lit(s.epoch).as("seg"))
        .unionByName(spark.read
          .parquet(s"$d/tombs")
          .select(col("doc_id"), lit(null).cast("string").as("text"),
            lit(s.epoch).as("seg")))
    }.reduce(_ unionByName _)
    mentions.groupBy("doc_id")
      .agg(max_by(col("text"), col("seg")).as("text"))
      .filter(col("text").isNotNull)
  }

  /** Drain the q292 staged landing into a segment store, once per
    * process per fixture. The maintainer loop owns the merge policy:
    * fold whenever the live segment count exceeds the bound, so serve
    * fan-in stays bounded under continuous epochs. */
  def drainedRoot(spark: SparkSession, dir: String): String = {
    val root = replay.once(spark, dir,
      StreamingBm25Index.stagedLanding(spark, dir), docSchema) {
      (store, batch, batchId) =>
        applySegment(spark, store, batch, batchId)
        maybeCompact(spark, store)
    }
    if (segments(root).isEmpty)
      throw new IllegalStateException(s"no segments drained under $root")
    root
  }

  /** The store's committed frontier — the segment model's freshness
    * story: max committed segment epoch (the `_READY` marker is the
    * publish; there is no separate artifact to go stale). */
  def servedEpoch(spark: SparkSession, dir: String): Long =
    segments(drainedRoot(spark, dir)).max

  /** q328: BM25 answered from the SEGMENT store — q182/q292's exact
    * nano-unit scoring (same expression tree, same ranks) over
    * per-segment pruned posting reads + the doc-grain mention resolve;
    * df counted from the pruned live rows (a term's full live posting
    * list survives the union, so the count is the exact corpus df),
    * nd/avgdl from the segment manifests. Must hash-equal the bucketed
    * q292 serve AND the from-scratch DuckDB oracle. */
  def servedBm25(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    servedBm25At(spark, drainedRoot(spark, dir), k)

  /** The serve against an explicit store root — shared by the q328
    * gate (drained fixture store) and the soak harness (its own
    * continuously-maintained store). */
  def servedBm25At(spark: SparkSession, root: String,
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // ONE collect returns the workload-sized cohort term table (the
    // payload broadcast(q) ships anyway); the pruning vocabulary
    // derives driver-side and q re-enters as a LocalTableScan — the
    // r11 retrieval fusion (Retrieval.queryCtx), applied to the serve
    val qRows = resolvedCorpus(spark, root)
      .filter(graft.operators.Retrieval.inQueryCohort(col("doc_id")))
      .select(col("doc_id").as("query_id"),
        explode(split(col("text"), " ")).as("t"))
      .distinct().as[(Long, String)].collect()
    val q = spark.createDataset(qRows.toIndexedSeq).toDF("query_id", "t")
    val terms = qRows.iterator.map(_._2).toSeq.distinct.sorted
    val pruned = livePostings(spark, root, Some(terms)).localCheckpoint()
    val dl = resolvedDoclen(spark, root).filter(col("dl").isNotNull)
      .select("doc_id", "dl")
    val (nd, nt) = totals(spark, root)
    val avgdl = nt.toDouble / nd
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
