package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Graphs, VectorOps}
import graft.sources.DeltaLog

/** CONTINUOUS IVF index maintenance (q235) — q233's one-epoch
  * upsert+delete step as a running process: vector batches (upserts +
  * tombstones) land on a file source and every micro-batch applies one
  * [[VectorOps.ivfEpochStep]] against the persisted index state via
  * `foreachBatch`, committing ONLY the epoch's keyed deltas into four
  * log-structured [[DeltaLog]] tables — the deployment shape of a
  * living ANN/dedup index under a CDC feed (GDPR retractions, re-crawl
  * replacements, daily appends):
  *
  *   - batch 0 seeds the index: the full build chain (assign →
  *     bucketed pairs → components) over the first snapshot, with
  *     centroids frozen at the snapshot's first-K and committed as a
  *     state table of their own;
  *   - batch 1+ delivers CDC epochs: upserts assign against the FROZEN
  *     centroids and probe the surviving index, tombstones retire
  *     their assignment and pair rows additively, and only the
  *     affected clusters re-close ([[VectorOps.ivfEpochStep]]'s
  *     composition rules);
  *   - per state table, a batch commits upserts of changed rows and
  *     deletes of retired keys — write I/O is delta-sized, matching
  *     the delta-sized compute; DeltaLog's epoch discipline
  *     (`_READY`-marked epoch dirs, replay-safe `< batchId`
  *     resolution) makes a crashed batch invisible and a replayed one
  *     idempotent, exactly q162's crash story.
  *
  * The gate proves the whole lifecycle: after the drain, the resolved
  * component table must equal q233's one-shot epoch — and therefore
  * the oracle's FULL rebuild over the post-epoch corpus — bit-for-bit
  * (streaming-incremental ≡ staged-incremental ≡ full).
  *
  * Scale: the seed batch is the one corpus-sized write (any index is
  * built once); every later batch touches delta ∪ affected-cluster
  * rows only. State tables are parquet DeltaLogs here and real tables
  * in deployment; auto-compaction bounds the log fold.
  */
object StreamingIvfMaintainer {

  private val NCentroids = 16
  private val Threshold = 0.4
  private val NProbe = 4

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("deleted", BooleanType)))

  /** Stage the two-batch landing dir per fixture signature: b0 = prev
    * corpus snapshot (vec_id % 6 ≠ 0), b1 = the CDC epoch — appends
    * (% 6 = 0) as upserts plus tombstones for the prev keys with
    * vec_id % 7 = 3 (q231/q233's retraction feed). Mtimes ascend so
    * the file source replays the epochs in order. */
  private def stagedLanding(spark: SparkSession, dir: String): String =
    FixtureStaging.stageOnce("ivfstream", s"$dir/embeddings.parquet",
      "/tmp/graft-ivfstream") { d =>
      import java.nio.file.Files
      val all = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val prev = all.filter(col("vec_id") % 6 =!= 0)
      val seed = prev.withColumn("deleted", lit(false))
      val epoch = all.filter(col("vec_id") % 6 === 0)
        .withColumn("deleted", lit(false))
        .unionByName(prev.filter(col("vec_id") % 7 === 3)
          .select(col("vec_id"),
            lit(null).cast(ArrayType(FloatType)).as("embedding"))
          .withColumn("deleted", lit(true)))
      def land(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = Files.createTempDirectory("graft-ivfstream").toString
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

  private val replay = new Drain.Replay("ivfstream", "embeddings.parquet")

  /** Per-run scratch root (state logs + checkpoint), per fixture
    * signature AND pid — exposed so the spec can audit per-batch
    * commit sizes on disk. */
  def runRoot(dir: String): String = replay.root(dir)

  /** In-memory snapshot of the four resolved state tables as of epoch
    * `upTo` (exclusive), each localCheckpointed — the cross-batch
    * cache that removes the per-batch log-resolution floor: a running
    * maintainer resolves from the DeltaLog only on FIRST contact
    * (restart/recovery — the crash story is unchanged, the log stays
    * the source of truth), then advances the snapshot by folding in
    * each epoch's own committed delta (a broadcast anti-join + union —
    * map-only over the in-memory parent, no log re-read, no
    * resolve-shuffle). A replay of an older batch (cache ahead) falls
    * back to the log's `< batchId` snapshot read and never regresses
    * the cache. */
  private case class Snapshot(upTo: Long, centroids: DataFrame,
      assigned: DataFrame, pairs: DataFrame, comp: DataFrame)
  private val snapshots =
    new java.util.concurrent.ConcurrentHashMap[String, Snapshot]()

  /** Advance the cached snapshot monotonically (a replayed older batch
    * recomputes an old snapshot — never let it clobber a newer one). */
  private def advance(root: String, s: Snapshot): Unit =
    snapshots.merge(root, s,
      (old, nw) => if (nw.upTo > old.upTo) nw else old)

  /** Bucket count of the published read artifact — scaled to the
    * CENTROID count, not the generic table default: the minimum
    * rewrite for one touched cid is its whole bucket file
    * (~K/NB clusters), so per-epoch publish I/O is
    * (|touched buckets|/NB)·index and only stays delta-shaped when
    * NB ≳ K keeps buckets cluster-grain. Under the adaptive-K policy
    * (K = √(n/8), q141) an epoch's touched-cid count sits far below
    * K, so cluster-grain buckets make the rewrite proportional to
    * the delta's clusters; a fixed small NB would smear every epoch
    * across the whole artifact. Here K = NCentroids = 16. */
  private val PubBuckets =
    math.max(graft.sources.Bucketing.NumBuckets, NCentroids)

  private def pubDir(root: String) = s"$root/published/assigned"

  /** A cid's bucket id under Spark's own bucket-file hash —
    * `pmod(murmur3(cid), n)` is exactly `HashPartitioning
    * .partitionIdExpression`, the function `bucketBy` uses to route
    * rows to bucket files, so files this publish writes and the
    * bucket-pruned reads Spark plans agree on placement
    * (AffectedBucketPublishSpec pins the agreement against a real
    * bucketBy write). */
  private def bucketOfCid = pmod(hash(col("cid")), lit(PubBuckets))

  /** The epoch stamp of the published artifact (−1 before any
    * publish): serves read it to prove freshness against
    * [[graft.sources.DeltaLog.lastEpoch]] of the assigned state log. */
  def publishedEpoch(root: String): Long = {
    val p = java.nio.file.Paths.get(s"${pubDir(root)}/_epoch")
    if (!java.nio.file.Files.exists(p)) -1L
    else new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .trim.toLong
  }

  /** AFFECTED-BUCKET PUBLISH: rewrite only the per-bucket files named
    * in `buckets` (None = all, the seed/recovery full publish) from
    * the resolved assigned state, then stamp the publish epoch. The
    * write cost is the rewritten buckets' bytes — delta-shaped for an
    * epoch (the touched cid set hashes to the buckets to rewrite),
    * index-shaped only at seed — which is what makes the read
    * artifact affordable to keep fresh per epoch at 100 TB.
    *
    * Mechanics: ONE Spark job routes rows to bucket dirs by VALUE
    * (`partitionBy` on the computed bucket id; `repartition` on it
    * first so each bucket lands as exactly one cid-sorted file), then
    * each file moves into the flat `b_<id>.parquet` layout whose name
    * Spark's bucketed-table reader parses for the bucket id. A
    * rewritten-to-empty bucket deletes its stale file. Content is
    * deterministic (sorted rows, fixed codec), so a replayed epoch
    * republishes identical bytes; untouched buckets' files are not
    * opened, written, or moved. A `_publog` line per publish records
    * epoch → rewritten buckets/bytes (the delta-sized-cost evidence). */
  private def publishBuckets(spark: SparkSession, root: String,
      resolved: DataFrame, buckets: Option[Set[Int]],
      epoch: Long): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = pubDir(root)
    Files.createDirectories(Paths.get(dir))
    if (buckets.forall(_.nonEmpty)) {
      val withB = resolved.withColumn("_bkt", bucketOfCid)
      val selected = buckets match {
        case Some(bs) => withB.filter(col("_bkt").isin(bs.toSeq: _*))
        case None => withB
      }
      val tmp = Files.createTempDirectory("graft-ivfpub").toString
      selected.repartition(col("_bkt"))
        .sortWithinPartitions("_bkt", "cid", "vec_id")
        .write.partitionBy("_bkt").mode("overwrite").parquet(tmp)
      val dirs = Option(new java.io.File(tmp).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith("_bkt="))
      var bytes = 0L
      val writtenIds = dirs.map { d =>
        val b = d.getName.stripPrefix("_bkt=").toInt
        val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
        // repartition routed the whole bucket to one task → one file
        require(parts.length == 1,
          s"bucket $b wrote ${parts.length} files, expected 1")
        bytes += parts.head.length()
        Files.move(parts.head.toPath,
          Paths.get(f"$dir/b_$b%05d.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        b
      }.toSet
      // a bucket selected for rewrite but now empty (every row deleted)
      // must drop its stale file or the read would resurrect the rows
      buckets.getOrElse((0 until PubBuckets).toSet)
        .diff(writtenIds).foreach { b =>
          Files.deleteIfExists(Paths.get(f"$dir/b_$b%05d.parquet")) }
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(tmp))
      Files.write(Paths.get(s"$dir/_publog"),
        (s"epoch=$epoch rewrote=${writtenIds.toSeq.sorted.mkString(",")}" +
          s" files=${writtenIds.size} bytes=$bytes\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } else {
      Files.write(Paths.get(s"$dir/_publog"),
        s"epoch=$epoch rewrote= files=0 bytes=0\n".getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    Files.write(Paths.get(s"$dir/_epoch"),
      epoch.toString.getBytes("UTF-8"))
  }

  /** stored + one epoch's committed (upserts, deletes) → the next
    * resolved state: touched keys leave, upserts enter. The touched
    * key set is delta-sized → broadcast, so the fold is ONE map-only
    * pass over the stored snapshot. */
  private def foldDelta(stored: DataFrame, delta: Option[
      (DataFrame, Option[DataFrame])], keys: Seq[String]): DataFrame =
    delta match {
      case None => stored
      case Some((ups, dels)) =>
        val k = keys.map(col)
        val touched = ups.select(k: _*)
          .unionByName(dels.map(_.select(k: _*))
            .getOrElse(ups.select(k: _*).limit(0)))
          .distinct()
        stored.join(broadcast(touched), keys, "left_anti")
          .unionByName(ups)
    }

  /** ONE maintainer step: resolve the four state tables as of epochs
    * `< batchId` (from the in-memory snapshot when it is current,
    * from the log on restart/replay), seed on first contact (full
    * build chain), otherwise run [[VectorOps.ivfEpochStep]] and commit
    * only its keyed deltas — then fold those committed deltas into the
    * snapshot so the next batch skips the log resolution. */
  def applyBatch(spark: SparkSession, root: String, batch: DataFrame,
      batchId: Long): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    def log(t: String) = s"$root/state/$t"
    // the epoch step consumes assigned twice, pairs thrice and comp
    // three times — each frame is localCheckpointed once per batch
    // (at snapshot-advance time on the hot path, at resolution time on
    // the restart path); the four independent resolutions run
    // concurrently (one resolution latency per batch, not four)
    def resolved(t: String, keys: Seq[String]) = Future(
      DeltaLog.read(spark, log(t), keys, Some(batchId))
        .map(_.localCheckpoint()))
    val rs = Option(snapshots.get(root)).filter(_.upTo == batchId) match {
      case Some(s) =>
        Seq(Some(s.centroids), Some(s.assigned), Some(s.pairs),
          Some(s.comp))
      case None =>
        Await.result(Future.sequence(Seq(
          resolved("centroids", Seq("cid")),
          resolved("assigned", Seq("vec_id", "cid")),
          resolved("pairs", Seq("ida", "idb")),
          resolved("comp", Seq("vec_id")))), Duration.Inf)
    }
    val ups = batch.filter(!col("deleted")).select("vec_id", "embedding")
    rs.head match {
      case None =>
        // seed epoch: the full build chain — the one corpus-sized
        // commit an index pays exactly once in its life
        val cents = VectorOps.centroidsOf(ups, NCentroids)
        val assigned = VectorOps
          .assignWithCentroids(spark, ups, cents, NProbe)
          .localCheckpoint()
        // uncapped, matching the epoch step's deltaPairs (capped
        // stored pairs + an uncapped delta probe would diverge)
        val pairs = VectorOps.pairsFromAssigned(assigned, Threshold,
            NProbe, maxBucket = Long.MaxValue)
          .localCheckpoint()
        val comp = ups.select("vec_id")
          .join(Graphs.components(pairs, "ida", "idb")
            .withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("comp"), col("vec_id")).as("component"))
        val centsDf = {
          import spark.implicits._
          spark.createDataset(cents.toSeq).toDF("cid", "cv")
        }
        Await.result(Future.sequence(Seq(
          Future(DeltaLog.commit(spark, log("centroids"), batchId,
            centsDf, None, Seq("cid"))),
          Future(DeltaLog.commit(spark, log("assigned"), batchId,
            assigned, None, Seq("vec_id", "cid"))),
          Future(DeltaLog.commit(spark, log("pairs"), batchId,
            pairs, None, Seq("ida", "idb"))),
          Future(DeltaLog.commit(spark, log("comp"), batchId,
            comp, None, Seq("vec_id"))))), Duration.Inf)
        advance(root, Snapshot(batchId + 1, centsDf.localCheckpoint(),
          assigned, pairs, comp.localCheckpoint()))
        // seed publish: the one index-sized write of the artifact's life
        publishBuckets(spark, root, assigned, None, batchId)
      case Some(centsDf) =>
        import spark.implicits._
        val cents = centsDf.select(col("cid"), col("cv"))
          .as[(Long, Array[Float])].collect().sortBy(_._1)
        val tomb = batch.filter(col("deleted")).select("vec_id")
          .localCheckpoint() // fans into the affected set + anti-joins
        val d = VectorOps.ivfEpochStep(spark, cents, rs(1).get,
          rs(2).get, rs(3).get, ups, tomb, Threshold, NProbe)
        Await.result(Future.sequence(Seq(
          Future(DeltaLog.commit(spark, log("assigned"), batchId,
            d.deltaAssigned, Some(d.retiredAssigned), Seq("vec_id", "cid"))),
          Future(DeltaLog.commit(spark, log("pairs"), batchId,
            d.newPairs, Some(d.retiredPairs), Seq("ida", "idb"))),
          Future(DeltaLog.commit(spark, log("comp"), batchId,
            d.reclosed, Some(tomb), Seq("vec_id"))))), Duration.Inf)
        // advance the snapshot by folding in the deltas JUST COMMITTED,
        // read back from the log (the source of truth — a replayed
        // batch folds the ORIGINAL committed delta, not its recompute);
        // the three folds checkpoint concurrently
        def folded(stored: DataFrame, t: String, keys: Seq[String]) =
          Future(foldDelta(stored,
            DeltaLog.epochDelta(spark, log(t), batchId), keys)
            .localCheckpoint())
        val nf = Await.result(Future.sequence(Seq(
          folded(rs(1).get, "assigned", Seq("vec_id", "cid")),
          folded(rs(2).get, "pairs", Seq("ida", "idb")),
          folded(rs(3).get, "comp", Seq("vec_id")))), Duration.Inf)
        advance(root,
          Snapshot(batchId + 1, rs.head.get, nf(0), nf(1), nf(2)))
        // affected-bucket publish: the epoch's committed assigned delta
        // (deltaAssigned ∪ retiredAssigned keys, read back from the
        // log — the replay-stable source) names the touched cids;
        // hashing them names exactly the bucket files to rewrite. The
        // rewrite reads the folded in-memory snapshot restricted to
        // those buckets — every untouched bucket's file carries over.
        val touched = DeltaLog.epochDelta(spark, log("assigned"), batchId)
          .map { case (dUps, dDels) =>
            dUps.select(bucketOfCid.as("b"))
              .unionByName(dDels.map(_.select(bucketOfCid.as("b")))
                .getOrElse(dUps.select(bucketOfCid.as("b")).limit(0)))
              .distinct().collect().map(_.getInt(0)).toSet
          }.getOrElse(Set.empty[Int])
        publishBuckets(spark, root, nf(0), Some(touched), batchId)
    }
    ()
  }

  /** Drain the two-batch replay (once per process per fixture, so
    * every consumer — the q235 verdict, the q237 serve — reads the same
    * committed state) and return the state root holding the four
    * committed DeltaLog tables. */
  def drainedStateRoot(spark: SparkSession, dir: String): String =
    replay.once(spark, dir, stagedLanding(spark, dir), vecSchema)(
      applyBatch(spark, _, _, _))

  /** q235: the final cluster verdict — identical contract (and oracle)
    * to q233's one-shot epoch. The verdict assembles at read time from
    * the resolved component table; the corpus-sized materialization
    * happens once at the END, not once per batch. */
  def maintainerStream(spark: SparkSession, dir: String): DataFrame = {
    val root = drainedStateRoot(spark, dir)
    val comp = DeltaLog.read(spark, s"$root/state/comp", Seq("vec_id")).get
    comp
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("component")))
      .withColumn("is_canonical", col("vec_id") === col("component"))
      .withColumn("status",
        when(col("vec_id") % 6 === 0, "appended").otherwise("retained"))
      .orderBy("vec_id")
  }

  /** q237: ANN SERVED from the maintained state — the read that makes
    * the maintainer worth running: after the drain, top-k queries are
    * answered from the resolved `assigned` state table (multi-probe
    * rows, tombstones retired, appends present) against the frozen
    * `centroids` state, never touching the original corpus. This gates
    * the state tables q235's verdict doesn't reach (assigned +
    * centroids): the oracle recomputes probe-and-rank over the
    * post-epoch corpus from scratch, so a hash match proves the
    * delta-maintained inverted lists ARE the post-epoch index.
    *
    * Both sides are multi-probe (the state stores each vector in its
    * top-`nProbe` buckets, q233's assignment discipline), so a
    * (query, neighbor) pair can meet in several probed buckets —
    * candidates dedupe before ranking, mirrored by the oracle's
    * DISTINCT. Scale: probe lists are driver-side metadata
    * (nQueries × nProbe); the serve is one broadcast equi-join on cid
    * over ~nProbe²/K of the index plus a per-query top-k window. */
  /** READ-OPTIMIZED PUBLISH of the delete-maintained index — the
    * round-7 review's "unify the two representations" step: the
    * resolved post-epoch `assigned` state kept as a cid-bucketed,
    * cid-sorted table in the same bucket layout the append-only index
    * artifact (q153/q163) serves from. The DeltaLog state tables
    * remain the WRITE path (delta-sized commits, crash-safe epoch
    * replay); this artifact is the READ path — the Lucene/RocksDB
    * segment-publish analog, giving the delete-maintained index
    * q161's plan-time bucket pruning instead of q237's full-state
    * scan.
    *
    * The artifact is maintained INCREMENTALLY by [[applyBatch]]: the
    * seed epoch writes all buckets once, and every CDC epoch rewrites
    * only the bucket files its committed delta's cid set hashes to
    * ([[publishBuckets]]) — publish I/O scales with the delta, not
    * the index (AffectedBucketPublishSpec pins untouched files
    * byte-identical across an epoch and the publog's delta-sized
    * cost). This method only REGISTERS the published directory as a
    * bucketed table (session DDL, no data motion), after proving
    * freshness: the artifact's `_epoch` stamp must equal the state
    * log's last committed epoch, and a stale artifact (a crash
    * between a commit and its publish) is read-repaired by one full
    * republish before anything serves from it. */
  def publishedIndex(spark: SparkSession, dir: String): DataFrame = {
    val root = drainedStateRoot(spark, dir)
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val sig = FixtureStaging.key("ivfmpub", s"$dir/embeddings.parquet")
    val pid = ProcessHandle.current().pid()
    val name = s"b_ivfmpub_p${pid}_s${sig}_$tag"
    graft.sources.Bucketing.lockFor(name).synchronized {
      val logEpoch = DeltaLog
        .lastEpoch(spark, s"$root/state/assigned")
        .getOrElse(throw new IllegalStateException(
          s"no committed assigned state under $root"))
      if (publishedEpoch(root) != logEpoch) {
        publishBuckets(spark, root,
          DeltaLog.read(spark, s"$root/state/assigned",
            Seq("vec_id", "cid")).get, None, logEpoch)
        // the repair rewrote files under a location the session may
        // have already cached a listing for
        if (spark.catalog.tableExists(name))
          spark.catalog.refreshTable(name)
      }
      if (!spark.catalog.tableExists(name)) {
        val schema = spark.read.parquet(pubDir(root)).schema
        spark.sql(s"CREATE TABLE $name (${schema.toDDL}) " +
          s"USING PARQUET CLUSTERED BY (cid) SORTED BY (cid) " +
          s"INTO $PubBuckets BUCKETS LOCATION '${pubDir(root)}'")
      }
    }
    spark.table(name)
  }

  /** q286: bucket-PRUNED ANN served from the delete-maintained index —
    * [[servedKnn]]'s exact contract (same oracle: multi-probe
    * probe-and-rank recomputed over the post-epoch corpus) answered
    * from the [[publishedIndex]] artifact with q161's serving
    * discipline: per-query probe lists computed driver-side against
    * the frozen `centroids` state (metadata-sized), and the probed cid
    * set reaching the scan as a LITERAL IN-filter so the bucketed
    * table prunes to the probed buckets at PLAN time
    * (`SelectedBucketsCount` — StreamingIvfPrunedServeSpec pins the
    * strict subset). The serve reads ~nProbe·nQueries/K of the
    * post-delete index ON DISK — deletes and pruning together, where
    * q161 had pruning without deletes and q237 deletes without
    * pruning. */
  def servedKnnPruned(spark: SparkSession, dir: String,
      nQueries: Int = 10, k: Int = 5): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val root = drainedStateRoot(spark, dir)
    val idx = publishedIndex(spark, dir)
    val cents = DeltaLog.read(spark, s"$root/state/centroids", Seq("cid")).get
      .select(col("cid"), col("cv"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    // queries: the first ids still in the post-epoch corpus, read off
    // the published index itself (multi-probe rows dedupe to one
    // embedding per vec_id). At scale this is a key lookup against the
    // vec_id-keyed state, not an index scan.
    val queries = idx.filter(col("vec_id") < nQueries)
      .groupBy("vec_id").agg(first("embedding").as("qv"))
      .as[(Long, Array[Float])].collect().toSeq
    val probesLocal = queries.flatMap { case (qid, qv) =>
      cents.map { case (cid, cv) => (cid, VectorOps.cosOf(qv, cv)) }
        .sortBy { case (cid, s) => (-s, cid) }
        .take(NProbe)
        .map { case (cid, _) => (qid, cid, qv) }
    }
    val probedCids = probesLocal.map(_._2).distinct.sorted
    val probes = probesLocal.toDF("query_id", "cid", "qv")
    val rankW = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    broadcast(probes)
      .join(idx.filter(col("cid").isin(probedCids: _*)), "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("qv"), col("embedding"))
      .as[(Long, Long, Array[Float], Array[Float])]
      .mapPartitions(_.map { case (qi, ni, qv, v) =>
        (qi, ni, VectorOps.cosOf(qv, v)) })
      .toDF("query_id", "neighbor_id", "cos")
      .distinct() // multi-probe × multi-probe: pairs meet in >1 bucket
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn").as("rank"), col("neighbor_id"),
        graft.util.Portable.val6(col("cos")).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** The staleness contract a serving tier reads before trusting the
    * artifact: the epoch the published index was stamped at. After
    * [[publishedIndex]] (which read-repairs), this ALWAYS equals the
    * maintainer's last committed epoch — the spec pins the equality,
    * and q286's serve path goes through publishedIndex so it can
    * never answer from an artifact older than the log. */
  def servedEpoch(spark: SparkSession, dir: String): Long = {
    publishedIndex(spark, dir)
    publishedEpoch(drainedStateRoot(spark, dir))
  }

  def servedKnn(spark: SparkSession, dir: String,
      nQueries: Int = 10, k: Int = 5): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val root = drainedStateRoot(spark, dir)
    val assigned =
      DeltaLog.read(spark, s"$root/state/assigned", Seq("vec_id", "cid")).get
    val cents = DeltaLog.read(spark, s"$root/state/centroids", Seq("cid")).get
      .select(col("cid"), col("cv"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    // queries: the first ids still in the post-epoch corpus — served
    // from the state itself (vec_id grain), embeddings read per query
    val qids = assigned.select("vec_id").distinct()
      .filter(col("vec_id") < nQueries)
    val queries = assigned.join(qids, Seq("vec_id"), "left_semi")
      .groupBy("vec_id").agg(first("embedding").as("qv"))
      .as[(Long, Array[Float])].collect().toSeq
    val probesLocal = queries.flatMap { case (qid, qv) =>
      cents.map { case (cid, cv) => (cid, VectorOps.cosOf(qv, cv)) }
        .sortBy { case (cid, s) => (-s, cid) }
        .take(NProbe)
        .map { case (cid, _) => (qid, cid, qv) }
    }
    val probes = probesLocal.toDF("query_id", "cid", "qv")
    val rankW = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    broadcast(probes)
      .join(assigned, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("qv"), col("embedding"))
      .as[(Long, Long, Array[Float], Array[Float])]
      .mapPartitions(_.map { case (qi, ni, qv, v) =>
        (qi, ni, VectorOps.cosOf(qv, v)) })
      .toDF("query_id", "neighbor_id", "cos")
      .distinct() // multi-probe × multi-probe: pairs meet in >1 bucket
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn").as("rank"), col("neighbor_id"),
        graft.util.Portable.val6(col("cos")).as("cos_sim"))
      .orderBy("query_id", "rank")
  }
}
