package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Tables

/** End-to-end retrieval over a chunked corpus — the RAG read path
  * composed from already-gated stages: context-window chunking (q93's
  * contract) → hash-trick embedding (feature hashing, Weinberger et
  * al.: each token's portable hash picks a dimension and a sign, so
  * the "embedding" is an exact INTEGER vector — no trained model in
  * the loop, which is what makes the whole pipeline oracle-able) →
  * integer-cosine scoring → per-query top-k chunks.
  *
  * Scale shape: chunking and embedding are ONE scan-local kernel pass
  * over the documents (no shuffle — the embedding is map-only); the
  * query set broadcasts; ranking is the standard per-query top-k
  * window. At 100 TB the chunk-vector table is the stored artifact and
  * candidate generation goes through the IVF buckets ([[VectorOps
  * .knnJoin]]); brute scoring here keeps the gate exact. Real dense
  * embeddings slot into the same dataflow as floats — every downstream
  * op (index, serve, dedup) already exists for that representation.
  */
object Retrieval {

  val Dims = 16

  /** The retrieval benchmark's FIXED query cohort: every 100th doc_id
    * WITHIN THE BASE CORPUS ID SPACE [0, 10.5M). A retrieval benchmark
    * measures corpus growth against a constant workload — if the query
    * set grew with the corpus (the bare `% 100` rule), scored
    * (query, doc) pairs would grow ~quadratically under replication
    * and a decade probe would measure the workload artifact, not the
    * engine (the round-9 q182 finding: exponent ≈ 1.55 at 1000×, all
    * of it query-count growth). The bound is ScaleGen's doc-id copy
    * stride, so every decade fixture keeps exactly copy 0's query set;
    * at the oracle-gate fixtures (sf ≤ 1) every doc_id sits below the
    * bound and the cohort is the classic `% 100` rule unchanged. */
  val QueryCohortBound = 10500000L

  private[graft] def inQueryCohort(c: org.apache.spark.sql.Column) =
    c % 100 === 0 && c < QueryCohortBound

  /** Signed-count feature hashing of a whitespace-tokenized text into
    * `Dims` integer buckets: dim = h % Dims, sign = parity of h/Dims.
    * Mirrors the oracle's per-token arithmetic exactly. */
  def hashEmbedOf(md: java.security.MessageDigest,
      text: String): Array[Long] = {
    val v = new Array[Long](Dims)
    text.split(" ", -1).foreach { t =>
      val h = TextOps.portable32Of(md, t)
      val d = (h % Dims).toInt
      v(d) += (if ((h / Dims) % 2 == 0) 1L else -1L)
    }
    v
  }

  /** Exact integer-vector cosine (BIGINT dot and norms; one IEEE
    * division at the end — deterministic in any engine). */
  def cosLL(a: Array[Long], b: Array[Long]): Double = {
    var dot = 0L; var na = 0L; var nb = 0L; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  /** q174: top-k chunk retrieval for the registry queries (every 100th
    * document retrieves against everyone else's chunks). */
  /** The q174 chunk-grain dense scores (query_id, doc_id, chunk_idx,
    * score) — extracted so [[rrfFusion]] can fold them to doc grain
    * without re-deriving the hash-trick vectors. */
  private[operators] def chunkScores(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val chunkVecs = TextOps.chunkDocs(spark, dir)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
      .as[(Long, Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, ci, t) => (id, ci, hashEmbedOf(md, t)) }
      }
      .filter(_._3.exists(_ != 0L)) // zero vectors have no direction
      .toDF("doc_id", "chunk_idx", "cv")
    val queryVecs = Tables.documents(spark, dir)
      .filter(inQueryCohort(col("doc_id")))
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, t) => (id, hashEmbedOf(md, t)) }
      }
      .filter(_._2.exists(_ != 0L))
      .toDF("query_id", "qv")
    broadcast(queryVecs)
      .join(chunkVecs, col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"), col("chunk_idx"),
        col("qv"), col("cv"))
      .as[(Long, Long, Long, Array[Long], Array[Long])]
      .mapPartitions(_.map { case (qi, di, ci, qv, cv) =>
        (qi, di, ci, cosLL(qv, cv))
      })
      .toDF("query_id", "doc_id", "chunk_idx", "score")
  }

  def retrieve(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val scored = chunkScores(spark, dir)
    val w = Window.partitionBy("query_id")
      .orderBy(desc("score"), asc("doc_id"), asc("chunk_idx"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn").as("rank"),
        col("doc_id"), col("chunk_idx"),
        graft.util.Portable.val6(col("score")).as("score"))
      .orderBy("query_id", "rank")
  }

  /** q182: Okapi BM25 lexical retrieval (Robertson et al.) — the
    * sparse half of a production retrieval stack next to the dense
    * path (q174/q177). Every 100th document is a query; candidates
    * are scored with the classic saturated-tf × idf formula
    * (k1 = 1.2, b = 0.75) and the top-k returned per query.
    *
    * The join ON TERM between the query's distinct terms and the
    * (doc, term, tf) table IS the inverted-index posting-list read:
    * only postings for query terms are touched, never the corpus.
    *
    * Determinism: each term's contribution (one ln, a handful of IEEE
    * mul/divs — an expression tree the oracle states verbatim)
    * floor-scales to BIGINT nano-units BEFORE the per-(query, doc)
    * sum, so scores and ranks are exact under any partial-agg order;
    * ties break on doc_id. Scale: df and doc-length are one-pass
    * map-side-combinable aggregates (vocabulary-grain / doc-grain);
    * the query term set broadcasts; at 100 TB the tf table is the
    * stored posting-list artifact (bucketed by term), so the
    * candidate join is exchange-free on the corpus side — the same
    * storage trick as the q153 IVF index, applied to text. */
  /** The BM25 scoring core shared by [[bm25]] and [[hardNegatives]]:
    * (query_id, doc_id, s9) with s9 the nano-scaled integer score. */
  /** Corpus stats in one narrow scan: nd, avgdl, and the EXACT query
    * cohort count (riding the same aggregation — zero extra jobs; an
    * id-density guess overestimates nq by the copy count on a ScaleGen
    * fixture, which round 10 measured as a broadcast→shuffle plan
    * cliff between decades on a 12k-row query set). */
  private case class Bm25Stats(nd: Long, avgdl: Double, nq: Long)

  private def bm25Stats(spark: SparkSession, dir: String): Bm25Stats = {
    val r = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("nd"),
        sum(size(split(col("text"), " ")).cast("long")).as("ntok"),
        sum(when(inQueryCohort(col("doc_id")), 1L).otherwise(0L))
          .as("nq"))
      .collect()(0)
    Bm25Stats(r.getLong(0), r.getLong(1).toDouble / r.getLong(0),
      r.getLong(2))
  }

  /** The (doc, term, tf, dl) posting stream in ONE map-only pass:
    * every token of a document lives in its own text cell, so per-doc
    * term counts aggregate IN-ROW (a per-row hash count) and the doc
    * length rides along as a column — no token-stream shuffle, no dl
    * join downstream. `keepT`/`keepDoc` prune IN-KERNEL, which is the
    * whole scale story: with the query vocabulary pushed into the
    * kernel, only query-term postings ever materialize — the
    * inverted-index read the q182 scaladoc promises — where the
    * previous shape localCheckpointed the FULL corpus-sized tf table
    * and crossed the storage-memory cliff one decade up (round-10
    * probe: the checkpoint, not the scoring, dominated 1000×). dl is
    * always the full document length regardless of pruning; token
    * identity with explode(split) is exact (both keep trailing
    * empties). */
  private def postingsOf(spark: SparkSession, dir: String,
      keepT: Option[Set[String]] = None,
      keepDoc: Option[Set[Long]] = None,
      docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import spark.implicits._
    val base0 = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    // predicate-based doc restriction (pushes to the scan): the
    // post-delete corpora (q234) score only surviving documents
    val base = docFilter.fold(base0)(base0.filter)
    // doc restriction pushes to the parquet scan (metadata-sized id
    // sets only: the PRF feedback docs)
    val scoped = keepDoc.fold(base)(ids =>
      base.filter(col("doc_id").isInCollection(ids.toSeq)))
    scoped.as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.split(" ", -1)
        val m = new java.util.HashMap[String, Long]()
        toks.foreach(t => m.merge(t, 1L, _ + _))
        val dl = toks.length.toLong
        val it = m.entrySet().iterator()
        val all = new Iterator[(Long, String, Long, Long)] {
          def hasNext = it.hasNext
          def next() = { val e = it.next(); (id, e.getKey, e.getValue, dl) }
        }
        keepT.fold(all: Iterator[(Long, String, Long, Long)])(ks =>
          all.filter(r => ks.contains(r._2)))
      }
      .toDF("doc_id", "t", "tf", "dl")
  }

  /** The (query_id, t) distinct term set, re-tokenized from ONLY the
    * cohort documents — the pushed cohort filter keeps this scan
    * workload-sized at any corpus scale. Identical to restricting the
    * full posting table to cohort docs (both derive distinct terms
    * per doc from the same split). */
  private def cohortQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(inQueryCohort(col("doc_id")))
      .select(col("doc_id").as("query_id"),
        explode(split(col("text"), " ")).as("t"))
      .distinct()

  /** The query side + its postings with the smallness decision applied
    * once (r11 driver-action fusion — guide §1.2, fewer sequential
    * metadata round-trips per query):
    *
    * Small workload (the benchmark cohort at any corpus scale): ONE
    * collect returns the whole workload-sized (query_id, t) cohort —
    * the identical payload `broadcast(q)` ships to every executor
    * anyway — so the term vocabulary derives driver-side (the separate
    * `terms` collect is gone), `q` becomes a LocalTableScan (broadcast
    * builds stop re-running the cohort scan + checkpoint), and the
    * PRUNED posting kernel localCheckpoints so the df aggregate and
    * the scoring join read ONE corpus pass instead of two (the pruned
    * table is workload-sized — never the round-9 full-corpus-tf
    * cliff). Net per scorer call: 2 driver actions (collect + posting
    * checkpoint) replacing 2 (checkpoint + collect) PLUS one full
    * corpus kernel pass and two cohort-scan broadcast builds.
    *
    * Oversized workload: stream the full posting pass and shuffle-join
    * exactly as before (no driver-side vocabulary, no broadcast). */
  private[operators] case class QueryCtx(q: DataFrame, posts: DataFrame,
      bcast: Boolean)

  /** Workload-size bound under which the query side broadcasts and the
    * posting kernel prunes to the collected vocabulary; tests inject a
    * limit of 0 to force the oversized shuffle path on tiny fixtures. */
  private[operators] val SmallWorkloadLimit = 4e6

  private[operators] def queryCtx(spark: SparkSession, dir: String,
      s: Bm25Stats, smallLimit: Double = SmallWorkloadLimit): QueryCtx =
    if (s.nq.toDouble * s.avgdl <= smallLimit) {
      import spark.implicits._
      val rows = cohortQuery(spark, dir).as[(Long, String)].collect()
      val terms = rows.iterator.map(_._2).toSet
      val qLocal = spark.createDataset(rows.toIndexedSeq)
        .toDF("query_id", "t")
      QueryCtx(qLocal,
        postingsOf(spark, dir, keepT = Some(terms)).localCheckpoint(),
        bcast = true)
    } else QueryCtx(cohortQuery(spark, dir).localCheckpoint(),
      postingsOf(spark, dir), bcast = false)

  /** Score one (query_id, t) term set against the corpus: df restricts
    * to the given terms (the scoring join restricts to them anyway, so
    * the broadcast build is query-vocabulary-grain), contributions
    * floor-scale to nano BIGINTs before the per-(query, doc) sum. */
  /** UNGROUPED per-(query, doc, term) contributions — the posting-list
    * read + c9 arithmetic without the final (query, doc) aggregation,
    * so a caller merging two term sets (the PRF second pass) can sum
    * BOTH sets' contributions in ONE aggregation instead of two. */
  private def bm25Contribs(s: Bm25Stats, posts: DataFrame, q: DataFrame,
      bcast: Boolean): DataFrame = {
    // a corpus-proportional broadcast build is a genuine scale hazard
    // (round-9 finding): the query side broadcasts only on the
    // small-workload path, where it is vocabulary-pruned by
    // construction; the oversized path shuffle-joins
    def mb(d: DataFrame): DataFrame = if (bcast) broadcast(d) else d
    // small path: posts are already kernel-pruned to exactly q's term
    // vocabulary (queryCtx), so the semi-restricting join is an
    // identity — df is a plain count over the checkpointed postings
    val df =
      if (bcast) posts.groupBy("t").agg(count(lit(1)).as("df"))
      else posts.join(q.select("t").distinct(), "t")
        .groupBy("t").agg(count(lit(1)).as("df"))
    val idf = log(((lit(s.nd) - col("df")).cast("double") + lit(0.5))
      / (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val tfn = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") + lit(1.2) *
        (lit(0.25) + lit(0.75) * (col("dl").cast("double") / lit(s.avgdl))))
    val c9 = floor(idf * tfn * lit(1000000000.0) + lit(0.5)).cast("long")
    mb(q)
      .join(posts, "t")
      .filter(col("doc_id") =!= col("query_id"))
      .join(mb(df), "t")
      .select(col("query_id"), col("doc_id"), c9.as("c9"))
  }

  private[operators] def bm25Scores(spark: SparkSession,
      dir: String): DataFrame = bm25ScoresAt(spark, dir, SmallWorkloadLimit)

  /** [[bm25Scores]] with an injectable smallness limit — the test hook
    * that pins small-path ≡ big-path on the gate fixtures (a limit of 0
    * forces the oversized shuffle plan on any corpus). */
  private[graft] def bm25ScoresAt(spark: SparkSession, dir: String,
      smallLimit: Double): DataFrame = {
    val s = bm25Stats(spark, dir)
    val ctx = queryCtx(spark, dir, s, smallLimit)
    bm25Contribs(s, ctx.posts, ctx.q, ctx.bcast)
      .groupBy("query_id", "doc_id")
      .agg(sum("c9").as("s9"))
  }

  /** q244: pseudo-relevance feedback (RM3-lite) query expansion — the
    * classic two-pass retrieval upgrade (Rocchio/RM3 family): run
    * BM25, treat each query's top-`fb` results as relevant, lift the
    * `m` heaviest non-query terms from them (weight = Σ tf over the
    * feedback docs — integer-exact, ties → lexicographic), append
    * them to the query, and re-score. Recall widens to documents
    * sharing the feedback vocabulary even when they miss the original
    * terms — what "expand the query before the second pass" means in
    * every production search stack.
    *
    * Scale: both passes are the q182 pruned posting-list shape (the
    * kernel materializes only the pass's term set); the feedback join
    * touches fb × |queries| doc rows, and the feedback docs' full
    * term streams come from a doc-id-restricted kernel pass
    * (metadata-sized id set). The expansion is anti-joined against q,
    * so the pass-2 score decomposes exactly as s9₂(query, doc) =
    * s9₁(query, doc) + Σ c9 over the expansion terms alone: pass 2
    * reads postings for the ≤ m·|queries| expansion terms only and
    * integer-sums into the checkpointed pass-1 scores (associativity
    * of the BIGINT sum keeps the gate bit-identical). */
  def prfBm25(spark: SparkSession, dir: String, k: Int = 5,
      fb: Int = 3, m: Int = 3): DataFrame = {
    import spark.implicits._
    val s = bm25Stats(spark, dir)
    val ctx = queryCtx(spark, dir, s)
    val small = ctx.bcast
    val (q, posts1) = (ctx.q, ctx.posts)
    val rankW = Window.partitionBy("query_id")
      .orderBy(desc("s9"), asc("doc_id"))
    val pass1 = bm25Contribs(s, posts1, q, ctx.bcast)
      .groupBy("query_id", "doc_id").agg(sum("c9").as("s9"))
      .localCheckpoint() // feedback ranking AND the pass-2 merge read it
    // fb × |queries| rows — bounded tiny at ANY scale (fb is a
    // constant, the cohort is fixed), so ONE collect replaces the
    // r10 checkpoint-then-collect pair: the id set derives driver-side
    // and the expansion join broadcasts a LocalTableScan (r11 fusion)
    val fbRows = pass1
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= fb)
      .select("query_id", "doc_id")
      .as[(Long, Long)].collect()
    val fbDocs = spark.createDataset(fbRows.toIndexedSeq)
      .toDF("query_id", "doc_id")
    // feedback docs need their FULL term streams (expansion terms are
    // by definition outside the query vocabulary): a second kernel
    // pass restricted IN-SCAN to the fb × |queries| feedback ids —
    // metadata-sized, never the corpus
    val fbTf =
      if (small) postingsOf(spark, dir,
        keepDoc = Some(fbRows.iterator.map(_._2).toSet))
      else posts1
    val expW = Window.partitionBy("query_id")
      .orderBy(desc("wt"), asc("t"))
    // ≤ m × |queries| rows — same bounded-tiny argument as fbRows:
    // one collect yields the term set AND the pass-2 query frame
    val expRows = broadcast(fbDocs).join(fbTf, "doc_id")
      .groupBy("query_id", "t").agg(sum("tf").as("wt"))
      .join(broadcast(q), Seq("query_id", "t"), "left_anti")
      .withColumn("rn", row_number().over(expW))
      .filter(col("rn") <= m)
      .select("query_id", "t")
      .as[(Long, String)].collect()
    val expansion = spark.createDataset(expRows.toIndexedSeq)
      .toDF("query_id", "t")
    // pass 2 reads postings for the ≤ m·|queries| expansion terms only;
    // checkpointed so the pass-2 df aggregate and scoring join share
    // one kernel pass (same as queryCtx's posts)
    val posts2 =
      if (small) postingsOf(spark, dir,
          keepT = Some(expRows.iterator.map(_._2).toSet))
        .localCheckpoint()
      else posts1
    pass1.unionByName(bm25Contribs(s, posts2, expansion, ctx.bcast)
        .withColumnRenamed("c9", "s9"))
      .groupBy("query_id", "doc_id").agg(sum("s9").as("s9"))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        (col("s9").cast("double") / lit(1000000000.0)).as("score"))
      .orderBy("query_id", "rank")
  }

  def bm25(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(desc("s9"), asc("doc_id"))
    bm25Scores(spark, dir).withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        (col("s9").cast("double") / lit(1000000000.0)).as("score"))
      .orderBy("query_id", "rank")
  }

  /** q188: hard-negative mining for retriever training — for each
    * query, take the LEXICAL top-`pool` by BM25 (q182's contract) and
    * surface the `k` candidates the dense representation disagrees
    * with most (lowest hash-embedding cosine): documents that look
    * right term-by-term but carry the least shared signal — exactly
    * the pairs a dual-encoder trains against. Composes the two gated
    * scorers; zero-vector docs drop on both sides (no direction).
    *
    * Scale: the candidate pool is pool × |queries| rows (never the
    * corpus); doc vectors are one scan-local kernel pass joined back
    * by id; the re-score is a broadcast of the query vectors. The
    * same two-stage shape as q171's MaxSim re-scorer, with the
    * disagreement ordering inverted. */
  /** Doc-grain hash-trick vectors (nonzero only) — shared by
    * [[hardNegatives]] and [[mmrRetrieve]]. */
  private def docVectors(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, t) => (id, hashEmbedOf(md, t)) }
      }
      .filter(_._2.exists(_ != 0L))
      .toDF("doc_id", "dv")
  }

  /** q191: maximal marginal relevance — diversity-aware top-k. From
    * each query's dense top-10 pool, greedily pick 3 documents by
    * MMR(c) = 0.7·rel(q,c) − 0.3·max_{s∈selected} sim(c,s): the first
    * pick is the most relevant, later picks trade relevance against
    * redundancy with what's already shown — the de-duplicated answer
    * set a RAG context window actually wants (Carbonell & Goldstein).
    *
    * Determinism: rel and sim are exact-integer hash-vector cosines;
    * the λ-combination is the same literal expression tree on both
    * engines; every argmax ties on doc_id. Scale: the pool bounds all
    * pairwise work to pool² per query (the q171 re-scorer contract);
    * candidate generation at 100 TB goes through the IVF buckets, and
    * the greedy loop is k fixed dataflow steps over (query, cand)
    * grain — never corpus-sized, no driver loop over data. */
  def mmrRetrieve(spark: SparkSession, dir: String,
      pool: Int = 10): DataFrame = {
    import spark.implicits._
    val vecs = docVectors(spark, dir)
    val qvecs = vecs.filter(inQueryCohort(col("doc_id")))
      .select(col("doc_id").as("query_id"), col("dv").as("qv"))
    // relevance: dense cosine pool (top-`pool` per query)
    val rel = broadcast(qvecs)
      .join(vecs, col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"), col("qv"), col("dv"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .mapPartitions(_.map { case (qi, di, qv, dv) =>
        (qi, di, cosLL(qv, dv))
      })
      .toDF("query_id", "doc_id", "rel")
    val wR = Window.partitionBy("query_id")
      .orderBy(desc("rel"), asc("doc_id"))
    val p = rel.withColumn("rr", row_number().over(wR))
      .filter(col("rr") <= pool)
      .select("query_id", "doc_id", "rel")
    // pairwise sims within each query's pool
    val pv = p.select(col("query_id"), col("doc_id")).join(vecs, "doc_id")
    val pp = pv.toDF("da", "query_id", "va")
      .join(pv.toDF("db", "query_id", "vb"), "query_id")
      .filter(col("da") =!= col("db"))
      .select(col("query_id"), col("da"), col("db"), col("va"), col("vb"))
      .as[(Long, Long, Long, Array[Long], Array[Long])]
      .mapPartitions(_.map { case (qi, a, b, va, vb) =>
        (qi, a, b, cosLL(va, vb))
      })
      .toDF("query_id", "da", "db", "sim")
    // both weights as decimal literals: Scala's 1.0 - 0.7 is
    // 0.30000000000000004, NOT the double the SQL literal 0.3 parses
    // to — the engines must share the exact constants
    val lam = lit(0.7)
    val oneMinus = lit(0.3)
    def argmax(df: DataFrame, scoreCol: String): DataFrame = {
      val w = Window.partitionBy("query_id")
        .orderBy(desc(scoreCol), asc("doc_id"))
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .drop("rn")
    }
    // pick 1: pure relevance; its MMR score is λ·rel (empty max = 0)
    val s1 = argmax(p, "rel")
      .select(col("query_id"), col("doc_id").as("d1"),
        (lam * col("rel")).as("score1"))
    // pick 2: λ·rel − (1−λ)·sim(c, s1)
    val rem1 = p.join(s1, "query_id").filter(col("doc_id") =!= col("d1"))
    val m2 = rem1.join(pp,
        pp("query_id") === rem1("query_id") &&
        pp("da") === rem1("doc_id") && pp("db") === rem1("d1"))
      .select(rem1("query_id"), col("doc_id"), col("rel"), col("d1"),
        col("score1"), (lam * col("rel") - oneMinus * col("sim"))
          .as("mmr2"))
    val s2 = argmax(m2, "mmr2")
      .select(col("query_id"), col("d1"), col("score1"),
        col("doc_id").as("d2"), col("mmr2").as("score2"))
    // pick 3: λ·rel − (1−λ)·max(sim(c,s1), sim(c,s2))
    val rem2 = p.join(s2, "query_id")
      .filter(col("doc_id") =!= col("d1") && col("doc_id") =!= col("d2"))
    val simTo = pp.select(col("query_id").as("qj"), col("da"),
      col("db"), col("sim"))
    val m3 = rem2
      .join(simTo.toDF("qj", "da", "db", "sim1"),
        col("qj") === rem2("query_id") && col("da") === col("doc_id") &&
        col("db") === col("d1")).drop("qj", "da", "db")
      .join(simTo.toDF("qj2", "da2", "db2", "sim2"),
        col("qj2") === rem2("query_id") && col("da2") === col("doc_id") &&
        col("db2") === col("d2")).drop("qj2", "da2", "db2")
      .select(rem2("query_id"), col("doc_id"), col("d1"), col("d2"),
        col("score1"), col("score2"),
        (lam * col("rel") - oneMinus * greatest(col("sim1"), col("sim2")))
          .as("mmr3"))
    val s3 = argmax(m3, "mmr3")
    // assemble picks 1..3
    val v6 = graft.util.Portable.val6 _
    s3.select(col("query_id"),
        array(
          struct(lit(1).as("pick_no"), col("d1").as("doc_id"),
            col("score1").as("score")),
          struct(lit(2).as("pick_no"), col("d2").as("doc_id"),
            col("score2").as("score")),
          struct(lit(3).as("pick_no"), col("doc_id").as("doc_id"),
            col("mmr3").as("score"))).as("picks"))
      .select(col("query_id"), explode(col("picks")).as("p"))
      .select(col("query_id"), col("p.pick_no").as("pick_no"),
        col("p.doc_id").as("doc_id"), v6(col("p.score")).as("score"))
      .orderBy("query_id", "pick_no")
  }

  def hardNegatives(spark: SparkSession, dir: String,
      pool: Int = 20, k: Int = 5): DataFrame = {
    import spark.implicits._
    val wB = Window.partitionBy("query_id")
      .orderBy(desc("s9"), asc("doc_id"))
    val top = bm25Scores(spark, dir)
      .withColumn("rb", row_number().over(wB))
      .filter(col("rb") <= pool)
      .select(col("query_id"), col("doc_id"), col("s9"))
    val vecs = docVectors(spark, dir)
    val qvecs = vecs.filter(inQueryCohort(col("doc_id")))
      .select(col("doc_id").as("query_id"), col("dv").as("qv"))
    val scored = top.join(vecs, "doc_id")
      .join(broadcast(qvecs), "query_id")
      .select(col("query_id"), col("doc_id"), col("s9"),
        col("qv"), col("dv"))
      .as[(Long, Long, Long, Array[Long], Array[Long])]
      .mapPartitions(_.map { case (qi, di, s9, qv, dv) =>
        (qi, di, s9, cosLL(qv, dv))
      })
      .toDF("query_id", "doc_id", "s9", "cos")
    val wC = Window.partitionBy("query_id")
      .orderBy(asc("cos"), asc("doc_id"))
    scored.withColumn("rank", row_number().over(wC))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        (col("s9").cast("double") / lit(1000000000.0)).as("bm25"),
        graft.util.Portable.val6(col("cos")).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** q234 — BM25 SERVED from the delete-maintained posting stats: the
    * end-to-end proof that q232's subtraction-maintained artifact
    * actually serves. Document frequencies come from the MAINTAINED
    * (t, df, tf) table — never recomputed from the corpus — while
    * tf/dl read the surviving postings; the hash gate then matches a
    * from-scratch BM25 over the post-delete corpus, which is exactly
    * the claim an incremental index makes: maintenance is invisible
    * to the query layer.
    *
    * Scale: identical to q182 plus one vocabulary-grain artifact read
    * (semi-restricted to query terms before the broadcast). A
    * tombstoned query document stops being a query — its terms left
    * the postings. */
  def bm25AfterDeletes(spark: SparkSession, dir: String,
      k: Int = 5): DataFrame = {
    import spark.implicits._
    // r11 rebuild onto the q182 pruned-kernel shape: the previous form
    // localCheckpointed a CORPUS-grain (doc, term, tf) table plus a
    // doc-grain dl table — exactly the full-tf materialization whose
    // storage cliff the round-10 q182 rebuild removed — and then joined
    // dl back per posting. Now: one narrow stats scan, one collected
    // cohort (the workload-sized payload the broadcast shipped anyway),
    // and ONE checkpointed kernel pass that materializes only
    // query-term postings over the surviving documents, dl riding
    // in-row. Scores are bit-identical: same tokens (split keeps
    // trailing empties on both forms), tf from the in-row hash count ==
    // the exploded groupBy count, dl == Σ tf == token count.
    val survP = col("doc_id") % 7 =!= 3
    val statsRow = Tables.documents(spark, dir).filter(survP)
      .agg(count(lit(1)).as("nd"),
        sum(size(split(col("text"), " ")).cast("long")).as("ntok"))
      .collect()(0)
    val totals = statsRow.getLong(0)
    val avgdl = statsRow.getLong(1).toDouble / totals
    // surviving cohort docs' distinct (query_id, t): a tombstoned query
    // document stops being a query — its terms left the postings
    val qRows = Tables.documents(spark, dir)
      .filter(survP && inQueryCohort(col("doc_id")))
      .select(col("doc_id").as("query_id"),
        explode(split(col("text"), " ")).as("t"))
      .distinct()
      .as[(Long, String)].collect()
    val q = spark.createDataset(qRows.toIndexedSeq).toDF("query_id", "t")
    val posts = postingsOf(spark, dir,
      keepT = Some(qRows.iterator.map(_._2).toSet),
      docFilter = Some(survP)).localCheckpoint()
    // df: READ from the maintained artifact, not recomputed — the gate
    // rides on q232's subtraction being exact
    val df = TextOps.postingStatsWithDeletes(spark, dir)
      .select(col("t"), col("df"))
      .join(broadcast(q.select("t").distinct()), "t")
    val idf = log(((lit(totals) - col("df")).cast("double") + lit(0.5))
      / (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val tfn = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") + lit(1.2) *
        (lit(0.25) + lit(0.75) * (col("dl").cast("double") / lit(avgdl))))
    val c9 = floor(idf * tfn * lit(1000000000.0) + lit(0.5)).cast("long")
    val w = Window.partitionBy("query_id")
      .orderBy(desc("s9"), asc("doc_id"))
    broadcast(q)
      .join(posts, "t")
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(df), "t")
      .select(col("query_id"), col("doc_id"), c9.as("c9"))
      .groupBy("query_id", "doc_id")
      .agg(sum("c9").as("s9"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        (col("s9").cast("double") / lit(1000000000.0)).as("score"))
      .orderBy("query_id", "rank")
  }

  /** q218 — RAG context assembly, the last mile of the retrieval path:
    * the diversity-ranked picks (q191's MMR) packed into a fixed
    * context-window token budget in pick order. `kept` marks the greedy
    * prefix that fits — cumulative tokens are monotone, so
    * `cum ≤ budget` IS the take-while-fits rule a serving layer
    * applies. Composes two gated contracts (MMR picks, whitespace
    * token counts) with one window at QUERY grain — the budget math
    * adds no corpus-sized work to the retrieval it rides. */
  def ragContext(spark: SparkSession, dir: String,
      budget: Long = 120): DataFrame = {
    val picks = mmrRetrieve(spark, dir)
    val tk = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    picks.join(tk, "doc_id")
      .withColumn("cum_tokens",
        sum("n_tokens").over(Window.partitionBy("query_id")
          .orderBy("pick_no")))
      .select(col("query_id"), col("pick_no"), col("doc_id"),
        col("n_tokens"), col("cum_tokens"),
        (col("cum_tokens") <= budget).as("kept"))
      .orderBy("query_id", "pick_no")
  }

  /** q290: reciprocal-rank fusion of the lexical (BM25, q182) and
    * dense (hash-embedding cosine, q174) rankings — hybrid retrieval,
    * the standard production fix for lexical misses on paraphrase and
    * dense misses on rare exact terms. Each system contributes
    * 1/(60 + rank) for its top-`pool` per query (Cormack et al.'s
    * RRF with the canonical k=60); absent = 0. The quotients are
    * INTEGER nano-units (`10⁹ div (60 + rank)`) so fused scores and
    * the final ranking are exact on both engines.
    *
    * Scale: both input rankings are already bounded per query (pool
    * heaps over the posting-list join / the broadcast dense pass);
    * the fusion itself touches only 2·pool rows per query — a
    * full-outer join on (query, doc) plus one window. At 100 TB the
    * two systems serve from their stored artifacts (term-bucketed
    * postings, the IVF handle) and this stage's cost is unchanged. */
  def rrfFusion(spark: SparkSession, dir: String,
      pool: Int = 20, k: Int = 5): DataFrame = {
    val lexW = Window.partitionBy("query_id")
      .orderBy(desc("s9"), asc("doc_id"))
    val lex = bm25Scores(spark, dir)
      .withColumn("lex_rank", row_number().over(lexW))
      .filter(col("lex_rank") <= pool)
      .select(col("query_id"), col("doc_id"),
        col("lex_rank").cast("long").as("lex_rank"))
    val denseW = Window.partitionBy("query_id")
      .orderBy(desc("ds"), asc("doc_id"))
    val dense = chunkScores(spark, dir)
      .groupBy("query_id", "doc_id")
      .agg(max("score").as("ds")) // doc = its best chunk; IEEE max is
                                  // order-independent, oracle-portable
      .withColumn("dense_rank", row_number().over(denseW))
      .filter(col("dense_rank") <= pool)
      .select(col("query_id").as("dq"), col("doc_id").as("dd"),
        col("dense_rank").cast("long").as("dense_rank"))
    val fused = lex.join(dense,
        col("query_id") === col("dq") && col("doc_id") === col("dd"),
        "full_outer")
      .select(
        coalesce(col("query_id"), col("dq")).as("query_id"),
        coalesce(col("doc_id"), col("dd")).as("doc_id"),
        coalesce(col("lex_rank"), lit(-1L)).as("lex_rank"),
        coalesce(col("dense_rank"), lit(-1L)).as("dense_rank"))
      .withColumn("rrf9",
        when(col("lex_rank") > 0,
          expr("cast(1000000000 as bigint) div (60 + lex_rank)"))
          .otherwise(lit(0L)) +
        when(col("dense_rank") > 0,
          expr("cast(1000000000 as bigint) div (60 + dense_rank)"))
          .otherwise(lit(0L)))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("rrf9"), asc("doc_id"))
    fused.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn").cast("long").as("rank"),
        col("doc_id"), col("lex_rank"), col("dense_rank"), col("rrf9"),
        (col("rrf9").cast("double") / lit(1e9)).as("rrf_score"))
      .orderBy("query_id", "rank")
  }

  /** q306 — the hybrid-RAG last mile: the q290 FUSED picks packed into
    * the q218 context-window token budget in fusion-rank order
    * (cumulative tokens are monotone, so `cum ≤ budget` IS the greedy
    * take-while-fits rule). The production read path end-to-end:
    * lexical + dense retrieval → RRF → budget-packed context. Budget
    * math is one window at QUERY grain over ≤k picks. */
  def fusedRagContext(spark: SparkSession, dir: String,
      budget: Long = 120): DataFrame = {
    val picks = rrfFusion(spark, dir)
      .select(col("query_id"), col("rank"), col("doc_id"))
    val tk = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    picks.join(tk, "doc_id")
      .withColumn("cum_tokens",
        sum("n_tokens").over(Window.partitionBy("query_id")
          .orderBy("rank")))
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_tokens"), col("cum_tokens"),
        (col("cum_tokens") <= budget).as("kept"))
      .orderBy("query_id", "rank")
  }

  /** q307 — retrieval-system agreement diagnostics: per query, the
    * top-k overlaps between the lexical (q182), dense (q174 at doc
    * grain) and fused (q290) rankings, plus `fused_new` — the fused
    * top-k docs NEITHER component had in its own top-k. That last
    * column is the fusion's reason to exist (pool-depth rescue: a doc
    * ranked 6–20 by both systems outranks single-system #2 hits under
    * RRF); a near-zero fused_new column says fusion is redundant for
    * this corpus, which is exactly what the mart is for.
    *
    * Scale: three bounded top-k lists per query (each system's
    * ranking is the already-gated posting-list / broadcast-query
    * shape); the agreement joins touch ≤3k rows per query. */
  def retrievalAgreement(spark: SparkSession, dir: String,
      k: Int = 5, pool: Int = 20): DataFrame = {
    // each system's scorer runs ONCE: the checkpointed top-`pool`
    // lists feed both the top-k slices and the fused ranking (q290's
    // arithmetic verbatim over the same pools)
    val lexW = Window.partitionBy("query_id")
      .orderBy(desc("s9"), asc("doc_id"))
    val lexPool0 = bm25Scores(spark, dir)
      .withColumn("lex_rank",
        row_number().over(lexW).cast("long"))
      .filter(col("lex_rank") <= pool)
      .select("query_id", "doc_id", "lex_rank")
    val denseW = Window.partitionBy("query_id")
      .orderBy(desc("ds"), asc("doc_id"))
    val densePool0 = chunkScores(spark, dir)
      .groupBy("query_id", "doc_id").agg(max("score").as("ds"))
      .withColumn("dense_rank",
        row_number().over(denseW).cast("long"))
      .filter(col("dense_rank") <= pool)
      .select("query_id", "doc_id", "dense_rank")
    // the two pool materializations are INDEPENDENT jobs — overlap
    // them (guide §2.6: actions are only sequential because the driver
    // calls them sequentially); frames were built above on this thread,
    // only the checkpoint actions run concurrently
    val (lexPool, densePool) = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val lf = Future(lexPool0.localCheckpoint())
      val df = Future(densePool0.localCheckpoint())
      (Await.result(lf, Duration.Inf), Await.result(df, Duration.Inf))
    }
    val lex5 = lexPool.filter(col("lex_rank") <= k)
      .select("query_id", "doc_id")
    val dense5 = densePool.filter(col("dense_rank") <= k)
      .select("query_id", "doc_id")
    val fused = lexPool
      .join(densePool
          .select(col("query_id").as("dq"), col("doc_id").as("dd"),
            col("dense_rank")),
        col("query_id") === col("dq") && col("doc_id") === col("dd"),
        "full_outer")
      .select(
        coalesce(col("query_id"), col("dq")).as("query_id"),
        coalesce(col("doc_id"), col("dd")).as("doc_id"),
        coalesce(col("lex_rank"), lit(-1L)).as("lex_rank"),
        coalesce(col("dense_rank"), lit(-1L)).as("dense_rank"))
      .withColumn("rrf9",
        when(col("lex_rank") > 0,
          expr("cast(1000000000 as bigint) div (60 + lex_rank)"))
          .otherwise(lit(0L)) +
        when(col("dense_rank") > 0,
          expr("cast(1000000000 as bigint) div (60 + dense_rank)"))
          .otherwise(lit(0L)))
    val fw = Window.partitionBy("query_id")
      .orderBy(desc("rrf9"), asc("doc_id"))
    val rrf5 = fused.withColumn("rn", row_number().over(fw))
      .filter(col("rn") <= k).select("query_id", "doc_id")
      .localCheckpoint()
    def cnt(df: DataFrame, name: String): DataFrame =
      df.groupBy("query_id").agg(count(lit(1)).as(name))
    cnt(rrf5, "n_fused")
      .join(cnt(lex5.join(dense5, Seq("query_id", "doc_id"),
        "left_semi"), "lex_dense"), Seq("query_id"), "left")
      .join(cnt(rrf5.join(lex5, Seq("query_id", "doc_id"),
        "left_semi"), "rrf_lex"), Seq("query_id"), "left")
      .join(cnt(rrf5.join(dense5, Seq("query_id", "doc_id"),
        "left_semi"), "rrf_dense"), Seq("query_id"), "left")
      .join(cnt(rrf5.join(lex5, Seq("query_id", "doc_id"), "left_anti")
        .join(dense5, Seq("query_id", "doc_id"), "left_anti"),
        "fused_new"), Seq("query_id"), "left")
      .select(col("query_id"), col("n_fused"),
        coalesce(col("lex_dense"), lit(0L)).as("lex_dense"),
        coalesce(col("rrf_lex"), lit(0L)).as("rrf_lex"),
        coalesce(col("rrf_dense"), lit(0L)).as("rrf_dense"),
        coalesce(col("fused_new"), lit(0L)).as("fused_new"))
      .orderBy("query_id")
  }
}
