package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.util.Portable

/** Iterative graph operators for dedup-cluster resolution.
  *
  * Near-duplicate detection (TextOps.minhashNearDups) emits PAIRS, but a
  * training-data pipeline needs CLUSTERS: if A≈B and B≈C, then {A,B,C}
  * must keep exactly one canonical document even though (A,C) was never
  * emitted as a pair. That closure is connected components over the
  * near-dup graph — the step every production dedup pipeline runs between
  * LSH and document selection.
  *
  * Spark-first design: min-label propagation over DataFrames. Each round
  * every vertex takes the minimum component label among itself and its
  * neighbors; a fixpoint is reached after O(graph diameter) rounds, and
  * near-dup clusters have tiny diameters by construction. Per round the
  * only shuffle is one join + one groupBy on vertex id, and
  * `localCheckpoint()` truncates the growing lineage so round N's plan
  * does not replay rounds 1..N-1 (the standard Spark iterative-algorithm
  * discipline; GraphX does the same internally). At 100 TB the same loop
  * runs with `checkpoint()` to the cluster's reliable store and the
  * large-star/small-star variant bounds the round count on high-diameter
  * graphs; the dataflow shape is unchanged.
  */
object Graphs {

  /** Connected components of an undirected edge list: returns
    * (id, component) with component = min vertex id reachable.
    * Only vertices that appear in at least one edge are returned.
    */
  def components(edges: DataFrame, src: String, dst: String): DataFrame = {
    val e = edges.select(col(src).cast("long").as("src"),
      col(dst).cast("long").as("dst"))
    // materialize the (possibly expensive) edge pipeline once; every
    // round re-reads the checkpointed blocks, not the upstream plan
    val bidir = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()

    var labels = bidir.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
      .localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val nbrMin = bidir
        .join(labels.select(col("id").as("dst"), col("comp")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("comp").as("nbr_comp"))
      val next = labels
        .join(nbrMin.withColumnRenamed("nbr_comp", "nc"), Seq("id"), "left")
        .select(col("id"), col("comp").as("old"),
          least(col("comp"), coalesce(col("nc"), col("comp"))).as("comp"))
        .localCheckpoint()
      changed = next.filter(col("comp") < col("old")).count()
      labels = next.select("id", "comp")
    }
    labels
  }

  /** [[components]] with a driver-side escape hatch for DELTA-SIZED
    * subgraphs: the incremental maintainers re-close only the epoch's
    * AFFECTED clusters, a subgraph bounded by the delta — paying
    * O(diameter) distributed rounds (each ~2 fixed-latency jobs) to
    * close a few hundred edges is pure scheduling overhead. Below
    * `driverEdgeLimit` edges (~3 MB collected at the default), the
    * closure runs as one collect + union-find with min-root merging —
    * EXACTLY [[components]]' semantics (component = min reachable id),
    * so every oracle-gated result is bit-identical; above it, the
    * distributed loop runs unchanged. The count that picks the path is
    * one job over the already-checkpointed edge frame — the same guard
    * discipline as [[graft.operators.VectorOps]]'s withBucketCap. */
  def componentsAuto(edges: DataFrame, src: String, dst: String,
      driverEdgeLimit: Long = 200000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(src).cast("long").as("src"),
      col(dst).cast("long").as("dst")).localCheckpoint()
    if (e.count() > driverEdgeLimit) components(e, "src", "dst")
    else {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression: point the walked chain at the root
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      // fail loudly on a null endpoint (a bare Dataset[(Long, Long)]
      // decode NPEs without context); corpus pair graphs are non-null
      // by construction, so this guards refactors, not data
      e.as[(java.lang.Long, java.lang.Long)].collect().foreach { case (a0, b0) =>
        require(a0 != null && b0 != null,
          "componentsAuto: null edge endpoint in driver-closure path")
        val a = a0.longValue; val b = b0.longValue
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        // min-union: larger root hangs under smaller, so a component's
        // root IS its minimum id — components' min-label fixpoint
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
      }
      parent.keys.toSeq.map(k => (k, find(k))).toDF("id", "comp")
    }
  }

  /** Alternating large-star/small-star connected components (the
    * MapReduce CC of Kiveris et al., "Connected Components in MapReduce
    * and Beyond") — the scale path [[components]]' Scaladoc promises:
    * converges in O(log n) ROUNDS REGARDLESS OF GRAPH DIAMETER, where
    * min-label propagation needs O(diameter) rounds (a 10M-hop chain —
    * pathological but real in web-crawl link graphs — means 10M shuffles
    * for propagation, ~24 for this).
    *
    * Each round: large-star points every neighbor LARGER than u at u's
    * neighborhood minimum (safe in parallel for all u), then small-star
    * re-hangs the small neighbors and u itself off that minimum. Both
    * are one groupBy (neighborhood min) + one join (re-emit) over the
    * edge list; the fixpoint is a forest of stars rooted at component
    * minima. Same per-round shuffle count as propagation — the win is
    * the ROUND count.
    */
  def componentsStar(edges: DataFrame, src: String, dst: String): DataFrame = {
    def canon(df: DataFrame): DataFrame =
      df.filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()
    // star ops share one shape: group both-direction neighborhoods,
    // take m = min(Γ(u) ∪ {u}), re-emit a subset of Γ(u) against m
    def star(cur: DataFrame, large: Boolean): DataFrame = {
      val nbrs = cur.union(cur.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy("u")
        .agg(least(min("v"), first(col("u"))).as("m"))
      val joined = nbrs.join(mins, "u")
      val emitted =
        if (large) joined.filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
        else joined.filter(col("v") <= col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(mins.select(col("u"), col("m").as("v")))
      canon(emitted)
    }
    var e = canon(edges.select(col(src).cast("long").as("u"),
      col(dst).cast("long").as("v"))).localCheckpoint()
    var prevSig: (Long, Long) = (-1L, -1L)
    var sig: (Long, Long) = (0L, 0L)
    while (sig != prevSig) {
      prevSig = sig
      e = star(star(e, large = true), large = false).localCheckpoint()
      // xor-fold checksum: order-independent and overflow-free (ANSI
      // mode makes a sum of 64-bit hashes throw on overflow)
      val row = e.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      sig = (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
    }
    // fixpoint edges are (member, root): root = component min
    val members = e.select(col("u").as("id"), col("v").as("comp"))
    val roots = e.select(col("v").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
    members.union(roots).groupBy("id").agg(min("comp").as("comp"))
  }

  /** Dedup-cluster assignment over the MinHash near-duplicate graph:
    * every document labeled with its cluster representative (min doc_id
    * in the connected component; singletons are their own cluster), the
    * cluster size, and the keep/drop verdict. The oracle recomputes the
    * same closure with a recursive CTE — small-diameter clusters keep
    * the recursion shallow in DuckDB exactly as they keep the round
    * count low here.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    dedupClustersBy(spark, dir, components)

  /** [[dedupClusters]] resolved through [[componentsAuto]] — the variant
    * every COMPOSITION (curation verdicts, dedup weights, release
    * manifest) calls: identical output by construction (componentsAuto
    * IS components' min-label semantics, driver-closed only below its
    * edge bound), but a delta/cluster-sized pair graph closes in 2 jobs
    * instead of O(diameter) distributed rounds. q65/q104 deliberately
    * keep the always-distributed algorithms — they gate the algorithms
    * themselves. */
  private[graft] def dedupClustersAuto(spark: SparkSession,
      dir: String): DataFrame =
    dedupClustersBy(spark, dir, componentsAuto(_, _, _))

  /** q104: identical contract, resolved with [[componentsStar]] — the
    * diameter-independent algorithm behind the same hash gate as q65
    * (the oracle is the identical recursive-CTE closure). */
  def dedupClustersStar(spark: SparkSession, dir: String): DataFrame =
    dedupClustersBy(spark, dir, componentsStar)

  private def dedupClustersBy(spark: SparkSession, dir: String,
      cc: (DataFrame, String, String) => DataFrame): DataFrame = {
    val pairs = TextOps.minhashNearDups(spark, dir).select("ida", "idb")
    val comp = cc(pairs, "ida", "idb")
      .withColumnRenamed("id", "doc_id")
    dedupClustersFromComp(spark, dir, comp)
  }

  /** [[dedupClusters]] from a PRECOMPUTED components frame
    * (doc_id, comp) — lets a composition (q200) run the pair closure
    * once and feed every consumer. */
  private[graft] def dedupClustersFromComp(spark: SparkSession,
      dir: String, comp: DataFrame): DataFrame = {
    val out = Tables.documents(spark, dir).select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("component"))
    out
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("component")))
      .withColumn("is_canonical", col("doc_id") === col("component"))
      .orderBy("doc_id")
  }

  /** q165: leakage-safe train/val/test split — the corpus-splitting
    * policy a pretraining pipeline applies AFTER near-dup clustering.
    * A random per-document split leaks paraphrases of training docs
    * into eval; the unit of assignment must be the dedup CLUSTER, not
    * the document. Every member of a connected component inherits the
    * split of its component label (deterministic hash of the label →
    * 10 buckets: 0–7 train, 8 val, 9 test), so a near-dup pair can
    * never straddle a split boundary by construction.
    *
    * Scale: rides the q65 closure (banded candidate join, min-label
    * CC); the split itself is a pure row function of the component —
    * zero additional shuffles beyond the closure's own. At 100 TB the
    * component table is the already-persisted dedup artifact and the
    * split column is one map stage over it.
    */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val pairs = TextOps.minhashNearDups(spark, dir).select("ida", "idb")
    // componentsAuto: identical min-label closure, driver-closed below
    // its edge bound (near-dup pair graphs are cluster-sized, not
    // corpus-sized), distributed above it — q165's identity is the
    // split POLICY, not the closure algorithm (that's q65/q104)
    val comp = componentsAuto(pairs, "ida", "idb")
      .withColumnRenamed("id", "doc_id")
    leakageSafeSplitFromComp(spark, dir, comp)
  }

  /** [[leakageSafeSplit]] from a PRECOMPUTED components frame — same
    * sharing contract as [[dedupClustersFromComp]]. */
  private[graft] def leakageSafeSplitFromComp(spark: SparkSession,
      dir: String, comp: DataFrame): DataFrame = {
    val assigned = Tables.documents(spark, dir).select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("component"))
    assigned
      .withColumn("bucket",
        (graft.util.Portable.portable32(col("component").cast("string"))
          % 10).cast("int"))
      .withColumn("split",
        when(col("bucket") <= 7, "train")
          .when(col("bucket") === 8, "val")
          .otherwise("test"))
      .orderBy("doc_id")
  }

  /** PageRank scale for fixed-point arithmetic: ranks live as BIGINT
    * trillionths, so every iteration is pure integer math (`div`, `*`,
    * `+`) — bit-identical in any engine and exactly order-independent
    * under Spark's nondeterministic partial-agg order, where a float
    * PageRank diverges run-to-run in the last ulps. */
  val PrScale = 1000000000000L

  /** Fixed-iteration PageRank over the brand co-occurrence graph
    * (nodes = part brands, undirected edges = brands bought together in
    * an order — the q68 basket graph). Complements connected components
    * (q65/q104) with the other canonical iterative graph kernel: a
    * centrality measure over the product graph ("which brands anchor
    * baskets"), damping 0.85, k synchronous iterations.
    *
    * Shape per iteration: ranks ⋈ edges on src (edges carry out-degree,
    * so a contribution is `rank div outdeg` — exact integer division),
    * then one groupBy(dst) integer sum. Two shuffles × k, both keyed and
    * map-side combinable; ranks stay (node, BIGINT) — at web scale the
    * rank table partitions like any keyed agg and the edge list is the
    * only big operand, exactly the GraphX/Pregel dataflow without the
    * RDD layer. Isolated brands (no edges) keep the teleport mass only.
    * The oracle unrolls the same k iterations as CTEs over the identical
    * integer arithmetic. */
  def brandPageRank(spark: SparkSession, dir: String,
      iterations: Int = 3): DataFrame = {
    val nodes = Tables.part(spark, dir)
      .select(col("p_brand").as("brand")).distinct().localCheckpoint()
    // edge derivation = ONE shuffle at order grain (collect_set dedups
    // map-side, q68's basket shape), then scan-local pair fan-out and a
    // distinct over the tiny vocabulary-pair space; baskets sliced to
    // Analytics.MaxBasketWidth so the fan-out is provably bounded
    // (never binds on TESTDATA's 25-brand vocabulary — SCALE.md)
    val edges = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(slice(array_sort(collect_set(col("p_brand"))),
        1, Analytics.MaxBasketWidth).as("brands"))
      .select(explode(col("brands")).as("src"), col("brands"))
      .select(col("src"), explode(col("brands")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val degs = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // edges annotated with src out-degree — the static operand every
    // round reuses, checkpointed once so no round replays the basket agg
    val eFull = edges.join(degs, "src").localCheckpoint()

    val n = nodes.count() // driver scalar: node count fixes the teleport term
    val teleport = PrScale * 15L / 100L / n
    var ranks = nodes.select(col("brand"),
      lit(PrScale / n).as("rank_i"))
    for (_ <- 1 to iterations) {
      // rank table broadcast: the brand graph's |V| is tiny, so each
      // round is a map-side join over the static edge list + one small
      // keyed agg. At web scale flip the broadcast off and this is the
      // standard shuffled rank⋈edges Pregel round — same dataflow.
      val contribs = eFull
        .join(broadcast(ranks.withColumnRenamed("brand", "src")), "src")
        .groupBy(col("dst").as("brand"))
        .agg(sum(expr("rank_i div outdeg")).as("inflow"))
      // hint the buildable (right) side: left outer can't build-left,
      // so a hint on preserved `nodes` would be silently dropped
      ranks = nodes
        .join(broadcast(contribs), Seq("brand"), "left")
        .select(col("brand"),
          (lit(teleport) +
            expr(s"(85 * coalesce(inflow, 0L)) div 100")).as("rank_i"))
    }
    ranks
      .select(col("brand"), col("rank_i"),
        (col("rank_i").cast("double") / lit(PrScale.toDouble)).as("rank"))
      .orderBy(desc("rank_i"), col("brand"))
  }

  /** Breadth-first hop distance from an origin brand over the basket
    * co-occurrence graph, written as a RECURSIVE CTE (Spark 4's
    * `WITH RECURSIVE`, the declarative alternative to q111's driver-side
    * iteration loop). Cycles are handled without a visited-set (which
    * recursive UNION ALL cannot express) by bounding the walk at
    * `maxHops` and taking MIN(hop) per node afterwards — exact BFS
    * distance for every node within the bound.
    *
    * Scale shape: each recursion level is frontier ⋈ edges on the node
    * key + the final MIN-per-node agg; Catalyst plans the levels as the
    * same keyed joins the manual loop would issue. Path multiplicity is
    * bounded by degree^maxHops — this form fits small-diameter /
    * bounded-hop reachability (the warehouse case: "within 3 hops of X"),
    * while unbounded closure stays on the q104 star algorithm. */
  def brandReach(spark: SparkSession, dir: String,
      maxHops: Int = 3): DataFrame = {
    val edges = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(slice(array_sort(collect_set(col("p_brand"))),
        1, Analytics.MaxBasketWidth).as("brands"))
      .select(explode(col("brands")).as("src"), col("brands"))
      .select(col("src"), explode(col("brands")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      // materialized: the CTE body referencing `reach_edges` re-executes
      // once PER recursion level — without this the whole basket
      // aggregation replays maxHops+1 times
      .localCheckpoint()
    edges.createOrReplaceTempView("reach_edges")
    val origin = Tables.part(spark, dir)
      .agg(min(col("p_brand"))).head().getString(0)
    spark.sql(
      s"""WITH RECURSIVE walk(brand, hop) AS (
         |  SELECT '$origin', 0
         |  UNION ALL
         |  SELECT e.dst, w.hop + 1
         |  FROM walk w JOIN reach_edges e ON e.src = w.brand
         |  WHERE w.hop < $maxHops
         |)
         |SELECT brand, MIN(hop) AS hops,
         |  CAST(COUNT(*) AS BIGINT) AS n_paths
         |FROM walk GROUP BY brand
         |ORDER BY hops, brand""".stripMargin)
  }

  /** q216 — split-integrity audit: the PROOF obligation behind q165's
    * leakage-safety claim, stated as a query. Every near-dup pair's two
    * endpoints are joined to their split assignments and reduced to a
    * (split, split) matrix — component-hash splitting guarantees the
    * off-diagonal is EMPTY (cluster members share a component, hence a
    * bucket), and the gate verifies that against the oracle's
    * independent recomputation. Run it per release: a refactor that
    * breaks the invariant (e.g. splitting on doc hash instead of
    * component hash) surfaces as crossing rows, not as silent eval
    * contamination. Cost: the pair list the dedup pass already built +
    * two id-keyed joins + a ≤|splits|²-row reduce. */
  def splitIntegrity(spark: SparkSession, dir: String): DataFrame = {
    // ONE pair derivation feeds both the audited pair list and the
    // split assignment: the previous shape called leakageSafeSplit,
    // which re-ran the whole LSH band join + exact-Jaccard + closure a
    // second time inside the same query (measured r10: 5.3 s at sf0.1,
    // ~2x the single-pass cost). localCheckpoint pins the pair list for
    // its two consumers; output is identical — the split still derives
    // from the same closure over the same pairs.
    val pairs = TextOps.minhashNearDups(spark, dir).select("ida", "idb")
      .localCheckpoint()
    val comp = componentsAuto(pairs, "ida", "idb")
      .withColumnRenamed("id", "doc_id")
    val sp = leakageSafeSplitFromComp(spark, dir, comp)
      .select("doc_id", "split")
    pairs
      .join(sp.select(col("doc_id").as("ida"), col("split").as("sa")),
        "ida")
      .join(sp.select(col("doc_id").as("idb"), col("split").as("sb")),
        "idb")
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("split_a", "split_b")
  }

  /** q204 — triangle counting + local clustering coefficients on the
    * part co-order graph (parts are linked when some order contains
    * both), the graph-health statistic behind community detection and
    * recommender audits.
    *
    * The naive triangle join (edges ⋈ edges ⋈ edges) does O(Σ deg²)
    * wedge work and melts on hub vertices. The standard fix (public
    * literature: Schank & Wagner '05, Suri & Vassilvitskii's MapReduce
    * formulation, WWW'11) ORIENTS each edge from its lower-(degree,id)
    * endpoint to its higher one: every triangle then has exactly one
    * vertex with out-degree-2 wedges closing it, wedge count drops to
    * O(m^{3/2}), and hub vertices — the skew risk — generate almost no
    * wedges because their edges point INTO them.
    *
    * Dataflow: edges come from an in-row basket explosion (one shuffle
    * on the order key — never a fact self-join, the q68 argument, with
    * the same [[Analytics.MaxBasketWidth]] determinism cap); degrees
    * are one reduce over edge endpoints; the closure is the
    * edge-iterator form — each oriented edge joins the out-adjacency
    * ARRAYS of its two endpoints and intersects them in-row, so the
    * shuffled row count stays at m (never the Σ outdeg² wedge blow-up a
    * wedge self-join materializes), and orientation bounds every array
    * at O(√m) elements. Per-vertex counts fan out only the found
    * triangles. The oracle counts the same triangles id-ordered —
    * orientation is a pure execution choice, so the hash gate proves it
    * changes nothing.
    */
  def triangleStats(spark: SparkSession, dir: String,
      topK: Int = 15): DataFrame = triangleStatsAll(spark, dir).limit(topK)

  private[graft] def triangleStatsAll(spark: SparkSession,
      dir: String): DataFrame = {
    val baskets = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(slice(array_sort(collect_set(col("l_partkey"))),
        1, Analytics.MaxBasketWidth).as("parts"))
    val edges = baskets
      .select(explode(col("parts")).as("u"), col("parts"))
      .select(col("u"), explode(col("parts")).as("v"))
      .filter(col("u") < col("v"))
      .distinct()
      .localCheckpoint() // 3 consumers: degrees, wedges, closure

    // vertex-grain (the part dimension); checkpointed because THREE
    // consumers read it (both orientation broadcast builds + the final
    // report join) and the aliased projections defeat exchange reuse —
    // uncheckpointed, the edge-endpoint shuffle ran 3× (guide §2.4)
    val deg = edges.select(col("u").as("id"))
      .unionAll(edges.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .localCheckpoint()

    // orient low-(deg,id) → high-(deg,id); struct comparison is
    // lexicographic, so ties on degree break deterministically on id.
    // deg is VERTEX-grain (the part dimension — metadata-sized next to
    // the edge set at any corpus scale), so it broadcasts and the
    // orientation is a map stage over the checkpointed edges, not two
    // more edge shuffles; on a graph whose vertex set outgrows a
    // broadcast, drop the hint and the same plan shuffles.
    val withDeg = edges
      .join(broadcast(deg.select(col("id").as("u"), col("deg").as("du"))),
        "u")
      .join(broadcast(deg.select(col("id").as("v"), col("deg").as("dv"))),
        "v")
    val oriented = withDeg.select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("src"), col("v").as("dst")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

    // Edge-iterator closure over OUT-adjacency arrays instead of a
    // wedge materialization: a triangle a→b, a→c, b→c is found exactly
    // once, at its a→b edge, as c ∈ N⁺(a) ∩ N⁺(b). The wedge join
    // would shuffle Σ outdeg² rows (tens of millions here); this ships
    // each edge once with its two endpoint adjacency arrays (bounded by
    // the orientation at O(√m) elements each) and intersects in-row —
    // the row count stays at m, and the per-triangle fan-out (the
    // exploded common neighbors) is exactly the triangle count. The
    // a-side adjacency rides the explode (adj IS the src grouping), so
    // the closure pays exactly one array-bearing shuffle: the join on
    // dst.
    val adj = oriented.groupBy(col("src").as("id"))
      .agg(array_sort(collect_list(col("dst"))).as("nbrs"))
      .localCheckpoint() // consumed as the explode source and the b-side
    val closed = adj
      .select(col("id").as("src"), col("nbrs").as("na"),
        explode(col("nbrs")).as("dst"))
      .join(adj.select(col("id").as("dst"), col("nbrs").as("nb")), "dst")
      .select(col("src"), col("dst"),
        array_intersect(col("na"), col("nb")).as("common"))
      .filter(size(col("common")) > 0)

    // per-vertex counts: the edge endpoints each see ALL |common|
    // triangles of their edge; each common neighbor sees one. ONE
    // explode over the concatenated contribution array — the previous
    // two-branch union executed the closure join (the array-intersect
    // pass over every edge) once PER BRANCH, since only exchanges are
    // reused across union arms, not the compute above them (guide §2.4:
    // don't compute things twice). Same contributions, same sum.
    val perVertex = closed
      .select(explode(concat(
        array(
          struct(col("src").as("id"),
            size(col("common")).cast("long").as("w")),
          struct(col("dst").as("id"),
            size(col("common")).cast("long").as("w"))),
        transform(col("common"),
          c => struct(c.as("id"), lit(1L).as("w"))))).as("e"))
      .select(col("e.id").as("id"), col("e.w").as("w"))
      .groupBy("id").agg(sum("w").as("tri"))

    deg.join(perVertex, Seq("id"), "left")
      .select(col("id").as("part_id"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2, Portable.val6(
          (coalesce(col("tri"), lit(0L)) * lit(2)).cast("double")
            / (col("deg") * (col("deg") - lit(1))).cast("double")))
          .otherwise(lit(0.0)).as("local_cc"))
      .orderBy(desc("n_triangles"), asc("part_id"))
  }

  /** q243: synchronous label propagation (Raghavan et al. 2007) over
    * the REPEAT-co-purchase part graph — the community-detection
    * complement of the closure family: [[components]] answers "what is
    * CONNECTED", LPA answers "what clusters DENSELY" (connected
    * components merge through a single bridge edge; LPA communities
    * don't), which is the refinement dedup/fraud pipelines run after
    * closure. Edges keep only pairs co-purchased in ≥ `minWeight`
    * orders — the association-strength floor that separates signal
    * from the dense random co-occurrence background (the unweighted
    * graph is near-complete and LPA degenerates to one label; measured
    * on TESTDATA, the thresholded graph yields 5/560/19k communities
    * at the three SFs). Each node starts as its own label; each round
    * every node adopts its neighbors' MODE label (ties → smallest —
    * deterministic, so the fixed-round result is oracle-able, q111's
    * fixed-iteration discipline).
    *
    * Scale shape: edge derivation is the q68 basket shape (one
    * order-grain shuffle, in-row pair fan-out bounded by
    * [[Analytics.MaxBasketWidth]], pair-grain count); then k
    * synchronous rounds of (labels ⋈ edges → count → top-1 per node)
    * — frontier-free Pregel, two label-message-grain shuffles per
    * round, all k fixed rounds planned lazily into ONE DAG that a
    * single action executes (each round's labels have exactly one
    * consumer, so no round replays another). Same
    * regime as q111/q121 (per-round floor at tiny SF, amortizes with
    * data — round-21's measured 1.75×@10×). */
  def labelPropagation(spark: SparkSession, dir: String,
      rounds: Int = 3, minWeight: Long = 2): DataFrame = {
    val nodes = Tables.part(spark, dir)
      .select(col("p_partkey").as("id")).distinct().localCheckpoint()
    val edges = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .groupBy(col("l_orderkey"))
      .agg(slice(array_sort(collect_set(col("l_partkey"))),
        1, Analytics.MaxBasketWidth).as("ps"))
      .select(explode(col("ps")).as("src"), col("ps"))
      .select(col("src"), explode(col("ps")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      .filter(col("w") >= minWeight)
      .select("src", "dst")
      .localCheckpoint()
    val w = Window.partitionBy("src").orderBy(desc("c"), asc("label"))
    // No per-round checkpoint (r11): each round's labels frame has
    // exactly ONE consumer (the next round's adoption join), so nothing
    // replays — the k=3 fixed rounds nest into one lazily-planned DAG
    // executed by a single action instead of one eager checkpoint job
    // per round (guide §1.2: fewer sequential driver actions). The
    // convergence-checked loops (components/kCore) keep their per-round
    // checkpoints — their counts force an action anyway.
    var labels = nodes.withColumn("label", col("id"))
    for (_ <- 1 to rounds) {
      val adopted = edges
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy("src", "label").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("src").as("id"), col("label"))
      labels = nodes
        .join(adopted, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("label"), col("id")).as("label"))
    }
    labels
      .withColumn("community_size",
        count(lit(1)).over(Window.partitionBy("label")))
      .select(col("id").as("part_id"), col("label"),
        col("community_size"))
      .orderBy("part_id")
  }

  /** q288: k-core decomposition by iterative peeling over the part
    * co-purchase graph (q243's edge derivation: distinct basket pairs
    * supported by ≥ `minWeight` shared orders). The k-core — the
    * maximal subgraph in which every vertex keeps ≥ k neighbors — is
    * the standard "dense cohort" extractor: parts outside it are
    * drive-by co-purchases, parts inside anchor the recommendation
    * graph (and on a near-dup document graph the same peel separates
    * template families from incidental pair noise).
    *
    * Peeling is the textbook fixpoint: each round recomputes degrees
    * within the surviving vertex set and drops vertices below k; a
    * drop can cascade, so the loop runs `rounds` times and the spec
    * asserts the fixpoint was reached (round R == round R-1; the
    * DuckDB oracle unrolls the same R rounds, so a non-converged R
    * would diverge loudly rather than silently). Defaults k=2 over
    * the ≥2-shared-orders graph: the TPC-H-shaped fixtures sparsify
    * with SF (parts scale, per-part baskets don't), and k=2 is the
    * strongest core that stays non-degenerate at every gated SF
    * (measured: cores 200 / 1535 / 3 at sf0.001/0.01/0.1, deepest
    * cascade 6 rounds — the 10-round unroll has margin).
    *
    * Scale shape: the edge list is derived once (one shuffle at order
    * grain — the q68 basket shape — then pair fan-out bounded by
    * `Analytics.MaxBasketWidth`) and localCheckpointed; each round is
    * two semi-joins of edges against the shrinking alive set plus one
    * count per src — all keyed on vertex id, no all-pairs anywhere.
    * Peel rounds on real co-purchase graphs converge in a handful of
    * iterations (cascades need a chain of exactly-k vertices); at
    * 100 TB the same loop runs with reliable checkpoints, exactly as
    * [[components]]. */
  def kCore(spark: SparkSession, dir: String,
      k: Int = 2, rounds: Int = 10, minWeight: Long = 2): DataFrame = {
    val edges = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .groupBy(col("l_orderkey"))
      .agg(slice(array_sort(collect_set(col("l_partkey"))),
        1, Analytics.MaxBasketWidth).as("ps"))
      .select(explode(col("ps")).as("src"), col("ps"))
      .select(col("src"), explode(col("ps")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      .filter(col("w") >= minWeight)
      .select("src", "dst")
      .localCheckpoint()
    var alive = edges.select(col("src").as("id")).distinct()
    var degs = alive.select(col("id").as("src"), lit(0L).as("deg"))
    // Early fixpoint exit: the alive set only SHRINKS, so an unchanged
    // count proves an unchanged set, and a peel round over the same
    // alive set recomputes the same degs — rounds past the fixpoint are
    // identical no-ops (the spec's round-R == round-R-1 assertion is
    // exactly this). The measured deepest cascade on the gated SFs is 6
    // rounds; running the full 10 spent ~40% of q288's time recomputing
    // the fixpoint (guide §1.2: don't compute things you throw away).
    // The count is one cheap job over the just-checkpointed id set.
    var aliveCount = -1L
    var r = 0
    while (r < rounds && {
      degs = edges
        .join(alive.select(col("id").as("src")), "src")
        .join(alive.select(col("id").as("dst")), "dst")
        .groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
      alive = degs.select(col("src").as("id")).localCheckpoint()
      val n = alive.count()
      val changed = n != aliveCount
      aliveCount = n
      changed
    }) r += 1
    degs
      .select(col("src").as("part_id"), col("deg").as("core_degree"))
      .orderBy("part_id")
  }
}
