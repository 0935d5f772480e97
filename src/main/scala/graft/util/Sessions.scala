package graft.util

import org.apache.spark.sql.SparkSession

/** The session configs EVERY graft entry point must share — one
  * definition so a new entry point (or a new required config) cannot
  * silently miss a builder. This round's fixture change needed the NTZ
  * flag in seven builders; the bucketed-index work needed the
  * co-partition flag in five — each a grep-and-hope edit before this.
  */
object Sessions {

  /** Apply the shared graft defaults; callers keep their own master,
    * parallelism, warehouse and app-specific configs. */
  def withGraftDefaults(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    // the driver's testdata has shipped BOTH ts encodings across
    // generations: ns-annotated INT64 (read as LONG under nanosAsLong)
    // and untagged µs INT64 (would infer TIMESTAMP_NTZ — disabled so it
    // reads as session-tz TIMESTAMP, matching the DuckDB oracle)
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // bucketed joins whose equi-keys EXTEND the bucket key (e.g. the
    // IVF index self-join on (cid, _sub)) stay exchange-free: children
    // co-partitioned on a subset of the join keys is exactly what a
    // bucketed layout provides (IvfIndexSpec pins the plan)
    .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    // compress serialized RDD blocks (localCheckpoint storage + spill):
    // the iterative operators (triangles, components, PageRank)
    // localCheckpoint fact-grain frames per round, and at the 1000×
    // decade probe the UNcompressed blocks overran the host's one
    // local disk (q204 third-decade DNF, BASELINE.md round 9 — 65+ GB
    // of checkpoint blocks vs ~3-5× smaller compressed). LZ4 costs a
    // few % CPU on the paths that rehydrate blocks; a 1000-executor
    // deployment would run with this on for the same reason.
    .config("spark.rdd.compress", "true")
    .config("spark.ui.enabled", "false")

  /** The session builder of every graft main: the shared defaults on
    * `local[cpus]` with one shuffle partition per core and the graft
    * session extensions (custom functions, the RewriteRegexCount
    * optimizer rule, the TopKPerKey strategy), which are part of the
    * product surface. Callers add their own configs on top. */
  def local(cpus: String): SparkSession.Builder =
    withGraftDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .withExtensions(new graft.functions.GraftExtensions)
}
