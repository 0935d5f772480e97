package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** How a graft stream is drained, in one place: every query runs with
  * `Trigger.AvailableNow` (everything available now, split into
  * micro-batches by its source's rate limits, then stop), and the
  * caller blocks until the drain has finished.
  *
  *   - [[run]] drains a configured writer (parquet sinks,
  *     `foreachBatch` merges);
  *   - [[toMemory]] drains into a named memory sink and reads it back;
  *   - [[Replay]] replays a staged fixture landing one file per trigger
  *     into a `foreachBatch` step under a per-process run root.
  */
object Drain {

  /** Drain `writer` with the run-once trigger and wait for it. */
  def run[T](writer: DataStreamWriter[T]): Unit =
    writer.trigger(Trigger.AvailableNow()).start().awaitTermination()

  /** Drain `df` into the memory sink `name` (a session-global table
    * name, so two concurrent drains of one query collide) and return
    * that table. */
  def toMemory(df: Dataset[_], mode: String, name: String): DataFrame = {
    run(df.writeStream.outputMode(mode).format("memory").queryName(name))
    df.sparkSession.table(name)
  }

  /** A fixture replay: the landing staged from `dir` is read with
    * `maxFilesPerTrigger = 1`, so each landed file is one batch, and
    * every batch runs `step(root, batch, batchId)`. `tag` and the
    * fixture file (`dir/fixture`) key the run root. */
  final class Replay(tag: String, fixture: String) {

    private val drained =
      new java.util.concurrent.ConcurrentHashMap[String, String]()

    /** Per-run scratch root (state logs + checkpoint), per fixture
      * content signature AND pid. */
    def root(dir: String): String = {
      val key = FixtureStaging.key(s"$tag-state", s"$dir/$fixture")
      s"/tmp/graft-$tag-run-$key-p${ProcessHandle.current().pid()}"
    }

    /** Replay from scratch: the root is wiped, removed again on JVM
      * exit, and the checkpoint lives at `root/ckpt`. Throws when no
      * batch ran (an empty landing or a wrong fixture path would
      * otherwise read as an empty result). Returns the root. */
    def apply(spark: SparkSession, dir: String, land: String,
        schema: StructType, format: String = "parquet")
        (step: (String, DataFrame, Long) => Unit): String = {
      val root = this.root(dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      FixtureStaging.deleteOnExit(root)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      val lastBatch =
        new java.util.concurrent.atomic.AtomicReference[java.lang.Long](null)
      run(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format(format).load(land)
        .writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          step(root, batch, batchId)
          lastBatch.set(batchId)
        }
        .option("checkpointLocation", s"$root/ckpt"))
      if (lastBatch.get() == null)
        throw new IllegalStateException(
          s"no batches drained from $land — the staged landing dir is " +
            "empty (a foreign process blessed a half-staged dir?) or the " +
            "fixture path is wrong")
      root
    }

    /** [[apply]] once per process per fixture dir (the end state is
      * deterministic); `computeIfAbsent` also serializes concurrent
      * first callers (Verify runs queries on a pool), which would
      * otherwise clobber each other's state and checkpoint. */
    def once(spark: SparkSession, dir: String, land: => String,
        schema: StructType, format: String = "parquet")
        (step: (String, DataFrame, Long) => Unit): String =
      drained.computeIfAbsent(dir,
        _ => apply(spark, dir, land, schema, format)(step))
  }
}
