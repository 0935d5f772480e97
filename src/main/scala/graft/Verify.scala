package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run on a small thread pool — Spark's scheduler is
  * thread-safe and the jobs are mostly independent scans, so wall time
  * is dominated by the slowest few queries, not the sum of all 329.
  * Streaming queries run on the main thread afterwards: each drains
  * into a fixed, session-global memory sink name
  * ([[graft.streaming.Drain.toMemory]]), so two at once would race.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // args 3+: optional name-substring filters for local iteration on a
    // subset (the driver always passes exactly two)
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.util.Sessions.local(cpus)
      // NOTE: parquet timestamps stay on the default INT96, which pyarrow
      // reads as NAIVE datetime64[ns] — matching the DuckDB oracle's naive
      // timestamps. TIMESTAMP_MICROS would read back tz-aware (UTC) and
      // diverge from the oracle under exact hashing. The ns range limit
      // (max 2262-04-11) is handled by keeping all emitted timestamps in
      // range (see Scd2.FarFuture).
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    val (streaming, batch) = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.isEmpty || only.exists(n.contains) }
      .partition(_._1.contains("streaming"))

    def runOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }

    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val futures = batch.map { case (name, fn) =>
      pool.submit(new Runnable { def run(): Unit = runOne(name, fn) })
    }
    futures.foreach(_.get())
    pool.shutdown()
    streaming.foreach { case (name, fn) => runOne(name, fn) }

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
