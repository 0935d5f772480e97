package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bronze-layer ingest (SURVEY §2.1 S1–S4, U1; reference
  * ecom_Bronze_Layer.ipynb:38–58): read every raw CSV in a landing
  * folder, stack them into ONE wide table with a `source_table`
  * discriminator and schema-on-read nullability, then truncate-load.
  *
  * Spark-first shape: one `spark.read.csv` per source (schema inference
  * only here, at the rawest layer — every later layer has an explicit
  * contract), `unionByName(allowMissingColumns = true)` for the
  * heterogeneous stack (missing columns → NULL, the reference's
  * pd.concat semantics), `lit(name)` for the discriminator. Loads stay
  * distributed end-to-end; nothing passes through the driver.
  *
  * Scale: CSV scans split by HDFS block; the union is plan-level (no
  * shuffle); the write re-partitions only if asked. At 100 TB the
  * landing zone is many files per source — both readers below take
  * directories or globs.
  */
object Bronze {

  /** S1+S2: one tagged frame per CSV source. */
  def readTagged(spark: SparkSession, pathsByName: Map[String, String]): Map[String, DataFrame] =
    pathsByName.map { case (name, path) =>
      name -> spark.read
        .option("header", "true")
        .option("inferSchema", "true")
        .csv(path)
        .withColumn("source_table", lit(name))
    }

  /** U1: heterogeneous union-all with schema union — missing columns
    * null-filled, column order normalized by name. */
  def rawUnion(frames: Seq[DataFrame]): DataFrame =
    frames.reduce(_.unionByName(_, allowMissingColumns = true))

  /** S4: truncate-load of the combined raw table (the reference's
    * WRITE_TRUNCATE into bronze.raw_Brazilian_data), read back with the
    * schema just written — no inference pass over the parquet. */
  def loadRaw(spark: SparkSession, pathsByName: Map[String, String],
      outPath: String): DataFrame = {
    val raw = rawUnion(readTagged(spark, pathsByName).values.toSeq)
    raw.write.mode("overwrite").parquet(outPath)
    spark.read.schema(raw.schema).parquet(outPath)
  }
}
