package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Self-generated 10× scaling fixture (the round-6 verdict's "measure
  * the scale claims" probe): N disjoint key-remapped copies of the
  * sf0.1 tables, written to a scratch dir for Spark-vs-Spark scaling
  * runs — no oracle involved, so nothing here touches correctness.
  *
  * Construction contract (what makes the probe measure PLAN scaling,
  * not artifact blowup):
  *   - every surrogate key offsets by copy × K with K divisible by
  *     2100 = lcm(6, 7, 25, 100) — the registry's id-arithmetic
  *     predicates (eval registry % 25, delta split % 6, tombstones
  *     % 7, query set % 100) keep their exact proportions;
  *   - foreign keys remap CONSISTENTLY (an order's lineitems follow it
  *     into the copy), so the relational graph is N disjoint replicas —
  *     exactly how TPC-H itself scales (more orders, same per-order
  *     shape);
  *   - document text for copy c > 0 suffixes every token with "_c<c>":
  *     copies share NO shingles, so near-dup structure replicates
  *     (pairs scale ×N) instead of exploding cross-copy (a one-token
  *     perturbation would leave Jaccard ≈ 1 and make every doc a
  *     10-way near-dup — that measures data pathology, not the plan).
  *     Vocabulary grows ×N — an upper bound vs Heaps' law, i.e. the
  *     HARD case for vocab-grain stages;
  *   - embeddings rotate by c positions: distinct vectors, same norms,
  *     same pairwise-cosine structure within a copy;
  *   - dimension tables (region, nation) copy once — dims don't scale;
  *   - events offset ids into the same time window (a 10× day, not a
  *     10-day window).
  *
  * Deliberately NOT scaled: IVF centroid count (vec_id < 16 keeps copy
  * 0's 16 centroids over a 10× corpus). Bucket sizes therefore grow
  * ×N and bucket-local pair work ×N² — the fixed-K regime every IVF
  * deployment avoids by scaling K ~ √n with the corpus. The probe
  * REPORTS that super-linearity with this named cause rather than
  * hiding it (SCALE.md).
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1)
      else s"${System.getProperty("java.io.tmpdir")}/graft_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    // optional table subset (args 4+): a 1000× decade probe only needs
    // the probed queries' tables — generating the full star at that
    // scale would burn tens of GB for tables nothing reads
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args.drop(3).toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.util.Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // all divisible by 2100 — see the construction contract above
    val OffDoc = 10500000L
    val OffVec = 10500000L
    val OffOrder = 210000000L
    val OffCust = 10500000L
    val OffPart = 10500000L
    val OffSupp = 2100000L
    val OffEvent = 210000000L
    val OffUser = 10500000L

    def wanted(t: String): Boolean = only.forall(_.contains(t))

    // rotate(+negate) gives 128 structurally-disjoint embedding copies
    // (64 rotations × sign); copy 128 would alias copy 0 and near-dup
    // structure would silently explode cross-copy — refuse, don't lie.
    // Checked FIRST: failing after the other tables have replicated
    // would burn the full multi-GB generation before refusing.
    require(copies <= 128 || !wanted("embeddings"),
      s"embeddings replication is disjoint only to 128 copies (got " +
        s"$copies); restrict the table subset or extend the transform")

    // The copy index is a COLUMN (cross join with range(copies)), not a
    // union of per-copy plans: a 1000-copy union is a 1000-branch plan
    // Catalyst chokes on, while the cross join scales to any copy
    // count. Transforms receive the copy column `c` and must be pure
    // column arithmetic — identical values to the per-copy literal
    // form this replaced (the 10×/100× fixtures regenerate
    // bit-compatibly; spot-checked by content hash).
    def replicate(t: String)(f: (DataFrame, Column) => DataFrame): Unit = {
      if (!wanted(t)) return
      val base = graft.sources.Tables.load(spark, src, t)
      val all = f(base.crossJoin(
        spark.range(0, copies).toDF("_copy")), col("_copy"))
        .drop("_copy")
      all.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scalegen] $t -> ${copies}x")
    }

    // dims: copy once
    Seq("region", "nation").filter(wanted).foreach { t =>
      graft.sources.Tables.load(spark, src, t)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scalegen] $t -> 1x (dimension)")
    }

    replicate("customer") { (d, c) =>
      d.withColumn("c_custkey", col("c_custkey") + c * OffCust)
    }
    replicate("supplier") { (d, c) =>
      d.withColumn("s_suppkey", col("s_suppkey") + c * OffSupp)
    }
    replicate("part") { (d, c) =>
      d.withColumn("p_partkey", col("p_partkey") + c * OffPart)
    }
    replicate("orders") { (d, c) =>
      d.withColumn("o_orderkey", col("o_orderkey") + c * OffOrder)
        .withColumn("o_custkey", col("o_custkey") + c * OffCust)
    }
    replicate("lineitem") { (d, c) =>
      d.withColumn("l_orderkey", col("l_orderkey") + c * OffOrder)
        .withColumn("l_partkey", col("l_partkey") + c * OffPart)
        .withColumn("l_suppkey", col("l_suppkey") + c * OffSupp)
    }
    replicate("events") { (d, c) =>
      d.withColumn("event_id", col("event_id") + c * OffEvent)
        .withColumn("user_id", col("user_id") + c * OffUser)
    }
    replicate("documents") { (d, c) =>
      val suffix = concat(lit("_c"), c.cast("string"))
      val t = when(c === 0, col("text"))
        .otherwise(array_join(transform(split(col("text"), " "),
          x => concat(x, suffix)), " "))
      d.withColumn("doc_id", col("doc_id") + c * OffDoc)
        .withColumn("text", t)
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    replicate("embeddings") { (d, c) =>
      // rotate by c positions (c < 64); past a full rotation (c ≥ 64,
      // the 100× fixture) rotate by c-64 AND negate — cos(-x, x) = -1,
      // so late copies still share NO near-dup structure with their
      // rotation twins, norms and in-copy pairwise cosines unchanged
      // (cos(-x, -y) = cos(x, y))
      val r = (c % 64).cast("int")
      val rot = when(r === 0, col("embedding"))
        .otherwise(concat(
          slice(col("embedding"), r + 1, lit(64) - r),
          slice(col("embedding"), lit(1), r)))
      val e = when(c < 64, rot).otherwise(transform(rot, v => -v))
      d.withColumn("vec_id", col("vec_id") + c * OffVec)
        .withColumn("embedding", e)
    }
    spark.stop()
  }
}
