package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builds an ADVERSARIAL hot-cohort sf-directory for oracle-driving the
  * banded-LSH residue-block CAP in its BINDING regime.
  *
  * The corpus-scaled banded join ([[graft.queries.PipelineQueries
  * .dEmbedNeardup]] and every `bandedCandidates` consumer) caps
  * hot-bucket work by hashing each band bucket's members into
  * m = ceil(bucket / 1024) residue blocks. Buckets ≤ 1024 keep m = 1 and
  * the operator is EXACT; larger buckets degrade to a deterministic 1/m
  * pair sample. Natural test corpora never push a bucket past 1024
  * (SF1 drive: occupancy ≈ 39), so the capped branch of the rule was
  * proven only against itself (factor-1000 self-consistency), never
  * against an independent engine — this tool closes that blind spot.
  *
  * Construction: every table copies verbatim except `embeddings`, which
  * gains a `cohortSize`-member cohort of vectors BIT-IDENTICAL to the
  * lowest-id seed vector (fresh ids above the existing max, the seed's
  * label). Identical vectors agree on every one of the 40 signature
  * planes by construction — no hyperplane knowledge needed — so every
  * band maps the whole cohort into ONE bucket of ≥ cohortSize members
  * and the cap provably binds (m ≥ 2 at cohortSize > 1024). The rule is
  * pure integer arithmetic on (multiplicative hash, row_number, count)
  * so the DuckDB twins reproduce the SAME sample — the drive checks the
  * capped regime hash-for-hash, not just "plausible".
  *
  * Usage: runMain graft.HotCohort [cohortSize] [srcSfDir] [outDir]
  */
object HotCohort {
  def build(spark: SparkSession, src: String, out: String,
      cohortSize: Int): Unit = {
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents"))
      write(t, Tables.load(spark, src, t))
    val e = Tables.load(spark, src, "embeddings")
    val maxId = e.agg(max("vec_id")).head().getLong(0)
    val seed = e.orderBy("vec_id").limit(1)
    val cohort = seed
      .withColumn("__i", explode(expr(s"sequence(1, $cohortSize)")))
      .withColumn("vec_id", lit(maxId) + col("__i"))
      .drop("__i")
      .select(e.columns.map(col): _*)
    write("embeddings", e.unionByName(cohort))
  }

  def main(args: Array[String]): Unit = {
    val cohortSize = args.headOption.map(_.toInt).getOrElse(1500)
    val src = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val out = args.lift(2).getOrElse(
      s"${System.getProperty("java.io.tmpdir")}/graft_hotcohort")
    val spark = GraftSession()
    build(spark, src, out, cohortSize)
    // prove the cap binds: the max band-bucket occupancy of the built
    // corpus, computed through the SAME signature + banding the
    // operators use (the drive's log must show max_bucket > 1024)
    graft.functions.native.register(spark)
    import graft.queries.PipelineQueries
    val n = PipelineQueries.embCount(spark, out)
    val b = PipelineQueries.lshBandBits(n)
    val nb = 40 / b
    val bandKeys = (0 until nb).map(k =>
      (lit(k.toLong << 21).bitwiseOR(
        shiftright(col("sig"), k * b).bitwiseAND(lit((1L << b) - 1))))
        .as(s"k$k"))
    val maxBucket = PipelineQueries.sig40(spark, out)
      .select(explode(array(bandKeys: _*)).as("key"))
      .groupBy("key").count()
      .agg(max("count")).head().getLong(0)
    println(s"""{"hotcohort_dir":"$out","cohort":$cohortSize,""" +
      s""""n_vectors":$n,"band_bits":$b,"max_bucket":$maxBucket,""" +
      s""""cap_m":${(maxBucket + 1023) / 1024}}""")
    spark.stop()
  }
}
