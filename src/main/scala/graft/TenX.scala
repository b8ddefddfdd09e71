package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builds a COMPLETE sf-directory at N× the source scale factor — every
  * table of TESTDATA.md replicated with coherent key shifts — so the FULL
  * 90-query registry (not just ScaleSmoke's operator subset) can run
  * unmodified at sf1-equivalent: `SPARK_GRAFT_SF_DIR=<out> runMain
  * graft.Bench`.
  *
  * Replication follows TPC-H SF semantics: `region`/`nation` are
  * fixed-size dims (copied verbatim); customer/supplier/part/orders/
  * lineitem grow with SF over the SAME date range (more rows, same
  * selectivity windows — a date-bounded filter selects N× the rows, like
  * a real bigger warehouse). Join keys shift together (`o_custkey` moves
  * with `c_custkey`, `l_orderkey` with `o_orderkey`) so per-copy join
  * fan-out matches the original.
  *
  * Two tables need more than a key shift, because naive clones change the
  * WORKLOAD COMPLEXITY CLASS, not just its size:
  *
  *  - `documents`: byte-identical copies make every doc a cross-copy
  *    near-duplicate — the near-dup pair OUTPUT (d_minhash_lsh,
  *    d_ngram_jaccard, …) then grows O(factor²) by construction and the
  *    bench reads as superlinear when the plan is fine. A real 10× corpus
  *    grows the NUMBER of dup clusters, not their size. So each copy i>0
  *    gets a copy-marker token spliced in every 2 tokens: every 3-token
  *    shingle and 8-token span contains the marker, so cross-copy shingle
  *    sets are disjoint (no cross-copy candidates), while within-copy
  *    structure — exact dups, near-dups, span sharing — is preserved (the
  *    same transform is applied to near-identical texts). Original tokens
  *    (stopwords!) are kept, so langid still reads "en" and the quality
  *    gate in d_corpus_pipeline keeps passing — the pipeline's downstream
  *    stages see factor x the docs, not a filtered trickle.
  *  - `embeddings`: identical vectors are cross-copy cosine-duplicates at
  *    any threshold (same O(factor²) blow-up for d_embed_neardup /
  *    d_semdedup). Each copy i>0 is mapped through a per-copy SIGNED
  *    PERMUTATION of the 64 dims — an orthogonal transform, so every
  *    within-copy cosine/distance (dup pairs, label structure, cluster
  *    geometry) is preserved EXACTLY, while cross-copy cosines collapse
  *    to a random ±-signed sum ≈ N(0, 1/64) — far below the 0.3/0.35
  *    near-dup thresholds.
  *
  * `events` copies shift +30 days per copy and re-key users — disjoint
  * time chunks (cadence dedup must not collapse replicas that represent
  * new data) and N× the user population.
  *
  * Copy 0 is always the pristine source, so the N× directory is a strict
  * superset of the 1× workload.
  *
  * Usage: runMain graft.TenX [factor] [srcSfDir] [outDir]
  */
object TenX {
  private val KeyShift = 100000000L
  private val UserShift = 1000000L

  /** Explode a frame into `factor` copies tagged `__i` = 0..factor-1. */
  private[graft] def copies(df: DataFrame, factor: Int): DataFrame =
    df.withColumn("__i", explode(expr(s"sequence(0, ${factor - 1})")))

  /** Column `c` moved into copy `__i`'s disjoint key range. */
  private[graft] def shifted(c: String): Column =
    col(c) + col("__i") * KeyShift

  def build(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    def load(name: String): DataFrame = Tables.load(spark, src, name)

    // fixed-size dims: verbatim
    write("region", load("region"))
    write("nation", load("nation"))

    // SF-scaled dims: key-shifted copies; nation/region FKs unchanged
    write("customer", copies(load("customer"), factor)
      .withColumn("c_custkey", shifted("c_custkey")).drop("__i"))
    write("supplier", copies(load("supplier"), factor)
      .withColumn("s_suppkey", shifted("s_suppkey")).drop("__i"))
    write("part", copies(load("part"), factor)
      .withColumn("p_partkey", shifted("p_partkey")).drop("__i"))

    // facts: join keys shift WITH their dims; dates unchanged (TPC-H SF
    // keeps the date range — a bounded scan selects factor× the rows)
    write("orders", copies(load("orders"), factor)
      .withColumn("o_orderkey", shifted("o_orderkey"))
      .withColumn("o_custkey", shifted("o_custkey")).drop("__i"))
    write("lineitem", copies(load("lineitem"), factor)
      .withColumn("l_orderkey", shifted("l_orderkey"))
      .withColumn("l_partkey", shifted("l_partkey"))
      .withColumn("l_suppkey", shifted("l_suppkey")).drop("__i"))

    // events: +30 days per copy (disjoint time chunks) + new users.
    // Copies i>0 additionally carve three deterministic 3-hour silence
    // windows (source-calendar days 8/18/28, 09:00-12:00 UTC): the
    // sf0.1 source calendar is DENSE (max per-type gap ~0.4 h, zero
    // >2 h gaps), so a pure replication left the gap family's scaled
    // oracle rows vacuous (0-row == 0-row) — the carving makes
    // q_gap_stats / q_open_gaps / stream_gap_alerts / gapfill exercise
    // real >2 h closed gaps at every factor ≥ 2, while copy 0 stays
    // the pristine source (the N× dir remains a strict 1× superset)
    // and the oracle needs no special handling (it reads the same
    // carved parquet).
    val silence = dayofmonth(col("ts")).isin(8, 18, 28) &&
      hour(col("ts")) >= 9 && hour(col("ts")) < 12
    write("events", copies(load("events"), factor)
      .filter(col("__i") === 0 || !silence)
      .withColumn("ts", col("ts") + expr("make_dt_interval(__i * 30, 0, 0, 0)"))
      .withColumn("event_id", shifted("event_id"))
      .withColumn("user_id", col("user_id") + col("__i") * UserShift)
      .drop("__i"))

    // documents: copy-marker token every 2 tokens (see scaladoc)
    val marked = concat_ws(" ", flatten(transform(
      split(col("text"), " "),
      (w, j) => when(j % 2 === 0,
        array(concat(lit("cm"), col("__i")), w)).otherwise(array(w)))))
    write("documents", copies(load("documents"), factor)
      .withColumn("doc_id", shifted("doc_id"))
      .withColumn("text", when(col("__i") === 0, col("text")).otherwise(marked))
      .withColumn("n_chars", length(col("text")))
      .drop("__i"))

    // embeddings: per-copy signed permutation of the dims (see scaladoc).
    // step is odd → j*step+off is a bijection mod the power-of-two dim
    // count; the sign is a per-(copy, dim) LCG coin. Orthogonal, so
    // within-copy geometry is bit-preserved up to coordinate order.
    val dims = load("embeddings").select(size(col("embedding")))
      .head().getInt(0)
    require((dims & (dims - 1)) == 0,
      s"signed-permutation replica needs a power-of-two dim count, got $dims")
    val rotated = expr(
      s"""transform(sequence(0, ${dims - 1}), j -> CAST(
         |  CASE WHEN pmod((CAST(__i AS BIGINT) * 1000003 + j * 97)
         |                   * 1103515245L + 12345, 2) = 0
         |       THEN 1.0 ELSE -1.0 END
         |  * element_at(embedding,
         |      CAST(pmod(CAST(j AS BIGINT)
         |                  * (2 * pmod(CAST(__i AS BIGINT) * 2654435761L,
         |                              ${dims / 2}) + 1)
         |                + pmod(CAST(__i AS BIGINT) * 40503, $dims),
         |                $dims) AS INT) + 1)
         |  AS FLOAT))""".stripMargin)
    write("embeddings", copies(load("embeddings"), factor)
      .withColumn("vec_id", shifted("vec_id"))
      .withColumn("embedding",
        when(col("__i") === 0, col("embedding")).otherwise(rotated))
      .drop("__i"))

    // media: stored binary payload columns for the id-stride-sampled
    // event set — generated from the REPLICATED events so the stride
    // reflects the scaled corpus; byte budget stays bounded at any
    // factor (MediaStore scaladoc)
    graft.multimodal.MediaStore.write(
      spark.read.parquet(s"$out/events.parquet"), s"$out/media.parquet")
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val src = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val out = args.lift(2).getOrElse(
      s"${System.getProperty("java.io.tmpdir")}/graft_tenx_$factor")
    val spark = GraftSession()
    build(spark, src, out, factor)
    println(s"""{"tenx_dir":"$out","factor":$factor,"src":"$src"}""")
    spark.stop()
  }
}
