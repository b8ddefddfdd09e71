package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{PortableText => PT, PortableVec => PV}

/** Group C of SURVEY.md §2: training-data pipeline operators over the
  * documents/embeddings tables — dedup family, similarity search, text
  * analysis, multimodal plumbing. All compute is per-row expressions
  * (no shuffle) until the LSH bucket joins, which shuffle on bucket keys —
  * the candidate-generation pattern that stays near-linear at 100 TB.
  */
object PipelineQueries {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame = {
    graft.functions.native.register(s)
    graft.Tables.load(s, dir, name)
  }

  /** Memo for the shared cached frames below, per (session, dir, key).
    * `.cache()` already dedupes the DATA via CacheManager plan-matching,
    * but every call still re-builds and re-analyzes the (HOF-heavy) plan
    * tree — measurable when 70+ bench queries each re-derive the same
    * tokenization chain. DataFrames are immutable; sharing is safe.
    * Entries live in the session-scoped registry ([[SessionScoped]]):
    * unpersisted when the owning context ends, or per dir via
    * [[SessionScoped.evict]] — ScaleSmoke calls it between scale factors
    * so a long-lived session doesn't pin every factor's cached frames. */
  private def memo(s: SparkSession, dir: String, key: String)(
      build: => DataFrame): DataFrame =
    SessionScoped.frame(s, dir, key)(build)

  /** Conf key for the size gate below (bytes); override in specs to force
    * either regime. */
  val BroadcastGateKey = "spark.graft.broadcastGateBytes"

  /** Size-GATED broadcast hint for data-dependent build sides. An
    * explicit `broadcast()` hint is honored by the planner regardless of
    * size — there is no AQE fallback; past ~8 GiB Spark hard-fails the
    * exchange after sustained driver memory pressure. That is fine for
    * frames with a structural bound (codebooks, probe lists) but NOT for
    * frames whose size tracks a data distribution: the near-dup label
    * frame is one row per clustered document (30–50 % of a realistic
    * crawl), and an ingest delta is whatever the day brought. So: count
    * the build side (cheap — both call sites hand in a cached or
    * checkpointed frame, so the count is a metadata-or-memo-speed pass
    * that does not recompute the lineage), estimate bytes from the
    * caller's per-row width, and hint ONLY under the gate; over it the
    * frame joins unhinted and the planner picks a keyed shuffle join —
    * one linear exchange instead of an OOM. Default gate 256 MiB, far
    * under the 8 GiB wall and executor-memory safe at 32 tasks/JVM. */
  private[graft] def gatedBroadcast(df: DataFrame, bytesPerRow: Long)
      : DataFrame = {
    val maxBytes = df.sparkSession.conf
      .get(BroadcastGateKey, (256L << 20).toString).toLong
    if (df.count() * bytesPerRow <= maxBytes) broadcast(df) else df
  }

  /** Best-effort unpersist of a localCheckpoint'd frame's backing RDD.
    * `Dataset.unpersist` only consults the CacheManager, which does not
    * track checkpoint RDDs — without this, per-round frames (label
    * propagation's fold) accumulate in the block manager until
    * ContextCleaner garbage-collects the dropped references. */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** doc_id + token-hash array for docs with >= 3 tokens.
    *
    * The documents table may arrive as few (even one) parquet files; the
    * expression chain downstream is compute-bound, so spread it across all
    * cores up front — at cluster scale this is the usual "repartition a
    * small compute-heavy input to the executor count" move. Cached: five
    * operators (simhash, langid, fingerprint, ngram-freq, shingling)
    * consume this frame, and the tokenization pass dominates its cost. */
  private def tokenHashes(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "tokenHashes") {
      tbl(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("lang"), col("source"),
          expr("graft_tokens(text)").as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), col("lang"), col("source"), col("toks"),
          expr("graft_token_hashes(toks)").as("th"))
        .cache()
    }

  /** doc_id -> distinct 3-gram shingle hashes (cached: feeds both the LSH
    * candidate join and the Jaccard verification). */
  private def shingles(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "shingles") {
      tokenHashes(s, dir)
        .select(col("doc_id"), expr("graft_shingles(th)").as("sh"))
        .cache()
    }

  /** doc_id, band_idx, band signature (8 LSH bands over 32 minhashes);
    * cached: self-joined for pairs and reused across queries. */
  private def ebands(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "ebands") {
      shingles(s, dir)
        .select(col("doc_id"), expr("graft_minhash_bands(sh)").as("bands"))
        .select(col("doc_id"),
          posexplode(col("bands")).as(Seq("band_idx", "sig")))
        .cache()
    }

  /** Distinct LSH candidate pairs (doc_a < doc_b). */
  private def lshPairs(s: SparkSession, dir: String): DataFrame = {
    val eb = ebands(s, dir)
    val a = eb.toDF("doc_a", "band_idx", "sig")
    val b = eb.toDF("doc_b", "band_idx", "sig")
    a.join(b, Seq("band_idx", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "band_idx")
      .distinct()
  }

  // ------------------------------------------------------------- dedup ops

  def dExactDedup(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .groupBy(sha2(col("text").cast(BinaryType), 256).as("content_hash"))
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))

  def dMinhashLsh(s: SparkSession, dir: String): DataFrame =
    lshPairs(s, dir)
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_bands"))

  /** MinHash estimation-error AUDIT over the LSH candidate pairs — the
    * index-quality telemetry behind [[dMinhashLsh]]/[[dNgramJaccard]]:
    * per candidate pair, the 32-row signature agreement count (whose
    * /32 IS the MinHash Jaccard estimate) next to the EXACT distinct-
    * shingle intersection and union sizes. A fleet plots agree/32
    * against intersect/union to decide band/row counts before a
    * recrawl; integer outputs only, so the cross-engine compare is
    * exact. Scale shape: the pair frame comes from the cached band
    * join (linear); the 32-permutation signature recompute is
    * restricted BY SEMI-JOIN to the docs that actually appear in a
    * candidate pair before it runs — computing it corpus-wide measured
    * 108x at a 100x scale-up (the HOF minhash over every doc dominated
    * both join sides), vs 100x-linear pair-doc work after the
    * restriction. Two keyed joins after that, per-pair work bounded by
    * signature + shingle lengths. */
  def dMinhashEstErr(s: SparkSession, dir: String): DataFrame = {
    graft.functions.native.register(s)
    val pairs = lshPairs(s, dir).select("doc_a", "doc_b").distinct()
    val pairDocs = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    // graft_minhash32 is the codegen'd native kernel (same permutation
    // constants as PT.minhashSpark — property-pinned in
    // NativeExpressionsSpec): the interpreted 32-lane HOF dominated this
    // query's CPU (13.9 s on local[8] at sf0.1). Cached VIA THE MEMO so
    // eviction unpersists it between scale factors (a bare .cache()
    // stayed pinned for the session): the pair frame joins the signature
    // frame TWICE (doc_a and doc_b sides), and without the cache each
    // side re-runs the semi-join + kernel.
    val mh = memo(s, dir, "mhSigs") {
      shingles(s, dir)
        .join(pairDocs, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("sh"),
          expr("graft_minhash32(sh)").as("mh"))
        .cache()
    }
    pairs
      .join(mh.toDF("doc_a", "sh_a", "mh_a"), Seq("doc_a"))
      .join(mh.toDF("doc_b", "sh_b", "mh_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("aggregate(zip_with(mh_a, mh_b, (x, y) -> IF(x = y, 1L, 0L))," +
          " 0L, (a, v) -> a + v)").as("mh_agree"),
        expr("CAST(size(array_intersect(sh_a, sh_b)) AS BIGINT)")
          .as("n_intersect"),
        expr("CAST(size(array_union(sh_a, sh_b)) AS BIGINT)")
          .as("n_union"))
  }

  /** Batch twin of [[graft.streaming.StreamingAgg.minhashDedupStream]]:
    * the SAME stateful band-bucket transform folds once per bucket
    * against empty state, then per-doc verdicts aggregate to keep/drop —
    * `first_dup` is the lowest doc id sharing any LSH band (null = kept).
    * Docs under 3 tokens have no bands and are trivially kept. The
    * streaming side persists bucket owners across batches, so a
    * near-duplicate arriving a batch LATER inherits the earlier owner
    * (StreamingSpec pins the cross-batch case). */
  def streamMinhashDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val v = graft.streaming.StreamingAgg.minhashDedupStream(docs).toDF()
    val dup = v.filter(col("owner_id") < col("doc_id"))
      .groupBy("doc_id").agg(min("owner_id").as("first_dup"))
    docs.select("doc_id").join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("first_dup").isNull.as("kept"),
        col("first_dup"))
  }

  /** Batch twin of
    * [[graft.streaming.StreamingAgg.incrementalDedupStream]]: the SAME
    * stream-static-join + stateful-fold transform runs once over the
    * delta slice against the persisted store (fold against empty state,
    * first-arrival == min-id), then per-doc verdicts aggregate exactly
    * as [[dIncrementalDedup]] — same columns, same oracle. */
  def streamIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val delta = tbl(s, dir, "documents").filter(col("doc_id") % 10 === 7)
    val store = s.read.parquet(corpusSigStore(s, dir))
    val v = graft.streaming.StreamingAgg
      .incrementalDedupStream(delta, store).toDF()
    val agg = v.groupBy("doc_id").agg(
      min("corpus_dup").as("corpus_dup"),
      min(when(col("owner_id") < col("doc_id"), col("owner_id")))
        .as("delta_dup"))
    delta.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("corpus_dup"), col("delta_dup"),
        (col("corpus_dup").isNull && col("delta_dup").isNull).as("kept"))
  }

  /** Batch twin of [[graft.streaming.StreamingAgg.vecDedupStream]]:
    * the SAME stateful 20-bit-band bucket transform folds once per
    * bucket against empty state (first-arrival == min-id), then
    * per-vector verdicts aggregate to keep/drop — `first_dup` is the
    * lowest vec id sharing any 20-plane band (null = kept). */
  def streamVecDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val v = graft.streaming.StreamingAgg.vecDedupStream(emb).toDF()
    val dup = v.filter(col("owner_id") < col("vec_id"))
      .groupBy("vec_id").agg(min("owner_id").as("first_dup"))
    emb.select("vec_id").join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("first_dup").isNull.as("kept"),
        col("first_dup"))
  }

  /** Dir of the session-persisted BM25 text index for `dir` — built
    * once per (session, dir) via [[graft.ml.Similarity.writeTextIndex]]
    * (registry tokenization: docs under 3 tokens do not index).
    * t_bm25_indexed's timed work is the term-pruned PERSISTED read path
    * (postings scan + df/stats delta sums), not the index build (a real
    * deployment builds at ingest time). */
  def textIndexStore(s: SparkSession, dir: String): String =
    SessionScoped.store(s, dir, "textIdx") { d =>
      val out = s"$d/text_index"
      graft.ml.Similarity.writeTextIndex(
        tbl(s, dir, "documents").select("doc_id", "text"), out)
      out
    }

  /** Dir of a text index built by STREAMING ingest — the documents
    * parquet replayed as a Structured Streaming file source (parquet
    * files become micro-batches, a few files per trigger; no driver
    * collect, so the build distributes at any corpus size) into
    * [[graft.ml.Similarity.textIndexSink]], whose per-batch-id commit
    * dirs make replays idempotent. Built once per (session, dir). */
  def streamTextIndexStore(s: SparkSession, dir: String): String =
    SessionScoped.store(s, dir, "streamTextIdx") { d =>
      val out = s"$d/text_index"
      val src = s"$dir/documents.parquet"
      val schema = s.read.parquet(src).schema
      // the stream file source monitors a DIRECTORY (the landing-dir
      // shape every real feed has); the sf tables may be a single
      // parquet FILE (driver-written) — shim one behind a symlink dir
      // (zero copy) so both layouts stream
      val srcFile = new java.io.File(src)
      val streamDir =
        if (srcFile.isDirectory) src
        else {
          val sd = new java.io.File(d, "stream_src")
          sd.mkdirs()
          java.nio.file.Files.createSymbolicLink(
            new java.io.File(sd, "part-000000.parquet").toPath,
            srcFile.toPath)
          sd.toString
        }
      val docs = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4")
        .parquet(streamDir)
        .select("doc_id", "text")
      val q = graft.ml.Similarity.textIndexSink(docs, out, s"$d/ckpt")
      try q.processAllAvailable() finally q.stop()
      out
    }

  /** Parquet path of the STANDING-corpus LSH band-signature store
    * (doc_id, band_idx, sig) — every document except the `doc_id % 10
    * == 7` delta slice. Written once per (session, dir) — the timed work
    * of d_incremental_dedup is the DELTA-vs-store join, not the store
    * build (a standing corpus's signatures were written at its own
    * ingest time); subsequent ingests read it from disk like the real
    * store they model. */
  def corpusSigStore(s: SparkSession, dir: String): String =
    SessionScoped.store(s, dir, "sigStore") { d =>
      val out = s"$d/sig_store"
      ebands(s, dir).filter(col("doc_id") % 10 =!= 7)
        .write.mode("overwrite").parquet(out)
      out
    }

  /** `d_incremental_dedup`: dedup TODAY'S ingest (the `doc_id % 10 == 7`
    * slice) against a standing corpus WITHOUT re-processing the corpus —
    * the asymmetric pattern a growing 100 TB corpus actually runs daily,
    * where re-LSH-ing every stored document per ingest
    * ([[dMinhashLsh]]'s symmetric self-join) would be quadratic in
    * archive lifetime. The corpus side is a PERSISTED band-signature
    * store ([[corpusSigStore]] — 16 B/band rows written at the corpus's
    * own ingest time); the daily job computes bands for the delta only
    * and broadcasts them through the SIZE GATE ([[gatedBroadcast]] — a
    * daily increment is usually small next to the archive, but a
    * mega-delta ingest exceeding the gate joins unhinted and the plan
    * degrades gracefully to a sig-shuffle of both sides instead of
    * hard-failing the 8 GiB broadcast wall), and the store is scanned
    * ONCE,
    * map-only, never shuffled — the only shuffle is the per-delta-doc
    * `min` over matched candidates, bounded by matches, not the store.
    * Within-delta dups resolve by the same first-arrival (min doc_id)
    * rule as the streaming twin. Per delta doc: `corpus_dup` = lowest
    * corpus doc sharing any LSH band (null = fresh), `delta_dup` =
    * lowest earlier delta doc sharing a band, `kept` = both null.
    * Docs under 3 tokens have no bands and are trivially kept. */
  def dIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val store = s.read.parquet(corpusSigStore(s, dir))
      .toDF("c_id", "band_idx", "sig")
    val delta = ebands(s, dir).filter(col("doc_id") % 10 === 7)
    // ~32 B per (doc_id, band_idx, sig) row in the broadcast hash relation
    val corpOwn = store
      .join(gatedBroadcast(delta, 32L), Seq("band_idx", "sig"))
      .groupBy("doc_id").agg(min("c_id").as("corpus_dup"))
    val earlier = delta.toDF("e_id", "band_idx", "sig")
    val deltaOwn = delta
      .join(earlier, Seq("band_idx", "sig"))
      .filter(col("e_id") < col("doc_id"))
      .groupBy("doc_id").agg(min("e_id").as("delta_dup"))
    tbl(s, dir, "documents").filter(col("doc_id") % 10 === 7)
      .select("doc_id")
      .join(corpOwn, Seq("doc_id"), "left")
      .join(deltaOwn, Seq("doc_id"), "left")
      .select(col("doc_id"), col("corpus_dup"), col("delta_dup"),
        (col("corpus_dup").isNull && col("delta_dup").isNull).as("kept"))
  }

  def dSimhash(s: SparkSession, dir: String): DataFrame = {
    val f = tokenHashes(s, dir)
      .select(col("doc_id"), expr("graft_simhash(th)").as("simhash"))
    f.withColumn("n_same",
      count(lit(1)).over(Window.partitionBy("simhash")))
  }

  /** Jaccard-scored candidate pairs (cached: consumed as the query result
    * AND as the edge input of the clustering loop, which would otherwise
    * re-join the shingle sets on every invocation). */
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "jaccardPairs") {
      val sh = shingles(s, dir)
      val cand = lshPairs(s, dir).select("doc_a", "doc_b").distinct()
      cand
        .join(sh.toDF("doc_a", "sh_a"), "doc_a")
        .join(sh.toDF("doc_b", "sh_b"), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
            size(array_union(col("sh_a"), col("sh_b"))).cast(DoubleType))
            .as("jaccard"))
        .cache()
    }

  def dNgramJaccard(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(s, dir)

  /** Broder CONTAINMENT per candidate pair: |A∩B| / |A| (and / |B|) —
    * the asymmetric near-dup metric symmetric Jaccard misses: a short
    * doc fully quoted inside a long one has low Jaccard (the union is
    * large) but containment ≈ 1 on the short side, which is how
    * quote/subset duplication and doc-inclusion are actually detected.
    * Same LSH candidate generation and shingle-set join as
    * [[dNgramJaccard]] — one more arithmetic column, no new shuffle. */
  def dNgramContainment(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(s, dir)
    val cand = lshPairs(s, dir).select("doc_a", "doc_b").distinct()
    cand
      .join(sh.toDF("doc_a", "sh_a"), "doc_a")
      .join(sh.toDF("doc_b", "sh_b"), "doc_b")
      .withColumn("__inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .select(col("doc_a"), col("doc_b"),
        (col("__inter") /
          size(array_distinct(col("sh_a"))).cast(DoubleType))
          .as("containment_a"),
        (col("__inter") /
          size(array_distinct(col("sh_b"))).cast(DoubleType))
          .as("containment_b"))
  }

  /** Near-duplicate cluster assignment: connected components over the
    * verified near-dup graph (LSH candidates with n-gram Jaccard >= 0.5),
    * labeling every doc with the minimum doc_id reachable from it. This is
    * the step a real dedup pipeline runs after pair generation — keep one
    * doc per cluster (`is_keeper`).
    *
    * The graph step is [[graft.core.Graph.minLabelComponents]] (min-label
    * propagation with pointer jumping over the edge vertices only — the
    * near-dup graph is orders of magnitude smaller than the corpus); one
    * final broadcast left join labels the whole corpus. */
  /** Memo per (session, dir): the clustering loop's result is RDD-backed
    * (localCheckpoint), so the plan-matching CacheManager can't dedupe
    * repeated invocations the way it does the cached frames above; the
    * capstone pipeline and repeated bench passes reuse the computed
    * labels — the production pattern (clusters materialize once).
    * Session-scoped like [[memo]]: eviction unpersists the labels and
    * drops the reference, letting the checkpoint RDD's blocks be GC'd
    * with it. */
  def dDedupClusters(s: SparkSession, dir: String): DataFrame =
    SessionScoped.frame(s, dir, "clusters") {
      val edges = dNgramJaccard(s, dir)
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"))
      val labels = graft.core.Graph.minLabelComponents(edges)
      // isolated docs are their own singleton cluster. The label frame is
      // one row per CLUSTERED doc — tiny on synthetic data, corpus-order
      // on a high-duplication crawl — so the broadcast is size-gated
      // (~32 B per (doc_id, lbl) pair); over the gate it degrades to a
      // doc_id-keyed shuffle join, one linear exchange
      shingles(s, dir).select(col("doc_id"))
        .join(gatedBroadcast(labels.toDF("doc_id", "lbl"), 32L),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
        .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
        .cache()
    }

  /** Leakage-free train/val/test split: the split is assigned per
    * NEAR-DUP CLUSTER, not per doc — hash the cluster label, so every
    * member of a duplicate cluster lands in the same split and no test
    * document ever has a near-duplicate in train (the eval-contamination
    * failure mode doc-level hashing cannot prevent). 80/10/10 via the
    * registry's RNG-free multiplicative hash.
    *
    * Scale shape: [[dDedupClusters]]'s cached verdict (pointer-jumping
    * components over the EDGE graph) + a map-only hash projection — no
    * new shuffle beyond the cluster assignment a dedup pipeline already
    * ran. */
  def dSplitLeakfree(s: SparkSession, dir: String): DataFrame =
    // base on ALL documents, not the cluster verdict's domain: the
    // shingle pipeline drops docs under 3 tokens, and a doc without a
    // split row would silently vanish from training — a short doc has
    // no near-dup evidence, so it is its own singleton cluster
    tbl(s, dir, "documents").select(col("doc_id"))
      // corpus-sized verdict: keyed join, NOT a broadcast
      .join(dDedupClusters(s, dir)
        .select(col("doc_id"), col("cluster_id").as("__cl")),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("__cl"), col("doc_id")))
      .withColumn("__hv",
        expr("((cluster_id % 1000003) * 2654435761) % 1000003"))
      .withColumn("split", expr(
        """CASE WHEN __hv % 100 < 80 THEN 'train'
          |     WHEN __hv % 100 < 90 THEN 'val'
          |     ELSE 'test' END""".stripMargin))
      .select("doc_id", "cluster_id", "split")

  /** Split-contamination AUDIT — the verification step behind
    * [[dSplitLeakfree]]'s guarantee: per eval split (val/test), how many
    * docs share at least one distinct 3-gram shingle with ANY train
    * doc, and the total shared-shingle mass. The leak-free split only
    * guarantees no NEAR-DUP crosses the boundary; residual shingle
    * overlap (boilerplate, quotations) is exactly what an eval-
    * contamination report measures before a benchmark ships. Scale
    * shape: one shingle-keyed distinct (the train shingle set), one
    * shingle-keyed left join of the eval stream, two keyed rollups —
    * linear in total shingles, never pairwise. All-integer output. */
  def dLeakAudit(s: SparkSession, dir: String): DataFrame = {
    val split = dSplitLeakfree(s, dir).select("doc_id", "split")
    // join the split label BEFORE the explode (guide: explode after the
    // join): the old order shuffled the whole exploded shingle stream by
    // doc_id to attach one label — joining the doc-level frames first
    // moves |docs| rows instead of |shingles|
    val ex = shingles(s, dir)
      .join(split, Seq("doc_id"))
      .select(col("doc_id"), col("split"),
        explode(array_distinct(col("sh"))).as("g"))
    val trainG = ex.filter(col("split") === "train")
      .select("g").distinct().withColumn("__tr", lit(1L))
    ex.filter(col("split") =!= "train")
      .join(trainG, Seq("g"), "left")
      .groupBy("split", "doc_id")
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__tr").isNotNull, 1L).otherwise(0L)).as("__sh"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__sh") > 0L, 1L).otherwise(0L)).as("n_contaminated"),
        sum("__n").as("n_shingles"),
        sum("__sh").as("n_shared"))
  }

  /** Near-dup cluster-size histogram — the dedup telemetry a fleet
    * watches across recrawls: clusters bucketed by floor(log2(size))
    * (computed as the binary-digit count, integer-exact in both
    * engines — a float log2 could round differently at powers of two),
    * with cluster and document counts per bucket. Two keyed aggregates
    * over the cached cluster verdict; nothing else. */
  def dClusterSizeHist(s: SparkSession, dir: String): DataFrame =
    dDedupClusters(s, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("__n"))
      .groupBy(expr("CAST(length(bin(__n)) - 1 AS BIGINT)")
        .as("log2_size"))
      .agg(count(lit(1)).as("n_clusters"), sum("__n").as("n_docs"))

  /** Canonical-document selection: after near-dup clustering, keep the
    * highest-QUALITY member of every cluster (ties to the lowest doc_id)
    * — the curation step that upgrades [[dDedupClusters]]' "keep lowest
    * id" to "keep best", which is what production pipelines actually do
    * (the canonical copy should be the cleanest one, not the first
    * crawled). Realized as max-then-tiebreak: per-cluster max(quality)
    * (partial-aggregated), join back on the max, min(doc_id) among the
    * argmax rows — two keyed aggregations with map-side combine and NO
    * per-cluster rank window, so a pathological boilerplate mega-cluster
    * (one license page duplicated across millions of docs) never pins a
    * single window task. Quality doubles are bit-identical across
    * engines (t_quality is hash-green), so the equality join on the max
    * is exact. */
  def dKeepBest(s: SparkSession, dir: String): DataFrame = {
    val members = dDedupClusters(s, dir).select("doc_id", "cluster_id")
      .join(tQuality(s, dir).select("doc_id", "quality"), Seq("doc_id"))
    val best = members.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"), max("quality").as("best_quality"))
    members.join(best, "cluster_id")
      .filter(col("quality") === col("best_quality"))
      .groupBy("cluster_id")
      .agg(min("doc_id").as("keeper_id"), min("n_members").as("n_members"),
        min("best_quality").as("best_quality"))
  }

  /** Duplicate-n-gram statistics (the RefinedWeb / MassiveText document-
    * level duplication signal): for every doc, how many of its DISTINCT
    * 3-gram shingles occur in at least one other document. Complementary
    * to pairwise near-dup detection — no pair enumeration at all, just
    * shingle document-frequencies, so boilerplate-heavy docs surface
    * even when no single partner doc crosses a pairwise threshold.
    *
    * Scale shape: ONE keyed partial/final aggregation over the exploded
    * shingle stream, then a tiny vocabulary-to-doc rollup — the
    * join-back of the raw shingle stream against the df frame is gone
    * (min-owner identity: shingles are DISTINCT per doc, so a shingle
    * with corpus df = 1 lives in exactly one doc — its min owner — and
    * `n_dup = size(sh) − n_unique_owned`; the per-doc total is a
    * map-only array size over the cached frame). The corpus-sized
    * shuffle that used to re-key every exploded row for the join
    * (plans/r13/d_dup_ngram_frac_before.txt: SMJ of the raw stream)
    * no longer exists at any scale. Integer outputs, exact
    * cross-engine. */
  def dDupNgramFrac(s: SparkSession, dir: String): DataFrame = {
    val uniq = shingles(s, dir)
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .groupBy("shingle")
      .agg(count(lit(1)).as("df"), min("doc_id").as("owner"))
      .filter(col("df") === 1L)
      .groupBy(col("owner").as("doc_id"))
      .agg(count(lit(1)).as("n_uniq"))
    shingles(s, dir)
      .select(col("doc_id"), size(col("sh")).cast(LongType).as("n_shingles"))
      .join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        (col("n_shingles") - coalesce(col("n_uniq"), lit(0L)))
          .as("n_dup_shingles"))
  }

  /** Document novelty scoring — the fraction of a doc's distinct
    * shingles FIRST seen in this doc (by doc_id order): the
    * dedup-aware sampling signal that separates fresh content from
    * recombinations of already-seen text (a doc can pass every pairwise
    * near-dup gate yet contribute nothing new).
    *
    * Scale shape: [[dDupNgramFrac]]'s linear plan with min instead of
    * count — shingle-keyed first-owner aggregate (partial/final,
    * map-side combine), join back on the shingle, per-doc rollup. Never
    * a pair join; the ratio is one IEEE divide of exact integers. */
  /** Hapax profile per document — the vocabulary-tail signal next to
    * [[tNovelty]]: of a doc's DISTINCT token hashes, how many are
    * corpus hapax legomena (total corpus occurrences = 1, counting
    * repeats within a doc). High hapax share marks fresh/rare
    * vocabulary; near-zero marks template text. Same linear shape as
    * the novelty scorer: one token-keyed corpus-frequency aggregate
    * (partial/final, map-side combine), a join back on the token, and a
    * per-doc rollup — never pairwise. */
  def tHapax(s: SparkSession, dir: String): DataFrame = {
    // min-owner identity (same rewrite as dDupNgramFrac): a corpus
    // hapax (cf = 1) occurs in exactly one doc — its min owner — so the
    // per-doc hapax count is a vocabulary-to-doc rollup of the cf frame
    // and the old (doc, h)-distinct aggregate + token-keyed join-back
    // of the corpus stream disappear; n_distinct is a map-only
    // array_distinct size over the cached frame.
    val hap = tokenHashes(s, dir)
      .select(col("doc_id"), explode(col("th")).as("h"))
      .groupBy("h")
      .agg(count(lit(1)).as("cf"), min("doc_id").as("owner"))
      .filter(col("cf") === 1L)
      .groupBy(col("owner").as("doc_id"))
      .agg(count(lit(1)).as("n_hapax"))
    tokenHashes(s, dir)
      .select(col("doc_id"),
        size(array_distinct(col("th"))).cast(LongType).as("n_distinct"))
      .join(hap, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_distinct"),
        coalesce(col("n_hapax"), lit(0L)).as("n_hapax"))
  }

  /** Bigram language-model predictability score per document — the
    * perplexity-proxy quality filter of CCNet-style pipelines
    * (the reference's domain stops at time-series aggregation; this is
    * the corpus-curation face the training-data surface adds), log-free:
    * each adjacent token pair (a, b) scores the scaled conditional
    * probability floor(c(a,b)·1e6 / c(a,·)) under the corpus's OWN
    * bigram model, and a doc's `lm_score` is the count-weighted floor
    * mean over its pairs. High = the corpus predicts the doc (head /
    * boilerplate); low = rare constructions (fresh or noisy tail).
    * Exact BIGINT arithmetic end-to-end — floor divisions agree across
    * engines, so the score is hash-reproducible (a log-space float LM
    * would rank near-ties engine-dependently).
    *
    * Scale shape: pair codes pack reversibly into one long (a·2³¹ + b,
    * like [[tCollocations]]); the per-doc pair counts, corpus pair
    * counts, and context counts (a rollup of the PAIR-count frame — a
    * vocabulary-sized pass, never a second corpus scan) are all
    * partial/final keyed aggregations with map-side combine; the two
    * join-backs key on code/context — AQE-skew-splittable, linear in
    * total tokens. No window, nothing corpus-sized broadcasts. Cached
    * ([[lmScores]]): the bucket report rides the same frame. */
  private def lmScores(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "lmScores") {
      val th = tokenHashes(s, dir)
      // graft_bigram_codes: the codegen'd pack kernel (identical integer
      // arithmetic to the transform-HOF twin it replaced — pinned in
      // NativeExpressionsSpec); the interpreted lambda ran per token
      val codes = th.select(col("doc_id"), col("source"),
        explode(expr("graft_bigram_codes(th)")).as("code"))
      val dc = codes.groupBy("doc_id", "source", "code")
        .agg(count(lit(1)).as("cnt"))
      // corpus pair counts ROLL UP from the per-doc frame (n_ab = Σ cnt)
      // instead of re-exploding the corpus a second time, and the
      // per-code score (n_ab·1e6 div n_a) is resolved on the
      // VOCABULARY-sized frame before it ever meets the per-doc stream —
      // one corpus-scale join on `code` instead of two (the old
      // dc ⋈ cAb ⋈ ctx chain re-shuffled the per-doc pair frame twice).
      val cAb = dc.groupBy("code").agg(sum("cnt").as("n_ab"))
      val ctx = cAb.groupBy(expr("code div 2147483648L").as("ctx"))
        .agg(sum("n_ab").as("n_a"))
      val codeStats = cAb
        .withColumn("ctx", expr("code div 2147483648L"))
        .join(ctx, "ctx")
        .select(col("code"), expr("n_ab * 1000000L div n_a").as("cscore"))
      dc.join(codeStats, "code")
        .groupBy("doc_id", "source")
        .agg(sum("cnt").as("n_bigrams"),
          expr("sum(cnt * cscore) div sum(cnt)").as("lm_score"))
        .cache()
    }

  def tNgramLm(s: SparkSession, dir: String): DataFrame = lmScores(s, dir)

  /** CCNet-style predictability buckets: each source's docs split into
    * head / middle / tail terciles of [[tNgramLm]]'s `lm_score` (head =
    * most predictable). The tercile cuts are computed SCALE-SAFELY:
    * `lm_score` lives in the bounded integer domain [0, 1e6], so the
    * thresholds come from a cumulative window over the per-(source,
    * score) COUNT frame — |sources| × |distinct scores| rows,
    * corpus-size independent — never an `ntile` over corpus-sized
    * per-source doc partitions (the sequence-packing lesson: a
    * per-source window over docs serializes the hottest source).
    * Thresholds broadcast (two longs per source) and the labeling pass
    * is map-only over the cached score frame. Cut rule: t_k = smallest
    * score whose cumulative doc count reaches k·n/3 (3·cum >= k·n in
    * integers), label by `score <= t1 -> tail, <= t2 -> middle, else
    * head` — ties land in the lower bucket in both engines, and a
    * degenerate distribution (every doc one score) collapses into
    * 'tail' rather than splitting engine-dependently. */
  def dCcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val lm = lmScores(s, dir)
    val sc = lm.groupBy("source", "lm_score").agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy("source").orderBy("lm_score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sc.withColumn("cum", sum("c").over(wc))
      .withColumn("n", sum("c").over(Window.partitionBy("source")))
    val cuts = cum.groupBy("source").agg(
      min(when(col("cum") * 3 >= col("n"), col("lm_score"))).as("t1"),
      min(when(col("cum") * 3 >= col("n") * 2, col("lm_score"))).as("t2"))
    lm.join(broadcast(cuts), "source")
      .withColumn("bucket",
        when(col("lm_score") <= col("t1"), "tail")
          .when(col("lm_score") <= col("t2"), "middle")
          .otherwise("head"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_bigrams").as("token_mass"),
        min("lm_score").as("min_score"),
        max("lm_score").as("max_score"))
  }

  /** Soft dedup: instead of DROPPING near-duplicates, weight every doc
    * by the inverse of its near-dup cluster size (fixed-point
    * `1e6 div cluster_size`) — the "count each duplicated text once in
    * expectation" sampling policy of data-constrained training,
    * preserving singletons at full weight and cluster diversity the
    * keep-one policies lose. Reports per source: docs, docs inside a
    * >= 2 cluster, the exact fixed-point effective mass, and the
    * largest cluster touching the source — the effective-dataset-size
    * audit next to [[dClusterSizeHist]].
    *
    * Scale shape: rides [[dDedupClusters]]' cached verdict (pointer
    * jumping over the edge graph only); one cluster-keyed size
    * aggregate (cluster-count-sized), a cluster-keyed join back, and a
    * per-source rollup — all linear, no window, nothing corpus-sized
    * broadcasts (the verdict join is doc-keyed and AQE-splittable). */
  def dSoftDedupWeights(s: SparkSession, dir: String): DataFrame = {
    val cl = dDedupClusters(s, dir).select("doc_id", "cluster_id")
    val sizes = cl.groupBy("cluster_id").agg(count(lit(1)).as("csize"))
    tbl(s, dir, "documents").select(col("doc_id"), col("source"))
      // short docs carry no near-dup evidence: left join -> singleton
      .join(cl, Seq("doc_id"), "left")
      .join(sizes, Seq("cluster_id"), "left")
      .withColumn("csize", coalesce(col("csize"), lit(1L)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("csize") >= 2L, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(expr("1000000L div csize")).as("eff_mass"),
        max("csize").as("max_cluster"))
  }

  /** Vocabulary-growth (Heaps-law) telemetry: split the corpus into 10
    * doc_id-range deciles and report, per decile, the token mass, the
    * NEW token types first seen there, and the cumulative vocabulary —
    * the "does more data still bring new words?" curve behind
    * collection decisions. First-owner = the type's minimum decile,
    * which equals the decile of its minimum doc_id (the bucket rule is
    * monotone in doc_id).
    *
    * Scale shape: decile bounds derive from ONE broadcast max(doc_id)
    * scalar — a doc-rank `ntile` would be a global sort; the
    * first-owner pass is a token-keyed min aggregate with map-side
    * combine (vocabulary-sized result); the curve itself is a 10-row
    * window. Deciles are doc_ID-range, so sparse id regions yield
    * absent rows rather than skewed tasks. */
  def tVocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val mx = tbl(s, dir, "documents").agg(max("doc_id").as("mx"))
    val ex = tokenHashes(s, dir)
      .select(col("doc_id"), explode(col("th")).as("h"))
      .crossJoin(broadcast(mx))
      .withColumn("decile", expr("least(9L, doc_id * 10L div (mx + 1L))"))
    // token mass per decile is Σ size(th) over docs — a map-only pass
    // over the cached frame; the old per-TOKEN explode for this branch
    // re-ran the corpus explode a second time for the same integer
    val mass = tokenHashes(s, dir)
      .select(col("doc_id"), size(col("th")).cast(LongType).as("n"))
      .crossJoin(broadcast(mx))
      .withColumn("decile", expr("least(9L, doc_id * 10L div (mx + 1L))"))
      .groupBy("decile").agg(sum("n").as("n_tokens"))
    val nt = ex.groupBy("h").agg(min("decile").as("fd"))
      .groupBy(col("fd").as("decile")).agg(count(lit(1)).as("nt"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mass.join(nt, Seq("decile"), "left")
      .withColumn("new_types", coalesce(col("nt"), lit(0L)))
      .withColumn("cum_vocab", sum("new_types").over(w))
      .select("decile", "n_tokens", "new_types", "cum_vocab")
  }

  /** Parquet path of the persisted REFERENCE bigram LM — pair counts
    * with the context total pre-joined (`code, n_ab, n_a`), trained on
    * the standing corpus (every doc except the `doc_id % 10 == 7` delta
    * slice). Pre-joining n_a at build time means daily scoring pays ONE
    * equi-join against the store instead of two — exactly what a
    * production LM artifact ships. Written once per (session, dir);
    * vocabulary-sized (distinct bigrams, not corpus rows). */
  def lmStore(s: SparkSession, dir: String): String =
    SessionScoped.store(s, dir, "lmStore") { d =>
      val out = s"$d/lm_store"
      val codes = tokenHashes(s, dir)
        .filter(col("doc_id") % 10 =!= 7)
        .select(explode(expr("graft_bigram_codes(th)")).as("code"))
      val cAb = codes.groupBy("code").agg(count(lit(1)).as("n_ab"))
      val ctx = cAb.groupBy(expr("code div 2147483648L").as("ctx"))
        .agg(sum("n_ab").as("n_a"))
      cAb.withColumn("ctx", expr("code div 2147483648L"))
        .join(ctx, "ctx")
        .select("code", "n_ab", "n_a")
        .write.mode("overwrite").parquet(out)
      out
    }

  /** Reference-LM scoring of an ingest delta — the CCNet deployment
    * shape proper: the bigram model is TRAINED on the standing corpus
    * ([[lmStore]], persisted at the corpus's own ingest time) and
    * APPLIED to today's `doc_id % 10 == 7` slice, so scoring cost
    * tracks the delta, not the archive (re-deriving [[tNgramLm]]'s
    * own-corpus statistics per ingest would re-scan the archive
    * daily). Out-of-vocabulary pairs — bigrams the reference never saw
    * — contribute 0 and are counted in `n_oov`, the distribution-shift
    * signal next to the score itself.
    *
    * Scale shape: the store scans map-only (vocabulary-sized, with its
    * context totals pre-joined); the delta's pair stream left-joins it
    * on the packed code (AQE-splittable) and rolls up per doc. No
    * window; nothing corpus-sized moves. */
  def tNgramLmRef(s: SparkSession, dir: String): DataFrame = {
    val store = s.read.parquet(lmStore(s, dir))
    val delta = tokenHashes(s, dir)
      .filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"), col("source"),
        explode(expr("graft_bigram_codes(th)")).as("code"))
    delta.join(store, Seq("code"), "left")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("n_ab").isNull, 1L).otherwise(0L)).as("n_oov"),
        expr("sum(coalesce(n_ab * 1000000L div n_a, 0L)) div count(1)")
          .as("lm_score"))
  }

  def tNovelty(s: SparkSession, dir: String): DataFrame = {
    // min-owner identity: "first seen in this doc" IS "this doc is the
    // shingle's min owner", so the per-doc novel count is a
    // vocabulary-to-doc rollup of the first-owner frame — the old
    // shingle-keyed join-back of the raw exploded stream (a corpus-
    // sized shuffle) is gone; n_shingles is a map-only array size
    // (graft_shingles already emits distinct hashes per doc).
    val nov = shingles(s, dir)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .groupBy("g").agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    shingles(s, dir)
      .select(col("doc_id"), size(col("sh")).cast(LongType).as("n_shingles"))
      .join(nov, Seq("doc_id"), "left")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast(DoubleType) /
          col("n_shingles").cast(DoubleType)).as("novelty"))
  }

  // ------------------------------------------------- embeddings similarity

  /** Corpus-scaled LSH bucket per vector: the low [[lshBandBits]] bits
    * of the memoized 40-plane signature (plane j of any width agrees
    * with the 8-plane `graft_lsh_bucket`, so at small corpora this IS
    * the historical bucket). Bucket count grows with n, so the
    * per-bucket candidate list — and with it per-QUERY probe work in
    * [[annLsh]]/[[annSq]] — stays ~constant as the corpus scales,
    * matching the batch near-dup path's banding rule. A cheap masked
    * projection over the cached [[sig40]] frame, not a second cache. */
  private def bucketed(s: SparkSession, dir: String): DataFrame = {
    val b = lshBandBits(embCount(s, dir))
    sig40(s, dir)
      .withColumn("bucket", col("sig").bitwiseAND(lit((1L << b) - 1)))
      .select("vec_id", "v", "bucket")
  }

  /** 40-plane LSH signature + memoized corpus count for the
    * corpus-scaled banded near-dup join below. */
  private[graft] def sig40(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "sig40") {
      tbl(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("sig", graft.functions.native.parameterized(s,
          es => graft.functions.native.LshSig(es.head, 40), col("v")))
        .cache()
    }
  private[graft] def embCount(s: SparkSession, dir: String): Long =
    SessionScoped.getOrBuild(s, dir, "embCount")(
      tbl(s, dir, "embeddings").count())

  /** Band width (bits) for a corpus of n vectors: the smallest B in
    * [8, 20] with 2^B >= ceil(n/64) — expected bucket size stays ~64 as
    * the corpus grows, so within-bucket pair work stays LINEAR in n
    * instead of n²/2^bits (a fixed 8-bit bucket was measured 142x at a
    * 100x scale-up — the quadratic regime). Pure integer derivation so
    * the DuckDB oracle computes the identical B (a float log2 could
    * round differently at power-of-two boundaries). */
  def lshBandBits(n: Long): Int = {
    val target = math.min((n + 63L) / 64L, 1L << 20)
    (8 to 20).find(b => (1L << b) >= target).get
  }

  /** Embedding-cosine near-dup candidates via corpus-scaled BANDED LSH:
    * a 40-plane signature split into floor(40/B) bands of B bits (B from
    * [[lshBandBits]] — EXPECTED bucket size ~constant at any corpus
    * size, more bands at small B keep recall). The exact-cosine verify
    * runs INSIDE the band join — the only shuffle is corpus×bands rows;
    * candidates stream through the codegen'd cosine kernel without ever
    * materializing, and the final distinct sees only the (tiny)
    * above-threshold output (the kernel is deterministic, so a pair
    * surfacing in two bands carries the identical cos). A
    * dedup-ids-first variant re-joining vectors onto the candidate set
    * measured 6x WORSE at 100x: it shuffles every candidate twice.
    *
    * HOT-BUCKET RESIDUE BLOCKING (the r9 factor-1000 finding): the
    * average-bucket rule bounds the MEAN, not the tail — real embedding
    * corpora are anisotropic/clustered, and the measured band-bucket
    * tail grew ~linearly with n (max bucket 6k at 200k vectors, 34k at
    * 2M — sig-IDENTICAL cohorts no bit of the signature can split), so
    * Σ bucket² reintroduced a quadratic: 330M candidate pairs at 200k
    * vectors, 10.6 BILLION at 2M (wall 45x for 10x rows). Fix: rank
    * each bucket's members by the registry's RNG-free multiplicative
    * hash and join on (key, rank % m) with m = ceil(bucket / 1024) —
    * buckets <= 1024 keep m = 1 and stay EXACT (the cap never binds at
    * oracle scale, and the rule itself is mirrored in the DuckDB twin,
    * so parity holds at every scale), oversized buckets degrade to a
    * deterministic 1/m pair sample with per-member work capped at ~1024
    * comparisons x bands. Measured: candidate pairs 10.6G -> 1.18G at
    * 2M vectors (9.4x for 10x rows — linear regime restored), max
    * sub-bucket 1024 (no straggler task). The miss set lives entirely
    * in buckets that are provably >95% non-dup anisotropy mass (sampled
    * hot-cohort cosine: mean 0.115, 5.4% above threshold). */
  def dEmbedNeardup(s: SparkSession, dir: String): DataFrame = {
    // rides the memoized residue-blocked band frame ([[ebBlocked]]):
    // both self-join sides read the cache, so the band explode + the
    // two per-key window passes run once per (session, dir) instead of
    // twice per invocation (the r13 plan shows two full
    // Generate→Window→Window chains, one per side)
    val eb = ebBlocked(s, dir, withLabel = false)
    eb.toDF("vec_a", "va", "key", "blk")
      .join(eb.toDF("vec_b", "vb", "key", "blk"), Seq("key", "blk"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", expr("graft_cosine(va, vb)"))
      .filter(col("cos") > 0.3)
      .select("vec_a", "vec_b", "cos")
      .distinct()
  }

  /** The residue-blocked band frame (vec_id, v, key, blk), plus `label`
    * when `withLabel`, shared by every banded self-join
    * ([[dEmbedNeardup]], [[bandedCandidates]] → emb_knn_graph, the
    * knnEdges riders, emb_hard_negatives and emb_triplet_mine),
    * memoized and cached per variant: each of those queries consumes it
    * from BOTH sides of a self-join, and un-cached the band explode plus
    * the two per-key window passes (rank + bucket count for residue
    * blocking) re-ran per side per invocation (the r14 before-plans
    * show two full Generate→Window→Window chains per query).
    * corpus×bands rows of (2 longs + the vector) — the same
    * session-memo class as [[sig40]] / [[tokenHashes]]; at fleet scale
    * this IS the banded index a deployment materializes once per
    * standing corpus. The label attach runs BEFORE the band explode —
    * n rows, one linear co-shuffle with the cached signature frame —
    * because joining it onto the exploded frame would move corpus×bands
    * rows instead of n. */
  private def ebBlocked(s: SparkSession, dir: String,
      withLabel: Boolean): DataFrame =
    memo(s, dir, if (withLabel) "ebCarry:label" else "ebBlocked") {
      val carry = if (withLabel) Seq(col("label")) else Nil
      val base =
        if (withLabel) sig40(s, dir).join(
          tbl(s, dir, "embeddings").select("vec_id", "label"), "vec_id")
        else sig40(s, dir)
      val b = lshBandBits(embCount(s, dir))
      val nb = 40 / b
      val keys = (0 until nb).map(k =>
        (lit(k.toLong << 21).bitwiseOR(
          shiftright(col("sig"), k * b).bitwiseAND(lit((1L << b) - 1))))
          .as(s"k$k"))
      val w = Window.partitionBy("key")
      base.select(col("vec_id") +: col("v") +: carry :+
          explode(array(keys: _*)).as("key"): _*)
        .withColumn("__h",
          expr("((vec_id % 1000003) * 2654435761) % 1000003"))
        .withColumn("__r", row_number().over(
            w.orderBy(col("__h"), col("vec_id"))).cast(LongType) - lit(1L))
        .withColumn("__bn", count(lit(1)).over(w))
        .withColumn("__m", expr("(__bn + 1023) div 1024"))
        .withColumn("blk", pmod(col("__r"), col("__m")))
        .select(Seq(col("vec_id"), col("v"), col("key"), col("blk")) ++
          carry: _*)
        .cache()
    }

  /** Approximate k-nearest-neighbor GRAPH over the corpus (k=4): every
    * vector's top cosine neighbors among the vectors sharing one of its
    * LSH bands — the foundation graph for graph-based curation
    * (SemDeDup-style cluster pruning, density scoring, diversity
    * sampling all consume exactly this artifact). Unlike the `ann_*`
    * family (a fixed QUERY set probing the corpus) this is corpus ×
    * corpus, which only scales because candidates come from the same
    * corpus-scaled banded LSH as [[dEmbedNeardup]] — expected bucket
    * ~64 at ANY corpus size, residue blocking capping the hot-cohort
    * tail, so candidate work stays linear in n.
    *
    * Plan shape — the candidates NEVER shuffle: the band self-join
    * streams pairs through the codegen'd cosine kernel straight into a
    * bounded [[graft.functions.TopKScored]] fold keyed by the vector.
    * Map-side partials collapse every task's candidate stream to ≤ 4
    * (cos, neighbor) pairs per vector BEFORE the exchange, and the
    * fold's SET semantics absorb multi-band duplicates (the same pair's
    * cosine is deterministic, so its key collides exactly) — no
    * DISTINCT pass, no rank window, no sort. The first formulation
    * (distinct + rank window) shuffled the full candidate set and
    * measured 188× at a 100× scale-up on replication-skewed vectors —
    * the same superlinear shape the r8 census caught in the old
    * near-dup bucket join; this fold is the bounded-state cure, the
    * aggregate analog of the hierarchical top-k argument (a pair in the
    * global top-4 is in the top-4 of every subset containing it). */
  def embKnnGraph(s: SparkSession, dir: String): DataFrame = {
    graft.functions.native.register(s)
    val cand = bandedCandidates(s, dir, withLabel = false)
    // inline-explode the direction mirror, NOT unionAll(cand, swap): a
    // union of two projections of the same frame re-executes the whole
    // banded candidate join twice (measured ~2x at the factor-1000
    // probe); inline emits both directed rows from one pass, map-only
    val both = cand.selectExpr(
      """inline(array(
        |  named_struct('g', vec_a, 'nb', vec_b, 'cos', cos),
        |  named_struct('g', vec_b, 'nb', vec_a, 'cos', cos)))"""
        .stripMargin)
    both
      .groupBy(col("g").as("vec_id"))
      .agg(expr("graft_topk_scored(cos, nb, 4)").as("nb"))
      .select(col("vec_id"), posexplode(col("nb")).as(Seq("__i", "e")))
      .select(col("vec_id"), (col("__i") + 1L).cast(LongType).as("rnk"),
        col("e.payload").as("n_id"), col("e.score").as("cos"))
  }

  /** Graph-density score per vector — mean cosine to its [[embKnnGraph]]
    * neighbors. The standard density signal for embedding-space
    * curation (SemDeDup prunes dense regions; SSL-prototype methods
    * keep them): a vector in a tight semantic cluster scores near its
    * neighbors' cosine, an isolated/outlier vector scores low or has no
    * edges at all.
    *
    * The mean is computed integer-exactly (Σ floor(cos·1e9 + 0.5) as a
    * BIGINT, divided once at the end): the per-edge cosines are already
    * bit-identical across engines, but a DOUBLE running sum could
    * associate differently — a 4-term sum is enough to drift an ulp.
    * Scale: one keyed aggregate over the ≤ 4·n edge rows. */
  def embDensity(s: SparkSession, dir: String): DataFrame =
    // rides the memoized [[knnEdges]] cache (the same rows embKnnGraph
    // emits, already materialized for pagerank/label-prop) instead of
    // re-running the banded candidate join + top-4 fold per invocation
    knnEdges(s, dir)
      .select(col("src").as("vec_id"), col("cos"))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_nbrs"),
        expr("sum(CAST(floor(cos * 1000000000.0 + 0.5) AS BIGINT))")
          .as("__s"))
      .select(col("vec_id"), col("n_nbrs"),
        (col("__s").cast(DoubleType) / lit(1e9) /
          col("n_nbrs").cast(DoubleType)).as("density"))

  /** Hard-negative mining — for every vector, the top-2 most-similar
    * vectors carrying a DIFFERENT label (the contrastive-training
    * primitive: anchors paired with near-miss negatives produce the
    * gradient signal easy random negatives cannot). Candidates come
    * from the same corpus-scaled banded LSH as [[embKnnGraph]] — the
    * label filter runs INSIDE the candidate stream (labels ride the
    * band frame via [[ebBlocked]], attached per vector BEFORE the band
    * explode, so the n-row label join is the only extra work) and the
    * per-anchor result is a bounded [[graft.functions.TopKScored]]
    * fold, so nothing corpus-sized ever shuffles. Vectors whose
    * candidate neighborhood is entirely same-label emit no rows — at
    * training time those anchors fall back to in-batch negatives. */
  def embHardNegatives(s: SparkSession, dir: String): DataFrame = {
    graft.functions.native.register(s)
    val cand = bandedCandidates(s, dir, withLabel = true)
      .filter(col("label_a") =!= col("label_b"))
    val both = cand.selectExpr(
      """inline(array(
        |  named_struct('g', vec_a, 'nb', vec_b, 'cos', cos),
        |  named_struct('g', vec_b, 'nb', vec_a, 'cos', cos)))"""
        .stripMargin)
    both
      .groupBy(col("g").as("vec_id"))
      .agg(expr("graft_topk_scored(cos, nb, 2)").as("nb"))
      .select(col("vec_id"), posexplode(col("nb")).as(Seq("__i", "e")))
      .select(col("vec_id"), (col("__i") + 1L).cast(LongType).as("rnk"),
        col("e.payload").as("neg_id"), col("e.score").as("cos"))
  }

  /** Triplet mining — (anchor, positive, negative) rows for contrastive
    * training: per anchor, the most-similar SAME-label candidate (the
    * positive) paired with the most-similar DIFFERENT-label candidate
    * (the hard negative), plus the cosine margin between them. Anchors
    * missing either side emit nothing (they fall back to in-batch pairs
    * at training time).
    *
    * Scale shape: ONE pass over the banded-LSH candidate stream — both
    * sides ride a single aggregation as two conditional
    * [[graft.functions.TopKScored]] folds (`CASE WHEN same`-masked
    * scores; the fold skips null scores), so the candidate stream
    * shuffles once and is never scanned twice. The margin subtracts two
    * bit-identical doubles, so it is itself engine-exact. */
  def embTripletMine(s: SparkSession, dir: String): DataFrame = {
    graft.functions.native.register(s)
    val both = bandedCandidates(s, dir, withLabel = true).selectExpr(
      """inline(array(
        |  named_struct('g', vec_a, 'nb', vec_b,
        |               'same', label_a = label_b, 'cos', cos),
        |  named_struct('g', vec_b, 'nb', vec_a,
        |               'same', label_a = label_b, 'cos', cos)))"""
        .stripMargin)
    both
      .groupBy(col("g").as("anchor_id"))
      .agg(
        expr("graft_topk_scored(CASE WHEN same THEN cos END, nb, 1)")
          .as("p"),
        expr("graft_topk_scored(CASE WHEN NOT same THEN cos END, nb, 1)")
          .as("n"))
      .filter(size(col("p")) > 0 && size(col("n")) > 0)
      .select(col("anchor_id"),
        col("p")(0).getField("payload").as("pos_id"),
        col("p")(0).getField("score").as("pos_cos"),
        col("n")(0).getField("payload").as("neg_id"),
        col("n")(0).getField("score").as("neg_cos"))
      .withColumn("margin", col("pos_cos") - col("neg_cos"))
  }

  /** The [[embKnnGraph]] edge list, memoized and cached: PageRank scans
    * it four times in one action (degree + three iterations), and the
    * banded candidate join is far too expensive to re-execute per
    * scan. ≤ 4·n rows of two longs — cache cost is bounded by the
    * corpus, not the candidate stream. */
  private def knnEdges(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "knnEdges") {
      embKnnGraph(s, dir)
        .select(col("vec_id").as("src"), col("n_id").as("dst"),
          col("cos"))
        .cache()
    }

  /** Mutual (reciprocal) kNN edges: the pairs where each endpoint is in
    * the OTHER's top-4 — the standard symmetrization step before
    * connected-components clustering over a kNN graph (one-directional
    * edges are dominated by hubs; mutual edges are the
    * high-precision subset). One left-semi self-join of the cached
    * ≤ 4·n edge list against its own reversal — linear, keyed on the
    * (src, dst) pair. */
  def embMutualKnn(s: SparkSession, dir: String): DataFrame = {
    val g = knnEdges(s, dir)
    val rev = g.select(col("dst").as("src"), col("src").as("dst"))
    g.join(rev, Seq("src", "dst"), "left_semi")
      .filter(col("src") < col("dst"))
      .select(col("src").as("vec_a"), col("dst").as("vec_b"), col("cos"))
  }

  /** Both directions of the mutual-kNN edge set, memoized and cached:
    * label propagation scans it once per round, and the reciprocal
    * semi-join should not replay per scan. ≤ 4·n rows of two longs. */
  private[graft] def mutualEdges(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "mutualEdges") {
      val g = knnEdges(s, dir)
      val rev = g.select(col("dst").as("src"), col("src").as("dst"))
      g.join(rev, Seq("src", "dst"), "left_semi")
        .select("src", "dst").cache()
    }

  /** Community detection by synchronous label propagation (Raghavan et
    * al. 2007) over the mutual-kNN graph — 3 rounds, each vertex
    * adopting the most frequent label among its neighbors (ties to the
    * LOWEST label; isolated vertices keep their own). The topic/near-dup
    * community map a curation pipeline slices corpora with — coarser
    * than [[dDedupClusters]]' connected components (which need an
    * explicit edge threshold), finer than the IVF partition.
    *
    * Synchronous rounds + min-label tie-break make the fixpoint prefix
    * deterministic under any partitioning, which is what lets a chained-
    * CTE oracle check it bit-for-bit — the classic ASYNC variant is
    * explicitly order-dependent and unverifiable. Scale shape per round:
    * one join of the label frame against the cached ≤ 4·n mutual edge
    * list (keyed on src), a (dst, label) count, a per-vertex argmax
    * (max of a (count, -label) struct — an agg, never a rank window),
    * and a left join back to the vertex universe — four linear keyed
    * shuffles, zero quadratic anything; a fleet run to convergence loops
    * the same rounds with localCheckpoint like [[embPagerank]]. */
  def embLabelProp(s: SparkSession, dir: String): DataFrame = {
    val edges = mutualEdges(s, dir)
    val universe = tbl(s, dir, "embeddings").select(col("vec_id"))
    val l0 = universe.withColumn("label", col("vec_id"))
    // localCheckpoint per round (the fleet-convergence form the scaladoc
    // names): `prev` is referenced TWICE per round (neighbor join +
    // label join-back), so an un-truncated fold doubles the plan subtree
    // every round — 8 copies of the base chain by round 3, re-planned
    // and re-executed wherever stage reuse misses. The checkpoint
    // materializes 2 longs/vertex per round and keeps every round's
    // plan three linear shuffles over the cached edge list.
    val l3 = (1 to 3).foldLeft(l0.localCheckpoint()) { (prev, _) =>
      val cnt = edges
        .join(prev.select(col("vec_id").as("src"), col("label")), "src")
        .groupBy(col("dst").as("vec_id"), col("label"))
        .agg(count(lit(1)).as("c"))
      val best = cnt.groupBy("vec_id")
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("vec_id"), (-col("m.nl")).as("newl"))
      val next = prev.join(best, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("newl"), col("label")).as("label"))
        .localCheckpoint()
      // next is materialized (eager), so the previous round's blocks are
      // dead — unpersist them instead of waiting for ContextCleaner GC
      // (repeated bench passes otherwise stack 4 checkpointed frames per
      // invocation in the block manager)
      unpersistCheckpoint(prev)
      next
    }
    val sizes = l3.groupBy("label").agg(count(lit(1)).as("n_members"))
    l3.join(sizes, "label").select("vec_id", "label", "n_members")
  }

  /** PageRank over the kNN graph (3 iterations, damping 0.85) — the
    * graph-centrality curation signal: a vector many neighborhoods
    * point AT sits in a representative region; periphery vectors decay
    * toward the teleport floor. Fixed iteration count keeps the query
    * oracle-expressible (chained CTEs); a fleet run loops the same two
    * shuffles per round with `localCheckpoint` like
    * [[dDedupClusters]]'s pointer jumping.
    *
    * Arithmetic is integer-exact at scale 1e12 (floor division in both
    * engines): rank mass starts at `1e12 div n` per node, each round
    * redistributes `85% · Σ inbound (pr div deg)` plus the teleport
    * `15% · 1e12 div n`, so every engine computes bit-identical BIGINT
    * ranks — a float PageRank would drift across sum orders. Per
    * iteration: one join of the (cached) ≤ 4·n edge list with the rank
    * frame on `src`, one keyed aggregate on `dst` — two linear
    * shuffles; the node universe (the degree frame) re-enters by left
    * join so zero-inbound nodes keep their teleport mass. The 1-row
    * count frame rides a broadcast cross join, never a collect. */
  def embPagerank(s: SparkSession, dir: String): DataFrame = {
    val edges = knnEdges(s, dir)
    // localCheckpoint: the degree frame re-enters every round (vertex
    // universe + per-edge deg divisor) and the 1-row count rides a
    // broadcast cross join per round — un-truncated, the single DAG
    // re-executed the degree aggregate and its count 4× each (r0 + 3
    // rounds). Checkpointing pins n rows of 2 longs + 1 scalar row.
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val nFrame = deg.agg(count(lit(1)).as("n")).localCheckpoint()
    val r0 = deg.crossJoin(broadcast(nFrame))
      .select(col("src").as("vec_id"), col("deg"), col("n"),
        expr("1000000000000L div n").as("pr"))
    val last = (1 to 3).foldLeft(r0) { (prev, _) =>
      val inSum = edges
        .join(prev.select(col("vec_id").as("src"), col("deg"), col("pr")),
          "src")
        .groupBy(col("dst").as("vec_id"))
        .agg(sum(expr("pr div deg")).as("insum"))
      deg.select(col("src").as("vec_id"), col("deg"))
        .join(inSum, Seq("vec_id"), "left")
        .crossJoin(broadcast(nFrame))
        .select(col("vec_id"), col("deg"), col("n"),
          (expr("150000000000L div n") +
            expr("(85L * coalesce(insum, 0L)) div 100L")).as("pr"))
    }
    last.select(col("vec_id"), col("deg").as("n_out"), col("pr"))
  }

  /** [[embKnnGraph]]'s candidate stream: the same corpus-scaled band
    * join (+ residue blocking) as [[dEmbedNeardup]], but WITHOUT the
    * near-dup cosine threshold (the kNN graph wants weak neighbors too)
    * and WITHOUT a distinct — multi-band duplicates are deduped inside
    * the consumer's bounded fold, so the raw pairs stream through
    * codegen without ever materializing or shuffling.
    *
    * `withLabel` carries the embedding-table `label` (for
    * [[embHardNegatives]] / [[embTripletMine]]) to BOTH endpoints as
    * `label_a`/`label_b`; both variants ride the memoized [[ebBlocked]]
    * frame, so the (much larger) candidate stream itself never picks up
    * an extra shuffle. */
  private def bandedCandidates(s: SparkSession, dir: String,
      withLabel: Boolean): DataFrame = {
    val eb = ebBlocked(s, dir, withLabel)
    val carry = if (withLabel) Seq("label") else Nil
    def side(sfx: String) = eb.select(
      col("vec_id").as(s"vec_$sfx") +: col("v").as(s"v$sfx") +:
        col("key") +: col("blk") +:
        carry.map(c => col(c).as(s"${c}_$sfx")): _*)
    side("a").join(side("b"), Seq("key", "blk"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", expr("graft_cosine(va, vb)"))
      .select(col("vec_a") +: col("vec_b") +: col("cos") +:
        carry.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
  }

  // params-carrying operators keep (SparkSession, String) entries in the
  // registry via defaults; ScaleSmoke sweeps non-default values

  /** Corpus-scaled coarse quantizer shared by [[dSemdedup]] and
    * [[annIvf]]: k lowest-id seed vectors with k = max(16, n/
    * [[PipelineParams.rowsPerCentroid]]), via
    * [[graft.ml.Embeddings.kmeansFit]] (iters
    * = 0 keeps the seed codebook — the deterministic, oracle-expressible
    * quantizer; a fleet run would pass iters > 0 for a trained one).
    * The count is one cheap parquet count-scan; the codebook is k·dims
    * floats of driver state, independent of corpus size. */
  private def corpusCentroids(s: SparkSession, dir: String,
      p: PipelineParams): DataFrame =
    memo(s, dir, s"corpusCent:${p.rowsPerCentroid}") {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val k = math.max(16L, e.count() / p.rowsPerCentroid).toInt
      graft.ml.Embeddings.kmeansFit(e, k, iters = 0)
        .select(col("cid"), col("cv")).cache()
    }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication" — public paper): cluster the embedding space, then
    * search for duplicate pairs WITHIN clusters only, so the quadratic
    * pair scan is bounded by cluster size instead of corpus size.
    * Assignment reuses the CORPUS-SCALED coarse quantizer
    * [[corpusCentroids]] (k ∝ n, cosine, ties to the lower cid — the
    * same rule as [[annIvf]] /
    * [[embKmeansIter]]); a vector is dropped when a lower-id vector in
    * its cluster is closer than [[PipelineParams.semTau]]. One verdict
    * row per vector,
    * like [[dDedupClusters]].
    *
    * Scale shape: assignment is a k-row broadcast cross join over a
    * linear scan (k = max(16, n/rowsPerCentroid) — driver-collected
    * codebook, constant-size state); the pair search is an equi-join
    * keyed by cluster —
    * blocked adaptively (see below) so even a hot cluster spreads its
    * quadratic scan across B(B+1)/2 shuffle keys, and at fleet scale k
    * grows with the corpus (the paper uses ~corpus_size/10k clusters)
    * so per-cluster work stays bounded. The assignment frame feeds both
    * self-join sides and the verdict join, so it is cached via [[memo]]
    * (one corpus scan + assignment pass, not three) — the same
    * persist-the-assignment step a fleet deployment would run. */
  def dSemdedup(s: SparkSession, dir: String,
      p: PipelineParams = PipelineParams.Default): DataFrame = {
    // nearest-centroid verdict = crn 1 of the shared cached IVF
    // assignment index — one corpus assignment pass feeds d_semdedup,
    // ann_ivf, AND ann_ivfpq (the fleet shape: the standing index is
    // computed once per corpus, every consumer filters it)
    val asn = ivfAssigned(s, dir, p).filter(col("crn") === 1)
      .select(col("vec_id"), col("embedding").as("v"), col("cid"))
    // Adaptive blocked self-join for the pair scan. A hot cluster is
    // COMPUTE-dense at tiny byte size (n² cosines over n rows), so AQE's
    // byte-based skew split never fires and one shuffle key would carry
    // the whole quadratic scan (measured 139x max/median task skew on
    // the half-corpus-hot smoke). Clusters above the threshold hash
    // their rows into B blocks; the pair scan becomes an equi-join on
    // ORDERED block pairs — the a side emits each row under keys
    // (blk, j) for j ≥ blk (its block as the LOW side), the b side
    // under (i, blk) for i ≤ blk (its block as the HIGH side) — so
    // every unordered row pair meets on exactly ONE of B(B+1)/2 keys
    // and no shuffle key carries more than ~(n/B)² cosines. Cross-block
    // pairs arrive in arbitrary id order, so the dropped vector is
    // greatest(ia, ib) and the ia<ib dedup applies only to same-block
    // keys. Small clusters keep nb = 1 (one key, zero replication); the
    // 4096 threshold caps an unblocked key at ~17M cosines (~1 s of one
    // core) — below it the fan-out costs more than the skew it
    // prevents. shuffle_hash, NOT broadcast: the assignment frame is
    // byte-small, so Spark would broadcast the build side, and a
    // broadcast join never partitions by the join key — the whole scan
    // would land back in however few partitions the probe side has
    // (measured: 6 tasks, 23 s max).
    val blocks = 16
    // The cluster-size frame is one row per cluster and k grows with the
    // corpus (k = max(16, n/rowsPerCentroid)), so the broadcast hint is
    // data-dependent and must ride the size gate like the ingest delta
    // and the label frame: at 100 TB (~1e10 vectors / 1e6 clusters) the
    // frame is ~16 MB and still hints; past the gate it joins as a keyed
    // shuffle on cid — the same exchange the pair scan needs anyway.
    // Counting it is one agg pass over the memo-cached assignment.
    val sizes = asn.groupBy("cid").agg(count(lit(1)).as("__cn"))
    val base = asn.join(gatedBroadcast(sizes, 16L), Seq("cid"))
      .withColumn("__nb",
        when(col("__cn") > 4096L, lit(blocks.toLong)).otherwise(lit(1L)))
      .withColumn("__blk",
        expr("pmod(((vec_id % 1000003) * 2654435761) % 1000003, __nb)"))
    val a = base
      .withColumn("__bj", explode(expr("sequence(__blk, __nb - 1)")))
      .select(col("cid"), col("__blk").as("__bi"), col("__bj"),
        col("vec_id").as("ia"), col("v").as("va"))
    val b = base
      .withColumn("__bi", explode(expr("sequence(0L, __blk)")))
      .select(col("cid"), col("__bi"), col("__blk").as("__bj"),
        col("vec_id").as("ib"), col("v").as("vb"))
    // explicit repartition on the join keys: AQE coalesces byte-small
    // shuffle partitions, which re-merges the block keys into a handful
    // of tasks (measured: the join stage ran 8 tasks at 32 shuffle
    // partitions). A user repartition with an explicit count is exempt
    // from coalescing, and the join reuses its partitioning directly.
    val nPart = s.sessionState.conf.numShufflePartitions
    val jk = Seq(col("cid"), col("__bi"), col("__bj"))
    val dropped = a.repartition(nPart, jk: _*).hint("shuffle_hash")
      .join(b.repartition(nPart, jk: _*).hint("shuffle_hash"),
        Seq("cid", "__bi", "__bj"))
      .filter((col("__bi") =!= col("__bj") || col("ia") < col("ib")) &&
        expr("graft_cosine(va, vb)") > lit(p.semTau))
      .select(greatest(col("ia"), col("ib")).as("vec_id")).distinct()
      .withColumn("__dropped", lit(true))
    asn.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").cast(LongType).as("cluster_id"),
        col("__dropped").isNull.as("is_kept"))
  }

  def annBruteforce(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 8).toDF("q_id", "qv")
    val cand = e.toDF("n_id", "nv")
    val scored = cand.crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", expr("graft_cosine(qv, nv)"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 5)
      .select("q_id", "rnk", "n_id", "cos")
  }

  /** Multi-probe expansion of a query frame's LSH bucket: the exact
    * bucket plus every bucket within Hamming distance 2 of it over the
    * corpus-scaled `bits`-wide space (1 + bits + bits·(bits−1)/2 probes
    * — 37 at the 8-bit floor, 211 at the 20-bit cap). A drift query
    * that sits on the far side of one or two hyperplanes from its true
    * neighbors (e.g. midway between two clusters) still reaches them
    * through the flipped-bit probes — single-bucket LSH measured ZERO
    * recall on the drift fixture. Query-side only: the corpus stays one
    * row per vector and the join stays an equi-join (probe rows ≤ 211×
    * queries, still a broadcast-size frame at any corpus scale). */
  private def multiProbe(df: DataFrame, bits: Int): DataFrame =
    df.withColumnRenamed("bucket", "__qb")
      .withColumn("bucket", explode(expr(
        s"concat(array(__qb), " +
          s"transform(sequence(0, ${bits - 1}), j -> __qb ^ shiftleft(1L, j)), " +
          s"flatten(transform(sequence(0, ${bits - 2}), j -> " +
          s"transform(sequence(j + 1, ${bits - 1}), k -> " +
          s"__qb ^ shiftleft(1L, j) ^ shiftleft(1L, k)))))")))
      .drop("__qb")

  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val e = bucketed(s, dir)
    val q = multiProbe(e.filter(col("vec_id") < 8).toDF("q_id", "qv", "bucket"),
      lshBandBits(embCount(s, dir)))
    val cand = e.toDF("n_id", "nv", "bucket")
    val scored = cand.join(broadcast(q), Seq("bucket"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", expr("graft_cosine(qv, nv)"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 5)
      .select("q_id", "rnk", "n_id", "cos")
  }

  /** IVF-style ANN (the second scale path next to [[annLsh]]): the
    * corpus-scaled coarse quantizer [[corpusCentroids]] (k = max(16,
    * n/[[PipelineParams.rowsPerCentroid]]) lowest-id seeds) partitions the corpus into
    * inverted lists; queries probe their 2 nearest centroids only. The
    * candidate join is keyed on the centroid id, so each query scores
    * ~n*nprobe/k candidates — and because k grows with n, per-list work
    * stays BOUNDED as the corpus grows; at 100 TB the inverted lists are
    * the partitioning (cluster-by cid on disk) and the k·dims centroid
    * table broadcasts. */
  /** Top-2 centroid ranking over the whole corpus (exact two-level
    * search — ~2√k scores per row, not k; ties to the lower cid),
    * cached per (session, dir): this IS the IVF assignment index, and
    * [[annIvf]] / [[annIvfPq]] consume it from both the lists and the
    * probes side — a fleet computes it once per standing corpus, not
    * once per query family. */
  private def ivfAssigned(s: SparkSession, dir: String,
      p: PipelineParams): DataFrame =
    memo(s, dir, s"ivfAssign:${p.rowsPerCentroid}") {
      val e = tbl(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .select("vec_id", "embedding")
      graft.ml.Embeddings.assignRanked(e, corpusCentroids(s, dir, p),
        maxRank = 2).cache()
    }

  /** Centroid-silhouette cluster quality — per IVF cluster, the mean
    * margin between each member's cosine to its OWN centroid and to
    * the runner-up centroid (the simplified silhouette every
    * clustering deployment monitors: margin near 0 means the cluster
    * boundary is ambiguous and the codebook under-fits there; compare
    * across retrains to decide k). Consumes the SAME session-cached
    * top-2 assignment as [[annIvf]]/[[dSemdedup]] — zero extra corpus
    * scans; the crn-1/crn-2 pivot is one conditional agg keyed on the
    * vector, the rollup one keyed agg on the cluster. The margin mean
    * folds integer-exactly (Σ floor(Δcos·1e9+0.5) BIGINT) because the
    * two cosines are individually bit-identical cross-engine and so is
    * their difference. */
  def embSilhouette(s: SparkSession, dir: String,
      p: PipelineParams = PipelineParams.Default): DataFrame = {
    val a = ivfAssigned(s, dir, p).filter(col("crn") <= 2)
    val m = a.groupBy("vec_id")
      .agg(max(when(col("crn") === 1, col("cid"))).as("cid"),
        max(when(col("crn") === 1, col("ccos"))).as("c1"),
        max(when(col("crn") === 2, col("ccos"))).as("c2"))
    m.groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"),
        sum(expr("CAST(floor((c1 - c2) * 1000000000.0 + 0.5) AS BIGINT)"))
          .as("__s"))
      .select(col("cid"), col("n_vecs"),
        (col("__s").cast(DoubleType) / lit(1e9) /
          col("n_vecs").cast(DoubleType)).as("margin"))
  }

  /** Embedding drift monitor as a QUERY — the query-level face of
    * ml.Similarity's index drift telemetry: per label, the cosine
    * between the centroid of the even-id half and the odd-id half of
    * the corpus (the standard two-sample drift check; id parity stands
    * in for the before/after split a fleet keys on ingest time). A
    * drift_cos near 1 means the halves agree; a label whose halves
    * diverge is the one whose downstream index/codebook needs a
    * retrain.
    *
    * Exactness: centroid cosine == cosine of the per-dim INTEGER sums
    * (scale cancels), so everything is exact until three final double
    * casts — Σq per (label, half, dim) as BIGINT, the dim-fold of
    * products as DECIMAL(38,0) (HUGEINT in the oracle; at 10⁶
    * vectors/label the products reach ~10²⁰, past a long).
    *
    * Scale shape: one posexplode scan → (label, dim) aggregate
    * (map-side combine, |labels|·dims rows) → |labels|-row fold + a
    * |labels|-row count join. Vectors never shuffle; the event stream
    * is scanned once. */
  def embDrift(s: SparkSession, dir: String): DataFrame = {
    val q = tbl(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast(LongType).as("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        (col("vec_id") % 2).as("half"),
        expr("CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)")
          .as("qv"))
    val sums = q.groupBy("label", "dim")
      .agg(sum(when(col("half") === 0L, col("qv")).otherwise(0L)).as("s0"),
        sum(when(col("half") === 1L, col("qv")).otherwise(0L)).as("s1"))
    val folded = sums.groupBy("label")
      .agg(
        sum(col("s0").cast(DecimalType(38, 0)) *
          col("s1").cast(DecimalType(38, 0))).as("dot"),
        sum(col("s0").cast(DecimalType(38, 0)) *
          col("s0").cast(DecimalType(38, 0))).as("s0sq"),
        sum(col("s1").cast(DecimalType(38, 0)) *
          col("s1").cast(DecimalType(38, 0))).as("s1sq"))
    val counts = tbl(s, dir, "embeddings")
      .groupBy(col("label").cast(LongType).as("label"))
      .agg(sum(when(col("vec_id") % 2 === 0L, 1L).otherwise(0L))
          .as("n_even"),
        sum(when(col("vec_id") % 2 === 1L, 1L).otherwise(0L)).as("n_odd"))
    folded.join(counts, "label")
      .select(col("label"), col("n_even"), col("n_odd"),
        (col("dot").cast(DoubleType) /
          (sqrt(col("s0sq").cast(DoubleType)) *
            sqrt(col("s1sq").cast(DoubleType)))).as("drift_cos"))
  }

  /** Greedy k-center (farthest-point) diversity sampling, k = 4 — the
    * coreset-selection primitive behind "pick maximally diverse
    * exemplars" curation (Gonzalez 1985's 2-approximation; the FPS
    * seeding of k-means++ without the RNG). Seed = lowest vec_id;
    * each round adds the vector FARTHEST (cosine distance) from the
    * chosen set, ties to the lower id. Structurally k linear corpus
    * scans, each against a ≤ k-row broadcast of the chosen centers —
    * argmax is a (distance, −id) struct MAX aggregate, never a sort;
    * each pick is localCheckpoint-truncated so round j does not replay
    * rounds < j. Every emitted distance is a min over exact
    * graft_cosine doubles, so the chained-CTE oracle reproduces the
    * selection bit-for-bit. */
  def embKcenter(s: SparkSession, dir: String): DataFrame = {
    graft.functions.native.register(s)
    val e = tbl(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
    val seed = e.orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("v"), lit(0.0d).as("d"))
      .localCheckpoint()
    val picks = scala.collection.mutable.ArrayBuffer(seed)
    for (_ <- 2 to 4) {
      val chosen = picks.reduce(_ unionByName _).select(col("v").as("cv"))
      val dmin = e.crossJoin(broadcast(chosen))
        .withColumn("__d", lit(1.0d) - expr("graft_cosine(v, cv)"))
        .groupBy("vec_id").agg(min(col("__d")).as("d"))
      val pick = dmin
        .agg(max(struct(col("d"), (-col("vec_id")).as("nid"))).as("m"))
        .select((-col("m.nid")).as("vec_id"), col("m.d").as("d"))
      picks += pick.join(e, "vec_id")
        .select(col("vec_id"), col("v"), col("d"))
        .localCheckpoint()
    }
    picks.zipWithIndex.map { case (p, i) =>
      p.select(lit((i + 1).toLong).as("rnk"), col("vec_id"),
        col("d").as("d_min"))
    }.reduce(_ unionByName _)
  }

  /** Inverted-list health telemetry for the IVF index — per centroid:
    * member count, corpus share, occupancy lift vs a uniform spread
    * (the skew number that decides when to retrain or split a list; a
    * dead list shows up as n_vecs = 0, a hot list as lift >> 1), and
    * the mean member-to-centroid cosine (list coherence). The ops
    * query every vector-store deployment watches between
    * [[graft.ml.Similarity]] retrains.
    *
    * Consumes the SAME session-cached top-2 assignment as [[annIvf]] /
    * [[embSilhouette]] — zero extra corpus scans; empty lists re-enter
    * by left join from the k-row centroid frame. The cosine mean folds
    * integer-exactly (Σ floor(ccos·1e9+0.5) BIGINT); share and lift
    * divide exact integers once in double (lift's cross product in
    * DECIMAL(38,0)/HUGEINT — n_vecs·k overflows a long at fleet
    * scale). */
  def annStats(s: SparkSession, dir: String,
      p: PipelineParams = PipelineParams.Default): DataFrame = {
    val d38 = DecimalType(38, 0)
    val per = ivfAssigned(s, dir, p).filter(col("crn") === 1)
      .groupBy("cid")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(floor(ccos * 1000000000.0 + 0.5) AS BIGINT)"))
          .as("__sc"))
    val cents = corpusCentroids(s, dir, p).select("cid")
    val full = cents.join(per, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("n"), lit(0L)).as("n_vecs"),
        col("__sc"))
    val tot = full.agg(sum("n_vecs").as("nn"), count(lit(1)).as("k"))
    full.crossJoin(broadcast(tot))
      .select(col("cid"), col("n_vecs"),
        (col("n_vecs").cast(DoubleType) / col("nn").cast(DoubleType))
          .as("share"),
        ((col("n_vecs").cast(d38) * col("k").cast(d38)).cast(DoubleType) /
          col("nn").cast(DoubleType)).as("lift"),
        (col("__sc").cast(DoubleType) / lit(1e9) /
          col("n_vecs").cast(DoubleType)).as("avg_ccos"))
  }

  def annIvf(s: SparkSession, dir: String,
      p: PipelineParams = PipelineParams.Default): DataFrame = {
    val assigned = ivfAssigned(s, dir, p)
    val lists = assigned.filter(col("crn") === 1)
      .select(col("vec_id").as("n_id"), col("embedding").as("nv"), col("cid"))
    val probes = assigned.filter(col("vec_id") < 8 && col("crn") <= 2)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"), col("cid"))
    val scored = lists.join(broadcast(probes), Seq("cid"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", expr("graft_cosine(qv, nv)"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 5)
      .select("q_id", "rnk", "n_id", "cos")
  }

  /** Range (radius) vector search — ALL probed neighbors above a cosine
    * threshold, not a fixed top-k: the dedup/recall-sweep form of the
    * query ("everything within distance τ"), where the result size is
    * data-dependent. Structurally it is [[annIvf]] WITHOUT the rank
    * window — the plan's whole tail is a filter on the scored candidate
    * stream, so range search is strictly cheaper than top-k (no
    * per-query ordering state at all); work still scales with probed
    * lists, not the corpus. */
  def annRange(s: SparkSession, dir: String,
      p: PipelineParams = PipelineParams.Default): DataFrame = {
    graft.functions.native.register(s)
    val assigned = ivfAssigned(s, dir, p)
    val lists = assigned.filter(col("crn") === 1)
      .select(col("vec_id").as("n_id"), col("embedding").as("nv"),
        col("cid"))
    val probes = assigned.filter(col("vec_id") < 8 && col("crn") <= 2)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("cid"))
    lists.join(broadcast(probes), Seq("cid"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", expr("graft_cosine(qv, nv)"))
      .filter(col("cos") > 0.2d)
      .select("q_id", "n_id", "cos")
  }

  /** Filtered vector search — top-5 probed neighbors UNDER A METADATA
    * PREDICATE (same label as the query): the "similar items in this
    * category" query every production vector store serves, and the
    * classic pre-filter-vs-post-filter design point. This is the
    * PRE-filter form: the label rides the list rows, so the predicate
    * prunes inside the probed lists BEFORE any cosine is scored —
    * post-filtering an unfiltered top-k undershoots k whenever the
    * matching fraction is small (with ~5 labels, an unfiltered top-5
    * leaves ~1 qualifying row; the spec-visible symptom would be
    * near-empty results).
    *
    * Scale shape: reuses the session-cached IVF assignment; the label
    * attach is an n-row co-keyed join here because the testdata keeps
    * metadata in the embeddings table — a standing index STORES the
    * label in the list rows (ml.Similarity's lists.parquet pattern), so
    * the fleet path is pure probed-list scan + predicate + bounded rank,
    * work scaling with queries, not corpus. */
  def annFiltered(s: SparkSession, dir: String,
      p: PipelineParams = PipelineParams.Default): DataFrame = {
    graft.functions.native.register(s)
    val labels = tbl(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val assigned = ivfAssigned(s, dir, p)
    val lists = assigned.filter(col("crn") === 1)
      .select(col("vec_id").as("n_id"), col("embedding").as("nv"),
        col("cid"))
      .join(labels.toDF("n_id", "n_label"), "n_id")
    val probes = assigned.filter(col("vec_id") < 8 && col("crn") <= 2)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("cid"))
      .join(labels.toDF("q_id", "q_label"), "q_id")
    val scored = lists.join(broadcast(probes), Seq("cid"))
      .filter(col("n_id") =!= col("q_id") &&
        col("n_label") === col("q_label"))
      .withColumn("cos", expr("graft_cosine(qv, nv)"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("n_id"),
        col("n_label").as("label"), col("cos"))
  }

  /** Hybrid retrieval — the text+vector reranker every modern curation /
    * retrieval stack runs: IVF-probed vector candidates rescored by
    * cos(query, candidate) + Jaccard(query tokens, candidate tokens),
    * top-5 per query. Lexical overlap rescues near-misses the embedding
    * alone ranks poorly and vice versa; the candidate set still comes
    * from the index, so the expensive text comparison only ever touches
    * probed-list rows.
    *
    * Scale shape: reuses the session-cached IVF assignment (shared with
    * [[annIvf]]/[[dSemdedup]]/[[embKmeansIter]]) and the cached token
    * frame; candidates = probed lists only (work scales with queries,
    * not corpus), the per-candidate Jaccard is two set ops on
    * already-distinct token arrays, and both score components are
    * engine-deterministic (the cosine kernel + integer set sizes), so
    * the blended DOUBLE rank cross-checks bit-for-bit. */
  def annHybrid(s: SparkSession, dir: String,
      p: PipelineParams = PipelineParams.Default): DataFrame = {
    val assigned = ivfAssigned(s, dir, p)
    val ts = tokenHashes(s, dir)
      .select(col("doc_id"), expr("array_distinct(th)").as("tset"))
    val lists = assigned.filter(col("crn") === 1)
      .select(col("vec_id").as("n_id"), col("embedding").as("nv"),
        col("cid"))
      .join(ts.select(col("doc_id").as("n_id"), col("tset").as("nts")),
        "n_id")
    val probes = assigned.filter(col("vec_id") < 8 && col("crn") <= 2)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("cid"))
      .join(ts.select(col("doc_id").as("q_id"), col("tset").as("qts")),
        "q_id")
    val scored = lists.join(broadcast(probes), Seq("cid"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", expr("graft_cosine(qv, nv)"))
      .withColumn("jac", expr(
        "CAST(size(array_intersect(qts, nts)) AS DOUBLE) / " +
          "CAST(size(array_union(qts, nts)) AS DOUBLE)"))
      .withColumn("score", col("cos") + col("jac"))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc,
      col("n_id"))
    scored.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 5)
      .select("q_id", "rnk", "n_id", "cos", "jac", "score")
  }

  /** Scalar-quantized ANN (the compression path next to [[annLsh]] /
    * [[annIvf]]): vectors are quantized to int codes (per-dimension
    * min/max → 0..255), candidates come from the same LSH buckets, and
    * scoring is an integer dot product over the codes — 4× less memory
    * bandwidth than float32 and exact integer arithmetic that
    * hash-matches the oracle bit-for-bit. The per-dim stats frame is one
    * 64-row aggregate broadcast to the quantization map; at 100 TB codes
    * live alongside the raw vectors and queries touch only codes. */
  /** Int codes per vector (cached: the scoring self-join consumes it from
    * both sides, and at scale the codes ARE the stored index). */
  private def sqCodes(s: SparkSession, dir: String): DataFrame =
      memo(s, dir, "sqCodes") {
    val e = bucketed(s, dir)
    val dims = e.select(posexplode(col("v")).as(Seq("p", "x")))
      .groupBy("p")
      .agg(min(col("x").cast(DoubleType)).as("mn"),
        max(col("x").cast(DoubleType)).as("mx"))
    val stats = dims.agg(
      expr("transform(array_sort(collect_list(struct(p, mn))), y -> y.mn)")
        .as("mns"),
      expr("transform(array_sort(collect_list(struct(p, mx))), y -> y.mx)")
        .as("mxs"))
    // floor, not round: round's half-way rule differs between engines
    // (HALF_UP vs half-even); floor is identical everywhere. graft_sq64
    // is the codegen'd one-pass kernel for code + deq + cnorm (the three
    // interpreted 64-lane HOFs it replaces ran ~192 lambda frames per
    // row; double-op order identical — NativeExpressionsSpec pins it).
    // Scoring must run against the DEQUANTIZED reconstruction, not the
    // raw codes: code ≈ (x - min) * s, and dot products of min-shifted
    // vectors are not monotone in the original dot product. The
    // reconstruction needs only the code plus the 64-entry min/max
    // table, so at scale the codes remain the stored index (4× less
    // bandwidth) and dequantization happens at scan time.
    e.crossJoin(broadcast(stats))
      // single Generate evaluation of the struct-returning kernel (the
      // CollapseProject re-eval trap — see pqCoded)
      .select(col("vec_id") +: col("bucket") +:
        explode(array(expr("graft_sq64(v, mns, mxs)"))).as("__sq") +: Nil: _*)
      .select(col("vec_id"), col("__sq.code").as("code"),
        col("__sq.deq").as("deq"), col("__sq.cnorm").as("cnorm"),
        col("bucket"))
      .cache()
  }

  def annSq(s: SparkSession, dir: String): DataFrame = {
    val codes = sqCodes(s, dir)
    val q = multiProbe(codes.toDF("q_id", "qc", "qd", "qn", "bucket")
      .filter(col("q_id") < 8), lshBandBits(embCount(s, dir)))
    val cand = codes.toDF("n_id", "nc", "nd", "nn", "bucket")
    val scored = cand.join(broadcast(q), Seq("bucket"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("score", expr(
        s"""CASE WHEN qn * nn = 0.0D THEN 0.0D
           |ELSE ${PV.dotSpark("qd", "nd")} / (qn * nn) END""".stripMargin))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("n_id"))
    scored.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 5)
      .select("q_id", "rnk", "n_id", "score")
  }

  /** Product-quantized ANN (the second compression path next to
    * [[annSq]], after Jegou et al. 2011, "Product Quantization for
    * Nearest Neighbor Search" — public paper): the 64-dim space splits
    * into m = 8 subspaces of 8 dims; each subspace gets its own
    * 16-entry codebook (here the 16 lowest-id vectors' sub-slices — the
    * same deterministic seed rule as [[corpusCentroids]]; a fleet run
    * trains each with per-subspace Lloyd's), and a vector stores ONE
    * CODE PER SUBSPACE: 8 nibbles + a precomputed reconstruction norm
    * instead of 256 float bytes. Scoring is the paper's asymmetric
    * distance computation: per query one 8×16 dot-product lookup table
    * against the codebook, then each candidate costs m = 8 table
    * lookups + adds — no per-candidate float-vector math at all.
    *
    * Scale shape: the codebook is one broadcast row (16×64 floats), the
    * encode pass is map-only over the corpus scan, and scoring joins
    * the (code, rnorm) scan — the stored index; raw vectors are never
    * read after encode — against the broadcast per-query LUTs, ending
    * in the same WindowGroupLimit-bounded rank window as the other ANN
    * paths. All arithmetic is fixed-order double folds, so the DuckDB
    * oracle hash-matches bit-for-bit (SURVEY §3). */
  /** The query-side ADC lookup table over column `v` via the native
    * [[graft.functions.PqLutBuildExpr]] kernel (m = 8 subspaces ×
    * 8 dims, ks = 16 codes) — shared by [[annPq]] / [[annRerank]] /
    * [[annIvfPq]] so every path scores with the identical deterministic
    * arithmetic their DuckDB oracles mirror (the kernel replays the
    * HOF-twin's fold order bit-for-bit; NativeExpressionsSpec pins it).
    * Query-count-sized work, but the interpreted HOF dragged the whole
    * query-frame projection out of whole-stage codegen — the last
    * CodegenFallback node in these plans. (The corpus-side ENCODE runs
    * through the native [[graft.functions.PqCodec]] kernel for the same
    * reason: ~1k interpreted lambda frames per row made the encode the
    * 100×-scale bottleneck.) */
  private def pqLut(s: SparkSession,
      cb: Array[Array[Array[Float]]]): org.apache.spark.sql.Column = {
    val codec = new graft.functions.PqCodec(cb, withNorm = false)
    graft.functions.native.parameterized(s,
      es => graft.functions.PqLutBuildExpr(es.head, codec), col("v"))
  }
  /** The per-candidate ADC score via the native
    * [[graft.functions.PqAdc]] lookup-sum kernel (bit-parity with the
    * oracle's HOF fold — same lookups, same order — pinned in
    * NativeExpressionsSpec; zero-guard + divide stay scalar SQL): the
    * flat path scores corpus×queries candidates, so the fold must not
    * cost ~m interpreted lambda frames per row. */
  private def pqAdcScore(s: SparkSession): org.apache.spark.sql.Column = {
    val ls = graft.functions.native.parameterized(s,
      es => graft.functions.PqLutSumExpr(es(0), es(1), 8, 16),
      col("lut"), col("code"))
    when(col("qn") * col("rnorm") === lit(0.0d), lit(0.0d))
      .otherwise(ls / (col("qn") * col("rnorm")))
  }

  /** The 16-lowest-id-vector PQ codebook, collected driver-side
    * (model-sized: 16×64 floats — the same contract as
    * [[corpusCentroids]]' collected codebook) — deterministic seed rule
    * shared by [[annPq]] / [[annRerank]] / [[annIvfPq]], in the m×ks×sub
    * kernel layout. Memoized per (session, dir) like [[embCount]]:
    * three queries × three bench passes each re-ran the (pruned, but
    * still job-launching) collect for the identical 4 KB of driver
    * state. */
  private def pqCodebookArr(s: SparkSession,
      dir: String): Array[Array[Array[Float]]] =
    SessionScoped.getOrBuild(s, dir, "pqCodebook") {
      val seeds = tbl(s, dir, "embeddings")
        .filter(col("vec_id") < 16).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      require(seeds.length == 16, s"corpus has ${seeds.length} vectors < 16")
      Array.tabulate(8, 16)((si, c) => seeds(c).slice(si * 8, (si + 1) * 8))
    }

  /** PQ-encode a (vec_id, v, ...) frame with the native kernel: per
    * subspace 16 L2 distances -> 1-based argmin (FIRST minimum: ties to
    * the lower code, identically in DuckDB's list_position), then the
    * reconstruction norm from the chosen centroids. Map-only, inside
    * whole-stage codegen; bit-parity with the HOF-SQL fold pinned in
    * NativeExpressionsSpec. */
  private def pqCoded(e: DataFrame,
      cb: Array[Array[Array[Float]]]): DataFrame = {
    val codec = new graft.functions.PqCodec(cb, withNorm = true)
    val enc = graft.functions.native.parameterized(e.sparkSession,
      es => graft.functions.PqEncodeExpr(es.head, codec),
      col("v"))
    val keep = e.columns.map(c => col(s"`$c`"))
    // single Generate evaluation (the CollapseProject re-eval trap —
    // see Embeddings.pqEncode)
    e.select(keep :+ explode(array(enc)).as("__pq"): _*)
      .withColumn("code", col("__pq.code"))
      .withColumn("rnorm", col("__pq.rnorm"))
      .drop("__pq")
  }

  def annPq(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding").as("v"))
    val cb = pqCodebookArr(s, dir)
    val coded = pqCoded(e, cb).select("vec_id", "v", "code", "rnorm")
    // queries keep their RAW vector (asymmetric: only the corpus side is
    // quantized) — one 128-entry LUT each, broadcast to the code scan
    val q = coded.filter(col("vec_id") < 8)
      .withColumn("lut", pqLut(s, cb))
      .withColumn("qn", expr(PV.normSpark("v")))
      .select(col("vec_id").as("q_id"), col("lut"), col("qn"))
    val scored = coded
      .select(col("vec_id").as("n_id"), col("code"), col("rnorm"))
      .crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("score", pqAdcScore(s))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("n_id"))
    scored.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 5)
      .select("q_id", "rnk", "n_id", "score")
  }

  /** Two-stage retrieval: PQ-ADC shortlist, exact rerank — the canonical
    * production ANN layout (FAISS refine / "rerank with raw vectors"):
    * stage 1 scores every candidate against the 32x-compressed codes via
    * the ADC LUT (cheap, approximate), keeps a top-32 shortlist per
    * query; stage 2 reads the RAW vectors for the shortlist rows only
    * and reranks by exact cosine. Recovers the exactness PQ quantization
    * loses while touching only queries x 32 raw vectors after the
    * compressed scan — at 100 TB the raw-vector fetch is a
    * broadcast-shortlist join against the vector store, never a second
    * corpus scan.
    *
    * Scale shape: identical compressed scan to [[annPq]] (map-only
    * encode, per-query LUT broadcast, WindowGroupLimit-bounded rank);
    * the rerank joins e (corpus) against a BROADCAST shortlist
    * (queries x 32 ids) then the broadcast raw-query frame — both
    * model-sized. Exact-cosine rerank arithmetic is the shared kernel,
    * so the oracle hash-matches bit-for-bit. */
  def annRerank(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding").as("v"))
    val cb = pqCodebookArr(s, dir)
    val coded = pqCoded(e, cb).select("vec_id", "v", "code", "rnorm")
    val qRaw = coded.filter(col("vec_id") < 8)
      .withColumn("lut", pqLut(s, cb))
      .withColumn("qn", expr(PV.normSpark("v")))
    val q = qRaw.select(col("vec_id").as("q_id"), col("lut"), col("qn"))
    val scored = coded
      .select(col("vec_id").as("n_id"), col("code"), col("rnorm"))
      .crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("score", pqAdcScore(s))
    val ws = Window.partitionBy("q_id").orderBy(col("score").desc, col("n_id"))
    val shortlist = scored.withColumn("srnk", row_number().over(ws))
      .filter(col("srnk") <= 32)
      .select("q_id", "n_id")
    val reranked = e.toDF("n_id", "nv")
      .join(broadcast(shortlist), Seq("n_id"))
      .join(broadcast(qRaw.select(col("vec_id").as("q_id"), col("v").as("qv"))),
        Seq("q_id"))
      .withColumn("cos", expr("graft_cosine(qv, nv)"))
    val wr = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    reranked.withColumn("rnk", row_number().over(wr).cast(LongType))
      .filter(col("rnk") <= 5)
      .select("q_id", "rnk", "n_id", "cos")
  }

  /** Index-quality evaluation inside the engine: recall@5 of the IVF
    * probed search ([[annIvf]]) against the exact brute-force ground
    * truth ([[annBruteforce]]) on the shared query set — the metric an
    * ANN deployment is actually accepted by, computed as a first-class
    * query so eval rides the same session-cached assignment the index
    * itself uses. Integer outputs (hit counts), exact cross-engine.
    *
    * Scale shape: ground truth costs queries x corpus ONCE per eval
    * (bounded by the query sample, not corpus growth); the hit
    * comparison is a left-semi join between two query-sized top-k
    * frames. */
  def embRecallEval(s: SparkSession, dir: String): DataFrame = {
    val exact = annBruteforce(s, dir).select(col("q_id"), col("n_id"))
    val hits = exact.join(annIvf(s, dir).select(col("q_id"), col("n_id")),
        Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** Scalar-quantization reconstruction-error report — the compression
    * telemetry next to [[embRecallEval]]'s recall: per label, the mean
    * absolute per-component residual between each vector and its SQ
    * dequantization ([[annSq]]'s own cached codes — this consumes the
    * index as built, so the report measures what search actually
    * scores). Residuals quantize to e9 integers with the shared
    * floor(+0.5) rule, fold exactly, and divide once at emission — the
    * whole comparison is bit-exact cross-engine. One keyed join of the
    * cached code frame to the corpus and one grouped aggregate. */
  def embQuantizeError(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast(LongType).as("label"),
        col("embedding"))
    // graft_sq_abserr_e9: the codegen'd residual fold (identical double
    // ops/order to the aggregate-HOF twin — NativeExpressionsSpec)
    e.join(sqCodes(s, dir).select("vec_id", "deq"), Seq("vec_id"))
      .withColumn("__err", expr("graft_sq_abserr_e9(embedding, deq)"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum("__err").as("err_e9"))
      .select(col("label"), col("n_vecs"), col("err_e9"),
        (col("err_e9").cast(DoubleType) /
          (col("n_vecs") * 64L).cast(DoubleType) / lit(1e9))
          .as("mae"))
  }

  /** IVF-PQ approximate top-k — the composition of [[annIvf]]'s probe
    * pruning with [[annPq]]'s compressed ADC scoring, i.e. the canonical
    * billion-scale ANN index layout (FAISS `IndexIVFPQ` with
    * `by_residual = false`; Jegou et al. 2011 §V): the corpus is
    * assigned to inverted lists by the corpus-scaled coarse quantizer
    * (k ∝ n, exact two-level indexed search, ties to the lower cid),
    * each vector stores only (cid, code, rnorm) — 8 PQ codes + one
    * norm instead of 64 floats — and a query (a) probes its nprobe = 2
    * nearest lists and (b) scores ONLY those lists' codes via its
    * 8×16 dot-product LUT: candidate cost = 8 lookups + adds over the
    * probed fraction of the compressed index.
    *
    * Scale shape: both reductions compound — IVF cuts the scanned rows
    * to nprobe/k of the corpus, PQ cuts the bytes per scanned row ~32×
    * and removes per-candidate float math; raw vectors are never read
    * after the encode pass. The probe set and the per-query LUTs are
    * model-sized broadcasts; the only corpus-sized flows are the
    * assignment scan, the map-only encode, and the cid equi-join, which
    * ends in the same WindowGroupLimit-bounded rank window as the other
    * ANN paths. All arithmetic is fixed-order double folds shared with
    * [[annPq]], so the DuckDB oracle hash-matches bit-for-bit. */
  def annIvfPq(s: SparkSession, dir: String,
      p: PipelineParams = PipelineParams.Default): DataFrame = {
    val e = tbl(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism)
      .select("vec_id", "embedding")
    // IVF side: the shared cached assignment index (crn = 1 is the
    // owning list, queries probe crn <= 2)
    val assigned = ivfAssigned(s, dir, p)
    val lists = assigned.filter(col("crn") === 1)
      .select(col("vec_id"), col("embedding").as("v"), col("cid"))
    // PQ side: encode each list member with the native kernel — the
    // stored index is (cid, vec_id, code, rnorm), never raw vectors
    val cb = pqCodebookArr(s, dir)
    val index = pqCoded(lists, cb)
      .select(col("cid"), col("vec_id").as("n_id"), col("code"),
        col("rnorm"))
    // queries: raw-vector LUT + norm, replicated per probed cid (tiny:
    // queries × nprobe rows), broadcast to the pruned code scan
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("v"))
      .withColumn("lut", pqLut(s, cb))
      .withColumn("qn", expr(PV.normSpark("v")))
      .select(col("q_id"), col("lut"), col("qn"))
    val probes = assigned.filter(col("vec_id") < 8 && col("crn") <= 2)
      .select(col("vec_id").as("q_id"), col("cid"))
      .join(q, Seq("q_id"))
    val scored = index.join(broadcast(probes), Seq("cid"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("score", pqAdcScore(s))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("n_id"))
    scored.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 5)
      .select("q_id", "rnk", "n_id", "score")
  }

  /** Per-label centroid vectors — the estimation step of k-means / IVF
    * codebook training, as one relational pass: explode (label, dim, x),
    * sum per (label, dim) in DECIMAL (order-independent, so partial
    * aggregation across any partitioning is exact and engine-portable),
    * divide by the count once in double. Output is scalar rows
    * (label, dim, centroid) — labels*dims rows regardless of corpus
    * size, and the shuffle carries one partial sum per (label, dim,
    * partition), never vectors. Parity route: floor-quantize each
    * component to 1e-4 as a BIGINT (float->double is exact; the double
    * multiply and floor are deterministic IEEE ops identical in both
    * engines — decimal PARSE rounding of full-precision doubles is NOT,
    * which rules out the string->DECIMAL path here), sum integers
    * exactly, divide once in double. */
  /** One Lloyd's iteration of k-means over the embeddings — the codebook
    * TRAINING step behind [[annIvf]]'s coarse quantizer: assign every
    * vector to its nearest seed centroid (the corpus-scaled
    * [[corpusCentroids]] codebook — k ∝ n lowest-id vectors, cosine,
    * ties to the lower cid — the same deterministic rule
    * ann_ivf probes with), then recompute each centroid as the member
    * mean per (cid, dim) with [[embCentroids]]'s floor-quantized exact
    * BIGINT partial sums. Scale shape: a k-row broadcast cross join
    * for assignment (linear scan, whole-stage codegen) and one keyed
    * aggregate whose shuffle carries a BIGINT partial per
    * (cid, dim, partition) — never vectors; iterate by feeding the
    * output back as the next seed table. */
  def embKmeansIter(s: SparkSession, dir: String,
      p0: PipelineParams = PipelineParams.Default): DataFrame = {
    // same assignment rule (crn = 1 of the shared index) as the other
    // corpus-codebook consumers — one cached assignment pass for all
    ivfAssigned(s, dir, p0).filter(col("crn") === 1)
      .select(col("cid"), posexplode(col("embedding")).as(Seq("p", "x")))
      .groupBy("cid", "p")
      .agg(count(lit(1)).as("n_vecs"),
        (sum(floor(col("x").cast(DoubleType) * lit(10000.0d))
          .cast(LongType)).cast(DoubleType) /
          (count(lit(1)).cast(DoubleType) * lit(10000.0d))).as("centroid"))
      .select(col("cid"), (col("p") + 1L).cast(LongType).as("dim"),
        col("n_vecs"), col("centroid"))
  }

  /** Deterministic training-shard assignment — the write-side primitive
    * for shuffled training data: every doc gets a shard (multiplicative-
    * hash bucket, RNG-free so re-runs and engines agree) and a
    * reproducible position within its shard. This is a global shuffle
    * WITHOUT a global sort: the plan is one hash shuffle on the shard
    * key plus an in-partition sort — exactly
    * `repartition(shard).sortWithinPartitions(hash)`, the shape shard
    * writers need at any scale. Hash reduces mod p BEFORE multiplying
    * (SURVEY §3: the raw product overflows Long). */
  def dShardAssign(s: SparkSession, dir: String,
      p: PipelineParams = PipelineParams.Default): DataFrame = {
    val docs = tbl(s, dir, "documents").select("doc_id")
    val w = Window.partitionBy("shard").orderBy(col("hv"), col("doc_id"))
    docs
      .withColumn("hv",
        expr("((doc_id % 1000003) * 2654435761) % 1000003"))
      .withColumn("shard", col("hv") % p.nShards)
      .withColumn("pos", row_number().over(w).cast(LongType))
      .select("doc_id", "shard", "pos")
  }

  def embCentroids(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "embeddings")
      .select(col("label").cast(LongType).as("label"),
        posexplode(col("embedding")).as(Seq("p", "x")))
      .groupBy("label", "p")
      .agg(count(lit(1)).as("n_vecs"),
        (sum(floor(col("x").cast(DoubleType) * lit(10000.0d))
          .cast(LongType)).cast(DoubleType) /
          (count(lit(1)).cast(DoubleType) * lit(10000.0d))).as("centroid"))
      .select(col("label"), (col("p") + 1L).cast(LongType).as("dim"),
        col("n_vecs"), col("centroid"))

  /** One power-iteration step toward the corpus' top principal direction
    * (uncentered Gram): w = Σ_x x·(x·v₀) with the deterministic seed
    * v₀ = 1⃗ — the embedding-analytics twin of [[embKmeansIter]]
    * (iterate by refeeding the output direction as the next v). All
    * arithmetic is engine-exact: components floor-quantize to BIGINT
    * (q = ⌊x·10⁴⌋), the dot and the partial products stay integer, and
    * the only doubles are one division per output row over identical
    * operands. Scale shape: per-row dot (whole-stage codegen) →
    * posexplode → ONE keyed shuffle of dims·partitions partial sums —
    * never vectors; the normalizing max runs over the dims-row result
    * (64 rows at any corpus size). Magnitude bound: |q|·|dotq| ≤
    * 10⁴·64·10⁴ ≈ 6.4e9 per row, so BIGINT sums hold past 10⁹ rows. */
  def embPcaPower(s: SparkSession, dir: String): DataFrame = {
    val q = tbl(s, dir, "embeddings")
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0D) AS BIGINT))")
        .as("qv"))
      .select(col("vec_id"),
        expr("aggregate(qv, 0L, (a, x) -> a + x)").as("dotq"),
        col("qv"))
    q.select(col("dotq"), posexplode(col("qv")).as(Seq("p", "xq")))
      .groupBy("p")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("xq") * col("dotq")).as("power_sum"))
      .select((col("p") + 1L).cast(LongType).as("dim"), col("n_vecs"),
        col("power_sum"),
        (col("power_sum").cast(DoubleType) /
          max(abs(col("power_sum")))
            .over(Window.partitionBy()).cast(DoubleType)).as("direction"))
  }

  /** Embedding outlier detection: the 5 vectors farthest from their
    * label's centroid — the data-cleaning step that surfaces mislabeled
    * or corrupt vectors before training. Exact integer arithmetic:
    * dist² = Σ_d (n·q_d − S_d)² = n²·10⁸·‖x − μ‖² with q = ⌊x·10⁴⌋,
    * S = per-(label,dim) quantized sum — rank order equals true distance
    * order within a label and both engines agree bit-for-bit. Scale
    * shape: explode → per-(label,dim) aggregate (labels·dims rows,
    * broadcast back) → per-vec re-aggregate (one keyed shuffle) →
    * per-label rank filter, which Catalyst map-side-bounds with Partial
    * `WindowGroupLimit` below the exchange (≤ 5 rows per label per
    * input partition shuffle even when one label owns the corpus;
    * pinned in PlanQualitySpec).
    *
    * AUTO-RESCALED magnitude bound: each term is (n·xq − S_d)² ≤
    * (2·n·scale·⌈m⌉)² with m = max|x|, summed over 64 dims, so dist² ≤
    * 256·(nm·scale)² with nm = maxRowsPerLabel·⌈m⌉. [[outlierScale]]
    * picks the largest power-of-10 scale with nm·scale ≤ 1.8e8, keeping
    * dist² < 2⁶³ at ANY label cardinality (a coarser grid changes
    * precision, not rank order, for separated outliers). The pick uses
    * only integer comparisons on nm, so Spark and the DuckDB oracle
    * derive bit-identical scales; nm costs two cheap linear aggregates. */
  /** (maxRowsPerLabel, maxAbsValue) of the embeddings table — ONE job
    * (per-label partial agg, then a global fold of the label rows),
    * memoized per (session, dir): the scale derivation must not re-scan
    * the corpus on every plan construction (bench/Explain/spec all
    * build this plan repeatedly). */
  private def outlierStats(s: SparkSession, dir: String): (Long, Double) =
    SessionScoped.getOrBuild(s, dir, "outlierStats") {
      val r = tbl(s, dir, "embeddings")
        .groupBy("label")
        .agg(count(lit(1)).as("n"), max(expr(
          "aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"))
          .as("m"))
        .agg(max(col("n")), max(col("m"))).head()
      (Option(r.get(0)).fold(1L)(_.asInstanceOf[Long]),
        Option(r.get(1)).fold(1.0)(_.asInstanceOf[Double]))
    }

  def embOutliers(s: SparkSession, dir: String): DataFrame = {
    val base = tbl(s, dir, "embeddings")
    val (nmax, mmax) = outlierStats(s, dir)
    val sc = outlierScale(nmax * math.max(1L, math.ceil(mmax).toLong))
    val e = base
      .select(col("vec_id"), col("label").cast(LongType).as("label"),
        posexplode(expr(
          s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $sc.0D) AS BIGINT))"))
          .as(Seq("p", "xq")))
    val stats = e.groupBy("label", "p")
      .agg(sum(col("xq")).as("sd"), count(lit(1)).as("n"))
    val w = Window.partitionBy("label")
      .orderBy(col("dist2").desc, col("vec_id"))
    e.join(broadcast(stats), Seq("label", "p"))
      .select(col("vec_id"), col("label"),
        ((col("n") * col("xq") - col("sd")) *
          (col("n") * col("xq") - col("sd"))).as("term"))
      .groupBy("vec_id", "label")
      .agg(sum(col("term")).as("dist2"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 5)
      .select("vec_id", "label", "dist2", "rnk")
  }

  /** Quantization scale for [[embOutliers]]: the largest power of 10
    * with nm·scale ≤ 1.8e8 (⟹ dist² ≤ 256·(1.8e8)² ≈ 8.3e18 < 2⁶³).
    * Integer thresholds only, so the DuckDB oracle's CASE chain derives
    * the identical scale. Past the scale-1 floor no power of 10 can
    * keep the exact-integer path inside BIGINT — that is a label of
    * 180M+ unit-magnitude rows, which needs sharding BEFORE outlier
    * detection — so fail loudly rather than wrap dist² negative. */
  private[graft] def outlierScale(nm: Long): Long =
    if (nm <= 18000L) 10000L
    else if (nm <= 180000L) 1000L
    else if (nm <= 1800000L) 100L
    else if (nm <= 18000000L) 10L
    else if (nm <= 180000000L) 1L
    else throw new IllegalArgumentException(
      s"emb_outliers: maxRowsPerLabel x ceil(max|x|) = $nm exceeds 1.8e8 " +
        "— exact integer dist² would overflow BIGINT at any " +
        "quantization. Shard the label (e.g. d_shard_assign) or rescale " +
        "the embeddings before outlier detection.")

  /** Per-source length-quantile gate: flag docs under their source's
    * 25th-percentile token count (the "too short for this source"
    * corpus-quality filter — a fixed global threshold misfires when
    * sources have different length profiles). Exact interpolated
    * percentile as a partial/final aggregate (no per-group sort), one
    * row per source broadcast back over the scan — two linear passes,
    * no skew surface (the threshold frame is |sources| rows).
    *
    * SCALE NOTE: exact `percentile` state grows with distinct values per
    * source (oracle-forced exactness — DuckDB hash-parity). Production
    * at corpus scale should use [[dQuantileFilterApprox]]: same output
    * shape, bounded sketch state. */
  def dQuantileFilter(s: SparkSession, dir: String): DataFrame = {
    val t = tbl(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        expr("CAST(size(graft_tokens(text)) AS BIGINT)").as("n_tokens"))
    val thr = t.groupBy("source")
      .agg(expr("percentile(n_tokens, 0.25)").as("p25"))
    t.join(broadcast(thr), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("p25"),
        (col("n_tokens").cast(DoubleType) >= col("p25")).as("kept"))
  }

  /** Bounded-state twin of [[dQuantileFilter]] — THE production path at
    * corpus scale: `approx_percentile` keeps O(accuracy) sketch state per
    * source (rank error ≤ n/accuracy) instead of a value→count map that
    * grows with distinct token counts. Same plan shape: one sketch
    * aggregate, |sources|-row broadcast join-back, two linear passes. */
  def dQuantileFilterApprox(s: SparkSession, dir: String,
      accuracy: Int = 1000000): DataFrame = {
    val t = tbl(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        expr("CAST(size(graft_tokens(text)) AS BIGINT)").as("n_tokens"))
    val thr = t.groupBy("source")
      .agg(expr(s"CAST(approx_percentile(n_tokens, 0.25, $accuracy) AS DOUBLE)")
        .as("p25"))
    t.join(broadcast(thr), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("p25"),
        (col("n_tokens").cast(DoubleType) >= col("p25")).as("kept"))
  }

  // ----------------------------------------------------------- text analysis

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")
  private val stopListSql = Stopwords.map(w => s"'$w'").mkString(", ")

  def tLangid(s: SparkSession, dir: String): DataFrame =
    tokenHashes(s, dir).select(col("doc_id"), col("lang"),
      expr(s"size(filter(toks, t -> t IN ($stopListSql)))").as("n_stop"),
      size(col("toks")).as("n_tok"))
      .select(col("doc_id"),
        when(col("n_stop") * 100 > col("n_tok") * 3, lit("en"))
          .otherwise(lit("und")).as("pred_lang"),
        col("lang"))

  /** Language-ID confusion matrix — [[tLangid]]'s predictions crossed
    * against the table's labeled language: the classifier-quality
    * telemetry a corpus pipeline reviews before trusting the gate (the
    * 'en' recall/precision cells fall straight out of the counts). One
    * grouped aggregate over the cached token frame; integer counts. */
  def tLangConfusion(s: SparkSession, dir: String): DataFrame =
    tLangid(s, dir)
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"))

  /** Memoized: the quality frame is a SHARED stage — the quality gate,
    * keep-best selection, and both capstone pipelines consume it, and
    * its tokenization pass dominates its cost (the same reasoning as
    * [[tokenHashes]]). One corpus scan, every consumer reads the cache. */
  def tQuality(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "quality") { tQualityBody(s, dir).cache() }

  private def tQualityBody(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        expr("graft_tokens(text)").as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars"),
        size(col("toks")).cast(LongType).as("n_tokens"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[.,!?;:]", "")))
          .cast(LongType).as("n_punct"),
        expr(s"CAST(size(filter(toks, t -> t IN ($stopListSql))) AS BIGINT)")
          .as("n_stop"),
        expr("CAST(aggregate(transform(toks, t -> length(t)), 0, (a, x) -> a + x) AS BIGINT)")
          .as("tok_chars"))
    d.select(col("doc_id"), col("n_chars"), col("n_tokens"),
      (col("n_punct").cast(DoubleType) / col("n_chars").cast(DoubleType))
        .as("punct_ratio"),
      (col("n_stop").cast(DoubleType) / col("n_tokens").cast(DoubleType))
        .as("stop_ratio"),
      (col("tok_chars").cast(DoubleType) / col("n_tokens").cast(DoubleType))
        .as("mean_tok_len"))
      .withColumn("quality",
        (lit(0.5) * col("stop_ratio") +
          lit(0.5) * (least(col("n_tokens"), lit(200L)).cast(DoubleType) /
            lit(200.0))) - col("punct_ratio"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1 — the
    * published format/repetition filter suite LLM corpora are screened
    * with), each rule a pure integer comparison so the cross-engine
    * compare is exact (no ratio doubles): word count in [50, 100000];
    * mean word length in [3, 10] (as 3n <= chars <= 10n); <= 30% of
    * lines ending in an ellipsis; <= 90% of lines starting with a
    * bullet; >= 80% of words containing an alphabetic character; >= 2
    * distinct stopwords. Map-only single projection — scan-speed at any
    * corpus size, nothing to shuffle. */
  def tGopherRules(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), expr("graft_tokens(text)").as("toks"),
        split(col("text"), "\n").as("lines"))
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_words"),
        expr("CAST(aggregate(transform(toks, t -> length(t)), 0, (a, x) -> a + x) AS BIGINT)")
          .as("tok_chars"),
        expr("CAST(size(filter(toks, t -> translate(t, '0123456789', '') != '')) AS BIGINT)")
          .as("n_alpha_words"),
        expr(s"CAST(size(array_distinct(filter(toks, t -> t IN ($stopListSql)))) AS BIGINT)")
          .as("n_stop_distinct"),
        size(col("lines")).cast(LongType).as("n_lines"),
        expr("CAST(size(filter(lines, l -> l LIKE '%...')) AS BIGINT)")
          .as("n_ellipsis_lines"),
        expr("CAST(size(filter(lines, l -> l LIKE '- %' OR l LIKE '* %')) AS BIGINT)")
          .as("n_bullet_lines"))
      .withColumn("flag_word_count",
        col("n_words") >= 50L && col("n_words") <= 100000L)
      .withColumn("flag_word_len",
        col("tok_chars") >= col("n_words") * 3L &&
          col("tok_chars") <= col("n_words") * 10L)
      .withColumn("flag_ellipsis",
        col("n_ellipsis_lines") * 10L <= col("n_lines") * 3L)
      .withColumn("flag_bullet",
        col("n_bullet_lines") * 10L <= col("n_lines") * 9L)
      .withColumn("flag_alpha",
        col("n_alpha_words") * 5L >= col("n_words") * 4L)
      .withColumn("flag_stop", col("n_stop_distinct") >= 2L)
      .withColumn("pass",
        col("flag_word_count") && col("flag_word_len") &&
          col("flag_ellipsis") && col("flag_bullet") &&
          col("flag_alpha") && col("flag_stop"))

  def tTokens(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        expr("CAST(size(graft_tokens(text)) AS BIGINT)").as("n_tokens"),
        expr("CAST(length(text) AS BIGINT)").as("n_chars"),
        expr("CAST((length(text) + 3) div 4 AS BIGINT)").as("est_bpe_tokens"))

  /** Lexical diversity (type-token ratio) per document — the quality
    * signal that separates natural prose from keyword stuffing, boiler
    * lists, and low-diversity spam even when length/punct ratios look
    * fine (a standard pipeline filter next to the Gopher rules). Types
    * are counted over the token HASHES — the identical polynomial hash
    * on both engines, so the count is engine-deterministic (a raw-token
    * distinct would have to relitigate Unicode normalization). Map-only
    * over the shared cached token frame; the one division is the output
    * cast. */
  def tTtr(s: SparkSession, dir: String): DataFrame =
    tokenHashes(s, dir)
      .select(col("doc_id"),
        size(col("th")).cast(LongType).as("n_tokens"),
        size(array_distinct(col("th"))).cast(LongType).as("n_types"))
      .withColumn("ttr",
        col("n_types").cast(DoubleType) / col("n_tokens").cast(DoubleType))

  /** Corpus-level bigram frequencies, top 50: word-count + TakeOrdered
    * (orderBy+limit -> no single-partition window at any scale). */
  def tNgramFreq(s: SparkSession, dir: String): DataFrame =
    tokenHashes(s, dir)
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
        .as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(50)

  def tFingerprint(s: SparkSession, dir: String): DataFrame =
    tokenHashes(s, dir)
      .select(col("doc_id"), expr("graft_doc_fingerprint(th)").as("fp"))

  /** Winnowing fingerprints (Schleimer et al. 2003, the MOSS algorithm —
    * public paper): per document, the ORDERED 3-gram hash stream, then
    * the minimum of each 4-hash sliding window, deduplicated — the
    * guarantee-bearing fingerprint selection (any shared run of ≥ w+k−1
    * tokens shares a selected hash) that plain min-hashing lacks.
    * Output per doc: gram count, selected-fingerprint count (density
    * ~2/(w+1)), and an order-sensitive fold of the sorted selection as
    * a compact signature. Entirely map-only per-row array arithmetic —
    * zero shuffles at any corpus size; the oracle recomputes the same
    * windows with identical integer hashes. */
  def tWinnow(s: SparkSession, dir: String): DataFrame =
    tokenHashes(s, dir)
      .select(col("doc_id"), expr(
        s"""transform(sequence(1, size(th) - 2),
           |  i -> ((element_at(th, i) * 31 + element_at(th, i + 1))
           |        % ${PT.P} * 31 + element_at(th, i + 2)) % ${PT.P})"""
          .stripMargin).as("g"))
      .select(col("doc_id"), size(col("g")).cast(LongType).as("n_grams"),
        expr(
          """array_distinct(CASE WHEN size(g) < 4
            |  THEN array(array_min(g))
            |  ELSE transform(sequence(4, size(g)),
            |         i -> array_min(slice(g, i - 3, 4))) END)"""
            .stripMargin).as("sel"))
      .select(col("doc_id"), col("n_grams"),
        size(col("sel")).cast(LongType).as("n_fps"),
        expr(s"aggregate(array_sort(sel), 0L, (a, h) -> (a * 31 + h) % ${PT.P})")
          .as("fp_sig"))

  /** One round of BPE merge-candidate counting: corpus frequency of every
    * adjacent CHARACTER pair, weighted by word frequency — the inner loop
    * of byte-pair-encoding tokenizer training (Sennrich et al. 2016). The
    * classic scale trick is structural here: pair statistics are computed
    * over the VOCABULARY (distinct token + count, one linear aggregate of
    * the corpus), so the quadratic-looking pair explode runs over ~|vocab|
    * rows, not the corpus — at 100 TB the vocabulary is millions of rows
    * while the corpus is trillions of tokens. Tokens are lower-ASCII by
    * construction (graft_tokens), so substring semantics agree across
    * engines byte-for-byte. */
  def tBpePairs(s: SparkSession, dir: String): DataFrame =
    tokenHashes(s, dir)
      .select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .filter(length(col("tok")) >= 2)
      .select(col("c"), explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("c")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(50)

  /** Distinctive terms per source: the tokens most over-represented in a
    * source vs the whole corpus (share-of-term ranking with a corpus-lift
    * output) — the "what is this slice about?" profiling query behind
    * corpus cards and mixture debugging. Per-source top-10 rides the
    * bounded [[graft.functions.TopKScored]] fold — term candidates
    * collapse map-side to 10 (score, hash) pairs per source per task, so
    * the shuffle never carries the (source x vocab) frame; the
    * rank-window oracle is the semantics it mirrors. The score ranks by
    * c_src/c_glob (one IEEE division, identical both engines); within a
    * source that ordering equals the full lift ordering (the remaining
    * factor T/S is a per-source positive constant). The tiny top-k and
    * per-source-totals frames broadcast — both are bounded by the
    * categorical source cardinality, not the corpus. */
  def tKeywords(s: SparkSession, dir: String): DataFrame = {
    // localCheckpoint: the (source, term) count frame feeds SIX plan
    // subtrees (glob, srcTot, tot, the top-k fold's scored stream, and
    // the final join-back's scored stream) and exchange reuse does not
    // collapse them — un-truncated, the corpus explode + aggregate
    // re-ran once per subtree (measured 22 s on local[8] at sf0.1; the
    // checkpointed form re-reads a vocabulary×|sources|-sized block
    // set, ~3 longs/row, materialized once per invocation). LAZY
    // (eager = false): explain-only consumers must not run corpus-scale
    // jobs at DataFrame-construction time; the RDD persists at first
    // action instead. Tradeoff (either eagerness): a localCheckpoint's
    // lineage is truncated, so executor loss after materialization is
    // unrecoverable — a dynamic-allocation fleet should use reliable
    // checkpointing here.
    val bySrc = tokenHashes(s, dir)
      .select(col("source"), explode(col("th")).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("c_src"))
      .localCheckpoint(eager = false)
    val glob = bySrc.groupBy("t").agg(sum("c_src").as("c_glob"))
    val srcTot = bySrc.groupBy("source").agg(sum("c_src").as("s_tot"))
    val tot = srcTot.agg(sum("s_tot").as("t_tot"))
    val scored = bySrc.join(glob, "t")
      .filter(col("c_src") >= 5L)
      .withColumn("score",
        col("c_src").cast(DoubleType) / col("c_glob").cast(DoubleType))
    val top = scored.groupBy("source")
      .agg(expr("graft_topk_scored(score, t, 10)").as("tk"))
      .select(col("source"), posexplode(col("tk")).as(Seq("i", "p")))
      .select(col("source"), (col("i") + 1).cast(LongType).as("rk"),
        col("p.payload").as("t"))
    scored.join(broadcast(top), Seq("source", "t"))
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("rk"), col("t").as("term"),
        col("c_src"), col("c_glob"),
        ((col("c_src").cast(DecimalType(38, 0)) *
          col("t_tot").cast(DecimalType(38, 0))).cast(DoubleType) /
          (col("c_glob").cast(DecimalType(38, 0)) *
            col("s_tot").cast(DecimalType(38, 0))).cast(DoubleType))
          .as("lift"))
  }

  /** Repetition quality signals (the Gopher/DCLM-style filters a training
    * corpus is screened with): duplicate-line fraction, duplicate-word
    * fraction, and the share of all bigrams taken by the most frequent
    * one. Line/word dedup is per-row collection arithmetic (no shuffle);
    * the bigram mode is an explode + two-level aggregation keyed by
    * doc_id, so it scales with corpus size, not vocabulary. */
  def tRepetition(s: SparkSession, dir: String): DataFrame = {
    // cached: the tokenization (interpreted lambda filter) is the dominant
    // cost and both output branches (per-doc ratios, bigram agg) consume it
    val d = tbl(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("text"),
        expr("graft_tokens(text)").as("toks"))
      .filter(size(col("toks")) >= 3)
      .cache()
    val perDoc = d.select(col("doc_id"),
      split(col("text"), "\n").as("lines"), col("toks"))
      .select(col("doc_id"),
        size(col("lines")).cast(LongType).as("n_lines"),
        (lit(1.0) - size(array_distinct(col("lines"))).cast(DoubleType) /
          size(col("lines")).cast(DoubleType)).as("dup_line_frac"),
        (lit(1.0) - size(array_distinct(col("toks"))).cast(DoubleType) /
          size(col("toks")).cast(DoubleType)).as("dup_word_frac"))
    // bigram HASHES, not strings: the pair construction runs as a native
    // codegen'd kernel instead of an interpreted transform+concat, and the
    // two-level aggregation shuffles longs instead of concatenated strings
    // (identical hash arithmetic in the oracle; collisions would merge
    // counts identically on both sides)
    val topBigram = d
      .select(col("doc_id"), explode(expr(
        "graft_bigram_hashes(graft_token_hashes(toks))")).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_c"), sum("c").as("tot_c"))
      .select(col("doc_id"), (col("top_c").cast(DoubleType) /
        col("tot_c").cast(DoubleType)).as("top_bigram_frac"))
    perDoc.join(topBigram, "doc_id")
  }

  /** Corpus mixing: deterministic stratified sampling with per-source
    * rates (web 50%, books 80%, other 30%) — the data-mixture step of a
    * training pipeline. The keep decision is a pure function of doc_id
    * (multiplicative hash mod 100), so the sample is reproducible across
    * runs and engines, needs no RNG state, and rebalancing a mixture is a
    * rate change, not a reshuffle. Per-row compute + one count shuffle. */
  def dSampleMix(s: SparkSession, dir: String): DataFrame = {
    // reduce doc_id mod p BEFORE the multiply: the raw product overflows
    // Long for doc_id ≳ 3.47e9 (silent wrap in Spark, BIGINT error in the
    // oracle); (p-1) * 2654435761 ≈ 2.65e18 stays within Long
    val coin = (col("doc_id") % lit(1000000007L) * lit(2654435761L)
      % lit(1000000007L)) % 100L
    val rate = when(col("source") === "web", 50L)
      .when(col("source") === "books", 80L)
      .otherwise(30L)
    tbl(s, dir, "documents")
      .withColumn("__coin", coin).withColumn("__rate", rate)
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("__coin") < col("__rate"), 1L).otherwise(0L))
          .as("n_kept"))
  }

  /** Epoch-weighted corpus mixing — the "books × 2.5 epochs" pattern:
    * each source has a fractional repeat weight; every doc materializes
    * floor(w) training epochs plus one more with probability frac(w),
    * decided by the registry's RNG-free multiplicative hash so re-runs
    * and engines agree doc-by-doc. Output is the exploded training
    * stream (doc_id, source, epoch, n_epochs) — the upsampled corpus a
    * sequence packer consumes. Weights here derive from the source
    * name (1.0/1.5/2.0/2.5 cycling) to stay self-contained; a fleet
    * passes its mixture config the same way.
    *
    * Scale shape: map-only projection + a per-row `sequence` explode
    * bounded by ceil(max w) — no shuffle, no driver state; the blow-up
    * factor IS the configured epoch count, linear by construction. */
  def dEpochMix(s: SparkSession, dir: String): DataFrame = {
    val coin = (col("doc_id") % lit(1000000007L) * lit(2654435761L)
      % lit(1000000007L)) % 100L
    tbl(s, dir, "documents")
      .withColumn("__coin", coin)
      // weight from the last character's code point: total on ANY source
      // naming (a numeric-suffix parse would null out on 'web'/'books')
      .withColumn("__w", expr(
        "100L + (CAST(ascii(right(source, 1)) AS BIGINT) % 4) * 50L"))
      .withColumn("n_epochs", expr(
        "__w div 100L + IF(__coin < __w % 100L, 1L, 0L)"))
      .withColumn("epoch", explode(expr("sequence(1L, n_epochs)")))
      .select("doc_id", "source", "epoch", "n_epochs")
  }

  /** Exact-substring duplication signal (RefinedWeb/DCLM-style): for every
    * doc, the fraction of its distinct 8-token spans that also occur in at
    * least one other document. A high fraction means the doc is largely
    * verbatim-copied text even when whole-doc hashes differ. Keyed
    * shuffles only — explode spans, count docs per span hash, re-aggregate
    * per doc — each linear in total span count; no pairwise comparison
    * anywhere, so the shape survives 100 TB. */
  def dSpanDedup(s: SparkSession, dir: String): DataFrame = {
    // native kernel, not the interpreted HOF twin: the nested
    // aggregate-over-slice lambda is exactly the per-row cost the native
    // expressions exist to avoid (PT.spanHashesSpark stays as the
    // dialect-parity reference, property-tested in NativeExpressionsSpec)
    val sp = tokenHashes(s, dir)
      .select(col("doc_id"), expr("graft_span_hashes(th)").as("spans"))
      .filter(size(col("spans")) >= 1)
    // min-owner identity (same rewrite as dDupNgramFrac): spans are
    // DISTINCT per doc, so a span with corpus doc-count 1 lives in
    // exactly one doc — its min owner — and n_shared = size(spans) −
    // n_unique_owned. The old span-keyed join-back of the raw exploded
    // stream (a corpus-sized shuffle, the heaviest exchange in the
    // before-plan) is gone; only the span-df aggregate (map-side
    // combined — a hot license-header span collapses to one row per map
    // task) and a doc-keyed rollup remain.
    val uniq = sp.select(col("doc_id"), explode(col("spans")).as("g"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("owner"))
      .filter(col("n_docs") === 1L)
      .groupBy(col("owner").as("doc_id"))
      .agg(count(lit(1)).as("n_uniq"))
    sp.select(col("doc_id"), size(col("spans")).cast(LongType).as("n_spans"))
      .join(uniq, Seq("doc_id"), "left")
      .withColumn("n_shared",
        col("n_spans") - coalesce(col("n_uniq"), lit(0L)))
      .select(col("doc_id"), col("n_spans"), col("n_shared"),
        (col("n_shared").cast(DoubleType) / col("n_spans").cast(DoubleType))
          .as("dup_span_frac"))
  }

  /** Cross-source contamination matrix — for every PAIR of sources, how
    * many distinct 8-token spans they share verbatim: the corpus-level
    * "which feeds overlap" diagnostic above [[dSpanDedup]]'s per-doc
    * fraction (a hot cell means two feeds mirror/syndicate each other
    * and should be deduped or downweighted JOINTLY before mixing, or
    * one dropped outright — per-doc dedup alone leaves the systematic
    * bias). Scale shape: sources map to dense bit ids (feed vocabulary
    * ≤ 64 by loud contract — the mixture's feed labels are a
    * config-sized set, NOT the corpus; for unbounded domain-level
    * provenance use [[dSpanDedup]]'s per-doc fraction), so the span-key
    * aggregate is a codegen'd `bit_or` over ONE long of state — a
    * collect_set draft carried a sorted array per span and measured 4×
    * slower at 100× — then spans collapse to their OCCUPIED MASKS
    * (≤ min(distinct spans, 2^v) rows) and the pair explode + name
    * join-backs run over that tiny frame, never over spans. Nothing is
    * ever pairwise over documents. */
  def dCrossSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val th = tokenHashes(s, dir)
    // dense ids in name order: sid i < sid j  <=>  name i < name j, so
    // bit-order pairs are lexicographic pairs. The unpartitioned window
    // runs over the distinct-source frame — feed-vocabulary-bounded.
    val srcIds = th.select(col("source")).distinct()
      .withColumn("__sid",
        (row_number().over(Window.orderBy("source")) - 1)
          .cast(IntegerType))
    val v = srcIds.count()
    require(v <= 64L,
      s"d_cross_source_overlap: $v sources exceed the 64-feed bitmask " +
        "contract (shiftleft would wrap silently); for domain-level " +
        "provenance use d_span_dedup")
    val masks = th
      .select(col("source"), explode(expr("graft_span_hashes(th)")).as("g"))
      .join(broadcast(srcIds), "source")
      .groupBy("g")
      .agg(expr("bit_or(shiftleft(1L, __sid))").as("mask"))
    masks.groupBy("mask").agg(count(lit(1)).as("n"))
      .filter(expr("bit_count(mask) >= 2"))
      .withColumn("bits", expr(
        "filter(transform(sequence(0, 63), i -> " +
          "IF(((mask >> i) & 1) = 1, i, NULL)), x -> x IS NOT NULL)"))
      .select(col("n"), col("bits"),
        posexplode(col("bits")).as(Seq("__p", "__ia")))
      .select(col("n"), col("__ia"),
        explode(expr("slice(bits, __p + 2, size(bits))")).as("__ib"))
      .join(broadcast(srcIds.select(col("source").as("src_a"),
        col("__sid").as("__ia"))), "__ia")
      .join(broadcast(srcIds.select(col("source").as("src_b"),
        col("__sid").as("__ib"))), "__ib")
      .groupBy("src_a", "src_b")
      .agg(sum(col("n")).cast(LongType).as("n_shared_spans"))
  }

  /** Benchmark decontamination: flag corpus docs whose 3-gram shingle sets
    * overlap a held-out benchmark set (here the deterministic pseudo-
    * benchmark doc_id % 97 == 0) in >= 3 distinct shingles — the
    * eval-leakage scrub every training corpus runs. A REAL benchmark set
    * is tiny and constant-size, but this pseudo-benchmark is 1/97 of the
    * corpus — it grows with the data — so the join strategy is left to
    * AQE: it broadcasts the probe side when measured small (as it is at
    * bench SFs) and falls back to a shuffle equi-join on the shingle
    * hash when it isn't, instead of a forced broadcast blowing the 8 GB
    * cap at scale. Per-doc overlap counting is one keyed aggregation. */
  def dDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(s, dir)
    val bench = sh.filter(col("doc_id") % 97 === 0)
      .select(explode(col("sh")).as("g")).distinct()
    sh.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), size(col("sh")).cast(LongType).as("n_shingles"),
        explode(col("sh")).as("g"))
      .join(bench, "g")
      .groupBy("doc_id", "n_shingles")
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= 3)
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        (col("n_overlap").cast(DoubleType) / col("n_shingles").cast(DoubleType))
          .as("overlap_frac"))
  }

  /** Bloom-filter decontamination — the bounded-memory twin of
    * [[dDecontaminate]]: the exact variant broadcasts the benchmark's
    * raw shingle set, which stops working when the decontamination
    * corpus reaches billions of shingles; the Bloom form broadcasts a
    * FIXED 2^20-bit bitmap (128 KB, independent of benchmark size) and
    * flags any doc with ≥ 3 bloom-positive shingles. All k = 3 probe
    * positions come from explicit multiplicative hashes (mod-P-first,
    * SURVEY §3), so the positive set — including the false-positive
    * behavior, the defining property of a Bloom filter — is
    * deterministic and identical in the DuckDB oracle, which models the
    * same bitmap as a distinct-position semi-join. No false negatives
    * by construction: every exact overlap is bloom-positive.
    *
    * Scale shape: the bitmap build collects DISTINCT probe positions —
    * bounded by the bitmap size (≤ 2^20 longs), never the benchmark —
    * and the probe is a map-only filter over the corpus scan; the only
    * shuffle is the final per-doc count. */
  def dDecontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val M = 1L << 20
    val A = Seq(2654435761L, 2246822519L, 3266489917L)
    val B = Seq(17L, 31L, 47L)
    def posExpr(j: Int) =
      s"((g % 1000000007L) * ${A(j)}L + ${B(j)}L) % 1000000007L % ${M}L"
    val sh = shingles(s, dir)
    val positions = sh.filter(col("doc_id") % 97 === 0)
      .select(explode(col("sh")).as("g"))
      .select(explode(array(
        (0 until 3).map(j => expr(posExpr(j))): _*)).as("p"))
      .distinct().collect().map(_.getLong(0))
    val bm = new Array[Long]((M / 64).toInt)
    positions.foreach(p => bm((p / 64).toInt) |= (1L << (p % 64).toInt))
    val positive = (0 until 3).map { j =>
      expr(s"""(shiftright(element_at(__bm,
         |  CAST((${posExpr(j)}) div 64 AS INT) + 1),
         |  CAST((${posExpr(j)}) % 64 AS INT)) & 1L) = 1L""".stripMargin)
    }.reduce(_ && _)
    sh.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"),
        size(col("sh")).cast(LongType).as("n_shingles"),
        explode(col("sh")).as("g"))
      .withColumn("__bm", typedLit(bm.toSeq))
      .filter(positive)
      .groupBy("doc_id", "n_shingles")
      .agg(count(lit(1)).as("n_bloom_hits"))
      .filter(col("n_bloom_hits") >= 3)
      .select(col("doc_id"), col("n_shingles"), col("n_bloom_hits"),
        (col("n_bloom_hits").cast(DoubleType) /
          col("n_shingles").cast(DoubleType)).as("hit_frac"))
  }

  /** Per-doc top TF-IDF terms with rational (log-free) idf: score =
    * tf * 1e6 div df in exact BIGINT arithmetic, so the ranking is
    * engine-reproducible bit-for-bit (log-based idf is monotone in 1/df,
    * so the per-doc ordering this produces matches classic tf-idf whenever
    * tf ties break the same way; ties go to the lower term hash). Keyed
    * shuffles — tf by (doc, term), df by term, rank by doc — all
    * linear; the df frame is vocabulary-sized, joined back on the term
    * key, never collected. */
  def tTfidf(s: SparkSession, dir: String): DataFrame = {
    graft.functions.native.register(s)
    val tf = tokenHashes(s, dir)
      .select(col("doc_id"), explode(col("th")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    // df as groupBy + join-back, NOT a term-key window: term frequency is
    // Zipfian, so the hottest stopword co-locates rows from nearly every
    // doc into one window partition that AQE cannot split. The aggregate
    // gets map-side partial combine (a stopword collapses to one row per
    // map task) and the join-back on the term key is AQE-skew-splittable.
    // df is consumed ONCE (the scoring join): the survivor decode rides
    // the dual fold below, so no checkpoint and no second vocabulary
    // join — the tf subtree under df reuses the scoring join's exchange.
    val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
    // per-doc top-3 as a bounded DUAL TopKScored fold, NOT a rank window:
    // the fold's partial state is ≤ 3 (score, payload) pairs per doc per
    // map task (×2 folds), so the doc-keyed exchange carries 6 rows/doc
    // instead of the full (doc, term) frame, and the per-partition sort
    // disappears. Tie-parity with the old `ORDER BY score DESC, t`
    // window: both payloads pack t·2³³ + x (t < 2³⁰; x = tf < 2²⁸
    // because a token array lives in one <2 GiB Spark row, or x = df
    // < 2³³ — up to 8.5e9 docs, same documented-bound class as t),
    // terms are distinct within a doc, so payload-ascending ==
    // t-ascending on score ties IN BOTH folds — the two ranked arrays
    // align index-for-index and zip losslessly. tf/df decode by
    // division; score recomputes from them in the projection (exact
    // BIGINT) — no survivor join-back at all.
    tf.join(df, "t")
      .withColumn("score", expr("tf * 1000000L div df"))
      .groupBy("doc_id")
      .agg(
        expr(
          "graft_topk_scored(CAST(score AS DOUBLE), t * 8589934592L + tf, 3)")
          .as("tk"),
        expr(
          "graft_topk_scored(CAST(score AS DOUBLE), t * 8589934592L + df, 3)")
          .as("tkd"))
      .select(col("doc_id"),
        posexplode(arrays_zip(col("tk"), col("tkd"))).as(Seq("__i", "e")))
      .select(col("doc_id"), (col("__i") + 1).cast(LongType).as("rk"),
        expr("e.tk.payload div 8589934592L").as("term_hash"),
        expr("e.tk.payload % 8589934592L").as("tf"),
        expr("e.tkd.payload % 8589934592L").as("df"))
      .select(col("doc_id"), col("rk"), col("term_hash"), col("tf"),
        col("df"), expr("tf * 1000000L div df").as("score"))
  }

  /** The registry's polynomial token hash (base 31 mod 1e9+7) applied
    * driver-side to a LITERAL query term, so BM25 query-term constants
    * fold into both engines' plans as plain BIGINTs. */
  private def termHash(t: String): Long =
    t.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % PT.P)

  /** The BM25 query issued by [[tBm25]] and its oracle — three common
    * corpus terms, hashed with [[termHash]]. */
  private[graft] val bm25Terms = Seq("vector", "hash", "window")

  /** BM25-ranked retrieval: the top-10 documents for a fixed 3-term
    * query under Okapi BM25 (k1 = 1.2, b = 0.75) with a log-free
    * rational idf — the full-text ranking primitive next to the
    * vector-side `ann_*` family (and the lexical leg a production
    * hybrid retriever would feed into `ann_hybrid`'s fusion).
    *
    * Every factor is exact BIGINT arithmetic so both engines rank
    * bit-identically (floating ln/division could flip near-ties):
    *  - idf(t) ≈ (N − df + 0.5)/(df + 0.5), scaled 1e6 and floored as
    *    `((N − df)·2e6 + 1e6) div (2·df + 1)` — same monotone-in-df
    *    ordering as Robertson idf;
    *  - the tf saturation term `tf·(k1+1) / (tf + k1·(1 − b + b·dl/
    *    avgdl))` clears denominators with avgdl = T/N (T = corpus
    *    tokens): numerator `tf·22·T·1000`, denominator `tf·10·T + 3·T
    *    + 9·dl·N` — exact integers, one floor division, scale 1e3.
    *    (Magnitudes: tf·22·T·1000 ≤ ~5e15 at the factor-1000 corpus —
    *    BIGINT-safe.)
    *
    * Plan shape: the tokenized frame is the shared [[tokenHashes]]
    * cache; the per-term explode filters to the 3 query hashes
    * immediately (the stream entering the groupBy is query-term
    * postings, not the corpus token stream); df and the 2-long corpus
    * stats frame broadcast; the global top-10 is TakeOrderedAndProject
    * (per-partition top-10 then a 10-row merge — no global sort), and
    * the rank window runs over those 10 survivors only. */
  def tBm25(s: SparkSession, dir: String): DataFrame = {
    val qh = bm25Terms.map(termHash)
    val th = tokenHashes(s, dir)
    val stats = th.agg(count(lit(1)).as("n_docs"),
      sum(size(col("th")).cast(LongType)).as("n_tokens"))
    val tf = th
      .select(col("doc_id"), size(col("th")).cast(LongType).as("dl"),
        explode(col("th")).as("t"))
      .filter(col("t").isin(qh: _*))
      .groupBy("doc_id", "dl", "t").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfq), "t")
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        expr("((n_docs - df) * 2000000L + 1000000L) div (2L * df + 1L)"))
      .withColumn("__tfc",
        expr("(tf * 22L * n_tokens * 1000L) div " +
          "(tf * 10L * n_tokens + 3L * n_tokens + 9L * dl * n_docs)"))
      .groupBy("doc_id").agg(sum(expr("__idf * __tfc")).as("score"))
    val top = scored.orderBy(col("score").desc, col("doc_id")).limit(10)
    // rank window over the 10 surviving rows only — a global window is
    // fine when the frame is already bounded by the limit
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    top.withColumn("rk", row_number().over(w).cast(LongType))
      .select("rk", "doc_id", "score")
  }

  /** BM25 top-10 through the PERSISTED text index — the same query,
    * terms, and exact-integer Okapi arithmetic as [[tBm25]], but served
    * from [[graft.ml.Similarity]]'s postings/df/stats parquet store
    * instead of recomputing postings from the corpus: the scan reads
    * ONLY the three query terms' posting runs (t IN (...) pushes into
    * the term-range-clustered parquet), df and corpus stats sum their
    * batch delta rows, and the same oracle SQL hash-checks both faces —
    * a match proves the index lifecycle (tokenize → postings → persist
    * → reopen → score) is the identity on ranking. This is the lexical
    * retrieval shape a 100 TB deployment actually runs: the corpus
    * tokenizes once at ingest, queries touch index bytes proportional
    * to their own terms. */
  def tBm25Indexed(s: SparkSession, dir: String): DataFrame =
    graft.ml.Similarity.textSearchIndex(
      graft.ml.Similarity.openTextIndex(s, textIndexStore(s, dir)),
      bm25Terms, 10)

  /** BM25 top-10 through a STREAM-BUILT text index — the streaming
    * maintenance face of [[tBm25Indexed]]: the corpus arrives as
    * Structured Streaming micro-batches into
    * [[graft.ml.Similarity.textIndexSink]] (one atomically-committed,
    * idempotent batch dir per micro-batch; restart-safe via the
    * checkpoint), and the SAME oracle SQL hash-checks the result — a
    * match proves streaming ingest is rank-identity with the batch
    * build AND the from-corpus recompute. This is how a live deployment
    * actually maintains a lexical index: docs stream in at ingest,
    * queries read term-pruned posting runs across the accumulated
    * batches. */
  def streamTextIndex(s: SparkSession, dir: String): DataFrame =
    graft.ml.Similarity.textSearchIndex(
      graft.ml.Similarity.openTextIndex(s, streamTextIndexStore(s, dir)),
      bm25Terms, 10)

  /** Collocation mining — the top-20 adjacent token pairs by rational
    * PMI (pointwise mutual information, log-free: score ∝
    * n_ab·T/(n_a·n_b), monotone in true PMI), min pair count 5. The
    * corpus-statistics primitive behind phrase detection and
    * boilerplate discovery: a pair that co-occurs far above its
    * unigram chance rate is a collocation, however common the words.
    *
    * Token hashes are < 2³⁰, so a bigram packs EXACTLY (reversibly)
    * into one BIGINT as `a·2³¹ + b` — the pair aggregation keys on one
    * long instead of a struct, and the endpoints decode afterwards by
    * division, only on the (tiny) min-count survivors. The evaluation
    * order `(n_ab·1e6 div n_a)·T div n_b` keeps every intermediate
    * ≤ ~3e14 (n_ab ≤ n_a bounds the first factor by 1e6) and is
    * mirrored verbatim in the oracle, so truncation agrees. Plan: ONE
    * corpus explode (the pair-code agg; unigram counts roll up from the
    * vocabulary-sized pair frame + a map-only last-token pass), two
    * vocabulary-keyed joins on the filtered survivors, broadcast 1-long
    * total, top-20 via TakeOrderedAndProject. */
  def tCollocations(s: SparkSession, dir: String): DataFrame = {
    val th = tokenHashes(s, dir)
    // graft_bigram_codes: codegen'd pack kernel, arithmetic identical to
    // the transform-HOF twin (NativeExpressionsSpec pins it)
    val pairs = th.select(explode(expr("graft_bigram_codes(th)"))
      .as("code"))
    // lazily checkpointed: cAb feeds three subtrees (survivor filter +
    // the unigram rollup twice via uni) and uni joins back twice (n_a,
    // n_b) — un-truncated, each consumer re-ran the vocabulary-sized
    // aggregate chain above the (AQE-stage-reused) corpus shuffle, and
    // the single-explode rewrite measured SLOWER at 32c (1.30 → 1.80 s)
    // until both frames were truncated. Both are VOCABULARY-sized.
    val cAb = pairs.groupBy("code").agg(count(lit(1)).as("n_ab"))
      .localCheckpoint(eager = false)
    // unigram counts WITHOUT a second corpus explode: every occurrence
    // of t is either the left element of exactly one bigram or its
    // doc's last token, so n_t = Σ_left n_ab (a rollup of the
    // VOCABULARY-sized pair frame) + the last-token count (a map-only
    // pass over the cached frame — no explode). Exact by construction;
    // the oracle SQL is unchanged and hash-checks it.
    val uniLeft = cAb.groupBy(expr("code div 2147483648L").as("t"))
      .agg(sum("n_ab").as("n_left"))
    val lastTok = th
      .select(expr("element_at(th, size(th))").as("t"))
      .groupBy("t").agg(count(lit(1)).as("n_last"))
    val uni = uniLeft.join(lastTok, Seq("t"), "full")
      .select(col("t"),
        (coalesce(col("n_left"), lit(0L)) +
          coalesce(col("n_last"), lit(0L))).as("n_t"))
      .localCheckpoint(eager = false)
    val tot = th.agg(sum(size(col("th")).cast(LongType) - 1L)
      .as("n_pairs"))
    val scored = cAb.filter(col("n_ab") >= 5L)
      .withColumn("a", expr("code div 2147483648L"))
      .withColumn("b", expr("code % 2147483648L"))
      .join(uni.toDF("a", "n_a"), "a")
      .join(uni.toDF("b", "n_b"), "b")
      .crossJoin(broadcast(tot))
      .withColumn("score",
        expr("(n_ab * 1000000L div n_a) * n_pairs div n_b"))
    val top = scored
      .orderBy(col("score").desc, col("a"), col("b")).limit(20)
    val w = Window.orderBy(col("score").desc, col("a"), col("b"))
    top.withColumn("rk", row_number().over(w).cast(LongType))
      .select(col("rk"), col("a").as("term_a"), col("b").as("term_b"),
        col("n_ab"), col("score"))
  }

  /** Deterministic k-per-group sample (the "pull 5 docs per source for
    * eval" primitive): rank docs inside each source by the multiplicative
    * hash of doc_id and keep the first 5 — a reproducible uniform sample
    * with no RNG state, stable under corpus growth within each group.
    * One keyed window; at scale the rank is per-source-partition and
    * nothing global exists. */
  def dSampleK(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("__coin"), col("doc_id"))
    tbl(s, dir, "documents")
      .withColumn("__coin",
        col("doc_id") % lit(1000000007L) * lit(2654435761L)
          % lit(1000000007L))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= 5)
      .select("source", "rk", "doc_id", "n_chars")
  }

  /** The bounded-state twin of [[dSampleK]]: the same deterministic
    * 5-per-source sample selected by a custom `TypedImperativeAggregate`
    * ([[graft.functions.BottomKByHash]]) instead of a rank window. The
    * window version sorts each group; this one carries 2k longs of state
    * per group through a standard partial/final aggregation — the form
    * that survives groups of billions of rows. Results are identical by
    * construction (same multiplicative hash, same tie-break). */
  def dSampleBottomk(s: SparkSession, dir: String): DataFrame = {
    graft.functions.native.register(s)
    tbl(s, dir, "documents")
      .withColumn("__coin",
        col("doc_id") % lit(1000000007L) * lit(2654435761L)
          % lit(1000000007L))
      .groupBy("source")
      .agg(expr("graft_bottomk(__coin, doc_id)").as("sample_ids"))
      // scalar rows out: the oracle comparator sorts on every output
      // column and cannot order arrays; position in the bottom-k array IS
      // the rank
      .select(col("source"),
        posexplode(col("sample_ids")).as(Seq("__i", "doc_id")))
      .select(col("source"), (col("__i") + 1L).cast(LongType).as("rk"),
        col("doc_id"))
  }

  /** Weighted sampling without replacement — the data-mixing primitive
    * that upweights long/high-quality documents: a k=100 corpus sample
    * where selection probability scales with document weight (n_chars
    * here; a fleet passes quality scores the same way).
    *
    * Priority sampling (Duffield, Lund & Thorup, JACM 2007; the
    * u^(1/w) key of Efraimidis & Spirakis reduces to the same bottom-k
    * ranking): each doc draws a deterministic uniform hash u and gets
    * priority u/w — the k SMALLEST priorities are the weighted sample.
    * The priority is computed in pure integer arithmetic
    * ((hash << 20) div weight — hash < 1e9 so the shift cannot
    * overflow) because a float ln/pow ranking could order borderline
    * pairs differently across engines; ties break by doc_id, mirroring
    * the oracle's ORDER BY (priority, doc_id) exactly.
    *
    * Scale shape: the selection is [[graft.functions.BottomKByHash]]
    * with the priority as the ranking key — an ungrouped aggregate
    * whose partials are 3k longs per map task, so the corpus is never
    * globally sorted and never shuffled (the oracle's ORDER BY/LIMIT is
    * the semantics, not the plan); the weight join-back broadcasts the
    * 100-row sample. */
  def dSampleWeighted(s: SparkSession, dir: String): DataFrame = {
    graft.functions.native.register(s)
    val docs = tbl(s, dir, "documents").filter(col("n_chars") > 0L)
    val pri = expr(
      "(doc_id % 1000000007L) * 2654435761L % 1000000007L * 1048576L" +
        " div n_chars")
    val sample = docs
      .withColumn("__pri", pri)
      .agg(expr("graft_bottomk(__pri, doc_id, 100)").as("ids"))
      .select(posexplode(col("ids")).as(Seq("__i", "doc_id")))
      .select((col("__i") + 1L).cast(LongType).as("rk"), col("doc_id"))
    docs.select(col("doc_id"), col("n_chars"))
      .join(broadcast(sample), "doc_id")
      .select(col("rk"), col("doc_id"), col("n_chars"))
  }

  /** Stratified weighted sampling — the per-source quota form of
    * [[dSampleWeighted]]: every source keeps its OWN k=20 priority
    * sample (integer-exact priority `hash << 20 div n_chars`, same
    * Duffield-Lund-Thorup ranking), so a mixture rebalance draws
    * quality-weighted exemplars per stratum and a giant stratum can
    * never crowd a small one out of the pool.
    *
    * Scale shape: ONE grouped [[graft.functions.BottomKByHash]]
    * aggregate — ≤3k longs of partial state per (task, source) with
    * map-side combine, never a per-source rank window (the window form
    * sorts every stratum, and a crawl's `web` stratum is billions of
    * rows) — then the |sources|·20-row sample broadcasts back for the
    * weight columns, exactly [[dQuantileFilter]]'s join-back shape. */
  def dSampleStratified(s: SparkSession, dir: String): DataFrame = {
    graft.functions.native.register(s)
    val docs = tbl(s, dir, "documents").filter(col("n_chars") > 0L)
    val pri = expr(
      "(doc_id % 1000000007L) * 2654435761L % 1000000007L * 1048576L" +
        " div n_chars")
    val sample = docs
      .withColumn("__pri", pri)
      .groupBy("source")
      .agg(expr("graft_bottomk(__pri, doc_id, 20)").as("ids"))
      .select(col("source"),
        posexplode(col("ids")).as(Seq("__i", "doc_id")))
      .select(col("source"), (col("__i") + 1L).cast(LongType).as("rk"),
        col("doc_id"))
    docs.select(col("doc_id"), col("n_chars"))
      .join(broadcast(sample), "doc_id")
      .select(col("source"), col("rk"), col("doc_id"), col("n_chars"))
  }

  /** Narrow per-doc token-count frame feeding the sequence packer —
    * (doc_id, source, n_tokens), ~32 B/row. Cached because the two-level
    * pack consumes it on TWO branches (the per-shard prefix window and
    * the per-shard totals aggregate); without the cache each branch
    * would re-tokenize the corpus. */
  private def packTokens(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "packTokens") {
      graft.functions.native.register(s)
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          expr("CAST(size(graft_tokens(text)) AS BIGINT)").as("n_tokens"))
        .cache()
    }

  /** Sequence packing — the step that turns a filtered corpus into fixed
    * token-budget training bins: within each source, docs pack in
    * deterministic (shard, doc_id) order — shard is
    * [[dShardAssign]]'s multiplicative hash of doc_id mod
    * [[PipelineParams.packShards]] — each doc placed at the running
    * token offset, bin = offset div budget (docs spanning a boundary
    * belong to the bin their first token lands in).
    *
    * Two-level plan, because a single per-source prefix window is ONE
    * task per source forever (a crawl's `web` source is most of a
    * 100 TB corpus — a serial cumulative sum over ~10¹⁰ rows): the
    * prefix window runs per (source, shard) — |sources|·packShards
    * parallel tasks at ANY skew — and a broadcast join of the
    * |sources|·packShards per-shard token totals (one tiny aggregate +
    * a prefix over SHARDS, never documents) re-bases each shard's local
    * offsets. The result is bit-identical to a serial pack of the
    * source in (shard, doc_id) order — the DuckDB oracle computes
    * exactly that single serial window, so the hash match proves the
    * re-base algebra. packShards = 1 degenerates to the plain
    * per-source doc_id-order pack (the streaming packer's contract). */
  def dPackSequences(s: SparkSession, dir: String,
      p: PipelineParams = PipelineParams.Default): DataFrame = {
    val budget = p.packBudget
    val nsh = p.packShards
    val docs = packTokens(s, dir).withColumn("shard",
      expr(s"((doc_id % 1000003) * 2654435761) % 1000003 % ${nsh}L"))
    val wLoc = Window.partitionBy("source", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // per-shard token totals: |sources|·packShards rows — the prefix
    // window over SHARDS runs on this aggregate frame, never documents
    val wBase = Window.partitionBy("source").orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = docs.groupBy("source", "shard")
      .agg(sum("n_tokens").as("__shard_tokens"))
      .withColumn("shard_base",
        coalesce(sum("__shard_tokens").over(wBase), lit(0L)))
      .select(col("source"), col("shard"), col("shard_base"))
    docs
      .withColumn("__loc", coalesce(sum(col("n_tokens")).over(wLoc), lit(0L)))
      .join(broadcast(bases), Seq("source", "shard"))
      .withColumn("bin_offset", col("shard_base") + col("__loc"))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        expr(s"bin_offset div ${budget}L").as("bin_id"),
        (col("bin_offset") % budget).as("offset_in_bin"))
  }

  /** Packing-efficiency telemetry over [[dPackSequences]]' two-level
    * rule — the bins report a training-data owner reads before a run:
    * per source, the doc/token mass, how many bins exist (last doc's
    * bin + 1), how many actually receive a doc START (a long doc can
    * span bins that start no one), and the heaviest bin by both doc
    * count and started-token mass — the direct check that the budget
    * and the doc-length distribution are compatible.
    *
    * Plan: the pack's per-(source, shard) window feeds two stacked
    * keyed aggregates ((source, bin) then source) — map-side combine on
    * both, no new window, nothing per-pair. */
  def dPackStats(s: SparkSession, dir: String,
      p: PipelineParams = PipelineParams.Default): DataFrame =
    dPackSequences(s, dir, p)
      .groupBy("source", "bin_id")
      .agg(count(lit(1)).as("__docs"), sum("n_tokens").as("__toks"))
      .groupBy("source")
      .agg(sum("__docs").as("n_docs"),
        (max("bin_id") + 1L).as("n_bins"),
        count(lit(1)).as("bins_started"),
        sum("__toks").as("sum_tokens"),
        max("__docs").as("max_docs_in_bin"),
        max("__toks").as("max_bin_tokens"))

  /** PII scrub: mask email-like and long-digit-run (phone/account)
    * patterns before a corpus ships to training. Pure per-row regexp
    * columns — no shuffle, scan-speed at any scale. Patterns are kept to
    * syntax with identical semantics in Java regex (Spark) and RE2
    * (DuckDB). */
  def tPiiMask(s: SparkSession, dir: String): DataFrame =
    // graft_pii_scrub computes all three outputs in ONE byte scan — the
    // four-regex projection it replaces re-scanned every row 4x with
    // backtracking java.util.regex and was the suite's 100x census
    // ceiling (116x). Semantics identical (PiiScrubSpec property-pins
    // the kernel against the regexes; the DuckDB oracle still runs the
    // regex form). The struct is projected in the same SELECT, so the
    // scrub runs once per row under whole-stage codegen subexpression
    // elimination.
    tbl(s, dir, "documents")
      .select(col("doc_id"), expr("graft_pii_scrub(text)").as("p"))
      .select(col("doc_id"), col("p.masked").as("masked"),
        col("p.email_chars").as("email_chars"),
        col("p.digit_run_chars").as("digit_run_chars"))

  /** The capstone: the whole training-data preprocessing pipeline as ONE
    * declarative plan — quality filter, language-ID, near-dup keeper
    * selection (connected components), deterministic mixture sampling —
    * ending in per-source corpus statistics. Every stage is one of this
    * module's oracle-checked operators; composing them stays a single
    * Catalyst plan (plus the clustering loop's bounded rounds), so the
    * optimizer prunes/pushes across stage boundaries and the cached
    * shared frames (tokens, shingles, clusters) are computed once. The
    * final aggregates are integers — robust to compose across engines. */
  def dCorpusPipeline(s: SparkSession, dir: String): DataFrame = {
    val qual = tQuality(s, dir).select(col("doc_id"),
      col("n_tokens"), col("quality"))
    val lang = tLangid(s, dir).select(col("doc_id"), col("pred_lang"))
    val keepers = dDedupClusters(s, dir)
      .filter(col("is_keeper")).select("doc_id")
    val coin = (col("doc_id") % lit(1000000007L) * lit(2654435761L)
      % lit(1000000007L)) % 100L
    val rate = when(col("source") === "web", 50L)
      .when(col("source") === "books", 80L)
      .otherwise(30L)
    tbl(s, dir, "documents").select(col("doc_id"), col("source"))
      .filter(coin < rate)
      .join(qual, "doc_id").join(lang, "doc_id").join(keepers, "doc_id")
      .filter(col("quality") > 0.1 && col("pred_lang") === "en")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"))
  }

  /** The FULL curation DAG as one declarative plan — the r10 capstone's
    * quality → langid → near-dup → mix → stats chain extended with the
    * stages a production pretraining pipeline actually ships: keep-BEST
    * canonical selection (not keep-lowest-id), leak-free train/val/test
    * splitting (per CLUSTER, so no eval doc has a near-dup in train),
    * epoch-weighted mixing (fractional source repeat weights), and
    * sequence packing of the upsampled train stream into fixed
    * token-budget bins — eight stage boundaries, one Catalyst plan.
    *
    * Sharing is structural, not hoped-for: the three frames every stage
    * re-reads are session-cached ([[tokenHashes]] behind the langid,
    * [[tQuality]] feeding both the gate and keep-best, and
    * [[dDedupClusters]] feeding keep-best, the split, AND the keeper
    * semi-join), so the corpus tokenizes ONCE and the plan reads the
    * documents parquet exactly once more for the id/source projection —
    * PlanQualitySpec pins both counts. Packing reuses the quality
    * frame's n_tokens (the same `graft_tokens` length) instead of
    * re-tokenizing. Output: per-source packed-corpus statistics —
    * distinct docs, packed sequences (doc × epoch), exact token mass,
    * bin count — all integers, exact cross-engine. */
  def dCorpusPipelineV2(s: SparkSession, dir: String): DataFrame = {
    val qual = tQuality(s, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
    val lang = tLangid(s, dir).select(col("doc_id"), col("pred_lang"))
    val clusters = dDedupClusters(s, dir).select("doc_id", "cluster_id")
    // keep-best: the canonical member of every cluster — max quality,
    // ties to the lowest id (dKeepBest's max-then-tiebreak shape: two
    // keyed aggs with map-side combine, no per-cluster rank window)
    val members = clusters
      .join(qual.select(col("doc_id"), col("quality")), Seq("doc_id"))
    val best = members.groupBy("cluster_id")
      .agg(max("quality").as("__bq"))
    val keepers = members.join(best, Seq("cluster_id"))
      .filter(col("quality") === col("__bq"))
      .groupBy("cluster_id").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val coin = (col("doc_id") % lit(1000000007L) * lit(2654435761L)
      % lit(1000000007L)) % 100L
    val rate = when(col("source") === "web", 50L)
      .when(col("source") === "books", 80L)
      .otherwise(30L)
    val survivors = tbl(s, dir, "documents")
      .select(col("doc_id"), col("source"))
      // leak-free split: per-CLUSTER hash, singleton fallback for docs
      // the shingle pipeline dropped (dSplitLeakfree's rule verbatim)
      .join(clusters.select(col("doc_id"), col("cluster_id").as("__cl")),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("__cl"), col("doc_id")))
      .withColumn("__hv",
        expr("((cluster_id % 1000003) * 2654435761) % 1000003"))
      .filter(col("__hv") % 100 < 80) // the TRAIN split trains; val/test exit here
      .join(qual, Seq("doc_id")).join(lang, Seq("doc_id"))
      .filter(col("quality") > 0.1 && col("pred_lang") === "en")
      .join(keepers, Seq("doc_id"), "left_semi")
      .filter(coin < rate)
    // epoch-weighted upsampling of the surviving train docs
    val up = survivors
      .withColumn("__coin", coin)
      .withColumn("__w", expr(
        "100L + (CAST(ascii(right(source, 1)) AS BIGINT) % 4) * 50L"))
      .withColumn("n_epochs", expr(
        "__w div 100L + IF(__coin < __w % 100L, 1L, 0L)"))
      .withColumn("epoch", explode(expr("sequence(1L, n_epochs)")))
    // sequence packing of the upsampled stream — dPackSequences' rule:
    // (shard, doc_id, epoch) order per source, shard = the pack-shard
    // multiplicative hash. The per-source PACK STATS have a closed
    // form, so this stage needs NO window at all: offsets are a
    // nondecreasing cumulative sum in pack order, hence
    //   max(bin_offset) = sum_tokens − n_tokens(last row in pack order)
    //   n_bins = max(bin_offset) div budget + 1
    // — one keyed aggregate (max_by picks the last-packed row), the
    // single consumer of the upsampled frame, so documents still scans
    // exactly once and the plan is window-FREE (PlanQualitySpec pins
    // both). The closed form's identity with a materialized pack is
    // pinned by the correctness gate itself: the DuckDB oracle
    // computes the full serial window over the same upsampled stream.
    // The quality frame's n_tokens IS graft_tokens' count, so packing
    // re-uses the shared tokenization.
    val nsh = PipelineParams.Default.packShards
    up.withColumn("shard",
        expr(s"((doc_id % 1000003) * 2654435761) % 1000003 % ${nsh}L"))
      .groupBy("source")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_seqs"),
        sum("n_tokens").as("sum_tokens"),
        (expr("(sum(n_tokens) - max_by(n_tokens, struct(shard, doc_id, epoch)))" +
          " div 2048L") + 1L).as("n_bins"))
  }

  // ------------------------------------------------------------- multimodal
  //
  // The three mm_* operators decode STORED binary payload columns with
  // the REAL pure-JVM codecs in graft.multimodal.Multimodal (PNG with
  // zlib+all-five-filters+CRC, RIFF/WAVE PCM, RIFF/AVI DIB). The store
  // is a (event_id, png, wav, avi) parquet table — written by TenX at
  // generation time, or derived once per session from MediaSynth for
  // the read-only driver dirs (MediaStore) — so the plan exercises
  // parquet blob I/O, payload-COLUMN pruning (each operator's scan
  // reads exactly one binary column), partitioned decode, and the
  // corrupt-blob quarantine (a bad payload yields an `error` row, not a
  // job failure; MultimodalSpec pins it). The DuckDB oracle recomputes
  // every feature straight from the synthesis formulas over the SAME
  // integer-sampled id set, so a hash match proves store∘decode is the
  // identity and the feature math is right. Decode is a map-only
  // mapPartitions batch loop (the mapInPandas analog) — no shuffle,
  // embarrassingly parallel, exactly the stages a 100 TB blob table
  // runs with more splits.

  private def media(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(graft.multimodal.MediaStore.ensure(s, dir,
      tbl(s, dir, "events")))

  /** Decoded 64-bit perceptual hashes of the stored PNG column
    * (event_id, phash, error), memoized + cached — the same
    * shared-intermediate class as [[tokenHashes]]/[[sig40]]: the PNG
    * decode (zlib inflate + filter reconstruction + 8×8 luminance grid)
    * dominates the phash family's cost, two operators consume the frame
    * ([[mmPhash]], [[mmPhashNeardup]]), and the near-dup's band
    * self-join + keeper join-back otherwise re-decode the whole store
    * once per plan subtree — 3 full decode chains in one physical plan
    * (plans/r13/mm_phash_neardup_before.txt: 3× Scan→MapPartitions).
    * 24 B/row of hash state replaces re-inflating every PNG. */
  private def phashes(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "phashes") {
      graft.multimodal.Multimodal
        .imagePHashChecked(media(s, dir).select("event_id", "png"))
        .cache()
    }

  /** Image features from the stored PNG column: decode (zlib inflate,
    * filter reconstruction, CRC verification), dimensions + exact
    * per-channel pixel sums. Quarantine rows are split off, not fatal. */
  def mmFeatures(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal
      .imageFeaturesChecked(media(s, dir).select("event_id", "png"))
      .filter(col("error").isNull).drop("error")

  /** Image near-dup dedup by perceptual hash — the image analog of
    * [[dExactDedup]]: decode the stored PNG, average-hash it onto a
    * 64-bit fingerprint ([[graft.multimodal.Multimodal
    * .imagePHashChecked]] — scale/brightness-structure invariant where
    * a byte hash is not), group identical fingerprints, keep the
    * minimum id. Re-encoded or resized copies of the same picture land
    * in one group even though their PNG bytes differ.
    *
    * Scale shape: map-only decode+hash (the same per-thread-zlib
    * mapPartitions loop as the feature extractors) then ONE groupBy on
    * the 64-bit key with map-side combine — the exact-dedup plan at
    * image scale; nothing pairwise anywhere. */
  def mmPhash(s: SparkSession, dir: String): DataFrame =
    phashes(s, dir)
      .filter(col("error").isNull)
      .groupBy("phash")
      .agg(count(lit(1)).as("n_images"), min(col("event_id")).as("keeper_id"))

  /** Image NEAR-dup verdicts by banded perceptual hash — [[mmPhash]]'s
    * exact-fingerprint dedup extended to re-encodes that flip a few
    * hash bits (crop/noise/palette wobble): two images are near-dups
    * when their 64-bit phashes differ in ≤ 3 bits. Candidates come from
    * a 4×16-bit band equi-join over the phash, and by PIGEONHOLE the
    * banding is EXACT at this threshold — ≤ 3 differing bits can touch
    * at most 3 of the 4 bands, so every qualifying pair shares at least
    * one intact band; no recall is lost to the bucketing (the same
    * LSH-band argument as the text path, here with a provable bound).
    * Per image: `first_dup` = lowest earlier image within the Hamming
    * ball sharing a band (null = kept) — one verdict row per stored
    * image, the same bounded output shape as the stream dedups.
    *
    * Scale shape: map-only decode+hash, then the pair scan runs at
    * DISTINCT-phash level — the min-owner identity of [[tHapax]] /
    * [[tNovelty]] lifted to the Hamming ball. Re-encodes of one picture
    * hash IDENTICALLY (that is [[mmPhash]]'s whole premise), so image-
    * level banding made every duplicate group collide with itself in
    * all 4 bands: Σ bucket² was 55.1M image pairs at sf0.1 where the
    * distinct-phash frame (6.7k of 50k rows) carries 875K — 63× less —
    * and image-level pair mass grows QUADRATICALLY with the duplication
    * factor while the distinct frame doesn't grow at all. The verdict
    * decomposes exactly: with `gmin(p)` = the lowest image id hashing
    * to p and `xmin(p)` = the lowest gmin over p's ≤3-bit neighbor
    * values (4-row band explode of the DISTINCT frame, equi-join,
    * `bit_count` verify inside the join), a group's only member below b
    * (if any) is its gmin, so `first_dup(b) = least(gmin WHEN < b,
    * xmin WHEN < b)` — same rows bit-for-bit, oracle unchanged. The
    * join-back keys on phash (vocabulary-sized stats frame,
    * AQE-splittable); nothing pairwise beyond the distinct-level banded
    * buckets. */
  def mmPhashNeardup(s: SparkSession, dir: String): DataFrame =
    phashNeardupVerdicts(phashes(s, dir)
      .filter(col("error").isNull)
      .select(col("event_id"), col("phash")))

  /** The distinct-level verdict pass of [[mmPhashNeardup]], split out so
    * the min-owner decomposition is property-testable against the
    * pairwise definition on engineered hash sets (MultimodalSpec). */
  private[graft] def phashNeardupVerdicts(ph: DataFrame): DataFrame = {
    val dp = ph.groupBy("phash").agg(min(col("event_id")).as("gmin"))
    val bands = dp.select(col("phash"), col("gmin"),
      posexplode(expr(
        "transform(sequence(0, 3), k -> shiftright(phash, k * 16) & 65535)"))
        .as(Seq("band_idx", "sig")))
    // both directions fall out of the unordered join (no id order at
    // distinct level); multi-band duplicates of a neighbor pair are
    // absorbed by the min
    val xmin = bands.toDF("phash", "gmin", "band_idx", "sig")
      .join(bands.toDF("ph_a", "ga", "band_idx", "sig"),
        Seq("band_idx", "sig"))
      .filter(col("ph_a") =!= col("phash") &&
        expr("bit_count(ph_a ^ phash) <= 3"))
      .groupBy("phash")
      .agg(min(col("ga")).as("xmin"))
    ph.join(dp, "phash")
      .join(xmin, Seq("phash"), "left")
      .select(col("event_id"),
        least(
          when(col("gmin") < col("event_id"), col("gmin")),
          when(col("xmin") < col("event_id"), col("xmin"))).as("first_dup"))
      .select(col("event_id"), col("first_dup"),
        col("first_dup").isNull.as("kept"))
  }

  /** Video frame sampling from the stored AVI column: decode (hdrl/movi
    * walk, header-vs-actual frame-count cross-check), sample every 3rd
    * frame, fold the sampled frames' byte sums into a signature. */
  def mmFrameSample(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal
      .videoFeaturesChecked(media(s, dir).select("event_id", "avi"))
      .filter(col("error").isNull).drop("error")

  /** Audio windowing from the stored WAV column: decode (RIFF walk with
    * unknown-chunk skipping), 400-sample windows hopping 200 (50%
    * overlap — standard feature framing), total energy + a fold of
    * per-window energies. */
  def mmAudioChunks(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal
      .audioFeaturesChecked(media(s, dir).select("event_id", "wav"))
      .filter(col("error").isNull).drop("error")

  /** Frame-to-frame motion from the stored AVI column: absolute byte
    * deltas between consecutive frames
    * ([[graft.multimodal.Multimodal.videoMotionChecked]]) — the
    * scene-change / activity gate of a video curation pipeline. Same
    * map-only scale shape and quarantine contract as the other mm_*
    * decoders. */
  def mmVideoMotion(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal
      .videoMotionChecked(media(s, dir).select("event_id", "avi"))
      .filter(col("error").isNull).drop("error")

  /** Zero-crossing-rate features from the stored WAV column: decode,
    * then pure-integer sign-change counts clip-wide and per 400/200
    * window ([[graft.multimodal.Multimodal.audioZcrChecked]]) — the
    * signal-activity gate (VAD/noise screening) of an audio pipeline.
    * Same map-only scale shape and quarantine contract as the other
    * mm_* decoders. */
  def mmAudioZcr(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal
      .audioZcrChecked(media(s, dir).select("event_id", "wav"))
      .filter(col("error").isNull).drop("error")

  /** Silence/activity profile from the stored WAV column: decode, then
    * per-window RAW energies with an integer below-average QUIET
    * verdict ([[graft.multimodal.Multimodal.audioSilenceChecked]]) —
    * the VAD-style gate audio curation runs before paying for
    * transcription. Same map-only scale shape and quarantine contract
    * as the other mm_* decoders. */
  def mmAudioSilence(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal
      .audioSilenceChecked(media(s, dir).select("event_id", "wav"))
      .filter(col("error").isNull).drop("error")

  /** Audio dedup by energy-delta fingerprint — [[mmPhash]]'s grouping
    * shape over [[graft.multimodal.Multimodal.audioFingerprintChecked]]:
    * clips sharing a level-invariant energy-shape signature collapse to
    * one keeper. An exact-dedup plan (fingerprint groupBy) at audio
    * scale — nothing pairwise anywhere. */
  def mmAudioFingerprint(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal
      .audioFingerprintChecked(media(s, dir).select("event_id", "wav"))
      .filter(col("error").isNull)
      .groupBy("afp")
      .agg(count(lit(1)).as("n_clips"), min(col("event_id")).as("keeper_id"))

  // ------------------------------------------------------------ oracle SQL

  private val toksDuck = PT.tokensDuck("text")
  /** Shared PQ-ADC oracle pipeline (codebook -> encode -> LUT -> ADC-
    * scored candidates), ending at `scored(q_id, n_id, score)`;
    * consumed by the ann_pq rank tail and the ann_rerank shortlist +
    * exact-rerank tail. */
  private val pqScoredCte =
    s"""emb AS (SELECT vec_id, embedding AS v FROM embeddings),
       |cbt AS (SELECT list(v ORDER BY vec_id) AS cb FROM emb
       |        WHERE vec_id < 16),
       |enc AS (
       |  SELECT vec_id, v,
       |    list_transform(range(0, 8), sub ->
       |      list_transform(range(0, 16), c ->
       |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(range(1, 9), j ->
       |            (CAST(v[sub * 8 + j] AS DOUBLE)
       |             - CAST(cb[c + 1][sub * 8 + j] AS DOUBLE))
       |            * (CAST(v[sub * 8 + j] AS DOUBLE)
       |               - CAST(cb[c + 1][sub * 8 + j] AS DOUBLE)))),
       |          (x, y) -> x + y))) AS dists
       |  FROM emb CROSS JOIN cbt),
       |coded AS (
       |  SELECT vec_id, v,
       |    list_transform(dists, d -> list_position(d, list_min(d))) AS code
       |  FROM enc),
       |codn AS (
       |  SELECT vec_id, code,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(0, 8), sub ->
       |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(range(1, 9), j ->
       |            CAST(cb[code[sub + 1]][sub * 8 + j] AS DOUBLE)
       |            * CAST(cb[code[sub + 1]][sub * 8 + j] AS DOUBLE))),
       |          (x, y) -> x + y))),
       |      (x, y) -> x + y)) AS rnorm
       |  FROM coded CROSS JOIN cbt),
       |q AS (
       |  SELECT vec_id AS q_id,
       |    flatten(list_transform(range(0, 8), sub ->
       |      list_transform(range(0, 16), c ->
       |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(range(1, 9), j ->
       |            CAST(v[sub * 8 + j] AS DOUBLE)
       |            * CAST(cb[c + 1][sub * 8 + j] AS DOUBLE))),
       |          (x, y) -> x + y)))) AS lut,
       |    ${PV.normDuck("v")} AS qn
       |  FROM emb CROSS JOIN cbt WHERE vec_id < 8),
       |scored AS (
       |  SELECT q.q_id, n.vec_id AS n_id,
       |    CASE WHEN q.qn * n.rnorm = CAST(0 AS DOUBLE)
       |         THEN CAST(0 AS DOUBLE)
       |    ELSE list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(0, 8), sub ->
       |        q.lut[sub * 16 + n.code[sub + 1]])), (x, y) -> x + y)
       |      / (q.qn * n.rnorm) END AS score
       |  FROM codn n CROSS JOIN q WHERE n.vec_id <> q.q_id)""".stripMargin

  private val thCte =
    s"""toksT AS (SELECT doc_id, lang, $toksDuck AS toks
       |          FROM documents WHERE len($toksDuck) >= 3),
       |thT AS (SELECT doc_id, lang, toks, ${PT.tokenHashesDuck("toks")} AS th
       |        FROM toksT)""".stripMargin
  private val pairsCte =
    s"""$thCte,
       |shT AS (SELECT doc_id, ${PT.shingleHashesDuck("th")} AS sh FROM thT),
       |mhT AS (SELECT doc_id, sh, ${PT.minhashDuck("sh")} AS mh FROM shT),
       |bT AS (SELECT doc_id, ${PT.bandsDuck("mh")} AS bands FROM mhT),
       |eb AS (SELECT doc_id, r.b AS band_idx, bands[r.b + 1] AS sig
       |       FROM bT CROSS JOIN range(0, 8) AS r(b)),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                 a.band_idx
       |          FROM eb a JOIN eb b ON a.band_idx = b.band_idx
       |            AND a.sig = b.sig AND a.doc_id < b.doc_id)""".stripMargin

  /** Shared oracle for [[dIncrementalDedup]] and its streaming twin
    * [[streamIncrementalDedup]] — the batch fold's first-arrival
    * ownership equals min-id, so both produce identical verdicts. */
  private val incDedupOracle =
    s"""WITH $pairsCte,
       |dl AS (SELECT doc_id, band_idx, sig FROM eb WHERE doc_id % 10 = 7),
       |cp AS (SELECT doc_id, band_idx, sig FROM eb WHERE doc_id % 10 <> 7),
       |co AS (SELECT dl.doc_id, min(cp.doc_id) AS corpus_dup
       |       FROM dl JOIN cp USING (band_idx, sig) GROUP BY 1),
       |dd AS (SELECT x.doc_id, min(e.doc_id) AS delta_dup
       |       FROM dl x JOIN dl e ON x.band_idx = e.band_idx
       |         AND x.sig = e.sig AND e.doc_id < x.doc_id
       |       GROUP BY 1)
       |SELECT doc_id, corpus_dup, delta_dup,
       |       corpus_dup IS NULL AND delta_dup IS NULL AS kept
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) dx
       |LEFT JOIN co USING (doc_id)
       |LEFT JOIN dd USING (doc_id)""".stripMargin

  /** Sampled stored-media id set (mirrors `MediaStore.sampleStep`):
    * stride = ceil(n / MaxStoredRows), ids divisible by the stride —
    * the same integer derivation the store's writer uses. */
  private val mediaIdsCte = {
    val cap = graft.multimodal.MediaStore.MaxStoredRows
    s"""mediaIds AS (
       |  SELECT event_id FROM events,
       |    (SELECT CAST((count(*) + ${cap - 1}) // $cap AS BIGINT) AS st
       |     FROM events)
       |  WHERE event_id % st = 0)""".stripMargin
  }

  /** Corpus-scaled bucket (mirrors `bucketed`): band width b from the
    * same integer rule as `lshBandBits`, bucket = low b bits of the
    * 40-plane signature. */
  private val bucketCte =
    s"""cntE AS (SELECT least(CAST((count(*) + 63) // 64 AS BIGINT),
       |                      CAST(1 AS BIGINT) << 20) AS target
       |         FROM embeddings),
       |bselE AS (SELECT CAST(min(bb.r) AS INT) AS b
       |          FROM range(8, 21) bb(r), cntE
       |          WHERE (CAST(1 AS BIGINT) << bb.r) >= cntE.target),
       |e AS (SELECT vec_id, embedding AS v,
       |             ${PV.lshSigDuck("embedding")} &
       |               ((CAST(1 AS BIGINT) << b) - 1) AS bucket
       |      FROM embeddings, bselE)""".stripMargin

  /** DuckDB twin of `multiProbe`: Hamming-≤2 probe list over the b-bit
    * bucket space (b captured from bselE in the enclosing query). */
  private def probeList(qb: String): String =
    s"""list_concat(
       |  list_prepend($qb, list_transform(range(0, b),
       |    j -> xor($qb, CAST(1 AS BIGINT) << j))),
       |  flatten(list_transform(range(0, b - 1), j ->
       |    list_transform(range(j + 1, b), k ->
       |      xor(xor($qb, CAST(1 AS BIGINT) << j),
       |          CAST(1 AS BIGINT) << k)))))""".stripMargin

  private lazy val bm25OracleSql: String =
      s"""WITH $thCte,
         |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |                 CAST(sum(len(th)) AS BIGINT) AS n_tokens
         |          FROM thT),
         |tu AS (SELECT doc_id, CAST(len(th) AS BIGINT) AS dl,
         |              unnest(th) AS t
         |       FROM thT),
         |tf AS (SELECT doc_id, dl, t, CAST(count(*) AS BIGINT) AS tf
         |       FROM tu WHERE t IN (${bm25Terms.map(termHash).mkString(", ")})
         |       GROUP BY 1, 2, 3),
         |dfq AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf
         |        GROUP BY t),
         |sc AS (SELECT doc_id,
         |         CAST(sum(
         |           (((n_docs - df) * 2000000 + 1000000) // (2 * df + 1)) *
         |           ((tf * 22 * n_tokens * 1000) //
         |            (tf * 10 * n_tokens + 3 * n_tokens + 9 * dl * n_docs))
         |         ) AS BIGINT) AS score
         |       FROM tf JOIN dfq USING (t) CROSS JOIN stats
         |       GROUP BY doc_id),
         |top AS (SELECT doc_id, score FROM sc
         |        ORDER BY score DESC, doc_id LIMIT 10)
         |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id)
         |         AS BIGINT) AS rk, doc_id, score
         |FROM top""".stripMargin

  val oracle: Map[String, String] = Map(
    "d_exact_dedup" ->
      """SELECT sha256(text) AS content_hash, min(doc_id) AS keeper_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    // distinct shingles per doc -> global first owner (min doc_id) ->
    // per-doc novel fraction; one IEEE divide of exact integers
    "t_novelty" ->
      s"""WITH $thCte,
         |shT AS (SELECT doc_id, ${PT.shingleHashesDuck("th")} AS sh
         |        FROM thT),
         |ex AS (SELECT DISTINCT doc_id, g FROM
         |         (SELECT doc_id, unnest(sh) AS g FROM shT)),
         |f AS (SELECT g, min(doc_id) AS first_doc FROM ex GROUP BY g)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_novel,
         |       CAST(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0
         |         END) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |         AS novelty
         |FROM ex JOIN f USING (g) GROUP BY doc_id""".stripMargin,
    // centroid cosine of the even/odd corpus halves per label: exact
    // per-dim BIGINT sums, HUGEINT dim-fold, three final double casts
    "emb_drift" ->
      """WITH q AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |             i AS dim, vec_id % 2 AS half,
        |             CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000.0)
        |               AS BIGINT) AS qv
        |           FROM embeddings CROSS JOIN range(1, 65) r(i)),
        |s AS (SELECT label, dim,
        |        CAST(sum(CASE WHEN half = 0 THEN qv ELSE 0 END)
        |          AS BIGINT) AS s0,
        |        CAST(sum(CASE WHEN half = 1 THEN qv ELSE 0 END)
        |          AS BIGINT) AS s1
        |      FROM q GROUP BY 1, 2),
        |d AS (SELECT label,
        |        sum(CAST(s0 AS HUGEINT) * CAST(s1 AS HUGEINT)) AS dot,
        |        sum(CAST(s0 AS HUGEINT) * CAST(s0 AS HUGEINT)) AS s0sq,
        |        sum(CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT)) AS s1sq
        |      FROM s GROUP BY 1),
        |c AS (SELECT CAST(label AS BIGINT) AS label,
        |        CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_even,
        |        CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_odd
        |      FROM embeddings GROUP BY 1)
        |SELECT d.label, c.n_even, c.n_odd,
        |       CAST(dot AS DOUBLE) / (sqrt(CAST(s0sq AS DOUBLE)) *
        |         sqrt(CAST(s1sq AS DOUBLE))) AS drift_cos
        |FROM d JOIN c USING (label)""".stripMargin,
    "d_minhash_lsh" ->
      s"""WITH $pairsCte
         |SELECT doc_a, doc_b, count(*) AS shared_bands
         |FROM pairs GROUP BY 1, 2""".stripMargin,
    "d_incremental_dedup" -> incDedupOracle,
    // the streaming twin folds to identical verdicts in batch mode
    // (first-arrival == min-id): one oracle serves both
    "stream_incremental_dedup" -> incDedupOracle,
    "stream_minhash_dedup" ->
      s"""WITH $pairsCte,
         |dup AS (SELECT doc_b AS doc_id, min(doc_a) AS first_dup
         |        FROM pairs GROUP BY doc_b)
         |SELECT d.doc_id, dup.doc_id IS NULL AS kept, dup.first_dup
         |FROM documents d LEFT JOIN dup ON dup.doc_id = d.doc_id""".stripMargin,
    "stream_vec_dedup" ->
      s"""WITH e AS (SELECT vec_id, ${PV.lshSigDuck("embedding")} AS sig
         |           FROM embeddings),
         |eb AS (SELECT vec_id, k.r AS band,
         |              (sig >> (k.r * 20)) & 1048575 AS bsig
         |       FROM e, range(0, 2) k(r)),
         |own AS (SELECT band, bsig, min(vec_id) AS owner
         |        FROM eb GROUP BY 1, 2),
         |dup AS (SELECT eb.vec_id, min(own.owner) AS first_dup
         |        FROM eb JOIN own USING (band, bsig)
         |        WHERE own.owner < eb.vec_id GROUP BY eb.vec_id)
         |SELECT e.vec_id, dup.vec_id IS NULL AS kept, dup.first_dup
         |FROM e LEFT JOIN dup ON dup.vec_id = e.vec_id""".stripMargin,
    "d_simhash" ->
      s"""WITH $thCte,
         |f AS (SELECT doc_id, ${PT.simhashDuck("th")} AS simhash FROM thT)
         |SELECT doc_id, simhash, count(*) OVER (PARTITION BY simhash) AS n_same
         |FROM f""".stripMargin,
    "d_ngram_jaccard" ->
      s"""WITH $pairsCte,
         |cand AS (SELECT DISTINCT doc_a, doc_b FROM pairs)
         |SELECT cand.doc_a, cand.doc_b,
         |       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |       CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
         |         AS jaccard
         |FROM cand
         |JOIN shT sa ON sa.doc_id = cand.doc_a
         |JOIN shT sb ON sb.doc_id = cand.doc_b""".stripMargin,
    "d_ngram_containment" ->
      s"""WITH $pairsCte,
         |cand AS (SELECT DISTINCT doc_a, doc_b FROM pairs)
         |SELECT cand.doc_a, cand.doc_b,
         |       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |       CAST(len(list_distinct(sa.sh)) AS DOUBLE) AS containment_a,
         |       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |       CAST(len(list_distinct(sb.sh)) AS DOUBLE) AS containment_b
         |FROM cand
         |JOIN shT sa ON sa.doc_id = cand.doc_a
         |JOIN shT sb ON sb.doc_id = cand.doc_b""".stripMargin,
    "d_dedup_clusters" ->
      s"""WITH RECURSIVE $pairsCte,
         |cand2 AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
         |jac AS (
         |  SELECT cand2.doc_a, cand2.doc_b,
         |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |         CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
         |           AS jaccard
         |  FROM cand2
         |  JOIN shT sa ON sa.doc_id = cand2.doc_a
         |  JOIN shT sb ON sb.doc_id = cand2.doc_b),
         |e2 AS (SELECT doc_a AS src, doc_b AS dst FROM jac WHERE jaccard >= 0.5
         |       UNION ALL
         |       SELECT doc_b, doc_a FROM jac WHERE jaccard >= 0.5),
         |reach(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM shT
         |  UNION
         |  SELECT e2.dst, reach.lbl FROM reach JOIN e2 ON e2.src = reach.id)
         |SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id,
         |       id = min(lbl) AS is_keeper
         |FROM reach GROUP BY id""".stripMargin,
    // cluster CTE + t_quality's quality formula; keeper = max quality,
    // ties to the lowest doc_id (max-then-tiebreak, mirroring the
    // window-free Spark plan)
    "d_keep_best" ->
      s"""WITH RECURSIVE $pairsCte,
         |cand2 AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
         |jac AS (
         |  SELECT cand2.doc_a, cand2.doc_b,
         |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |         CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
         |           AS jaccard
         |  FROM cand2
         |  JOIN shT sa ON sa.doc_id = cand2.doc_a
         |  JOIN shT sb ON sb.doc_id = cand2.doc_b),
         |e2 AS (SELECT doc_a AS src, doc_b AS dst FROM jac WHERE jaccard >= 0.5
         |       UNION ALL
         |       SELECT doc_b, doc_a FROM jac WHERE jaccard >= 0.5),
         |reach(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM shT
         |  UNION
         |  SELECT e2.dst, reach.lbl FROM reach JOIN e2 ON e2.src = reach.id),
         |cl AS (SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
         |       FROM reach GROUP BY id),
         |qd AS (
         |  SELECT doc_id,
         |         (0.5 * (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) +
         |          0.5 * (CAST(LEAST(n_tokens, 200) AS DOUBLE) / 200.0)) -
         |         (CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE))
         |           AS quality
         |  FROM (
         |    SELECT doc_id,
         |           CAST(length(text) AS BIGINT) AS n_chars,
         |           CAST(len(toks) AS BIGINT) AS n_tokens,
         |           CAST(length(text) -
         |                length(regexp_replace(text, '[.,!?;:]', '', 'g'))
         |                AS BIGINT) AS n_punct,
         |           CAST(len(list_filter(toks, t -> t IN ($stopListSql)))
         |                AS BIGINT) AS n_stop
         |    FROM (SELECT doc_id, text, $toksDuck AS toks FROM documents
         |          WHERE len($toksDuck) >= 1))),
         |mm AS (SELECT cl.doc_id, cl.cluster_id, qd.quality
         |       FROM cl JOIN qd USING (doc_id)),
         |b AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         |             max(quality) AS best_quality
         |      FROM mm GROUP BY 1)
         |SELECT mm.cluster_id, min(mm.doc_id) AS keeper_id,
         |       min(b.n_members) AS n_members,
         |       min(b.best_quality) AS best_quality
         |FROM mm JOIN b USING (cluster_id)
         |WHERE mm.quality = b.best_quality
         |GROUP BY mm.cluster_id""".stripMargin,
    // distinct-shingle document frequencies rolled back up per doc —
    // no pair enumeration, so the oracle mirrors the two keyed aggs
    "d_dup_ngram_frac" ->
      s"""WITH $thCte,
         |shT AS (SELECT doc_id, ${PT.shingleHashesDuck("th")} AS sh FROM thT),
         |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM shT),
         |dfT AS (SELECT shingle, count(*) AS df FROM ex GROUP BY 1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_dup_shingles
         |FROM ex JOIN dfT USING (shingle)
         |GROUP BY doc_id""".stripMargin,
    "d_split_leakfree" ->
      s"""WITH RECURSIVE $pairsCte,
         |cand2 AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
         |jac AS (
         |  SELECT cand2.doc_a, cand2.doc_b,
         |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |         CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
         |           AS jaccard
         |  FROM cand2
         |  JOIN shT sa ON sa.doc_id = cand2.doc_a
         |  JOIN shT sb ON sb.doc_id = cand2.doc_b),
         |e2 AS (SELECT doc_a AS src, doc_b AS dst FROM jac WHERE jaccard >= 0.5
         |       UNION ALL
         |       SELECT doc_b, doc_a FROM jac WHERE jaccard >= 0.5),
         |reach(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM shT
         |  UNION
         |  SELECT e2.dst, reach.lbl FROM reach JOIN e2 ON e2.src = reach.id),
         |cl AS (SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
         |       FROM reach GROUP BY id),
         |alldocs AS (
         |  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
         |h AS (SELECT doc_id, cluster_id,
         |             ((cluster_id % 1000003) * 2654435761) % 1000003 AS hv
         |      FROM alldocs)
         |SELECT doc_id, cluster_id,
         |       CASE WHEN hv % 100 < 80 THEN 'train'
         |            WHEN hv % 100 < 90 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM h""".stripMargin,
    // estimation audit: signature agreement vs exact set overlap per
    // LSH candidate pair — all integers
    "d_minhash_est_err" ->
      s"""WITH $pairsCte,
         |p AS (SELECT DISTINCT doc_a, doc_b FROM pairs)
         |SELECT p.doc_a, p.doc_b,
         |       CAST(len(list_filter(range(1, 33), i -> a.mh[i] = b.mh[i]))
         |            AS BIGINT) AS mh_agree,
         |       CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT)
         |         AS n_intersect,
         |       CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT)
         |         AS n_union
         |FROM p JOIN mhT a ON a.doc_id = p.doc_a
         |JOIN mhT b ON b.doc_id = p.doc_b""".stripMargin,
    // corpus hapax share per doc: token-frequency agg + join-back
    "t_hapax" ->
      s"""WITH $thCte,
         |ex AS (SELECT doc_id, unnest(th) AS h FROM thT),
         |fr AS (SELECT h, count(*) AS cf FROM ex GROUP BY 1),
         |pd AS (SELECT doc_id, h, count(*) AS n FROM ex GROUP BY 1, 2)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct,
         |       CAST(sum(CASE WHEN cf = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_hapax
         |FROM pd JOIN fr USING (h) GROUP BY doc_id""".stripMargin,
    // bigram-LM predictability: packed pair codes, floor arithmetic
    // mirrored operation-for-operation (see tNgramLm's scaladoc)
    "t_ngram_lm" ->
      s"""WITH $thCte,
         |du AS (SELECT t.doc_id, d.source,
         |         unnest(list_transform(range(1, len(th)),
         |           i -> th[i] * 2147483648 + th[i + 1])) AS code
         |       FROM thT t JOIN documents d ON d.doc_id = t.doc_id),
         |dc AS (SELECT doc_id, source, code,
         |         CAST(count(*) AS BIGINT) AS cnt
         |       FROM du GROUP BY 1, 2, 3),
         |ab AS (SELECT code, CAST(count(*) AS BIGINT) AS n_ab
         |       FROM du GROUP BY 1),
         |cx AS (SELECT code // 2147483648 AS ctx,
         |         CAST(sum(n_ab) AS BIGINT) AS n_a
         |       FROM ab GROUP BY 1)
         |SELECT dc.doc_id, dc.source,
         |       CAST(sum(cnt) AS BIGINT) AS n_bigrams,
         |       CAST(sum(cnt * (n_ab * 1000000 // n_a)) // sum(cnt)
         |         AS BIGINT) AS lm_score
         |FROM dc JOIN ab USING (code)
         |JOIN cx ON cx.ctx = dc.code // 2147483648
         |GROUP BY 1, 2""".stripMargin,
    // per-source head/middle/tail terciles of the LM score; cuts from
    // the bounded (source, score) count frame, ties to the lower bucket
    "d_ccnet_buckets" ->
      s"""WITH $thCte,
         |du AS (SELECT t.doc_id, d.source,
         |         unnest(list_transform(range(1, len(th)),
         |           i -> th[i] * 2147483648 + th[i + 1])) AS code
         |       FROM thT t JOIN documents d ON d.doc_id = t.doc_id),
         |dc AS (SELECT doc_id, source, code,
         |         CAST(count(*) AS BIGINT) AS cnt
         |       FROM du GROUP BY 1, 2, 3),
         |ab AS (SELECT code, CAST(count(*) AS BIGINT) AS n_ab
         |       FROM du GROUP BY 1),
         |cx AS (SELECT code // 2147483648 AS ctx,
         |         CAST(sum(n_ab) AS BIGINT) AS n_a
         |       FROM ab GROUP BY 1),
         |lm AS (SELECT dc.doc_id, dc.source,
         |         CAST(sum(cnt) AS BIGINT) AS n_bigrams,
         |         CAST(sum(cnt * (n_ab * 1000000 // n_a)) // sum(cnt)
         |           AS BIGINT) AS lm_score
         |       FROM dc JOIN ab USING (code)
         |       JOIN cx ON cx.ctx = dc.code // 2147483648
         |       GROUP BY 1, 2),
         |sc AS (SELECT source, lm_score, CAST(count(*) AS BIGINT) AS c
         |       FROM lm GROUP BY 1, 2),
         |cu AS (SELECT source, lm_score,
         |         sum(c) OVER (PARTITION BY source ORDER BY lm_score
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS cum,
         |         sum(c) OVER (PARTITION BY source) AS n
         |       FROM sc),
         |cuts AS (SELECT source,
         |           min(CASE WHEN cum * 3 >= n THEN lm_score END) AS t1,
         |           min(CASE WHEN cum * 3 >= n * 2 THEN lm_score END)
         |             AS t2
         |         FROM cu GROUP BY 1),
         |lab AS (SELECT lm.*,
         |          CASE WHEN lm_score <= t1 THEN 'tail'
         |               WHEN lm_score <= t2 THEN 'middle'
         |               ELSE 'head' END AS bucket
         |        FROM lm JOIN cuts USING (source))
         |SELECT source, bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_bigrams) AS BIGINT) AS token_mass,
         |       CAST(min(lm_score) AS BIGINT) AS min_score,
         |       CAST(max(lm_score) AS BIGINT) AS max_score
         |FROM lab GROUP BY 1, 2""".stripMargin,
    // inverse-cluster-size weighting over the near-dup components
    "d_soft_dedup_weights" ->
      s"""WITH RECURSIVE $pairsCte,
         |cand2 AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
         |jac AS (
         |  SELECT cand2.doc_a, cand2.doc_b,
         |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |         CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
         |           AS jaccard
         |  FROM cand2
         |  JOIN shT sa ON sa.doc_id = cand2.doc_a
         |  JOIN shT sb ON sb.doc_id = cand2.doc_b),
         |e2 AS (SELECT doc_a AS src, doc_b AS dst FROM jac WHERE jaccard >= 0.5
         |       UNION ALL
         |       SELECT doc_b, doc_a FROM jac WHERE jaccard >= 0.5),
         |reach(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM shT
         |  UNION
         |  SELECT e2.dst, reach.lbl FROM reach JOIN e2 ON e2.src = reach.id),
         |lab2 AS (SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
         |         FROM reach GROUP BY id),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS csize
         |       FROM lab2 GROUP BY 1),
         |j AS (SELECT d.doc_id, d.source,
         |        coalesce(sz.csize, CAST(1 AS BIGINT)) AS csize
         |      FROM documents d
         |      LEFT JOIN lab2 ON lab2.doc_id = d.doc_id
         |      LEFT JOIN sz ON sz.cluster_id = lab2.cluster_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN csize >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_dup_docs,
         |       CAST(sum(1000000 // csize) AS BIGINT) AS eff_mass,
         |       CAST(max(csize) AS BIGINT) AS max_cluster
         |FROM j GROUP BY 1""".stripMargin,
    // reference-LM delta scoring: the model trains on the standing
    // corpus (doc_id % 10 != 7), scores the delta slice; OOV pairs
    // contribute 0 and are counted
    "t_ngram_lm_ref" ->
      s"""WITH $thCte,
         |ref AS (SELECT unnest(list_transform(range(1, len(th)),
         |          i -> th[i] * 2147483648 + th[i + 1])) AS code
         |        FROM thT WHERE doc_id % 10 <> 7),
         |ab AS (SELECT code, CAST(count(*) AS BIGINT) AS n_ab
         |       FROM ref GROUP BY 1),
         |cx AS (SELECT code // 2147483648 AS ctx,
         |         CAST(sum(n_ab) AS BIGINT) AS n_a
         |       FROM ab GROUP BY 1),
         |st AS (SELECT ab.code, ab.n_ab, cx.n_a
         |       FROM ab JOIN cx ON cx.ctx = ab.code // 2147483648),
         |de AS (SELECT t.doc_id, d.source,
         |         unnest(list_transform(range(1, len(th)),
         |           i -> th[i] * 2147483648 + th[i + 1])) AS code
         |       FROM thT t JOIN documents d ON d.doc_id = t.doc_id
         |       WHERE t.doc_id % 10 = 7)
         |SELECT de.doc_id, de.source,
         |       CAST(count(*) AS BIGINT) AS n_bigrams,
         |       CAST(sum(CASE WHEN st.code IS NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_oov,
         |       CAST(sum(coalesce(st.n_ab * 1000000 // st.n_a, 0))
         |         // count(*) AS BIGINT) AS lm_score
         |FROM de LEFT JOIN st ON st.code = de.code
         |GROUP BY 1, 2""".stripMargin,
    // Heaps-law curve: doc_id-range deciles, token-keyed first owner
    "t_vocab_growth" ->
      s"""WITH $thCte,
         |mxT AS (SELECT max(doc_id) AS mx FROM documents),
         |ex AS (SELECT least(9, doc_id * 10 // (mx + 1)) AS decile,
         |         unnest(th) AS h
         |       FROM thT CROSS JOIN mxT),
         |mass AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_tokens
         |         FROM ex GROUP BY 1),
         |fo AS (SELECT h, min(decile) AS fd FROM ex GROUP BY 1),
         |nt AS (SELECT fd AS decile, CAST(count(*) AS BIGINT) AS nt
         |       FROM fo GROUP BY 1)
         |SELECT CAST(mass.decile AS BIGINT) AS decile, mass.n_tokens,
         |       coalesce(nt.nt, CAST(0 AS BIGINT)) AS new_types,
         |       CAST(sum(coalesce(nt.nt, 0)) OVER (ORDER BY mass.decile
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |         AS BIGINT) AS cum_vocab
         |FROM mass LEFT JOIN nt USING (decile)""".stripMargin,
    // the audit behind the leak-free guarantee: residual shingle overlap
    // between eval splits and the train set (same split rule as above)
    "d_leak_audit" ->
      s"""WITH RECURSIVE $pairsCte,
         |cand2 AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
         |jac AS (
         |  SELECT cand2.doc_a, cand2.doc_b,
         |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |         CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
         |           AS jaccard
         |  FROM cand2
         |  JOIN shT sa ON sa.doc_id = cand2.doc_a
         |  JOIN shT sb ON sb.doc_id = cand2.doc_b),
         |e2 AS (SELECT doc_a AS src, doc_b AS dst FROM jac WHERE jaccard >= 0.5
         |       UNION ALL
         |       SELECT doc_b, doc_a FROM jac WHERE jaccard >= 0.5),
         |reach(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM shT
         |  UNION
         |  SELECT e2.dst, reach.lbl FROM reach JOIN e2 ON e2.src = reach.id),
         |cl AS (SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
         |       FROM reach GROUP BY id),
         |alld AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id)
         |                  AS cluster_id
         |         FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
         |spl AS (SELECT doc_id,
         |          CASE WHEN ((cluster_id % 1000003) * 2654435761)
         |                    % 1000003 % 100 < 80 THEN 'train'
         |               WHEN ((cluster_id % 1000003) * 2654435761)
         |                    % 1000003 % 100 < 90 THEN 'val'
         |               ELSE 'test' END AS split
         |        FROM alld),
         |ex AS (SELECT shT.doc_id, unnest(list_distinct(sh)) AS g,
         |              spl.split
         |       FROM shT JOIN spl USING (doc_id)),
         |tr AS (SELECT DISTINCT g FROM ex WHERE split = 'train'),
         |pd AS (SELECT ex.split, ex.doc_id, count(*) AS n_sh,
         |              sum(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END)
         |                AS n_shared
         |       FROM ex LEFT JOIN tr USING (g)
         |       WHERE ex.split <> 'train' GROUP BY 1, 2)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN n_shared > 0 THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_contaminated,
         |       CAST(sum(n_sh) AS BIGINT) AS n_shingles,
         |       CAST(sum(n_shared) AS BIGINT) AS n_shared
         |FROM pd GROUP BY 1""".stripMargin,
    // cluster-size histogram over the same component labels; the log2
    // bucket is the binary digit count, integer-exact in both engines
    "d_cluster_size_hist" ->
      s"""WITH RECURSIVE $pairsCte,
         |cand2 AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
         |jac AS (
         |  SELECT cand2.doc_a, cand2.doc_b,
         |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |         CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
         |           AS jaccard
         |  FROM cand2
         |  JOIN shT sa ON sa.doc_id = cand2.doc_a
         |  JOIN shT sb ON sb.doc_id = cand2.doc_b),
         |e2 AS (SELECT doc_a AS src, doc_b AS dst FROM jac WHERE jaccard >= 0.5
         |       UNION ALL
         |       SELECT doc_b, doc_a FROM jac WHERE jaccard >= 0.5),
         |reach(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM shT
         |  UNION
         |  SELECT e2.dst, reach.lbl FROM reach JOIN e2 ON e2.src = reach.id),
         |cl AS (SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
         |       FROM reach GROUP BY id),
         |cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n
         |       FROM cl GROUP BY 1)
         |SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS log2_size,
         |       CAST(count(*) AS BIGINT) AS n_clusters,
         |       CAST(sum(n) AS BIGINT) AS n_docs
         |FROM cs GROUP BY 1""".stripMargin,
    // langid predictions crossed with the labeled language column
    "t_lang_confusion" ->
      s"""WITH $thCte
         |SELECT lang,
         |       CASE WHEN len(list_filter(toks, t -> t IN ($stopListSql)))
         |                 * 100 > len(toks) * 3
         |            THEN 'en' ELSE 'und' END AS pred_lang,
         |       CAST(count(*) AS BIGINT) AS n_docs
         |FROM thT GROUP BY 1, 2""".stripMargin,
    "d_embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v,
         |            ${PV.lshSigDuck("embedding")} AS sig FROM embeddings),
         |cnt AS (SELECT least(CAST((count(*) + 63) // 64 AS BIGINT),
         |                     CAST(1 AS BIGINT) << 20) AS target FROM e),
         |bsel AS (SELECT CAST(min(bb.r) AS INT) AS b
         |         FROM range(8, 21) bb(r), cnt
         |         WHERE (CAST(1 AS BIGINT) << bb.r) >= cnt.target),
         |eb AS (SELECT vec_id, v,
         |              (CAST(k.r AS BIGINT) << 21) |
         |                ((sig >> (k.r * b)) &
         |                 ((CAST(1 AS BIGINT) << b) - 1)) AS key
         |       FROM e, bsel, range(0, 5) k(r) WHERE k.r < 40 // b),
         |rb AS (SELECT vec_id, v, key,
         |         row_number() OVER (PARTITION BY key ORDER BY
         |           ((vec_id % 1000003) * 2654435761) % 1000003, vec_id)
         |           - 1 AS r,
         |         (count(*) OVER (PARTITION BY key) + 1023) // 1024 AS m
         |       FROM eb),
         |b2 AS (SELECT vec_id, v, key, r % m AS blk FROM rb),
         |scored AS (SELECT a.vec_id AS vec_a, bb.vec_id AS vec_b,
         |             ${PV.cosineDuck("a.v", "bb.v")} AS cos
         |           FROM b2 a JOIN b2 bb USING (key, blk)
         |           WHERE a.vec_id < bb.vec_id)
         |SELECT DISTINCT vec_a, vec_b, cos FROM scored
         |WHERE cos > 0.3""".stripMargin,
    // d_embed_neardup's banded-candidate CTEs without the threshold;
    // undirected pairs mirror to both directions before the per-vector
    // top-4 rank
    "emb_knn_graph" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v,
         |            ${PV.lshSigDuck("embedding")} AS sig FROM embeddings),
         |cnt AS (SELECT least(CAST((count(*) + 63) // 64 AS BIGINT),
         |                     CAST(1 AS BIGINT) << 20) AS target FROM e),
         |bsel AS (SELECT CAST(min(bb.r) AS INT) AS b
         |         FROM range(8, 21) bb(r), cnt
         |         WHERE (CAST(1 AS BIGINT) << bb.r) >= cnt.target),
         |eb AS (SELECT vec_id, v,
         |              (CAST(k.r AS BIGINT) << 21) |
         |                ((sig >> (k.r * b)) &
         |                 ((CAST(1 AS BIGINT) << b) - 1)) AS key
         |       FROM e, bsel, range(0, 5) k(r) WHERE k.r < 40 // b),
         |rb AS (SELECT vec_id, v, key,
         |         row_number() OVER (PARTITION BY key ORDER BY
         |           ((vec_id % 1000003) * 2654435761) % 1000003, vec_id)
         |           - 1 AS r,
         |         (count(*) OVER (PARTITION BY key) + 1023) // 1024 AS m
         |       FROM eb),
         |b2 AS (SELECT vec_id, v, key, r % m AS blk FROM rb),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, bb.vec_id AS vec_b,
         |             ${PV.cosineDuck("a.v", "bb.v")} AS cos
         |           FROM b2 a JOIN b2 bb USING (key, blk)
         |           WHERE a.vec_id < bb.vec_id),
         |bidir AS (SELECT vec_a, vec_b, cos FROM cand
         |          UNION ALL
         |          SELECT vec_b, vec_a, cos FROM cand),
         |r AS (SELECT vec_a AS vec_id, vec_b AS n_id, cos,
         |             row_number() OVER (PARTITION BY vec_a
         |               ORDER BY cos DESC, vec_b) AS rnk
         |      FROM bidir)
         |SELECT vec_id, CAST(rnk AS BIGINT) AS rnk, n_id, cos
         |FROM r WHERE rnk <= 4""".stripMargin,
    // the knn-graph CTEs + an integer-exact mean over each vector's edges
    "emb_density" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v,
         |            ${PV.lshSigDuck("embedding")} AS sig FROM embeddings),
         |cnt AS (SELECT least(CAST((count(*) + 63) // 64 AS BIGINT),
         |                     CAST(1 AS BIGINT) << 20) AS target FROM e),
         |bsel AS (SELECT CAST(min(bb.r) AS INT) AS b
         |         FROM range(8, 21) bb(r), cnt
         |         WHERE (CAST(1 AS BIGINT) << bb.r) >= cnt.target),
         |eb AS (SELECT vec_id, v,
         |              (CAST(k.r AS BIGINT) << 21) |
         |                ((sig >> (k.r * b)) &
         |                 ((CAST(1 AS BIGINT) << b) - 1)) AS key
         |       FROM e, bsel, range(0, 5) k(r) WHERE k.r < 40 // b),
         |rb AS (SELECT vec_id, v, key,
         |         row_number() OVER (PARTITION BY key ORDER BY
         |           ((vec_id % 1000003) * 2654435761) % 1000003, vec_id)
         |           - 1 AS r,
         |         (count(*) OVER (PARTITION BY key) + 1023) // 1024 AS m
         |       FROM eb),
         |b2 AS (SELECT vec_id, v, key, r % m AS blk FROM rb),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, bb.vec_id AS vec_b,
         |             ${PV.cosineDuck("a.v", "bb.v")} AS cos
         |           FROM b2 a JOIN b2 bb USING (key, blk)
         |           WHERE a.vec_id < bb.vec_id),
         |bidir AS (SELECT vec_a, vec_b, cos FROM cand
         |          UNION ALL
         |          SELECT vec_b, vec_a, cos FROM cand),
         |r AS (SELECT vec_a AS vec_id, cos,
         |             row_number() OVER (PARTITION BY vec_a
         |               ORDER BY cos DESC, vec_b) AS rnk
         |      FROM bidir)
         |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_nbrs,
         |       CAST(sum(CAST(floor(cos * 1000000000.0 + 0.5) AS BIGINT))
         |            AS DOUBLE) / 1000000000.0 / count(*) AS density
         |FROM r WHERE rnk <= 4 GROUP BY vec_id""".stripMargin,
    // the knn-graph band CTEs with labels carried onto both endpoints;
    // the different-label filter runs inside the candidate join
    "emb_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v, label,
         |            ${PV.lshSigDuck("embedding")} AS sig FROM embeddings),
         |cnt AS (SELECT least(CAST((count(*) + 63) // 64 AS BIGINT),
         |                     CAST(1 AS BIGINT) << 20) AS target FROM e),
         |bsel AS (SELECT CAST(min(bb.r) AS INT) AS b
         |         FROM range(8, 21) bb(r), cnt
         |         WHERE (CAST(1 AS BIGINT) << bb.r) >= cnt.target),
         |eb AS (SELECT vec_id, v, label,
         |              (CAST(k.r AS BIGINT) << 21) |
         |                ((sig >> (k.r * b)) &
         |                 ((CAST(1 AS BIGINT) << b) - 1)) AS key
         |       FROM e, bsel, range(0, 5) k(r) WHERE k.r < 40 // b),
         |rb AS (SELECT vec_id, v, label, key,
         |         row_number() OVER (PARTITION BY key ORDER BY
         |           ((vec_id % 1000003) * 2654435761) % 1000003, vec_id)
         |           - 1 AS r,
         |         (count(*) OVER (PARTITION BY key) + 1023) // 1024 AS m
         |       FROM eb),
         |b2 AS (SELECT vec_id, v, label, key, r % m AS blk FROM rb),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, bb.vec_id AS vec_b,
         |             ${PV.cosineDuck("a.v", "bb.v")} AS cos
         |           FROM b2 a JOIN b2 bb USING (key, blk)
         |           WHERE a.vec_id < bb.vec_id AND a.label <> bb.label),
         |bidir AS (SELECT vec_a, vec_b, cos FROM cand
         |          UNION ALL
         |          SELECT vec_b, vec_a, cos FROM cand),
         |r AS (SELECT vec_a AS vec_id, vec_b AS neg_id, cos,
         |             row_number() OVER (PARTITION BY vec_a
         |               ORDER BY cos DESC, vec_b) AS rnk
         |      FROM bidir)
         |SELECT vec_id, CAST(rnk AS BIGINT) AS rnk, neg_id, cos
         |FROM r WHERE rnk <= 2""".stripMargin,
    // same banded-candidate CTEs with labels carried; the positive and
    // negative sides are two rank windows over the same bidirectional
    // stream, joined per anchor — mirrors the two conditional TopKScored
    // folds (score desc, payload asc == ORDER BY cos DESC, nb)
    "emb_triplet_mine" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v, label,
         |            ${PV.lshSigDuck("embedding")} AS sig FROM embeddings),
         |cnt AS (SELECT least(CAST((count(*) + 63) // 64 AS BIGINT),
         |                     CAST(1 AS BIGINT) << 20) AS target FROM e),
         |bsel AS (SELECT CAST(min(bb.r) AS INT) AS b
         |         FROM range(8, 21) bb(r), cnt
         |         WHERE (CAST(1 AS BIGINT) << bb.r) >= cnt.target),
         |eb AS (SELECT vec_id, v, label,
         |              (CAST(k.r AS BIGINT) << 21) |
         |                ((sig >> (k.r * b)) &
         |                 ((CAST(1 AS BIGINT) << b) - 1)) AS key
         |       FROM e, bsel, range(0, 5) k(r) WHERE k.r < 40 // b),
         |rb AS (SELECT vec_id, v, label, key,
         |         row_number() OVER (PARTITION BY key ORDER BY
         |           ((vec_id % 1000003) * 2654435761) % 1000003, vec_id)
         |           - 1 AS r,
         |         (count(*) OVER (PARTITION BY key) + 1023) // 1024 AS m
         |       FROM eb),
         |b2 AS (SELECT vec_id, v, label, key, r % m AS blk FROM rb),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, bb.vec_id AS vec_b,
         |             a.label AS la, bb.label AS lb,
         |             ${PV.cosineDuck("a.v", "bb.v")} AS cos
         |           FROM b2 a JOIN b2 bb USING (key, blk)
         |           WHERE a.vec_id < bb.vec_id),
         |bidir AS (SELECT vec_a AS g, vec_b AS nb, la = lb AS same, cos
         |            FROM cand
         |          UNION ALL
         |          SELECT vec_b AS g, vec_a AS nb, la = lb AS same, cos
         |            FROM cand),
         |p AS (SELECT g, nb, cos, row_number() OVER (PARTITION BY g
         |        ORDER BY cos DESC, nb) AS rnk
         |      FROM bidir WHERE same),
         |ng AS (SELECT g, nb, cos, row_number() OVER (PARTITION BY g
         |        ORDER BY cos DESC, nb) AS rnk
         |      FROM bidir WHERE NOT same)
         |SELECT p.g AS anchor_id, p.nb AS pos_id, p.cos AS pos_cos,
         |       ng.nb AS neg_id, ng.cos AS neg_cos,
         |       p.cos - ng.cos AS margin
         |FROM p JOIN ng ON p.g = ng.g
         |WHERE p.rnk = 1 AND ng.rnk = 1""".stripMargin,
    // the knn-graph CTEs -> directed edge list -> 3 exact-BIGINT
    // PageRank iterations as chained CTEs (teleport 15%, damping 85%,
    // rank mass scaled 1e12; floor division mirrors Spark's `div`)
    "emb_pagerank" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v,
         |            ${PV.lshSigDuck("embedding")} AS sig FROM embeddings),
         |cnt AS (SELECT least(CAST((count(*) + 63) // 64 AS BIGINT),
         |                     CAST(1 AS BIGINT) << 20) AS target FROM e),
         |bsel AS (SELECT CAST(min(bb.r) AS INT) AS b
         |         FROM range(8, 21) bb(r), cnt
         |         WHERE (CAST(1 AS BIGINT) << bb.r) >= cnt.target),
         |eb AS (SELECT vec_id, v,
         |              (CAST(k.r AS BIGINT) << 21) |
         |                ((sig >> (k.r * b)) &
         |                 ((CAST(1 AS BIGINT) << b) - 1)) AS key
         |       FROM e, bsel, range(0, 5) k(r) WHERE k.r < 40 // b),
         |rb AS (SELECT vec_id, v, key,
         |         row_number() OVER (PARTITION BY key ORDER BY
         |           ((vec_id % 1000003) * 2654435761) % 1000003, vec_id)
         |           - 1 AS r,
         |         (count(*) OVER (PARTITION BY key) + 1023) // 1024 AS m
         |       FROM eb),
         |b2 AS (SELECT vec_id, v, key, r % m AS blk FROM rb),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, bb.vec_id AS vec_b,
         |             ${PV.cosineDuck("a.v", "bb.v")} AS cos
         |           FROM b2 a JOIN b2 bb USING (key, blk)
         |           WHERE a.vec_id < bb.vec_id),
         |bidir AS (SELECT vec_a, vec_b, cos FROM cand
         |          UNION ALL
         |          SELECT vec_b, vec_a, cos FROM cand),
         |r AS (SELECT vec_a AS vec_id, vec_b AS n_id, cos,
         |             row_number() OVER (PARTITION BY vec_a
         |               ORDER BY cos DESC, vec_b) AS rnk
         |      FROM bidir),
         |edges AS (SELECT vec_id AS src, n_id AS dst FROM r
         |          WHERE rnk <= 4),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
         |        FROM edges GROUP BY src),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
         |r0 AS (SELECT src AS vec_id, deg,
         |              CAST(1000000000000 AS BIGINT) // n AS pr
         |       FROM deg, nn),
         |i1 AS (SELECT d.src AS vec_id, d.deg,
         |              150000000000 // nn.n +
         |              (85 * COALESCE(s.insum, CAST(0 AS BIGINT))) // 100
         |                AS pr
         |       FROM deg d CROSS JOIN nn
         |       LEFT JOIN (SELECT e2.dst,
         |                    CAST(sum(p.pr // p.deg) AS BIGINT) AS insum
         |                  FROM edges e2 JOIN r0 p ON e2.src = p.vec_id
         |                  GROUP BY e2.dst) s ON d.src = s.dst),
         |i2 AS (SELECT d.src AS vec_id, d.deg,
         |              150000000000 // nn.n +
         |              (85 * COALESCE(s.insum, CAST(0 AS BIGINT))) // 100
         |                AS pr
         |       FROM deg d CROSS JOIN nn
         |       LEFT JOIN (SELECT e2.dst,
         |                    CAST(sum(p.pr // p.deg) AS BIGINT) AS insum
         |                  FROM edges e2 JOIN i1 p ON e2.src = p.vec_id
         |                  GROUP BY e2.dst) s ON d.src = s.dst),
         |i3 AS (SELECT d.src AS vec_id, d.deg,
         |              150000000000 // nn.n +
         |              (85 * COALESCE(s.insum, CAST(0 AS BIGINT))) // 100
         |                AS pr
         |       FROM deg d CROSS JOIN nn
         |       LEFT JOIN (SELECT e2.dst,
         |                    CAST(sum(p.pr // p.deg) AS BIGINT) AS insum
         |                  FROM edges e2 JOIN i2 p ON e2.src = p.vec_id
         |                  GROUP BY e2.dst) s ON d.src = s.dst)
         |SELECT vec_id, deg AS n_out, CAST(pr AS BIGINT) AS pr
         |FROM i3""".stripMargin,
    // the knn-graph CTEs -> reciprocal-edge self-join, a < b dedup
    "emb_mutual_knn" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v,
         |            ${PV.lshSigDuck("embedding")} AS sig FROM embeddings),
         |cnt AS (SELECT least(CAST((count(*) + 63) // 64 AS BIGINT),
         |                     CAST(1 AS BIGINT) << 20) AS target FROM e),
         |bsel AS (SELECT CAST(min(bb.r) AS INT) AS b
         |         FROM range(8, 21) bb(r), cnt
         |         WHERE (CAST(1 AS BIGINT) << bb.r) >= cnt.target),
         |eb AS (SELECT vec_id, v,
         |              (CAST(k.r AS BIGINT) << 21) |
         |                ((sig >> (k.r * b)) &
         |                 ((CAST(1 AS BIGINT) << b) - 1)) AS key
         |       FROM e, bsel, range(0, 5) k(r) WHERE k.r < 40 // b),
         |rb AS (SELECT vec_id, v, key,
         |         row_number() OVER (PARTITION BY key ORDER BY
         |           ((vec_id % 1000003) * 2654435761) % 1000003, vec_id)
         |           - 1 AS r,
         |         (count(*) OVER (PARTITION BY key) + 1023) // 1024 AS m
         |       FROM eb),
         |b2 AS (SELECT vec_id, v, key, r % m AS blk FROM rb),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, bb.vec_id AS vec_b,
         |             ${PV.cosineDuck("a.v", "bb.v")} AS cos
         |           FROM b2 a JOIN b2 bb USING (key, blk)
         |           WHERE a.vec_id < bb.vec_id),
         |bidir AS (SELECT vec_a, vec_b, cos FROM cand
         |          UNION ALL
         |          SELECT vec_b, vec_a, cos FROM cand),
         |r AS (SELECT vec_a AS vec_id, vec_b AS n_id, cos,
         |             row_number() OVER (PARTITION BY vec_a
         |               ORDER BY cos DESC, vec_b) AS rnk
         |      FROM bidir),
         |edges AS (SELECT vec_id AS src, n_id AS dst, cos FROM r
         |          WHERE rnk <= 4)
         |SELECT a.src AS vec_a, a.dst AS vec_b, a.cos
         |FROM edges a JOIN edges b2e
         |  ON a.src = b2e.dst AND a.dst = b2e.src
         |WHERE a.src < a.dst""".stripMargin,
    // the knn-graph CTEs -> mutual (reciprocal, both directions) edges
    // -> 3 synchronous label-propagation rounds as chained CTEs: mode
    // of neighbor labels, ties to the LOWEST label, isolated vertices
    // carry their previous label forward
    "emb_label_prop" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v,
         |            ${PV.lshSigDuck("embedding")} AS sig FROM embeddings),
         |cnt AS (SELECT least(CAST((count(*) + 63) // 64 AS BIGINT),
         |                     CAST(1 AS BIGINT) << 20) AS target FROM e),
         |bsel AS (SELECT CAST(min(bb.r) AS INT) AS b
         |         FROM range(8, 21) bb(r), cnt
         |         WHERE (CAST(1 AS BIGINT) << bb.r) >= cnt.target),
         |eb AS (SELECT vec_id, v,
         |              (CAST(k.r AS BIGINT) << 21) |
         |                ((sig >> (k.r * b)) &
         |                 ((CAST(1 AS BIGINT) << b) - 1)) AS key
         |       FROM e, bsel, range(0, 5) k(r) WHERE k.r < 40 // b),
         |rb AS (SELECT vec_id, v, key,
         |         row_number() OVER (PARTITION BY key ORDER BY
         |           ((vec_id % 1000003) * 2654435761) % 1000003, vec_id)
         |           - 1 AS r,
         |         (count(*) OVER (PARTITION BY key) + 1023) // 1024 AS m
         |       FROM eb),
         |b2 AS (SELECT vec_id, v, key, r % m AS blk FROM rb),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, bb.vec_id AS vec_b,
         |             ${PV.cosineDuck("a.v", "bb.v")} AS cos
         |           FROM b2 a JOIN b2 bb USING (key, blk)
         |           WHERE a.vec_id < bb.vec_id),
         |bidir AS (SELECT vec_a, vec_b, cos FROM cand
         |          UNION ALL
         |          SELECT vec_b, vec_a, cos FROM cand),
         |r AS (SELECT vec_a AS vec_id, vec_b AS n_id, cos,
         |             row_number() OVER (PARTITION BY vec_a
         |               ORDER BY cos DESC, vec_b) AS rnk
         |      FROM bidir),
         |edges AS (SELECT vec_id AS src, n_id AS dst FROM r
         |          WHERE rnk <= 4),
         |mut AS (SELECT a.src, a.dst FROM edges a JOIN edges b2e
         |          ON a.src = b2e.dst AND a.dst = b2e.src),
         |u AS (SELECT vec_id FROM embeddings),
         |l0 AS (SELECT vec_id, vec_id AS label FROM u),
         |c1 AS (SELECT m.dst AS vec_id, l.label, count(*) AS c
         |       FROM mut m JOIN l0 l ON m.src = l.vec_id GROUP BY 1, 2),
         |m1 AS (SELECT vec_id, label, row_number() OVER (
         |         PARTITION BY vec_id ORDER BY c DESC, label) AS rk
         |       FROM c1),
         |l1 AS (SELECT u.vec_id, COALESCE(b.label, p.label) AS label
         |       FROM u LEFT JOIN (SELECT vec_id, label FROM m1
         |                         WHERE rk = 1) b USING (vec_id)
         |       JOIN l0 p USING (vec_id)),
         |c2 AS (SELECT m.dst AS vec_id, l.label, count(*) AS c
         |       FROM mut m JOIN l1 l ON m.src = l.vec_id GROUP BY 1, 2),
         |m2 AS (SELECT vec_id, label, row_number() OVER (
         |         PARTITION BY vec_id ORDER BY c DESC, label) AS rk
         |       FROM c2),
         |l2 AS (SELECT u.vec_id, COALESCE(b.label, p.label) AS label
         |       FROM u LEFT JOIN (SELECT vec_id, label FROM m2
         |                         WHERE rk = 1) b USING (vec_id)
         |       JOIN l1 p USING (vec_id)),
         |c3 AS (SELECT m.dst AS vec_id, l.label, count(*) AS c
         |       FROM mut m JOIN l2 l ON m.src = l.vec_id GROUP BY 1, 2),
         |m3 AS (SELECT vec_id, label, row_number() OVER (
         |         PARTITION BY vec_id ORDER BY c DESC, label) AS rk
         |       FROM c3),
         |l3 AS (SELECT u.vec_id, COALESCE(b.label, p.label) AS label
         |       FROM u LEFT JOIN (SELECT vec_id, label FROM m3
         |                         WHERE rk = 1) b USING (vec_id)
         |       JOIN l2 p USING (vec_id)),
         |sz AS (SELECT label, CAST(count(*) AS BIGINT) AS n_members
         |       FROM l3 GROUP BY label)
         |SELECT vec_id, label, n_members
         |FROM l3 JOIN sz USING (label)""".stripMargin,
    // greedy farthest-point: chained argmax CTEs, least-folded exact
    // cosine distances, ties to the lower id — Spark's per-round
    // min-over-chosen aggregate computes the identical values
    "emb_kcenter" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
         |d1 AS (SELECT e.vec_id, e.v,
         |         1.0 - ${PV.cosineDuck("e.v", "c1.v")} AS d
         |       FROM e CROSS JOIN c1),
         |c2 AS (SELECT vec_id, v, d FROM d1
         |       ORDER BY d DESC, vec_id LIMIT 1),
         |d2 AS (SELECT d1.vec_id, d1.v,
         |         least(d1.d, 1.0 - ${PV.cosineDuck("d1.v", "c2.v")}) AS d
         |       FROM d1 CROSS JOIN c2),
         |c3 AS (SELECT vec_id, v, d FROM d2
         |       ORDER BY d DESC, vec_id LIMIT 1),
         |d3 AS (SELECT d2.vec_id, d2.v,
         |         least(d2.d, 1.0 - ${PV.cosineDuck("d2.v", "c3.v")}) AS d
         |       FROM d2 CROSS JOIN c3),
         |c4 AS (SELECT vec_id, v, d FROM d3
         |       ORDER BY d DESC, vec_id LIMIT 1)
         |SELECT CAST(1 AS BIGINT) AS rnk, vec_id, 0.0 AS d_min FROM c1
         |UNION ALL SELECT 2, vec_id, d FROM c2
         |UNION ALL SELECT 3, vec_id, d FROM c3
         |UNION ALL SELECT 4, vec_id, d FROM c4""".stripMargin,
    // the shared flat top-2 assignment CTEs -> per-list occupancy +
    // coherence; empty lists re-enter from the k-row centroid frame
    "ann_stats" ->
      s"""WITH emb AS (SELECT vec_id, embedding AS v FROM embeddings),
         |cent AS (SELECT cid, cv FROM (
         |  SELECT vec_id AS cid, v AS cv,
         |         row_number() OVER (ORDER BY vec_id) AS rn,
         |         count(*) OVER () AS n FROM emb)
         |  WHERE rn <= greatest(16, n // 50)),
         |sc AS (SELECT e.vec_id, c.cid,
         |             ${PV.cosineDuck("e.v", "c.cv")} AS ccos,
         |             row_number() OVER (PARTITION BY e.vec_id
         |               ORDER BY ${PV.cosineDuck("e.v", "c.cv")} DESC,
         |                 c.cid) AS crn
         |      FROM emb e CROSS JOIN cent c),
         |per AS (SELECT cid, CAST(count(*) AS BIGINT) AS n,
         |          CAST(sum(CAST(floor(ccos * 1000000000.0 + 0.5)
         |                        AS BIGINT)) AS BIGINT) AS scsum
         |        FROM sc WHERE crn = 1 GROUP BY cid),
         |fl AS (SELECT cent.cid, COALESCE(per.n, 0) AS n_vecs,
         |               per.scsum
         |        FROM cent LEFT JOIN per USING (cid)),
         |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS nn,
         |               CAST(count(*) AS BIGINT) AS k FROM fl)
         |SELECT cid, n_vecs,
         |       CAST(n_vecs AS DOUBLE) / CAST(nn AS DOUBLE) AS share,
         |       CAST(CAST(n_vecs AS HUGEINT) * CAST(k AS HUGEINT)
         |            AS DOUBLE) / CAST(nn AS DOUBLE) AS lift,
         |       CAST(scsum AS DOUBLE) / 1000000000.0 /
         |         CAST(n_vecs AS DOUBLE) AS avg_ccos
         |FROM fl CROSS JOIN tot""".stripMargin,
    // the shared flat top-2 assignment CTEs (same k rule as d_semdedup)
    // -> crn-1/crn-2 pivot -> per-cluster integer-exact margin mean
    "emb_silhouette" ->
      s"""WITH emb AS (SELECT vec_id, embedding AS v FROM embeddings),
         |cent AS (SELECT cid, cv FROM (
         |  SELECT vec_id AS cid, v AS cv,
         |         row_number() OVER (ORDER BY vec_id) AS rn,
         |         count(*) OVER () AS n FROM emb)
         |  WHERE rn <= greatest(16, n // 50)),
         |sc AS (SELECT e.vec_id, c.cid,
         |             ${PV.cosineDuck("e.v", "c.cv")} AS ccos,
         |             row_number() OVER (PARTITION BY e.vec_id
         |               ORDER BY ${PV.cosineDuck("e.v", "c.cv")} DESC,
         |                 c.cid) AS crn
         |      FROM emb e CROSS JOIN cent c),
         |m AS (SELECT vec_id,
         |        max(CASE WHEN crn = 1 THEN cid END) AS cid,
         |        max(CASE WHEN crn = 1 THEN ccos END) AS c1,
         |        max(CASE WHEN crn = 2 THEN ccos END) AS c2
         |      FROM sc WHERE crn <= 2 GROUP BY vec_id)
         |SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(sum(CAST(floor((c1 - c2) * 1000000000.0 + 0.5)
         |                     AS BIGINT)) AS DOUBLE)
         |         / 1000000000.0 / count(*) AS margin
         |FROM m GROUP BY cid""".stripMargin,
    "d_semdedup" ->
      s"""WITH emb AS (SELECT vec_id, embedding AS v FROM embeddings),
         |cent AS (SELECT cid, cv FROM (
         |  SELECT vec_id AS cid, v AS cv,
         |         row_number() OVER (ORDER BY vec_id) AS rn,
         |         count(*) OVER () AS n FROM emb)
         |  WHERE rn <= greatest(16, n // 50)),
         |sc AS (SELECT e.vec_id, e.v, c.cid,
         |             row_number() OVER (PARTITION BY e.vec_id
         |               ORDER BY ${PV.cosineDuck("e.v", "c.cv")} DESC, c.cid)
         |               AS crn
         |      FROM emb e CROSS JOIN cent c),
         |asn AS (SELECT vec_id, v, cid FROM sc WHERE crn = 1),
         |dup AS (SELECT DISTINCT b.vec_id
         |        FROM asn a JOIN asn b
         |          ON a.cid = b.cid AND a.vec_id < b.vec_id
         |        WHERE ${PV.cosineDuck("a.v", "b.v")} > 0.35)
         |SELECT asn.vec_id, CAST(asn.cid AS BIGINT) AS cluster_id,
         |       dup.vec_id IS NULL AS is_kept
         |FROM asn LEFT JOIN dup ON dup.vec_id = asn.vec_id""".stripMargin,
    "ann_bruteforce" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
         |           WHERE vec_id < 8),
         |scored AS (
         |  SELECT q.q_id, e.vec_id AS n_id,
         |         ${PV.cosineDuck("q.qv", "e.embedding")} AS cos
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |             ORDER BY cos DESC, n_id) AS rnk FROM scored)
         |SELECT q_id, rnk, n_id, cos FROM r WHERE rnk <= 5""".stripMargin,
    "ann_ivf" ->
      s"""WITH emb AS (SELECT vec_id, embedding AS v FROM embeddings),
         |cent AS (SELECT cid, cv FROM (
         |  SELECT vec_id AS cid, v AS cv,
         |         row_number() OVER (ORDER BY vec_id) AS rn,
         |         count(*) OVER () AS n FROM emb)
         |  WHERE rn <= greatest(16, n // 50)),
         |sc AS (
         |  SELECT e.vec_id, e.v, c.cid,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${PV.cosineDuck("e.v", "c.cv")} DESC, c.cid)
         |           AS crn
         |  FROM emb e CROSS JOIN cent c),
         |lists AS (SELECT vec_id AS n_id, v AS nv, cid FROM sc WHERE crn = 1),
         |probes AS (SELECT vec_id AS q_id, v AS qv, cid FROM sc
         |           WHERE vec_id < 8 AND crn <= 2),
         |scored AS (
         |  SELECT p.q_id, l.n_id, ${PV.cosineDuck("p.qv", "l.nv")} AS cos
         |  FROM lists l JOIN probes p USING (cid) WHERE l.n_id <> p.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |             ORDER BY cos DESC, n_id) AS rnk FROM scored)
         |SELECT q_id, rnk, n_id, cos FROM r WHERE rnk <= 5""".stripMargin,
    // ann_ivf's probed-lists CTEs with a radius filter instead of the
    // rank window — result size is data-dependent, no per-query ordering
    "ann_range" ->
      s"""WITH emb AS (SELECT vec_id, embedding AS v FROM embeddings),
         |cent AS (SELECT cid, cv FROM (
         |  SELECT vec_id AS cid, v AS cv,
         |         row_number() OVER (ORDER BY vec_id) AS rn,
         |         count(*) OVER () AS n FROM emb)
         |  WHERE rn <= greatest(16, n // 50)),
         |sc AS (
         |  SELECT e.vec_id, e.v, c.cid,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${PV.cosineDuck("e.v", "c.cv")} DESC, c.cid)
         |           AS crn
         |  FROM emb e CROSS JOIN cent c),
         |lists AS (SELECT vec_id AS n_id, v AS nv, cid FROM sc
         |          WHERE crn = 1),
         |probes AS (SELECT vec_id AS q_id, v AS qv, cid FROM sc
         |           WHERE vec_id < 8 AND crn <= 2)
         |SELECT p.q_id, l.n_id, ${PV.cosineDuck("p.qv", "l.nv")} AS cos
         |FROM lists l JOIN probes p USING (cid)
         |WHERE l.n_id <> p.q_id
         |  AND ${PV.cosineDuck("p.qv", "l.nv")} > 0.2""".stripMargin,
    // ann_ivf's probed-lists CTEs with the label predicate applied
    // INSIDE the candidate join (pre-filter), before any cosine ranks
    "ann_filtered" ->
      s"""WITH emb AS (SELECT vec_id, embedding AS v, label
         |             FROM embeddings),
         |cent AS (SELECT cid, cv FROM (
         |  SELECT vec_id AS cid, v AS cv,
         |         row_number() OVER (ORDER BY vec_id) AS rn,
         |         count(*) OVER () AS n FROM emb)
         |  WHERE rn <= greatest(16, n // 50)),
         |sc AS (
         |  SELECT e.vec_id, e.v, e.label, c.cid,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${PV.cosineDuck("e.v", "c.cv")} DESC, c.cid)
         |           AS crn
         |  FROM emb e CROSS JOIN cent c),
         |lists AS (SELECT vec_id AS n_id, v AS nv, label AS n_label, cid
         |          FROM sc WHERE crn = 1),
         |probes AS (SELECT vec_id AS q_id, v AS qv, label AS q_label, cid
         |           FROM sc WHERE vec_id < 8 AND crn <= 2),
         |scored AS (
         |  SELECT p.q_id, l.n_id, l.n_label,
         |         ${PV.cosineDuck("p.qv", "l.nv")} AS cos
         |  FROM lists l JOIN probes p USING (cid)
         |  WHERE l.n_id <> p.q_id AND l.n_label = p.q_label),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |             ORDER BY cos DESC, n_id) AS rnk FROM scored)
         |SELECT q_id, rnk, n_id, n_label AS label, cos
         |FROM r WHERE rnk <= 5""".stripMargin,
    // exact brute-force top-5 vs IVF probed top-5, hits counted per query
    "emb_recall_eval" ->
      s"""WITH emb AS (SELECT vec_id, embedding AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM emb WHERE vec_id < 8),
         |bscored AS (
         |  SELECT q.q_id, e.vec_id AS n_id,
         |         ${PV.cosineDuck("q.qv", "e.v")} AS cos
         |  FROM emb e CROSS JOIN q WHERE e.vec_id <> q.q_id),
         |br AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |             ORDER BY cos DESC, n_id) AS rnk FROM bscored),
         |bt AS (SELECT q_id, n_id FROM br WHERE rnk <= 5),
         |cent AS (SELECT cid, cv FROM (
         |  SELECT vec_id AS cid, v AS cv,
         |         row_number() OVER (ORDER BY vec_id) AS rn,
         |         count(*) OVER () AS n FROM emb)
         |  WHERE rn <= greatest(16, n // 50)),
         |sc AS (
         |  SELECT e.vec_id, e.v, c.cid,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${PV.cosineDuck("e.v", "c.cv")} DESC, c.cid)
         |           AS crn
         |  FROM emb e CROSS JOIN cent c),
         |lists AS (SELECT vec_id AS n_id, v AS nv, cid FROM sc WHERE crn = 1),
         |probes AS (SELECT vec_id AS q_id, v AS qv, cid FROM sc
         |           WHERE vec_id < 8 AND crn <= 2),
         |iscored AS (
         |  SELECT p.q_id, l.n_id, ${PV.cosineDuck("p.qv", "l.nv")} AS cos
         |  FROM lists l JOIN probes p USING (cid) WHERE l.n_id <> p.q_id),
         |ir AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |             ORDER BY cos DESC, n_id) AS rnk FROM iscored),
         |it AS (SELECT q_id, n_id FROM ir WHERE rnk <= 5),
         |h AS (SELECT bt.q_id, CAST(count(*) AS BIGINT) AS n_hits
         |      FROM bt JOIN it USING (q_id, n_id) GROUP BY 1),
         |ex AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_exact
         |       FROM bt GROUP BY 1)
         |SELECT ex.q_id, ex.n_exact,
         |       coalesce(h.n_hits, CAST(0 AS BIGINT)) AS n_hits
         |FROM ex LEFT JOIN h USING (q_id)""".stripMargin,
    // ann_ivf's probe CTEs + token-set jaccard; the blended double rank
    // is deterministic (cosine kernel + integer set sizes)
    "ann_hybrid" ->
      s"""WITH $thCte,
         |tsT AS (SELECT doc_id, list_distinct(th) AS tset FROM thT),
         |emb AS (SELECT vec_id, embedding AS v FROM embeddings),
         |cent AS (SELECT cid, cv FROM (
         |  SELECT vec_id AS cid, v AS cv,
         |         row_number() OVER (ORDER BY vec_id) AS rn,
         |         count(*) OVER () AS n FROM emb)
         |  WHERE rn <= greatest(16, n // 50)),
         |sc AS (
         |  SELECT e.vec_id, e.v, c.cid,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${PV.cosineDuck("e.v", "c.cv")} DESC, c.cid)
         |           AS crn
         |  FROM emb e CROSS JOIN cent c),
         |lists AS (SELECT vec_id AS n_id, v AS nv, cid, t.tset AS nts
         |          FROM sc JOIN tsT t ON t.doc_id = sc.vec_id
         |          WHERE crn = 1),
         |probes AS (SELECT vec_id AS q_id, v AS qv, cid, t.tset AS qts
         |           FROM sc JOIN tsT t ON t.doc_id = sc.vec_id
         |           WHERE vec_id < 8 AND crn <= 2),
         |scored AS (
         |  SELECT p.q_id, l.n_id,
         |         ${PV.cosineDuck("p.qv", "l.nv")} AS cos,
         |         CAST(len(list_intersect(p.qts, l.nts)) AS DOUBLE) /
         |         CAST(len(list_distinct(list_concat(p.qts, l.nts)))
         |           AS DOUBLE) AS jac
         |  FROM lists l JOIN probes p USING (cid) WHERE l.n_id <> p.q_id),
         |r AS (SELECT q_id, n_id, cos, jac, cos + jac AS score,
         |             row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos + jac DESC, n_id) AS rnk FROM scored)
         |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, n_id, cos, jac, score
         |FROM r WHERE rnk <= 5""".stripMargin,
    "ann_lsh" ->
      s"""WITH $bucketCte,
         |q0 AS (SELECT vec_id AS q_id, v AS qv, bucket AS qb FROM e
         |       WHERE vec_id < 8),
         |q AS (SELECT q_id, qv, UNNEST(${probeList("qb")}) AS bucket
         |      FROM q0, bselE),
         |scored AS (
         |  SELECT q.q_id, e.vec_id AS n_id,
         |         ${PV.cosineDuck("q.qv", "e.v")} AS cos
         |  FROM e JOIN q ON e.bucket = q.bucket WHERE e.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |             ORDER BY cos DESC, n_id) AS rnk FROM scored)
         |SELECT q_id, rnk, n_id, cos FROM r WHERE rnk <= 5""".stripMargin,
    "ann_sq" ->
      s"""WITH $bucketCte,
         |dim AS (
         |  SELECT i, min(CAST(v[i] AS DOUBLE)) AS mn,
         |         max(CAST(v[i] AS DOUBLE)) AS mx
         |  FROM e CROSS JOIN range(1, 65) r(i) GROUP BY i),
         |st AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
         |       FROM dim),
         |c0 AS (
         |  SELECT vec_id, bucket,
         |         list_transform(range(1, 65), i ->
         |           CASE WHEN mxs[i] = mns[i] THEN 0
         |           ELSE CAST(floor((CAST(v[i] AS DOUBLE) - mns[i]) * 255.0
         |                / (mxs[i] - mns[i])) AS BIGINT) END) AS code
         |  FROM e CROSS JOIN st),
         |c1 AS (
         |  SELECT vec_id, bucket, code,
         |         list_transform(range(1, 65), i ->
         |           mns[i] + CAST(code[i] AS DOUBLE)
         |             * (mxs[i] - mns[i]) / 255.0) AS deq
         |  FROM c0 CROSS JOIN st),
         |c AS (
         |  SELECT vec_id, bucket, code, deq,
         |         ${PV.normDuck("deq")} AS cnorm
         |  FROM c1),
         |q0 AS (SELECT vec_id, deq, cnorm, bucket AS qb FROM c
         |       WHERE vec_id < 8),
         |qp AS (
         |  SELECT vec_id, deq, cnorm, UNNEST(${probeList("qb")}) AS bucket
         |  FROM q0, bselE),
         |scored AS (
         |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         |         CASE WHEN q.cnorm * n.cnorm = 0.0 THEN 0.0
         |         ELSE ${PV.dotDuck("q.deq", "n.deq")}
         |              / (q.cnorm * n.cnorm) END AS score
         |  FROM c n JOIN qp q ON n.bucket = q.bucket
         |  WHERE n.vec_id <> q.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |             ORDER BY score DESC, n_id) AS rnk FROM scored)
         |SELECT q_id, rnk, n_id, score FROM r WHERE rnk <= 5""".stripMargin,
    "ann_pq" ->
      s"""WITH $pqScoredCte,
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |             ORDER BY score DESC, n_id) AS rnk FROM scored)
         |SELECT q_id, rnk, n_id, score FROM r WHERE rnk <= 5""".stripMargin,
    // ann_pq's ADC-scored CTE cut at a 32-deep shortlist, then exact
    // cosine over the raw vectors of the shortlist rows only
    "ann_rerank" ->
      s"""WITH $pqScoredCte,
         |r0 AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |             ORDER BY score DESC, n_id) AS srnk FROM scored),
         |sl AS (SELECT q_id, n_id FROM r0 WHERE srnk <= 32),
         |rr AS (SELECT sl.q_id, sl.n_id,
         |              ${PV.cosineDuck("q2.v", "n2.v")} AS cos
         |       FROM sl JOIN emb n2 ON n2.vec_id = sl.n_id
         |               JOIN emb q2 ON q2.vec_id = sl.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |             ORDER BY cos DESC, n_id) AS rnk FROM rr)
         |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, n_id, cos
         |FROM r WHERE rnk <= 5""".stripMargin,
    "ann_ivfpq" ->
      s"""WITH emb AS (SELECT vec_id, embedding AS v FROM embeddings),
         |cent AS (SELECT cid, cv FROM (
         |  SELECT vec_id AS cid, v AS cv,
         |         row_number() OVER (ORDER BY vec_id) AS rn,
         |         count(*) OVER () AS n FROM emb)
         |  WHERE rn <= greatest(16, n // 50)),
         |sc AS (
         |  SELECT e.vec_id, c.cid,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${PV.cosineDuck("e.v", "c.cv")} DESC, c.cid)
         |           AS crn
         |  FROM emb e CROSS JOIN cent c),
         |asn AS (SELECT vec_id, cid FROM sc WHERE crn = 1),
         |pr AS (SELECT vec_id AS q_id, cid FROM sc
         |       WHERE vec_id < 8 AND crn <= 2),
         |cbt AS (SELECT list(v ORDER BY vec_id) AS cb FROM emb
         |        WHERE vec_id < 16),
         |enc AS (
         |  SELECT vec_id, v,
         |    list_transform(range(0, 8), sub ->
         |      list_transform(range(0, 16), c ->
         |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |          list_transform(range(1, 9), j ->
         |            (CAST(v[sub * 8 + j] AS DOUBLE)
         |             - CAST(cb[c + 1][sub * 8 + j] AS DOUBLE))
         |            * (CAST(v[sub * 8 + j] AS DOUBLE)
         |               - CAST(cb[c + 1][sub * 8 + j] AS DOUBLE)))),
         |          (x, y) -> x + y))) AS dists
         |  FROM emb CROSS JOIN cbt),
         |coded AS (
         |  SELECT vec_id, v,
         |    list_transform(dists, d -> list_position(d, list_min(d))) AS code
         |  FROM enc),
         |codn AS (
         |  SELECT vec_id, code,
         |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(0, 8), sub ->
         |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |          list_transform(range(1, 9), j ->
         |            CAST(cb[code[sub + 1]][sub * 8 + j] AS DOUBLE)
         |            * CAST(cb[code[sub + 1]][sub * 8 + j] AS DOUBLE))),
         |          (x, y) -> x + y))),
         |      (x, y) -> x + y)) AS rnorm
         |  FROM coded CROSS JOIN cbt),
         |q AS (
         |  SELECT vec_id AS q_id,
         |    flatten(list_transform(range(0, 8), sub ->
         |      list_transform(range(0, 16), c ->
         |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |          list_transform(range(1, 9), j ->
         |            CAST(v[sub * 8 + j] AS DOUBLE)
         |            * CAST(cb[c + 1][sub * 8 + j] AS DOUBLE))),
         |          (x, y) -> x + y)))) AS lut,
         |    ${PV.normDuck("v")} AS qn
         |  FROM emb CROSS JOIN cbt WHERE vec_id < 8),
         |scored AS (
         |  SELECT p.q_id, n.vec_id AS n_id,
         |    CASE WHEN q.qn * n.rnorm = CAST(0 AS DOUBLE)
         |         THEN CAST(0 AS DOUBLE)
         |    ELSE list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(0, 8), sub ->
         |        q.lut[sub * 16 + n.code[sub + 1]])), (x, y) -> x + y)
         |      / (q.qn * n.rnorm) END AS score
         |  FROM codn n
         |  JOIN asn a ON a.vec_id = n.vec_id
         |  JOIN pr p ON p.cid = a.cid
         |  JOIN q ON q.q_id = p.q_id
         |  WHERE n.vec_id <> p.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |             ORDER BY score DESC, n_id) AS rnk FROM scored)
         |SELECT q_id, rnk, n_id, score FROM r WHERE rnk <= 5""".stripMargin,
    "t_langid" ->
      s"""WITH $thCte
         |SELECT doc_id,
         |       CASE WHEN len(list_filter(toks, t -> t IN ($stopListSql))) * 100
         |                 > len(toks) * 3
         |            THEN 'en' ELSE 'und' END AS pred_lang,
         |       lang
         |FROM thT""".stripMargin,
    "t_quality" ->
      s"""WITH d AS (
         |  SELECT doc_id, text, $toksDuck AS toks FROM documents
         |  WHERE len($toksDuck) >= 1),
         |m AS (
         |  SELECT doc_id,
         |         CAST(length(text) AS BIGINT) AS n_chars,
         |         CAST(len(toks) AS BIGINT) AS n_tokens,
         |         CAST(length(text) -
         |              length(regexp_replace(text, '[.,!?;:]', '', 'g'))
         |              AS BIGINT) AS n_punct,
         |         CAST(len(list_filter(toks, t -> t IN ($stopListSql)))
         |              AS BIGINT) AS n_stop,
         |         CAST(list_sum(list_transform(toks, t -> length(t)))
         |              AS BIGINT) AS tok_chars
         |  FROM d)
         |SELECT doc_id, n_chars, n_tokens,
         |       CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
         |       CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
         |       CAST(tok_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |         AS mean_tok_len,
         |       (0.5 * (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) +
         |        0.5 * (CAST(LEAST(n_tokens, 200) AS DOUBLE) / 200.0)) -
         |       (CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)) AS quality
         |FROM m""".stripMargin,
    "t_gopher_rules" ->
      s"""WITH d AS (
         |  SELECT doc_id, $toksDuck AS toks,
         |         string_split(text, chr(10)) AS lines
         |  FROM documents WHERE text IS NOT NULL),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_words,
         |    CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
         |      AS BIGINT) AS tok_chars,
         |    CAST(len(list_filter(toks,
         |      t -> translate(t, '0123456789', '') != '')) AS BIGINT)
         |      AS n_alpha_words,
         |    CAST(len(list_distinct(list_filter(toks,
         |      t -> t IN ($stopListSql)))) AS BIGINT) AS n_stop_distinct,
         |    CAST(len(lines) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(lines, l -> l LIKE '%...')) AS BIGINT)
         |      AS n_ellipsis_lines,
         |    CAST(len(list_filter(lines,
         |      l -> l LIKE '- %' OR l LIKE '* %')) AS BIGINT)
         |      AS n_bullet_lines
         |  FROM d)
         |SELECT doc_id, n_words, tok_chars, n_alpha_words, n_stop_distinct,
         |       n_lines, n_ellipsis_lines, n_bullet_lines,
         |       n_words >= 50 AND n_words <= 100000 AS flag_word_count,
         |       tok_chars >= n_words * 3 AND tok_chars <= n_words * 10
         |         AS flag_word_len,
         |       n_ellipsis_lines * 10 <= n_lines * 3 AS flag_ellipsis,
         |       n_bullet_lines * 10 <= n_lines * 9 AS flag_bullet,
         |       n_alpha_words * 5 >= n_words * 4 AS flag_alpha,
         |       n_stop_distinct >= 2 AS flag_stop,
         |       (n_words >= 50 AND n_words <= 100000)
         |         AND (tok_chars >= n_words * 3 AND tok_chars <= n_words * 10)
         |         AND n_ellipsis_lines * 10 <= n_lines * 3
         |         AND n_bullet_lines * 10 <= n_lines * 9
         |         AND n_alpha_words * 5 >= n_words * 4
         |         AND n_stop_distinct >= 2 AS pass
         |FROM m""".stripMargin,
    "t_tokens" ->
      s"""SELECT doc_id,
         |       CAST(len($toksDuck) AS BIGINT) AS n_tokens,
         |       CAST(length(text) AS BIGINT) AS n_chars,
         |       CAST((length(text) + 3) // 4 AS BIGINT) AS est_bpe_tokens
         |FROM documents""".stripMargin,
    "t_ngram_freq" ->
      s"""WITH $thCte,
         |bg AS (
         |  SELECT unnest(list_transform(range(1, len(toks)),
         |                i -> toks[i] || ' ' || toks[i + 1])) AS bigram
         |  FROM toksT WHERE len(toks) >= 2)
         |SELECT bigram, count(*) AS n FROM bg GROUP BY bigram
         |ORDER BY n DESC, bigram LIMIT 50""".stripMargin,
    // ordered 3-gram hashes -> 4-window minima -> distinct selection;
    // identical integer arithmetic, map-only on both engines
    "t_winnow" ->
      s"""WITH $thCte,
         |gr AS (SELECT doc_id,
         |         list_transform(range(1, len(th) - 1),
         |           i -> ((th[i] * 31 + th[i + 1]) % ${PT.P} * 31
         |                 + th[i + 2]) % ${PT.P}) AS g
         |       FROM thT),
         |sel AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams,
         |          list_distinct(CASE WHEN len(g) < 4
         |            THEN [list_min(g)]
         |            ELSE list_transform(range(4, len(g) + 1),
         |                   i -> list_min(g[i - 3:i])) END) AS s
         |        FROM gr)
         |SELECT doc_id, n_grams, CAST(len(s) AS BIGINT) AS n_fps,
         |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |         list_sort(s)), (a, h) -> (a * 31 + h) % ${PT.P})
         |         AS BIGINT) AS fp_sig
         |FROM sel""".stripMargin,
    // BPE merge statistics over the VOCABULARY (distinct token + count),
    // never the corpus; ASCII-only tokens make substr engine-identical
    "t_bpe_pairs" ->
      s"""WITH $thCte,
         |v AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
         |      FROM (SELECT unnest(toks) AS tok FROM toksT)
         |      GROUP BY tok),
         |p AS (SELECT c, unnest(list_transform(range(1, length(tok)),
         |               i -> substr(tok, CAST(i AS INT), 2))) AS pair
         |      FROM v WHERE length(tok) >= 2)
         |SELECT pair, CAST(sum(c) AS BIGINT) AS n FROM p GROUP BY pair
         |ORDER BY n DESC, pair LIMIT 50""".stripMargin,
    // per-source distinctive terms: rank-window mirror of the bounded
    // TopKScored fold; lift via HUGEINT cross products, one double divide
    "t_keywords" ->
      s"""WITH toksS AS (SELECT doc_id, source, $toksDuck AS toks
         |               FROM documents WHERE len($toksDuck) >= 3),
         |thS AS (SELECT doc_id, source, ${PT.tokenHashesDuck("toks")} AS th
         |        FROM toksS),
         |tk AS (SELECT source, unnest(th) AS t FROM thS),
         |bs AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c_src
         |       FROM tk GROUP BY 1, 2),
         |g AS (SELECT t, CAST(sum(c_src) AS BIGINT) AS c_glob
         |      FROM bs GROUP BY 1),
         |st AS (SELECT source, CAST(sum(c_src) AS BIGINT) AS s_tot
         |       FROM bs GROUP BY 1),
         |tt AS (SELECT CAST(sum(c_src) AS BIGINT) AS t_tot FROM bs),
         |sc AS (SELECT source, t, c_src, c_glob,
         |         CAST(c_src AS DOUBLE) / CAST(c_glob AS DOUBLE) AS score
         |       FROM bs JOIN g USING (t) WHERE c_src >= 5),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source
         |        ORDER BY score DESC, t) AS rk FROM sc)
         |SELECT source, CAST(rk AS BIGINT) AS rk, t AS term,
         |       c_src, c_glob,
         |       CAST(CAST(c_src AS HUGEINT) * CAST(t_tot AS HUGEINT)
         |            AS DOUBLE) /
         |       CAST(CAST(c_glob AS HUGEINT) * CAST(s_tot AS HUGEINT)
         |            AS DOUBLE) AS lift
         |FROM r JOIN st USING (source) CROSS JOIN tt
         |WHERE rk <= 10""".stripMargin,
    "t_fingerprint" ->
      s"""WITH $thCte
         |SELECT doc_id, ${PT.docFingerprintDuck("th")} AS fp FROM thT""".stripMargin,
    "t_repetition" ->
      s"""WITH d AS (
         |  SELECT doc_id, text, $toksDuck AS toks FROM documents
         |  WHERE len($toksDuck) >= 3),
         |l AS (
         |  SELECT doc_id,
         |    CAST(len(str_split(text, chr(10))) AS BIGINT) AS n_lines,
         |    1.0 - CAST(len(list_distinct(str_split(text, chr(10)))) AS DOUBLE)
         |          / CAST(len(str_split(text, chr(10))) AS DOUBLE)
         |          AS dup_line_frac,
         |    1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
         |          / CAST(len(toks) AS DOUBLE) AS dup_word_frac
         |  FROM d),
         |bg AS (
         |  SELECT doc_id,
         |         unnest(${PT.bigramHashesDuck(PT.tokenHashesDuck("toks"))})
         |           AS bigram
         |  FROM d),
         |bc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
         |bt AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
         |              AS top_bigram_frac FROM bc GROUP BY 1)
         |SELECT l.doc_id, n_lines, dup_line_frac, dup_word_frac,
         |       top_bigram_frac
         |FROM l JOIN bt USING (doc_id)""".stripMargin,
    "d_corpus_pipeline" ->
      s"""WITH RECURSIVE $pairsCte,
         |cand2 AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
         |jac AS (
         |  SELECT cand2.doc_a, cand2.doc_b,
         |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |         CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
         |           AS jaccard
         |  FROM cand2
         |  JOIN shT sa ON sa.doc_id = cand2.doc_a
         |  JOIN shT sb ON sb.doc_id = cand2.doc_b),
         |e2 AS (SELECT doc_a AS src, doc_b AS dst FROM jac WHERE jaccard >= 0.5
         |       UNION ALL
         |       SELECT doc_b, doc_a FROM jac WHERE jaccard >= 0.5),
         |reach(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM shT
         |  UNION
         |  SELECT e2.dst, reach.lbl FROM reach JOIN e2 ON e2.src = reach.id),
         |keepers AS (SELECT id AS doc_id FROM reach GROUP BY id
         |            HAVING id = min(lbl)),
         |qd AS (
         |  SELECT doc_id, text, $toksDuck AS toks FROM documents
         |  WHERE len($toksDuck) >= 1),
         |qual AS (
         |  SELECT doc_id,
         |         CAST(len(toks) AS BIGINT) AS n_tokens,
         |         (0.5 * (CAST(len(list_filter(toks, t -> t IN ($stopListSql))) AS DOUBLE)
         |                 / CAST(len(toks) AS DOUBLE)) +
         |          0.5 * (CAST(LEAST(len(toks), 200) AS DOUBLE) / 200.0)) -
         |         (CAST(length(text) -
         |               length(regexp_replace(text, '[.,!?;:]', '', 'g'))
         |               AS DOUBLE) / CAST(length(text) AS DOUBLE)) AS quality
         |  FROM qd),
         |lng AS (
         |  SELECT doc_id,
         |         CASE WHEN len(list_filter(toks, t -> t IN ($stopListSql))) * 100
         |                   > len(toks) * 3
         |              THEN 'en' ELSE 'und' END AS pred_lang
         |  FROM thT)
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM documents
         |JOIN qual USING (doc_id)
         |JOIN lng USING (doc_id)
         |JOIN keepers USING (doc_id)
         |WHERE (doc_id % 1000000007) * 2654435761 % 1000000007 % 100 <
         |      CASE WHEN source = 'web' THEN 50
         |           WHEN source = 'books' THEN 80 ELSE 30 END
         |  AND quality > 0.1 AND pred_lang = 'en'
         |GROUP BY source""".stripMargin,
    // the full curation DAG: keep-best + leak-free split + epoch mix +
    // packing composed onto the v1 capstone's gates — same CTE scaffold
    // as d_keep_best / d_split_leakfree / d_epoch_mix / d_pack_sequences
    "d_corpus_pipeline_v2" ->
      s"""WITH RECURSIVE $pairsCte,
         |cand2 AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
         |jac AS (
         |  SELECT cand2.doc_a, cand2.doc_b,
         |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |         CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
         |           AS jaccard
         |  FROM cand2
         |  JOIN shT sa ON sa.doc_id = cand2.doc_a
         |  JOIN shT sb ON sb.doc_id = cand2.doc_b),
         |e2 AS (SELECT doc_a AS src, doc_b AS dst FROM jac WHERE jaccard >= 0.5
         |       UNION ALL
         |       SELECT doc_b, doc_a FROM jac WHERE jaccard >= 0.5),
         |reach(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM shT
         |  UNION
         |  SELECT e2.dst, reach.lbl FROM reach JOIN e2 ON e2.src = reach.id),
         |cl AS (SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
         |       FROM reach GROUP BY id),
         |qd AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |         (0.5 * (CAST(len(list_filter(toks, t -> t IN ($stopListSql))) AS DOUBLE)
         |                 / CAST(len(toks) AS DOUBLE)) +
         |          0.5 * (CAST(LEAST(len(toks), 200) AS DOUBLE) / 200.0)) -
         |         (CAST(length(text) -
         |               length(regexp_replace(text, '[.,!?;:]', '', 'g'))
         |               AS DOUBLE) / CAST(length(text) AS DOUBLE)) AS quality
         |  FROM (SELECT doc_id, text, $toksDuck AS toks FROM documents
         |        WHERE len($toksDuck) >= 1)),
         |lng AS (
         |  SELECT doc_id,
         |         CASE WHEN len(list_filter(toks, t -> t IN ($stopListSql))) * 100
         |                   > len(toks) * 3
         |              THEN 'en' ELSE 'und' END AS pred_lang
         |  FROM thT),
         |mm AS (SELECT cl.doc_id, cl.cluster_id, qd.quality
         |       FROM cl JOIN qd USING (doc_id)),
         |b AS (SELECT cluster_id, max(quality) AS bq FROM mm GROUP BY 1),
         |keep AS (SELECT CAST(min(mm.doc_id) AS BIGINT) AS doc_id
         |         FROM mm JOIN b USING (cluster_id)
         |         WHERE mm.quality = b.bq GROUP BY mm.cluster_id),
         |alld AS (SELECT d.doc_id, d.source,
         |                coalesce(cl.cluster_id, d.doc_id) AS cluster_id
         |         FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
         |sv AS (
         |  SELECT a.doc_id, a.source, qd.n_tokens
         |  FROM alld a
         |  JOIN qd USING (doc_id) JOIN lng USING (doc_id)
         |  JOIN keep USING (doc_id)
         |  WHERE ((a.cluster_id % 1000003) * 2654435761) % 1000003 % 100 < 80
         |    AND qd.quality > 0.1 AND lng.pred_lang = 'en'
         |    AND (a.doc_id % 1000000007) * 2654435761 % 1000000007 % 100 <
         |        CASE WHEN a.source = 'web' THEN 50
         |             WHEN a.source = 'books' THEN 80 ELSE 30 END),
         |up AS (
         |  SELECT doc_id, source, n_tokens,
         |         CAST(unnest(range(1, n_epochs + 1)) AS BIGINT) AS epoch
         |  FROM (SELECT *, w // 100 +
         |               CASE WHEN coin < w % 100 THEN 1 ELSE 0 END AS n_epochs
         |        FROM (SELECT *,
         |                (doc_id % 1000000007) * 2654435761 % 1000000007 % 100
         |                  AS coin,
         |                100 + (CAST(ascii(right(source, 1)) AS BIGINT) % 4) * 50
         |                  AS w
         |              FROM sv))),
         |o AS (SELECT *, COALESCE(sum(n_tokens) OVER (PARTITION BY source
         |           ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003
         |                      % ${PipelineParams.Default.packShards},
         |                    doc_id, epoch
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |           0) AS bin_offset
         |      FROM up)
         |SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       CAST(count(*) AS BIGINT) AS n_seqs,
         |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |       CAST(max(bin_offset // 2048) + 1 AS BIGINT) AS n_bins
         |FROM o GROUP BY source""".stripMargin,
    "d_sample_mix" ->
      """SELECT source, count(*) AS n_total,
        |       CAST(sum(CASE WHEN (doc_id % 1000000007) * 2654435761 % 1000000007 % 100 <
        |                     CASE WHEN source = 'web' THEN 50
        |                          WHEN source = 'books' THEN 80
        |                          ELSE 30 END
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents GROUP BY source""".stripMargin,
    "d_epoch_mix" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         (doc_id % 1000000007) * 2654435761 % 1000000007 % 100
        |           AS coin,
        |         100 + (CAST(ascii(right(source, 1)) AS BIGINT) % 4) * 50
        |           AS w
        |  FROM documents),
        |e AS (SELECT doc_id, source,
        |             w // 100 + CASE WHEN coin < w % 100 THEN 1 ELSE 0 END
        |               AS n_epochs
        |      FROM d)
        |SELECT doc_id, source,
        |       CAST(unnest(range(1, n_epochs + 1)) AS BIGINT) AS epoch,
        |       CAST(n_epochs AS BIGINT) AS n_epochs
        |FROM e""".stripMargin,
    "d_span_dedup" ->
      s"""WITH $thCte,
         |sp AS (SELECT doc_id, ${PT.spanHashesDuck("th")} AS spans FROM thT),
         |gx AS (SELECT doc_id, unnest(spans) AS g FROM sp
         |       WHERE len(spans) >= 1),
         |ps AS (SELECT g, count(*) AS n_docs FROM gx GROUP BY g)
         |SELECT doc_id, count(*) AS n_spans,
         |       CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_shared,
         |       CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |         / CAST(count(*) AS DOUBLE) AS dup_span_frac
         |FROM gx JOIN ps USING (g) GROUP BY doc_id""".stripMargin,
    // pair explode from the sorted per-span source set == a span-keyed
    // self-join with src_a < src_b; the oracle takes the join form
    "d_cross_source_overlap" ->
      s"""WITH $thCte,
         |spx AS (SELECT d.source,
         |               unnest(${PT.spanHashesDuck("th")}) AS g
         |        FROM thT t JOIN documents d ON t.doc_id = d.doc_id),
         |sp AS (SELECT DISTINCT source, g FROM spx)
         |SELECT a.source AS src_a, b.source AS src_b,
         |       count(*) AS n_shared_spans
         |FROM sp a JOIN sp b ON a.g = b.g AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin,
    "d_decontaminate" ->
      s"""WITH $thCte,
         |shT AS (SELECT doc_id, ${PT.shingleHashesDuck("th")} AS sh FROM thT),
         |bench AS (SELECT DISTINCT unnest(sh) AS g FROM shT
         |          WHERE doc_id % 97 = 0),
         |ex AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
         |              unnest(sh) AS g
         |       FROM shT WHERE doc_id % 97 <> 0)
         |SELECT doc_id, n_shingles, count(*) AS n_overlap,
         |       CAST(count(*) AS DOUBLE) / CAST(n_shingles AS DOUBLE)
         |         AS overlap_frac
         |FROM ex JOIN bench USING (g)
         |GROUP BY doc_id, n_shingles
         |HAVING count(*) >= 3""".stripMargin,
    "d_decontaminate_bloom" ->
      s"""WITH $thCte,
         |shT AS (SELECT doc_id, ${PT.shingleHashesDuck("th")} AS sh FROM thT),
         |bench AS (SELECT DISTINCT unnest(sh) AS g FROM shT
         |          WHERE doc_id % 97 = 0),
         |bpos AS (
         |  SELECT DISTINCT unnest([
         |    ((g % 1000000007) * 2654435761 + 17) % 1000000007 % 1048576,
         |    ((g % 1000000007) * 2246822519 + 31) % 1000000007 % 1048576,
         |    ((g % 1000000007) * 3266489917 + 47) % 1000000007 % 1048576
         |  ]) AS p FROM bench),
         |ex AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
         |              unnest(sh) AS g
         |       FROM shT WHERE doc_id % 97 <> 0),
         |hit AS (
         |  SELECT doc_id, n_shingles FROM ex
         |  WHERE ((g % 1000000007) * 2654435761 + 17) % 1000000007 % 1048576
         |          IN (SELECT p FROM bpos)
         |    AND ((g % 1000000007) * 2246822519 + 31) % 1000000007 % 1048576
         |          IN (SELECT p FROM bpos)
         |    AND ((g % 1000000007) * 3266489917 + 47) % 1000000007 % 1048576
         |          IN (SELECT p FROM bpos))
         |SELECT doc_id, n_shingles, count(*) AS n_bloom_hits,
         |       CAST(count(*) AS DOUBLE) / CAST(n_shingles AS DOUBLE)
         |         AS hit_frac
         |FROM hit
         |GROUP BY doc_id, n_shingles
         |HAVING count(*) >= 3""".stripMargin,
    "t_tfidf" ->
      s"""WITH $thCte,
         |tu AS (SELECT doc_id, unnest(th) AS t FROM thT),
         |tf AS (SELECT doc_id, t, count(*) AS tf FROM tu GROUP BY 1, 2),
         |dfq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
         |sc AS (SELECT doc_id, t, tf, df, tf * 1000000 // df AS score,
         |              row_number() OVER (PARTITION BY doc_id
         |                ORDER BY tf * 1000000 // df DESC, t) AS rk
         |       FROM tf JOIN dfq USING (t))
         |SELECT doc_id, rk, t AS term_hash, tf, df, score
         |FROM sc WHERE rk <= 3""".stripMargin,
    // BM25 with the rational idf / cleared-denominator saturation term —
    // every factor exact BIGINT, floor division on both engines. The
    // indexed face runs the SAME SQL: a hash match proves the persisted
    // index read path is rank-identical to the from-corpus recompute
    "t_bm25" -> bm25OracleSql,
    "t_bm25_indexed" -> bm25OracleSql,
    "stream_text_index" -> bm25OracleSql,
    // rational PMI over reversibly-packed bigram codes (a*2^31 + b);
    // evaluation order of the score mirrors the Spark plan exactly
    "t_collocations" ->
      s"""WITH $thCte,
         |pc AS (SELECT unnest(list_transform(range(1, len(th)),
         |                i -> th[i] * 2147483648 + th[i + 1])) AS code
         |       FROM thT),
         |cab AS (SELECT code, CAST(count(*) AS BIGINT) AS n_ab
         |        FROM pc GROUP BY code),
         |cu AS (SELECT t, CAST(count(*) AS BIGINT) AS n_t FROM
         |         (SELECT unnest(th) AS t FROM thT) GROUP BY t),
         |tot AS (SELECT CAST(sum(len(th) - 1) AS BIGINT) AS n_pairs
         |        FROM thT),
         |sc AS (SELECT code // 2147483648 AS a, code % 2147483648 AS b,
         |              n_ab,
         |              (n_ab * 1000000 // ca.n_t) * n_pairs // cb.n_t
         |                AS score
         |       FROM cab
         |       JOIN cu ca ON code // 2147483648 = ca.t
         |       JOIN cu cb ON code % 2147483648 = cb.t
         |       CROSS JOIN tot
         |       WHERE n_ab >= 5),
         |top AS (SELECT a, b, n_ab, CAST(score AS BIGINT) AS score
         |        FROM sc ORDER BY score DESC, a, b LIMIT 20)
         |SELECT CAST(row_number() OVER (ORDER BY score DESC, a, b)
         |         AS BIGINT) AS rk,
         |       a AS term_a, b AS term_b, n_ab, score
         |FROM top""".stripMargin,
    "d_sample_k" ->
      """WITH h AS (
        |  SELECT source, doc_id, n_chars,
        |         (doc_id % 1000000007) * 2654435761 % 1000000007 AS coin
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |             ORDER BY coin, doc_id) AS rk FROM h)
        |SELECT source, rk, doc_id, n_chars FROM r WHERE rk <= 5""".stripMargin,
    "d_sample_bottomk" ->
      """WITH h AS (
        |  SELECT source, doc_id,
        |         (doc_id % 1000000007) * 2654435761 % 1000000007 AS coin
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |             ORDER BY coin, doc_id) AS rk FROM h)
        |SELECT source, rk, doc_id FROM r WHERE rk <= 5""".stripMargin,
    // priority sampling: integer-exact priority (hash << 20) div weight,
    // ORDER BY/LIMIT is the SEMANTICS — the Spark plan is a bounded
    // bottom-k aggregate, never a global sort
    "d_sample_weighted" ->
      """WITH h AS (
        |  SELECT doc_id, n_chars,
        |         (doc_id % 1000000007) * 2654435761 % 1000000007
        |           * 1048576 // n_chars AS pri
        |  FROM documents WHERE n_chars > 0),
        |r AS (SELECT doc_id, n_chars,
        |             row_number() OVER (ORDER BY pri, doc_id) AS rk
        |      FROM h)
        |SELECT CAST(rk AS BIGINT) AS rk, doc_id, n_chars
        |FROM r WHERE rk <= 100""".stripMargin,
    // per-source priority quota: the window is the SEMANTICS; the plan
    // is a grouped bounded bottom-k aggregate, never a stratum sort
    "d_sample_stratified" ->
      """WITH h AS (
        |  SELECT source, doc_id, n_chars,
        |         (doc_id % 1000000007) * 2654435761 % 1000000007
        |           * 1048576 // n_chars AS pri
        |  FROM documents WHERE n_chars > 0),
        |r AS (SELECT source, doc_id, n_chars,
        |             row_number() OVER (PARTITION BY source
        |               ORDER BY pri, doc_id) AS rk
        |      FROM h)
        |SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, n_chars
        |FROM r WHERE rk <= 20""".stripMargin,
    // the serial form of the two-level pack: ONE window in (shard,
    // doc_id) order per source — a hash match proves the engine's
    // shard-local offsets + broadcast re-base equal the serial pack
    "d_pack_sequences" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |         CAST(len(${PT.tokensDuck("text")}) AS BIGINT) AS n_tokens,
         |         ((doc_id % 1000003) * 2654435761) % 1000003
         |           % ${PipelineParams.Default.packShards} AS shard
         |  FROM documents),
         |o AS (
         |  SELECT *, COALESCE(sum(n_tokens) OVER (PARTITION BY source
         |           ORDER BY shard, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |           0) AS bin_offset
         |  FROM d)
         |SELECT source, doc_id, n_tokens,
         |       CAST(bin_offset // 2048 AS BIGINT) AS bin_id,
         |       CAST(bin_offset % 2048 AS BIGINT) AS offset_in_bin
         |FROM o""".stripMargin,
    // the pack rollup: same serial-window pack, two stacked aggregates
    "d_pack_stats" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |         CAST(len(${PT.tokensDuck("text")}) AS BIGINT) AS n_tokens,
         |         ((doc_id % 1000003) * 2654435761) % 1000003
         |           % ${PipelineParams.Default.packShards} AS shard
         |  FROM documents),
         |o AS (
         |  SELECT *, COALESCE(sum(n_tokens) OVER (PARTITION BY source
         |           ORDER BY shard, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |           0) AS bin_offset
         |  FROM d),
         |b AS (SELECT source, bin_offset // 2048 AS bin_id,
         |             CAST(count(*) AS BIGINT) AS docs,
         |             CAST(sum(n_tokens) AS BIGINT) AS toks
         |      FROM o GROUP BY 1, 2)
         |SELECT source, CAST(sum(docs) AS BIGINT) AS n_docs,
         |       CAST(max(bin_id) + 1 AS BIGINT) AS n_bins,
         |       CAST(count(*) AS BIGINT) AS bins_started,
         |       CAST(sum(toks) AS BIGINT) AS sum_tokens,
         |       CAST(max(docs) AS BIGINT) AS max_docs_in_bin,
         |       CAST(max(toks) AS BIGINT) AS max_bin_tokens
         |FROM b GROUP BY source""".stripMargin,
    "t_pii_mask" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+',
        |      '<EMAIL>', 'g'),
        |    '[0-9][0-9][0-9][0-9][0-9][0-9]+', '<NUM>', 'g') AS masked,
        |  CAST(length(text) - length(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '', 'g'))
        |    AS BIGINT) AS email_chars,
        |  CAST(length(text) - length(regexp_replace(text,
        |    '[0-9][0-9][0-9][0-9][0-9][0-9]+', '', 'g'))
        |    AS BIGINT) AS digit_run_chars
        |FROM documents""".stripMargin,
    "mm_frame_sample" ->
      s"""WITH $mediaIdsCte,
        |n AS (SELECT event_id, 4 + event_id % 28 AS nf FROM mediaIds),
        |sf AS (SELECT event_id, nf, f.r AS f FROM n, range(0, 32) f(r)
        |       WHERE f.r < nf AND f.r % 3 = 0),
        |fs AS (SELECT event_id, f,
        |       CAST(sum((event_id * 17 + f * 29 + j.r * 5) % 256) AS BIGINT)
        |         AS fsum
        |       FROM sf, range(0, 48) j(r) GROUP BY 1, 2),
        |sig AS (SELECT event_id, CAST(count(*) AS BIGINT) AS n_sampled,
        |        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list(fsum ORDER BY f)),
        |          (a, x) -> (a * 31 + x) % 1000000007) AS BIGINT)
        |          AS frame_sig
        |        FROM fs GROUP BY event_id)
        |SELECT n.event_id, CAST(nf AS BIGINT) AS n_frames,
        |       CAST(4 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
        |       sig.n_sampled, sig.frame_sig
        |FROM n JOIN sig USING (event_id)""".stripMargin,
    // per-pair absolute byte deltas recomputed from the frame synthesis
    // formula; min clip length 4 frames -> >= 3 pairs, joins never drop
    "mm_video_motion" ->
      s"""WITH $mediaIdsCte,
        |n AS (SELECT event_id, 4 + event_id % 28 AS nf FROM mediaIds),
        |pm AS (SELECT event_id, f.r AS f,
        |       CAST(sum(abs(
        |         (event_id * 17 + f.r * 29 + j.r * 5) % 256 -
        |         (event_id * 17 + (f.r + 1) * 29 + j.r * 5) % 256))
        |         AS BIGINT) AS pm
        |       FROM n, range(0, 31) f(r), range(0, 48) j(r)
        |       WHERE f.r < nf - 1 GROUP BY 1, 2),
        |sig AS (SELECT event_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |        CAST(sum(pm) AS BIGINT) AS total_motion,
        |        CAST(max(pm) AS BIGINT) AS max_pair_motion,
        |        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list(pm % 1000000007 ORDER BY f)),
        |          (a, x) -> (a * 31 + x) % 1000000007) AS BIGINT)
        |          AS motion_sig
        |        FROM pm GROUP BY event_id)
        |SELECT n.event_id, CAST(nf AS BIGINT) AS n_frames, sig.n_pairs,
        |       sig.total_motion, sig.max_pair_motion, sig.motion_sig
        |FROM n JOIN sig USING (event_id)""".stripMargin,
    "emb_centroids" ->
      """SELECT CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS dim,
        |       count(*) AS n_vecs,
        |       CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000.0) AS BIGINT)) AS DOUBLE)
        |         / (CAST(count(*) AS DOUBLE) * 10000.0) AS centroid
        |FROM embeddings CROSS JOIN range(1, 65) r(i)
        |GROUP BY 1, 2""".stripMargin,
    "emb_kmeans_iter" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |cent AS (SELECT cid, cv FROM (
         |  SELECT vec_id AS cid, v AS cv,
         |         row_number() OVER (ORDER BY vec_id) AS rn,
         |         count(*) OVER () AS n FROM e)
         |  WHERE rn <= greatest(16, n // 50)),
         |scored AS (
         |  SELECT e.vec_id, e.v, cent.cid,
         |         ${PV.cosineDuck("e.v", "cent.cv")} AS ccos
         |  FROM e CROSS JOIN cent),
         |a AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |             ORDER BY ccos DESC, cid) AS crn FROM scored),
         |m AS (SELECT cid, i, CAST(v[i] AS DOUBLE) AS x
         |      FROM a CROSS JOIN range(1, 65) r(i) WHERE crn = 1)
         |SELECT cid, CAST(i AS BIGINT) AS dim, count(*) AS n_vecs,
         |       CAST(sum(CAST(floor(x * 10000.0) AS BIGINT)) AS DOUBLE)
         |         / (CAST(count(*) AS DOUBLE) * 10000.0) AS centroid
         |FROM m GROUP BY cid, i""".stripMargin,
    "emb_pca_power" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qv
        |  FROM embeddings),
        |d AS (
        |  SELECT vec_id, qv,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), qv),
        |      (a, x) -> a + x) AS dotq
        |  FROM q),
        |e AS (SELECT dotq, i, qv[i] AS xq FROM d CROSS JOIN range(1, 65) r(i)),
        |s AS (
        |  SELECT CAST(i AS BIGINT) AS dim, count(*) AS n_vecs,
        |    CAST(sum(xq * dotq) AS BIGINT) AS power_sum
        |  FROM e GROUP BY i)
        |SELECT dim, n_vecs, power_sum,
        |  CAST(power_sum AS DOUBLE) /
        |    CAST(max(abs(power_sum)) OVER () AS DOUBLE) AS direction
        |FROM s""".stripMargin,
    "emb_outliers" ->
      """WITH nmx AS (
        |  SELECT (SELECT max(cnt) FROM (
        |            SELECT count(*) AS cnt FROM embeddings GROUP BY label)) *
        |         greatest(1, CAST(ceil((SELECT max(list_max(list_transform(
        |           embedding, x -> abs(CAST(x AS DOUBLE))))) FROM embeddings))
        |           AS BIGINT)) AS nm),
        |sc AS (SELECT CASE WHEN nm <= 18000 THEN 10000.0
        |                   WHEN nm <= 180000 THEN 1000.0
        |                   WHEN nm <= 1800000 THEN 100.0
        |                   WHEN nm <= 18000000 THEN 10.0
        |                   ELSE 1.0 END AS s FROM nmx),
        |q AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * s) AS BIGINT)) AS qv
        |  FROM embeddings CROSS JOIN sc),
        |e AS (SELECT vec_id, label, i, qv[i] AS xq
        |      FROM q CROSS JOIN range(1, 65) r(i)),
        |st AS (SELECT label, i, CAST(sum(xq) AS BIGINT) AS sd, count(*) AS n
        |       FROM e GROUP BY 1, 2),
        |d AS (
        |  SELECT e.vec_id, e.label,
        |    CAST(sum((st.n * e.xq - st.sd) * (st.n * e.xq - st.sd))
        |      AS BIGINT) AS dist2
        |  FROM e JOIN st ON st.label = e.label AND st.i = e.i
        |  GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY label
        |        ORDER BY dist2 DESC, vec_id) AS rnk FROM d)
        |SELECT vec_id, label, dist2, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 5""".stripMargin,
    "d_quantile_filter" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CAST(len($toksDuck) AS BIGINT) AS n_tokens
         |  FROM documents),
         |thr AS (SELECT source, quantile_cont(n_tokens, 0.25) AS p25
         |        FROM t GROUP BY source)
         |SELECT doc_id, t.source, n_tokens, p25, n_tokens >= p25 AS kept
         |FROM t JOIN thr ON thr.source = t.source""".stripMargin,
    "d_shard_assign" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         ((doc_id % 1000003) * 2654435761) % 1000003 AS hv
        |  FROM documents)
        |SELECT doc_id, hv % 64 AS shard,
        |       CAST(row_number() OVER (PARTITION BY hv % 64
        |            ORDER BY hv, doc_id) AS BIGINT) AS pos
        |FROM h""".stripMargin,
    // SQ reconstruction telemetry: same dequantization CTEs as ann_sq,
    // residuals e9-floored so the fold and the one divide are exact
    "emb_quantize_error" ->
      s"""WITH $bucketCte,
         |dim AS (
         |  SELECT i, min(CAST(v[i] AS DOUBLE)) AS mn,
         |         max(CAST(v[i] AS DOUBLE)) AS mx
         |  FROM e CROSS JOIN range(1, 65) r(i) GROUP BY i),
         |st AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
         |       FROM dim),
         |c1 AS (
         |  SELECT vec_id, v,
         |         list_transform(range(1, 65), i ->
         |           mns[i] + CAST(
         |             CASE WHEN mxs[i] = mns[i] THEN 0
         |             ELSE CAST(floor((CAST(v[i] AS DOUBLE) - mns[i]) * 255.0
         |                  / (mxs[i] - mns[i])) AS BIGINT) END AS DOUBLE)
         |             * (mxs[i] - mns[i]) / 255.0) AS deq
         |  FROM e CROSS JOIN st),
         |er AS (
         |  SELECT c1.vec_id,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(range(1, 65), i ->
         |             CAST(floor(abs(CAST(c1.v[i] AS DOUBLE) - c1.deq[i])
         |                  * 1000000000.0 + 0.5) AS BIGINT))),
         |           (a, x) -> a + x) AS err
         |  FROM c1)
         |SELECT CAST(emb.label AS BIGINT) AS label,
         |       CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(sum(err) AS BIGINT) AS err_e9,
         |       CAST(CAST(sum(err) AS BIGINT) AS DOUBLE)
         |         / CAST(count(*) * 64 AS DOUBLE) / 1000000000.0 AS mae
         |FROM er JOIN embeddings emb ON emb.vec_id = er.vec_id
         |GROUP BY 1""".stripMargin,
    // per-window raw energies + the integer below-average quiet rule —
    // same synthesis CTEs as mm_audio_chunks, without the fold modulus
    "mm_audio_silence" ->
      s"""WITH $mediaIdsCte,
         |n AS (
         |  SELECT event_id, 1000 + event_id % 1000 AS ns FROM mediaIds),
         |samp AS (SELECT event_id, ns, i.r AS i,
         |         (event_id * 1103515245 + i.r * 12345) % 65536 - 32768 AS s
         |         FROM n, range(0, 2000) i(r) WHERE i.r < ns),
         |tot AS (SELECT event_id, CAST(sum(s * s) AS BIGINT) AS energy
         |        FROM samp GROUP BY event_id),
         |wnd AS (SELECT event_id, ns, k.r AS k FROM n, range(0, 9) k(r)
         |        WHERE k.r * 200 + 400 <= ns),
         |wsamp AS (SELECT w.event_id, w.ns, w.k,
         |          (w.event_id * 1103515245 + (w.k * 200 + j.r) * 12345)
         |            % 65536 - 32768 AS s
         |          FROM wnd w, range(0, 400) j(r)),
         |wsum AS (SELECT event_id, ns, k, CAST(sum(s * s) AS BIGINT) AS ws
         |         FROM wsamp GROUP BY 1, 2, 3),
         |a AS (SELECT w.event_id,
         |        CAST(count(*) AS BIGINT) AS n_windows,
         |        CAST(sum(CASE WHEN w.ws * w.ns < t.energy * 400
         |                 THEN 1 ELSE 0 END) AS BIGINT) AS n_quiet,
         |        min(w.ws) AS min_wnd_energy, max(w.ws) AS max_wnd_energy
         |      FROM wsum w JOIN tot t USING (event_id) GROUP BY 1)
         |SELECT n.event_id,
         |       CAST(COALESCE(a.n_windows, 0) AS BIGINT) AS n_windows,
         |       CAST(COALESCE(a.n_quiet, 0) AS BIGINT) AS n_quiet,
         |       a.min_wnd_energy, a.max_wnd_energy, t.energy
         |FROM n JOIN tot t USING (event_id)
         |LEFT JOIN a USING (event_id)""".stripMargin,
    "mm_audio_chunks" ->
      s"""WITH $mediaIdsCte,
        |n AS (
        |  SELECT event_id, 1000 + event_id % 1000 AS ns FROM mediaIds),
        |samp AS (SELECT event_id, ns, i.r AS i,
        |         (event_id * 1103515245 + i.r * 12345) % 65536 - 32768 AS s
        |         FROM n, range(0, 2000) i(r) WHERE i.r < ns),
        |tot AS (SELECT event_id, CAST(sum(s * s) AS BIGINT) AS energy
        |        FROM samp GROUP BY event_id),
        |wnd AS (SELECT event_id, k.r AS k FROM n, range(0, 9) k(r)
        |        WHERE k.r * 200 + 400 <= ns),
        |wsamp AS (SELECT w.event_id, w.k,
        |          (w.event_id * 1103515245 + (w.k * 200 + j.r) * 12345)
        |            % 65536 - 32768 AS s
        |          FROM wnd w, range(0, 400) j(r)),
        |wsum AS (SELECT event_id, k,
        |         CAST(sum(s * s) % 1000000007 AS BIGINT) AS ws
        |         FROM wsamp GROUP BY 1, 2),
        |sig AS (SELECT event_id, CAST(count(*) AS BIGINT) AS n_windows,
        |        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list(ws ORDER BY k)),
        |          (a, x) -> (a * 31 + x) % 1000000007) AS BIGINT)
        |          AS window_sig
        |        FROM wsum GROUP BY event_id)
        |SELECT n.event_id, CAST(ns AS BIGINT) AS n_samples,
        |       CAST(8000 AS BIGINT) AS sample_rate, sig.n_windows,
        |       tot.energy, sig.window_sig
        |FROM n JOIN tot USING (event_id) JOIN sig USING (event_id)""".stripMargin,
    // zero crossings recomputed from the synthesis formula: both samples
    // of each consecutive pair are closed-form, so no lag window is
    // needed; min clip length is 1000 samples, so every event has >= 3
    // windows and the plain joins never drop a row
    "mm_audio_zcr" ->
      s"""WITH $mediaIdsCte,
        |n AS (
        |  SELECT event_id, 1000 + event_id % 1000 AS ns FROM mediaIds),
        |pair AS (SELECT event_id, ns, i.r AS i,
        |         (event_id * 1103515245 + i.r * 12345) % 65536 - 32768
        |           AS s0,
        |         (event_id * 1103515245 + (i.r + 1) * 12345) % 65536
        |           - 32768 AS s1
        |         FROM n, range(0, 2000) i(r) WHERE i.r < ns - 1),
        |tot AS (SELECT event_id,
        |        CAST(sum(CASE WHEN (s0 < 0) <> (s1 < 0) THEN 1 ELSE 0
        |          END) AS BIGINT) AS total_zc
        |        FROM pair GROUP BY event_id),
        |wnd AS (SELECT event_id, k.r AS k FROM n, range(0, 9) k(r)
        |        WHERE k.r * 200 + 400 <= ns),
        |wpair AS (SELECT w.event_id, w.k,
        |          (w.event_id * 1103515245 + (w.k * 200 + j.r) * 12345)
        |            % 65536 - 32768 AS s0,
        |          (w.event_id * 1103515245 + (w.k * 200 + j.r + 1)
        |            * 12345) % 65536 - 32768 AS s1
        |          FROM wnd w, range(0, 399) j(r)),
        |wz AS (SELECT event_id, k,
        |       CAST(sum(CASE WHEN (s0 < 0) <> (s1 < 0) THEN 1 ELSE 0
        |         END) AS BIGINT) AS wz
        |       FROM wpair GROUP BY 1, 2),
        |sig AS (SELECT event_id, CAST(count(*) AS BIGINT) AS n_windows,
        |        CAST(max(wz) AS BIGINT) AS max_window_zc,
        |        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list(wz ORDER BY k)),
        |          (a, x) -> (a * 31 + x) % 1000000007) AS BIGINT)
        |          AS zc_sig
        |        FROM wz GROUP BY event_id)
        |SELECT n.event_id, CAST(ns AS BIGINT) AS n_samples,
        |       sig.n_windows, tot.total_zc, sig.max_window_zc, sig.zc_sig
        |FROM n JOIN tot USING (event_id) JOIN sig USING (event_id)"""
        .stripMargin,
    // window energies Sum(s^2) from the synthesis formula, one rose/fell
    // bit per consecutive window pair packed into a long, then the
    // mm_phash grouping shape
    "mm_audio_fingerprint" ->
      s"""WITH $mediaIdsCte,
        |n AS (
        |  SELECT event_id, 1000 + event_id % 1000 AS ns FROM mediaIds),
        |wnd AS (SELECT event_id, k.r AS k FROM n, range(0, 9) k(r)
        |        WHERE k.r * 200 + 400 <= ns),
        |ws AS (SELECT w.event_id, w.k,
        |       (w.event_id * 1103515245 + (w.k * 200 + j.r) * 12345)
        |         % 65536 - 32768 AS s
        |       FROM wnd w, range(0, 400) j(r)),
        |we AS (SELECT event_id, k, CAST(sum(s * s) AS BIGINT) AS e
        |       FROM ws GROUP BY 1, 2),
        |dl AS (SELECT event_id, k, e,
        |              lag(e) OVER (PARTITION BY event_id ORDER BY k) AS pe
        |       FROM we),
        |fp AS (SELECT event_id,
        |       CAST(sum(CASE WHEN pe IS NOT NULL AND e > pe AND k <= 64
        |         THEN (CAST(1 AS BIGINT) << CAST(k - 1 AS INT))
        |         ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS afp
        |       FROM dl GROUP BY event_id)
        |SELECT afp, CAST(count(*) AS BIGINT) AS n_clips,
        |       min(event_id) AS keeper_id
        |FROM fp GROUP BY afp""".stripMargin,
    "mm_features" ->
      s"""WITH $mediaIdsCte,
        |d AS (SELECT event_id, 8 + event_id % 9 AS w,
        |             8 + (event_id // 9) % 9 AS h FROM mediaIds),
        |px AS (SELECT event_id, w, h, x.r AS x, y.r AS y
        |       FROM d, range(0, 17) x(r), range(0, 17) y(r)
        |       WHERE x.r < w AND y.r < h)
        |SELECT event_id, CAST(min(w) AS BIGINT) AS width,
        |       CAST(min(h) AS BIGINT) AS height,
        |       CAST(sum((event_id * 31 + x * 7 + y * 13) % 256) AS BIGINT)
        |         AS sum_r,
        |       CAST(sum((event_id * 31 + x * 7 + y * 13 + 101) % 256)
        |         AS BIGINT) AS sum_g,
        |       CAST(sum((event_id * 31 + x * 7 + y * 13 + 202) % 256)
        |         AS BIGINT) AS sum_b
        |FROM px GROUP BY event_id""".stripMargin,
    // types over token hashes: the same polynomial hash both engines
    "t_ttr" ->
      s"""WITH $thCte
         |SELECT doc_id, CAST(len(th) AS BIGINT) AS n_tokens,
         |       CAST(len(list_distinct(th)) AS BIGINT) AS n_types,
         |       CAST(len(list_distinct(th)) AS DOUBLE) /
         |         CAST(len(th) AS DOUBLE) AS ttr
         |FROM thT""".stripMargin,
    // the synth pixel formula reproduces the decoded luminances; the
    // signed fingerprint = -2^63*b63 + sum 2^i*bi, so a decimal sum of
    // shifted bits equals the JVM bit-or exactly
    "mm_phash" ->
      s"""WITH $mediaIdsCte,
        |d AS (SELECT event_id, 8 + event_id % 9 AS w,
        |             8 + (event_id // 9) % 9 AS h FROM mediaIds),
        |g AS (SELECT event_id, gx.r AS gx, gy.r AS gy,
        |             (gx.r * w) // 8 AS x, (gy.r * h) // 8 AS y
        |      FROM d, range(0, 8) gx(r), range(0, 8) gy(r)),
        |l AS (SELECT event_id, gx, gy,
        |               (event_id * 31 + x * 7 + y * 13) % 256
        |             + (event_id * 31 + x * 7 + y * 13 + 101) % 256
        |             + (event_id * 31 + x * 7 + y * 13 + 202) % 256 AS lum
        |      FROM g),
        |t AS (SELECT event_id, sum(lum) AS total FROM l GROUP BY 1),
        |ph AS (SELECT l.event_id,
        |              CAST(sum(CASE WHEN 64 * lum <= total
        |                  THEN CAST(0 AS HUGEINT)
        |                WHEN gy * 8 + gx = 63
        |                  THEN CAST(-9223372036854775808 AS HUGEINT)
        |                ELSE CAST(CAST(1 AS BIGINT) << (gy * 8 + gx)
        |                  AS HUGEINT) END) AS BIGINT) AS phash
        |       FROM l JOIN t ON l.event_id = t.event_id
        |       GROUP BY l.event_id)
        |SELECT phash, CAST(count(*) AS BIGINT) AS n_images,
        |       min(event_id) AS keeper_id
        |FROM ph GROUP BY phash""".stripMargin,
    // same ph CTE as mm_phash; 4x16-bit bands are EXACT for hamming <= 3
    // (pigeonhole: 3 bits touch at most 3 of 4 bands). Low 16 bits of
    // the shift are identical under arithmetic or logical >> semantics,
    // so the masked band sigs agree across engines
    "mm_phash_neardup" ->
      s"""WITH $mediaIdsCte,
        |d AS (SELECT event_id, 8 + event_id % 9 AS w,
        |             8 + (event_id // 9) % 9 AS h FROM mediaIds),
        |g AS (SELECT event_id, gx.r AS gx, gy.r AS gy,
        |             (gx.r * w) // 8 AS x, (gy.r * h) // 8 AS y
        |      FROM d, range(0, 8) gx(r), range(0, 8) gy(r)),
        |l AS (SELECT event_id, gx, gy,
        |               (event_id * 31 + x * 7 + y * 13) % 256
        |             + (event_id * 31 + x * 7 + y * 13 + 101) % 256
        |             + (event_id * 31 + x * 7 + y * 13 + 202) % 256 AS lum
        |      FROM g),
        |t AS (SELECT event_id, sum(lum) AS total FROM l GROUP BY 1),
        |ph AS (SELECT l.event_id,
        |              CAST(sum(CASE WHEN 64 * lum <= total
        |                  THEN CAST(0 AS HUGEINT)
        |                WHEN gy * 8 + gx = 63
        |                  THEN CAST(-9223372036854775808 AS HUGEINT)
        |                ELSE CAST(CAST(1 AS BIGINT) << (gy * 8 + gx)
        |                  AS HUGEINT) END) AS BIGINT) AS phash
        |       FROM l JOIN t ON l.event_id = t.event_id
        |       GROUP BY l.event_id),
        |bands AS (SELECT event_id, phash, k.r AS band_idx,
        |                 (phash >> (CAST(k.r AS INT) * 16)) & 65535 AS sig
        |          FROM ph, range(0, 4) k(r)),
        |dup AS (SELECT b.event_id, min(a.event_id) AS first_dup
        |        FROM bands b JOIN bands a ON a.band_idx = b.band_idx
        |          AND a.sig = b.sig AND a.event_id < b.event_id
        |          AND bit_count(xor(a.phash, b.phash)) <= 3
        |        GROUP BY b.event_id)
        |SELECT ph.event_id, dup.first_dup,
        |       dup.first_dup IS NULL AS kept
        |FROM ph LEFT JOIN dup USING (event_id)""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_exact_dedup" -> (dExactDedup _),
    "d_minhash_lsh" -> (dMinhashLsh _),
    "stream_minhash_dedup" -> (streamMinhashDedup _),
    "stream_vec_dedup" -> (streamVecDedup _),
    "stream_incremental_dedup" -> (streamIncrementalDedup _),
    "d_simhash" -> (dSimhash _),
    "d_ngram_jaccard" -> (dNgramJaccard _),
    "d_ngram_containment" -> (dNgramContainment _),
    "d_dedup_clusters" -> (dDedupClusters _),
    "d_split_leakfree" -> (dSplitLeakfree _),
    "d_embed_neardup" -> (dEmbedNeardup _),
    "d_semdedup" -> ((s, d) => dSemdedup(s, d)),
    "ann_bruteforce" -> (annBruteforce _),
    "ann_lsh" -> (annLsh _),
    "ann_ivf" -> ((s, d) => annIvf(s, d)),
    "ann_filtered" -> ((s, d) => annFiltered(s, d)),
    "ann_range" -> ((s, d) => annRange(s, d)),
    "ann_hybrid" -> ((s, d) => annHybrid(s, d)),
    "ann_sq" -> (annSq _),
    "ann_pq" -> (annPq _),
    "ann_rerank" -> (annRerank _),
    "ann_ivfpq" -> ((s, d) => annIvfPq(s, d)),
    "emb_recall_eval" -> (embRecallEval _),
    "d_keep_best" -> (dKeepBest _),
    "d_dup_ngram_frac" -> (dDupNgramFrac _),
    "t_gopher_rules" -> (tGopherRules _),
    "emb_centroids" -> (embCentroids _),
    "emb_kmeans_iter" -> ((s, d) => embKmeansIter(s, d)),
    "emb_pca_power" -> (embPcaPower _),
    "emb_outliers" -> (embOutliers _),
    "d_quantile_filter" -> (dQuantileFilter _),
    "d_shard_assign" -> ((s, d) => dShardAssign(s, d)),
    "t_langid" -> (tLangid _),
    "t_quality" -> (tQuality _),
    "t_tokens" -> (tTokens _),
    "t_ttr" -> (tTtr _),
    "t_fingerprint" -> (tFingerprint _),
    "t_winnow" -> (tWinnow _),
    "emb_kcenter" -> (embKcenter _),
    "t_repetition" -> (tRepetition _),
    "t_pii_mask" -> (tPiiMask _),
    "d_span_dedup" -> (dSpanDedup _),
    "d_incremental_dedup" -> (dIncrementalDedup _),
    "d_decontaminate" -> (dDecontaminate _),
    "d_decontaminate_bloom" -> (dDecontaminateBloom _),
    "t_tfidf" -> (tTfidf _),
    "d_sample_k" -> (dSampleK _),
    "d_sample_bottomk" -> (dSampleBottomk _),
    "d_sample_weighted" -> (dSampleWeighted _),
    "d_sample_stratified" -> (dSampleStratified _),
    "d_cross_source_overlap" -> (dCrossSourceOverlap _),
    "emb_knn_graph" -> (embKnnGraph _),
    "emb_density" -> (embDensity _),
    "emb_hard_negatives" -> (embHardNegatives _),
    "emb_pagerank" -> (embPagerank _),
    "emb_mutual_knn" -> (embMutualKnn _),
    "emb_label_prop" -> (embLabelProp _),
    "ann_stats" -> ((s: SparkSession, dir: String) => annStats(s, dir)),
    "emb_silhouette" -> ((s, d) => embSilhouette(s, d)),
    "t_bm25" -> (tBm25 _),
    "t_bm25_indexed" -> (tBm25Indexed _),
    "stream_text_index" -> (streamTextIndex _),
    "t_collocations" -> (tCollocations _),
    "d_pack_sequences" -> ((s, d) => dPackSequences(s, d)),
    "d_pack_stats" -> ((s, d) => dPackStats(s, d)),
    "d_sample_mix" -> (dSampleMix _),
    "d_epoch_mix" -> (dEpochMix _),
    "d_corpus_pipeline" -> (dCorpusPipeline _),
    "d_corpus_pipeline_v2" -> (dCorpusPipelineV2 _),
    "d_leak_audit" -> (dLeakAudit _),
    "d_cluster_size_hist" -> (dClusterSizeHist _),
    "t_lang_confusion" -> (tLangConfusion _),
    "d_minhash_est_err" -> (dMinhashEstErr _),
    "t_hapax" -> (tHapax _),
    "t_ngram_lm" -> (tNgramLm _),
    "t_ngram_lm_ref" -> (tNgramLmRef _),
    "d_ccnet_buckets" -> (dCcnetBuckets _),
    "d_soft_dedup_weights" -> (dSoftDedupWeights _),
    "t_vocab_growth" -> (tVocabGrowth _),
    "t_ngram_freq" -> (tNgramFreq _),
    "t_bpe_pairs" -> (tBpePairs _),
    "t_keywords" -> (tKeywords _),
    "mm_features" -> (mmFeatures _),
    "mm_phash" -> (mmPhash _),
    "mm_phash_neardup" -> (mmPhashNeardup _),
    "mm_frame_sample" -> (mmFrameSample _),
    "mm_audio_chunks" -> (mmAudioChunks _),
    "mm_audio_silence" -> (mmAudioSilence _),
    "emb_quantize_error" -> (embQuantizeError _),
    "mm_audio_zcr" -> (mmAudioZcr _),
    "mm_audio_fingerprint" -> (mmAudioFingerprint _),
    "mm_video_motion" -> (mmVideoMotion _),
    "emb_triplet_mine" -> (embTripletMine _),
    "t_novelty" -> (tNovelty _),
    "emb_drift" -> (embDrift _)
  )
}
