package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{TimeSeriesAggregator => TSA}

/** Scale-up smoke: replicate the sf0.1 tables N× (time/key-shifted so the
  * copies are real disjoint data, not dedupe fodder) and time the headline
  * operators at 1× and N×. The point is the RATIO: a plan that holds its
  * shape scales ~linearly in rows, while an accidental nested loop or
  * driver-side collect blows up superlinearly — this is the local stand-in
  * for the 100 TB scale-up question (SURVEY.md §4).
  *
  * The SKEWED family exists because uniform replicas can't surface hot-key
  * pathologies: `documents_zipf` gives every doc a shared token (df ≈ N)
  * plus a verbatim boilerplate sentence on half the docs (one span hash
  * covering N/2 docs) — the stopword-df / license-header skew every real
  * corpus has; `events_hot` funnels half of all events onto one user_id.
  * Each timed run reports max/median task duration: a hot key that lands
  * in one unsplittable partition shows up as a straggler ratio even when
  * wall-clock still looks fine at local scale.
  *
  * Usage: runMain graft.ScaleSmoke [factor]   (default 10)
  */
object ScaleSmoke {
  /** Nearest-centroid assignment over a k-seed codebook (iters = 0 —
    * the deterministic quantizer rule), through the production indexed
    * path or the flat reference ranking. */
  private def assignSweep(spark: SparkSession, embPath: String, k: Int,
      flat: Boolean): DataFrame = {
    val e = spark.read.parquet(embPath).select("vec_id", "embedding")
    val cent = graft.ml.Embeddings.kmeansFit(e, k, iters = 0)
      .select(col("cid"), col("cv"))
    if (flat)
      graft.ml.Embeddings.assignRankedFlat(e, cent)
        .filter(col("crn") === 1).select("vec_id", "cid")
    else
      graft.ml.Embeddings.assign(e, cent).select("vec_id", "cid")
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()

    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_scale_$factor"
    import TenX.{copies, shifted}
    // one replicated table under $dir/<name>, built once: `factor` copies
    // of the sf table the name starts with, each tagged `__i` for
    // `transform`
    def replica(name: String)(transform: DataFrame => DataFrame): Unit =
      if (!new java.io.File(s"$dir/$name").isDirectory)
        transform(copies(Tables.load(spark, sf, name.takeWhile(_.isLetter)),
          factor)).drop("__i").write.mode("overwrite").parquet(s"$dir/$name")
    def eventsShifted(df: DataFrame): DataFrame = df
      .withColumn("ts", col("ts") + expr("make_dt_interval(__i * 30, 0, 0, 0)"))
      .withColumn("event_id", shifted("event_id"))

    // events: each copy shifted +30 days and re-keyed — disjoint chunks
    replica("events")(eventsShifted)
    replica("lineitem")(_.withColumn("l_orderkey", shifted("l_orderkey")))
    // documents: re-keyed + a per-copy marker token prepended so the
    // copies are near-dupes (realistic), not byte-identical clones
    replica("documents.parquet")(_
      .withColumn("doc_id", shifted("doc_id"))
      .withColumn("text", concat(lit("copymark"), col("__i").cast("string"),
        lit(" "), col("text"))))
    // Zipfian skew: token z0 in EVERY doc (stopword df), z1 in half,
    // z2 in a quarter; half the docs share a verbatim 9-token
    // boilerplate sentence (license-header span skew)
    val boiler = " all rights reserved redistribution permitted under" +
      " the public license"
    replica("documents_zipf.parquet")(_
      .withColumn("doc_id", shifted("doc_id"))
      .withColumn("text", concat(
        col("text"), lit(" z0"),
        when(col("doc_id") % 2 === 0, lit(" z1")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit(" z2")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0, lit(boiler)).otherwise(lit("")))))
    // uniform replica: re-keyed copies keep the original 16 seed
    // vectors (vec_id < 16) as the coarse centroids
    replica("embeddings.parquet")(_.withColumn("vec_id", shifted("vec_id")))
    // hot-cluster embeddings: every vector of the odd copies collapses
    // onto one near-constant direction, so ONE coarse cluster holds
    // half the corpus — the SemDeDup worst case (the paper's k must
    // grow with the corpus; this pins that the within-cluster equi-join
    // stays an AQE-splittable join, not an unsplittable partition)
    replica("embeddings_hot.parquet")(_
      .withColumn("vec_id", shifted("vec_id"))
      .withColumn("embedding",
        when(col("__i") % 2 === 1, expr(
          "transform(sequence(0, 63), j -> CAST(CASE WHEN j = 0 " +
            "THEN 1.0 ELSE 0.0001 * ((vec_id * 7 + CAST(j AS BIGINT))" +
            " % 5) END AS FLOAT))"))
          .otherwise(col("embedding"))))
    // source-skewed documents: 90% of all docs funneled onto source
    // 'web' — the real shape of a crawl corpus. This is the dir where
    // a per-source-only pack window serializes (one task carries 90%
    // of the corpus); the two-level pack must hold its max-task bound
    replica("documents_srchot.parquet")(_
      .withColumn("doc_id", shifted("doc_id"))
      .withColumn("source",
        when(col("doc_id") % 10 < 9, lit("web")).otherwise(col("source"))))
    // hot-key events: half of all rows funneled onto user_id 1
    replica("events_hot.parquet")(eventsShifted(_)
      .withColumn("user_id",
        when(col("event_id") % 2 === 0, 1L).otherwise(col("user_id"))))
    def linkDir(name: String, target: String, as: String): String = {
      // PipelineQueries.tbl resolves "<dir>/<table>.parquet": expose a
      // variant table through a directory of symlinks shaped like an sf dir
      val d = java.nio.file.Paths.get(s"$dir/$name")
      java.nio.file.Files.createDirectories(d)
      val link = d.resolve(s"$as.parquet")
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(s"$dir/$target"))
      d.toString
    }
    val zipfDir = linkDir("zipf_sf", "documents_zipf.parquet", "documents")
    val srcHotDir =
      linkDir("srchot_sf", "documents_srchot.parquet", "documents")
    val hotEmbDir =
      linkDir("hot_emb_sf", "embeddings_hot.parquet", "embeddings")

    // per-run task-duration stats: a hot key inside one unsplittable
    // partition appears as max/median straggler ratio
    val taskDurations = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskInfo != null) taskDurations.add(e.taskInfo.duration)
      })

    val cfgNB = graft.queries.AggQueries.cfg.copy(boundsUs = None)
    def aggCore(ev: DataFrame): DataFrame =
      TSA.gapFill(TSA.dedupe(TSA.filterValid(ev, cfgNB), cfgNB), cfgNB)
    def q1(li: DataFrame): DataFrame =
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("q"), count(lit(1)).as("n"))

    val skewRatios = scala.collection.mutable.LinkedHashMap[String, Double]()
    val maxTaskSec = scala.collection.mutable.LinkedHashMap[String, Double]()
    def time(df: => DataFrame): Double = timeNamed(null, df)
    def timeNamed(name: String, df: => DataFrame): Double = {
      df.write.format("noop").mode("overwrite").save() // warm
      taskDurations.clear()
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      if (name != null) {
        import scala.jdk.CollectionConverters._
        val ds = taskDurations.asScala.toSeq.sorted
        if (ds.nonEmpty && ds(ds.size / 2) > 0) {
          skewRatios(name) =
            ds.last.toDouble / math.max(ds(ds.size / 2), 1L).toDouble
          // the straggler metric that matters for wall-clock: the single
          // longest task (max/median alone over-flags runs whose median
          // task is a trivial metadata stage)
          maxTaskSec(name) = ds.last / 1e3
        }
      }
      dt
    }

    val ev1 = Tables.load(spark, sf, "events")
    val li1 = Tables.load(spark, sf, "lineitem")
    val evN = spark.read.parquet(s"$dir/events")
    val liN = spark.read.parquet(s"$dir/lineitem")
    import graft.queries.PipelineQueries
    val r = Map(
      "agg_core_1x" -> time(aggCore(ev1)),
      s"agg_core_${factor}x" -> time(aggCore(evN)),
      "q1_1x" -> time(q1(li1)),
      s"q1_${factor}x" -> time(q1(liN)),
      // corpus family: $dir carries the replicated documents.parquet, so
      // the registry operators run on it unmodified (linear span-hash and
      // tf/df aggregations — the shapes that must not go quadratic)
      "span_dedup_1x" -> time(PipelineQueries.dSpanDedup(spark, sf)),
      s"span_dedup_${factor}x" -> time(PipelineQueries.dSpanDedup(spark, dir)),
      // banded-LSH near-dup: the row that regressed quadratic under the
      // fixed 8-plane bucket (r8, 142x at 100x) — B scales with n, so
      // this must stay ~linear; watch it every smoke
      "embed_neardup_1x" -> time(PipelineQueries.dEmbedNeardup(spark, sf)),
      s"embed_neardup_${factor}x" ->
        timeNamed("embed_neardup", PipelineQueries.dEmbedNeardup(spark, dir)),
      "tfidf_1x" -> time(PipelineQueries.tTfidf(spark, sf)),
      s"tfidf_${factor}x" -> time(PipelineQueries.tTfidf(spark, dir)),
      // skewed family: Zipf tokens + boilerplate spans; hot-key events
      s"tfidf_zipf_${factor}x" ->
        timeNamed("tfidf_zipf", PipelineQueries.tTfidf(spark, zipfDir)),
      s"span_dedup_zipf_${factor}x" ->
        timeNamed("span_dedup_zipf", PipelineQueries.dSpanDedup(spark, zipfDir)),
      "semdedup_1x" -> time(PipelineQueries.dSemdedup(spark, sf)),
      s"semdedup_${factor}x" -> time(PipelineQueries.dSemdedup(spark, dir)),
      // IVF-PQ: probe pruning over compressed lists — the candidate set
      // is nprobe/k of the corpus and the per-candidate cost is 8 LUT
      // adds, so the scored work must grow ~linearly in n (k ∝ n keeps
      // list sizes flat) with no quadratic or broadcast-lost regime;
      // shares the cached corpus assignment like the other consumers
      "ann_ivfpq_1x" -> time(PipelineQueries.annIvfPq(spark, sf)),
      s"ann_ivfpq_${factor}x" ->
        timeNamed("ann_ivfpq", PipelineQueries.annIvfPq(spark, dir)),
      // params sweep: the tunables must not change the plan SHAPE — a
      // tighter tau or twice the centroids should scale work smoothly,
      // never tip into a different (quadratic/broadcast-lost) regime
      s"semdedup_sweep_tau05_${factor}x" ->
        timeNamed("semdedup_sweep_tau05", PipelineQueries.dSemdedup(
          spark, dir, graft.queries.PipelineParams(semTau = 0.5))),
      s"semdedup_sweep_rpc25_${factor}x" ->
        timeNamed("semdedup_sweep_rpc25", PipelineQueries.dSemdedup(
          spark, dir, graft.queries.PipelineParams(rowsPerCentroid = 25L))),
      s"semdedup_hot_${factor}x" ->
        timeNamed("semdedup_hot",
          PipelineQueries.dSemdedup(spark, hotEmbDir)),
      // assignment-vs-k sweep: the corpus-scaled quantizer grows k with
      // n, so the ASSIGNMENT step is where an O(n·k) flat scan becomes
      // the asymptote. The indexed two-level search must stay ~sublinear
      // in k (per-row work ~2√k) while the flat reference grows
      // linearly — both timed on the same replicated corpus.
      s"assign_k40_idx_${factor}x" -> timeNamed("assign_k40_idx",
        assignSweep(spark, s"$dir/embeddings.parquet", 40, flat = false)),
      s"assign_k400_idx_${factor}x" -> timeNamed("assign_k400_idx",
        assignSweep(spark, s"$dir/embeddings.parquet", 400, flat = false)),
      s"assign_k2000_idx_${factor}x" -> timeNamed("assign_k2000_idx",
        assignSweep(spark, s"$dir/embeddings.parquet", 2000, flat = false)),
      s"assign_k400_flat_${factor}x" -> timeNamed("assign_k400_flat",
        assignSweep(spark, s"$dir/embeddings.parquet", 400, flat = true)),
      s"assign_k2000_flat_${factor}x" -> timeNamed("assign_k2000_flat",
        assignSweep(spark, s"$dir/embeddings.parquet", 2000, flat = true)),
      // sequence packing under source skew (90% 'web'): the default
      // two-level (source, shard) pack vs the packShards=1 degenerate
      // form whose prefix window serializes the hot source through one
      // task — the maxtask_* gap is the reason the two-level rule exists
      s"pack_srchot_${factor}x" ->
        timeNamed("pack_srchot",
          PipelineQueries.dPackSequences(spark, srcHotDir)),
      s"pack_srchot_serial_${factor}x" ->
        timeNamed("pack_srchot_serial",
          PipelineQueries.dPackSequences(spark, srcHotDir,
            graft.queries.PipelineParams(packShards = 1L))),
      s"agg_core_hot_${factor}x" ->
        timeNamed("agg_core_hot",
          aggCore(spark.read.parquet(s"$dir/events_hot.parquet"))),
      s"sessionize_hot_${factor}x" ->
        timeNamed("sessionize_hot", {
          // the REAL operator (bounded-key two-level plan) — this smoke
          // previously inlined the single-window formulation it replaced
          val e = TSA.filterValid(TSA.withEpochUs(
            spark.read.parquet(s"$dir/events_hot.parquet"), "ts"), cfgNB)
          graft.queries.AggQueries.sessionizeEvents(e)
        }))
    val js = r.map { case (k, v) => f""""$k":$v%.3f""" }.mkString(",")
    val sk = (skewRatios.map { case (k, v) =>
      f""""skew_$k":$v%.1f""" } ++ maxTaskSec.map { case (k, v) =>
      f""""maxtask_$k":$v%.2f""" }).mkString(",")
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    println(s"""{"metric":"scale_smoke","factor":$factor,$js,$sk,""" +
      s""""rows_events":${evN.count()},"rows_lineitem":${liN.count()},""" +
      s""""rows_documents":$nDocs}""")
    // teardown: release every dir's memoized frames/checkpoints and
    // derived layouts — the smoke runs several dirs through one session,
    // exactly the long-lived-session shape the caches must not pin
    Seq(sf, dir, zipfDir, hotEmbDir, srcHotDir)
      .foreach(graft.queries.SessionScoped.evict(spark, _))
    spark.stop()
  }
}
