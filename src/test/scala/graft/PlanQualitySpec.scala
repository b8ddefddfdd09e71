package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.scalatest.funsuite.AnyFunSuite

/** Guards the SURVEY.md §4 scale rules at the physical-plan level so a
  * refactor cannot silently reintroduce a shape that works at bench scale
  * but dies at 100 TB: unbounded cartesian products, lost parquet filter
  * pushdown, or the gap-fill pipeline union-recomputing its source scans.
  */
class PlanQualitySpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def physical(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan

  /** All nodes including inside adaptive wrappers (pre-execution the AQE
    * node holds the initial plan). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    (p +: p.children.flatMap(nodes)) ++ (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
      case _                        => Seq.empty
    })

  private def count(p: SparkPlan, pred: SparkPlan => Boolean): Int =
    nodes(p).count(pred)

  test("every registry query has a DuckDB oracle unless known rows-only") {
    // the driver's correctness gate hash-compares against oracleSql; a
    // query without an oracle entry silently degrades to a rows-only check
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("no query plans an unbounded cartesian product") {
    // ann_bruteforce is the explicitly-named O(n*q) baseline: its cross
    // join broadcasts the tiny fixed query set, which plans as a
    // BroadcastNestedLoopJoin, not a CartesianProduct — so even it must
    // not appear here.
    SparkEntry.queries.keys.foreach { name =>
      val n = count(physical(name), _.isInstanceOf[CartesianProductExec])
      assert(n == 0, s"$name plans $n CartesianProduct node(s)")
    }
  }

  test("q1_agg pushes its date filter into the parquet scan") {
    val scans = nodes(physical("q1_agg")).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("LessThan"),
      s"expected pushed range filter, got: $pushed")
    // projection pruned: Q1 reads 6 of lineitem's 16 columns
    assert(scans.head.requiredSchema.fields.length <= 6)
  }

  test("q6_agg pushes every predicate into the scan") {
    val scans = nodes(physical("q6_agg")).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
      "GreaterThanOrEqual(l_discount", "LessThan(l_quantity")
      .foreach(p => assert(pushed.contains(p), s"missing pushdown $p"))
  }

  test("band join and anti join never plan nested loops") {
    for (q <- Seq("q_range_join", "q_anti_join")) {
      val n = count(physical(q), p =>
        p.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec])
      assert(n == 0, s"$q plans $n nested-loop joins")
    }
  }

  test("banded near-dup joins once and never re-joins vectors onto candidates") {
    // the regression shape (r8): dedup-ids-first then re-join vectors
    // onto the candidate set planned THREE joins and shuffled every
    // candidate twice — the in-join-cosine plan has exactly one join
    val p = physical("d_embed_neardup")
    val joins = count(p, x =>
      x.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
    assert(joins == 1, s"d_embed_neardup plans $joins joins (expected 1)")
    val nested = count(p, x =>
      x.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec])
    assert(nested == 0)
  }

  test("fused q_agg_full pipeline keeps a bounded scan count") {
    // one wide data scan + narrow per-chunk summary scans; the old
    // union-of-branches shape planned 6 scans and regrows under refactors
    val n = count(physical("q_agg_full"),
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(n <= 4, s"q_agg_full plans $n parquet scans (expected <= 4)")
  }

  test("pivot, cube, and the KMV sketch aggregate in one shuffle") {
    // grouping-set expansion, the static-value-list pivot, and the custom
    // TypedImperativeAggregate must all plan as ONE partial/final pair —
    // a second exchange would mean the expansion/sketch lost its
    // map-side combine
    for (q <- Seq("q_pivot", "q_cube", "q_histogram")) {
      val n = count(physical(q),
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
      assert(n == 1, s"$q plans $n shuffle exchanges (expected 1)")
    }
    // the exact countDistinct riding along for accuracy inspection costs
    // one extra expand/exchange; the KMV sketch itself is partial/final
    val n = count(physical("q_approx_distinct"),
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    assert(n <= 2, s"q_approx_distinct plans $n shuffle exchanges")
  }

  test("json extraction aggregates in one shuffle off a two-column scan") {
    // get_json_object must run inside the scan's projection (no second
    // pass, no python/udf node) and the aggregation as one partial/final
    val plan = physical("q_json_props")
    val n = count(plan,
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    assert(n == 1, s"q_json_props plans $n shuffle exchanges (expected 1)")
    val scan = nodes(plan).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.requiredSchema.fields.length == 2,
      s"q_json_props reads ${scan.requiredSchema.fields.length} columns")
  }

  test("interval union shares one keyed shuffle between window and agg") {
    // the running-max window clusters by user_id; the island aggregation
    // keys on (user_id, island) — a superset, so the window's partitioning
    // must satisfy the agg's distribution with NO second exchange
    val n = count(physical("q_merge_intervals"),
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    assert(n == 1, s"q_merge_intervals plans $n shuffle exchanges (expected 1)")
  }

  test("d_semdedup reads the cached assignment, not three corpus scans") {
    // the assignment frame feeds both self-join sides and the verdict
    // join; the memo+cache must turn those into InMemoryTableScans over
    // ONE parquet source scan — a regression here re-scans (and
    // re-assigns) the whole corpus per consumer at fleet scale
    val p = physical("d_semdedup")
    val parquetScans = count(p,
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    val memScans = count(p, _.isInstanceOf[
      org.apache.spark.sql.execution.columnar.InMemoryTableScanExec])
    assert(memScans >= 3, s"expected >=3 cached-assignment scans, got $memScans")
    assert(parquetScans == 0,
      s"$parquetScans parquet scans outside the cached assignment (expected 0)")
  }

  test("bucketed granule tables co-locate an equi-join with zero shuffles") {
    // SURVEY §4: "co-locate joins via bucketing" — evidence that the
    // engine's write path supports it: two tables bucketed+sorted on the
    // join key sort-merge-join with NO exchange and NO per-task sort, the
    // layout that keeps a 100 TB fact⋈fact join shuffle-free.
    val dir = tempDir("bucket")
    val e = Tables.load(spark, sfDir, "events")
      .select("event_id", "user_id", "value")
    for (t <- Seq("graft_ba", "graft_bb")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      e.write.bucketBy(8, "user_id").sortBy("user_id")
        .option("path", s"$dir/$t").saveAsTable(t)
    }
    try {
      val j = spark.table("graft_ba").hint("merge")
        .join(spark.table("graft_bb").hint("merge"), "user_id")
      val shuffles = count(j.queryExecution.executedPlan,
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
      assert(shuffles == 0, s"bucketed join plans $shuffles shuffle exchanges")
    } finally
      for (t <- Seq("graft_ba", "graft_bb"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("date-partitioned granule layout prunes partitions at the scan") {
    // SURVEY §4: "day-granule parquet + range partitioning keep sort
    // local" — at 100 TB the date filter must eliminate directories, not
    // rows. Write events partitioned by day, read back with a day filter,
    // and require the scan's partition count to shrink accordingly.
    val dir = tempDir("prune")
    Tables.load(spark, sfDir, "events")
      .withColumn("day", org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")))
      .write.partitionBy("day").parquet(s"$dir/by_day")
    val all = spark.read.parquet(s"$dir/by_day")
    val filtered = all.filter(
      org.apache.spark.sql.functions.col("day") ===
        java.sql.Date.valueOf("2024-01-02"))
    val scan = nodes(filtered.queryExecution.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.metadata.getOrElse("PartitionFilters", "").contains("day"),
      "day filter did not reach the partition pruning step")
    val nDays = all.select("day").distinct().count()
    assert(nDays > 1)
    assert(scan.selectedPartitions.partitionCount === 1,
      s"expected 1 pruned partition of $nDays, " +
        s"got ${scan.selectedPartitions.partitionCount}")
  }

  test("tfidf df and span-dedup counts are aggregates, not hot-key windows") {
    // df-per-term and docs-per-span follow Zipf/duplication distributions:
    // a stopword or boilerplate span puts a whole-corpus-sized partition
    // under a Window that AQE cannot split. Both must plan the count as a
    // partial/final aggregate joined back on the key (map-side combine +
    // AQE skew join). t_tfidf keeps exactly one window — the per-doc rank,
    // whose partition key (doc_id) is bounded by doc size; d_span_dedup
    // keeps none.
    def windows(q: String) = nodes(physical(q)).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    // r13: t_tfidf's per-doc rank is now a bounded TopKScored fold (≤ 3
    // partial rows per doc per map task, no per-partition sort), so the
    // plan must be window-free AND carry the fold
    assert(windows("t_tfidf").isEmpty,
      "t_tfidf must rank per-doc terms with the bounded fold, not a window")
    assert(count(physical("t_tfidf"), p => p.isInstanceOf[
      org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]) >= 1,
      "t_tfidf lost its TopKScored fold")
    assert(windows("d_span_dedup").isEmpty,
      "d_span_dedup must not compute per-span counts with a window")
    for (q <- Seq("t_tfidf", "d_span_dedup")) {
      val joins = count(physical(q), p =>
        p.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec] ||
        p.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec] ||
        p.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
      assert(joins >= 1, s"$q lost its count join-back")
    }
  }

  test("q_agg_sessionize never windows event rows by user_id alone") {
    // a hot user must not become one unsplittable window partition: the
    // event-level pass partitions by (user_id, hour bucket); only the
    // stitching pass over collapsed session SUMMARIES (strictly above an
    // aggregate) may key on user_id alone
    val ws = nodes(physical("q_agg_sessionize")).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(ws.nonEmpty)
    def aggBelow(p: SparkPlan): Boolean = nodes(p).drop(1).exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.aggregate.SortAggregateExec])
    ws.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      if (keys == Set("user_id"))
        assert(aggBelow(w),
          "user_id-only window must run over collapsed session summaries")
      else
        assert(keys.contains("__bkt"),
          s"event-level window keys $keys must include the hour bucket")
    }
  }

  test("keep-k windows are map-side bounded by WindowGroupLimit") {
    // a hot key (one user/label owning the corpus) must not flood the
    // rank window's shuffle: Catalyst's InferWindowGroupLimit plans the
    // rank-filter pattern with a Partial WindowGroupLimit BELOW the
    // exchange (each map task pre-prunes to its local top-k per key) and
    // a Final one above — the exchange then carries at most k rows per
    // (key, input partition). Pin it so a refactor that breaks the
    // pattern (e.g. casting the rank before filtering) fails here.
    for (q <- Seq("q_topk", "q_upsert_latest", "emb_outliers",
        "d_sample_k")) {
      val limits = nodes(physical(q)).collect {
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
          => w
      }
      assert(limits.length == 2,
        s"$q: expected Partial+Final WindowGroupLimit, got " +
          s"${limits.length} — the keep-k filter no longer matches " +
          "InferWindowGroupLimit")
    }
  }

  test("emb_pca_power's normalizing window runs over the dims-row agg") {
    // the only unpartitioned window is above the per-dim aggregate, so
    // its input is exactly dims rows at any corpus size
    val ws = nodes(physical("emb_pca_power")).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(ws.length == 1)
    assert(nodes(ws.head).drop(1).exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.aggregate.SortAggregateExec]),
      "normalizing window must run over the per-dim aggregate output")
  }

  test("q_agg_full data path shares one exchange between its windows") {
    // The dedup lag-window and gap-fill lead-window must reuse the same
    // chunk-hash partitioning, so exactly ONE shuffle carries the full-width
    // rows. The remaining exchanges move only per-chunk summary data:
    // ts-column aggregates and one-row-per-chunk frames (narrow or tiny at
    // any scale). 7 today; a regression that re-shuffles the wide data path
    // (e.g. losing the shared window partitioning) adds at least one more.
    val plan = physical("q_agg_full")
    val shuffles = nodes(plan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.length <= 7,
      s"q_agg_full plans ${shuffles.length} shuffle exchanges")
    // the wide data path (>= 5 output columns) shuffles exactly once
    val wide = shuffles.count(_.output.length >= 5)
    assert(wide == 1,
      s"expected exactly 1 wide shuffle on the data path, got $wide")
  }

  test("ann_ivf assignment is a map-only indexed search — no cross join, no assignment shuffle") {
    // the corpus-scaled quantizer's codebook is k·dims of driver state;
    // the indexed two-level assignment ships it to executors as a
    // codegen reference object and ranks per-row in a projection — the
    // old shape (k-row broadcast cross join + a vec_id window shuffle
    // of n·k rows) must NOT come back, and nothing may re-derive the
    // centroids from a parquet re-scan inside a join build side
    val plan = physical("ann_ivf")
    assert(count(plan, _.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]) == 0,
      "indexed assignment must not plan a cross join")
    // remaining shuffles: the explicit corpus repartition (appearing in
    // both the lists and probes branches pre-reuse) and the final
    // per-query top-k window — NOT an n·k ranking exchange
    val shuffles = count(plan, _.isInstanceOf[
      org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    assert(shuffles <= 3, s"expected <= 3 shuffles, got $shuffles")
    // the per-vector ranking must not be a row_number window anymore
    // (one bounded top-k window for the query results is expected)
    val windows = count(plan, _.isInstanceOf[
      org.apache.spark.sql.execution.window.WindowExec])
    assert(windows <= 1, s"assignment must be windowless, got $windows")
  }

  test("stream_minhash_dedup: one stateful keyed shuffle + broadcast verdict join") {
    val plan = physical("stream_minhash_dedup")
    // batch rendering of flatMapGroupsWithState is a MapGroups over one
    // keyed Exchange; the only other shuffle is the per-doc verdict
    // aggregate — the join back to doc ids must broadcast the (small)
    // dup-verdict side, not sort-merge the corpus
    val shuffles = count(plan, _.isInstanceOf[
      org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    assert(shuffles == 2, s"expected 2 keyed shuffles, got $shuffles")
    assert(count(plan, _.isInstanceOf[
      org.apache.spark.sql.execution.MapGroupsExec]) == 1)
    assert(count(plan, _.isInstanceOf[
      org.apache.spark.sql.execution.joins.SortMergeJoinExec]) == 0,
      "verdict join-back must broadcast, not sort-merge")
  }

  test("q_netcdf_by_type pushes grouped partials into the granule scan") {
    // the grouped aggregate must ride the partial pushdown: per-slice
    // group partials cross the DataSourceV2 boundary, not records
    val plan = physical("q_netcdf_by_type").toString
    assert(plan.contains("NetCdfPartialAggScan"),
      s"expected the grouped partial-aggregate scan:\n$plan")
  }

  test("d_incremental_dedup streams the store scan; the delta broadcasts") {
    // the whole point of the incremental form: the persisted corpus
    // signature store is read map-only — broadcast-joined against the
    // (small) delta bands with no Exchange between its scan and the join.
    // A regression to a shuffled/sort-merge plan re-shuffles the archive
    // on every daily ingest.
    val plan = physical("d_incremental_dedup")
    def hasStoreScan(p: SparkPlan): Boolean = nodes(p).exists {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.toString.contains("sig_store")
      case _ => false
    }
    // every join whose subtree reaches the store scan; pre-order makes
    // the LAST one the innermost — the join the scan actually feeds
    // (outer verdict joins contain the scan only transitively, behind
    // the match-bounded aggregate)
    val storeJoins = nodes(plan).filter {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        hasStoreScan(j)
      case _ => false
    }
    assert(storeJoins.nonEmpty, "the store joins the delta somewhere")
    val j = storeJoins.last match {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      case other => fail(
        s"the innermost join over the store scan must broadcast the " +
          s"delta, got ${other.nodeName}")
    }
    val streamed =
      if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildLeft)
        j.right
      else j.left
    assert(hasStoreScan(streamed),
      "the store must be the STREAMED side — the delta broadcasts")
    assert(count(streamed, _.isInstanceOf[
      org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]) == 0,
      "no Exchange between the store scan and the join")
    // delta-sized frames (the within-delta self-join, the verdict
    // join-backs) may shuffle — they are bounded by the ingest, not the
    // archive: nothing further to pin on them
  }

  test("dQuantileFilterApprox keeps the broadcast join-back shape") {
    // the approx production twin must keep the exact twin's plan: one
    // sketch aggregate, |sources|-row broadcast join back over the scan
    val plan = graft.queries.PipelineQueries
      .dQuantileFilterApprox(spark, sfDir).queryExecution.executedPlan
    assert(count(plan, _.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]) >= 1)
    assert(count(plan, _.isInstanceOf[
      org.apache.spark.sql.execution.joins.SortMergeJoinExec]) == 0)
  }

  test("q_zorder_scan pushes BOTH box predicates into the clustered scan") {
    // the z-ordered layout's value is footer-stats pruning in both
    // dimensions — which only happens if both range predicates reach
    // the parquet reader as pushed filters
    val scans = nodes(physical("q_zorder_scan")).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    Seq("GreaterThanOrEqual(day", "LessThanOrEqual(day",
      "GreaterThanOrEqual(user_id", "LessThanOrEqual(user_id")
      .foreach(p => assert(pushed.contains(p), s"missing pushdown $p: $pushed"))
  }

  test("q_heavy_hitters: bounded MG sketch pass + broadcast candidate join") {
    // the whole point of the two-pass plan is that NO shuffle carries the
    // full key space: pass 1's partials are <= k MG pairs per task, pass
    // 2 joins the <= k candidates by BROADCAST before the exact count
    // (whose groups are then <= k keys). A plain hash join here would
    // shuffle every event row by bin — the exact shape the sketch avoids.
    for (q <- Seq("q_heavy_hitters", "stream_heavy_hitters")) {
      val plan = physical(q)
      val bcasts = count(plan, _.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
      assert(bcasts >= 1, s"$q: candidate join must broadcast")
      val smj = count(plan, p =>
        p.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec] ||
        p.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec])
      assert(smj == 0, s"$q: events must never shuffle for the join")
      assert(count(plan, _.isInstanceOf[
        org.apache.spark.sql.execution.window.WindowExec]) == 0,
        s"$q plans a window — candidates must come from the MG aggregate")
    }
  }

  test("q_concurrency: the running-sum window runs over the per-minute " +
      "aggregate, never event rows") {
    // sweep-line shape: edges aggregate to per-minute net deltas first
    // (calendar-bounded cardinality), and only that aggregate feeds the
    // single unpartitioned window — same bounded-final-window rationale
    // as emb_pca_power's
    val ws = nodes(physical("q_concurrency")).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        // the merge-intervals island windows are per-user (partitioned);
        // the sweep's running sum is the only UNPARTITIONED one
        if w.partitionSpec.isEmpty => w
    }
    assert(ws.length == 1,
      s"expected exactly 1 unpartitioned sweep window, got ${ws.length}")
    assert(nodes(ws.head).drop(1).exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.aggregate.SortAggregateExec]),
      "sweep window must consume the per-minute delta aggregate")
  }

  test("q_profile: one aggregation pass, no Expand, no distinct shuffle") {
    // the profiling plan's reason to exist: count(distinct) next to plain
    // aggregates makes Catalyst plan an Expand (input replicated per
    // distinct aggregate); the KMV sketch keeps everything in ONE
    // partial/final aggregation with bounded partials
    val plan = physical("q_profile")
    assert(count(plan, _.isInstanceOf[
      org.apache.spark.sql.execution.ExpandExec]) == 0,
      "q_profile must not plan an Expand")
    val shuffles = count(plan, _.isInstanceOf[
      org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    assert(shuffles == 1, s"expected exactly 1 agg shuffle, got $shuffles")
  }

  test("d_sample_weighted: bottom-k aggregate, never a global sort") {
    // ORDER BY priority LIMIT k is the SEMANTICS (what the oracle runs);
    // the plan must realize it as the bounded-state aggregate + a
    // broadcast join-back — a TopK/global Sort over the corpus is the
    // shape that dies at 100 TB
    val plan = physical("d_sample_weighted")
    assert(count(plan, _.isInstanceOf[
      org.apache.spark.sql.execution.SortExec]) == 0,
      "weighted sample must not sort the corpus")
    assert(count(plan, _.isInstanceOf[
      org.apache.spark.sql.execution.TakeOrderedAndProjectExec]) == 0,
      "weighted sample must not plan a TopK over the corpus")
    assert(count(plan, _.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]) >= 1,
      "the 100-row sample must broadcast for the weight join-back")
  }

  test("d_sample_stratified: grouped bottom-k aggregate, never a " +
      "stratum sort or rank window") {
    // the per-source quota must come from the grouped BottomKByHash
    // aggregate (bounded partials, map-side combine) — a rank window
    // sorts every stratum, and a crawl's 'web' stratum is billions of
    // rows in one partition
    val plan = physical("d_sample_stratified")
    assert(count(plan, _.isInstanceOf[
      org.apache.spark.sql.execution.window.WindowExec]) == 0,
      "stratified sample must not plan a rank window")
    assert(count(plan, _.isInstanceOf[
      org.apache.spark.sql.execution.SortExec]) == 0,
      "stratified sample must not sort any stratum")
    assert(count(plan, _.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]) >= 1,
      "the |sources|*20-row sample must broadcast for the join-back")
  }

  test("emb_knn_graph: candidates fold map-side, never shuffle or rank") {
    // the banded candidate stream must collapse into the bounded
    // TopKScored fold's <=4-pair partials BEFORE any exchange: a rank
    // window keyed by the vector (or a distinct over the pairs) shuffles
    // the full candidate set — measured 188x at a 100x scale-up on
    // replication-skewed vectors before this fold existed
    val plan = physical("emb_knn_graph")
    val vecWindows = nodes(plan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.exists(_.references.exists(r =>
          r.name == "vec_a" || r.name == "vec_id")) => w
    }
    assert(vecWindows.isEmpty,
      "per-vector ranking must be the bounded fold, not a window")
    val objAggs = count(plan, _.isInstanceOf[
      org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec])
    assert(objAggs >= 2, "expected partial+final TopKScored aggregation")
    // no aggregate may consume the pair stream pre-fold as a distinct:
    // every HashAggregate keyed by (vec_a, vec_b) is that regression
    val distincts = nodes(plan).collect {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if h.groupingExpressions.size >= 2 &&
          h.groupingExpressions.flatMap(_.references.map(_.name))
            .count(Set("vec_a", "vec_b")) >= 2 => h
    }
    assert(distincts.isEmpty, "candidate pairs must not pass a DISTINCT")
  }

  test("emb_triplet_mine: ONE aggregation pass over the candidate stream") {
    // both triplet sides (same-label positive, different-label negative)
    // must ride a single ObjectHashAggregate as two conditional folds —
    // the naive two-filtered-aggregations form re-executes the banded
    // candidate join per side. One partial+final pair only, and no
    // per-vector rank window anywhere.
    val plan = physical("emb_triplet_mine")
    val objAggs = count(plan, _.isInstanceOf[
      org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec])
    assert(objAggs == 2,
      s"expected exactly one partial+final TopKScored pass, got $objAggs")
    val vecWindows = nodes(plan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.exists(_.references.exists(r =>
          r.name == "g" || r.name == "anchor_id")) => w
    }
    assert(vecWindows.isEmpty,
      "per-anchor ranking must be the bounded fold, not a window")
  }

  test("stream_anomaly batch twin: moments aggregate BELOW the day window; " +
      "the stats join back as a broadcast") {
    // the prequential prefix must run over the per-(type, day) aggregate
    // (calendar-bounded rows), never over the event stream — a running
    // window partitioned by event_type alone is the corpus-sized-partition
    // regression this plan exists to avoid
    val plan = physical("stream_anomaly")
    nodes(plan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.foreach { w =>
      val aggsBelow = w.children.flatMap(nodes).count(
        _.isInstanceOf[org.apache.spark.sql.execution.aggregate
          .HashAggregateExec])
      assert(aggsBelow >= 1,
        "the prefix window must consume the per-day aggregate")
    }
    val bcasts = count(plan, _.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
    assert(bcasts >= 1, "the |types|x|days| stats frame must broadcast")
  }

  test("q_cusum / q_top_movers: every window consumes the per-day " +
      "aggregate, never the event stream") {
    // the day-frame monitors share stream_anomaly's discipline: the
    // event scan feeds ONE hash aggregate, and all windows (running sum,
    // lag, peak rank) run over the calendar-bounded aggregate output
    for (name <- Seq("q_cusum", "q_top_movers", "q_autocorr")) {
      val plan = physical(name)
      val windows = nodes(plan).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, s"$name: expected day-frame windows")
      windows.foreach { w =>
        val aggsBelow = w.children.flatMap(nodes).count(
          _.isInstanceOf[org.apache.spark.sql.execution.aggregate
            .HashAggregateExec])
        assert(aggsBelow >= 1,
          s"$name: a window must consume the per-day aggregate")
      }
    }
  }

  test("q_seasonality / q_rfm / q_cohort: window-free linear aggregates; " +
      "the small side broadcasts") {
    // seasonality and the segment/cohort rollups are pure keyed-aggregate
    // pipelines: no window over any corpus-sized frame anywhere, and the
    // bounded frame (per-type totals, the scalar max day, one-row-per-
    // calendar-day cohort sizes) joins back as a broadcast
    for (name <- Seq("q_seasonality", "q_rfm", "q_cohort")) {
      val plan = physical(name)
      assert(!nodes(plan).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
        s"$name: must be window-free")
      val bcasts = count(plan, _.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]) +
        count(plan, _.isInstanceOf[
          org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec])
      assert(bcasts >= 1, s"$name: the bounded frame must broadcast")
    }
  }

  test("r10 text/sampling additions: the fold replaces the rank window, " +
      "top-k never global-sorts, winnowing stays map-only") {
    // t_keywords' per-source top-10 rides the bounded TopKScored fold —
    // a rank-window draft would shuffle the (source x vocab) frame
    val kw = physical("t_keywords")
    assert(!nodes(kw).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "t_keywords: the bounded fold must replace the rank window")
    assert(nodes(kw).exists(_.isInstanceOf[
      org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]),
      "t_keywords: expected the TopKScored ObjectHashAggregate")
    // t_bpe_pairs / t_winnow / q_forecast: window-free by design; the
    // pair top-50 is a TakeOrderedAndProject, never a global Sort
    for (name <- Seq("t_bpe_pairs", "t_winnow", "q_forecast")) {
      assert(!nodes(physical(name)).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
        s"$name: must be window-free")
    }
    assert(nodes(physical("t_bpe_pairs")).exists(
      _.isInstanceOf[org.apache.spark.sql.execution
        .TakeOrderedAndProjectExec]),
      "t_bpe_pairs: top-50 must plan as TakeOrderedAndProject")
    // t_winnow is per-row array arithmetic over the cached token frame:
    // no joins anywhere
    assert(!nodes(physical("t_winnow")).exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins
        .SortMergeJoinExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.joins
        .BroadcastHashJoinExec]),
      "t_winnow: map-only, no joins")
  }

  test("q_bucketed_join: the fact-fact join reads both sides shuffle-free") {
    // the storage-side pattern: both tables bucketed by the join key into
    // the same bucket count -> the sort-merge join consumes bucket i of
    // each side directly. The only Exchange allowed in the whole plan is
    // the final 5-group aggregate's; the JOIN INPUTS must have none.
    // (Disable auto-broadcast: at sf0.001 orders fits the threshold and
    // the planner would demonstrate the wrong strategy.)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = physical("q_bucketed_join")
      val joins = nodes(plan).collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(joins.nonEmpty, "expected a sort-merge join of bucketed tables")
      joins.foreach { j =>
        val inputShuffles = j.children.flatMap(nodes).count(_.isInstanceOf[
          org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
        assert(inputShuffles == 0,
          s"bucketed join inputs must not shuffle, found $inputShuffles")
      }
      // and the bucketed scans expose the bucket layout to the planner
      val scans = nodes(plan).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.bucketSpec.isDefined => f
      }
      assert(scans.size >= 2, s"expected 2 bucketed scans, got ${scans.size}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("gatedBroadcast: hints under the gate, leaves the join unhinted over") {
    // the mechanism behind the two data-dependent broadcasts
    // (d_incremental_dedup's ingest delta, d_dedup_clusters' label
    // frame): an explicit broadcast() hint is honored at ANY size until
    // Spark's hard 8 GiB wall, so the hint must come off when
    // count x bytes/row exceeds the gate. Disable the planner's own
    // size-based broadcast so a surviving BHJ could only come from the
    // hint — exactly the at-scale condition the gate models.
    import graft.queries.PipelineQueries
    val small = spark.range(100).toDF("k")
    val big = spark.range(100000).toDF("k")
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def bhj(df: org.apache.spark.sql.DataFrame): Int =
        count(df.queryExecution.executedPlan, _.isInstanceOf[
          org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
      // under the default 256 MiB gate: 100 rows x 32 B hints
      val under = big.join(
        PipelineQueries.gatedBroadcast(small, 32L), Seq("k"))
      assert(bhj(under) == 1, "under the gate the build side must hint")
      // over a forced 1-byte gate: the SAME join plans shuffle-side
      spark.conf.set(PipelineQueries.BroadcastGateKey, "1")
      val over = big.join(
        PipelineQueries.gatedBroadcast(small, 32L), Seq("k"))
      assert(bhj(over) == 0,
        "over the gate the hint must come off (shuffle join)")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      spark.conf.unset(PipelineQueries.BroadcastGateKey)
    }
  }

  test("d_incremental_dedup over the gate: the store join degrades to a " +
      "sig-shuffle, results unchanged") {
    // the mega-delta regime end-to-end: force the gate off, rebuild the
    // pipeline from scratch (the shared band frames memoize plans), and
    // pin (a) the innermost store join is NOT a broadcast and (b) the
    // verdicts match the hinted regime row-for-row — EXPLAIN.md's
    // "degrades to a sig-shuffle join" claim, now true and pinned
    import graft.queries.PipelineQueries
    def run(): (SparkPlan, Array[String]) = {
      val df = SparkEntry.queries("d_incremental_dedup")(spark, sfDir)
      (df.queryExecution.executedPlan,
        df.collect().map(_.toString).sorted)
    }
    val (_, baseline) = run()
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set(PipelineQueries.BroadcastGateKey, "1")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      graft.queries.SessionScoped.evict(spark, sfDir)
      val (plan, rows) = run()
      def hasStoreScan(p: SparkPlan): Boolean = nodes(p).exists {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.toString.contains("sig_store")
        case _ => false
      }
      val storeJoins = nodes(plan).filter {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
          hasStoreScan(j)
        case _ => false
      }
      assert(storeJoins.nonEmpty, "the store still joins the delta")
      assert(!storeJoins.last.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastHashJoinExec],
        "over the gate the store join must NOT broadcast the delta")
      assert(rows.sameElements(baseline),
        "both regimes must produce identical verdicts")
    } finally {
      spark.conf.unset(PipelineQueries.BroadcastGateKey)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      // drop frames built under the forced regime so later tests (and
      // the under-gate pin above, in any order) rebuild with defaults
      graft.queries.SessionScoped.evict(spark, sfDir)
    }
  }

  test("d_semdedup rides the gate: size-frame BHJ under it, shuffle join " +
      "over it, verdicts unchanged") {
    // the cluster-size frame (one row per IVF cluster) grows with the
    // corpus — k = max(16, n/rowsPerCentroid) — so its broadcast is
    // data-dependent and must come off past the gate exactly like the
    // ingest delta and the label frame. Pin BOTH regimes on the plan:
    // the join carrying __cn broadcasts under the default gate and
    // degrades to a shuffle join under a forced 1-byte gate, with
    // bit-identical keep/drop verdicts.
    import graft.queries.PipelineQueries
    def run(): (SparkPlan, Array[String]) = {
      val df = SparkEntry.queries("d_semdedup")(spark, sfDir)
      (df.queryExecution.executedPlan,
        df.collect().map(_.toString).sorted)
    }
    def sizeJoins(p: SparkPlan): Seq[SparkPlan] = nodes(p).filter {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        j.output.exists(_.name == "__cn")
      case _ => false
    }
    val (underPlan, baseline) = run()
    assert(sizeJoins(underPlan).exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "under the gate the size frame must broadcast")
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // at-scale model: past the gate the planner's own size estimate
      // is also over its auto-broadcast threshold — disable it so a
      // surviving BHJ could only come from the (now removed) hint
      spark.conf.set(PipelineQueries.BroadcastGateKey, "1")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      graft.queries.SessionScoped.evict(spark, sfDir)
      val (overPlan, rows) = run()
      val joins = sizeJoins(overPlan)
      assert(joins.nonEmpty, "the size frame still joins the assignment")
      assert(!joins.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
        "over the gate the size frame must NOT broadcast")
      assert(rows.sameElements(baseline),
        "both regimes must produce identical verdicts")
    } finally {
      spark.conf.unset(PipelineQueries.BroadcastGateKey)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      graft.queries.SessionScoped.evict(spark, sfDir)
    }
  }

  test("q_gap_stats chunks its windows: the event stream sorts under " +
      "(type, day) keys, never event_type alone") {
    // a per-event_type window is one task per type forever (5 partitions
    // at ANY data size); the gap report must key its event-stream window
    // on (event_type, __day) and reserve single-key windows for the
    // per-day rollup frame (rows = calendar days, never events)
    val df = SparkEntry.queries("q_gap_stats")(spark, sfDir)
    df.collect()
    val wins = nodes(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty, "expected window nodes in the gap plan")
    assert(wins.exists(_.partitionSpec.size == 2),
      "the event-stream lag must run under (event_type, __day)")
    wins.filter(_.partitionSpec.size < 2).foreach { w =>
      assert(nodes(w).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec]),
        s"single-key window must consume the per-day aggregate frame:\n$w")
    }
  }

  test("d_corpus_pipeline_v2: the eight-stage DAG scans documents once " +
      "and reads the shared frames (tokens, quality, clusters) from cache") {
    import graft.queries.PipelineQueries
    val df = SparkEntry.queries("d_corpus_pipeline_v2")(spark, sfDir)
    df.collect() // materialize the shared caches + finalize AQE
    val plan = df.queryExecution.executedPlan
    val docScans = nodes(plan).count {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.toString.contains("documents")
      case _ => false
    }
    // the id/source projection is the ONLY direct parquet read; every
    // tokenization-bearing stage (quality gate, keep-best, langid,
    // packing's n_tokens) and the clustering verdict must come from the
    // session caches, or the corpus re-tokenizes per stage at 100 TB
    assert(docScans == 1,
      s"documents must scan exactly once, got $docScans:\n$plan")
    val cacheReads = nodes(plan).count(_.isInstanceOf[
      org.apache.spark.sql.execution.columnar.InMemoryTableScanExec])
    // quality is consumed twice (gate + keep-best members), clusters
    // twice (keep-best + split), tokens once (langid) => >= 5 reads
    assert(cacheReads >= 5,
      s"shared frames must read from cache, got $cacheReads:\n$plan")
  }

  test("d_pack_sequences shards its prefix window: the document stream " +
      "sorts under (source, shard), never source alone; shard bases " +
      "broadcast") {
    // a per-source prefix window is one task per source forever (a
    // crawl's `web` source is most of the corpus); the pack must key
    // its document-stream window on (source, shard) and reserve the
    // single-key window for the per-shard totals frame
    // (|sources|·packShards rows, an aggregate — never documents)
    val df = SparkEntry.queries("d_pack_sequences")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val wins = nodes(plan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty, "expected window nodes in the pack plan")
    assert(wins.exists(_.partitionSpec.size == 2),
      "the document-stream prefix sum must run under (source, shard)")
    wins.filter(_.partitionSpec.size < 2).foreach { w =>
      assert(nodes(w).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec]),
        s"single-key window must consume the per-shard totals aggregate:\n$w")
    }
    // the re-base join ships |sources|·packShards rows — broadcast it
    assert(nodes(plan).exists {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        j.output.exists(_.name == "shard_base")
      case _ => false
    }, s"the shard-base frame must broadcast:\n$plan")
  }

  test("d_corpus_pipeline_v2's packing stage is window-free: the pack " +
      "stats come from one keyed aggregate (closed form), never a " +
      "prefix window over the upsampled stream") {
    val df = SparkEntry.queries("d_corpus_pipeline_v2")(spark, sfDir)
    df.collect()
    val wins = nodes(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.isEmpty,
      s"the v2 capstone must not sort any stream under a window:\n${wins.mkString("\n")}")
  }

  test("d_leak_audit is window-free: keyed joins and aggregates only, " +
      "never a per-split or per-doc rank window") {
    val df = SparkEntry.queries("d_leak_audit")(spark, sfDir)
    df.collect()
    val wins = nodes(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.isEmpty,
      s"the leak audit must not sort anything under a window:\n${wins.mkString("\n")}")
  }

  test("d_minhash_est_err restricts the signature recompute to " +
      "pair-participating docs (LeftSemi before the minhash kernel)") {
    // the census caught the corpus-wide recompute at 108.9x; the fix is
    // a semi join of the shingle frame against the candidate-pair doc
    // ids BEFORE the 32-permutation kernel — pin that the plan still
    // carries it (losing it is linear-in-corpus work on the audit path)
    // r13: the signature frame is cached (it joins the pair frame twice
    // — doc_a and doc_b sides), so the semi-join lives in the
    // InMemoryRelation's cached plan rather than the outer executed
    // plan; descend through cached plans when collecting join nodes
    val df = SparkEntry.queries("d_minhash_est_err")(spark, sfDir)
    df.collect()
    def allNodes(p: SparkPlan): Seq[SparkPlan] =
      nodes(p).flatMap {
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          m +: allNodes(m.relation.cachedPlan)
        case n => Seq(n)
      }
    val semis = allNodes(df.queryExecution.executedPlan).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semis.nonEmpty,
      "the recompute branch must semi-join-restrict to pair docs:\n" +
        df.queryExecution.executedPlan.toString)
    // and the kernel stays native (the interpreted 32-lane HOF measured
    // 13.9 s on local[8] at sf0.1)
    assert(allNodes(df.queryExecution.executedPlan).exists(p =>
      p.expressions.exists(_.find {
        case _: graft.functions.native.Minhash32Sigs => true
        case _ => false
      }.isDefined)),
      "the signature recompute must use the native graft_minhash32 kernel")
  }

  test("d_dedup_clusters over the gate: identical clusters without the hint") {
    // the label frame is corpus-order on a high-duplication crawl; over
    // the gate the corpus join-back must still produce the same
    // clustering through the keyed shuffle join
    import graft.queries.PipelineQueries
    def run(): Array[String] =
      SparkEntry.queries("d_dedup_clusters")(spark, sfDir)
        .collect().map(_.toString).sorted
    val baseline = run()
    try {
      spark.conf.set(PipelineQueries.BroadcastGateKey, "1")
      graft.queries.SessionScoped.evict(spark, sfDir)
      assert(run().sameElements(baseline),
        "both regimes must produce identical cluster assignments")
    } finally {
      spark.conf.unset(PipelineQueries.BroadcastGateKey)
      graft.queries.SessionScoped.evict(spark, sfDir)
    }
  }

  test("t_ngram_lm is window-free: pair/context statistics are keyed " +
      "aggregates with join-backs, never a rank or prefix window") {
    val df = SparkEntry.queries("t_ngram_lm")(spark, sfDir)
    df.collect()
    val wins = nodes(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.isEmpty,
      s"the LM scorer must not sort any stream under a window:\n${wins.mkString("\n")}")
  }

  test("d_ccnet_buckets: windows run only over the (source, score) " +
      "count aggregate, and the tercile cuts broadcast") {
    // an ntile over per-source DOC partitions would serialize the
    // hottest source (the packing lesson); the cut computation must
    // window the bounded count frame instead, and the |sources|-row
    // cuts frame must broadcast into the labeling join
    val df = SparkEntry.queries("d_ccnet_buckets")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val wins = nodes(plan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty, "expected the cut window")
    wins.foreach { w =>
      assert(nodes(w.child).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec]),
        s"every window must consume the bounded count aggregate, not docs:\n$w")
    }
    assert(nodes(plan).exists {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        j.output.exists(_.name == "t1")
      case _ => false
    }, s"the tercile-cut frame must broadcast:\n$plan")
  }

  test("t_vocab_growth: the only window is the 10-row decile curve " +
      "(consumes an aggregate); the max-id scalar broadcasts") {
    val df = SparkEntry.queries("t_vocab_growth")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val wins = nodes(plan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.size == 1, s"expected exactly the curve window:\n$wins")
    assert(nodes(wins.head.child).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec]),
      s"the curve window must consume the decile aggregate:\n${wins.head}")
    assert(nodes(plan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      s"the max-id scalar must broadcast into the decile projection:\n$plan")
  }
}
