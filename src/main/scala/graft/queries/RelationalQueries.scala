package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{TimeSeriesAggregator => TSA}

/** Group B of SURVEY.md §2: relational analytics core. These are the
  * headline bench queries — shapes a 100 TB engine must execute well:
  * scan+partial-agg, broadcast star joins, keyed windows, per-group top-k.
  *
  * Engine-portable determinism (SURVEY.md §3): every non-integer sum runs
  * exactly (scaled integers in DECIMAL, order-independent) and is cast to
  * DOUBLE exactly once; averages divide two exact values in one double op.
  */
object RelationalQueries {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.load(s, dir, name)

  /** Scaled-integer exact money arithmetic (SURVEY §3): money columns
    * are exact at 4 decimal places, so floor(x·1e4 + 0.5) recovers the
    * scaled integer exactly — the +0.5 absorbs the ≤half-ulp binary
    * representation error in either direction, and unlike round(),
    * floor(x+0.5) has identical semantics in every engine. Sums run
    * over DECIMAL(38,0) — exact, order-independent across any
    * partitioning (map-side partials merge exactly), overflow-proof
    * past any corpus size — and divide back by the scale ONCE in
    * double. This replaced the double→string→DECIMAL(18,4) parse
    * route: same bit-exact oracle parity at ~3× less CPU (the per-row
    * string format+parse was ~70% of q1_agg's wall-clock — measured
    * 4.5 s → 1.6 s on the 10× bench). */
  private def sint(c: Column): Column =
    floor(c * lit(10000.0) + lit(0.5)).cast(LongType)
  private def dec38(c: Column): Column = c.cast(DecimalType(38, 0))
  /** Exact Σx for a 4dp-exact column, as DOUBLE. */
  private def dsum(c: Column): Column =
    sum(dec38(sint(c))).cast(DoubleType) / lit(10000.0)
  /** Exact Σ a·b for 4dp-exact a, b (per-row product of scaled longs —
    * ≤1e13 here, far inside Long; the SUM is where overflow lives, and
    * it runs in DECIMAL(38,0)). */
  private def dsumMul(a: Column, b: Column): Column =
    sum(dec38(sint(a) * sint(b))).cast(DoubleType) / lit(1.0e8)
  /** Exact Σ a·(1−b) for 4dp-exact a, b. */
  private def dsumOneMinus(a: Column, b: Column): Column =
    sum(dec38(sint(a) * (lit(10000L) - sint(b)))).cast(DoubleType) /
      lit(1.0e8)
  /** Windowed [[dsum]]. */
  private def dsumOver(c: Column,
      w: org.apache.spark.sql.expressions.WindowSpec): Column =
    sum(dec38(sint(c))).over(w).cast(DoubleType) / lit(10000.0)

  /** TPC-H Q1 shape: pruned scan + map-side partial aggregation. */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate").cast(DateType) <=
        lit(java.sql.Date.valueOf("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsumOneMinus(col("l_extendedprice"), col("l_discount"))
          .as("sum_disc_price"),
        (dsum(col("l_quantity")) /
          count(lit(1)).cast(DoubleType)).as("avg_qty"),
        (dsum(col("l_extendedprice")) /
          count(lit(1)).cast(DoubleType)).as("avg_price"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3 shape: selective fact join. Only the true dimension
    * join strategy is left to Catalyst/AQE: orders and customer are
    * fact-scale tables at 100 TB (billions of rows), so a hard broadcast
    * hint would OOM a real cluster; AQE converts to broadcast at runtime
    * when the filtered side is measured small (as it is at bench SFs). */
  def q3Join(s: SparkSession, dir: String): DataFrame = {
    val cust = tbl(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = tbl(s, dir, "orders")
      .filter(col("o_orderdate").cast(DateType) <
        lit(java.sql.Date.valueOf("1998-01-01")))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = tbl(s, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsumOneMinus(col("l_extendedprice"), col("l_discount"))
        .as("revenue"))
  }

  // name tag per setup, NOT dir.hashCode: a hash collision between two
  // dirs would silently serve the first dir's data under the second's key
  private val bucketedTag = new java.util.concurrent.atomic.AtomicInteger(0)

  /** One-time bucketed-table setup per (session, sf dir): orders and
    * lineitem written BUCKETED by their join key into the same bucket
    * count — table names returned for [[qBucketedJoin]]. The
    * `repartition(n, key)` before the write uses the same Murmur3 hash
    * partitioning as the bucket-id assignment, so each task holds
    * exactly one bucket → ONE file per bucket, which is the layout
    * Spark's scan recognizes as both co-partitioned AND sorted.
    * Session-scoped: eviction drops both catalog tables and deletes
    * their directory — the derived warehouse copies are multi-GB at
    * bench SFs. */
  private def bucketedTables(s: SparkSession, dir: String): (String, String) = {
    val (ord, li, _) = SessionScoped.getOrBuild(s, dir, "bucketed",
      (v: (String, String, String)) => {
        s.sql(s"DROP TABLE IF EXISTS ${v._1}")
        s.sql(s"DROP TABLE IF EXISTS ${v._2}")
        SessionScoped.deleteDir(v._3)
      }) {
      val tag = bucketedTag.getAndIncrement()
      val loc = SessionScoped.tempDir("bucketed")
      val ord = s"graft_bkt_orders_$tag"
      val li = s"graft_bkt_lineitem_$tag"
      tbl(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .repartition(8, col("o_orderkey"))
        .write.format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$loc/$ord").mode("overwrite").saveAsTable(ord)
      tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice")
        .repartition(8, col("l_orderkey"))
        .write.format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$loc/$li").mode("overwrite").saveAsTable(li)
      (ord, li, loc)
    }
    (ord, li)
  }
  /** Bucketed co-located fact⋈fact join — the STORAGE-side
    * shuffle-elimination pattern (complement of the broadcast and
    * salting strategies): both tables are bucketed by the join key into
    * the same bucket count, so the sort-merge join consumes bucket i of
    * each side directly — ZERO Exchange on either input, pinned in
    * PlanQualitySpec. At 100 TB this is THE fact-to-fact pattern: a
    * fleet pays the bucketed write once (like an index build) and every
    * subsequent join of the two biggest tables skips both full-table
    * shuffles; the same layout also makes per-key lookups
    * bucket-prunable. Result == the plain join (the oracle is the
    * unbucketed SQL); the one-time setup is memoized per session+dir,
    * mirroring the standing-warehouse deployment. */
  def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (ordT, liT) = bucketedTables(s, dir)
    s.table(liT)
      .join(s.table(ordT), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice")).as("spend"))
  }

  /** Multi-dimensional box scan over the z-ordered layout — the
    * STORAGE-side range-pruning pattern next to [[qBucketedJoin]]'s
    * join co-location: the (day, user) box predicate pushes into the
    * scan, where the z-ordered row groups' min/max stats prune BOTH
    * dimensions (a day-sorted 100 TB table would prune only days and
    * scan every user). Result == the same filter over the raw table
    * (the oracle); the one-time clustered write is memoized per
    * session+dir, like the bucketed warehouse: a z-ordered copy of
    * events, (day, user_id, event_type, value) clustered by the
    * (day, user_id) Morton key — the layout that serves day-range AND
    * user-range scans from the same files (ZOrderSpec pins the
    * footer-stats pruning). */
  def qZorderScan(s: SparkSession, dir: String): DataFrame = {
    val zdir = SessionScoped.store(s, dir, "zorder") { out =>
      graft.sources.ZOrder.writeClustered(
        TSA.withEpochUs(AggQueries.events(s, dir), "ts")
          .select(expr(s"${TSA.T} div 86400000000L").as("day"),
            col("user_id"), col("event_type"), col("value")),
        "day", "user_id", out, files = 16)
      out
    }
    s.read.parquet(zdir)
      .filter(col("day").between(19730L, 19737L) &&
        col("user_id").between(10L, 59L))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("v_sum"))
  }

  /** TPC-H Q5 shape: multi-way star join. Only the constant-cardinality
    * dims (nation: 25 rows, region: 5) carry broadcast hints — they are
    * safe to broadcast at any scale. orders/supplier/customer grow with
    * the data (supplier and customer are hundreds of millions of rows at
    * 100 TB), so their join strategies are left to Catalyst/AQE, which
    * broadcasts at runtime only the sides it measures small. */
  def q5JoinAgg(s: SparkSession, dir: String): DataFrame = {
    val region = tbl(s, dir, "region").filter(col("r_name") === "ASIA")
    val nation = tbl(s, dir, "nation")
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val supp = tbl(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    val cust = tbl(s, dir, "customer").select("c_custkey", "c_nationkey")
    val ord = tbl(s, dir, "orders")
      .filter(col("o_orderdate").cast(DateType) >=
        lit(java.sql.Date.valueOf("1996-01-01")) &&
        col("o_orderdate").cast(DateType) <
          lit(java.sql.Date.valueOf("1997-01-01")))
      .select("o_orderkey", "o_custkey")
    val li = tbl(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsumOneMinus(col("l_extendedprice"), col("l_discount"))
        .as("revenue"))
  }

  /** TPC-H Q6 shape: the purest pushdown test — every predicate reaches
    * the parquet scan, no join, one partial/final agg. */
  def q6Agg(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate").cast(DateType) >=
        lit(java.sql.Date.valueOf("1996-01-01")) &&
        col("l_shipdate").cast(DateType) <
          lit(java.sql.Date.valueOf("1997-01-01")) &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(dsumMul(col("l_extendedprice"), col("l_discount"))
        .as("revenue"),
        count(lit(1)).as("n"))

  /** Anti-join shape (NOT EXISTS): customers with no orders in a period.
    * Plans as a broadcast/shuffled hash anti join — no subquery
    * re-execution per row. */
  def qAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val ord96 = tbl(s, dir, "orders")
      .filter(col("o_orderdate").cast(DateType) >=
        lit(java.sql.Date.valueOf("1996-01-01")) &&
        col("o_orderdate").cast(DateType) <
          lit(java.sql.Date.valueOf("1997-01-01")))
      .select("o_custkey")
    tbl(s, dir, "customer")
      .join(ord96, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_inactive"))
  }

  /** Keyed running aggregate — exact prefix sums in decimal. */
  def qWindow(s: SparkSession, dir: String): DataFrame = {
    val e = TSA.withEpochUs(AggQueries.events(s, dir), "ts")
    val w = Window.partitionBy("user_id").orderBy(col(TSA.T), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    e.withColumn("running_sum", dsumOver(col("value"), w))
      .select("event_id", "user_id", "ts", "running_sum")
  }

  /** Per-group top-k without a global sort. */
  /** Top-3 events per user. A hot user cannot flood the window: Catalyst
    * plans the rank-filter pattern with `WindowGroupLimit` in Partial
    * mode BELOW the exchange (each map task pre-prunes to its local
    * top 3 per key), so the shuffle carries ≤ 3 rows per (key, input
    * partition) — skew-bounded without manual salting (pinned in
    * PlanQualitySpec). */
  def qTopk(s: SparkSession, dir: String): DataFrame = {
    val e = AggQueries.events(s, dir)
    val w = Window.partitionBy("user_id")
      .orderBy(col("value").desc, col("event_id"))
    e.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= 3)
      .select("user_id", "rk", "event_id", "value")
  }

  /** Tumbling-window aggregation (batch twin of the streaming path). */
  def qWindowTumbling(s: SparkSession, dir: String): DataFrame = {
    val e = TSA.withEpochUs(AggQueries.events(s, dir), "ts")
    val bucketUs = 21600000000L // 6 hours
    e.withColumn("__b", expr(s"(${TSA.T} div ${bucketUs}L) * ${bucketUs}L"))
      .groupBy(timestamp_micros(col("__b")).cast(TimestampNTZType).as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("v_sum"))
  }

  /** Point-in-time (as-of) join: each event matched to the latest order of
    * the same user at-or-before the event time. Composed from built-ins
    * (tagged union + keyed last_value window) rather than a custom
    * SparkPlan — partition-parallel on the join key, no range-join blowup.
    */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = TSA.withEpochUs(AggQueries.events(s, dir), "ts")
      .select(col("user_id").as("k"), col(TSA.T).as("t"),
        lit(0L).as("is_order"), col("event_id"),
        lit(null).cast(LongType).as("o_orderkey"),
        lit(null).cast(DoubleType).as("o_totalprice"))
    val o = TSA.withEpochUs(tbl(s, dir, "orders"), "o_orderdate")
      .select(col("o_custkey").as("k"), col(TSA.T).as("t"),
        lit(1L).as("is_order"), lit(null).cast(LongType).as("event_id"),
        col("o_orderkey"), col("o_totalprice"))
    // orders sort before events at equal t (inclusive as-of); ties between
    // orders resolved by orderkey so last_value is the max orderkey.
    val w = Window.partitionBy("k")
      .orderBy(col("t"), col("is_order").desc, col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, 0)
    e.unionByName(o)
      .withColumn("asof_orderkey",
        last(col("o_orderkey"), ignoreNulls = true).over(w))
      .withColumn("asof_totalprice",
        last(col("o_totalprice"), ignoreNulls = true).over(w))
      .filter(col("is_order") === 0L)
      .select(col("event_id"), col("k").as("user_id"),
        timestamp_micros(col("t")).cast(TimestampNTZType).as("ts"),
        col("asof_orderkey"), col("asof_totalprice"))
  }

  /** Range (band) join via time-bucketing: per order, the count and spend
    * of the SAME customer's earlier orders in the trailing 90 days — a
    * self band join where both sides share the 1992–1998 order era, so the
    * band genuinely selects (strictly-before excludes the probe row
    * itself, and output rows ≪ total orders proves the window filters). A
    * naive inequality join degenerates to per-customer scans; bucketing
    * both sides by 90-day windows turns it into an equi-join on
    * (customer, bucket) — each probe order explodes into at most two
    * buckets — with the precise range predicate applied after the join.
    * Shuffles once on the composite key; no nested loop at any scale. */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val winUs = 7776000000000L // 90 days in microseconds
    val o = TSA.withEpochUs(tbl(s, dir, "orders"), "o_orderdate")
      .select(col("o_orderkey"), col("o_custkey"), col(TSA.T).as("ot"),
        col("o_totalprice"))
    // a probe's trailing window [ot - 90d, ot) spans at most two buckets
    val probe = o.select(col("o_orderkey"), col("o_custkey"), col("ot"),
      explode(array_distinct(array(
        expr(s"(ot - ${winUs}L) div ${winUs}L"),
        expr(s"ot div ${winUs}L")))).as("wk"))
    val build = o.select(col("o_custkey"), col("ot").as("pt"),
      col("o_totalprice"), expr(s"ot div ${winUs}L").as("wk"))
    probe.join(build, Seq("o_custkey", "wk"))
      .filter(col("pt") >= col("ot") - winUs && col("pt") < col("ot"))
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_prior_90d"),
        dsum(col("o_totalprice")).as("spend_prior_90d"))
  }

  /** Weekly cohort retention: active users per week and how many return
    * the following week. */
  def qRetention(s: SparkSession, dir: String): DataFrame = {
    val weekUs = 604800000000L
    val e = TSA.withEpochUs(AggQueries.events(s, dir), "ts")
      .select(col("user_id"), expr(s"${TSA.T} div ${weekUs}L").as("wk"))
      .distinct()
    val nxt = e.select(col("user_id"), (col("wk") - 1).as("wk"))
      .distinct().withColumn("ret", lit(1L))
    e.join(nxt, Seq("user_id", "wk"), "left")
      .groupBy("wk")
      .agg(count(lit(1)).as("n_active"),
        sum(coalesce(col("ret"), lit(0L))).as("n_retained"))
  }

  /** Exact per-group percentiles (linear interpolation). Spark's
    * `percentile` and DuckDB's `quantile_cont` both compute
    * lo + (hi - lo) * fraction over the sorted values, so results agree to
    * the bit; Spark executes it as a single partial/final aggregation (no
    * per-group sort shuffle beyond the group-by).
    *
    * SCALE NOTE: exact `percentile` buffers a value→count map per group,
    * so aggregate state grows with DISTINCT values per group — unbounded
    * on near-unique doubles at 100 TB. The exactness here is
    * oracle-forced (the driver hash-compares against DuckDB's
    * `quantile_cont`); production at corpus scale should use
    * [[qPercentilesApprox]], whose sketch state is bounded. */
  def qPercentiles(s: SparkSession, dir: String): DataFrame =
    AggQueries.events(s, dir)
      .groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95"),
        count(lit(1)).as("n"))

  /** Bounded-state twin of [[qPercentiles]] — THE production path at
    * corpus scale. `approx_percentile` (Greenwald-Khanna sketch) keeps
    * O(accuracy) state per group regardless of distinct-value count and
    * merges partial sketches map-side like any algebraic aggregate; rank
    * error is ≤ n/accuracy (≤ 0.01% of the group at the default 10⁶).
    * Not oracle-hashable (sketch results are engine-specific), so the
    * spec pins rank error against the exact result instead. */
  def qPercentilesApprox(s: SparkSession, dir: String,
      accuracy: Int = 1000000): DataFrame =
    AggQueries.events(s, dir)
      .groupBy("event_type")
      .agg(expr(s"approx_percentile(value, 0.5, $accuracy)").as("p50"),
        expr(s"approx_percentile(value, 0.95, $accuracy)").as("p95"),
        count(lit(1)).as("n"))

  /** Deterministic bounded-state quantile sketch — the ENGINE-
    * REPRODUCIBLE production quantile path (fixes the one gap
    * [[qPercentilesApprox]] leaves: Greenwald-Khanna sketches are
    * engine-specific, so that twin can only ever be spec-banded, never
    * oracle-hashed). Per group, keep the k = 1024 rows with the
    * smallest multiplicative row-hash — a deterministic uniform sample
    * via [[graft.functions.BottomKByHash]] (3k longs of state,
    * mergeable partials, one partial/final shuffle of k·24 B per
    * group) — then interpolate p50/p95 EXACTLY over the sorted sample
    * with explicit arithmetic mirrored verbatim in the DuckDB oracle.
    * Values quantize to integer micro-units (floor — round's half-rule
    * differs across engines) so both the sample selection and the
    * interpolation are bit-identical cross-engine. Rank error is the
    * sampling error O(1/√k) ≈ 3%, pinned in ApproxQuantileSpec. */
  def qQuantileSketch(s: SparkSession, dir: String): DataFrame = {
    graft.functions.native.register(s)
    AggQueries.events(s, dir)
      .filter(col("value").isNotNull)
      .withColumn("__pay", expr("CAST(floor(value * 1000000) AS BIGINT)"))
      .withColumn("__coin", expr(
        "(event_id % 1000000007) * 2654435761 % 1000000007"))
      .groupBy("event_type")
      .agg(expr("graft_bottomk(__coin, __pay, 1024)").as("sample"))
      .select(col("event_type"), expr("array_sort(sample)").as("v"))
      .selectExpr("event_type", "CAST(size(v) AS BIGINT) AS n_sample",
        quantileExpr("0.5") + " AS p50",
        quantileExpr("0.95") + " AS p95")
  }

  /** Continuous quantile — the streaming twin of [[qQuantileSketch]],
    * registered as `stream_quantile`. The SAME stateful transform
    * (StreamingAgg.quantileSketchStream: per-key bottom-1024-by-hash
    * sample + the quantileExpr interpolation mirrored in BigDecimal)
    * runs here on the batch frame — batch execution of
    * mapGroupsWithState is one fold with empty initial state, and the
    * bottom-k fold is order-independent, so this entry is
    * deterministic and its DuckDB oracle is the q_quantile_sketch SQL
    * plus the running row count. StreamingSpec pins that the streamed
    * multi-batch run converges to exactly these rows. */
  def streamQuantile(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingAgg
      .quantileSketchStream(AggQueries.events(s, dir)).toDF()

  /** Continuous distinct count — the streaming twin of
    * [[qApproxDistinct]], registered as `stream_distinct`. The SAME
    * stateful transform (StreamingAgg.kmvDistinctStream: per-key KMV
    * sketch, the k-minimum-distinct-hash fold of
    * [[graft.functions.KmvDistinct]]) runs here on the batch frame —
    * one fold per key against empty state, and the KMV fold is
    * order-independent, so this entry is deterministic and the DuckDB
    * oracle mirrors the sketch rule exactly (k smallest distinct
    * hashes ranked by value). StreamingSpec pins that the streamed
    * multi-batch run converges to exactly these rows. */
  def streamDistinct(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingAgg
      .kmvDistinctStream(AggQueries.events(s, dir)).toDF()

  /** Continuous table profiling — the streaming twin of [[qProfile]];
    * see [[graft.streaming.StreamingAgg.profileStream]]. Registered as
    * `stream_profile`; this batch fold of the same transform is the
    * oracle-checked entry (every component fold is order-independent,
    * so stream and batch agree bit-for-bit). */
  def streamProfile(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingAgg
      .profileStream(AggQueries.events(s, dir)).toDF()

  /** Continuous top-k — the streaming twin of [[qTopk]]'s leaders
    * board, registered as `stream_topk`. The SAME stateful transform
    * (StreamingAgg.topKStream: per-key best-k fold under value desc /
    * event_id asc) runs here on the batch frame; the max-k fold is
    * order-independent, so this entry is deterministic and the DuckDB
    * oracle is the plain rank window. StreamingSpec pins that the
    * streamed multi-batch run converges to exactly these rows. */
  def streamTopk(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingAgg
      .topKStream(AggQueries.events(s, dir)).toDF()

  /** Exact heavy hitters via a two-pass Misra-Gries plan: value levels
    * (integer-floored `value`) that account for ≥ 1/64 of all events,
    * with EXACT counts.
    *
    * Pass 1 folds the stream into a bounded k=127-counter MG summary
    * ([[graft.functions.MisraGriesAgg]] — partials are ≤ k pairs per
    * map task, so the sketch shuffle is k·P rows regardless of key
    * cardinality); pass 2 counts ONLY the ≤ k candidate keys (broadcast
    * join before the group-by, map-side combine collapses each
    * candidate to one row per task) and keeps those with exact count ≥
    * ceil(n/64). The MG undercount bound N/(k+1) = N/128 < N/64
    * guarantees every true heavy hitter is a candidate under ANY
    * partitioning, so the output is exact and deterministic even though
    * the candidate set itself can vary — which is what lets a plain
    * GROUP BY / HAVING oracle check it bit-for-bit. At 100 TB the
    * direct GROUP BY would shuffle every distinct key; this plan
    * shuffles k·P sketch rows + k·P exact partials. The threshold is
    * integer-exact ((n+63) div 64) on both engines — no double drift. */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    graft.functions.native.register(s)
    val b = AggQueries.events(s, dir)
      .filter(col("value").isNotNull)
      .select(expr("CAST(floor(value) AS BIGINT)").as("bin"))
    val cand = b
      .agg(expr("graft_frequent(bin, 127)").as("cand"),
        count(lit(1)).as("n"))
      .select(explode(col("cand")).as("bin"),
        expr("(n + 63) div 64").as("thr"))
    b.join(broadcast(cand), "bin")
      .groupBy("bin", "thr")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= col("thr"))
      .select(col("bin"), col("cnt"))
  }

  /** Continuous heavy hitters — the streaming twin of
    * [[qHeavyHitters]], keyed by event_type, registered as
    * `stream_heavy_hitters`. The streaming face
    * (StreamingAgg.frequentStream) maintains one bounded k=127-counter
    * MG summary per key across micro-batches and re-emits the current
    * candidate set each batch. Unlike the bottom-k/KMV/top-k folds the
    * MG fold is NOT order-independent in its candidate SET, so the
    * oracle-checked entry is the VERIFIED output: the same per-key MG
    * fold (as the [[graft.functions.MisraGriesAgg]] aggregate) plus
    * the exact candidate-count pass — the N/(k+1) undercount bound
    * makes that output exact under any batch split or partitioning,
    * and the DuckDB oracle is a plain per-type GROUP BY / HAVING.
    * StreamingSpec pins the streamed run: candidates ⊇ the true heavy
    * set at every prefix, state bounded by k, and the verified final
    * output equal to these rows. */
  def streamHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    graft.functions.native.register(s)
    val b = AggQueries.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        expr("CAST(floor(value) AS BIGINT)").as("bin"))
    val cand = b
      .groupBy("event_type")
      .agg(expr("graft_frequent(bin, 127)").as("cand"),
        count(lit(1)).as("n"))
      .select(col("event_type"), explode(col("cand")).as("bin"),
        expr("(n + 63) div 64").as("thr"))
    b.join(broadcast(cand), Seq("event_type", "bin"))
      .groupBy("event_type", "bin", "thr")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= col("thr"))
      .select(col("event_type"), col("bin"), col("cnt"))
  }

  /** Peak concurrency per day — the distributed sweep-line over the
    * merged per-user session intervals of [[qMergeIntervals]]: how many
    * sessions are simultaneously open, at minute resolution, maxed per
    * day. Each interval becomes two edge rows (+1 at its start minute,
    * −1 one past its end minute); the edges aggregate to per-MINUTE net
    * deltas (one partial/final shuffle keyed by minute), and only that
    * aggregate — whose cardinality is bounded by the CALENDAR (minutes
    * in the data's span), never by the row count — flows through the
    * running-sum window, the same bounded-final-window rationale as
    * the daily aggregate in q_netcdf_daily. At 100 TB the edge
    * explode and minute aggregation are map-side-combined linear
    * passes; the window input stays ~43k rows per month of span. */
  def qConcurrency(s: SparkSession, dir: String): DataFrame = {
    val minUs = 60000000L
    val spans = qMergeIntervals(s, dir)
    // inline-explode, NOT unionAll(spans, spans): a union of two
    // projections of the same frame re-executes the whole
    // merge-intervals window pipeline twice (measured at the factor-1000
    // probe); inline emits both edge rows from one pass, map-only
    val edges = spans.selectExpr(
      s"""inline(array(
         |  named_struct('m', span_start div ${minUs}L, 'd', 1L),
         |  named_struct('m', span_end div ${minUs}L + 1L, 'd', -1L)))"""
        .stripMargin)
    val perMin = edges.groupBy("m").agg(sum(col("d")).as("delta"))
    val w = Window.orderBy("m")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perMin
      .withColumn("active", sum(col("delta")).over(w))
      .groupBy(expr("m div 1440").as("day"))
      .agg(max(col("active")).as("peak"))
  }

  /** Linear-interpolation quantile over the sorted sample array `v` —
    * the exact expression the DuckDB oracle mirrors term for term
    * (identical IEEE evaluation order; integer payloads promote to
    * double identically in both engines). */
  private def quantileExpr(p: String): String = {
    val pos = s"$p * (CAST(size(v) AS BIGINT) - 1)"
    val lo = s"CAST(floor($pos) AS INT)"
    val vlo = s"CAST(element_at(v, $lo + 1) AS DOUBLE)"
    val vhi = s"CAST(element_at(v, least($lo + 2, size(v))) AS DOUBLE)"
    s"($vlo + ($pos - floor($pos)) * ($vhi - $vlo)) / 1000000.0"
  }

  /** Hierarchical totals via ROLLUP (event_type, week): per-(type,week)
    * counts plus per-type and grand totals in one pass — Spark expands the
    * grouping sets before the same partial/final hash aggregation, so it
    * still shuffles once. */
  def qRollup(s: SparkSession, dir: String): DataFrame = {
    val weekUs = 604800000000L
    TSA.withEpochUs(AggQueries.events(s, dir), "ts")
      .withColumn("wk", expr(s"${TSA.T} div ${weekUs}L"))
      .rollup(col("event_type"), col("wk"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("v_sum"))
  }

  /** Semi-join shape (EXISTS): customers with at least one order in a
    * period — the complement of [[qAntiJoin]]. Plans as a hash left-semi
    * join: the probe side streams, no duplicate expansion, no per-row
    * subquery. */
  def qSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val ord96 = tbl(s, dir, "orders")
      .filter(col("o_orderdate").cast(DateType) >=
        lit(java.sql.Date.valueOf("1996-01-01")) &&
        col("o_orderdate").cast(DateType) <
          lit(java.sql.Date.valueOf("1997-01-01")))
      .select("o_custkey")
    tbl(s, dir, "customer")
      .join(ord96, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_active"))
  }

  /** CUBE grouping sets over (lang, source): all four marginal totals in
    * one pass. Like ROLLUP, Spark expands the grouping sets before a
    * single partial/final hash aggregation — one shuffle regardless of
    * how many grouping sets the cube expands to. */
  def qCube(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))

  /** Skew-resistant fact⋈dim join via explicit key salting: the fact side
    * gets a deterministic salt (event_id mod 8) and the dim side is
    * replicated once per salt value, so one hot key's rows spread over 8
    * reducers instead of one. This is the manual fallback when AQE's
    * runtime skew split can't apply (e.g. the skew only materializes
    * after upstream transforms); the result is identical to the unsalted
    * join, which is exactly what the oracle checks. */
  def qSkewSalt(s: SparkSession, dir: String): DataFrame = {
    val nSalt = 8L
    val e = AggQueries.events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("__salt", pmod(col("event_id"), lit(nSalt)))
    val c = tbl(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
      .withColumn("__salt", explode(sequence(lit(0L), lit(nSalt - 1))))
    e.join(c, col("user_id") === col("c_custkey") &&
        e("__salt") === c("__salt"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("v_sum"))
  }

  /** TPC-H Q18 shape — join against an aggregated subquery: orders whose
    * total quantity exceeds a threshold, with customer attribution. The
    * HAVING aggregate runs partial/final BEFORE the joins, so the join
    * probe side is already reduced to the qualifying keys (a tiny
    * fraction), and AQE sizes the join strategy on the post-aggregation
    * cardinality, not the fact table's. */
  def qHavingJoin(s: SparkSession, dir: String): DataFrame = {
    val big = tbl(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(dsum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 150.0)
    val ord = tbl(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val cust = tbl(s, dir, "customer").select("c_custkey", "c_name")
    big.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
        col("total_qty"))
  }

  /** CDC-style upsert compaction: treat events as an update stream keyed
    * by (user_id, event_type) and keep only the latest version of each
    * key (latest ts, ties to the highest event_id) — the merge-on-read
    * compaction a continuously-ingested 100 TB table needs. One keyed
    * window, no global sort; at scale the key partitioning aligns with
    * the table's bucketing so compaction is shuffle-free. */
  /** Latest version per (user, type) — keep-1 via the rank-filter
    * pattern, which Catalyst map-side-bounds with Partial
    * `WindowGroupLimit` below the exchange (≤ 1 row per key per input
    * partition shuffles; see [[qTopk]], pinned in PlanQualitySpec). */
  def qUpsertLatest(s: SparkSession, dir: String): DataFrame = {
    val e = TSA.withEpochUs(AggQueries.events(s, dir), "ts")
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col(TSA.T).desc, col("event_id").desc)
    e.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("user_id"), col("event_type"),
        col("event_id").as("last_event_id"),
        timestamp_micros(col(TSA.T)).cast(TimestampNTZType).as("last_ts"),
        col("value").as("last_value"))
  }

  /** Type-2 slowly-changing dimension from the event changelog: each
    * (user, event_type) key's events become consecutive validity
    * intervals — `valid_from_us` = the event's time, `valid_to_us` =
    * the NEXT event's time (null = current version), `version`
    * ascending from 1. The warehouse "build the SCD-2 dimension from a
    * CDC feed" op, and the interval-form complement of
    * [[qUpsertLatest]]'s latest-only compaction. One keyed window
    * (row_number + lead share the same partitioning and ordering, so
    * Catalyst plans ONE exchange + one sort); at scale the key space
    * (user × type) spreads uniformly and no per-key history is large
    * enough to straggle. */
  def qScd2(s: SparkSession, dir: String): DataFrame = {
    val e = TSA.withEpochUs(AggQueries.events(s, dir), "ts")
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col(TSA.T), col("event_id"))
    e.withColumn("version", row_number().over(w).cast(LongType))
      .withColumn("valid_to_us", lead(col(TSA.T), 1).over(w))
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("version"), col(TSA.T).as("valid_from_us"),
        col("valid_to_us"), col("valid_to_us").isNull.as("is_current"),
        col("value"))
  }

  /** Ordered-sequence conversion funnel view -> click -> purchase: each
    * stage's timestamp is the user's earliest qualifying event STRICTLY
    * after the previous stage. Every step is a keyed aggregation or a
    * keyed join on user_id — co-partitioned end to end, so at scale the
    * whole funnel is one partitioning with no data movement between
    * stages. */
  def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val e = TSA.withEpochUs(AggQueries.events(s, dir), "ts")
      .select(col("user_id"), col("event_type"), col(TSA.T).as("t"))
    val s1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("t").as("t1"))
    val s2 = e.join(s1, "user_id")
      .filter(col("event_type") === "click" && col("t") > col("t1"))
      .groupBy("user_id").agg(min("t").as("t2"))
    val s3 = e.join(s2, "user_id")
      .filter(col("event_type") === "purchase" && col("t") > col("t2"))
      .groupBy("user_id").agg(min("t").as("t3"))
    s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
      .agg(count(col("t1")).as("n_view"),
        count(col("t2")).as("n_click_after_view"),
        count(col("t3")).as("n_purchase_after_click"))
  }

  /** Approximate distinct count via the KMV sketch
    * ([[graft.functions.KmvDistinct]], a custom TypedImperativeAggregate):
    * bounded k-long state per group, mergeable partials — a group's
    * shuffle traffic is k*8 bytes regardless of row count. Unlike HLL
    * (`approx_count_distinct`), the explicit-hash KMV estimate is
    * engine-reproducible, so the DuckDB oracle checks it bit-for-bit;
    * the exact count rides along for accuracy inspection. */
  def qApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    graft.functions.native.register(s)
    AggQueries.events(s, dir)
      .groupBy("event_type")
      .agg(
        expr(
          "graft_kmv_distinct((user_id % 1000000007) * 2654435761 % 1000000007)")
          .as("est_users"),
        countDistinct(col("user_id")).as("exact_users"))
  }

  /** One-pass table profiling (ANALYZE-style data quality summary):
    * per event type — row count, null-rate of the measure, min/max,
    * an integer-exact sum, and an approximate distinct-user count.
    *
    * The point of the plan is what it DOESN'T do: `count(distinct)`
    * alongside plain aggregates makes Catalyst plan an Expand (one
    * input replica per distinct aggregate — at 100 TB that multiplies
    * the shuffle by the distinct-column count). Here the distinct count
    * rides the bounded KMV sketch ([[graft.functions.KmvDistinct]], 64
    * hashes per group partial) INSIDE the same single partial/final
    * aggregation as the plain stats: one scan, one k-bounded shuffle,
    * no Expand — the PlanQualitySpec pin. The sum is integer-exact
    * (floor(value·1e4+0.5) BIGINT) so both engines agree bit-for-bit
    * regardless of double addition order. */
  def qProfile(s: SparkSession, dir: String): DataFrame = {
    graft.functions.native.register(s)
    AggQueries.events(s, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        (count(lit(1)) - count(col("value"))).as("n_null"),
        min(col("value")).as("vmin"),
        max(col("value")).as("vmax"),
        expr("sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT))")
          .as("sum_e4"),
        expr(
          "graft_kmv_distinct((user_id % 1000000007) * 2654435761 % 1000000007)")
          .as("est_users"))
  }

  /** Per-group z-score anomaly detection: events whose measure sits more
    * than 4 population standard deviations from their type's mean — the
    * classic two-pass standardization every data-quality/monitoring
    * pipeline runs.
    *
    * Exactness across engines: the first pass aggregates integer MOMENTS
    * — Σ floor(v·1e4+0.5) as BIGINT and Σ e4² as DECIMAL(38,0) (e4² ~
    * 2.5e13 per row would overflow a running Long by ~10⁸ rows; the
    * 38-digit decimal holds 10²⁴ such rows) — so mean and variance
    * derive from EXACT integers via the same IEEE division/sqrt sequence
    * on both engines (both correctly rounded), never from a
    * double-accumulation whose association order differs. Pass 2
    * broadcasts the |types|-row stats frame back over the scan: one agg
    * shuffle, a broadcast join, a filter — nothing corpus-sized moves. */
  def qAnomaly(s: SparkSession, dir: String): DataFrame = {
    val e = AggQueries.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"), col("value"),
        expr("CAST(floor(value * 10000.0 + 0.5) AS BIGINT)").as("e4"))
    val stats = e.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("e4")).as("s1"),
        sum(expr("CAST(e4 AS DECIMAL(38,0)) * CAST(e4 AS DECIMAL(38,0))"))
          .as("s2"))
      .select(col("event_type"),
        (col("s1").cast(DoubleType) / col("n").cast(DoubleType)).as("mu"),
        sqrt(col("s2").cast(DoubleType) / col("n").cast(DoubleType) -
          (col("s1").cast(DoubleType) / col("n").cast(DoubleType)) *
          (col("s1").cast(DoubleType) / col("n").cast(DoubleType)))
          .as("sigma"))
    e.join(broadcast(stats), "event_type")
      .withColumn("z",
        (col("e4").cast(DoubleType) - col("mu")) / col("sigma"))
      .filter(abs(col("z")) > 4.0d)
      .select("event_type", "event_id", "value", "z")
  }

  /** Event-type transition matrix (first-order Markov counts): for each
    * user's chronological event stream, count every consecutive
    * (from_type → to_type) step across the whole corpus — the behavioral
    * analytics primitive behind flow diagrams and next-action models.
    *
    * Scale shape: one keyed window (partition user_id, order ts) computes
    * the per-row successor — user event histories are bounded by human
    * behavior, so the window partition never approaches corpus scale —
    * then a partial/final count over the (from, to) pairs whose
    * cardinality is |types|², independent of row count. */
  def qTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    AggQueries.events(s, dir)
      // null-ts rows are unplaceable in a timeline AND order differently
      // across engines (Spark NULLS FIRST vs DuckDB NULLS LAST)
      .filter(col("ts").isNotNull)
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** CUSUM changepoint detection per event type — the classic "where did
    * the level shift?" monitor (Page 1954): deviations of the daily sums
    * from the type's global mean accumulate as a cumulative sum, and the
    * day where |CUSUM| peaks is the changepoint estimate. The complement
    * of [[qAnomaly]] (single wild events) and the stream_anomaly monitor
    * (prequential scoring): this one localizes a sustained LEVEL SHIFT.
    *
    * Exactness: integer end-to-end until one final cast. The per-day
    * deviation avoids the non-associative running-mean subtraction by
    * cross-multiplying: ds1·N − dn·S in DECIMAL(38,0) — at a 100 TB/day
    * fleet (ds1 ≈ 10¹⁸, N ≈ 10¹⁴) the product is ~10³², inside decimal
    * headroom (the oracle mirrors with 128-bit HUGEINT). The reported
    * statistic divides ONCE: cusum/(N·10⁴) = Σ(value − type mean) in
    * value units up to the peak day.
    *
    * Scale shape: per-(type, day) integer aggregate (map-side combine) →
    * |types|-row totals broadcast back → running-sum and peak-rank
    * windows over the CALENDAR-bounded day frame only → one row per
    * type. The event stream is scanned once and never enters a window. */
  def qCusum(s: SparkSession, dir: String): DataFrame = {
    val e = AggQueries.events(s, dir)
      .filter(col("ts").isNotNull && col("value").isNotNull &&
        col("event_type").isNotNull)
      .withColumn("__t", unix_micros(col("ts").cast(TimestampType)))
      .select(col("event_type"), expr("__t div 86400000000").as("day"),
        expr("CAST(floor(value * 10000.0 + 0.5) AS BIGINT)").as("e4"))
    val daily = e.groupBy("event_type", "day")
      .agg(count(lit(1)).as("dn"), sum(col("e4")).as("ds1"))
    val totals = daily.groupBy("event_type")
      .agg(sum(col("dn")).as("nn"), sum(col("ds1")).as("ss"),
        count(lit(1)).as("n_days"))
    val wCum = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wPk = Window.partitionBy("event_type")
      .orderBy(abs(col("__cusum")).desc, col("day"))
    daily.join(broadcast(totals), "event_type")
      .withColumn("__dev",
        col("ds1").cast(DecimalType(38, 0)) *
          col("nn").cast(DecimalType(38, 0)) -
        col("dn").cast(DecimalType(38, 0)) *
          col("ss").cast(DecimalType(38, 0)))
      .withColumn("__cusum", sum(col("__dev")).over(wCum))
      .withColumn("__rk", row_number().over(wPk))
      .filter(col("__rk") === 1)
      .select(col("event_type"), col("day").as("peak_day"), col("n_days"),
        (col("__cusum").cast(DoubleType) /
          (col("nn").cast(DoubleType) * lit(10000.0d))).as("cusum_stat"))
  }

  /** Top movers — per event type, the sharpest day-over-day level change
    * (consecutive days only): the "what jumped yesterday?" monitoring
    * query, complementing [[qCusum]]'s sustained-shift localization with
    * the single largest step. Exact integers end-to-end (daily Σe4
    * BIGINT, delta a long subtraction); the output values divide once
    * by 10⁴. Same scale shape as the other day-frame monitors: one
    * event-stream aggregate, then lag + rank windows over the
    * CALENDAR-bounded day frame only. */
  def qTopMovers(s: SparkSession, dir: String): DataFrame = {
    val e = AggQueries.events(s, dir)
      .filter(col("ts").isNotNull && col("value").isNotNull &&
        col("event_type").isNotNull)
      .withColumn("__t", unix_micros(col("ts").cast(TimestampType)))
      .select(col("event_type"), expr("__t div 86400000000").as("day"),
        expr("CAST(floor(value * 10000.0 + 0.5) AS BIGINT)").as("e4"))
    val daily = e.groupBy("event_type", "day").agg(sum(col("e4")).as("ds1"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val wPk = Window.partitionBy("event_type")
      .orderBy(abs(col("__delta")).desc, col("day"))
    daily
      .withColumn("__prev_day", lag(col("day"), 1).over(w))
      .withColumn("__prev_ds1", lag(col("ds1"), 1).over(w))
      .filter(col("__prev_day").isNotNull &&
        col("day") === col("__prev_day") + 1L)
      .withColumn("__delta", col("ds1") - col("__prev_ds1"))
      .withColumn("__rk", row_number().over(wPk))
      .filter(col("__rk") === 1)
      .select(col("event_type"), col("day"),
        (col("__prev_ds1").cast(DoubleType) / lit(10000.0d))
          .as("prev_day_sum"),
        (col("ds1").cast(DoubleType) / lit(10000.0d)).as("day_sum"),
        (col("__delta").cast(DoubleType) / lit(10000.0d)).as("delta"))
  }

  /** Lag-1 autocorrelation of the daily level per event type — the
    * monitoring primitive that separates a trending/sticky series from
    * white noise (a high |r| says yesterday predicts today, so alerting
    * thresholds must be trend-adjusted). Completes the day-frame monitor
    * family next to [[qCusum]] (sustained shift) and [[qTopMovers]]
    * (sharpest step).
    *
    * Exactness: daily sums are Σe4 BIGINTs; the Pearson moments over the
    * consecutive-day (x, y) pairs accumulate per-term DECIMAL(38,0)
    * products (daily sums reach ~1e12 at fleet scale, so x·y ~1e24 —
    * BIGINT would wrap, 38 digits cannot), mirrored by HUGEINT in the
    * oracle; the single double division + sqrt happens once at the end
    * (IEEE-identical across engines). Scale shape: one event-stream
    * aggregate, a lag window over the CALENDAR-bounded day frame, one
    * 20-row final aggregate. Degenerate series (a constant leg, < 2
    * pairs) emit no row rather than NaN — the oracle carries the same
    * HAVING guard. */
  def qAutocorr(s: SparkSession, dir: String): DataFrame = {
    val e = AggQueries.events(s, dir)
      .filter(col("ts").isNotNull && col("value").isNotNull &&
        col("event_type").isNotNull)
      .withColumn("__t", unix_micros(col("ts").cast(TimestampType)))
      .select(col("event_type"), expr("__t div 86400000000").as("day"),
        expr("CAST(floor(value * 10000.0 + 0.5) AS BIGINT)").as("e4"))
    val daily = e.groupBy("event_type", "day").agg(sum(col("e4")).as("ds1"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val d38 = DecimalType(38, 0)
    val pairs = daily
      .withColumn("__prev_day", lag(col("day"), 1).over(w))
      .withColumn("__x", lag(col("ds1"), 1).over(w))
      .filter(col("__prev_day").isNotNull &&
        col("day") === col("__prev_day") + 1L)
      .select(col("event_type"), col("__x").cast(d38).as("x"),
        col("ds1").cast(d38).as("y"))
    pairs.groupBy("event_type")
      .agg(count(lit(1)).cast(d38).as("__n"),
        sum(col("x")).as("__sx"), sum(col("y")).as("__sy"),
        sum(col("x") * col("y")).as("__sxy"),
        sum(col("x") * col("x")).as("__sxx"),
        sum(col("y") * col("y")).as("__syy"))
      .withColumn("__vx", col("__n") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("__vy", col("__n") * col("__syy") - col("__sy") * col("__sy"))
      .filter(col("__n") >= lit(2) && col("__vx") > lit(0) &&
        col("__vy") > lit(0))
      .select(col("event_type"), col("__n").cast(LongType).as("n_pairs"),
        ((col("__n") * col("__sxy") - col("__sx") * col("__sy"))
          .cast(DoubleType) /
          (sqrt(col("__vx").cast(DoubleType)) *
            sqrt(col("__vy").cast(DoubleType)))).as("autocorr"))
  }

  /** Day-of-week seasonality profile per event type: event share and
    * level lift of each weekday slot vs the series' own average — the
    * "is Monday always hot?" baseline a monitor must normalize against
    * before flagging a level change. `dow` is the epoch-day residue
    * (day 0 = 1970-01-01, a Thursday); labels are a presentation
    * concern, the residue is engine-portable by construction.
    *
    * Exact integers end-to-end (daily Σe4 BIGINT, cross-ratio products
    * in DECIMAL(38,0)/HUGEINT), three single double divisions at the
    * output. Scale shape: two keyed aggregates and a broadcast of the
    * ~20-row per-type totals — no windows at all. */
  def qSeasonality(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val e = AggQueries.events(s, dir)
      .filter(col("ts").isNotNull && col("value").isNotNull &&
        col("event_type").isNotNull)
      .withColumn("__t", unix_micros(col("ts").cast(TimestampType)))
      .select(col("event_type"),
        expr("(__t div 86400000000) % 7").as("dow"),
        expr("CAST(floor(value * 10000.0 + 0.5) AS BIGINT)").as("e4"))
    val byDow = e.groupBy("event_type", "dow")
      .agg(count(lit(1)).as("n"), sum(col("e4")).as("s1"))
    val totals = byDow.groupBy("event_type")
      .agg(sum(col("n")).as("nn"), sum(col("s1")).as("ss"))
    byDow.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("dow"), col("n").as("n_events"),
        (col("s1").cast(DoubleType) /
          (col("n").cast(DoubleType) * lit(10000.0d))).as("dow_avg"),
        (col("n").cast(DoubleType) / col("nn").cast(DoubleType))
          .as("dow_share"),
        ((col("s1").cast(d38) * col("nn").cast(d38)).cast(DoubleType) /
          (col("ss").cast(d38) * col("n").cast(d38)).cast(DoubleType))
          .as("dow_lift"))
  }

  /** RFM (recency / frequency / monetary) customer segmentation — the
    * classic lifecycle-marketing rollup. Buckets use FIXED business
    * thresholds (score 3/2/1 per axis) against the corpus' own max order
    * day, not quantiles: quantile cuts need a global order statistic
    * (a sort or select-k pass) whose engine-portable interpolation is
    * fragile, while fixed bands are the form practitioners actually
    * deploy and keep the whole query two keyed aggregates + a scalar
    * broadcast. Money sums are exact scaled integers (DECIMAL(38,0));
    * each segment average divides two exact values once in double. */
  def qRfm(s: SparkSession, dir: String): DataFrame = {
    val o = tbl(s, dir, "orders")
      .withColumn("__t", unix_micros(col("o_orderdate").cast(TimestampType)))
      .withColumn("__d", expr("__t div 86400000000"))
    val perCust = o.groupBy("o_custkey")
      .agg(max(col("__d")).as("last_day"),
        count(lit(1)).as("freq"),
        sum(dec38(sint(col("o_totalprice")))).as("m4"))
    val maxDay = o.agg(max(col("__d")).as("max_day"))
    val scored = perCust.crossJoin(broadcast(maxDay))
      .withColumn("recency", col("max_day") - col("last_day"))
      .withColumn("r_score",
        when(col("recency") <= 365L, 3L)
          .when(col("recency") <= 730L, 2L).otherwise(1L))
      .withColumn("f_score",
        when(col("freq") >= 15L, 3L)
          .when(col("freq") >= 8L, 2L).otherwise(1L))
      .withColumn("m_score",
        when(col("m4") >= dec38(lit(30000000000L)), 3L)
          .when(col("m4") >= dec38(lit(15000000000L)), 2L).otherwise(1L))
    scored
      .groupBy((col("r_score") * 100L + col("f_score") * 10L +
        col("m_score")).as("segment"))
      .agg(count(lit(1)).as("n_customers"),
        (sum(col("recency")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("avg_recency_days"),
        (sum(col("freq")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("avg_orders"),
        (sum(col("m4")).cast(DoubleType) /
          (count(lit(1)).cast(DoubleType) * lit(10000.0d)))
          .as("avg_monetary"))
  }

  /** Cohort retention matrix over the event stream: users grouped by
    * first-activity day, distinct-user counts at each later day offset,
    * as a rate against the cohort's size. The product-analytics query
    * behind every retention curve. Scale shape: a per-user min
    * aggregate, a join back on user_id (both sides shuffle once on the
    * same key), a (user, cohort, offset)-keyed dedup aggregate, then a
    * calendar-bounded final frame — cohort sizes are one row per
    * calendar day, so THAT join broadcasts by construction. */
  def qCohort(s: SparkSession, dir: String): DataFrame = {
    val e = AggQueries.events(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .withColumn("__t", unix_micros(col("ts").cast(TimestampType)))
      .withColumn("__day", expr("__t div 86400000000"))
      .select("user_id", "__day")
    val firstDay = e.groupBy("user_id").agg(min(col("__day")).as("cohort_day"))
    val active = e.join(firstDay, "user_id")
      .select(col("user_id"), col("cohort_day"),
        (col("__day") - col("cohort_day")).as("day_offset"))
      .distinct()
    val counts = active.groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("n_users"))
    val sizes = counts.filter(col("day_offset") === 0L)
      .select(col("cohort_day"), col("n_users").as("cohort_size"))
    counts.join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("day_offset"), col("n_users"),
        col("cohort_size"),
        (col("n_users").cast(DoubleType) /
          col("cohort_size").cast(DoubleType)).as("retention"))
  }

  /** Top event-type paths: the most frequent 3-step sequences across
    * user histories — the path-analysis ("Sankey") query behind funnel
    * discovery, complementing [[qTransitions]]' single-step Markov
    * matrix with ordered trigrams. Two lead windows per user partition
    * (frames bounded by per-user history, the same discipline as
    * q_scd2), then a count aggregate and a TakeOrderedAndProject top-20
    * — the ordering never sorts the full path universe on one node. */
  def qPaths(s: SparkSession, dir: String): DataFrame = {
    val e = AggQueries.events(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_type").isNotNull && col("event_id").isNotNull)
      .withColumn("__t", unix_micros(col("ts").cast(TimestampType)))
    val w = Window.partitionBy("user_id").orderBy(col("__t"), col("event_id"))
    e.withColumn("__e2", lead(col("event_type"), 1).over(w))
      .withColumn("__e3", lead(col("event_type"), 2).over(w))
      .filter(col("__e2").isNotNull && col("__e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("__e2"), col("__e3"))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)
  }

  /** Seasonal-naive forecast error per event type: predict each day's
    * level with the SAME WEEKDAY one week earlier, report MAE and bias
    * — the baseline every real forecaster must beat, and the cheap
    * drift alarm when a series' own week-ago self stops predicting it.
    * Exact integers end-to-end (daily Σe4 BIGINT, |error| sums in
    * DECIMAL(38,0)/HUGEINT), two single divides at the output.
    * Window-free: the week-back lookup is a self-join of the day frame
    * on day−7 — both sides keyed aggregates of the same scan. */
  def qForecast(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val e = AggQueries.events(s, dir)
      .filter(col("ts").isNotNull && col("value").isNotNull &&
        col("event_type").isNotNull)
      .withColumn("__t", unix_micros(col("ts").cast(TimestampType)))
      .select(col("event_type"), expr("__t div 86400000000").as("day"),
        expr("CAST(floor(value * 10000.0 + 0.5) AS BIGINT)").as("e4"))
    val daily = e.groupBy("event_type", "day").agg(sum(col("e4")).as("ds1"))
    val pred = daily.select(col("event_type"),
      (col("day") + 7L).as("day"), col("ds1").as("pred"))
    daily.join(pred, Seq("event_type", "day"))
      .select(col("event_type"),
        (col("ds1") - col("pred")).as("__err"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("__err")).cast(d38)).as("__sae"),
        sum(col("__err").cast(d38)).as("__se"))
      .select(col("event_type"), col("n_days"),
        (col("__sae").cast(DoubleType) /
          (col("n_days").cast(DoubleType) * lit(10000.0d))).as("mae"),
        (col("__se").cast(DoubleType) /
          (col("n_days").cast(DoubleType) * lit(10000.0d))).as("bias"))
  }

  /** Benford first-digit profile per event type — the data-quality
    * screen that flags fabricated or truncated numeric feeds (organic
    * multi-scale values lean on low leading digits; a uniform or spiked
    * profile is the tell). The leading digit comes from the exact
    * scaled integer's decimal rendering — integer-to-string is
    * identical in every engine, unlike double formatting. Window-free:
    * one keyed aggregate plus a ~20-row broadcast of per-type totals. */
  def qBenford(s: SparkSession, dir: String): DataFrame = {
    val e = AggQueries.events(s, dir)
      .filter(col("ts").isNotNull && col("value").isNotNull &&
        col("event_type").isNotNull)
      .select(col("event_type"),
        expr("CAST(floor(value * 10000.0 + 0.5) AS BIGINT)").as("e4"))
      .filter(col("e4") > 0L)
      .select(col("event_type"),
        expr("CAST(substring(CAST(e4 AS STRING), 1, 1) AS BIGINT)")
          .as("digit"))
    val byDigit = e.groupBy("event_type", "digit")
      .agg(count(lit(1)).as("n"))
    val totals = byDigit.groupBy("event_type").agg(sum("n").as("nn"))
    byDigit.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("digit"), col("n"),
        (col("n").cast(DoubleType) / col("nn").cast(DoubleType))
          .as("share"))
  }

  /** Fixed-width value histogram per event type — the profiling primitive
    * behind quality dashboards. Grouping on a computed bin key: one
    * partial/final aggregation, no shuffle beyond the group-by. */
  def qHistogram(s: SparkSession, dir: String): DataFrame =
    AggQueries.events(s, dir)
      .groupBy(col("event_type"),
        (floor(col("value") / 10.0d) * 10.0d).as("bin_lo"))
      .agg(count(lit(1)).as("n"))

  /** PIVOT: per-user event counts reshaped to one column per event type.
    * Realized as an explicit conditional aggregation rather than the
    * `.pivot()` API: with a static value list the conditional form plans
    * as ONE partial/final aggregate (one shuffle), while the pivot API
    * always runs a two-phase pivot-first aggregation (two shuffles) —
    * PlanQualitySpec pins the single-shuffle shape. */
  def qPivot(s: SparkSession, dir: String): DataFrame = {
    def cnt(t: String) =
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")
    AggQueries.events(s, dir)
      .groupBy("user_id")
      .agg(cnt("view"), cnt("click"), cnt("purchase"), cnt("signup"),
        cnt("error"))
  }

  /** UNPIVOT (melt): wide per-row measures to long (measure, value) rows —
    * the inverse reshaping, a pure per-row Expand with no shuffle before
    * the aggregation. */
  def qUnpivot(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"))
      .unpivot(Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "val")
      .groupBy("measure")
      .agg(count(lit(1)).as("n"), dsum(col("val")).as("total"))

  /** Semi-structured extraction: pull a typed field out of the JSON props
    * payload at scan time and aggregate on it — the schema-on-read shape
    * every event pipeline has. `get_json_object` is a codegen'd path
    * expression (no UDF, no full parse tree materialized), so extraction
    * runs inside the scan's WholeStageCodegen span and the only shuffle is
    * the final partial/final aggregation. */
  def qJsonProps(s: SparkSession, dir: String): DataFrame =
    AggQueries.events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(when(col("k") >= 50, 1L).otherwise(0L)).as("n_high"))

  /** Interval union (gaps-and-islands): merge each user's overlapping
    * activity intervals [t, t+30min] into maximal merged spans. The
    * overlap test is against the running max of prior interval ends (not
    * just the previous row — an earlier long interval can swallow later
    * short ones), then a cumulative flag sum assigns island ids. Both
    * windows share one (user_id) partitioning, so the whole operator is
    * a single keyed shuffle at any scale. */
  def qMergeIntervals(s: SparkSession, dir: String): DataFrame = {
    val lenUs = 1800000000L
    val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val wCum = w.rowsBetween(Window.unboundedPreceding, 0)
    // validity guard matters cross-engine even though the bench data has
    // no invalid rows: a null t would sort FIRST in Spark's window order
    // but LAST in the oracle's
    TSA.filterValid(AggQueries.events(s, dir), AggQueries.cfg)
      .select(col("user_id"), col(TSA.T).as("t"), col("event_id"))
      .withColumn("iv_end", col("t") + lit(lenUs))
      .withColumn("__pmax", max(col("iv_end")).over(wPrev))
      .withColumn("__new",
        when(col("__pmax").isNull || col("t") > col("__pmax"), 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(wCum))
      .groupBy("user_id", "__island")
      .agg(min("t").as("span_start"), max("iv_end").as("span_end"),
        count(lit(1)).as("n_events"))
      .select("user_id", "span_start", "span_end", "n_events")
  }

  /** Explicit GROUPING SETS — the general grouping-set form that rollup
    * and cube cannot express: two independent marginal aggregations
    * ((event_type), (week)) computed in ONE pass over the data. Catalyst
    * plans the set expansion as a per-row Expand feeding a single
    * partial/final aggregate — one scan + one shuffle where running the
    * two group-bys separately would scan and shuffle twice. */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    TSA.withEpochUs(AggQueries.events(s, dir), "ts")
      .withColumn("wk", expr(s"${TSA.T} div 604800000000L"))
      .groupingSets(Seq(Seq(col("event_type")), Seq(col("wk"))),
        col("event_type"), col("wk"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("v_sum"))

  /** Sliding (hopping) windows: 6-hour windows advancing every hour, so
    * each record lands in 6 overlapping buckets — the moving-average shape
    * a tumbling bucket can't express. The built-in `window()` with a slide
    * plans the per-row window enumeration as an Expand (no join, no
    * re-scan) into one partial/final aggregate: a 6x row multiplier into
    * map-side combine, never a shuffle multiplier. */
  def qWindowSliding(s: SparkSession, dir: String): DataFrame =
    TSA.filterValid(AggQueries.events(s, dir), AggQueries.cfg)
      .groupBy(window(col("ts"), "6 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("v_sum"))
      .select(col("window.start").cast(TimestampNTZType).as("win_start"),
        col("event_type"), col("n"), col("v_sum"))

  /** Bounded-frame moving aggregate: per-user 3-row trailing average —
    * the ROWS BETWEEN k PRECEDING frame the unbounded running sum
    * (q_window) doesn't exercise. Same single (user_id) keyed shuffle;
    * the bounded frame keeps O(k) state per row at evaluation. */
  def qMovingAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("t"), col("event_id"))
      .rowsBetween(-2, 0)
    // ordering column must be validity-filtered (null ordering diverges
    // across engines: Spark nulls-first, DuckDB nulls-last)
    TSA.filterValid(AggQueries.events(s, dir), AggQueries.cfg)
      .select(col("event_id"), col("user_id"), col(TSA.T).as("t"),
        col("value"))
      .withColumn("mov_avg",
        dsumOver(col("value"), w) /
          count(lit(1)).over(w).cast(DoubleType))
      .select("event_id", "user_id", "t", "mov_avg")
  }

  /** NTILE bucketing: quartile of each event's value within its event
    * type — the equal-frequency binning primitive (feature bucketing /
    * outlier tiers). Partitioned by type, so no global sort exists; ties
    * broken by event_id for a total order both engines agree on. */
  def qNtile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("value"), col("event_id"))
    AggQueries.events(s, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("quartile", ntile(4).over(w).cast(LongType))
  }

  /** Oracle twin of [[dsumOneMinus]]'s per-row term: scaled-long
    * l_extendedprice·(1−l_discount), summed as DECIMAL(38,0) and divided
    * by 1e8 at the use sites. */
  private val discExpr =
    """CAST(floor(l_extendedprice * 10000.0 + 0.5) AS BIGINT) *
      |(10000 - CAST(floor(l_discount * 10000.0 + 0.5) AS BIGINT))""".stripMargin

  val oracle: Map[String, String] = Map(
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  (CAST(sum(CAST(CAST(floor(l_quantity * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS sum_qty,
         |  (CAST(sum(CAST(CAST(floor(l_extendedprice * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS sum_base_price,
         |  (CAST(sum(CAST($discExpr AS DECIMAL(38,0))) AS DOUBLE) / 100000000.0) AS sum_disc_price,
         |  (CAST(sum(CAST(CAST(floor(l_quantity * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0)
         |    / CAST(count(*) AS DOUBLE) AS avg_qty,
         |  (CAST(sum(CAST(CAST(floor(l_extendedprice * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0)
         |    / CAST(count(*) AS DOUBLE) AS avg_price,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |       (CAST(sum(CAST($discExpr AS DECIMAL(38,0))) AS DOUBLE) / 100000000.0) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority""".stripMargin,
    "q_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |       (CAST(sum(CAST(CAST(floor(l_extendedprice * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0)
        |         AS spend
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q_zorder_scan" ->
      """SELECT event_type, count(*) AS n,
        |       (CAST(sum(CAST(CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0)
        |         AS v_sum
        |FROM events
        |WHERE epoch_us(ts) // 86400000000 BETWEEN 19730 AND 19737
        |  AND user_id BETWEEN 10 AND 59
        |GROUP BY event_type""".stripMargin,
    "q5_join_agg" ->
      s"""SELECT n_name, (CAST(sum(CAST($discExpr AS DECIMAL(38,0))) AS DOUBLE) / 100000000.0) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
         |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
         |GROUP BY n_name""".stripMargin,
    "q_window" ->
      """SELECT event_id, user_id, ts,
        |       (CAST(sum(CAST(CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) OVER (
        |         PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |         ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 10000.0) AS running_sum
        |FROM events""".stripMargin,
    "q_topk" ->
      """WITH r AS (
        |  SELECT user_id, event_id, value,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY value DESC, event_id) AS rk
        |  FROM events)
        |SELECT user_id, rk, event_id, value FROM r WHERE rk <= 3""".stripMargin,
    "q_asof_join" ->
      """WITH u AS (
        |  SELECT user_id AS k, epoch_us(ts) AS t, 0 AS is_order,
        |         event_id, CAST(NULL AS BIGINT) AS o_orderkey,
        |         CAST(NULL AS DOUBLE) AS o_totalprice
        |  FROM events
        |  UNION ALL
        |  SELECT o_custkey AS k, epoch_us(o_orderdate) AS t, 1 AS is_order,
        |         CAST(NULL AS BIGINT) AS event_id, o_orderkey, o_totalprice
        |  FROM orders),
        |m AS (
        |  SELECT *,
        |    last_value(o_orderkey IGNORE NULLS) OVER (PARTITION BY k
        |      ORDER BY t, is_order DESC, o_orderkey
        |      ROWS UNBOUNDED PRECEDING) AS asof_orderkey,
        |    last_value(o_totalprice IGNORE NULLS) OVER (PARTITION BY k
        |      ORDER BY t, is_order DESC, o_orderkey
        |      ROWS UNBOUNDED PRECEDING) AS asof_totalprice
        |  FROM u)
        |SELECT event_id, k AS user_id, make_timestamp(t) AS ts,
        |       asof_orderkey, asof_totalprice
        |FROM m WHERE is_order = 0""".stripMargin,
    "q6_agg" ->
      """SELECT (CAST(sum(CAST(CAST(floor(l_extendedprice * 10000.0 + 0.5) AS BIGINT) *
        |                CAST(floor(l_discount * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE)
        |         / 100000000.0) AS revenue,
        |       count(*) AS n
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_inactive
        |FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |    AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
        |    AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01')
        |GROUP BY c_mktsegment""".stripMargin,
    "q_rollup" ->
      """SELECT event_type, epoch_us(ts) // 604800000000 AS wk,
        |       count(*) AS n,
        |       (CAST(sum(CAST(CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS v_sum
        |FROM events
        |GROUP BY ROLLUP (event_type, wk)""".stripMargin,
    "q_percentiles" ->
      """SELECT event_type, quantile_cont(value, 0.5) AS p50,
        |       quantile_cont(value, 0.95) AS p95, count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    // mirrors qQuantileSketch term for term: same bottom-1024-by-hash
    // sample (rank window ordered (coin, pay) = BottomKByHash's key),
    // same floor-quantized payloads, same interpolation arithmetic
    "q_quantile_sketch" ->
      """WITH h AS (
        |  SELECT event_type,
        |         CAST(floor(value * 1000000) AS BIGINT) AS pay,
        |         (event_id % 1000000007) * 2654435761 % 1000000007 AS coin
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |             ORDER BY coin, pay) AS rk FROM h),
        |s AS (SELECT event_type, pay FROM r WHERE rk <= 1024),
        |v AS (SELECT event_type, pay,
        |             row_number() OVER (PARTITION BY event_type
        |                                ORDER BY pay) AS vr,
        |             count(*) OVER (PARTITION BY event_type) AS n FROM s),
        |g AS (SELECT event_type, n, 0.5 * (n - 1) AS pos50,
        |             0.95 * (n - 1) AS pos95,
        |             MAX(CASE WHEN vr = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
        |                      THEN pay END) AS lo50,
        |             MAX(CASE WHEN vr = least(CAST(floor(0.5 * (n - 1)) AS BIGINT) + 2, n)
        |                      THEN pay END) AS hi50,
        |             MAX(CASE WHEN vr = CAST(floor(0.95 * (n - 1)) AS BIGINT) + 1
        |                      THEN pay END) AS lo95,
        |             MAX(CASE WHEN vr = least(CAST(floor(0.95 * (n - 1)) AS BIGINT) + 2, n)
        |                      THEN pay END) AS hi95
        |      FROM v GROUP BY event_type, n)
        |SELECT event_type, n AS n_sample,
        |       (CAST(lo50 AS DOUBLE) + (pos50 - floor(pos50)) *
        |        (CAST(hi50 AS DOUBLE) - CAST(lo50 AS DOUBLE))) / 1000000.0 AS p50,
        |       (CAST(lo95 AS DOUBLE) + (pos95 - floor(pos95)) *
        |        (CAST(hi95 AS DOUBLE) - CAST(lo95 AS DOUBLE))) / 1000000.0 AS p95
        |FROM g""".stripMargin,
    "stream_quantile" ->
      """WITH h AS (
        |  SELECT event_type,
        |         CAST(floor(value * 1000000) AS BIGINT) AS pay,
        |         (event_id % 1000000007) * 2654435761 % 1000000007 AS coin
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT event_type, count(*) AS n_seen FROM h GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |             ORDER BY coin, pay) AS rk FROM h),
        |s AS (SELECT event_type, pay FROM r WHERE rk <= 1024),
        |v AS (SELECT event_type, pay,
        |             row_number() OVER (PARTITION BY event_type
        |                                ORDER BY pay) AS vr,
        |             count(*) OVER (PARTITION BY event_type) AS n FROM s),
        |g AS (SELECT event_type, n, 0.5 * (n - 1) AS pos50,
        |             0.95 * (n - 1) AS pos95,
        |             MAX(CASE WHEN vr = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
        |                      THEN pay END) AS lo50,
        |             MAX(CASE WHEN vr = least(CAST(floor(0.5 * (n - 1)) AS BIGINT) + 2, n)
        |                      THEN pay END) AS hi50,
        |             MAX(CASE WHEN vr = CAST(floor(0.95 * (n - 1)) AS BIGINT) + 1
        |                      THEN pay END) AS lo95,
        |             MAX(CASE WHEN vr = least(CAST(floor(0.95 * (n - 1)) AS BIGINT) + 2, n)
        |                      THEN pay END) AS hi95
        |      FROM v GROUP BY event_type, n)
        |SELECT g.event_type, c.n_seen, n AS n_sample,
        |       (CAST(lo50 AS DOUBLE) + (pos50 - floor(pos50)) *
        |        (CAST(hi50 AS DOUBLE) - CAST(lo50 AS DOUBLE))) / 1000000.0 AS p50,
        |       (CAST(lo95 AS DOUBLE) + (pos95 - floor(pos95)) *
        |        (CAST(hi95 AS DOUBLE) - CAST(lo95 AS DOUBLE))) / 1000000.0 AS p95
        |FROM g JOIN c ON g.event_type = c.event_type""".stripMargin,
    "stream_distinct" ->
      """WITH h AS (
        |  SELECT event_type,
        |         (user_id % 1000000007) * 2654435761 % 1000000007 AS hv
        |  FROM events WHERE user_id IS NOT NULL),
        |c AS (SELECT event_type, count(*) AS n_seen FROM h GROUP BY 1),
        |d AS (SELECT DISTINCT event_type, hv FROM h),
        |r AS (SELECT event_type, hv,
        |             row_number() OVER (PARTITION BY event_type
        |               ORDER BY hv) AS rn,
        |             count(*) OVER (PARTITION BY event_type) AS nd
        |      FROM d),
        |k AS (SELECT event_type, least(max(nd), 64) AS n_sketch,
        |             max(CASE WHEN rn = 64 THEN hv END) AS h64
        |      FROM r GROUP BY event_type)
        |SELECT k.event_type, CAST(c.n_seen AS BIGINT) AS n_seen,
        |       CAST(n_sketch AS BIGINT) AS n_sketch,
        |       CASE WHEN n_sketch < 64 THEN CAST(n_sketch AS DOUBLE)
        |            ELSE 63.0 * 1000000007.0 / CAST(h64 AS DOUBLE) END
        |         AS est_users
        |FROM k JOIN c USING (event_type)""".stripMargin,
    "stream_topk" ->
      """WITH r AS (
        |  SELECT event_type, event_id, CAST(value AS DOUBLE) AS value,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY value DESC, event_id) AS rnk
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_type, CAST(rnk AS BIGINT) AS rnk, event_id, value
        |FROM r WHERE rnk <= 5""".stripMargin,
    // the MG candidate set is a guaranteed superset of every key with
    // count > n/128 (k=127), so the verified output is the plain exact
    // HAVING query — integer-exact threshold on both engines
    "q_heavy_hitters" ->
      """WITH b AS (
        |  SELECT CAST(floor(value) AS BIGINT) AS bin
        |  FROM events WHERE value IS NOT NULL),
        |n AS (SELECT (count(*) + 63) // 64 AS thr FROM b)
        |SELECT bin, CAST(count(*) AS BIGINT) AS cnt
        |FROM b, n GROUP BY bin, thr HAVING count(*) >= thr""".stripMargin,
    "stream_heavy_hitters" ->
      """WITH b AS (
        |  SELECT event_type, CAST(floor(value) AS BIGINT) AS bin
        |  FROM events WHERE value IS NOT NULL),
        |n AS (SELECT event_type, (count(*) + 63) // 64 AS thr
        |      FROM b GROUP BY event_type)
        |SELECT b.event_type, bin, CAST(count(*) AS BIGINT) AS cnt
        |FROM b JOIN n ON b.event_type = n.event_type
        |GROUP BY b.event_type, bin, thr
        |HAVING count(*) >= thr""".stripMargin,
    // q_merge_intervals' span CTEs + the sweep: per-minute net deltas,
    // running sum ordered by minute, max per day
    "q_concurrency" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id,
        |         epoch_us(ts) + 1800000000 AS iv_end
        |  FROM events
        |  WHERE ts IS NOT NULL AND epoch_us(ts) > 0),
        |m AS (
        |  SELECT *, max(iv_end) OVER (PARTITION BY user_id
        |           ORDER BY t, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS pmax
        |  FROM e),
        |f AS (
        |  SELECT *, CASE WHEN pmax IS NULL OR t > pmax THEN 1 ELSE 0 END
        |           AS newspan
        |  FROM m),
        |i AS (
        |  SELECT *, sum(newspan) OVER (PARTITION BY user_id
        |           ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS island
        |  FROM f),
        |sp AS (
        |  SELECT min(t) AS span_start, max(iv_end) AS span_end
        |  FROM i GROUP BY user_id, island),
        |ed AS (
        |  SELECT span_start // 60000000 AS m, 1 AS d FROM sp
        |  UNION ALL
        |  SELECT span_end // 60000000 + 1 AS m, -1 AS d FROM sp),
        |pm AS (SELECT m, sum(d) AS delta FROM ed GROUP BY m),
        |r AS (SELECT m, sum(delta) OVER (ORDER BY m
        |             ROWS UNBOUNDED PRECEDING) AS active FROM pm)
        |SELECT m // 1440 AS day, CAST(max(active) AS BIGINT) AS peak
        |FROM r GROUP BY 1""".stripMargin,
    "q_range_join" ->
      """SELECT p.o_orderkey, count(*) AS n_prior_90d,
        |       (CAST(sum(CAST(CAST(floor(b.o_totalprice * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0)
        |         AS spend_prior_90d
        |FROM orders p
        |JOIN orders b ON b.o_custkey = p.o_custkey
        |  AND epoch_us(b.o_orderdate) >= epoch_us(p.o_orderdate) - 7776000000000
        |  AND epoch_us(b.o_orderdate) <  epoch_us(p.o_orderdate)
        |GROUP BY p.o_orderkey""".stripMargin,
    "q_retention" ->
      """WITH w AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk
        |  FROM events),
        |nxt AS (SELECT DISTINCT user_id, wk - 1 AS wk, 1 AS ret FROM w)
        |SELECT w.wk, count(*) AS n_active,
        |       CAST(sum(COALESCE(nxt.ret, 0)) AS BIGINT) AS n_retained
        |FROM w LEFT JOIN nxt ON w.user_id = nxt.user_id AND w.wk = nxt.wk
        |GROUP BY w.wk""".stripMargin,
    "q_window_tumbling" ->
      """SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000)
        |         AS bucket,
        |       event_type, count(*) AS n,
        |       (CAST(sum(CAST(CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS v_sum
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_active
        |FROM customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |    AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
        |    AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01')
        |GROUP BY c_mktsegment""".stripMargin,
    "q_cube" ->
      """SELECT lang, source, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY CUBE (lang, source)""".stripMargin,
    // the oracle is the UNSALTED join: salting must not change results
    "q_skew_salt" ->
      """SELECT c_mktsegment, count(*) AS n_events,
        |       (CAST(sum(CAST(CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS v_sum
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q_having_join" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |         (CAST(sum(CAST(CAST(floor(l_quantity * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0)
        |           AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING (CAST(sum(CAST(CAST(floor(l_quantity * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) > 150.0)
        |SELECT c_name, o_orderkey, o_orderdate, total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        |s1 AS (SELECT user_id, min(t) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND t > t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND t > t2 GROUP BY e.user_id)
        |SELECT count(t1) AS n_view, count(t2) AS n_click_after_view,
        |       count(t3) AS n_purchase_after_click
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin,
    "q_histogram" ->
      """SELECT event_type, floor(value / 10.0) * 10.0 AS bin_lo,
        |       count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
        |FROM events GROUP BY user_id""".stripMargin,
    "q_unpivot" ->
      """WITH u AS (
        |  SELECT l_orderkey, 'l_quantity' AS measure, l_quantity AS val
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, 'l_discount', l_discount FROM lineitem)
        |SELECT measure, count(*) AS n,
        |       (CAST(sum(CAST(CAST(floor(val * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS total
        |FROM u GROUP BY measure""".stripMargin,
    "q_approx_distinct" ->
      """WITH h AS (SELECT DISTINCT event_type,
        |             (user_id % 1000000007) * 2654435761 % 1000000007 AS hv
        |           FROM events),
        |r AS (SELECT event_type, hv,
        |             row_number() OVER (PARTITION BY event_type
        |               ORDER BY hv) AS rn,
        |             count(*) OVER (PARTITION BY event_type) AS nd
        |      FROM h),
        |k AS (SELECT event_type, max(nd) AS nd,
        |             max(CASE WHEN rn = 64 THEN hv END) AS h64
        |      FROM r GROUP BY event_type),
        |x AS (SELECT event_type, count(DISTINCT user_id) AS nexact
        |      FROM events GROUP BY event_type)
        |SELECT k.event_type,
        |       CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
        |            ELSE 63.0 * 1000000007.0 / CAST(h64 AS DOUBLE) END
        |         AS est_users,
        |       CAST(nexact AS BIGINT) AS exact_users
        |FROM k JOIN x USING (event_type)""".stripMargin,
    // exact integer moments (BIGINT sum, DECIMAL(38) sum of squares) ->
    // identical IEEE mean/var/sqrt sequence on both engines
    "q_anomaly" ->
      """WITH e AS (
        |  SELECT event_id, event_type, value,
        |         CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS e4
        |  FROM events WHERE value IS NOT NULL),
        |st AS (
        |  SELECT event_type,
        |         CAST(CAST(sum(e4) AS BIGINT) AS DOUBLE)
        |           / CAST(count(*) AS DOUBLE) AS mu,
        |         sqrt(CAST(sum(CAST(e4 AS DECIMAL(38,0))
        |                        * CAST(e4 AS DECIMAL(38,0))) AS DOUBLE)
        |                / CAST(count(*) AS DOUBLE)
        |              - (CAST(CAST(sum(e4) AS BIGINT) AS DOUBLE)
        |                   / CAST(count(*) AS DOUBLE))
        |                * (CAST(CAST(sum(e4) AS BIGINT) AS DOUBLE)
        |                     / CAST(count(*) AS DOUBLE))) AS sigma
        |  FROM e GROUP BY event_type)
        |SELECT e.event_type, event_id, value,
        |       (CAST(e4 AS DOUBLE) - mu) / sigma AS z
        |FROM e JOIN st ON e.event_type = st.event_type
        |WHERE abs((CAST(e4 AS DOUBLE) - mu) / sigma) > 4.0""".stripMargin,
    "q_transitions" ->
      """WITH s AS (
        |  SELECT user_id, event_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS to_type
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT event_type AS from_type, to_type,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM s WHERE to_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,
    // CUSUM over daily sums: the cross-multiplied deviation ds1*N - dn*S
    // is exact in HUGEINT (Spark holds it in DECIMAL(38,0)); one final
    // cast to double on both engines
    "q_cusum" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS e4
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |d AS (SELECT event_type, day, count(*) AS dn,
        |             CAST(sum(e4) AS BIGINT) AS ds1
        |      FROM e GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(dn) AS BIGINT) AS nn,
        |             CAST(sum(ds1) AS BIGINT) AS ss,
        |             CAST(count(*) AS BIGINT) AS n_days
        |      FROM d GROUP BY 1),
        |c AS (SELECT d.event_type, d.day, t.nn, t.n_days,
        |             sum(CAST(ds1 AS HUGEINT) * CAST(nn AS HUGEINT)
        |                 - CAST(dn AS HUGEINT) * CAST(ss AS HUGEINT))
        |               OVER (PARTITION BY d.event_type ORDER BY d.day
        |                     ROWS UNBOUNDED PRECEDING) AS cusum
        |      FROM d JOIN t USING (event_type)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY abs(cusum) DESC, day) AS rk FROM c)
        |SELECT event_type, day AS peak_day, n_days,
        |       CAST(cusum AS DOUBLE) / (CAST(nn AS DOUBLE) * 10000.0)
        |         AS cusum_stat
        |FROM r WHERE rk = 1""".stripMargin,
    // sharpest consecutive-day step per type: exact BIGINT daily sums
    // and delta; three final /1e4 double divides
    "q_top_movers" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS e4
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |d AS (SELECT event_type, day, CAST(sum(e4) AS BIGINT) AS ds1
        |      FROM e GROUP BY 1, 2),
        |l AS (SELECT *, lag(day) OVER w AS prev_day,
        |             lag(ds1) OVER w AS prev_ds1
        |      FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |x AS (SELECT event_type, day, prev_ds1, ds1,
        |             ds1 - prev_ds1 AS delta
        |      FROM l WHERE prev_day IS NOT NULL AND day = prev_day + 1),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY abs(delta) DESC, day) AS rk FROM x)
        |SELECT event_type, day,
        |       CAST(prev_ds1 AS DOUBLE) / 10000.0 AS prev_day_sum,
        |       CAST(ds1 AS DOUBLE) / 10000.0 AS day_sum,
        |       CAST(delta AS DOUBLE) / 10000.0 AS delta
        |FROM r WHERE rk = 1""".stripMargin,
    // Pearson lag-1 over consecutive-day pairs: HUGEINT moments (the
    // oracle's twin of the Spark DECIMAL(38,0) accumulators), one final
    // double divide + sqrt; degenerate series filtered identically
    "q_autocorr" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS e4
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |d AS (SELECT event_type, day, CAST(sum(e4) AS BIGINT) AS ds1
        |      FROM e GROUP BY 1, 2),
        |l AS (SELECT *, lag(day) OVER w AS prev_day,
        |             lag(ds1) OVER w AS x
        |      FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |p AS (SELECT event_type, CAST(x AS HUGEINT) AS x,
        |             CAST(ds1 AS HUGEINT) AS y
        |      FROM l WHERE prev_day IS NOT NULL AND day = prev_day + 1),
        |m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |             sum(x * x) AS sxx, sum(y * y) AS syy
        |      FROM p GROUP BY 1),
        |v AS (SELECT *, n * sxx - sx * sx AS vx, n * syy - sy * sy AS vy
        |      FROM m)
        |SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
        |       CAST(n * sxy - sx * sy AS DOUBLE) /
        |         (sqrt(CAST(vx AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE)))
        |         AS autocorr
        |FROM v WHERE n >= 2 AND vx > 0 AND vy > 0""".stripMargin,
    // day-of-week profile: two keyed aggregates, exact integer counts
    // and sums, cross-ratio lift via HUGEINT products
    "q_seasonality" ->
      """WITH e AS (
        |  SELECT event_type, (epoch_us(ts) // 86400000000) % 7 AS dow,
        |         CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS e4
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |b AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(e4) AS BIGINT) AS s1
        |      FROM e GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS nn,
        |             CAST(sum(s1) AS BIGINT) AS ss
        |      FROM b GROUP BY 1)
        |SELECT event_type, dow, n AS n_events,
        |       CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0)
        |         AS dow_avg,
        |       CAST(n AS DOUBLE) / CAST(nn AS DOUBLE) AS dow_share,
        |       CAST(CAST(s1 AS HUGEINT) * CAST(nn AS HUGEINT) AS DOUBLE) /
        |         CAST(CAST(ss AS HUGEINT) * CAST(n AS HUGEINT) AS DOUBLE)
        |         AS dow_lift
        |FROM b JOIN t USING (event_type)""".stripMargin,
    // fixed-band RFM vs the corpus max order day; exact integer money
    "q_rfm" ->
      """WITH o AS (
        |  SELECT o_custkey, epoch_us(o_orderdate) // 86400000000 AS d,
        |         CAST(floor(o_totalprice * 10000.0 + 0.5) AS BIGINT) AS p4
        |  FROM orders),
        |c AS (SELECT o_custkey, max(d) AS last_day,
        |             CAST(count(*) AS BIGINT) AS freq,
        |             CAST(sum(p4) AS HUGEINT) AS m4
        |      FROM o GROUP BY 1),
        |mx AS (SELECT max(d) AS max_day FROM o),
        |s AS (SELECT max_day - last_day AS recency, freq, m4,
        |             CASE WHEN max_day - last_day <= 365 THEN 3
        |                  WHEN max_day - last_day <= 730 THEN 2
        |                  ELSE 1 END AS r_score,
        |             CASE WHEN freq >= 15 THEN 3
        |                  WHEN freq >= 8 THEN 2 ELSE 1 END AS f_score,
        |             CASE WHEN m4 >= 30000000000 THEN 3
        |                  WHEN m4 >= 15000000000 THEN 2
        |                  ELSE 1 END AS m_score
        |      FROM c CROSS JOIN mx)
        |SELECT CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT)
        |         AS segment,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(sum(recency) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |         AS avg_recency_days,
        |       CAST(sum(freq) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |         AS avg_orders,
        |       CAST(sum(m4) AS DOUBLE) /
        |         (CAST(count(*) AS DOUBLE) * 10000.0) AS avg_monetary
        |FROM s GROUP BY 1""".stripMargin,
    // first-activity-day cohorts, distinct-user day offsets
    "q_cohort" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT e.user_id, f.cohort_day,
        |             e.day - f.cohort_day AS day_offset
        |      FROM e JOIN f USING (user_id)),
        |n AS (SELECT cohort_day, day_offset,
        |             CAST(count(*) AS BIGINT) AS n_users
        |      FROM a GROUP BY 1, 2),
        |z AS (SELECT cohort_day, n_users AS cohort_size FROM n
        |      WHERE day_offset = 0)
        |SELECT cohort_day, day_offset, n_users, cohort_size,
        |       CAST(n_users AS DOUBLE) / CAST(cohort_size AS DOUBLE)
        |         AS retention
        |FROM n JOIN z USING (cohort_day)""".stripMargin,
    // two lead windows per user -> trigram counts -> top 20
    "q_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS t
        |  FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL AND event_id IS NOT NULL),
        |l AS (SELECT event_type,
        |             lead(event_type, 1) OVER w AS e2,
        |             lead(event_type, 2) OVER w AS e3
        |      FROM e WINDOW w AS (PARTITION BY user_id
        |        ORDER BY t, event_id)),
        |p AS (SELECT event_type || '>' || e2 || '>' || e3 AS path
        |      FROM l WHERE e2 IS NOT NULL AND e3 IS NOT NULL)
        |SELECT path, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY path
        |ORDER BY n DESC, path LIMIT 20""".stripMargin,
    // seasonal-naive (t-7) baseline: exact integer daily sums and
    // |error| accumulation, two output divides
    "q_forecast" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS e4
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |d AS (SELECT event_type, day, CAST(sum(e4) AS BIGINT) AS ds1
        |      FROM e GROUP BY 1, 2),
        |j AS (SELECT a.event_type, a.ds1 - b.ds1 AS err
        |      FROM d a JOIN d b ON a.event_type = b.event_type
        |        AND a.day = b.day + 7)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |       CAST(sum(CAST(abs(err) AS HUGEINT)) AS DOUBLE) /
        |         (CAST(count(*) AS DOUBLE) * 10000.0) AS mae,
        |       CAST(sum(CAST(err AS HUGEINT)) AS DOUBLE) /
        |         (CAST(count(*) AS DOUBLE) * 10000.0) AS bias
        |FROM j GROUP BY event_type""".stripMargin,
    // leading digit of the exact scaled integer's decimal rendering
    "q_benford" ->
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS e4
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |d AS (SELECT event_type,
        |             CAST(substr(CAST(e4 AS VARCHAR), 1, 1) AS BIGINT)
        |               AS digit
        |      FROM e WHERE e4 > 0),
        |b AS (SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n
        |      FROM d GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS nn
        |      FROM b GROUP BY 1)
        |SELECT event_type, digit, n,
        |       CAST(n AS DOUBLE) / CAST(nn AS DOUBLE) AS share
        |FROM b JOIN t USING (event_type)""".stripMargin,
    // the KMV estimator mirror of q_approx_distinct, joined against the
    // plain one-pass stats; sum is integer-exact on both engines
    "q_profile" ->
      """WITH h AS (SELECT DISTINCT event_type,
        |             (user_id % 1000000007) * 2654435761 % 1000000007 AS hv
        |           FROM events),
        |r AS (SELECT event_type, hv,
        |             row_number() OVER (PARTITION BY event_type
        |               ORDER BY hv) AS rn,
        |             count(*) OVER (PARTITION BY event_type) AS nd
        |      FROM h),
        |k AS (SELECT event_type, max(nd) AS nd,
        |             max(CASE WHEN rn = 64 THEN hv END) AS h64
        |      FROM r GROUP BY event_type),
        |a AS (SELECT event_type, count(*) AS n,
        |             count(*) - count(value) AS n_null,
        |             min(value) AS vmin, max(value) AS vmax,
        |             CAST(sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT))
        |               AS BIGINT) AS sum_e4
        |      FROM events GROUP BY event_type)
        |SELECT a.event_type, CAST(n AS BIGINT) AS n,
        |       CAST(n_null AS BIGINT) AS n_null, vmin, vmax, sum_e4,
        |       CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
        |            ELSE 63.0 * 1000000007.0 / CAST(h64 AS DOUBLE) END
        |         AS est_users
        |FROM a JOIN k ON a.event_type = k.event_type""".stripMargin,
    // the streaming fold converges to the identical profile (all
    // component folds are order-independent), so the oracle is q_profile's
    "stream_profile" ->
      """WITH h AS (SELECT DISTINCT event_type,
        |             (user_id % 1000000007) * 2654435761 % 1000000007 AS hv
        |           FROM events),
        |r AS (SELECT event_type, hv,
        |             row_number() OVER (PARTITION BY event_type
        |               ORDER BY hv) AS rn,
        |             count(*) OVER (PARTITION BY event_type) AS nd
        |      FROM h),
        |k AS (SELECT event_type, max(nd) AS nd,
        |             max(CASE WHEN rn = 64 THEN hv END) AS h64
        |      FROM r GROUP BY event_type),
        |a AS (SELECT event_type, count(*) AS n,
        |             count(*) - count(value) AS n_null,
        |             min(value) AS vmin, max(value) AS vmax,
        |             CAST(sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT))
        |               AS BIGINT) AS sum_e4
        |      FROM events GROUP BY event_type)
        |SELECT a.event_type, CAST(n AS BIGINT) AS n,
        |       CAST(n_null AS BIGINT) AS n_null, vmin, vmax, sum_e4,
        |       CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
        |            ELSE 63.0 * 1000000007.0 / CAST(h64 AS DOUBLE) END
        |         AS est_users
        |FROM a JOIN k ON a.event_type = k.event_type""".stripMargin,
    "q_moving_avg" ->
      """SELECT event_id, user_id, epoch_us(ts) AS t,
        |       (CAST(sum(CAST(CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) OVER w AS DOUBLE) / 10000.0)
        |         / CAST(count(*) OVER w AS DOUBLE) AS mov_avg
        |FROM events
        |WHERE ts IS NOT NULL AND epoch_us(ts) > 0
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_ntile" ->
      """SELECT event_id, event_type, value,
        |       CAST(ntile(4) OVER (PARTITION BY event_type
        |         ORDER BY value, event_id) AS BIGINT) AS quartile
        |FROM events
        |WHERE value IS NOT NULL AND event_type IS NOT NULL""".stripMargin,
    "q_grouping_sets" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 604800000000 AS wk, value
        |  FROM events)
        |SELECT event_type, wk, count(*) AS n,
        |       (CAST(sum(CAST(CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS v_sum
        |FROM e GROUP BY GROUPING SETS ((event_type), (wk))""".stripMargin,
    "q_window_sliding" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_type, value FROM events
        |  WHERE ts IS NOT NULL AND epoch_us(ts) > 0)
        |SELECT make_timestamp(((t // 3600000000) - k) * 3600000000)
        |         AS win_start,
        |       event_type, count(*) AS n,
        |       (CAST(sum(CAST(CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS v_sum
        |FROM e CROSS JOIN range(0, 6) r(k)
        |GROUP BY 1, 2""".stripMargin,
    "q_json_props" ->
      """WITH x AS (
        |  SELECT event_type,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |       CAST(sum(k) AS BIGINT) AS sum_k,
        |       min(k) AS min_k, max(k) AS max_k,
        |       CAST(sum(CASE WHEN k >= 50 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_high
        |FROM x GROUP BY event_type""".stripMargin,
    "q_merge_intervals" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id,
        |         epoch_us(ts) + 1800000000 AS iv_end
        |  FROM events
        |  WHERE ts IS NOT NULL AND epoch_us(ts) > 0),
        |m AS (
        |  SELECT *, max(iv_end) OVER (PARTITION BY user_id
        |           ORDER BY t, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS pmax
        |  FROM e),
        |f AS (
        |  SELECT *, CASE WHEN pmax IS NULL OR t > pmax THEN 1 ELSE 0 END
        |           AS newspan
        |  FROM m),
        |i AS (
        |  SELECT *, sum(newspan) OVER (PARTITION BY user_id
        |           ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS island
        |  FROM f)
        |SELECT user_id, min(t) AS span_start, max(iv_end) AS span_end,
        |       count(*) AS n_events
        |FROM i GROUP BY user_id, island""".stripMargin,
    "q_scd2" ->
      """SELECT user_id, event_type, event_id,
        |       CAST(row_number() OVER w AS BIGINT) AS version,
        |       epoch_us(ts) AS valid_from_us,
        |       lead(epoch_us(ts)) OVER w AS valid_to_us,
        |       lead(epoch_us(ts)) OVER w IS NULL AS is_current,
        |       value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id, event_type
        |             ORDER BY epoch_us(ts), event_id)""".stripMargin,
    "q_upsert_latest" ->
      """WITH r AS (
        |  SELECT user_id, event_type, event_id, value, epoch_us(ts) AS t,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |           ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type, event_id AS last_event_id,
        |       make_timestamp(t) AS last_ts, value AS last_value
        |FROM r WHERE rn = 1""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> (q1Agg _),
    "q3_join" -> (q3Join _),
    "q_bucketed_join" -> (qBucketedJoin _),
    "q_zorder_scan" -> (qZorderScan _),
    "q5_join_agg" -> (q5JoinAgg _),
    "q_window" -> (qWindow _),
    "q_topk" -> (qTopk _),
    "q_asof_join" -> (qAsofJoin _),
    "q_retention" -> (qRetention _),
    "q_range_join" -> (qRangeJoin _),
    "q_percentiles" -> (qPercentiles _),
    "q_quantile_sketch" -> (qQuantileSketch _),
    "stream_quantile" -> (streamQuantile _),
    "stream_distinct" -> (streamDistinct _),
    "stream_topk" -> (streamTopk _),
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_profile" -> (qProfile _),
    "q_transitions" -> (qTransitions _),
    "q_anomaly" -> (qAnomaly _),
    "q_cusum" -> (qCusum _),
    "q_top_movers" -> (qTopMovers _),
    "q_autocorr" -> (qAutocorr _),
    "q_seasonality" -> (qSeasonality _),
    "q_rfm" -> (qRfm _),
    "q_cohort" -> (qCohort _),
    "q_paths" -> (qPaths _),
    "q_benford" -> (qBenford _),
    "q_forecast" -> (qForecast _),
    "stream_profile" -> (streamProfile _),
    "stream_heavy_hitters" -> (streamHeavyHitters _),
    "q_concurrency" -> (qConcurrency _),
    "q_rollup" -> (qRollup _),
    "q6_agg" -> (q6Agg _),
    "q_anti_join" -> (qAntiJoin _),
    "q_window_tumbling" -> (qWindowTumbling _),
    "q_semi_join" -> (qSemiJoin _),
    "q_cube" -> (qCube _),
    "q_skew_salt" -> (qSkewSalt _),
    "q_upsert_latest" -> (qUpsertLatest _),
    "q_scd2" -> (qScd2 _),
    "q_having_join" -> (qHavingJoin _),
    "q_funnel" -> (qFunnel _),
    "q_histogram" -> (qHistogram _),
    "q_approx_distinct" -> (qApproxDistinct _),
    "q_pivot" -> (qPivot _),
    "q_unpivot" -> (qUnpivot _),
    "q_json_props" -> (qJsonProps _),
    "q_merge_intervals" -> (qMergeIntervals _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_window_sliding" -> (qWindowSliding _),
    "q_moving_avg" -> (qMovingAvg _),
    "q_ntile" -> (qNtile _)
  )
}
