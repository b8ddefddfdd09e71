package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Bounds, TimeSeriesAggregator => TSA}
import graft.core.TimeSeriesAggregator.UdimConfig

/** Group A of SURVEY.md §2: the ncagg-equivalent time-series aggregation
  * operators over the `events` table, each with a DuckDB oracle twin.
  *
  * Correctness-portability rules (SURVEY.md §3): all time arithmetic in
  * integer epoch-microseconds; decimal-exact sums cast to double once;
  * identical tie-breaks (event_id) in both engines.
  */
object AggQueries {

  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.load(s, dir, name)

  def events(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events")

  // Cadence parameters shared between the Spark plans and the oracle SQL.
  // Semantics knobs, not data-tuned: dedupe events closer than 1 minute,
  // nominal cadence 1 hour, fill gaps wider than 2 hours.
  val MinStepUs = 60000000L
  val NomStepUs = 3600000000L
  val GapThrUs = 7200000000L
  val BoundSpec = "T20240105:T20240115"
  val (boundLoUs, boundHiUs) = Bounds.parse(BoundSpec)

  val cfg: UdimConfig =
    UdimConfig("ts", "event_id", MinStepUs, NomStepUs, GapThrUs,
      boundsUs = Some((boundLoUs, boundHiUs)))

  private val ntz = TimestampNTZType

  /** Valid rows with integer micros column __t; base of every oracle CTE. */
  private val sqlValid =
    """SELECT epoch_us(ts) AS t, event_id, user_id, event_type, value
      |FROM events WHERE ts IS NOT NULL AND epoch_us(ts) > 0""".stripMargin

  // ---------------------------------------------------------------- queries

  def qAggSort(s: SparkSession, dir: String): DataFrame =
    TSA.withGlobalRowNumber(TSA.filterValid(events(s, dir), cfg), cfg, "rn")
      .select(col("rn"), col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))

  def qAggValid(s: SparkSession, dir: String): DataFrame =
    TSA.filterValid(events(s, dir), cfg)
      .select("event_id", "ts", "user_id", "event_type", "value")

  def qAggBounds(s: SparkSession, dir: String): DataFrame =
    TSA.clipBounds(TSA.filterValid(events(s, dir), cfg), cfg)
      .select("event_id", "ts", "user_id", "event_type", "value")

  def qAggDedup(s: SparkSession, dir: String): DataFrame =
    TSA.dedupe(TSA.filterValid(events(s, dir), cfg), cfg)
      .select("event_id", "ts", "user_id", "event_type", "value")

  def qAggGapfill(s: SparkSession, dir: String): DataFrame =
    TSA.gapFill(TSA.filterValid(events(s, dir), cfg).drop("ts"), cfg)
      .withColumn("ts", timestamp_micros(col(TSA.T)).cast(ntz))
      .select(col("ts"), col("event_id"), col("value"),
        col("__is_fill").as("is_fill"))

  def qAggFull(s: SparkSession, dir: String): DataFrame =
    TSA.aggregate(events(s, dir), cfg)
      .select("ts", "event_id", "user_id", "event_type", "value", "is_fill")

  /** Full pipeline plus leading/trailing fills out to the bounds
    * (reference leading/trailing FillNodes, aggregator.py:151-234). */
  def qAggFillEdges(s: SparkSession, dir: String): DataFrame =
    TSA.aggregate(events(s, dir), cfg.copy(fillEdges = true))
      .select("ts", "event_id", "user_id", "event_type", "value", "is_fill")

  /** Gap fill with linear interpolation — the analyst-facing generalization
    * of the reference's null-fill FillNode: synthesized records carry the
    * value interpolated between the gap's endpoints instead of fill/null.
    * Same chunk-partitioned single-pass emit as the core pipeline; the
    * neighbor (t, value) pair is patched across chunk boundaries with a
    * per-chunk first-record summary. All interpolation arithmetic is
    * double ops in a fixed order, identical in the DuckDB oracle. */
  def qAggInterp(s: SparkSession, dir: String): DataFrame = {
    val deduped = TSA.dedupe(
      TSA.clipBounds(TSA.filterValid(events(s, dir), cfg), cfg), cfg)
      .select(col(TSA.T), col("event_id"), col("value"))
    val chunkUs = cfg.chunkUs
    val c = deduped.withColumn("__chunk", expr(s"${TSA.T} div ${chunkUs}L"))
    val w = Window.partitionBy("__chunk").orderBy(col(TSA.T), col("event_id"))
    val wc = Window.orderBy("__chunk")
    // per-chunk first (t, value) of the next chunk patches the last row
    val nextChunk = c
      .groupBy("__chunk")
      .agg(min(TSA.T).as("__cf_t"), min_by(col("value"), col(TSA.T)).as("__cf_v"))
      .select(col("__chunk"),
        lead(col("__cf_t"), 1).over(wc).as("__nc_t"),
        lead(col("__cf_v"), 1).over(wc).as("__nc_v"))
    val nbr = c
      .withColumn("__n_t_in", lead(col(TSA.T), 1).over(w))
      .withColumn("__n_v_in", lead(col("value"), 1).over(w))
      .join(broadcast(nextChunk), Seq("__chunk"), "left")
      .withColumn("__n_t", coalesce(col("__n_t_in"), col("__nc_t")))
      .withColumn("__n_v", coalesce(col("__n_v_in"), col("__nc_v")))
    // round_half_even(gap/step) - 1 in exact integers (reference rule; see
    // TimeSeriesAggregator.fillCountSpark)
    val nFillsExpr = TSA.fillCountSpark(s"__n_t - ${TSA.T}", NomStepUs)
    val nFills = when(col("__n_t").isNotNull &&
        col("__n_t") - col(TSA.T) > GapThrUs,
      expr(nFillsExpr)).otherwise(lit(0L))
    nbr
      .withColumn("__k", explode(concat(array(lit(0L)),
        when(nFills >= 1L, expr(s"sequence(1L, $nFillsExpr)"))
          .otherwise(array().cast("array<bigint>")))))
      .select(
        timestamp_micros(col(TSA.T) + col("__k") * lit(NomStepUs))
          .cast(ntz).as("ts"),
        when(col("__k") === 0L, col("value"))
          .otherwise(col("value") + (col("__n_v") - col("value")) *
            ((col("__k") * lit(NomStepUs)).cast(DoubleType) /
              (col("__n_t") - col(TSA.T)).cast(DoubleType))).as("value"),
        (col("__k") =!= 0L).as("is_fill"))
  }

  /** Cadence-gap REPORT per event type — the monitoring face of the
    * reference's gap machinery: instead of synthesizing fill records
    * (`q_agg_gapfill`), report where the fills would go. Per type: event
    * count, number of gaps wider than the fill threshold, the widest
    * gap, and the total missing-record count under the reference's own
    * round-half-even rule ([[TSA.fillCountSpark]] — the EXACT number of
    * records gapfill would synthesize, so report and repair agree).
    * Integer micros throughout, so the oracle matches bit-for-bit.
    *
    * Scale shape — CHUNKED, like the gapfill itself: a naive
    * per-event_type lag window is one task per type forever (it ran the
    * whole factor-1000 dir on 5 partitions no matter the core count —
    * 74.8 s). Gaps split instead into within-DAY pairs (a (type, day)-
    * keyed window whose parallelism grows with the data; the per-day
    * rollup groups on the window's own partition keys, so it reuses the
    * exchange — one scan, one shuffle, one sort) and cross-day boundary
    * pairs (a per-type window over DAYS — rows = calendar days, never
    * events). The two sets together are exactly the global consecutive-
    * pair set: two consecutive events either share a day or are the
    * last/first records of two adjacent PRESENT days. Measured at the
    * factor-1000 dir: 29.1 s vs the naive 74.8 s, and 1.8x wall for the
    * last 10x of rows. */
  def qGapStats(s: SparkSession, dir: String): DataFrame = {
    val v = TSA.filterValid(events(s, dir), cfg)
      .withColumn("__day", expr(s"${TSA.T} div 86400000000"))
    val wd = Window.partitionBy("event_type", "__day")
      .orderBy(TSA.T, "event_id")
    // the per-day rollup groups on the window's own partition keys, so
    // it reuses the window exchange — one scan, one shuffle, one sort
    val perDay = v
      .withColumn("__gap", col(TSA.T) - lag(col(TSA.T), 1).over(wd))
      .groupBy("event_type", "__day")
      .agg(count(lit(1)).as("__n"),
        min(TSA.T).as("__first"), max(TSA.T).as("__last"),
        sum(when(col("__gap") > GapThrUs, 1L).otherwise(0L)).as("__dg"),
        max(when(col("__gap") > GapThrUs, col("__gap"))).as("__dmax"),
        sum(when(col("__gap") > GapThrUs,
          expr(TSA.fillCountSpark("__gap", NomStepUs))).otherwise(0L))
          .as("__dmiss"))
    // cross-day boundary gaps: a window over PRESENT DAYS (rows =
    // calendar days per type, never events)
    val wt = Window.partitionBy("event_type").orderBy("__day")
    perDay
      .withColumn("__bgap", col("__first") - lag(col("__last"), 1).over(wt))
      .groupBy("event_type")
      .agg(sum("__n").as("n_events"),
        (sum("__dg") + sum(when(col("__bgap") > GapThrUs, 1L)
          .otherwise(0L))).as("n_gaps"),
        greatest(max("__dmax"),
          max(when(col("__bgap") > GapThrUs, col("__bgap"))))
          .as("max_gap_us"),
        (sum("__dmiss") + sum(when(col("__bgap") > GapThrUs,
          expr(TSA.fillCountSpark("__bgap", NomStepUs))).otherwise(0L)))
          .as("n_missing"))
  }

  /** Archive coverage report per event type — the catalog-level
    * completeness audit every granule archive answers before a reprocess
    * campaign: the day span the type covers, how many calendar days
    * actually hold records, the missing-day count, and the record
    * total. Pure integers off one grouped aggregate (the day collapses
    * into the group key before the shuffle), no window anywhere. */
  def qCoverageReport(s: SparkSession, dir: String): DataFrame =
    TSA.filterValid(events(s, dir), cfg)
      .withColumn("__day", expr(s"${TSA.T} div 86400000000"))
      .groupBy("event_type")
      .agg(min("__day").as("first_day"), max("__day").as("last_day"),
        countDistinct("__day").as("n_days_present"),
        count(lit(1)).as("n_records"))
      .select(col("event_type"), col("first_day"), col("last_day"),
        col("n_days_present"),
        (col("last_day") - col("first_day") + 1L - col("n_days_present"))
          .as("n_days_missing"),
        col("n_records"))

  /** Open trailing gaps — the batch face of
    * [[graft.streaming.StreamingAgg.gapStream]]'s feed-death page: per
    * event type, the silence since its LAST record measured against the
    * corpus frontier (the max event time across ALL types — the batch
    * analog of the stream's watermark), the records already missed
    * under the reference's round-half-even rule, and whether the
    * silence exceeds the alert threshold. A type whose last record IS
    * the frontier shows a zero gap; in the reference's sensor-feed
    * domain this is the "which feeds are dead right now" report the
    * open-gap stream alerts on live.
    *
    * Plan: one keyed aggregate for the per-type frontier + a broadcast
    * 1-row corpus frontier (cross join) — two aggregates total, no
    * window, no event-stream sort, scan-bound at any corpus size. */
  def qOpenGaps(s: SparkSession, dir: String): DataFrame = {
    val v = TSA.filterValid(events(s, dir), cfg)
    val frontier = v.agg(max(TSA.T).as("__fr"))
    v.groupBy("event_type")
      .agg(max(TSA.T).as("last_t_us"), count(lit(1)).as("n_records"))
      .crossJoin(broadcast(frontier))
      .withColumn("open_gap_us", col("__fr") - col("last_t_us"))
      .select(col("event_type"), col("last_t_us"), col("n_records"),
        col("open_gap_us"),
        when(col("open_gap_us") > GapThrUs,
          expr(TSA.fillCountSpark("open_gap_us", NomStepUs)))
          .otherwise(0L).as("n_missing"),
        (col("open_gap_us") > GapThrUs).as("stale"))
  }

  /** Flatten a dependent unlimited dimension: per-record features packed
    * into a dense 1..n index (reference README flare-location example). */
  def qAggFlatten(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
    // l_linenumber is not unique per order in the synthetic data; the full
    // column list below is, giving a deterministic total order per group.
    val w = Window.partitionBy("l_orderkey").orderBy(
      col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      col("l_quantity"), col("l_extendedprice"))
    li.withColumn("feature_idx", row_number().over(w).cast(LongType))
      .select("l_orderkey", "feature_idx", "l_partkey", "l_quantity")
  }

  /** Per-granule provenance summary; granule = one day of events (the Spark
    * analog of one input NetCDF file). */
  def qAggMultifile(s: SparkSession, dir: String): DataFrame =
    TSA.filterValid(events(s, dir), cfg)
      .groupBy(to_date(col("ts")).as("g"))
      .agg(count(lit(1)).as("n_records"),
        min("ts").as("first_ts"), max("ts").as("last_ts"),
        countDistinct("user_id").as("n_users"))
      .select(concat(lit("events_"), date_format(col("g"), "yyyy-MM-dd"))
        .as("granule"),
        col("n_records"), col("first_ts"), col("last_ts"), col("n_users"))

  /** Global-attribute aggregation strategies (reference attributes.py:303-322)
    * computed in one pass over day granules: two-stage aggregation, the
    * second stage over ~#granules rows (tiny at any scale). */
  def qAggAttrs(s: SparkSession, dir: String): DataFrame = {
    val per = TSA.filterValid(events(s, dir), cfg)
      .groupBy(to_date(col("ts")).as("g"))
      .agg(
        max("event_type").as("attr"),
        count(lit(1)).as("nrec"),
        sum(floor(col("value") * lit(10000.0) + lit(0.5)).cast(LongType)
          .cast(DecimalType(38, 0))).as("vsum"),
        min("ts").as("g_first"), max("ts").as("g_last"))
    per.agg(
      min_by(col("attr"), col("g")).as("first_attr"),
      max_by(col("attr"), col("g")).as("last_attr"),
      array_join(array_sort(collect_set(col("attr"))), ", ").as("unique_list"),
      sum(col("nrec")).as("int_sum"),
      (sum(col("vsum")).cast(DoubleType) / lit(10000.0)).as("float_sum"),
      count(lit(1)).as("input_count"),
      min(date_format(col("g"), "yyyy-MM-dd")).as("first_input"),
      max(date_format(col("g"), "yyyy-MM-dd")).as("last_input"),
      date_format(min(col("g_first")), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
        .as("time_coverage_start"),
      date_format(max(col("g_last")), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
        .as("time_coverage_end"))
      .withColumn("static_attr", lit("graft"))
  }

  /** take_dim_indicies: extract one index of a non-record dimension
    * (reference README "Specify Dimension Indecies to Extract"). */
  def qAggSubsetDims(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "embeddings")
      .select(col("vec_id"), element_at(col("embedding"), 1).as("e0"),
        col("label"))

  /** copy_from_alt: fall back to an alternate source when the primary is
    * missing (reference aggrelist.py:553-566). */
  def qAggCopyAlt(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(
      col("event_id"),
      coalesce(
        when(col("event_type") === "error", lit(null).cast(DoubleType))
          .otherwise(col("value")),
        lit(-1.0)).as("v"))

  /** Cadence regularization generalized to bucketed resampling. */
  def qAggResample(s: SparkSession, dir: String): DataFrame =
    TSA.filterValid(events(s, dir), cfg)
      .groupBy(date_trunc("hour", col("ts")).cast(ntz).as("bucket"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("value") * lit(10000.0) + lit(0.5)).cast(LongType)
          .cast(DecimalType(38, 0))).cast(DoubleType) / lit(10000.0))
          .as("v_sum"),
        min("value").as("v_min"), max("value").as("v_max"))

  /** Gap detection generalized: sessionize per user at 30-minute gaps.
    *
    * Bounded-key two-level plan: a single `Window.partitionBy(user_id)`
    * over EVENT rows puts a hot user's whole history in one unsplittable
    * partition (the r4 hot-key smoke measured max/median task time 26).
    * Instead (1) sessionize within (user, hour-bucket) partitions — the
    * per-key data is bounded by one user-hour — and collapse each local
    * session to a 5-column summary; (2) re-run the SAME gap rule over the
    * per-user session summaries, which both stitches bucket-boundary
    * sessions and assigns the global session numbers. Gap-run merging is
    * associative, so the composition is exact for ANY contiguous
    * bucketing — the bucket size is purely a performance knob (and the
    * occasional double-rounded boundary assignment is harmless for the
    * same reason). The second window still partitions by user, but over
    * session SUMMARIES: the hot key's row count drops from its event
    * count to its session count, and each row is 5 scalars. */
  def sessionizeEvents(e: DataFrame): DataFrame = {
    val thr = 1800000000L
    val bucketUs = 3600000000L
    val eb = e.withColumn("__bkt",
      floor(col(TSA.T) / lit(bucketUs)).cast(LongType))
    val wLoc = Window.partitionBy("user_id", "__bkt")
      .orderBy(col(TSA.T), col("event_id"))
    val local = eb
      .withColumn("__prev", lag(col(TSA.T), 1).over(wLoc))
      .withColumn("__new",
        when(col("__prev").isNull || col(TSA.T) - col("__prev") > thr, 1L)
          .otherwise(0L))
      .withColumn("__lsid", sum(col("__new"))
        .over(wLoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("__bkt"), col("__lsid"))
      .agg(count(lit(1)).as("__n"),
        min(col(TSA.T)).as("__start_us"), max(col(TSA.T)).as("__end_us"),
        min("ts").as("__start"), max("ts").as("__end"))
    val wUser = Window.partitionBy("user_id")
      .orderBy(col("__start_us"), col("__bkt"))
    local
      .withColumn("__pend", lag(col("__end_us"), 1).over(wUser))
      .withColumn("__snew",
        when(col("__pend").isNull || col("__start_us") - col("__pend") > thr,
          1L).otherwise(0L))
      .withColumn("session_id", sum(col("__snew"))
        .over(wUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(sum("__n").as("n_events"),
        min("__start").as("session_start"), max("__end").as("session_end"))
  }

  def qAggSessionize(s: SparkSession, dir: String): DataFrame =
    sessionizeEvents(TSA.filterValid(events(s, dir), cfg))

  /** Bound-spec parsing demonstrated as data (parser itself is pure Scala;
    * the oracle pins independently-computed expected values). */
  def qAggBoundsParse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Seq("T2024", "T202402", "T20240105:T20240115", "T2023123123", "100:200")
      .map { spec => val (lo, hi) = Bounds.parse(spec); (spec, lo, hi) }
      .toDF("spec", "lo_us", "hi_us")
  }

  /** Chunked granule write (reference `-c udim:chunksize`): range-partition
    * by the index column and cap records per output file. The result row is
    * oracle-checkable: content aggregates computed from the READ-BACK files
    * (count, exact id/value sums) must equal the oracle's aggregates over
    * the same validity-filtered source — a dropped or duplicated row in the
    * sink breaks the hash — plus layout invariants (file cap respected,
    * multiple files written) as 0/1 columns the oracle pins to 1. */
  def qAggChunkedWrite(s: SparkSession, dir: String): DataFrame = {
    // fixed per-process path, overwritten per run: repeated invocations in
    // one process must not accumulate temp granule sets, while two
    // concurrent drivers (bench + verify side by side) must not interleave
    // writes into each other's directory — namespace by application id.
    // Predecessors' leftovers (older app ids) are swept here so repeated
    // driver processes don't grow /tmp without bound. Only stale siblings
    // (untouched > 6h) are deleted — a fresh sibling may be a CONCURRENT
    // driver's live run, which the per-app namespacing exists to protect.
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    val prefix = "graft_chunked_write_"
    val mine = prefix + s.sparkContext.applicationId
    val staleMs = System.currentTimeMillis() - 6L * 3600 * 1000
    Option(tmpRoot.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(prefix) && f.getName != mine &&
        f.lastModified() < staleMs)
      .foreach { dir =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(): Unit
        }
        rm(dir)
      }
    val out = s"$tmpRoot/$mine"
    // 10k records/file: chunking still exercised end-to-end (sf0.1 writes
    // ~60 granules) without the 600-tiny-file footer/open overhead that
    // dominated the wall clock at chunk=1000 — at real scale chunk size is
    // a config knob sized to the storage layer, not a fixed constant
    graft.sources.ParquetGranuleSink.write(
      TSA.filterValid(events(s, dir), cfg).drop(TSA.T),
      out, sortCol = "ts", maxRecordsPerFile = 10000)
    val back = s.read.parquet(out)
    val layout = back.select(input_file_name().as("f"))
      .groupBy("f").agg(count(lit(1)).as("n"))
      .agg((max(col("n")) <= 10000L).cast(LongType).as("chunk_cap_ok"),
        (count(lit(1)) >= 2L).cast(LongType).as("multi_file"))
    back.agg(count(lit(1)).as("total_rows"),
        sum(col("event_id")).as("sum_event_id"),
        (sum(floor(col("value") * lit(10000.0) + lit(0.5)).cast(LongType)
          .cast(DecimalType(38, 0))).cast(DoubleType) / lit(10000.0))
          .as("v_sum"))
      .crossJoin(layout)
  }

  // --------------------------------------------------- netcdf DSv2 scan

  /** Granule-set fixture config: one unlimited record dimension indexed
    * by ts; plain scalar variables (the encodings derive from the
    * DataFrame types — ts becomes an epoch-seconds double with CF
    * units, ids narrow to int32 when they fit). */
  private val ncScanConfig = graft.core.AggConfig.Config(
    dims = Seq(graft.core.AggConfig.DimSpec("record", None,
      indexBy = Some("ts"))),
    vars = Seq(
      graft.core.AggConfig.VarSpec("ts", Seq("record"), "double"),
      graft.core.AggConfig.VarSpec("event_id", Seq("record"), "int64"),
      graft.core.AggConfig.VarSpec("user_id", Seq("record"), "int64"),
      graft.core.AggConfig.VarSpec("event_type", Seq("record"), "string"),
      graft.core.AggConfig.VarSpec("value", Seq("record"), "double")),
    attrs = Nil)

  /** Directory of `.nc` granules holding the valid events slice
    * (distributed write: [[graft.sources.NetCDFWrite.writeGranules]],
    * 20k records/file, chunked 1000 records with shuffle+deflate).
    * Derived ONCE per (session, dir): the timed work of q_netcdf_scan is
    * the SCAN, not the write. */
  def ncGranuleDir(s: SparkSession, dir: String): String =
    SessionScoped.store(s, dir, "ncStore") { d =>
      val out = s"$d/granules"
      graft.sources.NetCDFWrite.writeGranules(
        TSA.filterValid(events(s, dir), cfg)
          .select("ts", "event_id", "user_id", "event_type", "value"),
        out, ncScanConfig, Map("title" -> "graft q_netcdf_scan fixture"),
        maxRecordsPerFile = 20000,
        opts = graft.sources.NetCDFWrite.NcOpts(chunkRows = Some(1000),
          deflate = Some(1), shuffle = true))
      out
    }

  /** `q_netcdf_scan`: query `.nc` granules IN PLACE through the
    * DataSourceV2 `spark.read.format("netcdf")` surface
    * ([[graft.sources.NetCdfSource]]) — the parquet-free path a NetCDF
    * fleet user runs before (or instead of) converting. The plan proves
    * the V2 contract end-to-end: column pruning reaches the HDF5 chunk
    * level (user_id/event_type are never decoded), each granule fans out
    * into chunk-aligned record-range slabs (`splitrows`=5000 over
    * 1000-record chunks), and the aggregates must survive the
    * parquet -> nc -> scan round trip bit-exactly vs the oracle reading
    * the ORIGINAL parquet. `multi_split` pins the fan-out: >= 2 scan
    * partitions whenever the slice exceeds one split (count > 5000
    * implies either one file with >= 2 slabs or >= 2 files). */
  def qNetcdfScan(s: SparkSession, dir: String): DataFrame = {
    val nc = s.read.format("netcdf")
      .option("recdim", "record").option("splitrows", "5000")
      .load(ncGranuleDir(s, dir))
      // projected BEFORE the agg: Spark (correctly) refuses a
      // nondeterministic expression inside an aggregate argument
      .withColumn("__pid", spark_partition_id())
    nc.agg(
      count(lit(1)).as("n"),
      sum(col("event_id")).as("sum_event_id"),
      (sum(floor(col("value") * lit(10000.0) + lit(0.5)).cast(LongType)
        .cast(DecimalType(38, 0))).cast(DoubleType) / lit(10000.0))
        .as("v_sum"),
      min(unix_micros(col("ts").cast(TimestampType))).as("ts_min_us"),
      max(unix_micros(col("ts").cast(TimestampType))).as("ts_max_us"),
      (countDistinct(col("__pid")) >= 2).cast(LongType)
        .as("multi_split"))
  }

  /** `q_netcdf_range`: time-banded query over the SORTED granule feed —
    * the "query two days out of a month of granules" shape. The fixture
    * is written `indexby=ts` (range-partitioned + sorted), so declaring
    * `sortedby=ts` lets the scan prune like parquet row groups:
    * granules wholly outside [Jan 8, Jan 10) are never opened and the
    * boundary granules' record ranges are binary-search clipped — the
    * scan reads ~2/30ths of the feed's bytes. Results are gated by the
    * oracle over the ORIGINAL parquet with the same band, so the
    * pruning provably narrows I/O only, never semantics. */
  def qNetcdfRange(s: SparkSession, dir: String): DataFrame = {
    val nc = s.read.format("netcdf")
      .option("recdim", "record").option("splitrows", "5000")
      .option("sortedby", "ts")
      .load(ncGranuleDir(s, dir))
    nc.filter(col("ts") >=
        lit(java.time.LocalDateTime.of(2024, 1, 8, 0, 0, 0)) &&
        col("ts") < lit(java.time.LocalDateTime.of(2024, 1, 10, 0, 0, 0)))
      .agg(
        count(lit(1)).as("n"),
        sum(col("event_id")).as("sum_event_id"),
        (sum(floor(col("value") * lit(10000.0) + lit(0.5)).cast(LongType)
          .cast(DecimalType(38, 0))).cast(DoubleType) / lit(10000.0))
          .as("v_sum"),
        min(unix_micros(col("ts").cast(TimestampType))).as("ts_min_us"),
        max(unix_micros(col("ts").cast(TimestampType))).as("ts_max_us"))
  }

  /** `q_netcdf_filter`: range predicate on a column the feed is NOT
    * declared sorted by — pruned against the write-side per-granule
    * column-stats sidecar ([[graft.sources.NetCDFWrite]] emits
    * `<granule>.nc.stats.json`; the V2 scan drops granules whose
    * recorded [min, max] is disjoint from the pushed range, parquet
    * row-group semantics on ARBITRARY columns instead of only the
    * sorted coordinate). The fixture's event_ids are time-correlated,
    * so the granule fleet has near-disjoint event_id windows and the
    * band [100, 450] opens ~1 granule regardless of fleet size; the
    * oracle runs the same band over the ORIGINAL parquet, gating that
    * stats pruning narrows I/O only, never semantics (the spec's
    * corrupt-granule trick proves pruned granules are never opened). */
  def qNetcdfFilter(s: SparkSession, dir: String): DataFrame = {
    val nc = s.read.format("netcdf")
      .option("recdim", "record").option("splitrows", "5000")
      .load(ncGranuleDir(s, dir))
    nc.filter(col("event_id") >= 100L && col("event_id") <= 450L)
      .agg(
        count(lit(1)).as("n"),
        sum(col("event_id")).as("sum_event_id"),
        (sum(floor(col("value") * lit(10000.0) + lit(0.5)).cast(LongType)
          .cast(DecimalType(38, 0))).cast(DoubleType) / lit(10000.0))
          .as("v_sum"),
        min(unix_micros(col("ts").cast(TimestampType))).as("ts_min_us"),
        max(unix_micros(col("ts").cast(TimestampType))).as("ts_max_us"))
  }

  /** `q_netcdf_coverage`: "what does the archive cover?" — ungrouped
    * MIN/MAX of the sorted time coordinate plus COUNT(*), the catalog
    * query a granule fleet answers constantly. Through the v2 source
    * this is a COMPLETE metadata pushdown
    * ([[graft.sources.NetCdfMetaAggScan]]): the count comes from
    * per-granule HEADER record counts and min/max from two
    * single-record END probes per granule (the feed is `indexby`-sorted,
    * declared via `sortedby=ts`), computed with exactly the ingest's
    * epoch-micros arithmetic — the scan emits ONE finished row and
    * reads ZERO data chunks, so wall clock is O(granule count),
    * independent of archive bytes. The oracle computes the same
    * aggregates over the ORIGINAL parquet, gating that the pushed
    * values are bit-identical to what a full scan would return. The
    * micros projection sits ABOVE the aggregate so the pushdown still
    * sees bare min/max/count. */
  def qNetcdfCoverage(s: SparkSession, dir: String): DataFrame = {
    val nc = s.read.format("netcdf")
      .option("recdim", "record").option("sortedby", "ts")
      .load(ncGranuleDir(s, dir))
    nc.agg(
        min(col("ts")).as("ts_min"),
        max(col("ts")).as("ts_max"),
        count(lit(1)).as("n"))
      .select(
        unix_micros(col("ts_min").cast(TimestampType)).as("ts_min_us"),
        unix_micros(col("ts_max").cast(TimestampType)).as("ts_max_us"),
        col("n"))
  }

  /** `q_netcdf_daily`: per-day record counts and value sums across the
    * granule archive — the GROUPED coverage query the metadata pushdown
    * correctly DECLINES (a grouped aggregate cannot be answered from
    * headers and end probes), proving the decline path end-to-end: the
    * plan falls back to the chunk-pruned v2 scan reading only the
    * `ts`/`value` variables (unprojected variables' chunks never open),
    * splits stay chunk-aligned, and ONE partial/final aggregation pair
    * shuffles combined per-day partials — days cross the wire, never
    * records. Completes the archive-query triple: full scan
    * ([[qNetcdfScan]]), pruned band ([[qNetcdfRange]]), pure metadata
    * ([[qNetcdfCoverage]]), grouped fallback (this). */
  def qNetcdfDaily(s: SparkSession, dir: String): DataFrame = {
    val nc = s.read.format("netcdf")
      .option("recdim", "record").option("splitrows", "5000")
      .option("sortedby", "ts")
      .load(ncGranuleDir(s, dir))
    nc.groupBy(date_trunc("DAY", col("ts").cast(TimestampType)).as("day"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("value") * lit(10000.0) + lit(0.5)).cast(LongType)
          .cast(DecimalType(38, 0))).cast(DoubleType) / lit(10000.0))
          .as("v_sum"))
      .select(unix_micros(col("day").cast(TimestampType)).as("day_us"),
        col("n"), col("v_sum"))
  }

  /** `q_netcdf_by_type`: per-type counts, id sums and time coverage over
    * the granule archive, answered through the DataSourceV2 GROUPED
    * PARTIAL aggregate pushdown ([[graft.sources.NetCdfPartialAggScan]]):
    * each granule slice aggregates its own records INSIDE the scan and
    * emits per-group partial rows (group column + partial count/sum/
    * min/max), which Spark's final aggregation merges — rows crossing
    * the source boundary shrink from records to groups-per-slice, and
    * only the four referenced variables' chunks are read. `count(col)`
    * (null-skipping) is used deliberately: it pushes as a per-slice
    * non-null count, exercising the path a bare COUNT(*) would not. */
  def qNetcdfByType(s: SparkSession, dir: String): DataFrame = {
    val nc = s.read.format("netcdf")
      .option("recdim", "record").option("splitrows", "5000")
      .load(ncGranuleDir(s, dir))
    nc.groupBy("event_type")
      .agg(count(col("event_id")).as("n"),
        sum(col("event_id")).as("sum_event_id"),
        min(col("ts")).as("ts_min"), max(col("ts")).as("ts_max"))
      .select(col("event_type"), col("n"), col("sum_event_id"),
        unix_micros(col("ts_min").cast(TimestampType)).as("ts_min_us"),
        unix_micros(col("ts_max").cast(TimestampType)).as("ts_max_us"))
  }

  /** `stream_netcdf_ingest`: the BATCH TWIN of the granule-feed
    * micro-batch stream (`spark.readStream.format("netcdf")` —
    * NetCdfSourceV2Spec proves the streaming side: incremental pickup
    * of newly-landed granules and exactly-once across restarts via the
    * checkpointed file-count offset). Same per-type fold over the same
    * granule store through the same pruned v2 scan, so the oracle gates
    * the values the stream accumulates. */
  def qStreamNetcdfIngest(s: SparkSession, dir: String): DataFrame = {
    val nc = s.read.format("netcdf")
      .option("recdim", "record").load(ncGranuleDir(s, dir))
    nc.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("event_id")).as("sum_event_id"),
      (sum(floor(col("value") * lit(10000.0) + lit(0.5)).cast(LongType)
        .cast(DecimalType(38, 0))).cast(DoubleType) / lit(10000.0))
        .as("v_sum"))
  }

  // ------------------------------------------------------------ oracle SQL

  private def fullPipelineSql(withBounds: Boolean,
      withEdges: Boolean = false): String = {
    val boundPred =
      if (withBounds) s"AND epoch_us(ts) BETWEEN $boundLoUs AND $boundHiUs"
      else ""
    val nullCols =
      """CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS BIGINT) AS user_id,
        |         CAST(NULL AS VARCHAR) AS event_type,
        |         CAST(NULL AS DOUBLE) AS value, TRUE AS is_fill""".stripMargin
    val edges =
      if (!withEdges) ""
      else
        s""",
           |agg AS (SELECT min(t) AS tf, max(t) AS tl FROM kept),
           |lead_fills AS (
           |  SELECT tf - k * $NomStepUs AS t, $nullCols
           |  FROM agg, unnest(generate_series(1, (tf - $boundLoUs) // $NomStepUs)) AS u(k)),
           |trail_fills AS (
           |  SELECT tl + k * $NomStepUs AS t, $nullCols
           |  FROM agg, unnest(generate_series(1, ($boundHiUs - tl) // $NomStepUs)) AS u(k))""".stripMargin
    val edgeUnion =
      if (!withEdges) ""
      else
        """
          |      UNION ALL SELECT * FROM lead_fills
          |      UNION ALL SELECT * FROM trail_fills""".stripMargin
    s"""WITH e AS ($sqlValid $boundPred),
       |d AS (SELECT *, lag(t) OVER (ORDER BY t, event_id) AS prev_t FROM e),
       |kept AS (SELECT t, event_id, user_id, event_type, value FROM d
       |         WHERE prev_t IS NULL OR t - prev_t >= $MinStepUs),
       |g AS (SELECT *, lead(t) OVER (ORDER BY t, event_id) AS next_t FROM kept),
       |fills AS (
       |  SELECT t + k * $NomStepUs AS t, $nullCols
       |  FROM g, unnest(generate_series(1, ${TSA.fillCountDuck("next_t - t", NomStepUs)})) AS u(k)
       |  WHERE next_t IS NOT NULL AND next_t - t > $GapThrUs)$edges
       |SELECT make_timestamp(t) AS ts, event_id, user_id, event_type, value, is_fill
       |FROM (SELECT t, event_id, user_id, event_type, value, FALSE AS is_fill
       |      FROM g UNION ALL SELECT * FROM fills$edgeUnion)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // report face of the gap machinery: the same round-half-even fill
    // count as the gapfill oracle, aggregated instead of synthesized
    "q_gap_stats" ->
      s"""WITH v AS ($sqlValid),
         |g AS (SELECT event_type,
         |             t - lag(t) OVER (PARTITION BY event_type
         |                              ORDER BY t, event_id) AS gap
         |      FROM v)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(sum(CASE WHEN gap > $GapThrUs THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_gaps,
         |       max(CASE WHEN gap > $GapThrUs THEN gap END) AS max_gap_us,
         |       CAST(sum(CASE WHEN gap > $GapThrUs
         |                THEN ${TSA.fillCountDuck("gap", NomStepUs)}
         |                ELSE 0 END) AS BIGINT) AS n_missing
         |FROM g GROUP BY 1""".stripMargin,
    "q_coverage_report" ->
      s"""WITH v AS ($sqlValid)
         |SELECT event_type,
         |       CAST(min(t // 86400000000) AS BIGINT) AS first_day,
         |       CAST(max(t // 86400000000) AS BIGINT) AS last_day,
         |       CAST(count(DISTINCT t // 86400000000) AS BIGINT)
         |         AS n_days_present,
         |       CAST(max(t // 86400000000) - min(t // 86400000000) + 1
         |            - count(DISTINCT t // 86400000000) AS BIGINT)
         |         AS n_days_missing,
         |       CAST(count(*) AS BIGINT) AS n_records
         |FROM v GROUP BY 1""".stripMargin,
    "q_open_gaps" ->
      s"""WITH v AS ($sqlValid),
         |f AS (SELECT max(t) AS fr FROM v),
         |g AS (SELECT event_type, CAST(max(t) AS BIGINT) AS last_t_us,
         |             CAST(count(*) AS BIGINT) AS n_records
         |      FROM v GROUP BY 1)
         |SELECT event_type, last_t_us, n_records,
         |       CAST(fr - last_t_us AS BIGINT) AS open_gap_us,
         |       CAST(CASE WHEN fr - last_t_us > $GapThrUs
         |            THEN ${TSA.fillCountDuck("fr - last_t_us", NomStepUs)}
         |            ELSE 0 END AS BIGINT) AS n_missing,
         |       fr - last_t_us > $GapThrUs AS stale
         |FROM g, f""".stripMargin,
    "q_agg_sort" ->
      s"""WITH e AS ($sqlValid)
         |SELECT row_number() OVER (ORDER BY t, event_id) AS rn,
         |       event_id, make_timestamp(t) AS ts, user_id, event_type, value
         |FROM e""".stripMargin,
    "q_agg_valid" ->
      s"""WITH e AS ($sqlValid)
         |SELECT event_id, make_timestamp(t) AS ts, user_id, event_type, value
         |FROM e""".stripMargin,
    "q_agg_bounds" ->
      s"""WITH e AS ($sqlValid AND epoch_us(ts) BETWEEN $boundLoUs AND $boundHiUs)
         |SELECT event_id, make_timestamp(t) AS ts, user_id, event_type, value
         |FROM e""".stripMargin,
    "q_agg_dedup" ->
      s"""WITH e AS ($sqlValid),
         |d AS (SELECT *, lag(t) OVER (ORDER BY t, event_id) AS prev_t FROM e)
         |SELECT event_id, make_timestamp(t) AS ts, user_id, event_type, value
         |FROM d WHERE prev_t IS NULL OR t - prev_t >= $MinStepUs""".stripMargin,
    "q_agg_gapfill" ->
      s"""WITH e AS ($sqlValid),
         |g AS (SELECT *, lead(t) OVER (ORDER BY t, event_id) AS next_t FROM e),
         |fills AS (
         |  SELECT t + k * $NomStepUs AS t, CAST(NULL AS BIGINT) AS event_id,
         |         CAST(NULL AS DOUBLE) AS value, TRUE AS is_fill
         |  FROM g, unnest(generate_series(1, ${TSA.fillCountDuck("next_t - t", NomStepUs)})) AS u(k)
         |  WHERE next_t IS NOT NULL AND next_t - t > $GapThrUs)
         |SELECT make_timestamp(t) AS ts, event_id, value, is_fill
         |FROM (SELECT t, event_id, value, FALSE AS is_fill FROM g
         |      UNION ALL SELECT * FROM fills)""".stripMargin,
    "q_agg_interp" ->
      s"""WITH e AS ($sqlValid AND epoch_us(ts) BETWEEN $boundLoUs AND $boundHiUs),
         |d AS (SELECT t, event_id, value,
         |             lag(t) OVER (ORDER BY t, event_id) AS prev_t FROM e),
         |k AS (SELECT t, event_id, value FROM d
         |      WHERE prev_t IS NULL OR t - prev_t >= $MinStepUs),
         |g AS (SELECT *, lead(t) OVER (ORDER BY t, event_id) AS nt,
         |             lead(value) OVER (ORDER BY t, event_id) AS nv FROM k),
         |fills AS (
         |  SELECT t + kk * $NomStepUs AS t,
         |         value + (nv - value) *
         |           (CAST(kk * $NomStepUs AS DOUBLE) / CAST(nt - t AS DOUBLE))
         |           AS value,
         |         TRUE AS is_fill
         |  FROM g, unnest(generate_series(1, ${TSA.fillCountDuck("nt - t", NomStepUs)})) AS u(kk)
         |  WHERE nt IS NOT NULL AND nt - t > $GapThrUs)
         |SELECT make_timestamp(t) AS ts, value, is_fill
         |FROM (SELECT t, value, FALSE AS is_fill FROM g
         |      UNION ALL SELECT * FROM fills)""".stripMargin,
    "q_agg_full" -> fullPipelineSql(withBounds = true),
    "q_agg_fill_edges" ->
      fullPipelineSql(withBounds = true, withEdges = true),
    "q_agg_flatten" ->
      """SELECT l_orderkey,
        |       row_number() OVER (PARTITION BY l_orderkey
        |         ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity,
        |                  l_extendedprice) AS feature_idx,
        |       l_partkey, l_quantity
        |FROM lineitem""".stripMargin,
    "q_agg_multifile" ->
      s"""WITH e AS ($sqlValid)
         |SELECT 'events_' || strftime(CAST(make_timestamp(t) AS DATE), '%Y-%m-%d')
         |         AS granule,
         |       count(*) AS n_records, min(make_timestamp(t)) AS first_ts,
         |       max(make_timestamp(t)) AS last_ts,
         |       count(DISTINCT user_id) AS n_users
         |FROM e GROUP BY 1""".stripMargin,
    "q_agg_attrs" ->
      s"""WITH e AS ($sqlValid),
         |per AS (
         |  SELECT CAST(make_timestamp(t) AS DATE) AS g, max(event_type) AS attr,
         |         count(*) AS nrec,
         |         sum(CAST(CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS vsum,
         |         min(make_timestamp(t)) AS g_first,
         |         max(make_timestamp(t)) AS g_last
         |  FROM e GROUP BY 1)
         |SELECT arg_min(attr, g) AS first_attr, arg_max(attr, g) AS last_attr,
         |       array_to_string(list_sort(list(DISTINCT attr)), ', ') AS unique_list,
         |       CAST(sum(nrec) AS BIGINT) AS int_sum,
         |       (CAST(sum(vsum) AS DOUBLE) / 10000.0) AS float_sum,
         |       count(*) AS input_count,
         |       min(strftime(g, '%Y-%m-%d')) AS first_input,
         |       max(strftime(g, '%Y-%m-%d')) AS last_input,
         |       substr(strftime(min(g_first), '%Y-%m-%dT%H:%M:%S.%f'), 1, 23) || 'Z'
         |         AS time_coverage_start,
         |       substr(strftime(max(g_last), '%Y-%m-%dT%H:%M:%S.%f'), 1, 23) || 'Z'
         |         AS time_coverage_end,
         |       'graft' AS static_attr
         |FROM per""".stripMargin,
    "q_agg_subset_dims" ->
      "SELECT vec_id, embedding[1] AS e0, label FROM embeddings",
    "q_agg_copy_alt" ->
      """SELECT event_id,
        |       COALESCE(CASE WHEN event_type = 'error' THEN NULL ELSE value END,
        |                -1.0) AS v
        |FROM events""".stripMargin,
    "q_agg_resample" ->
      s"""WITH e AS ($sqlValid)
         |SELECT date_trunc('hour', make_timestamp(t)) AS bucket,
         |       count(*) AS n,
         |       (CAST(sum(CAST(CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS v_sum,
         |       min(value) AS v_min, max(value) AS v_max
         |FROM e GROUP BY 1""".stripMargin,
    "q_agg_sessionize" ->
      s"""WITH e AS ($sqlValid),
         |d AS (SELECT *, lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
         |               AS prev_t FROM e),
         |m AS (SELECT *, CASE WHEN prev_t IS NULL OR t - prev_t > 1800000000
         |                     THEN 1 ELSE 0 END AS newsess FROM d),
         |x AS (SELECT *, CAST(sum(newsess) OVER (PARTITION BY user_id
         |               ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |               AS session_id FROM m)
         |SELECT user_id, session_id, count(*) AS n_events,
         |       min(make_timestamp(t)) AS session_start,
         |       max(make_timestamp(t)) AS session_end
         |FROM x GROUP BY user_id, session_id""".stripMargin,
    "q_agg_bounds_parse" ->
      """SELECT * FROM (VALUES
        |  ('T2024', 1704067200000000, 1735689599999999),
        |  ('T202402', 1706745600000000, 1709251199999999),
        |  ('T20240105:T20240115', 1704412800000000, 1705276800000000),
        |  ('T2023123123', 1704063600000000, 1704067199999999),
        |  ('100:200', 100, 200)) AS t(spec, lo_us, hi_us)""".stripMargin,
    // content aggregates over the sink's read-back rows; the layout flags
    // (cap respected, >1 file) are engine-side invariants the oracle pins
    "q_agg_chunked_write" ->
      s"""WITH e AS ($sqlValid)
         |SELECT CAST(count(*) AS BIGINT) AS total_rows,
         |       CAST(sum(event_id) AS BIGINT) AS sum_event_id,
         |       (CAST(sum(CAST(CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS v_sum,
         |       CAST(1 AS BIGINT) AS chunk_cap_ok,
         |       CAST(1 AS BIGINT) AS multi_file
         |FROM e""".stripMargin,
    // the oracle reads the ORIGINAL parquet — the fixture's
    // parquet -> .nc -> v2-scan round trip must be value-exact (epoch
    // double micro-rounding proven exact below 2^53 us); multi_split's
    // count>5000 rule: one file with >= 2 slabs, or >= 2 files
    "q_netcdf_scan" ->
      s"""WITH e AS ($sqlValid)
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(event_id) AS BIGINT) AS sum_event_id,
         |       (CAST(sum(CAST(CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS v_sum,
         |       CAST(min(t) AS BIGINT) AS ts_min_us,
         |       CAST(max(t) AS BIGINT) AS ts_max_us,
         |       CAST(count(*) > 5000 AS BIGINT) AS multi_split
         |FROM e""".stripMargin,
    "stream_netcdf_ingest" ->
      s"""WITH e AS ($sqlValid)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(event_id) AS BIGINT) AS sum_event_id,
         |       (CAST(sum(CAST(CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS v_sum
         |FROM e GROUP BY 1""".stripMargin,
    // [Jan 8, Jan 10) in epoch micros; the Spark side reads the SORTED
    // granule feed with the band pushed as a prune range
    "q_netcdf_range" ->
      s"""WITH e AS ($sqlValid)
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(event_id) AS BIGINT) AS sum_event_id,
         |       (CAST(sum(CAST(CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS v_sum,
         |       CAST(min(t) AS BIGINT) AS ts_min_us,
         |       CAST(max(t) AS BIGINT) AS ts_max_us
         |FROM e
         |WHERE t >= 1704672000000000 AND t < 1704844800000000""".stripMargin,
    // arbitrary-column band over the granule feed; the Spark side prunes
    // granules via the write-side stats sidecar, the oracle full-scans
    // the ORIGINAL parquet with the same band
    "q_netcdf_filter" ->
      s"""WITH e AS ($sqlValid)
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(event_id) AS BIGINT) AS sum_event_id,
         |       (CAST(sum(CAST(CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS v_sum,
         |       CAST(min(t) AS BIGINT) AS ts_min_us,
         |       CAST(max(t) AS BIGINT) AS ts_max_us
         |FROM e
         |WHERE event_id BETWEEN 100 AND 450""".stripMargin,
    // the Spark side answers from granule headers + end-record probes
    // (zero data chunks); the oracle full-scans the ORIGINAL parquet —
    // hash equality proves the pushed coverage is exactly the scan's
    "q_netcdf_coverage" ->
      s"""WITH e AS ($sqlValid)
         |SELECT CAST(min(t) AS BIGINT) AS ts_min_us,
         |       CAST(max(t) AS BIGINT) AS ts_max_us,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM e""".stripMargin,
    // t is epoch MICROS; day bucket = floor-div to the UTC day start,
    // matching the Spark side's date_trunc over the NTZ coordinate
    // the Spark side pushes grouped per-slice partials into the scan
    // (NetCdfPartialAggScan); the oracle full-scans the original parquet
    "q_netcdf_by_type" ->
      s"""WITH e AS ($sqlValid)
         |SELECT event_type, CAST(count(event_id) AS BIGINT) AS n,
         |       CAST(sum(event_id) AS BIGINT) AS sum_event_id,
         |       CAST(min(t) AS BIGINT) AS ts_min_us,
         |       CAST(max(t) AS BIGINT) AS ts_max_us
         |FROM e GROUP BY 1""".stripMargin,
    "q_netcdf_daily" ->
      s"""WITH e AS ($sqlValid)
         |SELECT CAST((t // 86400000000) * 86400000000 AS BIGINT) AS day_us,
         |       CAST(count(*) AS BIGINT) AS n,
         |       (CAST(sum(CAST(CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0) AS v_sum
         |FROM e GROUP BY 1""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_sort" -> (qAggSort _),
    "q_agg_valid" -> (qAggValid _),
    "q_agg_bounds" -> (qAggBounds _),
    "q_agg_dedup" -> (qAggDedup _),
    "q_agg_gapfill" -> (qAggGapfill _),
    "q_agg_interp" -> (qAggInterp _),
    "q_agg_full" -> (qAggFull _),
    "q_agg_fill_edges" -> (qAggFillEdges _),
    "q_agg_flatten" -> (qAggFlatten _),
    "q_agg_multifile" -> (qAggMultifile _),
    "q_agg_attrs" -> (qAggAttrs _),
    "q_agg_subset_dims" -> (qAggSubsetDims _),
    "q_agg_copy_alt" -> (qAggCopyAlt _),
    "q_agg_resample" -> (qAggResample _),
    "q_agg_sessionize" -> (qAggSessionize _),
    "q_agg_bounds_parse" -> (qAggBoundsParse _),
    "q_agg_chunked_write" -> (qAggChunkedWrite _),
    "q_gap_stats" -> (qGapStats _),
    "q_coverage_report" -> (qCoverageReport _),
    "q_open_gaps" -> (qOpenGaps _),
    "q_netcdf_scan" -> (qNetcdfScan _),
    "q_netcdf_range" -> (qNetcdfRange _),
    "q_netcdf_filter" -> (qNetcdfFilter _),
    "q_netcdf_coverage" -> (qNetcdfCoverage _),
    "q_netcdf_daily" -> (qNetcdfDaily _),
    "q_netcdf_by_type" -> (qNetcdfByType _),
    "stream_netcdf_ingest" -> (qStreamNetcdfIngest _)
  )
}
