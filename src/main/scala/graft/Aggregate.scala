package graft

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

import graft.core.{AggConfig, AttributeStrategies, TimeSeriesAggregator => TSA}
import graft.sources.ParquetGranuleSink

/** The reference's primary API, Spark-native (reference:
  * /root/reference/ncagg/aggregator.py:36-51 `aggregate(files, output,
  * config)`): aggregate many parquet granules into one sorted, deduped,
  * gap-filled, bounds-clipped output plus aggregated global attributes.
  *
  * Where the reference builds an in-process aggregation list and streams
  * node-by-node, here the whole job is one declarative Spark plan — the
  * granule set is a multi-path parquet scan (partition-parallel at any
  * scale), the regularization is [[TSA]]'s chunk-partitioned pipeline, and
  * the output is a range-partitioned chunk-size-controlled parquet granule
  * set plus a `_global_attrs.json` sidecar ([[Aggregated.writeParquet]]),
  * or a NetCDF product the frame goes straight into.
  */
object Aggregate {

  val TimingCertainty = 0.9 // reference aggregator.py:33

  /** Derive the [[TSA.UdimConfig]] thresholds from an expected cadence the
    * way the reference does: dedup below half a minimal step
    * (aggrelist.py:290-292). The reference carries TWO gap-fill
    * thresholds — within a file `2/((2-c)·hz)` ≈ 1.818 steps
    * (aggrelist.py:294) and between files `1.6·dt_max` = 1.6/(c·hz) ≈
    * 1.778 steps (aggregator.py:167). graft's pipeline is one relational
    * stream with no granule boundaries, so one threshold must serve both;
    * the between-file rule wins because granule-boundary gaps are the
    * common case at fleet scale and the reference's own
    * SEISL1bEHIS_overlaps test pins a 540 s gap at 1/300 Hz (= 1.8 steps,
    * inside the two rules' divergence window) expecting a fill. The cost:
    * a WITHIN-file gap in (1.778, 1.818) steps gets one fill the
    * reference would not insert — that needs timing jitter of more than
    * 3/4 of a step inside one granule, which the cadence model already
    * treats as an outage. */
  def udimConfigFor(dim: AggConfig.DimSpec, idCol: String,
      tsCol: Option[String] = None): TSA.UdimConfig = {
    val hz = dim.cadenceHz.getOrElse(0.0)
    val (minStep, nomStep, gapThr) =
      if (hz > 0) {
        val tol = 1e6 / ((2.0 - TimingCertainty) * hz)
        val dtMax = 1e6 / (TimingCertainty * hz)
        (math.round(0.5 * tol), math.round(1e6 / hz),
          math.round(1.6 * dtMax))
      } else (0L, Long.MaxValue, Long.MaxValue)
    TSA.UdimConfig(
      tsCol = tsCol.getOrElse(dim.indexBy.get),
      idCol = idCol,
      minStepUs = minStep,
      nomStepUs = nomStep,
      gapThresholdUs = gapThr,
      boundsUs = (dim.min, dim.max) match {
        case (Some(lo), Some(hi)) => Some((lo, hi))
        case (Some(lo), None) => Some((lo, Long.MaxValue))
        case (None, Some(hi)) => Some((Long.MinValue, hi))
        case _ => None
      },
      // reference parity: with a cadence AND both bounds, fill out to the
      // bound edges (leading/trailing FillNodes, aggregator.py:151-234)
      fillEdges = hz > 0 && dim.min.isDefined && dim.max.isDefined)
  }

  /** Project the configured variables out of the raw granule scan:
    * missing variables fall back through copy_from_alt then null-fill
    * (reference aggrelist.py:545-566), map_to renames on output
    * (reference aggregator.py:378), take_dim_indicies extracts one index
    * of a fixed inner dimension (reference README; unimplemented there).
    * Per-variable config attributes are NOT attached here — the
    * regularization pipeline rebuilds attributes and would drop them;
    * [[applyVarMetadata]] attaches them at the sink instead. */
  def selectVariables(df: DataFrame, config: AggConfig.Config): DataFrame = {
    val present = df.columns.toSet
    val cols = config.vars.map { v =>
      val source =
        if (present(v.name)) Some(col(v.name))
        else v.copyFromAlt.find(present).map(col)
      val taken = v.dimensions.collectFirst {
        case d if config.takeDimInds.contains(d) => config.takeDimInds(d)
      }
      val c = (source, taken) match {
        case (Some(s), Some(idx)) => element_at(s, idx + 1) // 0-based config
        case (Some(s), None) => s
        case (None, _) => lit(null)
      }
      c.as(v.mapTo.getOrElse(v.name))
    }
    df.select(cols: _*)
  }

  /** Scalar ordering index for a (possibly multi-dimensional) index_by
    * variable (reference README `other_dim_indicies` / aggrelist.py:347-386:
    * order a record by element [i] of its per-record index array). */
  def indexColumn(config: AggConfig.Config, dim: AggConfig.DimSpec,
      df: DataFrame): org.apache.spark.sql.Column = {
    val ivar = dim.indexBy.get
    val varSpec = config.vars.find(v => v.mapTo.getOrElse(v.name) == ivar)
    val innerDims = varSpec.map(_.dimensions.filter(_ != dim.name))
      .getOrElse(Nil)
    if (innerDims.isEmpty) col(ivar)
    else {
      val idx = dim.otherDimInds.getOrElse(innerDims.head, 0)
      element_at(col(ivar), idx + 1)
    }
  }

  /** Synthesized fill records of a MULTIDIM index variable carry computed
    * index values, not nulls (reference FillNode.data_for,
    * aggrelist.py:141-189): element j of the fill row's index array is
    * the row's scalar index_time (already placed on the udim cadence by
    * the gap-fill) shifted by (j - anchor)/innerHz, where anchor is the
    * other_dim_indicies element index_time tracks. NOTE a deliberate
    * divergence from the reference: its inner linspace always starts at
    * element 0 (no anchor subtraction), so for anchor != 0 the reference
    * offsets the whole fill array by anchor/innerHz — keeping the anchor
    * ELEMENT on the cadence grid (as here) makes the synthesized index at
    * the tracked position consistent with index_time. Applies when the
    * inner dimension has a configured cadence and fixed size and the
    * element type is a timestamp; otherwise fill arrays stay null
    * (matching the reference's plain fill-value path when cadences are
    * absent). */
  private def fillMultidimIndex(df: DataFrame, config: AggConfig.Config,
      dim: AggConfig.DimSpec, ivar: String, tsName: String): DataFrame = {
    import org.apache.spark.sql.types._
    if (tsName == ivar || !df.columns.contains("is_fill")) return df
    val vSpec = config.vars.find(v => v.mapTo.getOrElse(v.name) == ivar)
    val innerDims = vSpec.map(_.dimensions.filter(_ != dim.name))
      .getOrElse(Nil)
    val innerHz = innerDims.headOption
      .flatMap(dim.expectedCadence.get).filter(_ > 0)
    val innerSize = innerDims.headOption
      .flatMap(dn => config.dim(dn).flatMap(_.size)).filter(_ > 0)
    val elemT = df.schema(ivar).dataType match {
      case ArrayType(t, _) => t
      case _ => return df
    }
    (innerHz, innerSize) match {
      case (Some(hz), Some(n))
          if elemT == TimestampNTZType || elemT == TimestampType =>
        val anchor = dim.otherDimInds.getOrElse(innerDims.head, 0)
        val stepUs = math.round(1e6 / hz)
        val baseUs = unix_micros(col(tsName).cast(TimestampType))
        val arr = transform(
          sequence(lit(0), lit(n.toInt - 1)),
          j => timestamp_micros(
            baseUs + (j - lit(anchor)).cast(LongType) * lit(stepUs))
            .cast(elemT))
        df.withColumn(ivar,
          when(col("is_fill"), arr).otherwise(col(ivar)))
      case _ => df
    }
  }

  /** Re-attach the config's per-variable attributes as column metadata on
    * the frame about to be written: the regularization pipeline (windows,
    * unions, fill synthesis) rebuilds attributes and drops metadata, so
    * attaching at the sink is the only placement that survives. */
  private def applyVarMetadata(df: DataFrame,
      config: AggConfig.Config): DataFrame = {
    val byName = config.vars
      .map(v => v.mapTo.getOrElse(v.name) -> v.attributes).toMap
    df.select(df.columns.map { c =>
      byName.get(c).filter(_.nonEmpty) match {
        case Some(attrs) =>
          val md = new org.apache.spark.sql.types.MetadataBuilder()
          attrs.foreach { case (k, x) => md.putString(k, x) }
          col(c).as(c, md.build())
        case None => col(c)
      }
    }: _*)
  }

  /** What [[run]] built for `dst`: the regularized frame, lazy (no job
    * has run its pipeline yet), the column it is ordered by, and the
    * finalized global attributes. A caller writes it once, with
    * [[writeParquet]] or a NetCDF writer, so the pipeline runs inside
    * that write. */
  final case class Aggregated(frame: DataFrame, sortCol: String,
      attrs: Map[String, String], dst: String) {

    /** Write the frame to `dst` as a range-partitioned, chunk-size-
      * controlled parquet granule set plus its `_global_attrs.json`
      * sidecar; returns the attributes. */
    def writeParquet(maxRecordsPerFile: Int = 1 << 20): Map[String, String] = {
      ParquetGranuleSink.write(frame, dst, sortCol, maxRecordsPerFile)
      val json = attrs.map { case (k, v) =>
        "\"" + escape(k) + "\": \"" + escape(v) + "\""
      }.mkString("{", ", ", "}")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dst, "_global_attrs.json"), json)
      attrs
    }
  }

  /** Aggregate `srcs` (parquet granule paths/globs) for `dst`: build the
    * regularized frame and the global attributes once (`dst` names the
    * output in the provenance attributes; nothing is written here).
    *
    * @param granuleAttrs per-granule global attributes (the analog of
    *                     NetCDF per-file attrs; parquet has no portable
    *                     equivalent, so they arrive as a sidecar map keyed
    *                     by granule path — pass Map.empty to only use
    *                     provenance strategies)
    */
  def run(
      spark: SparkSession,
      srcs: Seq[String],
      dst: String,
      config: AggConfig.Config,
      granuleAttrs: Map[String, Map[String, String]] = Map.empty,
      now: () => Instant = () => Instant.now()): Aggregated = {

    require(srcs.nonEmpty, "no input granules")
    val sorted = srcs.sorted // reference aggregator.py:65 sorted(files)

    // union schema across granules: the reference null-fills a variable in
    // granules that lack it (aggrelist.py:545-566); without mergeSchema a
    // single footer's schema would silently drop such variables
    val raw = spark.read.option("mergeSchema", "true").parquet(sorted: _*)
    val data = selectVariables(raw, config)

    val (out, sortCol) = config.primaryUdim match {
      case Some(dim) if dim.indexBy.isDefined =>
        val ivar = dim.indexBy.get
        // multi-dimensional index variable (reference other_dim_indicies):
        // order by one element of the per-record index array, kept in the
        // output as a scalar `index_time` column.
        val multiDim = data.schema(ivar).dataType
          .isInstanceOf[org.apache.spark.sql.types.ArrayType]
        val tsName = if (multiDim) "index_time" else ivar
        val prepped =
          if (multiDim)
            data.withColumn(tsName, indexColumn(config, dim, data))
          else data
        val idCol = "__graft_row_id"
        val cfg = udimConfigFor(dim, idCol, Some(tsName))
        val withId = prepped.withColumn(idCol, monotonically_increasing_id())
        val aggregated =
          if (dim.cadenceHz.exists(_ > 0))
            TSA.aggregate(withId, cfg).drop(idCol)
          else {
            // no cadence: only drop invalid index values and clip bounds,
            // keep sorted (reference: "Config with index_by -> ascending")
            val valid = TSA.clipBounds(TSA.filterValid(withId, cfg), cfg)
            valid.drop(TSA.T, idCol).withColumn("is_fill", lit(false))
          }
        (fillMultidimIndex(aggregated, config, dim, ivar, tsName), tsName)
      case _ =>
        // no indexed unlimited dim: plain concatenation in granule order
        (data.withColumn("is_fill", lit(false)), data.columns.head)
    }

    // Hierarchical re-aggregation (the reference's daily -> monthly
    // workflow): a granule that is itself a previous run's output carries
    // a `_global_attrs.json` sidecar — read it as that granule's
    // attributes so provenance (site lists, coverage, counts) flows up
    // through levels. An explicit granuleAttrs entry overrides.
    val granules = sorted.map { p =>
      p -> (readSidecarAttrs(p) ++ granuleAttrs.getOrElse(p, Map.empty))
    }
    val attrs = AttributeStrategies.finalizeAttrs(
      config.attrs, granules, dst,
      config.primaryUdim.flatMap(d =>
        (d.min, d.max) match {
          case (Some(lo), Some(hi)) => Some((lo, hi)); case _ => None
        }),
      now)
    Aggregated(applyVarMetadata(out, config), sortCol, attrs, dst)
  }

  /** Continuous variant of [[run]]: watch a granule directory and maintain
    * the aggregated output incrementally (the reference re-runs the whole
    * batch per delivery; a 100 TB feed wants incremental ingestion).
    * Structured Streaming file source -> variable selection -> validity +
    * bounds filters -> streaming cadence dedup (state bounded by the
    * watermark) -> append-mode chunked parquet.
    *
    * Gap/edge fill needs future context and is deliberately left to a
    * periodic batch [[run]] over the closed time range (the standard
    * lambda split: the stream keeps the output current, the batch pass
    * finalizes regularization).
    */
  def runStream(
      spark: SparkSession,
      srcGlob: String,
      dst: String,
      config: AggConfig.Config,
      checkpointDir: String,
      watermark: String = "10 minutes",
      /** product format: "parquet" (default — the analytics-side feed)
        * or "nc"/"netcdf" (one `.nc` granule per micro-batch through
        * [[graft.sources.NetCdfStreamSink]] — the pipeline emits the
        * reference's own product format without leaving streaming, and
        * the product dir is itself a valid granule feed for
        * re-ingestion: lexically-increasing `stream-*` names) */
      product: String = "parquet")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val dim = config.primaryUdim.getOrElse(
      throw new IllegalArgumentException("runStream needs an indexed udim"))
    val ivar = dim.indexBy.getOrElse(
      throw new IllegalArgumentException("runStream needs index_by"))
    // schema from the granules present at start; later granules must match
    val schema = spark.read.option("mergeSchema", "true")
      .parquet(srcGlob).schema
    val raw = spark.readStream.schema(schema).parquet(srcGlob)
    val data = selectVariables(raw, config)
    val cfg = udimConfigFor(dim, idCol = ivar)
    val valid = graft.core.TimeSeriesAggregator
      .clipBounds(graft.core.TimeSeriesAggregator.filterValid(data, cfg), cfg)
      .drop(graft.core.TimeSeriesAggregator.T)
    val deduped =
      if (dim.cadenceHz.exists(_ > 0))
        graft.streaming.StreamingAgg
          .cadenceDedup(valid, cfg.minStepUs, watermark, tsCol = ivar)
      else valid
    // batch run writes the index column as TIMESTAMP_NTZ
    // (TimeSeriesAggregator regularize); cadenceDedup casts it to LTZ for
    // the watermark. Normalize both paths so streamed granules and the
    // batch-finalization pass share one timestamp type in the output.
    val sunk = deduped.schema(ivar).dataType match {
      case org.apache.spark.sql.types.TimestampType =>
        deduped.withColumn(ivar, col(ivar).cast(TimestampNTZType))
      case _ => deduped
    }
    val writer = applyVarMetadata(sunk, config).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
    product.toLowerCase match {
      case "parquet" =>
        writer.format("parquet").option("path", dst).start()
      case "nc" | "netcdf" =>
        writer.format("netcdf")
          .option("recdim", dim.name).option("indexby", ivar)
          .start(dst)
      case other => throw new IllegalArgumentException(
        s"runStream product must be parquet or nc, got: $other")
    }
  }

  /** Attributes from a granule directory's `_global_attrs.json` sidecar
    * (written by [[run]]); empty for plain granules. */
  private def readSidecarAttrs(path: String): Map[String, String] = {
    val f = java.nio.file.Paths.get(path, "_global_attrs.json")
    if (!java.nio.file.Files.isRegularFile(f)) Map.empty
    else {
      import org.json4s._
      org.json4s.jackson.JsonMethods.parse(
        java.nio.file.Files.readString(f)) match {
        case JObject(fields) =>
          fields.collect { case (k, JString(v)) => k -> v }.toMap
        case _ => Map.empty
      }
    }
  }

  private def escape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
