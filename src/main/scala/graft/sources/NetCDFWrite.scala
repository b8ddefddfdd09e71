package graft.sources

import java.time.ZoneOffset

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.core.AggConfig
import Hdf5Writer._

/** NetCDF-4 (classic model) *output* over [[Hdf5Writer]] — the write side
  * of [[NetCDF4]]: the aggregated frame goes back out as a `.nc` file the
  * reference's own tooling can read (the reference's product IS this
  * file: /root/reference/ncagg/aggregator.py:239-359
  * `initialize_aggregation_file` + `evaluate_aggregation_list`).
  *
  * Encoding conventions are the public netcdf-c ones [[NetCDF4]] reads:
  * every dimension is a dataset with `CLASS = "DIMENSION_SCALE"` and a
  * `_Netcdf4Dimid` (creation-order) attribute; a dimension with no
  * variable gets the "This is a netCDF dimension but not a netCDF
  * variable" NAME marker; each data variable carries a `DIMENSION_LIST`
  * of object references. TIMESTAMP columns become doubles in the
  * variable's CF `units` ("<unit> since <instant>", kept from the config,
  * defaulting to seconds since the epoch); SQL nulls become NaN (floats)
  * or the `_FillValue` (ints, written as a typed attribute so a re-ingest
  * restores the nulls).
  *
  * One assembler writes every `.nc` file. [[planFile]] decides what is
  * fixed per file (record dimension, dimension sizes, attributes, each
  * variable's encoding, the chunk extent) from a small per-variable
  * [[VarStats]]; [[assemble]] then makes ONE pass over the rows in record
  * order. The stats have one definition, [[statsOf]]: [[writeFile]] runs
  * it over its row buffer, [[write]] per partition inside its count job.
  *
  * Scale shape: one `.nc` file is inherently a single-writer artifact
  * (the reference is a single process for the same reason), so
  * [[write]] streams the FINISHED aggregate — already reduced by the
  * distributed pipeline — through the driver in one path: sorted range
  * partitions of at most about `maxRows` rows, fetched one at a time
  * straight into the assembler (one chunk per variable in memory,
  * unbounded output size — the reference's own node-by-node streaming,
  * aggregator.py:239-359). For PARALLEL large outputs, [[writeGranules]]
  * writes a partitioned `.nc` granule SET instead: each range partition
  * writes its own file executor-side, fully parallel, and the set
  * re-ingests through [[NetCDFIngest]] (the same granule model the
  * inputs use).
  */
object NetCDFWrite {

  /** Storage options for record (unlimited-dim) variables: records per
    * HDF5 chunk (the reference's `-c udim:chunksize`), zlib deflate
    * level, and fletcher32 chunk checksums. The chunk extent is
    * `chunkRows`, else the variable's configured `chunksizes`, else
    * [[DefaultStreamChunkRows]] — never more than the row count, and
    * bounded so the chunks of all record variables together stay under
    * ~256 MiB. */
  final case class NcOpts(
      chunkRows: Option[Int] = None,
      deflate: Option[Int] = None,
      fletcher32: Boolean = false,
      /** byte-shuffle before deflate (netcdf-c's usual pairing) */
      shuffle: Boolean = false,
      /** per-granule column-stats sidecar (`<granule>.nc.stats.json`,
        * scalar numeric/time min-max) — the pruning metadata HDF5
        * headers cannot carry; [[graft.sources.NetCdfSource]] consumes
        * it to prune range predicates on ANY column, parquet-row-group
        * style. Off = no sidecar = the scan conservatively keeps the
        * granule. */
      stats: Boolean = true)

  /** netcdf-c default fill values (public netcdf.h: NC_FILL_INT,
    * NC_FILL_INT64). */
  val FillInt = -2147483647L
  val FillInt64 = -9223372036854775806L

  private val EpochUnits = "seconds since 1970-01-01 00:00:00"

  // ----------------------------------------------------- column encoding

  private def usOf(v: Any): Long = v match {
    case ldt: java.time.LocalDateTime =>
      ldt.toEpochSecond(ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
    case ins: java.time.Instant =>
      ins.getEpochSecond * 1000000L + ins.getNano / 1000L
    case ts: java.sql.Timestamp =>
      ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000L
    case other =>
      throw new IllegalArgumentException(s"not a timestamp: $other")
  }

  /** An encoding PLAN for one variable: the on-disk type and attrs are
    * decided once (from whole-dataset stats), then `put(vals, n)`
    * converts the first `n` values of a batch to bytes — one cell per
    * slot of `vals`, the slots past `n` left zero (a chunk's padded
    * tail). */
  private final case class Enc(
      dtype: WType, extraAttrs: Seq[(String, WAttrVal)],
      put: (Array[Any], Int) => Array[Byte])

  /** `put` for `size`-byte cells written by `cell`. */
  private def cells(size: Int)(cell: (java.nio.ByteBuffer, Any) => Unit)
      : (Array[Any], Int) => Array[Byte] = { (vals, n) =>
    val b = java.nio.ByteBuffer.allocate(vals.length * size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) { cell(b, vals(i)); i += 1 }
    b.array()
  }

  /** Plan the encoding of one variable. `strWidth` is the cell width for
    * StringType (max UTF-8 bytes + 1 over the WHOLE dataset); `intFits`
    * says every integral value fits 32 bits (whole dataset). */
  private def planEnc(elemType: DataType, v: AggConfig.VarSpec,
      strWidth: Int, intFits: Boolean): Enc = {
    val cfgFillNum = v.attributes.get("_FillValue")
      .flatMap(s => scala.util.Try(s.trim.toDouble).toOption)
    elemType match {
      case TimestampNTZType | TimestampType =>
        val (base, per) = v.attributes.get("units")
          .flatMap(NetCDF4.timeUnits)
          .getOrElse(NetCDF4.timeUnits(EpochUnits).get)
        val unitsAttr =
          if (v.attributes.get("units").flatMap(NetCDF4.timeUnits).isDefined)
            Nil
          else Seq("units" -> WStrAttr(EpochUnits))
        Enc(WF64, unitsAttr, cells(8) { (b, x) =>
          b.putDouble(if (x == null) Double.NaN else (usOf(x) - base) / per)
        })
      case DoubleType =>
        Enc(WF64, cfgFillNum.map(f => "_FillValue" -> WDoubleAttr(f)).toSeq,
          cells(8) { (b, x) =>
            b.putDouble(if (x == null) Double.NaN
              else x.asInstanceOf[Number].doubleValue())
          })
      case FloatType =>
        Enc(WF32,
          cfgFillNum.map(f => "_FillValue" -> WFloatAttr(f.toFloat)).toSeq,
          cells(4) { (b, x) =>
            b.putFloat(if (x == null) Float.NaN
              else x.asInstanceOf[Number].floatValue())
          })
      case LongType | IntegerType | ShortType | ByteType =>
        val narrow = v.datatype.toLowerCase match {
          case "bigint" | "long" | "int64" => false
          case dt => dt.contains("int") || dt.contains("short") ||
            dt.contains("byte")
        }
        val size = if (narrow && intFits) 4 else 8
        val fill = cfgFillNum.map(_.toLong)
          .getOrElse(if (size == 4) FillInt else FillInt64)
        Enc(WInt(size), Seq("_FillValue" -> WLongAttr(fill, size)),
          cells(size) { (b, x) =>
            val l = if (x == null) fill else x.asInstanceOf[Number].longValue()
            if (size == 4) b.putInt(l.toInt) else b.putLong(l)
          })
      case StringType =>
        val width = math.max(strWidth, 1)
        Enc(WStr(width), Nil, cells(width) { (b, x) =>
          val at = b.position()
          val raw = (if (x == null) "" else x.toString).getBytes("UTF-8")
          b.put(raw, 0, math.min(raw.length, width - 1))
          b.position(at + width)
        })
      case BooleanType =>
        Enc(WInt(1, signed = false), Nil,
          cells(1)((b, x) => b.put(if (x == true) 1.toByte else 0.toByte)))
      case other =>
        throw new IllegalArgumentException(
          s"cannot write column type ${other.simpleString} to NetCDF")
    }
  }

  // --------------------------------------------------------- file plan

  /** Whole-frame facts one variable's plan needs: its longest string
    * (UTF-8 bytes), its integer range, and its longest inner array.
    * The defaults are the facts of no rows (an empty integer range,
    * lo > hi, which fits 32 bits); `++` merges the facts of two disjoint
    * row sets, so any split of the rows, in any order, gives the same
    * result. */
  private final case class VarStats(strBytes: Long = 0L,
      lo: Long = Long.MaxValue, hi: Long = Long.MinValue, arrLen: Long = 0L) {
    def ++(o: VarStats): VarStats = VarStats(strBytes max o.strBytes,
      lo min o.lo, hi max o.hi, arrLen max o.arrLen)
  }

  /** The row count and per-column [[VarStats]] of a set of rows; `++`
    * merges two disjoint sets (the same columns on both sides). */
  private final case class FrameStats(rows: Long,
      vars: Map[String, VarStats]) {
    def ++(o: FrameStats): FrameStats = FrameStats(rows + o.rows,
      vars.map { case (c, s) => c -> (s ++ o.vars(c)) })
  }

  /** One output variable as [[assemble]] writes it: its dataset (no data
    * yet), the row field it reads, its encoding, and how many rows its
    * buffer holds — one chunk for a chunked record variable, every row
    * for a contiguous one, one row for a constant. */
  private final case class VarPlan(ds: WDataset, field: Int, isArr: Boolean,
      innerN: Int, enc: Enc, rec: Boolean, bufRows: Int)

  /** Everything decided once per file: the phony dimension scales, every
    * output variable in dataset order (coordinates first, so
    * `DIMENSION_LIST` references resolve), and the scalar numeric/time
    * columns the stats sidecar covers (name, field, is-timestamp). */
  private final case class FilePlan(recDim: String, phony: Seq[WDataset],
      vars: Seq[VarPlan], statCols: Seq[(String, Int, Boolean)])

  private def outNameOf(v: AggConfig.VarSpec): String =
    v.mapTo.getOrElse(v.name)

  private def elemOf(t: DataType): (DataType, Boolean) = t match {
    case ArrayType(e, _) => (e, true)
    case e => (e, false)
  }

  private def isIntegral(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** The config's variables a frame of `schema` writes. Only these go to
    * the file (pipeline bookkeeping columns like `is_fill` stay out of
    * the product, matching the reference output's shape). */
  private def outVarsOf(config: AggConfig.Config, schema: StructType)
      : Seq[AggConfig.VarSpec] =
    config.vars.filter(v => schema.fieldNames.contains(outNameOf(v)))

  /** The output columns whose [[VarStats]] the plan reads: strings
    * (cell width), integers (32- or 64-bit) and arrays (inner extent). */
  private def statColsOf(config: AggConfig.Config, schema: StructType)
      : Seq[String] =
    outVarsOf(config, schema).map(outNameOf).filter { c =>
      val (elemT, isArr) = elemOf(schema(c).dataType)
      isArr || elemT == StringType || isIntegral(elemT)
    }

  /** [[FrameStats]] of the columns `cols` over `rows` of `schema`, in one
    * pass. Row order does not matter and partial results merge, so
    * [[write]] runs it per partition inside its count job and
    * [[writeFile]] over its buffer, with the same result. */
  private def statsOf(schema: StructType, rows: Iterator[Row],
      cols: Seq[String]): FrameStats = {
    val idx = cols.map(schema.fieldIndex).toArray
    val elems = cols.map(c => elemOf(schema(c).dataType)).toArray
    val isStr = elems.map(_._1 == StringType)
    val isInt = elems.map(e => isIntegral(e._1))
    val isArr = elems.map(_._2)
    val w, len = new Array[Long](cols.length)
    val lo = Array.fill(cols.length)(Long.MaxValue)
    val hi = Array.fill(cols.length)(Long.MinValue)
    def elem(k: Int, x: Any): Unit = if (x != null) {
      if (isStr(k)) w(k) = math.max(w(k), x.toString.getBytes("UTF-8").length)
      else if (isInt(k)) {
        val l = x.asInstanceOf[Number].longValue()
        if (l < lo(k)) lo(k) = l
        if (l > hi(k)) hi(k) = l
      }
    }
    var n = 0L
    rows.foreach { r =>
      n += 1
      var k = 0
      while (k < idx.length) {
        r.get(idx(k)) match {
          case s: scala.collection.Seq[_] if isArr(k) =>
            len(k) = math.max(len(k), s.length.toLong)
            if (isStr(k) || isInt(k)) s.foreach(elem(k, _))
          case x if !isArr(k) => elem(k, x)
          case _ => // null array
        }
        k += 1
      }
    }
    FrameStats(n, cols.indices.map(k =>
      cols(k) -> VarStats(w(k), lo(k), hi(k), len(k))).toMap)
  }

  /** Plan one file of `schema` from the [[FrameStats]] of its rows. */
  private def planFile(schema: StructType, config: AggConfig.Config,
      stats: FrameStats, opts: NcOpts): FilePlan = {
    val total = stats.rows
    val recDim = config.primaryUdim
      .orElse(config.dims.find(_.isUnlimited))
      .map(_.name)
      .getOrElse(config.dims.headOption.map(_.name).getOrElse("record"))
    val unlimited = config.dim(recDim).exists(_.isUnlimited)
    val outVars = outVarsOf(config, schema)
    def statOf(v: AggConfig.VarSpec) =
      stats.vars.getOrElse(outNameOf(v), VarStats())

    // resolved dimension sizes: record dim = row count; fixed dims from
    // the config, falling back to the MAX observed array length of every
    // variable on the dim — covering [recDim, dn] record vars and 1-D
    // non-record vars, and sizing a ragged column (a second unlimited dim
    // is packed-left arrays of varying length, see Hdf5Reader's
    // multi-unlim model) to its longest row so shorter rows pad with
    // fill instead of longer rows being truncated. A dim whose arrays are
    // all EMPTY is 1 wide (innerN is floored at 1; a 0-length inner dim
    // would break the shape == data invariant)
    def observedInner(dn: String): Option[Long] =
      outVars.filter(v => dn != recDim &&
          (v.dimensions == Seq(recDim, dn) || v.dimensions == Seq(dn)))
        .map(statOf(_).arrLen).filter(_ > 0).maxOption
    val dimSize: Map[String, Long] = config.dims.map { d =>
      d.name -> (
        if (d.name == recDim) total
        else d.size.filter(_ > 0)
          .orElse(observedInner(d.name))
          .getOrElse(1L))
    }.toMap

    val dimIds = config.dims.map(_.name).zipWithIndex.toMap
    val coordVars = outVars.map(outNameOf).filter(dimIds.contains).toSet

    def scaleAttrs(dimName: String, phonySize: Option[Long])
        : Seq[(String, WAttrVal)] = Seq(
      "CLASS" -> WStrAttr("DIMENSION_SCALE"),
      "NAME" -> WStrAttr(phonySize match {
        case Some(sz) =>
          "This is a netCDF dimension but not a netCDF variable." +
            f"$sz%10d"
        case None => dimName
      }),
      "_Netcdf4Dimid" -> WLongAttr(dimIds(dimName).toLong, 4))

    def userAttrs(v: AggConfig.VarSpec): Seq[(String, WAttrVal)] =
      v.attributes.toSeq.sortBy(_._1).collect {
        case (k, s) if k != "_FillValue" => k -> WStrAttr(s)
      }

    def isRec(v: AggConfig.VarSpec) = v.dimensions.headOption.contains(recDim)
    val (coords, data) = outVars.partition(v => coordVars(outNameOf(v)))
    // the per-chunk memory budget (~256 MiB of logical bytes) is SHARED
    // across the record variables' simultaneously-open streams, so
    // buffered data stays bounded whatever the variable count
    val nRec = math.max(1, outVars.count(isRec))
    val vars = (coords ++ data).map { v =>
      val name = outNameOf(v)
      val (elemT, isArr) = elemOf(schema(name).dataType)
      val isCoord = coordVars(name)
      val rec = isRec(v)
      val inner = (if (rec) v.dimensions.drop(1) else v.dimensions)
        .map(dimSize.getOrElse(_, 1L))
      require(inner.product <= Int.MaxValue,
        s"$name: inner extent ${inner.product} exceeds the per-record " +
          "element bound — a silent Int wrap here would write garbage-" +
          "width rows against a wider declared shape")
      val innerN = inner.product.toInt max 1
      val st = statOf(v)
      val enc = planEnc(elemT, v, st.strBytes.toInt + 1,
        intFits = st.lo >= Int.MinValue && st.hi <= Int.MaxValue)
      val attrs = (if (isCoord) scaleAttrs(name, None) else Nil) ++
        userAttrs(v) ++ enc.extraAttrs ++
        (if (v.dimensions.nonEmpty && !isCoord)
          Seq("DIMENSION_LIST" -> WDimListAttr(
            v.dimensions.filter(dimIds.contains)))
        else Nil)
      val ds = WDataset(name, if (rec) total +: inner else inner, enc.dtype,
        None, attrs)
      val field = schema.fieldIndex(name)
      if (!rec) VarPlan(ds, field, isArr, innerN, enc, rec, bufRows = 1)
      else if (!unlimited) { // contiguous: only rows held in memory
        require(total * innerN <= Int.MaxValue,
          s"$name: $total records x $innerN cells do not fit one " +
            s"contiguous buffer; make $recDim unlimited")
        VarPlan(ds, field, isArr, innerN, enc, rec, bufRows = total.toInt)
      } else {
        val rowBytes = innerN.toLong * enc.dtype.size
        require(rowBytes <= Int.MaxValue,
          s"$name: one record is $rowBytes B ($innerN elems x " +
            s"${enc.dtype.size} B cells) — exceeds the per-chunk " +
            "addressable bound; narrow the cell width or split the variable")
        val want = opts.chunkRows
          .orElse(v.chunksizes.flatMap(_.headOption).filter(_ > 0))
          .getOrElse(DefaultStreamChunkRows).toLong
        val cr = math.max(1L, math.min(math.min(want, total max 1L),
          ((1L << 28) / nRec) / rowBytes))
        require(cr * rowBytes <= Int.MaxValue,
          s"$name: chunk of $cr rows x $rowBytes B/row does not fit one " +
            "byte array; lower chunkRows")
        VarPlan(ds.copy(unlimited0 = true, fletcher32 = opts.fletcher32,
          chunkRows = Some(cr.toInt), deflate = opts.deflate,
          shuffle = opts.shuffle), field, isArr, innerN, enc, rec,
          bufRows = cr.toInt)
      }
    }

    // phony dims (no variable of the same name) are bare scales
    val phony = config.dims.filterNot(d => coordVars(d.name)).map { d =>
      WDataset(d.name, Seq(dimSize(d.name)), WF32, None,
        scaleAttrs(d.name, Some(dimSize(d.name))),
        unlimited0 = d.name == recDim && d.isUnlimited)
    }
    val statCols = outVars.map(outNameOf).flatMap { c =>
      schema(c).dataType match {
        case TimestampNTZType | TimestampType =>
          Some((c, schema.fieldIndex(c), true))
        case _: NumericType => Some((c, schema.fieldIndex(c), false))
        case _ => None // non-scalar / non-orderable: no stats entry
      }
    }
    FilePlan(recDim, phony, vars, statCols)
  }

  // ---------------------------------------------------------- assembler

  /** The one `.nc` assembler: ONE pass over `rows` (record order) writes
    * the planned file. Record variables append interleaved chunk streams
    * ([[Hdf5Writer.StreamWriter.openChunked]]), so memory is one chunk
    * per variable whatever the row count; constant (non-record)
    * variables take their first non-null value in row order, like the
    * reference copying static vars from the first granule; the stats
    * sidecar's min/max accumulate in the same pass (the reference
    * likewise streams all variables in one node-by-node traversal,
    * aggregator.py:239-359). */
  private def assemble(dst: java.nio.file.Path, plan: FilePlan,
      rows: Iterator[Row], globalAttrs: Map[String, String],
      opts: NcOpts): Unit = {
    final class Col(val p: VarPlan, w: StreamWriter) {
      val buf = new Array[Any](p.bufRows * p.innerN)
      var n = 0 // rows in buf
      val stream: ChunkStream =
        if (p.ds.unlimited0) w.openChunked(p.ds) else null
      def add(x: Any): Unit = {
        val at = n * p.innerN
        if (!p.isArr) buf(at) = x
        else x match { // pad with nulls / truncate to the inner extent
          case s: scala.collection.Seq[_] =>
            val it = s.iterator
            var j = 0
            while (j < p.innerN) {
              buf(at + j) = if (it.hasNext) it.next() else null
              j += 1
            }
          case _ => java.util.Arrays.fill(buf, at, at + p.innerN, null)
        }
        n += 1
      }
      def bytes: Array[Byte] = p.enc.put(buf, n * p.innerN)
      def flush(): Unit = { w.appendChunk(stream, bytes); n = 0 }
    }

    val stats = plan.statCols.filter(_ => opts.stats).toArray
    val mn = Array.fill(stats.length)(Double.PositiveInfinity)
    val mx = Array.fill(stats.length)(Double.NegativeInfinity)
    Hdf5Writer.streamTo(dst) { w =>
      // dimension-scale datasets first so DIMENSION_LIST references resolve
      plan.phony.foreach(w.dataset)
      val (rec, consts) =
        plan.vars.map(new Col(_, w)).toArray.partition(_.p.rec)
      while (rows.hasNext) {
        val row = rows.next()
        var k = 0
        while (k < rec.length) {
          val c = rec(k)
          c.add(row.get(c.p.field))
          if (c.stream != null && c.n == c.p.bufRows) c.flush()
          k += 1
        }
        k = 0
        while (k < consts.length) {
          val c = consts(k)
          if (c.n == 0 && !row.isNullAt(c.p.field)) c.add(row.get(c.p.field))
          k += 1
        }
        k = 0
        while (k < stats.length) {
          val i = stats(k)._2
          if (!row.isNullAt(i)) {
            val d =
              if (stats(k)._3) usOf(row.get(i)).toDouble
              else row.get(i).asInstanceOf[Number].doubleValue()
            if (d < mn(k)) mn(k) = d // NaN compares false: skipped
            if (d > mx(k)) mx(k) = d
          }
          k += 1
        }
      }
      // constants register BEFORE the record streams close, so a
      // constant coordinate's dataset precedes any DIMENSION_LIST that
      // references it
      consts.foreach { c =>
        if (c.n == 0) c.add(null)
        w.dataset(c.p.ds.copy(data = Some(c.bytes)))
      }
      rec.foreach { c =>
        if (c.stream == null) w.dataset(c.p.ds.copy(data = Some(c.bytes)))
        else {
          if (c.n > 0) c.flush()
          w.closeChunked(c.stream)
        }
      }
      w.finish(globalAttrs.toSeq.sortBy(_._1).map { case (k, s) =>
        k -> WStrAttr(s)
      })
    }
    if (opts.stats)
      writeStatsSidecar(dst, stats.indices.filter(k => mn(k) <= mx(k))
        .map(k => (stats(k)._1, mn(k), mx(k))))
  }

  /** Per-granule column-stats sidecar: `<granule>.nc.stats.json` holding
    * `{"col": [min, max], ...}` for every SCALAR numeric/timestamp
    * output variable (timestamps in epoch micros — the unit the scan's
    * literal bounds already use). This is the pruning metadata parquet
    * carries in row-group footers and HDF5 headers cannot: with it, a
    * range predicate on ANY stats-covered column prunes non-matching
    * granules without opening them ([[graft.sources.NetCdfSource]]);
    * without it (foreign granules, `stats = false`) the scan keeps the
    * granule — the sidecar only ever NARROWS I/O. Nulls and NaNs are
    * skipped, an all-null column is omitted. */
  private def writeStatsSidecar(dst: java.nio.file.Path,
      entries: Seq[(String, Double, Double)]): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val json = entries.sortBy(_._1).map { case (c, mn, mx) =>
      s""""${esc(c)}": [$mn, $mx]"""
    }.mkString("{", ", ", "}")
    java.nio.file.Files.writeString(
      dst.resolveSibling(dst.getFileName.toString + ".stats.json"), json)
  }

  // ------------------------------------------------------------- fronts

  /** Build one `.nc` file from rows in record order: the plan's stats
    * come from one pass over the buffer, then [[assemble]] writes it. */
  def writeFile(dst: java.nio.file.Path, schema: StructType,
      rows: collection.IndexedSeq[Row], config: AggConfig.Config,
      globalAttrs: Map[String, String], opts: NcOpts = NcOpts()): Unit =
    assemble(dst, planFile(schema, config,
      statsOf(schema, rows.iterator, statColsOf(config, schema)), opts),
      rows.iterator, globalAttrs, opts)

  /** The sort/order column of an aggregated frame (scalar `index_time`
    * stands in for a multidim index variable, matching Aggregate.run). */
  private def sortColOf(config: AggConfig.Config, columns: Set[String])
      : Option[String] =
    config.primaryUdim.flatMap(_.indexBy).map { ivar =>
      if (columns.contains("index_time")) "index_time" else ivar
    }.filter(columns.contains)

  /** The one persist/count/arrange step of [[write]] and [[writeGranules]].
    *
    * `df` is persisted unless the caller already cached it, and only a
    * cache made here is released afterwards. ONE job then returns the
    * row count with the [[VarStats]] of `statCols`, folded per partition
    * over those columns only (filling the cache on first use; adaptive
    * execution runs the frame's own shuffles, and the fill of a fresh
    * cache, as jobs of their own). `body` gets the rows sorted by the
    * index column into `ceil(total / perPart)` range partitions (a single
    * partition is `coalesce(1).sortWithinPartitions`, with no sampling
    * job), or, with no index column, coalesced to that many. `perPart`
    * must be >= 1. */
  private def arranged[A](df: DataFrame, config: AggConfig.Config,
      statCols: Seq[String], perPart: Long)(
      body: (DataFrame, FrameStats) => A): A = {
    val mine = df.storageLevel == StorageLevel.NONE
    val cached = if (mine) df.persist(StorageLevel.MEMORY_AND_DISK) else df
    try {
      val sub = cached.select(statCols.map(c => col(s"`$c`")): _*)
      val schema = sub.schema
      val stats = sub.rdd
        .mapPartitions(it => Iterator(statsOf(schema, it, statCols)))
        .fold(FrameStats(0L, statCols.map(_ -> VarStats()).toMap))(_ ++ _)
      val parts = math.max(1, math.ceil(stats.rows.toDouble / perPart).toInt)
      val rows = sortColOf(config, df.columns.toSet) match {
        case Some(c) if parts > 1 =>
          cached.repartitionByRange(parts, col(c)).sortWithinPartitions(col(c))
        case Some(c) => cached.coalesce(1).sortWithinPartitions(col(c))
        case None => cached.coalesce(parts)
      }
      body(rows, stats)
    } finally if (mine) cached.unpersist()
  }

  /** Rows [[write]] fetches to the driver at once by default. */
  val DefaultSingleFileMaxRows: Long = 16L << 20

  /** Write an aggregated frame (as built by [[graft.Aggregate.run]]) out
    * as ONE `.nc` file, in one path whatever its size.
    *
    * [[arranged]] persists the frame (unless the caller cached it) and
    * runs one job for its row count and the plan's [[VarStats]]; the
    * rows, sorted by the index column into `ceil(total / maxRows)` range
    * partitions, then stream to the driver one partition per job
    * (`toLocalIterator`) straight into [[assemble]], with no driver row
    * buffer. A frame of up to `maxRows` rows is sorted in one task and
    * fetched in one job. Driver memory is one fetched partition plus one
    * chunk per record variable, and the output size is unbounded (the
    * reference's single process likewise streams node-by-node into one
    * file, aggregator.py:239-359; [[writeGranules]] / CLI `.ncd` is the
    * PARALLEL path). Neither the plan's stats nor the sidecar's min/max
    * depend on row order, so for a frame with a unique index every
    * `maxRows` writes the same `.nc` and `.stats.json` bytes. A record
    * dimension that is not unlimited is stored contiguous, which needs
    * every row in one fetch: such a frame over `maxRows` rows is
    * rejected before the row pass. */
  def write(df: DataFrame, dst: String, config: AggConfig.Config,
      globalAttrs: Map[String, String],
      opts: NcOpts = NcOpts(),
      maxRows: Long = DefaultSingleFileMaxRows): Unit = {
    val fetch = math.max(maxRows, 1L)
    arranged(df, config, statColsOf(config, df.schema), fetch) {
      (rows, stats) =>
        val plan = planFile(rows.schema, config, stats, opts)
        plan.vars.find(p => p.rec && !p.ds.unlimited0).foreach { p =>
          require(stats.rows <= fetch, s"${p.ds.name}: ${stats.rows} " +
            s"records over $fetch rows per fetch need the record " +
            s"dimension ${plan.recDim} to be unlimited (chunked layout)")
        }
        assemble(java.nio.file.Paths.get(dst), plan,
          rows.toLocalIterator().asScala, globalAttrs, opts)
    }
  }

  /** Default record count per chunk (bounded further so the chunks of
    * all record variables stay under ~256 MiB together). */
  val DefaultStreamChunkRows: Int = 1 << 18

  /** Distributed `.nc` granule-SET output: range-partition on the index
    * column and write one `.nc` file per partition executor-side (the
    * scale path — a single `.nc` is single-writer by construction). The
    * output set re-ingests through [[NetCDFIngest.convert]]. Requires
    * `dstDir` to be a filesystem path visible to the executors. */
  def writeGranules(df: DataFrame, dstDir: String,
      config: AggConfig.Config, globalAttrs: Map[String, String],
      maxRecordsPerFile: Int = 1 << 20,
      opts: NcOpts = NcOpts(),
      /** granule file-name prefix — an APPENDING writer (the
        * `format("netcdf")` sink) passes a job-unique prefix so two
        * jobs' `part-00000.nc` never collide */
      namePrefix: String = "part"): Seq[String] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dstDir))
    // the sizing count and the write read the same cache, so the
    // upstream lineage runs once (spilling to local disk when the
    // aggregate exceeds executor memory)
    arranged(df, config, Nil, math.max(maxRecordsPerFile, 1).toLong) {
      (rows, _) =>
        val schema = rows.schema
        rows.foreachPartition { (it: Iterator[Row]) =>
          val part = it.toIndexedSeq
          if (part.nonEmpty) {
            val pid = org.apache.spark.TaskContext.getPartitionId()
            writeFile(
              java.nio.file.Paths.get(dstDir, f"$namePrefix%s-$pid%05d.nc"),
              schema, part, config, globalAttrs, opts)
          }
        }
    }
    // keep the fleet-level planning manifest fresh: unchanged granules
    // reuse their prior entries (size-stat only), new ones cost one
    // header parse each — so the per-batch refresh of a streaming feed
    // stays O(new granules), while readers plan the whole store without
    // opening any header (refreshFleetManifest skips compaction temp
    // dirs; the compactor refreshes the real store after its swap)
    refreshFleetManifest(dstDir, config.primaryUdim.map(_.name))
    Option(new java.io.File(dstDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".nc")).map(_.getPath).sorted.toSeq
  }

  // ------------------------------------------------- granule compaction

  /** Outcome of one [[compactGranules]] run. */
  final case class CompactReport(
      nBefore: Int, nAfter: Int,
      /** new merged granules moved into the store */
      compacted: Seq[String],
      /** original small granules removed */
      removed: Seq[String],
      /** untouched granules */
      kept: Seq[String])

  private val CompactTmpName = ".compact.tmp"
  private val ManifestName = "_compact_manifest.json"

  /** Small-granule compaction — the OPTIMIZE pass for a granule store.
    * A long-running feed (the streaming `.nc` sink's one-granule-per-
    * micro-batch cadence especially) accretes many under-filled
    * granules; each costs a header parse at planning time and a
    * too-small split at scan time, so at fleet scale the store slowly
    * drowns in file-open overhead — the classic small-files problem,
    * here for `.nc` instead of parquet.
    *
    * Granules holding fewer than `targetRecords / 2` records (the
    * half-full rule — also the CONVERGENCE guard: output granules of
    * a range-partitioned rewrite land near-even and must not re-qualify
    * on the next run) are read back through the V2 source (chunk-pruned,
    * record-range split) and rewritten via [[writeGranules]] — so when
    * the config declares a sort coordinate the merged granules come out
    * range-partitioned and sorted, with DISJOINT coordinate ranges:
    * compaction tightens sorted-range pruning rather than eroding it.
    * Full granules are never touched or re-written; per-granule column-
    * stats sidecars regenerate with the rewrite (`opts.stats`).
    *
    * Crash safety is a staged roll-forward swap (the same discipline as
    * `ml.Similarity.retrainIndex`): merged granules land in a hidden
    * temp subdir (invisible to the source's directory listing, which
    * takes plain files only); a manifest naming the originals is
    * written only after EVERY merged granule is complete; then files
    * move into the store (same-filesystem renames) and the originals
    * are deleted. A crash before the manifest discards the temp dir on
    * the next run (store unchanged); a crash after it ROLLS FORWARD —
    * the next [[compactGranules]] call finishes the moves and deletes
    * before doing anything else, and until that happens BATCH READS
    * stay consistent too: the scan's directory listing consults the
    * pending manifest and reads either the pre- or post-compaction
    * view, never a double-counting mix
    * ([[NetCdfSource.expandLenient]]). Single-maintainer contract is
    * ENFORCED: the run holds the store's `_LOCK`
    * ([[graft.util.StoreState.withLock]]) — a second concurrent
    * compaction (or manifest backfill) fails loudly, naming the holder
    * and the remedy, without touching the store. Do not run against a
    * directory a STREAMING reader is tailing (replaced granules would
    * double-count there — batch scans between runs are fine). */
  def compactGranules(spark: SparkSession, dir: String,
      config: AggConfig.Config,
      globalAttrs: Map[String, String] = null,
      targetRecords: Int = 1 << 20,
      opts: NcOpts = NcOpts()): CompactReport =
    graft.util.StoreState.withLock(spark, dir, "compactGranules") {
      doCompactGranules(spark, dir, config, globalAttrs, targetRecords,
        opts)
    }

  private def doCompactGranules(spark: SparkSession, dir: String,
      config: AggConfig.Config,
      globalAttrs: Map[String, String],
      targetRecords: Int,
      opts: NcOpts): CompactReport = {
    val dirPath = java.nio.file.Paths.get(dir)
    finishPendingCompaction(dirPath)
    val attrs = Option(globalAttrs).getOrElse(readSidecar(dir))
    val files = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.endsWith(".nc"))
      .map(_.getPath).sorted.toSeq
    val recDimName = config.primaryUdim.map(_.name)
    def recordsOf(p: String): Long = {
      val nc = NetCDF4.open(p)
      try {
        val rd = recDimName.getOrElse(NetCDFIngest.recordDimOf(nc))
        nc.dims.find(_.name == rd).map(_.size).getOrElse(0L)
      } finally nc.close()
    }
    val sized = files.map(p => p -> recordsOf(p))
    val small = sized.filter(_._2 < (targetRecords.toLong + 1) / 2)
      .map(_._1)
    if (small.size < 2) {
      // a crashed run may have just rolled forward above — keep the
      // fleet manifest in step with the store even on the no-op path
      refreshFleetManifest(dir, recDimName)
      return CompactReport(files.size, files.size, Nil, Nil, files)
    }
    val kept = files.filterNot(small.toSet)
    val tmp = dirPath.resolve(CompactTmpName)
    deleteTreeQuietly(tmp)
    java.nio.file.Files.createDirectories(tmp)
    var reader = spark.read.format("netcdf")
    recDimName.foreach(d => reader = reader.option("recdim", d))
    val df = reader.load(small: _*)
    // CONVERGENCE: size the rewrite from the records we just counted so
    // no output granule re-qualifies as small next run. A plain
    // ceil(total/target) part count leaves a remainder partition (and
    // range sampling can skew any partition) under target/2, which
    // would be rewritten again on EVERY subsequent call. Floor the part
    // count instead (merged granules land in [target, 2*target) on
    // average) and hand writeGranules the matching per-part target so
    // its own ceil reproduces exactly this count.
    val totalSmall = sized.filter(p => small.contains(p._1)).map(_._2).sum
    val parts = math.max(1L, totalSmall / math.max(targetRecords, 1))
    val effTarget = math.min(Int.MaxValue.toLong,
      (totalSmall + parts - 1L) / parts).toInt
    // name uniqueness across runs: wall-clock millis prefix (two runs
    // of the same store never collide; lexical order within one run
    // comes from writeGranules' zero-padded partition ids)
    val stamp = System.currentTimeMillis()
    writeGranules(df, tmp.toString, config, attrs,
      maxRecordsPerFile = effTarget, opts = opts,
      namePrefix = f"compact-$stamp%013d")
    val stagedNames = Option(tmp.toFile.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && (f.getName.endsWith(".nc") ||
        f.getName.endsWith(".nc.stats.json")))
      .map(_.getName).sorted.toSeq
    writeCompactManifest(tmp,
      small.map(p => java.nio.file.Paths.get(p).getFileName.toString),
      stagedNames)
    val moved = swapIn(tmp, dirPath,
      small.map(p => java.nio.file.Paths.get(p).getFileName.toString))
    refreshFleetManifest(dir, recDimName)
    CompactReport(files.size, kept.size + moved.size, moved, small, kept)
  }

  /** [[compactGranules]] with the config derived from the store itself
    * (scan schema → [[NetCdfSource.configFromSchema]], the SAME
    * derivation the `format("netcdf")` sink used to write it) — the
    * convenience form for sink-written stores, which never had a
    * user-authored config. */
  def compactGranules(spark: SparkSession, dir: String,
      recDim: String, indexBy: Option[String],
      targetRecords: Int, opts: NcOpts): CompactReport = {
    val schema = spark.read.format("netcdf").load(dir).schema
    compactGranules(spark, dir,
      NetCdfSource.configFromSchema(schema, recDim, indexBy),
      null, targetRecords, opts)
  }

  /** Roll forward (manifest present: finish moves + deletes) or roll
    * back (no manifest: the rewrite never completed — discard) a temp
    * dir left by a crashed [[compactGranules]] run. */
  private def finishPendingCompaction(dirPath: java.nio.file.Path): Unit = {
    val tmp = dirPath.resolve(CompactTmpName)
    if (!java.nio.file.Files.isDirectory(tmp)) return
    val manifest = tmp.resolve(ManifestName)
    if (java.nio.file.Files.isRegularFile(manifest))
      swapIn(tmp, dirPath, readCompactManifest(manifest).originals)
    else deleteTreeQuietly(tmp)
  }

  /** A pending (crashed-mid-swap) compaction's manifest, if one exists.
    * The READ path consults this to compute a consistent snapshot
    * without mutating the store (see [[NetCdfSource.expandLenient]]):
    * deletes only begin after every staged move completed, so either
    * ALL originals are still present (pre-compaction view — ignore any
    * already-moved replacements; requires `preViewSound`) or the
    * replacements are all in (post view — ignore the not-yet-deleted
    * originals). */
  private[sources] def pendingCompactionSnapshot(
      dirPath: java.nio.file.Path): Option[CompactSnapshot] = {
    val manifest = dirPath.resolve(CompactTmpName).resolve(ManifestName)
    if (!java.nio.file.Files.isRegularFile(manifest)) None
    else Some(readCompactManifest(manifest))
  }

  /** The swap: move every staged granule + sidecar into the store
    * (REPLACE_EXISTING makes a re-run after a mid-move crash
    * idempotent), delete the originals, drop the temp dir. Originals
    * arrive as bare FILE NAMES resolved against `dirPath` — the store
    * stays repairable after a move or remount (an absolute path
    * recorded before the move would silently no-op the delete and
    * leave the original double-counting next to its replacement).
    * Returns the in-store paths of the moved granules. */
  private def swapIn(tmp: java.nio.file.Path, dirPath: java.nio.file.Path,
      originalNames: Seq[String]): Seq[String] = {
    val staged = Option(tmp.toFile.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && (f.getName.endsWith(".nc") ||
        f.getName.endsWith(".nc.stats.json")))
      .map(_.toPath).sortBy(_.getFileName.toString)
    staged.foreach { p =>
      java.nio.file.Files.move(p, dirPath.resolve(p.getFileName),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    originalNames.foreach { n =>
      java.nio.file.Files.deleteIfExists(dirPath.resolve(n))
      java.nio.file.Files.deleteIfExists(dirPath.resolve(n + ".stats.json"))
    }
    deleteTreeQuietly(tmp)
    staged.map(_.getFileName.toString).filter(_.endsWith(".nc"))
      .map(n => dirPath.resolve(n).toString)
  }

  private def writeCompactManifest(tmp: java.nio.file.Path,
      originalNames: Seq[String], stagedNames: Seq[String]): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def arr(xs: Seq[String]) =
      if (xs.isEmpty) "[]"
      else xs.map(esc).mkString("[\"", "\", \"", "\"]")
    java.nio.file.Files.writeString(tmp.resolve(ManifestName),
      s"""{"originals": ${arr(originalNames)}, "staged": ${arr(stagedNames)}}""")
  }

  /** (original names, staged names). Reads both the current object form
    * and the legacy bare-array form (absolute original paths, no staged
    * list — reduced to names here so resolution is against the store
    * dir either way). */
  /** A pending compaction as the read path sees it. `preViewSound` =
    * the staged list is known COMPLETE, so a reader may construct the
    * pre-compaction view (originals minus already-moved replacements);
    * when false the only consistent choice is the post view — taken
    * regardless of which originals still linger. */
  private[sources] final case class CompactSnapshot(
      originals: Seq[String], staged: Seq[String], preViewSound: Boolean)

  private def readCompactManifest(manifest: java.nio.file.Path)
      : CompactSnapshot = {
    def names(v: org.json4s.JValue): Seq[String] = v match {
      case org.json4s.JArray(xs) =>
        xs.collect { case org.json4s.JString(s) =>
          java.nio.file.Paths.get(s).getFileName.toString }
      case _ => Nil
    }
    def ncNames(d: java.nio.file.Path): Seq[String] =
      Option(d.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && f.getName.endsWith(".nc"))
        .map(_.getName).toSeq
    org.json4s.jackson.JsonMethods.parse(
      java.nio.file.Files.readString(manifest)) match {
      case o @ org.json4s.JObject(_) =>
        val stagedListed = (o \ "staged").isInstanceOf[org.json4s.JArray]
        CompactSnapshot(names(o \ "originals"), names(o \ "staged"),
          preViewSound = stagedListed)
      case arr @ org.json4s.JArray(_) =>
        // legacy bare-array manifest (pre-"staged" upgrade): recover
        // the staged set so a crash that predates the upgrade still
        // reads consistently. Staged granules all share one
        // compact-<stamp>- name prefix (13-digit ms stamp, the scheme
        // [[compactGranules]] has always used); any still sitting in
        // the tmp dir names the stamp, so the already-moved ones are
        // the in-store files with that prefix. The prefix is matched
        // with an explicit anchor — a tmp .nc that does NOT follow the
        // scheme (foreign file, future naming change) would make the
        // derived prefix miss already-moved replacements, so ANY
        // non-matching tmp file demotes to preViewSound = false rather
        // than double-count. An EMPTY tmp means every staged move
        // completed (swapIn drains tmp one move at a time), the staged
        // set is no longer enumerable, and only the post view is sound.
        val origs = names(arr)
        val tmpDir = manifest.getParent
        val inTmp = ncNames(tmpDir)
        val stagedRe = "^(compact-\\d{13}-)".r
        val prefixes = inTmp.map(n =>
          stagedRe.findPrefixMatchOf(n).map(_.group(1)))
        prefixes.flatten.distinct match {
          case Seq(prefix) if prefixes.forall(_.isDefined) =>
            val moved = Option(tmpDir.getParent).map(ncNames)
              .getOrElse(Nil).filter(_.startsWith(prefix))
            CompactSnapshot(origs, (inTmp ++ moved).distinct,
              preViewSound = true)
          case _ =>
            CompactSnapshot(origs, Nil, preViewSound = false)
        }
      case _ => CompactSnapshot(Nil, Nil, preViewSound = false)
    }
  }

  // ------------------------------------------------- fleet manifest

  /** One granule's entry in the fleet-level planning manifest: everything
    * the driver's plan-time paths otherwise open the granule header for
    * — record count, per-record-variable projected bytes + chunk extent
    * (→ [[NetCdfSource.FileMeta]]), the granule's Spark schema (→ table
    * schema inference), and the column-stats sidecar digest (→ generic
    * filter pruning). `bytes` + `mtimeMs` + `headerCrc` are the
    * validation key: a reader uses the entry only when the file's
    * CURRENT size, mtime, AND content witness (CRC32 over the first and
    * last 4 KiB — two page reads, not a data scan) all match, so a
    * stale or foreign manifest — including an in-place same-size
    * rewrite, which fixed-width NetCDF makes easy, even one landing
    * inside a single coarse-granularity mtime tick (1–2 s on some
    * ext4/FAT configs), since new trailing record values change the
    * tail bytes — can never corrupt planning; at worst a granule falls
    * back to its header parse. Residual risk: a same-size, same-tick
    * rewrite that changes ONLY bytes outside both 4 KiB windows still
    * validates — accepted, because closing it costs a full data
    * checksum per validation. Legacy manifests without mtime parse as
    * `mtimeMs = -1`, which never validates; without hcrc they parse as
    * `headerCrc = -1`, which skips the witness (size+mtime only) until
    * any writer refresh re-stamps them. */
  final case class FleetEntry(
      bytes: Long,
      mtimeMs: Long,
      records: Long,
      schemaJson: String,
      recVars: Map[String, (Long, Int)],
      stats: Option[Map[String, (Double, Double)]],
      headerCrc: Long = -1L)

  /** The entry validation key's content witness: CRC32 over the
    * granule's first and last 4 KiB (head = header + leading fixed
    * data, tail = the newest records a same-size in-place rewrite
    * rewrites). Two page-cache reads per granule — orders cheaper than
    * the header parse the manifest exists to avoid. */
  def contentWitness(path: String): Long = {
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      val len = raf.length()
      val crc = new java.util.zip.CRC32
      val head = new Array[Byte](math.min(4096L, len).toInt)
      raf.readFully(head)
      crc.update(head)
      if (len > 4096L) {
        val tail = new Array[Byte](math.min(4096L, len - 4096L).toInt)
        raf.seek(len - tail.length)
        raf.readFully(tail)
        crc.update(tail)
      }
      crc.getValue
    } finally raf.close()
  }

  /** The ONE manifest-entry validation rule, shared by every consumer
    * (plan-time [[NetCdfSource]] table, [[refreshFleetManifest]] reuse,
    * [[buildFleetManifest]] reuse): size AND mtime AND — when the entry
    * carries one — the content witness must all match the file's
    * current state. Any I/O trouble invalidates (header-parse
    * fallback), never throws. */
  def entryValid(f: java.io.File, e: FleetEntry): Boolean =
    scala.util.Try(
      e.bytes == f.length() && e.mtimeMs >= 0L &&
        f.lastModified() == e.mtimeMs &&
        (e.headerCrc < 0L || contentWitness(f.getPath) == e.headerCrc)
    ).getOrElse(false)

  /** The store-level manifest: the record dimension the entries were
    * resolved against plus one [[FleetEntry]] per granule file name. */
  final case class FleetManifest(recdim: String,
      granules: Map[String, FleetEntry])

  private[sources] val FleetManifestName = "_manifest.json"

  /** Parse a store's fleet manifest; None on absence or ANY parse
    * trouble (the manifest is an accelerator, never a requirement). */
  def readFleetManifest(dir: String): Option[FleetManifest] = {
    val p = java.nio.file.Paths.get(dir, FleetManifestName)
    if (!java.nio.file.Files.isRegularFile(p)) return None
    scala.util.Try {
      import org.json4s._
      def num(v: JValue): Option[Double] = v match {
        case JDouble(d) => Some(d)
        case JInt(i) => Some(i.toDouble)
        case JLong(l) => Some(l.toDouble)
        case JDecimal(d) => Some(d.toDouble)
        case _ => None
      }
      def long(v: JValue): Long = v match {
        case JInt(i) => i.toLong
        case JLong(l) => l
        case JDouble(d) => d.toLong
        case _ => sys.error("not a number")
      }
      val root = org.json4s.jackson.JsonMethods.parse(
        java.nio.file.Files.readString(p))
      val recdim = (root \ "recdim") match {
        case JString(s) => s
        case _ => sys.error("no recdim")
      }
      val granules = (root \ "granules") match {
        case JObject(fields) => fields.map { case (name, g) =>
          val recVars = (g \ "recvars") match {
            case JObject(rv) => rv.collect {
              case (vn, JArray(List(b, c))) => vn -> (long(b), long(c).toInt)
            }.toMap
            case _ => Map.empty[String, (Long, Int)]
          }
          val stats = (g \ "stats") match {
            case JObject(st) =>
              Some(st.flatMap {
                case (c, JArray(List(lo, hi))) =>
                  for (a <- num(lo); b <- num(hi)) yield c -> (a, b)
                case _ => None
              }.toMap).filter(_.nonEmpty)
            case _ => None
          }
          val mtime = (g \ "mtime") match {
            case v if num(v).isDefined => num(v).get.toLong
            case _ => -1L // legacy entry: never validates, header fallback
          }
          val hcrc = (g \ "hcrc") match {
            case v if num(v).isDefined => num(v).get.toLong
            case _ => -1L // pre-witness entry: size+mtime key only
          }
          name -> FleetEntry(long(g \ "bytes"), mtime, long(g \ "records"),
            org.json4s.jackson.JsonMethods.compact(
              org.json4s.jackson.JsonMethods.render(g \ "schema")),
            recVars, stats, hcrc)
        }.toMap
        case _ => Map.empty[String, FleetEntry]
      }
      FleetManifest(recdim, granules)
    }.toOption
  }

  /** Rebuild the store's fleet manifest from the CURRENT granule set,
    * reusing prior entries whose recorded size AND mtime still match (no
    * header open for unchanged granules — a streaming store's per-batch refresh
    * costs one header parse per NEW granule plus a stat per old one).
    * Granules whose record dim resolves differently from the manifest's,
    * or whose header will not parse, simply get no entry and fall back
    * to a plan-time header parse. The write is atomic (temp + move) so a
    * concurrent reader sees the old or the new manifest, never a torn
    * one. Called by every granule-writing path ([[writeGranules]],
    * [[compactGranules]] post-swap) — the STREAMING sink inherits it via
    * writeGranules, so a tailed feed's manifest stays fresh too. */
  def refreshFleetManifest(dir: String,
      recDimHint: Option[String]): Unit = {
    val dirPath = java.nio.file.Paths.get(dir)
    if (Option(dirPath.getFileName)
        .exists(_.toString == CompactTmpName)) return
    val files = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.endsWith(".nc"))
      .sortBy(_.getName)
    val prior = readFleetManifest(dir)
    // the manifest's recdim: the hint, else the prior manifest's, else
    // whatever the first parseable granule resolves to
    var manifestRd: Option[String] =
      recDimHint.orElse(prior.map(_.recdim))
    val entries = files.flatMap { f =>
      val reused = for {
        rd <- manifestRd
        pm <- prior if pm.recdim == rd
        e <- pm.granules.get(f.getName)
        if entryValid(f, e)
      } yield (f.getName, rd, e)
      reused.orElse(headerEntry(f.getPath, recDimHint))
    }.filter { case (_, rd, _) =>
      manifestRd match {
        case Some(d) => rd == d
        case None => manifestRd = Some(rd); true
      }
    }
    writeFleetManifestFile(dirPath, manifestRd, entries)
  }

  /** One granule's fleet-manifest entry from its header bytes (O(KB)
    * of page faults) + its stats sidecar if one exists. None on any
    * parse trouble — the granule then falls back to a plan-time header
    * parse forever, which is the honest state for a broken file. */
  private def headerEntry(path: String, recDimHint: Option[String])
      : Option[(String, String, FleetEntry)] =
    try {
      val f = new java.io.File(path)
      val nc = NetCDF4.open(path)
      try {
        val rd = recDimHint.filter(d => nc.dims.exists(_.name == d))
          .getOrElse(NetCDFIngest.recordDimOf(nc))
        val records =
          nc.dims.find(_.name == rd).map(_.size).getOrElse(0L)
        val recVars = nc.vars.filter(_.dims.headOption.contains(rd))
          .map { v =>
            val inner = v.shape.drop(1).product max 1L
            v.name -> (inner * v.dtype.size,
              v.chunkDims.headOption.getOrElse(0))
          }.toMap
        Some((f.getName, rd,
          FleetEntry(f.length(), f.lastModified(), records,
            NetCDFIngest.schemaFor(nc, rd).json, recVars,
            NetCdfSource.readStatsSidecar(path), contentWitness(path))))
      } finally nc.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Backfill the fleet manifest for an archive produced by ANY writer
    * — the reference's own fixture sets, a real sensor fleet's landing
    * dir, any store that predates the manifest. graft's granule
    * writers keep the manifest fresh themselves ([[writeGranules]],
    * [[compactGranules]], the streaming sink), but a FOREIGN archive
    * otherwise header-parses every granule at every planning, forever.
    *
    * One DISTRIBUTED header pass: granules not already covered by a
    * valid (size+mtime) entry parse executor-side — O(KB) of page
    * faults each, embarrassingly parallel across the fleet — and only
    * the small entry tuples collect to the driver, which resolves the
    * record-dim consensus and writes the manifest atomically. Re-runs
    * are O(stat): everything valid is reused without I/O. Column-stats
    * sidecars are picked up when present but never synthesized (that
    * would be a full data read, not a header pass — stats pruning
    * simply keeps granules until a graft writer produces them).
    *
    * Runs under the store's single-writer `_LOCK` (shared with
    * [[compactGranules]]): a backfill racing a compaction would
    * snapshot granules mid-swap and persist stale entries.
    *
    * @return number of granules covered by the written manifest */
  def buildFleetManifest(spark: SparkSession, dir: String,
      recDimHint: Option[String] = None): Int =
    graft.util.StoreState.withLock(spark, dir, "buildFleetManifest") {
      doBuildFleetManifest(spark, dir, recDimHint)
    }

  private def doBuildFleetManifest(spark: SparkSession, dir: String,
      recDimHint: Option[String]): Int = {
    val dirPath = java.nio.file.Paths.get(dir)
    val files = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.endsWith(".nc"))
      .sortBy(_.getName)
    val prior = readFleetManifest(dir)
    var manifestRd: Option[String] =
      recDimHint.orElse(prior.map(_.recdim))
    val reused = files.flatMap { f =>
      for {
        rd <- manifestRd
        pm <- prior if pm.recdim == rd
        e <- pm.granules.get(f.getName)
        if entryValid(f, e)
      } yield (f.getName, rd, e)
    }
    val covered = reused.map(_._1).toSet
    val toParse = files.filterNot(f => covered(f.getName)).map(_.getPath)
    val parsed =
      if (toParse.isEmpty) Array.empty[(String, String, FleetEntry)]
      else {
        val hint = recDimHint // serializable capture, not the method arg
        spark.sparkContext
          .parallelize(toParse.toSeq, math.max(1,
            math.min(toParse.length,
              spark.sparkContext.defaultParallelism)))
          .flatMap(p => headerEntry(p, hint))
          .collect()
      }
    val entries = (reused ++ parsed).sortBy(_._1).filter {
      case (_, rd, _) =>
        manifestRd match {
          case Some(d) => rd == d
          case None => manifestRd = Some(rd); true
        }
    }
    writeFleetManifestFile(dirPath, manifestRd, entries)
    entries.length
  }

  /** Render + atomically install the fleet manifest (temp + move, so a
    * concurrent reader sees old or new, never torn). */
  private def writeFleetManifestFile(dirPath: java.nio.file.Path,
      manifestRd: Option[String],
      entries: Seq[(String, String, FleetEntry)]): Unit = {
    import org.json4s._
    val g = JObject(entries.map { case (name, _, e) =>
      name -> JObject(List(
        "bytes" -> JLong(e.bytes),
        "mtime" -> JLong(e.mtimeMs),
        "hcrc" -> JLong(e.headerCrc),
        "records" -> JLong(e.records),
        "schema" -> org.json4s.jackson.JsonMethods.parse(e.schemaJson),
        "recvars" -> JObject(e.recVars.toList.sortBy(_._1).map {
          case (k, (b, c)) => k -> JArray(List(JLong(b), JLong(c.toLong)))
        })) ++ e.stats.map(st =>
        "stats" -> (JObject(st.toList.sortBy(_._1).map { case (k, (lo, hi)) =>
          k -> JArray(List(JDouble(lo), JDouble(hi)))
        }): JValue)).toList)
    }.toList)
    val root = JObject(List(
      "version" -> JInt(1),
      "recdim" -> JString(manifestRd.getOrElse("record")),
      "granules" -> g))
    val tmp = dirPath.resolve(FleetManifestName + ".tmp")
    java.nio.file.Files.writeString(tmp,
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(root)))
    try java.nio.file.Files.move(tmp,
      dirPath.resolve(FleetManifestName),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        java.nio.file.Files.move(tmp,
          dirPath.resolve(FleetManifestName),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def deleteTreeQuietly(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.isDirectory(p)) {
      Option(p.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
        .foreach(f => deleteTreeQuietly(f.toPath))
      java.nio.file.Files.deleteIfExists(p)
    } else java.nio.file.Files.deleteIfExists(p)

  private def readSidecar(dir: String): Map[String, String] = {
    val f = java.nio.file.Paths.get(dir, "_global_attrs.json")
    if (!java.nio.file.Files.isRegularFile(f)) Map.empty
    else org.json4s.jackson.JsonMethods.parse(
      java.nio.file.Files.readString(f)) match {
      case org.json4s.JObject(fields) =>
        fields.collect { case (k, org.json4s.JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }
  }
}
