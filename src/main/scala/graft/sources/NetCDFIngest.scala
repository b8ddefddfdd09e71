package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Distributed `.nc` → parquet granule conversion — the bridge that lets
  * every actual reference workflow (NetCDF granules in; reference
  * aggregator.py:36-51) run on graft's parquet-native operators.
  *
  * Relational mapping (SURVEY §1): records along the unlimited (record)
  * dimension become rows; a 1-D variable over the record dim becomes a
  * scalar column; an [record, k] variable becomes an array column (inner
  * dims beyond the first flatten row-major); variables not spanning the
  * record dim repeat their constant value per row (parquet dictionary/RLE
  * encoding makes the repetition ~free); CF time variables
  * ("<unit> since <instant>") become TIMESTAMP_NTZ; `_FillValue` matches
  * become SQL nulls.
  *
  * Scale shape: two distributed passes, both one task per granule file
  * (the pure-JVM [[Hdf5Reader]] needs no native lib). Pass 1 parses each
  * granule's HEADER on an executor and collects only tiny metadata
  * (schema fields, global-attr JSON, record count — a few hundred bytes
  * per granule); the driver unions the per-granule schemas (erroring
  * loudly on type conflicts, like the reference's shape-mismatch error)
  * and writes the attr sidecars from the collected strings. Pass 2
  * decodes records, and a single `partitionBy("__granule")` write lays
  * out one directory per input granule. The driver does O(#granules)
  * string work only — it never opens or re-parses a granule file. A
  * 100 TB feed of ~100 MB granules is ~1M tasks of independent decode —
  * embarrassingly parallel, no shuffle.
  */
object NetCDFIngest {

  import NetCDF4._

  /** The record (row) axis: the unlimited dimension, else the largest. */
  def recordDimOf(nc: NcFile): String =
    nc.dims.find(_.unlimited).orElse(nc.dims.sortBy(-_.size).headOption)
      .map(_.name)
      .getOrElse(throw new IllegalArgumentException("no dimensions"))

  /** Resolve the record dim: an explicit name (the configured unlimited
    * dim — fixtures like SEIS EHIS mark report_number neither unlimited
    * nor largest, so the heuristic alone would pick the wrong axis, which
    * the reference avoids because its config names the dim) must exist in
    * the granule; otherwise fall back to [[recordDimOf]]. */
  private def resolveRecDim(nc: NcFile, path: String,
      recDim: Option[String]): String = recDim match {
    case Some(d) =>
      require(nc.dims.exists(_.name == d),
        s"$path: configured record dimension '$d' not present " +
          s"(has: ${nc.dims.map(_.name).mkString(", ")})")
      d
    case None => recordDimOf(nc)
  }

  /** A per-record numeric variable with parseable CF time units. 1-D
    * becomes a TIMESTAMP_NTZ column; multi-dim (e.g. MAG's 2-D OB_time,
    * report_number x samples) becomes an array of timestamps so a
    * multidim index_by (reference other_dim_indicies) stays typed. */
  private def isTimeVar(v: NcVar, recDim: String): Boolean =
    v.dims.headOption.contains(recDim) &&
      (v.dtype.isInstanceOf[Hdf5Reader.H5Float] ||
        v.dtype.isInstanceOf[Hdf5Reader.H5Int]) &&
      v.attrs.get("units").collect { case s: String => s }
        .flatMap(timeUnits).isDefined

  private def elemType(t: Hdf5Reader.H5Type): DataType = t match {
    case Hdf5Reader.H5Float(8) => DoubleType
    case Hdf5Reader.H5Float(_) => FloatType
    case Hdf5Reader.H5Int(_, _) => LongType
    case Hdf5Reader.H5Enum(_, _) => LongType // values decode as the base
    case c: Hdf5Reader.H5Compound =>
      // netCDF user-defined compound type -> Spark struct column.
      // Member floats decode as Double (Hdf5Reader.memberVal), ints as
      // Long, fixed strings as String; v1 array members as arrays.
      StructType(c.members.map { m =>
        val base: DataType = m.dtype match {
          case Hdf5Reader.H5Float(_) => DoubleType
          case Hdf5Reader.H5Int(_, _) => LongType
          case _ => StringType
        }
        StructField(m.name,
          if (m.count > 1) ArrayType(base, containsNull = false) else base,
          nullable = true)
      })
    case _ => StringType
  }

  def schemaFor(nc: NcFile, recDim: String): StructType =
    StructType(nc.vars.map { v =>
      val perRecord =
        if (v.dims.headOption.contains(recDim)) v.shape.drop(1)
        else v.shape
      val t =
        if (isTimeVar(v, recDim) && perRecord.product > 1)
          ArrayType(TimestampNTZType, containsNull = true)
        else if (isTimeVar(v, recDim)) TimestampNTZType
        else if (perRecord.product > 1)
          ArrayType(elemType(v.dtype), containsNull = true)
        else elemType(v.dtype)
      // enum (class 8) label map rides the column as Spark metadata —
      // the values stay plain integers (netcdf-c's view); consumers
      // decode labels via [[enumLabelMap]] without any join
      val md = v.dtype match {
        case Hdf5Reader.H5Enum(_, labels) =>
          new MetadataBuilder()
            .putStringArray("enum_names", labels.map(_._1).toArray)
            .putLongArray("enum_values", labels.map(_._2).toArray)
            .build()
        case _ => Metadata.empty
      }
      StructField(v.name, t, nullable = true, md)
    })

  /** Value→label lookup column for an ingested enum field: a
    * `map_from_arrays` literal built from the field's `enum_names`/
    * `enum_values` metadata (broadcast-free — the map is a literal in
    * the plan). `element_at(enumLabelMap(f).get, col)` yields the label,
    * null for values outside the declared members. None for non-enum
    * fields. */
  def enumLabelMap(field: StructField)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{map_from_arrays, typedLit}
    if (!field.metadata.contains("enum_names")) None
    else Some(map_from_arrays(
      typedLit(field.metadata.getLongArray("enum_values").toSeq),
      typedLit(field.metadata.getStringArray("enum_names").toSeq)))
  }

  private def fillOf(v: NcVar): Option[Double] =
    v.attrs.get("_FillValue").flatMap {
      case dbl: Double => Some(dbl)
      case l: Long => Some(l.toDouble)
      case s: Seq[_] => s.headOption.flatMap {
        case dbl: Double => Some(dbl)
        case l: Long => Some(l.toDouble)
        case _ => None
      }
      case _ => None
    }

  private def ldtOfUs(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000).toInt,
      java.time.ZoneOffset.UTC)

  /** One row per record of one granule, projected onto `schema` (variables
    * a granule lacks become nulls — the reference null-fills the same way,
    * aggrelist.py:545-566).
    *
    * `range` restricts the read to records [lo, hi) of the record dim:
    * per-record variables are read as HYPERSLABS (only the intersecting
    * HDF5 chunks / byte ranges — O(slab) I/O, see
    * [[Hdf5Reader.H5File.readSlab]]), which is what lets a single huge
    * granule fan out across many executors ([[NetCdfSource]]) instead of
    * being one task here. Constant (non-record) variables are read whole
    * either way — they are one value per granule, not per record. */
  def granuleRows(path: String, schema: StructType,
      recDimHint: Option[String] = None,
      range: Option[(Long, Long)] = None): Iterator[Row] = {
    val nc = open(path)
    // try/finally (close is idempotent): a throw during getter
    // construction — granule mismatch, missing time units — must not
    // leak the pread FileChannel of a multi-GiB granule
    try {
    val recDim = resolveRecDim(nc, path, recDimHint)
    val nFull =
      nc.dims.find(_.name == recDim).map(_.size).getOrElse(0L)
    val (lo, hi) = range.getOrElse((0L, nFull))
    require(lo >= 0 && lo <= hi && hi <= nFull,
      s"$path: record range [$lo, $hi) out of bounds (0, $nFull)")
    val n = (hi - lo).toInt
    val getters: Array[Int => Any] = schema.fields.map { f =>
      nc.vars.find(_.name == f.name) match {
        case None => (_: Int) => null
        case Some(v) =>
          val isRec = v.dims.headOption.contains(recDim)
          // record vars slab to the window (the full read IS the
          // (0, nFull) window — one code path, exercised everywhere);
          // constant vars read whole
          val data = if (isRec) nc.readSlab(v, lo, hi) else nc.read(v)
          val fill = fillOf(v)
          def num(i: Int): Double = data match {
            case a: Array[Double] => a(i)
            case a: Array[Float] => a(i).toDouble
            case a: Array[Long] => a(i).toDouble
            case _ => Double.NaN
          }
          def raw(i: Int): Any = data match {
            case a: Array[Double] =>
              if (fill.contains(a(i)) || a(i).isNaN) null else a(i)
            case a: Array[Float] =>
              if (fill.exists(_.toFloat == a(i)) || a(i).isNaN) null
              else a(i)
            case a: Array[Long] =>
              if (fill.exists(_.toLong == a(i))) null else a(i)
            case a: Array[String] => a(i)
            case _ => null
          }
          val total = v.shape.product.toInt max 1
          val recordVar = isRec
          // values per record, from the SHAPE (not the slab length): a
          // windowed read changes the record count, never the row width
          val inner =
            if (recordVar) v.shape.drop(1).product.toInt max 1 else total
          f.dataType match {
            case TimestampNTZType =>
              val (base, per) = v.attrs.get("units")
                .collect { case s: String => s }.flatMap(timeUnits)
                .getOrElse(throw new IllegalArgumentException(
                  s"$path: variable ${f.name} is a time column in the " +
                    "aggregation schema but this granule's copy has no " +
                    "parseable CF time units — granule mismatch"))
              (i: Int) => {
                val x = num(i)
                if (x.isNaN || fill.contains(x)) null
                else ldtOfUs(base + math.round(x * per))
              }
            case ArrayType(TimestampNTZType, _) =>
              val (base, per) = v.attrs.get("units")
                .collect { case s: String => s }.flatMap(timeUnits)
                .getOrElse(throw new IllegalArgumentException(
                  s"$path: variable ${f.name} is a time-array column in " +
                    "the aggregation schema but this granule's copy has " +
                    "no parseable CF time units — granule mismatch"))
              def ts(idx: Int): Any = {
                val x = num(idx)
                if (x.isNaN || fill.contains(x)) null
                else ldtOfUs(base + math.round(x * per))
              }
              if (recordVar)
                (i: Int) => Seq.tabulate(inner)(j => ts(i * inner + j))
              else {
                val const = Seq.tabulate(total)(ts)
                (_: Int) => const
              }
            case ArrayType(_: StructType, _) =>
              throw new IllegalArgumentException(
                s"$path: variable ${f.name} is an ARRAY of compound " +
                  "elements per record — not supported; flatten the " +
                  "inner dimension or split the members")
            case _: StructType =>
              // compound variable: one struct Row per record
              require(inner == 1,
                s"$path: compound variable ${f.name} has $inner values " +
                  "per record but compound columns are scalar-per-record")
              def rowOf(x: Any): Any = x match {
                case s: scala.collection.Seq[_] => Row.fromSeq(s.toSeq)
                case _ => null
              }
              data match {
                case a: Array[_] =>
                  if (recordVar) (i: Int) => rowOf(a(i))
                  else {
                    val const = a.headOption.map(rowOf).orNull
                    (_: Int) => const
                  }
                case _ => (_: Int) => null
              }
            case ArrayType(_, _) =>
              if (recordVar)
                (i: Int) => Seq.tabulate(inner)(j => raw(i * inner + j))
              else {
                val const = Seq.tabulate(total)(raw)
                (_: Int) => const
              }
            case _ =>
              // a scalar column must really be one value per record in
              // THIS granule too: a [rec, k>1] variable indexed with the
              // scalar getter would silently mis-stride (read element i
              // instead of i*k). Error like the reference does on shape
              // mismatch instead of producing wrong values.
              require(inner == 1,
                s"$path: variable ${f.name} has $inner values per record " +
                  "but the aggregation schema expects a scalar — granule " +
                  "shape mismatch")
              if (recordVar) (i: Int) => raw(i)
              else { val const = raw(0); (_: Int) => const }
          }
      }
    }
    // every variable's data is materialized into the getters above, so
    // the OS resource (pread channel of a large granule) releases in the
    // finally — before the returned iterator is consumed
    Iterator.tabulate(n)(i => Row.fromSeq(getters.toSeq.map(_(i))))
    } finally nc.close()
  }

  private def granuleName(path: String): String =
    new java.io.File(path).getName
      .replaceAll("\\.nc$", "").replaceAll("[^A-Za-z0-9_.-]", "_")

  /** Tiny per-granule header metadata (a few hundred bytes) — everything
    * the driver needs so it never has to open the granule itself. */
  final case class GranuleMeta(
      path: String,
      granule: String,
      schema: StructType,
      attrsJson: String,
      records: Long)

  /** Parse one granule's header into [[GranuleMeta]] (runs on executors). */
  def granuleMeta(path: String,
      recDimHint: Option[String] = None): GranuleMeta = {
    val nc = open(path)
    try {
      val recDim = resolveRecDim(nc, path, recDimHint)
      val n = nc.dims.find(_.name == recDim).map(_.size).getOrElse(0L)
      val json = nc.attrs.toSeq.sortBy(_._1).map { case (k, v) =>
        "\"" + esc(k) + "\": \"" + esc(NetCDF4.attrStr(v)) + "\""
      }.mkString("{", ", ", "}")
      GranuleMeta(path, granuleName(path), schemaFor(nc, recDim), json, n)
    } finally nc.close()
  }

  /** Union of the per-granule schemas, first-seen field order. A variable
    * appearing with two different column types (scalar vs array, float vs
    * timestamp, ...) is a hard error naming both granules — the reference
    * likewise errors on shape mismatch rather than guessing. */
  def unionSchema(metas: Seq[GranuleMeta]): StructType = {
    val fields =
      scala.collection.mutable.LinkedHashMap[String, (StructField, String)]()
    metas.foreach { m =>
      m.schema.fields.foreach { f =>
        fields.get(f.name) match {
          case None => fields(f.name) = (f, m.granule)
          case Some((prev, g0)) =>
            require(prev.dataType == f.dataType,
              s"variable ${f.name}: type ${prev.dataType.simpleString} in " +
                s"granule $g0 vs ${f.dataType.simpleString} in " +
                s"${m.granule} — granule schemas must agree")
        }
      }
    }
    StructType(fields.values.map(_._1).toSeq)
  }

  /** A granule excluded by permissive ingest: which file, which pass
    * rejected it (`header` / `decode`), and the parse error. */
  final case class Quarantined(path: String, stage: String, error: String)

  /** Strict ingest's failure: the same attribution permissive ingest
    * quarantines, thrown instead. */
  final class GranuleIngestException(val record: Quarantined)
      extends RuntimeException(
        s"granule ${record.path} failed ${record.stage}: ${record.error}")

  /** Run one granule's `stage`, attributing any parse error to `path`. */
  private def attempt[T](path: String, stage: String)(
      body: => T): Either[Quarantined, T] =
    try Right(body)
    catch { case scala.util.control.NonFatal(e) =>
      Left(Quarantined(path, stage, errMsg(e))) }

  /** [[convertChecked]]'s result: the produced granule directories plus
    * every quarantined input. */
  final case class IngestResult(
      granuleDirs: Seq[String], quarantined: Seq[Quarantined])

  /** Convert granule files to one parquet granule directory each (under
    * `outDir/__granule=<name>/`), with a `_global_attrs.json` sidecar per
    * granule so [[graft.Aggregate.run]] picks up NetCDF global attributes
    * exactly like a previous graft run's output. Returns the granule
    * directories in input order.
    *
    * Pass 1 (distributed) collects [[GranuleMeta]] per granule; the schema
    * is the UNION of all granule schemas (a variable missing from some
    * granules null-fills there, like the reference aggrelist.py:545-566),
    * and the sidecars are written from the collected attr strings — the
    * driver does O(#granules) string work only and never opens a granule.
    * Pass 2 (distributed) decodes the records. */
  def convert(spark: SparkSession, srcs: Seq[String], outDir: String,
      recDim: Option[String] = None): Seq[String] =
    convertChecked(spark, srcs, outDir, recDim).granuleDirs

  /** [[convert]] with a corrupt-granule policy. Both passes attribute
    * every per-granule parse error task-side to its file and pass
    * ([[Quarantined]]). Strict (default) fails on the first unreadable
    * granule, like the reference (whose netCDF4 `Dataset(...)` call
    * raises), with a [[GranuleIngestException]] carrying that record.
    * Permissive QUARANTINES bad granules instead — a fleet-scale
    * necessity: at ~1M granules a single truncated delivery must cost one
    * file, not the job (pass 2 collects via an accumulator — decode work
    * happens before the first row is emitted, so a caught granule
    * contributes zero rows, never partial output); the quarantine list is
    * returned AND written to `outDir/_quarantine.json` as an audit
    * artifact. Schema conflicts between two readable granules stay hard
    * errors in both modes: the conflict names two files and cannot be
    * attributed to one. */
  def convertChecked(spark: SparkSession, srcs: Seq[String], outDir: String,
      recDim: Option[String] = None,
      permissive: Boolean = false): IngestResult = {
    require(srcs.nonEmpty, "no input granules")
    val paths = srcs.toIndexedSeq
    val metaTries = spark.sparkContext
      .parallelize(paths, paths.size)
      .map(p => attempt(p, "header")(granuleMeta(p, recDim)))
      .collect().toSeq
    val headerBad = metaTries.collect { case Left(q) => q }
    if (!permissive)
      headerBad.headOption.foreach(q => throw new GranuleIngestException(q))
    val metas = metaTries.collect { case Right(m) => m }
    val schema = unionSchema(metas)
    val withG = StructType(schema.fields :+
      StructField("__granule", StringType, nullable = false))
    val goodPaths = metas.map(_.path).toIndexedSeq
    val decodeBad =
      spark.sparkContext.collectionAccumulator[Quarantined]("quarantined")
    val rdd = spark.sparkContext
      .parallelize(goodPaths, math.max(goodPaths.size, 1))
      .flatMap { p =>
        val g = granuleName(p)
        // granuleRows does all nc reads (incl. fletcher32 checks) before
        // returning its iterator, so failures surface here and a
        // quarantined granule emits nothing
        val rows = attempt(p, "decode")(granuleRows(p, schema, recDim)) match {
          case Right(it) => it
          case Left(q) if permissive => decodeBad.add(q); Iterator.empty
          case Left(q) => throw new GranuleIngestException(q)
        }
        rows.map(r => Row.fromSeq(r.toSeq :+ g))
      }
    // a strict decode failure reaches the driver wrapped in Spark's job
    // and write errors; surface the typed record itself
    try spark.createDataFrame(rdd, withG)
      .write.mode("overwrite").partitionBy("__granule").parquet(outDir)
    catch { case e: Exception =>
      throw Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case g: GranuleIngestException => g }.getOrElse(e)
    }
    // .distinct: accumulator updates inside a transformation can double
    // count on task retry/speculation; the quarantine record is
    // value-identical across retries, so dedup restores exactly-once
    val quarantined = (headerBad ++
      decodeBad.value.asScala.toSeq).distinct.sortBy(_.path)
    val quarantinedPaths = quarantined.map(_.path).toSet
    if (permissive) java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "_quarantine.json"),
      quarantined.map(q =>
        s"""{"path": "${esc(q.path)}", "stage": "${q.stage}", """ +
          s""""error": "${esc(q.error)}"}""")
        .mkString("[", ",\n ", "]"))
    // an empty granule (zero records along the record dim) produces no
    // partition directory — it contributes nothing, like the reference's
    // empty-file handling (and AggregateSpec's empty case)
    val dirs = metas
      .filter(m => m.records > 0 && !quarantinedPaths.contains(m.path))
      .map { m =>
        val dir = s"$outDir/__granule=${m.granule}"
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(dir, "_global_attrs.json"), m.attrsJson)
        dir
      }
    IngestResult(dirs, quarantined)
  }

  private def errMsg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
