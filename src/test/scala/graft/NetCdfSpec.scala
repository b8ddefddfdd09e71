package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Hdf5Reader, NetCDF4, NetCDFIngest}

/** End-to-end NetCDF ingest against the reference's OWN test fixtures:
  * /root/reference/test/mag/magnl2hires_5min (7 contiguous one-minute
  * 10 Hz granules) and magnl2hires_gap (6 granules around a ~1 h outage),
  * reproducing the assertions of the reference's test_magnl2hires.py in
  * both directories (bounds clipping, evenly spaced output, gap fill). */
class NetCdfSpec extends AnyFunSuite with SparkSpec {

  private def fixturesIn(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".nc")).map(_.getPath).sorted.toSeq
  }

  private def fixtures: Seq[String] =
    fixturesIn("/root/reference/test/mag/magnl2hires_5min/data")

  test("pure-JVM HDF5 reader parses a netcdf-c granule") {
    assume(fixtures.nonEmpty)
    val h5 = Hdf5Reader.open(fixtures.head)
    val names = h5.datasets.map(_.name).toSet
    assert(names.contains("time") && names.contains("b_total") &&
      names.contains("b_gse"))
    val time = h5.datasets.find(_.name == "time").get
    assert(time.shape === Seq(600))
    assert(time.isUnlimited(0))
    assert(time.attrs("units") === "seconds since 2000-01-01 12:00:00")
    // deflate-compressed chunked data decodes to monotone ~10 Hz seconds
    val vals = h5.read(time).asInstanceOf[Array[Double]]
    assert(vals.length === 600)
    val diffs = vals.sliding(2).map(p => p(1) - p(0)).toSeq
    assert(diffs.forall(d => math.abs(d - 0.1) < 0.002))
    // first fixture starts 2017-03-05T02:08:59.9Z (each minute-file's
    // first record leads its label by one cadence step); J2000 base
    val j2k = java.time.LocalDateTime.of(2000, 1, 1, 12, 0, 0)
    val first = j2k.plusNanos(math.round(vals.head * 1e9))
    assert(first.getYear === 2017 && first.getMonthValue === 3 &&
      first.getDayOfMonth === 5 && first.getHour === 2 &&
      (first.getMinute === 8 || first.getMinute === 9))
    // 2-D var decodes with the right shape
    val bgse = h5.datasets.find(_.name == "b_gse").get
    assert(bgse.shape === Seq(600, 3))
    assert(h5.read(bgse).asInstanceOf[Array[Float]].length === 1800)
  }

  test("NetCDF4 model: dimensions, variable dims, global attrs") {
    assume(fixtures.nonEmpty)
    val nc = NetCDF4.open(fixtures.head)
    val time = nc.dims.find(_.name == "time").get
    assert(time.unlimited && time.size === 600)
    assert(nc.dims.exists(d => d.name == "coordinate" && d.size == 3))
    val bgse = nc.vars.find(_.name == "b_gse").get
    assert(bgse.dims === Seq("time", "coordinate"))
    assert(nc.vars.find(_.name == "time").get.dims === Seq("time"))
    assert(nc.attrs.nonEmpty) // netcdf global attributes surfaced
  }

  test("configFor mirrors Config.from_nc: all dims/vars/attrs") {
    assume(fixtures.nonEmpty)
    val cfg = NetCDF4.configFor(fixtures.head)
    assert(cfg.dims.find(_.name == "time").get.size === None) // unlimited
    assert(cfg.dims.find(_.name == "coordinate").get.size === Some(3))
    assert(cfg.vars.map(_.name).toSet.contains("b_total"))
    assert(cfg.vars.find(_.name == "b_gse").get.dimensions ===
      Seq("time", "coordinate"))
    assert(cfg.attrs.forall(_.strategy == "first"))
  }

  test("reader decodes every reference fixture file completely") {
    // breadth sweep: all ~200 granules across mag/exis/seis/generic — every
    // dataset of every file must parse and decode without error
    val root = new java.io.File("/root/reference/test")
    assume(root.isDirectory)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".nc")) Seq(f) else Nil
    val files = walk(root)
    assert(files.size > 100)
    var datasets = 0L
    files.foreach { f =>
      val nc = NetCDF4.open(f.getPath)
      assert(nc.dims.nonEmpty, s"${f.getName}: no dimensions")
      nc.vars.foreach { v =>
        val data = nc.read(v)
        val n = java.lang.reflect.Array.getLength(data)
        val expect = if (v.shape.isEmpty) 1 else v.shape.product
        assert(n == expect,
          s"${f.getName}/${v.name}: decoded $n of $expect")
        datasets += 1
      }
    }
    info(s"decoded $datasets datasets across ${files.size} files")
  }

  private val us = 1000000L

  private def runFixture(srcs: Seq[String], tmp: String,
      lo: Long, hi: Long, dimName: String = "time", ivar: String = "time",
      hz: Double = 10.0): (Seq[Long], org.apache.spark.sql.DataFrame) = {
    val granules = NetCDFIngest.convert(spark, srcs, s"$tmp/gr")
    assert(granules.forall(g =>
      Files.exists(java.nio.file.Paths.get(g, "_global_attrs.json"))))
    var cfg = NetCDF4.configFor(srcs.head)
    cfg = cfg.copy(dims = cfg.dims.map { d =>
      if (d.name == dimName)
        d.copy(indexBy = Some(ivar),
          expectedCadence = Map(dimName -> hz),
          min = Some(lo), max = Some(hi))
      else d
    })
    Aggregate.run(spark, granules, s"$tmp/out", cfg).writeParquet()
    val out = spark.read.parquet(s"$tmp/out").orderBy(ivar)
    val times = out
      .select(unix_micros(col(ivar).cast(TimestampType)))
      .collect().map(_.getLong(0)).toSeq
    (times, out)
  }

  private def utcUs(y: Int, mo: Int, d: Int, h: Int, mi: Int): Long =
    java.time.LocalDateTime.of(y, mo, d, h, mi, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * us

  test("reference magnl2hires_5min aggregation end-to-end") {
    assume(fixtures.size == 7)
    val tmp = tempDir("nc")
    // reference test bounds: 2017-03-05 02:10:00 .. 02:15:00, 10 Hz
    val lo = utcUs(2017, 3, 5, 2, 10)
    val hi = utcUs(2017, 3, 5, 2, 15)
    val (times, out) = runFixture(fixtures, tmp, lo, hi)

    // reference test_time: evenly spaced at 0.1 s, first/last on bounds
    val diffs = times.sliding(2).map(p => p(1) - p(0)).toSeq
    assert(diffs.forall(d => math.abs(d - 100000L) <= 2000L),
      s"uneven spacing: ${diffs.filter(d => math.abs(d - 100000L) > 2000L).take(5)}")
    assert(times.head >= lo && times.head - lo < 100000L)
    assert(times.last <= hi && hi - times.last < 100000L)
    // 02:10:00.0008 .. 02:14:59.9008: exactly 5 min of 10 Hz data
    assert(times.length === 3000)
    // the fixture minutes are contiguous: nothing to fill
    assert(out.filter(col("is_fill")).count() === 0)
    // data columns survive conversion
    assert(!out.select("b_total").head().isNullAt(0))
    assert(out.schema("b_gse").dataType.isInstanceOf[
      org.apache.spark.sql.types.ArrayType])
  }

  test("Cli aggregates raw .nc granules like the reference command line") {
    assume(fixtures.size == 7)
    val tmp = tempDir("cli_nc")
    // ncagg OUT SRC.nc... -u time:time:10  — verbatim reference usage
    Cli.run(spark, Array(s"$tmp/out") ++ fixtures.take(3) ++
      Array("-u", "time:time:10"))
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() === 1800) // 3 contiguous granules x 600 records
    assert(out.filter(col("is_fill")).count() === 0)
    // template generation straight from a .nc sample
    val tpl = Cli.run(spark,
      Array("--generate_template", fixtures.head))("template")
    val cfg = graft.core.AggConfig.fromJson(tpl)
    assert(cfg.dims.exists(d => d.name == "time" && d.size.isEmpty))
  }

  test("reference EXIS interleaved granules: index var != record dim") {
    // test_EXISL1bSFXR.py: report_number indexed by `time` at 1 Hz;
    // interleaved one-second granules must come out sorted and deduped,
    // diffs in [0.854, 1.0] s (the sub-cadence interleave boundary is
    // kept: 0.854 > the 1 Hz dedup tolerance)
    val exis = fixturesIn(
      "/root/reference/test/exis/EXISL1bSFXR_interleaved/data")
    assume(exis.nonEmpty)
    val tmp = tempDir("nc_exis")
    val granules = NetCDFIngest.convert(spark, exis, s"$tmp/gr")
    var cfg = NetCDF4.configFor(exis.head)
    assert(cfg.dims.exists(d => d.name == "report_number" && d.size.isEmpty))
    cfg = cfg.copy(dims = cfg.dims.map { d =>
      if (d.name == "report_number")
        d.copy(indexBy = Some("time"),
          expectedCadence = Map("report_number" -> 1.0))
      else d
    })
    Aggregate.run(spark, granules, s"$tmp/out", cfg).writeParquet()
    val out = spark.read.parquet(s"$tmp/out").orderBy("time")
    val times = out
      .select(unix_micros(col("time").cast(TimestampType)))
      .collect().map(_.getLong(0)).toSeq
    assert(times.size >= 2)
    val diffs = times.sliding(2).map(p => p(1) - p(0)).toSeq
    // reference asserts on this data: min diff ~0.854 s, max ~1.0 s — the
    // sub-cadence interleave is deduped (not closer than the 1 Hz
    // tolerance), fill-time records (-999) are dropped as invalid, and
    // any synthesized fills land on the cadence grid
    assert(diffs.min >= 800000L && diffs.min <= 1000000L, s"min ${diffs.min}")
    assert(diffs.max <= 1001000L, s"max ${diffs.max}")
  }

  test("reference SEIS bound-between: midnight bounds split a granule") {
    // test_mpsh_with_config: 3 one-second-cadence granules where the first
    // 5 seconds of Jan 9 live in the LAST granule of Jan 8 — bounds
    // [00:00:00, 00:01:00) must trim partial files on both ends and come
    // out exactly 1 Hz, within one cadence of each bound
    val seis = fixturesIn(
      "/root/reference/test/seis/SEISL1bMPSH_boundbetween/data")
    assume(seis.size == 3)
    val tmp = tempDir("nc_seis")
    val lo = utcUs(2017, 1, 9, 0, 0)
    val hi = utcUs(2017, 1, 9, 0, 1) - 1L
    val (times, out) = runFixture(seis, tmp, lo, hi,
      dimName = "report_number", ivar = "L1a_SciData_TimeStamp", hz = 1.0)
    assert(times.nonEmpty)
    val diffs = times.sliding(2).map(p => p(1) - p(0)).toSeq
    assert(diffs.forall(d => math.abs(d - 1000000L) <= 1000L),
      s"spacing off: ${diffs.filter(d => math.abs(d - 1000000L) > 1000L).take(5)}")
    assert(times.head >= lo && lo + 1000000L > times.head)
    assert(times.last < hi && hi - times.last <= 1000000L)
  }

  test("reference magnl2hires_gap: the outage arrives as cadenced fill") {
    val gapFixtures =
      fixturesIn("/root/reference/test/mag/magnl2hires_gap/data")
    assume(gapFixtures.size == 6)
    val tmp = tempDir("nc_gap")
    // reference TestEvaluateAggregationList: 19:23:00 .. 20:30:00
    val lo = utcUs(2017, 4, 14, 19, 23)
    val hi = utcUs(2017, 4, 14, 20, 30)
    val (times, out) = runFixture(gapFixtures, tmp, lo, hi)

    // reference test_time (gap variant): spacing within 0.01 s
    val diffs = times.sliding(2).map(p => p(1) - p(0)).toSeq
    assert(diffs.forall(d => math.abs(d - 100000L) <= 10000L),
      s"bad spacing at ${diffs.zipWithIndex
        .filter(p => math.abs(p._1 - 100000L) > 10000L).take(5)} of ${times.length}")
    assert(times.head >= lo && times.head - lo < 100000L)
    assert(times.last <= hi && hi - times.last < 100000L)
    // 67 min of 10 Hz cadence, leading fill + ~1 h gap fill included
    assert(times.length === 40200)
    // the outage minutes (19:27..20:27) are all fill, the data minutes none
    val gapRows = out.filter(
      col("time") >= lit(java.time.LocalDateTime.of(2017, 4, 14, 19, 27)) &&
        col("time") < lit(java.time.LocalDateTime.of(2017, 4, 14, 20, 27)))
    assert(gapRows.count() === 36000)
    assert(gapRows.filter(!col("is_fill")).count() === 0)
    val dataRows = out.filter(
      col("time") >= lit(java.time.LocalDateTime.of(2017, 4, 14, 19, 24)) &&
        col("time") < lit(java.time.LocalDateTime.of(2017, 4, 14, 19, 26)))
    assert(dataRows.filter(col("is_fill")).count() === 0)
  }

  test("reference MAGL1bGEOF with0timestamp: invalid index record dropped") {
    // test_MAGL1bGEOF.py (5min_with0timestamp): OB_time is 2-D
    // (report_number x 10 samples) indexed at element 0, 1 Hz records /
    // 10 Hz samples; one granule carries a zero timestamp that must be
    // dropped as invalid (aggrelist.py:253-283), its slot filled on the
    // cadence. Reference asserts: record diffs ~1 s, flattened sample
    // diffs ~0.1 s, first/last within 1 s inside the bounds.
    val geof = fixturesIn(
      "/root/reference/test/mag/MAGL1bGEOF_5min_with0timestamp/data")
    assume(geof.size == 7)
    val tmp = tempDir("nc_geof")
    val lo = utcUs(2017, 3, 16, 15, 25)
    val hi = utcUs(2017, 3, 16, 15, 30)
    val granules = NetCDFIngest.convert(spark, geof, s"$tmp/gr")
    var cfg = NetCDF4.configFor(geof.head)
    val inner = cfg.vars.find(_.name == "OB_time").get
      .dimensions.filter(_ != "report_number").head
    cfg = cfg.copy(dims = cfg.dims.map { d =>
      if (d.name == "report_number")
        d.copy(indexBy = Some("OB_time"),
          expectedCadence =
            Map("report_number" -> 1.0, inner -> 10.0),
          otherDimInds = Map(inner -> 0),
          min = Some(lo), max = Some(hi))
      else d
    })
    Aggregate.run(spark, granules, s"$tmp/out", cfg).writeParquet()
    val out = spark.read.parquet(s"$tmp/out").orderBy("index_time")
    val times = out
      .select(unix_micros(col("index_time").cast(TimestampType)))
      .collect().map(_.getLong(0)).toSeq
    assert(times.length === 300) // 5 min of 1 Hz records
    assert(times.forall(_ > 0), "zero/invalid timestamps must be dropped")
    val diffs = times.sliding(2).map(p => p(1) - p(0)).toSeq
    assert(diffs.forall(d => math.abs(d - 1000000L) <= 10000L),
      s"record spacing off: ${diffs.filter(d =>
        math.abs(d - 1000000L) > 10000L).take(5)}")
    assert(times.head > lo && times.head - lo < 1000000L)
    assert(times.last < hi && hi - times.last < 1000000L)
    // flattened 10 Hz samples stay evenly spaced through fill rows
    val flat = out
      .select(posexplode(col("OB_time")).as(Seq("j", "st")))
      .select(unix_micros(col("st").cast(TimestampType)))
      .collect().map(_.getLong(0)).toSeq
    assert(flat.length === 3000)
    val fdiffs = flat.sliding(2).map(p => p(1) - p(0)).toSeq
    assert(fdiffs.forall(d => math.abs(d - 100000L) <= 2000L),
      s"sample spacing off: ${fdiffs.filter(d =>
        math.abs(d - 100000L) > 2000L).take(5)}")
  }

  test("reference SEIS MPSL swapped: input order does not matter") {
    // test_SEISL1bMPSL.py (1min_swapped): two half-minute granules given
    // out of order must aggregate identically to the sorted order —
    // 60 records at exactly 1 Hz inside [00:37, 00:38).
    val mpsl = fixturesIn(
      "/root/reference/test/seis/SEISL1bMPSL_1min_swapped/data")
    assume(mpsl.size == 2)
    val lo = utcUs(2017, 1, 18, 0, 37)
    val hi = utcUs(2017, 1, 18, 0, 38) - 1L // exclusive end, 60 x 1 Hz
    def runOrder(srcs: Seq[String], tag: String): Seq[Long] = {
      val tmp = tempDir(s"nc_mpsl_$tag")
      val (times, _) = runFixture(srcs, tmp, lo, hi,
        dimName = "report_number", ivar = "L1a_SciData_TimeStamp", hz = 1.0)
      times
    }
    val sortedTimes = runOrder(mpsl, "fwd")
    val swappedTimes = runOrder(mpsl.reverse, "rev")
    assert(sortedTimes === swappedTimes, "input order changed the output")
    assert(sortedTimes.length === 60)
    val diffs = sortedTimes.sliding(2).map(p => p(1) - p(0)).toSeq
    assert(diffs.forall(d => math.abs(d - 1000000L) <= 1000L),
      s"spacing off: ${diffs.filter(d => math.abs(d - 1000000L) > 1000L)}")
    assert(sortedTimes.head >= lo && sortedTimes.head - lo <= 1000000L)
    assert(sortedTimes.last < hi && hi - sortedTimes.last <= 1000000L)
  }

  test("reference SEIS EHIS overlaps: dedup + the 540 s gap splits 300/240") {
    // test_SEISL1bEHIS.py: 5-min-cadence granules that OVERLAP by four
    // minutes (each pair 60 s apart) — the sub-cadence duplicates must
    // dedup away — and one 540 s granule gap that the reference pins as
    // a fill at +300 s leaving a 240 s step (its own comment documents
    // choosing round() over floor() for exactly this case). 540 s =
    // 1.8 steps sits between the reference's within-file (1.818) and
    // between-file (1.778) thresholds; graft's unified threshold takes
    // the between-file rule, so this asserts the fill IS inserted.
    val ehis = fixturesIn(
      "/root/reference/test/seis/SEISL1bEHIS_overlaps/data")
    assume(ehis.size == 20)
    val tmp = tempDir("nc_ehis")
    val lo = utcUs(2018, 1, 17, 15, 5)
    val hi = utcUs(2018, 1, 17, 15, 56)
    // report_number is neither unlimited nor the largest dim in this
    // fixture (size 1 per granule): name it explicitly, like the
    // reference's config does
    val granules = NetCDFIngest.convert(spark, ehis, s"$tmp/gr",
      recDim = Some("report_number"))
    var cfg = NetCDF4.configFor(ehis.head)
    cfg = cfg.copy(dims = cfg.dims.map { d =>
      if (d.name == "report_number")
        // the reference test sets "size": None — this fixture's
        // report_number is not marked unlimited in the files
        d.copy(size = None,
          indexBy = Some("ELF_StartStopTime"),
          expectedCadence = Map("report_number" -> (1.0 / 300.0)),
          min = Some(lo), max = Some(hi))
      else d
    })
    Aggregate.run(spark, granules, s"$tmp/out", cfg).writeParquet()
    val out = spark.read.parquet(s"$tmp/out").orderBy("index_time")
    val times = out
      .select(unix_micros(col("index_time").cast(TimestampType)))
      .collect().map(_.getLong(0)).toSeq
    assert(times.length >= 2)
    val diffs = times.sliding(2).map(p => p(1) - p(0)).toSeq
    // reference test_time: min diff 240 s, max 300 s, mean ~294 s
    assert(math.abs(diffs.min - 240000000L) <= 10000L, s"min ${diffs.min}")
    assert(math.abs(diffs.max - 300000000L) <= 10000L, s"max ${diffs.max}")
    val mean = diffs.sum.toDouble / diffs.size
    assert(math.abs(mean - 294000000.0) <= 1000000.0, s"mean $mean")
    assert(times.head >= lo && times.last <= hi)
  }

  test("compound (class 6) variables decode to Spark struct columns") {
    import graft.sources.Hdf5Writer
    import Hdf5Writer._
    val tmp = tempDir("nc_compound")
    val dst = java.nio.file.Paths.get(tmp, "granule.nc")
    // compound element: a: i32 @0, x: f64 @4, tag: char[4] @12 -> 16 B
    val comp = WCompound(Seq(
      "a" -> WInt(4), "x" -> WF64, "tag" -> WStr(4)))
    assert(comp.size === 16)
    val n = 4
    val data = java.nio.ByteBuffer.allocate(n * comp.size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach { i =>
      data.putInt(10 + i)
      data.putDouble(0.5 * i)
      data.put(java.util.Arrays.copyOf(s"t$i".getBytes("UTF-8"), 4))
    }
    val timeB = java.nio.ByteBuffer.allocate(n * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach(i => timeB.putDouble(i * 60.0))
    Hdf5Writer.streamTo(dst) { w =>
      w.dataset(WDataset("time", Seq(n.toLong), WF64, Some(timeB.array()),
        Seq("CLASS" -> WStrAttr("DIMENSION_SCALE"),
          "NAME" -> WStrAttr("time"),
          "_Netcdf4Dimid" -> WLongAttr(0, 4),
          "units" -> WStrAttr("seconds since 2020-01-01 00:00:00")),
        unlimited0 = true))
      w.dataset(WDataset("obs", Seq(n.toLong), comp, Some(data.array()),
        Seq("DIMENSION_LIST" -> WDimListAttr(Seq("time")))))
      // same element bytes under the VERSION-1 message layout (what
      // libhdf5/netcdf-c default-writes) — pins the v1 parse path
      w.dataset(WDataset("obs_v1", Seq(n.toLong),
        comp.copy(v1 = true), Some(data.array()),
        Seq("DIMENSION_LIST" -> WDimListAttr(Seq("time")))))
      w.finish(Seq("title" -> WStrAttr("compound fixture")))
    }
    // reader level: the type parses and the elements decode
    val h5 = Hdf5Reader.open(dst.toString)
    try {
      val obs = h5.datasets.find(_.name == "obs").get
      val c = obs.dtype.asInstanceOf[Hdf5Reader.H5Compound]
      assert(c.members.map(m => (m.name, m.offset)) ===
        Seq(("a", 0), ("x", 4), ("tag", 12)))
      val vals = h5.read(obs).asInstanceOf[Array[scala.collection.Seq[Any]]]
      assert(vals(2) === Seq(12L, 1.0, "t2"))
      val obsV1 = h5.datasets.find(_.name == "obs_v1").get
      val cV1 = obsV1.dtype.asInstanceOf[Hdf5Reader.H5Compound]
      assert(cV1.members.map(m => (m.name, m.offset)) ===
        Seq(("a", 0), ("x", 4), ("tag", 12)))
      assert(h5.read(obsV1).asInstanceOf[Array[scala.collection.Seq[Any]]]
        .toSeq === vals.toSeq, "v1 and v3 layouts decode identically")
    } finally h5.close()
    // ingest level: struct column through schemaFor + granuleRows,
    // then through Spark and parquet (the full plumbing)
    val meta = NetCDFIngest.granuleMeta(dst.toString)
    val st = meta.schema("obs").dataType.asInstanceOf[StructType]
    assert(st.fieldNames.toSeq === Seq("a", "x", "tag"))
    assert(st("a").dataType === LongType)
    assert(st("x").dataType === DoubleType)
    assert(st("tag").dataType === StringType)
    val rows = NetCDFIngest.granuleRows(dst.toString, meta.schema).toSeq
    assert(rows.length === n)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), meta.schema)
    df.write.mode("overwrite").parquet(s"$tmp/out.parquet")
    val back = spark.read.parquet(s"$tmp/out.parquet")
      .selectExpr("obs.a", "obs.x", "obs.tag").orderBy("a").collect()
    assert(back.map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .toSeq === (0 until n).map(i => (10L + i, 0.5 * i, s"t$i")))
  }

  test("enum (class 8) variables: values decode as the base int, the " +
      "name->value map surfaces as column metadata") {
    import graft.sources.Hdf5Writer
    import Hdf5Writer._
    val tmp = tempDir("nc_enum")
    val dst = java.nio.file.Paths.get(tmp, "granule.nc")
    val labels = Seq("clear" -> 0L, "cloudy" -> 1L, "missing" -> -1L)
    val enum1 = WEnum(WInt(1), labels, v1 = true)
    val enum4 = WEnum(WInt(4), labels)
    val n = 5
    val flags = Array[Byte](0, 1, 1, -1, 0)
    val flags4 = java.nio.ByteBuffer.allocate(n * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    flags.foreach(v => flags4.putInt(v.toInt))
    val timeB = java.nio.ByteBuffer.allocate(n * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach(i => timeB.putDouble(i * 60.0))
    Hdf5Writer.streamTo(dst) { w =>
      w.dataset(WDataset("time", Seq(n.toLong), WF64, Some(timeB.array()),
        Seq("CLASS" -> WStrAttr("DIMENSION_SCALE"),
          "NAME" -> WStrAttr("time"),
          "_Netcdf4Dimid" -> WLongAttr(0, 4),
          "units" -> WStrAttr("seconds since 2020-01-01 00:00:00")),
        unlimited0 = true))
      // v1 layout (libhdf5's default write) over an i8 base AND the v3
      // layout over an i32 base, same member list
      w.dataset(WDataset("sky", Seq(n.toLong), enum1, Some(flags),
        Seq("DIMENSION_LIST" -> WDimListAttr(Seq("time")))))
      w.dataset(WDataset("sky4", Seq(n.toLong), enum4,
        Some(flags4.array()),
        Seq("DIMENSION_LIST" -> WDimListAttr(Seq("time")))))
      w.finish(Seq("title" -> WStrAttr("enum fixture")))
    }
    // reader level: type parses with labels, values decode as base ints
    // (negative members sign-extend per the base width)
    val h5 = Hdf5Reader.open(dst.toString)
    try {
      for (name <- Seq("sky", "sky4")) {
        val ds = h5.datasets.find(_.name == name).get
        val e = ds.dtype.asInstanceOf[Hdf5Reader.H5Enum]
        assert(e.labels === labels, s"$name labels")
        assert(h5.read(ds).asInstanceOf[Array[Long]].toSeq ===
          Seq(0L, 1L, 1L, -1L, 0L), s"$name values")
      }
    } finally h5.close()
    // ingest level: LongType column carrying enum_names/enum_values
    // metadata, and the label-map helper decodes without a join
    val meta = NetCDFIngest.granuleMeta(dst.toString)
    val f = meta.schema("sky")
    assert(f.dataType === LongType)
    assert(f.metadata.getStringArray("enum_names").toSeq ===
      Seq("clear", "cloudy", "missing"))
    assert(f.metadata.getLongArray("enum_values").toSeq ===
      Seq(0L, 1L, -1L))
    assert(NetCDFIngest.enumLabelMap(meta.schema("time")).isEmpty)
    val rows = NetCDFIngest.granuleRows(dst.toString, meta.schema).toSeq
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), meta.schema)
    val lbl = NetCDFIngest.enumLabelMap(f).get
    val decoded = df.select(col("time"),
        element_at(lbl, col("sky")).as("sky_label"))
      .orderBy("time").collect().map(_.getString(1))
    assert(decoded.toSeq ===
      Seq("clear", "cloudy", "cloudy", "missing", "clear"))
  }

  test("szip-filtered granule decodes byte-identically to its deflate twin") {
    import graft.sources.{Hdf5Writer, Szip}
    import Hdf5Writer._
    val tmp = tempDir("nc_szip_ok")
    val dst = java.nio.file.Paths.get(tmp, "szip.nc")
    // a realistic smooth signal (what szip's NN predictor is FOR), as
    // 32-bit ints, plus an 8-bit flags variable — two sample widths
    // through the whole filter pipeline (shuffle stays OFF: szip is its
    // own preprocessor)
    val n = 200
    val vals = java.nio.ByteBuffer.allocate(n * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach(i =>
      vals.putInt(1000000 + 500 * i + (i % 7) * 3))
    val flags = Array.tabulate[Byte](n)(i => (i % 3).toByte)
    val szip32 = Szip.Params(Szip.NN | Szip.LSB, 32, 16, 128)
    val szip8 = Szip.Params(Szip.EC | Szip.LSB, 8, 8, 64)
    Hdf5Writer.streamTo(dst) { w =>
      w.dataset(WDataset("v_szip", Seq(n.toLong), WInt(4),
        Some(vals.array()), Nil, unlimited0 = true,
        chunkRows = Some(n), szip = Some(szip32)))
      w.dataset(WDataset("v_deflate", Seq(n.toLong), WInt(4),
        Some(vals.array()), Nil, unlimited0 = true,
        chunkRows = Some(n), deflate = Some(4)))
      w.dataset(WDataset("f_szip", Seq(n.toLong), WInt(1),
        Some(flags), Nil, unlimited0 = true,
        chunkRows = Some(n), szip = Some(szip8)))
      w.finish(Nil)
    }
    val h5 = Hdf5Reader.open(dst.toString)
    try {
      def longs(name: String): Seq[Long] =
        h5.read(h5.datasets.find(_.name == name).get)
          .asInstanceOf[Array[Long]].toSeq
      assert(longs("v_szip") === longs("v_deflate"),
        "szip decode must match the deflate twin byte for byte")
      assert(longs("v_szip").take(3) ===
        Seq(1000000L, 1000503L, 1001006L))
      assert(longs("f_szip") === flags.map(_.toLong).toSeq)
    } finally h5.close()
  }

  test("szip composes with shuffle and fletcher32 in one filter pipeline") {
    import graft.sources.{Hdf5Writer, Szip}
    import Hdf5Writer._
    // the h5repack `-f SHUF -f SZIP=8,NN` shape: byte-shuffle, then
    // szip, then a fletcher32 chunk checksum — decode must unwind the
    // declared pipeline in reverse
    val tmp = tempDir("nc_szip_pipe")
    val dst = java.nio.file.Paths.get(tmp, "pipe.nc")
    val n = 96
    val vals = java.nio.ByteBuffer.allocate(n * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach(i => vals.putInt(500000 + 37 * i))
    Hdf5Writer.streamTo(dst) { w =>
      w.dataset(WDataset("v", Seq(n.toLong), WInt(4), Some(vals.array()),
        Nil, unlimited0 = true, chunkRows = Some(n), shuffle = true,
        fletcher32 = true,
        szip = Some(Szip.Params(Szip.NN | Szip.LSB, 32, 16, 96))))
      w.finish(Nil)
    }
    val h5 = Hdf5Reader.open(dst.toString)
    try {
      val got = h5.read(h5.datasets.find(_.name == "v").get)
        .asInstanceOf[Array[Long]].toSeq
      assert(got === (0 until n).map(i => 500000L + 37 * i))
    } finally h5.close()
  }

  test("szip with a malformed parameter set fails with an actionable error") {
    import graft.sources.Hdf5Writer
    import Hdf5Writer._
    val tmp = tempDir("nc_szip")
    val dst = java.nio.file.Paths.get(tmp, "szip.nc")
    val vals = java.nio.ByteBuffer.allocate(64 * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 64).foreach(i => vals.putDouble(i * 1.0))
    Hdf5Writer.streamTo(dst) { w =>
      w.dataset(WDataset("v", Seq(64L), WF64, Some(vals.array()), Nil,
        unlimited0 = true, chunkRows = Some(64), deflate = Some(4)))
      w.finish(Nil)
    }
    // rewrite the declared filter id from deflate(1) to szip(4): the
    // v1 filter-pipeline message for deflate level 4 is a unique
    // 24-byte pattern (version 1, nf 1, 6 reserved, id 1, name len 0,
    // flags 0, cd count 1, cd value 4, odd-count pad)
    val bytes = Files.readAllBytes(dst)
    val pat = Array[Byte](1, 1, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 1, 0,
      4, 0, 0, 0, 0, 0, 0, 0)
    val hits = bytes.indices.filter(i =>
      i + pat.length <= bytes.length &&
        (0 until pat.length).forall(j => bytes(i + j) == pat(j)))
    assert(hits.length === 1, s"filter message pattern hits: $hits")
    bytes(hits.head + 8) = 4 // filter id u16 low byte: 1 -> 4 (szip)
    Files.write(dst, bytes)
    val h5 = graft.sources.Hdf5Reader.open(dst.toString)
    try {
      // the patched pipeline declares szip with ONE client-data value
      // (deflate's level); 4 are required — the reader must refuse with
      // the named filter and the re-encode workaround, never decode
      // garbage with default parameters
      val ex = intercept[IllegalStateException] {
        h5.read(h5.datasets.find(_.name == "v").get)
      }
      assert(ex.getMessage.contains("szip"), ex.getMessage)
      assert(ex.getMessage.contains("H5Z_FILTER_SZIP"), ex.getMessage)
      assert(ex.getMessage.contains("h5repack") ||
        ex.getMessage.contains("nccopy"), ex.getMessage)
    } finally h5.close()
  }
}
