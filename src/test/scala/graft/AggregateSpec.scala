package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.core.AggConfig
import graft.core.AggConfig.{AttrSpec, Config, DimSpec, VarSpec}

/** End-to-end test of the reference-equivalent API: granule files in,
  * regularized output + aggregated global attributes out (the Spark analog
  * of reference test/generic + exis day-file cases). */
class AggregateSpec extends AnyFunSuite with SparkSpec {

  private val us = 1000000L
  private val base = 1704067200L * us // 2024-01-01T00:00:00Z

  private def writeGranule(dir: String, name: String, ts: Seq[Long]): String = {
    val rows = ts.zipWithIndex.map { case (t, i) =>
      Row(java.time.LocalDateTime.ofEpochSecond(
        t / us, ((t % us) * 1000).toInt, java.time.ZoneOffset.UTC),
        s"$name-$i")
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("time", TimestampNTZType),
        StructField("payload", StringType))))
    val p = s"$dir/$name"
    df.write.mode("overwrite").parquet(p)
    p
  }

  private val config = Config(
    dims = Seq(DimSpec("record", size = None, indexBy = Some("time"),
      min = Some(base), max = Some(base + 10L * us),
      expectedCadence = Map("record" -> 1.0))),
    vars = Seq(
      VarSpec("time", Seq("record"), "timestamp"),
      VarSpec("payload", Seq("record"), "string")),
    attrs = Seq(
      AttrSpec("input_count", "input_count"),
      AttrSpec("first_input", "first_input"),
      AttrSpec("last_input", "last_input"),
      AttrSpec("date_created", "date_created"),
      AttrSpec("time_coverage_start", "time_coverage_start"),
      AttrSpec("time_coverage_end", "time_coverage_end"),
      AttrSpec("site", "unique_list"),
      AttrSpec("creator", "static", value = Some("graft")),
      AttrSpec("secret", "remove")))

  test("granules in -> sorted, deduped, gap-filled, clipped output + attrs") {
    val tmp = tempDir("agg")
    // granule B overlaps A's last second (dup) and leaves a 4s gap to its
    // own tail; one record is out of bounds.
    val a = writeGranule(tmp, "g_a",
      Seq(base, base + 1 * us, base + 2 * us))
    val b = writeGranule(tmp, "g_b",
      Seq(base + 2 * us + 100000L, base + 3 * us, base + 7 * us,
        base + 7200L * us))
    val dst = s"$tmp/out"

    val attrs = Aggregate.run(spark, Seq(a, b), dst, config,
      granuleAttrs = Map(
        a -> Map("site" -> "boulder", "secret" -> "x"),
        b -> Map("site" -> "boulder, toulouse")),
      now = () => Instant.ofEpochSecond(1700000000L)).writeParquet()

    val out = spark.read.parquet(dst).orderBy("time")
    val times = out.select(unix_micros(col("time").cast(TimestampType)))
      .collect().map(_.getLong(0)).toSeq
    // dup at +2.1s dropped; interior fills at 4,5,6s; +7200s clipped by the
    // max bound; trailing edge fills at 8,9,10s out to the bound
    assert(times === Seq(base, base + us, base + 2 * us, base + 3 * us,
      base + 4 * us, base + 5 * us, base + 6 * us, base + 7 * us,
      base + 8 * us, base + 9 * us, base + 10 * us))
    val fills = out.filter(col("is_fill")).count()
    assert(fills === 6)

    assert(attrs("input_count") === "2")
    assert(attrs("first_input") === "g_a" && attrs("last_input") === "g_b")
    assert(attrs("site") === "boulder, toulouse")
    assert(attrs("creator") === "graft")
    assert(!attrs.contains("secret"))
    assert(attrs("time_coverage_start") === "2024-01-01T00:00:00.000Z")
    assert(attrs("date_created") === "2023-11-14T22:13:20.000Z")
    // sidecar written
    assert(Files.exists(java.nio.file.Paths.get(dst, "_global_attrs.json")))
  }

  test("config json round-trip: reference template shape parses") {
    val json =
      """{
        |  "dimensions": [
        |    {"name": "record_number", "size": null, "index_by": "time",
        |     "expected_cadence": {"record_number": 10}},
        |    {"name": "samples", "size": 4}
        |  ],
        |  "variables": [
        |    {"name": "time", "dimensions": ["record_number"],
        |     "datatype": "float64",
        |     "attributes": {"units": "seconds since 2000-01-01 12:00:00"}},
        |    {"name": "irradiance", "dimensions": ["record_number"],
        |     "datatype": "float32", "copy_from_alt": ["irr_alt"]}
        |  ],
        |  "attributes": [
        |    {"name": "production_site", "strategy": "unique_list"},
        |    {"name": "creator", "strategy": "static", "value": "sc"}
        |  ]
        |}""".stripMargin
    val c = AggConfig.fromJson(json)
    assert(c.primaryUdim.map(_.name) === Some("record_number"))
    assert(c.primaryUdim.flatMap(_.cadenceHz) === Some(10.0))
    assert(c.vars.map(_.name) === Seq("time", "irradiance"))
    assert(c.vars(1).copyFromAlt === Seq("irr_alt"))
    assert(c.attrs.head.strategy === "unique_list")
    intercept[IllegalArgumentException] {
      AggConfig.fromJson(
        """{"dimensions": [], "variables": [
          |{"name": "x", "dimensions": ["nope"], "datatype": "int"}],
          |"attributes": []}""".stripMargin)
    }
  }

  test("toJson serializes the template shape fromJson parses (round-trip)") {
    val c = AggConfig.Config(
      dims = Seq(
        AggConfig.DimSpec("record", size = None, indexBy = Some("time"),
          min = Some(100L), max = Some(200L),
          expectedCadence = Map("record" -> 10.0, "samples" -> 4.0),
          otherDimInds = Map("samples" -> 2)),
        AggConfig.DimSpec("samples", size = Some(4L))),
      vars = Seq(
        AggConfig.VarSpec("time", Seq("record"), "float64",
          attributes = Map("units" -> "s")),
        AggConfig.VarSpec("irr", Seq("record"), "float32",
          copyFromAlt = Seq("irr_alt"), mapTo = Some("irradiance"))),
      attrs = Seq(AggConfig.AttrSpec("creator", "static", Some("sc"))),
      takeDimInds = Map("samples" -> 1))
    val back = AggConfig.fromJson(AggConfig.toJson(c))
    assert(back === c)
  }

  test("config schema validation: per-field errors like the reference") {
    import AggConfig._
    // size must be >= 1 (or the -1 unknown marker)
    intercept[IllegalArgumentException] {
      Config(Seq(DimSpec("r", Some(0L))), Nil, Nil).validate()
    }
    // reference VariableConfig: len(dims) == len(chunksizes)
    intercept[IllegalArgumentException] {
      Config(Seq(DimSpec("r", None)),
        Seq(VarSpec("x", Seq("r"), "double", chunksizes = Some(Seq(1, 2)))),
        Nil).validate()
    }
    // cadence must be positive
    intercept[IllegalArgumentException] {
      Config(
        Seq(DimSpec("r", None, indexBy = Some("x"),
          expectedCadence = Map("r" -> -1.0))),
        Seq(VarSpec("x", Seq("r"), "double")), Nil).validate()
    }
    // reference DimensionConfig normalization: index_by absent clears
    // bounds/cadence/other-dim-inds instead of erroring
    val n = Config(
      Seq(DimSpec("r", Some(4L), min = Some(1L), max = Some(9L),
        otherDimInds = Map("r" -> 1))), Nil, Nil).validate()
    assert(n.dims.head.min.isEmpty && n.dims.head.max.isEmpty &&
      n.dims.head.otherDimInds.isEmpty)
  }

  test("CLI --generate_template prints a config usable via -t") {
    import spark.implicits._
    val tmp = tempDir("tpl")
    Seq((1L, 2.5, Seq(1.0f, 2.0f)))
      .toDF("time", "val", "arr")
      .write.mode("overwrite").parquet(s"$tmp/sample")
    val out = Cli.run(spark, Array("--generate_template", s"$tmp/sample"))
    val cfg = AggConfig.fromJson(out("template"))
    assert(cfg.vars.map(_.name).toSet === Set("time", "val", "arr"))
    assert(cfg.dims.exists(_.isUnlimited))
    // the array column got its fixed inner dimension
    assert(cfg.vars.find(_.name == "arr").get.dimensions.length === 2)
  }

  test("multidim index_by orders by the configured element (other_dim_inds)") {
    import java.time.LocalDateTime
    val rows = Seq(
      // records out of order by their index array's element 0
      Row(Seq(ldt(base + 2 * us), ldt(base + 2 * us + 100000L)), "b"),
      Row(Seq(ldt(base), ldt(base + 100000L)), "a"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("ob_time", ArrayType(TimestampNTZType)),
        StructField("payload", StringType))))
    val tmp = tempDir("md")
    df.write.parquet(s"$tmp/g")
    val cfg = Config(
      dims = Seq(
        DimSpec("record", None, indexBy = Some("ob_time"),
          otherDimInds = Map("samples" -> 0)),
        DimSpec("samples", Some(2))),
      vars = Seq(
        VarSpec("ob_time", Seq("record", "samples"), "timestamp"),
        VarSpec("payload", Seq("record"), "string")),
      attrs = Nil)
    Aggregate.run(spark, Seq(s"$tmp/g"), s"$tmp/out", cfg).writeParquet()
    val out = spark.read.parquet(s"$tmp/out").orderBy("index_time")
    assert(out.columns.contains("index_time"))
    assert(out.select("payload").collect().map(_.getString(0)).toSeq ===
      Seq("a", "b"))
  }

  test("multidim index var with two cadences fills computed index arrays") {
    // time(record, samples): 1 Hz records of 2 samples at 2 Hz. A 3 s gap
    // between records synthesizes fill rows whose ob_time ARRAYS carry the
    // cadence-derived values (reference FillNode.data_for linspace sum,
    // aggrelist.py:141-189), not nulls.
    val rows = Seq(
      Row(Seq(ldt(base), ldt(base + 500000L)), "a"),
      Row(Seq(ldt(base + 3 * us), ldt(base + 3 * us + 500000L)), "b"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("ob_time", ArrayType(TimestampNTZType)),
        StructField("payload", StringType))))
    val tmp = tempDir("mc")
    df.write.parquet(s"$tmp/g")
    val cfg = Config(
      dims = Seq(
        DimSpec("record", None, indexBy = Some("ob_time"),
          expectedCadence = Map("record" -> 1.0, "samples" -> 2.0),
          otherDimInds = Map("samples" -> 0)),
        DimSpec("samples", Some(2))),
      vars = Seq(
        VarSpec("ob_time", Seq("record", "samples"), "timestamp"),
        VarSpec("payload", Seq("record"), "string")),
      attrs = Nil)
    Aggregate.run(spark, Seq(s"$tmp/g"), s"$tmp/out", cfg).writeParquet()
    val out = spark.read.parquet(s"$tmp/out").orderBy("index_time")
    val fills = out.filter(col("is_fill"))
      .select("ob_time", "index_time").collect()
    assert(fills.length === 2) // gap fills at +1s, +2s
    fills.foreach { r =>
      val arr = r.getSeq[java.time.LocalDateTime](0)
      val t0 = r.getAs[java.time.LocalDateTime]("index_time")
      assert(arr.length === 2)
      assert(arr(0) === t0) // anchor element = the scalar index
      assert(arr(1) === t0.plusNanos(500000000L)) // +1/2Hz
    }
  }

  test("Cli -u parses multiple cadences onto the index var's dimensions") {
    val tmp = tempDir("cli_mc")
    val rows = Seq(
      Row(Seq(ldt(base), ldt(base + 500000L)), "a"),
      Row(Seq(ldt(base + 3 * us), ldt(base + 3 * us + 500000L)), "b"))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("ob_time", ArrayType(TimestampNTZType)),
        StructField("payload", StringType))))
      .write.parquet(s"$tmp/g")
    // template declares the multidim shape; -u supplies both cadences
    val tpl = AggConfig.toJson(Config(
      dims = Seq(
        DimSpec("record", None, otherDimInds = Map("samples" -> 0)),
        DimSpec("samples", Some(2))),
      vars = Seq(
        VarSpec("ob_time", Seq("record", "samples"), "timestamp"),
        VarSpec("payload", Seq("record"), "string")),
      attrs = Nil))
    val tplPath = s"$tmp/tpl.json"
    Files.writeString(java.nio.file.Paths.get(tplPath), tpl)
    Cli.run(spark, Array(s"$tmp/out", s"$tmp/g",
      "-t", tplPath, "-u", "record:ob_time:1:2"))
    val out = spark.read.parquet(s"$tmp/out")
    val fill = out.filter(col("is_fill")).orderBy("index_time").first()
    val arr = fill.getSeq[java.time.LocalDateTime](
      fill.fieldIndex("ob_time"))
    assert(arr(1) === arr(0).plusNanos(500000000L)) // inner 2 Hz applied
    intercept[IllegalArgumentException] {
      Cli.run(spark, Array(s"$tmp/out2", s"$tmp/g",
        "-t", tplPath, "-u", "record:ob_time:1:2:3")) // 3 cadences, 2 dims
    }
  }

  test("Cli reads the source list from stdin when no SRC args are given") {
    val tmp = tempDir("cli_stdin")
    val a = writeGranule(tmp, "g_a", Seq(base, base + 1 * us))
    val b = writeGranule(tmp, "g_b", Seq(base + 2 * us, base + 3 * us))
    Cli.run(spark, Array(s"$tmp/out", "-u", "record:time:1"),
      stdinSrcs = Some(s"$a\n$b\n"))
    assert(spark.read.parquet(s"$tmp/out").count() === 4)
    intercept[IllegalArgumentException] {
      Cli.run(spark, Array(s"$tmp/out2"), stdinSrcs = Some("  "))
    }
  }

  test("Cli -v prints the version; -l sets the log level") {
    assert(Cli.run(spark, Array("-v")) === Map("version" -> Cli.Version))
    val tmp = tempDir("cli_l")
    val a = writeGranule(tmp, "g_a", Seq(base, base + 1 * us))
    Cli.run(spark, Array(s"$tmp/out", a, "-l", "ERROR"))
    assert(spark.read.parquet(s"$tmp/out").count() === 2)
    intercept[IllegalArgumentException] {
      Cli.run(spark, Array(s"$tmp/out2", a, "-l", "LOUD"))
    }
  }

  test("take_dim_indicies extracts one inner-dim index from array vars") {
    import spark.implicits._
    val df = Seq((1L, Seq(10.0, 20.0)), (2L, Seq(30.0, 40.0)))
      .toDF("id", "flux")
    val cfg = Config(
      dims = Seq(DimSpec("record", None), DimSpec("sensor", Some(2))),
      vars = Seq(
        VarSpec("id", Seq("record"), "bigint"),
        VarSpec("flux", Seq("record", "sensor"), "double")),
      attrs = Nil,
      takeDimInds = Map("sensor" -> 1))
    val out = Aggregate.selectVariables(df, cfg).orderBy("id")
    assert(out.schema("flux").dataType === DoubleType)
    assert(out.select("flux").collect().map(_.getDouble(0)).toSeq ===
      Seq(20.0, 40.0))
  }

  private def ldt(t: Long) =
    java.time.LocalDateTime.ofEpochSecond(
      t / us, ((t % us) * 1000).toInt, java.time.ZoneOffset.UTC)

  test("second unlimited dim flattens to packed-left ragged arrays " +
      "(reference test_multi_unlim_dims)") {
    // Reference test_collapse_second_dim: 3 granules, dim `a` (3 records
    // each), second unlimited dim `b` of per-granule size i+1, variable
    // c(a, b). The reference's flatten packs each granule's c values left
    // against the merged b index and masks the rest (9 masked cells of a
    // 9x3 rectangle, sum 90). The relational model carries the SAME
    // information as ragged per-record arrays — packed left by
    // construction, absence instead of mask — so the assertions map to:
    // 9 records in granule order, per-granule array length i+1, total
    // sum 90, and each record's b ids aligned to its c values.
    val tmp = tempDir("multiunlim")
    val bNames = Seq("a", "b", "c")
    (0 until 3).foreach { i =>
      val rows = (0 until 3).map { r =>
        Row((i * 3 + r).toLong,
          bNames.take(i + 1),
          Seq.fill(i + 1)((i * 3 + r).toLong))
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(
          StructField("a", LongType),
          StructField("b", ArrayType(StringType)),
          StructField("c", ArrayType(LongType)))))
        .write.mode("overwrite").parquet(s"$tmp/g_$i")
    }
    val cfg = Config(
      dims = Seq(
        DimSpec("a_dim", size = None),
        DimSpec("b_dim", size = None, flatten = true)),
      vars = Seq(
        VarSpec("a", Seq("a_dim"), "int64"),
        VarSpec("b", Seq("b_dim"), "string"),
        VarSpec("c", Seq("a_dim", "b_dim"), "int64")),
      attrs = Nil)
    Aggregate.run(spark, (0 until 3).map(i => s"$tmp/g_$i"), s"$tmp/out",
      cfg).writeParquet()
    val out = spark.read.parquet(s"$tmp/out").orderBy("a")
      .select("a", "b", "c").collect()
    assert(out.length === 9)
    assert(out.map(_.getLong(0)).toSeq === (0L until 9L))
    val lens = out.map(_.getSeq[Long](2).length).toSeq
    assert(lens === Seq(1, 1, 1, 2, 2, 2, 3, 3, 3),
      "c must stay packed-left at each granule's own b size")
    assert(out.map(_.getSeq[Long](2).sum).sum === 90L)
    out.foreach { r =>
      assert(r.getSeq[String](1) === bNames.take(r.getSeq[Long](2).length),
        "each record's b ids align with its c values")
    }
  }

  test("a variable missing from some granules null-fills those records") {
    // the reference inserts fill values for variables absent in a granule
    // (aggrelist.py:545-566); across parquet granules that requires the
    // union schema (mergeSchema), not one file's footer
    import spark.implicits._
    val tmp = tempDir("hetero")
    Seq((ldt(base), "a0", 1.5)).toDF("time", "payload", "extra")
      .write.parquet(s"$tmp/g_a")
    Seq((ldt(base + us), "b0")).toDF("time", "payload")
      .write.parquet(s"$tmp/g_b")
    val cfg = Config(
      dims = Seq(DimSpec("record", None, indexBy = Some("time"))),
      vars = Seq(
        VarSpec("time", Seq("record"), "timestamp"),
        VarSpec("payload", Seq("record"), "string"),
        VarSpec("extra", Seq("record"), "double")),
      attrs = Nil)
    // granule order b, a: the first footer read must not decide the schema
    Aggregate.run(spark, Seq(s"$tmp/g_b", s"$tmp/g_a"), s"$tmp/out", cfg)
      .writeParquet()
    val out = spark.read.parquet(s"$tmp/out").orderBy("time")
    assert(out.columns.contains("extra"))
    val extras = out.select("extra").collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assert(extras === Seq(Some(1.5), None))
  }

  test("Cli mirrors the reference command line end-to-end") {
    val tmp = tempDir("cli")
    val a = writeGranule(tmp, "g_a", Seq(base, base + 1 * us,
      base + 1 * us + 100000L)) // third record is a sub-cadence dup
    val b = writeGranule(tmp, "g_b", Seq(base + 2 * us, base + 86400L * us))
    // ncagg DST SRC... -u udim:ivar:hz -b Tday -c udim:chunksize
    Cli.run(spark, Array(s"$tmp/out", a, b,
      "-u", "record:time:1", "-b", "T20240101", "-c", "record:1000"))
    val out = spark.read.parquet(s"$tmp/out")
    val times = out.orderBy("time")
      .select(unix_micros(col("time").cast(TimestampType)))
      .collect().map(_.getLong(0)).toSeq
    // dup dropped; day-bound keeps the +86400s record out; no gap-fill
    // between 2s and the day edge beyond the 2-step threshold applies
    // at the leading edge only (bounds fill both edges)
    assert(times.take(3) === Seq(base, base + us, base + 2 * us))
    // the -b day bound clipped the next-day record
    assert(times.forall(_ < base + 86400L * us))
  }

  test("per-variable attributes ride into the output column metadata") {
    val tmp = tempDir("varattrs")
    val a = writeGranule(tmp, "g_a", Seq(base, base + 1 * us))
    val cfg = config.copy(vars = Seq(
      VarSpec("time", Seq("record"), "timestamp",
        attributes = Map("units" -> "microseconds since epoch",
          "long_name" -> "record time")),
      VarSpec("payload", Seq("record"), "string")))
    Aggregate.run(spark, Seq(a), s"$tmp/out", cfg,
      now = () => Instant.ofEpochSecond(1700000000L)).writeParquet()
    // parquet round-trips Spark column metadata through the schema blob
    val md = spark.read.parquet(s"$tmp/out").schema("time").metadata
    assert(md.getString("units") === "microseconds since epoch")
    assert(md.getString("long_name") === "record time")
  }

  test("an empty granule contributes nothing and breaks nothing") {
    val tmp = tempDir("empty")
    val a = writeGranule(tmp, "g_a", Seq(base, base + 1 * us))
    val e = writeGranule(tmp, "g_empty", Seq.empty)
    val attrs = Aggregate.run(spark, Seq(a, e), s"$tmp/out", config,
      now = () => Instant.ofEpochSecond(1700000000L)).writeParquet()
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.filter(!col("is_fill")).count() === 2)
    assert(attrs("input_count") === "2") // provenance counts granules
  }

  test("runStream ingests arriving granules incrementally with dedup") {
    val tmp = tempDir("stream_api")
    // first granule exists before the stream starts (schema source)
    writeGranule(s"$tmp/in", "g_a",
      Seq(base, base + 1 * us, base + 1 * us + 100000L)) // third is a dup
    val q = Aggregate.runStream(spark, s"$tmp/in/*", s"$tmp/out", config,
      s"$tmp/ckpt", watermark = "0 seconds")
    try {
      q.processAllAvailable()
      val n1 = spark.read.parquet(s"$tmp/out").count()
      assert(n1 === 2) // dup dropped by streaming cadence dedup
      // a new granule arrives; only its records are processed
      writeGranule(s"$tmp/in", "g_b", Seq(base + 5 * us, base + 6 * us))
      q.processAllAvailable()
      val n2 = spark.read.parquet(s"$tmp/out").count()
      assert(n2 === 4)
      // streamed granules must share the batch run's index-column type
      // (TIMESTAMP_NTZ) so a batch finalization pass over the same output
      // directory reads one consistent schema
      val tsType = spark.read.parquet(s"$tmp/out").schema("time").dataType
      assert(tsType === org.apache.spark.sql.types.TimestampNTZType)
    } finally q.stop()
  }

  test("runStream with product=nc emits the reference's own granule " +
      "format; the product re-ingests equal to the parquet product") {
    // the full loop in streaming: granule feed in -> aggregate ->
    // `.nc` granules OUT (one per micro-batch, lexically-increasing
    // names) — the reference's product format without a batch
    // finalization pass; re-ingesting the product feed through the V2
    // scan must match the parquet product of the SAME stream bit-level
    val tmp = tempDir("stream_nc")
    writeGranule(s"$tmp/in", "g_a",
      Seq(base, base + 1 * us, base + 1 * us + 100000L)) // third is a dup
    def drainBoth(qs: Seq[org.apache.spark.sql.streaming.StreamingQuery])
        : Unit = qs.foreach(_.processAllAvailable())
    val qP = Aggregate.runStream(spark, s"$tmp/in/*", s"$tmp/outp",
      config, s"$tmp/ckptp", watermark = "0 seconds")
    val qN = Aggregate.runStream(spark, s"$tmp/in/*", s"$tmp/outn",
      config, s"$tmp/ckptn", watermark = "0 seconds", product = "nc")
    try {
      drainBoth(Seq(qP, qN))
      // a later granule arrives mid-stream
      writeGranule(s"$tmp/in", "g_b", Seq(base + 5 * us, base + 6 * us))
      drainBoth(Seq(qP, qN))
    } finally { qP.stop(); qN.stop() }
    val names = new java.io.File(s"$tmp/outn").listFiles()
      .map(_.getName).filter(_.endsWith(".nc")).sorted.toSeq
    assert(names.nonEmpty && names.forall(_.startsWith("stream-")),
      s"product granules must carry the streaming names, got $names")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("time", "payload").collect()
      .map(r => (r.getAs[Any]("time").toString, r.getString(1)))
      .sorted.toSeq
    val ncBack = rows(spark.read.format("netcdf")
      .option("recdim", "record").load(s"$tmp/outn"))
    assert(ncBack === rows(spark.read.parquet(s"$tmp/outp")),
      "the .nc product feed must re-ingest equal to the parquet product")
    assert(ncBack.size === 4, "dedup + both granules = 4 records")
    // an unknown product format fails loudly
    intercept[IllegalArgumentException] {
      Aggregate.runStream(spark, s"$tmp/in/*", s"$tmp/outx", config,
        s"$tmp/ckptx", product = "csv")
    }
  }

  test("hierarchical re-aggregation carries provenance through levels") {
    val tmp = tempDir("two_level")
    val a = writeGranule(tmp, "g_a", Seq(base, base + 1 * us))
    val b = writeGranule(tmp, "g_b", Seq(base + 3 * us, base + 4 * us))
    // level 1: two runs, each writing a _global_attrs.json sidecar
    Aggregate.run(spark, Seq(a), s"$tmp/day1", config,
      granuleAttrs = Map(a -> Map("site" -> "boulder")),
      now = () => Instant.ofEpochSecond(1700000000L)).writeParquet()
    Aggregate.run(spark, Seq(b), s"$tmp/day2", config,
      granuleAttrs = Map(b -> Map("site" -> "toulouse")),
      now = () => Instant.ofEpochSecond(1700000000L)).writeParquet()
    // level 2: aggregate the aggregates — the sidecars must be read as
    // the granules' attributes without being passed explicitly
    val attrs = Aggregate.run(spark, Seq(s"$tmp/day1", s"$tmp/day2"),
      s"$tmp/month", config,
      now = () => Instant.ofEpochSecond(1700000000L)).writeParquet()
    assert(attrs("site") === "boulder, toulouse")
    assert(attrs("input_count") === "2")
  }

  test("runStream resumes from its checkpoint without reprocessing") {
    val tmp = tempDir("stream_ckpt")
    writeGranule(s"$tmp/in", "g_a", Seq(base, base + 1 * us))
    val q1 = Aggregate.runStream(spark, s"$tmp/in/*", s"$tmp/out", config,
      s"$tmp/ckpt", watermark = "0 seconds")
    try {
      q1.processAllAvailable()
      assert(spark.read.parquet(s"$tmp/out").count() === 2)
    } finally q1.stop()
    // new granule lands while the stream is DOWN; the restarted query must
    // pick up exactly the unprocessed granule — no replay of g_a (would
    // duplicate rows), no miss of g_b
    writeGranule(s"$tmp/in", "g_b", Seq(base + 5 * us, base + 6 * us))
    val q2 = Aggregate.runStream(spark, s"$tmp/in/*", s"$tmp/out", config,
      s"$tmp/ckpt", watermark = "0 seconds")
    try {
      q2.processAllAvailable()
      val out = spark.read.parquet(s"$tmp/out")
      assert(out.count() === 4)
      assert(out.select("time").distinct().count() === 4)
    } finally q2.stop()
  }

  test("copy_from_alt falls back and map_to renames") {
    import spark.implicits._
    val df = Seq((1L, 2.0)).toDF("id", "alt_v")
    val cfg = Config(
      dims = Seq(DimSpec("record", None)),
      vars = Seq(
        VarSpec("id", Seq("record"), "bigint"),
        VarSpec("v", Seq("record"), "double", copyFromAlt = Seq("alt_v"),
          mapTo = Some("value"))),
      attrs = Nil)
    val out = Aggregate.selectVariables(df, cfg)
    assert(out.columns.toSeq === Seq("id", "value"))
    assert(out.first().getDouble(1) === 2.0)
  }
}
