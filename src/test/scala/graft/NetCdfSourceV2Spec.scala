package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Hdf5Reader, Hdf5Writer, NetCDFIngest}
import graft.sources.Hdf5Writer._

/** The `spark.read.format("netcdf")` DataSourceV2 surface
  * ([[graft.sources.NetCdfSource]]): record-range slab reads, chunk-level
  * column pruning (proven behaviorally — a corrupt unprojected variable
  * never fails the scan), within-granule splits, reported statistics. */
class NetCdfSourceV2Spec extends AnyFunSuite with SparkSpec {

  /** One granule: time (f64 record coord, chunked), b (f64, chunked,
    * shuffle+deflate), v2d ([rec, 3] f32, chunked), c (i32 contiguous
    * constant-per-file is NOT record-shaped: it spans its own dim). */
  private def writeGranule(dir: String, name: String, n: Int,
      base: Double, withExtra: Boolean = false,
      chunkRows: Int = 100): String = {
    val dst = Paths.get(dir, name)
    val timeB = java.nio.ByteBuffer.allocate(n * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach(i => timeB.putDouble(base + i))
    val bB = java.nio.ByteBuffer.allocate(n * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach(i => bB.putDouble(base * 1000 + i * 0.5))
    val vB = java.nio.ByteBuffer.allocate(n * 3 * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach(i => (0 until 3).foreach(j =>
      vB.putFloat((i * 3 + j).toFloat)))
    Hdf5Writer.streamTo(dst) { w =>
      w.dataset(WDataset("time", Seq(n.toLong), WF64, Some(timeB.array()),
        Seq("CLASS" -> WStrAttr("DIMENSION_SCALE"),
          "NAME" -> WStrAttr("time"),
          "_Netcdf4Dimid" -> WLongAttr(0, 4),
          "units" -> WStrAttr("seconds since 2020-01-01 00:00:00")),
        unlimited0 = true, chunkRows = Some(chunkRows)))
      w.dataset(WDataset("b", Seq(n.toLong), WF64, Some(bB.array()),
        Seq("DIMENSION_LIST" -> WDimListAttr(Seq("time"))),
        unlimited0 = true, chunkRows = Some(chunkRows),
        deflate = Some(6), shuffle = true))
      val coordB = java.nio.ByteBuffer.allocate(3 * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until 3).foreach(i => coordB.putDouble(i.toDouble))
      w.dataset(WDataset("coord", Seq(3L), WF64, Some(coordB.array()),
        Seq("CLASS" -> WStrAttr("DIMENSION_SCALE"),
          "NAME" -> WStrAttr("coord"),
          "_Netcdf4Dimid" -> WLongAttr(1, 4))))
      w.dataset(WDataset("v2d", Seq(n.toLong, 3L), WF32, Some(vB.array()),
        Seq("DIMENSION_LIST" -> WDimListAttr(Seq("time", "coord"))),
        unlimited0 = true, chunkRows = Some(chunkRows)))
      if (withExtra) {
        val eB = java.nio.ByteBuffer.allocate(n * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until n).foreach(i => eB.putDouble(i * 2.0))
        w.dataset(WDataset("extra", Seq(n.toLong), WF64, Some(eB.array()),
          Seq("DIMENSION_LIST" -> WDimListAttr(Seq("time"))),
          unlimited0 = true, chunkRows = Some(chunkRows)))
      }
      w.finish(Seq("title" -> WStrAttr(s"v2 fixture $name")))
    }
    dst.toString
  }

  // ------------------------------------------------------------- slab reads

  test("readSlab == full read sliced, across layouts and windows") {
    val tmp = tempDir("v2slab")
    val p = writeGranule(tmp, "g.nc", n = 250, base = 0.0, chunkRows = 64)
    val h5 = Hdf5Reader.open(p)
    try {
      for (dsName <- Seq("time", "b", "v2d")) {
        val ds = h5.datasets.find(_.name == dsName).get
        val inner = ds.shape.drop(1).product.toInt max 1
        val full = h5.read(ds)
        // windows crossing chunk boundaries, chunk-interior, edges,
        // single record, empty
        for ((lo, hi) <- Seq((0L, 250L), (0L, 64L), (10L, 20L),
            (63L, 65L), (64L, 128L), (128L, 250L), (249L, 250L),
            (70L, 70L))) {
          val slab = h5.readSlab(ds, lo, hi)
          def slice(a: AnyRef): Seq[Any] = a match {
            case arr: Array[Double] =>
              arr.slice(lo.toInt * inner, hi.toInt * inner).toSeq
            case arr: Array[Float] =>
              arr.slice(lo.toInt * inner, hi.toInt * inner).toSeq
            case arr: Array[Long] =>
              arr.slice(lo.toInt * inner, hi.toInt * inner).toSeq
          }
          def all(a: AnyRef): Seq[Any] = a match {
            case arr: Array[Double] => arr.toSeq
            case arr: Array[Float] => arr.toSeq
            case arr: Array[Long] => arr.toSeq
          }
          assert(all(slab) === slice(full),
            s"$dsName window [$lo, $hi)")
        }
      }
    } finally h5.close()
  }

  test("granuleRows range == full rows sliced (null-fill projection)") {
    val tmp = tempDir("v2rows")
    val p = writeGranule(tmp, "g.nc", n = 120, base = 5.0, chunkRows = 50)
    val schema = NetCDFIngest.granuleMeta(p).schema
    val full = NetCDFIngest.granuleRows(p, schema).toSeq
    val ranged = NetCDFIngest
      .granuleRows(p, schema, range = Some((30L, 90L))).toSeq
    assert(ranged === full.slice(30, 90))
  }

  // ----------------------------------------------------------- the v2 scan

  test("format(netcdf) == ingest rows; union schema null-fills") {
    val tmp = tempDir("v2read")
    writeGranule(tmp, "g1.nc", n = 120, base = 0.0, withExtra = true)
    writeGranule(tmp, "g2.nc", n = 80, base = 9.0)
    val df = spark.read.format("netcdf").load(tmp)
    assert(df.columns.toSeq === // HDF5 group B-trees link in name order,
      // so "first-seen" field order is alphabetical per granule; `coord`
      // is a coordinate variable (its own dim) -> constant array column
      Seq("b", "coord", "extra", "time", "v2d"))
    assert(df.count() === 200)
    // g2 lacks `extra` -> nulls there, values in g1
    assert(df.filter(col("extra").isNull).count() === 80)
    // value-level parity with the ingest path on g1
    val g1Schema = NetCDFIngest.granuleMeta(s"$tmp/g1.nc").schema
    val viaIngest = NetCDFIngest
      .granuleRows(s"$tmp/g1.nc", g1Schema).toSeq
    val viaV2 = spark.read.format("netcdf").load(s"$tmp/g1.nc")
      .collect().toSeq
    val bIdx = g1Schema.fieldIndex("b") // ingest rows carry no schema
    assert(viaV2.map(_.getAs[Double]("b")).sorted ===
      viaIngest.map(_.getDouble(bIdx)).sorted)
    // time decodes as TIMESTAMP_NTZ through the same CF-units mapping
    assert(df.schema("time").dataType === TimestampNTZType)
  }

  test("column pruning reaches the chunk level: corrupt unprojected " +
      "variable never read") {
    val tmp = tempDir("v2prune")
    val n = 100
    val goodB = java.nio.ByteBuffer.allocate(n * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach(i => goodB.putDouble(i * 1.0))
    // a recognizable payload for the to-be-corrupted variable
    val badB = java.nio.ByteBuffer.allocate(n * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach(_ => badB.putLong(0x5ca1ab1e5ca1ab1eL))
    val dst = Paths.get(tmp, "g.nc")
    Hdf5Writer.streamTo(dst) { w =>
      w.dataset(WDataset("time", Seq(n.toLong), WF64,
        Some(goodB.array()),
        Seq("CLASS" -> WStrAttr("DIMENSION_SCALE"),
          "NAME" -> WStrAttr("time"), "_Netcdf4Dimid" -> WLongAttr(0, 4),
          "units" -> WStrAttr("seconds since 2020-01-01 00:00:00")),
        unlimited0 = true, chunkRows = Some(n)))
      // fletcher32 so a flipped byte FAILS the read loudly if touched
      w.dataset(WDataset("poison", Seq(n.toLong), WInt(8),
        Some(badB.array()),
        Seq("DIMENSION_LIST" -> WDimListAttr(Seq("time"))),
        unlimited0 = true, fletcher32 = true, chunkRows = Some(n)))
      w.finish(Nil)
    }
    // corrupt the poison payload in place (find its magic bytes)
    val bytes = Files.readAllBytes(dst)
    val magic = Array[Byte](0x1e, 0xab.toByte, 0xa1.toByte, 0x5c)
    val at = bytes.indices.find(i => i + 4 <= bytes.length &&
      (0 until 4).forall(j => bytes(i + j) == magic(j))).get
    bytes(at) = (bytes(at) ^ 0xff).toByte
    Files.write(dst, bytes, StandardOpenOption.TRUNCATE_EXISTING)
    val df = spark.read.format("netcdf").load(dst.toString)
    // projecting AROUND the corrupt variable succeeds -> its chunks were
    // never read (the pruning claim, proven behaviorally)
    assert(df.select("time").count() === n)
    assert(df.select(max("time")).collect().head.get(0) != null)
    // projecting THE corrupt variable fails loudly (fletcher mismatch)
    val e = intercept[Exception] {
      df.select("poison").collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("fletcher32")))
    // and the pruned ReadSchema is visible in the plan description
    val plan = df.select("time").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<time:timestamp_ntz>"))
    assert(!plan.contains("poison:"))
  }

  test("COUNT(*) pushes to header metadata: answers with EVERY data " +
      "chunk corrupt") {
    val tmp = tempDir("v2count")
    val n = 77
    def magicPayload(m: Long): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(n * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until n).foreach(_ => b.putLong(m))
      b.array()
    }
    val dst = Paths.get(tmp, "g.nc")
    Hdf5Writer.streamTo(dst) { w =>
      w.dataset(WDataset("time", Seq(n.toLong), WInt(8),
        Some(magicPayload(0x0123456789abcdefL)),
        Seq("CLASS" -> WStrAttr("DIMENSION_SCALE"),
          "NAME" -> WStrAttr("time"), "_Netcdf4Dimid" -> WLongAttr(0, 4)),
        unlimited0 = true, fletcher32 = true, chunkRows = Some(n)))
      w.dataset(WDataset("x", Seq(n.toLong), WInt(8),
        Some(magicPayload(0x5ca1ab1e5ca1ab1eL)),
        Seq("DIMENSION_LIST" -> WDimListAttr(Seq("time"))),
        unlimited0 = true, fletcher32 = true, chunkRows = Some(n)))
      w.finish(Nil)
    }
    // corrupt BOTH variables' payloads — only the header stays readable
    val bytes = Files.readAllBytes(dst)
    for (magic <- Seq(Array[Byte](0xef.toByte, 0xcd.toByte, 0xab.toByte,
        0x89.toByte), Array[Byte](0x1e, 0xab.toByte, 0xa1.toByte, 0x5c))) {
      val at = bytes.indices.find(i => i + 4 <= bytes.length &&
        (0 until 4).forall(j => bytes(i + j) == magic(j))).get
      bytes(at) = (bytes(at) ^ 0xff).toByte
    }
    Files.write(dst, bytes, StandardOpenOption.TRUNCATE_EXISTING)
    val df = spark.read.format("netcdf").load(dst.toString)
    // Dataset.count() and groupBy().count() both answer from metadata
    assert(df.count() === n)
    val cdf = df.groupBy().count()
    assert(cdf.collect().head.getLong(0) === n)
    assert(cdf.queryExecution.executedPlan.toString
      .contains("NetCdfMetaAggScan"),
      "count(*) should plan the metadata-only scan")
    // any DATA read fails loudly — proving the count touched no chunks
    intercept[Exception] { df.select("x").collect() }
    intercept[Exception] { df.select("time").collect() }
    // a grouped count pushes only PARTIALLY (per-slice partials still
    // read the group column's data chunks) — corrupt chunks fail loudly
    intercept[Exception] { df.groupBy("x").count().collect() }
  }

  test("grouped aggregates push PARTIALLY: per-slice group partials " +
      "merge across splits and granules; unused chunks never read") {
    val tmp = tempDir("v2pagg")
    val n = 500
    def ints(f: Int => Long): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(n * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until n).foreach(i => b.putLong(f(i)))
      b.array()
    }
    def granule(name: String, off: Int): java.nio.file.Path = {
      val dst = Paths.get(tmp, name)
      Hdf5Writer.streamTo(dst) { w =>
        w.dataset(WDataset("time", Seq(n.toLong), WInt(8),
          Some(ints(i => (off + i).toLong)),
          Seq("CLASS" -> WStrAttr("DIMENSION_SCALE"),
            "NAME" -> WStrAttr("time"),
            "_Netcdf4Dimid" -> WLongAttr(0, 4)),
          unlimited0 = true, chunkRows = Some(100)))
        w.dataset(WDataset("tag", Seq(n.toLong), WInt(8),
          Some(ints(i => (i % 3).toLong)),
          Seq("DIMENSION_LIST" -> WDimListAttr(Seq("time"))),
          unlimited0 = true, chunkRows = Some(100)))
        w.dataset(WDataset("x", Seq(n.toLong), WInt(8),
          Some(ints(i => (off + i).toLong)),
          Seq("DIMENSION_LIST" -> WDimListAttr(Seq("time"))),
          unlimited0 = true, chunkRows = Some(100)))
        w.dataset(WDataset("junk", Seq(n.toLong), WInt(8),
          Some(ints(_ => 0x5ca1ab1edeadbeefL)),
          Seq("DIMENSION_LIST" -> WDimListAttr(Seq("time"))),
          unlimited0 = true, fletcher32 = true, chunkRows = Some(n)))
        val dB = java.nio.ByteBuffer.allocate(n * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until n).foreach(i => dB.putDouble(i * 0.5))
        w.dataset(WDataset("d", Seq(n.toLong), WF64, Some(dB.array()),
          Seq("DIMENSION_LIST" -> WDimListAttr(Seq("time"))),
          unlimited0 = true, chunkRows = Some(100)))
        w.finish(Nil)
      }
      dst
    }
    granule("g1.nc", 0)
    val g2 = granule("g2.nc", n)
    // corrupt the UNUSED variable's only chunk in g2 — a partial agg
    // that reads it would fail its fletcher32 check loudly
    val bytes = Files.readAllBytes(g2)
    val magic = Array[Byte](0xef.toByte, 0xbe.toByte, 0xad.toByte,
      0xde.toByte)
    val at = bytes.indices.find(i => i + 4 <= bytes.length &&
      (0 until 4).forall(j => bytes(i + j) == magic(j))).get
    bytes(at) = (bytes(at) ^ 0xff).toByte
    Files.write(g2, bytes, StandardOpenOption.TRUNCATE_EXISTING)

    val df = spark.read.format("netcdf").option("recdim", "time")
      .option("splitrows", "100").load(tmp)
    val agg = df.groupBy("tag").agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"),
      min(col("x")).as("mn"), max(col("x")).as("mx"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("NetCdfPartialAggScan"),
      s"grouped agg should plan the partial-aggregate scan:\n$plan")
    // 10 slices (2 granules x 5 chunk-aligned splits) => per-slice
    // partials really merge in Spark's final aggregation
    assert(plan.contains("splits=10"), plan)
    val got = agg.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // oracle by construction: tags 0/1/2 cycle over x = 0..999
    val all = (0 until 2 * n).map(i => ((i % n) % 3).toLong -> i.toLong)
    val want = all.groupBy(_._1).map { case (t, xs) =>
      val v = xs.map(_._2)
      t -> ((v.size.toLong, v.sum, v.min, v.max))
    }
    assert(got === want)
    // the junk variable is corrupt: reading it fails loudly, proving
    // the partial agg's column pruning reached the chunk level
    intercept[Exception] { df.select("junk").collect() }
    // null-skipping count(col) and a grouped count push too
    val c2 = df.groupBy("tag").agg(count(col("x")).as("c"))
    assert(c2.queryExecution.executedPlan.toString
      .contains("NetCdfPartialAggScan"))
    assert(c2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      want.map { case (t, v) => t -> v._1 })
    // AVG splits into sum+count ABOVE the source (Spark's rewrite), so
    // it rides the same partial pushdown and reconstructs exactly
    val av = df.groupBy("tag").agg(avg(col("x")).as("a"))
    assert(av.queryExecution.executedPlan.toString
      .contains("NetCdfPartialAggScan"))
    assert(av.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ===
      want.map { case (t, v) => t -> v._2.toDouble / v._1 })
    // a SUM over floating point declines (per-slice accumulation would
    // reorder the sum): the plan falls back to the record scan
    val dec = df.groupBy("tag").agg(sum(col("d")))
    assert(!dec.queryExecution.executedPlan.toString
      .contains("NetCdfPartialAggScan"))
  }

  test("limit pushdown: a peek query plans only the covering slice " +
      "prefix, never the archive") {
    val tmp = tempDir("v2limit")
    writeGranule(tmp, "g1.nc", n = 400, base = 0.0, chunkRows = 100)
    writeGranule(tmp, "g2.nc", n = 400, base = 400.0, chunkRows = 100)
    val df = spark.read.format("netcdf").option("recdim", "time")
      .option("splitrows", "100").load(tmp)
    val lim = df.select("b").limit(50)
    val plan = lim.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: 50"), plan)
    assert(plan.contains("splits=1"),
      s"a 50-row peek must plan one 100-record slice, not 8:\n$plan")
    val got = lim.collect().map(_.getDouble(0)).toSeq
    // granule 1's first slice in record order, trimmed exactly by
    // Spark's own Limit above the scan
    assert(got === (0 until 50).map(i => i * 0.5))
    // an unrelated action plans the full 8 splits again
    assert(df.select("b").count() === 800)
  }

  test("TopN pushdown on the sorted coordinate: the archive-tail query " +
      "opens the tail granule, not the fleet") {
    val tmp = tempDir("v2topn")
    // three disjoint sorted granules: time 0..399, 400..799, 800..1199
    writeGranule(tmp, "g1.nc", n = 400, base = 0.0, chunkRows = 100)
    writeGranule(tmp, "g2.nc", n = 400, base = 400.0, chunkRows = 100)
    writeGranule(tmp, "g3.nc", n = 400, base = 800.0, chunkRows = 100)
    val df = spark.read.format("netcdf").option("recdim", "time")
      .option("splitrows", "100").option("sortedby", "time").load(tmp)
    // "latest 120 records" — the operational tail query
    val tail = df.select("time", "b").orderBy(col("time").desc).limit(120)
    val tplan = tail.queryExecution.executedPlan.toString
    assert(tplan.contains("PushedTopN: time DESC limit=120"), tplan)
    assert(tplan.contains("splits=4"),
      s"the tail peek must plan only granule 3's four slices:\n$tplan")
    val got = tail.collect().map(_.getDouble(1)).toSeq
    // b = base*1000 + i*0.5 — the last 120 records of granule 3
    assert(got === (399 to 280 by -1).map(i => 800.0 * 1000 + i * 0.5))
    // ascending head, straddling one granule boundary (500 > 400)
    val head = df.select("b").orderBy("time").limit(500)
    val hplan = head.queryExecution.executedPlan.toString
    assert(hplan.contains("PushedTopN: time ASC limit=500"), hplan)
    assert(hplan.contains("splits=8"),
      s"a 500-row head covers granules 1+2 (8 slices):\n$hplan")
    assert(head.collect().length === 500)
    // ordering on a NON-declared column declines: full fleet planned
    val dec = df.orderBy("b").limit(10)
    assert(!dec.queryExecution.executedPlan.toString.contains("PushedTopN"))
  }

  test("one granule fans out into chunk-aligned record-range splits") {
    val tmp = tempDir("v2split")
    val p = writeGranule(tmp, "g.nc", n = 1000, base = 0.0,
      chunkRows = 100)
    // splitrows=250 aligns DOWN to 200 (2 chunks/split) -> 5 slices
    val df = spark.read.format("netcdf")
      .option("splitrows", "250").load(p)
      .select("b")
    assert(df.rdd.getNumPartitions === 5)
    // every record exactly once across the splits
    val viaSplit = df.agg(sum("b"), count("*")).collect().head
    val one = spark.read.format("netcdf").load(p)
    val whole = one.agg(sum("b"), count("*")).collect().head
    assert(viaSplit === whole)
    // a sub-chunk request clamps UP to one chunk per split
    val tiny = spark.read.format("netcdf")
      .option("splitrows", "37").load(p).select("time")
    assert(tiny.rdd.getNumPartitions === 10)
    assert(tiny.distinct().count() === 1000)
  }

  test("MIN/MAX of the sorted time coordinate push to end-record " +
      "probes: archive coverage without a scan") {
    val tmp = tempDir("v2minmax")
    // two granules, clean sorted `time`, POISONED `b` in the first
    val n1 = 40
    val timeB = java.nio.ByteBuffer.allocate(n1 * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n1).foreach(i => timeB.putDouble(5.0 + i))
    val poison = java.nio.ByteBuffer.allocate(n1 * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n1).foreach(_ => poison.putLong(0x5ca1ab1e5ca1ab1eL))
    val g1 = Paths.get(tmp, "g1.nc")
    Hdf5Writer.streamTo(g1) { w =>
      w.dataset(WDataset("time", Seq(n1.toLong), WF64,
        Some(timeB.array()),
        Seq("CLASS" -> WStrAttr("DIMENSION_SCALE"),
          "NAME" -> WStrAttr("time"), "_Netcdf4Dimid" -> WLongAttr(0, 4),
          "units" -> WStrAttr("seconds since 2020-01-01 00:00:00")),
        unlimited0 = true, chunkRows = Some(n1)))
      w.dataset(WDataset("b", Seq(n1.toLong), WF64, Some(poison.array()),
        Seq("DIMENSION_LIST" -> WDimListAttr(Seq("time"))),
        unlimited0 = true, fletcher32 = true, chunkRows = Some(n1)))
      w.finish(Nil)
    }
    val bytes = Files.readAllBytes(g1)
    val magic = Array[Byte](0x1e, 0xab.toByte, 0xa1.toByte, 0x5c)
    val at = bytes.indices.find(i => i + 4 <= bytes.length &&
      (0 until 4).forall(j => bytes(i + j) == magic(j))).get
    bytes(at) = (bytes(at) ^ 0xff).toByte
    Files.write(g1, bytes, StandardOpenOption.TRUNCATE_EXISTING)
    writeGranule(tmp, "g2.nc", n = 60, base = 500.0)
    val df = spark.read.format("netcdf").option("sortedby", "time")
      .load(tmp)
    val agg = df.agg(min("time"), max("time"), count(lit(1)))
    // the data var `b` is corrupt in g1, yet coverage answers — only
    // the coordinate's END records were probed
    val row = agg.collect().head
    assert(row.getAs[java.time.LocalDateTime](0) ===
      java.time.LocalDateTime.of(2020, 1, 1, 0, 0, 5))
    assert(row.getAs[java.time.LocalDateTime](1) ===
      java.time.LocalDateTime.of(2020, 1, 1, 0, 9, 19)) // 500+59 s
    assert(row.getLong(2) === 100L)
    assert(agg.queryExecution.executedPlan.toString
      .contains("NetCdfMetaAggScan"))
    // min/max of a NON-coordinate column is declined (its answer lives
    // in the data chunks) -> the scan reads `b` -> g1's corruption
    // surfaces loudly
    intercept[Exception] { df.agg(min("b")).collect() }
  }

  test("sortedby range pruning: disjoint granule never opened, " +
      "boundary granule record-clipped") {
    val tmp = tempDir("v2range")
    val n1 = 60
    // g1 covers seconds [0, 60): clean sorted `time`, POISONED `b`
    // (uncompressed + fletcher32 so a flipped byte fails loudly IF read)
    val timeB = java.nio.ByteBuffer.allocate(n1 * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n1).foreach(i => timeB.putDouble(i.toDouble))
    val poison = java.nio.ByteBuffer.allocate(n1 * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n1).foreach(_ => poison.putLong(0x5ca1ab1e5ca1ab1eL))
    val g1 = Paths.get(tmp, "g1.nc")
    Hdf5Writer.streamTo(g1) { w =>
      w.dataset(WDataset("time", Seq(n1.toLong), WF64,
        Some(timeB.array()),
        Seq("CLASS" -> WStrAttr("DIMENSION_SCALE"),
          "NAME" -> WStrAttr("time"), "_Netcdf4Dimid" -> WLongAttr(0, 4),
          "units" -> WStrAttr("seconds since 2020-01-01 00:00:00")),
        unlimited0 = true, chunkRows = Some(n1)))
      w.dataset(WDataset("b", Seq(n1.toLong), WF64, Some(poison.array()),
        Seq("DIMENSION_LIST" -> WDimListAttr(Seq("time"))),
        unlimited0 = true, fletcher32 = true, chunkRows = Some(n1)))
      w.finish(Nil)
    }
    val bytes = Files.readAllBytes(g1)
    val magic = Array[Byte](0x1e, 0xab.toByte, 0xa1.toByte, 0x5c)
    val at = bytes.indices.find(i => i + 4 <= bytes.length &&
      (0 until 4).forall(j => bytes(i + j) == magic(j))).get
    bytes(at) = (bytes(at) ^ 0xff).toByte
    Files.write(g1, bytes, StandardOpenOption.TRUNCATE_EXISTING)
    // g2 covers seconds [1000, 1120)
    writeGranule(tmp, "g2.nc", n = 120, base = 1000.0, chunkRows = 40)
    val cutoff = java.time.LocalDateTime.of(2020, 1, 1, 0, 16, 40) // +1000s
    def q(sorted: Boolean) = {
      val r = spark.read.format("netcdf")
      (if (sorted) r.option("sortedby", "time") else r)
        .load(tmp).select("time", "b")
        .filter(col("time") >= lit(cutoff))
    }
    // pruned: g1 is disjoint with [cutoff, inf) -> its poisoned `b`
    // chunks are never read, the query succeeds on g2's 120 rows
    assert(q(sorted = true).count() === 120)
    // unpruned: the same query must read g1's `b` -> loud failure
    intercept[Exception] { q(sorted = false).collect() }
    // the pushed range is visible in the plan
    assert(q(sorted = true).queryExecution.executedPlan.toString
      .contains("PushedRange: time"))

    // boundary clipping inside ONE granule: 1000 records, 100/chunk,
    // splitrows=100 -> 10 splits unfiltered; a [450s, 550s) band clips
    // to records [400, 550) on the chunk grid -> exactly 2 splits
    val tmp2 = tempDir("v2range2")
    writeGranule(tmp2, "g.nc", n = 1000, base = 0.0, chunkRows = 100)
    def band(sorted: Boolean) = {
      val r = spark.read.format("netcdf").option("splitrows", "100")
      (if (sorted) r.option("sortedby", "time") else r)
        .load(tmp2).select("time", "b")
        .filter(col("time") >=
          lit(java.time.LocalDateTime.of(2020, 1, 1, 0, 7, 30)) &&
          col("time") <
          lit(java.time.LocalDateTime.of(2020, 1, 1, 0, 9, 10)))
    }
    assert(band(sorted = false).rdd.getNumPartitions === 10)
    assert(band(sorted = true).rdd.getNumPartitions === 2)
    // same answer either way — pruning narrows reads, not semantics
    assert(band(sorted = true).count() === 100)
    assert(band(sorted = false).count() === 100)
  }

  test("stats-sidecar pruning: a range on an ARBITRARY column never " +
      "opens disjoint granules; the sink writes the sidecars") {
    // parquet prunes row groups on EVERY column's min/max stats; HDF5
    // headers carry none — the write-side `<granule>.nc.stats.json`
    // sidecar closes that gap. Part 1 proves the prune with the
    // corrupt-granule trick: g1's data chunks are poisoned, its sidecar
    // says b in [0, 59.5], and the query's b >= 500000 band must never
    // open it. g2 has NO sidecar (a foreign granule) and is admitted.
    val tmp = tempDir("v2colstats")
    val n1 = 60
    val timeB = java.nio.ByteBuffer.allocate(n1 * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n1).foreach(i => timeB.putDouble(i.toDouble))
    val poison = java.nio.ByteBuffer.allocate(n1 * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n1).foreach(_ => poison.putLong(0x5ca1ab1e5ca1ab1eL))
    val g1 = Paths.get(tmp, "g1.nc")
    Hdf5Writer.streamTo(g1) { w =>
      w.dataset(WDataset("time", Seq(n1.toLong), WF64,
        Some(timeB.array()),
        Seq("CLASS" -> WStrAttr("DIMENSION_SCALE"),
          "NAME" -> WStrAttr("time"), "_Netcdf4Dimid" -> WLongAttr(0, 4),
          "units" -> WStrAttr("seconds since 2020-01-01 00:00:00")),
        unlimited0 = true, chunkRows = Some(n1)))
      w.dataset(WDataset("b", Seq(n1.toLong), WF64, Some(poison.array()),
        Seq("DIMENSION_LIST" -> WDimListAttr(Seq("time"))),
        unlimited0 = true, fletcher32 = true, chunkRows = Some(n1)))
      w.finish(Nil)
    }
    val bytes = Files.readAllBytes(g1)
    val magic = Array[Byte](0x1e, 0xab.toByte, 0xa1.toByte, 0x5c)
    val at = bytes.indices.find(i => i + 4 <= bytes.length &&
      (0 until 4).forall(j => bytes(i + j) == magic(j))).get
    bytes(at) = (bytes(at) ^ 0xff).toByte
    Files.write(g1, bytes, StandardOpenOption.TRUNCATE_EXISTING)
    Files.writeString(Paths.get(tmp, "g1.nc.stats.json"),
      """{"b": [0.0, 59.5]}""")
    writeGranule(tmp, "g2.nc", n = 120, base = 1000.0) // b in [1e6, ...]
    def q() = spark.read.format("netcdf").load(tmp)
      .select("time", "b").filter(col("b") >= 500000.0)
    assert(q().count() === 120,
      "the disjoint poisoned granule must be pruned, g2 fully read")
    assert(q().queryExecution.executedPlan.toString
      .contains("PushedStatsRanges: b"))
    // no sidecar -> admitted -> the poisoned chunks ARE read: loud fail
    Files.delete(Paths.get(tmp, "g1.nc.stats.json"))
    intercept[Exception] { q().collect() }

    // part 2: the granule-set sink emits a sidecar per granule, and a
    // band on a NON-sorted column plans only the covering granule
    import org.apache.spark.sql.SaveMode
    val out = tempDir("v2statsink") + "/gr"
    val df = spark.range(0, 300)
      .withColumn("ts", expr("timestampadd(SECOND, CAST(id AS INT), " +
        "TIMESTAMP_NTZ'2024-01-01 00:00:00')"))
      .withColumn("sensor", col("id") * 2) // time-correlated, NOT declared
      .withColumn("v", col("id").cast("double") / 4.0)
    df.write.format("netcdf").option("indexby", "ts")
      .option("maxrecordsperfile", "100")
      .mode(SaveMode.Overwrite).save(out)
    val files = new java.io.File(out).listFiles()
    val granules = files.count(_.getName.endsWith(".nc"))
    assert(granules >= 3)
    assert(files.count(_.getName.endsWith(".nc.stats.json")) === granules,
      "every granule must carry a stats sidecar")
    // sensor = 2*id: granule windows [0,198], [200,398], [400,598];
    // the [250, 350] band covers only the middle granule
    def scan() = spark.read.format("netcdf").load(out)
    val banded = scan().filter(col("sensor") >= 250L &&
      col("sensor") <= 350L)
    assert(banded.rdd.getNumPartitions <
      scan().rdd.getNumPartitions,
      "the band must plan fewer granules than the full scan")
    // semantics unchanged: residual filters still evaluate exactly
    assert(banded.count() === 51) // ids 125..175
    assert(banded.agg(sum("id")).collect().head.getLong(0) ===
      (125L to 175L).sum)
  }

  test("reported statistics scale with the projection") {
    val tmp = tempDir("v2stats")
    val p = writeGranule(tmp, "g.nc", n = 400, base = 0.0)
    def sizeOf(df: org.apache.spark.sql.DataFrame): BigInt =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    val all = spark.read.format("netcdf").load(p)
    val pruned = all.select("time")
    assert(sizeOf(pruned) < sizeOf(all),
      "pruned scan must report a smaller size")
    // and a small granule table auto-broadcasts in a join
    val fact = spark.range(1000).withColumn("k",
      (col("id") % 400).cast("double"))
    val dim = spark.read.format("netcdf").load(p)
      .withColumn("k", col("b") - col("b") + 1.0)
    val joined = fact.join(dim, "k")
    val hasBroadcast = joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin")
    assert(hasBroadcast, "small netcdf dim should broadcast")
  }

  test("readStream.format(netcdf): growing granule feed, " +
      "exactly-once across restarts") {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = tempDir("v2stream")
    val ckpt = tempDir("v2stream_ckpt")
    val out = tempDir("v2stream_out") + "/sink"
    writeGranule(tmp, "g001.nc", n = 50, base = 0.0)
    writeGranule(tmp, "g002.nc", n = 30, base = 100.0)
    def drain(): Unit = {
      val q = spark.readStream.format("netcdf").load(tmp)
        .select("time", "b")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(out).count() === 80)
    // a new granule lands; the restarted query (same checkpoint, durable
    // sink) must append ONLY its rows — a re-read of g001/g002 would
    // land duplicates
    writeGranule(tmp, "g003.nc", n = 20, base = 200.0)
    drain()
    val sunk = spark.read.parquet(out)
    assert(sunk.count() === 100)
    // and the accumulated sink equals the batch scan of the full dir
    val batchSum = spark.read.format("netcdf").load(tmp)
      .agg(sum("b")).collect().head.getDouble(0)
    assert(math.abs(
      sunk.agg(sum("b")).collect().head.getDouble(0) - batchSum) < 1e-6)
  }

  test("writeStream.format(netcdf): granule feed IN -> granule product " +
      "OUT, re-ingests and matches the batch pipeline exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    val src = tempDir("v2snk_src")
    val ckpt = tempDir("v2snk_ckpt")
    val out = tempDir("v2snk_out") + "/product"
    writeGranule(src, "g001.nc", n = 50, base = 0.0)
    writeGranule(src, "g002.nc", n = 30, base = 100.0)
    // the pipeline: ingest granules, keep a band, derive a column, EMIT
    // granules — the reference's own product format, end-to-end streaming
    def transform(df: org.apache.spark.sql.DataFrame) = df
      .select("time", "b").filter(col("b") >= 0.0)
      .withColumn("b2", col("b") * 2.0)
    def drain(): Unit = {
      val q = transform(spark.readStream.format("netcdf").load(src))
        .writeStream.format("netcdf")
        .option("checkpointLocation", ckpt)
        .option("indexby", "time").option("chunkrows", "40")
        .trigger(Trigger.AvailableNow()).start(out)
      q.awaitTermination()
    }
    drain()
    val names1 = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.endsWith(".nc")).sorted.toSeq
    assert(names1.nonEmpty && names1.forall(_.startsWith("stream-")),
      s"expected stream-<batch>-<part>.nc names, got $names1")
    // the product feed re-ingests through the same scan and matches the
    // batch rendering of the same pipeline
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Any]("time").toString, r.getDouble(1), r.getDouble(2))
    def sunk() = spark.read.format("netcdf").load(out)
      .select("time", "b", "b2").collect().map(key).sorted.toSeq
    def batchRendering() =
      transform(spark.read.format("netcdf").load(src))
        .collect().map(key).sorted.toSeq
    assert(sunk() === batchRendering(),
      "the streamed product must equal the batch pipeline row-for-row")
    // a later granule: the restarted query (same checkpoint) emits ONLY
    // its rows, as lexically-LATER stream granules — the product dir is
    // itself a valid append-only feed for the streaming source
    writeGranule(src, "g003.nc", n = 20, base = 200.0)
    drain()
    val names2 = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.endsWith(".nc")).sorted.toSeq
    assert(names2.size > names1.size)
    assert(names2.take(names1.size) === names1,
      "earlier product granules must be untouched and sort first")
    assert(sunk() === batchRendering(),
      "after the new granule the product must still match the batch " +
        "pipeline — no duplicates, no gaps (exactly-once restart)")
    // the product granules carry stats sidecars -> the product feed
    // prunes on arbitrary columns too
    assert(new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".nc.stats.json")) === names2.size)
    // update/complete modes are refused loudly
    intercept[Exception] {
      transform(spark.readStream.format("netcdf").load(src))
        .writeStream.format("netcdf").outputMode("update")
        .option("checkpointLocation",
          tempDir("v2snk_ck2"))
        .trigger(Trigger.AvailableNow()).start(out)
    }
  }

  test("df.write.format(netcdf): granule-set sink round-trips through " +
      "the scan; all four save modes") {
    import org.apache.spark.sql.SaveMode
    val out = tempDir("v2write") + "/granules"
    val df = spark.range(0, 250)
      .withColumn("ts", expr(
        "timestampadd(SECOND, CAST(id AS INT), TIMESTAMP_NTZ'2024-01-01 00:00:00')"))
      .withColumn("v", col("id").cast("double") / 4.0)
      .withColumn("tag", concat(lit("t"), col("id") % 3))
      .withColumn("vec", array(col("v"), col("v") * 2.0, lit(7.0)))
    df.write.format("netcdf")
      .option("indexby", "ts").option("chunkrows", "64")
      .option("deflate", "1").option("shuffle", "true")
      .option("maxrecordsperfile", "100")
      .mode(SaveMode.Overwrite).save(out)
    // >= 3 granules (250 rows, 100/file), readable back through the scan
    assert(new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".nc")) >= 3)
    val back = spark.read.format("netcdf").load(out)
    assert(back.count() === 250)
    assert(back.schema("ts").dataType === TimestampNTZType)
    assert(back.agg(sum("id"), sum("v")).collect().head ===
      df.agg(sum("id"), sum("v")).collect().head)
    // array column round-trips elementwise
    def vecSum(d: org.apache.spark.sql.DataFrame): Double = d
      .select(expr("aggregate(vec, CAST(0 AS DOUBLE), (a, x) -> a + x)")
        .as("s"))
      .agg(sum("s")).collect().head.getDouble(0)
    assert(vecSum(back) === vecSum(df))
    // strings survive (fixed-width, NUL-truncated)
    assert(back.select("tag").distinct().collect().map(_.getString(0))
      .toSet === Set("t0", "t1", "t2"))
    // append: job-unique names, rows add up
    df.limit(50).write.format("netcdf").mode(SaveMode.Append).save(out)
    assert(spark.read.format("netcdf").load(out).count() === 300)
    // errorifexists refuses a non-empty target; ignore no-ops
    intercept[Exception] {
      df.write.format("netcdf").mode(SaveMode.ErrorIfExists).save(out)
    }
    df.limit(7).write.format("netcdf").mode(SaveMode.Ignore).save(out)
    assert(spark.read.format("netcdf").load(out).count() === 300)
    // overwrite replaces everything
    df.limit(20).write.format("netcdf").mode(SaveMode.Overwrite).save(out)
    assert(spark.read.format("netcdf").load(out).count() === 20)
    // the written feed streams: indexby layout + lexical names
    val pruned = spark.read.format("netcdf").option("sortedby", "ts")
      .load(out)
      .filter(col("ts") >= lit(java.time.LocalDateTime
        .of(2024, 1, 1, 0, 0, 10)))
    assert(pruned.count() === 10)
  }

  test("compactGranules: small granules merge range-sorted, scan parity, " +
      "sidecars + pruning survive, half-full rule converges, crash " +
      "rolls forward") {
    import org.apache.spark.sql.SaveMode
    import graft.sources.NetCDFWrite
    val out = tempDir("v2compact") + "/store"
    val df = spark.range(0, 300)
      .withColumn("ts", expr("timestampadd(SECOND, CAST(id AS INT), " +
        "TIMESTAMP_NTZ'2024-01-01 00:00:00')"))
      .withColumn("v", col("id").cast("double") / 4.0)
    df.write.format("netcdf").option("indexby", "ts")
      .option("maxrecordsperfile", "25")
      .mode(SaveMode.Overwrite).save(out)
    def ncFiles() = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".nc")).map(_.getName).sorted
    val nBefore = ncFiles().length
    assert(nBefore === 12, "fixture: 300 rows at 25/file")
    val before = spark.read.format("netcdf").load(out)
      .orderBy("id").collect().map(_.toString).toSeq

    val rep = NetCDFWrite.compactGranules(spark, out, "record",
      Some("ts"), targetRecords = 150, NetCDFWrite.NcOpts())
    assert(rep.nBefore === 12 && rep.nAfter === 2)
    assert(rep.removed.size === 12 && rep.kept.isEmpty)
    assert(rep.compacted.size === 2)
    assert(ncFiles().length === 2)
    // scan parity: same rows, bit for bit
    val after = spark.read.format("netcdf").load(out)
      .orderBy("id").collect().map(_.toString).toSeq
    assert(after === before)
    // fresh stats sidecars on every merged granule; originals' gone
    rep.compacted.foreach(p =>
      assert(new java.io.File(p + ".stats.json").exists, s"sidecar of $p"))
    rep.removed.foreach(p =>
      assert(!new java.io.File(p + ".stats.json").exists))
    // the indexby rewrite keeps granules range-disjoint: sorted pruning
    // still answers the tail query from ONE granule's records
    val pruned = spark.read.format("netcdf").option("sortedby", "ts")
      .load(out)
      .filter(col("ts") >= lit(java.time.LocalDateTime
        .of(2024, 1, 1, 0, 4, 50)))
    assert(pruned.count() === 10)
    // half-full rule: 150-record outputs never re-qualify -> no-op
    val rep2 = NetCDFWrite.compactGranules(spark, out, "record",
      Some("ts"), targetRecords = 150, NetCDFWrite.NcOpts())
    assert(rep2.compacted.isEmpty && rep2.nAfter === 2 &&
      rep2.removed.isEmpty)

    // crash roll-forward: a temp dir WITH a manifest means the rewrite
    // completed and the swap must finish — staged granule moves in,
    // manifest-named original is deleted — before the next run plans
    val live = ncFiles()
    val stagedName = "compact-9999999999999-00000.nc"
    val tmp = Paths.get(out, ".compact.tmp")
    Files.createDirectories(tmp)
    Files.move(Paths.get(out, live(0)), tmp.resolve(stagedName))
    Files.move(Paths.get(out, live(0) + ".stats.json"),
      tmp.resolve(stagedName + ".stats.json"))
    val victim = Paths.get(out, live(1)).toString
    Files.writeString(tmp.resolve("_compact_manifest.json"),
      "[\"" + victim.replace("\\", "\\\\") + "\"]")
    val rep3 = NetCDFWrite.compactGranules(spark, out, "record",
      Some("ts"), targetRecords = 150, NetCDFWrite.NcOpts())
    assert(!Files.isDirectory(tmp), "temp dir cleared")
    assert(ncFiles().toSeq === Seq(stagedName), "staged in, victim out")
    assert(!new java.io.File(victim).exists)
    assert(rep3.nAfter === 1)
    assert(spark.read.format("netcdf").load(out).count() === 150)

    // a temp dir WITHOUT a manifest is an incomplete rewrite: rolled
    // back untouched
    Files.createDirectories(tmp)
    Files.writeString(tmp.resolve("compact-0000000000000-00000.nc"),
      "junk")
    val rep4 = NetCDFWrite.compactGranules(spark, out, "record",
      Some("ts"), targetRecords = 150, NetCDFWrite.NcOpts())
    assert(!Files.isDirectory(tmp) && rep4.nAfter === 1)
    assert(ncFiles().toSeq === Seq(stagedName))
  }

  test("compaction: pending-manifest snapshot keeps batch reads " +
      "consistent mid-swap; name-based manifest survives a store move; " +
      "floor sizing never emits re-qualifying granules") {
    import org.apache.spark.sql.SaveMode
    import graft.sources.NetCDFWrite
    val root = Paths.get(tempDir("v2pending"))
    val out = root.toString + "/store"
    val df = spark.range(0, 300)
      .withColumn("ts", expr("timestampadd(SECOND, CAST(id AS INT), " +
        "TIMESTAMP_NTZ'2024-01-01 00:00:00')"))
      .withColumn("v", col("id").cast("double") / 4.0)
    df.write.format("netcdf").option("indexby", "ts")
      .option("maxrecordsperfile", "150")
      .mode(SaveMode.Overwrite).save(out)
    def ncNames(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".nc")).map(_.getName).sorted.toSeq
    val Seq(g1, g2) = ncNames(out)
    // a merged replacement granule (all 300 records), staged elsewhere
    val mergedDir = root.toString + "/merged"
    df.write.format("netcdf").option("indexby", "ts")
      .mode(SaveMode.Overwrite).save(mergedDir)
    val repl = "compact-1111111111111-00000.nc"
    // crash scenario A (mid-MOVE): replacement already moved into the
    // store, originals not yet deleted, manifest pending. A naive
    // listing reads 600 records; the snapshot must read the PRE view
    Files.copy(Paths.get(mergedDir, ncNames(mergedDir).head),
      Paths.get(out, repl))
    val tmp = Paths.get(out, ".compact.tmp")
    Files.createDirectories(tmp)
    Files.writeString(tmp.resolve("_compact_manifest.json"),
      s"""{"originals": ["$g1", "$g2"], "staged": ["$repl"]}""")
    val pre = spark.read.format("netcdf").load(out)
    assert(pre.count() === 300,
      "mid-swap read must not double-count (pre-compaction view)")
    assert(pre.agg(sum("id")).collect().head.getLong(0) ===
      (0L until 300L).sum)
    // crash scenario B (mid-DELETE): one original already gone — every
    // move completed by construction, so reads take the POST view
    Files.delete(Paths.get(out, g1))
    val post = spark.read.format("netcdf").load(out)
    assert(post.count() === 300,
      "mid-delete read must take the replacement, not the stale original")
    assert(post.agg(sum("id")).collect().head.getLong(0) ===
      (0L until 300L).sum)
    // the store MOVES between the crash and the repair: the name-based
    // manifest still resolves, so the stale original is deleted for
    // real (an absolute-path manifest would silently no-op here)
    val moved = root.toString + "/store-moved"
    Files.move(Paths.get(out), Paths.get(moved))
    NetCDFWrite.compactGranules(spark, moved, "record",
      Some("ts"), targetRecords = 1 << 20, NetCDFWrite.NcOpts())
    assert(ncNames(moved) === Seq(repl),
      "roll-forward after a store move must still delete the originals")
    assert(spark.read.format("netcdf").load(moved).count() === 300)
    // floor sizing: 300 records at target 130 merge into
    // floor(300/130) = 2 granules of ~150 (>= target), not
    // ceil(300/130) = 3 of ~100, which would hover near target/2 and
    // re-qualify under sampling skew
    val out2 = root.toString + "/store2"
    df.write.format("netcdf").option("indexby", "ts")
      .option("maxrecordsperfile", "25")
      .mode(SaveMode.Overwrite).save(out2)
    val rep = NetCDFWrite.compactGranules(spark, out2, "record",
      Some("ts"), targetRecords = 130, NetCDFWrite.NcOpts())
    assert(rep.compacted.size === 2,
      s"floor sizing must emit 2 granules, got ${rep.compacted.size}")
    val rep2 = NetCDFWrite.compactGranules(spark, out2, "record",
      Some("ts"), targetRecords = 130, NetCDFWrite.NcOpts())
    assert(rep2.compacted.isEmpty, "compaction must converge")
  }

  test("fleet manifest: planning opens ZERO granules; stat-forged " +
      "garbage is caught by the content witness; compaction " +
      "keeps the manifest fresh") {
    import org.apache.spark.sql.SaveMode
    import graft.sources.{NetCDF4, NetCDFWrite}
    val root = Paths.get(tempDir("v2fleet"))
    val out = root.toString + "/store"
    // three granules with DISJOINT v ranges (v tracks id), indexby ts
    val df = spark.range(0, 300)
      .withColumn("ts", expr("timestampadd(SECOND, CAST(id AS INT), " +
        "TIMESTAMP_NTZ'2024-01-01 00:00:00')"))
      .withColumn("v", col("id").cast("double"))
    df.write.format("netcdf").option("indexby", "ts")
      .option("maxrecordsperfile", "100")
      .mode(SaveMode.Overwrite).save(out)
    def ncNames() = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".nc")).map(_.getName).sorted.toSeq
    assert(ncNames().size === 3)
    assert(new java.io.File(out, "_manifest.json").exists,
      "the granule writer must emit the fleet manifest")
    // 1. PLANNING IS HEADER-FREE: schema inference (mergeschema=true,
    // the O(fleet) path) + per-granule FileMeta must answer from the
    // manifest — zero NetCDF4.open calls
    val before = NetCDF4.openCalls.get()
    val t = spark.read.format("netcdf").load(out)
    val schemaCols = t.schema.fieldNames.toSet
    assert(schemaCols === Set("id", "ts", "v"))
    assert(NetCDF4.openCalls.get() === before,
      "manifest-backed schema inference must not open any granule")
    // 2. STAT-FORGED GARBAGE IS CAUGHT: garbage the LAST granule in
    // place at identical size AND identical (forged) mtime — the whole
    // stat key — which is exactly what device-level bit rot or a
    // same-mtime-tick rewrite on a coarse-granularity filesystem looks
    // like. The entry's CONTENT WITNESS (CRC32 over head+tail 4 KiB)
    // must invalidate it anyway, so inference falls back to the header
    // parse and surfaces the corruption LOUDLY at plan time instead of
    // letting a stale entry mask it (pre-witness behavior: the stale
    // stats digest silently answered planning for a file whose bytes
    // no longer back it).
    val victim = ncNames().last
    val vp = Paths.get(out, victim)
    val size = Files.size(vp)
    val mt = Files.getLastModifiedTime(vp)
    Files.write(vp, Array.fill[Byte](size.toInt)(0x5a))
    Files.setLastModifiedTime(vp, mt)
    assert(Files.size(vp) === size)
    assert(Files.getLastModifiedTime(vp) === mt,
      "the forged mtime must reproduce the recorded stamp exactly")
    intercept[Throwable] {
      spark.read.format("netcdf").load(out)
        .filter(col("v") < 150.0).agg(sum("id")).collect()
    }
    // 4. repair the store and compact: the refreshed manifest must
    // cover exactly the current granule set
    df.write.format("netcdf").option("indexby", "ts")
      .option("maxrecordsperfile", "100")
      .mode(SaveMode.Overwrite).save(out)
    NetCDFWrite.compactGranules(spark, out, "record",
      Some("ts"), targetRecords = 300, NetCDFWrite.NcOpts())
    val fm = NetCDFWrite.readFleetManifest(out)
      .getOrElse(fail("manifest missing after compaction"))
    assert(fm.granules.keySet === ncNames().toSet,
      "compaction must leave the manifest covering the merged store")
    // and the post-compaction store still plans header-free
    val b2 = NetCDF4.openCalls.get()
    assert(spark.read.format("netcdf").load(out).schema
      .fieldNames.toSet === Set("id", "ts", "v"))
    assert(NetCDF4.openCalls.get() === b2,
      "post-compaction planning must answer from the refreshed manifest")
  }

  test("buildFleetManifest backfills a foreign archive: the next open " +
      "plans O(stat) with ZERO granule opens; re-runs reuse every entry") {
    import org.apache.spark.sql.SaveMode
    import graft.sources.{NetCDF4, NetCDFWrite}
    val root = Paths.get(tempDir("v2foreign"))
    val out = root.toString + "/store"
    val df = spark.range(0, 300)
      .withColumn("ts", expr("timestampadd(SECOND, CAST(id AS INT), " +
        "TIMESTAMP_NTZ'2024-01-01 00:00:00')"))
      .withColumn("v", col("id").cast("double"))
    df.write.format("netcdf").option("indexby", "ts")
      .option("maxrecordsperfile", "100")
      .mode(SaveMode.Overwrite).save(out)
    // make the archive FOREIGN: strip everything graft's writer added
    // beyond the granules themselves (manifest + stats sidecars) — the
    // shape of a store landed by any other producer
    new java.io.File(out).listFiles()
      .filter(f => f.getName == "_manifest.json" ||
        f.getName.endsWith(".stats.json"))
      .foreach(f => Files.delete(f.toPath))
    // without a manifest, planning must header-parse (sanity)
    val b0 = NetCDF4.openCalls.get()
    assert(spark.read.format("netcdf").load(out).schema
      .fieldNames.toSet === Set("id", "ts", "v"))
    assert(NetCDF4.openCalls.get() > b0,
      "a foreign archive without a manifest header-parses at planning")
    // one distributed header pass backfills the manifest
    val n = NetCDFWrite.buildFleetManifest(spark, out)
    assert(n === 3, s"all three granules must be covered, got $n")
    // the backfilled manifest answers planning with ZERO granule opens
    // (the open counter is the proof — the content witness reads 8 KiB
    // per granule but never parses a header)
    val b1 = NetCDF4.openCalls.get()
    assert(spark.read.format("netcdf").load(out).schema
      .fieldNames.toSet === Set("id", "ts", "v"))
    assert(NetCDF4.openCalls.get() === b1,
      "the backfilled manifest must answer planning with zero opens")
    // a re-run is O(stat): every valid entry reuses without I/O
    val b2 = NetCDF4.openCalls.get()
    assert(NetCDFWrite.buildFleetManifest(spark, out) === 3)
    assert(NetCDF4.openCalls.get() === b2,
      "re-running the backfill must not reopen covered granules")
    // and stat-forged garbage (size + mtime both reproduced) still
    // invalidates via the content witness — a foreign archive gets the
    // same corruption safety as a graft-written one
    val victim = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".nc")).map(_.toPath).sorted.last
    val size = Files.size(victim)
    val mt = Files.getLastModifiedTime(victim)
    Files.write(victim, Array.fill[Byte](size.toInt)(0x5a))
    Files.setLastModifiedTime(victim, mt)
    intercept[Throwable] {
      spark.read.format("netcdf").load(out).schema
    }
  }

  test("fleet manifest: an in-place same-size rewrite invalidates the " +
      "entry (mtime is part of the key) — stale stats can never prune " +
      "live data") {
    import org.apache.spark.sql.SaveMode
    val root = Paths.get(tempDir("v2rewrite"))
    val out = root.toString + "/store"
    val df = spark.range(0, 300)
      .withColumn("ts", expr("timestampadd(SECOND, CAST(id AS INT), " +
        "TIMESTAMP_NTZ'2024-01-01 00:00:00')"))
      .withColumn("v", col("id").cast("double"))
    df.write.format("netcdf").option("indexby", "ts")
      .option("maxrecordsperfile", "100")
      .mode(SaveMode.Overwrite).save(out)
    val names = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".nc")).map(_.getName).sorted.toSeq
    assert(names.size === 3)
    // the realistic rewrite: granule A's bytes replaced at IDENTICAL
    // size with different values (fixed-width NetCDF, equal record
    // count), its stats sidecar rewritten consistently — exactly what
    // a second direct writeGranules to the same dir produces. Only the
    // mtime differs from what the fleet manifest recorded.
    val a = Paths.get(out, names.head) // v in [0, 100)
    val b = Paths.get(out, names(1)) // v in [100, 200)
    assert(Files.size(a) === Files.size(b),
      "fixed-width granules with equal records must be byte-equal size")
    Thread.sleep(50) // distinct mtime from the recorded stamp
    Files.copy(b, a, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(out, names(1) + ".stats.json"),
      Paths.get(out, names.head + ".stats.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // a v >= 100 band would be pruned from granule A by the manifest's
    // STALE digest (recorded max v = 99) — store {A=copy of B, B, C}
    // would answer 200 instead of 300. The mtime mismatch must
    // invalidate the entry so pruning consults the fresh sidecar and
    // the query reads A's NEW contents
    val n = spark.read.format("netcdf").load(out)
      .filter(col("v") >= 100.0).count()
    assert(n === 300L,
      "the rewritten granule's rows must survive stats pruning")
  }

  test("fleet manifest: a same-size rewrite INSIDE one mtime tick " +
      "(mtime reproduced exactly) is invalidated by the content " +
      "witness alone") {
    import org.apache.spark.sql.SaveMode
    import graft.sources.NetCDFWrite
    val root = Paths.get(tempDir("v2tick"))
    val out = root.toString + "/store"
    val df = spark.range(0, 300)
      .withColumn("ts", expr("timestampadd(SECOND, CAST(id AS INT), " +
        "TIMESTAMP_NTZ'2024-01-01 00:00:00')"))
      .withColumn("v", col("id").cast("double"))
    df.write.format("netcdf").option("indexby", "ts")
      .option("maxrecordsperfile", "100")
      .mode(SaveMode.Overwrite).save(out)
    val names = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".nc")).map(_.getName).sorted.toSeq
    val a = Paths.get(out, names.head) // v in [0, 100)
    val b = Paths.get(out, names(1)) // v in [100, 200)
    val recorded = NetCDFWrite.readFleetManifest(out).get
      .granules(names.head).mtimeMs
    // the coarse-granularity hole: replace A's bytes at identical size
    // AND restore the manifest's recorded mtime — the stat key (size,
    // mtime) matches perfectly, as it would after a rewrite landing in
    // the same 1–2 s tick on ext4/FAT. Only the content differs.
    Files.copy(b, a, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(out, names(1) + ".stats.json"),
      Paths.get(out, names.head + ".stats.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(a,
      java.nio.file.attribute.FileTime.fromMillis(recorded))
    assert(new java.io.File(a.toString).lastModified() === recorded,
      "the rewrite must reproduce the recorded mtime exactly")
    // the stale digest (max v = 99) would prune granule A from a
    // v >= 100 band and answer 200; the CRC head+tail witness must
    // invalidate the entry so pruning consults the fresh sidecar
    val n = spark.read.format("netcdf").load(out)
      .filter(col("v") >= 100.0).count()
    assert(n === 300L,
      "an in-tick same-size rewrite must invalidate via the witness")
  }

  test("q_netcdf_scan end-to-end: parquet -> .nc granules -> v2 scan") {
    assume(new java.io.File("/root/testdata/sf0.001/events.parquet")
      .exists)
    val row = graft.queries.AggQueries
      .qNetcdfScan(spark, "/root/testdata/sf0.001").collect().head
    assert(row.getAs[Long]("n") === 1000)
    // 1000 valid events < 5000 -> one granule, one slab
    assert(row.getAs[Long]("multi_split") === 0)
    assert(row.getAs[Long]("sum_event_id") === (0L until 1000L).sum)
  }

  test("q_netcdf_coverage plans the metadata-only aggregate scan") {
    assume(new java.io.File("/root/testdata/sf0.001/events.parquet")
      .exists)
    val df = graft.queries.AggQueries
      .qNetcdfCoverage(spark, "/root/testdata/sf0.001")
    assert(df.queryExecution.executedPlan.toString
      .contains("NetCdfMetaAggScan"),
      "coverage must answer from headers + end probes, not a data scan")
    val row = df.collect().head
    assert(row.getAs[Long]("n") === 1000)
    // pushed min/max must equal the full data scan's (same arithmetic)
    val full = graft.queries.AggQueries
      .qNetcdfScan(spark, "/root/testdata/sf0.001").collect().head
    assert(row.getAs[Long]("ts_min_us") === full.getAs[Long]("ts_min_us"))
    assert(row.getAs[Long]("ts_max_us") === full.getAs[Long]("ts_max_us"))
  }

  test("recdim option routes to every granule; mergeschema=false " +
      "reads the first header only") {
    val tmp = tempDir("v2opts")
    writeGranule(tmp, "g1.nc", n = 50, base = 0.0)
    writeGranule(tmp, "g2.nc", n = 30, base = 1.0, withExtra = true)
    val first = spark.read.format("netcdf")
      .option("mergeschema", "false")
      .option("recdim", "time").load(tmp)
    // g1 is first (sorted): no `extra` column in the table schema
    assert(!first.columns.contains("extra"))
    assert(first.count() === 80)
    val bad = intercept[Exception] {
      spark.read.format("netcdf").option("recdim", "nope").load(tmp)
        .count()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(bad).exists(_.contains("not present")))
  }

  test("granule-store single-writer lock: a concurrent compaction or " +
      "backfill fails loudly and never touches the store") {
    import org.apache.spark.sql.SaveMode
    import graft.sources.NetCDFWrite
    val out = tempDir("v2lock") + "/store"
    val df = spark.range(0, 100)
      .withColumn("ts", expr("timestampadd(SECOND, CAST(id AS INT), " +
        "TIMESTAMP_NTZ'2024-01-01 00:00:00')"))
      .withColumn("v", col("id").cast("double"))
    df.write.format("netcdf").option("indexby", "ts")
      .option("maxrecordsperfile", "20")
      .mode(SaveMode.Overwrite).save(out)
    def listing() = new java.io.File(out).listFiles()
      .map(_.getName).sorted.toSeq
    // simulate a concurrent maintainer holding the lock
    val lock = new java.io.File(out, "_LOCK")
    val w = new java.io.FileWriter(lock)
    w.write("""{"op": "compactGranules", "host": "other", "pid": 1}""")
    w.close()
    val before = listing()
    val err = intercept[RuntimeException] {
      NetCDFWrite.compactGranules(spark, out, "record",
        Some("ts"), targetRecords = 100, NetCDFWrite.NcOpts())
    }
    assert(err.getMessage.contains("locked by another writer"),
      s"compaction must refuse: ${err.getMessage}")
    val err2 = intercept[RuntimeException] {
      NetCDFWrite.buildFleetManifest(spark, out)
    }
    assert(err2.getMessage.contains("locked by another writer"))
    assert(listing() === before,
      "a refused maintainer must not touch the store")
    // batch READS are never blocked by the lock
    assert(spark.read.format("netcdf").load(out).count() === 100L)
    // clearing the dead maintainer's lock recovers; the lock releases
    assert(lock.delete())
    val rep = NetCDFWrite.compactGranules(spark, out, "record",
      Some("ts"), targetRecords = 100, NetCDFWrite.NcOpts())
    assert(rep.nAfter < rep.nBefore)
    assert(!lock.exists, "the lock releases when the op completes")
    assert(spark.read.format("netcdf").load(out).count() === 100L)
  }
}
