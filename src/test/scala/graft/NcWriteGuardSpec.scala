package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.core.AggConfig._
import graft.sources.{NetCDF4, NetCDFWrite}

/** Single-file `.nc` output at corpus scale: `write` has one path. One
  * job counts the frame and gathers the plan's stats; the rows, sorted
  * by the index into range partitions of about `maxRows` rows, then
  * stream to the driver one partition per job into the assembler — one
  * row pass, one chunk per variable in driver memory, unbounded output
  * size — the reference's own node-by-node streaming model
  * (aggregator.py:239-359). "In-memory" below means one fetch
  * (`maxRows >= total`), "streamed" several; for a frame with a unique
  * index (what `Aggregate` emits) every `maxRows` must write
  * byte-identical `.nc` and `.stats.json` files.
  */
class NcWriteGuardSpec extends AnyFunSuite with SparkSpec {

  private def cfg = Config(
    dims = Seq(DimSpec("record", None, indexBy = Some("t"))),
    vars = Seq(
      VarSpec("t", Seq("record"), "double"),
      VarSpec("x", Seq("record"), "double")),
    attrs = Nil)

  /** The `.nc` and `.stats.json` bytes of `a` and `b` are equal. */
  private def assertSameBytes(a: String, b: String, clue: String): Unit =
    Seq("", ".stats.json").foreach { ext =>
      def bytes(p: String) =
        Files.readAllBytes(java.nio.file.Paths.get(p + ext))
      // mismatch = the first differing byte offset, -1 when identical
      assert(java.util.Arrays.mismatch(bytes(a), bytes(b)) === -1,
        s"$clue: $a$ext and $b$ext differ")
    }

  /** Writes `df` with `maxRows` = 1, 37 and 1 << 20 (one row per fetch,
    * several, one fetch for the whole frame), asserts the three files
    * hold the same bytes, and returns the one-row-per-fetch file. */
  private def writeAcrossFetches(df: DataFrame, dir: String, name: String,
      c: Config, attrs: Map[String, String],
      opts: NetCDFWrite.NcOpts = NetCDFWrite.NcOpts()): String = {
    val paths = Seq(1L, 37L, 1L << 20).map { m =>
      val p = s"$dir/$name-$m.nc"
      NetCDFWrite.write(df, p, c, attrs, opts, maxRows = m)
      p
    }
    paths.tail.foreach(assertSameBytes(paths.head, _, name))
    paths.head
  }

  /** The Spark jobs `f` runs. Listener events arrive asynchronously, so
    * `f` runs in its own job group and a later sentinel job, whose start
    * event comes after all of `f`'s, marks when the count is complete. */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("ncguard-jobs") => jobs.incrementAndGet()
          case Some("ncguard-sentinel") => drained.countDown()
          case _ =>
        }
    }
    def inGroup(g: String)(body: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      inGroup("ncguard-jobs")(f)
      inGroup("ncguard-sentinel")(sc.parallelize(Seq(1), 1).count())
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  private def shuffledFrame(n: Int): DataFrame =
    spark.range(n).selectExpr(
        s"cast((id * 7919) % $n as double) as t", "cast(id as double) * 2 as x")
      .repartition(8)

  test("above maxRows, write fails over to the streamed columnar assembly") {
    val tmp = tempDir("ncguard")
    // maxRows = 100 fetches the rows in about 20 sorted range
    // partitions; chunkRows = 64 forces real multi-chunk output through
    // the interleaved chunk streams
    for ((name, maxRows) <- Seq("out" -> 100L, "one" -> (1L << 20)))
      NetCDFWrite.write(shuffledFrame(2000), s"$tmp/$name.nc", cfg,
        globalAttrs = Map("title" -> "streamed"), maxRows = maxRows,
        opts = NetCDFWrite.NcOpts(chunkRows = Some(64)))
    assertSameBytes(s"$tmp/out.nc", s"$tmp/one.nc", "20 fetches vs one")
    val nc = NetCDF4.open(s"$tmp/out.nc")
    assert(nc.attrs("title") === "streamed")
    val t = nc.read(nc.vars.find(_.name == "t").get).asInstanceOf[Array[Double]]
    val x = nc.read(nc.vars.find(_.name == "x").get).asInstanceOf[Array[Double]]
    assert(t.length == 2000)
    assert(t.toSeq == t.sorted.toSeq, "record order must follow the index var")
    assert(t.toSet == (0 until 2000).map(_.toDouble).toSet)
    // x stays row-aligned with t through the columnar passes
    val tx = t.zip(x).toMap
    assert((0 until 2000).forall { i =>
      val tv = ((i.toLong * 7919) % 2000).toDouble
      tx(tv) == i * 2.0
    }, "x must stay row-aligned with t")
  }

  test("streamed and in-memory assemblies produce equivalent files") {
    val tmp = tempDir("ncguard_eq")
    writeAcrossFetches(shuffledFrame(500), tmp, "default-chunking", cfg,
      Map("k" -> "v"))
  }

  test("over the gate, write leaves the same stats sidecar as under it") {
    import spark.implicits._
    val tmp = tempDir("ncguard_sidecar")
    val t0 = java.time.LocalDateTime.of(2026, 1, 1, 0, 0)
    val df = (0 until 300).map { i =>
      (t0.plusSeconds(i.toLong), if (i % 7 == 0) Double.NaN else i * 0.5,
        if (i % 5 == 0) null else java.lang.Integer.valueOf(i - 100))
    }.toDF("time", "x", "q").repartition(4)
    val c = Config(
      dims = Seq(DimSpec("time", None, indexBy = Some("time"))),
      vars = Seq(
        VarSpec("time", Seq("time"), "double"),
        VarSpec("x", Seq("time"), "double"),
        VarSpec("q", Seq("time"), "int")),
      attrs = Nil)
    val opts = NetCDFWrite.NcOpts(chunkRows = Some(64))
    val str = writeAcrossFetches(df, tmp, "sidecar-frame", c, Map.empty,
      opts)
    val sidecar =
      Files.readString(java.nio.file.Paths.get(s"$str.stats.json"))
    assert(Seq("time", "x", "q").forall(k => sidecar.contains(s"\"$k\"")),
      sidecar)
  }

  test("streamed path: strings and ragged arrays with stats-planned extents") {
    val tmp = tempDir("ncguard_str")
    import spark.implicits._
    val df = (0 until 300).map { i =>
      (i.toDouble, s"s$i" * (1 + i % 3), Seq.tabulate(1 + i % 3)(j => i + j * 0.5))
    }.toDF("t", "name", "vals")
      .repartition(4)
    val c = Config(
      dims = Seq(DimSpec("record", None, indexBy = Some("t")),
        DimSpec("d2", None)),
      vars = Seq(
        VarSpec("t", Seq("record"), "double"),
        VarSpec("name", Seq("record"), "string"),
        VarSpec("vals", Seq("record", "d2"), "double")),
      attrs = Nil)
    val out = writeAcrossFetches(df, tmp, "out", c, Map.empty,
      NetCDFWrite.NcOpts(chunkRows = Some(32)))
    val nc = NetCDF4.open(out)
    val names = nc.read(nc.vars.find(_.name == "name").get)
      .asInstanceOf[Array[String]]
    assert(names.length == 300)
    assert((0 until 300).forall(i => names(i) == s"s$i" * (1 + i % 3)),
      "string cells must hold the stats-planned global width")
    val valsVar = nc.vars.find(_.name == "vals").get
    assert(valsVar.shape === Seq(300L, 3L), "ragged inner dim sized to max")
    val vals = nc.read(valsVar).asInstanceOf[Array[Double]]
    // row i holds its 1 + i%3 values, shorter rows padded (null -> NaN)
    assert(vals(0 * 3) == 0.0 && vals(0 * 3 + 1).isNaN)
    assert(vals(2 * 3) == 2.0 && vals(2 * 3 + 1) == 2.5 && vals(2 * 3 + 2) == 3.0)
  }

  test("a single .nc OVER 2 GiB streams out and reads back (64-bit both ways)") {
    import graft.sources.{Hdf5Reader, Hdf5Writer}
    import Hdf5Writer._
    val tmp = tempDir("ncguard_big")
    val dst = java.nio.file.Paths.get(tmp, "big.nc")
    // 3 record datasets x 96M doubles (768 MiB each) = 2.25 GiB of data;
    // 8 MiB chunks fed from an iterator that reuses one buffer — driver
    // memory stays one chunk regardless of file size
    val rowsPerChunk = 1 << 20
    val chunksPerDs = 96
    val nRows = rowsPerChunk.toLong * chunksPerDs
    Hdf5Writer.streamTo(dst) { w =>
      for (d <- 0 until 3) {
        val buf = java.nio.ByteBuffer.allocate(rowsPerChunk * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val s = w.openChunked(WDataset(s"v$d", Seq(nRows), WF64, None, Nil,
          unlimited0 = true, chunkRows = Some(rowsPerChunk)))
        (0 until chunksPerDs).foreach { ci =>
          buf.clear()
          var i = 0
          while (i < rowsPerChunk) { buf.putDouble(d * 1000.0 + ci); i += 1 }
          w.appendChunk(s, buf.array())
        }
        w.closeChunked(s)
      }
      w.finish(Seq("title" -> WStrAttr("big streamed")))
    }
    assert(Files.size(dst) > (2L << 30), s"file is ${Files.size(dst)} B")
    val h5 = Hdf5Reader.open(dst.toString) // >= 2 GiB: the pread source
    try {
      assert(h5.rootAttrs("title") === "big streamed")
      val v2 = h5.datasets.find(_.name == "v2").get
      assert(v2.shape === Seq(nRows))
      val vals = h5.read(v2).asInstanceOf[Array[Double]]
      assert(vals(0) == 2000.0)
      assert(vals((5L * rowsPerChunk).toInt) == 2005.0) // chunk 5
      assert(vals.last == 2000.0 + chunksPerDs - 1)
    } finally {
      h5.close()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("property: streamed == in-memory across random schemas and data") {
    import spark.implicits._
    for (seed <- Seq(7, 21, 1717); n <- Seq(0, 1, 137)) {
      val rnd = new scala.util.Random(seed * 1000 + n)
      val tmp = tempDir(s"ncguard_prop$seed$n")
      val rows = (0 until n).map { i =>
        (i.toDouble,
          if (rnd.nextInt(10) == 0) null
          else "x" * rnd.nextInt(12), // varying width incl. empty
          if (rnd.nextInt(10) == 0) null
          else java.lang.Long.valueOf(
            if (rnd.nextBoolean()) rnd.nextInt(1000).toLong
            else Long.MaxValue - rnd.nextInt(1000)), // forces 64-bit ints
          if (rnd.nextInt(10) == 0) null
          else java.lang.Float.valueOf(rnd.nextFloat()),
          Seq.tabulate(rnd.nextInt(4))(j => i + j * 0.25)) // ragged 0..3
      }
      val df = rows.toDF("t", "s", "l", "f", "a").repartition(3)
      val c = Config(
        dims = Seq(DimSpec("record", None, indexBy = Some("t")),
          DimSpec("d2", None)),
        vars = Seq(
          VarSpec("t", Seq("record"), "double"),
          VarSpec("s", Seq("record"), "string"),
          VarSpec("l", Seq("record"), "long"),
          VarSpec("f", Seq("record"), "float"),
          VarSpec("a", Seq("record", "d2"), "double")),
        attrs = Nil)
      val opts = NetCDFWrite.NcOpts(chunkRows = Some(13)) // multi-chunk
      val str = writeAcrossFetches(df, tmp, s"seed$seed-n$n", c,
        Map("seed" -> seed.toString), opts)
      val y = NetCDF4.open(str)
      assert(y.attrs("seed") === seed.toString)
      assert(y.vars.find(_.name == "t").get.shape === Seq(n.toLong),
        s"seed=$seed n=$n record count")
    }
  }

  test("streamed assembly makes exactly 2 full passes, independent of variable count") {
    // The one-path write's structural pin: one job for the row count and
    // the plan's stats, one job streaming the rows. A separate stats job
    // makes it 3; per-variable column passes would make it 1 + nVars.
    import spark.implicits._
    val tmp = tempDir("ncguard_pass")
    val df = (0 until 200).map { i =>
      (i.toDouble, s"n$i", i.toLong, i * 0.5f, i * 2.0,
        Seq.tabulate(1 + i % 3)(j => i + j * 0.25))
    }.toDF("t", "s", "l", "f", "x", "a").repartition(4)
    val c = Config(
      dims = Seq(DimSpec("record", None, indexBy = Some("t")),
        DimSpec("d2", None)),
      vars = Seq(
        VarSpec("t", Seq("record"), "double"),
        VarSpec("s", Seq("record"), "string"),
        VarSpec("l", Seq("record"), "long"),
        VarSpec("f", Seq("record"), "float"),
        VarSpec("x", Seq("record"), "double"),
        VarSpec("a", Seq("record", "d2"), "double")),
      attrs = Nil)
    // the frame's own jobs run first: its shuffle, and the job adaptive
    // execution spends filling a fresh cache, belong to the frame
    // whoever caches it; what is pinned is the write's own jobs
    df.persist(StorageLevel.MEMORY_AND_DISK).count()
    def jobsWriting(vars: Seq[String]): Int = jobsOf(NetCDFWrite.write(df,
      s"$tmp/out${vars.size}.nc",
      c.copy(vars = c.vars.filter(v => vars.contains(v.name))), Map.empty,
      opts = NetCDFWrite.NcOpts(chunkRows = Some(16)), maxRows = 200))
    assert(jobsWriting(Seq("t", "s", "l", "f", "x", "a")) === 2,
      "count + stats, then the row stream")
    assert(jobsWriting(Seq("t", "x")) === 2, "independent of variable count")
    df.unpersist()
    // and the interleaved pass still wrote a coherent file
    val nc = NetCDF4.open(s"$tmp/out6.nc")
    val t = nc.read(nc.vars.find(_.name == "t").get).asInstanceOf[Array[Double]]
    val x = nc.read(nc.vars.find(_.name == "x").get).asInstanceOf[Array[Double]]
    assert(t.length == 200 && x.length == 200)
    assert(t.indices.forall(i => x(i) == t(i) * 2.0),
      "columns must stay row-aligned through the interleaved streams")
  }

  test("a failed write never truncates a pre-existing output file") {
    import graft.sources.Hdf5Writer
    import Hdf5Writer._
    val tmp = java.nio.file.Paths.get(tempDir("ncguard_atomic"))
    val dst = tmp.resolve("out.nc")
    val good = java.nio.ByteBuffer.allocate(32)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 4).foreach(i => good.putDouble(i * 1.5))
    Hdf5Writer.write(dst, Seq(
      WDataset("v", Seq(4L), WF64, Some(good.array()), Nil)), Nil)
    val origSize = Files.size(dst)
    // second write fails validation mid-feed (wrong data length): the
    // temp-and-rename protocol must leave the original file untouched
    intercept[IllegalArgumentException] {
      Hdf5Writer.write(dst, Seq(
        WDataset("v", Seq(4L), WF64, Some(new Array[Byte](8)), Nil)), Nil)
    }
    assert(Files.size(dst) === origSize, "original must survive the failure")
    val h5 = graft.sources.Hdf5Reader.open(dst.toString)
    assert(h5.read(h5.datasets.find(_.name == "v").get)
      .asInstanceOf[Array[Double]].toSeq === Seq(0.0, 1.5, 3.0, 4.5))
    assert(Option(tmp.toFile.listFiles()).getOrElse(Array.empty)
      .forall(!_.getName.endsWith(".__tmp")), "temp file must be cleaned up")
  }

  test("under the gate, the in-memory path writes a sorted file") {
    val tmp = tempDir("ncguard2")
    NetCDFWrite.write(shuffledFrame(1000), s"$tmp/out.nc", cfg,
      globalAttrs = Map("title" -> "guard spec"), maxRows = 1000)
    val nc = NetCDF4.open(s"$tmp/out.nc")
    val t = nc.read(nc.vars.find(_.name == "t").get).asInstanceOf[Array[Double]]
    assert(t.length == 1000)
    assert(t.toSeq == t.sorted.toSeq, "record order must follow the index var")
    assert(t.toSet == (0 until 1000).map(_.toDouble).toSet)
  }

  test("write and writeGranules keep a cache the caller made") {
    val tmp = tempDir("ncguard_cache")
    val computed = spark.sparkContext.longAccumulator("rows computed")
    val bump = udf { (x: Double) => computed.add(1); x }
    val df = shuffledFrame(300).withColumn("x", bump(col("x")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      assert(df.count() === 300)
      val before = computed.value
      NetCDFWrite.write(df, s"$tmp/out.nc", cfg, Map.empty)
      assert(computed.value === before, "write reran the cached pipeline")
      NetCDFWrite.writeGranules(df, s"$tmp/out.ncd", cfg, Map.empty)
      assert(computed.value === before,
        "writeGranules reran the cached pipeline")
      assert(df.storageLevel === StorageLevel.MEMORY_AND_DISK,
        "the caller's cache must survive both writes")
    } finally df.unpersist()
  }

  test("a fixed-size record dimension is contiguous in one fetch, rejected over it") {
    val tmp = java.nio.file.Paths.get(tempDir("ncguard_fixed"))
    val c = cfg.copy(dims = Seq(DimSpec("record", Some(300L))))
    val df = shuffledFrame(300)
    NetCDFWrite.write(df, tmp.resolve("one.nc").toString, c, Map.empty,
      maxRows = 300)
    val nc = NetCDF4.open(tmp.resolve("one.nc").toString)
    val t = nc.vars.find(_.name == "t").get
    assert(t.chunkDims.isEmpty, "one fetch: contiguous layout")
    val tv = nc.read(t).asInstanceOf[Array[Double]]
    val xv = nc.read(nc.vars.find(_.name == "x").get)
      .asInstanceOf[Array[Double]]
    assert(tv.zip(xv).toSet === df.collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSet)
    intercept[IllegalArgumentException] {
      NetCDFWrite.write(df, tmp.resolve("two.nc").toString, c, Map.empty,
        maxRows = 299)
    }
    assert(Option(tmp.toFile.list()).getOrElse(Array.empty).toSet ===
      Set("one.nc", "one.nc.stats.json"), "no output or temp file left")
  }
}
