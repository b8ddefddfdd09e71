package graft

import java.nio.file.Files
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{NetCDF4, NetCDFIngest}

/** NetCDF-3 classic (`CDF\x01/\x02/\x05`) ingest: the reference accepts
  * classic files transparently through netCDF4-python, so graft's ingest
  * must too. Fixtures are generated here with a tiny header writer built
  * from the same public classic-format spec the reader uses — dims,
  * global + variable attrs, a fixed var, and THREE record variables so
  * the interleaved record layout (and its 4-byte slab padding) is
  * actually exercised. */
class NetCdf3Spec extends AnyFunSuite with SparkSpec {

  /** Minimal classic-format writer (big-endian, spec layout
    * `magic numrecs dim_list gatt_list var_list data`). */
  private def writeClassic(path: String, ver: Int, nRecs: Int): Unit = {
    val bb = ByteBuffer.allocate(1 << 16).order(ByteOrder.BIG_ENDIAN)
    def nonNeg(v: Long): Unit =
      if (ver == 5) bb.putLong(v) else bb.putInt(v.toInt)
    def name(s: String): Unit = {
      nonNeg(s.length) // NON_NEG: 64-bit in CDF-5
      bb.put(s.getBytes("US-ASCII"))
      (s.length until (s.length + 3) / 4 * 4).foreach(_ => bb.put(0.toByte))
    }
    def begin(v: Long): Unit =
      if (ver == 1) bb.putInt(v.toInt) else bb.putLong(v)

    bb.put('C'.toByte); bb.put('D'.toByte); bb.put('F'.toByte)
    bb.put(ver.toByte)
    nonNeg(nRecs) // numrecs
    // dim_list: time (record), strlen 4, station 2
    nonNeg(10); nonNeg(3)
    name("time"); nonNeg(0)
    name("strlen"); nonNeg(4)
    name("station"); nonNeg(2)
    // global attrs
    nonNeg(12); nonNeg(2)
    name("title"); nonNeg(2); nonNeg(7); bb.put("classic".getBytes)
    (7 until 8).foreach(_ => bb.put(0.toByte)) // pad to 4
    name("level"); nonNeg(4); nonNeg(1); bb.putInt(3)
    // var_list: 5 vars
    nonNeg(11); nonNeg(5)
    val begins = scala.collection.mutable.ArrayBuffer[Int]()
    def varEntry(nm: String, dimids: Seq[Int], attrs: Boolean, ncType: Int,
        vsize: Long): Unit = {
      name(nm)
      nonNeg(dimids.length); dimids.foreach(i => nonNeg(i)) // dimid is NON_NEG
      if (attrs) {
        val units = "seconds since 2020-01-01 00:00:00" // 33 chars
        nonNeg(12); nonNeg(1)
        name("units"); nonNeg(2); nonNeg(units.length)
        bb.put(units.getBytes)
        (units.length until (units.length + 3) / 4 * 4)
          .foreach(_ => bb.put(0.toByte))
      } else { nonNeg(0); nonNeg(0) }
      nonNeg(ncType); nonNeg(vsize)
      begins += bb.position(); begin(0) // patched later
    }
    // fixed var: station_lat float [station] (vsize 8)
    varEntry("station_lat", Seq(2), attrs = false, 5, 8)
    // record vars: time double (8), temp float (4, padded), flag short
    // (2 -> padded to 4), tag char [time, strlen] (4)
    varEntry("time", Seq(0), attrs = true, 6, 8)
    varEntry("temp", Seq(0), attrs = false, 5, 4)
    varEntry("flag", Seq(0), attrs = false, 3, 4) // padded vsize
    varEntry("tag", Seq(0, 1), attrs = false, 2, 4)

    // data: fixed vars first
    val fixedAt = bb.position()
    bb.putFloat(11.5f); bb.putFloat(-33.25f)
    // record data: interleaved [time, temp, flag(+pad), tag] per record
    val recAt = bb.position()
    (0 until nRecs).foreach { r =>
      bb.putDouble(100.0 + r) // time
      bb.putFloat(20.0f + r) // temp
      bb.putShort((r % 3).toShort); bb.putShort(0) // flag + pad
      bb.put(s"t${r}_".padTo(4, ' ').take(4).getBytes) // tag
    }
    val end = bb.position()
    // patch the begins (header offsets were recorded in order);
    // record stride = 8 (time) + 4 (temp) + 4 (flag padded) + 4 (tag)
    val beginVals = Seq(fixedAt.toLong, recAt.toLong, recAt + 8L,
      recAt + 12L, recAt + 16L)
    begins.zip(beginVals).foreach { case (at, v) =>
      if (ver == 1) bb.putInt(at, v.toInt) else bb.putLong(at, v)
    }
    val out = new Array[Byte](end)
    bb.rewind(); bb.get(out)
    Files.write(java.nio.file.Paths.get(path), out)
  }

  for (ver <- Seq(1, 2, 5))
    test(s"CDF-$ver classic granule ingests through NetCDFIngest") {
      val tmp = tempDir(s"cdf$ver")
      writeClassic(s"$tmp/g.nc", ver, nRecs = 6)
      val nc = NetCDF4.open(s"$tmp/g.nc")
      assert(nc.dims.map(d => (d.name, d.size, d.unlimited)) === Seq(
        ("time", 6L, true), ("strlen", 4L, false), ("station", 2L, false)))
      assert(nc.attrs("title") === "classic")
      assert(nc.attrs("level") === 3L)
      val time = nc.vars.find(_.name == "time").get
      assert(time.attrs("units") === "seconds since 2020-01-01 00:00:00")
      assert(nc.read(time).asInstanceOf[Array[Double]].toSeq ===
        (0 until 6).map(100.0 + _))
      // interleaved record layout decodes correctly for every type
      assert(nc.read(nc.vars.find(_.name == "temp").get)
        .asInstanceOf[Array[Float]].toSeq === (0 until 6).map(20.0f + _))
      assert(nc.read(nc.vars.find(_.name == "flag").get)
        .asInstanceOf[Array[Long]].toSeq === (0 until 6).map(_ % 3L))
      // char var: trailing strlen dim becomes the string length
      val tag = nc.vars.find(_.name == "tag").get
      assert(tag.dims === Seq("time"))
      assert(nc.read(tag).asInstanceOf[Array[String]].toSeq ===
        (0 until 6).map(r => s"t${r}_".padTo(4, ' ').take(4)))
      assert(nc.read(nc.vars.find(_.name == "station_lat").get)
        .asInstanceOf[Array[Float]].toSeq === Seq(11.5f, -33.25f))

      // end-to-end: the classic granule ingests through the same path
      val dirs = NetCDFIngest.convert(spark, Seq(s"$tmp/g.nc"), s"$tmp/gr")
      assert(dirs.size === 1)
      val df = spark.read.parquet(dirs.head).orderBy("temp")
      assert(df.count() === 6)
      assert(df.select("tag").collect().map(_.getString(0)).toSeq ===
        (0 until 6).map(r => s"t${r}_".padTo(4, ' ').take(4)))
      // constant (non-record) var repeats per row
      assert(df.select("station_lat").head().getSeq[Float](0) ===
        Seq(11.5f, -33.25f))
    }

  test("CDF-5 with data beyond 2 GiB decodes through ranged reads") {
    // 64-bit begin offsets are WHAT CDF-2/5 are for: a sparse file whose
    // variable data sits past the 2 GiB line must decode without
    // readAllBytes (which would need a >2 GiB heap array)
    val tmp = java.nio.file.Paths.get(tempDir("cdf5big"))
    val f = tmp.resolve("big.nc")
    val hiOff = (2L << 30) + 1024L
    val nVals = 8
    val bb = ByteBuffer.allocate(1 << 10).order(ByteOrder.BIG_ENDIAN)
    def nonNeg(v: Long): Unit = bb.putLong(v) // CDF-5: 64-bit NON_NEG
    def name(s: String): Unit = {
      nonNeg(s.length); bb.put(s.getBytes("US-ASCII"))
      (s.length until (s.length + 3) / 4 * 4).foreach(_ => bb.put(0.toByte))
    }
    bb.put('C'.toByte); bb.put('D'.toByte); bb.put('F'.toByte)
    bb.put(5.toByte)
    nonNeg(0) // numrecs
    nonNeg(10); nonNeg(1) // dim_list: x = nVals
    name("x"); nonNeg(nVals)
    nonNeg(0); nonNeg(0) // no global attrs
    nonNeg(11); nonNeg(1) // var_list: v double [x]
    name("v")
    nonNeg(1); nonNeg(0) // 1 dim, dimid 0
    nonNeg(0); nonNeg(0) // no attrs
    nonNeg(6) // double
    nonNeg(nVals * 8L) // vsize
    bb.putLong(hiOff) // begin: PAST the 2 GiB line
    val header = new Array[Byte](bb.position())
    bb.rewind(); bb.get(header)
    val ch = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      ch.write(ByteBuffer.wrap(header), 0L)
      val data = ByteBuffer.allocate(nVals * 8).order(ByteOrder.BIG_ENDIAN)
      (0 until nVals).foreach(i => data.putDouble(1e9 + i * 0.5))
      data.rewind()
      ch.write(data, hiOff)
    } finally ch.close()
    assert(Files.size(f) > (2L << 30))
    val nc = NetCDF4.open(f.toString)
    val vs = nc.read(nc.vars.find(_.name == "v").get)
      .asInstanceOf[Array[Double]]
    assert(vs.toSeq === (0 until nVals).map(1e9 + _ * 0.5))
  }
}
