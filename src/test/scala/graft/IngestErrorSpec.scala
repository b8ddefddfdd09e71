package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.AggConfig._
import graft.sources.{NetCDFIngest, NetCDFWrite}

/** Strict ingest names the granule and the pass that rejected it, with
  * the same [[NetCDFIngest.Quarantined]] record permissive ingest
  * quarantines — a truncated delivery must not surface as a bare task
  * exception. */
class IngestErrorSpec extends AnyFunSuite with SparkSpec {

  private val cfg = Config(
    dims = Seq(DimSpec("time", None, indexBy = Some("time"))),
    vars = Seq(
      VarSpec("time", Seq("time"), "double"),
      VarSpec("x", Seq("time"), "double")),
    attrs = Nil)

  private def granule(path: java.nio.file.Path, t0: Double): Unit =
    NetCDFWrite.writeFile(path,
      StructType(Seq(StructField("time", DoubleType),
        StructField("x", DoubleType))),
      (0 until 4096).map(i => Row(t0 + i, i * 0.5)), cfg, Map.empty,
      NetCDFWrite.NcOpts(chunkRows = Some(512), deflate = Some(1)))

  /** Flip the first byte past the midpoint that leaves the header
    * readable but breaks a deflated data chunk. */
  private def corruptDataChunk(bad: java.nio.file.Path): Unit = {
    val bytes = Files.readAllBytes(bad)
    val hit = (bytes.length / 2 until bytes.length by 16).find { at =>
      val b = bytes.clone()
      b(at) = (b(at) ^ 0x5a).toByte
      Files.write(bad, b)
      scala.util.Try(NetCDFIngest.granuleMeta(bad.toString, Some("time")))
        .toOption.exists(m => scala.util.Try(NetCDFIngest.granuleRows(
          bad.toString, m.schema, Some("time")).size).isFailure)
    }
    assert(hit.nonEmpty, "no data-chunk offset found")
  }

  /** Strict and permissive ingest of `good` plus `bad`: the strict
    * error's record, after checking permissive quarantines the same
    * file at the same stage. */
  private def strictError(tmp: java.nio.file.Path, good: java.nio.file.Path,
      bad: java.nio.file.Path): NetCDFIngest.Quarantined = {
    val srcs = Seq(good.toString, bad.toString)
    val strict = intercept[NetCDFIngest.GranuleIngestException] {
      NetCDFIngest.convert(spark, srcs, s"$tmp/strict", Some("time"))
    }
    assert(strict.getMessage.contains(bad.toString) &&
      strict.getMessage.contains(strict.record.stage), strict.getMessage)
    val res = NetCDFIngest.convertChecked(spark, srcs, s"$tmp/perm",
      Some("time"), permissive = true)
    assert(res.quarantined.map(q => (q.path, q.stage)) ===
      Seq((strict.record.path, strict.record.stage)))
    assert(res.granuleDirs.size === 1)
    strict.record
  }

  test("strict ingest of a truncated granule throws the typed record " +
      "naming the file and the stage") {
    val tmp = java.nio.file.Paths.get(tempDir("ingest_err"))
    val good = tmp.resolve("good.nc")
    val cut = tmp.resolve("truncated.nc")
    granule(good, 0.0)
    granule(cut, 5000.0)
    val bytes = Files.readAllBytes(cut)
    Files.write(cut, bytes.take(bytes.length / 2))
    val rec = strictError(tmp, good, cut)
    assert(rec.path === cut.toString && rec.stage === "header")
    assert(rec.error.startsWith("IndexOutOfBoundsException"), rec.error)
  }

  test("strict ingest of a granule with a corrupt data chunk names the " +
      "decode stage") {
    val tmp = java.nio.file.Paths.get(tempDir("ingest_err"))
    val good = tmp.resolve("good.nc")
    val bad = tmp.resolve("corrupt.nc")
    granule(good, 0.0)
    granule(bad, 5000.0)
    corruptDataChunk(bad)
    val rec = strictError(tmp, good, bad)
    assert(rec.path === bad.toString && rec.stage === "decode")
  }

  test("slot-sized ingest tasks: one bad granule among more granules " +
      "than slots costs only that file") {
    val tmp = java.nio.file.Paths.get(tempDir("ingest_slots"))
    val paths = (0 until 10).map { i =>
      val p = tmp.resolve(f"g$i%02d.nc")
      granule(p, i * 5000.0)
      p
    }
    val bad = paths(5)
    corruptDataChunk(bad)
    val srcs = paths.map(_.toString)
    val slots = spark.sparkContext.defaultParallelism
    assert(slots < srcs.size)
    val conf = spark.sessionState.conf
    val slices = NetCDFIngest.packSlices(paths.map(Files.size),
      slots, conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes)
    assert(slices.size === slots && slices.find(_.contains(5)).get.size > 1,
      s"the bad granule must share a task: $slices")

    val strict = intercept[NetCDFIngest.GranuleIngestException] {
      NetCDFIngest.convert(spark, srcs, s"$tmp/strict", Some("time"))
    }
    assert(strict.record.path === bad.toString &&
      strict.record.stage === "decode")
    assert(strict.getMessage.contains(bad.toString), strict.getMessage)

    val res = NetCDFIngest.convertChecked(spark, srcs, s"$tmp/perm",
      Some("time"), permissive = true)
    assert(res.quarantined.map(q => (q.path, q.stage)) ===
      Seq((bad.toString, "decode")))
    assert(res.granuleDirs.size === 9)
    // every other granule keeps all its rows, the ones decoded in the
    // bad granule's task included
    val perGranule = spark.read.option("basePath", s"$tmp/perm")
      .parquet(res.granuleDirs: _*)
      .groupBy("__granule").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perGranule ===
      (0 until 10).filter(_ != 5).map(i => f"g$i%02d" -> 4096L).toMap)
  }

  test("ingest slices pack granules by file size, like a file scan's " +
      "splits") {
    val MB = 1L << 20
    def pack(n: Int, size: Long, slots: Int) = NetCDFIngest.packSlices(
      IndexedSeq.fill(n)(size), slots, 128 * MB, 4 * MB)
    // a small feed: one task per slot (24 x 100 KiB on 4 slots)
    assert(pack(24, 100 << 10, 4).map(_.size) === Seq(6, 6, 6, 6))
    // many more granules than slots: slices stay contiguous and in source
    // order, and a task holds at most 128 MiB of granules plus open cost
    // (26 x 1 MiB + 25 x 4 MiB), however many granules there are
    val many = pack(10000, MB, 4)
    assert(many.flatten === (0 until 10000))
    assert(many.map(_.size).max === 26)
    // large granules keep a task each
    assert(pack(1000, 100 * MB, 16).forall(_.size == 1))
    assert(NetCDFIngest.packSlices(IndexedSeq.empty, 4, 128 * MB, 4 * MB)
      .isEmpty)
  }
}
