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
    val tmp = Files.createTempDirectory("graft_ingest_err")
    try {
      val good = tmp.resolve("good.nc")
      val cut = tmp.resolve("truncated.nc")
      granule(good, 0.0)
      granule(cut, 5000.0)
      val bytes = Files.readAllBytes(cut)
      Files.write(cut, bytes.take(bytes.length / 2))
      val rec = strictError(tmp, good, cut)
      assert(rec.path === cut.toString && rec.stage === "header")
      assert(rec.error.startsWith("IndexOutOfBoundsException"), rec.error)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("strict ingest of a granule with a corrupt data chunk names the " +
      "decode stage") {
    val tmp = Files.createTempDirectory("graft_ingest_err")
    try {
      val good = tmp.resolve("good.nc")
      val bad = tmp.resolve("corrupt.nc")
      granule(good, 0.0)
      granule(bad, 5000.0)
      val bytes = Files.readAllBytes(bad)
      // the first byte flip past the midpoint that leaves the header
      // readable but breaks a deflated data chunk
      val hit = (bytes.length / 2 until bytes.length by 16).find { at =>
        val b = bytes.clone()
        b(at) = (b(at) ^ 0x5a).toByte
        Files.write(bad, b)
        scala.util.Try(NetCDFIngest.granuleMeta(bad.toString, Some("time")))
          .toOption.exists(m => scala.util.Try(NetCDFIngest.granuleRows(
            bad.toString, m.schema, Some("time")).size).isFailure)
      }
      assert(hit.nonEmpty, "no data-chunk offset found")
      val rec = strictError(tmp, good, bad)
      assert(rec.path === bad.toString && rec.stage === "decode")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}
