package graft

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.AggConfig
import graft.core.AggConfig._
import graft.sources.{NetCDF4, NetCDFIngest, NetCDFWrite}

/** The `.nc` product is one pass from granules to file: `Cli` hands the
  * aggregated frame straight to the writer. These cases pin that the
  * product is the same file the two-step route makes (aggregate to a
  * parquet set, then write that set), on a generated granule set with the
  * reference scenarios' defects: outages, zero timestamps, overlapping
  * granules and an out-of-order source list. */
class NcProductSpec extends AnyFunSuite with SparkSpec {

  private val Start = LocalDateTime.of(2026, 1, 1, 0, 0)
  private val GranuleSeconds = 600
  private val Granules = 6
  private val OverlapSeconds = 3

  private def us(t: LocalDateTime): Long =
    t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L

  private val schema = StructType(Seq(
    StructField("time", TimestampNTZType),
    StructField("bx", FloatType),
    StructField("quality", IntegerType)))

  private def config(attrs: Seq[AttrSpec]) = Config(
    dims = Seq(DimSpec("time", None, indexBy = Some("time"),
      min = Some(us(Start)),
      max = Some(us(Start.plusSeconds(GranuleSeconds * Granules - 1))),
      expectedCadence = Map("time" -> 1.0))),
    vars = Seq(
      VarSpec("time", Seq("time"), "double"),
      VarSpec("bx", Seq("time"), "float", Map("units" -> "nT")),
      VarSpec("quality", Seq("time"), "int")),
    attrs = attrs)

  /** Granules of a 1 Hz stream, each repeating the last seconds of the one
    * before it, with two outages and a few zero timestamps; the paths come
    * back out of time order. */
  private def granules(dir: Path): Seq[String] = {
    val rnd = new scala.util.Random(11)
    val outage = Set(700 until 760, 2400 until 2410).flatten
    val zero = Set(95, 1201, 3333)
    val last = GranuleSeconds * Granules - 1
    val paths = (0 until Granules).map { g =>
      val from = math.max(0, g * GranuleSeconds - OverlapSeconds)
      val rows = (from until (g + 1) * GranuleSeconds)
        .filterNot(outage).map { k =>
          // jitter, but none on the bound slots, which must stay inside
          val jitterNs =
            if (k == 0 || k == last) 0L else rnd.nextInt(20000) * 1000L
          val t =
            if (zero(k)) LocalDateTime.of(1970, 1, 1, 0, 0)
            else Start.plusSeconds(k).plusNanos(jitterNs)
          Row(t, (k * 0.25).toFloat, k % 4)
        }
      val p = dir.resolve(f"g_$g%02d.nc")
      NetCDFWrite.writeFile(p, schema, rows, config(Nil),
        Map("title" -> s"granule $g", "platform" -> "spec-sat"),
        NetCDFWrite.NcOpts(chunkRows = Some(256), deflate = Some(1)))
      p.toString
    }
    rnd.shuffle(paths)
  }

  private def sha256(p: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(Paths.get(p)))
      .map(b => f"$b%02x").mkString

  private def templateFile(dir: String, c: Config): String = {
    val p = Paths.get(dir, "template.json")
    Files.writeString(p, AggConfig.toJson(c))
    p.toString
  }

  private def rowsOf(files: Seq[String], dir: String) =
    spark.read.parquet(NetCDFIngest.convert(spark, files, dir): _*)
      .select("time", "bx", "quality")

  test("the Cli .nc product equals the two-step aggregate-then-write file; " +
      "the .ncd set of the same input re-ingests to the same rows") {
    val tmp = tempDir("ncproduct")
    val srcs = granules(Files.createDirectories(Paths.get(tmp, "in")))
    assert(srcs !== srcs.sorted, "the source list must be out of order")
    val cfg = config(Seq(AttrSpec("title"), AttrSpec("platform"),
      AttrSpec("input_count", "input_count")))
    val tpl = templateFile(tmp, cfg)
    val opts = Array("-t", tpl, "-c", "time:256")

    val nc = s"$tmp/cli/out.nc"
    val attrs = Cli.run(spark, Array(nc) ++ srcs ++ opts)
    assert(!Files.exists(Paths.get(s"$nc.__work")))

    // the two-step route: aggregate to parquet, then write that parquet
    val parsed = AggConfig.fromJson(Files.readString(Paths.get(tpl)))
    val ingested = NetCDFIngest.convert(spark, srcs, s"$tmp/two/ingest")
    val twoAttrs = Aggregate.run(spark, ingested, s"$tmp/two/agg", parsed)
      .writeParquet()
    val two = s"$tmp/two/out.nc"
    NetCDFWrite.write(spark.read.parquet(s"$tmp/two/agg"), two, parsed,
      twoAttrs, NetCDFWrite.NcOpts(chunkRows = Some(256)))
    assert(attrs === twoAttrs)
    assert(attrs("input_count") === Granules.toString)
    assert(sha256(nc) === sha256(two), "products differ")
    assert(Files.readString(Paths.get(s"$nc.stats.json")) ===
      Files.readString(Paths.get(s"$two.stats.json")))

    // the product is the regularized day: every slot once, in order, the
    // outages and zero timestamps filled
    val f = NetCDF4.open(nc)
    val t = f.read(f.vars.find(_.name == "time").get)
      .asInstanceOf[Array[Double]]
    assert(t.length === GranuleSeconds * Granules)
    assert(t.sliding(2).forall(p => math.abs(p(1) - p(0) - 1.0) < 0.05))
    val bx = f.read(f.vars.find(_.name == "bx").get)
      .asInstanceOf[Array[Float]]
    assert(bx.count(_.isNaN) === 60 + 10 + 3)

    // the distributed twin: several granules, the same rows
    val ncd = s"$tmp/cli/out.ncd"
    Cli.run(spark, Array(ncd) ++ srcs ++ Array("-t", tpl, "-c", "time:1000"))
    assert(!Files.exists(Paths.get(s"$ncd.__work")))
    val parts = Option(new java.io.File(ncd).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".nc")).map(_.getPath).toSeq.sorted
    assert(parts.size >= 2, s"expected a multi-file set, got $parts")
    val a = rowsOf(Seq(nc), s"$tmp/re_nc")
    val b = rowsOf(parts, s"$tmp/re_ncd")
    assert(a.count() === b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"rows differ; sample: ${a.exceptAll(b).take(3).toSeq}")
    assert(a.filter(col("bx").isNaN || col("bx").isNull).count() === 73)
  }

  test("Cli -t with the filename strategy names the product, not a work dir") {
    val tmp = tempDir("ncproduct_name")
    val srcs = granules(Files.createDirectories(Paths.get(tmp, "in")))
      .take(2)
    val tpl = templateFile(tmp,
      config(Seq(AttrSpec("filename", "filename"))))
    val dst = s"$tmp/day.nc"
    val attrs = Cli.run(spark, Array(dst) ++ srcs ++ Array("-t", tpl))
    assert(attrs("filename") === "day.nc")
    assert(NetCDF4.open(dst).attrs("filename") === "day.nc")
  }
}
