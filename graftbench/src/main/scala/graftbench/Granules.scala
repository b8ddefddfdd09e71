package graftbench

import java.nio.file.{Files, Path}
import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.core.AggConfig
import graft.sources.NetCDFWrite

/** Seeded record stream of one day of regular-cadence magnetometer-style
  * records, cut into `.nc` granules through graft's own writer.
  *
  * Defects, all drawn from the seed: three 5-minute outages, 0.1% zero
  * timestamps, ±10 ms jitter, and every granule repeating the last two
  * seconds of the granule before it.
  *
  * The ground truth follows from the parameters alone. With jitter far
  * below half a step, a run of m missing slots (outage or zero timestamp)
  * is one gap of (m+1) steps that ncagg's rules fill with exactly m
  * records, so the product spans every slot of the day: `slots` records,
  * `fills` of them synthesized. */
final case class RecordStream(
    hz: Int,
    dayStartUs: Long,
    present: Array[Boolean],
    timeUs: Array[Long], // 0 = zero timestamp defect
    bx: Array[Float], by: Array[Float], bz: Array[Float],
    quality: Array[Int]) {

  def slots: Int = present.length
  def stepUs: Long = 1000000L / hz

  /** Slots missing from the product's data records: outages and zero
    * timestamps. Each becomes exactly one fill record. */
  def fills: Long =
    (0 until slots).count(k => !present(k) || timeUs(k) == 0L).toLong
}

/** What a granule set must aggregate to, derived from the generator's own
  * parameters (never from running the program). The overlap copies are
  * deduplicated and the zero-timestamp records dropped as invalid, so the
  * product's data records are the distinct valid ones and every other slot
  * is a fill. */
final case class Truth(
    inputRecords: Long, // records in all granules, before any dedup
    records: Long, // product records: every slot of the day
    fills: Long) // outage slots plus zero-timestamp slots

object Granules {
  val DayStart: LocalDateTime = LocalDateTime.of(2026, 1, 1, 0, 0)
  val DayStartUs: Long = DayStart.toEpochSecond(ZoneOffset.UTC) * 1000000L
  val OutageSeconds = 300
  val Outages = 3
  val JitterUs = 10000L
  val ZeroFrac = 0.001
  val OverlapSeconds = 2

  val Opts: NetCDFWrite.NcOpts = NetCDFWrite.NcOpts(chunkRows = Some(4096),
    deflate = Some(4), shuffle = true, fletcher32 = true)

  val Schema: StructType = StructType(Seq(
    StructField("time", TimestampNTZType),
    StructField("bx", FloatType),
    StructField("by", FloatType),
    StructField("bz", FloatType),
    StructField("quality", IntegerType)))

  val Config: AggConfig.Config = AggConfig.Config(
    dims = Seq(AggConfig.DimSpec("time", None, indexBy = Some("time"))),
    vars = Seq(
      AggConfig.VarSpec("time", Seq("time"), "double"),
      AggConfig.VarSpec("bx", Seq("time"), "float",
        Map("units" -> "nT", "long_name" -> "field x")),
      AggConfig.VarSpec("by", Seq("time"), "float",
        Map("units" -> "nT", "long_name" -> "field y")),
      AggConfig.VarSpec("bz", Seq("time"), "float",
        Map("units" -> "nT", "long_name" -> "field z")),
      AggConfig.VarSpec("quality", Seq("time"), "int")),
    attrs = Seq(AggConfig.AttrSpec("platform"),
      AggConfig.AttrSpec("title")))

  /** One day at `hz` records per second; everything comes from `seed`. */
  def stream(seed: Long, hz: Int): RecordStream = {
    val rnd = new java.util.Random(seed)
    val n = 86400 * hz
    val step = 1000000L / hz
    val present = Array.fill(n)(true)
    // three outages, spread over the day so they never touch each other
    // or the day's first and last slot
    val outLen = OutageSeconds * hz
    val third = n / Outages
    (0 until Outages).foreach { i =>
      val start = i * third + 1 + rnd.nextInt(third - outLen - 2)
      (start until start + outLen).foreach(present(_) = false)
    }
    val timeUs = Array.tabulate(n) { k =>
      val jitter =
        if (k == 0 || k == n - 1) 0L
        else (rnd.nextDouble() * 2 - 1) * JitterUs
      DayStartUs + k * step + jitter.toLong
    }
    (1 until n - 1).foreach { k =>
      if (present(k) && rnd.nextDouble() < ZeroFrac) timeUs(k) = 0L
    }
    val w = 2 * math.Pi / 5400.0 // one orbit-like swing per 90 minutes
    def comp(phase: Double, amp: Double) = Array.tabulate(n) { k =>
      (amp * math.sin(w * k / hz + phase) + rnd.nextGaussian()).toFloat
    }
    RecordStream(hz, DayStartUs, present, timeUs,
      comp(0.0, 40.0), comp(1.0, 25.0), comp(2.0, 60.0),
      Array.fill(n)(rnd.nextInt(4)))
  }

  /** Slot ranges of each granule of `granuleSeconds`, each extended back
    * over the last [[OverlapSeconds]] of the one before it. */
  def cut(s: RecordStream, granuleSeconds: Int): Seq[(Int, Range)] = {
    val g = granuleSeconds * s.hz
    val ov = OverlapSeconds * s.hz
    (0 until s.slots / g).map { i =>
      i -> (math.max(0, i * g - ov) until (i + 1) * g)
    }
  }

  def truth(s: RecordStream, granuleSeconds: Int): Truth = Truth(
    cut(s, granuleSeconds).map(_._2.count(s.present).toLong).sum,
    s.slots.toLong, s.fills)

  private def ldt(us: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000).toInt, ZoneOffset.UTC)

  /** Write the granules of `granuleSeconds` under `dir`; returns their
    * paths in time order and the seconds spent inside graft's writer. */
  def write(s: RecordStream, granuleSeconds: Int, dir: Path)
      : (Seq[String], Double) = {
    Files.createDirectories(dir)
    var writeS = 0.0
    val paths = cut(s, granuleSeconds).map { case (i, r) =>
      val rows = r.filter(s.present).map { k =>
        Row(ldt(s.timeUs(k)), s.bx(k), s.by(k), s.bz(k), s.quality(k))
      }
      val start = DayStart.plusSeconds(i.toLong * granuleSeconds)
      val name = f"g_${start.getHour}%02d${start.getMinute}%02d" +
        f"${start.getSecond}%02d.nc"
      val path = dir.resolve(name)
      val t0 = System.nanoTime()
      NetCDFWrite.writeFile(path, Schema, rows, Config,
        Map("platform" -> "bench-sat", "title" -> s"granule $i"), Opts)
      writeS += (System.nanoTime() - t0) / 1e9
      path.toString
    }
    (paths, writeS)
  }
}
