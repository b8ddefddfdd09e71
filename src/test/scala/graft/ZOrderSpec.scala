package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the CLAIM of z-ordering — row-group/file min-max stats become
  * tight rectangles in BOTH clustered dimensions — by reading the
  * written files' parquet footers directly, independent of any reader's
  * skipping implementation. */
class ZOrderSpec extends AnyFunSuite with SparkSpec {

  /** Per-file (min, max) of a long column, from the parquet footers. */
  private def stats(dir: String, column: String): Seq[(Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.length() > 0)
    files.toSeq.flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        reader.getFooter.getBlocks.asScala.map { b =>
          val c = b.getColumns.asScala
            .find(_.getPath.toDotString == column).get
          val s = c.getStatistics
          (s.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
            s.genericGetMax.asInstanceOf[java.lang.Long].longValue())
        }.toSeq
      } finally reader.close()
    }
  }

  test("z-ordered layout prunes row groups in BOTH dimensions; " +
      "a single-column sort prunes only its own") {
    import spark.implicits._
    // a full 64x64 (day, user) grid, 4 rows per cell
    val rows = for {
      day <- 0L until 64L; user <- 0L until 64L; r <- 0 until 4
    } yield (day, user, day * 64 + user + r)
    val df = rows.toDF("day", "user", "payload")
    val linDir = tempDir("lin")
    val zDir = tempDir("z")
    // linear baseline: the classic time-sorted layout, same file count
    df.repartitionByRange(64, col("day"))
      .sortWithinPartitions("day", "user")
      .write.mode("overwrite").parquet(linDir)
    graft.sources.ZOrder.writeClustered(df, "day", "user", zDir, files = 64)
    // the box predicate: 1/64 of the key space in each dimension pair
    val (dLo, dHi, uLo, uHi) = (8L, 15L, 8L, 15L)
    def overlapFrac(dir: String): Double = {
      val d = stats(dir, "day"); val u = stats(dir, "user")
      assert(d.size == u.size && d.nonEmpty)
      val hit = d.zip(u).count { case ((dmn, dmx), (umn, umx)) =>
        dmx >= dLo && dmn <= dHi && umx >= uLo && umn <= uHi
      }
      hit.toDouble / d.size
    }
    val (lin, z) = (overlapFrac(linDir), overlapFrac(zDir))
    info(f"row groups intersecting the box: linear=$lin%.3f z-ordered=$z%.3f")
    // the day-sorted layout prunes the day range (1/8 of groups remain)
    // but its user stats cover everything; z-order prunes both: strictly
    // better, and small in absolute terms
    assert(z < lin / 2, f"z-order must at least halve the scan: $z vs $lin")
    assert(z <= 0.15, f"z-ordered overlap fraction $z%.3f too high")
    // layout changes bytes touched, never results
    val boxed = (d: String) => spark.read.parquet(d)
      .filter(col("day").between(dLo, dHi) && col("user").between(uLo, uHi))
      .select("day", "user", "payload").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(boxed(zDir) === boxed(linDir))
    // and the key itself is monotone in each dim at fixed other dim —
    // the property that makes contiguous z-ranges rectangles
    val probe = spark.range(1).select(
      graft.sources.ZOrder.zkey(lit(5L), lit(9L)).as("k1"),
      graft.sources.ZOrder.zkey(lit(6L), lit(9L)).as("k2"),
      graft.sources.ZOrder.zkey(lit(5L), lit(10L)).as("k3")).head()
    assert(probe.getLong(0) < probe.getLong(1))
    assert(probe.getLong(0) < probe.getLong(2))
  }

  test("domains wider than the key width auto-scale: pruning survives " +
      "2^26-range ids") {
    import spark.implicits._
    // same 64x64 grid stretched far past 2^21 in both dimensions — the
    // raw low-bit interleave would alias everything; the shift must
    // recover the top-bit structure
    val S = 1L << 20
    val rows = for {
      day <- 0L until 64L; user <- 0L until 64L; r <- 0 until 4
    } yield (day * S + r, user * S + r, day * 64 + user)
    val zDir = tempDir("zw")
    graft.sources.ZOrder.writeClustered(
      rows.toDF("day", "user", "payload"), "day", "user", zDir, files = 64)
    val (dLo, dHi, uLo, uHi) = (8L * S, 16L * S - 1, 8L * S, 16L * S - 1)
    val d = stats(zDir, "day"); val u = stats(zDir, "user")
    val hit = d.zip(u).count { case ((dmn, dmx), (umn, umx)) =>
      dmx >= dLo && dmn <= dHi && umx >= uLo && umn <= uHi
    }
    val frac = hit.toDouble / d.size
    info(f"wide-domain z-order overlap fraction: $frac%.3f")
    assert(frac <= 0.15, f"wide-domain pruning lost: $frac%.3f")
  }

  test("negative key values are rejected loudly (sign-extended shifts would " +
      "silently scramble the Morton layout)") {
    import spark.implicits._
    val df = Seq((1L, 5L), (-3L, 7L), (2L, 9L)).toDF("a", "b")
    val out = tempDir("zneg")
    val e = intercept[IllegalArgumentException](
      graft.sources.ZOrder.writeClustered(df, "a", "b", out, files = 2))
    assert(e.getMessage.contains("negative") && e.getMessage.contains("'a'"))
  }
}
