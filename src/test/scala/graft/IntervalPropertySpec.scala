package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests: the distributed interval-union and streaming-gap-fill
  * operators must agree with naive single-threaded reference
  * implementations on random inputs — catches window-frame and
  * state-fold edge cases (ties, adjacent-touching intervals, gaps that
  * are exact multiples of the cadence) that hand-picked cases miss. */
class IntervalPropertySpec extends AnyFunSuite with SparkSpec {

  private val us = 1000000L
  private val base = 1704067200L * us
  private val lenUs = 1800000000L // qMergeIntervals' fixed interval length

  /** Naive interval union per user over (t, id)-sorted events. */
  private def naiveMerge(ts: Seq[Long]): Seq[(Long, Long, Long)] = {
    val sorted = ts.sorted
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    sorted.foreach { t =>
      out.lastOption match {
        case Some((s0, e0, n0)) if t <= e0 =>
          out(out.length - 1) = (s0, math.max(e0, t + lenUs), n0 + 1)
        case _ => out += ((t, t + lenUs, 1L))
      }
    }
    out.toSeq
  }

  /** Naive per-key gap fill (nom 2 s, threshold 5 s — same knobs as the
    * TSA property spec, exercising exact-multiple gaps). */
  private def naiveFills(ts: Seq[Long], nom: Long, thr: Long): Seq[Long] = {
    val sorted = ts.sorted
    sorted.zip(sorted.drop(1)).flatMap { case (a, b) =>
      if (b - a > thr) (1L to ((2 * (b - a) - nom) / (2 * nom))).map(k => a + k * nom)
      else Nil
    }
  }

  private def eventsDf(rows: Seq[(Long, Long, Long)]) = {
    // (user_id, t_us, event_id) in the TIMESTAMP(MICROS)-as-NTZ layout of
    // testdata (Tables.load now REJECTS un-annotated INT64 ts columns)
    val rr = rows.map { case (u, t, id) => Row(id, t, u, "view", 1.0, "{}") }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rr, 4),
      StructType(Seq(
        StructField("event_id", LongType), StructField("ts", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))))
      .withColumn("ts",
        org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.col("ts")).cast("timestamp_ntz"))
  }

  /** Run `f` on a temp dir holding `rows` as its events table; the dir
    * is deleted when the suite ends. */
  private def withDir[T](rows: Seq[(Long, Long, Long)])(f: String => T): T = {
    val d = tempDir("prop3")
    eventsDf(rows).write.mode("overwrite").parquet(s"$d/events.parquet")
    f(d)
  }

  test("distributed interval union == naive reference on random inputs") {
    val gen = Gen.chooseNum(1, 60).flatMap(n => Gen.listOfN(n, for {
      u <- Gen.chooseNum(1L, 3L)
      t <- Gen.chooseNum(0L, 200L * 60 * us) // 0..200 min: forces overlaps
    } yield (u, base + t)))
    (0 until 10).foreach { i =>
      val evs = gen.apply(Gen.Parameters.default, Seed(11L + i)).get
        .map { case (u, t) => (u, t) }.distinct
        .zipWithIndex.map { case ((u, t), id) => (u, t, id.toLong) }
      val got = withDir(evs) { dir =>
        graft.queries.RelationalQueries.qMergeIntervals(spark, dir)
          .collect()
          .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      }.groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
      val exp = evs.groupBy(_._1).view
        .mapValues(g => naiveMerge(g.map(_._2))).toMap
      assert(got === exp, s"seed ${11L + i}")
    }
  }

  test("batch gap-fill fold == naive reference on random inputs") {
    val nom = 2 * us
    val thr = 5 * us
    val gen = Gen.chooseNum(1, 60).flatMap(n => Gen.listOfN(n, for {
      u <- Gen.chooseNum(1L, 3L)
      t <- Gen.chooseNum(1L, 100L * us)
    } yield (u, base + t)))
    (0 until 10).foreach { i =>
      val evs = gen.apply(Gen.Parameters.default, Seed(23L + i)).get
        .distinct.zipWithIndex.map { case ((u, t), id) => (u, t, id.toLong) }
      val got = withDir(evs) { dir =>
        graft.streaming.StreamingAgg
          .gapFillStream(graft.Tables.load(spark, dir, "events"), nom, thr)
          .toDF().filter(col("is_fill"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      }.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      val exp = evs.groupBy(_._1).view
        .mapValues(g => naiveFills(g.map(_._2), nom, thr))
        .filter(_._2.nonEmpty).toMap
      assert(got === exp, s"seed ${23L + i}")
    }
  }
}
