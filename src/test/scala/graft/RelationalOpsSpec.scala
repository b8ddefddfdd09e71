package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics pins for the round-3 relational operators (SURVEY.md §2 B):
  * JSON props extraction and interval union (gaps-and-islands). */
class RelationalOpsSpec extends AnyFunSuite with SparkSpec {

  import graft.queries.RelationalQueries

  private def eventsDir(rows: Seq[(Long, Long, Long, String, Double, String)])
      : String = {
    import spark.implicits._
    val d = tempDir("rel3")
    // TIMESTAMP(MICROS)-as-NTZ layout of the current testdata
    // (Tables.load now REJECTS un-annotated INT64 ts columns)
    rows.toDF("event_id", "t_us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("t_us")).cast("timestamp_ntz"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  test("merge intervals: chained overlaps merge, gaps split, long spans swallow") {
    val m = 60000000L // one minute in micros
    val base = 1000000L * m // off epoch zero: t = 0 is an invalid index
    val dir = eventsDir(Seq(
      // user 1: +0 and +10min overlap (30-min intervals); +29min chains
      // the span further even though it doesn't overlap the FIRST
      // interval — and +90min starts a new island
      (1L, base + 0L * m, 1L, "view", 1.0, "{}"),
      (2L, base + 10L * m, 1L, "view", 1.0, "{}"),
      (3L, base + 29L * m, 1L, "view", 1.0, "{}"),
      (4L, base + 90L * m, 1L, "view", 1.0, "{}"),
      // user 2: a single event -> one island of exactly [t, t+30min]
      (5L, base + 7L * m, 2L, "click", 1.0, "{}")))
    val r = RelationalQueries.qMergeIntervals(spark, dir)
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .sortBy(x => (x._1, x._2))
    assert(r === Array(
      (1L, base, base + 59L * m, 3L),
      (1L, base + 90L * m, base + 120L * m, 1L),
      (2L, base + 7L * m, base + 37L * m, 1L)))
  }

  test("json props extraction: typed field, missing keys count as null") {
    val dir = eventsDir(Seq(
      (1L, 1000000L, 1L, "view", 1.0, """{"k": 10}"""),
      (2L, 2000000L, 1L, "view", 1.0, """{"k": 60}"""),
      (3L, 3000000L, 1L, "view", 1.0, """{"other": 5}""")))
    val r = RelationalQueries.qJsonProps(spark, dir).head()
    assert(r.getAs[Long]("n") === 3L)        // count(*) includes the no-k row
    assert(r.getAs[Long]("sum_k") === 70L)   // sum skips the null
    assert(r.getAs[Long]("min_k") === 10L)
    assert(r.getAs[Long]("max_k") === 60L)
    assert(r.getAs[Long]("n_high") === 1L)   // only k=60
  }

  test("band join: trailing 90-day window filters, strictly-before, non-vacuous") {
    import spark.implicits._
    val dayUs = 86400000000L
    val base = 800000L * dayUs // ~1972-ish, away from epoch zero
    val dir = tempDir("band")
    // cust 1: four orders — +0, +30d, +89d, +200d. Trailing [t-90d, t):
    //   +30d sees +0; +89d sees +0 and +30d (90-day bound INCLUSIVE at
    //   the far edge: 89-0=89 < 90 in-window); +200d sees nothing
    //   (nearest prior is 111 days back). Self rows never count.
    // cust 2: two same-instant orders — strictly-before excludes ties,
    //   so neither emits a row.
    Seq(
      (101L, 1L, 0L, 10.0), (102L, 1L, 30L, 20.0),
      (103L, 1L, 89L, 40.0), (104L, 1L, 200L, 80.0),
      (201L, 2L, 50L, 5.0), (202L, 2L, 50L, 7.0))
      .toDF("o_orderkey", "o_custkey", "d", "o_totalprice")
      .withColumn("o_orderdate",
        timestamp_micros(lit(base) + col("d") * dayUs).cast("timestamp_ntz"))
      .drop("d")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = RelationalQueries.qRangeJoin(spark, dir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
      .sortBy(_._1)
    assert(r === Array((102L, 1L, 10.0), (103L, 2L, 30.0)))
  }

  test("band join is non-empty and band-selective on the driver testdata") {
    val dir = "/root/testdata/sf0.001"
    if (new java.io.File(s"$dir/orders.parquet").exists) {
      val out = RelationalQueries.qRangeJoin(spark, dir)
      val n = out.count()
      val total = queries.AggQueries.tbl(spark, dir, "orders").count()
      assert(n > 0L, "band join must produce rows on the real order era")
      assert(n < total, "inner band join must drop window-less orders")
    }
  }
}
