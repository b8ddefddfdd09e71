package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Loader robustness: the events.ts encoding has drifted between rounds
  * (TIMESTAMP nanos vs micros), so Tables.load keys its rescale decision
  * off the parquet footer's logical type instead of guessing from the
  * Spark-surfaced type. These tests pin the fail-loud paths.
  */
class TablesSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("events.ts loads as TIMESTAMP_NTZ with sane epoch values") {
    val df = Tables.load(spark, sf, "events")
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
    val (lo, hi) = df
      .agg(min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts"))))
      .as[(Long, Long)](org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
      .head()
    // plausible epoch-seconds range (2000..2100); a 1000x unit slip lands far outside
    assert(lo > 946684800L && hi < 4102444800L, s"ts range [$lo,$hi] implausible")
  }

  test("a plain INT64 ts column (no timestamp logical type) fails loudly, not /1000") {
    val dir = tempDir("tables-int64")
    spark.range(3).selectExpr("id * 1000000 as ts").write
      .mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[RuntimeException](Tables.load(spark, dir, "events"))
    assert(e.getMessage.contains("refusing to guess"))
  }

  test("a string ts column fails loudly instead of silently null-casting") {
    val dir = tempDir("tables-str")
    spark.range(3).selectExpr("concat('not-a-ts-', id) as ts").write
      .mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[RuntimeException](Tables.load(spark, dir, "events"))
    assert(e.getMessage.contains("unexpected type"))
  }

  test("Tables.load memoizes in SessionScoped; evict re-lists the files") {
    import graft.queries.SessionScoped
    val dir = tempDir("tables-memo")
    def rows(): Seq[Long] =
      Tables.load(spark, dir, "t").as[Long](
        org.apache.spark.sql.Encoders.scalaLong).collect().toSeq.sorted
    spark.range(3).write.parquet(s"$dir/t.parquet")
    assert(rows() === Seq(0L, 1L, 2L))
    spark.range(3, 5).write.mode("append").parquet(s"$dir/t.parquet")
    assert(rows() === Seq(0L, 1L, 2L), "a memo hit keeps the first listing")
    assert(SessionScoped.count(spark, dir, _.startsWith("table:")) === 1)
    SessionScoped.evict(spark, dir)
    assert(SessionScoped.count(spark, dir, _.startsWith("table:")) === 0)
    assert(rows() === Seq(0L, 1L, 2L, 3L, 4L), "evict must re-list the files")
    SessionScoped.evict(spark, dir)
  }
}
