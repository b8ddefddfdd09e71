package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingAgg

case class Ev(ts: java.sql.Timestamp, event_type: String, value: Double)
case class UEv(ts: java.sql.Timestamp, user_id: Long, value: Double)
case class AEv(ts: java.sql.Timestamp, user_id: Long, event_type: String,
    event_id: Long, value: Double)

class StreamingSpec extends AnyFunSuite with SparkSpec {

  private def ev(sec: Long, t: String, v: Double) =
    Ev(new java.sql.Timestamp(sec * 1000L), t, v)

  test("windowed counts aggregate a stream like the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingAgg.windowedCounts(mem.toDF(), "1 hour", "10 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("wc").start()
    try {
      mem.addData(ev(0, "a", 1.0), ev(60, "a", 2.0), ev(3700, "b", 3.0))
      q.processAllAvailable()
      val rows = spark.table("wc")
        .select("event_type", "n", "v_sum").orderBy("event_type")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq === Seq(("a", 2L, 3.0), ("b", 1L, 3.0)))
    } finally q.stop()
  }

  test("sliding windows: each event lands in every overlapping bucket") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingAgg.windowedCounts(mem.toDF(), "1 hour", "10 minutes",
      slide = Some("30 minutes"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("sw").start()
    try {
      // 10:15 -> windows [9:30,10:30) and [10:00,11:00)
      mem.addData(ev(10 * 3600 + 15 * 60, "a", 2.0))
      q.processAllAvailable()
      val buckets = spark.table("sw")
        .select("bucket").collect().map(_.getTimestamp(0).getTime / 1000)
        .sorted
      assert(buckets.toSeq === Seq(9L * 3600 + 1800, 10L * 3600))
    } finally q.stop()
  }

  test("cadence dedup keeps one record per nominal bucket across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingAgg.cadenceDedup(mem.toDF(), minStepUs = 60000000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("dd").start()
    try {
      mem.addData(ev(0, "a", 1.0), ev(10, "a", 2.0)) // same minute bucket
      q.processAllAvailable()
      mem.addData(ev(15, "a", 3.0), ev(70, "b", 4.0)) // dup bucket + new
      q.processAllAvailable()
      assert(spark.table("dd").count() === 2)
    } finally q.stop()
  }

  test("granule-directory file stream: new granules flow through the agg") {
    import spark.implicits._
    val dir = tempDir("stream")
    def granule(name: String, evs: Seq[Ev]): Unit =
      evs.toDF().write.mode("overwrite").parquet(s"$dir/$name")
    granule("g1", Seq(ev(0, "a", 1.0), ev(60, "a", 2.0)))
    val stream = spark.readStream
      .schema(Seq(ev(0, "a", 1.0)).toDF().schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")
    val q = StreamingAgg.windowedCounts(stream, "1 hour", "10 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("fs").start()
    try {
      q.processAllAvailable()
      val n1 = spark.table("fs").agg(sum("n")).first().getLong(0)
      assert(n1 === 2L)
      // a new granule arrives; the stream picks it up incrementally
      granule("g2", Seq(ev(3700, "b", 3.0)))
      q.processAllAvailable()
      val n2 = spark.table("fs").agg(sum("n")).first().getLong(0)
      assert(n2 === 3L)
    } finally q.stop()
  }

  test("streaming gap fill inserts cadence fills when the closing event arrives") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[AEv]
    val hr = 3600L
    val base = 1000000L // off epoch zero: t = 0 is an invalid index value
    def aev(sec: Long, uid: Long, id: Long) =
      AEv(new java.sql.Timestamp((base + sec) * 1000L), uid, "view", id, 1.0)
    // nominal cadence 1h, fill gaps wider than 2h
    val q = StreamingAgg.gapFillStream(mem.toDF(),
      nomUs = 3600000000L, gapUs = 7200000000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("gf").start()
    try {
      mem.addData(aev(0, 1L, 1L))
      q.processAllAvailable()
      // no fills yet: an open trailing gap has no closing target
      assert(spark.table("gf").filter(col("is_fill")).count() === 0)
      // the closing event arrives 5h later in a NEW microbatch:
      // fills at +1h..+4h materialize exactly once
      mem.addData(aev(5 * hr, 1L, 2L), aev(5 * hr + 60, 2L, 3L))
      q.processAllAvailable()
      val fills = spark.table("gf").filter(col("is_fill"))
        .select("user_id", "t").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(fills.toSeq ===
        (1L to 4L).map(k => (1L, (base + k * hr) * 1000000L)))
      // real rows pass through unfilled, ids intact
      val real = spark.table("gf").filter(!col("is_fill"))
        .select("event_id").collect().map(_.getLong(0)).sorted
      assert(real.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("gap fill parity: streaming fills == batch-twin fills") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hr = 3600L
    val base = 1000000L
    def aev(sec: Long, uid: Long, id: Long) =
      AEv(new java.sql.Timestamp((base + sec) * 1000L), uid, "view", id, 2.0)
    val evs = Seq(aev(0, 1L, 1L), aev(hr, 1L, 2L), aev(6 * hr, 1L, 3L),
      aev(2 * hr, 2L, 4L), aev(9 * hr, 2L, 5L))
    val mem = MemoryStream[AEv]
    val q = StreamingAgg.gapFillStream(mem.toDF(),
      nomUs = 3600000000L, gapUs = 7200000000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("gfp").start()
    val streamed = try {
      evs.grouped(2).foreach { batch =>
        mem.addData(batch: _*); q.processAllAvailable()
      }
      spark.table("gfp").select("user_id", "t", "is_fill").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted
    } finally q.stop()
    val batch = StreamingAgg.gapFillStream(evs.toDF(),
      nomUs = 3600000000L, gapUs = 7200000000L)
      .toDF().select("user_id", "t", "is_fill").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stateful sessionize closes sessions on gaps and on timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def uev(sec: Long, uid: Long, v: Double) =
      UEv(new java.sql.Timestamp(sec * 1000L), uid, v)
    val gapUs = 1800000000L // 30 min
    val mem = MemoryStream[UEv]
    val q = graft.streaming.StreamingAgg
      .sessionize(mem.toDF(), gapUs, watermark = "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess").start()
    try {
      // events start above t=0: a row at exactly the initial watermark
      // (0 with a 0-second delay) is dropped as late by the state operator
      // user 1: two events 60s apart (one session), then a 1h gap
      mem.addData(uev(1000, 1, 1.0), uev(1060, 1, 2.0))
      q.processAllAvailable()
      assert(spark.table("sess").count() === 0) // still open
      // the gap-crossing event closes the first session immediately
      mem.addData(uev(4660, 1, 4.0))
      q.processAllAvailable()
      val closed = spark.table("sess").as[graft.streaming.Session].collect()
      assert(closed.toSeq ===
        Seq(graft.streaming.Session(1L, 1000000000L, 1060000000L, 2L, 3.0)))
      // advancing the watermark far past end+gap times out the open session
      mem.addData(uev(20000, 2, 9.0))
      q.processAllAvailable()
      mem.addData(uev(40000, 2, 1.0))
      q.processAllAvailable()
      val after = spark.table("sess").as[graft.streaming.Session]
        .collect().sortBy(s => (s.user_id, s.session_start))
      assert(after.contains(
        graft.streaming.Session(1L, 4660000000L, 4660000000L, 1L, 4.0)))
    } finally q.stop()
  }

  test("sessionize: a stale late event becomes its own closed session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def uev(sec: Long, uid: Long, v: Double) =
      UEv(new java.sql.Timestamp(sec * 1000L), uid, v)
    val gapUs = 1800000000L // 30 min
    val mem = MemoryStream[UEv]
    // 2h watermark: events up to 2h late are admitted, so a late event can
    // be in-watermark yet more than gap OLDER than the open session
    val q = graft.streaming.StreamingAgg
      .sessionize(mem.toDF(), gapUs, watermark = "2 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("stale").start()
    try {
      mem.addData(uev(10000, 1, 1.0))
      q.processAllAvailable()
      // 5000s is 5000s before the session start (> gap): it must NOT merge
      // (merging would rewind session_start across a batch-twin session
      // boundary) — it is emitted as its own already-elapsed session
      mem.addData(uev(5000, 1, 5.0))
      q.processAllAvailable()
      val sessions = spark.table("stale")
        .as[graft.streaming.Session].collect().toSeq
      assert(sessions ===
        Seq(graft.streaming.Session(1L, 5000000000L, 5000000000L, 1L, 5.0)))
    } finally q.stop()
  }

  test("sessionize parity: streaming sessions == batch-twin sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def uev(sec: Long, uid: Long, v: Double) =
      UEv(new java.sql.Timestamp(sec * 1000L), uid, v)
    val evs = Seq(
      uev(1000, 1, 1.0), uev(1060, 1, 2.0), uev(4660, 1, 4.0),
      uev(1010, 2, 8.0), uev(8200, 2, 16.0), uev(8260, 2, 32.0))
    val gapUs = 1800000000L
    // batch twin: same window-based session assignment as the registry's
    // stream_sessionize entry
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("t")
    val batch = evs.toDF()
      .withColumn("t", expr("unix_micros(ts)"))
      .withColumn("__new",
        when(lag(col("t"), 1).over(w).isNull ||
          col("t") - lag(col("t"), 1).over(w) > gapUs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("__new"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(min("t").as("session_start"), max("t").as("session_end"),
        count(lit(1)).as("n_events"), sum("value").as("v_sum"))
      .select("user_id", "session_start", "session_end", "n_events", "v_sum")
      .as[graft.streaming.Session].collect().toSet
    // streaming: feed everything, then advance the watermark to flush
    val mem = MemoryStream[UEv]
    val q = graft.streaming.StreamingAgg
      .sessionize(mem.toDF(), gapUs, watermark = "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("sessp").start()
    try {
      mem.addData(evs: _*)
      q.processAllAvailable()
      // two watermark pushes: batch N+1 runs with the watermark computed
      // after batch N, so the second push is what expires the last open
      // session of the data users
      mem.addData(uev(100000, 99, 0.0))
      q.processAllAvailable()
      mem.addData(uev(200000, 99, 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sessp").as[graft.streaming.Session]
        .filter(_.user_id < 10).collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("end-to-end: granule file stream -> windowed agg -> parquet sink") {
    import spark.implicits._
    val root = tempDir("e2e")
    def granule(name: String, evs: Seq[Ev]): Unit =
      evs.toDF().write.mode("overwrite").parquet(s"$root/in/$name")
    granule("g1", Seq(ev(0, "a", 1.0), ev(60, "a", 2.0)))
    val stream = spark.readStream
      .schema(Seq(ev(0, "a", 1.0)).toDF().schema)
      .parquet(s"$root/in/*")
    // append to a parquet sink: windows finalize once the watermark passes
    val q = StreamingAgg.windowedCounts(stream, "1 hour", "0 seconds")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .format("parquet").option("path", s"$root/out").start()
    try {
      q.processAllAvailable()
      // a much later granule pushes the watermark past hour zero's window
      granule("g2", Seq(ev(7300, "b", 3.0)))
      q.processAllAvailable()
      granule("g3", Seq(ev(14500, "c", 5.0)))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$root/out")
      val hour0 = out.filter(col("event_type") === "a").collect()
      assert(hour0.length === 1)
      assert(hour0.head.getAs[Long]("n") === 2L)
      assert(hour0.head.getAs[Double]("v_sum") === 3.0)
    } finally q.stop()
  }

  test("stream-static enrichment joins the dim per microbatch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def uev(sec: Long, uid: Long, v: Double) =
      UEv(new java.sql.Timestamp(sec * 1000L), uid, v)
    val dim = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val mem = MemoryStream[UEv]
    val q = StreamingAgg
      .enrichedWindowedCounts(mem.toDF(), dim, "1 hour", "10 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("enr").start()
    try {
      mem.addData(uev(0, 1, 1.0), uev(60, 1, 2.0), uev(120, 2, 4.0),
        uev(180, 9, 8.0)) // user 9 has no dim row: dropped by the inner join
      q.processAllAvailable()
      val rows = spark.table("enr")
        .select("c_mktsegment", "n", "v_sum").orderBy("c_mktsegment")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq === Seq(("BUILDING", 2L, 3.0), ("MACHINERY", 1L, 4.0)))
    } finally q.stop()
  }

  test("stream-stream attribution join matches views in the trailing hour") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def aev(sec: Long, uid: Long, ty: String, id: Long) =
      AEv(new java.sql.Timestamp(sec * 1000L), uid, ty, id, 1.0)
    val mem = MemoryStream[AEv]
    val q = StreamingAgg.attributionJoin(mem.toDF(), watermark = "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("attr").start()
    try {
      // user 1: views at t=100 and t=200, purchase at t=1000 (both within
      // the hour); a view at t=5000 AFTER the purchase must not match;
      // user 2's view must not leak into user 1's purchase
      mem.addData(aev(100, 1, "view", 1), aev(200, 1, "view", 2),
        aev(300, 2, "view", 3), aev(1000, 1, "purchase", 10))
      q.processAllAvailable()
      mem.addData(aev(5000, 1, "view", 4), aev(9000, 9, "view", 99))
      q.processAllAvailable()
      val rows = spark.table("attr")
        .select("purchase_id", "view_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows === Set((10L, 1L), (10L, 2L)))
    } finally q.stop()
  }

  test("streaming upsert keeps the latest version; late updates never regress") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[graft.streaming.UpEvent]
    val q = StreamingAgg.upsertLatest(
      mem.toDF().withColumn("ts", expr("timestamp_micros(t)")))
      .writeStream.outputMode("update")
      .format("memory").queryName("ups").start()
    def ev(u: Long, ty: String, t: Long, id: Long, v: Double) =
      graft.streaming.UpEvent(u, ty, t, id, v)
    try {
      mem.addData(ev(1, "click", 100L, 1L, 1.0), ev(1, "click", 200L, 2L, 2.0))
      q.processAllAvailable()
      // a LATE update (t=150 < current 200) arrives in a later batch: the
      // state must keep id=2, and a tie on t resolves to the higher id
      mem.addData(ev(1, "click", 150L, 3L, 3.0), ev(1, "click", 200L, 4L, 4.0))
      q.processAllAvailable()
      val latest = spark.table("ups")
        .as[graft.streaming.UpLatest].collect()
        .groupBy(l => (l.user_id, l.event_type))
        .map { case (_, ls) => ls.maxBy(l => (l.t, l.last_event_id)) }
      assert(latest.toSeq ===
        Seq(graft.streaming.UpLatest(1L, "click", 200L, 4L, 4.0)))
    } finally q.stop()
  }

  test("the same transform runs in batch mode (streaming/batch parity)") {
    import spark.implicits._
    val batch = Seq(ev(0, "a", 1.0), ev(60, "a", 2.0), ev(3700, "b", 3.0))
      .toDF()
    val out = StreamingAgg.windowedCounts(batch, "1 hour", "10 minutes")
    assert(out.agg(sum("n")).first().getLong(0) === 3L)
  }

  test("minhash dedup parity: streamed batches == one batch fold (random docs)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // small vocab + shared phrase stubs => plenty of genuine near-dups;
    // ids ascend with arrival order, so streaming first-arrival ownership
    // must equal the batch twin's min-id ownership exactly
    val rnd = new scala.util.Random(20260813)
    val vocab = Vector("spark", "plan", "shuffle", "granule", "window",
      "records", "fill", "cadence", "bucket", "hash", "join", "scan")
    val stubs = Vector.tabulate(4)(i =>
      Seq.fill(20)(vocab((i * 5 + 7) % vocab.length)).mkString(" "))
    val docs = (0L until 40L).map { id =>
      val stub = stubs(rnd.nextInt(stubs.length))
      val tail = Seq.fill(4)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      (id, s"$stub $tail")
    }
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getInt(1))
    val batch = StreamingAgg.minhashDedupStream(
        docs.toDF("doc_id", "text")).toDF().collect()
      .map(r => key(r) -> r.getLong(2)).toMap
    val mem = MemoryStream[(Long, String)]
    val q = StreamingAgg.minhashDedupStream(
        mem.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("mhdp").start()
    try {
      docs.grouped(10).foreach { g =>
        mem.addData(g: _*); q.processAllAvailable()
      }
      val streamed = spark.table("mhdp").collect()
        .map(r => key(r) -> r.getLong(2)).toMap
      assert(streamed.keySet == batch.keySet)
      val diff = streamed.collect {
        case (k, o) if batch(k) != o => (k, o, batch(k))
      }
      assert(diff.isEmpty, s"owner mismatches: ${diff.take(5)}")
    } finally q.stop()
  }

  test("minhash dedup 100-batch soak: state grows with novelty, not stream size") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 100 batches x 8 docs = 800 docs, but only 25 DISTINCT contents
    // cycling through: after the first few batches every arrival hits
    // existing band buckets, so the state store must plateau at
    // |distinct contents| x 8 bands and never track stream length.
    val vocab = Vector("spark", "plan", "shuffle", "granule", "window",
      "records", "fill", "cadence", "bucket", "hash", "join", "scan")
    val distinctDocs = Vector.tabulate(25) { i =>
      Seq.tabulate(24)(j => vocab((i * 7 + j * 3 + i * j) % vocab.length))
        .mkString(" ")
    }
    val mem = MemoryStream[(Long, String)]
    val q = StreamingAgg.minhashDedupStream(
        mem.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("mhsoak").start()
    try {
      var id = 0L
      var plateau = -1L
      for (b <- 0 until 100) {
        val batch = (0 until 8).map { j =>
          val d = distinctDocs(((b * 8 + j) * 13) % distinctDocs.length)
          id += 1
          (id, d)
        }
        mem.addData(batch: _*)
        q.processAllAvailable()
        val rows = q.lastProgress.stateOperators
          .map(_.numRowsTotal).sum
        if (b == 20) plateau = rows
        if (b > 20)
          assert(rows == plateau,
            s"batch $b: state rows $rows grew past the batch-20 " +
              s"plateau $plateau — dedup state must track novelty")
      }
      val finalRows = q.lastProgress.stateOperators
        .map(_.numRowsTotal).sum
      // ceiling: one Long-owner row per occupied (band, sig) bucket;
      // 25 distinct contents x 8 bands = 200 buckets max (shared bands
      // between similar contents only shrink it)
      assert(finalRows <= 25L * 8L,
        s"state rows $finalRows exceed the |distinct docs| x bands bound")
      assert(finalRows > 0)
      // and every duplicate of a seen content was flagged: 800 arrivals,
      // 25 owners — every non-first arrival reports a foreign owner
      val out = spark.table("mhsoak").collect()
        .map(r => (r.getLong(0), r.getLong(2)))
      val dropped = out.groupBy(_._1)
        .count { case (_, vs) => vs.exists { case (d, o) => o != d } }
      assert(dropped >= 800 - 25,
        s"only $dropped of 800 arrivals flagged as duplicates")
    } finally q.stop()
  }

  test("streaming minhash dedup drops a near-duplicate arriving a batch later") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    val mem = MemoryStream[(Long, String)]
    val q = StreamingAgg.minhashDedupStream(
        mem.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("mhd").start()
    try {
      mem.addData((1L, base + "ending one"))
      q.processAllAvailable()
      // batch 2: a NEAR-DUP of doc 1 plus an unrelated doc — the dup must
      // collide with the bucket state doc 1 opened in the earlier batch
      mem.addData(
        (10L, base + "ending two"),
        (11L, "completely different text about spark plans and shuffles " * 6))
      q.processAllAvailable()
      val v = spark.table("mhd").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      val dupOwners = v.filter(_._1 == 10L).map(_._3).toSet
      assert(dupOwners.contains(1L),
        s"doc 10 should inherit doc 1's bucket in some band: $dupOwners")
      assert(v.filter(_._1 == 11L).forall(_._3 == 11L),
        "unrelated doc must own all its buckets")
      assert(v.filter(_._1 == 1L).forall(_._3 == 1L),
        "first arrival owns its buckets")
    } finally q.stop()
  }

  test("streaming incremental dedup: corpus hits flag in any batch; " +
      "within-stream dups inherit across batches; state excludes corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    val textB = "query engines shuffle exchange partitions broadcast joins " * 6
    val fresh = "entirely novel delta content about telescopes and comets " * 6
    graft.functions.native.register(spark)
    // the standing corpus's persisted signature store, as a static frame
    val store = Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
      .select(col("doc_id"), posexplode(expr(
        "graft_minhash_bands(graft_shingles(graft_token_hashes(" +
          "graft_tokens(text))))")).as(Seq("band_idx", "sig")))
    val mem = MemoryStream[(Long, String)]
    val q = StreamingAgg.incrementalDedupStream(
        mem.toDF().toDF("doc_id", "text"), store)
      .writeStream.outputMode("append")
      .format("memory").queryName("incd").start()
    try {
      mem.addData((7L, textA), (27L, fresh))
      q.processAllAvailable()
      val s1 = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      // batch 2: a copy of batch 1's doc 7 (which itself copies corpus
      // doc 1) — must see BOTH the corpus owner and the stream owner
      mem.addData((17L, textA))
      q.processAllAvailable()
      val s2 = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      val v = spark.table("incd")
        .as[graft.streaming.IncVerdict].collect()
      assert(v.filter(_.doc_id == 7L).forall(r =>
        r.owner_id == 7L && r.corpus_dup.contains(1L)),
        "corpus copy: flags the corpus owner, owns its stream buckets")
      assert(v.filter(_.doc_id == 27L).forall(r =>
        r.owner_id == 27L && r.corpus_dup.isEmpty),
        "fresh doc: corpus-fresh and owns its buckets")
      assert(v.filter(_.doc_id == 17L).forall(r =>
        r.owner_id == 7L && r.corpus_dup.contains(1L)),
        "later copy: inherits the stream owner AND the corpus owner")
      // the verbatim copy opened no new buckets: state is per distinct
      // stream content, never corpus-sized (store has 2 docs x 8 bands)
      assert(s2 == s1, s"state went $s1 -> $s2 on a pure duplicate")
    } finally q.stop()
  }

  test("incremental dedup store refresh: a checkpointed restart " +
      "adjudicates against the swapped store with bucket state intact; " +
      "a swap under a running stream fails loudly, never silently stale") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.functions.native.register(spark)
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    val textB = "query engines shuffle exchange partitions broadcast joins " * 6
    val fresh = "entirely novel delta content about telescopes and comets " * 6
    def bands(docs: Seq[(Long, String)]) =
      docs.toDF("doc_id", "text").select(col("doc_id"), posexplode(expr(
        "graft_minhash_bands(graft_shingles(graft_token_hashes(" +
          "graft_tokens(text))))")).as(Seq("band_idx", "sig")))
    val dir = tempDir("storeswap")
    val storePath = s"$dir/store"
    val ckpt = s"$dir/ckpt"
    bands(Seq((100L, textA))).write.mode("overwrite").parquet(storePath)
    val sink = s"$dir/verdicts"
    val mem = MemoryStream[(Long, String)]
    // durable sink: the memory sink refuses checkpoint recovery, and the
    // restart protocol is exactly what this test pins
    def start() = StreamingAgg.incrementalDedupStream(
        mem.toDF().toDF("doc_id", "text"),
        spark.read.parquet(storePath))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", sink).start()
    def verdicts() = spark.read.parquet(sink)
      .as[graft.streaming.IncVerdict].collect()
    val q1 = start()
    try {
      mem.addData((7L, textA), (27L, fresh))
      q1.processAllAvailable()
      val v1 = verdicts()
      assert(v1.filter(_.doc_id == 7L).forall(_.corpus_dup.contains(100L)))
      assert(v1.filter(_.doc_id == 27L).forall(r =>
        r.owner_id == 27L && r.corpus_dup.isEmpty))
    } finally q1.stop()
    // NEW corpus ingest lands: the store is rewritten while the stream
    // is down, then the SAME pipeline restarts on the SAME checkpoint
    bands(Seq((100L, textA), (200L, textB)))
      .write.mode("overwrite").parquet(storePath)
    val q2 = start()
    try {
      mem.addData((37L, textB), (47L, fresh))
      q2.processAllAvailable()
      val v2 = verdicts()
      // the next batch adjudicates against the NEW store...
      assert(v2.filter(_.doc_id == 37L).forall(r =>
        r.owner_id == 37L && r.corpus_dup.contains(200L)),
        "post-swap batch must flag the NEW corpus doc 200")
      // ...with bucket-owner state INTACT across the restart: doc 47
      // copies pre-restart doc 27 and must inherit its ownership
      assert(v2.filter(_.doc_id == 47L).forall(r =>
        r.owner_id == 27L && r.corpus_dup.isEmpty),
        "pre-swap stream ownership must survive the restart")
      // and a swap UNDER the running stream is LOUD: the next batch dies
      // on the vanished files instead of silently reading stale bands
      bands(Seq((300L, textB))).write.mode("overwrite").parquet(storePath)
      mem.addData((57L, textA))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
        q2.awaitTermination(10000)
      }
    } finally q2.stop()
  }

  test("streaming quantile sketch: batches converge to the batch fold, " +
      "state stays k-bounded, batch split order is irrelevant") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 300 rows, one heavy key + one light key; values deterministic
    val rows = (1L to 300L).map { i =>
      AEv(new java.sql.Timestamp(i * 1000L), 1L,
        if (i % 5 == 0) "b" else "a", i, ((i * 2654435761L) % 1000L) / 10.0)
    }
    val k = 64
    def lastPerKey(table: String): Map[String, (Long, Long, Double, Double)] =
      spark.table(table).as[graft.streaming.QuantileUpdate].collect()
        .groupBy(_.event_type)
        .map { case (t, us) =>
          val u = us.maxBy(_.n_seen)
          t -> (u.n_seen, u.n_sample, u.p50, u.p95)
        }
    def drive(name: String, batches: Seq[Seq[AEv]]): Map[String, (Long, Long, Double, Double)] = {
      val mem = MemoryStream[AEv]
      val q = StreamingAgg.quantileSketchStream(mem.toDF(), k)
        .writeStream.outputMode("update")
        .format("memory").queryName(name).start()
      try {
        batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        lastPerKey(name)
      } finally q.stop()
    }
    // NON-chronological split: ids interleave across batches, so the
    // bottom-k state absorbs late small hashes — the fold must not care
    val (s1, s2) = rows.partition(_.event_id % 3 == 0)
    val streamed = drive("qs1", Seq(s1.take(40), s2, s1.drop(40)))
    val reversed = drive("qs2", Seq(s2.reverse, s1.reverse))
    val batch = StreamingAgg.quantileSketchStream(rows.toDF(), k)
      .collect().map(u => u.event_type ->
        (u.n_seen, u.n_sample, u.p50, u.p95)).toMap
    assert(streamed === batch, "streamed != one-shot batch fold")
    assert(reversed === batch, "batch split order changed the result")
    // bounded state: the heavy key saw 240 rows but keeps exactly k
    assert(batch("a")._1 === 240L)
    assert(batch("a")._2 === k.toLong, "sample must cap at k")
    // rank-error sanity: sketch p50 inside the exact p40..p60 band
    val exactA = rows.filter(_.event_type == "a").map(_.value).sorted
    val (p40, p60) = (exactA((exactA.size * 2) / 5), exactA((exactA.size * 3) / 5))
    val p50 = batch("a")._3
    assert(p50 >= p40 && p50 <= p60, s"sketch p50 $p50 outside [$p40, $p60]")
  }

  test("streaming KMV distinct: batches converge to the batch fold, " +
      "state stays k-bounded, duplicates never inflate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // key "a": 240 rows over 150 distinct users (> k: estimator active);
    // key "b": 60 rows over 7 distinct users (< k: sketch IS exact)
    val rows = (1L to 300L).map { i =>
      val t = if (i % 5 == 0) "b" else "a"
      val uid = if (t == "a") i % 150 else i % 7
      AEv(new java.sql.Timestamp(i * 1000L), uid, t, i, 1.0)
    }
    def lastPerKey(table: String): Map[String, (Long, Long, Double)] =
      spark.table(table).as[graft.streaming.DistinctUpdate].collect()
        .groupBy(_.event_type)
        .map { case (t, us) =>
          val u = us.maxBy(_.n_seen)
          t -> (u.n_seen, u.n_sketch, u.est_users)
        }
    def drive(name: String, batches: Seq[Seq[AEv]]): Map[String, (Long, Long, Double)] = {
      val mem = MemoryStream[AEv]
      val q = StreamingAgg.kmvDistinctStream(mem.toDF())
        .writeStream.outputMode("update")
        .format("memory").queryName(name).start()
      try {
        batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        lastPerKey(name)
      } finally q.stop()
    }
    // non-chronological split: late batches carry small user ids whose
    // hashes must still enter the sketch — the KMV fold must not care
    val (s1, s2) = rows.partition(_.event_id % 3 == 0)
    val streamed = drive("kd1", Seq(s1.take(40), s2, s1.drop(40)))
    val reversed = drive("kd2", Seq(s2.reverse, s1.reverse))
    val batch = StreamingAgg.kmvDistinctStream(rows.toDF())
      .collect().map(u => u.event_type ->
        (u.n_seen, u.n_sketch, u.est_users)).toMap
    assert(streamed === batch, "streamed != one-shot batch fold")
    assert(reversed === batch, "batch split order changed the result")
    // under k distinct: the sketch is the exact distinct set
    assert(batch("b") === ((60L, 7L, 7.0)))
    // over k distinct: sketch caps at k, estimate lands near the truth
    assert(batch("a")._1 === 240L)
    assert(batch("a")._2 === 64L, "sketch must cap at k")
    val est = batch("a")._3
    assert(est > 90.0 && est < 250.0,
      s"KMV estimate $est too far from 150 true distinct")
  }

  test("randomized parity: quantile/distinct/topk streams == batch fold " +
      "under random data, random split counts, random batch assignment") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the three bounded-state folds all claim ORDER-INDEPENDENCE — the
    // strongest form of batch/stream parity. Drive each with randomly
    // generated events partitioned into a random number of randomly
    // assigned batches (including empty ones) and require bit-identical
    // convergence to the one-shot batch run.
    val rnd = new scala.util.Random(20260814)
    for (trial <- 1 to 3) {
      val n = 150 + rnd.nextInt(200)
      val types = Vector("a", "b", "c")
      val rows = (1L to n.toLong).map { i =>
        AEv(new java.sql.Timestamp(i * 1000L),
          rnd.nextInt(40).toLong, types(rnd.nextInt(types.length)), i,
          math.floor(rnd.nextDouble() * 1e6) / 1e4)
      }
      val nBatches = 2 + rnd.nextInt(5)
      val assignment = rows.groupBy(_ => rnd.nextInt(nBatches))
      val batches = (0 until nBatches).map(b =>
        assignment.getOrElse(b, Seq.empty))
      def drive[T](name: String,
          xform: org.apache.spark.sql.DataFrame =>
            org.apache.spark.sql.Dataset[T]): Array[org.apache.spark.sql.Row] = {
        val mem = MemoryStream[AEv]
        val q = xform(mem.toDF()).toDF()
          .writeStream.outputMode("update")
          .format("memory").queryName(name).start()
        try {
          batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
          spark.table(name).collect()
        } finally q.stop()
      }
      // last emission per key == the batch fold, for each transform
      val qn = drive(s"rq$trial", StreamingAgg.quantileSketchStream(_))
        .map(r => r.getString(0) -> r).groupBy(_._1)
        .map { case (k, rs) => k -> rs.map(_._2).maxBy(_.getLong(1)).toSeq }
      val qb = StreamingAgg.quantileSketchStream(rows.toDF()).toDF()
        .collect().map(r => r.getString(0) -> r.toSeq).toMap
      assert(qn === qb, s"trial $trial: quantile stream != batch")
      val dn = drive(s"rd$trial", StreamingAgg.kmvDistinctStream(_))
        .map(r => r.getString(0) -> r).groupBy(_._1)
        .map { case (k, rs) => k -> rs.map(_._2).maxBy(_.getLong(1)).toSeq }
      val db = StreamingAgg.kmvDistinctStream(rows.toDF()).toDF()
        .collect().map(r => r.getString(0) -> r.toSeq).toMap
      assert(dn === db, s"trial $trial: distinct stream != batch")
      // top-k re-emits the whole board; keep the last batch's emission
      // per (key, rnk) — MemoryStream sinks append in batch order
      val tn = drive(s"rt$trial", StreamingAgg.topKStream(_))
        .map(r => (r.getString(0), r.getLong(1)) -> r).groupBy(_._1)
        .map { case (k, rs) => k -> rs.last._2.toSeq }
      val tb = StreamingAgg.topKStream(rows.toDF()).toDF()
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.toSeq).toMap
      assert(tn === tb, s"trial $trial: topk stream != batch")
    }
  }

  test("streaming profile: batches converge to the batch fold bit-for-bit, " +
      "nulls counted, state stays sketch-bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // every 7th value NULL; 150 distinct users on key "a" (> k=64, the
    // KMV estimator active), 7 on key "b" (sketch exact)
    val rows = (1L to 300L).map { i =>
      val t = if (i % 5 == 0) "b" else "a"
      val uid = if (t == "a") i % 150 else i % 7
      (new java.sql.Timestamp(i * 1000L), uid, t, i,
        if (i % 7 == 0) None else Some(((i * 37) % 1000).toDouble / 4.0))
    }.map(x => x) // (ts, user_id, event_type, event_id, value)
    def df(xs: Seq[(java.sql.Timestamp, Long, String, Long, Option[Double])]) =
      xs.toDF("ts", "user_id", "event_type", "event_id", "value")
    def lastPerKey(table: String): Map[String, Seq[Any]] =
      spark.table(table).collect()
        .map(r => r.getString(0) -> r).groupBy(_._1)
        .map { case (k, rs) => k -> rs.map(_._2).maxBy(_.getLong(1)).toSeq }
    def drive(name: String, batches: Seq[Seq[(java.sql.Timestamp, Long,
        String, Long, Option[Double])]]): Map[String, Seq[Any]] = {
      val mem = MemoryStream[(java.sql.Timestamp, Long, String, Long,
        Option[Double])]
      val q = StreamingAgg.profileStream(
          mem.toDF().toDF("ts", "user_id", "event_type", "event_id", "value"))
        .writeStream.outputMode("update")
        .format("memory").queryName(name).start()
      try {
        batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        lastPerKey(name)
      } finally q.stop()
    }
    val (s1, s2) = rows.partition(_._4 % 3 == 0)
    val streamed = drive("pf1", Seq(s1.take(40), s2, s1.drop(40)))
    val reversed = drive("pf2", Seq(s2.reverse, s1.reverse))
    val batch = StreamingAgg.profileStream(df(rows)).toDF()
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(streamed === batch, "streamed profile != one-shot batch fold")
    assert(reversed === batch, "batch split order changed the profile")
    // and the profile agrees with plain SQL over the same frame
    val exact = df(rows)
      .selectExpr("event_type", "value",
        "CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS e4")
      .groupBy("event_type")
      .agg(count(lit(1)), sum(expr("IF(value IS NULL, 1L, 0L)")),
        min("value"), max("value"), sum("e4"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getLong(5))).toMap
    batch.foreach { case (k, seq) =>
      val (n, nn, mn, mx, s4) = exact(k)
      assert(seq(1) === n && seq(2) === nn && seq(3) === mn &&
        seq(4) === mx && seq(5) === s4, s"key $k profile != plain SQL")
    }
  }

  test("streaming Misra-Gries: candidates cover every prefix's heavy " +
      "set, state stays k-bounded, verified output is exact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val k = 15
    val rnd = new scala.util.Random(31)
    // skewed bins: ~60 distinct per key, a few dominating — both above
    // and below the k threshold so eviction actually runs
    val rows = (1L to 600L).map { i =>
      val t = if (i % 3 == 0) "b" else "a"
      val bin = (math.pow(rnd.nextDouble(), 3.0) * 60).toLong
      AEv(new java.sql.Timestamp(i * 1000L), i % 40, t, i, bin.toDouble)
    }
    val batches = rows.grouped(75).toSeq
    val mem = MemoryStream[AEv]
    val q = StreamingAgg.frequentStream(mem.toDF(), k)
      .writeStream.outputMode("update")
      .format("memory").queryName("mgf").start()
    try {
      var fed = Vector.empty[AEv]
      batches.foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
        fed = fed ++ b
        // last emission per key after this batch
        val updates = spark.table("mgf")
          .as[graft.streaming.FreqUpdate].collect()
          .groupBy(_.event_type)
          .map { case (t, us) => t -> us.maxBy(_.n_seen) }
        // prefix invariant: every item with freq > n_seen/(k+1) must be
        // among the candidates, at EVERY prefix, under this batch split
        fed.groupBy(_.event_type).foreach { case (t, evs) =>
          val u = updates(t)
          assert(u.n_seen === evs.size.toLong)
          assert(u.n_tracked <= k.toLong,
            s"key $t: state grew past k ($u)")
          val exact = evs.groupBy(e => e.value.toLong)
            .map { case (b2, xs) => b2 -> xs.size.toLong }
          val bound = evs.size.toLong / (k + 1)
          exact.filter(_._2 > bound).keys.foreach { hh =>
            assert(u.candidates.contains(hh),
              s"key $t prefix n=${evs.size}: heavy bin $hh not in " +
                s"candidates ${u.candidates.mkString(",")}")
          }
        }
      }
      // state: exactly one row per key, nothing per-event
      assert(q.lastProgress.stateOperators.map(_.numRowsTotal).sum === 2L)
    } finally q.stop()
  }

  test("streaming top-k: the board converges to the batch ranks, " +
      "state stays k-bounded, late high values displace old leaders") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = (1L to 200L).map { i =>
      AEv(new java.sql.Timestamp(i * 1000L), 1L,
        if (i % 4 == 0) "b" else "a", i,
        ((i * 2654435761L) % 997L).toDouble)
    }
    def board(table: String): Map[(String, Long), (Long, Double)] =
      spark.table(table).as[graft.streaming.TopKRow].collect()
        // Update mode re-emits the board per batch; the memory sink
        // appends, so keep the LAST emission per (key, rnk)
        .groupBy(r => (r.event_type, r.rnk))
        .map { case (k, rs) => k -> { val r = rs.last; (r.event_id, r.value) } }
    def drive(name: String, batches: Seq[Seq[AEv]]): Map[(String, Long), (Long, Double)] = {
      val mem = MemoryStream[AEv]
      val q = StreamingAgg.topKStream(mem.toDF())
        .writeStream.outputMode("update")
        .format("memory").queryName(name).start()
      try {
        batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        board(name)
      } finally q.stop()
    }
    // split so high values land in different batches than their ranks'
    // neighbors — the fold must re-rank across batch boundaries
    val (s1, s2) = rows.partition(_.event_id % 3 == 0)
    val streamed = drive("tk1", Seq(s1, s2))
    val reversed = drive("tk2", Seq(s2.reverse, s1.reverse))
    val batch = StreamingAgg.topKStream(rows.toDF())
      .collect().map(r => (r.event_type, r.rnk) -> (r.event_id, r.value))
      .toMap
    assert(streamed === batch, "streamed board != one-shot batch fold")
    assert(reversed === batch, "batch split order changed the board")
    // and the batch fold equals the plain rank window (the oracle shape)
    val expect = rows.filter(_.event_type == "a")
      .sortBy(e => (-e.value, e.event_id)).take(5)
      .zipWithIndex.map { case (e, i) =>
        ("a", (i + 1).toLong) -> (e.event_id, e.value) }.toMap
    assert(batch.filter(_._1._1 == "a") === expect)
    assert(batch.keys.count(_._1 == "a") === 5, "board must cap at k")
  }

  test("streaming vector dedup: a duplicate arriving a batch later inherits " +
      "the owner; state tracks distinct content") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def axis(a: Int): Seq[Float] =
      Seq.tabulate(64)(j => if (j == a) 1.0f else 0.0f)
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAgg.vecDedupStream(
        mem.toDF().toDF("vec_id", "embedding"))
      .writeStream.outputMode("append")
      .format("memory").queryName("vdsoak").start()
    try {
      mem.addData((1L, axis(0)), (3L, axis(7)))
      q.processAllAvailable()
      val s1 = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      // batch 2: an exact duplicate of vec 1 (same 40-plane signature)
      // plus a fresh distinct vector
      mem.addData((4L, axis(0)), (5L, axis(12)))
      q.processAllAvailable()
      val s2 = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      val out = spark.table("vdsoak")
        .as[graft.streaming.VecVerdict].collect()
      // vec 4 collides with vec 1's buckets in BOTH bands
      assert(out.filter(_.vec_id == 4L).map(_.owner_id).toSet === Set(1L),
        "late duplicate must inherit the first-arrival owner")
      assert(out.filter(_.vec_id == 3L).forall(_.owner_id == 3L),
        "a distinct vector owns its buckets")
      // the duplicate added NO state; the distinct vector added buckets
      assert(s2 > s1 - 1 && s2 <= s1 + 2,
        s"state went $s1 -> $s2: must grow with distinct content only")
    } finally q.stop()
  }

  test("vector dedup 100-batch soak: state plateaus at distinct content x " +
      "bands; first-arrival ownership stable under re-delivery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def axis(a: Int): Seq[Float] =
      Seq.tabulate(64)(j => if (j == a) 1.0f else 0.0f)
    // 20 distinct contents cycle under 1000 arrivals: state must stop
    // growing once every content has been seen (<= 2 bands x 20
    // buckets), while the stream runs 10x longer than the content pool.
    val pool = 20
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAgg.vecDedupStream(
        mem.toDF().toDF("vec_id", "embedding"))
      .writeStream.outputMode("append")
      .format("memory").queryName("vdsoak100").start()
    try {
      var rowPlateau = -1L
      var bytePlateau = -1L
      for (b <- 0 until 100) {
        // 10 arrivals per batch; batch 50 re-delivers batch 0's exact
        // rows (same vec_id AND content — an at-least-once replay)
        val rows: Seq[(Long, Seq[Float])] =
          if (b == 50) (0 until 10).map(j => (j.toLong, axis(j)))
          else (0 until 10).map { j =>
            val id = b * 10L + j; (id, axis((id % pool).toInt))
          }
        mem.addData(rows: _*)
        q.processAllAvailable()
        val ops = q.lastProgress.stateOperators
        val rowsN = ops.map(_.numRowsTotal).sum
        val bytes = ops.map(_.memoryUsedBytes).sum
        if (b == 5) { rowPlateau = rowsN; bytePlateau = bytes }
        if (b > 5) {
          assert(rowsN == rowPlateau,
            s"batch $b: state rows $rowsN grew past plateau $rowPlateau " +
              "— state must track distinct content, not stream length")
          assert(bytes <= bytePlateau,
            s"batch $b: state bytes $bytes grew past plateau $bytePlateau")
        }
      }
      assert(rowPlateau > 0 && rowPlateau <= 2L * pool,
        s"state plateau $rowPlateau exceeds 2 bands x $pool contents")
      // Ownership invariants robust to cross-content band collisions
      // (axes 3 and 5 DO share a band-0 bucket under the LCG planes):
      val out = spark.table("vdsoak100")
        .as[graft.streaming.VecVerdict].collect()
      assert(out.nonEmpty)
      val owners = out.groupBy(v => (v.vec_id, v.band_idx))
        .map { case (k, vs) =>
          // stability: re-deliveries (batch 50 replays batch 0) and
          // cycling duplicates always report the SAME owner
          assert(vs.map(_.owner_id).distinct.size === 1,
            s"$k owner changed across deliveries: ${vs.toSeq}")
          k -> vs.head.owner_id
        }
      for (((id, b), o) <- owners) {
        assert(o <= id, s"vec $id band $b: owner $o arrived later")
        // same content => same bucket => same owner
        assert(o === owners((id % pool, b)),
          s"vec $id band $b: owner $o != content twin's owner")
        // the owner owns its own bucket
        assert(owners((o, b)) === o,
          s"vec $id band $b: owner $o does not own its bucket")
      }
    } finally q.stop()
  }

  test("quantile/distinct/topk 100-batch soak: state plateaus at the sketch " +
      "ceiling, never the stream length; final update == batch fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 100 batches x 30 rows (3 keys x 10) = 3000 arrivals; sketch sizes
    // (qk=32 sample, dk=16 KMV, tk=5 board) all saturate by ~batch 10, so
    // from batch 30 on the state store must hold EXACTLY constant rows
    // and non-growing bytes while n_seen climbs linearly — the
    // bounded-state claim (3k+1 / k+1 / k longs per key) made by each
    // fold's scaladoc, under 10x more batches than the parity tests.
    val types = Vector("a", "b", "c")
    def batchRows(b: Int): Seq[AEv] =
      (0 until 30).map { j =>
        val id = b * 30L + j + 1L
        AEv(new java.sql.Timestamp(id * 1000L), (id * 31L) % 200L,
          types(j % 3), id, ((id * 2654435761L) % 100003L) / 100.0)
      }
    val all = (0 until 100).flatMap(batchRows)
    def soak[T](name: String,
        xform: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.Dataset[T]): Array[org.apache.spark.sql.Row] = {
      val mem = MemoryStream[AEv]
      val q = xform(mem.toDF()).toDF()
        .writeStream.outputMode("update")
        .format("memory").queryName(name).start()
      try {
        var rowPlateau = -1L
        var bytePlateau = -1L
        for (b <- 0 until 100) {
          mem.addData(batchRows(b): _*)
          q.processAllAvailable()
          val ops = q.lastProgress.stateOperators
          val rows = ops.map(_.numRowsTotal).sum
          val bytes = ops.map(_.memoryUsedBytes).sum
          // plateau = the envelope over batches 30..60: the monotone
          // sketches (sample/KMV/board) are flat there already, while
          // the MG summary legitimately WOBBLES below its k-ceiling
          // (evictions shrink the map) — the invariant is that bytes
          // never grow past the saturated envelope, not that every
          // snapshot equals batch 30's.
          if (b >= 30 && b <= 60) {
            rowPlateau = math.max(rowPlateau, rows)
            bytePlateau = math.max(bytePlateau, bytes)
          }
          if (b > 60) {
            assert(rows <= rowPlateau,
              s"$name batch $b: state rows $rows grew past plateau " +
                s"$rowPlateau — state must track the sketch, not the stream")
            assert(bytes <= bytePlateau,
              s"$name batch $b: state bytes $bytes grew past the " +
                s"saturated-sketch plateau $bytePlateau")
          }
        }
        // one state row per key, nothing per-event
        assert(q.lastProgress.stateOperators.map(_.numRowsTotal).sum ===
          types.length.toLong)
        spark.table(name).collect()
      } finally q.stop()
    }
    def lastPerKey(rows: Array[org.apache.spark.sql.Row]): Map[String, Seq[Any]] =
      rows.map(r => r.getString(0) -> r).groupBy(_._1)
        .map { case (k, rs) => k -> rs.map(_._2).maxBy(_.getLong(1)).toSeq }
    // quantile: 3k+1 longs per key
    val qs = soak("soakq", StreamingAgg.quantileSketchStream(_, 32))
    assert(lastPerKey(qs) === StreamingAgg
      .quantileSketchStream(all.toDF(), 32).toDF()
      .collect().map(r => r.getString(0) -> r.toSeq).toMap,
      "quantile soak did not converge to the batch fold")
    qs.foreach(r => assert(r.getLong(2) <= 32L, "sample must cap at k"))
    // distinct: k+1 longs per key
    val ds = soak("soakd", StreamingAgg.kmvDistinctStream(_, 16))
    assert(lastPerKey(ds) === StreamingAgg
      .kmvDistinctStream(all.toDF(), 16).toDF()
      .collect().map(r => r.getString(0) -> r.toSeq).toMap,
      "distinct soak did not converge to the batch fold")
    ds.foreach(r => assert(r.getLong(2) <= 16L, "sketch must cap at k"))
    // frequent: <= k (item, counter) pairs per key; every batch's
    // emission must track candidates >= the heavy set of the prefix
    val fs = soak("soakf", StreamingAgg.frequentStream(_, 15))
    fs.foreach(r => assert(r.getLong(2) <= 15L,
      "MG state must cap at k counters"))
    // profile: five scalars + <= k hashes per key; converges to batch
    val ps = soak("soakp", StreamingAgg.profileStream(_, 16))
    assert(lastPerKey(ps) === StreamingAgg
      .profileStream(all.toDF(), 16).toDF()
      .collect().map(r => r.getString(0) -> r.toSeq).toMap,
      "profile soak did not converge to the batch fold")
    // topk: k (id, value) pairs per key — board never exceeds k ranks
    val ts = soak("soakt", StreamingAgg.topKStream(_))
    assert(ts.map(r => (r.getString(0), r.getLong(1))).distinct.length <=
      types.length * 5, "board emitted ranks beyond k")
    val lastBoard = ts.map(r => (r.getString(0), r.getLong(1)) -> r)
      .groupBy(_._1).map { case (k, rs) => k -> rs.last._2.toSeq }
    assert(lastBoard === StreamingAgg.topKStream(all.toDF()).toDF()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.toSeq).toMap,
      "topk soak did not converge to the batch fold")
  }

  test("transition steps chain across batches through per-user state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[AEv]
    def aev(sec: Long, uid: Long, t: String, id: Long) =
      AEv(new java.sql.Timestamp(sec * 1000L), uid, t, id, 1.0)
    val q = StreamingAgg.transitionSteps(mem.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("trs").start()
    try {
      // batch 1: user 1 view->click (out-of-order arrival sorts by time)
      mem.addData(aev(20, 1L, "click", 2L), aev(10, 1L, "view", 1L))
      q.processAllAvailable()
      val b1 = spark.table("trs")
        .select("user_id", "from_type", "to_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(b1 === Set((1L, "view", "click")))
      // batch 2: user 1 continues FROM THE STORED last event (click),
      // user 2 starts fresh (no step from a single event)
      mem.addData(aev(30, 1L, "purchase", 3L), aev(5, 2L, "view", 4L))
      q.processAllAvailable()
      val b2 = spark.table("trs")
        .select("user_id", "from_type", "to_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(b2 === Set((1L, "view", "click"), (1L, "click", "purchase")))
    } finally q.stop()
    // batch mode == the lead-window pairs of the same history
    val hist = Seq(aev(10, 1L, "view", 1L), aev(20, 1L, "click", 2L),
      aev(30, 1L, "purchase", 3L), aev(5, 2L, "view", 4L)).toDF()
    val steps = StreamingAgg.transitionSteps(hist).toDF()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    assert(steps === Set((1L, "view", "click"), (1L, "click", "purchase")))
  }

  test("streaming drift monitor: batch emissions converge to the batch " +
      "two-sample check bit-for-bit; state stays dims-bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // the fold (one invocation per label) == the windowless batch query
    val fold = graft.queries.QueryRegistry.queries("stream_drift")(
      spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = graft.queries.PipelineQueries.embDrift(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(fold === batch, "drift fold == the aggregate/join batch plan")

    // streamed in arbitrary batches: the LAST emission per label (the one
    // with the most vectors folded) equals the batch fold
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray, r.getInt(2).toLong))
    val mem = MemoryStream[(Long, Array[Float], Long)]
    val q = StreamingAgg.driftStream(
        mem.toDF().toDF("vec_id", "embedding", "label"))
      .writeStream.outputMode("append")
      .format("memory").queryName("drift").start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 3)
      mem.addData(b1.toSeq: _*); q.processAllAvailable()
      mem.addData(b2.toSeq: _*); q.processAllAvailable()
      val streamed = spark.table("drift").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3)))
        .groupBy(_._1).map { case (_, rs) =>
          rs.maxBy(r => r._2 + r._3) }.toSet
      assert(streamed === batch,
        "final streamed drift rows must equal the batch check")
    } finally q.stop()
  }

  test("anomaly stream two-long accumulator: carry-heavy extreme values " +
      "stay exact against a BigInt reference") {
    import spark.implicits._
    val day = 86400L
    // |value| near the documented 3e5 bound: every e4^2 ~ 8.4e18 (just
    // under Long.MaxValue) forces the split-first carry path on every
    // row — a naive lo+sq accumulation overflows immediately
    def aev(sec: Long, id: Long, v: Double) =
      AEv(new java.sql.Timestamp(sec * 1000L), 1L, "m", id, v)
    val big = (0 until 40).map(i =>
      aev(i / 20 * day + i * 60, i.toLong, 289000.0 + i))
    val probe = Seq(aev(2 * day, 500L, 289020.0), // in-family, no flag
      aev(2 * day + 60, 501L, 1.0))               // wild low outlier
    val out = StreamingAgg.anomalyStream((big ++ probe).toDF()).toDF()
      .collect().map(r => (r.getLong(2), r.getLong(4), r.getDouble(5)))
    assert(out.map(_._1).toSeq === Seq(501L))
    // exact reference moments through BigInt — no long arithmetic at all
    val e4s = big.map(e => BigInt(math.floor(e.value * 1e4 + 0.5).toLong))
    val n = e4s.size
    val mu = BigDecimal(e4s.sum).toDouble / n.toDouble
    val s2 = BigDecimal(e4s.map(x => x * x).sum).toDouble
    val sigma = math.sqrt(s2 / n.toDouble - mu * mu)
    val zExp = (math.floor(1.0 * 1e4 + 0.5) - mu) / sigma
    assert(out.head._2 === 40L)
    assert(out.head._3 === zExp,
      "carry-path moments must equal the BigInt reference bit-for-bit")
  }

  test("day movers stream: a step emits when its day COMPLETES, chains " +
      "across batches, consecutive days only; fold covers the batch peak") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val day = 86400L
    def aev(sec: Long, id: Long, v: Double) =
      AEv(new java.sql.Timestamp(sec * 1000L), 1L, "m", id, v)
    val mem = MemoryStream[AEv]
    val q = StreamingAgg.dayMoversStream(mem.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("movers").start()
    def rows() = spark.table("movers").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toSet
    try {
      // day 0 (sum 15) and day 1 open; day 0 completed with no prior
      // day, so nothing emits yet
      mem.addData(aev(0, 1L, 10.0), aev(60, 2L, 5.0), aev(day, 3L, 7.0))
      q.processAllAvailable()
      assert(rows() === Set.empty)
      // day 2 arrives in a LATER batch: day 1 (sum 7) completes against
      // the day-0 state carried across the batch boundary
      mem.addData(aev(2 * day, 4L, 9.0))
      q.processAllAvailable()
      assert(rows() === Set((1L, 15.0, 7.0, -8.0)))
      // day 4 (skipping day 3): day 2 completes consecutively -> emits;
      // then day 5 completes day 4 NON-consecutively -> must not emit
      mem.addData(aev(4 * day, 5L, 1.0))
      q.processAllAvailable()
      assert(rows() === Set((1L, 15.0, 7.0, -8.0), (2L, 7.0, 9.0, 2.0)))
      mem.addData(aev(5 * day, 6L, 2.0))
      q.processAllAvailable()
      assert(rows() === Set((1L, 15.0, 7.0, -8.0), (2L, 7.0, 9.0, 2.0)),
        "a gap day must not produce a step")
    } finally q.stop()

    // on real data the batch fold must contain q_top_movers' peak row
    // bit-for-bit whenever the peak day has completed (not the trailing
    // day of its type)
    val sf = "/root/testdata/sf0.001"
    val fold = graft.queries.QueryRegistry.queries("stream_top_movers")(
      spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val lastDay = graft.queries.AggQueries.events(spark, sf)
      .filter(col("ts").isNotNull && col("value").isNotNull &&
        col("event_type").isNotNull && col("event_id").isNotNull)
      .withColumn("__t", unix_micros(col("ts")
        .cast(org.apache.spark.sql.types.TimestampType)))
      .groupBy("event_type")
      .agg(max(expr("__t div 86400000000")).as("mx"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.queries.RelationalQueries.qTopMovers(spark, sf).collect()
      .foreach { p =>
        val (t, d) = (p.getString(0), p.getLong(1))
        if (d < lastDay(t))
          assert(fold((t, d)) ===
            (p.getDouble(2), p.getDouble(3), p.getDouble(4)),
            s"peak step of $t must appear in the stream fold exactly")
      }
  }

  test("cusum stream: warmup freezes the reference mean across batches; " +
      "a level shift drives the post-warmup statistic monotonically") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val day = 86400L
    def aev(sec: Long, id: Long, v: Double) =
      AEv(new java.sql.Timestamp(sec * 1000L), 1L, "m", id, v)
    val mem = MemoryStream[AEv]
    val q = StreamingAgg.cusumStream(mem.toDF(), warmupDays = 2L)
      .writeStream.outputMode("append")
      .format("memory").queryName("cus").start()
    def rows() = spark.table("cus").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    try {
      // warmup days 0 (10, 12) and 1 (11): mu0 = 11. Nothing emits
      // while days only complete INTO the warmup.
      mem.addData(aev(0, 1L, 10.0), aev(60, 2L, 12.0), aev(day, 3L, 11.0))
      q.processAllAvailable()
      assert(rows() === Set.empty)
      mem.addData(aev(2 * day, 4L, 20.0)) // completes day 1 -> warmup done
      q.processAllAvailable()
      assert(rows() === Set.empty)
      // the shifted regime: day 2 = (20, 22), day 3 = (21)
      mem.addData(aev(2 * day + 60, 5L, 22.0))
      q.processAllAvailable()
      mem.addData(aev(3 * day, 6L, 21.0)) // completes day 2
      q.processAllAvailable()
      // day 2 deviation: (20-11) + (22-11) = 20 value-units
      assert(rows() === Set((2L, 1L, 20.0)))
      mem.addData(aev(4 * day, 7L, 5.0)) // completes day 3
      q.processAllAvailable()
      // running: 20 + (21-11) = 30 — monotone under the sustained shift
      assert(rows() === Set((2L, 1L, 20.0), (3L, 2L, 30.0)))
    } finally q.stop()
  }

  test("seasonality stream: a day emits once on completion with the " +
      "running dow profile; trailing day stays silent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val day = 86400L
    def aev(sec: Long, id: Long, v: Double) =
      AEv(new java.sql.Timestamp(sec * 1000L), 1L, "m", id, v)
    val mem = MemoryStream[AEv]
    val q = StreamingAgg.seasonalityStream(mem.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("seas").start()
    def rows() = spark.table("seas").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getDouble(6))).toSet
    try {
      // day 0 accumulates (10, 12); nothing completes
      mem.addData(aev(0, 1L, 10.0), aev(60, 2L, 12.0))
      q.processAllAvailable()
      assert(rows() === Set.empty)
      // day 7 arrives -> day 0 completes: dow 0 slot now (2, 22.0)
      mem.addData(aev(7 * day, 3L, 5.0))
      q.processAllAvailable()
      assert(rows() === Set((0L, 0L, 2L, 22.0, 2L, 11.0)))
      // day 8 arrives -> day 7 completes: SAME dow-0 slot accumulates
      // across weeks (3 events, sum 27 -> avg 9)
      mem.addData(aev(8 * day, 4L, 100.0))
      q.processAllAvailable()
      assert(rows() === Set((0L, 0L, 2L, 22.0, 2L, 11.0),
        (7L, 0L, 1L, 5.0, 3L, 9.0)))
    } finally q.stop()
  }

  test("cohort stream: first-offset increments emit exactly once; " +
      "repeats and pre-cohort stragglers are ignored; state is " +
      "calendar-bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val day = 86400L
    def aev(sec: Long, uid: Long, id: Long) =
      AEv(new java.sql.Timestamp(sec * 1000L), uid, "x", id, 1.0)
    val mem = MemoryStream[AEv]
    val q = StreamingAgg.cohortStream(mem.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("coh").start()
    def rows() = spark.table("coh").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    try {
      mem.addData(aev(5 * day, 1L, 1L), aev(5 * day + 60, 1L, 2L),
        aev(6 * day, 1L, 3L))
      q.processAllAvailable()
      // two activity increments: offsets 0 and 1 (the same-day repeat
      // deduped inside the fold)
      assert(rows() === Set((1L, 5L, 0L), (1L, 5L, 1L)))
      // a later batch: repeat of offset 1 (silent), offset 70 (spills
      // into the second bitmask block), a pre-cohort straggler (ignored)
      mem.addData(aev(6 * day + 9, 1L, 4L), aev(75 * day, 1L, 5L),
        aev(2 * day, 1L, 6L))
      q.processAllAvailable()
      assert(rows() === Set((1L, 5L, 0L), (1L, 5L, 1L), (1L, 5L, 70L)))
      // state: one row for the one user
      assert(q.lastProgress.stateOperators.map(_.numRowsTotal).sum === 1L)
    } finally q.stop()
  }

  test("forecast stream: a day emits only when its week-ago twin " +
      "completed; gaps emit nothing; ring slots rotate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val day = 86400L
    def aev(sec: Long, id: Long, v: Double) =
      AEv(new java.sql.Timestamp(sec * 1000L), 1L, "m", id, v)
    val mem = MemoryStream[AEv]
    val q = StreamingAgg.forecastStream(mem.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("fcst").start()
    def rows() = spark.table("fcst").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toSet
    try {
      // day 0 sums to 10; day 7 sums to 13; day 8 arrives -> day 7
      // completes and predicts from day 0
      mem.addData(aev(0, 1L, 10.0), aev(7 * day, 2L, 6.0))
      q.processAllAvailable()
      assert(rows() === Set.empty)
      mem.addData(aev(7 * day + 60, 3L, 7.0), aev(8 * day, 4L, 9.0))
      q.processAllAvailable()
      assert(rows() === Set((7L, 13.0, 10.0, 3.0)))
      // day 9 arrives -> day 8 completes, but day 1 never existed: silent
      mem.addData(aev(9 * day, 5L, 1.0))
      q.processAllAvailable()
      assert(rows() === Set((7L, 13.0, 10.0, 3.0)))
      // day 14 + day 15: day 14 completes and predicts from day 7's 13
      // (slot 0 rotated from day 0 to day 7)
      mem.addData(aev(14 * day, 6L, 20.0))
      q.processAllAvailable()
      mem.addData(aev(15 * day, 7L, 2.0))
      q.processAllAvailable()
      assert(rows() === Set((7L, 13.0, 10.0, 3.0),
        (14L, 20.0, 13.0, 7.0)))
      assert(q.lastProgress.stateOperators.map(_.numRowsTotal).sum === 1L)
    } finally q.stop()
  }

  test("anomaly stream: a value beyond the exact-moment bound fails " +
      "LOUDLY instead of silently wrapping the two-long accumulator") {
    import spark.implicits._
    // |e4| > floor(sqrt(Long.MaxValue)) would square past Long.MaxValue:
    // before the guard this silently corrupted every later moment while
    // the batch twin (DECIMAL(38,0)) stayed exact — the worst kind of
    // streaming/batch divergence. It must throw, not drift.
    def aev(sec: Long, id: Long, v: Double) =
      AEv(new java.sql.Timestamp(sec * 1000L), 1L, "m", id, v)
    val bad = Seq(aev(0, 1L, 303701.0)).toDF() // e4 = 3.03701e9 > bound
    val ex = intercept[Throwable] {
      StreamingAgg.anomalyStream(bad).toDF().collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("exact-moment bound")),
      s"expected the loud bound failure, got: ${messages(ex)}")
    // at the bound itself: fine (the square is representable)
    val edge = Seq(aev(0, 1L, 303700.0499)).toDF()
    StreamingAgg.anomalyStream(edge).toDF().collect()
  }

  test("drift stream: null inputs are filtered and nothing emits until " +
      "BOTH half-centroids are populated") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Option[Array[Float]], Option[Long])]
    val q = StreamingAgg.driftStream(
        mem.toDF().toDF("vec_id", "embedding", "label"))
      .writeStream.outputMode("append")
      .format("memory").queryName("driftnull").start()
    try {
      // batch 1: a null embedding and a null label (both must be DROPPED,
      // not NPE the state fold) plus one even-id vector — only one half
      // populated, so the zero-denominator guard suppresses emission
      mem.addData((2L, None, Some(7L)),
        (4L, Some(Array(1f, 0f)), None),
        (6L, Some(Array(1f, 2f)), Some(7L)))
      q.processAllAvailable()
      assert(spark.table("driftnull").count() === 0L,
        "no emission while one half is empty (cos would be NaN/Inf)")
      // batch 2: an odd-id vector completes the two-sample pair
      mem.addData((3L, Some(Array(2f, 4f)), Some(7L)))
      q.processAllAvailable()
      val rows = spark.table("driftnull").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3)))
      // cos through the fold's own IEEE sequence: quantized (1e4, 2e4)
      // vs (2e4, 4e4) — parallel, but sqrt(s0sq)*sqrt(s1sq) rounds
      val cosExp = 1e9 / (math.sqrt(5e8) * math.sqrt(2e9))
      assert(rows.toSeq === Seq((7L, 1L, 1L, cosExp)),
        "parallel half-centroids must emit exactly once, bit-for-bit")
    } finally q.stop()
  }

  test("drift stream: a populated half that quantizes to the zero " +
      "vector stays silent (zero norm would divide to NaN/Inf)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Option[Array[Float]], Option[Long])]
    val q = StreamingAgg.driftStream(
        mem.toDF().toDF("vec_id", "embedding", "label"))
      .writeStream.outputMode("append")
      .format("memory").queryName("driftzero").start()
    try {
      // both halves POPULATED (n_even = n_odd = 1) but the odd half's
      // every component quantizes to 0 (|x| < 1e-4): s1sq = 0, so the
      // old n-count guard passed and the cosine divided by zero
      mem.addData((2L, Some(Array(1f, 2f)), Some(3L)),
        (5L, Some(Array(0.00005f, 0.00009f)), Some(3L)))
      q.processAllAvailable()
      assert(spark.table("driftzero").count() === 0L,
        "zero-norm half must suppress emission (oracle WHERE s1sq > 0)")
      // a representable odd vector arrives: the norms go positive
      mem.addData((7L, Some(Array(2f, 4f)), Some(3L)))
      q.processAllAvailable()
      val rows = spark.table("driftzero").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq === Seq((3L, 1L, 2L)),
        "emission resumes once both norms are positive")
    } finally q.stop()
  }

  test("seasonality + forecast streams: a late event for an already-" +
      "completed day is dropped, not folded into the current day") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val day = 86400L
    def aev(sec: Long, id: Long, v: Double) =
      AEv(new java.sql.Timestamp(sec * 1000L), 1L, "m", id, v)
    val mem = MemoryStream[AEv]
    val memF = MemoryStream[AEv]
    val q = StreamingAgg.seasonalityStream(mem.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("seaslate").start()
    val qf = StreamingAgg.forecastStream(memF.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("fcstlate").start()
    try {
      // day 0 completes when day 1 arrives
      mem.addData(aev(0, 1L, 10.0))
      q.processAllAvailable()
      mem.addData(aev(day, 2L, 20.0))
      q.processAllAvailable()
      // a LATE day-0 event in a later micro-batch: before the guard it
      // silently inflated day 1's accumulating count/sum
      mem.addData(aev(60, 3L, 99.0))
      q.processAllAvailable()
      mem.addData(aev(2 * day, 4L, 1.0)) // completes day 1
      q.processAllAvailable()
      val seas = spark.table("seaslate").collect()
        .map(r => (r.getLong(1), r.getLong(3), r.getDouble(4))).toSet
      assert(seas === Set((0L, 1L, 10.0), (1L, 1L, 20.0)),
        "day 1 totals must exclude the late day-0 event")
      // forecast: day 0 = 10, day 7 accumulates, late day-0 event must
      // not leak into day 7's sum; day 8 completes day 7 -> error vs 10
      memF.addData(aev(0, 1L, 10.0))
      qf.processAllAvailable()
      memF.addData(aev(7 * day, 2L, 13.0))
      qf.processAllAvailable()
      memF.addData(aev(120, 3L, 50.0)) // late day-0 straggler
      qf.processAllAvailable()
      memF.addData(aev(8 * day, 4L, 1.0))
      qf.processAllAvailable()
      val fc = spark.table("fcstlate").collect()
        .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4))).toSet
      assert(fc === Set((7L, 13.0, 10.0, 3.0)),
        "day 7's actual must exclude the late day-0 event")
    } finally { q.stop(); qf.stop() }
  }

  test("day-frame monitors pre-aggregate the micro-batch to per-day " +
      "partials: a shuffled hot-key batch emits bit-identically, and " +
      "mover/cusum drop late days like the other monitors") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val day = 86400L
    def aev(sec: Long, id: Long, v: Double) =
      AEv(new java.sql.Timestamp(sec * 1000L), 1L, "m", id, v)
    // one hot key, 3 days x 200 events, SHUFFLED within a single batch
    // (the pre-agg path must reproduce the sorted fold's emissions
    // exactly — integer sums are order-free, day processing ascending)
    val rnd = new scala.util.Random(42)
    val evs = rnd.shuffle((0 until 600).map(i =>
      aev((i % 3) * day + (i / 3), i.toLong, (i % 7).toDouble)).toList)
    val mem = MemoryStream[AEv]
    val q = StreamingAgg.seasonalityStream(mem.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("seashot").start()
    try {
      mem.addData(evs: _*)
      q.processAllAvailable()
      mem.addData(aev(3 * day, 9999L, 1.0)) // completes day 2
      q.processAllAvailable()
      val rows = spark.table("seashot").collect()
        .map(r => (r.getLong(1), r.getLong(3), r.getDouble(4))).toSet
      // each day: 200 events, values 0..6 cycling -> exact daily sums
      def daySum(d: Int) = (0 until 600).filter(_ % 3 == d)
        .map(i => (i % 7).toDouble).sum
      assert(rows === Set((0L, 200L, daySum(0)), (1L, 200L, daySum(1)),
        (2L, 200L, daySum(2))),
        "shuffled hot-key batch must emit the exact per-day totals")
    } finally q.stop()
    // mover + cusum: a late day-0 straggler after day 0 completed must
    // not leak into the accumulating day's sum
    val memM = MemoryStream[AEv]
    val qm = StreamingAgg.dayMoversStream(memM.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("movlate").start()
    try {
      memM.addData(aev(0, 1L, 10.0))
      qm.processAllAvailable()
      memM.addData(aev(day, 2L, 20.0)) // completes day 0
      qm.processAllAvailable()
      memM.addData(aev(60, 3L, 99.0)) // late day-0: dropped
      qm.processAllAvailable()
      memM.addData(aev(2 * day, 4L, 1.0)) // completes day 1 -> step
      qm.processAllAvailable()
      val steps = spark.table("movlate").collect()
        .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
      assert(steps === Set((1L, 10.0, 20.0)),
        "day 1's level must exclude the late day-0 event")
    } finally qm.stop()
  }

  test("gap alert stream: gaps emit the moment the closing record " +
      "arrives, across batches; late events neither alert nor rewind " +
      "the frontier") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hour = 3600L
    def aev(sec: Long, id: Long) =
      AEv(new java.sql.Timestamp(sec * 1000L), 1L, "m", id, 1.0)
    val mem = MemoryStream[AEv]
    val q = StreamingAgg.gapStream(mem.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("gaps").start()
    def rows() = spark.table("gaps").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    try {
      // records at t=0 and t=1h: nominal cadence, no alert
      mem.addData(aev(0, 1L), aev(hour, 2L))
      q.processAllAvailable()
      assert(rows() === Set.empty)
      // next record 5h later, in a LATER batch: one alert, gap starts
      // at the frontier, 4 missing hourly records (round-half-even)
      mem.addData(aev(6 * hour, 3L))
      q.processAllAvailable()
      assert(rows() === Set((hour * 1000000L, 5 * hour * 1000000L, 4L)))
      // a late straggler inside the already-alerted gap: no new alert,
      // and the frontier must NOT rewind (the next on-cadence record
      // would otherwise re-alert against the stale frontier)
      mem.addData(aev(3 * hour, 4L))
      q.processAllAvailable()
      mem.addData(aev(7 * hour, 5L))
      q.processAllAvailable()
      assert(rows() === Set((hour * 1000000L, 5 * hour * 1000000L, 4L)),
        "late records must not re-alert or rewind the frontier")
    } finally q.stop()
  }

  test("gap alert stream: a feed that dies pages at watermark expiry " +
      "(open=true, once); closed gaps stay bit-identical to the batch " +
      "report") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hour = 3600L
    def ev(typ: String, sec: Long, id: Long) =
      AEv(new java.sql.Timestamp(sec * 1000L), 1L, typ, id, 1.0)
    val mem = MemoryStream[AEv]
    val q = StreamingAgg.gapStream(mem.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("gapdeath").start()
    def rows() = spark.table("gapdeath").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    try {
      // feed a records to 1h, then a DIES; b is the heartbeat that
      // keeps the watermark moving (the realistic fleet shape: other
      // sensors keep reporting)
      mem.addData(ev("a", 0, 1L), ev("a", hour, 2L), ev("b", 0, 3L))
      q.processAllAvailable()
      assert(rows().isEmpty)
      mem.addData(ev("b", 5 * hour, 4L)) // watermark -> 4.5h after this
      q.processAllAvailable()
      mem.addData(ev("b", 5 * hour + 60, 5L)) // batch runs AT wm 4.5h
      q.processAllAvailable()
      val open = rows().filter(_._5)
      assert(open.length === 1, s"exactly one page for the dead feed: $open")
      val (typ, start, gapUs, nMiss, _) = open.head
      assert(typ === "a" && start === hour * 1000000L)
      assert(gapUs > 7200000000L, "the page fires only past the threshold")
      assert(nMiss === graft.core.TimeSeriesAggregator
        .fillCount(gapUs, 3600000000L),
        "open-gap n_missing follows the same round-half-even rule")
      // no re-page without new data: another heartbeat advances the
      // watermark but a's timeout is not re-armed until a speaks again
      mem.addData(ev("b", 5 * hour + 120, 6L))
      q.processAllAvailable()
      assert(rows().count(_._5) === 1, "the stall pages exactly once")
      // the feed resumes: the closing record emits the EXACT closed gap
      mem.addData(ev("a", 6 * hour, 7L))
      q.processAllAvailable()
      val closed = rows().filterNot(_._5).toSet
      val batch = StreamingAgg.gapStream(Seq(
          ev("a", 0, 1L), ev("a", hour, 2L), ev("b", 0, 3L),
          ev("b", 5 * hour, 4L), ev("b", 5 * hour + 60, 5L),
          ev("b", 5 * hour + 120, 6L), ev("a", 6 * hour, 7L)).toDF())
        .collect().map(r => (r.event_type, r.gap_start_us, r.gap_us,
          r.n_missing, r.open)).toSet
      assert(closed === batch,
        "closed-gap rows must be bit-identical to the batch report")
      assert(closed.contains(("a", hour * 1000000L, 5 * hour * 1000000L,
        4L, false)))
    } finally q.stop()
  }

  test("per-event folds enforce the per-(key, micro-batch) slice bound " +
      "loudly; the default bound changes nothing") {
    import spark.implicits._
    // 12 events on ONE user against a bound of 10: the fold must fail
    // with the actionable message, not OOM silently at scale
    val hot = (1L to 12L).map(i =>
      AEv(new java.sql.Timestamp(i * 1000L), 1L, "m", i, 1.0)).toDF()
    spark.conf.set(StreamingAgg.MaxGroupSliceKey, "10")
    try {
      val e = intercept[Throwable] {
        StreamingAgg.transitionSteps(hot).toDF().collect()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      val all = messages(e).mkString("\n")
      assert(all.contains(StreamingAgg.MaxGroupSliceKey) &&
        all.contains("transitionSteps"),
        s"the bound must fail with the actionable message, got:\n$all")
    } finally spark.conf.unset(StreamingAgg.MaxGroupSliceKey)
    // under the default bound the same fold is untouched
    val steps = StreamingAgg.transitionSteps(hot).toDF().collect()
    assert(steps.length === 11)
  }

  test("pack stream: null docs are filtered and do not corrupt the " +
      "running per-source offset") {
    import spark.implicits._
    // before the filter a null text made size(graft_tokens(text)) null,
    // poisoning the source's offset for every later doc
    val docs = Seq(
      (Some("s"), Some(1L), Some("a b c")),
      (Some("s"), Some(2L), None), // null text: dropped
      (None, Some(3L), Some("d e")), // null source: dropped
      (Some("s"), Some(4L), Some("f g h i"))).toDF(
      "source", "doc_id", "text")
    val packed = StreamingAgg.packStream(docs, budget = 5L).toDF()
      .collect().map(r =>
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    // doc 1: 3 tokens at offset 0 (bin 0); doc 4: 4 tokens at offset 3
    // -> bin 0 slot 3 — exactly as if the null rows never existed
    assert(packed === Seq((1L, 3L, 0L, 0L), (4L, 4L, 0L, 3L)))
  }

  test("streaming funnel: stages chain across batches; fold == the " +
      "min-aggregate join chain on real data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def aev(sec: Long, uid: Long, t: String, id: Long) =
      AEv(new java.sql.Timestamp(sec * 1000L), uid, t, id, 1.0)
    val mem = MemoryStream[AEv]
    val q = StreamingAgg.funnelStream(mem.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("fnl").start()
    try {
      // batch 1: user 1 views; a click at the SAME instant must not count
      mem.addData(aev(10, 1L, "view", 1L), aev(10, 1L, "click", 2L))
      q.processAllAvailable()
      val b1 = spark.table("fnl").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(b1 === Set((1L, "view", 10000000L)))
      // batch 2: the click lands (chains against stored t1); a second,
      // later click must NOT displace it; purchase completes the chain
      mem.addData(aev(20, 1L, "click", 3L), aev(25, 1L, "click", 4L),
        aev(30, 1L, "purchase", 5L))
      q.processAllAvailable()
      val b2 = spark.table("fnl").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(b2 === Set((1L, "view", 10000000L),
        (1L, "click_after_view", 20000000L),
        (1L, "purchase_after_click", 30000000L)))
    } finally q.stop()

    // batch fold == q_funnel's min-aggregate join chain on real data
    // (q_funnel has no null-key filters and these tables carry none, so
    // the counts must agree exactly)
    val sf = "/root/testdata/sf0.001"
    val fold = graft.queries.QueryRegistry.queries("stream_funnel")(
      spark, sf).collect().head
    val batch = graft.queries.RelationalQueries.qFunnel(spark, sf)
      .collect().head
    assert((fold.getLong(0), fold.getLong(1), fold.getLong(2)) ===
      (batch.getLong(0), batch.getLong(1), batch.getLong(2)),
      "stream fold must reproduce the batch funnel counts")
  }

  test("prequential anomaly stream: day-ordered batches match the batch " +
      "fold bit-for-bit; an injected outlier flags with the exact z") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val day = 86400L
    // 2 warm-up days x 20 events of value ~10, then day 3 carries one
    // wild outlier; warmup=30 priors are met only on day 3
    def aev(sec: Long, id: Long, v: Double) =
      AEv(new java.sql.Timestamp(sec * 1000L), 1L, "m", id, v)
    val d1 = (0 until 20).map(i => aev(i * 60, i.toLong, 10.0 + (i % 3)))
    val d2 = (0 until 20).map(i =>
      aev(day + i * 60, 100L + i, 10.0 + ((i + 1) % 3)))
    val d3 = Seq(aev(2 * day, 200L, 10.5), aev(2 * day + 60, 201L, 999.0))
    val all = (d1 ++ d2 ++ d3).toDF()

    val batch = StreamingAgg.anomalyStream(all).toDF().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5)))
    // exactly the outlier flags: 40 priors, all values in [10, 12]
    assert(batch.map(_._3).toSeq === Seq(201L))
    val e4s = (d1 ++ d2).map(e => math.floor(e.value * 1e4 + 0.5).toLong)
    val n = e4s.size.toDouble
    val mu = e4s.sum.toDouble / n
    val s2 = e4s.map(x => BigDecimal(x) * BigDecimal(x)).sum.toDouble
    val sigma = math.sqrt(s2 / n - mu * mu)
    val zExp = (math.floor(999.0 * 1e4 + 0.5) - mu) / sigma
    assert(batch.head._6 === zExp, "z must derive from the exact moments")
    assert(batch.head._5 === 40L)

    // streamed in day-ordered batches == the batch fold, bit-for-bit
    val mem = MemoryStream[AEv]
    val q = StreamingAgg.anomalyStream(mem.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("anom").start()
    try {
      mem.addData(d1: _*); q.processAllAvailable()
      mem.addData(d2: _*); q.processAllAvailable()
      // day 3 split across two batches: the state carries history
      mem.addData(d3.head); q.processAllAvailable()
      mem.addData(d3.last); q.processAllAvailable()
      val streamed = spark.table("anom").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getLong(4), r.getDouble(5)))
      assert(streamed.toSet === batch.toSet)
    } finally q.stop()

    // the fold == the registry's scale-clean windowed plan on real data
    val sf = "/root/testdata/sf0.001"
    val plan = graft.queries.QueryRegistry.queries("stream_anomaly")(
      spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5))).toSet
    val fold = StreamingAgg.anomalyStream(
      graft.queries.AggQueries.events(spark, sf)).toDF().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5))).toSet
    assert(fold === plan, "prequential fold == windowed-aggregate plan")
  }

  test("streaming sequence packing: offsets chain across batches through " +
      "per-source state; batch fold == the packer's prefix window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // texts sized so bins split mid-stream (budget 2048 tokens)
    def doc(src: String, id: Long, words: Int) =
      (src, id, Seq.fill(words)("tok").mkString(" "))
    val docs = Seq(doc("a", 1L, 900), doc("a", 2L, 900), doc("a", 3L, 900),
      doc("b", 4L, 2500), doc("b", 5L, 10))
    val batch = StreamingAgg.packStream(
        docs.toDF("source", "doc_id", "text")).toDF().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    // doc 3 starts at offset 1800 -> bin 0; doc 5 starts at 2500 -> bin 1
    assert(batch === Set(("a", 1L, 900L, 0L, 0L), ("a", 2L, 900L, 0L, 900L),
      ("a", 3L, 900L, 0L, 1800L), ("b", 4L, 2500L, 0L, 0L),
      ("b", 5L, 10L, 1L, 452L)))

    val mem = MemoryStream[(String, Long, String)]
    val q = StreamingAgg.packStream(
        mem.toDF().toDF("source", "doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("pack").start()
    try {
      mem.addData(docs(0), docs(3)); q.processAllAvailable()
      mem.addData(docs(1), docs(4)); q.processAllAvailable()
      mem.addData(docs(2)); q.processAllAvailable()
      val streamed = spark.table("pack").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(streamed === batch)
    } finally q.stop()

    // the fold == the arrival-order pack on real data: dPackSequences
    // with packShards = 1 IS that rule (shard ≡ 0, base ≡ 0), so the
    // degenerate batch packer doubles as the streaming twin's oracle
    val sf = "/root/testdata/sf0.001"
    val win = graft.queries.PipelineQueries.dPackSequences(spark, sf,
        graft.queries.PipelineParams.Default.copy(packShards = 1L))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val fold = StreamingAgg.packStream(
      graft.Tables.load(spark, sf, "documents")).toDF()
      .select("source", "doc_id", "n_tokens", "bin_id", "offset_in_bin")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(fold === win, "packer fold == prefix-window packer")
  }
}
