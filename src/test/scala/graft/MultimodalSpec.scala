package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.{Avi, MediaRecord, MediaSynth, Png, Wav}

/** Round-trip and corruption pins for the pure-JVM media codecs plus the
  * Spark-side batch plumbing (SURVEY.md §2 C, mm_*). */
class MultimodalSpec extends AnyFunSuite with SparkSpec {

  test("WAV round trip: PCM samples, rate, and layout survive; unknown chunks skipped") {
    val samples = Array.tabulate(1234)(i =>
      MediaSynth.audioSample(7L, i.toLong).toShort)
    val bytes = Wav.encode(8000, samples)
    // the encoder interposes a LIST/INFO chunk with an ODD-length ISFT
    // value between fmt and data, so every decode exercises the
    // unknown-chunk skip AND the even-offset padding rule
    assert(new String(bytes, 8, 4, "US-ASCII") === "WAVE")
    val clip = Wav.decode(bytes)
    assert(clip.sampleRate === 8000)
    assert(clip.bitsPerSample === 16 && clip.channels === 1)
    assert(clip.samples.toSeq === samples.toSeq)
  }

  test("WAV decode rejects non-PCM and truncated payloads loudly") {
    val ok = Wav.encode(8000, Array[Short](1, 2, 3))
    // flip wFormatTag (first 2 bytes of the fmt payload) to 0x55 (MP3)
    val fmtAt = {
      val s = new String(ok, "ISO-8859-1"); s.indexOf("fmt ")
    }
    val bad = ok.clone(); bad(fmtAt + 8) = 0x55
    val e = intercept[IllegalArgumentException](Wav.decode(bad))
    assert(e.getMessage.contains("format tag"))
    val trunc = java.util.Arrays.copyOf(ok, ok.length - 3)
    intercept[IllegalArgumentException](Wav.decode(trunc))
  }

  test("PNG round trip exercises all five filters and preserves every pixel") {
    // 6 rows -> filter types 0,1,2,3,4,0 all hit (encoder cycles y % 5)
    val w = 9; val h = 6
    val rgb = Array.tabulate(3 * w * h)(i => ((i * 37 + 11) % 256).toByte)
    val bytes = Png.encode(w, h, rgb)
    val img = Png.decode(bytes)
    assert(img.width === w && img.height === h)
    assert(img.rgb.toSeq === rgb.toSeq)
  }

  test("PNG decode verifies chunk CRCs and fails loudly on corruption") {
    val bytes = Png.encode(4, 4, new Array[Byte](48))
    // flip one byte inside the IDAT payload (skip signature+IHDR: the
    // IDAT chunk starts at 8 + 25; +8 lands inside its payload)
    val bad = bytes.clone(); bad(8 + 25 + 8 + 2) = (bad(8 + 25 + 8 + 2) ^ 0x40).toByte
    val e = intercept[IllegalArgumentException](Png.decode(bad))
    assert(e.getMessage.contains("CRC mismatch"))
    val notPng = "RIFF....WAVE".getBytes("US-ASCII")
    intercept[IllegalArgumentException](Png.decode(notPng))
  }

  test("PNG decode fails loudly (no hang) on an FDICT zlib IDAT") {
    // A zlib header with FDICT set makes Inflater return 0 bytes with
    // needsDictionary — which must throw, not spin the inflate loop.
    val ok = Png.encode(4, 4, new Array[Byte](48))
    val head = java.util.Arrays.copyOfRange(ok, 0, 8 + 25) // sig + IHDR
    val iend = java.util.Arrays.copyOfRange(ok, ok.length - 12, ok.length)
    // CMF 0x78, FLG 0x20 (FDICT bit set, check bits valid), dict id 1
    val payload = Array[Byte](0x78, 0x20, 0, 0, 0, 1)
    val id = "IDAT".getBytes("US-ASCII")
    val crc = new java.util.zip.CRC32(); crc.update(id); crc.update(payload)
    val c = crc.getValue
    val idat = Array[Byte](0, 0, 0, payload.length.toByte) ++ id ++ payload ++
      Array(((c >> 24) & 0xff).toByte, ((c >> 16) & 0xff).toByte,
        ((c >> 8) & 0xff).toByte, (c & 0xff).toByte)
    val e = intercept[IllegalArgumentException](
      Png.decode(head ++ idat ++ iend))
    assert(e.getMessage.contains("IDAT"))
  }

  test("AVI round trip preserves frames; header/movi mismatch fails loudly") {
    val frames = Array.tabulate(5)(f =>
      Array.tabulate(48)(j => MediaSynth.frameByte(3L, f, j).toByte))
    val bytes = Avi.encode(4, 4, frames)
    val vid = Avi.decode(bytes)
    assert(vid.width === 4 && vid.height === 4)
    assert(vid.frames.length === 5)
    assert(vid.frames.map(_.toSeq).toSeq === frames.map(_.toSeq).toSeq)
    // tamper dwTotalFrames (avih payload offset 16) -> cross-check throws
    val s = new String(bytes, "ISO-8859-1")
    val avihAt = s.indexOf("avih")
    val bad = bytes.clone(); bad(avihAt + 8 + 16) = 9
    val e = intercept[RuntimeException](Avi.decode(bad))
    assert(e.getMessage.contains("frames"))
  }

  test("MediaSynth payloads decode to the formula values (oracle contract)") {
    val id = 4242L
    val clip = Wav.decode(MediaSynth.wavPayload(id))
    assert(clip.samples.length === MediaSynth.audioLength(id))
    assert(clip.samples(17).toInt === MediaSynth.audioSample(id, 17L))
    val img = Png.decode(MediaSynth.pngPayload(id))
    assert(img.width === MediaSynth.imageWidth(id))
    assert(img.height === MediaSynth.imageHeight(id))
    val x = 3; val y = 2
    assert((img.rgb((y * img.width + x) * 3 + 1) & 0xff) ===
      MediaSynth.pixel(id, x, y, 1))
    val vid = Avi.decode(MediaSynth.aviPayload(id))
    assert(vid.frames.length === MediaSynth.videoFrames(id))
    assert((vid.frames(2)(5) & 0xff) === MediaSynth.frameByte(id, 2, 5))
  }

  test("extractFeatures sniffs the container from payload magic, batch-shaped") {
    import spark.implicits._
    val recs = Seq(
      MediaRecord(1L, "image", MediaSynth.pngPayload(1L)),
      MediaRecord(2L, "video", MediaSynth.aviPayload(2L)),
      MediaRecord(3L, "audio", MediaSynth.wavPayload(3L)),
      MediaRecord(4L, "blob", "opaque".getBytes("UTF-8"))).toDS()
    val out = Multimodal.extractFeatures(recs).collect().sortBy(_.id)
    assert(out.map(_.id).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(out(0).width === MediaSynth.imageWidth(1L) &&
      out(0).height === MediaSynth.imageHeight(1L) && out(0).frames === 1)
    assert(out(1).frames === MediaSynth.videoFrames(2L) &&
      out(1).width === MediaSynth.VideoW)
    assert(out(2).frames === MediaSynth.audioLength(3L) &&
      out(2).width === 8000) // sample rate rides the width slot for audio
    assert(out(3).frames === 0 && out(3).nBytes === 6L)
    // decode is pure: re-run gives identical features
    val again = Multimodal.extractFeatures(recs).collect().sortBy(_.id)
    assert(again.toSeq === out.toSeq)
  }

  test("media store sampling stride follows the integer budget rule") {
    import graft.multimodal.MediaStore
    assert(MediaStore.sampleStep(1000L) === 1L)
    assert(MediaStore.sampleStep(MediaStore.MaxStoredRows) === 1L)
    assert(MediaStore.sampleStep(MediaStore.MaxStoredRows + 1) === 2L)
    assert(MediaStore.sampleStep(10000000L) ===
      (10000000L + MediaStore.MaxStoredRows - 1) / MediaStore.MaxStoredRows)
  }

  test("corrupt stored blob quarantines the row, not the job") {
    import spark.implicits._
    val events = spark.range(0, 10).toDF("event_id")
    val d = tempDir("media_spec")
    val path = s"$d/media.parquet"
    graft.multimodal.MediaStore.write(events, path)
    // truncate id 3's PNG mid-stream: a stored-blob corruption the
    // decode pass must survive
    val broken = spark.read.parquet(path)
      .as[(Long, Array[Byte], Array[Byte], Array[Byte])]
      .map { case (id, png, wav, avi) =>
        (id, if (id == 3L) java.util.Arrays.copyOf(png, png.length - 7)
        else png, wav, avi)
      }.toDF("event_id", "png", "wav", "avi")
    val rows = Multimodal.imageFeaturesChecked(
      broken.select("event_id", "png")).collect()
    val bad = rows.filter(!_.isNullAt(6))
    assert(bad.map(_.getLong(0)).toSeq === Seq(3L),
      "exactly the corrupted row must quarantine")
    assert(bad.head.isNullAt(1), "quarantined rows carry no features")
    // the surviving rows decode to the exact formula features
    val r7 = rows.find(_.getLong(0) == 7L).get
    assert(r7.getLong(1) === MediaSynth.imageWidth(7L).toLong)
    assert(r7.getLong(2) === MediaSynth.imageHeight(7L).toLong)
    assert(rows.count(_.isNullAt(6)) === 9)
  }

  test("zcr: crossing counts match a direct fold of the formula samples; " +
      "truncated WAV quarantines") {
    import spark.implicits._
    val media = Seq(5L, 6L).map(id => (id, MediaSynth.wavPayload(id)))
      .toDF("event_id", "wav")
    val rows = Multimodal.audioZcrChecked(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    // independent recomputation straight from the synthesis formula
    for (id <- Seq(5L, 6L)) {
      val n = MediaSynth.audioLength(id)
      val ss = (0 until n).map(i => MediaSynth.audioSample(id, i.toLong))
      val total = (0 until n - 1)
        .count(i => (ss(i) < 0) != (ss(i + 1) < 0)).toLong
      val wz = (0 to n - 400 by 200).takeWhile(_ + 400 <= n).map { st =>
        (st until st + 399)
          .count(j => (ss(j) < 0) != (ss(j + 1) < 0)).toLong
      }
      val sig = wz.foldLeft(0L)((a, x) => (a * 31L + x) % 1000000007L)
      val r = rows(id)
      assert(r.getLong(1) === n.toLong)
      assert(r.getLong(2) === wz.size.toLong)
      assert(r.getLong(3) === total)
      assert(r.getLong(4) === wz.max)
      assert(r.getLong(5) === sig)
      assert(r.isNullAt(6))
    }
    // corruption path: a truncated payload quarantines, not fails
    val broken = Seq((9L,
      java.util.Arrays.copyOf(MediaSynth.wavPayload(9L), 20)))
      .toDF("event_id", "wav")
    val bad = Multimodal.audioZcrChecked(broken).collect()
    assert(bad.length === 1 && !bad.head.isNullAt(6))
  }

  test("phash: re-encoded and uniformly-rescaled copies collide, " +
      "structurally different images do not, corruption quarantines") {
    import spark.implicits._
    def gradient(w: Int, h: Int): Array[Byte] = {
      // horizontal step gradient: left half dark, right half bright —
      // the 8x8 average-hash must read the same bit pattern at ANY
      // uniform pixel scale because nearest-neighbor sampling lands in
      // the same half
      val rgb = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val v: Byte = if (x < w / 2) 10 else 200.toByte
        val o = (y * w + x) * 3
        rgb(o) = v; rgb(o + 1) = v; rgb(o + 2) = v
      }
      rgb
    }
    val base = Png.encode(8, 8, gradient(8, 8))
    val rescaled = Png.encode(16, 16, gradient(16, 16))
    // vertical gradient: a different structure, different hash
    val other = {
      val rgb = new Array[Byte](8 * 8 * 3)
      for (y <- 0 until 8; x <- 0 until 8) {
        val v: Byte = if (y < 4) 10 else 200.toByte
        val o = (y * 8 + x) * 3
        rgb(o) = v; rgb(o + 1) = v; rgb(o + 2) = v
      }
      Png.encode(8, 8, rgb)
    }
    val corrupt = java.util.Arrays.copyOf(base, base.length - 5)
    assert(!java.util.Arrays.equals(base, rescaled),
      "test needs byte-distinct encodings")
    val rows = Multimodal.imagePHashChecked(
      Seq((1L, base), (2L, rescaled), (3L, other), (4L, corrupt))
        .toDF("event_id", "png")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getString(2)))).toMap
    assert(rows(1L)._1 === rows(2L)._1,
      "byte-distinct rescale of the same picture must share the phash")
    assert(rows(1L)._1 !== rows(3L)._1,
      "structurally different images must not collide")
    assert(rows(4L)._1 === None && rows(4L)._2.isDefined,
      "corrupt payload must quarantine with an error")
  }

  test("phash near-dup min-owner decomposition == the pairwise Hamming " +
      "definition on engineered and randomized hash sets") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // engineered: identical groups (quadratic under image-level banding),
    // 3-bit neighbors, a 4-bit NON-neighbor sharing 3 of 4 bands (the
    // verify filter must reject it), a sign-bit neighbor (arithmetic
    // shiftright band extraction), and a 2-bit neighbor whose differing
    // bits straddle two bands (pigeonhole: still shares 2 bands)
    val engineered = Seq(
      1L -> 0L, 2L -> 0L, 9L -> 0L,              // identical group
      3L -> 7L,                                   // ham 3 from 0L
      4L -> 15L,                                  // ham 4: shares bands 1-3, NOT a dup
      5L -> (1L << 63),                           // ham 1, sign bit
      6L -> ((1L << 1) | (1L << 17)),             // ham 2 across bands 0,1
      7L -> -1L, 8L -> -1L)                       // identical group far from 0L
    val rnd = new scala.util.Random(0xC0FFEE)
    val bases = Array(0L, -1L, 0x5A5A_5A5A_5A5A_5A5AL, 1L << 40)
    val randomized = (100L until 300L).map { id =>
      val b = bases(rnd.nextInt(bases.length))
      val flips = rnd.nextInt(5) // 0..4 bit flips: mix of dups and non-dups
      id -> (0 until flips).foldLeft(b)((h, _) => h ^ (1L << rnd.nextInt(64)))
    }
    for (data <- Seq(engineered, randomized.toSeq)) {
      val ph = data.toDF("event_id", "phash")
      val got = graft.queries.PipelineQueries.phashNeardupVerdicts(ph)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2)))
        .sortBy(_._1)
      val brute = ph.toDF("id_b", "ph_b")
        .join(ph.toDF("id_a", "ph_a"),
          col("id_a") < col("id_b") && expr("bit_count(ph_a ^ ph_b) <= 3"))
        .groupBy(col("id_b").as("event_id"))
        .agg(min(col("id_a")).as("first_dup"))
      val want = ph.select("event_id").join(brute, Seq("event_id"), "left")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)), r.isNullAt(1)))
        .sortBy(_._1)
      assert(got.toSeq === want.toSeq)
    }
  }

  test("mm queries read the stored table, prune to one payload column, and evict") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists)
    val feats = graft.queries.PipelineQueries.mmFeatures(spark, dir)
    val n = feats.count()
    assert(n > 0)
    assert(graft.queries.SessionScoped.count(spark, dir, _ == "media") === 1,
      "a read-only source dir gets ONE derived session store")
    val scanLine = feats.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail("no file scan in the mm plan"))
    assert(scanLine.contains("png"))
    assert(!scanLine.contains("wav") && !scanLine.contains("avi"),
      s"other kinds' payload columns must prune out of the scan: $scanLine")
    // evict releases the derived store; the query rebuilds it
    graft.queries.SessionScoped.evict(spark, dir)
    assert(graft.queries.SessionScoped.count(spark, dir, _ == "media") === 0)
    assert(graft.queries.PipelineQueries.mmFeatures(spark, dir).count() === n)
    graft.queries.SessionScoped.evict(spark, dir)
  }

  test("silence verdict compare is exact past the 64-bit product bound " +
      "(long, loud clips must not flip verdicts)") {
    // a full-scale 400-sample window: ws = 400 * 32768^2 ~ 4.3e11; at
    // n ~ 3e7 samples the 64-bit product ws*n wraps negative while
    // total*win stays positive — a plain compare would call every
    // window quiet. cmpProd must order the true 128-bit products.
    val ws = 400L * 32768L * 32768L // 4.295e11
    val n = 30000000L
    // half-scale clip average: total = n * (32768/2)^2
    val total = n * (16384L * 16384L)
    val win = 400L
    // ws * n = 1.29e19 (wraps), total * win = 3.2e18 (fits):
    // the window is LOUDER than average, so NOT quiet
    assert(ws * n < 0L, "the fixture must actually overflow 64 bits")
    assert(Multimodal.cmpProd(ws, n, total, win) > 0,
      "full-scale window on a half-scale clip is not quiet")
    // and the symmetric case: a silent window stays quiet
    assert(Multimodal.cmpProd(0L, n, total, win) < 0)
    // equality is exact, not approximate
    assert(Multimodal.cmpProd(16384L * 16384L * 400L, n,
      total, win) === 0)
    // both products overflowing: hi words differ -> still ordered
    assert(Multimodal.cmpProd(ws, n, ws - 1L, n) > 0)
  }

  test("asMediaRecords wraps a DataFrame column as binary payloads") {
    import spark.implicits._
    val df = Seq((10L, "{\"k\": 1}"), (11L, "{\"k\": 2}"))
      .toDF("event_id", "props")
    val ds = Multimodal.asMediaRecords(df, "event_id", "props", "image")
    val feats = Multimodal.extractFeatures(ds).collect()
    assert(feats.length === 2 && feats.forall(_.nBytes === 8L))
  }
}
