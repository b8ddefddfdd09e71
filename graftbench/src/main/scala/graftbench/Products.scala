package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.sources.NetCDFIngest
import graftbench.Main._

/** The ncagg product path: seeded granules in, one regularized product
  * out, through `graft.Cli.main` exactly as a user runs it (its own
  * session settings included). One closed-loop client: each product
  * starts after the previous one ends. */
object Products {
  /** Cadence of the record stream: 1 Hz keeps a day at 86,400 slots, so a
    * warm product takes seconds on four cores (see README.md). */
  val Hz = 1
  /** One granule per hour, the reference's usual delivery. */
  val GranuleSeconds = 3600
  /** Untimed products between the cold one and the timed region: the JIT
    * is still compiling through them, and timing them would mostly measure
    * how far it got. */
  val WarmUps = 1

  def cliArgs(dst: Path, srcs: Seq[String]): Array[String] =
    ((dst.toString +: srcs) ++ Seq("-u", s"time:time:$Hz",
      "-b", "T20260101", "-c", "time:4096")).toArray

  def cores: Int = sys.env.get("SPARK_MASTER")
    .collect { case s if s.matches("local\\[\\d+\\]") =>
      s.drop(6).dropRight(1).toInt }
    .getOrElse(Runtime.getRuntime.availableProcessors())

  private val Layers = Seq[(String, StackTraceElement => Boolean)](
    "session.start" -> (e => e.getMethodName == "getOrCreate" &&
      e.getClassName.endsWith("SparkSession$Builder")),
    "ingest" -> Tracer.frame("graft.sources.NetCDFIngest$", "convert"),
    "aggregate" -> Tracer.frame("graft.Aggregate$", "run"),
    "write" -> (e => e.getClassName == "graft.sources.NetCDFWrite$" &&
      (e.getMethodName == "write" || e.getMethodName == "writeGranules")),
    "session.stop" -> Tracer.frame("org.apache.spark.SparkContext", "stop"))

  /** `Cli.main` under the tracer: the listener rides every SparkContext
    * the CLI builds, and the sampler cuts the layer spans. */
  private def tracedCli(args: Array[String], op: String): Unit = {
    System.setProperty("spark.extraListeners",
      classOf[Tracer.Listener].getName)
    Tracer.on = true
    val id = Tracer.open("product", op)
    val sampler = new Tracer.Sampler(Thread.currentThread(), op, id, Layers)
    sampler.start()
    try graft.Cli.main(args)
    finally {
      sampler.finish()
      Tracer.close(id)
      Tracer.on = false
      System.clearProperty("spark.extraListeners")
    }
  }

  /** Records, fills and index order of a product, read back through
    * graft's own NetCDF reader. */
  final case class Read(records: Long, fills: Long, problems: Seq[String])

  def read(dst: Path, stepUs: Long): Read = {
    val meta = NetCDFIngest.granuleMeta(dst.toString, Some("time"))
    val ti = meta.schema.fieldIndex("time")
    val bi = meta.schema.fieldIndex("bx")
    var prev = Long.MinValue
    var records, fills = 0L
    val problems = collection.mutable.ArrayBuffer[String]()
    NetCDFIngest.granuleRows(dst.toString, meta.schema, Some("time"))
      .foreach { r =>
        val t = r.get(ti) match {
          case d: java.time.LocalDateTime =>
            d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
              d.getNano / 1000
          case other => throw new IllegalStateException(s"time: $other")
        }
        if (records > 0 && t - prev < stepUs / 2 && problems.size < 5)
          problems += s"index step ${t - prev} us after record $records"
        prev = t
        records += 1
        if (r.isNullAt(bi) || r.getFloat(bi).isNaN) fills += 1
      }
    if (records != meta.records)
      problems += s"re-read $records records, header says ${meta.records}"
    Read(records, fills, problems.toSeq)
  }

  /** Rows in the parquet granules the ingest step wrote (footers only). */
  private def ingestRows(dir: Path): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = new org.apache.hadoop.conf.Configuration()
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(_.toString.endsWith(".parquet")).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), conf))
      try r.getRecordCount finally r.close()
    }.sum
    finally s.close()
  }

  def run(a: Args): Outcome = {
    val out = new Outcome
    // set-up, SetupReps times: write the granules of one record stream.
    // Only the time inside graft's writer counts: drawing the records is
    // the benchmark's own work
    val stream = Granules.stream(a.seed, Hz)
    val reps = (0 until SetupReps).map { i =>
      if (i > 0) deleteTree(a.runDir.resolve(s"in${i - 1}"))
      Granules.write(stream, GranuleSeconds, a.runDir.resolve(s"in$i"))
    }
    val srcs = reps.last._1
    val truth = Granules.truth(stream, GranuleSeconds)
    out.metrics("setup_s") = median(reps.map(_._2))

    var n = 0
    def product(traced: Boolean): Option[(Double, Path)] = {
      val dst = a.runDir.resolve(s"p$n.nc")
      n += 1
      out.op(s"product ${dst.getFileName}") {
        val t0 = System.nanoTime()
        if (traced) tracedCli(cliArgs(dst, srcs), dst.getFileName.toString)
        else graft.Cli.main(cliArgs(dst, srcs))
        (seconds(t0), dst)
      }
    }

    // the first product in a fresh JVM is what a one-shot CLI call pays
    val cold = product(traced = false)
    val warm = (1 to WarmUps).flatMap(_ => product(traced = false))
    // timed region (in a traced run, untraced and traced products alternate)
    val plain, traced = collection.mutable.ArrayBuffer[(Double, Path)]()
    (1 to timedOps(a.seconds)).foreach { _ =>
      plain ++= product(traced = false)
      if (a.trace) traced ++= product(traced = true)
    }
    out.metrics("retained_heap_mb") = retainedHeapMb()
    (cold.toSeq ++ warm ++ plain ++ traced).foreach { case (t, dst) =>
      System.err.println(f"[product] ${dst.getFileName} $t%.3f s")
    }

    // correctness gate, outside the timed region: every product
    val reads = (cold.toSeq ++ warm ++ plain ++ traced).flatMap {
      case (_, dst) =>
        val name = s"product ${dst.getFileName}"
        scala.util.Try(read(dst, stream.stepUs)) match {
          case scala.util.Failure(e) => out.fail(name, s"re-read: $e"); None
          case scala.util.Success(r) =>
            out.check(name, r.records == truth.records,
              s"${r.records} records, expected ${truth.records}")
            out.check(name, r.fills == truth.fills,
              s"${r.fills} fills, expected ${truth.fills}")
            val ingested =
              ingestRows(java.nio.file.Paths.get(s"$dst.__nc_ingest"))
            out.check(name, ingested == truth.inputRecords,
              s"ingest wrote $ingested records of ${truth.inputRecords}")
            r.problems.foreach(out.fail(name, _))
            Some(dst -> r)
        }
    }.toMap

    cold.foreach(c => out.metrics("cold_wall_s") = c._1)
    val wall = median(plain.map(_._1).toSeq)
    out.metrics("wall_s") = wall
    out.metrics("records_per_s") = truth.inputRecords / wall
    if (a.trace) layerMetrics(a, out, srcs, traced.toSeq, reads, wall)
    out
  }

  /** Layers every traced product must pass through. */
  private val Required = Seq("session.start", "ingest", "aggregate", "write")

  private def layerMetrics(a: Args, out: Outcome, srcs: Seq[String],
      traced: Seq[(Double, Path)], reads: Map[Path, Read],
      untracedWall: Double): Unit = {
    val m = out.metrics
    val slots = cores
    val perProduct = traced.flatMap { case (_, dst) =>
      val name = s"product ${dst.getFileName}"
      val span = Tracer.spans.find(s => s.name == "product" &&
        s.op == dst.getFileName.toString)
      if (span.isEmpty) out.fail(name, "no product span")
      span.map { p =>
        val kids = Tracer.spans.filter(_.parent == p.id).toSeq
        def layer(name: String) = kids.filter(_.name == name)
        Required.filter(layer(_).isEmpty).foreach(l =>
          out.fail(name, s"no $l span: the sampler did not see the call"))
        val r = collection.mutable.LinkedHashMap[String, Double](
          "product.s" -> p.ms / 1e3,
          "product.self_s" -> Tracer.selfMs(p) / 1e3,
          "session.start_s" -> layer("session.start").map(_.ms).sum / 1e3,
          "session.stop_s" -> layer("session.stop").map(_.ms).sum / 1e3)
        Seq("ingest", "aggregate", "write").foreach { l =>
          val ss = layer(l)
          val busy = ss.map(_.ms).sum / 1e3
          val ws = ss.map(s => Tracer.window(s.startMs, s.endMs))
          r(s"$l.s") = busy
          r(s"$l.jobs") = ws.map(_.jobs).sum
          r(s"$l.tasks") = ws.map(_.tasks).sum
          r(s"$l.task_busy_s") = ws.map(_.taskBusyS).sum
          r(s"$l.outside_jobs_s") = busy - ws.map(_.insideJobsS).sum
          if (l == "aggregate") {
            r("aggregate.max_task_s") = ws.map(_.maxTaskS).maxOption
              .getOrElse(0.0)
            r("aggregate.shuffle_mb") = ws.map(_.shuffleMb).sum
            r("aggregate.spill_mb") = ws.map(_.spillMb).sum
            r("aggregate.gc_s") = ws.map(_.gcS).sum
            r("aggregate.slot_busy_frac") =
              if (busy > 0) ws.map(_.taskBusyS).sum / (busy * slots) else 0.0
          }
        }
        val ingestDir = java.nio.file.Paths.get(s"$dst.__nc_ingest")
        val granules = {
          val s = Files.list(ingestDir)
          try s.iterator.asScala.count(
            _.getFileName.toString.startsWith("__granule="))
          finally s.close()
        }
        r("ingest.granules") = granules
        r("ingest.quarantined") = srcs.size - granules
        r("aggregate.records_in") = ingestRows(ingestDir)
        r("aggregate.records_out") = reads.get(dst).fold(0L)(_.records)
        r("aggregate.fills") = reads.get(dst).fold(0L)(_.fills)
        r("write.mb") = Files.size(dst) / 1048576.0
        r
      }
    }
    perProduct.headOption.foreach(_.keys.foreach { key =>
      m(key) = median(perProduct.map(_(key)))
    })
    m("trace_overhead_frac") = median(traced.map(_._1)) / untracedWall - 1

    // serial replays of the two per-granule ingest passes
    val t0 = System.nanoTime()
    val metas = srcs.map(NetCDFIngest.granuleMeta(_, Some("time")))
    m("ingest.header_s") = seconds(t0)
    val schema = NetCDFIngest.unionSchema(metas)
    val t1 = System.nanoTime()
    srcs.foreach(NetCDFIngest.granuleRows(_, schema, Some("time")).size)
    m("ingest.decode_s") = seconds(t1)
    a.traceOut.foreach(Tracer.dump)
  }
}
