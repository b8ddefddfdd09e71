package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graftbench.Main._

/** Registry queries through `graft.SparkEntry.queries`, each forced by a
  * `noop` write, in one session with one closed-loop client. The query set,
  * each query's weight and its reference row count come from
  * `registry_set.json` beside the fixture tables (drawn from a census of
  * the whole registry, see `run.py --census`); the seed sets the order of
  * the queries in each pass. */
object Registry {
  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  val Iterative = Set("emb_kcenter", "emb_label_prop", "emb_pagerank")
  val Families = Seq("q", "tpch", "d", "t", "stream", "emb", "ann", "mm")

  def family(q: String): String =
    if (Set("q1_agg", "q3_join", "q5_join_agg", "q6_agg")(q)) "tpch"
    else q.takeWhile(_ != '_')

  /** The session graft's own registry bench uses. */
  def session(): SparkSession = {
    val cores = Products.cores.toString
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.timestampType", "TIMESTAMP_NTZ")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "4000000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** One member of the query set: its reference row count, and the weight
    * that scales its latency to its stratum's share of a full pass. */
  final case class Member(name: String, rows: Long, weight: Double)

  /** The query set (the file's keys), from `registry_set.json`. */
  def querySet(data: Path): Seq[Member] = {
    import org.json4s._
    val f = data.resolveSibling("registry_set.json")
    def num(v: JValue): Double = v match {
      case JInt(x) => x.toDouble
      case JDouble(x) => x
      case JLong(x) => x.toDouble
      case other => throw new IllegalArgumentException(s"$f: $other")
    }
    org.json4s.jackson.JsonMethods.parse(Files.readString(f)) match {
      case JObject(kv) => kv.map { case (q, m) =>
        Member(q, num(m \ "rows").toLong, num(m \ "weight"))
      }
      case other => throw new IllegalArgumentException(s"$f: $other")
    }
  }

  /** The Catalyst action name the `noop` write runs under. */
  val NoopWrite = "overwrite"

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach { p =>
      val d = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d)
    } finally s.close()
  }

  def run(a: Args): Outcome = run(a, querySet(a.data))

  def run(a: Args, set: Seq[Member]): Outcome = {
    val out = new Outcome
    // copy the tables into the run directory (the benchmark's own file
    // copy, not timed); then set up SetupReps times: start the session and
    // resolve every table through graft. The last session stays
    val dir = a.runDir.resolve("tables")
    copyTree(a.data, dir)
    var spark: SparkSession = null
    val reps = (0 until SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      spark.sparkContext.setLogLevel("ERROR")
      Tables.foreach(t => graft.Tables.load(spark, dir.toString, t).schema)
      seconds(t0)
    }
    out.metrics("setup_s") = median(reps)
    // each pass runs the queries in a new order drawn from the seed, so no
    // one order's interactions (which query warms or fills what for the
    // next) decides a run's time
    val rnd = new scala.util.Random(a.seed)
    val names = set.map(_.name)
    val weight = set.map(m => m.name -> m.weight).toMap

    def query(q: String, pass: Int): Option[Double] =
      out.op(s"pass $pass $q") {
        val t0 = System.nanoTime()
        Tracer.span("query", s"$pass:$q") {
          val df = Tracer.span("build", s"$pass:$q")(
            graft.SparkEntry.queries(q)(spark, dir.toString))
          Tracer.span("noop_write", s"$pass:$q")(
            df.write.format("noop").mode("overwrite").save())
        }
        seconds(t0)
      }

    var passes = 0
    val tracedPasses = collection.mutable.ArrayBuffer[Int]()
    /** One pass over every query; the latency of each query that ran. */
    def pass(traced: Boolean): Map[String, Double] = {
      val p = passes
      passes += 1
      Tracer.on = traced
      val lat = rnd.shuffle(names).flatMap(q => query(q, p).map(q -> _)).toMap
      Tracer.on = false
      System.err.println(f"[registry] pass $p${if (traced) " (traced)" else ""}: " +
        f"${lat.values.sum}%.3f s")
      if (traced) tracedPasses += p
      lat
    }

    // the first pass pays JIT, codegen and every memo fill; the JIT is
    // still compiling through the next one, which is not timed
    val cold = pass(traced = false)
    pass(traced = false)
    // timed region (in a traced run, untraced and traced passes alternate).
    // The listeners stay attached until spark.stop(), which drains the
    // bus, and events reach a query only through its spans' windows.
    if (a.trace) {
      spark.sparkContext.addSparkListener(new Tracer.Listener)
      spark.listenerManager.register(new Tracer.PlanListener)
    }
    val plain, traced = collection.mutable.ArrayBuffer[Map[String, Double]]()
    (1 to timedOps(a.seconds)).foreach { _ =>
      plain += pass(traced = false)
      if (a.trace) traced += pass(traced = true)
    }
    // correctness gate, outside the timed region: row counts
    set.foreach { m =>
      out.op(s"count ${m.name}") {
        val n = graft.SparkEntry.queries(m.name)(spark, dir.toString).count()
        out.check(s"count ${m.name}", n == m.rows,
          s"$n rows, expected ${m.rows}")
      }
    }
    // after the gate, which runs the queries in one fixed order: what the
    // last queries leave cached depends on their order
    out.metrics("retained_heap_mb") = retainedHeapMb()
    spark.stop() // drains the listener bus before the trace is read

    // a full pass's typical time: each query's median latency times its
    // weight, summed, so a stall in one pass moves only the queries it hit
    def passTime(ps: collection.Seq[Map[String, Double]]): Double =
      names.map(q => q -> ps.flatMap(_.get(q))).filter(_._2.nonEmpty)
        .map { case (q, ls) => weight(q) * median(ls.toSeq) }.sum
    out.metrics("cold_wall_s") = passTime(Seq(cold))
    val wall = passTime(plain)
    names.foreach(q => System.err.println(f"[registry] $q%-18s " +
      plain.flatMap(_.get(q)).map(t => f"$t%.3f").mkString(" ")))
    out.metrics("wall_s") = wall
    out.metrics("records_per_s") = set.map(m => m.weight * m.rows).sum / wall
    if (a.trace) {
      val m = out.metrics
      val lat = plain.flatMap(_.values).toSeq
      m("registry.query_p50_s") = median(lat)
      m("registry.query_p90_s") = pct(lat, 0.9)
      m("trace_overhead_frac") = passTime(traced) / wall - 1
      val perPass = tracedPasses.toSeq.map(passMetrics(_, Products.cores))
      perPass.headOption.foreach(_.keys.foreach { key =>
        m(key) = median(perPass.map(_(key)))
      })
      a.traceOut.foreach(Tracer.dump)
    }
    out
  }

  /** Per-layer totals of one traced pass, from its spans. */
  private def passMetrics(pass: Int, slots: Int)
      : collection.Map[String, Double] = {
    val r = collection.mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = r(k) = r.getOrElse(k, 0.0) + v
    val qs = Tracer.spans.filter(s => s.name == "query" &&
      s.op.startsWith(s"$pass:")).toSeq
    (Seq("build_s", "analysis_s", "optimization_s", "planning_s", "exec_s",
      "outside_jobs_s", "jobs", "tasks", "task_busy_s", "task_cpu_s", "gc_s",
      "shuffle_mb", "spill_mb", "input_mb", "small_queries") ++
      (Families :+ "iterative").flatMap(f => Seq(s"$f.wall_s", s"$f.jobs")))
      .foreach(k => r(s"registry.$k") = 0.0)
    qs.foreach { s =>
      val q = s.op.drop(s"$pass:".length)
      val kids = Tracer.spans.filter(_.parent == s.id)
      val w = Tracer.window(s.startMs, s.endMs)
      kids.find(_.name == "build").foreach(b =>
        add("registry.build_s", b.ms / 1e3))
      kids.find(_.name == "noop_write").foreach { x =>
        add("registry.exec_s", x.ms / 1e3)
        Tracer.plansIn(NoopWrite, x.startMs, x.endMs).foreach { p =>
          add("registry.analysis_s", p.analysisMs / 1e3)
          add("registry.optimization_s", p.optimizationMs / 1e3)
          add("registry.planning_s", p.planningMs / 1e3)
        }
      }
      add("registry.outside_jobs_s", s.ms / 1e3 - w.insideJobsS)
      add("registry.jobs", w.jobs)
      add("registry.tasks", w.tasks)
      add("registry.task_busy_s", w.taskBusyS)
      add("registry.task_cpu_s", w.taskCpuS)
      add("registry.gc_s", w.gcS)
      add("registry.shuffle_mb", w.shuffleMb)
      add("registry.spill_mb", w.spillMb)
      add("registry.input_mb", w.inputMb)
      if (w.tasks <= 4) add("registry.small_queries", 1)
      add(s"registry.${family(q)}.wall_s", s.ms / 1e3)
      add(s"registry.${family(q)}.jobs", w.jobs)
      if (Iterative(q)) {
        add("registry.iterative.wall_s", s.ms / 1e3)
        add("registry.iterative.jobs", w.jobs)
      }
    }
    val wall = qs.map(_.ms).sum / 1e3
    r("registry.slot_busy_frac") =
      if (wall > 0) r("registry.task_busy_s") / (wall * slots) else 0.0
    r
  }
}
