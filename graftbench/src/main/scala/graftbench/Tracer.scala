package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracer: spans around the benchmark's calls into each layer,
  * plus one Spark listener for job, stage and task metrics. Everything
  * stays in memory until [[Tracer.dump]]. Spans are recorded only while
  * [[Tracer.on]] is true; the listeners, attached only in a traced run,
  * record every event, and events are attributed through span windows.
  *
  * All times are milliseconds on one clock (epoch-anchored `nanoTime`), so
  * listener event times (epoch ms) and span edges compare directly. */
object Tracer {
  final case class Span(id: Int, name: String, op: String, parent: Int,
      startMs: Double, endMs: Double) {
    def ms: Double = endMs - startMs
  }
  final case class Job(id: Int, startMs: Double, endMs: Double)
  final case class Task(finishMs: Double, runMs: Double, cpuMs: Double,
      gcMs: Double, shuffleMb: Double, spillMb: Double, inputMb: Double)
  /** Catalyst phases of one finished query execution: the action that
    * ran it (`funcName`) and when its last phase ended. */
  final case class Plan(funcName: String, atMs: Double, analysisMs: Double,
      optimizationMs: Double, planningMs: Double)

  @volatile var on = false
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = ArrayBuffer[Span]()
  val jobs = ArrayBuffer[Job]()
  val tasks = ArrayBuffer[Task]()
  val plans = ArrayBuffer[Plan]()
  private val jobStart = collection.mutable.Map[Int, Double]()
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  /** Open a span now; returns its id (-1 when tracing is off). */
  def open(name: String, op: String): Int = if (!on) -1 else synchronized {
    val id = spans.size
    spans += Span(id, name, op, stack.get.headOption.getOrElse(-1),
      nowMs, Double.NaN)
    stack.set(id :: stack.get)
    id
  }

  def close(id: Int): Unit = if (id >= 0) synchronized {
    spans(id) = spans(id).copy(endMs = nowMs)
    stack.set(stack.get.dropWhile(_ != id).drop(1))
  }

  def span[T](name: String, op: String)(body: => T): T = {
    val id = open(name, op)
    try body finally close(id)
  }

  /** Record a span whose edges were observed elsewhere (the sampler). */
  def add(name: String, op: String, parent: Int, startMs: Double,
      endMs: Double): Unit = synchronized {
    spans += Span(spans.size, name, op, parent, startMs, endMs)
  }

  /** Job and task metrics for every SparkContext started while tracing:
    * registered through `spark.extraListeners`, which Spark instantiates
    * for each context — including the ones `graft.Cli.main` builds. */
  class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.synchronized { jobStart(e.jobId) = e.time.toDouble }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobs += Job(e.jobId, s, e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.synchronized {
        val mb = 1.0 / (1 << 20)
        tasks += Task(e.taskInfo.finishTime.toDouble, m.executorRunTime.toDouble,
          m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
          (m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten) * mb,
          (m.memoryBytesSpilled + m.diskBytesSpilled) * mb,
          m.inputMetrics.bytesRead * mb)
      }
    }
  }

  /** Catalyst phase times of each finished execution, read from the
    * planning tracker the execution already carries (no extra planning).
    * Each is stamped with the end of its last phase, taken on the driver
    * thread that planned it, so a late delivery does not move it. */
  class PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val at = ph.values.map(_.endTimeMs.toDouble).maxOption.getOrElse(nowMs)
      Tracer.synchronized {
        plans += Plan(funcName, at, ms("analysis"), ms("optimization"),
          ms("planning"))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  /** Samples one thread's stack every `periodMs` and turns each contiguous
    * run of samples inside a watched method into a span: outside-in edges
    * of calls the benchmark cannot wrap itself because `graft.Cli.run`
    * makes them. Edge error is at most one period. */
  final class Sampler(target: Thread, op: String, parent: Int,
      rules: Seq[(String, StackTraceElement => Boolean)],
      periodMs: Long = 10) extends Thread("graftbench-sampler") {
    setDaemon(true)
    @volatile private var running = true
    private val openAt = Array.fill(rules.size)(Double.NaN)
    private var last = nowMs

    override def run(): Unit = {
      while (running) {
        val st = target.getStackTrace
        val t = nowMs
        rules.zipWithIndex.foreach { case ((name, hit), i) =>
          val inside = st.exists(hit)
          if (inside && openAt(i).isNaN) openAt(i) = (last + t) / 2
          else if (!inside && !openAt(i).isNaN) {
            add(name, op, parent, openAt(i), (last + t) / 2)
            openAt(i) = Double.NaN
          }
        }
        last = t
        Thread.sleep(periodMs)
      }
    }

    def finish(): Unit = {
      running = false
      join()
      val t = nowMs
      rules.zipWithIndex.foreach { case ((name, _), i) =>
        if (!openAt(i).isNaN) add(name, op, parent, openAt(i), t)
      }
    }
  }

  def frame(cls: String, method: String): StackTraceElement => Boolean =
    e => e.getClassName == cls && e.getMethodName == method

  // ------------------------------------------------------------ analysis

  /** Metrics of everything the listener saw inside [s.startMs, s.endMs]. */
  final case class Window(jobs: Int, tasks: Int, taskBusyS: Double,
      taskCpuS: Double, maxTaskS: Double, gcS: Double, shuffleMb: Double,
      spillMb: Double, inputMb: Double, insideJobsS: Double)

  def window(lo: Double, hi: Double): Window = synchronized {
    val js = jobs.filter(j => j.startMs >= lo - 1 && j.startMs <= hi)
    val ts = tasks.filter(t => t.finishMs >= lo - 1 && t.finishMs <= hi + 1)
    Window(js.size, ts.size, ts.map(_.runMs).sum / 1e3,
      ts.map(_.cpuMs).sum / 1e3, ts.map(_.runMs).maxOption.getOrElse(0.0) / 1e3,
      ts.map(_.gcMs).sum / 1e3, ts.map(_.shuffleMb).sum,
      ts.map(_.spillMb).sum, ts.map(_.inputMb).sum,
      union(js.map(j => (math.max(j.startMs, lo), math.min(j.endMs, hi))))
        / 1e3)
  }

  /** Length of the union of intervals, in the intervals' unit. */
  def union(iv: collection.Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var end = Double.NegativeInfinity
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    covered
  }

  /** Self time of a span: its duration minus what its children cover. */
  def selfMs(s: Span): Double = synchronized {
    s.ms - union(spans.filter(_.parent == s.id)
      .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
  }

  /** Plans of the action `funcName` planned inside [lo, hi]. */
  def plansIn(funcName: String, lo: Double, hi: Double): Seq[Plan] =
    synchronized {
      plans.filter(p => p.funcName == funcName && p.atMs >= lo - 1 &&
        p.atMs <= hi + 1).toSeq
    }

  /** Write every span (with self time), job and plan as JSON lines. */
  def dump(path: java.nio.file.Path): Unit = synchronized {
    val lines = spans.map { s =>
      f"""{"span": ${s.id}, "name": "${s.name}", "op": "${s.op}", """ +
        f""""parent": ${s.parent}, "start_ms": ${s.startMs}%.3f, """ +
        f""""end_ms": ${s.endMs}%.3f, "self_ms": ${selfMs(s)}%.3f}"""
    } ++ jobs.map(j =>
      f"""{"job": ${j.id}, "start_ms": ${j.startMs}%.0f, "end_ms": ${j.endMs}%.0f}""") ++
      plans.map(p =>
        f"""{"plan": "${p.funcName}", "at_ms": ${p.atMs}%.0f, """ +
          f""""analysis_ms": ${p.analysisMs}%.0f, "optimization_ms": """ +
          f"""${p.optimizationMs}%.0f, "planning_ms": ${p.planningMs}%.0f}""")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes("UTF-8"))
  }
}
