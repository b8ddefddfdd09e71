package graftbench

import java.nio.file.{Files, Path, Paths}

/** Benchmark entry point, one workload per JVM:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --rundir DIR
  *        --data DIR [--trace-out FILE]
  *
  * Writes `result.json` into the run directory: the operations attempted,
  * the names of the failed ones, and every metric it measured. `run.py`
  * turns that into the benchmark's output line. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, runDir: Path, data: Path, traceOut: Option[Path])

  /** Operations attempted, named failures, and measured metrics. */
  final class Outcome {
    var attempted = 0
    /** First failure of each failed operation, by operation name. */
    val failed = collection.mutable.LinkedHashMap[String, String]()
    val metrics = collection.mutable.LinkedHashMap[String, Double]()

    /** Run one named operation; an exception is recorded as its failure. */
    def op[T](name: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Throwable =>
          fail(name, s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator
              .nextOption().getOrElse(""))
          None
      }
    }

    def fail(name: String, what: String): Unit =
      if (!failed.contains(name)) failed(name) = what

    /** A correctness check of an operation already counted. */
    def check(name: String, ok: Boolean, what: => String): Unit =
      if (!ok) fail(name, what)

    def json: String = {
      def q(s: String) = "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => " "; case c => c.toString
      } + "\""
      val ms = metrics.map { case (k, v) =>
        s"${q(k)}: ${if (v.isNaN || v.isInfinite) "null" else v.toString}"
      }
      val fs = failed.map { case (k, v) => q(s"$k: $v") }
      s"""{"attempted": $attempted, "failed": ${fs.mkString("[", ", ", "]")}, """ +
        s""""metrics": ${ms.mkString("{", ", ", "}")}}"""
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1 max 0))
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Set-ups per run; `setup_s` is their median. The first pays the JIT,
    * so a median over a few settles where a single set-up would not. */
  val SetupReps = 5

  /** Operations in the timed region: `--seconds` at about 4 s per warm
    * product or pass, and at least 3 for a median. The count follows from
    * `--seconds` alone, never from how fast a run goes: the JIT is still
    * speeding operations up, so a run that fits one more in would read
    * faster for that reason alone. */
  def timedOps(seconds: Double): Int = math.max(3, math.round(seconds / 4).toInt)

  /** Heap still reachable after a full collection, in MiB. The pause lets
    * Spark's context cleaner drop the broadcast and shuffle blocks the
    * first collection released, so the second one frees them too. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc()
    Thread.sleep(1000)
    System.gc()
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong,
      need("--seconds").toDouble, need("--trace") == "1",
      Paths.get(need("--rundir")), Paths.get(need("--data")),
      kv.get("--trace-out").map(Paths.get(_)))
  }

  def run(a: Args): Outcome = a.workload match {
    case "granule_day" => Products.run(a)
    case "registry" => Registry.run(a)
    case w => throw new IllegalArgumentException(s"unknown workload: $w")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val out = run(a)
    Files.writeString(a.runDir.resolve("result.json"), out.json)
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    sys.exit(0)
  }
}
