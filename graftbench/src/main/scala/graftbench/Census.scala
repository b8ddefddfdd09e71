package graftbench

import java.nio.file.{Files, Paths}

import graftbench.Main._

/** Census of the whole registry on the fixture tables, the measurement the
  * `registry` workload's query set is drawn from (`run.py --census`):
  *
  *   Census --rundir DIR --data DIR --out FILE [--passes N]
  *
  * One cold pass, then N warm passes over every `SparkEntry.queries` entry
  * in a seeded order, each query forced by a `noop` write as in the
  * workload. Writes one JSON object: for each query its median warm
  * latency, its median task count over the warm passes, and its row count.
  */
object Census {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val runDir = Paths.get(kv("--rundir"))
    val data = Paths.get(kv("--data"))
    val passes = kv.getOrElse("--passes", "3").toInt
    val dir = runDir.resolve("tables")
    Registry.copyTree(data, dir)
    val spark = Registry.session()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(new Tracer.Listener)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val rnd = new scala.util.Random(1)

    def pass(p: Int): Unit = rnd.shuffle(names).foreach { q =>
      Tracer.span("query", s"$p:$q") {
        graft.SparkEntry.queries(q)(spark, dir.toString)
          .write.format("noop").mode("overwrite").save()
      }
    }
    pass(0) // cold: JIT, codegen and memo fills; not counted
    Tracer.on = true
    (1 to passes).foreach { p =>
      pass(p)
      System.err.println(s"[census] warm pass $p of $passes done")
    }
    Tracer.on = false
    val rows = names.map(q =>
      q -> graft.SparkEntry.queries(q)(spark, dir.toString).count()).toMap
    spark.stop() // drains the listener bus before the windows are read

    val lines = names.map { q =>
      val ss = Tracer.spans.filter(s => s.name == "query" &&
        s.op.endsWith(s":$q")).toSeq
      val tasks = ss.map(s => Tracer.window(s.startMs, s.endMs).tasks.toDouble)
      f"""  "$q": {"warm_s": ${median(ss.map(_.ms / 1e3))}%.4f, """ +
        f""""tasks": ${median(tasks)}%.0f, "rows": ${rows(q)}}"""
    }
    Files.writeString(Paths.get(kv("--out")), lines.mkString("{\n", ",\n", "\n}\n"))
    sys.exit(0)
  }
}
