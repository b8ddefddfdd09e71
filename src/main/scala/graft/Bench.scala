package graft

/** Benchmark main — one JSON line with per-query wall seconds.
  * Queries are forced end-to-end with a noop-format write (count() would let
  * Catalyst prune compute that a real consumer pays for). A small warmup
  * first touches each table so JVM/codegen warmup isn't billed to the first
  * query. Both JSON lines name the queries that failed in any pass
  * (`"failed"`); a query that failed in every pass exits the run with 1.
  * The full record also lists every pass's time per query (`"passes"`).
  *
  * Usage: runMain graft.Bench [query ...] (env `SPARK_GRAFT_SF_DIR`,
  * `SPARK_GRAFT_BENCH_PASSES`, `SPARK_GRAFT_BENCH_OUT`) */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()

    def run(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // optional subset: `runMain graft.Bench q1_agg d_span_dedup ...` runs
    // only the named queries (headline runs at very large factors); no
    // args = the full registry
    val subset = args.toSet
    require(subset.isEmpty || subset.subsetOf(SparkEntry.queries.keySet),
      s"unknown queries: ${subset -- SparkEntry.queries.keySet}")
    def selected(n: String): Boolean = subset.isEmpty || subset(n)

    // Warmup: execute every (selected) query once at the smallest SF. Plan
    // shapes are identical across SFs, so this pays Janino codegen
    // compilation and C2 JIT up front (measured: 10-17s/query first run,
    // <2s steady state) and the timed runs below measure actual compute.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      SparkEntry.queries.foreach { case (n, fn) =>
        if (selected(n))
          try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
          catch { case _: Throwable => }
      }

    // best of three timed runs per query, taken as full round-robin passes
    // (A..Z, A..Z, A..Z) rather than back-to-back: a transient slow phase
    // (GC, JIT recompilation, page-cache eviction) then degrades at most
    // one of a query's timings instead of all of them. Pass count is
    // overridable for long large-SF runs (BENCH_SUMMARY.md 10× rows).
    val passesN = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(selected)
    val passes = (1 to passesN).map(_ => names.map(n => n -> run(n)).toMap)
    val results = names.map { n =>
      val ts = passes.map(_(n)).filter(_ >= 0)
      n -> (if (ts.isEmpty) -1.0 else ts.min)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // a failed run is left out of its query's min and of the total, so
    // name every query that failed in any pass: a breaking query must
    // never read as a faster bench
    val failed = names.filter(n => passes.exists(_(n) < 0))
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // every pass's time per query (-1.0 = that pass failed): the first
    // pass carries the one-time session-memo fills the min leaves out
    val perPass = names.map(n => "\"" + n + "\":" +
      passes.map(_(n)).mkString("[", ",", "]")).mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","failed":$failed,"passes":$perPass}"""
    println(full)
    // the full per-query line outgrew the harness's tail-capture window at
    // 82 queries (BENCH_r03 parsed:null) — repeat a compact parseable line
    // last and keep the full record on disk
    java.nio.file.Files.write(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")),
      (full + "\n").getBytes("UTF-8"))
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","queries_file":"${sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")}","failed":$failed}""")
    spark.stop()
    // a query with no successful pass has no timing at all: fail the run
    if (results.exists(_._2 < 0)) sys.exit(1)
  }
}
