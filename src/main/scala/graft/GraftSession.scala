package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every graft main (Bench, Verify, Explain,
  * Cli, ScaleSmoke, TenX, HotCohort) and the test suites build their
  * session here, so the session policy lives in one place.
  *
  * `master` defaults to `SPARK_MASTER` when set, else
  * `local[$SPARK_GRAFT_CPUS]`, else one slot per available core. On a
  * `local[...]` master shuffle partitions follow the context's default
  * parallelism (one per slot); on a cluster master Spark's own value
  * stands, because executors may not have registered yet when the
  * session starts and the default parallelism would then read 2.
  * The session is built by `SparkSession.Builder.getOrCreate`, the frame
  * graftbench's tracer cuts its `session.start` layer on.
  */
object GraftSession {
  def apply(master: String = sys.env.getOrElse("SPARK_MASTER",
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors.toString)}]")): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.timestampType", "TIMESTAMP_NTZ")
      // bounded TypedImperativeAggregate folds (TopKScored's per-vector
      // top-4 in particular) legitimately hold ~n distinct groups in the
      // PARTIAL map; the 128-group default silently degrades the partial
      // to sort-based and sorts the whole candidate stream per task
      // (measured 2x on emb_knn_graph at 100x rows)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "4000000")
      .config("spark.ui.enabled", "false")
      // stall-proofing: BENCH_r04 died to "unable to send heartbeats to
      // driver more than 60 times" during a co-tenant machine stall
      // (sporadic 20-110 s freezes adjudicated in r3/r4). Generous
      // timeouts let a stall degrade one timing, not kill the artifact.
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "30s")
      .config("spark.network.timeoutInterval", "60s")
      .getOrCreate()
    if (master.startsWith("local"))
      spark.conf.set("spark.sql.shuffle.partitions",
        spark.sparkContext.defaultParallelism.toLong)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
