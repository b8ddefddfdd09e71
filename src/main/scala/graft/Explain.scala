package graft

/** Dump formatted physical plans for the headline queries (plan-quality
  * review; output checked into EXPLAIN.md). Usage: runMain graft.Explain
  * [sfDir] [query ...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_agg", "q3_join", "q5_join_agg", "q6_agg", "q_anti_join",
        "q_range_join", "q_agg_full", "q_agg_dedup", "d_minhash_lsh",
        "ann_lsh", "ann_ivf", "q_agg_sessionize")
    // four slots on any machine: partition counts in the plans stay
    // comparable with the checked-in EXPLAIN.md
    val spark = GraftSession("local[4]")
    names.foreach { n =>
      println(s"\n===== $n =====")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
    }
    spark.stop()
  }
}
