package graft

/** Plan-audit main: prints `explain("formatted")` for the given query
  * names (default: the scan- and shuffle-heavy ones) so pushdown,
  * pruning, broadcast choices and WholeStageCodegen spans can be
  * reviewed. Usage: Explain [sfDir] [name...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("s1_event_scan", "q1_pricing_summary", "q5_region_revenue",
        "o2_topk_per_group", "d1_exact_dedup", "d2_minhash_lsh", "v1_cosine_topk")
    val spark = Harness.session()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
