package graft

/** Per-query timing loop for perf work: runs the given query names N times
  * each through the noop sink ([[Harness.time]], as [[Bench]] does) and
  * prints every run's seconds plus the median — so a regression can be
  * told apart from JIT/neighbor noise before believing it. Exits 1 if a
  * name is unknown or any run failed.
  * Usage: Profile [sfDir] [repeats] [name...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val repeats = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val names = if (args.length > 2) args.drop(2).toSeq
      else Seq("q1_pricing_summary", "j4_expr_key_join", "j6_range_join",
        "m1_multimodal_meta", "d2_minhash_lsh")
    val spark = Harness.session()
    Harness.warmUp(spark)
    var failed = false
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None =>
          // a typo must not abort the names after it — but it must not
          // exit 0 either, or a scripted perf gate checks nothing
          failed = true
          System.err.println(s"$n: unknown query (known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")})")
        case Some(q) =>
          val timed = Harness.time(spark, Seq(n), repeats, "profile")(_ => q(spark, sfDir))
          val times = timed.runs.head._2
          failed ||= timed.failures.nonEmpty
          val fails = timed.failures.get(n).fold("")(k => s"  failed=$k")
          println(f"$n%-24s median=${Harness.median(times)}%7.3f  runs=${times.map(t => f"$t%.3f").mkString(",")}$fails")
      }
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
