package graft

/** The protocol-class ledger — end-to-end timings for every query
  * [[Bench.ProtocolClass]] excludes from the throughput bench (full DAG
  * runs through the disk merge sink, store bootstraps, streaming
  * replays). These numbers measure the STORE PATH (merge planning,
  * partition pruning, hard-link carry, pointer swaps, checkpointed
  * foreachBatch replays), so a regression there shows up on THIS ledger
  * instead of hiding behind the throughput bench's exclusion.
  *
  * Prints one JSON line (metric `protocol_total`) and persists it to
  * `target/protocol_bench.json`; per-round snapshots are committed as
  * `bench/protocol_r{N}.json`. Usage mirrors [[Bench]]:
  * `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_BENCH_RUNS` (default 3, median).
  */
object ProtocolBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = Harness.session()
    Harness.warmUp(spark)
    // intersect with the live query map: a ProtocolClass name that no
    // longer exists must fail loudly, not silently shrink the ledger
    val missing = Bench.ProtocolClass -- SparkEntry.queries.keySet
    require(missing.isEmpty, s"ProtocolClass names not in SparkEntry.queries: $missing")
    // protocol queries own their temp store trees; between runs only the
    // session-level residue (caches, dead checkpoint blocks) is released
    val timed = Harness.time(spark, Bench.ProtocolClass.toSeq.sorted, runs,
      "protocol-bench")(n => SparkEntry.queries(n)(spark, sfDir))
    val results = timed.medians
    val total = results.map(_._2).sum
    val (worstName, worst) = results.maxBy(_._2)
    val failedJson = Harness.json(timed.failures.toSeq.sortBy(_._1))
    val line =
      s"""{"metric":"protocol_total","value":$total,"unit":"sec","worst":$worst,"worst_query":"$worstName","sf":"$sfDir","runs_per_query":$runs,"failed_runs":$failedJson,"queries":${Harness.json(results)}}"""
    println(line)
    Harness.persist("target/protocol_bench.json", line)
    spark.stop()
  }
}
