package graft

/** Benchmark main — runs every SparkEntry query on
  * `sys.env("SPARK_GRAFT_SF_DIR")` and prints ONE JSON metric line.
  *
  * Each query is fully materialized through the `noop` sink
  * ([[Harness.time]]), `SPARK_GRAFT_BENCH_RUNS` times (default 3), and
  * reports its MEDIAN: first runs carry JIT + whole-stage-codegen
  * compilation (routinely 2-4× the steady state), so single-shot numbers
  * can't tell a regression from warmup noise.
  */
object Bench {
  /** The protocol-not-query class: full pipeline-protocol checks that
    * drive the DISK-based merge sink / streaming checkpoints on tiny
    * fixtures (multi-merge DAG runs, store bootstraps, streaming
    * replays). Their wall time is sink fsync + fixed per-run overhead,
    * not engine throughput, so they are excluded from the throughput
    * bench — and timed on their OWN ledger ([[ProtocolBench]],
    * `bench/protocol_r{N}.json`) so a store-path regression cannot hide
    * behind the exclusion. */
  val ProtocolClass: Set[String] = Set(
    "dag_fct_incremental", "dag_fct_maintenance", "dag_fct_skipread",
    "dag_append_log", "s12_scd2", "dag_cdc_feed", "dag_time_travel",
    "dag_delete_retention", "dag_stream_ingest", "dag_stream_scd2",
    "dag_stream_dedup", "dag_stream_daily", "dag_stream_position",
    "dag_schema_evolve", "dag_schema_widen", "dag_stream_evolve",
    "dag_stream_join", "dag_stream_outer_join", "dag_stream_cdc",
    "s14_stream_session", "dag_data_tests", "dag_restore",
    "dag_drift_audit", "dag_source_freshness", "dag_insert_overwrite",
    "dag_microbatch", "dag_cdc_apply", "t8s_stream_decont",
    "d2s_stream_neardup", "dag_state_modified", "v15_persisted_ivfpq",
    "dag_bloom_lookup", "v16_index_maintenance", "v15s_stream_index",
    "dag_run_results", "pipe5_incremental_corpus", "v18_partitioned_index",
    // added round 10: two full DAG runs through the disk merge sink
    // (show_tvl_incremental), a double store bootstrap (bucketed_join),
    // and three-replay incremental state machines
    "dag_show_tvl_incremental", "dag_bucketed_join",
    "d15_incremental_neardup", "k7s_stream_sketch", "d17_incremental_cut",
    // round 11: admission run + store DELETE + bounded re-admission —
    // five store commits on tiny fixtures; and the persisted trained
    // index (double training + two store merges per run)
    "d18_delete_readmission", "v23_persisted_trained_ivf",
    // round 12 (cont.): the persisted residual index — double training +
    // two partition-scoped store merges per run — and the incremental
    // CC state machine (six store merges per run)
    "v28_persisted_residual", "g2_incremental_cc",
    // round 12: the deployed index shape — trained index merged
    // partitionBy(cell) with DPP-required serving (two store merges/run);
    // and the iterated Lloyd trainer (V25Iters+1 store merges/run)
    "v24_partitioned_trained_ivf", "v25_lloyd_convergence",
    // round 12 (late): streamed HLL — three file drops through the store
    "k8s_stream_hll",
    // round 13: edge-retirement CC (g2's six merges + delete + scoped
    // recompute), incremental PageRank (two edge merges + 2×G1Iters rank
    // merges per run), the converged persisted residual index (full Lloyd
    // loop + two partition-scoped merges), and streamed DDSketch (three
    // file drops through the store)
    "g2b_cc_retirement", "g1b_incremental_pagerank",
    "v29_converged_residual", "k9s_stream_ddsketch",
    // streamed bounded-state priority sample (three file drops)
    "k10s_stream_sample",
    // streamed bounded-state KMV sketch (three file drops, same class)
    "k11s_stream_theta",
    // round 14: the DLT subset-sum estimate served from the stored
    // sample (two keyed merges + a store read per run), and the
    // doc-level takedown composing BOTH non-monotone store machines
    // (admission replay + edge arrival + frame-keyed deletes + scoped
    // recomputes — ~12 store commits on tiny fixtures)
    "k10b_subset_sum", "g2c_doc_takedown",
    // incremental epoch re-planning (three doc merges + three plan
    // merges per run, full planner recompute per batch)
    "t30b_epoch_replan",
    // incremental canonical election (g2's six merges + per-batch member
    // + election merges + vanish drains through the keyed delete), and
    // incremental triangle maintenance (three edge + deg + tri merges)
    "d19b_incremental_canonical", "g4b_incremental_triangles",
    // takedown re-election (d19b's build + retirement + re-elect sweep)
    "d19c_takedown_reelection",
    // streamed day-partial rollup (three event drops through the store)
    "k12s_stream_rollup")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // a stale artifact from a previous run must never masquerade as this
    // sweep's numbers — drop it before any timing starts
    try java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get("target/bench.json"))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not clear stale target/bench.json: $e")
    }
    val spark = Harness.session()
    Harness.warmUp(spark)
    // dag_fct_incremental / dag_fct_maintenance are pipeline-protocol
    // checks (two full DAG runs through the disk-based merge sink — ~14
    // write/read cycles of fixed overhead on tiny fixtures), not queries;
    // they stay in the correctness gate but would only measure sink fsync.
    // s12_scd2 is the same kind of protocol check (two batches through the
    // disk-based snapshot merge), so it too stays out of the timing set.
    val timed = Harness.time(spark, (SparkEntry.queries -- ProtocolClass).keys.toSeq.sorted,
      runs, "bench")(n => SparkEntry.queries(n)(spark, sfDir))
    val results = timed.medians
    val total = results.map(_._2).sum
    val (worstName, worst) = results.maxBy(_._2)
    // empty on a healthy run; a query with ANY crashed run is listed with
    // its failed-run count so its (fast) median can't read as a speedup
    val failedJson = Harness.json(timed.failures.toSeq.sortBy(_._1))
    // metric "total_full" (not "total"): only ONE line may carry the
    // canonical metric name, or a parser that sums/collects every metric
    // line would double-count the run. The short summary line below is the
    // canonical "total"; this full line is the complete per-query record.
    val line =
      s"""{"metric":"total_full","value":$total,"unit":"sec","worst":$worst,"worst_query":"$worstName","sf":"$sfDir","runs_per_query":$runs,"failed_runs":$failedJson,"queries":${Harness.json(results)}}"""
    println(line)
    // The driver's artifact keeps the END of stdout and clips the head, so
    // a long line loses whatever is printed first (BENCH_r05's tail started
    // mid-map and parsed as null). Print a SECOND, short summary line after
    // the full one: short enough to always sit inside the preserved tail,
    // and last so a line-oriented parser picks it up. Top slowest queries
    // ride along; the complete per-query map lives in the full line above
    // and in target/bench.json.
    val slowest = Harness.json(results.sortBy(-_._2).take(8))
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","worst":$worst,"worst_query":"$worstName","sf":"$sfDir","runs_per_query":$runs,"failed_runs":$failedJson,"queries":$slowest}""")
    // persist the full line so every per-query number survives the round
    // (BENCH_r03 lost its first 10 alphabetical entries to a 2000-char cut)
    Harness.persist("target/bench.json", line)
    spark.stop()
  }
}
