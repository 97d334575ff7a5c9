package perfbench

import graft.{SparkEntry, Sources}
import graft.incremental.{Manifest, Model, RunContext, RunMode, Runner, SnapshotStore}
import graft.models.DeepbookPipeline
import org.apache.spark.BenchBus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.json4s._
import org.json4s.jackson.JsonMethods
import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The benchmark's Spark driver. One JVM runs one workload: it sets up,
  * prints `PERFBENCH_SETUP_DONE <epoch ms>`, times operations for `--seconds`, checks
  * the outputs untimed and prints one JSON line. run.py wraps it.
  *
  * Workloads:
  *  - `dag_incremental`: set-up backfills the seven DeepBook models
  *    (`RunMode.FullRefresh`) and runs [[WarmupOps]] warm-up incremental
  *    runs; one op = one `RunMode.Incremental` run after one more hour of
  *    source delta.
  *  - `query_mix`: set-up fingerprints every query, which also warms the
  *    JIT; one op = one pass over [[Queries]], each query run into the noop
  *    sink as `graft.Bench` does.
  *
  * With `--trace 1` ops run untraced and traced in the order U T T U,
  * repeated, so a warming JVM favours neither side; the traced
  * ones give the per-layer metrics and the difference of the two medians is
  * the tracing overhead. The set-up backfill is traced too (`backfill.*`). */
object Bench {

  val Queries: Seq[String] = Seq(
    "d11_containment", "q1_pricing_summary", "w6_sessions",
    "d14_fuzzy_join", "d14b_fuzzy_join_k2", "d14c_fuzzy_expand")

  /** Untimed ops in set-up: the JIT is still warming over the first ops of
    * a fresh JVM (op times fall by ~30% over them). The query mix's
    * fingerprint pass is its warm-up. */
  val WarmupOps = 2

  /** Model groups of the per-layer metrics. */
  def group(model: String): String =
    if (model == Checks.Fct) "fct" else if (model.startsWith("stg_")) "stg" else "events"
  val Groups = Seq("events", "stg", "fct")

  /** Layers of the cold backfill that the traced run also reports. */
  val BackfillLayers = Seq("runner.wall_s", "runner.par_eff", "sources.rows_read",
    "models.events.busy_s", "models.stg.busy_s", "models.fct.busy_s",
    "store.merge_s", "store.mb_written")

  /** Every per-layer metric, in output order. A traced run reports all of
    * them; a layer its workload does not exercise reads 0. */
  val PerLayer: Seq[String] =
    Seq("sources.rows_read", "sources.mb_read", "sources.rows_read_per_row_kept") ++
      Groups.flatMap(g => Seq("busy_s", "cpu_s", "rows_out").map(m => s"models.$g.$m")) ++
      Seq("store.merge_s", "store.read_s", "store.files_written", "store.files_linked",
        "store.mb_written", "store.rows_rewritten_per_delta_row", "store.live_mb",
        "runner.wall_s", "runner.par_eff", "runner.idle_s") ++
      BackfillLayers.map("backfill." + _) ++
      Queries.flatMap(q => Seq("wall_s", "jobs", "shuffle_mb", "spill_mb", "par_eff", "task_skew")
        .map(m => s"q.$q.$m")) ++
      Seq("queries.pass_s", "queries.max_query_s",
        "spark.gc_s", "spark.peak_exec_mem_mb", "spark.sched_delay_s",
        "trace.overhead_s", "trace.ops")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        inputs: String, work: String, cores: Int, traceFile: String,
                        pins: String, writePins: Boolean, equivalence: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def flag(k: String) = m.getOrElse(k, "0") == "1"
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, flag("trace"),
      m("inputs"), m("work"), m("cores").toInt, m.getOrElse("trace-file", ""),
      m.getOrElse("pins", ""), flag("write-pins"), flag("equivalence"))
  }

  /** The true median: the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def now(): Long = System.currentTimeMillis()
  private val started = System.nanoTime()
  /** Progress on stderr, with seconds since the driver started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.2f s  $msg")
  /** Tells run.py, which times set-up from the JVM's launch, that set-up ended. */
  def setupDone(): Unit = {
    log("set-up done")
    println(s"PERFBENCH_SETUP_DONE ${System.currentTimeMillis()}")
    System.out.flush()
  }
  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  private def link(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst.getParent)
    Files.createLink(dst, src)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // release() collects between ops; a periodic full GC could land inside one
      .config("spark.cleaner.periodicGC.interval", "1h")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Loud failure accounting: an op that ends with Spark jobs still running
    * fails the whole run. */
  def assertIdle(spark: SparkSession, what: String): Unit = {
    BenchBus.drain(spark.sparkContext)
    val active = spark.sparkContext.statusTracker.getActiveJobIds()
    if (active.nonEmpty)
      throw new IllegalStateException(s"$what left Spark jobs running: ${active.mkString(",")}")
  }

  /** Drops the blocks an op left behind (localCheckpoints, caches), as
    * graft.Bench does between queries, so one op cannot slow the next. */
  def release(spark: SparkSession, before: Set[Int]): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before.contains(id) }
      .values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def filesOf(snap: Path): Seq[(String, Long)] =
    Manifest.read(snap).map(_.files.map(f => f.path -> f.size)).getOrElse(Nil)

  /** Bytes in the live snapshots of every model under `root`. */
  def liveBytes(root: String): Long = DeepbookPipeline.models.map { m =>
    val dir = Paths.get(root, m.name)
    SnapshotStore.currentSnapshot(dir.toString).map(s => filesOf(dir.resolve(s)).map(_._2).sum)
      .getOrElse(0L)
  }.sum

  /** (files written, files carried by hard link, bytes written) by the last
    * snapshot of each model, against the snapshot before it. */
  def storeDelta(root: String): (Long, Long, Long) = {
    val per = DeepbookPipeline.models.flatMap { m =>
      val dir = Paths.get(root, m.name)
      val snaps = SnapshotStore.snapshots(dir.toString).takeRight(2).map(dir.resolve)
      snaps.lastOption.toSeq.flatMap(filesOf(_).map { case (rel, size) =>
        val carried = snaps.size == 2 && Files.exists(snaps.head.resolve(rel)) &&
          Files.isSameFile(snaps.head.resolve(rel), snaps.last.resolve(rel))
        if (carried) (0L, 1L, 0L) else (1L, 0L, size)
      })
    }
    (per.map(_._1).sum, per.map(_._2).sum, per.map(_._3).sum)
  }

  // ---- the DAG under trace ------------------------------------------------

  /** Forwards every member of `m`; `build` is timed as a span and sets the
    * worker thread's job group to the model, so the Runner's later merge and
    * read jobs for it are attributed to it. The output carries a row-count
    * observation read back by the tracer. */
  def wrap(m: Model, t: Tracer, op: Int): Model = new Model {
    def name: String = m.name
    def uniqueKey: Seq[String] = m.uniqueKey
    override def partitionDate: Option[Column] = m.partitionDate
    override def clusterBy: Seq[String] = m.clusterBy
    override def refs: Seq[String] = m.refs
    def build(ctx: RunContext, existing: Option[DataFrame], ref: String => DataFrame): DataFrame = {
      ctx.spark.sparkContext.setJobGroup(m.name, m.name)
      val t0 = now()
      val out = m.build(ctx, existing, ref)
      t.span(Span(s"models.build:${m.name}", t0, now(), "runner.run", op))
      out.observe(s"rows_out|${m.name}|$op", count(lit(1)))
    }
  }

  /** Per-layer metrics of one traced DAG op. Spark 4 submits most stage
    * jobs from its own threads, so call sites do not name the program; a
    * model's job is a store read when it starts inside the model's build
    * span (watermark and lookback anchors over its prior snapshot) and part
    * of the merge otherwise. Extraction runs inside the merge's jobs. */
  def dagLayers(tr: OpTrace, t: Tracer, op: Int, t0: Long, t1: Long, cores: Int,
                root: String, gcSec: Double): Map[String, Double] = {
    val wall = (t1 - t0) / 1e3
    val builds = t.spans.filter(s => s.op == op && s.name.startsWith("models.build:"))
      .map(s => s.name.stripPrefix("models.build:") -> s).toMap
    val dagJobs = tr.jobs.filter(j => builds.contains(j.tag))
    val (readJobs, mergeJobs) = dagJobs.partition(j => j.startMs <= builds(j.tag).endMs)
    // a model's span runs from its build call to the end of its last job
    val modelSpans = builds.toSeq.map { case (m, s) =>
      val end = (dagJobs.filter(_.tag == m).map(_.endMs) :+ s.endMs).max
      t.span(Span(s"model:$m", s.startMs, end, "runner.run", op))
      (s.startMs, end)
    }.sortBy(_._1)
    val covered = modelSpans.foldLeft((0L, Long.MinValue)) { case ((acc, hi), (s, e)) =>
      if (e <= hi) (acc, hi) else (acc + e - math.max(s, hi), e)
    }._1
    for (j <- readJobs) t.span(Span(s"job:${j.id}:store.read", j.startMs, j.endMs, s"model:${j.tag}", op))
    for (j <- mergeJobs) t.span(Span(s"job:${j.id}:store.merge", j.startMs, j.endMs, s"model:${j.tag}", op))
    def wallOf(js: Seq[JobRec]) = js.map(j => (j.endMs - j.startMs) / 1e3).sum
    val rowsIn = tr.rowsOut.filter { case (m, _) => group(m) != "fct" }.values.sum
    val deltaRows = tr.rowsOut.values.sum
    val (fw, fl, bw) = storeDelta(root)
    val perGroup = Groups.flatMap { g =>
      val js = dagJobs.filter(j => group(j.tag) == g)
      Seq(s"models.$g.busy_s" -> js.map(_.runMs).sum / 1e3,
        s"models.$g.cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        s"models.$g.rows_out" -> tr.rowsOut.filter(kv => group(kv._1) == g).values.sum.toDouble)
    }
    perGroup.toMap ++ runtime(tr.jobs, gcSec) ++ Map(
      "sources.rows_read" -> tr.sourceRows.toDouble,
      "sources.mb_read" -> tr.sourceBytes / 1e6,
      "sources.rows_read_per_row_kept" -> (if (rowsIn > 0) tr.sourceRows.toDouble / rowsIn else 0.0),
      "store.merge_s" -> wallOf(mergeJobs),
      "store.read_s" -> wallOf(readJobs),
      "store.files_written" -> fw.toDouble,
      "store.files_linked" -> fl.toDouble,
      "store.mb_written" -> bw / 1e6,
      "store.rows_rewritten_per_delta_row" ->
        (if (deltaRows > 0) mergeJobs.map(_.recordsWritten).sum.toDouble / deltaRows else 0.0),
      "store.live_mb" -> liveBytes(root) / 1e6,
      "runner.wall_s" -> wall,
      "runner.par_eff" -> tr.jobs.map(_.runMs).sum / 1e3 / (wall * cores),
      "runner.idle_s" -> math.max(0.0, wall - covered / 1e3))
  }

  /** Spark runtime metrics of one traced op (JVM GC covers the whole local
    * process, driver included). */
  def runtime(jobs: Seq[JobRec], gcSec: Double): Map[String, Double] = Map(
    "spark.gc_s" -> gcSec,
    "spark.peak_exec_mem_mb" -> (jobs.map(_.peakMem) :+ 0L).max / 1e6,
    "spark.sched_delay_s" -> jobs.map(_.schedDelayMs).sum / 1e3)

  def queryLayers(q: String, tr: OpTrace, wall: Double, cores: Int): Map[String, Double] = {
    val skews = tr.jobs.flatMap(_.taskMsByStage.values).filter(_.size >= 2).map { ds =>
      ds.max / math.max(1.0, median(ds.map(_.toDouble).toSeq))
    }
    Map(
      s"q.$q.wall_s" -> wall,
      s"q.$q.jobs" -> tr.jobs.size.toDouble,
      s"q.$q.shuffle_mb" -> tr.jobs.map(_.shuffleBytes).sum / 1e6,
      s"q.$q.spill_mb" -> tr.jobs.map(_.spillBytes).sum / 1e6,
      s"q.$q.par_eff" -> tr.jobs.map(_.runMs).sum / 1e3 / (wall * cores),
      s"q.$q.task_skew" -> (skews :+ 1.0).max)
  }

  // ---- one run ----------------------------------------------------------------

  final class Run(val a: Args, val spark: SparkSession) {
    val checks = new Checks
    var attempted, failed = 0
    val untraced, traced = mutable.ArrayBuffer[Double]()
    val layers = mutable.ArrayBuffer[Map[String, Double]]()
    val extra = mutable.Map[String, Double]()
    val tracer = new Tracer(spark, Paths.get(a.work, "src").toAbsolutePath.toString)
    private var op = 0

    /** Runs ops until --seconds have passed and at least three untraced ops
      * have run (with tracing: two untraced and two traced, U T T U), or
      * until `available` turns false. `body` returns the op's own timed
      * seconds; an exception counts as a failed op and its time is left out. */
    def loop(available: => Boolean)(body: (Int, Option[Tracer]) => Double): Unit = {
      val start = now()
      def more = (if (a.trace) untraced.size < 2 || traced.size < 2 else untraced.size < 3) ||
        (now() - start) / 1e3 < a.seconds
      while (more && available) {
        op += 1
        val useTrace = a.trace && (op % 4 == 2 || op % 4 == 3)
        val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
        attempted += 1
        try {
          val sec = body(op, if (useTrace) Some(tracer) else None)
          (if (useTrace) traced else untraced) += sec
          log(f"op $op${if (useTrace) " (traced)" else ""}: $sec%.3f s")
        } catch {
          case NonFatal(e) =>
            failed += 1
            log(s"op $op failed: $e")
            if (failed >= 3) throw e
        }
        assertIdle(spark, s"op $op")
        release(spark, before)
      }
      if (!available) log(s"inputs used up after op $op")
    }

    def result(): String = {
      val metrics = mutable.LinkedHashMap[String, (Double, String)]()
      metrics("op_s") = (median(untraced.toSeq), "s")
      if (a.trace) {
        extra("trace.overhead_s") = median(traced.toSeq) - median(untraced.toSeq)
        extra("trace.ops") = traced.size.toDouble
        for (k <- PerLayer) {
          val seen = layers.flatMap(_.get(k))
          metrics(k) = (extra.getOrElse(k, if (seen.isEmpty) 0.0 else median(seen.toSeq)), unit(k))
        }
      }
      val ms = metrics.map { case (k, (v, u)) =>
        val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
        s""""$k":{"value":$num,"unit":"$u"}"""
      }.mkString(",")
      s"""{"correct":${checks.ok},"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
    }

    /** The side file of a traced run: a header with every op time, one line
      * of layer metrics per traced op, then every span. */
    def writeTrace(): Unit = if (a.traceFile.nonEmpty) {
      def q(s: String) = "\"" + s + "\""
      val head = s"""{"workload":${q(a.workload)},"seed":${a.seed},"untraced_s":[${untraced.mkString(",")}],""" +
        s""""traced_s":[${traced.mkString(",")}],"extra":{${extra.map { case (k, v) => s"${q(k)}:$v" }.mkString(",")}}}"""
      val layerLines = layers.zipWithIndex.map { case (m, i) =>
        m.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:$v" }.mkString(s"""{"traced_op":$i,""", ",", "}")
      }
      val spanLines = tracer.spans.sortBy(_.startMs).map { s =>
        s"""{"name":${q(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs},"parent":${q(s.parent)},"op":${s.op}}"""
      }
      Files.createDirectories(Paths.get(a.traceFile).getParent)
      Files.writeString(Paths.get(a.traceFile), (head +: (layerLines ++ spanLines)).mkString("", "\n", "\n"))
    }
  }

  def unit(k: String): String =
    if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb") || k.endsWith(".mb_read") || k.endsWith(".mb_written")) "MB"
    else if (Seq("par_eff", "task_skew", "_per_row_kept", "_per_delta_row").exists(k.endsWith)) "ratio"
    else "count"

  private def readJson(p: Path): JValue = JsonMethods.parse(Files.readString(p))

  // ---- workloads --------------------------------------------------------------

  /** Sources directory of a run: the generated base files hard-linked in,
    * so appending an hour is linking three more files. */
  def stageSources(a: Args): String = {
    val src = Paths.get(a.work, "src")
    val base = Paths.get(a.inputs, "base")
    val w = Files.walk(base)
    try w.iterator().asScala.filter(Files.isRegularFile(_))
      .foreach(f => link(f, src.resolve(base.relativize(f))))
    finally w.close()
    src.toAbsolutePath.toString
  }

  def appendHour(a: Args, h: Int): Unit =
    for (t <- Seq("sui_events", "sui_objects", "prices_day"))
      link(Paths.get(a.inputs, "hours", f"$h%04d", s"$t.parquet"),
        Paths.get(a.work, "src", s"$t.parquet", f"part-h$h%04d.parquet"))

  /** One DAG run; traced, it builds `new Runner(root, models.map(wrap))` and
    * records the op's per-layer metrics. Returns its wall seconds. */
  def dagRun(r: Run, root: String, c: RunContext, op: Int, t: Option[Tracer]): Double = t match {
    case None =>
      val t0 = System.nanoTime()
      DeepbookPipeline.runner(root).run(c)
      (System.nanoTime() - t0) / 1e9
    case Some(tr) =>
      val gc0 = gcMs()
      tr.begin()
      val t0 = now()
      new Runner(root, DeepbookPipeline.models.map(wrap(_, tr, op)), threads = 4).run(c)
      val t1 = now()
      val trace = tr.end()
      tr.span(Span("runner.run", t0, t1, "op", op))
      r.layers += dagLayers(trace, tr, op, t0, t1, r.a.cores, root, (gcMs() - gc0) / 1e3)
      (t1 - t0) / 1e3
  }

  def dagIncremental(r: Run): Unit = {
    implicit val f: Formats = DefaultFormats
    val (a, spark) = (r.a, r.spark)
    val exp = readJson(Paths.get(a.inputs, "expected.json"))
    val hours = (exp \ "hours").extract[List[JValue]]
    val src = stageSources(a)
    val root = s"${a.work}/store"
    def ctx(mode: RunMode) = RunContext(spark, Sources.sui(spark, src), mode,
      Instant.ofEpochMilli((exp \ "now_ms").extract[Long]))
    log("session up; backfill")
    if (a.trace) {
      dagRun(r, root, ctx(RunMode.FullRefresh), 0, Some(r.tracer))
      val cold = r.layers.remove(0)
      BackfillLayers.foreach(k => r.extra(s"backfill.$k") = cold(k))
    } else DeepbookPipeline.runner(root).run(ctx(RunMode.FullRefresh))
    log("backfill done; warm-up incremental runs")
    var h = 0
    for (_ <- 1 to WarmupOps) {
      h += 1
      appendHour(a, h)
      DeepbookPipeline.runner(root).run(ctx(RunMode.Incremental))
    }
    setupDone()
    r.loop(h < hours.size) { (op, t) =>
      h += 1
      appendHour(a, h)
      dagRun(r, root, ctx(RunMode.Incremental), op, t)
    }
    Checks.dag(spark, root, hours(h - 1), r.checks)
    if (a.equivalence) {
      val ref = s"${a.work}/store-ref"
      DeepbookPipeline.runner(ref).run(ctx(RunMode.FullRefresh))
      Checks.equivalent(spark, root, ref, r.checks)
    }
    r.extra("store.live_mb") = liveBytes(root) / 1e6
  }

  def queryMix(r: Run): Unit = {
    implicit val f: Formats = DefaultFormats
    val (a, spark) = (r.a, r.spark)
    val pinsPath = Paths.get(a.pins)
    val pins =
      if (Files.exists(pinsPath)) (readJson(pinsPath) \ "queries").extract[Map[String, JValue]]
      else Map.empty[String, JValue]
    log("session up; fingerprint pass")
    // every query fingerprinted against the pins; this pass also warms the
    // JIT for the timed passes into the noop sink
    val got = Queries.map { q =>
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val fp = Checks.fingerprint(SparkEntry.queries(q)(spark, a.inputs))
      release(spark, before)
      log(s"$q: $fp")
      q -> fp
    }
    if (a.writePins) {
      val body = got.map { case (q, (n, h)) => s""""$q":{"rows":$n,"hash":"$h"}""" }.mkString(",\n  ")
      Files.writeString(pinsPath, s"""{"queries":{\n  $body\n}}\n""")
    } else for ((q, (n, h)) <- got) {
      val pin = pins.get(q)
      r.checks.expect(pin.exists(p => (p \ "rows").extract[Long] == n && (p \ "hash").extract[String] == h),
        s"$q: $n rows, hash $h; pinned ${pin.map(JsonMethods.compact).getOrElse("nothing")}")
    }
    setupDone()
    val slowest = mutable.ArrayBuffer[Double]()
    r.loop(available = true) { (op, t) =>
      val gc0 = gcMs()
      val runs = Queries.map { q =>
        val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
        t.foreach { tr => tr.currentQuery = q; tr.begin() }
        val startMs = now()
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, a.inputs).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val trace = t.map { tr =>
          val tq = tr.end()
          tr.currentQuery = null
          tr.span(Span(s"query:$q", startMs, startMs + (sec * 1e3).toLong, "queries.pass", op))
          tq.jobs.foreach(j => tr.span(Span(s"job:${j.id}:queries", j.startMs, j.endMs, s"query:$q", op)))
          tq
        }
        assertIdle(spark, q)
        release(spark, before)
        (q, sec, trace)
      }
      val pass = runs.map(_._2).sum
      if (t.isEmpty) slowest += runs.map(_._2).max
      if (t.nonEmpty) r.layers += runs.flatMap { case (q, sec, tq) => queryLayers(q, tq.get, sec, a.cores) }.toMap ++
        runtime(runs.flatMap(_._3.get.jobs), (gcMs() - gc0) / 1e3) ++
        Map("queries.pass_s" -> pass, "queries.max_query_s" -> runs.map(_._2).max)
      pass
    }
    r.extra("queries.max_query_s") = median(slowest.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val spark = session(a)
    val r = new Run(a, spark)
    try {
      a.workload match {
        case "dag_incremental" => dagIncremental(r)
        case "query_mix" => queryMix(r)
        case w => sys.error(s"unknown workload $w")
      }
      r.writeTrace()
      println(r.result())
    } finally spark.stop()
    if (!r.checks.ok) sys.exit(1)
  }
}
