package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** What every main shares: the local session, the timed noop-sink loop
  * ([[Bench]], [[ProtocolBench]], [[Profile]]) and the OK/FAIL reporter
  * of the gate mains ([[Invariants]], [[BloomRehearsal]]). */
object Harness {

  /** `local[cpus]` with one shuffle partition per core, UTC, no UI; cpus
    * is `SPARK_GRAFT_CPUS`, else every available processor. */
  def session(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // localCheckpoint blocks (the queries' shared-scan seams) are only
      // dropped by the ContextCleaner after their DataFrames are GC'd; the
      // 30-minute default periodicGC lets a long sweep pile blocks up until
      // eviction + GC thrash distorts every later query
      .config("spark.cleaner.periodicGC.interval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** JVM/codegen warm-up on the tiny flagship, so the first timed query
    * isn't charged for classloading and whole-stage-codegen compilation. */
  def warmUp(spark: SparkSession): Unit =
    try noop(SparkEntry.entry(spark))
    catch { case NonFatal(e) => System.err.println(s"[harness] warm-up failed: $e") }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Each timed name's run seconds, in run order, and its failed-run count
    * (names that never failed are absent). */
  final case class Timings(runs: Seq[(String, Seq[Double])], failures: Map[String, Int]) {
    def medians: Seq[(String, Double)] = runs.map { case (n, ts) => n -> median(ts) }
  }

  /** The true median: the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Builds and runs each of `names` `runs` times through the noop sink,
    * timing build + execution: the sink evaluates every row of every
    * column, where a bare `count()` would let Catalyst drop final sorts and
    * projections. A run that throws non-fatally is counted in
    * [[Timings.failures]] (a crash returns fast, so its time must never read
    * as a speed-up) and the sweep goes on; a fatal error (OOM, stack
    * overflow) propagates and ends it. */
  def time(spark: SparkSession, names: Seq[String], runs: Int, label: String)
          (build: String => DataFrame): Timings = {
    val failures = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val times = names.map { name =>
      name -> (1 to runs).map { _ =>
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val t0 = System.nanoTime()
        try noop(build(name))
        catch { case NonFatal(e) =>
          failures(name) += 1
          System.err.println(s"[$label] $name failed: ${e.getMessage}")
        }
        val sec = (System.nanoTime() - t0) / 1e9
        release(spark, before)
        sec
      }
    }
    Timings(times, failures.toMap)
  }

  /** Drops what a run left behind: the session's Dataset caches (no query
    * caches across queries) and the run's blocks. A localCheckpoint block
    * is only freed once GC collects its DataFrame and the async
    * ContextCleaner drains its queue, so early checkpoint-heavy queries
    * would pile blocks onto later ones; checkpointed RDDs register as
    * persistent, so a blocking unpersist frees them now. Only RDDs not in
    * `before` go: a block that state built before the run still references
    * is unrecoverable once unpersisted. */
  private def release(spark: SparkSession, before: collection.Set[Int]): Unit = {
    spark.sqlContext.clearCache()
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before.contains(id) }
      .values.foreach(_.unpersist(blocking = true))
    System.gc() // lets the ContextCleaner reap what the run dropped
  }

  /** `{"k":v,...}` with each value written as is. */
  def json(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** Writes `line` to `path`, reporting (not throwing) an I/O failure. */
  def persist(path: String, line: String): Unit =
    try {
      val out = java.nio.file.Paths.get(path)
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, line + "\n")
    } catch { case NonFatal(e) => System.err.println(s"[harness] could not write $path: $e") }

  /** One OK/FAIL line per property; a check that throws fails. [[finish]]
    * prints the verdict and exits 1 if any check failed. */
  final class Checks {
    private var failed = 0

    def check(name: String)(cond: => Boolean): Unit = {
      val ok = try cond catch { case NonFatal(e) =>
        System.err.println(s"  [$name] threw: ${e.getMessage}"); false }
      println(f"  $name%-58s ${if (ok) "OK" else "FAIL"}")
      if (!ok) failed += 1
    }

    def finish(spark: SparkSession, where: String): Unit = {
      println(s"${if (failed == 0) "PASS" else "FAIL"} ($failed failures) at $where")
      spark.stop()
      if (failed > 0) sys.exit(1)
    }
  }
}
