package perfbench

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One wall-clock span: what ran, when, under which span, in which op. */
final case class Span(name: String, startMs: Long, endMs: Long, parent: String, op: Int)

/** Totals of one Spark job, filled from task-end events. `tag` is the model
  * (DAG) or query that submitted it. */
final class JobRec(val id: Int, val tag: String, val startMs: Long) {
  var endMs: Long = startMs
  var runMs, cpuNs, shuffleBytes, spillBytes, peakMem, schedDelayMs, recordsWritten = 0L
  val taskMsByStage: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map()
}

/** What the tracer saw during one traced operation. */
final case class OpTrace(jobs: Seq[JobRec], sourceRows: Long, sourceBytes: Long,
                         rowsOut: Map[String, Long])

/** The benchmark's tracer: a SparkListener for job and task totals plus a
  * QueryExecutionListener for source-scan row counts and the `rows_out`
  * observations that wrapped models attach to their output. It is attached
  * only around traced operations, so untraced ones pay nothing. */
final class Tracer(spark: SparkSession, sourcesDir: String)
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val sc = spark.sparkContext
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private var sourceRows, sourceBytes = 0L
  private val rowsOut = mutable.Map[String, Long]()
  private val spanBuf = mutable.ArrayBuffer[Span]()
  /** The query being timed; jobs of a query are tagged by time window, since
    * threads a query spawns may carry a stale job group. */
  @volatile var currentQuery: String = _

  def span(s: Span): Unit = spanBuf.synchronized(spanBuf += s)
  def spans: Seq[Span] = spanBuf.synchronized(spanBuf.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val tag = Option(currentQuery).getOrElse(Option(group).getOrElse("-"))
    jobs(e.jobId) = new JobRec(e.jobId, tag, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid) if m != null) {
      val info = e.taskInfo
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
      j.recordsWritten += m.outputMetrics.recordsWritten
      j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      j.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        .filter(_.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(sourcesDir)))
        .foreach { s =>
          sourceRows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          sourceBytes += s.metrics.get("filesSize").map(_.value).getOrElse(0L)
        }
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith("rows_out|"))
          rowsOut(name.split('|')(1)) = rowsOut.getOrElse(name.split('|')(1), 0L) + row.getLong(0)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Starts a traced operation: earlier events are flushed and forgotten. */
  def begin(): Unit = {
    BenchBus.drain(sc)
    synchronized {
      jobs.clear(); stageJob.clear(); rowsOut.clear(); sourceRows = 0; sourceBytes = 0
    }
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Ends a traced operation once every event it caused has arrived. */
  def end(): OpTrace = {
    BenchBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    synchronized(OpTrace(jobs.values.toList, sourceRows, sourceBytes, rowsOut.toMap))
  }
}
