package graft.queries

import graft.SparkSpec
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** A failing `inParallel` branch must cancel its running sibling's jobs
  * and surface its own exception. */
class InParallelSpec extends SparkSpec {

  test("a failing first branch cancels the sibling's running job and rethrows") {
    val sc = spark.sparkContext
    val before = sc.statusTracker.getActiveJobIds.toSet
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      PipelineQueries.inParallel(spark)({
        // fail only once the sibling's slow job is running
        eventually(timeout(30.seconds), interval(50.millis)) {
          assert((sc.statusTracker.getActiveJobIds.toSet -- before).nonEmpty)
        }
        throw new IllegalStateException("branch a failed")
      }, sc.parallelize(1 to 4, 4).map { i => Thread.sleep(120000); i }.collect())
    }
    assert(e.getMessage == "branch a failed")
    // returned long before the sibling's 120 s tasks could have finished
    assert((System.nanoTime() - t0) / 1e9 < 60)
    // the status store hears of the cancelled job through the listener bus;
    // its interrupted tasks free their cores rather than sleep on
    eventually(timeout(10.seconds), interval(50.millis)) {
      assert((sc.statusTracker.getActiveJobIds.toSet -- before).isEmpty)
      assert(sc.statusTracker.getExecutorInfos.map(_.numRunningTasks).sum == 0)
    }
  }
}
