package graft

/** The shared timing loop: true medians, scoped block release and
  * per-query failure counting. */
class HarnessSpec extends SparkSpec {

  test("median is the middle run for odd counts and the mean of the two middle for even") {
    assert(Harness.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Harness.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Harness.median(Seq(1.0, 9.0)) == 5.0)
    assert(Harness.median(Seq(7.0)) == 7.0)
  }

  test("a timed run drops the blocks it created and keeps a checkpoint made before it") {
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet.toSet
    val pre = persisted
    val kept = spark.range(100).toDF("id").localCheckpoint()
    val keptIds = persisted -- pre
    assert(keptIds.nonEmpty)
    var created = Set.empty[Int]
    val timed = Harness.time(spark, Seq("ckpt"), 2, "spec") { _ =>
      val before = persisted
      val df = spark.range(1000).toDF("id").localCheckpoint()
      created ++= persisted -- before
      df
    }
    assert(timed.failures.isEmpty && timed.runs.map(_._2.size) == Seq(2))
    assert(created.size == 2)
    assert(keptIds.subsetOf(persisted))
    assert((created & persisted).isEmpty)
    // the kept checkpoint's blocks are still readable
    assert(kept.count() == 100)
  }

  test("a query that throws is counted and does not stop the names after it") {
    val built = scala.collection.mutable.ArrayBuffer[String]()
    val timed = Harness.time(spark, Seq("bad", "good"), 3, "spec") { n =>
      built += n
      if (n == "bad") throw new IllegalStateException("planted failure")
      spark.range(10).toDF("id")
    }
    assert(timed.failures == Map("bad" -> 3))
    assert(built.count(_ == "good") == 3)
    assert(timed.medians.map(_._1) == Seq("bad", "good"))
  }
}
