package graft.core

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class MetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a tagged shuffle query: its jobs, one row per completed stage, " +
    "per-task records read summing to the records the map side wrote") {
    val df = spark.range(0, 1000, 1, 4).repartition(3, col("id"))
    val (rows, rep) = Metrics.of(spark)(df.collect())
    assert(rows.length === 1000)
    // AQE runs the map stage as its own job, then the result job
    assert(rep.jobs === 2)
    assert(rep.completed.map(_.tasks) === Seq(4, 3))
    assert(rep.stages === 2 && rep.tasks === 7)
    val Seq(map, reduce) = rep.completed
    assert(map.shuffleWrite > 0 && map.recordsRead.forall(_ == 0L))
    assert(reduce.shuffleRead === map.shuffleWrite)
    // the map side wrote one record per row
    assert(reduce.recordsRead.length === 3 &&
      reduce.recordsRead.sum === 1000L)
  }

  test("a job untagged, or on a thread that predates the tag, is not " +
    "counted; one on a thread the body starts is") {
    val sc = spark.sparkContext
    def job(): Unit = { sc.parallelize(1 to 10, 2).count(); () }
    val before = new Thread(() => job())
    val (_, rep) = Metrics.of(spark) {
      job()
      before.start(); before.join()
      val tag = sc.getLocalProperty(Metrics.TagKey)
      sc.setLocalProperty(Metrics.TagKey, null)
      try job() finally sc.setLocalProperty(Metrics.TagKey, tag)
      val child = new Thread(() => job())
      child.start(); child.join()
    }
    assert(rep.jobs === 2 && rep.stages === 2 && rep.tasks === 4)
    assert(rep.completed.map(_.tasks) === Seq(2, 2))
  }
}
