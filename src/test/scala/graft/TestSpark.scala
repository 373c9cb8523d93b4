package graft

import org.apache.spark.sql.SparkSession

import graft.core.{Metrics, Sessions}

/** One shared local SparkSession for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.builder("local[4]", 4)
    .appName("graft-test")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` and count the Spark jobs it started on this thread. */
  def jobsOf[T](body: => T): (T, Int) = {
    val (out, rep) = Metrics.of(spark)(body)
    (out, rep.jobs)
  }

  /** Run `body` (typically `addData` + `processAllAvailable`) and count
    * the Spark jobs streaming query `q` started meanwhile: the jobs its
    * micro-batch thread tags with `sql.streaming.queryId`. */
  def streamJobsOf(q: org.apache.spark.sql.streaming.StreamingQuery)
                  (body: => Unit): Int =
    Metrics.matching(spark, "sql.streaming.queryId", q.id.toString)(body)
      ._2.jobs
}
