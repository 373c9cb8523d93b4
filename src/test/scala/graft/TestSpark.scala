package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.sql.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` and count the Spark jobs it started on this thread
    * (jobs tagged with a fresh local property). */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    countJobs("graft.test.tag", tag) {
      sc.setLocalProperty("graft.test.tag", tag)
      try body finally sc.setLocalProperty("graft.test.tag", null)
    }
  }

  /** Run `body` (typically `addData` + `processAllAvailable`) and count
    * the Spark jobs streaming query `q` started meanwhile: the jobs its
    * micro-batch thread tags with `sql.streaming.queryId`. */
  def streamJobsOf(q: org.apache.spark.sql.streaming.StreamingQuery)
                  (body: => Unit): Int =
    countJobs("sql.streaming.queryId", q.id.toString)(body)._2

  /** Count the jobs started while `body` runs whose local property `key`
    * equals `value`. The listener bus delivers in order, so once a marker
    * job submitted from this thread has been seen, so has every job
    * submitted before it: one marker before `body` and one after bound
    * exactly its jobs. */
  private def countJobs[T](key: String, value: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val markers = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty(key) == value) jobs.incrementAndGet()
          Option(p.getProperty("graft.test.marker")).foreach(markers.put)
        }
    }
    def settle(): Unit = {
      val tag = java.util.UUID.randomUUID().toString
      sc.setLocalProperty("graft.test.marker", tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      while (Option(markers.poll(30, java.util.concurrent.TimeUnit.SECONDS))
          .getOrElse(throw new AssertionError(
            "marker job never reached the listener")) != tag) ()
    }
    sc.addSparkListener(listener)
    try {
      settle()
      val from = jobs.get
      val out = body
      settle()
      (out, jobs.get - from)
    } finally sc.removeSparkListener(listener)
  }
}
