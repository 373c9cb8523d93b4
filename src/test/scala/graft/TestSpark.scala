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

  /** Run `body` and count the Spark jobs it started on this thread: a
    * listener counts jobs tagged with a fresh local property, and an
    * in-order marker job after `body` flushes the listener bus, so
    * every job `body` submitted has been seen when the count is read. */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val ends = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.test.tag")))
          .foreach(t => if (t == tag) jobs.incrementAndGet() else ends.put(t))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.tag", tag)
      val out = try body
        finally sc.setLocalProperty("graft.test.tag", s"$tag:end")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.tag", null)
      while (Option(ends.poll(30, java.util.concurrent.TimeUnit.SECONDS))
          .getOrElse(throw new AssertionError(
            "marker job never reached the listener")) != s"$tag:end") ()
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
