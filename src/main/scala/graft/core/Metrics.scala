package graft.core

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** What a piece of driver code cost Spark, counted by the one listener
  * in the library: the jobs, stages and tasks started under a
  * local-property tag, and one row per completed stage.
  *
  * No sleep bounds the count. The listener bus delivers events in the
  * order they were posted, so once a marker job submitted from the
  * calling thread has reached the listener, so has every event posted
  * before it: one marker before `body` and one after bound exactly its
  * jobs, stages and tasks.
  */
object Metrics {

  /** The local property [[of]] tags the caller's jobs with. */
  val TagKey = "graft.metrics.tag"
  private val MarkerKey = "graft.metrics.marker"

  /** One completed stage: wall ms from submission to completion, task
    * count, summed executor run time, shuffle read/write bytes, spill
    * and input bytes, and the shuffle records each finished task read. */
  final case class Stage(id: Int, name: String, ms: Long, tasks: Int,
                         runMs: Long, shuffleRead: Long,
                         shuffleWrite: Long, spill: Long, input: Long,
                         recordsRead: Seq[Long])

  /** The jobs, stages and tasks started under one tag, and its
    * completed stages in completion order. */
  final case class Report(jobs: Int, stages: Int, tasks: Int,
                          completed: Seq[Stage])

  /** Run `body` under a fresh tag on this thread and report what it
    * started. Jobs `body` starts on threads it creates inherit the tag;
    * jobs on threads that already existed are not counted. */
  def of[T](spark: SparkSession)(body: => T): (T, Report) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    matching(spark, TagKey, tag) {
      sc.setLocalProperty(TagKey, tag)
      try body finally sc.setLocalProperty(TagKey, null)
    }
  }

  /** Run `body` and report the jobs started meanwhile whose local
    * property `key` equals `value`, on any thread: a streaming query's
    * micro-batches carry `sql.streaming.queryId`. */
  def matching[T](spark: SparkSession, key: String, value: String)
                 (body: => T): (T, Report) = {
    val sc = spark.sparkContext
    val l = new Listener(key, value)
    sc.addSparkListener(l)
    try {
      l.settle(sc)
      val out = body
      l.settle(sc)
      (out, l.report)
    } finally sc.removeSparkListener(l)
  }

  /** Counts the tagged events between its own two markers. Every field
    * is touched only on the listener bus's thread until [[settle]] has
    * seen the closing marker, whose queue hand-off publishes them. */
  private final class Listener(key: String, value: String)
      extends SparkListener {
    private val id = java.util.UUID.randomUUID().toString
    private val markers = new LinkedBlockingQueue[String]()
    private var recording = false
    private var jobs = 0
    private var tasks = 0
    // stage id -> shuffle records read by each finished task
    private val stages = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
    private val completed = mutable.ArrayBuffer.empty[Stage]

    private def tagged(p: java.util.Properties): Boolean =
      recording && p != null && p.getProperty(key) == value

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(MarkerKey)))
        .filter(_.startsWith(id)) match {
        case Some(m) => recording = !recording; markers.put(m)
        case None => if (tagged(e.properties)) jobs += 1
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (tagged(e.properties))
        stages.getOrElseUpdate(e.stageInfo.stageId, mutable.ArrayBuffer.empty)

    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      if (stages.contains(e.stageId)) tasks += 1

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stages.get(e.stageId).zip(Option(e.taskMetrics)).foreach {
        case (recs, m) => recs += m.shuffleReadMetrics.recordsRead
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stages.get(si.stageId).foreach { recs =>
        val m = si.taskMetrics
        completed += Stage(si.stageId, si.name.linesIterator.next(),
          (for (s <- si.submissionTime; c <- si.completionTime)
            yield c - s).getOrElse(-1L),
          si.numTasks, m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled,
          m.inputMetrics.bytesRead, recs.toSeq)
      }
    }

    /** Submit a marker job from this thread and wait until the listener
      * has seen it: every event posted before it has been delivered. */
    def settle(sc: SparkContext): Unit = {
      val tag = s"$id:${java.util.UUID.randomUUID()}"
      sc.setLocalProperty(MarkerKey, tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      if (markers.poll(30, TimeUnit.SECONDS) != tag)
        throw new IllegalStateException("marker job never reached the listener")
    }

    def report: Report = Report(jobs, stages.size, tasks, completed.toSeq)
  }
}
