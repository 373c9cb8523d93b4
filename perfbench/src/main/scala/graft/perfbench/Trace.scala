package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. Times are epoch microseconds so
  * that spans recorded by the harness and times reported by Spark's
  * listener bus (epoch milliseconds) share one clock. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      startUs: Long, endUs: Long, run: String,
                      attrs: Map[String, String] = Map.empty) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder. When disabled, `span` only runs its body, so
  * the untraced run pays one branch per boundary. */
final class Tracer(@volatile var enabled: Boolean, val run: String) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def nowUs(): Long = Tracer.nowUs()

  def current: Long = stack.get().headOption.getOrElse(0L)

  def span[T](name: String, layer: String,
              attrs: Map[String, String] = Map.empty)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = current
      val t0 = nowUs()
      stack.set(id :: stack.get())
      try f
      finally {
        stack.set(stack.get().tail)
        spans.add(Span(id, parent, name, layer, t0, nowUs(), run, attrs))
      }
    }

  /** Record a span whose interval was measured elsewhere. */
  def add(name: String, layer: String, parent: Long, startUs: Long,
          endUs: Long, attrs: Map[String, String] = Map.empty): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, name, layer, startUs, endUs, run, attrs))
      id
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startUs, s.id))

  /** Self time per layer along the blocking path: every instant covered by
    * a root span (one without a parent) is charged to the deepest span
    * covering it, so overlapping siblings (parallel stages) are not counted
    * twice and the self times add up to the roots' wall time. */
  def selfTimesS: Map[String, Double] = {
    val ss = all
    val byId = ss.map(s => s.id -> s).toMap
    val depth = scala.collection.mutable.Map.empty[Long, Int]
    def d(s: Span): Int = depth.getOrElseUpdate(s.id,
      byId.get(s.parent).map(d(_) + 1).getOrElse(0))
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val bounds = ss.flatMap(s => Seq(s.startUs, s.endUs)).distinct.sorted
    bounds.zip(bounds.drop(1)).foreach { case (a, b) =>
      val cover = ss.filter(s => s.startUs <= a && s.endUs >= b)
      if (cover.exists(_.parent == 0L)) {
        val top = cover.maxBy(s => (d(s), s.startUs))
        out(top.layer) += (b - a) / 1e6
      }
    }
    out.toMap
  }

  /** Self times as per-layer metrics (`self.<layer>_s`), each divided by
    * `per` (passes or batches), plus their sum as `trace.blocking_s`. */
  def selfMetrics(per: Double): Map[String, Double] = {
    val st = selfTimesS.map { case (l, v) => s"self.${l}_s" -> v / per }
    st + ("trace.blocking_s" -> st.values.sum)
  }

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_us" -> s.startUs,
        "end_us" -> s.endUs, "run" -> s.run, "attrs" -> s.attrs)))
    } finally w.close()
  }
}

object Tracer {
  private val wall0Us = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  /** Monotonic epoch microseconds (wall clock anchored once at start). */
  def nowUs(): Long = wall0Us + (System.nanoTime() - nano0) / 1000L
}

final case class Job(id: Int, startMs: Long, group: String,
                     stageIds: Seq[Int], var endMs: Long = -1L)
final case class Stage(id: Int, numTasks: Int, submitMs: Long, doneMs: Long)

/** Spark listener registered by the benchmark. It keeps the job, stage and
  * task facts that the per-layer metrics aggregate. Jobs are attributed to
  * a benchmark phase by their submission time, which also covers jobs
  * submitted from pooled threads that carry no job group; the group is
  * kept on the job's span. */
final class SparkStats extends SparkListener {
  final class TaskAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var shRead = 0L
    var shWrite = 0L; var spill = 0L; var input = 0L
  }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val taskAgg = new java.util.concurrent.ConcurrentHashMap[Int, TaskAgg]()
  private val submitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, e.time, g, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    submitted.add(e.stageInfo.stageId)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(Stage(i.stageId, i.numTasks, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = taskAgg.computeIfAbsent(e.stageId, _ => new TaskAgg)
      a.synchronized {
        a.tasks += 1; a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
        a.shRead += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
      }
    }
  }

  /** Wait until every started job has ended on the (asynchronous) bus. */
  def settle(timeoutMs: Long = 5000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    Thread.sleep(100)
    while (jobs.values.asScala.exists(_.endMs < 0) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  /** Totals over the jobs whose submission falls in [fromMs, toMs). */
  def totals(fromMs: Long, toMs: Long): Map[String, Double] = {
    val js = jobs.values.asScala.filter(j => j.startMs >= fromMs && j.startMs < toMs)
    val stageIds = js.flatMap(_.stageIds).toSet
    val ran = stages.asScala.filter(s => stageIds(s.id))
    val aggs = stageIds.toSeq.flatMap(id => Option(taskAgg.get(id)))
    def sumA(f: TaskAgg => Long): Double = aggs.map(f).sum.toDouble
    Map(
      "jobs" -> js.size.toDouble,
      "stages" -> ran.size.toDouble,
      "stages_skipped" -> stageIds.count(id => !submitted.contains(id)).toDouble,
      "tasks" -> sumA(_.tasks),
      "task_run_s" -> sumA(_.runMs) / 1e3,
      "task_cpu_s" -> sumA(_.cpuNs) / 1e9,
      "shuffle_read_mb" -> sumA(_.shRead) / 1048576.0,
      "shuffle_write_mb" -> sumA(_.shWrite) / 1048576.0,
      "spill_mb" -> sumA(_.spill) / 1048576.0,
      "input_mb" -> sumA(_.input) / 1048576.0)
  }

  /** Job and stage spans, each parented to the innermost harness span
    * that contains the job's submission time. */
  def emitSpans(t: Tracer, parents: Seq[Span]): Unit = if (t.enabled) {
    val byStage = stages.asScala.groupBy(_.id)
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      val sUs = j.startMs * 1000L
      val eUs = math.max(j.endMs, j.startMs) * 1000L
      parents.filter(p => p.startUs <= sUs && sUs < p.endUs)
        .sortBy(_.durUs).headOption.foreach { parent =>
          val jid = t.add("spark.job", "spark", parent.id,
            sUs, eUs, Map("job" -> j.id.toString, "group" -> j.group))
          j.stageIds.flatMap(byStage.getOrElse(_, Nil)).foreach { s =>
            t.add("spark.stage", "spark.stage", jid, s.submitMs * 1000L,
              s.doneMs * 1000L, Map("stage" -> s.id.toString,
                "tasks" -> s.numTasks.toString))
          }
        }
    }
  }
}

/** Structured Streaming progress, read through the public listener API. */
final class ProgressLog extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Batches that read input, in batch order. */
  def batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    progress.asScala.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)

  def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress,
          k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  def startUs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L

  /** Batch spans with one child per durationMs phase, laid out in the
    * order micro-batch execution runs them, under the parent that
    * `parentOf` picks for the batch's start (batches without one are
    * skipped). Returns batch id → its addBatch span. */
  def emitSpans(t: Tracer, parentOf: Long => Option[Long]): Map[Long, Long] = {
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
      "addBatch", "commitOffsets")
    batches.flatMap { p =>
      val s0 = startUs(p)
      parentOf(s0).map { parent =>
        val bid = t.add("stream.batch", "streaming", parent, s0,
          s0 + (dur(p, "triggerExecution") * 1000).toLong,
          Map("batch" -> p.batchId.toString, "rows" -> p.numInputRows.toString))
        var at = s0
        var addBatch = bid
        order.foreach { k =>
          val d = (dur(p, k) * 1000).toLong
          if (d > 0) {
            val id = t.add(s"stream.$k", if (k == "addBatch") "streaming.addBatch"
              else "streaming", bid, at, at + d)
            if (k == "addBatch") addBatch = id
            at += d
          }
        }
        p.batchId -> addBatch
      }
    }.toMap
  }
}
