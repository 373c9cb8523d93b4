package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.score.Autoencoder
import graft.streaming.StreamPipeline

/** stream_score: an open loop. One generator thread sends seeded flow
  * events (FlowSchema JSON) into a MemoryStream on their schedule;
  * `StreamPipeline.run` parses, scores and routes them to two timing sinks.
  *
  * Inputs from the driver:
  *  - `events.tsv`: phase, scheduled offset (µs from stream start), JSON.
  *    The event's `timestamp` field is the scheduled send time, so a sink
  *    can time each event from when it was due;
  *  - `phases.tsv`: phase, nominal rate (events/s), start and end offset.
  *    `warm` is set-up; `rung*` and `nominal` are the rate ladder. The
  *    phase after `warm`, and any phase whose rate drops below the one
  *    before it, starts once the backlog has drained and the stream has
  *    idled for [[PauseMs]];
  *    `untracedA`/`untracedB` bracket `nominal` in a traced run; each
  *    `burst<i>` is a fixed batch sent at once, once the one before it has
  *    drained; the median of their drain times is the capacity and the
  *    scaling reference. */
object StreamScore {
  val Threshold = 0.5
  val LatencyLimitMs = 2000.0
  val NominalPhase = "nominal"
  val TickUs = 20000L
  val PauseMs = 1000L
  private val BaseUs = java.time.Instant.parse("2026-01-01T00:00:00Z").getEpochSecond * 1000000L

  def weights: Autoencoder.Weights = Autoencoder.seededWeights(Seq(4, 4, 2, 4, 4), seed = 1L)

  final case class Delivery(eventId: String, prediction: String, sink: String,
                            batchId: Long, offUs: Long, atUs: Long)

  /** Shared record of what the sinks received, relative to stream start. */
  final class Recorder extends Serializable {
    @volatile var startUs = 0L
    val delivered = new AtomicLong(0)
    val rows = new ConcurrentLinkedQueue[Delivery]()
    val writes = new ConcurrentLinkedQueue[(Long, Long, Long)]()
  }

  /** Bench-owned sink: collects the routed rows and stamps their arrival. */
  final class TimingSink(name: String, rec: Recorder) extends StreamPipeline.Sink {
    def write(df: DataFrame, batchId: Long): Unit = {
      val w0 = Tracer.nowUs()
      val got = df.select("event_id", "prediction", "timestamp").collect()
      val w1 = Tracer.nowUs()
      got.foreach { r =>
        val ts = java.time.Instant.parse(r.getString(2))
        val off = ts.getEpochSecond * 1000000L + ts.getNano / 1000 - BaseUs
        rec.rows.add(Delivery(r.getString(0), r.getString(1), name, batchId, off,
          w1 - rec.startUs))
      }
      rec.writes.add((batchId, w0, w1))
      rec.delivered.addAndGet(got.length)
    }
  }

  final case class Phase(name: String, rate: Double, startUs: Long, endUs: Long)

  def run(c: Ctx): Result = {
    val spark = c.spark
    val t = c.tracer
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    def load() = {
      val ev = Stats.readLines(c.inputs("events.tsv")).map { l =>
        val Array(ph, off, js) = l.split("\t", 3); (ph, off.toLong, js)
      }
      val ph = Stats.readLines(c.inputs("phases.tsv")).map { l =>
        val Array(n, r, s, e) = l.split("\t"); Phase(n, r.toDouble, s.toLong, e.toLong)
      }
      (ev, ph, weights)
    }
    val setupS = (1 to 3).map(_ => Stats.timeS(load())._2)
    val (events, phases, w) = load()
    val phaseOf = phases.map(p => p.name -> p).toMap

    val rec = new Recorder
    val progress = new ProgressLog
    val stats = new SparkStats
    // one source partition per core, as a topic with that many partitions
    // would give; by default MemoryStream makes one per addData call
    val stream = MemoryStream[String](c.cores)
    val q = StreamPipeline.run(stream.toDF().toDF("value"), w, Threshold,
      new TimingSink("normal", rec), new TimingSink("anomaly", rec),
      c.work("ckpt"))

    // Generator: every tick it sends the events whose scheduled offset has
    // passed, in one addData. Lag is how late a send ran.
    val lagUs = ArrayBuffer.empty[Long]
    val backlogAtEnd = scala.collection.mutable.Map.empty[String, Long]
    var backlogMax = 0L
    var sent = 0L
    // In a traced run the listeners are registered only during the traced
    // phases (the nominal rate and the ladder); `untracedA` and `untracedB`
    // at the nominal rate bracket the nominal phase for the overhead.
    def tracedPhase(p: Phase) = c.args.trace && (p.name == NominalPhase || p.name.startsWith("rung"))
    val windows = ArrayBuffer.empty[(Long, Long)]
    var winFromUs = 0L
    def setTraced(on: Boolean): Unit = if (on != t.enabled) {
      if (on) {
        winFromUs = Tracer.nowUs()
        spark.streams.addListener(progress)
        spark.sparkContext.addSparkListener(stats)
      } else {
        spark.streams.removeListener(progress)
        spark.sparkContext.removeSparkListener(stats)
        windows += ((winFromUs, Tracer.nowUs()))
      }
      t.enabled = on
    }
    t.enabled = false
    val gc0 = Stats.gcS()
    Stats.resetHeapPeak()
    rec.startUs = Tracer.nowUs() + 100000L
    var idx = 0
    val burstSentUs = scala.collection.mutable.Map.empty[String, Long]
    var warmS = 0.0
    // phases that start from a drained, idle stream: the first after the
    // warm-up and any whose rate drops below the phase before it
    val anchors = phases.sliding(2).collect {
      case Seq(a, b) if a.name == "warm" || b.rate < a.rate => b.name -> b.startUs
    }.toMap
    val anchored = scala.collection.mutable.Set.empty[String]
    val n = events.length
    val pending = phases.iterator.buffered
    while (idx < n) {
      val now = Tracer.nowUs() - rec.startUs
      while (pending.hasNext && pending.head.endUs <= now) {
        backlogAtEnd(pending.head.name) = sent - rec.delivered.get()
        pending.next()
      }
      setTraced(phases.exists(p => p.startUs <= now && now < p.endUs && tracedPhase(p)))
      val ph = events(idx)._1
      def isBurst(name: String) = name.startsWith("burst")
      val burst = isBurst(ph)
      var j = idx
      // a burst goes out alone, however late the loop runs
      while (j < n && events(j)._2 <= now &&
          (events(j)._1 == ph || !(burst || isBurst(events(j)._1)))) j += 1
      if (anchors.contains(ph) && !anchored(ph)) {
        // let the backlog drain and the stream go idle, then re-anchor the
        // schedule so that this phase starts now
        while (rec.delivered.get() < sent) Thread.sleep(5)
        Thread.sleep(PauseMs)
        val at = Tracer.nowUs()
        if (anchored.isEmpty) warmS = (at - rec.startUs) / 1e6
        rec.startUs = at - anchors(ph)
        anchored += ph
      } else if (j > idx) {
        if (burst) {
          // the burst goes out once everything before it has drained
          while (rec.delivered.get() < sent) Thread.sleep(5)
          burstSentUs(ph) = Tracer.nowUs() - rec.startUs
        } else lagUs += now - events(idx)._2
        stream.addData(events.slice(idx, j).map(_._3))
        sent += j - idx
        if (!burst) backlogMax = math.max(backlogMax, sent - rec.delivered.get())
        idx = j
        LockSupport.parkNanos(TickUs * 1000L)
      } else {
        LockSupport.parkNanos(math.min(events(idx)._2 - now, 2000L) * 1000L)
      }
    }
    val drainDeadline = System.nanoTime() + 60L * 1000000000L
    while (rec.delivered.get() < sent && System.nanoTime() < drainDeadline) Thread.sleep(5)
    val drained = rec.delivered.get() >= sent
    setTraced(false)
    t.enabled = c.args.trace
    q.stop()
    val gcS = Stats.gcS() - gc0
    pending.foreach(p => backlogAtEnd(p.name) = 0L)

    // Output checks: every event delivered exactly once, with the
    // prediction a static StreamPipeline.score run gives the same events.
    val got = rec.rows.asScala.toSeq
    val byId = got.groupBy(_.eventId)
    val ids = events.map(e => ujson(e._3, "event_id"))
    val missing = ids.count(id => !byId.contains(id))
    val dupes = byId.count(_._2.size > 1)
    val static = StreamPipeline.score(StreamPipeline.prepareFeatures(
        StreamPipeline.parse(events.map(_._3).toDF("value"))), w, Threshold)
      .select("event_id", "prediction").as[(String, String)].collect().toMap
    val wrong = got.count(d => !static.get(d.eventId).contains(d.prediction))
    val misrouted = got.count(d => d.sink != d.prediction)
    val nAnomaly = static.values.count(_ == "anomaly")

    def latMs(p: Phase): Seq[Double] =
      got.filter(d => d.offUs >= p.startUs && d.offUs < p.endUs)
        .map(d => (d.atUs - d.offUs) / 1000.0)
    val rungs = phases.filter(p => p.name.startsWith("rung") || p.name == NominalPhase)
    val ladder = rungs.map { p =>
      val l = latMs(p)
      val (tailV, tailP, tailN) = Stats.tail(l)
      val durS = (p.endUs - p.startUs) / 1e6
      val ok = tailV <= LatencyLimitMs &&
        backlogAtEnd.getOrElse(p.name, 0L) <= p.rate * LatencyLimitMs / 1000.0
      p.name -> Map("rate" -> p.rate, "events" -> l.size,
        "delivered_per_s" -> l.size / durS, "p50_ms" -> Stats.median(l),
        "tail_ms" -> tailV, "tail_pct" -> tailP, "samples" -> tailN,
        "backlog_at_end" -> backlogAtEnd.getOrElse(p.name, 0L), "ok" -> ok)
    }
    val sustained = ladder.collect {
      case (_, m) if m("ok") == true => m("delivered_per_s").asInstanceOf[Double]
    }.maxOption.getOrElse(0.0)
    // a scaling reference run has no ladder, only the warm phase and bursts
    val nominal = phaseOf.get(NominalPhase).map(latMs).getOrElse(Nil)
    val latency = if (nominal.isEmpty) Map.empty[String, Any] else {
      val (tailV, tailP, tailN) = Stats.tail(nominal)
      Map("event_latency_p50_ms" -> Stats.median(nominal),
        "event_latency_tail_ms" -> tailV,
        "event_latency_tail_pct" -> tailP,
        "event_latency_samples" -> tailN,
        "sustained_events_per_s" -> sustained,
        "nominal_rate" -> phaseOf(NominalPhase).rate,
        "latency_limit_ms" -> LatencyLimitMs,
        "ladder" -> ladder.toMap)
    }
    val drains = phases.filter(_.name.startsWith("burst")).map { p =>
      val b = got.filter(d => d.offUs >= p.startUs && d.offUs < p.endUs)
      // a burst with nothing delivered fails the checks; it reads 0 here
      (b.map(_.atUs).maxOption.getOrElse(burstSentUs(p.name)) - burstSentUs(p.name)) / 1e6
    }
    val e2e = latency ++ Map(
      "burst_drain_s" -> Stats.median(drains),
      "burst_drains_s" -> drains,
      "burst_events" -> phases.find(_.name.startsWith("burst")).map(_.rate.toLong).getOrElse(0L))

    val layer: Map[String, Double] = if (!c.args.trace) Map.empty else {
      stats.settle()
      def inWindow(us: Long) = windows.exists { case (a, b) => a <= us && us < b }
      val bs = progress.batches.filter(p => inWindow(progress.startUs(p)))
      def med(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
        if (bs.isEmpty) 0.0 else Stats.median(bs.map(f))
      val writesByBatch = rec.writes.asScala.toSeq.groupBy(_._1)
      val sinkMs = bs.map(p => writesByBatch.getOrElse(p.batchId, Nil)
        .map { case (_, a, b) => (b - a) / 1000.0 }.sum)
      val rowsPerBatch = med(_.numInputRows.toDouble)
      val k = math.max(rowsPerBatch.toInt, 100)
      val frame = events.take(k).map(_._3).toDF("value").cache()
      frame.count()
      val scoreMs = (1 to 5).map { _ =>
        Stats.timeS(StreamPipeline.score(StreamPipeline.prepareFeatures(
          StreamPipeline.parse(frame)), w, Threshold)
          .write.format("noop").mode("overwrite").save())._2 * 1000
      }
      frame.unpersist()
      val roots = windows.map { case (a, b) => (a, b, t.add("stream.window", "bench", 0L, a, b)) }
      val addBatch = progress.emitSpans(t, us =>
        roots.collectFirst { case (a, b, id) if a <= us && us < b => id })
      rec.writes.asScala.foreach { case (b, a, e) =>
        addBatch.get(b).foreach(pid => t.add("sink.write", "sink", pid, a, e))
      }
      stats.emitSpans(t, t.all.filter(s => s.name == "sink.write" || s.name == "stream.addBatch"))
      val untraced = Some(Seq("untracedA", "untracedB").flatMap(phaseOf.get)
        .flatMap(latMs)).filter(_.nonEmpty)
      val tot = windows.map { case (a, b) => stats.totals(a / 1000L, b / 1000L) }
        .reduceOption((x, y) => x.map { case (k2, v) => k2 -> (v + y(k2)) })
        .getOrElse(stats.totals(0L, 0L))
      Map(
        "streaming.batches" -> bs.size.toDouble,
        "streaming.rows_per_batch" -> rowsPerBatch,
        "streaming.trigger_ms" -> med(p => progress.dur(p, "triggerExecution")),
        "streaming.planning_ms" -> med(p => progress.dur(p, "queryPlanning")),
        "streaming.offset_ms" -> med(p => progress.dur(p, "latestOffset") +
          progress.dur(p, "getBatch")),
        "streaming.commit_ms" -> med(p => progress.dur(p, "walCommit") +
          progress.dur(p, "commitOffsets")),
        "streaming.add_batch_ms" -> med(p => progress.dur(p, "addBatch")),
        "sink.write_ms" -> (if (sinkMs.isEmpty) 0.0 else Stats.median(sinkMs)),
        "score.batch_ms_per_krow" -> Stats.median(scoreMs) * 1000.0 / k,
        "streaming.backlog_rows_max" -> backlogMax.toDouble,
        "bench.generator_lag_ms" -> lagUs.max / 1000.0,
        "spark.jobs_per_batch" -> tot("jobs") / math.max(bs.size, 1),
        "jvm.gc_s" -> gcS / math.max(progress.batches.size, 1),
        "jvm.heap_used_mb_peak" -> Stats.heapPeakMb(),
        "trace.untraced_s" -> untraced.map(Stats.median(_) / 1e3).getOrElse(0.0),
        "trace.overhead_s" -> untraced.map(u =>
          (Stats.median(nominal) - Stats.median(u)) / 1e3).getOrElse(0.0)) ++
        t.selfMetrics(math.max(bs.size, 1)) ++
        tot.map { case (k2, v) => s"spark.$k2" -> v / math.max(bs.size, 1) }
    }

    val failed = missing + dupes + wrong + misrouted
    Result(ids.size.toLong, failed.toLong, setupS, warmS, e2e, layer,
      Map("events" -> ids.size, "delivered" -> got.size, "missing" -> missing,
        "duplicated" -> dupes, "prediction_mismatch" -> wrong,
        "misrouted" -> misrouted, "anomalies" -> nAnomaly, "drained" -> drained))
  }

  /** The string value of a top-level field of a flat JSON object. */
  private def ujson(js: String, field: String): String = {
    val key = "\"" + field + "\":\""
    val i = js.indexOf(key) + key.length
    js.substring(i, js.indexOf('"', i))
  }
}
