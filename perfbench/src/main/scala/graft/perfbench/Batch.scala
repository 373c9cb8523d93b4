package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{Caching, Tables}

/** The two batch workloads: a closed loop with one client that runs the
  * workload's query keys pass after pass, in the seeded order of each pass
  * (`keys.txt`, one comma-separated pass per line; the first
  * `1 + WarmPasses` lines are set-up). A query's latency is the build of
  * its DataFrame plus a noop write of every row. */
object Batch {

  /** Untimed passes after the digest pass, while the JIT still speeds the
    * queries up. */
  val WarmPasses = 1

  /** Row count and an order-insensitive digest of a query's output: the sum
    * of a 64-bit hash of each row's JSON form. */
  def digest(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(to_json(struct(named.columns.map(col): _*)))
    val r = named.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def storageMb(c: Ctx): Double =
    c.spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

  def run(c: Ctx): Result = {
    val spark = c.spark
    val fx = c.args.fixture
    val t = c.tracer
    val passes = Stats.readLines(c.inputs("keys.txt")).map(_.split(",").toSeq)
    val all = SparkEntry.queries

    // Workload set-up, repeated so the harness can report its median:
    // resolve every key and read every fixture table's footer.
    val setupS = (1 to 3).map { _ =>
      Stats.timeS {
        passes.head.foreach(k => require(all.contains(k), s"unknown key $k"))
        Tables.names.foreach(n => Tables(spark, fx, n).schema)
      }._2
    }

    // Set-up: the first pass records each key's output row count and digest
    // for the output checks; the warm passes after it run the timed form.
    var failed = 0L
    val checks = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val (_, warmS) = Stats.timeS {
      passes.head.foreach { k =>
        checks(k) = try {
          val (n, d) = digest(all(k)(spark, fx))
          Map("rows" -> n, "digest" -> d)
        } catch { case scala.util.control.NonFatal(e) =>
          Map("error" -> String.valueOf(e.getMessage).take(300))
        }
        Caching.releaseAll(blocking = true)
      }
      passes.slice(1, 1 + WarmPasses).foreach(_.foreach { k =>
        try all(k)(spark, fx).write.format("noop").mode("overwrite").save()
        catch { case scala.util.control.NonFatal(_) => () }
        Caching.releaseAll(blocking = true)
      })
    }

    val stats = new SparkStats
    val lat = ArrayBuffer.empty[Double]
    var passLat = 0.0
    val perKey = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val untracedPass = ArrayBuffer.empty[Double]
    val tracedPass = ArrayBuffer.empty[Double]
    val buildWin = ArrayBuffer.empty[(Long, Long)]
    var buildS, execS, releaseS, cachedPeak = 0.0
    var released, attempted, queriesTraced = 0L

    def query(k: String, traced: Boolean): Unit = t.span("query", "bench",
        Map("key" -> k)) {
      attempted += 1
      spark.sparkContext.setJobGroup(k, s"perfbench:$k")
      try {
        val q0 = System.nanoTime(); val w0 = System.currentTimeMillis()
        val df = t.span("query.build", "operators")(all(k)(spark, fx))
        val q1 = System.nanoTime(); val w1 = System.currentTimeMillis()
        t.span("query.exec", "exec")(
          df.write.format("noop").mode("overwrite").save())
        val q2 = System.nanoTime()
        lat += (q2 - q0) / 1e9
        passLat += (q2 - q0) / 1e9
        perKey.getOrElseUpdate(k, ArrayBuffer.empty) += (q2 - q0) / 1e9
        if (traced) {
          buildS += (q1 - q0) / 1e9; execS += (q2 - q1) / 1e9
          buildWin += ((w0, w1 + 1))
          cachedPeak = math.max(cachedPeak, storageMb(c))
        }
      } catch { case scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $k failed: ${e.getMessage}")
      } finally spark.sparkContext.clearJobGroup()
      val (n, rs) = Stats.timeS(t.span("caching.release", "core.Caching")(
        Caching.releaseAll(blocking = true)))
      if (traced) { released += n; releaseS += rs; queriesTraced += 1 }
    }

    // Timed loop: whole passes only, so every pass's latencies cover the
    // same keys. Another pass starts while it is expected to end within
    // the run's seconds (+10%); there are always at least three, so that
    // each key's median has a middle sample. A traced run alternates
    // untraced, traced, traced, untraced passes (balanced against the
    // warm-up trend), at least four; the tracing overhead is the difference
    // of their medians.
    val gc0 = Stats.gcS()
    Stats.resetHeapPeak()
    val t0 = System.nanoTime()
    val budget = c.args.seconds * 1.1
    val minPasses = if (c.args.trace) 4 else 3
    val tracedWins = ArrayBuffer.empty[(Long, Long)]
    def elapsed = (System.nanoTime() - t0) / 1e9
    def done = untracedPass.size + tracedPass.size
    val passTimes = ArrayBuffer.empty[Double]
    def last = passTimes.lastOption.getOrElse(0.0)
    var p = 1 + WarmPasses
    while (p < passes.size && (done < minPasses || elapsed + last <= budget)) {
      val traced = c.args.trace && (done % 4 == 1 || done % 4 == 2)
      t.enabled = traced
      if (traced) spark.sparkContext.addSparkListener(stats)
      val w0 = System.currentTimeMillis()
      val ps = System.nanoTime()
      passLat = 0.0
      t.span("pass", "bench", Map("pass" -> p.toString)) {
        passes(p).foreach(k => query(k, traced))
      }
      // a pass's time is the sum of its query latencies (the cache release
      // between queries is not part of it)
      val dt = passLat
      passTimes += (System.nanoTime() - ps) / 1e9
      if (traced) {
        stats.settle()
        spark.sparkContext.removeSparkListener(stats)
        tracedWins += ((w0, System.currentTimeMillis()))
        tracedPass += dt
      } else untracedPass += dt
      p += 1
    }
    t.enabled = c.args.trace
    val wallS = (System.nanoTime() - t0) / 1e9
    val gcS = Stats.gcS() - gc0

    val keysPerPass = passes.head.size.toDouble
    val (tailV, tailP, tailN) = Stats.tail(lat.toSeq)
    // Medians, not minima: a key can run in two modes (q113_pack takes
    // ~1.1 s or ~1.8 s), and the fastest of a few samples jumps between
    // them from run to run.
    val e2e = Map(
      "pass_s" -> Stats.median(untracedPass.toSeq),
      "query_p50_s" -> Stats.median(lat.toSeq),
      // geometric mean over keys of each key's median latency
      "query_geomean_s" -> math.exp(perKey.values.map(v =>
        math.log(Stats.median(v.toSeq))).sum / perKey.size),
      "query_tail_s" -> tailV,
      "query_tail_pct" -> tailP,
      "query_samples" -> tailN,
      "queries_per_s" -> lat.size / lat.sum,
      "pass_times_s" -> passTimes.toSeq,
      "wall_s" -> wallS,
      "per_key_s" -> perKey.map { case (k, v) => k -> v.toSeq }.toMap)

    val layer: Map[String, Double] = if (!c.args.trace) Map.empty else {
      // per-pass figures: totals over the traced queries scaled to one pass
      val f = keysPerPass / math.max(queriesTraced, 1L)
      val tot = tracedWins.map { case (a, b) => stats.totals(a, b) }
        .reduce((x, y) => x.map { case (k, v) => k -> (v + y(k)) })
      val tracedWall = tracedWins.map { case (a, b) => b - a }.sum / 1e3
      val buildJobs = stats.jobs.values().asScala
        .count(j => buildWin.exists { case (a, b) => j.startMs >= a && j.startMs < b })
      val spans = t.all
      stats.emitSpans(t, spans.filter(s => s.name.startsWith("query.")))
      Map(
        "operators.build_s" -> buildS * f,
        "operators.build_jobs" -> buildJobs * f,
        "exec.noop_s" -> execS * f,
        "core.Caching.released" -> released * f,
        "core.Caching.release_s" -> releaseS * f,
        "core.Caching.cached_mb_peak" -> cachedPeak,
        "spark.executor_idle_frac" ->
          (1.0 - tot("task_run_s") / (tracedWall * c.cores)),
        "jvm.gc_s" -> gcS / done,
        "jvm.heap_used_mb_peak" -> Stats.heapPeakMb(),
        "trace.untraced_s" -> Stats.median(untracedPass.toSeq),
        "trace.overhead_s" -> (Stats.median(tracedPass.toSeq) -
          Stats.median(untracedPass.toSeq))) ++
        t.selfMetrics(queriesTraced / keysPerPass) ++
        Seq("jobs", "stages", "stages_skipped", "tasks", "task_run_s",
          "task_cpu_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
          "input_mb").map(k => s"spark.$k" -> tot(k) * f)
    }
    Result(attempted, failed, setupS, warmS, e2e, layer, checks.toMap)
  }
}
