package graft.perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one workload hands back to [[Main]]: counts, the per-workload
  * end-to-end figures, the per-layer figures of a traced run, and the raw
  * facts the output checks compare. */
final case class Result(
    attempted: Long,
    failed: Long,
    workloadSetupS: Seq[Double],
    warmS: Double,
    e2e: Map[String, Any],
    layer: Map[String, Double],
    checks: Map[String, Any])

/** Everything a workload needs: the session, its arguments and the tracer. */
final case class Ctx(spark: SparkSession, args: Main.Args, tracer: Tracer) {
  def inputs(name: String): String = s"${args.inputs}/$name"
  def work(name: String): String = s"${args.work}/$name"
  def cores: Int = args.cores
}

/** Harness entry point. The Python driver (`perfbench/run.py`) generates the
  * seeded inputs, starts this JVM once per measured configuration and turns
  * the result file into the benchmark's metrics.
  *
  * {{{
  * graft.perfbench.Main --workload <name> --inputs <dir> --fixture <dir>
  *   --work <dir> --seconds <s> --trace <0|1> --cores <n>
  *   --out <result.json>
  * }}}
  */
object Main {
  final case class Args(workload: String, inputs: String, fixture: String,
                        work: String, seconds: Double, trace: Boolean,
                        cores: Int, out: String)

  private def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, s"arguments come in --flag value pairs: ${argv.mkString(" ")}")
    val m = argv.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"unknown argument $k"); k.drop(2) -> v
    }.toMap
    val known = Set("workload", "inputs", "fixture", "work", "seconds", "trace",
      "cores", "out")
    require(m.keySet.subsetOf(known), s"unknown flags: ${(m.keySet -- known).mkString(",")}")
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(req("workload"), req("inputs"), req("fixture"), req("work"),
      req("seconds").toDouble, req("trace") == "1", req("cores").toInt, req("out"))
  }

  /** Single-thread CPU calibration: the xorshift64* loop graft.Bench emits
    * as `calib_s`, so a host's speed can be compared with Bench artifacts. */
  private def calib(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L; var i = 0
    while (i < (1 << 28)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 0) println("")
    (System.nanoTime() - t0) / 1e9
  }

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Peak resident set of this JVM, from /proc (0 where unavailable). */
  private def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: java.io.IOException => 0.0 }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val loadStart = loadAvg()
    val calibS = calib()
    val spark = graft.core.Sessions.builder(s"local[${a.cores}]", a.cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val readyMs = System.currentTimeMillis()
    val tracer = new Tracer(a.trace, s"${a.workload}-${ProcessHandle.current().pid()}")
    val ctx = Ctx(spark, a, tracer)
    val res = a.workload match {
      case "batch_relational" | "batch_dedup" => Batch.run(ctx)
      case "stream_score" => StreamScore.run(ctx)
      case "stream_ingest" => StreamIngest.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (a.trace) tracer.writeJsonl(s"${a.work}/spans.jsonl")
    val host = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cores" -> a.cores,
      "loadavg_start" -> loadStart,
      "loadavg_end" -> loadAvg(),
      "Bench.calib_s" -> calibS,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq)
    val out = Json.obj(Seq(
      "host" -> host,
      "session_ready_ms" -> readyMs,
      "calib_s" -> calibS,
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "workload_setup_s" -> res.workloadSetupS,
      "warm_s" -> res.warmS,
      "peak_rss_mb" -> peakRssMb(),
      "e2e" -> res.e2e,
      "layer" -> res.layer,
      "checks" -> res.checks))
    val w = new java.io.PrintWriter(a.out, "UTF-8")
    try w.println(out) finally w.close()
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile that has at least ten samples beyond it:
    * (value, percentile, sample count). With ten samples or fewer there is
    * no such percentile and the maximum is returned as the 100th. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n > 10) (s(n - 11), 100.0 * (n - 10) / n, n) else (s.last, 100.0, n)
  }

  def timeS[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** JVM-wide garbage collection time so far, in seconds. */
  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def readLines(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().toVector finally src.close()
  }
}
