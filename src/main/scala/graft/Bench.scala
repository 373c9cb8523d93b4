package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.Cli.opt
import graft.core.{Caching, Jsons, Metrics, Sessions}

/** Benchmark main: times every SparkEntry query at the given SF dir and
  * prints two JSON lines (the per-key line, then a compact summary).
  *
  * Options in [[cmd]]. `--stages` and `--plans` add stderr tables and
  * plan files; the stdout lines are the same in every mode, and a plain
  * run attaches no listener.
  *
  * Measurement hygiene:
  *  - one untimed warm-up action first, so JVM/codegen/classloading cost
  *    is not charged to whichever query happens to run first;
  *  - deterministic name-sorted iteration order;
  *  - failures are reported explicitly (negative sentinel + "errors" map)
  *    instead of being silently timed as if they ran.
  */
object Bench {
  /** Fixed single-thread CPU workload (xorshift64* over 2^28 steps),
    * timed as min-of-3. Emitted as "calib_s" so a round-over-round
    * bench delta can be split into HOST drift (calib moved too) vs
    * PLAN drift (calib steady, queries moved) — an r9→r10 run showed
    * every query, including ones untouched for rounds, uniformly
    * ~1.5× slower after a host reboot, which this makes measurable. */
  private def calibOnce(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L; var i = 0
    while (i < (1 << 28)) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    if (x == 0) println("") // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }

  private def calibrate(passes: Int = 3): Double =
    (1 to passes).map(_ => calibOnce()).min

  /** 1-minute system load average, or -1 when the platform cannot
    * report one. Sampled at run start AND end: the single-thread calib
    * under-signals multi-core co-tenant contention (the r13/r14
    * lesson — closing re-runs came back 1.5–3× inflated at loadavg
    * 3.4+ with calib still near-nominal), so the bench JSON carries
    * the direct signal a reader can reject a contended run on. */
  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** A key's accept band around its reference minimum: 1.5× plus a
    * 0.15 s floor (r14 measured ±40-50% scatter on sub-second keys). */
  private[graft] def band(ref: Double): Double = ref * 1.5 + 0.15

  /** One key's gate verdict from its in-suite `passes` (non-empty) and
    * its isolated re-run `(s, calib_s, loadavg)`, if any. Inside the
    * band it is `ok`. Above it, `contended` needs proof: an isolated
    * read inside the band on a clean host (`hostOk` on that re-run's
    * own calib and loadavg stamp). Without that proof the key is
    * `regressed` when the evidence excludes contention — a clean suite
    * run (`runClean`: calib within ±10% of the reference, loadavg below
    * cpus/8 at both ends) and tight passes (max/min < 1.4) — and
    * `unresolved` otherwise. An isolated read above the band is never
    * `contended`. */
  private[graft] def verdict(ref: Double, passes: Seq[Double],
                             isolated: Option[(Double, Double, Double)],
                             runClean: Boolean,
                             hostOk: (Double, Double) => Boolean): String = {
    val b = band(ref)
    if (passes.min <= b) "ok"
    else if (isolated.exists { case (s, c, l) => s <= b && hostOk(c, l) })
      "contended"
    else if (runClean && passes.max / passes.min < 1.4) "regressed"
    else "unresolved"
  }

  type Query = (SparkSession, String) => DataFrame

  /** Bench's options, checked by [[Cli.parse]] before a session starts. */
  private[graft] val cmd = Cli.Cmd("bench", "time every SparkEntry " +
    "query at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on " +
    "local[$SPARK_GRAFT_CPUS] (default 32) and print two JSON lines.", Seq(
    opt("only", "comma list of the query keys to time (default: all)"),
    opt("isolate", "comma list of keys to re-run isolated, beside the " +
      "automatic picks"),
    opt("stages:bool=false", "print each timed pass's per-stage table " +
      "to stderr"),
    opt("plans", "dir: write each selected key's formatted plan to " +
      "<dir>/<key>.txt")))

  // The harness Bench and Verify share: key selection, session, run.
  /** The SparkEntry queries named in `only` (all when None),
    * name-sorted; an unknown name fails naming the nearest key. */
  private[graft] def select(only: Option[Seq[String]]): Seq[(String, Query)] = {
    only.foreach(Cli.requireKnown("query key", _, SparkEntry.queries.keys))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
  }

  private[graft] def cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  private[graft] def session(): SparkSession = Sessions.local(cpus)

  /** Build `fn`'s DataFrame, hand it to `act`, then drop the operator
    * caches (LSH signatures, IVF index, ...) so one run's cached blocks
    * neither speed up nor crowd the next. The first line of the error,
    * if any. */
  private[graft] def runKey(spark: SparkSession, sfDir: String, fn: Query)
                           (act: DataFrame => Unit): Option[String] =
    try { act(fn(spark, sfDir)); None }
    catch { case e: Throwable =>
      Some(Option(e.getMessage).getOrElse(e.getClass.getName)
        .linesIterator.take(1).mkString.take(200))
    }
    finally Caching.releaseAll()

  /** One timed pass's stages, slowest first (at most 25). */
  private def stageTable(label: String, secs: Either[String, Double],
                         rep: Metrics.Report): String = {
    val head = s"== $label: " +
      s"${secs.fold(_ => "failed", s => f"wall=$s%.2f s")}, " +
      s"${rep.completed.length} stages"
    (head +: rep.completed.sortBy(-_.ms).take(25).map { r =>
      f"  stage ${r.id}%4d ${r.ms}%6d ms tasks=${r.tasks}%4d " +
        f"taskTime=${r.runMs}%7d ms shR=${r.shuffleRead}%9d " +
        f"shW=${r.shuffleWrite}%9d spill=${r.spill} in=${r.input}%9d  " +
        r.name.take(70)
    }).mkString("\n")
  }

  /** `args` checked against [[cmd]]: the options, the selected queries
    * and the `--isolate` keys. */
  private[graft] def parseArgs(args: Array[String])
      : (Cli.Opts, Seq[(String, Query)], Seq[String]) = {
    val o = Cli.parse(Seq(cmd), "bench", Main.parseOpts(args))
    val isolate = o.get("isolate").map(Cli.items).getOrElse(Nil)
    Cli.requireKnown("query key", isolate, SparkEntry.queries.keys)
    (o, select(o.get("only").map(Cli.items)), isolate)
  }

  def main(args: Array[String]): Unit = {
    val (o, selected, isolateAsked) =
      Cli.orExit(Cli.usage(cmd))(parseArgs(args))
    val stages = o.bool("stages")
    val plans = o.get("plans")
    plans.foreach(d => Files.createDirectories(Paths.get(d)))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val loadStart = loadAvg()
    val calib = calibrate()
    val spark = session()

    // Untimed warm-up: a scan + shuffle + codegen'd aggregate touching the
    // big fixture table, run twice so both the first-job and first-shuffle
    // paths are hot before any query is timed.
    try {
      SparkEntry.entry(spark).count()
      graft.core.Tables.lineitem(spark, sfDir)
        .groupBy("l_returnflag").count().count()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up failed: ${e.getMessage}")
    }

    // Full materialization, not count(): under a bare count aggregate
    // Catalyst prunes every unreferenced projection expression and
    // eliminates the final sort, so expression-heavy queries (md5
    // fingerprints, normalize regexes, chunk slicing) would be timed
    // as bare row-count scans. The noop sink consumes every row and
    // column the query produces. Under --plans the plan file is
    // written from the DataFrame as built, inside the timed window.
    def act(name: String)(df: DataFrame): Unit = {
      plans.foreach(d => Files.writeString(Paths.get(d, s"$name.txt"),
        df.queryExecution.explainString(FormattedMode)))
      df.write.format("noop").mode("overwrite").save()
    }
    // One timed pass: the seconds, or the error's first line.
    def pass(name: String, fn: Query, label: String): Either[String, Double] = {
      // settle OUTSIDE the timed window: collect the previous query's
      // garbage and let its cleanup (unpersist, shuffle file deletion)
      // drain, so one query's debris does not bill the next (r5→r7)
      System.gc()
      Thread.sleep(150)
      def timed(): Either[String, Double] = {
        val t0 = System.nanoTime()
        runKey(spark, sfDir, fn)(act(name))
          .toLeft((System.nanoTime() - t0) / 1e9)
      }
      if (!stages) timed()
      else {
        val (secs, rep) = Metrics.of(spark)(timed())
        System.err.println(stageTable(s"$name $label", secs, rep))
        secs
      }
    }

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = selected.map { case (name, fn) =>
      // stderr marker (NOT the stdout JSON contract): lets a reader
      // attribute interleaved Spark warnings (e.g. "Block already
      // exists" = a raced lazy cache) to the key that produced them
      System.err.println(s"[bench] ${java.time.Instant.now()} $name")
      def suitePass(p: Int): Option[Double] =
        pass(name, fn, s"pass $p").left.map(errors(name) = _).toOption
      // min of two passes: this box shows occasional multi-second
      // scheduler stalls that would otherwise charge a noise spike to
      // whichever query it lands on; the min is the steady-state cost
      var times = (1 to 2).flatMap(suitePass)
      // min-of-3 below 3 s: sub-second keys scatter ±40–50% run to run
      // (r14), and a third pass is cheap exactly where jitter dominates
      if (times.nonEmpty && times.min < 3.0) times ++= suitePass(3)
      // a transient pass-1 failure with a clean pass 2 is a timing, not
      // an error — only an all-passes failure reports as one
      if (times.nonEmpty) errors.remove(name)
      name -> times
    }
    // "queries" is the per-key MIN (the driver-compared value);
    // "queries_runs" carries every pass, and the loadavg pair lets a
    // host-contended run self-identify (SURVEY §16). The gate reads a
    // COMMITTED reference (bench_reference.json: {"calib_s": c,
    // "queries": {key: clean-run min}}) and says "ok | contended |
    // unresolved | regressed | new | error" per key ([[verdict]]).
    val reference: Option[(Double, Map[String, Double])] =
      try {
        val p = Paths.get("bench_reference.json")
        Option.when(Files.exists(p)) {
          val node = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(p.toFile)
          (node.get("calib_s").asDouble, node.get("queries").properties().asScala
            .map(e => e.getKey -> e.getValue.asDouble).toMap)
        }
      } catch { case e: Throwable =>
        System.err.println(
          s"[bench] bench_reference.json unreadable: ${e.getMessage}")
        None
      }
    val loadBound = cpus / 8.0
    // a clean host reading: calib within ±10% of the reference's and
    // loadavg below cpus/8
    def hostOk(c: Double, load: Double) = load <= loadBound &&
      reference.exists { case (refCalib, _) =>
        refCalib > 0 && math.abs(c - refCalib) / refCalib <= 0.10
      }
    // Isolated adjudication: an in-suite read can be 1.5–3× slow from
    // CONTENTION (q54: 2.65 s in-suite, 0.93 s isolated), so suspect
    // keys get a quiet re-run (long settle, min-of-2) in "isolated":
    // every key above its band, then keys whose passes DISPERSE
    // (max/min ≥ 1.4 at min ≥ 1 s), then the slowest keys, eight
    // auto-picks in all, plus the `--isolate` keys. loadavg_end
    // belongs to the SUITE window, so it is sampled first.
    val loadEnd = loadAvg()
    val aboveBand = reference.toSeq.flatMap { case (_, refMap) =>
      results.collect {
        case (k, v) if v.nonEmpty && !errors.contains(k) &&
          refMap.get(k).exists(ref => v.min > band(ref)) => k
      }
    }
    val dispersed = results.collect {
      case (k, v) if v.length >= 2 && v.min >= 1.0 &&
        v.max / v.min >= 1.4 => k -> v.min
    }.sortBy(-_._2).map(_._1)
    // UNIFORM contention never disperses (q54 read 2.65/2.25 in-suite
    // vs 0.93 isolated — both passes slow): fill the remaining slots
    // with the SLOWEST keys overall, no ceiling
    val uniformSuspects = results.collect {
      case (k, v) if v.nonEmpty && v.min >= 1.0 &&
        !dispersed.contains(k) => k -> v.min
    }.sortBy(-_._2).map(_._1)
    val autoIsolate = (dispersed ++ uniformSuspects).take(8)
    val toIsolate = (aboveBand ++ autoIsolate ++ isolateAsked).distinct
    // each isolated re-run carries its OWN calib + loadavg stamp: an
    // unstamped one can mislead high (r17: q89 7.53 s isolated at
    // residual load vs 2.29 in-suite) as an in-suite one misleads low
    val isolated: Seq[(String, (Double, Double, Double))] =
      toIsolate.flatMap { k =>
        System.gc()
        Thread.sleep(1500) // drain in-flight cleanup OUTSIDE the window
        val isoLoad = loadAvg()
        val isoCalib = calibrate(passes = 2)
        // isolated-local failure handling: a transient flake here must
        // NOT mark an in-suite-green key as errored in the main maps —
        // it just yields no isolated number
        val vs = (1 to 2).flatMap(p =>
          pass(k, SparkEntry.queries(k), s"isolated pass $p").toOption)
        if (vs.isEmpty) None else Some(k -> (vs.min, isoCalib, isoLoad))
      }

    val isoByKey = isolated.toMap
    val runClean = hostOk(calib, loadStart) && loadEnd <= loadBound
    val verdicts: Seq[(String, String)] = reference match {
      case None => Seq.empty
      case Some((_, refMap)) =>
        results.map { case (k, v) =>
          k -> (refMap.get(k) match {
            case None => "new"
            case _ if errors.contains(k) || v.isEmpty => "error"
            case Some(ref) => verdict(ref, v, isoByKey.get(k), runClean, hostOk)
          })
        }
    }

    // a JSON object from (key, already-encoded value) pairs
    def obj(kvs: Iterable[(String, Any)]): String = kvs
      .map { case (k, v) => s"${Jsons.str(k)}:$v" }.mkString("{", ",", "}")
    val qs = obj(results.map { case (k, v) =>
      k -> (if (errors.contains(k) || v.isEmpty) -1.0 else v.min) })
    val isoJson = obj(isolated.map { case (k, (s, c, l)) =>
      k -> s"""{"s":$s,"calib_s":$c,"loadavg":$l}""" })
    val runs = obj(results.collect { case (k, v) if !errors.contains(k) =>
      k -> v.mkString("[", ",", "]") })
    val errJson = obj(errors.map { case (k, v) => k -> Jsons.str(v) })
    val verdictJson = obj(verdicts.map { case (k, v) => k -> Jsons.str(v) })
    val total = results.collect {
      case (k, v) if !errors.contains(k) && v.nonEmpty => v.min
    }.sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","calib_s":$calib,""" +
        s""""loadavg_start":$loadStart,"loadavg_end":$loadEnd,""" +
        s""""queries":$qs,"queries_runs":$runs,"isolated":$isoJson,""" +
        s""""verdicts":$verdictJson,""" +
        s""""errors":$errJson,"sf":"$sfDir"}"""
    println(line)
    // COMPACT summary, printed LAST: small enough that a truncated
    // stdout tail still holds it whole when the per-key line is cut.
    val nReg = verdicts.count(_._2 == "regressed")
    val nCon = verdicts.count(_._2 == "contended")
    val nUnres = verdicts.count(_._2 == "unresolved")
    val top5 = obj(results.collect {
      case (k, v) if !errors.contains(k) && v.nonEmpty => k -> v.min
    }.sortBy(-_._2).take(5))
    val summary =
      s"""{"metric":"graft_bench_summary","n_keys":${results.length},""" +
        s""""total_s":$total,"calib_s":$calib,""" +
        s""""loadavg_start":$loadStart,"loadavg_end":$loadEnd,""" +
        s""""n_errors":${errors.size},"n_isolated":${isolated.length},""" +
        s""""n_regressed":$nReg,"n_contended":$nCon,""" +
        s""""n_unresolved":$nUnres,""" +
        s""""has_reference":${reference.isDefined},""" +
        s""""top5":$top5,"sf":"$sfDir"}"""
    println(summary)
    // Best-effort audit copies no stdout tail can truncate, one JSON
    // object per file; the stdout lines stay the contract.
    try {
      Files.createDirectories(Paths.get("target"))
      Files.writeString(Paths.get("target", "bench_last.json"), line + "\n")
      Files.writeString(Paths.get("target", "bench_summary.json"),
        summary + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bench_last.json write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
