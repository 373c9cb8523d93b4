package graft


/** Benchmark main: times every SparkEntry query at the given SF dir and
  * prints one JSON line for the driver.
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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val loadStart = loadAvg()
    val calib = calibrate()
    val spark = graft.core.Sessions.local(cpus.toInt)

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

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Full materialization, not count(): under a bare count aggregate
    // Catalyst prunes every unreferenced projection expression and
    // eliminates the final sort, so expression-heavy queries (md5
    // fingerprints, normalize regexes, chunk slicing) would be timed
    // as bare row-count scans. The noop sink consumes every row and
    // column the query produces.
    def runFully(name: String,
                 fn: (org.apache.spark.sql.SparkSession, String)
                   => org.apache.spark.sql.DataFrame): Boolean =
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        true
      } catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(1).mkString.take(200)
        false
      }
    // Optional comma-separated EXACT-name filter for local iteration
    // (SPARK_GRAFT_ONLY=q62_dedup_clusters,q15_quantiles or
    // `runMain graft.Bench --only q62,...`); unset = the full
    // driver-run suite. Exact match, not prefix — "q6" must select
    // nothing rather than q60–q69.
    val argOpts = args.grouped(2)
      .collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def csv(s: String): Set[String] =
      s.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .orElse(argOpts.get("only")).map(csv)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.contains(n))
    }
    val results = selected.map { case (name, fn) =>
      // stderr marker (NOT the stdout JSON contract): lets a reader
      // attribute interleaved Spark warnings (e.g. "Block already
      // exists" = a raced lazy cache) to the key that produced them
      System.err.println(s"[bench] ${java.time.Instant.now()} $name")
      spark.sparkContext.setJobDescription(s"bench:$name")
      // min of two passes: this box shows occasional multi-second
      // scheduler stalls that would otherwise charge a noise spike to
      // whichever query it lands on; the min is the steady-state cost
      def pass(): Option[Double] = {
        // settle before the timed pass: collect the previous query's
        // garbage and let in-flight cleanup (unpersist, shuffle file
        // deletion) drain OUTSIDE the measured window — three rounds of
        // identical-code bench deltas (r5→r7) were session contention,
        // not plans; the settle keeps one query's debris from billing
        // the next
        System.gc()
        Thread.sleep(150)
        val t0 = System.nanoTime()
        val ok = runFully(name, fn)
        // drop operator-internal caches (LSH signatures, IVF index, ...)
        // so one pass's cached blocks don't speed up or crowd the next
        graft.core.Caching.releaseAll()
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }
      var times = (1 to 2).flatMap(_ => pass())
      // queries under ~3 s live at this box's noise floor (r14 measured
      // ±40–50% run-to-run scatter on sub-second keys at matched
      // calib; r7→r8 showed nine drifting 1.5–2.1x with unchanged code
      // under min-of-2; an r16 run caught q54 at 2.65/2.25 in-suite vs
      // 0.93 isolated — both passes slow is exactly when the old
      // <2 s trigger never fired). One extra pass costs little
      // exactly where queries are cheap and tightens the floor where
      // jitter dominates the signal → min-of-3 below 3 s
      if (times.nonEmpty && times.min < 3.0) times ++= pass()
      // a transient pass-1 failure with a clean pass 2 is a timing, not
      // an error — only an all-passes failure reports as one
      if (times.nonEmpty) errors.remove(name)
      name -> times
    }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    // "queries" stays the per-key MIN (the steady-state cost — the
    // driver-compared value); "queries_runs" carries every pass so a
    // reader can see per-key dispersion, and the loadavg pair lets a
    // host-contended run self-identify. Accept/reject rule (SURVEY
    // §16): treat a per-key delta as plan drift only when calib is
    // steady, loadavg_start/end are below ~cpus/8, and the key's
    // max/min dispersion is < 2 in both runs being compared.
    // Regression gate vs a COMMITTED reference (bench_reference.json:
    // {"calib_s": c, "cpus": n, "queries": {key: clean-run min}}): the
    // artifact itself says "ok | contended | unresolved | regressed |
    // new | error" per key (rule in [[verdict]]).
    val reference: Option[(Double, Map[String, Double])] =
      try {
        val p = java.nio.file.Paths.get("bench_reference.json")
        if (!java.nio.file.Files.exists(p)) None
        else {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          val node = om.readTree(p.toFile)
          val qs = node.get("queries")
          val it = qs.fieldNames()
          val m = scala.collection.mutable.Map.empty[String, Double]
          while (it.hasNext) { val n = it.next(); m(n) = qs.get(n).asDouble }
          Some((node.get("calib_s").asDouble, m.toMap))
        }
      } catch { case e: Throwable =>
        System.err.println(
          s"[bench] bench_reference.json unreadable: ${e.getMessage}")
        None
      }
    val loadBound = cpus.toDouble / 8.0
    // a clean host reading: calib within ±10% of the reference's and
    // loadavg below cpus/8
    def hostOk(c: Double, load: Double) = load <= loadBound &&
      reference.exists { case (refCalib, _) =>
        refCalib > 0 && math.abs(c - refCalib) / refCalib <= 0.10
      }
    // Isolated adjudication pass: an in-suite number can read 1.5–3×
    // slow from CONTENTION (q54 measured 2.65 s in-suite vs 0.93 s
    // isolated with identical code), so suspect keys get a quiet-box
    // re-run appended to the JSON as "isolated": long settle, fresh
    // min-of-2. EVERY key whose in-suite min is above its reference
    // band is re-run — a verdict never rests on the in-suite read
    // alone. Beside those: keys whose passes DISPERSE (max/min ≥ 1.4
    // at min ≥ 1 s — the contention signature), then the slowest keys
    // overall, eight auto-picks in all, plus explicit keys via
    // SPARK_GRAFT_ISOLATE or `--isolate k1,k2`.
    val isolateAsked = sys.env.get("SPARK_GRAFT_ISOLATE")
      .orElse(argOpts.get("isolate")).map(csv).getOrElse(Set.empty)
    // loadavg_end belongs to the SUITE window — sample it before the
    // isolated block, whose own Spark jobs would otherwise dominate
    // the 1-minute average and let a reader reject a clean suite run
    // (or accept a contended one whose load decayed)
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
    val toIsolate = (aboveBand ++ autoIsolate ++ isolateAsked.filter(k =>
      SparkEntry.queries.contains(k))).distinct
    // each isolated re-run carries its OWN calib + loadavg stamp: the
    // r17 artifact's isolated q89 read 7.53 s vs 2.29 in-suite because
    // the "quiet box" ran at end-of-suite residual load — an unstamped
    // isolated number can mislead HIGH exactly as an in-suite number
    // misleads low, so the reader gets the evidence to reject either
    val isolated: Seq[(String, (Double, Double, Double))] =
      toIsolate.flatMap { k =>
        System.gc()
        Thread.sleep(1500) // drain in-flight cleanup OUTSIDE the window
        val isoLoad = loadAvg()
        val isoCalib = calibrate(passes = 2)
        val fn = SparkEntry.queries(k)
        // isolated-local failure handling: a transient flake here must
        // NOT mark an in-suite-green key as errored in the main maps —
        // it just yields no isolated number
        def quietPass(): Option[Double] = {
          System.gc()
          Thread.sleep(150)
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).write.format("noop").mode("overwrite")
                    .save(); true }
            catch { case _: Throwable => false }
          graft.core.Caching.releaseAll()
          if (ok) Some((System.nanoTime() - t0) / 1e9) else None
        }
        val vs = (1 to 2).flatMap(_ => quietPass())
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

    val qs = results.map { case (k, v) =>
      val t = if (errors.contains(k) || v.isEmpty) -1.0 else v.min
      s"${jstr(k)}:$t"
    }.mkString("{", ",", "}")
    val isoJson = isolated.map { case (k, (s, c, l)) =>
      s"""${jstr(k)}:{"s":$s,"calib_s":$c,"loadavg":$l}"""
    }.mkString("{", ",", "}")
    val runs = results.collect { case (k, v) if !errors.contains(k) =>
      s"${jstr(k)}:${v.mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val verdictJson = verdicts.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
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
    // COMPACT trailing summary, printed LAST: the driver's stdout
    // capture has been a truncated 2000-char tail of the big line —
    // unparseable — for 17 straight rounds. This line is small enough
    // that any tail window holds it whole, so a line-wise reader gets
    // totals, host-contention evidence, and the verdict counts even
    // when the per-key line is cut.
    val nReg = verdicts.count(_._2 == "regressed")
    val nCon = verdicts.count(_._2 == "contended")
    val nUnres = verdicts.count(_._2 == "unresolved")
    val top5 = results.collect {
      case (k, v) if !errors.contains(k) && v.nonEmpty => k -> v.min
    }.sortBy(-_._2).take(5).map { case (k, v) => s"${jstr(k)}:$v" }
      .mkString("{", ",", "}")
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
    // Audit copies the driver's stdout tail can't truncate: the r13
    // driver tail dropped calib_s and the q0xx–q1xx keys, letting a
    // host-contended run masquerade as a plan regression. Best-effort —
    // the stdout lines stay the contract. bench_last.json remains ONE
    // JSON object (round-over-round graders json.load it whole); the
    // summary gets its own file.
    try {
      val p = java.nio.file.Paths.get("target", "bench_last.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.write(
        java.nio.file.Paths.get("target", "bench_summary.json"),
        (summary + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bench_last.json write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
