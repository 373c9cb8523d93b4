package graft.core

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.{Slow, TestSpark}
import graft.operators.Vocab

/** Kill-mid-swap coverage for [[StoreFsck]]: every rename/delete step
  * of [[Stores.replace]] and [[Stores.replaceParts]] is crashed
  * in turn via the injected-crash hook ([[Stores.withCrashAt]]),
  * then `fsck --repair` (plus, where the window is mid-OPERATION
  * rather than mid-swap, one convergent re-run of the interrupted
  * call) must recover a store bit-identical to one that never
  * crashed. */
class StoreFsckSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmpBase(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_fsck_$tag").toString

  /** Run `op` with the crash injected before step `k`; returns true if
    * the injection fired (op crashed), false if the op completed before
    * reaching step k (loop-termination signal). */
  private def crashed(k: Int)(op: => Unit): Boolean = {
    try { Stores.withCrashAt(k)(op); false }
    catch {
      case e: IllegalStateException
          if e.getMessage.contains("injected crash") => true
    }
  }

  private def lmRows(path: String): (Set[(String, Long)], Long) = {
    val (lm, total) = Vocab.readLm(spark, path)
    (lm.collect().map(r => (r.getString(0), r.getLong(1))).toSet, total)
  }

  test("promoteNext: a crash at EVERY step recovers to the clean " +
    "result via fsck --repair (LM removal)", Slow) {
    val corpusA = Seq((1L, "alpha beta gamma alpha")).toDF("doc_id", "text")
    val corpusB = Seq((2L, "beta delta")).toDF("doc_id", "text")
    val base = tmpBase("promote")
    // clean reference: append then remove == the original store
    Vocab.writeLm(corpusA, "text", s"$base/ref")
    val want = lmRows(s"$base/ref")

    var k = 0
    var fired = true
    while (fired) {
      val dir = s"$base/lm_$k"
      Vocab.writeLm(corpusA, "text", dir)
      Vocab.appendLm(corpusB, "text", dir)
      fired = crashed(k) { Vocab.removeFromLm(corpusB, "text", dir) }
      if (fired) {
        val findings = StoreFsck.fsck(spark, base, repair = true)
        assert(findings.nonEmpty, s"step $k: fsck must find the window")
        assert(findings.forall(f => f.action != "report" ||
          f.kind == "bm25_stats_next_blocked"),
          s"step $k: unrepaired findings: $findings")
        // fsck rolls the committed successor FORWARD (every promote
        // window leaves one), so the store IS the post-removal state
        assert(lmRows(dir) === want, s"step $k")
        // and the repaired tree is clean on a second sweep
        assert(StoreFsck.fsck(spark, base).isEmpty, s"step $k re-sweep")
      }
      k += 1
    }
    assert(k >= 5, s"expected to exercise >= 4 promote steps, got $k")
  }

  test("promoteNext: an UNCOMMITTED successor rolls back (live store " +
    "untouched) and an orphaned aside restores") {
    val base = tmpBase("rollback")
    val corpus = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    Vocab.writeLm(corpus, "text", s"$base/lm")
    val want = lmRows(s"$base/lm")
    // staged successor whose write never committed (no _SUCCESS)
    fs.mkdirs(new Path(s"$base/lm_next"))
    fs.create(new Path(s"$base/lm_next/part-junk.parquet"), true).close()
    val f1 = StoreFsck.fsck(spark, base, repair = true)
    assert(f1.exists(f => f.kind == "incomplete_next" &&
      f.action == "deleted"), f1)
    assert(!fs.exists(new Path(s"$base/lm_next")))
    assert(lmRows(s"$base/lm") === want)
    // orphaned aside with no live store and no successor: restore it
    require(fs.rename(new Path(s"$base/lm"), new Path(s"$base/lm_old")))
    val f2 = StoreFsck.fsck(spark, base, repair = true)
    assert(f2.exists(f => f.kind == "orphan_old" &&
      f.action == "restored"), f2)
    assert(lmRows(s"$base/lm") === want)
  }

  test("swapPartitions: a crash at EVERY step of a kept-store " +
    "retraction recovers bit-identically (partial AND emptied " +
    "partitions)", Slow) {
    def keptRows(p: String): Set[(Long, String, Long)] =
      Stores.readOrEmpty(spark, p)
        .select($"doc_id", $"text", $"batch_id".cast("long"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
    val base = tmpBase("swap")
    def freshKept(dir: String): Unit = {
      val sink = new graft.streaming.StreamPipeline.IdempotentFileSink(dir)
      // batch 0: two docs (one removed -> partition survives);
      // batch 1: untouched; batch 2: one doc (removed -> emptied)
      sink.write(Seq((10L, "keep me"), (11L, "remove me"))
        .toDF("doc_id", "text"), 0L)
      sink.write(Seq((20L, "also kept")).toDF("doc_id", "text"), 1L)
      sink.write(Seq((30L, "gone entirely")).toDF("doc_id", "text"), 2L)
    }
    val rm = Seq(11L, 30L).toDF("id")
    freshKept(s"$base/ref")
    graft.streaming.StreamingIngest.removeFromKept(
      spark, s"$base/ref", rm, "doc_id")
    val want = keptRows(s"$base/ref")

    var k = 0
    var fired = true
    while (fired) {
      val dir = s"$base/kept_$k"
      freshKept(dir)
      fired = crashed(k) {
        graft.streaming.StreamingIngest.removeFromKept(
          spark, dir, rm, "doc_id")
      }
      if (fired) {
        val findings = StoreFsck.fsck(spark, base, repair = true)
        assert(findings.nonEmpty, s"step $k: fsck must find the window")
        assert(keptRows(dir) === want, s"step $k")
        assert(!fs.exists(new Path(s"${dir}_rm_next")), s"step $k")
        assert(StoreFsck.fsck(spark, base).isEmpty, s"step $k re-sweep")
      }
      k += 1
    }
    assert(k >= 6, s"expected >= 5 swap steps, got $k")
  }

  test("bm25 removal: a crash at EVERY step (postings swap, doclen " +
    "promote, stats promote) recovers via fsck --repair plus at most " +
    "one convergent re-run", Slow) {
    import graft.operators.Rank
    val docs = Seq((1L, "cat dog dog"), (2L, "cat cat cat fish"),
      (3L, "bird"), (4L, "dog fish fish fish")).toDF("doc_id", "text")
    val gone = docs.filter($"doc_id" === 3L || $"doc_id" === 4L)
    val base = tmpBase("bm25")
    Rank.buildBm25Index(docs, "doc_id", "text", s"$base/ref",
      nBuckets = 8)
    Rank.removeFromBm25Index(gone, "doc_id", "text", s"$base/ref")
    def probe(d: String) =
      Rank.bm25FromIndex(spark, d, Seq("cat", "dog", "fish", "bird"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
    val want = probe(s"$base/ref")
    val wantStats = spark.read.parquet(s"$base/ref/stats")
      .collect().toSeq

    var k = 0
    var fired = true
    while (fired) {
      val dir = s"$base/idx_$k"
      Rank.buildBm25Index(docs, "doc_id", "text", dir, nBuckets = 8)
      fired = crashed(k) {
        Rank.removeFromBm25Index(gone, "doc_id", "text", dir)
      }
      if (fired) {
        StoreFsck.fsck(spark, dir, repair = true)
        // mid-OPERATION windows (fsck restored invariants but the
        // removal itself never finished) converge on one re-run; a
        // removal fsck already completed refuses on presence — both
        // end states are the clean store
        try Rank.removeFromBm25Index(gone, "doc_id", "text", dir)
        catch {
          case e: IllegalArgumentException
              if e.getMessage.contains("not in the index") => ()
        }
        val after = StoreFsck.fsck(spark, dir, repair = true)
        assert(probe(dir) === want, s"step $k")
        assert(spark.read.parquet(s"$dir/stats").collect().toSeq ===
          wantStats, s"step $k stats")
        assert(StoreFsck.fsck(spark, dir).isEmpty,
          s"step $k re-sweep after $after")
      }
      k += 1
    }
    assert(k >= 8, s"expected to exercise many bm25 steps, got $k")
  }

  test("a stale writer lease blocks mutations loudly; fsck reports it " +
    "and --repair clears it") {
    val base = tmpBase("lease")
    val corpus = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    Vocab.writeLm(corpus, "text", s"$base/lm")
    // a crashed writer's lease
    fs.create(new Path(Stores.leasePath(s"$base/lm")), false).close()
    val e = intercept[IllegalStateException] {
      Vocab.appendLm(corpus, "text", s"$base/lm")
    }
    assert(e.getMessage.contains("writer lease") &&
      e.getMessage.contains("store --fsck"), e.getMessage)
    // detect-only reports and does NOT clear
    val rep = StoreFsck.fsck(spark, base)
    assert(rep.exists(f => f.kind == "stale_lease" &&
      f.action == "report"), rep)
    assert(fs.exists(new Path(Stores.leasePath(s"$base/lm"))))
    // --repair clears; the mutation then proceeds and releases its own
    val fix = StoreFsck.fsck(spark, base, repair = true)
    assert(fix.exists(f => f.kind == "stale_lease" &&
      f.action == "removed_lease"), fix)
    Vocab.appendLm(corpus, "text", s"$base/lm")
    assert(!fs.exists(new Path(Stores.leasePath(s"$base/lm"))))
  }

  test("crash injection is thread-scoped and disarmed however the op " +
    "ends") {
    val base = tmpBase("inject_scope")
    val lm = s"$base/lm"
    Vocab.writeLm(Seq((1L, "alpha beta")).toDF("doc_id", "text"), "text", lm)
    def append(id: Long, text: String): Unit =
      Vocab.appendLm(Seq((id, text)).toDF("doc_id", "text"), "text", lm)
    // armed on this thread: a store mutation on another thread is untouched
    var other: Option[Throwable] = None
    Stores.withCrashAt(0) {
      val t = new Thread(() =>
        try append(2L, "gamma") catch { case e: Throwable => other = Some(e) })
      t.start(); t.join()
    }
    assert(other.isEmpty, s"other thread took the injection: $other")
    // an op ending in some other exception still disarms
    intercept[ArithmeticException] {
      Stores.withCrashAt(0) { throw new ArithmeticException("not a crash") }
    }
    append(3L, "delta")
    assert(Vocab.readLm(spark, lm)._2 === 4L)
    assert(StoreFsck.fsck(spark, base).isEmpty)
  }

  test("a stale staging dir holding mid-swap asides REFUSES the blind " +
    "clear (deleting it would destroy fsck's roll-forward evidence)") {
    val base = tmpBase("staleguard")
    val dir = s"$base/kept"
    val sink = new graft.streaming.StreamPipeline.IdempotentFileSink(dir)
    sink.write(Seq((1L, "one")).toDF("doc_id", "text"), 0L)
    // fabricate a crashed-mid-swap staging dir beside the store
    fs.mkdirs(new Path(s"${dir}_rm_next/_old_batch_id=0"))
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamingIngest.removeFromKept(
        spark, dir, Seq(1L).toDF("id"), "doc_id")
    }
    assert(e.getMessage.contains("mid-swap asides") &&
      e.getMessage.contains("store --fsck"), e.getMessage)
    // fsck repairs the fabricated window (aside with live present =
    // superseded), after which the removal proceeds
    StoreFsck.fsck(spark, base, repair = true)
    val (rows, parts) = graft.streaming.StreamingIngest.removeFromKept(
      spark, dir, Seq(1L).toDF("id"), "doc_id")
    assert(rows === 1L && parts === 1L)
  }

  test("the writer lease admits one holder at a time under simultaneous " +
    "acquisition") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val base = tmpBase("leasestress")
    val pool = Executors.newFixedThreadPool(8)
    try (1 to 25).foreach { round =>
      val root = s"$base/store$round"
      val go = new CountDownLatch(1)
      val (inside, maxInside, held) =
        (new AtomicInteger, new AtomicInteger, new AtomicInteger)
      val holders = (1 to 8).map(_ => pool.submit(new Runnable {
        def run(): Unit = {
          go.await()
          try Stores.withLease(spark, root, "stress") {
            held.incrementAndGet()
            maxInside.accumulateAndGet(inside.incrementAndGet(), math.max)
            Thread.sleep(20)
            inside.decrementAndGet(); ()
          } catch {
            case e: IllegalStateException
                if e.getMessage.contains("writer lease") =>
          }
        }
      }))
      go.countDown()
      holders.foreach(_.get(60, TimeUnit.SECONDS))
      assert(maxInside.get === 1, s"round $round: concurrent lease holders")
      assert(held.get >= 1)
    } finally pool.shutdown()
  }

  test("the writer lease serializes CONCURRENT mutators: one of two " +
    "simultaneous removals refuses loudly, the store stays exact") {
    val base = tmpBase("leaserace")
    val a = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val b = Seq((2L, "beta")).toDF("doc_id", "text")
    val c = Seq((3L, "gamma")).toDF("doc_id", "text")
    Vocab.writeLm(a, "text", s"$base/lm")
    Vocab.appendLm(b, "text", s"$base/lm")
    Vocab.appendLm(c, "text", s"$base/lm")
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    val outcomes = (0 until 2).map { i =>
      pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = {
          go.await()
          try {
            Vocab.removeFromLm(if (i == 0) b else c, "text", s"$base/lm")
            "ok"
          } catch {
            case e: IllegalStateException
                if e.getMessage.contains("writer lease") => "refused"
          }
        }
      })
    }
    go.countDown()
    val results = outcomes.map(_.get(120, TimeUnit.SECONDS)).sorted
    pool.shutdown()
    // at least one side must have been refused or serialized cleanly;
    // whatever interleaving happened, the store must be EXACT: both
    // only-ok outcomes (fully serialized by timing) and ok+refused are
    // legal, silent corruption is not
    val (lm, total) = Vocab.readLm(spark, s"$base/lm")
    val rows = lm.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    if (results == Seq("ok", "ok")) {
      assert(rows === Set(("alpha", 1L), ("beta", 1L), ("gamma", 1L)),
        rows)
      assert(total === 3L,
        s"both removals applied exactly once: total must be 3, got $total")
    } else {
      assert(results === Seq("ok", "refused"), results)
      assert(total === 4L,
        s"one removal applied: total must be 4, got $total")
    }
    // the surviving lease state is clean: a follow-up mutation works
    if (results.contains("refused")) {
      val remaining = if (rows.exists(_._1 == "beta")) b else c
      Vocab.removeFromLm(remaining, "text", s"$base/lm")
    }
    assert(Vocab.readLm(spark, s"$base/lm")._2 === 3L)
  }

  test("detect-only fsck never mutates anything") {
    val base = tmpBase("readonly")
    val corpus = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    Vocab.writeLm(corpus, "text", s"$base/lm")
    Vocab.appendLm(Seq((2L, "beta")).toDF("doc_id", "text"), "text",
      s"$base/lm")
    // plant a promote window
    assert(crashed(2) {
      Vocab.removeFromLm(Seq((2L, "beta")).toDF("doc_id", "text"),
        "text", s"$base/lm")
    })
    def snapshot(): Set[String] = {
      val b = Seq.newBuilder[String]
      def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
        b += st.getPath.toString
        if (st.isDirectory) walk(st.getPath)
      }
      walk(new Path(base))
      b.result().toSet
    }
    val before = snapshot()
    val findings = StoreFsck.fsck(spark, base)
    assert(findings.nonEmpty &&
      findings.forall(_.action == "report"), findings)
    assert(snapshot() === before, "detect-only must not touch the tree")
  }

  test("an EMPTY swap manifest (crash mid-manifest-write) repairs " +
    "instead of aborting the sweep") {
    val base = tmpBase("emptymanifest")
    val dir = s"$base/kept"
    val sink = new graft.streaming.StreamPipeline.IdempotentFileSink(dir)
    sink.write(Seq((1L, "one")).toDF("doc_id", "text"), 0L)
    // crash between the manifest's create and close: staged data fully
    // written (the rewrite lands before swapPartitions runs), manifest
    // file present but zero bytes, no rename ever ran
    fs.mkdirs(new Path(s"${dir}_rm_next/batch_id=0"))
    fs.create(new Path(s"${dir}_rm_next/_swap_manifest"), true).close()
    // detect-only must SURVEY the window, not throw on lines.head
    val rep = StoreFsck.fsck(spark, base)
    assert(rep.exists(_.kind == "staging_anomaly"), rep)
    assert(rep.forall(_.action == "report"), rep)
    val fix = StoreFsck.fsck(spark, base, repair = true)
    assert(fix.exists(f => f.kind == "incomplete_staging" &&
      f.action == "deleted"), fix)
    assert(!fs.exists(new Path(s"${dir}_rm_next")))
    // live store untouched — no swap step ever ran
    assert(spark.read.parquet(dir).count() === 1L)
    assert(StoreFsck.fsck(spark, base).isEmpty)
  }

  test("a TRUNCATED/garbage swap manifest with asides falls back to " +
    "the aside-preserving repair") {
    val base = tmpBase("badmanifest")
    val dir = s"$base/kept"
    val sink = new graft.streaming.StreamPipeline.IdempotentFileSink(dir)
    sink.write(Seq((1L, "one")).toDF("doc_id", "text"), 0L)
    // fabricate a mid-swap crash whose manifest bytes are garbage:
    // live partition already moved aside, manifest unparseable
    val tmp = s"${dir}_rm_next"
    fs.mkdirs(new Path(tmp))
    assert(fs.rename(new Path(s"$dir/batch_id=0"),
      new Path(s"$tmp/_old_batch_id=0")))
    val out = fs.create(new Path(s"$tmp/_swap_manifest"), true)
    out.write("batch_id\n0 garbage-flag".getBytes("UTF-8")); out.close()
    val fix = StoreFsck.fsck(spark, base, repair = true)
    assert(fix.exists(_.kind == "staging_anomaly"), fix)
    assert(fix.exists(f => f.kind == "aside_restored" &&
      f.action == "restored"), fix)
    // the aside is back as the live partition; fixpoint then clears
    // the now-aside-free staging dir
    assert(spark.read.parquet(dir).count() === 1L)
    assert(!fs.exists(new Path(tmp)),
      "fixpoint must clear the repaired, aside-free staging dir")
    assert(StoreFsck.fsck(spark, base).isEmpty)
  }

  test("--repair skips a lease whose recorded holder pid is a LIVE " +
    "process and clears one whose holder is dead") {
    val base = tmpBase("livelease")
    val corpus = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    Vocab.writeLm(corpus, "text", s"$base/lm")
    val lease = new Path(Stores.leasePath(s"$base/lm"))
    val out = fs.create(lease, false)
    out.write(s"spec pid=${ProcessHandle.current().pid()}\n"
      .getBytes("UTF-8")); out.close()
    // live holder: REPORT, never delete — clearing it would unlock a
    // second writer into an active mutation
    val fix = StoreFsck.fsck(spark, base, repair = true)
    assert(fix.exists(f => f.kind == "lease_writer_live" &&
      f.action == "report"), fix)
    assert(fs.exists(lease), "a live writer's lease must survive --repair")
    // dead holder: stale, cleared as before
    fs.delete(lease, false)
    val out2 = fs.create(lease, false)
    out2.write("spec pid=999999999\n".getBytes("UTF-8")); out2.close()
    val fix2 = StoreFsck.fsck(spark, base, repair = true)
    assert(fix2.exists(f => f.kind == "stale_lease" &&
      f.action == "removed_lease"), fix2)
    assert(!fs.exists(lease))
  }

  test("a lease recorded on ANOTHER host is never cleared — liveness " +
    "is undecidable here; a same-host record still adjudicates by pid") {
    val base = tmpBase("remotelease")
    val corpus = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    Vocab.writeLm(corpus, "text", s"$base/lm")
    val lease = new Path(Stores.leasePath(s"$base/lm"))
    // the dangerous case: the recorded pid is DEAD *on this host* but
    // the lease belongs to a writer on another machine (HDFS-style
    // deployment) — the old pid-only check would have cleared it and
    // unlocked a possibly-live remote writer
    val out = fs.create(lease, false)
    out.write("spec pid=999999999 host=some-other-box\n"
      .getBytes("UTF-8")); out.close()
    val fix = StoreFsck.fsck(spark, base, repair = true)
    assert(fix.exists(f => f.kind == "lease_remote_holder" &&
      f.action == "report"), fix)
    assert(fs.exists(lease),
      "a remote holder's lease must survive --repair")
    // pid-reuse hazard inverted: a LIVE local pid under a remote host
    // name is a coincidence, not a live writer — still remote, still
    // reported (never lease_writer_live)
    fs.delete(lease, false)
    val out2 = fs.create(lease, false)
    out2.write((s"spec pid=${ProcessHandle.current().pid()} " +
      "host=some-other-box\n").getBytes("UTF-8")); out2.close()
    val fix2 = StoreFsck.fsck(spark, base, repair = true)
    assert(fix2.exists(_.kind == "lease_remote_holder") &&
      !fix2.exists(_.kind == "lease_writer_live"), fix2)
    assert(fs.exists(lease))
    // a lease that names THIS host adjudicates by pid exactly as an
    // unhosted one: dead pid clears
    fs.delete(lease, false)
    val out3 = fs.create(lease, false)
    out3.write(s"spec pid=999999999 host=${Stores.localHost}\n"
      .getBytes("UTF-8")); out3.close()
    val fix3 = StoreFsck.fsck(spark, base, repair = true)
    assert(fix3.exists(f => f.kind == "stale_lease" &&
      f.action == "removed_lease"), fix3)
    assert(!fs.exists(lease))
    // the production payload (withLease) records host+pid: a lease
    // taken and crashed by THIS process's own withLease path clears
    val e = intercept[RuntimeException] {
      Stores.withLease(spark, s"$base/lm", "spec") {
        throw new RuntimeException("writer died")
      }
    }
    assert(e.getMessage == "writer died")
    assert(!fs.exists(lease),
      "withLease releases its lease on failure (finally)")
  }

  test("fsck on an ABSENT store root repairs from its name-derived " +
    "siblings (the promote-interrupted state)") {
    val base = tmpBase("absentroot")
    val corpus = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    Vocab.writeLm(corpus, "text", s"$base/lm")
    val after = Seq((2L, "delta")).toDF("doc_id", "text")
    Vocab.writeLm(after, "text", s"$base/lm_tmp")
    // fabricate death between the promote renames: live gone, aside +
    // complete successor beside it
    assert(fs.rename(new Path(s"$base/lm"), new Path(s"$base/lm_old")))
    assert(fs.rename(new Path(s"$base/lm_tmp"), new Path(s"$base/lm_next")))
    // fsck pointed AT the absent store — the exact recovery command the
    // operator will type — must find the window via the siblings
    val fix = StoreFsck.fsck(spark, s"$base/lm", repair = true)
    assert(fix.exists(f => f.kind == "promote_interrupted" &&
      f.action == "promoted"), fix)
    assert(Vocab.readLm(spark, s"$base/lm")._2 === 1L,
      "the successor (post-removal truth) must be serving")
    assert(!fs.exists(new Path(s"$base/lm_old")))
    // a root with NO siblings is a wrong path: the error names the
    // parent directory as the recovery target
    val e = intercept[IllegalArgumentException] {
      StoreFsck.fsck(spark, s"$base/nothing_here")
    }
    assert(e.getMessage.contains("parent directory"), e.getMessage)
  }

  /** All checks of a post-recovery store must hold — fsck certifies
    * structure, this certifies the legs stayed mutually consistent
    * through the crash+repair. */
  private def contentClean(dir: String,
                           sig: Option[String] = None): Unit = {
    val (_, checks) = StoreVerify.verify(spark, dir, sigPath = sig)
    assert(checks.forall(_.ok), s"content audit after recovery: $checks")
  }

  test("IVF removal: a crash at EVERY step of the cells and by_id " +
    "swaps recovers via fsck --repair + one convergent re-run, " +
    "content-audited", Slow) {
    import graft.operators.Ivf
    val emb = (1L to 8L).map(i =>
      (i, Array.tabulate(4)(d => (i % 3 + d).toDouble / 8.0)))
      .toDF("vec_id", "embedding")
    val rm = Seq(2L, 5L).toDF("id")
    val base = tmpBase("ivfrm")
    def fresh(dir: String): Unit = {
      val (_, assigned) = Ivf.index(emb, "vec_id", "embedding",
        nCells = 2, seed = 7L)
      Ivf.writeIndex(assigned, s"$dir/cells")
      Ivf.writeIdLookup(assigned, s"$dir/by_id", idBuckets = 4)
      assigned.unpersist()
      graft.core.Caching.releaseAll()
    }
    def rows(dir: String): (Set[Long], Set[Long]) = (
      spark.read.parquet(s"$dir/cells").select($"id")
        .collect().map(_.getLong(0)).toSet,
      spark.read.parquet(s"$dir/by_id").select($"id")
        .collect().map(_.getLong(0)).toSet)
    fresh(s"$base/ref")
    Ivf.removeFromIndex(spark, s"$base/ref", rm)
    val want = rows(s"$base/ref")
    assert(want._1 === want._2 && !want._1.contains(2L))

    var k = 0
    var fired = true
    while (fired) {
      val dir = s"$base/ann_$k"
      fresh(dir)
      fired = crashed(k) { Ivf.removeFromIndex(spark, dir, rm) }
      if (fired) {
        // the operator recipe: fsck first (rolls half-swapped
        // partitions forward), then re-run — which either resumes the
        // sidecar-only second leg or refuses because both legs done
        StoreFsck.fsck(spark, dir, repair = true)
        try Ivf.removeFromIndex(spark, dir, rm)
        catch {
          case e: IllegalArgumentException
              if e.getMessage.contains("indexed rows matched") => ()
        }
        StoreFsck.fsck(spark, dir, repair = true)
        assert(rows(dir) === want, s"step $k")
        assert(StoreFsck.fsck(spark, dir).isEmpty, s"step $k re-sweep")
        contentClean(dir)
      }
      k += 1
    }
    assert(k >= 4, s"expected to exercise >= 3 swap steps, got $k")
  }

  test("BM25 compaction: a crash at EVERY step (postings swap + " +
    "doclen promote) recovers to a bit-identical probe, " +
    "content-audited", Slow) {
    import graft.operators.Rank
    val docs = Seq((1L, "cat dog dog"), (2L, "cat cat fish"),
      (3L, "bird")).toDF("doc_id", "text")
    val more = Seq((4L, "dog fish bird bird")).toDF("doc_id", "text")
    val base = tmpBase("bm25compact")
    def fresh(dir: String): Unit = {
      Rank.buildBm25Index(docs, "doc_id", "text", dir, nBuckets = 8)
      Rank.appendBm25Index(more, "doc_id", "text", dir)
    }
    def probe(d: String) =
      Rank.bm25FromIndex(spark, d, Seq("cat", "dog", "fish", "bird"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
    fresh(s"$base/ref")
    Rank.compactBm25Postings(spark, s"$base/ref")
    val want = probe(s"$base/ref")

    var k = 0
    var fired = true
    while (fired) {
      val dir = s"$base/idx_$k"
      fresh(dir)
      fired = crashed(k) { Rank.compactBm25Postings(spark, dir) }
      if (fired) {
        StoreFsck.fsck(spark, dir, repair = true)
        // post-repair the store SERVES correctly at whatever compaction
        // state the crash left; the re-run converges to fully compacted
        assert(probe(dir) === want, s"step $k pre-recompact")
        Rank.compactBm25Postings(spark, dir)
        assert(probe(dir) === want, s"step $k")
        assert(StoreFsck.fsck(spark, dir).isEmpty, s"step $k re-sweep")
        contentClean(dir)
      }
      k += 1
    }
    assert(k >= 5, s"expected to exercise >= 4 compaction steps, got $k")
  }

  test("settled-signature compaction: a crash at EVERY promote step " +
    "recovers; the re-fold never doubles a signature, content-audited", Slow) {
    import graft.operators.Dedup
    val baseDocs = Seq((10L, "old base doc one here"),
      (11L, "old base doc two there")).toDF("doc_id", "text")
    val batch = Seq((21L, "freshly settled doc alpha"),
      (22L, "freshly settled doc beta")).toDF("doc_id", "text")
    val base = tmpBase("settle")
    def fresh(sig: String): Unit = {
      Dedup.minhashSignatures(baseDocs, "doc_id", "text")
        .write.parquet(sig)
      Dedup.minhashSignatures(batch, "doc_id", "text")
        .withColumn("batch_id", org.apache.spark.sql.functions.lit(0L))
        .write.partitionBy("batch_id").parquet(s"${sig}_settled")
    }
    def ids(sig: String): Set[Long] =
      spark.read.parquet(sig).select($"id")
        .collect().map(_.getLong(0)).toSet
    fresh(s"$base/ref")
    graft.streaming.StreamingIngest.compactSettled(spark, s"$base/ref")
    val want = ids(s"$base/ref")
    assert(want === Set(10L, 11L, 21L, 22L))

    var k = 0
    var fired = true
    while (fired) {
      val sig = s"$base/sig_$k"
      fresh(sig)
      fired = crashed(k) {
        graft.streaming.StreamingIngest.compactSettled(spark, sig)
      }
      if (fired) {
        StoreFsck.fsck(spark, base, repair = true)
        // re-fold: idempotent when the crash left both stores on disk,
        // a (0,0) no-op when the sidecar already cleared
        graft.streaming.StreamingIngest.compactSettled(spark, sig)
        assert(ids(sig) === want, s"step $k")
        assert(spark.read.parquet(sig).count() === 4L,
          s"step $k: the re-fold must not double any signature")
        assert(StoreFsck.fsck(spark, base).isEmpty, s"step $k re-sweep")
        contentClean(sig)
      }
      k += 1
    }
    assert(k >= 4, s"expected to exercise >= 3 promote steps, got $k")
  }

  test("signature removal: a crash at EVERY step (base promote + " +
    "settled swap under one lease) recovers via fsck --repair, " +
    "content-audited", Slow) {
    import graft.operators.Dedup
    val baseDocs = Seq((10L, "old base doc one here"),
      (11L, "old base doc two there")).toDF("doc_id", "text")
    val base = tmpBase("sigremove")
    def fresh(sig: String): Unit = {
      Dedup.minhashSignatures(baseDocs, "doc_id", "text")
        .write.parquet(sig)
      // batch 0 keeps a row after the removal, batch 1 is emptied
      Seq(0L -> Seq((21L, "freshly settled doc alpha"),
          (23L, "freshly settled doc gamma")),
          1L -> Seq((22L, "freshly settled doc beta"))).foreach {
        case (b, docs) =>
          Dedup.minhashSignatures(docs.toDF("doc_id", "text"), "doc_id",
              "text")
            .withColumn("batch_id", org.apache.spark.sql.functions.lit(b))
            .write.mode("append").partitionBy("batch_id")
            .parquet(Stores.settledOf(sig))
      }
    }
    def ids(sig: String): (Set[Long], Set[Long]) = (
      spark.read.parquet(sig).select($"id")
        .collect().map(_.getLong(0)).toSet,
      spark.read.parquet(Stores.settledOf(sig)).select($"id")
        .collect().map(_.getLong(0)).toSet)
    val rm = Seq(11L, 21L, 22L).toDF("id")
    fresh(s"$base/ref")
    assert(Dedup.removeFromSignatureIndex(spark, rm, s"$base/ref") ===
      ((1L, 2L)))
    val want = ids(s"$base/ref")
    assert(want === ((Set(10L), Set(23L))))

    var k = 0
    var fired = true
    while (fired) {
      val sig = s"$base/sig_$k"
      fresh(sig)
      fired = crashed(k) { Dedup.removeFromSignatureIndex(spark, rm, sig) }
      if (fired) {
        // every crash step finds both legs' successors committed, so
        // fsck finishes the removal and a re-run refuses on presence
        StoreFsck.fsck(spark, base, repair = true)
        assert(ids(sig) === want, s"step $k")
        val e = intercept[IllegalArgumentException] {
          Dedup.removeFromSignatureIndex(spark, rm, sig)
        }
        assert(e.getMessage.contains("signature rows matched"),
          e.getMessage)
        assert(StoreFsck.fsck(spark, base).isEmpty, s"step $k re-sweep")
        contentClean(sig)
      }
      k += 1
    }
    assert(k >= 10, s"expected to exercise >= 9 steps, got $k")
  }

  test("funnel compaction: a crash at EVERY step (hist promote + live " +
    "partition empties) keeps the report exactly-once; fsck --repair " +
    "+ re-run converge", Slow) {
    import graft.streaming.StreamingIngest.{compactFunnel, readFunnel}
    val base = tmpBase("funnelcompact")
    def fresh(dir: String, withHist: Boolean = true): Unit = {
      val sink = new graft.streaming.StreamPipeline.IdempotentFileSink(dir)
      (0L to 4L).foreach(b =>
        sink.write(Seq((100L + b, 10L + b)).toDF("n_in", "n_kept"), b))
      // a pre-existing history generation, so the promote (not just
      // the first-land rename) is in the crashed path
      if (withHist) compactFunnel(spark, dir, keepLast = 4)
    }
    def report(dir: String): Set[(Long, Long, Long)] =
      readFunnel(spark, dir)
        .select($"batch_id", $"n_in", $"n_kept")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    fresh(s"$base/ref")
    compactFunnel(spark, s"$base/ref", keepLast = 2)
    val want = report(s"$base/ref")
    assert(want.map(_._1) === Set(0L, 1L, 2L, 3L, 4L))

    // without a history generation the fold's first land is crashed
    for (withHist <- Seq(true, false)) {
      var k = 0
      var fired = true
      while (fired) {
        val dir = s"$base/funnel_${if (withHist) "" else "nohist_"}$k"
        fresh(dir, withHist)
        fired = crashed(k) { compactFunnel(spark, dir, keepLast = 2) }
        if (fired) {
          // BEFORE any repair: the report may transiently MISS folded
          // history rows (the mid-promote window leaves _hist absent
          // until fsck rolls it forward — the same reader window every
          // promoted store has) but must NEVER double-count a batch:
          // live-wins shadows any fold duplicate at every crash point
          val pre = report(dir)
          assert(pre.subsetOf(want) &&
            pre.groupBy(_._1).forall(_._2.size == 1),
            s"step $k pre-repair: $pre")
          StoreFsck.fsck(spark, dir, repair = true)
          assert(report(dir) === want, s"step $k post-repair")
          compactFunnel(spark, dir, keepLast = 2)
          assert(report(dir) === want, s"step $k post-rerun")
          assert(StoreFsck.fsck(spark, dir).isEmpty, s"step $k re-sweep")
        }
        k += 1
      }
      assert(k >= 4, s"expected to exercise >= 3 steps, got $k")
    }
  }

  test("rebuild-stats: a crash at EVERY promote step of the recovery " +
    "command itself recovers via fsck --repair; the re-run converges " +
    "to doclen truth, content-audited", Slow) {
    import graft.operators.Rank
    val docs = Seq((1L, "cat dog dog"), (2L, "cat cat fish"),
      (3L, "bird")).toDF("doc_id", "text")
    val base = tmpBase("rebuildstats")
    // the state the command exists for: a store whose stats leg
    // drifted from doclen truth (n_buckets preserved — it is the
    // parameter the rebuild re-commits)
    def fresh(dir: String): Unit = {
      Rank.buildBm25Index(docs, "doc_id", "text", dir, nBuckets = 8)
      val st = spark.read.parquet(s"$dir/stats").head()
      Seq((st.getAs[Long]("n_docs") + 7L, st.getAs[Long]("total"),
          st.getAs[Long]("n_buckets")))
        .toDF("n_docs", "total", "n_buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats_bad")
      fs.delete(new Path(s"$dir/stats"), true)
      require(fs.rename(new Path(s"$dir/stats_bad"),
        new Path(s"$dir/stats")))
    }
    def statsRow(dir: String): (Long, Long, Long) = {
      val st = spark.read.parquet(s"$dir/stats").head()
      (st.getAs[Long]("n_docs"), st.getAs[Long]("total"),
        st.getAs[Long]("n_buckets"))
    }
    fresh(s"$base/ref")
    Rank.rebuildBm25Stats(spark, s"$base/ref")
    val want = statsRow(s"$base/ref")

    var k = 0
    var fired = true
    while (fired) {
      val dir = s"$base/idx_$k"
      fresh(dir)
      fired = crashed(k) { Rank.rebuildBm25Stats(spark, dir) }
      if (fired) {
        StoreFsck.fsck(spark, dir, repair = true)
        // the staged successor IS doclen truth, so fsck's stats_next
        // arbitration rolls it forward at every window; the re-run is
        // a converging no-op either way
        Rank.rebuildBm25Stats(spark, dir)
        assert(statsRow(dir) === want, s"step $k")
        assert(StoreFsck.fsck(spark, dir).isEmpty, s"step $k re-sweep")
        contentClean(dir)
      }
      k += 1
    }
    assert(k >= 4, s"expected to exercise >= 3 promote steps, got $k")
  }

  test("rebuild-by-id: a crash at EVERY promote step of the sidecar " +
    "rebuild recovers via fsck --repair; lookups serve, " +
    "content-audited", Slow) {
    import graft.operators.Ivf
    val emb = (1L to 8L).map(i =>
      (i, Array.tabulate(4)(d => (i % 3 + d).toDouble / 8.0)))
      .toDF("vec_id", "embedding")
    val base = tmpBase("rebuildbyid")
    def fresh(dir: String): Unit = {
      val (_, assigned) = Ivf.index(emb, "vec_id", "embedding",
        nCells = 2, seed = 7L)
      Ivf.writeIndex(assigned, s"$dir/cells")
      Ivf.writeIdLookup(assigned, s"$dir/by_id", idBuckets = 4)
      assigned.unpersist()
      graft.core.Caching.releaseAll()
    }
    def byIdRows(dir: String): Set[(Long, Long)] =
      spark.read.parquet(s"$dir/by_id")
        .select($"id", $"idb".cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    fresh(s"$base/ref")
    Ivf.rebuildIdLookup(spark, s"$base/ref")
    val want = byIdRows(s"$base/ref")

    var k = 0
    var fired = true
    while (fired) {
      val dir = s"$base/ann_$k"
      fresh(dir)
      fired = crashed(k) { Ivf.rebuildIdLookup(spark, dir) }
      if (fired) {
        StoreFsck.fsck(spark, dir, repair = true)
        Ivf.rebuildIdLookup(spark, dir)
        assert(byIdRows(dir) === want, s"step $k")
        assert(Ivf.lookupVec(spark, s"$dir/by_id", 5L).length === 4,
          s"step $k: the pruned lookup must serve post-recovery")
        assert(StoreFsck.fsck(spark, dir).isEmpty, s"step $k re-sweep")
        contentClean(dir)
      }
      k += 1
    }
    assert(k >= 4, s"expected to exercise >= 3 promote steps, got $k")
  }
}
