package graft.core

import org.apache.spark.sql.SparkSession

/** Shared store-lifecycle plumbing for the parquet side-stores (LM,
  * BM25 stats, signature indexes): never rewrite a serving store in
  * place — land the successor beside it and swap.
  */
object Stores {

  /** Test-only crash injection for the fsck specs: while armed (≥ 0) on
    * the calling thread, every rename/delete step inside
    * [[swapPartitions]]/[[promoteNext]] that runs on that thread
    * decrements it, and the step that reaches −1 THROWS instead of
    * running — "kill the process between step k and step k+1", so a
    * spec can exercise every crash window mechanically. Thread-scoped:
    * a store step on any other thread never sees it. Production never
    * arms it; specs arm it only through [[withCrashAt]]. */
  private val crashCountdown: ThreadLocal[Int] =
    ThreadLocal.withInitial[Int](() => -1)

  /** Run `op` on this thread with the crash injected before store step
    * `k`; injection is disarmed when `op` returns or throws. */
  private[graft] def withCrashAt[A](k: Int)(op: => A): A = {
    crashCountdown.set(k)
    try op finally crashCountdown.set(-1)
  }

  private def step(what: String): Unit = {
    val k = crashCountdown.get
    if (k == 0) {
      crashCountdown.set(-1)
      throw new IllegalStateException(
        s"graft test: injected crash before $what")
    }
    if (k > 0) crashCountdown.set(k - 1)
  }

  /** Sibling writer-lease path for a store root: a FILE beside the
    * store (never inside — [[promoteNext]] renames the store dir
    * itself, and a lease that travelled with the rename could never be
    * released). */
  def leasePath(storeRoot: String): String =
    storeRoot.stripSuffix("/") + "_lease"

  /** Enforce the documented one-writer-at-a-time contract LOUDLY: take
    * an exclusive lease file beside `storeRoot` (atomic
    * create-no-overwrite), run `body`, release. A second writer — or a
    * crashed one that never released — refuses with the fsck recipe
    * instead of silently interleaving mutations. The lease protects
    * the MUTATION path only; readers never look at it (underscore-free
    * but OUTSIDE the store dir, so no read lists it).
    *
    * Crash semantics: a writer that dies mid-body leaves the lease on
    * disk, turning the contract violation (resuming without knowing
    * what the dead writer finished) into an explicit operator step:
    * verify no writer is live, then `store --fsck --repair` (which
    * clears stale leases and repairs the windows) and retry.
    *
    * Filesystem contract: the lease is only a lock where create-
    * no-overwrite is ATOMIC — local/HDFS-family filesystems. On object
    * stores (s3a/gs/abfs/…) two concurrent creates can both "win", so
    * the mutual exclusion the callers rely on silently does not exist.
    * At 100 TB the store IS an object store, so this fails LOUDLY there
    * unless the operator opts into best-effort semantics with
    * `spark.graft.lease.mode=advisory` (accepting that the lease then
    * only catches crashed writers, not concurrent ones — serialize
    * writers externally). */
  def withLease[A](spark: SparkSession, storeRoot: String,
                   who: String)(body: => A): A = {
    val p = new org.apache.hadoop.fs.Path(leasePath(storeRoot))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireAtomicCreate(spark, fs.getUri.getScheme, who)
    val local = fs.getUri.getScheme == "file"
    val out =
      try {
        // Hadoop's local create(overwrite = false) is exists-then-open,
        // not a test-and-set: claim the path with an O_EXCL create first
        if (local) {
          fs.mkdirs(p.getParent)
          java.nio.file.Files.createFile(
            java.nio.file.Paths.get(fs.makeQualified(p).toUri))
        }
        fs.create(p, local)
      } catch {
        case e: java.io.IOException =>
          throw new IllegalStateException(
            s"$who: writer lease $p is already held — one writer at a " +
              "time. If its holder crashed, verify no writer is live, " +
              "then run `store --fsck <store> --repair` (clears stale " +
              "leases and repairs crash windows) and retry", e)
      }
    try {
      // holder identity for fsck's liveness check: pid alone is only
      // meaningful on the holder's OWN host (HDFS writers span hosts,
      // and pid reuse makes a foreign pid check actively wrong), so
      // the hostname rides along and fsck trusts the pid probe only
      // when it matches the probing host
      out.write(
        s"$who pid=${ProcessHandle.current().pid()} host=${localHost}\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally out.close()
    try body
    finally { fs.delete(p, false); () }
  }

  /** This process's hostname, for the lease holder-identity payload.
    * Best-effort (a host that cannot resolve itself still leases). */
  private[graft] def localHost: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case scala.util.control.NonFatal(_) => "unknown" }

  /** Filesystems whose `create(path, overwrite=false)` is an ATOMIC
    * test-and-set — the property the lease's mutual exclusion stands
    * on. Everything else (object stores) must opt into advisory mode
    * explicitly. */
  private val AtomicCreateSchemes =
    Set("file", "hdfs", "viewfs", "webhdfs", "swebhdfs")

  /** Refuse a lease on a filesystem that cannot guarantee atomic
    * create-no-overwrite, unless `spark.graft.lease.mode=advisory`
    * says the operator accepts crashed-writer-only protection. A null
    * scheme (default-FS relative path) resolves to the local/HDFS
    * default and is accepted. */
  private[graft] def requireAtomicCreate(spark: SparkSession,
                                         scheme: String,
                                         who: String): Unit = {
    val atomic = scheme == null ||
      AtomicCreateSchemes(scheme.toLowerCase(java.util.Locale.ROOT))
    if (!atomic) {
      val mode = spark.conf.get("spark.graft.lease.mode", "strict")
      require(mode == "advisory",
        s"$who: filesystem scheme '$scheme' does not guarantee atomic " +
          "create-no-overwrite, so the writer lease CANNOT exclude a " +
          "concurrent writer there (supported: " +
          s"${AtomicCreateSchemes.toSeq.sorted.mkString("/")}). Either " +
          "run store mutations against an atomic-create filesystem, or " +
          "set spark.graft.lease.mode=advisory to proceed with " +
          "crashed-writer-only protection and serialize writers " +
          "externally")
    }
  }

  /** Refuse a store PROMOTE/SWAP on a filesystem whose directory
    * rename is not an atomic O(1) metadata operation. The whole swap
    * discipline — land beside, rename in, aside-first — and every
    * crash window [[StoreFsck]] enumerates assume rename atomicity:
    * on S3-class object stores "rename" is a non-atomic O(data)
    * copy-then-delete, so a crash mid-promote leaves a HALF-COPIED
    * directory fsck cannot distinguish from a complete one, and a
    * reader can list a store that is neither old nor new. There is NO
    * advisory escape hatch here (unlike the lease, whose advisory mode
    * trades away only concurrent-writer protection): a non-atomic
    * swap corrupts the store itself. Object-store deployments must
    * keep the store tree on an HDFS-class filesystem, or front the
    * generations with a pointer-file indirection (readers resolve a
    * `_current` pointer; promote = write a new pointer) — which is a
    * different layout, not a mode of this one. */
  private[graft] def requireAtomicRename(spark: SparkSession,
                                         scheme: String,
                                         who: String): Unit = {
    val atomic = scheme == null ||
      AtomicCreateSchemes(scheme.toLowerCase(java.util.Locale.ROOT))
    require(atomic,
      s"$who: filesystem scheme '$scheme' does not provide atomic " +
        "directory rename, so the land-beside-and-promote swap " +
        "discipline cannot run there — a crash would leave a " +
        "half-copied store no fsck can repair (supported: " +
        s"${AtomicCreateSchemes.toSeq.sorted.mkString("/")}). Keep " +
        "store trees on an HDFS-class filesystem, or use a " +
        "pointer-file generation layout for object stores")
  }

  /** Clear a stale partition-swap staging dir before re-staging — with
    * the guard the blind delete was missing: a staging dir holding
    * `_old_…` asides is a CRASHED MID-SWAP (the live store is half
    * old/half new and some pre-swap copies exist only here), so
    * deleting it would destroy the roll-forward evidence `store --fsck
    * --repair` needs and leave the re-staged operation refusing on
    * partial presence forever. Refuse loudly instead; a marker-only or
    * never-swapped leftover (no asides) deletes as before. */
  def clearStaging(spark: SparkSession, tmp: String, who: String): Unit = {
    val tp = new org.apache.hadoop.fs.Path(tmp)
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(tp)) {
      val midSwap = fs.listStatus(tp)
        .exists(_.getPath.getName.startsWith("_old_"))
      require(!midSwap,
        s"$who: stale staging $tmp holds mid-swap asides from a " +
          "crashed writer — run `store --fsck <store> --repair` before " +
          "retrying (deleting it would destroy the roll-forward " +
          "evidence and strand a half-swapped store)")
      require(fs.delete(tp, true), s"$who: could not clear stale $tmp")
    }
  }

  /** Swap a named set of Hive partitions of `liveDir` for their
    * successors under `nextDir` (which holds `partCol=v` subdirs for
    * the partitions that still have rows): each live `partCol=v` dir
    * moves ASIDE (under `nextDir/_old_…`) before its successor renames
    * in — nothing is DELETED until its replacement is in place, so no
    * crash window loses a partition's rows (a crash mid-swap leaves
    * the pre-swap data recoverable under the `_old_` name; the
    * promoteNext discipline applied per partition). A partition with
    * NO successor dir stays out, which is how a removal empties one.
    * Untouched partitions are never listed, read, or moved. Re-running
    * the same logical operation converges (the caller re-derives
    * `nextDir` from the already-partially-updated live data, so
    * converged partitions rewrite to themselves). One writer at a
    * time; `nextDir` — asides included — is removed at the end. */
  def swapPartitions(spark: SparkSession, liveDir: String,
                     nextDir: String, partCol: String,
                     values: Seq[Long], who: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(liveDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireAtomicRename(spark, fs.getUri.getScheme, who)
    // swap manifest: which partitions this swap OWNS and whether each
    // has a staged successor ("v 1") or is being EMPTIED ("v 0"),
    // persisted before the first rename. Without it, two crash states
    // are byte-identical on disk and fsck could not repair: "this
    // partition's swap fully completed" and "this partition's empty-
    // case never started" both read staged-absent/aside-absent/live-
    // present. Hidden name: parquet reads ignore it.
    val mf = new org.apache.hadoop.fs.Path(s"$nextDir/_swap_manifest")
    val out = fs.create(mf, true)
    try out.write((partCol +: values.map { v =>
        val staged = fs.exists(
          new org.apache.hadoop.fs.Path(s"$nextDir/$partCol=$v"))
        s"$v ${if (staged) 1 else 0}"
      }).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    values.foreach { v =>
      val lp = new org.apache.hadoop.fs.Path(s"$liveDir/$partCol=$v")
      val op = new org.apache.hadoop.fs.Path(s"$nextDir/_old_$partCol=$v")
      val np = new org.apache.hadoop.fs.Path(s"$nextDir/$partCol=$v")
      if (fs.exists(lp)) {
        step(s"aside of $lp")
        require(fs.rename(lp, op), s"$who: could not move $lp aside")
      }
      if (fs.exists(np)) {
        step(s"swap-in of $np")
        require(fs.rename(np, lp), s"$who: could not swap $np into $lp")
      }
      step(s"aside delete of $op")
      require(fs.delete(op, true) || !fs.exists(op),
        s"$who: could not remove superseded $op")
    }
    step(s"next-dir delete of $nextDir")
    fs.delete(new org.apache.hadoop.fs.Path(nextDir), true)
    ()
  }

  /** Land a zero-row `_schema` marker under `dir` — the empty-store
    * readability contract: a partitioned store whose every partition
    * has been retired/retracted has NO parquet footer left for schema
    * inference, so a plain read throws instead of returning zero rows.
    * The marker (a 0-row parquet of the store's full logical schema,
    * partition columns included as data columns, field metadata
    * preserved) lives under an underscore name, which Spark's file
    * index treats as hidden — the live read never sees it; only
    * [[readOrEmpty]]'s fallback does. Written once at store creation. */
  def writeSchemaMarker(df: org.apache.spark.sql.DataFrame,
                        dir: String): Unit =
    df.limit(0).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/_schema")

  /** Read a store that may have been emptied by suite retirement /
    * retraction: when `dir` still has visible content, this IS
    * `spark.read.parquet(dir)`; when only hidden entries remain, fall
    * back to the `_schema` marker and return its zero-row frame, so an
    * emptied store reads as empty instead of failing schema inference.
    * (Partition-column types come from the marker's logical schema in
    * the empty case — readers that cast them, as every graft store
    * reader does, see no difference.) A dir with neither data nor
    * marker still fails loudly — that is a wrong path, not an emptied
    * store. */
  def readOrEmpty(spark: SparkSession,
                  dir: String): org.apache.spark.sql.DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val visible = fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (visible) spark.read.parquet(dir)
    else {
      val marker = new org.apache.hadoop.fs.Path(s"$dir/_schema")
      require(fs.exists(marker),
        s"$dir has no readable data and no _schema marker — not a " +
          "graft store (or one created before the empty-store " +
          "readability contract; rebuild it)")
      spark.read.parquet(s"$dir/_schema")
    }
  }

  /** Crash-safe promotion of `${path}_next` over `path`: the old store
    * moves ASIDE before the new one promotes, so no failure window
    * leaves the store absent — a crash leaves either the old store in
    * place, or both (`_old` recoverable). Hadoop rename/delete report
    * failure as a false RETURN, not an exception — an unchecked false
    * would leave the stale store serving after the successor was
    * already built. Fail loudly instead. One writer at a time, the
    * usual append contract. */
  def promoteNext(spark: SparkSession, path: String, who: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireAtomicRename(spark, fs.getUri.getScheme, who)
    val old = new org.apache.hadoop.fs.Path(s"${path}_old")
    step(s"stale-old clear of $old")
    require(fs.delete(old, true) || !fs.exists(old),
      s"$who: could not clear stale $old")
    step(s"aside of $p")
    require(fs.rename(p, old),
      s"$who: could not move $p aside to $old")
    step(s"promote of ${path}_next")
    require(fs.rename(new org.apache.hadoop.fs.Path(s"${path}_next"), p),
      s"$who: could not promote ${path}_next to $p " +
        s"(old store recoverable at $old)")
    step(s"old delete of $old")
    require(fs.delete(old, true) || !fs.exists(old),
      s"$who: could not remove superseded $old")
    ()
  }
}
