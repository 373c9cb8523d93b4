package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The one way to rewrite a graft store (registry, kept corpus,
  * funnel, LM, BM25, IVF, signature, long-match and eval-gram
  * indexes): never in place — land the successor beside the store,
  * then commit it by rename. Two calls cover every rewrite:
  *
  *  - [[replace]] — a whole store dir. The successor is staged at
  *    `${path}_next` and promoted: the live store moves aside to
  *    `${path}_old`, the successor renames in, the aside is dropped.
  *  - [[replaceParts]] — named Hive partitions of a store. The
  *    successors are staged under `${live}_rm_next` and swapped in one
  *    partition at a time behind a swap manifest; a partition with no
  *    successor (or every partition, when no rows are given) is
  *    emptied.
  *
  * First-land rule, the same for every store: when `path` is absent,
  * a lingering `${path}_old` means an interrupted promote, and the call
  * refuses and names `store --fsck --repair` (writing a fresh store
  * then would let a later repair roll it back). Otherwise the
  * successor stages at `_next` as usual and renames into the empty
  * slot; a stale `_next` from a crashed first build is overwritten.
  *
  * Every rename or delete of store data is a crash step (see
  * [[withCrashAt]]) and each crash window it leaves is one that
  * [[StoreFsck]] repairs. A `replace` or `replaceParts` run inside
  * another `replace`'s stage body commits before the outer store
  * promotes, so every inner crash step finds the outer successor
  * committed beside its store and fsck rolls both forward. Callers
  * hold the store's [[withLease]] around the call; one writer at a
  * time.
  */
object Stores {

  /** Test-only crash injection for the fsck specs: while armed (≥ 0) on
    * the calling thread, every rename/delete step of store data that
    * runs on that thread decrements it, and the step that reaches −1
    * THROWS instead of running — "kill the process between step k and
    * step k+1", so a spec can exercise every crash window mechanically.
    * Thread-scoped: a store step on any other thread never sees it.
    * Production never arms it; specs arm it only through
    * [[withCrashAt]]. */
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
    * store (never inside — [[replace]] renames the store dir
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
    val p = new Path(leasePath(storeRoot))
    val fs = fsOf(spark, p)
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

  private def strip(path: String): String = path.stripSuffix("/")

  /** Where [[replace]] stages the successor of `path`. */
  def nextOf(path: String): String = strip(path) + "_next"

  private def oldOf(path: String): String = strip(path) + "_old"

  private def partsStagingOf(live: String): String =
    strip(live) + "_rm_next"

  /** The settled per-batch sidecar of a signature store. */
  def settledOf(sigPath: String): String = strip(sigPath) + "_settled"

  /** The folded history sibling of a funnel store. */
  def histOf(funnelPath: String): String = strip(funnelPath) + "_hist"

  /** Name suffixes of the lifecycle artifacts beside a store: staging,
    * partition staging, aside, lease. */
  private val ArtifactSuffixes = Seq("_next", "_rm_next", "_old", "_lease")

  /** True for a store-lifecycle artifact name (fsck's domain). */
  private[core] def isArtifact(name: String): Boolean =
    ArtifactSuffixes.exists(name.endsWith)

  /** Every artifact path a crashed writer can leave beside `root`: its
    * own, plus those of the sidecars derived from it (the settled
    * sidecar's partition staging, the funnel history's promote). */
  private[core] def artifactsOf(root: String): Seq[String] =
    ArtifactSuffixes.map(strip(root) + _) ++ Seq(
      partsStagingOf(settledOf(root)), nextOf(histOf(root)),
      oldOf(histOf(root)))

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Replace the store dir `path` by what `stage` writes to the staging
    * path it is given (`${path}_next`), then promote it — or land it,
    * under the first-land rule, when `path` is absent. */
  def replace(spark: SparkSession, path: String, who: String)(
      stage: String => Unit): Unit = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    val firstLand = !fs.exists(p)
    if (firstLand && fs.exists(new Path(oldOf(path))))
      throw new IllegalStateException(
        s"$who: $path is absent but ${oldOf(path)} exists — an " +
          s"interrupted promote (its successor, if it landed, is " +
          s"${nextOf(path)}); a fresh store written now would be rolled " +
          s"back by a later repair. Run `store --fsck $path --repair` " +
          "first, then retry")
    stage(nextOf(path))
    if (!firstLand) promoteNext(spark, path, who)
    else {
      requireAtomicRename(spark, fs.getUri.getScheme, who)
      step(s"first land of ${nextOf(path)}")
      require(fs.rename(new Path(nextOf(path)), p),
        s"$who: could not land ${nextOf(path)} as $p")
    }
  }

  /** Replace the `partCol=v` partitions of `live` for each of `values`
    * by the partitions of `rows` (partition column cast to long), or
    * empty them all when `rows` is None: `rows` is staged under
    * `${live}_rm_next`, then each named partition swaps in — or, with
    * no staged successor, is emptied. Partitions not named are never
    * listed, read or moved. */
  def replaceParts(spark: SparkSession, live: String, partCol: String,
                   values: Seq[String], who: String,
                   rows: Option[DataFrame] = None): Unit = {
    val staging = partsStagingOf(live)
    clearStaging(spark, staging, who)
    rows.foreach(_.withColumn(partCol, col(partCol).cast("long"))
      .write.partitionBy(partCol).mode("overwrite").parquet(staging))
    swapPartitions(spark, live, staging, partCol, values, who)
  }

  /** Delete a whole store dir (a sidecar folded elsewhere) as one crash
    * step. */
  def drop(spark: SparkSession, path: String, who: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    step(s"drop of $p")
    require(fs.delete(p, true) || !fs.exists(p),
      s"$who: could not remove $p")
  }

  /** The values of `dir`'s `partCol=v` partition dirs (none when `dir`
    * is absent). */
  def partitionValues(spark: SparkSession, dir: String,
                      partCol: String): Seq[String] = {
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) Seq.empty
    else Option(fs.globStatus(new Path(s"${strip(dir)}/$partCol=*")))
      .getOrElse(Array.empty)
      .map(_.getPath.getName.stripPrefix(s"$partCol=")).toSeq
  }

  /** Data files under `dir` (none when `dir` is absent): every file
    * whose path below `dir` has no hidden (`_`/`.`) component —
    * markers, manifests and the `_schema` dir are not data. */
  def dataFiles(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    val root = fs.makeQualified(p).toString.stripSuffix("/")
    val it = if (fs.exists(p)) fs.listFiles(p, true) else null
    var n = 0L
    while (it != null && it.hasNext) {
      val rel = it.next().getPath.toString.stripPrefix(root)
      if (!rel.split('/').exists(c =>
          c.startsWith("_") || c.startsWith("."))) n += 1
    }
    n
  }

  /** Rewrite every `partCol=v` partition of `live` to one file (same
    * rows) through [[replaceParts]] — the read-amplification escape for
    * a store fragmented by appends and removals. Returns (data files
    * before, data files after, partitions rewritten). */
  def compactParts(spark: SparkSession, live: String, partCol: String,
                   who: String): (Long, Long, Long) = {
    val before = dataFiles(spark, live)
    val parts = partitionValues(spark, live, partCol)
    if (parts.nonEmpty)
      replaceParts(spark, live, partCol, parts, who,
        Some(spark.read.parquet(live)
          .withColumn(partCol, col(partCol).cast("long"))
          .repartition(col(partCol))))
    (before, dataFiles(spark, live), parts.length.toLong)
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
  def writeSchemaMarker(df: DataFrame, dir: String): Unit =
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
  def readOrEmpty(spark: SparkSession, dir: String): DataFrame = {
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    val visible = fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (visible) spark.read.parquet(dir)
    else {
      val marker = new Path(s"$dir/_schema")
      require(fs.exists(marker),
        s"$dir has no readable data and no _schema marker — not a " +
          "graft store (or one created before the empty-store " +
          "readability contract; rebuild it)")
      spark.read.parquet(s"$dir/_schema")
    }
  }

  /** Clear a stale partition-swap staging dir before re-staging. A
    * staging dir holding `_old_…` asides is a crashed mid-swap (the
    * live store is half old, half new, and some pre-swap copies exist
    * only here): deleting it would destroy the roll-forward evidence
    * `store --fsck --repair` needs, so refuse instead. A leftover with
    * no asides deletes. */
  private def clearStaging(spark: SparkSession, tmp: String,
                           who: String): Unit = {
    val tp = new Path(tmp)
    val fs = fsOf(spark, tp)
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

  /** Swap the named partitions of `liveDir` for their successors under
    * `nextDir`: each live `partCol=v` dir moves aside (to
    * `nextDir/_old_partCol=v`) before its successor renames in, and the
    * aside is deleted only after, so no crash window loses a
    * partition's rows. A value with no successor dir is emptied.
    * Re-running the same logical operation converges (the caller
    * re-derives `nextDir` from the partially updated live data).
    * `nextDir`, asides included, is removed at the end. */
  private def swapPartitions(spark: SparkSession, liveDir: String,
                             nextDir: String, partCol: String,
                             values: Seq[String], who: String): Unit = {
    val fs = fsOf(spark, new Path(liveDir))
    requireAtomicRename(spark, fs.getUri.getScheme, who)
    // swap manifest: which partitions this swap OWNS and whether each
    // has a staged successor ("v 1") or is being EMPTIED ("v 0"),
    // persisted before the first rename. Without it, two crash states
    // are byte-identical on disk and fsck could not repair: "this
    // partition's swap fully completed" and "this partition's empty-
    // case never started" both read staged-absent/aside-absent/live-
    // present. Hidden name: parquet reads ignore it.
    val out = fs.create(new Path(s"$nextDir/_swap_manifest"), true)
    try out.write((partCol +: values.map { v =>
        val staged = fs.exists(new Path(s"$nextDir/$partCol=$v"))
        s"$v ${if (staged) 1 else 0}"
      }).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    values.foreach { v =>
      val lp = new Path(s"$liveDir/$partCol=$v")
      val op = new Path(s"$nextDir/_old_$partCol=$v")
      val np = new Path(s"$nextDir/$partCol=$v")
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
    fs.delete(new Path(nextDir), true)
    ()
  }

  /** Promote `${path}_next` over a present `path`: the old store moves
    * aside before the successor renames in, so a crash leaves either
    * the old store in place or both (`_old` recoverable). Hadoop
    * rename/delete report failure as a false return, not an
    * exception; every one is checked. */
  private[core] def promoteNext(spark: SparkSession, path: String,
                                who: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    requireAtomicRename(spark, fs.getUri.getScheme, who)
    val old = new Path(oldOf(path))
    step(s"stale-old clear of $old")
    require(fs.delete(old, true) || !fs.exists(old),
      s"$who: could not clear stale $old")
    step(s"aside of $p")
    require(fs.rename(p, old),
      s"$who: could not move $p aside to $old")
    step(s"promote of ${nextOf(path)}")
    require(fs.rename(new Path(nextOf(path)), p),
      s"$who: could not promote ${nextOf(path)} to $p " +
        s"(old store recoverable at $old)")
    step(s"old delete of $old")
    require(fs.delete(old, true) || !fs.exists(old),
      s"$who: could not remove superseded $old")
    ()
  }
}
