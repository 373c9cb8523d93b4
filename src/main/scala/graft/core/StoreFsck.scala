package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Detect — and with `repair = true`, REPAIR — every documented crash
  * window of the graft store lifecycle under a directory tree, so the
  * recovery path for a writer that died mid-mutation is one command
  * (`store --fsck <dir> --repair`) instead of a by-hand walk of the
  * Scaladoc crash-semantics notes.
  *
  * The windows (each produced by a specific step of
  * [[Stores.replace]] / [[Stores.replaceParts]], exercised
  * step-by-step in StoreFsckSpec via [[Stores.withCrashAt]]):
  *
  *  - **`X_next` beside a live `X`** — a successor landed but the
  *    promote never ran. Roll FORWARD (promote) when the successor is
  *    provably complete and current: generically that is a `_SUCCESS`
  *    commit marker; for a BM25 `stats_next` the stronger check is
  *    agreement with doclen truth (n_docs == count(doclen), total ==
  *    Σ dl) — a stats_next that matches mid-operation state instead is
  *    DELETED (the interrupted removal re-runs cleanly), and one that
  *    matches neither is reported unrepairable. A `doclen_next` rolls
  *    forward only when its sibling `stats_next` also landed (the
  *    removal's write order guarantees postings already swapped).
  *  - **`X` absent with `X_old` + `X_next`** — death between the two
  *    promote renames. Roll forward: `X_next` → `X`, drop `X_old`.
  *  - **`X` absent with only `X_old`** — the successor vanished (a
  *    window promoteNext itself cannot produce; seen after manual
  *    cleanup). Restore the aside: `X_old` → `X`.
  *  - **`X` beside `X_old`** — death after the promote, before the
  *    aside cleanup. Drop `X_old`.
  *  - **`X_rm_next` partition-swap staging** — death anywhere inside
  *    [[Stores.replaceParts]]. Per aside `_old_pc=v`: live present →
  *    drop the superseded aside; live absent with a staged successor →
  *    finish that partition's swap; live absent without one → restore
  *    the aside. Then, with a `_SUCCESS` marker (the staging write
  *    committed), finish the swap for every still-staged partition and
  *    drop the staging dir; without one (write never committed, live
  *    untouched) drop the staging dir.
  *  - **stale `_lease` files** — a writer died holding its
  *    [[Stores.withLease]] lease. Reported always; removed only with
  *    `repair = true` (the operator asserts no writer is live by
  *    running fsck at all — the documented recovery recipe).
  *
  * Repair runs to FIXPOINT (windows unlock each other: promoting a
  * `doclen_next` is what makes its `stats_next` validate), bounded by
  * a small iteration cap. Every action is move-aside-first — fsck
  * never deletes data that is not provably superseded.
  *
  * One-writer contract: run fsck only while no writer is live (the
  * same contract every mutation documents). fsck itself takes no
  * lease — it must run exactly when a dead writer's lease is stuck.
  */
object StoreFsck {

  /** One finding: `kind` names the window, `action` what happened —
    * "report" (detect-only or unrepairable), or the repair applied
    * ("promoted", "completed_swap", "restored", "deleted",
    * "removed_lease"). */
  final case class Finding(kind: String, path: String, detail: String,
                           action: String) {
    def json: String = Jsons.obj("kind" -> kind, "path" -> path,
      "detail" -> detail, "action" -> action).text
  }

  private val MaxRounds = 6

  /** Sweep `root` (recursively) for crash windows. `repair = false`
    * only reports; `repair = true` applies the documented recovery for
    * each window and re-sweeps to fixpoint. Returns every finding in
    * application order.
    *
    * An ABSENT `root` is itself a known window: the promote-interrupted
    * state leaves the store dir gone with only `root_next`/`root_old`
    * siblings under the parent — when those exist, fsck repairs from
    * them (the first repair recreates `root`, and the fixpoint loop
    * then sweeps it normally); when nothing name-derived exists either,
    * the error names the parent directory as the thing to fsck. */
  def fsck(spark: SparkSession, root: String,
           repair: Boolean = false): Seq[Finding] = {
    val rp = new Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rp))
      require(siblingPaths(rp).exists(fs.exists),
        s"fsck: $root does not exist and no name-derived siblings " +
          s"(${root}_next / ${root}_old / ${root}_rm_next / " +
          s"${root}_lease) were found. If a crashed writer left " +
          s"artifacts under other names, run fsck on the parent " +
          s"directory instead: ${rp.getParent}")
    val all = Seq.newBuilder[Finding]
    var rounds = 0
    var acted = true
    while (acted && rounds < MaxRounds) {
      val found =
        if (fs.exists(rp)) sweep(spark, fs, rp, repair)
        else sweepSiblings(spark, fs, rp, repair)
      all ++= found
      acted = repair && found.exists(_.action != "report")
      rounds += 1
      // detect-only never loops: one sweep IS the report
      if (!repair) acted = false
    }
    all.result()
  }

  // ---------------------------------------------------------------

  private def sweep(spark: SparkSession, fs: FileSystem, root: Path,
                    repair: Boolean): Seq[Finding] = {
    val out = Seq.newBuilder[Finding]
    // the staging artifacts of single-dir stores (kept, lm, signature
    // base/settled) are SIBLINGS of the store dir — when fsck is
    // pointed at the store itself, check its own name-derived siblings
    // too, so `store --fsck <the store>` just works for every layout
    out ++= sweepSiblings(spark, fs, root, repair)
    walk(fs, root)(st => out ++= visit(spark, fs, st, repair))
    out.result()
  }

  private def siblingPaths(root: Path): Seq[Path] =
    Stores.artifactsOf(root.toString).map(new Path(_))

  /** Visit only `root`'s name-derived sibling artifacts — the whole
    * sweep when `root` itself is absent (promote-interrupted leaves
    * only `root_next` + `root_old`). */
  private def sweepSiblings(spark: SparkSession, fs: FileSystem,
                            root: Path, repair: Boolean): Seq[Finding] = {
    val out = Seq.newBuilder[Finding]
    siblingPaths(root).foreach { p =>
      if (fs.exists(p))
        out ++= visit(spark, fs, fs.getFileStatus(p), repair)
    }
    out.result()
  }

  private def visit(spark: SparkSession, fs: FileSystem,
                    st: org.apache.hadoop.fs.FileStatus,
                    repair: Boolean): Seq[Finding] = {
    val name = st.getPath.getName
    // an earlier fixer in this sweep may have consumed this entry
    // (a promote renames its _next away; fixOld defers to fixNext)
    if (!fs.exists(st.getPath)) Seq.empty
    else if (st.isDirectory && name.endsWith("_rm_next"))
      fixSwapStaging(fs, st.getPath, repair)
    else if (st.isDirectory && name.endsWith("_next") &&
        !name.endsWith("_rm_next"))
      fixNext(spark, fs, st.getPath, repair)
    else if (st.isDirectory && name.endsWith("_old"))
      fixOld(fs, st.getPath, repair)
    else if (!st.isDirectory && name.endsWith("_lease"))
      Seq(fixLease(fs, st.getPath, repair))
    else Seq.empty
  }

  /** A lease is clearable only when its holder is provably NOT a live
    * process. [[Stores.withLease]] records the holder's pid AND
    * hostname, and the pid-liveness probe is only meaningful on the
    * holder's own host: on a shared filesystem (HDFS) writers span
    * hosts, so a REMOTE holder's lease must never be cleared on a
    * local pid check (its pid being dead — or coincidentally alive —
    * here says nothing about the writer there). Three regimes:
    *  - holder host == this host: trust the pid probe — a live pid
    *    reports `lease_writer_live` (never cleared); a dead one clears.
    *  - holder host recorded and DIFFERENT: report
    *    `lease_remote_holder` and never clear — run fsck on the
    *    holder's host (where liveness is decidable), or verify the
    *    writer is dead and remove the lease by hand.
    *  - no host recorded (hand-made file, pre-host lease): legacy
    *    behavior — local pid probe, unrecorded/dead clears. */
  private def fixLease(fs: FileSystem, lease: Path,
                       repair: Boolean): Finding = {
    val holder = leaseHolder(fs, lease)
    val remoteHost = holder.flatMap(_._2)
      .filter(h => h != Stores.localHost && h != "unknown")
    if (remoteHost.isDefined)
      Finding("lease_remote_holder", lease.toString,
        s"lease holder ran on host '${remoteHost.get}' (this is " +
          s"'${Stores.localHost}') — liveness is undecidable here, so " +
          "the lease is NOT cleared (a live remote writer would be " +
          "unlocked into its own mutation). Run `store --fsck " +
          "--repair` on the holder's host, or verify the writer is " +
          "dead and remove the lease file by hand", "report")
    else {
      val holderAlive = holder.flatMap(_._1).exists { pid =>
        val h = ProcessHandle.of(pid)
        h.isPresent && h.get.isAlive
      }
      if (holderAlive)
        Finding("lease_writer_live", lease.toString,
          "lease holder pid is a LIVE process on this host — a writer " +
            "is mid-mutation; NOT stale, not cleared (re-run fsck " +
            "after it exits, or kill it first)", "report")
      else
        act(repair, "stale_lease", lease.toString,
          "writer lease whose holder is not a live process — a crashed " +
            "writer; blocks every future mutation",
          "removed_lease") { fs.delete(lease, false); () }
    }
  }

  /** The `pid=N` / `host=H` the lease writer recorded, if parseable. */
  private def leaseHolder(fs: FileSystem, lease: Path)
      : Option[(Option[Long], Option[String])] =
    try {
      val in = fs.open(lease)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some((
        "pid=(\\d+)".r.findFirstMatchIn(text).map(_.group(1).toLong),
        "host=(\\S+)".r.findFirstMatchIn(text).map(_.group(1))))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Depth-first walk, visiting every entry (hidden included — the
    * windows live under `_old_…` names). */
  private def walk(fs: FileSystem, p: Path)(
      f: org.apache.hadoop.fs.FileStatus => Unit): Unit = {
    val children = fs.listStatus(p)
    children.foreach(f)
    children.foreach { st =>
      // staging/aside dirs are handled as units by their fixers —
      // never descend into them (their contents are not stores)
      val n = st.getPath.getName
      if (st.isDirectory && !Stores.isArtifact(n) && !n.startsWith("_old_"))
        walk(fs, st.getPath)(f)
    }
  }

  private def act(repair: Boolean, kind: String, path: String,
                  detail: String, action: String)(run: => Unit): Finding =
    if (!repair) Finding(kind, path, detail, "report")
    else { run; Finding(kind, path, detail, action) }

  private def hasSuccess(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, "_SUCCESS"))

  // ----- promoteNext windows --------------------------------------

  private def fixNext(spark: SparkSession, fs: FileSystem, next: Path,
                      repair: Boolean): Seq[Finding] = {
    val baseName = next.getName.stripSuffix("_next")
    val base = new Path(next.getParent, baseName)
    val old = new Path(next.getParent, baseName + "_old")
    if (!fs.exists(base) && fs.exists(old)) {
      // death between the promote's two renames: the successor is the
      // complete store-to-be (it existed in full before rename #1 ran)
      Seq(act(repair, "promote_interrupted", next.toString,
        s"live $base absent, aside + successor present — crash " +
          "between the promote renames",
        "promoted") {
        require(fs.rename(next, base), s"fsck: could not promote $next")
        require(fs.delete(old, true), s"fsck: could not drop $old")
      })
    } else if (!fs.exists(base)) {
      // no live, no aside: the _next was staged but the base never
      // existed (a crashed first build) — report only, nothing to
      // validate it against
      Seq(Finding("orphan_next", next.toString,
        s"successor staged but no live $base and no aside — likely a " +
          "crashed first build; re-run the build (it overwrites the " +
          "successor) or remove it by hand", "report"))
    } else if (baseName == "stats" && isBm25Root(fs, next.getParent)) {
      fixBm25StatsNext(spark, fs, next, base, repair)
    } else if (baseName == "doclen" && isBm25Root(fs, next.getParent)) {
      val statsNext = new Path(next.getParent, "stats_next")
      if (hasSuccess(fs, next) && fs.exists(statsNext))
        Seq(act(repair, "bm25_doclen_next", next.toString,
          "committed doclen successor with its stats successor landed " +
            "— the removal's write order proves postings already " +
            "swapped; finish the doclen promote",
          "promoted") { Stores.promoteNext(spark, base.toString, "fsck") })
      else
        Seq(act(repair, "incomplete_next", next.toString,
          "doclen successor without a landed stats successor (or " +
            "uncommitted) — roll back and re-run the interrupted " +
            "removal (it converges)",
          "deleted") { fs.delete(next, true); () })
    } else if (hasSuccess(fs, next)) {
      // generic store (_next writers: LM, signature base, gram/long-
      // match indexes): a committed successor beside an untouched live
      // store means the promote never started — finish it. A lingering
      // _next implies no promote completed since (a completed promote
      // RENAMES _next away), and every mutation of these stores goes
      // through _next, so the live store cannot be newer.
      Seq(act(repair, "unpromoted_next", next.toString,
        "committed successor never promoted — finishing the promote",
        "promoted") { Stores.promoteNext(spark, base.toString, "fsck") })
    } else
      Seq(act(repair, "incomplete_next", next.toString,
        "successor without a _SUCCESS commit marker — the staging " +
          "write died mid-flight; live store untouched",
        "deleted") { fs.delete(next, true); () })
  }

  private def isBm25Root(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, "postings")) &&
      (fs.exists(new Path(dir, "doclen")) ||
        fs.exists(new Path(dir, "doclen_next")))

  /** The stats_next arbitration (the removeFromBm25Index resume check,
    * applied store-side): promote only a successor that matches doclen
    * TRUTH; delete one that is mid-operation or stale garbage. */
  private def fixBm25StatsNext(spark: SparkSession, fs: FileSystem,
                               next: Path, base: Path,
                               repair: Boolean): Seq[Finding] = {
    import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
    if (!hasSuccess(fs, next))
      return Seq(act(repair, "incomplete_next", next.toString,
        "uncommitted stats successor — staging write died; live " +
          "stats untouched",
        "deleted") { fs.delete(next, true); () })
    val doclenP = new Path(next.getParent, "doclen")
    if (!fs.exists(doclenP))
      // doclen_next pending: its fixer runs first, the fixpoint loop
      // re-evaluates this window afterwards
      return Seq(Finding("bm25_stats_next_blocked", next.toString,
        "stats successor present but no live doclen to validate " +
          "against — resolve the doclen window first (fixpoint " +
          "re-checks)", "report"))
    val truth = spark.read.parquet(doclenP.toString)
      .agg(count(lit(1)).as("n"),
        coalesce(sum(org.apache.spark.sql.functions.col("dl")), lit(0L))
          .as("t")).head()
    def matches(p: Path): Boolean = {
      val st = spark.read.parquet(p.toString).head()
      st.schema.fieldNames.contains("n_docs") &&
        st.getAs[Long]("n_docs") == truth.getAs[Long]("n") &&
        st.getAs[Long]("total") == truth.getAs[Long]("t")
    }
    if (matches(next))
      Seq(act(repair, "bm25_stats_next", next.toString,
        "stats successor agrees with doclen truth — the removal died " +
          "between the doclen and stats promotes; finish the swap",
        "promoted") { Stores.promoteNext(spark, base.toString, "fsck") })
    else if (matches(base))
      Seq(act(repair, "bm25_stats_next_stale", next.toString,
        "live stats already agree with doclen truth — the successor " +
          "is mid-operation state of an interrupted removal (which " +
          "re-runs cleanly) or stale garbage; dropping it",
        "deleted") { fs.delete(next, true); () })
    else
      Seq(Finding("bm25_stats_inconsistent", next.toString,
        "NEITHER live stats nor the successor agree with doclen truth " +
          "— an interrupted removal also left postings half-swapped; " +
          "re-run the original removal (it converges), then fsck again",
        "report"))
  }

  // ----- superseded/orphaned asides -------------------------------

  private def fixOld(fs: FileSystem, old: Path,
                     repair: Boolean): Seq[Finding] = {
    val baseName = old.getName.stripSuffix("_old")
    val base = new Path(old.getParent, baseName)
    val next = new Path(old.getParent, baseName + "_next")
    if (fs.exists(base))
      Seq(act(repair, "superseded_old", old.toString,
        "live store present — the aside is the superseded pre-promote " +
          "copy the final cleanup never dropped",
        "deleted") { fs.delete(old, true); () })
    else if (fs.exists(next))
      Seq.empty // the promote_interrupted fixer owns this pair
    else
      Seq(act(repair, "orphan_old", old.toString,
        s"live $base absent and no successor — restore the aside " +
          "(the only copy of the store)",
        "restored") {
        require(fs.rename(old, base), s"fsck: could not restore $old")
      })
  }

  // ----- swapPartitions staging dirs -------------------------------

  private def fixSwapStaging(fs: FileSystem, tmp: Path,
                             repair: Boolean): Seq[Finding] = {
    val live = new Path(tmp.getParent,
      tmp.getName.stripSuffix("_rm_next"))
    val out = Seq.newBuilder[Finding]
    val manifest = new Path(tmp, "_swap_manifest")

    // a crash DURING the manifest write (between create and close)
    // leaves an empty or truncated file — parse defensively and treat
    // a malformed manifest exactly like an absent one (both mean no
    // swap step ever ran: the manifest lands before the first rename),
    // so the designated recovery command repairs instead of aborting
    // the whole sweep on NoSuchElementException/MatchError
    val parsed: Option[(String, List[(String, Boolean)])] =
      if (!fs.exists(manifest)) None
      else parseManifest(fs, manifest)

    if (parsed.isEmpty) {
      if (fs.exists(manifest))
        out += Finding("staging_anomaly", manifest.toString,
          "swap manifest is empty or malformed — the writer died " +
            "mid-manifest-write (before any rename); falling back to " +
            "the manifest-less, aside-preserving repair", "report")
      // the manifest is written before the FIRST rename, so a staging
      // dir without one normally means no swap ever started: the
      // rewrite died mid-flight and every live partition is untouched.
      // Defensive exception: if asides exist anyway (a hand-built or
      // pre-manifest dir), repair them data-preservingly per entry and
      // leave the dir for inspection — never delete aside evidence.
      val asides = fs.listStatus(tmp).filter(e =>
        e.isDirectory && e.getPath.getName.startsWith("_old_"))
      if (asides.isEmpty) {
        out += act(repair, "incomplete_staging", tmp.toString,
          "staging dir without a swap manifest — the staging write " +
            "died before any swap step; live partitions untouched",
          "deleted") { fs.delete(tmp, true); () }
      } else {
        asides.foreach { a =>
          val part = a.getPath.getName.stripPrefix("_old_")
          val livePart = new Path(live, part)
          val stagedPart = new Path(tmp, part)
          if (fs.exists(livePart))
            out += act(repair, "superseded_aside", a.getPath.toString,
              s"live $livePart present — the aside is superseded",
              "deleted") { fs.delete(a.getPath, true); () }
          else if (fs.exists(stagedPart))
            out += act(repair, "swap_interrupted", a.getPath.toString,
              s"live $livePart absent with a staged successor",
              "completed_swap") {
              require(fs.rename(stagedPart, livePart),
                s"fsck: could not swap $stagedPart in")
              require(fs.delete(a.getPath, true),
                s"fsck: could not drop ${a.getPath}")
            }
          else
            out += act(repair, "aside_restored", a.getPath.toString,
              s"no manifest, live $livePart absent, no staged " +
                "successor — restore the aside (data-preserving; an " +
                "interrupted removal re-runs)",
              "restored") {
              require(fs.rename(a.getPath, livePart),
                s"fsck: could not restore ${a.getPath}")
            }
        }
        out += Finding("staging_anomaly", tmp.toString,
          "manifest-less staging dir carried asides — repaired per " +
            "entry above; dir left for inspection (the next writer's " +
            "guarded clear removes it once aside-free)", "report")
      }
      return out.result()
    }

    // the manifest names every partition this swap OWNS — including
    // ones a removal EMPTIES (no staged successor dir exists for
    // those), which is exactly what a staged-dirs-only reconstruction
    // cannot see. Roll the whole swap forward partition by partition,
    // idempotently (every case below converges under re-runs).
    val (partCol, entries) = parsed.get
    entries.foreach { case (v, hadStaged) =>
      val part = s"$partCol=$v"
      val livePart = new Path(live, part)
      val stagedPart = new Path(tmp, part)
      val aside = new Path(tmp, s"_old_$part")
      val (liveEx, stagedEx, asideEx) =
        (fs.exists(livePart), fs.exists(stagedPart), fs.exists(aside))
      if (stagedEx) {
        out += act(repair, "swap_pending", stagedPart.toString,
          s"staged successor for $livePart not yet swapped in",
          "completed_swap") {
          if (asideEx && liveEx)
            // a state one crashed run cannot produce (aside is MADE by
            // renaming live away) — treat the aside as superseded
            require(fs.delete(aside, true),
              s"fsck: could not drop stale $aside")
          if (liveEx)
            require(fs.rename(livePart, aside),
              s"fsck: could not move $livePart aside")
          require(fs.rename(stagedPart, livePart),
            s"fsck: could not swap $stagedPart in")
          require(fs.delete(aside, true) || !fs.exists(aside),
            s"fsck: could not drop $aside")
        }
      } else if (hadStaged) {
        // successor already consumed: this partition's swap-in
        // COMPLETED — at most its aside cleanup is pending
        if (asideEx)
          out += act(repair, "superseded_aside", aside.toString,
            "partition already swapped in; the aside is the pre-swap " +
              "copy whose cleanup never ran",
            "deleted") { fs.delete(aside, true); () }
        // else: fully done — nothing to do
      } else if (liveEx) {
        // marked EMPTY and the live partition still exists: the
        // empty-case never ran — finish it aside-first
        out += act(repair, "swap_empties_partition", livePart.toString,
          "manifest marks this partition EMPTIED by the swap — " +
            "finishing via aside-first delete",
          "completed_swap") {
          require(fs.delete(aside, true) || !fs.exists(aside),
            s"fsck: could not clear stale $aside")
          require(fs.rename(livePart, aside),
            s"fsck: could not move $livePart aside")
          require(fs.delete(aside, true),
            s"fsck: could not drop $aside")
        }
      } else if (asideEx) {
        // marked EMPTY, live gone: death between its aside and the
        // aside delete — the aside is the removed copy
        out += act(repair, "superseded_aside", aside.toString,
          "emptied partition's aside whose cleanup never ran",
          "deleted") { fs.delete(aside, true); () }
      } // else: empty-case fully completed — nothing to do
    }
    out += act(repair, "staging_leftover", tmp.toString,
      "partition-swap staging dir outlived its swap",
      "deleted") { fs.delete(tmp, true); () }
    out.result()
  }

  /** Parse a `_swap_manifest`: first line the partition column, then
    * one `value flag` line per owned partition. None when the file is
    * empty or any line is malformed — the writer died mid-write, the
    * crash state [[Stores.swapPartitions]] itself can produce. */
  private def parseManifest(fs: FileSystem, manifest: Path)
      : Option[(String, List[(String, Boolean)])] =
    try {
      val in = fs.open(manifest)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toList
        finally in.close()
      lines match {
        case partCol :: rest if partCol.nonEmpty && rest.nonEmpty =>
          val entries = rest.map { ln =>
            ln.split(" ", 2) match {
              case Array(v, flag) if v.nonEmpty &&
                  (flag == "0" || flag == "1") => (v, flag == "1")
              case _ => return None
            }
          }
          Some((partCol, entries))
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
}
