package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.{Failure, Success, Try}

/** Content-level cross-leg invariant audit for the graft stores —
  * `store --verify <dir>`.
  *
  * [[StoreFsck]] proves a store is STRUCTURALLY sound (no half-finished
  * promote/swap, no stale lease); nothing there proves the store's legs
  * are mutually CONSISTENT — a BM25 index whose stats drifted from its
  * doclen truth, postings rows orphaned by a removal that was re-run
  * against drifted text, an IVF sidecar that lost a cells row. Those
  * are exactly the states fsck's own `bm25_stats_inconsistent` verdict
  * ends at ("re-run the original removal") without telling the operator
  * WHAT is inconsistent. This audit names each violated invariant, so
  * the recovery recipe (README "Store verify") is per-finding instead
  * of per-guess. It is the reference's registry/MLflow health poll
  * (manage_model_registry.py:58-90 polls READY) generalized to every
  * store family.
  *
  * Read-only by construction: every check is a Spark read + aggregate;
  * nothing is written, renamed, or deleted. Run it after fsck (a
  * half-promoted store reads wrong), any time, while serving.
  *
  * Scale shape: each leg is read once — a single-dir store's one leg is
  * the frame [[detect]] already read — and ONE [[Probe]] tallies it:
  * every count-style invariant is a named long flag or sum column of
  * that pass, plus one grouping shuffle when a check needs per-key
  * counts (uniqueness, per-id cross-leg agreement). Verdict rows
  * collected are O(1) counts. Beside one probe per leg stand only
  * DSIR's totals probe (its weight law divides by them), driver-sized
  * collects (BM25's stats row, the PQ codebook shape, the model's
  * per-layer shape, the settled batch set) and the HLL sketch union,
  * isolated because its failure IS the `stats_sketch_mergeable`
  * finding. The th recompute is the one term-volume pass — it IS the
  * audit's purpose (recomputing the per-doc term multiset from the
  * postings leg and matching it against the doclen leg's stored hash
  * is the only check that catches orphan/forged postings content, not
  * just counts).
  */
object StoreVerify {

  /** One invariant verdict. `ok = true` means the invariant HELD.
    * Details routinely embed exception messages (multi-line on Spark
    * errors), so the JSON renders through [[Jsons.obj]], control chars
    * escaped, or the audit JSON would be malformed exactly when a store
    * is damaged. */
  final case class Check(invariant: String, ok: Boolean, detail: String) {
    def json: String = Jsons.obj("invariant" -> invariant, "ok" -> ok,
      "detail" -> detail).text
  }

  /** Detect the store family under `dir` by its layout and run that
    * family's invariants. `sigPath` (optional) enables the kept-store ↔
    * signature-store agreement checks; `idCol` names the kept store's
    * id column. Returns (family, checks).
    *
    * `sample = Some((mod, rem))` audits only the id slice
    * `pmod(id, mod) == rem` of the id-keyed families (bm25 / ivf /
    * sig / kept) — the 100 TB posture: a full audit reads O(postings),
    * so a fleet runs slice `rem` of `mod` per night and covers the
    * store in `mod` nights, every check still EXACT over its slice
    * (both legs of every cross-leg check are cut by the same id rule,
    * so agreement within the slice is agreement, not an estimate).
    * Whole-store invariants that cannot be sliced (the BM25 stats
    * totals) are SKIPPED under sampling rather than reported as a
    * weaker pass. Non-id-keyed families (lm / longmatch / evalgram /
    * model / registry — all metadata-sized) ignore the sample. */
  def verify(spark: SparkSession, dir: String,
             sigPath: Option[String] = None,
             idCol: String = "doc_id",
             sample: Option[(Long, Long)] = None): (String, Seq[Check]) = {
    requireSlice(sample)
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"verify: $dir does not exist")
    detectFrame(spark, dir, idCol) match {
      case Success(Some((family, frame))) =>
        (family, audit(spark, dir, family, frame, sigPath, idCol, sample))
      // a genuinely corrupt dir surfaces ITS read error, not the menu
      case Failure(e) => throw e
      case Success(None) =>
        throw new IllegalArgumentException(
          s"verify: $dir matches no known store family (bm25 needs " +
            "postings/doclen/stats, ivf needs cells/, eval-gram needs " +
            "gk+suite columns, long-match gk+df, signature sh+bh, " +
            "vocab/LM token+cnt, DSIR bucket+ct+cr+w_bits, corpus " +
            "stats n_docs+…+fp_sketch, funnel n_in+n_kept+batch_id, " +
            "model weights layer+row_idx+w+bias, registry " +
            s"model+version+stage, kept batch_id+$idCol " +
            "— pass --id if the kept id column differs)")
    }
  }

  /** Fail loudly on a sample slice outside `0 <= rem < mod`, before any
    * store is read (a bad slice is the caller's error, not store
    * damage). */
  private[graft] def requireSlice(sample: Option[(Long, Long)]): Unit =
    sample.foreach { case (m, r) =>
      require(m > 0 && r >= 0 && r < m,
        s"verify: sample slice must satisfy 0 <= rem < mod, got " +
          s"(mod=$m, rem=$r)")
    }

  /** Run `family`'s invariants on the store at `dir`. `frame` is the
    * frame [[detectFrame]] read for a single-dir family; the layout
    * families (bm25/ivf) read their legs here. */
  private def audit(spark: SparkSession, dir: String, family: String,
                    frame: Option[DataFrame], sigPath: Option[String],
                    idCol: String,
                    sample: Option[(Long, Long)]): Seq[Check] = {
    lazy val df = frame.get
    family match {
      case "bm25" => verifyBm25(spark, dir, sample)
      case "ivf" => verifyIvf(spark, dir, sample)
      case "evalgram" => verifyEvalGrams(spark, dir, df)
      case "longmatch" => verifyLongMatch(df)
      case "sig" => verifySig(spark, dir, df, sample)
      case "vocab" => verifyVocab(df)
      case "lm" => verifyLm(df)
      case "dsir" => verifyDsir(df)
      case "stats" => verifyStats(df)
      case "funnel" => verifyFunnel(df)
      case "model" => verifyModel(df)
      case "registry" => verifyRegistry(df)
      case "kept" => verifyKept(spark, df, sigPath, idCol, sample)
    }
  }

  /** The counts of one leg from ONE [[Probe]] job: `rows`, then each
    * named column's null-as-0 long total (a check's flag is
    * `when(cond, 1L)`, so its total is the rows where `cond` holds).
    * With `keys`, the leg is first grouped by them — one grouping
    * shuffle — each named column is summed within its group, `rows`
    * still counts the leg's rows, and the probe adds `groups` and
    * `dup`, the groups holding more than one row. */
  private def tally(df: DataFrame, keys: Seq[String],
                    sums: (String, Column)*): Map[String, Long] = {
    val names = sums.map(_._1)
    if (keys.isEmpty)
      ("rows" +: names).zip(Probe.totals(df, sums.map(_._2))).toMap
    else {
      val grouped = df.groupBy(keys.map(col): _*).agg(
        count(lit(1)).as("_n"),
        sums.map { case (k, c) => sum(c.cast("long")).as(k) }: _*)
      ("groups" +: "rows" +: "dup" +: names).zip(Probe.totals(grouped,
        col("_n") +: when(col("_n") > 1L, 1L) +: names.map(col))).toMap
    }
  }

  /** The SINGLE shared definition of the BM25 audit's per-doc
    * reconstruction — used by both [[verifyBm25]] and the
    * cross-engine certificate query (q133_store_audit), so the
    * certified expressions ARE the audit expressions and cannot
    * drift apart: per id, the postings tf sum, the sorted term
    * MULTISET rebuilt from postings rows hashed exactly as the build
    * hashed raw text (xxhash64 ∘ array_sort), and the count of rows
    * outside their term's derived bucket. One postings scan. */
  private[graft] def bm25PerDocRebuild(postings: DataFrame,
                                       nBuckets: Long): DataFrame =
    postings.groupBy("id").agg(
      sum(col("tf")).as("tf_sum"),
      xxhash64(array_sort(flatten(collect_list(
        array_repeat(col("term"), col("tf").cast("int"))))))
        .as("th_rec"),
      sum(when(col("tb").cast("long") =!=
        pmod(xxhash64(col("term")), lit(nBuckets)), 1L).otherwise(0L))
        .as("n_misrouted"))

  /** The th of a ZERO-token doc (dl = 0 → no postings rows): the hash
    * of the empty token array, the build's own value for it — a
    * constant the optimizer folds, so it costs no job. */
  private[graft] val emptyThHash: Column =
    xxhash64(array_sort(array().cast("array<string>")))

  /** The id slice an audit pass owns: `pmod(id, mod) == rem`, or the
    * whole frame when no sample is set. */
  private def slice(df: DataFrame, idCol: String,
                    sample: Option[(Long, Long)]): DataFrame =
    sample.fold(df) { case (m, r) =>
      df.filter(pmod(col(idCol).cast("long"), lit(m)) === r)
    }

  /** Non-throwing family probe — the tree sweep's filter. Layout
    * families (bm25/ivf) by child dirs; single-dir families by schema;
    * anything unreadable or unrecognized is None (not a store). */
  def detect(spark: SparkSession, dir: String,
             idCol: String = "doc_id"): Option[String] =
    detectFrame(spark, dir, idCol).toOption.flatten.map(_._1)

  /** [[detect]], keeping the frame it read to tell a single-dir family
    * by its schema: that frame is the one the family's audit tallies,
    * so no leg is schema-read twice (None for bm25/ivf). The one read
    * also tells the two non-store cases apart: Failure when the dir
    * cannot be read as parquet at all, Success(None) when it reads but
    * matches no family. */
  private def detectFrame(spark: SparkSession, dir: String, idCol: String)
      : Try[Option[(String, Option[DataFrame])]] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def has(child: String) = fs.exists(new Path(dir, child))
    if (has("postings") && has("doclen") && has("stats"))
      Success(Some(("bm25", None)))
    else if (has("cells")) Success(Some(("ivf", None)))
    else Try {
      val df = Stores.readOrEmpty(spark, dir)
      val cols = df.columns.toSet
      def all(cs: String*) = cs.forall(cols)
      val family =
        if (all("gk", "suite")) Some("evalgram")
        else if (all("gk", "df")) Some("longmatch")
        else if (all("sh", "bh")) Some("sig")
        else if (all("token", "cnt"))
          // vocab and LM stores share the (token, cnt) schema — the
          // build-params metadata is the discriminator (writeVocab
          // stamps top_k; writeLm stamps total_tokens). A metadata-
          // stripped store of either kind reports as lm with a failing
          // lm_params, which is the right verdict: rebuild it
          Some(if (df.schema("token").metadata.contains("top_k")) "vocab"
               else "lm")
        else if (all("bucket", "ct", "cr", "w_bits")) Some("dsir")
        else if (all("n_docs", "sum_tokens", "sum_tokens_sq", "tok_hist",
            "fp_sketch")) Some("stats")
        else if (all("n_in", "n_kept", "batch_id")) Some("funnel")
        else if (all("layer", "row_idx", "w", "bias")) Some("model")
        else if (all("model", "version", "stage")) Some("registry")
        else if (all("batch_id", idCol)) Some("kept")
        else None
      family.map(f => (f, Some(df)))
    }
  }

  /** Sweep a TREE for stores and audit each — the whole-lake health
    * check (`store --verify-tree`): every dir where [[detect]] names a
    * family is audited once, on the frame detect read, and not
    * descended into (its legs/partitions are that family's internals);
    * unrecognized dirs are walked further. A bad `sample` slice fails
    * before the walk. Store-lifecycle artifacts
    * ([[Stores.isArtifact]]) and hidden names are fsck's domain and
    * skipped here. Kept stores run WITHOUT the signature pairing in tree mode
    * (pairing is per-store knowledge — run the targeted `--verify
    * <kept> --sig <sig>` for the agreement checks). Returns (path,
    * family, checks) per store in path order. */
  def verifyTree(spark: SparkSession, root: String,
                 idCol: String = "doc_id",
                 sample: Option[(Long, Long)] = None)
      : Seq[(String, String, Seq[Check])] = {
    requireSlice(sample)
    val rp = new Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(rp), s"verify-tree: $root does not exist")
    val out = Seq.newBuilder[(String, String, Seq[Check])]
    def walk(p: Path, isRoot: Boolean): Unit = {
      val name = p.getName
      // lifecycle artifacts are fsck's domain — but only among
      // CHILDREN: the user-supplied root must never be silently
      // skipped by its own name (a lake legitimately called `…_old`
      // would otherwise "verify" zero stores)
      if (!isRoot && (name.startsWith("_") || name.startsWith(".") ||
          Stores.isArtifact(name))) ()
      else detectFrame(spark, p.toString, idCol) match {
        case Success(Some((family, frame))) =>
          // per-store isolation: one damaged store must not abort the
          // lake sweep — its audit error IS its verdict
          val checks =
            try audit(spark, p.toString, family, frame, sigPath = None,
              idCol, sample)
            catch {
              case scala.util.control.NonFatal(e) =>
                Seq(Check("audit_completed", ok = false,
                  s"audit itself failed — a leg is missing or " +
                    s"unreadable: ${e.getMessage}".take(300)))
            }
          out += ((p.toString, family, checks))
        case notStore =>
          // unreadable PARQUET data is a finding, not a silent skip: a
          // dir of .parquet files that cannot be read is the worst
          // corruption state — exactly what a health sweep must
          // surface. Non-parquet assets (CSVs, logs) pass through
          // silently; dirs of only subdirs are layout levels — descend
          val children = fs.listStatus(p)
          val parquetFiles = children.exists(st => !st.isDirectory &&
            st.getPath.getName.endsWith(".parquet"))
          if (parquetFiles && notStore.isFailure)
            out += ((p.toString, "unreadable",
              Seq(Check("store_readable", ok = false,
                "directory holds .parquet files that cannot be read — " +
                  "corrupt store/table; inspect before trusting any " +
                  "store beneath it"))))
          else
            children.filter(_.isDirectory)
              .sortBy(_.getPath.getName)
              .foreach(st => walk(st.getPath, isRoot = false))
      }
    }
    walk(rp, isRoot = true)
    out.result()
  }

  // ----- BM25 ------------------------------------------------------

  /** The BM25 store's cross-leg truths. Legs: `postings/` (term, id,
    * tf; partitioned by term-hash bucket tb), `doclen/` (id, dl [, th]),
    * `stats/` (1 row: n_docs, total, n_buckets).
    *
    *  - `bm25_stats_doclen`: stats (n_docs, total) == (count, Σ dl) of
    *    doclen — the mergeable-sums contract every append/removal keeps.
    *  - `bm25_postings_doclen_ids`: postings carry EXACTLY the ids
    *    doclen says have tokens (dl > 0) — an orphan postings id
    *    corrupts df for every term it shares; a missing one serves
    *    zero hits for a doc the stats still count.
    *  - `bm25_tf_sum_dl`: per id, Σ tf over postings == dl — the two
    *    legs count the same tokens.
    *  - `bm25_bucket_routing`: every postings row lives in the bucket
    *    pmod(xxhash64(term), n_buckets) — a misrouted row is invisible
    *    to every probe (probes prune to the derived bucket).
    *  - `bm25_th_multiset`: on th-carrying stores, the per-doc term
    *    MULTISET rebuilt from postings hashes to doclen.th — content
    *    agreement, not just counts (catches equal-count term swaps).
    */
  private def verifyBm25(spark: SparkSession, dir: String,
                         sample: Option[(Long, Long)]): Seq[Check] = {
    val stats = spark.read.parquet(s"$dir/stats").head()
    val (nDocs, total, nBuckets) = (stats.getAs[Long]("n_docs"),
      stats.getAs[Long]("total"), stats.getAs[Long]("n_buckets"))
    val doclen = slice(spark.read.parquet(s"$dir/doclen"), "id", sample)
    val postings = slice(spark.read.parquet(s"$dir/postings"), "id",
      sample)
    val hasTh = doclen.columns.contains("th")
    // ONE probe over doclen ⟗ the per-doc postings rebuild feeds the
    // stats truth and the id-set, tf-sum, routing AND th checks (at
    // 100 TB the postings leg is the audit's dominant cost — scan it
    // once)
    val t = tally(doclen.select(col("id"), col("dl"),
        lit(1L).as("in_doclen"),
        (if (hasTh) col("th") else lit(null).cast("long")).as("th"))
      .join(bm25PerDocRebuild(postings, nBuckets), Seq("id"), "full_outer"),
      Nil,
      "n" -> col("in_doclen"), "t" -> col("dl"),
      "orphans" -> when(col("dl").isNull, 1L),
      "missing" -> when(col("tf_sum").isNull && col("dl") > 0L, 1L),
      "tf_bad" -> when(col("tf_sum") =!= col("dl"), 1L),
      "misrouted" -> col("n_misrouted"),
      "th_bad" ->
        when(coalesce(col("th_rec"), emptyThHash) =!= col("th"), 1L),
      "th_covered" -> when(col("th").isNotNull, 1L))
    // whole-store totals cannot be checked against a slice — skipped
    // (not weakened) under sampling
    Option.when(sample.isEmpty)(Check("bm25_stats_doclen",
      nDocs == t("n") && total == t("t"),
      s"stats (n_docs=$nDocs, total=$total) vs doclen truth " +
        s"(${t("n")}, ${t("t")})")).toSeq ++ Seq(
      Check("bm25_postings_doclen_ids",
        t("orphans") == 0L && t("missing") == 0L,
        s"${t("orphans")} postings ids unknown to doclen (orphaned by a " +
          s"bad removal), ${t("missing")} doclen ids with dl>0 but no " +
          "postings"),
      Check("bm25_tf_sum_dl", t("tf_bad") == 0L,
        s"${t("tf_bad")} ids whose postings tf sum differs from doclen dl"),
      Check("bm25_bucket_routing", t("misrouted") == 0L,
        s"${t("misrouted")} postings rows outside their term's derived " +
          s"bucket (n_buckets=$nBuckets)"),
      if (hasTh) Check("bm25_th_multiset", t("th_bad") == 0L,
        s"${t("th_bad")} of ${t("th_covered")} th-carrying docs whose " +
          "postings term multiset no longer hashes to the stored th")
      else Check("bm25_th_multiset", ok = true,
        "store predates the th contract (doclen has no th column) — " +
          "content-level agreement not checkable; counts verified above"))
  }

  // ----- IVF / PQ vector stores ------------------------------------

  /** The vector store's cross-leg truths. Legs: `cells/` (id, vec|codes,
    * cell|cluster), optional `by_id/` sidecar (id, vec, idb) with its
    * `_id_buckets` meta, two-level adds `centroids/` + `router/`.
    *
    *  - `ivf_id_unique`: no id indexed twice in cells (a double append
    *    serves duplicate hits and breaks removal's exactly-once check).
    *  - `ivf_cells_by_id`: cells and by_id carry the SAME id set, each
    *    id once — a divergent sidecar serves vectors for erased docs
    *    (the right-to-erase window) or misses lookups.
    *  - `ivf_idb_routing`: by_id rows sit in pmod(id, _id_buckets) — a
    *    misrouted row is invisible to the partition-pruned lookup.
    *  - `ivf_cells_centroids` (two-level): every populated cluster has
    *    its centroid row — a probe routed to a centroid-less cluster
    *    reads nothing.
    *  - PQ stores (`codebooks/` beside `codes` cells): code integrity
    *    against the books — a code row of the wrong byte width or a
    *    code pointing past its subspace's book decodes GARBAGE in the
    *    ADC probe without erroring.
    */
  private def verifyIvf(spark: SparkSession, dir: String,
                        sample: Option[(Long, Long)]): Seq[Check] = {
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def has(leg: String) = fs.exists(new Path(s"$dir/$leg"))
    def leg(name: String) =
      slice(spark.read.parquet(s"$dir/$name"), "id", sample)
    val cells = leg("cells")
    // per-subspace book shape (m is small — this is driver-sized)
    val books = Option.when(has("codebooks") &&
        cells.columns.contains("codes")) {
      val b = spark.read.parquet(s"$dir/codebooks").groupBy("subspace")
        .agg(count(lit(1)).as("rows"),
          countDistinct(col("code")).as("k"),
          min(col("code").cast("long")).as("cmin"),
          max(col("code").cast("long")).as("cmax"))
        .collect()
        .map(r => r.getAs[Number]("subspace").longValue ->
          (r.getAs[Long]("rows"), r.getAs[Long]("k"),
            r.getAs[Long]("cmin"), r.getAs[Long]("cmax"))).toMap
      require(b.nonEmpty, s"$dir/codebooks is empty — not a PQ store")
      b
    }
    val m = books.fold(0)(_.size)
    // LAYOUT first: the bounds arithmetic below keys book sizes by
    // subspace POSITION and derives k from distinct codes, which is
    // only sound when subspace ids are dense 0..m-1 and each book's
    // codes are dense 0..k-1 (the writeIndexQuantized contract). An
    // offset/sparse layout must surface as ITS OWN finding — mapping
    // a missing subspace id to book size 0 would turn a layout
    // mismatch into false out-of-bounds verdicts
    val layoutOk = books.exists(b => b.keySet == (0L until m.toLong).toSet &&
      b.values.forall { case (rows, k, lo, hi) =>
        rows == k && lo == 0L && hi == k - 1L
      })
    // codes are an m-byte BINARY: read byte j as its unsigned value via
    // hex (codes are unsigned 0..ksub-1; toByte storage makes ≥128 read
    // negative anywhere signed — hex sidesteps that)
    val codeFlags = books.filter(_ => layoutOk).toSeq.flatMap { b =>
      ("bad_shape" -> when(length(col("codes")) =!= lit(m), 1L)) +:
        (0 until m).map(j => s"oob$j" -> when(
          length(col("codes")) === lit(m) &&
            conv(hex(substring(col("codes"), j + 1, 1)), 16, 10)
              .cast("long") >= b(j.toLong)._2, 1L))
    }
    val cellsById = cells.groupBy("id").agg(count(lit(1)).as("nc"),
      codeFlags.map { case (k, c) => sum(c).as(k) }: _*)
    val byId = Option.when(has("by_id"))(leg("by_id"))
    val buckets = byId.map(_ =>
      graft.operators.Ivf.idLookupBuckets(spark, s"$dir/by_id").toLong)
    // ONE probe over cells ⟗ by_id, both grouped by id: duplicates on
    // either side, ids on one side only, misrouted sidecar rows, and
    // the PQ code flags
    val sideSums = if (byId.isEmpty) Nil else Seq(
      "dup_side" -> when(col("nb") > 1L, 1L),
      "cells_only" -> when(col("nb").isNull, col("nc")),
      "side_only" -> when(col("nc").isNull, col("nb")),
      "misrouted" -> col("misrouted"))
    val t = tally(byId.fold(cellsById)(side => cellsById.join(
        side.groupBy("id").agg(count(lit(1)).as("nb"),
          sum(when(col("idb").cast("long") =!=
            pmod(col("id"), lit(buckets.get)), 1L)).as("misrouted")),
        Seq("id"), "full_outer")),
      Nil,
      (("dup_cells" -> when(col("nc") > 1L, 1L)) +: sideSums) ++
        codeFlags.map { case (k, _) => k -> col(k) }: _*)
    val out = Seq.newBuilder[Check]
    out += Check("ivf_id_unique", t("dup_cells") == 0L,
      s"${t("dup_cells")} ids indexed more than once in cells/")
    if (byId.isDefined) {
      out += Check("ivf_cells_by_id", t("dup_side") == 0L &&
        t("cells_only") == 0L && t("side_only") == 0L,
        s"${t("cells_only")} ids only in cells/, ${t("side_only")} only " +
          s"in by_id/ (erased-but-still-lookupable), ${t("dup_side")} " +
          "duplicated in by_id/")
      out += Check("ivf_idb_routing", t("misrouted") == 0L,
        s"${t("misrouted")} by_id rows outside pmod(id, ${buckets.get})")
    } else
      out += Check("ivf_cells_by_id", ok = true,
        "no by_id/ sidecar — cells-only store, nothing to cross-check")

    if (has("centroids")) {
      val pcol = if (cells.columns.contains("cluster")) "cluster" else "cell"
      val orphans = tally(cells.select(col(pcol).cast("long").as("c"))
        .distinct()
        .join(spark.read.parquet(s"$dir/centroids")
          .select(col("cluster").cast("long").as("c")).distinct(),
          Seq("c"), "left_anti"), Nil)("rows")
      out += Check("ivf_cells_centroids", orphans == 0L,
        s"$orphans populated clusters without a centroid row " +
          "(unreachable by any probe)")
    }

    books.foreach { b =>
      out += Check("pq_codebook_layout", layoutOk,
        if (layoutOk)
          s"$m subspaces 0..${m - 1}, each book's codes dense 0..k-1"
        else s"codebook layout violates the PQ contract (subspace ids " +
          s"${b.keySet.toSeq.sorted.mkString(",")} must be " +
          s"0..${m - 1}; per-book codes must be duplicate-free and " +
          "dense 0..k-1) — not a writeIndexQuantized store; code-vs-" +
          "book checks skipped as undecidable against this layout")
      if (layoutOk) {
        out += Check("pq_codes_shape", t("bad_shape") == 0L,
          s"${t("bad_shape")} code rows whose byte width differs from " +
            s"the $m codebook subspaces")
        // a subspace is out of bounds when any full-width row's code
        // there reaches past its book
        val outOfBounds = (0 until m).count(j => t(s"oob$j") > 0L)
        out += Check("pq_codes_bounds", outOfBounds == 0,
          s"$outOfBounds of $m subspaces whose used codes point past " +
            "their codebook (ADC would decode garbage)")
      }
    }
    out.result()
  }

  // ----- signature store (minhash base [+ settled sidecar]) --------

  /** Signature-store truths: ids unique; the settled sidecar (if any)
    * was signed with the SAME parameters as the base (the compactSettled
    * precondition, checked here read-only before it bites a fold). */
  private def verifySig(spark: SparkSession, dir: String, base: DataFrame,
                        sample: Option[(Long, Long)]): Seq[Check] = {
    val dup = tally(slice(base, "id", sample), Seq("id"))("dup")
    val sigKeys = Seq("shingle_n", "minhash_k", "bands")
    def params(df: DataFrame) = {
      val md = df.schema("bh").metadata
      sigKeys.map(k => Option.when(md.contains(k))(md.getLong(k)))
    }
    val baseParams = params(base)
    val settledP = Stores.settledOf(dir)
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(
      Check("sig_id_unique", dup == 0L,
        s"$dup ids signed more than once in the base store"),
      Check("sig_params", baseParams.forall(_.isDefined),
        s"base signature params ${sigKeys.zip(baseParams)}")) ++
      Option.when(fs.exists(new Path(settledP))) {
        val sParams = params(spark.read.parquet(settledP))
        Check("sig_settled_params", sParams == baseParams,
          s"settled sidecar params ${sigKeys.zip(sParams)} vs base " +
            s"${sigKeys.zip(baseParams)}")
      }
  }

  // ----- kept corpus store ------------------------------------------

  /** Kept-store truths, with the signature store when `sigPath` is
    * given:
    *  - `kept_id_unique`: a doc kept twice means an exactly-once sink
    *    violation.
    *  - `kept_settled_batches`: for every batch the settled sidecar
    *    carries, the kept partition holds EXACTLY the settled ids —
    *    fullIngest settles precisely what it keeps, per batch.
    *  - `kept_sig_coverage`: every kept id is signed (base ∪ settled) —
    *    an unsigned kept doc escapes all future dedup screens.
    *
    * With the pairing, kept, settled and base rows are grouped by id in
    * ONE shuffle; every check is a per-id count over that grouping. */
  private def verifyKept(spark: SparkSession, keptDf: DataFrame,
                         sigPath: Option[String], idCol: String,
                         sample: Option[(Long, Long)]): Seq[Check] = {
    val kept = slice(keptDf.select(col(idCol).cast("long").as("id"),
      col("batch_id").cast("long").as("batch_id")), "id", sample)
    def unique(dup: Long) = Check("kept_id_unique", dup == 0L,
      s"$dup ids kept more than once (exactly-once sink violation)")
    sigPath.fold(Seq(unique(tally(kept, Seq("id"))("dup")))) { sp =>
      val fs = new Path(sp)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val settledP = Stores.settledOf(sp)
      // every side cut by the SAME id rule, so slice agreement is exact
      // agreement; signature ids outside the slice cannot match sliced
      // kept ids — cutting them is free IO off the audit
      val settled = Option.when(fs.exists(new Path(settledP)))(
        slice(spark.read.parquet(settledP).select(
          col("id").cast("long").as("id"),
          col("batch_id").cast("long").as("batch_id")), "id", sample))
      val base = slice(Stores.readOrEmpty(spark, sp).select(
        col("id").cast("long").as("id"),
        lit(null).cast("long").as("batch_id")), "id", sample)
      // the batches the settled sidecar carries (one row per batch)
      val batches = settled.fold(Seq.empty[Long])(_.select("batch_id")
        .distinct().collect().toSeq
        .flatMap(r => Option.when(!r.isNullAt(0))(r.getLong(0))))
      def src(df: DataFrame, s: String) = df.withColumn("src", lit(s))
      val perId = (Seq(src(kept, "k"), src(base, "g")) ++
          settled.map(src(_, "s"))).reduce(_ unionByName _)
        .groupBy("id").agg(
          count(when(col("src") === "k", 1)).as("nk"),
          count(when(col("src") =!= "k", 1)).as("nsig"),
          collect_list(when(col("src") === "k", col("batch_id"))).as("kb"),
          collect_list(when(col("src") === "s", col("batch_id"))).as("sb"),
          count(when(col("src") === "s" && col("batch_id").isNull, 1))
            .as("s_null"))
      // a null id matches nothing, as in a join
      def in(bs: String)(b: Column) =
        col("id").isNotNull && array_contains(col(bs), b)
      val t = tally(perId, Nil,
        "dup" -> when(col("nk") > 1L, 1L),
        "only_settled" ->
          (col("s_null") + size(filter(col("sb"), b => !in("kb")(b)))),
        "only_kept" -> size(filter(col("kb"),
          b => b.isin(batches: _*) && !in("sb")(b))),
        "unsigned" ->
          when(col("nsig") === 0L || col("id").isNull, col("nk")))
      Seq(unique(t("dup"))) ++ settled.map(_ =>
        Check("kept_settled_batches",
          t("only_settled") == 0L && t("only_kept") == 0L,
          s"${t("only_settled")} settled ids missing from kept, " +
            s"${t("only_kept")} kept ids unsettled, across the settled " +
            "batches")) :+
        Check("kept_sig_coverage", t("unsigned") == 0L,
          s"${t("unsigned")} kept ids carry no signature in base ∪ " +
            "settled — they would escape every future dedup screen")
    }
  }

  // ----- stored LM (token, cnt) -------------------------------------

  /** LM-store truths: the metadata `total_tokens` every surprisal probe
    * divides by must equal Σ cnt of the rows (append/removal both
    * maintain it — drift means every stored-LM law serves wrong
    * centibits); tokens unique (appends FOLD counts, never append
    * rows); counts positive and present (a removal that drove one ≤ 0
    * should have deleted the row; a null count is no count). */
  private def verifyLm(df: DataFrame): Seq[Check] = {
    val md = df.schema("token").metadata
    val hasParams = md.contains("total_tokens") && md.contains("smoothing")
    val t = tally(df, Seq("token"), "cnt" -> col("cnt"),
      "non_pos" -> when(col("cnt") <= 0L || col("cnt").isNull, 1L))
    Seq(Check("lm_params", hasParams,
      if (hasParams) "build metadata present"
      else "token column carries no total_tokens/smoothing metadata — " +
        "not a writeLm store (or a schema-split append)")) ++
      Option.when(hasParams)(Check("lm_total_tokens",
        md.getLong("total_tokens") == t("cnt"),
        s"metadata total_tokens=${md.getLong("total_tokens")} vs " +
          s"Σ cnt=${t("cnt")}")) ++ Seq(
      Check("lm_token_unique", t("dup") == 0L,
        s"${t("dup")} tokens with more than one row (appends must FOLD)"),
      Check("lm_counts_positive", t("non_pos") == 0L,
        s"${t("non_pos")} rows with cnt ≤ 0 or null (removals must " +
          "delete emptied rows)"))
  }

  // ----- stored vocabulary (token, cnt + top_k metadata) -------------

  /** Vocab-store truths (Vocab.writeVocab): the build-params metadata
    * every drift probe reads (top_k, the build corpus's own
    * baseline_oov_bp); at most top_k rows (a store that outgrew its
    * declared k was appended to by hand — vocabDrift would then
    * under-report OOV against a vocabulary wider than its baseline
    * measured); tokens unique; counts positive; baseline a legal
    * basis-point value. */
  private def verifyVocab(df: DataFrame): Seq[Check] = {
    val md = df.schema("token").metadata
    val hasParams = md.contains("top_k") && md.contains("baseline_oov_bp")
    val t = tally(df, Seq("token"),
      "bad" -> when(col("cnt") <= 0L || col("cnt").isNull, 1L),
      "null_token" -> when(col("token").isNull, 1L))
    val n = t("rows")
    // rows beyond one per distinct token; a null token is no token
    val dup = n - t("groups") + math.min(t("null_token"), 1L)
    Seq(Check("vocab_params", hasParams,
      if (hasParams) s"top_k=${md.getLong("top_k")} " +
        s"baseline_oov_bp=${md.getLong("baseline_oov_bp")}"
      else "token column carries no top_k/baseline_oov_bp metadata — " +
        "not a writeVocab store; rebuild it")) ++
      (if (!hasParams) Nil else {
        val (k, bp) = (md.getLong("top_k"), md.getLong("baseline_oov_bp"))
        Seq(Check("vocab_topk_size", n <= k,
          s"$n rows vs declared top_k=$k (more rows than the declared k " +
            "means a by-hand append widened the vocabulary past its " +
            "measured baseline)"),
          Check("vocab_baseline_range", bp >= 0L && bp <= 10000L,
            s"baseline_oov_bp=$bp (legal range 0..10000)"))
      }) ++ Seq(
      Check("vocab_token_unique", dup == 0L,
        s"$dup duplicated tokens (a duplicate double-counts membership " +
          "in every OOV probe)"),
      Check("vocab_counts_positive", t("bad") == 0L,
        s"${t("bad")} rows with cnt ≤ 0 or null"))
  }

  // ----- DSIR importance-weight table (bucket, ct, cr, w_bits) -------

  /** DSIR weight-table truths (Dsir.bucketWeights / finishWeights):
    *  - `dsir_params`: bucket metadata (buckets, key_mode) present —
    *    score() refuses without it, so a stripped table serves nobody.
    *  - `dsir_spine_complete`: exactly `buckets` rows with bucket ids
    *    dense 0..buckets-1 — the all-buckets spine contract; a lost or
    *    duplicated row silently skews every score join.
    *  - `dsir_counts_sane`: ct/cr non-null and ≥ 0.
    *  - `dsir_weights_law`: every w_bits equals the integer-bits law
    *    recomputed from the STORED counts and their totals,
    *    w = [bits(ct+1) − bits(Nt+B)] − [bits(cr+1) − bits(Nr+B)] —
    *    exact integer arithmetic, so one drifted weight (a bad hand
    *    merge, a partial rewrite) is caught, not averaged away.
    *
    * The law's totals come first, from their own probe. */
  private def verifyDsir(df: DataFrame): Seq[Check] = {
    val md = df.schema("bucket").metadata
    val hasParams = md.contains("buckets") && md.contains("key_mode")
    def bits(c: Column) = length(conv(c, 10, 2)).cast("long")
    val totals = tally(df, Nil, "nt" -> col("ct"), "nr" -> col("cr"))
    val (nt, nr) = (totals("nt"), totals("nr"))
    val b = if (hasParams) md.getLong("buckets") else -1L
    val t = tally(df, Seq("bucket"),
      "outside" -> when(col("bucket").isNull || col("bucket") < 0L ||
        col("bucket") >= b, 1L),
      "badc" -> when(col("ct").isNull || col("cr").isNull ||
        col("ct") < 0L || col("cr") < 0L, 1L),
      "badw" -> when(col("w_bits").isNull ||
        col("w_bits") =!= ((bits(col("ct") + 1) - bits(lit(nt + b))) -
          (bits(col("cr") + 1) - bits(lit(nr + b)))), 1L))
    Seq(Check("dsir_params", hasParams,
      if (hasParams) s"buckets=$b key_mode=${md.getString("key_mode")}"
      else "bucket column carries no buckets/key_mode metadata — not a " +
        "Dsir.bucketWeights table; refit it")) ++
      (if (!hasParams) Nil else Seq(
        // b rows in b distinct buckets, none outside [0, b-1]: dense
        Check("dsir_spine_complete", t("rows") == b && t("groups") == b &&
          t("outside") == 0L,
          s"${t("rows")} rows, ${t("groups")} distinct buckets, " +
            s"${t("outside")} rows outside [0, ${b - 1}] vs declared " +
            s"buckets=$b (the spine must be dense 0..${b - 1})"),
        Check("dsir_weights_law", t("badw") == 0L,
          s"${t("badw")} rows whose stored w_bits differs from the " +
            "integer-bits law recomputed over the stored counts " +
            s"(Nt=$nt, Nr=$nr, B=$b)"))) :+
      Check("dsir_counts_sane", t("badc") == 0L,
        s"${t("badc")} rows with null/negative ct or cr")
  }

  // ----- ingest funnel (live per-batch store or folded _hist) --------

  /** Funnel-store truths (the per-batch ingest report rows of
    * quality/relevance/full ingest, and their compactFunnel `_hist`
    * fold — both read through `readFunnel`):
    *  - `funnel_batch_unique`: one row per batch_id in THIS dir (a
    *    second row means a replay appended instead of replacing; the
    *    live-wins shadowing across live∪hist is by design and not a
    *    violation — each dir individually must still be exactly-once).
    *  - `funnel_counts_sane`: n_in/n_kept non-null and ≥ 0, every
    *    kill-tier ≥ 0, n_kept ≤ n_in.
    *  - `funnel_tier_law` (when any `n_*_killed` tier column exists —
    *    the tiered ingest forms): per row, Σ tiers + n_kept == n_in —
    *    the telescoping attribution law every tier subtraction
    *    maintains; absent tiers (pre-upgrade rows in a merged read)
    *    count as zero, which is exact because the old pipeline cut
    *    nothing at the tier it did not have.
    *  - `funnel_kept_bp` (when kept_bp exists): the stored basis-point
    *    rate equals floor(n_kept·10⁴/n_in) (0 for an empty batch).
    */
  private def verifyFunnel(df: DataFrame): Seq[Check] = {
    val tiers = df.columns.filter(c =>
      c.startsWith("n_") && c.endsWith("_killed")).toSeq
    val hasBp = df.columns.contains("kept_bp")
    val tier = tiers.map(c => coalesce(col(c).cast("long"), lit(0L)))
    val t = tally(df, Seq("batch_id"),
      Seq("insane" -> when(col("n_in").isNull || col("n_in") < 0 ||
        col("n_kept").isNull || col("n_kept") < 0 ||
        col("n_kept") > col("n_in") ||
        tier.map(_ < 0L).foldLeft(lit(false))(_ || _), 1L),
      "lawbad" -> when(tier.foldLeft(lit(0L))(_ + _) + col("n_kept") =!=
        col("n_in"), 1L)) ++
      Option.when(hasBp)("bpbad" -> when(col("kept_bp") =!=
        when(col("n_in") > 0, floor(col("n_kept") * 10000 / col("n_in")))
          .otherwise(0L), 1L)): _*)
    Seq(
      Check("funnel_batch_unique", t("dup") == 0L,
        s"${t("dup")} batch_ids with more than one row in this dir (a " +
          "replay must REPLACE its row)"),
      Check("funnel_counts_sane", t("insane") == 0L,
        s"${t("insane")} rows with null/negative counts, negative " +
          "tiers, or n_kept > n_in")) ++
      Option.when(tiers.nonEmpty)(Check("funnel_tier_law",
        t("lawbad") == 0L,
        s"${t("lawbad")} rows where Σ(${tiers.mkString(",")}) + n_kept " +
          "≠ n_in (the telescoping attribution law)")) ++
      Option.when(hasBp)(Check("funnel_kept_bp", t("bpbad") == 0L,
        s"${t("bpbad")} rows whose kept_bp differs from " +
          "floor(n_kept*10000/n_in)"))
  }

  // ----- corpus stats snapshot table ---------------------------------

  /** Corpus-stats-store truths (CorpusStats.appendSnapshot[Idempotent]):
    * every row is one batch's mergeable accumulator, so per-ROW laws
    * hold exactly:
    *  - `stats_nonneg`: all counts/sums ≥ 0 and non-null.
    *  - `stats_blank_bound`: n_blank ≤ n_docs.
    *  - `stats_hist_bound`: Σ tok_hist ≤ n_docs (each doc lands in at
    *    most one bucket; docs beyond the histogram's range land in
    *    none, so ≤ is the law, not ==).
    *  - `stats_moments_feasible`: n_docs·sum_tokens_sq ≥ sum_tokens²
    *    (Cauchy–Schwarz — violated only by a corrupted moment column;
    *    exact DECIMAL arithmetic, no float slack).
    *  - `stats_batch_unique` (idempotent layout): ONE snapshot row per
    *    batch_id — a second row means a replay double-counted instead
    *    of replacing.
    *  - `stats_sketch_mergeable`: the HLL sketches union (the pinned-
    *    lgK contract every readReport depends on) and estimate finite.
    */
  private def verifyStats(df: DataFrame): Seq[Check] = {
    val byBatch = df.columns.contains("batch_id")
    val t = tally(df, if (byBatch) Seq("batch_id") else Nil,
      "neg" -> when(Seq("n_docs", "sum_tokens", "sum_tokens_sq", "n_blank")
        .map(c => col(c).isNull || col(c) < 0).reduce(_ || _), 1L),
      "blankover" -> when(col("n_blank") > col("n_docs"), 1L),
      "histover" -> when(aggregate(col("tok_hist"), lit(0L),
        (a, x) => a + x) > col("n_docs").cast("long"), 1L),
      "infeasible" -> when(col("n_docs") * col("sum_tokens_sq") <
        col("sum_tokens") * col("sum_tokens"), 1L))
    // the merge law every readReport runs: sketches only union at one
    // lgConfigK — a snapshot appended at a different precision breaks
    // every future report, so surface it here as a finding
    val mergeable =
      try {
        val est = df.agg(hll_sketch_estimate(
          hll_union_agg(col("fp_sketch"))).as("e")).head()
        !est.isNullAt(0) && est.getLong(0) >= 0L
      } catch { case scala.util.control.NonFatal(_) => false }
    Seq(
      Check("stats_nonneg", t("neg") == 0L,
        s"${t("neg")} rows with null/negative counts"),
      Check("stats_blank_bound", t("blankover") == 0L,
        s"${t("blankover")} rows where n_blank > n_docs"),
      Check("stats_hist_bound", t("histover") == 0L,
        s"${t("histover")} rows whose histogram counts more docs than " +
          "n_docs"),
      Check("stats_moments_feasible", t("infeasible") == 0L,
        s"${t("infeasible")} rows violating n_docs·sum_tokens_sq ≥ " +
          "sum_tokens² (Cauchy–Schwarz — a corrupted moment column)")) ++
      Option.when(byBatch)(Check("stats_batch_unique", t("dup") == 0L,
        s"${t("dup")} batch_id partitions holding more than one " +
          "snapshot row (a replay must REPLACE its row, never append)")) :+
      Check("stats_sketch_mergeable", mergeable,
        if (mergeable) "fp sketches union cleanly (one lgConfigK)"
        else "fp_sketch rows do NOT union — a snapshot was written at a " +
          "different lgConfigK (or a sketch is corrupt); readReport " +
          "would fail; rebuild the offending snapshot rows")
  }

  // ----- stored long-match window index (gk, df) ---------------------

  /** Long-match-index truths: build params present (a probe keyed
    * differently silently misses every match); gram keys unique
    * (appends fold occurrence counts); df positive and present. */
  private def verifyLongMatch(df: DataFrame): Seq[Check] = {
    val md = df.schema("gk").metadata
    val hasParams = md.contains("min_len") && md.contains("key_mode")
    val t = tally(df, Seq("gk"),
      "non_pos" -> when(col("df") <= 0L || col("df").isNull, 1L))
    Seq(
      Check("longmatch_params", hasParams,
        if (hasParams) s"min_len=${md.getLong("min_len")} " +
          s"key_mode=${md.getString("key_mode")}"
        else "gk column carries no min_len/key_mode metadata — not a " +
          "longMatchIndex store"),
      Check("longmatch_gk_unique", t("dup") == 0L,
        s"${t("dup")} gram keys with more than one row (appends must " +
          "FOLD)"),
      Check("longmatch_df_positive", t("non_pos") == 0L,
        s"${t("non_pos")} rows with df ≤ 0 or null (removals must " +
          "delete emptied rows)"))
  }

  // ----- autoencoder weight store (layer, row_idx, w, bias) ----------

  /** Weight-store truths — the states `Autoencoder.load` would
    * SILENTLY mis-assemble into a wrong-but-running model (the worst
    * failure class for a scorer):
    *  - `model_rows_unique`: one row per (layer, row_idx) — a
    *    duplicated row widens a matrix without erroring.
    *  - `model_layers_contiguous` / `model_rows_contiguous`: indexes
    *    are 0..n-1 with no gaps — load assembles positionally, so a
    *    gap silently SHIFTS every later layer/row.
    *  - `model_rect_chain`: within a layer every weight vector has one
    *    width, and layer l+1's width equals layer l's row count — the
    *    matmul chain the forward pass runs.
    *  - `model_finite`: no null/NaN weights or biases.
    *
    * One grouping pass collects the per-layer shape (a handful of
    * rows) that every check reads. */
  private def verifyModel(df: DataFrame): Seq[Check] = {
    // NOTE exists(null, …) is null, not false — a row whose whole w
    // array is NULL must fail via the explicit isNull disjunct, and
    // ±Infinity slips past isnan, so bound the magnitude too
    def bad1(c: Column) =
      c.isNull || isnan(c) || abs(c) > lit(Double.MaxValue)
    val shapes = df.groupBy("layer").agg(
        count(lit(1)).as("rows"),
        size(collect_set(col("row_idx"))).cast("long").as("idx"),
        min(col("row_idx")).as("rmin"), max(col("row_idx")).as("rmax"),
        size(collect_set(size(col("w")))).cast("long").as("widths"),
        first(size(col("w"))).as("width"),
        count(when(bad1(col("bias")) || col("w").isNull ||
          exists(col("w"), x => bad1(x)), 1)).as("bad"))
      .collect().sortBy(_.getAs[Int]("layer"))
    def total(c: String) = shapes.map(_.getAs[Long](c)).sum
    val dup = total("rows") - total("idx")
    val layers = shapes.map(r => r.getAs[Int]("layer"))
    val layersOk = layers.toSeq == layers.indices.toSeq
    val rowsOk = shapes.forall(r => r.getAs[Int]("rmin") == 0 &&
      r.getAs[Int]("rmax").toLong == r.getAs[Long]("rows") - 1L)
    val rectOk = shapes.forall(_.getAs[Long]("widths") == 1L)
    val chainOk = layersOk && shapes.sliding(2).forall {
      case Array(a, b) =>
        b.getAs[Int]("width").toLong == a.getAs[Long]("rows")
      case _ => true
    }
    Seq(
      Check("model_rows_unique", dup == 0L,
        s"$dup duplicated (layer, row_idx) rows (load would widen the " +
          "matrix silently)"),
      Check("model_layers_contiguous", layersOk,
        s"layers ${layers.mkString(",")} (must be " +
          s"0..${layers.length - 1})"),
      Check("model_rows_contiguous", rowsOk,
        shapes.map(r => s"layer ${r.getAs[Int]("layer")}: rows " +
          s"${r.getAs[Long]("rows")} idx [${r.getAs[Int]("rmin")}," +
          s"${r.getAs[Int]("rmax")}]").mkString("; ")),
      Check("model_rect_chain", rectOk && chainOk,
        shapes.map(r => s"layer ${r.getAs[Int]("layer")}: " +
          s"${r.getAs[Long]("rows")}x${r.getAs[Int]("width")}")
          .mkString(" -> ")),
      Check("model_finite", total("bad") == 0L,
        s"${total("bad")} rows with null/NaN/±Inf weights or bias"))
  }

  // ----- model registry (model, version, stage, …) --------------------

  /** Registry truths:
    *  - `registry_version_unique`: one row per (model, version) — a
    *    duplicate makes `latest` nondeterministic between two rows
    *    claiming the same version.
    *  - `registry_production_single`: at most one Production holder
    *    per model — the archive-existing law `transition` maintains;
    *    two holders mean a by-hand write bypassed it.
    *
    * Both are per-model counts: one grouping by model, one probe. */
  private def verifyRegistry(df: DataFrame): Seq[Check] = {
    val t = tally(df.groupBy("model").agg(
        collect_list(col("version")).as("vs"),
        count(when(col("stage") === "Production", 1)).as("prod")),
      Nil,
      "dup" -> (size(col("vs")) - size(array_distinct(col("vs")))),
      "multi_prod" -> when(col("prod") > 1L, 1L))
    Seq(
      Check("registry_version_unique", t("dup") == 0L,
        s"${t("dup")} duplicated (model, version) rows"),
      Check("registry_production_single", t("multi_prod") == 0L,
        s"${t("multi_prod")} models with more than one Production " +
          "version (the transition archive-existing law was bypassed)"))
  }

  // ----- eval-gram decontamination index ----------------------------

  /** Eval-gram store truths:
    *  - `evalgram_schema_marker`: the `_schema` marker exists and
    *    carries the build params (shingle_n, key_mode) — without it an
    *    all-retired store can never be re-signed.
    *  - `evalgram_params_agree`: the live data's gk metadata matches
    *    the marker's — a drifted marker re-signs future suites with
    *    the WRONG key mode, silently zeroing all their probe hits.
    *  - `evalgram_suite_names`: every suite partition name is in the
    *    portable alphabet the writer enforces.
    */
  private def verifyEvalGrams(spark: SparkSession, dir: String,
                              live: DataFrame): Seq[Check] = {
    val out = Seq.newBuilder[Check]
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markerP = new Path(s"$dir/_schema")
    val hasMarker = fs.exists(markerP)
    out += Check("evalgram_schema_marker", hasMarker,
      if (hasMarker) "_schema marker present"
      else "_schema marker MISSING — an all-retired store cannot be " +
        "re-signed; rebuild with writeEvalIndex")
    def params(df: DataFrame): Option[(Long, String)] = {
      val md = df.schema("gk").metadata
      if (md.contains("shingle_n") && md.contains("key_mode"))
        Some((md.getLong("shingle_n"), md.getString("key_mode")))
      else None
    }
    val markerParams =
      if (hasMarker) params(spark.read.parquet(s"$dir/_schema")) else None
    if (hasMarker)
      out += Check("evalgram_marker_params", markerParams.isDefined,
        s"marker build params: $markerParams")
    val liveSuites = Stores.partitionValues(spark, dir, "suite")
    if (liveSuites.nonEmpty) {
      // with live suites present, the frame detect read IS the live data
      val liveParams = params(live)
      out += Check("evalgram_params_agree",
        liveParams.isDefined && (!hasMarker || liveParams == markerParams),
        s"live data params $liveParams vs marker $markerParams")
      val bad = liveSuites.filterNot(_.matches("[0-9A-Za-z_.-]+"))
      out += Check("evalgram_suite_names", bad.isEmpty,
        if (bad.isEmpty) s"${liveSuites.length} suites, all well-named"
        else s"ill-named suite partitions: ${bad.mkString(",")}")
    }
    out.result()
  }
}
