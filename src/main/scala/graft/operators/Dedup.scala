package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Hashing
import graft.functions.TextFunctions._

/** Deduplication operators for a large-scale corpus: exact, canonical-
  * fingerprint, MinHash+LSH, and SimHash. The common scale design: never
  * compare all pairs — bucket by a cheap deterministic key (full hash,
  * band hash, simhash band), join only inside buckets, then verify
  * candidates with the exact measure. All hashing is xxhash64/md5 with
  * fixed seeds, so results are reproducible across runs and cluster
  * sizes.
  *
  * Skew control (100 TB): a heavily duplicated document produces one
  * huge LSH bucket, and the candidate self-join on that bucket is
  * quadratic. Two defenses, both on by default: run exact dedup FIRST
  * (collapses identical texts so buckets hold only genuinely-near
  * neighbors), and an enforced per-bucket candidate cap — buckets larger
  * than `maxBucket` are excluded from the self-join (a bucket that big
  * is a duplicate *cluster*; its members are better collapsed by the
  * exact/canonical tiers than enumerated pairwise).
  */
object Dedup {

  /** Exact dedup: one representative (min id) per identical value of
    * `keyCols`; group size recorded. A hash-aggregate, no pairwise work. */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup keeping the BEST row per group instead of the min id —
    * the usual corpus policy (keep the highest-quality / longest
    * representative). `max_by` over (score, id) is deterministic under
    * ties and stays a single hash-aggregate — no window, no second
    * scan. */
  def exactKeepBest(df: DataFrame, idCol: String, keyCols: Seq[String],
                    scoreCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(
        max_by(col(idCol), struct(col(scoreCol), col(idCol))).as("keep_id"),
        count(lit(1)).as("n_dups"),
        max(col(scoreCol)).as("best_score"))

  /** Canonical-fingerprint dedup: collapse token-order-insensitive
    * near-copies via the sorted-distinct-token md5 (TextFunctions
    * .fingerprint). Same cost shape as exact dedup. */
  def canonical(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** The bucket keys of every minhash-family banded frame. */
  private val BandKeys = Seq("band", "key")

  /** (id, band, key) rows of a [[minhashSignatures]] frame — the banded
    * input of the minhash candidate joins and cap reports. */
  private def minhashBands(sig: DataFrame): DataFrame =
    sig.select(col("id"), posexplode(col("bh")).as(BandKeys))

  /** Cap report for the minhash LSH tier: how many (band, key) buckets
    * exceed `maxBucket` (and would be excluded from the candidate
    * self-join), how many banded rows sit inside them, and the hottest
    * bucket's size. Run it when a dedup pass on a new corpus returns
    * suspiciously few pairs — boilerplate-heavy corpora push their
    * shared blocks over the cap, and THIS is the signal to route those
    * docs through the exact tiers instead of raising the cap. */
  def minhashCapReport(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                       maxBucket: Int = 1000): DataFrame =
    BandedJoin.capStats(
      minhashBands(minhashSignatures(df, idCol, textCol, shingleN, k, bands)),
      BandKeys, maxBucket)

  /** Cap report for the incremental / fuzzy-decontamination shape:
    * one row per capped SIDE ("corpus"/"index" buckets at `maxBucket`,
    * "batch" at `maxBatchBucket`; a batch row appears only when the
    * batch side is capped at all — the ingest default leaves it
    * uncapped). Columns: side + the [[BandedJoin.capStats]] quartet. */
  def incrementalCapReport(incoming: DataFrame, idCol: String,
                           textCol: String, corpusSig: DataFrame,
                           shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                           maxBucket: Int = 1000,
                           maxBatchBucket: Int = 0): DataFrame = {
    val cSide = BandedJoin.capStats(minhashBands(corpusSig), BandKeys,
      maxBucket).select(lit("corpus").as("side"), col("*"))
    if (maxBatchBucket <= 0) cSide
    else cSide.unionByName(BandedJoin.capStats(
      minhashBands(minhashSignatures(incoming, idCol, textCol, shingleN, k,
        bands)), BandKeys, maxBatchBucket)
      .select(lit("batch").as("side"), col("*")))
  }

  /** (id, sh, bh) MinHash signature frame: shingle set + banded
    * signature keys per document, computed as tight JVM loops in one
    * mapPartitions pass. PUBLIC because this frame IS the storable
    * near-dup index — persist it (parquet) once per corpus state and
    * feed it to `incrementalNearDup` so settled text is never
    * re-shingled per ingest (the near-dup analogue of
    * `fingerprintIndex`). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, k: Int = 32,
                        bands: Int = 8): DataFrame = {
    require(bands > 0 && k % bands == 0, "bands must divide k")
    val spark = df.sparkSession
    import spark.implicits._
    // the build parameters ride along as field metadata on `bh` (Spark
    // persists field metadata through parquet), so a stored index is
    // self-describing and `incrementalNearDup` can reject a mismatched
    // one loudly instead of returning silently-low recall
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("shingle_n", shingleN.toLong)
      .putLong("minhash_k", k.toLong)
      .putLong("bands", bands.toLong)
      .build()
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val sh = Hashing.shingleSet(text, shingleN)
          (id, sh, Hashing.bandKeys(Hashing.minhash(sh, k), bands))
        }
      }
      .toDF("id", "sh", "bh")
      .withColumn("bh", col("bh").as("bh", meta))
  }

  /** The signature parameters `keys` a stored signature frame carries
    * on `field`'s metadata; refuses a frame that cannot state them. */
  private[graft] def sigParams(sig: DataFrame, field: String,
                               keys: Seq[String],
                               builder: String): Seq[(String, Long)] = {
    require(sig.schema.fieldNames.contains(field),
      s"signature index has no '$field' column; build it with $builder")
    val md = sig.schema(field).metadata
    keys.map { key =>
      require(md.contains(key),
        s"signature index carries no '$key' metadata; rebuild it with " +
          s"$builder (stored indexes from before the parameter contract " +
          "must be regenerated)")
      key -> md.getLong(key)
    }
  }

  /** Contract check for stored signature indexes: candidates only form
    * when batch and index agree on every signature parameter, so a
    * stale / differently-built index MUST fail loudly — silent
    * low recall is the failure mode this guards against. */
  private[graft] def requireSigParams(sig: DataFrame, field: String,
                                      expect: Seq[(String, Long)],
                                      builder: String): Unit =
    sigParams(sig, field, expect.map(_._1), builder).zip(expect).foreach {
      case ((key, got), (_, want)) =>
        require(got == want,
          s"signature-index parameter mismatch: index was built with " +
            s"$key=$got but this call uses $key=$want — signatures of a " +
            s"different index; batch and index must be built with " +
            s"identical $builder parameters")
    }

  /** Candidate pairs with their shingle sets attached: the shared core
    * of the MinHash tier. Output: (id_a, id_b, sh_a, sh_b). */
  private def minhashCandidates(df: DataFrame, idCol: String,
                                textCol: String, shingleN: Int, k: Int,
                                bands: Int, maxBucket: Int): DataFrame =
    minhashCandidatesFromSigs(
      minhashSignatures(df, idCol, textCol, shingleN, k, bands), maxBucket)

  private def minhashCandidatesFromSigs(sigIn: DataFrame,
                                        maxBucket: Int): DataFrame = {
    val sig = BandedJoin.shared(sigIn)
    BandedJoin.joinBack(
      BandedJoin.selfPairs(minhashBands(sig), BandKeys, maxBucket,
        ordered = true),
      sig, Seq("sh"), "id_a" -> "_a", "id_b" -> "_b")
  }

  /** MinHash+LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * Pipeline: shingle → signature → band buckets (capped) → self-join
    * within (band, bucket) → distinct candidate pairs → join shingle
    * sets back → exact jaccard ≥ threshold. Only candidate pairs (band
    * collisions) are ever verified — the all-pairs cross join never
    * materializes.
    *
    * The signature DataFrame is consumed three times (band explode and
    * both candidate joinbacks), so it is persisted MEMORY_AND_DISK —
    * without that, 100 TB of text would be re-shingled three times. The
    * persist is registered with graft.core.Caching; harness loops call
    * `Caching.releaseAll()` after materializing each result so cached
    * blocks don't accumulate across a long-lived session.
    *
    * The per-row kernels (shingling, k-hash signature, band folding) run
    * as tight JVM loops in mapPartitions (graft.functions.Hashing); the
    * equivalent Catalyst higher-order-function expressions interpret one
    * boxed node per shingle×hash and measured ~20× slower. The join
    * structure stays declarative so Catalyst/AQE still plan the shuffles.
    */
  def minhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                     threshold: Double = 0.8,
                     maxBucket: Int = 1000): DataFrame =
    minhashCandidates(df, idCol, textCol, shingleN, k, bands, maxBucket)
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** MinHash near-dup with the verify in EXACT integer arithmetic:
    * emits |A∩B| and |A∪B| and filters `inter * thrDen >= uni * thrNum`
    * (jaccard ≥ thrNum/thrDen with no float in the comparison), so the
    * pair set and every output column are bit-stable across engines —
    * the oracle-checkable form of the tier. */
  def minhashNearDupCounts(df: DataFrame, idCol: String, textCol: String,
                           shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                           thrNum: Int = 4, thrDen: Int = 5,
                           maxBucket: Int = 1000): DataFrame =
    minhashNearDupCountsFromSigs(
      minhashSignatures(df, idCol, textCol, shingleN, k, bands),
      thrNum, thrDen, maxBucket)

  /** [[minhashNearDupCounts]] over a PRE-SIGNED frame — the sign-once
    * form (fullIngest self-dedups each batch from the same signatures
    * its cross screen and settle-append use). */
  def minhashNearDupCountsFromSigs(sig: DataFrame,
                                   thrNum: Int = 4, thrDen: Int = 5,
                                   maxBucket: Int = 1000): DataFrame =
    jaccardCounts(minhashCandidatesFromSigs(sig, maxBucket),
      "id_a", "id_b", "sh_a", "sh_b", thrNum, thrDen)

  /** First 15 hex chars of md5 parsed as a 60-bit non-negative long —
    * the cross-engine hash family (the q86 keyMode="md5" recipe): ANSI
    * SQL parses the identical prefix, so every hash-derived key
    * replays bit-for-bit in the oracle. */
  private def md5Long60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Certification twin of [[minhashNearDup]]: the SAME pipeline shape
    * — shingle set → k-hash signature → banded bucket keys → capped
    * bucket self-join → exact integer-arithmetic verify — with every
    * hash drawn from md5 (h_i(s) = md5Long60 of "i:s"; band key =
    * md5Long60 of the band's comma-joined signature values), so the
    * whole LSH tier, banding and capping included, replays bit-for-bit
    * in ANSI SQL. Production runs the seeded JVM-kernel tier
    * ([[minhashNearDup]] — one mapPartitions pass, no interpreted md5
    * per shingle×hash); this twin certifies the banding/bucket/verify
    * LOGIC directly against the oracle rather than standing behind the
    * exhaustive-pairs proxy (q45). Defaults are smaller than the
    * production tier (k=16, bands=4 — md5 is ~an order of magnitude
    * pricier per hash than the mixed family) but keep the same
    * rows-per-band ratio, hence the same per-band collision bar. */
  def minhashNearDupMd5(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, k: Int = 16, bands: Int = 4,
                        thrNum: Int = 4, thrDen: Int = 5,
                        maxBucket: Int = 1000): DataFrame = {
    require(bands > 0 && k % bands == 0, "bands must divide k")
    require(thrNum > 0 && thrDen > 0, "threshold must be positive")
    val r = k / bands
    // banded (through the k-min aggregate) and joined back: shared
    val sh = BandedJoin.shared(
      df.select(col(idCol).cast("long").as("id"),
        graft.functions.TextFunctions.shingles(col(textCol), shingleN)
          .as("shs")))
    val e = sh.select(col("id"), explode(col("shs")).as("s"))
    // k mins in ONE aggregate over the exploded shingles — no k-way
    // row blowup; each hash is a column expression over the same row
    val minCols = (0 until k).map(i =>
      min(md5Long60(concat(lit(s"$i:"), col("s")))).as(s"__m$i"))
    val mins = e.groupBy(col("id")).agg(minCols.head, minCols.tail: _*)
    val bandCols = (0 until bands).map { b =>
      md5Long60(concat_ws(",",
        (b * r until (b + 1) * r).map(i => col(s"__m$i").cast("string")): _*))
    }
    val cand = BandedJoin.selfPairs(
      mins.select(col("id"), posexplode(array(bandCols: _*)).as(BandKeys)),
      BandKeys, maxBucket, ordered = true)
    jaccardCounts(
      BandedJoin.joinBack(cand, sh, Seq("shs"), "id_a" -> "_a", "id_b" -> "_b"),
      "id_a", "id_b", "shs_a", "shs_b", thrNum, thrDen)
  }

  /** Exact integer-arithmetic jaccard verify of joined-back shingle
    * sets: (a, b, inter, uni) rows with inter·thrDen ≥ uni·thrNum. */
  private def jaccardCounts(pairs: DataFrame, a: String, b: String,
                            shA: String, shB: String,
                            thrNum: Int, thrDen: Int): DataFrame =
    pairs
      .select(col(a), col(b),
        size(array_intersect(col(shA), col(shB))).cast("long").as("inter"),
        size(array_union(col(shA), col(shB))).cast("long").as("uni"))
      .filter(col("inter") * thrDen >= col("uni") * thrNum)

  /** Certification twin of [[simhashNearDup]]: 60-bit SimHash (the
    * md5Long60 family width) built from pure column expressions — one
    * token explode, one 60-column vote aggregate, band keys by bit
    * slicing, capped bucket self-join, bit_count hamming verify — so
    * the whole tier replays bit-for-bit in ANSI SQL. Token
    * MULTIPLICITY votes, matching Hashing.simhash64. Documents with
    * zero tokens have no hash votes and are absent (the seeded tier
    * gives them the all-zeros fingerprint instead; both engines agree
    * here by construction). 6 bands × 10 bits guarantee recall to
    * hamming 5. */
  def simhashNearDupMd5(df: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 5, maxBucket: Int = 1000,
                        bands: Int = 6): DataFrame = {
    val bits = 60
    require(bands > 0 && bits % bands == 0, s"bands must divide $bits")
    require(maxHamming < bands,
      s"$bands bands guarantee recall only to hamming ${bands - 1}")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1L
    val th = df.select(col(idCol).cast("long").as("id"),
        explode(graft.functions.TextFunctions.tokens(col(textCol)))
          .as("t"))
      .select(col("id"), md5Long60(col("t")).as("h"))
    val voteCols = (0 until bits).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"__v$j"))
    val votes = th.groupBy(col("id")).agg(voteCols.head, voteCols.tail: _*)
    val shCol = (0 until bits).map(j =>
      when(col(s"__v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    hammingPairs(votes.select(col("id"), shCol.as("sh"))
      .select(col("id"), col("sh"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("sh"), b * bandBits).bitwiseAND(lit(mask))): _*))
          .as(BandKeys)), maxBucket, maxHamming)
  }

  /** The simhash verify over a banded (id, sh, band, key) frame: capped
    * self-pairs carrying the fingerprint, hamming ≤ maxHamming. */
  private def hammingPairs(banded: DataFrame, maxBucket: Int,
                           maxHamming: Int): DataFrame =
    BandedJoin.selfPairs(banded, BandKeys, maxBucket, ordered = true)
      .select(col("id_a"), col("id_b"),
        hamming(col("sh_a"), col("sh_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)

  /** Threshold-sweep study for dedup tuning: the exact-Jaccard
    * histogram over shingle-sharing candidate pairs, binned into
    * `binBp`-wide buckets with a top-down cumulative — "how many pairs
    * would a near-dup pass at threshold t collapse?" Run BEFORE
    * committing to a threshold: the knee of `n_pairs_ge` is where the
    * corpus's natural duplication ends and template noise begins.
    *
    * Candidates are COMPLETE above jaccard 0 by construction (any pair
    * with a shared shingle shares a block; no minhash, no seeds), so
    * the whole sweep is exact integer arithmetic and SQL-replayable —
    * unlike the LSH tiers, whose banding would silently shape the low
    * bins. `maxDf` drops shingle blocks present in more than that many
    * documents (common-phrase / IDF logic, the winnow tier's argument;
    * it also bounds the pair explosion at maxDf² per block). maxDf = 0
    * disables the cap — the certification setting; production keeps a
    * cap and reads bins above the cap's dilution floor.
    *
    * Output (≤ 10000/binBp + 1 rows): bin_bp (floor of the bin),
    * n_pairs in the bin, n_pairs_ge = pairs at or above the bin floor.
    */
  def similarityHistogram(df: DataFrame, idCol: String, textCol: String,
                          shingleN: Int = 3, binBp: Int = 1000,
                          maxDf: Int = 1000): DataFrame = {
    require(binBp > 0 && binBp <= 10000 && 10000 % binBp == 0,
      s"binBp must divide 10000, got $binBp")
    import org.apache.spark.sql.expressions.Window
    // shingle-scale (#docs × #shingles rows): read by the sizes
    // aggregate and the capped block join, so shared; the capped frame
    // itself is recomputed per join side (see BandedJoin)
    val sh = BandedJoin.shared(
      df.select(col(idCol).cast("long").as("id"),
          graft.functions.TextFunctions.tokens(col(textCol)).as("__tk"))
        .select(col("id"), explode(
          graft.functions.TextFunctions.shinglesTokens(col("__tk"),
            shingleN)).as("s")))
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val pairs = BandedJoin.sharedKeyCounts(sh, Seq("s"), maxDf, "inter")
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
      .select(expr("inter * 10000 DIV (na + nb - inter)").as("jbp"))
    // bin floors + top-down cumulative on the tiny bins frame (≤ 11
    // rows at binBp = 1000 — the coverageCurve single-partition-window
    // argument). jaccard = 1 lands in the top bin, not a bin of its own.
    val bins = pairs
      .select(expr(s"least(jbp, 9999L) DIV $binBp * $binBp").as("bin_bp"))
      .groupBy(col("bin_bp")).agg(count(lit(1)).as("n_pairs"))
    bins.withColumn("n_pairs_ge",
      sum(col("n_pairs")).over(
        Window.orderBy(col("bin_bp").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Winnowing-fingerprint near-duplicate pairs: substring-copy
    * detection via shared rolling-hash fingerprints (Hashing.winnow).
    * Same capped bucket-join shape as the other tiers: explode each
    * doc's fingerprint set, join within fingerprint buckets, score
    * pairs by containment. Catches copied PASSAGES (any shared
    * substring of length ≥ w+k-1 chars fingerprints), which token-set
    * and minhash tiers dilute away on long documents.
    *
    * `maxBucket` here is document-frequency filtering, not just skew
    * control: a fingerprint present in more than `maxBucket` documents
    * is a common phrase, not copy evidence (IDF logic), and keeping
    * such buckets makes the candidate join quadratic in the corpus —
    * hence the deliberately low default. */
  def winnowNearDup(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 5, w: Int = 4,
                    minContainment: Double = 0.25,
                    maxBucket: Int = 50): DataFrame =
    winnowNearDupWith(df, idCol, textCol, Hashing.winnow(_, k, w),
      minContainment, maxBucket)

  /** Certification twin of [[winnowNearDup]]: the fingerprints come
    * from [[Hashing.winnowMd5]] — md5 k-gram hashes through the SAME
    * window scan — so the whole tier (normalization, fingerprint
    * selection with rightmost ties, document-frequency cap, bucket
    * join, containment verify) replays bit-for-bit in ANSI SQL.
    * Production runs the rolling-hash kernel. */
  def winnowNearDupMd5(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 5, w: Int = 4,
                       minContainment: Double = 0.25,
                       maxBucket: Int = 50): DataFrame =
    winnowNearDupWith(df, idCol, textCol, Hashing.winnowMd5(_, k, w),
      minContainment, maxBucket)

  private def winnowNearDupWith(df: DataFrame, idCol: String,
                                textCol: String,
                                fingerprints: String => Array[Long],
                                minContainment: Double,
                                maxBucket: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // one row per (doc, distinct fingerprint), carrying the doc's
    // fingerprint count; fingerprint-scale, so the capped frame is
    // recomputed per join side (see BandedJoin)
    BandedJoin.sharedKeyCounts(
        df.select(col(idCol).cast("long"), col(textCol))
          .as[(Long, String)]
          .mapPartitions { it =>
            it.flatMap { case (id, text) =>
              val fs = fingerprints(text).distinct
              fs.map(f => (id, f, fs.length.toLong))
            }
          }
          .toDF("id", "fp", "nfp"), Seq("fp"), maxBucket, "n_shared")
      // containment: shared fraction of the SMALLER fingerprint set —
      // the MOSS-style copy metric. With the document-frequency filter
      // above, background containment between unrelated docs is near
      // zero (p99 ≈ 0.1 even on a narrow-vocabulary corpus), so the
      // 0.25 default cleanly separates genuine near-copies; raise it
      // toward 0.5+ if maxBucket is raised.
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("n_shared") / least(col("nfp_a"), col("nfp_b")), 4)
          .as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Single-task union-find over a slim verified-pair edge list — the
    * small-graph fast path of [[connectedComponents]]. The edges are
    * shuffled into ONE task (mapPartitions over repartition(1), so the
    * work runs on an executor, not the driver) and solved with classic
    * union-find using union-by-min (the smaller root absorbs the
    * larger, keeping the invariant root = min id of the component at
    * every step) plus path compression on find. Emits (id, root) for
    * every id appearing on either side of a pair — the same contract
    * as the distributed propagation loop. */
  private def unionFindLocal(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.select(col("a"), col("b")).as[(Long, Long)]
      .repartition(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          // path compression: repoint every node on the walk at the root
          var c = x
          while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
          r
        }
        it.foreach { case (a, b) =>
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        parent.keysIterator.map(id => (id, find(id)))
      }
      .toDF("id", "root")
  }

  /** Connected components over an undirected pair list — the step that
    * turns near-dup PAIRS into dedup CLUSTERS (a≈b and b≈c must merge
    * into one group even when a≉c directly). Min-label propagation with
    * POINTER JUMPING: each round a node adopts the minimum root among
    * itself and its neighbors, then compresses one hop (root := root's
    * root), so the unresolved diameter roughly halves every round —
    * O(log diameter) rounds instead of O(diameter). Each round is
    * materialized with `localCheckpoint` (eager), which both pins the
    * result AND truncates lineage — with plain persist the logical plan
    * nests one level per round and analysis time grows with iteration
    * count, which dominated wall-clock on deep chains. Deterministic:
    * min() is order-free. Returns (id, cluster_root) for every id
    * appearing in a pair. Throws if the iteration budget is exhausted
    * before convergence — non-converged labels are silently-wrong
    * clusters, never worth returning.
    *
    * Fast path: the edge list here is the OUTPUT of near-dup
    * verification — slim (two longs) and proportional to the duplicate
    * pair count, not the corpus — so it usually fits one task by
    * orders of magnitude. When `count ≤ localEdgeLimit` (default 5M
    * edges ≈ 80 MB) the components are solved by a single-task
    * union-find over the verified pairs: one shuffle of the edge list
    * instead of O(log diameter) rounds of join+checkpoint+count jobs,
    * whose fixed per-round cost dominates wall-clock on small graphs.
    * Above the limit, the distributed propagation loop is the scale
    * path. Both paths produce identical labels (root = min id of the
    * component). */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20,
                          localEdgeLimit: Long = 5000000L): DataFrame = {
    val e = graft.core.Caching.persistTracked(
      pairs.select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b")))
    if (e.count() <= localEdgeLimit) return unionFindLocal(e)
    val sym = graft.core.Caching.persistTracked(
      e.union(e.select(col("b").as("a"), col("a").as("b"))))
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("root", col("id"))
      .localCheckpoint(true)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val neighborMin = sym
        .join(labels.select(col("id").as("b"), col("root").as("nroot")), "b")
        .groupBy(col("a").as("id")).agg(min(col("nroot")).as("nmin"))
      val stepped = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("root"), coalesce(col("nmin"), col("root")))
            .as("root"),
          col("root").as("__prev"))
      // pointer jump: a root is itself a node in the label table, and
      // its own label only ever decreases — adopting it (rroot ≤ root
      // always) compresses paths so chains collapse in log rounds
      val next = stepped
        .join(stepped.select(col("id").as("root"),
          col("root").as("rroot")), Seq("root"), "left")
        .select(col("id"), coalesce(col("rroot"), col("root")).as("root"),
          col("__prev"))
        .localCheckpoint(true)
      changed = next.filter(col("root") =!= col("__prev")).count()
      labels = next
      iter += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter rounds " +
        "(a near-dup chain deeper than 2^maxIter — raise maxIter)")
    labels.select(col("id"), col("root"))
  }

  /** Incremental dedup: deduplicate an INCOMING batch against the
    * fingerprint index of an already-deduplicated corpus — the
    * steady-state shape of corpus growth, where re-scanning 100 TB of
    * settled text per ingest is not an option. The index is fingerprints
    * only (16-byte md5 per document), typically persisted as a parquet
    * table and re-read per batch; the corpus text is never touched.
    *
    * Returns one row per DISTINCT fingerprint in the batch:
    * (keep_id, n_batch, known) — the batch's first (min-id) document
    * for that content, how many batch copies arrived, and whether the
    * corpus already has it. Downstream keeps rows with known = false
    * (and appends their fingerprints to the index).
    *
    * Plan shape: one hash-aggregate over the batch + one left join
    * against the index on the fingerprint key. Both sides are slim
    * (id + 32-char hash); the join broadcasts when the index fits,
    * otherwise shuffles on fp — either way cost is O(batch + index),
    * never O(corpus). */
  def incrementalDedup(incoming: DataFrame, idCol: String, textCol: String,
                       indexFp: DataFrame): DataFrame =
    incoming
      .select(col(idCol).cast("long").as("doc_id"),
        fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_batch"))
      .join(indexFp.select(col("fp")).distinct()
        .withColumn("__known", lit(true)), Seq("fp"), "left")
      .select(col("keep_id"), col("n_batch"),
        coalesce(col("__known"), lit(false)).as("known"))

  /** The fingerprint index of a corpus — the artifact incrementalDedup
    * joins against. Persist this (parquet) once per corpus state. */
  def fingerprintIndex(corpus: DataFrame, textCol: String): DataFrame =
    corpus.select(fingerprint(col(textCol)).as("fp")).distinct()

  /** NEAR-dup tier of incremental dedup: which incoming documents are
    * near-duplicates (shingle-jaccard ≥ thrNum/thrDen, exact integer
    * verify) of the SETTLED corpus — the cross-corpus question every
    * crawl ingest asks, answered without an all-pairs batch×corpus
    * comparison and without re-reading settled text.
    *
    * `corpusSig` is a precomputed `minhashSignatures` frame (the stored
    * index; at 100 TB a parquet table re-read per ingest — same
    * steady-state shape as `incrementalDedup`'s fingerprint index).
    * Candidates = equi-join of the batch's band keys against the
    * index's band keys (index-side buckets capped: an oversize bucket
    * is a viral-duplicate cluster for the exact tier, not a
    * near-neighbor set); the exact-jaccard verify joins shingle sets
    * back only for surviving pairs. Cost O(batch + index) shuffle of
    * slim (id, band, key) rows; the batch never meets the corpus
    * outside shared buckets.
    *
    * Recall is the banding guarantee of the underlying tier: a
    * qualifying cross pair collides on ≥ 1 band with the same
    * probability as in `minhashNearDupCounts`, whose recall is
    * oracle-certified against exhaustive ground truth (q45/q74).
    *
    * Output: (batch_id, corpus_id, inter, uni) — one row per verified
    * cross pair, integer-exact so the result is bit-stable across
    * engines. Batch and corpus ids must be disjoint (they are distinct
    * id spaces by construction in an ingest). */
  def incrementalNearDup(incoming: DataFrame, idCol: String, textCol: String,
                         corpusSig: DataFrame, shingleN: Int = 3,
                         k: Int = 32, bands: Int = 8,
                         thrNum: Int = 4, thrDen: Int = 5,
                         maxBucket: Int = 1000,
                         maxBatchBucket: Int = 0): DataFrame =
    incrementalNearDupFromSigs(
      minhashSignatures(incoming, idCol, textCol, shingleN, k, bands),
      corpusSig, shingleN, k, bands, thrNum, thrDen,
      maxBucket, maxBatchBucket)

  /** [[incrementalNearDup]] with the BATCH side pre-signed — the
    * sign-once form for callers that need the batch signatures for
    * more than the cross screen (fullIngest: cross screen + intra-batch
    * self-dedup + settle-append share ONE signing pass). Both sides'
    * signature parameters are contract-checked against the arguments. */
  def incrementalNearDupFromSigs(batchSig: DataFrame, corpusSig: DataFrame,
                                 shingleN: Int = 3,
                                 k: Int = 32, bands: Int = 8,
                                 thrNum: Int = 4, thrDen: Int = 5,
                                 maxBucket: Int = 1000,
                                 maxBatchBucket: Int = 0): DataFrame = {
    val expect = Seq("shingle_n" -> shingleN.toLong,
      "minhash_k" -> k.toLong, "bands" -> bands.toLong)
    requireSigParams(corpusSig, "bh", expect, "Dedup.minhashSignatures")
    requireSigParams(batchSig, "bh", expect, "Dedup.minhashSignatures")
    // each side is banded AND joined back: shared
    val bSig = BandedJoin.shared(batchSig)
    val cSig = BandedJoin.shared(corpusSig)
    val cand = BandedJoin.crossPairs(minhashBands(bSig), minhashBands(cSig),
      BandKeys, maxBatchBucket, maxBucket)
    jaccardCounts(
      BandedJoin.joinBack(
        BandedJoin.joinBack(cand, bSig, Seq("sh"), "batch_id" -> "_b"),
        cSig, Seq("sh"), "corpus_id" -> "_c"),
      "batch_id", "corpus_id", "sh_b", "sh_c", thrNum, thrDen)
  }

  /** Blocked edit-distance (fuzzy) near-dup pairs: candidates share a
    * blocking key — the first token — then pass a length prefilter and
    * an exact `levenshtein` verify. |len(a)-len(b)| is a lower bound on
    * edit distance, so the default prefilter (`maxLenDiff = -1` →
    * `maxDist`) is LOSSLESS: it discards no pair below the threshold.
    * Passing a smaller `maxLenDiff` tightens the blocking contract
    * itself (pairs with larger length drift are out of scope by
    * definition, like pairs differing in their first token) — state
    * the same bound in any oracle. The blocking keeps the operator
    * equi-join-shaped — the all-pairs quadratic never materializes.
    * Intended for short strings (names, titles); levenshtein is
    * O(len²) per pair. */
  def editDistanceNearDup(df: DataFrame, idCol: String, textCol: String,
                          maxDist: Int = 3, maxLenDiff: Int = -1): DataFrame = {
    val lenBound = if (maxLenDiff >= 0) maxLenDiff else maxDist
    val slim = df.select(col(idCol).cast("long").as("id"),
      col(textCol).as("nm"),
      split(col(textCol), " ").getItem(0).as("blk"))
    slim.as("a").join(slim.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id") &&
          abs(length(col("a.nm")) - length(col("b.nm"))) <= lenBound)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.nm").as("name_a"), col("b.nm").as("name_b"),
        levenshtein(col("a.nm"), col("b.nm")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Hamming distance between two 64-bit hashes. */
  def hamming(a: Column, b: Column): Column =
    call_function("bit_count", a.bitwiseXOR(b)).cast("int")

  /** SimHash near-duplicate pairs: bucket on `64 / bands`-bit bands — by
    * pigeonhole a pair within hamming ≤ bands-1 MUST agree on at least
    * one band, so the default 8 bands of 8 bits GUARANTEE recall through
    * the default maxHamming = 6 verify radius (the round-1 4×16 layout
    * only guaranteed radius 3 while verifying at 6). Tradeoff: narrower
    * band keys mean a smaller keyspace (2^8 buckets per band), so for
    * corpora where n ≫ maxBucket·2^bandBits, prefer bands = 4 with
    * maxHamming ≤ 3 (the Manku-style layout) — banding is a parameter,
    * the guarantee `maxHamming < bands` is enforced either way.
    * Buckets are capped and the capped banded frame materialized once
    * for the two sides of the self-join (see BandedJoin). The SimHash kernel
    * runs as a JVM loop in mapPartitions (Hashing.simhash64); banding
    * and the bucket join stay declarative. */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 6,
                     maxBucket: Int = 1000,
                     bands: Int = 8): DataFrame = {
    require(bands > 0 && 64 % bands == 0, "bands must divide 64")
    require(maxHamming < bands,
      s"$bands bands guarantee recall only to hamming ${bands - 1}")
    val bandBits = 64 / bands
    val mask = (1L << bandBits) - 1L
    val spark = df.sparkSession
    import spark.implicits._
    hammingPairs(
      df.select(col(idCol).cast("long"), col(textCol))
        .as[(Long, String)]
        .mapPartitions { it =>
          it.flatMap { case (id, text) =>
            val sh = Hashing.simhash64(Hashing.tokens(text))
            (0 until bands).map(b =>
              (id, sh, b, (sh >>> (b * bandBits)) & mask))
          }
        }
        .toDF("id", "sh", "band", "key"), maxBucket, maxHamming)
  }

  /** LOUD id-type gate (the z-order writer's posture): `cast("long")`
    * of a non-numeric string id yields NULL, and NULL ids are
    * null-false in every `id === key` / `id =!= key` tier filter — the
    * cascade would then emit an EMPTY audit (all tiers zero) while
    * claiming to explain every document. Reject the column type up
    * front instead of corrupting silently; non-numeric ids need a
    * surrogate key (`Preprocess.withIds` / monotonically_increasing_id
    * + a mapping table) projected first. */
  private def requireNumericId(df: DataFrame, idCol: String,
                               op: String): Unit = {
    val dt = df.schema(idCol).dataType
    require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"$op id column '$idCol' must be numeric, got $dt — non-numeric " +
        "ids cast to NULL and silently empty the audit; project a " +
        "numeric surrogate key first")
  }

  /** The dedup CASCADE with per-document provenance — tiers run in
    * cost order, each only on the previous tier's survivors, and every
    * input document leaves with an explanation:
    *
    *   1. exact       — byte-identical text groups keep their min id
    *                    (`dropped_exact`, keep_id = the keeper);
    *   2. canonical   — token-SET-identical survivors collapse
    *                    (`dropped_canonical`: shuffled/reordered copies);
    *   3. substring   — surviving docs lose shared ≥`minDocs`-doc
    *                    n-token passages (`cleaned_substr` when tokens
    *                    were cut, else `kept`).
    *
    * This is the production composition of the row-level tiers: the
    * cheap hash tiers shrink the corpus BEFORE the gram-expansion tier
    * pays len× row growth, and the provenance column is what a corpus
    * audit actually reports (why did doc X disappear / shrink?). Each
    * tier is the already-certified operator (q25/q30/q80 semantics);
    * the cascade adds only hash-keyed joins between them. */
  def cascade(df: DataFrame, idCol: String, textCol: String,
              n: Int = 8, minDocs: Int = 2,
              fingerprintGrams: Boolean = true): DataFrame =
    cascadeWithCorpus(df, idCol, textCol, n, minDocs, fingerprintGrams)._1

  /** `cascade` returning BOTH frames: (audit, corpus) — the audit is
    * the per-doc provenance above; the corpus is the surviving
    * documents with their post-substring-tier text
    * (id, clean_text, n_tokens, n_removed), i.e. what the settle
    * pipeline actually writes onward. One computation, two views:
    * the tiers run once (survivor frames are persisted). */
  def cascadeWithCorpus(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 8, minDocs: Int = 2,
                        fingerprintGrams: Boolean = true)
      : (DataFrame, DataFrame) = {
    requireNumericId(df, idCol, "Dedup.cascade:")
    // NULL text coalesces to '' so null-text docs are EXPLAINED (they
    // group with empty docs in the exact tier) instead of silently
    // vanishing through the null-key joins — 'every input document
    // leaves with an explanation' includes the malformed ones
    val base = df.select(col(idCol).cast("long").as("id"),
      coalesce(col(textCol), lit("")).as("__text"))
    // tier 1: exact text groups. The keep id is a window min over the
    // text key, NOT a groupBy+join-back: the join form shuffles the
    // full text column TWICE (groupBy side + probe side) where the
    // window pays one exchange — same rows, same skew exposure (a hot
    // text lands in one reducer either way). Guide §2.4.
    val wText = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__text"))
    val t1 = base.withColumn("__ek", min(col("id")).over(wText))
    // survivor frames are slim (id, text) and feed 2+ consumers each
    // (the next tier's group + join, the gram expansion's two passes) —
    // persist them so the union's branches don't rescan the source
    val s1 = graft.core.Caching.persistTracked(
      t1.filter(col("id") === col("__ek")).select(col("id"), col("__text")))
    // tier 2: canonical (token-set) groups among tier-1 survivors —
    // same window-min shape as tier 1 (one exchange on the 32-char
    // fingerprint instead of a groupBy + join-back pair)
    val s1fp = s1.withColumn("__fp", fingerprint(col("__text")))
    val wFp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__fp"))
    val t2 = s1fp.withColumn("__ck", min(col("id")).over(wFp))
    val s2 = graft.core.Caching.persistTracked(
      t2.filter(col("id") === col("__ck")).select(col("id"), col("__text")))
    // tier 3: shared-passage removal among tier-2 survivors
    val cleaned = exactSubstrRemove(s2, "id", "__text", n, minDocs,
      fingerprintGrams)
    val droppedExact = t1.filter(col("id") =!= col("__ek"))
      .select(col("id"), lit("dropped_exact").as("status"),
        col("__ek").as("keep_id"), lit(0L).as("n_removed"))
    val droppedCanon = t2.filter(col("id") =!= col("__ck"))
      .select(col("id"), lit("dropped_canonical").as("status"),
        col("__ck").as("keep_id"), lit(0L).as("n_removed"))
    val survivors = cleaned.select(col("id"),
      when(col("n_removed") > 0, lit("cleaned_substr"))
        .otherwise(lit("kept")).as("status"),
      col("id").as("keep_id"), col("n_removed"))
    (droppedExact.unionByName(droppedCanon).unionByName(survivors),
      cleaned)
  }

  /** Exact-substring (repeated-passage) removal — the span-level dedup
    * tier below document-level near-dup (Lee, Ippolito et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL
    * 2022 — public literature; the reference system has no corpus
    * tier at all): any `n`-token span occurring in ≥ `minDocs`
    * DISTINCT documents is boilerplate, and every token covered by
    * such a span is removed from every document carrying it. Catches
    * shared headers/footers/licenses that document-level jaccard never
    * trips on.
    *
    * Returns (id, clean_text, n_tokens, n_removed) for every input
    * document, untouched docs included (n_removed = 0); a fully
    * boilerplate doc keeps an empty clean_text, so the caller's
    * min-length filter — not this operator — decides its fate.
    *
    * Scale shape (the 100 TB posture):
    *  - one tokenize scan; gram expansion is a per-row generator
    *    (posexplode in the scan stage), never a join;
    *  - the doc-frequency aggregate shuffles slim (gram, id) pairs
    *    with map-side partial aggregation. `fingerprint = true`
    *    (default) shuffles an 8-byte xxhash64 of each gram instead of
    *    its text — the hash-grouped counts equal the string-grouped
    *    counts up to 64-bit collisions (~n²/2⁶⁵; a production corpus
    *    would widen to 128 bits) — and q80 runs fingerprint = false so
    *    the oracle certifies the string semantics the hash stands for;
    *  - the dup-gram set is heavy-hitters-small by construction, so
    *    AQE turns the join back into a broadcast at runtime;
    *  - reassembly is ONE shuffle keyed on doc id (collect_set of dup
    *    starts), and the span-coverage arithmetic is per-row HOFs over
    *    the token array — no driver participation at any width. */
  def exactSubstrRemove(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 8, minDocs: Int = 2,
                        fingerprint: Boolean = true): DataFrame = {
    require(n > 0, s"span length n must be positive, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    requireNumericId(df, idCol, "Dedup.exactSubstrRemove:")
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(col(idCol).cast("long").as("id"),
      graft.functions.TextFunctions.tokens(col(textCol)).as("tk"))
    // (id, s, gram): 1-based span starts, matching the oracle's
    // generate_series; under-n docs contribute no grams (sequence()
    // would count DOWN for stop < start — guard, don't rely on it)
    val gramKey =
      if (fingerprint) xxhash64(col("gram")) else col("gram")
    val grams = toks
      .select(col("id"), col("tk"),
        when(size(col("tk")) >= n,
          sequence(lit(1), size(col("tk")) - n + 1))
          .otherwise(array().cast("array<int>")).as("ss"))
      .select(col("id"), col("tk"), explode(col("ss")).as("s"))
      .select(col("id"), col("s"),
        array_join(slice(col("tk"), col("s"), lit(n)), " ").as("gram"))
    // grams is deliberately NOT cached even though both consumers below
    // re-derive it: at corpus scale the generator stays in the scan
    // stage and re-running it twice is cheaper than materializing a
    // row-per-gram intermediate (~len× the corpus) anywhere
    val dupGrams = grams
      .select(gramKey.as("gk"), col("id")).distinct()
      .groupBy("gk").count()
      .filter(col("count") >= minDocs)
      .select(col("gk"))
    // the cut itself (tokens covered by any dup span, every occurrence
    // removed) runs in the shared CoverRemove kernel path
    removeFromStarts(df, idCol, textCol,
      grams.select(gramKey.as("gk"), col("id"), col("s"))
        .join(dupGrams, "gk")
        .select(col("id"), col("s")), n)
  }

  /** Suffix-array-class exact-substring duplicate detection — the
    * deduplicate-text-datasets semantics (Lee et al., ACL 2022: find
    * every substring of ≥ `minLen` tokens that appears more than once
    * in the corpus, keep one occurrence) re-expressed Spark-first.
    * Where a suffix array finds adjacent suffixes sharing a ≥ minLen
    * prefix, this finds the SAME maximal spans as runs of duplicated
    * minLen-token windows: a duplicated substring of length
    * m ≥ minLen is exactly a run of m − minLen + 1 consecutive
    * duplicated windows, so merging consecutive duplicated window
    * starts (adjacency extension) reconstructs the maximal spans
    * without any suffix sort.
    *
    * Contrast with [[exactSubstrRemove]] (q80): that tier removes
    * every occurrence of a FIXED-length shared gram; this tier reports
    * MAXIMAL spans of any length ≥ minLen and (by default) exempts the
    * corpus-wide first carrier of each window — min (id, start), the
    * dedup family's keep convention — so content survives exactly
    * once, the paper's contract.
    *
    * Scale shape: one slim (key, id, start) row per token position —
    * the same len×-corpus row count a suffix array materializes — with
    * the window text itself never shuffled (only its 64-bit key). The
    * df gate + cap is one map-side-combining aggregate; the adjacency
    * merge is a per-DOCUMENT window (bounded by doc length, never by
    * corpus frequency). `maxDf` caps viral windows by OCCURRENCE count
    * (one per (doc, position) — intra-doc repeats count; see
    * [[longMatchIndex]] for why): boilerplate shared by thousands of
    * docs would otherwise fan the first-carrier join. A capped window
    * is a recall trade to the q80/paragraph tiers, countable via
    * [[longMatchCapReport]].
    *
    * keyMode: "xx" (production, xxhash64) | "md5" (the 60-bit md5
    * prefix — replays bit-for-bit in ANSI SQL, the certification
    * family).
    *
    * Output: (id, span_start (1-based), span_len) — maximal duplicated
    * spans; with keepFirst the first carrier's occurrences are absent.
    */
  def longMatchSpans(df: DataFrame, idCol: String, textCol: String,
                     minLen: Int = 50, keepFirst: Boolean = true,
                     maxDf: Int = 1000,
                     keyMode: String = "xx"): DataFrame =
    mergeWindowStarts(
      longMatchDupStarts(df, idCol, textCol, minLen, keepFirst,
        maxDf, keyMode), minLen)

  /** Adjacency extension shared by the batch and incremental span
    * forms: consecutive duplicated starts merge into maximal spans —
    * span [min(s), max(s) + minLen). Per-DOCUMENT window, bounded by
    * doc length, never by corpus frequency. */
  private def mergeWindowStarts(dup: DataFrame, minLen: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("s"))
    dup
      .withColumn("__new",
        when(col("s") - lag(col("s"), 1).over(w) === 1, 0L).otherwise(1L))
      .withColumn("__run", sum(col("__new")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("s"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
      .groupBy(col("id"), col("__run"))
      .agg(min(col("s")).as("span_start"),
        (max(col("s")) - min(col("s")) + minLen).cast("long")
          .as("span_len"))
      .select(col("id"), col("span_start").cast("long").as("span_start"),
        col("span_len"))
  }

  /** Stored window-key index of a settled corpus for the long-match
    * tier — one row per DISTINCT minLen-window key with its OCCURRENCE
    * count: (gk, df), build parameters as field metadata (the
    * gramIndex / minhashSignatures store contract: mismatched probes
    * refuse loudly). Persist once per corpus state; fold batches in
    * with [[appendLongMatchIndex]]. Carrying df in the store lets
    * probes skip viral boilerplate keys WITHOUT re-counting the corpus.
    *
    * df semantics (everywhere in the long-match tier): `df` is the
    * RAW OCCURRENCE count of the window — one per (doc, position) —
    * NOT distinct-document frequency. A window repeated inside one
    * document counts each repeat, so such a window can trip the
    * `maxDf` viral cap from a single document; that is deliberate
    * (intra-doc boilerplate is exactly as viral to the first-carrier
    * join as cross-doc boilerplate, and the q124 intra-doc tier
    * catches what the cap skips). Occurrence counts also ADD across
    * disjoint batches, which is what makes the append merge law
    * exact. */
  def longMatchIndex(docs: DataFrame, idCol: String, textCol: String,
                     minLen: Int = 50, keyMode: String = "xx"): DataFrame = {
    require(Set("xx", "md5")(keyMode),
      s"keyMode must be 'xx' or 'md5', got '$keyMode'")
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("min_len", minLen.toLong)
      .putString("key_mode", keyMode)
      .build()
    longMatchOcc(docs, idCol, textCol, minLen, keyMode)
      .groupBy(col("gk")).agg(count(lit(1)).as("df"))
      .withColumn("gk", col("gk").as("gk", meta))
  }

  /** Maximal spans of a BATCH that duplicate SETTLED content — the
    * incremental long-match screen: batch windows whose key the stored
    * [[longMatchIndex]] carries (at index OCCURRENCE count df ≤ maxDf —
    * viral boilerplate keys skip this tier, the cap contract) merge
    * into maximal spans. No first-carrier question arises: the settled
    * corpus carried every matched window first by definition. Cost
    * O(batch + matched keys): one slim leftsemi join of the batch's
    * (gk, id, s) rows against the index — settled text is never
    * re-read (the q73/q74 ingest-family shape). */
  def incrementalLongMatchSpans(batch: DataFrame, idCol: String,
                                textCol: String, index: DataFrame,
                                minLen: Int = 50, maxDf: Int = 1000,
                                keyMode: String = "xx"): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val (storedLen, storedMode) = longMatchIndexParams(index)
    require(storedLen == minLen && storedMode == keyMode,
      s"long-match index was built with min_len=$storedLen/" +
        s"key_mode=$storedMode but the probe asks " +
        s"min_len=$minLen/key_mode=$keyMode — matches would silently " +
        "miss; rebuild or re-probe with matching parameters")
    val occ = longMatchOcc(batch, idCol, textCol, minLen, keyMode)
    val dup = occ
      .join(index.filter(col("df") <= maxDf).select(col("gk")),
        Seq("gk"), "leftsemi")
      .select(col("id"), col("s")).distinct()
    mergeWindowStarts(dup, minLen)
  }

  /** Read a stored long-match index's build parameters (min_len,
    * key_mode) from its field metadata — the store contract shared by
    * probes and appends. Fails loudly on a frame that is not a
    * [[longMatchIndex]] store. */
  private def longMatchIndexParams(index: DataFrame): (Int, String) = {
    require(index.schema.fieldNames.contains("gk"),
      "long-match index has no 'gk' column; build it with " +
        "Dedup.longMatchIndex")
    val md = index.schema("gk").metadata
    require(md.contains("min_len") && md.contains("key_mode"),
      "long-match index carries no build metadata; rebuild it with " +
        "Dedup.longMatchIndex (stores predating the parameter contract " +
        "are not probeable)")
    (md.getLong("min_len").toInt, md.getString("key_mode"))
  }

  /** Fold a batch into a STORED long-match index — the O(batch) append
    * of the LM/BM25/gram-store family. Occurrence counts ADD across
    * disjoint document sets (each (doc, position) occurrence belongs
    * to exactly one batch), so
    * `append(longMatchIndex(A), B) == longMatchIndex(A ∪ B)`
    * bit-for-bit — the merge law SubstrDedupSpec pins. Build
    * parameters come FROM the store metadata (nothing to mis-pass) and
    * re-stamp the merged frame, keeping the store self-describing
    * across appends. The merged table replaces the store
    * ([[graft.core.Stores.replace]]); one writer at a time, the usual
    * append contract. Cost: one window pass over the
    * batch plus a full-outer merge on the slim (gk, df) store —
    * settled text is never re-read. Append what you SETTLE: callers
    * that cut or kill batch content before landing it should fold the
    * post-cut text, or the index will screen future batches against
    * windows the corpus never kept. */
  def appendLongMatchIndex(batch: DataFrame, idCol: String,
                           textCol: String, indexPath: String): Unit = {
    val spark = batch.sparkSession
    val idx = spark.read.parquet(indexPath)
    val (minLen, keyMode) = longMatchIndexParams(idx)
    requireNumericId(batch, idCol, "Dedup.appendLongMatchIndex:")
    val delta = longMatchOcc(batch, idCol, textCol, minLen, keyMode)
      .groupBy(col("gk")).agg(count(lit(1)).as("__dc"))
    val meta = idx.schema("gk").metadata
    graft.core.Stores.withLease(spark, indexPath,
        "appendLongMatchIndex") {
      val merged = idx.select(col("gk"), col("df"))
        .join(delta, Seq("gk"), "full")
        .select(col("gk"),
          (coalesce(col("df"), lit(0L)) + coalesce(col("__dc"), lit(0L)))
            .as("df"))
        .withColumn("gk", col("gk").as("gk", meta))
      graft.core.Stores.replace(spark, indexPath, "appendLongMatchIndex")(
        merged.write.mode("overwrite").parquet(_))
    }
  }

  /** Retract a batch from a stored long-match index — the inverse of
    * [[appendLongMatchIndex]]: window occurrence counts SUBTRACT
    * exactly and keys falling to zero leave the table, so
    * `remove(append(longMatchIndex(A), B), B) == longMatchIndex(A)`
    * bit-for-bit (spec-pinned). Pass the retracted docs with the text
    * that was folded in (the settle contract: fold what you LANDED —
    * so retract the landed text too). Refuses before anything mutates
    * if any count would go negative: a batch the index never absorbed
    * must fail loudly, not leave screens silently miscounting df. */
  def removeFromLongMatchIndex(batch: DataFrame, idCol: String,
                               textCol: String, indexPath: String,
                               validateOnly: Boolean = false): Unit = {
    val spark = batch.sparkSession
    val idx = spark.read.parquet(indexPath)
    val (minLen, keyMode) = longMatchIndexParams(idx)
    requireNumericId(batch, idCol, "Dedup.removeFromLongMatchIndex:")
    val delta = longMatchOcc(batch, idCol, textCol, minLen, keyMode)
      .groupBy(col("gk")).agg(count(lit(1)).as("__dc"))
    val meta = idx.schema("gk").metadata
    graft.core.Caching.scopedRelease {
      val merged = graft.core.Caching.persistTracked(
        idx.select(col("gk"), col("df"))
          .join(delta, Seq("gk"), "full")
          .select(col("gk"),
            (coalesce(col("df"), lit(0L)) - coalesce(col("__dc"), lit(0L)))
              .as("df")))
      val neg = merged.filter(col("df") < 0L).count()
      require(neg == 0L,
        s"removeFromLongMatchIndex: $neg window keys would go " +
          "negative — the batch is not (fully) contained in this " +
          "index; retract exactly what was folded in")
      if (!validateOnly)
        graft.core.Stores.withLease(spark, indexPath,
            "removeFromLongMatchIndex") {
          graft.core.Stores.replace(spark, indexPath,
              "removeFromLongMatchIndex")(
            merged.filter(col("df") > 0L)
              .withColumn("gk", col("gk").as("gk", meta))
              .write.mode("overwrite").parquet(_))
        }
    }
  }

  /** Retract documents from a stored minhash signature index (the
    * `screen --save-index` / fullIngest base store — flat (id, sh, bh)
    * rows) and, when a `_settled` sidecar exists beside it, from the
    * sidecar's batch partitions too: after a takedown the dedup screen
    * must stop killing fresh copies of content the corpus no longer
    * carries. Ids only (signatures need no text); strict presence —
    * every id must match exactly one signature row across base ∪
    * sidecar or the call refuses before anything mutates. The base
    * rewrite ([[graft.core.Stores.replace]], parameter metadata
    * carried) is staged first; the sidecar partitions, located by a
    * column-pruned (id, batch_id) scan, swap inside its stage body
    * ([[graft.core.Stores.replaceParts]]), so at every crash step both
    * legs' successors are committed and `store --fsck --repair`
    * finishes the removal. Returns (rows removed from base, sidecar
    * partitions touched). */
  def removeFromSignatureIndex(spark: org.apache.spark.sql.SparkSession,
                               ids: DataFrame, sigPath: String,
                               validateOnly: Boolean = false)
      : (Long, Long) = {
    import spark.implicits._
    val rm = ids.select(col("id").cast("long").as("id")).distinct()
    val nIds = rm.count()
    require(nIds > 0, "removeFromSignatureIndex: no ids to remove")
    val base = spark.read.parquet(sigPath)
    require(base.schema.fieldNames.contains("id") &&
      base.schema.fieldNames.contains("bh"),
      s"$sigPath is not a minhash signature store (no id/bh columns)")
    val settledDir = graft.core.Stores.settledOf(sigPath)
    val hasSettled =
      graft.core.Stores.partitionValues(spark, settledDir, "batch_id")
        .nonEmpty

    val inBase = base.select(col("id")).join(rm, Seq("id"), "leftsemi")
      .count()
    val settledHits: Array[(Long, Long)] =
      if (!hasSettled) Array.empty
      else spark.read.parquet(settledDir)
        .select(col("id"), col("batch_id").cast("long").as("__b"))
        .join(rm, Seq("id"), "leftsemi")
        .groupBy($"__b").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getAs[Long]("__b"), r.getAs[Long]("n")))
    val found = inBase + settledHits.map(_._2).sum
    require(found == nIds,
      s"removeFromSignatureIndex: $nIds ids requested but $found " +
        "signature rows matched across base + settled — remove only " +
        "ids the store carries exactly once")
    // preflight mode (the composed-takedown contract): every check
    // above ran, nothing below mutates
    if (validateOnly) return (0L, 0L)

    val who = "removeFromSignatureIndex"
    def settledLeg(): Unit = if (settledHits.nonEmpty) {
      val parts = settledHits.map(_._1).toSeq
      graft.core.Stores.replaceParts(spark, settledDir, "batch_id",
        parts.map(_.toString), who,
        Some(spark.read.parquet(settledDir)
          .filter(col("batch_id").isin(parts: _*))
          .join(rm, Seq("id"), "left_anti")))
    }
    graft.core.Stores.withLease(spark, sigPath, who) {
      // alias-free rewrite: every column passes through; the schema
      // (and its signature-parameter metadata) is untouched
      if (inBase > 0)
        graft.core.Stores.replace(spark, sigPath, who) { next =>
          base.join(rm, Seq("id"), "left_anti")
            .write.mode("overwrite").parquet(next)
          settledLeg()
        }
      else settledLeg()
    }
    (inBase, settledHits.length.toLong)
  }

  /** Cut every token covered by a (span_start, span_len) span frame —
    * the rewrite step for [[incrementalLongMatchSpans]] output (the
    * ingest shape: settled substrings get CUT from a batch doc, the
    * doc itself survives). Exact cover: a span of length L ≥ minLen is
    * the union of its L − minLen + 1 minLen-token windows, so the span
    * frame expands to per-window starts and rides the same CoverRemove
    * kernel as the batch tiers. Docs without spans pass through with
    * n_removed = 0. Output: (id, clean_text, n_tokens, n_removed). */
  def removeSpans(df: DataFrame, idCol: String, textCol: String,
                  spans: DataFrame, minLen: Int): DataFrame = {
    require(minLen > 0, s"minLen must be positive, got $minLen")
    removeFromStarts(df, idCol, textCol,
      spans.select(col("id"),
        explode(sequence(col("span_start").cast("int"),
          (col("span_start") + col("span_len") - minLen).cast("int")))
          .as("s")), minLen)
  }

  /** Re-attach a rewritten text column to its original frame: `cleaned`
    * carries (id, clean_text) — the text-rewriting tiers' output
    * contract — and every OTHER column of `df` passes through. INNER
    * join semantics: a doc absent from `cleaned` drops (the
    * paragraph-emptied case uses this deliberately). One shared helper
    * for the settle/facade rewrite sites, which had grown four
    * near-identical copies of this join. */
  def rewriteText(df: DataFrame, idCol: String, textCol: String,
                  cleaned: DataFrame): DataFrame = {
    val c = cleaned.select(col("id").as("__rw_id"),
      col("clean_text").as("__rw_text"))
    df.join(c, df(idCol).cast("long") === col("__rw_id"))
      .select(df.columns.map(cn =>
        if (cn == textCol) col("__rw_text").as(textCol) else df(cn)): _*)
  }

  /** Per-window-key statistics of an occurrence frame: (gk, __n,
    * __fc = min (id, s)) — occurrence count AND first carrier from ONE
    * map-side-combining aggregate, so the df gate, viral cap, cap
    * report and first-carrier exemption all derive from a single pass
    * over the slim key rows. */
  private def longMatchKeyStats(occ: DataFrame): DataFrame =
    occ.groupBy(col("gk"))
      .agg(count(lit(1)).as("__n"),
        min(struct(col("id"), col("s"))).as("__fc"))

  /** The duplicated window starts feeding [[longMatchSpans]] /
    * [[longMatchRemove]]: (id, s) with s the 1-based start of a
    * minLen-token window whose key occurs elsewhere in the corpus
    * (first carrier exempted when keepFirst). occ is derived exactly
    * TWICE (the keyStats aggregate + the flag join) — deliberately NOT
    * cached: the generator stays in the scan stage, and at corpus
    * scale re-running it beats materializing a row-per-position
    * intermediate (the q80 gram judgment). */
  private def flaggedStarts(occ: DataFrame, keyStats: DataFrame,
                            keepFirst: Boolean, maxDf: Int): DataFrame = {
    val eligible = keyStats
      .filter(col("__n") >= 2 && col("__n") <= maxDf)
    occ.join(eligible, Seq("gk"))
      .filter(if (!keepFirst) lit(true)
        else !(col("id") === col("__fc.id") && col("s") === col("__fc.s")))
      .select(col("id"), col("s"))
      .distinct()
  }

  private def longMatchDupStarts(df: DataFrame, idCol: String,
                                 textCol: String, minLen: Int,
                                 keepFirst: Boolean, maxDf: Int,
                                 keyMode: String): DataFrame = {
    require(minLen > 0, s"minLen must be positive, got $minLen")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    require(Set("xx", "md5")(keyMode),
      s"keyMode must be 'xx' or 'md5', got '$keyMode'")
    requireNumericId(df, idCol, "Dedup.longMatchSpans:")
    val occ = longMatchOcc(df, idCol, textCol, minLen, keyMode)
    flaggedStarts(occ, longMatchKeyStats(occ), keepFirst, maxDf)
  }

  /** One slim (gk, id, s) row per minLen-token window of the corpus. */
  private def longMatchOcc(df: DataFrame, idCol: String, textCol: String,
                           minLen: Int, keyMode: String): DataFrame = {
    val toks = df.select(col(idCol).cast("long").as("id"),
      graft.functions.TextFunctions.tokens(col(textCol)).as("tk"))
    val keyOf: Column => Column =
      if (keyMode == "md5") md5Long60 else xxhash64(_)
    toks
      .select(col("id"), col("tk"),
        when(size(col("tk")) >= minLen,
          sequence(lit(1), size(col("tk")) - minLen + 1))
          .otherwise(array().cast("array<int>")).as("ss"))
      .select(col("id"), col("tk"), explode(col("ss")).as("s"))
      .select(col("id"), col("s"),
        keyOf(array_join(slice(col("tk"), col("s"), lit(minLen)), " "))
          .as("gk"))
  }

  /** Cap observability for the long-match tier: one row —
    * (n_windows, n_dropped_windows, dropped_rows, max_df) — counting
    * window keys whose OCCURRENCE count exceeds `maxDf` (skipped by
    * [[longMatchSpans]]; their content can only be caught by the
    * q80/paragraph tiers). max_df is the hottest key's occurrence
    * count, not a distinct-doc count. */
  def longMatchCapReport(df: DataFrame, idCol: String, textCol: String,
                         minLen: Int = 50, maxDf: Int = 1000,
                         keyMode: String = "xx"): DataFrame =
    capFromKeyStats(longMatchKeyStats(
      longMatchOcc(df, idCol, textCol, minLen, keyMode)), maxDf)

  private def capFromKeyStats(keyStats: DataFrame, maxDf: Int): DataFrame =
    keyStats
      .agg(count(lit(1)).as("n_windows"),
        coalesce(sum(when(col("__n") > maxDf, 1L)), lit(0L))
          .as("n_dropped_windows"),
        coalesce(sum(when(col("__n") > maxDf, col("__n"))), lit(0L))
          .as("dropped_rows"),
        coalesce(max(col("__n")), lit(0L)).as("max_df"))

  /** [[longMatchRemove]] + [[longMatchCapReport]] sharing ONE key-stats
    * aggregate (persistTracked — slim one-row-per-distinct-key frame
    * consumed by both the report and the flag join), so an operational
    * caller (the dedup CLI) pays one occurrence pass for the pair
    * instead of two. Returns (cleaned corpus, 1-row cap report). */
  def longMatchRemoveReport(df: DataFrame, idCol: String, textCol: String,
                            minLen: Int = 50, maxDf: Int = 1000,
                            keyMode: String = "xx")
      : (DataFrame, DataFrame) = {
    require(minLen > 0, s"minLen must be positive, got $minLen")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    require(Set("xx", "md5")(keyMode),
      s"keyMode must be 'xx' or 'md5', got '$keyMode'")
    requireNumericId(df, idCol, "Dedup.longMatchRemoveReport:")
    val occ = longMatchOcc(df, idCol, textCol, minLen, keyMode)
    val keyStats = graft.core.Caching.persistTracked(longMatchKeyStats(occ))
    val cleaned = removeFromStarts(df, idCol, textCol,
      flaggedStarts(occ, keyStats, keepFirst = true, maxDf), minLen)
    (cleaned, capFromKeyStats(keyStats, maxDf))
  }

  /** Remove every duplicated span's tokens EXCEPT the first carrier's
    * (Lee et al.'s keep-one contract): tokens covered by any flagged
    * minLen-window are cut; the min-(id, start) occurrence of each
    * window survives. Output: (id, clean_text, n_tokens, n_removed). */
  def longMatchRemove(df: DataFrame, idCol: String, textCol: String,
                      minLen: Int = 50, maxDf: Int = 1000,
                      keyMode: String = "xx"): DataFrame =
    removeFromStarts(df, idCol, textCol,
      longMatchDupStarts(df, idCol, textCol, minLen,
        keepFirst = true, maxDf, keyMode), minLen)

  /** Cut every token covered by a flagged fixed-width window. `dup` is
    * (id, s) rows of 1-based window starts; output is (id, clean_text,
    * n_tokens, n_removed). The per-row cover scan runs in the
    * [[graft.sql.CoverRemove]] JVM kernel — a two-pointer pass over
    * (tokens, sorted starts), O(tokens + spans) per document. The
    * previous pure-Column form evaluated `exists(dups)` once per token
    * (O(tokens × spans), quadratic on a doc with thousands of flagged
    * spans) and survives as [[removeFromStartsStaged]], the
    * certification twin. */
  private[operators] def removeFromStarts(df: DataFrame, idCol: String,
                               textCol: String, dup: DataFrame,
                               minLen: Int): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{toColumn, toExpression}
    val kernel = toColumn(graft.sql.CoverRemove(
      toExpression(col("tk")), toExpression(col("dups")),
      toExpression(lit(minLen))))
    coverJoin(df, idCol, textCol, dup)
      .select(col("id"), kernel.as("__r"))
      .select(col("id"), col("__r.clean_text").as("clean_text"),
        col("__r.n_tokens").as("n_tokens"),
        col("__r.n_removed").as("n_removed"))
  }

  /** The pure-Column twin of [[removeFromStarts]] — same answer,
    * O(tokens × spans) interpreted lambda work per document. Kept as
    * the certification baseline (SubstrDedupSpec pins kernel == staged
    * on randomized + pathological corpora), never on a production
    * path. */
  private[operators] def removeFromStartsStaged(df: DataFrame,
                                                idCol: String,
                                                textCol: String,
                                                dup: DataFrame,
                                                minLen: Int): DataFrame =
    coverJoin(df, idCol, textCol, dup)
      .select(col("id"), col("tk"),
        filter(col("tk"), (_, i) =>
          !exists(col("dups"), st => st <= i + 1 && i + 1 < st + minLen))
          .as("kept"))
      .select(col("id"),
        array_join(col("kept"), " ").as("clean_text"),
        size(col("tk")).cast("long").as("n_tokens"),
        (size(col("tk")) - size(col("kept"))).cast("long")
          .as("n_removed"))

  /** Shared input shape of the cover-removal twins: one row per doc —
    * (id, tk, dups) with dups the SORTED distinct 1-based starts
    * (empty for uncut docs; null text behaves as an empty doc). */
  private def coverJoin(df: DataFrame, idCol: String, textCol: String,
                        dup: DataFrame): DataFrame = {
    val dupStarts = dup.groupBy(col("id"))
      .agg(sort_array(collect_set(col("s"))).as("dups"))
    val toks = df.select(col(idCol).cast("long").as("id"),
      coalesce(graft.functions.TextFunctions.tokens(col(textCol)),
        array().cast("array<string>")).as("tk"))
    toks.join(dupStarts, Seq("id"), "left")
      .select(col("id"), col("tk"),
        coalesce(col("dups"), array().cast("array<int>")).as("dups"))
  }

  /** Paragraph-level dedup with document reconstruction — the CCNet
    * recipe (Wenzek et al., LREC 2020: web corpora are deduplicated at
    * PARAGRAPH granularity, then documents are reassembled from their
    * surviving paragraphs, so boilerplate headers/footers/navigation
    * vanish while unique prose stays).
    *
    * Semantics: split each document on `splitRegex`, drop whitespace-
    * only paragraphs, fingerprint the trimmed paragraph text; an
    * occurrence SURVIVES iff it is the corpus-wide first carrier of
    * its fingerprint — min (id, pos), the dedup tiers' keep convention
    * (which also collapses a paragraph repeated within one document to
    * its first occurrence). Surviving paragraphs rejoin in original
    * order with `delim`.
    *
    * Scale shape: one SLIM row per paragraph — (id, pos, fingerprint),
    * 24 bytes; paragraph TEXT never rides a shuffle. First-carrier is
    * `groupBy(fp).agg(min(struct(id, pos)))` joined back on fp — NOT a
    * `Window.partitionBy(fp)`: the aggregate gets map-side partial
    * aggregation, so a VIRAL paragraph (one footer in 10% of a 100 TB
    * corpus) collapses to one row per map task before the shuffle, and
    * the join back is a slim equi-join AQE's skew handling can split —
    * where the window form must buffer the whole viral fp group in one
    * task's memory (the WindowExec one-group-at-a-time contract) with
    * no runtime mitigation. Kept RAW-split positions aggregate per doc
    * (longs), and the ONE text movement in the whole plan is the final
    * by-id join, where each document re-splits its own text and keeps
    * its surviving positions as pure per-row work. Nothing pairwise,
    * nothing driver-side.
    *
    * keyMode: "xx" (production) fingerprints with xxhash64;
    * "md5" certifies — the 60-bit md5 prefix replays in DuckDB.
    *
    * Output: id, clean_text, n_paras, n_removed.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     splitRegex: String = "\\n{2,}", delim: String = "\n",
                     keyMode: String = "xx"): DataFrame = {
    require(Set("xx", "md5")(keyMode),
      s"paragraphDedup: keyMode must be xx|md5, got $keyMode")
    requireNumericId(df, idCol, "Dedup.paragraphDedup:")
    val spark = df.sparkSession
    import spark.implicits._

    // SLIM paragraph rows: (id, pos, fp) only — paragraph TEXT never
    // rides a shuffle. pos indexes the RAW split (whitespace-only
    // pieces get a pos but are dropped here and so can never be kept),
    // which is what lets the reassembly re-derive each kept piece from
    // the original text per row.
    val fpOf = (p: org.apache.spark.sql.Column) =>
      if (keyMode == "md5") md5Long60(p) else xxhash64(p)
    // the regex split is the expensive scan expression and BOTH
    // consumers (the slim fingerprint branch and the per-row
    // reassembly) need it — persist the split frame so the corpus
    // tokenizes once (the minhashNearDup signature-persist pattern)
    val base = graft.core.Caching.persistTracked(
      df.select(col(idCol).cast("long").as("id"),
        split(col(textCol), splitRegex).as("__ps")))
    val slim = base
      .select($"id", posexplode($"__ps").as(Seq("pos", "para")))
      .select($"id", $"pos".cast("long").as("pos"), trim($"para").as("para"))
      .filter($"para" =!= "")
      .select($"id", $"pos", fpOf($"para").as("fp"))

    // first carrier per fingerprint as a map-side-combining AGGREGATE
    // (viral keys reduce before the shuffle; see the Scaladoc)
    val firstCarrier = slim
      .groupBy($"fp").agg(min(struct($"id", $"pos")).as("w"))
    // kept RAW-split positions per doc — slim longs end to end
    val perDocKept = slim
      .join(firstCarrier, Seq("fp"))
      .groupBy($"id").agg(
        count(lit(1)).as("n_paras"),
        sum(when(struct($"id", $"pos") === $"w", 1L).otherwise(0L))
          .as("n_kept"),
        sort_array(collect_list(
          when(struct($"id", $"pos") === $"w", $"pos"))).as("__kept"))

    // ONE text movement total (this join, by doc id): each doc keeps
    // exactly the surviving raw positions of its own cached split, in
    // original order — pure per-row work
    base
      .join(perDocKept, Seq("id"), "left")
      .select($"id",
        when($"__kept".isNull, lit(""))
          .otherwise(array_join(
            transform(
              filter(
                zip_with(
                  $"__ps",
                  sequence(lit(0L),
                    greatest(lit(0L), size($"__ps").cast("long") - 1L)),
                  (p, i) => struct(i.as("i"), trim(p).as("p"))),
                x => array_contains($"__kept", x("i"))),
              x => x("p")),
            delim))
          .as("clean_text"),
        coalesce($"n_paras", lit(0L)).as("n_paras"),
        (coalesce($"n_paras", lit(0L)) - coalesce($"n_kept", lit(0L)))
          .as("n_removed"))
  }

  /** INTRA-document repeated-chunk removal — the within-page line
    * dedup of the RefinedWeb recipe (Penedo et al. 2023): repeated
    * k-token chunks inside ONE document collapse to their first
    * occurrence and the document reassembles in order. Cross-document
    * repetition is untouched (that is [[paragraphDedup]]'s corpus-wide
    * job); this is the SOFT fix beside QualityRules' repetition kill
    * gate — the document keeps its unique content instead of dying.
    *
    * Pure per-row work over one tokenize pass — no explode, no
    * shuffle, no window: scan-speed at 100 TB. The first-occurrence
    * scan runs in the [[graft.sql.FirstOccurrenceChunks]] JVM kernel —
    * ONE hash-set pass, O(nc) in chunk count nc = ceil(m/k) for every
    * document. (The previous pure-Column form was O(nc²) interpreted
    * higher-order-function work per doc regardless of repetition — the
    * RepetitionMetrics cost class — and survives below as the
    * certification twin.)
    *
    * Output: id, clean_text, n_chunks, n_removed (the paragraphDedup
    * contract at chunk granularity; clean_text is the single-space
    * rejoin of surviving chunks). */
  def removeRepeatedChunks(df: DataFrame, idCol: String, textCol: String,
                           chunkTokens: Int = 4): DataFrame = {
    require(chunkTokens >= 1,
      s"Dedup.removeRepeatedChunks: chunkTokens must be >= 1, " +
        s"got $chunkTokens")
    requireNumericId(df, idCol, "Dedup.removeRepeatedChunks:")
    import graft.functions.TextFunctions
    val s1 = df
      .select(col(idCol).cast("long").as("id"),
        // null text behaves as an empty document ("" / 0 / 0 — the
        // paragraphDedup output contract), not a null row
        coalesce(TextFunctions.tokens(col(textCol)),
          array().cast("array<string>")).as("__toks"))
      .select(col("id"),
        TextFunctions.chunksTokens(col("__toks"), chunkTokens).as("__ck"))
    val kernel = org.apache.spark.sql.GraftSqlBridge.toColumn(
      graft.sql.FirstOccurrenceChunks(
        org.apache.spark.sql.GraftSqlBridge.toExpression(col("__ck"))))
    s1.select(col("id"), kernel.as("__r"))
      .select(col("id"), col("__r.clean_text").as("clean_text"),
        col("__r.n_chunks").as("n_chunks"),
        col("__r.n_removed").as("n_removed"))
  }

  /** Pure-Column certification twin of [[removeRepeatedChunks]] — the
    * keep-iff-no-earlier-equal scan as higher-order functions (filter
    * over slice per index). O(nc²) interpreted per document, so NOT
    * the production path; ParagraphDedupSpec pins kernel == staged on
    * randomized corpora, the q124 oracle replays the kernel in DuckDB
    * independently. */
  def removeRepeatedChunksStaged(df: DataFrame, idCol: String,
                                 textCol: String,
                                 chunkTokens: Int = 4): DataFrame = {
    require(chunkTokens >= 1,
      s"Dedup.removeRepeatedChunksStaged: chunkTokens must be >= 1, " +
        s"got $chunkTokens")
    requireNumericId(df, idCol, "Dedup.removeRepeatedChunksStaged:")
    import graft.functions.TextFunctions
    val s1 = df
      .select(col(idCol).cast("long").as("id"),
        coalesce(TextFunctions.tokens(col(textCol)),
          array().cast("array<string>")).as("__toks"))
      .select(col("id"),
        TextFunctions.chunksTokens(col("__toks"), chunkTokens).as("__ck"))
    // keep chunk j iff no EARLIER chunk equals it; __ck is staged and
    // referenced ≥ 2 times per consumer (the CollapseProject rule) so
    // every lambda reads a row field, never a recomputed subtree
    val nc = size(col("__ck"))
    val keptIdx = when(nc === 0, array().cast("array<int>"))
      .otherwise(filter(sequence(lit(1), nc), j =>
        j === 1 || size(filter(slice(col("__ck"), lit(1), j - 1),
          c => c === element_at(col("__ck"), j))) === 0))
    s1.select(col("id"), col("__ck"), keptIdx.as("__keep"))
      .select(col("id"),
        concat_ws(" ", transform(col("__keep"),
          j => element_at(col("__ck"), j))).as("clean_text"),
        size(col("__ck")).cast("long").as("n_chunks"),
        (size(col("__ck")) - size(col("__keep"))).cast("long")
          .as("n_removed"))
  }
}
