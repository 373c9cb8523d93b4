package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.{shinglesTokens, tokens}

/** Benchmark decontamination: flag training documents that share word
  * n-grams with an evaluation/benchmark set — the standard leakage
  * check before training on a scraped corpus (the GPT-3/PaLM-style
  * "13-gram overlap" rule, with n a parameter because fixture documents
  * are short).
  *
  * Scale shape: the eval set is SMALL by definition (benchmarks are
  * thousands of documents, the corpus is billions), so its distinct
  * n-gram set is collected into a broadcast hash join — the corpus-side
  * n-gram stream is generated inside the scan projection, joined
  * map-side with no shuffle of corpus data, and only matching (doc,
  * gram) rows reach the per-document aggregate. Nothing here is
  * proportional to |corpus| × |eval|. For an eval set too big to
  * broadcast, drop the `broadcast` hint and the same plan degrades
  * gracefully to a shuffle join on the gram key.
  */
object Decontaminate {

  /** Per-document contamination hits: (docId, n_hits) for every
    * training document sharing ≥ 1 distinct word n-gram with `evalDf`.
    * Documents shorter than n tokens participate as a single whole-text
    * gram (see TextFunctions.shingles), so short eval items still
    * match their verbatim copies. */
  def ngramHits(trainDf: DataFrame, evalDf: DataFrame,
                idCol: String, textCol: String, n: Int = 8): DataFrame = {
    // tokens are STAGED into a projection before the shingle lambda —
    // the inline form re-runs the regex split once per shingle (see
    // the TextFunctions.shingles perf note; measured 3-4 s at sf0.1)
    val evalGrams = evalDf
      .select(tokens(col(textCol)).as("__tk"))
      .select(explode(shinglesTokens(col("__tk"), n)).as("gram"))
      .distinct()
    trainDf
      .select(col(idCol), tokens(col(textCol)).as("__tk"))
      .select(col(idCol), explode(shinglesTokens(col("__tk"), n)).as("gram"))
      .join(broadcast(evalGrams), "gram")
      // shingles() is distinct per document, so this count IS the size
      // of the per-document gram-set intersection with the eval set
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Contamination SPAN extraction: not just how many eval grams a
    * training document shares (ngramHits) but WHERE — the merged
    * leaked passages, in 1-based token coordinates, that an auditor
    * reads and a redaction pass cuts. Overlapping/adjacent hits
    * coalesce (gaps-and-islands over the hit start positions: a hit at
    * s covers [s, s+n-1], so starts within n of each other merge).
    * Positional by construction, so only documents with ≥ n tokens
    * produce spans — sub-n leakage is the count tier's whole-text
    * gram, already flagged by ngramHits.
    *
    * Scale shape: the q80 position machinery — grams generated in the
    * scan, never materialized; the broadcast eval join keeps only hit
    * (id, s) rows, and the island window partitions on the
    * HIGH-cardinality doc id (never a low-cardinality key). Output is
    * one row per merged span. */
  def ngramHitSpans(trainDf: DataFrame, evalDf: DataFrame,
                    idCol: String, textCol: String, n: Int = 8)
      : DataFrame = {
    require(n > 0, s"span length n must be positive, got $n")
    val evalGrams = gramPositions(
        evalDf.select(tokens(col(textCol)).as("__tk")), Nil, n)
      .select(col("gram")).distinct()
    val hits = gramPositions(
        trainDf.select(col(idCol).cast("long").as("id"),
          tokens(col(textCol)).as("__tk")), Seq("id"), n)
      .join(broadcast(evalGrams), Seq("gram"))
      .select(col("id"), col("s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("s"))
    val cum = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    hits
      .withColumn("__prev", lag(col("s"), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull || col("s") > col("__prev") + n, 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(cum))
      .groupBy(col("id"), col("__island"))
      .agg(min(col("s")).as("span_start"),
        (max(col("s")) + n - 1).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("id"), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"), col("n_grams"))
  }

  /** Positional grams: 1-based span starts + the n-token gram at each.
    * `slim` must carry __tk plus the columns named in `keep`. */
  private def gramPositions(slim: DataFrame, keep: Seq[String],
                            n: Int): DataFrame = {
    val ks = keep.map(col)
    slim
      .withColumn("__ss",
        when(size(col("__tk")) >= n,
          sequence(lit(1), size(col("__tk")) - n + 1))
          .otherwise(array().cast("array<int>")))
      .select(ks :+ col("__tk") :+ explode(col("__ss")).as("s"): _*)
      .select(ks :+ col("s") :+
        array_join(slice(col("__tk"), col("s"), lit(n)), " ")
          .as("gram"): _*)
  }

  /** The redaction pass the span report feeds: CUT every token covered
    * by an eval-set n-gram from each training document — the
    * keep-the-doc, drop-the-leak alternative to dropping contaminated
    * documents wholesale (Dedup.exactSubstrRemove's kept-token filter,
    * with the duplicate-gram set replaced by the EVAL gram set).
    * Output contract matches the substr tier: every input doc leaves
    * as (id, clean_text, n_tokens, n_removed). */
  def redactEvalNgrams(trainDf: DataFrame, evalDf: DataFrame,
                       idCol: String, textCol: String, n: Int = 8)
      : DataFrame = {
    require(n > 0, s"span length n must be positive, got $n")
    val evalGrams = gramPositions(
        evalDf.select(tokens(col(textCol)).as("__tk")), Nil, n)
      .select(col("gram")).distinct()
    val toks = trainDf.select(col(idCol).cast("long").as("id"),
      tokens(col(textCol)).as("__tk"))
    val dupStarts = gramPositions(toks, Seq("id"), n)
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy(col("id")).agg(sort_array(collect_set(col("s"))).as("__dups"))
    toks.join(dupStarts, Seq("id"), "left")
      .select(col("id"), col("__tk"),
        coalesce(col("__dups"), array().cast("array<int>")).as("__dups"))
      .withColumn("__kept", filter(col("__tk"), (_, i) =>
        !exists(col("__dups"), st => st <= i + 1 && i + 1 < st + n)))
      .select(col("id"),
        array_join(col("__kept"), " ").as("clean_text"),
        size(col("__tk")).cast("long").as("n_tokens"),
        (size(col("__tk")) - size(col("__kept"))).cast("long")
          .as("n_removed"))
  }

  /** Bloom-tier contamination check — the scale path past the exact
    * broadcast: the eval grams aggregate into a Bloom filter over
    * their xxhash64 fingerprints (`fpp`-sized bits instead of the gram
    * strings — a 100M-gram eval set at fpp 1e-3 is ~170 MB of bits vs
    * gigabytes of strings, and the corpus side needs NO join at all:
    * one broadcast + a codegen'd projection + the same per-doc
    * aggregate).
    *
    * Guarantees, by Bloom-filter construction:
    *  - NO false negatives: every document `ngramHits` flags is
    *    flagged here with `n_hits_bloom >= n_hits` (pinned in
    *    DecontaminateSpec) — a contamination screen may overcount,
    *    never miss;
    *  - false positives inflate counts at ~`fpp` per distinct corpus
    *    gram; callers screening at a hit THRESHOLD should set fpp so
    *    expected inflation per doc (gramsPerDoc · fpp) stays below it.
    *
    * Fully IN-PLAN: Spark ships Bloom expressions for its own runtime
    * row-level filtering but leaves them unregistered —
    * GraftExtensions injects them, so `bloom_filter_agg` builds the
    * filter as a distributed mergeable AGGREGATE (map-side partials,
    * no driver round-trip, no broadcast-variable plumbing) and
    * `might_contain` probes it as a native codegen'd predicate (no
    * scalar UDF in the corpus scan). The built filter travels to the
    * probe as a 1-row broadcast. */
  def ngramHitsBloom(trainDf: DataFrame, evalDf: DataFrame,
                     idCol: String, textCol: String, n: Int = 8,
                     fpp: Double = 0.001): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val evalKeys = evalDf
      .select(tokens(col(textCol)).as("__tk"))
      .select(explode(shinglesTokens(col("__tk"), n)).as("gram"))
      .select(xxhash64(col("gram")).as("gk"))
      .distinct()
    // expectedNumItems sizes the bit array; the count is one slim
    // aggregate over the (small-by-definition) eval side
    val nEval = math.max(1L, evalKeys.count())
    // optimal bits for the target fpp: ceil(-n·ln(fpp) / ln(2)²)
    val numBits = math.max(64L, math.ceil(
      -nEval * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    // BloomFilterAggregate SILENTLY caps numBits at this conf (verified
    // in the shipped bytecode) — a capped filter would deliver a worse
    // fpp than promised with no signal, so refuse loudly instead and
    // tell the caller which knob to turn.
    val maxBits = trainDf.sparkSession.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864")
      .toLong
    require(numBits <= maxBits,
      s"eval set needs $numBits bloom bits for fpp=$fpp but " +
        s"spark.sql.optimizer.runtime.bloomFilter.maxNumBits=$maxBits " +
        "would silently cap it (degrading fpp); raise that conf or fpp")
    val bloom = evalKeys.agg(
      expr(s"bloom_filter_agg(gk, ${nEval}L, ${numBits}L)").as("__bloom"))
    // might_contain's analysis rule requires the filter side to be a
    // constant or a SCALAR SUBQUERY (the shape Spark's own runtime
    // filtering injects) — so the probe goes through one. The temp
    // views exist only for the duration of the sql() analysis (unique
    // names for re-entrancy; dropped immediately — the analyzed plan
    // keeps the resolved subplans).
    val spark = trainDf.sparkSession
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (bv, tv) = (s"graft_bloom_$tag", s"graft_bloom_probe_$tag")
    bloom.createOrReplaceTempView(bv)
    trainDf
      .select(col(idCol), tokens(col(textCol)).as("__tk"))
      .select(col(idCol), explode(shinglesTokens(col("__tk"), n)).as("gram"))
      .select(col(idCol), xxhash64(col("gram")).as("gk"))
      .createOrReplaceTempView(tv)
    try spark.sql(
      s"""SELECT `$idCol`, COUNT(*) AS n_hits_bloom FROM `$tv`
         |WHERE might_contain((SELECT __bloom FROM `$bv`), gk)
         |GROUP BY `$idCol`""".stripMargin)
    finally {
      spark.catalog.dropTempView(bv)
      spark.catalog.dropTempView(tv)
      ()
    }
  }

  /** Certification twin of [[ngramHitsBloom]] — the SAME Bloom-filter
    * semantics with the hash family drawn from md5 (the q86/LSH
    * keyMode="md5" recipe): ONE md5 per gram splits into two
    * sub-hashes (h1 = low 30 bits, h2 = high 30 bits forced odd) and
    * the k bit positions are (h1 + i·h2) mod numBits for i = 0..k-1 —
    * Kirsch & Mitzenmacher's double hashing ("Less Hashing, Same
    * Performance", ESA 2006: a two-hash linear family preserves the
    * Bloom fpp asymptotics), which costs ONE interpreted md5 per gram
    * instead of k (measured 3.99 → 2.59 s on the registered query at
    * sf0.1 — and 5.39 s when `v` was inlined into the position array
    * instead of staged, the md5 subtree duplicated 2k× per gram: the
    * staging matters more than the hash count). The filter's bit
    * ARRAY is the distinct position set of
    * the eval grams; a probe gram hits iff ALL k of its positions are
    * set — including the genuine false positives a Bloom filter owes
    * its fpp to, which both engines replay identically because every
    * position is exact 60-bit integer arithmetic (bit ops, never a
    * double division — 60-bit values exceed a double's 53-bit
    * mantissa). Production keeps [[ngramHitsBloom]]'s native
    * bloom_filter_agg (engine-internal hash family, zero interpreted
    * md5 in the corpus scan).
    *
    * Scale shape: positions are slim longs — the corpus side explodes
    * each gram into k position rows (k ≈ 5), broadcast-joins the
    * (small-by-definition) eval position set, and only matched rows
    * reach the per-gram count; nothing is |corpus| × |eval|. Unlike
    * the production tier the filter here is RELATIONAL (a distinct
    * position set, not a packed bitmap), which is exactly what makes
    * it replayable.
    *
    * Output contract matches [[ngramHitsBloom]]: (idCol, n_hits_bloom)
    * for every training doc with ≥ 1 (possibly false-positive) hit. */
  def ngramHitsBloomMd5(trainDf: DataFrame, evalDf: DataFrame,
                        idCol: String, textCol: String, n: Int = 8,
                        numBits: Int = 16384, k: Int = 5): DataFrame = {
    require(numBits > 0, s"numBits must be positive, got $numBits")
    require(k > 0, s"k must be positive, got $k")
    def md5Long60(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    // the gram hash is STAGED into its own projection before the
    // position array references it — inlining `v` into the k array
    // elements would duplicate the md5 subtree 2k times per gram (the
    // shingles-staging lesson); from a staged attribute each position
    // is two bit ops and a multiply
    def positions(v: Column): Column = {
      val h1 = v.bitwiseAND(lit(0x3FFFFFFFL))
      val h2 = shiftright(v, 30).bitwiseOR(lit(1L))
      array((0 until k).map(i => (h1 + lit(i.toLong) * h2) % numBits): _*)
    }
    val evalPos = evalDf
      .select(tokens(col(textCol)).as("__tk"))
      .select(explode(shinglesTokens(col("__tk"), n)).as("gram"))
      .select(md5Long60(col("gram")).as("__v"))
      .select(explode(positions(col("__v"))).as("pos"))
      .distinct()
    trainDf
      .select(col(idCol), tokens(col(textCol)).as("__tk"))
      .select(col(idCol), explode(shinglesTokens(col("__tk"), n)).as("gram"))
      .select(col(idCol), col("gram"), md5Long60(col("gram")).as("__v"))
      .select(col(idCol), col("gram"),
        explode(positions(col("__v"))).as("pos"))
      .join(broadcast(evalPos), Seq("pos"))
      // all k positions set <=> all k exploded rows survived the join
      // (shinglesTokens is distinct per doc, so (id, gram) is a key)
      .groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("__m"))
      .filter(col("__m") === k.toLong)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits_bloom"))
  }

  /** Gram key under a named mode — the Novelty/Overlap contract:
    *  - "xxhash64": 8-byte fingerprint, production default;
    *  - "md5": first 15 hex chars of md5 as a 60-bit long — same slim
    *    shuffle shape, bit-for-bit replayable by the DuckDB oracle
    *    (q130 certifies this tier's store round-trip directly);
    *  - "string": the raw gram text, the certification baseline. */
  private def evalKey(c: Column, keyMode: String): Column = keyMode match {
    case "xxhash64" => xxhash64(c)
    case "md5"      => conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    case "string"   => c
    case other => throw new IllegalArgumentException(
      s"unknown keyMode '$other' (xxhash64 | md5 | string)")
  }

  /** STORED eval-gram index: the benchmark set's distinct word-n-gram
    * keys with build parameters riding as field metadata (the
    * gramIndex/longMatchIndex self-describing contract — a mismatched
    * probe refuses loudly, never silently misses). This is the
    * sign-once / screen-forever form of the decontamination family:
    * [[ngramHits]] re-tokenizes the eval set on every screen, which is
    * fine for a one-off audit but wrong for a streaming ingest that
    * screens every micro-batch — the eval grams are signed ONCE here,
    * and [[ngramHitsFromIndex]] probes the store at O(batch).
    *
    * The store keeps KEYS only, no eval-item attribution — the kill
    * tier needs membership, not provenance (an auditor wanting WHICH
    * eval item leaked runs the exact [[ngramHitSpans]] tier with the
    * eval set in hand). Distinct keys also make the append law
    * trivially exact: union-distinct is idempotent and commutative. */
  def evalGramIndex(evalDf: DataFrame, textCol: String, n: Int = 8,
                    keyMode: String = "xxhash64"): DataFrame = {
    require(n > 0, s"gram length n must be positive, got $n")
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("shingle_n", n.toLong)
      .putString("key_mode", keyMode)
      .build()
    evalDf
      .select(tokens(col(textCol)).as("__tk"))
      .select(explode(shinglesTokens(col("__tk"), n)).as("__g"))
      .select(evalKey(col("__g"), keyMode).as("gk"))
      .distinct()
      .withColumn("gk", col("gk").as("gk", meta))
  }

  /** Read a stored eval-gram index's build parameters (shingle_n,
    * key_mode) from its field metadata — the store contract shared by
    * probes and appends. Fails loudly on a frame that is not an
    * [[evalGramIndex]] store. */
  private def evalIndexParams(index: DataFrame): (Int, String) = {
    require(index.schema.fieldNames.contains("gk"),
      "eval-gram index has no 'gk' column; build it with " +
        "Decontaminate.evalGramIndex")
    val md = index.schema("gk").metadata
    require(md.contains("shingle_n") && md.contains("key_mode"),
      "eval-gram index carries no build metadata; rebuild it with " +
        "Decontaminate.evalGramIndex (stores predating the parameter " +
        "contract are not probeable)")
    (md.getLong("shingle_n").toInt, md.getString("key_mode"))
  }

  /** Create a stored eval-gram index with its first SUITE — the store
    * is Hive-partitioned by `suite` (one partition per benchmark
    * suite), which is what makes the whole suite lifecycle O(suite):
    * [[appendEvalIndex]] signs or re-signs one suite as a partition
    * overwrite (never touching the others), [[retireEvalSuite]] empties
    * one partition, and a probe reads all partitions and
    * dedups keys (a gram carried by two suites counts once). */
  def writeEvalIndex(evalDf: DataFrame, textCol: String,
                     indexPath: String, n: Int = 8,
                     keyMode: String = "xxhash64",
                     suite: String = "default"): Unit = {
    requireSuiteName(suite)
    val idx = evalGramIndex(evalDf, textCol, n, keyMode)
      .withColumn("suite", lit(suite))
    idx.write.partitionBy("suite").mode("overwrite").parquet(indexPath)
    // empty-store readability: a store whose every suite is later
    // retired must still read (zero rows, schema + build metadata
    // intact) so it can be probed and RE-signed without a rebuild
    graft.core.Stores.writeSchemaMarker(idx, indexPath)
  }

  /** Sign (or RE-sign) one benchmark suite into a stored eval-gram
    * index — benchmarks rotate: new suites are adopted mid-crawl and
    * revised suites replace their previous grams. The suite's grams
    * land as ONE partition via dynamic overwrite, so signing is
    * idempotent per suite (a replay rewrites the same partition
    * bit-identically), other suites are never read or touched, and
    * `sign(write(A as s1), B as s2)` probes identically to an index
    * built over A ∪ B (the merge law DecontaminateSpec pins — as
    * probe equality, the only contract a partitioned layout owes).
    * Build parameters come FROM the store metadata. Signing an
    * EXISTING suite name REPLACES that suite's grams — pick a new
    * name to accumulate, reuse the name to revise. */
  def appendEvalIndex(newEval: DataFrame, textCol: String,
                      indexPath: String,
                      suite: String = "default"): Unit = {
    requireSuiteName(suite)
    val spark = newEval.sparkSession
    // readOrEmpty: an all-suites-retired store must be re-signable
    // without a writeEvalIndex rebuild (its _schema marker carries the
    // build metadata the signing re-derives its parameters from)
    val idx = graft.core.Stores.readOrEmpty(spark, indexPath)
    require(idx.schema.fieldNames.contains("suite"),
      s"$indexPath is a pre-suite eval-gram store — rebuild it with " +
        "writeEvalIndex (the suite-partitioned layout)")
    val (n, keyMode) = evalIndexParams(idx)
    // the same one-writer lease every other store mutation takes: two
    // concurrent signings of the SAME suite would interleave the
    // dynamic partition overwrite's delete+write steps
    graft.core.Stores.withLease(spark, indexPath, "appendEvalIndex") {
      evalGramIndex(newEval, textCol, n, keyMode)
        .withColumn("suite", lit(suite))
        .write.partitionBy("suite").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(indexPath)
    }
  }

  /** Retire one suite from a stored eval-gram index — the benchmark
    * was rotated out, so its grams must stop gating training data.
    * The suite's partition is emptied through
    * [[graft.core.Stores.replaceParts]]: O(1) metadata work, other
    * suites never read, every crash window fsck-repairable. Refuses an
    * unknown suite (retiring nothing is a caller bug a silent no-op
    * would hide). */
  def retireEvalSuite(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String, suite: String): Unit = {
    requireSuiteName(suite)
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/suite=$suite")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.core.Stores.withLease(spark, indexPath, "retireEvalSuite") {
      require(fs.exists(p),
        s"retireEvalSuite: no suite '$suite' in $indexPath")
      graft.core.Stores.replaceParts(spark, indexPath, "suite", Seq(suite),
        "retireEvalSuite")
    }
  }

  /** Suite names become partition directory names — keep them to the
    * portable-identifier alphabet so the store layout is stable across
    * filesystems and the Hive partition encoding never kicks in. */
  private def requireSuiteName(suite: String): Unit =
    require(suite.nonEmpty && suite.matches("[0-9A-Za-z_.-]+"),
      s"suite name must match [0-9A-Za-z_.-]+, got '$suite'")

  /** Per-document contamination hits against a STORED
    * [[evalGramIndex]] — the [[ngramHits]] output contract
    * ((idCol, n_hits) for every doc sharing ≥ 1 distinct gram with the
    * indexed eval set), at the ingest cost shape: O(batch + probed
    * index), eval text never re-read (the q73/q74 family). The caller
    * passes the n/keyMode it EXPECTS and the store's metadata must
    * agree — a probe keyed differently than the store would silently
    * return zero hits, the worst possible failure for a leakage gate.
    *
    * Scale shape: batch grams are keyed inside the scan (8-byte keys
    * under the hashed modes — gram text never shuffles), the index
    * side is broadcast (eval sets are small by definition; drop to a
    * shuffled join by removing the hint if a mega-suite ever isn't),
    * and only matching rows reach the per-doc count. shinglesTokens is
    * distinct per doc and index keys are distinct, so the count IS the
    * gram-set intersection size. */
  def ngramHitsFromIndex(trainDf: DataFrame, idCol: String,
                         textCol: String, index: DataFrame,
                         n: Int = 8, keyMode: String = "xxhash64")
      : DataFrame = {
    val (storedN, storedMode) = evalIndexParams(index)
    require(storedN == n && storedMode == keyMode,
      s"eval-gram index was built with n=$storedN/key_mode=$storedMode " +
        s"but the probe asks n=$n/key_mode=$keyMode — hits would " +
        "silently miss; rebuild or re-probe with matching parameters")
    trainDf
      .select(col(idCol), tokens(col(textCol)).as("__tk"))
      .select(col(idCol), explode(shinglesTokens(col("__tk"), n)).as("__g"))
      .select(col(idCol), evalKey(col("__g"), keyMode).as("gk"))
      // distinct: in the suite-partitioned layout a gram carried by
      // two suites is two store rows — it must count once per doc
      .join(broadcast(index.select(col("gk")).distinct()), Seq("gk"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Token redaction against a STORED [[evalGramIndex]] — the
    * [[redactEvalNgrams]] semantics (cut every token covered by an
    * eval n-gram, keep the doc) at the ingest cost shape: batch gram
    * positions are keyed in the scan and semi-joined against the
    * broadcast index, and the cover cut rides the same
    * [[Dedup.removeFromStarts]] CoverRemove kernel as the dedup tiers.
    * Positional by construction, so docs shorter than n tokens pass
    * through untouched even when their whole text is a leaked sub-n
    * gram — the KILL tier ([[ngramHitsFromIndex]], whose whole-text
    * gram covers them) is the safe default; redaction is the
    * keep-the-prose trade. Output: (id, clean_text, n_tokens,
    * n_removed) for EVERY input doc. */
  def redactEvalNgramsFromIndex(trainDf: DataFrame, idCol: String,
                                textCol: String, index: DataFrame,
                                n: Int = 8,
                                keyMode: String = "xxhash64")
      : DataFrame = {
    val (storedN, storedMode) = evalIndexParams(index)
    require(storedN == n && storedMode == keyMode,
      s"eval-gram index was built with n=$storedN/key_mode=$storedMode " +
        s"but the redaction asks n=$n/key_mode=$keyMode — leaks would " +
        "silently survive; rebuild or re-probe with matching parameters")
    val toks = trainDf.select(col(idCol).cast("long").as("id"),
      tokens(col(textCol)).as("__tk"))
    val dupStarts = gramPositions(toks, Seq("id"), n)
      .select(col("id"), col("s"), evalKey(col("gram"), keyMode).as("gk"))
      .join(broadcast(index.select(col("gk"))), Seq("gk"), "leftsemi")
      .select(col("id"), col("s"))
    Dedup.removeFromStarts(trainDf, idCol, textCol, dupStarts, n)
  }

  /** FUZZY decontamination tier: training documents NEAR-duplicating an
    * eval item by shingle-jaccard ≥ thrNum/thrDen — the paraphrase /
    * partial-copy leakage the exact n-gram tiers (a verbatim-gram
    * match) cannot see. Pure composition of the certified incremental
    * machinery: the eval set's minhash signatures are the stored-index
    * side (eval is small by definition), the corpus streams through
    * the banded equi-join, and only band-colliding pairs pay the exact
    * integer jaccard verify — O(corpus + eval) shuffle of slim rows,
    * never |corpus| × |eval|. Unlike the ingest contract, overlapping
    * id spaces are harmless here: ids never join, and a text present
    * in BOTH frames flagging itself is exactly the leakage signal.
    *
    * Because this composition streams the LARGE frame through the
    * batch side of the incremental machinery (the ingest shape is the
    * reverse), the train side's band buckets are capped too
    * (`maxBucket` on both sides): a degenerate (band, key) shared by
    * millions of boilerplate train docs would otherwise join wholesale
    * against its eval collision. Docs inside a skipped viral bucket
    * can only be missed by THIS tier — a verbatim copy still lands via
    * the exact n-gram tiers, which is why fuzzyHits complements rather
    * than replaces them.
    *
    * Output: (train_id, eval_id, inter, uni) per verified pair. */
  def fuzzyHits(trainDf: DataFrame, evalDf: DataFrame,
                idCol: String, textCol: String, shingleN: Int = 3,
                k: Int = 32, bands: Int = 8,
                thrNum: Int = 4, thrDen: Int = 5,
                maxBucket: Int = 1000): DataFrame =
    fuzzyHitsFromSigs(trainDf, idCol, textCol,
      Dedup.minhashSignatures(evalDf, idCol, textCol, shingleN, k, bands),
      shingleN, k, bands, thrNum, thrDen, maxBucket)

  /** [[fuzzyHits]] against PRE-COMPUTED eval signatures
    * ([[Dedup.minhashSignatures]] output, possibly persisted) — the
    * share-the-sigs form, so a caller needing both the hits and the
    * cap report signs the eval side ONCE instead of re-minhashing it
    * per pass. */
  def fuzzyHitsFromSigs(trainDf: DataFrame, idCol: String,
                        textCol: String, evalSigs: DataFrame,
                        shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                        thrNum: Int = 4, thrDen: Int = 5,
                        maxBucket: Int = 1000): DataFrame =
    Dedup.incrementalNearDup(trainDf, idCol, textCol, evalSigs,
        shingleN, k, bands, thrNum, thrDen,
        maxBucket = maxBucket, maxBatchBucket = maxBucket)
      .select(col("batch_id").as("train_id"),
        col("corpus_id").as("eval_id"), col("inter"), col("uni"))

  /** The fuzzy tier's cap observability (same defaults as
    * [[fuzzyHits]]): one row per side — "eval" (the stored-signature
    * side) and "train" (the corpus streaming through the batch side) —
    * with (n_buckets, n_dropped_buckets, dropped_rows, max_bucket).
    * A dropped TRAIN bucket is the recall trade the fuzzyHits Scaladoc
    * documents (docs inside it can only be missed by THIS tier); a
    * dropped EVAL bucket means a benchmark item's band collides with
    * boilerplate — either way, n_dropped_buckets > 0 belongs in the
    * run report, not in silence. */
  def fuzzyCapReport(trainDf: DataFrame, evalDf: DataFrame,
                     idCol: String, textCol: String, shingleN: Int = 3,
                     k: Int = 32, bands: Int = 8,
                     maxBucket: Int = 1000): DataFrame =
    fuzzyCapReportFromSigs(trainDf, idCol, textCol,
      Dedup.minhashSignatures(evalDf, idCol, textCol, shingleN, k, bands),
      shingleN, k, bands, maxBucket)

  /** [[fuzzyCapReport]] against pre-computed eval signatures — pairs
    * with [[fuzzyHitsFromSigs]] so hits + report share one eval
    * signing pass. */
  def fuzzyCapReportFromSigs(trainDf: DataFrame, idCol: String,
                             textCol: String, evalSigs: DataFrame,
                             shingleN: Int = 3, k: Int = 32,
                             bands: Int = 8,
                             maxBucket: Int = 1000): DataFrame =
    Dedup.incrementalCapReport(trainDf, idCol, textCol, evalSigs,
        shingleN, k, bands,
        maxBucket = maxBucket, maxBatchBucket = maxBucket)
      .withColumn("side",
        when(col("side") === "corpus", "eval").otherwise("train"))
}
