package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.tokens

/** Corpus vocabulary construction and out-of-vocabulary filtering — the
  * vocabulary-coverage quality gate of an LLM training pipeline (docs
  * dominated by tokens the tokenizer/vocab has never seen are noise:
  * boilerplate, foreign scripts, binary spill). Reference scope: the
  * text-analysis tier of the corpus pipeline (SURVEY §2 text analysis;
  * reference has no corpus surface — this extends it as the prompt
  * directs).
  *
  * Scale shape: the vocabulary itself is DRIVER-BOUNDED by construction
  * (top-K by corpus frequency), so the per-document membership check is
  * a broadcast hash join against the corpus token stream — the corpus is
  * read once, never shuffled by token for the membership pass. The only
  * token-keyed shuffle is the one count aggregate that builds the
  * vocabulary, with map-side partial counts doing the heavy lifting
  * (31 distinct tokens on the fixture; bounded by |vocab| ≪ |corpus| in
  * general).
  */
object Vocab {

  /** Corpus token frequencies: one generator-in-scan explode + one
    * hash aggregate shuffled on token. */
  def tokenCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))

  /** The top-K vocabulary by corpus frequency, ties broken by token
    * text ascending so the vocabulary is deterministic across engines
    * and partitionings. `limit` after `orderBy` plans as takeOrdered —
    * a bounded per-partition top-K merge, not a global sort. */
  def topVocab(docs: DataFrame, textCol: String, k: Int): DataFrame =
    tokenCounts(docs, textCol)
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)

  /** Batch-level OOV aggregate against a vocabulary table: (n_tokens,
    * n_oov). The vocab side is broadcast (driver-bounded by the top-K
    * construction); the batch token stream is scanned once and never
    * shuffled by token. */
  def batchOov(batch: DataFrame, textCol: String,
               vocab: DataFrame): (Long, Long) = {
    val row = batch
      .select(explode(tokens(col(textCol))).as("token"))
      .join(F.broadcast(vocab.select(col("token"), lit(1).as("__inv"))),
        Seq("token"), "left")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .head()
    if (row.isNullAt(1)) (0L, 0L) else (row.getLong(0), row.getLong(1))
  }

  /** Persist the top-K vocabulary as a self-describing store (the
    * signature-index contract pattern): (token, cnt) parquet whose
    * `token` field metadata carries top_k and the BUILD corpus's own
    * baseline OOV rate in basis points — the drift reference
    * `vocabDrift` compares ingest batches against. */
  def writeVocab(docs: DataFrame, textCol: String, topK: Int,
                 path: String): Unit = {
    val vocab = topVocab(docs, textCol, topK)
    val (nTok, nOov) = batchOov(docs, textCol, vocab)
    val baselineBp = if (nTok == 0) 0L else nOov * 10000 / nTok
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("top_k", topK.toLong)
      .putLong("baseline_oov_bp", baselineBp)
      .build()
    vocab.withColumn("token", col("token").as("token", meta))
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Read a stored vocabulary, enforcing the build-params contract: a
    * store that cannot state its top_k/baseline was not written by
    * `writeVocab` (or predates the contract) — fail loudly rather than
    * monitor drift against an unknown reference. Returns (vocab table,
    * top_k, baseline_oov_bp). */
  def readVocab(spark: org.apache.spark.sql.SparkSession,
                path: String): (DataFrame, Int, Long) = {
    val df = spark.read.parquet(path)
    val meta = df.schema("token").metadata
    require(meta.contains("top_k") && meta.contains("baseline_oov_bp"),
      s"$path carries no vocabulary build-params metadata — not a " +
        "writeVocab store (or a hand-assembled one); rebuild it")
    (df, meta.getLong("top_k").toInt, meta.getLong("baseline_oov_bp"))
  }

  /** Per-batch vocabulary-drift verdict (the OOV twin of the ANN
    * staleness contract): a batch whose OOV rate exceeds
    * `baseline·driftFactor + marginBp` signals an embedding/tokenizer
    * input-distribution shift — new language, new domain, encoding rot
    * — that the settled vocabulary no longer covers. The margin term
    * keeps a zero/low-baseline corpus from flagging on noise. */
  final case class VocabDrift(nTokens: Long, nOov: Long, oovBp: Long,
                              baselineBp: Long, drifted: Boolean)

  def vocabDrift(batch: DataFrame, textCol: String, vocab: DataFrame,
                 baselineBp: Long, driftFactor: Double = 2.0,
                 marginBp: Long = 500L): VocabDrift = {
    val (nTok, nOov) = batchOov(batch, textCol, vocab)
    val bp = if (nTok == 0) 0L else nOov * 10000 / nTok
    VocabDrift(nTok, nOov, bp, baselineBp,
      drifted = bp > (baselineBp * driftFactor).toLong + marginBp)
  }

  /** Token-distribution shift between two corpora — the distributional
    * drift report (which tokens gained/lost frequency mass between two
    * sources, two crawls, or two time slices): per-token occurrence
    * rates in integer basis points, top-k movers by absolute shift.
    * Integer-exact end-to-end (floored bp rates, count columns), so
    * cross-engine hash-stable; each side's total rides along as a
    * 1-row broadcast (the q68 scalar pattern), never a window.
    * At 100 TB each side is one token-keyed count aggregate with
    * map-side partials; the full-outer join carries only (token,
    * count) pairs and the movers' top-k is a bounded takeOrdered. */
  def tokenShift(a: DataFrame, b: DataFrame, textCol: String,
                 k: Int): DataFrame = {
    val ca = tokenCounts(a, textCol).withColumnRenamed("cnt", "ca")
    val cb = tokenCounts(b, textCol).withColumnRenamed("cnt", "cb")
    val ta = ca.agg(sum(col("ca")).as("ta"))
    val tb = cb.agg(sum(col("cb")).as("tb"))
    ca.join(cb, Seq("token"), "full_outer")
      .na.fill(0L, Seq("ca", "cb"))
      .crossJoin(F.broadcast(ta))
      .crossJoin(F.broadcast(tb))
      .select(col("token"), col("ca"), col("cb"),
        (floor(col("ca") * 10000 / col("ta")) -
          floor(col("cb") * 10000 / col("tb"))).as("shift_bp"))
      .orderBy(abs(col("shift_bp")).desc, col("token"))
      .limit(k)
  }

  /** Per-document unigram-surprisal score — the model-free rarity /
    * "perplexity proxy" quality signal (importance-sampling pipelines
    * weight documents by how surprising their tokens are under the
    * corpus distribution). A token with corpus count c contributes
    * `bits(T) − bits(c)` integer BITS (bit length via base-2 string,
    * the CorpusStats histogram trick — float log2 would flake the
    * oracle at power-of-two boundaries), approximating log2(T/c)
    * within ±1 bit; a document scores the floor of its mean
    * contribution in centibits: floor(Σ sb · 100 / n_tokens).
    *
    * Plan shape (the skew-aware hybrid): the hot head of the token
    * distribution — exactly the keys that would skew a shuffle join —
    * resolves MAP-SIDE against a broadcast of the `broadcastTopK`
    * most frequent tokens; only the cold tail of the token stream
    * (rare by construction, so uniformly spread) pays the shuffle
    * join against the full count table. Zero-token docs survive with
    * all-zero stats. */
  def surprisal(docs: DataFrame, idCol: String, textCol: String,
                broadcastTopK: Int = 65536): DataFrame = {
    def bits(c: Column): Column = length(conv(c, 10, 2)).cast("long")
    val counts = graft.core.Caching.persistTracked(
      tokenCounts(docs, textCol))
    val total = counts.agg(sum(col("cnt")).as("__t"))
    val head = F.broadcast(counts
      .orderBy(col("cnt").desc, col("token"))
      .limit(broadcastTopK)
      .withColumnRenamed("cnt", "__hc"))
    val tok = docs.select(col(idCol).cast("long").as("id"),
      explode(tokens(col(textCol))).as("token"))
    val withHead = tok.join(head, Seq("token"), "left")
    val headDone = withHead.filter(col("__hc").isNotNull)
      .select(col("id"), col("__hc").as("cnt"))
    val tailDone = withHead.filter(col("__hc").isNull)
      .select(col("id"), col("token"))
      .join(counts, Seq("token"))
      .select(col("id"), col("cnt"))
    val per = headDone.unionByName(tailDone)
      .crossJoin(F.broadcast(total))
      .select(col("id"), (bits(col("__t")) - bits(col("cnt"))).as("sb"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("sb")).as("__ssum"))
      .withColumn("surprisal_cb",
        floor(col("__ssum") * 100 / col("n_tokens")))
      .drop("__ssum")
    docs.select(col(idCol).cast("long").as("id"))
      .join(per, Seq("id"), "left")
      .na.fill(0L, Seq("n_tokens", "surprisal_cb"))
  }

  /** Persist the corpus unigram language model — the FIXED background
    * model CCNet-style scoring wants (Wenzek et al. 2020 score crawls
    * against a Wikipedia-trained LM; the settled corpus is this
    * suite's reference distribution): the full token count table, with
    * the exact token total and the smoothing rule as field metadata
    * (the writeVocab params contract) so a probe NEVER rescans the
    * build corpus. */
  def writeLm(docs: DataFrame, textCol: String, path: String): Unit = {
    val counts = tokenCounts(docs, textCol)
    val total = counts.agg(coalesce(sum(col("cnt")), lit(0L)))
      .head().getLong(0)
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("total_tokens", total)
      .putString("smoothing", "count-floor-1")
      .build()
    counts.withColumn("token", col("token").as("token", meta))
      .write.mode("overwrite").parquet(path)
  }

  /** Read a stored LM, enforcing the build-params contract (total and
    * smoothing rule in metadata — a store that cannot state them was
    * not written by writeLm; fail loudly). */
  def readLm(spark: org.apache.spark.sql.SparkSession, path: String)
      : (DataFrame, Long) = {
    val df = spark.read.parquet(path)
    val meta = df.schema("token").metadata
    require(meta.contains("total_tokens") && meta.contains("smoothing"),
      s"$path carries no LM build-params metadata — not a writeLm " +
        "store (or a hand-assembled one); rebuild it")
    require(meta.getString("smoothing") == "count-floor-1",
      s"$path was built under smoothing '${meta.getString("smoothing")}'" +
        " — this reader serves count-floor-1 stores only")
    (df, meta.getLong("total_tokens"))
  }

  /** Fold a batch into a stored LM — counts ADD exactly (the
    * CorpusStats merge law: append(writeLm(A), B) == writeLm(A ∪ B)
    * bit-for-bit, spec-pinned), so the reference model can track the
    * settled corpus incrementally at O(batch + vocab) cost. One writer
    * at a time, the usual append contract. */
  def appendLm(batch: DataFrame, textCol: String, path: String): Unit = {
    val spark = batch.sparkSession
    val (lm, total) = readLm(spark, path)
    val delta = tokenCounts(batch, textCol)
      .withColumnRenamed("cnt", "__dcnt")
    val mergedCounts = lm.select(col("token"), col("cnt"))
      .join(delta, Seq("token"), "full")
      .select(col("token"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("__dcnt"), lit(0L)))
          .as("cnt"))
    val dTotal = batch
      .select(graft.functions.TextFunctions.tokenCount(col(textCol))
        .cast("long").as("n"))
      .agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("total_tokens", total + dTotal)
      .putString("smoothing", "count-floor-1")
      .build()
    graft.core.Stores.withLease(spark, path, "appendLm") {
      graft.core.Stores.replace(spark, path, "appendLm")(
        mergedCounts.withColumn("token", col("token").as("token", meta))
          .write.mode("overwrite").parquet(_))
    }
  }

  /** Retract a batch from a stored LM — the inverse of [[appendLm]]:
    * counts SUBTRACT exactly and tokens falling to zero leave the
    * table, so `removeFromLm(appendLm(writeLm(A), B), B) == writeLm(A)`
    * bit-for-bit (spec-pinned). Refuses before anything mutates if the
    * subtraction would go negative anywhere — a batch the store never
    * absorbed (or absorbed differently) must fail loudly, not leave a
    * silently-skewed background model. Same one-writer contract as the
    * append. */
  def removeFromLm(batch: DataFrame, textCol: String, path: String,
                   validateOnly: Boolean = false): Unit = {
    val spark = batch.sparkSession
    val (lm, total) = readLm(spark, path)
    val delta = tokenCounts(batch, textCol)
      .withColumnRenamed("cnt", "__dcnt")
    graft.core.Caching.scopedRelease {
      val merged = graft.core.Caching.persistTracked(
        lm.select(col("token"), col("cnt"))
          .join(delta, Seq("token"), "full")
          .select(col("token"),
            (coalesce(col("cnt"), lit(0L)) -
              coalesce(col("__dcnt"), lit(0L))).as("cnt")))
      val neg = merged.filter(col("cnt") < 0L).count()
      require(neg == 0L,
        s"removeFromLm: $neg tokens would go negative — the batch is " +
          "not (fully) contained in this store; remove what you " +
          "appended")
      val dTotal = batch
        .select(graft.functions.TextFunctions.tokenCount(col(textCol))
          .cast("long").as("n"))
        .agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
      require(total - dTotal >= 0L,
        s"removeFromLm: batch total $dTotal exceeds the store's $total")
      if (!validateOnly) {
        val meta = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("total_tokens", total - dTotal)
          .putString("smoothing", "count-floor-1")
          .build()
        graft.core.Stores.withLease(spark, path, "removeFromLm") {
          graft.core.Stores.replace(spark, path, "removeFromLm")(
            merged.filter(col("cnt") > 0L)
              .withColumn("token", col("token").as("token", meta))
              .write.mode("overwrite").parquet(_))
        }
      }
    }
  }

  /** Per-document surprisal of a batch against the STORED LM — the
    * serving twin of [[surprisal]]: the store is the background model,
    * batch text never changes it (scoring a crawl slice against the
    * settled corpus, the CCNet shape). Same integer-BITS arithmetic
    * (sb = bits(total) − bits(count)); tokens the LM has never seen
    * score at count floor 1 (bits(1) = 1 — the most surprising rank
    * the table can express, without the zero-count pole). bits(total)
    * is a driver literal off the store metadata, so the only work is
    * the batch explode, one token-keyed join against the count table
    * and one per-id aggregate — O(batch), never O(corpus).
    * Output: id, n_tokens, surprisal_cb (zero-token docs zero-fill). */
  def surprisalFromLm(batch: DataFrame, idCol: String, textCol: String,
                      lmPath: String): DataFrame = {
    val spark = batch.sparkSession
    val (lm, total) = readLm(spark, lmPath)
    def bits(c: Column): Column = length(conv(c, 10, 2)).cast("long")
    val bitsTotal = java.lang.Long.toBinaryString(total).length.toLong
    val tok = batch.select(col(idCol).cast("long").as("id"),
      explode(tokens(col(textCol))).as("token"))
    val per = tok.join(lm, Seq("token"), "left")
      .select(col("id"),
        (lit(bitsTotal) - bits(coalesce(col("cnt"), lit(1L)))).as("sb"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("sb")).as("__ssum"))
      .withColumn("surprisal_cb",
        floor(col("__ssum") * 100 / col("n_tokens")))
      .drop("__ssum")
    batch.select(col(idCol).cast("long").as("id"))
      .join(per, Seq("id"), "left")
      .na.fill(0L, Seq("n_tokens", "surprisal_cb"))
  }

  /** Vocabulary-coverage curve: for each coverage target (in basis
    * points of total corpus tokens), the minimal vocabulary size that
    * reaches it — the sizing study run before committing to a
    * tokenizer/vocab budget ("how many types cover 99% of the
    * corpus?"). Ranking is by corpus frequency descending; types tied
    * at the boundary frequency are interchangeable, so the minimum is
    * exact arithmetic, not a tie-break policy.
    *
    * Scale shape (why this never sorts the vocabulary): the token-keyed
    * count aggregate is the only corpus-scale shuffle. The curve itself
    * is computed on the COUNT-OF-COUNTS frame — one row per DISTINCT
    * frequency value, which Zipf bounds at O(sqrt(total tokens)) rows
    * (~3M at 10^13 tokens); the frame is persisted and COUNTED, and the
    * cumulative sums pick their plan by the measured size. Below
    * `smallFrameRows` (the common case at bench scale — the frame is
    * tens of rows) the cumsum is one single-partition window over the
    * tiny cached frame: no repartitionByRange exchange, one
    * sub-millisecond task. At or above it, the sums are
    * [[graft.core.RangeOffsets]] (one range shuffle, one probe job, a
    * loud failure if a recompute re-ranged the partitions), so even the
    * compressed frame never funnels through one task. Totals
    * also derive from the cached frame (sum(cnt·n_types) / sum(n_types))
    * — the corpus is scanned exactly once either way. The boundary type
    * count inside the crossing frequency level is closed-form:
    * prev_types + ceil(still_needed / freq).
    *
    * All arithmetic is exact integer (long DIV), no doubles anywhere —
    * token totals at 100 TB exceed 2^53 and would silently round
    * through a double. Output: one row per threshold,
    * (threshold_bp, vocab_size, covered_tokens, total_tokens,
    * total_types).
    */
  def coverageCurve(docs: DataFrame, textCol: String,
                    thresholdsBp: Seq[Int],
                    smallFrameRows: Long = 100000L): DataFrame = {
    require(thresholdsBp.nonEmpty, "need at least one coverage threshold")
    require(thresholdsBp.forall(t => t >= 1 && t <= 10000),
      s"thresholds must be integer bp in [1, 10000], got $thresholdsBp")
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = tokenCounts(docs, textCol)
    // count-of-counts: the Zipf-compressed view of the rank curve —
    // persisted because the branch decision, the cumsum, and the
    // totals all read it (and the persist is what keeps the corpus
    // scan single)
    val coc = graft.core.Caching.persistTracked(
      counts.groupBy(col("cnt")).agg(count(lit(1)).as("n_types")))
    val nLevels = coc.count()
    val W = org.apache.spark.sql.expressions.Window
    val cum = if (nLevels < smallFrameRows) {
      // small frame: one task over the cached rows beats paying a
      // range exchange to parallelize sub-millisecond work (the r12
      // q96 regression: 0.47 → 1.53 s for the always-partitioned plan)
      val w1 = W.orderBy(col("cnt").desc)
        .rowsBetween(W.unboundedPreceding, 0)
      coc.select(col("cnt"), col("n_types"),
        sum(col("cnt") * col("n_types")).over(w1).as("cum_tokens"),
        sum(col("n_types")).over(w1).as("cum_types"))
    } else {
      // inclusive sums = RangeOffsets' exclusive sums + own values;
      // cnt values are DISTINCT (the group keys), so the order is total
      graft.core.RangeOffsets(coc, Seq(col("cnt").desc),
          Seq("cum_tokens" -> col("cnt") * col("n_types"),
            "cum_types" -> col("n_types")))
        .withColumn("cum_tokens",
          col("cum_tokens") + col("cnt") * col("n_types"))
        .withColumn("cum_types", col("cum_types") + col("n_types"))
    }
    val totals = coc.agg(
      sum(col("cnt") * col("n_types")).as("__tt"),
      coalesce(sum(col("n_types")), lit(0L)).as("__ty"))
    val th = thresholdsBp.toDF("threshold_bp")
    // needed = ceil(threshold · total / 10000), exact in long
    val cand = cum.crossJoin(F.broadcast(totals)).crossJoin(F.broadcast(th))
      .withColumn("__needed",
        expr("(CAST(threshold_bp AS BIGINT) * __tt + 9999) DIV 10000"))
      .filter(col("cum_tokens") >= col("__needed"))
    // first crossing = the highest frequency level that reaches needed
    val pick = cand.groupBy(col("threshold_bp"))
      .agg(max(col("cnt")).as("cnt"))
    cand.join(pick, Seq("threshold_bp", "cnt"))
      .withColumn("__prev_tokens", col("cum_tokens") - col("cnt") * col("n_types"))
      .withColumn("__prev_types", col("cum_types") - col("n_types"))
      .withColumn("__k_in",
        expr("(__needed - __prev_tokens + cnt - 1) DIV cnt"))
      .select(col("threshold_bp"),
        (col("__prev_types") + col("__k_in")).as("vocab_size"),
        (col("__prev_tokens") + col("__k_in") * col("cnt"))
          .as("covered_tokens"),
        col("__tt").as("total_tokens"),
        col("__ty").as("total_types"))
  }

  /** Bigram CONDITIONAL surprisal — the next step up from [[surprisal]]
    * as a model-free perplexity proxy: instead of "how rare are this
    * document's tokens", "how rare are this document's TRANSITIONS".
    * Formulaic gibberish built from common words (the spam that unigram
    * surprisal scores as perfectly ordinary) lights up here, because
    * its adjacent-token pairs never co-occur elsewhere.
    *
    * Per token i ≥ 2: sb_i = bits(C1(w_{i-1})) − bits(C2(w_{i-1}, w_i))
    * ≈ −log2 P(w_i | w_{i-1}); the first token pays the unigram cost
    * bits(T) − bits(C1(w_1)). Integer-BITS arithmetic throughout (the
    * q93 contract — float log2 would flake the oracle at power-of-two
    * boundaries); a document scores floor(Σ sb · 100 / n_tokens)
    * centibits. Zero-token docs survive with all-zero stats.
    *
    * Scale shape: two corpus-keyed count aggregates (unigram, bigram —
    * both map-side combinable, bigrams generator-in-scan via the
    * adjacent-pair zip, never materialized); the conditioning count
    * C1(a) is folded into the bigram SCORE TABLE once (vocab²-bounded
    * join), so the document stream pays exactly one (a,b)-keyed join
    * plus one broadcast-sized first-token join. */
  def bigramSurprisal(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    def bits(c: Column): Column = length(conv(c, 10, 2)).cast("long")
    // zero-token docs make size-1 negative, which slice rejects — clamp
    def pairs(tk: Column): Column =
      explode(zip_with(
        slice(tk, lit(1), greatest(size(tk) - 1, lit(0))),
        slice(tk, lit(2), greatest(size(tk) - 1, lit(0))),
        (a, b) => struct(a.as("a"), b.as("b"))))
    // EAGER: the tokenized frame feeds FIVE consumers (unigram counts,
    // both pair expansions, the first-token leg, the n_tokens spine)
    // whose scan stages are submitted concurrently under the final
    // plan's broadcast futures — un-persisted, the regex tokenize pass
    // re-ran per consumer (see Caching.persistEager). One row per doc
    // (id + token array), so the materialization is corpus-narrow.
    val base = graft.core.Caching.persistEager(
      docs.select(col(idCol).cast("long").as("id"),
        tokens(col(textCol)).as("tk")))
    val uni = graft.core.Caching.persistTracked(
      base.select(explode(col("tk")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("c1")))
    val total = uni.agg(sum(col("c1")).as("__t"))
    val biScore = base.select(pairs(col("tk")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("c2"))
      .join(uni.select(col("token").as("a"), col("c1").as("__c1a")),
        Seq("a"))
      .select(col("a"), col("b"), (bits(col("__c1a")) - bits(col("c2")))
        .as("sb"))
    val s2 = base.select(col("id"), pairs(col("tk")).as("p"))
      .select(col("id"), col("p.a").as("a"), col("p.b").as("b"))
      .join(biScore, Seq("a", "b"))
      .groupBy(col("id")).agg(sum(col("sb")).as("__s2"))
    val s1 = base.filter(size(col("tk")) >= 1)
      .select(col("id"), element_at(col("tk"), 1).as("token"))
      .join(uni, Seq("token"))
      .crossJoin(F.broadcast(total))
      .select(col("id"), (bits(col("__t")) - bits(col("c1"))).as("__s1"))
    base.select(col("id"), size(col("tk")).cast("long").as("n_tokens"))
      .join(s1, Seq("id"), "left")
      .join(s2, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        when(col("n_tokens") === 0, 0L)
          .otherwise(floor((coalesce(col("__s1"), lit(0L)) +
            coalesce(col("__s2"), lit(0L))) * 100 / col("n_tokens")))
          .as("surprisal_cb"))
  }

  /** Collocation mining: top-k adjacent token pairs by association
    * LIFT — observed/expected frequency ratio, the exponential of PMI
    * (Church & Hanks, CL 1990: PMI = log2 lift; lift is the same
    * ranking without the log). The tokenizer-diagnostics report that
    * surfaces multi-word units BPE/vocab builds should not split.
    *
    *   lift = (c2/T_bi) / ((c1a/T_uni) · (c1b/T_uni))
    *
    * assembled as ((c2/T_bi) · (T_uni/c1a)) · (T_uni/c1b) in doubles —
    * every input is an exact integer count and every op is an
    * IEEE-correctly-rounded mul/div in fixed association order, so the
    * score replays bit-for-bit cross-engine WITHOUT the decimal(38)
    * overflow an integer product form would hit at corpus scale
    * (T_uni² · c2 can pass 38 digits; T_uni itself stays far below
    * 2^53). Floored to integer e4 (the motif convention).
    *
    * Scale shape: one unigram + one bigram count aggregate (both
    * map-side combinable, bigrams generator-in-scan via the
    * slice/zip_with pair expansion), two joins on slim token keys
    * against the vocab-bounded unigram table, 1-row totals broadcast,
    * and a TakeOrdered top-k — never a full sort. `minCount` prunes
    * the bigram tail BEFORE the joins (rare-pair lift is noise at any
    * corpus size — the standard PMI cutoff).
    *
    * Output: (a, b, c2, lift_e4), ranked (lift desc, a, b). */
  def collocations(docs: DataFrame, textCol: String,
                   minCount: Long = 5L, topK: Int = 20): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    require(topK > 0, s"topK must be positive, got $topK")
    def pairs(tk: Column): Column =
      explode(zip_with(
        slice(tk, lit(1), greatest(size(tk) - 1, lit(0))),
        slice(tk, lit(2), greatest(size(tk) - 1, lit(0))),
        (a, b) => struct(a.as("a"), b.as("b"))))
    val base = docs.select(tokens(col(textCol)).as("tk"))
    val uni = graft.core.Caching.persistTracked(
      base.select(explode(col("tk")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("c1")))
    val bi = graft.core.Caching.persistTracked(
      base.select(pairs(col("tk")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("c2")))
    val totals = uni.agg(sum(col("c1")).as("__t1"))
      .crossJoin(bi.agg(sum(col("c2")).as("__t2")))
    val lift = ((col("c2").cast("double") / col("__t2").cast("double"))
      * (col("__t1").cast("double") / col("__c1a").cast("double")))
      .*(col("__t1").cast("double") / col("__c1b").cast("double"))
    bi.filter(col("c2") >= minCount)
      .join(uni.select(col("token").as("a"), col("c1").as("__c1a")),
        Seq("a"))
      .join(uni.select(col("token").as("b"), col("c1").as("__c1b")),
        Seq("b"))
      .crossJoin(F.broadcast(totals))
      .select(col("a"), col("b"), col("c2"),
        floor(lift * lit(10000.0)).cast("long").as("lift_e4"))
      .orderBy(col("lift_e4").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Per-document OOV stats against the top-K vocabulary: token count,
    * OOV token count, and OOV rate in integer basis points
    * (floor(10000·oov/tokens) — the suite's hash-stable exact-integer
    * ratio form). Documents with zero tokens survive with all-zero
    * stats. */
  def oovRate(docs: DataFrame, idCol: String, textCol: String,
              topK: Int): DataFrame = {
    val vocab = F.broadcast(
      topVocab(docs, textCol, topK)
        .select(col("token"), lit(1).as("__inv")))
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val per = tok.join(vocab, Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_bp", floor(col("n_oov") * 10000 / col("n_tokens")))
    docs.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .na.fill(0L, Seq("n_tokens", "n_oov", "oov_bp"))
  }
}
