package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.{Caching, Probe}
import graft.operators.{CorpusStats, Dedup, Ivf, Pq, Similarity, Vocab}

/** Continuous corpus ingest checked against STORED signature indexes —
  * the deployment shape of the incremental dedup tiers: a settled
  * corpus persists its index once (`Dedup.minhashSignatures` /
  * `Similarity.embeddingSignatures` written to parquet), then every
  * arriving micro-batch is screened against it inside `foreachBatch`,
  * and only the flagged cross pairs leave the pipeline.
  *
  * Cost per batch is O(batch + index) — the incremental-tier
  * guarantee; the stream never rescans settled text/vectors outside
  * shared LSH buckets. Every ingest runs on [[MicroBatch]], which owns
  * the per-batch persist, probe and release: the batch is persisted and
  * one narrow probe fills its cache and counts it (an empty batch runs
  * no body), tier counts come from [[graft.core.Probe]] rather than one
  * aggregate job each, and every frame the batch tracked (the batch, its
  * tiers, the re-persisted index) is released when it ends — only the
  * caches the batch itself tracked are dropped, so an ingest coexists
  * with other queries' persisted frames in a shared session, and
  * nothing accumulates across a long-running stream (the steady-state
  * at 100 TB is exactly this re-read-per-ingest of a stored parquet
  * index).
  *
  * Delivery composes with the ST2/ST3 machinery: checkpointed offsets
  * give at-least-once batch screening; the flagged-pair sink must
  * tolerate replays (idempotent append keyed on (batch_id, corpus_id)
  * or an overwrite-by-batch layout).
  */
object StreamingIngest {

  /** Screen a document stream against a settled minhash-signature
    * index: per micro-batch, `Dedup.incrementalNearDup` flags incoming
    * docs whose shingle-jaccard against ANY settled doc is ≥
    * thrNum/thrDen; flagged (batch_id, corpus_id, inter, uni) rows go
    * to `sink`. The signature-parameter contract is enforced per batch
    * (a stale or differently-built index fails the query loudly rather
    * than screening with silent low recall). */
  def nearDupIngest(docs: DataFrame, idCol: String, textCol: String,
                    corpusSig: DataFrame, checkpointDir: String,
                    sink: StreamPipeline.Sink,
                    shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                    thrNum: Int = 4, thrDen: Int = 5,
                    maxBucket: Int = 1000,
                    statsPath: Option[String] = None): StreamingQuery =
    MicroBatch.start(docs, checkpointDir) { mb =>
      sink.write(
        Dedup.incrementalNearDup(mb.df, idCol, textCol, corpusSig,
          shingleN, k, bands, thrNum, thrDen, maxBucket),
        mb.id)
      // one ingest stream = screen + stats: the same micro-batch
      // contributes its mergeable accumulator row (see statsIngest
      // for the delivery caveat on replays)
      statsPath.foreach(p => CorpusStats.appendSnapshot(mb.df, textCol, p))
    }

  /** Continuous corpus statistics on ingest: per micro-batch, append
    * ONE mergeable `CorpusStats` accumulator row to the parquet stats
    * table — corpus-level reporting then reads O(#batches) slim rows
    * (`CorpusStats.readReport`), never the corpus text. This is the
    * streaming half of the stats lifecycle; the batch half is the
    * `stats` CLI subcommand.
    *
    * Delivery: at-least-once (checkpointed offsets), so a replayed
    * batch appends its snapshot twice and the merged totals over-count
    * by that batch — the accumulators are NOT idempotent. An
    * exactly-once deployment writes snapshots keyed by batchId
    * (overwrite-by-batch layout) or compacts duplicates before
    * reporting; at fleet scale the drift of one replayed batch is
    * usually inside the sketch's error band anyway, which is why the
    * plain append is the default shape here — `exactlyOnce = true`
    * upgrades it: snapshots land keyed by batch_id through the
    * idempotent overwrite-by-partition sink, so a replayed batch
    * REPLACES its own snapshot and the merged totals never
    * double-count. */
  def statsIngest(docs: DataFrame, textCol: String, statsPath: String,
                  checkpointDir: String,
                  exactlyOnce: Boolean = false): StreamingQuery =
    MicroBatch.start(docs, checkpointDir) { mb =>
      if (exactlyOnce)
        CorpusStats.appendSnapshotIdempotent(mb.df, textCol, statsPath, mb.id)
      else CorpusStats.appendSnapshot(mb.df, textCol, statsPath)
    }

  /** Vocabulary-drift monitoring on ingest — the OOV twin of the ANN
    * staleness verdict: every micro-batch's OOV rate is checked
    * against the STORED vocabulary (`Vocab.writeVocab`) and its
    * build-time baseline; one slim (batch_id, n_tokens, n_oov, oov_bp,
    * baseline_bp, drifted) row is appended to `monitorPath` per batch,
    * and the verdict is handed to `onBatch` (where a deployment
    * triggers the tokenizer/vocab refit settle once drift fires).
    *
    * The stored vocab is re-read per batch (tiny, top-K-bounded — the
    * same steady-state re-read as the signature indexes) and the
    * membership pass broadcasts it, so the batch token stream never
    * shuffles. The build-params contract is enforced per batch: a
    * metadata-less store fails the query loudly. */
  def vocabDriftIngest(docs: DataFrame, textCol: String, vocabPath: String,
                       monitorPath: String, checkpointDir: String,
                       driftFactor: Double = 2.0, marginBp: Long = 500L,
                       onBatch: Vocab.VocabDrift => Unit = _ => ())
      : StreamingQuery =
    MicroBatch.start(docs, checkpointDir) { mb =>
      val spark = mb.df.sparkSession
      import spark.implicits._
      val (vocab, _, baselineBp) = Vocab.readVocab(spark, vocabPath)
      val d = Vocab.vocabDrift(mb.df, textCol, vocab, baselineBp,
        driftFactor, marginBp)
      // the monitor TABLE is exactly-once (overwrite-by-batch_id);
      // the onBatch callback is at-least-once — a redelivered batch
      // re-fires the verdict, so a refit TRIGGER keyed off it must
      // be idempotent (the monitor row it would read is)
      new StreamPipeline.IdempotentFileSink(monitorPath).write(
        Seq((d.nTokens, d.nOov, d.oovBp, d.baselineBp, d.drifted))
          .toDF("n_tokens", "n_oov", "oov_bp", "baseline_bp", "drifted")
          .coalesce(1),
        mb.id)
      onBatch(d)
    }

  /** Source-mix drift monitoring on ingest — the mixture twin of the
    * vocab-drift verdict: every micro-batch's realized per-source
    * token shares are checked against the STORED target mix (a
    * (source, weight_bp) parquet — `Mix.temperatureWeights` output or
    * a hand-written plan), one slim (batch_id, worst_source,
    * max_dev_bp, drifted) row appends to `monitorPath`, and the
    * verdict reaches `onBatch` (where a deployment re-weights its
    * samplers once the upstream mix moves). The target table is
    * re-read per batch (tiny, one row per source) and the batch pays
    * ONE token-count aggregate. */
  def mixDriftIngest(docs: DataFrame, sourceCol: String, textCol: String,
                     targetPath: String, monitorPath: String,
                     checkpointDir: String, marginBp: Long = 1000L,
                     onBatch: graft.operators.Mix.MixDrift => Unit = _ => ())
      : StreamingQuery =
    MicroBatch.start(docs, checkpointDir) { mb =>
      val spark = mb.df.sparkSession
      import spark.implicits._
      val target = spark.read.parquet(targetPath)
        .select(col("source").cast("string"), col("weight_bp").cast("long"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val d = graft.operators.Mix.mixDrift(mb.df, sourceCol, textCol,
        target, marginBp)
      new StreamPipeline.IdempotentFileSink(monitorPath).write(
        Seq((d.worstSource, d.maxDevBp, d.drifted))
          .toDF("worst_source", "max_dev_bp", "drifted").coalesce(1),
        mb.id)
      onBatch(d)
    }

  /** Target-shaped selection on ingest — the streaming face of the
    * `select` command: every micro-batch is scored against the STORED
    * DSIR weight table (`Dsir.bucketWeights` → parquet) and split at
    * `minCb` centibits; kept rows land in `keptPath` exactly-once
    * (overwrite-by-batch-id) and one slim funnel row
    * (batch_id, n_in, n_kept, kept_bp) appends to `monitorPath`, so a
    * shifting keep-rate — the signal that the pool's distribution
    * moved relative to the target — is visible per batch. The weight
    * table is re-read per batch (tiny, buckets-bounded — the vocab
    * pattern) and broadcast by score(); its build-params metadata is
    * enforced there, so a differently-hashed store fails the query
    * loudly instead of silently mis-scoring. Update the store itself
    * with `Dsir.mergeWeights` on whatever cadence the deployment
    * refreshes its target sample. */
  def selectionIngest(docs: DataFrame, idCol: String, textCol: String,
                      weightsPath: String, keptPath: String,
                      monitorPath: String, checkpointDir: String,
                      minCb: Long = 0L, minGrams: Long = 1L)
      : StreamingQuery =
    MicroBatch.start(docs, checkpointDir) { mb =>
      val w = mb.df.sparkSession.read.parquet(weightsPath)
      // the keep verdict: score gate AND a length gate — score()
      // zero-fills empty docs at dsir_cb = 0 on the explicit
      // "caller's length gate decides" contract, and this caller
      // decides they do NOT pass a quality-selection sink
      landKept(mb, idCol, graft.operators.Dsir.score(mb.df, idCol, textCol, w),
        col("dsir_cb") >= minCb && col("n_grams") >= minGrams,
        keptPath, monitorPath)
    }

  /** The tail selectionIngest and relevanceIngest share: the batch rows
    * whose `scored` row (one per batch row, keyed by `id`) passes `keep`
    * land in `keptPath`, and one (n_in, n_kept, kept_bp) funnel row in
    * `monitorPath`, both keyed by batch id. `scored` is persisted and
    * one probe fills it while counting n_in and n_kept. */
  private def landKept(mb: MicroBatch, idCol: String, scored: DataFrame,
                       keep: Column, keptPath: String,
                       monitorPath: String): Unit = {
    import mb.df.sparkSession.implicits._
    val s = Caching.persistTracked(scored)
    val Seq(nIn, nKept) = Probe.totals(s, Seq(keep))
    // aliased selection id: an unqualified col("id") would be
    // ambiguous whenever the caller's idCol is itself "id"
    val selIds = s.filter(keep).select(col("id").as("__sel_id"))
    new StreamPipeline.IdempotentFileSink(keptPath).write(
      mb.df.join(selIds, mb.df(idCol).cast("long") === col("__sel_id"),
        "leftsemi"), mb.id)
    new StreamPipeline.IdempotentFileSink(monitorPath).write(
      Seq((nIn, nKept, if (nIn > 0) nKept * 10000 / nIn else 0L))
        .toDF("n_in", "n_kept", "kept_bp").coalesce(1), mb.id)
  }

  /** Quality gate on ingest — the FIRST tier a streaming crawl
    * applies before anything touches settled state: each micro-batch
    * runs the Gopher rule bundle (QualityRules.report) and, when
    * `withRepetition`, the full repetition family stacked on the
    * rule-passers (the quality-CLI order); kept docs land through the
    * idempotent by-batch sink, and ONE monitor row per batch carries
    * the funnel (n_in, n_rule_killed, n_rep_killed, n_kept, kept_bp) —
    * a source whose kill rate jumps is a crawl to examine before it
    * poisons the corpus. Cost per batch: one tokenize pass for the
    * rule bundle plus one staged-array pass for the family — pure
    * per-row expressions, no joins against settled state. */
  def qualityIngest(docs: DataFrame, idCol: String, textCol: String,
                    keptPath: String, monitorPath: String,
                    checkpointDir: String, minWords: Int = 50,
                    withRepetition: Boolean = false): StreamingQuery =
    MicroBatch.start(docs, checkpointDir) { mb =>
      import mb.df.sparkSession.implicits._
      val (nIn, nRulePass, afterRules) =
        ruleGate(mb, idCol, textCol, minWords, "qualityIngest")
      val kept = Caching.persistTracked(
        if (!withRepetition) afterRules
        else graft.operators.QualityRules
          .keepRepetition(afterRules, idCol, textCol))
      val nKept = Probe.totals(kept).head
      new StreamPipeline.IdempotentFileSink(keptPath).write(kept, mb.id)
      new StreamPipeline.IdempotentFileSink(monitorPath).write(
        Seq((nIn, nIn - nRulePass, nRulePass - nKept, nKept,
          if (nIn > 0) nKept * 10000 / nIn else 0L))
          .toDF("n_in", "n_rule_killed", "n_rep_killed", "n_kept",
            "kept_bp").coalesce(1),
        mb.id)
    }

  /** The Gopher rule gate qualityIngest and fullIngest share: returns
    * (n_in, rule passers, the batch rows that pass). ONE aggregate job
    * over the persisted report counts rule-passers as pass === TRUE — a
    * null verdict (null text tokenizes to null) is dropped by the gate,
    * so it must count as a RULE kill, not leak into the next tier's
    * attribution. The funnel attributes kills by SUBTRACTION across the
    * leftsemi joins — duplicate ids would re-multiply kept rows and drive
    * later kill counts negative, so batch id uniqueness is a hard
    * contract (the same contract the idempotent sinks and index appends
    * already state); its countDistinct is the one shuffle left here. */
  private def ruleGate(mb: MicroBatch, idCol: String, textCol: String,
                       minWords: Int, caller: String)
      : (Long, Long, DataFrame) = {
    import org.apache.spark.sql.functions.{count, countDistinct, lit, sum, when}
    val rep = Caching.persistTracked(graft.operators.QualityRules
      .report(mb.df, idCol, textCol, minWords = minWords))
    val a = rep.agg(count(lit(1)).as("n"),
      sum(when(col("pass"), 1L).otherwise(0L)).as("p"),
      countDistinct(col("id")).as("d")).head()
    val nIn: Long = a.getLong(0)
    require(a.getLong(2) == nIn,
      s"$caller: batch ${mb.id} carries duplicate ids " +
        s"($nIn rows, ${a.getLong(2)} distinct) — the funnel " +
        "attribution requires unique ids per batch")
    val afterRules = mb.df.join(
      rep.filter(col("pass")).select(col("id").as("__q_id")),
      mb.df(idCol).cast("long") === col("__q_id"), "leftsemi")
    (nIn, if (a.isNullAt(1)) 0L else a.getLong(1), afterRules)
  }

  /** Shape-watch on ingest — the streaming face of the motif search:
    * every micro-batch's bucketed activity is scanned for the STORED
    * query pattern (`Motif.writePattern` → parquet, re-read per batch,
    * the vocab/weights store pattern) and the batch's best window
    * lands as ONE monitor row (batch_id, window_start, score_e4,
    * n_events, matched — matched at score ≥ `alertE4`); `onBatch` gets
    * the best score for alerting. Cost per batch is one bucket
    * aggregate over the batch (the statsIngest shape) plus the window
    * scan over the batch's own tiny bucketed series. A batch too
    * small or too flat to form a scoreable window records a null
    * score with matched = false — absence of signal, not an error. */
  def motifIngest(events: DataFrame, timeCol: String, patternPath: String,
                  monitorPath: String, checkpointDir: String,
                  bucketSec: Int = 60, alertE4: Long = 8000L,
                  onBatch: Option[Long] => Unit = _ => ())
      : StreamingQuery =
    MicroBatch.start(events, checkpointDir) { mb =>
      val spark = mb.df.sparkSession
      import spark.implicits._
      val pattern = graft.operators.Motif.readPattern(spark, patternPath)
      val top = graft.operators.Motif
        .topKWindows(mb.df, timeCol, bucketSec, pattern, k = 1)
        .collect().headOption
      val row = top match {
        case Some(r) => Seq((Option(r.getTimestamp(0).toString),
          Option(r.getLong(1)), r.getLong(2), r.getLong(1) >= alertE4))
        case None =>
          Seq((Option.empty[String], Option.empty[Long], 0L, false))
      }
      new StreamPipeline.IdempotentFileSink(monitorPath).write(
        row.toDF("window_start", "score_e4", "n_events", "matched")
          .coalesce(1), mb.id)
      onBatch(top.map(_.getLong(1)))
    }

  /** Surprisal-drift watch on ingest — the quality-distribution twin
    * of the vocab-drift verdict: each micro-batch scores against the
    * STORED reference LM (`Vocab.surprisalFromLm` — the model never
    * moves with the batch) and one monitor row lands per batch
    * (n_docs, mean_surprisal_cb, drifted at mean > baselineCb·factor
    * + marginCb). Catches a source drifting off-distribution (new
    * domain, boilerplate flood, encoding rot) by RARITY even when
    * every token is in-vocabulary — the axis OOV cannot see. Cost per
    * batch: one explode + one token join + two aggregates, O(batch). */
  def lmDriftIngest(docs: DataFrame, idCol: String, textCol: String,
                    lmPath: String, monitorPath: String,
                    checkpointDir: String, baselineCb: Long,
                    driftFactor: Double = 1.5, marginCb: Long = 50L,
                    onBatch: (Long, Boolean) => Unit = (_, _) => ())
      : StreamingQuery =
    MicroBatch.start(docs, checkpointDir) { mb =>
      import mb.df.sparkSession.implicits._
      val Seq(n, total) = Probe.totals(graft.operators.Vocab
        .surprisalFromLm(mb.df, idCol, textCol, lmPath),
        Seq(col("surprisal_cb")))
      val mean = if (n > 0) total / n else 0L
      val drifted = mean > (baselineCb * driftFactor).toLong + marginCb
      new StreamPipeline.IdempotentFileSink(monitorPath).write(
        Seq((n, mean, baselineCb, drifted))
          .toDF("n_docs", "mean_surprisal_cb", "baseline_cb", "drifted")
          .coalesce(1), mb.id)
      onBatch(mean, drifted)
    }

  /** Relevance gate on ingest — the retrieval twin of selectionIngest:
    * each micro-batch's docs are BM25-scored against the STORED
    * index's corpus statistics (`Rank.bm25ScoreDocs` — df/N/total from
    * the store, tf/dl from the batch itself, so the settled corpus is
    * never rescanned), docs at score ≥ `minScoreE4` land exactly-once
    * in `keptPath`, and one funnel row (n_in, n_kept, kept_bp) per
    * batch lands in `monitorPath` — both through the idempotent
    * by-batch sink, so a redelivered batch replaces itself. */
  def relevanceIngest(docs: DataFrame, idCol: String, textCol: String,
                      indexPath: String, terms: Seq[String],
                      keptPath: String, monitorPath: String,
                      checkpointDir: String, minScoreE4: Long,
                      idfMode: String = "ln"): StreamingQuery =
    MicroBatch.start(docs, checkpointDir) { mb =>
      landKept(mb, idCol, graft.operators.Rank.bm25ScoreDocs(mb.df, idCol,
          textCol, indexPath, terms, idfMode),
        col("score_e4") >= minScoreE4, keptPath, monitorPath)
    }

  /** Screen an embedding stream against a settled hyperplane-signature
    * index + slim vector table: per micro-batch,
    * `Similarity.incrementalEmbeddingNearDup` flags incoming vectors
    * at cosine ≥ threshold against the settled corpus; flagged
    * (batch_id, corpus_id, cos_sim) rows go to `sink`. `dim` is
    * required (not inferred) so no per-batch first-row job runs. */
  def embeddingNearDupIngest(vecs: DataFrame, idCol: String,
                             vecCol: String, corpusSig: DataFrame,
                             corpusVecs: DataFrame, threshold: Double,
                             dim: Int, checkpointDir: String,
                             sink: StreamPipeline.Sink,
                             bands: Int = 8, bitsPerBand: Int = 6,
                             seed: Long = 7L,
                             maxBucket: Int = 1000): StreamingQuery = {
    require(dim > 0, "pass the embedding dim explicitly (no per-batch inference)")
    MicroBatch.start(vecs, checkpointDir) { mb =>
      sink.write(
        Similarity.incrementalEmbeddingNearDup(mb.df, idCol, vecCol,
          corpusSig, corpusVecs, threshold, bands, bitsPerBand, seed,
          dim, maxBucket),
        mb.id)
    }
  }

  /** The FULL embedding-ingest lifecycle: per micro-batch, screen
    * against the settled signature index (as `embeddingNearDupIngest`),
    * send flagged near-dup pairs to `sink`, and APPEND the accepted
    * (unflagged) vectors to the stored two-level ANN/semdedup index at
    * `indexPath` — nothing enters the index unscreened, and the index
    * keeps serving probes for everything that arrived. Each append's
    * `TwoLevelAppend` (including its staleness verdict) is handed to
    * `onAppend`, where a deployment would trigger the refit settle once
    * `needsRefit` fires.
    *
    * Contracts inherited per batch: the signature-parameter check (a
    * drifted screen index fails loudly) and the append contract (the
    * ANN index must carry build-params metadata; batch dim must match).
    * Two delivery caveats, both by design of the at-least-once tier:
    * the screen index is the SETTLE artifact, so post-settle arrivals
    * are not screened against each other (the refit refreshes it); and
    * a replayed batch re-appends its rows — an exactly-once deployment
    * keys the cells table by (batch, id) or dedups ids at refit. */
  def screenAndSettleIngest(vecs: DataFrame, idCol: String, vecCol: String,
                            corpusSig: DataFrame, corpusVecs: DataFrame,
                            threshold: Double, dim: Int, indexPath: String,
                            checkpointDir: String,
                            sink: StreamPipeline.Sink,
                            onAppend: Ivf.TwoLevelAppend => Unit = _ => (),
                            bands: Int = 8, bitsPerBand: Int = 6,
                            seed: Long = 7L,
                            maxBucket: Int = 1000): StreamingQuery =
    screenSettleLoop(vecs, idCol, vecCol, corpusSig, corpusVecs,
      threshold, dim, checkpointDir, sink, bands, bitsPerBand, seed,
      maxBucket) { accepted =>
      onAppend(Ivf.appendToIndexTwoLevel(
        accepted.sparkSession, indexPath, accepted, idCol, vecCol))
    }

  /** `screenAndSettleIngest` against a product-quantized store
    * (`Pq.writeIndexPq`): identical screen tier, the append encodes
    * accepted vectors with the STORED codebooks, and `onAppend` sees
    * the PQ staleness verdict — cell skew OR quantization drift
    * (`meanReconCos`), the axis unique to a learned-codebook index. */
  def screenAndSettleIngestPq(vecs: DataFrame, idCol: String,
                              vecCol: String, corpusSig: DataFrame,
                              corpusVecs: DataFrame, threshold: Double,
                              dim: Int, indexPath: String,
                              checkpointDir: String,
                              sink: StreamPipeline.Sink,
                              onAppend: Pq.PqAppend => Unit = _ => (),
                              bands: Int = 8, bitsPerBand: Int = 6,
                              seed: Long = 7L,
                              maxBucket: Int = 1000): StreamingQuery =
    screenSettleLoop(vecs, idCol, vecCol, corpusSig, corpusVecs,
      threshold, dim, checkpointDir, sink, bands, bitsPerBand, seed,
      maxBucket) { accepted =>
      onAppend(Pq.appendToIndex(
        accepted.sparkSession, indexPath, accepted, idCol, vecCol))
    }

  /** THE composed ingest — the monitor family chained over ONE feed
    * inside ONE foreachBatch, in the curation stacking order a crawl
    * actually wants:
    *
    *   quality gate (Gopher rules [+ repetition family])
    *     [→ decontamination screen vs a STORED eval-gram index
    *        (`deconIndexPath`): docs carrying > deconMaxHits eval
    *        n-grams die BEFORE signing — contaminated text must never
    *        poison the signature index; the eval index grows
    *        out-of-band via decon --mode index --append-index]
    *     [→ FUZZY decontamination screen vs STORED eval minhash
    *        signatures (`fuzzyEvalSigsPath`): docs near-duplicating an
    *        eval item by shingle-jaccard ≥ fuzzyThrNum/fuzzyThrDen —
    *        the paraphrase leakage the exact tier cannot see — die
    *        before anything settles; the eval store must be signed
    *        with this ingest's shingleN/k/bands (checked loudly); the
    *        screen rides the batch's ONE signing pass]
    *     → SELF-SETTLING near-dup screen: intra-batch self-dedup
    *       (min-id canonical per near-dup component), then the cross
    *       screen vs the settled index — the STORED base signatures ∪
    *       this run's per-batch settled appends — so a dup inside one
    *       batch AND a dup arriving batches after its original both
    *       die without any out-of-band screen+append
    *     [→ passage-level long-match screen vs a STORED window index
    *        (`lmIndexPath`): settled substrings are CUT from the doc
    *        via [[graft.operators.Dedup.incrementalLongMatchSpans]] +
    *        removeSpans — the doc survives, cut docs re-sign before
    *        settling, and the index itself is only folded forward
    *        out-of-band (appendLongMatchIndex — a merge, not an
    *        idempotent keyed write, so never in-stream)]
    *     → DSIR selection vs the STORED weight table (score gate)
    *     → kept docs land exactly-once (overwrite-by-batch sink)
    *       + the batch's mergeable stats snapshot (idempotent)
    *       + kept docs' signatures settle into
    *         [[settledSigPath]] (idempotent by batch id)
    *       [+ vocab-drift verdict vs the STORED vocabulary]
    *
    * and ONE funnel row per batch attributing every kill to its tier:
    * (n_in, n_rule_killed, n_rep_killed, n_decon_killed,
    * n_decon_tokens_cut, n_fuzzy_killed, n_dup_killed,
    * n_lm_tokens_cut, n_sel_killed,
    * n_kept, kept_bp [, oov_bp, drifted]) — the `_tokens_cut` columns
    * count TOKENS a rewriting tier cut (docs survive those tiers;
    * deconMode="redact" cuts leaked eval spans instead of killing,
    * n_lm_tokens_cut counts what the long-match tier cut
    * (docs survive the tier; one emptied by it dies in selection and
    * is attributed there). Each stage reads its store
    * per batch (the steady-state re-read contract of the single-stage
    * ingests) and every sink is keyed by batch id, so a replayed batch
    * REPLACES its own outputs — the whole chain is exactly-once end to
    * end. Stage order is load-bearing: the rule gate is pure per-row
    * work and shrinks the batch before anything joins settled state;
    * the dedup screen runs before selection so DSIR never scores text
    * that was never going to settle.
    *
    * Batch-id uniqueness is a hard contract (the qualityIngest
    * argument: subtraction-based attribution breaks under duplicate
    * ids). Cost per batch: one tokenize pass (rules), ONE signing pass
    * feeding self-dedup + cross screen + settle (each O(batch +
    * touched-buckets)), one O(batch) DSIR score, one stats aggregate —
    * nothing rescans settled text, and the settled appends the screen
    * re-reads are batch-id-partitioned parquet (listing cost O(#batches
    * this run), folded into the base store by [[compactSettled]] —
    * run it between ingest runs, or `ingest --compact`; the sidecar
    * size that triggers it is surfaced by [[settledStats]]).
    *
    * Replay semantics: every sink including the settle append is
    * overwrite-by-batch, so an immediate redelivery (the at-least-once
    * case checkpointing actually produces) replaces its own outputs
    * bit-for-bit. */
  def fullIngest(docs: DataFrame, idCol: String, textCol: String,
                 corpusSigPath: String, weightsPath: String,
                 keptPath: String, funnelPath: String, statsPath: String,
                 checkpointDir: String,
                 vocabPath: Option[String] = None,
                 minWords: Int = 50, withRepetition: Boolean = false,
                 shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                 thrNum: Int = 4, thrDen: Int = 5, maxBucket: Int = 1000,
                 minCb: Long = 0L, minGrams: Long = 1L,
                 driftFactor: Double = 2.0, marginBp: Long = 500L,
                 lmIndexPath: Option[String] = None, lmMinLen: Int = 50,
                 lmMaxDf: Int = 1000,
                 deconIndexPath: Option[String] = None, deconN: Int = 8,
                 deconMaxHits: Long = 0L,
                 deconKeyMode: String = "xxhash64",
                 deconMode: String = "kill",
                 fuzzyEvalSigsPath: Option[String] = None,
                 fuzzyThrNum: Int = 4, fuzzyThrDen: Int = 5,
                 fuzzyMaxBucket: Int = 1000,
                 onBatchDone: Long => Unit = _ => ())
      : StreamingQuery =
    MicroBatch.start(docs, checkpointDir) { mb =>
      val (b, batchId, spark) = (mb.df, mb.id, mb.df.sparkSession)
      import spark.implicits._
      def rows(df: DataFrame): Long = Probe.totals(df).head

      // tier 1: quality rules (+ optional repetition family)
      val (nIn, nRulePass, afterRules) =
        ruleGate(mb, idCol, textCol, minWords, "fullIngest")
      val afterRep = Caching.persistTracked(
        if (!withRepetition) afterRules
        else graft.operators.QualityRules
          .keepRepetition(afterRules, idCol, textCol))
      val nAfterRep = rows(afterRep)

      // tier 1.5 (optional): decontamination screen vs the
      // STORED eval-gram index (Decontaminate.evalGramIndex) —
      // docs carrying > deconMaxHits eval n-grams DIE here,
      // BEFORE anything is signed or settled: a contaminated doc
      // must never poison the signature index, and killing it
      // pre-signing keeps the tier's cost one gram probe
      // (O(batch + probed index), eval text never re-read). The
      // eval index grows out-of-band (decon --mode index
      // --append-index) — like the lm index, its maintenance is
      // a merge, never an in-stream write, so redelivery replays
      // the screen deterministically against the same store.
      require(Set("kill", "redact")(deconMode),
        s"fullIngest: deconMode must be kill|redact, got '$deconMode'")
      var nDeconTokensCut = 0L
      val afterDecon = deconIndexPath match {
        case None => afterRep
        case Some(dp) if deconMode == "redact" =>
          // redact posture: leaked spans are CUT, the doc
          // SURVIVES (the lm-tier trade applied to eval leakage;
          // sub-n whole-text leaks are the kill mode's job).
          // Running BEFORE signing means cut docs sign from
          // their post-cut text with no re-sign special case.
          // A doc cut to nothing dies in selection.
          val cleaned = Caching.persistTracked(
            graft.operators.Decontaminate
              .redactEvalNgramsFromIndex(afterRep, idCol, textCol,
                graft.core.Stores.readOrEmpty(spark, dp), deconN, deconKeyMode)
              .filter(col("n_removed") > 0))
          nDeconTokensCut = Probe.totals(cleaned, Seq(col("n_removed")))(1)
          val untouched = afterRep.join(
            cleaned.select(col("id").as("__dc_id")),
            afterRep(idCol).cast("long") === col("__dc_id"),
            "left_anti")
          Caching.persistTracked(
            untouched.unionByName(
              Dedup.rewriteText(afterRep, idCol, textCol, cleaned)))
        case Some(dp) =>
          val killIds = graft.operators.Decontaminate
            .ngramHitsFromIndex(afterRep, idCol, textCol,
              graft.core.Stores.readOrEmpty(spark, dp), deconN, deconKeyMode)
            .filter(col("n_hits") > deconMaxHits)
            .select(col(idCol).cast("long").as("__dc_id"))
          Caching.persistTracked(
            afterRep.join(killIds,
              afterRep(idCol).cast("long") === col("__dc_id"),
              "left_anti"))
      }
      val nAfterDecon =
        if (deconIndexPath.isEmpty || deconMode == "redact")
          nAfterRep
        else rows(afterDecon)

      // ONE signing pass for everything minhash-shaped this
      // batch needs: the optional FUZZY decon screen (tier
      // 1.75), intra-batch self-dedup, the cross screen, and the
      // settle append all slice these signatures — no tier
      // re-shingles the batch.
      val bSigAll = Caching.persistTracked(
        Dedup.minhashSignatures(afterDecon, idCol, textCol,
          shingleN, k, bands))

      // tier 1.75 (optional): FUZZY decontamination vs STORED
      // eval minhash signatures (Dedup.minhashSignatures over
      // the benchmark set, persisted once out-of-band) — the
      // paraphrase / partial-copy leakage the exact n-gram tier
      // cannot see dies here, before anything settles. The eval
      // store must be signed with THIS ingest's shingleN/k/bands
      // (the signature-parameter metadata check refuses a
      // drifted store loudly). Kill-only by nature: a paraphrase
      // has no exact spans to redact.
      val (afterFuzzy, nAfterFuzzy) = fuzzyEvalSigsPath match {
        case None => (afterDecon, nAfterDecon)
        case Some(fp) =>
          val fz = Dedup.incrementalNearDupFromSigs(bSigAll,
              spark.read.parquet(fp), shingleN, k, bands,
              fuzzyThrNum, fuzzyThrDen,
              maxBucket = fuzzyMaxBucket,
              maxBatchBucket = fuzzyMaxBucket)
            .select(col("batch_id").as("__fz_id")).distinct()
          val keptFz = Caching.persistTracked(
            afterDecon.join(fz,
              afterDecon(idCol).cast("long") === col("__fz_id"),
              "left_anti"))
          (keptFz, rows(keptFz))
      }

      // tier 2: near-dup dedup, SELF-SETTLING — the batch is
      // signed ONCE (bSig) and that one signing pass feeds
      //   (a) intra-batch self-dedup: verified near-dup pairs
      //       within the batch collapse to their min-id
      //       canonical (connected components, batch scale), so
      //       two copies arriving together cannot both pass;
      //   (b) the cross screen of the surviving canonicals
      //       against the settled index = stored base signatures
      //       ∪ this run's settled appends, so a copy arriving
      //       batches after its original dies without any
      //       out-of-band screen+append;
      //   (c) the settle append after selection (below).
      // Order is load-bearing: self-dedup first means a canonical
      // that then dies against settled state takes its whole
      // intra-batch cluster with it (the content IS settled
      // content — re-admitting a sibling copy would undo the
      // screen).
      // without the fuzzy tier, afterFuzzy IS afterDecon and the
      // slice would be an identity join caching the signatures
      // TWICE — keep the single-cached-copy memory profile the
      // heavy ingest tests size the heap for
      val bSig =
        if (fuzzyEvalSigsPath.isEmpty) bSigAll
        else Caching.persistTracked(
          bSigAll.join(
            afterFuzzy.select(afterFuzzy(idCol).cast("long")
              .as("id")),
            Seq("id"), "leftsemi"))
      val selfKill = Dedup.connectedComponents(
          Dedup.minhashNearDupCountsFromSigs(bSig, thrNum, thrDen,
            maxBucket), "id_a", "id_b")
        .filter(col("id") =!= col("root"))
        .select(col("id").as("__dup_id"))
      val afterSelf = Caching.persistTracked(
        afterFuzzy.join(selfKill,
          afterFuzzy(idCol).cast("long") === col("__dup_id"),
          "left_anti"))
      val corpusSig = corpusSigWithSettled(spark, corpusSigPath,
        excludeBatchId = batchId)
      val survSig = bSig.join(
        afterSelf.select(afterSelf(idCol).cast("long").as("id")),
        Seq("id"), "leftsemi")
      val crossDup = Dedup.incrementalNearDupFromSigs(survSig,
          corpusSig, shingleN, k, bands, thrNum, thrDen, maxBucket)
        .select(col("batch_id").as("__dup_id")).distinct()
      val afterDedup = Caching.persistTracked(
        afterSelf.join(crossDup,
          afterSelf(idCol).cast("long") === col("__dup_id"),
          "left_anti"))
      val nAfterDedup = rows(afterDedup)

      // tier 2.75 (optional): passage-level long-match screen vs
      // the STORED window index (Dedup.longMatchIndex) — settled
      // substrings get CUT from the doc (rewriteText), the doc
      // itself SURVIVES (the CCNet posture: unique prose stays,
      // boilerplate the corpus already carries never lands), so
      // DSIR downstream scores only genuinely novel text. Only
      // docs with spans are rewritten — an untouched doc's text
      // passes through byte-identical (the rewrite is a token
      // rejoin, which would otherwise normalize whitespace
      // corpus-wide). The index is NOT appended in-stream: the
      // append is a merge, not an idempotent keyed write, so an
      // at-least-once redelivery would double-count — fold kept
      // batches in out-of-band (screen --kind longmatch
      // --append-index / Dedup.appendLongMatchIndex), the same
      // settle-then-compact lifecycle as the signature sidecar.
      // A doc cut to nothing dies in selection (n_grams = 0
      // < minGrams) and is attributed there.
      // one spans pass feeds the cut-id set, the rewrite and the
      // funnel count; `cleaned` keeps only rewritten docs
      val lmTier: Option[(DataFrame, DataFrame, Long)] =
        lmIndexPath.map { ip =>
          val spans = Caching.persistTracked(
            Dedup.incrementalLongMatchSpans(afterDedup, idCol,
              textCol, spark.read.parquet(ip), lmMinLen, lmMaxDf))
          val cutIds = spans.select(col("id").as("__lm_id"))
            .distinct()
          val cleaned = Caching.persistTracked(
            Dedup.removeSpans(afterDedup, idCol, textCol, spans,
              lmMinLen).filter(col("n_removed") > 0))
          (cutIds, cleaned, Probe.totals(cleaned, Seq(col("n_removed")))(1))
        }
      val nLmTokensCut: Long = lmTier.map(_._3).getOrElse(0L)
      val lmCutIds: Option[DataFrame] = lmTier.map(_._1)
      val afterLm = lmTier match {
        case Some((ids, cleaned, _)) =>
          val untouched = afterDedup.join(ids,
            afterDedup(idCol).cast("long") === col("__lm_id"),
            "left_anti")
          untouched.unionByName(
            Dedup.rewriteText(afterDedup, idCol, textCol, cleaned))
        case None => afterDedup
      }

      // tier 3: DSIR selection against the stored target weights
      val w = spark.read.parquet(weightsPath)
      val scored = graft.operators.Dsir
        .score(afterLm, idCol, textCol, w)
      val selIds = scored
        .filter(col("dsir_cb") >= minCb && col("n_grams") >= minGrams)
        .select(col("id").as("__sel_id"))
      val kept = Caching.persistTracked(
        afterLm.join(selIds,
          afterLm(idCol).cast("long") === col("__sel_id"),
          "leftsemi"))
      val nKept = rows(kept)

      // land: kept docs + stats snapshot, both keyed by batch id
      new StreamPipeline.IdempotentFileSink(keptPath)
        .write(kept, batchId)
      graft.operators.CorpusStats
        .appendSnapshotIdempotent(kept, textCol, statsPath, batchId)

      // (c) settle: the kept docs' signatures (sliced from the
      // same bSig pass) append to the run's settled store, keyed
      // by batch id — a replayed batch OVERWRITES its own
      // partition, leaving the index unchanged, and the next
      // batch's cross screen reads them via corpusSigWithSettled.
      // Only KEPT docs settle: selection-killed text never lands
      // in the corpus, so it must not poison the screen either.
      // Long-match-CUT docs re-sign from their LANDED (post-cut)
      // text — settling the pre-cut signature would screen future
      // batches against content the corpus never kept. Cost
      // O(cut docs); uncut docs still ride the one bSig pass.
      val keptIds = kept.select(kept(idCol).cast("long").as("id"))
      val settleBase = bSig.join(keptIds, Seq("id"), "leftsemi")
      val settleSig = lmCutIds match {
        case None => settleBase
        case Some(ids) =>
          val cutKept = kept.join(ids,
            kept(idCol).cast("long") === col("__lm_id"), "leftsemi")
          settleBase.join(ids, settleBase("id") === col("__lm_id"),
              "left_anti")
            .unionByName(Dedup.minhashSignatures(cutKept, idCol,
              textCol, shingleN, k, bands))
      }
      new StreamPipeline.IdempotentFileSink(
          settledSigPath(corpusSigPath))
        .write(settleSig, batchId)

      // optional monitor: vocab drift on the RAW feed (a drifting
      // source should alert even when the gates absorb it)
      val drift = vocabPath.map { vp =>
        val (vocab, _, baselineBp) = Vocab.readVocab(spark, vp)
        Vocab.vocabDrift(b, textCol, vocab, baselineBp,
          driftFactor, marginBp)
      }

      new StreamPipeline.IdempotentFileSink(funnelPath).write(
        Seq((nIn, nIn - nRulePass, nRulePass - nAfterRep,
          nAfterRep - nAfterDecon, nDeconTokensCut,
          nAfterDecon - nAfterFuzzy,
          nAfterFuzzy - nAfterDedup, nLmTokensCut,
          nAfterDedup - nKept, nKept,
          if (nIn > 0) nKept * 10000 / nIn else 0L,
          drift.map(_.oovBp), drift.map(_.drifted)))
          .toDF("n_in", "n_rule_killed", "n_rep_killed",
            "n_decon_killed", "n_decon_tokens_cut",
            "n_fuzzy_killed",
            "n_dup_killed", "n_lm_tokens_cut",
            "n_sel_killed", "n_kept", "kept_bp", "oov_bp",
            "drifted")
          .coalesce(1),
        batchId)
      // fires AFTER every sink landed but BEFORE Structured
      // Streaming commits the batch offset — the at-least-once
      // crash window, made injectable (the cross-JVM restart drill
      // kills the process here; production leaves the default)
      onBatchDone(batchId)
    }

  /** Retract documents from a kept-corpus store (the fullIngest
    * `keptPath` layout: docs partitioned by batch_id via the
    * idempotent sink) — the takedown's corpus leg: locate the ids'
    * batch partitions with a column-pruned (id, batch_id) scan, then
    * rewrite ONLY those partitions (anti-join + per-partition swap).
    * Strict presence: every id must be kept exactly once or the call
    * refuses before anything mutates. Returns (rows removed,
    * partitions touched). */
  def removeFromKept(spark: org.apache.spark.sql.SparkSession,
                     keptPath: String, ids: DataFrame, idCol: String,
                     validateOnly: Boolean = false)
      : (Long, Long) = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, lit}
    val rm = ids.select(col("id").cast("long").as("__rm_id")).distinct()
    val nIds = rm.count()
    require(nIds > 0, "removeFromKept: no ids to remove")
    // readOrEmpty: an already-fully-retracted store must refuse on the
    // presence check below, not die on schema inference
    val kept = graft.core.Stores.readOrEmpty(spark, keptPath)
    require(kept.columns.contains(idCol) &&
      kept.columns.contains("batch_id"),
      s"$keptPath is not a kept-corpus store (needs '$idCol' and the " +
        "batch_id partition column)")
    val loc = kept.select(kept(idCol).cast("long").as("__rm_id"),
        col("batch_id").cast("long").as("__b"))
      .join(rm, Seq("__rm_id"), "leftsemi")
      .groupBy($"__b").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getAs[Long]("__b"), r.getAs[Long]("n")))
    val found = loc.map(_._2).sum
    require(found == nIds,
      s"removeFromKept: $nIds ids requested but $found kept rows " +
        "matched — remove only ids the corpus keeps exactly once")
    if (validateOnly) return (0L, 0L)
    val parts = loc.map(_._1).toSeq
    graft.core.Stores.withLease(spark, keptPath, "removeFromKept") {
      graft.core.Stores.replaceParts(spark, keptPath, "batch_id",
        parts.map(_.toString), "removeFromKept",
        Some(kept.filter(col("batch_id").isin(parts: _*))
          .join(rm, kept(idCol).cast("long") === col("__rm_id"),
            "left_anti")))
    }
    (found, parts.length.toLong)
  }

  /** Compact a kept-corpus store's batch partitions — the
    * read-amplification escape for a long-lived [[fullIngest]] corpus:
    * retractions ([[removeFromKept]]) rewrite partitions into
    * fragments and small micro-batches land one-file partitions by the
    * hundreds, so downstream consumers pay an open() per file. Rewrites
    * every batch partition to one file (same rows — the read serves
    * bit-identically, spec-pinned); the `_schema` marker is untouched.
    * Returns (files before, files after, partitions rewritten). One
    * writer at a time (leased); run between ingest runs, never
    * alongside one. */
  def compactKept(spark: org.apache.spark.sql.SparkSession,
                  keptPath: String): (Long, Long, Long) = {
    val kp = new org.apache.hadoop.fs.Path(keptPath)
    require(kp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(kp), s"$keptPath does not exist")
    graft.core.Stores.withLease(spark, keptPath, "compactKept") {
      graft.core.Stores.compactParts(spark, keptPath, "batch_id",
        "compactKept")
    }
  }

  /** Where [[fullIngest]] settles kept docs' minhash signatures: a
    * sibling of the base signature store, partitioned by batch_id
    * (dynamic-overwrite idempotent). Kept OUTSIDE the base store dir —
    * mixing partitioned appends into a flat parquet dir breaks both
    * layouts' reads; [[compactSettled]] folds appends back into the
    * base as an O(index) signature rewrite (`ingest --compact`). */
  def settledSigPath(corpusSigPath: String): String =
    graft.core.Stores.settledOf(corpusSigPath)

  /** The settled-index view [[fullIngest]] screens against: the stored
    * base signatures ∪ this run's per-batch settled appends (if any) —
    * EXCLUDING the current batch's own partition. The exclusion is the
    * replay-idempotence keystone: on an at-least-once redelivery the
    * replayed batch's previous settle write is still on disk under its
    * own batch_id, and screening the batch against its own signatures
    * would kill every previously-kept doc as a self-dup (jaccard 1),
    * silently emptying the batch's kept partition instead of
    * reproducing it. Base leg first, so the signature-parameter
    * metadata the contract check reads survives the union. */
  private def corpusSigWithSettled(spark: org.apache.spark.sql.SparkSession,
                                   corpusSigPath: String,
                                   excludeBatchId: Long): DataFrame = {
    val base = spark.read.parquet(corpusSigPath)
    val sp = settledSigPath(corpusSigPath)
    if (graft.core.Stores.partitionValues(spark, sp, "batch_id").isEmpty)
      base
    else base.select(col("id"), col("sh"), col("bh"))
      .union(spark.read.parquet(sp)
        .filter(col("batch_id") =!= excludeBatchId)
        .select(col("id"), col("sh"), col("bh")))
  }

  /** Observability for the settled sidecar — (partition count, total
    * bytes) of `<sig>_settled`, the compaction trigger signal: every
    * [[fullIngest]] batch unions the base store with ALL settled
    * partitions, so listing+read amplification grows with this count
    * until [[compactSettled]] folds them in. (0, 0) when the sidecar
    * does not exist. Surfaced in the `ingest` CLI JSON (the
    * index-staleness-verdict pattern). */
  def settledStats(spark: org.apache.spark.sql.SparkSession,
                   corpusSigPath: String): (Int, Long) = {
    val sp = settledSigPath(corpusSigPath)
    val p = new org.apache.hadoop.fs.Path(sp)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (0, 0L)
    else (graft.core.Stores.partitionValues(spark, sp, "batch_id").length,
      fs.getContentSummary(p).getLength)
  }

  /** Fold the settled per-batch signature appends into the base store —
    * the read-amplification escape for long-running [[fullIngest]]
    * deployments. A pure union+rewrite of ALREADY-COMPUTED signatures:
    * O(index) IO, never a re-shingle (the documented alternative,
    * re-running `screen --save-index` over the settled corpus, is
    * O(corpus) and re-tokenizes every settled document).
    *
    * Contract:
    *  - **parameters carried**: the merged store keeps the base store's
    *    signature-parameter metadata (shingle_n / minhash_k / bands on
    *    `bh`, the minhashSignatures self-description), and the settled
    *    side must carry MATCHING metadata — both were signed by the
    *    same fullIngest run; a mismatch means the sidecar belongs to a
    *    different index, so refuse loudly rather than poison the store.
    *  - **idempotent**: the merge dedups on id, so re-running after a
    *    crash in the promote→clear window (both stores on disk) folds
    *    nothing twice — and a post-compaction [[fullIngest]] screen
    *    can never double-count a signature (the sidecar is REMOVED as
    *    the final step, so `corpusSigWithSettled` stops reading it).
    *  - **crash-safe**: the merged store replaces the base through
    *    [[graft.core.Stores.replace]]; the settled sidecar is dropped
    *    LAST. Every crash window re-runs cleanly:
    *    before promote → old base + sidecar intact; after promote,
    *    before clear → idempotent re-fold; after clear → no-op.
    *
    * Returns (settled rows folded, settled partitions folded) —
    * (0, 0) when there is nothing to fold (no write happens at all). */
  def compactSettled(spark: org.apache.spark.sql.SparkSession,
                     corpusSigPath: String): (Long, Int) = {
    val sp = settledSigPath(corpusSigPath)
    val (parts, _) = settledStats(spark, corpusSigPath)
    if (parts == 0) (0L, 0)
    else {
      val base = spark.read.parquet(corpusSigPath)
      val settled = spark.read.parquet(sp)
      val builder = "Dedup.minhashSignatures"
      graft.operators.Dedup.requireSigParams(settled, "bh",
        graft.operators.Dedup.sigParams(base, "bh",
          Seq("shingle_n", "minhash_k", "bands"), builder), builder)
      val nFolded = settled.count()
      // base leg first so its field metadata survives the union; the
      // explicit re-stamp below makes the carried params independent
      // of union metadata-propagation details anyway
      val baseMeta = base.schema("bh").metadata
      val merged = base.select(col("id"), col("sh"), col("bh"))
        .unionByName(settled.select(col("id"), col("sh"), col("bh")))
        .dropDuplicates("id")
        .withColumn("bh", col("bh").as("bh", baseMeta))
      graft.core.Stores.withLease(spark, corpusSigPath,
          "compactSettled") {
        graft.core.Stores.replace(spark, corpusSigPath, "compactSettled")(
          merged.write.mode("overwrite").parquet(_))
        graft.core.Stores.drop(spark, sp, "compactSettled")
      }
      (nFolded, parts)
    }
  }

  /** Sibling history store of a funnel dir — the fold target of
    * [[compactFunnel]]. */
  def funnelHistPath(funnelPath: String): String =
    graft.core.Stores.histOf(funnelPath)

  /** The canonical funnel read: live per-batch partitions ∪ the folded
    * history, LIVE WINS per batch_id. The live-wins anti-join is what
    * preserves exactly-once through compaction: a redelivered batch
    * rewrites its live partition (IdempotentFileSink), and even if its
    * old row was already folded to history, the report reads the live
    * replacement and shadows the folded copy — no double-count in any
    * crash or redelivery window. Both sides read mergeSchema (funnel
    * columns grow across engine upgrades; absent tiers count as 0 at
    * the aggregation site). */
  def readFunnel(spark: org.apache.spark.sql.SparkSession,
                 funnelPath: String): DataFrame = {
    val live = graft.sources.Layout.readMerged(spark, funnelPath)
      .withColumn("batch_id", col("batch_id").cast("long"))
    val hp = funnelHistPath(funnelPath)
    val fs = new org.apache.hadoop.fs.Path(hp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(hp))) live
    else {
      val hist = graft.sources.Layout.readMerged(spark, hp)
        .withColumn("batch_id", col("batch_id").cast("long"))
      hist.join(live.select("batch_id").distinct(), Seq("batch_id"),
          "left_anti")
        .unionByName(live, allowMissingColumns = true)
    }
  }

  /** Fold old funnel batch partitions into the `_hist` sibling — the
    * small-files hygiene pass for the REPORT side of [[fullIngest]]
    * (the kept/settled data already has `Layout.compact` /
    * [[compactSettled]]): every micro-batch writes one slim funnel row
    * as its own `batch_id=N` partition dir, so after months of batches
    * the report read is O(#batches) open()s of kilobyte files. The
    * fold rewrites all but the newest `keepLast` batches as a few
    * root-level files in `funnel_hist` (batch_id kept as a DATA
    * column — the keying survives the fold) and then EMPTIES the
    * folded live partitions through [[graft.core.Stores.replaceParts]].
    *
    * Exactly-once across redelivery: [[readFunnel]] prefers a live
    * partition over a history row with the same batch_id, and the fold
    * itself REPLACES history rows it re-folds (anti-join on batch_id),
    * so a batch redelivered after its fold is counted once from its
    * rewritten live partition, and the next fold supersedes its stale
    * history row. `keepLast ≥ 1` keeps the live dir readable (parquet
    * schema inference needs at least one partition).
    *
    * Crash shape: history lands beside and promotes BEFORE any live
    * partition empties — at every window the report stays correct
    * (duplicate rows are shadowed by live-wins) and a re-run
    * converges. Returns (batches folded, history rows after). */
  def compactFunnel(spark: org.apache.spark.sql.SparkSession,
                    funnelPath: String, keepLast: Int = 8): (Long, Long) = {
    require(keepLast >= 1,
      s"compactFunnel: keepLast must be >= 1 (got $keepLast) — an " +
        "emptied live funnel dir would be unreadable")
    val fs = new org.apache.hadoop.fs.Path(funnelPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hp = funnelHistPath(funnelPath)
    graft.core.Stores.withLease(spark, funnelPath, "compactFunnel") {
      val live = graft.sources.Layout.readMerged(spark, funnelPath)
        .withColumn("batch_id", col("batch_id").cast("long"))
      val liveIds = live.select("batch_id").distinct()
        .collect().map(_.getLong(0)).sorted
      val foldIds = liveIds.dropRight(keepLast)
      if (foldIds.isEmpty) {
        val histRows =
          if (fs.exists(new org.apache.hadoop.fs.Path(hp)))
            spark.read.parquet(hp).count()
          else 0L
        (0L, histRows)
      } else {
        // foldIds is a PREFIX of the sorted live ids, so the fold
        // filter is one range predicate — never an O(#batches)
        // literal IN list on a store with months of batches
        val folding = live.filter(col("batch_id") <= foldIds.last)
        val newHist =
          if (fs.exists(new org.apache.hadoop.fs.Path(hp))) {
            val hist = graft.sources.Layout.readMerged(spark, hp)
              .withColumn("batch_id", col("batch_id").cast("long"))
            // re-folded batches REPLACE their stale history rows — the
            // redelivered-after-fold case
            hist.join(folding.select("batch_id").distinct(),
                Seq("batch_id"), "left_anti")
              .unionByName(folding, allowMissingColumns = true)
          } else folding
        graft.core.Stores.replace(spark, hp, "compactFunnel")(
          newHist.coalesce(1).write.mode("overwrite").parquet(_))
        // history is safely in place — now empty the folded live
        // partitions
        graft.core.Stores.replaceParts(spark, funnelPath, "batch_id",
          foldIds.toSeq.map(_.toString), "compactFunnel")
        (foldIds.length.toLong, spark.read.parquet(hp).count())
      }
    }
  }

  /** The shared screen→sink→accept loop behind both settle variants:
    * per micro-batch, flag near-dups against the stored signature
    * index, write them to `sink`, and hand the anti-joined accepted
    * rows to `appendAccepted` (the store-specific maintenance step). */
  private def screenSettleLoop(vecs: DataFrame, idCol: String,
                               vecCol: String, corpusSig: DataFrame,
                               corpusVecs: DataFrame, threshold: Double,
                               dim: Int, checkpointDir: String,
                               sink: StreamPipeline.Sink,
                               bands: Int, bitsPerBand: Int, seed: Long,
                               maxBucket: Int)
                              (appendAccepted: DataFrame => Unit)
      : StreamingQuery = {
    require(dim > 0, "pass the embedding dim explicitly (no per-batch inference)")
    MicroBatch.start(vecs, checkpointDir) { mb =>
      // flagged feeds the sink AND the accepted-rows anti-join; the
      // accepted rows feed the emptiness probe AND the append
      val flagged = Caching.persistTracked(
        Similarity.incrementalEmbeddingNearDup(mb.df, idCol, vecCol,
          corpusSig, corpusVecs, threshold, bands, bitsPerBand,
          seed, dim, maxBucket))
      sink.write(flagged, mb.id)
      val accepted = Caching.persistTracked(mb.df.join(
        flagged.select(col("batch_id").as(idCol)).distinct(),
        Seq(idCol), "left_anti"))
      if (Probe.totals(accepted).head > 0) appendAccepted(accepted)
    }
  }
}
