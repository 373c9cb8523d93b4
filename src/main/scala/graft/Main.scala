package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Etl, Preprocess}
import graft.score.{Autoencoder, Trainer}
import graft.streaming.StreamPipeline

/** User-invocable CLI over the engine's lifecycle — the Spark-native
  * counterpart of the reference's click command group (main.py:23-111,
  * makefile:54-97): one JVM entry with subcommands instead of a Python
  * process per script.
  *
  * {{{
  * graft.Main preprocess --in raw.csv --out outDir [--label Label] [--drop c1,c2]
  * graft.Main train      --in train.csv --out modelDir [--epochs 10] [--lr 0.01] [--dims 4,4,2,4,4]
  * graft.Main score      --in data.csv --model modelDir --out scored.csv [--threshold 1.0]
  * graft.Main replay     --in fixture.{csv,parquet} [--model modelDir] [--rows 1000] [--threshold 1.0]
  * }}}
  *
  * `preprocess` runs the batch ETL chain (sanitize → dedup → sweep →
  * split → scale) and lands train/stream splits via the single-file CSV
  * sink. `replay` is the sandbox stand-in for the reference's
  * simulate+detect pair: it pushes fixture rows through a MemoryStream
  * into the full parse → score → dual-sink streaming query (no Kafka
  * broker exists here; the Kafka source/sink builders in StreamPipeline
  * carry the production options).
  *
  * Each command prints one JSON result line, mirroring the reference's
  * structured-log counters. Inputs: *.csv (header + inferSchema) or
  * parquet.
  */
object Main {

  private val usage =
    """usage: graft.Main <preprocess|train|score|replay|dashboard|dedup|index|query|recall|screen|retract|store|curate|stats|vocab|layout|quality|settle|diff|plan|bpe|encode|decon|novelty|leakage|select|datacard|export|pack|release|motif|topics> [--key value ...]
      |  preprocess --in <csv|parquet> --out <dir> [--label Label] [--drop c1,c2]
      |  train      --in <csv|parquet> --out <modelDir> [--epochs 10] [--lr 0.01] [--dims d0,d1,...]
      |  score      --in <csv|parquet> --model <modelDir> --out <file.csv> [--threshold 1.0]
      |  replay     --in <csv|parquet> [--model <modelDir>] [--rows 1000] [--chunk 500] [--threshold 1.0]
      |  dashboard  --in <scored csv|parquet> [--window "5 seconds"] [--follow n] [--interval-ms 1000]
      |  dedup      --in <csv|parquet> --out <kept.csv> --mode <exact|minhash|semantic|substr|longmatch|paragraph|chunk|cascade|sweep>
      |             [--id doc_id] [--text text] [--vec embedding]
      |             [--threshold 0.8 jaccard | 0.85 cosine] [--target-cluster-size 1024]
      |             [--codebook flat|two-level] [--coarse-cells 16]
      |             [--n 8] [--min-docs 2]   (substr: cut n-token spans
      |             seen in >= min-docs docs; --out gets the cleaned text;
      |             cascade: exact->canonical->substr with per-doc provenance)
      |             [--min-len 50] [--max-df 1000]  (longmatch: cut maximal
      |             duplicated runs >= min-len tokens, keep the first carrier;
      |             max-df caps by OCCURRENCE count, intra-doc repeats included)
      |             [--chunk-tokens 4]       (chunk: intra-doc repeated
      |             k-token chunks collapse to their first occurrence)
      |             [--bin-bp 500] [--max-df 1000] [--shingle-n 3]
      |             (sweep: exact-Jaccard pair histogram for threshold
      |              tuning; --out gets bin_bp,n_pairs,n_pairs_ge)
      |  index      --in <csv|parquet> --out <indexDir> [--id vec_id] [--vec embedding]
      |             [--target-cluster-size 1024] [--seed 42]
      |             [--codebook flat|two-level|pq] [--coarse-cells 16]
      |             [--quantize true]   (int8 cells, ~4x smaller store)
      |             [--pq-m 8] [--pq-ksub 64]   (pq: m byte codes/vector)
      |             | --compact <srcIdxDir> --out <dstIdxDir>
      |             (maintenance: one file per partition, fresh dir)
      |             | --index <idxDir> (--remove-ids 1,2,3 | --remove-in <parquet>)
      |             (retraction: delete vectors from a stored index —
      |              only the partitions carrying them rewrite; refuses
      |              ids the store does not carry)
      |  query      --index <indexDir> (--id <vecId> | --vec v0,v1,...)
      |             [--k 10] [--probe 4] [--probe-fine 8] [--refine 4]
      |             [--hybrid true --bm25-index <dir> --terms a,b,c
      |              [--idf ln|sqrt]]
      |             (--hybrid fuses the ANN shortlist with the stored-
      |              index BM25 shortlist by reciprocal-rank fusion)
      |  recall     --index <indexDir> [--k 10] [--sample 5]
      |             [--probe 4] [--probe-fine 8] [--refine 4]
      |             (index health: probe-vs-brute-force recall@k for a
      |              deterministic id sample; needs the by_id sidecar)
      |  screen     --in <batch csv|parquet> --corpus <settled csv|parquet> --out <flagged.csv>
      |             [--kind minhash|embedding|longmatch] [--index <sigDir>] [--save-index <sigDir>]
      |             [--id doc_id] [--text text] [--vec embedding]
      |             [--threshold 0.8 jaccard | 0.9 cosine]
      |             [--min-len 50] [--max-df 1000]  (longmatch: settled-corpus
      |             exact-substring screen; --out gets (batch_id, span_start, span_len))
      |             [--append-index true]  (longmatch + --index: after
      |             screening, fold this batch's windows into the stored
      |             index — O(batch), occurrence counts ADD exactly)
      |  ingest     --in <docs csv|parquet> --sig <sigDir> --weights <dsirDir>
      |             --out <outDir> [--vocab <vocabDir>] [--id doc_id]
      |             [--text text] [--min-words 50] [--repetition true]
      |             [--min-cb 0] [--chunk 500] [--compact true]
      |             [--lm-index <dir> [--lm-min-len 50] [--lm-max-df 1000]]
      |             [--decon-index <dir> [--decon-n 8] [--decon-max-hits 0]
      |              [--decon-key-mode xxhash64|md5]]
      |             (--lm-index adds the passage-level long-match tier:
      |              settled substrings are CUT, docs survive; the JSON
      |              reports n_lm_tokens_cut)
      |             (--decon-index adds the decontamination tier: docs
      |              carrying > --decon-max-hits eval n-grams die before
      |              signing; the JSON reports n_decon_killed; build the
      |              store with decon --mode index --save-index;
      |              --decon-mode redact CUTS the leaked spans instead —
      |              docs survive, n_decon_tokens_cut counts the cut)
      |             [--fuzzy-eval-sigs <sigStore> [--fuzzy-thr-num 4]
      |              [--fuzzy-thr-den 5] [--fuzzy-max-bucket 1000]]
      |             (--fuzzy-eval-sigs adds the PARAPHRASE decon tier:
      |              docs near-duplicating an eval item by minhash
      |              jaccard >= thr die before settling; build the store
      |              by persisting Dedup.minhashSignatures over the eval
      |              set with the ingest's shingle/k/bands params; the
      |              JSON reports n_fuzzy_killed)
      |             (--compact folds the settled signature appends into
      |              the base store after the run — O(index), no
      |              re-shingle; JSON reports settled_parts/bytes)
      |  ingest     --compact-only true --sig <sigDir>
      |             (standalone fold of <sig>_settled into <sig>)
      |  retract    --in <retractedDocs> [--id doc_id] [--text text]
      |             [--sig <sigDir>] [--bm25 <bm25Dir>] [--ann <ivfDir>]
      |             [--lm <lmPath>] [--longmatch <lmIdxDir>] [--kept <keptDir>]
      |             (the composed takedown: remove the docs from every
      |              store passed — signature index incl. the settled
      |              sidecar, BM25 postings/doclen/stats, vector index
      |              cells + by-id sidecar (flat/two-level/quantized/PQ
      |              layouts), stored LM counts, long-match window
      |              counts, kept-corpus partitions; EVERY store's
      |              containment check runs read-only up front, so a
      |              store that would refuse fails the whole command
      |              before anything mutates)
      |             (the COMPOSED streaming ingest: quality gate ->
      |              near-dup screen vs the stored signature index ->
      |              DSIR selection -> exactly-once kept/stats sinks,
      |              one funnel row per micro-batch attributing every
      |              kill to its tier; out/: kept, funnel, stats)
      |  store      --fsck <dir> [--repair true]
      |             (sweep a store tree for every documented crash
      |              window — unpromoted/incomplete _next successors,
      |              stranded _old asides, interrupted partition swaps,
      |              half-swapped BM25 stats, stale writer leases —
      |              report them, and with --repair restore the
      |              invariant; run only while no writer is live)
      |  store      --compact-bm25 <bm25Dir> | --compact-kept <keptDir>
      |             (fold append/retract fragmentation back to one file
      |              per partition; probes/reads serve bit-identically)
      |  store      --compact-funnel <funnelDir> [--keep 8]
      |             (fold all but the newest --keep per-batch funnel
      |              partitions into <funnelDir>_hist — the report-side
      |              small-files pass; reports read live ∪ hist with
      |              live winning per batch_id, exactly-once preserved)
      |  store      --rebuild-stats <bm25Dir> [--buckets N]
      |             (re-derive the stats leg from doclen truth — the
      |              recovery for a bm25_stats_doclen verify finding)
      |  store      --rebuild-by-id <annDir> [--buckets N]
      |             (rebuild the by_id sidecar from raw cells — the
      |              recovery for an ivf_idb_routing/ivf_cells_by_id
      |              finding; quantized cells refuse: rebuild those
      |              from source vectors)
      |  store      --verify <dir> [--sig <sigDir>] [--id doc_id]
      |             [--sample-mod N [--sample-rem R]]
      |             (read-only content audit: are the store's legs
      |              mutually CONSISTENT — bm25 stats==doclen truth,
      |              postings tf/multiset==doclen, bucket routing; ivf
      |              cells==by_id + idb routing + centroid coverage;
      |              kept==settled per batch + signature coverage
      |              (--sig); lm/longmatch fold laws; model weight
      |              assembly; registry laws; eval-gram params==marker;
      |              vocab top-k/baseline; DSIR spine + integer-bits
      |              weight law; corpus-stats row laws + sketch merge.
      |              --sample-mod audits only the pmod(id,N)==R slice —
      |              run slice R of N per night, exact per slice. Each
      |              failed invariant's recovery: README "Store verify")
      |  store      --verify-tree <root> [--sample-mod N [--sample-rem R]]
      |             (whole-lake sweep: detect every store under the
      |              root and audit each; kept↔sig pairing stays with
      |              the targeted --verify form)
      |  store      --health <root> [--sample-mod N [--sample-rem R]]
      |             (the morning command: fsck detect-only + verify-tree
      |              in one read-only JSON — healthy:true means zero
      |              crash windows and zero content failures)
      |  rank       (--in <docs> | --index <bm25Dir>) --terms a,b,c
      |             [--idf ln|sqrt] [--top 10] [--out <ranked>]
      |             | --build-index <dir> --in <docs> [--buckets 64]
      |             | --append-index <dir> --in <batch>
      |             | --remove-index <dir> --in <removedDocs>
      |             | --index <dir> --queries "qid:a,b;qid:c" [--top 10]
      |             (BM25: corpus scan or stored-index serve; --queries
      |              answers a probe batch in ONE plan; --remove-index
      |              retracts docs — the exact inverse of append, docs
      |              verified against the stored doclen first)
      |  curate     --in <csv|parquet> --out <kept.csv> --budget <tokensPerSource>
      |             [--id doc_id] [--text text] [--source source]
      |  stats      --stats <statsDir> [--in <batch csv|parquet>] [--text text]
      |             (with --in: append one mergeable snapshot row;
      |              without: merged corpus report, IO = O(#batches))
      |  vocab      --vocab <vocabDir> (--build true --in <corpus> [--top-k 1000]
      |             | --in <batch>) [--text text]
      |             [--drift-factor 2.0] [--margin-bp 500]
      |             (--build: persist the top-K vocabulary + baseline;
      |              else: batch OOV drift verdict vs the stored vocab)
      |  layout     --in <csv|parquet> --out <dir> --mode <partition|range|zorder|compact>
      |             [--by col[,col2]] [--files 16] [--target-bytes 134217728]
      |             (partition: Hive dirs by --by; range: sorted disjoint
      |              files on --by; zorder: Morton layout on two --by
      |              columns; compact: collapse small files)
      |  settle     --in <csv|parquet> --out <dir> [--id doc_id] [--text text]
      |             [--min-words 50] [--repetition true] [--n 8] [--min-docs 2]
      |             [--longmatch 50 [--max-df 1000]] [--budget tokensPerSource --source source]
      |             (quality gate [-> repetition family] [-> paragraph dedup]
      |              [-> long-match maximal-run rewrite] -> dedup cascade
      |              -> optional curation, one funnel JSON; lands
      |              <out>/corpus + <out>/audit)
      |  quality    --in <csv|parquet> [--out <kept.csv>] [--id doc_id] [--text text]
      |             [--min-words 50] [--max-words 100000]
      |             [--blocklist w1,w2,... [--max-hits 1]] [--repetition true]
      |             (Gopher-rule filter; JSON reports per-rule kills,
      |              --out lands docs passing rules AND the wordlist AND —
      |              with --repetition — the full dup-line/para + n-gram
      |              coverage family)
      |  diff       --a <snapshot> --b <snapshot> [--out <perId.csv>]
      |             [--id doc_id] [--text text]
      |             (added/removed/changed/unchanged between two settles)
      |  plan       --in <csv|parquet> --weights src0=4000,src1=6000 --budget <tokens>
      |             [--max-epochs-bp 40000] [--source source] [--text text]
      |             (mixture weights x budget -> per-source epoch plan)
      |  bpe        --in <csv|parquet> [--merges 64] [--min-count 2] [--batch-top 1] [--strict true] [--out <dir>]
      |             [--text text]   (learn BPE merges; lands <out>/merges + <out>/vocab)
      |  decon      --in <train> --eval <benchmark> [--mode count|spans|redact|bloom|fuzzy|index]
      |             [--n 8] [--fpp 0.001] [--shingle-n 3] [--out <report.csv>]
      |             (eval-set leakage: per-doc hit counts, merged leaked
      |              spans, token redaction, or the Bloom scale tier;
      |              fuzzy takes --shingle-n, NOT --n: the minhash
      |              shingle order, default 3; fuzzy --eval-sigs <dir>
      |              probes STORED eval signatures — the screen
      |              --save-index store — instead of re-signing --eval)
      |             --mode index: the STORED eval-gram lifecycle,
      |             partitioned by SUITE — --eval E --save-index D
      |             [--suite s] creates the store; --eval E
      |             --append-index D --suite s signs/REPLACES one
      |             suite (idempotent, other suites untouched);
      |             --retire-suite s --index D drops one; --in T
      |             --index D screens docs at O(batch) against all
      |             suites [--key-mode xxhash64|md5]
      |  novelty    (--corpus <settled> --save-index <dir>
      |             | --in <batch> [--index <dir>]) [--n 3] [--out <perDoc.csv>]
      |             (per-doc gram novelty; --index probes a stored
      |              corpus index, else a self-contained corpus report)
      |  encode     --merges <bpeOut>/merges --in <csv|parquet> [--out <counts.csv>]
      |             [--id doc_id] [--text text]
      |             (apply stored BPE merges; per-doc word/subword counts)
      |  leakage    --in <csv|parquet> [--train-bp 8000] [--out <groups.csv>]
      |             [--id doc_id] [--text text]
      |             (canonical dup groups straddling the train/val split)
      |  export     --in <csv|parquet> --out <dir> [--shards 8] [--seed epoch-0]
      |             [--epochs N] [--format json|parquet] [--compress gzip]
      |             [--id doc_id]
      |             (deterministic shuffled round-robin into shard=K
      |              dirs; every shard is a same-size random sample;
      |              --epochs N lands epoch=K dirs, each its own order)
      |  datacard   --in <csv|parquet> [--id doc_id] [--text text] [--source source]
      |             [--min-words 50] [--max-words 100000]
      |             [--neardup true [--bin-bp 1000] [--max-df 1000]]
      |             [--longmatch 50]  (duplicated-run token share, first carrier exempt)
      |             (one-shot release report: size/mix/quality/dup-rate
      |              JSON; --neardup adds the threshold sweep)
      |  select     --in <pool csv|parquet> (--target <corpus> | --weights <dir>)
      |             [--mode dsir|classifier] [--out <kept.csv>]
      |             [--id doc_id] [--text text]
      |             [--buckets 4096] [--keep-bp 2000]     (dsir)
      |             [--save-weights <dir>]  (dsir: persist the fitted
      |              table; --weights scores against a stored one)
      |             [--dim 256] [--alpha 9.0]             (classifier)
      |             [--target-text text] [--out-parquet <dir>]
      |             (target-shaped selection: DSIR importance weights or
      |              the learned quality classifier + Pareto keep)
      |  pack       --in <csv|parquet> [--seq-len 2048] [--salt pack]
      |             [--out <spans dir>] [--id doc_id] [--text text]
      |             (concat-and-chunk sequence packing: deterministic
      |              md5 order, per-(doc, sequence) spans, fill report)
      |  release    --in <csv|parquet> --out <dir> [--target <corpus>]
      |             [settle/select/datacard/export options pass through]
      |             (one-command dress rehearsal: settle -> optional
      |              DSIR select -> datacard.json -> shard export;
      |              deterministic end to end)
      |  motif      --in <events csv|parquet>
      |             (--pattern 0,2,8,2,0 | --pattern-store <dir>)
      |             [--save-pattern <dir>] [--time ts] [--bucket-sec 60]
      |             [--k 10]
      |             (top-k activity windows best matching the pattern
      |              shape by Pearson correlation; --save-pattern lands
      |              the stored form the streaming motif monitor probes)
      |  topics     --bootstrap host:9092 [--mode create|delete|describe|grow|retention]
      |             --topic name [--partitions 32] [--replication 3]
      |             [--retention-ms N] [--current N --target N]
      |             [--execute shell|admin]
      |             (prints the validated kafka-topics.sh/kafka-configs.sh
      |              plan as JSON; --execute applies it — shell runs the
      |              rendered lines, admin drives AdminClient; both need
      |              a real broker/classpath)""".stripMargin

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println(usage); sys.exit(2) }
    val spark = graft.core.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    try println(run(spark, args.head, parseOpts(args.tail)))
    catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage); System.err.println(usage); sys.exit(2)
    } finally spark.stop()
  }

  /** `--key value` pairs → map; fails loudly on stray tokens. */
  private[graft] def parseOpts(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_.head.startsWith("--")),
      s"options must be --key value pairs, got: ${args.mkString(" ")}")
    args.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap
  }

  private def req(opts: Map[String, String], key: String): String =
    opts.getOrElse(key,
      throw new IllegalArgumentException(s"missing required option --$key"))

  /** The store audit's `--sample-mod N [--sample-rem R]` slice, checked
    * before any store is read. */
  private def sampleSlice(opts: Map[String, String]): Option[(Long, Long)] = {
    val sample = opts.get("sample-mod").map { m =>
      (m.toLong, opts.getOrElse("sample-rem", "0").toLong)
    }
    graft.core.StoreVerify.requireSlice(sample)
    sample
  }

  /** Minimal JSON string escape for interpolated values: user-supplied
    * paths may contain quotes or backslashes, and a raw `"$path"`
    * interpolation would emit invalid JSON. */
  private def jstr(s: String): String =
    s.flatMap {
      case '"'            => "\\\""
      case '\\'           => "\\\\"
      case c if c < ' '   => f"\\u${c.toInt}%04x"
      case c              => c.toString
    }.mkString("\"", "", "\"")

  /** Shared landing path of the text-REWRITING dedup modes (substr /
    * paragraph / chunk): order by id, persist, audit (units removed +
    * docs touched), land as one CSV, release. The operator output
    * contract is (id, clean_text, …, n_removed). */
  private def landCleanedCorpus(cleaned0: DataFrame, idCol: String,
                                outFile: String, total: Long,
                                modeName: String, countKey: String)
      : String = {
    val cleaned = cleaned0.withColumnRenamed("id", idCol)
      .orderBy(col(idCol)).persist()
    try {
      val agg = cleaned.agg(
        coalesce(sum(col("n_removed")), lit(0L)).as("cut"),
        count(when(col("n_removed") > 0, 1)).as("touched")).head()
      Etl.writeSingleCsv(cleaned, outFile)
      s"""{"command":"dedup","mode":"$modeName","rows":$total,""" +
        s""""$countKey":${agg.getLong(0)},""" +
        s""""docsTouched":${agg.getLong(1)},"out":${jstr(outFile)}}"""
    } finally {
      cleaned.unpersist()
      graft.core.Caching.releaseAll()
      ()
    }
  }

  /** Exact rational form of a decimal threshold string ("0.95" →
    * (19, 20)): the minhash screening tier compares shingle-overlap
    * counts in INTEGER arithmetic (inter·den ≥ num·uni — no float
    * boundary drift), so a CLI threshold must arrive as a fraction. */
  private[graft] def rationalThreshold(s: String): (Int, Int) = {
    val d = BigDecimal(s)
    require(d > 0 && d <= 1, s"--threshold must be in (0, 1], got $s")
    val den = BigDecimal(10).pow(math.max(0, d.scale)).toIntExact
    val num = (d * den).toIntExact
    val g = BigInt(num).gcd(BigInt(den)).toInt
    (num / g, den / g)
  }

  /** True when `dir/child` exists, probed through the Hadoop
    * FileSystem API — java.nio answers false for every non-local URI
    * (hdfs://, s3a://), which would silently mis-probe a remote
    * PQ/two-level store as flat (the compactIndex lesson). */
  private def storeHas(spark: SparkSession, dir: String,
                       child: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir, child)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Probe a stored ANN artifact (flat / two-level / PQ — the store is
    * self-describing) by query vector or by id. Shared by `query` and
    * `recall` so the two surfaces route identically. */
  private def probeStored(spark: SparkSession, indexDir: String,
                          qVecOpt: Option[Array[Double]],
                          qidOpt: Option[Long], k: Int, nProbe: Int,
                          nProbeFine: Int, refine: Int)
      : Array[org.apache.spark.sql.Row] = {
    require(qVecOpt.isDefined || qidOpt.isDefined,
      "pass exactly one of --id <vecId> / --vec v0,v1,...")
    // the id-lookup head()s an empty result when the id is absent —
    // surface that as a loud CLI error, not a trace. Scoped to the
    // lookup itself so unrelated empty-head() failures keep their
    // own stack.
    def idLookup(qid: Long)(body: => Array[Double]): Array[Double] =
      try body catch {
        case _: NoSuchElementException => throw new IllegalArgumentException(
          s"--id $qid is not present in the index at $indexDir")
      }
    // a PQ store also writes a router/ dir — its codebooks/ dir is
    // the distinguishing artifact, so test PQ before two-level
    val isPq = storeHas(spark, indexDir, "codebooks")
    val twoLevel = !isPq && storeHas(spark, indexDir, "router")
    if (isPq) {
      val (qv, exclude) = qVecOpt match {
        case Some(v) => (v, -1L)
        case None =>
          val qid = qidOpt.get
          (idLookup(qid)(graft.operators.Ivf.lookupVec(spark,
            s"$indexDir/by_id", qid)), qid)
      }
      graft.operators.Pq.topKVecPq(spark, indexDir, qv, k,
        nProbe = nProbe, refine = refine,
        excludeId = exclude).collect()
    } else (twoLevel, qVecOpt) match {
      case (true, Some(qv)) =>
        graft.operators.Ivf.topKTwoLevelVec(spark, indexDir, qv, k,
          nProbeCoarse = nProbe, nProbeFine = nProbeFine).collect()
      case (true, None) =>
        val qid = qidOpt.get
        if (storeHas(spark, indexDir, "by_id")) {
          // lookup here (not inside topKTwoLevel) so an absent id
          // gets the loud CLI error instead of a raw head() trace
          val qv = idLookup(qid)(graft.operators.Ivf.lookupVec(spark,
            s"$indexDir/by_id", qid))
          graft.operators.Ivf.topKTwoLevelVec(spark, indexDir, qv, k,
            nProbeCoarse = nProbe, nProbeFine = nProbeFine,
            excludeId = qid).collect()
        } else {
          // legacy pre-sidecar store: topKTwoLevel warns and falls
          // back to the cells scan; its only head() is the id lookup,
          // so the scoped translation stays accurate
          try graft.operators.Ivf.topKTwoLevel(spark, indexDir, qid, k,
            nProbeCoarse = nProbe, nProbeFine = nProbeFine).collect()
          catch {
            case _: NoSuchElementException =>
              throw new IllegalArgumentException(
                s"--id $qid is not present in the index at $indexDir")
          }
        }
      case (false, qvOpt) =>
        val model = org.apache.spark.ml.clustering.KMeansModel
          .load(s"$indexDir/model")
        val cells = graft.operators.Ivf
          .readIndex(spark, s"$indexDir/cells")
        val (qv, exclude) = qvOpt match {
          case Some(v) => (v, -1L)
          case None =>
            val qid = qidOpt.get
            // pre-sidecar flat indexes fall back to the cells
            // scan (full-scan cost — rewrite them with `index`)
            val v = idLookup(qid) {
              if (storeHas(spark, indexDir, "by_id"))
                graft.operators.Ivf.lookupVec(spark,
                  s"$indexDir/by_id", qid)
              else cells.filter(col("id") === qid)
                .select(col("vec")).head().getSeq[Double](0).toArray
            }
            (v, qid)
        }
        graft.operators.Ivf.topKVec(model, cells, qv, k,
          nProbe = nProbe, metric = "cosine", excludeId = exclude)
          .collect()
    }
  }

  /** The sweep-histogram rows as JSON objects — shared by `dedup
    * --mode sweep` and `datacard --neardup` so the two surfaces can't
    * drift. */
  private def binsJson(rows: Array[org.apache.spark.sql.Row]): String =
    rows.map(r =>
      s"""{"bin_bp":${r.getLong(0)},"n_pairs":${r.getLong(1)},""" +
        s""""n_pairs_ge":${r.getLong(2)}}""").mkString(",")

  private def read(spark: SparkSession, path: String): DataFrame =
    if (path.endsWith(".csv"))
      graft.sources.CsvSource.readInferred(spark, Seq(path))
    else spark.read.parquet(path)

  /** The dedup/similarity tiers key on LONG ids (`cast("long")`
    * internally): a string id like "doc-1" would cast to null and
    * silently corrupt the kept-set, so the CLI rejects non-integral id
    * columns loudly at the gate. */
  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.types._
    val ok = df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    require(ok, s"id column '$idCol' must be an integral type (the dedup " +
      s"tiers key on long ids); got ${df.schema(idCol).dataType.simpleString}")
  }

  /** Feature vector column from every numeric column of `df` — the same
    * feature-selection rule the preprocess chain uses (U4). */
  private def vecFrame(df: DataFrame): (DataFrame, Int) = {
    val feats = Etl.numericColumns(df)
    require(feats.nonEmpty, "input has no numeric feature columns")
    (df.select(monotonically_increasing_id().as("row_id"),
      array(feats.map(col): _*).cast("array<double>").as("vec")),
      feats.length)
  }

  /** Dispatch; returns the one-line JSON result (printed by main). Kept
    * separate from `main` so tests can drive commands against a shared
    * session without the final `spark.stop()`. */
  private[graft] def run(spark: SparkSession, cmd: String,
                         opts: Map[String, String]): String = cmd match {

    case "preprocess" =>
      val out = req(opts, "out")
      val p = Preprocess.run(
        read(spark, req(opts, "in")),
        opts.getOrElse("label", "Label"),
        opts.get("drop").map(_.split(",").toSeq).getOrElse(Seq.empty))
      Etl.writeSingleCsv(p.train, s"$out/train.csv")
      Etl.writeSingleCsv(p.stream, s"$out/stream.csv")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out, "scaler.json"),
        p.scaler.toJson.getBytes("UTF-8"))
      p.counts.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }
        .mkString("""{"command":"preprocess",""", ",", "}")

    case "train" =>
      val (vec, nFeats) = vecFrame(read(spark, req(opts, "in")))
      val dims = opts.get("dims")
        .map(_.split(",").toSeq.map(_.trim.toInt))
        .getOrElse {
          val h = math.max(2, nFeats / 2)
          val b = math.max(1, nFeats / 4)
          Seq(nFeats, h, b, h, nFeats)
        }
      require(dims.head == nFeats && dims.last == nFeats,
        s"--dims must start and end with the feature count $nFeats, got $dims")
      val (w, losses) = Trainer.train(vec, "vec", dims,
        epochs = opts.getOrElse("epochs", "10").toInt,
        lr = opts.getOrElse("lr", "0.01").toDouble)
      val modelDir = req(opts, "out")
      Autoencoder.save(spark, w, modelDir)
      s"""{"command":"train","dims":[${dims.mkString(",")}],""" +
        s""""epochs":${losses.length},"final_loss":${losses.last},""" +
        s""""model_dir":${jstr(modelDir)}}"""

    case "score" =>
      val w = Autoencoder.load(spark, req(opts, "model"))
      val (vec, _) = vecFrame(read(spark, req(opts, "in")))
      val scored = Autoencoder.scoreVectors(vec, "row_id", "vec", w,
        threshold = opts.getOrElse("threshold", "1.0").toDouble)
      val outFile = req(opts, "out")
      Etl.writeSingleCsv(scored, outFile)
      val byClass = scored.groupBy(col("prediction")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      s"""{"command":"score","rows":${byClass.values.sum},""" +
        s""""normal":${byClass.getOrElse("normal", 0L)},""" +
        s""""anomaly":${byClass.getOrElse("anomaly", 0L)},"out":${jstr(outFile)}}"""

    case "replay" =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val weights = opts.get("model")
        .map(Autoencoder.load(spark, _))
        .getOrElse(Autoencoder.seededWeights(
          Seq.fill(5)(graft.streaming.FlowSchema.featureColumns.length)
            .updated(2, 2), seed = 1L))
      val rows = opts.getOrElse("rows", "1000").toInt
      val chunk = opts.getOrElse("chunk", "500").toInt
      require(chunk >= 1, s"--chunk must be >= 1, got $chunk")
      // the replay producer's JSON envelope over the fixture rows.
      // Fed in chunks through a partition-at-a-time local iterator and
      // drained per chunk, so driver memory is O(chunk + one partition)
      // regardless of --rows — the whole fixture is never materialized
      // on the driver at once. The sinks keep counts, not rows.
      val jsonIt = StreamPipeline
        .toJsonValue(read(spark, req(opts, "in")).limit(rows))
        .as[String].toLocalIterator()
      val stream = MemoryStream[String]
      val normal = new StreamPipeline.CountingSink
      val anomaly = new StreamPipeline.CountingSink
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_replay_ckpt").toString
      val q = StreamPipeline.run(stream.toDF().toDF("value"), weights,
        threshold = opts.getOrElse("threshold", "1.0").toDouble,
        normal, anomaly, ckpt)
      var sent = 0L
      try {
        val buf = new scala.collection.mutable.ArrayBuffer[String](chunk)
        while (jsonIt.hasNext) {
          buf.clear()
          while (jsonIt.hasNext && buf.length < chunk) buf += jsonIt.next()
          stream.addData(buf.toSeq)
          q.processAllAvailable()
          sent += buf.length
        }
      } finally q.stop()
      s"""{"command":"replay","sent":$sent,""" +
        s""""normal":${normal.totalRows},"anomaly":${anomaly.totalRows}}"""

    case "dashboard" =>
      val polls = opts.getOrElse("follow", "1").toInt
      require(polls >= 1, s"--follow must be >= 1, got $polls")
      dashboardFollow(spark, req(opts, "in"), opts, polls,
        intervalMs = opts.getOrElse("interval-ms", "1000").toLong,
        onPoll = line => println(line))

    case "dedup" =>
      // the engine's headline corpus capability, user-invocable: read a
      // document (or embedding) table, keep one representative per
      // duplicate group, land the kept ids as a single CSV. Four tiers:
      //   exact    — identical text (hash-aggregate, keep min id)
      //   minhash  — MinHash+LSH near-dup pairs at jaccard ≥ threshold,
      //              connected components, keep each cluster's root
      //   semantic — SemDeDup over an embedding column at cosine ≥
      //              threshold (spherical k-means codebook,
      //              within-cluster collapse)
      //   substr   — exact-substring (repeated-passage) removal; cuts
      //              shared n-token spans instead of dropping rows
      // All tiers stay distributed end-to-end; only the final
      // single-file CSV sink (S6, a CLI convenience) funnels.
      val df = read(spark, req(opts, "in"))
      val idCol = opts.getOrElse("id", "doc_id")
      require(df.columns.contains(idCol),
        s"input has no id column '$idCol' (set --id)")
      requireIntegralId(df, idCol)
      val outFile = req(opts, "out")
      val mode = req(opts, "mode")
      val total = df.count()
      if (mode == "cascade") {
        // The tiered cascade with provenance: exact → canonical →
        // substring, each tier on the previous tier's survivors; --out
        // receives the per-doc audit (id, status, keep_id, n_removed).
        val textCol = opts.getOrElse("text", "text")
        require(df.columns.contains(textCol),
          s"input has no text column '$textCol' (set --text)")
        val report = graft.operators.Dedup.cascade(df, idCol, textCol,
            n = opts.getOrElse("n", "8").toInt,
            minDocs = opts.getOrElse("min-docs", "2").toInt)
          .withColumnRenamed("id", idCol)
          .orderBy(col(idCol)).persist()
        try {
          val byTier = report.groupBy(col("status")).count()
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          Etl.writeSingleCsv(report, outFile)
          def c(k: String) = byTier.getOrElse(k, 0L)
          s"""{"command":"dedup","mode":"cascade","rows":$total,""" +
            s""""kept":${c("kept")},"droppedExact":${c("dropped_exact")},""" +
            s""""droppedCanonical":${c("dropped_canonical")},""" +
            s""""cleanedSubstr":${c("cleaned_substr")},""" +
            s""""out":${jstr(outFile)}}"""
        } finally {
          report.unpersist()
          graft.core.Caching.releaseAll()
          ()
        }
      } else if (mode == "sweep") {
        // Threshold-sweep study: the exact-Jaccard pair histogram with
        // a top-down cumulative — run this BEFORE choosing a minhash /
        // cascade threshold; --out receives (bin_bp, n_pairs,
        // n_pairs_ge).
        val textCol = opts.getOrElse("text", "text")
        require(df.columns.contains(textCol),
          s"input has no text column '$textCol' (set --text)")
        val hist = graft.operators.Dedup.similarityHistogram(
            df, idCol, textCol,
            shingleN = opts.getOrElse("shingle-n", "3").toInt,
            binBp = opts.getOrElse("bin-bp", "500").toInt,
            maxDf = opts.getOrElse("max-df", "1000").toInt)
          .orderBy(col("bin_bp")).persist()
        try {
          Etl.writeSingleCsv(hist, outFile)
          val rows = hist.collect()
          val pairs = rows.map(_.getLong(1)).sum
          s"""{"command":"dedup","mode":"sweep","rows":$total,""" +
            s""""n_pairs":$pairs,"bins":[${binsJson(rows)}],""" +
            s""""out":${jstr(outFile)}}"""
        } finally {
          hist.unpersist()
          graft.core.Caching.releaseAll()
          ()
        }
      } else if (mode == "substr") {
        // Repeated-passage removal: every doc survives, but n-token
        // spans seen in >= min-docs distinct docs are cut from ALL
        // carriers. Unlike the row-dropping tiers, --out receives the
        // cleaned corpus (id, clean_text, n_tokens, n_removed).
        val textCol = opts.getOrElse("text", "text")
        require(df.columns.contains(textCol),
          s"input has no text column '$textCol' (set --text)")
        landCleanedCorpus(graft.operators.Dedup.exactSubstrRemove(
            df, idCol, textCol,
            n = opts.getOrElse("n", "8").toInt,
            minDocs = opts.getOrElse("min-docs", "2").toInt),
          idCol, outFile, total, "substr", "tokensRemoved")
      } else if (mode == "longmatch") {
        // Suffix-array-class removal (Lee et al. 2022): every maximal
        // duplicated run of >= --min-len tokens is cut from all
        // carriers EXCEPT the corpus-wide first — content survives
        // exactly once. --out receives the cleaned corpus; the JSON
        // carries the viral-window cap report (a dropped window is a
        // recall trade to the substr/paragraph tiers, never silent).
        val textCol = opts.getOrElse("text", "text")
        require(df.columns.contains(textCol),
          s"input has no text column '$textCol' (set --text)")
        val minLen = opts.getOrElse("min-len", "50").toInt
        val maxDf = opts.getOrElse("max-df", "1000").toInt
        // removal + cap report share ONE window-occurrence pass (the
        // decon-fuzzy sign-once lesson)
        val (cleaned, repDf) = graft.operators.Dedup
          .longMatchRemoveReport(df, idCol, textCol, minLen, maxDf)
        val rep = repDf.head()
        val capJson = s""","capReport":{"n_windows":${
          rep.getAs[Long]("n_windows")},"n_dropped_windows":${
          rep.getAs[Long]("n_dropped_windows")},"dropped_rows":${
          rep.getAs[Long]("dropped_rows")},"max_df":${
          rep.getAs[Long]("max_df")}}"""
        landCleanedCorpus(cleaned,
          idCol, outFile, total, "longmatch", "tokensRemoved")
          .stripSuffix("}") + capJson + "}"
      } else if (mode == "paragraph") {
        // CCNet paragraph-level dedup: each paragraph survives only in
        // its corpus-wide first carrier; --out receives the
        // reassembled corpus (id, clean_text, n_paras, n_removed).
        val textCol = opts.getOrElse("text", "text")
        require(df.columns.contains(textCol),
          s"input has no text column '$textCol' (set --text)")
        landCleanedCorpus(graft.operators.Dedup.paragraphDedup(
            df, idCol, textCol,
            splitRegex = opts.getOrElse("para-split", "\\n{2,}"),
            delim = opts.getOrElse("para-delim", "\n")),
          idCol, outFile, total, "paragraph", "parasRemoved")
      } else if (mode == "chunk") {
        // RefinedWeb within-page line dedup: repeated k-token chunks
        // INSIDE one document collapse to their first occurrence;
        // --out receives the reassembled corpus (id, clean_text,
        // n_chunks, n_removed). Intra-doc only — cross-document
        // repetition is --mode paragraph's job.
        val textCol = opts.getOrElse("text", "text")
        require(df.columns.contains(textCol),
          s"input has no text column '$textCol' (set --text)")
        landCleanedCorpus(graft.operators.Dedup.removeRepeatedChunks(
            df, idCol, textCol,
            chunkTokens = opts.getOrElse("chunk-tokens", "4").toInt),
          idCol, outFile, total, "chunk", "chunksRemoved")
      } else {
      val kept: DataFrame = mode match {
        case "exact" =>
          val textCol = opts.getOrElse("text", "text")
          require(df.columns.contains(textCol),
            s"input has no text column '$textCol' (set --text)")
          graft.operators.Dedup.exact(df, idCol, Seq(textCol))
            .select(col("keep_id").as(idCol))
        case "minhash" =>
          val textCol = opts.getOrElse("text", "text")
          require(df.columns.contains(textCol),
            s"input has no text column '$textCol' (set --text)")
          val pairs = graft.operators.Dedup.minhashNearDup(df, idCol,
            textCol, threshold = opts.getOrElse("threshold", "0.8").toDouble)
          val dropped = graft.operators.Dedup
            .connectedComponents(pairs, "id_a", "id_b")
            .filter(col("id") =!= col("root"))
            .select(col("id").as(idCol))
          df.select(col(idCol).cast("long").as(idCol))
            .join(dropped, Seq(idCol), "left_anti")
        case "semantic" =>
          val vecCol = opts.getOrElse("vec", "embedding")
          require(df.columns.contains(vecCol),
            s"input has no embedding column '$vecCol' (set --vec)")
          val thr = opts.getOrElse("threshold", "0.85").toDouble
          val target = opts.getOrElse("target-cluster-size", "1024").toInt
          val sem = opts.getOrElse("codebook", "flat") match {
            case "flat" =>
              graft.operators.Similarity.semDedupKMeans(
                df, idCol, vecCol, threshold = thr,
                targetClusterSize = target)
            case "two-level" =>
              graft.operators.Similarity.semDedupTwoLevel(
                df, idCol, vecCol, threshold = thr,
                targetClusterSize = target,
                coarseCells = opts.getOrElse("coarse-cells", "16").toInt)
            case other => throw new IllegalArgumentException(
              s"unknown --codebook '$other' (flat | two-level)")
          }
          sem.filter(col("kept")).select(col("vec_id").as(idCol))
        case other => throw new IllegalArgumentException(
          s"unknown --mode '$other' " +
            "(exact | minhash | semantic | substr | longmatch | " +
            "paragraph | chunk | cascade | sweep)")
      }
      val keptSorted = kept.orderBy(col(idCol)).persist()
      try {
        val nKept = keptSorted.count()
        Etl.writeSingleCsv(keptSorted, outFile)
        s"""{"command":"dedup","mode":"$mode","rows":$total,""" +
          s""""kept":$nKept,"dropped":${total - nKept},"out":${jstr(outFile)}}"""
      } finally {
        keptSorted.unpersist()
        graft.core.Caching.releaseAll()
        ()
      }
      }

    case "index" if opts.contains("compact") =>
      // maintenance form: rewrite an append-fragmented store to one
      // file per partition (same rows, same layout, metadata intact);
      // always lands in a FRESH --out, never in place
      val srcDir = req(opts, "compact")
      val outDir = req(opts, "out")
      def dataFiles(dir: String): Long = {
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) 0L
        else {
          var n = 0L
          val it = fs.listFiles(p, true)
          while (it.hasNext) {
            if (it.next().getPath.getName.startsWith("part-")) n += 1
          }
          n
        }
      }
      val before = dataFiles(s"$srcDir/cells") + dataFiles(s"$srcDir/by_id")
      graft.operators.Ivf.compactIndex(spark, srcDir, outDir)
      val after = dataFiles(s"$outDir/cells") + dataFiles(s"$outDir/by_id")
      s"""{"command":"index","mode":"compact","src":${jstr(srcDir)},""" +
        s""""files_before":$before,"files_after":$after,""" +
        s""""out":${jstr(outDir)}}"""

    case "index" if opts.contains("remove-ids") || opts.contains("remove-in") =>
      // retraction: delete vectors from a stored index — only the
      // partitions carrying them rewrite (cells + by_id sidecar); the
      // strict presence check refuses ids the store does not carry
      val dir = req(opts, "index")
      val ids: org.apache.spark.sql.DataFrame = opts.get("remove-ids") match {
        case Some(csv) =>
          import spark.implicits._
          csv.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
            .map(_.toLong).toDF("id")
        case None =>
          val df = read(spark, req(opts, "remove-in"))
          val idCol = opts.getOrElse("id", "vec_id")
          require(df.columns.contains(idCol),
            s"removal input needs column '$idCol' (set --id)")
          requireIntegralId(df, idCol)
          df.select(col(idCol).cast("long").as("id"))
      }
      val rep = graft.operators.Ivf.removeFromIndex(spark, dir, ids)
      s"""{"command":"index","mode":"remove","index":${jstr(dir)},""" +
        s""""removed":${rep.removed},"cells_touched":${rep.cellsTouched},""" +
        s""""idb_touched":${rep.idbTouched}}"""

    case "index" =>
      // build + persist the SHARED semantic-dedup / ANN artifact from
      // the CLI: one spherical quantizer fit + one cosine-argmax
      // assignment scan, landed as <out>/cells (parquet, partitioned by
      // cell — Ivf.writeIndex, so probes partition-prune) and
      // <out>/model (the MLlib quantizer, reloadable by `query`).
      val df = read(spark, req(opts, "in"))
      val idCol = opts.getOrElse("id", "vec_id")
      val vecCol = opts.getOrElse("vec", "embedding")
      require(df.columns.contains(idCol) && df.columns.contains(vecCol),
        s"input needs columns '$idCol' and '$vecCol' (set --id/--vec)")
      requireIntegralId(df, idCol)
      val outDir = req(opts, "out")
      val target = opts.getOrElse("target-cluster-size", "1024").toInt
      val seed = opts.getOrElse("seed", "42").toLong
      try opts.getOrElse("codebook", "flat") match {
        case "flat" =>
          val (model, assigned) = graft.operators.Similarity.semDedupIndex(
            df, idCol, vecCol, targetClusterSize = target, seed = seed)
          val rows = assigned.count()
          // --quantize true stores int8 cells (~4x smaller; probes
          // dequantize transparently via readIndex's layout detection)
          val quantize = opts.getOrElse("quantize", "false").toBoolean
          if (quantize)
            graft.operators.Ivf.writeIndexQuantized(assigned, s"$outDir/cells")
          else graft.operators.Ivf.writeIndex(assigned, s"$outDir/cells")
          // id-bucketed sidecar: `query --id` fetches its query vector
          // partition-pruned instead of scanning the cell-partitioned
          // store (whose partition key cannot serve a by-id lookup)
          graft.operators.Ivf.writeIdLookup(assigned, s"$outDir/by_id")
          model.write.overwrite().save(s"$outDir/model")
          s"""{"command":"index","codebook":"flat","rows":$rows,""" +
            s""""cells":${model.getK},"quantized":$quantize,""" +
            s""""out":${jstr(outDir)}}"""
        case "two-level" =>
          val idx = graft.operators.Similarity.semDedupIndexTwoLevelFull(
            df, idCol, vecCol, targetClusterSize = target,
            coarseCells = opts.getOrElse("coarse-cells", "16").toInt,
            seed = seed)
          val rows = idx.assigned.count()
          val clusters = idx.fineCents.count()
          val quantize = opts.getOrElse("quantize", "false").toBoolean
          graft.operators.Ivf.writeIndexTwoLevel(idx, outDir,
            quantize = quantize)
          s"""{"command":"index","codebook":"two-level","rows":$rows,""" +
            s""""cells":${idx.routerCents.length},"clusters":$clusters,""" +
            s""""quantized":$quantize,"out":${jstr(outDir)}}"""
        case "pq" =>
          // product-quantized cells: m one-byte codes + one norm per
          // vector (~dim·8/(m+8)× smaller than raw cells); probes ADC-
          // score the pruned cells and exact-refine from the sidecar
          val (model, assigned) = graft.operators.Similarity.semDedupIndex(
            df, idCol, vecCol, targetClusterSize = target, seed = seed)
          val rows = assigned.count()
          val pqM = opts.getOrElse("pq-m", "8").toInt
          val pqKsub = opts.getOrElse("pq-ksub", "64").toInt
          val pq = graft.operators.Pq.fit(df.select(col(vecCol)), vecCol,
            m = pqM, ksub = pqKsub, seed = seed)
          val router = model.clusterCenters.zipWithIndex
            .map { case (c, i) => (i.toLong, c.toArray) }
          graft.operators.Pq.writeIndexPq(assigned, pq, router, outDir)
          s"""{"command":"index","codebook":"pq","rows":$rows,""" +
            s""""cells":${router.length},"m":$pqM,"ksub":$pqKsub,""" +
            s""""out":${jstr(outDir)}}"""
        case other => throw new IllegalArgumentException(
          s"unknown --codebook '$other' (flat | two-level | pq)")
      } finally { graft.core.Caching.releaseAll(); () }

    case "query" =>
      // cosine ANN probe over a stored `index` artifact. The store is
      // self-describing: a flat index carries <dir>/model, a two-level
      // one <dir>/router — the probe routes accordingly, so the caller
      // never states the codebook shape twice. The query vector comes
      // either directly (--vec, the serving path: zero lookups) or
      // by id (--id, fetched partition-pruned from the by_id sidecar).
      val indexDir = req(opts, "index")
      require(opts.contains("id") ^ opts.contains("vec"),
        "pass exactly one of --id <vecId> / --vec v0,v1,...")
      val qVecOpt = opts.get("vec").map(_.split(",").map(_.trim.toDouble))
      val k = opts.getOrElse("k", "10").toInt
      val nProbe = opts.getOrElse("probe", "4").toInt
      val nProbeFine = opts.getOrElse("probe-fine", "8").toInt
      val hits = probeStored(spark, indexDir, qVecOpt,
        opts.get("id").map(_.toLong), k, nProbe, nProbeFine,
        opts.getOrElse("refine", "4").toInt)
      if (opts.getOrElse("hybrid", "false").toBoolean) {
        // hybrid serving: fuse the ANN shortlist with the stored-index
        // BM25 shortlist by reciprocal-rank fusion (Rank.rrfFuse — the
        // same engine path q125 certifies). Both legs are already
        // bounded top-k, so the fusion is O(2k) rows.
        val bmDir = req(opts, "bm25-index")
        val terms = req(opts, "terms").split(",").toSeq.map(_.trim)
          .filter(_.nonEmpty)
        val idfMode = opts.getOrElse("idf", "ln")
        import spark.implicits._
        val denseRanked = hits.zipWithIndex.toSeq
          .map { case (r, i) => (r.getLong(0), (i + 1).toLong) }
          .toDF("id", "rank")
        val lexRanked = graft.operators.Rank.shortlistRanks(
          graft.operators.Rank.bm25FromIndex(spark, bmDir, terms,
            idfMode, topK = k),
          "id", Seq(col("score_e4").desc, col("id")))
        val fused = graft.operators.Rank.rrfFuse(
          Seq(lexRanked, denseRanked), topK = k).collect()
        val fusedJson = fused.map(r =>
          s"""{"id":${r.getAs[Long]("id")},""" +
            s""""rrf_e6":${r.getAs[Long]("rrf_e6")},""" +
            s""""n_legs":${r.getAs[Long]("n_legs")},""" +
            s""""best_rank":${r.getAs[Long]("best_rank")}}""")
        s"""{"command":"query","hybrid":true,"k":${fused.length},""" +
          s""""n_terms":${terms.size},""" +
          s""""hits":${fusedJson.mkString("[", ",", "]")}}"""
      } else {
        val hitJson = hits
          .map(r => s"""{"id":${r.getLong(0)},"cos_sim":${r.getDouble(1)}}""")
        s"""{"command":"query","k":${hits.length},""" +
          s""""hits":${hitJson.mkString("[", ",", "]")}}"""
      }

    case "recall" =>
      // ops-grade index health check: recall@k of the stored index's
      // probe (at the GIVEN probe budget) against brute force over the
      // index's own by_id vector table, for a deterministic sample of
      // ids. A stale or mis-parameterized index shows up here as a
      // recall drop BEFORE it silently degrades a serving path.
      val indexDir = req(opts, "index")
      require(storeHas(spark, indexDir, "by_id"),
        s"$indexDir has no by_id sidecar (pre-sidecar store) — rewrite " +
          "it with `index` before measuring recall")
      val k = opts.getOrElse("k", "10").toInt
      val nProbe = opts.getOrElse("probe", "4").toInt
      val nProbeFine = opts.getOrElse("probe-fine", "8").toInt
      val refine = opts.getOrElse("refine", "4").toInt
      val sample = opts.getOrElse("sample", "5").toInt
      require(sample > 0 && sample <= 64,
        s"--sample must be in [1, 64] (each id is one probe), got $sample")
      // persisted: the brute-force baseline scans this table twice per
      // sampled id (query-row fetch + candidate scan) — without the
      // pin that is 2·sample full re-reads. The per-id probe loop
      // itself is bounded by the --sample cap (an ops command, not a
      // serving path; the batch probes exist for serving).
      val vecs = spark.read.parquet(s"$indexDir/by_id")
        .select(col("id").cast("long").as("id"), col("vec"))
        .persist()
      // deterministic sample: lowest N ids in salted-md5 order
      val qids = vecs
        .select(col("id"), md5(concat(lit("recall:"),
          col("id").cast("string"))).as("__h"))
        .orderBy(col("__h")).limit(sample)
        .collect().map(_.getLong(0)).toSeq
      import spark.implicits._
      val approx = qids.flatMap(qid =>
        probeStored(spark, indexDir, None, Some(qid), k, nProbe,
            nProbeFine, refine)
          .map(r => (qid, r.getLong(0))))
        .toDF("qid", "id")
      val exact = qids.flatMap(qid =>
        graft.operators.Similarity.bruteForceTopK(vecs, "id", "vec",
            qid, k)
          .collect().map(r => (qid, r.getLong(0))))
        .toDF("qid", "id")
      val rows = graft.operators.Similarity
        .recallAtK(approx, exact, "qid", "id")
        .orderBy(col("qid")).collect()
      vecs.unpersist()
      val per = rows.map(r =>
        s"""{"qid":${r.getLong(0)},"recall_bp":${r.getLong(3)}}""")
      val mean = if (rows.isEmpty) 0L
        else rows.map(_.getLong(3)).sum / rows.length
      s"""{"command":"recall","k":$k,"probe":$nProbe,""" +
        s""""sampled":${qids.length},"mean_recall_bp":$mean,""" +
        s""""per_query":${per.mkString("[", ",", "]")}}"""

    case "ingest" if opts.get("compact-only").exists(_.toBoolean) =>
      // standalone settled-signature compaction: fold the per-batch
      // settled appends of previous ingest runs into the base store
      // (O(index) signature rewrite, never a re-shingle), then remove
      // the sidecar so subsequent screens stop double-reading it.
      val sig = req(opts, "sig")
      val (partsBefore, bytesBefore) =
        graft.streaming.StreamingIngest.settledStats(spark, sig)
      val (folded, nParts) =
        graft.streaming.StreamingIngest.compactSettled(spark, sig)
      s"""{"command":"ingest","compact_only":true,""" +
        s""""settled_parts_before":$partsBefore,""" +
        s""""settled_bytes_before":$bytesBefore,""" +
        s""""folded_rows":$folded,"folded_parts":$nParts,""" +
        s""""sig":${jstr(sig)}}"""

    case "ingest" =>
      // THE composed streaming ingest (StreamingIngest.fullIngest):
      // quality gate -> near-dup screen vs the stored signature index
      // -> DSIR selection -> exactly-once kept/stats sinks + one
      // funnel row per micro-batch. The input file plays the stream
      // through a MemoryStream in --chunk-sized micro-batches (the
      // replay-producer shape) so the full chain — checkpointing,
      // idempotent sinks, per-batch store re-reads — runs exactly as
      // it would against a live source.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val df = read(spark, req(opts, "in"))
      val idCol = opts.getOrElse("id", "doc_id")
      val textCol = opts.getOrElse("text", "text")
      require(Seq(idCol, textCol).forall(df.columns.contains),
        s"input needs columns '$idCol', '$textCol' (set --id/--text)")
      requireIntegralId(df, idCol)
      val outDir = req(opts, "out")
      val chunk = opts.getOrElse("chunk", "500").toInt
      require(chunk >= 1, s"--chunk must be >= 1, got $chunk")
      // recovery drill: halt() the JVM after batch N's sinks landed
      // but BEFORE the checkpoint commit — the genuine at-least-once
      // crash window; re-running the same command resumes from the
      // checkpoint and REDELIVERS the batch over its own outputs
      // (exactly-once sinks make that a bit-identical replace)
      val crashAfter = opts.get("crash-after-batch").map(_.toLong)
      val onDone: Long => Unit = bid =>
        if (crashAfter.contains(bid)) {
          System.err.println(
            s"[graft] recovery drill: halting after batch $bid sinks " +
              "landed, before the checkpoint commit")
          Runtime.getRuntime.halt(137)
        }
      def startIngest(src: org.apache.spark.sql.DataFrame) =
        graft.streaming.StreamingIngest.fullIngest(
          src, idCol, textCol,
          req(opts, "sig"), req(opts, "weights"),
          s"$outDir/kept", s"$outDir/funnel", s"$outDir/stats",
          s"$outDir/ckpt",
          vocabPath = opts.get("vocab"),
          minWords = opts.getOrElse("min-words", "50").toInt,
          withRepetition = opts.getOrElse("repetition", "false").toBoolean,
          minCb = opts.getOrElse("min-cb", "0").toLong,
          lmIndexPath = opts.get("lm-index"),
          lmMinLen = opts.getOrElse("lm-min-len", "50").toInt,
          lmMaxDf = opts.getOrElse("lm-max-df", "1000").toInt,
          deconIndexPath = opts.get("decon-index"),
          deconN = opts.getOrElse("decon-n", "8").toInt,
          deconMaxHits = opts.getOrElse("decon-max-hits", "0").toLong,
          deconKeyMode = opts.getOrElse("decon-key-mode", "xxhash64"),
          deconMode = opts.getOrElse("decon-mode", "kill"),
          fuzzyEvalSigsPath = opts.get("fuzzy-eval-sigs"),
          fuzzyThrNum = opts.getOrElse("fuzzy-thr-num", "4").toInt,
          fuzzyThrDen = opts.getOrElse("fuzzy-thr-den", "5").toInt,
          fuzzyMaxBucket = opts.getOrElse("fuzzy-max-bucket", "1000").toInt,
          onBatchDone = onDone)
      var sent = 0L
      if (opts.get("stream-files").exists(_.toBoolean)) {
        // REPLAYABLE source mode: stream the input dir's parquet files
        // (one file per micro-batch) — unlike the in-process replay
        // producer below, the file source's offsets live in the
        // checkpoint, so a crashed run RESUMES from a fresh JVM with
        // the interrupted batch redelivered (the cross-process restart
        // contract the recovery drill exercises)
        val inDir = req(opts, "in")
        val src = spark.readStream.schema(df.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
          .select(col(idCol).cast("long").as(idCol),
            col(textCol).cast("string").as(textCol))
        val q = startIngest(src)
        try q.processAllAvailable() finally q.stop()
        sent = df.count()
      } else {
        val it = df.select(col(idCol).cast("long"),
            col(textCol).cast("string"))
          .as[(Long, String)].toLocalIterator()
        val stream = MemoryStream[(Long, String)]
        val q = startIngest(stream.toDS().toDF(idCol, textCol))
        try {
          val buf = new scala.collection.mutable.ArrayBuffer[(Long, String)](chunk)
          while (it.hasNext) {
            buf.clear()
            while (it.hasNext && buf.length < chunk) buf += it.next()
            stream.addData(buf.toSeq)
            q.processAllAvailable()
            sent += buf.length
          }
        } finally q.stop()
      }
      // An empty input fires no micro-batch, so the funnel directory is
      // never created — report a zeroed funnel instead of dying on the
      // missing path.
      val t: Option[org.apache.spark.sql.Row] =
        if (sent == 0L) None
        else {
          // readFunnel: mergeSchema across engine upgrades (absent
          // tiers count as 0) AND live ∪ folded-history with live-wins
          // per batch_id, so the report is complete and exactly-once
          // after any compactFunnel fold or redelivery
          val f = graft.streaming.StreamingIngest
            .readFunnel(spark, s"$outDir/funnel")
          def s0(c: String) =
            if (f.columns.contains(c)) sum(coalesce(col(c), lit(0L)))
            else sum(lit(0L))
          Some(f.agg(count(lit(1)), s0("n_in"),
            s0("n_rule_killed"), s0("n_rep_killed"),
            s0("n_decon_killed"), s0("n_decon_tokens_cut"),
            s0("n_fuzzy_killed"),
            s0("n_dup_killed"), s0("n_lm_tokens_cut"),
            s0("n_sel_killed"), s0("n_kept")).head())
        }
      def g(i: Int): Long =
        t match {
          case Some(r) if !r.isNullAt(i) => r.getLong(i)
          case _ => 0L
        }
      // settled-sidecar observability (the compaction trigger signal),
      // measured AFTER the run and BEFORE any compaction — what a
      // monitoring loop alerts on
      val (sParts, sBytes) = graft.streaming.StreamingIngest
        .settledStats(spark, req(opts, "sig"))
      val compacted = opts.getOrElse("compact", "false").toBoolean
      val folded: Long =
        if (compacted)
          graft.streaming.StreamingIngest
            .compactSettled(spark, req(opts, "sig"))._1
        else 0L
      // --compact also folds the funnel's per-batch partitions into
      // its _hist sibling: the report side has the same small-files
      // growth as the settled sidecar, one row per batch forever
      val foldedFunnel: Long =
        if (compacted && sent > 0L)
          graft.streaming.StreamingIngest
            .compactFunnel(spark, s"$outDir/funnel")._1
        else 0L
      s"""{"command":"ingest","sent":$sent,"batches":${g(0)},""" +
        s""""n_in":${g(1)},"n_rule_killed":${g(2)},""" +
        s""""n_rep_killed":${g(3)},"n_decon_killed":${g(4)},""" +
        s""""n_decon_tokens_cut":${g(5)},""" +
        s""""n_fuzzy_killed":${g(6)},""" +
        s""""n_dup_killed":${g(7)},""" +
        s""""n_lm_tokens_cut":${g(8)},""" +
        s""""n_sel_killed":${g(9)},"n_kept":${g(10)},""" +
        s""""settled_sigs":${jstr(
          graft.streaming.StreamingIngest.settledSigPath(req(opts, "sig")))},""" +
        s""""settled_parts":$sParts,"settled_bytes":$sBytes,""" +
        s""""compacted":$compacted,"folded_rows":$folded,""" +
        s""""folded_funnel_batches":$foldedFunnel,""" +
        s""""out":${jstr(outDir)}}"""

    case "store" if opts.contains("compact-bm25") =>
      // fold a churned BM25 postings layout back to one file per term
      // bucket — probes serve bit-identically, open() amplification
      // drops to O(probed buckets)
      val dir = opts("compact-bm25")
      val (before, after, nb) =
        graft.operators.Rank.compactBm25Postings(spark, dir)
      s"""{"command":"store","compact_bm25":${jstr(dir)},""" +
        s""""files_before":$before,"files_after":$after,""" +
        s""""buckets":$nb}"""

    case "store" if opts.contains("compact-kept") =>
      // fold a churned kept-corpus store back to one file per batch
      // partition — reads serve bit-identically
      val dir = opts("compact-kept")
      val (before, after, np) =
        graft.streaming.StreamingIngest.compactKept(spark, dir)
      s"""{"command":"store","compact_kept":${jstr(dir)},""" +
        s""""files_before":$before,"files_after":$after,""" +
        s""""partitions":$np}"""

    case "store" if opts.contains("compact-funnel") =>
      // fold old per-batch funnel partitions into the _hist sibling —
      // the report-side small-files pass; readFunnel (live wins per
      // batch_id) keeps every report exactly-once through the fold
      val dir = opts("compact-funnel")
      val keep = opts.getOrElse("keep", "8").toInt
      val (foldedB, histRows) =
        graft.streaming.StreamingIngest.compactFunnel(spark, dir, keep)
      s"""{"command":"store","compact_funnel":${jstr(dir)},""" +
        s""""folded_batches":$foldedB,"hist_rows":$histRows,""" +
        s""""keep_last":$keep}"""

    case "store" if opts.contains("rebuild-stats") =>
      // one-command recovery for a bm25_stats_doclen / fsck
      // bm25_stats_inconsistent finding: the stats leg is fully
      // derivable from doclen truth
      val dir = opts("rebuild-stats")
      val (n, t) = graft.operators.Rank.rebuildBm25Stats(spark, dir,
        opts.get("buckets").map(_.toLong))
      s"""{"command":"store","rebuild_stats":${jstr(dir)},""" +
        s""""n_docs":$n,"total_tokens":$t}"""

    case "store" if opts.contains("rebuild-by-id") =>
      // one-command recovery for an ivf_idb_routing / ivf_cells_by_id
      // finding: the sidecar is fully derivable from raw cells
      val dir = opts("rebuild-by-id")
      val rows = graft.operators.Ivf.rebuildIdLookup(spark, dir,
        opts.get("buckets").map(_.toInt))
      s"""{"command":"store","rebuild_by_id":${jstr(dir)},""" +
        s""""rows":$rows}"""

    case "store" if opts.contains("health") =>
      // the morning command: structural sweep (fsck, detect-only) +
      // content audit (verify-tree) over one lake root, one JSON. Both
      // legs are read-only; anything red routes to `--fsck --repair`
      // or the README "Store verify" recovery table.
      val root = opts("health")
      val sample = sampleSlice(opts)
      val findings = graft.core.StoreFsck.fsck(spark, root, repair = false)
      val stores = graft.core.StoreVerify.verifyTree(spark, root,
        idCol = opts.getOrElse("id", "doc_id"), sample = sample)
      val contentFailed = stores.map(_._3.count(!_.ok)).sum
      val body = stores.map { case (path, family, checks) =>
        s"""{"path":${jstr(path)},"family":${jstr(family)},""" +
          s""""n_failed":${checks.count(!_.ok)},""" +
          s""""checks":[${checks.filterNot(_.ok).map(_.json)
            .mkString(",")}]}"""
      }.mkString(",")
      val healthy = findings.isEmpty && contentFailed == 0
      s"""{"command":"store","health":${jstr(root)},""" +
        s""""healthy":$healthy,""" +
        s""""n_crash_windows":${findings.length},""" +
        s""""crash_windows":[${findings.map(_.json).mkString(",")}],""" +
        s""""n_stores":${stores.length},""" +
        s""""n_content_failed":$contentFailed,""" +
        s""""stores":[$body]}"""

    case "store" if opts.contains("verify-tree") =>
      // whole-lake health sweep: detect every store under the root and
      // audit each (kept stores run without the sig pairing here — the
      // targeted --verify <kept> --sig <sig> owns the agreement checks)
      val root = opts("verify-tree")
      val sample = sampleSlice(opts)
      val stores = graft.core.StoreVerify.verifyTree(spark, root,
        idCol = opts.getOrElse("id", "doc_id"), sample = sample)
      val failed = stores.map(_._3.count(!_.ok)).sum
      val body = stores.map { case (path, family, checks) =>
        s"""{"path":${jstr(path)},"family":${jstr(family)},""" +
          s""""n_failed":${checks.count(!_.ok)},""" +
          s""""checks":[${checks.map(_.json).mkString(",")}]}"""
      }.mkString(",")
      s"""{"command":"store","verify_tree":${jstr(root)},""" +
        s""""n_stores":${stores.length},"n_failed":$failed,""" +
        s""""stores":[$body]}"""

    case "store" if opts.contains("verify") =>
      // content-level cross-leg invariant audit: fsck proves a store is
      // structurally sound; --verify proves its legs agree (BM25 stats
      // == doclen truth, postings multiset == stored th, IVF cells ==
      // by_id, kept == settled, eval-gram params == marker). Read-only;
      // each failed invariant names its recovery recipe in README
      // ("Store verify").
      val dir = opts("verify")
      val sample = sampleSlice(opts)
      val (family, checks) = graft.core.StoreVerify.verify(spark, dir,
        sigPath = opts.get("sig"), idCol = opts.getOrElse("id", "doc_id"),
        sample = sample)
      val failed = checks.count(!_.ok)
      val sampleJson = sample.fold("") { case (m, r) =>
        s""""sample_mod":$m,"sample_rem":$r,"""
      }
      s"""{"command":"store","verify":${jstr(dir)},""" +
        s""""family":${jstr(family)},$sampleJson""" +
        s""""n_checks":${checks.length},"n_failed":$failed,""" +
        s""""checks":[${checks.map(_.json).mkString(",")}]}"""

    case "store" =>
      // store lifecycle maintenance: fsck sweeps a tree for the crash
      // windows the Stores plumbing documents and (with --repair)
      // restores the invariant — the one-command recovery for a writer
      // that died mid-mutation. Run only while no writer is live (the
      // same one-writer contract every mutation carries); fsck itself
      // takes no lease because a stale lease is one of the things it
      // must be able to clear.
      val dir = req(opts, "fsck")
      val repair = opts.get("repair").exists(_.toBoolean)
      val findings = graft.core.StoreFsck.fsck(spark, dir, repair)
      val repaired = findings.count(_.action != "report")
      val unresolved = findings.count(f => f.action == "report" &&
        Set("bm25_stats_inconsistent", "orphan_next",
          "staging_anomaly", "lease_writer_live")(f.kind))
      s"""{"command":"store","fsck":${jstr(dir)},"repair":$repair,""" +
        s""""n_findings":${findings.length},"n_repaired":$repaired,""" +
        s""""n_unresolved":$unresolved,""" +
        s""""findings":[${findings.map(_.json).mkString(",")}]}"""

    case "retract" =>
      // THE composed takedown: remove a document set from every store
      // it touches, in one command — the retraction twin of `ingest`.
      // Input docs carry id + the text that was indexed (the text-
      // subtracting stores verify containment before mutating; the
      // id-only stores need just the id). Each store flag is optional;
      // pass the ones this corpus actually maintains.
      val df = read(spark, req(opts, "in"))
      val idCol = opts.getOrElse("id", "doc_id")
      val textCol = opts.getOrElse("text", "text")
      requireIntegralId(df, idCol)
      val stores = Seq("sig", "bm25", "ann", "lm", "longmatch", "kept")
        .filter(opts.contains)
      require(stores.nonEmpty,
        "retract: pass at least one store to retract from " +
          "(--sig | --bm25 | --ann | --lm | --longmatch | --kept)")
      val needText = Seq("bm25", "lm", "longmatch").filter(opts.contains)
      require(needText.isEmpty || df.columns.contains(textCol),
        s"retract: ${needText.mkString("/")} subtract TEXT counts — " +
          s"input needs column '$textCol' (set --text)")
      val idsOnly = df.select(col(idCol).cast("long").as("id"))
      // two-phase takedown: EVERY store's presence/containment checks
      // run read-only up front (validateOnly), so a store that would
      // refuse — a drifted bm25 text, an id one store never carried —
      // fails the whole command BEFORE anything mutates, never after
      // earlier stores already changed (the partial-takedown trap).
      // Phase 2 then mutates; an unexpected mid-mutation failure (a
      // filesystem error, a crash window) still reports which stores
      // completed so the operator can resume store-by-store.
      def perStore(store: String, validateOnly: Boolean): String =
        store match {
          case "sig" =>
            val (rows, parts) = graft.operators.Dedup
              .removeFromSignatureIndex(spark, idsOnly, opts("sig"),
                validateOnly = validateOnly)
            s""""sig":{"base_rows":$rows,"settled_parts":$parts}"""
          case "bm25" =>
            graft.operators.Rank.removeFromBm25Index(df, idCol, textCol,
              opts("bm25"), validateOnly = validateOnly)
            if (validateOnly) "" else {
              val st = spark.read.parquet(s"${opts("bm25")}/stats").head()
              s""""bm25":{"n_docs":${st.getAs[Long]("n_docs")},""" +
                s""""total_tokens":${st.getAs[Long]("total")}}"""
            }
          case "ann" =>
            val rep = graft.operators.Ivf.removeFromIndex(spark,
              opts("ann"), idsOnly, validateOnly = validateOnly)
            s""""ann":{"removed":${rep.removed},""" +
              s""""cells_touched":${rep.cellsTouched}}"""
          case "lm" =>
            graft.operators.Vocab.removeFromLm(df, textCol, opts("lm"),
              validateOnly = validateOnly)
            s""""lm":"removed""""
          case "longmatch" =>
            graft.operators.Dedup.removeFromLongMatchIndex(df, idCol,
              textCol, opts("longmatch"), validateOnly = validateOnly)
            s""""longmatch":"removed""""
          case "kept" =>
            val (rows, parts) = graft.streaming.StreamingIngest
              .removeFromKept(spark, opts("kept"), idsOnly, idCol,
                validateOnly = validateOnly)
            s""""kept":{"rows":$rows,"parts_touched":$parts}"""
        }
      stores.foreach { st =>
        try perStore(st, validateOnly = true)
        catch {
          // ANY preflight failure — a containment refusal, a parquet
          // read error on a corrupt store, a malformed layout — keeps
          // the nothing-was-mutated guarantee (validateOnly is
          // read-only); say so instead of propagating raw
          case scala.util.control.NonFatal(e) =>
            throw new IllegalArgumentException(
              s"retract: preflight refused on store '$st' — nothing " +
                s"was mutated. ${e.getMessage}", e)
        }
      }
      val done = scala.collection.mutable.ArrayBuffer.empty[String]
      val reports = stores.map { st =>
        try {
          val r = perStore(st, validateOnly = false)
          done += st
          r
        } catch {
          case scala.util.control.NonFatal(e) =>
            throw new IllegalStateException(
              s"retract: store '$st' failed MID-MUTATION after " +
                s"[${done.mkString(",")}] completed — finish the " +
                s"takedown by re-running against the remaining stores " +
                s"(${stores.dropWhile(done.contains)
                  .mkString(",")}). ${e.getMessage}", e)
        }
      }
      val n = idsOnly.distinct().count()
      s"""{"command":"retract","n_ids":$n,""" +
        s""""stores":{${reports.mkString(",")}}}"""

    case "screen" =>
      // incremental ingest screening: which batch rows are near-dups of
      // the settled corpus. Two tiers: minhash (text shingle-jaccard)
      // and embedding (hyperplane-LSH cosine). The corpus side is the
      // STORED signature index when --index points at one
      // (O(batch+index), settled content never re-signed); otherwise
      // it is built from --corpus, and --save-index persists it for
      // the next ingest — the settle-once / screen-forever lifecycle.
      // The embedding store holds sig/ + vecs/ (the slim id->vector
      // table the exact verify joins against).
      val batch = read(spark, req(opts, "in"))
      val idCol = opts.getOrElse("id", "doc_id")
      requireIntegralId(batch, idCol)
      val outFile = req(opts, "out")
      opts.get("index").foreach { _ =>
        require(!opts.contains("corpus") && !opts.contains("save-index"),
          "--index conflicts with --corpus/--save-index: pass the " +
            "stored index OR build one from a corpus, not both (a " +
            "silently-ignored --corpus would leave a stale index in use)")
      }
      def corpusFrame(cols: String*): DataFrame = {
        val corpus = read(spark, req(opts, "corpus"))
        require(cols.forall(corpus.columns.contains),
          s"corpus needs columns ${cols.mkString("'", "', '", "'")}")
        requireIntegralId(corpus, idCol)
        corpus
      }
      // write once, screen from the written parquet — the unpersisted
      // logical frame would re-sign the whole corpus a second time
      // inside the screening job
      def viaStore(df: DataFrame, dir: String): DataFrame = {
        df.write.mode("overwrite").parquet(dir)
        spark.read.parquet(dir)
      }
      val flagged = (opts.getOrElse("kind", "minhash") match {
        case "minhash" =>
          val textCol = opts.getOrElse("text", "text")
          require(batch.columns.contains(idCol) &&
            batch.columns.contains(textCol),
            s"batch needs columns '$idCol' and '$textCol' (set --id/--text)")
          val sig = opts.get("index") match {
            case Some(dir) => spark.read.parquet(dir)
            case None =>
              val s = graft.operators.Dedup.minhashSignatures(
                corpusFrame(idCol, textCol), idCol, textCol)
              opts.get("save-index").map(viaStore(s, _)).getOrElse(s)
          }
          // --threshold reaches this tier as an exact fraction (the
          // jaccard verify is integer arithmetic); default 4/5 = 0.8
          val (tn, td) = opts.get("threshold")
            .map(rationalThreshold).getOrElse((4, 5))
          graft.operators.Dedup
            .incrementalNearDup(batch, idCol, textCol, sig,
              thrNum = tn, thrDen = td)
        case "embedding" =>
          import graft.functions.VectorFunctions.asDouble
          val vecCol = opts.getOrElse("vec", "embedding")
          require(batch.columns.contains(idCol) &&
            batch.columns.contains(vecCol),
            s"batch needs columns '$idCol' and '$vecCol' (set --id/--vec)")
          val (sig, vecs) = opts.get("index") match {
            case Some(dir) =>
              (spark.read.parquet(s"$dir/sig"),
                spark.read.parquet(s"$dir/vecs"))
            case None =>
              val corpus = corpusFrame(idCol, vecCol)
              val s = graft.operators.Similarity.embeddingSignatures(
                corpus, idCol, vecCol)
              val v = corpus.select(col(idCol).cast("long").as("id"),
                asDouble(col(vecCol)).as("vec"))
              opts.get("save-index") match {
                case Some(dir) =>
                  (viaStore(s, s"$dir/sig"), viaStore(v, s"$dir/vecs"))
                case None => (s, v)
              }
          }
          graft.operators.Similarity.incrementalEmbeddingNearDup(
            batch, idCol, vecCol, sig, vecs,
            threshold = opts.getOrElse("threshold", "0.9").toDouble)
        case "longmatch" =>
          // exact-substring screen: maximal runs of >= --min-len tokens
          // the SETTLED corpus already carries — the incremental form
          // of dedup --mode longmatch. Output rows are (batch_id,
          // span_start, span_len), not pairs: the settled side carried
          // every matched window first by definition.
          val textCol = opts.getOrElse("text", "text")
          require(batch.columns.contains(idCol) &&
            batch.columns.contains(textCol),
            s"batch needs columns '$idCol' and '$textCol' (set --id/--text)")
          val minLen = opts.getOrElse("min-len", "50").toInt
          val idx = opts.get("index") match {
            case Some(dir) => spark.read.parquet(dir)
            case None =>
              val i = graft.operators.Dedup.longMatchIndex(
                corpusFrame(idCol, textCol), idCol, textCol, minLen)
              opts.get("save-index").map(viaStore(i, _)).getOrElse(i)
          }
          graft.operators.Dedup.incrementalLongMatchSpans(batch, idCol,
              textCol, idx, minLen,
              maxDf = opts.getOrElse("max-df", "1000").toInt)
            .select(col("id").as("batch_id"), col("span_start"),
              col("span_len"))
        case other => throw new IllegalArgumentException(
          s"unknown --kind '$other' (minhash | embedding | longmatch)")
      }).persist()
      try {
        val sortCols =
          if (flagged.columns.contains("corpus_id"))
            Seq(col("batch_id"), col("corpus_id"))
          else Seq(col("batch_id"), col("span_start"))
        val n = flagged.count()
        Etl.writeSingleCsv(flagged.orderBy(sortCols: _*), outFile)
        val countKey =
          if (flagged.columns.contains("corpus_id")) "flagged_pairs"
          else "flagged_spans"
        // --append-index: fold this batch's windows into the STORED
        // index so the NEXT batch screens against corpus ∪ this batch
        // (the settle step of the screen-forever lifecycle). Runs AFTER
        // the flagged frame is fully materialized — the append swaps
        // the store directory the screening plan reads from.
        val appendIdx = opts.get("append-index").exists(_.toBoolean)
        if (appendIdx) {
          require(opts.getOrElse("kind", "minhash") == "longmatch",
            "--append-index is a longmatch-tier option")
          require(opts.contains("index"),
            "--append-index needs --index (a stored long-match index " +
              "to fold into); build one first with --save-index")
          graft.operators.Dedup.appendLongMatchIndex(batch, idCol,
            opts.getOrElse("text", "text"), opts("index"))
        }
        s"""{"command":"screen","kind":"${opts.getOrElse("kind", "minhash")}",""" +
          s""""batch_rows":${batch.count()},""" +
          s""""$countKey":$n,""" +
          (if (appendIdx) s""""appended_index":${jstr(opts("index"))},"""
           else "") +
          s""""out":${jstr(outFile)}}"""
      } finally {
        flagged.unpersist()
        graft.core.Caching.releaseAll()
        ()
      }

    case "curate" =>
      // token-budgeted per-source curation (Curate): keep each source's
      // highest-quality docs until --budget tokens are spent; lands the
      // kept (id, source, n_tokens, quality_bp) manifest as one CSV.
      val df = read(spark, req(opts, "in"))
      val idCol = opts.getOrElse("id", "doc_id")
      val textCol = opts.getOrElse("text", "text")
      val srcCol = opts.getOrElse("source", "source")
      require(Seq(idCol, textCol, srcCol).forall(df.columns.contains),
        s"input needs columns '$idCol', '$textCol', '$srcCol' " +
          "(set --id/--text/--source)")
      requireIntegralId(df, idCol)
      val budget = req(opts, "budget").toLong
      val outFile = req(opts, "out")
      val kept = graft.operators.Curate
        .tokenBudgetPerSource(df, idCol, textCol, srcCol, budget)
        .orderBy(col("source"), col("id")).persist()
      try {
        val n = kept.count()
        val toks = kept.agg(sum(col("n_tokens"))).head().getLong(0)
        Etl.writeSingleCsv(kept, outFile)
        s"""{"command":"curate","budget_per_source":$budget,""" +
          s""""kept_docs":$n,"kept_tokens":$toks,"out":${jstr(outFile)}}"""
      } finally { kept.unpersist(); () }

    case "stats" =>
      // incremental corpus stats (CorpusStats): each ingested batch
      // appends ONE mergeable accumulator row; the report aggregates
      // the slim stats table and never rescans corpus text — the
      // 100 TB-safe replacement for the reference dashboard's
      // full-table recompute (streamlit_dashboard.py:47-89).
      val statsDir = req(opts, "stats")
      opts.get("in") match {
        case Some(inPath) =>
          val batch = read(spark, inPath)
          val textCol = opts.getOrElse("text", "text")
          require(batch.columns.contains(textCol),
            s"batch needs a '$textCol' column (set --text)")
          graft.operators.CorpusStats.appendSnapshot(batch, textCol, statsDir)
          s"""{"command":"stats","appended":1,""" +
            s""""batch_rows":${batch.count()},"stats":${jstr(statsDir)}}"""
        case None =>
          val snapshots = spark.read.parquet(statsDir)
          val nSnap = snapshots.count()
          val r = graft.operators.CorpusStats
            .report(graft.operators.CorpusStats.merge(snapshots)).head()
          s"""{"command":"stats","snapshots":$nSnap,""" +
            s""""n_docs":${r.getAs[Long]("n_docs")},""" +
            s""""sum_tokens":${r.getAs[Long]("sum_tokens")},""" +
            s""""n_blank":${r.getAs[Long]("n_blank")},""" +
            s""""token_mean":${r.getAs[Double]("token_mean")},""" +
            s""""token_std":${r.getAs[Double]("token_std")},""" +
            s""""median_tokens_lo":${r.getAs[Long]("median_tokens_lo")},""" +
            s""""median_tokens_hi":${r.getAs[Long]("median_tokens_hi")},""" +
            s""""approx_distinct_docs":${r.getAs[Long]("approx_distinct_docs")}}"""
      }

    case "vocab" =>
      // vocabulary lifecycle: --build persists the self-describing
      // top-K vocab store (Vocab.writeVocab: top_k + build-corpus
      // baseline OOV bp as field metadata); without --build, an
      // ingest batch gets its OOV drift verdict against the stored
      // baseline — the CLI twin of StreamingIngest.vocabDriftIngest.
      val vocabDir = req(opts, "vocab")
      val textCol = opts.getOrElse("text", "text")
      // .toBoolean, not contains: '--build false' must mean the drift
      // check (the CLI's boolean convention, same as --quantize)
      if (opts.get("build").exists(_.toBoolean)) {
        val corpus = read(spark, req(opts, "in"))
        require(corpus.columns.contains(textCol),
          s"corpus needs a '$textCol' column (set --text)")
        val topK = opts.getOrElse("top-k", "1000").toInt
        graft.operators.Vocab.writeVocab(corpus, textCol, topK, vocabDir)
        val (_, k, baseline) =
          graft.operators.Vocab.readVocab(spark, vocabDir)
        s"""{"command":"vocab","built":true,"top_k":$k,""" +
          s""""baseline_oov_bp":$baseline,"vocab":${jstr(vocabDir)}}"""
      } else {
        val batch = read(spark, req(opts, "in"))
        require(batch.columns.contains(textCol),
          s"batch needs a '$textCol' column (set --text)")
        val (vocab, k, baseline) =
          graft.operators.Vocab.readVocab(spark, vocabDir)
        val d = graft.operators.Vocab.vocabDrift(batch, textCol, vocab,
          baseline,
          opts.getOrElse("drift-factor", "2.0").toDouble,
          opts.getOrElse("margin-bp", "500").toLong)
        s"""{"command":"vocab","top_k":$k,""" +
          s""""n_tokens":${d.nTokens},"n_oov":${d.nOov},""" +
          s""""oov_bp":${d.oovBp},"baseline_oov_bp":${d.baselineBp},""" +
          s""""drifted":${d.drifted}}"""
      }

    case "layout" =>
      // table-layout management: the settle-time writers that make
      // scans prunable at scale (route-by-value / scan-by-range /
      // multi-dim z-order) plus small-files compaction — the CLI face
      // of graft.sources.Layout.
      val outDir = req(opts, "out")
      val mode = req(opts, "mode")
      def by: Seq[String] = req(opts, "by").split(",").map(_.trim).toSeq
      val files = opts.getOrElse("files", "16").toInt
      mode match {
        case "partition" =>
          val df = read(spark, req(opts, "in"))
          graft.sources.Layout.writePartitioned(df, outDir, by)
          s"""{"command":"layout","mode":"partition","rows":${df.count()},""" +
            s""""by":${jstr(by.mkString(","))},"out":${jstr(outDir)}}"""
        case "range" =>
          val df = read(spark, req(opts, "in"))
          require(by.size == 1, "--mode range takes exactly one --by column")
          graft.sources.Layout.writeRangeSorted(df, outDir, by.head, files)
          s"""{"command":"layout","mode":"range","rows":${df.count()},""" +
            s""""files":$files,"out":${jstr(outDir)}}"""
        case "zorder" =>
          val df = read(spark, req(opts, "in"))
          require(by.size == 2, "--mode zorder takes exactly two --by columns")
          graft.sources.Layout.writeZOrdered(df, outDir, by(0), by(1), files)
          s"""{"command":"layout","mode":"zorder","rows":${df.count()},""" +
            s""""files":$files,"out":${jstr(outDir)}}"""
        case "compact" =>
          val n = graft.sources.Layout.compact(spark, req(opts, "in"), outDir,
            opts.getOrElse("target-bytes", (128L * 1024 * 1024).toString).toLong)
          s"""{"command":"layout","mode":"compact","filesWritten":$n,""" +
            s""""out":${jstr(outDir)}}"""
        case other =>
          throw new IllegalArgumentException(s"unknown layout mode '$other'")
      }

    case "settle" =>
      // The end-to-end corpus settle: Gopher-rule quality gate →
      // dedup cascade (exact → canonical → substring, with per-doc
      // provenance) → optional per-source token budget — the chained
      // form of the quality/dedup/curate subcommands, run as ONE job
      // graph with a single funnel-accounting JSON line. Artifacts:
      // <out>/corpus (parquet: id, clean_text, n_tokens, n_removed
      // [, source]), <out>/audit (parquet cascade provenance).
      val df = read(spark, req(opts, "in"))
      val idCol = opts.getOrElse("id", "doc_id")
      val textCol = opts.getOrElse("text", "text")
      require(Seq(idCol, textCol).forall(df.columns.contains),
        s"input needs columns '$idCol', '$textCol' (set --id/--text)")
      requireIntegralId(df, idCol)
      val outDir = req(opts, "out")
      val minWords = opts.getOrElse("min-words", "50").toInt
      val nRaw = df.count()
      // tier 1: quality rules
      val rep = graft.operators.QualityRules
        .report(df, idCol, textCol, minWords = minWords).persist()
      val quality = df.join(
        rep.filter(col("pass")).select(col("id").as("__qid")),
        df(idCol).cast("long") === col("__qid"), "leftsemi")
      // tier 1.25 (optional, --repetition true): the FULL Gopher
      // repetition family stacked on the rule-passers (kernel path) —
      // the quality-CLI stacking order
      val repGateP =
        if (!opts.get("repetition").exists(_.toBoolean)) None
        else Some(graft.operators.QualityRules
          .keepRepetition(quality, idCol, textCol).persist())
      val afterRep = repGateP.getOrElse(quality)
      // tier 1.5 (optional, --para-split REGEX): paragraph-level dedup
      // (CCNet order — shared boilerplate paragraphs collapse to their
      // first carrier BEFORE the document-level tiers see the text;
      // docs emptied of paragraphs drop out here)
      val paraP = opts.get("para-split").map { rx =>
        graft.operators.Dedup.rewriteText(afterRep, idCol, textCol,
          graft.operators.Dedup.paragraphDedup(afterRep, idCol,
              textCol, splitRegex = rx,
              delim = opts.getOrElse("para-delim", "\n"))
            // paragraph-emptied docs drop out here (inner rewrite join)
            .filter(col("clean_text") =!= ""))
          .persist()
      }
      val afterPara = paraP.getOrElse(afterRep)
      // tier 1.75 (optional, --longmatch MINLEN): suffix-array-class
      // maximal-run rewrite (Lee et al. 2022) — duplicated runs of
      // ≥ min-len tokens cut everywhere but their first carrier,
      // BEFORE the document-level cascade (a doc reduced to nothing
      // here still flows to the cascade as empty text and groups with
      // the empty docs — every input stays explained)
      val lmP = opts.get("longmatch").map { ml =>
        graft.operators.Dedup.rewriteText(afterPara, idCol, textCol,
          graft.operators.Dedup.longMatchRemove(afterPara, idCol,
            textCol, minLen = ml.toInt,
            maxDf = opts.getOrElse("max-df", "1000").toInt))
          .persist()
      }
      val deduped = lmP.getOrElse(afterPara)
      // tier 2: dedup cascade with provenance
      val (audit, corpus0) = graft.operators.Dedup.cascadeWithCorpus(
        deduped, idCol, textCol,
        n = opts.getOrElse("n", "8").toInt,
        minDocs = opts.getOrElse("min-docs", "2").toInt)
      audit.write.mode("overwrite").parquet(s"$outDir/audit")
      // re-attach passthrough columns (e.g. source) for curation
      val srcCol = opts.getOrElse("source", "source")
      val corpus =
        if (df.columns.contains(srcCol))
          corpus0.join(
            df.select(df(idCol).cast("long").as("id"),
              df(srcCol).as(srcCol)), Seq("id"))
        else corpus0
      // tier 3 (optional): per-source token budget
      val settled = opts.get("budget") match {
        case Some(b) =>
          require(df.columns.contains(srcCol),
            s"--budget needs a source column '$srcCol' (set --source)")
          val kept = graft.operators.Curate.tokenBudgetPerSource(
            corpus, "id", "clean_text", srcCol, b.toLong)
          corpus.join(kept.select(col("id")), Seq("id"), "leftsemi")
        case None => corpus
      }
      val settledP = settled.persist()
      try {
        val nQuality = rep.filter(col("pass")).count()
        val nSettled = settledP.count()
        val tiers = audit.groupBy(col("status")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        settledP.write.mode("overwrite").parquet(s"$outDir/corpus")
        val tierJson = Seq("dropped_exact", "dropped_canonical",
          "cleaned_substr", "kept")
          .map(t => s""""$t":${tiers.getOrElse(t, 0L)}""").mkString(",")
        val paraJson = paraP
          .map(p => s""""para":${p.count()},""").getOrElse("")
        val repJson = repGateP
          .map(r => s""""repetition":${r.count()},""").getOrElse("")
        val lmJson = lmP
          .map(l => s""""longmatch":${l.count()},""").getOrElse("")
        s"""{"command":"settle","raw":$nRaw,"quality":$nQuality,""" +
          repJson + paraJson + lmJson + tierJson +
          s""","settled":$nSettled,"out":${jstr(outDir)}}"""
      } finally {
        settledP.unpersist(); rep.unpersist()
        repGateP.foreach(_.unpersist())
        paraP.foreach(_.unpersist())
        lmP.foreach(_.unpersist()); ()
      }

    case "diff" =>
      // Corpus snapshot diff: per-id verdicts between two settles, with
      // the one-line summary an ops dashboard graphs per re-crawl.
      val a = read(spark, req(opts, "a"))
      val b = read(spark, req(opts, "b"))
      val idCol = opts.getOrElse("id", "doc_id")
      val textCol = opts.getOrElse("text", "text")
      requireIntegralId(a, idCol)
      requireIntegralId(b, idCol)
      // duplicate ids would fan the full-outer join out and inflate
      // every summary count — reject loudly (snapshotDiff contract)
      for ((df, name) <- Seq((a, "a"), (b, "b"))) {
        val dups = df.groupBy(col(idCol)).count()
          .filter(col("count") > 1).count()
        require(dups == 0L,
          s"snapshot --$name has $dups duplicated '$idCol' ids; " +
            "diff requires unique ids per snapshot")
      }
      val d = graft.operators.Diff.snapshotDiff(a, b, idCol, textCol)
        .persist()
      try {
        opts.get("out").foreach(o =>
          Etl.writeSingleCsv(d.orderBy(col("id")), o))
        val s = graft.operators.Diff.diffSummary(d).head()
        s"""{"command":"diff","n_added":${s.getLong(0)},""" +
          s""""n_removed":${s.getLong(1)},"n_changed":${s.getLong(2)},""" +
          s""""n_unchanged":${s.getLong(3)}""" +
          opts.get("out").map(o => s""","out":${jstr(o)}}""").getOrElse("}")
      } finally { d.unpersist(); () }

    case "plan" =>
      // Token-budget epoch planner: mixture weights × budget →
      // per-source repeat factors (Mix.epochPlan), one JSON line with
      // a per-source array — the data-recipe arithmetic before a run.
      val df = read(spark, req(opts, "in"))
      val sourceCol = opts.getOrElse("source", "source")
      val textCol = opts.getOrElse("text", "text")
      val weights = req(opts, "weights").split(",").map { kv =>
        val p = kv.split("=")
        require(p.length == 2, s"--weights wants src=bp pairs, got '$kv'")
        p(0) -> p(1).toInt
      }.toMap
      val budget = req(opts, "budget").toLong
      val cap = opts.getOrElse("max-epochs-bp", "40000").toLong
      val rows = graft.operators.Mix
        .epochPlan(df, sourceCol, textCol, weights, budget, cap)
        .orderBy(col("source")).collect()
      // epochs/capped/deficit are deliberately NULL for a weighted
      // source with no corpus tokens (epochPlan surfaces the
      // misconfiguration) — render JSON null, don't crash on it
      def jlong(r: org.apache.spark.sql.Row, i: Int): String =
        if (r.isNullAt(i)) "null" else r.getLong(i).toString
      val arr = rows.map { r =>
        s"""{"source":${jstr(r.getString(0))},"n_tokens":${r.getLong(2)},""" +
          s""""target_tokens":${jlong(r, 4)},"epochs_bp":${jlong(r, 5)},""" +
          s""""capped_bp":${jlong(r, 6)},"deficit_tokens":${jlong(r, 8)}}"""
      }.mkString("[", ",", "]")
      s"""{"command":"plan","budget":$budget,"sources":$arr}"""

    case "bpe" =>
      // Distributed BPE training: learn the merge table, land it (plus
      // the subword vocabulary) as parquet artifacts a tokenizer build
      // consumes.
      val df = read(spark, req(opts, "in"))
      val textCol = opts.getOrElse("text", "text")
      val nMerges = opts.getOrElse("merges", "64").toInt
      val minCount = opts.getOrElse("min-count", "2").toLong
      // --batch-top M > 1 trains with the batched rounds (greedy
      // symbol-disjoint top-M, the production path at real vocab
      // sizes — one aggregate per ROUND, not per merge); --strict
      // forces the provably-sequential-equal acceptance bound.
      // Default is the sequential trainer: the merge table is the
      // product artifact and its sequential order is the pinned,
      // engine-independent contract — batching is the explicit
      // opt-in scale lever.
      val batchTop = opts.getOrElse("batch-top", "1").toInt
      val strict = opts.get("strict").exists(_.toBoolean)
      val (merges, words, rounds) =
        if (batchTop <= 1 && !strict)
          graft.operators.Bpe.fit(df, textCol, nMerges, minCount) match {
            case (m, w) => (m, w, m.length)
          }
        else graft.operators.Bpe.fitBatchedCounted(df, textCol, nMerges,
          minCount, math.max(1, batchTop), strict)
      val vocab = graft.operators.Bpe.vocab(words)
      val nSymbols = vocab.count()
      // artifacts land only when training actually learned something —
      // writeMerges refuses an empty table (readMerges would reject it
      // anyway), so an unmergeable corpus reports n_merges:0 with no
      // half-written store
      val landed = opts.get("out").filter(_ => merges.nonEmpty)
      landed.foreach { dir =>
        graft.operators.Bpe.writeMerges(spark, merges, s"$dir/merges")
        vocab.write.mode("overwrite").parquet(s"$dir/vocab")
      }
      s"""{"command":"bpe","n_merges":${merges.length},""" +
        s""""n_symbols":$nSymbols,"n_rounds":$rounds""" +
        landed.map(o => s""","out":${jstr(o)}}""").getOrElse("}")

    case "decon" if opts.getOrElse("mode", "") == "index" =>
      // STORED eval-gram index lifecycle — the sign-once/screen-forever
      // form a per-batch ingest uses. The store is partitioned by
      // SUITE, so each benchmark signs/re-signs/retires independently:
      //   --eval E --save-index D [--suite s]    create + sign suite
      //   --eval E --append-index D --suite s    sign/REPLACE one suite
      //   --retire-suite s --index D             drop one suite
      //   --in T --index D                       screen docs (all suites)
      val idCol = opts.getOrElse("id", "doc_id")
      val textCol = opts.getOrElse("text", "text")
      val n = opts.getOrElse("n", "8").toInt
      val keyMode = opts.getOrElse("key-mode", "xxhash64")
      import graft.operators.Decontaminate
      def grams(dir: String): (Long, Long) = {
        // readOrEmpty: a store whose last suite was retired has no
        // partitions left; its _schema marker reads as zero rows
        val idx = graft.core.Stores.readOrEmpty(spark, dir)
        (idx.select(col("gk")).distinct().count(),
          idx.select(col("suite")).distinct().count())
      }
      (opts.get("save-index"), opts.get("append-index"),
          opts.get("index")) match {
        case (Some(dir), None, None) =>
          Decontaminate.writeEvalIndex(read(spark, req(opts, "eval")),
            textCol, dir, n, keyMode,
            opts.getOrElse("suite", "default"))
          val (nk, ns) = grams(dir)
          s"""{"command":"decon","mode":"index",""" +
            s""""index":${jstr(dir)},"n_grams":$nk,"n_suites":$ns}"""
        case (None, Some(dir), None) =>
          Decontaminate.appendEvalIndex(read(spark, req(opts, "eval")),
            textCol, dir, opts.getOrElse("suite", "default"))
          val (nk, ns) = grams(dir)
          s"""{"command":"decon","mode":"index","appended":${jstr(dir)},""" +
            s""""n_grams":$nk,"n_suites":$ns}"""
        case (None, None, Some(dir)) if opts.contains("retire-suite") =>
          Decontaminate.retireEvalSuite(spark, dir,
            opts("retire-suite"))
          val (nk, ns) = grams(dir)
          s"""{"command":"decon","mode":"index","retired":${jstr(
            opts("retire-suite"))},"n_grams":$nk,"n_suites":$ns}"""
        case (None, None, Some(dir)) =>
          val train = read(spark, req(opts, "in"))
          requireIntegralId(train, idCol)
          val hits = Decontaminate.ngramHitsFromIndex(train, idCol,
            textCol, graft.core.Stores.readOrEmpty(spark, dir), n,
            keyMode).persist()
          try {
            opts.get("out").foreach(o =>
              Etl.writeSingleCsv(hits.orderBy(col(idCol)), o))
            val t = hits.agg(count(lit(1)), sum(col("n_hits"))).head()
            val total = if (t.isNullAt(1)) 0L else t.getLong(1)
            s"""{"command":"decon","mode":"index","n":$n,""" +
              s""""rows":${t.getLong(0)},"total_n_hits":$total""" +
              opts.get("out").map(o => s""","out":${jstr(o)}}""")
                .getOrElse("}")
          } finally { hits.unpersist(); () }
        case _ => throw new IllegalArgumentException(
          "decon --mode index: pass exactly one of --save-index (with " +
            "--eval), --append-index (with --eval), or --index (with --in)")
      }

    case "decon" =>
      // decontamination family vs an eval/benchmark set: exact counts,
      // leaked-span coordinates, token redaction, or the Bloom tier.
      val train = read(spark, req(opts, "in"))
      // lazy: the fuzzy tier can run from STORED eval signatures
      // (--eval-sigs), in which case no eval table is read at all
      lazy val eval_ = read(spark, req(opts, "eval"))
      val idCol = opts.getOrElse("id", "doc_id")
      val textCol = opts.getOrElse("text", "text")
      requireIntegralId(train, idCol)
      val n = opts.getOrElse("n", "8").toInt
      val mode = opts.getOrElse("mode", "count")
      import graft.operators.Decontaminate
      // fuzzy tier: eval minhash signatures are computed ONCE and
      // shared by the hits pass and the cap report (previously the
      // report re-signed eval and re-banded both sides from scratch,
      // roughly doubling the command)
      var fuzzySigs: Option[org.apache.spark.sql.DataFrame] = None
      val (rep, sortCols, metric) = mode match {
        case "count" =>
          (Decontaminate.ngramHits(train, eval_, idCol, textCol, n),
            Seq(idCol), "n_hits")
        case "spans" =>
          (Decontaminate.ngramHitSpans(train, eval_, idCol, textCol, n),
            Seq("id", "span_start"), "n_grams")
        case "redact" =>
          (Decontaminate.redactEvalNgrams(train, eval_, idCol, textCol, n),
            Seq("id"), "n_removed")
        case "bloom" =>
          (Decontaminate.ngramHitsBloom(train, eval_, idCol, textCol, n,
            opts.getOrElse("fpp", "0.001").toDouble),
            Seq(idCol), "n_hits_bloom")
        case "fuzzy" =>
          // near-duplicate tier: shingle-jaccard vs the eval set (the
          // paraphrase leakage verbatim-gram tiers miss). The shingle
          // order is its OWN flag (--shingle-n, default 3, matching
          // the dedup sweep convention) — it is NOT the exact tiers'
          // n-gram order, so reusing --n here would silently shift
          // semantics for a user passing --n 8 for consistency
          require(!opts.contains("n"),
            "decon --mode fuzzy: --n is the exact tiers' n-gram order " +
              "and does not apply here; the minhash shingle order is " +
              "--shingle-n (default 3)")
          // --eval-sigs: the benchmark set's minhash signatures were
          // stored ONCE (screen --corpus eval --save-index D — the
          // same store the ingest screens read); re-signing eval per
          // decon run is the re-tokenize-per-screen cost the stored
          // eval-GRAM index removed from the exact tier. The signature
          // parameter contract is enforced inside the incremental
          // machinery against --shingle-n.
          val sigs = graft.core.Caching.persistTracked(
            opts.get("eval-sigs") match {
              case Some(dir) => spark.read.parquet(dir)
              case None => graft.operators.Dedup.minhashSignatures(
                eval_, idCol, textCol,
                opts.getOrElse("shingle-n", "3").toInt)
            })
          fuzzySigs = Some(sigs)
          (Decontaminate.fuzzyHitsFromSigs(train, idCol, textCol, sigs,
            shingleN = opts.getOrElse("shingle-n", "3").toInt),
            Seq("train_id", "eval_id"), "inter")
        case other => throw new IllegalArgumentException(
          s"unknown --mode '$other' (count | spans | redact | bloom | " +
            "fuzzy)")
      }
      // cap observability: a skipped viral bucket is a recall trade,
      // so the fuzzy report carries the dropped-bucket counts per side
      // instead of leaving the cap silent
      val capJson = if (mode != "fuzzy") "" else {
        val caps = Decontaminate.fuzzyCapReportFromSigs(train, idCol,
            textCol, fuzzySigs.get,
            shingleN = opts.getOrElse("shingle-n", "3").toInt)
          .collect()
          .map(r => s"""{"side":${jstr(r.getAs[String]("side"))},""" +
            s""""n_buckets":${r.getAs[Long]("n_buckets")},""" +
            s""""n_dropped_buckets":${r.getAs[Long]("n_dropped_buckets")},""" +
            s""""dropped_rows":${r.getAs[Long]("dropped_rows")},""" +
            s""""max_bucket":${r.getAs[Long]("max_bucket")}}""")
        s""","caps":${caps.mkString("[", ",", "]")}"""
      }
      val cached = rep.persist()
      try {
        opts.get("out").foreach(o =>
          Etl.writeSingleCsv(cached.orderBy(sortCols.map(col): _*), o))
        val t = cached.agg(count(lit(1)), sum(col(metric))).head()
        val total = if (t.isNullAt(1)) 0L else t.getLong(1)
        // the fuzzy tier's order is the shingle order, not --n
        val effN = if (mode == "fuzzy")
          opts.getOrElse("shingle-n", "3").toInt else n
        s"""{"command":"decon","mode":${jstr(mode)},"n":$effN,""" +
          s""""rows":${t.getLong(0)},"total_$metric":$total""" + capJson +
          opts.get("out").map(o => s""","out":${jstr(o)}}""").getOrElse("}")
      } finally {
        cached.unpersist()
        fuzzySigs.foreach(_.unpersist())
      }

    case "novelty" =>
      // Per-doc gram novelty. Three modes, the screen/vocab lifecycle:
      //   --corpus X --save-index D   build the settled corpus's index
      //   --in B --index D            probe a batch against the store
      //   --in X                      self-contained full-corpus report
      val idCol = opts.getOrElse("id", "doc_id")
      val textCol = opts.getOrElse("text", "text")
      val n = opts.getOrElse("n", "3").toInt
      (opts.get("save-index"), opts.get("index")) match {
        case (Some(dir), _) =>
          val corpus = read(spark, req(opts, "corpus"))
          requireIntegralId(corpus, idCol)
          graft.operators.Novelty
            .gramIndex(corpus, idCol, textCol, n)
            .write.mode("overwrite").parquet(dir)
          val nk = spark.read.parquet(dir).count()
          s"""{"command":"novelty","index":${jstr(dir)},"n_grams":$nk}"""
        case (None, maybeIdx) =>
          val df = read(spark, req(opts, "in"))
          requireIntegralId(df, idCol)
          val nov = (maybeIdx match {
            case Some(idxDir) => graft.operators.Novelty.incrementalNovelty(
              df, idCol, textCol, spark.read.parquet(idxDir), n)
            case None =>
              graft.operators.Novelty.gramNovelty(df, idCol, textCol, n)
          }).persist()
          try {
            opts.get("out").foreach(o =>
              Etl.writeSingleCsv(nov.orderBy(col("id")), o))
            val t = nov.agg(count(lit(1)),
              count(when(col("novelty_bp") === 0, 1)),
              sum(col("n_grams")), sum(col("n_seen"))).head()
            val (tg, ts) = (if (t.isNullAt(2)) 0L else t.getLong(2),
              if (t.isNullAt(3)) 0L else t.getLong(3))
            val corpusBp = if (tg == 0L) 10000L else (tg - ts) * 10000L / tg
            s"""{"command":"novelty","n_docs":${t.getLong(0)},""" +
              s""""n_fully_seen":${t.getLong(1)},""" +
              s""""corpus_novelty_bp":$corpusBp""" +
              opts.get("out").map(o => s""","out":${jstr(o)}}""")
                .getOrElse("}")
          } finally { nov.unpersist(); () }
      }

    case "encode" =>
      // Apply a stored merge table to (possibly unseen) text: per-doc
      // word + subword counts — the serving half of the bpe command.
      val merges = graft.operators.Bpe
        .readMerges(spark, req(opts, "merges"))
      val df = read(spark, req(opts, "in"))
      val idCol = opts.getOrElse("id", "doc_id")
      val textCol = opts.getOrElse("text", "text")
      requireIntegralId(df, idCol)
      val seg = graft.operators.Bpe.segmentCorpus(df, textCol, merges)
      val counts = graft.operators.Bpe
        .encodeCounts(df, idCol, textCol, seg).persist()
      try {
        opts.get("out").foreach(o =>
          Etl.writeSingleCsv(counts.orderBy(col("id")), o))
        val t = counts.agg(count(lit(1)), sum(col("n_subwords"))).head()
        val nSub = if (t.isNullAt(1)) 0L else t.getLong(1)
        s"""{"command":"encode","n_merges":${merges.length},""" +
          s""""n_docs":${t.getLong(0)},"n_subwords":$nSub""" +
          opts.get("out").map(o => s""","out":${jstr(o)}}""").getOrElse("}")
      } finally { counts.unpersist(); () }

    case "leakage" =>
      // Split-leakage audit: canonical dup groups straddling the
      // deterministic train/val split; optional per-group CSV.
      val df = read(spark, req(opts, "in"))
      val idCol = opts.getOrElse("id", "doc_id")
      val textCol = opts.getOrElse("text", "text")
      requireIntegralId(df, idCol)
      val trainBp = opts.getOrElse("train-bp", "8000").toInt
      val l = graft.etl.Preprocess
        .splitLeakage(df, idCol, textCol, trainBp).persist()
      try {
        opts.get("out").foreach(o =>
          Etl.writeSingleCsv(l.orderBy(col("train_id"), col("val_id")), o))
        val (groups, docs) = l
          .agg(count(lit(1)), sum(col("n_train") + col("n_val")))
          .head() match {
            case r => (r.getLong(0),
              if (r.isNullAt(1)) 0L else r.getLong(1))
          }
        s"""{"command":"leakage","train_bp":$trainBp,""" +
          s""""leaked_groups":$groups,"leaked_docs":$docs""" +
          opts.get("out").map(o => s""","out":${jstr(o)}}""").getOrElse("}")
      } finally { l.unpersist(); () }

    case "quality" =>
      // Gopher-style rule filter (QualityRules): land the kept docs and
      // report the per-rule kill attribution so a miscalibrated rule is
      // visible in the same JSON line that says what survived.
      val df = read(spark, req(opts, "in"))
      val idCol = opts.getOrElse("id", "doc_id")
      val textCol = opts.getOrElse("text", "text")
      require(Seq(idCol, textCol).forall(df.columns.contains),
        s"input needs columns '$idCol', '$textCol' (set --id/--text)")
      requireIntegralId(df, idCol)
      val minWords = opts.getOrElse("min-words", "50").toInt
      val maxWords = opts.getOrElse("max-words", "100000").toInt
      val rep = graft.operators.QualityRules
        .report(df, idCol, textCol, minWords = minWords,
          maxWords = maxWords).persist()
      try {
        val kills = graft.operators.QualityRules.killReport(rep).head()
        // optional wordlist tier on top of the rule bundle: a doc must
        // pass BOTH gates to land in --out
        // persisted: the count below AND the --out anti-join both read
        // it — without the pin the full tokenize-and-aggregate gate
        // would run twice (the same reason `rep` is persisted)
        val blockIds: Option[DataFrame] = opts.get("blocklist").map { bl =>
          val words = bl.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          graft.operators.Curate.blocklistGate(df, idCol, textCol, words,
              maxHits = opts.getOrElse("max-hits", "1").toLong)
            .filter(!col("keep")).select(col("id").as("__blk_id"))
            .persist()
        }
        // optional full repetition-family tier (--repetition): the
        // Gopher duplicate line/para + n-gram coverage rules stacked
        // the same way as the wordlist gate (kill ids persisted: the
        // two counts and the --out anti-join all read them)
        val repKillIds: Option[DataFrame] =
          if (!opts.get("repetition").exists(_.toBoolean)) None
          else Some(graft.operators.QualityRules
            .repetitionReport(df, idCol, textCol)
            .filter(!col("pass")).select(col("id").as("__rep_id"))
            .persist())
        // corpus-wide count (the wordlist tier in isolation) AND the
        // count among rule-passers (its MARGINAL effect on the stacked
        // gate that lands in --out) — reporting only the former
        // overstates the tier when the rule gate already killed a doc
        val nBlocked = blockIds.map(_.count())
        val nBlockedRulePass = blockIds.map(_.join(
          rep.filter(col("pass")).select(col("id")),
          col("__blk_id") === col("id"), "leftsemi").count())
        val nRepKilled = repKillIds.map(_.count())
        val nRepKilledRulePass = repKillIds.map(_.join(
          rep.filter(col("pass")).select(col("id")),
          col("__rep_id") === col("id"), "leftsemi").count())
        opts.get("out").foreach { outFile =>
          val rulePass = df.join(
            rep.filter(col("pass")).select(col("id")),
            df(idCol).cast("long") === col("id"), "leftsemi")
          val afterBlock = blockIds.fold(rulePass)(b => rulePass.join(b,
            rulePass(idCol).cast("long") === b("__blk_id"), "left_anti"))
          val kept = repKillIds.fold(afterBlock)(r => afterBlock.join(r,
            afterBlock(idCol).cast("long") === r("__rep_id"), "left_anti"))
          Etl.writeSingleCsv(kept, outFile)
        }
        val fields = Seq("n_docs", "n_killed", "kill_word_count",
          "kill_mean_word_len", "kill_symbol_ratio", "kill_alpha_words",
          "kill_stopwords", "kill_repetition")
          .map(f => s""""$f":${kills.getAs[Long](f)}""").mkString(",")
        blockIds.foreach { b => b.unpersist(); () }
        repKillIds.foreach { r => r.unpersist(); () }
        s"""{"command":"quality","min_words":$minWords,$fields""" +
          nBlocked.map(n => s""","n_blocklisted":$n""").getOrElse("") +
          nBlockedRulePass.map(n =>
            s""","n_blocklisted_rule_pass":$n""").getOrElse("") +
          nRepKilled.map(n => s""","n_repetition_killed":$n""").getOrElse("") +
          nRepKilledRulePass.map(n =>
            s""","n_repetition_killed_rule_pass":$n""").getOrElse("") +
          opts.get("out").map(o => s""","out":${jstr(o)}}""").getOrElse("}")
      } finally { rep.unpersist(); () }

    case "export" =>
      // Training-shard export: the pipeline's last mile. The corpus is
      // deterministically shuffled (seeded, partition-invariant), then
      // dealt round-robin over the global shuffled order into `shards`
      // JSONL shard directories — so every shard is a same-size random
      // sample of the corpus and a training run can stream shard files
      // in any order without a bias. One range-partitioned sort (the
      // epoch-shuffle plan), one write; re-running with the same seed
      // reproduces the assignment bit-for-bit.
      val df = read(spark, req(opts, "in"))
      val idCol = opts.getOrElse("id", "doc_id")
      require(df.columns.contains(idCol),
        s"input has no id column '$idCol' (set --id)")
      requireIntegralId(df, idCol)
      val out = req(opts, "out")
      // the shuffle/deal pipeline appends these working columns;
      // replacing a user column of the same name would silently export
      // internal state under the user's name (and a re-export of a
      // previous export's output would collide on "shard")
      Seq("shuffle_key", "pos", "shard", "epoch", "__bal").foreach(c =>
        require(!df.columns.contains(c),
          s"input already has a '$c' column, which export reserves — " +
            "rename or drop it first"))
      val shards = opts.getOrElse("shards", "8").toInt
      require(shards > 0, s"--shards must be positive, got $shards")
      val fmt = opts.getOrElse("format", "json")
      require(Seq("json", "parquet").contains(fmt),
        s"--format must be json|parquet, got $fmt")
      val epochs = opts.getOrElse("epochs", "1").toInt
      require(epochs >= 1 && epochs <= 64,
        s"--epochs must be in [1, 64], got $epochs")
      require(epochs == 1 || !opts.contains("seed"),
        "--epochs derives one seed per epoch (epoch-0, epoch-1, …); " +
          "it conflicts with an explicit --seed")
      val textCol = opts.getOrElse("text", "text")
      // one epoch = one independent seeded deal; multi-epoch training
      // wants a DIFFERENT data order per epoch, so each epoch gets its
      // own seed and lands under <out>/epoch=K
      val balance = opts.getOrElse("balance", "rows")
      require(Seq("rows", "tokens").contains(balance),
        s"--balance must be rows|tokens, got $balance")
      if (balance == "tokens")
        require(df.columns.contains(textCol),
          s"--balance tokens needs a text column '$textCol' (set --text)")
      def exportOne(seed: String, dest: String): Seq[String] = {
        // tokens balance: deal round-robin over a LONGEST-FIRST order
        // (seeded shuffle breaking ties) — sorted-list bin packing in
        // one distributed sort; shard token totals end within one
        // max-length doc of each other
        val ordered =
          if (balance == "tokens")
            graft.operators.Shuffle.deterministicShuffle(
              df.withColumn("__bal",
                -graft.functions.TextFunctions.tokenCount(col(textCol))
                  .cast("long")),
              idCol, seed, prefixSort = Seq(col("__bal")))
              .drop("__bal")
          else
            graft.operators.Shuffle.deterministicShuffle(df, idCol, seed)
        val shuffled = ordered
          .withColumn("shard", pmod(col("pos") - 1, lit(shards.toLong)))
          .persist()
        try {
          val payload = df.columns.map(col) :+ col("shard")
          val writer = shuffled
            .repartition(shards, col("shard"))
            .sortWithinPartitions(col("shard"), col("pos"))
            .select(payload: _*)
            .write.partitionBy("shard").mode("overwrite")
          opts.get("compress").fold(writer)(c =>
            writer.option("compression", c)).format(fmt).save(dest)
          val tokExpr =
            if (df.columns.contains(textCol))
              sum(graft.functions.TextFunctions.tokenCount(col(textCol)))
            else sum(lit(0L))
          // order-free per-shard content checksum (xor of per-row
          // xxhash64 over the payload columns): a training job — or
          // ExportReader.verify — can re-derive it from the shard
          // files alone, in any read order, and catch a torn or
          // hand-edited shard
          val rows = shuffled.groupBy(col("shard"))
            .agg(count(lit(1)).as("n"), tokExpr.as("tok"),
              expr(s"bit_xor(xxhash64(${df.columns
                .map(c => s"`$c`").mkString(", ")}))").as("csum"))
            .orderBy(col("shard")).collect().toSeq.map { r =>
              val tok = if (r.isNullAt(2)) 0L else r.getLong(2)
              s"""{"shard":${r.getLong(0)},"n_docs":${r.getLong(1)},""" +
                s""""n_tokens":$tok,"checksum":${r.getLong(3)}}"""
            }
          // manifest lands INSIDE the epoch dir as an underscore file
          // (ignored by Spark's source listing, so round-trip reads of
          // the tree never see it as data)
          val mPath = new org.apache.hadoop.fs.Path(s"$dest/_manifest.jsonl")
          val mFs = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val os = mFs.create(mPath, true)
          try os.write((rows.mkString("\n") + "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally os.close()
          rows
        } finally { shuffled.unpersist(); () }
      }
      if (epochs == 1) {
        val seed = opts.getOrElse("seed", "epoch-0")
        val per = exportOne(seed, out)
        s"""{"command":"export","shards":$shards,"seed":${jstr(seed)},""" +
          s""""format":${jstr(fmt)},"per_shard":[${per.mkString(",")}],""" +
          s""""out":${jstr(out)}}"""
      } else {
        // clear the out root first: each epoch only overwrites its own
        // epoch=K subdir, so stale epoch dirs from a previous wider
        // export would survive and a reader would silently stream
        // extra epochs — match single-epoch overwrite semantics
        val outP = new org.apache.hadoop.fs.Path(out)
        val outFs = outP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (outFs.exists(outP)) { outFs.delete(outP, true); () }
        val per = (0 until epochs).map { e =>
          val stats = exportOne(s"epoch-$e", s"$out/epoch=$e")
          s"""{"epoch":$e,"per_shard":[${stats.mkString(",")}]}"""
        }
        s"""{"command":"export","shards":$shards,"epochs":$epochs,""" +
          s""""format":${jstr(fmt)},""" +
          s""""per_epoch":[${per.mkString(",")}],"out":${jstr(out)}}"""
      }

    case "datacard" =>
      // One-shot corpus report card: the summary a dataset release
      // ships with (Gebru et al., "Datasheets for Datasets" — public
      // practice). Composes the oracle-backed operators into one JSON:
      // size/token totals, per-source mix, quality-rule kill
      // attribution, exact-dup rate, and (opt-in, it pays a pair join)
      // the near-dup threshold sweep. Each section is ONE corpus scan.
      val df = read(spark, req(opts, "in"))
      val idCol = opts.getOrElse("id", "doc_id")
      val textCol = opts.getOrElse("text", "text")
      require(Seq(idCol, textCol).forall(df.columns.contains),
        s"input needs columns '$idCol', '$textCol' (set --id/--text)")
      requireIntegralId(df, idCol)
      val sourceCol = opts.getOrElse("source", "source")
      val nt = graft.functions.TextFunctions.tokenCount(col(textCol))
      val overall = df.agg(count(lit(1)).as("n"), sum(nt).as("tok"),
        sum(length(col(textCol))).as("chars")).head()
      val (nDocs, nTokens, nChars) = (overall.getLong(0),
        if (overall.isNullAt(1)) 0L else overall.getLong(1),
        if (overall.isNullAt(2)) 0L else overall.getLong(2))
      val bySource: Seq[String] =
        if (df.columns.contains(sourceCol))
          df.groupBy(col(sourceCol).cast("string").as("s"))
            .agg(count(lit(1)).as("n"), sum(nt).as("tok"))
            .orderBy(col("s")).collect().toSeq.map { r =>
              val tok = if (r.isNullAt(2)) 0L else r.getLong(2)
              val share =
                if (nTokens > 0) tok * 10000 / nTokens else 0L
              s"""{"source":${jstr(r.getString(0))},"n_docs":${r.getLong(1)},""" +
                s""""n_tokens":$tok,"share_bp":$share}"""
            }
        else Seq.empty
      val rep = graft.operators.QualityRules.report(df, idCol, textCol,
        minWords = opts.getOrElse("min-words", "50").toInt,
        maxWords = opts.getOrElse("max-words", "100000").toInt)
      val kills = graft.operators.QualityRules.killReport(rep).head()
      val qualityJson = Seq("n_docs", "n_killed", "kill_word_count",
        "kill_mean_word_len", "kill_symbol_ratio", "kill_alpha_words",
        "kill_stopwords", "kill_repetition")
        .map(f => s""""$f":${kills.getAs[Long](f)}""").mkString(",")
      val dups = graft.operators.Dedup.exact(df, idCol, Seq(textCol))
      val dupAgg = dups.agg(count(lit(1)).as("groups"),
        sum(col("n_dups") - 1).as("extra")).head()
      val (dupGroups, dupExtra) = (dupAgg.getLong(0),
        if (dupAgg.isNullAt(1)) 0L else dupAgg.getLong(1))
      val dupRateBp = if (nDocs > 0) dupExtra * 10000 / nDocs else 0L
      val sweepJson: String =
        if (opts.get("neardup").contains("true")) {
          try {
            val rows = graft.operators.Dedup.similarityHistogram(
                df, idCol, textCol,
                binBp = opts.getOrElse("bin-bp", "1000").toInt,
                maxDf = opts.getOrElse("max-df", "1000").toInt)
              .orderBy(col("bin_bp")).collect()
            "," + s""""neardup_bins":[${binsJson(rows)}]"""
          } finally {
            // similarityHistogram persistTracks the shingle frame; a
            // report command must not leave it pinned in the session
            graft.core.Caching.releaseAll()
          }
        } else ""
      // opt-in (it pays a window-occurrence pass): what fraction of
      // corpus tokens sit inside duplicated runs of >= --longmatch
      // tokens (first carrier exempt) — the Lee et al. duplication
      // metric a release datasheet reports
      val lmJson: String = opts.get("longmatch").map { ml =>
        try {
          val (cleaned, repDf) = graft.operators.Dedup
            .longMatchRemoveReport(df, idCol, textCol, ml.toInt,
              maxDf = opts.getOrElse("max-df", "1000").toInt)
          val agg = cleaned.agg(
            coalesce(sum(col("n_removed")), lit(0L)).as("cut"),
            count(when(col("n_removed") > 0, 1)).as("touched")).head()
          val rep = repDf.head()
          val cut = agg.getLong(0)
          val share = if (nTokens > 0) cut * 10000 / nTokens else 0L
          s""","longmatch":{"min_len":${ml.toInt},""" +
            s""""dup_tokens":$cut,"dup_token_bp":$share,""" +
            s""""docs_touched":${agg.getLong(1)},""" +
            s""""n_dropped_windows":${rep.getAs[Long]("n_dropped_windows")}}"""
        } finally graft.core.Caching.releaseAll()
      }.getOrElse("")
      s"""{"command":"datacard","n_docs":$nDocs,"n_tokens":$nTokens,""" +
        s""""n_chars":$nChars,"sources":[${bySource.mkString(",")}],""" +
        s""""quality":{$qualityJson},""" +
        s""""exact_dup":{"groups":$dupGroups,"extra_copies":$dupExtra,""" +
        s""""dup_rate_bp":$dupRateBp}$sweepJson$lmJson}"""

    case "select" =>
      // Target-shaped data selection: score the pool against a target
      // corpus and keep a target-shaped subset — DSIR importance
      // weights (model-free, exact-bits) or the learned quality
      // classifier with the Pareto keep rule.
      val pool = read(spark, req(opts, "in"))
      val idCol = opts.getOrElse("id", "doc_id")
      val textCol = opts.getOrElse("text", "text")
      require(Seq(idCol, textCol).forall(pool.columns.contains),
        s"input needs columns '$idCol', '$textCol' (set --id/--text)")
      requireIntegralId(pool, idCol)
      def target(): DataFrame = {
        // --target-text: the target corpus may name its text column
        // differently from the pool (e.g. a settled pool's clean_text
        // vs a raw target's text) — project it onto the pool's name
        val tCol = opts.getOrElse("target-text", textCol)
        val t = read(spark, req(opts, "target"))
        require(t.columns.contains(tCol),
          s"target corpus needs column '$tCol' (set --target-text)")
        t.select(col(tCol).as(textCol))
      }
      val nPool = pool.count()
      require(nPool > 0,
        "selection pool is empty — check --in (a mistyped path or glob " +
          "reads zero rows)")
      val mode = opts.getOrElse("mode", "dsir")
      val kept = mode match {
        case "dsir" =>
          val buckets = opts.getOrElse("buckets", "4096").toInt
          val keepBp = opts.getOrElse("keep-bp", "2000").toInt
          require(keepBp > 0 && keepBp <= 10000,
            s"--keep-bp must be in (0, 10000] basis points, got $keepBp")
          // stored-model lifecycle (the vocab/novelty/index pattern):
          // --weights probes a stored table (no refit, no --target
          // needed), --save-weights persists the fit for reuse; a
          // stored table's build metadata survives the parquet round
          // trip and guards the probe
          val w = opts.get("weights") match {
            case Some(wdir) => spark.read.parquet(wdir)
            case None => graft.operators.Dsir.bucketWeights(
              target(), pool, textCol, buckets)
          }
          opts.get("save-weights").foreach(d =>
            w.write.mode("overwrite").parquet(d))
          val scored = graft.operators.Dsir
            .score(pool, idCol, textCol, w).persist()
          try {
            // shift scores to positive integral weights for the exact
            // PPS sampler (a constant shift preserves the ordering; the
            // +1 keeps zero-weight rows possible-but-rare, not illegal)
            val minCb = scored.agg(min(col("dsir_cb"))).head().getLong(0)
            if (keepBp == 10000) scored.select(col("id")) // keep-all
            else graft.etl.Preprocess.weightedSample(
                scored.withColumn("__w", col("dsir_cb") - minCb + 1L),
                "id", "__w", keepBp)
              .select(col("id"))
          } finally { scored.unpersist(); () }
        case "classifier" =>
          val dim = opts.getOrElse("dim", "256").toInt
          val alpha = opts.getOrElse("alpha", "9.0").toDouble
          // class balance is the trainer's contract: downsample the
          // pool side to ~the target's size before fitting
          val t = target()
          val nTarget = t.count()
          val frac = math.min(1.0,
            nTarget.toDouble * 2 / math.max(1L, nPool))
          val model = graft.ml.QualityClassifier.train(
            t, graft.etl.Preprocess.bernoulliSample(pool, frac),
            textCol, dim = dim)
          val scored = graft.ml.QualityClassifier
            .score(pool, idCol, textCol, model)
          graft.ml.QualityClassifier.keepPareto(scored, idCol, alpha)
            .select(col(idCol).cast("long").as("id"))
        case other => throw new IllegalArgumentException(
          s"unknown --mode '$other' (dsir | classifier)")
      }
      val keptIds = kept.persist()
      try {
        val nKept = keptIds.count()
        def keptRows() = pool.join(keptIds,
          pool(idCol).cast("long") === keptIds("id"), "leftsemi")
        opts.get("out").foreach(o =>
          Etl.writeSingleCsv(keptRows().orderBy(col(idCol)), o))
        // --out-parquet: the pipeline-chaining sink (distributed write,
        // schema preserved) — the release path
        opts.get("out-parquet").foreach(o =>
          keptRows().write.mode("overwrite").parquet(o))
        s"""{"command":"select","mode":${jstr(mode)},""" +
          s""""n_pool":$nPool,"n_kept":$nKept""" +
          opts.get("out").map(o => s""","out":${jstr(o)}""").getOrElse("") +
          opts.get("out-parquet")
            .map(o => s""","out_parquet":${jstr(o)}""").getOrElse("") +
          "}"
      } finally { keptIds.unpersist(); () }

    case "pack" =>
      // Sequence packing (Pack.pack): concat-and-chunk the corpus into
      // fixed-length token sequences; spans land as parquet, the
      // report is the JSON line.
      val df = read(spark, req(opts, "in"))
      val idCol = opts.getOrElse("id", "doc_id")
      val textCol = opts.getOrElse("text", "text")
      require(Seq(idCol, textCol).forall(df.columns.contains),
        s"input needs columns '$idCol', '$textCol' (set --id/--text)")
      requireIntegralId(df, idCol)
      val seqLen = opts.getOrElse("seq-len", "2048").toLong
      val packPlan = graft.operators.Pack.plan(df, idCol, textCol,
        opts.getOrElse("salt", "pack")).persist()
      try {
        opts.get("out").foreach(o =>
          graft.operators.Pack.segments(packPlan, seqLen)
            .write.mode("overwrite").parquet(o))
        val r = graft.operators.Pack.report(packPlan, seqLen).head()
        s"""{"command":"pack","seq_len":$seqLen,""" +
          s""""n_seqs":${r.getLong(0)},"n_tokens":${r.getLong(1)},""" +
          s""""last_fill_bp":${r.getLong(2)}""" +
          opts.get("out").map(o => s""","out":${jstr(o)}}""").getOrElse("}")
      } finally { packPlan.unpersist(); () }

    case "colloc" =>
      // Collocation mining (Vocab.collocations): top-k adjacent pairs
      // by association lift — the multi-word-unit report run before
      // committing a tokenizer/vocab budget.
      val df = read(spark, req(opts, "in"))
      val textCol = opts.getOrElse("text", "text")
      require(df.columns.contains(textCol),
        s"input has no text column '$textCol' (set --text)")
      val top = graft.operators.Vocab.collocations(df, textCol,
        minCount = opts.getOrElse("min-count", "5").toLong,
        topK = opts.getOrElse("top", "20").toInt).persist()
      try {
        opts.get("out").foreach(o =>
          graft.etl.Etl.writeSingleCsv(top, o))
        val rows = top.collect().map(r =>
          s"""{"a":${jstr(r.getString(0))},"b":${jstr(r.getString(1))},""" +
            s""""c2":${r.getLong(2)},"lift_e4":${r.getLong(3)}}""")
        s"""{"command":"colloc","n":${rows.length},""" +
          s""""top":[${rows.mkString(",")}]""" +
          opts.get("out").map(o => s""","out":${jstr(o)}}""").getOrElse("}")
      } finally {
        top.unpersist()
        graft.core.Caching.releaseAll() // uni/bi tracked persists
        ()
      }

    case "buckets" =>
      // CCNet perplexity buckets (Curate.surprisalBuckets): per-source
      // head/middle/tail tercile labels by unigram surprisal; --out
      // gets the per-doc labels, the JSON line the per-bucket counts.
      val df = read(spark, req(opts, "in"))
      val idCol = opts.getOrElse("id", "doc_id")
      val textCol = opts.getOrElse("text", "text")
      val srcCol = opts.getOrElse("source", "source")
      require(Seq(idCol, textCol, srcCol).forall(df.columns.contains),
        s"input needs columns '$idCol', '$textCol', '$srcCol' " +
          "(set --id/--text/--source)")
      requireIntegralId(df, idCol)
      val labeled = graft.operators.Curate
        .surprisalBuckets(df, idCol, textCol, srcCol).persist()
      try {
        opts.get("out").foreach(o =>
          labeled.write.mode("overwrite").parquet(o))
        val counts = labeled.groupBy(col("bucket")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        s"""{"command":"buckets","head":${counts.getOrElse("head", 0L)},""" +
          s""""middle":${counts.getOrElse("middle", 0L)},""" +
          s""""tail":${counts.getOrElse("tail", 0L)}""" +
          opts.get("out").map(o => s""","out":${jstr(o)}}""").getOrElse("}")
      } finally {
        labeled.unpersist()
        graft.core.Caching.releaseAll()
        ()
      }

    case "lm" =>
      // Stored unigram-LM lifecycle (the vocab subcommand's twin):
      // --build persists the count table + exact total (writeLm);
      // without it, a batch probes the store and the JSON reports its
      // surprisal profile (mean cb over docs, O(batch) work).
      val lmDir = req(opts, "lm")
      if (opts.get("build").contains("true")) {
        val df = read(spark, req(opts, "in"))
        val textCol = opts.getOrElse("text", "text")
        require(df.columns.contains(textCol),
          s"input has no text column '$textCol' (set --text)")
        graft.operators.Vocab.writeLm(df, textCol, lmDir)
        val (_, total) = graft.operators.Vocab.readLm(spark, lmDir)
        s"""{"command":"lm","built":${jstr(lmDir)},""" +
          s""""total_tokens":$total}"""
      } else {
        val batch = read(spark, req(opts, "in"))
        val idCol = opts.getOrElse("id", "doc_id")
        val textCol = opts.getOrElse("text", "text")
        require(Seq(idCol, textCol).forall(batch.columns.contains),
          s"input needs columns '$idCol', '$textCol' (set --id/--text)")
        requireIntegralId(batch, idCol)
        val scored = graft.operators.Vocab
          .surprisalFromLm(batch, idCol, textCol, lmDir).persist()
        try {
          opts.get("out").foreach(o =>
            scored.write.mode("overwrite").parquet(o))
          val a = scored.agg(count(lit(1)).as("n"),
            coalesce(sum(col("surprisal_cb")), lit(0L)).as("s")).head()
          val n = a.getLong(0)
          val mean = if (n > 0) a.getLong(1) / n else 0L
          s"""{"command":"lm","probed":${jstr(lmDir)},"n_docs":$n,""" +
            s""""mean_surprisal_cb":$mean""" +
            opts.get("out").map(o => s""","out":${jstr(o)}}""")
              .getOrElse("}")
        } finally { scored.unpersist(); () }
      }

    case "rank" =>
      // BM25 retrieval scoring (Rank.bm25 / bm25FromIndex): score the
      // corpus — or probe a stored inverted index — against a probe
      // term set; --build-index persists the partition-pruned store.
      val idfMode = opts.getOrElse("idf", "ln")
      require(Seq("append-index", "build-index", "remove-index")
          .count(opts.contains) <= 1,
        "--append-index, --build-index and --remove-index are mutually " +
          "exclusive")
      if (opts.contains("remove-index")) {
        // retraction: the exact inverse of --append-index — pass the
        // removed docs WITH the text that was indexed (verified against
        // the stored doclen before anything mutates)
        val dir = opts("remove-index")
        val df = read(spark, req(opts, "in"))
        val idCol = opts.getOrElse("id", "doc_id")
        val textCol = opts.getOrElse("text", "text")
        require(Seq(idCol, textCol).forall(df.columns.contains),
          s"input needs columns '$idCol', '$textCol' (set --id/--text)")
        requireIntegralId(df, idCol)
        graft.operators.Rank.removeFromBm25Index(df, idCol, textCol, dir)
        val st = spark.read.parquet(s"$dir/stats").head()
        s"""{"command":"rank","removed_from":${jstr(dir)},""" +
          s""""n_docs":${st.getAs[Long]("n_docs")},""" +
          s""""total_tokens":${st.getAs[Long]("total")}}"""
      } else (opts.get("append-index"), opts.get("build-index")) match {
        case (Some(dir), _) =>
          val df = read(spark, req(opts, "in"))
          val idCol = opts.getOrElse("id", "doc_id")
          val textCol = opts.getOrElse("text", "text")
          require(Seq(idCol, textCol).forall(df.columns.contains),
            s"input needs columns '$idCol', '$textCol' (set --id/--text)")
          requireIntegralId(df, idCol)
          graft.operators.Rank.appendBm25Index(df, idCol, textCol, dir)
          val st = spark.read.parquet(s"$dir/stats").head()
          // layout health after the append — the ANN staleness-verdict
          // pattern applied to term routing (a hot term bucket serves
          // its queries at max/mean× the probe IO)
          val (nb, nonEmpty, mx, meanE2, verdict) =
            graft.operators.Rank.bm25BucketBalance(spark, dir)
          s"""{"command":"rank","appended":${jstr(dir)},""" +
            s""""n_docs":${st.getAs[Long]("n_docs")},""" +
            s""""total_tokens":${st.getAs[Long]("total")},""" +
            s""""n_buckets":$nb,"n_nonempty_buckets":$nonEmpty,""" +
            s""""max_bucket_postings":$mx,""" +
            s""""mean_bucket_postings_e2":$meanE2,""" +
            s""""bucket_balance":${jstr(verdict)}}"""
        case (None, Some(dir)) =>
          val df = read(spark, req(opts, "in"))
          val idCol = opts.getOrElse("id", "doc_id")
          val textCol = opts.getOrElse("text", "text")
          require(Seq(idCol, textCol).forall(df.columns.contains),
            s"input needs columns '$idCol', '$textCol' (set --id/--text)")
          requireIntegralId(df, idCol)
          val buckets = opts.getOrElse("buckets", "64").toInt
          graft.operators.Rank.buildBm25Index(df, idCol, textCol, dir,
            buckets)
          val st = spark.read.parquet(s"$dir/stats").head()
          s"""{"command":"rank","built":${jstr(dir)},""" +
            s""""n_docs":${st.getAs[Long]("n_docs")},""" +
            s""""total_tokens":${st.getAs[Long]("total")},""" +
            s""""n_buckets":$buckets}"""
        case (None, None) if opts.contains("queries") =>
          // batch serving: many probe queries in ONE plan from the
          // stored index — "qid:term,term;qid:term,..." (the
          // ann_ivf_batch shape for the lexical leg)
          val dir = req(opts, "index")
          val queries = req(opts, "queries").split(";").toSeq
            .map(_.trim).filter(_.nonEmpty).map { q =>
              val parts = q.split(":", 2)
              require(parts.length == 2,
                s"--queries entries are qid:term,term — got '$q'")
              parts(0).trim.toLong ->
                parts(1).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
            }
          val topK = opts.getOrElse("top", "10").toInt
          val ranked = graft.operators.Rank.bm25FromIndexBatch(spark,
            dir, queries, idfMode, topK).persist()
          try {
            opts.get("out").foreach(o =>
              ranked.write.mode("overwrite").parquet(o))
            val perQ = ranked.groupBy("qid").count().collect()
              .map(r => s""""${r.getLong(0)}":${r.getLong(1)}""")
            s"""{"command":"rank","idf":${jstr(idfMode)},""" +
              s""""n_queries":${queries.size},""" +
              s""""ranked_per_query":${perQ.mkString("{", ",", "}")}""" +
              opts.get("out").map(o => s""","out":${jstr(o)}}""")
                .getOrElse("}")
          } finally {
            ranked.unpersist()
            // bm25FromIndexBatch persistTracked-caches the probed
            // postings internally; release them like the sibling
            // command branches so a long-lived session doesn't
            // accumulate cached blocks
            graft.core.Caching.releaseAll()
          }
        case (None, None) =>
          val terms = req(opts, "terms").split(",").toSeq.map(_.trim)
            .filter(_.nonEmpty)
          val topK = opts.getOrElse("top", "10").toInt
          val ranked = (opts.get("index") match {
            case Some(dir) =>
              graft.operators.Rank.bm25FromIndex(spark, dir, terms,
                idfMode, topK)
            case None =>
              val df = read(spark, req(opts, "in"))
              val idCol = opts.getOrElse("id", "doc_id")
              val textCol = opts.getOrElse("text", "text")
              require(Seq(idCol, textCol).forall(df.columns.contains),
                s"input needs columns '$idCol', '$textCol' (set --id/--text)")
              requireIntegralId(df, idCol)
              graft.operators.Rank.bm25(df, idCol, textCol, terms,
                idfMode, topK)
          }).persist()
          try {
            opts.get("out").foreach(o =>
              ranked.write.mode("overwrite").parquet(o))
            val hits = ranked.collect()
            val top = hits.headOption.map(r =>
              s""","top_id":${r.getLong(0)},""" +
                s""""top_score_e4":${r.getLong(2)}""").getOrElse("")
            s"""{"command":"rank","idf":${jstr(idfMode)},""" +
              s""""n_terms":${terms.size},"n_ranked":${hits.length}""" +
              top +
              opts.get("out").map(o => s""","out":${jstr(o)}}""")
                .getOrElse("}")
          } finally { ranked.unpersist(); () }
      }

    case "release" =>
      // One-command dress rehearsal of the whole corpus pipeline:
      //   settle (quality → dedup cascade → optional token budget)
      //   → optional DSIR selection against a --target corpus
      //   → datacard over the released corpus (landed as JSON)
      //   → deterministic multi-epoch shard export.
      // Each stage IS the existing subcommand invoked through run() —
      // release composes, never re-implements, so the chain cannot
      // drift from the certified single-command forms. Every stage is
      // seeded/deterministic, so re-running with the same inputs
      // reproduces the same shards and datacard (MainSpec pins it).
      val in = req(opts, "in")
      val outDir = req(opts, "out")
      def fwd(keys: String*): Map[String, String] =
        keys.flatMap(k => opts.get(k).map(k -> _)).toMap
      // stage 1: settle → <out>/settle/{corpus,audit}
      val settleJson = run(spark, "settle", Map(
        "in" -> in, "out" -> s"$outDir/settle") ++
        fwd("id", "text", "source", "min-words", "n", "min-docs",
          "budget", "repetition", "para-split", "para-delim",
          "longmatch", "max-df"))
      val settledDir = s"$outDir/settle/corpus"
      // stage 2 (optional): target-shaped selection → <out>/selected
      val (corpusDir, selectJson) = opts.get("target") match {
        case Some(t) =>
          val sj = run(spark, "select", Map(
            "in" -> settledDir, "id" -> "id", "text" -> "clean_text",
            "target" -> t,
            "target-text" -> opts.getOrElse("target-text",
              opts.getOrElse("text", "text")),
            "out-parquet" -> s"$outDir/selected") ++
            fwd("mode", "keep-bp", "buckets", "dim", "alpha"))
          (s"$outDir/selected", Some(sj))
        case None => (settledDir, None)
      }
      // stage 3: datacard over what actually ships
      val cardJson = run(spark, "datacard", Map(
        "in" -> corpusDir, "id" -> "id", "text" -> "clean_text") ++
        fwd("neardup", "bin-bp", "max-df"))
      val cardPath = new org.apache.hadoop.fs.Path(outDir, "datacard.json")
      val fs = cardPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val os = fs.create(cardPath, true)
      try os.write((cardJson + "\n").getBytes("UTF-8"))
      finally os.close()
      // stage 4: shard export → <out>/shards
      val exportJson = run(spark, "export", Map(
        "in" -> corpusDir, "id" -> "id", "text" -> "clean_text",
        "out" -> s"$outDir/shards") ++
        fwd("shards", "epochs", "format", "compress", "seed", "balance"))
      s"""{"command":"release","out":${jstr(outDir)},""" +
        s""""settle":$settleJson,""" +
        selectJson.map(s => s""""select":$s,""").getOrElse("") +
        s""""datacard":$cardJson,"export":$exportJson}"""

    case "motif" =>
      // time-series motif search: when did the event stream look like
      // THIS shape? (Motif.topKWindows — integer window sums, floored
      // correlation scores.)
      val df = read(spark, req(opts, "in"))
      val timeCol = opts.getOrElse("time", "ts")
      require(df.columns.contains(timeCol),
        s"input has no time column '$timeCol' (set --time)")
      // --pattern inline, or --pattern-store <dir> to probe a stored
      // one (the motifIngest artifact); --save-pattern lands the
      // inline pattern for the streaming monitor to probe
      require(opts.contains("pattern") ^ opts.contains("pattern-store"),
        "pass exactly one of --pattern v0,v1,... / --pattern-store <dir>")
      val pattern = opts.get("pattern") match {
        case Some(p) => p.split(",")
          .map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
        case None => graft.operators.Motif.readPattern(spark,
          req(opts, "pattern-store"))
      }
      opts.get("save-pattern").foreach(d =>
        graft.operators.Motif.writePattern(spark, pattern, d))
      val hits = graft.operators.Motif.topKWindows(df, timeCol,
          bucketSec = opts.getOrElse("bucket-sec", "60").toInt,
          pattern = pattern,
          k = opts.getOrElse("k", "10").toInt)
        .collect()
      val rows = hits.map(r =>
        s"""{"window_start":${jstr(r.getTimestamp(0).toString)},""" +
          s""""score_e4":${r.getLong(1)},"n_events":${r.getLong(2)}}""")
      s"""{"command":"motif","pattern":[${pattern.mkString(",")}],""" +
        s""""windows":${rows.mkString("[", ",", "]")}}"""

    case "topics" =>
      // ST9 topic-admin ops surface: validate the spec and PRINT the
      // rendered kafka-topics.sh / kafka-configs.sh plan (one JSON line
      // with a "plan" array an ops script executes verbatim). No broker
      // and no kafka-clients jar exist in this sandbox, so execution is
      // print-only by DEFAULT — --execute shell|admin opts in (below).
      import graft.streaming.TopicAdmin
      val bootstrap = req(opts, "bootstrap")
      val mode = opts.getOrElse("mode", "create")
      val plan: Seq[Seq[String]] = mode match {
        case "create" =>
          val spec = TopicAdmin.TopicSpec(
            req(opts, "topic"),
            opts.getOrElse("partitions", "32").toInt,
            opts.getOrElse("replication", "3").toShort,
            opts.get("retention-ms")
              .map(ms => Map("retention.ms" -> ms)).getOrElse(Map.empty))
          Seq(TopicAdmin.createCommand(bootstrap, spec))
        case "delete" =>
          Seq(TopicAdmin.deleteCommand(bootstrap, req(opts, "topic")))
        case "describe" =>
          Seq(TopicAdmin.describeCommand(bootstrap, req(opts, "topic")))
        case "grow" =>
          Seq(TopicAdmin.addPartitionsCommand(bootstrap, req(opts, "topic"),
            req(opts, "current").toInt, req(opts, "target").toInt))
        case "retention" =>
          Seq(TopicAdmin.setRetentionCommand(bootstrap, req(opts, "topic"),
            req(opts, "retention-ms").toLong))
        case other =>
          throw new IllegalArgumentException(s"unknown topics mode '$other'")
      }
      // --execute shell|admin opts into actually applying the plan —
      // broker-bound, untestable here like S4/S5, but wired so a
      // deployment needs no hand-translation: "shell" runs the
      // rendered argv lines via ProcessBuilder (kafka CLI tools on
      // PATH), "admin" drives AdminClient (reflection-bound —
      // kafka-clients on the deployment classpath, loud classpath
      // error here). Default remains print-only.
      val executed = opts.get("execute").map {
        case "shell" =>
          TopicAdmin.executePlan(plan); "shell"
        case "admin" => mode match {
          case "create" =>
            TopicAdmin.executeCreateWithAdminClient(bootstrap, Seq(
              TopicAdmin.TopicSpec(
                req(opts, "topic"),
                opts.getOrElse("partitions", "32").toInt,
                opts.getOrElse("replication", "3").toShort,
                opts.get("retention-ms")
                  .map(ms => Map("retention.ms" -> ms))
                  .getOrElse(Map.empty))))
            "admin"
          case "delete" =>
            TopicAdmin.executeDeleteWithAdminClient(bootstrap,
              Seq(req(opts, "topic")))
            "admin"
          case m => throw new IllegalArgumentException(
            s"--execute admin supports create|delete (mode '$m' runs " +
              "through --execute shell or the printed plan)")
        }
        case other => throw new IllegalArgumentException(
          s"--execute must be shell|admin, got '$other'")
      }
      val planJson = plan.map(_.map(jstr).mkString("[", ",", "]"))
        .mkString("[", ",", "]")
      s"""{"command":"topics","mode":${jstr(mode)},"plan":$planJson""" +
        executed.map(e => s""","executed":${jstr(e)}}""").getOrElse("}")

    case other =>
      throw new IllegalArgumentException(s"unknown command '$other'")
  }

  /** The streamlit dashboard's aggregations (A10–A14) as one JSON
    * report line over the CURRENT state of `inPath`: per-class counts +
    * rate, score summary, and — when an event-time column exists —
    * tumbling-window counts per class. Re-reads the input on every
    * call, so a growing scored table (the replay/score sink) yields a
    * fresh snapshot per poll. */
  private def dashboardReport(spark: SparkSession, inPath: String,
                              opts: Map[String, String],
                              poll: Int = 0): String = {
    val df = read(spark, inPath)
    require(df.columns.contains("prediction") &&
      df.columns.contains("anomaly_score"),
      "dashboard input needs 'prediction' and 'anomaly_score' columns " +
        "(the score/replay output shape)")
    val cached = df.persist()
    try {
      val total = cached.count()
      val byClass = cached.groupBy(col("prediction")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val stats = cached.agg(
        round(avg(col("anomaly_score")), 6).as("mean"),
        round(max(col("anomaly_score")), 6).as("max"),
        round(min(col("anomaly_score")), 6).as("min")).head()
      val windows = if (cached.columns.contains("timestamp")) {
        val w = opts.getOrElse("window", "5 seconds")
        val top = cached
          .groupBy(window(to_timestamp(col("timestamp")), w).as("w"),
            col("prediction"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("w.start"), col("prediction"))
          .limit(20)
          .collect()
          .map(r => s"""{"start":"${r.getStruct(0).get(0)}",""" +
            s""""prediction":"${r.getString(1)}","n":${r.getLong(2)}}""")
        top.mkString("[", ",", "]")
      } else "[]"
      val anomalies = byClass.getOrElse("anomaly", 0L)
      val pollField = if (poll > 0) s""""poll":$poll,""" else ""
      s"""{"command":"dashboard",$pollField"rows":$total,""" +
        s""""normal":${byClass.getOrElse("normal", 0L)},""" +
        s""""anomaly":$anomalies,""" +
        s""""anomaly_rate":${if (total == 0) 0.0 else anomalies.toDouble / total},""" +
        s""""score_mean":${stats.get(0)},"score_max":${stats.get(1)},""" +
        s""""score_min":${stats.get(2)},"windows":$windows}"""
    } finally { cached.unpersist(); () }
  }

  /** Live-refresh mode (streamlit_dashboard.py:47-89's polling loop as
    * a CLI flag): `polls` snapshots of `inPath`, `intervalMs` apart.
    * Intermediate reports stream through `onPoll` as they are computed;
    * the FINAL report is the return value (so the CLI's single
    * result-line contract holds — `main` prints the return). Each poll
    * re-reads the input, so rows appended between polls show up in the
    * next snapshot. Package-private so tests can drive the loop with an
    * `onPoll` that mutates the input deterministically. */
  private[graft] def dashboardFollow(spark: SparkSession, inPath: String,
                                     opts: Map[String, String], polls: Int,
                                     intervalMs: Long,
                                     onPoll: String => Unit): String = {
    var i = 1
    while (i < polls) {
      onPoll(dashboardReport(spark, inPath, opts, poll = i))
      if (intervalMs > 0) Thread.sleep(intervalMs)
      i += 1
    }
    dashboardReport(spark, inPath, opts, poll = if (polls > 1) polls else 0)
  }
}
