package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Cli.opt
import graft.core.Caching.persistTracked
import graft.core.{Jsons, Land}
import graft.core.Jsons.obj
import graft.etl.{Etl, Preprocess}
import graft.score.{Autoencoder, Trainer}
import graft.streaming.StreamPipeline

/** User-invocable CLI over the engine's lifecycle — the Spark-native
  * counterpart of the reference's click command group (main.py:23-111,
  * makefile:54-97): one JVM entry with subcommands instead of a Python
  * process per script.
  *
  * `preprocess` runs the batch ETL chain (sanitize → dedup → sweep →
  * split → scale) and lands train/stream splits via the single-file CSV
  * sink. `replay` is the sandbox stand-in for the reference's
  * simulate+detect pair: it pushes fixture rows through a MemoryStream
  * into the full parse → score → dual-sink streaming query (no Kafka
  * broker exists here; the Kafka source/sink builders in StreamPipeline
  * carry the production options).
  *
  * Every command is one entry of [[commands]]: its options (name, type,
  * default or required, doc) and its prose doc. [[run]] checks a call
  * against that entry before any Spark work and runs the body inside
  * one [[graft.core.Caching.scopedRelease]] scope, so every frame the
  * command persists is released when it returns; the usage text is
  * rendered from the same table. Each command prints one JSON result
  * line, mirroring the reference's structured-log counters, rendered by
  * [[graft.core.Jsons.obj]]; counts that read only the frame a command
  * writes come from that write, through [[graft.core.Land]]. Inputs:
  * *.csv (header + inferSchema) or parquet.
  */
object Main {

  private val in = opt("in!", "input table: *.csv (header, inferred types) or parquet")
  private val id = opt("id=doc_id", "integral document id column")
  private val text = opt("text=text", "text column")
  private val source = opt("source=source", "source column")
  private val outCsv = opt("out", "optional per-row report, one CSV file")

  /** The keys `release` forwards to each stage, when given. */
  private val releaseStages = Seq(
    "settle" -> Seq("id", "text", "source", "min-words", "n", "min-docs",
      "budget", "repetition", "para-split", "para-delim", "longmatch",
      "max-df"),
    "select" -> Seq("mode", "keep-bp", "buckets", "dim", "alpha"),
    "datacard" -> Seq("neardup", "bin-bp", "max-df"),
    "export" -> Seq("shards", "epochs", "format", "compress", "seed",
      "balance"))

  /** The CLI's one option table: an entry per command. */
  private[graft] val commands: Seq[Cli.Cmd] = {
    import Cli.Cmd
    val stages = Seq(
    Cmd("preprocess", "batch ETL chain (sanitize -> dedup -> sweep -> " +
      "split -> scale); lands train.csv, stream.csv and scaler.json.", Seq(
      in, opt("out!", "output dir"),
      opt("label=Label", "label column"),
      opt("drop", "comma list of columns to drop"))),
    Cmd("train", "fit the autoencoder on every numeric column.", Seq(
      in, opt("out!", "model dir"),
      opt("epochs:int=10", "training epochs"),
      opt("lr:double=0.01", "learning rate"),
      opt("dims:ints", "layer widths, first and last = the feature count " +
        "(default n, n/2, n/4, n/2, n)"))),
    Cmd("score", "score rows with a saved model; lands the scored rows.",
      Seq(in, opt("model!", "model dir (train --out)"),
      opt("out!", "scored CSV file"),
      opt("threshold:double=1.0", "anomaly score cut"))),
    Cmd("replay", "push fixture rows through a MemoryStream into the " +
      "full parse -> score -> dual-sink streaming query.", Seq(
      in, opt("model", "model dir (default: seeded weights)"),
      opt("rows:int=1000", "rows replayed"),
      opt("chunk:int=500", "rows per micro-batch"),
      opt("threshold:double=1.0", "anomaly score cut"))),
    Cmd("dashboard", "per-class counts, score summary and tumbling-window " +
      "counts over a scored table; --follow re-reads it n times.", Seq(
      opt("in!", "scored table (score/replay output)"),
      opt("window=5 seconds", "tumbling window width"),
      opt("follow:int=1", "polls"),
      opt("interval-ms:long=1000", "pause between polls"))),
    Cmd("dedup", "keep one representative per duplicate group. exact: " +
      "identical text; minhash: jaccard >= threshold, connected " +
      "components; semantic: SemDeDup on the embedding column; substr " +
      "(cut n-token spans seen in >= min-docs docs), longmatch (cut " +
      "maximal duplicated runs >= min-len tokens, first carrier kept; " +
      "max-df caps by occurrence count), paragraph and chunk " +
      "(intra-doc repeated k-token chunks) land the cleaned corpus; " +
      "cascade: exact -> canonical -> substr with per-doc provenance; " +
      "sweep: exact-jaccard pair histogram (bin_bp, n_pairs, " +
      "n_pairs_ge) for threshold tuning.", Seq(
      in, opt("out!", "output CSV file"),
      opt("mode!", "exact|minhash|semantic|substr|longmatch|paragraph|" +
        "chunk|cascade|sweep"),
      id, text, opt("vec=embedding", "embedding column (semantic)"),
      opt("threshold:double=0.8", "jaccard cut (minhash); semantic: " +
        "cosine cut, default 0.85"),
      opt("target-cluster-size:int=1024", "semantic: docs per cluster"),
      opt("codebook=flat", "semantic: flat|two-level"),
      opt("coarse-cells:int=16", "semantic two-level: router cells"),
      opt("n:int=8", "substr/cascade: span tokens"),
      opt("min-docs:int=2", "substr/cascade: docs a span must reach"),
      opt("min-len:int=50", "longmatch: run tokens"),
      opt("max-df:int=1000", "longmatch/sweep: occurrence cap"),
      opt("para-split=\\n{2,}", "paragraph: split regex"),
      opt("para-delim=\n", "paragraph: join delimiter"),
      opt("chunk-tokens:int=4", "chunk: tokens per chunk"),
      opt("bin-bp:int=500", "sweep: bin width (basis points)"),
      opt("shingle-n:int=3", "sweep: shingle order"))),
    Cmd("index", "build the stored ANN / semantic-dedup index (cells + " +
      "by_id sidecar + quantizer). --compact <src> --out <dst>: rewrite " +
      "to one file per partition in a fresh dir. --index <dir> with " +
      "--remove-ids or --remove-in: delete vectors (only the partitions " +
      "carrying them rewrite; ids the store lacks are refused).", Seq(
      opt("in", "vectors table (build)"),
      opt("out", "index dir (build, compact)"),
      opt("id=vec_id", "integral vector id column"),
      opt("vec=embedding", "embedding column"),
      opt("target-cluster-size:int=1024", "vectors per cell"),
      opt("seed:long=42", "quantizer seed"),
      opt("codebook=flat", "flat|two-level|pq"),
      opt("coarse-cells:int=16", "two-level: router cells"),
      opt("quantize:bool=false", "int8 cells, ~4x smaller store"),
      opt("pq-m:int=8", "pq: byte codes per vector"),
      opt("pq-ksub:int=64", "pq: centroids per sub-space"),
      opt("compact", "source index dir to compact"),
      opt("index", "index dir to remove from"),
      opt("remove-ids:longs", "ids to remove"),
      opt("remove-in", "table of ids to remove (column --id)"))),
    Cmd("query", "cosine ANN probe of a stored index (flat, two-level or " +
      "pq: the store says which) by --id or --vec; --hybrid fuses the ANN " +
      "shortlist with the stored BM25 shortlist by reciprocal-rank " +
      "fusion.", Seq(
      opt("index!", "index dir"),
      opt("id:long", "query by stored vector id"),
      opt("vec:doubles", "query vector v0,v1,..."),
      opt("k:int=10", "neighbours"),
      opt("probe:int=4", "cells probed"),
      opt("probe-fine:int=8", "two-level: fine cells probed"),
      opt("refine:int=4", "pq: exact re-rank factor"),
      opt("hybrid:bool=false", "fuse with a BM25 shortlist"),
      opt("bm25-index", "hybrid: BM25 index dir"),
      opt("terms", "hybrid: comma list of query terms"),
      opt("idf=ln", "hybrid: ln|sqrt"))),
    Cmd("recall", "index health: probe-vs-brute-force recall@k for a " +
      "deterministic id sample (needs the by_id sidecar).", Seq(
      opt("index!", "index dir"),
      opt("k:int=10", "neighbours"),
      opt("sample:int=5", "ids probed, 1..64"),
      opt("probe:int=4", "cells probed"),
      opt("probe-fine:int=8", "two-level: fine cells probed"),
      opt("refine:int=4", "pq: exact re-rank factor"))),
    Cmd("screen", "which batch rows are near-dups of the settled corpus: " +
      "minhash (shingle jaccard), embedding (hyperplane-LSH cosine) or " +
      "longmatch (exact-substring spans >= min-len; --out gets batch_id, " +
      "span_start, span_len). The corpus side is a stored --index or is " +
      "built from --corpus (--save-index keeps it).", Seq(
      opt("in!", "batch table"), opt("out!", "flagged rows, one CSV file"),
      opt("kind=minhash", "minhash|embedding|longmatch"),
      opt("corpus", "settled corpus table"),
      opt("index", "stored signature / long-match index"),
      opt("save-index", "persist the index built from --corpus"),
      id, text, opt("vec=embedding", "embedding column"),
      opt("threshold:double=0.8", "jaccard cut (minhash); embedding: " +
        "cosine cut, default 0.9"),
      opt("min-len:int=50", "longmatch: run tokens"),
      opt("max-df:int=1000", "longmatch: occurrence cap"),
      opt("append-index:bool=false", "longmatch: fold this batch's " +
        "windows into --index after screening"))),
    Cmd("ingest", "the composed streaming ingest: quality gate -> near-dup " +
      "screen vs the stored signature index -> DSIR selection -> " +
      "exactly-once kept/funnel/stats sinks under --out, one funnel row " +
      "per micro-batch. Optional tiers: --lm-index cuts settled " +
      "substrings; --decon-index kills docs carrying more than " +
      "--decon-max-hits eval n-grams (--decon-mode redact cuts the spans " +
      "instead); --fuzzy-eval-sigs kills docs within minhash jaccard " +
      ">= thr-num/thr-den of an eval item. --compact folds the settled " +
      "signature appends (and the funnel) after the run; --compact-only " +
      "true --sig <dir> only folds.", Seq(
      opt("sig!", "stored signature index"),
      opt("in", "documents table"), opt("out", "output dir"),
      opt("weights", "stored DSIR weights"),
      opt("vocab", "stored vocabulary (drift tier)"),
      id, text,
      opt("chunk:int=500", "documents per micro-batch"),
      opt("stream-files:bool=false", "stream --in's parquet files, one " +
        "per batch (resumable from the checkpoint)"),
      opt("crash-after-batch:long", "recovery drill: halt after this " +
        "batch's sinks land, before its checkpoint commit"),
      opt("min-words:int=50", "quality gate: minimum words"),
      opt("repetition:bool=false", "add the Gopher repetition family"),
      opt("min-cb:long=0", "DSIR: minimum score (centibits)"),
      opt("lm-index", "long-match index (passage tier)"),
      opt("lm-min-len:int=50", "long-match: run tokens"),
      opt("lm-max-df:int=1000", "long-match: occurrence cap"),
      opt("decon-index", "stored eval-gram index"),
      opt("decon-n:int=8", "decon: n-gram order"),
      opt("decon-max-hits:long=0", "decon: hits a doc may carry"),
      opt("decon-key-mode=xxhash64", "decon: xxhash64|md5"),
      opt("decon-mode=kill", "decon: kill|redact"),
      opt("fuzzy-eval-sigs", "stored eval minhash signatures"),
      opt("fuzzy-thr-num:int=4", "fuzzy: jaccard numerator"),
      opt("fuzzy-thr-den:int=5", "fuzzy: jaccard denominator"),
      opt("fuzzy-max-bucket:int=1000", "fuzzy: LSH bucket cap"),
      opt("compact:bool=false", "fold settled appends after the run"),
      opt("compact-only:bool=false", "only fold <sig>_settled into <sig>"))),
    Cmd("retract", "the composed takedown: remove the docs from every store " +
      "passed. Every store's containment check runs read-only first, so a " +
      "store that would refuse fails the command before anything " +
      "mutates.", Seq(
      opt("in!", "retracted docs (id, and the indexed text for " +
        "bm25/lm/longmatch)"),
      id, text,
      opt("sig", "signature index (incl. its settled sidecar)"),
      opt("bm25", "BM25 index"), opt("ann", "vector index"),
      opt("lm", "stored LM counts"), opt("longmatch", "long-match index"),
      opt("kept", "kept-corpus store"))),
    Cmd("store", "store maintenance, one form per flag. --fsck: sweep a " +
      "tree for crash windows, --repair restores the invariant (run only " +
      "while no writer is live). --compact-bm25/--compact-kept: one file " +
      "per partition. --compact-funnel: fold all but the newest --keep " +
      "batches into <dir>_hist. --rebuild-stats / --rebuild-by-id: " +
      "re-derive a BM25 stats leg / IVF by_id sidecar. --verify: " +
      "read-only cross-leg content audit (recovery per invariant: README " +
      "\"Store verify\"); --verify-tree: every store under a root; " +
      "--health: fsck detect-only + verify-tree in one JSON.", Seq(
      opt("fsck", "store tree to sweep"),
      opt("repair:bool=false", "fsck: restore the invariants"),
      opt("compact-bm25", "BM25 index dir"),
      opt("compact-kept", "kept-corpus dir"),
      opt("compact-funnel", "funnel dir"),
      opt("keep:int=8", "compact-funnel: newest batches kept live"),
      opt("rebuild-stats", "BM25 index dir"),
      opt("rebuild-by-id", "IVF index dir"),
      opt("buckets:int", "rebuild: bucket count (default: the store's)"),
      opt("verify", "store dir"), opt("verify-tree", "lake root"),
      opt("health", "lake root"),
      opt("sig", "verify: signature index paired with a kept store"),
      opt("id=doc_id", "verify: document id column"),
      opt("sample-mod:long", "audit only the pmod(id, N) == R slice"),
      opt("sample-rem:long=0", "the slice's R"))),
    Cmd("rank", "BM25: score the corpus (--in) or serve a stored index " +
      "(--index) for --terms, or a probe batch (--queries \"qid:a,b;" +
      "qid:c\") in one plan. --build-index / --append-index / " +
      "--remove-index <dir> --in <docs> maintain the store (removal is " +
      "the exact inverse of append, checked against the stored doclen " +
      "first).", Seq(
      opt("in", "documents table"), opt("index", "stored index"),
      opt("terms", "comma list of query terms"),
      opt("queries", "probe batch qid:t1,t2;qid:t3"),
      opt("idf=ln", "ln|sqrt"), opt("top:int=10", "hits per query"),
      opt("out", "ranked rows, parquet"),
      opt("build-index", "index dir to build"),
      opt("append-index", "index dir to append to"),
      opt("remove-index", "index dir to remove from"),
      opt("buckets:int=64", "build: term buckets"), id, text)),
    Cmd("curate", "token-budgeted per-source curation: keep each source's " +
      "highest-quality docs until --budget tokens are spent.", Seq(
      in, opt("out!", "kept manifest, one CSV file"),
      opt("budget:long!", "tokens per source"), id, text, source)),
    Cmd("stats", "incremental corpus stats: with --in append one mergeable " +
      "snapshot row; without, the merged report (IO = O(#batches)).", Seq(
      opt("stats!", "stats dir"), opt("in", "batch table"), text)),
    Cmd("vocab", "--build true: persist the top-K vocabulary and its " +
      "baseline; else the batch's OOV drift verdict vs the stored " +
      "vocabulary.", Seq(
      opt("vocab!", "vocabulary dir"),
      opt("in!", "corpus (build) or batch table"),
      opt("build:bool=false", "build the vocabulary"),
      opt("top-k:int=1000", "build: vocabulary size"), text,
      opt("drift-factor:double=2.0", "drift: OOV rate multiple"),
      opt("margin-bp:long=500", "drift: OOV margin (basis points)"))),
    Cmd("layout", "table layout writers: partition (Hive dirs by --by), " +
      "range (sorted disjoint files on one --by), zorder (Morton layout " +
      "on two --by columns), compact (collapse small files).", Seq(
      in, opt("out!", "output dir"),
      opt("mode!", "partition|range|zorder|compact"),
      opt("by", "comma list of layout columns"),
      opt("files:int=16", "range/zorder: output files"),
      opt("target-bytes:long=134217728", "compact: bytes per file"))),
    Cmd("settle", "quality gate [-> repetition family] [-> paragraph " +
      "dedup] [-> long-match rewrite] -> dedup cascade -> optional " +
      "per-source budget; lands <out>/corpus and <out>/audit, one funnel " +
      "JSON.", Seq(
      in, opt("out!", "output dir"), id, text, source,
      opt("min-words:int=50", "quality gate: minimum words"),
      opt("repetition:bool=false", "add the Gopher repetition family"),
      opt("para-split", "paragraph dedup: split regex (enables the tier)"),
      opt("para-delim=\n", "paragraph dedup: join delimiter"),
      opt("longmatch:int", "long-match rewrite: run tokens (enables the " +
        "tier)"),
      opt("max-df:int=1000", "long-match: occurrence cap"),
      opt("n:int=8", "cascade: substring span tokens"),
      opt("min-docs:int=2", "cascade: docs a span must reach"),
      opt("budget:long", "tokens per source (enables curation)"))),
    Cmd("quality", "Gopher-rule filter with per-rule kill attribution; " +
      "--out lands docs passing the rules, the wordlist and (with " +
      "--repetition) the repetition family.", Seq(
      in, opt("out", "kept docs, one CSV file"), id, text,
      opt("min-words:int=50", "minimum words"),
      opt("max-words:int=100000", "maximum words"),
      opt("blocklist", "comma list of blocked words"),
      opt("max-hits:long=1", "blocklist: hits a doc may carry"),
      opt("repetition:bool=false", "add the Gopher repetition family"))),
    Cmd("diff", "added/removed/changed/unchanged between two snapshots.",
      Seq(opt("a!", "old snapshot"), opt("b!", "new snapshot"), outCsv,
      id, text)),
    Cmd("plan", "mixture weights x token budget -> per-source epoch plan.",
      Seq(in, opt("weights!", "src=bp,src=bp"),
      opt("budget:long!", "total tokens"),
      opt("max-epochs-bp:long=40000", "epoch cap (basis points)"),
      source, text)),
    Cmd("bpe", "learn BPE merges; lands <out>/merges and <out>/vocab.",
      Seq(in, opt("out", "output dir"), text,
      opt("merges:int=64", "merges learned"),
      opt("min-count:long=2", "minimum pair count"),
      opt("batch-top:int=1", "merges per round (> 1: batched trainer)"),
      opt("strict:bool=false", "batched: the sequential-equal bound"))),
    Cmd("encode", "apply stored BPE merges: per-doc word/subword counts.",
      Seq(opt("merges!", "merges dir (bpe <out>/merges)"), in, outCsv,
      id, text)),
    Cmd("decon", "eval-set leakage: per-doc n-gram hit counts, merged " +
      "leaked spans, token redaction, the Bloom tier, or fuzzy (minhash " +
      "jaccard; takes --shingle-n, not --n; --eval-sigs probes stored " +
      "eval signatures). --mode index: the stored eval-gram store, " +
      "partitioned by suite: --eval E --save-index D [--suite s] creates " +
      "it, --eval E --append-index D --suite s signs or replaces one " +
      "suite, --retire-suite s --index D drops one, --in T --index D " +
      "screens against all suites.", Seq(
      opt("in", "training table"), opt("eval", "benchmark table"),
      opt("mode=count", "count|spans|redact|bloom|fuzzy|index"),
      opt("n:int=8", "n-gram order"),
      opt("fpp:double=0.001", "bloom: false-positive rate"),
      opt("shingle-n:int=3", "fuzzy: shingle order"),
      opt("eval-sigs", "fuzzy: stored eval signatures"),
      outCsv, id, text,
      opt("save-index", "index: create the store"),
      opt("append-index", "index: sign one suite into the store"),
      opt("index", "index: the store to screen or retire from"),
      opt("suite=default", "index: suite name"),
      opt("retire-suite", "index: suite to drop"),
      opt("key-mode=xxhash64", "index: xxhash64|md5"))),
    Cmd("novelty", "per-doc gram novelty: --corpus X --save-index D builds " +
      "a corpus index, --in B --index D probes it, --in X alone is a " +
      "self-contained report.", Seq(
      opt("corpus", "settled corpus table"),
      opt("save-index", "index dir to build"),
      opt("in", "batch table"), opt("index", "stored index"),
      opt("n:int=3", "gram order"), outCsv, id, text)),
    Cmd("leakage", "canonical dup groups straddling the train/val split.",
      Seq(in, opt("train-bp:int=8000", "train share (basis points)"),
      outCsv, id, text)),
    Cmd("select", "target-shaped selection: DSIR importance weights " +
      "(--save-weights persists the fit, --weights scores against a " +
      "stored one) or the learned quality classifier + Pareto keep.", Seq(
      opt("in!", "pool table"), opt("target", "target corpus"),
      opt("weights", "dsir: stored weights (instead of --target)"),
      opt("mode=dsir", "dsir|classifier"),
      opt("out", "kept rows, one CSV file"),
      opt("out-parquet", "kept rows, parquet dir"), id, text,
      opt("target-text", "target's text column (default: --text)"),
      opt("buckets:int=4096", "dsir: hash buckets"),
      opt("keep-bp:int=2000", "dsir: kept share (basis points)"),
      opt("save-weights", "dsir: persist the fitted weights"),
      opt("dim:int=256", "classifier: feature dim"),
      opt("alpha:double=9.0", "classifier: Pareto shape"))),
    Cmd("datacard", "one-shot release report: size, source mix, quality " +
      "kills, exact-dup rate; --neardup adds the threshold sweep, " +
      "--longmatch the duplicated-run token share.", Seq(
      in, id, text, source,
      opt("min-words:int=50", "quality: minimum words"),
      opt("max-words:int=100000", "quality: maximum words"),
      opt("neardup:bool=false", "add the near-dup threshold sweep"),
      opt("bin-bp:int=1000", "neardup: bin width (basis points)"),
      opt("max-df:int=1000", "neardup/longmatch: occurrence cap"),
      opt("longmatch:int", "duplicated-run tokens (enables the share)"))),
    Cmd("export", "deterministic shuffled round-robin into shard=K dirs, " +
      "every shard a same-size random sample; --epochs N lands epoch=K " +
      "dirs, each in its own order.", Seq(
      in, opt("out!", "output dir"),
      opt("shards:int=8", "shards"),
      opt("seed=epoch-0", "shuffle seed (single epoch)"),
      opt("epochs:int=1", "epochs, 1..64"),
      opt("format=json", "json|parquet"),
      opt("compress", "writer compression codec"),
      opt("balance=rows", "rows|tokens"), id, text)),
    Cmd("pack", "concat-and-chunk sequence packing: deterministic md5 " +
      "order, per-(doc, sequence) spans, fill report.", Seq(
      in, opt("seq-len:long=2048", "tokens per sequence"),
      opt("salt=pack", "order salt"), opt("out", "spans, parquet dir"),
      id, text)),
    Cmd("colloc", "top-k adjacent word pairs by association lift.", Seq(
      in, text, opt("min-count:long=5", "minimum pair count"),
      opt("top:int=20", "pairs reported"), outCsv)),
    Cmd("buckets", "per-source head/middle/tail terciles by unigram " +
      "surprisal.", Seq(in, opt("out", "labelled docs, parquet dir"),
      id, text, source)),
    Cmd("lm", "stored unigram LM: --build true persists the counts; else " +
      "the batch's surprisal profile against the store.", Seq(
      opt("lm!", "LM store dir"), in,
      opt("build:bool=false", "build the store"),
      opt("out", "per-doc surprisal, parquet dir"), id, text)),
    Cmd("motif", "top-k activity windows best matching the pattern shape " +
      "by Pearson correlation; --save-pattern lands the stored form the " +
      "streaming motif monitor probes.", Seq(
      opt("in!", "events table"), opt("time=ts", "event time column"),
      opt("pattern:longs", "pattern v0,v1,..."),
      opt("pattern-store", "stored pattern (instead of --pattern)"),
      opt("save-pattern", "store the pattern here"),
      opt("bucket-sec:int=60", "bucket width (seconds)"),
      opt("k:int=10", "windows reported"))),
    Cmd("topics", "print the validated kafka-topics.sh / " +
      "kafka-configs.sh plan as JSON; --execute applies it (shell runs " +
      "the rendered lines, admin drives AdminClient; both need a " +
      "broker).", Seq(
      opt("bootstrap!", "host:port"),
      opt("mode=create", "create|delete|describe|grow|retention"),
      opt("topic", "topic name"),
      opt("partitions:int=32", "create: partitions"),
      opt("replication:int=3", "create: replication factor"),
      opt("retention-ms:long", "create/retention: retention.ms"),
      opt("current:int", "grow: current partitions"),
      opt("target:int", "grow: target partitions"),
      opt("execute", "shell|admin"))))
    def stage(c: String) = stages.find(_.name == c).get
    stages :+ Cmd("release", "one-command dress rehearsal: settle -> " +
      "optional DSIR select -> datacard.json -> shard export, " +
      "deterministic end to end; the stage options pass through.",
      Seq(in, opt("out!", "output dir"),
        opt("target", "select: target corpus (enables the stage)"),
        opt("target-text", "select: target's text column")) ++
      releaseStages.flatMap { case (c, keys) =>
        keys.map(stage(c).byName) }.distinctBy(_.name))
  }

  /** The help text, rendered from [[commands]]. */
  private[graft] lazy val usage: String = Cli.usage(commands)

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println(usage); sys.exit(2) }
    def checked[T](body: => T): T = Cli.orExit(
      commands.find(_.name == args.head).fold(usage)(Cli.usage))(body)
    // the option check runs before the session starts: a bad call
    // costs no Spark start-up and writes nothing
    val opts = checked {
      val o = parseOpts(args.tail)
      Cli.parse(commands, args.head, o)
      o
    }
    val spark = graft.core.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    try println(checked(run(spark, args.head, opts)))
    finally spark.stop()
  }

  /** `--key value` pairs → map; fails loudly on stray tokens and on a
    * key given twice. */
  private[graft] def parseOpts(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_.head.startsWith("--")),
      s"options must be --key value pairs, got: ${args.mkString(" ")}")
    val keys = args.grouped(2).map(_.head).toSeq
    keys.diff(keys.distinct).headOption.foreach(k =>
      throw new IllegalArgumentException(s"option $k given twice"))
    args.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap
  }

  /** The store audit's `--sample-mod N [--sample-rem R]` slice, checked
    * before any store is read. */
  private def sampleSlice(o: Cli.Opts): Option[(Long, Long)] = {
    val sample = o.get("sample-mod").map(m => (m.toLong, o.long("sample-rem")))
    graft.core.StoreVerify.requireSlice(sample)
    sample
  }

  /** Shared landing path of the text-REWRITING dedup modes (substr /
    * paragraph / chunk / longmatch): land ordered by id as one CSV,
    * tallying units removed + docs touched in the write. The operator
    * output contract is (id, clean_text, …, n_removed). */
  private def landCleanedCorpus(cleaned: DataFrame, idCol: String,
                                outFile: String, total: Long,
                                modeName: String, countKey: String,
                                extra: (String, Any)*): Jsons.Raw = {
    val t = Land(cleaned.withColumnRenamed("id", idCol),
      Land.Csv(outFile, col(idCol)))(countKey -> sum(col("n_removed")),
      "docsTouched" -> count_if(col("n_removed") > 0))
    obj(Seq("command" -> "dedup", "mode" -> modeName, "rows" -> total) ++
      t ++ Seq("out" -> outFile) ++ extra: _*)
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

  private def read(spark: SparkSession, path: String): DataFrame =
    if (path.endsWith(".csv"))
      graft.sources.CsvSource.readInferred(spark, Seq(path))
    else spark.read.parquet(path)

  /** Fail unless `df` has the columns the options `keys` name. The
    * `id` column, when named, must be integral: the dedup/similarity
    * tiers key on LONG ids (`cast("long")` internally), so a string id
    * like "doc-1" would cast to null and silently corrupt the kept-set.
    */
  private def needCols(df: DataFrame, o: Cli.Opts, keys: String*): Unit = {
    import org.apache.spark.sql.types._
    val names = keys.map(o.str)
    require(names.forall(df.columns.contains),
      s"input needs columns ${names.mkString("'", "', '", "'")} " +
        s"(set ${keys.map("--" + _).mkString("/")})")
    if (keys.contains("id")) {
      val t = df.schema(o.str("id")).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"id column '${o.str("id")}' must be an integral type (the " +
          s"dedup tiers key on long ids); got ${t.simpleString}")
    }
  }

  /** The per-store objects of a `verifyTree` sweep, listing the checks
    * `shown` keeps. */
  private def storesJson(
      stores: Seq[(String, String, Seq[graft.core.StoreVerify.Check])],
      shown: Seq[graft.core.StoreVerify.Check] =>
        Seq[graft.core.StoreVerify.Check]): Seq[Jsons.Raw] =
    stores.map { case (path, family, checks) =>
      obj("path" -> path, "family" -> family,
        "n_failed" -> checks.count(!_.ok),
        "checks" -> shown(checks).map(c => Jsons.Raw(c.json)))
    }

  /** The per-rule kill counts of a `QualityRules.killReport` row, as
    * result fields. */
  private def killFields(kills: org.apache.spark.sql.Row): Seq[(String, Any)] =
    Seq("n_docs", "n_killed", "kill_word_count", "kill_mean_word_len",
      "kill_symbol_ratio", "kill_alpha_words", "kill_stopwords",
      "kill_repetition").map(f => f -> kills.getAs[Long](f))

  /** A BM25 index's stored totals, as result fields. */
  private def bm25Stats(spark: SparkSession, dir: String): Seq[(String, Any)] = {
    val st = spark.read.parquet(s"$dir/stats").head()
    Seq("n_docs" -> st.getAs[Long]("n_docs"),
      "total_tokens" -> st.getAs[Long]("total"))
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

  /** Check `opts` against `cmd`'s entry, then run its body in one
    * cache scope; returns the one-line JSON result (printed by main).
    * Kept separate from `main` so tests can drive commands against a
    * shared session without the final `spark.stop()`. */
  private[graft] def run(spark: SparkSession, cmd: String,
                         opts: Map[String, String]): String = {
    val o = Cli.parse(commands, cmd, opts)
    graft.core.Caching.scopedRelease(dispatch(spark, o)).text
  }

  private def dispatch(spark: SparkSession, o: Cli.Opts): Jsons.Raw =
    o.cmd.name match {

    case "preprocess" =>
      val out = o.str("out")
      val p = Preprocess.run(read(spark, o.str("in")), o.str("label"),
        o.get("drop").map(_.split(",").toSeq).getOrElse(Seq.empty))
      Etl.writeSingleCsv(p.train, s"$out/train.csv")
      Etl.writeSingleCsv(p.stream, s"$out/stream.csv")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out, "scaler.json"),
        p.scaler.toJson.getBytes("UTF-8"))
      obj(("command" -> "preprocess") +: p.counts.toSeq.sortBy(_._1): _*)

    case "train" =>
      val (vec, nFeats) = vecFrame(read(spark, o.str("in")))
      val dims =
        if (o.has("dims")) o.list("dims").map(_.toInt)
        else {
          val h = math.max(2, nFeats / 2)
          val b = math.max(1, nFeats / 4)
          Seq(nFeats, h, b, h, nFeats)
        }
      require(dims.head == nFeats && dims.last == nFeats,
        s"--dims must start and end with the feature count $nFeats, got $dims")
      val (w, losses) = Trainer.train(vec, "vec", dims,
        epochs = o.int("epochs"), lr = o.double("lr"))
      val modelDir = o.str("out")
      Autoencoder.save(spark, w, modelDir)
      obj("command" -> "train", "dims" -> dims, "epochs" -> losses.length,
        "final_loss" -> losses.last, "model_dir" -> modelDir)

    case "score" =>
      val w = Autoencoder.load(spark, o.str("model"))
      val (vec, _) = vecFrame(read(spark, o.str("in")))
      val scored = Autoencoder.scoreVectors(vec, "row_id", "vec", w,
        threshold = o.double("threshold"))
      val outFile = o.str("out")
      val t = Land(scored, Land.Csv(outFile))("rows" -> count(lit(1)),
        "normal" -> count_if(col("prediction") === "normal"),
        "anomaly" -> count_if(col("prediction") === "anomaly"))
      obj(("command" -> "score") +: t.toSeq :+ ("out" -> outFile): _*)

    case "replay" =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val weights = o.get("model")
        .map(Autoencoder.load(spark, _))
        .getOrElse(Autoencoder.seededWeights(
          Seq.fill(5)(graft.streaming.FlowSchema.featureColumns.length)
            .updated(2, 2), seed = 1L))
      val rows = o.int("rows")
      val chunk = o.int("chunk")
      require(chunk >= 1, s"--chunk must be >= 1, got $chunk")
      // the replay producer's JSON envelope over the fixture rows.
      // Fed in chunks through a partition-at-a-time local iterator and
      // drained per chunk, so driver memory is O(chunk + one partition)
      // regardless of --rows — the whole fixture is never materialized
      // on the driver at once. The sinks keep counts, not rows.
      val jsonIt = StreamPipeline
        .toJsonValue(read(spark, o.str("in")).limit(rows))
        .as[String].toLocalIterator()
      val stream = MemoryStream[String]
      val normal = new StreamPipeline.CountingSink
      val anomaly = new StreamPipeline.CountingSink
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_replay_ckpt").toString
      val q = StreamPipeline.run(stream.toDF().toDF("value"), weights,
        threshold = o.double("threshold"), normal, anomaly, ckpt)
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
      obj("command" -> "replay", "sent" -> sent,
        "normal" -> normal.totalRows, "anomaly" -> anomaly.totalRows)

    case "dashboard" =>
      val polls = o.int("follow")
      require(polls >= 1, s"--follow must be >= 1, got $polls")
      Jsons.Raw(dashboardFollow(spark, o.str("in"), o.str("window"), polls,
        intervalMs = o.long("interval-ms"), onPoll = line => println(line)))

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
      val df = read(spark, o.str("in"))
      val idCol = o.str("id")
      val mode = o.str("mode")
      needCols(df, o, "id", if (mode == "semantic") "vec" else "text")
      val textCol = o.str("text")
      val outFile = o.str("out")
      val total = df.count()
      if (mode == "cascade") {
        // The tiered cascade with provenance: exact → canonical →
        // substring, each tier on the previous tier's survivors; --out
        // receives the per-doc audit (id, status, keep_id, n_removed).
        val t = Land(graft.operators.Dedup.cascade(df, idCol, textCol,
            n = o.int("n"), minDocs = o.int("min-docs"))
          .withColumnRenamed("id", idCol), Land.Csv(outFile, col(idCol)))(
          Seq("kept" -> "kept", "droppedExact" -> "dropped_exact",
            "droppedCanonical" -> "dropped_canonical",
            "cleanedSubstr" -> "cleaned_substr").map { case (k, status) =>
            k -> count_if(col("status") === status) }: _*)
        obj(Seq("command" -> "dedup", "mode" -> "cascade", "rows" -> total) ++
          t :+ ("out" -> outFile): _*)
      } else if (mode == "sweep") {
        // Threshold-sweep study: the exact-Jaccard pair histogram with
        // a top-down cumulative — run this BEFORE choosing a minhash /
        // cascade threshold; --out receives (bin_bp, n_pairs,
        // n_pairs_ge).
        val hist = persistTracked(graft.operators.Dedup.similarityHistogram(
            df, idCol, textCol, shingleN = o.int("shingle-n"),
            binBp = o.int("bin-bp"), maxDf = o.int("max-df"))
          .orderBy(col("bin_bp")))
        Etl.writeSingleCsv(hist, outFile)
        val rows = hist.collect()
        obj("command" -> "dedup", "mode" -> "sweep", "rows" -> total,
          "n_pairs" -> rows.map(_.getLong(1)).sum, "bins" -> rows,
          "out" -> outFile)
      } else if (mode == "substr") {
        // Repeated-passage removal: every doc survives, but n-token
        // spans seen in >= min-docs distinct docs are cut from ALL
        // carriers. Unlike the row-dropping tiers, --out receives the
        // cleaned corpus (id, clean_text, n_tokens, n_removed).
        landCleanedCorpus(graft.operators.Dedup.exactSubstrRemove(
            df, idCol, textCol, n = o.int("n"), minDocs = o.int("min-docs")),
          idCol, outFile, total, "substr", "tokensRemoved")
      } else if (mode == "longmatch") {
        // Suffix-array-class removal (Lee et al. 2022): every maximal
        // duplicated run of >= --min-len tokens is cut from all
        // carriers EXCEPT the corpus-wide first — content survives
        // exactly once. --out receives the cleaned corpus; the JSON
        // carries the viral-window cap report (a dropped window is a
        // recall trade to the substr/paragraph tiers, never silent).
        // Removal + cap report share ONE window-occurrence pass (the
        // decon-fuzzy sign-once lesson).
        val (cleaned, repDf) = graft.operators.Dedup.longMatchRemoveReport(
          df, idCol, textCol, o.int("min-len"), o.int("max-df"))
        // the (n_windows, n_dropped_windows, dropped_rows, max_df) row
        val capReport = repDf.head()
        landCleanedCorpus(cleaned, idCol, outFile, total, "longmatch",
          "tokensRemoved", "capReport" -> capReport)
      } else if (mode == "paragraph") {
        // CCNet paragraph-level dedup: each paragraph survives only in
        // its corpus-wide first carrier; --out receives the
        // reassembled corpus (id, clean_text, n_paras, n_removed).
        landCleanedCorpus(graft.operators.Dedup.paragraphDedup(
            df, idCol, textCol, splitRegex = o.str("para-split"),
            delim = o.str("para-delim")),
          idCol, outFile, total, "paragraph", "parasRemoved")
      } else if (mode == "chunk") {
        // RefinedWeb within-page line dedup: repeated k-token chunks
        // INSIDE one document collapse to their first occurrence;
        // --out receives the reassembled corpus (id, clean_text,
        // n_chunks, n_removed). Intra-doc only — cross-document
        // repetition is --mode paragraph's job.
        landCleanedCorpus(graft.operators.Dedup.removeRepeatedChunks(
            df, idCol, textCol, chunkTokens = o.int("chunk-tokens")),
          idCol, outFile, total, "chunk", "chunksRemoved")
      } else {
      val kept: DataFrame = mode match {
        case "exact" =>
          graft.operators.Dedup.exact(df, idCol, Seq(textCol))
            .select(col("keep_id").as(idCol))
        case "minhash" =>
          val pairs = graft.operators.Dedup.minhashNearDup(df, idCol,
            textCol, threshold = o.double("threshold"))
          val dropped = graft.operators.Dedup
            .connectedComponents(pairs, "id_a", "id_b")
            .filter(col("id") =!= col("root"))
            .select(col("id").as(idCol))
          df.select(col(idCol).cast("long").as(idCol))
            .join(dropped, Seq(idCol), "left_anti")
        case "semantic" =>
          val vecCol = o.str("vec")
          // the cosine tier's own default: the declared one is jaccard's
          val thr = if (o.has("threshold")) o.double("threshold") else 0.85
          val target = o.int("target-cluster-size")
          val sem = o.str("codebook") match {
            case "flat" =>
              graft.operators.Similarity.semDedupKMeans(
                df, idCol, vecCol, threshold = thr,
                targetClusterSize = target)
            case "two-level" =>
              graft.operators.Similarity.semDedupTwoLevel(
                df, idCol, vecCol, threshold = thr,
                targetClusterSize = target,
                coarseCells = o.int("coarse-cells"))
            case other => throw new IllegalArgumentException(
              s"unknown --codebook '$other' (flat | two-level)")
          }
          sem.filter(col("kept")).select(col("vec_id").as(idCol))
        case other => throw new IllegalArgumentException(
          s"unknown --mode '$other' " +
            "(exact | minhash | semantic | substr | longmatch | " +
            "paragraph | chunk | cascade | sweep)")
      }
      val nKept = Land(kept, Land.Csv(outFile, col(idCol)))(
        "kept" -> count(lit(1)))("kept")
      obj("command" -> "dedup", "mode" -> mode, "rows" -> total,
        "kept" -> nKept, "dropped" -> (total - nKept), "out" -> outFile)
      }

    case "index" if o.has("compact") =>
      // maintenance form: rewrite an append-fragmented store to one
      // file per partition (same rows, same layout, metadata intact);
      // always lands in a FRESH --out, never in place
      val srcDir = o.str("compact")
      val outDir = o.str("out")
      def dataFiles(dir: String) = graft.core.Stores.dataFiles(spark, dir)
      val before = dataFiles(s"$srcDir/cells") + dataFiles(s"$srcDir/by_id")
      graft.operators.Ivf.compactIndex(spark, srcDir, outDir)
      val after = dataFiles(s"$outDir/cells") + dataFiles(s"$outDir/by_id")
      obj("command" -> "index", "mode" -> "compact", "src" -> srcDir,
        "files_before" -> before, "files_after" -> after, "out" -> outDir)

    case "index" if o.has("remove-ids") || o.has("remove-in") =>
      // retraction: delete vectors from a stored index — only the
      // partitions carrying them rewrite (cells + by_id sidecar); the
      // strict presence check refuses ids the store does not carry
      val dir = o.str("index")
      val ids: DataFrame =
        if (o.has("remove-ids")) {
          import spark.implicits._
          o.list("remove-ids").map(_.toLong).toDF("id")
        } else {
          val df = read(spark, o.str("remove-in"))
          needCols(df, o, "id")
          df.select(col(o.str("id")).cast("long").as("id"))
        }
      val rep = graft.operators.Ivf.removeFromIndex(spark, dir, ids)
      obj("command" -> "index", "mode" -> "remove", "index" -> dir,
        "removed" -> rep.removed, "cells_touched" -> rep.cellsTouched,
        "idb_touched" -> rep.idbTouched)

    case "index" =>
      // build + persist the SHARED semantic-dedup / ANN artifact from
      // the CLI: one spherical quantizer fit + one cosine-argmax
      // assignment scan, landed as <out>/cells (parquet, partitioned by
      // cell — Ivf.writeIndex, so probes partition-prune) and
      // <out>/model (the MLlib quantizer, reloadable by `query`).
      val df = read(spark, o.str("in"))
      needCols(df, o, "id", "vec")
      val (idCol, vecCol) = (o.str("id"), o.str("vec"))
      val outDir = o.str("out")
      val target = o.int("target-cluster-size")
      val seed = o.long("seed")
      val quantize = o.bool("quantize")
      o.str("codebook") match {
        case "flat" =>
          val (model, assigned) = graft.operators.Similarity.semDedupIndex(
            df, idCol, vecCol, targetClusterSize = target, seed = seed)
          val rows = assigned.count()
          // --quantize true stores int8 cells (~4x smaller; probes
          // dequantize transparently via readIndex's layout detection)
          if (quantize)
            graft.operators.Ivf.writeIndexQuantized(assigned, s"$outDir/cells")
          else graft.operators.Ivf.writeIndex(assigned, s"$outDir/cells")
          // id-bucketed sidecar: `query --id` fetches its query vector
          // partition-pruned instead of scanning the cell-partitioned
          // store (whose partition key cannot serve a by-id lookup)
          graft.operators.Ivf.writeIdLookup(assigned, s"$outDir/by_id")
          model.write.overwrite().save(s"$outDir/model")
          obj("command" -> "index", "codebook" -> "flat", "rows" -> rows,
            "cells" -> model.getK, "quantized" -> quantize, "out" -> outDir)
        case "two-level" =>
          val idx = graft.operators.Similarity.semDedupIndexTwoLevelFull(
            df, idCol, vecCol, targetClusterSize = target,
            coarseCells = o.int("coarse-cells"), seed = seed)
          val rows = idx.assigned.count()
          val clusters = idx.fineCents.count()
          graft.operators.Ivf.writeIndexTwoLevel(idx, outDir,
            quantize = quantize)
          obj("command" -> "index", "codebook" -> "two-level", "rows" -> rows,
            "cells" -> idx.routerCents.length, "clusters" -> clusters,
            "quantized" -> quantize, "out" -> outDir)
        case "pq" =>
          // product-quantized cells: m one-byte codes + one norm per
          // vector (~dim·8/(m+8)× smaller than raw cells); probes ADC-
          // score the pruned cells and exact-refine from the sidecar
          val (model, assigned) = graft.operators.Similarity.semDedupIndex(
            df, idCol, vecCol, targetClusterSize = target, seed = seed)
          val rows = assigned.count()
          val pqM = o.int("pq-m")
          val pqKsub = o.int("pq-ksub")
          val pq = graft.operators.Pq.fit(df.select(col(vecCol)), vecCol,
            m = pqM, ksub = pqKsub, seed = seed)
          val router = model.clusterCenters.zipWithIndex
            .map { case (c, i) => (i.toLong, c.toArray) }
          graft.operators.Pq.writeIndexPq(assigned, pq, router, outDir)
          obj("command" -> "index", "codebook" -> "pq", "rows" -> rows,
            "cells" -> router.length, "m" -> pqM, "ksub" -> pqKsub,
            "out" -> outDir)
        case other => throw new IllegalArgumentException(
          s"unknown --codebook '$other' (flat | two-level | pq)")
      }

    case "query" =>
      // cosine ANN probe over a stored `index` artifact. The store is
      // self-describing: a flat index carries <dir>/model, a two-level
      // one <dir>/router — the probe routes accordingly, so the caller
      // never states the codebook shape twice. The query vector comes
      // either directly (--vec, the serving path: zero lookups) or
      // by id (--id, fetched partition-pruned from the by_id sidecar).
      val indexDir = o.str("index")
      require(o.has("id") ^ o.has("vec"),
        "pass exactly one of --id <vecId> / --vec v0,v1,...")
      val k = o.int("k")
      val hits = probeStored(spark, indexDir,
        o.get("vec").map(Cli.items(_).map(_.toDouble).toArray),
        o.get("id").map(_.toLong), k, o.int("probe"), o.int("probe-fine"),
        o.int("refine"))
      if (o.bool("hybrid")) {
        // hybrid serving: fuse the ANN shortlist with the stored-index
        // BM25 shortlist by reciprocal-rank fusion (Rank.rrfFuse — the
        // same engine path q125 certifies). Both legs are already
        // bounded top-k, so the fusion is O(2k) rows.
        val bmDir = o.str("bm25-index")
        val terms = o.list("terms")
        val idfMode = o.str("idf")
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
        obj("command" -> "query", "hybrid" -> true, "k" -> fused.length,
          "n_terms" -> terms.size, "hits" -> fused.map(r => obj(
            Seq("id", "rrf_e6", "n_legs", "best_rank")
              .map(c => c -> r.getAs[Long](c)): _*)))
      } else
        obj("command" -> "query", "k" -> hits.length, "hits" -> hits.map(r =>
          obj("id" -> r.getLong(0), "cos_sim" -> r.getDouble(1))))

    case "recall" =>
      // ops-grade index health check: recall@k of the stored index's
      // probe (at the GIVEN probe budget) against brute force over the
      // index's own by_id vector table, for a deterministic sample of
      // ids. A stale or mis-parameterized index shows up here as a
      // recall drop BEFORE it silently degrades a serving path.
      val indexDir = o.str("index")
      require(storeHas(spark, indexDir, "by_id"),
        s"$indexDir has no by_id sidecar (pre-sidecar store) — rewrite " +
          "it with `index` before measuring recall")
      val k = o.int("k")
      val nProbe = o.int("probe")
      val nProbeFine = o.int("probe-fine")
      val refine = o.int("refine")
      val sample = o.int("sample")
      require(sample > 0 && sample <= 64,
        s"--sample must be in [1, 64] (each id is one probe), got $sample")
      // persisted: the brute-force baseline scans this table twice per
      // sampled id (query-row fetch + candidate scan) — without the
      // pin that is 2·sample full re-reads. The per-id probe loop
      // itself is bounded by the --sample cap (an ops command, not a
      // serving path; the batch probes exist for serving).
      val vecs = persistTracked(spark.read.parquet(s"$indexDir/by_id")
        .select(col("id").cast("long").as("id"), col("vec")))
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
      val mean = if (rows.isEmpty) 0L
        else rows.map(_.getLong(3)).sum / rows.length
      obj("command" -> "recall", "k" -> k, "probe" -> nProbe,
        "sampled" -> qids.length, "mean_recall_bp" -> mean,
        "per_query" -> rows.map(r =>
          obj("qid" -> r.getLong(0), "recall_bp" -> r.getLong(3))))

    case "ingest" if o.bool("compact-only") =>
      // standalone settled-signature compaction: fold the per-batch
      // settled appends of previous ingest runs into the base store
      // (O(index) signature rewrite, never a re-shingle), then remove
      // the sidecar so subsequent screens stop double-reading it.
      val sig = o.str("sig")
      val (partsBefore, bytesBefore) =
        graft.streaming.StreamingIngest.settledStats(spark, sig)
      val (folded, nParts) =
        graft.streaming.StreamingIngest.compactSettled(spark, sig)
      obj("command" -> "ingest", "compact_only" -> true,
        "settled_parts_before" -> partsBefore,
        "settled_bytes_before" -> bytesBefore, "folded_rows" -> folded,
        "folded_parts" -> nParts, "sig" -> sig)

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
      val df = read(spark, o.str("in"))
      needCols(df, o, "id", "text")
      val (idCol, textCol) = (o.str("id"), o.str("text"))
      val outDir = o.str("out")
      val chunk = o.int("chunk")
      require(chunk >= 1, s"--chunk must be >= 1, got $chunk")
      // recovery drill: halt() the JVM after batch N's sinks landed
      // but BEFORE the checkpoint commit — the genuine at-least-once
      // crash window; re-running the same command resumes from the
      // checkpoint and REDELIVERS the batch over its own outputs
      // (exactly-once sinks make that a bit-identical replace)
      val crashAfter = o.get("crash-after-batch").map(_.toLong)
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
          o.str("sig"), o.str("weights"),
          s"$outDir/kept", s"$outDir/funnel", s"$outDir/stats",
          s"$outDir/ckpt", vocabPath = o.get("vocab"),
          minWords = o.int("min-words"), withRepetition = o.bool("repetition"),
          minCb = o.long("min-cb"), lmIndexPath = o.get("lm-index"),
          lmMinLen = o.int("lm-min-len"), lmMaxDf = o.int("lm-max-df"),
          deconIndexPath = o.get("decon-index"), deconN = o.int("decon-n"),
          deconMaxHits = o.long("decon-max-hits"),
          deconKeyMode = o.str("decon-key-mode"),
          deconMode = o.str("decon-mode"),
          fuzzyEvalSigsPath = o.get("fuzzy-eval-sigs"),
          fuzzyThrNum = o.int("fuzzy-thr-num"),
          fuzzyThrDen = o.int("fuzzy-thr-den"),
          fuzzyMaxBucket = o.int("fuzzy-max-bucket"), onBatchDone = onDone)
      var sent = 0L
      if (o.bool("stream-files")) {
        // REPLAYABLE source mode: stream the input dir's parquet files
        // (one file per micro-batch) — unlike the in-process replay
        // producer below, the file source's offsets live in the
        // checkpoint, so a crashed run RESUMES from a fresh JVM with
        // the interrupted batch redelivered (the cross-process restart
        // contract the recovery drill exercises)
        val inDir = o.str("in")
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
      val tiers = Seq("n_in", "n_rule_killed", "n_rep_killed",
        "n_decon_killed", "n_decon_tokens_cut", "n_fuzzy_killed",
        "n_dup_killed", "n_lm_tokens_cut", "n_sel_killed", "n_kept")
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
          Some(f.agg(count(lit(1)), tiers.map(s0): _*).head())
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
        .settledStats(spark, o.str("sig"))
      val compacted = o.bool("compact")
      val folded: Long =
        if (compacted)
          graft.streaming.StreamingIngest
            .compactSettled(spark, o.str("sig"))._1
        else 0L
      // --compact also folds the funnel's per-batch partitions into
      // its _hist sibling: the report side has the same small-files
      // growth as the settled sidecar, one row per batch forever
      val foldedFunnel: Long =
        if (compacted && sent > 0L)
          graft.streaming.StreamingIngest
            .compactFunnel(spark, s"$outDir/funnel")._1
        else 0L
      obj(Seq("command" -> "ingest", "sent" -> sent, "batches" -> g(0)) ++
        tiers.zipWithIndex.map { case (c, i) => c -> g(i + 1) } ++ Seq(
        "settled_sigs" ->
          graft.streaming.StreamingIngest.settledSigPath(o.str("sig")),
        "settled_parts" -> sParts, "settled_bytes" -> sBytes,
        "compacted" -> compacted, "folded_rows" -> folded,
        "folded_funnel_batches" -> foldedFunnel, "out" -> outDir): _*)

    case "store" if o.has("compact-bm25") =>
      // fold a churned BM25 postings layout back to one file per term
      // bucket — probes serve bit-identically, open() amplification
      // drops to O(probed buckets)
      val dir = o.str("compact-bm25")
      val (before, after, nb) =
        graft.operators.Rank.compactBm25Postings(spark, dir)
      obj("command" -> "store", "compact_bm25" -> dir,
        "files_before" -> before, "files_after" -> after, "buckets" -> nb)

    case "store" if o.has("compact-kept") =>
      // fold a churned kept-corpus store back to one file per batch
      // partition — reads serve bit-identically
      val dir = o.str("compact-kept")
      val (before, after, np) =
        graft.streaming.StreamingIngest.compactKept(spark, dir)
      obj("command" -> "store", "compact_kept" -> dir,
        "files_before" -> before, "files_after" -> after, "partitions" -> np)

    case "store" if o.has("compact-funnel") =>
      // fold old per-batch funnel partitions into the _hist sibling —
      // the report-side small-files pass; readFunnel (live wins per
      // batch_id) keeps every report exactly-once through the fold
      val dir = o.str("compact-funnel")
      val keep = o.int("keep")
      val (foldedB, histRows) =
        graft.streaming.StreamingIngest.compactFunnel(spark, dir, keep)
      obj("command" -> "store", "compact_funnel" -> dir,
        "folded_batches" -> foldedB, "hist_rows" -> histRows,
        "keep_last" -> keep)

    case "store" if o.has("rebuild-stats") =>
      // one-command recovery for a bm25_stats_doclen / fsck
      // bm25_stats_inconsistent finding: the stats leg is fully
      // derivable from doclen truth
      val dir = o.str("rebuild-stats")
      val (n, t) = graft.operators.Rank.rebuildBm25Stats(spark, dir,
        o.get("buckets").map(_.toLong))
      obj("command" -> "store", "rebuild_stats" -> dir, "n_docs" -> n,
        "total_tokens" -> t)

    case "store" if o.has("rebuild-by-id") =>
      // one-command recovery for an ivf_idb_routing / ivf_cells_by_id
      // finding: the sidecar is fully derivable from raw cells
      val dir = o.str("rebuild-by-id")
      val rows = graft.operators.Ivf.rebuildIdLookup(spark, dir,
        o.get("buckets").map(_.toInt))
      obj("command" -> "store", "rebuild_by_id" -> dir, "rows" -> rows)

    case "store" if o.has("health") =>
      // the morning command: structural sweep (fsck, detect-only) +
      // content audit (verify-tree) over one lake root, one JSON. Both
      // legs are read-only; anything red routes to `--fsck --repair`
      // or the README "Store verify" recovery table.
      val root = o.str("health")
      val sample = sampleSlice(o)
      val findings = graft.core.StoreFsck.fsck(spark, root, repair = false)
      val stores = graft.core.StoreVerify.verifyTree(spark, root,
        idCol = o.str("id"), sample = sample)
      val contentFailed = stores.map(_._3.count(!_.ok)).sum
      obj("command" -> "store", "health" -> root,
        "healthy" -> (findings.isEmpty && contentFailed == 0),
        "n_crash_windows" -> findings.length,
        "crash_windows" -> findings.map(f => Jsons.Raw(f.json)),
        "n_stores" -> stores.length, "n_content_failed" -> contentFailed,
        "stores" -> storesJson(stores, _.filterNot(_.ok)))

    case "store" if o.has("verify-tree") =>
      // whole-lake health sweep: detect every store under the root and
      // audit each (kept stores run without the sig pairing here — the
      // targeted --verify <kept> --sig <sig> owns the agreement checks)
      val root = o.str("verify-tree")
      val sample = sampleSlice(o)
      val stores = graft.core.StoreVerify.verifyTree(spark, root,
        idCol = o.str("id"), sample = sample)
      obj("command" -> "store", "verify_tree" -> root,
        "n_stores" -> stores.length,
        "n_failed" -> stores.map(_._3.count(!_.ok)).sum,
        "stores" -> storesJson(stores, identity))

    case "store" if o.has("verify") =>
      // content-level cross-leg invariant audit: fsck proves a store is
      // structurally sound; --verify proves its legs agree (BM25 stats
      // == doclen truth, postings multiset == stored th, IVF cells ==
      // by_id, kept == settled, eval-gram params == marker). Read-only;
      // each failed invariant names its recovery recipe in README
      // ("Store verify").
      val dir = o.str("verify")
      val sample = sampleSlice(o)
      val (family, checks) = graft.core.StoreVerify.verify(spark, dir,
        sigPath = o.get("sig"), idCol = o.str("id"),
        sample = sample)
      obj("command" -> "store", "verify" -> dir, "family" -> family,
        "sample_mod" -> sample.map(_._1), "sample_rem" -> sample.map(_._2),
        "n_checks" -> checks.length, "n_failed" -> checks.count(!_.ok),
        "checks" -> checks.map(c => Jsons.Raw(c.json)))

    case "store" =>
      // store lifecycle maintenance: fsck sweeps a tree for the crash
      // windows the Stores plumbing documents and (with --repair)
      // restores the invariant — the one-command recovery for a writer
      // that died mid-mutation. Run only while no writer is live (the
      // same one-writer contract every mutation carries); fsck itself
      // takes no lease because a stale lease is one of the things it
      // must be able to clear.
      val dir = o.str("fsck")
      val repair = o.bool("repair")
      val findings = graft.core.StoreFsck.fsck(spark, dir, repair)
      val repaired = findings.count(_.action != "report")
      val unresolved = findings.count(f => f.action == "report" &&
        Set("bm25_stats_inconsistent", "orphan_next",
          "staging_anomaly", "lease_writer_live")(f.kind))
      obj("command" -> "store", "fsck" -> dir, "repair" -> repair,
        "n_findings" -> findings.length, "n_repaired" -> repaired,
        "n_unresolved" -> unresolved,
        "findings" -> findings.map(f => Jsons.Raw(f.json)))

    case "retract" =>
      // THE composed takedown: remove a document set from every store
      // it touches, in one command — the retraction twin of `ingest`.
      // Input docs carry id + the text that was indexed (the text-
      // subtracting stores verify containment before mutating; the
      // id-only stores need just the id). Each store flag is optional;
      // pass the ones this corpus actually maintains.
      val df = read(spark, o.str("in"))
      needCols(df, o, "id")
      val (idCol, textCol) = (o.str("id"), o.str("text"))
      val stores = Seq("sig", "bm25", "ann", "lm", "longmatch", "kept")
        .filter(o.has)
      require(stores.nonEmpty,
        "retract: pass at least one store to retract from " +
          "(--sig | --bm25 | --ann | --lm | --longmatch | --kept)")
      val needText = Seq("bm25", "lm", "longmatch").filter(o.has)
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
      def perStore(store: String, validateOnly: Boolean): Any =
        store match {
          case "sig" =>
            val (rows, parts) = graft.operators.Dedup
              .removeFromSignatureIndex(spark, idsOnly, o.str("sig"),
                validateOnly = validateOnly)
            obj("base_rows" -> rows, "settled_parts" -> parts)
          case "bm25" =>
            graft.operators.Rank.removeFromBm25Index(df, idCol, textCol,
              o.str("bm25"), validateOnly = validateOnly)
            if (validateOnly) None
            else obj(bm25Stats(spark, o.str("bm25")): _*)
          case "ann" =>
            val rep = graft.operators.Ivf.removeFromIndex(spark,
              o.str("ann"), idsOnly, validateOnly = validateOnly)
            obj("removed" -> rep.removed, "cells_touched" -> rep.cellsTouched)
          case "lm" =>
            graft.operators.Vocab.removeFromLm(df, textCol, o.str("lm"),
              validateOnly = validateOnly)
            "removed"
          case "longmatch" =>
            graft.operators.Dedup.removeFromLongMatchIndex(df, idCol,
              textCol, o.str("longmatch"), validateOnly = validateOnly)
            "removed"
          case "kept" =>
            val (rows, parts) = graft.streaming.StreamingIngest
              .removeFromKept(spark, o.str("kept"), idsOnly, idCol,
                validateOnly = validateOnly)
            obj("rows" -> rows, "parts_touched" -> parts)
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
          st -> r
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
      obj("command" -> "retract", "n_ids" -> idsOnly.distinct().count(),
        "stores" -> obj(reports: _*))

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
      val batch = read(spark, o.str("in"))
      val kind = o.str("kind")
      val colKey = if (kind == "embedding") "vec" else "text"
      needCols(batch, o, "id", colKey)
      val (idCol, textCol, vecCol) = (o.str("id"), o.str("text"), o.str("vec"))
      val outFile = o.str("out")
      require(!o.has("index") || !o.has("corpus") && !o.has("save-index"),
        "--index conflicts with --corpus/--save-index: pass the " +
          "stored index OR build one from a corpus, not both (a " +
          "silently-ignored --corpus would leave a stale index in use)")
      def corpusFrame(): DataFrame = {
        val corpus = read(spark, o.str("corpus"))
        needCols(corpus, o, "id", colKey)
        corpus
      }
      // write once, screen from the written parquet — the unpersisted
      // logical frame would re-sign the whole corpus a second time
      // inside the screening job
      def viaStore(df: DataFrame, dir: String): DataFrame = {
        df.write.mode("overwrite").parquet(dir)
        spark.read.parquet(dir)
      }
      val flagged = kind match {
        case "minhash" =>
          val sig = o.get("index") match {
            case Some(dir) => spark.read.parquet(dir)
            case None =>
              val s = graft.operators.Dedup.minhashSignatures(
                corpusFrame(), idCol, textCol)
              o.get("save-index").map(viaStore(s, _)).getOrElse(s)
          }
          // --threshold reaches this tier as an exact fraction (the
          // jaccard verify is integer arithmetic); default 4/5 = 0.8
          val (tn, td) = rationalThreshold(o.str("threshold"))
          graft.operators.Dedup
            .incrementalNearDup(batch, idCol, textCol, sig,
              thrNum = tn, thrDen = td)
        case "embedding" =>
          import graft.functions.VectorFunctions.asDouble
          val (sig, vecs) = o.get("index") match {
            case Some(dir) =>
              (spark.read.parquet(s"$dir/sig"),
                spark.read.parquet(s"$dir/vecs"))
            case None =>
              val corpus = corpusFrame()
              val s = graft.operators.Similarity.embeddingSignatures(
                corpus, idCol, vecCol)
              val v = corpus.select(col(idCol).cast("long").as("id"),
                asDouble(col(vecCol)).as("vec"))
              o.get("save-index") match {
                case Some(dir) =>
                  (viaStore(s, s"$dir/sig"), viaStore(v, s"$dir/vecs"))
                case None => (s, v)
              }
          }
          // the cosine tier's own default: the declared one is jaccard's
          graft.operators.Similarity.incrementalEmbeddingNearDup(
            batch, idCol, vecCol, sig, vecs, threshold =
              if (o.has("threshold")) o.double("threshold") else 0.9)
        case "longmatch" =>
          // exact-substring screen: maximal runs of >= --min-len tokens
          // the SETTLED corpus already carries — the incremental form
          // of dedup --mode longmatch. Output rows are (batch_id,
          // span_start, span_len), not pairs: the settled side carried
          // every matched window first by definition.
          val minLen = o.int("min-len")
          val idx = o.get("index") match {
            case Some(dir) => spark.read.parquet(dir)
            case None =>
              val i = graft.operators.Dedup.longMatchIndex(
                corpusFrame(), idCol, textCol, minLen)
              o.get("save-index").map(viaStore(i, _)).getOrElse(i)
          }
          graft.operators.Dedup.incrementalLongMatchSpans(batch, idCol,
              textCol, idx, minLen, maxDf = o.int("max-df"))
            .select(col("id").as("batch_id"), col("span_start"),
              col("span_len"))
        case other => throw new IllegalArgumentException(
          s"unknown --kind '$other' (minhash | embedding | longmatch)")
      }
      val pairs = flagged.columns.contains("corpus_id")
      val t = Land(flagged, Land.Csv(outFile, col("batch_id"),
        col(if (pairs) "corpus_id" else "span_start")))(
        (if (pairs) "flagged_pairs" else "flagged_spans") -> count(lit(1)))
      // --append-index: fold this batch's windows into the STORED
      // index so the NEXT batch screens against corpus ∪ this batch
      // (the settle step of the screen-forever lifecycle). Runs AFTER
      // the flagged frame has landed — the append swaps the store
      // directory the screening plan reads from.
      val appendIdx = o.bool("append-index")
      if (appendIdx) {
        require(kind == "longmatch",
          "--append-index is a longmatch-tier option")
        require(o.has("index"),
          "--append-index needs --index (a stored long-match index " +
            "to fold into); build one first with --save-index")
        graft.operators.Dedup.appendLongMatchIndex(batch, idCol,
          textCol, o.str("index"))
      }
      obj(Seq("command" -> "screen", "kind" -> kind,
        "batch_rows" -> batch.count()) ++ t ++ Seq(
        "appended_index" -> (if (appendIdx) o.get("index") else None),
        "out" -> outFile): _*)

    case "curate" =>
      // token-budgeted per-source curation (Curate): keep each source's
      // highest-quality docs until --budget tokens are spent; lands the
      // kept (id, source, n_tokens, quality_bp) manifest as one CSV.
      val df = read(spark, o.str("in"))
      needCols(df, o, "id", "text", "source")
      val budget = o.long("budget")
      val outFile = o.str("out")
      val t = Land(graft.operators.Curate.tokenBudgetPerSource(df,
          o.str("id"), o.str("text"), o.str("source"), budget),
        Land.Csv(outFile, col("source"), col("id")))(
        "kept_docs" -> count(lit(1)), "kept_tokens" -> sum(col("n_tokens")))
      obj(Seq("command" -> "curate", "budget_per_source" -> budget) ++ t :+
        ("out" -> outFile): _*)

    case "stats" =>
      // incremental corpus stats (CorpusStats): each ingested batch
      // appends ONE mergeable accumulator row; the report aggregates
      // the slim stats table and never rescans corpus text — the
      // 100 TB-safe replacement for the reference dashboard's
      // full-table recompute (streamlit_dashboard.py:47-89).
      val statsDir = o.str("stats")
      o.get("in") match {
        case Some(inPath) =>
          val batch = read(spark, inPath)
          needCols(batch, o, "text")
          graft.operators.CorpusStats.appendSnapshot(batch, o.str("text"),
            statsDir)
          obj("command" -> "stats", "appended" -> 1,
            "batch_rows" -> batch.count(), "stats" -> statsDir)
        case None =>
          val snapshots = spark.read.parquet(statsDir)
          val nSnap = snapshots.count()
          val r = graft.operators.CorpusStats
            .report(graft.operators.CorpusStats.merge(snapshots)).head()
          obj(("command" -> "stats") +: ("snapshots" -> nSnap) +: Seq(
            "n_docs", "sum_tokens", "n_blank", "token_mean", "token_std",
            "median_tokens_lo", "median_tokens_hi", "approx_distinct_docs")
            .map(c => c -> r.getAs[Any](c)): _*)
      }

    case "vocab" =>
      // vocabulary lifecycle: --build persists the self-describing
      // top-K vocab store (Vocab.writeVocab: top_k + build-corpus
      // baseline OOV bp as field metadata); without --build, an
      // ingest batch gets its OOV drift verdict against the stored
      // baseline — the CLI twin of StreamingIngest.vocabDriftIngest.
      val vocabDir = o.str("vocab")
      val textCol = o.str("text")
      val batch = read(spark, o.str("in"))
      needCols(batch, o, "text")
      // a typed bool: '--build false' means the drift check (the CLI's
      // boolean convention, same as --quantize)
      if (o.bool("build")) {
        graft.operators.Vocab.writeVocab(batch, textCol, o.int("top-k"),
          vocabDir)
        val (_, k, baseline) =
          graft.operators.Vocab.readVocab(spark, vocabDir)
        obj("command" -> "vocab", "built" -> true, "top_k" -> k,
          "baseline_oov_bp" -> baseline, "vocab" -> vocabDir)
      } else {
        val (vocab, k, baseline) =
          graft.operators.Vocab.readVocab(spark, vocabDir)
        val d = graft.operators.Vocab.vocabDrift(batch, textCol, vocab,
          baseline, o.double("drift-factor"), o.long("margin-bp"))
        obj("command" -> "vocab", "top_k" -> k, "n_tokens" -> d.nTokens,
          "n_oov" -> d.nOov, "oov_bp" -> d.oovBp,
          "baseline_oov_bp" -> d.baselineBp, "drifted" -> d.drifted)
      }

    case "layout" =>
      // table-layout management: the settle-time writers that make
      // scans prunable at scale (route-by-value / scan-by-range /
      // multi-dim z-order) plus small-files compaction — the CLI face
      // of graft.sources.Layout.
      val outDir = o.str("out")
      val mode = o.str("mode")
      def by: Seq[String] = o.str("by").split(",").map(_.trim).toSeq
      val files = o.int("files")
      import graft.sources.Layout
      def landed(df: DataFrame, sink: Land.Sink, fields: (String, Any)*) =
        obj(Seq("command" -> "layout", "mode" -> mode,
          "rows" -> Land(df, sink)("rows" -> count(lit(1)))("rows")) ++
          fields :+ ("out" -> outDir): _*)
      mode match {
        case "partition" =>
          landed(read(spark, o.str("in")), Land.Parquet(outDir, by: _*),
            "by" -> by.mkString(","))
        case "range" =>
          require(by.size == 1, "--mode range takes exactly one --by column")
          landed(Layout.rangeSorted(read(spark, o.str("in")), by.head, files),
            Land.Parquet(outDir), "files" -> files)
        case "zorder" =>
          require(by.size == 2, "--mode zorder takes exactly two --by columns")
          landed(Layout.zOrdered(read(spark, o.str("in")), by(0), by(1),
            files), Land.Parquet(outDir), "files" -> files)
        case "compact" =>
          val n = Layout.compact(spark, o.str("in"), outDir,
            o.long("target-bytes"))
          obj("command" -> "layout", "mode" -> "compact", "filesWritten" -> n,
            "out" -> outDir)
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
      val df = read(spark, o.str("in"))
      needCols(df, o, "id", "text")
      val (idCol, textCol) = (o.str("id"), o.str("text"))
      val outDir = o.str("out")
      val nRaw = df.count()
      // tier 1: quality rules
      val rep = persistTracked(graft.operators.QualityRules
        .report(df, idCol, textCol, minWords = o.int("min-words")))
      val quality = df.join(
        rep.filter(col("pass")).select(col("id").as("__qid")),
        df(idCol).cast("long") === col("__qid"), "leftsemi")
      // tier 1.25 (optional, --repetition true): the FULL Gopher
      // repetition family stacked on the rule-passers (kernel path) —
      // the quality-CLI stacking order
      val repGateP =
        if (!o.bool("repetition")) None
        else Some(persistTracked(graft.operators.QualityRules
          .keepRepetition(quality, idCol, textCol)))
      val afterRep = repGateP.getOrElse(quality)
      // tier 1.5 (optional, --para-split REGEX): paragraph-level dedup
      // (CCNet order — shared boilerplate paragraphs collapse to their
      // first carrier BEFORE the document-level tiers see the text;
      // docs emptied of paragraphs drop out here)
      val paraP = o.get("para-split").map { rx =>
        persistTracked(graft.operators.Dedup.rewriteText(afterRep, idCol,
          textCol, graft.operators.Dedup.paragraphDedup(afterRep, idCol,
              textCol, splitRegex = rx, delim = o.str("para-delim"))
            // paragraph-emptied docs drop out here (inner rewrite join)
            .filter(col("clean_text") =!= "")))
      }
      val afterPara = paraP.getOrElse(afterRep)
      // tier 1.75 (optional, --longmatch MINLEN): suffix-array-class
      // maximal-run rewrite (Lee et al. 2022) — duplicated runs of
      // ≥ min-len tokens cut everywhere but their first carrier,
      // BEFORE the document-level cascade (a doc reduced to nothing
      // here still flows to the cascade as empty text and groups with
      // the empty docs — every input stays explained)
      val lmP = o.get("longmatch").map { ml =>
        persistTracked(graft.operators.Dedup.rewriteText(afterPara, idCol,
          textCol, graft.operators.Dedup.longMatchRemove(afterPara, idCol,
            textCol, minLen = ml.toInt, maxDf = o.int("max-df"))))
      }
      val deduped = lmP.getOrElse(afterPara)
      // tier 2: dedup cascade with provenance
      val (audit, corpus0) = graft.operators.Dedup.cascadeWithCorpus(
        deduped, idCol, textCol, n = o.int("n"), minDocs = o.int("min-docs"))
      val tiers = Land(audit, Land.Parquet(s"$outDir/audit"))(
        Seq("dropped_exact", "dropped_canonical", "cleaned_substr", "kept")
          .map(t => t -> count_if(col("status") === t)): _*)
      // re-attach passthrough columns (e.g. source) for curation
      val srcCol = o.str("source")
      val corpus =
        if (df.columns.contains(srcCol))
          corpus0.join(
            df.select(df(idCol).cast("long").as("id"),
              df(srcCol).as(srcCol)), Seq("id"))
        else corpus0
      // tier 3 (optional): per-source token budget
      val settled = o.get("budget") match {
        case Some(b) =>
          require(df.columns.contains(srcCol),
            s"--budget needs a source column '$srcCol' (set --source)")
          val kept = graft.operators.Curate.tokenBudgetPerSource(
            corpus, "id", "clean_text", srcCol, b.toLong)
          corpus.join(kept.select(col("id")), Seq("id"), "leftsemi")
        case None => corpus
      }
      val nSettled = Land(settled, Land.Parquet(s"$outDir/corpus"))(
        "settled" -> count(lit(1)))
      obj(Seq("command" -> "settle", "raw" -> nRaw,
        "quality" -> rep.filter(col("pass")).count(),
        "repetition" -> repGateP.map(_.count()),
        "para" -> paraP.map(_.count()),
        "longmatch" -> lmP.map(_.count())) ++ tiers ++ nSettled :+
        ("out" -> outDir): _*)

    case "diff" =>
      // Corpus snapshot diff: per-id verdicts between two settles, with
      // the one-line summary an ops dashboard graphs per re-crawl.
      val a = read(spark, o.str("a"))
      val b = read(spark, o.str("b"))
      Seq(a, b).foreach(needCols(_, o, "id"))
      val (idCol, textCol) = (o.str("id"), o.str("text"))
      // duplicate ids would fan the full-outer join out and inflate
      // every summary count — reject loudly (snapshotDiff contract)
      for ((df, name) <- Seq((a, "a"), (b, "b"))) {
        val dups = graft.core.Probe.totals(df.groupBy(col(idCol)).count()
          .filter(col("count") > 1)).head
        require(dups == 0L,
          s"snapshot --$name has $dups duplicated '$idCol' ids; " +
            "diff requires unique ids per snapshot")
      }
      val t = Land(graft.operators.Diff.snapshotDiff(a, b, idCol, textCol),
        Land.csvOr(o.get("out"), col("id")))(graft.operators.Diff.summary: _*)
      obj(("command" -> "diff") +: t.toSeq :+ ("out" -> o.get("out")): _*)

    case "plan" =>
      // Token-budget epoch planner: mixture weights × budget →
      // per-source repeat factors (Mix.epochPlan), one JSON line with
      // a per-source array — the data-recipe arithmetic before a run.
      val df = read(spark, o.str("in"))
      val sourceCol = o.str("source")
      val textCol = o.str("text")
      val weights = o.list("weights").map { kv =>
        val p = kv.split("=")
        require(p.length == 2, s"--weights wants src=bp pairs, got '$kv'")
        p(0) -> p(1).toInt
      }.toMap
      val budget = o.long("budget")
      val rows = graft.operators.Mix.epochPlan(df, sourceCol, textCol,
          weights, budget, o.long("max-epochs-bp"))
        .orderBy(col("source")).collect()
      // epochs/capped/deficit are deliberately NULL for a weighted
      // source with no corpus tokens (epochPlan surfaces the
      // misconfiguration) — they render as JSON null
      obj("command" -> "plan", "budget" -> budget, "sources" -> rows.map(r =>
        obj(Seq("source" -> 0, "n_tokens" -> 2, "target_tokens" -> 4,
          "epochs_bp" -> 5, "capped_bp" -> 6, "deficit_tokens" -> 8)
          .map { case (k, i) => k -> r.get(i) }: _*)))

    case "bpe" =>
      // Distributed BPE training: learn the merge table, land it (plus
      // the subword vocabulary) as parquet artifacts a tokenizer build
      // consumes.
      val df = read(spark, o.str("in"))
      val textCol = o.str("text")
      val nMerges = o.int("merges")
      val minCount = o.long("min-count")
      // --batch-top M > 1 trains with the batched rounds (greedy
      // symbol-disjoint top-M, the production path at real vocab
      // sizes — one aggregate per ROUND, not per merge); --strict
      // forces the provably-sequential-equal acceptance bound.
      // Default is the sequential trainer: the merge table is the
      // product artifact and its sequential order is the pinned,
      // engine-independent contract — batching is the explicit
      // opt-in scale lever.
      val batchTop = o.int("batch-top")
      val strict = o.bool("strict")
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
      val landed = o.get("out").filter(_ => merges.nonEmpty)
      landed.foreach { dir =>
        graft.operators.Bpe.writeMerges(spark, merges, s"$dir/merges")
        vocab.write.mode("overwrite").parquet(s"$dir/vocab")
      }
      obj("command" -> "bpe", "n_merges" -> merges.length,
        "n_symbols" -> nSymbols, "n_rounds" -> rounds, "out" -> landed)

    case "decon" if o.str("mode") == "index" =>
      // STORED eval-gram index lifecycle — the sign-once/screen-forever
      // form a per-batch ingest uses. The store is partitioned by
      // SUITE, so each benchmark signs/re-signs/retires independently:
      //   --eval E --save-index D [--suite s]    create + sign suite
      //   --eval E --append-index D --suite s    sign/REPLACE one suite
      //   --retire-suite s --index D             drop one suite
      //   --in T --index D                       screen docs (all suites)
      val idCol = o.str("id")
      val textCol = o.str("text")
      val n = o.int("n")
      val keyMode = o.str("key-mode")
      import graft.operators.Decontaminate
      def grams(dir: String): Seq[(String, Long)] = {
        // readOrEmpty: a store whose last suite was retired has no
        // partitions left; its _schema marker reads as zero rows
        val idx = graft.core.Stores.readOrEmpty(spark, dir)
        Seq("n_grams" -> idx.select(col("gk")).distinct().count(),
          "n_suites" -> idx.select(col("suite")).distinct().count())
      }
      def indexed(field: (String, String), dir: String) =
        obj(Seq("command" -> "decon", "mode" -> "index", field) ++
          grams(dir): _*)
      (o.get("save-index"), o.get("append-index"),
          o.get("index")) match {
        case (Some(dir), None, None) =>
          Decontaminate.writeEvalIndex(read(spark, o.str("eval")),
            textCol, dir, n, keyMode, o.str("suite"))
          indexed("index" -> dir, dir)
        case (None, Some(dir), None) =>
          Decontaminate.appendEvalIndex(read(spark, o.str("eval")),
            textCol, dir, o.str("suite"))
          indexed("appended" -> dir, dir)
        case (None, None, Some(dir)) if o.has("retire-suite") =>
          Decontaminate.retireEvalSuite(spark, dir,
            o.str("retire-suite"))
          indexed("retired" -> o.str("retire-suite"), dir)
        case (None, None, Some(dir)) =>
          val train = read(spark, o.str("in"))
          needCols(train, o, "id")
          val t = Land(Decontaminate.ngramHitsFromIndex(train, idCol,
              textCol, graft.core.Stores.readOrEmpty(spark, dir), n, keyMode),
            Land.csvOr(o.get("out"), col(idCol)))("rows" -> count(lit(1)),
            "total_n_hits" -> sum(col("n_hits")))
          obj(Seq("command" -> "decon", "mode" -> "index", "n" -> n) ++ t :+
            ("out" -> o.get("out")): _*)
        case _ => throw new IllegalArgumentException(
          "decon --mode index: pass exactly one of --save-index (with " +
            "--eval), --append-index (with --eval), or --index (with --in)")
      }

    case "decon" =>
      // decontamination family vs an eval/benchmark set: exact counts,
      // leaked-span coordinates, token redaction, or the Bloom tier.
      val train = read(spark, o.str("in"))
      // lazy: the fuzzy tier can run from STORED eval signatures
      // (--eval-sigs), in which case no eval table is read at all
      lazy val eval_ = read(spark, o.str("eval"))
      needCols(train, o, "id")
      val (idCol, textCol) = (o.str("id"), o.str("text"))
      val n = o.int("n")
      val mode = o.str("mode")
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
            o.double("fpp")),
            Seq(idCol), "n_hits_bloom")
        case "fuzzy" =>
          // near-duplicate tier: shingle-jaccard vs the eval set (the
          // paraphrase leakage verbatim-gram tiers miss). The shingle
          // order is its OWN flag (--shingle-n, default 3, matching
          // the dedup sweep convention) — it is NOT the exact tiers'
          // n-gram order, so reusing --n here would silently shift
          // semantics for a user passing --n 8 for consistency
          require(!o.has("n"),
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
          val sigs = persistTracked(o.get("eval-sigs") match {
            case Some(dir) => spark.read.parquet(dir)
            case None => graft.operators.Dedup.minhashSignatures(
              eval_, idCol, textCol, o.int("shingle-n"))
          })
          fuzzySigs = Some(sigs)
          (Decontaminate.fuzzyHitsFromSigs(train, idCol, textCol, sigs,
            shingleN = o.int("shingle-n")),
            Seq("train_id", "eval_id"), "inter")
        case other => throw new IllegalArgumentException(
          s"unknown --mode '$other' (count | spans | redact | bloom | " +
            "fuzzy)")
      }
      // cap observability: a skipped viral bucket is a recall trade,
      // so the fuzzy report carries the dropped-bucket counts per side
      // instead of leaving the cap silent
      val caps = fuzzySigs.map(sigs => Decontaminate.fuzzyCapReportFromSigs(
          train, idCol, textCol, sigs, shingleN = o.int("shingle-n"))
        .select("side", "n_buckets", "n_dropped_buckets", "dropped_rows",
          "max_bucket").collect())
      val t = Land(rep, Land.csvOr(o.get("out"), sortCols.map(col): _*))(
        "rows" -> count(lit(1)), s"total_$metric" -> sum(col(metric)))
      // the fuzzy tier's order is the shingle order, not --n
      val effN = if (mode == "fuzzy") o.int("shingle-n") else n
      obj(Seq("command" -> "decon", "mode" -> mode, "n" -> effN) ++ t ++
        Seq("caps" -> caps, "out" -> o.get("out")): _*)

    case "novelty" =>
      // Per-doc gram novelty. Three modes, the screen/vocab lifecycle:
      //   --corpus X --save-index D   build the settled corpus's index
      //   --in B --index D            probe a batch against the store
      //   --in X                      self-contained full-corpus report
      val idCol = o.str("id")
      val textCol = o.str("text")
      val n = o.int("n")
      (o.get("save-index"), o.get("index")) match {
        case (Some(dir), _) =>
          val corpus = read(spark, o.str("corpus"))
          needCols(corpus, o, "id")
          val t = Land(graft.operators.Novelty.gramIndex(corpus, idCol,
            textCol, n), Land.Parquet(dir))("n_grams" -> count(lit(1)))
          obj(Seq("command" -> "novelty", "index" -> dir) ++ t: _*)
        case (None, maybeIdx) =>
          val df = read(spark, o.str("in"))
          needCols(df, o, "id")
          val nov = maybeIdx match {
            case Some(idxDir) => graft.operators.Novelty.incrementalNovelty(
              df, idCol, textCol, spark.read.parquet(idxDir), n)
            case None =>
              graft.operators.Novelty.gramNovelty(df, idCol, textCol, n)
          }
          val t = Land(nov, Land.csvOr(o.get("out"), col("id")))(
            "n_docs" -> count(lit(1)),
            "n_fully_seen" -> count_if(col("novelty_bp") === 0),
            "grams" -> sum(col("n_grams")), "seen" -> sum(col("n_seen")))
          val (tg, ts) = (t("grams"), t("seen"))
          obj("command" -> "novelty", "n_docs" -> t("n_docs"),
            "n_fully_seen" -> t("n_fully_seen"), "corpus_novelty_bp" ->
              (if (tg == 0L) 10000L else (tg - ts) * 10000L / tg),
            "out" -> o.get("out"))
      }

    case "encode" =>
      // Apply a stored merge table to (possibly unseen) text: per-doc
      // word + subword counts — the serving half of the bpe command.
      val merges = graft.operators.Bpe
        .readMerges(spark, o.str("merges"))
      val df = read(spark, o.str("in"))
      needCols(df, o, "id")
      val textCol = o.str("text")
      val seg = graft.operators.Bpe.segmentCorpus(df, textCol, merges)
      val t = Land(graft.operators.Bpe.encodeCounts(df, o.str("id"),
          textCol, seg), Land.csvOr(o.get("out"), col("id")))(
        "n_docs" -> count(lit(1)), "n_subwords" -> sum(col("n_subwords")))
      obj(Seq("command" -> "encode", "n_merges" -> merges.length) ++ t :+
        ("out" -> o.get("out")): _*)

    case "leakage" =>
      // Split-leakage audit: canonical dup groups straddling the
      // deterministic train/val split; optional per-group CSV.
      val df = read(spark, o.str("in"))
      needCols(df, o, "id")
      val trainBp = o.int("train-bp")
      val t = Land(graft.etl.Preprocess.splitLeakage(df, o.str("id"),
          o.str("text"), trainBp),
        Land.csvOr(o.get("out"), col("train_id"), col("val_id")))(
        "leaked_groups" -> count(lit(1)),
        "leaked_docs" -> sum(col("n_train") + col("n_val")))
      obj(Seq("command" -> "leakage", "train_bp" -> trainBp) ++ t :+
        ("out" -> o.get("out")): _*)

    case "quality" =>
      // Gopher-style rule filter (QualityRules): land the kept docs and
      // report the per-rule kill attribution so a miscalibrated rule is
      // visible in the same JSON line that says what survived.
      val df = read(spark, o.str("in"))
      needCols(df, o, "id", "text")
      val (idCol, textCol) = (o.str("id"), o.str("text"))
      val minWords = o.int("min-words")
      val rep = persistTracked(graft.operators.QualityRules.report(df, idCol,
        textCol, minWords = minWords, maxWords = o.int("max-words")))
      val kills = graft.operators.QualityRules.killReport(rep).head()
      // optional wordlist tier on top of the rule bundle: a doc must
      // pass BOTH gates to land in --out
      // persisted: the count below AND the --out anti-join both read
      // it — without the pin the full tokenize-and-aggregate gate
      // would run twice (the same reason `rep` is persisted)
      val blockIds: Option[DataFrame] = o.get("blocklist").map { bl =>
        persistTracked(graft.operators.Curate.blocklistGate(df, idCol,
            textCol, Cli.items(bl), maxHits = o.long("max-hits"))
          .filter(!col("keep")).select(col("id").as("__blk_id")))
      }
      // optional full repetition-family tier (--repetition): the
      // Gopher duplicate line/para + n-gram coverage rules stacked
      // the same way as the wordlist gate (kill ids persisted: the
      // two counts and the --out anti-join all read them)
      val repKillIds: Option[DataFrame] =
        if (!o.bool("repetition")) None
        else Some(persistTracked(graft.operators.QualityRules
          .repetitionReport(df, idCol, textCol)
          .filter(!col("pass")).select(col("id").as("__rep_id"))))
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
      o.get("out").foreach { outFile =>
        val rulePass = df.join(
          rep.filter(col("pass")).select(col("id")),
          df(idCol).cast("long") === col("id"), "leftsemi")
        val afterBlock = blockIds.fold(rulePass)(b => rulePass.join(b,
          rulePass(idCol).cast("long") === b("__blk_id"), "left_anti"))
        val kept = repKillIds.fold(afterBlock)(r => afterBlock.join(r,
          afterBlock(idCol).cast("long") === r("__rep_id"), "left_anti"))
        Etl.writeSingleCsv(kept, outFile)
      }
      obj(Seq("command" -> "quality", "min_words" -> minWords) ++
        killFields(kills) ++ Seq("n_blocklisted" -> nBlocked,
        "n_blocklisted_rule_pass" -> nBlockedRulePass,
        "n_repetition_killed" -> nRepKilled,
        "n_repetition_killed_rule_pass" -> nRepKilledRulePass,
        "out" -> o.get("out")): _*)

    case "export" =>
      // Training-shard export: the pipeline's last mile. The corpus is
      // deterministically shuffled (seeded, partition-invariant), then
      // dealt round-robin over the global shuffled order into `shards`
      // JSONL shard directories — so every shard is a same-size random
      // sample of the corpus and a training run can stream shard files
      // in any order without a bias. One range-partitioned sort (the
      // epoch-shuffle plan), one write; re-running with the same seed
      // reproduces the assignment bit-for-bit.
      val df = read(spark, o.str("in"))
      needCols(df, o, "id")
      val idCol = o.str("id")
      val out = o.str("out")
      // the shuffle/deal pipeline appends these working columns;
      // replacing a user column of the same name would silently export
      // internal state under the user's name (and a re-export of a
      // previous export's output would collide on "shard")
      Seq("shuffle_key", "pos", "shard", "epoch", "__bal").foreach(c =>
        require(!df.columns.contains(c),
          s"input already has a '$c' column, which export reserves — " +
            "rename or drop it first"))
      val shards = o.int("shards")
      require(shards > 0, s"--shards must be positive, got $shards")
      val fmt = o.str("format")
      require(Seq("json", "parquet").contains(fmt),
        s"--format must be json|parquet, got $fmt")
      val epochs = o.int("epochs")
      require(epochs >= 1 && epochs <= 64,
        s"--epochs must be in [1, 64], got $epochs")
      require(epochs == 1 || !o.has("seed"),
        "--epochs derives one seed per epoch (epoch-0, epoch-1, …); " +
          "it conflicts with an explicit --seed")
      val textCol = o.str("text")
      // one epoch = one independent seeded deal; multi-epoch training
      // wants a DIFFERENT data order per epoch, so each epoch gets its
      // own seed and lands under <out>/epoch=K
      val balance = o.str("balance")
      require(Seq("rows", "tokens").contains(balance),
        s"--balance must be rows|tokens, got $balance")
      if (balance == "tokens")
        require(df.columns.contains(textCol),
          s"--balance tokens needs a text column '$textCol' (set --text)")
      def exportOne(seed: String, dest: String): Seq[Jsons.Raw] = {
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
        val shuffled = persistTracked(ordered
          .withColumn("shard", pmod(col("pos") - 1, lit(shards.toLong))))
        val payload = df.columns.map(col) :+ col("shard")
        val writer = shuffled
          .repartition(shards, col("shard"))
          .sortWithinPartitions(col("shard"), col("pos"))
          .select(payload: _*)
          .write.partitionBy("shard").mode("overwrite")
        o.get("compress").fold(writer)(c =>
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
            obj("shard" -> r.getLong(0), "n_docs" -> r.getLong(1),
              "n_tokens" -> (if (r.isNullAt(2)) 0L else r.getLong(2)),
              "checksum" -> r.getLong(3))
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
      }
      if (epochs == 1) {
        val seed = o.str("seed")
        obj("command" -> "export", "shards" -> shards, "seed" -> seed,
          "format" -> fmt, "per_shard" -> exportOne(seed, out), "out" -> out)
      } else {
        // clear the out root first: each epoch only overwrites its own
        // epoch=K subdir, so stale epoch dirs from a previous wider
        // export would survive and a reader would silently stream
        // extra epochs — match single-epoch overwrite semantics
        val outP = new org.apache.hadoop.fs.Path(out)
        val outFs = outP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (outFs.exists(outP)) { outFs.delete(outP, true); () }
        val per = (0 until epochs).map(e => obj("epoch" -> e,
          "per_shard" -> exportOne(s"epoch-$e", s"$out/epoch=$e")))
        obj("command" -> "export", "shards" -> shards, "epochs" -> epochs,
          "format" -> fmt, "per_epoch" -> per, "out" -> out)
      }

    case "datacard" =>
      // One-shot corpus report card: the summary a dataset release
      // ships with (Gebru et al., "Datasheets for Datasets" — public
      // practice). Composes the oracle-backed operators into one JSON:
      // size/token totals, per-source mix, quality-rule kill
      // attribution, exact-dup rate, and (opt-in, it pays a pair join)
      // the near-dup threshold sweep. Each section is ONE corpus scan.
      val df = read(spark, o.str("in"))
      needCols(df, o, "id", "text")
      val (idCol, textCol) = (o.str("id"), o.str("text"))
      val sourceCol = o.str("source")
      val nt = graft.functions.TextFunctions.tokenCount(col(textCol))
      val overall = df.agg(count(lit(1)).as("n"), sum(nt).as("tok"),
        sum(length(col(textCol))).as("chars")).head()
      val (nDocs, nTokens, nChars) = (overall.getLong(0),
        if (overall.isNullAt(1)) 0L else overall.getLong(1),
        if (overall.isNullAt(2)) 0L else overall.getLong(2))
      val bySource: Seq[Jsons.Raw] =
        if (df.columns.contains(sourceCol))
          df.groupBy(col(sourceCol).cast("string").as("s"))
            .agg(count(lit(1)).as("n"), sum(nt).as("tok"))
            .orderBy(col("s")).collect().toSeq.map { r =>
              val tok = if (r.isNullAt(2)) 0L else r.getLong(2)
              obj("source" -> r.getString(0), "n_docs" -> r.getLong(1),
                "n_tokens" -> tok,
                "share_bp" -> (if (nTokens > 0) tok * 10000 / nTokens else 0L))
            }
        else Seq.empty
      val rep = graft.operators.QualityRules.report(df, idCol, textCol,
        minWords = o.int("min-words"), maxWords = o.int("max-words"))
      val kills = graft.operators.QualityRules.killReport(rep).head()
      val dups = graft.operators.Dedup.exact(df, idCol, Seq(textCol))
      val dupAgg = dups.agg(count(lit(1)).as("groups"),
        sum(col("n_dups") - 1).as("extra")).head()
      val (dupGroups, dupExtra) = (dupAgg.getLong(0),
        if (dupAgg.isNullAt(1)) 0L else dupAgg.getLong(1))
      val dupRateBp = if (nDocs > 0) dupExtra * 10000 / nDocs else 0L
      val neardupBins = Option.when(o.bool("neardup"))(
        graft.operators.Dedup.similarityHistogram(df, idCol, textCol,
            binBp = o.int("bin-bp"), maxDf = o.int("max-df"))
          .orderBy(col("bin_bp")).collect())
      // opt-in (it pays a window-occurrence pass): what fraction of
      // corpus tokens sit inside duplicated runs of >= --longmatch
      // tokens (first carrier exempt) — the Lee et al. duplication
      // metric a release datasheet reports
      val longmatch = o.get("longmatch").map { ml =>
        val (cleaned, repDf) = graft.operators.Dedup.longMatchRemoveReport(
          df, idCol, textCol, ml.toInt, maxDf = o.int("max-df"))
        val agg = cleaned.agg(
          coalesce(sum(col("n_removed")), lit(0L)).as("cut"),
          count(when(col("n_removed") > 0, 1)).as("touched")).head()
        val rep = repDf.head()
        val cut = agg.getLong(0)
        obj("min_len" -> ml.toInt, "dup_tokens" -> cut, "dup_token_bp" ->
          (if (nTokens > 0) cut * 10000 / nTokens else 0L),
          "docs_touched" -> agg.getLong(1),
          "n_dropped_windows" -> rep.getAs[Long]("n_dropped_windows"))
      }
      obj("command" -> "datacard", "n_docs" -> nDocs, "n_tokens" -> nTokens,
        "n_chars" -> nChars, "sources" -> bySource,
        "quality" -> obj(killFields(kills): _*),
        "exact_dup" -> obj("groups" -> dupGroups, "extra_copies" -> dupExtra,
          "dup_rate_bp" -> dupRateBp),
        "neardup_bins" -> neardupBins, "longmatch" -> longmatch)

    case "select" =>
      // Target-shaped data selection: score the pool against a target
      // corpus and keep a target-shaped subset — DSIR importance
      // weights (model-free, exact-bits) or the learned quality
      // classifier with the Pareto keep rule.
      val pool = read(spark, o.str("in"))
      needCols(pool, o, "id", "text")
      val (idCol, textCol) = (o.str("id"), o.str("text"))
      def target(): DataFrame = {
        // --target-text: the target corpus may name its text column
        // differently from the pool (e.g. a settled pool's clean_text
        // vs a raw target's text) — project it onto the pool's name
        val tCol = o.get("target-text").getOrElse(textCol)
        val t = read(spark, o.str("target"))
        require(t.columns.contains(tCol),
          s"target corpus needs column '$tCol' (set --target-text)")
        t.select(col(tCol).as(textCol))
      }
      val nPool = pool.count()
      require(nPool > 0,
        "selection pool is empty — check --in (a mistyped path or glob " +
          "reads zero rows)")
      val mode = o.str("mode")
      val kept = mode match {
        case "dsir" =>
          val buckets = o.int("buckets")
          val keepBp = o.int("keep-bp")
          require(keepBp > 0 && keepBp <= 10000,
            s"--keep-bp must be in (0, 10000] basis points, got $keepBp")
          // stored-model lifecycle (the vocab/novelty/index pattern):
          // --weights probes a stored table (no refit, no --target
          // needed), --save-weights persists the fit for reuse; a
          // stored table's build metadata survives the parquet round
          // trip and guards the probe
          val w = o.get("weights") match {
            case Some(wdir) => spark.read.parquet(wdir)
            case None => graft.operators.Dsir.bucketWeights(
              target(), pool, textCol, buckets)
          }
          o.get("save-weights").foreach(d =>
            w.write.mode("overwrite").parquet(d))
          val scored = persistTracked(
            graft.operators.Dsir.score(pool, idCol, textCol, w))
          // shift scores to positive integral weights for the exact
          // PPS sampler (a constant shift preserves the ordering; the
          // +1 keeps zero-weight rows possible-but-rare, not illegal)
          val minCb = scored.agg(min(col("dsir_cb"))).head().getLong(0)
          if (keepBp == 10000) scored.select(col("id")) // keep-all
          else graft.etl.Preprocess.weightedSample(
              scored.withColumn("__w", col("dsir_cb") - minCb + 1L),
              "id", "__w", keepBp)
            .select(col("id"))
        case "classifier" =>
          // class balance is the trainer's contract: downsample the
          // pool side to ~the target's size before fitting
          val t = target()
          val nTarget = t.count()
          val frac = math.min(1.0,
            nTarget.toDouble * 2 / math.max(1L, nPool))
          val model = graft.ml.QualityClassifier.train(
            t, graft.etl.Preprocess.bernoulliSample(pool, frac),
            textCol, dim = o.int("dim"))
          val scored = graft.ml.QualityClassifier
            .score(pool, idCol, textCol, model)
          graft.ml.QualityClassifier.keepPareto(scored, idCol, o.double("alpha"))
            .select(col(idCol).cast("long").as("id"))
        case other => throw new IllegalArgumentException(
          s"unknown --mode '$other' (dsir | classifier)")
      }
      val keptRows = pool.join(kept,
        pool(idCol).cast("long") === kept("id"), "leftsemi")
      // --out-parquet: the pipeline-chaining sink (distributed write,
      // schema preserved) — the release path. Given both sinks, the
      // parquet copy is a second write of the same (deterministic) rows.
      val nKept = Land(keptRows, o.get("out").fold(
          Land.parquetOr(o.get("out-parquet")))(Land.Csv(_, col(idCol))))(
        "n_kept" -> count(lit(1)))
      if (o.has("out"))
        o.get("out-parquet").foreach(keptRows.write.mode("overwrite").parquet)
      obj(Seq("command" -> "select", "mode" -> mode, "n_pool" -> nPool) ++
        nKept ++ Seq("out" -> o.get("out"),
        "out_parquet" -> o.get("out-parquet")): _*)

    case "pack" =>
      // Sequence packing (Pack.pack): concat-and-chunk the corpus into
      // fixed-length token sequences; spans land as parquet, the
      // report is the JSON line.
      val df = read(spark, o.str("in"))
      needCols(df, o, "id", "text")
      val seqLen = o.long("seq-len")
      val packPlan = persistTracked(graft.operators.Pack.plan(df,
        o.str("id"), o.str("text"), o.str("salt")))
      o.get("out").foreach(d => graft.operators.Pack.segments(packPlan,
        seqLen).write.mode("overwrite").parquet(d))
      val r = graft.operators.Pack.report(packPlan, seqLen).head()
      obj("command" -> "pack", "seq_len" -> seqLen, "n_seqs" -> r.getLong(0),
        "n_tokens" -> r.getLong(1), "last_fill_bp" -> r.getLong(2),
        "out" -> o.get("out"))

    case "colloc" =>
      // Collocation mining (Vocab.collocations): top-k adjacent pairs
      // by association lift — the multi-word-unit report run before
      // committing a tokenizer/vocab budget.
      val df = read(spark, o.str("in"))
      needCols(df, o, "text")
      val top = persistTracked(graft.operators.Vocab.collocations(df,
        o.str("text"), minCount = o.long("min-count"), topK = o.int("top")))
      o.get("out").foreach(f => Etl.writeSingleCsv(top, f))
      val rows = top.collect().map(r => obj("a" -> r.getString(0),
        "b" -> r.getString(1), "c2" -> r.getLong(2), "lift_e4" -> r.getLong(3)))
      obj("command" -> "colloc", "n" -> rows.length, "top" -> rows,
        "out" -> o.get("out"))

    case "buckets" =>
      // CCNet perplexity buckets (Curate.surprisalBuckets): per-source
      // head/middle/tail tercile labels by unigram surprisal; --out
      // gets the per-doc labels, the JSON line the per-bucket counts.
      val df = read(spark, o.str("in"))
      needCols(df, o, "id", "text", "source")
      val t = Land(graft.operators.Curate.surprisalBuckets(df, o.str("id"),
          o.str("text"), o.str("source")), Land.parquetOr(o.get("out")))(
        Seq("head", "middle", "tail")
          .map(b => b -> count_if(col("bucket") === b)): _*)
      obj(("command" -> "buckets") +: t.toSeq :+ ("out" -> o.get("out")): _*)

    case "lm" =>
      // Stored unigram-LM lifecycle (the vocab subcommand's twin):
      // --build persists the count table + exact total (writeLm);
      // without it, a batch probes the store and the JSON reports its
      // surprisal profile (mean cb over docs, O(batch) work).
      val lmDir = o.str("lm")
      val df = read(spark, o.str("in"))
      if (o.bool("build")) {
        needCols(df, o, "text")
        graft.operators.Vocab.writeLm(df, o.str("text"), lmDir)
        val (_, total) = graft.operators.Vocab.readLm(spark, lmDir)
        obj("command" -> "lm", "built" -> lmDir, "total_tokens" -> total)
      } else {
        needCols(df, o, "id", "text")
        val t = Land(graft.operators.Vocab.surprisalFromLm(df, o.str("id"),
            o.str("text"), lmDir), Land.parquetOr(o.get("out")))(
          "n" -> count(lit(1)), "s" -> sum(col("surprisal_cb")))
        val n = t("n")
        obj("command" -> "lm", "probed" -> lmDir, "n_docs" -> n,
          "mean_surprisal_cb" -> (if (n > 0) t("s") / n else 0L),
          "out" -> o.get("out"))
      }

    case "rank" =>
      // BM25 retrieval scoring (Rank.bm25 / bm25FromIndex): score the
      // corpus — or probe a stored inverted index — against a probe
      // term set; --build-index persists the partition-pruned store.
      val idfMode = o.str("idf")
      require(Seq("append-index", "build-index", "remove-index")
          .count(o.has) <= 1,
        "--append-index, --build-index and --remove-index are mutually " +
          "exclusive")
      def docs(): DataFrame = {
        val df = read(spark, o.str("in"))
        needCols(df, o, "id", "text")
        df
      }
      val (idCol, textCol) = (o.str("id"), o.str("text"))
      if (o.has("remove-index")) {
        // retraction: the exact inverse of --append-index — pass the
        // removed docs WITH the text that was indexed (verified against
        // the stored doclen before anything mutates)
        val dir = o.str("remove-index")
        graft.operators.Rank.removeFromBm25Index(docs(), idCol, textCol, dir)
        obj(Seq("command" -> "rank", "removed_from" -> dir) ++
          bm25Stats(spark, dir): _*)
      } else (o.get("append-index"), o.get("build-index")) match {
        case (Some(dir), _) =>
          graft.operators.Rank.appendBm25Index(docs(), idCol, textCol, dir)
          // layout health after the append — the ANN staleness-verdict
          // pattern applied to term routing (a hot term bucket serves
          // its queries at max/mean× the probe IO)
          val (nb, nonEmpty, mx, meanE2, verdict) =
            graft.operators.Rank.bm25BucketBalance(spark, dir)
          obj(Seq("command" -> "rank", "appended" -> dir) ++
            bm25Stats(spark, dir) ++ Seq("n_buckets" -> nb,
            "n_nonempty_buckets" -> nonEmpty, "max_bucket_postings" -> mx,
            "mean_bucket_postings_e2" -> meanE2,
            "bucket_balance" -> verdict): _*)
        case (None, Some(dir)) =>
          val buckets = o.int("buckets")
          graft.operators.Rank.buildBm25Index(docs(), idCol, textCol, dir,
            buckets)
          obj(Seq("command" -> "rank", "built" -> dir) ++
            bm25Stats(spark, dir) :+ ("n_buckets" -> buckets): _*)
        case (None, None) if o.has("queries") =>
          // batch serving: many probe queries in ONE plan from the
          // stored index — "qid:term,term;qid:term,..." (the
          // ann_ivf_batch shape for the lexical leg)
          val queries = o.str("queries").split(";").toSeq
            .map(_.trim).filter(_.nonEmpty).map { q =>
              val parts = q.split(":", 2)
              require(parts.length == 2,
                s"--queries entries are qid:term,term — got '$q'")
              parts(0).trim.toLong -> Cli.items(parts(1))
            }
          val ranked = persistTracked(graft.operators.Rank
            .bm25FromIndexBatch(spark, o.str("index"), queries, idfMode,
              o.int("top")))
          o.get("out").foreach(d => ranked.write.mode("overwrite").parquet(d))
          val perQ = ranked.groupBy("qid").count().collect()
            .map(r => r.getLong(0).toString -> r.getLong(1))
          obj("command" -> "rank", "idf" -> idfMode,
            "n_queries" -> queries.size,
            "ranked_per_query" -> obj(perQ.toSeq: _*), "out" -> o.get("out"))
        case (None, None) =>
          val terms = o.list("terms")
          val topK = o.int("top")
          val ranked = persistTracked(o.get("index") match {
            case Some(dir) =>
              graft.operators.Rank.bm25FromIndex(spark, dir, terms,
                idfMode, topK)
            case None =>
              graft.operators.Rank.bm25(docs(), idCol, textCol, terms,
                idfMode, topK)
          })
          o.get("out").foreach(d => ranked.write.mode("overwrite").parquet(d))
          val hits = ranked.collect()
          obj("command" -> "rank", "idf" -> idfMode, "n_terms" -> terms.size,
            "n_ranked" -> hits.length, "top_id" -> hits.headOption.map(_.getLong(0)),
            "top_score_e4" -> hits.headOption.map(_.getLong(2)),
            "out" -> o.get("out"))
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
      val in = o.str("in")
      val outDir = o.str("out")
      // the options given for `stage`, as its entry declares them
      def fwd(stage: String): Map[String, String] =
        o.given.filter(kv => releaseStages.toMap.apply(stage).contains(kv._1))
      // stage 1: settle → <out>/settle/{corpus,audit}
      val settleJson = run(spark, "settle", Map(
        "in" -> in, "out" -> s"$outDir/settle") ++ fwd("settle"))
      val settledDir = s"$outDir/settle/corpus"
      // stage 2 (optional): target-shaped selection → <out>/selected
      val (corpusDir, selectJson) = o.get("target") match {
        case Some(t) =>
          val sj = run(spark, "select", Map(
            "in" -> settledDir, "id" -> "id", "text" -> "clean_text",
            "target" -> t,
            "target-text" -> o.get("target-text").getOrElse(o.str("text")),
            "out-parquet" -> s"$outDir/selected") ++ fwd("select"))
          (s"$outDir/selected", Some(sj))
        case None => (settledDir, None)
      }
      // stage 3: datacard over what actually ships
      val cardJson = run(spark, "datacard", Map(
        "in" -> corpusDir, "id" -> "id", "text" -> "clean_text") ++
        fwd("datacard"))
      val cardPath = new org.apache.hadoop.fs.Path(outDir, "datacard.json")
      val fs = cardPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val os = fs.create(cardPath, true)
      try os.write((cardJson + "\n").getBytes("UTF-8"))
      finally os.close()
      // stage 4: shard export → <out>/shards
      val exportJson = run(spark, "export", Map(
        "in" -> corpusDir, "id" -> "id", "text" -> "clean_text",
        "out" -> s"$outDir/shards") ++ fwd("export"))
      obj("command" -> "release", "out" -> outDir,
        "settle" -> Jsons.Raw(settleJson),
        "select" -> selectJson.map(Jsons.Raw), "datacard" -> Jsons.Raw(cardJson),
        "export" -> Jsons.Raw(exportJson))

    case "motif" =>
      // time-series motif search: when did the event stream look like
      // THIS shape? (Motif.topKWindows — integer window sums, floored
      // correlation scores.)
      val df = read(spark, o.str("in"))
      needCols(df, o, "time")
      val timeCol = o.str("time")
      // --pattern inline, or --pattern-store <dir> to probe a stored
      // one (the motifIngest artifact); --save-pattern lands the
      // inline pattern for the streaming monitor to probe
      require(o.has("pattern") ^ o.has("pattern-store"),
        "pass exactly one of --pattern v0,v1,... / --pattern-store <dir>")
      val pattern =
        if (o.has("pattern")) o.list("pattern").map(_.toLong)
        else graft.operators.Motif.readPattern(spark, o.str("pattern-store"))
      o.get("save-pattern").foreach(d =>
        graft.operators.Motif.writePattern(spark, pattern, d))
      val hits = graft.operators.Motif.topKWindows(df, timeCol,
        bucketSec = o.int("bucket-sec"), pattern = pattern, k = o.int("k"))
        .collect()
      obj("command" -> "motif", "pattern" -> pattern, "windows" -> hits.map(r =>
        obj("window_start" -> r.getTimestamp(0).toString,
          "score_e4" -> r.getLong(1), "n_events" -> r.getLong(2))))

    case "topics" =>
      // ST9 topic-admin ops surface: validate the spec and PRINT the
      // rendered kafka-topics.sh / kafka-configs.sh plan (one JSON line
      // with a "plan" array an ops script executes verbatim). No broker
      // and no kafka-clients jar exist in this sandbox, so execution is
      // print-only by DEFAULT — --execute shell|admin opts in (below).
      import graft.streaming.TopicAdmin
      val bootstrap = o.str("bootstrap")
      val mode = o.str("mode")
      def spec = TopicAdmin.TopicSpec(o.str("topic"), o.int("partitions"),
        o.str("replication").toShort,
        o.get("retention-ms").map(ms => Map("retention.ms" -> ms))
          .getOrElse(Map.empty))
      val plan: Seq[Seq[String]] = mode match {
        case "create" =>
          Seq(TopicAdmin.createCommand(bootstrap, spec))
        case "delete" =>
          Seq(TopicAdmin.deleteCommand(bootstrap, o.str("topic")))
        case "describe" =>
          Seq(TopicAdmin.describeCommand(bootstrap, o.str("topic")))
        case "grow" =>
          Seq(TopicAdmin.addPartitionsCommand(bootstrap, o.str("topic"),
            o.int("current"), o.int("target")))
        case "retention" =>
          Seq(TopicAdmin.setRetentionCommand(bootstrap, o.str("topic"),
            o.long("retention-ms")))
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
      val executed = o.get("execute").map {
        case "shell" =>
          TopicAdmin.executePlan(plan); "shell"
        case "admin" => mode match {
          case "create" =>
            TopicAdmin.executeCreateWithAdminClient(bootstrap, Seq(spec))
            "admin"
          case "delete" =>
            TopicAdmin.executeDeleteWithAdminClient(bootstrap,
              Seq(o.str("topic")))
            "admin"
          case m => throw new IllegalArgumentException(
            s"--execute admin supports create|delete (mode '$m' runs " +
              "through --execute shell or the printed plan)")
        }
        case other => throw new IllegalArgumentException(
          s"--execute must be shell|admin, got '$other'")
      }
      obj("command" -> "topics", "mode" -> mode, "plan" -> plan,
        "executed" -> executed)

    case other =>
      throw new IllegalStateException(s"command '$other' has no body")
  }

  /** The streamlit dashboard's aggregations (A10–A14) as one JSON
    * report line over the CURRENT state of `inPath`: per-class counts +
    * rate, score summary, and — when an event-time column exists —
    * tumbling-window counts per class. Counts and score summary are
    * one aggregate; the window counts are a second query. Re-reads the
    * input on every call, so a growing scored table (the replay/score
    * sink) yields a fresh snapshot per poll. */
  private def dashboardReport(spark: SparkSession, inPath: String,
                              width: String, poll: Int): String = {
    val df = read(spark, inPath)
    require(df.columns.contains("prediction") &&
      df.columns.contains("anomaly_score"),
      "dashboard input needs 'prediction' and 'anomaly_score' columns " +
        "(the score/replay output shape)")
    val score = col("anomaly_score")
    val a = df.agg(count(lit(1)), count_if(col("prediction") === "normal"),
      count_if(col("prediction") === "anomaly"), round(avg(score), 6),
      round(max(score), 6), round(min(score), 6)).head()
    val (total, anomalies) = (a.getLong(0), a.getLong(2))
    val windows = if (!df.columns.contains("timestamp")) Seq.empty
      else df.groupBy(window(to_timestamp(col("timestamp")), width).as("w"),
          col("prediction"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("w.start"), col("prediction"))
        .limit(20)
        .collect().toSeq
        .map(r => obj("start" -> String.valueOf(r.getStruct(0).get(0)),
          "prediction" -> r.getString(1), "n" -> r.getLong(2)))
    obj("command" -> "dashboard", "poll" -> Option.when(poll > 0)(poll),
      "rows" -> total, "normal" -> a.getLong(1), "anomaly" -> anomalies,
      "anomaly_rate" -> (if (total == 0) 0.0 else anomalies.toDouble / total),
      "score_mean" -> a.get(3), "score_max" -> a.get(4),
      "score_min" -> a.get(5), "windows" -> windows).text
  }

  /** Live-refresh mode (streamlit_dashboard.py:47-89's polling loop as
    * a CLI flag): `polls` snapshots of `inPath`, `intervalMs` apart.
    * Intermediate reports stream through `onPoll` as they are computed;
    * the FINAL report is the return value (so the CLI's single
    * result-line contract holds — `main` prints the return). Each poll
    * re-reads the input, so rows appended between polls show up in the
    * next snapshot. Package-private
    * so tests can drive the loop with an `onPoll` that mutates the
    * input deterministically. */
  private[graft] def dashboardFollow(spark: SparkSession, inPath: String,
                                     width: String, polls: Int,
                                     intervalMs: Long,
                                     onPoll: String => Unit): String = {
    def report(poll: Int) = dashboardReport(spark, inPath, width, poll)
    var i = 1
    while (i < polls) {
      onPoll(report(i))
      if (intervalMs > 0) Thread.sleep(intervalMs)
      i += 1
    }
    report(if (polls > 1) polls else 0)
  }
}
