package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.{StoreVerify, Tables}
import graft.operators.{Dedup, Dsir}
import graft.streaming.StreamingIngest

/** stream_ingest: a closed loop, one micro-batch at a time, through
  * `StreamingIngest.fullIngest`, then a `StoreVerify` pass over every store
  * the run wrote.
  *
  * The settled corpus is the fixture's documents with `doc_id` below
  * [[SettledDocs]]; its signature store and DSIR weights are built in
  * set-up. `docs.tsv` from the driver holds the seeded stream: batch index,
  * id, kind (`fresh`, `exact` or `near` copy of a settled document, `short`
  * to fail the word-count rule, `offtopic` for DSIR selection to drop) and
  * text. Only id and text reach the program. Batch 0 is the warm batch. */
object StreamIngest {
  val SettledDocs = 1000L
  val MinWords = 20
  /** Timed batches a traced run leaves untraced, for the tracing overhead. */
  val UntracedBatches = 1

  final case class Doc(batch: Int, id: Long, kind: String, text: String)

  private def treeStats(spark: org.apache.spark.sql.SparkSession,
                        dirs: Seq[String]): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    dirs.map(new Path(_)).filter(p => p.getFileSystem(conf).exists(p)).map { p =>
      val it = p.getFileSystem(conf).listFiles(p, true)
      var bytes, files = 0L
      while (it.hasNext) { val f = it.next(); bytes += f.getLen; files += 1 }
      (bytes, files)
    }.foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
  }

  def run(c: Ctx): Result = {
    val spark = c.spark
    val t = c.tracer
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val sig = c.work("sig")
    val weights = c.work("weights")
    val kept = c.work("kept")
    val funnel = c.work("funnel")
    val statsDir = c.work("stats")
    val ckpt = c.work("ckpt")

    // Set-up, repeated for its median: read the stream, then build the
    // settled corpus's signature store and DSIR weights.
    def setup(): Seq[Seq[Doc]] = {
      val docs = Stats.readLines(c.inputs("docs.tsv")).map { l =>
        val Array(b, id, k, txt) = l.split("\t", 4); Doc(b.toInt, id.toLong, k, txt)
      }
      val settled = Tables.documents(spark, c.args.fixture)
        .filter(col("doc_id") < SettledDocs)
      Dedup.minhashSignatures(settled, "doc_id", "text")
        .write.mode("overwrite").parquet(sig)
      // DSIR target: the settled corpus; raw: the same text with every word
      // reversed, so on-topic documents score above zero and the stream's
      // `offtopic` documents (reversed words) below it
      val reversed = settled.select(col("doc_id"), concat_ws(" ",
        transform(split(col("text"), " "), w => reverse(w))).as("text"))
      Dsir.bucketWeights(settled, reversed, "text")
        .write.mode("overwrite").parquet(weights)
      docs.groupBy(_.batch).toSeq.sortBy(_._1).map(_._2)
    }
    val setupS = (1 to 3).map(_ => Stats.timeS(setup())._2)
    val batches = setup()

    val progress = new ProgressLog
    val stats = new SparkStats
    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.fullIngest(stream.toDS().toDF("id", "text"), "id",
      "text", sig, weights, kept, funnel, statsDir, ckpt, minWords = MinWords)
    def feed(b: Seq[Doc]): Double = Stats.timeS {
      stream.addData(b.map(d => (d.id, d.text)))
      q.processAllAvailable()
    }._2

    val warmS = feed(batches.head)
    t.enabled = false
    val gc0 = Stats.gcS()
    Stats.resetHeapPeak()
    val untraced = ArrayBuffer.empty[Double]
    val timed = ArrayBuffer.empty[(Double, Int)]
    var tracedFromMs = 0L
    // Every batch of the input is fed, whatever --seconds says, so the kept
    // store (and its digest) is exact per seed.
    var i = 1
    while (i < batches.size) {
      if (c.args.trace && untraced.size < UntracedBatches) untraced += feed(batches(i))
      else {
        if (c.args.trace && !t.enabled) {
          t.enabled = true
          tracedFromMs = System.currentTimeMillis()
          spark.streams.addListener(progress)
          spark.sparkContext.addSparkListener(stats)
        }
        timed += ((feed(batches(i)), batches(i).size))
      }
      i += 1
    }
    val sentBatches = batches.take(i)
    val gcS = Stats.gcS() - gc0
    val root = if (t.enabled) t.add("ingest.run", "bench", 0L,
      tracedFromMs * 1000L, Tracer.nowUs()) else 0L
    q.stop()

    // Read-back: every StoreVerify check over every store written.
    val (verifyChecks, verifyS) = Stats.timeS(t.span("store.verify", "core.StoreVerify") {
      Seq(StoreVerify.verify(spark, kept, Some(sig), "id"),
        StoreVerify.verify(spark, funnel), StoreVerify.verify(spark, statsDir),
        StoreVerify.verify(spark, sig),
        StoreVerify.verify(spark, StreamingIngest.settledSigPath(sig)))
    })
    val failedChecks = verifyChecks.flatMap { case (fam, cs) =>
      cs.filterNot(_.ok).map(x => s"$fam:${x.invariant}: ${x.detail}")
    }

    // Funnel conservation per batch, against what was sent.
    val f = spark.read.parquet(funnel).orderBy("batch_id").collect()
    def g(r: org.apache.spark.sql.Row, k: String): Long =
      if (r.isNullAt(r.fieldIndex(k))) 0L else r.getAs[Long](k)
    val tiers = f.headOption.map(_.schema.fieldNames.filter(n =>
      n.startsWith("n_") && n.endsWith("_killed")).toSeq).getOrElse(Nil)
    val badBatches = f.zipWithIndex.count { case (r, k) =>
      k >= sentBatches.size || g(r, "n_in") != sentBatches(k).size ||
        tiers.map(g(r, _)).sum + g(r, "n_kept") != g(r, "n_in")
    } + math.abs(f.length - sentBatches.size)
    def total(k: String): Long = f.map(g(_, k)).sum

    val keptDf = spark.read.parquet(kept)
    val keptIds = keptDf.select(col("id").cast("long")).as[Long].collect().toSet
    val sentDocs = sentBatches.flatten
    val exactKept = sentDocs.count(d => d.kind == "exact" && keptIds(d.id))
    val foreign = keptIds.count(id => !sentDocs.exists(_.id == id))
    val keptDigest = keptDf.agg(sum(xxhash64(col("id").cast("long"))
      .cast("decimal(38,0)"))).head().getDecimal(0)
    val injected = sentDocs.count(d => d.kind == "exact" || d.kind == "near")

    val lat = timed.map(_._1).toSeq
    val (tailV, tailP, tailN) = Stats.tail(lat)
    val e2e = Map(
      "ingest_batch_p50_s" -> Stats.median(lat),
      "ingest_batch_tail_s" -> tailV,
      "ingest_batch_tail_pct" -> tailP,
      "ingest_batch_samples" -> tailN,
      "docs_per_s" -> timed.map(_._2).sum / lat.sum,
      "batch_docs" -> batches.head.size)

    val layer: Map[String, Double] = if (!c.args.trace) Map.empty else {
      spark.streams.removeListener(progress)
      spark.sparkContext.removeSparkListener(stats)
      stats.settle()
      val bs = progress.batches
      val trig = bs.map(p => progress.dur(p, "triggerExecution"))
      // least-squares slope of batch time over batch index
      val growth = if (trig.size < 2) 0.0 else {
        val xs = trig.indices.map(_.toDouble); val mx = xs.sum / xs.size
        val my = trig.sum / trig.size
        xs.zip(trig).map { case (x, y) => (x - mx) * (y - my) }.sum /
          xs.map(x => (x - mx) * (x - mx)).sum
      }
      progress.emitSpans(t, _ => Some(root))
      stats.emitSpans(t, t.all.filter(_.name == "stream.addBatch"))
      val (bytes, files) = treeStats(spark, Seq(kept, funnel, statsDir, ckpt,
        StreamingIngest.settledSigPath(sig)))
      val textBytes = sentDocs.map(_.text.getBytes("UTF-8").length.toLong).sum
      val nb = sentBatches.size.toDouble
      val tot = stats.totals(tracedFromMs, Long.MaxValue)
      Map(
        "streaming.batches" -> bs.size.toDouble,
        "streaming.rows_per_batch" -> (if (bs.isEmpty) 0.0 else Stats.median(bs.map(_.numInputRows.toDouble))),
        "streaming.batch_ms" -> (if (trig.isEmpty) 0.0 else Stats.median(trig)),
        "streaming.batch_ms_growth" -> growth,
        "streaming.commit_ms" -> (if (bs.isEmpty) 0.0 else Stats.median(bs.map(p =>
          progress.dur(p, "walCommit") + progress.dur(p, "commitOffsets")))),
        "spark.jobs_per_batch" -> tot("jobs") / math.max(bs.size, 1),
        "core.Stores.bytes_written" -> bytes / nb,
        "core.Stores.write_amp" -> bytes.toDouble / textBytes,
        "core.Stores.files_written" -> files / nb,
        "core.StoreVerify.verify_s" -> verifyS,
        "ingest.n_rule_killed" -> total("n_rule_killed").toDouble,
        "ingest.n_dup_killed" -> total("n_dup_killed").toDouble,
        "ingest.n_sel_killed" -> total("n_sel_killed").toDouble,
        "ingest.n_kept" -> total("n_kept").toDouble,
        "ingest.dup_kill_ratio" -> total("n_dup_killed").toDouble / math.max(injected, 1),
        "jvm.gc_s" -> gcS,
        "jvm.heap_used_mb_peak" -> Stats.heapPeakMb(),
        "trace.untraced_s" -> Stats.median(untraced.toSeq),
        "trace.overhead_s" -> (Stats.median(lat) - Stats.median(untraced.toSeq))) ++
        t.selfMetrics(math.max(bs.size, 1)) ++
        tot.map { case (k, v) => s"spark.$k" -> v / math.max(bs.size, 1) }
    }

    val failed = failedChecks.size + badBatches + exactKept + foreign
    Result(timed.size + untraced.size.toLong, failed.toLong, setupS, warmS, e2e, layer,
      Map("verify_failed" -> failedChecks, "funnel_bad_batches" -> badBatches,
        "exact_dups_kept" -> exactKept, "foreign_kept" -> foreign,
        "kept_digest" -> keptDigest.toPlainString, "batches" -> sentBatches.size,
        "funnel" -> Map("n_in" -> total("n_in"), "n_rule_killed" -> total("n_rule_killed"),
          "n_dup_killed" -> total("n_dup_killed"), "n_sel_killed" -> total("n_sel_killed"),
          "n_kept" -> total("n_kept"), "injected_dups" -> injected)))
  }
}
