package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Slow, TestSpark}
import graft.operators.{Dedup, Similarity}

/** End-to-end ingest screening: a settled corpus persists its
  * signature index to parquet ONCE; micro-batches arriving on a stream
  * are screened against the STORED index inside foreachBatch. Pins
  * (a) cross-batch flagging against the settled corpus, (b) that novel
  * content passes unflagged, and (c) that the signature-parameter
  * metadata survives the parquet round trip (the stream would fail the
  * contract check otherwise). */
class StreamingIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("minhash ingest flags settled-corpus near-dups across micro-batches") {
    implicit val sc = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"),
      (2L, "completely different settled document about spark shuffles"),
      (3L, "a third settled text with its own distinct token stream"))
      .toDF("doc_id", "text")
    val idxDir = tmp("ingest_sig")
    Dedup.minhashSignatures(corpus, "doc_id", "text")
      .write.mode("overwrite").parquet(idxDir)
    val corpusSig = spark.read.parquet(idxDir)

    val stream = MemoryStream[(Long, String)]
    val sink = new StreamPipeline.CollectingSink
    val statsDir = tmp("ingest_stats") + "/stats"
    val q = StreamingIngest.nearDupIngest(
      stream.toDS().toDF("doc_id", "text"), "doc_id", "text",
      corpusSig, tmp("ingest_ckpt"), sink, statsPath = Some(statsDir))
    try {
      // batch 1: one exact copy of doc 1 + one novel doc
      stream.addData(
        (100L, "the quick brown fox jumps over the lazy dog near the river"),
        (101L, "novel crawl content sharing no shingles with anything"))
      q.processAllAvailable()
      // batch 2: a copy of doc 2 — state-free screening must still
      // flag it against the same stored index
      stream.addData(
        (200L, "completely different settled document about spark shuffles"),
        (201L, "yet more genuinely new text arriving on the wire"))
      q.processAllAvailable()
    } finally q.stop()

    val flagged = sink.batches.synchronized {
      sink.batches.flatMap(_.map(r => (r.getLong(0), r.getLong(1)))).toSet
    }
    assert(flagged === Set((100L, 1L), (200L, 2L)),
      s"expected exactly the planted copies flagged, got $flagged")
    // the same stream also fed the stats table: one row per batch
    import graft.operators.CorpusStats
    val snaps = spark.read.parquet(statsDir)
    assert(snaps.count() === 2L)
    assert(CorpusStats.report(CorpusStats.merge(snaps)).head()
      .getAs[Long]("n_docs") === 4L)
  }

  test("ingest restart from checkpoint does not rescreen committed batches") {
    implicit val sc = spark.sqlContext
    val corpus = Seq(
      (1L, "a settled corpus document that the batch copies verbatim"),
      (2L, "other settled content"))
      .toDF("doc_id", "text")
    val idxDir = tmp("ingest_rs_sig")
    Dedup.minhashSignatures(corpus, "doc_id", "text")
      .write.mode("overwrite").parquet(idxDir)
    val corpusSig = spark.read.parquet(idxDir)
    val ckpt = tmp("ingest_rs_ckpt")
    val stream = MemoryStream[(Long, String)]
    val sink = new StreamPipeline.CollectingSink
    val q1 = StreamingIngest.nearDupIngest(
      stream.toDS().toDF("doc_id", "text"), "doc_id", "text",
      corpusSig, ckpt, sink)
    stream.addData(
      (100L, "a settled corpus document that the batch copies verbatim"))
    q1.processAllAvailable()
    q1.stop()
    val afterFirst = sink.totalRows
    assert(afterFirst === 1, "the planted copy must be flagged once")
    // restart on the SAME checkpoint + source: the committed batch must
    // not be rescreened (ST2/ST3 — offsets resume past it)
    val q2 = StreamingIngest.nearDupIngest(
      stream.toDS().toDF("doc_id", "text"), "doc_id", "text",
      corpusSig, ckpt, sink)
    q2.processAllAvailable()
    q2.stop()
    assert(sink.totalRows === afterFirst,
      "restart must not re-emit the committed batch's flagged pairs")
  }

  test("embedding ingest flags settled-corpus near-dups from the stored index") {
    implicit val sc = spark.sqlContext
    import graft.functions.VectorFunctions.asDouble
    val rnd = new java.util.Random(29L)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val corpusRows = (0L until 40L).map(i => (i, vec()))
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val sigDir = tmp("ingest_esig")
    val vecDir = tmp("ingest_evec")
    Similarity.embeddingSignatures(corpus, "vec_id", "embedding", dim = 16)
      .write.mode("overwrite").parquet(sigDir)
    corpus.select($"vec_id".cast("long").as("id"),
        asDouble($"embedding").as("vec"))
      .write.mode("overwrite").parquet(vecDir)
    val corpusSig = spark.read.parquet(sigDir)
    val corpusVecs = spark.read.parquet(vecDir)

    val stream = MemoryStream[(Long, Array[Float])]
    val sink = new StreamPipeline.CollectingSink
    val q = StreamingIngest.embeddingNearDupIngest(
      stream.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding",
      corpusSig, corpusVecs, threshold = 0.99, dim = 16,
      tmp("ingest_eckpt"), sink)
    try {
      // batch 1: a tiny perturbation of corpus vector 7 + a novel vector
      stream.addData(
        (100L, corpusRows(7)._2.map(x => (x + rnd.nextGaussian() * 0.003).toFloat)),
        (101L, vec()))
      q.processAllAvailable()
      // batch 2: a perturbation of corpus vector 21 + another novel one
      stream.addData(
        (200L, corpusRows(21)._2.map(x => (x + rnd.nextGaussian() * 0.003).toFloat)),
        (201L, vec()))
      q.processAllAvailable()
    } finally q.stop()

    val flagged = sink.batches.synchronized {
      sink.batches.flatMap(_.map(r => (r.getLong(0), r.getLong(1)))).toSet
    }
    assert(flagged === Set((100L, 7L), (200L, 21L)),
      s"expected exactly the planted near-copies flagged, got $flagged")
  }

  test("screen-and-settle: accepted vectors enter the stored two-level index") {
    implicit val sc = spark.sqlContext
    import graft.functions.VectorFunctions.asDouble
    import graft.operators.Ivf
    // 3 well-separated 16-dim clusters (center c lives on dims i%3==c)
    val rnd = new java.util.Random(31L)
    val centers = Array.tabulate(3, 16)((c, i) => if (i % 3 == c) 10.0 else 0.0)
    val corpusRows = for { c <- 0 until 3; j <- 0 until 12 } yield
      ((c * 100 + j).toLong,
        centers(c).map(v => (v + rnd.nextGaussian() * 0.2).toFloat))
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val sigDir = tmp("settle_sig"); val vecDir = tmp("settle_vec")
    val idxDir = tmp("settle_idx")
    Similarity.embeddingSignatures(corpus, "vec_id", "embedding", dim = 16)
      .write.mode("overwrite").parquet(sigDir)
    corpus.select($"vec_id".cast("long").as("id"),
        asDouble($"embedding").as("vec"))
      .write.mode("overwrite").parquet(vecDir)
    Ivf.writeIndexTwoLevel(
      Similarity.semDedupIndexTwoLevelFull(corpus, "vec_id", "embedding",
        targetClusterSize = 8, coarseCells = 3, seed = 7L), idxDir)
    graft.core.Caching.releaseAll()

    // novel = a direction the corpus does not contain (-center0): far
    // from every settled vector, so it must pass the screen and land
    // in the index; the near-copy of corpus row 5 must be flagged out
    val novel = centers(0).map(v => (-v + rnd.nextGaussian() * 0.2).toFloat)
    val appends = new java.util.concurrent.ConcurrentLinkedQueue[Ivf.TwoLevelAppend]
    val stream = MemoryStream[(Long, Array[Float])]
    val sink = new StreamPipeline.CollectingSink
    val q = StreamingIngest.screenAndSettleIngest(
      stream.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding",
      spark.read.parquet(sigDir), spark.read.parquet(vecDir),
      threshold = 0.99, dim = 16, idxDir, tmp("settle_ckpt"), sink,
      onAppend = a => { appends.add(a); () })
    try {
      stream.addData(
        (500L, corpusRows(5)._2.map(x => (x + rnd.nextGaussian() * 0.003).toFloat)),
        (501L, novel))
      q.processAllAvailable()
    } finally q.stop()

    val flagged = sink.batches.synchronized {
      sink.batches.flatMap(_.map(_.getLong(0))).toSet
    }
    assert(flagged === Set(500L),
      s"only the planted near-copy screens out, got $flagged")
    val appendList = appends.toArray(Array.empty[Ivf.TwoLevelAppend]).toSeq
    assert(appendList.map(_.appended) === Seq(1L),
      s"exactly the accepted novel vector appends, got $appendList")
    assert(!appendList.head.needsRefit,
      "one appended vector cannot breach the skew bound")
    // the probe finds the appended vector by its own direction...
    val hits = Ivf.topKTwoLevelVec(spark, idxDir, novel.map(_.toDouble),
        k = 3, nProbeCoarse = 1, nProbeFine = 2)
      .collect().map(_.getLong(0))
    assert(hits.contains(501L),
      s"probe must find the appended vector, got ${hits.toSeq}")
    // ...and the by-id sidecar serves the new id partition-pruned
    assert(Ivf.lookupVec(spark, s"$idxDir/by_id", 501L).length === 16)

    // contract: a store without build-params metadata is rejected
    val bad = tmp("settle_bad")
    Seq((0L, Seq.fill(16)(0.0))).toDF("cid", "centroid")
      .write.parquet(s"$bad/router")
    val ex = intercept[IllegalArgumentException] {
      Ivf.appendToIndexTwoLevel(spark, bad, corpus, "vec_id", "embedding")
    }
    assert(ex.getMessage.contains("metadata"), ex.getMessage)
    // contract: a batch whose vector width drifted is rejected
    val wrong = corpusRows.take(2)
      .map { case (id, v) => (id + 900L, v ++ Array(0f)) }
      .toDF("vec_id", "embedding")
    val ex2 = intercept[IllegalArgumentException] {
      Ivf.appendToIndexTwoLevel(spark, idxDir, wrong, "vec_id", "embedding")
    }
    assert(ex2.getMessage.contains("dim"), ex2.getMessage)
  }

  test("screen-and-settle against a PQ store: append, probe, drift axes") {
    implicit val sc = spark.sqlContext
    import graft.functions.VectorFunctions.asDouble
    import graft.operators.{Ivf, Pq}
    val rnd = new java.util.Random(37L)
    val centers = Array.tabulate(3, 16)((c, i) => if (i % 3 == c) 10.0 else 0.0)
    val corpusRows = for { c <- 0 until 3; j <- 0 until 12 } yield
      ((c * 100 + j).toLong,
        centers(c).map(v => (v + rnd.nextGaussian() * 0.2).toFloat))
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val sigDir = tmp("psettle_sig"); val vecDir = tmp("psettle_vec")
    val idxDir = tmp("psettle_idx")
    Similarity.embeddingSignatures(corpus, "vec_id", "embedding", dim = 16)
      .write.mode("overwrite").parquet(sigDir)
    corpus.select($"vec_id".cast("long").as("id"),
        asDouble($"embedding").as("vec"))
      .write.mode("overwrite").parquet(vecDir)
    val (km, assigned) = Ivf.indexCosine(corpus, "vec_id", "embedding",
      nCells = 3, seed = 7L)
    val pq = Pq.fit(corpus, "embedding", m = 4, ksub = 8, seed = 7L)
    Pq.writeIndexPq(assigned, pq,
      km.clusterCenters.zipWithIndex.map { case (c, i) => (i.toLong, c.toArray) },
      idxDir)
    assigned.unpersist()
    graft.core.Caching.releaseAll()

    val novel = centers(0).map(v => (-v + rnd.nextGaussian() * 0.2).toFloat)
    val appends = new java.util.concurrent.ConcurrentLinkedQueue[Pq.PqAppend]
    val stream = MemoryStream[(Long, Array[Float])]
    val sink = new StreamPipeline.CollectingSink
    val q = StreamingIngest.screenAndSettleIngestPq(
      stream.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding",
      spark.read.parquet(sigDir), spark.read.parquet(vecDir),
      threshold = 0.99, dim = 16, idxDir, tmp("psettle_ckpt"), sink,
      onAppend = a => { appends.add(a); () })
    try {
      stream.addData(
        (500L, corpusRows(5)._2.map(x => (x + rnd.nextGaussian() * 0.003).toFloat)),
        (501L, novel))
      q.processAllAvailable()
    } finally q.stop()

    val flagged = sink.batches.synchronized {
      sink.batches.flatMap(_.map(_.getLong(0))).toSet
    }
    assert(flagged === Set(500L),
      s"only the planted near-copy screens out, got $flagged")
    val appendList = appends.toArray(Array.empty[Pq.PqAppend]).toSeq
    assert(appendList.map(_.appended) === Seq(1L), appendList.toString)
    // -center0 reconstructs poorly against codebooks fit on the 3
    // positive clusters: the QUANTIZATION-DRIFT axis fires (and is the
    // only axis that fires — cell sizes stay inside the skew bound)
    val a = appendList.head
    assert(a.maxCellSize <= 4.0 * a.meanCellSize,
      s"skew must stay inside the bound in this fixture: $a")
    assert(a.meanReconCos < 0.8 && a.needsRefit,
      s"out-of-distribution append must trip the drift verdict: $a")
    // the appended vector serves probes: ADC candidates + exact refine
    val hits = Pq.topKVecPq(spark, idxDir, novel.map(_.toDouble),
        k = 3, nProbe = 1, refine = 4)
      .collect().map(_.getLong(0))
    assert(hits.contains(501L),
      s"probe must find the appended vector, got ${hits.toSeq}")
    assert(Ivf.lookupVec(spark, s"$idxDir/by_id", 501L).length === 16)
  }

  test("PQ drift e2e: shifted batch trips needsRefit; refit restores recall", Slow) {
    import graft.operators.{Ivf, Pq}
    // settle: 3 positive-axis clusters, PQ store fit on them alone
    val rnd = new java.util.Random(41L)
    val centers = Array.tabulate(3, 16)((c, i) => if (i % 3 == c) 10.0 else 0.0)
    val corpusRows = for { c <- 0 until 3; j <- 0 until 12 } yield
      ((c * 100 + j).toLong,
        centers(c).map(v => (v + rnd.nextGaussian() * 0.2).toFloat))
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val idxDir = tmp("pdrift_idx")
    val (km, assigned) = Ivf.indexCosine(corpus, "vec_id", "embedding",
      nCells = 3, seed = 7L)
    val pq = Pq.fit(corpus, "embedding", m = 4, ksub = 8, seed = 7L)
    Pq.writeIndexPq(assigned, pq,
      km.clusterCenters.zipWithIndex.map { case (c, i) => (i.toLong, c.toArray) },
      idxDir)
    graft.core.Caching.releaseAll()

    // a GENUINELY shifted distribution: two tight negative-axis
    // sub-clusters (A on dims i%4==3, B on dims i%4==1) the build never
    // saw. The axis a refit actually restores is the ROUTER: the stale
    // coarse centroids carry no signal for the shifted directions, so
    // assignment scatters each sub-cluster across cells on noise and a
    // pruned probe (nProbe = 1) can only ever see the fraction of the
    // true neighbors that happened to land in the probed cell. (ADC is
    // self-consistent even under stale codebooks - a near-copy picks
    // query-aligned codewords - so ranking alone would not show the
    // erosion; the refine step below makes the metric pure routing.)
    def subVec(axis: Int): Array[Float] = Array.tabulate(16)(i =>
      ((if (i % 4 == axis) -10.0 else 0.0) + rnd.nextGaussian() * 0.2).toFloat)
    val aRows = (0 until 10).map(j => ((900 + j).toLong, subVec(3)))
    val bRows = (0 until 10).map(j => ((950 + j).toLong, subVec(1)))
    val shiftedRows = aRows ++ bRows
    val appendA = Pq.appendToIndex(spark, idxDir,
      shiftedRows.toDF("vec_id", "embedding"), "vec_id", "embedding")
    assert(appendA.appended === 20L)
    assert(appendA.meanReconCos < 0.8 && appendA.needsRefit,
      s"shifted batch must trip the quantization-drift verdict: $appendA")

    // ground truth by exact driver-side cosine: queries are FRESH
    // sub-cluster-A samples (never stored); true top-3 are specific A
    // members. refine*k covers a whole cell, so the exact re-rank
    // always orders what the probe can SEE - recall measures only
    // whether the router let the probe see it.
    val queries = (0 until 8).map(_ => subVec(3))
    def cosine(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) { d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1 }
      d / math.sqrt(nx * ny)
    }
    val all = corpusRows ++ shiftedRows
    // mirror the engine's output semantics exactly: round-4 half-up
    // cosine with ascending-id tie-break (tight sub-clusters DO tie at
    // four decimals)
    def trueTop3(q: Array[Float]): Set[Long] =
      all.map { case (id, v) =>
        (id, BigDecimal(cosine(q, v))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (id, c) => (-c, id) }.take(3).map(_._1).toSet
    def routedRecall(path: String): Double =
      queries.map { q =>
        val got = Pq.topKVecPq(spark, path, q.map(_.toDouble),
            k = 3, nProbe = 1, refine = 8)
          .collect().map(_.getLong(0)).toSet
        (got intersect trueTop3(q)).size / 3.0
      }.sum / queries.size
    val stale = routedRecall(idxDir)

    // the refit settle: rebuild router + codebooks over corpus ∪ batch
    val settled = corpus.unionByName(shiftedRows.toDF("vec_id", "embedding"))
    val refitDir = tmp("pdrift_refit")
    val (km2, assigned2) = Ivf.indexCosine(settled, "vec_id", "embedding",
      nCells = 4, seed = 7L)
    val pq2 = Pq.fit(settled, "embedding", m = 4, ksub = 8, seed = 7L)
    Pq.writeIndexPq(assigned2, pq2,
      km2.clusterCenters.zipWithIndex.map { case (c, i) => (i.toLong, c.toArray) },
      refitDir)
    graft.core.Caching.releaseAll()
    val fresh = routedRecall(refitDir)
    assert(stale <= 0.75 && fresh >= 0.95 && fresh > stale,
      s"refit must restore the recall floor: stale=$stale fresh=$fresh")

    // and the next same-distribution batch appends CLEAN: the refit
    // codebooks describe the shifted cluster, both drift axes quiet
    val more = (0 until 5).map(j => ((990 + j).toLong, subVec(3)))
    val appendB = Pq.appendToIndex(spark, refitDir,
      more.toDF("vec_id", "embedding"), "vec_id", "embedding")
    assert(appendB.meanReconCos >= 0.8 && !appendB.needsRefit,
      s"post-refit append of the same distribution must be clean: $appendB")
  }

  test("statsIngest appends one mergeable snapshot row per micro-batch") {
    import graft.operators.CorpusStats
    implicit val sc = spark.sqlContext
    val statsDir = tmp("stats_ingest") + "/stats"
    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.statsIngest(
      stream.toDS().toDF("doc_id", "text"), "text",
      statsDir, tmp("stats_ckpt"))
    try {
      stream.addData((1L, "alpha beta gamma"), (2L, "alpha beta"))
      q.processAllAvailable()
      // second batch repeats doc 1's text: the merged distinct count
      // must dedup across batches, while n_docs/sum_tokens accumulate
      stream.addData((3L, "alpha beta gamma"), (4L, "delta"))
      q.processAllAvailable()
    } finally q.stop()

    val snaps = spark.read.parquet(statsDir)
    assert(snaps.count() === 2L, "one snapshot row per micro-batch")
    val rep = CorpusStats.report(CorpusStats.merge(snaps)).head()
    assert(rep.getAs[Long]("n_docs") === 4L)
    assert(rep.getAs[Long]("sum_tokens") === 9L)
    assert(rep.getAs[Long]("approx_distinct_docs") === 3L)
  }

  test("vocabDriftIngest: in-vocab batches pass, alien batches flag drift") {
    import graft.operators.Vocab
    implicit val sc = spark.sqlContext
    val vocabPath = tmp("vocab_store") + "/vocab"
    val monitorPath = tmp("vocab_mon") + "/monitor"
    // settled corpus: 4 tokens; top-3 vocab leaves 'd' OOV at baseline
    // 1/8 tokens = 1250 bp
    val corpus = Seq(
      (1L, "a a b b c"),
      (2L, "a b c")).toDF("doc_id", "text")
    Vocab.writeVocab(corpus.withColumn("text",
        concat_ws(" ", col("text"), lit("d"))), "text", topK = 3, vocabPath)
    val (_, k, baseline) = Vocab.readVocab(spark, vocabPath)
    assert(k === 3 && baseline === 2000L,
      s"2 'd' tokens of 10 = 2000bp; got k=$k baseline=$baseline")

    var verdicts = List.empty[Vocab.VocabDrift]
    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.vocabDriftIngest(
      stream.toDS().toDF("doc_id", "text"), "text", vocabPath,
      monitorPath, tmp("vocab_ckpt"),
      driftFactor = 2.0, marginBp = 500L,
      onBatch = d => verdicts synchronized { verdicts ::= d })
    try {
      // batch 1: all in-vocab -> 0 bp, no drift
      stream.addData((10L, "a b c a"), (11L, "c c b"))
      q.processAllAvailable()
      // batch 2: mostly alien -> far past 2*baseline + margin
      stream.addData((12L, "zz yy xx ww vv uu tt ss a b"))
      q.processAllAvailable()
    } finally q.stop()

    val mon = spark.read.parquet(monitorPath).orderBy("batch_id").collect()
    assert(mon.length === 2)
    assert(mon(0).getAs[Long]("oov_bp") === 0L &&
      !mon(0).getAs[Boolean]("drifted"))
    assert(mon(1).getAs[Long]("oov_bp") === 8000L &&
      mon(1).getAs[Boolean]("drifted"))
    assert(verdicts.count(_.drifted) === 1)
  }

  test("vocabDriftIngest rejects a metadata-less vocabulary store") {
    import graft.operators.Vocab
    val bare = tmp("vocab_bare") + "/vocab"
    Seq(("a", 3L), ("b", 2L)).toDF("token", "cnt")
      .write.parquet(bare)
    val e = intercept[IllegalArgumentException] {
      Vocab.readVocab(spark, bare)
    }
    assert(e.getMessage.contains("build-params metadata"))
  }

  test("IdempotentFileSink: a replayed batch overwrites, never duplicates") {
    val dir = tmp("idem_sink") + "/out"
    val sink = new StreamPipeline.IdempotentFileSink(dir)
    sink.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), batchId = 0L)
    sink.write(Seq((3L, "c")).toDF("id", "v"), batchId = 1L)
    // at-least-once redelivery of batch 0
    sink.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), batchId = 0L)
    val back = spark.read.parquet(dir)
    assert(back.count() === 3L, "replay must not duplicate batch 0")
    assert(back.select("batch_id").distinct().count() === 2L)
    // partition pruning on batch_id is free for per-batch audits
    val one = back.filter(col("batch_id") === 1L)
    val scan = one.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.exists(_.toString.contains("batch_id")))
  }

  test("compactFunnel: folds old batch partitions into _hist, reports " +
    "stay complete and exactly-once through folds, redelivery, and " +
    "mixed schemas") {
    import graft.streaming.StreamingIngest.{compactFunnel, readFunnel}
    val dir = tmp("funnel_compact") + "/funnel"
    val sink = new StreamPipeline.IdempotentFileSink(dir)
    // batches 0-1 predate an engine upgrade (no n_fuzzy_killed tier);
    // 2-4 carry it — the fold must merge generations like the report
    (0L to 1L).foreach(b =>
      sink.write(Seq((100L + b, 10L + b)).toDF("n_in", "n_kept"), b))
    (2L to 4L).foreach(b =>
      sink.write(Seq((100L + b, 10L + b, b))
        .toDF("n_in", "n_kept", "n_fuzzy_killed"), b))
    def totals(): (Long, Long, Long) = {
      val r = readFunnel(spark, dir).agg(
        sum(coalesce(col("n_in"), lit(0L))),
        sum(coalesce(col("n_kept"), lit(0L))),
        sum(coalesce(col("n_fuzzy_killed"), lit(0L)))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val want = totals()
    assert(want === ((510L, 60L, 9L)))

    val (folded, histRows) = compactFunnel(spark, dir, keepLast = 2)
    assert(folded === 3L && histRows === 3L)
    // live keeps exactly the 2 newest batches; history holds the rest
    // keyed by batch_id as a data column
    assert(spark.read.parquet(dir).select("batch_id").distinct()
      .collect().map(_.getInt(0)).sorted === Array(3, 4))
    assert(spark.read.parquet(s"${dir}_hist").select("batch_id")
      .collect().map(_.getLong(0)).sorted === Array(0L, 1L, 2L))
    assert(totals() === want, "the report must not change across a fold")
    // idempotent: nothing newly foldable
    assert(compactFunnel(spark, dir, keepLast = 2) === ((0L, 3L)))
    assert(totals() === want)

    // redelivery AFTER the fold: batch 1 rewrites its live partition;
    // the report reads the replacement once (live wins over its stale
    // history row — no double count)
    sink.write(Seq((200L, 20L)).toDF("n_in", "n_kept"), 1L)
    assert(totals() === ((609L, 69L, 9L)))
    // the next fold REPLACES batch 1's stale history row
    val (folded2, histRows2) = compactFunnel(spark, dir, keepLast = 2)
    assert(folded2 === 1L && histRows2 === 3L)
    val hist = spark.read.parquet(s"${dir}_hist")
    assert(hist.groupBy("batch_id").count()
      .filter(col("count") > 1L).count() === 0L,
      "history must never hold two rows for one batch")
    assert(hist.filter(col("batch_id") === 1L)
      .head().getAs[Long]("n_in") === 200L)
    assert(totals() === ((609L, 69L, 9L)))

    // CLI form
    val res = graft.Main.run(spark, "store",
      Map("compact-funnel" -> dir, "keep" -> "1"))
    assert(res.contains(""""folded_batches":1""") &&
      res.contains(""""hist_rows":4"""), res)
    assert(totals() === ((609L, 69L, 9L)))
  }

  test("statsIngest exactlyOnce: redelivered snapshot replaces, totals stable") {
    import graft.operators.CorpusStats
    val statsDir = tmp("stats_idem") + "/stats"
    val b = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text")
    CorpusStats.appendSnapshotIdempotent(b, "text", statsDir, batchId = 7L)
    CorpusStats.appendSnapshotIdempotent(b, "text", statsDir, batchId = 7L)
    val rep = CorpusStats.report(
      CorpusStats.merge(spark.read.parquet(statsDir))).head()
    assert(rep.getAs[Long]("n_docs") === 2L,
      "redelivered batch 7 must not double-count")
    assert(rep.getAs[Long]("sum_tokens") === 3L)
  }

  test("mixDriftIngest: on-mix batches pass, a skewed batch flags " +
    "the worst source") {
    import graft.operators.Mix
    implicit val sc = spark.sqlContext
    val targetPath = tmp("mix_target") + "/target"
    Seq(("a", 4000L), ("b", 4000L), ("c", 2000L))
      .toDF("source", "weight_bp").write.parquet(targetPath)
    val monPath = tmp("mix_mon") + "/monitor"
    var verdicts = List.empty[Mix.MixDrift]
    val stream = MemoryStream[(String, String)]
    val q = StreamingIngest.mixDriftIngest(
      stream.toDS().toDF("source", "text"), "source", "text",
      targetPath, monPath, tmp("mix_ckpt"), marginBp = 1500L,
      onBatch = d => verdicts synchronized { verdicts ::= d })
    try {
      // batch 0: 4 + 4 + 2 tokens → exactly on-mix
      stream.addData(("a", "w w w w"), ("b", "x x x x"), ("c", "y y"))
      q.processAllAvailable()
      // batch 1: 9 a + 1 b, no c → devs a 5000, b 3000, c 2000
      stream.addData(("a", "w w w w w w w w w"), ("b", "x"))
      q.processAllAvailable()
    } finally q.stop()
    val mon = spark.read.parquet(monPath).orderBy("batch_id").collect()
    assert(mon.length === 2)
    assert(!mon(0).getAs[Boolean]("drifted") &&
      mon(0).getAs[Long]("max_dev_bp") === 0L)
    assert(mon(1).getAs[Boolean]("drifted") &&
      mon(1).getAs[String]("worst_source") === "a" &&
      mon(1).getAs[Long]("max_dev_bp") === 5000L)
    assert(verdicts.count(_.drifted) === 1)
  }

  test("selectionIngest: stored DSIR weights gate each micro-batch, " +
    "funnel rows track the keep rate") {
    import graft.operators.Dsir
    implicit val sc = spark.sqlContext
    val target = Seq(1L -> "spark scala catalyst spark",
      2L -> "scala spark tungsten").toDF("doc_id", "text")
    val raw = Seq(10L -> "cobol fortran basic",
      11L -> "fortran cobol pascal basic").toDF("doc_id", "text")
    val wDir = tmp("dsir_w") + "/weights"
    Dsir.bucketWeights(target, raw, "text", buckets = 64)
      .write.mode("overwrite").parquet(wDir)
    val keptPath = tmp("dsir_kept") + "/kept"
    val monPath = tmp("dsir_mon") + "/monitor"
    val stream = MemoryStream[(Long, String)]
    // idCol literally named "id" pins the qualified-join fix (an
    // unqualified col("id") would be ambiguous here)
    val q = StreamingIngest.selectionIngest(
      stream.toDS().toDF("id", "text"), "id", "text",
      wDir, keptPath, monPath, tmp("dsir_ckpt"), minCb = 0L)
    try {
      // batch 0: 2 target-like + 1 raw-like + 1 blank (the length gate
      // must drop it even though its dsir_cb zero-fill passes minCb)
      stream.addData((100L, "spark scala catalyst"),
        (101L, "spark tungsten scala"), (102L, "cobol fortran basic"),
        (105L, "   "))
      q.processAllAvailable()
      // batch 1: all raw-like → keep rate collapses
      stream.addData((103L, "cobol basic fortran"),
        (104L, "pascal fortran cobol"))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(keptPath)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(100L, 101L),
      s"only target-like docs pass the gate, got $kept")
    val mon = spark.read.parquet(monPath).orderBy("batch_id").collect()
    assert(mon.length === 2)
    assert(mon(0).getAs[Long]("n_in") === 4L &&
      mon(0).getAs[Long]("n_kept") === 2L)
    assert(mon(1).getAs[Long]("n_in") === 2L &&
      mon(1).getAs[Long]("n_kept") === 0L &&
      mon(1).getAs[Long]("kept_bp") === 0L)
  }

  test("selectionIngest: a batch with kept and dropped rows runs " +
    "11 Spark jobs") {
    import graft.operators.Dsir
    implicit val sc = spark.sqlContext
    val target = Seq(1L -> "spark scala catalyst spark",
      2L -> "scala spark tungsten").toDF("doc_id", "text")
    val raw = Seq(10L -> "cobol fortran basic",
      11L -> "fortran cobol pascal basic").toDF("doc_id", "text")
    val wDir = tmp("dsir_jobs_w") + "/weights"
    Dsir.bucketWeights(target, raw, "text", buckets = 64)
      .write.mode("overwrite").parquet(wDir)
    val keptPath = tmp("dsir_jobs_kept") + "/kept"
    val monPath = tmp("dsir_jobs_mon") + "/monitor"
    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.selectionIngest(
      stream.toDS().toDF("id", "text"), "id", "text",
      wDir, keptPath, monPath, tmp("dsir_jobs_ckpt"), minCb = 0L)
    try {
      // a warm batch first: the pin is the steady-state batch
      stream.addData((100L, "spark scala catalyst"), (101L, "cobol basic"))
      q.processAllAvailable()
      val jobs = TestSpark.streamJobsOf(q) {
        stream.addData((200L, "spark tungsten scala"),
          (201L, "cobol fortran basic"), (202L, "catalyst spark"))
        q.processAllAvailable()
      }
      val mon = spark.read.parquet(monPath).filter($"batch_id" === 1L)
        .head()
      assert(mon.getAs[Long]("n_in") === 3L &&
        mon.getAs[Long]("n_kept") === 2L, mon.toString)
      assert(jobs === 11)
    } finally q.stop()
  }

  test("an empty micro-batch runs no body: no funnel or monitor row, no " +
    "callback, and the next batch lands normally") {
    import graft.operators.{Dsir, Vocab}
    implicit val sc = spark.sqlContext
    val base = tmp("empty_batch")
    val text = "the a spark scala catalyst tungsten " +
      (1 to 20).map(i => f"g$i%02dab").mkString(" ")
    val settled = Seq((1L, "the a settled corpus document " +
      (1 to 20).map(i => f"s$i%02dab").mkString(" "))).toDF("doc_id", "text")
    Dedup.minhashSignatures(settled, "doc_id", "text")
      .write.mode("overwrite").parquet(s"$base/sig")
    Dsir.bucketWeights(Seq(1L -> "spark scala catalyst tungsten")
        .toDF("doc_id", "text"),
      Seq(2L -> "cobol fortran basic").toDF("doc_id", "text"), "text",
      buckets = 64).write.mode("overwrite").parquet(s"$base/weights")
    Vocab.writeLm(settled, "text", s"$base/lm")

    val done = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val full = MemoryStream[(Long, String)]
    val qFull = StreamingIngest.fullIngest(full.toDS().toDF("id", "text"),
      "id", "text", s"$base/sig", s"$base/weights", s"$base/kept",
      s"$base/funnel", s"$base/stats", s"$base/ckpt_full", minWords = 5,
      onBatchDone = id => { done.add(id); () })
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    val lm = MemoryStream[(Long, String)]
    val qLm = StreamingIngest.lmDriftIngest(lm.toDS().toDF("id", "text"),
      "id", "text", s"$base/lm", s"$base/monitor", s"$base/ckpt_lm",
      baselineCb = 100L, onBatch = (_, _) => { fired.incrementAndGet(); () })
    try {
      full.addData()
      lm.addData()
      qFull.processAllAvailable()
      qLm.processAllAvailable()
      assert(qFull.lastProgress.batchId === 0L &&
        qLm.lastProgress.batchId === 0L, "the empty batch must run")
      assert(!new java.io.File(s"$base/funnel").exists() &&
        !new java.io.File(s"$base/monitor").exists() &&
        !new java.io.File(s"$base/kept").exists())
      assert(done.isEmpty && fired.get === 0)

      full.addData((100L, text))
      lm.addData((100L, text))
      qFull.processAllAvailable()
      qLm.processAllAvailable()
    } finally { qFull.stop(); qLm.stop() }
    def batchIds(path: String): Seq[Long] = spark.read.parquet(path)
      .select($"batch_id".cast("long")).as[Long].collect().toSeq
    assert(batchIds(s"$base/funnel") === Seq(1L))
    assert(batchIds(s"$base/kept") === Seq(1L))
    assert(batchIds(s"$base/monitor") === Seq(1L))
    assert(done.toArray.toSeq === Seq(1L) && fired.get === 1)
  }

  test("qualityIngest: rule gate + repetition family per micro-batch " +
    "with funnel attribution") {
    implicit val sc = spark.sqlContext
    val keptPath = tmp("qual_kept") + "/kept"
    val monPath = tmp("qual_mon") + "/monitor"
    // doc 3 passes every basic rule but repeats its 12-token opening
    // paragraph (the repetition-family kill); doc 2 dies at the rule
    // tier, so the family never sees it (funnel attribution)
    val p = "the quick brown fox jumped over a lazy dog near big river"
    val good = "the a " + (1 to 35).map(i => f"w$i%02dab").mkString(" ")
    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.qualityIngest(
      stream.toDS().toDF("id", "text"), "id", "text",
      keptPath, monPath, tmp("qual_ckpt"), minWords = 5,
      withRepetition = true)
    try {
      // the null-text doc must be dropped AND attributed to the RULE
      // tier (its verdicts are null — the repetition tier never saw it)
      stream.addData((1L, good), (2L, "too short"),
        (3L, s"$p $p and some more words after all"),
        (4L, null: String))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(keptPath)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L), s"got $kept")
    val mon = spark.read.parquet(monPath).collect()
    assert(mon.length === 1)
    assert(mon(0).getAs[Long]("n_in") === 4L &&
      mon(0).getAs[Long]("n_rule_killed") === 2L &&
      mon(0).getAs[Long]("n_rep_killed") === 1L &&
      mon(0).getAs[Long]("n_kept") === 1L &&
      mon(0).getAs[Long]("kept_bp") === 2500L, mon(0).toString)
  }

  test("lmDriftIngest: an off-distribution batch trips the rarity " +
    "verdict the OOV axis cannot see") {
    import graft.operators.Vocab
    implicit val sc = spark.sqlContext
    // reference: 'common' dominates, rare words exist IN VOCAB
    val corpus = ((1L to 20L).map(i => (i, "common common common common")) ++
      Seq(21L -> "rare1 rare2 rare3 rare4"))
      .toDF("doc_id", "text")
    val lmDir = tmp("lmdrift") + "/lm"
    Vocab.writeLm(corpus, "text", lmDir)
    val monPath = tmp("lmdrift_mon") + "/monitor"
    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.lmDriftIngest(
      stream.toDS().toDF("id", "text"), "id", "text",
      lmDir, monPath, tmp("lmdrift_ckpt"),
      baselineCb = 100L, driftFactor = 1.5, marginCb = 50L)
    try {
      // batch 0: common-shaped -> low surprisal, no drift
      stream.addData((100L, "common common common"),
        (101L, "common common"))
      q.processAllAvailable()
      // batch 1: all in-vocab RARE words -> high surprisal, drift
      // (zero OOV — vocabDrift would pass this batch)
      stream.addData((102L, "rare1 rare2 rare3"),
        (103L, "rare4 rare1 rare2"))
      q.processAllAvailable()
    } finally q.stop()
    val mon = spark.read.parquet(monPath).orderBy("batch_id").collect()
    assert(mon.length === 2)
    assert(!mon(0).getAs[Boolean]("drifted"),
      s"in-distribution batch must pass: ${mon(0)}")
    assert(mon(1).getAs[Boolean]("drifted"),
      s"rare-token batch must drift: ${mon(1)}")
    assert(mon(1).getAs[Long]("mean_surprisal_cb") >
      mon(0).getAs[Long]("mean_surprisal_cb"))
  }

  test("relevanceIngest: the stored BM25 index gates each batch by " +
    "relevance without rescanning the corpus", Slow) {
    import graft.operators.Rank
    implicit val sc = spark.sqlContext
    // settled corpus: a mostly off-topic background so the probe terms
    // carry high idf
    val corpus = (Seq(1L -> "spark catalyst tungsten engine",
      2L -> "spark shuffle exchange plan") ++
      (10L to 29L).map(i => i -> "cobol fortran basic pascal algol"))
      .toDF("doc_id", "text")
    val idx = tmp("rel_idx") + "/idx"
    Rank.buildBm25Index(corpus, "doc_id", "text", idx, nBuckets = 8)
    val keptPath = tmp("rel_kept") + "/kept"
    val monPath = tmp("rel_mon") + "/monitor"
    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.relevanceIngest(
      stream.toDS().toDF("id", "text"), "id", "text",
      idx, Seq("spark", "catalyst"), keptPath, monPath,
      tmp("rel_ckpt"), minScoreE4 = 1L)
    try {
      stream.addData((100L, "spark catalyst deep dive"),
        (101L, "cobol payroll batch job"), (102L, "   "))
      q.processAllAvailable()
      stream.addData((103L, "fortran numerics"), (104L, "basic tutorial"))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(keptPath)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(100L), s"only the on-topic doc passes, got $kept")
    val mon = spark.read.parquet(monPath).orderBy("batch_id").collect()
    assert(mon.length === 2)
    assert(mon(0).getAs[Long]("n_in") === 3L &&
      mon(0).getAs[Long]("n_kept") === 1L)
    assert(mon(1).getAs[Long]("n_kept") === 0L &&
      mon(1).getAs[Long]("kept_bp") === 0L)
  }

  test("motifIngest: a planted spike batch matches the stored pattern; " +
    "a ramp batch does not") {
    import graft.operators.Motif
    implicit val sc = spark.sqlContext
    val patternPath = tmp("motif_pattern") + "/pattern"
    Motif.writePattern(spark, Seq(0L, 2L, 8L, 2L, 0L), patternPath)
    assert(Motif.readPattern(spark, patternPath) ===
      Seq(0L, 2L, 8L, 2L, 0L))
    val monPath = tmp("motif_mon") + "/monitor"
    var scores = List.empty[Option[Long]]
    /** n events inside 60-s bucket b of epoch-hour `h`. */
    def bucketEvents(h: Long, b: Long, n: Int): Seq[java.sql.Timestamp] =
      (0 until n).map(i =>
        new java.sql.Timestamp((h * 3600 + b * 60 + (i % 60)) * 1000L))
    val stream = MemoryStream[java.sql.Timestamp]
    val q = StreamingIngest.motifIngest(
      stream.toDS().toDF("ts"), "ts", patternPath, monPath,
      tmp("motif_ckpt"), bucketSec = 60, alertE4 = 9000L,
      onBatch = s => scores.synchronized { scores ::= s })
    try {
      // batch 0: a monotone ramp 1..6 — no window resembles the spike
      stream.addData((0 until 6).flatMap(b =>
        bucketEvents(0L, b.toLong, b + 1)))
      q.processAllAvailable()
      // batch 1: the planted spike 1,1,3,9,3,1,1 — an exact affine
      // match of the stored pattern (correlation 1.0)
      stream.addData(Seq(1, 1, 3, 9, 3, 1, 1).zipWithIndex.flatMap {
        case (n, b) => bucketEvents(1L, b.toLong, n)
      })
      q.processAllAvailable()
    } finally q.stop()
    val mon = spark.read.parquet(monPath).orderBy("batch_id").collect()
    assert(mon.length === 2, mon.toSeq.toString)
    assert(!mon(0).getAs[Boolean]("matched") &&
      mon(0).getAs[Long]("score_e4") < 9000L, mon(0).toString)
    assert(mon(1).getAs[Boolean]("matched") &&
      mon(1).getAs[Long]("score_e4") === 10000L, mon(1).toString)
    assert(scores.flatten.contains(10000L))
  }

  test("fullIngest: the composed chain kills one planted pathology per " +
    "tier and attributes each in ONE funnel row", Slow) {
    import graft.operators.{Dsir, Vocab}
    implicit val sc = spark.sqlContext
    val base = tmp("full_ingest")

    // settled state: one corpus doc the dup plant will verbatim-copy
    val p = "the quick brown fox jumped over a lazy dog near big river"
    val settledText = "the a settled corpus document about data " +
      (1 to 30).map(i => f"s$i%02dab").mkString(" ")
    val settled = Seq((1L, settledText)).toDF("doc_id", "text")
    val sigDir = s"$base/sig"
    Dedup.minhashSignatures(settled, "doc_id", "text")
      .write.mode("overwrite").parquet(sigDir)

    // stored DSIR weights: spark-flavored target vs cobol-flavored raw
    val target = Seq(1L -> "spark scala catalyst spark",
      2L -> "scala spark tungsten").toDF("doc_id", "text")
    val raw = Seq(10L -> "cobol fortran basic",
      11L -> "fortran cobol pascal basic").toDF("doc_id", "text")
    val wDir = s"$base/weights"
    Dsir.bucketWeights(target, raw, "text", buckets = 64)
      .write.mode("overwrite").parquet(wDir)

    // stored vocabulary from the settled corpus: the batch's novel
    // filler words are all OOV -> the drift monitor must fire
    val vocabDir = s"$base/vocab"
    Vocab.writeVocab(settled, "text", topK = 64, vocabDir)

    val keptPath = s"$base/kept"
    val funnelPath = s"$base/funnel"
    val statsPath = s"$base/stats"

    // planted pathologies, one per tier:
    val good = "the a spark scala catalyst tungsten " +
      (1 to 30).map(i => f"g$i%02dab").mkString(" ")          // keeps
    val short = "too short"                                    // rules
    val repetitive = s"$p $p and some more words after all"    // family
    val dup = settledText                                      // screen
    val offTarget = "the a cobol fortran basic pascal " +
      (1 to 30).map(i => f"c$i%02dab").mkString(" ")           // DSIR

    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.fullIngest(
      stream.toDS().toDF("id", "text"), "id", "text",
      sigDir, wDir, keptPath, funnelPath, statsPath,
      s"$base/ckpt", vocabPath = Some(vocabDir),
      minWords = 5, withRepetition = true, minCb = 0L)
    try {
      stream.addData((100L, good), (101L, short), (102L, repetitive),
        (103L, dup), (104L, offTarget))
      q.processAllAvailable()
      // a second, clean batch: the funnel keeps attributing per batch
      stream.addData((200L, "the a spark tungsten catalyst " +
        (1 to 30).map(i => f"h$i%02dab").mkString(" ")))
      q.processAllAvailable()
    } finally q.stop()

    val kept = spark.read.parquet(keptPath)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(100L, 200L), s"got $kept")

    val mon = spark.read.parquet(funnelPath).orderBy("batch_id")
      .collect()
    assert(mon.length === 2)
    val m0 = mon(0)
    assert(m0.getAs[Long]("n_in") === 5L, m0.toString)
    assert(m0.getAs[Long]("n_rule_killed") === 1L, m0.toString)
    assert(m0.getAs[Long]("n_rep_killed") === 1L, m0.toString)
    assert(m0.getAs[Long]("n_dup_killed") === 1L, m0.toString)
    assert(m0.getAs[Long]("n_sel_killed") === 1L, m0.toString)
    assert(m0.getAs[Long]("n_kept") === 1L &&
      m0.getAs[Long]("kept_bp") === 2000L, m0.toString)
    // the drift monitor fires on the novel-vocabulary feed
    assert(m0.getAs[Long]("oov_bp") > 0L &&
      m0.getAs[Boolean]("drifted"), m0.toString)
    val m1 = mon(1)
    assert(m1.getAs[Long]("n_in") === 1L &&
      m1.getAs[Long]("n_kept") === 1L, m1.toString)

    // settled-state accounting: one mergeable stats snapshot per batch
    val rep = graft.operators.CorpusStats.readReport(spark, statsPath)
      .head()
    assert(rep.getAs[Long]("n_docs") === 2L, rep.toString)
  }

  test("fullIngest decon tier: a doc leaking eval n-grams dies BEFORE " +
    "signing and attributes as n_decon_killed; its signature never " +
    "settles", Slow) {
    import graft.operators.{Decontaminate, Dsir}
    implicit val sc = spark.sqlContext
    val base = tmp("full_ingest_decon")

    // settled signature store: one unrelated doc (nothing dups)
    val settled = Seq((1L, "the a completely unrelated settled text " +
      (1 to 30).map(i => f"z$i%02dab").mkString(" "))).toDF("doc_id", "text")
    val sigDir = s"$base/sig"
    Dedup.minhashSignatures(settled, "doc_id", "text")
      .write.mode("overwrite").parquet(sigDir)

    val target = Seq(1L -> "spark scala catalyst spark").toDF("doc_id", "text")
    val raw = Seq(10L -> "cobol fortran basic").toDF("doc_id", "text")
    val wDir = s"$base/weights"
    Dsir.bucketWeights(target, raw, "text", buckets = 64)
      .write.mode("overwrite").parquet(wDir)

    // STORED eval-gram index over one benchmark passage
    val evalPassage = "alpha bravo charlie delta echo foxtrot golf " +
      "hotel india juliet"
    val deconDir = s"$base/evalidx"
    Decontaminate.evalGramIndex(
        Seq((900L, evalPassage)).toDF("doc_id", "text"), "text", n = 8)
      .write.mode("overwrite").parquet(deconDir)

    val leak = s"the a spark scala $evalPassage " +
      (1 to 30).map(i => f"l$i%02dab").mkString(" ")
    val clean = "the a spark scala catalyst tungsten " +
      (1 to 30).map(i => f"c$i%02dab").mkString(" ")

    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.fullIngest(
      stream.toDS().toDF("id", "text"), "id", "text",
      sigDir, wDir, s"$base/kept", s"$base/funnel", s"$base/stats",
      s"$base/ckpt", minWords = 5, minCb = -1000000L,
      deconIndexPath = Some(deconDir))
    try {
      stream.addData((100L, leak), (101L, clean))
      q.processAllAvailable()
    } finally q.stop()

    val kept = spark.read.parquet(s"$base/kept")
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(101L), s"got $kept")
    val m = spark.read.parquet(s"$base/funnel").collect().head
    assert(m.getAs[Long]("n_in") === 2L &&
      m.getAs[Long]("n_rule_killed") === 0L &&
      m.getAs[Long]("n_decon_killed") === 1L &&
      m.getAs[Long]("n_dup_killed") === 0L &&
      m.getAs[Long]("n_kept") === 1L, m.toString)
    // the contaminated doc was killed BEFORE signing: only the clean
    // doc's signature settled — contaminated text never reaches the
    // index future batches screen against
    val settledIds = spark.read
      .parquet(StreamingIngest.settledSigPath(sigDir))
      .select($"id").distinct().collect().map(_.getLong(0)).toSet
    assert(settledIds === Set(101L), s"got $settledIds")
    graft.core.Caching.releaseAll()
  }

  test("fullIngest fuzzy decon tier: a one-token-changed near-copy of " +
    "an eval item dies in-stream (paraphrase leakage the exact tier " +
    "cannot see) and redelivery reproduces the batch", Slow) {
    import graft.operators.Dsir
    implicit val sc = spark.sqlContext
    val base = tmp("full_ingest_fuzzy")

    val settled = Seq((1L, "the a completely unrelated settled text " +
      (1 to 30).map(i => f"z$i%02dab").mkString(" "))).toDF("doc_id", "text")
    val sigDir = s"$base/sig"
    Dedup.minhashSignatures(settled, "doc_id", "text")
      .write.mode("overwrite").parquet(sigDir)
    val wDir = s"$base/weights"
    Dsir.bucketWeights(
        Seq(1L -> "spark scala catalyst spark").toDF("doc_id", "text"),
        Seq(10L -> "cobol fortran basic").toDF("doc_id", "text"),
        "text", buckets = 64)
      .write.mode("overwrite").parquet(wDir)

    // STORED eval minhash signatures, signed with the ingest's params
    val evalText = "the a held out benchmark passage " +
      (1 to 40).map(i => f"e$i%02dab").mkString(" ")
    val fuzzyDir = s"$base/evalsigs"
    Dedup.minhashSignatures(
        Seq((900L, evalText)).toDF("doc_id", "text"), "doc_id", "text")
      .write.mode("overwrite").parquet(fuzzyDir)

    // one token changed: every exact 8-gram window around the change
    // breaks but shingle-jaccard stays ~0.93 — exactly the leak the
    // exact tier is blind to
    val nearCopy = evalText.replace("e40ab", "e40zz")
    val clean = "the a spark scala catalyst tungsten " +
      (1 to 30).map(i => f"c$i%02dab").mkString(" ")
    val ckpt = s"$base/ckpt"
    def start(stream: MemoryStream[(Long, String)]) =
      StreamingIngest.fullIngest(
        stream.toDS().toDF("id", "text"), "id", "text",
        sigDir, wDir, s"$base/kept", s"$base/funnel", s"$base/stats",
        ckpt, minWords = 5, minCb = -1000000L,
        fuzzyEvalSigsPath = Some(fuzzyDir))
    val stream = MemoryStream[(Long, String)]
    val q = start(stream)
    try {
      stream.addData((100L, nearCopy), (101L, clean))
      q.processAllAvailable()
    } finally q.stop()

    def keptIds(): Set[Long] = spark.read.parquet(s"$base/kept")
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(keptIds() === Set(101L))
    val m = spark.read.parquet(s"$base/funnel").collect().head
    assert(m.getAs[Long]("n_fuzzy_killed") === 1L &&
      m.getAs[Long]("n_decon_killed") === 0L &&
      m.getAs[Long]("n_dup_killed") === 0L &&
      m.getAs[Long]("n_kept") === 1L, m.toString)
    // the leaked near-copy never settled
    val settledIds = spark.read
      .parquet(StreamingIngest.settledSigPath(sigDir))
      .select($"id").distinct().collect().map(_.getLong(0)).toSet
    assert(settledIds === Set(101L), s"got $settledIds")

    // crash-window redelivery: sinks landed, checkpoint commit lost —
    // the replayed batch must reproduce its outputs bit-for-bit
    // through the fuzzy tier too
    val commit = new java.io.File(s"$ckpt/commits/0")
    assert(commit.exists && commit.delete())
    val crc = new java.io.File(s"$ckpt/commits/.0.crc")
    if (crc.exists) assert(crc.delete())
    val q2 = start(stream)
    try q2.processAllAvailable() finally q2.stop()
    assert(keptIds() === Set(101L),
      "redelivery must reproduce the kept set")
    val funnel2 = spark.read.parquet(s"$base/funnel").collect()
    assert(funnel2.length === 1 &&
      funnel2.head.getAs[Long]("n_fuzzy_killed") === 1L, funnel2.toSeq)
    graft.core.Caching.releaseAll()
  }

  test("fullIngest decon redact mode: leaked eval spans are CUT (doc " +
    "survives, signs from post-cut text); untouched docs land " +
    "byte-identical", Slow) {
    import graft.operators.{Decontaminate, Dsir}
    implicit val sc = spark.sqlContext
    val base = tmp("full_ingest_decon_redact")

    val settled = Seq((1L, "the a completely unrelated settled text " +
      (1 to 30).map(i => f"z$i%02dab").mkString(" "))).toDF("doc_id", "text")
    val sigDir = s"$base/sig"
    Dedup.minhashSignatures(settled, "doc_id", "text")
      .write.mode("overwrite").parquet(sigDir)
    val wDir = s"$base/weights"
    Dsir.bucketWeights(
        Seq(1L -> "spark scala catalyst").toDF("doc_id", "text"),
        Seq(10L -> "cobol fortran basic").toDF("doc_id", "text"),
        "text", buckets = 64)
      .write.mode("overwrite").parquet(wDir)
    val evalPassage = "alpha bravo charlie delta echo foxtrot golf " +
      "hotel india juliet"
    val deconDir = s"$base/evalidx"
    Decontaminate.evalGramIndex(
        Seq((900L, evalPassage)).toDF("doc_id", "text"), "text", n = 8)
      .write.mode("overwrite").parquet(deconDir)

    val prefix = "the a spark scala " +
      (1 to 20).map(i => f"l$i%02dab").mkString(" ")
    val leak = s"$prefix $evalPassage"
    // tabs would be normalized by a rewrite — byte-identity probe
    val clean = "the a\tspark scala catalyst  tungsten " +
      (1 to 30).map(i => f"c$i%02dab").mkString(" ")

    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.fullIngest(
      stream.toDS().toDF("id", "text"), "id", "text",
      sigDir, wDir, s"$base/kept", s"$base/funnel", s"$base/stats",
      s"$base/ckpt", minWords = 5, minCb = -1000000L,
      deconIndexPath = Some(deconDir), deconMode = "redact")
    try {
      stream.addData((100L, leak), (101L, clean))
      q.processAllAvailable()
    } finally q.stop()

    val kept = spark.read.parquet(s"$base/kept")
      .select($"id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // BOTH docs survive; the leaked span (10 tokens) is cut exactly
    assert(kept.keySet === Set(100L, 101L), s"got ${kept.keySet}")
    assert(kept(100L) === prefix, s"got '${kept(100L)}'")
    assert(kept(101L) === clean,
      "untouched docs must land byte-identical (no token-rejoin sweep)")
    val m = spark.read.parquet(s"$base/funnel").collect().head
    assert(m.getAs[Long]("n_decon_killed") === 0L &&
      m.getAs[Long]("n_decon_tokens_cut") === 10L &&
      m.getAs[Long]("n_kept") === 2L, m.toString)
    // the settled signature is of the POST-cut text: a later batch
    // carrying the cut form dies as a dup, the PRE-cut form does not
    // match the settled index better than its cut twin
    val settledSigs = spark.read
      .parquet(StreamingIngest.settledSigPath(sigDir))
    val cutTwin = Seq((200L, prefix)).toDF("doc_id", "text")
    val hits = Dedup.incrementalNearDup(cutTwin, "doc_id", "text",
        settledSigs.select($"id", $"sh", $"bh"))
      .select($"corpus_id").collect().map(_.getLong(0)).toSet
    assert(hits === Set(100L),
      "the settled index must carry the post-cut signature")
    graft.core.Caching.releaseAll()
  }

  test("fullIngest self-settles: an intra-batch dup AND a dup arriving " +
    "two batches after its original both die; replay leaves the index " +
    "unchanged", Slow) {
    import graft.operators.Dsir
    implicit val sc = spark.sqlContext
    val base = tmp("full_ingest_settle")

    // settled state: one unrelated corpus doc (the cross-batch dup must
    // be killed by the RUN's settled appends, not by base content)
    val settled = Seq((1L, "the a settled corpus document about data " +
      (1 to 30).map(i => f"s$i%02dab").mkString(" "))).toDF("doc_id", "text")
    val sigDir = s"$base/sig"
    Dedup.minhashSignatures(settled, "doc_id", "text")
      .write.mode("overwrite").parquet(sigDir)

    val target = Seq(1L -> "spark scala catalyst spark",
      2L -> "scala spark tungsten").toDF("doc_id", "text")
    val raw = Seq(10L -> "cobol fortran basic",
      11L -> "fortran cobol pascal basic").toDF("doc_id", "text")
    val wDir = s"$base/weights"
    Dsir.bucketWeights(target, raw, "text", buckets = 64)
      .write.mode("overwrite").parquet(wDir)

    // copyA passes every tier; copyB/copyC are one-token edits of it
    // (3-shingle jaccard ≈ 35/41 > 4/5)
    val good = "the a spark scala catalyst tungsten " +
      (1 to 30).map(i => f"g$i%02dab").mkString(" ")
    val copyA = "the a spark scala catalyst tungsten " +
      (1 to 34).map(i => f"w$i%02dab").mkString(" ")
    val copyB = copyA.replace("w34ab", "w34zz") // same batch as A
    val copyC = copyA.replace("w33ab", "w33zz") // two batches later
    val clean1 = "the a spark tungsten catalyst " +
      (1 to 30).map(i => f"h$i%02dab").mkString(" ")

    val keptPath = s"$base/kept"
    val funnelPath = s"$base/funnel"
    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.fullIngest(
      stream.toDS().toDF("id", "text"), "id", "text",
      sigDir, wDir, keptPath, funnelPath, s"$base/stats",
      s"$base/ckpt", minWords = 5, minCb = 0L)
    try {
      // batch 0: good + the intra-batch near-dup pair (110 canonical)
      stream.addData((100L, good), (110L, copyA), (111L, copyB))
      q.processAllAvailable()
      // batch 1: clean
      stream.addData((200L, clean1))
      q.processAllAvailable()
      // batch 2: near-copy of 110, two batches after its original —
      // killable only via the settled appends
      stream.addData((300L, copyC))
      q.processAllAvailable()
    } finally q.stop()

    val kept = spark.read.parquet(keptPath)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(100L, 110L, 200L), s"got $kept")

    val mon = spark.read.parquet(funnelPath).orderBy("batch_id").collect()
    assert(mon.length === 3)
    assert(mon(0).getAs[Long]("n_in") === 3L &&
      mon(0).getAs[Long]("n_dup_killed") === 1L &&
      mon(0).getAs[Long]("n_kept") === 2L, mon(0).toString)
    assert(mon(2).getAs[Long]("n_in") === 1L &&
      mon(2).getAs[Long]("n_dup_killed") === 1L &&
      mon(2).getAs[Long]("n_kept") === 0L, mon(2).toString)

    // only KEPT docs settle, keyed by batch id
    val settledDir = StreamingIngest.settledSigPath(sigDir)
    def settledState(): Set[(Long, Long)] =
      spark.read.parquet(settledDir)
        .select($"batch_id".cast("long"), $"id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = settledState()
    assert(before === Set((0L, 100L), (0L, 110L), (1L, 200L)),
      s"got $before")

    // replayed batch: redelivering batch 0's settle write must leave
    // the index unchanged (overwrite-by-partition, not append)
    val replaySig = Dedup.minhashSignatures(
      Seq((100L, good), (110L, copyA)).toDF("id", "text"), "id", "text")
    new StreamPipeline.IdempotentFileSink(settledDir).write(replaySig, 0L)
    assert(settledState() === before, "replay changed the settled index")
  }

  test("fullIngest at-least-once REDELIVERY reproduces the batch: the " +
    "screen must not kill kept docs against their own settled " +
    "signatures", Slow) {
    import graft.operators.Dsir
    implicit val sc = spark.sqlContext
    val base = tmp("full_ingest_replay")
    val settled = Seq((1L, "the a settled corpus document about data " +
      (1 to 30).map(i => f"s$i%02dab").mkString(" "))).toDF("doc_id", "text")
    val sigDir = s"$base/sig"
    Dedup.minhashSignatures(settled, "doc_id", "text")
      .write.mode("overwrite").parquet(sigDir)
    val target = Seq(1L -> "spark scala catalyst spark").toDF("doc_id", "text")
    val raw = Seq(10L -> "cobol fortran basic").toDF("doc_id", "text")
    val wDir = s"$base/weights"
    Dsir.bucketWeights(target, raw, "text", buckets = 64)
      .write.mode("overwrite").parquet(wDir)

    val good = "the a spark scala catalyst tungsten " +
      (1 to 30).map(i => f"g$i%02dab").mkString(" ")
    val ckpt = s"$base/ckpt"
    def start(stream: MemoryStream[(Long, String)]) =
      StreamingIngest.fullIngest(
        stream.toDS().toDF("id", "text"), "id", "text",
        sigDir, wDir, s"$base/kept", s"$base/funnel", s"$base/stats",
        ckpt, minWords = 5, minCb = 0L)

    val stream = MemoryStream[(Long, String)]
    val q1 = start(stream)
    try {
      stream.addData((100L, good))
      q1.processAllAvailable()
    } finally q1.stop()
    def keptIds(): Set[Long] = spark.read.parquet(s"$base/kept")
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(keptIds() === Set(100L))
    // the kept doc's signature settled under batch_id=0
    val settledIdx = StreamingIngest.settledSigPath(sigDir)
    assert(spark.read.parquet(settledIdx).count() === 1L)

    // simulate the at-least-once crash window: the batch ran to
    // completion (all sinks written, signatures settled) but the
    // checkpoint commit was lost — delete commits/0 and restart on the
    // SAME source + checkpoint, so Structured Streaming REDELIVERS
    // batch 0 with its outputs already on disk
    val commit = new java.io.File(s"$ckpt/commits/0")
    assert(commit.exists, "test setup: expected a commit marker for batch 0")
    assert(commit.delete())
    // the local checksum FS leaves a .crc sidecar that would block the
    // redelivered commit's rename — remove it with the marker
    val crc = new java.io.File(s"$ckpt/commits/.0.crc")
    if (crc.exists) assert(crc.delete())
    val q2 = start(stream)
    try q2.processAllAvailable() finally q2.stop()

    // the redelivered batch must REPRODUCE its outputs, not destroy
    // them: kept docs survive (not killed as dups of their own settled
    // signatures) and the settle partition is replaced, not emptied
    assert(keptIds() === Set(100L),
      "redelivery must reproduce the kept set, not empty it")
    val funnel = spark.read.parquet(s"$base/funnel").collect()
    assert(funnel.length === 1 &&
      funnel.head.getAs[Long]("n_dup_killed") === 0L, funnel.toSeq)
    assert(spark.read.parquet(settledIdx).count() === 1L)
  }

  test("fullIngest long-match tier: settled substrings get CUT (doc " +
    "survives) with funnel attribution; untouched docs land " +
    "byte-identical; cut docs settle POST-cut signatures", Slow) {
    import graft.operators.Dsir
    implicit val sc = spark.sqlContext
    val base = tmp("full_ingest_lm")
    def ws(p: String, n: Int) = (1 to n).map(i => s"$p$i")

    // settled near-dup signature store: one unrelated doc
    val settled = Seq((1L, "the a settled corpus document about data " +
      (1 to 30).map(i => f"s$i%02dab").mkString(" "))).toDF("doc_id", "text")
    val sigDir = s"$base/sig"
    Dedup.minhashSignatures(settled, "doc_id", "text")
      .write.mode("overwrite").parquet(sigDir)
    // settled long-match window index: carries a 14-token run
    val run = ws("dup", 14)
    val lmDir = s"$base/lmidx"
    Dedup.longMatchIndex(
        Seq((2L, (ws("pre", 3) ++ run ++ ws("post", 2)).mkString(" ")))
          .toDF("doc_id", "text"), "doc_id", "text", minLen = 10)
      .write.mode("overwrite").parquet(lmDir)
    val wDir = s"$base/weights"
    Dsir.bucketWeights(
        Seq(1L -> "spark scala catalyst spark").toDF("doc_id", "text"),
        Seq(10L -> "cobol fortran basic").toDF("doc_id", "text"),
        "text", buckets = 64)
      .write.mode("overwrite").parquet(wDir)

    // doc 100 embeds the settled run inside novel prose; doc 200 is
    // clean AND carries irregular whitespace (the byte-identity pin —
    // the tier must not rewrite docs it did not cut)
    val lead = Seq("the", "a", "spark", "scala", "catalyst",
      "tungsten") ++ ws("novel", 24)
    val tail = ws("end", 6)
    val cutDocText = (lead ++ run ++ tail).mkString(" ")
    val cleanText = "the a spark  tungsten\tcatalyst " +
      (1 to 30).map(i => f"h$i%02dab").mkString(" ")

    val keptPath = s"$base/kept"
    val funnelPath = s"$base/funnel"
    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.fullIngest(
      stream.toDS().toDF("id", "text"), "id", "text",
      sigDir, wDir, keptPath, funnelPath, s"$base/stats",
      s"$base/ckpt", minWords = 5, minCb = 0L,
      lmIndexPath = Some(lmDir), lmMinLen = 10)
    try {
      stream.addData((100L, cutDocText), (200L, cleanText))
      q.processAllAvailable()
      // batch 1: a near-copy of doc 100's POST-cut text must die via
      // the settled appends — proving the re-signed (post-cut)
      // signature is what settled
      val postCut = (lead ++ tail).mkString(" ")
      stream.addData((300L, postCut.replace("end6", "end6z")))
      q.processAllAvailable()
    } finally q.stop()

    val kept = spark.read.parquet(keptPath)
      .select($"id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept.keySet === Set(100L, 200L))
    // the run is cut, surrounding prose survives in order
    assert(kept(100L) === (lead ++ tail).mkString(" "), kept(100L))
    // untouched docs land byte-identical (tabs + double spaces intact)
    assert(kept(200L) === cleanText, kept(200L))

    val funnel = spark.read.parquet(funnelPath).orderBy("batch_id")
      .collect()
    assert(funnel.length === 2)
    assert(funnel(0).getAs[Long]("n_lm_tokens_cut") === 14L &&
      funnel(0).getAs[Long]("n_kept") === 2L, funnel(0).toString)
    assert(funnel(1).getAs[Long]("n_dup_killed") === 1L &&
      funnel(1).getAs[Long]("n_kept") === 0L, funnel(1).toString)

    // the settled sidecar carries the POST-cut signature for doc 100
    // and the original-text signature for doc 200
    val settledSig = spark.read
      .parquet(StreamingIngest.settledSigPath(sigDir))
    val expected = Dedup.minhashSignatures(
      Seq((100L, (lead ++ tail).mkString(" ")), (200L, cleanText))
        .toDF("id", "text"), "id", "text")
    val gotSh = settledSig.select($"id", $"sh").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val expSh = expected.select($"id", $"sh").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(gotSh === expSh)
  }

  test("fullIngest long-match tier is redelivery-idempotent: the " +
    "crash-window replay reproduces kept text, funnel and settled " +
    "signatures", Slow) {
    import graft.operators.Dsir
    implicit val sc = spark.sqlContext
    // heaviest streaming e2e in the suite (two composed ingest runs):
    // start from a clean storage-memory slate so cached blocks earlier
    // suites tracked cannot push the crash-window replay into the heap
    // ceiling
    graft.core.Caching.releaseAll()
    val base = tmp("full_ingest_lm_replay")
    def ws(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    val settled = Seq((1L, "the a settled corpus document about data " +
      (1 to 30).map(i => f"s$i%02dab").mkString(" "))).toDF("doc_id", "text")
    val sigDir = s"$base/sig"
    Dedup.minhashSignatures(settled, "doc_id", "text")
      .write.mode("overwrite").parquet(sigDir)
    val run = ws("dup", 14)
    val lmDir = s"$base/lmidx"
    Dedup.longMatchIndex(
        Seq((2L, (ws("pre", 3) ++ run ++ ws("post", 2)).mkString(" ")))
          .toDF("doc_id", "text"), "doc_id", "text", minLen = 10)
      .write.mode("overwrite").parquet(lmDir)
    val wDir = s"$base/weights"
    Dsir.bucketWeights(
        Seq(1L -> "spark scala catalyst spark").toDF("doc_id", "text"),
        Seq(10L -> "cobol fortran basic").toDF("doc_id", "text"),
        "text", buckets = 64)
      .write.mode("overwrite").parquet(wDir)
    val cutDocText = (Seq("the", "a", "spark", "scala", "catalyst",
      "tungsten") ++ ws("novel", 24) ++ run ++ ws("end", 6)).mkString(" ")
    val ckpt = s"$base/ckpt"
    def start(stream: MemoryStream[(Long, String)]) =
      StreamingIngest.fullIngest(
        stream.toDS().toDF("id", "text"), "id", "text",
        sigDir, wDir, s"$base/kept", s"$base/funnel", s"$base/stats",
        ckpt, minWords = 5, minCb = 0L,
        lmIndexPath = Some(lmDir), lmMinLen = 10)

    val stream = MemoryStream[(Long, String)]
    val q1 = start(stream)
    try {
      stream.addData((100L, cutDocText))
      q1.processAllAvailable()
    } finally q1.stop()
    def state() = (
      spark.read.parquet(s"$base/kept").select($"id", $"text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet,
      spark.read.parquet(s"$base/funnel")
        .select($"n_lm_tokens_cut", $"n_dup_killed", $"n_kept").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
      spark.read.parquet(StreamingIngest.settledSigPath(sigDir))
        .select($"id", $"sh").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toSet)).toSet)
    val before = state()
    assert(before._2 === Set((14L, 0L, 1L)), before._2)

    // the at-least-once crash window: outputs on disk, commit lost
    val commit = new java.io.File(s"$ckpt/commits/0")
    assert(commit.exists && commit.delete())
    val crc = new java.io.File(s"$ckpt/commits/.0.crc")
    if (crc.exists) assert(crc.delete())
    val q2 = start(stream)
    try q2.processAllAvailable() finally q2.stop()
    assert(state() === before,
      "lm-tier redelivery must reproduce kept/funnel/settled exactly")
  }

  test("removeFromSignatureIndex retracts from the base store AND the " +
    "settled sidecar; the screen stops killing copies of retracted " +
    "content; strict presence refuses unknown ids") {
    val mk = (seed: Char, n: Int) =>
      (1 to n).map(i => f"$seed$i%02dab").mkString(" ")
    val d1 = s"the a ${mk('p', 30)}"
    val d2 = s"the a ${mk('q', 30)}"
    val d50 = s"the a ${mk('z', 30)}"
    val base = tmp("sig_retract")
    val sigDir = s"$base/sig"
    Dedup.minhashSignatures(
        Seq((1L, d1), (2L, d2)).toDF("doc_id", "text"), "doc_id", "text")
      .write.mode("overwrite").parquet(sigDir)
    // a settled sidecar partition, the fullIngest layout
    Dedup.minhashSignatures(
        Seq((50L, d50)).toDF("doc_id", "text"), "doc_id", "text")
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(0L))
      .write.partitionBy("batch_id")
      .parquet(StreamingIngest.settledSigPath(sigDir))

    // sanity: near-copies of 1 and 50 are killed pre-retraction
    val copies = Seq((100L, d1.replace("p30ab", "p30zz")),
      (101L, d50.replace("z30ab", "z30zz"))).toDF("doc_id", "text")
    def kills(): Set[Long] = {
      // the corpusSigWithSettled shape: read the sidecar only when it
      // still has batch partitions (retraction may have emptied it)
      val sp = StreamingIngest.settledSigPath(sigDir)
      val hp = new org.apache.hadoop.fs.Path(sp + "/batch_id=*")
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hasParts = Option(fs.globStatus(hp)).exists(_.nonEmpty)
      val baseSig = spark.read.parquet(sigDir).select($"id", $"sh", $"bh")
      val corpus = if (!hasParts) baseSig
        else baseSig.union(
          spark.read.parquet(sp).select($"id", $"sh", $"bh"))
      Dedup.incrementalNearDup(copies, "doc_id", "text", corpus)
        .select($"batch_id").collect().map(_.getLong(0)).toSet
    }
    assert(kills() === Set(100L, 101L))

    val (baseRows, settledParts) = Dedup.removeFromSignatureIndex(
      spark, Seq(1L, 50L).toDF("id"), sigDir)
    assert(baseRows === 1L && settledParts === 1L)
    assert(spark.read.parquet(sigDir).select($"id").collect()
      .map(_.getLong(0)).toSeq === Seq(2L))
    // copies of retracted content now PASS the screen
    assert(kills() === Set.empty[Long])
    // strict presence: an unknown id refuses and mutates nothing
    intercept[IllegalArgumentException] {
      Dedup.removeFromSignatureIndex(spark, Seq(999L).toDF("id"), sigDir)
    }
    assert(spark.read.parquet(sigDir).count() === 1L)
    graft.core.Caching.releaseAll()
  }

  test("removeFromKept retracts docs from their batch partitions only; " +
    "strict presence refuses ids the corpus does not keep") {
    val base = tmp("kept_retract")
    val keptDir = s"$base/kept"
    Seq((1L, "one"), (2L, "two"))
      .toDF("doc_id", "text")
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(0L))
      .write.partitionBy("batch_id").parquet(keptDir)
    Seq((3L, "three")).toDF("doc_id", "text")
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(1L))
      .write.mode("append").partitionBy("batch_id").parquet(keptDir)
    val (rows, parts) = StreamingIngest.removeFromKept(
      spark, keptDir, Seq(2L).toDF("id"), "doc_id")
    assert(rows === 1L && parts === 1L)
    val left = spark.read.parquet(keptDir)
      .select($"doc_id", $"batch_id".cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(left === Set((1L, 0L), (3L, 1L)),
      "only the removed row leaves; the other partition is untouched")
    intercept[IllegalArgumentException] {
      StreamingIngest.removeFromKept(spark, keptDir,
        Seq(2L).toDF("id"), "doc_id")
    }
  }

  test("compactKept folds fragmented batch partitions to one file " +
    "each; reads serve bit-identically and the _schema marker survives") {
    val base = tmp("compact_kept")
    val keptDir = s"$base/kept"
    val sink = new StreamPipeline.IdempotentFileSink(keptDir)
    // fragment each partition: multi-partition frames land >1 file
    sink.write(Seq((1L, "one"), (2L, "two"), (3L, "three"))
      .toDF("doc_id", "text").repartition(3), 0L)
    sink.write(Seq((4L, "four"), (5L, "five"))
      .toDF("doc_id", "text").repartition(2), 1L)
    def rows(): Set[(Long, String, Long)] =
      spark.read.parquet(keptDir)
        .select($"doc_id", $"text", $"batch_id".cast("long"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
    val want = rows()
    val (before, after, np) = StreamingIngest.compactKept(spark, keptDir)
    assert(np === 2L && after < before && after === 2L,
      s"$before -> $after over $np partitions")
    assert(rows() === want, "compaction must not change a row")
    new java.io.File(keptDir).listFiles()
      .filter(_.getName.startsWith("batch_id=")).foreach { d =>
        val parts = d.listFiles().filter(f =>
          !f.getName.startsWith("_") && !f.getName.startsWith("."))
        assert(parts.length === 1, s"${d.getName}: ${parts.length}")
      }
    // the empty-store marker is untouched and the store still reads
    // through the contract path
    assert(new java.io.File(s"$keptDir/_schema").exists())
    assert(graft.core.Stores.readOrEmpty(spark, keptDir).count() === 5L)
  }

  test("compactSettled folds settled appends into the base store: " +
    "probe-equal before/after, params carried, sidecar cleared, " +
    "idempotent re-fold, param mismatch refuses", Slow) {
    import graft.operators.Dsir
    implicit val sc = spark.sqlContext
    val base = tmp("compact_settled")

    val settled = Seq((1L, "the a settled corpus document about data " +
      (1 to 30).map(i => f"s$i%02dab").mkString(" "))).toDF("doc_id", "text")
    val sigDir = s"$base/sig"
    Dedup.minhashSignatures(settled, "doc_id", "text")
      .write.mode("overwrite").parquet(sigDir)
    val wDir = s"$base/weights"
    Dsir.bucketWeights(
        Seq(1L -> "spark scala catalyst spark").toDF("doc_id", "text"),
        Seq(10L -> "cobol fortran basic").toDF("doc_id", "text"),
        "text", buckets = 64)
      .write.mode("overwrite").parquet(wDir)

    // two batches settle two kept docs into <sig>_settled
    val good = "the a spark scala catalyst tungsten " +
      (1 to 30).map(i => f"g$i%02dab").mkString(" ")
    val clean1 = "the a spark tungsten catalyst " +
      (1 to 30).map(i => f"h$i%02dab").mkString(" ")
    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.fullIngest(
      stream.toDS().toDF("id", "text"), "id", "text",
      sigDir, wDir, s"$base/kept", s"$base/funnel", s"$base/stats",
      s"$base/ckpt", minWords = 5, minCb = 0L)
    try {
      stream.addData((100L, good)); q.processAllAvailable()
      stream.addData((200L, clean1)); q.processAllAvailable()
    } finally q.stop()

    val (partsBefore, bytesBefore) =
      StreamingIngest.settledStats(spark, sigDir)
    assert(partsBefore === 2 && bytesBefore > 0L,
      s"got ($partsBefore, $bytesBefore)")

    // the probe: a near-copy of settled-append doc 100 plus a novel doc.
    // Before compaction the screen view is base ∪ settled appends;
    // after, the base store alone must flag the SAME rows.
    val probe = Seq(
      (300L, good.replace("g30ab", "g30zz")),
      (301L, "a fully novel probe document " +
        (1 to 30).map(i => f"n$i%02dab").mkString(" "))).toDF("id", "text")
    def flagged(corpusSig: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      Dedup.incrementalNearDupFromSigs(
          Dedup.minhashSignatures(probe, "id", "text"), corpusSig,
          shingleN = 3, k = 32, bands = 8, thrNum = 4, thrDen = 5,
          maxBucket = 1000)
        .select($"batch_id", $"corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val baseDf = spark.read.parquet(sigDir)
    val settledDf = spark.read
      .parquet(StreamingIngest.settledSigPath(sigDir))
    val before = flagged(baseDf.select($"id", $"sh", $"bh")
      .unionByName(settledDf.select($"id", $"sh", $"bh")))
    assert(before.nonEmpty && before.forall(_._1 === 300L), s"got $before")

    val (folded, nParts) = StreamingIngest.compactSettled(spark, sigDir)
    assert(folded === 2L && nParts === 2)
    // sidecar gone, stats zeroed
    assert(StreamingIngest.settledStats(spark, sigDir) === ((0, 0L)))
    assert(!new java.io.File(
      StreamingIngest.settledSigPath(sigDir)).exists())
    // base store = old base + both settled docs, params carried
    val compacted = spark.read.parquet(sigDir)
    assert(compacted.select($"id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 100L, 200L))
    val md = compacted.schema("bh").metadata
    assert(md.getLong("shingle_n") === 3L && md.getLong("minhash_k") === 32L
      && md.getLong("bands") === 8L)
    // probe-equality pin: the compacted base alone screens identically
    assert(flagged(compacted) === before)

    // idempotent re-fold (the crash window between promote and clear:
    // the sidecar content is back on disk but already folded)
    val keptSigs = compacted.filter($"id".isin(100L, 200L))
    val sidecar = StreamingIngest.settledSigPath(sigDir)
    new StreamPipeline.IdempotentFileSink(sidecar)
      .write(keptSigs.filter($"id" === 100L), 0L)
    new StreamPipeline.IdempotentFileSink(sidecar)
      .write(keptSigs.filter($"id" === 200L), 1L)
    val (refolded, _) = StreamingIngest.compactSettled(spark, sigDir)
    assert(refolded === 2L)
    val after = spark.read.parquet(sigDir)
    assert(after.count() === 3L, "re-fold must not duplicate signatures")
    assert(flagged(after) === before)

    // parameter mismatch refuses: a sidecar signed under different
    // parameters belongs to a different index
    new StreamPipeline.IdempotentFileSink(sidecar).write(
      Dedup.minhashSignatures(probe, "id", "text", shingleN = 2, k = 16,
        bands = 4), 0L)
    val e = intercept[IllegalArgumentException] {
      StreamingIngest.compactSettled(spark, sigDir)
    }
    assert(e.getMessage.contains("different index"), e.getMessage)
  }

  test("compactSettled with no sidecar is a no-op") {
    val base = tmp("compact_noop")
    val sigDir = s"$base/sig"
    Dedup.minhashSignatures(
        Seq((1L, "a settled corpus doc " +
          (1 to 30).map(i => f"s$i%02dab").mkString(" ")))
          .toDF("doc_id", "text"), "doc_id", "text")
      .write.mode("overwrite").parquet(sigDir)
    assert(StreamingIngest.compactSettled(spark, sigDir) === ((0L, 0)))
    assert(spark.read.parquet(sigDir).count() === 1L)
  }
}
