package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{Decontaminate, Dedup, Ivf, Rank}

/** Planted-corruption coverage for [[StoreVerify]]: every invariant
  * must pass on a freshly built store and FAIL — naming the violated
  * invariant — when its specific corruption is planted. The auditor is
  * only as good as its ability to catch the states it claims to catch.
  */
class StoreVerifySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmpBase(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_verify_$tag").toString

  private def failing(checks: Seq[StoreVerify.Check]): Set[String] =
    checks.filterNot(_.ok).map(_.invariant).toSet

  private val corpus = Seq(
    (1L, "alpha beta alpha gamma"),
    (2L, "beta gamma delta"),
    (3L, "")).toDF("doc_id", "text")

  private def freshBm25(dir: String): Unit =
    Rank.buildBm25Index(corpus, "doc_id", "text", dir, nBuckets = 8)

  test("bm25: a fresh store passes every invariant, including the " +
    "zero-token doc and the th multiset recompute") {
    val dir = s"${tmpBase("bm25clean")}/bm25"
    freshBm25(dir)
    val (family, checks) = StoreVerify.verify(spark, dir)
    assert(family === "bm25")
    assert(failing(checks).isEmpty, checks)
    assert(checks.map(_.invariant).toSet === Set("bm25_stats_doclen",
      "bm25_postings_doclen_ids", "bm25_tf_sum_dl",
      "bm25_bucket_routing", "bm25_th_multiset"))
  }

  test("bm25: drifted stats are caught by bm25_stats_doclen") {
    val dir = s"${tmpBase("bm25stats")}/bm25"
    freshBm25(dir)
    val st = spark.read.parquet(s"$dir/stats").head()
    Seq((st.getAs[Long]("n_docs") + 5L, st.getAs[Long]("total"),
        st.getAs[Long]("n_buckets")))
      .toDF("n_docs", "total", "n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats_bad")
    fs.delete(new Path(s"$dir/stats"), true)
    fs.rename(new Path(s"$dir/stats_bad"), new Path(s"$dir/stats"))
    assert(failing(StoreVerify.verify(spark, dir)._2)
      === Set("bm25_stats_doclen"))
  }

  test("bm25: orphan postings rows (a bad removal's leftovers) are " +
    "caught by the id-set check") {
    val dir = s"${tmpBase("bm25orphan")}/bm25"
    freshBm25(dir)
    // a doc id no doclen row knows — exactly what a removal that
    // deleted doclen but crashed before the postings swap leaves
    Seq(("zeta", 99L, 2L)).toDF("term", "id", "tf")
      .withColumn("tb", pmod(xxhash64($"term"), lit(8L)))
      .write.partitionBy("tb").mode("append").parquet(s"$dir/postings")
    assert(failing(StoreVerify.verify(spark, dir)._2)
      === Set("bm25_postings_doclen_ids"))
  }

  test("bm25: a misrouted postings row and a tf drift are caught") {
    val dir = s"${tmpBase("bm25route")}/bm25"
    freshBm25(dir)
    // doc 2 gains a forged extra 'beta' row in the WRONG bucket: the
    // routing check flags the bucket, the tf-sum check flags the count,
    // the multiset check flags the content
    val rightTb = spark.range(1)
      .select(pmod(xxhash64(lit("beta")), lit(8L))).head().getLong(0)
    Seq(("beta", 2L, 1L, (rightTb + 1) % 8)).toDF("term", "id", "tf", "tb")
      .write.partitionBy("tb").mode("append").parquet(s"$dir/postings")
    assert(failing(StoreVerify.verify(spark, dir)._2)
      === Set("bm25_bucket_routing", "bm25_tf_sum_dl",
        "bm25_th_multiset"))
  }

  test("bm25: an equal-count term SWAP — invisible to every count — " +
    "is caught by the th multiset recompute") {
    val base = tmpBase("bm25swap")
    val dir = s"$base/bm25"
    freshBm25(dir)
    // same token count per doc, different term identity: doc 1's two
    // 'alpha' become two 'omega' (dl unchanged, stats unchanged)
    val swapped = corpus.withColumn("text",
      regexp_replace($"text", "alpha", "omega"))
    Rank.buildBm25Index(swapped, "doc_id", "text", s"$base/drift",
      nBuckets = 8)
    fs.delete(new Path(s"$dir/postings"), true)
    fs.rename(new Path(s"$base/drift/postings"),
      new Path(s"$dir/postings"))
    assert(failing(StoreVerify.verify(spark, dir)._2)
      === Set("bm25_th_multiset"))
  }

  private def freshIvf(dir: String): Unit = {
    val emb = (1L to 8L).map(i =>
      (i, Array.tabulate(4)(d => (i % 3 + d).toDouble / 8.0)))
      .toDF("vec_id", "embedding")
    val (_, assigned) = Ivf.index(emb, "vec_id", "embedding",
      nCells = 2, seed = 7L)
    Ivf.writeIndex(assigned, s"$dir/cells")
    Ivf.writeIdLookup(assigned.select($"id", $"vec"), s"$dir/by_id",
      idBuckets = 4)
    assigned.unpersist()
    graft.core.Caching.releaseAll()
  }

  test("ivf: a fresh store passes; a sidecar-only id (the erased-but-" +
    "lookupable window) and a misrouted idb row are caught") {
    val dir = s"${tmpBase("ivf")}/ann"
    freshIvf(dir)
    val (family, clean) = StoreVerify.verify(spark, dir)
    assert(family === "ivf")
    assert(failing(clean).isEmpty, clean)
    // an id by_id still serves but cells no longer carry — the
    // right-to-erase leak — planted in its CORRECT bucket so only the
    // cross-leg check fires
    Seq((999L, Array(0.1, 0.2, 0.3, 0.4), 999L % 4))
      .toDF("id", "vec", "idb")
      .write.partitionBy("idb").mode("append").parquet(s"$dir/by_id")
    assert(failing(StoreVerify.verify(spark, dir)._2)
      === Set("ivf_cells_by_id"))
    // and a row outside pmod(id, buckets) is invisible to the pruned
    // lookup — routing check fires (plus the id-set check: 998 has no
    // cells row either)
    Seq((998L, Array(0.1, 0.2, 0.3, 0.4), (998L % 4 + 1) % 4))
      .toDF("id", "vec", "idb")
      .write.partitionBy("idb").mode("append").parquet(s"$dir/by_id")
    assert(failing(StoreVerify.verify(spark, dir)._2)
      === Set("ivf_cells_by_id", "ivf_idb_routing"))
  }

  test("ivf: a duplicated cells id (double append) is caught") {
    val dir = s"${tmpBase("ivfdup")}/ann"
    freshIvf(dir)
    val one = spark.read.parquet(s"$dir/cells")
      .select($"id", $"vec", $"cell".cast("long").as("cell"))
      .limit(1).collect().head
    Seq((one.getLong(0), one.getSeq[Double](1).toArray, one.getLong(2)))
      .toDF("id", "vec", "cell")
      .write.partitionBy("cell").mode("append").parquet(s"$dir/cells")
    val bad = failing(StoreVerify.verify(spark, dir)._2)
    assert(bad.contains("ivf_id_unique"), bad)
  }

  test("kept/settled/sig: agreement holds on an aligned trio; a lost " +
    "kept row, an unsettled kept row, and an unsigned id are caught") {
    val base = tmpBase("kept")
    val baseDocs = Seq((10L, "old base doc one"), (11L, "old base two"))
      .toDF("doc_id", "text")
    val batch = Seq((21L, "fresh kept doc"), (22L, "another kept doc"))
      .toDF("doc_id", "text")
    Dedup.minhashSignatures(baseDocs, "doc_id", "text")
      .write.parquet(s"$base/sig")
    Dedup.minhashSignatures(batch, "doc_id", "text")
      .withColumn("batch_id", lit(5L))
      .write.partitionBy("batch_id").parquet(s"$base/sig_settled")
    batch.withColumn("batch_id", lit(5L))
      .write.partitionBy("batch_id").parquet(s"$base/kept")

    val (family, clean) = StoreVerify.verify(spark, s"$base/kept",
      sigPath = Some(s"$base/sig"))
    assert(family === "kept")
    assert(failing(clean).isEmpty, clean)
    assert(clean.map(_.invariant).toSet === Set("kept_id_unique",
      "kept_settled_batches", "kept_sig_coverage"))

    // sig store verifies standalone too (params + uniqueness)
    val (sigFam, sigChecks) = StoreVerify.verify(spark, s"$base/sig")
    assert(sigFam === "sig")
    assert(failing(sigChecks).isEmpty, sigChecks)

    // 1. kept partition lost a row the settle recorded
    fs.delete(new Path(s"$base/kept/batch_id=5"), true)
    Seq((21L, "fresh kept doc", 5L)).toDF("doc_id", "text", "batch_id")
      .write.partitionBy("batch_id").mode("append").parquet(s"$base/kept")
    val bad1 = failing(StoreVerify.verify(spark, s"$base/kept",
      sigPath = Some(s"$base/sig"))._2)
    // 22 is settled-but-missing from kept; coverage still passes (it
    // audits only ids PRESENT in kept — the unsigned case has its own
    // test below)
    assert(bad1 === Set("kept_settled_batches"), bad1)
  }

  test("kept/settled: an UNSIGNED kept doc (escapes all dedup " +
    "screens) is caught by kept_sig_coverage") {
    val base = tmpBase("keptunsigned")
    val batch = Seq((21L, "fresh kept doc")).toDF("doc_id", "text")
    Dedup.minhashSignatures(batch, "doc_id", "text")
      .write.parquet(s"$base/sig")
    Dedup.minhashSignatures(batch, "doc_id", "text")
      .withColumn("batch_id", lit(5L))
      .write.partitionBy("batch_id").parquet(s"$base/sig_settled")
    batch.withColumn("batch_id", lit(5L))
      .write.partitionBy("batch_id").parquet(s"$base/kept")
    // a doc lands in kept with NO signature anywhere
    Seq((77L, "never signed", 6L)).toDF("doc_id", "text", "batch_id")
      .write.partitionBy("batch_id").mode("append").parquet(s"$base/kept")
    val bad = failing(StoreVerify.verify(spark, s"$base/kept",
      sigPath = Some(s"$base/sig"))._2)
    assert(bad === Set("kept_sig_coverage"), bad)
  }

  test("evalgram: fresh store passes; a deleted marker and a drifted " +
    "marker are caught") {
    val base = tmpBase("evalgram")
    val dir = s"$base/idx"
    val eval_ = Seq((100L, "the quick brown fox jumps over the dog"))
      .toDF("doc_id", "text")
    Decontaminate.writeEvalIndex(eval_, "text", dir, n = 4,
      keyMode = "md5", suite = "mmlu")
    val (family, clean) = StoreVerify.verify(spark, dir)
    assert(family === "evalgram")
    assert(failing(clean).isEmpty, clean)

    // marker built with DIFFERENT params: future re-signs would key
    // differently than the live suites — silent zero-hit probes
    Decontaminate.writeEvalIndex(eval_, "text", s"$base/other", n = 6,
      keyMode = "xxhash64", suite = "mmlu")
    fs.delete(new Path(s"$dir/_schema"), true)
    fs.rename(new Path(s"$base/other/_schema"), new Path(s"$dir/_schema"))
    assert(failing(StoreVerify.verify(spark, dir)._2)
      === Set("evalgram_params_agree"))

    fs.delete(new Path(s"$dir/_schema"), true)
    assert(failing(StoreVerify.verify(spark, dir)._2)
      === Set("evalgram_schema_marker"))
  }

  test("lm: a fresh store passes; metadata-total drift and a " +
    "duplicated token row are caught") {
    import graft.operators.Vocab
    val base = tmpBase("lm")
    val dir = s"$base/lm"
    Vocab.writeLm(corpus, "text", dir)
    val (family, clean) = StoreVerify.verify(spark, dir)
    assert(family === "lm")
    assert(failing(clean).isEmpty, clean)
    // append a second row for an existing token WITHOUT touching the
    // metadata total — the fold-only contract violated both ways
    val one = spark.read.parquet(dir).limit(1)
      .withColumn("cnt", lit(5L))
    one.write.mode("append").parquet(dir)
    val bad = failing(StoreVerify.verify(spark, dir)._2)
    assert(bad === Set("lm_total_tokens", "lm_token_unique"), bad)
    // a null count is no count: Σ cnt and token uniqueness still hold,
    // only the count law may catch it
    val dir2 = s"$base/lm_null"
    Vocab.writeLm(corpus, "text", dir2)
    val md = spark.read.parquet(dir2).schema("token").metadata
    Seq(("zzz", None: Option[Long])).toDF("token", "cnt")
      .select(col("token").as("token", md), col("cnt"))
      .write.mode("append").parquet(dir2)
    val badNull = failing(StoreVerify.verify(spark, dir2)._2)
    assert(badNull === Set("lm_counts_positive"), badNull)
  }

  test("longmatch: a fresh store passes; a duplicated gram key is " +
    "caught") {
    import graft.operators.Dedup
    val base = tmpBase("longmatch")
    val dir = s"$base/lmidx"
    Dedup.longMatchIndex(corpus, "doc_id", "text", minLen = 3)
      .write.parquet(dir)
    assert(spark.read.parquet(dir).count() > 0L,
      "fixture must index at least one window")
    val (family, clean) = StoreVerify.verify(spark, dir)
    assert(family === "longmatch")
    assert(failing(clean).isEmpty, clean)
    spark.read.parquet(dir).limit(1).write.mode("append").parquet(dir)
    val bad = failing(StoreVerify.verify(spark, dir)._2)
    assert(bad === Set("longmatch_gk_unique"), bad)
    // a fresh gram key with a null df is no count either
    val dir2 = s"$base/lmidx_null"
    Dedup.longMatchIndex(corpus, "doc_id", "text", minLen = 3)
      .write.parquet(dir2)
    val md = spark.read.parquet(dir2).schema("gk").metadata
    Seq((0L, None: Option[Long])).toDF("gk", "df")
      .select(col("gk").as("gk", md), col("df"))
      .write.mode("append").parquet(dir2)
    val badNull = failing(StoreVerify.verify(spark, dir2)._2)
    assert(badNull === Set("longmatch_df_positive"), badNull)
  }

  test("store --rebuild-stats re-derives the stats leg from doclen " +
    "truth: the drifted-stats finding goes green, probes unchanged") {
    import graft.operators.Rank
    val base = tmpBase("rebuildstats")
    val dir = s"$base/bm25"
    freshBm25(dir)
    def probe() =
      Rank.bm25FromIndex(spark, dir, Seq("alpha", "beta", "gamma"))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val want = probe()
    // drift the stats leg (the verify-spec corruption)
    val st = spark.read.parquet(s"$dir/stats").head()
    Seq((st.getAs[Long]("n_docs") + 5L, st.getAs[Long]("total") - 3L,
        st.getAs[Long]("n_buckets")))
      .toDF("n_docs", "total", "n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats_bad")
    fs.delete(new Path(s"$dir/stats"), true)
    fs.rename(new Path(s"$dir/stats_bad"), new Path(s"$dir/stats"))
    assert(failing(StoreVerify.verify(spark, dir)._2)
      === Set("bm25_stats_doclen"))
    val res = graft.Main.run(spark, "store", Map("rebuild-stats" -> dir))
    assert(res.contains(""""command":"store"""") &&
      res.contains(""""n_docs":3"""), res)
    assert(failing(StoreVerify.verify(spark, dir)._2).isEmpty)
    assert(probe() === want, "probes must serve identically after the " +
      "rebuild (df/tf untouched, stats back to truth)")
    // a DESTROYED stats leg rebuilds too, with the explicit routing
    // parameter the data cannot re-derive
    fs.delete(new Path(s"$dir/stats"), true)
    // …but a WRONG routing parameter refuses before committing: every
    // future probe would prune to the wrong bucket and serve zero hits
    val eB = intercept[IllegalArgumentException] {
      graft.Main.run(spark, "store",
        Map("rebuild-stats" -> dir, "buckets" -> "3"))
    }
    assert(eB.getMessage.contains("bucket routing"), eB.getMessage)
    val res2 = graft.Main.run(spark, "store",
      Map("rebuild-stats" -> dir, "buckets" -> "8"))
    assert(res2.contains(""""n_docs":3"""), res2)
    assert(failing(StoreVerify.verify(spark, dir)._2).isEmpty)
    assert(probe() === want)
  }

  test("store --rebuild-by-id rebuilds the sidecar from raw cells: " +
    "the routing finding goes green, lookups serve; quantized cells " +
    "refuse") {
    import graft.operators.Ivf
    val base = tmpBase("rebuildbyid")
    val dir = s"$base/ann"
    freshIvf(dir)
    // corrupt the sidecar: a misrouted row invisible to pruned lookups
    Seq((998L, Array(0.1, 0.2, 0.3, 0.4), (998L % 4 + 1) % 4))
      .toDF("id", "vec", "idb")
      .write.partitionBy("idb").mode("append").parquet(s"$dir/by_id")
    assert(failing(StoreVerify.verify(spark, dir)._2).nonEmpty)
    val res = graft.Main.run(spark, "store", Map("rebuild-by-id" -> dir))
    assert(res.contains(""""rows":8"""), res)
    assert(failing(StoreVerify.verify(spark, dir)._2).isEmpty)
    // the rebuilt sidecar serves exact partition-pruned lookups again
    val v = Ivf.lookupVec(spark, s"$dir/by_id", 3L)
    assert(v.length === 4)
    // quantized cells refuse the rebuild (codes would serve
    // reconstructed vectors under the exact-lookup contract)
    val emb = (1L to 4L).map(i => (i, Array.fill(4)(i.toDouble / 4)))
      .toDF("vec_id", "embedding")
    val (_, assigned) = Ivf.index(emb, "vec_id", "embedding",
      nCells = 2, seed = 3L)
    Ivf.writeIndexQuantized(assigned, s"$base/q/cells")
    assigned.unpersist()
    graft.core.Caching.releaseAll()
    val e = intercept[IllegalArgumentException] {
      Ivf.rebuildIdLookup(spark, s"$base/q")
    }
    assert(e.getMessage.contains("quantized"), e.getMessage)
  }

  test("model weights: a saved autoencoder passes; a duplicated row, " +
    "a layer gap, and a broken matmul chain are caught") {
    import graft.score.Autoencoder
    val base = tmpBase("model")
    val dir = s"$base/weights"
    val w = Autoencoder.seededWeights(Seq(3, 4, 2, 4, 3))
    Autoencoder.save(spark, w, dir)
    val (family, clean) = StoreVerify.verify(spark, dir)
    assert(family === "model")
    assert(failing(clean).isEmpty, clean)
    // duplicate one (layer, row_idx): load would silently widen
    spark.read.parquet(dir).limit(1).write.mode("append").parquet(dir)
    val bad = failing(StoreVerify.verify(spark, dir)._2)
    assert(bad.contains("model_rows_unique"), bad)
    // a layer GAP: delete layer 0 rows — every later layer shifts
    val dir2 = s"$base/gap"
    Autoencoder.save(spark, w, dir2)
    spark.read.parquet(dir2).filter($"layer" =!= 0)
      .write.parquet(s"$base/gap2")
    val bad2 = failing(StoreVerify.verify(spark, s"$base/gap2")._2)
    assert(bad2.contains("model_layers_contiguous"), bad2)
    // chain break: layer 1 rows claim a wrong input width
    spark.read.parquet(dir2)
      .withColumn("w", when($"layer" === 1,
        slice($"w", 1, 2)).otherwise($"w"))
      .write.parquet(s"$base/chain2")
    val bad3 = failing(StoreVerify.verify(spark, s"$base/chain2")._2)
    assert(bad3.contains("model_rect_chain"), bad3)
    // an all-NULL weight vector must fail finiteness explicitly —
    // exists(null, pred) is null and a bare filter would drop the row
    spark.read.parquet(dir2).limit(1)
      .withColumn("w", lit(null).cast("array<double>"))
      .withColumn("layer", lit(0)).withColumn("row_idx", lit(99))
      .write.mode("append").parquet(s"$base/nullw")
    spark.read.parquet(dir2).write.mode("append").parquet(s"$base/nullw")
    val bad4 = failing(StoreVerify.verify(spark, s"$base/nullw")._2)
    assert(bad4.contains("model_finite"), bad4)
  }

  test("registry: a saved registry passes; duplicated versions and " +
    "two Production holders are caught") {
    import graft.ops.ModelRegistry
    val base = tmpBase("registry")
    val path = s"$base/registry"
    val reg = ModelRegistry.table(spark, Seq(
      ModelRegistry.ModelVersion("ae", 1, "Archived", "t1", 0.5),
      ModelRegistry.ModelVersion("ae", 2, "Production", "t2", 0.4)))
    ModelRegistry.save(reg, path)
    val (family, clean) = StoreVerify.verify(spark, path)
    assert(family === "registry")
    assert(failing(clean).isEmpty, clean)
    // a by-hand write that bypassed the transition archive-existing law
    ModelRegistry.table(spark, Seq(
        ModelRegistry.ModelVersion("ae", 2, "Production", "t2", 0.4),
        ModelRegistry.ModelVersion("ae", 3, "Production", "t3", 0.3)))
      .write.mode("append").parquet(path)
    val bad = failing(StoreVerify.verify(spark, path)._2)
    assert(bad === Set("registry_version_unique",
      "registry_production_single"), bad)
  }

  test("sampled verify: the slice owning a corrupted id catches it, " +
    "other slices stay green, and the global stats check is SKIPPED " +
    "not weakened") {
    val dir = s"${tmpBase("bm25sample")}/bm25"
    freshBm25(dir)
    // corrupt doc 2 only: a forged extra postings row (correct bucket,
    // so the slice-local checks own the detection)
    val tb = spark.range(1)
      .select(pmod(xxhash64(lit("beta")), lit(8L))).head().getLong(0)
    Seq(("beta", 2L, 1L, tb)).toDF("term", "id", "tf", "tb")
      .write.partitionBy("tb").mode("append").parquet(s"$dir/postings")
    // slice pmod(2,3)==2 owns doc 2: caught, exactly as the full audit
    val owning = StoreVerify.verify(spark, dir,
      sample = Some((3L, 2L)))._2
    assert(failing(owning) === Set("bm25_tf_sum_dl", "bm25_th_multiset"),
      owning)
    // the stats totals cannot be sliced — absent under sampling, not a
    // weaker pass
    assert(!owning.exists(_.invariant == "bm25_stats_doclen"), owning)
    // slices NOT owning doc 2 are green — each night's pass is exact
    // over its own ids, coverage composes across rem = 0..mod-1
    assert(failing(StoreVerify.verify(spark, dir,
      sample = Some((3L, 0L)))._2).isEmpty)
    assert(failing(StoreVerify.verify(spark, dir,
      sample = Some((3L, 1L)))._2).isEmpty)
    // CLI face carries the slice in the verdict
    val res = graft.Main.run(spark, "store", Map("verify" -> dir,
      "sample-mod" -> "3", "sample-rem" -> "2"))
    assert(res.contains(""""sample_mod":3""") &&
      res.contains(""""n_failed":2"""), res)
    // a nonsense slice refuses
    intercept[IllegalArgumentException] {
      StoreVerify.verify(spark, dir, sample = Some((3L, 3L)))
    }
    // kept/settled agreement under a slice: both sides cut by the same
    // rule, so the lost-row corruption is caught by the slice that
    // owns the id and invisible to the others
    val base = tmpBase("keptsample")
    val batch = Seq((21L, "fresh kept a"), (22L, "fresh kept b"))
      .toDF("doc_id", "text")
    Dedup.minhashSignatures(batch, "doc_id", "text")
      .write.parquet(s"$base/sig")
    Dedup.minhashSignatures(batch, "doc_id", "text")
      .withColumn("batch_id", lit(5L))
      .write.partitionBy("batch_id").parquet(s"$base/sig_settled")
    batch.filter($"doc_id" === 21L).withColumn("batch_id", lit(5L))
      .write.partitionBy("batch_id").parquet(s"$base/kept") // 22 lost
    assert(failing(StoreVerify.verify(spark, s"$base/kept",
      sigPath = Some(s"$base/sig"),
      sample = Some((2L, 0L)))._2) === Set("kept_settled_batches"))
    assert(failing(StoreVerify.verify(spark, s"$base/kept",
      sigPath = Some(s"$base/sig"),
      sample = Some((2L, 1L)))._2).isEmpty)
  }

  test("verify-tree sweeps a lake root: every store detected and " +
    "audited once at its own root, corruption attributed to its " +
    "store, non-store dirs walked through") {
    import graft.operators.Vocab
    val base = tmpBase("tree")
    // a lake: nested non-store dirs holding three families + a plain
    // parquet table that must be walked PAST, not flagged
    freshBm25(s"$base/indexes/bm25")
    freshIvf(s"$base/indexes/ann")
    Vocab.writeLm(corpus, "text", s"$base/models/lm")
    corpus.write.parquet(s"$base/raw/docs")
    // corrupt exactly one store
    Seq(("zeta", 99L, 2L)).toDF("term", "id", "tf")
      .withColumn("tb", pmod(xxhash64($"term"), lit(8L)))
      .write.partitionBy("tb").mode("append")
      .parquet(s"$base/indexes/bm25/postings")
    val stores = StoreVerify.verifyTree(spark, base)
    val byFamily = stores.map(s => (s._2, s._1)).toMap
    assert(byFamily.keySet === Set("bm25", "ivf", "lm"), stores.map(_._2))
    // each store audited at its ROOT — legs/partitions never re-audited
    assert(byFamily("bm25").endsWith("indexes/bm25"))
    assert(byFamily("ivf").endsWith("indexes/ann"))
    // the corruption lands on its store alone
    val failedBy = stores.map(s => s._2 -> failing(s._3)).toMap
    assert(failedBy("bm25") === Set("bm25_postings_doclen_ids"))
    assert(failedBy("ivf").isEmpty && failedBy("lm").isEmpty)
    // CLI face
    val res = graft.Main.run(spark, "store",
      Map("verify-tree" -> base))
    assert(res.contains(""""n_stores":3""") &&
      res.contains(""""n_failed":1"""), res)
  }

  test("a bad sample slice fails loudly before the sweep instead of " +
    "reading as damage to every store") {
    val base = tmpBase("badslice")
    freshBm25(s"$base/bm25")
    Seq("verify-tree", "health").foreach { cmd =>
      val e = intercept[IllegalArgumentException] {
        graft.Main.run(spark, "store", Map(cmd -> base, "sample-mod" -> "0"))
      }
      assert(e.getMessage.contains("0 <= rem < mod"), e.getMessage)
    }
    intercept[IllegalArgumentException] {
      StoreVerify.verifyTree(spark, base, sample = Some((3L, 3L)))
    }
  }

  test("verify-tree surfaces the states a naive sweep hides: an " +
    "UNREADABLE parquet dir, a store whose audit throws, and a root " +
    "whose own name matches the artifact skip-list") {
    import graft.operators.Vocab
    // a root named like a lifecycle artifact must still sweep — only
    // CHILDREN are subject to the skip rules
    val base = java.nio.file.Files
      .createTempDirectory("graft_verify_tree").toString + "/lake_old"
    fs.mkdirs(new Path(base))
    Vocab.writeLm(corpus, "text", s"$base/lm")
    // an ivf store whose by_id META file is gone: detection succeeds,
    // the audit itself throws — must become that store's verdict, not
    // abort the sweep
    freshIvf(s"$base/ann")
    fs.delete(new Path(s"$base/ann/by_id/_id_buckets"), false)
    // a dir of .parquet bytes that cannot be read — the worst
    // corruption state, which a silent-skip sweep would bless
    fs.mkdirs(new Path(s"$base/corrupt"))
    val w = fs.create(new Path(s"$base/corrupt/part-0.parquet"), true)
    w.write("not parquet at all".getBytes("UTF-8")); w.close()
    // a non-parquet asset dir passes through silently (no false alarm)
    fs.mkdirs(new Path(s"$base/logs"))
    val w2 = fs.create(new Path(s"$base/logs/run.log"), true)
    w2.write("plain text".getBytes("UTF-8")); w2.close()

    val stores = StoreVerify.verifyTree(spark, base)
    val byFam = stores.groupBy(_._2)
    assert(byFam.contains("lm") && byFam.contains("ivf") &&
      byFam.contains("unreadable"), stores.map(s => (s._1, s._2)))
    assert(!stores.exists(_._1.endsWith("logs")),
      "non-parquet assets must not raise findings")
    val ivfChecks = byFam("ivf").head._3
    assert(ivfChecks.exists(c => c.invariant == "audit_completed" &&
      !c.ok), ivfChecks)
    assert(failing(byFam("lm").head._3).isEmpty)
    assert(byFam("unreadable").head._1.endsWith("corrupt"))
    // --health counts all of it and reads unhealthy
    val health = graft.Main.run(spark, "store", Map("health" -> base))
    assert(health.contains(""""healthy":false"""), health)
  }

  test("pq: fresh store passes; a wrong-width code row and an " +
    "out-of-range code (silent ADC garbage) are caught") {
    import graft.operators.{Ivf, Pq}
    val emb = (0L until 16L).map(i =>
      (i, Array.tabulate(8)(d => ((i % 4) + d).toFloat / 8f)))
      .toDF("vec_id", "embedding")
    val (model, assigned) = Ivf.indexCosine(emb, "vec_id", "embedding",
      nCells = 2, seed = 7L)
    val pq = Pq.fit(emb, "embedding", m = 4, ksub = 4, seed = 7L)
    val router = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray) }
    val dir = s"${tmpBase("pq")}/ann"
    Pq.writeIndexPq(assigned, pq, router, dir)
    assigned.unpersist()
    graft.core.Caching.releaseAll()
    val (family, clean) = StoreVerify.verify(spark, dir)
    assert(family === "ivf")
    assert(failing(clean).isEmpty, clean)
    assert(clean.map(_.invariant).toSet.contains("pq_codes_shape") &&
      clean.map(_.invariant).toSet.contains("pq_codes_bounds"), clean)
    // a 1-byte code row (width != m): shape check fires (the planted
    // id is also cells-only, so the cross-leg check fires too)
    Seq((901L, Array[Byte](1), 1.0, 0L))
      .toDF("id", "codes", "rnorm", "cell")
      .write.partitionBy("cell").mode("append").parquet(s"$dir/cells")
    val bad1 = failing(StoreVerify.verify(spark, dir)._2)
    assert(bad1.contains("pq_codes_shape") &&
      !bad1.contains("pq_codes_bounds"), bad1)
    // a full-width row whose last code points past its 4-entry book
    Seq((902L, Array[Byte](1, 2, 3, 9), 1.0, 0L))
      .toDF("id", "codes", "rnorm", "cell")
      .write.partitionBy("cell").mode("append").parquet(s"$dir/cells")
    val bad2 = failing(StoreVerify.verify(spark, dir)._2)
    assert(bad2.contains("pq_codes_bounds"), bad2)
  }

  test("pq: an OFFSET codebook layout (subspace ids not 0..m-1) is its " +
    "own loud finding, not a false out-of-bounds verdict; the " +
    "undecidable code-vs-book checks are withheld") {
    import graft.operators.{Ivf, Pq}
    val emb = (0L until 16L).map(i =>
      (i, Array.tabulate(8)(d => ((i % 4) + d).toFloat / 8f)))
      .toDF("vec_id", "embedding")
    val (model, assigned) = Ivf.indexCosine(emb, "vec_id", "embedding",
      nCells = 2, seed = 7L)
    val pq = Pq.fit(emb, "embedding", m = 4, ksub = 4, seed = 7L)
    val router = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray) }
    val dir = s"${tmpBase("pqlayout")}/ann"
    Pq.writeIndexPq(assigned, pq, router, dir)
    assigned.unpersist()
    graft.core.Caching.releaseAll()
    val clean = StoreVerify.verify(spark, dir)._2
    assert(clean.exists(c => c.invariant == "pq_codebook_layout" && c.ok),
      clean)
    // shift every subspace id by +1: same books, offset layout — the
    // old positional keying mapped subspace m to "book size 0" and
    // reported false pq_codes_bounds failures
    val shifted = spark.read.parquet(s"$dir/codebooks")
      .withColumn("subspace", col("subspace") + 1)
    shifted.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/codebooks_bad")
    fs.delete(new Path(s"$dir/codebooks"), true)
    fs.rename(new Path(s"$dir/codebooks_bad"),
      new Path(s"$dir/codebooks"))
    val checks = StoreVerify.verify(spark, dir)._2
    assert(failing(checks) === Set("pq_codebook_layout"), checks)
    assert(!checks.exists(_.invariant == "pq_codes_bounds") &&
      !checks.exists(_.invariant == "pq_codes_shape"),
      "code-vs-book checks are undecidable against a broken layout " +
        "and must be withheld, not guessed: " + checks)
  }

  test("pq: a duplicate-code book fires pq_codebook_layout") {
    import graft.operators.{Ivf, Pq}
    val emb = (0L until 16L).map(i =>
      (i, Array.tabulate(8)(d => ((i % 4) + d).toFloat / 8f)))
      .toDF("vec_id", "embedding")
    val (model, assigned) = Ivf.indexCosine(emb, "vec_id", "embedding",
      nCells = 2, seed = 7L)
    val pq = Pq.fit(emb, "embedding", m = 4, ksub = 4, seed = 7L)
    val router = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray) }
    val dir = s"${tmpBase("pqdup")}/ann"
    Pq.writeIndexPq(assigned, pq, router, dir)
    assigned.unpersist()
    graft.core.Caching.releaseAll()
    // duplicate one (subspace, code) row: countDistinct would silently
    // under-count the book — now a loud layout finding
    spark.read.parquet(s"$dir/codebooks").limit(1)
      .write.mode("append").parquet(s"$dir/codebooks")
    val checks = StoreVerify.verify(spark, dir)._2
    assert(failing(checks) === Set("pq_codebook_layout"), checks)
  }

  test("Check.json and Finding.json escape control characters — the " +
    "multi-line Spark error message case that broke the health loop") {
    val multi = "line one\n\tline two \"quoted\" \\ back\r"
    val cj = StoreVerify.Check("audit_completed", ok = false, multi).json
    val fj = StoreFsck.Finding("staging_anomaly", "/p", multi,
      "report").json
    Seq(cj, fj).foreach { j =>
      assert(!j.exists(_ < ' '),
        s"raw control characters must never reach the JSON: $j")
      assert(j.contains("\\u000a") && j.contains("\\u0009") &&
        j.contains("\\u000d") && j.contains("\\\"") &&
        j.contains("\\\\"), j)
    }
  }

  test("vocab: fresh writeVocab store passes as its OWN family; a by-" +
    "hand widening, a duplicate token, and a non-positive count are " +
    "each caught") {
    import graft.operators.Vocab
    val dir = s"${tmpBase("vocab")}/vocab"
    Vocab.writeVocab(corpus, "text", topK = 4, dir)
    val (family, clean) = StoreVerify.verify(spark, dir)
    assert(family === "vocab", "token+cnt WITH top_k metadata must " +
      "detect as vocab, not lm")
    assert(failing(clean).isEmpty, clean)
    assert(clean.map(_.invariant).toSet === Set("vocab_params",
      "vocab_topk_size", "vocab_baseline_range", "vocab_token_unique",
      "vocab_counts_positive"))
    // metadata-preserving rewrite helper: plant rows without losing
    // the build-params stamp the family detection keys on
    def rewrite(extra: Seq[(String, Long)]): Unit = {
      val df = spark.read.parquet(dir)
      val md = df.schema("token").metadata
      df.unionByName(extra.toDF("token", "cnt"))
        .select(col("token").as("token", md), col("cnt"))
        .coalesce(1).write.mode("overwrite").parquet(s"${dir}_bad")
      fs.delete(new Path(dir), true)
      fs.rename(new Path(s"${dir}_bad"), new Path(dir))
    }
    // corpus has 4 distinct tokens → store is at its declared k; one
    // hand-appended token widens it past the measured baseline
    rewrite(Seq(("omega", 7L)))
    assert(failing(StoreVerify.verify(spark, dir)._2)
      === Set("vocab_topk_size"))
    // reset, then a duplicate of an existing token (store back at 4
    // rows + 1 dup = 5 > 4, so the size check fires too — the dup IS
    // also a widening)
    Vocab.writeVocab(corpus, "text", topK = 5, dir)
    rewrite(Seq(("alpha", 1L)))
    assert(failing(StoreVerify.verify(spark, dir)._2)
      === Set("vocab_token_unique"))
    // reset, then a zero-count row
    Vocab.writeVocab(corpus, "text", topK = 5, dir)
    rewrite(Seq(("zeta", 0L)))
    assert(failing(StoreVerify.verify(spark, dir)._2)
      === Set("vocab_counts_positive"))
  }

  test("dsir: fresh weight table passes; a lost spine row, a drifted " +
    "weight, and a negative count are each caught") {
    import graft.operators.Dsir
    val dir = s"${tmpBase("dsir")}/weights"
    val target = corpus.filter(col("doc_id") === 1L)
    Dsir.bucketWeights(target, corpus, "text", buckets = 16)
      .coalesce(1).write.parquet(dir)
    val (family, clean) = StoreVerify.verify(spark, dir)
    assert(family === "dsir")
    assert(failing(clean).isEmpty, clean)
    assert(clean.map(_.invariant).toSet === Set("dsir_params",
      "dsir_spine_complete", "dsir_weights_law", "dsir_counts_sane"))
    def rewrite(f: org.apache.spark.sql.DataFrame
        => org.apache.spark.sql.DataFrame): Unit = {
      val df = spark.read.parquet(dir)
      val md = df.schema("bucket").metadata
      f(df).select(col("bucket").as("bucket", md), col("ct"),
          col("cr"), col("w_bits"))
        .coalesce(1).write.mode("overwrite").parquet(s"${dir}_bad")
      fs.delete(new Path(dir), true)
      fs.rename(new Path(s"${dir}_bad"), new Path(dir))
    }
    // one drifted weight: ONLY the law check fires (totals unchanged)
    rewrite(df => df.withColumn("w_bits",
      when(col("bucket") === 3L, col("w_bits") + 1L)
        .otherwise(col("w_bits"))))
    assert(failing(StoreVerify.verify(spark, dir)._2)
      === Set("dsir_weights_law"))
    // reset; a lost spine row also shifts the recomputed totals, so
    // the law drifts for every surviving row too
    Dsir.bucketWeights(target, corpus, "text", buckets = 16)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    rewrite(df => df.filter(col("bucket") =!= 0L))
    val afterDrop = failing(StoreVerify.verify(spark, dir)._2)
    assert(afterDrop.contains("dsir_spine_complete"), afterDrop)
    // reset; a negative count breaks sanity AND (via the totals) the law
    Dsir.bucketWeights(target, corpus, "text", buckets = 16)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    rewrite(df => df.withColumn("ct",
      when(col("bucket") === 1L, lit(-2L)).otherwise(col("ct"))))
    val afterNeg = failing(StoreVerify.verify(spark, dir)._2)
    assert(afterNeg.contains("dsir_counts_sane"), afterNeg)
  }

  test("stats: fresh snapshot table passes; an infeasible moment, a " +
    "double-counted batch, and a wrong-lgK sketch are each caught") {
    import graft.operators.CorpusStats
    import graft.functions.TextFunctions.fingerprint
    val dir = s"${tmpBase("stats")}/stats"
    CorpusStats.appendSnapshotIdempotent(corpus, "text", dir, 1L)
    CorpusStats.appendSnapshotIdempotent(
      corpus.filter(col("doc_id") =!= 3L), "text", dir, 2L)
    val (family, clean) = StoreVerify.verify(spark, dir)
    assert(family === "stats")
    assert(failing(clean).isEmpty, clean)
    assert(clean.map(_.invariant).toSet === Set("stats_nonneg",
      "stats_blank_bound", "stats_hist_bound", "stats_moments_feasible",
      "stats_batch_unique", "stats_sketch_mergeable"))
    // readReport (the consumer the audit protects) works on the clean
    // table
    assert(CorpusStats.readReport(spark, dir).head()
      .getAs[Long]("n_docs") === 5L)

    // a second snapshot row inside batch 1's partition: the replay-
    // replaces law broken (merge would double-count)
    CorpusStats.snapshot(corpus, "text")
      .withColumn("batch_id", lit(1L))
      .write.partitionBy("batch_id").mode("append").parquet(dir)
    val dup = failing(StoreVerify.verify(spark, dir)._2)
    assert(dup === Set("stats_batch_unique"), dup)

    // fresh table; corrupt sum_tokens_sq below the Cauchy–Schwarz
    // envelope — internally impossible accumulators
    val dir2 = s"${tmpBase("stats2")}/stats"
    CorpusStats.appendSnapshot(corpus, "text", dir2)
    val df2 = spark.read.parquet(dir2)
    df2.withColumn("sum_tokens_sq",
        lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
      .coalesce(1).write.mode("overwrite").parquet(s"${dir2}_bad")
    fs.delete(new Path(dir2), true)
    fs.rename(new Path(s"${dir2}_bad"), new Path(dir2))
    val bad2 = failing(StoreVerify.verify(spark, dir2)._2)
    assert(bad2 === Set("stats_moments_feasible"), bad2)

    // fresh table; append a snapshot whose sketch was built at a
    // DIFFERENT lgConfigK — every future readReport would throw, so
    // the audit must surface it as a finding first
    val dir3 = s"${tmpBase("stats3")}/stats"
    CorpusStats.appendSnapshot(corpus, "text", dir3)
    val cols3 = spark.read.parquet(dir3).columns
    val wrongLgK = spark.read.parquet(dir3).drop("fp_sketch")
      .crossJoin(corpus.agg(hll_sketch_agg(fingerprint(col("text")),
        lit(CorpusStats.SketchLgK - 2)).as("fp_sketch")))
    // stage, then append — never read and append the same path in one job
    wrongLgK.select(cols3.map(col): _*)
      .write.parquet(s"${dir3}_stage")
    spark.read.parquet(s"${dir3}_stage")
      .write.mode("append").parquet(dir3)
    val bad3 = failing(StoreVerify.verify(spark, dir3)._2)
    assert(bad3 === Set("stats_sketch_mergeable"), bad3)
  }

  test("funnel: fresh tiers pass; a double-counted batch, a broken " +
    "tier law, and a drifted kept_bp are each caught") {
    val dir = s"${tmpBase("funnel")}/funnel"
    val sink = new graft.streaming.StreamPipeline.IdempotentFileSink(dir)
    // the fullIngest shape: telescoping tiers + kept_bp
    sink.write(Seq((100L, 10L, 5L, 85L, 8500L))
      .toDF("n_in", "n_rule_killed", "n_rep_killed", "n_kept",
        "kept_bp"), 0L)
    sink.write(Seq((50L, 50L, 0L, 0L, 0L))
      .toDF("n_in", "n_rule_killed", "n_rep_killed", "n_kept",
        "kept_bp"), 1L)
    val (family, clean) = StoreVerify.verify(spark, dir)
    assert(family === "funnel")
    assert(failing(clean).isEmpty, clean)
    assert(clean.map(_.invariant).toSet === Set("funnel_batch_unique",
      "funnel_counts_sane", "funnel_tier_law", "funnel_kept_bp"))
    // a second row inside batch 0's partition — the replay-appended
    // double count
    Seq((100L, 10L, 5L, 85L, 8500L, 0L))
      .toDF("n_in", "n_rule_killed", "n_rep_killed", "n_kept",
        "kept_bp", "batch_id")
      .write.partitionBy("batch_id").mode("append").parquet(dir)
    assert(failing(StoreVerify.verify(spark, dir)._2)
      === Set("funnel_batch_unique"))
    // fresh dir; a tier that no longer telescopes (n_rule_killed
    // inflated by 1) and a kept_bp that no longer matches its counts
    val dir2 = s"${tmpBase("funnel2")}/funnel"
    val sink2 = new graft.streaming.StreamPipeline.IdempotentFileSink(dir2)
    sink2.write(Seq((100L, 11L, 5L, 85L, 8500L))
      .toDF("n_in", "n_rule_killed", "n_rep_killed", "n_kept",
        "kept_bp"), 0L)
    sink2.write(Seq((50L, 10L, 0L, 40L, 1234L))
      .toDF("n_in", "n_rule_killed", "n_rep_killed", "n_kept",
        "kept_bp"), 1L)
    assert(failing(StoreVerify.verify(spark, dir2)._2)
      === Set("funnel_tier_law", "funnel_kept_bp"))
  }

  test("verify-tree detects the vocab/dsir/stats/funnel families in a " +
    "lake sweep — no store family the CLI can create is walked past") {
    import graft.operators.{CorpusStats, Dsir, Vocab}
    val base = tmpBase("treefam")
    Vocab.writeVocab(corpus, "text", topK = 4, s"$base/models/vocab")
    Dsir.bucketWeights(corpus.filter(col("doc_id") === 1L), corpus,
        "text", buckets = 8)
      .coalesce(1).write.parquet(s"$base/models/dsir_w")
    CorpusStats.appendSnapshot(corpus, "text", s"$base/stats/corpus")
    val sink = new graft.streaming.StreamPipeline.IdempotentFileSink(
      s"$base/ingest/funnel")
    sink.write(Seq((10L, 2L, 8L)).toDF("n_in", "n_rule_killed",
      "n_kept"), 0L)
    (1L to 3L).foreach(b => sink.write(
      Seq((10L, 0L, 10L)).toDF("n_in", "n_rule_killed", "n_kept"), b))
    // fold some history so the _hist sibling is a second funnel store
    graft.streaming.StreamingIngest.compactFunnel(spark,
      s"$base/ingest/funnel", keepLast = 2)
    val found = StoreVerify.verifyTree(spark, base)
    assert(found.map(_._2).sorted
      === Seq("dsir", "funnel", "funnel", "stats", "vocab"),
      found.map(t => (t._1, t._2)))
    assert(found.forall(_._3.forall(_.ok)), found)
  }

  test("store --health: structural + content verdicts in one command; " +
    "the documented recoveries turn it healthy") {
    import graft.operators.Vocab
    val base = tmpBase("health")
    Vocab.writeLm(corpus, "text", s"$base/models/lm")
    freshBm25(s"$base/indexes/bm25")
    // one STRUCTURAL finding (a dead writer's lease) and one CONTENT
    // finding (drifted stats)
    val lease = new Path(Stores.leasePath(s"$base/models/lm"))
    val w = fs.create(lease, false)
    w.write("dead pid=999999999\n".getBytes("UTF-8")); w.close()
    val st = spark.read.parquet(s"$base/indexes/bm25/stats").head()
    Seq((st.getAs[Long]("n_docs") + 1L, st.getAs[Long]("total"),
        st.getAs[Long]("n_buckets")))
      .toDF("n_docs", "total", "n_buckets")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$base/indexes/bm25/stats_bad")
    fs.delete(new Path(s"$base/indexes/bm25/stats"), true)
    fs.rename(new Path(s"$base/indexes/bm25/stats_bad"),
      new Path(s"$base/indexes/bm25/stats"))

    val sick = graft.Main.run(spark, "store", Map("health" -> base))
    assert(sick.contains(""""healthy":false""") &&
      sick.contains(""""n_crash_windows":1""") &&
      sick.contains("stale_lease") &&
      sick.contains(""""n_content_failed":1""") &&
      sick.contains("bm25_stats_doclen"), sick)
    // the sample knobs REACH verify-tree through --health (the N-nights
    // lake audit IS the daily check): under sampling the whole-store
    // stats totals are skipped by design, so the drifted-stats finding
    // disappears while the structural one stays — observable only if
    // --sample-mod was actually forwarded
    val sickSliced = graft.Main.run(spark, "store", Map(
      "health" -> base, "sample-mod" -> "2", "sample-rem" -> "0"))
    assert(sickSliced.contains(""""n_crash_windows":1""") &&
      sickSliced.contains(""""n_content_failed":0"""), sickSliced)
    // health is READ-ONLY: both findings still present on a second look
    assert(fs.exists(lease))

    // the documented recoveries
    graft.Main.run(spark, "store",
      Map("fsck" -> base, "repair" -> "true"))
    graft.Main.run(spark, "store",
      Map("rebuild-stats" -> s"$base/indexes/bm25"))
    val well = graft.Main.run(spark, "store", Map("health" -> base))
    assert(well.contains(""""healthy":true""") &&
      well.contains(""""n_crash_windows":0""") &&
      well.contains(""""n_content_failed":0"""), well)
  }

  test("store --verify CLI: JSON names the family, counts, and each " +
    "invariant; unknown layouts refuse with the family menu") {
    val base = tmpBase("cli")
    val dir = s"$base/bm25"
    freshBm25(dir)
    val res = graft.Main.run(spark, "store", Map("verify" -> dir))
    assert(res.contains(""""command":"store"""") &&
      res.contains(""""family":"bm25"""") &&
      res.contains(""""n_failed":0""") &&
      res.contains(""""invariant":"bm25_th_multiset""""), res)
    // plant one corruption; the CLI verdict counts it
    Seq(("zeta", 99L, 2L)).toDF("term", "id", "tf")
      .withColumn("tb", pmod(xxhash64($"term"), lit(8L)))
      .write.partitionBy("tb").mode("append").parquet(s"$dir/postings")
    val res2 = graft.Main.run(spark, "store", Map("verify" -> dir))
    assert(res2.contains(""""n_failed":1""") &&
      res2.contains("orphan"), res2)
    // not a store → loud refusal naming the families
    Seq((1, "x")).toDF("a", "b").write.parquet(s"$base/random")
    val e = intercept[IllegalArgumentException] {
      graft.Main.run(spark, "store", Map("verify" -> s"$base/random"))
    }
    assert(e.getMessage.contains("no known store family"), e.getMessage)
  }

  test("audit cost: each store leg is read once and tallied by one " +
    "probe — pinned Spark jobs per family and for the lake sweep") {
    import graft.TestSpark.jobsOf
    import graft.operators.{CorpusStats, Dsir, Vocab}
    import graft.ops.ModelRegistry
    import graft.score.Autoencoder
    // one lake holding one store of every family the CLI can create
    val lake = tmpBase("jobs")
    freshBm25(s"$lake/bm25")
    freshIvf(s"$lake/ann")
    val emb = (1L to 4L).map(i => (i, Array.fill(4)(i.toDouble / 4)))
      .toDF("vec_id", "embedding")
    val (_, assigned) = Ivf.index(emb, "vec_id", "embedding",
      nCells = 2, seed = 3L)
    Ivf.writeIndexQuantized(assigned, s"$lake/q/cells")
    assigned.unpersist()
    Caching.releaseAll()
    val batch = Seq((21L, "fresh kept doc"), (22L, "another kept doc"))
      .toDF("doc_id", "text")
    Dedup.minhashSignatures(corpus, "doc_id", "text")
      .write.parquet(s"$lake/sig")
    Dedup.minhashSignatures(batch, "doc_id", "text")
      .withColumn("batch_id", lit(5L))
      .write.partitionBy("batch_id").parquet(s"$lake/sig_settled")
    batch.withColumn("batch_id", lit(5L))
      .write.partitionBy("batch_id").parquet(s"$lake/kept")
    Decontaminate.writeEvalIndex(corpus, "text", s"$lake/evalgram", n = 2,
      keyMode = "md5", suite = "mmlu")
    Vocab.writeLm(corpus, "text", s"$lake/lm")
    Vocab.writeVocab(corpus, "text", topK = 4, s"$lake/vocab")
    Dedup.longMatchIndex(corpus, "doc_id", "text", minLen = 3)
      .write.parquet(s"$lake/longmatch")
    Dsir.bucketWeights(corpus.filter(col("doc_id") === 1L), corpus, "text",
        buckets = 16)
      .coalesce(1).write.parquet(s"$lake/dsir")
    CorpusStats.appendSnapshotIdempotent(corpus, "text", s"$lake/stats", 1L)
    CorpusStats.appendSnapshotIdempotent(
      corpus.filter(col("doc_id") =!= 3L), "text", s"$lake/stats", 2L)
    val sink = new graft.streaming.StreamPipeline.IdempotentFileSink(
      s"$lake/funnel")
    sink.write(Seq((100L, 10L, 5L, 85L, 8500L)).toDF("n_in",
      "n_rule_killed", "n_rep_killed", "n_kept", "kept_bp"), 0L)
    sink.write(Seq((50L, 50L, 0L, 0L, 0L)).toDF("n_in",
      "n_rule_killed", "n_rep_killed", "n_kept", "kept_bp"), 1L)
    Autoencoder.save(spark, Autoencoder.seededWeights(Seq(3, 4, 2, 4, 3)),
      s"$lake/model")
    ModelRegistry.save(ModelRegistry.table(spark, Seq(
      ModelRegistry.ModelVersion("ae", 1, "Archived", "t1", 0.5),
      ModelRegistry.ModelVersion("ae", 2, "Production", "t2", 0.4))),
      s"$lake/registry")

    val audits = Seq("bm25" -> "bm25", "ivf (by_id)" -> "ann",
      "ivf (pq cells)" -> "q", "kept + sig" -> "kept", "sig" -> "sig",
      "sig _settled" -> "sig_settled", "evalgram" -> "evalgram",
      "lm" -> "lm", "vocab" -> "vocab", "longmatch" -> "longmatch",
      "dsir" -> "dsir", "stats" -> "stats", "funnel" -> "funnel",
      "model" -> "model", "registry" -> "registry")
    def audit(name: String, dir: String): Seq[StoreVerify.Check] =
      StoreVerify.verify(spark, s"$lake/$dir",
        sigPath = if (name == "kept + sig") Some(s"$lake/sig") else None)._2
    // warm pass: every store is clean
    audits.foreach { case (name, dir) =>
      assert(failing(audit(name, dir)).isEmpty, name)
    }
    val jobs = audits.map { case (name, dir) =>
      name -> jobsOf(audit(name, dir))._2 }.toMap
    val (tree, treeJobs) = jobsOf(StoreVerify.verifyTree(spark, lake))
    assert(tree.length === audits.length, tree.map(_._1))
    assert(tree.forall(_._3.forall(_.ok)), tree)
    // one schema read per leg and one probe per leg, plus one job when
    // a check needs per-key counts; the sketch union (stats), DSIR's
    // totals probe and the settled batch set (kept + sig) are the only
    // other actions here
    val expected = Map("bm25" -> 7, "ivf (by_id)" -> 5,
      "ivf (pq cells)" -> 3, "kept + sig" -> 7, "sig" -> 4,
      "sig _settled" -> 3, "evalgram" -> 2, "lm" -> 3, "vocab" -> 3,
      "longmatch" -> 3, "dsir" -> 4, "stats" -> 5, "funnel" -> 3,
      "model" -> 3, "registry" -> 3)
    assert(jobs === expected)
    // the sweep audits the frame detect read and re-detects nothing;
    // kept runs unpaired there (3 jobs instead of 7)
    assert(treeJobs === expected.values.sum - 4)
  }
}
