package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers, per the usual ANN design:
  *  - brute-force cosine top-k: one scan, exact, the correctness
  *    baseline. The query vector travels as a literal (or 1-row
  *    broadcast), so the scan stays embarrassingly parallel and the
  *    top-k is a TakeOrderedAndProject — no shuffle of the fact table.
  *  - random-hyperplane LSH: deterministic seeded planes give every
  *    vector a band signature; candidates = vectors sharing a band
  *    bucket with the query; rank candidates by exact cosine. At 100 TB
  *    the bucket join prunes the scan to a tiny candidate set (bucketed/
  *    partitioned by signature, this becomes a partition-pruned lookup).
  *
  * The embedding dimensionality is read from the data (first row), not
  * hardcoded; pass `dim` explicitly to skip that lookup job.
  */
object Similarity {

  /** The bucket keys of every hyperplane-signature banded frame. */
  private val SigKeys = Seq("band", "sig")

  /** Deterministic Gaussian hyperplanes (fixed LCG seed). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 7L): Seq[Seq[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Embedding width from the first row — one tiny driver job; callers
    * on hot paths should thread the known dim through instead. */
  def inferDim(df: DataFrame, vecCol: String): Int =
    df.limit(1).select(size(col(vecCol))).head().getInt(0)

  /** Spread a fixture-small input over the session cores before a
    * CPU-heavy per-row projection (the plane-dot signature builders:
    * bands×bits dot products per row). A single-row-group fixture
    * arrives as ONE scan split, so the whole signature pass would run
    * in one task (measured 0.5–0.6 s single-core at sf0.1, ×4 when
    * concurrent consumers race the not-yet-materialized cache). No-op
    * whenever the input already carries ≥ cores partitions — i.e. any
    * real corpus. Deterministic hash key; per-row pure projections, so
    * results are partitioning-independent. */
  private def spreadCpu(df: DataFrame, keyCol: String): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (graft.core.Tables.scanPartitions(df) < sc.defaultParallelism)
      df.repartition(sc.defaultParallelism, col(keyCol))
    else df
  }

  /** (id, band, sig) rows: hyperplane sign-bit signatures computed as
    * JVM loops in mapPartitions (the planes array is captured in the
    * task closure — a few KB). One output row per (vector, band); the
    * vector itself is NOT carried — candidates re-join it by id so the
    * wide payload never rides through the band-join shuffle. */
  private def signatures(df: DataFrame, idCol: String, vecCol: String,
                         planes: Seq[Seq[Double]],
                         bands: Int, bitsPerBand: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val p: Array[Array[Double]] = planes.map(_.toArray).toArray
    // NO spreadCpu here (unlike md5Signatures): this tier's plane dots
    // are a compiled primitive loop (~ms for a fixture), so the
    // repartition exchange costs more than the single-task pass saves
    // — measured neardup_embedding 1.4 → 2.3 s with the spread.
    df.select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("vec"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.flatMap { case (id, v) =>
          (0 until bands).map { b =>
            var sig = 0L
            var i = 0
            while (i < bitsPerBand) {
              val plane = p(b * bitsPerBand + i)
              var d = 0.0
              var j = 0
              val n = math.min(v.length, plane.length)
              while (j < n) { d += v(j) * plane(j); j += 1 }
              sig = (sig << 1) | (if (d > 0) 1L else 0L)
              i += 1
            }
            (id, b, sig)
          }
        }
      }
      .toDF("id", "band", "sig")
  }

  /** Exact brute-force cosine top-k against the vector of `queryId`.
    * The 1-row query side is broadcast; ranking is on cosine rounded to
    * 4 decimals with id tiebreak, so the result is engine-stable. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     queryId: Long, k: Int): DataFrame = {
    val v = asDouble(col(vecCol))
    val q = df.filter(col(idCol) === queryId)
      .select(v.as("qvec"))
    df.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol),
        round(cosine(v, col("qvec")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Recall@k of an approximate neighbor list against an exact
    * baseline — the retrieval-health metric every ANN deployment
    * monitors. Inputs are any two (query, neighbor) frames; output is
    * one row per query: (qid, n_exact, n_hit, recall_bp). Pure
    * integer arithmetic on two key-joined counts — exact and
    * engine-replayable whenever both input frames are. */
  def recallAtK(approx: DataFrame, exact: DataFrame, queryCol: String,
                neighborCol: String): DataFrame = {
    val a = approx.select(col(queryCol).cast("long").as("qid"),
      col(neighborCol).cast("long").as("nid"))
    val e = exact.select(col(queryCol).cast("long").as("qid"),
      col(neighborCol).cast("long").as("nid"))
    val n = e.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
    val hit = e.join(a, Seq("qid", "nid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    n.join(hit, Seq("qid"), "left")
      .na.fill(0L, Seq("n_hit"))
      .select(col("qid"), col("n_exact"), col("n_hit"),
        expr("n_hit * 10000 DIV n_exact").as("recall_bp"))
  }

  /** int8 retrieval-fidelity report: for each query, recall@k of
    * brute-force top-k under QUANTIZED corpus vectors vs full
    * precision — the study run before committing a corpus to the 4×-
    * smaller int8 storage tier ("does quantization error change what
    * retrieval returns?"). ONE corpus scan computes both cosines per
    * (query, doc) pair; ranking is the bounded per-key top-k aggregate
    * (TopK.perKey — no full window sort), rounded to 4 decimals with
    * id tiebreak so both rankings are engine-stable. */
  def quantRecallReport(df: DataFrame, idCol: String, vecCol: String,
                        queryIds: Seq[Long], k: Int = 10): DataFrame = {
    require(queryIds.nonEmpty, "need at least one query id")
    val v = asDouble(col(vecCol))
    // spread the corpus side before the crossJoin: a fixture-sized
    // scan is ONE split, and the per-(row × query) quantize+cosine
    // work would otherwise run in a single task (the q47 lesson).
    // GUARDED (spreadCpu): a ≥cores-split input — any real corpus —
    // must not be COALESCED down to exactly #cores by an unconditional
    // repartition.
    // per-ROW norms (exact + dequantized side, and the query side) are
    // hoisted out of the O(corpus × queries) pair loop so each pair
    // evaluation is the codegen'd dot product alone — bit-identical to
    // the interpreted higher-order `cosine` it replaces: same
    // left-to-right sums over equal-length dense arrays, correctly-
    // rounded sqrt, same zero guard (see cosinePrenorm / q47).
    val base = spreadCpu(
        df.select(col(idCol).cast("long").as("id"), v.as("__v")), "id")
      .withColumn("__s", int8Scale(col("__v")))
      .withColumn("__dq",
        dequantInt8(int8Codes(col("__v"), col("__s")), col("__s")))
      .withColumn("__nv", sqrt(sumSqNative(col("__v"))))
      .withColumn("__nd", sqrt(sumSqNative(col("__dq"))))
    val q = broadcast(df.filter(col(idCol).isin(queryIds.map(Long.box): _*))
      .select(col(idCol).cast("long").as("qid"), v.as("__qv"))
      .withColumn("__nq", sqrt(sumSqNative(col("__qv")))))
    val pairs = graft.core.Caching.persistTracked(
      base.crossJoin(q).filter(col("id") =!= col("qid"))
        .select(col("qid"), col("id"),
          round(cosinePrenorm(col("__v"), col("__qv"),
            col("__nv") * col("__nq")), 4).as("cos_e"),
          round(cosinePrenorm(col("__dq"), col("__qv"),
            col("__nd") * col("__nq")), 4).as("cos_a")))
    val exact = TopK.perKey(pairs, "qid", "cos_e", "id", k)
    val approx = TopK.perKey(pairs, "qid", "cos_a", "id", k)
    recallAtK(approx, exact, "qid", "id").orderBy(col("qid"))
  }

  /** Exact all-pairs near-duplicate baseline: every pair with cosine ≥
    * threshold, by brute force (one side broadcast, nested-loop). O(n²)
    * — the correctness oracle for the LSH tier at fixture scale, NOT a
    * corpus-scale path (embeddingNearDup is). Exists because recall of
    * an approximate tier can only be certified against exhaustive
    * ground truth. */
  def bruteForceNearDup(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double): DataFrame = {
    // Per-row norms hoisted out of the O(n²) pair loop (guide §1.2):
    // each side carries sqrt(Σx²) computed once per ROW, so the pair
    // evaluation is the dot product alone — bit-identical to the fused
    // cosineNative loop (same left-to-right sums, same sqrt/product/
    // divide, equal-length fixture vectors; see cosinePrenorm).
    // the nested-loop's parallelism is the STREAM side's partition
    // count, and a fixture-sized corpus arrives as ONE scan split —
    // every O(n²) pair then runs in a single task (measured: one
    // 4 s task at sf0.1, 31 idle cores). Hash-spread the stream side
    // over the executor cores; deterministic key, trivial bytes.
    // GUARDED (spreadCpu): no-op on a ≥cores-split input, which an
    // unconditional repartition would instead COALESCE to #cores.
    val a = spreadCpu(
        df.select(col(idCol).cast("long").as("id_a"),
          asDouble(col(vecCol)).as("vec_a")), "id_a")
      .withColumn("__na", sqrt(sumSqNative(col("vec_a"))))
    val b = df.select(col(idCol).cast("long").as("id_b"),
      asDouble(col(vecCol)).as("vec_b"))
      .withColumn("__nb", sqrt(sumSqNative(col("vec_b"))))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosinePrenorm(col("vec_a"), col("vec_b"),
          col("__na") * col("__nb")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** LSH-bucketed ANN: candidates share ≥1 band bucket with the query;
    * ranked by exact cosine. Approximate — recall depends on bands×bits
    * vs similarity; deterministic for fixed seed. The signature frame
    * feeds both the query side and the candidate side, so it is
    * persisted rather than recomputed (two full signature scans
    * otherwise). */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              queryId: Long, k: Int,
              bands: Int = 8, bitsPerBand: Int = 8,
              seed: Long = 7L, dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else inferDim(df, vecCol)
    val planes = hyperplanes(bands * bitsPerBand, d, seed)
    lshRerank(df, idCol, vecCol, queryId, k,
      signatures(df, idCol, vecCol, planes, bands, bitsPerBand))
  }

  /** The probe-and-rerank body of [[lshTopK]] and [[lshTopKMd5]]: ids
    * sharing a band bucket with the query, ranked by exact cosine. The
    * vector frame feeds the candidate join-back AND the query-vector
    * lookup, so it is shared (the source is scanned and float→double
    * cast once). */
  private def lshRerank(df: DataFrame, idCol: String, vecCol: String,
                        queryId: Long, k: Int, sigs: DataFrame): DataFrame = {
    val candIds = BandedJoin.probe(sigs, SigKeys, queryId)
    val vecs = BandedJoin.shared(
      df.select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("vec")))
    val qVec = vecs.filter(col("id") === queryId).select(col("vec").as("qvec"))
    candIds.join(vecs, "id")
      .crossJoin(broadcast(qVec))
      .select(col("id"), round(cosineNative(col("vec"), col("qvec")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id"))
      .limit(k)
  }

  /** First 15 hex chars of md5 as a 60-bit long — the driver-side twin
    * of the q86/minhash md5 key parse, used to derive the certified
    * LSH plane family below (a pure function of its string, so the
    * oracle re-derives the identical planes with SQL md5). */
  private def md5Long60Local(s: String): Long =
    graft.functions.Hashing.md5Long60(s)

  /** (id, band, sig) signature frame under the md5-parity ±1 plane
    * family over the `quantScale`-quantized integer vector — the
    * column-expression certification twin of [[signatures]]. */
  private def md5Signatures(df: DataFrame, idCol: String, vecCol: String,
                            bands: Int, bitsPerBand: Int, dim: Int,
                            quantScale: Double): DataFrame = {
    val d = if (dim > 0) dim else inferDim(df, vecCol)
    val nPlanes = bands * bitsPerBand
    val signs: Array[Array[Long]] = Array.tabulate(nPlanes) { p =>
      Array.tabulate(d) { j =>
        if ((md5Long60Local(s"$p:$j") & 1L) == 1L) 1L else -1L
      }
    }
    // ONE codegen'd pass computes the quantization, all nPlanes ±1
    // integer plane dots, and the packed band sign bits
    // (graft.sql.PlaneSigs) — the staged column form evaluated
    // `aggregate(zip_with(vq, signs_p, ·*·))` once per plane: nPlanes
    // interpreted higher-order-function traversals per row that also
    // kept the projection out of whole-stage codegen. Integer sums are
    // order-free, so the fused loop is bit-identical (argument + the
    // NULL/length-mismatch semantics documented in PlaneSigs).
    val base = spreadCpu(df.select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("vec")), "id")
    base.select(col("id"),
      posexplode(planeSigsNative(col("vec"), quantScale, signs, bitsPerBand))
        .as(Seq("band", "sig")))
  }

  /** Certification twin of [[lshTopK]]: the SAME pipeline shape
    * (sign-bit signatures → banded buckets → candidate join → exact
    * cosine re-rank) with the hyperplane family derived from md5 —
    * plane p's component j is ±1 by the parity of md5Long60("p:j") —
    * and the sign-bit dot products computed over the 10⁶-QUANTIZED
    * integer vector (floor(v·10⁶), the q103 exact-sums recipe), so
    * signatures are order-free integer arithmetic and the whole tier
    * replays bit-for-bit in ANSI SQL. Signed-±1 random projections are
    * the standard SimHash-for-cosine family (Charikar 2002), so the
    * certified family is not a toy: recall behaves like the seeded
    * gaussian tier's. Production runs [[lshTopK]] (JVM kernel); this
    * twin certifies banding/bucketing/re-rank logic directly. */
  def lshTopKMd5(df: DataFrame, idCol: String, vecCol: String,
                 queryId: Long, k: Int,
                 bands: Int = 8, bitsPerBand: Int = 8,
                 dim: Int = -1, quantScale: Double = 1e6): DataFrame =
    lshRerank(df, idCol, vecCol, queryId, k,
      md5Signatures(df, idCol, vecCol, bands, bitsPerBand, dim, quantScale))

  /** k-NN self-join: approximate top-k neighbors for EVERY vector in
    * one pass — the batch form of lshTopK (which probes one query).
    * Candidates come from shared LSH band buckets (capped), exact
    * cosine ranks them, and the per-query top-k is a BOUNDED partial
    * aggregate (Aggregators.topK): each task ships at most k candidates
    * per query through the final shuffle, so a hot query with a huge
    * candidate set cannot skew a sort. Output: qid, rn, nid, cos_sim.
    * Approximate like all LSH: neighbors sharing no bucket are missed
    * (recall grows with bands; see lshTopK). */
  def knnJoin(df: DataFrame, idCol: String, vecCol: String, k: Int,
              bands: Int = 8, bitsPerBand: Int = 6, seed: Long = 7L,
              dim: Int = -1, maxBucket: Int = 1000): DataFrame = {
    val d = if (dim > 0) dim else inferDim(df, vecCol)
    val planes = hyperplanes(bands * bitsPerBand, d, seed)
    knnFromSigs(df, idCol, vecCol, k, maxBucket,
      signatures(df, idCol, vecCol, planes, bands, bitsPerBand))
  }

  /** The k-NN body of [[knnJoin]] and [[knnJoinMd5]]: capped candidate
    * pairs in both orders, exact cosine over joined-back vectors, and
    * the bounded per-query top-k aggregate. */
  private def knnFromSigs(df: DataFrame, idCol: String, vecCol: String,
                          k: Int, maxBucket: Int,
                          sigs: DataFrame): DataFrame = {
    val cand = BandedJoin.selfPairs(sigs, SigKeys, maxBucket, ordered = false)
    val scored = cosinePairs(cand, normedVectors(df, idCol, vecCol))
      .select(col("id_a").as("qid"), col("id_b").as("nid"), col("cos_sim"))
    TopK.perKey(scored, "qid", "cos_sim", "nid", k)
  }

  /** (id, vec, __nm) with the per-ROW norm riding the slim vector frame,
    * so the per-PAIR verify is the dot product alone (bit-identical:
    * see cosinePrenorm). */
  private def normedVectors(df: DataFrame, idCol: String,
                            vecCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("vec"))
      .withColumn("__nm", sqrt(sumSqNative(col("vec"))))

  /** (id_a, id_b, cos_sim) for candidate pairs: both sides' vectors
    * joined back from `vecs` (a [[normedVectors]] frame). */
  private def cosinePairs(cand: DataFrame, vecs: DataFrame): DataFrame =
    BandedJoin.joinBack(cand, vecs, Seq("vec", "__nm"),
        "id_a" -> "_a", "id_b" -> "_b")
      .select(col("id_a"), col("id_b"),
        round(cosinePrenorm(col("vec_a"), col("vec_b"),
          col("__nm_a") * col("__nm_b")), 4).as("cos_sim"))

  /** Certification twin of [[knnJoin]] under the md5-parity plane
    * family ([[lshTopKMd5]]'s signatures): same capped bucket
    * self-join, exact-cosine scoring, and bounded per-query top-k —
    * the Aggregators.topK tie-break (cosine desc, id asc) is exactly
    * SQL's ROW_NUMBER ORDER BY cos_sim DESC, nid, so the whole k-NN
    * join replays in the oracle. */
  def knnJoinMd5(df: DataFrame, idCol: String, vecCol: String, k: Int,
                 bands: Int = 8, bitsPerBand: Int = 6, dim: Int = -1,
                 quantScale: Double = 1e6,
                 maxBucket: Int = 1000): DataFrame =
    knnFromSigs(df, idCol, vecCol, k, maxBucket,
      md5Signatures(df, idCol, vecCol, bands, bitsPerBand, dim, quantScale))

  /** Embedding near-duplicate pairs: LSH band buckets (capped) + exact
    * cosine ≥ threshold. Same bucket-join-then-verify shape as
    * Dedup.minhashNearDup: candidate pairs are deduplicated BEFORE the
    * cosine verify and the vectors are joined back only for surviving
    * pairs — the wide vector payload never rides through the band
    * self-join shuffle. The slim signature frame (self-join, 2 sides)
    * and the id→vector frame (2 joinbacks) are each persisted so the
    * source is scanned once, not four times. */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, bands: Int = 8, bitsPerBand: Int = 6,
                       seed: Long = 7L, dim: Int = -1,
                       maxBucket: Int = 1000): DataFrame = {
    val d = if (dim > 0) dim else inferDim(df, vecCol)
    val planes = hyperplanes(bands * bitsPerBand, d, seed)
    cosinePairs(
        BandedJoin.selfPairs(
          signatures(df, idCol, vecCol, planes, bands, bitsPerBand),
          SigKeys, maxBucket, ordered = true),
        normedVectors(df, idCol, vecCol))
      .filter(col("cos_sim") >= threshold)
  }

  /** Argmax-cosine centroid assignment in ONE narrow projection: the
    * centroid codebook is an explicit spark broadcast read inside
    * mapPartitions, so assignment costs exactly one scan — no crossJoin
    * row expansion, no grouping, no vector through any exchange. The
    * cosine loop is `VectorFunctions.cosineKernel`, bit-identical to
    * the codegen'd `cosineNative` (CosineSim.scala:32-45 documents the
    * shared operation order), so swapping assignment mechanisms never
    * moves a result hash. Ties (exact-equal cosine) keep the SMALLEST
    * centroid id: centroids iterate in ascending-cid order and only a
    * strictly greater cosine replaces the incumbent.
    *
    * Output: (id, cluster, vec) — vec rides along unshuffled (narrow
    * op) for downstream verify joins to prune or project as needed. */
  private[operators] def assignToCentroids(
      slim: DataFrame, centroids: Array[(Long, Array[Double])]): DataFrame = {
    val spark = slim.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids.sortBy(_._1))
    slim.select(col("id"), col("vec")).as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cents = bc.value
        it.map { case (id, v) =>
          var best = Double.NegativeInfinity
          var bestCid = -1L
          var i = 0
          while (i < cents.length) {
            val cos = cosineKernel(v, cents(i)._2)
            if (cos > best) { best = cos; bestCid = cents(i)._1 }
            i += 1
          }
          (id, bestCid, v)
        }
      }
      .toDF("id", "cluster", "vec")
  }

  /** Within-cluster SemDeDup collapse over an assigned (id, cluster,
    * vec) frame: kept=false for any vector with a smaller-id
    * cluster-mate at cosine ≥ threshold ("keep first, drop later
    * copies"). The candidate pair join runs on a SLIM (id, cluster)
    * projection — the cluster-key exchange carries 16 bytes/row, never
    * the embedding; vectors join back by id only for candidate pairs
    * that need the cosine verify (same slim-shuffle shape as
    * embeddingNearDup). `assigned` feeds four subtrees, so callers
    * persist it. */
  private def dropWithinClusters(assigned: DataFrame,
                                 threshold: Double): DataFrame = {
    val ids = assigned.select(col("id"), col("cluster"))
    val pairs = ids.as("a")
      .join(ids.as("b"), col("a.cluster") === col("b.cluster") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // per-ROW norm rides the joinback frame so the per-PAIR verify is
    // the dot product alone (bit-identical: see cosinePrenorm)
    val vecs = assigned.select(col("id"), col("vec"),
      sqrt(sumSqNative(col("vec"))).as("__nm"))
    val dropped = pairs
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a"),
        col("__nm").as("__na")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b"),
        col("__nm").as("__nb")), "id_b")
      .filter(round(cosinePrenorm(col("vec_a"), col("vec_b"),
        col("__na") * col("__nb")), 4) >= threshold)
      .select(col("id_b").as("id")).distinct()
    ids
      .join(dropped.withColumn("__dup", lit(true)), Seq("id"), "left")
      .select(col("id").as("vec_id"), col("cluster"),
        not(coalesce(col("__dup"), lit(false))).as("kept"))
  }

  /** Storable hyperplane-signature index over an embedding column:
    * (id, band, sig) rows for `incrementalEmbeddingNearDup` — the
    * embedding analogue of `Dedup.minhashSignatures`. Batch and index
    * MUST be built with identical (bands, bitsPerBand, seed, dim): the
    * planes are derived deterministically from those parameters, which
    * is what makes a signature index persisted at corpus-settle time
    * joinable against any later batch. */
  def embeddingSignatures(df: DataFrame, idCol: String, vecCol: String,
                          bands: Int = 8, bitsPerBand: Int = 6,
                          seed: Long = 7L, dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else inferDim(df, vecCol)
    // plane-derivation parameters ride along as field metadata (they
    // persist through parquet), so a stored index is self-describing
    // and `incrementalEmbeddingNearDup` rejects a mismatched one loudly
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("bands", bands.toLong)
      .putLong("bits_per_band", bitsPerBand.toLong)
      .putLong("seed", seed)
      .putLong("dim", d.toLong)
      .build()
    signatures(df, idCol, vecCol,
        hyperplanes(bands * bitsPerBand, d, seed), bands, bitsPerBand)
      .withColumn("sig", col("sig").as("sig", meta))
  }

  /** Incremental EMBEDDING near-dup: which incoming vectors are
    * semantic near-duplicates (cosine ≥ threshold) of the settled
    * corpus — the embedding tier of the q73/q74 ingest family. The
    * corpus side arrives as two stored artifacts, both slim:
    * `corpusSig` (an `embeddingSignatures` index) and `corpusVecs`
    * (id → vector, for the exact verify of surviving candidates only).
    * Candidates = equi-join of batch band signatures against the index
    * (index buckets capped); cost is O(batch + index) with the vector
    * payload only in the final per-candidate joinbacks, never the
    * band-bucket shuffle. Output: (batch_id, corpus_id, cos_sim). */
  def incrementalEmbeddingNearDup(incoming: DataFrame, idCol: String,
                                  vecCol: String, corpusSig: DataFrame,
                                  corpusVecs: DataFrame, threshold: Double,
                                  bands: Int = 8, bitsPerBand: Int = 6,
                                  seed: Long = 7L, dim: Int = -1,
                                  maxBucket: Int = 1000): DataFrame = {
    val d = if (dim > 0) dim else inferDim(incoming, vecCol)
    Dedup.requireSigParams(corpusSig, "sig",
      Seq("bands" -> bands.toLong, "bits_per_band" -> bitsPerBand.toLong,
        "seed" -> seed, "dim" -> d.toLong),
      "Similarity.embeddingSignatures")
    val cand = BandedJoin.crossPairs(
      embeddingSignatures(incoming, idCol, vecCol, bands, bitsPerBand, seed, d),
      corpusSig, SigKeys, maxBatchBucket = 0, maxBucket)
    val cVecs = corpusVecs.select(col("id"), col("vec"),
      sqrt(sumSqNative(col("vec"))).as("__nm"))
    BandedJoin.joinBack(
        BandedJoin.joinBack(cand, normedVectors(incoming, idCol, vecCol),
          Seq("vec", "__nm"), "batch_id" -> "_b"),
        cVecs, Seq("vec", "__nm"), "corpus_id" -> "_c")
      .select(col("batch_id"), col("corpus_id"),
        round(cosinePrenorm(col("vec_b"), col("vec_c"),
          col("__nm_b") * col("__nm_c")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** SemDeDup-style semantic deduplication: coarse-cluster the corpus,
    * then collapse high-cosine pairs WITHIN each cluster only — the
    * clustering turns the quadratic all-pairs comparison into k
    * independent (n/k)² problems, which is the entire scale story of
    * embedding dedup at corpus size (Abbas et al., SemDeDup, 2023).
    *
    * Clustering here is deterministic nearest-seed-centroid assignment:
    * the `nCentroids` smallest-id vectors act as fixed centroids — the
    * oracle-reproducible stand-in for a learned codebook
    * (`semDedupKMeans` is the corpus-scale variant with a real k-means
    * quantizer and corpus-sized k). Assignment is argmax of UNROUNDED
    * cosine with smaller-centroid-id tie-break; on the fixtures the
    * worst best-vs-second margin is ~5e-5 (pinned in SemDedupSpec),
    * eleven orders above cross-engine float drift, so the assignment is
    * engine-stable.
    *
    * Output: one row per vector — (vec_id, cluster, kept).
    *
    * Plan shape: assignment is one narrow mapPartitions projection over
    * a broadcast codebook (no crossJoin expansion, no vector in any
    * group key or exchange — pinned in SemDedupSpec); the
    * within-cluster pair join exchanges a slim (id, cluster) projection
    * only. At fixture scale 8 clusters over 2k vectors is deliberate
    * skew — real deployments use semDedupKMeans, which sizes k so
    * clusters stay bounded. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               threshold: Double, nCentroids: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val slim = df.select(col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("vec"))
    val cents = slim.orderBy(col("id")).limit(nCentroids)
      .as[(Long, Array[Double])].collect() // k rows — driver-sized
    val assigned = graft.core.Caching.persistTracked(
      assignToCentroids(slim, cents))
    dropWithinClusters(assigned, threshold)
  }

  /** semDedup with a LEARNED coarse quantizer and corpus-scaled k — the
    * production path. `Ivf.fitQuantizer` fits the k-means codebook
    * SPHERICALLY (vectors L2-normalized before the fit, so euclidean
    * cells equal cosine cells and stay metric-consistent with the
    * argmax below even on unnormalized corpora — SemDedupSpec pins the
    * resulting cluster-size bound on a scaled-norm fixture); optionally
    * on a Bernoulli sample via `fitFraction`. Assignment is the same
    * single-projection cosine argmax as `semDedup`, over the broadcast
    * `clusterCenters`. k = ceil(n / targetClusterSize)
    * (clamped to [2, maxCentroids]) keeps the within-cluster verify
    * bounded by k·(n/k)² ≈ n·targetClusterSize comparisons — linear in
    * the corpus for a fixed target size, which is what makes the
    * operator survive 100 TB where a fixed k degenerates to (n/k)².
    *
    * Clusters are quantizer cell indices (0..k-1), not vector ids.
    * Deterministic for a fixed seed on fixed data (seeded random-init
    * k-means), but not SQL-oracle-expressible — certified instead by
    * SemDedupSpec's exact invariant recomputation (min-id member of
    * every cluster kept; dropped ⇔ a smaller-id cluster-mate at cosine
    * ≥ threshold). */
  def semDedupKMeans(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, targetClusterSize: Int = 1024,
                     maxCentroids: Int = 65536, seed: Long = 42L,
                     fitFraction: Double = 1.0): DataFrame = {
    val (_, assigned) = semDedupIndex(df, idCol, vecCol,
      targetClusterSize, maxCentroids, seed, fitFraction)
    dropWithinClusters(
      assigned.select(col("id"), col("cell").as("cluster"), col("vec")),
      threshold)
  }

  /** Default codebook broadcast ceiling for `semDedupIndex`: every
    * task holds the full k·dim·8-byte centroid array, so an unbounded
    * k·dim is a per-executor OOM, not a slow query. 64 MB is far above
    * any sane coarse codebook (65536 cells × 1024 dims ≈ 512 MB would
    * be IVF-flat territory, not a coarse quantizer). */
  val DefaultMaxCodebookBytes: Long = 64L << 20

  /** Fit + assign the semantic-dedup coarse quantizer and return the
    * SHARED index artifact: (model, assigned) with assigned =
    * (id, cell, vec), persisted. This IS `Ivf.indexCosine` — the same
    * stored table (`Ivf.writeIndex`) serves semantic dedup
    * (`dropWithinClusters` over it) and ANN probes (`Ivf.topK` with
    * metric = "cosine"), so a corpus settle pays ONE quantizer fit and
    * ONE assignment scan for both workloads. k = ceil(n /
    * targetClusterSize) clamped to [2, maxCentroids] and to n (KMeans
    * requires k ≤ n).
    *
    * Fails loudly when the codebook (k·dim·8 bytes) would exceed the
    * `maxCodebookBytes` task-broadcast ceiling; the escape hatch at
    * that scale is `semDedupTwoLevel` — a coarse spherical router plus
    * per-cell fine quantizers, so each assignment broadcasts only its
    * level's centroids. */
  def semDedupIndex(df: DataFrame, idCol: String, vecCol: String,
                    targetClusterSize: Int = 1024,
                    maxCentroids: Int = 65536, seed: Long = 42L,
                    fitFraction: Double = 1.0,
                    maxCodebookBytes: Long = DefaultMaxCodebookBytes): (org.apache.spark.ml.clustering.KMeansModel, DataFrame) = {
    // persisted up front: the count job warms the cache the assignment
    // scan reuses, so the source is read once here (the quantizer fit
    // reads it separately — Bernoulli-sampled at corpus scale)
    val slim = graft.core.Caching.persistTracked(
      df.select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("vec")))
    val n = slim.count()
    require(n >= 2, s"semDedupIndex needs >= 2 vectors (got $n) — a " +
      "0/1-row corpus has nothing to dedup and MLlib KMeans needs k >= 2")
    val k = math.max(1L, math.min(n, math.max(2L,
      math.min(maxCentroids.toLong,
        (n + targetClusterSize - 1) / targetClusterSize)))).toInt
    val dim = inferDim(df, vecCol)
    val bytes = k.toLong * dim * 8
    require(bytes <= maxCodebookBytes,
      s"semDedup codebook of $k centroids x $dim dims = $bytes bytes " +
        s"exceeds the $maxCodebookBytes-byte broadcast ceiling; raise " +
        "targetClusterSize / lower maxCentroids, or use the two-level " +
        "codebook path (semDedupTwoLevel) so each assignment broadcasts " +
        "one level only")
    val model = Ivf.fitQuantizer(df, idCol, vecCol, nCells = k,
      seed = seed, fitFraction = fitFraction)
    (model, Ivf.assignCosine(model, slim))
  }

  /** TWO-LEVEL codebook assignment — the escape hatch past the flat
    * codebook's broadcast ceiling. A coarse spherical quantizer
    * (`coarseCells`, broadcast-sized) routes every vector to a coarse
    * cell; each non-empty cell then fits its OWN fine quantizer with
    * k_c = ceil(n_c / targetClusterSize), and assignment within the
    * cell is the usual cosine argmax over that cell's centroids only.
    * No task ever holds more than max(coarseCells, max_c k_c)·dim
    * doubles — each assignment branch broadcasts one level's centroids,
    * never the full k = Σk_c codebook (which is what breaches the flat
    * ceiling at corpus scale).
    *
    * Cost shape: the coarse assignment is one narrow scan; the fine
    * tier is `#cells` filtered scans of the PERSISTED coarse assignment
    * (union of narrow branches — no vector exchanges anywhere). At
    * 100 TB the coarse assignment would be written partitioned by
    * `ccell` (Ivf.writeIndex) so each fine branch partition-prunes
    * instead of filter-scanning, and cells fit/assign embarrassingly
    * parallel across jobs.
    *
    * Global cluster ids are dense: cell c's fine clusters occupy
    * [offset_c, offset_c + k_c) with offsets in ascending-ccell order,
    * so every fine cluster maps back to exactly one coarse cell
    * (pinned in SemDedupSpec). Deterministic for a fixed seed (seeded
    * coarse fit; per-cell seeds derived as seed + ccell).
    *
    * Returns (id, ccell, cluster, vec), persisted. The richer
    * `semDedupIndexTwoLevelFull` additionally returns the router
    * centroids and the fine-centroid table — the artifacts
    * `Ivf.writeIndexTwoLevel` persists for two-stage ANN probes. */
  def semDedupIndexTwoLevel(df: DataFrame, idCol: String, vecCol: String,
                            targetClusterSize: Int = 1024,
                            coarseCells: Int = 16, seed: Long = 42L,
                            fitFraction: Double = 1.0,
                            maxCodebookBytes: Long = DefaultMaxCodebookBytes): DataFrame =
    semDedupIndexTwoLevelFull(df, idCol, vecCol, targetClusterSize,
      coarseCells, seed, fitFraction, maxCodebookBytes).assigned

  /** Build parameters of a two-level index — persisted as field
    * metadata by `Ivf.writeIndexTwoLevel` so a stored index is
    * self-describing and the append path can enforce its contract
    * (dim must match; a pre-contract store is rejected loudly). */
  final case class TwoLevelParams(dim: Int, targetClusterSize: Int,
                                  seed: Long)

  final case class TwoLevelIndex(
      routerCents: Array[(Long, Array[Double])],
      fineCents: DataFrame,
      assigned: DataFrame,
      params: TwoLevelParams)

  /** The full two-level artifact: router centroids (driver-sized),
    * fine-centroid rows (ccell, cluster, centroid) — a DATAFRAME, so
    * at scale it stores partitioned by ccell and a probe reads only
    * its probed cells' rows — and the per-vector assignment. Note the
    * DRIVER transiently holds every fine model's centers during the
    * build (MLlib KMeans models are driver-side objects); that is
    * inherent to fitting with MLlib and is the build-time analogue of
    * the storage the table then distributes. */
  def semDedupIndexTwoLevelFull(df: DataFrame, idCol: String, vecCol: String,
                                targetClusterSize: Int = 1024,
                                coarseCells: Int = 16, seed: Long = 42L,
                                fitFraction: Double = 1.0,
                                maxCodebookBytes: Long = DefaultMaxCodebookBytes): TwoLevelIndex = {
    val slim = graft.core.Caching.persistTracked(
      df.select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("vec")))
    val n = slim.count()
    require(n > 0, "two-level index over an empty corpus")
    val kc = math.max(1L, math.min(coarseCells.toLong, n)).toInt
    val dim = inferDim(df, vecCol)
    // BOTH levels honor the ceiling: the coarse router broadcasts
    // kc·dim doubles in its assignment scan just like any codebook
    require(kc.toLong * dim * 8 <= maxCodebookBytes,
      s"coarse router of $kc cells x $dim dims exceeds the " +
        s"$maxCodebookBytes-byte broadcast ceiling; lower coarseCells")
    // a 1-row corpus (or coarseCells = 1) needs no router at all —
    // everything lives in coarse cell 0 and only the fine tier splits
    // (MLlib KMeans itself requires k >= 2); the degenerate router
    // centroid is the zero vector (the single cell is always probed)
    val (routerCents, a1src) =
      if (kc < 2)
        (Array((0L, new Array[Double](dim))),
          slim.select(col("id"), lit(0L).as("ccell"), col("vec")))
      else {
        // same minimum-sample guard as the fine tier: a sampled fit
        // must see comfortably more rows than centroids, else fall
        // back to the full corpus (a tiny corpus with a small
        // fitFraction would otherwise hand KMeans fewer rows than kc —
        // a degenerate/short router codebook)
        val cfrac = if (fitFraction < 1.0 && n * fitFraction >= 10.0 * kc)
          fitFraction else 1.0
        val coarse = Ivf.fitQuantizer(df, idCol, vecCol, nCells = kc,
          seed = seed, fitFraction = cfrac)
        val coarseCents = coarse.clusterCenters.zipWithIndex
          .map { case (c, i) => (i.toLong, c.toArray) }
        (coarseCents, assignToCentroids(slim, coarseCents)
          .select(col("id"), col("cluster").as("ccell"), col("vec")))
      }
    val routerByCid = routerCents.toMap
    val a1 = graft.core.Caching.persistTracked(a1src)
    // per-cell sizes: kc driver-sized rows
    val cellSizes = a1.groupBy(col("ccell")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    // Per-cell plan FIRST — k_c and the dense global-cluster offsets
    // are pure arithmetic over the (deterministic) size census, so they
    // are fixed before any fit runs and the fits themselves can run
    // CONCURRENTLY without touching the id assignment: wall-clock is
    // max(fit) on a busy cluster, not Σ fit as with the driver-serial
    // loop this replaces (each fit is still seeded seed + ccell, so the
    // result is bit-identical to the sequential build).
    case class CellPlan(c: Long, nC: Long, kC: Int, offset: Long)
    var offset = 0L
    val plans = cellSizes.map { case (c, nC) =>
      val kC = math.max(1L, math.min(nC,
        (nC + targetClusterSize - 1) / targetClusterSize)).toInt
      // the per-branch broadcast must honor the same ceiling the flat
      // path enforces: a pathological giant coarse cell (router
      // failure) would otherwise rebuild the oversized codebook here
      require(kC.toLong * dim * 8 <= maxCodebookBytes,
        s"two-level fine codebook for coarse cell $c ($kC centroids x " +
          s"$dim dims) exceeds the $maxCodebookBytes-byte " +
          "broadcast ceiling — the coarse router collapsed too much " +
          "mass into one cell; raise coarseCells or targetClusterSize")
      val p = CellPlan(c, nC, kC, offset)
      offset += kC
      p
    }
    // bounded pool: each fit is a driver-blocking MLlib job; 8 in
    // flight keeps the scheduler busy without a thread per cell
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(8, plans.length)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val fitted: Seq[(CellPlan, Array[(Long, Array[Double])])] =
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(plans.toSeq.map { p =>
          if (p.kC < 2)
            // a cell at-or-under the target needs no fine split (and
            // MLlib KMeans requires k ≥ 2): the whole cell is one fine
            // cluster; its probe representative is the router centroid
            // (free, and a sound stand-in for a cell this small)
            scala.concurrent.Future.successful(
              (p, Array((p.offset, routerByCid(p.c)))))
          else scala.concurrent.Future {
            // sample the fine fit only when the cell is comfortably
            // larger than its centroid count (a sampled tiny cell
            // could fit on fewer rows than centroids)
            val frac =
              if (fitFraction < 1.0 && p.nC * fitFraction >= 10.0 * p.kC)
                fitFraction else 1.0
            val fine = Ivf.fitQuantizerDoubles(
              a1.filter(col("ccell") === p.c), "vec", p.kC,
              seed + p.c, frac)
            (p, fine.clusterCenters.zipWithIndex
              .map { case (fc, i) => (p.offset + i, fc.toArray) })
          }
        }),
        scala.concurrent.duration.Duration.Inf)
      finally { pool.shutdown(); () }
    val centRows = fitted.flatMap { case (p, cents) =>
      cents.map { case (fid, arr) => (p.c, fid, arr.toSeq) }
    }
    val branches = fitted.map { case (p, cents) =>
      val cellDf = a1.filter(col("ccell") === p.c)
      if (p.kC < 2)
        cellDf.select(col("id"), lit(p.c).as("ccell"),
          lit(p.offset).as("cluster"), col("vec"))
      else
        assignToCentroids(cellDf.select(col("id"), col("vec")), cents)
          .select(col("id"), lit(p.c).as("ccell"), col("cluster"), col("vec"))
    }
    val spark = df.sparkSession
    import spark.implicits._
    val fineCentsDf = centRows
      .toDF("ccell", "cluster", "centroid")
    TwoLevelIndex(routerCents, fineCentsDf,
      graft.core.Caching.persistTracked(branches.reduce(_ unionByName _)),
      TwoLevelParams(dim, targetClusterSize, seed))
  }

  /** SemDeDup over the two-level codebook: same policy as
    * `semDedupKMeans` (dropped ⇔ a smaller-id same-cluster mate at
    * cosine ≥ threshold), with the within-cluster verify bounded by
    * targetClusterSize through the per-cell k_c sizing — but with NO
    * broadcast larger than one level's centroids, so it survives
    * codebooks past the flat path's 64 MB ceiling. */
  def semDedupTwoLevel(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, targetClusterSize: Int = 1024,
                       coarseCells: Int = 16, seed: Long = 42L,
                       fitFraction: Double = 1.0,
                       maxCodebookBytes: Long = DefaultMaxCodebookBytes): DataFrame =
    dropWithinClusters(
      semDedupIndexTwoLevel(df, idCol, vecCol, targetClusterSize,
        coarseCells, seed, fitFraction, maxCodebookBytes)
        .select(col("id"), col("cluster"), col("vec")),
      threshold)

  /** SemDeDup SERVING path over a STORED assignment (id, cluster, vec)
    * — e.g. `Ivf.readIndex` of a cells table written with the learned
    * cluster as its partition key. The 100× production shape: the
    * quantizer fit and the assignment scan are paid ONCE at corpus
    * settle (`semDedupIndex` → `Ivf.writeIndex`), and every subsequent
    * dedup pass is this within-cluster collapse over the stored,
    * cluster-partitioned table — the candidate join is then co-located
    * with the storage layout instead of re-deriving clusters per pass.
    * Policy and output are identical to `semDedupKMeans` on the same
    * assignment (kept = false ⇔ a smaller-id cluster-mate at cosine ≥
    * threshold) — spec-pinned in SemDedupSpec. */
  def semDedupFromIndex(assigned: DataFrame, threshold: Double): DataFrame =
    dropWithinClusters(
      graft.core.Caching.persistTracked(
        assigned.select(col("id"), col("cluster"), col("vec"))),
      threshold)

  /** Embedding centroid drift between two snapshots, per group (label,
    * source, time slice…): cosine of the group's mean vectors — the
    * SEMANTIC twin of Vocab.vocabDrift (that catches a source changing
    * vocabulary; this catches its embedding distribution moving, e.g.
    * an encoder swap or a crawl whose content silently changed
    * character). cos ≈ 1 means the group's centroid held; low or
    * negative means re-index / re-screen that group before mixing.
    *
    * Exactness (the oracle contract): float mean vectors summed across
    * a cluster are summation-order-dependent, so components are
    * QUANTIZED to floor(v·2²⁰) longs first — sums are then exact
    * integers in any order, and since cosine is scale-invariant the
    * unnormalized quantized SUM vector stands in for the mean. Dot and
    * norms accumulate as decimal(38,0) (sums can pass 2⁶³); the single
    * final cosine per group is computed in double from those exact
    * integers — deterministic on both engines. Quantization error is
    * ≤ 2⁻²⁰ per component, orders below any drift worth flagging.
    *
    * Scale shape: each side collapses in its scan to (group, dim)
    * component sums — ONE map-side-combinable aggregate each, dim ≤ a
    * few thousand rows per group — then a (group, dim)-keyed join of
    * the two tiny sum tables and a per-group roll-up. The embeddings
    * themselves never shuffle. */
  def centroidDrift(a: DataFrame, b: DataFrame, groupCol: String,
                    vecCol: String, scaleBits: Int = 20): DataFrame = {
    require(scaleBits >= 1 && scaleBits <= 30,
      s"scaleBits must be in [1, 30], got $scaleBits")
    val scale = (1L << scaleBits).toDouble
    def sums(df: DataFrame, sCol: String): DataFrame = df
      .select(col(groupCol).as("group"), posexplode(col(vecCol))
        .as(Seq("idx", "__v")))
      .select(col("group"), col("idx"),
        floor(col("__v").cast("double") * scale).cast("long").as("__q"))
      .groupBy(col("group"), col("idx"))
      .agg(sum(col("__q")).as(sCol))
    def counts(df: DataFrame, nCol: String): DataFrame =
      df.groupBy(col(groupCol).as("group")).agg(count(lit(1)).as(nCol))
    val dec = "decimal(38,0)"
    // FULL join on (group, idx) + zero-fill: if the two snapshots have
    // different dimensionalities (an encoder swap that changed dim —
    // exactly a drift this monitor must flag), the missing components
    // count as zeros, so the extra dimensions inflate one side's norm
    // and DEPRESS the cosine instead of being silently truncated away
    // by an inner join. Groups present on only one side are still
    // excluded at the end (no drift verdict without both snapshots).
    sums(a, "sa")
      .join(sums(b, "sb"), Seq("group", "idx"), "full_outer")
      .select(col("group"),
        coalesce(col("sa"), lit(0L)).as("sa"),
        coalesce(col("sb"), lit(0L)).as("sb"))
      .groupBy(col("group"))
      .agg(
        sum(col("sa").cast(dec) * col("sb").cast(dec)).as("__dot"),
        sum(col("sa").cast(dec) * col("sa").cast(dec)).as("__na2"),
        sum(col("sb").cast(dec) * col("sb").cast(dec)).as("__nb2"))
      .join(broadcast(counts(a, "n_a")), Seq("group"))
      .join(broadcast(counts(b, "n_b")), Seq("group"))
      .select(col("group"), col("n_a"), col("n_b"),
        when(col("__na2") === 0 || col("__nb2") === 0, lit(null))
          .otherwise(floor(col("__dot").cast("double") /
            (sqrt(col("__na2").cast("double")) *
              sqrt(col("__nb2").cast("double"))) * 10000))
          .cast("long").as("cos_bp"))
  }
}
