package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.asDouble

/** Product quantization (PQ) — the vector-compression tier below the
  * int8 scalar codes (`Ivf.writeIndexQuantized`): each vector is split
  * into `m` contiguous subvectors and every subvector is replaced by
  * the index of its nearest centroid in a per-subspace codebook of
  * `ksub` entries (Jégou, Douze & Schmid, "Product Quantization for
  * Nearest Neighbor Search", IEEE TPAMI 2011 — public literature; the
  * reference system has no vector-compression tier at all).
  *
  * Why this exists at 100 TB: a stored cell row shrinks from dim·8
  * bytes (double), dim·1 (int8) to **m bytes + one norm double** —
  * dim=64, m=8 is 16 bytes/vector vs 512 — and a probe scores
  * candidates WITHOUT reconstructing them: the query precomputes an
  * m×ksub table of subspace dot products (ADC — asymmetric distance
  * computation), and each candidate costs m table lookups + m adds
  * instead of dim multiply-adds. Probe IO and probe CPU both drop by
  * ~dim/m.
  *
  * Scale shape:
  *  - the codebook is m·ksub·(dim/m) = dim·ksub doubles — 128 KB at
  *    dim=64/ksub=256 — broadcast-sized by construction, independent
  *    of corpus size;
  *  - fitting samples the corpus (`fitFraction`), runs the m subspace
  *    k-means fits CONCURRENTLY (bounded pool, per-subspace seeds —
  *    the two-level fine-fit pattern), and never shuffles the corpus:
  *    encode is one scan with the codebook broadcast;
  *  - ADC scoring is an embarrassingly parallel scan of (id, codes,
  *    rnorm) rows; with the IVF layout (`writeIndexPq`) the scan is
  *    partition-pruned to the probed cells.
  *
  * Cosine under ADC: `adc_sim(x) ≈ cos(q, x)` is computed as
  * `Σ_j <q_j, c_j[code_j]> / (‖q‖·‖recon(x)‖)` — the exact cosine of
  * the query against the RECONSTRUCTION. `rnorm = ‖recon(x)‖` is
  * computed once at encode time from the chosen centroids, so scoring
  * never touches the original vector. Recall lost to quantization is
  * recovered by `refine`: exact re-rank of the ADC shortlist against
  * the raw vectors in the id-bucketed sidecar.
  */
object Pq {

  /** Build parameters of a PQ codebook — the stored-index contract
    * (`writeIndexPq` persists them; probes reject a store whose
    * parameters cannot be read or whose dim disagrees with the
    * query). */
  final case class PqParams(m: Int, ksub: Int, dim: Int, seed: Long)

  /** `codebooks(j)(c)` = centroid `c` of subspace `j` (length dim/m),
    * codes dense 0..ksub-1 per subspace. `ksub ≤ 256` so a code is one
    * byte and a row's codes are an m-byte binary. */
  final case class PqModel(params: PqParams,
                           codebooks: Array[Array[Array[Double]]]) {
    def dsub: Int = params.dim / params.m
    require(params.m > 0 && params.dim % params.m == 0,
      s"dim ${params.dim} not divisible into m=${params.m} subspaces")
    require(params.ksub > 0 && params.ksub <= 256,
      s"ksub must be in 1..256 (one byte per code), got ${params.ksub}")
  }

  /** Fit per-subspace codebooks by seeded k-means over a Bernoulli
    * sample. The m fits run concurrently (each is a small MLlib job on
    * the dsub-wide projection); subspace j is seeded `seed + j`, so
    * the fit is deterministic regardless of pool scheduling. */
  def fit(df: DataFrame, vecCol: String, m: Int, ksub: Int = 256,
          seed: Long = 42L, fitFraction: Double = 1.0): PqModel = {
    val slim = df.select(asDouble(col(vecCol)).as("vec"))
    val dim = slim.select(size(col("vec"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val n = slim.count()
    // same min-sample guard as the two-level fine fits: never hand
    // KMeans a sample smaller than its centroid count
    val frac =
      if (fitFraction < 1.0 && n * fitFraction >= 10.0 * ksub) fitFraction
      else 1.0
    val src = slim.persist()
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(8, m)))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val books =
        try scala.concurrent.Await.result(
          scala.concurrent.Future.sequence((0 until m).map { j =>
            scala.concurrent.Future {
              Ivf.fitQuantizerRawDoubles(
                  src.select(slice(col("vec"), j * dsub + 1, dsub).as("sv")),
                  "sv", ksub, seed + j, frac)
                .clusterCenters.map(_.toArray)
            }
          }),
          scala.concurrent.duration.Duration.Inf).toArray
        finally { pool.shutdown(); () }
      PqModel(PqParams(m, ksub, dim, seed), books)
    } finally { src.unpersist(); () }
  }

  /** Deterministic head codebooks: subspace j's centroids are the
    * subvectors of the FIRST `ksub` rows by ascending id — no
    * clustering, fully replayable by the SQL oracle (the q72
    * seed-centroid pattern), so the encode/ADC machinery itself is
    * oracle-certified (q79) independently of k-means. */
  def fitHead(df: DataFrame, idCol: String, vecCol: String,
              m: Int, ksub: Int): PqModel = {
    val rows = df
      .select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("vec"))
      .orderBy(col("id")).limit(ksub)
      .collect()
    require(rows.nonEmpty, "fitHead on an empty frame")
    val dim = rows(0).getSeq[Double](1).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val books = Array.tabulate(m) { j =>
      rows.map(_.getSeq[Double](1).slice(j * dsub, j * dsub + dsub).toArray)
    }
    PqModel(PqParams(m, rows.length, dim, seed = -1L), books)
  }

  /** Σ_d a(d)·b(d), left-to-right — the ONE inner-product kernel of
    * this file. Code assignment compares `‖c‖² − 2·<x,c>` (the
    * ‖x‖²-free form of squared euclidean distance): both terms are
    * sequential sums, so the oracle's `list_inner_product` replays the
    * comparison bit-for-bit — no sqrt whose rounding could flip an
    * argmin tie-break between engines. */
  private def ip(a: Array[Double], b: Array[Double], off: Int): Double = {
    var s = 0.0
    var d = 0
    while (d < b.length) { s += a(off + d) * b(d); d += 1 }
    s
  }

  /** Encode every vector: (id, codes binary[m], rnorm double).
    * One broadcast + one scan; per row m·ksub·dsub = dim·ksub FLOPs.
    * Ties (two centroids at the same score) keep the LOWER code — the
    * oracle's `ORDER BY score, code` tie-break. */
  def encode(model: PqModel, df: DataFrame, idCol: String,
             vecCol: String): DataFrame =
    encodeFull(model, df, idCol, vecCol).drop("rcos")

  /** Encode plus the per-row quantization-quality witness:
    * `rcos = cos(x, recon(x))` — free inside the assignment loop (the
    * cross-dot accumulates over the chosen centroids) and the drift
    * signal `appendToIndex` aggregates. */
  private def encodeFull(model: PqModel, df: DataFrame, idCol: String,
                         vecCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val m = model.params.m
    val dsub = model.dsub
    val dim = model.params.dim
    // ‖c‖² precomputed once per centroid — the same doubles every row
    // would recompute (identical sequential sum, so bit-identical)
    val cc = model.codebooks.map(_.map(c => ip(c, c, 0)))
    val bc = spark.sparkContext.broadcast((model.codebooks, cc))
    df.select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("vec"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val (books, ccs) = bc.value
        it.map { case (id, v) =>
          require(v.length == dim,
            s"vector of id $id has dim ${v.length}, codebook dim $dim")
          val codes = new Array[Byte](m)
          var rsq = 0.0
          var vr = 0.0
          var j = 0
          while (j < m) {
            val book = books(j)
            val ccj = ccs(j)
            var best = Double.PositiveInfinity
            var bestC = 0
            var c = 0
            while (c < book.length) {
              val score = ccj(c) - 2.0 * ip(v, book(c), j * dsub)
              if (score < best) { best = score; bestC = c }
              c += 1
            }
            codes(j) = bestC.toByte
            rsq += ccj(bestC)
            vr += ip(v, book(bestC), j * dsub)
            j += 1
          }
          val rnorm = math.sqrt(rsq)
          val vnorm = math.sqrt(ip(v, v, 0))
          val rcos =
            if (rnorm > 0 && vnorm > 0) vr / (rnorm * vnorm) else 0.0
          (id, codes, rnorm, rcos)
        }
      }
      .toDF("id", "codes", "rnorm", "rcos")
  }

  /** ADC top-k over an encoded frame: build the m×ksub lookup table
    * from the query once (driver), broadcast it, score each row with m
    * lookups + m adds, bounded top-k. `adc_sim` is rounded to 4
    * decimals like every cosine this engine emits. */
  def adcTopK(model: PqModel, codes: DataFrame, qVec: Array[Double],
              k: Int, excludeId: Long = -1L): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val scored = adcScore(model, codes, qVec)
    scored.filter(col("id") =!= excludeId)
      .orderBy(col("adc_sim").desc, col("id"))
      .limit(k)
  }

  /** The scoring scan behind `adcTopK` — exposed so the stored-index
    * probe can compose it after partition pruning. */
  private def adcScore(model: PqModel, codes: DataFrame,
                       qVec: Array[Double]): DataFrame = {
    require(qVec.length == model.params.dim,
      s"query dim ${qVec.length} != codebook dim ${model.params.dim}")
    val spark = codes.sparkSession
    import spark.implicits._
    val m = model.params.m
    val dsub = model.dsub
    val lut = Array.tabulate(m) { j =>
      model.codebooks(j).map(c => ip(qVec, c, j * dsub))
    }
    val qnorm = math.sqrt(ip(qVec, qVec, 0))
    val bc = spark.sparkContext.broadcast(lut)
    codes.select(col("id"), col("codes"), col("rnorm"))
      .as[(Long, Array[Byte], Double)]
      .mapPartitions { it =>
        val t = bc.value
        it.map { case (id, cs, rnorm) =>
          var dot = 0.0
          var j = 0
          while (j < m) { dot += t(j)(cs(j) & 0xff); j += 1 }
          val sim =
            if (qnorm > 0 && rnorm > 0) dot / (qnorm * rnorm) else 0.0
          (id, BigDecimal(sim).setScale(4, BigDecimal.RoundingMode.HALF_UP)
            .toDouble)
        }
      }
      .toDF("id", "adc_sim")
  }

  /** Rebuild the reconstruction (id, vec) from codes — inspection and
    * spec surface; probes never call this (ADC's point is that they
    * don't have to). */
  def reconstruct(model: PqModel, codes: DataFrame): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val m = model.params.m
    val dsub = model.dsub
    val bc = spark.sparkContext.broadcast(model.codebooks)
    codes.select(col("id"), col("codes")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val books = bc.value
        it.map { case (id, cs) =>
          val v = new Array[Double](m * dsub)
          var j = 0
          while (j < m) {
            System.arraycopy(books(j)(cs(j) & 0xff), 0, v, j * dsub, dsub)
            j += 1
          }
          (id, v)
        }
      }
      .toDF("id", "vec")
  }

  /** Fully deterministic IVF-PQ probe — the certification twin of
    * `ivfPqTopK`: the coarse cells are the `nCells` smallest-id
    * vectors acting as fixed cosine centroids (the q72 seed-centroid
    * pattern) and the PQ codebooks are `fitHead`'s head subvectors
    * (the q79 pattern), so there is no k-means ANYWHERE in the plan
    * and every stage — cell assignment, probe-cell ranking, code
    * assignment, ADC scoring (already rounded to 4 inside
    * `adcScore`), the `refine·k` ADC shortlist cut, and the exact-
    * cosine re-rank — is pure arithmetic a SQL oracle replays
    * bit-for-bit. Probe SHAPE is identical to the production path
    * (partial `nProbe`, ADC candidates, bounded refine), which is
    * the point: the oracle certifies the full probe pipeline, while
    * the seeded k-means configuration of the same code path
    * (`ivfPqTopK`) differs only in where the centroids come from. */
  def ivfPqTopKHead(df: DataFrame, idCol: String, vecCol: String,
                    queryId: Long, k: Int, nCells: Int = 8,
                    nProbe: Int = 4, m: Int = 4, ksub: Int = 16,
                    refine: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val slim = df.select(col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("vec"))
    val cents = slim.orderBy(col("id")).limit(nCells)
      .as[(Long, Array[Double])].collect() // nCells rows — driver-sized
    val assigned = graft.core.Caching.persistTracked(
      Similarity.assignToCentroids(slim, cents)
        .withColumnRenamed("cluster", "cell"))
    val pq = fitHead(df, idCol, vecCol, m, ksub)
    val codes = encode(pq, assigned, "id", "vec")
      .join(assigned.select(col("id"), col("cell")), "id")
    val qv = assigned.filter(col("id") === queryId)
      .select(col("vec")).head().getSeq[Double](0).toArray
    val probes = Ivf.rankCells(qv, cents, "cosine", nProbe)
    val adc = adcScore(pq, codes.filter(col("cell").isin(probes: _*)), qv)
      .filter(col("id") =!= queryId)
    import graft.functions.VectorFunctions.cosineNative
    val short = adc.orderBy(col("adc_sim").desc, col("id"))
      .limit(refine * k).select(col("id"))
    val qFrame = Ivf.qVecFrame(spark, qv)
    assigned.join(broadcast(short), "id")
      .crossJoin(broadcast(qFrame))
      .select(col("id"),
        round(cosineNative(col("vec"), col("qvec")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id"))
      .limit(k)
  }

  /** One-call in-memory IVF-PQ probe (the `ivfTopK` twin): cosine
    * coarse cells + PQ codes within them; ADC scores only the probed
    * cells' codes, then `refine·k` candidates re-rank by exact cosine
    * against the (persisted) assignment's raw vectors. The shape a
    * 100 TB deployment gets from the stored artifact
    * (`writeIndexPq` + `topKVecPq`), runnable as one query. */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
                queryId: Long, k: Int, nCells: Int = 16, nProbe: Int = 4,
                m: Int = 8, ksub: Int = 64, seed: Long = 42L,
                refine: Int = 4): DataFrame = {
    val (model, assigned) = Ivf.indexCosine(df, idCol, vecCol, nCells, seed)
    val pq = fit(df, vecCol, m, ksub, seed)
    val codes = encode(pq, assigned, "id", "vec")
      .join(assigned.select(col("id"), col("cell")), "id")
    val qv = assigned.filter(col("id") === queryId)
      .select(col("vec")).head().getSeq[Double](0).toArray
    val router = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray) }
    val probes = Ivf.rankCells(qv, router, "cosine", nProbe)
    val adc = adcScore(pq, codes.filter(col("cell").isin(probes: _*)), qv)
      .filter(col("id") =!= queryId)
    if (refine <= 0) adc.orderBy(col("adc_sim").desc, col("id")).limit(k)
    else {
      import graft.functions.VectorFunctions.cosineNative
      val short = adc.orderBy(col("adc_sim").desc, col("id"))
        .limit(refine * k).select(col("id"))
      val qFrame = Ivf.qVecFrame(df.sparkSession, qv)
      assigned.join(broadcast(short), "id")
        .crossJoin(broadcast(qFrame))
        .select(col("id"),
          round(cosineNative(col("vec"), col("qvec")), 4).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("id"))
        .limit(k)
    }
  }

  // ---------------------------------------------------------------- //
  // IVF-PQ stored artifact                                           //
  // ---------------------------------------------------------------- //

  /** Persist an IVF-PQ index from a cosine-cell assignment
    * (`Ivf.indexCosine`) and a fitted PQ model:
    *  - `<path>/cells`     — (id, codes, rnorm, cell) partitioned by
    *    cell: probe scans read m+16 bytes/row from ONLY the probed
    *    cell directories;
    *  - `<path>/codebooks` — (subspace, code, centroid): dim·ksub
    *    doubles, one driver read per probe session;
    *  - `<path>/router`    — (cell, centroid) coarse centroids, build
    *    params in field metadata (the signature-index contract);
    *  - `<path>/by_id`     — raw-vector sidecar (`Ivf.writeIdLookup`)
    *    for the refine re-rank and by-id query fetch. */
  def writeIndexPq(assigned: DataFrame, model: PqModel,
                   routerCents: Array[(Long, Array[Double])],
                   path: String): Unit = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val enc = encode(model, assigned, "id", "vec")
      .join(assigned.select(col("id"), col("cell")), "id")
    graft.sources.Layout.writePartitioned(
      enc.select(col("id"), col("codes"), col("rnorm"), col("cell")),
      s"$path/cells", Seq("cell"))
    model.codebooks.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (c, code) => (j, code, c.toSeq) }
    }.toSeq.toDF("subspace", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("pq_m", model.params.m.toLong)
      .putLong("pq_ksub", model.params.ksub.toLong)
      .putLong("dim", model.params.dim.toLong)
      .putLong("seed", model.params.seed)
      .build()
    routerCents.toSeq.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("cid", "centroid")
      .withColumn("centroid", col("centroid").as("centroid", meta))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/router")
    Ivf.writeIdLookup(assigned.select(col("id"), col("vec")), s"$path/by_id")
  }

  /** Per-append result: what landed, and the two drift axes a PQ index
    * erodes along — cell-size skew (probe selectivity) and codebook
    * reconstruction quality on the NEW data (quantization error grows
    * when the embedding distribution shifts away from the build-time
    * fit; a skew-only contract would miss it entirely). */
  final case class PqAppend(appended: Long, cells: Long,
                            maxCellSize: Long, meanCellSize: Long,
                            meanReconCos: Double, needsRefit: Boolean)

  /** Append new vectors to a STORED IVF-PQ index — the ingest-side
    * maintenance path, mirror of `Ivf.appendToIndexTwoLevel`: assign
    * against the stored router (same cosine argmax as the build),
    * encode with the STORED codebooks (never a refit — appended codes
    * are probed exactly like built ones), dynamic-partition append to
    * the touched cell directories and id buckets only.
    *
    * Contract: the store must carry its build-params metadata and the
    * batch width must equal the stored dim (one slim aggregate).
    * Staleness verdict after each append:
    *  - skew: a partition-column-only census recomputes cell sizes;
    *    max > maxSkewFactor · mean erodes probe selectivity;
    *  - quantization drift: the batch's mean cos(x, recon(x)) — free
    *    inside the encode loop — dropping below `minReconCos` means
    *    the codebooks no longer describe the incoming distribution and
    *    ADC ranks decay even though every probe still "works".
    * Appends remain correct while stale — only bounds degrade. */
  def appendToIndex(spark: SparkSession, path: String,
                    incoming: DataFrame, idCol: String, vecCol: String,
                    maxSkewFactor: Double = 4.0,
                    minReconCos: Double = 0.80): PqAppend = {
    import spark.implicits._
    val (model, router) = readStored(spark, path)
    val dim = model.params.dim
    val widths = incoming
      .agg(min(size(col(vecCol))).as("mn"), max(size(col(vecCol))).as("mx"))
      .head()
    require(!widths.isNullAt(0) && widths.getInt(0) == dim &&
      widths.getInt(1) == dim,
      s"batch vector width ${widths.get(0)}..${widths.get(1)} does not " +
        s"match the index dim $dim — refusing to append (a drifted " +
        "embedding model needs a rebuild, not an append)")
    val slim = incoming.select(col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("vec"))
    val assigned = graft.core.Caching.persistTracked(
      Similarity.assignToCentroids(slim, router)
        .select(col("id"), col("cluster").as("cell"), col("vec")))
    val enc = graft.core.Caching.persistTracked(
      encodeFull(model, assigned, "id", "vec")
        .join(assigned.select(col("id"), col("cell")), "id"))
    val stats = enc.agg(count(lit(1)), avg(col("rcos"))).head()
    val appended = stats.getLong(0)
    val meanRcos = if (appended == 0) 1.0 else stats.getDouble(1)
    // leased: an append interleaving with a removal's partition swaps
    // is exactly the hazard the one-writer contract exists for
    graft.core.Stores.withLease(spark, path, "Pq.appendToIndex") {
      enc.select(col("id"), col("codes"), col("rnorm"), col("cell"))
        .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
      val buckets = Ivf.idLookupBuckets(spark, s"$path/by_id")
      assigned.select(col("id"), col("vec"),
          pmod(col("id"), lit(buckets.toLong)).as("idb"))
        .write.mode("append").partitionBy("idb").parquet(s"$path/by_id")
    }
    // staleness census: only the partition column leaves the scan
    val census = spark.read.parquet(s"$path/cells")
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("mx"), count(lit(1)).as("k"),
        sum(col("n")).as("total")).head()
    val maxSize = census.getLong(0)
    val cells = census.getLong(1)
    val mean = math.max(1L, census.getLong(2) / math.max(1L, cells))
    PqAppend(appended, cells, maxSize, mean, meanRcos,
      needsRefit = maxSize > maxSkewFactor * mean ||
        meanRcos < minReconCos)
  }

  /** Read a stored IVF-PQ index's model + router, enforcing the
    * params contract. */
  private def readStored(spark: SparkSession, path: String)
      : (PqModel, Array[(Long, Array[Double])]) = {
    val routerDf = spark.read.parquet(s"$path/router")
    val meta = routerDf.schema("centroid").metadata
    require(meta.contains("pq_m") && meta.contains("dim"),
      s"$path/router carries no PQ build-params metadata — not a " +
        "writeIndexPq store (or a hand-assembled one); rebuild it")
    val m = meta.getLong("pq_m").toInt
    val ksub = meta.getLong("pq_ksub").toInt
    val dim = meta.getLong("dim").toInt
    val books = Array.fill(m)(new Array[Array[Double]](ksub))
    spark.read.parquet(s"$path/codebooks").collect().foreach { r =>
      books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    (0 until m).foreach { j =>
      (0 until ksub).foreach { c =>
        require(books(j)(c) != null,
          s"$path/codebooks is missing subspace $j code $c — truncated " +
            "store")
      }
    }
    val router = routerDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    (PqModel(PqParams(m, ksub, dim, meta.getLong("seed")), books), router)
  }

  /** ANN probe of a stored IVF-PQ index: rank the router (driver,
    * nCells·dim), ADC-score a partition-pruned scan of the probed
    * cells, then — `refine` ≥ 1 — exact-cosine re-rank the top
    * `refine·k` ADC candidates against their raw vectors from the
    * id-bucketed sidecar (the fetch partition-prunes to at most
    * refine·k id buckets; the shortlist is driver-sized by
    * construction). `refine = 0` returns raw ADC ranks (id, adc_sim);
    * refined output is (id, cos_sim) — exact cosine, same contract as
    * every other probe. */
  /** Batch ANN probe of a stored IVF-PQ index — the serving-path twin
    * of `Ivf.topKBatch`: ONE plan for a whole query set instead of a
    * driver loop of single probes.
    *
    * Shape: router ranking runs executor-side per query (broadcast
    * router array, `mapPartitions`); the probed (qid, qvec, cell)
    * pairs broadcast-join the partition-pruned cells scan (the
    * distinct probed-cell census is ≤ nCells, driver-bounded); ADC
    * scoring caches the m×ksub lookup table PER QUERY PER PARTITION
    * (first candidate row of a query builds it, the rest reuse it), so
    * per-candidate cost stays m lookups + m adds without collecting or
    * re-broadcasting any LUT; the bounded `Aggregators.topK` keeps
    * refine·k per query with no full sort. The refine re-rank fetches
    * raw vectors by an equi-join against the id-bucketed sidecar,
    * pruned to the DISTINCT BUCKETS the shortlist touches — the bucket
    * census is ≤ the fixed bucket count, driver-bounded regardless of
    * batch size (ids themselves are never collected).
    *
    * Output: (qid, rn, id, cos_sim) — rank rn ∈ 1..k per query, exact
    * cosine after refine (`refine = 0` gives (qid, rn, id, adc_sim)). */
  def topKVecPqBatch(spark: SparkSession, path: String,
                     queries: DataFrame, qidCol: String, qvecCol: String,
                     k: Int, nProbe: Int = 4,
                     refine: Int = 4): DataFrame = {
    import spark.implicits._
    val (model, router) = readStored(spark, path)
    val m = model.params.m
    val dsub = model.dsub
    val dim = model.params.dim
    val bcRouter = spark.sparkContext.broadcast(router)
    val bcBooks = spark.sparkContext.broadcast(model.codebooks)
    val probed = graft.core.Caching.persistTracked(queries
      .select(col(qidCol).cast("long"), asDouble(col(qvecCol)))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bcRouter.value
        it.flatMap { case (qid, qv) =>
          require(qv.length == dim,
            s"query $qid has dim ${qv.length}, index dim $dim")
          Ivf.rankCells(qv, cs, "cosine", nProbe).map(c => (qid, qv, c))
        }
      }
      .toDF("qid", "qvec", "cell"))
    val probedCells = probed.select(col("cell")).distinct()
      .as[Long].collect().sorted.toSeq
    val cand = spark.read.parquet(s"$path/cells")
      .filter(col("cell").isin(probedCells: _*))
      .join(broadcast(probed), Seq("cell"))
      .select(col("qid"), col("qvec"), col("id"), col("codes"),
        col("rnorm"))
      .as[(Long, Array[Double], Long, Array[Byte], Double)]
      .mapPartitions { it =>
        val books = bcBooks.value
        // per-partition LUT cache: one (lut, qnorm) build per distinct
        // query seen in this partition, O(dim·ksub) once vs per row
        val luts = new java.util.HashMap[Long, (Array[Array[Double]], Double)]
        it.flatMap { case (qid, qv, id, cs, rnorm) =>
          if (id == qid) None
          else {
            var e = luts.get(qid)
            if (e == null) {
              val lut = Array.tabulate(m) { j =>
                books(j).map(c => ip(qv, c, j * dsub))
              }
              e = (lut, math.sqrt(ip(qv, qv, 0)))
              luts.put(qid, e)
            }
            val (lut, qnorm) = e
            var dot = 0.0
            var j = 0
            while (j < m) { dot += lut(j)(cs(j) & 0xff); j += 1 }
            val sim =
              if (qnorm > 0 && rnorm > 0) dot / (qnorm * rnorm) else 0.0
            Some((qid, id,
              BigDecimal(sim).setScale(4, BigDecimal.RoundingMode.HALF_UP)
                .toDouble))
          }
        }
      }
      .toDF("qid", "id", "adc_sim")
    val short = TopK.perKey(cand, "qid", "adc_sim", "id",
      if (refine <= 0) k else refine * k)
    if (refine <= 0) short
    else {
      import graft.functions.VectorFunctions.cosineNative
      val buckets = Ivf.idLookupBuckets(spark, s"$path/by_id")
      // bucket census, not an id census: ≤ `buckets` values whatever
      // the batch size
      val shortIds = graft.core.Caching.persistTracked(
        short.select(col("qid"), col("id")))
      val touched = shortIds
        .select(pmod(col("id"), lit(buckets.toLong)).as("idb"))
        .distinct().as[Long].collect().sorted.toSeq
      val vecs = spark.read.parquet(s"$path/by_id")
        .filter(col("idb").isin(touched: _*))
        .select(col("id"), col("vec"))
      val qvecs = probed.select(col("qid"), col("qvec")).distinct()
      val rescored = shortIds
        .join(vecs, "id")
        .join(broadcast(qvecs), "qid")
        .select(col("qid"), col("id"),
          round(cosineNative(col("vec"), col("qvec")), 4).as("cos_sim"))
      TopK.perKey(rescored, "qid", "cos_sim", "id", k)
    }
  }

  def topKVecPq(spark: SparkSession, path: String, qVec: Array[Double],
                k: Int, nProbe: Int = 4, refine: Int = 4,
                excludeId: Long = -1L): DataFrame = {
    val (model, router) = readStored(spark, path)
    require(qVec.length == model.params.dim,
      s"query dim ${qVec.length} != index dim ${model.params.dim} — " +
        "a drifted embedding model needs a rebuild, not a probe")
    val probes = Ivf.rankCells(qVec, router, "cosine", nProbe)
    val cells = spark.read.parquet(s"$path/cells")
      .filter(col("cell").isin(probes: _*))
    val adc = adcScore(model, cells, qVec)
      .filter(col("id") =!= excludeId)
    if (refine <= 0) adc.orderBy(col("adc_sim").desc, col("id")).limit(k)
    else {
      val short = adc.orderBy(col("adc_sim").desc, col("id"))
        .limit(refine * k).select(col("id")).collect().map(_.getLong(0))
      import graft.functions.VectorFunctions.cosineNative
      val buckets = Ivf.idLookupBuckets(spark, s"$path/by_id")
      val qFrame = Ivf.qVecFrame(spark, qVec)
      spark.read.parquet(s"$path/by_id")
        .filter(col("idb").isin(short.map(_ % buckets).distinct.sorted: _*)
          && col("id").isin(short.sorted: _*))
        .crossJoin(broadcast(qFrame))
        .select(col("id"),
          round(cosineNative(col("vec"), col("qvec")), 4).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("id"))
        .limit(k)
    }
  }
}
