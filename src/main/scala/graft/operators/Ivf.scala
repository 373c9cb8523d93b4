package graft.operators

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** IVF (inverted-file) approximate nearest neighbor: a k-means coarse
  * quantizer assigns every vector to a cell; a query probes only the
  * `nProbe` cells whose centroids are nearest, then exact-cosine
  * re-ranks the candidates. The other half of the ANN story next to
  * Similarity.lshTopK (random-hyperplane LSH):
  *
  *  - LSH needs no training and its recall is similarity-driven;
  *  - IVF adapts to the data distribution (clustered corpora probe a
  *    tiny fraction of cells for the same recall).
  *
  * Scale shape: the centroid table is O(nCells·dim) — driver/broadcast
  * sized. The cell assignment is one KMeans `transform` (a scan); at
  * 100 TB the assigned table would be WRITTEN partitioned/bucketed by
  * `cell` so a probe becomes partition-pruned IO instead of a filter
  * scan, and the quantizer would be fit on a Bernoulli sample, not the
  * full corpus (`fitFraction`).
  */
object Ivf {

  private val toVec = udf((xs: Seq[Float]) =>
    Vectors.dense(xs.map(_.toDouble).toArray))

  /** L2-normalized copy — the spherical-k-means fit input. A zero
    * vector stays zero (it has no direction; k-means just places it in
    * whichever cell owns the origin). */
  private val toUnitVec = udf((xs: Seq[Float]) => {
    val a = new Array[Double](xs.length)
    var s = 0.0
    var i = 0
    while (i < a.length) { a(i) = xs(i).toDouble; s += a(i) * a(i); i += 1 }
    val n = math.sqrt(s)
    if (n > 0) { i = 0; while (i < a.length) { a(i) /= n; i += 1 } }
    Vectors.dense(a)
  })

  private def featFrame(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("vec"),
      toVec(col(vecCol)).as("features"))

  /** Fit ONLY the coarse quantizer (no assignment scan): the k-means
    * codebook for callers that assign by COSINE argmax against these
    * centers — e.g. Similarity.semDedupKMeans — instead of a
    * `transform` pass. The fit is SPHERICAL k-means: vectors are
    * L2-normalized before the euclidean fit, so the codebook's
    * euclidean cell structure coincides with cosine cells (for unit
    * vectors ‖v−c‖² = 2−2·cos(v,c)). Without the normalization an
    * unnormalized corpus would be clustered by norm shells that the
    * cosine argmax then scrambles, leaving some clusters overfull and
    * eroding the n·targetClusterSize verify bound semDedupKMeans
    * exists to provide (pinned in SemDedupSpec on a scaled-norm
    * fixture). Same fit shape as `index` otherwise (sampled source,
    * coalesced, seeded random init); the fit source carries ONLY the
    * features column — the `vec` double array `index` needs for its
    * probe scans is structurally absent here, not merely pruned by
    * Catalyst. */
  def fitQuantizer(df: DataFrame, idCol: String, vecCol: String,
                   nCells: Int = 16, seed: Long = 42L,
                   fitFraction: Double = 1.0): KMeansModel =
    fitOn(df.select(toUnitVec(col(vecCol)).as("features")),
      nCells, seed, fitFraction)

  /** Spherical fit over an `array<double>` column (the internal vec
    * representation) — the per-cell fine-quantizer fit of the
    * two-level codebook path (Similarity.semDedupTwoLevel). */
  private val toUnitVecD = udf((xs: Seq[Double]) => {
    val a = xs.toArray
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * a(i); i += 1 }
    val n = math.sqrt(s)
    if (n > 0) { i = 0; while (i < a.length) { a(i) /= n; i += 1 } }
    Vectors.dense(a)
  })

  private[operators] def fitQuantizerDoubles(df: DataFrame, vecCol: String,
                                             nCells: Int, seed: Long,
                                             fitFraction: Double = 1.0): KMeansModel =
    fitOn(df.select(toUnitVecD(col(vecCol)).as("features")),
      nCells, seed, fitFraction)

  private val toVecD = udf((xs: Seq[Double]) => Vectors.dense(xs.toArray))

  /** RAW (non-spherical) fit over an `array<double>` column — the
    * product-quantizer subspace fit (Pq.fit). PQ codebooks minimize
    * euclidean reconstruction error of SUBVECTORS, where norm carries
    * real information; normalizing here (as the cosine-cell fits above
    * do) would collapse exactly the magnitude structure the fine codes
    * exist to preserve. */
  private[operators] def fitQuantizerRawDoubles(df: DataFrame, vecCol: String,
                                                nCells: Int, seed: Long,
                                                fitFraction: Double = 1.0): KMeansModel =
    fitOn(df.select(toVecD(col(vecCol)).as("features")),
      nCells, seed, fitFraction)

  private def fitOn(feat: DataFrame, nCells: Int, seed: Long,
                    fitFraction: Double): KMeansModel = {
    // the fit source is small by design (full table only at fixture
    // scale; a Bernoulli sample at corpus scale) — coalesce it so each
    // of the ~10 KMeans iterations schedules a handful of tasks instead
    // of one per shuffle partition of near-empty data
    val fitSrc =
      (if (fitFraction >= 1.0) feat
       else feat.sample(withReplacement = false, fitFraction, seed))
        .coalesce(8)
    new KMeans()
      .setK(nCells).setSeed(seed).setFeaturesCol("features")
      .setPredictionCol("cell")
      .setMaxIter(10) // coarse quantizer — cells only need to be stable,
                      // not optimal; 10 iterations is the IVF norm
      .setInitMode("random") // k-means|| init costs extra full passes;
                             // random init is the standard IVF choice
                             // (recall is governed by nProbe, not cell
                             // optimality) and stays seed-deterministic
      .fit(fitSrc)
  }

  /** Fit the coarse quantizer and assign every row to a cell.
    * Returns (model, assigned) where assigned = (id, cell, vec) and is
    * persisted — the index is reused across queries. With `track =
    * true` (default) the persist registers with graft.core.Caching so
    * harness loops reclaim it after the query; callers keeping an
    * index alive ACROSS queries should pass `track = false` and
    * unpersist `assigned` themselves when done (otherwise any
    * intervening `Caching.releaseAll()` silently drops the cache and
    * every later probe re-runs the assignment scan). */
  def index(df: DataFrame, idCol: String, vecCol: String,
            nCells: Int = 16, seed: Long = 42L,
            fitFraction: Double = 1.0,
            track: Boolean = true): (KMeansModel, DataFrame) = {
    val feat = featFrame(df, idCol, vecCol)
    val model = fitOn(feat, nCells, seed, fitFraction)
    val slim = model.transform(feat).select(col("id"), col("cell"), col("vec"))
    val assigned =
      if (track) graft.core.Caching.persistTracked(slim)
      else slim.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (model, assigned)
  }

  /** Cosine-metric twin of `index`: spherical codebook
    * (`fitQuantizer`) + cosine-argmax assignment
    * (Similarity.assignToCentroids — one narrow mapPartitions over the
    * broadcast codebook, no transform pass). This is the SAME artifact
    * `Similarity.semDedupIndex` builds: cells here and semantic-dedup
    * clusters are one assignment, so a corpus settle runs the scan
    * once, writes it with `writeIndex`, and serves BOTH semantic dedup
    * and ANN probes (`topK` with metric = "cosine") from the stored
    * table (pinned in IvfSpec). */
  def indexCosine(df: DataFrame, idCol: String, vecCol: String,
                  nCells: Int = 16, seed: Long = 42L,
                  fitFraction: Double = 1.0,
                  track: Boolean = true): (KMeansModel, DataFrame) = {
    val model = fitQuantizer(df, idCol, vecCol, nCells, seed, fitFraction)
    (model, assignCosine(model,
      df.select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("vec")), track))
  }

  /** Cosine-argmax assignment of a slim (id, vec) frame against a
    * fitted spherical codebook → persisted (id, cell, vec). The ONE
    * implementation behind `indexCosine` and
    * `Similarity.semDedupIndex`, so the two entry points cannot drift
    * apart (IvfSpec pins their artifact equality). */
  private[operators] def assignCosine(model: KMeansModel, slim: DataFrame,
                                      track: Boolean = true): DataFrame = {
    val cents = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray) }
    val out = Similarity.assignToCentroids(slim, cents)
      .select(col("id"), col("cluster").as("cell"), col("vec"))
    if (track) graft.core.Caching.persistTracked(out)
    else out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Top-k by exact cosine among the vectors assigned to the `nProbe`
    * cells nearest to the query vector. Centroid ranking happens on the
    * driver (nCells·dim doubles); the candidate scan is a cell-membership
    * filter (partition-pruned when the index is stored bucketed by
    * cell). `metric` must match how the index was built: "euclidean"
    * for `index` (raw-vector codebook, transform assignment), "cosine"
    * for `indexCosine`/`semDedupIndex` (spherical codebook, argmax
    * assignment) — probing with the wrong metric ranks cells
    * inconsistently with how vectors were filed into them.
    *
    * By-id form: fetches the query vector by filtering `assigned` —
    * fine for a PERSISTED in-memory index (a cached-table filter), but
    * a full scan against a STORED cell-partitioned index, because `id`
    * is not the partition key. Stored-index probes should use `topKVec`
    * with the vector in hand, or fetch it partition-pruned via
    * `lookupVec` over the `writeIdLookup` sidecar. */
  def topK(model: KMeansModel, assigned: DataFrame,
           queryId: Long, k: Int, nProbe: Int = 4,
           metric: String = "euclidean"): DataFrame = {
    val q = assigned.filter(col("id") === queryId)
      .select(col("vec")).head().getSeq[Double](0).toArray
    topKVec(model, assigned, q, k, nProbe, metric, excludeId = queryId)
  }

  /** `topK` with the query vector supplied directly — the serving-path
    * form: no lookup of any kind precedes the probe, so the ONLY scan
    * in the plan is the cell-pruned candidate read. `excludeId` (-1 =
    * keep everything) drops the query's own row when the query vector
    * came from the corpus. */
  def topKVec(model: KMeansModel, assigned: DataFrame,
              qVec: Array[Double], k: Int, nProbe: Int = 4,
              metric: String = "euclidean",
              excludeId: Long = -1L): DataFrame = {
    require(metric == "euclidean" || metric == "cosine",
      s"unknown metric '$metric' (euclidean | cosine)")
    val probes = rankCells(qVec,
      model.clusterCenters.zipWithIndex.map { case (c, i) =>
        (i.toLong, c.toArray)
      }, metric, nProbe)
    val qFrame = qVecFrame(assigned.sparkSession, qVec)
    assigned
      .filter(col("cell").isin(probes: _*) && col("id") =!= excludeId)
      .crossJoin(broadcast(qFrame))
      .select(col("id"),
        round(cosineNative(col("vec"), col("qvec")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id"))
      .limit(k)
  }

  /** Batch ANN probe — the serving path for a query SET. One
    * DataFrame plan, no per-query driver loop:
    *
    *  1. each query row ranks the (broadcast) codebook inside a narrow
    *     mapPartitions and explodes to its `nProbe` (qid, qvec, cell)
    *     probe rows;
    *  2. the UNION of probed cells — driver-sized by construction, it
    *     can never exceed the codebook's nCells — becomes a STATIC
    *     `cell isin` filter on the corpus, so a stored cell-partitioned
    *     index partition-prunes to exactly the cells some query probes
    *     (pinned in IvfSpec; no reliance on dynamic partition pruning
    *     heuristics). The probe rows then broadcast-hash-join the
    *     pruned corpus on `cell` — the corpus side streams, never
    *     shuffles;
    *  3. exact cosine per candidate, then per-query BOUNDED top-k via
    *     `Aggregators.topK` — each task ships ≤ k rows per qid through
    *     the one shuffle in the plan (the same shape as
    *     `Similarity.knnJoin`, so a hot query cannot skew a sort).
    *
    * `queries` carries (qidCol: long, qvecCol: array<double>); ranking
    * and tie-breaks are identical to `topKVec` per query (pinned in
    * IvfSpec). A query row whose id appears in the corpus never matches
    * itself. Output: (qid, rn, id, cos_sim), rn = 1..k. */
  def topKBatch(model: KMeansModel, assigned: DataFrame, queries: DataFrame,
                qidCol: String, qvecCol: String, k: Int, nProbe: Int = 4,
                metric: String = "euclidean"): DataFrame = {
    require(metric == "euclidean" || metric == "cosine",
      s"unknown metric '$metric' (euclidean | cosine)")
    val spark = assigned.sparkSession
    import spark.implicits._
    val cents = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray) }
    val bc = spark.sparkContext.broadcast(cents)
    // persisted: feeds the distinct-cells census AND the join build side
    val probed = graft.core.Caching.persistTracked(queries
      .select(col(qidCol).cast("long"), col(qvecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (qid, qv) =>
          rankCells(qv, cs, metric, nProbe).map(c => (qid, qv, c))
        }
      }
      .toDF("qid", "qvec", "cell"))
    val probedCells = probed.select(col("cell")).distinct()
      .as[Long].collect().sorted.toSeq
    val cand = assigned.filter(col("cell").isin(probedCells: _*))
      .join(broadcast(probed), Seq("cell"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        round(cosineNative(col("vec"), col("qvec")), 4).as("cos_sim"))
    TopK.perKey(cand, "qid", "cos_sim", "id", k)
  }

  /** Driver-side cell ranking: the `nProbe` best centroid ids for `q`.
    * Rank key is smaller-is-better for both metrics (cosine negated);
    * ties break on centroid id so probes are engine-stable. */
  private[operators] def rankCells(q: Array[Double], centers: Array[(Long, Array[Double])],
                        metric: String, nProbe: Int): Seq[Long] =
    centers.map { case (cid, ca) =>
      val d =
        if (metric == "cosine") -cosineKernel(q, ca)
        else {
          var s = 0.0
          var j = 0
          val n = math.min(ca.length, q.length)
          while (j < n) { val t = ca(j) - q(j); s += t * t; j += 1 }
          s
        }
      (cid, d)
    }.sortBy(x => (x._2, x._1)).take(nProbe).map(_._1).toSeq

  /** One-shot convenience: index + probe in a single call. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              queryId: Long, k: Int, nCells: Int = 16, nProbe: Int = 4,
              seed: Long = 42L): DataFrame = {
    val (model, assigned) = index(df, idCol, vecCol, nCells, seed)
    topK(model, assigned, queryId, k, nProbe)
  }

  /** Persist the assignment table PARTITIONED BY cell — the 100 TB form
    * of the index. A probe against the stored index (`readIndex` +
    * `topK`) turns the `cell isin probes` filter into parquet PARTITION
    * PRUNING: only the nProbe cell directories are listed and read, so
    * probe IO is corpus_size·nProbe/nCells regardless of corpus size
    * (pinned in IvfSpec). The quantizer model persists alongside via
    * its own MLlib writer (`model.write.save`). */
  def writeIndex(assigned: DataFrame, path: String): Unit =
    graft.sources.Layout.writePartitioned(
      assigned.select(col("id"), col("vec"), col("cell")), path, Seq("cell"))

  /** `writeIndex` with int8 scalar quantization: cells store byte codes
    * + one double scale per vector instead of float64 arrays — ~4×
    * (vs float32 source ~4×, vs the double in-memory form ~8×) less
    * stored-index IO per probe, at reconstruction error ≤ scale/2 per
    * element (recall certified in IvfSpec against the unquantized
    * probe). `readIndex` detects the quantized layout from the schema
    * and dequantizes inside the scan projection, so every probe path
    * works on either layout unchanged. */
  def writeIndexQuantized(assigned: DataFrame, path: String): Unit =
    graft.sources.Layout.writePartitioned(
      quantizeCells(assigned, "cell"), path, Seq("cell"))

  /** Rebuild `vec` from a quantized layout (qvec int8 codes + qscale),
    * passing non-quantized frames through untouched. All stored-cell
    * readers go through this, so flat and two-level probes work on
    * either layout; the dequant projection stays inside the (pruned)
    * scan stage. */
  private def dequantIfNeeded(df: DataFrame): DataFrame =
    if (df.columns.contains("qvec")) {
      import graft.functions.VectorFunctions.dequantInt8
      val keep = df.columns.filterNot(c => c == "qvec" || c == "qscale")
        .map(col)
      df.select(keep :+
        dequantInt8(col("qvec"), col("qscale")).as("vec"): _*)
    } else df

  /** Project an assignment frame into the int8-quantized storage
    * layout (id, qvec, qscale, <partition col>). */
  private def quantizeCells(assigned: DataFrame, partCol: String)
      : DataFrame = {
    import graft.functions.VectorFunctions.{int8Codes, int8Scale}
    // qscale is STAGED into its own projection: int8Codes embeds the
    // scale expression inside its per-element lambda, so an inline
    // int8Scale (array_max over a transform) would be re-evaluated per
    // ELEMENT — O(dim²) per row at index-build time. As a named column
    // referenced twice downstream it is computed once per row and
    // CollapseProject keeps the projections apart (non-cheap expression
    // used more than once).
    assigned
      .select(col("id"), col("vec"), int8Scale(col("vec")).as("qscale"),
        col(partCol))
      .select(col("id"), int8Codes(col("vec"), col("qscale")).as("qvec"),
        col("qscale"), col(partCol))
  }

  /** Read a stored cell-partitioned index for probing. Quantized
    * layouts ((id, qvec, qscale, cell), from `writeIndexQuantized`)
    * are dequantized here — downstream probes see (id, vec, cell)
    * either way, and the projection stays inside the pruned scan. */
  def readIndex(spark: org.apache.spark.sql.SparkSession,
                path: String): DataFrame =
    dequantIfNeeded(spark.read.parquet(path))

  /** Slim (id, vec) sidecar Hive-partitioned by `idb = pmod(id,
    * idBuckets)` — the by-id query-vector fetch the cell-partitioned
    * index itself cannot serve without a full scan (its partition key
    * is `cell`, not `id`). A `lookupVec` against this table
    * partition-prunes to ONE bucket directory, so per-probe lookup IO
    * is corpus/idBuckets instead of the whole corpus. The bucket count
    * is recorded in an underscore-prefixed meta file (invisible to
    * Spark's partition discovery, like _SUCCESS) — the sidecar is
    * self-describing, no parameter to drift; a directory listing could
    * not recover it because sparse ids leave buckets empty. */
  def writeIdLookup(assigned: DataFrame, path: String,
                    idBuckets: Int = 64): Unit = {
    require(idBuckets > 0, s"idBuckets must be positive, got $idBuckets")
    graft.sources.Layout.writePartitioned(
      assigned.select(col("id"), col("vec"),
        pmod(col("id"), lit(idBuckets.toLong)).as("idb")),
      path, Seq("idb"))
    val p = new org.apache.hadoop.fs.Path(s"$path/_id_buckets")
    val fs = p.getFileSystem(
      assigned.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(idBuckets.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Rebuild the `by_id` lookup sidecar FROM the cells leg — the
    * one-command recovery for an `ivf_idb_routing` / `ivf_cells_by_id`
    * verify finding (the sidecar is fully derivable from cells when
    * cells store RAW vectors). Refuses quantized/PQ cells loudly: a
    * sidecar rebuilt from codes would serve RECONSTRUCTED vectors under
    * the exact-lookup contract — rebuild those from the source vectors
    * instead. Lands beside and swaps in under the index's writer
    * lease. Returns the row count. */
  def rebuildIdLookup(spark: org.apache.spark.sql.SparkSession,
                      path: String,
                      idBuckets: Option[Int] = None): Long = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$path/cells")),
      s"$path has no cells/ dir — not a graft vector index store")
    val raw = spark.read.parquet(s"$path/cells")
    require(!raw.columns.contains("qvec") && !raw.columns.contains("codes"),
      s"$path/cells stores quantized codes, not raw vectors — a " +
        "sidecar rebuilt from codes would serve RECONSTRUCTED vectors " +
        "under the exact by-id contract; rebuild from the source " +
        "vectors via writeIdLookup instead")
    require(raw.columns.contains("vec"),
      s"$path/cells has no vec column — not a graft vector index store")
    val byId = s"$path/by_id"
    val buckets = idBuckets.getOrElse {
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$byId/_id_buckets")))
        idLookupBuckets(spark, byId)
      else 64
    }
    graft.core.Stores.withLease(spark, path, "rebuildIdLookup") {
      writeIdLookup(raw.select(col("id"), col("vec")), s"${byId}_next",
        buckets)
      if (fs.exists(new org.apache.hadoop.fs.Path(byId)))
        graft.core.Stores.promoteNext(spark, byId, "rebuildIdLookup")
      else
        require(fs.rename(new org.apache.hadoop.fs.Path(s"${byId}_next"),
          new org.apache.hadoop.fs.Path(byId)),
          s"rebuildIdLookup: could not land $byId")
      spark.read.parquet(byId).count()
    }
  }

  /** The 1-row partition-pruned lookup frame for `id` — exposed (rather
    * than just the fetched array) so callers and specs can pin that the
    * `idb` filter reaches the scan as a PartitionFilter. */
  def lookupVecDf(spark: org.apache.spark.sql.SparkSession,
                  path: String, id: Long): DataFrame = {
    val buckets = idLookupBuckets(spark, path)
    spark.read.parquet(path)
      .filter(col("idb") === pmod(lit(id), lit(buckets)) &&
        col("id") === id)
      .select(col("vec"))
  }

  /** Partition-pruned by-id vector fetch from a `writeIdLookup`
    * sidecar. Fails loudly on a miss (unknown id — or a sidecar whose
    * directory layout was tampered with). */
  def lookupVec(spark: org.apache.spark.sql.SparkSession,
                path: String, id: Long): Array[Double] = {
    val rows = lookupVecDf(spark, path, id).take(1)
    require(rows.nonEmpty, s"id $id not found in id-lookup sidecar $path")
    rows(0).getSeq[Double](0).toArray
  }

  /** Bucket count of a stored sidecar, from its `_id_buckets` meta file
    * (a driver-side metadata read, no data scanned). */
  private[graft] def idLookupBuckets(spark: org.apache.spark.sql.SparkSession,
                              path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_id_buckets")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"$path has no _id_buckets meta file — not a writeIdLookup sidecar")
    val in = fs.open(p)
    try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      "UTF-8").trim.toInt
    finally in.close()
  }

  /** 1-row broadcastable frame carrying the query vector. */
  private[operators] def qVecFrame(spark: org.apache.spark.sql.SparkSession,
                        q: Array[Double]): DataFrame =
    spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(q.toSeq)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("qvec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))

  /** Persist the FULL two-level artifact
    * (Similarity.semDedupIndexTwoLevelFull):
    *  - `<path>/cells`     — (id, vec, cluster) partitioned by cluster:
    *    the probe's final candidate scan partition-prunes to its
    *    probed fine clusters;
    *  - `<path>/centroids` — (cluster, centroid, ccell) partitioned by
    *    ccell: a probe reads ONLY its probed coarse cells' centroid
    *    rows, so no reader ever loads the full fine codebook — the
    *    same ceiling the assignment honored, now honored at probe
    *    time;
    *  - `<path>/router`    — the coarse centroids (driver-sized);
    *  - `<path>/by_id`     — the id-bucketed (id, vec) lookup sidecar
    *    (`writeIdLookup`), so a by-id probe fetches its query vector
    *    partition-pruned instead of scanning the cells table. */
  def writeIndexTwoLevel(idx: Similarity.TwoLevelIndex, path: String,
                         quantize: Boolean = false): Unit = {
    val cells = idx.assigned.select(col("id"), col("vec"), col("cluster"))
    graft.sources.Layout.writePartitioned(
      if (quantize) quantizeCells(cells, "cluster") else cells,
      s"$path/cells", Seq("cluster"))
    graft.sources.Layout.writePartitioned(
      idx.fineCents.select(col("cluster"), col("centroid"), col("ccell")),
      s"$path/centroids", Seq("ccell"))
    writeIdLookup(idx.assigned.select(col("id"), col("vec")), s"$path/by_id")
    val spark = idx.fineCents.sparkSession
    import spark.implicits._
    // build params ride along as parquet-persistent field metadata
    // (the signature-index contract pattern): a stored index is
    // self-describing, and `appendToIndexTwoLevel` rejects a store
    // that cannot state its own parameters
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("dim", idx.params.dim.toLong)
      .putLong("target_cluster_size", idx.params.targetClusterSize.toLong)
      .putLong("seed", idx.params.seed)
      .build()
    idx.routerCents.toSeq.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("cid", "centroid")
      .withColumn("centroid", col("centroid").as("centroid", meta))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/router")
  }

  /** Per-append result: what landed, and whether the index has drifted
    * far enough from its build-time shape to need a refit. */
  final case class TwoLevelAppend(appended: Long, clusters: Long,
                                  maxClusterSize: Long,
                                  targetClusterSize: Long,
                                  needsRefit: Boolean)

  /** Append new vectors to a STORED two-level index — the ingest-side
    * maintenance path: screened-and-accepted novel vectors enter the
    * index without a rebuild. Assignment replays the build exactly
    * (router cosine-argmax → that cell's fine centroids, same
    * tie-breaks), so an appended vector is probed from the same
    * partitions a full rebuild would have filed it into; a vector
    * routing to a coarse cell that was EMPTY at build time (no fine
    * centroids exist) is routed to the nearest NON-empty cell instead
    * of inventing a cluster the probe would never rank. Writes are
    * dynamic-partition appends: only the touched cluster directories
    * and id buckets gain files.
    *
    * Contract (the signature-index pattern): the router must carry its
    * build-params metadata — a pre-contract or hand-built store is
    * rejected loudly — and the batch's vector width must equal the
    * stored `dim` (checked with one slim aggregate over the batch).
    *
    * Staleness: appends move vectors into cells but never move
    * centroids, so cell shapes drift. After each append a
    * partition-column-only census (reads directory/footer structure,
    * no vector pages) recomputes the max cluster size;
    * `needsRefit = max > maxSkewFactor · targetClusterSize` tells the
    * caller the within-cluster verify bound (and probe selectivity)
    * has eroded past tolerance and the settle should re-run. Appends
    * remain correct while stale — only bounds degrade. Callers
    * screen-then-append (StreamingIngestSpec pins the round trip);
    * appending an id already present is the caller's bug (ids are not
    * rewritten, both rows would serve probes). */
  def appendToIndexTwoLevel(spark: org.apache.spark.sql.SparkSession,
                            path: String, incoming: DataFrame,
                            idCol: String, vecCol: String,
                            maxSkewFactor: Double = 4.0): TwoLevelAppend = {
    import spark.implicits._
    val routerDf = spark.read.parquet(s"$path/router")
    val meta = routerDf.schema("centroid").metadata
    require(meta.contains("dim") && meta.contains("target_cluster_size"),
      s"$path/router carries no build-params metadata — a pre-contract " +
        "or hand-assembled store cannot be safely appended to; rebuild " +
        "it with Ivf.writeIndexTwoLevel")
    val dim = meta.getLong("dim").toInt
    val target = meta.getLong("target_cluster_size")
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
    // route only to coarse cells that HAVE fine centroids: an
    // empty-at-build cell has nothing to assign against, and the
    // nearest non-empty cell is where a rebuild's router would have
    // competed for this vector anyway
    val nonEmpty = spark.read.parquet(s"$path/centroids")
      .select(col("ccell")).distinct().as[Long].collect().toSet
    val router = routerDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .filter { case (cid, _) => nonEmpty.contains(cid) }
    require(router.nonEmpty, s"$path/centroids is empty — not an index")
    val coarse = graft.core.Caching.persistTracked(
      Similarity.assignToCentroids(slim, router)
        .select(col("id"), col("cluster").as("ccell"), col("vec")))
    val appended = coarse.count()
    val hitCells = coarse.select(col("ccell")).distinct()
      .as[Long].collect().sorted
    // per-cell fine assignment, exactly as the build: each branch
    // broadcasts ONE cell's centroids (partition-pruned read, bounded
    // by the same per-cell ceiling the build enforced)
    val parts = hitCells.map { c =>
      val cents = spark.read.parquet(s"$path/centroids")
        .filter(col("ccell") === c)
        .select(col("cluster"), col("centroid")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      Similarity.assignToCentroids(
          coarse.filter(col("ccell") === c).select(col("id"), col("vec")),
          cents)
        .select(col("id"), col("vec"), col("cluster"))
    }
    // append in the STORE's layout: mixing raw rows into a quantized
    // store (or vice versa) would fork the cells schema mid-table.
    // Leased: an append interleaving with a removal's partition swaps
    // is exactly the hazard the one-writer contract exists for.
    graft.core.Stores.withLease(spark, path, "appendToIndexTwoLevel") {
      val storeQuantized = spark.read.parquet(s"$path/cells")
        .columns.contains("qvec")
      val newCells = parts.reduce(_ unionByName _)
      (if (storeQuantized) quantizeCells(newCells, "cluster") else newCells)
        .write.mode("append").partitionBy("cluster").parquet(s"$path/cells")
      // the by-id sidecar stays complete: same stored bucket count
      val buckets = idLookupBuckets(spark, s"$path/by_id")
      coarse.select(col("id"), col("vec"),
          pmod(col("id"), lit(buckets.toLong)).as("idb"))
        .write.mode("append").partitionBy("idb").parquet(s"$path/by_id")
    }
    // staleness census: only the partition column leaves the scan
    val census = spark.read.parquet(s"$path/cells")
      .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("mx"), count(lit(1)).as("k")).head()
    val maxSize = census.getLong(0)
    TwoLevelAppend(appended, census.getLong(1), maxSize, target,
      needsRefit = maxSize > maxSkewFactor * target)
  }

  /** Two-stage cosine ANN probe over a stored two-level index: rank
    * coarse cells against the router (driver, coarseCells·dim), read
    * only the probed cells' fine-centroid rows (partition-pruned,
    * small), rank those, then exact-cosine re-rank the vectors of the
    * probed fine clusters (partition-pruned cells scan). Probe IO is
    * corpus·(probed clusters / total clusters) regardless of corpus or
    * codebook size.
    *
    * By-id form: the query vector comes from the `by_id` sidecar —
    * itself a partition-pruned read — so NO scan in the whole probe
    * touches more than its pruned partitions. (Indexes written before
    * the sidecar existed fall back to a cells scan for the lookup —
    * with the full-scan cost that implies; rewrite them.) */
  def topKTwoLevel(spark: org.apache.spark.sql.SparkSession, path: String,
                   queryId: Long, k: Int, nProbeCoarse: Int = 4,
                   nProbeFine: Int = 8): DataFrame = {
    val byId = new org.apache.hadoop.fs.Path(s"$path/by_id")
    val q =
      if (byId.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .exists(byId))
        lookupVec(spark, s"$path/by_id", queryId)
      else {
        // legacy pre-sidecar store: the lookup below scans the WHOLE
        // cells table for one row. Warn loudly so a misconfigured
        // production store can't silently pay full scans per probe.
        System.err.println(
          s"[graft] WARN: $path has no by_id sidecar — by-id query " +
            "lookup is a full cells scan; rewrite the index " +
            "(writeIndexTwoLevel) or probe with topKTwoLevelVec")
        dequantIfNeeded(spark.read.parquet(s"$path/cells"))
          .filter(col("id") === queryId)
          .select(col("vec")).head().getSeq[Double](0).toArray
      }
    topKTwoLevelVec(spark, path, q, k, nProbeCoarse, nProbeFine,
      excludeId = queryId)
  }

  /** `topKTwoLevel` with the query vector in hand — the serving-path
    * form (no lookup at all precedes the two pruned probe stages). */
  def topKTwoLevelVec(spark: org.apache.spark.sql.SparkSession, path: String,
                      qVec: Array[Double], k: Int, nProbeCoarse: Int = 4,
                      nProbeFine: Int = 8,
                      excludeId: Long = -1L): DataFrame = {
    val router = spark.read.parquet(s"$path/router").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probedC = rankCells(qVec, router, "cosine", nProbeCoarse)
    val fineRows = spark.read.parquet(s"$path/centroids")
      .filter(col("ccell").isin(probedC: _*))
      .select(col("cluster"), col("centroid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probedF = rankCells(qVec, fineRows, "cosine", nProbeFine)
    dequantIfNeeded(spark.read.parquet(s"$path/cells"))
      .filter(col("cluster").isin(probedF: _*) && col("id") =!= excludeId)
      .crossJoin(broadcast(qVecFrame(spark, qVec)))
      .select(col("id"),
        round(cosineNative(col("vec"), col("qvec")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id"))
      .limit(k)
  }

  /** Compact a stored index: every ingest append adds one parquet file
    * per touched partition, so a long-lived store degrades toward
    * many-small-files probes (each pruned cell read opens every file
    * in its dir). The compactor rewrites the partitioned data dirs
    * (`cells`, `by_id`) to ONE file per partition — same rows, same
    * layout (a quantized store stays quantized: the rewrite reads the
    * RAW schema, never the dequantizing reader), field metadata and
    * the `_id_buckets` sidecar meta preserved — and byte-copies every
    * other artifact (router/centroids/model/codebooks) verbatim.
    * Always writes to a NEW directory: a crashed compaction must never
    * eat the store (swap dirs after success; the ingest family's
    * append contract then continues against the compacted copy). */
  final case class RemoveReport(removed: Long, cellsTouched: Long,
                                idbTouched: Long)

  /** REMOVE vectors from a stored IVF index — the retraction inverse
    * of the append lifecycle (takedowns, right-to-erase): deletes the
    * removed ids' rows from the cell-partitioned store and the by-id
    * sidecar, touching ONLY the partitions that carry them.
    *
    * Layout-agnostic over the graft index family: flat (`cells/cell=`),
    * two-level (`cells/cluster=`), int8-quantized or PQ-coded
    * (`Pq.writeIndexPq` — its cells rows carry (id, codes, rnorm)
    * under the same `cell=` partitioning, and the raw rewrite carries
    * every column verbatim) — the locate pass is a COLUMN-PRUNED
    * (id, partition) scan (parquet reads two slim columns, never the
    * vector/code data), and only located partitions are rewritten
    * (read raw → anti-join → land beside → per-partition swap,
    * [[graft.core.Stores.swapPartitions]] — a partition emptied by the
    * removal is dropped). A PQ store's codebooks are untouched:
    * removal drifts the learned quantizer exactly like appends do, and
    * the drift verdict (`meanReconCos`) owns refit timing.
    *
    * Strict by the BM25-removal argument: every id must be present
    * exactly once or the call refuses before anything mutates —
    * removing ids that were never indexed is a caller bug a silent
    * no-op would hide. Two-level centroids/router are untouched:
    * removal drifts centroids exactly like appends do, and the
    * staleness verdict owns refit timing.
    *
    * Crash semantics: re-running the same removal converges at EVERY
    * window. While the ids are still in cells, a re-run redoes both
    * legs idempotently. A crash between the cells swap and the by_id
    * swap (ids gone from cells, still in the sidecar — the
    * right-to-erase window) is detected and RESUMED: when no id is in
    * cells but every id is still in by_id, the call proceeds with the
    * sidecar-only removal instead of refusing. Only after both legs
    * complete does a re-run refuse on the presence check. */
  def removeFromIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String, removedIds: DataFrame,
                      validateOnly: Boolean = false): RemoveReport = {
    import spark.implicits._
    val cellsDir = s"$path/cells"
    val cp = new org.apache.hadoop.fs.Path(cellsDir)
    val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(cp),
      s"$path has no cells/ dir — not a graft vector index store " +
        "(flat / two-level / quantized / PQ all carry one)")
    val ids = removedIds.select(col("id").cast("long").as("id")).distinct()
    val nIds = ids.count()
    require(nIds > 0, "removeFromIndex: no ids to remove")

    // locate: slim column-pruned scan — which partitions carry the ids
    val raw = spark.read.parquet(cellsDir)
    val pcol = Seq("cell", "cluster").find(raw.columns.contains)
      .getOrElse(throw new IllegalArgumentException(
        s"$cellsDir has no cell/cluster partition column — not a " +
          "graft IVF store"))
    val loc = raw.select(col("id"), col(pcol).cast("long").as("__p"))
      .join(ids, Seq("id"), "leftsemi")
      .groupBy($"__p").agg(count(lit(1)).as("n"))
      .collect()
    val found = loc.map(_.getAs[Long]("n")).sum
    val byIdDir = s"$path/by_id"
    val hasSidecar = fs.exists(new org.apache.hadoop.fs.Path(byIdDir))
    // sidecar-only resume: a prior identical removal crashed between
    // the cells swap and the by_id swap — every id is gone from cells
    // but still queryable by id. Refusing here would leave erased ids
    // served forever (the docstring's crash-semantics contract), so
    // verify the window precisely (ALL ids still in the sidecar) and
    // finish the second leg.
    val sidecarOnly = found == 0L && hasSidecar && {
      spark.read.parquet(byIdDir)
        .join(ids, Seq("id"), "leftsemi")
        .count() == nIds
    }
    if (!sidecarOnly)
      require(found == nIds,
        s"removeFromIndex: $nIds ids requested but $found indexed rows " +
          "matched — remove only ids the store carries exactly once " +
          "(a partial or duplicated match means the store and the " +
          "removal batch disagree)")
    // preflight mode (the composed-takedown contract): checks ran,
    // nothing below mutates
    if (validateOnly) return RemoveReport(0L, 0L, 0L)
    val nIdb = graft.core.Stores.withLease(spark, path,
        "removeFromIndex") {
      if (!sidecarOnly) {
        val cells = loc.map(_.getAs[Long]("__p")).toSeq

        // rewrite ONLY the located partitions, raw (quantized layouts
        // preserved), long-typed partition values (the written layout —
        // partition discovery types them int)
        val tmp = s"$path/cells_rm_next"
        graft.core.Stores.clearStaging(spark, tmp, "removeFromIndex")
        raw.filter(col(pcol).isin(cells: _*))
          .join(ids, Seq("id"), "left_anti")
          .withColumn(pcol, col(pcol).cast("long"))
          .write.partitionBy(pcol).mode("overwrite").parquet(tmp)
        graft.core.Stores.swapPartitions(spark, cellsDir, tmp, pcol,
          cells, "removeFromIndex")
      }

      // by-id sidecar: same move over the ids' own hash buckets
      if (!hasSidecar) 0L
      else {
        val buckets = idLookupBuckets(spark, byIdDir)
        val idb = ids.select(pmod($"id", lit(buckets.toLong)).as("idb"))
          .distinct().collect().map(_.getLong(0)).toSeq
        val tmpB = s"$path/by_id_rm_next"
        graft.core.Stores.clearStaging(spark, tmpB, "removeFromIndex")
        spark.read.parquet(byIdDir)
          .filter(col("idb").isin(idb: _*))
          .join(ids, Seq("id"), "left_anti")
          .withColumn("idb", col("idb").cast("long"))
          .write.partitionBy("idb").mode("overwrite").parquet(tmpB)
        graft.core.Stores.swapPartitions(spark, byIdDir, tmpB, "idb",
          idb, "removeFromIndex")
        idb.length.toLong
      }
    }
    val cellsTouched =
      if (sidecarOnly) 0L else loc.length.toLong
    RemoveReport(nIds, cellsTouched, nIdb)
  }

  def compactIndex(spark: org.apache.spark.sql.SparkSession,
                   srcPath: String, dstPath: String): Unit = {
    // Hadoop FileSystem API, not java.nio: index stores live on
    // whatever filesystem their URI names (hdfs://, s3a://, local) —
    // the long-lived production stores this compactor exists for are
    // exactly the non-local ones (the Layout.compact precedent)
    import org.apache.hadoop.fs.{FileUtil, Path => HPath}
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new HPath(srcPath)
    val fs = src.getFileSystem(conf)
    require(fs.exists(src) && fs.getFileStatus(src).isDirectory,
      s"$srcPath is not an index directory")
    val dst = new HPath(dstPath)
    val dfs = dst.getFileSystem(conf)
    require(!dfs.exists(dst),
      s"$dstPath already exists — compaction writes to a fresh " +
        "directory only (never risks the live store)")
    dfs.mkdirs(dst)
    fs.listStatus(src).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && (name == "cells" || name == "by_id")) {
        // RAW read (no dequant) so the stored layout is preserved
        val df = spark.read.parquet(st.getPath.toString)
        val pcol = Seq("cell", "cluster", "idb")
          .find(df.columns.contains).getOrElse(throw
            new IllegalArgumentException(
              s"${st.getPath} has no recognized partition column — " +
                "not a graft index data dir"))
        // partition-value inference types the column int; restore long
        // (the layout every probe was written against)
        df.withColumn(pcol, col(pcol).cast("long"))
          .repartition(col(pcol))
          .write.mode("errorifexists").partitionBy(pcol)
          .parquet(new HPath(dst, name).toString)
        // non-parquet sidecar meta files (e.g. by_id/_id_buckets) are
        // dropped by the rewrite — carry them over
        fs.listStatus(st.getPath).foreach { m =>
          val mn = m.getPath.getName
          if (!m.isDirectory && mn.startsWith("_") && mn != "_SUCCESS") {
            FileUtil.copy(fs, m.getPath, dfs,
              new HPath(new HPath(dst, name), mn), false, conf)
            ()
          }
        }
      } else {
        FileUtil.copy(fs, st.getPath, dfs, new HPath(dst, name),
          false, conf)
        ()
      }
    }
  }
}
