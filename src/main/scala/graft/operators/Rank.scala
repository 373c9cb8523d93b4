package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** BM25 relevance scoring of a document corpus against a small query
  * term set — the retrieval-shaped curation signal (score a pool
  * against "what good training documents look like" probe queries, or
  * serve as the lexical leg of a hybrid lexical+embedding retrieval
  * stack next to the ANN tiers).
  *
  * Reference behavior target: the reference has no retrieval scorer;
  * this follows Robertson & Walker's Okapi BM25 (TREC-3, 1994) with
  * the standard k1 = 1.2, b = 0.75 defaults.
  *
  * Scale design — NO explode, NO join, ONE corpus aggregate:
  *   - per-doc term frequencies are pure column expressions
  *     (`size(filter(tokens, t -> t = term))`), so the per-doc frame is
  *     a scan-stage projection;
  *   - corpus statistics (N, total tokens, per-term document
  *     frequencies) come from ONE aggregate over that projection,
  *     yielding a 1-row frame broadcast back via crossJoin (the q68
  *     scalar pattern);
  *   - scoring is again a pure projection + filter + top-k sort.
  *   At 100 TB that is one scan-shaped pass plus a 1-row broadcast —
  *   no shuffle keyed on anything corpus-sized.
  *
  * Exactness: tf, dl, df, N, total are exact integer aggregates
  * (order-free). The per-term score is assembled from those integers
  * with only IEEE-correctly-rounded operations — one division for the
  * tf saturation ratio, one division + `sqrt` for the compressed idf —
  * and the per-doc score adds the per-term contributions in the fixed
  * left-to-right term order (a `reduce` fold, never a float SUM whose
  * order the engine owns). `idfMode`:
  *   - "ln"  (production default): Lucene's non-negative Robertson
  *     variant ln(1 + (N-df+0.5)/(df+0.5)); ln is not correctly rounded
  *     by IEEE-754, so this tier is certified by ScalaTest ground
  *     truth, not DuckDB.
  *   - "sqrt" (certified tier): sqrt((N-df+0.5)/(df+0.5)) — the same
  *     monotone df-compression family at power 1/2 instead of log,
  *     chosen because IEEE sqrt IS correctly rounded, so every double
  *     on the Spark side is bit-identical to the oracle replay (the
  *     temperature-weights α=1/2 argument).
  * Scores land as integer `floor(score · 10^4)` (the motif convention:
  * floor, never round — round diverges on decimal ties cross-engine).
  *
  * Integer-exactness bound: the tf ratio numerator is 22·total·tf,
  * exact in a double while below 2^53; the certified tier asserts
  * nothing beyond test scale, and the production "ln" tier carries the
  * same bound only inside the ratio (document-level, not corpus-level,
  * magnitudes after the division).
  */
object Rank {

  /** Score `df` against `terms`; keep docs with positive score, ranked
    * (score desc, id). Output: id, n_hit_terms, score_e4.
    *
    * k1 = 1.2 and b = 0.75 enter as the exact rationals 6/5 and 3/4 so
    * the saturation denominator is a single exact-integer expression:
    *   tf + k1·(1−b) + k1·b·dl·N/total
    *     = (10·total·tf + 3·total + 9·dl·N) / (10·total)
    * and the whole tf part is 22·total·tf / den (times (k1+1) = 11/5).
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], idfMode: String = "ln",
           topK: Int = 0): DataFrame = {
    require(terms.nonEmpty, "bm25: terms must be non-empty")
    require(terms.distinct == terms, "bm25: terms must be distinct")
    require(Set("ln", "sqrt")(idfMode),
      s"bm25: idfMode must be ln|sqrt, got $idfMode")
    val spark = df.sparkSession
    import spark.implicits._

    // scan-stage projection: id, dl, one exact integer tf per term
    val tk = TextFunctions.tokens(col(textCol))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(tk, x => x === lit(t))).cast("long").as(s"tf_$i")
    }
    val perDoc = df.select(
      (col(idCol).cast("long").as("id") +:
        TextFunctions.tokenCount(col(textCol)).cast("long").as("dl") +:
        tfCols): _*)

    // ONE corpus aggregate: N, total, df per term (1 row, broadcast)
    val dfCols = terms.indices.map { i =>
      sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i")
    }
    val stats = perDoc.agg(count(lit(1)).as("n_docs"),
      (sum($"dl").as("total") +: dfCols): _*)

    val scored = perDoc.crossJoin(broadcast(stats))

    val score = terms.indices
      .map(i => contrib(col(s"tf_$i"), col(s"df_$i"), $"dl",
        $"n_docs", $"total", idfMode))
      .reduceLeft(_ + _)
    val nHits = terms.indices
      .map(i => when(col(s"tf_$i") > 0, 1L).otherwise(0L))
      .reduceLeft(_ + _)

    val out = scored
      .select($"id", nHits.as("n_hit_terms"),
        floor(score * lit(10000.0)).cast("long").as("score_e4"))
      .filter($"score_e4" > 0)
      .orderBy($"score_e4".desc, $"id")
    if (topK > 0) out.limit(topK) else out
  }

  /** Per-doc term MULTISET hash — stored in `doclen.th` at build/append
    * time so a later removal can verify the passed text is WHAT WAS
    * INDEXED, not merely the same length: the sorted token array is a
    * canonical multiset encoding (duplicates kept), so any change of
    * term identity or count changes the hash, while dl alone is blind
    * to equal-length substitutions (whose removal would leave orphan
    * postings rows corrupting df). */
  private def termMultisetHash(text: Column): Column =
    xxhash64(array_sort(TextFunctions.tokens(text)))

  /** One BM25 term's contribution — shared verbatim by the corpus-scan
    * and stored-index paths so the two cannot drift by a double. */
  private def contrib(tf: Column, dfT: Column, dl: Column,
                      nDocs: Column, total: Column,
                      idfMode: String): Column = {
    val ratio = ((lit(2L) * (nDocs - dfT) + lit(1L)).cast("double")
      / (lit(2L) * dfT + lit(1L)).cast("double"))
    val idf = idfMode match {
      case "sqrt" => sqrt(ratio)
      // Lucene's non-negative variant ln(1 + ratio) — the plain
      // Robertson ln(ratio) goes negative once df > N/2, which is
      // routine for corpus-frequent probe terms
      case _ => log1p(ratio)
    }
    val num = (lit(22L) * total * tf).cast("double")
    val den = (lit(10L) * total * tf + lit(3L) * total
      + lit(9L) * dl * nDocs).cast("double")
    when(tf === 0L, lit(0.0)).otherwise(idf * (num / den))
  }

  /** Build a stored inverted index for BM25 serving: `postings/`
    * (term, id, tf) PARTITIONED by the term's hash bucket — a probe
    * reads only its query terms' buckets via partition pruning, IO
    * O(postings of |terms| buckets) instead of a corpus scan —
    * plus `doclen/` (id, dl) and a 1-row `stats/` carrying N, total
    * and the build params the probe side re-derives its routing from.
    * The postings aggregate is the one corpus-scale shuffle (the
    * inverted-index build cost by definition); nBuckets caps the
    * partition-dir fanout. */
  def buildBm25Index(df: DataFrame, idCol: String, textCol: String,
                     dir: String, nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val spark = df.sparkSession
    import spark.implicits._
    val tk = TextFunctions.tokens(col(textCol))
    df.select(col(idCol).cast("long").as("id"), explode(tk).as("term"))
      .groupBy($"term", $"id").agg(count(lit(1)).as("tf"))
      .withColumn("tb", pmod(xxhash64($"term"), lit(nBuckets.toLong)))
      .write.partitionBy("tb").mode("overwrite")
      .parquet(s"$dir/postings")
    df.select(col(idCol).cast("long").as("id"),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("dl"),
        termMultisetHash(col(textCol)).as("th"))
      .write.mode("overwrite").parquet(s"$dir/doclen")
    spark.read.parquet(s"$dir/doclen")
      .agg(count(lit(1)).as("n_docs"), sum($"dl").as("total"))
      .withColumn("n_buckets", lit(nBuckets.toLong))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** Append a document batch to a stored BM25 index — O(batch), never
    * a corpus rescan: the batch's postings land as appended files in
    * the SAME term-bucket partition dirs (bucket routing re-derived
    * from the store's own n_buckets build param, so a probe cannot
    * split a term across buckets), doclen appends, and the 1-row stats
    * table is replaced by exact mergeable sums (counts add — the
    * CorpusStats argument). Per-term document frequency needs no
    * maintenance at all: the probe derives df from the postings it
    * reads, so an appended index serves bit-identically to a
    * from-scratch build over the union (pinned in RankSpec).
    *
    * Caller contract (same as the IVF/gram-index appends): one writer
    * at a time; batch ids must be new — re-ingesting an id double-
    * counts it, the exactly-once ingest sink's job to prevent. */
  def appendBm25Index(batch: DataFrame, idCol: String, textCol: String,
                      dir: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val stats = spark.read.parquet(s"$dir/stats")
    require(stats.columns.contains("n_buckets"),
      s"appendBm25Index: $dir/stats is not a bm25 index store " +
        s"(no n_buckets build param)")
    val st = stats.head()
    val nBuckets = st.getAs[Long]("n_buckets")

    val tk = TextFunctions.tokens(col(textCol))
    graft.core.Stores.withLease(spark, dir, "appendBm25Index") {
      batch.select(col(idCol).cast("long").as("id"), explode(tk).as("term"))
        .groupBy($"term", $"id").agg(count(lit(1)).as("tf"))
        .withColumn("tb", pmod(xxhash64($"term"), lit(nBuckets)))
        .write.partitionBy("tb").mode("append").parquet(s"$dir/postings")
      // match the store's doclen schema: stores built since the
      // term-multiset-hash contract carry `th` (see termMultisetHash);
      // appending a th column into a pre-contract store would leave the
      // dir schema-split (parquet reads resolve one file's schema)
      val hasTh = spark.read.parquet(s"$dir/doclen")
        .columns.contains("th")
      val dl =
        if (hasTh)
          batch.select(col(idCol).cast("long").as("id"),
            TextFunctions.tokenCount(col(textCol)).cast("long").as("dl"),
            termMultisetHash(col(textCol)).as("th"))
        else batch.select(col(idCol).cast("long").as("id"),
          TextFunctions.tokenCount(col(textCol)).cast("long").as("dl"))
      dl.write.mode("append").parquet(s"$dir/doclen")
      val delta = dl.agg(count(lit(1)).as("dn"),
        coalesce(sum($"dl"), lit(0L)).as("dt")).head()
      val merged = Seq((st.getAs[Long]("n_docs") + delta.getAs[Long]("dn"),
          st.getAs[Long]("total") + delta.getAs[Long]("dt"), nBuckets))
        .toDF("n_docs", "total", "n_buckets")
      graft.core.Stores.replace(spark, s"$dir/stats", "appendBm25Index")(
        merged.coalesce(1).write.mode("overwrite").parquet(_))
    }
  }

  /** Compact a stored BM25 index's postings buckets — the
    * read-amplification escape for a long-lived index: every
    * [[appendBm25Index]] adds one file per touched term bucket and
    * every [[removeFromBm25Index]] rewrite can fragment further, so a
    * store under steady append/retract churn degrades toward
    * many-small-files probes (a pruned bucket read opens every file in
    * its dir). Rewrites each NON-EMPTY bucket partition to one file
    * (same rows — probes serve bit-identically, pinned in RankSpec)
    * through [[graft.core.Stores.compactParts]]. doclen folds too (one
    * file per append otherwise): rewritten at a size-derived file count
    * (~128 MB targets — ONE file would serialize the corpus-wide doclen
    * join at scale); stats is one row and never fragments. Returns
    * (files before, files after, buckets rewritten), files counted
    * over postings and doclen. One writer at a time (leased). */
  def compactBm25Postings(spark: org.apache.spark.sql.SparkSession,
                          dir: String): (Long, Long, Long) = {
    val postings = s"$dir/postings"
    val doclen = s"$dir/doclen"
    val pp = new org.apache.hadoop.fs.Path(postings)
    val fs = pp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(pp), s"$dir is not a bm25 index store (no postings/)")
    val dlBefore = graft.core.Stores.dataFiles(spark, doclen)
    val (before, after, nb) =
      graft.core.Stores.withLease(spark, dir, "compactBm25Postings") {
        val counts @ (_, _, nBuckets) = graft.core.Stores.compactParts(
          spark, postings, "tb", "compactBm25Postings")
        if (nBuckets > 0) {
          val nFiles = math.max(1L, fs.getContentSummary(
            new org.apache.hadoop.fs.Path(doclen)).getLength / (128L << 20))
          graft.core.Stores.replace(spark, doclen, "compactBm25Postings")(
            spark.read.parquet(doclen).repartition(nFiles.toInt)
              .write.mode("overwrite").parquet(_))
        }
        counts
      }
    (before + dlBefore, after + graft.core.Stores.dataFiles(spark, doclen),
      nb)
  }

  /** Re-derive the 1-row stats leg from doclen TRUTH — the one-command
    * recovery for a `bm25_stats_doclen` / `bm25_stats_inconsistent`
    * verify/fsck finding (the stats are fully derivable: n_docs =
    * count(doclen), total = Σ dl; n_buckets is a build parameter, kept
    * from the existing stats or overridden when that leg is destroyed),
    * under the index's writer lease. Returns the rebuilt (n_docs,
    * total). */
  def rebuildBm25Stats(spark: org.apache.spark.sql.SparkSession,
                       dir: String,
                       nBucketsOverride: Option[Long] = None)
      : (Long, Long) = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/doclen")),
      s"$dir is not a bm25 index store (no doclen/)")
    val nBuckets = nBucketsOverride.getOrElse {
      val st = spark.read.parquet(s"$dir/stats")
      require(st.columns.contains("n_buckets"),
        s"$dir/stats carries no n_buckets and no --buckets override " +
          "was given — the routing parameter cannot be re-derived " +
          "from data")
      st.head().getAs[Long]("n_buckets")
    }
    require(nBuckets > 0, s"n_buckets must be positive, got $nBuckets")
    // the routing parameter commits to the stats leg but GOVERNS the
    // postings probes — a wrong --buckets would make every future
    // probe prune to the wrong bucket and silently serve zero hits.
    // Sanity-check it against the postings' actual routing before
    // committing (a full postings scan, the right price for a recovery
    // command that writes an unverifiable-by-data parameter).
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/postings"))) {
      val misrouted = spark.read.parquet(s"$dir/postings")
        .filter(col("tb").cast("long") =!=
          pmod(xxhash64(col("term")), lit(nBuckets)))
        .limit(1).count()
      require(misrouted == 0L,
        s"rebuildBm25Stats: n_buckets=$nBuckets disagrees with the " +
          "postings' actual bucket routing — probes under this " +
          "parameter would prune to the wrong buckets; pass the " +
          "n_buckets the index was built with")
    }
    // same lease root as append/remove/compact — one writer per INDEX,
    // not per leg
    graft.core.Stores.withLease(spark, dir, "rebuildBm25Stats") {
      val truth = spark.read.parquet(s"$dir/doclen")
        .agg(count(lit(1)).as("n"),
          coalesce(sum($"dl"), lit(0L)).as("t")).head()
      val (n, t) = (truth.getAs[Long]("n"), truth.getAs[Long]("t"))
      graft.core.Stores.replace(spark, s"$dir/stats", "rebuildBm25Stats")(
        Seq((n, t, nBuckets)).toDF("n_docs", "total", "n_buckets")
          .coalesce(1).write.mode("overwrite").parquet(_))
      (n, t)
    }
  }

  /** REMOVE documents from a stored BM25 index — the retraction
    * inverse of [[appendBm25Index]] (takedowns, retractions, the
    * right-to-erase): `remove(append(build(A), B), B) == build(A)`
    * bit-for-bit on every probe (pinned in RankSpec), because postings
    * and doclen rows delete exactly, stats subtract exact integers,
    * and df needs no maintenance (probes derive it from the postings
    * they read).
    *
    * Caller contract: pass the removed docs WITH the text that was
    * indexed (a retraction holds the doc by definition). Both are
    * verified before anything mutates: every id must be present in the
    * doclen store, and — on stores carrying the `th` term-multiset
    * hash (every build since the contract) — the passed text's sorted
    * token array must hash to what was indexed, so ANY term identity
    * or count drift refuses, not just a length change. Pre-contract
    * stores (no `th` column) fall back to the dl token-count check,
    * which is blind to equal-length term substitutions — rebuild such
    * stores to get the full guarantee. A drifted text would leave
    * orphan postings rows behind, silently corrupting df for its
    * terms.
    *
    * Cost shape: O(removed + affected term buckets), never a full
    * postings scan — the removed docs' own terms name the hash buckets
    * their postings rows live in, so only those partitions rewrite
    * (per-bucket swap, bounded by n_buckets); doclen is one slim
    * anti-join rewrite; stats land beside and swap.
    *
    * Crash semantics (one writer, the family contract): re-running the
    * SAME removal converges — the postings anti-join and bucket swaps
    * are idempotent, and a crash after the doclen promote (when the
    * presence check would refuse a naive re-run) is detected and
    * resumed: all ids already gone + a landed stats_next means only
    * the final stats swap remained, so it completes and returns. */
  def removeFromBm25Index(docs: DataFrame, idCol: String, textCol: String,
                          dir: String,
                          validateOnly: Boolean = false): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val stats = spark.read.parquet(s"$dir/stats")
    require(stats.columns.contains("n_buckets"),
      s"removeFromBm25Index: $dir/stats is not a bm25 index store " +
        s"(no n_buckets build param)")
    val st = stats.head()
    val nBuckets = st.getAs[Long]("n_buckets")

    val tk = TextFunctions.tokens(col(textCol))
    val slim = docs.select(col(idCol).cast("long").as("id"),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("__dl_txt"),
      termMultisetHash(col(textCol)).as("__th_txt"))
    val dlStore = spark.read.parquet(s"$dir/doclen")
    // full-strength drift detection on th-carrying stores (the term
    // MULTISET must match); dl-only on pre-contract stores
    val driftCond =
      if (dlStore.columns.contains("th"))
        $"dl".isNotNull && ($"dl" =!= $"__dl_txt" || $"th" =!= $"__th_txt")
      else $"dl".isNotNull && $"dl" =!= $"__dl_txt"
    val chk = slim.join(dlStore, Seq("id"), "left")
      .agg(count(lit(1)).as("n"), countDistinct($"id").as("nd"),
        count(when($"dl".isNull, 1)).as("miss"),
        count(when(driftCond, 1)).as("drift"),
        coalesce(sum($"dl"), lit(0L)).as("rmTotal")).head()
    val (nRm, nDist, miss, drift, rmTotal) =
      (chk.getAs[Long]("n"), chk.getAs[Long]("nd"),
        chk.getAs[Long]("miss"), chk.getAs[Long]("drift"),
        chk.getAs[Long]("rmTotal"))
    require(nRm == nDist, s"removeFromBm25Index: removal batch carries " +
      s"duplicate ids ($nRm rows, $nDist distinct)")
    val who = "removeFromBm25Index"
    val statsNext = new org.apache.hadoop.fs.Path(
      graft.core.Stores.nextOf(s"$dir/stats"))
    val fs = statsNext.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (nRm > 0 && miss == nRm && fs.exists(statsNext)) {
      // resume path candidate: every id is already gone and a
      // successor stats table is landed — but a stats_next stranded by
      // a DIFFERENT crashed operation (a crashed append, or a crashed
      // removal of another batch before its doclen promote) must not
      // silently promote unrelated stats. VERIFY the successor is the
      // post-removal truth before finishing the swap: after the doclen
      // promote, n_docs must equal the doclen row count and total must
      // equal the exact sum of its dl column (total IS Σ dl by
      // construction), and the build param must carry over.
      val nx = spark.read.parquet(statsNext.toString).head()
      val dlTruth = dlStore
        .agg(count(lit(1)).as("n"), coalesce(sum($"dl"), lit(0L)).as("t"))
        .head()
      val ok = nx.schema.fieldNames.contains("n_buckets") &&
        nx.getAs[Long]("n_buckets") == nBuckets &&
        nx.getAs[Long]("n_docs") == dlTruth.getAs[Long]("n") &&
        nx.getAs[Long]("total") == dlTruth.getAs[Long]("t")
      require(ok,
        s"removeFromBm25Index: all $nRm ids are absent and a " +
          s"$statsNext exists, but it does NOT match the doclen " +
          s"store (stats_next=(${nx.mkString(",")}), doclen has " +
          s"${dlTruth.getAs[Long]("n")} docs / " +
          s"${dlTruth.getAs[Long]("t")} tokens) — it was stranded by a " +
          "different crashed operation; refusing to promote unrelated " +
          "stats. Run `store --fsck` on the index (or remove the " +
          "stale stats_next by hand) and retry")
      if (validateOnly) return
      graft.core.Stores.withLease(spark, dir, who) {
        // the verified successor is already staged: promote it as is
        graft.core.Stores.replace(spark, s"$dir/stats", s"$who(resume)")(
          _ => ())
      }
      return
    }
    require(miss == 0L, s"removeFromBm25Index: $miss of $nRm ids are " +
      "not in the index (remove what you appended; partial batches " +
      "would make the stats subtraction wrong)")
    require(drift == 0L, s"removeFromBm25Index: $drift of $nRm docs' " +
      "token counts or term multisets differ from the indexed doclen " +
      "— the passed text is not what was indexed, and removing by it " +
      "would leave orphan postings rows corrupting df")
    // preflight mode (the composed-takedown contract): checks ran,
    // nothing below mutates
    if (validateOnly || nRm == 0L) return
    graft.core.Stores.withLease(spark, dir, who) {

      // postings: only the removed docs' own terms' hash buckets can
      // carry their rows — rewrite exactly those partitions
      val buckets = docs.select(explode(tk).as("term")).distinct()
        .select(pmod(xxhash64($"term"), lit(nBuckets)).as("tb")).distinct()
        .collect().map(_.getLong(0)).toSeq
      if (buckets.nonEmpty)
        graft.core.Stores.replaceParts(spark, s"$dir/postings", "tb",
          buckets.map(_.toString), who,
          Some(spark.read.parquet(s"$dir/postings")
            .filter(col("tb").isin(buckets: _*))
            .join(slim.select($"id"), Seq("id"), "left_anti")))

      // the doclen replace runs inside the stats stage body: the stats
      // successor lands BEFORE the doclen promote, so the one crash
      // window past the point of no return (ids gone from doclen) is
      // resumable — see the resume path above.
      graft.core.Stores.replace(spark, s"$dir/stats", who) { statsNext =>
        Seq((st.getAs[Long]("n_docs") - nRm,
            st.getAs[Long]("total") - rmTotal, nBuckets))
          .toDF("n_docs", "total", "n_buckets")
          .coalesce(1).write.mode("overwrite").parquet(statsNext)
        graft.core.Stores.replace(spark, s"$dir/doclen", who)(
          dlStore.join(slim.select($"id"), Seq("id"), "left_anti")
            .write.mode("overwrite").parquet(_))
      }
    }
  }

  /** Attach 1-based ranks to a BOUNDED retrieval shortlist: (id, rank)
    * in `order`. The single-partition row_number window is justified
    * by the input contract — a top-k frame (the output of a
    * [[bm25]]/ANN `limit(k)`), never a corpus-sized relation — so the
    * window sorts ≤ k rows on one task regardless of corpus size.
    * `order` must be a TOTAL order (tie-broken by a unique id) or the
    * ranks are nondeterministic. */
  def shortlistRanks(shortlist: DataFrame, idCol: String,
                     order: Seq[Column]): DataFrame = {
    require(order.nonEmpty, "shortlistRanks: order must be non-empty")
    shortlist.select(col(idCol).cast("long").as("id"),
      row_number().over(Window.orderBy(order: _*)).cast("long").as("rank"))
  }

  /** Rank column with the rank ≥ 1 contract ENFORCED in-plan: a leg
    * carrying rank 0 with k0 = 0 would contribute 1e6/0 = Infinity,
    * which floor/cast silently turns into a garbage Long — so a
    * malformed leg must fail the query, not corrupt the fused score.
    * raise_error keeps the check codegen'd and per-row-cheap. */
  private def checkedRank(rank: Column): Column = {
    val r = rank.cast("long")
    when(r.isNull || r < 1L,
      raise_error(concat(lit("rrfFuse: leg rank must be >= 1, got "),
        coalesce(r.cast("string"), lit("null")))).cast("long"))
      .otherwise(r).as("rank")
  }

  /** Reciprocal-rank fusion of retrieval shortlists — the standard
    * hybrid-retrieval combiner (Cormack, Clarke & Buettcher, SIGIR
    * 2009): a document's fused score is Σ_legs 1/(k0 + rank_leg), so
    * a document ranked moderately by BOTH the lexical (BM25) and the
    * dense (ANN) leg outscores a document topping only one — exactly
    * the relevant-but-lexically-disguised case a single leg misses.
    *
    * Exactness: each contribution lands as the integer
    * floor(10^6 / (k0 + rank)) — one correctly-rounded IEEE division
    * of exact integers, floored — and the fused score is an exact
    * integer SUM of those, so the whole fusion replays bit-for-bit in
    * the oracle with no float-sum ordering anywhere.
    *
    * Scale shape: inputs are top-k shortlists (bounded by contract —
    * ids unique within a leg), so the union + groupBy aggregate is
    * O(Σ k) rows total, trivially broadcastable downstream.
    *
    * Input legs: (id, rank ≥ 1). Output: (id, rrf_e6, n_legs,
    * best_rank), ordered (rrf_e6 desc, id). */
  def rrfFuse(legs: Seq[DataFrame], k0: Int = 60,
              topK: Int = 0): DataFrame = {
    require(legs.nonEmpty, "rrfFuse: need at least one leg")
    require(k0 >= 0, s"rrfFuse: k0 must be non-negative, got $k0")
    val slim = legs.map(_.select(col("id").cast("long").as("id"),
      checkedRank(col("rank"))))
    val all = slim.reduce(_ union _)
    val contrib = floor(lit(1000000.0)
      / (lit(k0.toLong) + col("rank")).cast("double")).cast("long")
    val out = all
      .groupBy(col("id"))
      .agg(sum(contrib).as("rrf_e6"),
        count(lit(1)).as("n_legs"),
        min(col("rank")).as("best_rank"))
      .orderBy(col("rrf_e6").desc, col("id"))
    if (topK > 0) out.limit(topK) else out
  }

  /** Hybrid lexical+dense retrieval: BM25 shortlist (corpus scan or
    * stored index — caller supplies it ranked-shaped) fused with a
    * dense cosine shortlist by [[rrfFuse]]. Thin composition kept here
    * so the CLI and the certified query share one code path. */
  def hybrid(lexShortlist: DataFrame, denseShortlist: DataFrame,
             k0: Int = 60, topK: Int = 0): DataFrame =
    rrfFuse(Seq(
      shortlistRanks(lexShortlist, "id",
        Seq(col("score_e4").desc, col("id"))),
      shortlistRanks(denseShortlist, "id",
        Seq(col("cos_sim").desc, col("id")))), k0, topK)

  /** Per-query ranks over a BATCH of bounded shortlists: (qid, id,
    * rank) with rank 1-based in `order` within each qid. The window
    * partitions on qid, so each sort is over one query's ≤ k shortlist
    * rows — never a global sort. */
  def shortlistRanksBatch(shortlist: DataFrame, qidCol: String,
                          idCol: String, order: Seq[Column]): DataFrame = {
    require(order.nonEmpty, "shortlistRanksBatch: order must be non-empty")
    shortlist.select(col(qidCol).cast("long").as("qid"),
      col(idCol).cast("long").as("id"),
      row_number().over(
        Window.partitionBy(col(qidCol)).orderBy(order: _*))
        .cast("long").as("rank"))
  }

  /** [[rrfFuse]] for a BATCH of queries in one plan — legs carry
    * (qid, id, rank) and fusion groups on (qid, id), so a serving
    * batch fuses q hybrid queries with ONE aggregate (the
    * bm25FromIndexBatch / Ivf.topKBatch composition shape). Same
    * exact-integer arithmetic; `topK` > 0 caps per QUERY. Output:
    * (qid, id, rrf_e6, n_legs, best_rank), ordered
    * (qid, rrf_e6 desc, id). */
  def rrfFuseBatch(legs: Seq[DataFrame], k0: Int = 60,
                   topK: Int = 0): DataFrame = {
    require(legs.nonEmpty, "rrfFuseBatch: need at least one leg")
    require(k0 >= 0, s"rrfFuseBatch: k0 must be non-negative, got $k0")
    val slim = legs.map(_.select(col("qid").cast("long").as("qid"),
      col("id").cast("long").as("id"),
      checkedRank(col("rank"))))
    val contrib = floor(lit(1000000.0)
      / (lit(k0.toLong) + col("rank")).cast("double")).cast("long")
    val fused = slim.reduce(_ union _)
      .groupBy(col("qid"), col("id"))
      .agg(sum(contrib).as("rrf_e6"),
        count(lit(1)).as("n_legs"),
        min(col("rank")).as("best_rank"))
    val capped = if (topK <= 0) fused else {
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("rrf_e6").desc, col("id"))
      fused.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= topK).drop("__rn")
    }
    capped.orderBy(col("qid"), col("rrf_e6").desc, col("id"))
  }

  /** Postings-per-bucket balance of a stored BM25 index — the
    * staleness-verdict pattern the ANN stores carry, applied to term
    * routing: buckets are keyed by term hash, so a corpus-frequent
    * term drags its whole bucket hot, and many appends can drift the
    * layout further. Probe cost is proportional to the PROBED buckets'
    * postings, so a bucket at many× the mean serves that term's
    * queries at many× the IO. One column-pruned aggregate over
    * postings (tb + row count only — no term/id/tf bytes read).
    *
    * Returns (nBuckets, nonEmpty, maxRows, meanRows·e2 as integer,
    * verdict) where verdict is "ok" below `ratio`, else
    * "skewed(max/mean=R; consider more buckets or an external-list
    * tier for the hottest terms)". */
  def bm25BucketBalance(spark: org.apache.spark.sql.SparkSession,
                        dir: String, ratio: Double = 8.0)
      : (Long, Long, Long, Long, String) = {
    require(ratio > 1.0, s"bm25BucketBalance: ratio must be > 1, got $ratio")
    import spark.implicits._
    val st = spark.read.parquet(s"$dir/stats").head()
    val nBuckets = st.getAs[Long]("n_buckets")
    val per = spark.read.parquet(s"$dir/postings")
      .groupBy($"tb").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("nb"), max($"n").as("mx"), sum($"n").as("tot"))
      .head()
    val (nonEmpty, mx, tot) = (per.getAs[Long]("nb"),
      per.getAs[Long]("mx"), per.getAs[Long]("tot"))
    // mean over ALL routing buckets (empty ones included): the probe
    // pays the bucket it hashes into, so a layout where most buckets
    // are empty and one is huge is exactly the pathology to flag.
    // Skew in double arithmetic end-to-end — the integer-truncated
    // meanE2 is for REPORTING only; a tiny fully-skewed index
    // (tot·100 < nBuckets) must still read as skewed, and the only
    // genuinely skew-free layout is the empty one (tot == 0).
    val meanE2 = tot * 100L / math.max(1L, nBuckets)
    val skew =
      if (tot == 0L) 0.0
      else mx * math.max(1L, nBuckets).toDouble / tot.toDouble
    val verdict =
      if (skew <= ratio) "ok"
      else f"skewed(max/mean=$skew%.1f; consider more buckets or an " +
        "external-list tier for the hottest terms)"
    (nBuckets, nonEmpty, mx, meanE2, verdict)
  }

  /** Score ARBITRARY documents against a stored index's corpus
    * statistics — the serving shape for scoring NEW text without
    * rescanning the corpus: tf/dl come from the input docs as scan
    * projections (the [[bm25]] shape — no explode), df/N/total come
    * from the store (df via the partition-pruned postings read, all
    * resolved to driver literals). Unlike the retrieval entry points
    * this returns EVERY input doc with its score (zero-hit docs score
    * 0, no filter, no sort) — the gate/monitor contract, where the
    * caller owns the threshold. Output: id, n_hit_terms, score_e4. */
  def bm25ScoreDocs(docs: DataFrame, idCol: String, textCol: String,
                    dir: String, terms: Seq[String],
                    idfMode: String = "ln"): DataFrame = {
    require(terms.nonEmpty, "bm25ScoreDocs: terms must be non-empty")
    require(terms.distinct == terms,
      "bm25ScoreDocs: terms must be distinct")
    require(Set("ln", "sqrt")(idfMode),
      s"bm25ScoreDocs: idfMode must be ln|sqrt, got $idfMode")
    val spark = docs.sparkSession
    import spark.implicits._
    val stats = spark.read.parquet(s"$dir/stats")
    require(stats.columns.contains("n_buckets"),
      s"bm25ScoreDocs: $dir/stats is not a bm25 index store " +
        s"(no n_buckets build param)")
    val st = stats.head()
    val (nDocs, total) =
      (st.getAs[Long]("n_docs"), st.getAs[Long]("total"))
    val nBuckets = st.getAs[Long]("n_buckets")
    val termRows = terms.toDF("term")
      .select($"term", pmod(xxhash64($"term"), lit(nBuckets)).as("tb"))
      .collect()
    val buckets = termRows.map(_.getAs[Long]("tb")).distinct.toSeq
    val dfMap = spark.read.parquet(s"$dir/postings")
      .filter(col("tb").isin(buckets: _*) && col("term").isin(terms: _*))
      .groupBy($"term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val tk = TextFunctions.tokens(col(textCol))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(tk, x => x === lit(t))).cast("long").as(s"tf_$i")
    }
    val perDoc = docs.select(
      (col(idCol).cast("long").as("id") +:
        TextFunctions.tokenCount(col(textCol)).cast("long").as("dl") +:
        tfCols): _*)
    val score = terms.zipWithIndex
      .map { case (t, i) =>
        contrib(col(s"tf_$i"), lit(dfMap.getOrElse(t, 0L)), $"dl",
          lit(nDocs), lit(total), idfMode)
      }
      .reduceLeft(_ + _)
    val nHits = terms.indices
      .map(i => when(col(s"tf_$i") > 0, 1L).otherwise(0L))
      .reduceLeft(_ + _)
    perDoc.select($"id", nHits.as("n_hit_terms"),
      floor(score * lit(10000.0)).cast("long").as("score_e4"))
  }

  /** Serve a BM25 query from a stored index: partition-pruned postings
    * read (only the query terms' hash buckets), per-term df and the
    * corpus stats resolved to driver literals (O(|terms|) rows), tf
    * pivoted to per-term columns, ONE slim (id) join against doclen.
    * Bit-identical to [[bm25]] on the same corpus — the contribution
    * expression is shared and every input (tf, df, dl, N, total) is
    * the same exact integer. */
  def bm25FromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                    terms: Seq[String], idfMode: String = "ln",
                    topK: Int = 0): DataFrame = {
    require(terms.nonEmpty, "bm25FromIndex: terms must be non-empty")
    require(terms.distinct == terms, "bm25FromIndex: terms must be distinct")
    require(Set("ln", "sqrt")(idfMode),
      s"bm25FromIndex: idfMode must be ln|sqrt, got $idfMode")
    import spark.implicits._
    val stats = spark.read.parquet(s"$dir/stats")
    require(stats.columns.contains("n_buckets"),
      s"bm25FromIndex: $dir/stats is not a bm25 index store " +
        s"(no n_buckets build param)")
    val st = stats.head()
    val (nDocs, total) =
      (st.getAs[Long]("n_docs"), st.getAs[Long]("total"))
    val nBuckets = st.getAs[Long]("n_buckets")

    // term -> hash bucket, via the same engine hash the build used
    val termRows = terms.toDF("term")
      .select($"term", pmod(xxhash64($"term"), lit(nBuckets)).as("tb"))
      .collect()
    val buckets = termRows.map(_.getAs[Long]("tb")).distinct.toSeq

    val hits = spark.read.parquet(s"$dir/postings")
      .filter(col("tb").isin(buckets: _*) && col("term").isin(terms: _*))
      .select($"term", $"id", $"tf")
    // per-term document frequency — O(|terms|) rows to the driver
    val dfMap = hits.groupBy($"term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      coalesce(sum(when($"term" === t, $"tf")), lit(0L)).as(s"tf_$i")
    }
    val pivoted = hits.groupBy($"id").agg(tfCols.head, tfCols.tail: _*)
    val withDl = pivoted
      .join(spark.read.parquet(s"$dir/doclen"), Seq("id"))

    val score = terms.zipWithIndex
      .map { case (t, i) =>
        contrib(col(s"tf_$i"), lit(dfMap.getOrElse(t, 0L)), $"dl",
          lit(nDocs), lit(total), idfMode)
      }
      .reduceLeft(_ + _)
    val nHits = terms.indices
      .map(i => when(col(s"tf_$i") > 0, 1L).otherwise(0L))
      .reduceLeft(_ + _)
    val out = withDl
      .select($"id", nHits.as("n_hit_terms"),
        floor(score * lit(10000.0)).cast("long").as("score_e4"))
      .filter($"score_e4" > 0)
      .orderBy($"score_e4".desc, $"id")
    if (topK > 0) out.limit(topK) else out
  }

  /** BATCH serving from a stored index: many probe queries answered in
    * ONE plan — the ann_ivf_batch shape for the lexical leg. The
    * postings read is pruned once to the UNION of all queries' term
    * buckets, per-term df resolves from that one read, and scoring is
    * a slim (term) broadcast join + (id) doclen join + one
    * (qid, id) aggregate — a serving batch of q queries pays one
    * partition-pruned scan instead of q of them.
    *
    * Bit-identical to [[bm25FromIndex]] per query (pinned in
    * RankSpec): the per-doc score folds the per-term contributions in
    * ascending term-index order via an explicit array_sort + aggregate
    * lambda — the same left-to-right IEEE addition order as the
    * single-query tiers (absent terms contribute exactly 0.0, which is
    * additive-identity for the non-negative contributions, so skipping
    * them preserves the fold) — never a float SUM whose order the
    * engine owns.
    *
    * Output: (qid, id, n_hit_terms, score_e4), positive scores only,
    * ordered (qid, score_e4 desc, id); `topK` > 0 caps per QUERY (a
    * qid-partitioned rank over candidate rows, never a global sort). */
  def bm25FromIndexBatch(spark: org.apache.spark.sql.SparkSession,
                         dir: String, queries: Seq[(Long, Seq[String])],
                         idfMode: String = "ln", topK: Int = 0)
      : DataFrame = {
    require(queries.nonEmpty, "bm25FromIndexBatch: need >= 1 query")
    require(queries.map(_._1).distinct.size == queries.size,
      "bm25FromIndexBatch: qids must be distinct")
    queries.foreach { case (q, ts) =>
      require(ts.nonEmpty && ts.distinct == ts,
        s"bm25FromIndexBatch: query $q terms must be non-empty and distinct")
    }
    require(Set("ln", "sqrt")(idfMode),
      s"bm25FromIndexBatch: idfMode must be ln|sqrt, got $idfMode")
    import spark.implicits._
    val stats = spark.read.parquet(s"$dir/stats")
    require(stats.columns.contains("n_buckets"),
      s"bm25FromIndexBatch: $dir/stats is not a bm25 index store " +
        s"(no n_buckets build param)")
    val st = stats.head()
    val (nDocs, total) =
      (st.getAs[Long]("n_docs"), st.getAs[Long]("total"))
    val nBuckets = st.getAs[Long]("n_buckets")

    val allTerms = queries.flatMap(_._2).distinct
    val buckets = allTerms.toDF("term")
      .select(pmod(xxhash64($"term"), lit(nBuckets)).as("tb"))
      .collect().map(_.getAs[Long]("tb")).distinct.toSeq
    val hits = graft.core.Caching.persistTracked(
      spark.read.parquet(s"$dir/postings")
        .filter(col("tb").isin(buckets: _*) &&
          col("term").isin(allTerms: _*))
        .select($"term", $"id", $"tf"))
    val dfMap = hits.groupBy($"term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // (qid, term index within its query, term, df) — O(Σ|terms|) rows,
    // broadcast: df rides as data so the contribution expression is
    // ONE column tree shared by every query
    val qt = queries.flatMap { case (qid, ts) =>
      ts.zipWithIndex.map { case (t, i) =>
        (qid, i, t, dfMap.getOrElse(t, 0L))
      }
    }.toDF("qid", "__tidx", "term", "__df")

    val c = contrib($"tf", $"__df", $"dl", lit(nDocs), lit(total), idfMode)
    val perDoc = hits
      .join(broadcast(qt), Seq("term"))
      .join(spark.read.parquet(s"$dir/doclen"), Seq("id"))
      .groupBy($"qid", $"id")
      .agg(count(lit(1)).as("n_hit_terms"),
        aggregate(
          transform(
            array_sort(collect_list(struct($"__tidx".as("i"), c.as("c")))),
            x => x("c")),
          lit(0.0), (acc, x) => acc + x).as("__score"))
    val scored = perDoc
      .select($"qid", $"id", $"n_hit_terms",
        floor($"__score" * lit(10000.0)).cast("long").as("score_e4"))
      .filter($"score_e4" > 0)
    val capped = if (topK <= 0) scored else {
      val w = Window.partitionBy($"qid")
        .orderBy($"score_e4".desc, $"id")
      scored.withColumn("__rn", row_number().over(w))
        .filter($"__rn" <= topK).drop("__rn")
    }
    capped.orderBy($"qid", $"score_e4".desc, $"id")
  }
}
