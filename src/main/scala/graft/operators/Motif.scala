package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series motif search over an event stream: find the top-k
  * sliding windows whose per-bucket activity shape best matches a
  * query pattern by Pearson correlation (the interactive "when did the
  * traffic look like THIS spike/ramp?" similarity search — e.g. Time
  * Series Similarity Search for Streaming Data in Distributed Systems,
  * EDBT 2019; public method, no reference-repo counterpart).
  *
  * Exactness: the raw event stream collapses to one integer count per
  * time bucket (ONE corpus-scale aggregate — the only big shuffle);
  * per-window Σx, Σx² and Σx·p are exact integer window sums, and the
  * correlation is ONE double division + sqrt per window over integers
  * that each fit exactly in a double (the q103 centroid-cosine trick),
  * then FLOORED to ten-thousandths — floor of identical doubles is
  * identical on every engine, where round()'s decimal-tie handling is
  * not (the q27 guard; at corpus scale hundreds of windows land on
  * rounding ties) — with a time tiebreak. The whole search is
  * oracle-replayable at both verification scales.
  *
  * Scale shape: everything after the bucket aggregate runs on the
  * BUCKETED series — one row per `bucketSec` of wall-clock time
  * (~2.6 M rows for a month at 1-second buckets) — and the sliding
  * windows scan it in PARALLEL CHUNKS: `Window.partitionBy(chunk)`
  * with a (w−1)-bucket overlap shipped to each chunk's predecessor
  * (chunks are fixed-width bucket ranges, so no sampled range shuffle
  * or offset pass is needed), so a multi-year series never funnels
  * through one task. The gap spine join keeps
  * windows spanning quiet periods honest (missing buckets count 0,
  * not skipped). */
object Motif {

  /** Magnitude contract making the double step exact: every per-window
    * integer sum must fit in 2^53. |v|,|p| ≤ 10^6 and w ≤ 64 keep
    * w·Σ|x||p| ≤ 4·10^15 < 2^53. */
  private val MaxAbs = 1000000L
  private val MaxW = 64

  /** Buckets per window-scan chunk: the sliding windows run under a
    * `Window.partitionBy(chunk)` — chunks process independently (no
    * single-partition global sort), each chunk reading the next
    * chunk's first w−1 buckets as overlap so every window is computed
    * exactly once by its owner chunk. 2^16 1-second buckets ≈ 18 h of
    * wall-clock per task; a multi-year series fans out to hundreds of
    * parallel chunks instead of one task. */
  private val DefaultChunkBuckets = 1 << 16

  /** Top-k pattern-correlated windows. Output: (window_start
    * timestamp, score_e4 — floor(Pearson r · 10^4) as an integer in
    * [−10000, 10000], n_events — the window's total activity), ranked
    * score desc with start-time tiebreak. Flat windows (zero variance)
    * cannot correlate and are excluded. `chunkBuckets` sizes the
    * parallel window-scan chunks (testing knob; the default is the
    * scale story above). */
  /** The topKWindows pattern contract, shared with the stored-pattern
    * round trip so a bad store fails at write/read, not mid-stream. */
  private def validatePattern(pattern: Seq[Long]): Unit = {
    require(pattern.length >= 2 && pattern.length <= MaxW,
      s"pattern length must be in [2, $MaxW], got ${pattern.length}")
    require(pattern.forall(p => math.abs(p) <= MaxAbs),
      s"pattern values must be within ±$MaxAbs (the exact-double " +
        "contract)")
    val w = pattern.length
    val sp = pattern.sum
    val qp = pattern.map(p => p * p).sum
    require(w * qp - sp * sp > 0,
      "pattern is constant — correlation against it is undefined")
  }

  /** Persist a query pattern as the stored artifact `motifIngest`
    * probes per micro-batch (the vocab/weights store lifecycle):
    * (idx, value) rows, validated with the topKWindows contract. */
  def writePattern(spark: org.apache.spark.sql.SparkSession,
                   pattern: Seq[Long], dir: String): Unit = {
    validatePattern(pattern)
    import spark.implicits._
    pattern.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("idx", "value")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Load a stored pattern back in idx order, re-validating the
    * contract (gaps, duplicates, constants and magnitude violations
    * all fail loudly). */
  def readPattern(spark: org.apache.spark.sql.SparkSession,
                  dir: String): Seq[Long] = {
    val rows = spark.read.parquet(dir)
      .select(col("idx").cast("int"), col("value").cast("long"))
      .collect().sortBy(_.getInt(0))
    require(rows.nonEmpty, s"no pattern found at $dir")
    require(rows.map(_.getInt(0)).toSeq == (0 until rows.length),
      s"pattern at $dir has gaps/duplicates in idx order")
    val p = rows.map(_.getLong(1)).toSeq
    validatePattern(p)
    p
  }

  def topKWindows(events: DataFrame, timeCol: String, bucketSec: Int,
                  pattern: Seq[Long], k: Int = 10,
                  chunkBuckets: Int = DefaultChunkBuckets): DataFrame = {
    require(bucketSec > 0, s"bucketSec must be positive, got $bucketSec")
    validatePattern(pattern)
    val w = pattern.length
    val sp = pattern.sum
    val qp = pattern.map(p => p * p).sum
    val varpN = w * qp - sp * sp
    val spark = events.sparkSession

    // persisted: the bucket-count aggregate (one row per bucket, two
    // longs) is read by the bounds action below AND by the main plan's
    // spine join — un-persisted, the full events scan + aggregate ran
    // twice. The bounds head() populates the cache, so the main job's
    // two branches (own + overlap) read it warm.
    val counts = graft.core.Caching.persistTracked(events
      .select(expr(s"unix_timestamp(`$timeCol`) DIV $bucketSec")
        .as("bs"))
      .groupBy(col("bs")).agg(count(lit(1)).as("v")))
    // bounds in one action: the spine range AND the magnitude gate
    val mm = counts.agg(min(col("bs")), max(col("bs")),
      max(col("v"))).head()
    require(!mm.isNullAt(0), "no events — nothing to search")
    require(mm.getLong(2) <= MaxAbs,
      s"a bucket holds ${mm.getLong(2)} events, past the ±$MaxAbs " +
        "exact-double contract — widen bucketSec")
    val (bsMin, bsMax) = (mm.getLong(0), mm.getLong(1))
    val series = spark.range(bsMin, bsMax + 1)
      .select(col("id").as("bs"))
      .join(counts, Seq("bs"), "left")
      .na.fill(0L, Seq("v"))

    // chunked window scan: each bucket belongs to chunk
    // (bs − bsMin) DIV L; the first w−1 buckets of a chunk are ALSO
    // shipped to the previous chunk as overlap, so a window starting
    // anywhere in a chunk's own range finds all w buckets inside its
    // partition — Window.partitionBy(chunk) then runs chunks in
    // parallel (no single-partition global sort), and the owner
    // filter keeps each window computed exactly once
    require(chunkBuckets >= 1, s"chunkBuckets must be >= 1")
    // a chunk shorter than the window would need multi-chunk overlap
    val L = math.max(chunkBuckets.toLong, w.toLong)
    val chunkOf = expr(s"(bs - ${bsMin}L) DIV ${L}L")
    val own = series.withColumn("__c", chunkOf)
    val ovl = series
      .filter(expr(s"(bs - ${bsMin}L) % ${L}L") < lit(w - 1) &&
        col("bs") - lit(bsMin) >= lit(L))
      .withColumn("__c", chunkOf - lit(1L))
    val ord = Window.partitionBy(col("__c")).orderBy(col("bs"))
    val leads = (0 until w).map(i =>
      (if (i == 0) col("v") else lead(col("v"), i).over(ord))
        .as(s"__x$i"))
    val windowed = own.unionByName(ovl)
      .select(col("bs") +: col("__c") +: leads: _*)
      .filter(col(s"__x${w - 1}").isNotNull)
      // owner filter: starts in the overlap tail belong to the NEXT
      // chunk (which holds them as own rows)
      .filter(chunkOf === col("__c"))
      .drop("__c")
    val xs = (0 until w).map(i => col(s"__x$i"))
    val s1 = xs.reduce(_ + _)
    val q1 = xs.map(x => x * x).reduce(_ + _)
    val cross = xs.zip(pattern).map { case (x, p) => x * lit(p) }
      .reduce(_ + _)
    windowed
      .withColumn("__s", s1)
      .withColumn("__covN", lit(w) * cross - col("__s") * lit(sp))
      .withColumn("__varxN", lit(w) * q1 - col("__s") * col("__s"))
      .filter(col("__varxN") > 0)
      .select(
        (col("bs") * bucketSec).cast("timestamp").as("window_start"),
        floor(col("__covN").cast("double") /
          sqrt(col("__varxN").cast("double") * lit(varpN.toDouble))
          * 10000.0).as("score_e4"),
        col("__s").as("n_events"))
      .orderBy(col("score_e4").desc, col("window_start"))
      .limit(k)
  }
}
