package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Caching

/** Candidate generation shared by every banded (LSH) tier — the minhash,
  * md5 k-min and simhash near-dup tiers in [[Dedup]], the hyperplane
  * ANN and embedding near-dup tiers in [[Similarity]], and their
  * incremental (batch × stored index) screens. Each tier builds its own
  * signatures and verifies its own candidates; everything between — the
  * bucket cap, the candidate join, the per-id payload join-back — is
  * here, once.
  *
  * Input is an already-BANDED frame: one row per (document, band) with
  * an `id` column, the bucket-key columns `keys` (e.g. band + key), and
  * optionally carried per-id columns (a simhash fingerprint). Never all
  * pairs: two ids become a candidate only by sharing a bucket.
  *
  * Materialization rule (the only persist decisions of the banded
  * tiers):
  *  - The CAPPED banded frame of a self-join (#docs × bands slim rows)
  *    is materialized once ([[Caching.persistEager]]) and both join
  *    sides scan it. Under AQE a reused exchange does not fire through
  *    an InMemoryTableScan, and the two sides' map stages are submitted
  *    concurrently, so a lazy cache would be missed — and the cap
  *    recomputed — by each side.
  *  - Any other frame read more than once — a signature frame that is
  *    both banded and joined back, a payload joined back on both pair
  *    sides, a probed signature frame — is persisted lazily by
  *    [[shared]], unless the caller already persisted it.
  *  - Block joins over exploded #docs × #shingles (or × fingerprints)
  *    frames use [[cap]] only and recompute the capped frame per side:
  *    materializing a frame that wide costs more than re-reading it.
  */
object BandedJoin {

  /** The bucket census column of [[cap]]: the row count of each row's
    * bucket. */
  private[operators] val CensusCol = "__bn"

  /** Persist-and-track `df` lazily unless it is already persisted (the
    * sign-once compositions hand the SAME signature frame to several
    * tiers — re-persisting would just warn and double-track). */
  def shared(df: DataFrame): DataFrame =
    if (df.storageLevel == StorageLevel.NONE) Caching.persistTracked(df)
    else df

  /** Drop every bucket (distinct value of `keys`) holding more than
    * `maxBucket` rows. A bucket that big is a duplicate CLUSTER, not a
    * near-neighbour set: the self-join on it would be quadratic, and its
    * members are better collapsed by the exact/canonical tiers. The
    * census is a count over `Window.partitionBy(keys)` — ONE exchange
    * on the keys the candidate join shuffles on, so the input is read
    * once (no census/semi-join pair racing over an unmaterialized
    * signature frame). */
  def cap(banded: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    banded
      .withColumn(CensusCol,
        count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col(CensusCol) <= maxBucket)
      .drop(CensusCol)

  /** What [[cap]] drops on the same frame — the cap's observability
    * face: a skipped viral bucket is a RECALL trade (docs inside it can
    * only be caught by other tiers), so it must be countable, not
    * silent. One map-side-combining aggregate over the bucket keys,
    * collapsed to ONE row: (n_buckets, n_dropped_buckets, dropped_rows,
    * max_bucket). */
  def capStats(banded: DataFrame, keys: Seq[String],
               maxBucket: Int): DataFrame =
    banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as(CensusCol))
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(col(CensusCol) > maxBucket, 1L).otherwise(0L))
          .as("n_dropped_buckets"),
        coalesce(sum(when(col(CensusCol) > maxBucket, col(CensusCol))),
          lit(0L)).as("dropped_rows"),
        coalesce(max(col(CensusCol)), lit(0L)).as("max_bucket"))

  /** Distinct candidate pairs inside the capped buckets of `banded`:
    * (id_a, id_b, then c_a, c_b for every carried column c). `ordered`
    * emits each pair once with id_a < id_b; otherwise both orders (the
    * k-NN shape, where every id is a query). A pair colliding in several
    * bands is emitted once. */
  def selfPairs(banded: DataFrame, keys: Seq[String], maxBucket: Int,
                ordered: Boolean): DataFrame =
    pairJoin(Caching.persistEager(cap(banded, keys, maxBucket)), keys,
      ordered).distinct()

  /** (id_a, id_b[, c_a, c_b], `countCol`): how many buckets each pair
    * with id_a < id_b shares — the block join of an exploded
    * #docs × #shingles frame, capped at `maxBucket` (0 = uncapped) and
    * recomputed per side, never materialized. */
  def sharedKeyCounts(blocks: DataFrame, keys: Seq[String], maxBucket: Int,
                      countCol: String): DataFrame = {
    val pairs = pairJoin(
      if (maxBucket > 0) cap(blocks, keys, maxBucket) else blocks, keys,
      ordered = true)
    pairs.groupBy(pairs.columns.map(col): _*).agg(count(lit(1)).as(countCol))
  }

  /** The bucket self-join: every (a, b) in one bucket with a.id < b.id
    * (`ordered`) or a.id ≠ b.id, as id_a, id_b and c_a, c_b per carried
    * column; one row per shared bucket. */
  private def pairJoin(banded: DataFrame, keys: Seq[String],
                       ordered: Boolean): DataFrame = {
    val cols = "id" +: banded.columns.filterNot(c => c == "id" || keys.contains(c))
    val idCmp =
      if (ordered) col("a.id") < col("b.id") else col("a.id") =!= col("b.id")
    banded.as("a")
      .join(banded.as("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) && idCmp)
      .select(cols.flatMap(c =>
        Seq(col(s"a.$c").as(s"${c}_a"), col(s"b.$c").as(s"${c}_b"))): _*)
  }

  /** Distinct (batch_id, corpus_id) candidates between a batch's banded
    * frame and a stored index's — the incremental screens. The index
    * side is capped at `maxBucket`; the batch side at `maxBatchBucket`,
    * where 0 leaves it uncapped (the ingest shape: a small batch; a
    * composition streaming a LARGE frame through the batch side caps it
    * too, or a hot batch bucket joins wholesale against its index
    * collision). */
  def crossPairs(batch: DataFrame, index: DataFrame, keys: Seq[String],
                 maxBatchBucket: Int, maxBucket: Int): DataFrame = {
    val b = if (maxBatchBucket > 0) cap(batch, keys, maxBatchBucket)
      else batch
    b.select(col("id").as("batch_id") +: keys.map(col): _*)
      .join(cap(index, keys, maxBucket)
        .select(col("id").as("corpus_id") +: keys.map(col): _*), keys)
      .select(col("batch_id"), col("corpus_id"))
      .distinct()
  }

  /** Distinct ids sharing at least one bucket with `queryId` — the
    * single-query probe (uncapped: one query's buckets are tiny). The
    * query's bucket keys are a broadcast side of at most #bands rows. */
  def probe(banded: DataFrame, keys: Seq[String],
            queryId: Long): DataFrame = {
    val b = shared(banded)
    val q = b.filter(col("id") === queryId)
      .select(keys.map(k => col(k).as(s"q_$k")): _*)
    b.filter(col("id") =!= queryId)
      .join(broadcast(q), keys.map(k => col(k) === col(s"q_$k")).reduce(_ && _))
      .select(col("id")).distinct()
  }

  /** Attach the per-id `payload` columns `cols` to candidate pairs, once
    * per side: each (pair id column, suffix) joins payload `id` to that
    * column and names the payload columns c + suffix. Only surviving
    * candidates meet the payload — the wide columns (shingle sets,
    * vectors) never ride the bucket-join shuffle. */
  def joinBack(pairs: DataFrame, payload: DataFrame, cols: Seq[String],
               sides: (String, String)*): DataFrame = {
    val p = if (sides.size > 1) shared(payload) else payload
    sides.foldLeft(pairs) { case (acc, (idCol, suffix)) =>
      acc.join(p.select(col("id").as(idCol) +:
        cols.map(c => col(c).as(c + suffix)): _*), idCol)
    }
  }
}
