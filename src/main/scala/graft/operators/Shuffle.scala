package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic corpus shuffling — the epoch-order pass a training-data
  * pipeline runs last: every row gets a global position in a
  * pseudo-random but fully reproducible order (md5 of "seed:id"), so a
  * training job can stream the corpus in shuffled order, resume
  * mid-epoch, and re-derive the exact same order on any engine. The
  * reference system has no corpus tier; the operator follows the
  * standard shuffled-shard practice of public LLM data pipelines.
  *
  * Scale shape: the order key is a per-row projection and positions
  * are [[graft.core.RangeOffsets]] row counts — ONE range shuffle and
  * ONE narrow probe job at build, then a narrow running count over the
  * cached ranges that fails loudly if a recompute re-ranged them (no
  * window, aggregate or broadcast join). Total order = (shuffle_key,
  * id), so positions do not depend on where the range sampler places
  * partition boundaries.
  */
object Shuffle {

  /** (original columns…, shuffle_key, pos): pos ∈ 1..n in the seeded
    * shuffled order. `numPartitions` 0 = session shuffle parallelism.
    *
    * `prefixSort` prepends columns to the total order — the
    * token-balanced export rides this with (-n_tokens): dealing
    * round-robin over a LONGEST-FIRST order is the parallel form of
    * sorted-list bin packing, and because the per-round maxima
    * telescope, shard token totals end within one max-length document
    * of each other (spec-pinned). The default (no prefix) is the pure
    * seeded shuffle, byte-identical to the pre-prefix plan. */
  def deterministicShuffle(df: DataFrame, idCol: String, seed: String,
                           numPartitions: Int = 0,
                           prefixSort: Seq[org.apache.spark.sql.Column] =
                             Nil): DataFrame = {
    val keyed = df.withColumn("shuffle_key",
      md5(concat(lit(seed), lit(":"), col(idCol).cast("string"))))
    graft.core.RangeOffsets(keyed,
        prefixSort ++ Seq(col("shuffle_key"), col(idCol)),
        Seq("pos" -> lit(1L)), numPartitions)
      .withColumn("pos", col("pos") + 1)
  }
}
