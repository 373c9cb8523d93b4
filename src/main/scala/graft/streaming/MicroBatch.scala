package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.{Caching, Probe}

/** One non-empty micro-batch as `foreachBatch` delivers it: the batch
  * frame (persisted, cache already filled), its id, its row count and
  * the null-as-0 sums of the columns passed to [[MicroBatch.start]]. */
final case class MicroBatch(df: DataFrame, id: Long, rows: Long,
                            sums: Seq[Long])

object MicroBatch {

  /** Start `source` as an append-mode query checkpointed at
    * `checkpointDir` and run `body` once per non-empty micro-batch.
    *
    * Per batch, inside one [[Caching.scopedRelease]] scope: the batch is
    * persisted with [[Caching.persistTracked]]; one [[Probe]] fills that
    * cache and returns the row count plus `sums`; an empty batch stops
    * there, so it calls no sink and writes no monitor row (ST8); the
    * scope closes by releasing every frame the batch and `body` tracked.
    *
    * Invariant: the probe is one job and adds no shuffle (under AQE every
    * shuffle-map stage is its own job), so a batch costs exactly one job
    * beyond the work `body` submits. */
  def start(source: DataFrame, checkpointDir: String,
            sums: Seq[Column] = Nil)(body: MicroBatch => Unit)
      : StreamingQuery =
    source.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Caching.scopedRelease {
          val b = Caching.persistTracked(batch)
          val t = Probe.totals(b, sums)
          if (t.head > 0) body(MicroBatch(b, batchId, t.head, t.tail))
        }
      }
      .start()
}
