package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, lit}

/** Row count plus long sums of a frame in ONE narrow `mapPartitions` job.
  *
  * Invariant: the probe itself adds no shuffle. Under AQE every
  * shuffle-map stage is submitted as its own job, so an aggregate
  * (`count()`, `agg(...).head()`) costs a job more than this probe on the
  * same frame; only the shuffles already inside `df`'s plan run ahead of
  * it. On a persisted frame the probe is the job that fills the cache,
  * and the cache holds every column, not just the probed ones. The probe
  * reads the plan's internal rows directly, so it needs no encoder.
  */
object Probe {

  /** `(partition id, rows +: sums)` for each non-empty partition of `df`,
    * in partition-id order. Each sum column is cast to long, null as 0. */
  def apply(df: DataFrame, sums: Seq[Column] = Nil): Seq[(Int, Seq[Long])] = {
    val n = sums.length
    // collect() concatenates partition results in partition order
    df.select(sums.map(c => coalesce(c.cast("long"), lit(0L))): _*)
      .queryExecution.toRdd
      .mapPartitionsWithIndex { (pid, it) =>
        val t = new Array[Long](n + 1)
        it.foreach { r =>
          t(0) += 1
          var i = 0
          while (i < n) { t(i + 1) += r.getLong(i); i += 1 }
        }
        if (t(0) == 0) Iterator.empty else Iterator((pid, t.toSeq))
      }.collect().toSeq
  }

  /** `rows +: sums` over all of `df`, in the same one job as [[apply]]. */
  def totals(df: DataFrame, sums: Seq[Column] = Nil): Seq[Long] =
    apply(df, sums).foldLeft(Seq.fill(sums.length + 1)(0L)) {
      case (acc, (_, t)) => acc.zip(t).map { case (a, b) => a + b }
    }
}
