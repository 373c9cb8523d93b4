package graft.core

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Exclusive running sums of long weights over a global total order in
  * ONE range shuffle and ONE narrow probe job. The shuffled, sorted rows
  * are persisted ([[Caching.persistTracked]]); one [[Probe]] fills the
  * cache and returns (rows, weight totals) per non-empty partition, whose
  * exclusive prefix sums in partition-id order (range partitioning puts
  * lower keys in lower ids) are the frozen partition offsets. The output
  * is one narrow `mapPartitions` over the cache adding its partition's
  * offset to a running sum: no aggregate, window or broadcast join.
  *
  * Invariant: offsets hold only for the partitions the probe saw. The
  * cache's lineage is that one shuffle, so a released or evicted cache
  * recomputes the same partitions; an output partition whose totals
  * differ from the probe's (a lost shuffle re-run under a
  * nondeterministic order) FAILS its task instead of emitting wrong
  * offsets. The order must be total.
  */
object RangeOffsets {

  /** `df`'s columns plus one non-null long column per `(name, weight)`:
    * the sum of `weight` (null as 0) over every row before this one in
    * `order`. `numPartitions` 0 = session shuffle parallelism. */
  def apply(df: DataFrame, order: Seq[Column], weights: Seq[(String, Column)],
            numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val (nCols, nW) = (df.columns.length, weights.length)
    val wCols = weights.indices.map(i => s"__w$i")
    val ranged = df
      .select(col("*") +: weights.zip(wCols).map { case ((_, w), n) =>
        coalesce(w.cast("long"), lit(0L)).as(n) }: _*)
      .repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
    // cached over the shuffled RDD itself: re-planning the range exchange
    // would re-sample its bounds (the sampler is seeded per RDD)
    val sorted = Caching.persistTracked(
      spark.createDataFrame(ranged.rdd, ranged.schema)
        .withColumn("__pid", spark_partition_id()))
    // totals = (rows, weight sums…)
    def add(totals: Array[Long], r: Row, base: Int): Unit = {
      totals(0) += 1
      for (i <- 0 until nW) totals(i + 1) += r.getLong(base + i)
    }
    val probe = Probe(sorted, wCols.map(col))
    val offs = probe.scanLeft(Seq.fill(nW)(0L)) { case (off, (_, t)) =>
      off.zip(t.tail).map { case (a, b) => a + b } }
    val frozen = probe.zip(offs).map { case ((p, t), o) => p -> (t, o) }.toMap
    val schema = StructType(df.schema.fields ++
      weights.map(w => StructField(w._1, LongType, nullable = false)))
    sorted.mapPartitions { it =>
      val seen = new Array[Long](nW + 1)
      var pid = -1
      lazy val off = frozen.get(pid).fold(Seq.fill(nW)(0L))(_._2)
      it.map { r =>
        if (pid < 0) pid = r.getInt(nCols + nW)
        val row = Row.fromSeq((0 until nCols).map(r.get) ++
          off.indices.map(i => off(i) + seen(i + 1)))
        add(seen, r, nCols)
        row
      } ++ {
        val probed = frozen.get(pid).fold(Seq.empty[Long])(_._1)
        if (pid >= 0 && probed != seen.toSeq)
          throw new IllegalStateException(s"RangeOffsets totals mismatch: " +
            s"partition $pid recomputed (rows, weights) ${seen.toList} " +
            s"but the probe saw ${probed.toList}")
        Iterator.empty
      }
    }(Encoders.row(schema))
  }
}
