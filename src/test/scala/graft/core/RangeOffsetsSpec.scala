package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{Pack, Shuffle}

/** RangeOffsets freezes partition offsets from one probe of the ranged
  * frame. A recompute of that frame must reproduce them exactly; a
  * recompute that re-ranges the rows must fail the output action
  * instead of emitting wrong offsets. */
class RangeOffsetsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 5,000 rows per input partition: far above the range sampler's
  // per-partition sample, so a re-planned range exchange would re-sample
  // different bounds (sf0.001 alone is small enough to be fully sampled)
  private def wide = spark.range(0, 20000, 1, 4).select(
    col("id").as("doc_id"),
    expr("repeat('w ', CAST(id % 7 AS INT))").as("text"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  private def shuffleIds(rdd: org.apache.spark.rdd.RDD[_]): Seq[Int] =
    rdd.dependencies.flatMap {
      case s: org.apache.spark.ShuffleDependency[_, _, _] => Seq(s.shuffleId)
      case d => shuffleIds(d.rdd)
    }

  test("offsets are exact running sums, with empty partitions and nulls") {
    val df = Seq((5L, Some(2L)), (1L, Some(7L)), (3L, None), (9L, Some(1L)))
      .toDF("k", "w")
    val got = RangeOffsets(df, Seq(col("k")),
        Seq("off" -> col("w"), "rank" -> lit(1L)), numPartitions = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got === Seq((1L, 0L, 0L), (3L, 7L, 1L), (5L, 7L, 2L),
      (9L, 9L, 3L)))
  }

  test("Pack.plan and deterministicShuffle: a released cache recomputes " +
    "identical offsets") {
    val docs = Seq(Tables.documents(spark, TestSpark.sf), wide)
    def pack(d: DataFrame) = Pack.plan(d, "doc_id", "text")
    def shuf(d: DataFrame) =
      Shuffle.deterministicShuffle(d.select("doc_id"), "doc_id", "epoch-0")
    val ref = docs.flatMap(d => Seq(rows(pack(d)), rows(shuf(d))))
    Caching.releaseAll(blocking = true)
    val built = docs.flatMap(d => Seq(pack(d), shuf(d)))
    assert(Caching.releaseAll(blocking = true) === built.length)
    built.zip(ref).foreach { case (df, r) => assert(rows(df) === r) }
  }

  test("a recompute that re-ranges the partitions fails the output " +
    "action with the totals mismatch") {
    // an UNSEEDED key: Spark's rand() is seeded per partition, so a
    // recomputed map stage would redraw the very same keys
    val unseeded = udf(() =>
      java.util.concurrent.ThreadLocalRandom.current().nextLong())
      .asNondeterministic()
    val out = RangeOffsets(spark.range(0, 20000, 1, 4).toDF("id"),
      Seq(unseeded()), Seq("off" -> col("id")), numPartitions = 2)
    Caching.releaseAll(blocking = true)
    // lose the range shuffle's map output, as a lost disk or executor
    // would: the recompute reruns the map stage, which redraws the keys
    // and moves rows across the probe's partition bounds
    val frozen = out.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.get
    val ids = shuffleIds(frozen)
    val lost = org.apache.spark.SparkEnv.get.blockManager.diskBlockManager
      .getAllFiles()
      .filter(f => ids.exists(i => f.getName.startsWith(s"shuffle_${i}_")))
    assert(ids.nonEmpty && lost.nonEmpty)
    lost.foreach(_.delete())
    var got: Option[Int] = None
    val e = intercept[org.apache.spark.SparkException] {
      got = Some(out.collect().length)
    }
    assert(got.isEmpty)
    assert(e.getMessage.contains("RangeOffsets totals mismatch"),
      e.getMessage)
  }
}
