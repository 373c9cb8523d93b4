package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class PackSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fixture = Seq(
    (1L, ("a " * 7).trim),          // 7 tokens
    (2L, ("b " * 3).trim),          // 3
    (3L, ""),                     // 0 — excluded
    (4L, ("d " * 10).trim),         // 10
    (5L, "e"),                    // 1
    (6L, "   "),                  // 0 — excluded
    (7L, ("g " * 5).trim)           // 5
  ).toDF("doc_id", "text")

  test("spans partition every document exactly and tile every sequence " +
    "to L (the last may be partial)") {
    val L = 8L
    val spans = Pack.pack(fixture, "doc_id", "text", L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val n = Map(1L -> 7L, 2L -> 3L, 4L -> 10L, 5L -> 1L, 7L -> 5L)
    assert(spans.map(_._1).toSet === n.keySet, "zero-token docs excluded")
    // per document: spans cover [0, n) contiguously
    n.foreach { case (id, len) =>
      val mine = spans.filter(_._1 == id).sortBy(_._3)
      assert(mine.map(_._5).sum === len, s"doc $id spans must sum to $len")
      assert(mine.head._3 === 0L, s"doc $id must start at doc_off 0")
      mine.sliding(2).foreach {
        case Array(a, b) => assert(a._3 + a._5 === b._3,
          s"doc $id spans must be contiguous")
        case _ =>
      }
    }
    // per sequence: spans tile [0, L) exactly; only the max seq may
    // fall short
    val total = n.values.sum // 26 -> seqs 0..3, last holds 2
    val maxSeq = (total - 1) / L
    spans.groupBy(_._2).foreach { case (seq, ss) =>
      val sorted = ss.sortBy(_._4)
      assert(sorted.head._4 === 0L, s"seq $seq must start at seq_off 0")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 + a._5 === b._4,
          s"seq $seq spans must be contiguous")
        case _ =>
      }
      val filled = sorted.map(_._5).sum
      if (seq < maxSeq) assert(filled === L, s"seq $seq must hold $L")
      else assert(filled === total - maxSeq * L)
    }
  }

  test("packing is a pure function of (salt, id): any partitioning " +
    "and engine reproduces it") {
    def run(df: org.apache.spark.sql.DataFrame) =
      Pack.pack(df, "doc_id", "text", 8L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
    val base = run(fixture)
    assert(run(fixture.repartition(7)) === base)
    assert(run(fixture.coalesce(1)) === base)
    // a different salt is a different (valid) packing
    val other = Pack.pack(fixture, "doc_id", "text", 8L, salt = "v2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(other.nonEmpty)
  }

  test("report: sequence count and last-fill arithmetic") {
    val r = Pack.report(Pack.plan(fixture, "doc_id", "text"), 8L).head()
    // 26 tokens at L=8 -> 4 seqs, last holds 2 -> 2500 bp
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((4L, 26L, 2500L)))
    val exact = Pack.report(Pack.plan(fixture, "doc_id", "text"), 13L)
      .head()
    // 26 tokens at L=13 -> 2 full seqs -> 10000 bp
    assert((exact.getLong(0), exact.getLong(2)) === ((2L, 10000L)))
    intercept[IllegalArgumentException] {
      Pack.segments(Pack.plan(fixture, "doc_id", "text"), 0L)
    }
  }

  test("plan and deterministicShuffle: no Window, broadcast or shuffle " +
    "exchange") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ShuffleExchangeExec}
    import org.apache.spark.sql.execution.window.WindowExec
    object Plans extends AdaptiveSparkPlanHelper
    Seq(Pack.plan(fixture, "doc_id", "text"),
        Shuffle.deterministicShuffle(fixture, "doc_id", "s1")).foreach { df =>
      df.collect()
      // the executed plan, AQE stages included
      val plan = df.queryExecution.executedPlan
      val wide = Plans.collect(plan) {
        case p @ (_: WindowExec | _: BroadcastExchangeExec |
                  _: ShuffleExchangeExec) => p
      }
      assert(wide.isEmpty, s"wide operators in the offsets plan:\n$plan")
    }
  }

  test("plan: a noop write of a built plan runs exactly one Spark job") {
    val p = Pack.plan(fixture, "doc_id", "text")
    val (_, jobs) =
      TestSpark.jobsOf(p.write.format("noop").mode("overwrite").save())
    assert(jobs === 1)
  }
}
