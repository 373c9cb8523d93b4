package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class VocabSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "a a a b b c"),   // 6 tokens: a×3 b×2 c×1
    (2L, "a b x y"),       // 4 tokens, x/y rare
    (3L, ""),              // blank → zero tokens
    (4L, "c c c c")        // 4 tokens of the mid token
  ).toDF("doc_id", "text")

  test("topVocab ranks by count desc with token-asc ties") {
    // corpus counts: a×4, c×5, b×3, x×1, y×1
    val v = Vocab.topVocab(docs, "text", k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(v.toSeq == Seq(("c", 5L), ("a", 4L), ("b", 3L)))
    // tie between x and y at count 1 → token-asc picks x first
    val v4 = Vocab.topVocab(docs, "text", k = 4).collect().map(_.getString(0))
    assert(v4.last == "x")
  }

  test("oovRate: exact counts, zero-token docs survive with zero stats") {
    val out = Vocab.oovRate(docs, "doc_id", "text", topK = 3)
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // vocab = {a, b, c}; doc2 has x y OOV → 2/4 = 5000 bp
    assert(out.toSeq == Seq(
      (1L, 6L, 0L, 0L),
      (2L, 4L, 2L, 5000L),
      (3L, 0L, 0L, 0L),
      (4L, 4L, 0L, 0L)))
  }

  test("membership pass is a broadcast join — corpus tokens never shuffle by token") {
    val df = Vocab.oovRate(docs, "doc_id", "text", topK = 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast membership join, got:\n$plan")
  }

  test("tokenShift ranks movers by absolute rate delta with token ties") {
    // A: 10 tokens (x:5, y:5) -> x 5000bp, y 5000bp
    // B: 10 tokens (x:2, z:8) -> x 2000bp, z 8000bp
    val a = Seq((1L, "x x x x x y y y y y")).toDF("doc_id", "text")
    val b = Seq((2L, "x x z z z z z z z z")).toDF("doc_id", "text")
    val out = Vocab.tokenShift(a, b, "text", k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // shifts: z -8000, y +5000, x +3000 -> ordered by |shift| desc
    assert(out.toSeq == Seq(
      ("z", 0L, 8L, -8000L),
      ("y", 5L, 0L, 5000L),
      ("x", 5L, 2L, 3000L)))
  }

  test("surprisal: hand-computed bits, rare docs score above common docs") {
    // corpus: 'the' x8, 'cat' x4, 'xylophone' x1, 'quark' x1; T = 14
    // bits(14)=4; sb(the)=4-4=0, sb(cat)=4-3=1, sb(rare)=4-1=3
    val docs = Seq(
      (1L, "the the the the the the the the"),   // 8 tokens, all sb=0
      (2L, "cat cat cat cat"),                    // 4 tokens, sb=1 each
      (3L, "xylophone quark"),                    // 2 rare tokens, sb=3
      (4L, "")                                    // zero tokens
    ).toDF("doc_id", "text")
    val out = Vocab.surprisal(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) === ((8L, 0L)))
    assert(out(2L) === ((4L, 100L)))   // floor(4*1*100/4)
    assert(out(3L) === ((2L, 300L)))   // floor(2*3*100/2)
    assert(out(4L) === ((0L, 0L)))     // zero-token doc survives
  }

  test("surprisal hybrid: tiny broadcast head equals the full answer") {
    // broadcastTopK = 1 forces all but the single hottest token down
    // the tail shuffle-join path; the score must not depend on the
    // head/tail split point
    val docs = graft.core.Tables.documents(spark, graft.TestSpark.sf)
      .limit(200)
    val full = Vocab.surprisal(docs, "doc_id", "text",
        broadcastTopK = 1 << 20)
      .orderBy(col("id")).collect().toSeq
    val split = Vocab.surprisal(docs, "doc_id", "text", broadcastTopK = 1)
      .orderBy(col("id")).collect().toSeq
    assert(full === split && full.nonEmpty)
  }

  test("bigramSurprisal: hand-computed transition bits") {
    // C1: the=3 cat=3 dog=1 runs=1, T=8; C2: (the,cat)=2 (the,dog)=1
    // (dog,runs)=1. bits: 8→4, 3→2, 2→2, 1→1.
    val docs = Seq(
      (1L, "the cat"),        // s1=4-2=2, sb(the,cat)=2-2=0 → 200/2=100
      (2L, "the cat"),
      (3L, "the dog runs"),   // 2 + (2-1) + (1-1) = 3 → 300/3 = 100
      (4L, ""),               // zero tokens → zeros
      (5L, "cat")             // one token: 4-2=2 → 200
    ).toDF("doc_id", "text")
    val got = Vocab.bigramSurprisal(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) === ((2L, 100L)))
    assert(got(2L) === ((2L, 100L)))
    assert(got(3L) === ((3L, 100L)))
    assert(got(4L) === ((0L, 0L)))
    assert(got(5L) === ((1L, 200L)))
  }

  test("bigramSurprisal ranks repeated transitions below novel ones") {
    // same unigram bag, different transition structure: doc 20 re-uses
    // the corpus-common 'a b' transition, doc 21 pairs the same words
    // in orders never seen elsewhere — conditional surprisal must
    // separate them even though unigram surprisal cannot
    val docs = Seq(
      (10L, "a b c d"), (11L, "a b c d"), (12L, "a b c d"),
      (20L, "a b a b"),
      (21L, "b a d c")
    ).toDF("doc_id", "text")
    val got = Vocab.bigramSurprisal(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(21L) > got(20L),
      s"novel transitions must outscore common ones: $got")
  }

  test("coverageCurve: hand-computed boundary arithmetic, ties included") {
    // counts: a=6, b=3, d=3, c=1 → total 13 tokens, 4 types
    val docs = Seq(
      (1L, "a a a a a a"),
      (2L, "b b b d d d c")
    ).toDF("doc_id", "text")
    val got = Vocab.coverageCurve(docs, "text",
        thresholdsBp = Seq(4000, 7700, 10000))
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    // 4000 bp → need ceil(0.4·13)=6 → 'a' alone covers 6
    assert(got(4000) === ((1L, 6L, 13L, 4L)))
    // 7700 bp → need ceil(.77·13)=11 → a(6) + TWO of the cnt-3 tier
    // (ceil(5/3)=2) covers 12
    assert(got(7700) === ((3L, 12L, 13L, 4L)))
    // full coverage needs every type
    assert(got(10000) === ((4L, 13L, 13L, 4L)))
  }

  test("coverageCurve: monotone and sufficient on the fixture corpus") {
    val docs = graft.core.Tables.documents(spark, graft.TestSpark.sf)
    val rows = Vocab.coverageCurve(docs, "text",
        thresholdsBp = Seq(2500, 5000, 9000, 9900, 10000))
      .orderBy(col("threshold_bp")).collect()
    assert(rows.length === 5)
    val sizes = rows.map(_.getLong(1))
    assert(sizes.zip(sizes.tail).forall { case (a, b) => a <= b },
      "vocab_size must be nondecreasing in the threshold")
    rows.foreach { r =>
      val (th, size, cov, tot, ty) =
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(cov * 10000L >= th.toLong * tot, s"threshold $th not reached")
      assert(size >= 1L && size <= ty)
      assert(cov <= tot)
    }
    // 10000 bp must take the whole vocabulary exactly
    assert(rows.last.getLong(1) === rows.last.getLong(4))
    assert(rows.last.getLong(2) === rows.last.getLong(3))
  }

  test("coverageCurve LARGE branch plan: no Window, the cumsum is RangeOffsets") {
    val docs = Seq((1L, "a a b")).toDF("doc_id", "text")
    // smallFrameRows = 0 forces the scale plan regardless of frame size
    val plan = Vocab.coverageCurve(docs, "text", Seq(5000),
        smallFrameRows = 0L)
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, s"the scale cumsum must not window:\n$plan")
    // the range shuffle ran once at build; the plan reads its frozen rows
    assert(!plan.toString.contains("RepartitionByExpression"),
      s"the scale cumsum must not re-plan its range exchange:\n$plan")
  }

  test("coverageCurve small-frame branch: no range exchange, and both " +
    "branches return identical rows") {
    val docs = graft.core.Tables.documents(spark, graft.TestSpark.sf)
    val ths = Seq(2500, 5000, 9000, 10000)
    val small = Vocab.coverageCurve(docs, "text", ths)
    // the default threshold takes the small branch on this corpus: the
    // plan must carry NO repartitionByRange of the count-of-counts
    val planStr = small.queryExecution.optimizedPlan.toString
    assert(!planStr.contains("RepartitionByExpression"),
      s"small branch must not pay the range exchange:\n$planStr")
    val a = small.orderBy(col("threshold_bp")).collect().toSeq
    val b = Vocab.coverageCurve(docs, "text", ths, smallFrameRows = 0L)
      .orderBy(col("threshold_bp")).collect().toSeq
    assert(a === b, "branches must be value-identical")
  }

  test("coverageCurve rejects out-of-range thresholds") {
    val docs = Seq((1L, "a")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Vocab.coverageCurve(docs, "text", Seq(0))
    }
    intercept[IllegalArgumentException] {
      Vocab.coverageCurve(docs, "text", Seq(10001))
    }
    intercept[IllegalArgumentException] {
      Vocab.coverageCurve(docs, "text", Nil)
    }
  }
}
