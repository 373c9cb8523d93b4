package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Metrics

/** Skew stress for the dedup tiers: the plans DEFEND against viral
  * keys (bucket caps, map-side-combining aggregates, banded joins) —
  * these cases actually HIT the defenses with pathological corpora
  * (one viral paragraph in 10% of docs; one boilerplate shingle block
  * at df ≈ n) and pin that (a) every tier completes with bounded
  * per-task work, and (b) the caps fire OBSERVABLY (dropped-bucket
  * counts > 0 through the report faces), never silently.
  *
  * Task-row measurements run with AQE partition coalescing and auto
  * broadcast OFF so the fixture exercises the shuffle shape the plan
  * has at corpus scale (where neither side broadcasts and coalescing
  * does not fold the whole corpus into one task). */
class DedupHardeningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Run `body` with temporary SQL confs, restoring previous values. */
  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Per-task shuffle-read record counts of the tasks `body` started
    * (tasks with zero shuffle reads are skipped). */
  private def withShuffleRecords[A](body: => A): (A, Seq[Long]) = {
    val (a, rep) = Metrics.of(spark)(body)
    (a, rep.completed.flatMap(_.recordsRead).filter(_ > 0))
  }

  test("viral paragraph (10% of docs share one footer): paragraphDedup " +
    "is correct, and no task absorbs more than the viral key + a fair " +
    "share — the map-side-combining aggregate plan") {
    val nDocs = 2000
    val nViral = nDocs / 10
    val docs = (0 until nDocs).map { i =>
      val body = s"unique body paragraph number $i with its own words"
      val text = if (i % 10 == 0) s"$body\n\nVIRAL FOOTER SHARED BY MANY"
                 else body
      (i.toLong, text)
    }.toDF("doc_id", "text")

    val (rows, recs) = withConf(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      withShuffleRecords {
        Dedup.paragraphDedup(docs, "doc_id", "text").collect()
      }
    }
    // correctness under virality: footer survives only in doc 0
    val byId = rows.map(r => r.getLong(0) ->
      ((r.getString(1), r.getLong(3)))).toMap
    assert(byId(0L)._1.contains("VIRAL FOOTER") && byId(0L)._2 === 0L)
    assert(!byId(10L)._1.contains("VIRAL FOOTER") && byId(10L)._2 === 1L)
    assert(rows.map(_.getLong(3)).sum === (nViral - 1).toLong)

    // skew bound: the hottest task may exceed the MEDIAN task by at
    // most the viral key's own row count (plus hash-placement slack of
    // one fair share) — i.e. a viral paragraph costs its occurrences
    // ONCE, it never concentrates the corpus or multiplies through the
    // join (the window form's failure mode is buffering the whole
    // viral group with no such bound).
    val totalParas = (nDocs + nViral).toLong
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val fair = totalParas / parts
    val maxRecs = recs.max
    val med = recs.sorted.apply(recs.size / 2)
    assert(maxRecs - med <= nViral.toLong + fair,
      s"hottest task read $maxRecs rows (median=$med, viral=$nViral, " +
        s"fair=$fair) — viral skew must be bounded by the key's own rows")
    assert(maxRecs < 2L * totalParas,
      s"no task may absorb the corpus: $maxRecs")
    info(s"paragraphDedup viral-skew: max task rows = $maxRecs, " +
      s"median = $med, delta = ${maxRecs - med} (viral key = $nViral)")
  }

  test("viral shingle block at df ≈ n: the minhash cap fires " +
    "OBSERVABLY (report > 0 dropped buckets) and the capped join does " +
    "quadratic work only when the cap is raised") {
    val block = (1 to 30).map(i => s"boiler$i").mkString(" ")
    val n = 200
    val docs = (0 until n).map(i => (i.toLong, s"$block tail$i end$i"))
      .toDF("doc_id", "text")

    // capped: every band bucket holds all n docs -> dropped, zero pairs
    val capped = Dedup.minhashNearDup(docs, "doc_id", "text",
      maxBucket = 50)
    assert(capped.count() === 0L,
      "capped viral buckets must not produce the quadratic cluster")
    // ...and the drop is SURFACED, not silent
    val rep = Dedup.minhashCapReport(docs, "doc_id", "text",
      maxBucket = 50).head()
    assert(rep.getAs[Long]("n_dropped_buckets") > 0L, rep.toString)
    // the hottest band bucket collects most of the corpus (not all —
    // bands whose min-hashes fall in a doc's unique tail split off)
    assert(rep.getAs[Long]("max_bucket") >= n.toLong / 2L, rep.toString)
    assert(rep.getAs[Long]("dropped_rows") > 0L, rep.toString)

    // raised cap: the same corpus IS one giant near-dup cluster —
    // (nearly) the full quadratic pair set comes back (the recall the
    // cap deliberately trades away, now paid with ~n² verify work;
    // pairs both of whose band mins fall in unique tails stay missed)
    val raised = Dedup.minhashNearDup(docs, "doc_id", "text",
      maxBucket = n)
    val nPairs = raised.count()
    assert(nPairs >= (n.toLong * (n - 1)) / 2L * 3L / 4L,
      s"raised cap must recover the bulk of the cluster: $nPairs")
    val repOk = Dedup.minhashCapReport(docs, "doc_id", "text",
      maxBucket = n).head()
    assert(repOk.getAs[Long]("n_dropped_buckets") === 0L)
  }

  test("fuzzy decontamination with a viral train bucket: the cap " +
    "trades recall and SAYS so through the report face; raising it " +
    "recovers the leakage") {
    val block = (1 to 30).map(i => s"eval$i").mkString(" ")
    val eval_ = Seq((100L, block)).toDF("doc_id", "text")
    val n = 300
    val train = (0 until n).map(i => (i.toLong, s"$block x$i"))
      .toDF("doc_id", "text")

    val hitsCapped = Decontaminate.fuzzyHits(train, eval_, "doc_id",
      "text", maxBucket = 50)
    assert(hitsCapped.count() === 0L,
      "a dropped viral train bucket must suppress the fuzzy tier")
    val caps = Decontaminate.fuzzyCapReport(train, eval_, "doc_id",
        "text", maxBucket = 50)
      .collect().map(r => r.getAs[String]("side") ->
        r.getAs[Long]("n_dropped_buckets")).toMap
    assert(caps("train") > 0L,
      s"the train-side drop must surface in the report: $caps")
    assert(caps.contains("eval"))

    val hitsRaised = Decontaminate.fuzzyHits(train, eval_, "doc_id",
      "text", maxBucket = n + 1)
    assert(hitsRaised.count() === n.toLong,
      "raised cap must recover every near-verbatim leak")
  }

  test("source overlap with a df ≈ n shingle: fanout is bounded by " +
    "source pairs (aggregate plan), never by document pairs") {
    val block = "common alpha beta gamma delta shared"
    val docs = (0 until 800).map { i =>
      val src = s"s${i % 4}"
      (src, s"$block unique$i trail$i")
    }.toDF("source", "text")
    val (rows, recs) = withConf(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      withShuffleRecords {
        Overlap.sourceOverlap(docs, "source", "text", n = 3).collect()
      }
    }
    // 4 sources sharing the block: all 6 ordered pairs appear
    assert(rows.length === 6)
    // the viral shingle reduces to ONE (sh, source-set) row before the
    // pair explosion — per-task rows stay near the distinct-type fair
    // share instead of scaling with the 800 carrier documents
    val maxRecs = recs.max
    assert(maxRecs < 800L,
      s"hottest task read $maxRecs rows — the viral shingle must " +
        "collapse map-side, not ship one row per carrier doc")
    info(s"sourceOverlap viral-skew: max task rows = $maxRecs")
    graft.core.Caching.releaseAll()
  }

  test("viral boilerplate window (df = 400): the long-match df cap " +
    "drops it, the report counts it, a raised cap recovers the spans") {
    // 400 docs all open with the same 10-token license header and
    // continue with unique prose; one genuine pair shares a long run
    val header = (1 to 10).map(i => s"lic$i").mkString(" ")
    val shared = (1 to 14).map(i => s"dup$i").mkString(" ")
    val rows: Seq[(Long, String)] = (0L until 400L).map { i =>
      i -> (s"$header u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f " +
        s"u${i}g u${i}h u${i}i u${i}j")
    } ++ Seq(
      500L -> s"open1 open2 $shared close1 close2",
      501L -> s"other1 other2 other3 $shared tail1")
    val docs = rows.toDF("doc_id", "text")

    // capped at 100: the df-400 header windows are skipped — the pair's
    // spans still flag (df = 2), and the first carrier (500) is exempt
    val capped = Dedup.longMatchSpans(docs, "doc_id", "text",
        minLen = 10, keepFirst = true, maxDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(capped === Set((501L, 4L, 14L)), s"got $capped")

    // the cap is countable, not silent
    val rep = Dedup.longMatchCapReport(docs, "doc_id", "text",
      minLen = 10, maxDf = 100).head()
    assert(rep.getAs[Long]("n_dropped_windows") === 1L, rep.toString)
    assert(rep.getAs[Long]("dropped_rows") === 400L, rep.toString)
    assert(rep.getAs[Long]("max_df") === 400L, rep.toString)

    // raising the cap recovers the boilerplate spans: every carrier
    // except the min-id first one flags its header
    val raised = Dedup.longMatchSpans(docs, "doc_id", "text",
        minLen = 10, keepFirst = true, maxDf = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(raised.count { case (id, s, l) =>
      id >= 1L && id < 400L && s == 1L && l == 10L } === 399,
      "399 non-first carriers must flag the viral header once raised")
    graft.core.Caching.releaseAll()
  }
}
