package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables

/** CLI smoke coverage: each subcommand drives the real modules against
  * a fixture and lands real artifacts — batch ETL to the single-file
  * CSV sink, train→score round trip through saved weights, and the
  * MemoryStream replay e2e (the sandbox's simulate+detect pair).
  */
class MainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("preprocess → train → score chain via the CLI") {
    val rnd = new scala.util.Random(11)
    val raw = ((1 to 50).map(i => (s"f$i", 10.0 + rnd.nextGaussian(),
        5.0 + rnd.nextGaussian(), "BENIGN")) ++
      (1 to 8).map(i => (s"a$i", 60.0 + rnd.nextGaussian(), 40.0, "DoS Hulk")))
      .toDF("Flow ID", " Feature A", "Feature B", " Label")
    val inCsv = tmpDir("main_in") + "/raw.csv"
    graft.etl.Etl.writeSingleCsv(raw, inCsv)

    val outDir = tmpDir("main_pre")
    val pre = Main.run(spark, "preprocess",
      Map("in" -> inCsv, "out" -> outDir, "label" -> "Label",
        "drop" -> "flow_id"))
    assert(pre.contains(""""command":"preprocess""""), pre)
    assert(pre.contains(""""raw":58"""), pre)
    assert(Files.exists(java.nio.file.Paths.get(outDir, "train.csv")))
    assert(Files.exists(java.nio.file.Paths.get(outDir, "stream.csv")))
    assert(Files.exists(java.nio.file.Paths.get(outDir, "scaler.json")))

    val modelDir = tmpDir("main_model") + "/ae"
    val tr = Main.run(spark, "train",
      Map("in" -> s"$outDir/train.csv", "out" -> modelDir,
        "epochs" -> "6", "lr" -> "0.05"))
    assert(tr.contains(""""command":"train""""), tr)
    assert(tr.contains(""""epochs":6"""), tr)

    val scoredCsv = tmpDir("main_score") + "/scored.csv"
    val sc = Main.run(spark, "score",
      Map("in" -> s"$outDir/stream.csv", "model" -> modelDir,
        "out" -> scoredCsv, "threshold" -> "1.0"))
    assert(sc.contains(""""command":"score""""), sc)
    assert(Files.exists(java.nio.file.Paths.get(scoredCsv)))
    val header = scala.io.Source.fromFile(scoredCsv).getLines().next()
    assert(header.split(",").toSet.contains("anomaly_score"), header)

    val dash = Main.run(spark, "dashboard", Map("in" -> scoredCsv))
    assert(dash.contains(""""command":"dashboard""""), dash)
    assert(dash.contains(""""anomaly_rate":"""), dash)
    val n = """"rows":(\d+)""".r.findFirstMatchIn(dash).get.group(1).toInt
    assert(n > 0, dash)
  }

  test("dashboard --follow: polls re-read the input; appended rows show up") {
    val dir = tmpDir("main_dash_follow") + "/scored.parquet"
    Seq(("normal", 0.1), ("normal", 0.2), ("anomaly", 2.0))
      .toDF("prediction", "anomaly_score").write.parquet(dir)
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    val last = Main.dashboardFollow(spark, dir, "5 seconds", polls = 2,
      intervalMs = 0L,
      onPoll = line => {
        seen += line
        // grow the table between polls — the deterministic stand-in
        // for the score/replay sink appending while a dashboard
        // follows it
        Seq(("anomaly", 3.0), ("anomaly", 4.0))
          .toDF("prediction", "anomaly_score")
          .write.mode("append").parquet(dir)
      })
    assert(seen.length === 1, seen)
    assert(seen.head.contains(""""poll":1""") &&
      seen.head.contains(""""rows":3"""), seen.head)
    assert(last.contains(""""poll":2""") &&
      last.contains(""""rows":5"""), last)
    assert(last.contains(""""anomaly":3"""), last)
  }

  test("replay pushes a fixture through the MemoryStream scoring e2e") {
    val events = ((1 to 20).map(i => (s"e$i", "network_flow",
        "2026-01-01T00:00:05", s"f$i", 0.1, 0.2, 0.1, 0.05, "BENIGN")) :+
      (("e99", "network_flow", "2026-01-01T00:00:06", "f99",
        9999.0, 0.2, 0.1, 0.05, "DoS Hulk")))
      .toDF("event_id", "event_type", "timestamp", "flow_id",
        "flow_duration", "total_fwd_packets", "flow_bytes_s",
        "packet_length_mean", "label")
    val fixture = tmpDir("main_replay") + "/events.parquet"
    events.write.parquet(fixture)
    val out = Main.run(spark, "replay",
      Map("in" -> fixture, "rows" -> "50", "threshold" -> "0.5"))
    assert(out.contains(""""sent":21"""), out)
    val normal = """"normal":(\d+)""".r.findFirstMatchIn(out).get.group(1).toInt
    val anomaly = """"anomaly":(\d+)""".r.findFirstMatchIn(out).get.group(1).toInt
    assert(normal + anomaly == 21, out)
    assert(anomaly >= 1, s"the 9999-duration flow must score anomalous: $out")
  }

  test("dedup subcommand: exact and minhash tiers over planted duplicates") {
    // 1/2 identical text; 3 a one-word near-copy of 1 (high jaccard);
    // 4/5 distinct documents
    val base = "the quick brown fox jumps over the lazy dog by the " +
      "riverbank at dawn while nobody watches the water flow"
    val docs = Seq(
      (1L, base),
      (2L, base),
      (3L, base + " quietly"),
      (4L, "an entirely different second document about spark shuffle plans"),
      (5L, "and a third unrelated text carrying its own token stream"))
      .toDF("doc_id", "text")
    val fixture = tmpDir("main_dedup") + "/docs.parquet"
    docs.write.parquet(fixture)

    val exactOut = tmpDir("main_dedup_out") + "/kept_exact.csv"
    val ex = Main.run(spark, "dedup",
      Map("in" -> fixture, "out" -> exactOut, "mode" -> "exact"))
    assert(ex.contains(""""command":"dedup""""), ex)
    assert(ex.contains(""""rows":5"""), ex)
    assert(ex.contains(""""kept":4""") && ex.contains(""""dropped":1"""), ex)
    val exactIds = scala.io.Source.fromFile(exactOut).getLines().drop(1)
      .map(_.trim.toLong).toSet
    assert(exactIds === Set(1L, 3L, 4L, 5L),
      s"exact tier keeps min id of the identical pair only: $exactIds")

    val mhOut = tmpDir("main_dedup_out2") + "/kept_minhash.csv"
    val mh = Main.run(spark, "dedup",
      Map("in" -> fixture, "out" -> mhOut, "mode" -> "minhash",
        "threshold" -> "0.8"))
    assert(mh.contains(""""kept":3""") && mh.contains(""""dropped":2"""), mh)
    val mhIds = scala.io.Source.fromFile(mhOut).getLines().drop(1)
      .map(_.trim.toLong).toSet
    assert(mhIds === Set(1L, 4L, 5L),
      s"minhash tier collapses the whole near-dup cluster to its root: $mhIds")
  }

  test("dedup subcommand: semantic tier keeps one of each planted vector pair") {
    val rnd = new java.util.Random(17L)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    // 20 random vectors + scaled copies of vectors 0 and 5 (same
    // direction, so cosine is exactly 1 regardless of the scale)
    val all = (0L until 20L).map(i => (i, vec()))
    val planted = all ++ Seq((100L, all(0)._2.map(x => (x * 1.0001f))),
      (101L, all(5)._2.map(x => (x * 0.9999f))))
    val df = planted.toDF("vec_id", "embedding")
    val fixture = tmpDir("main_dedup_sem") + "/emb.parquet"
    df.write.parquet(fixture)
    val out = tmpDir("main_dedup_sem_out") + "/kept.csv"
    val res = Main.run(spark, "dedup",
      Map("in" -> fixture, "out" -> out, "mode" -> "semantic",
        "id" -> "vec_id", "threshold" -> "0.999",
        "target-cluster-size" -> "8"))
    assert(res.contains(""""rows":22"""), res)
    assert(res.contains(""""kept":20""") && res.contains(""""dropped":2"""), res)
    val ids = scala.io.Source.fromFile(out).getLines().drop(1)
      .map(_.trim.toLong).toSet
    assert(ids.contains(0L) && ids.contains(5L) &&
      !ids.contains(100L) && !ids.contains(101L),
      s"scaled copies 100/101 must drop in favor of originals 0/5: $ids")

    // same contract through the two-level codebook
    val out2 = tmpDir("main_dedup_sem_out2") + "/kept2.csv"
    val res2 = Main.run(spark, "dedup",
      Map("in" -> fixture, "out" -> out2, "mode" -> "semantic",
        "id" -> "vec_id", "threshold" -> "0.999",
        "target-cluster-size" -> "8", "codebook" -> "two-level",
        "coarse-cells" -> "2"))
    assert(res2.contains(""""kept":20""") && res2.contains(""""dropped":2"""),
      res2)
  }

  test("dedup subcommand: substr tier cuts the shared passage, keeps rows") {
    // an 8-token passage shared by docs 1 and 2; doc 3 is clean
    val passage = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, "one two three " + passage),
      (2L, passage + " four five"),
      (3L, "totally unrelated words forever calm river stone light"))
      .toDF("doc_id", "text")
    val fixture = tmpDir("main_dedup_sub") + "/docs.parquet"
    docs.write.parquet(fixture)
    val out = tmpDir("main_dedup_sub_out") + "/clean.csv"
    val res = Main.run(spark, "dedup",
      Map("in" -> fixture, "out" -> out, "mode" -> "substr"))
    assert(res.contains(""""mode":"substr""""), res)
    assert(res.contains(""""rows":3"""), res)
    assert(res.contains(""""tokensRemoved":16"""), res)
    assert(res.contains(""""docsTouched":2"""), res)
    val lines = scala.io.Source.fromFile(out).getLines().toSeq
    assert(lines.head.split(",").toSeq ===
      Seq("doc_id", "clean_text", "n_tokens", "n_removed"), lines.head)
    val byId = lines.drop(1).map { l =>
      val f = l.split(","); (f(0).toLong, (f(1), f(3).toInt))
    }.toMap
    assert(byId(1L) === (("one two three", 8)), byId(1L).toString)
    assert(byId(2L) === (("four five", 8)), byId(2L).toString)
    assert(byId(3L)._2 === 0, "clean doc must be untouched")
  }

  test("index builds the stored artifact and query probes it", Slow) {
    val rnd = new java.util.Random(23L)
    val rows = (0L until 60L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val fixture = tmpDir("main_index_in") + "/emb.parquet"
    rows.toDF("vec_id", "embedding").write.parquet(fixture)
    val idxDir = tmpDir("main_index_out")
    val res = Main.run(spark, "index",
      Map("in" -> fixture, "out" -> idxDir, "target-cluster-size" -> "16"))
    assert(res.contains(""""command":"index""""), res)
    assert(res.contains(""""rows":60"""), res)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(idxDir, "cells")), "cells parquet missing")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(idxDir, "model")), "quantizer model missing")

    val qr = Main.run(spark, "query",
      Map("index" -> idxDir, "id" -> "5", "k" -> "3", "probe" -> "4"))
    assert(qr.contains(""""command":"query""""), qr)
    assert(qr.contains(""""k":3"""), qr)
    val sims = """"cos_sim":(-?[0-9.]+)""".r.findAllMatchIn(qr)
      .map(_.group(1).toDouble).toSeq
    assert(sims.length == 3 && sims == sims.sorted.reverse,
      s"hits must rank by descending cosine: $qr")
    assert(!qr.contains(""""id":5,"""), "the query vector must not hit itself")

    // an id absent from the index fails loudly, not with a stack trace
    val ex = intercept[IllegalArgumentException] {
      Main.run(spark, "query", Map("index" -> idxDir, "id" -> "99999"))
    }
    // either surface: the CLI's own check ("not present") or the
    // id-lookup sidecar's partition-pruned miss ("not found")
    assert(ex.getMessage.contains("not present") ||
      ex.getMessage.contains("not found"), ex.getMessage)

    // retraction: the removed vector disappears from every probe path
    val rm = Main.run(spark, "index",
      Map("index" -> idxDir, "remove-ids" -> "7,9"))
    assert(rm.contains(""""mode":"remove"""") &&
      rm.contains(""""removed":2"""), rm)
    val qr3 = Main.run(spark, "query",
      Map("index" -> idxDir, "id" -> "5", "k" -> "50", "probe" -> "4"))
    assert(!qr3.contains(""""id":7,""") && !qr3.contains(""""id":9,"""),
      s"removed ids must not be probe hits: $qr3")
    intercept[IllegalArgumentException] {
      Main.run(spark, "query", Map("index" -> idxDir, "id" -> "7"))
    }
    // already gone: the strict presence check refuses a re-removal
    intercept[IllegalArgumentException] {
      Main.run(spark, "index",
        Map("index" -> idxDir, "remove-ids" -> "7"))
    }

    // two-level store: index with --codebook two-level, query routes to
    // the two-stage probe off the self-describing layout
    val idx2 = tmpDir("main_index_out2")
    val res2 = Main.run(spark, "index",
      Map("in" -> fixture, "out" -> idx2, "target-cluster-size" -> "10",
        "codebook" -> "two-level", "coarse-cells" -> "3"))
    assert(res2.contains(""""codebook":"two-level""""), res2)
    assert(res2.contains(""""rows":60"""), res2)
    val qr2 = Main.run(spark, "query",
      Map("index" -> idx2, "id" -> "5", "k" -> "3", "probe" -> "2"))
    assert(qr2.contains(""""k":3"""), qr2)
    val sims2 = """"cos_sim":(-?[0-9.]+)""".r.findAllMatchIn(qr2)
      .map(_.group(1).toDouble).toSeq
    assert(sims2.length == 3 && sims2 == sims2.sorted.reverse, qr2)

    // quantized flat store: same query surface, int8 cells on disk
    val idxQ = tmpDir("main_index_outq")
    val resQ = Main.run(spark, "index",
      Map("in" -> fixture, "out" -> idxQ, "target-cluster-size" -> "16",
        "quantize" -> "true"))
    assert(resQ.contains(""""quantized":true"""), resQ)
    val qrQ = Main.run(spark, "query",
      Map("index" -> idxQ, "id" -> "5", "k" -> "3", "probe" -> "4"))
    assert(qrQ.contains(""""k":3"""), qrQ)
    // quantized two-level store: same two-stage probe surface
    val idxQ2 = tmpDir("main_index_outq2")
    val resQ2 = Main.run(spark, "index",
      Map("in" -> fixture, "out" -> idxQ2, "target-cluster-size" -> "10",
        "codebook" -> "two-level", "coarse-cells" -> "3",
        "quantize" -> "true"))
    assert(resQ2.contains(""""quantized":true"""), resQ2)
    val qrQ2 = Main.run(spark, "query",
      Map("index" -> idxQ2, "id" -> "5", "k" -> "3", "probe" -> "2"))
    assert(qrQ2.contains(""""k":3"""), qrQ2)

    // PQ store: codebooks/ marks the layout; query routes to the ADC
    // probe + exact refine, by id (sidecar fetch) or by literal vector
    val idxP = tmpDir("main_index_outp")
    val resP = Main.run(spark, "index",
      Map("in" -> fixture, "out" -> idxP, "target-cluster-size" -> "16",
        "codebook" -> "pq", "pq-m" -> "4", "pq-ksub" -> "8"))
    assert(resP.contains(""""codebook":"pq""""), resP)
    assert(resP.contains(""""m":4"""), resP)
    val qrP = Main.run(spark, "query",
      Map("index" -> idxP, "id" -> "5", "k" -> "3", "probe" -> "4"))
    assert(qrP.contains(""""k":3"""), qrP)
    assert(!qrP.contains(""""id":5,"""), "PQ probe must not hit itself")
    val simsP = """"cos_sim":(-?[0-9.]+)""".r.findAllMatchIn(qrP)
      .map(_.group(1).toDouble).toSeq
    assert(simsP.length == 3 && simsP == simsP.sorted.reverse, qrP)
    val qv = rows(5)._2.map(_.toDouble).mkString(",")
    val qrPv = Main.run(spark, "query",
      Map("index" -> idxP, "vec" -> qv, "k" -> "4", "probe" -> "4"))
    // by-vector probe of the same point: id 5 itself is now a valid hit
    assert(qrPv.contains(""""k":4""") && qrPv.contains(""""id":5,"""), qrPv)
  }

  test("curate lands the per-source token-budget manifest") {
    val docs = ((1 to 10).map(i => (i.toLong, "a", s"alpha beta gamma delta doc $i")) ++
      (11 to 20).map(i => (i.toLong, "b", s"short text $i")))
      .toDF("doc_id", "source", "text")
    val fixture = tmpDir("main_curate_in") + "/docs.parquet"
    docs.write.parquet(fixture)
    val outFile = tmpDir("main_curate_out") + "/kept.csv"
    val res = Main.run(spark, "curate",
      Map("in" -> fixture, "out" -> outFile, "budget" -> "12"))
    assert(res.contains(""""command":"curate""""), res)
    assert(res.contains(""""budget_per_source":12"""), res)
    // source a: 6-token docs -> 2 kept (12 tokens); source b: 3-token
    // docs -> 4 kept (12 tokens)
    assert(res.contains(""""kept_docs":6"""), res)
    assert(res.contains(""""kept_tokens":24"""), res)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(outFile)))
  }

  test("screen flags ingest near-dups against a saved signature index") {
    val corpus = Seq(
      (1L, "the settled corpus keeps this exact document body for ever"),
      (2L, "another settled text that no incoming batch row resembles"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, "the settled corpus keeps this exact document body for ever"),
      (101L, "a genuinely novel incoming document with fresh token content"))
      .toDF("doc_id", "text")
    val cDir = tmpDir("main_screen") + "/corpus.parquet"
    val bDir = tmpDir("main_screen") + "/batch.parquet"
    corpus.write.parquet(cDir)
    batch.write.parquet(bDir)
    val sigDir = tmpDir("main_screen_idx") + "/sig"

    // first ingest: build the index from the corpus and save it
    val out1 = tmpDir("main_screen_out") + "/flagged1.csv"
    val r1 = Main.run(spark, "screen",
      Map("in" -> bDir, "corpus" -> cDir, "save-index" -> sigDir,
        "out" -> out1))
    assert(r1.contains(""""flagged_pairs":1"""), r1)

    // later ingest: screen against the SAVED index (no corpus re-read);
    // the parameter metadata must survive the parquet round trip
    val out2 = tmpDir("main_screen_out2") + "/flagged2.csv"
    val r2 = Main.run(spark, "screen",
      Map("in" -> bDir, "index" -> sigDir, "out" -> out2))
    assert(r2.contains(""""flagged_pairs":1"""), r2)
    val lines = scala.io.Source.fromFile(out2).getLines().toSeq
    assert(lines.exists(_.startsWith("100,1,")),
      s"planted copy (100 -> corpus 1) must be flagged: $lines")
  }

  test("screen --kind embedding flags vector near-dups via a saved index") {
    val rnd = new java.util.Random(41L)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val corpusRows = (0L until 30L).map(i => (i, vec()))
    val corpus = corpusRows.toDF("vec_id", "embedding")
    // batch: a tiny perturbation of corpus vector 3 + a novel vector
    val batch = Seq(
      (100L, corpusRows(3)._2.map(x => (x + rnd.nextGaussian() * 0.003).toFloat)),
      (101L, vec())).toDF("vec_id", "embedding")
    val cDir = tmpDir("main_escreen") + "/corpus.parquet"
    val bDir = tmpDir("main_escreen") + "/batch.parquet"
    corpus.write.parquet(cDir)
    batch.write.parquet(bDir)
    val idxDir = tmpDir("main_escreen_idx")

    val out1 = tmpDir("main_escreen_out") + "/flagged1.csv"
    val r1 = Main.run(spark, "screen",
      Map("in" -> bDir, "corpus" -> cDir, "kind" -> "embedding",
        "id" -> "vec_id", "threshold" -> "0.99",
        "save-index" -> idxDir, "out" -> out1))
    assert(r1.contains(""""kind":"embedding""""), r1)
    assert(r1.contains(""""flagged_pairs":1"""), r1)

    // screen a later batch against the SAVED sig+vecs store
    val out2 = tmpDir("main_escreen_out2") + "/flagged2.csv"
    val r2 = Main.run(spark, "screen",
      Map("in" -> bDir, "index" -> idxDir, "kind" -> "embedding",
        "id" -> "vec_id", "threshold" -> "0.99", "out" -> out2))
    assert(r2.contains(""""flagged_pairs":1"""), r2)
    val lines = scala.io.Source.fromFile(out2).getLines().toSeq
    assert(lines.exists(_.startsWith("100,3,")),
      s"planted near-copy (100 -> corpus 3) must be flagged: $lines")
  }

  test("stats appends mergeable snapshots; report merges without rescan") {
    val statsDir = tmpDir("main_stats") + "/stats"
    val base = tmpDir("main_stats_in")
    // two batches sharing 10 duplicate texts: the merged distinct-docs
    // estimate must dedup ACROSS batches (20 + 15 rows, 25 distinct)
    val b1 = (1 to 20).map(i => (i.toLong, s"doc text number $i"))
      .toDF("doc_id", "text")
    val b2 = ((11 to 20) ++ (21 to 25)).map(i =>
      (100L + i, s"doc text number $i")).toDF("doc_id", "text")
    b1.write.parquet(s"$base/b1"); b2.write.parquet(s"$base/b2")

    val a1 = Main.run(spark, "stats",
      Map("stats" -> statsDir, "in" -> s"$base/b1"))
    assert(a1.contains("\"batch_rows\":20"), a1)
    val a2 = Main.run(spark, "stats",
      Map("stats" -> statsDir, "in" -> s"$base/b2"))
    assert(a2.contains("\"batch_rows\":15"), a2)

    val rep = Main.run(spark, "stats", Map("stats" -> statsDir))
    assert(rep.contains("\"snapshots\":2"), rep)
    assert(rep.contains("\"n_docs\":35"), rep)
    assert(rep.contains("\"approx_distinct_docs\":25"), rep)
  }

  test("diff subcommand: summary counts + per-id dump") {
    val a = Seq(1L -> "same", 2L -> "old", 3L -> "gone")
      .toDF("doc_id", "text")
    val b = Seq(1L -> "same", 2L -> "new", 4L -> "fresh")
      .toDF("doc_id", "text")
    val (da, db) = (tmpDir("main_diff") + "/a.parquet",
      tmpDir("main_diff") + "/b.parquet")
    a.write.parquet(da); b.write.parquet(db)
    val out = tmpDir("main_diff_out") + "/diff.csv"
    val r = Main.run(spark, "diff", Map("a" -> da, "b" -> db, "out" -> out))
    assert(r.contains(""""n_added":1""") && r.contains(""""n_removed":1""")
      && r.contains(""""n_changed":1""") && r.contains(""""n_unchanged":1"""),
      r)
    val lines = scala.io.Source.fromFile(out).getLines().toSeq
    assert(lines.exists(_.startsWith("3,removed")), lines.toString)
  }

  test("plan subcommand: epoch arithmetic over CLI weights") {
    val docs = Seq(("A", "t t t t t"), ("A", "u u u u u"), ("B", "v w"))
      .toDF("source", "text")
    val in = tmpDir("main_plan") + "/docs.parquet"
    docs.write.parquet(in)
    val r = Main.run(spark, "plan", Map("in" -> in,
      "weights" -> "A=6000,B=4000", "budget" -> "100",
      "max-epochs-bp" -> "30000"))
    assert(r.contains(""""source":"A","n_tokens":10,"target_tokens":60,""" +
      """"epochs_bp":60000,"capped_bp":30000,"deficit_tokens":30"""), r)
  }

  test("bpe subcommand: lands merges + vocab artifacts") {
    val docs = Seq(
      1L -> (("low " * 5) + ("lower " * 2)).trim,
      2L -> (("newest " * 6) + ("widest " * 3)).trim
    ).toDF("doc_id", "text")
    val in = tmpDir("main_bpe") + "/docs.parquet"
    docs.write.parquet(in)
    val out = tmpDir("main_bpe_out") + "/tok"
    val r = Main.run(spark, "bpe",
      Map("in" -> in, "merges" -> "5", "out" -> out))
    assert(r.contains(""""n_merges":5"""), r)
    val merges = spark.read.parquet(s"$out/merges")
      .orderBy($"rank").collect()
    assert(merges.head.getAs[String]("left") === "e"
      && merges.head.getAs[String]("right") === "s")
    assert(spark.read.parquet(s"$out/vocab").count() > 0L)

    // serving half: encode an UNSEEN doc with the stored merges
    val newDocs = Seq(10L -> "lowest low").toDF("doc_id", "text")
    val nin = tmpDir("main_bpe_new") + "/docs.parquet"
    newDocs.write.parquet(nin)
    val encOut = tmpDir("main_bpe_enc") + "/counts.csv"
    val re = Main.run(spark, "encode",
      Map("merges" -> s"$out/merges", "in" -> nin, "out" -> encOut))
    // lowest -> [low, est</w>] (2), low -> [low, </w>] (2)
    assert(re.contains(""""n_docs":1,"n_subwords":4"""), re)
  }

  test("decon subcommand: counts, spans and redaction over one leak") {
    val train = Seq(10L -> "z z a b c d e f g h i z z z")
      .toDF("doc_id", "text")
    val eval_ = Seq(1L -> "a b c d e f g h i").toDF("doc_id", "text")
    val (tDir, eDir) = (tmpDir("main_decon") + "/train.parquet",
      tmpDir("main_decon") + "/eval.parquet")
    train.write.parquet(tDir); eval_.write.parquet(eDir)
    val rc = Main.run(spark, "decon", Map("in" -> tDir, "eval" -> eDir))
    assert(rc.contains(""""rows":1,"total_n_hits":2"""), rc)
    val rs = Main.run(spark, "decon",
      Map("in" -> tDir, "eval" -> eDir, "mode" -> "spans"))
    assert(rs.contains(""""rows":1,"total_n_grams":2"""), rs)
    val out = tmpDir("main_decon_out") + "/clean.csv"
    val rr = Main.run(spark, "decon",
      Map("in" -> tDir, "eval" -> eDir, "mode" -> "redact", "out" -> out))
    assert(rr.contains(""""total_n_removed":9"""), rr)
    val lines = scala.io.Source.fromFile(out).getLines().toSeq
    assert(lines.exists(_.startsWith("10,z z z z z,14,9")), lines.toString)
    intercept[IllegalArgumentException] {
      Main.run(spark, "decon",
        Map("in" -> tDir, "eval" -> eDir, "mode" -> "nope"))
    }
  }

  test("decon --mode index: save, append, then screen against the store") {
    val train = Seq(
      10L -> "z z a b c d e f g h i z z z",   // leaks suite A
      11L -> "p q r s t u v w x y",           // leaks suite B (appended)
      12L -> "nothing shared with any suite at all here")
      .toDF("doc_id", "text")
    val suiteA = Seq(1L -> "a b c d e f g h i").toDF("doc_id", "text")
    val suiteB = Seq(2L -> "p q r s t u v w x y").toDF("doc_id", "text")
    val base = tmpDir("main_decon_idx")
    val (tDir, aDir, bDir) = (s"$base/train.parquet",
      s"$base/suiteA.parquet", s"$base/suiteB.parquet")
    train.write.parquet(tDir)
    suiteA.write.parquet(aDir); suiteB.write.parquet(bDir)
    val idx = s"$base/evalidx"
    val r1 = Main.run(spark, "decon",
      Map("mode" -> "index", "eval" -> aDir, "save-index" -> idx,
        "suite" -> "suiteA"))
    // suite A: 9 tokens -> 2 distinct 8-grams
    assert(r1.contains(""""n_grams":2""") &&
      r1.contains(""""n_suites":1"""), r1)
    // screening BEFORE suite B signs sees only the suite-A leak
    val pre = Main.run(spark, "decon",
      Map("mode" -> "index", "in" -> tDir, "index" -> idx))
    assert(pre.contains(""""rows":1"""), pre)
    // sign suite B: +3 distinct 8-grams over its 10 tokens
    val r2 = Main.run(spark, "decon",
      Map("mode" -> "index", "eval" -> bDir, "append-index" -> idx,
        "suite" -> "suiteB"))
    assert(r2.contains(""""n_grams":5""") &&
      r2.contains(""""n_suites":2"""), r2)
    val out = s"$base/hits.csv"
    val post = Main.run(spark, "decon",
      Map("mode" -> "index", "in" -> tDir, "index" -> idx, "out" -> out))
    assert(post.contains(""""rows":2"""), post)
    val lines = scala.io.Source.fromFile(out).getLines().toSeq
    assert(lines.exists(_.startsWith("10,2")) &&
      lines.exists(_.startsWith("11,3")), lines.toString)
    // retire suite B: its leak stops gating, suite A's still does
    val r3 = Main.run(spark, "decon",
      Map("mode" -> "index", "index" -> idx, "retire-suite" -> "suiteB"))
    assert(r3.contains(""""retired":"suiteB"""") &&
      r3.contains(""""n_grams":2""") &&
      r3.contains(""""n_suites":1"""), r3)
    val after = Main.run(spark, "decon",
      Map("mode" -> "index", "in" -> tDir, "index" -> idx))
    assert(after.contains(""""rows":1"""), after)
    // misuse refuses loudly: probe and save in one invocation
    intercept[IllegalArgumentException] {
      Main.run(spark, "decon", Map("mode" -> "index", "in" -> tDir,
        "index" -> idx, "save-index" -> idx))
    }
  }

  test("novelty subcommand: save-index then probe; re-crawls score 0") {
    val corpus = Seq(1L -> "alpha beta gamma delta").toDF("doc_id", "text")
    val batch = Seq(
      10L -> "alpha beta gamma delta",  // exact re-crawl -> 0
      11L -> "totally fresh new words") // novel -> 10000
      .toDF("doc_id", "text")
    val (cDir, bDir) = (tmpDir("main_nov") + "/corpus.parquet",
      tmpDir("main_nov") + "/batch.parquet")
    corpus.write.parquet(cDir); batch.write.parquet(bDir)
    val idx = tmpDir("main_nov_idx") + "/idx"
    val r1 = Main.run(spark, "novelty",
      Map("corpus" -> cDir, "save-index" -> idx))
    assert(r1.contains(""""n_grams":2"""), r1)
    val out = tmpDir("main_nov_out") + "/nov.csv"
    val r2 = Main.run(spark, "novelty",
      Map("in" -> bDir, "index" -> idx, "out" -> out))
    assert(r2.contains(""""n_docs":2""") &&
      r2.contains(""""n_fully_seen":1"""), r2)
    val lines = scala.io.Source.fromFile(out).getLines().toSeq
    assert(lines.exists(_.startsWith("10,2,2,0")), lines.toString)
    // self-contained report mode still works on the same input
    val r3 = Main.run(spark, "novelty", Map("in" -> bDir))
    assert(r3.contains(""""n_docs":2"""), r3)
  }

  test("leakage subcommand: straddling groups counted and landed") {
    // ids 1..40 with identical text: every canonical group is ONE
    // 40-member group; it straddles iff both splits occur (they do)
    val docs = (1L to 40L).map(i => (i, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val in = tmpDir("main_leak") + "/docs.parquet"
    docs.write.parquet(in)
    val out = tmpDir("main_leak_out") + "/leak.csv"
    val r = Main.run(spark, "leakage", Map("in" -> in, "out" -> out))
    assert(r.contains(""""leaked_groups":1""") &&
      r.contains(""""leaked_docs":40"""), r)
    assert(scala.io.Source.fromFile(out).getLines().nonEmpty)
  }

  test("bad invocations fail loudly") {
    assertThrows[IllegalArgumentException] {
      Main.run(spark, "nope", Map.empty)
    }
    assertThrows[IllegalArgumentException] {
      Main.run(spark, "score", Map("in" -> "x.csv"))
    }
    assertThrows[IllegalArgumentException] {
      Main.parseOpts(Array("--in"))
    }
    // string ids would cast to null inside the long-keyed dedup tiers —
    // the CLI must reject them loudly, not corrupt the kept-set
    val strIds = Seq(("doc-1", "some text"), ("doc-2", "other text"))
      .toDF("doc_id", "text")
    val fixture = tmpDir("main_bad") + "/docs.parquet"
    strIds.write.parquet(fixture)
    val ex = intercept[IllegalArgumentException] {
      Main.run(spark, "dedup",
        Map("in" -> fixture, "out" -> "/tmp/x.csv", "mode" -> "minhash"))
    }
    assert(ex.getMessage.contains("integral"), ex.getMessage)
    // the new command family keeps the same posture
    val okDocs = tmpDir("main_bad2") + "/docs.parquet"
    Seq((1L, "a b c")).toDF("doc_id", "text").write.parquet(okDocs)
    assertThrows[IllegalArgumentException] { // no --target and no --weights
      Main.run(spark, "select", Map("in" -> okDocs))
    }
    val exMode = intercept[IllegalArgumentException] {
      Main.run(spark, "select",
        Map("in" -> okDocs, "target" -> okDocs, "mode" -> "psychic"))
    }
    assert(exMode.getMessage.contains("dsir"), exMode.getMessage)
    val exBp = intercept[IllegalArgumentException] {
      Main.run(spark, "select",
        Map("in" -> okDocs, "target" -> okDocs, "keep-bp" -> "10001"))
    }
    assert(exBp.getMessage.contains("--keep-bp"), exBp.getMessage)
    val exFmt = intercept[IllegalArgumentException] {
      Main.run(spark, "export",
        Map("in" -> okDocs, "out" -> "/tmp/x", "format" -> "avro"))
    }
    assert(exFmt.getMessage.contains("--format"), exFmt.getMessage)
    assertThrows[IllegalArgumentException] { // shards must be positive
      Main.run(spark, "export",
        Map("in" -> okDocs, "out" -> "/tmp/x", "shards" -> "0"))
    }
    val exCol = intercept[IllegalArgumentException] { // missing text col
      Main.run(spark, "datacard", Map("in" -> okDocs, "text" -> "body"))
    }
    assert(exCol.getMessage.contains("body"), exCol.getMessage)
  }

  test("option table: a mistyped flag fails before any Spark job or " +
    "file write, naming the nearest declared flag") {
    import graft.TestSpark.jobsOf
    // one command per family: ETL, dedup, index/query, store, corpus,
    // release — each with a near-miss of a flag it declares
    val calls = Seq(
      ("score", Map("in" -> "x.csv", "model" -> "m", "treshold" -> "0.5"),
        "treshold", "threshold"),
      ("dedup", Map("in" -> "x.csv", "mode" -> "substr", "min-doc" -> "3"),
        "min-doc", "min-docs"),
      ("index", Map("in" -> "x.csv", "seeed" -> "7"), "seeed", "seed"),
      ("store", Map("verify-tre" -> "lake"), "verify-tre", "verify-tree"),
      ("settle", Map("in" -> "x.csv", "min-word" -> "5"), "min-word",
        "min-words"),
      ("release", Map("in" -> "x.csv", "shard" -> "4"), "shard", "shards"))
    for ((cmd, opts, typo, want) <- calls) {
      val out = tmpDir("main_typo") + "/out"
      val withOut =
        if (cmd == "store") opts else opts + ("out" -> out)
      val (res, jobs) = jobsOf(scala.util.Try(
        Main.run(spark, cmd, withOut)))
      val msg = res.failed.get match {
        case e: IllegalArgumentException => e.getMessage
        case e => fail(s"$cmd: expected an IllegalArgumentException, got $e")
      }
      assert(msg.contains(s"unknown option --$typo") &&
        msg.contains(s"did you mean --$want?"), s"$cmd: $msg")
      assert(jobs === 0, cmd)
      assert(!Files.exists(java.nio.file.Paths.get(out)), cmd)
    }
    // a value that does not parse as the declared type names the flag
    val e = intercept[IllegalArgumentException] {
      Main.run(spark, "train", Map("in" -> "x.csv", "out" -> "m",
        "epochs" -> "ten"))
    }
    assert(e.getMessage.contains("--epochs") &&
      e.getMessage.contains("ten"), e.getMessage)
    // a command body reading a key its entry does not declare is a
    // programming error, not a user error
    val opts = Cli.parse(Main.commands, "score", Map.empty)
    intercept[IllegalStateException](opts.str("treshold"))
  }

  test("option table: parseOpts rejects a key given twice") {
    val e = intercept[IllegalArgumentException] {
      Main.parseOpts(Array("--in", "a.csv", "--threshold", "0.5",
        "--in", "b.csv"))
    }
    assert(e.getMessage.contains("--in"), e.getMessage)
  }

  test("option table: the generated usage names every command, and " +
    "every command in the table reaches its body") {
    val header = Main.usage.substring(0,
      Main.usage.indexOf(s"\n  ${Main.commands.head.name}: "))
    val listed = header.split("\\s+").toSet
    for (c <- Seq("rank", "colloc", "buckets", "lm", "release", "store"))
      assert(listed.contains(c), header)
    for (c <- Main.commands) {
      assert(listed.contains(c.name), c.name)
      assert(Main.usage.contains(s"\n  ${c.name}: "), c.name)
      c.opts.foreach(o => assert(Cli.usage(c).contains(s"--${o.name} "),
        s"${c.name} --${o.name}"))
      // empty options reach the body, which stops at its first required
      // read — a declared command without a body would throw
      // IllegalStateException instead
      val e = intercept[IllegalArgumentException] {
        Main.run(spark, c.name, Map.empty)
      }
      assert(e.getMessage.startsWith("missing required option --"),
        s"${c.name}: ${e.getMessage}")
    }
    val unknown = intercept[IllegalArgumentException] {
      Main.run(spark, "rnak", Map.empty)
    }
    assert(unknown.getMessage.contains("did you mean rank?"),
      unknown.getMessage)
  }

  test("option table: release declares exactly the keys it forwards") {
    // pack's --salt is no stage's option: release must refuse it
    val e = intercept[IllegalArgumentException] {
      Main.run(spark, "release", Map("in" -> "x.csv", "out" -> "o",
        "salt" -> "pack"))
    }
    assert(e.getMessage.contains("unknown option --salt"), e.getMessage)
    val release = Main.commands.find(_.name == "release").get
    val forwarded = Seq("id", "text", "source", "min-words", "n",
      "min-docs", "budget", "repetition", "para-split", "para-delim",
      "longmatch", "max-df", "mode", "keep-bp", "buckets", "dim", "alpha",
      "neardup", "bin-bp", "shards", "epochs", "format", "compress",
      "seed", "balance")
    assert(release.opts.map(_.name).toSet ===
      (Set("in", "out", "target", "target-text") ++ forwarded))
  }

  test("vocab: build persists the store, drift verdict fires on alien batches") {
    val base = tmpDir("main_vocab")
    val vocabDir = s"$base/vocab"
    // corpus: a,b,c frequent + d rare -> top-3 vocab, baseline 2/10 tokens
    Seq((1L, "a a b b c d"), (2L, "a b c d"))
      .toDF("doc_id", "text").write.parquet(s"$base/corpus")
    val built = Main.run(spark, "vocab", Map(
      "vocab" -> vocabDir, "build" -> "true",
      "in" -> s"$base/corpus", "top-k" -> "3"))
    assert(built.contains("\"top_k\":3") &&
      built.contains("\"baseline_oov_bp\":2000"), built)

    Seq((10L, "a b c a")).toDF("doc_id", "text")
      .write.parquet(s"$base/ok")
    val ok = Main.run(spark, "vocab",
      Map("vocab" -> vocabDir, "in" -> s"$base/ok"))
    assert(ok.contains("\"oov_bp\":0") && ok.contains("\"drifted\":false"), ok)

    Seq((11L, "zz yy xx ww vv uu tt ss a b")).toDF("doc_id", "text")
      .write.parquet(s"$base/alien")
    val bad = Main.run(spark, "vocab",
      Map("vocab" -> vocabDir, "in" -> s"$base/alien"))
    assert(bad.contains("\"oov_bp\":8000") && bad.contains("\"drifted\":true"),
      bad)
  }

  test("dedup subcommand: cascade lands the provenance audit") {
    val base = tmpDir("main_cascade")
    val outFile = s"$base/audit.csv"
    val pass = "p1 p2 p3 p4 p5 p6 p7 p8"
    Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "delta gamma beta alpha"),
      (4L, s"unique lead $pass"),
      (5L, s"other intro here $pass tail"),
      (6L, "solitary text nothing shared")
    ).toDF("doc_id", "text").write.parquet(s"$base/docs")
    val res = Main.run(spark, "dedup", Map(
      "in" -> s"$base/docs", "out" -> outFile, "mode" -> "cascade"))
    assert(res.contains("\"kept\":2") &&
      res.contains("\"droppedExact\":1") &&
      res.contains("\"droppedCanonical\":1") &&
      res.contains("\"cleanedSubstr\":2"), res)
    val audit = spark.read.option("header", "true").csv(outFile)
    assert(audit.count() === 6L)
  }

  test("recall subcommand: full probe scores 10000; pruned probes " +
    "report honestly", Slow) {
    val rnd = new java.util.Random(31L)
    val rows = (0L until 60L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val fixture = tmpDir("main_recall_in") + "/emb.parquet"
    rows.toDF("vec_id", "embedding").write.parquet(fixture)
    val idxDir = tmpDir("main_recall_idx")
    Main.run(spark, "index",
      Map("in" -> fixture, "out" -> idxDir, "target-cluster-size" -> "16"))
    // 60 vecs / cluster-size 16 → 4 cells (give or take); probe 16
    // covers them all → exact
    val full = Main.run(spark, "recall", Map(
      "index" -> idxDir, "k" -> "5", "sample" -> "3", "probe" -> "16"))
    assert(full.contains("\"mean_recall_bp\":10000"), full)
    assert(full.contains("\"sampled\":3"), full)
    val pruned = Main.run(spark, "recall", Map(
      "index" -> idxDir, "k" -> "5", "sample" -> "3", "probe" -> "1"))
    val mean = "\"mean_recall_bp\":(\\d+)".r
      .findFirstMatchIn(pruned).get.group(1).toLong
    assert(mean >= 0L && mean <= 10000L, pruned)
    // the PQ store routes through the same health check
    val pqDir = tmpDir("main_recall_pq")
    Main.run(spark, "index", Map(
      "in" -> fixture, "out" -> pqDir, "codebook" -> "pq",
      "target-cluster-size" -> "16", "pq-m" -> "4", "pq-ksub" -> "8"))
    val pqRes = Main.run(spark, "recall", Map(
      "index" -> pqDir, "k" -> "5", "sample" -> "2", "probe" -> "16",
      "refine" -> "8"))
    val pqMean = "\"mean_recall_bp\":(\\d+)".r
      .findFirstMatchIn(pqRes).get.group(1).toLong
    assert(pqMean >= 5000L && pqMean <= 10000L,
      s"full-probe PQ with a deep refine should recall well: $pqRes")
  }

  test("dedup subcommand: sweep mode lands the threshold histogram") {
    val base = tmpDir("main_sweep")
    val outFile = s"$base/hist.csv"
    Seq(
      (1L, "a b c d"),
      (2L, "a b c d"),   // jaccard 10000 vs 1
      (3L, "a b c x"),   // 3333 vs 1 and 2
      (4L, "z z z q")    // no sharing
    ).toDF("doc_id", "text").write.parquet(s"$base/docs")
    val res = Main.run(spark, "dedup", Map(
      "in" -> s"$base/docs", "out" -> outFile, "mode" -> "sweep"))
    assert(res.contains("\"n_pairs\":3"), res)
    assert(res.contains("""{"bin_bp":9500,"n_pairs":1,"n_pairs_ge":1}"""),
      res)
    assert(res.contains("""{"bin_bp":3000,"n_pairs":2,"n_pairs_ge":3}"""),
      res)
    val hist = spark.read.option("header", "true").csv(outFile)
    assert(hist.count() === 2L)
  }

  test("layout subcommand: range, zorder and compact modes round-trip") {
    val base = tmpDir("main_layout")
    val src = s"$base/src"
    Tables.events(spark, TestSpark.sf)
      .select($"event_id", $"user_id", $"value")
      .repartition(8).write.parquet(src)
    val n = spark.read.parquet(src).count()

    val rng = Main.run(spark, "layout", Map("in" -> src,
      "out" -> s"$base/rng", "mode" -> "range", "by" -> "event_id",
      "files" -> "4"))
    assert(rng.contains("\"files\":4"), rng)
    assert(spark.read.parquet(s"$base/rng").count() === n)

    val zo = Main.run(spark, "layout", Map("in" -> src,
      "out" -> s"$base/zo", "mode" -> "zorder", "by" -> "user_id,value",
      "files" -> "4"))
    assert(zo.contains("\"mode\":\"zorder\""), zo)
    assert(spark.read.parquet(s"$base/zo").count() === n)

    val cp = Main.run(spark, "layout", Map("in" -> src,
      "out" -> s"$base/cp", "mode" -> "compact"))
    assert(cp.contains("\"filesWritten\":1"), cp)
    assert(spark.read.parquet(s"$base/cp").count() === n)
  }

  test("settle: quality -> cascade -> budget funnel with provenance", Slow) {
    val base = tmpDir("main_settle")
    val src = s"$base/docs"
    val sharedPassage = "shared boiler plate passage repeated across docs " +
      "verbatim every time"
    val docs = Seq(
      // survives every tier
      (1L, "the unique first document with a plenty long body of " +
        "original prose that nobody else repeats anywhere at all", "s1"),
      // exact duplicate pair -> 3 dropped_exact
      (2L, "the same exact text body that appears twice in the corpus " +
        "with more than enough words to pass quality", "s1"),
      (3L, "the same exact text body that appears twice in the corpus " +
        "with more than enough words to pass quality", "s1"),
      // killed by the quality gate (too short)
      (4L, "too short", "s2"),
      // share an 8-token passage -> cleaned_substr
      (5L, s"a fine document and then $sharedPassage trailing words on", "s2"),
      (6L, s"the other carrier text of $sharedPassage closing remarks x", "s2"))
      .toDF("doc_id", "text", "source")
    docs.write.parquet(src)
    val out = s"$base/settled"
    val res = Main.run(spark, "settle", Map(
      "in" -> src, "out" -> out, "min-words" -> "5"))
    assert(res.contains("\"raw\":6") && res.contains("\"quality\":5"), res)
    assert(res.contains("\"dropped_exact\":1"), res)
    assert(res.contains("\"cleaned_substr\":2"), res)
    assert(res.contains("\"kept\":2"), res)
    assert(res.contains("\"settled\":4"), res)
    val corpus = spark.read.parquet(s"$out/corpus")
    assert(corpus.count() === 4L)
    assert(corpus.columns.contains("source"))
    // the shared passage is gone from both carriers
    val cleaned = corpus.filter($"id".isin(5L, 6L))
      .select("clean_text").collect().map(_.getString(0))
    cleaned.foreach(t => assert(!t.contains("boiler"), t))
    val audit = spark.read.parquet(s"$out/audit")
    assert(audit.count() === 5L) // every quality survivor explained
    // with a budget: s1 capped to its best doc by quality-per-token
    val res2 = Main.run(spark, "settle", Map(
      "in" -> src, "out" -> s"$base/settled2", "min-words" -> "5",
      "budget" -> "20", "source" -> "source"))
    val settled2 = """"settled":(\d+)""".r.findFirstMatchIn(res2).get
      .group(1).toInt
    assert(settled2 < 4, res2)
  }

  test("settle --para-split adds the CCNet paragraph tier before the " +
    "document cascade") {
    val base = tmpDir("main_settle_para")
    val footer = "copyright footer navigation menu subscribe banner " +
      "repeated on every single page of the site"
    val docs = Seq(
      (1L, s"genuinely original article body with plenty of words\n\n$footer",
        "s1"),
      (2L, s"$footer\n\nanother unique article body with plenty of words",
        "s1"),
      // boilerplate-only doc: emptied by the paragraph tier
      (3L, footer, "s2"))
      .toDF("doc_id", "text", "source")
    docs.write.parquet(s"$base/docs")
    val res = Main.run(spark, "settle", Map(
      "in" -> s"$base/docs", "out" -> s"$base/out",
      "min-words" -> "5", "para-split" -> "\\n{2,}"))
    assert(res.contains("\"raw\":3") && res.contains("\"quality\":3"), res)
    assert(res.contains("\"para\":2"), res)
    assert(res.contains("\"settled\":2"), res)
    val corpus = spark.read.parquet(s"$base/out/corpus")
    val texts = corpus.select("clean_text").collect().map(_.getString(0))
    // the footer survives only in its first carrier (doc 1)
    assert(texts.count(_.contains("copyright")) === 1, texts.toSeq)
  }

  test("settle --longmatch cuts maximal duplicated runs before the " +
    "cascade and counts the tier in the funnel") {
    val base = tmpDir("main_settle_lm")
    val run = (1 to 14).map(i => s"dup$i").mkString(" ")
    val pad = (1 to 10).map(i => s"pad$i").mkString(" ")
    Seq(
      (1L, s"the a of $pad $run end1 end2"),
      (2L, s"the a of other1 other2 other3 $run tail1 $pad"),
      (3L, s"the a of wholly unrelated prose with its own words $pad"))
      .toDF("doc_id", "text").write.parquet(s"$base/docs")
    val res = Main.run(spark, "settle", Map(
      "in" -> s"$base/docs", "out" -> s"$base/out",
      "min-words" -> "5", "longmatch" -> "10"))
    assert(res.contains("\"longmatch\":3"), res)
    assert(res.contains("\"settled\":3"), res)
    val corpus = spark.read.parquet(s"$base/out/corpus")
      .select($"id", $"clean_text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 is the first carrier: its run survives; doc 2's copy is cut
    assert(corpus(1L).contains("dup1"), corpus(1L))
    assert(!corpus(2L).contains("dup1"), corpus(2L))
  }

  test("release: settle -> select -> datacard -> export in one command, " +
    "bit-identical re-run", Slow) {
    val base = tmpDir("main_release")
    val src = s"$base/docs"
    val sharedPassage = "shared boiler plate passage repeated across " +
      "docs verbatim every time"
    val docs = Seq(
      // on-target prose (matches the DSIR target vocabulary; written
      // as natural text so the stopword-ratio quality rule passes)
      (1L, "the spark shuffle join of a query plan with the executor " +
        "and a partition for broadcast aggregate in memory on one stage", "s1"),
      (2L, "a query plan for the optimizer and its join shuffle with " +
        "partition pruning in codegen of the whole stage aggregate", "s1"),
      // exact duplicate pair -> one dropped_exact
      (3L, "the same exact text body that appears twice in the corpus " +
        "with more than enough words to pass", "s1"),
      (4L, "the same exact text body that appears twice in the corpus " +
        "with more than enough words to pass", "s1"),
      // killed by the quality gate
      (5L, "too short", "s2"),
      // shared 8-token passage -> cleaned_substr pair
      (6L, s"a fine document and then $sharedPassage trailing words on", "s2"),
      (7L, s"the other carrier text of $sharedPassage closing remarks x", "s2"),
      // off-target prose
      (8L, "the cooking recipe with butter and flour plus sugar in an " +
        "oven to bake it with cream and vanilla on the dough", "s2"))
      .toDF("doc_id", "text", "source")
    docs.write.parquet(src)
    val target = s"$base/target"
    Seq((1L, "the spark query join and shuffle plan of an aggregate " +
      "partition on the executor with broadcast for a stage"))
      .toDF("doc_id", "text")
      .write.parquet(target)
    def runOnce(out: String): String = Main.run(spark, "release", Map(
      "in" -> src, "out" -> out, "min-words" -> "5",
      "target" -> target, "keep-bp" -> "5000",
      "shards" -> "2", "epochs" -> "2"))
    val (out1, out2) = (s"$base/rel1", s"$base/rel2")
    val r1 = runOnce(out1)
    val r2 = runOnce(out2)
    // funnel: every planted pathology caught by its tier
    assert(r1.contains("\"raw\":8") && r1.contains("\"quality\":7"), r1)
    assert(r1.contains("\"dropped_exact\":1"), r1)
    assert(r1.contains("\"cleaned_substr\":2"), r1)
    val nKept = "\"n_kept\":(\\d+)".r.findFirstMatchIn(r1).get
      .group(1).toInt
    assert(nKept >= 1 && nKept <= 6, r1)
    // datacard landed as a file and matches the JSON in the response
    def card(out: String) = java.nio.file.Files
      .readString(java.nio.file.Paths.get(out, "datacard.json")).trim
    assert(card(out1).contains("\"command\":\"datacard\""), card(out1))
    // the shards hold exactly the selected corpus, every epoch
    val sel = spark.read.parquet(s"$out1/selected")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(sel.size === nKept)
    for (e <- 0 to 1) {
      val got = spark.read.json(s"$out1/shards/epoch=$e")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got === sel, s"epoch $e shards diverge from the selection")
    }
    // bit-identical re-run: same response JSON (modulo the out path),
    // same datacard, same (id, epoch, shard) assignment
    assert(r1.replace(out1, "OUT") === r2.replace(out2, "OUT"))
    assert(card(out1) === card(out2))
    def assignment(out: String) = spark.read.json(s"$out/shards")
      .select("id", "epoch", "shard").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(assignment(out1) === assignment(out2))
  }

  test("quality subcommand reports kills and lands passing docs") {
    val base = tmpDir("main_quality")
    val src = s"$base/docs"
    Seq(
      (1L, "the cat and a dog ran all the way home again today fast"),
      (2L, "too short")
    ).toDF("doc_id", "text").write.parquet(src)
    val out = s"$base/kept.csv"
    val res = Main.run(spark, "quality", Map(
      "in" -> src, "out" -> out, "min-words" -> "5"))
    assert(res.contains("\"n_docs\":2") &&
      res.contains("\"n_killed\":1") &&
      res.contains("\"kill_word_count\":1"), res)
    val kept = graft.sources.CsvSource.readInferred(spark, Seq(out))
    assert(kept.count() === 1L)
  }

  test("quality subcommand: --blocklist stacks on the rule gate") {
    val base = tmpDir("main_quality_bl")
    val src = s"$base/docs"
    Seq(
      (1L, "the cat and a dog ran all the way home again today fast"),
      (2L, "a spammy doc where forbidden words ruin the long offer now"),
      (3L, "too short")
    ).toDF("doc_id", "text").write.parquet(src)
    val out = s"$base/kept.csv"
    val res = Main.run(spark, "quality", Map(
      "in" -> src, "out" -> out, "min-words" -> "5",
      "blocklist" -> "forbidden,illegal"))
    assert(res.contains("\"n_blocklisted\":1"), res)
    val kept = graft.sources.CsvSource.readInferred(spark, Seq(out))
      .selectExpr("cast(doc_id as long)")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L), s"rule kill (3) and wordlist kill (2): $kept")
  }

  test("settle --repetition true stacks the family into the funnel") {
    val base = tmpDir("main_settle_rep")
    val p = "the quick brown fox jumped over a lazy dog near big river"
    Seq(
      (1L, "the a " + (1 to 35).map(i => f"w$i%02dab").mkString(" ")),
      (2L, s"$p $p and some more words after all"))
      .toDF("doc_id", "text").write.parquet(s"$base/docs")
    val res = Main.run(spark, "settle", Map(
      "in" -> s"$base/docs", "out" -> s"$base/out", "min-words" -> "5",
      "repetition" -> "true"))
    assert(res.contains("\"quality\":2") &&
      res.contains("\"repetition\":1") &&
      res.contains("\"settled\":1"), res)
    val corpus = spark.read.parquet(s"$base/out/corpus")
    assert(corpus.select($"id").collect()
      .map(_.getLong(0)).toSet === Set(1L))
  }

  test("quality subcommand: --repetition stacks the full Gopher family") {
    val base = tmpDir("main_quality_rep")
    val src = s"$base/docs"
    // doc 2 passes the basic rule gate but repeats its 12-token
    // opening paragraph; doc 1 is diverse and long enough for every
    // repetition threshold
    val p = "the quick brown fox jumped over a lazy dog near big river"
    Seq(
      (1L, "the a " + (1 to 35).map(i => f"w$i%02dab").mkString(" ")),
      (2L, s"$p $p and some more words after all")
    ).toDF("doc_id", "text").write.parquet(src)
    val out = s"$base/kept.csv"
    val res = Main.run(spark, "quality", Map(
      "in" -> src, "out" -> out, "min-words" -> "5",
      "repetition" -> "true"))
    assert(res.contains("\"n_killed\":0"), res) // base rules kill nobody
    assert(res.contains("\"n_repetition_killed\":1") &&
      res.contains("\"n_repetition_killed_rule_pass\":1"), res)
    val kept = graft.sources.CsvSource.readInferred(spark, Seq(out))
      .selectExpr("cast(doc_id as long)")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L), s"repetition kill (2): $kept")
  }

  test("select subcommand: both modes keep a target-shaped subset") {
    val base = tmpDir("main_select")
    val poolP = s"$base/pool"
    val targetP = s"$base/target"
    // target-like docs are RARE in the pool (the real shape: the raw
    // label sample must be mostly-negative for separation to hold)
    ((1L to 10L).map(i => (i, s"spark scala catalyst tungsten t$i")) ++
      (11L to 80L).map(i => (i, s"cobol fortran basic pascal r$i")))
      .toDF("doc_id", "text").write.parquet(poolP)
    (1L to 20L).map(i => (1000L + i, s"spark catalyst scala shuffle g$i"))
      .toDF("doc_id", "text").write.parquet(targetP)
    def keptFracs(path: String): (Double, Double) = {
      val kept = graft.sources.CsvSource.readInferred(spark, Seq(path))
      (kept.filter($"doc_id" <= 10L).count() / 10.0,
        kept.filter($"doc_id" > 10L).count() / 70.0)
    }
    val outD = s"$base/kept_dsir.csv"
    val resD = Main.run(spark, "select", Map(
      "in" -> poolP, "target" -> targetP, "mode" -> "dsir",
      "buckets" -> "64", "keep-bp" -> "4000", "out" -> outD))
    assert(resD.contains("\"n_pool\":80"), resD)
    val (dT, dR) = keptFracs(outD)
    assert(dT > dR, s"dsir keep must lean target-shaped: $dT vs $dR")
    val outC = s"$base/kept_cls.csv"
    // stored-weights lifecycle: save on the first run, probe without
    // --target on the second — identical keep set
    val wDir = s"$base/weights"
    val resW = Main.run(spark, "select", Map(
      "in" -> poolP, "target" -> targetP, "mode" -> "dsir",
      "buckets" -> "64", "keep-bp" -> "4000", "save-weights" -> wDir))
    val resW2 = Main.run(spark, "select", Map(
      "in" -> poolP, "weights" -> wDir, "mode" -> "dsir",
      "keep-bp" -> "4000"))
    assert("\"n_kept\":\\d+".r.findFirstIn(resW) ===
      "\"n_kept\":\\d+".r.findFirstIn(resW2), s"$resW vs $resW2")
    val resC = Main.run(spark, "select", Map(
      "in" -> poolP, "target" -> targetP, "mode" -> "classifier",
      "dim" -> "64", "alpha" -> "4.0", "out" -> outC))
    assert(resC.contains("\"mode\":\"classifier\""), resC)
    val nKept = "\"n_kept\":(\\d+)".r.findFirstMatchIn(resC)
      .get.group(1).toLong
    assert(nKept > 0L && nKept < 80L, resC)
    val (cT, cR) = keptFracs(outC)
    assert(cT > cR, s"classifier keep must lean target-shaped: $cT vs $cR")
  }

  test("export subcommand: deterministic shard deal, balanced and " +
    "reproducible") {
    val base = tmpDir("main_export")
    (1L to 10L).map(i => (i, s"doc body number $i with words"))
      .toDF("doc_id", "text").write.parquet(s"$base/docs")
    val res = Main.run(spark, "export", Map(
      "in" -> s"$base/docs", "out" -> s"$base/shards", "shards" -> "3"))
    assert(res.contains("\"shards\":3"), res)
    // 10 docs round-robin into 3 shards → 4/3/3
    assert(res.contains("\"shard\":0,\"n_docs\":4"), res)
    assert(res.contains("\"shard\":2,\"n_docs\":3"), res)
    val back = spark.read.json(s"$base/shards")
    assert(back.count() === 10L)
    assert(back.select("doc_id").distinct().count() === 10L)
    assert(back.columns.toSet === Set("doc_id", "text", "shard"))
    // same seed → identical assignment; different seed → a different one
    val again = Main.run(spark, "export", Map(
      "in" -> s"$base/docs", "out" -> s"$base/shards2", "shards" -> "3"))
    assert(again.replace("shards2", "shards") === res)
    def assignment(p: String) = spark.read.json(p)
      .selectExpr("cast(doc_id as long)", "cast(shard as long)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assignment(s"$base/shards") === assignment(s"$base/shards2"))
    // multi-epoch: per-epoch dirs, each with its OWN shard assignment
    val resE = Main.run(spark, "export", Map(
      "in" -> s"$base/docs", "out" -> s"$base/epochs", "shards" -> "2",
      "epochs" -> "2"))
    assert(resE.contains("\"epochs\":2") &&
      resE.contains("\"epoch\":1"), resE)
    def eAssign(e: Int) = spark.read.json(s"$base/epochs/epoch=$e")
      .selectExpr("cast(doc_id as long)", "cast(shard as long)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(eAssign(0).keySet === eAssign(1).keySet,
      "every epoch carries the full corpus")
    assert(eAssign(0) !== eAssign(1),
      "epochs must not share a data order")
    intercept[IllegalArgumentException] {
      Main.run(spark, "export", Map("in" -> s"$base/docs",
        "out" -> s"$base/x", "epochs" -> "2", "seed" -> "s"))
    }
    // a re-export clears stale epoch dirs (a survivor would silently
    // hand a reader extra epochs)
    val stale = java.nio.file.Paths.get(s"$base/epochs/epoch=9")
    java.nio.file.Files.createDirectories(stale)
    Main.run(spark, "export", Map(
      "in" -> s"$base/docs", "out" -> s"$base/epochs", "shards" -> "2",
      "epochs" -> "2"))
    assert(!java.nio.file.Files.exists(stale),
      "stale epoch dirs must not survive a re-export")
    // an input already carrying a reserved working column must refuse
    // (e.g. re-exporting a previous export's output)
    Seq((1L, "t", 0L)).toDF("doc_id", "text", "shard")
      .write.parquet(s"$base/reexport")
    val e = intercept[IllegalArgumentException] {
      Main.run(spark, "export", Map(
        "in" -> s"$base/reexport", "out" -> s"$base/again"))
    }
    assert(e.getMessage.contains("reserves"), e.getMessage)
  }

  test("datacard subcommand: size, mix, quality and dup-rate in one " +
    "JSON; --neardup adds the sweep") {
    val base = tmpDir("main_datacard")
    val body = "the quick brown fox jumps over a lazy dog and then " +
      "runs all the way home again without ever stopping once today"
    Seq(
      (1L, body, "web"),
      (2L, body, "web"),            // exact dup of 1
      (3L, s"$body extra tail", "books"),
      (4L, "too short", "web"))     // quality kill
      .toDF("doc_id", "text", "source").write.parquet(s"$base/docs")
    val res = Main.run(spark, "datacard", Map(
      "in" -> s"$base/docs", "min-words" -> "5"))
    assert(res.contains("\"n_docs\":4"), res)
    assert(res.contains("\"source\":\"books\""), res)
    assert(res.contains("\"n_killed\":1"), res)
    assert(res.contains("\"groups\":3") &&
      res.contains("\"extra_copies\":1") &&
      res.contains("\"dup_rate_bp\":2500"), res)
    assert(!res.contains("neardup_bins"), res)
    val res2 = Main.run(spark, "datacard", Map(
      "in" -> s"$base/docs", "min-words" -> "5", "neardup" -> "true"))
    assert(res2.contains("\"neardup_bins\":["), res2)
    assert(res2.contains("\"bin_bp\":9000"), res2)
    // --longmatch: docs 2 and 3 carry doc 1's 22-token body as a
    // duplicated run (first carrier 1 exempt) → 44 duplicated tokens
    val res3 = Main.run(spark, "datacard", Map(
      "in" -> s"$base/docs", "min-words" -> "5", "longmatch" -> "10"))
    assert(res3.contains("\"longmatch\":{\"min_len\":10") &&
      res3.contains("\"dup_tokens\":44") &&
      res3.contains("\"docs_touched\":2"), res3)
  }

  test("motif subcommand surfaces the top pattern window") {
    val base = tmpDir("main_motif")
    val counts = Seq(1, 1, 3, 9, 3, 1, 1, 1)
    counts.zipWithIndex.flatMap { case (n, b) =>
      (0 until n).map(i =>
        new java.sql.Timestamp((b * 60L + i) * 1000L))
    }.toDF("ts").write.parquet(s"$base/events")
    val res = Main.run(spark, "motif", Map(
      "in" -> s"$base/events", "pattern" -> "0,2,8,2,0", "k" -> "2"))
    assert(res.contains("\"score_e4\":10000"), res)
    assert(res.contains("1970-01-01 00:01:00"), res)
  }

  test("dedup --mode paragraph lands the reassembled corpus") {
    val base = tmpDir("main_paradedup")
    Seq((1L, "unique alpha\n\nBOILER"), (2L, "BOILER\n\nunique beta"))
      .toDF("doc_id", "text").write.parquet(s"$base/docs")
    val res = Main.run(spark, "dedup", Map(
      "in" -> s"$base/docs", "out" -> s"$base/kept.csv",
      "mode" -> "paragraph"))
    assert(res.contains("\"parasRemoved\":1") &&
      res.contains("\"docsTouched\":1"), res)
    // multiLine: reassembled texts legitimately embed the rejoin
    // delimiter, which the CSV sink quotes
    val kept = spark.read.option("header", "true")
      .option("multiLine", "true").csv(s"$base/kept.csv").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kept("2") === "unique beta")
    assert(kept("1") === "unique alpha\nBOILER")
  }

  test("dedup --mode chunk removes intra-doc repeats only") {
    val base = tmpDir("main_chunkdedup")
    Seq((1L, "a b c d a b e f"),  // chunk (k=2) [a b] repeats in-doc
      (2L, "a b x y"))            // same chunk in another doc: untouched
      .toDF("doc_id", "text").write.parquet(s"$base/docs")
    val res = Main.run(spark, "dedup", Map(
      "in" -> s"$base/docs", "out" -> s"$base/kept.csv",
      "mode" -> "chunk", "chunk-tokens" -> "2"))
    assert(res.contains("\"chunksRemoved\":1") &&
      res.contains("\"docsTouched\":1"), res)
    val kept = spark.read.option("header", "true")
      .csv(s"$base/kept.csv").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kept("1") === "a b c d e f")
    assert(kept("2") === "a b x y")
  }

  test("screen --kind longmatch: settled passages flag as spans via " +
    "the saved window index") {
    val base = tmpDir("main_screen_lm")
    val run = (1 to 14).map(i => s"dup$i").mkString(" ")
    Seq((1L, s"pre1 pre2 $run post1"), (2L, "settled other words entirely"))
      .toDF("doc_id", "text").write.parquet(s"$base/corpus")
    Seq((100L, s"new1 new2 new3 $run tail1"),
      (101L, "novel text with no settled overlap at all today"))
      .toDF("doc_id", "text").write.parquet(s"$base/batch")
    // build + save the index from the corpus on the first screen
    val r1 = Main.run(spark, "screen", Map(
      "in" -> s"$base/batch", "corpus" -> s"$base/corpus",
      "out" -> s"$base/flagged1.csv", "kind" -> "longmatch",
      "min-len" -> "10", "save-index" -> s"$base/lmidx"))
    assert(r1.contains("\"flagged_spans\":1"), r1)
    // second screen serves from the STORED index, no --corpus
    val r2 = Main.run(spark, "screen", Map(
      "in" -> s"$base/batch", "index" -> s"$base/lmidx",
      "out" -> s"$base/flagged2.csv", "kind" -> "longmatch",
      "min-len" -> "10"))
    assert(r2.contains("\"flagged_spans\":1"), r2)
    val rows = spark.read.option("header", "true")
      .csv(s"$base/flagged2.csv").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq === Seq(("100", "4", "14")), rows.toSeq)
  }

  test("screen --kind longmatch --append-index: a screened batch's " +
    "windows fold into the stored index, so the NEXT batch flags " +
    "content only the first batch carried") {
    val base = tmpDir("main_screen_lm_append")
    val run = (1 to 14).map(i => s"dup$i").mkString(" ")
    val novel = (1 to 14).map(i => s"new$i").mkString(" ")
    Seq((1L, s"pre1 pre2 $run post1"))
      .toDF("doc_id", "text").write.parquet(s"$base/corpus")
    // batch 1 carries a NOVEL run the corpus does not have
    Seq((100L, s"lead1 lead2 $novel tail1"))
      .toDF("doc_id", "text").write.parquet(s"$base/batch1")
    // batch 2 repeats batch 1's novel run
    Seq((200L, s"open1 $novel close1 close2"))
      .toDF("doc_id", "text").write.parquet(s"$base/batch2")
    val r0 = Main.run(spark, "screen", Map(
      "in" -> s"$base/batch1", "corpus" -> s"$base/corpus",
      "out" -> s"$base/f0.csv", "kind" -> "longmatch",
      "min-len" -> "10", "save-index" -> s"$base/lmidx"))
    assert(r0.contains("\"flagged_spans\":0"), r0)
    // screen batch 1 against the stored index AND fold it in
    val r1 = Main.run(spark, "screen", Map(
      "in" -> s"$base/batch1", "index" -> s"$base/lmidx",
      "out" -> s"$base/f1.csv", "kind" -> "longmatch",
      "min-len" -> "10", "append-index" -> "true"))
    assert(r1.contains("\"flagged_spans\":0") &&
      r1.contains("\"appended_index\":"), r1)
    // batch 2's copy of the novel run now flags via the appended index
    val r2 = Main.run(spark, "screen", Map(
      "in" -> s"$base/batch2", "index" -> s"$base/lmidx",
      "out" -> s"$base/f2.csv", "kind" -> "longmatch",
      "min-len" -> "10"))
    assert(r2.contains("\"flagged_spans\":1"), r2)
    val rows = spark.read.option("header", "true")
      .csv(s"$base/f2.csv").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq === Seq(("200", "2", "14")), rows.toSeq)
    // misuse refuses loudly
    intercept[IllegalArgumentException] {
      Main.run(spark, "screen", Map(
        "in" -> s"$base/batch1", "corpus" -> s"$base/corpus",
        "out" -> s"$base/f3.csv", "kind" -> "longmatch",
        "min-len" -> "10", "append-index" -> "true"))
    }
  }

  test("dedup --mode longmatch cuts the maximal copied run, keeps the " +
    "first carrier, and reports the cap") {
    val base = tmpDir("main_longmatch")
    val run = (1 to 14).map(i => s"dup$i").mkString(" ")
    Seq((1L, s"open1 open2 $run close1 close2"),
      (2L, s"other1 other2 other3 $run tail1"),
      (3L, "wholly unrelated prose with its own words entirely"))
      .toDF("doc_id", "text").write.parquet(s"$base/docs")
    val res = Main.run(spark, "dedup", Map(
      "in" -> s"$base/docs", "out" -> s"$base/kept.csv",
      "mode" -> "longmatch", "min-len" -> "10"))
    assert(res.contains("\"tokensRemoved\":14") &&
      res.contains("\"docsTouched\":1"), res)
    assert(res.contains("\"capReport\":") &&
      res.contains("\"n_dropped_windows\":0"), res)
    val kept = spark.read.option("header", "true")
      .csv(s"$base/kept.csv").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kept("1") === s"open1 open2 $run close1 close2")
    assert(kept("2") === "other1 other2 other3 tail1")
    assert(kept("3") === "wholly unrelated prose with its own words entirely")
  }

  test("decon --mode fuzzy flags the near-copy the exact tiers miss") {
    val base = tmpDir("main_decon_fuzzy")
    val evalText = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearCopy = (1 to 40).map(i =>
      if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    Seq((1L, nearCopy), (2L, "completely different words here today"))
      .toDF("doc_id", "text").write.parquet(s"$base/train")
    Seq((900L, evalText)).toDF("doc_id", "text")
      .write.parquet(s"$base/eval")
    val res = Main.run(spark, "decon", Map(
      "in" -> s"$base/train", "eval" -> s"$base/eval",
      "mode" -> "fuzzy", "out" -> s"$base/hits.csv"))
    assert(res.contains("\"rows\":1"), res)
    assert(res.contains("\"n\":3"),
      s"fuzzy must report its own shingle order, not the exact-tier " +
        s"--n default: $res")
    val hits = spark.read.option("header", "true").csv(s"$base/hits.csv")
      .select("train_id").collect().map(_.getString(0)).toSet
    assert(hits === Set("1"))
    // --n belongs to the exact tiers; fuzzy refuses it loudly instead
    // of silently reinterpreting it as the shingle order
    val e = intercept[IllegalArgumentException] {
      Main.run(spark, "decon", Map(
        "in" -> s"$base/train", "eval" -> s"$base/eval",
        "mode" -> "fuzzy", "n" -> "8"))
    }
    assert(e.getMessage.contains("--shingle-n"), e.getMessage)
    // the dedicated flag steers the shingle order and is reported back
    val res5 = Main.run(spark, "decon", Map(
      "in" -> s"$base/train", "eval" -> s"$base/eval",
      "mode" -> "fuzzy", "shingle-n" -> "5"))
    assert(res5.contains("\"n\":5"), res5)
    // STORED eval signatures: sign eval once (the screen --save-index
    // store), then fuzzy-screen from the store — no --eval read at all,
    // identical hits
    graft.operators.Dedup.minhashSignatures(
        Seq((900L, evalText)).toDF("doc_id", "text"), "doc_id", "text")
      .write.parquet(s"$base/evalsigs")
    val resS = Main.run(spark, "decon", Map(
      "in" -> s"$base/train", "eval-sigs" -> s"$base/evalsigs",
      "mode" -> "fuzzy", "out" -> s"$base/hits2.csv"))
    assert(resS.contains("\"rows\":1"), resS)
    val hits2 = spark.read.option("header", "true").csv(s"$base/hits2.csv")
      .select("train_id").collect().map(_.getString(0)).toSet
    assert(hits2 === Set("1"))
    graft.core.Caching.releaseAll()
  }

  test("colloc and buckets subcommands surface the analysis tiers") {
    val base = tmpDir("main_analyze")
    (Seq((1L, "new york new york city", "s"),
      (2L, "new york again today", "s")) ++
      (3L to 11L).map(i => (i, "common words common words", "s")))
      .toDF("doc_id", "text", "source").write.parquet(s"$base/docs")
    val colloc = Main.run(spark, "colloc", Map(
      "in" -> s"$base/docs", "min-count" -> "2", "top" -> "3"))
    assert(colloc.contains("\"a\":\"new\"") &&
      colloc.contains("\"b\":\"york\""), colloc)
    val buckets = Main.run(spark, "buckets", Map(
      "in" -> s"$base/docs", "out" -> s"$base/labels"))
    assert(buckets.contains("\"command\":\"buckets\""), buckets)
    val labeled = spark.read.parquet(s"$base/labels")
    assert(labeled.count() === 11L)
    // n = 11: head floor(11*3333/1e4) = 3, head+middle 7, tail 4
    assert(buckets.contains("\"head\":3") &&
      buckets.contains("\"middle\":4") &&
      buckets.contains("\"tail\":4"), buckets)
  }

  test("lm subcommand: build a stored LM, probe a batch against it") {
    val base = tmpDir("main_lm")
    Seq((1L, "common common common rare"), (2L, "common common"))
      .toDF("doc_id", "text").write.parquet(s"$base/corpus")
    val built = Main.run(spark, "lm", Map(
      "in" -> s"$base/corpus", "lm" -> s"$base/lm", "build" -> "true"))
    assert(built.contains("\"total_tokens\":6"), built)
    Seq((10L, "rare"), (11L, "alien"))
      .toDF("doc_id", "text").write.parquet(s"$base/batch")
    val probed = Main.run(spark, "lm", Map(
      "in" -> s"$base/batch", "lm" -> s"$base/lm",
      "out" -> s"$base/scored"))
    // both docs score bits(6)-bits(1) = 2 bits -> 200 cb
    assert(probed.contains("\"n_docs\":2") &&
      probed.contains("\"mean_surprisal_cb\":200"), probed)
    assert(spark.read.parquet(s"$base/scored").count() === 2L)
  }

  test("rank subcommand: corpus scan, index build, and index serve agree") {
    val base = tmpDir("main_rank")
    Seq((1L, "alpha beta beta gamma"), (2L, "alpha gamma gamma"),
        (3L, "delta epsilon"))
      .toDF("doc_id", "text").write.parquet(s"$base/docs")
    val scan = Main.run(spark, "rank", Map(
      "in" -> s"$base/docs", "terms" -> "beta,gamma",
      "out" -> s"$base/scan"))
    assert(scan.contains("\"command\":\"rank\"") &&
      scan.contains("\"n_ranked\":2"), scan)
    val built = Main.run(spark, "rank", Map(
      "in" -> s"$base/docs", "build-index" -> s"$base/idx",
      "buckets" -> "8"))
    assert(built.contains("\"n_docs\":3") &&
      built.contains("\"total_tokens\":9"), built)
    val served = Main.run(spark, "rank", Map(
      "index" -> s"$base/idx", "terms" -> "beta,gamma",
      "out" -> s"$base/served"))
    assert(served.contains("\"n_ranked\":2"), served)
    // store round-trip is bit-identical to the corpus scan
    val a = spark.read.parquet(s"$base/scan").collect().toSeq
    val b = spark.read.parquet(s"$base/served").collect().toSeq
    assert(a === b)
    // incremental append keeps the stats exact
    Seq((4L, "beta delta")).toDF("doc_id", "text")
      .write.parquet(s"$base/more")
    val appended = Main.run(spark, "rank", Map(
      "in" -> s"$base/more", "append-index" -> s"$base/idx"))
    assert(appended.contains("\"n_docs\":4") &&
      appended.contains("\"total_tokens\":11"), appended)
    // layout-health verdict rides the append report (the ANN
    // staleness-verdict pattern applied to term-bucket routing)
    assert(appended.contains("\"bucket_balance\":"), appended)
    assert(appended.contains("\"max_bucket_postings\":"), appended)
    // batch face: two probe queries in one plan; the qid-0 slice
    // equals a fresh single-query serve of the (appended) index
    val batch = Main.run(spark, "rank", Map(
      "index" -> s"$base/idx", "queries" -> "0:beta,gamma;1:delta",
      "out" -> s"$base/batch"))
    assert(batch.contains("\"n_queries\":2"), batch)
    Main.run(spark, "rank", Map("index" -> s"$base/idx",
      "terms" -> "beta,gamma", "out" -> s"$base/served2"))
    val bres = spark.read.parquet(s"$base/batch")
    val slice0 = bres.filter($"qid" === 0L)
      .select($"id", $"n_hit_terms", $"score_e4").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val single = spark.read.parquet(s"$base/served2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(slice0 === single)
    assert(bres.filter($"qid" === 1L).count() > 0L)
    // retraction: removing the appended doc restores the pre-append
    // store exactly (stats subtract; serving loses the doc)
    val removed = Main.run(spark, "rank", Map(
      "in" -> s"$base/more", "remove-index" -> s"$base/idx"))
    assert(removed.contains("\"n_docs\":3") &&
      removed.contains("\"total_tokens\":9"), removed)
    Main.run(spark, "rank", Map("index" -> s"$base/idx",
      "terms" -> "beta,gamma", "out" -> s"$base/served3"))
    assert(spark.read.parquet(s"$base/served3").collect().toSeq === a)
    // the flag family refuses combined invocations
    intercept[IllegalArgumentException] {
      Main.run(spark, "rank", Map("in" -> s"$base/more",
        "remove-index" -> s"$base/idx", "append-index" -> s"$base/idx"))
    }
  }

  test("query --hybrid fuses the ANN and stored-BM25 shortlists") {
    val base = tmpDir("main_hybrid")
    val rnd = new java.util.Random(31L)
    val rows = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    rows.toDF("vec_id", "embedding").write.parquet(s"$base/emb")
    Main.run(spark, "index", Map("in" -> s"$base/emb",
      "out" -> s"$base/ann", "target-cluster-size" -> "16"))
    (0L until 40L).map(i =>
        (i, if (i % 3 == 0) s"alpha beta doc$i" else s"gamma doc$i"))
      .toDF("doc_id", "text").write.parquet(s"$base/docs")
    Main.run(spark, "rank", Map("in" -> s"$base/docs",
      "build-index" -> s"$base/bm25", "buckets" -> "8"))
    val fused = Main.run(spark, "query", Map(
      "index" -> s"$base/ann", "id" -> "0", "k" -> "5",
      "probe" -> "16", "hybrid" -> "true",
      "bm25-index" -> s"$base/bm25", "terms" -> "alpha,beta"))
    assert(fused.contains("\"hybrid\":true") &&
      fused.contains("\"rrf_e6\":"), fused)
    val scores = """"rrf_e6":(\d+)""".r.findAllMatchIn(fused)
      .map(_.group(1).toLong).toSeq
    assert(scores.nonEmpty && scores === scores.sorted.reverse,
      s"fused hits must rank by descending rrf: $fused")
    // --hybrid without the lexical leg's options refuses loudly
    intercept[IllegalArgumentException] {
      Main.run(spark, "query", Map("index" -> s"$base/ann",
        "id" -> "0", "hybrid" -> "true"))
    }
  }

  test("ingest subcommand: one command runs the composed quality -> " +
    "dedup -> selection chain with per-tier funnel attribution", Slow) {
    import graft.operators.{Dedup, Dsir}
    val base = tmpDir("main_ingest")
    val settledText = "the a settled corpus document about data " +
      (1 to 30).map(i => f"s$i%02dab").mkString(" ")
    Dedup.minhashSignatures(
        Seq((1L, settledText)).toDF("doc_id", "text"), "doc_id", "text")
      .write.mode("overwrite").parquet(s"$base/sig")
    Dsir.bucketWeights(
        Seq(1L -> "spark scala catalyst spark").toDF("doc_id", "text"),
        Seq(10L -> "cobol fortran basic").toDF("doc_id", "text"),
        "text", buckets = 64)
      .write.mode("overwrite").parquet(s"$base/weights")
    // stored eval-gram index: doc 102 leaks this benchmark passage
    val evalPassage = "alpha bravo charlie delta echo foxtrot golf " +
      "hotel india juliet"
    graft.operators.Decontaminate.evalGramIndex(
        Seq((900L, evalPassage)).toDF("doc_id", "text"), "text", n = 8)
      .write.mode("overwrite").parquet(s"$base/evalidx")
    Seq(
      (100L, "the a spark scala catalyst tungsten " +
        (1 to 30).map(i => f"g$i%02dab").mkString(" ")),  // kept
      (101L, "too short"),                                 // rule kill
      (102L, s"the a spark scala $evalPassage " +
        (1 to 30).map(i => f"l$i%02dab").mkString(" ")),   // decon kill
      (103L, settledText),                                 // dup kill
      (104L, "the a cobol fortran basic pascal " +
        (1 to 30).map(i => f"c$i%02dab").mkString(" "))    // sel kill
    ).toDF("doc_id", "text").write.parquet(s"$base/docs")
    val res = Main.run(spark, "ingest", Map(
      "in" -> s"$base/docs", "sig" -> s"$base/sig",
      "weights" -> s"$base/weights", "out" -> s"$base/out",
      "min-words" -> "5", "min-cb" -> "0", "chunk" -> "3",
      "decon-index" -> s"$base/evalidx"))
    assert(res.contains("\"command\":\"ingest\"") &&
      res.contains("\"sent\":5") && res.contains("\"batches\":2") &&
      res.contains("\"n_rule_killed\":1") &&
      res.contains("\"n_decon_killed\":1") &&
      res.contains("\"n_dup_killed\":1") &&
      res.contains("\"n_sel_killed\":1") &&
      res.contains("\"n_kept\":1"), res)
    val kept = spark.read.parquet(s"$base/out/kept")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(100L), s"got $kept")
  }

  test("ingest report over a MIXED-schema funnel: pre-upgrade " +
    "partitions (no n_fuzzy_killed) merge with the absent tier as " +
    "zero — the upgrade path every long-lived deployment walks") {
    import graft.operators.{Dedup, Dsir}
    val base = tmpDir("main_funnel_mixed")
    Dedup.minhashSignatures(
        Seq((1L, "the a settled corpus doc " +
          (1 to 30).map(i => f"z$i%02dab").mkString(" ")))
          .toDF("doc_id", "text"), "doc_id", "text")
      .write.parquet(s"$base/sig")
    Dsir.bucketWeights(
        Seq(1L -> "spark scala catalyst spark").toDF("doc_id", "text"),
        Seq(10L -> "cobol fortran basic").toDF("doc_id", "text"),
        "text", buckets = 64)
      .write.parquet(s"$base/weights")
    Seq(
      (100L, "the a spark scala catalyst tungsten " +
        (1 to 30).map(i => f"g$i%02dab").mkString(" ")), // kept
      (101L, "too short")                                // rule kill
    ).toDF("doc_id", "text").write.parquet(s"$base/docs")
    def ingest(): String = Main.run(spark, "ingest", Map(
      "in" -> s"$base/docs", "sig" -> s"$base/sig",
      "weights" -> s"$base/weights", "out" -> s"$base/out",
      "min-words" -> "5", "min-cb" -> "0", "chunk" -> "4"))
    def n(json: String, key: String): Long =
      (""""""" + key + """":(-?\d+)""").r
        .findFirstMatchIn(json).get.group(1).toLong
    val r1 = ingest()
    assert(n(r1, "n_in") === 2L && n(r1, "n_rule_killed") === 1L &&
      n(r1, "n_kept") === 1L, r1)
    // plant a PRE-UPGRADE funnel partition: a batch written by the
    // engine before the fuzzy tier existed — no n_fuzzy_killed column.
    // batch_id=99 never collides with the replay's own batch ids, so
    // it survives the second run's idempotent overwrites.
    Seq((7L, 2L, 0L, 0L, 0L, 1L, 0L, 0L, 4L, 5714L,
        Option.empty[Long], Option.empty[Boolean]))
      .toDF("n_in", "n_rule_killed", "n_rep_killed", "n_decon_killed",
        "n_decon_tokens_cut", "n_dup_killed", "n_lm_tokens_cut",
        "n_sel_killed", "n_kept", "kept_bp", "oov_bp", "drifted")
      .coalesce(1).write.parquet(s"$base/out/funnel/batch_id=99")
    // replay: same docs, same batch ids (overwritten idempotently);
    // the report read now merges BOTH schema generations
    val r2 = ingest()
    assert(n(r2, "batches") === n(r1, "batches") + 1L, r2)
    assert(n(r2, "n_in") === n(r1, "n_in") + 7L, r2)
    assert(n(r2, "n_rule_killed") === n(r1, "n_rule_killed") + 2L, r2)
    assert(n(r2, "n_dup_killed") === n(r1, "n_dup_killed") + 1L, r2)
    assert(n(r2, "n_kept") === n(r1, "n_kept") + 4L, r2)
    // the tier the old partition never wrote counts as ZERO, not null
    // and not an error
    assert(n(r2, "n_fuzzy_killed") === n(r1, "n_fuzzy_killed"), r2)
    graft.core.Caching.releaseAll()
  }

  test("retract subcommand: one command removes a doc from every " +
    "store it touches") {
    import graft.operators.{Dedup, Ivf, Vocab}
    val base = tmpDir("main_retract")
    val t7 = "the a " + (1 to 30).map(i => f"r$i%02dab").mkString(" ")
    val t8 = "the a " + (1 to 30).map(i => f"s$i%02dab").mkString(" ")
    val corpus = Seq((7L, t7), (8L, t8)).toDF("doc_id", "text")
    // every store the composed takedown covers
    Dedup.minhashSignatures(corpus, "doc_id", "text")
      .write.parquet(s"$base/sig")
    corpus.write.parquet(s"$base/docs")
    Main.run(spark, "rank", Map("in" -> s"$base/docs",
      "build-index" -> s"$base/bm25", "buckets" -> "8"))
    Vocab.writeLm(corpus, "text", s"$base/lm")
    Dedup.longMatchIndex(corpus, "doc_id", "text", minLen = 10)
      .write.parquet(s"$base/lmidx")
    val emb = Seq((7L, Array.fill(8)(0.25f)),
      (8L, Array.fill(8)(-0.5f))).toDF("vec_id", "embedding")
    val (_, assigned) = Ivf.index(emb, "vec_id", "embedding", nCells = 2,
      seed = 3L)
    Ivf.writeIndex(assigned, s"$base/ann/cells")
    Ivf.writeIdLookup(assigned, s"$base/ann/by_id", idBuckets = 4)
    assigned.unpersist()
    corpus.withColumn("batch_id",
        org.apache.spark.sql.functions.lit(0L))
      .write.partitionBy("batch_id").parquet(s"$base/kept")

    corpus.filter($"doc_id" === 7L).write.parquet(s"$base/gone")
    val res = Main.run(spark, "retract", Map("in" -> s"$base/gone",
      "sig" -> s"$base/sig", "bm25" -> s"$base/bm25",
      "ann" -> s"$base/ann", "lm" -> s"$base/lm",
      "longmatch" -> s"$base/lmidx", "kept" -> s"$base/kept"))
    assert(res.contains(""""command":"retract"""") &&
      res.contains(""""n_ids":1"""), res)
    assert(res.contains(""""sig":{"base_rows":1""") &&
      res.contains(""""bm25":{"n_docs":1""") &&
      res.contains(""""ann":{"removed":1""") &&
      res.contains(""""kept":{"rows":1"""), res)
    // spot-check each store lost exactly doc 7
    assert(spark.read.parquet(s"$base/sig").select($"id")
      .collect().map(_.getLong(0)).toSeq === Seq(8L))
    assert(spark.read.parquet(s"$base/kept").select($"doc_id")
      .collect().map(_.getLong(0)).toSeq === Seq(8L))
    assert(Ivf.readIndex(spark, s"$base/ann/cells")
      .filter($"id" === 7L).count() === 0L)
    assert(Vocab.readLm(spark, s"$base/lm")._2 === 32L,
      "lm total must drop to doc 8's token count")
    // a second retraction of the same doc refuses (strict presence)
    intercept[IllegalArgumentException] {
      Main.run(spark, "retract", Map("in" -> s"$base/gone",
        "sig" -> s"$base/sig"))
    }
    // no stores at all refuses loudly
    intercept[IllegalArgumentException] {
      Main.run(spark, "retract", Map("in" -> s"$base/gone"))
    }
    // PREFLIGHT: a multi-store retract where a LATER store would
    // refuse (doc 8's text drifted for bm25) must mutate NOTHING —
    // sig still carries doc 8 afterwards (the partial-takedown trap)
    corpus.filter($"doc_id" === 8L)
      .withColumn("text",
        org.apache.spark.sql.functions.concat($"text",
          org.apache.spark.sql.functions.lit(" DRIFTED")))
      .write.parquet(s"$base/gone8")
    val eP = intercept[IllegalArgumentException] {
      Main.run(spark, "retract", Map("in" -> s"$base/gone8",
        "sig" -> s"$base/sig", "bm25" -> s"$base/bm25"))
    }
    assert(eP.getMessage.contains("preflight refused on store 'bm25'") &&
      eP.getMessage.contains("nothing was mutated"), eP.getMessage)
    assert(spark.read.parquet(s"$base/sig").select($"id")
      .collect().map(_.getLong(0)).toSeq === Seq(8L),
      "preflight failure must leave every store untouched")
    // a NON-IllegalArgument preflight failure (a corrupt/absent store's
    // raw read error) keeps the same nothing-was-mutated framing — the
    // guarantee holds for every failure class, not just refusals
    val eC = intercept[IllegalArgumentException] {
      Main.run(spark, "retract", Map("in" -> s"$base/gone8",
        "sig" -> s"$base/sig", "bm25" -> s"$base/no_such_bm25_store"))
    }
    assert(eC.getMessage.contains("preflight refused on store 'bm25'") &&
      eC.getMessage.contains("nothing was mutated"), eC.getMessage)
    assert(spark.read.parquet(s"$base/sig").select($"id")
      .collect().map(_.getLong(0)).toSeq === Seq(8L))
    graft.core.Caching.releaseAll()
  }

  test("store --fsck e2e: reports crash windows read-only, --repair " +
    "restores the store and clears a stale lease") {
    import graft.operators.Vocab
    val base = tmpDir("main_fsck")
    val corpus = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    Vocab.writeLm(corpus, "text", s"$base/lm")
    Vocab.appendLm(Seq((2L, "beta")).toDF("doc_id", "text"), "text",
      s"$base/lm")
    val wantRows = Vocab.readLm(spark, s"$base/lm")._1.collect().toSet
    // plant a crashed removal (death between the promote renames) and
    // a stale writer lease
    intercept[IllegalStateException] {
      graft.core.Stores.withCrashAt(2) {
        Vocab.removeFromLm(Seq((2L, "beta")).toDF("doc_id", "text"),
          "text", s"$base/lm")
      }
    }
    val lease = new org.apache.hadoop.fs.Path(
      graft.core.Stores.leasePath(s"$base/lm"))
    val fs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(lease, false).close()
    // detect-only: findings reported, nothing repaired
    val r1 = Main.run(spark, "store", Map("fsck" -> base))
    assert(r1.contains(""""command":"store"""") &&
      r1.contains(""""repair":false""") &&
      r1.contains(""""n_repaired":0""") &&
      r1.contains("promote_interrupted") &&
      r1.contains("stale_lease"), r1)
    assert(fs.exists(lease))
    // --repair: window rolled forward, lease cleared, tree clean after
    val r2 = Main.run(spark, "store",
      Map("fsck" -> base, "repair" -> "true"))
    assert(r2.contains(""""repair":true""") &&
      !r2.contains(""""n_repaired":0"""), r2)
    assert(!fs.exists(lease))
    // the removal the crash interrupted is now COMPLETE (rolled
    // forward), so the store serves the post-removal truth
    assert(Vocab.readLm(spark, s"$base/lm")._1.collect().toSet !==
      wantRows)
    assert(Vocab.readLm(spark, s"$base/lm")._2 === 3L,
      "total must reflect the completed removal")
    val r3 = Main.run(spark, "store",
      Map("fsck" -> base, "repair" -> "true"))
    assert(r3.contains(""""n_findings":0"""), r3)
  }

  test("takedown lifecycle e2e: ingest settles a doc, retract removes " +
    "it from the corpus and the screen, and a fresh copy then ingests " +
    "as novel content", Slow) {
    import graft.operators.{Dedup, Dsir}
    val base = tmpDir("main_takedown")
    Dedup.minhashSignatures(
        Seq((1L, "the a unrelated settled seed text " +
          (1 to 30).map(i => f"s$i%02dab").mkString(" ")))
          .toDF("doc_id", "text"), "doc_id", "text")
      .write.mode("overwrite").parquet(s"$base/sig")
    Dsir.bucketWeights(
        Seq(1L -> "spark scala catalyst spark").toDF("doc_id", "text"),
        Seq(10L -> "cobol fortran basic").toDF("doc_id", "text"),
        "text", buckets = 64)
      .write.mode("overwrite").parquet(s"$base/weights")
    val good = "the a spark scala catalyst tungsten " +
      (1 to 30).map(i => f"g$i%02dab").mkString(" ")
    Seq((100L, good)).toDF("doc_id", "text")
      .write.parquet(s"$base/docs1")
    val r1 = Main.run(spark, "ingest", Map(
      "in" -> s"$base/docs1", "sig" -> s"$base/sig",
      "weights" -> s"$base/weights", "out" -> s"$base/out",
      "min-words" -> "5", "min-cb" -> "0"))
    assert(r1.contains("\"n_kept\":1"), r1)

    // takedown: doc 100 leaves the kept corpus AND the dedup screen
    Seq((100L, good)).toDF("doc_id", "text")
      .write.parquet(s"$base/gone")
    val rt = Main.run(spark, "retract", Map("in" -> s"$base/gone",
      "sig" -> s"$base/sig", "kept" -> s"$base/out/kept"))
    assert(rt.contains(""""kept":{"rows":1""") &&
      rt.contains(""""sig":{"base_rows":0,"settled_parts":1"""), rt)
    // the store's only batch partition emptied and is gone (a bare
    // schema-on-read parquet load would refuse an all-empty dir)
    val keptParts = Option(
      new java.io.File(s"$base/out/kept").listFiles()).toSeq.flatten
    assert(!keptParts.exists(_.getName.startsWith("batch_id=")),
      keptParts.map(_.getName).toString)
    // …but the store contract read stays clean: the _schema marker
    // gives an all-retracted store a zero-row read with the full
    // schema instead of a schema-inference error
    val emptied = graft.core.Stores.readOrEmpty(spark, s"$base/out/kept")
    assert(emptied.count() === 0L)
    assert(emptied.columns.contains("doc_id") &&
      emptied.columns.contains("batch_id"), emptied.columns.toSeq)
    // a retraction against the emptied store refuses on presence, not
    // on schema inference
    val eEmpty = intercept[IllegalArgumentException] {
      graft.streaming.StreamingIngest.removeFromKept(spark,
        s"$base/out/kept", Seq(100L).toDF("id"), "doc_id")
    }
    assert(eEmpty.getMessage.contains("kept rows"), eEmpty.getMessage)

    // a near-copy of the retracted text now ingests as NOVEL content
    // (pre-retraction it would have died against the settled sidecar)
    Seq((300L, good.replace("g30ab", "g30zz")))
      .toDF("doc_id", "text").write.parquet(s"$base/docs2")
    val r2 = Main.run(spark, "ingest", Map(
      "in" -> s"$base/docs2", "sig" -> s"$base/sig",
      "weights" -> s"$base/weights", "out" -> s"$base/out2",
      "min-words" -> "5", "min-cb" -> "0"))
    assert(r2.contains("\"n_dup_killed\":0") &&
      r2.contains("\"n_kept\":1"), r2)
    graft.core.Caching.releaseAll()
  }

  test("ingest --compact folds the settled sidecar into the base " +
    "store; the next run screens identically against the compacted " +
    "base", Slow) {
    import graft.operators.{Dedup, Dsir}
    val base = tmpDir("main_ingest_compact")
    val settledText = "the a settled corpus document about data " +
      (1 to 30).map(i => f"s$i%02dab").mkString(" ")
    Dedup.minhashSignatures(
        Seq((1L, settledText)).toDF("doc_id", "text"), "doc_id", "text")
      .write.mode("overwrite").parquet(s"$base/sig")
    Dsir.bucketWeights(
        Seq(1L -> "spark scala catalyst spark").toDF("doc_id", "text"),
        Seq(10L -> "cobol fortran basic").toDF("doc_id", "text"),
        "text", buckets = 64)
      .write.mode("overwrite").parquet(s"$base/weights")
    val good = "the a spark scala catalyst tungsten " +
      (1 to 30).map(i => f"g$i%02dab").mkString(" ")
    Seq((100L, good)).toDF("doc_id", "text")
      .write.parquet(s"$base/docs1")
    val res1 = Main.run(spark, "ingest", Map(
      "in" -> s"$base/docs1", "sig" -> s"$base/sig",
      "weights" -> s"$base/weights", "out" -> s"$base/out1",
      "min-words" -> "5", "min-cb" -> "0", "compact" -> "true"))
    // observability fields report the PRE-compaction sidecar; the fold
    // then empties it
    assert(res1.contains("\"settled_parts\":1") &&
      res1.contains("\"compacted\":true") &&
      res1.contains("\"folded_rows\":1"), res1)
    assert(res1.contains("\"settled_bytes\":") &&
      !res1.contains("\"settled_bytes\":0,"), res1)
    assert(!new java.io.File(
      graft.streaming.StreamingIngest.settledSigPath(s"$base/sig"))
      .exists(), "sidecar must be cleared after --compact")
    assert(spark.read.parquet(s"$base/sig")
      .select($"id").collect().map(_.getLong(0)).toSet === Set(1L, 100L))

    // run 2: a near-copy of the compacted doc must die against the
    // BASE store alone (the screen reads no sidecar now)
    Seq((300L, good.replace("g30ab", "g30zz")))
      .toDF("doc_id", "text").write.parquet(s"$base/docs2")
    val res2 = Main.run(spark, "ingest", Map(
      "in" -> s"$base/docs2", "sig" -> s"$base/sig",
      "weights" -> s"$base/weights", "out" -> s"$base/out2",
      "min-words" -> "5", "min-cb" -> "0"))
    assert(res2.contains("\"n_dup_killed\":1") &&
      res2.contains("\"n_kept\":0"), res2)

    // standalone compact-only: folds run 2's sidecar without an ingest
    val res3 = Main.run(spark, "ingest", Map(
      "compact-only" -> "true", "sig" -> s"$base/sig"))
    assert(res3.contains("\"compact_only\":true") &&
      res3.contains("\"folded_rows\":0"), res3)
  }

  test("topics subcommand renders a validated admin plan as JSON") {
    val create = Main.run(spark, "topics", Map(
      "bootstrap" -> "b:9092", "topic" -> "flow-events",
      "partitions" -> "32", "replication" -> "3",
      "retention-ms" -> "86400000"))
    assert(create.contains("\"command\":\"topics\"") &&
      create.contains("kafka-topics.sh") &&
      create.contains("--if-not-exists") &&
      create.contains("retention.ms=86400000"), create)
    val grow = Main.run(spark, "topics", Map(
      "bootstrap" -> "b:9092", "topic" -> "flow-events",
      "mode" -> "grow", "current" -> "8", "target" -> "32"))
    assert(grow.contains("--alter"), grow)
    // validation surfaces through the CLI: shrink and bad names reject
    intercept[IllegalArgumentException] {
      Main.run(spark, "topics", Map("bootstrap" -> "b:9092",
        "topic" -> "flow-events", "mode" -> "grow",
        "current" -> "32", "target" -> "8"))
    }
    intercept[IllegalArgumentException] {
      Main.run(spark, "topics", Map("bootstrap" -> "b:9092",
        "topic" -> "bad topic!"))
    }
  }
}
