package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Preprocess
import graft.ops.ModelRegistry
import graft.score.{Autoencoder, Trainer}

/** The reference's full lifecycle in one pass — preprocess → train →
  * persist weights → register → resolve-by-stage → score — proving the
  * pieces compose, not just pass their unit specs. Mirrors
  * `preprocess_cicids2017.py` → `train_autoencoder.py` →
  * `manage_model_registry.py` → `stream_anomaly_detector.py`.
  */
class LifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("preprocess → train → save → registry → load → score composes") {
    // messy raw input: dup rows, Infinity, nulls, mixed labels
    val rnd = new scala.util.Random(7)
    val benign = (1 to 60).map { i =>
      ("f" + i, Some(10.0 + rnd.nextGaussian()),
        Some(5.0 + rnd.nextGaussian()), Some(1.0 + rnd.nextGaussian()),
        "BENIGN")
    }
    val attacks = (1 to 10).map { i =>
      ("a" + i, Some(50.0 + rnd.nextGaussian()), Some(40.0), Some(9.0),
        "DoS Hulk")
    }
    val messy = Seq(
      ("dup", Some(10.0), Some(5.0), Some(1.0), "BENIGN"),
      ("dup", Some(10.0), Some(5.0), Some(1.0), "BENIGN"), // exact dup
      ("inf", Some(Double.PositiveInfinity), Some(5.0), Some(1.0), "BENIGN"),
      ("nul", None: Option[Double], Some(5.0), Some(1.0), "BENIGN"))
    val raw = (benign ++ attacks ++ messy)
      .toDF("Flow ID", " Feature A", "Feature B", "Feature C ", " Label")

    // 1. preprocess: sanitize → dedup → sweep → na.drop → label → split
    val prepared = Preprocess.run(raw, "Label", Seq("flow_id"))
    assert(prepared.counts("raw") === 74L)
    assert(prepared.counts("dedup") === 73L)  // exact dup collapsed
    assert(prepared.counts("clean") === 71L)  // inf + null rows dropped
    assert(prepared.counts("attacks") === 10L)
    val feats = prepared.train.columns.toSeq
    assert(feats.length === 3)

    // 2. train on the preprocessed benign-train features
    val trainVec = prepared.train
      .select(array(feats.map(col): _*).cast("array<double>").as("vec"))
    val (w, losses) = Trainer.train(trainVec, "vec",
      dims = Seq(3, 4, 2, 4, 3), epochs = 8, lr = 0.05)
    assert(losses.head > losses.last, s"loss must decrease: $losses")

    // 3. persist weights, register the version, resolve by stage
    val dir = Files.createTempDirectory("lifecycle_model").toString
    Autoencoder.save(spark, w, dir)
    val reg = ModelRegistry.table(spark, Seq(
      ModelRegistry.ModelVersion("ae", 1, "Production",
        "2026-01-01T00:00:00", losses.last)))
    val art = ModelRegistry.artifactTable(spark,
      Seq(ModelRegistry.Artifact("ae", 1, dir)))
    val loaded = Autoencoder.loadForStage(spark, reg, art, "ae", "Production")
    assert(loaded.ws.flatten.flatten.toSeq == w.ws.flatten.flatten.toSeq,
      "registry-resolved weights must round-trip bit-identically")

    // 4. score the held-out stream split with the loaded model
    val stream = prepared.stream
      .select(monotonically_increasing_id().as("row_id"),
        array(feats.map(col): _*).cast("array<double>").as("vec"))
    val scored = Autoencoder.scoreVectors(stream, "row_id", "vec", loaded,
      threshold = 1.0)
    val rows = scored.collect()
    assert(rows.length.toLong === prepared.counts("stream"))
    assert(rows.forall(r =>
      !r.getAs[Double]("anomaly_score").isNaN &&
        Set("normal", "anomaly").contains(r.getAs[String]("prediction"))))
    // the z-scored attack rows sit far from the benign training cloud —
    // reconstruction error must separate at least most of them
    val anomalies = scored.filter($"prediction" === "anomaly").count()
    assert(anomalies >= 1L, "attacks should trip the threshold")
  }

  test("ModelRegistry.save is crash-safe at EVERY promote step: the " +
    "registry is never unreadable, fsck --repair recovers the new " +
    "version, and a held lease refuses a second writer") {
    val base = Files.createTempDirectory("lifecycle_registry").toString
    val path = s"$base/registry"
    def rows(stage: String) = ModelRegistry.table(spark, Seq(
      ModelRegistry.ModelVersion("ae", 1, stage, "2026-01-01", 0.5)))
    def readStage(): String =
      ModelRegistry.load(spark, path).collect().head.getAs[String]("stage")
    ModelRegistry.save(rows("Staging"), path)
    assert(readStage() === "Staging")

    // the scorer's model-resolution table must survive a writer dying
    // at every rename/delete step of the promote
    var k = 0
    var fired = true
    while (fired) {
      fired =
        try {
          graft.core.Stores.withCrashAt(k) {
            ModelRegistry.save(rows("Production"), path)
          }
          false
        } catch {
          case e: IllegalStateException
              if e.getMessage.contains("injected crash") => true
        }
      if (fired) {
        val fix = graft.core.StoreFsck.fsck(spark, base, repair = true)
        assert(fix.nonEmpty, s"step $k: fsck must find the window")
        // the committed successor rolls FORWARD: the new version serves
        assert(readStage() === "Production", s"step $k")
        assert(graft.core.StoreFsck.fsck(spark, base).isEmpty,
          s"step $k: tree must be clean after repair")
        ModelRegistry.save(rows("Staging"), path) // reset for next k
      }
      k += 1
    }
    assert(k >= 4, s"expected to exercise >= 3 promote steps, got $k")

    // a held lease refuses a second writer loudly instead of
    // interleaving two registry overwrites
    val lease = new org.apache.hadoop.fs.Path(
      graft.core.Stores.leasePath(path))
    val fs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(lease, false).close()
    val e = intercept[IllegalStateException] {
      ModelRegistry.save(rows("Production"), path)
    }
    assert(e.getMessage.contains("writer lease"), e.getMessage)
    fs.delete(lease, false)

    // save(load(p).transform(...), p) — the read-your-own-store update
    // every stage transition does — works because the successor lands
    // beside the dir it reads from
    val promoted = ModelRegistry.transition(
      ModelRegistry.load(spark, path), "ae", 1, "Production")
    ModelRegistry.save(promoted, path)
    assert(readStage() === "Production")
  }

  test("ModelRegistry.save refuses the first-build branch while " +
    "promote artifacts linger — a direct write would hand fsck a " +
    "stale successor to roll back over the newer registry") {
    val base = Files.createTempDirectory("lifecycle_regrefuse").toString
    val path = s"$base/registry"
    def rows(stage: String) = ModelRegistry.table(spark, Seq(
      ModelRegistry.ModelVersion("ae", 1, stage, "2026-01-01", 0.5)))
    ModelRegistry.save(rows("Staging"), path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the aborted-promote window: committed successor in place, live
    // moved aside, crash before rename #2 — the lease is gone
    // (withLease's finally released it)
    rows("Production").repartition(1).write.parquet(s"${path}_next")
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(s"${path}_old")))
    val e = intercept[IllegalStateException] {
      ModelRegistry.save(rows("Archived"), path)
    }
    assert(e.getMessage.contains("_next") &&
      e.getMessage.contains("fsck"), e.getMessage)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"${path}_next")) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"${path}_old")),
      "the refusal must not consume the artifacts")
    // the documented recovery rolls the interrupted promote FORWARD,
    // then the retry lands as a normal beside-and-promote save
    graft.core.StoreFsck.fsck(spark, base, repair = true)
    assert(ModelRegistry.load(spark, path).collect()
      .head.getAs[String]("stage") === "Production")
    ModelRegistry.save(rows("Archived"), path)
    assert(ModelRegistry.load(spark, path).collect()
      .head.getAs[String]("stage") === "Archived")
    // the _old-only variant (successor vanished) refuses identically
    // and fsck restores the aside
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(s"${path}_old")))
    val e2 = intercept[IllegalStateException] {
      ModelRegistry.save(rows("Staging"), path)
    }
    assert(e2.getMessage.contains("_old"), e2.getMessage)
    graft.core.StoreFsck.fsck(spark, base, repair = true)
    assert(ModelRegistry.load(spark, path).collect()
      .head.getAs[String]("stage") === "Archived")
  }

  test("Rank.rebuildBm25Stats refuses the first-land branch while an " +
    "interrupted promote's aside lingers, and lands after fsck") {
    import graft.operators.Rank
    val dir = Files.createTempDirectory("lifecycle_statsrefuse").toString
    Rank.buildBm25Index(Seq((1L, "cat dog"), (2L, "bird")).toDF("doc_id",
      "text"), "doc_id", "text", dir, nBuckets = 4)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the aborted-promote window: live stats moved aside, no successor
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/stats"),
      new org.apache.hadoop.fs.Path(s"$dir/stats_old")))
    val e = intercept[IllegalStateException] {
      Rank.rebuildBm25Stats(spark, dir, nBucketsOverride = Some(4L))
    }
    assert(e.getMessage.contains("_old") &&
      e.getMessage.contains("store --fsck"), e.getMessage)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/stats_old")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/stats")),
      "the refusal must not consume the aside")
    // fsck restores the aside; the rebuild then promotes doclen truth
    graft.core.StoreFsck.fsck(spark, dir, repair = true)
    assert(Rank.rebuildBm25Stats(spark, dir) === ((2L, 3L)))
    assert(graft.core.StoreFsck.fsck(spark, dir).isEmpty)
  }
}
