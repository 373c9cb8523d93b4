package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Registry-lite: model-version metadata as a plain table + the
  * "latest version for a stage" lookup, replacing the reference's MLflow
  * REST registry semantics (reference scripts/manage_model_registry.py:25-90,
  * loader scripts/stream_anomaly_detector.py:48-73). No server — the
  * registry is a DataFrame (backed by a small parquet/JSON dir in
  * production) and the lookup is orderBy-desc-limit-1 (SURVEY.md §2.6 T4).
  */
object ModelRegistry {

  final case class ModelVersion(
      model: String, version: Int, stage: String, created_at: String,
      metrics_mse: Double)

  /** S10: a registered version's loadable weight artifact (parquet dir
    * written by Autoencoder.save — the reference's MLflow artifact-store
    * pointer, scripts/manage_model_registry.py:58-90). */
  final case class Artifact(model: String, version: Int,
                            artifact_path: String)

  def table(spark: SparkSession, rows: Seq[ModelVersion]): DataFrame = {
    import spark.implicits._
    rows.toDF()
  }

  def artifactTable(spark: SparkSession, rows: Seq[Artifact]): DataFrame = {
    import spark.implicits._
    rows.toDF()
  }

  /** Persist / reload the registry itself — in production it is a small
    * parquet dir, not a server (SURVEY.md §1.1).
    *
    * The registry is the scorer's model-RESOLUTION table: a crash
    * mid-overwrite that leaves it absent or half-written takes every
    * scorer down at startup — the exact failure the reference's registry
    * server existed to prevent (manage_model_registry.py:37-93). So it
    * is written like every other serving store, through
    * [[graft.core.Stores.replace]] under a writer lease: no crash window
    * leaves the registry unreadable, and every window repairs with
    * `store --fsck --repair`. Side benefit: `save(load(p)
    * .transform(...), p)` works — the successor never overwrites the
    * dir it is still reading from. */
  def save(registry: DataFrame, path: String): Unit = {
    val spark = registry.sparkSession
    graft.core.Stores.withLease(spark, path, "ModelRegistry.save") {
      graft.core.Stores.replace(spark, path, "ModelRegistry.save")(
        registry.repartition(1).write.mode("overwrite").parquet(_))
    }
  }

  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Latest READY/Production version for a model: the registry's core
    * query (reference manage_model_registry.py:25-34). */
  def latest(registry: DataFrame, model: String, stage: String): DataFrame =
    registry
      .filter(col("model") === model && col("stage") === stage)
      .orderBy(col("version").desc)
      .limit(1)

  /** T4/S10: latest version for a stage joined to its weight artifact —
    * what the scorer resolves at startup (reference
    * stream_anomaly_detector.py:48-73 loads
    * `models:/NetworkAnomalyDetector/Production`). The artifact side is
    * tiny; broadcast keeps the lookup shuffle-free. */
  def latestWithArtifact(registry: DataFrame, artifacts: DataFrame,
                         model: String, stage: String): DataFrame =
    latest(registry, model, stage)
      .join(org.apache.spark.sql.functions.broadcast(artifacts),
        Seq("model", "version"), "left")

  /** Resolve the stage's latest artifact path on the driver (one tiny
    * job); empty if no version or no artifact row exists. */
  def resolveArtifactPath(registry: DataFrame, artifacts: DataFrame,
                          model: String, stage: String): Option[String] =
    latestWithArtifact(registry, artifacts, model, stage)
      .select(col("artifact_path")).collect().headOption
      .flatMap(r => Option(r.getString(0)))

  /** Stage transition with archive-existing semantics
    * (reference manage_model_registry.py:58-90): promote `version` to
    * `toStage`, demote any current holder of `toStage` to "Archived".
    * Pure DataFrame transform — caller persists the result. */
  def transition(registry: DataFrame, model: String, version: Int,
                 toStage: String): DataFrame =
    registry.select(
      col("model"), col("version"),
      when(col("model") === model && col("version") === version, toStage)
        .when(col("model") === model && col("stage") === toStage, "Archived")
        .otherwise(col("stage")).as("stage"),
      col("created_at"), col("metrics_mse"))
}
