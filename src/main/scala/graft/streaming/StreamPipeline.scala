package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.score.Autoencoder

/** Structured-Streaming scoring pipeline with the reference's dataflow
  * (reference scripts/stream_anomaly_detector.py:328-372,405-425):
  * parse JSON → prepare features → score → split normal/anomaly → dual
  * sink, stateless per micro-batch, at-least-once.
  *
  * Differences by design (all scale-motivated, SURVEY.md §4):
  *  - scoring runs on executors (broadcast weights inside an expression),
  *    not a driver toPandas()/predict round trip;
  *  - each micro-batch is parsed and scored once: the batch is persisted,
  *    one narrow probe fills the cache and finds the labels present, and
  *    each non-empty split writes from the cache (the reference recomputes
  *    the full plan ≥6 times per batch);
  *  - rate limiting is `maxOffsetsPerTrigger` (the Structured-Streaming
  *    knob), not the inert DStream `maxRatePerPartition` the reference
  *    sets;
  *  - the windowed aggregation declares an event-time watermark.
  */
object StreamPipeline {

  /** P1: Kafka-style value bytes/strings → typed columns.
    * `from_json(value, schema)` + `select("data.*")`
    * (reference stream_anomaly_detector.py:414-416). */
  def parse(raw: DataFrame,
            schema: org.apache.spark.sql.types.StructType = FlowSchema.schema)
      : DataFrame =
    raw.select(from_json(col("value").cast("string"), schema).as("data"))
      .select("data.*")

  /** P4+P5: cast features to double, fill nulls with 0.0
    * (reference stream_anomaly_detector.py:173-201). */
  def prepareFeatures(df: DataFrame,
                      features: Seq[String] = FlowSchema.featureColumns)
      : DataFrame = {
    val cast = df.select(df.columns.map { c =>
      if (features.contains(c)) col(c).cast("double").as(c) else col(c)
    }.toSeq: _*)
    cast.na.fill(0.0, features)
  }

  /** U2 in streaming form: score with broadcast weights via a vector UDF
    * over the assembled feature array. The UDF is the pragmatic choice
    * here because it appends to the existing row (mapPartitions would
    * drop-and-rejoin the payload); the matmul itself is never
    * codegen-able either way. */
  def score(df: DataFrame, weights: Autoencoder.Weights,
            threshold: Double = 1.0,
            features: Seq[String] = FlowSchema.featureColumns,
            modelVersion: String = "graft-ae-1"): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(weights)
    val scoreUdf = udf { xs: Seq[Double] =>
      val w = bc.value
      val x = Autoencoder.align(xs.toArray, w.inputDim)
      Autoencoder.mse(Autoencoder.forward(w, x), x)
    }
    df.withColumn("anomaly_score",
        scoreUdf(array(features.map(col): _*)))
      .withColumn("prediction",
        Autoencoder.classify(col("anomaly_score"), threshold))
      .withColumn("confidence", Autoencoder.confidence(col("anomaly_score")))
      .withColumn("model_version", lit(modelVersion))
  }

  /** S4+ST4: option set for the Kafka streaming source — subscribe,
    * starting offsets, and `maxOffsetsPerTrigger` (the Structured-
    * Streaming rate knob; the reference sets the inert DStream
    * `maxRatePerPartition` instead, stream_anomaly_detector.py:42).
    * Exposed separately from the reader so tests can assert the exact
    * configuration without a broker or the kafka connector jar. */
  def kafkaSourceOptions(bootstrap: String, topic: String,
                         startingOffsets: String = "latest",
                         maxOffsetsPerTrigger: Long = 1000L,
                         failOnDataLoss: Boolean = true)
      : Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "subscribe" -> topic,
    "startingOffsets" -> startingOffsets,
    "maxOffsetsPerTrigger" -> maxOffsetsPerTrigger.toString,
    "failOnDataLoss" -> failOnDataLoss.toString)

  /** S4: the configured Kafka source DataFrame
    * (reference stream_anomaly_detector.py:405-411:
    * `readStream.format("kafka").option("subscribe",...)
    * .option("startingOffsets","latest").load()`). Requires the
    * spark-sql-kafka connector on the classpath; in this sandbox the
    * builder is exercised at the options level (no broker/connector). */
  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String,
                  startingOffsets: String = "latest",
                  maxOffsetsPerTrigger: Long = 1000L): DataFrame =
    spark.readStream.format("kafka")
      .options(kafkaSourceOptions(bootstrap, topic, startingOffsets,
        maxOffsetsPerTrigger))
      .load()

  /** P2: JSON envelope for the sink side
    * (reference stream_anomaly_detector.py:314). */
  def toJsonValue(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as("value"))

  /** A sink the pipeline can fan out to — memory/file in tests, Kafka in
    * production (S5). Implementations must be idempotent-tolerant:
    * delivery is at-least-once (ST3). */
  trait Sink extends Serializable {
    def write(df: DataFrame, batchId: Long): Unit
  }

  /** Kafka sink (S5) — config-only in this sandbox (no broker):
    * `df.write.format("kafka")...save()` on the JSON envelope. */
  final class KafkaSink(bootstrap: String, topic: String) extends Sink {
    def write(df: DataFrame, batchId: Long): Unit =
      toJsonValue(df).write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .mode("append").save()
  }

  /** Append-to-parquet sink for offline replay/testing. */
  final class FileSink(path: String) extends Sink {
    def write(df: DataFrame, batchId: Long): Unit =
      df.write.mode("append").parquet(path)
  }

  /** EXACTLY-ONCE parquet sink for at-least-once foreachBatch delivery
    * (the ST3 caveat's fix): each batch lands in its own
    * `batch_id=<id>` Hive partition via DYNAMIC partition overwrite, so
    * a replayed batch overwrites its own partition instead of appending
    * a duplicate — checkpointed offsets make the batchId stable across
    * restarts, and overwrite-by-partition makes the redelivery
    * idempotent. Readers get `batch_id` as a partition column (pruning
    * on it is free: per-batch audits never list other batches'
    * directories). Only the partitions present in the written batch are
    * touched — concurrent batches never clobber each other. */
  final class IdempotentFileSink(path: String) extends Sink {
    def write(df: DataFrame, batchId: Long): Unit = {
      val stamped = df.withColumn("batch_id",
        org.apache.spark.sql.functions.lit(batchId))
      stamped
        .write
        // per-WRITER option, never the session conf: a set/restore
        // window on the shared session races concurrent sinks, and a
        // write planned under the restored 'static' mode would wipe
        // every other batch's partition at this path
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").partitionBy("batch_id").parquet(path)
      // empty-store readability: if every batch partition is later
      // retracted (takedowns), schema inference has no footer left —
      // the _schema marker keeps the store readable as zero rows.
      // Written once (first write), hidden from the live read.
      val marker = new org.apache.hadoop.fs.Path(s"$path/_schema")
      val fs = marker.getFileSystem(
        df.sparkSession.sparkContext.hadoopConfiguration)
      if (!fs.exists(marker))
        graft.core.Stores.writeSchemaMarker(stamped, path)
    }
  }

  /** In-memory collecting sink for tests. */
  final class CollectingSink extends Sink {
    val batches = scala.collection.mutable.ArrayBuffer.empty[Array[org.apache.spark.sql.Row]]
    def write(df: DataFrame, batchId: Long): Unit =
      batches.synchronized { batches += df.collect() }
    def totalRows: Int = batches.synchronized { batches.map(_.length).sum }
  }

  /** Sink that keeps a running row count and no rows: driver memory stays
    * constant however many rows are routed to it. */
  final class CountingSink extends Sink {
    private val rows = new java.util.concurrent.atomic.AtomicLong(0L)
    def write(df: DataFrame, batchId: Long): Unit = rows.addAndGet(df.count())
    def totalRows: Long = rows.get
  }

  /** The full streaming query: parse → prepare → score → split → dual
    * sink inside foreachBatch, at-least-once.
    *
    * Per micro-batch the work is one cache-filling probe plus one sink
    * write per non-empty split, and nothing else: [[MicroBatch]] persists
    * the batch and its probe parses and scores every row once into the
    * cache while counting each label; each sink is then called only for
    * a label it counted, on a filter of the cache. An empty batch calls no
    * sink (ST8) without a separate emptiness probe. */
  def run(raw: DataFrame, weights: Autoencoder.Weights, threshold: Double,
          normalSink: Sink, anomalySink: Sink,
          checkpointDir: String,
          schema: org.apache.spark.sql.types.StructType = FlowSchema.schema,
          features: Seq[String] = FlowSchema.featureColumns): StreamingQuery = {
    val scored = score(prepareFeatures(parse(raw, schema), features),
      weights, threshold, features)
    val routes = Seq("normal" -> normalSink, "anomaly" -> anomalySink)
    MicroBatch.start(scored, checkpointDir,
        routes.map { case (label, _) => col("prediction") === label }) { mb =>
      routes.zip(mb.sums).foreach { case ((label, sink), n) =>
        if (n > 0) sink.write(mb.df.filter(col("prediction") === label), mb.id)
      }
    }
  }

  /** A12+ST5: event-time tumbling-window counts by prediction with a
    * watermark (the idiomatic upgrade of the dashboard's processing-time
    * 5-second buckets, reference scripts/streamlit_dashboard.py:152). */
  def windowedCounts(scored: DataFrame, window_ : String = "5 seconds",
                     watermark: String = "10 seconds"): DataFrame =
    scored
      .withColumn("ts", to_timestamp(col("timestamp")))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("prediction"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("prediction"),
        col("n"))

  /** Streaming exact dedup on ingest: drop redelivered events whose
    * dedup key was already seen, keeping per-key state only as long as
    * the watermark requires. `dropDuplicatesWithinWatermark` EVICTS a
    * key's state once its event time falls behind the watermark, so
    * state size is bounded by delay-window × arrival-rate — a plain
    * streaming `dropDuplicates` grows state with the full stream
    * history and OOMs a 100 TB/day ingest. The streaming twin of the
    * batch exact-dedup tier: an at-least-once upstream (Kafka
    * redelivery, producer retry — reference
    * common_kafka/producer.py:158-203 retries sends) becomes
    * exactly-once PER KEY within the redelivery horizon; a duplicate
    * arriving after the horizon is re-emitted by design (the documented
    * trade for bounded state — the batch tiers catch it downstream). */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
                           tsCol: String = "ts",
                           watermark: String = "10 seconds"): DataFrame = {
    require(keyCols.nonEmpty, "need at least one dedup key column")
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)
  }

  /** ST10: replay producer as a Spark job — read a fixture table, wrap
    * rows in the JSON envelope, write to a sink (Kafka in prod, file/
    * memory in tests). Pacing, when needed, comes from
    * `maxOffsetsPerTrigger` on the consumer side rather than per-record
    * driver sleeps (reference simulate_network_traffic.py:54-215 sleeps
    * on the driver between sends). */
  def replay(fixture: DataFrame, sink: Sink): Unit =
    sink.write(toJsonValue(fixture), batchId = 0L)
}
