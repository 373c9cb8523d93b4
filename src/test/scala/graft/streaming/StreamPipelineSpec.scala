package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.score.Autoencoder

class StreamPipelineSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  // 4-feature micro autoencoder for the pipeline tests
  val weights = Autoencoder.seededWeights(Seq(4, 4, 2, 4, 4), seed = 1L)

  // Feature values are z-scored-scale (small), as the reference pipeline
  // feeds the model scaled features — unscaled magnitudes would make the
  // xavier-init net score everything anomalous.
  def event(id: Int, dur: Double, label: String, ts: String = "2026-01-01T00:00:05"): String =
    s"""{"event_id":"e$id","event_type":"network_flow","timestamp":"$ts",
       |"flow_id":"f$id","flow_duration":$dur,"total_fwd_packets":0.2,
       |"flow_bytes_s":0.1,"packet_length_mean":0.05,"label":"$label"}"""
      .stripMargin.replaceAll("\n", "")

  test("parse handles valid JSON, missing fields, and garbage") {
    val raw = Seq(
      event(1, 1.5, "BENIGN"),
      """{"event_id":"e2","flow_duration":null}""",   // sparse
      "not json at all"                               // corrupt
    ).toDF("value")
    val parsed = StreamPipeline.parse(raw).collect()
    assert(parsed.length == 3)
    assert(parsed(0).getAs[String]("event_id") == "e1")
    assert(parsed(1).getAs[String]("event_id") == "e2")
    assert(parsed(1).isNullAt(parsed(1).fieldIndex("flow_duration")))
    assert(parsed(2).isNullAt(parsed(2).fieldIndex("event_id"))) // all null
  }

  test("prepareFeatures casts + null-fills only feature columns") {
    val raw = Seq(event(1, 1.5, "BENIGN"),
      """{"event_id":"e2","event_type":"network_flow"}""").toDF("value")
    val prep = StreamPipeline.prepareFeatures(StreamPipeline.parse(raw))
    val r2 = prep.filter($"event_id" === "e2").head()
    FlowSchema.featureColumns.foreach { c =>
      assert(r2.getAs[Double](c) == 0.0, s"$c should be filled")
    }
    assert(r2.isNullAt(r2.fieldIndex("label"))) // non-feature stays null
  }

  test("end-to-end micro-batch flow: parse → score → split → dual sink") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[String]
    val normal = new StreamPipeline.CollectingSink
    val anomaly = new StreamPipeline.CollectingSink
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val q = StreamPipeline.run(stream.toDF().toDF("value"), weights,
      threshold = 0.5, normal, anomaly, ckpt)
    try {
      // batch 1: small features → low mse → normal; huge → anomaly
      stream.addData(event(1, 0.1, "BENIGN"), event(2, 9999.0, "DoS Hulk"))
      q.processAllAvailable()
      // batch 2: empty-batch guard then one more event
      stream.addData(event(3, 0.2, "BENIGN"))
      q.processAllAvailable()
      val total = normal.totalRows + anomaly.totalRows
      assert(total == 3, s"routed $total of 3")
      assert(anomaly.totalRows >= 1, "the 9999-duration flow must score anomalous")
      // envelope columns present on the sink side
      val row = (normal.batches ++ anomaly.batches).flatten.head
      Seq("anomaly_score", "prediction", "confidence", "model_version")
        .foreach(c => assert(row.schema.fieldNames.contains(c)))
    } finally q.stop()
  }

  test("a micro-batch runs one probe job plus one write job per " +
    "non-empty split") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[String]
    val normal = new StreamPipeline.CollectingSink
    val anomaly = new StreamPipeline.CollectingSink
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_jobs").toString
    val q = StreamPipeline.run(stream.toDF().toDF("value"), weights,
      threshold = 0.5, normal, anomaly, ckpt)
    def jobsFor(events: String*): Int = TestSpark.streamJobsOf(q) {
      stream.addData(events: _*)
      q.processAllAvailable()
    }
    try {
      assert(jobsFor(event(1, 0.1, "BENIGN"), event(2, 9999.0, "DoS Hulk")) === 3)
      assert(normal.batches.length === 1 && anomaly.batches.length === 1)
      assert(jobsFor(event(3, 0.2, "BENIGN"), event(4, 0.1, "BENIGN")) === 2)
      assert(normal.batches.length === 2 && normal.totalRows === 3)
      assert(anomaly.batches.length === 1, "all-normal batch called the anomaly sink")
    } finally q.stop()
  }

  test("windowed counts with watermark aggregate by event-time bucket") {
    val scored = StreamPipeline.score(
      StreamPipeline.prepareFeatures(StreamPipeline.parse(Seq(
        event(1, 0.1, "BENIGN", "2026-01-01T00:00:01"),
        event(2, 0.1, "BENIGN", "2026-01-01T00:00:02"),
        event(3, 9999.0, "DoS", "2026-01-01T00:00:07")
      ).toDF("value"))), weights, threshold = 0.5)
    val counts = StreamPipeline.windowedCounts(scored)
      .orderBy($"window_start", $"prediction").collect()
    // two 5s buckets: [00:00-00:05) normal x2, [00:05-00:10) anomaly x1
    assert(counts.length == 2)
    assert(counts(0).getAs[Long]("n") == 2)
    assert(counts(0).getAs[String]("prediction") == "normal")
    assert(counts(1).getAs[Long]("n") == 1)
    assert(counts(1).getAs[String]("prediction") == "anomaly")
  }

  test("replay wraps fixture rows in a JSON value envelope") {
    val sink = new StreamPipeline.CollectingSink
    StreamPipeline.replay(Seq((1, "a"), (2, "b")).toDF("k", "v"), sink)
    assert(sink.totalRows == 2)
    val vals = sink.batches.flatten.map(_.getString(0))
    assert(vals.contains("""{"k":1,"v":"a"}"""))
  }

  test("CountingSink keeps a running row count and no rows") {
    val sink = new StreamPipeline.CountingSink
    StreamPipeline.replay(Seq((1, "a"), (2, "b")).toDF("k", "v"), sink)
    sink.write(Seq(3).toDF("k"), batchId = 1L)
    assert(sink.totalRows === 3L)
  }

  test("late data beyond the watermark is dropped (ST6)") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[String]
    val counts = StreamPipeline.windowedCounts(
      StreamPipeline.score(
        StreamPipeline.prepareFeatures(
          StreamPipeline.parse(stream.toDF().toDF("value"))),
        weights, threshold = 0.5),
      window_ = "5 seconds", watermark = "10 seconds")
    val q = counts.writeStream.format("memory").queryName("late_drop")
      .outputMode("update").start()
    try {
      // batch 1: one event in [00:00, 00:05); watermark -> 00:00:00
      stream.addData(event(1, 0.1, "BENIGN", "2026-01-01T00:00:01"))
      q.processAllAvailable()
      // batch 2: event at 00:01:00 advances the watermark to 00:00:50
      stream.addData(event(2, 0.1, "BENIGN", "2026-01-01T00:01:00"))
      q.processAllAvailable()
      // batch 3: a late event for the now-expired [00:00, 00:05) bucket
      stream.addData(event(3, 0.1, "BENIGN", "2026-01-01T00:00:02"))
      q.processAllAvailable()
      val firstBucket = spark.sql(
        """SELECT max(n) FROM late_drop
          |WHERE window_start = timestamp'2026-01-01 00:00:00'""".stripMargin)
        .head()
      // the late event must NOT have re-opened or incremented the bucket
      assert(firstBucket.getLong(0) === 1L,
        "late event beyond the watermark should be dropped")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS late_drop")
    }
  }

  test("kafka source options carry subscribe/offsets/rate-limit knobs") {
    val opts = StreamPipeline.kafkaSourceOptions(
      "broker:9092", "network_flows", maxOffsetsPerTrigger = 500L)
    assert(opts("kafka.bootstrap.servers") == "broker:9092")
    assert(opts("subscribe") == "network_flows")
    assert(opts("startingOffsets") == "latest")
    // ST4: the Structured-Streaming rate knob, not the inert DStream one
    assert(opts("maxOffsetsPerTrigger") == "500")
    assert(!opts.contains("spark.streaming.kafka.maxRatePerPartition"))
    assert(opts("failOnDataLoss") == "true")
  }

  test("restart from checkpoint does not reprocess committed batches") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt2").toString
    val stream = MemoryStream[String]
    val normal = new StreamPipeline.CollectingSink
    val anomaly = new StreamPipeline.CollectingSink
    val q1 = StreamPipeline.run(stream.toDF().toDF("value"), weights, 0.5,
      normal, anomaly, ckpt)
    stream.addData(event(1, 0.1, "BENIGN"))
    q1.processAllAvailable()
    q1.stop()
    val countAfterFirst = normal.totalRows + anomaly.totalRows
    // restart on the SAME checkpoint + source; nothing new to process
    val q2 = StreamPipeline.run(stream.toDF().toDF("value"), weights, 0.5,
      normal, anomaly, ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert(normal.totalRows + anomaly.totalRows == countAfterFirst)
  }

  test("dedupWithinWatermark: redelivery collapses, state evicts on time") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val events = stream.toDF()
      .select($"_1".as("event_id"), to_timestamp($"_2").as("ts"))
    val out = StreamPipeline.dedupWithinWatermark(
      events, Seq("event_id"), tsCol = "ts", watermark = "10 seconds")
    val q = out.writeStream.format("memory").queryName("wm_dedup")
      .outputMode("append").start()
    try {
      // same key delivered 3x inside one delay window -> ONE survivor
      stream.addData((1L, "2026-01-01T00:00:01"), (1L, "2026-01-01T00:00:02"))
      q.processAllAvailable()
      stream.addData((1L, "2026-01-01T00:00:03"), (2L, "2026-01-01T00:00:04"))
      q.processAllAvailable()
      // advance event time far beyond key 1's watermark horizon so its
      // dedup state is evicted...
      stream.addData((3L, "2026-01-01T00:05:00"))
      q.processAllAvailable()
      // ...then redeliver key 1 AFTER the horizon: re-emitted by design
      // (bounded state trades away cross-horizon dedup)
      stream.addData((1L, "2026-01-01T00:05:01"))
      q.processAllAvailable()
      val got = spark.sql("SELECT event_id FROM wm_dedup")
        .collect().map(_.getLong(0)).toSeq
      assert(got.count(_ == 1L) === 2,
        "one in-horizon survivor + one post-eviction re-emit")
      assert(got.count(_ == 2L) === 1)
      assert(got.count(_ == 3L) === 1)
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS wm_dedup")
    }
  }
}
