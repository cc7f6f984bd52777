package graft.streaming

import graft.SparkSpec
import graft.model.{EnvironmentConfig, TrackingObject}
import graft.state.ParquetStateStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** T1/T6 — the Structured Streaming wrapper end-to-end: an outbox directory
  * watched as a file stream, the relay run per micro-batch, watermarks
  * advancing across batches. */
class StreamingRelaySpec extends SparkSpec {
  import spark.implicits._

  private val outboxSchema = StructType(Seq(
    StructField("id", LongType), StructField("xact_id", LongType),
    StructField("operation", StringType), StructField("value", DoubleType),
    StructField("props", StringType),
    StructField("changed", ArrayType(StringType))))

  test("file-stream relay: two appended batches advance the watermark incrementally") {
    val root = Files.createTempDirectory("graft-stream")
    val outboxDir = root.resolve("outbox").toString
    val store = new ParquetStateStore(spark, root.resolve("state").toString)
    val obj = TrackingObject("orders", "db0", "t", "sp")
    val cfg = EnvironmentConfig("prod", "postgres", Seq(obj), Nil)
    val exportTpl = root.resolve("exports").toString + "/{object}-{timestamp}-{batch}.json"
    val relay = new ChangeRelay(spark, store, cfg, Some(exportTpl), horizonOf = _ => 10000L)

    store.setWatermark("prod", "orders", 0L)
    def rows(r: Seq[(Long, Long, String, Double, String)]) =
      r.toDF("id", "xact_id", "operation", "value", "props")
        .withColumn("changed", lit(null).cast("array<string>"))

    rows(Seq((1L, 1L, "I", 1.0, "{}"), (2L, 2L, "U", 2.0, "{}")))
      .coalesce(1).write.parquet(outboxDir)

    val query = ChangeRelay.streamFromOutboxDir(
      spark, relay, obj, outboxDir, outboxSchema,
      root.resolve("ckpt").toString, "prod", intervalSeconds = 1)
    try {
      query.processAllAvailable()
      assert(store.getWatermark("prod", "orders").contains(2L))

      rows(Seq((3L, 3L, "D", 0.0, null))).coalesce(1)
        .write.mode("append").parquet(outboxDir)
      query.processAllAvailable()
      assert(store.getWatermark("prod", "orders").contains(3L))
    } finally query.stop()

    val exports = Files.walk(root.resolve("exports"))
      .filter(Files.isRegularFile(_)).count()
    assert(exports == 2) // one file per non-empty micro-batch
    assert(query.name == "graft-relay-prod-orders") // T6 uniqueness per (env, object)

    // T2 — checkpoint recovery: a RESTARTED query on the same checkpoint
    // must not reprocess already-committed files; a new file appended while
    // stopped is picked up exactly once.
    rows(Seq((4L, 4L, "I", 4.0, "{}"))).coalesce(1)
      .write.mode("append").parquet(outboxDir)
    val restarted = ChangeRelay.streamFromOutboxDir(
      spark, relay, obj, outboxDir, outboxSchema,
      root.resolve("ckpt").toString, "prod", intervalSeconds = 1)
    try {
      restarted.processAllAvailable()
      assert(store.getWatermark("prod", "orders").contains(4L))
    } finally restarted.stop()
    val exportsAfter = Files.walk(root.resolve("exports"))
      .filter(Files.isRegularFile(_)).count()
    assert(exportsAfter == 3) // exactly one new export, nothing replayed
  }

  test("streaming replay drains the DLQ once the endpoint recovers") {
    val root = Files.createTempDirectory("graft-replay")
    val store = new ParquetStateStore(spark, root.resolve("state").toString)
    val cfg = EnvironmentConfig("prod", "postgres",
      Seq(TrackingObject("orders", "db0", "t", "sp")), Nil)
    val relay = new ChangeRelay(spark, store, cfg, None)
    store.appendDeadLetters(
      Seq(("k1", "orders", "prod", "db0", "h1", "{}", "boom"))
        .toDF("source_key", "tracking_object_name", "environment_name",
          "database_name", "data_hash", "data", "error_message")
        .withColumn("timestamp", current_timestamp()))
    assert(store.deadLetters.count() == 1)

    // Healthy endpoint: the first replay tick must drain the row. (Failure
    // backoff is covered by the batch-flavor RelaySpec — the 60 s backoff
    // base makes a multi-attempt streaming test pointlessly slow.)
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val query = ChangeRelay.streamReplay(spark, relay,
      attempt = { _ => attempts.incrementAndGet(); true },
      intervalSeconds = 1, queryName = "graft-replay-prod")
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (store.deadLetters.count() > 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(500)
      assert(store.deadLetters.count() == 0,
        s"DLQ not drained by the streaming replay loop (${attempts.get()} attempts)")
      assert(attempts.get() >= 1)
    } finally query.stop()
  }

  test("a failed duplicate start does not evict the live query's checkpoint claim") {
    val root = Files.createTempDirectory("graft-claim")
    val outboxDir = root.resolve("outbox").toString
    val store = new ParquetStateStore(spark, root.resolve("state").toString)
    val obj = TrackingObject("orders", "db0", "t", "sp")
    val cfg = EnvironmentConfig("claimenv", "postgres", Seq(obj), Nil)
    val relay = new ChangeRelay(spark, store, cfg, None, horizonOf = _ => 10000L)
    store.setWatermark("claimenv", "orders", 0L)
    Seq((1L, 1L, "I", 1.0, "{}")).toDF("id", "xact_id", "operation", "value", "props")
      .withColumn("changed", lit(null).cast("array<string>"))
      .coalesce(1).write.parquet(outboxDir)

    val ckpt = root.resolve("ckpt").toString
    val live = ChangeRelay.streamFromOutboxDir(
      spark, relay, obj, outboxDir, outboxSchema, ckpt, "claimenv", intervalSeconds = 1)
    try {
      // Re-invoking the SAME (env, object) is refused while the first
      // query holds the checkpoint...
      intercept[Exception] {
        ChangeRelay.streamFromOutboxDir(
          spark, relay, obj, outboxDir, outboxSchema, ckpt, "claimenv", intervalSeconds = 1)
      }
      // ...and the failure must NOT have removed the live query's claim: a
      // DIFFERENT (env, object) reusing the same checkpointDir still trips
      // the guard instead of corrupting the live offset log.
      val other = TrackingObject("customers", "db0", "t", "sp")
      val ex = intercept[IllegalArgumentException] {
        ChangeRelay.streamFromOutboxDir(
          spark, new ChangeRelay(spark, store,
            EnvironmentConfig("claimenv", "postgres", Seq(other), Nil), None, _ => 10000L),
          other, outboxDir, outboxSchema, ckpt, "claimenv", intervalSeconds = 1)
      }
      assert(ex.getMessage.contains("already used"))
    } finally live.stop()
  }
}
