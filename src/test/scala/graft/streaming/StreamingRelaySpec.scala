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
    val cfg = EnvironmentConfig("prod", "postgres", Seq(obj), Nil, pollingIntervalSeconds = 1)
    val exportTpl = root.resolve("exports").toString + "/{object}-{timestamp}-{batch}.json"
    val relay = new ChangeRelay(spark, store, cfg, Some(exportTpl), horizonOf = _ => 10000L)

    store.setWatermark("prod", "orders", 0L)
    def rows(r: Seq[(Long, Long, String, Double, String)]) =
      r.toDF("id", "xact_id", "operation", "value", "props")
        .withColumn("changed", lit(null).cast("array<string>"))

    rows(Seq((1L, 1L, "I", 1.0, "{}"), (2L, 2L, "U", 2.0, "{}")))
      .coalesce(1).write.parquet(outboxDir)

    val query = ChangeRelay.streamFromOutboxDir(
      spark, relay, _ => outboxDir, outboxSchema, root.resolve("ckpt").toString)
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
    assert(query.name == "graft-relay-prod") // T6 uniqueness per environment

    // T2 — checkpoint recovery: a RESTARTED query on the same checkpoint
    // must not reprocess already-committed files; a new file appended while
    // stopped is picked up exactly once.
    rows(Seq((4L, 4L, "I", 4.0, "{}"))).coalesce(1)
      .write.mode("append").parquet(outboxDir)
    val restarted = ChangeRelay.streamFromOutboxDir(
      spark, relay, _ => outboxDir, outboxSchema, root.resolve("ckpt").toString)
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
    val cfg = EnvironmentConfig("claimenv", "postgres", Seq(obj), Nil, pollingIntervalSeconds = 1)
    val relay = new ChangeRelay(spark, store, cfg, None, horizonOf = _ => 10000L)
    store.setWatermark("claimenv", "orders", 0L)
    Seq((1L, 1L, "I", 1.0, "{}")).toDF("id", "xact_id", "operation", "value", "props")
      .withColumn("changed", lit(null).cast("array<string>"))
      .coalesce(1).write.parquet(outboxDir)

    val ckpt = root.resolve("ckpt").toString
    val live = ChangeRelay.streamFromOutboxDir(spark, relay, _ => outboxDir, outboxSchema, ckpt)
    try {
      // Re-invoking the SAME environment is refused while the first
      // query holds the checkpoint...
      intercept[Exception] {
        ChangeRelay.streamFromOutboxDir(spark, relay, _ => outboxDir, outboxSchema, ckpt)
      }
      // ...and on a second checkpoint, by the live query's name: never two
      // pollers for one environment, so never two for one object.
      intercept[IllegalArgumentException] {
        ChangeRelay.streamFromOutboxDir(spark, relay, _ => outboxDir, outboxSchema,
          root.resolve("ckpt2").toString)
      }
      assert(spark.streams.active.filter(_.name == "graft-relay-claimenv").map(_.id).toSeq == Seq(live.id))
      // ...and the failure must NOT have removed the live query's claim: a
      // DIFFERENT environment reusing the same checkpointDir still trips
      // the guard instead of corrupting the live offset log.
      val ex = intercept[IllegalArgumentException] {
        ChangeRelay.streamFromOutboxDir(
          spark, new ChangeRelay(spark, store,
            EnvironmentConfig("otherenv", "postgres", Seq(obj), Nil, pollingIntervalSeconds = 1),
            None, _ => 10000L),
          _ => outboxDir, outboxSchema, ckpt)
      }
      assert(ex.getMessage.contains("already used"))
    } finally live.stop()
  }

  /** Environment `prod` of `names` over one outbox directory each,
    * exporting to `exports/<object>/`, polling every second. */
  private def environment(root: java.nio.file.Path, names: Seq[String],
      horizonOf: org.apache.spark.sql.DataFrame => Long = _ => 10000L) = {
    val store = new ParquetStateStore(spark, root.resolve("state").toString)
    val objs = names.map(TrackingObject(_, "db0", "t", "sp"))
    val cfg = EnvironmentConfig("prod", "postgres", objs, Nil, pollingIntervalSeconds = 1)
    val tpl = root.resolve("exports").toString + "/{object}/{timestamp}-{batch}.json"
    (store, new ChangeRelay(spark, store, cfg, Some(tpl), horizonOf))
  }

  private def append(root: java.nio.file.Path, obj: String, ids: Seq[Long]): Unit =
    ids.map(i => (i, i, "I", i.toDouble, "{}")).toDF("id", "xact_id", "operation", "value", "props")
      .withColumn("changed", lit(null).cast("array<string>"))
      .coalesce(1).write.mode("append").parquet(root.resolve("outbox").resolve(obj).toString)

  private def exports(root: java.nio.file.Path, obj: String): Long = {
    val dir = root.resolve("exports").resolve(obj)
    if (!Files.exists(dir)) 0L else Files.list(dir).count()
  }

  test("one query per environment: one watermark commit per trigger, at the environment's interval") {
    val root = Files.createTempDirectory("graft-env")
    val (store, relay) = environment(root, Seq("orders", "customers", "items", "fresh"))
    store.setWatermarks(Seq("orders", "customers", "items").map(("prod", _, 0L)))
    append(root, "orders", Seq(1L, 2L))
    append(root, "customers", Seq(10L))
    append(root, "items", Seq(20L, 21L, 22L))
    Files.createDirectories(root.resolve("outbox").resolve("fresh")) // no rows, no watermark

    val query = ChangeRelay.streamFromOutboxDir(spark, relay,
      o => root.resolve("outbox").resolve(o.name).toString, outboxSchema,
      root.resolve("ckpt").toString)
    try {
      assert(query.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.trigger == org.apache.spark.sql.streaming.Trigger.ProcessingTime(1000L),
        "the query fires every pollingIntervalSeconds")
      val before = store.commitCount
      query.processAllAvailable()
      assert(query.recentProgress.count(_.numInputRows > 0) == 1, "all three objects in one trigger")
      assert(store.commitCount == before + 1, "one watermarks commit for the whole trigger")
      assert(store.watermarksOf("prod") ==
        Map("orders" -> 2L, "customers" -> 10L, "items" -> 22L, "fresh" -> 0L),
        "every object's watermark lands; an unseeded object without rows is seeded")
      assert(Seq("orders", "customers", "items", "fresh").map(exports(root, _)) == Seq(1L, 1L, 1L, 0L))

      // A trigger with rows for one object: the others write no export and
      // keep their watermarks.
      append(root, "orders", Seq(3L))
      query.processAllAvailable()
      assert(store.commitCount == before + 2)
      assert(store.watermarksOf("prod") ==
        Map("orders" -> 3L, "customers" -> 10L, "items" -> 22L, "fresh" -> 0L))
      assert(Seq("orders", "customers", "items", "fresh").map(exports(root, _)) == Seq(2L, 1L, 1L, 0L))
    } finally query.stop()
    assert(query.name == "graft-relay-prod")
  }

  test("a failing object stops the environment's query after the others commit; a restart retries only it") {
    val root = Files.createTempDirectory("graft-envfail")
    // The horizon lookup fails for `c` (its ids are 300 and up) until it
    // recovers.
    val down = new java.util.concurrent.atomic.AtomicBoolean(true)
    val (store, relay) = environment(root, Seq("a", "b", "c"), horizonOf = df =>
      if (down.get && !df.filter(col("id") >= 300).isEmpty) throw new IllegalStateException("horizon lookup failed")
      else 10000L)
    store.setWatermarks(Seq("a", "b", "c").map(("prod", _, 0L)))
    append(root, "a", Seq(100L))
    append(root, "b", Seq(200L))
    append(root, "c", Seq(300L))
    def start() = ChangeRelay.streamFromOutboxDir(spark, relay,
      o => root.resolve("outbox").resolve(o.name).toString, outboxSchema,
      root.resolve("ckpt").toString)

    val query = start()
    val failure = try intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      query.processAllAvailable()) finally query.stop()
    assert(failure.getMessage.contains("horizon lookup failed"))
    assert(store.watermarksOf("prod") == Map("a" -> 100L, "b" -> 200L, "c" -> 0L),
      "the healthy objects' advances committed; the failing one holds")
    assert(Seq("a", "b", "c").map(exports(root, _)) == Seq(1L, 1L, 0L))

    down.set(false)
    val restarted = start()
    try restarted.processAllAvailable() finally restarted.stop()
    assert(store.watermarksOf("prod") == Map("a" -> 100L, "b" -> 200L, "c" -> 300L))
    assert(Seq("a", "b", "c").map(exports(root, _)) == Seq(1L, 1L, 1L),
      "the replayed batch exports only what was not committed")
  }
}
