package graft.streaming

import graft.SparkSpec
import graft.model.{EnvironmentConfig, SinkEndpoint, TrackingObject}
import graft.state.ParquetStateStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** SURVEY §7.2 minimum end-to-end slice: outbox → incremental read →
  * envelope → templated file sink → watermark advance; a second cycle picks
  * up only new rows; a delete round-trips; sink failures dead-letter and
  * replay; pause holds; reset re-syncs. */
class RelaySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): Path = Files.createTempDirectory("graft-relay")

  private def outboxDf(rows: Seq[(Long, Long, String, Double, String)]): DataFrame =
    rows.toDF("id", "xact_id", "operation", "value", "props")
      .select($"id", $"xact_id", $"operation",
        when($"operation" =!= "D", $"value").as("value"),
        when($"operation" =!= "D", $"props").as("props"),
        lit(null).cast("array<string>").as("changed"))

  private val obj = TrackingObject("orders", "db0", "t_orders", "sp_orders")
  private def cfg(sinks: Seq[SinkEndpoint] = Nil) = EnvironmentConfig(
    name = "prod", provider = "postgres",
    trackingObjects = Seq(obj), endpoints = sinks)

  test("end-to-end slice: export, watermark advance, second run incremental, delete round-trips") {
    val dir = tmp()
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)
    val exportTpl = dir.resolve("exports").toString +
      "/{environment}/{object}/changes-{timestamp}-{batch}.json"
    val relay = new ChangeRelay(spark, store, cfg(), Some(exportTpl),
      horizonOf = _ => 1000L)

    store.setWatermark("prod", "orders", 0L)
    val cycle1 = outboxDf(Seq(
      (1L, 10L, "I", 1.5, """{"k":1}"""),
      (2L, 11L, "U", 2.5, """{"k":2}"""),
      (3L, 2000L, "U", 9.9, """{"k":9}"""))) // in-flight: beyond horizon
    val (n1, v1) = relay.runCycle(obj, cycle1, "20240115000000")
    assert(n1 == 2 && v1 == 2L) // in-flight row deferred from rows AND watermark

    val written = Files.walk(dir.resolve("exports")).filter(Files.isRegularFile(_))
      .map[String](_.toString).toArray
    assert(written.length == 1)
    val content = Files.readString(java.nio.file.Paths.get(written(0).toString))
    assert(content.contains("\"Version\": 2") && content.contains("$operation"))

    // Cycle 2: the deferred row is now committed + one delete arrives.
    val cycle2 = outboxDf(Seq(
      (1L, 10L, "I", 1.5, """{"k":1}"""),
      (2L, 11L, "U", 2.5, """{"k":2}"""),
      (3L, 2000L, "U", 9.9, """{"k":9}"""),
      (4L, 2001L, "D", 0.0, null)))
    val relay2 = new ChangeRelay(spark, store, cfg(), Some(exportTpl), horizonOf = _ => 3000L)
    val (n2, v2) = relay2.runCycle(obj, cycle2, "20240115000100")
    assert(n2 == 2 && v2 == 4L) // ONLY the deferred row + the delete
    val all = Files.walk(dir.resolve("exports")).filter(Files.isRegularFile(_)).count()
    assert(all == 2)
    val second = Files.walk(dir.resolve("exports")).filter(Files.isRegularFile(_))
      .map[String](p => Files.readString(p)).toArray.map(_.toString)
      .find(_.contains("\"Version\": 4")).get
    assert(second.contains("\"$operation\": \"D\"")) // delete survived to the sink
    assert(store.getWatermark("prod", "orders").contains(4L))
  }

  test("batched multi-object cycle: ONE watermark commit, per-object semantics unchanged") {
    val dir = tmp()
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)
    val objs = (0 until 5).map(i => TrackingObject(s"o$i", "db0", "t", "sp"))
    val fresh = TrackingObject("o5fresh", "db0", "t", "sp") // no watermark → seed path
    val config = EnvironmentConfig("prod", "postgres", objs :+ fresh, Nil)
    val exportTpl = dir.resolve("exports").toString + "/{object}/c-{batch}.json"
    val relay = new ChangeRelay(spark, store, config, Some(exportTpl),
      horizonOf = _ => 1000L)
    store.setWatermarks(objs.map(o => ("prod", o.name, 0L)))
    store.pause("obj:prod/o3", "maintenance", "ops")

    val base = store.commitCount
    val feeds = objs.zipWithIndex.map { case (o, i) =>
      o -> outboxDf(Seq((i + 1L, 10L, "I", 1.0, s"""{"k":$i}""")))
    } :+ (fresh -> outboxDf(Seq((7L, 10L, "I", 7.0, """{"k":7}"""), (8L, 11L, "U", 8.0, """{"k":8}"""))))
    val res = relay.runCycles(feeds, "20240115000000")

    // The whole cycle's advances — four exports + one seed — land in ONE
    // snapshot commit; per-object runCycle would have committed five times.
    assert(store.commitCount == base + 1,
      s"expected one commit for the cycle, got ${store.commitCount - base}")
    assert(res("o3") == (0L, 0L), "paused object must hold")
    for (i <- Seq(0, 1, 2, 4))
      assert(res(s"o$i") == (1L, i + 1L), s"o$i exported its row and advanced")
    assert(res("o5fresh") == (0L, 8L), "seed records the frontier, emits nothing")
    for (i <- Seq(0, 1, 2, 4))
      assert(store.getWatermark("prod", s"o$i").contains(i + 1L))
    assert(store.getWatermark("prod", "o3").contains(0L))
    assert(store.getWatermark("prod", "o5fresh").contains(8L))
  }

  test("partial failure: the other objects export and advance in ONE commit; failing objects hold; the error propagates") {
    val dir = tmp()
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)
    val objs = (0 until 5).map(i => TrackingObject(s"p$i", "db0", "t", "sp"))
    val exportTpl = dir.resolve("exports").toString + "/{object}/c-{batch}.json"
    val relay = new ChangeRelay(spark, store,
      EnvironmentConfig("prod", "postgres", objs, Nil), Some(exportTpl), horizonOf = _ => 1000L)
    store.setWatermarks(objs.map(o => ("prod", o.name, 0L)))
    // A parquet frame whose files are deleted after planning: its first
    // job fails with the file gone.
    val gone = dir.resolve("gone")
    outboxDf(Seq((1L, 1L, "I", 1.0, "{}"))).write.parquet(gone.toString)
    val broken = spark.read.parquet(gone.toString)
    val walk = Files.walk(gone)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally walk.close()

    val failing = Set("p1", "p3")
    val base = store.commitCount
    val feeds = objs.map(o => o ->
      (if (failing(o.name)) broken else outboxDf(Seq((5L, 1L, "I", 1.0, "{}")))))
    val err = intercept[Exception](relay.runCycles(feeds, "20240115000000"))
    assert(err.getSuppressed.length == 1, "the second failure rides along as suppressed")
    assert(store.commitCount == base + 1, "the finished objects' advances land in one commit")
    for (o <- Seq("p0", "p2", "p4")) {
      assert(store.getWatermark("prod", o).contains(5L), s"$o advanced")
      assert(Files.isDirectory(dir.resolve("exports").resolve(o)), s"$o exported")
    }
    for (o <- failing) {
      assert(store.getWatermark("prod", o).contains(0L), s"$o keeps its watermark")
      assert(!Files.exists(dir.resolve("exports").resolve(o)))
    }
  }

  test("duplicate object names in one cycle are refused before any work") {
    val dir = tmp()
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)
    val relay = new ChangeRelay(spark, store, cfg(), None)
    val feed = outboxDf(Seq((1L, 1L, "I", 1.0, "{}")))
    intercept[IllegalArgumentException](
      relay.runCycles(Seq(obj -> feed, obj -> feed), "20240115000000"))
    assert(store.commitCount == 0)
  }

  test("a local property set on the calling thread reaches the jobs of every object") {
    val dir = tmp()
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)
    val objs = (0 until 4).map(i => TrackingObject(s"t$i", "db0", "t", "sp"))
    val relay = new ChangeRelay(spark, store,
      EnvironmentConfig("prod", "postgres", objs, Nil),
      Some(dir.resolve("exports").toString + "/{object}/c-{batch}.json"), horizonOf = _ => 1000L)
    store.setWatermarks(objs.map(o => ("prod", o.name, 0L)))
    val feeds = objs.map(o => o -> outboxDf(Seq((1L, 1L, "I", 1.0, "{}"))))

    val key = "graft.spec.cycleTag"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(String.valueOf(Option(j.properties).map(_.getProperty(key)).orNull))
    }
    val sc = spark.sparkContext
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, "cycle-7")
    try relay.runCycles(feeds, "20240115000000")
    finally {
      sc.setLocalProperty(key, null)
      org.apache.spark.TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    val tags = seen.toArray.toSeq
    // Every exporting object runs at least its stats job and its export job.
    assert(tags.size >= 2 * objs.size, s"saw only ${tags.size} jobs")
    assert(tags.forall(_ == "cycle-7"), s"jobs without the caller's property: $tags")
  }

  test("job contract: a one-envelope cycle runs two SQL executions per object; control state submits no job") {
    val dir = tmp()
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)
    val objs = Seq("j0", "j1", "j2").map(n => TrackingObject(n, "db0", "t", "sp"))
    // A 400-byte payload cap: the small envelopes pass, j2's large one
    // fails and dead-letters.
    val http = SinkEndpoint("ep1", "http", "http://x/{object}")
    val relay = new ChangeRelay(spark, store,
      EnvironmentConfig("prod", "postgres", objs, Seq(http), maxPayloadSizeBytes = 400L),
      Some(dir.resolve("exports").toString + "/{object}/c-{batch}.json"), horizonOf = _ => 1000L)
    store.setWatermarks(objs.map(o => ("prod", o.name, 0L)))
    val feeds = objs.map(o => o -> outboxDf(Seq((1L, 1L, "I", 1.0,
      if (o.name == "j2") s"""{"k":"${"x" * 1000}"}""" else "{}"))))

    val sqlExecutions = new java.util.concurrent.atomic.AtomicInteger()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          sqlExecutions.incrementAndGet()
        case _ =>
      }
    }
    val sc = spark.sparkContext
    def counted[T](body: => T): (T, Int, Int) = {
      org.apache.spark.TestListenerBus.drain(sc)
      sqlExecutions.set(0)
      jobs.set(0)
      val out = body
      org.apache.spark.TestListenerBus.drain(sc)
      (out, sqlExecutions.get(), jobs.get())
    }
    sc.addSparkListener(listener)
    try {
      val (res, executions, _) = counted(relay.runCycles(feeds, "20240115000000"))
      assert(res == objs.map(_.name -> (1L, 1L)).toMap)
      assert(executions == 2 * objs.size,
        s"expected one stats and one export execution per object, saw $executions")
      assert(store.deadLetters.collect().map(_.getAs[String]("tracking_object_name")).toSeq == Seq("j2"))

      val letter = Seq(("k1", "j0", "prod", "db0", "h1", "{}", "boom"))
        .toDF("source_key", "tracking_object_name", "environment_name",
          "database_name", "data_hash", "data", "error_message")
        .withColumn("timestamp", current_timestamp())
      val (_, _, controlJobs) = counted {
        store.watermarks.collect()
        store.pauses.collect()
        store.deadLetters.collect()
        store.getWatermark("prod", "j0")
        store.setWatermarks(Seq(("prod", "j0", 2L), ("prod", "j9", 1L)))
        store.pause("obj:prod/j1", "maintenance", "ops")
        store.resume("obj:prod/j1")
        store.appendDeadLetters(letter)
        store.purgeExpiredDeadLetters(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
        // A failed replay widens the backoff (from a 2024 clock, so both
        // letters stay due), then a successful one deletes the batch.
        assert(relay.replayCycle(_ => false, java.sql.Timestamp.valueOf("2024-01-15 00:00:00")) == ((0L, 2L)))
        assert(relay.replayCycle(_ => true, java.sql.Timestamp.valueOf("2024-01-15 00:00:00")) == ((2L, 0L)))
      }
      assert(controlJobs == 0, s"control-state I/O submitted $controlJobs Spark jobs")
      assert(store.deadLetters.collect().isEmpty)
    } finally sc.removeSparkListener(listener)
  }

  test("job contract: a three-envelope object runs the same SQL executions and jobs as a one-envelope object") {
    val dir = tmp()
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)
    val objs = Seq("one", "three").map(n => TrackingObject(n, "db0", "t", "sp"))
    val relay = new ChangeRelay(spark, store,
      EnvironmentConfig("prod", "postgres", objs, Seq(SinkEndpoint("ep1", "http", "http://x/{object}")),
        maxRecordsPerBatch = 10),
      Some(dir.resolve("exports").toString + "/{object}/c-{batch}.json"), horizonOf = _ => 1000L)
    store.setWatermarks(objs.map(o => ("prod", o.name, 0L)))
    def feed(n: Long) = outboxDf((1L to n).map(i => (i, i, "I", i.toDouble, s"""{"k":$i}""")))

    val sqlExecutions = new java.util.concurrent.atomic.AtomicInteger()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          sqlExecutions.incrementAndGet()
        case _ =>
      }
    }
    val sc = spark.sparkContext
    def counted(obj: TrackingObject, rows: Long): (Int, Int) = {
      org.apache.spark.TestListenerBus.drain(sc)
      sqlExecutions.set(0)
      jobs.set(0)
      assert(relay.runCycles(Seq(obj -> feed(rows)), "20240115000000") == Map(obj.name -> (rows, rows)))
      org.apache.spark.TestListenerBus.drain(sc)
      (sqlExecutions.get(), jobs.get())
    }
    sc.addSparkListener(listener)
    val (one, three) =
      try (counted(objs(0), 1L), counted(objs(1), 25L))
      finally sc.removeSparkListener(listener)
    assert(one._1 == 2, s"expected one id pass and one export execution, saw ${one._1}")
    assert(three == one, s"three envelopes ran (executions, jobs) $three, one envelope $one")
    val batches = Files.list(dir.resolve("exports").resolve("three")).iterator()
    var names = Set.empty[String]
    while (batches.hasNext) names += batches.next().getFileName.toString
    assert(names == Set("c-0.json", "c-1.json", "c-2.json"))
  }

  test("two dead-lettering objects in one cycle keep every dead letter, with distinct ids") {
    val dir = tmp()
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)
    val objs = Seq(TrackingObject("d0", "db0", "t", "sp"), TrackingObject("d1", "db0", "t", "sp"))
    val failingHttp = SinkEndpoint("ep1", "http", "http://x/{object}", enableCompression = false)
    // 5-byte payload cap → every envelope fails; 25 rows at 10 per batch.
    val relay = new ChangeRelay(spark, store,
      EnvironmentConfig("prod", "postgres", objs, Seq(failingHttp),
        maxRecordsPerBatch = 10, maxPayloadSizeBytes = 5L),
      None, horizonOf = _ => 1000L)
    store.setWatermarks(objs.map(o => ("prod", o.name, 0L)))
    val feeds = objs.map(o => o -> outboxDf((1L to 25L).map(i =>
      (i, i, "I", i.toDouble, s"""{"k":$i}"""))))
    val res = relay.runCycles(feeds, "20240115000000")
    assert(res == Map("d0" -> (25L, 25L), "d1" -> (25L, 25L)))
    val letters = store.deadLetters.select("id", "tracking_object_name").as[(Long, String)].collect()
    assert(letters.groupBy(_._2).map { case (o, ls) => o -> ls.length } == Map("d0" -> 3, "d1" -> 3),
      s"expected ceil(25/10) = 3 dead letters per object: ${letters.toSeq}")
    assert(letters.map(_._1).distinct.length == letters.length, s"duplicate ids: ${letters.toSeq}")
  }

  test("at-least-once: failed sink dead-letters but the watermark still advances") {
    val dir = tmp()
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)
    val failingHttp = SinkEndpoint("ep1", "http", "http://x/{object}",
      enableCompression = false)
    // 5-byte payload cap → every post fails → DLQ.
    val relay = new ChangeRelay(spark, store,
      cfg(Seq(failingHttp)).copy(maxPayloadSizeBytes = 5L),
      None, horizonOf = _ => 1000L)
    store.setWatermark("prod", "orders", 0L)
    val (_, v) = relay.runCycle(obj,
      outboxDf(Seq((1L, 1L, "I", 1.0, """{"k":1}"""))), "20240115000000")
    assert(v == 1L)
    assert(store.getWatermark("prod", "orders").contains(1L)) // advanced anyway
    assert(store.deadLetters.count() == 1)

    // T4: the same failure again is idempotent (D1 dedup).
    val relayAgain = new ChangeRelay(spark, store,
      cfg(Seq(failingHttp)).copy(maxPayloadSizeBytes = 5L), None, horizonOf = _ => 1000L)
    store.resetWatermark("prod", "orders")
    store.setWatermark("prod", "orders", 0L)
    relayAgain.runCycle(obj, outboxDf(Seq((1L, 1L, "I", 1.0, """{"k":1}"""))), "20240115000000")
    assert(store.deadLetters.count() == 1)

    // T5/replay: endpoint recovers → row deleted from DLQ.
    val (ok, bad) = relay.replayCycle(_ => true, java.sql.Timestamp.valueOf("2024-01-15 01:00:00"))
    assert(ok == 1 && bad == 0)
    assert(store.deadLetters.count() == 0)
  }

  test("broker endpoints participate in the fan-out: a guard failure dead-letters") {
    val dir = tmp()
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)
    // Missing required connection field → prepareBrokerMessage fails →
    // the failure must dead-letter (previously broker kinds were silently
    // skipped while the watermark advanced: data loss with no DLQ row).
    val broken = SinkEndpoint("mq1", "rabbitmq", "", headers = Map("HostName" -> ""))
    val relay = new ChangeRelay(spark, store, cfg(Seq(broken)), None,
      horizonOf = _ => 1000L)
    store.setWatermark("prod", "orders", 0L)
    val (_, v) = relay.runCycle(obj,
      outboxDf(Seq((1L, 1L, "I", 1.0, """{"k":1}"""))), "20240115000000")
    assert(v == 1L && store.getWatermark("prod", "orders").contains(1L))
    assert(store.deadLetters.count() == 1, "broker guard failure must dead-letter")
    val err = store.deadLetters.select("error_message").collect().head.getString(0)
    assert(err.contains("missing required fields"))
  }

  test("a bad amqp target dead-letters; the task and the other endpoints still succeed") {
    for (target <- Seq("amqp://127.0.0.1:5672", "amqp://127.0.0.1/ex", "amqp://127.0.0.1:port/ex",
        "amqp://127.0.0.1:0/ex", "amqp://127.0.0.1:65536/ex")) {
      val dir = tmp()
      val store = new ParquetStateStore(spark, dir.resolve("state").toString)
      val mq = SinkEndpoint("mq1", "rabbitmq", target, headers = Map("HostName" -> "127.0.0.1"))
      val http = SinkEndpoint("ep1", "http", "http://x/{object}")
      val relay = new ChangeRelay(spark, store, cfg(Seq(mq, http)),
        Some(dir.resolve("exports").toString + "/{object}-{batch}.json"),
        horizonOf = _ => 1000L, performAmqp = true)
      store.setWatermark("prod", "orders", 0L)
      val (n, v) = relay.runCycle(obj,
        outboxDf(Seq((1L, 1L, "I", 1.0, """{"k":1}"""))), "20240115000000")
      assert(n == 1 && v == 1L && store.getWatermark("prod", "orders").contains(1L), target)
      assert(Files.list(dir.resolve("exports")).count() == 1, s"$target: the file sink delivered")
      val errors = store.deadLetters.select("error_message").as[String].collect().toSeq
      assert(errors == Seq(s"bad amqp target '$target'"), s"$target: only the amqp endpoint failed")
    }
  }

  test("replay failure widens backoff and bumps attempts") {
    val dir = tmp()
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)
    val rows = Seq(("k1", "orders", "prod", "db0", "h1", "{}", "boom"))
      .toDF("source_key", "tracking_object_name", "environment_name",
        "database_name", "data_hash", "data", "error_message")
      .withColumn("timestamp", current_timestamp())
    store.appendDeadLetters(rows)
    val relay = new ChangeRelay(spark, store, cfg(), None)
    val (ok, bad) = relay.replayCycle(_ => false, java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
    assert(ok == 0 && bad == 1)
    val row = store.deadLetters.head()
    assert(row.getAs[Int]("attempts") == 1)
    assert(row.getAs[java.sql.Timestamp]("next_attempt")
      .equals(java.sql.Timestamp.valueOf("2024-01-15 00:01:00"))) // 60*2^0: first failure waits one base delay
  }

  test("replay purges letters past retention before attempting anything") {
    val dir = tmp()
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)
    val old = java.sql.Timestamp.valueOf("2023-10-01 00:00:00")   // > 60 days before now
    val freshTs = java.sql.Timestamp.valueOf("2024-01-14 00:00:00") // 1 day before now
    val rows = Seq(
      ("k-old", "orders", "prod", "db0", "h-old", "{}", "boom", old),
      ("k-new", "orders", "prod", "db0", "h-new", "{}", "boom", freshTs))
      .toDF("source_key", "tracking_object_name", "environment_name",
        "database_name", "data_hash", "data", "error_message", "timestamp")
    store.appendDeadLetters(rows)
    assert(store.deadLetters.count() == 2)

    val attempted = scala.collection.mutable.ArrayBuffer[String]()
    val relay = new ChangeRelay(spark, store, cfg(), None)
    val (ok, bad) = relay.replayCycle(
      k => { attempted += k; true }, java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
    // The expired letter was purged, never attempted; the fresh one replayed.
    assert(!attempted.contains("k-old"), "expired letter must not be re-attempted")
    assert(ok == 1 && bad == 0)
    assert(store.deadLetters.count() == 0)
  }

  test("pause holds the object; resume releases it; reset re-seeds") {
    val dir = tmp()
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)
    val relay = new ChangeRelay(spark, store, cfg(), None, horizonOf = _ => 100L)
    val changes = outboxDf(Seq((1L, 1L, "I", 1.0, "{}"), (2L, 2L, "U", 2.0, "{}")))

    store.setWatermark("prod", "orders", 0L)
    store.pause("env:prod", "maintenance", "ops")
    val (n, _) = relay.runCycle(obj, changes, "20240115000000")
    assert(n == 0) // held
    store.resume("env:prod")
    val (n2, _) = relay.runCycle(obj, changes, "20240115000000")
    assert(n2 == 2)

    // T8 — delete the watermark: Incremental mode seeds at the frontier.
    store.resetWatermark("prod", "orders")
    val (n3, v3) = relay.runCycle(obj, changes, "20240115000000")
    assert(n3 == 0 && v3 == 2L) // seeded, nothing emitted
    assert(store.getWatermark("prod", "orders").contains(2L))
  }

  test("watermark never regresses when a late micro-batch carries only old ids") {
    val dir = tmp()
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)
    val relay = new ChangeRelay(spark, store, cfg(), None, horizonOf = _ => 1000L)
    store.setWatermark("prod", "orders", 10L)
    // A replayed/old file surfaces rows 5-6 after the watermark reached 10.
    val late = outboxDf(Seq((5L, 5L, "I", 1.0, "{}"), (6L, 6L, "U", 2.0, "{}")))
    val (n, v) = relay.runCycle(obj, late, "20240115000000")
    assert(n == 0 && v == 10L)
    assert(store.getWatermark("prod", "orders").contains(10L)) // not regressed to 6
  }

  test("default horizon: a committed frame with out-of-order xacts seeds at max(id), then exports every new row") {
    val dir = tmp()
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)
    val relay = new ChangeRelay(spark, store, cfg(), None)
    val history = Seq((1L, 30L, "I", 1.0, "{}"), (2L, 10L, "I", 2.0, "{}"),
      (3L, 20L, "U", 3.0, "{}"))
    val (n1, v1) = relay.runCycle(obj, outboxDf(history), "20240115000000")
    assert(n1 == 0 && v1 == 3L, "no stored watermark: the first cycle seeds at max(id)")
    assert(store.getWatermark("prod", "orders").contains(3L))
    val delta = Seq((4L, 5L, "U", 4.0, "{}"), (5L, 50L, "I", 5.0, "{}"),
      (6L, 40L, "D", 0.0, null))
    val (n2, v2) = relay.runCycle(obj, outboxDf(history ++ delta), "20240115000100")
    assert(n2 == 3L && v2 == 6L, "every new row exports; the watermark lands on max(id)")
    assert(store.getWatermark("prod", "orders").contains(6L))
  }

  test("multiple sinks failing on one payload produce exactly one dead letter") {
    val dir = tmp()
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)
    val eps = Seq(
      SinkEndpoint("ep1", "http", "http://a/{object}"),
      SinkEndpoint("ep2", "http", "http://b/{object}"))
    val relay = new ChangeRelay(spark, store,
      cfg(eps).copy(maxPayloadSizeBytes = 5L), None, horizonOf = _ => 1000L)
    store.setWatermark("prod", "orders", 0L)
    relay.runCycle(obj, outboxDf(Seq((1L, 1L, "I", 1.0, """{"k":1}"""))), "20240115000000")
    assert(store.deadLetters.count() == 1) // both endpoint failures collapse (D1)
  }

  test("a 10k-envelope cycle fans out on executors, never materializing payloads on the driver") {
    val dir = tmp()
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)
    // cap=1 record/batch → one envelope per row → 10,000 envelopes. A
    // successful (large-cap) http endpoint exercises the full guard path.
    val ok = SinkEndpoint("ep1", "http", "http://x/{object}/{batch}")
    val relay = new ChangeRelay(spark, store,
      cfg(Seq(ok)).copy(maxRecordsPerBatch = 1), None, horizonOf = _ => 100000L)
    store.setWatermark("prod", "orders", 0L)
    val big = outboxDf((1L to 10000L).map(i => (i, i, "I", i.toDouble, s"""{"k":$i}""")))
    val (n, v) = relay.runCycle(obj, big, "20240115000000")
    assert(n == 10000L && v == 10000L)
    // The distributed-export invariant: every envelope was fanned out INSIDE
    // a Spark task (TaskContext present) — a driver-side collect loop would
    // leave this at 0.
    assert(relay.lastCycleExecutorEnvelopes == 10000L,
      s"expected 10000 executor-side envelope exports, saw ${relay.lastCycleExecutorEnvelopes}")
    assert(store.deadLetters.count() == 0)
  }

  test("state store: snapshot commit survives re-read and GC keeps history bounded") {
    val dir = tmp()
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)
    (1 to 5).foreach(i => store.setWatermark("e", "o", i.toLong))
    assert(store.getWatermark("e", "o").contains(5L))
    val versions = Files.list(dir.resolve("state").resolve("watermarks"))
      .filter(Files.isDirectory(_)).count()
    assert(versions <= 2) // current + one predecessor
  }
}
