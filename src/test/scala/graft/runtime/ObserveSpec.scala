package graft.runtime

import graft.SparkSpec
import graft.state.ParquetStateStore
import org.apache.spark.sql.functions._
import java.nio.file.Files

class ObserveSpec extends SparkSpec {
  import spark.implicits._

  test("observe: state rollup, dlq summary, overview over a live store") {
    val store = new ParquetStateStore(spark,
      Files.createTempDirectory("graft-obs").resolve("state").toString)
    store.setWatermark("prod", "orders", 10L)
    store.setWatermark("prod", "users", 20L)
    store.setWatermark("dev", "orders", 5L)
    val st = Observe.state(store).orderBy("environment_name")
      .select($"environment_name", $"objects", $"max_version")
      .as[(String, Long, Long)].collect()
    assert(st.toSeq == Seq(("dev", 1L, 5L), ("prod", 2L, 20L)))

    val ov = Observe.overview(store).as[(Long, Long)].head()
    assert(ov == ((2L, 3L)))

    val rows = Seq(("k1", "orders", "prod", "db0", "h1", "{}", "boom"))
      .toDF("source_key", "tracking_object_name", "environment_name",
        "database_name", "data_hash", "data", "error_message")
      .withColumn("timestamp", current_timestamp())
    store.appendDeadLetters(rows)
    val summary = Observe.dlqSummary(store, current_timestamp(), threshold = 100)
      .select($"total", $"status").as[(Long, String)].head()
    assert(summary == ((1L, "ok")))
    assert(Observe.worstOffenders(store).count() == 1)
    assert(Observe.deadLetterPage(store, Some("boom"), 10, 0).count() == 1)
    assert(Observe.deadLetterPage(store, Some("nomatch"), 10, 0).count() == 0)
  }

  test("dlq monitor: threshold alert with cooldown, purge on its own cadence") {
    val store = new ParquetStateStore(spark,
      Files.createTempDirectory("graft-mon").resolve("state").toString)
    // One OLD letter (past the 60-day retention) over a threshold of 1.
    store.appendDeadLetters(
      Seq(("k1", "orders", "prod", "db0", "h1", "{}", "boom"))
        .toDF("source_key", "tracking_object_name", "environment_name",
          "database_name", "data_hash", "data", "error_message")
        .withColumn("timestamp", lit(java.sql.Timestamp.valueOf("2023-10-01 00:00:00"))))

    var now = java.sql.Timestamp.valueOf("2024-01-15 00:00:00").getTime
    val alerts = scala.collection.mutable.ArrayBuffer[String]()
    val mon = new Observe.DlqMonitor(store, threshold = 1, alert = alerts += _,
      clock = () => now, alertCooldownMillis = 3600000L, purgeIntervalMillis = 86400000L)

    assert(mon.tick() == ((true, 0L)), "first tick over threshold alerts; purge not due yet")
    assert(alerts.size == 1 && alerts.head.contains("orders: 1 failures"))
    now += 60000 // 1 min later: still over threshold, inside cooldown
    assert(mon.tick() == ((false, 0L)), "cooldown suppresses the repeat alert")
    now += 86400000L // 24h later: cooldown passed AND purge due
    val (alerted, purged) = mon.tick()
    assert(alerted, "cooldown expired — alert fires again")
    assert(purged == 1L, "retention purge removed the expired letter")
    assert(store.deadLetters.count() == 0)
    now += 86400000L
    assert(mon.tick() == ((false, 0L)), "queue empty — below threshold, nothing to purge")
    assert(alerts.size == 2)
  }
}
