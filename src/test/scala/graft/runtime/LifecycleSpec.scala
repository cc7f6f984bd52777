package graft.runtime

import graft.SparkSpec
import graft.model.{EnvironmentConfig, SinkEndpoint, TrackingObject}
import graft.state.ParquetStateStore
import graft.streaming.ChangeRelay
import org.apache.spark.sql.functions._
import java.nio.file.Files

class LifecycleSpec extends SparkSpec {
  import spark.implicits._

  test("U1/S1: OutboxSource honors the sync/seed contract") {
    // The outbox reaches the relay as a plain DataFrame; the relay applies
    // the contract: Seed records the gated frontier and emits nothing, Sync
    // emits rows after the watermark and under the horizon.
    val outbox = Seq((1L, 1L, "I"), (2L, 2L, "U"), (3L, 99L, "U"))
      .toDF("id", "xact_id", "operation")
      .select($"id", $"xact_id", $"operation", lit(1.0).as("value"),
        lit("{}").as("props"), lit(null).cast("array<string>").as("changed"))
    val obj = TrackingObject("orders", "db0", "t", "sp")
    val cfg = EnvironmentConfig("prod", "postgres", Seq(obj), Nil)
    val store = new ParquetStateStore(spark,
      Files.createTempDirectory("graft-lifecycle").resolve("state").toString)
    val relay = new ChangeRelay(spark, store, cfg, None, horizonOf = _ => 50L)

    store.setWatermark("prod", "orders", 1L)
    assert(relay.runCycle(obj, outbox, "20240115000000") == (1L, 2L)) // > fromVersion, under horizon

    // Seed is horizon-gated like Sync: id=3 sits in in-flight xact 99, so
    // seeding must stop at 2 — an un-gated 3 would skip that row forever.
    val seeded = new ParquetStateStore(spark,
      Files.createTempDirectory("graft-lifecycle").resolve("state").toString)
    val seeder = new ChangeRelay(spark, seeded, cfg, None, horizonOf = _ => 50L)
    assert(seeder.runCycle(obj, outbox, "20240115000000") == (0L, 2L))
    assert(seeded.getWatermark("prod", "orders").contains(2L)) // gated frontier agrees

    // xact 99 commits: the next Sync picks up exactly the deferred row.
    val synced = new ChangeRelay(spark, seeded, cfg, None, horizonOf = _ => 100L)
    assert(synced.runCycle(obj, outbox, "20240115000100") == (1L, 3L))
  }

  test("S1 JDBC flavor: dialect call templates and the single JSON parameter") {
    // the reference's two call shapes (SqlDialect.cs:52,70), resolved by alias
    assert(Config.dialect("SqlServer").map(_.callSql("dbo.sp_x"))
      .contains("EXEC dbo.sp_x @Parameter = ?"))
    assert(Config.dialect("pgsql").map(_.callSql("get_changes"))
      .contains("SELECT * FROM get_changes(?::jsonb)"))
    assert(Config.dialect("oracle").isEmpty)
    // each call binds exactly one placeholder: the shared JSON parameter
    Seq("SqlServer", "pgsql").foreach { p =>
      assert(Config.dialect(p).get.callSql("proc").count(_ == '?') == 1)
    }
  }

  test("S6: loadDir parses reference-shaped JSON ordered by filename; diff detects changes") {
    val dir = Files.createTempDirectory("envs")
    val envJson =
      """{"Provider":"postgres",
        | "ConnectionStrings":{"db0":"Host=h;Database=d"},
        | "ChangeTracking":{
        |   "PollingIntervalSeconds": 10,
        |   "TrackingObjects":[{"Name":"orders","Database":"db0","TableName":"t","StoredProcedureName":"sp","InitialSyncMode":"Incremental"}],
        |   "ApiEndpoints":[{"Key":"ep1","Url":"http://h/{object}","EnableCompression":true}]}}""".stripMargin
    Files.writeString(dir.resolve("b-env.json"), envJson)
    Files.writeString(dir.resolve("a-env.json"), envJson.replace("postgres", "mssql"))

    val loaded = EnvLoader.loadDir(dir.toString)
    assert(loaded.map(_.config.name) == Seq("a-env", "b-env")) // filename order (O2)
    val b = loaded(1)
    assert(b.config.provider == "postgres")
    assert(b.config.pollingIntervalSeconds == 10)
    assert(b.config.trackingObjects.head.name == "orders")
    assert(b.config.endpoints.head.enableCompression)
    assert(b.connectionStrings("db0").startsWith("Host="))
    assert(Config.validate(b.config, b.connectionStrings).ok)

    // Single-env selection, case-insensitive.
    assert(EnvLoader.loadDir(dir.toString, Some("B-ENV")).map(_.config.name) == Seq("b-env"))

    // Reload diff: update one, remove one, add one.
    Files.writeString(dir.resolve("b-env.json"), envJson.replace("10", "20"))
    Files.delete(dir.resolve("a-env.json"))
    Files.writeString(dir.resolve("c-env.json"), envJson)
    val changes = EnvLoader.diff(loaded, EnvLoader.loadDir(dir.toString))
    assert(changes.toSet == Set(
      EnvLoader.Added("c-env"), EnvLoader.Removed("a-env"), EnvLoader.Updated("b-env")))
  }

  test("S6: an environment file with only the required keys takes every EnvironmentConfig default") {
    val json =
      """{"Provider":"postgres",
        | "ChangeTracking":{
        |   "TrackingObjects":[{"Name":"orders","Database":"db0","TableName":"t","StoredProcedureName":"sp"}],
        |   "ApiEndpoints":[{"Key":"ep1","Url":"http://h/{object}"}]}}""".stripMargin
    assert(EnvLoader.parse("prod", json).config == EnvironmentConfig("prod", "postgres",
      Seq(TrackingObject("orders", "db0", "t", "sp")),
      Seq(SinkEndpoint("ep1", "http", "http://h/{object}"))))
  }

  test("S6 secrets: PWENC round-trip — encrypt is idempotent, loader decrypts, validation passes") {
    val cipher = new AesGcmCipher("test-passphrase")
    val dir = Files.createTempDirectory("envs-enc")
    val envJson =
      """{"Provider":"postgres",
        | "ConnectionStrings":{"db0":"Host=h;Password=hunter2"},
        | "ChangeTracking":{
        |   "TrackingObjects":[{"Name":"orders","Database":"db0","TableName":"t","StoredProcedureName":"sp"}],
        |   "ApiEndpoints":[{"Key":"ep1","Url":"http://h/{object}",
        |     "Auth":{"Type":"bearer","Token":"secret-token"},
        |     "MessageQueueType":"rabbitmq",
        |     "MessageQueue":{"HostName":"mq.local","Password":"mq-pass","Queue":"q1"}}]}}""".stripMargin
    Files.writeString(dir.resolve("prod.json"), envJson)

    // Encrypt in place: secrets tagged, non-secrets (HostName, Url) plain.
    assert(Secrets.encryptDir(dir.toString, cipher) == 1)
    val enc = Files.readString(dir.resolve("prod.json"))
    assert(enc.contains("PWENC:"), "secrets must be tagged")
    assert(!enc.contains("hunter2") && !enc.contains("secret-token") && !enc.contains("mq-pass"),
      "no secret value may survive in plaintext")
    assert(enc.contains("mq.local") && enc.contains("http://h/"),
      "non-secret props stay plain")
    // Idempotent: a second pass rewrites nothing — the file is byte-stable.
    assert(Secrets.encryptDir(dir.toString, cipher) == 0)
    assert(Files.readString(dir.resolve("prod.json")) == enc)

    // The loader decrypts through the same walk: broker validation sees the
    // plaintext password and the config validates clean.
    val loaded = EnvLoader.loadDir(dir.toString, cipher = Some(cipher))
    assert(loaded.size == 1)
    val l = loaded.head
    assert(l.connectionStrings("db0") == "Host=h;Password=hunter2")
    assert(l.config.endpoints.head.headers("Password") == "mq-pass")
    assert(Config.validate(l.config, l.connectionStrings).ok)
    // Without the cipher the tagged values pass through untouched (the
    // reference behaves the same before key setup).
    val raw = EnvLoader.loadDir(dir.toString)
    assert(raw.head.connectionStrings("db0").startsWith("PWENC:"))
    // Value-level round-trip through the cipher seam.
    assert(cipher.decrypt(cipher.encrypt("abc")) == "abc")
  }

  test("T6: never two pollers per environment; reload storm keeps exactly one") {
    val starts = scala.collection.mutable.ArrayBuffer[String]()
    val stops = scala.collection.mutable.ArrayBuffer[String]()
    val mgr = new RelayManager[String](
      startTask = n => { starts += n; s"task-$n" },
      stopTask = h => { stops += h; () })

    assert(mgr.start("Prod"))
    assert(!mgr.start("prod")) // case-insensitive uniqueness
    assert(mgr.activeCount == 1)

    // Reload storm: many updates never yield a second concurrent task.
    (1 to 10).foreach(_ => mgr.applyDiff(Seq(EnvLoader.Updated("prod"))))
    assert(mgr.activeCount == 1)
    assert(stops.size == 10 && starts.size == 11) // stop-then-start each time

    mgr.applyDiff(Seq(EnvLoader.Removed("prod")))
    assert(mgr.activeCount == 0)
    mgr.applyDiff(Seq(EnvLoader.Added("dev"), EnvLoader.Added("dev")))
    assert(mgr.activeCount == 1)
    mgr.stopAll()
    assert(mgr.activeCount == 0)
  }

  test("T6: validation errors refuse startup — invalid env never starts, valid unaffected") {
    val starts = scala.collection.mutable.ArrayBuffer[String]()
    val validations = Map(
      "good" -> Config.Validation(Nil, Seq("PollingIntervalSeconds=2 outside band")),
      "bad" -> Config.Validation(Seq("unknown provider 'oracle'"), Nil))
    val mgr = new RelayManager[String](
      startTask = n => { starts += n; s"task-$n" },
      stopTask = _ => (),
      validateEnv = n => validations(n))
    // start(): warnings never block, errors always do.
    assert(mgr.start("good"))
    assert(!mgr.start("bad") && !mgr.isRunning("bad"))
    // Hot reload: an Added invalid env stays parked; an Updated env whose
    // new config is invalid stops and does NOT restart on the stale config.
    mgr.applyDiff(Seq(EnvLoader.Added("bad")))
    assert(!mgr.isRunning("bad"))
    mgr.applyDiff(Seq(EnvLoader.Updated("good")))
    assert(mgr.isRunning("good"), "valid envs are unaffected by the gate")
    assert(starts.toSeq == Seq("good", "good"))
    mgr.stopAll()
    // startAll is all-or-nothing (the reference throws at boot): one broken
    // env keeps the WHOLE fleet down — no partial startup.
    intercept[IllegalStateException](mgr.startAll(Seq("good", "bad")))
    assert(mgr.activeCount == 0)
    mgr.startAll(Seq("good"))
    assert(mgr.isRunning("good"))
    mgr.stopAll()
  }

  test("T6: case-only rename of a config file keeps the environment running") {
    val mgr = new RelayManager[String](startTask = n => s"task-$n", stopTask = _ => ())
    assert(mgr.start("Prod"))
    // EnvLoader.diff is case-sensitive on names, so renaming Prod.json to
    // prod.json yields Added + Removed that share a lowercased key; the
    // manager must apply the removal FIRST, then restart under the new name.
    mgr.applyDiff(Seq(EnvLoader.Added("prod"), EnvLoader.Removed("Prod")))
    assert(mgr.isRunning("prod"), "case-only rename must not park the environment")
    assert(mgr.activeCount == 1)
    mgr.stopAll()
  }
}
