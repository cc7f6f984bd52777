package graft.runtime

import graft.SparkSpec
import graft.model.{EnvironmentConfig, SinkEndpoint, TrackingObject}
import graft.sinks.{ExportMeta, Sinks}

/** Config-validator rules (ConfigurationValidatorTests pattern) and sink
  * guard-level behavior (MessageQueueServiceTests pattern). */
class ConfigSinksSpec extends SparkSpec {

  private val goodObj = TrackingObject("orders", "db0", "t", "sp")
  private def env(
      provider: String = "postgres",
      objs: Seq[TrackingObject] = Seq(goodObj),
      eps: Seq[SinkEndpoint] = Nil,
      poll: Int = 30) =
    EnvironmentConfig("prod", provider, objs, eps, pollingIntervalSeconds = poll)

  test("provider aliases normalize case-insensitively; unknown rejected") {
    assert(Config.normalizeProvider(" SqlServer ").contains("mssql"))
    assert(Config.normalizeProvider("PostgreSQL").contains("postgres"))
    assert(Config.normalizeProvider("oracle").isEmpty)
    assert(Config.validate(env(provider = "oracle")).errors.exists(_.contains("unknown provider")))
  }

  test("validation catches empty names, bad sync mode, missing conn string, dup objects") {
    val bad = env(objs = Seq(
      goodObj,
      goodObj.copy(name = "orders"),                        // duplicate
      TrackingObject("x", "nodb", "t", "", "Sometimes")))   // bad proc + mode
    val v = Config.validate(bad, connectionStrings = Map("db0" -> "cs"))
    assert(v.errors.exists(_.contains("duplicate tracking object")))
    assert(v.errors.exists(_.contains("StoredProcedureName")))
    assert(v.errors.exists(_.contains("InitialSyncMode")))
    assert(v.errors.exists(_.contains("no connection string for database key 'nodb'")))
  }

  test("polling interval outside 5-3600 warns but does not error") {
    val v = Config.validate(env(poll = 2))
    assert(v.ok && v.warnings.exists(_.contains("PollingIntervalSeconds")))
  }

  test("global-settings bands: each edge warns on the reference's rule, never errors") {
    // ConfigurationValidator.cs:88-114 band table — (description, config,
    // expected warning fragment or None). Edges chosen to pin BOTH sides of
    // every band.
    val base = env()
    val cases: Seq[(String, EnvironmentConfig, Option[String])] = Seq(
      ("MaxRecords 99 too chatty",   base.copy(maxRecordsPerBatch = 99),    Some("MaxRecordsPerBatch=99")),
      ("MaxRecords 100 ok",          base.copy(maxRecordsPerBatch = 100),   None),
      ("MaxRecords 10000 ok",        base.copy(maxRecordsPerBatch = 10000), None),
      ("MaxRecords 10001 too large", base.copy(maxRecordsPerBatch = 10001), Some("MaxRecordsPerBatch=10001")),
      ("MaxPayload 1MB-1 small",     base.copy(maxPayloadSizeBytes = 1024L * 1024 - 1), Some("MaxPayloadSizeBytes")),
      ("MaxPayload 1MB ok",          base.copy(maxPayloadSizeBytes = 1024L * 1024),     None))
    for ((desc, cfg, expect) <- cases) {
      val v = Config.validate(cfg)
      assert(v.ok, s"$desc: bands must warn, not error — got ${v.errors}")
      expect match {
        case Some(frag) => assert(v.warnings.exists(_.contains(frag)),
          s"$desc: expected a warning containing '$frag' in ${v.warnings}")
        case None => assert(!v.warnings.exists(w => w.contains("MaxRecords") ||
          w.contains("MaxPayload")), s"$desc: unexpected band warning in ${v.warnings}")
      }
    }
  }

  test("endpoint validation: unknown kind, missing target, malformed url") {
    val v = Config.validate(env(eps = Seq(
      SinkEndpoint("a", "http", ""),
      SinkEndpoint("b", "carrierpigeon", "x"),
      SinkEndpoint("c", "http", "ftp://nope"))))
    assert(v.errors.exists(_.contains("'a': http Url is required")))
    assert(v.errors.exists(_.contains("unknown sink kind 'carrierpigeon'")))
    assert(v.errors.exists(_.contains("'c': Url must start with")))
  }

  test("broker endpoint validation: per-broker required fields") {
    val v = Config.validate(env(eps = Seq(
      SinkEndpoint("r", "rabbitmq", "q1"),                       // missing HostName
      SinkEndpoint("s", "awssqs", "q2", headers = Map("Region" -> "eu-1")), // missing QueueUrl
      SinkEndpoint("e", "eventhubs", "hub",
        headers = Map("ConnectionString" -> "cs", "EventHubName" -> "hub")), // complete
      SinkEndpoint("k", "kafka", "topic1"))))                    // topic-only is fine
    assert(v.errors.exists(_.contains("'r': rabbitmq config missing required HostName")))
    assert(v.errors.exists(e => e.contains("'s'") && e.contains("QueueUrl") && !e.contains("Region")))
    assert(!v.errors.exists(_.contains("'e'")))
    assert(!v.errors.exists(_.contains("'k'")))
  }

  test("connection-prop merge: user keys win over dialect defaults") {
    val merged = Config.mergeConnectionProps(
      Map("Packet Size" -> "4096", "Application Name" -> "app"),
      Config.MssqlDefaults)
    assert(merged("Packet Size") == "4096")
    assert(merged("Connect Timeout") == "30")
  }

  test("seedability invariant: postgres requires seed mode, mssql does not") {
    assert(Config.requiresSeedMode("pgsql"))
    assert(!Config.requiresSeedMode("sqlserver"))
  }

  private val meta = ExportMeta("prod", "orders", "db0", "20240115000000", 0, 2)

  test("K2 guards: batch headers set; oversized post-compression body fails, never truncates") {
    val small = Sinks.prepareHttp(new Sinks.Payload("""{"a":1}"""), "http://h/{object}", meta)
    assert(small.isRight)
    val req = small.toOption.get
    assert(req.url == "http://h/orders")
    assert(req.headers("X-Batch-Number") == "1" && req.headers("X-Total-Batches") == "2")
    val big = Sinks.prepareHttp(new Sinks.Payload("x" * 100), "http://h", meta, compress = true,
      maxPayloadBytes = 10)
    assert(big.isLeft && big.swap.toOption.get.error.contains("exceeds cap"))
  }

  test("K3-K6 guards: required fields, per-broker caps, compression threshold") {
    def payload(s: String) = new Sinks.Payload(s)
    assert(Sinks.prepareBrokerMessage("rabbitmq", payload("x"), Map("queue" -> ""))
      .swap.toOption.get.error.contains("missing required fields"))
    assert(Sinks.prepareBrokerMessage("notabroker", payload("x"), Map("q" -> "v")).isLeft)
    // Compressible payload under the ASB cap passes even though raw > cap.
    val compressible = "y" * 300000
    assert(Sinks.prepareBrokerMessage("azureservicebus", payload(compressible), Map("queue" -> "q")).isRight)
    // Tiny payload is left uncompressed.
    val tiny = Sinks.prepareBrokerMessage("kafka", payload("{}"), Map("topic" -> "t"))
    assert(tiny.toOption.get.sameElements("{}".getBytes("UTF-8")))
    // SQS carries a STRING body like ASB: gzip + base64, cap checked on the
    // base64-inflated wire size, and the payload round-trips.
    val sqs = Sinks.prepareBrokerMessage("awssqs", payload(compressible), Map("QueueUrl" -> "u"))
    val roundTrip = graft.functions.Scalars.gunzipBytes(
      java.util.Base64.getDecoder.decode(sqs.toOption.get))
    assert(new String(roundTrip, "UTF-8") == compressible)
  }

  test("template rendering covers all 8 placeholders and URL-escapes") {
    val m = ExportMeta("prod env", "ord", "db", "20240101000000", 1, 3)
    val s = Sinks.renderTemplate(
      "{environment}/{object}/{database}/{key}/{timestamp}/{batch}/{totalbatches}/{guid}",
      m, "G-1", urlEscape = false)
    assert(s == "prod env/ord/db/prod env_ord/20240101000000/1/3/G-1")
    val u = Sinks.renderTemplate("http://h/{environment}", m, "G", urlEscape = true)
    assert(u == "http://h/prod+env")
  }

  test("pretty printer produces stable indented JSON") {
    val p = Sinks.prettyJson("""{"a":[1,2],"b":{"c":"x,y"}}""")
    assert(p.contains("\"a\": [") && p.contains("\"c\": \"x,y\"")) // comma inside string untouched
    assert(p.linesIterator.size > 5)
  }

  /** The pretty-printer as it was before it became one StringBuilder
    * pass: the byte-for-byte reference for the file sink's output. */
  private def prettyJsonReference(json: String): String = {
    val sb = new StringBuilder
    var depth = 0
    var inStr = false
    var esc = false
    json.foreach { c =>
      if (esc) { sb.append(c); esc = false }
      else c match {
        case '\\' if inStr => sb.append(c); esc = true
        case '"' => sb.append(c); inStr = !inStr
        case '{' | '[' if !inStr =>
          depth += 1; sb.append(c).append('\n').append("  " * depth)
        case '}' | ']' if !inStr =>
          depth -= 1; sb.append('\n').append("  " * depth).append(c)
        case ',' if !inStr => sb.append(c).append('\n').append("  " * depth)
        case ':' if !inStr => sb.append(": ")
        case _ => sb.append(c)
      }
    }
    sb.toString
  }

  test("pretty printer output is unchanged, escapes and structural characters in strings included") {
    val cases = Seq(
      """{"a":[1,2],"b":{"c":"x,y"}}""",
      """{"q":"say \"hi\" {}[],:","bs":"c:\\dir\\","tail\\":[{"k":"]["}]}""",
      """{"Metadata":{"Sync":{"Version":3,"Type":"Diff","ReasonCode":0}},"Data":[""" +
        """{"$operation":"I","$version":3,"$changed":null,"props":"{\"k\":[1,2]}"}]}""",
      """[]""", """{}""", """"\\"""", """{"unterminated":"\""")
    cases.foreach(j => assert(Sinks.prettyJson(j) == prettyJsonReference(j), j))
  }

  test("one payload serves every guard: bodies equal a fresh payload's byte for byte") {
    val json = """{"Data":[""" + (1 to 400).map(i => s"""{"k":$i}""").mkString(",") + "]}"
    val shared = new Sinks.Payload(json)
    val viaShared = Sinks.prepareHttp(shared, "http://h/{object}", meta, compress = true).toOption.get
    val viaFresh = Sinks.prepareHttp(new Sinks.Payload(json), "http://h/{object}", meta,
      compress = true).toOption.get
    assert(viaShared.body.sameElements(viaFresh.body))
    assert(viaShared.body eq shared.gzipped, "the http body is the shared gzip")
    for (broker <- Seq("awssqs", "azureservicebus", "kafka"))
      assert(Sinks.prepareBrokerMessage(broker, shared, Map("q" -> "v")).toOption.get
        .sameElements(Sinks.prepareBrokerMessage(broker, new Sinks.Payload(json), Map("q" -> "v"))
          .toOption.get), broker)
  }

  test("K1: a file:// template lands at its absolute path and nothing else is written") {
    val dir = java.nio.file.Files.createTempDirectory("graft-file-scheme")
    val m = graft.sinks.ExportMeta("prod", "orders", "db0", "20240101000000", 0, 1)
    val got = Sinks.writeFile("""{"k":1}""", s"file://$dir/{object}-{batch}.json", m)
    assert(got.isRight, s"file:// write failed: $got")
    val written = dir.toFile.list().toSeq
    assert(written == Seq("orders-0.json"), s"expected one file and no .crc sidecar: $written")
    assert(java.nio.file.Files.readString(dir.resolve("orders-0.json")) == Sinks.prettyJson("""{"k":1}"""))
    // the scheme is not read as a relative directory of the working directory
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get("file:")),
      "a relative file: directory was written")
    // an unresolvable scheme fails into the Either, never throws (DLQ path)
    assert(Sinks.writeFile("""{"k":1}""", "nosuchscheme://x/{object}", m).isLeft)
  }
}
