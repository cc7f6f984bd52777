package graft.sinks

import graft.functions.Scalars
import graft.model.Defaults
import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import java.nio.charset.StandardCharsets

/** Sink layer: file export, HTTP/broker guards, export failures. A file
  * endpoint's template is a path whose scheme selects the storage: plain
  * or `file:` paths are local, any other scheme goes through the Hadoop
  * FileSystem ([[Sinks.writeFile]]). No circuit breaker: a failing
  * endpoint's envelopes dead-letter and replay on the DLQ's backoff.
  *
  * Zero-egress environment: network sinks implement the reference's full
  * guard/validation/batching surface (the part its own tests cover —
  * MessageQueueServiceTests.cs:12-40) with the transport injected; the
  * default transport refuses, so every failure path (→ dead letter) is
  * exercisable offline.
  */
final case class ExportMeta(
    environment: String,
    objectName: String,
    database: String,
    timestampUtc: String,
    batch: Int = 0,
    totalBatches: Int = 1)

/** A sink's failure. The relay prefixes `error` with the failing
  * endpoint's configured key when it dead-letters the envelope. */
final case class ExportFailure(error: String)

object Sinks {

  /** Substitute the reference's 8 path/URL placeholders.
    * Ref: ExportService.cs:157-165,264-291. */
  def renderTemplate(template: String, m: ExportMeta, guid: String, urlEscape: Boolean): String = {
    val bind = Map(
      "timestamp" -> m.timestampUtc, "object" -> m.objectName,
      "database" -> m.database, "environment" -> m.environment,
      "key" -> s"${m.environment}_${m.objectName}", "guid" -> guid,
      "batch" -> m.batch.toString, "totalbatches" -> m.totalBatches.toString)
    bind.foldLeft(template) { case (acc, (k, v)) =>
      val value = if (urlEscape) java.net.URLEncoder.encode(v, "UTF-8") else v
      acc.replace(s"{$k}", value)
    }
  }

  /** K1 — file sink: one pretty-printed JSON file per batch at the
    * templated path; directories auto-created. The payload is one batch,
    * capped upstream by MaxRecordsPerBatch/MaxPayloadSizeBytes, so each
    * write is bounded by construction (the same reason the reference can
    * hold the batch in memory — ExportService.cs:156-197).
    *
    * The rendered path's SCHEME selects the storage. A plain or `file:`
    * path is written through `java.nio` on the local disk of whichever
    * process runs it (the relay writes on executors); any other scheme
    * (`hdfs://`, `s3a://`, …) through the Hadoop FileSystem API, so a
    * cluster points the template at storage every executor shares. Local
    * writes skip Hadoop's local FileSystem: it adds a `.crc` sidecar per
    * file, and even its raw variant wrote 200-KB envelopes over 10× slower
    * than `java.nio` (ROADMAP direction 6). A scheme no FileSystem
    * resolves fails into the `Left`, which dead-letters. An existing file
    * is overwritten (the template's {guid}/{timestamp} placeholders make
    * collisions a configuration choice, as in the reference).
    *
    * `hadoopConf` resolves a non-local scheme's FileSystem; the relay
    * passes its session's Hadoop settings. Without it, a fresh default
    * `Configuration` of this JVM is used, which knows no `spark.hadoop.*`
    * setting. */
  def writeFile(envelopeJson: String, pathTemplate: String, m: ExportMeta,
      hadoopConf: Option[Configuration] = None): Either[ExportFailure, String] =
    try {
      val path = renderTemplate(pathTemplate, m, java.util.UUID.randomUUID().toString, urlEscape = false)
      val bytes = prettyJson(envelopeJson).getBytes(StandardCharsets.UTF_8)
      val hPath = new org.apache.hadoop.fs.Path(path)
      if (isLocal(path)) {
        val p = Paths.get(hPath.toUri.getPath)
        if (p.getParent != null) Files.createDirectories(p.getParent)
        Files.write(p, bytes)
      } else {
        val out = hPath.getFileSystem(hadoopConf.getOrElse(defaultHadoopConf)).create(hPath, true)
        try out.write(bytes) finally out.close()
      }
      Right(path)
    } catch {
      case e: Exception => Left(ExportFailure(e.getMessage))
    }

  /** Whether a file path or template has no scheme or `file:`, so
    * [[writeFile]] writes it to the local disk. */
  def isLocal(path: String): Boolean =
    Option(new org.apache.hadoop.fs.Path(path).toUri.getScheme).forall(_ == "file")

  /** This JVM's default Hadoop configuration, for a [[writeFile]] given none. */
  private lazy val defaultHadoopConf = new Configuration()

  /** Minimal stable pretty-printer for the envelope JSON (reference writes
    * indented JSON; ExportService.cs:173). Deterministic, no library; one
    * pass into one StringBuilder. */
  def prettyJson(json: String): String = {
    val sb = new java.lang.StringBuilder(json.length * 2)
    def newline(depth: Int): Unit = {
      sb.append('\n')
      var i = 0
      while (i < depth) { sb.append("  "); i += 1 }
    }
    var depth = 0
    var inStr = false
    var esc = false
    var i = 0
    while (i < json.length) {
      val c = json.charAt(i)
      if (esc) { sb.append(c); esc = false }
      else if (inStr) {
        sb.append(c)
        if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => sb.append(c); inStr = true
        case '{' | '[' => depth += 1; sb.append(c); newline(depth)
        case '}' | ']' => depth -= 1; newline(depth); sb.append(c)
        case ',' => sb.append(c); newline(depth)
        case ':' => sb.append(": ")
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** One envelope's body as the guards send it: the UTF-8 bytes, and their
    * gzip made on first use, so every endpoint of one fan-out shares a
    * single compression. */
  final class Payload(json: String) {
    lazy val bytes: Array[Byte] = json.getBytes(StandardCharsets.UTF_8)
    lazy val gzipped: Array[Byte] = Scalars.gzipBytes(bytes)
  }

  /** An HTTP request fully prepared by the guard layer; `body` may be
    * gzipped. Ref: ExportService.cs:199-331. */
  final case class HttpRequest(url: String, headers: Map[String, String], body: Array[Byte])

  /** K2 — HTTP sink guards: templated URL, batch headers, optional gzip,
    * 5 MiB post-compression cap (fail → DLQ, no retry: "a retry cannot make
    * the body smaller"). Transport injected; default refuses (no egress). */
  def prepareHttp(payload: Payload, urlTemplate: String, m: ExportMeta,
      headers: Map[String, String] = Map.empty, compress: Boolean = false,
      maxPayloadBytes: Long = Defaults.MaxPayloadSizeBytes): Either[ExportFailure, HttpRequest] = {
    val url = renderTemplate(urlTemplate, m, java.util.UUID.randomUUID().toString, urlEscape = true)
    val body = if (compress) payload.gzipped else payload.bytes
    if (body.length > maxPayloadBytes)
      Left(ExportFailure(s"payload ${body.length} B exceeds cap $maxPayloadBytes B after compression"))
    else Right(HttpRequest(url,
      headers ++ Map(
        "Content-Type" -> "application/json",
        "X-Batch-Number" -> (m.batch + 1).toString,
        "X-Total-Batches" -> m.totalBatches.toString) ++
        (if (compress) Map("Content-Encoding" -> "gzip") else Map.empty),
      body))
  }

  /** The real HTTP transport for a [[prepareHttp]] request: one POST via
    * the JDK's HttpURLConnection (no added dependency), success = any 2xx.
    * Non-2xx and transport exceptions both map to [[ExportFailure]] so the
    * caller's failure path (→ DLQ) is uniform with the guard layer
    * (ExportService.cs:199-331 posts exactly this shape: templated URL,
    * auth/batch headers, optionally gzipped body). Callers opt IN
    * (ChangeRelay's default stays prepare-only — zero-egress posture);
    * each call is independent, so executor-side fan-out parallelizes
    * per-partition exactly like the guard path. */
  def httpPost(req: HttpRequest, timeoutMs: Int = 10000): Either[ExportFailure, Int] =
    try {
      val conn = new java.net.URL(req.url).openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      try {
        conn.setRequestMethod("POST")
        conn.setConnectTimeout(timeoutMs)
        conn.setReadTimeout(timeoutMs)
        conn.setDoOutput(true)
        req.headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
        val os = conn.getOutputStream
        try os.write(req.body) finally os.close()
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        if (is != null) try { is.readAllBytes(); () } finally is.close()
        if (code >= 200 && code < 300) Right(code)
        else Left(ExportFailure(s"HTTP $code from ${req.url}"))
      } finally conn.disconnect()
    } catch {
      case e: Exception =>
        Left(ExportFailure(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }

  /** Broker caps (bytes) — reference MessageQueueService.cs:31-36. */
  val BrokerCaps: Map[String, Long] = Map(
    "rabbitmq" -> 128L * 1024 * 1024,
    "azureservicebus" -> 256L * 1024,
    "awssqs" -> 256L * 1024,
    "eventhubs" -> 1L * 1024 * 1024,
    "kafka" -> 1L * 1024 * 1024)

  /** K3–K6 guard level: required fields, compress-then-cap. Returns the
    * publishable body or the failure that dead-letters. */
  def prepareBrokerMessage(
      broker: String,
      payload: Payload,
      requiredFields: Map[String, String]): Either[ExportFailure, Array[Byte]] = {
    val missing = requiredFields.collect { case (k, v) if v == null || v.isEmpty => k }
    if (missing.nonEmpty)
      Left(ExportFailure(s"missing required fields: ${missing.mkString(",")}"))
    else BrokerCaps.get(broker.toLowerCase) match {
      case None => Left(ExportFailure(s"unknown broker type '$broker'"))
      case Some(cap) =>
        val raw = payload.bytes
        // Compression is PER-BROKER (MessageQueueService.cs:67-94,142-151):
        // ASB and SQS both carry STRING bodies, so both gzip then
        // base64-wrap — the cap must be checked against the base64-inflated
        // wire size (~4/3×), or the guard admits messages the broker
        // rejects; RabbitMQ / Event Hubs / Kafka publish raw bytes.
        val body = broker.toLowerCase match {
          case "azureservicebus" | "awssqs" if raw.length > Defaults.CompressionThresholdBytes =>
            java.util.Base64.getEncoder.encode(payload.gzipped)
          case _ => raw
        }
        if (body.length > cap)
          Left(ExportFailure(s"message ${body.length} B exceeds $broker cap $cap B"))
        else Right(body)
    }
  }
}
