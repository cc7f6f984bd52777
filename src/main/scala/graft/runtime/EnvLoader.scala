package graft.runtime

import graft.model.{EnvironmentConfig, SinkEndpoint, TrackingObject}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** S6 — environments-directory config scan + reload detection.
  *
  * Mirrors the reference loader (Source/Program.cs:140-177,
  * Source/Services/EnvironmentConfigService.cs:55-208): `environments/
  * *.json` ordered by filename, environment name taken from the filename,
  * optional single-environment selection, and change detection computing
  * Added/Removed/Updated sets between scans (the FS-watcher debounce is an
  * I/O concern; the diff itself is what downstream lifecycle reacts to).
  *
  * JSON parsing uses Jackson (already on the Spark classpath) against the
  * reference's file shape: Provider, ConnectionStrings, ChangeTracking
  * {TrackingObjects[], ApiEndpoints[], PollingIntervalSeconds, …}.
  */
object EnvLoader {

  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m
  }

  final case class Loaded(config: EnvironmentConfig, connectionStrings: Map[String, String],
                          fingerprint: String)

  /** Parse one environment file. With a cipher, `PWENC:`-tagged secret
    * properties (Secrets walk) are decrypted before binding, so validation
    * and the sinks see plaintext; the fingerprint stays on the RAW file
    * content — re-encryption is idempotent, so an unchanged file diffs as
    * unchanged whether or not its secrets are tagged. */
  def parse(name: String, json: String, cipher: Option[SecretCipher] = None): Loaded = {
    val plain = cipher.map(Secrets.decryptConfig(json, _)).getOrElse(json)
    val root = mapper.readTree(plain)
    def text(n: com.fasterxml.jackson.databind.JsonNode, f: String, dflt: String = ""): String =
      if (n != null && n.has(f) && !n.get(f).isNull) n.get(f).asText() else dflt
    def int(n: com.fasterxml.jackson.databind.JsonNode, f: String, dflt: Int): Int =
      if (n != null && n.has(f) && n.get(f).isNumber) n.get(f).asInt() else dflt

    val provider = text(root, "Provider", "mssql")
    val conns: Map[String, String] =
      if (root.has("ConnectionStrings") && root.get("ConnectionStrings").isObject)
        root.get("ConnectionStrings").properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
      else Map.empty

    val ct = root.get("ChangeTracking")
    val objs: Seq[TrackingObject] =
      if (ct != null && ct.has("TrackingObjects"))
        ct.get("TrackingObjects").elements().asScala.map { o =>
          TrackingObject(
            name = text(o, "Name"),
            database = text(o, "Database"),
            tableName = text(o, "TableName"),
            storedProcedureName = text(o, "StoredProcedureName"),
            initialSyncMode = text(o, "InitialSyncMode", "Incremental"))
        }.toSeq
      else Seq.empty

    val eps: Seq[SinkEndpoint] =
      if (ct != null && ct.has("ApiEndpoints"))
        ct.get("ApiEndpoints").elements().asScala.map { e =>
          // Carry every remaining scalar field (plus the MessageQueue config
          // object's fields) in the opaque headers map — this is where the
          // per-broker connection settings (HostName, ConnectionString,
          // Region, QueueUrl, EventHubName, ...) live for Config.validate.
          val known = Set("Key", "MessageQueueType", "Url", "EnableCompression", "MessageQueue")
          def scalars(n: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
            if (n == null || !n.isObject) Map.empty
            else n.properties().asScala
              .filter(kv => kv.getValue.isValueNode && !kv.getValue.isNull)
              .map(kv => kv.getKey -> kv.getValue.asText()).toMap
          val topLevel = scalars(e).view.filterKeys(!known.contains(_)).toMap
          val mq = scalars(if (e.has("MessageQueue")) e.get("MessageQueue") else null)
          SinkEndpoint(
            key = text(e, "Key"),
            kind = if (e.has("MessageQueueType")) text(e, "MessageQueueType", "http").toLowerCase
                   else "http",
            target = text(e, "Url"),
            enableCompression = e.has("EnableCompression") && e.get("EnableCompression").asBoolean(false),
            headers = topLevel ++ mq)
        }.toSeq
      else Seq.empty

    def long(n: com.fasterxml.jackson.databind.JsonNode, f: String, dflt: Long): Long =
      if (n != null && n.has(f) && n.get(f).isNumber) n.get(f).asLong() else dflt

    // an absent optional field keeps EnvironmentConfig's own default
    val d = EnvironmentConfig(name, provider, objs, eps)
    val cfg = d.copy(
      pollingIntervalSeconds = int(ct, "PollingIntervalSeconds", d.pollingIntervalSeconds),
      retryCount = int(ct, "RetryCount", d.retryCount),
      retryDelaySeconds = int(ct, "RetryDelaySeconds", d.retryDelaySeconds),
      maxRecordsPerBatch = int(ct, "MaxRecordsPerBatch", d.maxRecordsPerBatch),
      maxPayloadSizeBytes = long(ct, "MaxPayloadSizeBytes", d.maxPayloadSizeBytes),
      deadLetterMaxReplayAttempts = int(ct, "DeadLetterMaxReplayAttempts", d.deadLetterMaxReplayAttempts),
      deadLetterReplayBackoffSeconds =
        int(ct, "DeadLetterReplayBackoffSeconds", d.deadLetterReplayBackoffSeconds))

    Loaded(cfg, conns, sha256Hex(json))
  }

  /** Strong content fingerprint — a 32-bit String.hashCode can collide
    * between old and new file contents, which would make diff() miss an
    * Updated environment and keep a stale config running. */
  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Load every `.json` file in `dir` ordered by filename (O2); name from
    * filename; optional single-env selection (case-insensitive). */
  def loadDir(dir: String, onlyEnv: Option[String] = None,
              cipher: Option[SecretCipher] = None): Seq[Loaded] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) return Seq.empty
    val listing = Files.list(p)
    val files =
      try listing.iterator().asScala
        .filter(f => f.toString.endsWith(".json"))
        .toSeq.sortBy(_.getFileName.toString)
      finally listing.close()
    val loaded = files.map { f =>
      val name = f.getFileName.toString.stripSuffix(".json")
      parse(name, Files.readString(f), cipher)
    }
    onlyEnv match {
      case Some(sel) => loaded.filter(_.config.name.equalsIgnoreCase(sel))
      case None => loaded
    }
  }

  sealed trait Change { def name: String }
  final case class Added(name: String) extends Change
  final case class Removed(name: String) extends Change
  final case class Updated(name: String) extends Change

  /** SET1 at the config level: diff two scans by environment name +
    * content fingerprint (EnvironmentConfigService.cs:83-155). */
  def diff(previous: Seq[Loaded], current: Seq[Loaded]): Seq[Change] = {
    val prev = previous.map(l => l.config.name -> l.fingerprint).toMap
    val cur = current.map(l => l.config.name -> l.fingerprint).toMap
    val added = (cur.keySet -- prev.keySet).toSeq.sorted.map(Added)
    val removed = (prev.keySet -- cur.keySet).toSeq.sorted.map(Removed)
    val updated = (cur.keySet & prev.keySet).toSeq.sorted
      .filter(n => prev(n) != cur(n)).map(Updated)
    added ++ removed ++ updated
  }
}
