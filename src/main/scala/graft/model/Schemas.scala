package graft.model

import org.apache.spark.sql.types._

/**
 * Core data model of the engine, derived from the reference's envelope +
 * change-row contract (reference: Documentation/docs/reference/stored-procedure.md:29-93,
 * Source/Models/TrackingObject.cs:3-11, Source/Models/Environment.cs:7-20).
 *
 * The engine is a Spark-native incremental change pipeline: a versioned,
 * append-only change table (the "outbox") is read incrementally, decoded into
 * sync envelopes, fanned out to sinks, with watermark/pause/dead-letter state
 * kept in small parquet-backed control tables.
 */
object Schemas {

  /** Sync metadata — Metadata.Sync.{Version,Type,ReasonCode}.
    * Version is mandatory (hard failure when absent):
    * reference Source/Services/ChangeTrackingBackgroundService.cs:561-565.
    * NOTE: Spark's from_json does NOT enforce nullable=false — a missing
    * Version parses to null silently. The decoder (ops.Envelope.decode) adds
    * an explicit post-parse assertion (raise_error when version IS NULL);
    * never rely on the StructField nullability alone. */
  val syncMetaSchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("type", StringType, nullable = true),       // "Full" | "Diff"
    StructField("reasonCode", IntegerType, nullable = true)
  ))

  /**
   * One change row. The reference carries `$operation` (I/U/D), `$version`,
   * `$changed` plus arbitrary user columns. Spark's from_json cannot
   * distinguish absent-key from null-value — the tri-state the reference's
   * column-level procedures depend on (02-stored-procedure.postgres.column.sql:120-133)
   * — so the user payload is carried as MapType(String, String): key absence
   * in the map IS the "unchanged / not emitted" state.
   */
  val changeRecordSchema: StructType = StructType(Seq(
    StructField("operation", StringType, nullable = true),   // I | U | D (absent on Full)
    StructField("version", LongType, nullable = true),
    StructField("changed", ArrayType(StringType), nullable = true),
    StructField("payload", MapType(StringType, StringType), nullable = true)
  ))

  /** Whole envelope: {Metadata:{Sync:{...}}, Data:[...]}.
    *
    * Field-name note: the wire contract is PascalCase (Metadata/Sync/Version)
    * with $-prefixed meta keys and user columns flat on each row
    * (stored-procedure.md:34-66); from_json matches keys case-sensitively.
    * These schemas are the engine's NORMALIZED shape — a key-normalization /
    * restructuring decode step (ops.Envelope.decode: parse as PascalCase,
    * project $-keys out, fold user columns into the payload map) is required
    * before they apply to raw reference output. */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("metadata", StructType(Seq(
      StructField("sync", syncMetaSchema, nullable = false))), nullable = false),
    StructField("data", ArrayType(changeRecordSchema), nullable = true)
  ))

  /** Watermark control table — reference SQLite LastVersions
    * (ChangeTrackingBackgroundService.cs:158-173). */
  val watermarkSchema: StructType = StructType(Seq(
    StructField("environment_name", StringType, nullable = false),
    StructField("object_name", StringType, nullable = false),
    StructField("last_version", LongType, nullable = false),
    StructField("last_updated", TimestampType, nullable = false)
  ))

  /** Pause control table — reference Pauses (PauseService.cs:27-48).
    * Scope values: "env:<lower(name)>" / "obj:<lower(env)>/<lower(obj)>". */
  val pauseSchema: StructType = StructType(Seq(
    StructField("scope", StringType, nullable = false),
    StructField("reason", StringType, nullable = true),
    StructField("paused_by", StringType, nullable = true),
    StructField("paused_at", TimestampType, nullable = false)
  ))

  /** Dead-letter table — reference DeadLetters (DeadLetterService.cs:36-72),
    * unique on (sourceKey, dataHash). */
  val deadLetterSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("source_key", StringType, nullable = false),
    StructField("tracking_object_name", StringType, nullable = false),
    StructField("environment_name", StringType, nullable = true),
    StructField("database_name", StringType, nullable = false),
    StructField("data_hash", StringType, nullable = false),
    StructField("data", StringType, nullable = false),
    StructField("error_message", StringType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false),
    StructField("attempts", IntegerType, nullable = false),
    StructField("next_attempt", TimestampType, nullable = true)
  ))
}

/** A table under change tracking — reference Source/Models/TrackingObject.cs:3-11. */
final case class TrackingObject(
    name: String,
    database: String,
    tableName: String,
    storedProcedureName: String,
    initialSyncMode: String = "Incremental" // "Full" | "Incremental" (TrackingObject.cs:10 default)
)

/** Sink endpoint — reference Source/Models/ApiEndpoint.cs:5-15 (subset that
  * matters for dataflow; auth/transport config is carried opaquely). */
final case class SinkEndpoint(
    key: String,
    kind: String,                       // file | http | kafka | rabbitmq | ...; each gets every envelope
    target: String,                     // templated path (scheme picks the storage) / url / topic
    enableCompression: Boolean = false,
    headers: Map[String, String] = Map.empty
)

/** One environment: a DB platform + objects + sinks
  * — reference Source/Models/Environment.cs:7-20. */
final case class EnvironmentConfig(
    name: String,
    provider: String,                   // mssql | postgres (aliases normalized)
    trackingObjects: Seq[TrackingObject],
    endpoints: Seq[SinkEndpoint],
    // Defaults reference the single source of truth below — a re-stated
    // literal here could drift from Defaults.* silently.
    pollingIntervalSeconds: Int = Defaults.PollingIntervalSeconds, // Environment.cs:53-54
    maxRecordsPerBatch: Int = Defaults.MaxRecordsPerBatch,         // Environment.cs:113-114
    maxPayloadSizeBytes: Long = Defaults.MaxPayloadSizeBytes,      // Environment.cs:110-111
    deadLetterMaxReplayAttempts: Int = Defaults.DlqMaxReplayAttempts, // Environment.cs:94-100
    deadLetterReplayBackoffSeconds: Int = Defaults.DlqBackoffBaseSeconds
)

/** Operational defaults mirroring BASELINE.md — the engine honors these. */
object Defaults {
  val PollingIntervalSeconds = 30
  val MaxRecordsPerBatch = 1000
  val MaxPayloadSizeBytes: Long = 5L * 1024 * 1024
  val DlqReplayBatchSize = 25          // DeadLetterReplayService.cs:23
  val DlqMaxReplayAttempts = 5
  val DlqBackoffBaseSeconds = 60
  val DlqBackoffCapSeconds = 6 * 3600  // cap 6h, DeadLetterReplayService.cs:137-141
  val DlqRetentionDays = 60
  val CompressionThresholdBytes = 1024 // MessageQueueService.cs:36
}
