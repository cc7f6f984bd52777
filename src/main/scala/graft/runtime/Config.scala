package graft.runtime

import graft.model.EnvironmentConfig

/** Config validation + dialect registry — the reference's
  * ConfigurationValidator (Source/Helpers/ConfigurationValidator.cs:26-396)
  * and SqlDialect alias table (Source/Data/SqlDialect.cs:78-110), as pure
  * functions returning error/warning lists (the shape its 533-line test
  * suite asserts on). */
object Config {

  final case class Validation(errors: Seq[String], warnings: Seq[String]) {
    def ok: Boolean = errors.isEmpty
  }

  /** S5 — dialect aliases, case-insensitive, trimmed
    * (SqlDialect.cs:78-110). */
  val DialectAliases: Map[String, String] = Map(
    "mssql" -> "mssql", "sqlserver" -> "mssql",
    "postgres" -> "postgres", "postgresql" -> "postgres", "pgsql" -> "postgres")

  def normalizeProvider(p: String): Option[String] =
    DialectAliases.get(Option(p).getOrElse("").trim.toLowerCase)

  /** S5 — connection-property merge: dialect defaults apply only where the
    * user did not set the key (user wins; SqlDialect.cs:120-143). */
  def mergeConnectionProps(user: Map[String, String], defaults: Map[String, String]): Map[String, String] = {
    val userKeys = user.keySet.map(_.toLowerCase)
    defaults.filterNot { case (k, _) => userKeys.contains(k.toLowerCase) } ++ user
  }

  /** One fully-populated dialect — every field the pipeline assumes, so a
    * provider added later has to earn its place rather than quietly
    * skipping half the contract (the reference holds all dialects to this
    * via its parity suite, SqlDialectParityTests.cs:10-196). */
  final case class SqlDialect(
      name: String,
      /** Per-connection session prep, or None when the dialect needs none
        * (SqlDialect.cs:50 mssql TEXTSIZE+ANSI_WARNINGS; :66 pg null). */
      sessionInit: Option[String],
      /** Server-side watermark query; None means the dialect has no server
        * watermark and MUST be seedable through the procedure
        * (SqlDialect.cs:51 vs :68). */
      currentVersionSql: Option[String],
      /** Procedure-call template, `{proc}` = procedure name, `?` = the ONE
        * shared JSON parameter (JDBC analog of `@json`;
        * SqlDialect.cs:52,70). */
      callTemplate: String,
      /** Wire defaults; user config always wins (SqlDialect.cs:120-143). */
      connectionDefaults: Map[String, String]) {
    def callSql(procName: String): String = callTemplate.replace("{proc}", procName)
  }

  /** The dialect registry (SqlDialect.cs:45-76). Connection-default KEY
    * names are per-driver: ADO.NET-style for mssql (the testable pinned
    * surface), pgJDBC property names for postgres (`ApplicationName`,
    * `connectTimeout`) since that is the driver a Spark deployment loads. */
  val SqlDialects: Map[String, SqlDialect] = Map(
    "mssql" -> SqlDialect(
      name = "mssql",
      sessionInit = Some("SET TEXTSIZE 2147483647; SET ANSI_WARNINGS OFF"),
      currentVersionSql = Some("SELECT CHANGE_TRACKING_CURRENT_VERSION()"),
      callTemplate = "EXEC {proc} @Parameter = ?",
      connectionDefaults = Map(
        "Application Name" -> "graft",
        "Packet Size" -> "32768",
        "Connect Timeout" -> "30")),
    "postgres" -> SqlDialect(
      name = "postgres",
      sessionInit = None,             // no TEXTSIZE equivalent; json arrives whole
      currentVersionSql = None,       // no server watermark → seed via procedure
      callTemplate = "SELECT * FROM {proc}(?::jsonb)",
      connectionDefaults = Map(
        "ApplicationName" -> "graft",
        "connectTimeout" -> "30")))

  /** Resolve an alias to its registered dialect. */
  def dialect(provider: String): Option[SqlDialect] =
    normalizeProvider(provider).flatMap(SqlDialects.get)

  /** Dialect connection defaults (SqlDialect.cs:50-58). */
  val MssqlDefaults: Map[String, String] = SqlDialects("mssql").connectionDefaults
  val PostgresDefaults: Map[String, String] = SqlDialects("postgres").connectionDefaults

  /** Validate one environment, mirroring the reference's rule set:
    * provider known, names present, connection strings resolvable,
    * InitialSyncMode valid, polling interval sane, endpoints complete. */
  def validate(env: EnvironmentConfig, connectionStrings: Map[String, String] = Map.empty): Validation = {
    val errors = Seq.newBuilder[String]
    val warnings = Seq.newBuilder[String]

    if (Option(env.name).forall(_.trim.isEmpty))
      errors += "environment name must not be empty"
    if (normalizeProvider(env.provider).isEmpty)
      errors += s"unknown provider '${env.provider}' (expected one of ${DialectAliases.keys.toSeq.sorted.mkString(", ")})"

    // PollingIntervalSeconds warn band 5–3600 (ConfigurationValidator.cs:79-86).
    if (env.pollingIntervalSeconds < 5 || env.pollingIntervalSeconds > 3600)
      warnings += s"PollingIntervalSeconds=${env.pollingIntervalSeconds} outside the recommended 5–3600 s band"

    // Global-settings sanity bands (ConfigurationValidator.cs:88-114) — all
    // WARNINGS, matching the reference's split: it runs with odd values but
    // says so. The reference validates these once on GlobalSettings; this
    // model folds the settings into each environment, so the bands apply
    // per environment. RetryCount/RetryDelaySeconds have no band because
    // there is no retry setting: a failed object keeps its watermark and
    // re-polls next cycle, and a failed envelope replays from the DLQ.
    if (env.maxRecordsPerBatch < 100)
      warnings += s"MaxRecordsPerBatch=${env.maxRecordsPerBatch} may create too many API calls (recommended 100-1000)"
    else if (env.maxRecordsPerBatch > 10000)
      warnings += s"MaxRecordsPerBatch=${env.maxRecordsPerBatch} may create very large payloads (recommended 100-1000)"
    if (env.maxPayloadSizeBytes < 1024L * 1024)
      warnings += s"MaxPayloadSizeBytes=${env.maxPayloadSizeBytes / 1024}KB may be too small (recommended 1-10MB)"

    if (env.trackingObjects.isEmpty)
      warnings += "environment has no tracking objects"

    env.trackingObjects.foreach { o =>
      if (Option(o.name).forall(_.trim.isEmpty))
        errors += "tracking object with empty Name"
      if (Option(o.storedProcedureName).forall(_.trim.isEmpty))
        errors += s"tracking object '${o.name}': StoredProcedureName is required"
      if (!Seq("full", "incremental").contains(Option(o.initialSyncMode).getOrElse("").toLowerCase))
        errors += s"tracking object '${o.name}': InitialSyncMode '${o.initialSyncMode}' is not Full|Incremental"
      if (connectionStrings.nonEmpty && !connectionStrings.keySet.exists(_.equalsIgnoreCase(o.database)))
        errors += s"tracking object '${o.name}': no connection string for database key '${o.database}'"
    }

    // Null-safe: a null Name is already reported above; the dup check must
    // not NPE on it.
    val dupObjects = env.trackingObjects.groupBy(o => Option(o.name).getOrElse("").toLowerCase)
      .collect { case (n, xs) if n.nonEmpty && xs.size > 1 => n }
    dupObjects.foreach(n => errors += s"duplicate tracking object name '$n'")

    env.endpoints.foreach { ep =>
      if (Option(ep.key).forall(_.trim.isEmpty))
        errors += "endpoint with empty Key"
      val kind = Option(ep.kind).getOrElse("").toLowerCase
      kind match {
        case "http" =>
          if (Option(ep.target).forall(_.trim.isEmpty))
            errors += s"endpoint '${ep.key}': http Url is required"
          else if (!ep.target.startsWith("http://") && !ep.target.startsWith("https://"))
            errors += s"endpoint '${ep.key}': Url must start with http:// or https://"
        case "file" | "kafka" =>
          if (Option(ep.target).forall(_.trim.isEmpty))
            errors += s"endpoint '${ep.key}': target (path/topic) is required"
        case k if BrokerRequiredFields.contains(k) =>
          if (Option(ep.target).forall(_.trim.isEmpty))
            errors += s"endpoint '${ep.key}': $k queue/topic is required"
          val missing = BrokerRequiredFields(k).filterNot(f =>
            ep.headers.keys.exists(_.equalsIgnoreCase(f)))
          if (missing.nonEmpty)
            errors += s"endpoint '${ep.key}': $k config missing required ${missing.mkString(", ")}"
        case other =>
          errors += s"endpoint '${ep.key}': unknown sink kind '$other'"
      }
    }

    Validation(errors.result(), warnings.result())
  }

  /** Per-broker required connection fields, mirroring the reference's
    * validator + guard checks (ConfigurationValidator.cs:117-341,
    * MessageQueueService guards; carried in the endpoint's opaque config
    * map here). */
  val BrokerRequiredFields: Map[String, Seq[String]] = Map(
    "rabbitmq" -> Seq("HostName"),
    "azureservicebus" -> Seq("ConnectionString"),
    "awssqs" -> Seq("Region", "QueueUrl"),
    "eventhubs" -> Seq("ConnectionString", "EventHubName"),
    "kafka" -> Seq())

  /** T8/S8 invariant from the dialect parity suite: a dialect without a
    * server-side watermark must be seedable through the procedure
    * (SqlDialectParityTests.cs:141-153). Derived from the registry, not a
    * name list — a dialect added later inherits the invariant. */
  def requiresSeedMode(provider: String): Boolean =
    dialect(provider).exists(_.currentVersionSql.isEmpty)
}
