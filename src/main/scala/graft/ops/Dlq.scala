package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Defaults

/** Dead-letter-queue dataflow: hash dedup, due filter, exponential backoff,
  * retry-state transition, monitor statistics, search and pagination.
  *
  * Ref: Source/Services/DeadLetterService.cs:36-299,
  * Source/Services/DeadLetterReplayService.cs:75-141,
  * Source/Services/DeadLetterMonitor.cs:101-209.
  */
object Dlq {

  /** D1 — payloads are unique per (sourceKey, SHA-256(data)); duplicate
    * failures collapse into one row (keeping the earliest, so replay order
    * is stable). Ref: DeadLetterService.cs:90-144,293-299.
    *
    * Implemented as a row_number window (hash partition + per-partition
    * sort on the dedup key) rather than `dropDuplicates` so the surviving
    * row is deterministic — the earliest id, not an arbitrary one. */
  def dedup(dlq: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source_key"), col("data_hash"))
      .orderBy(col("id"))
    dlq.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** F4/D1 — the dedup hash itself. Ref: DeadLetterService.cs:293-299. */
  def dataHash(data: Column): Column = sha2(data, 256)

  /** [[dataHash]] on the driver: the same lowercase SHA-256 hex of the
    * UTF-8 bytes, so letters hashed either way dedup against each other. */
  def dataHash(data: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(data.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** P8 — rows due for replay: attempts not exhausted, backoff elapsed (or
    * never attempted), routable. Ref: DeadLetterService.cs:202-227. */
  def dueFilter(dlq: DataFrame, maxAttempts: Int, now: Column): DataFrame =
    dlq.filter(
      col("attempts") < maxAttempts &&
      (col("next_attempt").isNull || col("next_attempt") <= now) &&
      col("environment_name").isNotNull)

  /** O1 — the replay batch: oldest first, capped (reference batch size 25).
    * Ref: DeadLetterService.cs:208-219; DeadLetterReplayService.cs:23. */
  def replayBatch(due: DataFrame, batchSize: Int = Defaults.DlqReplayBatchSize): DataFrame =
    due.orderBy(col("timestamp"), col("id")).limit(batchSize)

  /** F3 — exponential backoff in seconds: `base * 2^attempts`, capped 6 h.
    * Ref: DeadLetterReplayService.cs:137-141. */
  def backoffSeconds(attempts: Column, baseSeconds: Int = Defaults.DlqBackoffBaseSeconds,
                     capSeconds: Int = Defaults.DlqBackoffCapSeconds): Column =
    least(lit(capSeconds.toLong), (lit(baseSeconds.toLong) * pow(lit(2.0), attempts)).cast("long"))

  /** T5 — the failed-replay state transition: attempts+1, next attempt after
    * backoff; unroutable rows (no environment) are parked for a year.
    * The backoff uses the PRE-increment attempt count (the reference passes
    * `record.Attempts` as the row had it going in — "the first failure waits
    * one base delay", DeadLetterReplayService.cs:134-141).
    * Ref: DeadLetterReplayService.cs:75-141, park at :109-115. */
  def retryState(dlq: DataFrame, now: Column,
                 baseSeconds: Int = Defaults.DlqBackoffBaseSeconds): DataFrame =
    dlq
      .withColumn("backoff_seconds",
        when(col("environment_name").isNull, lit(365L * 24 * 3600))
          .otherwise(backoffSeconds(col("attempts"), baseSeconds)))
      .withColumn("attempts", (col("attempts") + 1).cast("int"))
      .withColumn("next_attempt",
        (now.cast("long") + col("backoff_seconds")).cast("timestamp"))

  /** A5 — one-pass conditional time-window counts (1 h / 24 h / 7 d).
    * Ref: DeadLetterMonitor.cs:171-188. */
  def windowCounts(dlq: DataFrame, now: Column): DataFrame =
    dlq.agg(
      count(when(col("timestamp") >= now - expr("INTERVAL 1 HOUR"), 1)).as("last_1h"),
      count(when(col("timestamp") >= now - expr("INTERVAL 24 HOUR"), 1)).as("last_24h"),
      count(when(col("timestamp") >= now - expr("INTERVAL 7 DAY"), 1)).as("last_7d"),
      count(lit(1)).as("total"))

  /** A6 — top-k worst offenders by object (count desc, name as the
    * deterministic tie-break). Ref: DeadLetterMonitor.cs:101-118,190-209. */
  def topOffenders(dlq: DataFrame, k: Int = 5): DataFrame =
    dlq.groupBy(col("tracking_object_name"))
      .agg(count(lit(1)).as("failures"))
      .orderBy(col("failures").desc, col("tracking_object_name"))
      .limit(k)

  /** P9 — the shared search predicate: `LIKE %term%` over object, error and
    * database (+ optional exact object). Ref: DeadLetterService.cs:272-291. */
  def search(dlq: DataFrame, term: String, objectName: Option[String] = None): DataFrame = {
    // Substring-contains semantics: LIKE metacharacters in the user's term
    // must match literally ("100%" must not match every "100…").
    val escaped = term.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
    val t = s"%$escaped%"
    val byTerm = dlq.filter(
      col("tracking_object_name").like(t) ||
      col("error_message").like(t) ||
      col("database_name").like(t))
    objectName.fold(byTerm)(o => byTerm.filter(col("tracking_object_name") === o))
  }

  /** W1 — pagination over newest-first order with a unique tie-break.
    * Ref: Program.cs:707-717. A single global window is fine for control
    * tables (thousands of rows); data-scale pagination should key-range
    * instead. */
  def page(dlq: DataFrame, pageSize: Int, pageIndex: Int): DataFrame = {
    val w = Window.orderBy(col("timestamp").desc, col("id").desc)
    dlq.withColumn("rn", row_number().over(w))
      .filter(col("rn") > pageIndex * pageSize && col("rn") <= (pageIndex + 1) * pageSize)
  }

  /** W1 at data scale — keyset ("seek") pagination: the next `pageSize`
    * rows strictly AFTER `cursor` in newest-first (timestamp, id) order;
    * `cursor` = the last row of the previous page, `None` = first page.
    * Page-identical to [[page]] on a fixed snapshot (spec-pinned), but
    * with no global row_number window: the cursor predicate pushes to
    * the scan and Spark plans the orderBy+limit as TakeOrderedAndProject
    * (each partition keeps ≤ pageSize rows, the driver merges the
    * partials) — so this stays flat while a DLQ grows unbounded under
    * sustained sink failure, where [[page]]'s single-partition window
    * sort would become the one hot task. */
  def pageAfter(dlq: DataFrame, pageSize: Int,
                cursor: Option[(java.sql.Timestamp, Long)] = None): DataFrame = {
    val after = cursor.fold(lit(true)) { case (cts, cid) =>
      col("timestamp") < lit(cts) ||
        (col("timestamp") === lit(cts) && col("id") < cid)
    }
    dlq.filter(after)
      .orderBy(col("timestamp").desc, col("id").desc)
      .limit(pageSize)
  }

  /** Retention purge — drop rows older than the cutoff.
    * Ref: DeadLetterService.cs:146-161. */
  def purgeExpired(dlq: DataFrame, now: Column,
                   retentionDays: Int = Defaults.DlqRetentionDays): DataFrame =
    dlq.filter(col("timestamp") >= now - expr(s"INTERVAL $retentionDays DAY"))

  /** F13 — threshold pre-warn at 75%: the monitor's alarm math.
    * Ref: DeadLetterMonitor.cs:123-148. */
  def thresholdStatus(total: Column, threshold: Int = 100): Column =
    when(total >= threshold, "alert")
      .when(total >= threshold * 3 / 4, "warn")
      .otherwise("ok")
}
