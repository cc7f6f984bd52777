package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.ColumnGlue

/** Scalar function library F1–F13: template substitution, UTC formatting,
  * hashing, gzip, JSON access, byte sizes, matching, parsing.
  *
  * Everything except gzip is a composition of codegen'd built-ins (no UDFs
  * in hot paths); gzip has no Spark built-in and is a native codegen'd
  * expression pair (Source/Helpers/Gzip.cs:9-18).
  */
object Scalars {

  /** F1 — template substitution over the reference's 8 placeholders
    * (`{timestamp} {object} {database} {environment} {key} {guid} {batch}
    * {totalbatches}`), URL-escaped variant for URLs.
    * Ref: Source/Services/ExportService.cs:157-165,208-214,264-291. */
  def template(pattern: Column, bindings: Map[String, Column], urlEscape: Boolean = false): Column =
    bindings.foldLeft(pattern) { case (acc, (k, v)) =>
      val value = if (urlEscape) url_encode(v.cast("string")) else v.cast("string")
      replace(acc, lit(s"{$k}"), value)
    }

  /** F2 — UTC `yyyyMMddHHmmss`. Ref: ExportService.cs:160,208. */
  def utcStamp(ts: Column): Column = date_format(ts, "yyyyMMddHHmmss")

  /** F4 — SHA-256 lowercase hex. Ref: DeadLetterService.cs:293-299. */
  def sha256Hex(c: Column): Column = sha2(c, 256)

  /** F8 — UTF-8 byte size for payload caps. Ref: ExportService.cs:310-321. */
  def utf8Bytes(c: Column): Column = octet_length(c)

  /** F10 — case-insensitive trimmed equality (dialect aliases, env names).
    * Ref: SqlDialect.cs:97-110; DeadLetterReplayer.cs:54-60. */
  def ciEq(a: Column, b: Column): Column = lower(trim(a)) === lower(trim(b))

  /** F11 — prefix-aware `{env}_{obj}` split: recover the object name from a
    * source key given a known env prefix. Ref: DeadLetterService.cs:183-195. */
  def objectOfKey(key: Column, env: String): Column =
    when(key.startsWith(s"${env}_"), key.substr(lit(env.length + 2), length(key)))

  /** F6 — JSON field access (string-typed). */
  def jsonGet(json: Column, path: String): Column = get_json_object(json, path)

  /** F13 — lockout/backoff math: `2^n` growth and the 75% pre-warn ratio.
    * Ref: Helpers/WebUiAuth.cs:14-50; DeadLetterMonitor.cs:145-148. */
  def pow2(n: Column): Column = pow(lit(2.0), n).cast("long")
  def nearThreshold(count: Column, threshold: Int): Column =
    count >= lit(threshold * 3 / 4)

  /** F9 — log-line parse `^(ts) \[(lvl)\] (msg)$`; lines that do not match
    * are continuations belonging to the previous entry.
    * Ref: Program.cs:765-803. */
  val LogLineRe = "^(\\S+ \\S+) \\[(\\w+)\\] (.*)$"
  def logTs(line: Column): Column    = regexp_extract(line, LogLineRe, 1)
  def logLevel(line: Column): Column = regexp_extract(line, LogLineRe, 2)
  def logMsg(line: Column): Column   = regexp_extract(line, LogLineRe, 3)

  /** F9 — continuation fold: lines that do not match the log pattern belong
    * to the previous matching entry (stack traces etc., Program.cs:788-800).
    * Each line is tagged with its entry's anchor via `last(_, ignoreNulls)`
    * over an ordered window. Partitioned by `dayCol` so the window never
    * spans one global partition at scale (a midnight-crossing continuation
    * folds into the new day — bounded, deterministic drift). */
  def foldContinuations(df: org.apache.spark.sql.DataFrame, lineCol: String,
                        orderCol: String, dayCol: Column): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(dayCol).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val anchor = when(logTs(col(lineCol)) =!= "", col(orderCol))
    df.withColumn("entry_id", last(anchor, ignoreNulls = true).over(w))
      .filter(col("entry_id").isNotNull) // leading orphan continuations drop
  }

  /** F5 — gzip. No Spark built-in; the native codegen'd
    * [[graft.expressions.GzipCompress]]/[[graft.expressions.GzipDecompress]]
    * expressions (also `gzip_compress`/`gzip_decompress` in SQL), over the
    * one codec [[graft.expressions.GzipCodec]]: deterministic, a fixed
    * header with no timestamp. Ref: Source/Helpers/Gzip.cs:9-18; used with
    * base64() when a broker embeds binary in a text body
    * (MessageQueueService.cs:142-151). */
  def gzip(c: Column): Column =
    ColumnGlue.column(graft.expressions.GzipCompress(ColumnGlue.expression(c)))
  def gunzip(c: Column): Column =
    ColumnGlue.column(graft.expressions.GzipDecompress(ColumnGlue.expression(c)))

  /** The same codec for bytes already on the driver or in a sink. */
  val gzipBytes: Array[Byte] => Array[Byte] = (input: Array[Byte]) =>
    if (input == null) null else graft.expressions.GzipCodec.compress(input)

  val gunzipBytes: Array[Byte] => Array[Byte] = (input: Array[Byte]) =>
    if (input == null) null else graft.expressions.GzipCodec.decompress(input)

  /** Compress-then-cap decision used by the broker sinks: compress when the
    * payload exceeds the threshold, then enforce the post-compression cap.
    * Ref: MessageQueueService.cs:67-94,142-151. */
  def shouldCompress(payload: Column, thresholdBytes: Long = 1024): Column =
    octet_length(payload) > thresholdBytes
}
