package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sync-envelope codec (S3) — the wire contract of the reference:
  *
  * {{{
  * {"Metadata":{"Sync":{"Version":123,"Type":"Full"|"Diff","ReasonCode":0}},
  *  "Data":[{"$operation":"I","$version":123,"$changed":["Col"], ...user cols...}]}
  * }}}
  *
  * Ref: Documentation/docs/reference/stored-procedure.md:29-93; parsed at
  * Source/Services/ChangeTrackingBackgroundService.cs:534-565.
  *
  * `Metadata.Sync.Version` is MANDATORY — a missing version must fail the
  * object (reference throws, :561-565). Spark's `from_json` does not enforce
  * `nullable=false`, so [[decode]] adds an explicit `raise_error` assertion.
  *
  * Change rows are decoded as `MapType(String, String)`: Spark rows cannot
  * distinguish an absent key from a null value, but a map can — and that
  * tri-state (absent = not-emitted/unchanged, null = set-to-NULL, present =
  * new value, disambiguated by `$changed`) is load-bearing in the reference's
  * column-level procedures (02-stored-procedure.postgres.column.sql:120-133).
  */
object Envelope {

  /** Wire schema. `Data` rows parse as maps so key-absence survives;
    * meta keys (`$operation`, `$version`, `$changed`) are projected out of
    * the map by [[decode]]. */
  val wireSchema: StructType = StructType(Seq(
    StructField("Metadata", StructType(Seq(
      StructField("Sync", StructType(Seq(
        StructField("Version", LongType),
        StructField("Type", StringType),
        StructField("ReasonCode", IntegerType))))))),
    StructField("Data", ArrayType(MapType(StringType, StringType)))
  ))

  /** Encode one envelope JSON document per group.
    *
    * `rows` must carry: the group key, `$`-meta columns (`operation`,
    * `version`, `changed`) and a `payload` map of user columns. The Data
    * array is ordered by `$version` (the reference's `json_agg ... ORDER BY
    * o.id`, 02-stored-procedure.postgres.table.sql:43-56) via an in-group
    * `array_sort` — a hash aggregation, not a global sort, so at scale this
    * parallelizes per tracked object. The batch cap (reference
    * MaxRecordsPerBatch) must be applied upstream of this fold.
    */
  def encode(rows: DataFrame, groupCol: String): DataFrame =
    encodeCounted(rows, groupCol).select(col(groupCol), col("envelope_json"))

  /** [[encode]] with each envelope's row count (`rows`) and max `$version`
    * (`envelope_version`), read off the same aggregate. */
  private[graft] def encodeCounted(rows: DataFrame, groupCol: String): DataFrame = {
    // One change row → one flat JSON object: $-meta keys + user keys from
    // the payload map (wire rows are flat, stored-procedure.md:62-70).
    // The $-meta keys keep their CONTRACT types — $version is a JSON number
    // and $changed a real array — so reference-compatible consumers parse
    // engine-encoded envelopes; user payload values ride as JSON strings
    // (the normalized tri-state representation). decode() handles both
    // (Spark's map<string,string> parser captures nested JSON as raw text).
    val payloadJson = to_json(coalesce(col("payload"), map()))
    val payloadFragment = when(length(payloadJson) > 2,
      concat(lit(","), payloadJson.substr(lit(2), length(payloadJson) - 2)))
      .otherwise("")
    val rowJson = concat(
      lit("""{"$operation":"""),
      when(col("operation").isNull, "null")
        .otherwise(concat(lit("\""), col("operation"), lit("\""))),
      lit(""","$version":"""),
      when(col("version").isNull, "null").otherwise(col("version").cast(StringType)),
      lit(""","$changed":"""),
      coalesce(to_json(col("changed")), lit("null")),
      payloadFragment,
      lit("}"))
    val dataArr = array_sort(
      collect_list(struct(col("version").as("v"), rowJson.as("j"))))
    rows
      .groupBy(col(groupCol))
      .agg(max(col("version")).as("envelope_version"), dataArr.as("data"))
      .select(
        col(groupCol),
        size(col("data")).cast(LongType).as("rows"),
        col("envelope_version"),
        concat(
          lit("""{"Metadata":{"Sync":{"Version":"""),
          col("envelope_version"),
          lit(""","Type":"Diff","ReasonCode":0}},"Data":["""),
          array_join(transform(col("data"), x => x.getField("j")), ","),
          lit("]}")).as("envelope_json"))
  }

  /** Decode + validate an envelope JSON column. Output: one row per change
    * row with `version`(envelope), `sync_type`, `reason_code`, `$`-meta
    * columns projected out and the remaining user keys left in `payload`.
    *
    * A null/absent `Metadata.Sync.Version` raises (the reference fails the
    * whole object and does not advance the watermark). */
  def decode(df: DataFrame, jsonCol: String): DataFrame = {
    val parsed = df.withColumn("_env", from_json(col(jsonCol), wireSchema))
    val version = col("_env.Metadata.Sync.Version")
    parsed
      .withColumn("envelope_version",
        when(version.isNull,
          raise_error(concat(lit("envelope missing mandatory Metadata.Sync.Version: "),
            col(jsonCol).substr(1, 256))))
          .otherwise(version))
      .withColumn("sync_type", col("_env.Metadata.Sync.Type"))
      .withColumn("reason_code", coalesce(col("_env.Metadata.Sync.ReasonCode"), lit(0)))
      .withColumn("row_map", explode_outer(col("_env.Data")))
      .drop("_env", jsonCol)
      .withColumn("operation", col("row_map").getItem("$operation"))
      .withColumn("version", col("row_map").getItem("$version").cast(LongType))
      .withColumn("changed", from_json(col("row_map").getItem("$changed"), ArrayType(StringType)))
      .withColumn("payload",
        map_filter(col("row_map"), (k, _) => !k.isin("$operation", "$version", "$changed")))
      .drop("row_map")
  }

  /** The envelope JSON for a payload map with JSON-typed values: values in
    * the map are raw JSON fragments (from `to_json`), so numbers stay
    * numbers. Helper for tests / sinks that need faithful round-trips. */
  def payloadOf(cols: (String, Column)*): Column =
    map(cols.flatMap { case (k, v) => Seq(lit(k), v.cast(StringType)) }: _*)

  /** Null-strip: drop null-valued keys from a payload map before
    * serialization (the reference's `json_strip_nulls`,
    * 02-stored-procedure.postgres.column.sql:102). */
  def stripNulls(payload: Column): Column =
    map_filter(payload, (_, v) => v.isNotNull)
}
