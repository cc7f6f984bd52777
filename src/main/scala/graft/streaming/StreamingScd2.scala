package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.ops.{Incremental, Lineage}
import graft.state.ParquetStateStore

/** Streaming SCD2 maintenance — the incremental flavor of
  * [[graft.ops.Incremental.scd2Intervals]], the natural continuous consumer
  * of the relay's CDC output (the reference's ordered change stream,
  * 02-stored-procedure.postgres.table.sql:43-56): each micro-batch of
  * change rows (key, id, op) maintains the interval table instead of
  * reconstructing it, under the CDC contract that change ids are the
  * total version order (stored-procedure.md:84) and therefore arrive
  * MONOTONE per key across batches.
  *
  * Why the state is NOT the whole interval table: a closed interval
  * `[from, to)` never changes again — only OPEN intervals (one per live
  * key, the "current dimension" table) can be touched by a future batch.
  * So per batch: the batch's own intervals come from the batch-local
  * [[Incremental.scd2Intervals]] window; each committed open interval of a
  * touched key closes at that key's first new id; closed rows APPEND to an
  * idempotent per-batch directory and the open set commits as compact
  * state. Per-batch work is O(batch + live keys), never O(history) — at
  * 100 TB the history lives in append-only parquet, not in a re-written
  * snapshot.
  *
  * Exactly-once across foreachBatch replays through
  * [[ParquetStateStore.commitBatch]]; closed rows land in
  * `closedDir/batch=<id>`.
  *
  * Contract (spec-pinned): [[intervals]] — the closed dirs plus the open
  * state — equals the one-shot [[Incremental.scd2Intervals]] over the
  * concatenation of every batch, including the tri-state delete
  * discipline (a delete's tombstone interval stays, `is_current` false). */
object StreamingScd2 {

  private val OpenTable = "scd2_open"
  private val openSchema = new StructType()
    .add("k", StringType).add("valid_from", LongType).add("op", StringType)

  /** The live-version table: one open interval per non-deleted key, plus
    * current tombstones (op = D) so "deleted" ≠ "never existed". */
  def openIntervals(store: ParquetStateStore): DataFrame =
    store.read(OpenTable, openSchema)

  /** Apply one micro-batch (columns `k`, `id`, `op`); exposed for direct
    * reuse and the spec's batch-fold oracle. Returns rows closed. */
  def applyBatch(store: ParquetStateStore, batch: DataFrame, batchId: Long,
                 closedDir: String): Long = {
    val out = s"$closedDir/batch=$batchId"
    val landed = store.commitBatch(OpenTable, batchId) {
      // The batch feeds the interval window AND the first-new-id rollup —
      // materialize once (round-4 rule d; micro-batch-sized rows).
      val b = batch.select(col("k").cast("string").as("k"),
        col("id").cast("long").as("id"), col("op").cast("string").as("op"))
        .transform(Lineage.cut)
      val iv = Incremental.scd2Intervals(b, "k", "id", "op")
        .select(col("k"), col("valid_from"), col("valid_to"), col("op"),
          col("is_current"))
      val firstNew = b.groupBy(col("k")).agg(min(col("id")).as("_fn"))
      val open = openIntervals(store)
      // Committed open intervals of touched keys close at the key's first
      // new id — exactly what the one-shot lead() would have produced.
      val closedFromState = open.join(firstNew, Seq("k"))
        .select(col("k"), col("valid_from"), col("_fn").as("valid_to"),
          col("op"), lit(false).as("is_current"))
      val stillOpen = open.join(firstNew, Seq("k"), "left_anti")
      closedFromState
        .unionByName(iv.filter(col("valid_to").isNotNull)
          .select(col("k"), col("valid_from"), col("valid_to"), col("op"),
            lit(false).as("is_current")))
        .write.mode(SaveMode.Overwrite).parquet(out)
      stillOpen.unionByName(iv.filter(col("valid_to").isNull)
        .select(col("k"), col("valid_from"), col("op")))
    }
    if (landed) batch.sparkSession.read.parquet(out).count() else 0L
  }

  /** The full maintained interval table — closed history (append-only
    * parquet) plus the open set, shaped exactly like the one-shot
    * [[Incremental.scd2Intervals]] output projected to
    * (k, valid_from, valid_to, op, is_current). */
  def intervals(spark: SparkSession, store: ParquetStateStore,
                closedDir: String): DataFrame = {
    val cols = Seq(col("k"), col("valid_from"), col("valid_to"), col("op"),
      col("is_current"))
    val closed =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(closedDir)))
        spark.read.parquet(closedDir).select(cols: _*)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        new StructType().add("k", StringType).add("valid_from", LongType)
          .add("valid_to", LongType).add("op", StringType)
          .add("is_current", org.apache.spark.sql.types.BooleanType))
    closed.unionByName(openIntervals(store)
      .select(col("k"), col("valid_from"), lit(null).cast("long").as("valid_to"),
        col("op"), (col("op") =!= "D").as("is_current")))
  }

  /** Start the continuous maintenance: `stream` must carry `k`, `id`, `op`.
    * One query per state store — application is ordered by micro-batch. */
  def start(spark: SparkSession, stream: DataFrame, store: ParquetStateStore,
            closedDir: String, checkpointDir: String): StreamingQuery =
    MicroBatch.startWriter(store, OpenTable, stream,
        s"graft-scd2-${closedDir.hashCode.toHexString}", checkpointDir) {
      (batch, batchId) => applyBatch(store, batch, batchId, closedDir)
    }
}
