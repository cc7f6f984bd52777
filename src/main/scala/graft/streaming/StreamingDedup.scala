package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}
import graft.ops.DedupOps
import graft.state.ParquetStateStore

/** Structured-Streaming flavor of [[DedupOps.incrementalNearDedup]]: a
  * continuous ingest where each micro-batch is admitted against the
  * committed LSH (band, bucket) set, survivors land in a per-batch output
  * directory, and the enlarged bucket set commits back to the state store —
  * batch-over-batch admission whose concatenated output equals running the
  * batch operator over the same batches in arrival order
  * (`llm_incremental_neardedup` semantics, proven in StreamingDedupSpec).
  *
  * Exactly-once across micro-batch replays through
  * [[ParquetStateStore.commitBatch]]; survivors land in
  * `survivorsDir/batch=<id>`.
  *
  * Scale: state is one row per distinct (band, bucket) — signatures, not
  * corpus rows — and each micro-batch does hash semi/anti joins against it
  * exactly like the batch operator; nothing re-reads prior batches. */
object StreamingDedup {

  private val SeenTable = "seen_buckets"
  private val seenSchema = new StructType()
    .add("band", IntegerType).add("bucket", StringType)

  /** Admitted-state read, shaped for [[DedupOps.incrementalNearDedup]]. */
  def seenBuckets(store: ParquetStateStore): DataFrame =
    store.read(SeenTable, seenSchema)

  /** Run one micro-batch's admission; exposed for direct reuse and for the
    * spec's batch-oracle replay. Returns the survivor count. */
  def admitBatch(store: ParquetStateStore, batch: DataFrame, batchId: Long,
      survivorsDir: String, idCol: String, textCol: String,
      numPerms: Int, bands: Int): Long = {
    val out = s"$survivorsDir/batch=$batchId"
    val landed = store.commitBatch(SeenTable, batchId) {
      val (survivors, updatedSeen) = DedupOps.incrementalNearDedup(
        batch, seenBuckets(store), idCol, textCol, numPerms, bands)
      survivors.write.mode(SaveMode.Overwrite).parquet(out)
      updatedSeen
    }
    if (landed) batch.sparkSession.read.parquet(out).count() else 0L
  }

  /** Start the continuous query: `stream` must carry `idCol` and `textCol`.
    * One query per state store — admission is ordered by micro-batch. */
  def start(spark: SparkSession, stream: DataFrame, store: ParquetStateStore,
      survivorsDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      numPerms: Int = 8, bands: Int = 4): StreamingQuery =
    MicroBatch.startWriter(store, SeenTable, stream,
        s"graft-neardedup-${survivorsDir.hashCode.toHexString}", checkpointDir) {
      (batch, batchId) =>
        admitBatch(store, batch, batchId, survivorsDir, idCol, textCol, numPerms, bands)
    }
}
