package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.ops.Classify
import graft.ops.Classify.TokenClassifier
import graft.state.ParquetStateStore

/** Train-offline / serve-in-stream for the token classifier: the fitted
  * model ([[Classify.TokenClassifier]]) is persisted as ONE versioned
  * snapshot (weights + class metadata in the same table — an atomic
  * [[ParquetStateStore]] pointer flip), and a continuous document stream is
  * gated per micro-batch against whatever model version is current when the
  * batch starts.
  *
  * Hot model swap: committing a new model version does NOT restart the
  * stream — the next micro-batch resolves the new pointer. Every output row
  * carries `model_version`, so downstream consumers can tell which gate
  * admitted a document (the audit trail a retrain rollout needs).
  *
  * Exactly-once across foreachBatch REPLAYS, stateless flavor: scores write
  * `overwrite` into `outDir/batch=<id>`, so a replayed batch rewrites its
  * own directory idempotently. There is no cross-batch state to commit —
  * the replay hazard of StreamingDedup (state and output crashing apart)
  * cannot occur here, BUT a replayed batch may score against a NEWER model
  * than the original attempt. That is the documented semantics (each
  * directory reflects exactly one model version, stamped in its rows), and
  * why the version column exists.
  *
  * Scale: the model table is vocabulary-bounded; each micro-batch runs the
  * same LIMIT-probed broadcast/shuffle join + doc-keyed aggregation as the
  * batch operator. Nothing re-reads prior batches; no streaming state store
  * is involved at all. */
object StreamingClassify {

  private def modelTable(name: String) = s"cls_model__$name"

  private val modelSchema = new StructType()
    .add("cls", StringType).add("token", StringType).add("pts", LongType)
    .add("floor_pts", LongType).add("model_version", LongType)

  /** Persist a fitted classifier as one atomic snapshot. Class metadata
    * rides in the same table as the weights (token IS NULL rows carry the
    * per-class floors), so the model is never half-visible. */
  def saveModel(store: ParquetStateStore, name: String, m: TokenClassifier,
                version: Long): Unit = {
    val spark = m.weightsLong.sparkSession
    import spark.implicits._
    val meta = m.classes.zip(m.floors).toDF("cls", "floor_pts")
      .select(col("cls"), lit(null).cast(StringType).as("token"),
        lit(null).cast(LongType).as("pts"), col("floor_pts"))
    val weights = m.weightsLong
      .select(col("cls"), col("token"), col("pts"),
        lit(null).cast(LongType).as("floor_pts"))
    store.commit(modelTable(name),
      weights.unionByName(meta).withColumn("model_version", lit(version)))
  }

  /** Load the current model version, or None if never committed. The
    * weights stay a DataFrame over the snapshot files (vocabulary-bounded,
    * re-read per batch — the read IS the hot-swap point); only the k-row
    * class metadata is collected. */
  def loadModel(spark: SparkSession, store: ParquetStateStore,
                name: String): Option[(TokenClassifier, Long)] = {
    val t = store.read(modelTable(name), modelSchema)
    val meta = t.filter(col("token").isNull)
      .select(col("cls"), col("floor_pts"), col("model_version"))
      .collect()
    if (meta.isEmpty) None
    else {
      val sorted = meta.sortBy(_.getString(0))
      val classes = sorted.map(_.getString(0)).toSeq
      val floors = sorted.map(_.getLong(1)).toSeq
      val weights = t.filter(col("token").isNotNull)
        .select(col("cls"), col("token"), col("pts"))
      Some((TokenClassifier(classes, floors, weights),
        sorted.head.getLong(2)))
    }
  }

  /** Score one micro-batch against the CURRENT model; exposed for direct
    * reuse and for the spec's replay checks. Returns the scored row count
    * (0 when no model is committed yet — the batch directory is still
    * written, empty, so the id's output is deterministic). */
  def scoreBatch(store: ParquetStateStore, modelName: String,
                 batch: DataFrame, batchId: Long, outDir: String,
                 idCol: String = "doc_id", textCol: String = "text"): Long = {
    val spark = batch.sparkSession
    val scored = loadModel(spark, store, modelName) match {
      case Some((m, version)) =>
        Classify.classifyDocs(batch, idCol, textCol, m)
          .withColumn("model_version", lit(version))
      case None =>
        // id field typed from the BATCH schema: a hardcoded LongType
        // would write conflicting parquet schemas across batch dirs for a
        // non-long id corpus (review catch)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          new StructType().add(idCol, batch.schema(idCol).dataType)
            .add("n_tokens", LongType)
            .add("pred", StringType).add("pts", LongType)
            .add("oov_tokens", LongType).add("model_version", LongType))
    }
    scored.write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch=$batchId")
    spark.read.parquet(s"$outDir/batch=$batchId").count()
  }

  /** Start the continuous gate: `stream` must carry `idCol` and `textCol`. */
  def start(spark: SparkSession, stream: DataFrame, store: ParquetStateStore,
            modelName: String, outDir: String, checkpointDir: String,
            idCol: String = "doc_id", textCol: String = "text"): StreamingQuery =
    MicroBatch.start(stream, s"graft-classify-${outDir.hashCode.toHexString}",
        checkpointDir) { (batch, batchId) =>
      scoreBatch(store, modelName, batch, batchId, outDir, idCol, textCol)
    }
}
