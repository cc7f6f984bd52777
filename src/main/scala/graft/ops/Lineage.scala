package graft.ops

import org.apache.spark.sql.DataFrame

/** The one lineage cut: every `src/main` site that drops a DataFrame's
  * lineage (so a subtree that feeds two consumers, or a loop round, is
  * computed once) goes through here. Where the cut lives is the
  * deployment's choice, not the operator's: with a SparkContext
  * checkpoint directory (`spark.checkpoint.dir`, or `setCheckpointDir`)
  * the cut is a reliable `checkpoint` — written to that directory
  * (HDFS/S3 on a cluster), so it survives executor loss, at the cost of a
  * write and a read. Without one it is `localCheckpoint` — deserialized
  * executor-local blocks; free and correct single-JVM, lost when the
  * executor that holds them dies. Both are true checkpoints, so both fence
  * off the non-determinism of the cut subtree.
  *
  * Spark deletes a reliable cut's files once its RDD is unreachable only
  * under `spark.cleaner.referenceTracking.cleanCheckpoints=true`, which
  * defaults to `false`; without it every cut stays in the directory for the
  * session's lifetime. A deployment that sets a checkpoint directory should
  * set it too, when it creates the SparkContext: a running context's conf
  * is fixed, so the library cannot.
  *
  * CheckpointSwapSpec pins that the two are output-identical, operator by
  * operator and registry query by query. */
object Lineage {
  private def reliable(df: DataFrame): Boolean =
    df.sparkSession.sparkContext.getCheckpointDir.isDefined

  /** Eager lineage cut: materialized now. */
  def cut(df: DataFrame): DataFrame =
    if (reliable(df)) df.checkpoint() else df.localCheckpoint()

  /** Lazy lineage cut: materialized on first use. */
  def cutLazy(df: DataFrame): DataFrame =
    if (reliable(df)) df.checkpoint(eager = false) else df.localCheckpoint(eager = false)
}
