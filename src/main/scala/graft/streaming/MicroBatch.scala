package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** The streaming operators' one `foreachBatch` query: named, checkpointed,
  * and calling `f` with each micro-batch and its id. Delivery is
  * at-least-once — a batch id can come again after a failure — so a
  * stateful `f` commits through
  * [[graft.state.ParquetStateStore.commitBatch]]. */
object MicroBatch {
  def start(stream: DataFrame, queryName: String, checkpointDir: String)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(f)
      .start()
}
