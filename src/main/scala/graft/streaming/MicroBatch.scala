package graft.streaming

import graft.state.ParquetStateStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one `foreachBatch` query: named, checkpointed, fired by `trigger`,
  * and calling `f` with each micro-batch and its id. The streaming
  * operators keep the default trigger (the next batch as soon as the last
  * one ends); the change relay polls at its environment's interval.
  * Delivery is at-least-once — a batch id can come again after a failure —
  * so a stateful `f` commits through
  * [[graft.state.ParquetStateStore.commitBatch]], and its query starts
  * through [[startWriter]] as that table's one live writer. */
object MicroBatch {
  def start(stream: DataFrame, queryName: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0L))(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(f)
      .start()

  /** [[start]] as the one live streaming writer of `store`'s state table
    * `table`: a second live query would interleave its batches with the
    * first's in one state fold, so it is refused. Batch progress is kept
    * per query id, so a query that stopped may be followed by one on its
    * own checkpoint (it resumes its progress) or on a fresh one (a new
    * writer, its batch ids from 0). */
  def startWriter(store: ParquetStateStore, table: String, stream: DataFrame,
      queryName: String, checkpointDir: String)(f: (DataFrame, Long) => Unit): StreamingQuery =
    claimAndStart(store.tablePath(table),
      s"state table '$table' at ${store.tablePath(table)} already has a live streaming writer")(
      start(stream, queryName, checkpointDir)(f))

  /** Claimed key → the live query holding it, JVM-wide. */
  private val claims = new java.util.concurrent.ConcurrentHashMap[String, StreamingQuery]()

  /** Start a query as the one live holder of `key` (a checkpoint, a state
    * table) in this JVM, or throw IllegalArgumentException with `refusal`
    * while another live query holds it. Purge, check, start and claim run
    * under one lock, so a concurrent caller can neither pass the check
    * before this query is claimed nor evict its claim; a start that throws
    * claims nothing. A claim lapses once its query stops or fails. */
  def claimAndStart(key: String, refusal: => String)(start: => StreamingQuery): StreamingQuery =
    claims.synchronized {
      claims.values.removeIf(!_.isActive)
      Option(claims.get(key)).foreach { live =>
        throw new IllegalArgumentException(s"$refusal (query '${live.name}', ${live.id})")
      }
      val query = start
      claims.put(key, query)
      query
    }
}
