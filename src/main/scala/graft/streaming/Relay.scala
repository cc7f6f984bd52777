package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.util.{LongAccumulator, SerializableConfiguration}
import scala.util.{Failure, Success, Try}
import graft.model.{EnvironmentConfig, SinkEndpoint, TrackingObject}
import graft.ops.{Dlq, Envelope, Incremental, Windows}
import graft.sinks.{Amqp, ExportFailure, ExportMeta, Sinks}
import graft.state.ParquetStateStore

/** The change-relay pipeline: one polling cycle per tracked object —
  * watermark read → incremental read (P1+P2) → envelope encode → batch →
  * fan-out to sinks → failures dead-lettered → watermark advance. A cycle
  * over several objects ([[runCycles]]) runs them concurrently on a pool
  * sized min(objects, 2 × defaultParallelism), then commits its dead
  * letters in one snapshot and its advances in another; object names must
  * be distinct, and a failing object keeps its watermark while the others
  * advance.
  *
  * Mirrors ChangeTrackingBackgroundService.ProcessChangesForObjectAsync
  * (reference :427-606) with the relational core as DataFrame transforms.
  * At-least-once semantics (T2): the watermark advances after the export
  * attempt even when a sink fails — failed payloads are re-driven from the
  * DLQ, never by re-polling (stored-procedure.md:92).
  *
  * Spark work per object and cycle is data work only. A delta predicted to
  * fit one envelope is ONE job with one task: at most
  * `maxRecordsPerBatch + 1` rows are read into one partition, encoded as
  * batch 0, fanned out and counted, with no id pass and no shuffle
  * ([[ChangeRelay.oneEnvelope]]). The prediction is the object's previous
  * delta as this instance saw it. Otherwise (an object new to the
  * instance, a larger previous delta, or a misprediction, whose capped
  * task sends nothing) the cycle takes two actions: one pass over the
  * gated delta's ids, then one export. The id pass reads each
  * partition's ids in arrival order, with no sort and no shuffle, and
  * returns its row count, its max id and its ids as runs of consecutive
  * values; the driver derives the row count, the new watermark and the
  * first id of every `maxRecordsPerBatch`-row envelope, so the export
  * numbers each row by binary search over those bounds, a narrow map. The
  * runs number a delta exactly when its versions are unique per object
  * and each partition reads them as ascending stretches (a change table's
  * files are written in version order). Driver memory is O(envelopes +
  * partitions): a partition whose ids need more than rows / cap + 1 runs
  * (sparse versions, rows far out of order) sends none, and a version on
  * several rows (one transaction) shows as overlapping runs; either way
  * that cycle numbers through [[graft.ops.Windows.numberBatchesRange]]
  * instead, which adds its own jobs, and its id pass costs what a
  * count-and-max aggregate does. A delta the id pass finds within one
  * envelope is exported by the one-task frame. Every export runs the sink
  * fan-out on the executors and returns just the failed envelopes as
  * (error, data) rows, each error prefixed with the failing endpoint's
  * key, which the driver hashes and dead-letters; successful envelopes
  * never reach the driver. Every envelope goes to every endpoint of the
  * environment through one match on its kind: `file`
  * ([[graft.sinks.Sinks.writeFile]], whose template's scheme selects the
  * storage), `http` and the brokers. Control state (watermarks, pauses,
  * dead letters) lives on the driver
  * ([[ParquetStateStore]]), so reading and committing it submits no Spark
  * job.
  *
  * Source contract (U1): a change frame carries `id` (the version),
  * `xact_id`, `operation`, `value`, `props` and `changed`. It reaches the
  * relay as a plain DataFrame per object ([[runCycles]]) or through the
  * environment's one streaming poller, which reads every tracked object
  * from a file-stream outbox ([[ChangeRelay.streamFromOutboxDir]]) or the
  * `graft-change` DSv2 source ([[ChangeRelay.streamFromChangeSource]]) and
  * runs [[runCycles]] over all of them per trigger. `horizonOf` is P2's
  * transaction horizon for a frame: only rows with `xact_id` below it are
  * read, and the watermark advances through the same gate. The default
  * admits every row that has an `xact_id`, at no Spark job: the frame
  * holds only committed rows unless the caller knows of in-flight
  * transactions (the DSv2 source gates on the database's horizon before
  * the rows reach the relay; specs inject in-flight horizons here). It is
  * called from the cycle's pool threads, so objects may call it
  * concurrently.
  */
final class ChangeRelay(
    spark: SparkSession,
    store: ParquetStateStore,
    private val config: EnvironmentConfig,
    // shorthand for one `file` endpoint (key "file") listed before
    // config.endpoints
    fileSinkTemplate: Option[String] = None,
    horizonOf: DataFrame => Long = _ => Long.MaxValue,
    // opt-in REAL HTTP delivery for "http" endpoints (Sinks.httpPost);
    // default keeps the zero-egress prepare-only guard behavior
    performHttp: Boolean = false,
    // opt-in REAL AMQP 0-9-1 wire delivery for "rabbitmq" endpoints
    // (Sinks side: Amqp.publish; the loopback-broker e2e drives it)
    performAmqp: Boolean = false) {

  import spark.implicits._

  private val endpoints =
    fileSinkTemplate.map(SinkEndpoint("file", "file", _)).toSeq ++ config.endpoints

  /** Observability: envelopes of the last [[runCycles]] call (summed over
    * its objects) that were fanned out INSIDE a Spark task (TaskContext
    * present) — the distributed-export invariant a spec can assert against
    * the envelope count. */
  @volatile var lastCycleExecutorEnvelopes: Long = 0L

  /** Per object name: whether its last delta seen by this instance fit one
    * envelope, which picks its next cycle's path. The cycle's pool threads
    * and the poller share it. */
  private val fitLast = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()

  /** One micro-batch cycle for one object: [[runCycles]] over that object
    * alone. Returns (rows exported, new watermark). */
  def runCycle(obj: TrackingObject, changes: DataFrame, nowUtc: String): (Long, Long) =
    runCycles(Seq(obj -> changes), nowUtc)(obj.name)

  /** EVERY tracked object of the environment in one polling cycle — the
    * reference's per-cycle object loop (ChangeTrackingBackgroundService.cs
    * ExecuteAsync iterates `environment.TrackingObjects` each interval).
    *
    * Objects run CONCURRENTLY: each object's one job, or its chain of
    * small Spark jobs (the id pass, then the export), is submitted from
    * its own thread of a pool created for this call, so one object's
    * driver-side gaps overlap another object's jobs. The pool holds
    * min(objects, 2 × defaultParallelism) threads and is shut down before
    * the call returns. Each object runs under
    * `SQLExecution.withThreadLocalCaptured`, so the caller's local
    * properties (job group, streaming batch properties) and active session
    * reach every object's jobs. Object names must be distinct: objects
    * share only the per-object path record, and each yields at most one
    * watermark advance.
    *
    * Per-cycle CONTROL-STATE I/O is O(1) in the object count and runs on
    * the calling thread, never the pool's: the watermark and pause tables
    * are each read ONCE up front; once every object has finished, the
    * cycle's dead letters land in ONE [[ParquetStateStore.appendDeadLetters]]
    * commit (ids in (source_key, data_hash) order), then its advances in ONE
    * [[ParquetStateStore.setWatermarks]] commit. At-least-once (T2): both
    * follow every export attempt and the letters precede the advances; a
    * crash, or a failed letters' commit, leaves advances un-committed, and
    * those objects re-poll — re-export, never loss.
    *
    * Partial failure: the call waits for every object even after one
    * fails, commits the letters and advances of those that finished, then
    * rethrows the first failure (a failed commit before any object's) with
    * the others attached as suppressed. Re-export stays confined to the failing
    * objects, whose watermarks do not move. Returns per-object (rows
    * exported, watermark). */
  def runCycles(objects: Seq[(TrackingObject, DataFrame)],
      nowUtc: String): Map[String, (Long, Long)] = {
    val names = objects.map(_._1.name)
    require(names.distinct.size == names.size,
      s"runCycles needs distinct object names, got ${names.mkString(", ")}")
    val stored = store.watermarksOf(config.name)
    val pausedScopes = store.pausedScopes
    val envelopes = spark.sparkContext.longAccumulator("graft.relay.envelopesExportedOnExecutors")
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // A file template with a non-local scheme resolves its FileSystem on
    // the executors from the session's Hadoop settings, shipped with the
    // tasks; local templates ship nothing.
    val hadoopConf =
      if (endpoints.forall(ep => ep.kind != "file" || Sinks.isLocal(ep.target))) None
      else Some(new SerializableConfiguration(session.sessionState.newHadoopConf()))
    val threads = new java.util.concurrent.atomic.AtomicInteger()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(objects.size, 2 * spark.sparkContext.defaultParallelism)),
      (r: Runnable) => {
        val t = new Thread(r, s"graft-relay-${config.name}-${threads.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    val outcomes = try {
      objects.map { case (obj, changes) =>
        SQLExecution.withThreadLocalCaptured(session, pool) {
          cycleCore(obj, changes, nowUtc, stored.get(obj.name), pausedScopes, envelopes,
            hadoopConf)
        }
      }.map(f => Try(f.join()).recoverWith {
        case e: java.util.concurrent.CompletionException if e.getCause != null =>
          Failure(e.getCause)
      })
    } finally pool.shutdown()
    lastCycleExecutorEnvelopes = envelopes.value

    // T2 — the finished objects' dead letters land in one commit before
    // their advances do; a failed letters' commit moves no watermark.
    val finished = names.zip(outcomes).collect { case (name, Success(c)) => name -> c }
    val committed = Try {
      store.appendDeadLetters(finished.flatMap(_._2.letters))
      store.setWatermarks(finished.collect {
        case (name, ChangeRelay.ObjectCycle(_, _, Some(v), _)) => (config.name, name, v)
      })
    }
    (committed.failed.toOption ++: outcomes.collect { case Failure(e) => e }) match {
      case first +: rest => rest.foreach(first.addSuppressed); throw first
      case _ => names.zip(outcomes.map(_.get)).map { case (name, c) =>
        name -> (c.rows, c.watermark) }.toMap
    }
  }

  /** The cycle body for one object, with no store I/O: `stored` and
    * `pausedScopes` are the control state read at the start of the cycle,
    * and the object's advance and dead letters go back for the caller's
    * commits. `exportedOnExecutors` counts the call's executor-side
    * envelope exports; `hadoopConf` is shipped to the file sink for
    * non-local schemes. */
  private def cycleCore(obj: TrackingObject, changes: DataFrame, nowUtc: String,
      stored: Option[Long],
      pausedScopes: Set[String],
      exportedOnExecutors: LongAccumulator,
      hadoopConf: Option[SerializableConfiguration]): ChangeRelay.ObjectCycle = {
    // P7 — pause scopes short-circuit before any work.
    val envScope = s"env:${config.name.toLowerCase}"
    val objScope = s"obj:${config.name.toLowerCase}/${obj.name.toLowerCase}"
    if (pausedScopes.contains(envScope) || pausedScopes.contains(objScope))
      return ChangeRelay.ObjectCycle(0L, stored.getOrElse(0L), None)

    // T8/S7/S8 — missing watermark re-initializes per InitialSyncMode.
    val fromVersion = stored match {
      case Some(v) => v
      case None if obj.initialSyncMode.equalsIgnoreCase("Full") => 0L
      case None =>
        // Seed: record the HORIZON-GATED frontier, emit nothing (S8) — an
        // un-gated seed could skip rows of in-flight transactions forever.
        val seeded = Incremental.seed(changes, horizon = horizonOf(changes))
          .select("version").as[Long].head()
        return ChangeRelay.ObjectCycle(0L, seeded, Some(seeded))
    }

    val horizon = horizonOf(changes)
    val batch = Incremental.incrementalRead(changes, fromVersion, horizon)
    val cap = config.maxRecordsPerBatch
    val rows = batch.select(
      col("operation"),
      col("id").as("version"),
      col("changed"),
      Envelope.stripNulls(map(
        lit("value"), col("value").cast("string"),
        lit("props"), col("props"))).as("payload"))
    // EXECUTOR-side fan-out: envelopes never collect to the driver. Each
    // export task invokes the sink guards per envelope and returns only
    // (error, payload) failures — a full initial sync (S7) of a large table
    // streams through executors instead of materializing every JSON string
    // in driver memory. The closure captures an ExportPlan of plain values,
    // never `this` (the relay holds the session/store).
    def plan(totalBatches: Int) = ChangeRelay.ExportPlan(config.name, obj.name, obj.database,
      nowUtc, totalBatches, endpoints, config.maxPayloadSizeBytes, performHttp, performAmqp,
      hadoopConf)

    // The delta as one envelope in one task: read, encode, fan-out and
    // count, with no shuffle. None, with nothing sent, over the cap. A
    // function value rather than a method, so its job's call site stays
    // `cycleCore` (relaybench attributes the export layer by it).
    val exportWhole = () => {
      val p = plan(1)
      ChangeRelay.oneEnvelope(rows, cap)
        .select(col("batch"), col("envelope_json"), col("rows"),
          col("envelope_version").cast("long"))
        .as[(Int, String, Long, Long)]
        .mapPartitions(it => ChangeRelay.exportEnvelope(p, cap, it, exportedOnExecutors))
        .collect().headOption
        .orElse(Some(ChangeRelay.Exported(0L, fromVersion, Nil))).filter(_.rows <= cap)
    }

    // The path follows the object's previous delta: one job when it fit
    // one envelope; else, for an object new to this instance, or when the
    // one job found the delta over the cap (and sent nothing), two actions.
    val predicted = if (fitLast.getOrDefault(obj.name, false)) exportWhole() else None
    val done = predicted.getOrElse {
      // ONE pass over the gated ids carries the row count, the new
      // watermark and the envelope bounds; then the export. A2 — the
      // watermark goes through the same gate as the rows: a gated id ≤
      // fromVersion can never lift max(fromVersion, ·), so max(fromVersion,
      // max(id) over batch) ≡ max(fromVersion, gatedWatermark(changes)).
      val parts = batch.select(col("id").cast("long")).as[Long]
        .mapPartitions(ids => ChangeRelay.idRuns(ids, cap))
        .collect().toSeq
      val batchRows = parts.map(_.rows).sum
      val failures =
        if (batchRows == 0) Nil
        else if (batchRows <= cap)
          exportWhole().getOrElse(throw new IllegalStateException(
            s"the delta of ${config.name}/${obj.name} grew past $cap rows between the id pass " +
              "and the export; its watermark holds")).failures
        else {
          // W2 numbering with no job of its own: a version's batch is its
          // place among the envelope bounds, a narrow map; only ids the
          // runs cannot number exactly (a repeated id, a sparse or
          // out-of-order partition) go through numberBatchesRange.
          val (numbered, totalBatches) = ChangeRelay.batchBounds(parts, cap) match {
            case Some(bounds) =>
              (rows.withColumn("batch", ChangeRelay.batchOf(bounds)(col("version"))), bounds.length)
            case None =>
              (Windows.numberBatchesRange(rows, "version", cap, batchRows),
                ((batchRows + cap - 1) / cap).toInt)
          }
          val p = plan(totalBatches)
          Envelope.encode(numbered, "batch").as[(Int, String)]
            .mapPartitions(it => ChangeRelay.exportPartition(p, it, exportedOnExecutors))
            .collect().toSeq
        }
      ChangeRelay.Exported(batchRows, (fromVersion +: parts.map(_.maxId)).max, failures)
    }
    fitLast.put(obj.name, done.rows <= cap)

    // K9 — each failure becomes a dead letter for the caller's one commit
    // (D1 dedup there), carrying ITS OWN envelope so replay re-sends exactly
    // what failed (DeadLetterService.cs stores the Data JSON per failure).
    val sourceKey = s"${config.name}_${obj.name}_${obj.database}"
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val letters = done.failures.map { case (error, data) =>
      Row(sourceKey, obj.name, config.name, obj.database, Dlq.dataHash(data), data, error, now)
    }

    // T2 — advance AFTER the export attempt, regardless of sink failures.
    // Never regress: a late-replayed micro-batch (e.g. an old file
    // re-surfacing in the file stream) can carry only ids below the stored
    // watermark.
    val newVersion = math.max(fromVersion, done.maxVersion)
    ChangeRelay.ObjectCycle(done.rows, newVersion,
      if (newVersion > fromVersion) Some(newVersion) else None, letters)
  }

  /** §3.2 — dead-letter replay cycle: due batch (never a letter past
    * retention), attempt, then at most ONE commit that deletes on success,
    * widens backoff on failure (T5) and purges letters past retention, as
    * the reference does in one service loop (DeadLetterService.cs:148-159).
    * `attempt` is injectable so tests can simulate endpoint recovery; it
    * receives `(sourceKey, data)`, the letter's stored envelope JSON, so a
    * real replay re-sends EXACTLY what failed — the reference's
    * DeadLetterReplayer.cs:49-72 contract (it posts the stored Data).
    * `nowUtc` is the one clock of the cycle: it drives the due filter, the
    * new backoff and the purge. */
  def replayCycle(attempt: (String, String) => Boolean,
                  nowUtc: java.sql.Timestamp): (Long, Long) = {
    val due = store.dueDeadLetters(config.deadLetterMaxReplayAttempts, nowUtc)
    val (ok, bad) = due.partition(r =>
      attempt(r.getAs[String]("source_key"), r.getAs[String]("data")))
    store.settleDeadLetters(ok.map(_.getAs[Long]("id")), bad, nowUtc,
      config.deadLetterReplayBackoffSeconds)
    (ok.length.toLong, bad.length.toLong)
  }
}

object ChangeRelay {

  /** Everything the executor-side export closure needs, captured by VALUE —
    * never the relay instance (it holds the SparkSession and state store). */
  final case class ExportPlan(
      environment: String,
      objectName: String,
      database: String,
      nowUtc: String,
      totalBatches: Int,
      endpoints: Seq[SinkEndpoint],
      maxPayloadSizeBytes: Long,
      performHttp: Boolean,
      performAmqp: Boolean,
      hadoopConf: Option[SerializableConfiguration])

  /** What one object's export did: the delta's rows, its max version and
    * the failed envelopes as (error, data). */
  private[streaming] final case class Exported(rows: Long, maxVersion: Long,
      failures: Seq[(String, String)])

  /** One object's part of a cycle: rows exported, its watermark, the
    * advance to commit (None when the watermark did not move) and its dead
    * letters, as rows in [[ParquetStateStore.LetterColumns]] order. */
  private final case class ObjectCycle(rows: Long, watermark: Long, advance: Option[Long],
      letters: Seq[Row] = Nil)

  /** One partition of a delta's ids, as the driver sees it: the row count,
    * the max id and, when `exact`, every id as a run of consecutive values
    * `(start, length)`. */
  private[streaming] final case class IdRuns(rows: Long, maxId: Long, exact: Boolean,
      runs: Seq[(Long, Long)])

  /** Past this many arrival runs a partition whose runs already outnumber
    * rows-so-far / cap + 1 stops collecting them, so a sparse or shuffled
    * partition never holds a run per row. The cut-off reads the rows seen
    * so far, not the partition's final count: a partition whose first
    * ~4,096 ids are sparse and whose later ids are dense drops its runs
    * even when its final runs would fit, and its cycle takes the fallback.
    * That costs time only; the numbering stays exact. */
  private val RunsInFlight = 4096

  /** Summarize one partition's ids in arrival order, with no sort: the row
    * count, the max id and, when `exact`, the ids as runs of consecutive
    * values, sorted by start with touching runs merged. Rows read as
    * ascending stretches (one per file a partition reads) make one run per
    * stretch. The runs are dropped (`exact` false) when more than
    * rows / cap + 1 remain after the merge, so all partitions together send
    * the driver at most envelopes + partitions runs. A repeated id is left
    * to the driver: it falls in two runs, which overlap. */
  private[streaming] def idRuns(ids: Iterator[Long], cap: Int): Iterator[IdRuns] =
    if (!ids.hasNext) Iterator.empty
    else {
      val arrived = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var last = ids.next()
      var runStart, maxId = last
      var rows = 1L
      var exact = true
      while (ids.hasNext) {
        val id = ids.next()
        rows += 1
        if (id > maxId) maxId = id
        if (exact && id != last + 1) {
          arrived += ((runStart, last - runStart + 1))
          runStart = id
          if (arrived.length >= RunsInFlight && arrived.length >= rows / cap + 1) exact = false
        }
        last = id
      }
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      if (exact) {
        arrived += ((runStart, last - runStart + 1))
        for ((start, n) <- arrived.sortBy(_._1))
          if (runs.nonEmpty && runs.last._1 + runs.last._2 == start)
            runs(runs.length - 1) = (runs.last._1, runs.last._2 + n)
          else runs += ((start, n))
      }
      val keep = exact && runs.length <= rows / cap + 1
      Iterator.single(IdRuns(rows, maxId, keep, if (keep) runs.toSeq else Nil))
    }

  /** The first id of every `cap`-row envelope of a delta in id order (W2),
    * from its partitions' runs merged by start; the driver holds one value
    * per envelope and one run per envelope or partition. None when a
    * partition dropped its runs or two runs overlap (an id repeats across
    * partitions or in one). */
  private[streaming] def batchBounds(parts: Seq[IdRuns], cap: Int): Option[Array[Long]] =
    if (!parts.forall(_.exact)) None
    else {
      val runs = parts.flatMap(_.runs).sortBy(_._1)
      val overlap = runs.iterator.zip(runs.iterator.drop(1)).exists {
        case ((start, n), (next, _)) => next <= start + n - 1
      }
      if (overlap) None
      else {
        val bounds = new scala.collection.mutable.ArrayBuilder.ofLong
        var seen = 0L // rows in the runs before this one
        for ((start, n) <- runs) {
          var pos = (seen + cap - 1) / cap * cap // the next envelope's first row
          while (pos < seen + n) {
            bounds += start + (pos - seen)
            pos += cap
          }
          seen += n
        }
        Some(bounds.result())
      }
    }

  /** A version's batch number: the index of the last bound at or below it. */
  private[streaming] def batchOf(bounds: Array[Long]) = udf { (version: Long) =>
    val i = java.util.Arrays.binarySearch(bounds, version)
    if (i >= 0) i else -i - 2
  }

  /** A delta of `rows` as one envelope in ONE task, with no shuffle: the
    * rows coalesce into one partition, at most `cap + 1` of them are kept,
    * and [[Envelope.encodeCounted]] folds them into batch 0, sorted by
    * `$version`, with their count and max version. The single partition
    * satisfies the aggregate's clustering, so the plan holds no exchange.
    * A delta over the cap shows as `rows = cap + 1`. */
  private[graft] def oneEnvelope(rows: DataFrame, cap: Int): DataFrame = {
    val kept = math.min(cap.toLong + 1, Int.MaxValue).toInt
    Envelope.encodeCounted(rows.withColumn("batch", lit(0)).coalesce(1).limit(kept), "batch")
  }

  /** Fan out the [[oneEnvelope]] rows of one task — at most one — and
    * report each as [[Exported]]. An envelope over `cap` rows is sent to
    * no endpoint. */
  private[streaming] def exportEnvelope(
      plan: ExportPlan,
      cap: Int,
      it: Iterator[(Int, String, Long, Long)],
      executorEnvelopes: LongAccumulator): Iterator[Exported] =
    it.map { case (batchNo, json, rows, maxVersion) =>
      Exported(rows, maxVersion,
        if (rows > cap) Nil
        else exportPartition(plan, Iterator.single((batchNo, json)), executorEnvelopes).toSeq)
    }

  /** Fan one partition of `(batch, envelope_json)` rows out to every
    * endpoint, executor-side. Emits only the failures as (error, payload),
    * each error prefixed with the failing endpoint's configured key
    * (`<key>: <error>`) — the at-least-once contract (T2) means a retried
    * task may re-invoke sinks, exactly like the reference's retry loop;
    * dedup happens at the DLQ (D1) and at idempotent consumers, never by
    * suppressing the send. */
  private[streaming] def exportPartition(
      plan: ExportPlan,
      it: Iterator[(Int, String)],
      executorEnvelopes: LongAccumulator): Iterator[(String, String)] =
    it.flatMap { case (batchNo, json) =>
      if (org.apache.spark.TaskContext.get() != null) executorEnvelopes.add(1)
      val meta = ExportMeta(plan.environment, plan.objectName, plan.database,
        plan.nowUtc, batchNo, plan.totalBatches)
      val payload = new Sinks.Payload(json) // one gzip for every endpoint
      // EVERY configured endpoint participates in the fan-out — a skipped
      // kind would lose its rows silently (the watermark still advances;
      // only dead-lettered failures are re-driven).
      plan.endpoints.flatMap { ep =>
        val result = ep.kind match {
          case "file" =>
            Sinks.writeFile(json, ep.target, meta, plan.hadoopConf.map(_.value)).map(_ => ())
          case "http" =>
            Sinks.prepareHttp(payload, ep.target, meta, ep.headers,
              ep.enableCompression, plan.maxPayloadSizeBytes)
              .flatMap(r =>
                if (plan.performHttp) Sinks.httpPost(r).map(_ => ())
                else Right(()))
          case "rabbitmq" if plan.performAmqp =>
            // REAL wire delivery (r19, the performHttp precedent): guards
            // first (required fields, caps), then the AMQP 0-9-1 publish —
            // target "amqp://host:port/exchange", routing key = the object
            // name, correlation id = `<object>#<batch>` (replayable).
            Sinks.prepareBrokerMessage("rabbitmq", payload, ep.headers).flatMap { body =>
              // a bad target is a CONFIG error: it dead-letters like any
              // sink failure instead of failing the whole task
              Amqp.parseTarget(ep.target)
                .toRight(ExportFailure(s"bad amqp target '${ep.target}'"))
                .flatMap { case (host, port, exchange) =>
                  Amqp.publish(host, port, exchange,
                    routingKey = s"${plan.database}.${plan.objectName}",
                    body = body, correlationId = s"${plan.objectName}#$batchNo",
                    headers = ep.headers).map(_ => ())
                }
            }
          case broker =>
            Sinks.prepareBrokerMessage(broker, payload, ep.headers).map(_ => ())
        }
        result.left.toSeq.map(f => (s"${ep.key}: ${f.error}", json))
      }
    }

  /** The relay contract's change columns (U1), in order, and the literal
    * column naming each row's object in a poller's union. */
  private val ChangeColumns = Seq("id", "xact_id", "operation", "value", "props", "changed")
  private val ObjectTag = "_graft_object"

  /** T1 — [[poll]] over one outbox directory per object, watched as a
    * parquet file stream of `schema`. */
  def streamFromOutboxDir(
      spark: SparkSession,
      relay: ChangeRelay,
      outboxDirOf: TrackingObject => String,
      schema: org.apache.spark.sql.types.StructType,
      checkpointDir: String): StreamingQuery =
    poll(relay, checkpointDir)(o => spark.readStream.schema(schema).parquet(outboxDirOf(o)))

  /** S1 — [[poll]] over one `graft-change` DSv2 source per object. The
    * engine owns each source's (version, horizon) offsets in the checkpoint,
    * and a batch carries only fresh gated rows, so the store watermark lands
    * on the same frontier. `adapt` bridges an object's wire table to the
    * relay contract (a JDBC table stores $changed as a delimited VARCHAR). */
  def streamFromChangeSource(
      spark: SparkSession,
      relay: ChangeRelay,
      sourceOptionsOf: TrackingObject => Map[String, String],
      checkpointDir: String,
      adapt: TrackingObject => DataFrame => DataFrame = _ => identity): StreamingQuery =
    poll(relay, checkpointDir)(o =>
      adapt(o)(spark.readStream.format("graft-change").options(sourceOptionsOf(o)).load()))

  /** T1/T6 — ONE StreamingQuery per environment (the reference loops over
    * `environment.TrackingObjects` each interval): every object's `source`,
    * tagged with its name, in one union, so all offsets share one checkpoint.
    * Named `graft-relay-<environment>`, it fires every
    * `pollingIntervalSeconds`, and each trigger is one [[runCycles]] over
    * the objects' splits: one `watermarks` commit, and an unseeded object is
    * seeded, rows or not. `foreachBatch` hands over one planned RDD, which a
    * tag filter cannot prune, so the batch is cached for the trigger rather
    * than re-read per object and action (a record-count probe's reason; no
    * benchmark runs this poller, so its time cost is unmeasured).
    *
    * A failing object stops the query once the others' advances commit; a
    * restart on the checkpoint replays the batch, re-exporting nothing
    * committed (T2). A source that cannot be read fails every split. Never
    * two pollers per environment: a live checkpoint is claimed JVM-wide and
    * a live name is refused by the session.
    *
    * A checkpoint written by a one-object query cannot be resumed: its
    * offset log holds one source, this query's holds one per object. A
    * fresh checkpoint re-reads each outbox directory whole (the stored
    * watermarks keep what was exported from exporting again), and a
    * `graft-change` source starts at its `startMode`: at the default
    * `seed`, the current frontier, so rows committed since the old query
    * stopped are never relayed unless `startMode=version` with
    * `startVersion` at the object's stored watermark is passed. */
  private def poll(relay: ChangeRelay, checkpointDir: String)(
      source: TrackingObject => DataFrame): StreamingQuery = {
    val config = relay.config
    require(config.trackingObjects.nonEmpty, s"environment '${config.name}' tracks no object")
    val changes = config.trackingObjects.map(o =>
      source(o).select(ChangeColumns.map(c => col(c).as(c)) :+ lit(o.name).as(ObjectTag): _*))
      .reduce(_ unionByName _)
    MicroBatch.claimAndStart(checkpointDir,
      s"checkpointLocation '$checkpointDir' is already used by an active query")(
      MicroBatch.start(changes, s"graft-relay-${config.name}", checkpointDir,
        Trigger.ProcessingTime(s"${config.pollingIntervalSeconds} seconds")) { (batch, _) =>
        batch.persist()
        try relay.runCycles(config.trackingObjects.map(o =>
            o -> batch.filter(col(ObjectTag) === o.name).drop(ObjectTag)),
          java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss")
            .format(java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)))
        finally batch.unpersist()
        ()
      })
  }

  /** T5 streaming flavor — the dead-letter replay loop as a Structured
    * Streaming query: a rate source is the timer (the Spark-idiomatic
    * analog of the reference's delay-loop background service,
    * `DeadLetterReplayService.cs:42-60`), and each trigger runs one
    * [[ChangeRelay.replayCycle]] — due batch, attempt, then one commit that
    * deletes on success / widens backoff on failure. `attempt` is
    * injectable exactly as in the batch flavor, so endpoint recovery is
    * testable. The replay cadence is
    * independent of the change-relay cadence, matching the reference's
    * separate hosted service.
    *
    * Named `graft-replay-<environment>`, as the poller is
    * `graft-relay-<environment>`, so the session refuses a second replay
    * loop for a live environment: two loops would race due → attempt →
    * settle, and both would attempt, and count, the same letters. */
  def streamReplay(
      spark: SparkSession,
      relay: ChangeRelay,
      attempt: (String, String) => Boolean,
      intervalSeconds: Int): StreamingQuery =
    spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream
      .queryName(s"graft-replay-${relay.config.name}")
      .trigger(Trigger.ProcessingTime(s"$intervalSeconds seconds"))
      .foreachBatch { (_: DataFrame, _: Long) =>
        relay.replayCycle(attempt,
          new java.sql.Timestamp(System.currentTimeMillis()))
        ()
      }
      .start()
}
