package graft.state

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import graft.model.{Defaults, Schemas}
import graft.ops.Dlq
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import scala.jdk.CollectionConverters._

/** Parquet-backed control tables: watermarks, pauses, dead letters.
  *
  * Mirrors the reference's SQLite state.db / sinkhole.db
  * (ChangeTrackingBackgroundService.cs:158-173, PauseService.cs:27-48,
  * DeadLetterService.cs:36-72) with snapshot semantics: every mutation
  * writes a NEW versioned snapshot directory and then flips a pointer file —
  * the commit is the atomic pointer write, so a crash mid-write never
  * corrupts the current snapshot (readers always resolve the pointer).
  *
  * Control tables are tiny (one row per tracked object / pause / failure),
  * so full-snapshot rewrites are the right trade-off — the data-scale state
  * (the change log itself) never lives here.
  *
  * Driver-resident tables: `watermarks`, `pauses` and `dead_letters` run no
  * Spark job. A snapshot is one parquet file read and written on the driver
  * (parquet-hadoop over local files, timestamps as INT64 micros UTC), so
  * `spark.read.parquet` still reads it; reads are local relations, and
  * mutations are plain Scala over the row set. Dead-letter payloads
  * therefore live on the driver, as in the reference's SQLite; the bound is
  * what one cycle's failed envelopes add. Every other table (the streaming
  * operators' state, [[ModelStore]]) is read and written through Spark.
  *
  * Batch progress: a streaming operator's table commits through
  * [[commitBatch]], which keeps each writer's (streaming query id's) last
  * micro-batch id in a `_BATCH` marker file that Spark's file index skips.
  * A table has one live streaming writer at a time, started through
  * [[graft.streaming.MicroBatch.startWriter]]; a restart on the same
  * checkpoint resumes its query's progress, and a query on a fresh one is
  * a new writer.
  *
  * Writers: every mutation (read the snapshot, derive the next one,
  * commit) holds a JVM-wide lock keyed by the table root's absolute path,
  * so concurrent writers in one process — streaming `foreachBatch`
  * threads, per-environment relay and replay loops (each commits a table
  * at most once per cycle, from its calling thread), store instances on
  * the same root — never lose each other's rows. Reads take no lock. The
  * store allows ONE writer process per root: the lock does not reach
  * across JVMs.
  */
final class ParquetStateStore(spark: SparkSession, rootDir: String) {
  import ParquetStateStore._

  private def tableRoot(name: String): Path = Paths.get(rootDir, name)

  /** The table's root as a normalized absolute path: the key of its writer
    * lock and of its streaming writer's claim. */
  def tablePath(name: String): String = tableRoot(name).toAbsolutePath.normalize.toString

  /** Run `body` holding the table's writer lock (reentrant). */
  private def locked[T](name: String)(body: => T): T =
    ParquetStateStore.tableLocks.computeIfAbsent(tablePath(name), _ => new Object).synchronized(body)

  private def pointer(name: String): Path = tableRoot(name).resolve("_CURRENT")

  private def currentDir(name: String): Option[Path] = {
    val p = pointer(name)
    if (Files.exists(p)) {
      val v = Files.readString(p).trim
      // Defensive: an empty pointer would resolve to the table root itself.
      if (v.isEmpty) None
      else {
        val dir = tableRoot(name).resolve(v)
        if (Files.exists(dir)) Some(dir) else None
      }
    } else None
  }

  /** Read the current snapshot, or an empty frame with the given schema.
    * A control table comes back as a local relation, with its own schema. */
  def read(name: String, schema: StructType): DataFrame =
    ControlTables.get(name) match {
      case Some(s) => spark.createDataFrame(rows(name).asJava, s)
      case None => currentDir(name) match {
        case Some(dir) => spark.read.schema(schema).parquet(dir.toString)
        case None => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      }
    }

  /** A control table's current snapshot, read on the driver. */
  private def rows(name: String): Vector[Row] =
    currentDir(name).fold(Vector.empty[Row])(dir =>
      readSnapshot(dir.resolve(SnapshotFile), ControlTables(name)))

  /** Snapshot commits performed by this store instance, on the driver
    * path and the Spark path alike (a [[commitBatch]] that lands counts one;
    * a replay it skips counts none) — an observability counter specs assert
    * per-cycle state-I/O invariants against (e.g. one watermark commit per
    * multi-object cycle, not one per object). AtomicLong, not a @volatile
    * var: commits arrive from Structured Streaming foreachBatch threads and
    * the driver thread concurrently, and += on a volatile is a lost-update
    * race. */
  private val commitCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  def commitCount: Long = commitCounter.get()

  /** Commit a new snapshot. A control table collects `df` and takes the
    * driver path; any other table is written by Spark. */
  def commit(name: String, df: DataFrame): Unit = ControlTables.get(name) match {
    case Some(s) => commitRows(name, df.select(s.fieldNames.toSeq.map(col): _*).collect().toSeq)
    case None => flip(name)(writeSpark(df))
  }

  private def writeSpark(df: DataFrame)(dir: Path): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir.toString)

  /** Each writer's last micro-batch id landed on `name`: the current
    * version's `_BATCH` marker, a `<batch id> <writer>` line per writer. A
    * bare `<batch id>` is a marker from before progress was kept per
    * writer, when a table's one writer had to restart on its own
    * checkpoint; it is read as `writer`'s, so the next commit adopts it. */
  private def committedBatches(name: String, writer: String): Map[String, Long] =
    currentDir(name).map(_.resolve(BatchMarker)).filter(Files.exists(_))
      .fold(Map.empty[String, Long])(f => Files.readAllLines(f).asScala.map { line =>
        line.split(" ", 2) match {
          case Array(batch, w) => w -> batch.toLong
          case Array(batch) => writer -> batch.toLong
        }
      }.toMap)

  /** Exactly-once state under at-least-once `foreachBatch` delivery, the
    * one protocol every streaming operator commits through. The writer is
    * the id of the streaming query calling this (Spark's
    * `sql.streaming.queryId` local property), which a restart on the same
    * checkpoint keeps; outside any query the writer is `""`. Under the
    * table's writer lock: a `batchId` at or below the writer's last landed
    * one has landed already, so nothing runs and the result is false. A
    * call outside any query cannot tell which query's batch it repeats, so
    * for it the last landed id is the highest of any writer's: a driver
    * re-applying a query's committed batch must be skipped too.
    * Otherwise `step` reads the state, writes the batch's own output with
    * `overwrite` and returns the next state, which goes into one version
    * directory with the writer's new progress, visible in one pointer
    * flip. A crash before the flip replays the batch against unchanged
    * state, and the replay rewrites the same output; progress does not
    * depend on the state having rows.
    *
    * The marker keeps a line (a batch id and a query id, some 50 bytes)
    * for every query that ever committed to the table, and each commit
    * reads and rewrites all of them, so a table restarted on a fresh
    * checkpoint N times carries N lines. None is dropped: a stopped query
    * may resume on its own checkpoint and replay its last batch, which its
    * line must still skip. */
  def commitBatch(name: String, batchId: Long)(step: => DataFrame): Boolean = locked(name) {
    val writer = Option(spark.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY)).getOrElse("")
    val progress = committedBatches(name, writer)
    val landed = if (writer.isEmpty) progress.values.maxOption else progress.get(writer)
    batchId > landed.getOrElse(-1L) && {
      val next = step
      flip(name) { dir =>
        writeSpark(next)(dir)
        Files.write(dir.resolve(BatchMarker),
          (progress + (writer -> batchId)).map { case (w, b) => s"$b $w" }.asJava)
      }
      true
    }
  }

  /** Rows in the current snapshot, summed from its parquet footers on the
    * driver: no Spark job. */
  def rowCount(name: String): Long = currentDir(name).fold(0L) { dir =>
    val listing = Files.list(dir)
    try listing.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).map { f =>
      val reader = ParquetFileReader.open(new LocalInputFile(f),
        ParquetReadOptions.builder(parquetConf).build())
      try reader.getRecordCount finally reader.close()
    }.sum
    finally listing.close()
  }

  private def commitRows(name: String, snapshot: Seq[Row]): Unit = flip(name) { dir =>
    Files.createDirectories(dir)
    writeSnapshot(dir.resolve(SnapshotFile), ControlTables(name), snapshot)
  }

  /** The commit protocol: write v{n+1}, flip the pointer, GC old versions
    * (keeping one previous for concurrent readers). Holds the table's
    * writer lock, so another writer's GC never deletes this in-flight
    * version; a read-modify-write must hold it across the read too (the
    * mutations below do). */
  private def flip(name: String)(write: Path => Unit): Unit = locked(name) {
    commitCounter.incrementAndGet()
    Files.createDirectories(tableRoot(name))
    val next = System.nanoTime().toString
    val dir = tableRoot(name).resolve(s"v$next")
    write(dir)
    val prev = currentDir(name)
    // The pointer flip IS the commit, so it must be atomic: writeString
    // truncates in place, and a crash mid-write would leave an empty or
    // partial pointer — read() would then see an empty store and the next
    // commit would snapshot WITHOUT all prior rows (total state loss).
    // Write-temp + ATOMIC_MOVE makes the flip all-or-nothing.
    val tmp = tableRoot(name).resolve(s"_CURRENT.tmp$next")
    Files.writeString(tmp, s"v$next")
    Files.move(tmp, pointer(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // GC every version except the new current and its immediate
    // predecessor — an orphan a crashed commit left included — and any
    // pointer temp file a crash before the move left behind.
    val keep = Set(Some(dir), prev).flatten.map(_.getFileName.toString)
    val listing = Files.list(tableRoot(name))
    try listing.filter { p =>
        val n = p.getFileName.toString
        if (Files.isDirectory(p)) !keep.contains(n) else n.startsWith("_CURRENT.tmp")
      }.forEach { p =>
        val walk = Files.walk(p)
        try walk.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
        finally walk.close()
      }
    finally listing.close()
  }

  // ---- watermarks (LastVersions) ----------------------------------------

  def watermarks: DataFrame = read("watermarks", Schemas.watermarkSchema)

  /** J6 — the `INSERT … ON CONFLICT DO UPDATE` upsert. */
  def setWatermark(env: String, obj: String, version: Long): Unit =
    setWatermarks(Seq((env, obj, version)))

  /** J6 batched — the whole cycle's watermark advances in ONE snapshot
    * commit. The per-object form rewrites the O(objects) table once per
    * object per cycle — O(objects²) row writes per cycle; batching makes
    * per-cycle watermark I/O one read + one write regardless of how many
    * tracked objects advanced ([[graft.streaming.ChangeRelay.runCycles]]
    * collects the cycle's advances and lands here). The update wins per
    * (env, object) (the last one, if a key repeats); untouched rows
    * survive. */
  def setWatermarks(updates: Seq[(String, String, Long)]): Unit =
    if (updates.nonEmpty) locked("watermarks") {
      val now = nowMicros()
      val fresh = updates.map { case (e, o, v) => (e, o) -> v }.toMap
      commitRows("watermarks",
        rows("watermarks").filterNot(r => fresh.contains((r.getString(0), r.getString(1)))) ++
          fresh.toSeq.sortBy(_._1).map { case ((e, o), v) => Row(e, o, v, now) })
    }

  def getWatermark(env: String, obj: String): Option[Long] = watermarksOf(env).get(obj)

  /** Every stored watermark of one environment, by object name. */
  def watermarksOf(env: String): Map[String, Long] =
    rows("watermarks").collect { case r if r.getString(0) == env => r.getString(1) -> r.getLong(2) }.toMap

  /** T8 — state reset: deleting the row re-initializes the object per its
    * InitialSyncMode on the next cycle (Program.cs:401-432). */
  def resetWatermark(env: String, obj: String): Unit = locked("watermarks") {
    commitRows("watermarks",
      rows("watermarks").filterNot(r => r.getString(0) == env && r.getString(1) == obj))
  }

  // ---- pauses -----------------------------------------------------------

  def pauses: DataFrame = read("pauses", Schemas.pauseSchema)

  /** The paused scopes, as stored (lower case). */
  def pausedScopes: Set[String] = rows("pauses").map(_.getString(0)).toSet

  def pause(scope: String, reason: String, by: String): Unit = locked("pauses") {
    val s = scope.toLowerCase
    commitRows("pauses", rows("pauses").filterNot(_.getString(0) == s) :+ Row(s, reason, by, nowMicros()))
  }

  /** T7 — resume = delete the row; holds survive restarts because they live
    * in the store, not in config (PauseService.cs:10-16). */
  def resume(scope: String): Unit = locked("pauses") {
    commitRows("pauses", rows("pauses").filterNot(_.getString(0) == scope.toLowerCase))
  }

  // ---- dead letters -----------------------------------------------------

  def deadLetters: DataFrame = read("dead_letters", Schemas.deadLetterSchema)

  /** K9/D1 — append failures with exactly-once-per-payload semantics:
    * a (source_key, data_hash) already present is skipped (T4). `letters`
    * carries the [[LetterColumns]]; see the row flavour below. */
  def appendDeadLetters(letters: DataFrame): Unit =
    appendDeadLetters(letters.select(LetterColumns.map(col): _*).collect().toSeq)

  /** [[appendDeadLetters]] for failures already on the driver, as rows in
    * [[LetterColumns]] order. D1 holds within the batch too: several sinks
    * failing on one payload leave one letter, the one with the least
    * `error_message`. Ids are dense from maxId + 1 in (source_key,
    * data_hash) order; a fresh letter has 0 attempts and no next attempt.
    * Commits only when a letter is new. */
  def appendDeadLetters(letters: Seq[Row]): Unit = if (letters.nonEmpty) locked("dead_letters") {
    val existing = rows("dead_letters")
    val seen = existing.map(r => (r.getString(1), r.getString(5))).toSet
    val maxId = existing.map(_.getLong(0)).maxOption.getOrElse(0L)
    val fresh = letters.groupBy(r => (r.getString(0), r.getString(4)))
      .collect { case (key, same) if !seen(key) => key -> same.minBy(r => Option(r.getString(6))) }
      .toSeq.sortBy(_._1).zipWithIndex
      .map { case ((_, r), i) => Row.fromSeq((maxId + i + 1) +: r.toSeq :+ 0 :+ null) }
    if (fresh.nonEmpty) commitRows("dead_letters", existing ++ fresh)
  }

  /** P8 + O1 — the replay batch: letters due at `now` ([[Dlq.dueFilter]])
    * and within retention, so a letter past it is never attempted; oldest
    * first by (timestamp, id), at most `batchSize` — the order and cap of
    * [[Dlq.replayBatch]], taken on the driver. */
  def dueDeadLetters(maxAttempts: Int, now: java.sql.Timestamp,
      batchSize: Int = Defaults.DlqReplayBatchSize): Seq[Row] =
    Dlq.dueFilter(Dlq.purgeExpired(deadLetters, lit(now)), maxAttempts, lit(now)).collect().toSeq
      .sortBy(r => (DateTimeUtils.fromJavaTimestamp(r.getTimestamp(8)), r.getLong(0)))
      .take(batchSize)

  /** T5 — one replay cycle's outcome in ONE commit: the `delivered` ids
    * leave, each `failed` letter (as [[dueDeadLetters]] returned it) takes
    * its next retry state ([[Dlq.retryState]] at `now`), and letters past
    * retention at `now` leave ([[Dlq.purgeExpired]]). A failed letter no
    * longer in the snapshot is not written back. Commits only when the
    * snapshot changed; returns how many letters were past retention. */
  def settleDeadLetters(delivered: Seq[Long], failed: Seq[Row], now: java.sql.Timestamp,
      backoffSeconds: Int = Defaults.DlqBackoffBaseSeconds): Long = {
    val retried = Dlq.retryState(spark.createDataFrame(failed.asJava, Schemas.deadLetterSchema),
        lit(now), backoffSeconds)
      .select(Schemas.deadLetterSchema.fieldNames.toSeq.map(col): _*).collect()
      .map(r => r.getLong(0) -> r).toMap
    val drop = delivered.toSet
    locked("dead_letters") {
      val before = rows("dead_letters")
      val kept = Dlq.purgeExpired(spark.createDataFrame(before.asJava, Schemas.deadLetterSchema),
        lit(now)).collect().toSeq
      val after = kept.collect { case r if !drop(r.getLong(0)) => retried.getOrElse(r.getLong(0), r) }
      if (after != before) commitRows("dead_letters", after)
      (before.size - kept.size).toLong
    }
  }

  /** Purge dead letters past the retention window (reference
    * DeadLetterService.cs:148-159) on the monitor's cadence. Returns the
    * purged count; the snapshot is only rewritten when something was
    * actually purged. */
  def purgeExpiredDeadLetters(now: java.sql.Timestamp): Long = settleDeadLetters(Nil, Nil, now)

  // ---- driver-side snapshot files ----------------------------------------

  /** One writer/reader configuration per store, not one per commit. */
  private val parquetConf =
    new HadoopParquetConfiguration(new org.apache.hadoop.conf.Configuration(false))

  private def writeSnapshot(file: Path, schema: StructType, snapshot: Seq[Row]): Unit = {
    val message = new MessageType("spark_schema", schema.fields.toSeq.map { f =>
      val c = Codecs(f.dataType)
      Types.primitive(c.physical,
          if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED)
        .as(c.logical).named(f.name): Type
    }.asJava)
    val groups = new SimpleGroupFactory(message)
    val writer = ExampleParquetWriter.builder(new LocalOutputFile(file))
      .withConf(parquetConf).withType(message)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try snapshot.foreach { r =>
      val g = groups.newGroup()
      schema.fields.indices.filterNot(r.isNullAt)
        .foreach(i => Codecs(schema(i).dataType).write(g, i, r.get(i)))
      writer.write(g)
    } finally writer.close()
  }

  private def readSnapshot(file: Path, schema: StructType): Vector[Row] = {
    val reader = new ParquetReader.Builder[Group](new LocalInputFile(file), parquetConf) {
      override def getReadSupport = new GroupReadSupport
    }.build()
    try Iterator.continually(reader.read()).takeWhile(_ != null).map(g =>
      Row.fromSeq(schema.fields.indices.map(i =>
        if (g.getFieldRepetitionCount(i) == 0) null else Codecs(schema(i).dataType).read(g, i))))
      .toVector
    finally reader.close()
  }
}

object ParquetStateStore {
  /** Writer locks, one per table root (absolute path), shared by every
    * store instance in the JVM. */
  private val tableLocks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** The driver-resident tables and their schemas. */
  private val ControlTables: Map[String, StructType] = Map(
    "watermarks" -> Schemas.watermarkSchema,
    "pauses" -> Schemas.pauseSchema,
    "dead_letters" -> Schemas.deadLetterSchema)

  /** The one data file of a driver-written snapshot directory. */
  private val SnapshotFile = "part-00000.snappy.parquet"

  /** A [[commitBatch]] version's progress per writer. */
  private val BatchMarker = "_BATCH"

  /** What a caller supplies per dead letter; the store adds the id, the
    * attempts and the next attempt. */
  val LetterColumns: Seq[String] = Seq("source_key", "tracking_object_name",
    "environment_name", "database_name", "data_hash", "data", "error_message", "timestamp")

  /** "Now", at the microsecond precision a snapshot stores. */
  private def nowMicros(): java.sql.Timestamp =
    DateTimeUtils.toJavaTimestamp(DateTimeUtils.instantToMicros(java.time.Instant.now()))

  /** How a control column is stored: strings as UTF-8 binary, timestamps
    * as INT64 TIMESTAMP(MICROS, UTC) — the types Spark's own reader maps
    * back to the control schemas. */
  private final case class Codec(physical: PrimitiveTypeName, logical: LogicalTypeAnnotation,
      write: (Group, Int, Any) => Unit, read: (Group, Int) => Any)

  private val Codecs: Map[DataType, Codec] = Map(
    StringType -> Codec(PrimitiveTypeName.BINARY, LogicalTypeAnnotation.stringType(),
      (g, i, v) => g.add(i, v.asInstanceOf[String]), _.getString(_, 0)),
    LongType -> Codec(PrimitiveTypeName.INT64, null,
      (g, i, v) => g.add(i, v.asInstanceOf[Long]), _.getLong(_, 0)),
    IntegerType -> Codec(PrimitiveTypeName.INT32, null,
      (g, i, v) => g.add(i, v.asInstanceOf[Int]), _.getInteger(_, 0)),
    TimestampType -> Codec(PrimitiveTypeName.INT64,
      LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS),
      (g, i, v) => g.add(i, DateTimeUtils.anyToMicros(v)),
      (g, i) => DateTimeUtils.toJavaTimestamp(g.getLong(i, 0))))
}
