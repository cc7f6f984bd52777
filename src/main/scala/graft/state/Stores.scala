package graft.state

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Schemas
import graft.ops.{Dlq, StateOps}
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

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
  * Writers: every mutation (read the snapshot, derive the next one,
  * commit) holds a JVM-wide lock keyed by the table root's absolute path,
  * so concurrent writers in one process — a cycle's objects, streaming
  * `foreachBatch` threads, per-environment relay tasks, store instances on
  * the same root — never lose each other's rows. Reads take no lock. The
  * store allows ONE writer process per root: the lock does not reach
  * across JVMs.
  */
final class ParquetStateStore(spark: SparkSession, rootDir: String) {

  private def tableRoot(name: String): Path = Paths.get(rootDir, name)

  /** Run `body` holding the table's writer lock (reentrant). */
  private def locked[T](name: String)(body: => T): T =
    ParquetStateStore.tableLocks
      .computeIfAbsent(tableRoot(name).toAbsolutePath.normalize.toString, _ => new Object)
      .synchronized(body)

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

  /** Read the current snapshot, or an empty frame with the given schema. */
  def read(name: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    currentDir(name) match {
      case Some(dir) => spark.read.schema(schema).parquet(dir.toString)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** Snapshot commits performed by this store instance — an observability
    * counter specs assert per-cycle state-I/O invariants against (e.g. one
    * watermark commit per multi-object cycle, not one per object).
    * AtomicLong, not a @volatile var: commits arrive from Structured
    * Streaming foreachBatch threads (StreamingDedup) and the driver thread
    * concurrently, and += on a volatile is a lost-update race. */
  private val commitCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  def commitCount: Long = commitCounter.get()

  /** Commit a new snapshot: write v{n+1}, flip the pointer, GC old
    * versions (keeping one previous for concurrent readers). Holds the
    * table's writer lock, so another writer's GC never deletes this
    * in-flight version; a read-modify-write must hold it across the read
    * too (the mutations below do). */
  def commit(name: String, df: DataFrame): Unit = locked(name) {
    commitCounter.incrementAndGet()
    Files.createDirectories(tableRoot(name))
    val next = System.nanoTime().toString
    val dir = tableRoot(name).resolve(s"v$next")
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir.toString)
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
    // GC everything except the new current and its immediate predecessor.
    val keep = Set(Some(dir), prev).flatten.map(_.getFileName.toString)
    val listing = Files.list(tableRoot(name))
    try listing.filter(p =>
        Files.isDirectory(p) && !keep.contains(p.getFileName.toString))
      .forEach { p =>
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
    * collects the cycle's advances and lands here). One `watermarkUpsert`
    * merge handles the whole batch — update wins per (env, object),
    * untouched rows survive. */
  def setWatermarks(updates: Seq[(String, String, Long)]): Unit =
    if (updates.nonEmpty) locked("watermarks") {
      import spark.implicits._
      val update = updates
        .toDF("environment_name", "object_name", "last_version")
        .withColumn("last_updated", current_timestamp())
      commit("watermarks", StateOps.watermarkUpsert(watermarks, update))
    }

  def getWatermark(env: String, obj: String): Option[Long] =
    watermarks
      .filter(col("environment_name") === env && col("object_name") === obj)
      .select("last_version")
      .collect().headOption.map(_.getLong(0))

  /** T8 — state reset: deleting the row re-initializes the object per its
    * InitialSyncMode on the next cycle (Program.cs:401-432). */
  def resetWatermark(env: String, obj: String): Unit = locked("watermarks") {
    commit("watermarks", watermarks.filter(
      !(col("environment_name") === env && col("object_name") === obj)))
  }

  // ---- pauses -----------------------------------------------------------

  def pauses: DataFrame = read("pauses", Schemas.pauseSchema)

  def pause(scope: String, reason: String, by: String): Unit = locked("pauses") {
    import spark.implicits._
    val row = Seq((scope.toLowerCase, reason, by))
      .toDF("scope", "reason", "paused_by")
      .withColumn("paused_at", current_timestamp())
    commit("pauses", pauses.filter(col("scope") =!= scope.toLowerCase).unionByName(row))
  }

  /** T7 — resume = delete the row; holds survive restarts because they live
    * in the store, not in config (PauseService.cs:10-16). */
  def resume(scope: String): Unit = locked("pauses") {
    commit("pauses", pauses.filter(col("scope") =!= scope.toLowerCase))
  }

  // ---- dead letters -----------------------------------------------------

  def deadLetters: DataFrame = read("dead_letters", Schemas.deadLetterSchema)

  /** K9/D1 — append failures with exactly-once-per-payload semantics:
    * a (source_key, data_hash) already present is skipped (T4).
    *
    * Id assignment is maxId + a dense offset in (source_key, data_hash)
    * order — computed WITHOUT a single-partition window: range-partition +
    * in-partition sort reproduces the total order, and `zipWithIndex`
    * assigns dense offsets with one small per-partition count job. Same
    * deterministic ids as a global `row_number`, no all-rows-to-one-task
    * sort if a failure storm ever makes an append data-scale. */
  def appendDeadLetters(rows: DataFrame): Unit = locked("dead_letters") {
    val existing = deadLetters
    val maxId = existing.agg(coalesce(max("id"), lit(0L))).collect()(0).getLong(0)
    val batchW = org.apache.spark.sql.expressions.Window
      .partitionBy("source_key", "data_hash").orderBy("error_message")
    val deduped = rows
      // D1 holds WITHIN the incoming batch too: several sinks failing on the
      // same payload produce one dead letter (first by error_message).
      .withColumn("_rn", row_number().over(batchW)).filter(col("_rn") === 1).drop("_rn")
      .join(existing.select("source_key", "data_hash"), Seq("source_key", "data_hash"), "left_anti")
    val ordered = deduped
      .repartitionByRange(col("source_key"), col("data_hash"))
      .sortWithinPartitions("source_key", "data_hash")
    val withIdSchema = ordered.schema.add("id", org.apache.spark.sql.types.LongType, nullable = false)
    val fresh = spark.createDataFrame(
        ordered.rdd.zipWithIndex().map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (maxId + i + 1)) },
        withIdSchema)
      .withColumn("attempts", lit(0))
      .withColumn("next_attempt", lit(null).cast("timestamp"))
    commit("dead_letters", existing.unionByName(fresh.select(existing.columns.map(col): _*)))
  }

  def deleteDeadLetters(ids: Seq[Long]): Unit = locked("dead_letters") {
    commit("dead_letters", deadLetters.filter(!col("id").isin(ids: _*)))
  }

  /** T5 — merge back updated retry state for the given rows. */
  def updateDeadLetters(updated: DataFrame): Unit = locked("dead_letters") {
    val cols = deadLetters.columns
    val untouched = deadLetters.join(updated.select("id"), Seq("id"), "left_anti")
    commit("dead_letters", untouched.unionByName(updated.select(cols.map(col): _*)))
  }

  def dueDeadLetters(maxAttempts: Int, batchSize: Int = 25): DataFrame =
    Dlq.replayBatch(Dlq.dueFilter(deadLetters, maxAttempts, current_timestamp()), batchSize)

  /** Purge dead letters older than the retention window (reference
    * DeadLetterService.cs:148-159). Returns the purged count; the snapshot
    * is only rewritten when something was actually purged. */
  def purgeExpiredDeadLetters(now: java.sql.Timestamp,
      retentionDays: Int = graft.model.Defaults.DlqRetentionDays): Long =
    locked("dead_letters") {
      val before = deadLetters
      val kept = Dlq.purgeExpired(before, lit(now), retentionDays)
      val purged = before.count() - kept.count()
      if (purged > 0) commit("dead_letters", kept)
      purged
    }
}

object ParquetStateStore {
  /** Writer locks, one per table root (absolute path), shared by every
    * store instance in the JVM. */
  private val tableLocks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
}
