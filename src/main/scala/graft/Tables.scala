package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver-provided parquet tables (TESTDATA.md).
  *
  * Every query in [[SparkEntry.queries]] receives `(spark, sfDir)` and reads
  * only these tables, so the DuckDB oracle (which registers the same parquet
  * files under the same names) sees identical inputs at every scale factor.
  */
object Tables {
  /** Catalog cache: `spark.read.parquet` pays file listing + footer schema
    * inference (~50-150 ms) on EVERY call, and the registry's 112 queries
    * each re-read the same ten immutable driver-provided tables — ~15 s of
    * repeated metadata work per bench run. Real engines cache catalog
    * metadata; so does this one. The testdata contract (TESTDATA.md) is
    * immutable inputs, so no invalidation path is needed; a hypothetical
    * mutable source would go through `spark.catalog.refreshByPath` instead
    * of this reader. Keyed per session (plans are session-bound); DataFrames
    * are immutable so sharing one across queries is sound, and identical
    * leaf relations also raise codegen-cache hits across queries. */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Evict cache entries owned by stopped sessions — long-lived JVMs that
    * create many sessions (sbt test runs) would otherwise retain every dead
    * session's plans forever. A weak-keyed map cannot fix this: the cached
    * DataFrame strongly references its session, so the value pins the key.
    * The sweep is O(entries) over sessions × tables — trivially small. */
  private[graft] def sweepStopped[K, V](
      m: java.util.concurrent.ConcurrentHashMap[K, V],
      sessionOf: K => SparkSession): Unit = {
    val it = m.keySet.iterator()
    while (it.hasNext) if (sessionOf(it.next()).sparkContext.isStopped) it.remove()
  }

  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    sweepStopped(cache, (_: (SparkSession, String))._1)
    cache.computeIfAbsent((spark, s"$dir/$name.parquet"),
      { case (s, path) => s.read.parquet(path) })
  }

  /** Schema-adaptive events reader. The driver has shipped `events.ts` in two
    * parquet encodings across testdata generations:
    *
    *  - TIMESTAMP(NANOS): Spark 4 refuses to read it as a timestamp at all.
    *    We set the legacy nanos-as-long conf, read the raw int64, and truncate
    *    to microseconds with integer arithmetic (ns values exceed double's
    *    exact range, so no float division) — the same truncation DuckDB
    *    applies, so oracle comparisons agree.
    *  - TIMESTAMP(MICROS) without UTC adjustment: Spark reads TIMESTAMP_NTZ.
    *    We cast to TimestampType; with the session timezone pinned to UTC
    *    (Harness) this is value-identical to the nanos path, so every
    *    downstream query and oracle sees one stable type and value.
    *
    * The branch is decided by the ACTUAL read schema, not an assumption about
    * the current testdata — a first read attempt without the legacy conf
    * throws on nanos footers, in which case we set the conf and retry.
    *
    * NOTE: the legacy conf is a SESSION-WIDE invariant once set (it is
    * captured by scan relations at planning, so it cannot be safely
    * set/restored around one read) — any later nanos-timestamp parquet in
    * the same session will also read as long, deliberately. We only set it
    * on the retry path, so micros-era sessions never carry it. */
  def events(spark: SparkSession, dir: String): DataFrame =
    adaptTs(eventsRaw(spark, dir))

  private def eventsRaw(spark: SparkSession, dir: String): DataFrame =
    try read(spark, dir, "events")
    catch {
      case e: Exception if isNanosFooter(e) =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        read(spark, dir, "events")
    }

  /** Spark's refusal message for INT64 (TIMESTAMP(NANOS,…)) footers, at any
    * nesting depth of the thrown exception chain. */
  private def isNanosFooter(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).exists { t =>
      val m = t.getMessage
      m != null && m.toUpperCase.contains("NANOS")
    }

  /** Normalize whatever `ts` type the footer produced to TimestampType. */
  private[graft] def adaptTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  def lineitem(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = read(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
}
