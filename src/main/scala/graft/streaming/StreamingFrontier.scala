package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.ops.Lineage
import graft.state.ParquetStateStore

/** Streaming crawl frontier — the continuous flavor of
  * [[graft.ops.UrlOps.crawlSchedule]]: candidate URLs arrive in
  * micro-batches and each batch extends every domain's politeness schedule
  * where the last batch left off, under the same per-domain cap and fetch
  * spacing. The batch operator answers "schedule this crawl list"; this
  * one answers the production shape — a discovery stream (sitemap reads,
  * outlink extraction) feeding a frontier that must never exceed
  * `maxPerDomain` fetches per domain TOTAL, however the URLs are split
  * across batches.
  *
  * State is one row per domain: `n_sched` — how many fetch slots the
  * domain has consumed. Per batch and per domain, the batch's candidates
  * are drawn smallest-id-first by the BOUNDED `topk_pairs` aggregate
  * (k pairs of state map-side, the batch operator's skew-free shape), the
  * first `maxPerDomain − n_sched` of them take slots `n_sched, n_sched+1,
  * …`, and the rest are dropped exactly as the batch cap drops them.
  * Per-batch work is O(batch + touched domains), never O(history).
  *
  * Exactly-once across foreachBatch replays through
  * [[ParquetStateStore.commitBatch]]; scheduled rows land in
  * `outDir/batch=<id>`.
  *
  * Batch-parity contract (spec-pinned with a randomized contiguous split):
  * when batches arrive id-ascending per domain (the discovery stream's
  * natural order), the concatenated schedule equals the one-shot
  * [[graft.ops.UrlOps.crawlSchedule]] over the union — same winners, same
  * slots, same spacing. */
object StreamingFrontier {

  private val Table = "frontier_domains"
  private val schema = new StructType()
    .add("domain", StringType).add("n_sched", LongType)

  /** Per-domain slot consumption (domain, n_sched). */
  def domainState(store: ParquetStateStore): DataFrame =
    store.read(Table, schema)

  /** Apply one micro-batch (columns `domain`, `doc_id`); returns rows
    * scheduled. Exposed for direct reuse and the spec's split-fold oracle. */
  def applyBatch(store: ParquetStateStore, batch: DataFrame, batchId: Long,
                 outDir: String, maxPerDomain: Int = 8,
                 delaySec: Int = 5): Long = {
    require(maxPerDomain >= 1 && delaySec >= 0)
    val out = s"$outDir/batch=$batchId"
    val landed = store.commitBatch(Table, batchId) {
      // The batch feeds the draw AND the state update — materialize once
      // (round-4 rule d; micro-batch-sized rows).
      val b = batch.select(col("domain").cast("string").as("domain"),
          col("doc_id").cast("long").as("doc_id"))
        .transform(Lineage.cut)
      val drawn = b.groupBy(col("domain"))
        .agg(expr(s"topk_pairs(-doc_id, doc_id, $maxPerDomain)").as("_top"))
      val st = domainState(store)
      val staged = drawn.join(st, Seq("domain"), "left")
        .withColumn("n0", coalesce(col("n_sched"), lit(0L)))
        .transform(Lineage.cut) // feeds the schedule AND the new state; one eval
      val sched = staged
        .select(col("domain"), col("n0"), posexplode(col("_top")))
        .filter(col("pos") + col("n0") < maxPerDomain)
        .select(col("domain"), col("col.id").as("doc_id"),
          (col("pos") + col("n0")).as("slot"))
        .withColumn("sched_s", col("slot") * lit(delaySec.toLong))
        .transform(Lineage.cut) // written AND feeds the new state; one evaluation
      sched.write.mode(SaveMode.Overwrite).parquet(out)
      val taken = sched.groupBy(col("domain")).agg(count(lit(1)).as("_t"))
      staged.select(col("domain"), col("n0"))
        .join(taken, Seq("domain"), "left")
        .select(col("domain"),
          (col("n0") + coalesce(col("_t"), lit(0L))).as("n_sched"))
        .unionByName(st.join(drawn, Seq("domain"), "left_anti"))
    }
    if (landed) batch.sparkSession.read.parquet(out).count() else 0L
  }

  /** The full frontier so far: every scheduled fetch across batches. */
  def schedule(spark: SparkSession, outDir: String): DataFrame =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(outDir)))
      spark.read.parquet(outDir)
        .select(col("domain"), col("doc_id"), col("slot"), col("sched_s"))
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new StructType().add("domain", StringType).add("doc_id", LongType)
        .add("slot", LongType).add("sched_s", LongType))

  /** Continuous maintenance: `stream` must carry `domain`, `doc_id`. One
    * query per state store — application is ordered by micro-batch. */
  def start(spark: SparkSession, stream: DataFrame, store: ParquetStateStore,
            outDir: String, checkpointDir: String, maxPerDomain: Int = 8,
            delaySec: Int = 5): StreamingQuery =
    MicroBatch.startWriter(store, Table, stream,
        s"graft-frontier-${outDir.hashCode.toHexString}", checkpointDir) { (batch, batchId) =>
      applyBatch(store, batch, batchId, outDir, maxPerDomain, delaySec)
    }
}
