package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Session-persisted deterministic-model memo — round-15 rule (a) extended
  * to TRAINED MODELS (r16): a registered query re-training the identical
  * deterministic model pays its per-iteration job floors on every run,
  * while the reference's equivalent is a persisted model artifact (what
  * [[graft.state.ModelStore]] models; ann_ivf_persisted pins the
  * round-trip bit-exact). Every trainer behind this memo is fully
  * deterministic (seeded, truncating/floor-half-up arithmetic, lowest-id
  * ties), so memoizing on the corpus' CANONICALIZED analyzed plan plus
  * every trainer parameter is bit-invisible to results — the same
  * per-plan keying discipline as the [[fitsRows]] probe memo. Values are
  * driver-held bounded state (k×dim centroids, m×ksub codebooks, k-row
  * merge lists, vocabulary-bounded classifier handles),
  * never corpus rows; keys of stopped sessions are swept like the Tables
  * caches.
  *
  * Staleness boundary: the key is the CANONICALIZED ANALYZED PLAN, which
  * for file-backed corpora is path-level — rewriting a parquet file in
  * place within one long-lived session would serve the model trained on
  * the old bytes. The memo is session-scoped snapshot-at-first-read, the
  * same contract as the Tables catalog cache; it is NOT content-addressed.
  * ModelMemoSpec's data-change-miss pin covers LocalRelations (data
  * embedded in the plan), which is exactly where content changes ARE
  * plan-visible. Long-session callers mutating inputs in place must
  * create a fresh session (or write a new path) to retrain. */
private[ops] object ModelMemo {
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, LogicalPlan, String), AnyRef]()

  def memo[T <: AnyRef](corpus: DataFrame, tag: String)(train: => T): T = {
    graft.Tables.sweepStopped(cache, (_: (SparkSession, LogicalPlan, String))._1)
    val key = (corpus.sparkSession,
      corpus.queryExecution.analyzed.canonicalized, tag)
    // NOT computeIfAbsent: training runs Spark jobs and may one day call
    // another memoized trainer — a reentrant computeIfAbsent on the same
    // map throws/deadlocks. Racing duplicate trains are harmless (both
    // produce the identical deterministic model; first put wins).
    val existing = cache.get(key)
    if (existing != null) existing.asInstanceOf[T]
    else {
      val v = train
      val prev = cache.putIfAbsent(key, v)
      (if (prev != null) prev else v).asInstanceOf[T]
    }
  }

  private val probesMax = 1024
  private val probes = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, LogicalPlan, Long, BigInt), java.lang.Boolean]()

  /** True when `df` verifiably holds ≤ `cap` rows: its optimizer size
    * estimate is ≤ `bytesCap` (at 100 TB the answer is free, no job) AND a
    * LIMIT-bounded count reads at most cap+1 rows, never the whole input.
    * The dispatch probe behind `Similarity.fitsSmallCorpus` and
    * `Funnel.fitsFold`: a family of queries probing the same slice pays
    * one probe per session. Memoized like [[memo]], on the canonicalized
    * plan and both caps — equal keys are equal plans, so no collision can
    * send a corpus-scale slice to a driver-side path. Past `probesMax`
    * entries the memo clears; a re-probe costs one bounded count. */
  def fitsRows(df: DataFrame, cap: Long, bytesCap: BigInt): Boolean = {
    graft.Tables.sweepStopped(probes, (_: (SparkSession, LogicalPlan, Long, BigInt))._1)
    val key = (df.sparkSession, df.queryExecution.analyzed.canonicalized, cap, bytesCap)
    val cached = probes.get(key)
    if (cached != null) cached.booleanValue()
    else {
      val fits = df.queryExecution.optimizedPlan.stats.sizeInBytes <= bytesCap &&
        // clamp: a cap near Long.MaxValue must degrade to "probe at Int
        // range", not overflow limit() into an AnalysisException
        df.limit(math.min(cap, Int.MaxValue - 1L).toInt + 1).count() <= cap
      if (probes.size >= probesMax) probes.clear()
      probes.put(key, java.lang.Boolean.valueOf(fits))
      fits
    }
  }
}
