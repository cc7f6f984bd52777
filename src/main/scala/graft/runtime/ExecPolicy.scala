package graft.runtime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{CoGroup, DeserializeToObject, Expand, Generate, MapPartitions}
import org.apache.spark.sql.execution.LogicalRDD

/** Small-query execution policy: run tiny scan-dominated queries without
  * adaptive re-planning and without Janino codegen.
  *
  * Rationale (measured, FloorProfile same-JVM A/B at sf0.1): a control-table
  * query pays ~0.5-1.0 s of per-query fixed floor, of which AQE contributes
  * ~0.2-0.5 s (one extra job round + re-optimization per shuffle stage) and
  * cold whole-stage codegen ~0.2-0.6 s (Janino, paid once per DISTINCT plan
  * — a 112-query registry pays it 112 times). Neither amortizes on a
  * kilobyte-scale input; this is the same economics as Postgres's
  * `jit_above_cost` (JIT only above a cost threshold) and Spark's own
  * `spark.sql.codegen.fallback` escape hatch. On a 100 TB input the policy
  * never engages — it exists precisely so the engine does not tax the
  * control-plane queries (watermarks, routing lookups, DLQ pages) that run
  * between the big scans.
  *
  * "Small" is deliberately conservative — BOTH conditions must hold:
  *   1. the sum of optimized-plan leaf sizes is below [[smallInputBytes]]
  *      (unknown-stats leaves such as un-stat'd RDD scans default to
  *      Long.MaxValue and therefore disqualify); and
  *   2. the plan is scan-shaped: no row-multiplying operator (Generate,
  *      Expand), no checkpointed intermediate (LogicalRDD — an iterative
  *      pipeline's tail), no typed imperative node (MapPartitions /
  *      DeserializeToObject / CoGroup — per-row JVM work like multimodal
  *      decode), and no higher-order array function (embedding dot products
  *      are compute-dense per input byte; interpreted eval would tax them).
  *
  * Input bytes are a proxy for OUTPUT/compute only on scan-shaped plans —
  * condition 2 is what keeps the 594 KB documents table's shingle-explosion
  * pipelines (11M+ intermediate rows from a sub-MB scan) on the full
  * adaptive + codegen path.
  */
object ExecPolicy {

  /** 8 MB: comfortably above the control fixtures (events at sf0.1 is
    * 2.2 MB) and below the smallest data-path fact table the bench codegens
    * (lineitem at sf0.1 is 10.8 MB). Override for A/Bs via
    * SPARK_GRAFT_SMALL_INPUT_BYTES; 0 disables the policy. */
  val smallInputBytes: Long =
    sys.env.get("SPARK_GRAFT_SMALL_INPUT_BYTES").map(_.toLong).getOrElse(8L << 20)

  private val smallConfs = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    // A KB-scale shuffle does not need one reduce task per core: 2 reduce
    // tasks instead of 32 drops per-query task-launch overhead without
    // affecting results (AQE would coalesce these at runtime — but AQE is
    // off here, that being the point).
    "spark.sql.shuffle.partitions" -> "2")

  /** Compute-dense cutoff: a plan carrying more expression nodes than this
    * is doing real per-row arithmetic (the fused ANN plans run 2-20k-node
    * literal dot products), where interpreted eval costs 10-100× codegen —
    * measured: the multiband BNL self-join went 2 s → 46 s when round 7's
    * HOF-free rewrite let it slip under the old guard. Control queries sit
    * at tens-to-hundreds of nodes. */
  private val maxExprNodes = 1500L

  def isSmall(df: DataFrame): Boolean = smallInputBytes > 0 && {
    // The outer plan AND every plan nested in a subquery expression: a
    // Generate or a large scan inside a scalar/IN-subquery is invisible to
    // exists/collectLeaves on the outer tree, and qualifying such a query
    // would put real per-row work on the interpreted path (the 2 s → 46 s
    // cliff this guard exists for).
    val plans = { val p = df.queryExecution.optimizedPlan; p +: p.subqueriesAll }
    val disqualified = plans.exists(_.exists {
      case _: Generate | _: Expand | _: LogicalRDD => true
      case _: MapPartitions | _: DeserializeToObject | _: CoGroup => true
      case _ => false
    })
    // Higher-order functions do NOT disqualify: HOF lambdas are
    // interpreted under codegen too, so their per-row cost is mode-
    // independent — and the plans where HOF work could explode (shingle
    // pipelines, checkpointed iteratives) are already caught by the
    // Generate/LogicalRDD guards above and the node-count guard below.
    // Leaves are DEDUPLICATED by canonical form: with the Tables catalog
    // cache a query reading the same relation four times (a10) has 4×
    // one table's bytes of work in DuckDB too — double-counting only
    // pushed it onto the expensive path.
    !disqualified &&
      plans.map(_.map(n => n.expressions.map(_.map(_ => 1L).sum).sum).sum).sum <= maxExprNodes &&
      plans.flatMap(_.collectLeaves()).distinctBy(_.canonicalized)
        .map(_.stats.sizeInBytes).sum < smallInputBytes
  }

  /** Tier-1 confs: AQE off, the reduce-task count left inheriting the
    * session's partitions — MEASURED A WASH: the hypothesis was that AQE-off
    * reverts sub-8MB reduces to 32 near-empty tasks that AQE would have
    * coalesced, so fewer fixed partitions should save task-launch overhead.
    * Same-JVM FloorProfile BOTH orders (dedup_winnow, sk_topk_agg,
    * llm_freq_spectrum, dedup_minhash_sig, sf0.1): the 8→32→8 order read
    * 40-80 ms/query for 8, but the reversed 32-first order erased it
    * completely (winnow 253-270 ms at 8 vs 245-316 at 32; minhash_sig
    * 256-309 vs 234-250) — the "win" was JVM warmth, the round-12 rule (j)
    * trap. Empty reduce tasks cost ~1 ms each on local; at cluster scale
    * tier-1 never fires on data that would care. */
  private val tier1Confs = Seq("spark.sql.adaptive.enabled" -> "false")

  /** Tier-1 (r13 floor attack): small known input, no iterative/typed
    * node — shape guards NOT consulted (Generate/Expand/HOF allowed: with
    * codegen on they cost the same either way). Such plans run AQE-off
    * ONLY — codegen and shuffle partitioning untouched. Rationale,
    * measured with the three-leg FloorProfile discipline (AQE on → off →
    * on again, so JVM warmth cannot fake the effect): on shuffle-bearing
    * Generate-class queries over control-scale inputs, AQE costs
    * 60–150 ms/query of extra job rounds (dedup_winnow 157-182 ms off vs
    * 291-342 ms on-again; llm_freq_spectrum 266-313 vs 342-427;
    * sk_topk_agg ~145 vs ~170), and is a wash on map-only plans. With
    * < [[smallInputBytes]] of input there is nothing material for runtime
    * re-planning to fix — coalescing tiny partitions and splitting skewed
    * joins both presuppose data that a sub-8MB scan cannot produce — while
    * codegen stays ON, so the round-7 interpreted-eval cliff (2 s → 46 s)
    * that [[isSmall]]'s shape guards exist for cannot engage. Iterative
    * tails (LogicalRDD) and typed imperative nodes stay on the full
    * adaptive path: the r12 full-registry A/B showed AQE genuinely earning
    * its cost on the graph/iterative family, and checkpoint boundaries
    * hide the true plan size (round-10 s4 rule e needs AQE to skew-split
    * hot keys below a checkpointed weight table). */
  def isSmallInputNonIterative(df: DataFrame): Boolean =
    smallInputBytes > 0 && {
      val plans = { val p = df.queryExecution.optimizedPlan; p +: p.subqueriesAll }
      !plans.exists(_.exists {
        case _: LogicalRDD => true
        case _: MapPartitions | _: DeserializeToObject | _: CoGroup => true
        case _ => false
      }) &&
        plans.flatMap(_.collectLeaves()).distinctBy(_.canonicalized)
          .map(_.stats.sizeInBytes).sum < smallInputBytes
    }

  /** Run `action` on `df` under the small-query confs when it qualifies,
    * under the tier-1 confs when only its input is small, and unchanged
    * otherwise, restoring the session confs afterwards. The confs are read
    * at physical planning, which for a fresh DataFrame happens inside
    * `action` — callers must not force `executedPlan` before calling.
    * Sequential use only (the confs are session-scoped while set); Bench
    * and Verify run queries one at a time. */
  def run[T](df: DataFrame)(action: DataFrame => T): T =
    if (isSmall(df)) runWith(smallConfs, df)(action)
    else if (isSmallInputNonIterative(df)) runWith(tier1Confs, df)(action)
    else action(df)

  /** Apply the small-query confs WITHOUT the plan guards — for callers
    * that have already proven smallness by other means (e.g. a Lloyd
    * training job whose corpus passed `Similarity.fitsSmallCorpus`: its
    * explode trips the Generate guard, but a probed ≤ cap-row corpus
    * bounds the exploded size too). Sequential use only, like [[run]]. */
  def runForced[T](df: DataFrame)(action: DataFrame => T): T =
    runWith(smallConfs, df)(action)

  private def runWith[T](confs: Seq[(String, String)], df: DataFrame)
                        (action: DataFrame => T): T = {
    val conf = df.sparkSession.conf
    val saved = confs.map { case (k, _) => k -> conf.getOption(k) }
    confs.foreach { case (k, v) => conf.set(k, v) }
    try action(df)
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
