package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence analytics over the `events` table: conversion funnels,
  * cohort retention, and event-type transition counts — the product-/
  * behavior-analytics tier a training-data pipeline's telemetry side needs
  * (which documents got sampled, which users converted, how sessions flow).
  *
  * Scale shapes, deliberately:
  *  - [[funnelSteps]] / [[abFunnel]] DISPATCH on the funnel-relevant event
  *    volume (stats pre-filter + LIMIT-bounded probe, the
  *    `Similarity.fitsSmallCorpus` pattern): under [[foldEventsCap]]
  *    events they run as ONE shuffle on the user key — per-user events
  *    collected sorted and folded greedily in a single `aggregate` HOF
  *    pass (k conditions per event); above it they run the chained
  *    conditional-min join formulation (k step-joins over checkpointed
  *    user-cardinality intermediates). Both shapes were MEASURED both
  *    orders at 1M and 10M events, twice: round 9 had the fold winning
  *    2-2.5× at 1M and the join chain 1.2-1.6× at 10M; the round-10
  *    re-measurement (both orders, library entry points) had the fold
  *    ahead ~1.9× at 1M AND 1.2-1.7× at 10M — so the 10M crossover sits
  *    inside this box's load-noise band (BENCHNOTES round-10). The fold
  *    clearly wins small; above the cap the shapes are within ~1.5×
  *    locally and the dispatcher's value is structural: the chained
  *    path's k user-cardinality checkpoints bound memory where the
  *    fold's per-user collect+sort buffers grow with events-per-user.
  *    The two paths are provably equivalent (the
  *    first qualifying event in ascending time order IS the conditional
  *    min) and spec-pinned output-identical (FunnelSpec).
  *    Both report the FULL step universe: a step no user reached is a
  *    `users = 0` row, never an absent row (and the A/B flavor reports
  *    both variants × all steps) — the DuckDB oracle's chained CTEs emit
  *    the same zero rows, so the engines agree even on corpora with zero
  *    funnel-relevant events.
  *  - [[retentionCohorts]] is two keyed aggregations (first-seen week per
  *    user, then distinct users per (cohort, offset)); both shuffles hash
  *    on keys whose cardinality collapses, and the output is a bounded
  *    cohort triangle.
  *  - [[transitionCounts]] is a keyed window (lead per user) + one
  *    aggregation to a ≤ |types|² table — the window partitions by user,
  *    never globally.
  *
  * All time math is integer epoch-seconds (truncated), mirroring the
  * oracle's `floor(date_part('epoch', ts))` exactly.
  */
object Funnel {

  private def epochS(tsCol: String): Column = col(tsCol).cast("long")

  /** Funnel-relevant events the greedy-fold path may process before the
    * dispatcher switches to the chained-join path. Measured crossover
    * (ScaleSmoke, both orders): fold wins 2-2.5× at 1M events, join chain
    * wins 1.2-1.6× at 10M — the default sits between them. */
  val foldEventsCap: Long = 3000000L

  /** Stats pre-filter for the fold probe: a relevant slice whose optimizer
    * size estimate exceeds this never probes — at 100 TB the chained-path
    * decision is free (no job), and under it the probe's LIMIT-bounded
    * count reads at most cap+1 rows, never the corpus. */
  private[ops] val foldBytesCap = BigInt(512L << 20)

  /** True when `relevant` verifiably holds ≤ `cap` rows (the
    * `Similarity.fitsSmallCorpus` / `decontaminate` dispatch pattern,
    * through the same [[ModelMemo.fitsRows]] probe memo). The funnel
    * family (steps, A/B, latency, …) probes the SAME relevant slice once
    * per query; at the decade each probe is a ~0.7-1.2 s full pass of the
    * slice (FloorProfile: it was most of ev_funnel/ev_ab_funnel's "build"
    * time), and the memo dedups them to one probe per session. Same
    * staleness boundary as ModelMemo/Tables: session-scoped
    * snapshot-at-first-read, so an in-place rewrite of the events path
    * within one session would reuse the old verdict (the dispatch is a
    * pure strategy choice — both paths are exact, so a stale verdict can
    * cost time, never correctness). */
  def fitsFold(relevant: DataFrame, cap: Long = foldEventsCap): Boolean =
    cap > 0 && (cap == Long.MaxValue || ModelMemo.fitsRows(relevant, cap, foldBytesCap))

  /** Greedy sequential funnel: for each user, t1 = earliest `steps(0)`
    * event; t_{j+1} = earliest `steps(j)` event strictly after t_j and
    * within `windowSeconds` of t1. Returns EXACTLY one row per step —
    * (step_idx, step, users) with users = count reaching that step, 0 for
    * steps nobody reached (the report's shape is the funnel definition,
    * never the data).
    *
    * Strategy is volume-dispatched (see the object scaladoc): the greedy
    * fold under [[foldEventsCap]] relevant events, the chained
    * conditional-min join formulation above it. The DuckDB oracle always
    * uses the chained form, so on the fold side the two engines
    * cross-check each other's strategy.
    */
  def funnelSteps(events: DataFrame, tsCol: String, userCol: String,
                  typeCol: String, steps: Seq[String],
                  windowSeconds: Long,
                  maxEventsPerUser: Option[Int] = None,
                  foldCap: Long = foldEventsCap): DataFrame = {
    val rel = boundedRelevant(events, tsCol, userCol, typeCol, steps,
      maxEventsPerUser)
    val counts =
      if (fitsFold(rel, foldCap))
        foldedStepTimes(rel, tsCol, userCol, typeCol, steps, windowSeconds)
          .select(explode(stepHitRows(steps)).as("s"))
          .groupBy(col("s.step_idx").as("step_idx"), col("s.step").as("step"))
          .agg(sum(col("s.hit")).as("users"))
      else
        chainedStepCounts(
          rel.select(col(userCol).as("_u"), lit("all").as("_v"),
            col(typeCol).as("_y"), epochS(tsCol).as("_t")),
          steps, windowSeconds).drop("_v")
    stepUniverse(events, steps)
      .join(counts, Seq("step_idx", "step"), "left")
      .select(col("step_idx"), col("step"),
        coalesce(col("users"), lit(0L)).as("users"))
  }

  /** A/B-experiment funnel: deterministic content-addressed variant
    * assignment (`Sampling.bucketOf` on the user key — stable across
    * runs, engines and data growth, like every split in [[Sampling]])
    * followed by the same volume-dispatched funnel, reported per
    * (variant, step). On the fold path the variant is a pure function of
    * the user key, so it rides the fold's one user-keyed shuffle for
    * free — no extra join, no second pass. The report always covers BOTH
    * variant labels × all steps (zeros where nobody converted), so a
    * variant with no users is visible as zeros, not absent. */
  def abFunnel(events: DataFrame, tsCol: String, userCol: String,
               typeCol: String, steps: Seq[String], windowSeconds: Long,
               treatPermille: Int = 500, salt: String = "ab",
               maxEventsPerUser: Option[Int] = None,
               foldCap: Long = foldEventsCap): DataFrame = {
    val variant = when(
      Sampling.bucketOf(col(userCol), salt) < treatPermille, "treatment")
      .otherwise("control")
    val rel = boundedRelevant(events, tsCol, userCol, typeCol, steps,
      maxEventsPerUser)
    val counts =
      if (fitsFold(rel, foldCap))
        foldedStepTimes(rel, tsCol, userCol, typeCol, steps, windowSeconds)
          .select(variant.as("variant"), explode(stepHitRows(steps)).as("s"))
          .groupBy(col("variant"), col("s.step_idx").as("step_idx"),
            col("s.step").as("step"))
          .agg(sum(col("s.hit")).as("users"))
      else
        chainedStepCounts(
          rel.select(col(userCol).as("_u"), variant.as("_v"),
            col(typeCol).as("_y"), epochS(tsCol).as("_t")),
          steps, windowSeconds).withColumnRenamed("_v", "variant")
    variantStepUniverse(events, steps)
      .join(counts, Seq("variant", "step_idx", "step"), "left")
      .select(col("variant"), col("step_idx"), col("step"),
        coalesce(col("users"), lit(0L)).as("users"))
  }

  /** Time-to-convert histogram: for each step j ≥ 2, the decade
    * distribution of (t_j − t1) seconds over users who reached it —
    * decade = digits(duration) − 1 (1-9 s, 10-99 s, …), the same no-float
    * bucketing as the frequency spectrum, so both engines bucket
    * identically. Durations are ≥ 1 by construction (strict ordering in
    * integer seconds), so the digit count is well-defined.
    *
    * Volume-dispatched like [[funnelSteps]]: the fold path reads durations
    * off the per-user step struct; the chained path reads them off each
    * level's (t1, tp). Output: (step_idx, decade, users, min_s, max_s). */
  def funnelLatency(events: DataFrame, tsCol: String, userCol: String,
                    typeCol: String, steps: Seq[String],
                    windowSeconds: Long,
                    maxEventsPerUser: Option[Int] = None,
                    foldCap: Long = foldEventsCap): DataFrame = {
    // latency is step-to-step: k = 1 has no durations and would crash
    // both paths (empty explode array / empty reduce) — review catch
    require(steps.size >= 2,
      s"funnelLatency needs at least 2 steps, got ${steps.size}")
    val rel = boundedRelevant(events, tsCol, userCol, typeCol, steps,
      maxEventsPerUser)
    val k = steps.size
    val durRows =
      if (fitsFold(rel, foldCap))
        foldedStepTimes(rel, tsCol, userCol, typeCol, steps, windowSeconds)
          .select(explode(array((2 to k).map(j =>
            struct(lit(j).as("step_idx"),
              (col(s"f.t$j") - col("f.t1")).as("dur"))): _*)).as("d"))
          .filter(col("d.dur").isNotNull)
          .select(col("d.step_idx"), col("d.dur"))
      else {
        val levels = chainedLevels(
          rel.select(col(userCol).as("_u"), lit("all").as("_v"),
            col(typeCol).as("_y"), epochS(tsCol).as("_t")),
          steps, windowSeconds)
        levels.zipWithIndex.drop(1).map { case (cur, i) =>
          cur.select(lit(i + 1).as("step_idx"),
            (col("tp") - col("t1")).as("dur"))
        }.reduce(_ unionByName _)
      }
    durRows.groupBy(col("step_idx"),
        (length(col("dur").cast("string")) - 1).cast("long").as("decade"))
      .agg(count(lit(1)).as("users"),
        min(col("dur")).as("min_s"), max(col("dur")).as("max_s"))
  }

  /** The k-row literal step frame: (step_idx, step) for every step. */
  private def stepUniverse(events: DataFrame, steps: Seq[String]): DataFrame = {
    val session = events.sparkSession
    import session.implicits._
    steps.zipWithIndex.map { case (s, i) => (i + 1, s) }
      .toDF("step_idx", "step")
  }

  /** Both variant labels × all steps — the A/B report's static shape. */
  private def variantStepUniverse(events: DataFrame,
                                  steps: Seq[String]): DataFrame = {
    val session = events.sparkSession
    import session.implicits._
    (for {
      v <- Seq("treatment", "control")
      (s, i) <- steps.zipWithIndex
    } yield (v, i + 1, s)).toDF("variant", "step_idx", "step")
  }

  /** The chained conditional-min formulation: t1 = min step-1 time per
    * (user, variant); t_j = min step-j time strictly after t_{j-1} and
    * within the window of t1, via one step-filtered join per level. Each
    * intermediate is user-cardinality (not event-cardinality) and
    * lineage-cut because it feeds BOTH the next level's join and
    * its own step count (round-4 rule d). `prepared` must carry
    * (_u, _v, _y, _t); output is one row per (_v, step) with the count of
    * users whose funnel reached it (variants absent from the data emit
    * nothing — the public entry points complete the universe). */
  private def chainedStepCounts(prepared: DataFrame, steps: Seq[String],
                                windowSeconds: Long): DataFrame = {
    val levels = chainedLevels(prepared, steps, windowSeconds)
    val counts = levels.zipWithIndex.map { case (cur, i) =>
      cur.groupBy(col("_v")).agg(count(lit(1)).as("users"))
        .select(col("_v"), lit(i + 1).as("step_idx"),
          lit(steps(i)).as("step"), col("users"))
    }
    counts.reduce(_ unionByName _)
  }

  /** The chained levels themselves: element i is the user-cardinality
    * frame (_u, _v, t1, tp) of users whose funnel reached step i+1, with
    * tp = that step's time. Each level is lineage-cut — it feeds
    * both the next level's join and whatever readout the caller derives
    * (counts, latency histograms). */
  private def chainedLevels(prepared: DataFrame, steps: Seq[String],
                            windowSeconds: Long): Seq[DataFrame] = {
    val e = prepared.transform(Lineage.cut) // feeds k step-filtered joins
    var cur = e.filter(col("_y") === steps.head)
      .groupBy(col("_u"), col("_v")).agg(min(col("_t")).as("t1"))
      .withColumn("tp", col("t1"))
      .transform(Lineage.cut)
    val levels = scala.collection.mutable.ArrayBuffer(cur)
    steps.indices.tail.foreach { i =>
      cur = e.filter(col("_y") === steps(i)).select(col("_u"), col("_t"))
        .join(cur, Seq("_u"))
        .filter(col("_t") > col("tp") &&
          col("_t") <= col("t1") + windowSeconds)
        .groupBy(col("_u"), col("_v"), col("t1"))
        .agg(min(col("_t")).as("tp"))
        .transform(Lineage.cut)
      levels += cur
    }
    levels.toSeq
  }

  /** Per-step (step_idx, step, hit) rows read off the fold's `f` struct. */
  private def stepHitRows(steps: Seq[String]): Column =
    array(steps.indices.map { i =>
      struct(lit(i + 1).as("step_idx"), lit(steps(i)).as("step"),
        when(col(s"f.t${i + 1}").isNotNull, 1L).otherwise(0L).as("hit"))
    }: _*)

  /** The funnel-relevant slice both strategies consume: events filtered
    * to the step types, optionally truncated to each user's EARLIEST
    * `cap` relevant events — the abusive-key guard (the LSH maxBucket
    * analog): a bot with 10^8 funnel-type events would otherwise
    * materialize them all in one fold buffer. Ordering is (ts, type) —
    * the same ordering the fold consumes — so since the greedy fold is
    * prefix-driven, any user whose true funnel completes within the cap
    * is unaffected. The cap costs one user-keyed window pass (on the
    * fold path it reuses the groupBy's partitioning); both dispatch
    * paths apply the SAME truncation so their outputs stay identical. */
  private def boundedRelevant(events: DataFrame, tsCol: String,
                              userCol: String, typeCol: String,
                              steps: Seq[String],
                              maxEventsPerUser: Option[Int]): DataFrame = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      "funnel steps must be non-empty and distinct")
    val relevant = events.filter(col(typeCol).isin(steps: _*))
    maxEventsPerUser match {
      case None => relevant
      case Some(cap) =>
        val w = Window.partitionBy(col(userCol))
          .orderBy(epochS(tsCol), col(typeCol))
        relevant.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") <= cap).drop("_rn")
    }
  }

  /** The shared greedy fold: one row per user with the k nullable step
    * epochs as struct `f` (see [[funnelSteps]] for the semantics).
    * `relevant` must already be the [[boundedRelevant]] slice. */
  private def foldedStepTimes(relevant: DataFrame, tsCol: String,
                              userCol: String, typeCol: String,
                              steps: Seq[String],
                              windowSeconds: Long): DataFrame = {
    val k = steps.size
    // One corpus pass: only funnel-relevant events survive the pushed
    // filter; ONE shuffle on the user key builds the sorted per-user list.
    val perUser = relevant
      .groupBy(col(userCol))
      .agg(array_sort(collect_list(
        struct(epochS(tsCol).as("t"), col(typeCol).as("y")))).as("evs"))

    // Greedy fold: acc = k nullable step timestamps; an event fills the
    // FIRST unfilled step it matches, subject to strict ordering and the
    // window from t1. lit(null) needs a concrete type for the struct.
    val init = struct((1 to k).map(j =>
      lit(null).cast("long").as(s"t$j")): _*)
    val folded = perUser.select(col(userCol),
      aggregate(col("evs"), init, (acc, e) => {
        val t = e.getField("t"); val y = e.getField("y")
        // steps are distinct types, so each event can match at most one
        // slot; slots fill strictly in order (t_{j-1} filled first).
        val slots = (1 to k).map { j =>
          val cur = acc.getField(s"t$j")
          val fillable =
            if (j == 1) cur.isNull && y === steps.head
            else cur.isNull && acc.getField(s"t${j - 1}").isNotNull &&
              y === steps(j - 1) && t > acc.getField(s"t${j - 1}") &&
              t <= acc.getField("t1") + windowSeconds
          when(fillable, t).otherwise(cur).as(s"t$j")
        }
        struct(slots: _*)
      }).as("f"))
    folded
  }

  /** Weekly cohort retention triangle: cohort = integer epoch-week of the
    * user's first event, offset = event week − cohort week; one row per
    * (cohort_week, week_offset) with the distinct-user count. Integer
    * `div` week math so both engines bucket identically. */
  def retentionCohorts(events: DataFrame, tsCol: String,
                       userCol: String): DataFrame = {
    val wk = expr(s"CAST($tsCol AS LONG) div 604800").as("wk")
    val ev = events.select(col(userCol), wk)
    val first = ev.groupBy(col(userCol)).agg(min(col("wk")).as("cohort_week"))
    ev.join(first, Seq(userCol)) // same key as the groupBy — co-partitioned
      .groupBy(col("cohort_week"),
        (col("wk") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col(userCol)).as("users"))
  }

  /** Robust daily anomaly flags per event type: a day is anomalous when
    * its revenue deviates from the type's median by more than 3× the
    * median absolute deviation (MAD) — the outlier rule that survives the
    * heavy-tailed daily totals a z-score would be wrecked by.
    *
    * Exact integer arithmetic throughout (the repo's oracle-portability
    * doctrine): daily revenue in cents; medians doubled before the cast —
    * the median of N integers is either an integer or an integer + ½, so
    * 2·median is ALWAYS integral and the flag compare
    * `4·|dev| > 3·(4·MAD)` never touches a float.
    *
    * Scale shape: the corpus collapses in the FIRST aggregation (one row
    * per (type, day) — bounded by calendar × type cardinality); the
    * median/MAD layer runs on that bounded rollup and broadcasts back. */
  def dailyAnomalies(events: DataFrame, tsCol: String, typeCol: String,
                     valueCol: String): DataFrame = {
    val daily = events
      .groupBy(col(typeCol).as("event_type"),
        expr(s"CAST($tsCol AS LONG) div 86400").as("day_idx"))
      .agg(sum(floor(col(valueCol) * 100).cast("long")).as("rev_cents"))
      .transform(Lineage.cut) // feeds the median layer AND the flag join
    val med = daily.groupBy(col("event_type"))
      .agg((median(col("rev_cents")) * 2).cast("long").as("med2"))
    val dev = daily.join(broadcast(med), Seq("event_type"))
      .withColumn("dev2", abs(col("rev_cents") * 2 - col("med2")))
      .transform(Lineage.cut) // feeds the MAD aggregate AND the output
    val mad = dev.groupBy(col("event_type"))
      .agg((median(col("dev2")) * 2).cast("long").as("mad4"))
    dev.join(broadcast(mad), Seq("event_type"))
      .select(col("event_type"), col("day_idx"), col("rev_cents"),
        (col("dev2") * 2 > col("mad4") * 3).as("is_anomaly"))
  }

  /** Daily revenue with a 7-day rolling sum per event type. The corpus
    * collapses in the first aggregation; the RANGE-framed window (value
    * range over `day_idx`, not ROWS — gap days must not stretch the
    * frame) runs on the calendar-bounded rollup, partitioned by type. */
  def rollingRevenue(events: DataFrame, tsCol: String, typeCol: String,
                     valueCol: String, days: Int = 7): DataFrame = {
    val daily = events
      .groupBy(col(typeCol).as("event_type"),
        expr(s"CAST($tsCol AS LONG) div 86400").as("day_idx"))
      .agg(sum(floor(col(valueCol) * 100).cast("long")).as("rev_cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_idx"))
      .rangeBetween(-(days - 1).toLong, 0L)
    daily.withColumn("rev_roll_cents", sum(col("rev_cents")).over(w))
  }

  /** Week-over-week revenue growth per event type in integer basis
    * points: `(cur − prev)·10000 div prev` over the weekly rollup (lag
    * window on a bounded table). Weeks with no predecessor are absent. */
  def weekOverWeek(events: DataFrame, tsCol: String, typeCol: String,
                   valueCol: String): DataFrame = {
    val weekly = events
      .groupBy(col(typeCol).as("event_type"),
        expr(s"CAST($tsCol AS LONG) div 604800").as("week_idx"))
      .agg(sum(floor(col(valueCol) * 100).cast("long")).as("rev_cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("week_idx"))
    weekly
      .withColumn("prev_cents", lag(col("rev_cents"), 1).over(w))
      .filter(col("prev_cents").isNotNull && col("prev_cents") =!= 0L)
      .withColumn("growth_bp",
        expr("(rev_cents - prev_cents) * 10000 div prev_cents"))
  }

  /** Weekly event counts pivoted to one column per type — the reshape
    * step a dashboard or feature table wants. `types` must be explicit:
    * an inferred pivot would scan the data twice for the distinct list
    * and make the output schema data-dependent. */
  def weeklyTypePivot(events: DataFrame, tsCol: String, typeCol: String,
                      types: Seq[String]): DataFrame =
    events
      .groupBy(expr(s"CAST($tsCol AS LONG) div 604800").as("week_idx"))
      .pivot(typeCol, types)
      .agg(count(lit(1)))
      .select(col("week_idx") +:
        types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)

  /** Event-type transition counts (first-order Markov): per user, events
    * ordered by (ts, tieBreak); count (event_type → next event_type)
    * pairs. The window is keyed by user — no global sort at any scale. */
  def transitionCounts(events: DataFrame, tsCol: String, userCol: String,
                       typeCol: String, tieBreakCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieBreakCol))
    events
      .select(col(userCol), col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("transitions"))
  }

  /** Behavioral PageRank over the event-type transition graph: which states
    * of the user journey hold the probability mass under a random-surfer
    * model — the centrality readout that ranks "where users end up" above
    * raw visit counts.
    *
    * Integer-exact power iteration: ranks and edge probabilities are ppm
    * integers, every step uses truncating division (`r·p div 1e6` PER EDGE,
    * then sum — associative), dangling mass redistributes uniformly. The
    * registered oracle replays all `iters` rounds as chained MATERIALIZED
    * CTEs, so the two engines cross-check the whole trajectory, not just a
    * fixed point.
    *
    * Scale shape: the corpus-scale work is ONE transition-count
    * aggregation + one distinct-type aggregation; what happens next rides
    * [[GraphOps.pageRankDispatch]]'s cap probe — the type alphabet is
    * driver-bounded in every real deployment (so the driver fast path
    * iterates in microseconds), but the collect is PROBED, not assumed
    * (r15 verdict: the last unguarded graph-shaped collect), and an
    * adversarial type domain falls through to the distributed power
    * iteration with bit-identical truncating arithmetic. Nodes are the
    * DISTINCT EVENT TYPES, not the edge-endpoint union — a type occurring
    * only as some user's sole event has no transitions but still holds
    * base mass (and changes n for everyone). */
  def typePageRank(events: DataFrame, tsCol: String, userCol: String,
                   typeCol: String, tieBreakCol: String,
                   iters: Int = 8, dampPpm: Long = 850000L,
                   edgeCap: Int = GraphOps.prSmallEdgeCap): DataFrame = {
    val tr = transitionCounts(events, tsCol, userCol, typeCol, tieBreakCol)
      .select(col("from_type").as("f"), col("to_type").as("t"),
        col("transitions").as("cnt"))
      .transform(Lineage.cut) // probed, then read by whichever path wins
    val nodes = events.select(col(typeCol).as("node")).distinct()
    GraphOps.pageRankDispatch(tr, Some(nodes), iters, dampPpm, edgeCap)
  }

  /** Gap-based sessionization: a new session starts whenever a user's
    * inter-event gap exceeds `gapSecs` (the GA-classic 30-minute rule).
    * Per-session rollup: event count, start/end/duration in epoch seconds,
    * distinct event types, and revenue in integer cents.
    *
    * Scale shape: both windows (lag for the boundary flag, running sum for
    * the session index) partition by USER and share one sort — Spark plans
    * a single user-keyed exchange + sort for the pair, never a global
    * window. The per-(user, session) rollup then REUSES that partitioning
    * (hashpartitioning(user) satisfies the (user, session) clustering by
    * the subset rule), so the whole operator is ONE shuffle + ONE sort
    * end-to-end — plan-pinned in RegisteredQueriesSpec.
    * Ordering inside a user is (epoch-second, tieBreak),
    * a total order shared verbatim with the DuckDB oracle; the boundary
    * flag compares truncated epoch SECONDS on both engines so sub-second
    * jitter can never flip a session split on one side only. */
  /** Shared sessionization prologue: project (user_id, ep_s, event_type,
    * tie, extras), then stamp `new_sess` (gap-boundary flag), `prev_type`
    * and `session_idx` over ONE user-keyed window pair. Every session
    * operator below derives from this block, so the gap rule and the
    * (ep_s, tie) total order can never drift between them — and their
    * DuckDB oracles all replay this one formula. */
  private def withSessionIdx(events: DataFrame, tsCol: String,
                             userCol: String, typeCol: String,
                             tieBreakCol: String, gapSecs: Long,
                             extra: Seq[(String, Column)] = Nil): DataFrame = {
    val perUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ep_s"), col("tie"))
    events
      .select(Seq(col(userCol).as("user_id"), epochS(tsCol).as("ep_s"),
        col(typeCol).as("event_type"), col(tieBreakCol).as("tie")) ++
        extra.map { case (n, c) => c.as(n) }: _*)
      .withColumn("new_sess",
        when(col("ep_s") - lag(col("ep_s"), 1).over(perUser) <= gapSecs, 0L)
          .otherwise(1L))
      .withColumn("prev_type", lag(col("event_type"), 1).over(perUser))
      .withColumn("session_idx",
        sum(col("new_sess")).over(perUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Deterministic in-session order key (zero-padded (ep_s, tie) string —
    * the lpad-argmax trick): identical in both engines, keeps
    * min_by/max_by partial-aggregation-friendly.
    *
    * Padded to 19 chars per component — lpad TRUNCATES longer inputs in
    * both engines, so a narrower pad would silently mis-order any
    * tie-break id ≥ 10^pad. 19 digits covers the full non-negative int64
    * range; the contract (shared with the DuckDB oracles, which replay
    * the same lpad-19 key) is a NON-NEGATIVE NUMERIC tie-break column. */
  private def sessionOrdKey: Column =
    concat(lpad(col("ep_s").cast("string"), 19, "0"),
      lpad(col("tie").cast("string"), 19, "0"))

  def sessionize(events: DataFrame, tsCol: String, userCol: String,
                 typeCol: String, valueCol: String, tieBreakCol: String,
                 gapSecs: Long = 1800L): DataFrame = {
    withSessionIdx(events, tsCol, userCol, typeCol, tieBreakCol, gapSecs,
      extra = Seq("v_cents" -> floor(col(valueCol) * 100).cast("long")))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ep_s")).as("start_s"),
        max(col("ep_s")).as("end_s"),
        (max(col("ep_s")) - min(col("ep_s"))).as("duration_s"),
        countDistinct(col("event_type")).as("n_types"),
        sum(col("v_cents")).as("rev_cents"))
  }

  /** Session-scoped conversion attribution: every `convType` event is
    * credited to (first touch of its session, immediately preceding touch)
    * — the first-touch × last-touch report of marketing analytics. A
    * conversion that OPENS its session (no preceding event within the
    * gap) is labeled `(direct)` on the last-touch axis, the standard
    * convention.
    *
    * The same-session test for the preceding event is exactly the session
    * boundary flag (`new_sess = 0` ⇔ the gap to the previous event is
    * within `gapSecs`), so no second session-index lag is needed.
    *
    * Shape (r20): ONE per-(user, session) aggregation carries BOTH sides
    * of the old conv⋈entry join — `min_by` elects the session entry while
    * `collect_list(when(type = conv, last_touch))` gathers that session's
    * conversion credits (collect_list drops the nulls non-conversion rows
    * produce; `last_touch` itself is never null — `new_sess = 0` implies a
    * preceding event exists). Exploding the bounded per-session list then
    * re-aggregating replaces the former eager localCheckpoint (a full
    * event-scale materialization job, 1.0-1.6 s of pure build time at the
    * decade per FloorProfile) + two consumers + (user, session) join: the
    * rollup reuses the window's user-keyed exchange (subset rule), so the
    * whole operator is one shuffle + one bounded rollup exchange.
    * FunnelSpec pins fused ≡ the join formulation. Output is bounded by
    * |types|² + a direct row.
    *
    * Skew bound, stated honestly (r20 advice): the per-(user, session)
    * list holds one small string per CONVERSION in that session — bounded
    * by conversions-per-session, which is data-dependent (a bot user
    * converting for weeks under the gap funnels its credits through one
    * buffer where the old join streamed them). The confirmation on the
    * skewed decade (20% hot user, r19e fixture) has no committed
    * artifact. A
    * corpus where single sessions hold millions of conversions should
    * pre-cap with the topPaths `_rn` trick before this rollup. */
  def attribution(events: DataFrame, tsCol: String, userCol: String,
                  typeCol: String, tieBreakCol: String, convType: String,
                  gapSecs: Long = 1800L): DataFrame = {
    val base = withSessionIdx(events, tsCol, userCol, typeCol, tieBreakCol,
      gapSecs)
    val lastTouch = when(col("new_sess") === 0L, col("prev_type"))
      .otherwise(lit("(direct)"))
    base
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min_by(col("event_type"), sessionOrdKey).as("first_touch"),
        collect_list(when(col("event_type") === convType, lastTouch))
          .as("_lts"))
      .select(col("first_touch"), explode(col("_lts")).as("last_touch"))
      .groupBy(col("first_touch"), col("last_touch"))
      .agg(count(lit(1)).as("conversions"))
  }

  /** Entry/exit analysis over [[sessionize]] boundaries: how many sessions
    * begin with one event type and end with another (landing/exit pages in
    * web terms), with converted sessions (any `convType` event) split out.
    *
    * The first/last event ride the SAME per-(user, session) aggregation as
    * the session rollup via `min_by`/`max_by` on a zero-padded
    * (epoch-second, tieBreak) string key — the lpad-string argmax trick
    * (llm_mixed_lang) that both engines order identically and that keeps
    * map-side partial aggregation (no second window over the events). The
    * output is bounded by |types|² × 2, never by sessions. */
  /** RFM user segmentation (recency / frequency / monetary): each
    * converting user is banded above/below the population median on each
    * axis, and the 8 segments are rolled up with their user counts and
    * totals — the classic churn/VIP screen, here exact-integer end to end.
    *
    * The medians come from [[Sketches.quantileSample]]'s deterministic
    * bottom-k-by-hash sample, NOT a global `median()`: the user table at
    * 100 TB is ~10⁸ rows and an exact percentile would buffer all of them
    * in one ObjectHashAggregate, while the sample keeps k triples per
    * partition at every stage AND stays integer-deterministic, so the
    * DuckDB oracle reproduces the thresholds exactly (same hash order,
    * same rank row). Shapes: one conversion-filtered user rollup
    * (checkpointed — two consumers), ONE fused aggregate carrying all
    * three axes' k-bounded sample states (r15: the three separate
    * quantileSample passes each re-scanned the user table — at 10⁸ users
    * that is two full extra passes for no new information; the fused agg
    * is bit-identical because each axis keeps its own salt/priority and
    * the q=50 post-processing is replicated verbatim — FunnelSpec pins
    * fused ≡ three-pass), one 1-row broadcast, one 8-row rollup. */
  def userRfm(events: DataFrame, tsCol: String, userCol: String,
              typeCol: String, valueCol: String, convType: String,
              k: Int = 256): DataFrame = {
    // ONE events pass (r21): the old shape broadcast a separate
    // max(last_s) aggregate BEFORE the checkpoint, so the checkpoint job
    // and the broadcast-build job each re-ran the events scan + rollup.
    // Checkpoint the per-user rollup FIRST (user-scale), then fold the
    // global max into the SAME bounded sample aggregate that feeds the
    // medians — the recency median is derived from the last_s sample
    // inside the 1-row meds plan (recency = (mx − last_s) div 86400 is
    // per-element arithmetic on the sampled tags; the sample membership
    // is priority-hash-only, so sampling last_s ≡ sampling recency).
    val per0 = events.filter(col(typeCol) === convType)
      .groupBy(col(userCol).as("user_id"))
      .agg(max(epochS(tsCol)).as("last_s"),
        count(lit(1)).as("freq"),
        sum(floor(col(valueCol) * 100).cast("long")).as("monetary_cents"))
      .transform(Lineage.cut)
    def pri(salt: String) =
      -graft.ops.DedupOps.hash60(
        concat(lit(salt + ":"), col("user_id").cast("string")))
    // mx − tag ≥ 0 (mx is the global max), so floor ≡ the truncating SQL
    // div of the per-row recency — bit-identical on the non-negative span.
    def medFrom(c: Column, v: Column => Column) = {
      val sv = array_sort(transform(c,
        p => struct(v(p.getField("tag")).as("v"), p.getField("id").as("id"))))
      element_at(sv, greatest(lit(1),
        ceil(lit(50) * size(sv) / 100.0)).cast("int")).getField("v")
    }
    val meds = broadcast(per0
      .select(col("user_id").cast("long").as("_i"),
        col("last_s").cast("long").as("_vr"),
        col("freq").cast("long").as("_vf"),
        col("monetary_cents").cast("long").as("_vm"),
        pri("rfm_r").as("_pr"), pri("rfm_f").as("_pf"), pri("rfm_m").as("_pm"))
      .agg(expr(s"topk_pairs_tag(_pr, _i, _vr, $k)").as("_tr"),
        expr(s"topk_pairs_tag(_pf, _i, _vf, $k)").as("_tf"),
        expr(s"topk_pairs_tag(_pm, _i, _vm, $k)").as("_tm"),
        max(col("_vr")).as("_mx"))
      .select(
        medFrom(col("_tr"),
          t => floor((col("_mx") - t) / lit(86400)).cast("long")).as("_med_r"),
        medFrom(col("_tf"), identity).as("_med_f"),
        medFrom(col("_tm"), identity).as("_med_m"),
        col("_mx")))
    per0
      .crossJoin(meds)
      .withColumn("recency_days", expr("(_mx - last_s) div 86400"))
      .groupBy(
        (col("recency_days") < col("_med_r")).as("recent"),
        (col("freq") > col("_med_f")).as("frequent"),
        (col("monetary_cents") > col("_med_m")).as("high_value"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("freq")).as("sum_freq"),
        sum(col("monetary_cents")).as("sum_cents"))
  }

  /** Top session paths: the first `pathLen` event types of each
    * gap-based session joined with '>', counted across sessions; only
    * paths with at least `minSessions` occurrences survive (the support
    * floor that keeps output bounded — raw path space is |types|^len).
    *
    * Scale shape: the session window is the ONE user-keyed shuffle (the
    * round-10 sessionization pin), and the per-session position that
    * truncates to `pathLen` is derived IN THE SAME (user)(ep, tie) window
    * pass (running last session-start position — r19; the former
    * (user, session)-keyed row_number reused the exchange but re-sorted
    * every event locally) — so the rows entering the collect_list are
    * HARD-capped at `pathLen` per session before aggregation. Without
    * that cap a bot user pinging under the gap for weeks would funnel its
    * entire months-long session through one aggregation buffer just to
    * keep 5 elements. The final rollup keys on the support-floored path
    * alphabet. */
  def topPaths(events: DataFrame, tsCol: String, userCol: String,
               typeCol: String, tieBreakCol: String,
               gapSecs: Long = 1800L, pathLen: Int = 5,
               minSessions: Long = 2L): DataFrame = {
    // Per-session position WITHOUT a (user, session)-keyed window (r19):
    // that window reused the user exchange (subset rule) but still forced
    // a full LOCAL RE-SORT of every event by (user, session, ep, tie) —
    // Spark cannot know session_idx is monotone in (ep, tie) within a
    // user. Instead, derive it in the SAME (user)(ep, tie) spec the
    // session windows already sorted for: global-in-user position `_g`
    // minus the running last session-start position (every session's
    // first event has new_sess = 1, so the ignoreNulls last is never
    // null) — zero additional exchanges or sorts, row-identical to the
    // row_number form (FunnelSpec pins it).
    val perUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ep_s"), col("tie"))
    val running = perUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withSessionIdx(events, tsCol, userCol, typeCol, tieBreakCol, gapSecs)
      .withColumn("_g", row_number().over(perUser))
      .withColumn("_rn", col("_g") - last(
        when(col("new_sess") === 1L, col("_g")), ignoreNulls = true)
        .over(running) + 1)
      .filter(col("_rn") <= pathLen)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(col("_rn").as("k"),
          col("event_type").as("y")))),
        e => e.getField("y"))).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("sessions"))
      .filter(col("sessions") >= minSessions)
  }

  /** Weekly cohort LTV curve: users cohorted by first-seen week (any
    * event type), purchase revenue rolled to (cohort_week, week_offset),
    * cumulative within each cohort, and normalized per cohort user
    * (truncating div — exact integers). The same two-aggregation shape as
    * [[retentionCohorts]]; the cumulative window runs on the bounded
    * cohort triangle, and cohort sizes broadcast back. */
  def cohortLtv(events: DataFrame, tsCol: String, userCol: String,
                typeCol: String, valueCol: String,
                revType: String = "purchase"): DataFrame = {
    // No checkpoint on the event projection (r12 rule d): it is a narrow
    // cast/floor over ONE parquet table, so each consumer column-prunes
    // its own scan — the first-seen branch reads (user, ts) only and the
    // revenue branch pushes the type filter into the scan, where the old
    // occurrence-scale localCheckpoint materialized every event row
    // (incl. the type string) as deserialized rows just to save a cheap
    // re-projection.
    val ev = events.select(col(userCol).as("user_id"),
      expr(s"CAST($tsCol AS LONG) div 604800").as("wk"),
      col(typeCol).as("event_type"),
      floor(col(valueCol) * 100).cast("long").as("v_cents"))
    val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_week"))
      .transform(Lineage.cut) // user-scale; feeds cohort sizes AND the revenue join
    // `first` is one row per user by construction — plain count, no
    // distinct state (the oracle's count(DISTINCT user_id) is identical
    // on a deduped key).
    val sizes = first.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_users"))
    val rev = ev.filter(col("event_type") === revType)
      .join(first, Seq("user_id")) // same key as the groupBy — co-partitioned
      .groupBy(col("cohort_week"), (col("wk") - col("cohort_week")).as("week_offset"))
      .agg(sum(col("v_cents")).as("rev_cents"))
    val w = Window.partitionBy(col("cohort_week")).orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev
      .withColumn("cum_cents", sum(col("rev_cents")).over(w))
      .join(broadcast(sizes), Seq("cohort_week"))
      .withColumn("ltv_cents_per_user", expr("cum_cents div cohort_users"))
  }

  /** Winsorized revenue per event type: clamp each event's cents value to
    * the [p05, p95] of a DETERMINISTIC per-type bounded sample (the
    * `Sketches.quantileSample` selection rule, grouped — `k` rows of
    * state per type, never the value distribution), then report raw vs
    * clamped totals and the clamp count. The robust-totals report a
    * revenue dashboard wants when a fat-fingered 10 000× value would
    * otherwise swamp a day.
    *
    * Scale shape: one type-keyed sketch aggregation (k-bounded buffers,
    * map-side partials) + one broadcast-join clamp pass + one type-keyed
    * rollup. Exact-integer end to end; the oracle replays the sample
    * selection (hash-ranked rows ≤ k per type) and the ceil-rank
    * quantile rule verbatim. */
  def winsorizedRevenue(events: DataFrame, typeCol: String, idCol: String,
                        valueCol: String, loQ: Int = 5, hiQ: Int = 95,
                        k: Int = 256, salt: String = "ws"): DataFrame = {
    val base = events.select(col(typeCol).as("event_type"),
        col(idCol).cast("long").as("_id"),
        floor(col(valueCol) * 100).cast("long").as("v_cents"))
      .withColumn("_pri", -DedupOps.hash60(
        concat(lit(salt + ":"), col("_id").cast("string"))))
      .transform(Lineage.cut) // feeds the sketch agg AND the clamp pass
    def cutAt(q: Int) = element_at(col("_sv"),
      greatest(lit(1), ceil(lit(q) * size(col("_sv")) / 100.0)).cast("int"))
      .getField("v")
    val cuts = base.groupBy(col("event_type"))
      .agg(expr(s"topk_pairs_tag(_pri, _id, v_cents, $k)").as("_top"))
      .select(col("event_type"), array_sort(transform(col("_top"),
        p => struct(p.getField("tag").as("v"), p.getField("id").as("id"))))
        .as("_sv"))
      .select(col("event_type"), cutAt(loQ).as("lo_cents"), cutAt(hiQ).as("hi_cents"))
    base.join(broadcast(cuts), Seq("event_type"))
      .withColumn("_w", least(greatest(col("v_cents"), col("lo_cents")), col("hi_cents")))
      .groupBy(col("event_type"), col("lo_cents"), col("hi_cents"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("v_cents")).as("raw_cents"),
        sum(col("_w")).as("wins_cents"),
        sum(when(col("_w") =!= col("v_cents"), 1L).otherwise(0L)).as("n_clamped"))
  }

  /** Daily error rates with a rolling window: per day, total events,
    * `errType` events, the rate in basis points, and the same over a
    * RANGE-framed trailing `days` window (value range over `day_idx` —
    * gap days must not stretch the frame, the [[rollingRevenue]] rule).
    * The corpus collapses in the first aggregation to calendar-bounded
    * rows; everything after is window math on that rollup. */
  def errorRates(events: DataFrame, tsCol: String, typeCol: String,
                 errType: String = "error", days: Int = 7): DataFrame = {
    val daily = events
      .groupBy(expr(s"CAST($tsCol AS LONG) div 86400").as("day_idx"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col(typeCol) === errType, 1L).otherwise(0L)).as("n_err"))
    val w = Window.orderBy(col("day_idx"))
      .rangeBetween(-(days - 1).toLong, 0L)
    daily
      .withColumn("rate_bp", expr("n_err * 10000 div n_total"))
      .withColumn("roll_total", sum(col("n_total")).over(w))
      .withColumn("roll_err", sum(col("n_err")).over(w))
      .withColumn("roll_rate_bp", expr("roll_err * 10000 div roll_total"))
  }

  /** Inter-event gap histogram: per-user consecutive-event gaps in
    * seconds (one user-keyed lag window — the [[sessionize]] shuffle),
    * bucketed by BIT LENGTH (`length(bin(gap))`, zero gaps in bucket 0) —
    * an integer-exact log2 histogram with no float `log` at any scale.
    * Output is one row per occupied bucket with min/max gap and the
    * bucket's share of all gaps in basis points (1-row total broadcast,
    * never a global window). First events per user contribute no gap. */
  def gapHistogram(events: DataFrame, tsCol: String, userCol: String,
                   idCol: String): DataFrame = {
    // order on the second-truncated epoch (the gap unit) + id, so the
    // consecutive-pair choice is identical in any second-precision replay
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("_ep"), col(idCol))
    val gaps = events
      .select(col(userCol), col(idCol),
        expr(s"CAST($tsCol AS LONG)").as("_ep"))
      .withColumn("_gap", col("_ep") - lag(col("_ep"), 1).over(w))
      .filter(col("_gap").isNotNull)
    // The total rides a single-partition window over the ≤64-row rollup
    // (bounded by construction — bit lengths of int64 gaps), so the
    // rollup has ONE consumer: no checkpoint, no broadcast-build job
    // round (r21 — the bounded-rollup scalar-aggregate fusion).
    gaps
      // grouped as `_b` (the bounded-bucket key convention the plan lint
      // admits an unpartitioned window over), renamed at the edge
      .groupBy(when(col("_gap") === 0L, 0L)
        .otherwise(length(bin(col("_gap"))).cast("long")).as("_b"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("_gap")).as("min_gap"), max(col("_gap")).as("max_gap"))
      .withColumn("_tot", sum(col("n_gaps")).over(Window.partitionBy()))
      .select(col("_b").as("bucket"), col("n_gaps"), col("min_gap"),
        col("max_gap"), expr("n_gaps * 10000 div _tot").as("share_bp"))
  }

  /** Weekly engagement stickiness — average DAU over WAU in integer basis
    * points (`sum_dau · 10000 div (7 · wau)`), the DAU/MAU-style ratio
    * product analytics reads as "how many of the week's users come back
    * daily".
    *
    * Scale shape: the corpus collapses in the FIRST distinct — one row
    * per (user, active day), whose cardinality is the engagement matrix
    * (users × calendar days), orders of magnitude below the event count
    * and reached with map-side partial aggregation (the keys repeat
    * heavily, unlike the round-6 rule-b unique-key trap). On that
    * matrix, `sum_dau` is a plain `count(*)` per week (each matrix row
    * IS one user-day), so the former two-rollup + join shape (with its
    * round-4-rule-d checkpoint) collapses into ONE aggregation with two
    * count-distincts — no checkpoint, no join, one job (r21; the Expand
    * the multi-distinct plans is ×3 of matrix-scale rows, bounded). */
  def stickiness(events: DataFrame, tsCol: String, userCol: String): DataFrame =
    events
      .select(col(userCol).as("user_id"),
        expr(s"CAST($tsCol AS LONG) div 86400").as("day_idx"))
      .distinct()
      .withColumn("week_idx", expr("day_idx div 7"))
      .groupBy(col("week_idx"))
      .agg(count(lit(1)).as("sum_dau"),
        countDistinct(col("day_idx")).as("active_days"),
        countDistinct(col("user_id")).as("wau"))
      .withColumn("stickiness_bp", expr("sum_dau * 10000 div (7 * wau)"))

  /** Weekday seasonality index per event type in integer basis points:
    * `n · 7 · 10000 div type_total` — 10000 means "this weekday carries
    * exactly its uniform share of the type's events". `weekday_idx` is
    * `(epoch_day) % 7` (0 = Thursday, the epoch's weekday) — a pure
    * integer bucket both engines compute identically, deliberately not a
    * locale-touched date_part. The corpus collapses in the first
    * aggregation to ≤ |types| × 7 rows; the share window runs on that
    * bounded rollup. */
  def weekdaySeasonality(events: DataFrame, tsCol: String,
                         typeCol: String): DataFrame = {
    val counts = events
      .groupBy(col(typeCol).as("event_type"),
        expr(s"(CAST($tsCol AS LONG) div 86400) % 7").as("weekday_idx"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type"))
    counts
      .withColumn("type_total", sum(col("n")).over(w))
      .withColumn("season_bp", expr("n * 7 * 10000 div type_total"))
  }

  def sessionEntryExit(events: DataFrame, tsCol: String, userCol: String,
                       typeCol: String, tieBreakCol: String,
                       convType: String, gapSecs: Long = 1800L): DataFrame =
    withSessionIdx(events, tsCol, userCol, typeCol, tieBreakCol, gapSecs)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min_by(col("event_type"), sessionOrdKey).as("entry_type"),
        max_by(col("event_type"), sessionOrdKey).as("exit_type"),
        max(when(col("event_type") === convType, 1L).otherwise(0L)).as("converted"))
      .groupBy(col("entry_type"), col("exit_type"), col("converted"))
      .agg(count(lit(1)).as("sessions"))
}
