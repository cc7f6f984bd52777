package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Pins [[Funnel]] against hand-computed fixtures, with the edge cases the
  * oracle's chained-min formulation and the engine's greedy fold must agree
  * on: same-timestamp steps (strict ordering), the conversion window
  * measured from funnel start, out-of-order arrival (ts sort, not input
  * order), and users who skip a step. */
class FunnelSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  // (event_id, ts, user, type)
  private val events = Seq(
    // u1 completes the 3-step funnel in order
    (1L, ts(100L), 1L, "signup"),
    (2L, ts(200L), 1L, "view"),
    (3L, ts(300L), 1L, "purchase"),
    // u2: view arrives BEFORE signup -> must not count; later view does
    (4L, ts(50L), 2L, "view"),
    (5L, ts(100L), 2L, "signup"),
    (6L, ts(150L), 2L, "view"),
    // u3: view at the SAME second as signup -> strict > rejects it
    (7L, ts(100L), 3L, "signup"),
    (8L, ts(100L), 3L, "view"),
    // u4: view lands past the window from funnel start
    (9L, ts(100L), 4L, "signup"),
    (10L, ts(100L + 1000L), 4L, "view"),
    // u5: skips view; purchase alone must not advance the funnel
    (11L, ts(100L), 5L, "signup"),
    (12L, ts(200L), 5L, "purchase"),
    // u6: never signs up
    (13L, ts(100L), 6L, "view"), (14L, ts(200L), 6L, "purchase")
  ).toDF("event_id", "ts", "user_id", "event_type")

  test("funnelLatency: hand-checked decades; fold and chained paths agree") {
    val steps = Seq("signup", "view", "purchase")
    def run(foldCap: Long) = Funnel.funnelLatency(events, "ts", "user_id",
      "event_type", steps, windowSeconds = 500L, foldCap = foldCap)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val fold = run(Long.MaxValue)
    val chained = run(0L) // forces the chained conditional-min path
    // u1: view 100 s after signup (decade 2), purchase 200 s (decade 2);
    // u2: view 50 s (decade 1); u3 same-second view rejected; u4 past the
    // window; u5 skipped view; u6 never signed up
    val expected = Set(
      (2, 1L, 1L, 50L, 50L),
      (2, 2L, 1L, 100L, 100L),
      (3, 2L, 1L, 200L, 200L))
    assert(fold == expected)
    assert(chained == expected)
  }

  test("typePageRank: mass conserved up to truncation, sinks absorb, deterministic") {
    // every user's journey funnels into 'end' (a pure sink: no outgoing
    // transitions anywhere), 'mid' only forwards
    val g = Seq(
      (1L, ts(1), 10L, "start"), (2L, ts(2), 10L, "mid"), (3L, ts(3), 10L, "end"),
      (4L, ts(1), 11L, "start"), (5L, ts(2), 11L, "mid"), (6L, ts(3), 11L, "end"),
      (7L, ts(1), 12L, "start"), (8L, ts(2), 12L, "end"),
      (9L, ts(1), 13L, "mid"), (10L, ts(2), 13L, "end")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val pr = Funnel.typePageRank(g, "ts", "user_id", "event_type", "event_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pr.keySet == Set("start", "mid", "end"))
    // truncating division loses at most a few ppm per node per round
    val total = pr.values.sum
    assert(total > 900000L && total <= 1000000L, s"mass $total")
    // the sink every path ends in must dominate; 'start' (no in-edges
    // except teleport) must rank last
    assert(pr("end") > pr("mid") && pr("mid") > pr("start"))
    val again = Funnel.typePageRank(g, "ts", "user_id", "event_type", "event_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == pr)
  }

  test("typePageRank rides the cap-probed dispatch: forced-distributed is " +
    "bit-identical, and an ISOLATED type (a sole-event user) keeps base mass " +
    "on both paths") {
    // user 14 has ONE event of a type no transition touches: 'lonely' is in
    // the node set (distinct event types) but not in any edge endpoint —
    // the case that forbids delegating to endpoint-union nodes.
    val g = Seq(
      (1L, ts(1), 10L, "start"), (2L, ts(2), 10L, "mid"), (3L, ts(3), 10L, "end"),
      (4L, ts(1), 11L, "start"), (5L, ts(2), 11L, "end"),
      (6L, ts(1), 14L, "lonely")
    ).toDF("event_id", "ts", "user_id", "event_type")
    def run(cap: Int) =
      Funnel.typePageRank(g, "ts", "user_id", "event_type", "event_id",
          edgeCap = cap)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val driver = run(100000)  // well over: driver fast path
    val dist = run(0)         // 0 disables the driver path: distributed
    assert(driver.keySet == Set("start", "mid", "end", "lonely"),
      "isolated type must appear in the ranking")
    assert(driver == dist, s"paths diverged: driver=$driver dist=$dist")
    // lonely is teleport-only (plus its share of dangling mass): it must
    // hold mass but rank at/below 'start'
    assert(driver("lonely") > 0L && driver("lonely") <= driver("start"))
  }

  test("funnelSteps: greedy fold matches the hand-computed chained-min funnel") {
    val got = Funnel.funnelSteps(events, "ts", "user_id", "event_type",
        Seq("signup", "view", "purchase"), windowSeconds = 500L)
      .as[(Int, String, Long)].collect().sortBy(_._1)
    // signup: u1..u5; view: u1 (200>100), u2 (150>100); u3 ties out,
    // u4 out of window, u5 skipped; purchase: u1 only (u2 never purchases)
    assert(got === Seq((1, "signup", 5L), (2, "view", 2L), (3, "purchase", 1L)))
  }

  test("funnelSteps: a purchase BEFORE the view never counts (ordering, not membership)") {
    val e = Seq(
      (1L, ts(100L), 9L, "signup"),
      (2L, ts(150L), 9L, "purchase"), // too early: view not reached yet
      (3L, ts(200L), 9L, "view")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = Funnel.funnelSteps(e, "ts", "user_id", "event_type",
        Seq("signup", "view", "purchase"), 500L)
      .as[(Int, String, Long)].collect().sortBy(_._1)
    assert(got === Seq((1, "signup", 1L), (2, "view", 1L), (3, "purchase", 0L)))
  }

  test("retentionCohorts: cohort week from first event, offsets per active week") {
    val wk = 604800L
    val e = Seq(
      (1L, ts(0L), 1L, "x"), (2L, ts(wk * 2L), 1L, "x"),   // cohort 0, offsets 0 and 2
      (3L, ts(wk), 2L, "x"), (4L, ts(wk + 60L), 2L, "x")   // cohort 1, offset 0 twice
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = Funnel.retentionCohorts(e, "ts", "user_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((0L, 0L, 1L), (0L, 2L, 1L), (1L, 0L, 1L)))
  }

  test("transitionCounts: per-user time order with event_id tie-break, terminal dropped") {
    val e = Seq(
      (1L, ts(100L), 1L, "a"), (2L, ts(200L), 1L, "b"), (3L, ts(200L), 1L, "c"),
      (4L, ts(100L), 2L, "a"), (5L, ts(300L), 2L, "b")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = Funnel.transitionCounts(e, "ts", "user_id", "event_type", "event_id")
      .as[(String, String, Long)].collect().toSet
    // u1: a->b (ts), b->c (event_id tie-break at ts=200); u2: a->b
    assert(got === Set(("a", "b", 2L), ("b", "c", 1L)))
  }

  test("dailyAnomalies: 3-MAD flag in exact integer math, even-count medians included") {
    // type a: 5 quiet days + one 10x day (median 100c, MAD 0 -> day flagged)
    // type b: 4 days, even-count median (250c -> med2 = 500, exactly integral)
    val e = (Seq.tabulate(5)(i => (i.toLong, ts(i * 86400L), 1L, "a", 1.00)) :+
      (5L, ts(5L * 86400L), 1L, "a", 10.00)) ++ Seq(
      (6L, ts(0L), 2L, "b", 1.00), (7L, ts(86400L), 2L, "b", 2.00),
      (8L, ts(2L * 86400L), 2L, "b", 3.00), (9L, ts(3L * 86400L), 2L, "b", 4.00))
    val df = e.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Funnel.dailyAnomalies(df, "ts", "event_type", "value")
      .as[(String, Long, Long, Boolean)].collect()
    val aFlags = got.filter(_._1 == "a").sortBy(_._2).map(_._4).toSeq
    assert(aFlags === Seq(false, false, false, false, false, true))
    // b: med2 = 500 exactly; dev2 = {300,100,100,300}, mad4 = 600;
    // flag iff dev2*2 > 1800 -> never
    assert(got.filter(_._1 == "b").forall(!_._4))
  }

  test("abFunnel: variants partition the plain funnel; assignment is deterministic") {
    val steps = Seq("signup", "view", "purchase")
    val ab = Funnel.abFunnel(events, "ts", "user_id", "event_type", steps, 500L)
      .as[(String, Int, String, Long)].collect()
    val plain = Funnel.funnelSteps(events, "ts", "user_id", "event_type", steps, 500L)
      .as[(Int, String, Long)].collect().map(r => r._1 -> r._3).toMap
    // the two variants partition the user population per step
    steps.indices.foreach { i =>
      val sum = ab.filter(_._2 == i + 1).map(_._4).sum
      assert(sum === plain(i + 1), s"step ${i + 1}: variant sum $sum != ${plain(i + 1)}")
    }
    // stable assignment: a second run lands every (variant, step) identically
    val again = Funnel.abFunnel(events, "ts", "user_id", "event_type", steps, 500L)
      .as[(String, Int, String, Long)].collect()
    assert(ab.toSet === again.toSet)
  }

  test("funnelSteps/abFunnel: full step universe even with zero relevant events") {
    val steps = Seq("signup", "view", "purchase")
    val noise = Seq((1L, ts(100L), 1L, "error"), (2L, ts(200L), 2L, "scroll"))
      .toDF("event_id", "ts", "user_id", "event_type")
    // the report's shape is the funnel definition, never the data: a
    // corpus with zero funnel-relevant events still yields one zero row
    // per step (and per variant × step) — exactly what the oracle's
    // chained CTEs emit, so the engines agree on the degenerate corpus
    val plain = Funnel.funnelSteps(noise, "ts", "user_id", "event_type", steps, 500L)
      .as[(Int, String, Long)].collect().sortBy(_._1)
    assert(plain === steps.indices.map(i => (i + 1, steps(i), 0L)))
    val ab = Funnel.abFunnel(noise, "ts", "user_id", "event_type", steps, 500L)
      .as[(String, Int, String, Long)].collect().toSet
    assert(ab === (for {
      v <- Set("treatment", "control"); i <- steps.indices
    } yield (v, i + 1, steps(i), 0L)))
    // one variant converting while the other has zero relevant users
    // still reports BOTH variants at every step (the ADVICE divergence)
    val one = Seq((1L, ts(100L), 1L, "signup")).toDF("event_id", "ts", "user_id", "event_type")
    val abOne = Funnel.abFunnel(one, "ts", "user_id", "event_type", steps, 500L)
      .as[(String, Int, String, Long)].collect()
    assert(abOne.length === 6 && abOne.map(_._4).sum === 1L)
  }

  test("funnelSteps/abFunnel: both dispatch paths are output-identical; the probe picks the fold on small data") {
    val steps = Seq("signup", "view", "purchase")
    val fold = Funnel.funnelSteps(events, "ts", "user_id", "event_type",
        steps, 500L, foldCap = Long.MaxValue)
      .as[(Int, String, Long)].collect().toSet
    val chained = Funnel.funnelSteps(events, "ts", "user_id", "event_type",
        steps, 500L, foldCap = 0L)
      .as[(Int, String, Long)].collect().toSet
    assert(fold === chained)
    val abFold = Funnel.abFunnel(events, "ts", "user_id", "event_type",
        steps, 500L, foldCap = Long.MaxValue)
      .as[(String, Int, String, Long)].collect().toSet
    val abChained = Funnel.abFunnel(events, "ts", "user_id", "event_type",
        steps, 500L, foldCap = 0L)
      .as[(String, Int, String, Long)].collect().toSet
    assert(abFold === abChained)
    // strategy pin: the chained path's checkpoints surface as LogicalRDD
    // leaves; the fold path (which the default cap must pick on a tiny
    // corpus) has none — so the dispatcher's choice is observable
    import org.apache.spark.sql.execution.LogicalRDD
    def checkpoints(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case l: LogicalRDD => l }.size
    assert(checkpoints(Funnel.funnelSteps(events, "ts", "user_id",
      "event_type", steps, 500L)) === 0, "default cap must pick the fold here")
    assert(checkpoints(Funnel.funnelSteps(events, "ts", "user_id",
      "event_type", steps, 500L, foldCap = 0L)) > 0)
  }

  test("fitsFold memoizes the probe per (plan, cap): second call runs no job (r20)") {
    // AtomicInteger + job-group filter (r20 advice): the count is mutated
    // on the async listener-bus thread, and unrelated jobs on the shared
    // context (parallel suites, UI work) must not flip the "no new job"
    // assertion — only jobs in THIS test's group are counted.
    val group = s"fitsfold-memo-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null &&
            group == j.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
    }
    val rel = events.filter($"event_type".isin("signup", "view"))
    val cap = 12345L // non-default, not a sentinel: forces the probe branch
    // the listener bus is async; settle() waits until the count stops
    // moving (bounded), so "no new job" assertions are race-free
    def settle(): Int = {
      var last = -1; var cur = jobs.get(); var spins = 0
      while (cur != last && spins < 40) {
        last = cur; Thread.sleep(50); cur = jobs.get(); spins += 1
      }
      cur
    }
    spark.sparkContext.setJobGroup(group, "fitsFold memo probe jobs")
    spark.sparkContext.addSparkListener(listener)
    try {
      val first = Funnel.fitsFold(rel, cap)
      val afterFirst = settle()
      assert(afterFirst >= 1, "first probe must run the LIMIT count job")
      // a structurally identical slice (fresh plan object, same canonical
      // form) must hit the memo — zero further jobs
      val rel2 = events.filter($"event_type".isin("signup", "view"))
      val second = Funnel.fitsFold(rel2, cap)
      assert(second === first)
      assert(settle() === afterFirst, "memoized probe must not run another job")
      // a different cap is a different decision: probes again
      Funnel.fitsFold(rel, cap + 1)
      val afterCap = settle()
      assert(afterCap > afterFirst)
      // a CHANGED source plan is a memo MISS (the ModelMemoSpec
      // data-change contract, r20 verdict task 8): a slice over different
      // data must re-probe, not reuse the old verdict
      val relChanged = events.filter($"event_type".isin("signup", "view"))
        .unionByName(events.limit(1))
      // precondition: the slice is under the probe's stats pre-filter, so
      // the miss reaches the LIMIT count instead of short-circuiting
      assert(relChanged.queryExecution.optimizedPlan.stats.sizeInBytes <= Funnel.foldBytesCap,
        "the changed slice's size estimate exceeds the fold probe's 512 MB pre-filter")
      Funnel.fitsFold(relChanged, cap)
      assert(settle() > afterCap,
        "a changed source plan must re-probe (data-change MISS)")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.sparkContext.clearJobGroup()
    }
  }

  test("funnelSteps: chained path honors the per-user event cap identically") {
    val storm = (1 to 50).map(i => (100L + i, ts(1000L + i), 7L, "view"))
    val e = (Seq(
      (1L, ts(100L), 7L, "signup"), (2L, ts(200L), 7L, "view"),
      (3L, ts(300L), 7L, "purchase")) ++ storm)
      .toDF("event_id", "ts", "user_id", "event_type")
    val steps = Seq("signup", "view", "purchase")
    val foldCapped = Funnel.funnelSteps(e, "ts", "user_id", "event_type",
        steps, 2000L, maxEventsPerUser = Some(10), foldCap = Long.MaxValue)
      .as[(Int, String, Long)].collect().toSet
    val chainCapped = Funnel.funnelSteps(e, "ts", "user_id", "event_type",
        steps, 2000L, maxEventsPerUser = Some(10), foldCap = 0L)
      .as[(Int, String, Long)].collect().toSet
    assert(foldCapped === chainCapped)
  }

  test("funnelSteps: per-user event cap keeps early funnels intact, truncates storms") {
    val storm = (1 to 50).map(i => (100L + i, ts(1000L + i), 7L, "view"))
    val e = (Seq(
      (1L, ts(100L), 7L, "signup"), (2L, ts(200L), 7L, "view"),
      (3L, ts(300L), 7L, "purchase")) ++ storm)
      .toDF("event_id", "ts", "user_id", "event_type")
    val capped = Funnel.funnelSteps(e, "ts", "user_id", "event_type",
        Seq("signup", "view", "purchase"), 2000L, maxEventsPerUser = Some(10))
      .as[(Int, String, Long)].collect().sortBy(_._1).map(_._3).toSeq
    val uncapped = Funnel.funnelSteps(e, "ts", "user_id", "event_type",
        Seq("signup", "view", "purchase"), 2000L)
      .as[(Int, String, Long)].collect().sortBy(_._1).map(_._3).toSeq
    // the true funnel completes within the first 3 events; the cap only
    // drops late storm events, so both paths agree
    assert(capped === uncapped && capped === Seq(1L, 1L, 1L))
  }

  test("rollingRevenue: RANGE frame over day gaps (a gap must age out by value, not rows)") {
    val e = Seq(
      (1L, ts(0L), 1L, "a", 1.00),            // day 0
      (2L, ts(86400L), 1L, "a", 2.00),        // day 1
      (3L, ts(10L * 86400L), 1L, "a", 4.00)   // day 10: days 0-1 out of range
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Funnel.rollingRevenue(e, "ts", "event_type", "value", days = 7)
      .as[(String, Long, Long, Long)].collect().sortBy(_._2)
    assert(got.map(r => (r._2, r._3, r._4)).toSeq ===
      Seq((0L, 100L, 100L), (1L, 200L, 300L), (10L, 400L, 400L)))
  }

  test("errorRates: RANGE frame ages out gap days; bp math truncates") {
    val e = Seq(
      (1L, ts(0L), 1L, "error", 0.0), (2L, ts(1L), 1L, "click", 0.0),
      (3L, ts(2L), 1L, "click", 0.0),                    // day 0: 1/3 err
      (4L, ts(86400L), 1L, "click", 0.0),                // day 1: 0/1
      (5L, ts(10L * 86400L), 1L, "error", 0.0),          // day 10: 1/1,
      (6L, ts(10L * 86400L + 1L), 1L, "click", 0.0)      //   days 0-1 aged out
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Funnel.errorRates(e, "ts", "event_type")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(
      (0L, 3L, 1L, 3333L, 3L, 1L, 3333L),
      (1L, 1L, 0L, 0L, 4L, 1L, 2500L),
      (10L, 2L, 1L, 5000L, 2L, 1L, 5000L)))
  }

  test("gapHistogram: bit-length buckets, zero-gap bucket 0, first event no gap") {
    val e = Seq(
      (1L, ts(100L), 1L, "view", 0.0),   // user 1 first event: no gap
      (2L, ts(100L), 1L, "view", 0.0),   // gap 0     -> bucket 0
      (3L, ts(101L), 1L, "view", 0.0),   // gap 1     -> bucket 1
      (4L, ts(103L), 1L, "view", 0.0),   // gap 2     -> bucket 2
      (5L, ts(1127L), 1L, "view", 0.0),  // gap 1024  -> bucket 11
      (6L, ts(500L), 2L, "view", 0.0)    // user 2 first event: no gap
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Funnel.gapHistogram(e, "ts", "user_id", "event_id")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(
      (0L, 1L, 0L, 0L, 2500L),
      (1L, 1L, 1L, 1L, 2500L),
      (2L, 1L, 2L, 2L, 2500L),
      (11L, 1L, 1024L, 1024L, 2500L)))
  }

  test("gapHistogram: randomized events match a driver-side reference; " +
    "gap count conserves events minus users") {
    val rnd = new scala.util.Random(7)
    val rows = (1L to 400L).map(id =>
      (id, ts(rnd.nextInt(100000).toLong), rnd.nextInt(25).toLong + 1L,
        "view", 0.0))
    val got = Funnel.gapHistogram(
        rows.toDF("event_id", "ts", "user_id", "event_type", "value"),
        "ts", "user_id", "event_id")
      .as[(Long, Long, Long, Long, Long)].collect()
    val gaps = rows.map(r => (r._3, r._2.getTime / 1000, r._1))
      .groupBy(_._1).values.flatMap { es =>
        val sorted = es.map(e => (e._2, e._3)).sorted
        sorted.sliding(2).collect { case Seq(a, b) => b._1 - a._1 }
      }.toSeq
    val users = rows.map(_._3).distinct.size
    assert(got.map(_._2).sum == rows.size - users, "one gap per non-first event")
    val refBuckets = gaps.groupBy(g =>
      if (g == 0) 0L else java.lang.Long.toBinaryString(g).length.toLong)
    val refRows = refBuckets.map { case (b, gs) =>
      (b, gs.size.toLong, gs.min, gs.max, gs.size.toLong * 10000L / gaps.size) }.toSet
    assert(got.toSet == refRows)
  }

  test("weekOverWeek: integer basis points, negative growth, first week absent") {
    val wk = 604800L
    val e = Seq(
      (1L, ts(0L), 1L, "a", 1.00),       // week 0: 100c
      (2L, ts(wk), 1L, "a", 3.00),       // week 1: 300c -> +20000 bp
      (3L, ts(2L * wk), 1L, "a", 1.50)   // week 2: 150c -> -5000 bp
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Funnel.weekOverWeek(e, "ts", "event_type", "value")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._2)
    assert(got.map(r => (r._2, r._5)).toSeq === Seq((1L, 20000L), (2L, -5000L)))
  }

  test("weeklyTypePivot: explicit columns, zero-filled missing combos") {
    val e = Seq(
      (1L, ts(0L), 1L, "click", 0.0), (2L, ts(0L), 1L, "click", 0.0),
      (3L, ts(604800L), 1L, "view", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Funnel.weeklyTypePivot(e, "ts", "event_type",
        Seq("click", "view", "purchase"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((0L, 2L, 0L, 0L), (1L, 0L, 1L, 0L)))
  }

  test("editVerify: zero distance on exact dups, small distance on one-word edits") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy cat")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val got = DedupOps.editVerify(pairs, docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    val dup = got((1L, 2L))
    assert(dup._3 === 0L && dup._6 === 1000L)
    val edit = got((1L, 3L))
    assert(edit._3 === 3L) // dog -> cat: 3 substitutions
    assert(edit._6 === 1000L - 3L * 1000L / edit._4)
  }

  test("minhashEstimate: keys equal the candidate-pair set; estimate is a valid milli value") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat"),
      (4L, "completely different text about spark shuffles here")
    ).toDF("doc_id", "text")
    val est = DedupOps.minhashEstimate(docs, "doc_id", "text", 8)
      .as[(Long, Long, Long, Long, Long)].collect()
    val pairs = DedupOps.candidatePairs(
      DedupOps.lshBuckets(DedupOps.minhashSignature(docs, "doc_id", "text", 8), "doc_id"),
      "doc_id").as[(Long, Long)].collect().toSet
    assert(est.map(r => (r._1, r._2)).toSet === pairs)
    est.foreach { case (a, b, e, t, err) =>
      assert(e >= 0L && e <= 1000L && t >= 0L && t <= 1000L, s"($a,$b)")
      assert(err === math.abs(e - t), s"($a,$b)")
    }
    // the exact-dup pair estimates AND verifies at identity
    val dup = est.find(r => r._1 == 1L && r._2 == 2L).get
    assert(dup._3 === 1000L && dup._4 === 1000L && dup._5 === 0L)
  }

  test("sessionize: gap rule splits on > gap, exact-gap stays; rollup is hand-exact") {
    // u1: events at 0, 1000, 2800 (gaps 1000, 1800 — both ≤ 1800, ONE
    // session), then 4601 (gap 1801 > 1800, new session).
    // u2: one lone event.
    val ev = Seq(
      (1L, ts(0L), 1L, "view", 1.23),
      (2L, ts(1000L), 1L, "click", 2.00),
      (3L, ts(2800L), 1L, "view", 0.50),
      (4L, ts(4601L), 1L, "purchase", 10.99),
      (5L, ts(500L), 2L, "view", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Funnel.sessionize(ev, "ts", "user_id", "event_type", "value", "event_id")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got === Set(
      // user, sess, n_events, start, end, duration, n_types, rev_cents
      (1L, 1L, 3L, 0L, 2800L, 2800L, 2L, 123L + 200L + 50L),
      (1L, 2L, 1L, 4601L, 4601L, 0L, 1L, 1099L),
      (2L, 1L, 1L, 500L, 500L, 0L, 1L, 0L)))
  }

  test("sessionize: same-second events use the tie-break and never split") {
    val ev = Seq(
      (2L, ts(100L), 1L, "b", 0.0),
      (1L, ts(100L), 1L, "a", 0.0),
      (3L, ts(100L), 1L, "c", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Funnel.sessionize(ev, "ts", "user_id", "event_type", "value", "event_id")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 1L, 3L, 100L, 100L, 0L, 3L, 0L)))
  }

  test("attribution: session entry × preceding touch; session-opening conversions are (direct)") {
    val ev = Seq(
      // u1 session: view -> click -> purchase  => (view, click)
      (1L, ts(0L), 1L, "view"),
      (2L, ts(100L), 1L, "click"),
      (3L, ts(200L), 1L, "purchase"),
      // u1 next session OPENS with purchase (gap > 1800) => (purchase, (direct))
      (4L, ts(5000L), 1L, "purchase"),
      // u2: view then purchase straddling a session split: the purchase
      // opens session 2, so its in-partition prev (view) must NOT count
      (5L, ts(0L), 2L, "view"),
      (6L, ts(1801L), 2L, "purchase"),
      // u3: no purchase at all -> contributes nothing
      (7L, ts(0L), 3L, "view"),
      // u4: TWO purchases in ONE session — each is its own conversion
      // credit (r20: pins the per-conversion count in the fused
      // collect_list shape): (view, click) and (view, purchase)
      (8L, ts(0L), 4L, "view"),
      (9L, ts(50L), 4L, "click"),
      (10L, ts(100L), 4L, "purchase"),
      (11L, ts(150L), 4L, "purchase")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = Funnel.attribution(ev, "ts", "user_id", "event_type",
      "event_id", convType = "purchase")
      .as[(String, String, Long)].collect().toSet
    // u1 #2 and u2's purchase both OPEN their sessions -> (purchase, direct) ×2;
    // (view, click) = u1's conversion + u4's first = 2
    assert(got === Set(
      ("view", "click", 2L),
      ("view", "purchase", 1L),
      ("purchase", "(direct)", 2L)))
  }

  test("userRfm: hand-exact segments; sub-k population degrades to exact medians; non-conversions ignored") {
    val day = 86400L
    val ev = Seq(
      // u1: 1 old purchase of $10       -> recency 10, freq 1, 1000c
      (1L, ts(0L), 1L, "purchase", 10.0),
      // u2: 3 purchases, newest overall -> recency 0, freq 3, 3000c
      (2L, ts(8 * day), 2L, "purchase", 10.0),
      (3L, ts(9 * day), 2L, "purchase", 10.0),
      (4L, ts(10 * day), 2L, "purchase", 10.0),
      // u3: 2 purchases, last day 5     -> recency 5, freq 2, 200c
      (5L, ts(4 * day), 3L, "purchase", 1.0),
      (6L, ts(5 * day), 3L, "purchase", 1.0),
      // u4: 1 purchase day 9            -> recency 1, freq 1, 5000c
      (7L, ts(9 * day), 4L, "purchase", 50.0),
      // noise: non-conversions (incl. a newer one) must not shift anything
      (8L, ts(10 * day + 500L), 1L, "view", 999.0),
      (9L, ts(3 * day), 5L, "click", 999.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    // exact medians (population of 4 < k): rank-2 of (v, id) order ->
    // med_r = 1, med_f = 1, med_m = 1000; strict compares band the users
    val got = Funnel.userRfm(ev, "ts", "user_id", "event_type", "value",
        convType = "purchase")
      .as[(Boolean, Boolean, Boolean, Long, Long, Long)].collect().toSet
    assert(got === Set(
      (false, false, false, 1L, 1L, 1000L), // u1
      (true, true, true, 1L, 3L, 3000L),    // u2
      (false, true, false, 1L, 2L, 200L),   // u3
      (false, false, true, 1L, 1L, 5000L))) // u4
  }

  test("userRfm fused medians: bit-identical to three separate " +
    "quantileSample passes over the per-user table (r15 one-pass fusion)") {
    // a larger deterministic population (> k would need 256+ users; this
    // pins the arithmetic/salt equivalence, the sub-k degradation, and
    // tie handling across all three axes at once)
    val day = 86400L
    val ev = (1 to 60).flatMap { u =>
      (0 until (u % 4) + 1).map { i =>
        ((u * 10 + i).toLong, ts((u % 11).toLong * day + i * 3600L),
          u.toLong, "purchase", (u % 7 + 1) * 2.5)
      }
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val fused = Funnel.userRfm(ev, "ts", "user_id", "event_type", "value",
        convType = "purchase")
      .as[(Boolean, Boolean, Boolean, Long, Long, Long)].collect().toSet
    // reference: the pre-fusion shape — per-user rollup + three separate
    // quantileSample calls with the same salts
    val per0 = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(unix_timestamp(col("ts"))).as("last_s"),
        count(lit(1)).as("freq"),
        sum(floor(col("value") * 100).cast("long")).as("monetary_cents"))
    val mxv = per0.agg(max(col("last_s"))).as[Long].head()
    val per = per0.withColumn("recency_days",
      expr(s"($mxv - last_s) div 86400"))
    def p50(vCol: String, salt: String): Long =
      graft.ops.Sketches.quantileSample(per, col(vCol), col("user_id"),
        Seq(50), 256, salt).select(col("value")).as[Long].head()
    val (mr, mf, mm) =
      (p50("recency_days", "rfm_r"), p50("freq", "rfm_f"),
        p50("monetary_cents", "rfm_m"))
    val expected = per.groupBy(
        (col("recency_days") < mr).as("recent"),
        (col("freq") > mf).as("frequent"),
        (col("monetary_cents") > mm).as("high_value"))
      .agg(count(lit(1)).as("n_users"), sum(col("freq")).as("sum_freq"),
        sum(col("monetary_cents")).as("sum_cents"))
      .as[(Boolean, Boolean, Boolean, Long, Long, Long)].collect().toSet
    assert(fused === expected,
      "the fused single-pass medians diverged from the three-pass form")
  }

  test("sessionEntryExit: first/last by (ts, event_id); conversion flag per session") {
    val ev = Seq(
      // u1 session 1: view -> click -> purchase (entry view, exit purchase, converted)
      (1L, ts(0L), 1L, "view"),
      (2L, ts(100L), 1L, "click"),
      (3L, ts(200L), 1L, "purchase"),
      // u1 session 2 (gap > 1800): lone view
      (4L, ts(5000L), 1L, "view"),
      // u2: same-second entry decided by event_id (5 before 6)
      (6L, ts(0L), 2L, "click"),
      (5L, ts(0L), 2L, "view")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = Funnel.sessionEntryExit(ev, "ts", "user_id", "event_type",
      "event_id", convType = "purchase")
      .as[(String, String, Long, Long)].collect().toSet
    assert(got === Set(
      ("view", "purchase", 1L, 1L),
      ("view", "view", 0L, 1L),
      ("view", "click", 0L, 1L)))
  }
}
