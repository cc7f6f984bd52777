package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Incremental-diff core semantics — the invariants of
  * 02-stored-procedure.postgres.table.sql (see SURVEY §2.2/§2.4). */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  // Outbox with deliberate out-of-order commit: row id=3 is still in flight
  // (xact 100) while id=5 committed (xact 40).
  private def outbox = Seq(
    (1L, 10L, "I"), (2L, 20L, "I"), (3L, 100L, "U"),
    (4L, 30L, "U"), (5L, 40L, "D")
  ).toDF("id", "xact_id", "operation")

  test("P1: version predicate is strictly greater-than") {
    val got = Incremental.sinceVersion(outbox, 2L).select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(3L, 4L, 5L))
  }

  test("P2: horizon gate defers in-flight transactions") {
    val got = Incremental.incrementalRead(outbox, 0L, 50L).select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L, 4L, 5L)) // id=3 deferred, NOT skipped
  }

  test("A2: watermark computed through the same gate never passes deferred rows") {
    val wm = Incremental.gatedWatermark(outbox, 0L, 50L).as[Long].head()
    assert(wm == 5L)
    // Next cycle with the horizon advanced picks up exactly the deferred row.
    val next = Incremental.incrementalRead(outbox, wm, 200L).select("id").as[Long].collect()
    assert(next.toSeq == Seq.empty) // id=3 < wm=5 ... deferred row has LOWER id
    // ... which is exactly why the reference gates the watermark too: with
    // the gate, wm would have been max(id where xact<50)=5 only if 3 were
    // excluded from BOTH streams. Verify the gated pair is consistent:
    val gatedRows = Incremental.incrementalRead(outbox, 0L, 50L).select("id").as[Long].collect().toSet
    assert(!gatedRows.contains(3L) && wm == 5L)
  }

  test("A2: empty gated set falls back to fromVersion") {
    val wm = Incremental.gatedWatermark(outbox, 42L, 5L).as[Long].head()
    assert(wm == 42L)
  }

  test("A1: max version defaults to envelope version on empty batch") {
    val empty = outbox.filter($"id" > 1000)
    assert(Incremental.maxVersion(empty, 99L, "id").as[Long].head() == 99L)
    assert(Incremental.maxVersion(outbox, 99L, "id").as[Long].head() == 5L)
  }

  test("P3: stale watermark triggers full resync with ReasonCode=1") {
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val got = Incremental.readWithStaleFallback(outbox, base,
      fromVersion = 10L, minValidVersion = 20L, horizon = 100L)
    assert(got.select("sync_type").distinct().as[String].head() == "Full")
    assert(got.select("reason_code").distinct().as[Int].head() == 1)
    assert(got.count() == 2)
  }

  test("P3: fresh watermark takes the diff path with ReasonCode=0") {
    val base = Seq((1L, "a")).toDF("id", "v")
    val got = Incremental.readWithStaleFallback(outbox, base,
      fromVersion = 2L, minValidVersion = 1L, horizon = 200L)
    assert(got.select("sync_type").distinct().as[String].head() == "Diff")
    assert(got.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L, 5L))
  }

  test("S8: seed records the frontier and emits no change rows") {
    val got = Incremental.seed(outbox)
    assert(got.count() == 1)
    assert(got.select("version").as[Long].head() == 5L)
    // The seed is horizon-gated like the sync read: id=3 sits in in-flight
    // xact 99, so seeding must stop at 2 — an un-gated 3 would skip that
    // row forever once xact 99 commits.
    val inFlight = Seq((1L, 1L, "I"), (2L, 2L, "U"), (3L, 99L, "U"))
      .toDF("id", "xact_id", "operation")
    val gated = Incremental.seed(inFlight, horizon = 50L)
    assert(gated.count() == 1 && gated.select("version").as[Long].head() == 2L)
  }

  test("S2: chunk reassembly restores original order regardless of row order") {
    val chunks = Seq((1L, 2, "cc"), (1L, 0, "aa"), (1L, 1, "bb"),
      (2L, 0, "xy"), (2L, 1, null)).toDF("k", "idx", "chunk")
    val got = Incremental.reassembleChunks(chunks, "k", "idx", "chunk")
      .orderBy("k").as[(Long, String)].collect()
    assert(got.toSeq == Seq((1L, "aabbcc"), (2L, "xy")))
  }

  test("SCD2 intervals: chained versions, delete tombstone, never-deleted key current") {
    // key 10: I(1) -> U(4) -> D(6): two closed intervals + a tombstone
    // key 20: I(2) -> U(5): open current version
    // key 30: I(3) -> D(7) -> I(8): delete then re-insert (re-used key)
    val ch = Seq(
      (1L, 10L, "I"), (4L, 10L, "U"), (6L, 10L, "D"),
      (2L, 20L, "I"), (5L, 20L, "U"),
      (3L, 30L, "I"), (7L, 30L, "D"), (8L, 30L, "I")
    ).toDF("id", "key", "operation")
    val got = Incremental.scd2Intervals(ch, "key", "id", "operation")
      .select($"key", $"operation", $"valid_from", $"valid_to", $"is_current")
      .as[(Long, String, Long, Option[Long], Boolean)].collect()
      .sortBy(r => (r._1, r._3))
    assert(got.toSeq === Seq(
      (10L, "I", 1L, Some(4L), false),
      (10L, "U", 4L, Some(6L), false),
      (10L, "D", 6L, None, false), // tombstone: last but NOT current
      (20L, "I", 2L, Some(5L), false),
      (20L, "U", 5L, None, true),
      (30L, "I", 3L, Some(7L), false),
      (30L, "D", 7L, Some(8L), false),
      (30L, "I", 8L, None, true))) // re-insert after delete is live again
  }

  test("SCD2 intervals: randomized streams match the driver-side reference") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val ops = Array("I", "U", "D")
      val rows = (1L to 300L).map(id =>
        (id, rnd.nextInt(20).toLong, ops(rnd.nextInt(3))))
      val got = Incremental.scd2Intervals(
          rows.toDF("id", "key", "operation"), "key", "id", "operation")
        .select($"key", $"valid_from", $"valid_to", $"is_current")
        .as[(Long, Long, Option[Long], Boolean)].collect().toSet
      val ref = rows.groupBy(_._2).flatMap { case (key, rs) =>
        val sorted = rs.sortBy(_._1)
        sorted.zipWithIndex.map { case ((id, _, op), i) =>
          val next = if (i + 1 < sorted.size) Some(sorted(i + 1)._1) else None
          (key, id, next, next.isEmpty && op != "D")
        }
      }.toSet
      assert(got == ref, s"trial $trial")
      // exactly one current version per live key; intervals chain per key
      val perKey = got.groupBy(_._1)
      perKey.foreach { case (_, ivs) =>
        assert(ivs.count(_._4) <= 1)
        val froms = ivs.map(_._2)
        val tos = ivs.flatMap(_._3)
        assert(tos.subsetOf(froms), "every close point is the next open point")
      }
    }
  }
}
