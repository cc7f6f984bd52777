package graft.streaming

import graft.SparkSpec
import graft.state.ParquetStateStore
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Incremental corpus accounting: the merged KMV sketch must be
  * BIT-IDENTICAL to a full-corpus one-shot sketch (lossless bottom-k
  * mergeability), counts exact, replays no-ops. */
class StreamingStatsSpec extends SparkSpec {
  import spark.implicits._

  private val K = 8 // small k so the saturation path is exercised

  private def mkBatch(rows: Seq[(String, String)]) =
    rows.toDF("source", "text")

  test("merged state equals the one-shot full-corpus sketch; counts exact; replay is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sstats")
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)

    // 3 batches, 2 sources; feed-a has heavy duplication (same texts
    // recur across batches), feed-b is all-unique.
    val b1 = (1 to 30).map(i => ("feed_a", s"repeated text ${i % 5}")) ++
             (1 to 10).map(i => ("feed_b", s"unique b one $i"))
    val b2 = (1 to 20).map(i => ("feed_a", s"repeated text ${i % 5}")) ++
             (1 to 10).map(i => ("feed_b", s"unique b two $i"))
    val b3 = (1 to 25).map(i => ("feed_a", s"repeated text ${(i % 3) + 10}")) ++
             (1 to 5).map(i => ("feed_b", s"unique b three $i"))
    val batches = Seq(b1, b2, b3)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val q = StreamingStats.start(spark, input.toDF().toDF("source", "text"),
      store, dir.resolve("ckpt").toString, k = K)
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val got = StreamingStats.readState(store).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getSeq[Long](3))))
      .toMap
    val oneShot = StreamingStats.batchStats(
        mkBatch(batches.flatten), "source", "text", K).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getSeq[Long](3))))
      .toMap
    assert(got == oneShot,
      "incrementally merged state must equal the full-corpus one-shot stats")

    // replay of an already-committed batch id leaves the state untouched
    val before = got
    StreamingStats.mergeBatch(store, mkBatch(b2), batchId = 1L, k = K)
    val after = StreamingStats.readState(store).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getSeq[Long](3))))
      .toMap
    assert(after == before, "replayed batch must short-circuit")

    // readout semantics: feed_a saturates k and estimates few distincts
    // (heavy dup -> dup_factor >> 1x); feed_b's sketch is under k only if
    // its distinct count is — with 25 uniques over k=8 it saturates too,
    // but its duplication factor must stay well below feed_a's.
    val snap = StreamingStats.snapshot(store, K).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3), r.getLong(4))))
      .toMap
    val (aDocs, aEst, aDup) = snap("feed_a")
    val (bDocs, bEst, bDup) = snap("feed_b")
    assert(aDocs == 75L && bDocs == 25L)
    assert(aDup > bDup, s"dup factors must rank feed_a over feed_b ($aDup vs $bDup)")
    assert(aEst >= 1L && bEst >= 1L)
  }

  test("under-k sketch reports the exact distinct count") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sstats2")
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)
    val rows = Seq(("s", "alpha"), ("s", "beta"), ("s", "alpha"), ("s", "gamma"))
    StreamingStats.mergeBatch(store, mkBatch(rows), 0L, k = K)
    val snap = StreamingStats.snapshot(store, K).collect()
    assert(snap.length == 1)
    assert(snap.head.getLong(3) == 3L) // exact: 3 distinct contents < k
    assert(snap.head.getLong(1) == 4L)
  }

  test("a second live query on the same state table is refused; a restart after stop() is not") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sstats3")
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)
    implicit val sqlCtx = spark.sqlContext
    val first = MemoryStream[(String, String)]
    val second = MemoryStream[(String, String)]
    val q1 = StreamingStats.start(spark, first.toDF().toDF("source", "text"),
      store, dir.resolve("ckpt1").toString, k = K)
    try {
      first.addData(("a", "one text"))
      q1.processAllAvailable()
      // Another store instance on the same root names the same table.
      val sameRoot = new ParquetStateStore(spark, dir.resolve("state").toString)
      val refused = intercept[IllegalArgumentException] {
        StreamingStats.start(spark, second.toDF().toDF("source", "text"),
          sameRoot, dir.resolve("ckpt2").toString, k = K)
      }
      assert(refused.getMessage.contains("live streaming writer"))
      assert(spark.streams.active.map(_.id).toSeq == Seq(q1.id))
    } finally q1.stop()

    // Once it has stopped, the query restarts on its checkpoint and its
    // next batch lands.
    val q2 = StreamingStats.start(spark, first.toDF().toDF("source", "text"),
      store, dir.resolve("ckpt1").toString, k = K)
    try {
      first.addData(("b", "two text"))
      q2.processAllAvailable()
    } finally q2.stop()
    val docs = StreamingStats.readState(store).select("source", "docs").as[(String, Long)]
      .collect().toMap
    assert(docs == Map("a" -> 1L, "b" -> 1L))
  }

  test("a claim is taken only by a start that returns, and refuses a second holder") {
    val key = java.nio.file.Files.createTempDirectory("graft-claim").toString
    intercept[RuntimeException](MicroBatch.claimAndStart(key, "held")(throw new RuntimeException("boom")))
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Int]
    val q = MicroBatch.claimAndStart(key, "held")(
      MicroBatch.start(input.toDF(), "graft-claim-spec", key + "/ckpt")((_, _) => ()))
    try {
      val refused = intercept[IllegalArgumentException](
        MicroBatch.claimAndStart(key, "held")(fail("a second holder started")))
      assert(refused.getMessage.startsWith("held (query 'graft-claim-spec'"))
    } finally q.stop()
  }
}
