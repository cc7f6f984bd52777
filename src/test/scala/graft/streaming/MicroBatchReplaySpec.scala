package graft.streaming

import graft.SparkSpec
import graft.state.ParquetStateStore
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The exactly-once protocol of [[ParquetStateStore.commitBatch]], seen
  * from each stateful streaming operator: re-applying an already committed
  * batch id commits nothing, touches no file (neither the per-batch output
  * nor the state) and submits no Spark job — the guard is a driver file
  * read, and progress does not depend on the state having rows. */
class MicroBatchReplaySpec extends SparkSpec {
  import spark.implicits._

  /** (relative path, content hash, mtime) of every file under `dir`. */
  private def tree(dir: Path): Seq[(String, Int, Long)] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      (dir.relativize(p).toString, java.util.Arrays.hashCode(Files.readAllBytes(p)),
        Files.getLastModifiedTime(p).toMillis)
    }.toSeq.sorted
    finally walk.close()
  }

  /** Runs `replay` and asserts it was inert; returns what it returned. */
  private def assertInertReplay[T](store: ParquetStateStore, dir: Path)(replay: => T): T = {
    val sqlExecutions = new AtomicInteger()
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sqlExecutions.incrementAndGet()
        case _ =>
      }
    }
    val sc = spark.sparkContext
    val commits = store.commitCount
    val files = tree(dir)
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val out = try replay finally {
      org.apache.spark.TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    assert(sqlExecutions.get() == 0 && jobs.get() == 0,
      s"a replay ran ${sqlExecutions.get()} SQL executions and ${jobs.get()} jobs")
    assert(store.commitCount == commits, "a replay must not commit")
    assert(tree(dir) == files, "a replay must leave output and state untouched")
    out
  }

  private def fixture(prefix: String) = {
    val dir = Files.createTempDirectory(prefix)
    (dir, new ParquetStateStore(spark, dir.resolve("state").toString), dir.resolve("out").toString)
  }

  test("dedup: a replayed admission is inert and returns 0") {
    val (dir, store, out) = fixture("graft-replay-dedup")
    val b0 = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "parquet row groups and column chunk encodings")).toDF("doc_id", "text")
    val b1 = Seq((3L, "watermark semantics in structured streaming")).toDF("doc_id", "text")
    assert(StreamingDedup.admitBatch(store, b0, 0L, out, "doc_id", "text", 8, 4) == 2L)
    assert(StreamingDedup.admitBatch(store, b1, 1L, out, "doc_id", "text", 8, 4) == 1L)
    assert(assertInertReplay(store, dir)(
      StreamingDedup.admitBatch(store, b1, 1L, out, "doc_id", "text", 8, 4)) == 0L)
  }

  test("scd2: a replayed batch is inert and returns 0") {
    val (dir, store, out) = fixture("graft-replay-scd2")
    val b0 = Seq(("a", 1L, "I"), ("b", 2L, "I")).toDF("k", "id", "op")
    val b1 = Seq(("a", 5L, "U")).toDF("k", "id", "op")
    StreamingScd2.applyBatch(store, b0, 0L, out)
    assert(StreamingScd2.applyBatch(store, b1, 1L, out) == 1L)
    assert(assertInertReplay(store, dir)(StreamingScd2.applyBatch(store, b1, 1L, out)) == 0L)
  }

  test("frontier: a replayed batch is inert and returns 0") {
    val (dir, store, out) = fixture("graft-replay-frontier")
    val b0 = Seq(("a.com", 1L), ("a.com", 2L), ("b.com", 3L)).toDF("domain", "doc_id")
    assert(StreamingFrontier.applyBatch(store, b0, 0L, out) == 3L)
    assert(assertInertReplay(store, dir)(StreamingFrontier.applyBatch(store, b0, 0L, out)) == 0L)
  }

  test("stats: a replayed merge is inert and returns the state row count") {
    val (dir, store, _) = fixture("graft-replay-stats")
    val b0 = Seq(("s1", "alpha beta"), ("s2", "gamma")).toDF("source", "text")
    val b1 = Seq(("s1", "alpha beta"), ("s3", "delta")).toDF("source", "text")
    assert(StreamingStats.mergeBatch(store, b0, 0L) == 2L)
    assert(StreamingStats.mergeBatch(store, b1, 1L) == 3L)
    assert(assertInertReplay(store, dir)(StreamingStats.mergeBatch(store, b1, 1L)) == 3L)
    assert(StreamingStats.readState(store).filter($"source" === "s1")
      .select("docs").as[Long].collect().toSeq == Seq(2L))
  }

  test("a committed batch whose next state is empty still counts as landed") {
    val (dir, store, out) = fixture("graft-replay-empty")
    val empty = Seq.empty[(String, Long)].toDF("domain", "doc_id")
    assert(StreamingFrontier.applyBatch(store, empty, 0L, out) == 0L)
    assert(store.commitCount == 1L && StreamingFrontier.domainState(store).isEmpty)
    assert(assertInertReplay(store, dir)(StreamingFrontier.applyBatch(store, empty, 0L, out)) == 0L)
  }
}
