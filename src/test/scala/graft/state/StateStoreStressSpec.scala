package graft.state

import graft.SparkSpec
import graft.streaming.StreamingStats
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Concurrent writers on one store: every mutation is a read-modify-write
  * of a whole snapshot, so an unlocked interleaving loses rows (a commit
  * built from a stale snapshot drops the other writer's rows), regresses
  * watermarks, or deletes another writer's in-flight version. */
class StateStoreStressSpec extends SparkSpec {
  import spark.implicits._

  private def letter(thread: Int, n: Int) =
    Seq((s"k-t$thread", "obj", "env", "db", s"h-$n", "{}", "boom"))
      .toDF("source_key", "tracking_object_name", "environment_name",
        "database_name", "data_hash", "data", "error_message")
      .withColumn("timestamp", current_timestamp())

  test("4 threads interleaving pause / setWatermarks / appendDeadLetters: no lost row, no exception, no regression") {
    val threads = 4
    for (seed <- 1 to 10) {
      val rnd = new Random(seed)
      val store = new ParquetStateStore(spark,
        Files.createTempDirectory(s"graft-stress-$seed").resolve("state").toString)
      // Per thread, a seeded order of one pause, two watermark advances of
      // its own object and one dead letter.
      val plans = (0 until threads).map(_ => rnd.shuffle(Seq("pause", "wm", "wm", "dlq")))
      val errors = new ConcurrentLinkedQueue[Throwable]()
      val go = new CountDownLatch(1)
      val workers = plans.zipWithIndex.map { case (plan, t) =>
        new Thread(() => {
          go.await()
          var version = 0L
          try plan.foreach {
            case "pause" => store.pause(s"obj:env/o$t", "stress", s"t$t")
            case "wm" => version += 1; store.setWatermarks(Seq(("env", s"o$t", version)))
            case "dlq" => store.appendDeadLetters(letter(t, seed))
          } catch { case e: Throwable => errors.add(e) }
        })
      }
      workers.foreach(_.start())
      go.countDown()
      workers.foreach(_.join())

      assert(errors.isEmpty, s"seed $seed: ${errors.asScala.map(_.toString).mkString("; ")}")
      val scopes = store.pauses.select("scope").as[String].collect().toSet
      assert(scopes == (0 until threads).map(t => s"obj:env/o$t").toSet, s"seed $seed: pauses $scopes")
      val marks = store.watermarks.select("object_name", "last_version").as[(String, Long)].collect()
      assert(marks.length == threads && marks.toMap == (0 until threads).map(t => s"o$t" -> 2L).toMap,
        s"seed $seed: every object ends at its last advance: ${marks.toSeq}")
      val ids = store.deadLetters.select("id").as[Long].collect()
      assert(ids.sorted.toSeq == (1L to threads.toLong), s"seed $seed: dead-letter ids ${ids.toSeq}")
    }
  }

  test("2 threads merging the same batch id: exactly one commit lands, docs and tokens count once") {
    for (seed <- 1 to 10) {
      val rnd = new Random(seed)
      val store = new ParquetStateStore(spark,
        Files.createTempDirectory(s"graft-stress-batch-$seed").resolve("state").toString)
      val docs = (1 to 1 + rnd.nextInt(20)).map(_ => ("src", Seq.fill(1 + rnd.nextInt(5))("w").mkString(" ")))
      val batch = docs.toDF("source", "text")
      val errors = new ConcurrentLinkedQueue[Throwable]()
      val go = new CountDownLatch(1)
      val workers = (0 until 2).map(_ => new Thread(() => {
        go.await()
        try StreamingStats.mergeBatch(store, batch, 0L)
        catch { case e: Throwable => errors.add(e) }
      }))
      workers.foreach(_.start())
      go.countDown()
      workers.foreach(_.join())

      assert(errors.isEmpty, s"seed $seed: ${errors.asScala.map(_.toString).mkString("; ")}")
      assert(store.commitCount == 1L, s"seed $seed: ${store.commitCount} commits for one batch id")
      val counts = StreamingStats.readState(store)
        .select("docs", "tokens").as[(Long, Long)].collect().toSeq
      assert(counts == Seq((docs.size.toLong, docs.map(_._2.split(" ").length.toLong).sum)),
        s"seed $seed: $counts")
    }
  }
}
