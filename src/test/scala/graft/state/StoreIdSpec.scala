package graft.state

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.util.Random

/** Invariants of the dead-letter id assignment (dense from maxId + 1 in
  * (source_key, data_hash) order, assigned on the driver): ids must come
  * out exactly as a global `row_number` would number them, independent of
  * input partitioning. */
class StoreIdSpec extends SparkSpec {
  import spark.implicits._

  private def randomRows(rnd: Random, n: Int) =
    (1 to n).map { _ =>
      val k = s"key-${rnd.nextInt(8)}"
      val h = s"hash-${rnd.nextInt(20)}"
      (k, "obj", "env", "db", h, s"{}", s"err-${rnd.nextInt(3)}")
    }.toDF("source_key", "tracking_object_name", "environment_name",
      "database_name", "data_hash", "data", "error_message")
      .withColumn("timestamp", current_timestamp())

  test("ids are dense, unique, and monotone across appends; D1 dedup holds") {
    val rnd = new Random(7)
    val store = new ParquetStateStore(spark,
      Files.createTempDirectory("graft-ids").resolve("state").toString)
    (1 to 4).foreach(_ => store.appendDeadLetters(randomRows(rnd, 30)))
    val rows = store.deadLetters
      .select($"id", $"source_key", $"data_hash").collect()
    val ids = rows.map(_.getLong(0)).sorted
    assert(ids.toSeq == (1L to ids.length).toSeq,
      s"ids must be dense 1..n with no gaps: ${ids.toSeq}")
    // exactly-once per payload across all appends
    val keys = rows.map(r => (r.getString(1), r.getString(2)))
    assert(keys.distinct.length == keys.length, "duplicate (source_key, data_hash) row")
  }

  test("id assignment is independent of the input partitioning") {
    val rnd = new Random(11)
    val batch = randomRows(rnd, 60).cache()
    def tableFor(parts: Int) = {
      val store = new ParquetStateStore(spark,
        Files.createTempDirectory(s"graft-ids-$parts").resolve("state").toString)
      store.appendDeadLetters(batch.repartition(parts))
      store.deadLetters.select($"id", $"source_key", $"data_hash", $"error_message")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    }
    assert(tableFor(1) == tableFor(7),
      "same rows must get the same ids regardless of partitioning")
  }
}
