package graft.state

import graft.SparkSpec
import graft.model.Schemas
import graft.ops.Dlq
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** The driver-written control snapshots: what a crash mid-commit leaves
  * behind, and that Spark reads every snapshot exactly as the store does. */
class ControlSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def entries(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  private def current(table: Path): Path =
    table.resolve(Files.readString(table.resolve("_CURRENT")).trim)

  test("a crash between the snapshot write and the pointer flip: readers keep the old snapshot, the next commit loses nothing, GC clears the debris") {
    val root = Files.createTempDirectory("graft-crash")
    val store = new ParquetStateStore(spark, root.resolve("state").toString)
    store.setWatermarks(Seq(("e", "a", 1L)))
    store.setWatermarks(Seq(("e", "b", 2L)))
    val table = root.resolve("state").resolve("watermarks")

    // The crash's debris: a complete version directory no pointer names,
    // and the temp pointer that was about to name it. The orphan is a real
    // snapshot, written by a store on another root.
    val other = new ParquetStateStore(spark, root.resolve("other").toString)
    other.setWatermarks(Seq(("e", "ghost", 9L)))
    val orphan = table.resolve("v0")
    Files.move(current(root.resolve("other").resolve("watermarks")), orphan)
    val tmpPointer = table.resolve("_CURRENT.tmp0")
    Files.writeString(tmpPointer, "v0")

    assert(store.watermarksOf("e") == Map("a" -> 1L, "b" -> 2L), "readers resolve the old pointer")
    assert(store.watermarks.count() == 2)

    store.setWatermarks(Seq(("e", "c", 3L)))
    assert(store.watermarksOf("e") == Map("a" -> 1L, "b" -> 2L, "c" -> 3L),
      "the next commit holds every prior row plus the new one")
    assert(!Files.exists(orphan), "GC removes the orphan version")
    assert(!Files.exists(tmpPointer), "GC removes the stale temp pointer")
    val left = entries(table).map(_.getFileName.toString)
    assert(left.count(_.startsWith("v")) == 2 && left.filterNot(_.startsWith("v")) == Seq("_CURRENT"),
      s"current + predecessor + pointer only: $left")
  }

  test("Spark reads every control snapshot exactly as the store does; the driver hash is Spark's sha2") {
    val root = Files.createTempDirectory("graft-format")
    val store = new ParquetStateStore(spark, root.resolve("state").toString)
    store.setWatermarks(Seq(("prod", "orders", 7L), ("prod", "users", Long.MaxValue)))
    store.pause("env:prod", null, "ops")
    store.pause("obj:prod/orders", "maintenance", "ops")

    val micros = Timestamp.valueOf("2024-01-15 10:20:30.123456")
    val big = "{\"k\":\"" + ("é€x" * 400000) + "\"}" // > 1 MB of UTF-8
    val letters = Seq(
      ("k1", "orders", "prod", "db0", "{}", "boom", micros),
      ("k1", "orders", null, "db0", big, "too large", micros),
      ("k2", "users", "prod", "db0", "[1]", "down", micros))
      .toDF("source_key", "tracking_object_name", "environment_name",
        "database_name", "data", "error_message", "timestamp")
      .withColumn("data_hash", Dlq.dataHash(col("data")))
    store.appendDeadLetters(letters)
    // One letter with a next attempt; the others keep a null one.
    store.settleDeadLetters(Nil, store.deadLetters.filter($"source_key" === "k2").collect().toSeq,
      micros, 60)

    def same(table: String, schema: StructType, viaStore: org.apache.spark.sql.DataFrame): Unit = {
      val viaSpark = spark.read.schema(schema)
        .parquet(current(root.resolve("state").resolve(table)).toString).collect()
      assert(viaSpark.toSet == viaStore.collect().toSet, s"$table differs")
      assert(viaSpark.length == viaStore.count(), s"$table row count")
    }
    same("watermarks", Schemas.watermarkSchema, store.watermarks)
    same("pauses", Schemas.pauseSchema, store.pauses)
    same("dead_letters", Schemas.deadLetterSchema, store.deadLetters)

    val dl = store.deadLetters.collect()
    assert(dl.map(_.getAs[Timestamp]("timestamp")).forall(_ == micros), "microseconds survive")
    assert(dl.count(_.isNullAt(10)) == 2 && dl.count(!_.isNullAt(10)) == 1)
    assert(dl.exists(_.getAs[String]("data") == big))
    assert(store.pauses.filter($"scope" === "env:prod").head().isNullAt(1))

    for (data <- Seq("", "{}", big, "naïve ✓ 𝄞")) {
      val viaSpark = Seq(data).toDF("d").select(sha2($"d", 256)).head().getString(0)
      assert(Dlq.dataHash(data) == viaSpark, s"hash of a ${data.length}-char payload")
    }
  }
}
