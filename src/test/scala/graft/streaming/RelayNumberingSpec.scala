package graft.streaming

import graft.SparkSpec
import graft.model.{EnvironmentConfig, TrackingObject}
import graft.ops.Windows
import graft.state.ParquetStateStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The relay numbers a delta's envelopes exactly as the W2 window form
  * (`Windows.numberBatches`) does: every exported row's (version, batch,
  * total batches), read back from the file sink, equals the window's, on
  * the id-run path and on the fallback, in one partition and in seven. */
class RelayNumberingSpec extends SparkSpec {
  import spark.implicits._

  private val Cap = 10
  private val obj = TrackingObject("orders", "db0", "t", "sp")
  private val FileName = """b(\d+)-of-(\d+)-.*\.json""".r
  private val Version = """"\$version": (\d+)""".r

  private val schema = new StructType()
    .add("id", LongType).add("xact_id", LongType).add("operation", StringType)
    .add("value", DoubleType).add("props", StringType)
    .add("changed", ArrayType(StringType))

  /** Change rows for `ids`, in `slices` partitions that keep the given
    * order (each slice is a contiguous stretch of `ids`). */
  private def changes(ids: Seq[Long], slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      ids.map(i => Row(i, i, "I", i.toDouble, s"""{"k":$i}""", null)), slices), schema)

  /** (version, batch, total batches) of every row the relay exported. */
  private def viaRelay(ids: Seq[Long], slices: Int): Seq[(Long, Int, Int)] = {
    val dir = Files.createTempDirectory("graft-numbering")
    val store = new ParquetStateStore(spark, dir.resolve("state").toString)
    val out = dir.resolve("out")
    val relay = new ChangeRelay(spark, store,
      EnvironmentConfig("prod", "postgres", Seq(obj), Nil, maxRecordsPerBatch = Cap),
      Some(out.toString + "/b{batch}-of-{totalbatches}-{guid}.json"))
    store.setWatermark("prod", obj.name, 0L)
    val (exported, _) = relay.runCycle(obj, changes(ids, slices), "20240115000000")
    assert(exported == ids.size)
    val files = if (Files.isDirectory(out)) Files.list(out).iterator().asScala.toList else Nil
    files.flatMap { f =>
      val FileName(batch, total) = f.getFileName.toString
      Version.findAllMatchIn(Files.readString(f)).map(m =>
        (m.group(1).toLong, batch.toInt, total.toInt))
    }.sorted
  }

  private def viaWindow(ids: Seq[Long]): Seq[(Long, Int, Int)] =
    Windows.numberBatches(ids.map(i => ("orders", i)).toDF("g", "version"), "g", "version", Cap)
      .select($"version", $"batch", $"total_batches").as[(Long, Int, Int)]
      .collect().toSeq.sorted

  private def check(name: String, ids: Seq[Long]): Unit =
    for (slices <- Seq(1, 7); order <- Seq("sorted", "shuffled")) {
      val laid = if (order == "sorted") ids.sorted else new scala.util.Random(11).shuffle(ids)
      assert(viaRelay(laid, slices) == viaWindow(ids), s"$name, $slices partitions, $order")
    }

  private val rnd = new scala.util.Random(7)

  test("dense ids") {
    check("dense", (1L to 137L).toVector)
  }

  test("ids with gaps") {
    // A few gaps (few enough runs to number exactly in one partition) and
    // sparse ids (too many runs: the fallback).
    val dropped = rnd.shuffle((2L to 139L).toVector).take(4).toSet
    check("few gaps", (1L to 140L).filterNot(dropped))
    check("sparse", rnd.shuffle((1L to 600L).toVector).take(143))
  }

  test("repeated ids that straddle an envelope boundary") {
    // One version on several rows (one transaction), across the 10th/11th
    // and 20th/21st rows.
    check("repeats", (1L to 8L) ++ Seq(9L, 9L, 9L) ++ (10L to 17L) ++ Seq(18L, 18L, 18L, 18L) ++
      (19L to 30L))
    // 70 rows in 7 sorted slices of 10: the repeated 10 ends one slice and
    // starts the next, so each partition alone looks dense.
    check("repeat across partitions", (1L to 10L) ++ (10L to 69L))
  }

  test("exactly cap rows, cap + 1 rows and an empty delta") {
    check("cap", (1L to Cap.toLong).toVector)
    check("cap + 1", (1L to Cap + 1L).toVector)
    assert(viaRelay(Nil, 1).isEmpty && viaWindow(Nil).isEmpty)
  }

  test("the driver's bounds: exact for contiguous partitions, none for repeats or sparse ids") {
    def parts(layout: Seq[Seq[Long]]) =
      layout.flatMap(p => ChangeRelay.idRuns(p.sorted.iterator, Cap).toSeq)
    // 25 dense ids over three partitions, out of order between partitions.
    val bounds = ChangeRelay.batchBounds(parts(Seq(21L to 25L, 1L to 8L, 9L to 20L)), Cap)
    assert(bounds.map(_.toSeq).contains(Seq(1L, 11L, 21L)))
    // The same id in two partitions, and one partition that repeats an id.
    assert(ChangeRelay.batchBounds(parts(Seq(1L to 12L, 12L to 25L)), Cap).isEmpty)
    assert(ChangeRelay.batchBounds(parts(Seq((1L to 12L) :+ 5L, 13L to 25L)), Cap).isEmpty)
    // Every other id: 12 rows need 12 runs, more than 12 / 10 + 1.
    assert(ChangeRelay.batchBounds(parts(Seq((1L to 24L by 2))), Cap).isEmpty)
    // Gaps within the limit: 25 rows in 3 runs.
    assert(ChangeRelay.batchBounds(parts(Seq((1L to 10L) ++ (20L to 29L) ++ (40L to 44L))), Cap)
      .map(_.toSeq).contains(Seq(1L, 20L, 40L)))
  }

  test("a partition's ids are read in arrival order: ascending stretches merge, anything else falls back") {
    def one(ids: Iterator[Long]) = ChangeRelay.idRuns(ids, Cap).toSeq match {
      case Seq(p) => p
      case other => fail(s"expected one summary, got $other")
    }
    // Two files' stretches, the later one read first: one run, 25 rows.
    val files = one(((21L to 25L) ++ (1L to 20L)).iterator)
    assert(files.exact && files.rows == 25 && files.maxId == 25L)
    assert(files.runs == Seq((1L, 25L)))
    // Dense ids in shuffled order arrive as a run per row or so: merged
    // into one run while they number at most 4,096, dropped past that.
    val shuffled = one(new scala.util.Random(3).shuffle((1L to 200L).toVector).iterator)
    assert(shuffled.exact && shuffled.runs == Seq((1L, 200L)))
    val manyShuffled = one(new scala.util.Random(3).shuffle((1L to 10000L).toVector).iterator)
    assert(!manyShuffled.exact && manyShuffled.rows == 10000 && manyShuffled.maxId == 10000L)
    // A repeat inside one ascending stretch leaves two overlapping runs,
    // which the driver refuses.
    val repeat = one(((1L to 15L) ++ (15L to 25L)).iterator)
    assert(repeat.exact && ChangeRelay.batchBounds(Seq(repeat), Cap).isEmpty)
    // A sparse head of 5,000 ids stops the run collection before the dense
    // tail arrives, though the final runs (5,001 for 105,000 rows) would fit
    // rows / cap + 1: the cycle falls back, and still numbers exactly.
    val sparseHead = one(((1L to 10000L by 2) ++ (20001L to 120000L)).iterator)
    assert(!sparseHead.exact && sparseHead.rows == 105000 && sparseHead.maxId == 120000L)
  }
}
