package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch numbering, cumulative-size cleanup and the simple ordered reads.
  * Ref: Source/Services/ExportService.cs:106-124,333-361; Program.cs:707-823.
  */
object Windows {

  /** W2 — split a batch into HTTP sub-batches of `n` records: batch index
    * `floor((rn-1)/n)`, plus the total-batches header value. The window is
    * partitioned per group key (one envelope = one tracked object's cycle),
    * so numbering never serializes across objects.
    * Ref: ExportService.cs:106-124. */
  def numberBatches(rows: DataFrame, groupCol: String, orderCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
    rows
      .withColumn("batch",
        floor((row_number().over(w) - 1) / n).cast("int"))
      .withColumn("total_batches",
        ceil(count(lit(1)).over(Window.partitionBy(col(groupCol))) / lit(n.toDouble)).cast("int"))
  }

  /** [[numberBatches]] for ONE group at DATA scale — the relay's fallback
    * when its id runs cannot number a delta (repeated, sparse or far
    * out-of-order ids): a cycle numbers a single tracked object's rows, so
    * the per-group window above degenerates to one partition holding the
    * entire batch (a full initial sync serialized through one task's sort).
    * Range-partition + in-partition sort + `zipWithIndex` produces the
    * identical dense `orderCol` ordering distributed; `totalRows`
    * comes from the caller, which already counted the batch — no extra
    * count job beyond zipWithIndex's internal partition-size pass over the
    * (already shuffled) sorted data. */
  def numberBatchesRange(rows: DataFrame, orderCol: String, n: Int,
                         totalRows: Long): DataFrame = {
    require(n > 0, "batch size must be positive")
    val spark = rows.sparkSession
    val total = ((totalRows + n - 1) / n).toInt
    val ordered = rows.repartitionByRange(col(orderCol)).sortWithinPartitions(orderCol)
    val schema = ordered.schema
      .add("batch", org.apache.spark.sql.types.IntegerType, nullable = false)
      .add("total_batches", org.apache.spark.sql.types.IntegerType, nullable = false)
    spark.createDataFrame(
      ordered.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i / n).toInt :+ total) },
      schema)
  }

  /** A8/W3/O5 — size-capped directory cleanup: keep newest files whose
    * cumulative size fits the cap, delete the rest oldest-first.
    * Ref: ExportService.cs:333-361 (cap Environment.cs:62-63). */
  def cleanupPlan(files: DataFrame, capBytes: Long): DataFrame = {
    val w = Window.partitionBy(col("env"))
      .orderBy(col("day").desc, col("file_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files
      .withColumn("cumulative_bytes", sum(col("size_bytes")).over(w))
      .withColumn("delete", col("cumulative_bytes") > capBytes)
  }

  /** O1..O6 — ordered-limit reads share one shape: deterministic sort with a
    * unique tie-break + limit (Spark executes as TakeOrderedAndProject — a
    * per-partition top-k then a k-row merge, no global sort). */
  def topN(df: DataFrame, n: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(n)
}
