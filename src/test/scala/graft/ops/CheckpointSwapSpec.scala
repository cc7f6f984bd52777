package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.TestCheckpointDir
import org.apache.spark.sql.functions._

/** Pins that the documented cluster-mode lineage-cut swap is actually
  * DROP-IN (r18 verdict, "what's missing" #3): the same checkpoint-dependent
  * operators and registry queries, run with a SparkContext checkpoint
  * directory (every [[Lineage]] cut becomes a reliable `checkpoint()`),
  * produce output identical to the default localCheckpoint cuts. */
class CheckpointSwapSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup
    (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup
    (4L, "completely unrelated text about distributed query planning"),
    (5L, "another unrelated document mentioning parquet column pruning"),
    (6L, "the quick brown fox jumps over the lazy dog again and again today")
  ).toDF("doc_id", "text")

  /** `f` run with a fresh checkpoint directory set, and the number of
    * checkpoint files it wrote there; the directory is removed afterwards. */
  private def reliably[T](f: => T): (T, Int) = {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-ckpt")
    def walk[R](g: java.util.stream.Stream[java.nio.file.Path] => R): R = {
      val w = Files.walk(dir)
      try g(w) finally w.close()
    }
    try {
      val out = TestCheckpointDir.within(spark.sparkContext, dir.toString)(f)
      (out, walk(_.filter(Files.isRegularFile(_)).count().toInt))
    } finally walk(_.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_)))
  }

  test("nearDupSurvivors: reliable checkpoint() is a drop-in swap") {
    def run() = DedupOps.nearDupSurvivors(docs, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    val local = run()
    val (reliable, files) = reliably(run())
    assert(local == reliable, "reliable checkpoint changed survivor set")
    assert(local.nonEmpty)
    // the reliable run must have actually written checkpoint data
    assert(files > 0, "no reliable checkpoint data written")
  }

  test("decontaminate + sourceDupRollup: reliable cuts are output-identical") {
    // neither operator cuts lineage today, so this pins that a checkpoint
    // directory leaves their output as it is
    def contam() = DedupOps.decontaminate(docs, "doc_id", "text",
        driverTestSet = Some(false)) // force the join path
      .select($"doc_id", $"overlap_ppm").as[(Long, Long)].collect().toSet
    def rollup() = DedupOps.sourceDupRollup(
        docs.withColumn("source", (col("doc_id") % 2).cast("string")),
        "doc_id", "text", "source")
      .select($"source", $"n_shingle_occ", $"n_dup_occ")
      .as[(String, Long, Long)].collect().toSet
    val (c0, r0) = (contam(), rollup())
    val ((c1, r1), _) = reliably((contam(), rollup()))
    assert(c0 == c1 && r0 == r1, "reliable checkpoint changed operator output")
  }

  test("duplicatedSpans under reliable mode matches local mode") {
    def run() = DedupOps.duplicatedSpans(docs, "doc_id", "text")
      .collect().map(_.toString).toSet
    val local = run()
    val (reliable, _) = reliably(run())
    assert(local == reliable)
  }

  test("registry queries cut outside DedupOps: a checkpoint directory gives " +
      "reliable cuts and identical rows") {
    // one query per file whose cuts go through Lineage: each run gets a
    // fresh session, so no session memo (models, derived tables, probes)
    // serves it without running its cuts
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory, s"missing fixture $sfDir")
    val byFile = Seq(
      "QueriesLlm" -> "dedup_clusters",
      "GraphOps" -> "llm_domain_pagerank",
      "Funnel" -> "ev_cohort_ltv",
      "TextOps" -> "llm_bm25_search",
      "Similarity" -> "ann_label_purity",
      "Assemble" -> "llm_manifest_diff",
      "Classify" -> "llm_cls_confusion",
      "Bpe" -> "llm_bpe_tokenize")
    def rows(q: String) = SparkEntry.queries(q)(spark.newSession(), sfDir)
      .collect().map(_.toString).sorted.toSeq
    for ((file, q) <- byFile) {
      val local = rows(q)
      val (reliable, files) = reliably(rows(q))
      assert(files > 0, s"$q ($file) wrote no checkpoint files")
      assert(local.nonEmpty, s"$q returned zero rows")
      assert(reliable == local, s"$q ($file) rows differ under reliable cuts")
    }
  }
}
