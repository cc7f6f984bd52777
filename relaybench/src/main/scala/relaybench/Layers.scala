package relaybench

/** The per-layer metric set. Every workload reports every name; a layer the
  * workload never enters reads 0, which is the prediction for it. */
object Layers {

  /** The curation queries: one or more per operator module the relay never
    * touches (DedupOps, Similarity, TextOps, Funnel, Assemble, GraphOps,
    * Multimodal, Envelope.decode). */
  val queries: Seq[String] = Seq(
    "dedup_minhash_est", "dedup_edit_verify", "dedup_cc_survivors", "llm_span_removal",
    "ann_ivf_two_level", "ann_ivf_topk", "llm_quality_filter", "llm_lm_score",
    "ev_sessions", "ev_attribution", "t9_session_windows", "llm_manifest_diff",
    "llm_domain_pagerank_dist", "graph_triangles", "mm_phash_dedup", "s3_envelope_roundtrip")

  val queryMetrics: Seq[(String, String)] = Seq(
    "plan_ms" -> "ms", "exec_ms" -> "ms", "jobs" -> "count", "shuffle_bytes" -> "B",
    "spill_bytes" -> "B")

  val relay: Seq[(String, String)] = Seq(
    "relay.jobs_per_cycle" -> "count",
    "relay.jobs_per_object" -> "count",
    "relay.tasks_per_cycle" -> "count",
    "relay.driver_gap_ms" -> "ms",
    "relay.executor_busy_share" -> "share",
    "state.commits_per_cycle" -> "count",
    "state.commit_ms" -> "ms",
    "state.snapshot_bytes" -> "B",
    "state.dead_letters_rows" -> "count",
    "incremental.horizon_ms" -> "ms",
    "incremental.stats_ms" -> "ms",
    "incremental.rows_read_per_row_delivered" -> "ratio",
    "incremental.bytes_read" -> "B",
    "envelope.export_ms" -> "ms",
    "envelope.count" -> "count",
    "envelope.shuffle_write_bytes" -> "B",
    "sinks.files_written" -> "count",
    "sinks.bytes_written" -> "B",
    "sinks.failures" -> "count",
    "dlq.appended_per_cycle" -> "count",
    "dlq.replayed_per_cycle" -> "count",
    "dlq.replay_jobs" -> "count",
    "dlq.replay_ms" -> "ms")

  val jvm: Seq[(String, String)] = Seq(
    "jvm.gc_ms" -> "ms", "codegen.compiles" -> "count", "jvm.old_gen_after_gc_mb" -> "MB",
    "trace.overhead_share" -> "share")

  /** Every per-layer name of the relay workloads, with its unit. */
  val all: Seq[(String, String)] = relay ++ jvm

  /** The curation workload's per-query names, reported by it alone. */
  val curation: Seq[(String, String)] =
    queries.flatMap(q => queryMetrics.map { case (k, u) => s"$q.$k" -> u })

  /** Jobs and job milliseconds per cycle, by the graft frame that
    * submitted them: `file:method:action`. */
  def bySite(js: Seq[JobRec], cycles: Double): Map[String, Map[String, Double]] =
    js.groupBy(j => if (j.file.isEmpty) s"(no graft frame):${j.action}"
        else s"${j.file}:${j.method}:${j.action}").map { case (k, g) =>
      k -> Map("jobs" -> g.size / cycles, "ms" -> g.map(_.ms).sum / cycles)
    }

  /** Fill every name the workload did not measure with 0. */
  def fillZeros(m: Metrics): Unit = {
    val have = m.all.map(_._1).toSet
    all.filterNot(x => have(x._1)).foreach { case (k, u) => m(k) = (0.0, u) }
  }

  /** JVM counters over the measured window, per cycle or pass, and the
    * tracing overhead. The odd cycles are traced; each traced cycle is
    * compared with the mean of its untraced neighbours, which cancels the
    * run's warm-up trend, and the overhead is the median ratio minus one. */
  def jvmAndOverhead(m: Metrics, gcMsPerUnit: Double, compilesPerUnit: Double,
      walls: Seq[(Double, Boolean)]): Unit = {
    m("jvm.gc_ms") = (gcMsPerUnit, "ms")
    m("codegen.compiles") = (compilesPerUnit, "count")
    m("jvm.old_gen_after_gc_mb") = (Jvm.oldGenAfterGcMb, "MB")
    val ratios = walls.indices.filter(i => walls(i)._2).flatMap { i =>
      val near = Seq(i - 1, i + 1).filter(j => walls.indices.contains(j) && !walls(j)._2)
      if (near.isEmpty) None else Some(walls(i)._1 / (near.map(walls(_)._1).sum / near.size))
    }
    m("trace.overhead_share") = (if (ratios.isEmpty) 0.0 else Main.median(ratios) - 1, "share")
  }

  /** Whether cycle or pass `i` of a traced run runs with the listener. */
  def traces(i: Int): Boolean = i % 2 == 1
}
