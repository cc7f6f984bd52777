package graft

/** Prints formatted physical plans for representative queries so scan
  * pushdown, join strategies and shuffle counts can be audited per round.
  * The session is [[Harness.session]]'s, so the plans split scans the way
  * the plans Bench times do. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSet
      else Set("p2_horizon_gate", "j1_change_outer_join", "q3_top_revenue_orders",
        "q5_regional_revenue", "dedup_lsh_pairs", "ann_lsh_topk", "w1_pagination",
        "ann_ivf_topk", "dedup_embedding_mb", "t9_sliding_counts", "dedup_jaccard")
    val spark = Harness.session("8")
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.allQueries.filter(q => names(q.name)).foreach { q =>
      println(s"\n=================== ${q.name} ===================")
      q.run(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
