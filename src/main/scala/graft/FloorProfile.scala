package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Decomposes the per-query fixed floor (the ~0.5 s every control-table
  * query pays in graft.Bench) into nameable components, same-JVM so the
  * numbers are comparable:
  *
  *   build    – DataFrame construction (registry lambda)
  *   analyze  – analysis (catalog/resolution; includes parquet footer reads)
  *   optimize – Catalyst optimization
  *   plan     – physical planning
  *   exec     – noop write (AQE re-planning + codegen + job submit + tasks)
  *
  * plus per-repeat deltas of Janino compile count/time (CodegenMetrics is
  * a process-global dropwizard source) and job/stage counts (listener).
  * Usage:
  *   sbt "runMain graft.FloorProfile q1,q2 <repeat> [k=v;k=v ...]"
  * Each trailing arg is a session-conf variant applied via spark.conf.set
  * before re-running the same queries — same-run A/B per CLAUDE.md rules.
  * Settings carry over between variants; a closing `baseline` leg restores
  * them, so each variant sits between two baseline readings.
  */
object FloorProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(Seq("a1_max_version_default"))
    val repeat = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val variants = ("baseline" +: args.drop(2).toSeq).distinct
    val legs = if (variants.size > 1) variants :+ "baseline" else variants
    val original = scala.collection.mutable.Map[String, Option[String]]()

    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    var jobs = 0; var stages = 0; var tasks = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1; tasks += s.stageInfo.numTasks
      }
    })
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
    println(f"${"variant"}%-28s ${"query"}%-26s rep ${"build"}%7s ${"analyze"}%7s ${"optim"}%7s ${"plan"}%7s ${"exec"}%7s ${"total"}%7s  jb st tk  cgN ${"cgMs"}%6s ${"cgLoad"}%6s")
    for (variant <- legs) {
      if (variant == "baseline")
        original.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      else
        variant.split(";").map(_.trim).filter(_.contains("=")).foreach { kv =>
          val (k, v) = kv.splitAt(kv.indexOf('='))
          original.getOrElseUpdate(k, spark.conf.getOption(k))
          spark.conf.set(k, v.drop(1))
        }
      for (name <- names; fn = SparkEntry.queries(name); r <- 1 to repeat) {
        val cgN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val cgT0 = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum
        val ld0 = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
        jobs = 0; stages = 0; tasks = 0
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir); val tBuild = ms(t0)
        val t1 = System.nanoTime()
        df.queryExecution.analyzed; val tAna = ms(t1)
        val t2 = System.nanoTime()
        df.queryExecution.optimizedPlan; val tOpt = ms(t2)
        val t3 = System.nanoTime()
        df.queryExecution.executedPlan; val tPlan = ms(t3)
        val t4 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save(); val tExec = ms(t4)
        val cgN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0
        val cgT = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum - cgT0
        val ld = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount - ld0
        println(f"$variant%-28s $name%-26s  $r%2d $tBuild%7.1f $tAna%7.1f $tOpt%7.1f $tPlan%7.1f $tExec%7.1f ${ms(t0)}%7.1f  $jobs%2d $stages%2d $tasks%2d  $cgN%3d $cgT%6d $ld%6d")
      }
    }
    spark.stop()
  }
}
