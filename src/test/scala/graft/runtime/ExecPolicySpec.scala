package graft.runtime

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Tier classification pins for the small-query execution policy. The
  * dual-mode VALUE gate for tier-2 (interpreted ≡ codegen) lives in
  * RegisteredQueriesSpec; this spec pins the DISPATCH boundaries so a
  * guard regression cannot silently route a compute-dense plan onto a
  * cheap path (the round-7 2 s → 46 s cliff) or an iterative plan off
  * AQE (which the graph family measurably needs). */
class ExecPolicySpec extends SparkSpec {
  import spark.implicits._

  private def tiny = (1L to 100L).toDF("id")

  test("tier-2 (full small confs): scan-shaped tiny plan qualifies; a Generate " +
    "does not, but tier-1 still takes it") {
    val scan = tiny.filter($"id" > 5).select($"id" * 2 as "x")
    assert(ExecPolicy.isSmall(scan))
    assert(ExecPolicy.isSmallInputNonIterative(scan))
    val exploded = tiny.select(explode(array(lit(1), lit(2))).as("e"), $"id")
      .groupBy($"e").count()
    assert(!ExecPolicy.isSmall(exploded), "Generate must stay off NO_CODEGEN")
    assert(ExecPolicy.isSmallInputNonIterative(exploded),
      "Generate over a tiny input is exactly the tier-1 case (codegen stays on)")
  }

  test("iterative tails (LogicalRDD) and typed nodes are excluded from BOTH tiers") {
    val ckpt = tiny.localCheckpoint(true).groupBy(lit(1)).count()
    assert(!ExecPolicy.isSmall(ckpt))
    assert(!ExecPolicy.isSmallInputNonIterative(ckpt),
      "checkpoint boundaries hide true plan size — keep AQE on")
    val typed = tiny.as[Long].mapPartitions(it => it).toDF("id").groupBy(lit(1)).count()
    assert(!ExecPolicy.isSmall(typed))
    assert(!ExecPolicy.isSmallInputNonIterative(typed))
  }

  test("tier-1 leaves codegen ON and only disables AQE; confs restored after") {
    val exploded = tiny.select(explode(array(lit(1), lit(2))).as("e"), $"id")
      .groupBy($"e").agg(sum($"id").as("s"))
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val seen = ExecPolicy.run(exploded) { df =>
      val rows = df.collect()
      (spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.codegen.wholeStage"), rows.length,
        spark.conf.get("spark.sql.shuffle.partitions"))
    }
    assert(seen._1 == "false", "tier-1 must disable AQE during the action")
    assert(seen._2 != "false", "tier-1 must NOT touch codegen")
    assert(seen._3 == 2)
    assert(seen._4 == parts, "tier-1 must inherit the session's shuffle partitions")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == before,
      "session confs must be restored")
  }
}
