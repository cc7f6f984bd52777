package relaybench

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see relaybench/README.md). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    root: Path,
    data: Path,
    digests: Path,
    digestDir: Option[Path])

/** Operation ledger: every timed cycle, replay and query execution is one
  * operation; it fails when it throws or when its output check fails. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  private val errors = mutable.ArrayBuffer.empty[String]

  private def fail(msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += msg
    System.err.println(s"[relaybench] FAILED: $msg")
  }

  /** Run one operation: `body` returns the list of check violations. */
  def run(what: String)(body: => Seq[String]): Unit = {
    attempted += 1
    val problems =
      try body
      catch { case e: Throwable => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    if (problems.nonEmpty) fail(s"$what: ${problems.take(3).mkString("; ")}")
  }

  def errorList: Seq[String] = errors.toSeq
}

/** A metric as printed: name → (value, unit). */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def update(name: String, v: (Double, String)): Unit = m(name) = v
  def all: Seq[(String, (Double, String))] = m.toSeq
}

object Main {

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val ops = new Ops
    val metrics = new Metrics
    val info = mutable.LinkedHashMap.empty[String, Any]
    info("workload") = a.workload
    info("seed") = a.seed
    info("cpus") = cpus
    Files.createDirectories(a.root)
    val session = new Session(cpus)
    try {
      Relay.Specs.get(a.workload) match {
        case Some(spec) => new RelayWorkload(spec, a, session, ops, metrics, info).run()
        case None if a.workload == "curation" => new Curation(a, session, ops, metrics, info).run()
        case None => throw new IllegalArgumentException(s"unknown workload '${a.workload}'")
      }
    } finally session.stop()
    if (a.trace) Layers.fillZeros(metrics)
    val names = (Layers.all ++ Layers.curation).map(_._1).toSet
    val finite = metrics.all.forall { case (_, (v, _)) => !v.isNaN && !v.isInfinite }
    info("errors") = ops.errorList
    println(Json.write(Map("info" -> info)))
    val reported = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    metrics.all.filter { case (k, _) => names(k) == a.trace }.foreach { case (k, (v, u)) =>
      reported(k) = Map("value" -> (if (finite) v else 0.0), "unit" -> u) }
    println(Json.write(mutable.LinkedHashMap(
      "correct" -> (ops.failed == 0 && ops.attempted > 0 && finite),
      "attempted" -> ops.attempted,
      "failed" -> ops.failed,
      "metrics" -> reported)))
  }

  /** Set-up rounds per run; `setup_s` is their median. The first round
    * also pays the JVM's cold start, so with two rounds the median, their
    * mean, carries cold-start cost at half weight. */
  val SetupRounds = 2

  /** local[k] with k = the processors this process may use. */
  def cpus: Int = Runtime.getRuntime.availableProcessors

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = kv.get("trace").contains("1"),
      root = Paths.get(need("root")).toAbsolutePath,
      data = Paths.get(need("data")).toAbsolutePath,
      digests = Paths.get(need("digests")).toAbsolutePath,
      digestDir = kv.get("digest-dir").map(Paths.get(_).toAbsolutePath))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally walk.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally walk.close()
    }

  /** Median; NaN for an empty sample. */
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples above it, and
    * its value; a sample of ten or fewer has none. */
  def tail(xs: Iterable[Double]): Map[String, Any] = {
    val s = xs.toVector.sorted
    if (s.size <= 10) Map("samples" -> s.size, "percentile" -> null)
    else Map("samples" -> s.size, "percentile" -> 100 * (s.size - 10) / s.size,
      "value" -> s(s.size - 11))
  }

  private val t0 = System.nanoTime()

  /** Progress on stderr, stamped with seconds since the JVM's start. */
  def log(msg: String): Unit = System.err.println(f"[relaybench ${secondsSince(t0)}%7.2f] $msg")

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** The benchmark's Spark session: graft's canonical local session, which a
  * set-up round stops and starts again so that session start is part of
  * every round it times. */
final class Session(cpus: Int) {
  private var current: Option[SparkSession] = None

  def spark: SparkSession = current.getOrElse(start())

  def start(): SparkSession = {
    stop()
    val s = graft.Harness.session(cpus.toString)
    current = Some(s)
    s
  }

  def stop(): Unit = {
    current.foreach(_.stop())
    current = None
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** JSON output through Spark's bundled Jackson. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)

  def pretty(v: Any): String = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(v)
}
