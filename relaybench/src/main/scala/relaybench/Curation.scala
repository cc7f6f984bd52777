package relaybench

import java.math.MathContext
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import graft.SparkEntry
import graft.runtime.ExecPolicy

/** Row count plus an order-insensitive hash of a query result. */
final case class Digest(rows: Long, hash: String)

object Digest {
  private val mc = new MathContext(6)

  /** Cells in column-name order; floating values at six significant
    * digits, so summation-order noise in the last bits never reads as a
    * wrong answer. */
  private def cell(v: Any): String = v match {
    case null => "NULL"
    case d: Double => norm(d)
    case f: Float => norm(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case other => other.toString
  }

  private def norm(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toPlainString

  def of(rows: Array[Row]): Digest = {
    var sum = 0L
    rows.foreach { r =>
      val order = r.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
      val line = order.map(i => cell(r.get(i))).mkString("\u0001")
      val h = java.security.MessageDigest.getInstance("SHA-256")
        .digest(line.getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    Digest(rows.length.toLong, f"$sum%016x")
  }

  def load(file: Path): Map[String, Digest] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file.toFile)
    node.fields().asScala.map { e =>
      e.getKey -> Digest(e.getValue.get("rows").asLong, e.getValue.get("hash").asText)
    }.toMap
  }

  def write(file: Path, ds: Seq[(String, Digest)]): Unit =
    Files.writeString(file, Json.pretty(mutable.LinkedHashMap(ds.map { case (q, d) =>
      q -> mutable.LinkedHashMap("rows" -> d.rows, "hash" -> d.hash) }: _*)) + "\n")
}

/** The curation workload: registry queries through `ExecPolicy.run` plus a
  * noop write, the path graft's own query benchmark times, in repeated
  * passes over one warm session. */
final class Curation(a: Args, session: Session, ops: Ops, metrics: Metrics,
    info: mutable.Map[String, Any]) {
  import Main.{median, secondsSince}

  private val dir = a.data.toString
  private def spark = session.spark
  private lazy val expected: Map[String, Digest] = Digest.load(a.digests)

  private def build(q: String): DataFrame = SparkEntry.queries(q)(spark, dir)

  private def digest(q: String): Digest =
    Digest.of(ExecPolicy.run(build(q))(_.collect()))

  /** Session start plus the session-scoped fixtures and trained models
    * graft's query benchmark also builds before its first timed query. */
  private def setUp(): Unit = {
    session.start()
    graft.QueriesCore.warmFixtures(spark, dir)
    graft.QueriesLlm.warmDerived(spark, dir)
  }

  def run(): Unit = {
    if (a.digestDir.isDefined) return writeDigests()
    val setups = (1 to Main.SetupRounds).map { _ =>
      val t0 = System.nanoTime(); setUp(); secondsSince(t0)
    }
    metrics("setup_s") = (median(setups), "s")
    info("setup_rounds_s") = setups
    info("sf_dir") = a.data.getFileName.toString
    info("queries") = Layers.queries.size

    // One warm-up pass: checked and counted, not timed.
    pass(-1, ops, None)

    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    val gc0 = Jvm.gcMs
    val cg0 = Jvm.codegenCompiles
    val t0 = System.nanoTime()
    var p = 0
    while (secondsSince(t0) < a.seconds || p < 2) {
      val traced = tracer.filter(_ => Layers.traces(p))
      tracer.foreach { t =>
        if (traced.isDefined) spark.sparkContext.addSparkListener(t)
        else spark.sparkContext.removeSparkListener(t)
      }
      pass(p, ops, traced)
      p += 1
    }
    val wall = passes.map(_.wall)
    metrics("cycle_p50_s") = (median(wall.toSeq), "s")
    metrics("rows_per_s") = (passes.map(_.rows).sum / wall.sum, "1/s")
    info("passes") = passes.size
    info("pass_s") = wall.toSeq
    tracer.foreach { t =>
      val tp = passes.filter(_.traced).toSeq
      for (q <- Layers.queries) {
        val recs = tp.flatMap(_.queries.get(q))
        def med(f: QueryRec => Double): Double = median(recs.map(f))
        metrics(s"$q.plan_ms") = (med(_.planMs), "ms")
        metrics(s"$q.exec_ms") = (med(_.execMs), "ms")
        val jobs = tp.map(pr => t.jobsIn(_ == s"pass${pr.index}/$q"))
        metrics(s"$q.jobs") = (median(jobs.map(_.size.toDouble)), "count")
        metrics(s"$q.shuffle_bytes") = (median(jobs.map(_.map(_.shuffleWrite).sum.toDouble)), "B")
        metrics(s"$q.spill_bytes") = (median(jobs.map(_.map(_.spill).sum.toDouble)), "B")
      }
      Layers.jvmAndOverhead(metrics, (Jvm.gcMs - gc0).toDouble / p,
        (Jvm.codegenCompiles - cg0).toDouble / p, passes.map(x => (x.wall, x.traced)).toSeq)
    }
  }

  private final class QueryRec(val planMs: Double, val execMs: Double)
  private final class PassRec(val index: Int, val wall: Double, val rows: Long,
      val traced: Boolean, val queries: Map[String, QueryRec])
  private val passes = mutable.ArrayBuffer.empty[PassRec]

  /** One pass over every query in a seeded order. A traced pass splits each
    * query's time the way graft.FloorProfile does: build + analyze +
    * optimize + plan, then execution. */
  private def pass(p: Int, ledger: Ops, tracer: Option[Tracer]): Unit = {
    val order = new scala.util.Random(a.seed * 1000003L + p).shuffle(Layers.queries)
    var wall = 0.0
    var rows = 0L
    var complete = true
    val recs = mutable.Map.empty[String, QueryRec]
    for (q <- order) {
      ledger.run(s"pass $p query $q") {
        val t0 = System.nanoTime()
        def execute(df: DataFrame): Unit =
          ExecPolicy.run(df)(_.write.format("noop").mode("overwrite").save())
        tracer match {
          case Some(t) => t.span(s"pass$p/$q") {
            val df = build(q)
            df.queryExecution.executedPlan
            val planMs = secondsSince(t0) * 1000
            val t1 = System.nanoTime()
            execute(df)
            recs(q) = new QueryRec(planMs, secondsSince(t1) * 1000)
          }
          case None => execute(build(q))
        }
        wall += secondsSince(t0)
        val d = digest(q)
        rows += d.rows
        expected.get(q) match {
          case Some(e) if e == d => Nil
          case e =>
            complete = false
            Seq(s"digest $d, expected ${e.getOrElse("none")}")
        }
      }
    }
    tracer.foreach(_.drain())
    if (p >= 0 && complete) passes += new PassRec(p, wall, rows, tracer.isDefined, recs.toMap)
  }

  /** Digests of every curation query on this session's tables, and of the
    * result dumps graft.Verify wrote under `digestDir` when it holds them. */
  private def writeDigests(): Unit = {
    setUp()
    val mine = Layers.queries.map(q => q -> digest(q))
    Digest.write(a.digests, mine)
    val vdir = a.digestDir.get
    mine.foreach { case (q, d) =>
      val dump = vdir.resolve(q)
      val verdict =
        if (!Files.isDirectory(dump)) "no dump"
        else if (Digest.of(spark.read.parquet(dump.toString).collect()) == d) "match"
        else "MISMATCH"
      ops.run(s"digest $q") { if (verdict == "MISMATCH") Seq("dump digest differs") else Nil }
      info(q) = s"${d.rows} rows ${d.hash} verify-dump: $verdict"
    }
  }
}
