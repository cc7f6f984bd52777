package relaybench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One Spark job as the traced run saw it: the benchmark span it ran under,
  * the graft frame that submitted it, and the task totals of its stages. */
final class JobRec(val span: String, val start: Long) {
  var end: Long = start
  var file = ""
  var method = ""
  var action = ""
  var tasks = 0L
  var runMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleWrite = 0L
  var spill = 0L
  def ms: Long = end - start
}

/** The traced run's listener. Spans are the benchmark's own calls into the
  * library: the benchmark names the span in a thread-local Spark property
  * before each public call, and every job submitted under it carries that
  * name. A job is attributed to a layer by the first `graft.` frame of its
  * call site; for SQL executions that is the execution's call site, since
  * adaptive query execution submits stages from a pool thread whose own call
  * site names only `CompletableFuture`. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val execSite = mutable.Map.empty[Long, (String, String)]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]

  def span[T](name: String)(f: => T): T = {
    sc.setLocalProperty(Tracer.SpanKey, name)
    try f finally sc.setLocalProperty(Tracer.SpanKey, null)
  }

  /** Wait until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.BusAccess.drain(sc)

  /** Jobs recorded so far, optionally only those under spans passing `keep`. */
  def jobsIn(keep: String => Boolean): Seq[JobRec] = synchronized {
    jobs.values.filter(j => keep(j.span)).toSeq
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSite(s.executionId) = (s.description, s.details)
    }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val props = Option(j.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).getOrElse("")
    val rec = new JobRec(span, j.time)
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong))
      .getOrElse(j.stageInfos.headOption.map(s => (s.name, s.details)).getOrElse(("", "")))
    val (file, method) = Tracer.graftFrame(site._2)
    rec.file = file; rec.method = method
    rec.action = site._1.takeWhile(_ != ' ')
    jobs(j.jobId) = rec
    j.stageIds.foreach(s => stageJob(s) = j.jobId)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(j.jobId).foreach(_.end = j.time)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(t.stageId); rec <- jobs.get(jid); m <- Option(t.taskMetrics)) {
      rec.tasks += 1
      rec.runMs += m.executorRunTime
      rec.inputBytes += m.inputMetrics.bytesRead
      rec.inputRecords += m.inputMetrics.recordsRead
      rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      rec.spill += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }
}

object Tracer {
  val SpanKey = "relaybench.span"

  private val Frame =
    """\s*(?:at\s+)?(?:graft|relaybench)\.([\w.$]+)\.([\w$]+)\((\w+\.scala):\d+\).*""".r

  /** (file, method) of the first graft frame in a long call site, or of the
    * benchmark's own frame for jobs the benchmark submits itself (reading
    * an outbox's file listing and schema). */
  def graftFrame(details: String): (String, String) =
    Option(details).iterator.flatMap(_.linesIterator).collectFirst {
      case Frame(_, method, file) => (file, method.stripPrefix("$anonfun$").takeWhile(_ != '$'))
    }.getOrElse(("", ""))

  /** Milliseconds of `[from, to)` covered by at least one job interval. */
  def covered(js: Seq[JobRec], from: Long, to: Long): Long = {
    var total = 0L
    var reach = from
    for (j <- js.sortBy(_.start)) {
      val s = math.max(j.start, reach)
      val e = math.min(j.end, to)
      if (e > s) { total += e - s; reach = e }
    }
    total
  }
}

/** Process-wide JVM counters read around the measured window. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Old-generation occupancy after a full collection, in MB: what the
    * run retains. Call it only outside timed work. */
  def oldGenAfterGcMb: Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }
}
