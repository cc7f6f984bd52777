package relaybench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{EnvironmentConfig, SinkEndpoint, TrackingObject}
import graft.state.ParquetStateStore
import graft.streaming.ChangeRelay

/** Shapes and inputs of the two relay workloads. */
object Relay {
  /** One environment: its objects and whether its broker endpoint is broken. */
  final case class Env(name: String, objects: Seq[String], endpoints: Seq[SinkEndpoint],
      deadLetters: Boolean)

  /** `replayEnv` runs the dead-letter replay pass after every cycle. */
  final case class Spec(
      name: String,
      envs: Seq[Env],
      replayEnv: String,
      history: Long,
      delta: Long) {
    def objects: Seq[String] = envs.flatMap(_.objects)
    /** Envelopes per object per cycle: the delta in batches of 1,000 rows. */
    def envelopes: Long = (delta + graft.model.Defaults.MaxRecordsPerBatch - 1) /
      graft.model.Defaults.MaxRecordsPerBatch
  }

  private val httpPlain = SinkEndpoint("hook", "http", "http://consumer.invalid/{environment}/{object}")
  private val httpGzip = httpPlain.copy(key = "hookgz", enableCompression = true)
  /** A kafka endpoint whose required connection field is empty: every
    * envelope sent to it fails its guard and dead-letters. */
  private val kafkaBroken =
    SinkEndpoint("events", "kafka", "changes", headers = Map("BootstrapServers" -> ""))
  private val sqs = SinkEndpoint("queue", "awssqs", "changes",
    headers = Map("QueueUrl" -> "https://queue.invalid/changes", "Region" -> "eu-west-1"))

  /** Eight small objects over two environments sharing one state store:
    * fixed per-job cost dominates, and one object dead-letters every cycle. */
  val Fanout: Spec = Spec("relay_fanout",
    Seq(Env("prod", (0 until 7).map(i => s"obj$i"), Seq(httpPlain), deadLetters = false),
      Env("flaky", Seq("obj7"), Seq(httpPlain, kafkaBroken), deadLetters = true)),
    replayEnv = "flaky", history = 100000L, delta = 1000L)

  /** One object with a large, growing history and a large delta: the scan,
    * encode and executor-side fan-out dominate. Its replay pass finds an
    * empty dead-letter table. */
  val Bulk: Spec = Spec("relay_bulk",
    Seq(Env("prod", Seq("bulk0"), Seq(httpGzip, sqs), deadLetters = false)),
    replayEnv = "prod", history = 1000000L, delta = 200000L)

  val Specs: Map[String, Spec] = Seq(Fanout, Bulk).map(s => s.name -> s).toMap

  /** Measured cycles per run, at least, however short `--seconds` is. Cycle
    * times fall over a run as the JIT warms, and the first cycle also pays
    * the export path's first use; a fixed count keeps the median at the
    * same point on that curve from run to run. */
  val MinCycles = 3

  /** Outbox rows `(from, from + n]` of every object, derived from
    * xxhash64(id, object, seed): an I/U/D mix, `xact_id`s out of order with
    * respect to `id`, and `changed` masks on updates. */
  def outboxRows(spark: SparkSession, objects: Seq[String], from: Long, n: Long,
      seed: Long): DataFrame = {
    val names = typedLit(objects)
    val h = xxhash64(col("id"), col("obj"), lit(seed))
    val op = pmod(shiftright(h, 8), lit(10))
    spark.range(0L, objects.size * n)
      .select(element_at(names, (col("id") / n).cast("int") + 1).as("obj"),
        (col("id") % n + from + 1).as("id"))
      .withColumn("h", h)
      .select(col("obj"), col("id"),
        (col("id") + pmod(col("h"), lit(64))).as("xact_id"),
        when(op < 6, "I").when(op < 9, "U").otherwise("D").as("operation"),
        when(op < 9, pmod(shiftright(col("h"), 16), lit(1000000)) / 100.0).as("value"),
        when(op < 9, to_json(struct(col("id").as("k"), hex(col("h")).as("tag"),
          (pmod(shiftright(col("h"), 24), lit(97))).as("qty")))).as("props"),
        when(op >= 6 && op < 9,
          element_at(typedLit(Seq(Seq("value"), Seq("props"), Seq("value", "props"))),
            (pmod(shiftright(col("h"), 32), lit(3)) + 1).cast("int"))).as("changed"))
  }

  private val json = new JsonFactory()

  /** The `$version` of every change row of one file-sink envelope. */
  def envelopeVersions(file: Path): Seq[Long] = {
    val p = json.createParser(file.toFile)
    try {
      val out = mutable.ArrayBuffer.empty[Long]
      var t = p.nextToken()
      while (t != null) {
        if (t == JsonToken.FIELD_NAME && p.currentName == "$version") {
          p.nextToken(); out += p.getLongValue
        }
        t = p.nextToken()
      }
      out.toSeq
    } finally p.close()
  }

  def files(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
}

/** A relay workload: seeded outboxes, the public `ChangeRelay.runCycles` /
  * `replayCycle` over one `ParquetStateStore`, closed-loop cycles. */
final class RelayWorkload(spec: Relay.Spec, a: Args, session: Session, ops: Ops,
    metrics: Metrics, info: mutable.Map[String, Any]) {
  import Main.{median, secondsSince}

  private val objects = spec.objects
  private var round: Path = a.root
  private def outboxRoot: Path = round.resolve("outbox")
  private def outbox(o: String): String = outboxRoot.resolve(s"obj=$o").toString
  private def sinkRoot: Path = round.resolve("sink")
  private var store: ParquetStateStore = _
  private var relays: Seq[(Relay.Env, ChangeRelay)] = Nil
  private var appended = 0L // change rows appended per object so far
  private var tracer: Option[Tracer] = None

  private def spark = session.spark

  private def tracked(o: String) = TrackingObject(o, "db0", s"t_$o", s"sp_$o")

  private def append(n: Long): Unit = {
    Relay.outboxRows(spark, objects, appended, n, a.seed)
      .write.mode("append").partitionBy("obj").parquet(outboxRoot.toString)
    appended += n
  }

  /** Each environment's poll: every object's change DataFrame over its
    * outbox, then one `runCycles`. */
  private def poll(name: Relay.Env => String): Map[String, (Long, Long)] =
    relays.map { case (e, relay) =>
      span(name(e)) {
        relay.runCycles(e.objects.map(o => tracked(o) -> spark.read.parquet(outbox(o))), nowUtc)
      }
    }.reduce(_ ++ _)

  private def span[T](name: String)(f: => T): T = tracer match {
    case Some(t) => t.span(name)(f)
    case None => f
  }

  private def nowUtc: String =
    java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss")
      .format(java.time.LocalDateTime.now(java.time.ZoneOffset.UTC))

  /** One set-up round: session start, history generation, state store and
    * the seed cycle that records every object's frontier. */
  private def setUp(r: Int): Double = {
    if (r > 1) Main.deleteTree(round)
    round = a.root.resolve(s"round$r")
    val t0 = System.nanoTime()
    session.start()
    val tSession = secondsSince(t0)
    appended = 0L
    append(spec.history)
    val tHistory = secondsSince(t0)
    store = new ParquetStateStore(spark, round.resolve("state").toString)
    val tpl = sinkRoot.toString + "/{environment}/{object}/b{batch}-{guid}.json"
    relays = spec.envs.map(e => e -> new ChangeRelay(spark, store,
      EnvironmentConfig(e.name, "postgres", e.objects.map(tracked), e.endpoints), Some(tpl)))
    val seeded = poll(_ => "seed")
    val s = secondsSince(t0)
    Main.log(f"set-up round $r: $s%.2f s (session $tSession%.2f, history ${tHistory - tSession}%.2f, " +
      f"seed cycle ${s - tHistory}%.2f)")
    ops.run(s"seed cycle, round $r") {
      val wm = watermarks()
      objects.filterNot(o => seeded.get(o).contains((0L, spec.history)) &&
        wm.get(o).contains(spec.history)).map(o => s"$o seeded at ${wm.get(o)}")
    }
    s
  }

  def run(): Unit = {
    val setups = (1 to Main.SetupRounds).map(setUp)
    metrics("setup_s") = (median(setups), "s")
    info("setup_rounds_s") = setups
    info("objects") = objects.size
    info("environments") = spec.envs.map(_.name)
    info("history_rows_per_object") = spec.history
    info("delta_rows_per_object") = spec.delta

    if (a.trace) tracer = Some(new Tracer(spark.sparkContext))
    val gc0 = Jvm.gcMs
    val cg0 = Jvm.codegenCompiles
    val t0 = System.nanoTime()
    var c = 0
    while (secondsSince(t0) < a.seconds || c < Relay.MinCycles) { cycle(c); c += 1 }

    val walls = cycles.map(_.wall)
    metrics("cycle_p50_s") = (median(walls), "s")
    metrics("rows_per_s") = (cycles.map(_.rows).sum / walls.sum, "1/s")
    info("cycles") = cycles.size
    info("cycle_s") = walls
    info("replay_s") = cycles.map(_.replay)
    info("cycle_tail") = Main.tail(walls)
    info("outbox_files") = objects.map(o =>
      o -> Relay.files(Path.of(outbox(o))).count(_.toString.endsWith(".parquet"))).toMap
    tracer.foreach(t => layers(t, (Jvm.gcMs - gc0).toDouble / c,
      (Jvm.codegenCompiles - cg0).toDouble / c))
    Main.deleteTree(round)
  }

  /** What one measured cycle did. */
  private final class Cycle(val index: Int, val wall: Double, val replay: Double,
      val traced: Boolean, val startMs: Long, val rows: Long, val files: Long, val bytes: Long,
      val deadLetters: Long, val replayed: Long, val commits: Long)
  private val cycles = mutable.ArrayBuffer.empty[Cycle]

  /** Append a delta (untimed), time every environment's poll, check it,
    * then time the replay pass and check it. A traced run traces every
    * other cycle; the rest measure the tracing overhead. */
  private def cycle(c: Int): Unit = {
    append(spec.delta)
    val traced = tracer.isDefined && Layers.traces(c)
    tracer.foreach { t =>
      if (traced) spark.sparkContext.addSparkListener(t)
      else spark.sparkContext.removeSparkListener(t)
    }
    val commits0 = store.commitCount
    val startMs = System.currentTimeMillis()
    var wall, replay = Double.NaN
    var rows, files, bytes, deadLetters, replayed = 0L
    ops.run(s"cycle $c") {
      val t0 = System.nanoTime()
      val results = poll(e => s"cycle$c/${e.name}")
      wall = secondsSince(t0)
      rows = results.values.map(_._1).sum
      val written = Relay.files(sinkRoot)
      files = written.size
      bytes = written.map(Files.size(_)).sum
      deadLetters = store.deadLetters.count()
      checkCycle(results, appended) ++ Seq(s"$deadLetters dead letters, expected $expectDeadLetters")
        .filter(_ => deadLetters != expectDeadLetters)
    }
    Main.deleteTree(sinkRoot)
    ops.run(s"replay $c") {
      val relay = relays.collectFirst { case (e, r) if e.name == spec.replayEnv => r }.get
      val t0 = System.nanoTime()
      val (ok, bad) = span(s"replay$c") {
        relay.replayCycle((_: String, _: String) => true,
          new java.sql.Timestamp(System.currentTimeMillis()))
      }
      replay = secondsSince(t0)
      replayed = ok
      val left = store.deadLetters.count()
      Seq(s"replayed $ok, failed $bad of $deadLetters").filter(_ => ok != deadLetters || bad != 0) ++
        Seq(s"$left dead letters remain after replay").filter(_ => left != 0)
    }
    tracer.foreach(_.drain())
    Main.log(f"cycle $c: poll $wall%.2f s, replay $replay%.2f s")
    if (!wall.isNaN && !replay.isNaN)
      cycles += new Cycle(c, wall, replay, traced, startMs, rows, files, bytes, deadLetters,
        replayed, store.commitCount - commits0)
  }

  /** Every object of a dead-lettering environment loses each envelope. */
  private val expectDeadLetters: Long =
    spec.envs.filter(_.deadLetters).map(_.objects.size).sum * spec.envelopes

  private def watermarks(): Map[String, Long] =
    store.watermarks.select("object_name", "last_version").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Rows and watermark per object, the stored watermarks, and the sink
    * envelopes: exactly the appended delta's versions. */
  private def checkCycle(results: Map[String, (Long, Long)], top: Long): Seq[String] = {
    val wm = watermarks()
    val expected = (top - spec.delta + 1) to top
    for {
      e <- spec.envs
      o <- e.objects
      problem <- {
        val (rows, version) = results.getOrElse(o, (-1L, -1L))
        val envelopes = Relay.files(sinkRoot.resolve(e.name).resolve(o))
        val versions = envelopes.flatMap(Relay.envelopeVersions).sorted
        Seq(
          s"$o exported $rows rows, expected ${spec.delta}" -> (rows != spec.delta),
          s"$o returned watermark $version, expected $top" -> (version != top),
          s"$o stored watermark ${wm.get(o)}, expected $top" -> !wm.get(o).contains(top),
          s"$o wrote ${envelopes.size} envelopes, expected ${spec.envelopes}" ->
            (envelopes.size != spec.envelopes),
          s"$o envelopes carry ${versions.size} rows, not exactly versions " +
            s"${expected.head}..${expected.last}" -> (versions != expected)
        ).collect { case (msg, true) => msg }
      }
    } yield problem
  }

  /** Per-layer metrics over the traced cycles, each a per-cycle mean. */
  private def layers(t: Tracer, gcMsPerCycle: Double, compilesPerCycle: Double): Unit = {
    val traced = cycles.filter(_.traced).toSeq
    val n = traced.size.max(1).toDouble
    val jobsOf = traced.map(c => c -> t.jobsIn(_.startsWith(s"cycle${c.index}/"))).toMap
    val inCycles = jobsOf.values.flatten.toSeq
    val inReplays = t.jobsIn(s => traced.exists(c => s == s"replay${c.index}"))
    def perCycle(xs: Seq[JobRec])(f: JobRec => Long): Double = xs.map(f).sum / n
    def mean(f: Cycle => Double): Double = traced.map(f).sum / n
    // Layers by submitting frame: the stats aggregate is the cycle body's
    // one `head`; its other jobs, and the batch numbering and envelope
    // encode under them, are the export.
    val stats = inCycles.filter(j => j.method == "cycleCore" && j.action == "head")
    val export = inCycles.filter(j => (j.method == "cycleCore" && j.action != "head") ||
      j.file == "Envelope.scala" || j.file == "Windows.scala")
    val m = Seq[(String, Double)](
      "relay.jobs_per_cycle" -> inCycles.size / n,
      "relay.jobs_per_object" -> inCycles.size / n / objects.size,
      "relay.tasks_per_cycle" -> perCycle(inCycles)(_.tasks),
      "relay.driver_gap_ms" -> mean(c => c.wall * 1000 -
        Tracer.covered(jobsOf(c), c.startMs, c.startMs + (c.wall * 1000).toLong)),
      "relay.executor_busy_share" -> inCycles.map(_.runMs).sum /
        (traced.map(_.wall).sum * 1000 * Main.cpus).max(1e-9),
      "state.commits_per_cycle" -> mean(_.commits.toDouble),
      "state.commit_ms" -> perCycle((inCycles ++ inReplays).filter(_.file == "Stores.scala"))(_.ms),
      "state.snapshot_bytes" -> Main.treeBytes(round.resolve("state")).toDouble,
      "state.dead_letters_rows" -> mean(_.deadLetters.toDouble),
      "incremental.horizon_ms" -> perCycle(inCycles.filter(_.method.endsWith("Horizon")))(_.ms),
      "incremental.stats_ms" -> perCycle(stats)(_.ms),
      "incremental.rows_read_per_row_delivered" ->
        inCycles.map(_.inputRecords).sum / traced.map(_.rows).sum.max(1L).toDouble,
      "incremental.bytes_read" -> perCycle(inCycles)(_.inputBytes),
      "envelope.export_ms" -> perCycle(export)(_.ms),
      // The file sink writes one file per envelope.
      "envelope.count" -> mean(_.files.toDouble),
      "envelope.shuffle_write_bytes" -> perCycle(export)(_.shuffleWrite),
      "sinks.files_written" -> mean(_.files.toDouble),
      "sinks.bytes_written" -> mean(_.bytes.toDouble),
      "sinks.failures" -> mean(_.deadLetters.toDouble),
      "dlq.appended_per_cycle" -> mean(_.deadLetters.toDouble),
      "dlq.replayed_per_cycle" -> mean(_.replayed.toDouble),
      "dlq.replay_jobs" -> inReplays.size / n,
      "dlq.replay_ms" -> mean(_.replay * 1000))
    val units = Layers.relay.toMap
    m.foreach { case (k, v) => metrics(k) = (v, units(k)) }
    Layers.jvmAndOverhead(metrics, gcMsPerCycle, compilesPerCycle,
      cycles.map(c => (c.wall, c.traced)).toSeq)
    info("traced_cycles") = traced.size
    info("jobs_by_call_site") = Layers.bySite(inCycles ++ inReplays, n)
  }
}
