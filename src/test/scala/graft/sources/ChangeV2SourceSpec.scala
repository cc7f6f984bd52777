package graft.sources

import java.sql.DriverManager

import graft.SparkSpec
import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.types._

/** S1 (DSv2 flavor) — the `graft-change` MicroBatchStream driven end-to-end
  * against an embedded Derby database (the only live JDBC endpoint available
  * offline; the reader path is the same plain-JDBC range query a deployment
  * runs against mssql/postgres). The streaming engine owns the watermark:
  * offsets live in the query checkpoint, so restart recovery is Spark's WAL,
  * not the relay's ParquetStateStore. */
class ChangeV2SourceSpec extends SparkSpec {

  private def withDb(name: String)(f: String => Unit): Unit = {
    val url = s"jdbc:derby:memory:$name;create=true"
    val cn = DriverManager.getConnection(url)
    try {
      cn.createStatement().execute(
        "CREATE TABLE outbox (id BIGINT NOT NULL, xact_id BIGINT NOT NULL, " +
          "payload VARCHAR(100))")
    } finally cn.close()
    try f(s"jdbc:derby:memory:$name")
    finally { // drop the in-memory db so test names can be reused
      try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true")
      catch { case _: java.sql.SQLException => () } // drop "fails" with 08006
    }
  }

  private def insert(url: String, rows: (Long, Long, String)*): Unit = {
    val cn = DriverManager.getConnection(url)
    try {
      val ps = cn.prepareStatement("INSERT INTO outbox VALUES (?, ?, ?)")
      rows.foreach { case (id, x, p) =>
        ps.setLong(1, id); ps.setLong(2, x); ps.setString(3, p)
        ps.executeUpdate()
      }
    } finally cn.close()
  }

  private def readChange(url: String, opts: Map[String, String] = Map.empty) =
    opts.foldLeft(
      spark.readStream.format("graft-change")
        .option("url", url).option("table", "outbox")
    ) { case (r, (k, v)) => r.option(k, v) }.load()

  private def memRows(name: String): Set[(Long, Long, String)] =
    spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  /** foreachBatch sink into a driver buffer — unlike the memory sink it
    * supports checkpoint RECOVERY, which is the point of the DSv2 flavor. */
  private def startCollecting(df: org.apache.spark.sql.DataFrame, ckpt: String,
                              buf: java.util.concurrent.CopyOnWriteArrayList[(Long, Long, String)]) =
    df.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.collect().foreach(r => buf.add((r.getLong(0), r.getLong(1), r.getString(2))))
        ()
      }
      .option("checkpointLocation", ckpt).start()

  private def rowsOf(buf: java.util.concurrent.CopyOnWriteArrayList[(Long, Long, String)]) = {
    import scala.jdk.CollectionConverters._
    buf.asScala.toSet
  }

  test("micro-batch reads, incremental continuity, and checkpoint restart " +
    "recovery against a live Derby outbox") {
    withDb("cv2main") { url =>
      insert(url, (1L, 1L, "a"), (2L, 2L, "b"))
      val ckpt = java.nio.file.Files.createTempDirectory("cv2ckpt").toString
      val buf1 = new java.util.concurrent.CopyOnWriteArrayList[(Long, Long, String)]()
      val q1 = startCollecting(
        readChange(url, Map("startMode" -> "earliest", "numPartitions" -> "3")),
        ckpt, buf1)
      try {
        q1.processAllAvailable()
        assert(rowsOf(buf1) == Set((1L, 1L, "a"), (2L, 2L, "b")))
        // continuity: appended rows arrive exactly once in a later batch
        insert(url, (3L, 3L, "c"))
        q1.processAllAvailable()
        assert(buf1.size == 3, "each version must arrive exactly once")
        assert(rowsOf(buf1) == Set((1L, 1L, "a"), (2L, 2L, "b"), (3L, 3L, "c")))
      } finally q1.stop()

      // recovery: a restart on the same checkpoint must resume from the
      // committed offset — the fresh buffer sees ONLY the new row
      insert(url, (4L, 4L, "d"))
      val buf2 = new java.util.concurrent.CopyOnWriteArrayList[(Long, Long, String)]()
      val q2 = startCollecting(readChange(url), ckpt, buf2)
      try {
        q2.processAllAvailable()
        assert(rowsOf(buf2) == Set((4L, 4L, "d")),
          "already-committed versions must not replay after restart")
      } finally q2.stop()
    }
  }

  test("seed start mode: watermark from the current gated frontier, zero " +
    "backfill rows (S8)") {
    withDb("cv2seed") { url =>
      insert(url, (1L, 1L, "old"), (2L, 2L, "old"))
      val ckpt = java.nio.file.Files.createTempDirectory("cv2ckpt").toString
      val q = readChange(url) // startMode defaults to seed
        .writeStream.format("memory").queryName("cv2_seed")
        .option("checkpointLocation", ckpt).start()
      try {
        q.processAllAvailable()
        assert(memRows("cv2_seed").isEmpty, "seed must emit no pre-existing rows")
        insert(url, (3L, 3L, "new"))
        q.processAllAvailable()
        assert(memRows("cv2_seed") == Set((3L, 3L, "new")))
      } finally q.stop()
    }
  }

  test("horizon gate: in-flight transactions are excluded AND the offset is " +
    "gated with them; they arrive after the horizon advances (P2/A2/T3)") {
    withDb("cv2hz") { url =>
      // xact 5 is "in-flight" under horizon 3 — its row must neither be
      // emitted nor watermarked past
      insert(url, (1L, 1L, "a"), (2L, 2L, "b"), (5L, 5L, "inflight"))
      val ckpt = java.nio.file.Files.createTempDirectory("cv2ckpt").toString
      val buf1 = new java.util.concurrent.CopyOnWriteArrayList[(Long, Long, String)]()
      val q1 = startCollecting(readChange(url,
        Map("startMode" -> "earliest", "horizonSql" -> "VALUES CAST(3 AS BIGINT)")),
        ckpt, buf1)
      try {
        q1.processAllAvailable()
        assert(rowsOf(buf1) == Set((1L, 1L, "a"), (2L, 2L, "b")))
      } finally q1.stop()

      // horizon advances (default = committed frontier max(xact)+1): the
      // restarted query picks up the late transaction exactly once
      val buf2 = new java.util.concurrent.CopyOnWriteArrayList[(Long, Long, String)]()
      val q2 = startCollecting(readChange(url), ckpt, buf2)
      try {
        q2.processAllAvailable()
        assert(rowsOf(buf2) == Set((5L, 5L, "inflight")))
      } finally q2.stop()
    }
  }

  test("relay over the DSv2 source: engine offsets drive the cycle, exports " +
    "land, the store watermark tracks, restart resumes (S1/T1/T2)") {
    import graft.model.{EnvironmentConfig, TrackingObject}
    import graft.state.ParquetStateStore
    import graft.streaming.ChangeRelay
    val name = "cv2relay"
    val url0 = s"jdbc:derby:memory:$name;create=true"
    val cn = DriverManager.getConnection(url0)
    try cn.createStatement().execute(
      "CREATE TABLE outbox (id BIGINT NOT NULL, xact_id BIGINT NOT NULL, " +
        "operation VARCHAR(1), value DOUBLE, props VARCHAR(200), changed VARCHAR(50))")
    finally cn.close()
    val url = s"jdbc:derby:memory:$name"
    def put(rows: (Long, Long, String, Double, String)*): Unit = {
      val c = DriverManager.getConnection(url)
      try {
        val ps = c.prepareStatement("INSERT INTO outbox VALUES (?, ?, ?, ?, ?, NULL)")
        rows.foreach { case (id, x, op, v, p) =>
          ps.setLong(1, id); ps.setLong(2, x); ps.setString(3, op)
          ps.setDouble(4, v); ps.setString(5, p); ps.executeUpdate()
        }
      } finally c.close()
    }
    val root = java.nio.file.Files.createTempDirectory("cv2relay")
    val store = new ParquetStateStore(spark, root.resolve("state").toString)
    val obj = TrackingObject("orders", "db0", "t", "sp")
    val cfg = EnvironmentConfig("prod", "postgres", Seq(obj), Nil, pollingIntervalSeconds = 1)
    val tpl = root.resolve("exports").toString + "/{object}-{timestamp}-{batch}.json"
    val relay = new ChangeRelay(spark, store, cfg, Some(tpl))
    store.setWatermark("prod", "orders", 0L)
    put((1L, 1L, "I", 1.0, "{}"), (2L, 2L, "U", 2.0, "{}"))
    val opts = Map("url" -> url, "table" -> "outbox", "startMode" -> "earliest")
    val ckpt = root.resolve("ckpt").toString
    def exports(): Long = {
      val dir = root.resolve("exports")
      if (!java.nio.file.Files.exists(dir)) 0L
      else java.nio.file.Files.walk(dir).filter(java.nio.file.Files.isRegularFile(_)).count()
    }
    // wire-to-relay adapter: the JDBC table stores the $changed mask as a
    // delimited VARCHAR; the relay contract wants array<string>
    import org.apache.spark.sql.functions.{col, split, when}
    val adapt = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("changed",
        when(col("changed").isNotNull, split(col("changed"), ",")))
    val q1 = ChangeRelay.streamFromChangeSource(spark, relay, _ => opts, ckpt, adapt = _ => adapt)
    try {
      q1.processAllAvailable()
      assert(store.getWatermark("prod", "orders").contains(2L))
      assert(exports() == 1, "one export file for the first non-empty batch")
      put((3L, 3L, "D", 0.0, null))
      q1.processAllAvailable()
      assert(store.getWatermark("prod", "orders").contains(3L))
      assert(exports() == 2)
    } finally q1.stop()
    // recovery: a restart on the same checkpoint resumes from the
    // committed engine offset — only the new version exports, exactly once
    put((4L, 4L, "I", 4.0, "{}"))
    val q2 = ChangeRelay.streamFromChangeSource(spark, relay, _ => opts, ckpt, adapt = _ => adapt)
    try {
      q2.processAllAvailable()
      assert(store.getWatermark("prod", "orders").contains(4L))
      assert(exports() == 3, "committed versions must not re-export after restart")
    } finally q2.stop()
    try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true")
    catch { case _: java.sql.SQLException => () }
  }

  test("one poller over two graft-change sources: one commit per trigger, one checkpoint, restart resumes each") {
    import graft.model.{EnvironmentConfig, TrackingObject}
    import graft.state.ParquetStateStore
    import graft.streaming.ChangeRelay
    import org.apache.spark.sql.functions.{col, split, when}
    val url = "jdbc:derby:memory:cv2env"
    val tables = Seq("orders", "items")
    val cn = DriverManager.getConnection(url + ";create=true")
    try tables.foreach(t => cn.createStatement().execute(s"CREATE TABLE ${t}_ct (id BIGINT NOT NULL, " +
      "xact_id BIGINT NOT NULL, operation VARCHAR(1), value DOUBLE, props VARCHAR(200), changed VARCHAR(50))"))
    finally cn.close()
    def put(table: String, id: Long): Unit = {
      val c = DriverManager.getConnection(url)
      try c.createStatement().executeUpdate(s"INSERT INTO ${table}_ct VALUES ($id, $id, 'I', 1.0, '{}', NULL)")
      finally c.close()
    }
    val root = java.nio.file.Files.createTempDirectory("cv2env")
    val store = new ParquetStateStore(spark, root.resolve("state").toString)
    val objs = tables.map(TrackingObject(_, "db0", "t", "sp"))
    val relay = new ChangeRelay(spark, store,
      EnvironmentConfig("prod", "postgres", objs, Nil, pollingIntervalSeconds = 1),
      Some(root.resolve("exports").toString + "/{object}/{timestamp}-{batch}.json"))
    store.setWatermarks(tables.map(("prod", _, 0L)))
    def exports(t: String): Long = {
      val dir = root.resolve("exports").resolve(t)
      if (!java.nio.file.Files.exists(dir)) 0L else java.nio.file.Files.list(dir).count()
    }
    def start() = ChangeRelay.streamFromChangeSource(spark, relay,
      o => Map("url" -> url, "table" -> s"${o.name}_ct", "startMode" -> "earliest"),
      root.resolve("ckpt").toString,
      adapt = _ => _.withColumn("changed", when(col("changed").isNotNull, split(col("changed"), ","))))
    put("orders", 1L); put("items", 7L)
    val before = store.commitCount
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(store.commitCount == before + 1, "both sources' rows in one trigger, one commit")
    assert(store.watermarksOf("prod") == Map("orders" -> 1L, "items" -> 7L))
    assert(tables.map(exports) == Seq(1L, 1L))
    put("items", 8L)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(store.watermarksOf("prod") == Map("orders" -> 1L, "items" -> 8L))
    assert(tables.map(exports) == Seq(1L, 2L), "each source resumes from its own committed offset")
    try DriverManager.getConnection(url + ";drop=true")
    catch { case _: java.sql.SQLException => () }
  }

  test("schema inference maps the JDBC shape; unsupported start modes rejected") {
    withDb("cv2schema") { url =>
      val df = readChange(url)
      assert(df.schema == StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("XACT_ID", LongType, nullable = false),
        StructField("PAYLOAD", StringType))))
      val err = intercept[IllegalArgumentException] {
        ChangeV2.conf(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("url", url, "table", "outbox", "startMode", "bogus")))
      }
      assert(err.getMessage.contains("startMode"))
      // a non-positive partition count would plan zero slices while
      // offsets advance — silent data loss; must be refused up front
      val err2 = intercept[IllegalArgumentException] {
        ChangeV2.conf(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("url", url, "table", "outbox", "numPartitions", "0")))
      }
      assert(err2.getMessage.contains("numPartitions"))
    }
  }

  test("column pruning reaches the slice SQL: a projection over the stream " +
    "SELECTs only the pruned columns, ranges stay WHERE-only") {
    withDb("cv2prune") { url =>
      insert(url, (1L, 1L, "a"), (2L, 2L, "b"))
      val conf = ChangeV2.conf(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("url", url, "table", "outbox")))
      val full = ChangeV2.inferSchema(conf)
      val builder = new ChangeScanBuilder(full, conf)
      builder.pruneColumns(StructType(Seq(StructField("PAYLOAD", StringType))))
      val scan = builder.build()
      assert(scan.readSchema().fieldNames.toSeq == Seq("PAYLOAD"))
      val sql = ChangeV2.sliceSql(scan.readSchema(), conf, ChangeSlice(0L, 2L, 3L))
      assert(sql.startsWith("SELECT PAYLOAD FROM outbox"),
        s"projection must reach the database: $sql")
      assert(sql.contains("WHERE id > 0 AND id <= 2 AND xact_id < 3"))
      // BATCH flavor: spark.read over the gated snapshot, where Spark's
      // V2ScanRelationPushDown genuinely engages the pruning (the probe
      // counter must move — measured: streaming scans never call it)
      val before = ChangeV2.prunedCalls.get()
      val batch = spark.read.format("graft-change")
        .option("url", url).option("table", "outbox").load()
        .select("payload")
      assert(batch.collect().map(_.getString(0)).toSet == Set("a", "b"))
      assert(ChangeV2.prunedCalls.get() > before,
        "the engine never called pruneColumns on the batch scan")
      // end-to-end streaming projection still delivers correct values
      // (pruning does not engage there in current Spark; Spark projects)
      val ckpt = java.nio.file.Files.createTempDirectory("cv2ckpt").toString
      val q = readChange(url, Map("startMode" -> "earliest"))
        .select("payload")
        .writeStream.format("memory").queryName("cv2_prune")
        .option("checkpointLocation", ckpt).start()
      try {
        q.processAllAvailable()
        assert(spark.table("cv2_prune").collect().map(_.getString(0)).toSet
          == Set("a", "b"))
      } finally q.stop()
    }
  }

  test("filter pushdown: exact-semantics predicates reach the slice SQL, " +
    "floats and disjunctions stay Spark-side, results stay correct") {
    import org.apache.spark.sql.sources._
    withDb("cv2filter") { url =>
      insert(url, (1L, 1L, "keep"), (2L, 2L, "drop"), (3L, 3L, "keep"))
      val conf = ChangeV2.conf(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("url", url, "table", "outbox")))
      val full = ChangeV2.inferSchema(conf)
      // unit: the translatable subset
      assert(ChangeV2.filterSql(EqualTo("PAYLOAD", "ke'ep"), full)
        .contains("PAYLOAD = 'ke''ep'"), "strings escape by doubling quotes")
      assert(ChangeV2.filterSql(In("ID", Array(1L, 3L)), full)
        .contains("ID IN (1, 3)"))
      assert(ChangeV2.filterSql(IsNotNull("PAYLOAD"), full)
        .contains("PAYLOAD IS NOT NULL"))
      assert(ChangeV2.filterSql(EqualTo("PAYLOAD", 1.5), full).isEmpty,
        "float literals must stay Spark-side")
      assert(ChangeV2.filterSql(EqualTo("nope", 1L), full).isEmpty,
        "unknown columns must stay Spark-side")
      assert(ChangeV2.filterSql(
        Or(EqualTo("ID", 1L), EqualTo("ID", 2L)), full).isEmpty,
        "disjunctions stay Spark-side")
      // the builder partitions pushed vs residual; STRING comparisons are
      // pushed as a prefilter AND returned for Spark to re-apply (database
      // collation may diverge from Spark's binary comparison)
      val b = new ChangeScanBuilder(full, conf)
      val residual = b.pushFilters(Array(
        EqualTo("PAYLOAD", "keep"), IsNotNull("PAYLOAD"),
        Or(EqualTo("ID", 1L), EqualTo("ID", 2L))))
      assert(b.pushedFilters().length == 2, "string EqualTo + IsNotNull push")
      assert(residual.toSet ==
        Set(Or(EqualTo("ID", 1L), EqualTo("ID", 2L)), EqualTo("PAYLOAD", "keep")),
        "the Or stays residual; the string EqualTo is pushed AND rechecked")
      // end-to-end: the database evaluates the predicate inside each slice
      val got = spark.read.format("graft-change")
        .option("url", url).option("table", "outbox").load()
        .filter("payload = 'keep'")
        .collect().map(r => (r.getLong(0), r.getString(2))).toSet
      assert(got == Set((1L, "keep"), (3L, "keep")))
      // zero-column pruning (count over no columns) must not render
      // broken SQL — the JDBC constant-select convention
      assert(ChangeV2.sliceSql(new StructType(), conf, ChangeSlice(0L, 3L, 4L))
        .startsWith("SELECT 1 FROM outbox"))
      assert(spark.read.format("graft-change")
        .option("url", url).option("table", "outbox").load().count() == 3L)
    }
  }

  test("type coverage: timestamp, decimal, double, boolean, and NULLs " +
    "round-trip through the slice readers") {
    val name = "cv2types"
    val cn = DriverManager.getConnection(s"jdbc:derby:memory:$name;create=true")
    try {
      val st = cn.createStatement()
      st.execute("CREATE TABLE outbox (id BIGINT NOT NULL, xact_id BIGINT NOT NULL, " +
        "ts TIMESTAMP, amount DECIMAL(10,2), ratio DOUBLE, flag BOOLEAN, note VARCHAR(20))")
      st.execute("INSERT INTO outbox VALUES " +
        "(1, 1, TIMESTAMP('2026-03-01 12:34:56'), 12345.67, 0.25, true, 'x'), " +
        "(2, 2, NULL, NULL, NULL, NULL, NULL)")
    } finally cn.close()
    val url = s"jdbc:derby:memory:$name"
    try {
      val df = spark.read.format("graft-change")
        .option("url", url).option("table", "outbox").load()
      assert(df.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq
        == Seq(("ID", "bigint"), ("XACT_ID", "bigint"), ("TS", "timestamp"),
          ("AMOUNT", "decimal(10,2)"), ("RATIO", "double"),
          ("FLAG", "boolean"), ("NOTE", "string")))
      val rows = df.orderBy("ID").collect()
      assert(rows.length == 2)
      val r1 = rows(0)
      assert(r1.getAs[java.math.BigDecimal]("AMOUNT")
        .compareTo(new java.math.BigDecimal("12345.67")) == 0)
      assert(r1.getAs[Double]("RATIO") == 0.25 && r1.getAs[Boolean]("FLAG"))
      assert(r1.getAs[java.sql.Timestamp]("TS").toString.startsWith("2026-03-01 12:34:56"))
      val r2 = rows(1)
      Seq("TS", "AMOUNT", "RATIO", "FLAG", "NOTE").foreach(c =>
        assert(r2.isNullAt(r2.fieldIndex(c)), s"NULL $c must survive the reader"))
    } finally {
      try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true")
      catch { case _: java.sql.SQLException => () }
    }
  }

  test("planInputPartitions: contiguous disjoint version slices covering " +
    "(start, end], horizon pinned from the END offset, empty delta = no work") {
    val conf = ChangeV2.Conf("jdbc:none", "", "", "", "outbox", "id", "xact_id",
      numPartitions = 4, fetchSize = 100, startMode = "earliest",
      startVersion = 0L, horizonSql = None, sessionInit = None)
    val stream = new ChangeMicroBatchStream(new StructType(), conf)
    def plan(s: Long, e: Long, h: Long) = stream
      .planInputPartitions(ChangeOffset(s, h - 1): Offset, ChangeOffset(e, h): Offset)
      .map(_.asInstanceOf[ChangeSlice])
    val slices = plan(10L, 20L, 99L)
    assert(slices.length == 4)
    assert(slices.head.lo == 10L && slices.last.hi == 20L)
    assert(slices.sliding(2).forall { case Array(a, b) => a.hi == b.lo },
      "slices must be contiguous")
    assert(slices.map(s => s.hi - s.lo).sum == 10L)
    assert(slices.forall(_.horizon == 99L), "replay determinism: end offset's horizon")
    assert(plan(7L, 9L, 1L).length == 2, "span below numPartitions = one slice per version")
    assert(plan(5L, 5L, 1L).isEmpty, "empty delta plans zero partitions")
    // offset json roundtrip (what the checkpoint WAL stores)
    val off = ChangeOffset(123L, 456L)
    assert(ChangeOffset.parse(off.json()) == off)
  }

  test("slices: timestamp-like version domains don't overflow — epoch-micro " +
    "bounds stay contiguous, disjoint, and in-range") {
    // span ~1.7e18: the naive span*(i+1) intermediate overflows Long and
    // produced garbage bounds (silent data loss) before the q/r decomposition.
    val from = 0L
    val end = 1700000000000000000L
    val slices = ChangeV2.slices(from, end, end + 1, 8).map(_.asInstanceOf[ChangeSlice])
    assert(slices.length == 8)
    assert(slices.head.lo == from && slices.last.hi == end)
    assert(slices.sliding(2).forall { case Array(a, b) => a.hi == b.lo })
    assert(slices.forall(s => s.lo >= from && s.hi <= end && s.lo < s.hi))
    // bit-identical to the naive form where that form is safe
    val small = ChangeV2.slices(10L, 20L, 99L, 4).map(_.asInstanceOf[ChangeSlice])
    assert(small.map(s => (s.lo, s.hi)).toSeq ==
      (0 until 4).map(i => (10L + 10L * i / 4, 10L + 10L * (i + 1) / 4)))
  }

  test("slices: randomized invariants — contiguous, disjoint, in-range, " +
    "full coverage — across huge and tiny spans") {
    val rnd = new scala.util.Random(20260816L)
    for (_ <- 1 to 200) {
      val from = rnd.nextLong() % (Long.MaxValue / 4)
      val span = math.abs(rnd.nextLong()) % (Long.MaxValue / 2)
      val end = from + span // no overflow: |from| < 2^61, span < 2^62
      val n = 1 + rnd.nextInt(64)
      val slices = ChangeV2.slices(from, end, end, n).map(_.asInstanceOf[ChangeSlice])
      if (span <= 0) assert(slices.isEmpty)
      else {
        assert(slices.length == math.min(n.toLong, span).toInt)
        assert(slices.head.lo == from && slices.last.hi == end)
        assert(slices.forall(s => s.lo < s.hi))
        assert(slices.sliding(2).forall {
          case Array(a, b) => a.hi == b.lo
          case _ => true
        })
      }
    }
  }

  test("deserializeOffset: the monotone guard orders on the (version, horizon) " +
    "PAIR — equal version with a higher horizon displaces a stale last") {
    val conf = ChangeV2.Conf("jdbc:none", "", "", "", "outbox", "id", "xact_id",
      numPartitions = 2, fetchSize = 100, startMode = "earliest",
      startVersion = 0L, horizonSql = None, sessionInit = None)
    val stream = new ChangeMicroBatchStream(new StructType(), conf)
    stream.deserializeOffset("""{"version":10,"horizon":5}""")
    assert(stream.lastOffset == ChangeOffset(10L, 5L))
    stream.deserializeOffset("""{"version":10,"horizon":9}""")
    assert(stream.lastOffset == ChangeOffset(10L, 9L),
      "equal version, higher horizon must displace the stale last")
    stream.deserializeOffset("""{"version":10,"horizon":7}""")
    assert(stream.lastOffset == ChangeOffset(10L, 9L),
      "a replayed lower pair never regresses the guard")
    stream.deserializeOffset("""{"version":11,"horizon":2}""")
    assert(stream.lastOffset == ChangeOffset(11L, 2L),
      "a version advance adopts regardless of horizon (lexicographic order)")
  }

  test("filter pushdown refuses backslash-carrying string literals (dialect " +
    "escape divergence would let the prefilter drop rows the recheck can't restore)") {
    import org.apache.spark.sql.sources._
    val schema = StructType(Seq(StructField("payload", StringType)))
    assert(ChangeV2.filterSql(EqualTo("payload", "a\\b"), schema).isEmpty,
      "backslash string must stay Spark-side")
    assert(ChangeV2.filterSql(EqualTo("payload", "o'brien"), schema)
      .contains("payload = 'o''brien'"), "quote doubling still pushes")
    assert(ChangeV2.filterSql(In("payload", Array("x", "a\\b")), schema).isEmpty,
      "one bad member poisons the IN list")
  }

  test("conf refuses procedure-only dialect configs with a pointer at the " +
    "foreachBatch relay (mssql EXEC + CHANGETABLE cannot be range-sliced)") {
    def confOf(opts: Map[String, String]) = {
      val m = new java.util.HashMap[String, String]()
      opts.foreach { case (k, v) => m.put(k, v) }
      ChangeV2.conf(new org.apache.spark.sql.util.CaseInsensitiveStringMap(m))
    }
    val base = Map("url" -> "jdbc:none", "table" -> "outbox")
    confOf(base) // sanity: the table shape is accepted
    // a sqlserver table-shaped feed still gets the dialect's TEXTSIZE init;
    // an explicit sessionInitStatement wins over the dialect's
    assert(confOf(base + ("provider" -> "sqlserver")).sessionInit
      .contains("SET TEXTSIZE 2147483647; SET ANSI_WARNINGS OFF"))
    assert(confOf(base ++ Map("provider" -> "sqlserver",
      "sessionInitStatement" -> "SET NOCOUNT ON")).sessionInit.contains("SET NOCOUNT ON"))
    assert(confOf(base + ("provider" -> "postgres")).sessionInit.isEmpty)
    val e1 = intercept[IllegalArgumentException] {
      confOf(base + ("procedure" -> "dbo.GetChanges"))
    }
    assert(e1.getMessage.contains("foreachBatch relay"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      confOf(Map("url" -> "jdbc:none",
        "table" -> "EXEC dbo.GetChanges @Parameter = '{}'"))
    }
    assert(e2.getMessage.contains("foreachBatch relay"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      confOf(Map("url" -> "jdbc:none",
        "table" -> "(SELECT * FROM CHANGETABLE(CHANGES dbo.t, 0) c) x"))
    }
    assert(e3.getMessage.contains("foreachBatch relay"), e3.getMessage)
  }

  test("U1/S1: OutboxSource honors the sync/seed contract") {
    import graft.model.{EnvironmentConfig, TrackingObject}
    import graft.state.ParquetStateStore
    import graft.streaming.ChangeRelay
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    import java.nio.file.Files
    // The outbox reaches the relay as a plain DataFrame; the relay applies
    // the contract: Seed records the gated frontier and emits nothing, Sync
    // emits rows after the watermark and under the horizon.
    val outbox = Seq((1L, 1L, "I"), (2L, 2L, "U"), (3L, 99L, "U"))
      .toDF("id", "xact_id", "operation")
      .select($"id", $"xact_id", $"operation", lit(1.0).as("value"),
        lit("{}").as("props"), lit(null).cast("array<string>").as("changed"))
    val obj = TrackingObject("orders", "db0", "t", "sp")
    val cfg = EnvironmentConfig("prod", "postgres", Seq(obj), Nil)
    val store = new ParquetStateStore(spark,
      Files.createTempDirectory("graft-lifecycle").resolve("state").toString)
    val relay = new ChangeRelay(spark, store, cfg, None, horizonOf = _ => 50L)

    store.setWatermark("prod", "orders", 1L)
    assert(relay.runCycle(obj, outbox, "20240115000000") == (1L, 2L)) // > fromVersion, under horizon

    // Seed is horizon-gated like Sync: id=3 sits in in-flight xact 99, so
    // seeding must stop at 2 — an un-gated 3 would skip that row forever.
    val seeded = new ParquetStateStore(spark,
      Files.createTempDirectory("graft-lifecycle").resolve("state").toString)
    val seeder = new ChangeRelay(spark, seeded, cfg, None, horizonOf = _ => 50L)
    assert(seeder.runCycle(obj, outbox, "20240115000000") == (0L, 2L))
    assert(seeded.getWatermark("prod", "orders").contains(2L)) // gated frontier agrees

    // xact 99 commits: the next Sync picks up exactly the deferred row.
    val synced = new ChangeRelay(spark, seeded, cfg, None, horizonOf = _ => 100L)
    assert(synced.runCycle(obj, outbox, "20240115000100") == (1L, 3L))
  }
}
