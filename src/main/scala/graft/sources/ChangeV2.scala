package graft.sources

import java.sql.{Connection, DriverManager, ResultSet, Types => SqlTypes}
import java.util.Properties

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S1 as a DataSource-V2 `MicroBatchStream` — the Spark-native flavor of the
  * reference's polling loop (Source/Services/ChangeTrackingBackgroundService
  * .cs:427-606, call template Source/Data/SqlDialect.cs:52,70), where the
  * driver-side foreachBatch relay (streaming/Relay.scala) owns its own
  * watermark store. Here the STREAMING ENGINE owns it: offsets are
  * (version, horizon) pairs persisted in the query checkpoint, so recovery,
  * exactly-once offset tracking, and restart continuity are Spark's WAL
  * machinery instead of bespoke state — `readStream.format("graft-change")`.
  *
  * Semantics are the same Incremental core every batch operator gates on:
  *  - rows of batch (start, end]: `version > start.v AND version <= end.v
  *    AND xact < end.horizon` (P1 + P2 — the horizon is part of the OFFSET,
  *    so a replayed batch after crash recovery selects byte-identical rows);
  *  - `latestOffset` = A2's gated watermark: `COALESCE(MAX(version), prev)`
  *    over `xact < horizon`, monotone-guarded;
  *  - seed start (S8) = gated watermark at stream start, zero rows emitted;
  *    `startMode=earliest` replays from version 0; `startVersion=N` resumes
  *    a legacy store's watermark.
  *
  * Scale shape: `planInputPartitions` splits the version range into
  * `numPartitions` contiguous slices and each executor-side reader runs the
  * slice's own pushdown query ([[ChangeV2.sliceSql]]) — the database
  * evaluates the range predicate per slice, nothing round-trips, and a
  * 1000-executor cluster drains a large delta in parallel. Only
  * driver-side work per micro-batch: two 1-row scalar queries (horizon +
  * gated watermark).
  *
  * DIALECT BOUNDARY: this source requires a directly QUERYABLE change table
  * (the outbox shape — postgres, or any engine exposing the change feed as
  * a table). The reference's SQL Server flavor reads changes only through
  * `EXEC proc {"fromVersion":N}` over `CHANGETABLE(...)`
  * (Source/Data/SqlDialect.cs:52, Source/SQL/02-stored-procedure
  * .sqlserver.table.sql:44-50) — a procedure call has no WHERE clause to
  * push range predicates into, so it cannot be sliced across executors and
  * is deliberately NOT served here; `conf()` refuses such configs with a
  * pointer to the driver-side foreachBatch relay (graft.streaming.Relay),
  * which owns that path (SURVEY §4).
  */
class ChangeTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-change"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangeV2.inferSchema(ChangeV2.conf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new ChangeTable(schema,
      ChangeV2.conf(new CaseInsensitiveStringMap(properties)))
}

final class ChangeTable(schema: StructType, conf: ChangeV2.Conf)
    extends Table with SupportsRead {
  override def name(): String = s"graft-change(${conf.table})"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ChangeScanBuilder(schema, conf)
}

/** Column pruning reaches the DATABASE: the slice readers SELECT exactly
  * the pruned columns (plus nothing — version/xact appear only in the
  * WHERE ranges), so a projection over the stream ships only those bytes
  * per row at any delta size. */
final class ChangeScanBuilder(full: StructType, conf: ChangeV2.Conf)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var pruned: StructType = full
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  /** Push the translatable subset to the database; returned filters are
    * what Spark must STILL evaluate post-scan. Two tiers:
    *  - integral/boolean comparisons, null checks, IN: exact in any SQL
    *    dialect — pushed and trusted (not returned);
    *  - anything mentioning a STRING value: pushed as a PREFILTER but
    *    ALSO returned for Spark to re-apply, because the database's
    *    collation may diverge from Spark's binary UTF8 comparison
    *    (mssql's default collation is case-insensitive; locale collations
    *    reorder </>) — the database still drops most non-matching rows at
    *    the source, Spark guarantees the exact semantics.
    * Floats never push (SQL float equality could diverge). */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    val (ok, rest) = filters.partition(f => ChangeV2.filterSql(f, full).isDefined)
    pushed = ok
    val recheck = ok.filter(ChangeV2.mentionsString(_, full))
    rest ++ recheck
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit = {
    ChangeV2.prunedCalls.incrementAndGet() // engine-engagement probe (spec)
    // preserve the table's column order (readers bind getters by position)
    pruned = StructType(full.fields.filter(f =>
      requiredSchema.fieldNames.exists(_.equalsIgnoreCase(f.name))))
  }
  override def build(): Scan = new Scan {
    override def readSchema(): StructType = pruned
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new ChangeMicroBatchStream(pruned, conf, filterSqls)
    // BATCH flavor (S7-adjacent): one gated snapshot — rows from the start
    // version (0, or `startVersion` when startMode=version) up to the
    // current horizon-gated watermark, range-sliced exactly like a
    // micro-batch. This is ALSO where pushdown actually pays today:
    // Spark's V2ScanRelationPushDown applies column pruning to BATCH
    // relations only (measured: pruneColumns is never invoked for a
    // MicroBatchStream scan — the streaming implementation stays for
    // when the engine learns to call it).
    override def toBatch(): org.apache.spark.sql.connector.read.Batch =
      new org.apache.spark.sql.connector.read.Batch {
        private lazy val (from, end, h) = {
          val h0 = ChangeV2.horizon(conf)
          val f = if (conf.startMode == "version") conf.startVersion else 0L
          (f, ChangeV2.gatedWatermark(conf, f, h0), h0)
        }
        override def planInputPartitions(): Array[InputPartition] =
          ChangeV2.slices(from, end, h, conf.numPartitions)
        override def createReaderFactory(): PartitionReaderFactory =
          new ChangeSliceReaderFactory(pruned, conf, filterSqls)
      }
  }

  private def filterSqls: Seq[String] =
    pushed.toSeq.flatMap(f => ChangeV2.filterSql(f, full))
}

/** Offset = the gated watermark AND the horizon it was gated by. Carrying
  * the horizon makes committed batches replay-deterministic: recovery
  * re-runs (start, end] with end's horizon, never a fresher one that could
  * admit different rows. */
final case class ChangeOffset(version: Long, horizon: Long) extends Offset {
  override def json(): String = s"""{"version":$version,"horizon":$horizon}"""
}

object ChangeOffset {
  private val Re = """\{"version":(-?\d+),"horizon":(-?\d+)\}""".r
  def parse(json: String): ChangeOffset = json match {
    case Re(v, h) => ChangeOffset(v.toLong, h.toLong)
    case other => throw new IllegalArgumentException(s"bad change offset: $other")
  }
}

final class ChangeMicroBatchStream(schema: StructType, conf: ChangeV2.Conf,
                                   filterSqls: Seq[String] = Nil)
    extends MicroBatchStream {

  // Monotone guard across polls: a horizon query racing a rollback (or a
  // MAX over a briefly-empty table) must never move an offset backwards.
  private var last: ChangeOffset = _

  /** Test probe for the monotone guard's state (ChangeV2SourceSpec). */
  private[sources] def lastOffset: ChangeOffset = last

  override def initialOffset(): Offset = {
    val h = ChangeV2.horizon(conf)
    val off = conf.startMode match {
      case "earliest" => ChangeOffset(0L, h)
      case "version" => ChangeOffset(conf.startVersion, h)
      // S8 seed: watermark = the current gated frontier, no rows emitted
      case _ => ChangeOffset(ChangeV2.gatedWatermark(conf, 0L, h), h)
    }
    last = off
    off
  }

  override def latestOffset(): Offset = {
    val prev = Option(last).getOrElse(
      initialOffset().asInstanceOf[ChangeOffset])
    val h = math.max(ChangeV2.horizon(conf), prev.horizon)
    val v = math.max(ChangeV2.gatedWatermark(conf, prev.version, h), prev.version)
    last = ChangeOffset(v, h)
    last
  }

  override def deserializeOffset(json: String): Offset = {
    val off = ChangeOffset.parse(json)
    // Adopt on a LEXICOGRAPHIC (version, horizon) advance — the offset
    // contract orders on the pair, so a restored offset with an equal
    // version but higher horizon must still displace a stale `last`
    // (latestOffset's max() would mask it today; the guard should not rely
    // on that).
    if (last == null || off.version > last.version ||
        (off.version == last.version && off.horizon > last.horizon)) last = off
    off
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ChangeOffset]
    val e = end.asInstanceOf[ChangeOffset]
    ChangeV2.slices(s.version, e.version, e.horizon, conf.numPartitions)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangeSliceReaderFactory(schema, conf, filterSqls)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One version slice: rows with `version in (lo, hi]` under `xact < horizon`. */
final case class ChangeSlice(lo: Long, hi: Long, horizon: Long) extends InputPartition

final class ChangeSliceReaderFactory(schema: StructType, conf: ChangeV2.Conf,
                                     filterSqls: Seq[String] = Nil)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val slice = partition.asInstanceOf[ChangeSlice]
    new PartitionReader[InternalRow] {
      private var cn: Connection = _
      private var rs: ResultSet = _
      private val getters = ChangeV2.getters(schema)

      private def ensureOpen(): Unit = if (cn == null) {
        cn = ChangeV2.connect(conf)
        val st = cn.createStatement()
        st.setFetchSize(conf.fetchSize)
        rs = st.executeQuery(ChangeV2.sliceSql(schema, conf, slice, filterSqls))
      }

      override def next(): Boolean = { ensureOpen(); rs.next() }

      override def get(): InternalRow = {
        val row = new GenericInternalRow(getters.length)
        var i = 0
        while (i < getters.length) {
          row.update(i, getters(i)(rs))
          i += 1
        }
        row
      }

      override def close(): Unit = if (cn != null) cn.close()
    }
  }
}

object ChangeV2 {

  /** Test probe: how many times the engine invoked column pruning. */
  val prunedCalls = new java.util.concurrent.atomic.AtomicLong(0L)

  /** All options resolved once, serializable — travels inside every
    * InputPartition's reader factory. */
  final case class Conf(
      url: String,
      driver: String,
      user: String,
      password: String,
      table: String,
      versionCol: String,
      xactCol: String,
      numPartitions: Int,
      fetchSize: Int,
      startMode: String,
      startVersion: Long,
      horizonSql: Option[String],
      sessionInit: Option[String])

  def conf(o: CaseInsensitiveStringMap): Conf = {
    def req(k: String): String = {
      val v = o.get(k)
      require(v != null && v.nonEmpty, s"graft-change: option '$k' is required")
      v
    }
    def opt(k: String, dflt: String): String = Option(o.get(k)).getOrElse(dflt)
    val mode = opt("startMode", "seed")
    require(Set("seed", "earliest", "version")(mode),
      s"graft-change: startMode must be seed|earliest|version, got '$mode'")
    val nParts = opt("numPartitions", "8").toInt
    // A non-positive partition count would plan ZERO slices while offsets
    // still advance — silent permanent data loss, not an error. Refuse.
    require(nParts >= 1,
      s"graft-change: numPartitions must be >= 1, got $nParts")
    // Dialect boundary (see class scaladoc): this source range-slices a
    // QUERYABLE change table. The reference's SQL Server loop — `EXEC proc
    // {"fromVersion":N}` over CHANGETABLE (Source/Data/SqlDialect.cs:52,
    // Source/SQL/02-stored-procedure.sqlserver.table.sql:44-50) — cannot be
    // range-sliced into per-partition subqueries; that path is served by the
    // driver-side foreachBatch relay (graft.streaming.Relay). Refuse the
    // config crisply instead of letting slice 0 die on a SQL syntax error.
    val relayHint = "procedure-call change feeds cannot be range-sliced; " +
      "use the driver-side foreachBatch relay (graft.streaming.Relay) for that dialect path"
    require(o.get("procedure") == null && o.get("storedProcedureName") == null,
      s"graft-change: option 'procedure' is not supported — $relayHint")
    val tableOpt = req("table")
    // Whitespace-normalized match: 'EXEC\tproc' or 'CHANGETABLE (' must hit
    // the crisp refusal, not fall through to an opaque slice-0 SQL error.
    val tnorm = tableOpt.trim.toUpperCase(java.util.Locale.ROOT)
    require(!tnorm.matches("(?s)^EXEC(UTE)?\\s.*") &&
        !tnorm.matches("(?s).*CHANGETABLE\\s*\\(.*"),
      s"graft-change: table '$tableOpt' is a procedure/CHANGETABLE call, not a queryable table — $relayHint")
    Conf(
      url = req("url"),
      driver = opt("driver", ""),
      user = opt("user", ""),
      password = opt("password", ""),
      table = req("table"),
      versionCol = opt("versionCol", "id"),
      xactCol = opt("xactCol", "xact_id"),
      numPartitions = nParts,
      fetchSize = opt("fetchSize", "10000").toInt,
      startMode = mode,
      startVersion = opt("startVersion", "0").toLong,
      horizonSql = Option(o.get("horizonSql")).filter(_.nonEmpty),
      sessionInit = Option(o.get("sessionInitStatement")).filter(_.nonEmpty)
        .orElse(Option(o.get("provider"))
          .flatMap(p => graft.runtime.Config.dialect(p).flatMap(_.sessionInit))))
  }

  def connect(conf: Conf): Connection = {
    if (conf.driver.nonEmpty) Class.forName(conf.driver)
    val props = new Properties()
    if (conf.user.nonEmpty) props.setProperty("user", conf.user)
    if (conf.password.nonEmpty) props.setProperty("password", conf.password)
    val cn = DriverManager.getConnection(conf.url, props)
    conf.sessionInit.foreach { sql =>
      val st = cn.createStatement(); st.execute(sql); st.close()
    }
    cn
  }

  /** Identifiers come from trusted job config (same trust level as the
    * reference's table-name config) and pass through VERBATIM: quoting is
    * dialect-specific (Derby folds unquoted DDL to upper case, postgres to
    * lower), so a caller with a case-sensitive column quotes it in the
    * option itself. */
  def qident(name: String): String = name

  private def scalar(conf: Conf, sql: String): Long = {
    val cn = connect(conf)
    try {
      val rs = cn.createStatement().executeQuery(sql)
      rs.next()
      rs.getLong(1)
    } finally cn.close()
  }

  /** The transaction horizon (P2's gate value): `min(active xact)` where the
    * deployment can see it (override via `horizonSql`), else the committed
    * frontier `MAX(xact)+1`.
    *
    * DEPLOYMENT INVARIANT for the default: rows must become VISIBLE in
    * version order (e.g. versions assigned at commit, or a serial writer).
    * `MAX(xact)+1` gives no protection against out-of-order commit
    * visibility — an in-flight transaction holding versions below an
    * already-advanced watermark is skipped permanently once it commits.
    * Engines that cannot guarantee ordered visibility MUST set `horizonSql`
    * to the min-active-transaction query (pg: `SELECT COALESCE(MIN(xact_id),
    * frontier) FROM active_xacts`; mssql: MIN_ACTIVE_ROWVERSION()). */
  def horizon(conf: Conf): Long = conf.horizonSql match {
    case Some(sql) => scalar(conf, sql)
    case None => scalar(conf,
      s"SELECT COALESCE(MAX(${qident(conf.xactCol)}), 0) + 1 FROM ${conf.table}")
  }

  /** The range-partitioned slice plan shared by the micro-batch and batch
    * flavors: contiguous disjoint version ranges covering (from, end],
    * one per partition (capped at the span), each carrying the horizon. */
  def slices(from: Long, end: Long, horizon: Long,
             numPartitions: Int): Array[InputPartition] = {
    val span = end - from
    if (span <= 0) return Array.empty
    val n = math.min(numPartitions.toLong, span).toInt
    // Overflow-safe bound math: the naive `span * i / n` overflows Long when
    // versions are timestamp-like (epoch-micros ~1.7e18 with
    // startMode=earliest and n >= 8), yielding garbage slice bounds = silent
    // data loss. With span = q*n + r: span*i/n == q*i + r*i/n exactly
    // (r < n <= numPartitions, so r*i never overflows), and the bounds are
    // bit-identical to the naive form wherever that form doesn't overflow.
    val q = span / n
    val r = span % n
    (0 until n).map { i =>
      val lo = from + q * i + r * i / n
      val hi = from + q * (i + 1) + r * (i + 1) / n
      ChangeSlice(lo, hi, horizon): InputPartition
    }.toArray
  }

  /** The per-slice reader query — SELECTs exactly the (pruned) schema's
    * columns; the version/xact range predicates live in the WHERE only, so
    * the database ships nothing a projection dropped. Factored for the
    * spec's pushdown pin. */
  def sliceSql(schema: StructType, conf: Conf, slice: ChangeSlice,
               filterSqls: Seq[String] = Nil): String = {
    // Spark prunes to ZERO columns for aggregates that reference none
    // (count(*)) — the JDBC-source convention is selecting a constant so
    // the row COUNT still flows.
    val cols =
      if (schema.fields.isEmpty) "1"
      else schema.fields.map(f => qident(f.name)).mkString(", ")
    s"SELECT $cols FROM ${conf.table} " +
      s"WHERE ${qident(conf.versionCol)} > ${slice.lo} " +
      s"AND ${qident(conf.versionCol)} <= ${slice.hi} " +
      s"AND ${qident(conf.xactCol)} < ${slice.horizon}" +
      filterSqls.map(f => s" AND ($f)").mkString
  }

  /** True when the filter compares against a STRING column/value — the
    * push-and-recheck tier of [[ChangeScanBuilder.pushFilters]] (database
    * collation may diverge from Spark's binary comparison). */
  def mentionsString(f: org.apache.spark.sql.sources.Filter,
                     schema: StructType): Boolean = {
    import org.apache.spark.sql.sources._
    def isStr(n: String): Boolean =
      schema.fields.exists(x => x.name.equalsIgnoreCase(n) && x.dataType == StringType)
    f match {
      case EqualTo(n, _) => isStr(n)
      case GreaterThan(n, _) => isStr(n)
      case GreaterThanOrEqual(n, _) => isStr(n)
      case LessThan(n, _) => isStr(n)
      case LessThanOrEqual(n, _) => isStr(n)
      case In(n, _) => isStr(n)
      case And(a, b) => mentionsString(a, schema) || mentionsString(b, schema)
      case _ => false // IsNull/IsNotNull: collation-free
    }
  }

  /** Translate one Spark v1 filter to portable SQL, or None when its
    * semantics cannot be reproduced exactly (unknown column, float values
    * — SQL float equality could diverge from Spark's — or an operator
    * outside the conservative subset). Strings are escaped by doubling
    * single quotes; a string containing a BACKSLASH is never pushed at
    * all — on backslash-escaping dialects (MySQL with the default
    * NO_BACKSLASH_ESCAPES off) `\` would escape the next character, so the
    * doubled-quote escaping alone could break out of the literal: the
    * pushed prefilter would then drop rows the Spark-side recheck can
    * never restore (recheck only narrows), or inject SQL from query
    * literals. Keeping such filters entirely Spark-side costs selectivity,
    * never correctness. */
  def filterSql(f: org.apache.spark.sql.sources.Filter,
                schema: StructType): Option[String] = {
    import org.apache.spark.sql.sources._
    def col(n: String): Option[String] =
      schema.fields.find(_.name.equalsIgnoreCase(n)).map(x => qident(x.name))
    def litSql(v: Any): Option[String] = v match {
      case null => None
      case x @ (_: Long | _: Int | _: Short | _: Byte) => Some(x.toString)
      case b: Boolean => Some(if (b) "TRUE" else "FALSE")
      case t: String if !t.contains("\\") => Some("'" + t.replace("'", "''") + "'")
      case _ => None // floats/decimals/timestamps/backslash strings: Spark-side
    }
    def bin(n: String, op: String, v: Any): Option[String] =
      for (c <- col(n); l <- litSql(v)) yield s"$c $op $l"
    f match {
      case EqualTo(n, v) => bin(n, "=", v)
      case GreaterThan(n, v) => bin(n, ">", v)
      case GreaterThanOrEqual(n, v) => bin(n, ">=", v)
      case LessThan(n, v) => bin(n, "<", v)
      case LessThanOrEqual(n, v) => bin(n, "<=", v)
      case IsNull(n) => col(n).map(c => s"$c IS NULL")
      case IsNotNull(n) => col(n).map(c => s"$c IS NOT NULL")
      case In(n, vs) if vs.nonEmpty =>
        val lits = vs.toSeq.map(litSql)
        if (lits.exists(_.isEmpty)) None
        else col(n).map(c => s"$c IN (${lits.flatten.mkString(", ")})")
      case And(a, b) =>
        for (x <- filterSql(a, schema); y <- filterSql(b, schema))
          yield s"($x) AND ($y)"
      case _ => None // Or/Not/StringStartsWith...: Spark-side
    }
  }

  /** A2 pushed to the database: `COALESCE(MAX(version), from)` over the
    * horizon-gated rows. */
  def gatedWatermark(conf: Conf, from: Long, horizon: Long): Long =
    scalar(conf,
      s"SELECT COALESCE(MAX(${qident(conf.versionCol)}), $from) FROM ${conf.table} " +
        s"WHERE ${qident(conf.xactCol)} < $horizon")

  /** Driver-side `WHERE 1=0` schema probe — the same trick Spark's JDBC
    * relation uses to resolve the schema before any action. */
  def inferSchema(conf: Conf): StructType = {
    val cn = connect(conf)
    try {
      val rs = cn.createStatement()
        .executeQuery(s"SELECT * FROM ${conf.table} WHERE 1=0")
      val md = rs.getMetaData
      StructType((1 to md.getColumnCount).map { i =>
        StructField(md.getColumnLabel(i), catalystType(
          md.getColumnType(i), md.getPrecision(i), md.getScale(i)),
          md.isNullable(i) != java.sql.ResultSetMetaData.columnNoNulls)
      })
    } finally cn.close()
  }

  private def catalystType(jdbc: Int, precision: Int, scale: Int): DataType = jdbc match {
    case SqlTypes.BIGINT => LongType
    case SqlTypes.INTEGER | SqlTypes.SMALLINT | SqlTypes.TINYINT => IntegerType
    case SqlTypes.DOUBLE | SqlTypes.FLOAT | SqlTypes.REAL => DoubleType
    case SqlTypes.BOOLEAN | SqlTypes.BIT => BooleanType
    case SqlTypes.VARCHAR | SqlTypes.CHAR | SqlTypes.LONGVARCHAR |
         SqlTypes.NVARCHAR | SqlTypes.NCHAR | SqlTypes.LONGNVARCHAR |
         SqlTypes.CLOB => StringType
    case SqlTypes.TIMESTAMP => TimestampType
    case SqlTypes.DATE => DateType
    case SqlTypes.NUMERIC | SqlTypes.DECIMAL =>
      DecimalType(math.max(precision, 1), math.max(scale, 0))
    case other =>
      throw new IllegalArgumentException(
        s"graft-change: unsupported JDBC type $other (extend catalystType)")
  }

  /** Per-field ResultSet → Catalyst converters, resolved once per reader. */
  def getters(schema: StructType): Array[ResultSet => Any] =
    schema.fields.zipWithIndex.map { case (f, idx) =>
      val i = idx + 1
      // Object getters return null for SQL NULL — convert only after the
      // null check (fromJavaTimestamp/Decimal NPE on null; the outer
      // wasNull guard below covers the primitive getters' 0-on-NULL).
      val get: ResultSet => Any = f.dataType match {
        case LongType => rs => rs.getLong(i)
        case IntegerType => rs => rs.getInt(i)
        case DoubleType => rs => rs.getDouble(i)
        case BooleanType => rs => rs.getBoolean(i)
        case StringType => rs => UTF8String.fromString(rs.getString(i))
        case TimestampType => rs => {
          val t = rs.getTimestamp(i)
          if (t == null) null else DateTimeUtils.fromJavaTimestamp(t)
        }
        case DateType => rs => {
          val dt = rs.getDate(i)
          if (dt == null) null else DateTimeUtils.fromJavaDate(dt)
        }
        case d: DecimalType => rs => {
          val b = rs.getBigDecimal(i)
          if (b == null) null else Decimal(b, d.precision, d.scale)
        }
        case other =>
          throw new IllegalArgumentException(s"graft-change: unsupported $other")
      }
      (rs: ResultSet) => {
        val v = get(rs)
        if (rs.wasNull()) null else v
      }
    }
}
