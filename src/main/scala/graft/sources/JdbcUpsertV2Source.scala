package graft.sources

import java.sql.{Connection, DriverManager, PreparedStatement, ResultSetMetaData}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.etl.{Ddl, Upsert}

/** Keyed JDBC UPSERT as a DataSourceV2 WRITE — the sink face of the V2
  * catalog surface ([[BarDataSource]] is the source face) and the one JDBC
  * upsert writer: [[graft.etl.Upsert.upsertJdbc]] (and through it
  * `Pipeline.runJdbc` and `StreamingIngest.pipelineAvailableNow`) and the
  * `graft-jdbc` streaming sink ([[JdbcStreamSink]]) write through it. One
  * connection per partition, `batchsize`-paged executeBatch, the
  * per-dialect MERGE/ON CONFLICT statement, idempotent re-runs — the
  * reference's `postgres_writer.py` contract — riding Spark's V2 write
  * protocol:
  *
  * {{{
  *   df.write.format("graft.sources.JdbcUpsertDataSource")
  *     .option("url", url).option("dbtable", "quotes")
  *     .option("keys", "ticker,timestamp_utc").option("dialect", "postgres")
  *     .option("user", u).option("password", pw)       // optional auth
  *     .option("jdbcprop.ssl", "true")                 // driver passthrough
  *     .mode("append").save()
  * }}}
  *
  * plans an `AppendData` over this table — visible in EXPLAIN, observable
  * by QueryExecutionListeners, and routable through a catalog — instead of
  * an opaque `foreachPartition` lambda.
  *
  * Contracts:
  *  - the target table must exist (bootstrap via [[graft.etl.Ddl]]);
  *  - callers `lastWriteWins` first, so a batch never holds two rows per
  *    key (cross-partition write order is nondeterministic);
  *  - global atomicity is per PARTITION transaction, not per job — the
  *    statement itself is idempotent, so task retries and whole-job
  *    re-runs converge (e3's law, spec-pinned).
  *
  * Schema: the provider infers the table's live schema from JDBC metadata
  * (`SELECT * … WHERE 1=0`) with every column reported NULLABLE — the
  * database enforces its own constraints; reporting a PK column non-null
  * would make Spark reject writes of provably-safe nullable frames. The
  * table declares ACCEPT_ANY_SCHEMA and binds placeholders from the QUERY
  * schema (exactly `upsertJdbc`'s `df.columns` contract), so column subsets
  * work and the database, not the analyzer, owns type errors.
  */
class JdbcUpsertDataSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    JdbcUpsertV2.tableSchema(JdbcUpsertV2.Config(options.asCaseSensitiveMap.asScala.toMap))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new JdbcUpsertTable(schema, JdbcUpsertV2.Config(properties.asScala.toMap))
}

object JdbcUpsertV2 {

  final case class Config(
      url: String,
      table: String,
      keys: Seq[String],
      dialect: Upsert.Dialect,
      batchSize: Int,
      noUpdate: Seq[String],
      props: Map[String, String],
      ledger: Option[Ledger] = None) {
    // Config travels to executors and surfaces in task-failure traces —
    // the auto-generated case-class toString would print every JDBC prop
    // verbatim, credentials included. Redact all prop VALUES (any prop can
    // be a secret under a non-obvious key: password, sslKey, token, …).
    override def toString: String = {
      val red = props.keys.toSeq.sorted.map(k => s"$k=***").mkString(", ")
      val safeUrl = url.takeWhile(_ != '?') // query params can embed password=
      s"Config($safeUrl, $table, keys=${keys.mkString(",")}, dialect=$dialect, " +
        s"batchSize=$batchSize, noUpdate=${noUpdate.mkString(",")}, props=[$red])"
    }
    def connectionProperties: java.util.Properties = {
      val p = new java.util.Properties()
      props.foreach { case (k, v) => p.setProperty(k, v) }
      p
    }
  }

  /** [[JdbcStreamSink]]'s batch identity — set by the sink, never from an
    * option.
    */
  final case class Ledger(sinkId: String, batchId: Long)

  /** One connection-open path for driver (schema inference) and executors
    * (writers): credentials and passthrough properties always apply — an
    * authenticated database must not require credentials baked into the URL.
    */
  private[sources] def connect(cfg: Config): Connection =
    DriverManager.getConnection(cfg.url, cfg.connectionProperties)

  object Config {
    def apply(o0: Map[String, String]): Config = {
      // DSv2 options are case-insensitive by convention, and both faces
      // (inferSchema and getTable) hand over case-PRESERVING keys —
      // normalize the engine's own options here so .option("dbTable", …)
      // works everywhere
      val o = o0.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
      def req(k: String): String = o.getOrElse(k,
        throw new IllegalArgumentException(s"option '$k' is required"))
      val keys = req("keys").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(keys.nonEmpty, "option 'keys' must name at least one key column")
      Config(
        url = req("url"),
        table = req("dbtable"),
        keys = keys,
        dialect = o.getOrElse("dialect", "postgres").toLowerCase match {
          case "postgres" => Upsert.Postgres
          case "derby" => Upsert.Derby
          case "ansi" => Upsert.AnsiMerge
          case d => throw new IllegalArgumentException(
            s"unknown dialect '$d' (postgres|derby|ansi)")
        },
        batchSize = o.get("batchsize").fold(1000) { v =>
          v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
            s"option 'batchsize' must be a positive integer, got '$v'"))
        },
        noUpdate = o.get("noupdate").toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
        // user/password ride as first-class options (upsertJdbc's
        // java.util.Properties contract); any other driver property goes
        // through a `jdbcprop.<name>` option. The prefix matches in any
        // case, but the NAME keeps its own: drivers look property names
        // up exactly (pgjdbc's `reWriteBatchedInserts`, `ApplicationName`)
        // and ignore a lowercased one without an error.
        props = o.get("user").map("user" -> _).toMap ++
          o.get("password").map("password" -> _).toMap ++
          o0.collect { case (k, v) if k.toLowerCase(java.util.Locale.ROOT)
              .startsWith("jdbcprop.") => k.drop("jdbcprop.".length) -> v })
    }
  }

  /** The table's live schema from JDBC metadata — every column NULLABLE
    * (see the provider scaladoc for why).
    */
  def tableSchema(cfg: Config): StructType = {
    val conn = connect(cfg)
    try {
      val st = conn.createStatement()
      try {
        val md = st.executeQuery(s"SELECT * FROM ${cfg.table} WHERE 1=0").getMetaData
        StructType((1 to md.getColumnCount).map { i =>
          StructField(md.getColumnLabel(i), catalystType(md, i), nullable = true)
        })
      } finally st.close()
    } finally conn.close()
  }

  private def catalystType(md: ResultSetMetaData, i: Int): DataType = {
    import java.sql.Types._
    md.getColumnType(i) match {
      case BIGINT => LongType
      case INTEGER | SMALLINT | TINYINT => IntegerType
      case DOUBLE | FLOAT => DoubleType
      case REAL => FloatType
      case VARCHAR | CHAR | LONGVARCHAR | CLOB => StringType
      case TIMESTAMP => TimestampType
      case DATE => DateType
      case BOOLEAN | BIT => BooleanType
      case NUMERIC | DECIMAL =>
        DecimalType(math.max(md.getPrecision(i), 1),
          math.max(md.getScale(i), 0))
      case t => throw new IllegalArgumentException(
        s"unsupported JDBC type $t for column ${md.getColumnLabel(i)}")
    }
  }

  /** `setNull` needs a sql type; the inverse of [[catalystType]]. */
  private[sources] def sqlTypeOf(dt: DataType): Int = {
    import java.sql.Types._
    dt match {
      case LongType => BIGINT
      case IntegerType | ShortType | ByteType => INTEGER
      case DoubleType => DOUBLE
      case FloatType => REAL
      case StringType => VARCHAR
      case TimestampType => TIMESTAMP
      case DateType => DATE
      case BooleanType => BOOLEAN
      case _: DecimalType => DECIMAL
      case dt => throw new IllegalArgumentException(s"unsupported write type $dt")
    }
  }

  /** Catalyst internal value → JDBC bind value for `dt`. */
  private[sources] def bindValue(row: InternalRow, ord: Int, dt: DataType): Any =
    dt match {
      case LongType => row.getLong(ord)
      case IntegerType => row.getInt(ord)
      case ShortType => row.getShort(ord).toInt
      case ByteType => row.getByte(ord).toInt
      case DoubleType => row.getDouble(ord)
      case FloatType => row.getFloat(ord)
      case StringType => row.getUTF8String(ord).toString
      case TimestampType => DateTimeUtils.toJavaTimestamp(row.getLong(ord))
      case DateType => DateTimeUtils.toJavaDate(row.getInt(ord))
      case BooleanType => row.getBoolean(ord)
      case d: DecimalType => row.getDecimal(ord, d.precision, d.scale).toJavaBigDecimal
      case other => throw new IllegalArgumentException(s"unsupported write type $other")
    }
}

private[sources] final class JdbcUpsertTable(
    schema0: StructType, cfg: JdbcUpsertV2.Config)
    extends Table with SupportsWrite {

  override def name(): String = s"jdbc_upsert(${cfg.table})"
  override def schema(): StructType = schema0

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new JdbcUpsertBatchWrite(cfg, info.schema())
      }
    }
}

private[sources] final class JdbcUpsertBatchWrite(
    cfg: JdbcUpsertV2.Config, schema: StructType) extends BatchWrite {
  // per-partition transactions carry the durability (upsertJdbc's model);
  // the driver-side commit has nothing left to do
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new JdbcUpsertWriterFactory(cfg, schema, info.numPartitions)
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private[sources] final class JdbcUpsertWriterFactory(
    cfg: JdbcUpsertV2.Config, schema: StructType, numPartitions: Int)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new JdbcUpsertDataWriter(cfg, schema, partitionId, numPartitions)
}

private[sources] final case class JdbcUpsertCommit(rows: Long)
    extends WriterCommitMessage

/** One partition's writer — the one JDBC upsert loop (one connection,
  * prepared dialect statement, paged executeBatch, commit-or-rollback),
  * reading Catalyst internal rows directly — no Row conversion on the
  * write path. A write carrying a [[JdbcUpsertV2.Ledger]] also upserts the
  * partition's ledger row before the commit, even for an empty partition,
  * so the MERGE and its ledger row commit or roll back together.
  */
private[sources] final class JdbcUpsertDataWriter(
    cfg: JdbcUpsertV2.Config, schema: StructType, partitionId: Int,
    numPartitions: Int)
    extends DataWriter[InternalRow] {

  private val cols = schema.fields.map(_.name).toSeq
  private val sql = cfg.dialect.upsertSql(cfg.table, cols, cfg.keys, cfg.noUpdate)
  private val bindIdx = cfg.dialect.bindOrder(cols, cfg.keys, cfg.noUpdate)
    .map(cols.indexOf).toArray
  private val bindTypes = bindIdx.map(schema.fields(_).dataType)

  // track what was actually OPENED, not what was written: a first write()
  // that fails after the connection opens (bad SQL, unsupported type)
  // still reaches close() with total == 0, and the connection must not
  // leak across task retries
  private var connOpened = false
  private var stOpened = false
  private lazy val conn: Connection = {
    val c = JdbcUpsertV2.connect(cfg)
    connOpened = true
    c.setAutoCommit(false)
    c
  }
  private lazy val st: PreparedStatement = {
    val s = conn.prepareStatement(sql)
    stOpened = true
    s
  }
  private var pending = 0
  private var total = 0L

  override def write(row: InternalRow): Unit = {
    var i = 0
    while (i < bindIdx.length) {
      val ord = bindIdx(i)
      if (row.isNullAt(ord))
        st.setNull(i + 1, JdbcUpsertV2.sqlTypeOf(bindTypes(i)))
      else st.setObject(i + 1, JdbcUpsertV2.bindValue(row, ord, bindTypes(i)))
      i += 1
    }
    st.addBatch()
    pending += 1
    total += 1L
    if (pending >= cfg.batchSize) { st.executeBatch(); pending = 0 }
  }

  override def commit(): WriterCommitMessage = {
    if (pending > 0) st.executeBatch()
    cfg.ledger.foreach { l =>
      // an upsert: a replayed partial batch re-commits partitions with a row
      val value = Map[String, Any]("sink_id" -> l.sinkId, "batch_id" -> l.batchId,
        "partition_id" -> partitionId, "num_partitions" -> numPartitions)
      val (cols, keys) = (value.keys.toSeq, Seq("sink_id", "batch_id", "partition_id"))
      val ls = conn.prepareStatement(cfg.dialect.upsertSql(Ddl.LedgerTable, cols, keys))
      try {
        cfg.dialect.bindOrder(cols, keys).zipWithIndex
          .foreach { case (c, i) => ls.setObject(i + 1, value(c)) }
        ls.executeUpdate()
      } finally ls.close()
    }
    if (connOpened) conn.commit()
    JdbcUpsertCommit(total)
  }

  override def abort(): Unit = if (connOpened) conn.rollback()

  override def close(): Unit = if (connOpened) {
    try if (stOpened) st.close()
    finally conn.close()
  }
}
