package graft.etl

import java.sql.{DriverManager, SQLException}

/** L1 — DDL bootstrap mirroring the reference's `create_tables`
  * (`/root/reference/src/storage/postgres_writer.py:42-113`): the `indices`
  * dimension (PK ticker, `created_at`/`updated_at` audit columns), the
  * `quotes` fact (PK (ticker, timestamp_utc), FK → indices, `inserted_at`
  * default, and the five `*_usd` converted-price columns the reference adds
  * via ALTER).
  *
  * Identifiers are double-quoted lowercase to match [[Upsert.Dialect]]'s
  * statement generation (`close` is a reserved word in Derby).
  *
  * `updated_at` maintenance: the reference uses a Postgres trigger
  * (`postgres_writer.py:53-73`); generic JDBC targets have no trigger
  * language, so here the WRITER owns the audit columns —
  * [[Upsert.upsertJdbcAudited]] stamps both on insert and advances only
  * `updated_at` on merge. For Postgres targets `statements` additionally
  * emits the reference's trigger so out-of-band writers keep the same
  * contract.
  */
object Ddl {

  // `tsDefault`: Derby's MERGE compiler NPEs evaluating a CURRENT_TIMESTAMP
  // column DEFAULT for the insert row (CurrentDatetimeOperatorNode in
  // MatchingClauseNode.generateInsertUpdateRow), so the Derby path declares
  // plain TIMESTAMP columns and the WRITER supplies every stamp
  // (Upsert.upsertJdbcAudited / Pipeline.runJdbc). Postgres keeps the
  // reference's column DEFAULTs.
  private def indicesDdl(tsType: String, tsDefault: String): String =
    s"""CREATE TABLE indices (
       |  "ticker" VARCHAR(30) NOT NULL PRIMARY KEY,
       |  "name" VARCHAR(255) NOT NULL,
       |  "country" VARCHAR(100),
       |  "exchange" VARCHAR(100),
       |  "original_currency" VARCHAR(3) NOT NULL,
       |  "created_at" $tsType$tsDefault,
       |  "updated_at" $tsType$tsDefault)""".stripMargin

  private def quotesDdl(tsType: String, tsDefault: String, onUpdate: String): String =
    s"""CREATE TABLE quotes (
       |  "ticker" VARCHAR(30) NOT NULL,
       |  "timestamp_utc" $tsType NOT NULL,
       |  "open" DOUBLE PRECISION,
       |  "high" DOUBLE PRECISION,
       |  "low" DOUBLE PRECISION,
       |  "close" DOUBLE PRECISION,
       |  "adjusted_close" DOUBLE PRECISION,
       |  "volume" BIGINT,
       |  "open_usd" DOUBLE PRECISION,
       |  "high_usd" DOUBLE PRECISION,
       |  "low_usd" DOUBLE PRECISION,
       |  "close_usd" DOUBLE PRECISION,
       |  "adjusted_close_usd" DOUBLE PRECISION,
       |  "inserted_at" $tsType$tsDefault,
       |  PRIMARY KEY ("ticker", "timestamp_utc"),
       |  CONSTRAINT fk_ticker FOREIGN KEY ("ticker")
       |    REFERENCES indices ("ticker") ON DELETE RESTRICT$onUpdate)""".stripMargin

  /** Reference-parity trigger DDL, Postgres only (`postgres_writer.py:52-73`). */
  private val pgTriggerDdl = Seq(
    """CREATE OR REPLACE FUNCTION update_updated_at_column()
      |RETURNS TRIGGER AS $$
      |BEGIN
      |   IF row(NEW.*) IS DISTINCT FROM row(OLD.*) THEN
      |      NEW."updated_at" = NOW();
      |      RETURN NEW;
      |   ELSE
      |      RETURN OLD;
      |   END IF;
      |END;
      |$$ language 'plpgsql';""".stripMargin,
    """DO $$ BEGIN
      |    IF NOT EXISTS (SELECT 1 FROM pg_trigger WHERE tgname = 'update_indices_modtime') THEN
      |        CREATE TRIGGER update_indices_modtime
      |        BEFORE UPDATE ON indices
      |        FOR EACH ROW
      |        EXECUTE FUNCTION update_updated_at_column();
      |    END IF;
      |END $$;""".stripMargin)

  /** Bootstrap statements with their target table (None = auxiliary DDL
    * like the trigger function), FK-dependency ordered (indices before
    * quotes, ≙ `create_tables`' command tuple).
    */
  def typedStatements(dialect: Upsert.Dialect): Seq[(Option[String], String)] =
    dialect match {
      case Upsert.Postgres =>
        Seq(Some("indices") ->
          indicesDdl("TIMESTAMP WITH TIME ZONE", " DEFAULT CURRENT_TIMESTAMP")) ++
          pgTriggerDdl.map(Option.empty[String] -> _) ++
          Seq(Some("quotes") ->
            quotesDdl("TIMESTAMP WITH TIME ZONE", " DEFAULT CURRENT_TIMESTAMP",
              " ON UPDATE CASCADE"))
      case _ => // Derby / generic ANSI: no TIMESTAMPTZ, no ON UPDATE CASCADE,
        // no CURRENT_TIMESTAMP defaults (see tsDefault note above)
        Seq(Some("indices") -> indicesDdl("TIMESTAMP", ""),
          Some("quotes") -> quotesDdl("TIMESTAMP", "", ""))
    }

  /** The bootstrap statement texts for a dialect, in execution order. */
  def statements(dialect: Upsert.Dialect): Seq[String] =
    typedStatements(dialect).map(_._2)

  /** Idempotent bootstrap ≙ `create_tables`' CREATE TABLE IF NOT EXISTS:
    * runs each statement whose target table is absent (checked via JDBC
    * metadata, since Derby lacks IF NOT EXISTS). Returns the tables created.
    */
  def createTables(
      url: String,
      dialect: Upsert.Dialect = Upsert.Derby,
      props: java.util.Properties = new java.util.Properties()): Seq[String] =
    withTableProbe(url, props) { (st, exists) =>
      val missing = Seq("indices", "quotes").filterNot(exists)
      typedStatements(dialect).foreach { case (target, ddl) =>
        if (missing.nonEmpty && target.forall(missing.contains)) st.execute(ddl)
      }
      missing
    }

  /** [[graft.sources.JdbcStreamSink]]'s batch ledger: one row per committed
    * write partition, beside the data tables; `sink_id` namespaces streams.
    */
  val LedgerTable = "batch_ledger"

  /** Idempotent [[LedgerTable]] bootstrap, same probe as [[createTables]]. */
  def createLedger(url: String, props: java.util.Properties): Unit =
    withTableProbe(url, props) { (st, exists) =>
      if (!exists(LedgerTable))
        try st.execute(
          s"""CREATE TABLE $LedgerTable (
             |  "sink_id" VARCHAR(200) NOT NULL,
             |  "batch_id" BIGINT NOT NULL,
             |  "partition_id" INTEGER NOT NULL,
             |  "num_partitions" INTEGER NOT NULL,
             |  PRIMARY KEY ("sink_id", "batch_id", "partition_id"))""".stripMargin)
        catch {
          // two streams bootstrapping one database concurrently: the loser's
          // CREATE fails table-exists (Derby X0Y32 / Postgres 42P07), benign
          // exactly when the scoped probe now finds it; else it propagates
          case _: SQLException if exists(LedgerTable) => ()
        }
    }

  private def withTableProbe[T](url: String, props: java.util.Properties)(
      f: (java.sql.Statement, String => Boolean) => T): T = {
    val conn = DriverManager.getConnection(url, props)
    try {
      // Unquoted DDL identifiers fold UPPER in Derby but lower in Postgres —
      // probe both spellings or the check never matches on one engine and
      // the bootstrap stops being idempotent. The probe is scoped to the
      // connection's current catalog+schema: unscoped getTables would see a
      // same-named table in ANY schema of a shared instance (e.g. outside
      // search_path), silently skip the DDL, and let the upserts fail.
      val (catalog, schema) = (
        try Option(conn.getCatalog) catch { case _: SQLException => None: Option[String] },
        try Option(conn.getSchema) catch { case _: SQLException => None: Option[String] })
      def exists(table: String): Boolean =
        Seq(table.toUpperCase, table.toLowerCase).exists { t =>
          val rs = conn.getMetaData.getTables(
            catalog.orNull, schema.orNull, t, null)
          try rs.next() finally rs.close()
        }
      val st = conn.createStatement()
      try f(st, exists) finally st.close()
    } finally conn.close()
  }
}
