package graft.etl

import java.sql.DriverManager

import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}

/** End-to-end L2/L3 proof against a real JDBC database: the keyed upsert
  * sink `upsertJdbc` writes through — `JdbcUpsertDataSource`, a
  * DataSourceV2 write with one transaction per partition (reference
  * `postgres_writer.py:181-278` semantics) — run against embedded Derby,
  * which executes a genuine `MERGE` per row batch. Covers: batching,
  * per-partition transactions, insert-vs-update paths, and idempotent
  * re-runs.
  */
class JdbcUpsertSpec extends SparkSuite {

  private val url = "jdbc:derby:memory:graft_upsert;create=true"

  private def query1(sql: String): (Long, Double) = {
    val c = DriverManager.getConnection(url)
    try {
      val r = c.createStatement().executeQuery(sql)
      r.next()
      (r.getLong(1), r.getDouble(2))
    } finally c.close()
  }

  test("Derby MERGE sink: insert, idempotent re-run, conflicting update") {
    val c = DriverManager.getConnection(url)
    c.createStatement().execute(
      """CREATE TABLE events_latest (
        |  "user_id" BIGINT NOT NULL, "event_type" VARCHAR(30) NOT NULL,
        |  "ts" TIMESTAMP NOT NULL, "value" DOUBLE,
        |  PRIMARY KEY ("user_id", "event_type"))""".stripMargin)
    c.close()

    // one row per (user_id, event_type): the reference's PK shape
    val batch = Upsert.lastWriteWins(
      Tables(spark, sf001, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("value")),
      keys = Seq("user_id", "event_type"),
      versionCol = "ts", tieBreakers = Seq("value"))

    val expected = batch.count()

    Upsert.upsertJdbc(batch, url, "events_latest", Seq("user_id", "event_type"), Upsert.Derby)
    assert(query1("SELECT COUNT(*), 0.0 FROM events_latest")._1 == expected)

    // re-run of the identical batch converges (ON CONFLICT idempotency,
    // reference README.md:37)
    Upsert.upsertJdbc(batch, url, "events_latest", Seq("user_id", "event_type"), Upsert.Derby)
    assert(query1("SELECT COUNT(*), 0.0 FROM events_latest")._1 == expected)

    // conflicting re-delivery takes the update path (DO UPDATE semantics)
    Upsert.upsertJdbc(batch.withColumn("value", lit(-1.0)),
      url, "events_latest", Seq("user_id", "event_type"), Upsert.Derby)
    val (n, mx) = query1("""SELECT COUNT(*), MAX("value") FROM events_latest""")
    assert(n == expected)
    assert(mx == -1.0, s"all rows must have been updated, max=$mx")
  }

  test("constraint violation rolls back the partition and surfaces the error") {
    val c = DriverManager.getConnection(url)
    c.createStatement().execute(
      """CREATE TABLE guarded (
        |  "k" BIGINT NOT NULL PRIMARY KEY, "v" DOUBLE CHECK ("v" >= 0))""".stripMargin)
    c.close()
    import spark.implicits._
    // single partition: one transaction; the violating row arrives after
    // valid ones, so a commit-anyway bug would leave partial state behind
    val bad = Seq((1L, 1.0), (2L, 2.0), (3L, -5.0)).toDF("k", "v").coalesce(1)
    val e = intercept[Exception] {
      Upsert.upsertJdbc(bad, url, "guarded", Seq("k"), Upsert.Derby)
    }
    assert(e.getMessage != null)
    assert(query1("SELECT COUNT(*), 0.0 FROM guarded")._1 == 0,
      "failed partition must leave no rows (rollback)")
  }

  test("Ddl: dialect-specific schema shapes (trigger parity vs Derby MERGE limits)") {
    val pg = Ddl.statements(Upsert.Postgres).mkString("\n")
    // Postgres keeps the reference's defaults, trigger, and FK cascade
    assert(pg.contains("TIMESTAMP WITH TIME ZONE DEFAULT CURRENT_TIMESTAMP"))
    assert(pg.contains("update_updated_at_column") && pg.contains("CREATE TRIGGER"))
    assert(pg.contains("ON UPDATE CASCADE"))
    // Derby: NO CURRENT_TIMESTAMP defaults — its MERGE compiler NPEs
    // evaluating them for the insert row; the writer supplies every stamp.
    val derby = Ddl.statements(Upsert.Derby).mkString("\n")
    assert(!derby.contains("CURRENT_TIMESTAMP"),
      "Derby DDL must not carry CURRENT_TIMESTAMP defaults (MERGE NPE)")
    assert(!derby.contains("TRIGGER") && !derby.contains("ON UPDATE CASCADE"))
    // both orders indices before quotes (FK dependency)
    Seq(pg, derby).foreach { s =>
      assert(s.indexOf("CREATE TABLE indices") < s.indexOf("CREATE TABLE quotes"))
    }
  }

  test("dialect statements render one placeholder per bindOrder entry") {
    val cols = Seq("k1", "k2", "a", "b")
    val keys = Seq("k1", "k2")
    Seq(Upsert.Postgres, Upsert.AnsiMerge, Upsert.Derby).foreach { d =>
      val sql = d.upsertSql("t", cols, keys)
      val placeholders = sql.count(_ == '?')
      assert(placeholders == d.bindOrder(cols, keys).size,
        s"$d: $placeholders placeholders vs bindOrder ${d.bindOrder(cols, keys).size}")
    }
  }
}
