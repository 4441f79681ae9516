package graft.etl

import java.sql.{Date, DriverManager, Timestamp}

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The reference's full two-table db load (`main.py:105-138`) against
  * embedded Derby: DDL bootstrap, FK-ordered dim→fact upsert, audit-column
  * semantics, run-twice convergence, FK-violation surfacing, and a replay of
  * the reference's verification query (`postgres_writer.py:371-377`).
  */
class PipelineJdbcSpec extends SparkSuite {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graft_pipeline_jdbc;create=true"

  private def ts(s: String) = Timestamp.valueOf(s)
  private def d(s: String) = Date.valueOf(s)

  private lazy val dim = Seq(
    IndexMeta("^GDAXI", "DAX", "Germany", "XETRA", "EUR"),
    IndexMeta("^GSPC", "S&P 500", "USA", "NYSE", "USD")).toDF()

  private def mkBars(rows: Seq[(String, String, Double)]) =
    rows.toDF("ts_s", "ticker", "Close")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
      .withColumn("Open", $"Close" - 1.0)
      .withColumn("High", $"Close" + 2.0)
      .withColumn("Low", $"Close" - 2.0)
      .withColumn("Adj Close", $"Close")
      .withColumn("Volume", lit(1000L))

  private lazy val bars = mkBars(Seq(
    ("2025-04-17 07:00:00", "^GDAXI", 21000.5),
    ("2025-04-18 07:00:00", "^GDAXI", 21100.0),
    ("2025-04-17 13:30:00", "^GSPC", 5300.75)))

  private lazy val rates = new StaticRateProvider(Map(
    ("EUR", d("2025-04-17")) -> 1.14,
    ("EUR", d("2025-04-18")) -> 1.15))

  private def queryRows[A](sql: String)(f: java.sql.ResultSet => A): Seq[A] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val out = Iterator.continually(rs).takeWhile(_.next()).map(f).toVector
      rs.close(); out
    } finally c.close()
  }

  test("composed dim→fact load: bootstrap, converge on re-run, audit columns") {
    val m1 = Pipeline.runJdbc(spark, bars, dim, rates, url, ts("2025-05-01 00:00:00"))
    assert(m1.rows == 3 && m1.nullClose == 0 && m1.missingRate == 0)
    assert(queryRows("SELECT COUNT(*) FROM indices")(_.getLong(1)) == Seq(2L))
    assert(queryRows("SELECT COUNT(*) FROM quotes")(_.getLong(1)) == Seq(3L))
    val usd1 = queryRows(
      """SELECT "close_usd" FROM quotes WHERE "ticker" = '^GDAXI'
        |  AND "timestamp_utc" = TIMESTAMP('2025-04-17 07:00:00')""".stripMargin)(
      _.getDouble(1))
    assert(usd1 == Seq(21000.5 * 1.14))
    val audit1 = queryRows(
      """SELECT "created_at", "updated_at" FROM indices ORDER BY "ticker"""")(
      r => (r.getTimestamp(1), r.getTimestamp(2)))
    assert(audit1.forall { case (c, u) => c == ts("2025-05-01 00:00:00") && u == c })

    // run 2: overlapping re-delivery with one changed bar — both tables
    // converge (same counts), updated values land, created_at is stable
    // while updated_at advances (reference trigger semantics).
    val bars2 = mkBars(Seq(
      ("2025-04-17 07:00:00", "^GDAXI", 21001.5), // changed
      ("2025-04-18 07:00:00", "^GDAXI", 21100.0),
      ("2025-04-17 13:30:00", "^GSPC", 5300.75)))
    val m2 = Pipeline.runJdbc(spark, bars2, dim, rates, url, ts("2025-05-02 00:00:00"))
    assert(m2.rows == 3)
    assert(queryRows("SELECT COUNT(*) FROM indices")(_.getLong(1)) == Seq(2L))
    assert(queryRows("SELECT COUNT(*) FROM quotes")(_.getLong(1)) == Seq(3L))
    val usd2 = queryRows(
      """SELECT "close_usd" FROM quotes WHERE "ticker" = '^GDAXI'
        |  AND "timestamp_utc" = TIMESTAMP('2025-04-17 07:00:00')""".stripMargin)(
      _.getDouble(1))
    assert(usd2 == Seq(21001.5 * 1.14))
    val audit2 = queryRows(
      """SELECT "created_at", "updated_at" FROM indices ORDER BY "ticker"""")(
      r => (r.getTimestamp(1), r.getTimestamp(2)))
    assert(audit2.forall { case (c, u) =>
      c == ts("2025-05-01 00:00:00") && u == ts("2025-05-02 00:00:00")
    }, s"created_at stable / updated_at advanced, got $audit2")
  }

  test("verification query replay: last quotes per ticker (postgres_writer.py:371-377)") {
    Pipeline.runJdbc(spark, bars, dim, rates, url, ts("2025-05-01 00:00:00"))
    val rows = queryRows(
      """SELECT "ticker", "timestamp_utc" FROM quotes
        |WHERE "ticker" IN ('^GDAXI', '^GSPC')
        |ORDER BY "ticker", "timestamp_utc" DESC
        |FETCH FIRST 10 ROWS ONLY""".stripMargin)(
      r => (r.getString(1), r.getTimestamp(2)))
    assert(rows.size == 3)
    assert(rows.head == ("^GDAXI", ts("2025-04-18 07:00:00"))) // newest first per ticker
    // inserted_at default populated (postgres_writer.py:85)
    val ins = queryRows("""SELECT "inserted_at" FROM quotes""")(_.getTimestamp(1))
    assert(ins.size == 3 && ins.forall(_ != null))
  }

  test("unknown ticker: excluded from indices, quotes FK violation surfaces") {
    val badBars = bars.unionByName(
      mkBars(Seq(("2025-04-17 09:00:00", "^ROGUE", 1.0))))
    val e = intercept[Exception] {
      Pipeline.runJdbc(spark, badBars, dim, rates, url, ts("2025-05-03 00:00:00"))
    }
    assert(e.getMessage != null)
    // the FK target never accepted the rogue ticker
    assert(queryRows(
      """SELECT COUNT(*) FROM indices WHERE "ticker" = '^ROGUE'""")(_.getLong(1)) == Seq(0L))
  }

  test("an empty batch the optimizer folds away: zero metrics, no row written") {
    val emptyUrl = "jdbc:derby:memory:graft_pipeline_jdbc_empty;create=true"
    // limit(0) over a local frame folds the whole plan to an empty relation,
    // so the observed plan never runs
    val m = Pipeline.runJdbc(spark, bars.limit(0), dim, rates, emptyUrl,
      ts("2025-05-01 00:00:00"))
    assert(m == Pipeline.RunMetrics(0, 0, 0))
    val c = DriverManager.getConnection(emptyUrl)
    try Seq("indices", "quotes").foreach { t =>
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $t")
      assert(rs.next() && rs.getLong(1) == 0L, s"$t must stay empty")
    } finally c.close()
  }
}
