package graft.sources

import java.sql.DriverManager

import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}
import graft.etl.Upsert

/** The V2 JDBC upsert sink: write→read round-trip against embedded Derby,
  * idempotent re-write (e3's convergence law), conflicting-update path,
  * and the plan shape — the write must be a first-class V2 `AppendData`
  * over the named table, not an opaque lambda.
  */
class JdbcUpsertV2Spec extends SparkSuite {

  private val url = "jdbc:derby:memory:graft_v2upsert;create=true"

  private def writeV2(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format(classOf[JdbcUpsertDataSource].getName)
      .option("url", url)
      .option("dbtable", "quotes_v2")
      .option("keys", "user_id,event_type")
      .option("dialect", "derby")
      .option("batchsize", "500")
      .mode("append").save()

  test("V2 upsert sink: round-trip, idempotent re-write, update path, plan shape") {
    val c = DriverManager.getConnection(url)
    c.createStatement().execute(
      """CREATE TABLE quotes_v2 (
        |  "user_id" BIGINT NOT NULL, "event_type" VARCHAR(30) NOT NULL,
        |  "ts" TIMESTAMP NOT NULL, "value" DOUBLE,
        |  PRIMARY KEY ("user_id", "event_type"))""".stripMargin)
    c.close()

    val batch = Upsert.lastWriteWins(
      Tables(spark, sf001, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("value")),
      keys = Seq("user_id", "event_type"),
      versionCol = "ts", tieBreakers = Seq("value"))

    // capture the executed plan of the write: it must be the V2 AppendData
    // over this table, visible to any QueryExecutionListener/EXPLAIN
    @volatile var writePlan: String = null
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (qe.executedPlan.toString.contains("AppendData") ||
          qe.optimizedPlan.toString.contains("jdbc_upsert"))
          writePlan = qe.executedPlan.toString + "\n--optimized--\n" +
            qe.optimizedPlan.toString
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      writeV2(batch)
      val deadline = System.currentTimeMillis() + 30000
      while (writePlan == null && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
    } finally spark.listenerManager.unregister(listener)
    assert(writePlan != null, "no V2 write plan observed")
    assert(writePlan.contains("AppendData") && writePlan.contains("jdbc_upsert(quotes_v2)"),
      s"write must plan as V2 AppendData over the named table:\n$writePlan")
    assert(!writePlan.contains("foreachPartition"), writePlan)

    // round-trip: reading the table back yields exactly the written batch
    def readBack() = spark.read.jdbc(url, "quotes_v2", new java.util.Properties())
    def rows() = readBack()
      .select(col("user_id"), col("event_type"), col("ts"), col("value"))
      .collect().map(_.toSeq).toSet
    val want = batch.collect().map(_.toSeq).toSet
    assert(rows() == want, "V2 write -> JDBC read round-trip diverged")

    // e3's law: replaying the identical batch converges (keyed MERGE)
    writeV2(batch)
    assert(rows() == want, "idempotent re-write must converge")

    // conflicting re-delivery takes the UPDATE path
    writeV2(batch.withColumn("value", lit(-1.0)))
    val got = readBack()
    assert(got.count() == want.size)
    assert(got.agg(max(col("value"))).head().getDouble(0) == -1.0,
      "conflicting rows must all have been updated")

    // schema inference reads the live table (all-nullable by contract)
    val inferred = new JdbcUpsertDataSource().inferSchema(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("url", url, "dbtable", "quotes_v2", "keys", "user_id")))
    assert(inferred.fieldNames.toSeq == Seq("user_id", "event_type", "ts", "value"))
    assert(inferred.fields.forall(_.nullable))
  }

  test("V2 upsert sink guardrails: missing options and unknown dialect fail fast") {
    val df = Tables(spark, sf001, "events").limit(1)
    def attempt(opts: Map[String, String]): Exception =
      intercept[Exception] {
        var w = df.write.format(classOf[JdbcUpsertDataSource].getName)
        opts.foreach { case (k, v) => w = w.option(k, v) }
        w.mode("append").save()
      }
    assert(attempt(Map("url" -> url, "keys" -> "user_id"))
      .getMessage.contains("dbtable"))
    assert(attempt(Map("url" -> url, "dbtable" -> "quotes_v2"))
      .getMessage.contains("keys"))
    assert(attempt(Map("url" -> url, "dbtable" -> "quotes_v2",
      "keys" -> "user_id", "dialect" -> "oracle"))
      .getMessage.contains("unknown dialect"))
    val batch = attempt(Map("url" -> url, "dbtable" -> "quotes_v2",
      "keys" -> "user_id", "batchsize" -> "1k"))
    assert(batch.isInstanceOf[IllegalArgumentException] &&
      batch.getMessage.contains("batchsize") && batch.getMessage.contains("'1k'"),
      batch.toString)
  }

  test("V2 upsert sink: user/password and jdbcprop.* become connection properties") {
    // authenticated databases need credentials OUTSIDE the URL (the
    // upsertJdbc java.util.Properties contract) — both the schema-inference
    // and writer paths open connections through Config.connectionProperties
    val cfg = JdbcUpsertV2.Config(Map(
      "url" -> url, "dbtable" -> "t", "keys" -> "k",
      "user" -> "alice", "password" -> "s3cret", "jdbcprop.ssl" -> "true"))
    val p = cfg.connectionProperties
    assert(p.getProperty("user") == "alice")
    assert(p.getProperty("password") == "s3cret")
    assert(p.getProperty("ssl") == "true")
    assert(cfg.props.size == 3,
      s"engine options must not leak into driver properties: ${cfg.props}")
  }

  test("V2 upsert sink: jdbcprop.* names keep their case; the prefix matches in any case") {
    // drivers look property names up exactly (pgjdbc ignores a lowercased
    // `rewritebatchedinserts` without an error)
    val cfg = JdbcUpsertV2.Config(Map(
      "Url" -> url, "dbTable" -> "t", "Keys" -> "k",
      "User" -> "alice", "PASSWORD" -> "s3cret",
      "jdbcprop.reWriteBatchedInserts" -> "true",
      "JDBCPROP.ApplicationName" -> "graft"))
    val p = cfg.connectionProperties
    assert(p.getProperty("reWriteBatchedInserts") == "true")
    assert(p.getProperty("ApplicationName") == "graft")
    assert(p.getProperty("rewritebatchedinserts") == null &&
      p.getProperty("applicationname") == null)
    // user/password resolve case-insensitively under their canonical names
    assert(p.getProperty("user") == "alice" && p.getProperty("password") == "s3cret")
    assert(cfg.props.keySet ==
      Set("user", "password", "reWriteBatchedInserts", "ApplicationName"))
  }

  test("V2 upsert sink: options are case-insensitive on BOTH schema and write paths") {
    // getTable receives the case-PRESERVING properties map — mixed-case
    // keys must still resolve (the DSv2 convention)
    val c = DriverManager.getConnection(url)
    c.createStatement().execute(
      """CREATE TABLE quotes_v2_ci (
        |  "user_id" BIGINT NOT NULL, "value" DOUBLE,
        |  PRIMARY KEY ("user_id"))""".stripMargin)
    c.close()
    val df = Tables(spark, sf001, "events")
      .select(col("user_id"), col("value")).dropDuplicates("user_id").limit(20)
    df.write.format(classOf[JdbcUpsertDataSource].getName)
      .option("Url", url)
      .option("dbTable", "quotes_v2_ci")
      .option("Keys", "user_id")
      .option("Dialect", "derby")
      .mode("append").save()
    assert(spark.read.jdbc(url, "quotes_v2_ci", new java.util.Properties()).count()
      == df.count())
  }
}
