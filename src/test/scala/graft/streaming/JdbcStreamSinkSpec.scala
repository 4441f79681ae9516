package graft.streaming

import java.sql.{DriverManager, Timestamp}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException, Trigger}

import graft.SparkSuite
import graft.etl.Ddl

/** `writeStream.format("graft-jdbc")` ([[graft.sources.JdbcStreamSink]]):
  * the ledger row of each write partition commits in the same transaction
  * as its MERGE, a batch with only some partitions committed re-applies
  * and completes its ledger, and the refusal shapes (Complete mode,
  * partitionBy, missing lineage, missing keys or versionCol) fail at
  * start naming the fix. StreamingSpec covers re-delivery convergence and
  * the skip of a complete batch replayed after commit-log loss.
  */
class JdbcStreamSinkSpec extends SparkSuite {
  import spark.implicits._

  private val db = "jdbc:derby:memory:graft_jdbc_sink"
  private val url = s"$db;create=true"

  private def tmp(slot: String): String =
    tempDir(s"graft_jdbcsink_$slot")

  private def sql(statement: String, url: String = url): Unit = {
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute(statement) finally c.close()
  }

  private def createTarget(table: String, url: String = url): Unit =
    sql(s"""CREATE TABLE $table (
           |  "event_id" BIGINT NOT NULL PRIMARY KEY, "ts" TIMESTAMP,
           |  "value" DOUBLE)""".stripMargin, url)

  private def rows(t: (Long, Double)*): DataFrame =
    t.map { case (id, v) => (id, Timestamp.valueOf("2025-04-17 07:00:00"), v) }
      .toDF("event_id", "ts", "value")

  private def drain(src: String, table: String, ckpt: String,
      sinkId: String, url: String = url): Unit =
    spark.readStream.schema(rows().schema).parquet(src)
      .writeStream.format("graft-jdbc")
      .option("url", url).option("dbtable", table)
      .option("keys", "event_id").option("versionCol", "ts")
      .option("dialect", "derby")
      .option("checkpointLocation", ckpt)
      .option("sinkId", sinkId)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  private def tableState(table: String, url: String = url): Map[Long, Double] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        s"""SELECT "event_id", "value" FROM $table""")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    } finally c.close()
  }

  /** (partition_id, num_partitions) ledger rows of one batch. */
  private def ledger(sinkId: String, batchId: Long): Set[(Int, Int)] = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.prepareStatement(
        s"""SELECT "partition_id", "num_partitions" FROM ${Ddl.LedgerTable}
           |WHERE "sink_id" = ? AND "batch_id" = ?""".stripMargin)
      st.setString(1, sinkId)
      st.setLong(2, batchId)
      val rs = st.executeQuery()
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => r.getInt(1) -> r.getInt(2)).toSet
    } finally c.close()
  }

  test("a batch with only some partitions committed re-applies and completes its ledger") {
    val root = tmp("partial")
    val src = s"$root/src"
    createTarget("sink_partial")
    rows((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
      .coalesce(1).write.parquet(src)
    // an earlier attempt of batch 0 planned 3 write partitions and only
    // partition 0 committed: its rows and its ledger row are in
    Ddl.createLedger(url, new java.util.Properties())
    sql("""INSERT INTO sink_partial VALUES (1, TIMESTAMP('2025-04-17 07:00:00'), 10.0)""")
    sql(s"""INSERT INTO ${Ddl.LedgerTable} VALUES ('part', 0, 0, 3)""")

    drain(src, "sink_partial", s"$root/ckpt", "part")
    assert(tableState("sink_partial") ==
      Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0),
      "the partial batch must re-apply as a whole")
    val n = ledger("part", 0L).map(_._2).max
    assert(ledger("part", 0L).filter(_._2 == n).map(_._1) == (0 until n).toSet,
      s"the replay must commit a ledger row per write partition: ${ledger("part", 0L)}")

    // now complete: a replay of batch 0 (a fresh checkpoint under the same
    // sinkId) is skipped, even with changed source bytes
    val src2 = s"$root/src2"
    rows((1L, 99.0), (2L, 99.0)).coalesce(1).write.parquet(src2)
    drain(src2, "sink_partial", s"$root/ckpt2", "part")
    assert(tableState("sink_partial") ==
      Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0))
  }

  test("a partition's rows and its ledger row commit together: a failed ledger write rolls the MERGE back") {
    val root = tmp("atomic")
    val src = s"$root/src"
    // its own database: a ledger table whose CHECK refuses every row, so
    // each partition's ledger upsert fails after its MERGE statements ran
    val url2 = s"${db}_atomic;create=true"
    createTarget("sink_atomic", url2)
    sql(s"""CREATE TABLE ${Ddl.LedgerTable} (
           |  "sink_id" VARCHAR(200) NOT NULL, "batch_id" BIGINT NOT NULL,
           |  "partition_id" INTEGER NOT NULL CHECK ("partition_id" < 0),
           |  "num_partitions" INTEGER NOT NULL,
           |  PRIMARY KEY ("sink_id", "batch_id", "partition_id"))""".stripMargin, url2)
    rows((1L, 10.0), (2L, 20.0)).coalesce(1).write.parquet(src)
    val e = intercept[StreamingQueryException] {
      drain(src, "sink_atomic", s"$root/ckpt", "atomic", url2)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("check constraint")),
      s"the ledger upsert must be what failed: $e")
    assert(tableState("sink_atomic", url2).isEmpty,
      "the partition's rows must roll back with its ledger row")
  }

  test("refusals: Complete mode, partitionBy, missing checkpoint or sinkId, missing keys or versionCol") {
    val root = tmp("refuse")
    val src = s"$root/src"
    rows((1L, 10.0)).write.parquet(src)
    def start(opts: Map[String, String], mode: OutputMode = OutputMode.Append(),
        partitionBy: Seq[String] = Nil, aggregate: Boolean = false): String = {
      val in = spark.readStream.schema(rows().schema).parquet(src)
      val df = if (aggregate) in.groupBy($"event_id").count() else in
      val w = df.writeStream.format("graft-jdbc").outputMode(mode)
        .partitionBy(partitionBy: _*).trigger(Trigger.AvailableNow())
      opts.foreach { case (k, v) => w.option(k, v) }
      intercept[IllegalArgumentException](w.start()).getMessage
    }
    val base = Map("url" -> url, "dbtable" -> "t", "keys" -> "event_id",
      "versionCol" -> "ts", "dialect" -> "derby")
    def ckpt(slot: String) = "checkpointLocation" -> s"$root/$slot"

    assert(start(base + ckpt("c1"), OutputMode.Complete(), aggregate = true)
      .contains("Complete"))
    assert(start(base + ckpt("c2"), partitionBy = Seq("event_id"))
      .contains("partitionBy"))
    assert(start(base).contains("checkpointLocation"))
    assert(start(base - "keys" + ckpt("c3")).contains("keys"))
    assert(start(base - "versionCol" + ckpt("c4")).contains("versionCol"))
  }
}
