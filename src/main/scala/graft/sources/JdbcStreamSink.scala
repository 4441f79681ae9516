package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graft.StreamingBatchBridge
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

import graft.etl.{Ddl, Upsert}

/** `df.writeStream` INTO a keyed JDBC table — the streaming face of the one
  * JDBC upsert writer ([[JdbcUpsertDataSource]]), as [[LakeStreamSink]] is
  * the lake's:
  *
  * {{{
  *   converted.writeStream
  *     .format("graft-jdbc")                   // or classOf[JdbcStreamSink].getName
  *     .option("checkpointLocation", ckpt)     // required: the sink lineage
  *     .option("url", url).option("dbtable", "quotes")
  *     .option("keys", "ticker,timestamp_utc")
  *     .option("versionCol", "timestamp_utc")  // LWW order within a batch
  *     .option("dialect", "postgres")          // postgres (default) | derby | ansi
  *     .option("user", u).option("password", pw)   // optional; jdbcprop.* too
  *     .trigger(Trigger.AvailableNow())
  *     .start()
  * }}}
  *
  * Each micro-batch is LWW-deduped ([[graft.etl.Upsert.lastWriteWins]]) and
  * written by the batch write's per-partition MERGE transactions — the
  * reference's `postgres_writer.py:181-278` upsert, run per tick.
  *
  * Exactly-once: each partition's writer upserts its
  * [[graft.etl.Ddl.LedgerTable]] row `(sink_id, batch_id, partition_id,
  * num_partitions)` in the same transaction as its MERGE. A replay of a
  * batch with all `num_partitions` rows is skipped without reading it,
  * even if its source bytes changed; a batch that committed only some
  * partitions re-applies as a whole and converges through the idempotent
  * MERGE. `sinkId` defaults to `checkpointLocation` (batch ids are unique
  * per checkpoint lineage); pin it when a checkpoint moves.
  *
  * Deliberately V1 ([[Sink]]): the batch must be LWW-deduped as a WHOLE
  * first. Per-task V2 streaming writers never see the whole batch, so two
  * rows of one key in different partitions would race two MERGEs.
  * `Complete` mode and `partitionBy` refuse; the target table must exist.
  */
class JdbcStreamSink extends StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-jdbc"

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    val (opt, sinkId) = KeyedStreamSink.open("graft-jdbc",
      "rows land by the table's keys; the database owns its layout",
      parameters, partitionColumns, outputMode)
    val cfg = JdbcUpsertV2.Config(parameters)
    val versionCol = opt("versionCol").getOrElse(throw new IllegalArgumentException(
      "graft-jdbc needs .option(\"versionCol\", <column>) — the " +
        "last-write-wins order between two rows of one key in a micro-batch"))
    new JdbcSink(cfg, versionCol, sinkId)
  }
}

private[sources] class JdbcSink(cfg: JdbcUpsertV2.Config, versionCol: String,
    sinkId: String) extends Sink {

  // the ledger bootstrap runs once per sink instance, at its first batch
  private var ledgerReady = false

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    if (!ledgerReady) {
      Ddl.createLedger(cfg.url, cfg.connectionProperties)
      ledgerReady = true
    }
    if (!complete(batchId)) {
      // ForeachBatchSink's decoupling (see StreamingBatchBridge)
      val batch = Upsert.lastWriteWins(
        StreamingBatchBridge.decoupleFromStreaming(data), cfg.keys, versionCol)
      StreamingBatchBridge.appendV2(batch, new JdbcUpsertTable(batch.schema,
        cfg.copy(ledger = Some(JdbcUpsertV2.Ledger(sinkId, batchId)))))
    }
  }

  /** Some write of the batch committed all `num_partitions` partitions. */
  private def complete(batchId: Long): Boolean = {
    val conn = JdbcUpsertV2.connect(cfg)
    try {
      val st = conn.prepareStatement(
        s"""SELECT 1 FROM ${Ddl.LedgerTable}
           |WHERE "sink_id" = ? AND "batch_id" = ?
           |GROUP BY "num_partitions" HAVING COUNT(*) = "num_partitions"""".stripMargin)
      try {
        st.setString(1, sinkId)
        st.setLong(2, batchId)
        val rs = st.executeQuery()
        try rs.next() finally rs.close()
      } finally st.close()
    } finally conn.close()
  }

  override def toString: String = s"GraftJdbcSink[${cfg.table}]"
}
