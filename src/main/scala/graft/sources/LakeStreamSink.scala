package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graft.StreamingBatchBridge
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

import graft.etl.SnapshotLake

/** `df.writeStream` INTO a [[graft.etl.SnapshotLake]] — the write half of
  * the lake's streaming story ([[LakeCdcSource]] is the read half):
  *
  * {{{
  *   converted.writeStream
  *     .format("graft-lake")                 // or classOf[LakeStreamSink].getName
  *     .option("checkpointLocation", ckpt)   // required: the sink lineage
  *     .option("path", lakePath)
  *     .trigger(Trigger.AvailableNow())
  *     .start()
  * }}}
  *
  * Each micro-batch lands as the lake's usual keyed LWW merge commit
  * ([[SnapshotLake.mergeStreamBatch]]) under the table's persisted
  * contract — the SAME semantics, snapshot isolation, lease, widen-only
  * evolution check, and file records as every batch and SQL write face,
  * so a streaming producer and an `INSERT INTO` land indistinguishable
  * commits. It is the lake's one streaming write face ([[JdbcStreamSink]]
  * is the JDBC one). Exactly-once comes from the per-sink watermark in
  * the manifest: checked inside the commit's lease (replays skip without
  * reading the batch) and advanced in the same manifest publish as the
  * batch's data, so a replay never adds a generation and CDC readers of
  * the lake observe exactly-once too.
  *
  * Sink API choice, deliberately V1 ([[Sink]], the Delta-Lake precedent):
  * a keyed MERGE's natural unit is the whole micro-batch DataFrame (it
  * joins against the existing snapshot — two distributed passes:
  * affected-partition discovery, then the staged rewrite), which is
  * exactly the V1 `addBatch(batchId, data)` contract. The V2 streaming
  * write protocol hands rows to per-task writers — the wrong shape for an
  * operator whose commit IS a join, and the reason Delta's own streaming
  * sink stayed V1. The batch plan executes distributed both passes;
  * nothing lands on the driver but the affected-partition list.
  *
  * Contract:
  *  - the lake must already carry a merge contract (SQL `CREATE TABLE` or
  *    one API merge) — the sink refuses loudly otherwise, at the first
  *    batch (schema/contract problems surface as stream failure, not
  *    silent drops);
  *  - `Append` and `Update` output modes are identical here (every batch
  *    is a keyed upsert — Update's "changed rows only" is precisely what
  *    a keyed merge wants; Append rows for existing keys upsert, the
  *    lake's one write semantics). `Complete` refuses: re-landing the
  *    whole result every trigger is a truncate-and-replace contract the
  *    append-merge lake deliberately does not have.
  *  - `partitionBy` refuses: the lake's layout comes from its persisted
  *    contract, not per-query options.
  */
class LakeStreamSink extends StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-lake"

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    val (opt, sinkId) = KeyedStreamSink.open("graft-lake",
      "the lake's layout comes from its persisted merge contract " +
        "(partition_col at CREATE TABLE), never from the writer",
      parameters, partitionColumns, outputMode)
    val path = opt("path").getOrElse(throw new IllegalArgumentException(
      "graft-lake needs the lake's table root: .option(\"path\", <path>) " +
        "or .start(<path>)"))
    new LakeSink(sqlContext.sparkSession, path, sinkId)
  }
}

private[sources] class LakeSink(spark: SparkSession, path: String,
    sinkId: String) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // ForeachBatchSink's decoupling (see StreamingBatchBridge for why a
    // V1 sink's batch cannot be re-planned as handed over)
    SnapshotLake.mergeStreamBatch(spark, path,
      StreamingBatchBridge.decoupleFromStreaming(data), sinkId, batchId)
    ()
  }

  override def toString: String = s"GraftLakeSink[$path]"
}

/** The start-time contract both keyed sinks share ([[LakeStreamSink]],
  * [[JdbcStreamSink]]): `partitionBy` and `Complete` mode refuse, and the
  * replay lineage is `sinkId`, else `checkpointLocation` (batch ids are only
  * unique per checkpoint lineage; an explicit `sinkId` serves two queries
  * deliberately sharing one lineage, or a relocated checkpoint). Returns a
  * case-insensitive option lookup and the sink id.
  */
private[sources] object KeyedStreamSink {
  def open(name: String, layout: String, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): (String => Option[String], String) = {
    def opt(k: String): Option[String] = parameters.collectFirst {
      case (p, v) if p.equalsIgnoreCase(k) && v.nonEmpty => v
    }
    require(partitionColumns.isEmpty, s"$name: drop .partitionBy(…) — $layout")
    require(outputMode != OutputMode.Complete(),
      s"$name is a keyed upsert sink (every micro-batch upserts by the " +
        "table's keys) — Complete mode's truncate-and-replace contract " +
        "does not exist here; use Append or Update")
    val sinkId = opt("sinkId").orElse(opt("checkpointLocation")).getOrElse(
      throw new IllegalArgumentException(
        s"$name needs .option(\"checkpointLocation\", …) (or an explicit " +
          ".option(\"sinkId\", …)) — exactly-once needs a durable lineage " +
          "to key its replay record by"))
    (opt, sinkId)
  }
}
