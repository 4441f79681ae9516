package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
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
  * commits. Unlike `foreachBatch` into a keyed merge
  * ([[graft.streaming.StreamingIngest.snapshotMergeAvailableNow]],
  * at-least-once and converging), exactly-once comes from the in-lake per-sink batch
  * marker (checked inside the commit's lease; replays skip without
  * reading the batch) plus keyed LWW convergence for the one
  * crash-between window — see mergeStreamBatch's scaladoc for the full
  * argument, including why CDC readers of the lake observe exactly-once
  * too.
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
    def opt(k: String): Option[String] = parameters.collectFirst {
      case (p, v) if p.equalsIgnoreCase(k) && v.nonEmpty => v
    }
    require(partitionColumns.isEmpty,
      "graft-lake: drop .partitionBy(…) — the lake's layout comes from " +
        "its persisted merge contract (partition_col at CREATE TABLE), " +
        "never from the writer")
    require(outputMode != OutputMode.Complete(),
      "graft-lake is an append-merge sink (every micro-batch upserts by " +
        "the table's keys) — Complete mode's truncate-and-replace " +
        "contract does not exist here; use Append or Update")
    val path = opt("path").getOrElse(throw new IllegalArgumentException(
      "graft-lake needs the lake's table root: .option(\"path\", <path>) " +
        "or .start(<path>)"))
    // batch ids are only unique per checkpoint lineage, so the replay
    // marker is keyed by it; an explicit sinkId option overrides (two
    // queries deliberately sharing one marker, or a relocated checkpoint)
    val sinkId = opt("sinkId").orElse(opt("checkpointLocation")).getOrElse(
      throw new IllegalArgumentException(
        "graft-lake needs .option(\"checkpointLocation\", …) (or an " +
          "explicit .option(\"sinkId\", …)) — exactly-once needs a " +
          "durable lineage to key the replay marker by"))
    new LakeSink(sqlContext.sparkSession, path, sinkId)
  }
}

private[sources] class LakeSink(spark: SparkSession, path: String,
    sinkId: String) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    SnapshotLake.mergeStreamBatch(spark, path, LakeSink.decouple(data),
      sinkId, batchId)
    ()
  }

  override def toString: String = s"GraftLakeSink[$path]"
}

private[sources] object LakeSink {
  /** `ForeachBatchSink`'s decoupling, via
    * [[org.apache.spark.sql.graft.StreamingBatchBridge]] (see its scaladoc
    * for why a V1 sink's batch cannot be re-planned as handed over).
    */
  def decouple(data: DataFrame): DataFrame =
    org.apache.spark.sql.graft.StreamingBatchBridge.decoupleFromStreaming(data)
}
