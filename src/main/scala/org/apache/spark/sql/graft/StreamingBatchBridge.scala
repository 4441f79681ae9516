package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.AppendData
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** The ONE `private[sql]` bridge this library needs, in the connector-author
  * position every external Spark sink uses (the package placement is the
  * standard OSS-connector pattern for exactly this API): a V1 streaming
  * sink's `addBatch` Dataset wraps the query's own IncrementalExecution,
  * and its LOGICAL plan still carries streaming-marked leaves (a file
  * source's `getBatch` relation is `isStreaming = true`) — so any NEW
  * action planned from it (a merge's discovery scan, a staged write) fails
  * the batch analyzer's streaming check. Spark's own `ForeachBatchSink`
  * re-wraps the already-planned physical RDD as a non-streaming leaf
  * before handing the batch to user code; this is that exact call, made
  * reachable for [[graft.sources.LakeStreamSink]] and
  * [[graft.sources.JdbcStreamSink]]. No rows move and nothing caches —
  * downstream actions execute the same physical plan under a batch-legal
  * leaf.
  */
object StreamingBatchBridge {
  def decoupleFromStreaming(data: DataFrame): DataFrame = {
    val ds = data.asInstanceOf[Dataset[Row]]
    Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(ds.queryExecution.toRdd, ds, isStreaming = false))
  }

  /** `DataFrameWriter.save`'s eager `AppendData`, into a `Table` instance
    * the caller built itself rather than from string options.
    */
  def appendV2(data: DataFrame, table: Table): Unit = {
    val ds = data.asInstanceOf[Dataset[Row]]
    Dataset.ofRows(ds.sparkSession,
      AppendData.byName(DataSourceV2Relation.create(table, None, None), ds.logicalPlan))
    ()
  }
}
