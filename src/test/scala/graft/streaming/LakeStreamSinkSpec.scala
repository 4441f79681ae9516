package graft.streaming


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException, Trigger}

import graft.SparkSuite
import graft.etl.SnapshotLake

/** `writeStream.format("graft-lake")` ([[graft.sources.LakeStreamSink]]):
  * each micro-batch lands as the lake's keyed LWW merge commit,
  * exactly-once via the per-sink watermark its manifest carries — replay
  * skips without committing (LakeManifestSpec injects the crashes on
  * either side of the publish), and the refusal shapes (Complete mode, partitionBy, missing checkpoint,
  * missing contract) fail loudly at the right time.
  */
class LakeStreamSinkSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(slot: String): String =
    tempDir(s"graft_lakesink_$slot")

  private val schema = Seq(("k", "2025-01-01", 1L, 1.0))
    .toDF("key", "dt", "v", "price").schema

  private def rows(t: (String, String, Long, Double)*): DataFrame =
    t.toDF("key", "dt", "v", "price")

  private def freshLake(root: String): String = {
    val lake = s"$root/t"
    SnapshotLake.create(spark, lake, schema,
      SnapshotLake.MergeSpec(Seq("key"), "v", "dt", Nil, Nil))
    lake
  }

  private def drain(src: String, lake: String, ckpt: String): Unit = {
    val q = spark.readStream.schema(schema).parquet(src)
      .writeStream.format("graft-lake")
      .option("path", lake)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def state(lake: String): Map[String, (Long, Double)] =
    SnapshotLake.read(spark, lake).collect()
      .map(r => r.getAs[String]("key") ->
        (r.getAs[Long]("v"), r.getAs[Double]("price"))).toMap

  test("AvailableNow drains land keyed LWW commits; restart re-delivers nothing") {
    val root = tmp("drain")
    val lake = freshLake(root)
    val src = s"$root/src"; val ckpt = s"$root/ckpt"
    rows(("k1", "2025-01-01", 1L, 10.0), ("k2", "2025-01-02", 1L, 20.0))
      .write.mode("append").parquet(src)
    drain(src, lake, ckpt)
    assert(state(lake) == Map("k1" -> (1L, 10.0), "k2" -> (1L, 20.0)))
    val gen1 = SnapshotLake.retainedGens(spark, lake).max

    // second landing: one upsert, one insert — lands as the next commit
    rows(("k1", "2025-01-01", 2L, 15.0), ("k3", "2025-01-03", 1L, 30.0))
      .write.mode("append").parquet(src)
    drain(src, lake, ckpt)
    assert(state(lake) ==
      Map("k1" -> (2L, 15.0), "k2" -> (1L, 20.0), "k3" -> (1L, 30.0)))

    // restart with the same checkpoint and no new files: NO new
    // generation (the source is caught up; no batch even reaches the sink)
    val genBefore = SnapshotLake.retainedGens(spark, lake).max
    assert(genBefore > gen1)
    drain(src, lake, ckpt)
    assert(SnapshotLake.retainedGens(spark, lake).max == genBefore)
  }

  test("replayed batch id skips without committing; marker tracks the max") {
    val root = tmp("replay")
    val lake = freshLake(root)
    val sid = "sink-a"
    assert(SnapshotLake.streamBatchApplied(spark, lake, sid).isEmpty)
    assert(SnapshotLake.mergeStreamBatch(spark, lake,
      rows(("k1", "2025-01-01", 1L, 10.0)), sid, 0L))
    assert(SnapshotLake.streamBatchApplied(spark, lake, sid).contains(0L))
    val gen = SnapshotLake.retainedGens(spark, lake).max

    // exact replay: skipped, nothing published
    assert(!SnapshotLake.mergeStreamBatch(spark, lake,
      rows(("k1", "2025-01-01", 9L, 99.0)), sid, 0L))
    assert(SnapshotLake.retainedGens(spark, lake).max == gen)
    assert(state(lake) == Map("k1" -> (1L, 10.0)))

    // an EMPTY later batch publishes nothing and leaves the watermark:
    // replaying it is again a no-op
    assert(!SnapshotLake.mergeStreamBatch(spark, lake, rows(), sid, 1L))
    assert(SnapshotLake.streamBatchApplied(spark, lake, sid).contains(0L))
    assert(SnapshotLake.retainedGens(spark, lake).max == gen)

    // a DIFFERENT sink lineage has its own watermark
    assert(SnapshotLake.streamBatchApplied(spark, lake, "sink-b").isEmpty)
  }

  test("refusals: Complete mode, partitionBy, missing checkpoint, missing contract") {
    val root = tmp("refuse")
    val lake = freshLake(root)
    val src = s"$root/src"
    rows(("k1", "2025-01-01", 1L, 10.0)).write.mode("append").parquet(src)

    val complete = intercept[IllegalArgumentException] {
      spark.readStream.schema(schema).parquet(src)
        .groupBy($"key").count()
        .writeStream.format("graft-lake")
        .option("path", lake)
        .option("checkpointLocation", s"$root/c1")
        .outputMode(OutputMode.Complete())
        .trigger(Trigger.AvailableNow())
        .start()
    }
    assert(complete.getMessage.contains("Complete"))

    val part = intercept[IllegalArgumentException] {
      spark.readStream.schema(schema).parquet(src)
        .writeStream.format("graft-lake")
        .partitionBy("dt")
        .option("path", lake)
        .option("checkpointLocation", s"$root/c2")
        .trigger(Trigger.AvailableNow())
        .start()
    }
    assert(part.getMessage.contains("partitionBy"))

    val noCkpt = intercept[IllegalArgumentException] {
      spark.readStream.schema(schema).parquet(src)
        .writeStream.format("graft-lake")
        .option("path", lake)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    assert(noCkpt.getMessage.contains("checkpointLocation"))

    // a lake with no persisted contract: the FIRST batch fails the stream
    // loudly (UnsupportedOperationException inside the query)
    val bare = s"$root/bare"
    val err = intercept[StreamingQueryException] {
      val q = spark.readStream.schema(schema).parquet(src)
        .writeStream.format("graft-lake")
        .option("path", bare)
        .option("checkpointLocation", s"$root/c3")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val msg = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).find(m => m != null && m.contains("merge contract"))
      .getOrElse(err.getMessage)
    assert(msg.contains("merge contract") && msg.contains("graft-lake stream") &&
      msg.contains("'merge_keys'") && msg.contains("SnapshotLake.merge"), msg)
  }

  test("round trip: writeStream in, readStream CDC out, states agree") {
    val root = tmp("roundtrip")
    val lake = freshLake(root)
    val src = s"$root/src"; val ckpt = s"$root/ckpt"
    rows(("k1", "2025-01-01", 1L, 10.0), ("k2", "2025-01-02", 1L, 20.0))
      .write.mode("append").parquet(src)
    drain(src, lake, ckpt)
    rows(("k1", "2025-01-01", 2L, 15.0)).write.mode("append").parquet(src)
    drain(src, lake, ckpt)

    val out = s"$root/cdc_out"
    val q = spark.readStream.format("graft-lake-cdc").load(lake)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", s"$root/cdc_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // fold the CDC rows to final state: last commit mentioning the key
    val folded = spark.read.parquet(out)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"key")
          .orderBy($"_commit_gen".desc)))
      .filter($"rn" === 1 && $"_change_type" =!= "delete")
      .select($"key", $"v", $"price")
    assert(folded.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getDouble(2))).toMap == state(lake))
  }
}
