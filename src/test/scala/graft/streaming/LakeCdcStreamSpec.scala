package graft.streaming


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuite
import graft.etl.SnapshotLake

/** The lake's `spark.readStream` face ([[graft.sources.LakeCdcSource]]):
  * bootstrap + per-commit deltas through Structured Streaming's OWN
  * checkpointing — restart resumes from the offset log and re-delivers
  * nothing, admission control splits batches, the vacuum/reset guardrails
  * fail the stream loudly naming the generation, and the streamed
  * consumption folds to the lake's current snapshot. LakeCdcSpec covers
  * the `foreachBatch` consumer over the same source.
  */
class LakeCdcStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(slot: String): String =
    tempDir(s"graft_cdcstream_$slot")

  private val b1 = Seq(
    ("k1", "2025-01-01", 1L, 10.0),
    ("k2", "2025-01-02", 1L, 20.0)).toDF("key", "dt", "v", "price")
  private val b2 = Seq(
    ("k1", "2025-01-01", 2L, 15.0),
    ("k3", "2025-01-03", 1L, 30.0)).toDF("key", "dt", "v", "price")

  private def threeCommitLake(root: String): String = {
    val lake = s"$root/t"
    SnapshotLake.merge(spark, lake, b1, Seq("key"), "v", "dt") // gen 1
    SnapshotLake.merge(spark, lake, b2, Seq("key"), "v", "dt") // gen 2
    SnapshotLake.delete(spark, lake, col("key") === "k2")      // gen 3
    lake
  }

  /** One AvailableNow drain of the CDC stream into a parquet sink. */
  private def drain(lake: String, out: String, ckpt: String,
      options: Map[String, String] = Map.empty): Unit = {
    val reader = spark.readStream.format("graft-lake-cdc")
    options.foreach { case (k, v) => reader.option(k, v) }
    val q = reader.load(lake)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def byGen(df: DataFrame): Map[Long, Map[String, String]] =
    df.collect()
      .groupBy(_.getAs[Long]("_commit_gen"))
      .map { case (g, rows) =>
        g -> rows.map(r =>
          r.getAs[String]("key") -> r.getAs[String]("_change_type")).toMap
      }

  test("AvailableNow: bootstrap + per-commit deltas, exactly once across restarts") {
    val root = tmp("drain")
    val lake = threeCommitLake(root)
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    drain(lake, out, ckpt)
    val got = spark.read.parquet(out)
    assert(got.columns.toSeq ==
      Seq("key", "dt", "v", "price", "_change_type", "_commit_gen"))
    assert(byGen(got) == Map(
      1L -> Map("k1" -> "insert", "k2" -> "insert"), // the bootstrap snapshot
      2L -> Map("k1" -> "update", "k3" -> "insert"),
      3L -> Map("k2" -> "delete")))
    // restart with the same checkpoint: caught up, nothing re-delivered
    drain(lake, out, ckpt)
    assert(spark.read.parquet(out).count() == 5)
    // a new commit arrives: exactly its delta is delivered
    SnapshotLake.merge(spark, lake,
      Seq(("k4", "2025-01-04", 1L, 40.0)).toDF("key", "dt", "v", "price"),
      Seq("key"), "v", "dt") // gen 4
    drain(lake, out, ckpt)
    val after = byGen(spark.read.parquet(out))
    assert(after(4L) == Map("k4" -> "insert") && after.size == 4)
  }

  test("streamed consumption folded by key reconstructs the current snapshot") {
    val root = tmp("fold")
    val lake = threeCommitLake(root)
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    drain(lake, out, ckpt)
    // final state per key = its row in the highest commit that mentions it
    // (each commit is keyed LWW, so a key appears at most once per gen);
    // keys whose last mention is a delete are gone
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("_commit_gen").desc)
    val folded = spark.read.parquet(out)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("_change_type") =!= "delete")
      .select("key", "dt", "v", "price")
    val current = SnapshotLake.read(spark, lake).select("key", "dt", "v", "price")
    assert(folded.exceptAll(current).isEmpty && current.exceptAll(folded).isEmpty,
      "fold of the streamed CDC rows must equal the lake's current snapshot")
  }

  test("maxGensPerBatch: admission control splits the drain into per-gen batches") {
    val root = tmp("cap")
    val lake = threeCommitLake(root)
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    drain(lake, out, ckpt, Map("maxGensPerBatch" -> "1"))
    assert(byGen(spark.read.parquet(out)).keySet == Set(1L, 2L, 3L))
    // one offset-log entry per planned batch: the capped drain needed 3
    val offsets = new java.io.File(s"$ckpt/offsets").list()
      .count(_.forall(_.isDigit))
    assert(offsets == 3, s"expected 3 per-gen batches, got $offsets")
  }

  test("lag: each batch's progress reports gensBehind, 0 once caught up") {
    val root = tmp("lag")
    val lake = threeCommitLake(root)
    val q = spark.readStream.format("graft-lake-cdc")
      .option("maxGensPerBatch", "1").load(lake)
      .writeStream.format("parquet")
      .option("path", s"$root/out")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // one batch per generation: gens 1, 2, 3 consumed of newest gen 3
    val lags = q.recentProgress.filter(_.numInputRows > 0)
      .map(_.sources.head.metrics.get("gensBehind")).toSeq
    assert(lags == Seq("2", "1", "0"), s"gensBehind per batch: $lags")
  }

  test("vacuum guardrail: a stream outrun by retention fails naming the snapshot") {
    val root = tmp("vac")
    val lake = s"$root/t"
    SnapshotLake.merge(spark, lake, b1, Seq("key"), "v", "dt") // gen 1
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    drain(lake, out, ckpt) // checkpoint position: gen 1
    SnapshotLake.merge(spark, lake, b2, Seq("key"), "v", "dt") // gen 2
    SnapshotLake.delete(spark, lake, col("key") === "k2")      // gen 3
    SnapshotLake.vacuum(spark, lake, keepManifests = 1)        // only gen 3 left
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(lake, out, ckpt)
    }
    val msg = e.getCause.getMessage
    assert(msg.contains("snapshot 1") && msg.contains("no longer retained"),
      s"error must name the missing snapshot, got: $msg")
    // a FRESH checkpoint re-bootstraps from the oldest retained snapshot
    val out2 = s"$root/out2"; val ckpt2 = s"$root/ckpt2"
    drain(lake, out2, ckpt2)
    assert(byGen(spark.read.parquet(out2)) ==
      Map(3L -> Map("k1" -> "insert", "k3" -> "insert")))
  }

  test("reset guardrail: a re-created lake fails the stream instead of silently skipping") {
    val root = tmp("reset")
    val lake = threeCommitLake(root)
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    drain(lake, out, ckpt) // checkpoint position: gen 3
    // the lake is deleted and re-created at the same path: gen counter resets
    val fs = new org.apache.hadoop.fs.Path(lake).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(lake), true)
    SnapshotLake.merge(spark, lake, b1, Seq("key"), "v", "dt") // gen 1 again
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(lake, out, ckpt)
    }
    val msg = e.getCause.getMessage
    assert(msg.contains("reset"),
      s"error must name the lake reset, got: $msg")
  }
}
