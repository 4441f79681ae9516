package graft.streaming


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSuite
import graft.etl.SnapshotLake

/** The standing CDC consumer: a `graft-lake-cdc` stream
  * ([[graft.sources.LakeCdcSource]]) drained with `Trigger.AvailableNow`
  * into `foreachBatch`, one commit per micro-batch — multi-commit history
  * delivered in order and exactly once across restarts (position = the
  * query's checkpoint), the bootstrap snapshot, replay of a failed batch,
  * the vacuum and reset guardrails, and the exactly-once composition with
  * the fold ledger. LakeCdcStreamSpec covers the source through the file
  * sink.
  */
class LakeCdcSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(slot: String): String =
    tempDir(s"graft_cdc_$slot")

  private val b1 = Seq(
    ("k1", "2025-01-01", 1L, 10.0),
    ("k2", "2025-01-02", 1L, 20.0)).toDF("key", "dt", "v", "price")
  private val b2 = Seq(
    ("k1", "2025-01-01", 2L, 15.0),
    ("k3", "2025-01-03", 1L, 30.0)).toDF("key", "dt", "v", "price")

  private def types(df: DataFrame): Map[String, String] =
    df.collect().map(r =>
      r.getAs[String]("key") -> r.getAs[String]("_change_type")).toMap

  /** One consumer tick: every commit not yet in `ckpt`'s commit log goes to
    * `f(delta, generation)`, one commit per micro-batch, in generation
    * order; then the query stops. Returns the generations delivered.
    */
  private def follow(lake: String, ckpt: String)(f: (DataFrame, Long) => Unit): Seq[Long] = {
    var delivered = Vector.empty[Long]
    spark.readStream.format("graft-lake-cdc").option("maxGensPerBatch", 1L).load(lake)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (delta: DataFrame, _: Long) =>
        val gen = delta.select(max(col("_commit_gen"))).head().getLong(0)
        f(delta.drop("_commit_gen"), gen)
        delivered :+= gen
      }
      .start()
      .awaitTermination()
    delivered
  }

  /** Micro-batches the query's commit log records as done. */
  private def committedBatches(ckpt: String): Int =
    Option(new java.io.File(s"$ckpt/commits").list()).fold(0)(_.count(_.forall(_.isDigit)))

  test("follow: bootstrap + per-commit deltas, in order, exactly once across restarts") {
    val root = tmp("follow")
    val lake = s"$root/t"; val ckpt = s"$root/c"
    SnapshotLake.merge(spark, lake, b1, Seq("key"), "v", "dt") // gen 1
    SnapshotLake.merge(spark, lake, b2, Seq("key"), "v", "dt") // gen 2
    SnapshotLake.delete(spark, lake, col("key") === "k2")      // gen 3
    var got = List.empty[(Long, Map[String, String])]
    val f = (df: DataFrame, g: Long) => { got :+= ((g, types(df))); () }
    // tick 1: bootstrap (gen 1 as all-insert) + the two later deltas
    assert(follow(lake, ckpt)(f) == Seq(1L, 2L, 3L))
    assert(got == List(
      (1L, Map("k1" -> "insert", "k2" -> "insert")),
      (2L, Map("k1" -> "update", "k3" -> "insert")),
      (3L, Map("k2" -> "delete"))))
    // tick 2 (a restart — position is the checkpoint, not process state):
    // caught up, nothing re-delivered
    assert(follow(lake, ckpt)(f).isEmpty)
    assert(got.length == 3)
    // a new commit arrives: exactly its delta is delivered
    SnapshotLake.merge(spark, lake,
      Seq(("k4", "2025-01-04", 1L, 40.0)).toDF("key", "dt", "v", "price"),
      Seq("key"), "v", "dt") // gen 4
    assert(follow(lake, ckpt)(f) == Seq(4L))
    assert(got.last == ((4L, Map("k4" -> "insert"))))
    assert(committedBatches(ckpt) == 4)
  }

  test("crash inside f: the unmarkered batch replays once, then suppression holds") {
    val root = tmp("crash")
    val lake = s"$root/t"; val ckpt = s"$root/c"
    SnapshotLake.merge(spark, lake, b1, Seq("key"), "v", "dt") // gen 1
    SnapshotLake.merge(spark, lake, b2, Seq("key"), "v", "dt") // gen 2
    var seen = List.empty[Long]
    // the consumer dies mid-gen-2 (after the bootstrap batch committed)
    intercept[StreamingQueryException] {
      follow(lake, ckpt) { (_, g) =>
        seen :+= g
        if (g == 2L) throw new RuntimeException("crash before commit")
      }
    }
    assert(seen == List(1L, 2L))
    assert(committedBatches(ckpt) == 1, "the crashed batch must NOT be committed")
    // the restarted tick re-delivers ONLY gen 2 (bootstrap suppressed)
    assert(follow(lake, ckpt)((_, g) => seen :+= g) == Seq(2L))
    assert(seen == List(1L, 2L, 2L))
    assert(follow(lake, ckpt)((_, g) => seen :+= g).isEmpty)
  }

  test("vacuum guardrail: a consumer outrun by retention fails loudly, naming the gen") {
    val root = tmp("vac")
    val lake = s"$root/t"; val ckpt = s"$root/c"
    SnapshotLake.merge(spark, lake, b1, Seq("key"), "v", "dt") // gen 1
    // consume up to gen 1
    follow(lake, ckpt)((_, _) => ())
    SnapshotLake.merge(spark, lake, b2, Seq("key"), "v", "dt") // gen 2
    SnapshotLake.delete(spark, lake, col("key") === "k2")      // gen 3
    SnapshotLake.vacuum(spark, lake, keepManifests = 1)        // only gen 3 left
    val e = intercept[StreamingQueryException] {
      follow(lake, ckpt)((_, _) => ())
    }
    val msg = e.getCause.getMessage
    assert(msg.contains("snapshot 1") && msg.contains("no longer retained"),
      s"error must name the missing snapshot, got: $msg")
    // a RESET consumer (fresh checkpoint) re-bootstraps from the oldest
    // retained snapshot
    var got = List.empty[(Long, Long)]
    assert(follow(lake, s"$root/c2")((df, g) => got :+= ((g, df.count()))) == Seq(3L))
    assert(got == List((3L, 2L))) // k1 + k3 as the bootstrap inserts
  }

  test("reset guardrail: a re-created lake fails the follower instead of silently skipping") {
    val root = tmp("reset")
    val lake = s"$root/t"; val ckpt = s"$root/c"
    SnapshotLake.merge(spark, lake, b1, Seq("key"), "v", "dt") // gen 1
    SnapshotLake.merge(spark, lake, b2, Seq("key"), "v", "dt") // gen 2
    follow(lake, ckpt)((_, _) => ())
    // the lake is deleted and re-created at the same path: its generation
    // counter resets BELOW the consumer's position — "caught up" would be
    // a silent skip of the new table's entire history
    val fs = new org.apache.hadoop.fs.Path(lake).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(lake), true)
    SnapshotLake.merge(spark, lake, b1, Seq("key"), "v", "dt") // gen 1 again
    val e = intercept[StreamingQueryException] {
      follow(lake, ckpt)((_, _) => ())
    }
    assert(e.getCause.getMessage.contains("reset"),
      s"error must name the lake reset, got: ${e.getCause.getMessage}")
  }

  test("exactly-once end-to-end: follower composed with the atomic fold ledger") {
    val root = tmp("fold")
    val lake = s"$root/t"; val ckpt = s"$root/c"
    val mv = s"$root/mv"
    SnapshotLake.merge(spark, lake, b1, Seq("key"), "v", "dt") // gen 1
    SnapshotLake.merge(spark, lake, b2, Seq("key"), "v", "dt") // gen 2
    // MV: running SUM of post-image prices per key (sum-merge — NOT
    // idempotent, so replay suppression must be the MV's stream watermark,
    // keyed on the commit generation)
    def fold(delta: DataFrame, gen: Long): Unit = {
      SnapshotLake.foldStreamBatch(spark, mv,
        delta.filter(col("_change_type") =!= "delete")
          .groupBy(col("key")).agg(sum(col("price")).as("s")),
        "key", "cdc-mv", gen)(
        (cur, bs) => cur.unionByName(bs).groupBy(col("key")).agg(sum(col("s")).as("s")))
      ()
    }
    def sums() = SnapshotLake.read(spark, mv).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Double]("s")).toMap
    follow(lake, ckpt)(fold)
    val once = sums()
    assert(once == Map("k1" -> 25.0, "k2" -> 20.0, "k3" -> 30.0))
    val gens = SnapshotLake.retainedGens(spark, mv)
    assert(SnapshotLake.streamBatchApplied(spark, mv, "cdc-mv").contains(2L))
    // simulate a LOST consumer position (checkpoint wiped): the re-delivered
    // generations meet the SAME watermark and are suppressed — the MV never
    // double-counts and gains no generation
    val fs = new org.apache.hadoop.fs.Path(ckpt).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    assert(follow(lake, ckpt)(fold) == Seq(1L, 2L))
    val twice = sums()
    assert(SnapshotLake.retainedGens(spark, mv) == gens)
    assert(twice == once, "replayed generations must not re-fold")
  }
}
