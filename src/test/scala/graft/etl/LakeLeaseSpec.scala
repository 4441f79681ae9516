package graft.etl

import graft.SparkSuite

class LakeLeaseSpec extends SparkSuite {
  private def conf = spark.sparkContext.hadoopConfiguration

  test("second writer aborts cleanly while the lease is held; stale lease is taken over") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft_lease").toString + "/t"
    val b1 = Seq((1L, "2024-01-01", 1L)).toDF("k", "p_date", "v")
    SnapshotLake.merge(spark, table, b1, Seq("k"), "v", "p_date")
    def rows() = SnapshotLake.read(spark, table).collect().map(_.toString).sorted.toSeq
    val before = rows()
    val genBefore = SnapshotLake.currentManifest(spark, table).get.gen
    // writer A holds the lease (simulated: a fresh lease file)
    val lease = new java.io.File(table + "__lease")
    assert(lease.createNewFile())
    val b2 = Seq((2L, "2024-01-02", 1L)).toDF("k", "p_date", "v")
    intercept[LakeLease.LeaseHeldException] {
      SnapshotLake.merge(spark, table, b2, Seq("k"), "v", "p_date")
    }
    assert(rows() == before, "aborted writer must not have touched the table")
    assert(SnapshotLake.currentManifest(spark, table).get.gen == genBefore,
      "aborted writer must not have published a snapshot")
    // holder crashed long ago: the stale lease is broken and the write runs
    assert(lease.setLastModified(
      System.currentTimeMillis() - 2 * LakeLease.DefaultTtlMs))
    SnapshotLake.merge(spark, table, b2, Seq("k"), "v", "p_date")
    assert(SnapshotLake.read(spark, table).count() == 2)
    assert(!lease.exists(), "lease must be released after the write")
  }

  test("interleaved writers: holder's merges run reentrantly, contender aborts, table consistent") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft_lease2").toString + "/t"
    @volatile var secondFailed: Option[Throwable] = None
    val done = new java.util.concurrent.CountDownLatch(1)
    LakeLease.withLease(conf, table) {
      // writer B interleaves while A holds — from another thread (the lease
      // is thread-scoped by design: two threads are two writers)
      val t = new Thread(() => {
        try SnapshotLake.merge(spark, table,
          Seq((9L, "2024-01-09", 1L)).toDF("k", "p_date", "v"),
          Seq("k"), "v", "p_date")
        catch { case e: Throwable => secondFailed = Some(e) }
        finally done.countDown()
      })
      t.start(); done.await()
      // A's own write inside its hold still works (reentrant per thread)
      SnapshotLake.merge(spark, table,
        Seq((1L, "2024-01-01", 1L)).toDF("k", "p_date", "v"),
        Seq("k"), "v", "p_date")
    }
    assert(secondFailed.exists(_.isInstanceOf[LakeLease.LeaseHeldException]),
      s"contender should have aborted with LeaseHeldException, got $secondFailed")
    assert(SnapshotLake.read(spark, table).select("k").collect().map(_.getLong(0)).toSet
      == Set(1L), "only the lease holder's write may land")
    assert(!new java.io.File(table + "__lease").exists(),
      "lease released after the holder's block exits")
  }

  test("opt-in retry: two interleaved writers BOTH land, commits serialized") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft_lease3").toString + "/t"
    SnapshotLake.merge(spark,
      table, Seq(("k0", "p", 1L)).toDF("key", "dt", "v"), Seq("key"), "v", "dt")
    // writer A holds the lease for a while; writer B — with the bounded
    // retry budget opted in — QUEUES instead of failing, and lands after
    // A's release. Retry is read from the hadoop conf, so SQL-face writers
    // (INSERT/MERGE/DELETE/UPDATE route through the same withLease) opt in
    // via spark.hadoop.graft.lake.lease.retry.max.wait.ms without API
    // changes.
    conf.setLong(LakeLease.RetryMaxWaitKey, 20000L)
    try {
      val bStarted = new java.util.concurrent.CountDownLatch(1)
      @volatile var bErr: Option[Throwable] = None
      val holderDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      val b = new Thread(() => {
        try {
          bStarted.countDown()
          SnapshotLake.merge(spark, table,
            Seq(("k2", "p", 1L)).toDF("key", "dt", "v"), Seq("key"), "v", "dt")
          // B's merge must not START before A released (serialization, not
          // interleaving): A flipped holderDone right before releasing
          assert(holderDone.get(), "B committed while A still held the lease")
        } catch { case e: Throwable => bErr = Some(e) }
      })
      LakeLease.withLease(conf, table) {
        b.start(); bStarted.await()
        Thread.sleep(1000) // B is now retrying against the held lease
        SnapshotLake.merge(spark, table,
          Seq(("k1", "p", 1L)).toDF("key", "dt", "v"), Seq("key"), "v", "dt")
        holderDone.set(true)
      }
      b.join(30000)
      assert(bErr.isEmpty, s"retrying writer should have landed, got $bErr")
      assert(SnapshotLake.read(spark, table).collect()
        .map(_.getAs[String]("key")).toSet == Set("k0", "k1", "k2"),
        "both writers' commits must be present")
    } finally conf.unset(LakeLease.RetryMaxWaitKey)
  }

  test("admission loop is lease-guarded: a held index lease aborts the admit") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_lease3").toString
    val index = s"$root/index"
    val corpus = s"$root/corpus"
    def sink(df: org.apache.spark.sql.DataFrame): Unit =
      Upsert.mergeIntoParquet(spark, corpus, df, Seq("doc_id"), "doc_id")
    val b = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val lease = new java.io.File(index + "__lease")
    assert(lease.createNewFile())
    intercept[LakeLease.LeaseHeldException] {
      graft.dedup.IncrementalDedup.admitAndCommit(spark, index, b, sink)
    }
    assert(!new java.io.File(corpus).exists(),
      "aborted admit must not have reached the sink")
    assert(lease.delete())
    assert(graft.dedup.IncrementalDedup.admitAndCommit(spark, index, b, sink) == 1L)
  }
}
