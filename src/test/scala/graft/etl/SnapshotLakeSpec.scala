package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The manifest-pointer lake: snapshot isolation (no torn reads between a
  * commit's installs and its publish), crash recovery before the publish,
  * shared compaction commit, exact-type round-trips, time travel, and
  * vacuum retention. LWW equivalence with an in-memory model over random
  * batch sequences is PropertySpec's.
  */
class SnapshotLakeSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_snaplake").toString + "/t"

  private def state(df: DataFrame): Map[String, (Long, Double)] =
    df.collect().map(r => r.getAs[String]("key") ->
      ((r.getAs[Long]("v"), r.getAs[Double]("price")))).toMap

  private val b1 = Seq(
    ("k1", "2025-01-01", 1L, 10.0),
    ("k2", "2025-01-02", 1L, 20.0),
    ("k3", "2025-01-03", 1L, 30.0)).toDF("key", "dt", "v", "price")
  private val b2 = Seq(
    ("k1", "2025-01-01", 2L, 15.0),
    ("k4", "2025-01-04", 1L, 40.0)).toDF("key", "dt", "v", "price")

  test("merge → read round-trip: LWW state, partition type, replay") {
    val dir = tmp()
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    SnapshotLake.merge(spark, dir, b2, Seq("key"), "v", "dt")
    val got = state(SnapshotLake.read(spark, dir))
    assert(got == Map("k1" -> ((2L, 15.0)), "k2" -> ((1L, 20.0)),
      "k3" -> ((1L, 30.0)), "k4" -> ((1L, 40.0))))
    // partition column kept its exact value and type (stored IN the files)
    assert(SnapshotLake.read(spark, dir).schema("dt").dataType ==
      org.apache.spark.sql.types.StringType)
    // replaying b2 converges (idempotent LWW through a fresh gen + manifest)
    SnapshotLake.merge(spark, dir, b2, Seq("key"), "v", "dt")
    assert(state(SnapshotLake.read(spark, dir)) == got)
  }

  test("snapshot isolation: a reader between installs and publish sees wholly-old") {
    val dir = tmp()
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    val before = state(SnapshotLake.read(spark, dir))
    // prepare WITHOUT publish = the exact mid-commit window: all affected
    // partitions' new gen dirs are fully installed on disk
    val deduped = Upsert.lastWriteWins(b2, Seq("key"), "v", Nil)
    val pending = SnapshotLake.prepareMerge(
      spark, dir, deduped, Seq("key"), "v", "dt", Nil).get
    // a reader resolving NOW sees the wholly-OLD snapshot — no torn state,
    // no transiently-absent partition, even though dt=2025-01-01's next gen
    // and the brand-new dt=2025-01-04 are already on disk
    assert(state(SnapshotLake.read(spark, dir)) == before,
      "reader observed a half-committed merge")
    // a frame resolved BEFORE the commit keeps reading the old snapshot
    val pinned = SnapshotLake.read(spark, dir)
    SnapshotLake.publish(pending._1, dir, pending._2)
    assert(state(SnapshotLake.read(spark, dir)) ==
      Map("k1" -> ((2L, 15.0)), "k2" -> ((1L, 20.0)),
        "k3" -> ((1L, 30.0)), "k4" -> ((1L, 40.0))),
      "publish must atomically expose the wholly-new snapshot")
    assert(state(pinned) == before,
      "a pre-commit reader's pinned snapshot changed under it")
  }

  test("crash before publish: old snapshot readable, re-run converges") {
    val dir = tmp()
    // k9 shares k1's partition but no later batch carries it: the re-run
    // must merge against the published gen, not lose the untouched key
    SnapshotLake.merge(spark, dir,
      b1.unionByName(Seq(("k9", "2025-01-01", 1L, 90.0)).toDF("key", "dt", "v", "price")),
      Seq("key"), "v", "dt")
    val before = state(SnapshotLake.read(spark, dir))
    // simulate the crash: prepare (stage + install) and DROP the manifest
    val deduped = Upsert.lastWriteWins(b2, Seq("key"), "v", Nil)
    SnapshotLake.prepareMerge(spark, dir, deduped, Seq("key"), "v", "dt", Nil)
    assert(state(SnapshotLake.read(spark, dir)) == before,
      "crashed (unpublished) commit must be invisible")
    // next writer GCs the orphan gens and commits cleanly
    SnapshotLake.merge(spark, dir, b2, Seq("key"), "v", "dt")
    assert(state(SnapshotLake.read(spark, dir)) ==
      Map("k1" -> ((2L, 15.0)), "k2" -> ((1L, 20.0)),
        "k3" -> ((1L, 30.0)), "k4" -> ((1L, 40.0)), "k9" -> ((1L, 90.0))),
      "recovery must not drop rows the batch didn't carry")
  }

  test("compaction commits through the same manifest; readers never see a gap") {
    val dir = tmp()
    // fragment one partition: a spread-out batch writes one file per task
    // holding the partition's rows (the merge rewrites whole partitions, so
    // unlike an append sink, fragmentation comes from write parallelism)
    val wide = (1 to 6).map(i => (s"k$i", "2025-02-01", 1L, i.toDouble))
      .toDF("key", "dt", "v", "price").repartition(6, col("key"))
    SnapshotLake.merge(spark, dir, wide, Seq("key"), "v", "dt")
    val before = state(SnapshotLake.read(spark, dir))
    val pinned = SnapshotLake.read(spark, dir) // pre-compaction snapshot
    val genBefore = SnapshotLake.currentManifest(spark, dir).get.gen
    val done = SnapshotLake.compact(spark, dir, targetBytes = 1L << 30,
      minFilesToCompact = 2)
    assert(done.nonEmpty && done.head._2 > done.head._3,
      s"compaction should shrink file count: $done")
    // same rows, new generation, one manifest bump
    assert(state(SnapshotLake.read(spark, dir)) == before)
    assert(SnapshotLake.currentManifest(spark, dir).get.gen == genBefore + 1)
    // the pre-compaction reader still resolves its old gen dirs
    assert(state(pinned) == before,
      "compaction must not disturb a pinned snapshot")
    // idempotent: a second pass finds nothing to do
    assert(SnapshotLake.compact(spark, dir, 1L << 30, 2).isEmpty)
  }

  test("guard: a batch touching too many partition values fails loudly") {
    val dir = tmp()
    spark.conf.set("graft.lake.maxAffectedPartitions", "3")
    try {
      val wide = (1 to 5).map(i => (s"k$i", s"d$i", 1L, i.toDouble))
        .toDF("key", "dt", "v", "price")
      val e = intercept[IllegalArgumentException] {
        SnapshotLake.merge(spark, dir, wide, Seq("key"), "v", "dt")
      }
      assert(e.getMessage.contains("distinct dt"),
        s"expected the affected-partition guard, got: ${e.getMessage}")
      // under the default (100k) bound the same batch commits fine
      spark.conf.unset("graft.lake.maxAffectedPartitions")
      SnapshotLake.merge(spark, dir, wide, Seq("key"), "v", "dt")
      assert(state(SnapshotLake.read(spark, dir)).keySet ==
        (1 to 5).map(i => s"k$i").toSet)
    } finally spark.conf.unset("graft.lake.maxAffectedPartitions")
  }

  /** A 5-partition lake, then `commit` under a bound of 3 affected values:
    * it must refuse with `verb`'s guard message before publishing, and
    * `commitOne` (a single-partition commit) must still land.
    */
  private def checkCommitGuard(verb: String, commit: String => Long,
      commitOne: String => Long): Unit = {
    val dir = tmp()
    val wide = (1 to 5).map(i => (s"k$i", s"d$i", 1L, i.toDouble))
      .toDF("key", "dt", "v", "price")
    SnapshotLake.merge(spark, dir, wide, Seq("key"), "v", "dt")
    val before = state(SnapshotLake.read(spark, dir))
    val gen = SnapshotLake.currentManifest(spark, dir).get.gen
    spark.conf.set("graft.lake.maxAffectedPartitions", "3")
    try {
      val e = intercept[IllegalArgumentException](commit(dir))
      assert(e.getMessage.contains(s"$verb touches more than 3 distinct dt"),
        s"expected the affected-partition guard, got: ${e.getMessage}")
      // refused before any write: no snapshot published, rows intact
      assert(SnapshotLake.currentManifest(spark, dir).get.gen == gen)
      assert(state(SnapshotLake.read(spark, dir)) == before)
      // a commit inside the bound still lands
      assert(commitOne(dir) == 1L)
      assert(SnapshotLake.currentManifest(spark, dir).get.gen == gen + 1)
    } finally spark.conf.unset("graft.lake.maxAffectedPartitions")
  }

  test("guard: an update touching too many partition values fails loudly") {
    val bump = Map("price" -> (col("price") + 1))
    checkCommitGuard("update",
      dir => SnapshotLake.update(spark, dir, col("price") > 0, bump),
      dir => SnapshotLake.update(spark, dir, col("key") === "k1", bump))
  }

  test("guard: a delete touching too many partition values fails loudly") {
    checkCommitGuard("delete",
      dir => SnapshotLake.delete(spark, dir, col("price") > 0),
      dir => SnapshotLake.delete(spark, dir, col("key") === "k1"))
  }

  test("exact-type partitions: string '0025' never collides with int-ish '25'") {
    val dir = tmp()
    val b = Seq(("a", "0025", 1L, 1.0), ("b", "25", 1L, 2.0))
      .toDF("key", "dt", "v", "price")
    SnapshotLake.merge(spark, dir, b, Seq("key"), "v", "dt")
    val got = SnapshotLake.read(spark, dir).select("dt").as[String]
      .collect().sorted.toSeq
    assert(got == Seq("0025", "25"),
      "distinct string partition values must stay distinct")
    assert(SnapshotLake.currentManifest(spark, dir).get.entries.size == 2)
    // manifest-level pruning reads only the asked partition
    val pruned = SnapshotLake.read(spark, dir, Seq("0025"))
    assert(pruned.select("key").as[String].collect().toSeq == Seq("a"))
  }

  test("time travel + vacuum retention") {
    val dir = tmp()
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    val g1 = SnapshotLake.currentManifest(spark, dir).get.gen
    SnapshotLake.merge(spark, dir, b2, Seq("key"), "v", "dt")
    // time travel: snapshot g1 still reads the pre-b2 state
    assert(state(SnapshotLake.readAt(spark, dir, g1)) ==
      Map("k1" -> ((1L, 10.0)), "k2" -> ((1L, 20.0)), "k3" -> ((1L, 30.0))))
    // vacuum to 1 manifest: g1's superseded gen dir + manifest are dropped,
    // the current snapshot is untouched
    val removed = SnapshotLake.vacuum(spark, dir, keepManifests = 1)
    assert(removed >= 1, s"expected at least one gen dir removed, got $removed")
    assert(state(SnapshotLake.read(spark, dir)) ==
      Map("k1" -> ((2L, 15.0)), "k2" -> ((1L, 20.0)),
        "k3" -> ((1L, 30.0)), "k4" -> ((1L, 40.0))))
    intercept[IllegalArgumentException](SnapshotLake.readAt(spark, dir, g1))
  }

  test("streaming sink: micro-batches converge to the batch merge; replays converge") {
    val dir = tmp()
    val landing = Files.createTempDirectory("graft_snaplake_landing").toString
    b1.unionByName(b2).repartition(3).write.mode("overwrite").parquet(landing)
    val schema = spark.read.parquet(landing).schema
    def tick(n: Int): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(landing)
      graft.streaming.StreamingIngest.snapshotMergeAvailableNow(
        stream, dir, s"$landing/ckpt_$n", Seq("key"), "v", "dt")
        .awaitTermination()
    }
    tick(1) // >= 3 micro-batches, each one manifest commit
    val want = Map("k1" -> ((2L, 15.0)), "k2" -> ((1L, 20.0)),
      "k3" -> ((1L, 30.0)), "k4" -> ((1L, 40.0)))
    assert(state(SnapshotLake.read(spark, dir)) == want)
    assert(SnapshotLake.currentManifest(spark, dir).get.gen >= 3,
      "each micro-batch must have published its own manifest")
    // fresh checkpoint => full re-delivery; idempotent LWW converges
    tick(2)
    assert(state(SnapshotLake.read(spark, dir)) == want,
      "replayed stream must converge, not duplicate or regress")
  }

  test("query-surface face (e3b): the gate query's read binds published gen dirs") {
    // the manifest path under the REAL query surface: e3b merges two
    // batches and answers from SnapshotLake.read — its scan must resolve
    // concrete `<col>=h<hex>/gen=<n>` paths (a snapshot, immune to later
    // commits), not a recursive directory listing
    val df = graft.queries.CoreQueries.e3bUpsertLake(spark, sf001)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "e3b must read through a parquet scan")
    val roots = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.nonEmpty && roots.forall(p =>
      p.contains("/event_type=h") && p.contains("/gen=")),
      s"lake read must bind manifest gen dirs, got: $roots")
    // batch 2 (odd event_ids) rewrote every partition, so every pinned gen
    // is the second generation — the manifest points past batch 1's dirs
    assert(roots.forall(_.endsWith("gen=2")), s"expected gen=2 snapshots: $roots")
    assert(df.limit(1).count() == 1)
  }

  test("guardrails: null/control-char/over-long partition values, wrong column, empty lake") {
    val dir = tmp()
    intercept[IllegalStateException](SnapshotLake.read(spark, dir))
    val withNull = Seq(("k1", null.asInstanceOf[String], 1L, 1.0))
      .toDF("key", "dt", "v", "price")
    intercept[IllegalArgumentException](
      SnapshotLake.merge(spark, dir, withNull, Seq("key"), "v", "dt"))
    // a newline in a value would corrupt the line-oriented manifest and
    // brick every future parse — rejected up front like null
    val withNewline = Seq(("k1", "a\nb", 1L, 1.0)).toDF("key", "dt", "v", "price")
    val eNl = intercept[IllegalArgumentException](
      SnapshotLake.merge(spark, dir, withNewline, Seq("key"), "v", "dt"))
    assert(eNl.getMessage.contains("control character"))
    // hex dir names double the value's length — over-long values fail
    // fast instead of dying mid-commit on a filesystem name limit
    val withLong = Seq(("k1", "x" * 200, 1L, 1.0)).toDF("key", "dt", "v", "price")
    val eLen = intercept[IllegalArgumentException](
      SnapshotLake.merge(spark, dir, withLong, Seq("key"), "v", "dt"))
    assert(eLen.getMessage.contains("too long"))
    // the EMPTY STRING is a legal partition value: the `h`-prefixed hex
    // routing key keeps its staged dir name non-empty (bare hex('') = ''
    // would partitionBy into __HIVE_DEFAULT_PARTITION__ and the install
    // could never match it back — the batch was permanently unwritable)
    val withEmpty = Seq(("ke", "", 1L, 7.5)).toDF("key", "dt", "v", "price")
    SnapshotLake.merge(spark, dir, withEmpty, Seq("key"), "v", "dt")
    val gotEmpty = SnapshotLake.read(spark, dir).filter(col("key") === "ke").collect()
    assert(gotEmpty.length == 1 && gotEmpty.head.getAs[String]("dt") == "",
      "empty-string partition value must commit and round-trip exactly")
    assert(SnapshotLake.read(spark, dir, Seq("")).count() == 1,
      "manifest-level pruning must address the empty-string partition")
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    intercept[IllegalArgumentException](
      SnapshotLake.merge(spark, dir, b1.withColumnRenamed("dt", "other")
        .withColumn("dt", col("other")), Seq("key"), "v", "other"))
    // pruning to a nonexistent partition keeps the TABLE's schema — an
    // empty typed frame, not a zero-column one
    val pruned = SnapshotLake.read(spark, dir, Seq("2099-12-31"))
    assert(pruned.count() == 0)
    assert(pruned.columns.toSeq == Seq("key", "dt", "v", "price"))
    assert(pruned.filter(col("price") > 0).count() == 0) // columns resolve
    // stray NON-NUMERIC gen= debris (manual copy, partial sync) must be
    // skipped by GC/vacuum/merge, not NumberFormatException the table into
    // a brick on every subsequent mutation
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val somePart = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data"))
      .filter(_.isDirectory).head.getPath
    fs.mkdirs(new org.apache.hadoop.fs.Path(somePart, "gen=copy.bak"))
    SnapshotLake.merge(spark, dir,
      b1.withColumn("v", col("v") + 100), Seq("key"), "v", "dt")
    SnapshotLake.vacuum(spark, dir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(somePart, "gen=copy.bak")),
      "non-conforming debris is not ours to delete")
    assert(SnapshotLake.read(spark, dir).count() > 0)
  }

  test("readSlice: file-level min/max skipping inside one partition, byte-identical results") {
    import org.apache.hadoop.fs.Path
    val dir = tmp()
    val n = 1000
    val rows = (1 to n).map(i => (s"k$i", "p", i.toLong,
      java.sql.Timestamp.valueOf(f"2025-01-01 00:${i / 60}%02d:${i % 60}%02d"),
      i.toDouble))
      .toDF("key", "dt", "v", "ts", "price")
    // at test scale AQE would rightly coalesce the range-clustered write
    // into ONE small file; disable coalescing so the partition fragments
    // and skipping has something to prove (at 100 TB AQE sizing IS the
    // desired file-count governor)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try SnapshotLake.merge(spark, dir, rows, Seq("key"), "v", "dt",
      statsCols = Seq("v", "ts"))
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = SnapshotLake.currentManifest(spark, dir).get
    val genDir = new Path(new Path(dir, "data"),
      m.entries.head.dirName + s"/gen=${m.entries.head.gen}")
    val totalFiles = fs.listStatus(genDir)
      .count(s => s.isFile && !s.getPath.getName.startsWith("_"))
    assert(totalFiles > 3, s"need a fragmented partition to prove skipping, got $totalFiles")
    // a narrow v-slice must READ fewer files than the partition holds...
    val sliced = SnapshotLake.readSlice(spark, dir, "v", Some(100L), Some(200L))
    val readFiles = sliced.inputFiles.length
    assert(readFiles < totalFiles, s"no files skipped: $readFiles of $totalFiles")
    // ...with results byte-identical to the unpruned read + filter
    def keyset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[String]("key"), r.getAs[Long]("v"),
        r.getAs[java.sql.Timestamp]("ts"), r.getAs[Double]("price"))).toSet
    val want = SnapshotLake.read(spark, dir)
      .filter(col("v") >= 100L && col("v") <= 200L)
    assert(keyset(sliced) == keyset(want))
    assert(sliced.count() == 101)
    // timestamp stats ride unix_micros (session-timezone-free)
    val tsLo = java.sql.Timestamp.valueOf("2025-01-01 00:05:00")
    val tsHi = java.sql.Timestamp.valueOf("2025-01-01 00:06:40")
    val tsSliced = SnapshotLake.readSlice(spark, dir, "ts", Some(tsLo), Some(tsHi))
    assert(tsSliced.inputFiles.length < totalFiles)
    assert(keyset(tsSliced) == keyset(SnapshotLake.read(spark, dir)
      .filter(col("ts") >= tsLo && col("ts") <= tsHi)))
    // half-open slices work; an unbounded slice is the plain read
    assert(SnapshotLake.readSlice(spark, dir, "v", Some(901L), None).count() == 100)
    assert(SnapshotLake.readSlice(spark, dir, "v", None, None).count() == n.toLong)
    // a later merge WITHOUT stats keeps correctness (its gen unpruned)
    val extra = Seq(("kx", "p", 5000L,
      java.sql.Timestamp.valueOf("2025-01-01 01:00:00"), 1.0))
      .toDF("key", "dt", "v", "ts", "price")
    SnapshotLake.merge(spark, dir, extra, Seq("key"), "v", "dt")
    assert(SnapshotLake.readSlice(spark, dir, "v", Some(4000L), None).count() == 1)
    // vacuum keeps sidecars of still-referenced gens, drops expired ones
    SnapshotLake.vacuum(spark, dir)
    assert(SnapshotLake.readSlice(spark, dir, "v", Some(100L), Some(200L)).count() == 101)
  }

  test("stats sidecar ranges follow value order, not string order") {
    import org.apache.hadoop.fs.Path
    val dir = tmp()
    // Long 1..1000 range-clustered into 4 files: in string order the first
    // file's range would read [1, 99] and the last one's [1000, 999], and
    // both slices below would prune away every row they should return
    val rows = (1 to 1000).map(i => (s"k$i", "p", i.toLong, i.toDouble))
      .toDF("key", "dt", "v", "price")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try SnapshotLake.merge(spark, dir, rows, Seq("key"), "v", "dt",
      statsCols = Seq("v"))
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = SnapshotLake.currentManifest(spark, dir).get
    val totalFiles = fs.listStatus(new Path(new Path(dir, "data"),
      m.entries.head.dirName + s"/gen=${m.entries.head.gen}"))
      .count(s => s.isFile && !s.getPath.getName.startsWith("_"))
    assert(totalFiles > 3, s"need a fragmented partition, got $totalFiles")
    Seq((100L, 200L, 101L), (751L, 998L, 248L)).foreach { case (lo, hi, want) =>
      val sliced = SnapshotLake.readSlice(spark, dir, "v", Some(lo), Some(hi))
      assert(sliced.count() == want, s"slice [$lo, $hi] lost rows")
      assert(sliced.inputFiles.length < totalFiles,
        s"slice [$lo, $hi] read all $totalFiles files — the sidecar pruned nothing")
    }
  }

  test("compaction re-captures stats sidecars; readSlices conjuncts prune") {
    import org.apache.hadoop.fs.Path
    val dir = tmp()
    val n = 600
    val rows = (1 to n).map(i => (s"k$i", "p", i.toLong,
      java.sql.Timestamp.valueOf(f"2025-02-01 00:${i / 60}%02d:${i % 60}%02d"),
      i.toDouble)).toDF("key", "dt", "v", "ts", "price")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try SnapshotLake.merge(spark, dir, rows, Seq("key"), "v", "dt",
      statsCols = Seq("v", "ts"))
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def genDir(): Path = {
      val m = SnapshotLake.currentManifest(spark, dir).get
      new Path(new Path(dir, "data"),
        m.entries.head.dirName + s"/gen=${m.entries.head.gen}")
    }
    val files0 = fs.listStatus(genDir())
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
    assert(files0.length > 2, s"need fragmentation, got ${files0.length}")
    // compact down to ~2 files: skipping must SURVIVE the rewrite
    val target = files0.map(_.getLen).sum / 2 + 1
    val did = SnapshotLake.compact(spark, dir, targetBytes = target,
      minFilesToCompact = 2)
    assert(did.nonEmpty, "compaction should have picked the partition")
    val filesAfter = fs.listStatus(genDir())
      .count(s => s.isFile && !s.getPath.getName.startsWith("_"))
    assert(filesAfter >= 2 && filesAfter < files0.length)
    val sliced = SnapshotLake.readSlice(spark, dir, "v", Some(50L), Some(150L))
    assert(sliced.inputFiles.length < filesAfter,
      "post-compact slice read every file — the re-captured sidecar is dead")
    assert(sliced.count() == 101)
    // multi-column conjunct: each slice may prune on its own column
    val tsLo = java.sql.Timestamp.valueOf("2025-02-01 00:01:00")
    val tsHi = java.sql.Timestamp.valueOf("2025-02-01 00:02:00")
    val multi = SnapshotLake.readSlices(spark, dir,
      Seq(("v", Some(1L), None), ("ts", Some(tsLo), Some(tsHi))))
    val want = SnapshotLake.read(spark, dir)
      .filter(col("v") >= 1L && col("ts") >= tsLo && col("ts") <= tsHi)
    assert(multi.collect().map(_.getAs[Long]("v")).sorted.toSeq ==
      want.collect().map(_.getAs[Long]("v")).sorted.toSeq)
    assert(multi.count() == 61)
  }

  test("delete: partition-scoped commit, emptied partitions dropped, history intact") {
    val dir = tmp()
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt") // gen 1
    SnapshotLake.merge(spark, dir, b2, Seq("key"), "v", "dt") // gen 2
    // entry gens before: 01→2 (b2 updated k1), 02→1, 03→1, 04→2
    val before = SnapshotLake.currentManifest(spark, dir).get
      .entries.map(e => e.value -> e.gen).toMap
    assert(before == Map("2025-01-01" -> 2L, "2025-01-02" -> 1L,
      "2025-01-03" -> 1L, "2025-01-04" -> 2L))
    val n = SnapshotLake.delete(spark, dir, col("key") === "k1")
    assert(n == 1L, "exactly the matching row is deleted")
    assert(state(SnapshotLake.read(spark, dir)) ==
      Map("k2" -> ((1L, 20.0)), "k3" -> ((1L, 30.0)), "k4" -> ((1L, 40.0))))
    val after = SnapshotLake.currentManifest(spark, dir).get
    assert(after.gen == 3L)
    // k1 was 2025-01-01's only row: the emptied partition LEFT the manifest
    // entirely; untouched partitions keep their exact pre-delete gens (no
    // rewrite — their gen dirs were never re-staged)
    assert(after.entries.map(e => e.value -> e.gen).toMap ==
      Map("2025-01-02" -> 1L, "2025-01-03" -> 1L, "2025-01-04" -> 2L))
    // time travel still sees the pre-delete snapshot until vacuum
    assert(state(SnapshotLake.readAt(spark, dir, 2L)).contains("k1"),
      "pre-delete snapshot must stay readable")
    // key-batch face: k2 goes, the unknown key is a no-op inside the batch
    val n2 = SnapshotLake.deleteKeys(spark, dir,
      Seq("k2", "k_absent").toDF("key"))
    assert(n2 == 1L)
    assert(state(SnapshotLake.read(spark, dir)).keySet == Set("k3", "k4"))
    // a no-hit delete publishes NOTHING (no empty commit)
    val gen0 = SnapshotLake.currentManifest(spark, dir).get.gen
    assert(SnapshotLake.delete(spark, dir, col("key") === "zzz") == 0L)
    assert(SnapshotLake.currentManifest(spark, dir).get.gen == gen0)
  }

  test("update: predicate-scoped rewrite; untouched partitions keep their gens") {
    val dir = tmp()
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt") // gen 1
    SnapshotLake.merge(spark, dir, b2, Seq("key"), "v", "dt") // gen 2
    val before = SnapshotLake.currentManifest(spark, dir).get
      .entries.map(e => e.value -> e.gen).toMap
    val n = SnapshotLake.update(spark, dir, col("key") === "k2",
      Map("price" -> (col("price") * 10)))
    assert(n == 1L, "exactly the matching row updates")
    assert(state(SnapshotLake.read(spark, dir)) ==
      Map("k1" -> ((2L, 15.0)), "k2" -> ((1L, 200.0)),
        "k3" -> ((1L, 30.0)), "k4" -> ((1L, 40.0))))
    val after = SnapshotLake.currentManifest(spark, dir).get
    assert(after.gen == 3L)
    // only k2's partition (2025-01-02) rewrote; every other entry keeps its
    // exact pre-update gen — their dirs were never re-staged
    assert(after.entries.map(e => e.value -> e.gen).toMap ==
      before + ("2025-01-02" -> 3L))
    // time travel still answers the pre-update value until vacuum
    assert(state(SnapshotLake.readAt(spark, dir, 2L))("k2") == ((1L, 20.0)))
    // NULL-evaluating predicate rows keep their values (WHERE polarity),
    // and a no-hit update publishes NOTHING
    assert(SnapshotLake.update(spark, dir, col("key") === "zzz",
      Map("price" -> lit(0.0))) == 0L)
    assert(SnapshotLake.currentManifest(spark, dir).get.gen == 3L)
  }

  test("update: guards refuse partition-column / key / unknown / nondeterministic sets") {
    val dir = tmp()
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    def refusal(assign: Map[String, org.apache.spark.sql.Column],
        pred: org.apache.spark.sql.Column = lit(true)): String =
      intercept[IllegalArgumentException](
        SnapshotLake.update(spark, dir, pred, assign)).getMessage
    assert(refusal(Map("dt" -> lit("x"))).contains("partition column"))
    assert(refusal(Map("key" -> lit("x"))).contains("merge key"))
    assert(refusal(Map("nope" -> lit(1))).contains("unknown column"))
    assert(refusal(Map("price" -> rand())).contains("deterministic"))
    assert(refusal(Map("price" -> lit(0.0)), pred = rand() > 0.5)
      .contains("deterministic"))
    intercept[IllegalArgumentException](
      SnapshotLake.update(spark, dir, lit(true), Map.empty))
    // nothing committed by any refusal; values intact
    assert(SnapshotLake.currentManifest(spark, dir).get.gen == 1L)
    assert(state(SnapshotLake.read(spark, dir))("k1") == ((1L, 10.0)))
    // assigned values cast to the column's declared type (int literal on a
    // DOUBLE column stores as double — the type stays fixed at creation)
    SnapshotLake.update(spark, dir, col("key") === "k1", Map("price" -> lit(99)))
    assert(state(SnapshotLake.read(spark, dir))("k1") == ((1L, 99.0)))
  }

  test("create: bootstraps an empty gen-0 table; a crashed create heals on retry") {
    val dir = tmp()
    val spec = SnapshotLake.MergeSpec(Seq("key"), "v", "dt", Nil, Nil)
    SnapshotLake.create(spark, dir, b1.schema, spec)
    assert(SnapshotLake.currentManifest(spark, dir).exists(m =>
      m.gen == 0L && m.entries.isEmpty))
    // the recorded shape is the NULLABLE form of the declaration — a
    // parquet-backed snapshot never promises non-null (see
    // writeSchemaSidecar); names/types/order are the declared ones
    assert(SnapshotLake.read(spark, dir).schema ==
      org.apache.spark.sql.types.StructType(
        b1.schema.fields.map(_.copy(nullable = true))))
    assert(SnapshotLake.mergeSpecOf(spark, dir).contains(spec))
    // a later merge lands gen 1 through the stamped contract
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    assert(state(SnapshotLake.read(spark, dir)).keySet == Set("k1", "k2", "k3"))
    // duplicate create refuses on the live table
    val e = intercept[IllegalArgumentException](
      SnapshotLake.create(spark, dir, b1.schema, spec))
    assert(e.getMessage.contains("already exists"))
    // crashed-create debris (sidecar + meta, NO manifest) heals: the retry
    // deletes the orphans and converges to a fresh table
    val dir2 = tmp()
    SnapshotLake.create(spark, dir2, b1.schema, spec)
    val mdir = new java.io.File(s"$dir2/_manifests")
    assert(new java.io.File(mdir, "manifest-" + "%020d".format(0L)).delete())
    SnapshotLake.create(spark, dir2, b1.schema, spec) // must not collide
    assert(SnapshotLake.currentManifest(spark, dir2).exists(_.gen == 0L))
  }

  test("delete/update refuse nondeterministic predicates (two-pass consistency)") {
    val dir = tmp()
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    val e = intercept[IllegalArgumentException](
      SnapshotLake.delete(spark, dir, rand() > 0.5))
    assert(e.getMessage.contains("deterministic"))
    assert(SnapshotLake.currentManifest(spark, dir).get.gen == 1L)
  }

  test("delete/update refuse time-dependent predicates (now() varies per pass)") {
    // Catalyst marks current_timestamp()/current_date() deterministic (they
    // are, WITHIN one execution — ComputeCurrentTime substitutes per run),
    // but the delete/update passes are separate executions: a now()-relative
    // predicate would split them inconsistently exactly like rand()
    val dir = tmp()
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    val e1 = intercept[IllegalArgumentException](SnapshotLake.delete(spark, dir,
      to_timestamp(col("dt")) < current_timestamp()))
    assert(e1.getMessage.contains("evaluation time"))
    val e2 = intercept[IllegalArgumentException](SnapshotLake.update(spark, dir,
      to_date(col("dt")) < current_date(), Map("price" -> lit(0.0))))
    assert(e2.getMessage.contains("evaluation time"))
    val e4 = intercept[IllegalArgumentException](SnapshotLake.update(spark, dir,
      col("key") === "k1",
      Map("price" -> unix_timestamp(current_timestamp()).cast("double"))))
    assert(e4.getMessage.contains("evaluation time"))
    // nothing committed by any refusal
    assert(SnapshotLake.currentManifest(spark, dir).get.gen == 1L)
  }

  test("schema sidecar keeps the TABLE's column order across reordered batches") {
    val dir = tmp()
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    assert(SnapshotLake.read(spark, dir).columns.toSeq ==
      Seq("key", "dt", "v", "price"))
    // batch 2 arrives with the same columns in a different order — the
    // published column order must NOT silently flip (SELECT * / positional
    // INSERT binding stay stable); values still merge correctly by name
    SnapshotLake.merge(spark, dir,
      b2.select(col("price"), col("v"), col("dt"), col("key")),
      Seq("key"), "v", "dt")
    assert(SnapshotLake.read(spark, dir).columns.toSeq ==
      Seq("key", "dt", "v", "price"))
    assert(state(SnapshotLake.read(spark, dir))("k1") == ((2L, 15.0)))
    // a genuinely NEW column appends after the existing order
    val widened = b2.withColumn("note", lit("n"))
      .select(col("note"), col("price"), col("v"), col("dt"), col("key"))
    SnapshotLake.merge(spark, dir, widened, Seq("key"), "v", "dt")
    assert(SnapshotLake.read(spark, dir).columns.toSeq ==
      Seq("key", "dt", "v", "price", "note"))
  }

  test("delete: NULL-evaluating predicate rows survive (SQL WHERE polarity)") {
    val dir = tmp()
    val rows = Seq(("k1", "p", 1L, Some(1.0)), ("k2", "p", 1L, None),
      ("k3", "p", 1L, Some(3.0))).toDF("key", "dt", "v", "price")
    SnapshotLake.merge(spark, dir, rows, Seq("key"), "v", "dt")
    // price > 2.0 is NULL for k2 — DELETE removes only TRUE rows, so the
    // null-valued row survives exactly as a WHERE would keep it out
    assert(SnapshotLake.delete(spark, dir, col("price") > 2.0) == 1L)
    assert(SnapshotLake.read(spark, dir).collect()
      .map(_.getAs[String]("key")).toSet == Set("k1", "k2"))
  }

  test("delete: stats sidecars re-captured for rewritten gens (file skipping survives)") {
    val dir = tmp()
    val rows = (1 to 200).map(i => (s"k$i", "p", 1L, i.toDouble))
      .toDF("key", "dt", "v", "price").repartition(4)
    SnapshotLake.merge(spark, dir, rows, Seq("key"), "v", "dt",
      statsCols = Seq("price"))
    assert(SnapshotLake.delete(spark, dir, col("price") > 190.0) == 10L)
    val gen = SnapshotLake.currentManifest(spark, dir).get.gen
    val sidecar = new java.io.File(s"$dir/_manifests/stats-${"%020d".format(gen)}")
    assert(sidecar.exists(), "delete must re-record stats for the new gen")
    // and the slice read still returns exactly the surviving rows
    assert(SnapshotLake.readSlice(spark, dir, "price", Some(100.0), None)
      .count() == 91L)
  }

  test("schema evolution: widen-only add-column; mixed-generation reads pin the union") {
    val dir = tmp()
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt") // gen 1, 4 cols
    // add-column merge: the batch carries a NEW column; only its touched
    // partitions rewrite under the union schema
    val b2w = b2.withColumn("venue", concat(lit("x-"), col("key")))
    SnapshotLake.merge(spark, dir, b2w, Seq("key"), "v", "dt") // gen 2, 5 cols
    val now = SnapshotLake.read(spark, dir)
    assert(now.columns.contains("venue"), "union schema must carry the added column")
    val venues = now.collect()
      .map(r => r.getAs[String]("key") -> Option(r.getAs[String]("venue"))).toMap
    // gens written BEFORE the widen read the added column as NULL; the
    // batch's own rows carry their values
    assert(venues == Map("k1" -> Some("x-k1"), "k2" -> None, "k3" -> None,
      "k4" -> Some("x-k4")))
    // time travel answers with each snapshot's OWN schema: pre-widen has
    // no venue column at all
    assert(!SnapshotLake.readAt(spark, dir, 1L).columns.contains("venue"))
    // a later narrow batch that DROPS the column refuses loudly (the
    // silent-truncation direction), as does a retype
    val exNarrow = intercept[IllegalArgumentException](
      SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt"))
    assert(exNarrow.getMessage.contains("widen-only"))
    val exRetype = intercept[IllegalArgumentException](
      SnapshotLake.merge(spark, dir,
        b2w.withColumn("price", col("price").cast("string")),
        Seq("key"), "v", "dt"))
    assert(exRetype.getMessage.contains("retypes"))
    // the refusals committed nothing
    assert(SnapshotLake.currentManifest(spark, dir).get.gen == 2L)
    // a widened batch (null-filled venue) is the documented remediation
    SnapshotLake.merge(spark, dir,
      b1.withColumn("venue", lit(null).cast("string")), Seq("key"), "v", "dt")
    assert(SnapshotLake.read(spark, dir).columns.contains("venue"))
    // compaction and delete carry the recorded schema forward
    assert(SnapshotLake.delete(spark, dir, col("key") === "k4") == 1L)
    assert(SnapshotLake.read(spark, dir).columns.contains("venue"))
  }

  test("changes: CDC between snapshots — insert/update/delete, partition-scoped reads") {
    val dir = tmp()
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt") // gen 1: k1 k2 k3
    SnapshotLake.merge(spark, dir, b2, Seq("key"), "v", "dt") // gen 2: k1 updated, k4 new
    assert(SnapshotLake.delete(spark, dir, col("key") === "k2") == 1L) // gen 3
    val ch = SnapshotLake.changes(spark, dir, 1L, 3L).collect()
      .map(r => r.getAs[String]("key") ->
        ((r.getAs[String]("_change_type"), r.getAs[Long]("v"), r.getAs[Double]("price"))))
      .toMap
    // k1 updated (post-image), k4 inserted, k2 deleted (pre-image), k3
    // untouched (its partition rewrote nothing — no row at all)
    assert(ch == Map(
      "k1" -> (("update", 2L, 15.0)),
      "k4" -> (("insert", 1L, 40.0)),
      "k2" -> (("delete", 1L, 20.0))))
    // adjacent diff: gen 2 -> 3 is just the delete
    val ch23 = SnapshotLake.changes(spark, dir, 2L, 3L).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("_change_type")))
    assert(ch23.toSeq == Seq(("k2", "delete")))
    // PARTITION-SCOPING, proven physically: remove the untouched
    // partition's data from disk — changes() must still answer, because
    // a partition serving the same gen in both snapshots is NEVER read
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val k3dir = SnapshotLake.currentManifest(spark, dir).get.entries
      .find(_.value == "2025-01-03").get
    fs.delete(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dir, "data"), k3dir.dirName), true)
    val again = SnapshotLake.changes(spark, dir, 1L, 3L)
      .select("key", "_change_type").collect().map(r => r.getString(0)).toSet
    assert(again == Set("k1", "k2", "k4"),
      "changes() read a partition whose gen did not move")
    // guardrails: reversed range refuses; spec-less lake refuses
    intercept[IllegalArgumentException](SnapshotLake.changes(spark, dir, 3L, 1L))
    // plan shape: the diff is ONE keyed join — no nested-loop/cartesian,
    // no one-task global window anywhere in the CDC read
    val plan = SnapshotLake.changes(spark, dir, 1L, 2L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"CDC planned a scale cliff:\n$plan")
    assert(graft.plans.PlanChecks.unboundedGlobalWindows(
      SnapshotLake.changes(spark, dir, 1L, 2L)).isEmpty)
  }

  test("null-key rows follow the LWW identity: addressable by deleteKeys, stable in changes") {
    val dir = tmp()
    val rows = Seq((Option("k1"), "p", 1L, 10.0), (Option.empty[String], "p", 1L, 20.0),
      (Option("k3"), "p", 1L, 30.0)).toDF("key", "dt", "v", "price")
    SnapshotLake.merge(spark, dir, rows, Seq("key"), "v", "dt") // gen 1
    // a later update to k1 rewrites the partition; the untouched null-key
    // row must NOT surface as a phantom delete+insert in the diff
    SnapshotLake.merge(spark, dir,
      Seq((Option("k1"), "p", 2L, 11.0)).toDF("key", "dt", "v", "price"),
      Seq("key"), "v", "dt") // gen 2
    val ch = SnapshotLake.changes(spark, dir, 1L, 2L).collect()
      .map(r => Option(r.getAs[String]("key")) -> r.getAs[String]("_change_type"))
    assert(ch.toSeq == Seq(Some("k1") -> "update"),
      s"null-key row leaked into the diff: ${ch.mkString(", ")}")
    // the null-keyed row IS addressable for takedown by a null tuple —
    // the same identity the LWW upsert groups it under
    assert(SnapshotLake.deleteKeys(spark, dir,
      Seq(Option.empty[String]).toDF("key")) == 1L)
    assert(SnapshotLake.read(spark, dir).collect()
      .map(_.getAs[String]("key")).toSet == Set("k1", "k3"))
  }

  test("legacy bare-hex partition dirs migrate on merge (entries match by VALUE)") {
    import org.apache.hadoop.fs.Path
    val dir = tmp()
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    // simulate a lake written under the pre-`h` dir scheme: one entry's
    // dir renamed to bare hex, manifest re-published to point at it
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = SnapshotLake.currentManifest(spark, dir).get
    val victim = m.entries.find(_.value == "2025-01-01").get
    val legacyName = victim.dirName.replace("=h", "=")
    assert(legacyName != victim.dirName)
    fs.rename(new Path(dir + "/data/" + victim.dirName),
      new Path(dir + "/data/" + legacyName))
    SnapshotLake.publish(fs, dir, m.copy(gen = m.gen + 1,
      entries = m.entries.map(e =>
        if (e.value == victim.value) e.copy(dirName = legacyName) else e)))
    // a merge touching the legacy value must LWW THROUGH it (read its old
    // rows, replace its entry) — dir-name matching would keep the legacy
    // entry alongside the new one and reads would return duplicate keys
    SnapshotLake.merge(spark, dir, b2, Seq("key"), "v", "dt")
    val got = state(SnapshotLake.read(spark, dir))
    assert(got == Map("k1" -> ((2L, 15.0)), "k2" -> ((1L, 20.0)),
      "k3" -> ((1L, 30.0)), "k4" -> ((1L, 40.0))),
      s"legacy-layout merge lost LWW semantics: $got")
    val after = SnapshotLake.currentManifest(spark, dir).get
    assert(after.entries.map(_.value).distinct.length == after.entries.length,
      "duplicate manifest entries for one value")
    assert(after.entries.filter(_.value == victim.value)
      .forall(_.dirName == victim.dirName),
      "the merged partition must land back under the current dir scheme")
    // an actually-corrupt manifest (two entries, one value) fails loudly
    val dup = after.copy(gen = after.gen + 1,
      entries = after.entries :+ after.entries.head.copy(dirName = "dt=hFF"))
    SnapshotLake.publish(fs, dir, dup)
    val e = intercept[IllegalArgumentException](
      SnapshotLake.merge(spark, dir, b2, Seq("key"), "v", "dt"))
    assert(e.getMessage.contains("multiple entries"))
  }

  test("addColumn API: widens metadata-only; non-nullable and absent-table refuse") {
    val dir = tmp()
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt") // gen 1
    SnapshotLake.addColumn(spark, dir,
      org.apache.spark.sql.types.StructField("note",
        org.apache.spark.sql.types.StringType))
    val df = SnapshotLake.read(spark, dir)
    assert(df.schema.fieldNames.toSeq == Seq("key", "dt", "v", "price", "note"))
    assert(df.count() == 3 && df.filter(col("note").isNotNull).count() == 0)
    // a non-nullable add refuses naming the law
    assert(intercept[IllegalArgumentException](
      SnapshotLake.addColumn(spark, dir,
        org.apache.spark.sql.types.StructField("req",
          org.apache.spark.sql.types.IntegerType, nullable = false)))
      .getMessage.contains("nullable"))
    // a table with no published snapshot has nothing to alter
    intercept[IllegalStateException](
      SnapshotLake.addColumn(spark, tmp(),
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.IntegerType)))
  }
}
