package graft.etl


import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}

import graft.SparkSuite
import graft.etl.SnapshotLake.MergeSpec

/** The manifest as a commit's one metadata record: every commit carries
  * the merge contract and each stream sink's watermark forward (or
  * advances them exactly as its verb implies), each generation answers
  * its own contract, nothing but `manifest-<gen>` and `files-<gen>` is
  * ever written under `_manifests/`, a stream batch's data and watermark
  * become visible in one publish (so a crash on either side of it is
  * replay-safe), and a lake whose manifests predate the recorded contract
  * still resolves it from its legacy `table-meta`.
  */
class LakeManifestSpec extends SparkSuite {
  import spark.implicits._
  import LakeManifestSpec._

  private def tmp(): String =
    tempDir("graft_lakemanifest") + "/t"

  private def rows(t: (String, String, Long, Double)*): DataFrame =
    t.toDF("key", "dt", "v", "price")

  private def freshLake(): String = {
    val lake = tmp()
    SnapshotLake.create(spark, lake, rows(("k", "d", 0L, 0.0)).schema,
      MergeSpec(Seq("key"), "v", "dt", Nil, Nil))
    lake
  }

  private def state(df: DataFrame): Map[String, (Long, Double)] =
    df.collect().map(r => r.getAs[String]("key") ->
      ((r.getAs[Long]("v"), r.getAs[Double]("price")))).toMap

  private def metaNames(dir: String): Set[String] =
    Option(new java.io.File(s"$dir/_manifests").list()).map(_.toSet).getOrElse(Set.empty)
      .filterNot(_.startsWith("."))

  test("every commit carries the contract and both sinks' watermarks forward") {
    val dir = tmp()
    val rnd = new scala.util.Random(20261019L)
    def batch(n: Int, v: Long): DataFrame =
      rows(Seq.fill(n)(rnd.nextInt(12)).distinct.map(k =>
        (s"k$k", s"2025-01-0${k % 4 + 1}", v, rnd.nextInt(1000).toDouble)): _*)
    val created = MergeSpec(Seq("key"), "v", "dt", Nil, Nil)
    var spec = created
    var marks = Map.empty[String, Long]
    def gen = SnapshotLake.currentManifest(spark, dir).get.gen
    def check(step: String): Unit = {
      assert(SnapshotLake.mergeSpecOf(spark, dir).contains(spec), step)
      Seq("sink-a", "sink-b").foreach(s =>
        assert(SnapshotLake.streamBatchApplied(spark, dir, s) == marks.get(s), s"$step: $s"))
      assert(metaNames(dir).forall(_.matches("(manifest|files)-\\d{20}")),
        s"$step left ${metaNames(dir)} under _manifests/")
    }

    SnapshotLake.create(spark, dir, rows(("k", "d", 0L, 0.0)).schema, created)
    check("create")
    // an API merge under a different contract records its own
    val api = MergeSpec(Seq("key"), "v", "dt", Seq("price"), Nil)
    SnapshotLake.merge(spark, dir, batch(8, 1L), api.keys, api.versionCol,
      api.partitionCol, api.tieBreakers)
    spec = api
    check("merge")
    // each generation answers its own contract
    assert(SnapshotLake.manifestAt(spark, dir, 0L).spec.contains(created))
    assert(SnapshotLake.manifestAt(spark, dir, 1L).spec.contains(api))

    // two sink lineages, interleaved in a seeded order; each batch id
    // above its sink's watermark advances that one watermark alone
    val ids = Map("sink-a" -> Iterator.from(0), "sink-b" -> Iterator.from(5))
    rnd.shuffle(Seq.fill(3)("sink-a") ++ Seq.fill(3)("sink-b")).foreach { sid =>
      val id = ids(sid).next().toLong
      val before = gen
      assert(SnapshotLake.mergeStreamBatch(spark, dir, batch(4, 2L + id), sid, id))
      assert(gen == before + 1)
      marks += sid -> id
      check(s"$sid batch $id")
    }
    // a fragmented partition, for compact: the write keeps one file per
    // shuffle partition holding its rows
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try assert(SnapshotLake.mergeStreamBatch(spark, dir,
      (1 to 6).map(i => (s"w$i", "2025-02-01", 1L, i.toDouble))
        .toDF("key", "dt", "v", "price").repartition(6, col("key")), "sink-a", 9L))
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    marks += "sink-a" -> 9L
    check("sink-a batch 9")
    val genBefore = gen
    assert(SnapshotLake.compact(spark, dir, targetBytes = 1L << 30, minFilesToCompact = 2)
      .nonEmpty, "the repartitioned batch must leave a partition to compact")
    assert(gen == genBefore + 1)
    check("compact")

    SnapshotLake.update(spark, dir, col("dt") === "2025-01-01", Map("price" -> lit(1.0)))
    check("update")
    SnapshotLake.delete(spark, dir, col("key") === "w1")
    check("delete")
    SnapshotLake.deleteKeys(spark, dir, Seq("w2").toDF("key"))
    check("deleteKeys")
    SnapshotLake.addColumn(spark, dir, StructField("note", StringType))
    check("addColumn")
    // the pipeline's unchanged-dim commit
    SnapshotLake.commitMetadataOnly(spark, dir)(m =>
      SnapshotLake.snapshotSchema(spark, dir, m).get)
    check("commitMetadataOnly")
    SnapshotLake.vacuum(spark, dir, keepManifests = 1)
    check("vacuum")
    // an older lineage's replay still skips after all of it
    assert(!SnapshotLake.mergeStreamBatch(spark, dir, batch(4, 99L), "sink-b", 5L))
  }

  test("crash before the publish: readers keep the old snapshot, the replay publishes once") {
    val lake = freshLake()
    val sid = "sink-a"
    assert(SnapshotLake.mergeStreamBatch(spark, lake,
      rows(("k1", "2025-01-01", 1L, 10.0)), sid, 0L))
    val gen = SnapshotLake.retainedGens(spark, lake).max
    val before = state(SnapshotLake.read(spark, lake))
    // batch 1 staged, installed and recorded, never published: the crash
    val batch = rows(("k1", "2025-01-01", 2L, 15.0), ("k2", "2025-01-02", 1L, 20.0))
    SnapshotLake.prepareMerge(spark, lake, SnapshotLake.currentManifest(spark, lake), batch,
      SnapshotLake.mergeSpecOf(spark, lake).get)
    assert(state(SnapshotLake.read(spark, lake)) == before)
    assert(SnapshotLake.streamBatchApplied(spark, lake, sid).contains(0L))
    // Spark replays batch 1: exactly one generation, data and watermark
    assert(SnapshotLake.mergeStreamBatch(spark, lake, batch, sid, 1L))
    assert(SnapshotLake.retainedGens(spark, lake).max == gen + 1)
    assert(SnapshotLake.streamBatchApplied(spark, lake, sid).contains(1L))
    assert(state(SnapshotLake.read(spark, lake)) == Map("k1" -> (2L, 15.0), "k2" -> (1L, 20.0)))
    assert(SnapshotLake.changes(spark, lake, gen, gen + 1).collect()
      .map(r => r.getAs[String]("_change_type")).sorted.toSeq == Seq("insert", "update"))
  }

  test("crash after the publish: the replay is skipped without reading the batch") {
    val lake = freshLake()
    val batch = rows(("k1", "2025-01-01", 1L, 10.0), ("k2", "2025-01-02", 1L, 20.0))
    assert(SnapshotLake.mergeStreamBatch(spark, lake, batch, "sink-a", 0L))
    val gens = SnapshotLake.retainedGens(spark, lake)
    // the commit log never recorded batch 0, so Spark hands it over again
    val (applied, jobs) = jobsDuring(
      SnapshotLake.mergeStreamBatch(spark, lake, batch, "sink-a", 0L))
    assert(!applied && jobs == 0)
    assert(SnapshotLake.retainedGens(spark, lake) == gens)
  }

  test("a manifest without a contract falls back to a legacy table-meta, read-only") {
    val dir = tmp()
    val spec = MergeSpec(Seq("key"), "v", "dt", Seq("price"), Nil)
    SnapshotLake.merge(spark, dir, rows(("k1", "2025-01-01", 1L, 10.0),
      ("k2", "2025-01-02", 1L, 20.0)), spec.keys, spec.versionCol, spec.partitionCol,
      spec.tieBreakers)
    // the lake as an older engine left it: a contract-less manifest and
    // the contract in `_manifests/table-meta`
    asPreContractManifest(spark, dir)
    val meta = new Path(dir, "_manifests/table-meta")
    val text = "graft-lake-meta-v1\nkeys\tkey\nversion\tv\npartition\tdt\n" +
      "tiebreakers\tprice\nstatscols\t\n"
    putText(spark, meta, text)
    assert(SnapshotLake.currentManifest(spark, dir).get.spec.isEmpty)
    assert(SnapshotLake.mergeSpecOf(spark, dir).contains(spec))
    // a keyed face resolves the legacy contract and records it in its
    // own manifest; the legacy file is only ever read
    SnapshotLake.mergeViaSpec(spark, dir, rows(("k1", "2025-01-01", 2L, 15.0)))
    val m = SnapshotLake.currentManifest(spark, dir).get
    assert(m.gen == 2L && m.spec.contains(spec))
    assert(readText(spark, meta) == text)
    // changes() across a legacy generation keys by toGen's contract
    assert(SnapshotLake.changes(spark, dir, 1L, 2L).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("_change_type"))).toSeq ==
      Seq(("k1", "update")))
  }
}

object LakeManifestSpec {
  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def readText(spark: SparkSession, p: Path): String = {
    val in = fsOf(spark, p).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  def putText(spark: SparkSession, p: Path, text: String): Unit = {
    val fs = fsOf(spark, p)
    fs.delete(p, false)
    val out = fs.create(p, false)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Rewrite `dir`'s current manifest as one written before manifests
    * recorded the merge contract and the stream watermarks: its header cut
    * to the first five fields (tag, partition column, gen, publish stamp,
    * schema).
    */
  def asPreContractManifest(spark: SparkSession, dir: String): Unit = {
    val gen = SnapshotLake.currentManifest(spark, dir).get.gen
    val p = new Path(dir, f"_manifests/manifest-$gen%020d")
    val lines = readText(spark, p).split('\n')
    putText(spark, p, (lines.head.split('\t').take(5).mkString("\t") +: lines.tail)
      .mkString("", "\n", "\n"))
  }
}
