package graft.etl

import java.sql.{Date, Timestamp}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The per-generation file record (`_manifests/files-<gen>`): resolving a
  * snapshot read plans from the manifest and the records alone, with no
  * listing and no Spark job; file pruning keeps exactly the files whose
  * recorded min/max meet the slice; a crash between the record and the
  * publish is invisible to readers and healed by the next writer; a
  * generation without a record is still read, by driver-side listing.
  */
class LakeFileRecordSpec extends SparkSuite {
  import spark.implicits._

  private val root = tempDir("graft_filerecord")
  spark.conf.set("spark.sql.catalog.recat", classOf[graft.sources.LakeCatalog].getName)
  spark.conf.set("spark.sql.catalog.recat.root", root)

  private val day0 = java.time.LocalDate.parse("2025-03-01")
  private def micros(d: Int, h: Int): Long =
    (day0.plusDays(d.toLong).toEpochDay * 24 + h) * 3600L * 1000000L
  private def ts(d: Int, h: Int) = new Timestamp(micros(d, h) / 1000)
  private def sqlTs(d: Int, h: Int) = "TIMESTAMP'" + java.time.LocalDateTime
    .ofEpochSecond(micros(d, h) / 1000000L, 0, java.time.ZoneOffset.UTC)
    .toString.replace('T', ' ') + "'"

  /** `days` daily partitions (`p_date`) of 6 hourly bars for 2 tickers. */
  private def bars(days: Range, version: Long): DataFrame =
    (for (d <- days; t <- Seq("AAA", "BBB"); h <- 0 until 6)
      yield (t, ts(d, h), Date.valueOf(day0.plusDays(d.toLong)), version, d * 100.0 + h))
      .toDF("ticker", "timestamp_utc", "p_date", "v", "close")

  private def merge(dir: String, df: DataFrame): Unit =
    SnapshotLake.merge(spark, dir, df, Seq("ticker", "timestamp_utc"), "v", "p_date",
      statsCols = Seq("timestamp_utc"))

  private def rows(df: DataFrame): Set[(String, Long, Long, Double)] =
    df.collect().map(r => (r.getAs[String]("ticker"),
      r.getAs[Timestamp]("timestamp_utc").getTime, r.getAs[Long]("v"),
      r.getAs[Double]("close"))).toSet

  test("resolving a 40-partition snapshot read starts no Spark job; pruning keeps the record's files") {
    assert(jobsDuring(spark.range(10).count())._2 >= 1, "the job probe sees no job")
    val dir = s"$root/quotes"
    // 40 partitions: above Spark's 32-path parallel-listing threshold
    merge(dir, bars(0 until 40, 1L))
    merge(dir, bars(38 until 40, 2L)) // a second generation with its own record
    val m = SnapshotLake.currentManifest(spark, dir).get
    assert(m.entries.length == 40 && m.entries.map(_.gen).distinct.length == 2)
    val (lo, hi) = (ts(10, 0), ts(12, 5))
    val resolutions: Seq[(String, () => DataFrame)] = Seq(
      "read" -> (() => SnapshotLake.read(spark, dir)),
      "read(values)" -> (() => SnapshotLake.read(spark, dir,
        (0 until 40 by 2).map(d => day0.plusDays(d.toLong).toString))),
      "readAt" -> (() => SnapshotLake.readAt(spark, dir, m.gen - 1)),
      "readSlice" -> (() => SnapshotLake.readSlice(spark, dir, "timestamp_utc",
        Some(lo), Some(hi))),
      "readIn" -> (() => SnapshotLake.readIn(spark, dir, "timestamp_utc",
        Seq(ts(3, 1), ts(39, 4)))),
      "SQL range" -> (() => spark.sql(
        s"SELECT * FROM recat.quotes WHERE timestamp_utc " +
          s"BETWEEN ${sqlTs(10, 0)} AND ${sqlTs(12, 5)}")))
    resolutions.foreach { case (name, resolve) =>
      val (_, jobs) = jobsDuring(resolve().queryExecution.executedPlan)
      assert(jobs == 0, s"resolving $name started $jobs Spark job(s)")
    }
    // every read still answers correctly
    val all = SnapshotLake.read(spark, dir)
    assert(all.count() == 40L * 12)
    assert(SnapshotLake.readAt(spark, dir, m.gen - 1).count() == 40L * 12)
    val sliced = SnapshotLake.readSlice(spark, dir, "timestamp_utc", Some(lo), Some(hi))
    assert(rows(sliced) == rows(all.filter(col("timestamp_utc").between(lo, hi))))
    assert(rows(resolutions(5)._2()) == rows(sliced))
    // the slice reads exactly the files whose recorded min/max meet it
    val files = SnapshotLake.liveFiles(spark, dir, m.entries).flatMap(_._2)
    assert(files.length >= 40 && files.forall(_.bounds.contains("timestamp_utc")))
    val kept = files.filter { f =>
      val (mn, mx) = f.bounds("timestamp_utc")
      mx.toLong >= micros(10, 0) && mn.toLong <= micros(12, 5)
    }.map(f => new Path(f.status.getPath.toString).toString).toSet
    assert(kept.nonEmpty && kept.size < files.length)
    assert(sliced.inputFiles.map(p => new Path(p).toString).toSet == kept)
  }

  test("crash between the file record and the publish: old snapshot stays, next writer converges") {
    val crashed = s"$root/crashed"
    val clean = s"$root/clean"
    Seq(crashed, clean).foreach(d => merge(d, bars(0 until 4, 1L)))
    val before = rows(SnapshotLake.read(spark, crashed))
    val gen = SnapshotLake.currentManifest(spark, crashed).get.gen
    // the crashed commit: staged, installed and RECORDED, never published
    SnapshotLake.prepareMerge(spark, crashed, SnapshotLake.currentManifest(spark, crashed),
      bars(0 until 2, 2L), SnapshotLake.MergeSpec(
        Seq("ticker", "timestamp_utc"), "v", "p_date", Nil, Seq("timestamp_utc")))
    val orphan = new Path(s"$crashed/_manifests", "files-" + "%020d".format(gen + 1))
    val fs = orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(orphan), "the crashed commit must have written its record")
    // readers see the wholly-old snapshot, sliced or not
    assert(rows(SnapshotLake.read(spark, crashed)) == before)
    assert(rows(SnapshotLake.readSlice(spark, crashed, "timestamp_utc",
      Some(ts(0, 0)), Some(ts(1, 5)))) ==
      before.filter(_._2 <= micros(1, 5) / 1000))
    // the next writer touches OTHER partitions: it must delete the orphan
    // record before recording its own generation
    Seq(crashed, clean).foreach(d => merge(d, bars(3 until 6, 3L)))
    val m = SnapshotLake.currentManifest(spark, crashed).get
    assert(m.gen == gen + 1)
    val recordedDirs = SnapshotLake.liveFiles(spark, crashed,
      m.entries.filter(_.gen == m.gen)).map(_._1.getParent.getName).toSet
    assert(recordedDirs == m.entries.filter(_.gen == m.gen).map(_.dirName).toSet)
    assert(m.entries.filter(_.gen == m.gen).length == 3,
      "the orphan partitions must not enter the next generation")
    // the crashed gen dirs of the two untouched days (0 and 1) collide
    // with nothing and no manifest names them: they stay until vacuum
    val crashedDays = (0 until 2).map(d => day0.plusDays(d.toLong).toString).toSet
    val orphanDirs = m.entries.filter(e => crashedDays.contains(e.value)).map(e =>
      new Path(s"$crashed/data/${e.dirName}/gen=${m.gen}"))
    assert(orphanDirs.length == 2 && orphanDirs.forall(fs.exists))
    assert(rows(SnapshotLake.read(spark, crashed)) == rows(SnapshotLake.read(spark, clean)))
    assert(rows(SnapshotLake.readSlice(spark, crashed, "timestamp_utc",
      Some(ts(3, 0)), None)) == rows(SnapshotLake.readSlice(spark, clean,
      "timestamp_utc", Some(ts(3, 0)), None)))
    SnapshotLake.vacuum(spark, crashed)
    assert(orphanDirs.forall(p => !fs.exists(p)))
    assert(rows(SnapshotLake.read(spark, crashed)) == rows(SnapshotLake.read(spark, clean)))
  }

  test("a generation without a file record is read by driver-side listing, with no Spark job") {
    val dir = s"$root/legacy"
    merge(dir, bars(0 until 40, 1L))
    merge(dir, bars(0 until 2, 2L))
    val want = rows(SnapshotLake.read(spark, dir))
    // gen 1 predates records: drop its record, as an older lake has none
    val rec = new Path(s"$dir/_manifests", "files-" + "%020d".format(1L))
    val fs = rec.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(rec, false))
    val m = SnapshotLake.currentManifest(spark, dir).get
    val (df, jobs) = jobsDuring {
      val d = SnapshotLake.read(spark, dir)
      d.queryExecution.executedPlan
      d
    }
    assert(jobs == 0, s"the listing fallback started $jobs Spark job(s)")
    assert(rows(df) == want)
    // listed files carry no stats, so a slice keeps every one of them
    val files = SnapshotLake.liveFiles(spark, dir, m.entries)
    val listed = files.filter(_._1.getName == "gen=1").flatMap(_._2)
    assert(listed.length >= 38 && listed.forall(f => f.bounds.isEmpty && f.rows.isEmpty))
    val sliced = SnapshotLake.readSlice(spark, dir, "timestamp_utc", Some(ts(20, 0)), None)
    assert(rows(sliced) == want.filter(_._2 >= micros(20, 0) / 1000))
    assert(listed.map(_.status.getPath.toString).toSet
      .subsetOf(sliced.inputFiles.map(p => new Path(p).toString).toSet))
  }
}
