package graft.etl

import java.nio.file.Files
import java.sql.Date

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** [[Pipeline.runLake]] — the two-lake twin of [[PipelineJdbcSpec]]'s
  * two-table convergence: FK-ordered dim→fact commits under both leases,
  * run-twice convergence, the all-or-nothing FK gate (a rogue ticker lands
  * NOTHING in either lake), and the reader-safe ordering law.
  */
class PipelineLakeSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graft_pipeline_lake")

  private def d(s: String) = Date.valueOf(s)

  private lazy val dim = Seq(
    IndexMeta("^GDAXI", "DAX", "Germany", "XETRA", "EUR"),
    IndexMeta("^GSPC", "S&P 500", "USA", "NYSE", "USD")).toDF()

  private def mkBars(rows: Seq[(String, String, Double)]) =
    rows.toDF("ts_s", "ticker", "Close")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
      .withColumn("Open", $"Close" - 1.0)
      .withColumn("High", $"Close" + 2.0)
      .withColumn("Low", $"Close" - 2.0)
      .withColumn("Adj Close", $"Close")
      .withColumn("Volume", lit(1000L))

  private lazy val bars = mkBars(Seq(
    ("2025-04-17 07:00:00", "^GDAXI", 21000.5),
    ("2025-04-18 07:00:00", "^GDAXI", 21100.0),
    ("2025-04-17 13:30:00", "^GSPC", 5300.75)))

  private lazy val rates = new StaticRateProvider(Map(
    ("EUR", d("2025-04-17")) -> 1.14,
    ("EUR", d("2025-04-18")) -> 1.15))

  test("composed two-lake load: FK-ordered commits, converge on re-run") {
    val root = tmp()
    val indices = s"$root/indices"; val quotes = s"$root/quotes"
    val m1 = Pipeline.runLake(spark, bars, dim, rates, indices, quotes)
    assert(m1.rows == 3 && m1.nullClose == 0 && m1.missingRate == 0)
    assert(SnapshotLake.read(spark, indices).count() == 2)
    assert(SnapshotLake.read(spark, quotes).count() == 3)
    val usd1 = SnapshotLake.read(spark, quotes)
      .filter($"ticker" === "^GDAXI" &&
        $"timestamp_utc" === to_timestamp(lit("2025-04-17 07:00:00")))
      .select("close_usd").as[Double].collect()
    assert(usd1.toSeq == Seq(21000.5 * 1.14))
    // the FK law a reader can rely on AT ANY TIME under the ordering
    // contract: every fact ticker resolves in the dim
    val dangling = SnapshotLake.read(spark, quotes).select("ticker")
      .join(SnapshotLake.read(spark, indices).select("ticker"),
        Seq("ticker"), "left_anti")
    assert(dangling.isEmpty)

    // run 2: overlapping re-delivery with one changed bar — both lakes
    // converge (same counts), the changed value lands
    val bars2 = mkBars(Seq(
      ("2025-04-17 07:00:00", "^GDAXI", 21001.5), // changed
      ("2025-04-18 07:00:00", "^GDAXI", 21100.0),
      ("2025-04-17 13:30:00", "^GSPC", 5300.75)))
    val m2 = Pipeline.runLake(spark, bars2, dim, rates, indices, quotes)
    assert(m2.rows == 3)
    assert(SnapshotLake.read(spark, indices).count() == 2)
    assert(SnapshotLake.read(spark, quotes).count() == 3)
    val usd2 = SnapshotLake.read(spark, quotes)
      .filter($"ticker" === "^GDAXI" &&
        $"timestamp_utc" === to_timestamp(lit("2025-04-17 07:00:00")))
      .select("close_usd").as[Double].collect()
    assert(usd2.toSeq == Seq(21001.5 * 1.14))
    // commit ORDER is the contract: each run's dim manifest publishes
    // BEFORE its fact manifest (dim-first is the reader-safe direction —
    // a reader between the cuts sees new dim + old facts, never dangling
    // facts), pinned via the publish stamp each commit records in its own
    // manifest header
    Seq(1L, 2L).foreach { g =>
      val dimAt = SnapshotLake.manifestAt(spark, indices, g).publishedAtMs
      val factAt = SnapshotLake.manifestAt(spark, quotes, g).publishedAtMs
      assert(dimAt.isDefined && factAt.isDefined && dimAt.get <= factAt.get,
        s"run $g: dim must publish before facts ($dimAt vs $factAt)")
    }
  }

  /** Every data file under the lake's `data/` dir. */
  private def dataFiles(lake: String): Set[String] = {
    val root = java.nio.file.Paths.get(lake, "data")
    val walk = Files.walk(root)
    try walk.filter(Files.isRegularFile(_)).toArray.map(_.toString).toSet
    finally walk.close()
  }

  test("dim no-op: an unchanged dim commits metadata-only, still before the facts") {
    val root = tmp()
    val indices = s"$root/indices"; val quotes = s"$root/quotes"
    Pipeline.runLake(spark, bars, dim, rates, indices, quotes)
    val g1 = SnapshotLake.currentManifest(spark, indices).get
    val files1 = dataFiles(indices)
    // a re-delivery with one corrected close and the same dim
    val bars2 = mkBars(Seq(
      ("2025-04-17 07:00:00", "^GDAXI", 21001.5),
      ("2025-04-18 07:00:00", "^GDAXI", 21100.0),
      ("2025-04-17 13:30:00", "^GSPC", 5300.75)))
    Pipeline.runLake(spark, bars2, dim, rates, indices, quotes)
    val g2 = SnapshotLake.currentManifest(spark, indices).get
    // one new generation, the same entries, not one data file added
    assert(g2.gen == g1.gen + 1 && g2.entries == g1.entries)
    assert(dataFiles(indices) == files1)
    assert(SnapshotLake.changes(spark, indices, g1.gen, g2.gen).isEmpty)
    assert(SnapshotLake.read(spark, indices).count() == 2)
    // the facts still merged, and the dim generation still published first
    assert(SnapshotLake.read(spark, quotes).filter($"close" === 21001.5).count() == 1)
    val dimAt = SnapshotLake.manifestAt(spark, indices, g2.gen).publishedAtMs
    val factAt = SnapshotLake.manifestAt(spark, quotes, g2.gen).publishedAtMs
    assert(dimAt.isDefined && factAt.isDefined && dimAt.get <= factAt.get,
      s"dim must publish before facts ($dimAt vs $factAt)")
    // an empty delivery publishes in neither lake: generations stay aligned
    // (landed as parquet, so the optimizer cannot fold the plan away)
    bars.filter($"Close" < 0).write.parquet(s"$root/empty")
    Pipeline.runLake(spark, spark.read.parquet(s"$root/empty"), dim, rates,
      indices, quotes)
    assert(SnapshotLake.currentManifest(spark, indices).get.gen == g2.gen &&
      SnapshotLake.currentManifest(spark, quotes).get.gen == g2.gen)
  }

  test("an empty batch the optimizer folds away: zero metrics, nothing committed") {
    val root = tmp()
    val indices = s"$root/indices"; val quotes = s"$root/quotes"
    // limit(0) over a local frame folds the whole plan to an empty relation,
    // so the observed plan never runs
    val empty = Pipeline.runLake(spark, bars.limit(0), dim, rates, indices, quotes)
    assert(empty == Pipeline.RunMetrics(0, 0, 0))
    assert(SnapshotLake.currentManifest(spark, indices).isEmpty &&
      SnapshotLake.currentManifest(spark, quotes).isEmpty)
    Pipeline.runLake(spark, bars, dim, rates, indices, quotes)
    assert(Pipeline.runLake(spark, bars.limit(0), dim, rates, indices, quotes) ==
      Pipeline.RunMetrics(0, 0, 0))
    assert(SnapshotLake.currentManifest(spark, indices).get.gen == 1 &&
      SnapshotLake.currentManifest(spark, quotes).get.gen == 1)
  }

  test("dim no-op: a renamed index takes the merge path and the new name lands") {
    val root = tmp()
    val indices = s"$root/indices"; val quotes = s"$root/quotes"
    Pipeline.runLake(spark, bars, dim, rates, indices, quotes)
    val g1 = SnapshotLake.currentManifest(spark, indices).get.gen
    val files1 = dataFiles(indices)
    val renamed = Seq(
      IndexMeta("^GDAXI", "DAX 40", "Germany", "XETRA", "EUR"),
      IndexMeta("^GSPC", "S&P 500", "USA", "NYSE", "USD")).toDF()
    Pipeline.runLake(spark, bars, renamed, rates, indices, quotes)
    val names = SnapshotLake.read(spark, indices).collect()
      .map(r => r.getAs[String]("ticker") -> r.getAs[String]("name")).toMap
    assert(names == Map("^GDAXI" -> "DAX 40", "^GSPC" -> "S&P 500"))
    assert(dataFiles(indices).diff(files1).nonEmpty, "the merge path writes data")
    val delta = SnapshotLake.changes(spark, indices, g1, g1 + 1).collect()
    assert(delta.map(r => (r.getAs[String]("ticker"), r.getAs[String]("_change_type")))
      .toSeq == Seq(("^GDAXI", "update")))
  }

  test("dim no-op: a widened dim lake is not republished; the widen-only refusal fires") {
    val root = tmp()
    val indices = s"$root/indices"; val quotes = s"$root/quotes"
    Pipeline.runLake(spark, bars, dim, rates, indices, quotes)
    SnapshotLake.addColumn(spark, indices,
      org.apache.spark.sql.types.StructField("sector",
        org.apache.spark.sql.types.StringType))
    val dimGen = SnapshotLake.currentManifest(spark, indices).get.gen
    val factGen = SnapshotLake.currentManifest(spark, quotes).get.gen
    val e = intercept[IllegalArgumentException] {
      Pipeline.runLake(spark, bars, dim, rates, indices, quotes)
    }
    assert(e.getMessage.contains("missing table column(s) sector"),
      s"expected the widen-only refusal, got: ${e.getMessage}")
    assert(SnapshotLake.currentManifest(spark, indices).get.gen == dimGen &&
      SnapshotLake.currentManifest(spark, quotes).get.gen == factGen,
      "a refused dim must publish nothing in either lake")
  }

  test("FK gate is all-or-nothing: a rogue ticker lands NOTHING in either lake") {
    val root = tmp()
    val indices = s"$root/indices"; val quotes = s"$root/quotes"
    val badBars = bars.unionByName(
      mkBars(Seq(("2025-04-17 09:00:00", "^ROGUE", 1.0))))
    val e = intercept[IllegalStateException] {
      Pipeline.runLake(spark, badBars, dim, rates, indices, quotes)
    }
    assert(e.getMessage.contains("^ROGUE") &&
      e.getMessage.contains("no dimension"),
      s"the refusal must name the rogue ticker, got: ${e.getMessage}")
    // STRONGER than the JDBC twin (where the dim had already landed when
    // the fact FK fired): the lake face checks before EITHER commit
    assert(SnapshotLake.retainedGens(spark, indices).isEmpty &&
      SnapshotLake.retainedGens(spark, quotes).isEmpty,
      "nothing may publish when the FK gate fires")
    // the same batch minus the rogue row then loads cleanly
    val m = Pipeline.runLake(spark, bars, dim, rates, indices, quotes)
    assert(m.rows == 3 && SnapshotLake.read(spark, quotes).count() == 3)
  }

  test("concurrent runLake to the same pair serializes on the leases") {
    val root = tmp()
    val indices = s"$root/indices"; val quotes = s"$root/quotes"
    // a foreign writer holding the FIRST (canonical-order) lease makes
    // runLake fail loudly instead of interleaving between the two commits
    val first = Seq(indices, quotes).sorted.head
    val conf = spark.sparkContext.hadoopConfiguration
    val inHold = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => LakeLease.withLease(conf, first) {
      inHold.countDown(); release.await()
    })
    t.start(); inHold.await()
    try intercept[LakeLease.LeaseHeldException] {
      Pipeline.runLake(spark, bars, dim, rates, indices, quotes)
    } finally { release.countDown(); t.join() }
    // nothing half-landed
    assert(SnapshotLake.retainedGens(spark, indices).isEmpty &&
      SnapshotLake.retainedGens(spark, quotes).isEmpty)
  }

  test("a bound refusal in the one pass lands nothing in either lake") {
    val root = tmp()
    val indices = s"$root/indices"; val quotes = s"$root/quotes"
    Pipeline.runLake(spark, bars, dim, rates, indices, quotes)
    val dimGen = SnapshotLake.currentManifest(spark, indices).get.gen
    val factGen = SnapshotLake.currentManifest(spark, quotes).get.gen
    // 2 tickers (2 dimension tuples, within the bound) over 3 trade dates
    val threeDays = mkBars(Seq(
      ("2025-04-17 07:00:00", "^GDAXI", 21000.5),
      ("2025-04-18 07:00:00", "^GDAXI", 21100.0),
      ("2025-04-21 07:00:00", "^GDAXI", 21200.0),
      ("2025-04-17 13:30:00", "^GSPC", 5300.75)))
    spark.conf.set("graft.lake.maxAffectedPartitions", "2")
    val e = try intercept[IllegalArgumentException] {
      Pipeline.runLake(spark, threeDays, dim, rates, indices, quotes)
    } finally spark.conf.unset("graft.lake.maxAffectedPartitions")
    assert(e.getMessage.contains("merge batch touches more than 2 distinct p_date values"),
      s"expected the merge's partition refusal, got: ${e.getMessage}")
    assert(SnapshotLake.currentManifest(spark, indices).get.gen == dimGen &&
      SnapshotLake.currentManifest(spark, quotes).get.gen == factGen,
      "a refused batch must publish in neither lake")
  }

  test("job budget: one pass over the batch; a re-delivery runs at most 11 Spark jobs") {
    val root = tmp()
    val indices = s"$root/indices"; val quotes = s"$root/quotes"
    // landed as parquet, as a fetched delivery is (the landing's own
    // schema read runs before the count)
    bars.write.parquet(s"$root/landed1")
    val landed1 = spark.read.parquet(s"$root/landed1")
    val (m1, firstJobs) = jobsDuring(
      Pipeline.runLake(spark, landed1, dim, rates, indices, quotes))
    assert(m1 == Pipeline.RunMetrics(3, 0, 0))
    assert(firstJobs <= 12, s"the first load ran $firstJobs Spark jobs")
    // a re-delivery: an in-batch duplicate key (an original and a corrected
    // bar) and one missing FX pair (EUR on 04-21)
    mkBars(Seq(
      ("2025-04-17 07:00:00", "^GDAXI", 21000.5),
      ("2025-04-17 07:00:00", "^GDAXI", 21001.5),
      ("2025-04-21 07:00:00", "^GDAXI", 21200.0),
      ("2025-04-17 13:30:00", "^GSPC", 5300.75))).write.parquet(s"$root/landed2")
    val landed2 = spark.read.parquet(s"$root/landed2")
    val (m2, tickJobs) = jobsDuring(
      Pipeline.runLake(spark, landed2, dim, rates, indices, quotes))
    // exact: the observed plan ran once, before the dedup
    assert(m2 == Pipeline.RunMetrics(4, 0, 1))
    assert(tickJobs <= 11, s"the re-delivery ran $tickJobs Spark jobs")
    // the corrected bar wins the in-batch tie (value tie-breakers)
    val gdaxi = SnapshotLake.read(spark, quotes).filter($"ticker" === "^GDAXI")
      .select(col("timestamp_utc").cast("string"), $"close", $"close_usd")
      .as[(String, Double, Option[Double])].collect().sortBy(_._1).toSeq
    assert(gdaxi == Seq(
      ("2025-04-17 07:00:00", 21001.5, Some(21001.5 * 1.14)),
      ("2025-04-18 07:00:00", 21100.0, Some(21100.0 * 1.15)),
      ("2025-04-21 07:00:00", 21200.0, None)))
    // an empty landed delivery returns zeros without waiting on metrics
    bars.filter($"Close" < 0).write.parquet(s"$root/empty")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val empty = Await.result(Future(Pipeline.runLake(spark,
      spark.read.parquet(s"$root/empty"), dim, rates, indices, quotes)),
      scala.concurrent.duration.Duration(120, "s"))
    assert(empty == Pipeline.RunMetrics(0, 0, 0))
    assert(SnapshotLake.currentManifest(spark, quotes).get.gen == 2)
  }
}
