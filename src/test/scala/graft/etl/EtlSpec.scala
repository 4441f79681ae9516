package graft.etl

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Unit tests for the reference-derived ETL operators, seeded from the
  * reference's only deterministic fixture — the 7-row EUR/GBP/JPY/USD frame
  * at `/root/reference/src/data_processing/currency_converter.py:196-218` —
  * plus the edge cases FIXTURES.md calls out (tz-naive bars, missing dim
  * ticker, missing rate, null volume).
  */
class EtlSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def d(s: String) = Date.valueOf(s)

  lazy val dim = Seq(
    IndexMeta("^GDAXI", "DAX", "Germany", "XETRA", "EUR"),
    IndexMeta("^FTSE", "FTSE 100", "United Kingdom", "LSE", "GBP"),
    IndexMeta("^N225", "Nikkei 225", "Japan", "JPX", "JPY"),
    IndexMeta("^GSPC", "S&P 500", "USA", "NYSE", "USD")).toDF()

  /** Long-format raw bars: one per (ts, ticker), yfinance field names. */
  lazy val bars = Seq(
    ("2025-04-17 07:00:00", "^GDAXI", Some(21000.5), Some(1000000L)),
    ("2025-04-17 07:00:00", "^FTSE", Some(8200.25), None),
    ("2025-04-17 00:00:00", "^N225", Some(34000.0), Some(2000000L)),
    ("2025-04-17 13:30:00", "^GSPC", Some(5300.75), Some(3000000L)),
    ("2025-04-18 07:00:00", "^GDAXI", Some(21100.0), Some(1100000L)),
    ("2025-04-18 07:00:00", "^MISSING", Some(1.0), Some(1L)), // not in dim
    ("2025-04-19 07:00:00", "^GDAXI", None, None)) // non-trading NaN
    .toDF("ts_s", "ticker", "Close", "Volume")
    .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
    .withColumn("Open", $"Close" - 1.0)
    .withColumn("High", $"Close" + 2.0)
    .withColumn("Low", $"Close" - 2.0)
    .withColumn("Adj Close", $"Close")

  lazy val standardized = Standardizer.standardize(bars, dim)

  test("E1: canonical schema, enrichment, casts") {
    assert(standardized.columns.toSeq == Schema.canonicalQuoteCols)
    val gdaxi = standardized.filter($"ticker" === "^GDAXI" &&
      $"timestamp_utc" === ts("2025-04-17 07:00:00")).collect().head
    assert(gdaxi.getAs[String]("original_currency") == "EUR")
    assert(gdaxi.getAs[String]("name") == "DAX")
    assert(gdaxi.getAs[Double]("close") == 21000.5)
    assert(gdaxi.getAs[Long]("volume") == 1000000L)
    // left join keeps unknown tickers with null metadata (standardizer.py:164-171)
    val missing = standardized.filter($"ticker" === "^MISSING").collect()
    assert(missing.length == 1 && missing.head.isNullAt(2))
    // row count preserved by enrich join (standardizer.py:172-176)
    assert(standardized.count() == bars.count())
  }

  test("E1: tz-naive daily bars localized via sourceTz branch") {
    val tokyoBars = bars.filter($"ticker" === "^N225")
    val viaTz = Standardizer.standardize(tokyoBars, dim, sourceTz = Some("Asia/Tokyo"))
    val got = viaTz.select($"timestamp_utc").collect().head.getTimestamp(0)
    // 2025-04-17 00:00 JST == 2025-04-16 15:00 UTC
    assert(got == ts("2025-04-16 15:00:00"))
  }

  test("E1: unpivot wide->long roundtrip") {
    val wide = Seq(
      (ts("2025-04-17 07:00:00"), 1.0, 2.0, 10.0, 20.0),
      (ts("2025-04-17 08:00:00"), 1.5, 2.5, 11.0, 21.0))
      .toDF("ts", "AAA:Open", "AAA:Close", "BBB:Open", "BBB:Close")
    val long = Standardizer.unpivotWide(wide)
    assert(long.count() == 4)
    val aaa = long.filter($"ticker" === "AAA" && $"ts" === ts("2025-04-17 07:00:00"))
      .collect().head
    assert(aaa.getAs[Double]("Open") == 1.0 && aaa.getAs[Double]("Close") == 2.0)
    assert(long.filter($"ticker" === "BBB").agg(sum($"Close")).head.getDouble(0) == 41.0)
  }

  test("E1: null audit counts") {
    val audit = Standardizer.auditNullCounts(standardized, Schema.priceCols).collect().head
    assert(audit.getAs[Long]("n_rows") == 7)
    assert(audit.getAs[Long]("null_close") == 1)
  }

  test("E2: identity, conversion, and missing-rate semantics") {
    val rates = new StaticRateProvider(Map(
      ("EUR", d("2025-04-17")) -> 1.14,
      ("GBP", d("2025-04-17")) -> 1.33,
      ("EUR", d("2025-04-18")) -> 1.15))
    // JPY 2025-04-17 intentionally missing -> null *_usd (README.md:381)
    val converted = CurrencyConverter.convertWithProvider(spark, standardized, rates)
    val rows = converted.select($"ticker", $"timestamp_utc", $"close", $"close_usd")
      .collect().map(r => (r.getString(0), r.getTimestamp(1)) -> r).toMap
    // identity: USD->USD multiplies by exactly 1.0 (currency_converter.py:32-33)
    val gspc = rows(("^GSPC", ts("2025-04-17 13:30:00")))
    assert(gspc.getDouble(3) == gspc.getDouble(2))
    // EUR converts at the daily rate
    val gdaxi = rows(("^GDAXI", ts("2025-04-17 07:00:00")))
    assert(gdaxi.getDouble(3) == 21000.5 * 1.14)
    // missing rate -> null (not zero, not error)
    val n225 = rows(("^N225", ts("2025-04-17 00:00:00")))
    assert(n225.isNullAt(3))
    // unknown ticker (null currency) -> null
    assert(rows(("^MISSING", ts("2025-04-18 07:00:00"))).isNullAt(3))
    // helper columns dropped (T11)
    assert(!converted.columns.contains("rate_date") && !converted.columns.contains("exchange_rate"))
  }

  test("E2: distinct-pair planning is bounded and skips target/null currency") {
    val pairs = CurrencyConverter.distinctPairs(standardized, "USD")
    assert(pairs.toSet == Set(
      ("EUR", d("2025-04-17")), ("EUR", d("2025-04-18")), ("EUR", d("2025-04-19")),
      ("GBP", d("2025-04-17")), ("JPY", d("2025-04-17"))))
  }

  test("E3: last-write-wins dedup is deterministic") {
    val batch = Seq(
      ("k1", ts("2025-01-01 00:00:00"), 1.0, 1L),
      ("k1", ts("2025-01-02 00:00:00"), 2.0, 2L), // newest wins
      ("k1", ts("2025-01-02 00:00:00"), 3.0, 3L), // same version: higher tiebreak wins
      ("k2", ts("2025-01-01 00:00:00"), 9.0, 4L))
      .toDF("key", "version_ts", "value", "seq")
    val lww = Upsert.lastWriteWins(batch, Seq("key"), "version_ts", Seq("seq"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(lww == Map("k1" -> 3.0, "k2" -> 9.0))
  }

  test("E3: parquet merge sink is idempotent and upserts") {
    val dir = Files.createTempDirectory("graft_upsert").toString + "/quotes"
    val b1 = Seq(("k1", 1L, 10.0), ("k2", 1L, 20.0)).toDF("key", "v", "price")
    Upsert.mergeIntoParquet(spark, dir, b1, Seq("key"), "v")
    // re-running the same batch changes nothing (idempotency, README.md:37)
    Upsert.mergeIntoParquet(spark, dir, b1, Seq("key"), "v")
    assert(spark.read.parquet(dir).count() == 2)
    // overlapping re-delivery with updated values: DO UPDATE wins
    val b2 = Seq(("k2", 2L, 25.0), ("k3", 1L, 30.0)).toDF("key", "v", "price")
    Upsert.mergeIntoParquet(spark, dir, b2, Seq("key"), "v")
    val state = spark.read.parquet(dir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(state == Map("k1" -> 10.0, "k2" -> 25.0, "k3" -> 30.0))
  }

  test("E3: whole-table merge recovers the parked copy after an interrupted swap") {
    import java.nio.file.{Files => JFiles, Paths}
    val dir = Files.createTempDirectory("graft_mcrash").toString + "/quotes"
    val b1 = Seq(("k1", 1L, 10.0), ("k2", 1L, 20.0)).toDF("key", "v", "price")
    Upsert.mergeIntoParquet(spark, dir, b1, Seq("key"), "v")
    // simulate a crash between the two swap renames: the ONLY copy of the
    // table is parked at __old and the live path is gone
    JFiles.move(Paths.get(dir), Paths.get(dir + "__old"))
    assert(!JFiles.exists(Paths.get(dir)))
    // replaying a merge must roll the parked copy back, not read empty
    // state and then delete it
    val b2 = Seq(("k3", 1L, 30.0)).toDF("key", "v", "price")
    Upsert.mergeIntoParquet(spark, dir, b2, Seq("key"), "v")
    val state = spark.read.parquet(dir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(state == Map("k1" -> 10.0, "k2" -> 20.0, "k3" -> 30.0),
      s"previously merged rows lost: $state")
    assert(!JFiles.exists(Paths.get(dir + "__old")))
  }

  test("E3: partition-scoped merge rewrites only affected partitions") {
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_pmerge").toString + "/quotes"
    // Key "key" functionally determines dt (each key has one date).
    val b1 = Seq(
      ("k1", "2025-01-01", 1L, 10.0),
      ("k2", "2025-01-02", 1L, 20.0),
      ("k3", "2025-01-03", 1L, 30.0)).toDF("key", "dt", "v", "price")
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")

    // Byte-level snapshot of the gen dir serving one partition value:
    // file path -> file bytes (a new gen would change every path).
    def snapshot(value: String): Map[String, Seq[Byte]] = {
      val e = SnapshotLake.currentManifest(spark, dir).get.entries
        .find(_.value == value).get
      JFiles.walk(Paths.get(dir, "data", e.dirName, s"gen=${e.gen}")).iterator.asScala
        .filter(JFiles.isRegularFile(_))
        .map(p => p.toString -> JFiles.readAllBytes(p).toSeq).toMap
    }
    val dt2Before = snapshot("2025-01-02")
    val dt3Before = snapshot("2025-01-03")
    assert(dt2Before.nonEmpty && dt3Before.nonEmpty)

    // Batch touching only dt=2025-01-01 (update) and dt=2025-01-04 (insert).
    val b2 = Seq(
      ("k1", "2025-01-01", 2L, 15.0),
      ("k4", "2025-01-04", 1L, 40.0)).toDF("key", "dt", "v", "price")
    SnapshotLake.merge(spark, dir, b2, Seq("key"), "v", "dt")

    // Untouched partitions: same gen dirs, byte-identical.
    assert(snapshot("2025-01-02") == dt2Before)
    assert(snapshot("2025-01-03") == dt3Before)
    // Merged state: k1 updated, k4 inserted, k2/k3 untouched.
    val state = SnapshotLake.read(spark, dir).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Double]("price")).toMap
    assert(state == Map("k1" -> 15.0, "k2" -> 20.0, "k3" -> 30.0, "k4" -> 40.0))
    // Idempotent: replaying the batch converges.
    SnapshotLake.merge(spark, dir, b2, Seq("key"), "v", "dt")
    val state2 = SnapshotLake.read(spark, dir).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Double]("price")).toMap
    assert(state2 == state)
    // No staging leftovers under the table root.
    assert(!JFiles.exists(Paths.get(dir, "_staging")))
  }

  test("flat-dir compaction collapses an append-fragmented index, preserves rows, heals a parked crash") {
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_fcompact").toString + "/index"
    // 6 small appends (the standing-ingest shape), mixed schema generations:
    // the first two lack the lane column newer appends carry
    (1 to 6).foreach { i =>
      val df =
        if (i <= 2) Seq((i.toLong, s"h$i")).toDF("canonical_id", "content_hash")
        else Seq((i.toLong, s"h$i", i * 10L)).toDF("canonical_id", "content_hash", "l0")
      df.coalesce(1).write.mode("append").parquet(dir)
    }
    def files(): Int = JFiles.list(Paths.get(dir)).iterator.asScala
      .count(p => { val n = p.getFileName.toString
        JFiles.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".") })
    assert(files() == 6)
    def state(): Set[(Long, String, Any)] =
      spark.read.option("mergeSchema", "true").parquet(dir).collect()
        .map(r => (r.getAs[Long]("canonical_id"), r.getAs[String]("content_hash"),
          r.getAs[Any]("l0"))).toSet
    val before = state()
    val report = Upsert.compactParquetDir(spark, dir,
      targetBytes = 1L << 30, minFilesToCompact = 2)
    assert(report.exists(r => r._1 == 6 && r._2 == 1), s"unexpected: $report")
    assert(files() == 1)
    // multiset preserved ACROSS schema generations: lane column survives,
    // pre-lane rows still read as null there
    assert(state() == before)
    assert(before.count(_._3 == null) == 2)
    // right-sized now: second run is a no-op, no staging/park leftovers
    assert(Upsert.compactParquetDir(spark, dir,
      targetBytes = 1L << 30, minFilesToCompact = 2).isEmpty)
    assert(!JFiles.exists(Paths.get(dir + "__staging")))
    assert(!JFiles.exists(Paths.get(dir + "__old")))
    // crash window: park happened, install didn't (dir renamed away) — the
    // next compaction call must roll the parked copy back before deciding
    JFiles.move(Paths.get(dir), Paths.get(dir + "__old"))
    assert(Upsert.compactParquetDir(spark, dir,
      targetBytes = 1L << 30, minFilesToCompact = 2).isEmpty) // healed, right-sized
    assert(state() == before)
    assert(!JFiles.exists(Paths.get(dir + "__old")))
  }

  test("E3: compaction collapses fragmented partitions, preserves rows, skips healthy ones") {
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_compact").toString + "/quotes"
    // dt=2025-01-01: fragmented (the key-spread batch writes one file per
    // upstream task); dt=2025-01-02: healthy (one row, one file)
    val frag = (1 to 64).map(i => (s"k$i", "2025-01-01", 1L, i.toDouble))
      .toDF("key", "dt", "v", "price").repartition(8, col("key"))
    SnapshotLake.merge(spark, dir, frag, Seq("key"), "v", "dt")
    SnapshotLake.merge(spark, dir,
      Seq(("h1", "2025-01-02", 1L, 99.0)).toDF("key", "dt", "v", "price"),
      Seq("key"), "v", "dt")
    def genDir(value: String) = {
      val e = SnapshotLake.currentManifest(spark, dir).get.entries
        .find(_.value == value).get
      Paths.get(dir, "data", e.dirName, s"gen=${e.gen}")
    }
    def files(value: String): Int =
      JFiles.list(genDir(value)).iterator.asScala.map(_.getFileName.toString)
        .count(n => n.endsWith(".parquet"))
    def snapshot(value: String): Map[String, Seq[Byte]] =
      JFiles.walk(genDir(value)).iterator.asScala
        .filter(JFiles.isRegularFile(_))
        .map(p => p.toString -> JFiles.readAllBytes(p).toSeq).toMap
    def rows(value: String): Set[(String, Long, Double)] =
      SnapshotLake.read(spark, dir, Seq(value)).collect()
        .map(r => (r.getAs[String]("key"), r.getAs[Long]("v"), r.getAs[Double]("price"))).toSet
    val fragFiles = files("2025-01-01")
    assert(fragFiles > 2, s"expected a fragmented partition, got $fragFiles files")
    val healthyBefore = snapshot("2025-01-02")
    val before = rows("2025-01-01")
    val fragDir = genDir("2025-01-01").getParent.getFileName.toString

    val report = SnapshotLake.compact(spark, dir,
      targetBytes = 1L << 30, minFilesToCompact = 2)
    assert(report == Seq((fragDir, fragFiles, 1)), s"unexpected report: $report")
    assert(files("2025-01-01") == 1)
    // content preserved row-for-row, healthy partition untouched byte-for-byte
    assert(rows("2025-01-01") == before)
    assert(snapshot("2025-01-02") == healthyBefore)
    // second run: nothing left to compact; no staging leftovers
    assert(SnapshotLake.compact(spark, dir,
      targetBytes = 1L << 30, minFilesToCompact = 2).isEmpty)
    assert(!JFiles.exists(Paths.get(dir, "_staging")))
    // and the merge still composes with the compacted layout
    val b = Seq(("k1", "2025-01-01", 2L, 111.0)).toDF("key", "dt", "v", "price")
    SnapshotLake.merge(spark, dir, b, Seq("key"), "v", "dt")
    val k1 = SnapshotLake.read(spark, dir).filter(col("key") === "k1")
      .collect().map(_.getAs[Double]("price")).toSeq
    assert(k1 == Seq(111.0))
  }

  test("Pipeline: E1→E2→E3 end-to-end with observed audit metrics, idempotent") {
    val root = Files.createTempDirectory("graft_pipeline").toString
    val indices = s"$root/indices"; val quotes = s"$root/quotes"
    val rates = new StaticRateProvider(Map(
      ("EUR", d("2025-04-17")) -> 1.14,
      ("GBP", d("2025-04-17")) -> 1.33,
      ("EUR", d("2025-04-18")) -> 1.15))
    // ^MISSING has no dimension row: the lake load refuses it by design
    // (FK gate, PipelineLakeSpec), so the fixture runs without it
    val known = bars.filter($"ticker" =!= "^MISSING")
    val m1 = Pipeline.runLake(spark, known, dim, rates, indices, quotes)
    assert(m1.rows == 6)
    assert(m1.nullClose == 1) // the non-trading NaN row
    assert(m1.missingRate == 1) // JPY 04-17 has no rate
    val state1 = SnapshotLake.read(spark, quotes)
    assert(state1.count() == 6)
    assert(state1.filter($"ticker" === "^GDAXI" &&
      $"timestamp_utc" === ts("2025-04-17 07:00:00"))
      .select($"close_usd").head.getDouble(0) == 21000.5 * 1.14)
    // re-run ≙ the reference's 6-hourly overlap re-fetch: converges
    val m2 = Pipeline.runLake(spark, known, dim, rates, indices, quotes)
    assert(m2.rows == 6)
    assert(SnapshotLake.read(spark, quotes).count() == 6)
  }

  test("S1: BarSource seam — wide fetch → validate → standardize round trip") {
    // ^GDAXI has all six fields; ^FTSE is missing Adj Close and Volume
    // (the reference's expected-column warning path, yf_collector.py:74-92).
    val wide = Seq(
      (ts("2025-04-17 07:00:00"), 21000.0, 21003.0, 20998.0, 21000.5, 21000.5, 1000000L, 8200.25),
      (ts("2025-04-17 08:00:00"), 21001.0, 21004.0, 20999.0, 21001.5, 21001.5, 1100000L, 8201.25))
      .toDF("ts", "^GDAXI:Open", "^GDAXI:High", "^GDAXI:Low", "^GDAXI:Close",
        "^GDAXI:Adj Close", "^GDAXI:Volume", "^FTSE:Close")
    val source = new StaticBarSource(wide)
    assert(BarIngest.missingFields(wide, Seq("^GDAXI", "^FTSE")) ==
      Map("^FTSE" -> Set("Open", "High", "Low", "Adj Close", "Volume")))
    val std = BarIngest.fetchStandardized(spark, source, Seq("^GDAXI", "^FTSE"), dim)
    assert(std.columns.toSeq == Schema.canonicalQuoteCols)
    assert(std.count() == 4) // 2 timestamps × 2 tickers
    val gdaxi = std.filter($"ticker" === "^GDAXI" &&
      $"timestamp_utc" === ts("2025-04-17 07:00:00")).collect().head
    assert(gdaxi.getAs[String]("original_currency") == "EUR")
    assert(gdaxi.getAs[Double]("close") == 21000.5)
    assert(gdaxi.getAs[Long]("volume") == 1000000L)
    // missing fields for a present ticker arrive as nulls, not failures
    val ftse = std.filter($"ticker" === "^FTSE" &&
      $"timestamp_utc" === ts("2025-04-17 07:00:00")).collect().head
    assert(ftse.getAs[Double]("close") == 8200.25)
    assert(ftse.isNullAt(std.columns.indexOf("volume")))
    // hard-fail paths: empty ticker list; fetch with no ticker columns
    intercept[IllegalArgumentException] {
      BarIngest.fetchStandardized(spark, source, Nil, dim)
    }
    intercept[IllegalArgumentException] {
      BarIngest.fetchStandardized(spark, source, Seq("^UNKNOWN"), dim)
    }
  }

  test("S1: staged-parquet BarSource prunes to the requested tickers") {
    val wide = Seq(
      (ts("2025-04-17 07:00:00"), 1.0, 2.0),
      (ts("2025-04-17 08:00:00"), 1.5, 2.5))
      .toDF("ts", "AAA:Close", "BBB:Close")
    val dir = Files.createTempDirectory("graft_bars").toString + "/bars"
    wide.write.parquet(dir)
    val fetched = new StagedParquetBarSource(dir)
      .fetchWide(spark, Seq("AAA"), "7d", "60m")
    assert(fetched.columns.toSeq == Seq("ts", "AAA:Close"))
    assert(fetched.count() == 2)
  }

  test("E3: upsert SQL dialects render the reference statement shapes") {
    val pg = Upsert.Postgres.upsertSql("quotes", Seq("ticker", "ts", "close"), Seq("ticker", "ts"))
    assert(pg.contains("""ON CONFLICT ("ticker", "ts") DO UPDATE SET "close" = EXCLUDED."close""""))
    val merge = Upsert.AnsiMerge.upsertSql("quotes", Seq("ticker", "ts", "close"), Seq("ticker", "ts"))
    assert(merge.contains("MERGE INTO quotes") && merge.contains("WHEN MATCHED THEN UPDATE"))
    // audit contract: created_at inserted but never updated on conflict
    val audited = Upsert.Postgres.upsertSql("quotes",
      Seq("ticker", "ts", "close", "created_at", "updated_at"), Seq("ticker", "ts"),
      noUpdate = Seq("created_at"))
    assert(audited.contains(""""updated_at" = EXCLUDED."updated_at""""))
    assert(!audited.contains(""""created_at" = EXCLUDED."created_at""""))
  }
}
