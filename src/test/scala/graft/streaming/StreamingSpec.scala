package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}
import graft.etl.SnapshotLake

/** Streaming-mode tests: a landing directory of parquet drained with
  * Trigger.AvailableNow must reproduce the batch semantics (dedup ≙ PK
  * upsert, windowed agg ≙ A12) — the reference's 6-hour-cron + overlap +
  * upsert model (SURVEY.md §2.2 Streaming).
  */
class StreamingSpec extends SparkSuite {

  private lazy val work = tempDir("graft_stream")

  /** Stage events (ts converted to proper timestamps) as a landing dir. */
  private lazy val landing: String = {
    val dir = s"$work/landing"
    Tables(spark, sf001, "events").write.mode("overwrite").parquet(dir)
    dir
  }

  /** One AvailableNow drain of `df` through `writeStream.format("graft-jdbc")`
    * into a Derby table keyed on `event_id`, LWW by `ts`.
    */
  private def drainJdbc(df: org.apache.spark.sql.DataFrame, url: String,
      table: String, ckpt: String, sinkId: Option[String] = None): Unit = {
    val w = df.writeStream.format("graft-jdbc")
      .option("url", url).option("dbtable", table)
      .option("keys", "event_id").option("versionCol", "ts")
      .option("dialect", "derby")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    sinkId.foreach(w.option("sinkId", _))
    w.start().awaitTermination()
  }

  test("streaming hourly agg over AvailableNow equals the batch aggregation") {
    val schema = spark.read.parquet(landing).schema
    val stream = StreamingIngest.readLanding(spark, landing, schema)
    val agg = StreamingIngest.hourlyAgg(stream, "ts", "2 days")
    val q = agg.writeStream
      .format("memory").queryName("hourly").outputMode("append")
      .option("checkpointLocation", s"$work/ckpt_agg")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("hourly")
    val batch = spark.read.parquet(landing)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(25,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
    // append mode emits only windows the watermark has closed: after the
    // final (no-data) micro-batch the watermark sits at max(ts) - lateness,
    // so exactly the windows ending at or before that point are emitted.
    val closed = batch
      .join(broadcast(spark.read.parquet(landing).agg(max(col("ts")).as("max_ts"))))
      .filter(col("window_start") + expr("INTERVAL 1 HOUR") <=
        col("max_ts") - expr("INTERVAL 2 DAYS"))
      .drop("max_ts")
    val gotRows = got.collect().map(_.toString).toSet
    val batchRows = batch.collect().map(_.toString).toSet
    val closedRows = closed.collect().map(_.toString).toSet
    assert(gotRows.subsetOf(batchRows), "streaming emitted a window batch disagrees with")
    assert(closedRows.subsetOf(gotRows),
      s"watermark-closed windows missing: ${closedRows.size} closed vs ${gotRows.size} emitted")
  }

  test("streaming session windows agree with the batch session aggregation") {
    val schema = spark.read.parquet(landing).schema
    val stream = StreamingIngest.readLanding(spark, landing, schema)
    val q = StreamingIngest.sessionAgg(stream, "ts", "2 days", "30 minutes")
      .writeStream
      .format("memory").queryName("sessions").outputMode("append")
      .option("checkpointLocation", s"$work/ckpt_sessions")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("sessions").collect().map(_.toString).toSet
    val batch = spark.read.parquet(landing)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n"))
    val closed = batch
      .join(broadcast(spark.read.parquet(landing).agg(max(col("ts")).as("max_ts"))))
      .filter(col("session_end") <= col("max_ts") - expr("INTERVAL 2 DAYS"))
      .drop("max_ts")
    val batchRows = batch.collect().map(_.toString).toSet
    val closedRows = closed.collect().map(_.toString).toSet
    assert(got.subsetOf(batchRows), "streaming emitted a session batch disagrees with")
    assert(closedRows.subsetOf(got),
      s"watermark-closed sessions missing: ${closedRows.size} closed vs ${got.size} emitted")
  }

  test("mapGroupsWithState candles converge to the batch OHLC aggregation") {
    val schema = spark.read.parquet(landing).schema
    val stream = StreamingIngest.readLanding(spark, landing, schema)
    val q = StreamingIngest.candleBuilder(stream, "ts")
      .writeStream
      .format("memory").queryName("candles").outputMode("update")
      .option("checkpointLocation", s"$work/ckpt_candles")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // last update per key is the converged candle
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "hour_start").orderBy(col("n").desc)
    val got = spark.table("candles")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .select("user_id", "hour_start", "open", "high", "low", "close", "n")
    val batch = spark.read.parquet(landing)
      .groupBy(col("user_id"),
        (expr("unix_micros(ts) div 3600000000") * 3600).as("hour_start"))
      .agg(expr("min_by(value, ts)").as("open"), max("value").as("high"),
        min("value").as("low"), expr("max_by(value, ts)").as("close"),
        count(lit(1)).as("n"))
    assert(got.count() == batch.count())
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "streaming candles differ from batch OHLC")
  }

  test("flatMapGroupsWithState session closer emits each closed session exactly once") {
    val schema = spark.read.parquet(landing).schema
    val stream = StreamingIngest.readLanding(spark, landing, schema)
    val q = StreamingIngest.sessionCloser(stream, "ts", "2 days", 30)
      .writeStream
      .format("memory").queryName("closed_sessions").outputMode("append")
      .option("checkpointLocation", s"$work/ckpt_closer")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("closed_sessions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> (r.getLong(3), r.getDouble(4)))
    // exactly-once: no session key emitted twice
    assert(got.map(_._1).distinct.length == got.length, "a session was emitted twice")
    val gotMap = got.toMap
    val batch = spark.read.parquet(landing)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"), col("n"), col("sum_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> (r.getLong(3), r.getDouble(4)))
    val batchMap = batch.toMap
    // every emitted session matches the batch session_window aggregate
    assert(gotMap.keySet.subsetOf(batchMap.keySet), "emitted a session batch doesn't have")
    gotMap.foreach { case (k, (n, sum)) =>
      val (bn, bsum) = batchMap(k)
      assert(n == bn, s"session $k: n $n vs batch $bn")
      assert(math.abs(sum - bsum) < 1e-6, s"session $k: sum $sum vs batch $bsum")
    }
    // completeness sandwich: every session that MUST have closed was emitted —
    // all but each user's final session close by split; sessions whose
    // end passed the final watermark (max ts - lateness) close by timeout
    val maxTsUs = spark.read.parquet(landing)
      .agg(unix_micros(max(col("ts"))).as("m")).collect().head.getLong(0)
    val wmMs = (maxTsUs - 2L * 24 * 3600 * 1000000L) / 1000L
    val lastPerUser = batch.map(_._1).groupBy(_._1).map { case (_, ks) => ks.maxBy(_._2) }.toSet
    val mustEmit = batch.map(_._1).filter(k =>
      !lastPerUser.contains(k) || k._3 / 1000L < wmMs).toSet
    assert(mustEmit.subsetOf(gotMap.keySet),
      s"${mustEmit.diff(gotMap.keySet).size} provably-closed sessions not emitted")
  }

  test("stream-stream interval join emits exactly the batch range-join pairs") {
    val schema = spark.read.parquet(landing).schema
    val stream = StreamingIngest.readLanding(spark, landing, schema)
    val q = StreamingIngest.intervalJoin(stream, "ts", "2 days")
      .writeStream
      .format("memory").queryName("ssjoin").outputMode("append")
      .option("checkpointLocation", s"$work/ckpt_ssjoin")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("ssjoin").collect().map(_.toString).toSet
    val ev = spark.read.parquet(landing)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value").as("p_value"))
    val batch = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("ts") - expr("INTERVAL 1 HOUR") && col("p_ts") <= col("ts"))
      .select(col("event_id"), col("user_id"), col("ts"), col("p_ts"), col("p_value"))
      .collect().map(_.toString).toSet
    assert(got == batch,
      s"stream-stream join: ${got.size} pairs vs batch ${batch.size}")
  }

  test("full pipeline streaming: landing bars → E1→E2 → two-table JDBC load, converges") {
    import spark.implicits._
    import java.sql.{Date, Timestamp}
    val url = "jdbc:derby:memory:graft_stream_pipeline;create=true"
    val dim = Seq(
      graft.etl.IndexMeta("^GDAXI", "DAX", "Germany", "XETRA", "EUR"),
      graft.etl.IndexMeta("^GSPC", "S&P 500", "USA", "NYSE", "USD")).toDF()
    val fx = Seq(
      graft.etl.FxRate("EUR", "USD", Date.valueOf("2025-04-17"), 1.14),
      graft.etl.FxRate("EUR", "USD", Date.valueOf("2025-04-18"), 1.15)).toDF()
    def mkBars(rows: Seq[(String, String, Double)]) =
      rows.toDF("ts_s", "ticker", "Close")
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
        .withColumn("Open", col("Close") - 1.0)
        .withColumn("High", col("Close") + 2.0)
        .withColumn("Low", col("Close") - 2.0)
        .withColumn("Adj Close", col("Close"))
        .withColumn("Volume", lit(1000L))
    val barsDir = s"$work/bars_landing"
    mkBars(Seq(
      ("2025-04-17 07:00:00", "^GDAXI", 21000.5),
      ("2025-04-17 13:30:00", "^GSPC", 5300.75))).write.mode("overwrite").parquet(barsDir)
    val schema = spark.read.parquet(barsDir).schema

    def tick(n: Int): Unit = {
      val stream = StreamingIngest.readLanding(spark, barsDir, schema)
      StreamingIngest.pipelineAvailableNow(stream, dim, fx, url,
        s"$work/ckpt_pipeline_$n", Timestamp.valueOf(s"2025-05-0$n 00:00:00"))
        .awaitTermination()
    }
    tick(1)
    // new file lands: one overlapping bar (re-delivery) + one new bar
    mkBars(Seq(
      ("2025-04-17 07:00:00", "^GDAXI", 21000.5),
      ("2025-04-18 07:00:00", "^GDAXI", 21100.0))).write.mode("append").parquet(barsDir)
    tick(1) // same checkpoint: only the new file is processed
    tick(2) // fresh checkpoint: full re-delivery; MERGE absorbs everything
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        """SELECT COUNT(*), MIN("close_usd"), MAX("close_usd") FROM quotes""")
      rs.next()
      assert(rs.getLong(1) == 3, "3 distinct (ticker, ts) bars expected")
      assert(math.abs(rs.getDouble(2) - 5300.75) < 1e-9) // USD identity rate
      assert(math.abs(rs.getDouble(3) - 21100.0 * 1.15) < 1e-9)
      val ri = c.createStatement().executeQuery("SELECT COUNT(*) FROM indices")
      ri.next()
      assert(ri.getLong(1) == 2)
    } finally c.close()
  }

  test("live-loop parity: scripted HTTP collector + FX → pipelineAvailableNow → Derby, " +
      "negative-cache honored under replay (main.py:9-141)") {
    import spark.implicits._
    import java.sql.{Date, Timestamp}
    import graft.etl._
    val url = "jdbc:derby:memory:graft_live_loop;create=true"
    val dim = Seq(
      IndexMeta("^GDAXI", "DAX", "Germany", "XETRA", "EUR"),
      IndexMeta("^GSPC", "S&P 500", "USA", "NYSE", "USD")).toDF()

    // --- collector leg: scripted vendor CSV through the LIVE HttpBarSource
    val barCsv =
      """ts,^GDAXI:Open,^GDAXI:High,^GDAXI:Low,^GDAXI:Close,^GDAXI:Adj Close,^GDAXI:Volume,^GSPC:Close
        |2025-04-17T07:00:00Z,20999.5,21002.5,20998.5,21000.5,21000.5,1000000,5300.75
        |2025-04-18T07:00:00Z,21099.0,21102.0,21098.0,21100.0,21100.0,1100000,5310.25""".stripMargin
    var barCalls = 0
    val barSrc = new HttpBarSource(
      new HttpTransport {
        def get(u: String, t: Int): String = { barCalls += 1; barCsv }
      }, "http://bars.test")

    // --- FX leg: d17 resolves, d18 FAILS → negative-cached miss
    val fxCalls = scala.collection.mutable.Buffer[String]()
    val fxProvider = new HttpRateProvider(new HttpTransport {
      def get(u: String, t: Int): String = {
        fxCalls += u
        if (u.contains("2025-04-18")) throw new java.io.IOException("fx down")
        """{"rates":{"USD":1.14}}"""
      }
    }, baseUrl = "http://fx.test")

    val barsDir = s"$work/live_bars_landing"
    def collectAndLand(): Unit = {
      // the reference's collector step: fetch the watchlist wide, unpivot to
      // the long landing shape (yf_collector.py:50-99 → standardizer input)
      val wide = barSrc.fetchWide(spark, Seq("^GDAXI", "^GSPC"), "7d", "60m")
      Standardizer.unpivotWide(wide).write.mode("append").parquet(barsDir)
    }
    def resolveFx(): org.apache.spark.sql.DataFrame = {
      // deployment-shaped rate resolution: distinct (ccy, date) pairs from
      // the landed bars, fetched through the memoizing provider
      val landed = spark.read.parquet(barsDir)
      val pairs = CurrencyConverter.distinctPairs(
        Standardizer.standardize(landed, dim), "USD")
      val got = fxProvider.rates(pairs, "USD")
      if (got.isEmpty) Seq.empty[FxRate].toDF() else got.toDF()
    }
    def tick(n: Int, fx: org.apache.spark.sql.DataFrame): Unit = {
      val schema = spark.read.parquet(barsDir).schema
      StreamingIngest.pipelineAvailableNow(
        StreamingIngest.readLanding(spark, barsDir, schema), dim, fx, url,
        s"$work/ckpt_live_$n", Timestamp.valueOf(s"2025-05-0$n 00:00:00"))
        .awaitTermination()
    }

    collectAndLand()
    val fx1 = resolveFx()
    assert(fx1.collect().map(r => (r.getString(0), r.getDate(2).toString, r.getDouble(3))).toSet ==
      Set(("EUR", "2025-04-17", 1.14)), "only the resolvable day yields a rate")
    // both EUR days requested once; USD never requested (identity)
    assert(fxCalls.size == 2 && fxCalls.forall(_.contains("from=EUR")))
    tick(1, fx1)

    def snapshot(): Map[(String, String), Option[Double]] = {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(
          """SELECT "ticker", "timestamp_utc", "close_usd" FROM quotes""")
        val b = scala.collection.mutable.Map[(String, String), Option[Double]]()
        while (rs.next()) {
          val v = rs.getDouble(3)
          val isNull = rs.wasNull() // must follow getDouble IMMEDIATELY
          b((rs.getString(1), rs.getString(2).toString)) =
            if (isNull) None else Some(v)
        }
        b.toMap
      } finally c.close()
    }
    val s1 = snapshot()
    assert(s1.size == 4, s"2 tickers x 2 days expected, got $s1")
    assert(s1(("^GDAXI", "2025-04-17 07:00:00.0")).contains(21000.5 * 1.14))
    assert(s1(("^GDAXI", "2025-04-18 07:00:00.0")).isEmpty,
      "failed FX day must load with NULL close_usd (README.md:381)")
    assert(s1(("^GSPC", "2025-04-17 07:00:00.0")).contains(5300.75), "identity rate")

    // --- replay: the 6-hourly loop re-fetches the SAME window (overlap
    // re-delivery), re-resolves rates, re-loads. Negative cache: the failed
    // (EUR, d18) pair is NOT re-requested; nothing double-loads.
    collectAndLand()
    val fx2 = resolveFx()
    assert(fxCalls.size == 2, "memo + negative cache: no further FX requests on replay")
    assert(fx2.collect().length == 1)
    tick(2, fx2) // fresh checkpoint: full re-delivery of both landed files
    assert(barCalls == 2)
    assert(snapshot() == s1, "replay must converge to the identical table")
  }

  test("streaming vocab MV: per-batch folds converge to the batch recompute; " +
    "replays, checkpoint loss, and a crash before the publish all suppressed") {
    val docsDir = s"$work/docs_landing"
    val state = s"$work/vocab_state"
    val docs = Tables(spark, sf001, "documents").select("doc_id", "source", "text")
    docs.repartition(3).write.mode("overwrite").parquet(docsDir)
    val schema = spark.read.parquet(docsDir).schema
    def tick(n: Int): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(docsDir)
      StreamingIngest.vocabStateAvailableNow(
        stream, state, s"$work/ckpt_vocab_$n", sinkId = "docs-vocab")
        .awaitTermination()
    }
    tick(1) // ≥ 3 micro-batches fold incrementally
    val want = graft.text.TextQueries.t16HapaxStats(spark, sf001)
      .collect().map(_.toSeq).toSeq
    def stats() = graft.text.TextQueries
      .t19StatsOf(SnapshotLake.read(spark, state)).collect().map(_.toSeq).toSeq
    assert(stats() == want, "incremental folds drifted from the full recompute")
    // one generation per folded batch; the MV's manifest carries the
    // sink's watermark, its highest folded id
    val lastId = new java.io.File(docsDir).list().count(_.endsWith(".parquet")) - 1
    val gens = SnapshotLake.retainedGens(spark, state)
    assert(gens.length == lastId + 1)
    assert(SnapshotLake.streamBatchApplied(spark, state, "docs-vocab").contains(lastId.toLong))
    // fresh checkpoint ⇒ FULL re-delivery; the watermark must suppress
    // every batch even though the engine's own commit log is gone
    // (sum-merge would otherwise double every count)
    tick(2)
    assert(stats() == want, "checkpoint-loss replay double-counted")
    assert(SnapshotLake.retainedGens(spark, state) == gens,
      "a re-delivery must publish no generation")
    // direct replay of an applied (sinkId, batchId) is a no-op
    val state2 = s"$work/vocab_state2"
    val batch = docs.toDF()
    def vocab() = SnapshotLake.read(spark, state2).select("source", "term", "c")
      .collect().map(_.toSeq).toSet
    assert(StreamingIngest.foldVocabBatchOnce(batch, 0L, state2))
    assert(!StreamingIngest.foldVocabBatchOnce(batch, 0L, state2),
      "replayed batch was folded twice")
    val once = vocab()
    val gen = SnapshotLake.currentManifest(spark, state2).get.gen
    // the crash: batch 1 staged, installed and recorded, never published —
    // readers keep the old snapshot and its watermark
    val lane = StreamingIngest.vocabLane(batch)
    assert(SnapshotLake.prepareFold(spark, state2, SnapshotLake.currentManifest(spark, state2),
      lane.state, lane.partitionCol)(lane.fold).isDefined)
    assert(vocab() == once, "readers saw an unpublished fold")
    assert(SnapshotLake.streamBatchApplied(spark, state2, "default").contains(0L))
    // Spark replays batch 1: one generation holding exactly two folds
    assert(StreamingIngest.foldVocabBatchOnce(batch, 1L, state2),
      "the replay after the crash did not apply")
    assert(!StreamingIngest.foldVocabBatchOnce(batch, 1L, state2))
    assert(SnapshotLake.retainedGens(spark, state2).max == gen + 1)
    assert(SnapshotLake.streamBatchApplied(spark, state2, "default").contains(1L))
    assert(vocab() == once.map(r => Seq(r(0), r(1), 2 * r(2).asInstanceOf[Long])),
      "the recovered state must hold exactly two folds")
    // an empty batch publishes nothing and leaves the watermark where it was
    assert(!StreamingIngest.foldVocabBatchOnce(batch.limit(0), 8L, state2, "other"))
    assert(SnapshotLake.streamBatchApplied(spark, state2, "other").isEmpty)
    assert(SnapshotLake.retainedGens(spark, state2).max == gen + 1)
  }

  test("a flat state MV from before lake commits is refused, naming the one-time import") {
    import spark.implicits._
    val flat = s"$work/vocab_flat"
    Seq(("web", "a", 2L)).toDF("source", "term", "c").write.parquet(flat)
    val fs = new org.apache.hadoop.fs.Path(flat)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(flat, "__applied/s/3")).close()
    val batch = Seq((1L, "web", "a b")).toDF("doc_id", "source", "text")
    val e = intercept[IllegalStateException] {
      StreamingIngest.foldVocabBatchOnce(batch, 4L, flat, "s")
    }
    assert(e.getMessage.contains(s"""spark.read.parquet("$flat")""") &&
      e.getMessage.contains("__applied/<sinkId>"), e.getMessage)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(flat, "_manifests")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(flat, "data")),
      "the refused fold must write nothing beside the flat state")
    // the import the message names: the old rows fold in under the old
    // marker's id, so its batches stay applied and the next one folds
    val imported = s"$work/vocab_imported"
    assert(SnapshotLake.foldStreamBatch(spark, imported, spark.read.parquet(flat),
      "source", "s", 3L)(graft.text.TextQueries.t19MergeStates(_, _)))
    assert(!StreamingIngest.foldVocabBatchOnce(batch, 3L, imported, "s"))
    assert(StreamingIngest.foldVocabBatchOnce(batch, 4L, imported, "s"))
    assert(SnapshotLake.read(spark, imported).select("source", "term", "c")
      .collect().map(_.toSeq).toSet == Set(Seq("web", "a", 3L), Seq("web", "b", 1L)))
  }

  test("streaming candle MV: per-batch folds equal the e4 full recompute; " +
    "fresh-checkpoint re-delivery suppressed") {
    val evDir = s"$work/candle_landing"
    val state = s"$work/candle_state"
    Tables(spark, sf001, "events").select("user_id", "ts", "value")
      .repartition(3).write.mode("overwrite").parquet(evDir)
    val schema = spark.read.parquet(evDir).schema
    def tick(n: Int): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(evDir)
      StreamingIngest.candleStateAvailableNow(
        stream, state, s"$work/ckpt_candle_$n", sinkId = "events-candles")
        .awaitTermination()
    }
    tick(1) // >= 3 micro-batches fold incrementally
    val want = graft.queries.CoreQueries.e4OhlcvResample(spark, sf001)
      .collect().map(_.toSeq).toSeq
    def candles(st: String) = graft.queries.CoreQueries
      .e12MergeStates(SnapshotLake.read(spark, st))
      .orderBy("user_id", "day_start").collect().map(_.toSeq).toSeq
    assert(candles(state) == want, "incremental candle folds drifted from the e4 recompute")
    val gens = SnapshotLake.retainedGens(spark, state)
    // fresh checkpoint => FULL re-delivery; the MV's watermark must
    // suppress every batch (n_bars/volume are sums — a refold doubles them)
    tick(2)
    assert(candles(state) == want, "checkpoint-loss replay double-counted the candles")
    assert(SnapshotLake.retainedGens(spark, state) == gens,
      "a re-delivery must publish no generation")
    // direct replay of an applied (sinkId, batchId) is a no-op
    val ev = spark.read.parquet(evDir)
    val state2 = s"$work/candle_state2"
    assert(StreamingIngest.foldCandleBatchOnce(ev, 0L, state2))
    assert(!StreamingIngest.foldCandleBatchOnce(ev, 0L, state2),
      "replayed candle batch was folded twice")
    // a second DISTINCT batch doubles n_bars but leaves OHLC values fixed
    // (endpoint merges are idempotent on identical extremes — the fold's
    // order-independence contract, visible through the state)
    assert(StreamingIngest.foldCandleBatchOnce(ev, 1L, state2))
    val twice = candles(state2)
    assert(twice.map(r => r.take(6)) == want.map(r => r.take(6)),
      "OHLC endpoints drifted under a double fold")
    assert(twice.map(_(6).asInstanceOf[Long]).sum ==
      2L * want.map(_(6).asInstanceOf[Long]).sum,
      "n_bars should sum across folds")
  }

  test("candle MV fold rewrites only the touched day; the files it writes do " +
    "not grow with the state, and readAt answers the earlier candles") {
    import spark.implicits._
    val state = s"$work/candle_days"
    val rnd = new scala.util.Random(11)
    val day0 = java.time.LocalDate.parse("2025-01-01").toEpochDay
    // one UTC day of hourly events for 4 users per batch, seeded values
    val batches = (0 until 20).map { d =>
      (for (u <- 1L to 4L; h <- 0 until 6) yield (u,
        new java.sql.Timestamp(((day0 + d) * 86400L + h * 3600L + rnd.nextInt(3600)) * 1000L),
        rnd.nextDouble() * 100)).toDF("user_id", "ts", "value")
    }
    def candles(df: org.apache.spark.sql.DataFrame) = graft.queries.CoreQueries
      .e12MergeStates(df).orderBy("user_id", "day_start").collect().map(_.toSeq).toSeq
    def recompute(bs: Seq[org.apache.spark.sql.DataFrame]) =
      candles(graft.queries.CoreQueries.e12StateOf(bs.reduce(_ unionByName _)))
    val written = batches.zipWithIndex.map { case (b, d) =>
      val before = SnapshotLake.currentManifest(spark, state).fold(Seq.empty[SnapshotLake.Entry])(_.entries)
      assert(StreamingIngest.foldCandleBatchOnce(b, d.toLong, state, "days"))
      val m = SnapshotLake.currentManifest(spark, state).get
      val fresh = m.entries.filter(_.gen == m.gen)
      assert(fresh.map(_.value) == Seq((day0 + d).toString),
        s"the fold of day $d rewrote ${fresh.map(_.value)}")
      assert(m.entries.filter(_.gen < m.gen).toSet == before.toSet,
        s"the fold of day $d moved an earlier day's generation")
      // the generation's file record names files under day d's dir only
      val record = java.nio.file.Paths.get(state, "_manifests", f"files-${m.gen}%020d")
      val dirs = new String(Files.readAllBytes(record), "UTF-8").split('\n').toSeq
        .drop(1).filter(_.nonEmpty)
        .map(l => java.net.URLDecoder.decode(l.split('\t')(0), "UTF-8").split('/')(0))
      assert(dirs.nonEmpty && dirs.toSet == Set(fresh.head.dirName))
      dirs.length
    }
    assert(written(4) == written(19),
      s"a one-day fold wrote ${written(4)} files over 5 days, ${written(19)} over 20")
    val last = SnapshotLake.currentManifest(spark, state).get.gen
    assert(candles(SnapshotLake.read(spark, state)) == recompute(batches))
    assert(candles(SnapshotLake.readAt(spark, state, last - 1)) == recompute(batches.init),
      "time travel to the MV before its last fold must answer the earlier candles")
  }

  test("streaming SCD2 MV: per-batch folds equal the one-shot build; " +
    "replays, checkpoint loss, and a crash before the publish all suppressed") {
    import spark.implicits._
    val changesDir = s"$work/scd2_changes"
    val state = s"$work/scd2_state"
    // a dimension change stream: 3 keys, interleaved versions, one file
    // per micro-batch (maxFilesPerTrigger=1 → the fold law sees ≥3 batches)
    val changes = Seq(
      (1L, 10L, "a1"), (2L, 10L, "b1"),
      (1L, 20L, "a2"), (3L, 15L, "c1"),
      (2L, 30L, "b2"), (1L, 40L, "a3"))
      .toDF("k", "ts", "value")
    changes.repartition(3).write.mode("overwrite").parquet(changesDir)
    val schema = spark.read.parquet(changesDir).schema
    def tick(n: Int): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(changesDir)
      StreamingIngest.scd2StateAvailableNow(stream, state,
        s"$work/ckpt_scd2_$n", sinkId = "dim-history",
        keyCol = "k", tsCol = "ts", valueCols = Seq("value"))
        .awaitTermination()
    }
    tick(1)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "version", "valid_from", "valid_to", "value", "is_current")
      .collect().map(_.toSeq).toSet
    val want = rows(graft.etl.Scd2.build(changes, "k", "ts", Seq("value")))
    assert(rows(SnapshotLake.read(spark, state)) == want,
      "incremental history folds drifted from the one-shot build")
    val gens = SnapshotLake.retainedGens(spark, state)
    // fresh checkpoint ⇒ full re-delivery; the watermark must suppress
    // every batch (a re-fold would re-version every key's chain)
    tick(2)
    assert(rows(SnapshotLake.read(spark, state)) == want,
      "checkpoint-loss replay corrupted the history")
    assert(SnapshotLake.retainedGens(spark, state) == gens,
      "a re-delivery must publish no generation")
    // direct replay of an applied (sinkId, batchId) is a no-op
    val state2 = s"$work/scd2_state2"
    assert(StreamingIngest.foldScd2BatchOnce(changes, 0L, state2, "k", "ts", Seq("value")))
    assert(!StreamingIngest.foldScd2BatchOnce(changes, 0L, state2, "k", "ts", Seq("value")),
      "replayed batch was folded twice")
    val gen = SnapshotLake.currentManifest(spark, state2).get.gen
    // the crash: a correction rewriting k=1's history staged, installed and
    // recorded as batch 1, never published — readers keep the old history
    val correction = Seq((1L, 20L, "a2fix")).toDF("k", "ts", "value")
    val lane = StreamingIngest.scd2Lane(correction, "k", "ts", Seq("value"))
    assert(SnapshotLake.prepareFold(spark, state2, SnapshotLake.currentManifest(spark, state2),
      lane.state, lane.partitionCol)(lane.fold).isDefined)
    assert(rows(SnapshotLake.read(spark, state2)) == want, "readers saw an unpublished fold")
    // Spark replays batch 1: it applies once, in one generation
    assert(StreamingIngest.foldScd2BatchOnce(correction, 1L, state2, "k", "ts", Seq("value")),
      "the replay after the crash did not apply")
    assert(!StreamingIngest.foldScd2BatchOnce(correction, 1L, state2, "k", "ts", Seq("value")))
    assert(SnapshotLake.retainedGens(spark, state2).max == gen + 1)
    val healed = rows(SnapshotLake.read(spark, state2))
    val wantHealed = rows(graft.etl.Scd2.fold(
      graft.etl.Scd2.build(changes, "k", "ts", Seq("value")),
      correction, "k", "ts", Seq("value")))
    assert(healed == wantHealed,
      "recovered state must hold the base fold plus the correction exactly once")
  }

  test("streaming foreachBatch into a JDBC MERGE sink converges across re-delivery") {
    val url = "jdbc:derby:memory:graft_stream_jdbc;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    c.createStatement().execute(
      """CREATE TABLE stream_quotes (
        |  "event_id" BIGINT NOT NULL PRIMARY KEY, "ts" TIMESTAMP, "value" DOUBLE)""".stripMargin)
    c.close()
    val schema = spark.read.parquet(landing).schema

    def tick(n: Int): Unit =
      drainJdbc(StreamingIngest.readLanding(spark, landing, schema)
        .select(col("event_id"), col("ts"), col("value")),
        url, "stream_quotes", s"$work/ckpt_jdbc_$n")

    tick(1)
    // fresh checkpoint ⇒ a new sink lineage re-delivers everything; the
    // keyed MERGE absorbs it
    tick(2)
    val c2 = java.sql.DriverManager.getConnection(url)
    val r = c2.createStatement().executeQuery("SELECT COUNT(*) FROM stream_quotes")
    r.next()
    val got = r.getLong(1)
    c2.close()
    val expected = spark.read.parquet(landing).select("event_id").distinct().count()
    assert(got == expected, s"JDBC table has $got rows, expected $expected")
  }

  test("watermark dedup + AvailableNow upsert sink converge across re-delivery") {
    val schema = spark.read.parquet(landing).schema
    val target = s"$work/target"
    val deduped = StreamingIngest.dedupedWithinWatermark(
      StreamingIngest.readLanding(spark, landing, schema),
      "ts", "2 days", Seq("event_id"))
      // lake partition derived from the key, as the merge contract requires
      .withColumn("p", pmod(col("event_id"), lit(8)))
    // the sink writes under the lake's persisted contract
    graft.etl.SnapshotLake.create(spark, target, deduped.schema,
      graft.etl.SnapshotLake.MergeSpec(Seq("event_id"), "ts", "p", Nil, Nil))

    def tick(n: Int): Unit =
      deduped.writeStream.format("graft-lake")
        .option("path", target)
        .option("checkpointLocation", s"$work/ckpt_upsert_$n")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()

    tick(1)
    val after1 = graft.etl.SnapshotLake.read(spark, target).count()
    // fresh checkpoint ⇒ full re-delivery of the same landing data ≙ the
    // reference's overlapping 2-day refetch; the keyed sink absorbs it
    tick(2)
    val after2 = graft.etl.SnapshotLake.read(spark, target).count()
    val expected = spark.read.parquet(landing).select("event_id").distinct().count()
    assert(after1 == expected)
    assert(after2 == expected, "re-delivered tick must converge, not duplicate")
  }

  test("state-bounded dedup: suppresses within the horizon, evicts state past it") {
    import spark.implicits._
    import java.sql.Timestamp
    val dir = s"$work/sb_landing"
    val out = s"$work/sb_out"
    val ckpt = s"$work/sb_ckpt"
    def ts(s: String) = Timestamp.valueOf(s)
    def stage(rows: Seq[(Long, Timestamp, Double)]): Unit =
      rows.toDF("event_id", "ts", "value").coalesce(1)
        .write.mode("append").parquet(dir)

    stage(Seq(1L -> ts("2024-01-01 00:00:00"), 2L -> ts("2024-01-01 00:00:00"),
      3L -> ts("2024-01-01 00:00:00"),
      // same key, DIFFERENT event time — a (key, ts) dedup would keep both;
      // the keyed state dedup must collapse it
      1L -> ts("2024-01-01 00:01:00")).map { case (k, t) => (k, t, 1.0) })
    val schema = spark.read.parquet(dir).schema
    def tick(): Unit = {
      val q = StreamingIngest.dedupedStateBounded(
          StreamingIngest.readLanding(spark, dir, schema), "ts", "2 days", Seq("event_id"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("append").start()
      q.awaitTermination()
    }
    tick()
    assert(spark.read.parquet(out).count() == 3, "in-batch dup must collapse")

    // a month later: key 1 re-delivered INSIDE the same batch as the
    // watermark-advancing rows — state from tick 1 is still live at batch
    // start (watermark only advances between batches), so it's suppressed
    stage(Seq((4L, ts("2024-02-01 00:00:00"), 1.0), (1L, ts("2024-02-01 00:00:00"), 1.0)))
    tick()
    val after2 = spark.read.parquet(out)
    assert(after2.count() == 4, "within-horizon re-delivery must be suppressed")

    // tick 2's close advanced the watermark past key 1's expiry (Jan 3) and
    // evicted its state — a post-horizon re-delivery re-emits BY DESIGN
    // (bounded state is the contract; the keyed sink absorbs the rest)
    stage(Seq((1L, ts("2024-02-01 01:00:00"), 1.0)))
    tick()
    val byKey = spark.read.parquet(out).groupBy("event_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byKey(1L) == 2, s"post-horizon re-delivery must re-emit: $byKey")
    assert(byKey(2L) == 1 && byKey(3L) == 1 && byKey(4L) == 1, byKey.toString)
  }

  test("exactly-once JDBC sink: batch replayed after commit-log loss is skipped") {
    import java.sql.{DriverManager, Timestamp}
    import spark.implicits._
    val url = "jdbc:derby:memory:graft_stream_xo;create=true"
    val c = DriverManager.getConnection(url)
    c.createStatement().execute(
      """CREATE TABLE stream_xo (
        |  "event_id" BIGINT NOT NULL PRIMARY KEY, "ts" TIMESTAMP, "value" DOUBLE)""".stripMargin)
    c.close()
    val xoLanding = s"$work/xo_landing"
    def mk(rows: Seq[(Long, String, Double)]) =
      rows.toDF("event_id", "ts_s", "value")
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
        .select("event_id", "ts", "value")
    // sinkId pinned explicitly: the crash simulation below resumes from a
    // COPIED checkpoint path, and batch identity must survive the move.
    def stream() = StreamingIngest.readLanding(spark, xoLanding,
      spark.read.parquet(xoLanding).schema)
    def run(ckpt: String): Unit =
      drainJdbc(stream(), url, "stream_xo", ckpt, sinkId = Some("xo"))
    def tableState(): Map[Long, Double] = {
      val c2 = DriverManager.getConnection(url)
      try {
        val rs = c2.createStatement().executeQuery(
          """SELECT "event_id", "value" FROM stream_xo""")
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => r.getLong(1) -> r.getDouble(2)).toMap
      } finally c2.close()
    }
    // applied batches: one ledger row per write partition, so count the
    // distinct (sink_id, batch_id) pairs
    def ledgerCount(): Long = {
      val c2 = DriverManager.getConnection(url)
      try {
        val rs = c2.createStatement().executeQuery(
          """SELECT COUNT(*) FROM (SELECT DISTINCT "sink_id", "batch_id"
            |FROM batch_ledger) b""".stripMargin)
        rs.next(); rs.getLong(1)
      } finally c2.close()
    }

    mk(Seq((1L, "2025-04-17 07:00:00", 10.0), (2L, "2025-04-17 08:00:00", 20.0)))
      .coalesce(1).write.parquet(xoLanding)
    run(s"$work/ckpt_xo")
    assert(tableState() == Map(1L -> 10.0, 2L -> 20.0))
    assert(ledgerCount() == 1)

    // Simulate a crash AFTER the sink applied+ledgered but BEFORE the engine
    // wrote its commit log: resume from a checkpoint copy whose newest
    // commits entry is missing → the restart replays that batchId from
    // recorded offsets. (A copy, because Spark guards a live session's own
    // commit log against external modification.)
    val ckptB = s"$work/ckpt_xo_b"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$work/ckpt_xo"), new java.io.File(ckptB))
    val commitsDir = new java.io.File(s"$ckptB/commits")
    val commits = commitsDir.listFiles().filter(_.getName.forall(_.isDigit))
    val newest = commits.maxBy(_.getName.toLong)
    // the .crc sidecar must go too: a stale one makes the engine's re-write
    // of this commit entry fail as FileAlreadyExists ("multiple queries")
    new java.io.File(commitsDir, s".${newest.getName}.crc").delete()
    newest.delete()
    // Poison the replay: overwrite the landing part-file IN PLACE with
    // different values. A sink without the ledger would re-merge these and
    // corrupt the table; the ledger must skip them.
    val part = new java.io.File(xoLanding).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val poisoned = s"$work/xo_poison"
    mk(Seq((1L, "2025-04-17 07:00:00", 99.0), (2L, "2025-04-17 08:00:00", 99.0)))
      .coalesce(1).write.parquet(poisoned)
    val newPart = new java.io.File(poisoned).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(newPart.toPath, part.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // drop the RawLocalFileSystem checksum sidecar the overwrite invalidated
    new java.io.File(part.getParentFile, s".${part.getName}.crc").delete()
    run(ckptB) // replays the deleted-commit batch
    assert(tableState() == Map(1L -> 10.0, 2L -> 20.0),
      "replayed batch must be suppressed by the ledger, not re-applied")
    assert(ledgerCount() == 1)

    // Fresh data still flows: a NEW file forms a new batch and applies.
    mk(Seq((3L, "2025-04-17 09:00:00", 30.0)))
      .coalesce(1).write.mode("append").parquet(xoLanding)
    run(ckptB)
    assert(tableState() == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
    assert(ledgerCount() == 2)
    // replaying the whole stream from a FRESH checkpoint (new sink id) still
    // converges through the idempotent MERGE — the ledger only pins batch
    // identity within one checkpoint lineage. (Landing file 1 now carries
    // the poisoned values, which LWW absorbs deterministically.)
    drainJdbc(stream(), url, "stream_xo", s"$work/ckpt_xo2")
    assert(tableState() == Map(1L -> 99.0, 2L -> 99.0, 3L -> 30.0))
    assert(ledgerCount() == 3)
  }

  test("streaming fuzzy admission: near-dups blocked across batches and restarts") {
    import spark.implicits._
    val root = s"$work/admit_fuzzy"
    val land = s"$root/landing"
    val index = s"$root/buckets"
    val corpus = s"$root/corpus"
    val base = "the quick brown fox jumps over the lazy dog while the " +
      "cunning red squirrel gathers acorns beneath the tall oak tree near river"
    def run(ckpt: String): Unit = {
      val stream = StreamingIngest.readLanding(spark, land,
        spark.read.parquet(land).schema)
      StreamingIngest.admitDocumentsFuzzyAvailableNow(
        stream, index, corpus, ckpt).awaitTermination()
    }
    // drop 1: the base doc and a genuinely different doc
    Seq((1L, base),
        (2L, "entirely different words compose this second document " +
          "about winter storms gathering strength across northern mountain ranges tonight"))
      .toDF("doc_id", "text").write.parquet(land)
    run(s"$root/ckpt")
    def admitted: Set[Long] = graft.etl.SnapshotLake.read(spark, corpus).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(admitted == Set(1L, 2L))
    // drop 2 AFTER the first query stopped: a re-encoded near-dup of doc 1
    // (one token changed — an exact-hash gate would admit it; its LSH
    // buckets collide with doc 1's at 5 of 8 bands, 20/24 stored lanes)
    // and a novel doc; the RESTARTED query must admit only the novel one
    Seq((10L, base.replace("river", "stream")),
        (11L, "completely novel content here describing ancient library " +
          "archives filled with forgotten manuscripts and dusty leather volumes"))
      .toDF("doc_id", "text").write.mode("append").parquet(land)
    run(s"$root/ckpt")
    assert(admitted == Set(1L, 2L, 11L),
      s"near-dup 10 must be blocked by stored lanes, 11 admitted: got $admitted")
    // replaying the whole landing dir from a FRESH checkpoint converges:
    // every admitted doc self-matches its indexed lanes at 24/24, the
    // near-dup still collides — nothing re-admits, nothing new appears
    run(s"$root/ckpt2")
    assert(admitted == Set(1L, 2L, 11L))
  }

  test("streaming admission: cross-batch and cross-restart content dedup") {
    import spark.implicits._
    val root = s"$work/admit"
    val land = s"$root/landing"
    val index = s"$root/index"
    val corpus = s"$root/corpus"
    def run(): Unit = {
      val stream = StreamingIngest.readLanding(spark, land,
        spark.read.parquet(land).schema)
      val q = StreamingIngest.admitDocumentsAvailableNow(
        stream, index, corpus, s"$root/ckpt")
      q.awaitTermination()
    }
    // drop 1: internal duplicate (1/2 share text)
    Seq((1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma delta"))
      .toDF("doc_id", "text").write.parquet(land)
    run()
    def state: Map[Long, String] = graft.etl.SnapshotLake.read(spark, corpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(state == Map(1L -> "alpha beta", 3L -> "gamma delta"))
    // drop 2 lands AFTER the first query stopped: a cross-batch duplicate
    // (text of doc 1) and one novel doc; the RESTARTED query must admit
    // only the novel one — the seen-set survives in the index, not in
    // streaming state
    Seq((10L, "alpha beta"), (11L, "epsilon zeta")).toDF("doc_id", "text")
      .write.mode("append").parquet(land)
    run()
    assert(state == Map(1L -> "alpha beta", 3L -> "gamma delta",
      11L -> "epsilon zeta"))
  }

  test("streaming as-of enrichment (foreachBatch + native exec) equals the batch join") {
    // as-of ENRICHMENT streams embarrassingly: each probe row's match
    // depends only on the static reference side, never on other probe rows,
    // so per-micro-batch joins compose to exactly the batch result. Each
    // micro-batch is a BATCH plan, so the custom AsOfJoinExec applies
    // unchanged — the streaming face of a13b costs zero extra machinery.
    graft.plans.AsOfJoin.ensureRegistered(spark)
    val ev = Tables(spark, sf001, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .agg(max(col("value")).as("p_value"))
    val schema = spark.read.parquet(landing).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(landing) // ≥ 2 micro-batches
    val outDir = s"$work/asof_out"
    @volatile var sawExec = false
    val q = stream.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.plans.AsOfJoin.ensureRegistered(batch.sparkSession)
        val joined = batch.join(purchases,
          col("user_id") === col("p_user") && expr("asof_match(ts, p_ts)"),
          "left")
        if (joined.queryExecution.executedPlan.toString.contains("AsOfJoin"))
          sawExec = true
        joined.write.mode("append").parquet(outDir)
        ()
      }
      .option("checkpointLocation", s"$work/ckpt_asof")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(sawExec, "micro-batches must plan the native AsOfJoinExec")
    val got = spark.read.parquet(outDir)
      .select(col("event_id"), col("p_ts"), col("p_value"))
      .collect().map(_.toString).toSet
    val batchWant = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .join(purchases,
        col("user_id") === col("p_user") && expr("asof_match(ts, p_ts)"), "left")
      .select(col("event_id"), col("p_ts"), col("p_value"))
      .collect().map(_.toString).toSet
    assert(got == batchWant, "streamed as-of enrichment drifted from the batch join")
  }

  test("event-time temporal join (changing reference) equals the batch as-of, exactly once") {
    // the case the foreachBatch lane CANNOT cover: the reference side is
    // itself a stream of changes. TemporalJoin buffers probes until the
    // watermark proves their match final; emitted rows must equal the batch
    // native as-of join for every watermark-closed probe, each exactly once
    graft.plans.AsOfJoin.ensureRegistered(spark)
    val schema = spark.read.parquet(landing).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "4").parquet(landing) // many micro-batches
    val q = TemporalJoin.temporalJoin(stream, "ts", "2 days")
      .writeStream
      .format("memory").queryName("temporal").outputMode("append")
      .option("checkpointLocation", s"$work/ckpt_temporal")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("temporal").collect().map { r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        Option(r.get(4)).map(_.asInstanceOf[Long]),
        Option(r.get(5)).map(_.asInstanceOf[Double]))
    }
    // exactly-once per probe row
    assert(got.map(_._1).distinct.length == got.length,
      "a probe row was emitted twice")
    val gotMap = got.toMap
    // batch comparator: the native as-of exec over the same data
    val ev = Tables(spark, sf001, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .agg(max(col("value")).as("p_value"))
    val batch = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .join(purchases,
        col("user_id") === col("p_user") && expr("asof_match(ts, p_ts)"), "left")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"), unix_micros(col("p_ts")).as("ref_ts_us"), col("p_value"))
      .collect().map { r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
          Option(r.get(4)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Double]))
      }
    val batchMap = batch.toMap
    // every emitted row matches the batch as-of exactly
    gotMap.foreach { case (id, row) =>
      assert(batchMap(id) == row, s"event $id: streaming $row vs batch ${batchMap(id)}")
    }
    // completeness: every probe the final watermark closed was emitted
    val maxTsUs = spark.read.parquet(landing)
      .agg(unix_micros(max(col("ts"))).as("m")).collect().head.getLong(0)
    val wmUs = ((maxTsUs / 1000L) - 2L * 24 * 3600 * 1000L) * 1000L
    val mustEmit = batch.filter(_._2._2 < wmUs).map(_._1).toSet
    assert(mustEmit.nonEmpty, "fixture too small: no watermark-closed probes")
    assert(mustEmit.subsetOf(gotMap.keySet),
      s"${mustEmit.diff(gotMap.keySet).size} watermark-closed probes not emitted")
  }

  test("temporal join: a reference change arriving AFTER the probe still matches it") {
    // the property the foreachBatch lane structurally cannot have: the
    // probe's batch ran before the matching reference version even arrived.
    // TemporalJoin buffers the probe until the watermark proves no more
    // admissible changes exist, so cross-batch disorder is invisible.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val t0 = 1700000000000L
    def ts(offsetSec: Long) = new java.sql.Timestamp(t0 + offsetSec * 1000L)
    val in = MemoryStream[(String, Long, java.sql.Timestamp, Long, Double)]
    val df = in.toDF.toDF("event_type", "user_id", "ts", "event_id", "value")
    val q = TemporalJoin.temporalJoin(df, "ts", "120 seconds")
      .writeStream
      .format("memory").queryName("temporal_ooo").outputMode("append")
      .option("checkpointLocation", s"$work/ckpt_temporal_ooo")
      .start()
    def drain(rows: (String, Long, java.sql.Timestamp, Long, Double)*): Unit = {
      in.addData(rows); q.processAllAvailable()
    }
    drain(("click", 1L, ts(100), 1L, 1.0))            // probe first
    drain(("purchase", 1L, ts(50), 10L, 7.0))          // its match arrives LATER
    drain(("purchase", 1L, ts(80), 11L, 9.0),          // even later, even closer
      ("click", 1L, ts(300), 2L, 2.0))
    drain(("click", 1L, ts(600), 3L, 3.0))             // watermark pushes past 100 and 300
    q.stop()
    val got = spark.table("temporal_ooo").collect()
      .map(r => r.getLong(0) -> (r.getLong(2),
        Option(r.get(4)).map(_.asInstanceOf[Long]),
        Option(r.get(5)).map(_.asInstanceOf[Double]))).toMap
    val usOf = (s: Long) => (t0 + s * 1000L) * 1000L
    assert(got == Map(
      1L -> ((usOf(100), Some(usOf(80)), Some(9.0))),  // latest version ≤ 100 is 80
      2L -> ((usOf(300), Some(usOf(80)), Some(9.0)))), // click 3 stays pending
      s"got $got")
  }

  test("temporal join state survives a checkpointed restart, exactly once across runs") {
    // probes buffered (pending) when the first query stops must be emitted
    // by the RESTARTED query once the watermark closes them — version chains
    // and pending probes live in the state store, not the process
    val land = s"$work/landing_tj"
    val outDir = s"$work/tj_out"
    val ckpt = s"$work/ckpt_tj_restart"
    val ev0 = Tables(spark, sf001, "events")
    // time-ordered waves: wave 1 = the first ~60% of event time, so the
    // probes inside its trailing lateness window are provably pending when
    // the first query stops, and provably closed by wave 2's watermark
    val cutUs = ev0.selectExpr("percentile_approx(unix_micros(ts), 0.6d)")
      .first().getLong(0)
    def stage(pred: org.apache.spark.sql.Column): Unit =
      ev0.filter(pred).write.mode("append").parquet(land)
    def run(): Unit = {
      val schema = spark.read.parquet(landing).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4").parquet(land)
      val q = TemporalJoin.temporalJoin(stream, "ts", "2 days").toDF()
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    stage(unix_micros(col("ts")) <= cutUs); run()
    val afterRun1 = spark.read.parquet(outDir).select("event_id")
      .collect().map(_.getLong(0)).toSet
    stage(unix_micros(col("ts")) > cutUs); run()
    val rows = spark.read.parquet(outDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        Option(r.get(4)).map(_.asInstanceOf[Long]),
        Option(r.get(5)).map(_.asInstanceOf[Double])))
    // exactly-once ACROSS runs: no probe re-emitted after restart
    assert(rows.map(_._1).distinct.length == rows.length,
      "a probe row was emitted twice across the restart")
    val gotMap = rows.toMap
    // run 2 must have closed WAVE-1 probes run 1 left pending — the rows
    // proving pending state crossed the restart (they were ingested before
    // the stop and could only be emitted from recovered state)
    val wave1Probes = ev0.filter(col("event_type") === "click" &&
        unix_micros(col("ts")) <= cutUs)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(((gotMap.keySet -- afterRun1) & wave1Probes).nonEmpty,
      "no wave-1 probe was emitted after the restart — pending state did not survive")
    // every emitted row equals the batch native as-of over the FULL data
    graft.plans.AsOfJoin.ensureRegistered(spark)
    val ev = Tables(spark, sf001, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .agg(max(col("value")).as("p_value"))
    val batchMap = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .join(purchases,
        col("user_id") === col("p_user") && expr("asof_match(ts, p_ts)"), "left")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"), unix_micros(col("p_ts")).as("ref_ts_us"), col("p_value"))
      .collect().map { r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
          Option(r.get(4)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Double]))
      }.toMap
    gotMap.foreach { case (id, row) =>
      assert(batchMap(id) == row, s"event $id: streaming $row vs batch ${batchMap(id)}")
    }
  }
}
