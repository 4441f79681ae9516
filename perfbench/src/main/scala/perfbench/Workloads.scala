package perfbench

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.etl.{Pipeline, SnapshotLake}

import Main.Run

/** What one commit wrote, from lake-directory walks around it (traced runs). */
final case class WriteFact(kind: String, filesWritten: Int, bytesWritten: Long,
    partitionsTouched: Int, landedBytes: Long)

object Workloads {
  /** Universe: tickers, backfill trading days, ticks the read lake is built with. */
  val Tickers = 10
  val BackfillDays = 60
  val ReadLakeTicks = 1
  /** Ticks `ingest` commits in set-up: the first ticks after the backfill
    * still run while the JIT compiles the commit path, and measured alone
    * they made the tick median wander from run to run.
    */
  val WarmTicks = 2
  /** Measured ticks of one `ingest` run: at least this many, then until `--seconds` pass. */
  val MinTicks = 3
  /** Read rounds of one `lake_reads` run: at least this many, then until `--seconds` pass. */
  val MinRounds = 2

  /** Span names the metrics are read from. */
  val RunSpan = "etl.pipeline.run"
  val ReadSpan = "lake.read"
  val ResolveSpan = "etl.snapshot_lake.resolve"
  val AnalyzeSpan = "sources.lake_catalog.analyze"
  val ExecSpan = "exec"
  val MeasuredSpan = "measured"

  val names: Seq[String] = Seq("ingest", "lake_reads")

  def apply(name: String): Run => Unit = name match {
    case "ingest" => ingest
    case "lake_reads" => lakeReads
  }

  /** Set-up lands and commits the backfill (timed on its own) and the
    * warm-up ticks; the measured phase is ticks until `--seconds` have passed.
    */
  def ingest(run: Run): Unit = {
    val lake = build(run, ticks = WarmTicks)
    run.setupEndMs = run.trace.now()
    measured(run) {
      val start = run.trace.now()
      var k = WarmTicks + 1
      while (k <= WarmTicks + MinTicks || run.trace.now() - start < run.seconds * 1000.0) {
        tick(run, lake, k)
        k += 1
      }
    }
    if (run.traced) {
      lake.phases += "final" -> LakeState(run.spark, lake)
      readRound(run, lake, new scala.util.Random(run.seed))
    }
    latencies(run, opMs(run, "tick", RunSpan), "ticks")
    lakeEndToEnd(run, lake)
    if (run.traced) Layers.compute(run, lake)
  }

  /** Set-up builds the lakes (backfill plus ticks) and runs each read once;
    * the measured phase is rounds of the six reads, each round in seeded
    * order with seeded parameters, until `--seconds` have passed.
    */
  def lakeReads(run: Run): Unit = {
    val lake = build(run, ticks = ReadLakeTicks)
    if (run.traced) lake.phases += "final" -> LakeState(run.spark, lake)
    run.trace.span("setup.warm_up") {
      val rnd = new scala.util.Random(run.seed)
      Reads.Types.foreach(t => Reads.query(run.spark, lake, t, rnd, run.trace))
    }
    run.setupEndMs = run.trace.now()
    val rnd = new scala.util.Random(run.seed * 31 + 7)
    measured(run) {
      val start = run.trace.now()
      var rounds = 0
      while (rounds < MinRounds || run.trace.now() - start < run.seconds * 1000.0) {
        readRound(run, lake, rnd)
        rounds += 1
      }
    }
    latencies(run, opMs(run, "read.", ReadSpan, prefix = true), "reads")
    lakeEndToEnd(run, lake)
    if (run.traced) Layers.compute(run, lake)
  }

  /** Lands the backfill, commits it, then commits `ticks` ticks. */
  private def build(run: Run, ticks: Int): Lake = {
    val lake = new Lake(run.spark, Gen(run.seed, Tickers, BackfillDays), s"${run.tmp}/main", run.cores)
    val landed = run.trace.span("setup.land")(lake.land(0))
    run.attempt("backfill") {
      run.trace.op("backfill") {
        val m = deliver(run, lake, 0, landed)
        run.check(lake.checkMetrics(0, m) ++ lake.checkDays(0 until BackfillDays) ++ lake.checkIndices())
      }
    }
    val ms = opMs(run, "backfill", RunSpan, measuredOnly = false).last
    run.e2e("backfill_rows_per_s") = (lake.model.batchRows(0) / (ms / 1000.0), "rows/s")
    if (run.traced) lake.phases += "after_backfill" -> LakeState(run.spark, lake)
    (1 to ticks).foreach(k => tick(run, lake, k))
    lake
  }

  private def readRound(run: Run, lake: Lake, rnd: scala.util.Random): Unit =
    rnd.shuffle(Reads.Types).foreach(t => Reads(run, lake, t, rnd))

  /** Runs the measured phase inside one span, sampling JVM counters around it. */
  private def measured(run: Run)(body: => Unit): Unit = {
    val before = Main.jvmSnap()
    Main.resetHeapPeak()
    run.trace.span(MeasuredSpan)(body)
    val after = Main.jvmSnap()
    run.notes("jvm.gc_ms") = (after.gcMs - before.gcMs).toDouble
    run.notes("jvm.jit_ms") = (after.jitMs - before.jitMs).toDouble
    run.notes("jvm.heap_peak_mb") = Main.heapPeakMb()
  }

  private def tick(run: Run, lake: Lake, k: Int): Unit =
    run.attempt(s"tick $k") {
      run.trace.op("tick") {
        val landed = run.trace.span("land")(lake.land(k))
        val m = deliver(run, lake, k, landed)
        run.check(lake.checkMetrics(k, m) ++ lake.checkDays(lake.g.tickDays(k)))
      }
    }

  /** Commits delivery `k` in the timed span; traced runs also walk the
    * lakes before and after it to record what the commit wrote.
    */
  private def deliver(run: Run, lake: Lake, k: Int, landed: Long): Pipeline.RunMetrics = {
    val before = if (run.traced) Some(LakeState.files(run.spark, lake)) else None
    val m = run.trace.span(RunSpan)(lake.commit(k))
    before.foreach { case (files0, entries0) =>
      val (files1, entries1) = LakeState.files(run.spark, lake)
      val added = files1.keySet -- files0.keySet
      lake.writes += WriteFact(if (k == 0) "backfill" else "tick", added.size,
        added.toSeq.map(files1).sum, (entries1 -- entries0).size, landed)
    }
    m
  }

  /** Wall times (ms) of the `child` spans under operations named `opName`
    * (or starting with it, when `prefix`), by default only those of the
    * measured phase.
    */
  def opMs(run: Run, opName: String, child: String, prefix: Boolean = false,
      measuredOnly: Boolean = true): Seq[Double] = {
    val m = run.trace.spans.filter(_.name == MeasuredSpan)
    run.trace.under(run.trace.ops(opName, prefix), child)
      .filter(s => !measuredOnly || m.exists(x => s.start >= x.start && s.end <= x.end)).map(_.ms)
  }

  private def latencies(run: Run, ms: Seq[Double], what: String): Unit = {
    run.notes("op_ms") = ms
    run.e2e("op_p50_ms") = (Stats.percentile(ms, 50), "ms")
    run.e2e("op_p75_ms") = (Stats.percentile(ms, 75), "ms")
    run.samples(s"op_ms ($what)") = ms.size
  }

  private def lakeEndToEnd(run: Run, lake: Lake): Unit = {
    run.e2e("lake_bytes_per_row") =
      (lake.liveFiles(lake.quotes).values.sum.toDouble / lake.liveRows, "B/row")
    run.notes("ticks_committed") = lake.ticks
    run.notes("live_rows") = lake.liveRows
  }

}

/** Lake facts a walk of its directories gives, recorded after a phase. */
final case class LakeState(filesLive: Int, bytesLive: Long, bytesOnDisk: Long, generations: Int)

object LakeState {
  def apply(spark: org.apache.spark.sql.SparkSession, lake: Lake): LakeState = {
    val live = lake.liveFiles(lake.quotes) ++ lake.liveFiles(lake.indices)
    LakeState(live.size, live.values.sum,
      Lake.tree(java.nio.file.Paths.get(lake.root, "lakes")).values.sum,
      SnapshotLake.retainedGens(spark, lake.quotes).size)
  }

  /** Every file under the lakes, and the live (partition, generation) entries. */
  def files(spark: org.apache.spark.sql.SparkSession, lake: Lake): (Map[String, Long], Set[String]) = {
    val entries = Seq(lake.indices, lake.quotes).flatMap(p =>
      SnapshotLake.currentManifest(spark, p).toSeq.flatMap(_.entries)
        .map(e => s"$p/${e.dirName}/${e.gen}"))
    (Lake.tree(java.nio.file.Paths.get(lake.root, "lakes")), entries.toSet)
  }
}

/** The analyst reads of `lake_reads`, each checked against the model. */
object Reads {
  import Workloads._

  val Types: Seq[String] = Seq("latest", "day", "ticker_month", "rolling_sql", "country_rollup", "as_of")

  /** One read as a counted, checked operation. */
  def apply(run: Run, lake: Lake, t: String, rnd: scala.util.Random): Unit =
    run.attempt(s"read $t") {
      run.trace.op(s"read.$t") {
        val (rows, expect) = query(run.spark, lake, t, rnd, run.trace)
        run.trace.count("rows_returned", rows.size)
        run.check {
          run.digests += s"$t:${Stats.digest(rows.map(_.toSeq))}"
          expect(rows)
        }
      }
    }

  private def ts(micros: Long) = new Timestamp(micros / 1000)
  private def dayStart(g: Gen, d: Int) = ts(g.epochDay(d) * 86400L * 1000000L)
  private def dayEnd(g: Gen, d: Int) = ts((g.epochDay(d) + 1) * 86400L * 1000000L - 1000)
  private def optD(r: Row, i: Int): Option[Double] = if (r.isNullAt(i)) None else Some(r.getDouble(i))

  /** Runs read `t` (resolve, then collect, both timed) and returns the rows
    * with the check that compares them to the model.
    */
  def query(spark: org.apache.spark.sql.SparkSession, lake: Lake, t: String,
      rnd: scala.util.Random, trace: Trace): (Seq[Row], Seq[Row] => Seq[String]) = {
    val g = lake.g
    val m = lake.model
    val ticks = lake.ticks
    val last = m.lastDay(ticks)
    def timed(resolveSpan: String)(resolve: => org.apache.spark.sql.DataFrame): Seq[Row] =
      trace.span(ReadSpan) {
        val df = trace.span(resolveSpan)(resolve)
        trace.span(ExecSpan)(df.collect().toSeq)
      }
    t match {
      case "latest" =>
        val rows = timed(ResolveSpan) {
          SnapshotLake.readSlice(spark, lake.quotes, "timestamp_utc", Some(dayStart(g, last - 4)), None)
            .groupBy("ticker").agg(max(struct(col("timestamp_utc"), col("close_usd"))).as("m"))
            .select(col("ticker"), col("m.timestamp_utc"), col("m.close_usd"))
        }
        (rows, got => Checks.keyed(
          got.map(r => r.getString(0) -> Seq(Some(r.getTimestamp(1).getTime.toDouble), optD(r, 2))).toMap,
          (0 until g.tickers).map { i =>
            val q = m.quote(i, last, Gen.BarsPerDay - 1, m.version(i, last, Gen.BarsPerDay - 1, ticks))
            q.ticker -> Seq(Some((q.tsMicros / 1000).toDouble), q.closeUsd)
          }.toMap, "latest", 0.0))
      case "day" =>
        val d = rnd.nextInt(last + 1)
        val rows = timed(ResolveSpan)(SnapshotLake.read(spark, lake.quotes, Seq(g.date(d).toString)))
        (rows, got => Checks.quotes(got, m.day(d, ticks)))
      case "ticker_month" =>
        val i = rnd.nextInt(g.tickers)
        val month = g.date(rnd.nextInt(last + 1))
        val days = (0 to last).filter(d => g.date(d).getMonth == month.getMonth &&
          g.date(d).getYear == month.getYear)
        val rows = timed(ResolveSpan) {
          SnapshotLake.readSlice(spark, lake.quotes, "timestamp_utc",
            Some(dayStart(g, days.head)), Some(dayEnd(g, days.last)))
            .filter(col("ticker") === g.ticker(i))
        }
        (rows, got => Checks.quotes(got,
          days.flatMap(d => m.day(d, ticks)).filter(_._1._1 == g.ticker(i)).toMap))
      case "rolling_sql" =>
        val picked = rnd.shuffle((0 until g.tickers).toList).take(3).sorted
        val d0 = rnd.nextInt(math.max(1, last - 62))
        val d1 = math.min(last, d0 + 62)
        val rows = timed(AnalyzeSpan) {
          spark.sql(
            s"""SELECT ticker, timestamp_utc,
               |  avg(close_usd) OVER w AS mean20, stddev_samp(close_usd) OVER w AS sd20
               |FROM lake.quotes
               |WHERE ticker IN (${picked.map(i => s"'${g.ticker(i)}'").mkString(", ")})
               |  AND timestamp_utc BETWEEN TIMESTAMP'${dayStart(g, d0)}' AND TIMESTAMP'${dayEnd(g, d1)}'
               |WINDOW w AS (PARTITION BY ticker ORDER BY timestamp_utc
               |  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""".stripMargin)
        }
        (rows, got => Checks.keyed(
          got.map(r => (r.getString(0), r.getTimestamp(1).getTime) -> Seq(optD(r, 2), optD(r, 3))).toMap,
          picked.flatMap { i =>
            val series = (d0 to d1).flatMap(d => (0 until Gen.BarsPerDay).map(h =>
              m.quote(i, d, h, m.version(i, d, h, ticks))))
            series.indices.map { j =>
              val xs = series.slice(math.max(0, j - 19), j + 1).flatMap(_.closeUsd)
              val mean = if (xs.isEmpty) None else Some(xs.sum / xs.size)
              val sd = if (xs.size < 2) None
                else Some(math.sqrt(xs.map(x => (x - mean.get) * (x - mean.get)).sum / (xs.size - 1)))
              (series(j).ticker, series(j).tsMicros / 1000) -> Seq(mean, sd)
            }
          }.toMap, "rolling_sql", 1e-7))
      case "country_rollup" =>
        val d0 = rnd.nextInt(math.max(1, last - 62))
        val days = d0 to math.min(last, d0 + 62)
        val rows = timed(ResolveSpan) {
          SnapshotLake.read(spark, lake.quotes, days.map(d => g.date(d).toString))
            .drop("country", "name", "exchange", "original_currency")
            .join(SnapshotLake.read(spark, lake.indices).select("ticker", "country"), "ticker")
            .groupBy("country", "p_date").agg(avg("close_usd"))
        }
        (rows, got => Checks.keyed(
          got.map(r => (r.getString(0), r.getDate(1).toLocalDate.toEpochDay) -> Seq(optD(r, 2))).toMap,
          days.flatMap(d => m.day(d, ticks).values.map(q => ((q.country, g.epochDay(d)), q.closeUsd)))
            .groupBy(_._1).map { case (k, vs) =>
              val xs = vs.flatMap(_._2)
              k -> Seq(if (xs.isEmpty) None else Some(xs.sum / xs.size))
            }, "country_rollup"))
      case "as_of" =>
        val older = lake.genAfter.toSeq.filter(_._1 < ticks).sortBy(_._1)
        val (k0, gen) = older(rnd.nextInt(older.size))
        val lastThen = m.lastDay(k0)
        val d = math.max(0, lastThen - rnd.nextInt(3))
        val rows = timed(ResolveSpan) {
          SnapshotLake.readAt(spark, lake.quotes, gen)
            .filter(col("p_date") === lit(Date.valueOf(g.date(d))))
        }
        (rows, got => Checks.quotes(got, m.day(d, k0)))
    }
  }
}
