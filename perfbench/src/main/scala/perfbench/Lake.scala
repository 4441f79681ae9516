package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.{Date, Timestamp}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.etl.{FxRate, IndexMeta, Pipeline, RateProvider, SnapshotLake}

/** FX source handed to the pipeline: answers from the generator and
  * records how many (currency, date) pairs each call asked for.
  */
final class BenchRates(g: Gen) extends RateProvider {
  val asked = mutable.ArrayBuffer.empty[Int]
  def rates(pairs: Seq[(String, Date)], target: String): Seq[FxRate] = {
    asked += pairs.size
    pairs.flatMap { case (ccy, d) =>
      g.fxRate(ccy, d.toLocalDate.toEpochDay).map(r => FxRate(ccy, target, d, r))
    }
  }
}

/** One universe's landing zone and its two lakes under `root/lakes`. */
final class Lake(val spark: SparkSession, val g: Gen, val root: String, cores: Int) {
  val model = new Model(g)
  val rates = new BenchRates(g)
  val indices = s"$root/lakes/indices"
  val quotes = s"$root/lakes/quotes"
  /** Ticks committed so far, and the quotes generation each delivery published. */
  var ticks = 0
  val genAfter = mutable.Map.empty[Int, Long]
  /** Traced runs: what each commit wrote, and lake state after each phase. */
  val writes = mutable.ArrayBuffer.empty[WriteFact]
  val phases = mutable.ArrayBuffer.empty[(String, LakeState)]

  lazy val dim: DataFrame = {
    import spark.implicits._
    (0 until g.tickers).map(i =>
      IndexMeta(g.ticker(i), g.name(i), g.country(i), g.exchange(i), g.currency(i))).toDF()
  }

  def landing(k: Int): String = s"$root/landing/batch-$k"

  /** Writes delivery `k` (0 = backfill) as parquet; returns its bytes. */
  def land(k: Int): Long = {
    val gen = g
    val n = model.batchRows(k)
    val firstDay = if (k == 0) 0 else g.tickDays(k).head
    val perDay = g.tickers * Gen.BarsPerDay
    val rows = spark.sparkContext.range(0, n, 1, if (k == 0) cores else 1).map { idx =>
      val d = firstDay + (idx / perDay).toInt
      val i = ((idx / Gen.BarsPerDay) % gen.tickers).toInt
      val h = (idx % Gen.BarsPerDay).toInt
      val b = gen.bar(i, d, h, if (k == 0) 0 else gen.tickVersion(k, i, d, h))
      Row(new Timestamp(gen.tsMicros(i, d, h) / 1000), gen.ticker(i),
        b.open, b.high, b.low, b.close, b.close, b.volume)
    }
    spark.createDataFrame(rows, Lake.LandingSchema).write.parquet(landing(k))
    Lake.tree(Paths.get(landing(k))).values.sum
  }

  /** Delivery `k` through the engine's two-lake pipeline. */
  def commit(k: Int): Pipeline.RunMetrics = {
    val bars = spark.read.schema(Lake.LandingSchema).parquet(landing(k))
    val m = Pipeline.runLake(spark, bars, dim, rates, indices, quotes)
    ticks = k
    genAfter(k) = SnapshotLake.currentManifest(spark, quotes).map(_.gen).getOrElse(-1L)
    m
  }

  def liveRows: Long = (model.lastDay(ticks) + 1).toLong * g.tickers * Gen.BarsPerDay

  /** Data files of the current snapshot (path -> bytes), by manifest walk. */
  def liveFiles(path: String): Map[String, Long] =
    SnapshotLake.currentManifest(spark, path).toSeq.flatMap(_.entries).flatMap { e =>
      Lake.tree(Paths.get(path, "data", e.dirName, s"gen=${e.gen}"))
        .filter { case (f, _) => f.endsWith(".parquet") }
    }.toMap

  /** Checks what a delivery reported against the model; returns failures. */
  def checkMetrics(k: Int, m: Pipeline.RunMetrics): Seq[String] = {
    val want = (model.batchRows(k), 0L, model.batchMissingRate(k))
    val got = (m.rows, m.nullClose, m.missingRate)
    if (got == want) Nil else Seq(s"batch $k: (rows, nullClose, missingRate) $got, want $want")
  }

  /** Every row of the given days, field by field, against the model. */
  def checkDays(days: Seq[Int]): Seq[String] = {
    val got = SnapshotLake.read(spark, quotes, days.map(d => g.date(d).toString)).collect()
    Checks.quotes(got, days.flatMap(d => model.day(d, ticks)).toMap)
  }

  /** The dimension lake against the model. */
  def checkIndices(): Seq[String] = {
    val got = SnapshotLake.read(spark, indices).collect().map(r =>
      r.getAs[String]("ticker") -> (r.getAs[String]("name"), r.getAs[String]("country"),
        r.getAs[String]("exchange"), r.getAs[String]("original_currency"))).toMap
    if (got == model.indices) Nil else Seq("indices lake differs from the model")
  }
}

object Lake {
  val LandingSchema: StructType = StructType(Seq(
    StructField("ts", TimestampType), StructField("ticker", StringType),
    StructField("Open", DoubleType), StructField("High", DoubleType),
    StructField("Low", DoubleType), StructField("Close", DoubleType),
    StructField("Adj Close", DoubleType), StructField("Volume", LongType)))

  /** Regular files under `dir` (absolute path -> bytes); empty when absent. */
  def tree(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
}

/** Result comparisons against the model; each returns failure messages. */
object Checks {
  private def close(a: Double, b: Double, rel: Double): Boolean =
    math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  private def opt(r: Row, c: String): Option[Double] =
    if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Double](c))

  /** Full quote rows, exact: the model reproduces every double bit for bit. */
  def quotes(got: Seq[Row], want: Map[(String, Long), Quote]): Seq[String] = {
    val bad = got.flatMap { r =>
      val key = (r.getAs[String]("ticker"), r.getAs[Timestamp]("timestamp_utc").getTime * 1000)
      want.get(key) match {
        case None => Some(s"unexpected row $key")
        case Some(q) =>
          val usd = Seq("open_usd", "high_usd", "low_usd", "close_usd", "adjusted_close_usd")
            .map(opt(r, _))
          val ok = r.getAs[String]("name") == q.name && r.getAs[String]("country") == q.country &&
            r.getAs[String]("original_currency") == q.currency &&
            r.getAs[String]("exchange") == q.exchange &&
            r.getAs[Double]("open") == q.open && r.getAs[Double]("high") == q.high &&
            r.getAs[Double]("low") == q.low && r.getAs[Double]("close") == q.close &&
            r.getAs[Double]("adjusted_close") == q.adjClose && r.getAs[Long]("volume") == q.volume &&
            usd == q.usd.map(_.map(Some(_))).getOrElse(Seq.fill(5)(None))
          if (ok) None else Some(s"row $key differs from the model")
      }
    }
    val count = if (got.size == want.size) Nil else Seq(s"${got.size} rows, want ${want.size}")
    (count ++ bad).take(5)
  }

  /** Keyed numeric results within a relative tolerance (aggregates). */
  def keyed[K](got: Map[K, Seq[Option[Double]]], want: Map[K, Seq[Option[Double]]],
      what: String, rel: Double = 1e-9): Seq[String] = {
    val keys = if (got.keySet == want.keySet) Nil
      else Seq(s"$what: ${got.size} keys, want ${want.size}")
    keys ++ want.toSeq.flatMap { case (k, w) =>
      got.get(k).filterNot(a => a.size == w.size && a.zip(w).forall {
        case (Some(x), Some(y)) => close(x, y, rel)
        case (x, y) => x == y
      }).map(a => s"$what $k: $a, want $w")
    }.take(5)
  }
}
