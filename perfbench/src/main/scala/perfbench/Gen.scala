package perfbench

import java.time.LocalDate

/** Seeded market universe: index dimension, hourly OHLCV bars and daily FX
  * rates, every value a pure function of (seed, coordinates). Executors
  * call the same functions to land bars as parquet, and [[Model]] calls
  * them to derive the expected lake state without Spark or the engine.
  *
  * Calendar: trading day `d` is the d-th weekday from 2023-01-02. Each
  * ticker trades `BarsPerDay` hourly bars per day from its currency's
  * session open (UTC). The backfill holds days `[0, backfillDays)`; tick
  * `k >= 1` delivers days `backfillDays + k - 2` (a re-delivery, some bars
  * carrying a corrected close) and `backfillDays + k - 1` (new).
  */
final case class Gen(seed: Long, tickers: Int, backfillDays: Int) {
  import Gen._

  def ticker(i: Int): String = f"IX$i%03d"
  def currency(i: Int): String = Currencies(i % Currencies.length)
  def country(i: Int): String = {
    val cs = Countries(currency(i))
    cs((i / Currencies.length) % cs.length)
  }
  def exchange(i: Int): String = "X" + country(i).take(3).toUpperCase
  def name(i: Int): String = s"Index $i"

  def date(d: Int): LocalDate = Start.plusDays((d / 5) * 7L + d % 5)
  def epochDay(d: Int): Long = date(d).toEpochDay
  /** Bar `h` of ticker `i` on day `d`, as epoch microseconds (UTC). */
  def tsMicros(i: Int, d: Int, h: Int): Long =
    (epochDay(d) * 24 + SessionOpen(currency(i)) + h) * 3600L * 1000000L

  /** Days a tick delivers: the re-delivered previous day, then the new day. */
  def tickDays(k: Int): Seq[Int] = Seq(backfillDays + k - 2, backfillDays + k - 1)
  /** The version tick `k` delivers for a bar: `k` when it carries a
    * corrected close, else 0 (the first delivery's values).
    */
  def tickVersion(k: Int, i: Int, d: Int, h: Int): Int =
    if (d == backfillDays + k - 2 && unit(11, i, d, h, k) < CorrectionRate) k else 0

  def close(i: Int, d: Int, h: Int, version: Int): Double = {
    val level = 1000.0 * (1 + i % 17) * (1 + 0.2 * math.sin(d / 40.0 + i))
    val c = level * (1 + 0.01 * (unit(1, i, d, h) - 0.5))
    if (version == 0) c else c * (1 + 0.001 * version)
  }
  def bar(i: Int, d: Int, h: Int, version: Int): Bar = {
    val c = close(i, d, h, version)
    val o = c * (1 + 0.004 * (unit(2, i, d, h) - 0.5))
    Bar(o, math.max(o, c) * 1.001, math.min(o, c) * 0.999, c,
      1000L + (unit(3, i, d, h) * 1e6).toLong)
  }

  /** Daily rate currency→USD; None for the few pairs the provider lacks. */
  def fxRate(ccy: String, epochDay: Long): Option[Double] =
    if (ccy == "USD") Some(1.0)
    else {
      val c = Currencies.indexOf(ccy)
      if (unit(5, c, epochDay) < MissingFxRate) None
      else Some(UsdPer(ccy) * (1 + 0.05 * math.sin(epochDay / 30.0 + c)) *
        (1 + 0.002 * (unit(6, c, epochDay) - 0.5)))
    }

  /** Uniform [0, 1) from the seed and coordinates (SplitMix64 mixing). */
  def unit(parts: Long*): Double = {
    var h = mix(seed ^ 0x5DEECE66DL)
    parts.foreach(p => h = mix(h ^ (p + 0x9E3779B97F4A7C15L)))
    (h >>> 11).toDouble / (1L << 53).toDouble
  }
}

final case class Bar(open: Double, high: Double, low: Double, close: Double, volume: Long)

object Gen {
  val BarsPerDay = 7
  val CorrectionRate = 0.05
  val MissingFxRate = 0.01
  val Start: LocalDate = LocalDate.of(2023, 1, 2)
  val Currencies: Vector[String] = Vector("USD", "EUR", "JPY", "GBP", "CHF")
  val Countries: Map[String, Vector[String]] = Map(
    "USD" -> Vector("USA"), "EUR" -> Vector("Germany", "France", "Netherlands", "Spain"),
    "JPY" -> Vector("Japan"), "GBP" -> Vector("UK"), "CHF" -> Vector("Switzerland"))
  val SessionOpen: Map[String, Int] =
    Map("USD" -> 14, "EUR" -> 8, "JPY" -> 0, "GBP" -> 8, "CHF" -> 8)
  val UsdPer: Map[String, Double] =
    Map("EUR" -> 1.09, "JPY" -> 0.0069, "GBP" -> 1.27, "CHF" -> 1.12)

  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
