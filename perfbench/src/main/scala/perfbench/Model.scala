package perfbench

/** The expected lake state, derived from [[Gen]] alone: last-write-wins
  * over the deliveries made so far, prices converted at the generator's
  * FX rate (USD at 1.0, missing rates giving null). Nothing here touches
  * Spark or the engine, so it checks the engine independently.
  */
final case class Quote(
    ticker: String, tsMicros: Long, name: String, country: String,
    currency: String, exchange: String, open: Double, high: Double, low: Double,
    close: Double, adjClose: Double, volume: Long, usd: Option[Seq[Double]]) {
  /** close_usd, the column the analyst reads aggregate. */
  def closeUsd: Option[Double] = usd.map(_(3))
}

final class Model(val g: Gen) {
  import Gen.BarsPerDay

  /** Version of a bar after `ticks` ticks have committed. */
  def version(i: Int, d: Int, h: Int, ticks: Int): Int = {
    val k = d - g.backfillDays + 2
    if (k >= 1 && k <= ticks) g.tickVersion(k, i, d, h) else 0
  }

  /** Last trading day present after `ticks` ticks. */
  def lastDay(ticks: Int): Int = g.backfillDays + ticks - 1

  def quote(i: Int, d: Int, h: Int, version: Int): Quote = {
    val b = g.bar(i, d, h, version)
    val ccy = g.currency(i)
    val usd = g.fxRate(ccy, g.epochDay(d)).map { r =>
      // the engine multiplies by exactly 1.0 for the target currency
      Seq(b.open * r, b.high * r, b.low * r, b.close * r, b.close * r)
    }
    Quote(g.ticker(i), g.tsMicros(i, d, h), g.name(i), g.country(i), ccy,
      g.exchange(i), b.open, b.high, b.low, b.close, b.close, b.volume, usd)
  }

  /** Expected rows of one trading day after `ticks` ticks, by key. */
  def day(d: Int, ticks: Int): Map[(String, Long), Quote] =
    (for (i <- 0 until g.tickers; h <- 0 until BarsPerDay)
      yield quote(i, d, h, version(i, d, h, ticks))).map(q => (q.ticker, q.tsMicros) -> q).toMap

  /** Rows one delivery carries: the backfill (`k == 0`) or tick `k`. */
  def batch(k: Int): Iterator[(Int, Int, Int, Int)] = {
    val days = if (k == 0) (0 until g.backfillDays) else g.tickDays(k)
    for (d <- days.iterator; i <- (0 until g.tickers).iterator; h <- (0 until BarsPerDay).iterator)
      yield (i, d, h, if (k == 0) 0 else g.tickVersion(k, i, d, h))
  }

  def batchRows(k: Int): Long =
    (if (k == 0) g.backfillDays else 2).toLong * g.tickers * BarsPerDay

  /** Bars of delivery `k` whose (currency, date) has no FX rate. */
  def batchMissingRate(k: Int): Long =
    batch(k).count { case (i, d, _, _) => g.fxRate(g.currency(i), g.epochDay(d)).isEmpty }.toLong

  /** Dimension rows: ticker -> (name, country, exchange, currency). */
  def indices: Map[String, (String, String, String, String)] =
    (0 until g.tickers).map(i =>
      g.ticker(i) -> (g.name(i), g.country(i), g.exchange(i), g.currency(i))).toMap
}
