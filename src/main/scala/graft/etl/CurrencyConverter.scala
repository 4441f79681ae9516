package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Pluggable FX-rate source — replaces the reference's HTTP fetch + memo
  * caches (`/root/reference/src/data_processing/currency_converter.py:19-105`).
  * Implementations fetch rates for a *bounded* set of (currency, date) pairs
  * (the distinct-pair plan, T8), so the driver-side call volume is
  * #currencies × #days regardless of fact-table size — the same property the
  * reference gets from its request-dedup cache (`currency_converter.py:149-161`).
  */
trait RateProvider {
  def rates(pairs: Seq[(String, java.sql.Date)], target: String): Seq[FxRate]
}

/** Deterministic in-memory provider for tests/offline runs. Pairs absent
  * from `table` yield no row ≙ the reference's negative cache / missing-rate
  * path (`currency_converter.py:35-39`, `README.md:381`).
  */
final class StaticRateProvider(table: Map[(String, java.sql.Date), Double]) extends RateProvider {
  def rates(pairs: Seq[(String, java.sql.Date)], target: String): Seq[FxRate] =
    pairs.flatMap { case (ccy, d) =>
      table.get((ccy, d)).map(r => FxRate(ccy, target, d, r))
    }
}

/** E2 — convert the five price columns to a target currency via a daily-rate
  * broadcast join (reference `currency_converter.py:108-190`).
  *
  * The reference's row-wise `df.apply` rate lookup (its hottest anti-pattern,
  * `currency_converter.py:163-168`) becomes a broadcast hash join: the rate
  * table is bounded by #currencies × #days, so at 100 TB the fact side
  * streams through map-side-only stages — zero shuffles end to end.
  */
object CurrencyConverter {

  /** The most (currency, date) pairs one conversion asks the provider for:
    * the rate table is broadcast, so it must stay driver-sized. 100,000
    * pairs is 40 years of daily rates for 10 currencies.
    */
  private val MaxPairs = 100000

  /** T8 — distinct (currency, date) pairs that actually need a rate: skips
    * the target currency and null currencies (reference
    * `currency_converter.py:149-161`). The pairs come from one map-side
    * job ([[BoundedDistinct]]: task-local dedup, no shuffle), and a batch
    * spanning more than [[MaxPairs]] pairs is refused before any fetch.
    */
  def distinctPairs(quotes: DataFrame, target: String): Seq[(String, java.sql.Date)] =
    BoundedDistinct.collect(
      quotes
        .filter(col("original_currency").isNotNull && col("original_currency") =!= target)
        .select(col("original_currency"), to_date(col("timestamp_utc")).as("rate_date")),
      MaxPairs,
      s"batch needs more than $MaxPairs distinct (currency, date) FX pairs — " +
        "the rate table is broadcast and must stay driver-sized; convert " +
        "the batch in shorter date windows")
      .map(r => (r.getString(0), r.getDate(1)))
      .toSeq

  /** T7+T9+T10+T11 — apply conversion given an FxRate table.
    *
    * Identity rate 1.0 when original_currency == target (reference
    * `currency_converter.py:32-33,166-167`); missing rates leave the `_usd`
    * columns null (reference `README.md:381`); null propagation through the
    * multiply is native.
    */
  def convert(quotes: DataFrame, fxRates: DataFrame, target: String = "USD"): DataFrame = {
    val suffix = target.toLowerCase
    val rates = fxRates
      .filter(col("target_currency") === target)
      .select(col("base_currency"), col("rate_date"), col("rate"))
    val joined = quotes
      .withColumn("rate_date", to_date(col("timestamp_utc"))) // T7
      .join(broadcast(rates),
        quotes("original_currency") === rates("base_currency") &&
          to_date(quotes("timestamp_utc")) === rates("rate_date"),
        "left") // T9
      .withColumn("exchange_rate",
        when(col("original_currency") === lit(target), lit(1.0d))
          .otherwise(col("rate")))
    val converted = Schema.priceCols.foldLeft(joined) { (df, c) => // T10
      if (df.columns.contains(c))
        df.withColumn(s"${c}_$suffix", col(c) * col("exchange_rate"))
      else df
    }
    converted.drop("rate_date", "exchange_rate", "base_currency", "rate") // T11
  }

  /** Full E2: plan the bounded rate fetch, build the broadcast table,
    * convert. Mirrors `convert_to_target_currency`
    * (reference `currency_converter.py:108-190`).
    */
  def convertWithProvider(
      spark: SparkSession,
      quotes: DataFrame,
      provider: RateProvider,
      target: String = "USD"): DataFrame = {
    import spark.implicits._
    val pairs = distinctPairs(quotes, target)
    val fx: Dataset[FxRate] = provider.rates(pairs, target).toDS()
    convert(quotes, fx.toDF(), target)
  }
}
