package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** E1 — standardize raw OHLCV bars into the canonical long quote frame.
  *
  * Re-expresses the reference's pandas standardizer
  * (`/root/reference/src/data_processing/standardizer.py:9-260`) as a single
  * lazy Spark plan: unpivot (S4) → rename (T1) → UTC-normalize (T2) →
  * enrich-join (T3) → cast (T4) → canonical projection (T5). On a cluster
  * the whole thing is one narrow stage plus a broadcast hash join — the
  * dimension is tiny (10 rows in the reference), so no shuffle of the fact
  * side ever happens.
  */
object Standardizer {

  /** T1 rename map, reference `standardizer.py:77-92`. */
  val renameMap: Map[String, String] = Map(
    "Open" -> "open", "High" -> "high", "Low" -> "low", "Close" -> "close",
    "Adj Close" -> "adjusted_close", "Volume" -> "volume")

  /** S4 — unpivot a wide frame whose per-ticker series arrive as columns
    * named `<ticker>:<field>` (the Spark-side representation of yfinance's
    * MultiIndex columns, reference `yf_collector.py:50-59`) into long rows
    * keyed (ts, ticker). Uses the built-in `unpivot` (Catalyst `Expand`) —
    * a narrow, shuffle-free transformation.
    */
  def unpivotWide(wide: DataFrame, tsCol: String = "ts"): DataFrame = {
    val fields = renameMap.keys.toSeq
    val tickers = wide.columns.filter(_.contains(":")).map(_.split(":")(0)).distinct
    require(tickers.nonEmpty, s"no <ticker>:<field> columns in ${wide.columns.mkString(",")}")
    // One struct per ticker, then a single unpivot + struct expansion.
    val structs = tickers.map { t =>
      struct(
        lit(t).as("ticker") +:
          fields.map(f =>
            (if (wide.columns.contains(s"$t:$f")) col(s"`$t:$f`") else lit(null).cast("double"))
              .as(f)): _*).as(t)
    }
    wide
      .select((col(tsCol) +: structs.toIndexedSeq): _*)
      .unpivot(Array(col(tsCol)), tickers.map(col), "series", "bar")
      .select(col(tsCol) +: col("bar.ticker").as("ticker") +:
        fields.map(f => col(s"bar.`$f`").as(f)): _*)
      .drop("series")
  }

  /** T2 — normalize a timestamp column to UTC. tz-aware sources carry their
    * offset in the value already (Spark timestamps are instants); tz-naive
    * daily bars are interpreted in `sourceTz` and converted, mirroring the
    * reference's localize-vs-convert branch (`standardizer.py:124-142`).
    */
  def toUtc(ts: Column, sourceTz: Option[String] = None): Column =
    sourceTz.map(tz => to_utc_timestamp(ts, tz)).getOrElse(ts)

  /** T1+T2+T3+T4+T5 — full standardization of a long bar frame.
    *
    * @param bars long frame with columns ts, ticker, Open/High/Low/Close/
    *             `Adj Close`/Volume (any subset of the value columns).
    * @param dim  index metadata (ticker, name, country, exchange, currency).
    */
  def standardize(bars: DataFrame, dim: DataFrame, sourceTz: Option[String] = None): DataFrame = {
    // T1 rename (tolerating absent value columns, reference standardizer.py:88-102)
    val present = renameMap.filter { case (from, _) => bars.columns.contains(from) }
    require(bars.columns.contains("ts") && bars.columns.contains("ticker"),
      "critical columns ts/ticker missing") // hard-fail ≙ standardizer.py:98-111
    val renamed = bars.withColumnsRenamed(present)
    // T2 UTC normalization
    val utc = renamed
      .withColumn("timestamp_utc", toUtc(col("ts"), sourceTz))
      .drop("ts")
    // T3 enrichment: broadcast left join against the tiny dimension —
    // never reshuffles the fact side (reference merge at standardizer.py:164-171)
    val enriched = utc.join(
      broadcast(dim.withColumnRenamed("currency", "original_currency")),
      Seq("ticker"), "left")
    // T4 casts: numeric coercion-to-null ≙ pandas to_numeric(errors="coerce")
    // (standardizer.py:188-221); try_cast keeps ANSI mode happy.
    val casts = Schema.priceCols.map(_ -> "DOUBLE") :+ ("volume" -> "BIGINT")
    val cast = enriched.withColumns(casts.collect {
      case (c, t) if enriched.columns.contains(c) => c -> expr(s"try_cast($c AS $t)")
    }.toMap)
    // T5 canonical projection in fixed order, tolerating absences
    // (standardizer.py:222-245)
    val cols = Schema.canonicalQuoteCols.filter(cast.columns.contains)
    cast.select(cols.map(col): _*)
  }

  /** T6 — per-column null-count audit (reference `standardizer.py:253-258`).
    * One job, map-side partial aggregation; returns a single row.
    */
  def auditNullCounts(df: DataFrame, cols: Seq[String]): DataFrame = {
    val present = cols.filter(df.columns.contains)
    df.agg(
      count(lit(1)).as("n_rows"),
      present.map(c => sum(col(c).isNull.cast("long")).as(s"null_$c")): _*)
  }
}
