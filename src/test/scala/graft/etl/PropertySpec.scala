package graft.etl

import java.sql.{Date, Timestamp}

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Seeded generative tests for the ETL laws SURVEY §5 commits to:
  * upsert idempotency, last-write-wins order-independence, lake merge ≡ an
  * in-memory LWW model, conversion identity/null-propagation, and unpivot
  * size/content laws. Each property runs over randomized batches from a
  * fixed seed, so failures reproduce.
  */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private val rnd = new Random(42)

  /** A lake row (key, dt, v, price): dt is a function of key (the merge
    * contract), v the version, price the tie-breaker (null sorts lowest,
    * as in lastWriteWins' DESC NULLS LAST order).
    */
  private type Rec = (String, String, Long, Option[Double])

  private def randomBatch(n: Int): Seq[(String, Long, Double)] =
    (1 to n).map { _ =>
      (s"k${rnd.nextInt(8)}", rnd.nextInt(5).toLong, rnd.nextInt(1000) / 10.0)
    }

  test("property: merge sink idempotency — merge(merge(b)) == merge(b)") {
    (1 to 5).foreach { trial =>
      val dir = tempDir(s"graft_prop$trial") + "/t"
      val b = randomBatch(50).toDF("key", "v", "price")
      SnapshotLake.merge(spark, dir, b, Seq("key"), "v", "key", Seq("price"))
      val once = SnapshotLake.read(spark, dir).collect().map(_.toString).sorted.toSeq
      SnapshotLake.merge(spark, dir, b, Seq("key"), "v", "key", Seq("price"))
      val twice = SnapshotLake.read(spark, dir).collect().map(_.toString).sorted.toSeq
      assert(once == twice, s"trial $trial not idempotent")
    }
  }

  test("property: lake delete law — read-after-delete == read-before minus TRUE rows") {
    (1 to 4).foreach { trial =>
      val dir = tempDir(s"graft_propdel$trial") + "/t"
      val b = randomBatch(60).toDF("key", "v", "price")
        .withColumn("dt", concat(lit("p"), (col("v") % 3).cast("string")))
      SnapshotLake.merge(spark, dir, b, Seq("key"), "v", "dt")
      val before = SnapshotLake.read(spark, dir).collect().map(_.toString).toSet
      // a random predicate per trial, including one with NULL semantics
      val pred =
        if (trial % 2 == 0) col("price") > lit(rnd.nextInt(80).toDouble)
        else col("key").isin((0 to rnd.nextInt(6)).map(i => s"k$i"): _*)
      val kept = SnapshotLake.read(spark, dir)
        .filter(!coalesce(pred, lit(false))).collect().map(_.toString).toSet
      val n = SnapshotLake.delete(spark, dir, pred)
      val after = SnapshotLake.read(spark, dir).collect().map(_.toString).toSet
      assert(after == kept, s"trial $trial: delete broke the WHERE-complement law")
      assert(n == before.size - kept.size, s"trial $trial: deleted-count drifted")
    }
  }

  test("property: lake merge equals an in-memory LWW model over random batch sequences") {
    val order = Ordering[(Long, Option[Double])]
    def newer(a: Rec, b: Rec): Rec = if (order.gteq((a._3, a._4), (b._3, b._4))) a else b
    val seeded = new Random(7)
    (1 to 3).foreach { trial =>
      val dir = tempDir(s"graft_proplww$trial") + "/t"
      var model = Map.empty[String, Rec]
      var sent = Vector.empty[Seq[Rec]]
      (1 to 5).foreach { step =>
        // a re-delivered earlier batch, or a fresh one whose small key,
        // version and price domains force in-batch duplicate keys, keys
        // re-delivered across batches (at lower versions too) and version
        // ties that only the tie-breaker settles
        val batch =
          if (sent.nonEmpty && seeded.nextInt(4) == 0) sent(seeded.nextInt(sent.size))
          else Seq.fill(1 + seeded.nextInt(10)) {
            val k = seeded.nextInt(10)
            (s"k$k", s"d${k % 3}", seeded.nextInt(3).toLong,
              if (seeded.nextInt(8) == 0) None else Some(seeded.nextInt(4) * 1.5))
          }
        sent :+= batch
        // the model: LWW inside the batch, then the batch's winner replaces
        // any stored row for its key regardless of version (DO UPDATE)
        model ++= batch.groupBy(_._1).map { case (k, rs) => k -> rs.reduce(newer) }
        SnapshotLake.merge(spark, dir, batch.toDF("key", "dt", "v", "price"),
          Seq("key"), "v", "dt", Seq("price"))
        val lake = SnapshotLake.read(spark, dir).select("key", "dt", "v", "price")
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        assert(lake.map(_._1).distinct.length == lake.length,
          s"trial $trial step $step: duplicate keys in the lake")
        assert(lake.map(r => r._1 -> r).toMap == model,
          s"trial $trial step $step: lake diverged from the LWW model after $batch")
      }
    }
  }

  test("property: last-write-wins is independent of input row order") {
    (1 to 5).foreach { trial =>
      val rows = randomBatch(60)
      val a = Upsert.lastWriteWins(rows.toDF("key", "v", "price"),
        Seq("key"), "v", Seq("price")).collect().map(_.toString).sorted.toSeq
      val b = Upsert.lastWriteWins(rnd.shuffle(rows).toDF("key", "v", "price"),
        Seq("key"), "v", Seq("price")).collect().map(_.toString).sorted.toSeq
      assert(a == b, s"trial $trial order-dependent")
    }
  }

  test("property: conversion identity and null propagation for any batch") {
    val currencies = Seq("USD", "EUR", "GBP", "XXX", null)
    val quotes = (1 to 80).map { i =>
      val day = 1 + rnd.nextInt(28)
      (s"T$i", Timestamp.valueOf(f"2025-01-$day%02d 10:00:00"),
        currencies(rnd.nextInt(currencies.length)), rnd.nextInt(10000) / 100.0)
    }.toDF("ticker", "timestamp_utc", "original_currency", "close")
    val fx = Seq(
      FxRate("EUR", "USD", Date.valueOf("2025-01-05"), 1.1),
      FxRate("GBP", "USD", Date.valueOf("2025-01-05"), 1.3)).toDF()
    val out = CurrencyConverter.convert(quotes, fx, "USD")
      .select($"original_currency", $"timestamp_utc", $"close", $"close_usd").collect()
    out.foreach { r =>
      val ccy = r.getString(0)
      val isRateDay = r.getTimestamp(1).toString.startsWith("2025-01-05")
      if (ccy == "USD") assert(r.getDouble(3) == r.getDouble(2), "identity broken")
      else if (ccy == "EUR" && isRateDay) assert(r.getDouble(3) == r.getDouble(2) * 1.1)
      else if (ccy == "GBP" && isRateDay) assert(r.getDouble(3) == r.getDouble(2) * 1.3)
      else assert(r.isNullAt(3), s"missing rate must yield null, got $r")
    }
  }

  test("property: unpivot emits rows × tickers and preserves every value") {
    (1 to 3).foreach { trial =>
      val nRows = 5 + rnd.nextInt(20)
      val tickers = (1 to 2 + rnd.nextInt(4)).map(i => s"T$i")
      val data = (1 to nRows).map { i =>
        (Timestamp.valueOf(f"2025-03-01 ${i % 24}%02d:00:00"), i) // unique ts per row
      }
      val wide = tickers.foldLeft(data.toDF("ts", "i")) { (df, t) =>
        df.withColumn(s"$t:Close", $"i" * lit(tickers.indexOf(t) + 1.0))
      }.drop("i")
      val long = Standardizer.unpivotWide(wide)
      assert(long.count() == nRows.toLong * tickers.size, s"trial $trial wrong fanout")
      val sums = long.groupBy($"ticker").agg(sum($"Close").as("s"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val base = (1 to nRows).map(_.toDouble).sum
      tickers.foreach { t =>
        assert(sums(t) == base * (tickers.indexOf(t) + 1), s"trial $trial value loss for $t")
      }
    }
  }
}
