package graft.sources


import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}

/** Storage-layout proofs: partition pruning actually prunes, bucketed joins
  * actually skip the exchange, salted joins preserve semantics.
  */
class LayoutSpec extends SparkSuite {

  private lazy val work = tempDir("graft_layout")

  test("partitioned sink: date filter prunes partitions at the scan") {
    val path = s"$work/events_by_day"
    val ev = Tables(spark, sf001, "events")
      .withColumn("dt", to_date(col("ts")))
    Layout.writePartitioned(ev, path, Seq("dt"))
    val days = spark.read.parquet(path).select("dt").distinct().count()
    assert(days > 1)
    val one = spark.read.parquet(path).filter(col("dt") === "2024-01-05")
    val p = one.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters"), p)
    // pruned scan must read a single partition directory
    val scanned = one.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(scanned.nonEmpty && scanned.head == 1,
      s"expected 1 partition scanned, got $scanned of $days")
  }

  test("bucketed tables: co-located join plans with zero exchanges") {
    val o = Tables(spark, sf001, "orders")
    val li = Tables(spark, sf001, "lineitem")
    // the in-memory catalog is per-JVM but the warehouse dir persists:
    // remove orphan locations from previous runs before recreating
    Seq("orders_b", "lineitem_b").foreach { tbl =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val p = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + s"/$tbl")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    Layout.writeBucketed(o, "orders_b", 4, Seq("o_orderkey"), Seq("o_orderkey"))
    Layout.writeBucketed(li, "lineitem_b", 4, Seq("l_orderkey"), Seq("l_orderkey"))
    val joined = spark.table("lineitem_b")
      .join(spark.table("orders_b").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .select("o_orderkey", "l_linenumber", "l_extendedprice")
    val p = joined.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange"), "bucketed join still shuffles:\n" + p)
    // and it computes the same thing as the unbucketed join
    val expected = li.join(o, col("l_orderkey") === col("o_orderkey")).count()
    assert(joined.count() == expected)
  }

  test("z-order: file envelopes prune on EVERY dimension; a linear sort only on its own") {
    val ev = Tables(spark, sf001, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val b = ev.agg(min("user_id"), max("user_id"), min("us"), max("us")).collect().head
    val (minU, maxU, minT, maxT) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val files = 8
    val timeSorted = s"$work/ev_time_sorted"
    val zOrdered = s"$work/ev_zordered"
    ev.repartitionByRange(files, col("us")).sortWithinPartitions(col("us"))
      .write.mode("overwrite").parquet(timeSorted)
    Layout.writeZOrdered(ev, zOrdered, Seq(
      "us" -> (minT.toDouble, maxT.toDouble),
      "user_id" -> (minU.toDouble, maxU.toDouble)), files)
    // Per-file min/max envelopes = what parquet footer stats give the scan.
    def envelopes(path: String) = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min("user_id").as("u0"), max("user_id").as("u1"),
        min("us").as("t0"), max("us").as("t1"))
      .collect()
    val linear = envelopes(timeSorted)
    val zed = envelopes(zOrdered)
    assert(linear.length == files && zed.length == files)
    // a mid-range user box ~10% of the user universe
    val (uLo, uHi) = (minU + (maxU - minU) / 2, minU + (maxU - minU) * 6 / 10)
    def userHits(env: Array[org.apache.spark.sql.Row]) =
      env.count(r => r.getAs[Long]("u0") <= uHi && r.getAs[Long]("u1") >= uLo)
    // a 3-day time box in the middle of the month
    val (tLo, tHi) = (minT + (maxT - minT) / 2, minT + (maxT - minT) / 2 + 3L * 86400000000L)
    def timeHits(env: Array[org.apache.spark.sql.Row]) =
      env.count(r => r.getAs[Long]("t0") <= tHi && r.getAs[Long]("t1") >= tLo)
    // the time-sorted layout cannot prune the user dimension at all...
    assert(userHits(linear) == files,
      s"fixture too sparse for the comparison: ${userHits(linear)}")
    // ...the z-ordered layout prunes BOTH dimensions
    assert(userHits(zed) < files, s"z-order failed to prune the user dim: ${userHits(zed)}/$files")
    assert(timeHits(zed) < files, s"z-order failed to prune the time dim: ${timeHits(zed)}/$files")
    // layout must not change the data
    val q = (p: String) => spark.read.parquet(p)
      .filter(col("user_id").between(uLo, uHi) && col("us").between(tLo, tHi)).count()
    assert(q(zOrdered) == q(timeSorted))
    assert(spark.read.parquet(zOrdered).count() == ev.count())
  }

  test("salted join equals the plain join") {
    val li = Tables(spark, sf001, "lineitem")
    val supp = Tables(spark, sf001, "supplier")
    val plain = li.join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name").agg(count(lit(1)).as("n"))
    val salted = Layout.saltedEquiJoin(
        li.withColumnRenamed("l_suppkey", "s_suppkey"), supp,
        keys = Seq("s_suppkey"), buckets = 8,
        saltSource = col("l_orderkey") * 10 + col("l_linenumber"))
      .groupBy("s_name").agg(count(lit(1)).as("n"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }
}
