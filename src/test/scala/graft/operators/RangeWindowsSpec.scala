package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

class RangeWindowsSpec extends SparkSuite {
  import spark.implicits._

  private def corpus(seed: Long, n: Int) = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      val v: Option[Double] =
        if (rnd.nextInt(6) == 0) None else Some((rnd.nextInt(200000) - 100000) / 100.0)
      (i.toLong, rnd.nextInt(40).toLong, v)
    }.toDF("id", "k", "x")
      .withColumn("v", col("x").cast("decimal(12,2)")).drop("x")
  }

  test("rowsSlidingAll: all five families match the stock ROWS window bit-for-bit") {
    def allStock[A](body: => A): A = {
      val keys = Seq(graft.plans.GlobalRankRule.EnabledKey,
        graft.plans.RangeSlidingRule.EnabledKey,
        graft.plans.RangeMinMaxRule.EnabledKey,
        graft.plans.RowsFollowingRule.EnabledKey,
        graft.plans.DescOrderRule.EnabledKey)
      keys.foreach(spark.conf.set(_, "false"))
      try body finally keys.foreach(spark.conf.unset)
    }
    // edge shapes included: tiny corpora where the tail patch covers
    // everything (size <= m), frames wider than the corpus, nulls
    for ((seed, size, n, m) <- Seq((3L, 900, 6L, 3L), (17L, 900, 0L, 5L),
      (29L, 12, 4L, 3L), (31L, 2, 6L, 3L), (41L, 700, 9L, 9L))) {
      // unique id = the total order (the contract)
      val df = corpus(seed, size)
      val got = RangeWindows
        .rowsSlidingAll(df, Seq("id"), Seq(col("id")), n, m, "v", "v")
        .collect().map(r => r.getLong(0) -> r.toSeq.drop(1).map(String.valueOf))
        .toMap
      val sw = org.apache.spark.sql.expressions.Window
        .orderBy(col("id")).rowsBetween(-n, m)
      val want = allStock {
        df.withColumn("frame_sum", sum(col("v")).over(sw))
          .withColumn("frame_cnt", count(lit(1)).over(sw))
          .withColumn("frame_avg", avg(col("v")).over(sw))
          .withColumn("frame_min", min(col("v")).over(sw))
          .withColumn("frame_max", max(col("v")).over(sw))
          .select("id", "frame_sum", "frame_cnt", "frame_avg",
            "frame_min", "frame_max")
          .collect().map(r => r.getLong(0) -> r.toSeq.drop(1).map(String.valueOf))
          .toMap
      }
      val bad = got.keys.filter(k => got(k) != want(k)).take(3)
        .map(k => s"id=$k got=${got(k)} want=${want(k)}")
      assert(bad.isEmpty, s"seed=$seed n=$n m=$m diverged: ${bad.mkString("; ")}")
      assert(got.size == want.size)
    }
  }

  test("rowsSlidingAll: DESC / multi-column total orders match the stock window") {
    def allStock[A](body: => A): A = {
      val keys = Seq(graft.plans.GlobalRankRule.EnabledKey,
        graft.plans.RangeSlidingRule.EnabledKey,
        graft.plans.RangeMinMaxRule.EnabledKey,
        graft.plans.RowsFollowingRule.EnabledKey,
        graft.plans.DescOrderRule.EnabledKey)
      keys.foreach(spark.conf.set(_, "false"))
      try body finally keys.foreach(spark.conf.unset)
    }
    // the latest-first shape (e24b/e24c): a composite DESC order that is
    // total only through its tie-breaker column — the cascade's stages
    // (running count, trailing slide, lead) are all direction-agnostic
    // GlobalRank food, so the face must distribute it unchanged
    for ((seed, size, n, m, ords) <- Seq(
      (3L, 900, 6L, 3L, Seq(col("k").desc, col("id").desc)),
      (17L, 500, 4L, 2L, Seq(col("k"), col("id").desc)),
      (29L, 7, 6L, 3L, Seq(col("k").desc, col("id").desc)))) {
      val df = corpus(seed, size)
      val got = RangeWindows
        .rowsSlidingAll(df, Seq("id"), ords, n, m, "v", "v")
        .collect().map(r => r.getLong(0) -> r.toSeq.drop(1).map(String.valueOf))
        .toMap
      val sw = org.apache.spark.sql.expressions.Window
        .orderBy(ords: _*).rowsBetween(-n, m)
      val want = allStock {
        df.withColumn("frame_sum", sum(col("v")).over(sw))
          .withColumn("frame_cnt", count(lit(1)).over(sw))
          .withColumn("frame_avg", avg(col("v")).over(sw))
          .withColumn("frame_min", min(col("v")).over(sw))
          .withColumn("frame_max", max(col("v")).over(sw))
          .select("id", "frame_sum", "frame_cnt", "frame_avg",
            "frame_min", "frame_max")
          .collect().map(r => r.getLong(0) -> r.toSeq.drop(1).map(String.valueOf))
          .toMap
      }
      val bad = got.keys.filter(k => got(k) != want(k)).take(3)
        .map(k => s"id=$k got=${got(k)} want=${want(k)}")
      assert(bad.isEmpty, s"seed=$seed n=$n m=$m diverged: ${bad.mkString("; ")}")
      assert(got.size == want.size)
    }
  }

  test("rowsSlidingAll: reliableCheckpoint face bit-matches the localCheckpoint default") {
    val df = corpus(43L, 600)
    // without a checkpoint dir the option must refuse up front
    intercept[IllegalArgumentException](RangeWindows.rowsSlidingAll(
      df, Seq("id"), Seq(col("id")), 5L, 2L, "v", "v",
      reliableCheckpoint = true))
    val dir = java.nio.file.Files.createTempDirectory("graft_rwchk").toString
    spark.sparkContext.setCheckpointDir(dir)
    def m(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1).map(String.valueOf)).toMap
    val reliable = m(RangeWindows.rowsSlidingAll(
      df, Seq("id"), Seq(col("id")), 5L, 2L, "v", "v",
      reliableCheckpoint = true))
    val default = m(RangeWindows.rowsSlidingAll(
      df, Seq("id"), Seq(col("id")), 5L, 2L, "v", "v"))
    assert(reliable == default)
  }

  test("rowsSlidingAll: one GlobalRank cascade, no stock global Window, guardrails") {
    val df = corpus(7L, 400)
    val out = RangeWindows
      .rowsSlidingAll(df, Seq("id"), Seq(col("id")), 5L, 2L, "v", "v")
    assert(graft.plans.PlanChecks.unboundedGlobalWindows(out).isEmpty,
      "the face must not plan a one-task Window")
    intercept[IllegalArgumentException](
      RangeWindows.rowsSlidingAll(df, Seq("id"), Seq(col("id")), 5L, 0L, "v", "v"))
    intercept[IllegalArgumentException](
      RangeWindows.rowsSlidingAll(df, Seq("id"), Seq(col("id")), 1020L, 9L, "v", "v"))
    intercept[IllegalArgumentException](
      RangeWindows.rowsSlidingAll(df.withColumn("f", col("v").cast("double")),
        Seq("id"), Seq(col("id")), 5L, 2L, "f", "f"))
  }
}
