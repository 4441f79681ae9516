package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The sparse-block RANGE min/max rewrite: bit-equality vs the
  * kill-switched stock single-partition Window on randomized tied/null
  * corpora (PRECEDING-only and centered frames), the BIGINT domain edges
  * against unbounded-integer math, the DataFrame face, value-type breadth,
  * and the scope rejections.
  */
class RangeMinMaxSpec extends SparkSuite {
  import spark.implicits._

  GlobalRank.ensureRegistered(spark)

  private def stock[A](body: => A): A = {
    spark.conf.set(RangeMinMaxRule.EnabledKey, "false")
    spark.conf.set(RangeSlidingRule.EnabledKey, "false")
    try body finally {
      spark.conf.unset(RangeMinMaxRule.EnabledKey)
      spark.conf.unset(RangeSlidingRule.EnabledKey)
    }
  }

  private def corpus(seed: Long, n: Int) = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      val k: Option[Long] = if (rnd.nextInt(25) == 0) None else Some(rnd.nextInt(40).toLong)
      val v: Option[Double] =
        if (rnd.nextInt(6) == 0) None else Some((rnd.nextInt(200000) - 100000) / 100.0)
      (i.toLong, k, v)
    }.toDF("id", "k", "x")
      .withColumn("d", col("x").cast("decimal(12,2)"))
      .withColumn("s", col("x").cast("string"))
  }

  private def planOf(d: DataFrame): String = d.queryExecution.executedPlan.toString

  private def cliffFree(d: DataFrame): Boolean =
    PlanChecks.unboundedGlobalWindows(d).isEmpty

  private def compare(sql: String, label: String): Unit = {
    val viaRule = spark.sql(sql)
    assert(cliffFree(viaRule), s"$label did not leave the cliff:\n${planOf(viaRule)}")
    def m(d: DataFrame) = d.collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1).map(String.valueOf)).toMap
    val got = m(viaRule)
    val want = stock {
      val d = spark.sql(sql)
      assert(!cliffFree(d), s"$label twin must stay the stock global Window")
      m(d.localCheckpoint())
    }
    val bad = got.keys.filter(k => got(k) != want(k)).take(3)
      .map(k => s"id=$k got=${got(k)} want=${want(k)}")
    assert(bad.isEmpty, s"$label diverged: ${bad.mkString("; ")}")
    assert(got.size == want.size)
  }

  test("raw-SQL RANGE n PRECEDING min/max match the kill-switched stock Window") {
    for ((seed, w) <- Seq((3L, 0L), (19L, 4L), (53L, 39L), (67L, 500L))) {
      corpus(seed, 1100).createOrReplaceTempView("mm_t")
      compare(
        s"""SELECT id, MIN(d) OVER win AS mn, MAX(d) OVER win AS mx,
                  MIN(x) OVER win AS mnx, MAX(s) OVER win AS mxs
           FROM mm_t
           WINDOW win AS (ORDER BY k RANGE BETWEEN $w PRECEDING AND CURRENT ROW)""",
        s"seed=$seed w=$w")
    }
  }

  test("raw-SQL centered frames (n PRECEDING AND m FOLLOWING) match the stock Window") {
    for ((seed, w, m) <- Seq((5L, 3L, 2L), (29L, 0L, 4L), (43L, 7L, 7L))) {
      corpus(seed, 900).createOrReplaceTempView("mm_c")
      compare(
        s"""SELECT id, MIN(d) OVER win AS mn, MAX(d) OVER win AS mx
           FROM mm_c
           WINDOW win AS (ORDER BY k RANGE BETWEEN $w PRECEDING AND $m FOLLOWING)""",
        s"seed=$seed w=$w m=$m")
    }
  }

  test("BIGINT domain edges: clamped frames match unbounded-integer math") {
    // keys piled against both Long extremes, where the stock Window's own
    // boundary arithmetic wraps/throws — expected values computed in
    // BigInt, not via the stock twin
    val ks = Seq(Long.MinValue, Long.MinValue + 1, Long.MinValue + 3,
      Long.MinValue + 9, -5L, 0L, 11L, Long.MaxValue - 8, Long.MaxValue - 2,
      Long.MaxValue)
    val rows = ks.zipWithIndex.map { case (k, i) => (i.toLong, k, BigDecimal(i + 1)) }
    val df = rows.toDF("id", "k", "d")
      .withColumn("d", col("d").cast("decimal(12,2)"))
    for ((w, m) <- Seq((4L, 0L), (6L, 3L), (0L, 5L))) {
      val expect = rows.map { case (id, k, _) =>
        val (lo, hi) = (BigInt(k) - w, BigInt(k) + m)
        val in = rows.collect { case (_, k2, v) if BigInt(k2) >= lo && BigInt(k2) <= hi => v }
        id -> (in.min, in.max)
      }.toMap
      val sw = org.apache.spark.sql.expressions.Window
        .orderBy(col("k")).rangeBetween(-w, m)
      val out = df.withColumn("frame_min", min(col("d")).over(sw))
        .withColumn("frame_max", max(col("d")).over(sw))
      assert(cliffFree(out), s"w=$w m=$m did not leave the cliff:\n${planOf(out)}")
      val got = out.collect().map(r => r.getAs[Long]("id") ->
        ((BigDecimal(r.getAs[java.math.BigDecimal]("frame_min")),
          BigDecimal(r.getAs[java.math.BigDecimal]("frame_max"))))).toMap
      assert(got == expect, s"w=$w m=$m got=$got want=$expect")
    }
  }

  test("DataFrame rangeBetween min/max matches the stock Window; no cliff in its plan") {
    val df = corpus(71L, 1000)
    for ((w, m) <- Seq((5L, 0L), (3L, 4L))) {
      val sw = org.apache.spark.sql.expressions.Window
        .orderBy(col("k")).rangeBetween(-w, m)
      val out = df.withColumn("frame_min", min(col("d")).over(sw))
        .withColumn("frame_max", max(col("d")).over(sw))
      assert(cliffFree(out), planOf(out))
      val got = out.collect()
        .map(r => r.getAs[Long]("id") ->
          ((r.getAs[Any]("frame_min"), r.getAs[Any]("frame_max")))).toMap
      val want = stock {
        df.withColumn("mn", min(col("d")).over(sw))
          .withColumn("mx", max(col("d")).over(sw))
          .collect().map(r => r.getAs[Long]("id") ->
            (r.getAs[Any]("mn"), r.getAs[Any]("mx"))).toMap
      }
      assert(got.keys.forall(k => got(k) == want(k)),
        s"w=$w m=$m diverged: ${got.keys.filter(k => got(k) != want(k)).take(3)
          .map(k => s"id=$k got=${got(k)} want=${want(k)}").mkString("; ")}")
    }
  }

  test("scope: mixed MIN+SUM nodes and fp-key frames stay stock; DESC canonicalizes") {
    corpus(7L, 200).createOrReplaceTempView("mm_scope")
    def rewrote(sql: String): Boolean = cliffFree(spark.sql(sql))
    // one unsupported sibling vetoes the node (SUM is RangeSlidingRule
    // food, but a mixed node matches neither rule in full)
    assert(!rewrote("""SELECT MIN(d) OVER win, SUM(x) OVER win FROM mm_scope
      WINDOW win AS (ORDER BY k RANGE BETWEEN 3 PRECEDING AND CURRENT ROW)"""))
    // DESC ordering: the threshold arithmetic assumes ASC NULLS FIRST —
    // DescOrderRule (round 11) canonicalizes the order first, then this
    // rule fires (bit-equality pinned in DescOrderSpec)
    assert(rewrote("""SELECT MIN(d) OVER (ORDER BY k DESC RANGE BETWEEN 3
      PRECEDING AND CURRENT ROW) FROM mm_scope"""))
    // frame length at the representable edge stays stock
    assert(!rewrote("""SELECT MIN(d) OVER (ORDER BY k RANGE BETWEEN
      9223372036854775806 PRECEDING AND 1 FOLLOWING) FROM mm_scope"""))
  }
}
