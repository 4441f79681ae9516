package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** DESC / NULLS LAST global orders: the RANGE families ride the
  * ASC-NULLS-FIRST canonicalization (bitwise-NOT key), every other family
  * takes the order as written — bit-equality vs the kill-switched stock
  * Window across frame shapes, null placements, and ties; plus the scope
  * rejections.
  */
class DescOrderSpec extends SparkSuite {
  import spark.implicits._

  GlobalRank.ensureRegistered(spark)

  private val allKeys = Seq(GlobalRankRule.EnabledKey,
    RangeSlidingRule.EnabledKey, RangeMinMaxRule.EnabledKey,
    RowsFollowingRule.EnabledKey, DescOrderRule.EnabledKey)

  private def stock[A](body: => A): A = {
    allKeys.foreach(spark.conf.set(_, "false"))
    try body finally allKeys.foreach(spark.conf.unset)
  }

  /** id unique (output join key); k a tied, NULLABLE BIGINT order key;
    * d a nullable decimal value.
    */
  private def corpus(seed: Long, n: Int) = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      val k: Option[Long] =
        if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(120).toLong)
      val v: Option[Double] =
        if (rnd.nextInt(6) == 0) None else Some((rnd.nextInt(200000) - 100000) / 100.0)
      (i.toLong, k, v)
    }.toDF("id", "k", "x")
      .withColumn("d", col("x").cast("decimal(12,2)"))
  }

  private def cliffFree(d: DataFrame): Boolean =
    PlanChecks.unboundedGlobalWindows(d).isEmpty

  private def compare(sql: String, label: String): Unit = {
    val viaRule = spark.sql(sql)
    assert(cliffFree(viaRule),
      s"$label did not leave the cliff:\n${viaRule.queryExecution.executedPlan}")
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

  test("DESC RANGE sliding sum/count/avg (ghost probes over the NOT key)") {
    for ((seed, n, mm) <- Seq((3L, 6L, 0L), (19L, 4L, 3L))) {
      corpus(seed, 900).createOrReplaceTempView("do_rng")
      val end = if (mm == 0L) "CURRENT ROW" else s"$mm FOLLOWING"
      compare(
        s"""SELECT id, SUM(d) OVER w AS sd, COUNT(d) OVER w AS cd,
                  AVG(d) OVER w AS av
           FROM do_rng
           WINDOW w AS (ORDER BY k DESC RANGE BETWEEN $n PRECEDING AND $end)""",
        s"desc-range seed=$seed n=$n m=$mm")
    }
  }

  test("DESC RANGE sliding min/max (block decomposition) and the mixed node") {
    corpus(7L, 800).createOrReplaceTempView("do_mm")
    compare(
      """SELECT id, MIN(d) OVER w AS mn, MAX(d) OVER w AS mx
         FROM do_mm
         WINDOW w AS (ORDER BY k DESC RANGE BETWEEN 5 PRECEDING AND 2 FOLLOWING)""",
      "desc-minmax")
    compare(
      """SELECT id, MIN(d) OVER w AS mn, SUM(d) OVER w AS sd,
                COUNT(*) OVER w AS cs
         FROM do_mm
         WINDOW w AS (ORDER BY k DESC RANGE BETWEEN 5 PRECEDING AND 2 FOLLOWING)""",
      "desc-mixed")
  }

  test("DESC ROWS frames over a total order (via the running-count linearization)") {
    corpus(11L, 700).createOrReplaceTempView("do_rows")
    compare(
      """SELECT id, SUM(d) OVER w AS sd, MIN(d) OVER w AS mn,
              MAX(d) OVER w AS mx, COUNT(*) OVER w AS cs
         FROM do_rows
         WINDOW w AS (ORDER BY id DESC ROWS BETWEEN 6 PRECEDING AND 3 FOLLOWING)""",
      "desc-rows")
    // multi-column DESC (tied leading key + unique tiebreak, both DESC)
    compare(
      """SELECT id, SUM(d) OVER w AS sd
         FROM do_rows
         WINDOW w AS (ORDER BY k DESC, id DESC ROWS BETWEEN 4 PRECEDING AND 2 FOLLOWING)""",
      "desc-rows-multi")
  }

  test("DESC running prefixes and rank functions, both null placements") {
    corpus(23L, 900).createOrReplaceTempView("do_run")
    // running sum/count are peer-inclusive (RANGE default) — deterministic
    // on ties; nulls sit LAST (DESC default), so their prefix is the whole
    // corpus: placement matters, and GlobalRankRule keeps the order as
    // written
    compare(
      """SELECT id, SUM(d) OVER w AS sd, COUNT(d) OVER w AS cd
         FROM do_run
         WINDOW w AS (ORDER BY k DESC)""",
      "desc-running")
    compare(
      """SELECT id, RANK() OVER w AS rk, DENSE_RANK() OVER w AS dr,
              PERCENT_RANK() OVER w AS pr
         FROM do_run
         WINDOW w AS (ORDER BY k DESC)""",
      "desc-ranks")
    // explicit NULLS FIRST under DESC (non-default placement)
    compare(
      """SELECT id, RANK() OVER w AS rk, SUM(d) OVER w AS sd
         FROM do_run
         WINDOW w AS (ORDER BY k DESC NULLS FIRST)""",
      "desc-nulls-first")
    // ASC NULLS LAST
    compare(
      """SELECT id, RANK() OVER w AS rk, SUM(d) OVER w AS sd
         FROM do_run
         WINDOW w AS (ORDER BY k ASC NULLS LAST)""",
      "asc-nulls-last")
    // DESC shift family: latest-first lag/lead over the total key
    compare(
      """SELECT id, LAG(d, 2) OVER w AS lg, LEAD(d, 3) OVER w AS ld
         FROM do_run
         WINDOW w AS (ORDER BY id DESC)""",
      "desc-shift")
  }

  test("DESC DATE / TIMESTAMP keys ride through their BIGINT images") {
    val rnd = new scala.util.Random(37L)
    val rows = (1 to 700).map { i =>
      val day: Option[Int] = if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(400))
      val v: Option[Double] =
        if (rnd.nextInt(6) == 0) None else Some((rnd.nextInt(200000) - 100000) / 100.0)
      (i.toLong, day, v)
    }
    rows.toDF("id", "dayoff", "x")
      .withColumn("d", col("x").cast("decimal(12,2)"))
      .withColumn("dt", date_add(lit("2024-01-01").cast("date"), col("dayoff")))
      .withColumn("ts", timestamp_micros(
        unix_micros(to_timestamp(col("dt"))) + col("id") * 1000000L))
      .createOrReplaceTempView("do_dt")
    // timestamp DESC + unique tiebreak: a total order, ROWS-FOLLOWING food
    compare(
      """SELECT id, SUM(d) OVER w AS sd, MIN(d) OVER w AS mn,
              COUNT(*) OVER w AS cs
         FROM do_dt
         WINDOW w AS (ORDER BY ts DESC, id DESC
                      ROWS BETWEEN 6 PRECEDING AND 3 FOLLOWING)""",
      "desc-ts-rows")
    // date DESC (tied, nullable) — running prefixes + ranks, nulls LAST
    compare(
      """SELECT id, SUM(d) OVER w AS sd, RANK() OVER w AS rk
         FROM do_dt
         WINDOW w AS (ORDER BY dt DESC)""",
      "desc-date-running")
    // date DESC (tied, nullable) RANGE frame: integer bounds count days,
    // so the day-number image carries the offsets
    compare(
      """SELECT id, SUM(d) OVER w AS sd, MAX(d) OVER w AS mx
         FROM do_dt
         WINDOW w AS (ORDER BY dt DESC RANGE BETWEEN 6 PRECEDING AND 2 FOLLOWING)""",
      "desc-date-range")
  }

  test("scope: non-integral DESC keys and the kill-switch stay stock") {
    corpus(31L, 200)
      .withColumn("s", concat(lit("v"), col("id")))
      .createOrReplaceTempView("do_scope")
    def rewrote(sql: String): Boolean = cliffFree(spark.sql(sql))
    // a value-bounded RANGE frame over a DOUBLE DESC key: fp has no
    // monotone total BIGINT image, so the node must stay stock
    assert(!rewrote("""SELECT SUM(d) OVER (ORDER BY x DESC RANGE BETWEEN 3
      PRECEDING AND CURRENT ROW) FROM do_scope"""))
    // a ROWS frame over a STRING DESC key needs no canonicalization at all:
    // RowsFollowingRule's cascade is direction-agnostic and takes it, as
    // GlobalRankRule takes e.g. `RANK() OVER (ORDER BY s DESC)`
    compare("""SELECT id, SUM(d) OVER (ORDER BY s DESC ROWS BETWEEN 3
      PRECEDING AND 2 FOLLOWING) AS sd FROM do_scope""", "string-desc-rows")
    // kill-switch restores the stock plan for a shape only this rule
    // enables (a DESC RANGE frame needs the canonical order first)
    val q = """SELECT SUM(d) OVER (ORDER BY k DESC RANGE BETWEEN 3
      PRECEDING AND 2 FOLLOWING) FROM do_scope"""
    spark.conf.set(DescOrderRule.EnabledKey, "false")
    try assert(!rewrote(q))
    finally spark.conf.unset(DescOrderRule.EnabledKey)
    // and enabled, the same text rewrites
    assert(rewrote(q))
  }
}
