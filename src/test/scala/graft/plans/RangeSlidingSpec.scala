package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

class RangeSlidingSpec extends SparkSuite {
  import spark.implicits._

  GlobalRank.ensureRegistered(spark)

  private def corpus(seed: Long, n: Int) = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      val k: Option[Long] = if (rnd.nextInt(25) == 0) None else Some(rnd.nextInt(40).toLong)
      val v: Option[Double] =
        if (rnd.nextInt(6) == 0) None else Some((rnd.nextInt(200000) - 100000) / 100.0)
      (i.toLong, k, v)
    }.toDF("id", "k", "x")
      .withColumn("d", col("x").cast("decimal(12,2)"))
      .withColumn("l", col("x").cast("long"))
  }

  private def planOf(d: DataFrame): String = d.queryExecution.executedPlan.toString

  private def stock[A](body: => A): A = {
    spark.conf.set(RangeSlidingRule.EnabledKey, "false")
    try body finally spark.conf.unset(RangeSlidingRule.EnabledKey)
  }

  private def rawSqlCase(seed: Long, w: Long, withLong: Boolean): Unit = {
    val df = corpus(seed, 1100)
    df.createOrReplaceTempView("rs_t")
    val longLane = if (withLong) "SUM(l) OVER win AS sl," else ""
    val sql =
      s"""SELECT id,
                SUM(d) OVER win AS sd,
                $longLane
                COUNT(d) OVER win AS cd,
                COUNT(*) OVER win AS cs
         FROM rs_t
         WINDOW win AS (ORDER BY k RANGE BETWEEN $w PRECEDING AND CURRENT ROW)"""
    val viaRule = spark.sql(sql)
    assert(planOf(viaRule).contains("GlobalRank"),
      s"w=$w did not rewrite:\n${planOf(viaRule)}")
    assert(!planOf(viaRule).contains("Window ("),
      "no stock Window node may survive")
    def m(d: DataFrame) = d.collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1).map(String.valueOf)).toMap
    val got = m(viaRule)
    val want = stock {
      val d = spark.sql(sql)
      assert(!planOf(d).contains("GlobalRank"))
      m(d.localCheckpoint())
    }
    val bad = got.keys.filter(k => got(k) != want(k)).take(3)
      .map(k => s"id=$k got=${got(k)} want=${want(k)}")
    assert(bad.isEmpty, s"seed=$seed w=$w diverged: ${bad.mkString("; ")}")
  }

  test("raw-SQL RANGE n PRECEDING decimal sum/count match the kill-switched stock Window") {
    // session default (Spark 4 = ANSI): decimal sums + counts rewrite
    for ((seed, w) <- Seq((5L, 0L), (13L, 4L), (29L, 150L)))
      rawSqlCase(seed, w, withLong = false)
  }

  test("raw-SQL RANGE n PRECEDING long sums rewrite under LEGACY arithmetic") {
    // integral sums rest on wrap-around difference algebra — legacy only
    val before = spark.conf.getOption("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      for ((seed, w) <- Seq((17L, 4L), (31L, 25L)))
        rawSqlCase(seed, w, withLong = true)
    } finally before match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("DataFrame rangeBetween rides the same rewrite; null keys keep peer-group frames") {
    val df = corpus(43L, 900)
    val sw = org.apache.spark.sql.expressions.Window.orderBy(col("k")).rangeBetween(-7L, 0)
    def shape(d: DataFrame) = d
      .withColumn("sd", sum(col("d")).over(sw))
      .withColumn("cd", count(col("d")).over(sw))
      .select("id", "sd", "cd")
    val viaRule = shape(df)
    assert(planOf(viaRule).contains("GlobalRank"))
    def m(d: DataFrame) = d.collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1).map(String.valueOf)).toMap
    val got = m(viaRule)
    val want = stock(m(shape(df).localCheckpoint()))
    assert(got == want, "rangeBetween diverged from the stock Window")
    // null keys exist in this corpus (1/25): their frames ARE their null
    // peer group — already covered by the equality, assert they are there
    assert(df.filter(col("k").isNull).count() > 0)
  }

  test("scope: ANSI, fp sums, min/max, mixed widths stay stock; DESC canonicalizes") {
    val df = corpus(7L, 200)
    df.createOrReplaceTempView("rs_scope")
    def rewrote(sql: String): Boolean = planOf(spark.sql(sql)).contains("GlobalRank")
    // fp sum: prefix cancellation veto
    assert(!rewrote("""SELECT SUM(x) OVER (ORDER BY k RANGE BETWEEN 3 PRECEDING
      AND CURRENT ROW) FROM rs_scope"""))
    // min/max: no inverse — not THIS rule's food (they ride
    // RangeMinMaxRule's block decomposition, which never uses GlobalRank)
    assert(!rewrote("""SELECT MIN(d) OVER (ORDER BY k RANGE BETWEEN 3 PRECEDING
      AND CURRENT ROW) FROM rs_scope"""))
    // a MIXED sum+max node is no longer a veto: RangeMinMaxRule's split
    // peels the extrema and leaves the sums to this rule (round 10) —
    // correctness pinned in RowsFollowingSpec's mixed tests
    assert(rewrote("""SELECT SUM(d) OVER win, MAX(d) OVER win FROM rs_scope
      WINDOW win AS (ORDER BY k RANGE BETWEEN 3 PRECEDING AND CURRENT ROW)"""))
    // but an unsupported sibling (fp sum) still vetoes the whole node
    assert(!rewrote("""SELECT SUM(d) OVER win, SUM(x) OVER win FROM rs_scope
      WINDOW win AS (ORDER BY k RANGE BETWEEN 3 PRECEDING AND CURRENT ROW)"""))
    // DESC ordering: the threshold arithmetic assumes ASC NULLS FIRST —
    // DescOrderRule (round 11) canonicalizes the order first, then this
    // rule fires (bit-equality pinned in DescOrderSpec)
    assert(rewrote("""SELECT SUM(d) OVER (ORDER BY k DESC RANGE BETWEEN 3
      PRECEDING AND CURRENT ROW) FROM rs_scope"""))
    // ANSI long sum: a running prefix may overflow where every frame fits
    val before = spark.conf.getOption("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      assert(!rewrote("""SELECT SUM(l) OVER (ORDER BY k RANGE BETWEEN 3
        PRECEDING AND CURRENT ROW) FROM rs_scope"""))
    } finally before match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("raw-SQL AVG(DECIMAL) over RANGE n PRECEDING matches the stock Window bit-for-bit") {
    // the emission rides Spark's OWN Average.evaluateExpression with the
    // frame sum/count substituted — decimal division + single HALF_UP
    // rounding must be identical, including high-precision inputs
    for ((seed, w, prec) <- Seq((9L, 0L, "decimal(12,2)"), (21L, 5L, "decimal(12,2)"),
      (33L, 40L, "decimal(38,10)"))) {
      val df = corpus(seed, 1000).withColumn("hd", col("x").cast(prec))
      df.createOrReplaceTempView("rs_avg")
      val sql =
        s"""SELECT id, AVG(hd) OVER win AS av, AVG(d) OVER win AS av2
           FROM rs_avg
           WINDOW win AS (ORDER BY k RANGE BETWEEN $w PRECEDING AND CURRENT ROW)"""
      val viaRule = spark.sql(sql)
      assert(planOf(viaRule).contains("GlobalRank"),
        s"avg w=$w did not rewrite:\n${planOf(viaRule)}")
      def m(d: DataFrame) = d.collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1).map(String.valueOf)).toMap
      val got = m(viaRule)
      val want = stock(m(spark.sql(sql).localCheckpoint()))
      val bad = got.keys.filter(k => got(k) != want(k)).take(3)
        .map(k => s"id=$k got=${got(k)} want=${want(k)}")
      assert(bad.isEmpty, s"seed=$seed w=$w $prec diverged: ${bad.mkString("; ")}")
    }
  }

  test("raw-SQL centered frames (n PRECEDING AND m FOLLOWING) match the stock Window") {
    for ((seed, w, m) <- Seq((15L, 4L, 3L), (27L, 0L, 6L), (51L, 9L, 9L))) {
      val df = corpus(seed, 900)
      df.createOrReplaceTempView("rs_cent")
      val sql =
        s"""SELECT id,
                  SUM(d) OVER win AS sd,
                  COUNT(d) OVER win AS cd,
                  COUNT(*) OVER win AS cs,
                  AVG(d) OVER win AS av
           FROM rs_cent
           WINDOW win AS (ORDER BY k RANGE BETWEEN $w PRECEDING AND $m FOLLOWING)"""
      val viaRule = spark.sql(sql)
      assert(planOf(viaRule).contains("GlobalRank"),
        s"w=$w m=$m did not rewrite:\n${planOf(viaRule)}")
      def rows(d: DataFrame) = d.collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1).map(String.valueOf)).toMap
      val got = rows(viaRule)
      val want = stock(rows(spark.sql(sql).localCheckpoint()))
      val bad = got.keys.filter(k => got(k) != want(k)).take(3)
        .map(k => s"id=$k got=${got(k)} want=${want(k)}")
      assert(bad.isEmpty, s"seed=$seed w=$w m=$m diverged: ${bad.mkString("; ")}")
    }
  }

  test("DataFrame rangeBetween FOLLOWING frames match the stock Window; edges clamp") {
    val df = corpus(63L, 800)
    val (w, m) = (5L, 3L)
    val sw = org.apache.spark.sql.expressions.Window
      .orderBy(col("k")).rangeBetween(-w, m)
    def shape(d: DataFrame) = d
      .withColumn("fs", sum(col("d")).over(sw))
      .withColumn("fc", count(col("d")).over(sw))
      .withColumn("fa", avg(col("d")).over(sw))
      .select("id", "fs", "fc", "fa")
    def rows(d: DataFrame) = d.collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1).map(String.valueOf)).toMap
    val viaRule = shape(df)
    assert(planOf(viaRule).contains("GlobalRank"), planOf(viaRule))
    assert(rows(viaRule) == stock(rows(shape(df).localCheckpoint())),
      "rangeBetween(-w, m) diverged from the stock Window")
    // BIGINT edges: clamped thresholds match unbounded-integer math
    val ks = Seq(Long.MinValue, Long.MinValue + 2, -1L, 3L,
      Long.MaxValue - 4, Long.MaxValue)
    val edges = ks.zipWithIndex.map { case (k, i) => (i.toLong, k, BigDecimal(i + 1)) }
    val edf = edges.toDF("id", "k", "d").withColumn("d", col("d").cast("decimal(12,2)"))
    val expect = edges.map { case (id, k, _) =>
      val (lo, hi) = (BigInt(k) - w, BigInt(k) + m)
      id -> edges.collect { case (_, k2, v) if BigInt(k2) >= lo && BigInt(k2) <= hi => v }.sum
    }.toMap
    val edgeRule = edf.withColumn("fs", sum(col("d")).over(sw)).select("id", "fs")
    assert(planOf(edgeRule).contains("GlobalRank"), planOf(edgeRule))
    val egot = edgeRule.collect()
      .map(r => r.getLong(0) -> BigDecimal(r.getDecimal(1))).toMap
    assert(egot == expect, s"edges: got=$egot want=$expect")
  }

  test("BIGINT-floor keys: guarded ghosts clamp the frame instead of wrapping") {
    val w = 5L
    val rows = Seq(Long.MinValue, Long.MinValue + 1, Long.MinValue + 3,
      Long.MinValue + 10, -3L, 0L, 7L).zipWithIndex.map { case (k, i) =>
      (i.toLong, k, BigDecimal(i + 1)) }
    val df = rows.toDF("id", "k", "d")
      .withColumn("d", col("d").cast("decimal(12,2)"))
    // expected frames via unbounded-integer math: a threshold below
    // Long.MinValue means the frame holds every representable key ≤ k
    val expect = rows.map { case (id, k, _) =>
      val lo = BigInt(k) - w
      id -> rows.collect { case (_, k2, v) if BigInt(k2) >= lo && k2 <= k => v }.sum
    }.toMap
    val sw = org.apache.spark.sql.expressions.Window
      .orderBy(col("k")).rangeBetween(-w, 0)
    val viaRule = df.withColumn("sd", sum(col("d")).over(sw)).select("id", "sd")
    assert(planOf(viaRule).contains("GlobalRank"), planOf(viaRule))
    val got = viaRule.collect()
      .map(r => r.getLong(0) -> BigDecimal(r.getDecimal(1))).toMap
    assert(got == expect, s"rule path: got=$got want=$expect")
    // a width at the representable edge (w + 1 would overflow) stays stock
    df.createOrReplaceTempView("rs_floor")
    assert(!planOf(spark.sql(
      """SELECT SUM(d) OVER (ORDER BY k RANGE BETWEEN 9223372036854775807
        PRECEDING AND CURRENT ROW) FROM rs_floor""")).contains("GlobalRank"))
  }

  test("two-width query: every window node leaves the cliff (both rewrite)") {
    val df = corpus(71L, 600)
    df.createOrReplaceTempView("rs_two")
    val sql = """SELECT id,
        SUM(d) OVER (ORDER BY k RANGE BETWEEN 3 PRECEDING AND CURRENT ROW) AS s3,
        SUM(d) OVER (ORDER BY k RANGE BETWEEN 9 PRECEDING AND CURRENT ROW) AS s9
      FROM rs_two"""
    val viaRule = spark.sql(sql)
    def m(d: DataFrame) = d.collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1).map(String.valueOf)).toMap
    val got = m(viaRule)
    val want = stock(m(spark.sql(sql).localCheckpoint()))
    assert(got == want)
    // Spark plans the two specs as separate Window nodes; whether each
    // rewrote or stayed stock, the results above must agree — and at least
    // one distributed rank exec should appear if any node rewrote
    info(s"two-width plan rewrote: ${planOf(viaRule).contains("GlobalRank")}")
  }
}
