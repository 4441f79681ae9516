package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The optimizer-driven distributed global rank: rewrite scope (fires
  * exactly on the lint's cliff shape), semantic parity with the stock
  * single-partition Window, SQL-standard ntile remainder rule, exprId
  * preservation, plan pins, and the raw-SQL surface.
  */
class GlobalRankSpec extends SparkSuite {
  import spark.implicits._

  GlobalRank.ensureRegistered(spark)

  // in-memory relations are leaves, so PlanChecks.bounded is false and the
  // rule treats them as corpus-scale input — exactly what the tests need
  private def corpus(n: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map(i => (i.toLong, rnd.nextInt(50).toLong, rnd.nextDouble()))
      .toDF("id", "score", "payload")
  }

  test("row_number over a total order matches a driver-side sort exactly") {
    val df = corpus(999, 1)
    val ranked = df.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("score"), col("id"))))
    val p = ranked.queryExecution.executedPlan.toString
    assert(p.contains("GlobalRank"), p)
    assert(!p.contains("Window"), "the single-partition Window must be gone:\n" + p)
    assert(p.contains("rangepartitioning"),
      "the exec must ride a range exchange (a global sort's envelope):\n" + p)
    val got = ranked.select(col("id"), col("rn")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = df.select(col("id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(t => (t._2, t._1)).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1) }.toMap
    assert(got == want)
  }

  test("ntile matches Spark's stock NTile bit-for-bit (bounded twin plans the stock Window)") {
    for (k <- Seq(1, 3, 7, 10, 64, 2000)) {
      val df = corpus(1003, k)
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"), col("id"))
      val viaExec = df.withColumn("bin", ntile(k).over(w))
      assert(viaExec.queryExecution.executedPlan.toString.contains("GlobalRank"))
      // dropDuplicates on the unique key bounds the input (Deduplicate →
      // Aggregate, the lint's rank-the-aggregate shape) without changing a
      // single row, so the SAME computation runs through Spark's own
      // single-partition Window
      val viaStock = df.dropDuplicates("id").withColumn("bin", ntile(k).over(w))
      val sp = viaStock.queryExecution.executedPlan.toString
      assert(sp.contains("Window") && !sp.contains("GlobalRank"),
        "bounded twin must keep the stock plan:\n" + sp)
      val got = viaExec.select("id", "bin").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val want = viaStock.select("id", "bin").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == want, s"ntile($k) diverged from the stock Window")
    }
  }

  test("both functions in one window node; downstream references resolve (exprIds kept)") {
    val df = corpus(500, 5)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"), col("id"))
    val both = df.withColumn("rn", row_number().over(w))
      .withColumn("bin", ntile(4).over(w))
      .filter(col("rn") <= 10) // reference ABOVE the rewritten node
      .orderBy(col("rn"))
    val p = both.queryExecution.executedPlan.toString
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    val rows = both.select(col("rn"), col("bin")).collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 10).toSeq)
    assert(rows.map(_.getInt(1)).forall(_ == 1)) // 500/4 = 125 ≥ 10 → all tile 1
  }

  test("raw SQL global ranking rewrites too") {
    corpus(400, 9).createOrReplaceTempView("gr_sql_corpus")
    val df = spark.sql(
      """SELECT id, row_number() OVER (ORDER BY score, id) AS rn,
                ntile(5) OVER (ORDER BY score, id) AS bin
         FROM gr_sql_corpus""")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    val got = df.orderBy("rn").select("rn").collect().map(_.getInt(0)).toSeq
    assert(got == (1 to 400).toSeq)
  }

  test("ties: ranks are a permutation of 1..n, monotone in the order key") {
    val df = corpus(600, 13) // score has heavy ties (50 distinct over 600)
    val ranked = df.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("score"))))
      .select(col("score"), col("rn")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(ranked.map(_._2).sorted.toSeq == (1 to 600).toSeq,
      "ranks must be a permutation of 1..n")
    assert(ranked.sortBy(_._2).map(_._1).toSeq ==
      ranked.map(_._1).sorted.toSeq,
      "rank order must follow the (non-total) order key")
  }

  test("rule scope: partitioned, bounded, unsupported, and mixed windows keep the stock plan") {
    val df = corpus(300, 21)
    val wPart = org.apache.spark.sql.expressions.Window
      .partitionBy(col("score")).orderBy(col("id"))
    val wGlob = org.apache.spark.sql.expressions.Window.orderBy(col("score"), col("id"))
    def planOf(d: DataFrame): String = d.queryExecution.executedPlan.toString
    // partitioned → untouched
    assert(!planOf(df.withColumn("rn", row_number().over(wPart))).contains("GlobalRank"))
    // bounded input (rank-the-aggregate) → untouched
    val agg = df.groupBy("score").count()
    assert(!planOf(agg.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("count"), col("score")))))
      .contains("GlobalRank"))
    // unsupported functions → untouched (the lint still owns them):
    // RANGE sliding frames need value arithmetic (ROWS sliding rewrites —
    // see the sliding tests), stddev/variance aren't matched
    val rangeFrame = org.apache.spark.sql.expressions.Window
      .orderBy(col("score")).rangeBetween(-2, 0)
    assert(!planOf(df.withColumn("s", sum(col("score")).over(rangeFrame))).contains("GlobalRank"))
    assert(!planOf(df.withColumn("a", stddev(col("payload")).over(wGlob))).contains("GlobalRank"))
    assert(!planOf(df.withColumn("a", var_samp(col("payload")).over(wGlob))).contains("GlobalRank"))
    // one unsupported sibling vetoes the whole node
    val mixed = df.withColumn("rn", row_number().over(wGlob))
      .withColumn("f", stddev(col("payload")).over(wGlob))
    assert(!planOf(mixed).contains("GlobalRank"))
    // ...while first/last, nth_value, and decimal avg — formerly on this
    // reject list — now rewrite (their parity suites live below)
    assert(planOf(df.withColumn("f", first(col("payload")).over(wGlob))
      .withColumn("nv", expr("nth_value(payload, 2)").over(wGlob))
      .withColumn("a", avg(col("score").cast("decimal(10,2)")).over(wGlob)))
      .contains("GlobalRank"))
  }

  test("rank/dense_rank/percent_rank are tie-exact vs the stock Window, chains included") {
    // heavy ties (few distinct scores over many rows) force tie runs to
    // span range-partition boundaries; nulls ride along as one peer group
    for (seed <- Seq(3L, 17L, 29L)) {
      val rnd = new scala.util.Random(seed)
      val df = (1 to 1200).map { i =>
        val s: Option[Long] = if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(6).toLong)
        (i.toLong, s)
      }.toDF("id", "score")
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"))
      val viaExec = df
        .withColumn("r", rank().over(w))
        .withColumn("d", dense_rank().over(w))
        .withColumn("p", percent_rank().over(w))
      assert(viaExec.queryExecution.executedPlan.toString.contains("GlobalRank"))
      val viaStock = df.dropDuplicates("id")
        .withColumn("r", rank().over(w))
        .withColumn("d", dense_rank().over(w))
        .withColumn("p", percent_rank().over(w))
      assert(!viaStock.queryExecution.executedPlan.toString.contains("GlobalRank"))
      // tie-aware values are deterministic even on this NON-total order —
      // peers share one value — so the per-id compare is exact
      def m(d: DataFrame) = d.select(col("id"), col("r"), col("d"), col("p"))
        .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap
      assert(m(viaExec) == m(viaStock), s"seed $seed: tie-aware ranks diverged")
    }
  }

  test("rank chain spanning whole partitions: one giant tie group") {
    // 2000 rows, ONE key → the tie run spans every range partition; rank
    // and dense_rank must be 1 everywhere, percent_rank 0.0
    val df = (1 to 2000).map(i => (i.toLong, 7L)).toDF("id", "score")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"))
    val got = df.withColumn("r", rank().over(w))
      .withColumn("d", dense_rank().over(w))
      .withColumn("p", percent_rank().over(w))
    assert(got.queryExecution.executedPlan.toString.contains("GlobalRank"))
    val rows = got.select("r", "d", "p").distinct().collect()
    assert(rows.length == 1 && rows.head.getInt(0) == 1 &&
      rows.head.getInt(1) == 1 && rows.head.getDouble(2) == 0.0)
    // single-row corpus: percent_rank is 0.0 by the total<=1 rule
    val one = Seq((1L, 5L)).toDF("id", "score")
      .withColumn("p", percent_rank().over(w))
    assert(one.collect().head.getAs[Double]("p") == 0.0)
  }

  test("cume_dist is tie-exact vs the stock Window, chains and nulls included") {
    // heavy ties force runs to span range-partition boundaries — the
    // FORWARD chain (run END) is the part the driver must stitch
    for (seed <- Seq(7L, 19L, 37L)) {
      val rnd = new scala.util.Random(seed)
      val df = (1 to 1100).map { i =>
        val s: Option[Long] = if (rnd.nextInt(25) == 0) None else Some(rnd.nextInt(5).toLong)
        (i.toLong, s)
      }.toDF("id", "score")
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"))
      val viaExec = df.withColumn("c", cume_dist().over(w))
      val p = viaExec.queryExecution.executedPlan.toString
      assert(p.contains("GlobalRank") && !p.contains("Window"), p)
      val viaStock = df.dropDuplicates("id").withColumn("c", cume_dist().over(w))
      assert(!viaStock.queryExecution.executedPlan.toString.contains("GlobalRank"))
      def m(d: DataFrame) = d.select(col("id"), col("c")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(m(viaExec) == m(viaStock), s"seed $seed: cume_dist diverged")
    }
    // one giant tie: every row's run end is the corpus end → cume 1.0
    val giant = (1 to 1500).map(i => (i.toLong, 7L)).toDF("id", "score")
      .withColumn("c", cume_dist().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("score"))))
    assert(giant.queryExecution.executedPlan.toString.contains("GlobalRank"))
    assert(giant.select("c").distinct().collect().map(_.getDouble(0)).toSeq == Seq(1.0))
  }

  test("running aggregates (RANGE default frame) are tie-exact vs the stock Window") {
    // sum/min/max/count over long + decimal: exact compares; the RANGE
    // frame is peer-INCLUSIVE, so tie runs spanning partitions must absorb
    // their forward chain (each partition's leading-run partials)
    for (seed <- Seq(11L, 43L)) {
      val rnd = new scala.util.Random(seed)
      val df = (1 to 1300).map { i =>
        val s: Option[Long] = if (rnd.nextInt(30) == 0) None else Some(rnd.nextInt(6).toLong)
        val v: Option[Long] = if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(1000).toLong - 500L)
        (i.toLong, s, v)
      }.toDF("id", "score", "v").withColumn("dv", col("v").cast("decimal(12,2)") / 4)
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"))
      def agged(d: DataFrame) = d
        .withColumn("s", sum(col("v")).over(w))
        .withColumn("sd", sum(col("dv")).over(w))
        .withColumn("mn", min(col("v")).over(w))
        .withColumn("mx", max(col("v")).over(w))
        .withColumn("c", count(col("v")).over(w))
        .withColumn("ca", count(lit(1)).over(w))
      val viaExec = agged(df)
      val p = viaExec.queryExecution.executedPlan.toString
      assert(p.contains("GlobalRank") && !p.contains("Window"), p)
      val viaStock = agged(df.dropDuplicates("id"))
      assert(!viaStock.queryExecution.executedPlan.toString.contains("GlobalRank"))
      def m(d: DataFrame) = d.select("id", "s", "sd", "mn", "mx", "c", "ca")
        .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      assert(m(viaExec) == m(viaStock), s"seed $seed: RANGE running aggregates diverged")
    }
  }

  test("running aggregates (ROWS frame) over a total order match the stock Window") {
    val rnd = new scala.util.Random(67)
    val df = (1 to 900).map { i =>
      val v: Option[Long] = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(100).toLong)
      (i.toLong, rnd.nextInt(40).toLong, v)
    }.toDF("id", "score", "v")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"), col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    def agged(d: DataFrame) = d
      .withColumn("s", sum(col("v")).over(w))
      .withColumn("mn", min(col("v")).over(w))
      .withColumn("c", count(col("v")).over(w))
    val viaExec = agged(df)
    val p = viaExec.queryExecution.executedPlan.toString
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    val viaStock = agged(df.dropDuplicates("id"))
    def m(d: DataFrame) = d.select("id", "s", "mn", "c")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(m(viaExec) == m(viaStock), "ROWS running aggregates diverged")
  }

  test("ROWS vs RANGE on ties: RANGE gives every peer the run-end value") {
    val df = Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 2L, 5L))
      .toDF("id", "score", "v")
    val base = org.apache.spark.sql.expressions.Window.orderBy(col("score"))
    val rows = base.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val d = df.withColumn("range_s", sum(col("v")).over(base))
      .withColumn("rows_s", sum(col("v")).over(rows))
      .orderBy("id")
    assert(d.queryExecution.executedPlan.toString.contains("GlobalRank"))
    val got = d.select("range_s", "rows_s").collect().map(r => (r.getLong(0), r.getLong(1)))
    // ids 1,2 tie on score=1: RANGE includes BOTH peers for both rows
    assert(got.toSeq == Seq((30L, 10L), (30L, 30L), (35L, 35L)), got.mkString(","))
  }

  test("avg and double-sum match the stock Window within fp tolerance") {
    // partition-partial merge order differs from the stock sequential fold,
    // so doubles compare with a relative tolerance (exact types are the
    // oracle-gated lane; see e15/c8c)
    val rnd = new scala.util.Random(71)
    val df = (1 to 800).map { i =>
      (i.toLong, rnd.nextInt(7).toLong, rnd.nextDouble() * 100 - 50)
    }.toDF("id", "score", "x")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"))
    def agged(d: DataFrame) = d
      .withColumn("s", sum(col("x")).over(w))
      .withColumn("a", avg(col("x")).over(w))
      .withColumn("ai", avg(col("id")).over(w))
    val viaExec = agged(df)
    assert(viaExec.queryExecution.executedPlan.toString.contains("GlobalRank"))
    val viaStock = agged(df.dropDuplicates("id"))
    def m(d: DataFrame) = d.select("id", "s", "a", "ai").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    val (ge, gs) = (m(viaExec), m(viaStock))
    assert(ge.keySet == gs.keySet)
    def close(x: Double, y: Double) = math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    ge.foreach { case (id, (s, a, ai)) =>
      val (s2, a2, ai2) = gs(id)
      assert(close(s, s2) && close(a, a2) && close(ai, ai2), s"id=$id: ($s,$a,$ai) vs ($s2,$a2,$ai2)")
    }
  }

  test("all-null and empty aggregate inputs: sum NULL, count 0, min/max NULL") {
    val df = (1 to 200).map(i => (i.toLong, (i % 5).toLong))
      .toDF("id", "score")
      .withColumn("v", lit(null).cast("long"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"), col("id"))
    val d = df.withColumn("s", sum(col("v")).over(w))
      .withColumn("mn", min(col("v")).over(w))
      .withColumn("c", count(col("v")).over(w))
    assert(d.queryExecution.executedPlan.toString.contains("GlobalRank"))
    val rows = d.select("s", "mn", "c").distinct().collect()
    assert(rows.length == 1 && rows.head.isNullAt(0) && rows.head.isNullAt(1)
      && rows.head.getLong(2) == 0L, rows.mkString(","))
  }

  test("mixed node: ranks + shifts + cume + running aggregates agree with the stock Window") {
    // every family in ONE window node — the delay-line must resolve lead
    // slots eagerly even while run-close buffering holds rows
    val rnd = new scala.util.Random(83)
    val df = (1 to 1000).map { i =>
      val v: Option[Long] = if (rnd.nextInt(15) == 0) None else Some(rnd.nextInt(200).toLong)
      (i.toLong, rnd.nextInt(8).toLong, v)
    }.toDF("id", "score", "v")
    // order on (score, id): TOTAL, so even row_number/shifts compare exact;
    // ties still exist on score alone, so ALSO run a ties window for the
    // tie-aware functions
    val wT = org.apache.spark.sql.expressions.Window.orderBy(col("score"), col("id"))
    def full(d: DataFrame) = d
      .withColumn("rn", row_number().over(wT))
      .withColumn("r", rank().over(wT))
      .withColumn("cd", cume_dist().over(wT))
      .withColumn("s", sum(col("v")).over(wT))
      .withColumn("lg", lag(col("v"), 3).over(wT))
      .withColumn("ld", lead(col("v"), 5, -1L).over(wT))
    val viaExec = full(df)
    val p = viaExec.queryExecution.executedPlan.toString
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    val viaStock = full(df.dropDuplicates("id"))
    def m(d: DataFrame) = d.select("id", "rn", "r", "cd", "s", "lg", "ld")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(m(viaExec) == m(viaStock), "mixed node diverged")
  }

  test("raw SQL running total + cume_dist rewrite (the e15/c8c surface)") {
    corpus(700, 97).createOrReplaceTempView("gr_run_sql")
    val df = spark.sql(
      """SELECT id,
                SUM(score) OVER (ORDER BY score, id) AS run_total,
                CUME_DIST() OVER (ORDER BY score) AS cd,
                COUNT(*) OVER (ORDER BY score, id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seen
         FROM gr_run_sql""")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    val rows = df.orderBy("seen").collect()
    assert(rows.length == 700 && rows.map(_.getLong(3)).toSeq == (1L to 700L))
    // run_total is non-decreasing in the (non-negative score) order
    val totals = rows.map(_.getLong(1))
    assert(totals.zip(totals.tail).forall { case (a, b) => a <= b })
    assert(rows.last.getDouble(2) == 1.0)
  }

  test("sliding ROWS aggregates match the stock Window, cross-partition warm-up included") {
    // k=300 exceeds a partition's ~250 rows, so the frame's tail spans
    // MULTIPLE previous partitions: the warm-up must add exactly the k
    // driver-stitched boundary values and retract them as they leave
    val rnd = new scala.util.Random(211)
    val df = (1 to 1000).map { i =>
      val v: Option[Long] = if (rnd.nextInt(9) == 0) None else Some(rnd.nextInt(400).toLong - 200L)
      (i.toLong, rnd.nextInt(300).toLong, v)
    }.toDF("id", "score", "v").withColumn("dv", col("v").cast("decimal(10,2)") / 8)
    val base = org.apache.spark.sql.expressions.Window.orderBy(col("score"), col("id"))
    def agged(d: DataFrame) = d
      .withColumn("s7", sum(col("v")).over(base.rowsBetween(-6, 0)))
      .withColumn("s300", sum(col("v")).over(base.rowsBetween(-300, 0)))
      .withColumn("sd", sum(col("dv")).over(base.rowsBetween(-12, 0)))
      .withColumn("c5", count(col("v")).over(base.rowsBetween(-4, 0)))
      .withColumn("mn9", min(col("v")).over(base.rowsBetween(-8, 0)))
      .withColumn("mx250", max(col("v")).over(base.rowsBetween(-250, 0)))
      .withColumn("rn", row_number().over(base)) // mixed node
    val viaExec = agged(df)
    val p = viaExec.queryExecution.executedPlan.toString
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    val viaStock = agged(df.dropDuplicates("id"))
    assert(!viaStock.queryExecution.executedPlan.toString.contains("GlobalRank"))
    def m(d: DataFrame) = d.select("id", "s7", "s300", "sd", "c5", "mn9", "mx250", "rn")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(m(viaExec) == m(viaStock), "sliding aggregates diverged")
  }

  test("sliding scope: over-bound k, FOLLOWING, RANGE sliding, and fp sum/avg keep the stock plan") {
    val df = corpus(200, 223)
    val base = org.apache.spark.sql.expressions.Window.orderBy(col("score"), col("id"))
    def planOf(d: DataFrame): String = d.queryExecution.executedPlan.toString
    assert(!planOf(df.withColumn("s", sum(col("score"))
      .over(base.rowsBetween(-(GlobalRankRule.MaxShift.toLong), 0)))).contains("GlobalRank"))
    // FOLLOWING ends are RowsFollowingRule's (its padded cascade is
    // pinned in RowsFollowingSpec); this rule alone keeps the stock plan
    spark.conf.set(RowsFollowingRule.EnabledKey, "false")
    try assert(!planOf(df.withColumn("s", sum(col("score")).over(base.rowsBetween(-2, 1))))
      .contains("GlobalRank"))
    finally spark.conf.unset(RowsFollowingRule.EnabledKey)
    assert(!planOf(df.withColumn("s", sum(col("score")).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("score")).rangeBetween(-2, 0))))
      .contains("GlobalRank"))
    // float/double sliding sum/avg: a retracting accumulator cancels
    // catastrophically where the stock Window recomputes each frame
    // ([1e17, 1, 1] at k=1 → 0.0 vs 2.0) — those stay stock
    assert(!planOf(df.withColumn("s", sum(col("payload")).over(base.rowsBetween(-1, 0))))
      .contains("GlobalRank"))
    assert(!planOf(df.withColumn("a", avg(col("payload")).over(base.rowsBetween(-1, 0))))
      .contains("GlobalRank"))
    // and the would-have-cancelled case is CORRECT via the stock plan
    val cancel = Seq((1L, 1e17), (2L, 1.0), (3L, 1.0)).toDF("id", "x")
      .withColumn("s", sum(col("x")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("id")).rowsBetween(-1, 0)))
      .orderBy("id").select("s").collect().map(_.getDouble(0))
    assert(cancel(2) == 2.0, s"fp sliding sum must recompute per frame: ${cancel.toSeq}")
  }

  test("ANSI evalMode rides into the rewrite: overflow throws; legacy wraps like stock") {
    val df = Seq((1L, Long.MaxValue), (2L, 10L), (3L, 7L)).toDF("id", "v")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("id"))
    val before = spark.conf.getOption("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val ansi = df.withColumn("s", sum(col("v")).over(w))
      assert(ansi.queryExecution.executedPlan.toString.contains("GlobalRank"))
      val e = intercept[Exception](ansi.collect())
      def chain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain(e).exists(c => c.isInstanceOf[ArithmeticException] ||
        c.getMessage != null && c.getMessage.toLowerCase.contains("overflow")),
        s"ANSI running-sum overflow must throw, got: $e")

      spark.conf.set("spark.sql.ansi.enabled", "false")
      val legacy = df.withColumn("s", sum(col("v")).over(w))
      assert(legacy.queryExecution.executedPlan.toString.contains("GlobalRank"))
      val got = legacy.orderBy("id").select("s").collect().map(_.getLong(0)).toSeq
      // bounded twin = the stock legacy Window, which wraps identically
      val want = df.dropDuplicates("id").withColumn("s", sum(col("v")).over(w))
        .orderBy("id").select("s").collect().map(_.getLong(0)).toSeq
      assert(got == want, s"legacy wrap diverged: $got vs $want")
    } finally before match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("first_value/last_value match the stock Window: frames, nulls, ignoreNulls, chains") {
    // total order (score, id) → deterministic first/last even though score
    // is heavily tied (tie runs span partitions at 4000 rows / 32 parts);
    // nulls in v exercise both ignoreNulls variants; leading nulls pin the
    // ignoreNulls=false "first row IS null" case
    val rnd = new scala.util.Random(271)
    val df = (1 to 4000).map { i =>
      val v: Option[Long] = if (i <= 3 || rnd.nextInt(7) == 0) None else Some(rnd.nextInt(1000).toLong)
      (i.toLong, rnd.nextInt(5).toLong, v)
    }.toDF("id", "score", "v")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"), col("id"))
    val wRows = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    def apply(d: DataFrame) = d
      .withColumn("f", first(col("v")).over(w))
      .withColumn("fn", first(col("v"), ignoreNulls = true).over(w))
      .withColumn("l", last(col("v")).over(w))
      .withColumn("ln", last(col("v"), ignoreNulls = true).over(w))
      .withColumn("lr", last(col("v")).over(wRows))
      // Spark itself rewrites this into nth_value(v, 1) over ROWS
      .withColumn("fr", first(col("v")).over(wRows))
      .withColumn("n2", nth_value(col("v"), 2).over(w))
      .withColumn("n2n", nth_value(col("v"), 2, ignoreNulls = true).over(w))
      .withColumn("n9", nth_value(col("v"), 9).over(wRows))
    val viaExec = apply(df)
    assert(viaExec.queryExecution.executedPlan.toString.contains("GlobalRank"))
    val viaStock = apply(df.dropDuplicates("id"))
    def m(d: DataFrame) = d.collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(3)).toMap
    assert(m(viaExec) == m(viaStock), "first/last diverged from the stock Window")
    // RANGE last_value is peer-inclusive (run-END value): the globally
    // last row's value must surface as `l` on every row of the last run
    val lastRow = df.orderBy(col("score").desc, col("id").desc).limit(1)
      .select("v").head.get(0)
    val got = viaExec.orderBy(col("score").desc, col("id").desc).limit(1)
      .select("l").head.get(0)
    assert(got == lastRow, s"global last_value $got != corpus last $lastRow")
  }

  test("decimal avg matches the stock Window bit-for-bit across precisions") {
    // Spark's Average(decimal) chains sum-overflow-check → precision-rule
    // division → result cast; the exec reproduces it step for step. Three
    // precision regimes: comfortable (12,2), scale-shedding division
    // (21,4 → divide at (38,11)), and the cap (38,10 → result scale GROWS
    // past the division scale). Nulls ride along.
    for ((p, sc) <- Seq((12, 2), (21, 4), (38, 10))) {
      val rnd = new scala.util.Random(100L + p)
      val df = (1 to 1500).map { i =>
        val v: Option[Double] = if (rnd.nextInt(9) == 0) None
          else Some((rnd.nextInt(2000000) - 1000000) / 100.0)
        (i.toLong, rnd.nextInt(40).toLong, v)
      }.toDF("id", "score", "x")
        .withColumn("d", col("x").cast(s"decimal($p,$sc)"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"), col("id"))
      val wRows = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
      def apply(d: DataFrame) = d
        .withColumn("a", avg(col("d")).over(w))
        .withColumn("ar", avg(col("d")).over(wRows))
        .withColumn("as", avg(col("d")).over(w.rowsBetween(-7, 0)))
      val viaExec = apply(df)
      assert(viaExec.queryExecution.executedPlan.toString.contains("GlobalRank"),
        s"decimal($p,$sc) avg did not rewrite")
      val viaStock = apply(df.dropDuplicates("id"))
      def m(d: DataFrame) = d.select("id", "a", "ar", "as").collect()
        .map(r => r.getLong(0) -> (r.get(1), r.get(2), r.get(3))).toMap
      val (ge, gs) = (m(viaExec), m(viaStock))
      val bad = ge.keys.toSeq.filter(k => ge(k) != gs(k)).sorted.take(3)
        .map(k => s"id=$k exec=${ge(k)} stock=${gs(k)}")
      assert(bad.isEmpty, s"decimal($p,$sc) avg diverged: ${bad.mkString("; ")}")
    }
  }

  test("law: First/Last fold IN PARTITION ORDER to the sequential value") {
    // unlike every other kind, first/last merges are order-sensitive; the
    // exec always folds partials left-to-right (carries, chains), so the
    // law quantifies over contiguous groupings merged IN ORDER
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types.LongType
    import GlobalRankFunc.AggKind
    val rnd = new scala.util.Random(199)
    def rowOf(v: Any): org.apache.spark.sql.catalyst.InternalRow = {
      val r = new GenericInternalRow(1)
      if (v == null) r.setNullAt(0) else r.update(0, v)
      r
    }
    for (kind <- Seq(AggKind.FirstVal(false), AggKind.FirstVal(true),
        AggKind.LastVal(false), AggKind.LastVal(true),
        AggKind.NthVal(2, false), AggKind.NthVal(3, true)); _ <- 1 to 25) {
      val vals = Seq.fill(rnd.nextInt(30))(
        if (rnd.nextInt(3) == 0) null else rnd.nextInt(100).toLong: Any)
      val seqAcc = GlobalRankExec.mkAcc(kind, LongType)
      vals.foreach(v => seqAcc.add(rowOf(v)))
      val groups = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
      var rest = vals
      while (rest.nonEmpty) {
        val k = 1 + rnd.nextInt(rest.length)
        groups += rest.take(k); rest = rest.drop(k)
      }
      val merged = GlobalRankExec.mkAcc(kind, LongType)
      groups.foreach { g =>
        val a = GlobalRankExec.mkAcc(kind, LongType)
        g.foreach(v => a.add(rowOf(v)))
        merged.merge(a.partial)
      }
      merged.merge(null)
      assert(merged.value == seqAcc.value,
        s"$kind: grouped ${merged.value} != sequential ${seqAcc.value} over $vals")
    }
  }

  test("law: random function mixes over random tied/null corpora match the stock Window") {
    // six seeded trials, each drawing a random subset of every supported
    // family over a random corpus (heavy ties, nulls in keys AND values) —
    // the cross-family interactions (run-close buffering holding lead
    // slots, accumulators advancing while ranks stream) are exactly what
    // single-family tests cannot catch
    for (seed <- Seq(101L, 113L, 127L, 139L, 151L, 163L)) {
      val rnd = new scala.util.Random(seed)
      val n = 400 + rnd.nextInt(800)
      val df = (1 to n).map { i =>
        val s: Option[Long] = if (rnd.nextInt(15) == 0) None else Some(rnd.nextInt(8).toLong)
        val v: Option[Long] = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(500).toLong - 250L)
        (i.toLong, s, v)
      }.toDF("id", "score", "v")
      // ORDER BY (score, id): total, so every family compares exact
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"), col("id"))
      val wRows = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
      val pool: Seq[(String, org.apache.spark.sql.Column)] = Seq(
        "rn" -> row_number().over(w),
        "r" -> rank().over(w),
        "d" -> dense_rank().over(w),
        "p" -> percent_rank().over(w),
        "nt" -> ntile(1 + rnd.nextInt(9)).over(w),
        "cd" -> cume_dist().over(w),
        "s" -> sum(col("v")).over(w),
        "sr" -> sum(col("v")).over(wRows),
        "mn" -> min(col("v")).over(w),
        "mx" -> max(col("v")).over(wRows),
        "c" -> count(col("v")).over(w),
        "sl" -> sum(col("v")).over(w.rowsBetween(-(1 + rnd.nextInt(40)).toLong, 0)),
        "cl" -> count(col("v")).over(w.rowsBetween(-(1 + rnd.nextInt(200)).toLong, 0)),
        "ml" -> min(col("v")).over(w.rowsBetween(-(1 + rnd.nextInt(120)).toLong, 0)),
        "xl" -> max(col("v")).over(w.rowsBetween(-(1 + rnd.nextInt(15)).toLong, 0)),
        "lg" -> lag(col("v"), 1 + rnd.nextInt(5)).over(w),
        "ld" -> lead(col("v"), 1 + rnd.nextInt(5), -9L).over(w))
      val picked = rnd.shuffle(pool).take(3 + rnd.nextInt(5))
      def apply(d: DataFrame) =
        picked.foldLeft(d) { case (acc, (nm, c)) => acc.withColumn(nm, c) }
      val viaExec = apply(df)
      assert(viaExec.queryExecution.executedPlan.toString.contains("GlobalRank"),
        s"seed $seed: mix ${picked.map(_._1)} did not rewrite")
      val viaStock = apply(df.dropDuplicates("id"))
      val colsOut = "id" +: picked.map(_._1)
      def m(d: DataFrame) = d.select(colsOut.head, colsOut.tail: _*)
        .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      assert(m(viaExec) == m(viaStock),
        s"seed $seed: mix ${picked.map(_._1)} diverged from the stock Window")
    }
  }

  test("law: Acc merge algebra — any partition grouping folds to the sequential value") {
    // the distributed-prefix correctness rests on merge being
    // commutative+associative over partials with null as identity; drive
    // each kind through 50 random (values, grouping) draws, JVM-only
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
    import GlobalRankFunc.AggKind
    val rnd = new scala.util.Random(173)
    def rowOf(v: Any): org.apache.spark.sql.catalyst.InternalRow = {
      val r = new GenericInternalRow(1)
      if (v == null) r.setNullAt(0) else r.update(0, v)
      r
    }
    def run(kind: AggKind, dt: DataType, gen: () => Any): Unit = {
      for (_ <- 1 to 50) {
        val vals = Seq.fill(rnd.nextInt(40))(if (rnd.nextInt(6) == 0) null else gen())
        // sequential reference
        val seqAcc = GlobalRankExec.mkAcc(kind, dt)
        vals.foreach(v => seqAcc.add(rowOf(v)))
        // random contiguous grouping, partials merged in SHUFFLED order
        val groups = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
        var rest = vals
        while (rest.nonEmpty) {
          val k = 1 + rnd.nextInt(rest.length)
          groups += rest.take(k); rest = rest.drop(k)
        }
        val partials = groups.map { g =>
          val a = GlobalRankExec.mkAcc(kind, dt)
          g.foreach(v => a.add(rowOf(v)))
          a.partial
        }
        val merged = GlobalRankExec.mkAcc(kind, dt)
        rnd.shuffle(partials.toSeq).foreach(merged.merge)
        merged.merge(null) // null partial is the identity
        assert(merged.value == seqAcc.value,
          s"$kind: grouped ${merged.value} != sequential ${seqAcc.value} over $vals")
      }
    }
    run(AggKind.SumLong(ansi = false), LongType, () => rnd.nextInt(1000).toLong - 500L)
    run(AggKind.SumLong(ansi = true), LongType, () => rnd.nextInt(1000).toLong - 500L)
    run(AggKind.Cnt, LongType, () => rnd.nextLong())
    run(AggKind.MinMax(isMin = true), LongType, () => rnd.nextLong())
    run(AggKind.MinMax(isMin = false), DoubleType, () => rnd.nextDouble() - 0.5)
    // doubles: sum/avg merges are exact-rational here (dyadic fractions
    // would still not associate in general — which is WHY the engine's
    // oracle lane casts to decimal; this law uses integral doubles)
    run(AggKind.SumDouble, DoubleType, () => (rnd.nextInt(1000) - 500).toDouble)
    run(AggKind.AvgDouble, DoubleType, () => (rnd.nextInt(8) * 512).toDouble)
    run(AggKind.SumDecimal(12, 2, ansi = false),
      org.apache.spark.sql.types.DecimalType(12, 2),
      () => org.apache.spark.sql.types.Decimal(
        BigDecimal(rnd.nextInt(1000000) - 500000, 2), 12, 2))
  }

  test("law: ANSI SumLong checks overflow only on EMITTED values, not internal partials") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types.LongType
    import GlobalRankFunc.AggKind
    def rowOf(v: Long) = { val r = new GenericInternalRow(1); r.update(0, v); r }
    def acc(ansi: Boolean) = GlobalRankExec.mkAcc(AggKind.SumLong(ansi), LongType)
    val Max = Long.MaxValue
    // partitions [-Max] and [Max, Max]: the second SUBTOTAL exceeds the
    // Long range, but every emitted prefix (-Max, 0, Max) is representable
    // — the stock sequential checked Window succeeds, so the distributed
    // fold must not throw on the internal partial (it used Math.addExact
    // there and did)
    val p1 = acc(ansi = true); p1.add(rowOf(-Max))
    val p2 = acc(ansi = true); p2.add(rowOf(Max)); p2.add(rowOf(Max))
    for (order <- Seq(Seq(p1, p2), Seq(p2, p1))) { // merge is order-free
      val fold = acc(ansi = true)
      order.foreach(p => fold.merge(p.partial))
      assert(fold.value == Max, s"carry fold lost the representable sum")
    }
    // a genuinely unrepresentable EMITTED value still throws under ANSI...
    val over = acc(ansi = true); over.add(rowOf(Max)); over.add(rowOf(1L))
    intercept[ArithmeticException](over.value)
    // ...and wraps mod 2^64 under legacy, like the stock unchecked sum
    val legacy = acc(ansi = false); legacy.add(rowOf(Max)); legacy.add(rowOf(1L))
    assert(legacy.value == Long.MinValue)
  }

  test("DESC / nulls-last orderings: ranks, cume_dist, and prefix sums stay tie-exact") {
    // every parity test above orders ASC; the exec only ever USES key
    // equality (run detection) and honors the orderSpec's direction via
    // the sort envelope — pin that DESC and NULLS LAST don't break it
    val rnd = new scala.util.Random(229)
    val df = (1 to 900).map { i =>
      val s: Option[Long] = if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(7).toLong)
      (i.toLong, s, rnd.nextInt(100).toLong)
    }.toDF("id", "score", "v")
    for (ord <- Seq(col("score").desc, col("score").desc_nulls_last,
        col("score").asc_nulls_last)) {
      val w = org.apache.spark.sql.expressions.Window.orderBy(ord)
      def q(d: DataFrame) = d
        .withColumn("r", rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .withColumn("s", sum(col("v")).over(w))
      val viaExec = q(df)
      assert(viaExec.queryExecution.executedPlan.toString.contains("GlobalRank"), ord.toString)
      val viaStock = q(df.dropDuplicates("id"))
      def m(d: DataFrame) = d.select("id", "r", "cd", "s")
        .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      assert(m(viaExec) == m(viaStock), s"$ord diverged from the stock Window")
    }
  }

  test("tileOf implements the SQL-standard remainder rule for all shapes") {
    val rnd = new scala.util.Random(31)
    for (_ <- 1 to 200) {
      val total = rnd.nextInt(5000).toLong
      val n = 1 + rnd.nextInt(100)
      val sizes = Array.tabulate(n)(i =>
        total / n + (if (i < total % n) 1L else 0L))
      var idx = 0L
      sizes.zipWithIndex.foreach { case (sz, tile) =>
        var j = 0L
        while (j < sz) {
          assert(GlobalRankExec.tileOf(idx, total, n) == tile + 1,
            s"total=$total n=$n idx=$idx")
          idx += 1; j += 1
        }
      }
      assert(idx == total)
    }
  }

  test("lag/lead over a global order match the stock Window, cross-partition spans included") {
    // k=300 exceeds a partition's ~250 rows (1000 rows / 4 shuffle
    // partitions), so boundary values must span MULTIPLE partitions
    val rnd = new scala.util.Random(23)
    val df = (1 to 1000).map { i =>
      val s: Option[Double] = if (rnd.nextInt(10) == 0) None else Some(rnd.nextDouble())
      (i.toLong, rnd.nextInt(500).toLong, s)
    }.toDF("id", "score", "payload")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"), col("id"))
    def shifted(d: DataFrame) = d
      .withColumn("lag1", lag(col("payload"), 1).over(w))
      .withColumn("lag3d", lag(col("score") * 2, 3, -1L).over(w))
      .withColumn("lag300", lag(col("payload"), 300).over(w))
      .withColumn("lead2", lead(col("payload"), 2).over(w))
      .withColumn("lead400", lead(col("id"), 400, 0L).over(w))
      .withColumn("rn", row_number().over(w)) // mixed node: shifts + rank
    val viaExec = shifted(df)
    val p = viaExec.queryExecution.executedPlan.toString
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    val viaStock = shifted(df.dropDuplicates("id"))
    assert(!viaStock.queryExecution.executedPlan.toString.contains("GlobalRank"))
    def m(d: DataFrame) = d.select("id", "lag1", "lag3d", "lag300", "lead2", "lead400", "rn")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(m(viaExec) == m(viaStock), "global shifts diverged from the stock Window")
  }

  test("shift scope: ignoreNulls and over-bound offsets keep the stock plan") {
    val df = corpus(300, 47)
    val wGlob = org.apache.spark.sql.expressions.Window.orderBy(col("score"), col("id"))
    def planOf(d: DataFrame): String = d.queryExecution.executedPlan.toString
    // ignoreNulls=true needs unbounded lookback → untouched
    df.createOrReplaceTempView("gr_shift_scope")
    val ignoreNullsLag = spark.sql(
      """SELECT id, lag(payload, 1) IGNORE NULLS OVER (ORDER BY score, id) AS x
         FROM gr_shift_scope""")
    assert(!planOf(ignoreNullsLag).contains("GlobalRank"))
    // k beyond MaxShift (driver-traffic bound) → untouched
    assert(!planOf(df.withColumn("x",
      lag(col("payload"), GlobalRankRule.MaxShift + 1).over(wGlob))).contains("GlobalRank"))
  }

  test("lead(x, 0) is the current row's value — normalized to the arrival path") {
    // a lead-0-only node never enters the delay-line path, so its slot
    // must fill at arrival (the bug class: a lead slot left null because
    // only fillLead writes it)
    val df = corpus(100, 53)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"), col("id"))
    val d = df.withColumn("l0", lead(col("payload"), 0).over(w))
    assert(d.queryExecution.executedPlan.toString.contains("GlobalRank"))
    d.select(col("payload"), col("l0")).collect().foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "lead-0 must be the row's own value")
    }
  }

  test("rand-seeded shift inputs lag consistently across partition boundaries") {
    // ExtractWindowExpressions materializes complex window arguments into
    // a child projection BELOW the exchange, so both of the exec's jobs
    // read ONE evaluation (the rule's in.deterministic guard covers any
    // path where a raw non-deterministic expr could still reach it). The
    // observable law: every lagged value equals the previous row's own
    // value, including across partition boundaries — a divergent second
    // evaluation of the boundary values would break exactly these pairs
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"), col("id"))
    val d = corpus(500, 59).withColumn("x", rand(7))
      .withColumn("lx", lag(col("x"), 1).over(w))
    assert(d.queryExecution.executedPlan.toString.contains("GlobalRank"))
    val rows = d.select(col("score"), col("id"), col("x"), col("lx")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), Option(r.get(3))))
      .sortBy(t => (t._1, t._2))
    rows.sliding(2).foreach {
      case Array(prev, cur) =>
        assert(cur._4.contains(prev._3),
          s"lag at ${(cur._1, cur._2)} != previous row's own value")
      case _ => ()
    }
    assert(rows.head._4.isEmpty)
  }

  test("conf kill-switch: comparators can demand the stock Window for one evaluation") {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"), col("id"))
    spark.conf.set(GlobalRankRule.EnabledKey, "false")
    try {
      val p = corpus(200, 41).withColumn("rn", row_number().over(w))
        .queryExecution.executedPlan.toString
      assert(p.contains("Window") && !p.contains("GlobalRank"),
        "disabled rule must leave the stock plan:\n" + p)
    } finally spark.conf.unset(GlobalRankRule.EnabledKey)
    assert(corpus(200, 41).withColumn("rn", row_number().over(w))
      .queryExecution.executedPlan.toString.contains("GlobalRank"),
      "unset must restore the rewrite")
  }

  test("AQE finalizes the rank plan; both jobs read the same runtime partitions") {
    // the exec's two jobs share ONE child RDD, so whatever partitioning
    // AQE settles on (including coalesced shuffle reads) is identical in
    // the stats job and the output job — pinned by exact rank correctness
    // under an executed adaptive plan
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"), col("id"))
    val df = corpus(5000, 61).withColumn("rn", row_number().over(w))
    val got = df.collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("rn")).toMap
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(300))
    assert(p.contains("GlobalRank"), p)
    val want = corpus(5000, 61).select(col("id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(t => (t._2, t._1)).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1) }.toMap
    assert(got == want)
  }

  test("ensureRegistered is idempotent") {
    GlobalRank.ensureRegistered(spark)
    GlobalRank.ensureRegistered(spark)
    assert(spark.experimental.extraOptimizations.count(_ == GlobalRankRule) == 1)
    assert(spark.experimental.extraStrategies.count(_ == GlobalRankStrategy) == 1)
  }
}
