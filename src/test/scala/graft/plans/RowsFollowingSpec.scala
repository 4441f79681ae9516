package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** ROWS frames with FOLLOWING ends: the padded lead-of-trailing-slide
  * cascade — bit-equality vs the kill-switched stock Window on total
  * orders (ASC and DESC multi-column, inputs shorter than the frame, the
  * frame-length edge), the plan shape, and the scope rejections.
  */
class RowsFollowingSpec extends SparkSuite {
  import spark.implicits._

  GlobalRank.ensureRegistered(spark)

  private def stock[A](body: => A): A = {
    val keys = Seq(GlobalRankRule.EnabledKey, RangeSlidingRule.EnabledKey,
      RangeMinMaxRule.EnabledKey, RowsFollowingRule.EnabledKey,
      DescOrderRule.EnabledKey)
    keys.foreach(spark.conf.set(_, "false"))
    try body finally keys.foreach(spark.conf.unset)
  }

  /** Total order (id unique), null-able decimal values. */
  private def corpus(seed: Long, n: Int) = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      val v: Option[Double] =
        if (rnd.nextInt(6) == 0) None else Some((rnd.nextInt(200000) - 100000) / 100.0)
      (i.toLong, rnd.nextInt(40).toLong, v)
    }.toDF("id", "grp", "x")
      .withColumn("d", col("x").cast("decimal(12,2)"))
  }

  private def planOf(d: DataFrame): String = d.queryExecution.executedPlan.toString

  private def cliffFree(d: DataFrame): Boolean =
    PlanChecks.unboundedGlobalWindows(d).isEmpty

  /** The cascade and nothing else: two GlobalRank nodes, no Window. */
  private def cascadeOnly(d: DataFrame): Boolean = {
    val p = d.queryExecution.optimizedPlan
    p.collect { case g: GlobalRankNode => g }.length == 2 &&
      p.collect { case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.isEmpty
  }

  private def rows(d: DataFrame) = d.collect()
    .map(r => r.getLong(0) -> r.toSeq.drop(1).map(String.valueOf)).toMap

  /** `build` rewritten vs `build` under the kill-switched stock Window. */
  private def compareDf(label: String, rewrites: Boolean = true)(build: => DataFrame): Unit = {
    val viaRule = build
    assert(cliffFree(viaRule) == rewrites,
      s"$label: expected rewrite=$rewrites:\n${planOf(viaRule)}")
    // the rewrite keeps the node's exact output, nullability included
    assert(viaRule.queryExecution.optimizedPlan.schema == viaRule.schema, label)
    val got = rows(viaRule)
    val want = stock {
      val d = build
      assert(!cliffFree(d), s"$label twin must stay the stock global Window")
      rows(d.localCheckpoint())
    }
    val bad = got.keys.filter(k => got(k) != want(k)).take(3)
      .map(k => s"id=$k got=${got(k)} want=${want(k)}")
    assert(bad.isEmpty, s"$label diverged: ${bad.mkString("; ")}")
    assert(got.size == want.size)
  }

  private def compare(sql: String, label: String): Unit = compareDf(label)(spark.sql(sql))

  /** All five aggregate families, COUNT(*) beside COUNT(nullable), in one
    * node over `order`.
    */
  private def fiveFamilies(df: DataFrame, order: Seq[Column], n: Int, m: Int): DataFrame = {
    val w = Window.orderBy(order: _*).rowsBetween(-n, m)
    df.select(col("id"), sum(col("d")).over(w).as("s"),
      count(lit(1)).over(w).as("cs"), count(col("d")).over(w).as("cd"),
      avg(col("d")).over(w).as("a"), min(col("d")).over(w).as("mn"),
      max(col("d")).over(w).as("mx"))
  }

  test("ROWS n PRECEDING m FOLLOWING sum/count/avg match the stock Window") {
    for ((seed, n, m) <- Seq((3L, 4L, 2L), (17L, 0L, 5L), (31L, 9L, 9L))) {
      corpus(seed, 900).createOrReplaceTempView("rf_t")
      compare(
        s"""SELECT id, SUM(d) OVER w AS sd, COUNT(d) OVER w AS cd,
                  COUNT(*) OVER w AS cs, AVG(d) OVER w AS av
           FROM rf_t
           WINDOW w AS (ORDER BY id ROWS BETWEEN $n PRECEDING AND $m FOLLOWING)""",
        s"seed=$seed n=$n m=$m")
    }
  }

  test("ROWS centered min/max (and the MIXED node with sums) match the stock Window") {
    for ((seed, n, m) <- Seq((7L, 3L, 3L), (23L, 6L, 1L))) {
      corpus(seed, 800).createOrReplaceTempView("rf_mm")
      compare(
        s"""SELECT id, MIN(d) OVER w AS mn, MAX(d) OVER w AS mx
           FROM rf_mm
           WINDOW w AS (ORDER BY id ROWS BETWEEN $n PRECEDING AND $m FOLLOWING)""",
        s"minmax seed=$seed n=$n m=$m")
      // the MIXED node: one Window carries extrema AND sums — one cascade,
      // the extrema on the slide's monotonic deques
      compare(
        s"""SELECT id, MIN(d) OVER w AS mn, SUM(d) OVER w AS sd,
                  MAX(d) OVER w AS mx, COUNT(*) OVER w AS cs
           FROM rf_mm
           WINDOW w AS (ORDER BY id ROWS BETWEEN $n PRECEDING AND $m FOLLOWING)""",
        s"mixed seed=$seed n=$n m=$m")
    }
  }

  test("multi-column total orders ride (rn carries the composite order)") {
    // no row index is synthesized any more: the cascade sorts by
    // (__rf_real, grp, id) directly
    corpus(41L, 700).createOrReplaceTempView("rf_mc")
    compare(
      """SELECT id, SUM(d) OVER w AS sd, MIN(d) OVER w AS mn
         FROM rf_mc
         WINDOW w AS (ORDER BY grp, id ROWS BETWEEN 5 PRECEDING AND 2 FOLLOWING)""",
      "multi-col")
  }

  test("mixed RANGE-frame nodes also split (min + sum over one value frame)") {
    corpus(53L, 800).createOrReplaceTempView("rf_rng")
    compare(
      """SELECT id, MIN(d) OVER w AS mn, SUM(d) OVER w AS sd,
                AVG(d) OVER w AS av, MAX(d) OVER w AS mx
         FROM rf_rng
         WINDOW w AS (ORDER BY grp RANGE BETWEEN 4 PRECEDING AND 2 FOLLOWING)""",
      "mixed-range")
  }

  test("all five families in one node, ASC and DESC multi-column orders: one cascade, stock values") {
    val df = corpus(3L, 900)
    for (order <- Seq(Seq(col("id")), Seq(col("grp").desc, col("id").desc));
         (n, m) <- Seq((0, 1), (6, 3), (2, 9), (100, 50), (5, 1018))) {
      val label = s"order=${order.mkString(",")} n=$n m=$m"
      assert(cascadeOnly(fiveFamilies(df, order, n, m)), label)
      compareDf(label)(fiveFamilies(df, order, n, m))
    }
  }

  test("inputs shorter than the frame: empty, one row, m rows") {
    // a parquet input, so the optimizer cannot fold the empty case away
    val dir = tempDir("graft_rf_short")
    corpus(29L, 40).write.mode("overwrite").parquet(dir)
    for (size <- Seq(0, 1, 3, 5)) {
      val df = spark.read.parquet(dir).filter(col("id") <= size)
      compareDf(s"size=$size")(fiveFamilies(df, Seq(col("id")), 6, 3))
      compareDf(s"size=$size desc")(
        fiveFamilies(df, Seq(col("grp").desc, col("id").desc), 0, 5))
    }
  }

  test("frame-length edge: n+m+1 = MaxShift rewrites, one more stays stock; frames may differ per node") {
    val df = corpus(61L, 1500)
    compareDf("n+m+1=1024")(fiveFamilies(df, Seq(col("id")), 1000, 23))
    compareDf("n+m+1=1025", rewrites = false)(fiveFamilies(df, Seq(col("id")), 1001, 23))
    // one node, two frames: padded by the larger m, each slot leads by its own
    compareDf("two frames") {
      df.select(col("id"),
        sum(col("d")).over(Window.orderBy(col("id")).rowsBetween(-2, 5)).as("s"),
        min(col("d")).over(Window.orderBy(col("id")).rowsBetween(-7, 1)).as("mn"))
    }
  }

  test("e23b builds with no Spark job and plans as one cascade") {
    val (_, tableJobs) = jobsDuring(graft.Tables(spark, sf001, "orders"))
    val (e23b, jobs) = jobsDuring(graft.queries.CoreQueries.e23bRowsCenteredLib(spark, sf001))
    assert(jobs == tableJobs, s"building e23b started ${jobs - tableJobs} job(s) of its own")
    assert(cliffFree(e23b) && cascadeOnly(e23b), planOf(e23b))
    assert(!planOf(e23b).contains("Scan ExistingRDD"), "no checkpointed input in the plan")
  }

  test("scope: fp sums and unbounded FOLLOWING stay stock; DESC canonicalizes") {
    corpus(11L, 200).createOrReplaceTempView("rf_scope")
    def rewrote(sql: String): Boolean = cliffFree(spark.sql(sql))
    // fp sums cancel under the slide's retraction: GlobalRankRule vetoes
    // them, alone or as one sibling of an otherwise accepted node
    assert(!rewrote("""SELECT SUM(x) OVER (ORDER BY id ROWS BETWEEN 3 PRECEDING
      AND 2 FOLLOWING) FROM rf_scope"""))
    assert(!rewrote("""SELECT SUM(d) OVER w, SUM(x) OVER w FROM rf_scope
      WINDOW w AS (ORDER BY id ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING)"""))
    // DESC orders need no canonicalization: the cascade's execs are
    // direction-agnostic (bit-equality pinned above and in DescOrderSpec)
    assert(rewrote("""SELECT SUM(d) OVER (ORDER BY id DESC ROWS BETWEEN 3
      PRECEDING AND 2 FOLLOWING) FROM rf_scope"""))
    // UNBOUNDED FOLLOWING is not a literal end
    assert(!rewrote("""SELECT SUM(d) OVER (ORDER BY id ROWS BETWEEN 3 PRECEDING
      AND UNBOUNDED FOLLOWING) FROM rf_scope"""))
  }
}
