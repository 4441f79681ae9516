package graft.etl

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** [[BoundedDistinct]]: task-local dedup plus a driver-side union dedup,
  * refusing above the bound whether the excess is spread across input
  * partitions or held by one. The merge/update/delete guards that route
  * through it are SnapshotLakeSpec's `guard:` tests.
  */
class BoundedDistinctSpec extends SparkSuite {

  /** One projection over all of `df`'s columns. */
  private def collectOne(df: org.apache.spark.sql.DataFrame, max: Int, refusal: String) =
    BoundedDistinct.collect(df,
      Seq(BoundedDistinct.Projection(df.columns.toSeq.map(col), max, refusal))).head

  test("bounded distinct: a value present in every input partition comes back once") {
    // 4 partitions, each holding all three values many times over
    val df = spark.range(0, 400, 1, 4).select((col("id") % 3).as("v"))
    assert(df.rdd.getNumPartitions == 4)
    assert(df.rdd.mapPartitions(it => Iterator(it.map(_.getLong(0)).toSet))
      .collect().forall(_ == Set(0L, 1L, 2L)))
    val got = collectOne(df, 3, "refused").map(_.getLong(0))
    assert(got.sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("bounded distinct: refuses above max, across partitions and within one") {
    // one distinct value per partition: only the driver-side union exceeds
    val spread = spark.range(0, 4, 1, 4).select(col("id").as("v"))
    val e1 = intercept[IllegalArgumentException](
      collectOne(spread, 3, "union over the bound"))
    assert(e1.getMessage.contains("union over the bound"))
    // one partition alone holds more than max
    val single = spark.range(0, 10, 1, 1).select(col("id").as("v"))
    val e2 = intercept[IllegalArgumentException](
      collectOne(single, 3, "one task over the bound"))
    assert(e2.getMessage.contains("one task over the bound"))
    // exactly max distinct values pass
    assert(collectOne(spread, 4, "refused").length == 4)
  }

  test("bounded distinct: several projections in one job, each with its own bound") {
    import BoundedDistinct.Projection
    val df = spark.range(0, 400, 1, 4).select(
      (col("id") % 3).as("a"), (col("id") % 5).as("b"), (col("id") % 7).as("c"))
    val sets = Seq(
      Projection(Seq(col("a")), 3, "a over"),
      Projection(Seq(col("a"), col("b")), 15, "ab over"),
      Projection(Seq(col("c")), 7, "c over", where = col("c") > 4))
    val (got, jobs) = jobsDuring(BoundedDistinct.collect(df, sets))
    assert(jobs == 1, s"one pass must be one Spark job, saw $jobs")
    assert(got.map(_.map(_.toSeq).toSet) == Seq(
      (0L until 3L).map(Seq(_)).toSet,
      (for (a <- 0L until 3L; b <- 0L until 5L) yield Seq(a, b)).toSet,
      Set(Seq(5L), Seq(6L))))
    // each projection refuses with its own text; the first over its bound
    // wins even when a later one is over too
    def refusal(s: Seq[Projection]) =
      intercept[IllegalArgumentException](BoundedDistinct.collect(df, s)).getMessage
    assert(refusal(Seq(sets(0), sets(1).copy(max = 14), sets(2))).contains("ab over"))
    assert(refusal(Seq(sets(0), sets(1), sets(2).copy(max = 1))).contains("c over"))
    assert(refusal(Seq(sets(0), sets(1).copy(max = 2), sets(2).copy(max = 1)))
      .contains("ab over"))
    assert(refusal(Seq(sets(0).copy(max = 2), sets(1).copy(max = 2), sets(2)))
      .contains("a over"))
  }
}
