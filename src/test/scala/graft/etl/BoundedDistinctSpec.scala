package graft.etl

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** [[BoundedDistinct]]: task-local dedup plus a driver-side union dedup,
  * refusing above the bound whether the excess is spread across input
  * partitions or held by one. The merge/update/delete guards that route
  * through it are SnapshotLakeSpec's `guard:` tests.
  */
class BoundedDistinctSpec extends SparkSuite {

  test("bounded distinct: a value present in every input partition comes back once") {
    // 4 partitions, each holding all three values many times over
    val df = spark.range(0, 400, 1, 4).select((col("id") % 3).as("v"))
    assert(df.rdd.getNumPartitions == 4)
    assert(df.rdd.mapPartitions(it => Iterator(it.map(_.getLong(0)).toSet))
      .collect().forall(_ == Set(0L, 1L, 2L)))
    val got = BoundedDistinct.collect(df, 3, "refused").map(_.getLong(0))
    assert(got.sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("bounded distinct: refuses above max, across partitions and within one") {
    // one distinct value per partition: only the driver-side union exceeds
    val spread = spark.range(0, 4, 1, 4).select(col("id").as("v"))
    val e1 = intercept[IllegalArgumentException](
      BoundedDistinct.collect(spread, 3, "union over the bound"))
    assert(e1.getMessage.contains("union over the bound"))
    // one partition alone holds more than max
    val single = spark.range(0, 10, 1, 1).select(col("id").as("v"))
    val e2 = intercept[IllegalArgumentException](
      BoundedDistinct.collect(single, 3, "one task over the bound"))
    assert(e2.getMessage.contains("one task over the bound"))
    // exactly max distinct values pass
    assert(BoundedDistinct.collect(spread, 4, "refused").length == 4)
  }
}
