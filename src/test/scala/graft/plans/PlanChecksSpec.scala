package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}

class PlanChecksSpec extends SparkSuite {

  test("lint flags a global window over raw rows, passes the rank-the-aggregate shape") {
    val docs = Tables(spark, sf001, "documents")
    // the cliff: corpus-wide row_number with no partition spec
    val bad = docs.withColumn("rn",
      row_number().over(Window.orderBy(col("n_chars"), col("doc_id"))))
    // lint logic is tested on the ANALYZED plan: in a session with
    // GlobalRankRule registered (the shared test session, once any suite
    // ran ensureRegistered) the optimizer rewrites this exact cliff away
    // before the optimized plan exists — which is the division of labor:
    // the rule FIXES the positional-rank cliff, the lint still CATCHES
    // whatever the rule cannot rewrite
    assert(PlanChecks.unboundedGlobalWindows(bad.queryExecution.analyzed).nonEmpty,
      "lint missed the one-task global window")
    GlobalRank.ensureRegistered(spark)
    assert(PlanChecks.unboundedGlobalWindows(bad).isEmpty &&
      bad.queryExecution.optimizedPlan.toString.contains("GlobalRank"),
      "with the rule registered the cliff must be rewritten, not just flagged")
    // sanctioned: the window input is bounded by the lang-key aggregate
    val good = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(Window.orderBy(col("n").desc, col("lang"))))
    assert(PlanChecks.unboundedGlobalWindows(good).isEmpty,
      "lint flagged the bounded rank-the-aggregate shape")
    // partitioned windows over raw rows are not the lint's business
    val partitioned = docs.withColumn("rn",
      row_number().over(Window.partitionBy(col("lang")).orderBy(col("doc_id"))))
    assert(PlanChecks.unboundedGlobalWindows(partitioned).isEmpty)
    // a limit bounds the input just like an aggregate
    val limited = docs.limit(100).withColumn("rn",
      row_number().over(Window.orderBy(col("doc_id"))))
    assert(PlanChecks.unboundedGlobalWindows(limited).isEmpty)
  }
}
