package graft.functions

import org.apache.spark.sql.SparkSession

import graft.SparkSuite

/** End-to-end proof of the library deployment shape: a session built with
  * `spark.sql.extensions=graft.functions.GraftExtensions` can call
  * `cosine_sim` from SQL with no imperative registration.
  */
class ExtensionsSpec extends SparkSuite {

  test("a session built with GraftExtensions resolves cosine_sim in SQL") {
    spark // ensure the shared suite session (and its SparkContext) exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // withExtensions ≙ spark.sql.extensions=graft.functions.GraftExtensions
      // on a fresh cluster; the conf route only applies at SparkContext
      // creation, which the shared test JVM already did.
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      assert(s2 ne spark, "expected a fresh session over the shared context")
      val r = s2.sql(
        "SELECT cosine_sim(array(1.0d, 2.0d, 3.0d), array(1.0d, 2.0d, 3.0d)) AS c")
        .head.getDouble(0)
      assert(math.abs(r - 1.0) < 1e-12)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("imperative registration runs once per session: a second call keeps each registry entry") {
    val registry = spark.sessionState.functionRegistry
    def builders = Seq("cosine_sim", graft.plans.AsOfJoin.FunctionName,
      graft.plans.AsOfJoin.BarrierFunctionName).map(n =>
      registry.lookupFunctionBuilder(
        org.apache.spark.sql.catalyst.FunctionIdentifier(n)).get)
    VectorExpressions.register(spark)
    graft.plans.AsOfJoin.ensureRegistered(spark)
    val first = builders
    VectorExpressions.register(spark)
    graft.plans.AsOfJoin.ensureRegistered(spark)
    // the same builder instances: nothing was re-registered (a replace
    // would install a fresh closure and log a WARN per call)
    assert(builders.zip(first).forall { case (a, b) => a eq b })
  }
}
