package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over two
  * `array<double>` columns, with whole-stage codegen (`doGenCode`), so the
  * hot loop of brute-force / LSH similarity search stays inside Tungsten —
  * no UDF boxing, no Scala closure per row.
  *
  * Accumulation is a single left-to-right pass (dot, |a|², |b|² in one
  * loop); the independent accumulators make the result bit-identical to the
  * DuckDB oracle's sequential list_reduce formulation.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // callers must supply array<double> inputs (cast at the call site);
  // ExpectsInputTypes is private[sql] in Spark 4, so no declared coercion.
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double dot = 0.0, na = 0.0, nb = 0.0;
         |for (int i = 0; i < n; i++) {
         |  double xi = $a.getDouble(i);
         |  double yi = $b.getDouble(i);
         |  dot += xi * yi; na += xi * xi; nb += yi * yi;
         |}
         |${ev.value} = dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  /** Register `cosine_sim(a, b)` for SQL/expr use on a session, once:
    * a later call (or a session built with [[GraftExtensions]]) leaves the
    * registry entry as it is.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim")))
      registry.createOrReplaceTempFunction(
        "cosine_sim", exprs => CosineSimilarity(exprs(0), exprs(1)), "scala_udf")
  }
}

/** Library-style Catalyst integration: enable with
  * `spark.sql.extensions=graft.functions.GraftExtensions` and every session
  * gets the engine's native functions in SQL without any imperative
  * registration call — the standard deployment shape for a Spark library.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[CosineSimilarity].getName, "cosine_sim"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          CosineSimilarity(exprs(0), exprs(1))))
    // keyless bounded-range joins (ts BETWEEN base ± literal) rewrite to the
    // binned equi-join shape instead of a nested loop — see
    // graft.plans.RangeJoinBinningRule
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinBinningRule)
    // native point-in-time join: the asof_match marker, its rewrite rule,
    // and the physical operator — see graft.plans.AsOfJoin
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier(graft.plans.AsOfJoin.FunctionName),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[graft.plans.AsOfMatch].getName, graft.plans.AsOfJoin.FunctionName),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          graft.plans.AsOfMatch.fromArgs(exprs)))
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoinRule)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // match-then-filter escape hatch for LEFT as-ofs — see
    // graft.plans.PushdownBarrier / AsOfJoin.postFilter
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier(
        graft.plans.AsOfJoin.BarrierFunctionName),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[graft.plans.PushdownBarrier].getName,
          graft.plans.AsOfJoin.BarrierFunctionName),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          graft.plans.PushdownBarrier(exprs.head)))
    // global row_number()/ntile() windows over unbounded input rewrite to
    // the distributed two-pass rank instead of a single-partition Window —
    // see graft.plans.GlobalRankRule
    ext.injectOptimizerRule(_ => graft.plans.GlobalRankRule)
    // global RANGE n PRECEDING sliding sums/counts rewrite to the
    // ghost-probe composition (whose inner running window the rule above
    // then distributes) — see graft.plans.RangeSlidingRule
    ext.injectOptimizerRule(_ => graft.plans.RangeSlidingRule)
    // global RANGE-frame min/max (no inverse) rewrite to the sparse-block
    // decomposition — see graft.plans.RangeMinMaxRule
    ext.injectOptimizerRule(_ => graft.plans.RangeMinMaxRule)
    // global ROWS n PRECEDING AND m FOLLOWING frames lower to the padded
    // lead-of-trailing-slide cascade the rank rule distributes — see
    // graft.plans.RowsFollowingRule
    ext.injectOptimizerRule(_ => graft.plans.RowsFollowingRule)
    // DESC / NULLS LAST orders of global RANGE windows canonicalize to ASC
    // NULLS FIRST so the two RANGE rules fire on "latest-first" SQL — see
    // graft.plans.DescOrderRule
    ext.injectOptimizerRule(_ => graft.plans.DescOrderRule)
    // suffix frames (CURRENT ROW .. UNBOUNDED FOLLOWING) reverse into
    // running prefixes over the reversed order — see
    // graft.plans.SuffixFrameRule
    ext.injectOptimizerRule(_ => graft.plans.SuffixFrameRule)
    ext.injectPlannerStrategy(_ => graft.plans.GlobalRankStrategy)
  }
}
