package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Ascending, BitwiseNot, Cast, DateDiff, Descending, Expression, Literal,
  NamedExpression, NullsFirst, SortOrder, SpecifiedWindowFrame,
  WindowSpecDefinition}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType,
  ShortType}

/** Canonicalizes the order of GLOBAL value-bounded RANGE windows to ASC
  * NULLS FIRST so [[RangeSlidingRule]] and [[RangeMinMaxRule]] — each
  * scoped to one ASC NULLS FIRST BIGINT key, because their ghost/bucket
  * arithmetic is written in ascending key space — fire on "latest-first"
  * SQL: `SUM(d) OVER (ORDER BY dnum DESC RANGE BETWEEN 6 PRECEDING AND 2
  * FOLLOWING)` would otherwise plan the one-task Window cliff. Every
  * other global family needs no canonicalization: [[GlobalRankRule]]
  * (ranks, shifts, prefix and trailing-slide aggregates) and
  * [[RowsFollowingRule]] (ROWS frames with FOLLOWING ends) run earlier in
  * the same batch and take any deterministic order, DESC and multi-column
  * included — their exec works in arrival order with tie detection by key
  * EQUALITY.
  *
  * The identity (exact, never approximate): DESC over an integral key k ≡
  * ASC over `~k` (bitwise NOT). `~k = −k − 1` is strictly decreasing and
  * TOTAL on BIGINT — unlike negation, which overflows at `Long.MinValue` —
  * and `~k − ~k' = k' − k`, so RANGE offsets carry over with the SAME
  * literal bounds (an n-PRECEDING row under DESC is the key `k + n`; under
  * ASC `~k` it is `~k − n` — the same row). Int/short/byte keys widen
  * through an exact `CAST(k AS BIGINT)` first; a DATE key (integer RANGE
  * bounds count days) through its day number. Null placement is
  * semantically irrelevant for value-bounded frames — null keys frame over
  * their own peer group and no non-null value interval ever contains a
  * null — so `NULLS LAST` needs no extra key either.
  *
  * The rewrite only RE-EXPRESSES the node — same expressions, same frames,
  * canonicalized sort — and fires only when a downstream family is checked
  * to accept the result, so a plan is never left with a
  * churned-but-still-stock Window. A key the rule cannot re-express
  * (string/fp DESC keys have no monotone total inverse) leaves the node
  * untouched (linted by [[PlanChecks]], the ever-correct fallback).
  *
  * DescOrderSpec pins bit-equality vs the kill-switched stock Window;
  * `e24_desc_sliding_sql` pins the raw-SQL face against DuckDB's native
  * window engine.
  */
object DescOrderRule extends Rule[LogicalPlan] {

  /** Kill-switch, the [[GlobalRankRule.EnabledKey]] idiom. */
  val EnabledKey = "spark.graft.descOrder.enabled"

  /** A strictly-increasing injective BIGINT image of the key, for types
    * a DESC order can be inverted on: integrals widen exactly; DATE is
    * its day number (`datediff` from the epoch — the cast the analyzer
    * would reject, expressed through an always-legal function). Null maps
    * to null. Strings/fp have no such image — None. (A TIMESTAMP key takes
    * interval RANGE bounds, which no downstream family accepts.)
    */
  private def asLongImage(e: Expression): Option[Expression] =
    e.dataType match {
      case LongType => Some(e)
      case ByteType | ShortType | IntegerType => Some(Cast(e, LongType))
      case DateType => Some(Cast(DateDiff(e, Literal(0, DateType)), LongType))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case w @ Window(exprs, Nil, Seq(o), child, _)
        if conf.getConfString(EnabledKey, "true") != "false" &&
          exprs.nonEmpty && !PlanChecks.bounded(child) &&
          !(o.direction == Ascending && o.nullOrdering == NullsFirst) &&
          o.child.deterministic =>
      // the rewrite runs ONCE per matched node per fixed-point pass;
      // returning the untouched node on a reject leaves the plan unchanged
      // (same instance), so the executor still reaches its fixed point
      rewritten(w, o).getOrElse(w)
  }

  private def rewritten(w: Window, o: SortOrder): Option[LogicalPlan] = {
    val key = o.direction match {
      case Ascending => Some(o.child)
      case Descending => asLongImage(o.child).map(BitwiseNot)
    }
    key.map(k => Seq(SortOrder(k, Ascending)))
      // will a RANGE family take the canonicalized node? Checked BEFORE
      // rewriting so a reject leaves the stock plan (and its lint) untouched
      .filter(newOrder =>
        RangeSlidingRule.globalLongOrder(
          Window(w.windowExpressions, Nil, newOrder, w.child)) &&
          (RangeSlidingRule.acceptsExpressions(w.windowExpressions) ||
            RangeMinMaxRule.acceptsExpressions(w.windowExpressions)))
      .map { newOrder =>
        // the frames' own specs carry order too — keep node and
        // expressions agreeing (WindowExec derives RANGE bound orderings
        // from the spec); INT bounds (an INT or DATE key's) widen with the
        // key, or the frame no longer type-checks against it
        def widened(b: Expression): Expression = b match {
          case Literal(v: Int, IntegerType) => Literal(v.toLong)
          case _ => b
        }
        val newExprs = w.windowExpressions.map(_.transform {
          case WindowSpecDefinition(Nil, _, SpecifiedWindowFrame(ft, lo, hi)) =>
            WindowSpecDefinition(Nil, newOrder,
              SpecifiedWindowFrame(ft, widened(lo), widened(hi)))
        }.asInstanceOf[NamedExpression])
        Window(newExprs, Nil, newOrder, w.child)
      }
  }
}
