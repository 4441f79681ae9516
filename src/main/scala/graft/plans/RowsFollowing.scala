package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Ascending, Attribute, AttributeReference, CurrentRow, Expression,
  IsNotNull, KnownNotNull, Lead, Literal, NamedExpression, NullsLast,
  RowFrame, SortOrder, SpecifiedWindowFrame, WindowExpression,
  WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, AggregateFunction, Complete, Count}
import org.apache.spark.sql.catalyst.plans.logical.{
  Filter, LocalRelation, LogicalPlan, Project, Union, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Auto-rewrite for the GLOBAL `ROWS BETWEEN n PRECEDING AND m FOLLOWING`
  * sliding aggregate — the one ROWS family the [[GlobalRankExec]] ring
  * cannot emit at arrival (the frame needs rows that have not arrived
  * yet). The identity that closes it: the frame `[i−n, i+m]` of row `i`
  * is the TRAILING frame `[(i+m)−(n+m), i+m]` of row `i+m`. So one
  * trailing `ROWS (n+m) PRECEDING..CURRENT ROW` slide plus one
  * `lead(·, m)` of it gives every row's frame — provided row `i+m`
  * exists. Padding the sorted stream with `m` all-null rows ordered after
  * every real row makes it exist for the last `m` rows too: their
  * trailing frames hold the real tail `[i−n, N]` plus padding, which every
  * aggregate ignores.
  *
  * The cascade, planned entirely by [[GlobalRankRule]] on the same
  * fixed-point batch (one range exchange, one sort, two stacked
  * [[GlobalRankExec]]s, one consumer — nothing is checkpointed):
  *
  *  1. below a Union, a real-side Project pre-evaluates every non-column
  *     aggregate input and order key into a slot and adds the marker
  *     `__rf_real = true`;
  *  2. the Union adds a `LocalRelation` of `M = max m` rows that are null
  *     in every column, slot and the marker, so no expression is ever
  *     evaluated on a padding row;
  *  3. one Window computes the trailing aggregates over
  *     `(__rf_real NULLS LAST, original order…)` (the identical padding
  *     rows sort last, in any order among themselves), a second one
  *     `lead(·, m)` of each over the same order; `COUNT(*)` (any COUNT of
  *     a non-null literal) counts the marker;
  *  4. `Filter(__rf_real IS NOT NULL)` and a Project back to the node's exact output
  *     (original exprIds; a never-null aggregate such as COUNT keeps its
  *     non-null type — its lead always lands on an existing row).
  *
  * Scope: global window over an unbounded input, any deterministic order
  * (GlobalRankExec is direction-agnostic — DESC and multi-column orders
  * need no canonicalization), every expression an aggregate over a
  * literal `ROWS n PRECEDING AND m FOLLOWING` frame with `n ≥ 0`,
  * `m ≥ 1` and `n + m + 1 ≤` [[GlobalRankRule.MaxShift]] (frames may
  * differ per expression). The node is rewritten only when
  * [[GlobalRankRule.acceptsExpressions]] accepts its re-framed trailing
  * expressions, so the aggregate and type scope — the fp sum/avg
  * cancellation veto included — lives in that one place. Wider frames
  * stay on the stock Window and [[PlanChecks.unboundedGlobalWindows]]
  * flags them. Ties in the order key make any ROWS frame
  * nondeterministic (stock Spark picks an arbitrary tie order); both
  * stacked execs read one sorted stream, so each row's frame is a frame
  * of that one order.
  *
  * RowsFollowingSpec pins bit-equality vs the kill-switched stock Window
  * (all five families, ASC and DESC multi-column orders, inputs shorter
  * than `m`, the frame-length edge, the fp veto); `e23`/`e23b`/`e24b`/
  * `e24c` pin the SQL and DataFrame faces against DuckDB's native ROWS
  * engine.
  */
object RowsFollowingRule extends Rule[LogicalPlan] {

  /** Kill-switch, the [[GlobalRankRule.EnabledKey]] idiom. */
  val EnabledKey = "spark.graft.rowsFollowing.enabled"

  private case class Slot(alias: Alias, af: AggregateFunction, n: Int, m: Int)

  private def slotOf(ne: NamedExpression): Option[Slot] = ne match {
    case a @ Alias(WindowExpression(AggregateExpression(af, _, false, None, _),
        WindowSpecDefinition(Nil, _,
          SpecifiedWindowFrame(RowFrame, lower, Literal(m: Int, IntegerType)))), _)
        if af.deterministic =>
      val n: Option[Long] = lower match {
        case CurrentRow => Some(0L)
        case Literal(v: Int, IntegerType) if v <= 0 => Some(-v.toLong)
        case _ => None
      }
      n.filter(n => m >= 1 && n + m + 1 <= GlobalRankRule.MaxShift)
        .map(n => Slot(a, af, n.toInt, m))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case w: Window
        if conf.getConfString(EnabledKey, "true") != "false" &&
          w.partitionSpec.isEmpty && w.orderSpec.nonEmpty &&
          w.orderSpec.forall(_.child.deterministic) &&
          w.windowExpressions.nonEmpty && !PlanChecks.bounded(w.child) =>
      // a reject returns the same instance, so the batch reaches its
      // fixed point
      rewritten(w).getOrElse(w)
  }

  private def rewritten(w: Window): Option[LogicalPlan] = {
    val found = w.windowExpressions.map(slotOf)
    if (found.exists(_.isEmpty)) return None
    val slots = found.flatten
    // 1. slots for every non-column input and order key, evaluated on the
    // real side only. Above the Union every column is nullable (the padding
    // rows are null), so its references say so: orderings, the range
    // exchange's bounds and aggregates must null-check the padding rows
    val computed = scala.collection.mutable.ArrayBuffer.empty[Alias]
    def slotted(e: Expression): Attribute = (e match {
      case a: Attribute => a
      case _ =>
        computed.find(_.child.semanticEquals(e)).getOrElse {
          val a = Alias(e, s"__rf_in${computed.length}")()
          computed += a
          a
        }.toAttribute
    }).withNullability(true)
    val realA = Alias(Literal(true), "__rf_real")()
    val realRef = realA.toAttribute.withNullability(true)
    val order = SortOrder(realRef, Ascending, NullsLast, Nil) +:
      w.orderSpec.map(o => SortOrder(slotted(o.child), o.direction, o.nullOrdering, Nil))
    def inputs(af: AggregateFunction) = af.mapChildren {
      case l: Literal if !l.nullable && af.isInstanceOf[Count] => realRef
      case e => slotted(e)
    }.asInstanceOf[AggregateFunction]
    // 3a. the trailing (n+m)-row slides
    val trails = slots.zipWithIndex.map { case (s, j) =>
      val frame = SpecifiedWindowFrame(RowFrame, Literal(-(s.n + s.m)), CurrentRow)
      Alias(WindowExpression(
        AggregateExpression(inputs(s.af),
          Complete, isDistinct = false),
        WindowSpecDefinition(Nil, order, frame)), s"__rf_t$j")()
    }
    if (!GlobalRankRule.acceptsExpressions(trails)) return None
    // 3b. lead(·, m) of each slide
    val leads = slots.zip(trails).zipWithIndex.map { case ((s, t), j) =>
      val lead = Lead(t.toAttribute, Literal(s.m), Literal(null, t.dataType), false)
      Alias(WindowExpression(lead, WindowSpecDefinition(Nil, order, lead.frame)),
        s"__rf_l$j")()
    }
    // 2. real rows ∪ M padding rows ordered after them
    val real = Project(w.child.output ++ computed :+ realA, w.child)
    val padOut = real.output.map(a => AttributeReference(a.name, a.dataType)())
    val padRows = Seq.fill(slots.map(_.m).max)(
      InternalRow.fromSeq(Seq.fill(padOut.length)(null)))
    val union = Union(Seq(real, LocalRelation(padOut, padRows)))
    val leadWin = Window(leads, Nil, order,
      Window(trails, Nil, order, union))
    // 4. real rows only, the node's exact output
    val out = slots.zip(leads).map { case (s, l) =>
      val v = if (s.alias.nullable) l.toAttribute else KnownNotNull(l.toAttribute)
      Alias(v, s.alias.name)(exprId = s.alias.exprId, qualifier = s.alias.qualifier)
    }
    Some(Project(w.child.output ++ out,
      Filter(IsNotNull(realRef), leadWin)))
  }
}
