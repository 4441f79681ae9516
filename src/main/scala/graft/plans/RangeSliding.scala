package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Alias, Ascending, AttributeReference, Cast, Coalesce, CurrentRow, EqualTo,
  Expression, GreaterThan, If, IsNotNull, IsNull, LessThan, Literal,
  NamedExpression, NullsFirst, NumericEvalContext, RangeFrame, RowFrame,
  SortOrder, SpecifiedWindowFrame, Subtract, UnboundedFollowing,
  UnboundedPreceding, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Average, Complete, Count, Max, Sum}
import org.apache.spark.sql.catalyst.expressions.EvalMode
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Filter, LogicalPlan, Project, Union, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType,
  LongType, ShortType}

/** Auto-rewrite for the GLOBAL `RANGE BETWEEN n PRECEDING AND CURRENT ROW
  * | m FOLLOWING` sliding aggregate (raw SQL and DataFrame `rangeBetween`
  * alike) — the ghost-probe composition, applied in the optimizer so the
  * natural SQL everybody writes stops falling off the
  * single-partition-Window cliff (the [[GlobalRankRule]] mission, extended
  * to the one sliding family its in-exec ring cannot carry: a VALUE-bounded
  * frame reaches back an unbounded ROW count across partition boundaries).
  *
  * Rewrite, join-free (an optimizer rule cannot lean on the Dataset API's
  * self-join attribute deduplication):
  *
  *  1. UNION the input with NULL-valued GHOST rows per distinct non-null
  *     order key — one at the frame's exclusive lower threshold
  *     `k − n − 1`, and (for `m FOLLOWING` ends) one at the inclusive
  *     upper threshold `k + m` — each remembering the key it serves;
  *  2. ONE global running aggregate over `(sortKey, isGhost)` — rewritten
  *     by [[GlobalRankRule]] on the same fixed-point batch into the
  *     distributed [[GlobalRankExec]] — gives every probe its
  *     peer-inclusive prefix (every aggregate input is guarded
  *     `IF(isGhost, NULL, e)`, so ghosts contribute nothing — `count(*)`'s
  *     literal included); with a CURRENT ROW end the real rows' own lanes
  *     are the upper prefix and only the lower family spawns;
  *  3. a PARTITIONED window keyed by `coalesce(servedKey, sortKey)` —
  *     a plain hash-exchange WindowExec, no cliff — delivers each ghost's
  *     threshold prefix to exactly the rows it serves (the ghost lands in
  *     its served key's partition because that is what it remembers);
  *  4. the frame value is the exact difference upper − lower, a count lane
  *     deciding the SQL all-null-frame NULL; `AVG` emits through Spark's
  *     OWN `Average.evaluateExpression` with the frame sum/count
  *     substituted for the buffer attributes, so the decimal division +
  *     single HALF_UP rounding are bit-identical to the stock window;
  *     output aliases keep the original exprIds so downstream references
  *     resolve untouched.
  *
  * Scope (one unsupported sibling vetoes the node, the GlobalRankRule
  * doctrine): single `ORDER BY k ASC NULLS FIRST` with a deterministic
  * BIGINT key; every window expression over one shared (n, m) literal
  * frame; aggregates: `SUM` (decimal in both eval modes, integral in
  * legacy — see below), `COUNT`, and `AVG` over DECIMAL (exact sum lane at
  * Spark's own avg buffer type decimal(p+10, s) + count lane, emission
  * through the real `Average` arithmetic). Integral ANSI sums stay stock
  * (their exactness rests on wrap-around difference algebra; a checked
  * running prefix would throw where every stock frame sum fits);
  * float/double sums/avgs stay stock (prefix cancellation); min/max have
  * no inverse — [[RangeMinMaxRule]] carries them via block decomposition.
  * Null keys get exact SQL semantics: their frame is their null peer
  * group — no ghost; they read their own peer-inclusive lanes.
  *
  * Domain edges are guarded per key: a lower threshold that would
  * underflow BIGINT becomes a NULL-positioned ghost (nulls sort first, so
  * its prefix is exactly the null peer block both sides of the
  * subtraction share), and an upper threshold that would overflow clamps
  * to Long.MaxValue (nothing sorts above it). A frame width at the
  * representable edge (where `n + 1` itself overflows) vetoes the
  * rewrite.
  *
  * Corpus contract carried from the running-total family (e15): the
  * corpus-wide prefix must fit the sum's result type — decimal(p+10, s)
  * gives ten digits of headroom, the same contract any running total
  * already lives with (see [[EnabledKey]] for the escape hatch).
  *
  * RangeSlidingSpec pins bit-equality vs the kill-switched stock Window on
  * randomized tied/null corpora and the scope rejections;
  * `e19`/`e19b`/`e19c`/`e21`/`e21b` pin the DataFrame and raw-SQL faces
  * against DuckDB's native RANGE window engine.
  */
object RangeSlidingRule extends Rule[LogicalPlan] {

  /** Kill-switch, the [[GlobalRankRule.EnabledKey]] idiom. Also the
    * escape hatch for the rewrite's one inherited behavior change: a
    * DECIMAL sum's running prefix is corpus-wide, so decimal(p+10, s)
    * can overflow (null in legacy, throw in ANSI) on a corpus whose
    * every STOCK frame sum fits — the e15 running-total contract. A user
    * hitting unexplained nulls/overflows on a RANGE-frame sum disables
    * this key to get the stock single-partition plan back.
    */
  val EnabledKey = "spark.graft.rangeSliding.enabled"

  private def integral(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt == ByteType || dt == ShortType || dt == IntegerType || dt == LongType

  private[plans] sealed trait Kind
  private[plans] final case class SumK(ctx: NumericEvalContext) extends Kind
  private[plans] case object CountK extends Kind
  private[plans] final case class AvgK(avg: Average) extends Kind

  private[plans] final case class Slot(
      alias: Alias, input: Expression, kind: Kind, width: Long, follow: Long)

  /** The (n, m) of `RANGE BETWEEN n PRECEDING AND CURRENT ROW|m FOLLOWING`
    * — shared helper with [[RangeMinMaxRule]]. Widths at the representable
    * edge (n + 1 would overflow) are rejected.
    */
  private[plans] def frameBounds(
      lower: Expression, upper: Expression): Option[(Long, Long)] = {
    val width: Option[Long] = lower match {
      case Literal(v: Long, LongType) if v <= 0L && v > Long.MinValue + 1 => Some(-v)
      case Literal(v: Int, IntegerType) if v <= 0 => Some(-v.toLong)
      case CurrentRow => Some(0L)
      case _ => None
    }
    val follow: Option[Long] = upper match {
      case CurrentRow => Some(0L)
      case Literal(v: Long, LongType) if v >= 0L => Some(v)
      case Literal(v: Int, IntegerType) if v >= 0 => Some(v.toLong)
      case _ => None
    }
    for (n <- width; m <- follow) yield (n, m)
  }

  /** The aggregate-family half of the scope check (frame-independent). */
  private def kindOf(
      af: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction): Option[(Expression, Kind)] =
    af match {
      // decimal sums ride in BOTH eval modes: the exact subtraction
      // and the overflow contract match the stock frame sum up to the
      // corpus-prefix headroom (see the class doc). Integral sums are
      // LEGACY-only: their exactness rests on wrap-around difference
      // algebra, and an ANSI checked prefix would throw on running
      // overflow where every stock frame sum fits.
      case Sum(e, ctx) if e.deterministic && ctx.evalMode != EvalMode.TRY &&
          (e.dataType.isInstanceOf[DecimalType] ||
            (integral(e.dataType) && ctx.evalMode == EvalMode.LEGACY)) =>
        Some((e, SumK(ctx)))
      case Count(Seq(e)) if e.deterministic => Some((e, CountK))
      // AVG over DECIMAL: sum/count lanes are exact; emission rides
      // Spark's own Average arithmetic (fp averages stay stock —
      // their sum lane would cancel under subtraction)
      case avg @ Average(e, em) if e.deterministic &&
          em != EvalMode.TRY && e.dataType.isInstanceOf[DecimalType] =>
        Some((e, AvgK(avg)))
      case _ => None
    }

  private def slotOf(ne: NamedExpression): Option[Slot] =
    ne match {
      case a @ Alias(WindowExpression(
          AggregateExpression(af, _, false, None, _),
          WindowSpecDefinition(Nil, _,
            SpecifiedWindowFrame(RangeFrame, lower, upper))), _) =>
        for ((n, m) <- frameBounds(lower, upper); (e, k) <- kindOf(af))
          yield Slot(a, e, k, n, m)
      case _ => None
    }

  /** Whole-node acceptance for OTHER rules deciding whether handing this
    * rule a residual Window is safe: every expression a valid slot, one
    * shared frame.
    */
  private[plans] def acceptsExpressions(exprs: Seq[NamedExpression]): Boolean = {
    val slots = exprs.map(slotOf)
    exprs.nonEmpty && slots.forall(_.isDefined) &&
      slots.flatten.map(s => (s.width, s.follow)).distinct.length == 1
  }

  /** Shared order-key guard with [[RangeMinMaxRule]]: one global ASC
    * NULLS FIRST deterministic BIGINT key on an UNBOUNDED input.
    */
  private[plans] def globalLongOrder(w: Window): Boolean =
    w.partitionSpec.isEmpty && w.orderSpec.length == 1 &&
      w.orderSpec.head.direction == Ascending &&
      w.orderSpec.head.nullOrdering == NullsFirst &&
      w.orderSpec.head.child.dataType == LongType &&
      w.orderSpec.head.child.deterministic &&
      w.windowExpressions.nonEmpty &&
      !PlanChecks.bounded(w.child)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case w: Window
        if conf.getConfString(EnabledKey, "true") != "false" &&
          globalLongOrder(w) && {
            val slots = w.windowExpressions.map(slotOf)
            slots.forall(_.isDefined) &&
              slots.flatten.map(s => (s.width, s.follow)).distinct.length == 1
          } =>
      rewrite(w)
  }

  private def rewrite(w: Window): LogicalPlan = {
    val k = w.orderSpec.head.child
    val slots = w.windowExpressions.map(ne => slotOf(ne).get)
    val width = slots.head.width
    val follow = slots.head.follow
    val child = w.child

    // rows ∪ ghost families: one ghost per distinct non-null key per family
    val sortA = Alias(k, "__rw_sort")()
    val forNullA = Alias(Literal(null, LongType), "__rw_for")()
    val famZeroA = Alias(Literal(0), "__rw_fam")()
    val gZeroA = Alias(Literal(0), "__rw_g")()
    val reals = Project(
      child.output ++ Seq(sortA, forNullA, famZeroA, gZeroA), child)
    val keyA = Alias(k, "__rw_key")()
    val keyed = Project(Seq(keyA), Filter(IsNotNull(k), child))
    val kAttr = keyA.toAttribute
    val distinctKeys = Aggregate(Seq(kAttr), Seq(kAttr), keyed)
    def ghostsOf(pos: Expression, fam: Int) = Project(
      child.output.map(a => Alias(Literal(null, a.dataType), a.name)()) ++ Seq(
        Alias(pos, "__rw_sort")(),
        Alias(kAttr, "__rw_for")(),
        Alias(Literal(fam), "__rw_fam")(),
        Alias(Literal(1), "__rw_g")()),
      distinctKeys)
    // Lower ghost position k − n − 1 with an UNDERFLOW guard: for keys
    // within n + 1 of Long.MinValue the true threshold sits below every
    // representable key, i.e. the frame reaches the row's ENTIRE prefix —
    // a NULL sort position gives exactly that (nulls sort first, the
    // ghost's prefix is the null peer block the minuend carries too, so
    // the subtraction cancels it). Unguarded, the subtraction would wrap
    // in legacy mode (silently wrong frames) or throw in ANSI where the
    // stock Window succeeds.
    val lowerPos: Expression = {
      val minSafe = Literal(java.lang.Long.MIN_VALUE + width + 1L)
      If(LessThan(kAttr, minSafe), Literal(null, LongType),
        Subtract(kAttr, Literal(width + 1L)))
    }
    // Upper ghost position k + m (inclusive, m FOLLOWING ends only) with
    // an OVERFLOW clamp to Long.MaxValue: nothing sorts above it, so its
    // peer-inclusive prefix IS the frame's top.
    val upperPos: Expression = {
      val maxSafe = Literal(java.lang.Long.MAX_VALUE - follow)
      If(GreaterThan(kAttr, maxSafe), Literal(Long.MaxValue),
        org.apache.spark.sql.catalyst.expressions.Add(kAttr, Literal(follow)))
    }
    val union =
      if (follow == 0L) Union(Seq(reals, ghostsOf(lowerPos, 1)))
      else Union(Seq(reals, ghostsOf(lowerPos, 1), ghostsOf(upperPos, 2)))
    val sortRef = sortA.toAttribute
    val forRef = forNullA.toAttribute
    val famRef = famZeroA.toAttribute
    val gRef = gZeroA.toAttribute

    // one global running window (GlobalRankRule's food) with guarded inputs
    val runSpec = WindowSpecDefinition(Nil,
      Seq(SortOrder(sortRef, Ascending), SortOrder(gRef, Ascending)),
      SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, CurrentRow))
    def guarded(e: Expression): Expression =
      If(EqualTo(gRef, Literal(1)), Literal(null, e.dataType), e)
    // sum lanes: SumK sums its input as-is; AvgK sums at Spark's own avg
    // buffer type decimal(p+10, s) — the input cast is exact (same scale,
    // wider precision) and keeps the difference on the buffer's terms
    val sLanes: Seq[Option[Alias]] = slots.zipWithIndex.map {
      case (Slot(_, e, SumK(ctx), _, _), j) =>
        Some(Alias(WindowExpression(
          AggregateExpression(Sum(guarded(e), ctx), Complete, isDistinct = false),
          runSpec), s"__rw_s$j")())
      case (Slot(_, e, AvgK(avg), _, _), j) =>
        Some(Alias(WindowExpression(
          AggregateExpression(
            Sum(guarded(Cast(e, avg.sum.dataType)),
              NumericEvalContext.fromSQLConf(conf).copy(evalMode = avg.evalMode)),
            Complete, isDistinct = false),
          runSpec), s"__rw_s$j")())
      case _ => None
    }
    val cLanes: Seq[Alias] = slots.zipWithIndex.map { case (Slot(_, e, _, _, _), j) =>
      Alias(WindowExpression(
        AggregateExpression(Count(Seq(guarded(e))), Complete, isDistinct = false),
        runSpec), s"__rw_c$j")()
    }
    val runWin = Window(sLanes.flatten ++ cLanes, Nil, runSpec.orderSpec, union)

    // threshold delivery: a PARTITIONED window keyed by the served key —
    // the ghost remembers it, the reals ARE it
    val k2A = Alias(Coalesce(Seq(forRef, sortRef)), "__rw_k2")()
    val withK2 = Project(runWin.output ++ Seq(k2A), runWin)
    val k2Ref = k2A.toAttribute
    val partSpec = WindowSpecDefinition(Seq(k2Ref), Nil,
      SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing))
    def famOnly(fam: Int, e: Expression): Expression =
      If(EqualTo(famRef, Literal(fam)), e, Literal(null, e.dataType))
    def pick(fam: Int, e: Expression, name: String): Alias =
      Alias(WindowExpression(
        AggregateExpression(Max(famOnly(fam, e)), Complete, isDistinct = false),
        partSpec), name)()
    val tsL: Seq[Option[Alias]] = sLanes.zipWithIndex.map {
      case (Some(s), j) => Some(pick(1, s.toAttribute, s"__rw_tsl$j"))
      case (None, _) => None
    }
    val tcL: Seq[Alias] = cLanes.zipWithIndex.map { case (c, j) =>
      pick(1, c.toAttribute, s"__rw_tcl$j")
    }
    val tsU: Seq[Option[Alias]] =
      if (follow == 0L) Seq.fill(slots.length)(None)
      else sLanes.zipWithIndex.map {
        case (Some(s), j) => Some(pick(2, s.toAttribute, s"__rw_tsu$j"))
        case (None, _) => None
      }
    val tcU: Seq[Option[Alias]] =
      if (follow == 0L) Seq.fill(slots.length)(None)
      else cLanes.zipWithIndex.map { case (c, j) =>
        Some(pick(2, c.toAttribute, s"__rw_tcu$j"))
      }
    val deliverWin = Window(
      (tsL ++ tsU).flatten ++ tcL ++ tcU.flatten, Seq(k2Ref), Nil, withK2)

    // drop the ghosts, emit the exact differences under the ORIGINAL ids.
    // Upper prefix: the row's own peer-inclusive lane when the frame ends
    // at CURRENT ROW; the delivered upper-ghost lane for m FOLLOWING —
    // except null keys, whose SQL frame IS their null peer group (their
    // own lanes), and which no ghost serves.
    val realRows = Filter(EqualTo(gRef, Literal(0)), deliverWin)
    val outAggs: Seq[NamedExpression] = slots.zipWithIndex.map {
      case (Slot(a, _, kind, _, _), j) =>
        val cRef = cLanes(j).toAttribute
        def ownOr(own: Expression, up: Option[Expression]): Expression =
          up match {
            case None => own
            case Some(u) => If(IsNull(sortRef), own, u)
          }
        val frameCnt = Subtract(
          ownOr(cRef, tcU(j).map(_.toAttribute)),
          Coalesce(Seq(tcL(j).toAttribute, Literal(0L))))
        val value: Expression = kind match {
          case CountK => frameCnt
          case _ =>
            val sRef = sLanes(j).get.toAttribute
            val diff = Subtract(
              ownOr(sRef, tsU(j).map(_.toAttribute)),
              Coalesce(Seq(tsL(j).get.toAttribute,
                Cast(Literal(0L), sRef.dataType))))
            kind match {
              case SumK(_) =>
                val resT = a.child.dataType
                val sized = if (diff.dataType == resT) diff else Cast(diff, resT)
                If(EqualTo(frameCnt, Literal(0L)), Literal(null, resT), sized)
              case AvgK(avg) =>
                // Spark's own Average emission with the frame sum/count
                // substituted for the buffer attributes: identical
                // overflow check, scale-38 division, ONE HALF_UP rounding
                val sumT = avg.sum.dataType
                val frameSum = If(EqualTo(frameCnt, Literal(0L)),
                  Literal(null, sumT), Cast(diff, sumT))
                avg.evaluateExpression.transform {
                  case ar: AttributeReference if ar.exprId == avg.sum.exprId =>
                    frameSum
                  case ar: AttributeReference if ar.exprId == avg.count.exprId =>
                    frameCnt
                }
              case CountK => frameCnt // unreachable; keeps match exhaustive
            }
        }
        Alias(value, a.name)(exprId = a.exprId, qualifier = a.qualifier)
    }
    Project(child.output ++ outAggs, realRows)
  }
}
