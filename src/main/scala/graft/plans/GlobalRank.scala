package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, AttributeSet, Cast, CumeDist, CurrentRow, DenseRank,
  EvalMode, Expression, GenericInternalRow, JoinedRow, Lag, Lead, Literal,
  NamedExpression, NthValue, NTile, PercentRank, Rank, RangeFrame, RowFrame,
  RowNumber, RowOrdering, SortOrder, SpecifiedWindowFrame,
  UnboundedPreceding, UnsafeProjection, WindowExpression,
  WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Average, Count, First, Last, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode, Window}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, Decimal,
  DoubleType, FloatType, IntegerType, LongType, ShortType}

/** Which window function a [[GlobalRankNode]] column computes.
  *
  * Four families:
  *  - POSITIONAL (`row_number`, `ntile`): the value is a pure function of
  *    the row's global ordinal (and the total count).
  *  - TIE-AWARE BACKWARD (`rank`, `dense_rank`, `percent_rank`): the value
  *    depends on order-key equality with PEERS BEFORE the row, which a
  *    range partitioning can split across partition boundaries — the
  *    exec's stats job collects each partition's boundary keys and
  *    tie-run lengths so the driver can stitch cross-partition tie CHAINS
  *    (a run spanning any number of whole partitions) into exact ranks.
  *  - TIE-AWARE FORWARD (`cume_dist`, RANGE-frame prefix aggregates): the
  *    value needs the END of the row's tie run — rows buffer until their
  *    run closes (O(run length), never O(partition) unless the order key
  *    is one giant tie — still strictly better than the stock Window's
  *    O(corpus) single task), and the trailing run's end/aggregate is
  *    stitched FORWARD through the driver (each partition's leading-run
  *    length + leading-run aggregate partials).
  *  - PREFIX AGGREGATES (`sum/min/max/count/avg OVER (ORDER BY …)`): the
  *    running total. ROWS UNBOUNDED PRECEDING..CURRENT ROW emits per-row
  *    at arrival; the SQL-DEFAULT RANGE frame is peer-inclusive, so it is
  *    forward tie-aware (above). Per-partition aggregate partials flow
  *    through the stats job; each partition starts from the merged carry
  *    of everything before it.
  */
sealed trait GlobalRankFunc
object GlobalRankFunc {
  case object RowNum extends GlobalRankFunc
  case class Tile(n: Int) extends GlobalRankFunc
  case object Rnk extends GlobalRankFunc
  case object DenseRnk extends GlobalRankFunc
  case object PctRank extends GlobalRankFunc
  /** `cume_dist()`: (global ordinal of the row's tie-run END) / total. */
  case object Cume extends GlobalRankFunc
  /** A running aggregate over the global order. `inputIdx` points into the
    * node's `shiftInputs` (the shared plan-visible input slot list — see
    * [[Shift]] for why inputs live there); the RULE pre-casts the input to
    * the accumulation type, so the exec reads one primitive per row.
    * `perRow` = ROWS frame (emit at arrival); false = RANGE frame (emit at
    * tie-run close, peers share the run-end value — the SQL default).
    */
  case class PrefixAgg(inputIdx: Int, kind: AggKind, perRow: Boolean)
      extends GlobalRankFunc
  /** A SLIDING aggregate over `ROWS BETWEEN k PRECEDING AND CURRENT ROW`
    * (the global moving average/total): sum/count/avg run a windowed
    * accumulator that ADDS the arriving value and RETRACTS the value
    * leaving the frame — the leaving value comes from the same ring +
    * driver-stitched boundary values the shift family reads (a sliding
    * agg is "lag values, folded") — while min/max, which cannot retract,
    * run the classic MONOTONIC DEQUE (dominated tail entries popped on
    * push, expired head entries evicted by index; O(1) amortized, O(k)
    * state). Either way there is no carry, no run-close, emission is at
    * arrival, and `k + 1 <= MaxShift` bounds the driver traffic exactly
    * as for shifts.
    */
  case class SlideAgg(inputIdx: Int, kind: AggKind, k: Int)
      extends GlobalRankFunc

  /** The aggregate arithmetic a [[PrefixAgg]] runs. The numeric kinds
    * (sum/count/min/max/avg-pair) have COMMUTATIVE+ASSOCIATIVE merges;
    * the positional kinds (first/last/nth) are ORDER-SENSITIVE and lean on
    * the exec's universal left-to-right fold order (carries fold
    * partitions ascending, run chains absorb forward) — both laws are
    * spec-pinned separately. Result types mirror Spark's own
    * (GlobalRankSpec pins bit-equality): sum(int family)=LONG,
    * sum(float/double)=DOUBLE, sum(decimal(p,s))=decimal(p+10,s) with
    * null-on-overflow, count=LONG (never null), min/max=input type,
    * avg(non-decimal)=DOUBLE, avg(decimal(p,s))=decimal(p+4,s+4),
    * first/last/nth=input type.
    */
  sealed trait AggKind
  object AggKind {
    /** `ansi` mirrors the matched Sum's evalMode: checked arithmetic that
      * THROWS on overflow (the stock ANSI Window's behavior) vs the
      * legacy wrap (long) / null (decimal).
      */
    case class SumLong(ansi: Boolean) extends AggKind
    case object SumDouble extends AggKind
    case class SumDecimal(precision: Int, scale: Int, ansi: Boolean) extends AggKind
    case object Cnt extends AggKind
    case class MinMax(isMin: Boolean) extends AggKind
    case object AvgDouble extends AggKind
    /** `avg(decimal(p, s))`: exact BigDecimal sum + count, divided at
      * emission through Spark's own decimal `Average` arithmetic (sum
      * overflow check at decimal(p+10, s), division typed by the
      * precision-loss rules, final cast to decimal(p+4, s+4)) — pinned
      * bit-identical to the stock Window in GlobalRankSpec.
      */
    case class AvgDecimal(p: Int, s: Int, ansi: Boolean) extends AggKind
    /** `first_value`/`last_value` over a prefix frame. ORDER-SENSITIVE
      * merges (earlier-partial-first is the exec's invariant everywhere —
      * carries fold partitions left-to-right, run chains absorb forward);
      * these two are the only kinds that RELY on it, so they are excluded
      * from the shuffled commutativity law and pinned by an in-order law
      * instead.
      */
    case class FirstVal(ignoreNulls: Boolean) extends AggKind
    case class LastVal(ignoreNulls: Boolean) extends AggKind
    /** `nth_value(x, n)` over a prefix frame: the n-th qualifying frame row
      * (all rows, or non-null rows under IGNORE NULLS); null while the
      * frame holds fewer. Partials carry each partition's first ≤ n
      * qualifying values — O(#partitions × n) driver traffic, which is why
      * the rule bounds n by MaxShift. Merges are order-sensitive like
      * first/last. (Spark itself rewrites `first_value` over a ROWS prefix
      * frame into `nth_value(x, 1)`, so this kind also carries that face.)
      */
    case class NthVal(n: Int, ignoreNulls: Boolean) extends AggKind
  }
  /** Global time-series shift (`lag`/`lead` with a literal offset and
    * literal default, ignoreNulls=false): the SHIFT family. `inputIdx`
    * points into the node's `shiftInputs` field — the shifted expressions
    * live THERE, as first-class plan expressions, so attribute rewrites
    * and reference tracking see them (an Expression buried inside this
    * ADT would be invisible to `QueryPlan.expressions`). Lag reads `k`
    * rows back, lead `k` rows ahead; boundary values flow through the
    * stats job (each partition ships its first/last `k` input values) and
    * the driver stitches the cross-partition neighbor windows —
    * O(#partitions × k) traffic, which is why the rule bounds `k`.
    */
  case class Shift(inputIdx: Int, k: Int, default: Any, isLag: Boolean)
      extends GlobalRankFunc
}

/** OPTIMIZER-DRIVEN distributed global ranking.
  *
  * `row_number() OVER (ORDER BY …)` / `ntile(k) OVER (ORDER BY …)` with no
  * PARTITION BY plans a SINGLE-PARTITION Window — every row of the corpus
  * funnels through one task, the hard scale cliff [[PlanChecks]] lints
  * against. A user writing the natural global window (raw SQL or the
  * DataFrame `over`) falls off that cliff. [[GlobalRankRule]] closes it
  * the way [[RangeJoinBinningRule]] did for keyless range joins — the cliff shape
  * is rewritten in the optimizer, so the SQL text stays the standard SQL
  * everybody writes.
  *
  * The rewrite targets exactly the lint's definition of the cliff: empty
  * partition spec AND an input not provably bounded (rank-the-aggregate
  * shapes keep their stock Window — tiny inputs gain nothing and existing
  * plans stay byte-stable). Every window expression in the node must be a
  * supported function — the rank family (`row_number`/`ntile(lit)`/`rank`/
  * `dense_rank`/`percent_rank`/`cume_dist`), bounded-literal `lag`/`lead`,
  * a running aggregate (`sum`/`min`/`max`/`count`/`avg` — decimal `avg`
  * included — over `[ROWS|RANGE] UNBOUNDED PRECEDING..CURRENT ROW` —
  * RANGE being the SQL default frame, so the plain
  * `SUM(x) OVER (ORDER BY ts)` running total rides this path), a
  * positional value over the same prefix frames (`first_value`/
  * `last_value`, both IGNORE NULLS variants, and `nth_value(x, lit n)`
  * with n ≤ MaxShift), or a SLIDING aggregate (`sum`/`count`/`avg` over
  * `ROWS BETWEEN k PRECEDING AND CURRENT ROW`, k ≤ MaxShift−1 — the
  * global moving average, retract-based over the shift boundary lane);
  * one unsupported sibling vetoes the whole node (a half-rewrite would
  * need two global orderings). Remaining reject list: sliding RANGE
  * frames, FOLLOWING frame ends, float/double sliding sum/avg (fp
  * cancellation), multi-argument aggregates (stddev/corr), DISTINCT and
  * FILTER clauses — all still caught by the PlanChecks lint.
  *
  * Physical shape ([[GlobalRankExec]]): declares
  * `OrderedDistribution(orderSpec)` + per-partition sort — exactly a
  * global SORT's exchange envelope (range-partition then sort, every
  * partition order-contiguous), so EnsureRequirements/AQE own the
  * exchange. The merge is then embarrassingly parallel: one stats job
  * over the SAME materialized shuffle (the exchange's dependency is
  * created once, so the sampled range bounds CANNOT drift between the
  * stats job and the output job — the rdd.id-seeded drift class the 10×
  * gate caught in round 7) yields per-partition offsets — plus, for the
  * tie-aware functions, each partition's boundary keys and tie-run
  * lengths, which the driver stitches into cross-partition tie CHAINS —
  * and each partition then streams its ranks with O(1) state — except the
  * FORWARD tie-aware functions (`cume_dist`, RANGE-frame running
  * aggregates), whose rows buffer until their tie run closes: O(tie
  * multiplicity) state, the irreducible cost of peer-inclusive semantics,
  * still never O(partition) on any realistic order key. No single-task
  * stage anywhere; driver traffic is O(#partitions) longs plus two
  * boundary keys and #agg-slot partials per partition. The stats pass
  * re-reads the shuffle and re-runs the partition sort (zipWithIndex's
  * two-job shape; see the doExecute comment for why that beats
  * materializing the sorted corpus) — still a constant factor, never a
  * cliff.
  *
  * Semantics parity (spec-pinned): ordinals are identical to the stock
  * single-partition Window on any TOTAL order; on ties `row_number`
  * emits some valid permutation within the tie group (the stock Window's
  * own order is partition-arrival-dependent) while `rank`/`dense_rank`/
  * `percent_rank` are tie-EXACT (peers share one value, so they are
  * deterministic even on non-total orders, matching the stock Window
  * bit-for-bit). `ntile` follows the SQL-standard remainder rule — first
  * `n % k` tiles get one extra row — bit-identical to Spark's `NTile`
  * and to DuckDB's (c8b's cross-engine oracle). Output types match
  * Spark's own functions (INT; DOUBLE for percent_rank).
  */
case class GlobalRankNode(
    child: LogicalPlan,
    orderSpec: Seq[SortOrder],
    ranks: Seq[(Attribute, GlobalRankFunc)],
    shiftInputs: Seq[Expression] = Nil)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ ranks.map(_._1)
  override def producedAttributes: AttributeSet = AttributeSet(ranks.map(_._1))
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

/** Rewrites the cliff-shaped Window ([[PlanChecks.unboundedGlobalWindows]]'
  * exact definition) into [[GlobalRankNode]] when every window expression
  * is a supported rank function. Runs in the user batch, after
  * pruning/pushdown.
  */
object GlobalRankRule extends Rule[LogicalPlan] {

  /** Runtime kill-switch: registration (`ensureRegistered` / extensions)
    * is session-wide and permanent, so comparators that must measure
    * Spark's STOCK single-partition Window — twin gates, independence
    * checks — can disable the rewrite for one evaluation via
    * `spark.conf.set(EnabledKey, "false")` / try-finally, instead of the
    * per-site bounded-input idiom.
    */
  val EnabledKey = "spark.graft.globalRank.enabled"

  // intermediate: Plain = no input expression, WithInput = func waiting
  // for its input-expression slot in the node's shiftInputs field
  private sealed trait Conv
  private case class Plain(f: GlobalRankFunc) extends Conv
  private case class WithInput(in: Expression, mk: Int => GlobalRankFunc)
      extends Conv

  private def funcOf(ne: NamedExpression): Option[(Alias, Conv)] =
    ne match {
      case a @ Alias(WindowExpression(RowNumber(), _), _) =>
        Some((a, Plain(GlobalRankFunc.RowNum)))
      case a @ Alias(WindowExpression(NTile(Literal(n: Int, IntegerType)), _), _)
          if n > 0 =>
        Some((a, Plain(GlobalRankFunc.Tile(n))))
      case a @ Alias(WindowExpression(_: Rank, _), _) =>
        Some((a, Plain(GlobalRankFunc.Rnk)))
      case a @ Alias(WindowExpression(_: DenseRank, _), _) =>
        Some((a, Plain(GlobalRankFunc.DenseRnk)))
      case a @ Alias(WindowExpression(_: PercentRank, _), _) =>
        Some((a, Plain(GlobalRankFunc.PctRank)))
      case a @ Alias(WindowExpression(_: CumeDist, _), _) =>
        Some((a, Plain(GlobalRankFunc.Cume)))
      // shift family: literal offset (bounded — boundary values travel
      // through the driver at O(#partitions × k)), literal default,
      // ignoreNulls=false only (ignoreNulls needs unbounded lookback),
      // DETERMINISTIC input only (the stats job and the output job each
      // evaluate it; a non-deterministic input would make boundary values
      // disagree with the rows' own evaluations)
      case a @ Alias(WindowExpression(
          Lag(in, Literal(k: Int, IntegerType), d: Literal, false), _), _)
          if k >= 0 && k <= MaxShift && in.deterministic =>
        Some((a, WithInput(in,
          i => GlobalRankFunc.Shift(i, k, d.value, isLag = true))))
      case a @ Alias(WindowExpression(
          Lead(in, Literal(k: Int, IntegerType), d: Literal, false), _), _)
          if k >= 0 && k <= MaxShift && in.deterministic =>
        // k == 0 normalizes to the lag side: a zero shift is the current
        // row's value, which the arrival path computes (a lead slot is
        // only filled at pop, and a lead-0-only node never enters the
        // delay-line path at all)
        Some((a, WithInput(in,
          i => GlobalRankFunc.Shift(i, k, d.value, isLag = k == 0))))
      // prefix aggregates: sum/min/max/count/avg over exactly the two
      // running-total frames ([ROWS|RANGE] UNBOUNDED PRECEDING..CURRENT
      // ROW — RANGE is the SQL default when only ORDER BY is written).
      // No DISTINCT, no FILTER clause, deterministic input (evaluated by
      // both jobs, as for shifts). The input is pre-cast to the
      // accumulation type HERE so the exec reads one primitive per row
      // and the result type is Spark's own (the alias keeps it).
      case a @ Alias(WindowExpression(
          AggregateExpression(af, _, false, None, _),
          WindowSpecDefinition(_, _,
            SpecifiedWindowFrame(ft, UnboundedPreceding, CurrentRow))), _) =>
        val perRow = ft == RowFrame
        import GlobalRankFunc.{AggKind, PrefixAgg}
        val conv: Option[WithInput] = af match {
          // evalMode rides into the kind: under ANSI the accumulators use
          // checked arithmetic (overflow throws, as the stock Window
          // would) instead of silently wrapping/nulling; TRY stays stock
          case Sum(e, ctx) if e.deterministic && ctx.evalMode != EvalMode.TRY =>
            e.dataType match {
              case ByteType | ShortType | IntegerType | LongType =>
                Some(WithInput(Cast(e, LongType),
                  i => PrefixAgg(i, AggKind.SumLong(ctx.evalMode == EvalMode.ANSI), perRow)))
              case FloatType | DoubleType =>
                Some(WithInput(Cast(e, DoubleType),
                  i => PrefixAgg(i, AggKind.SumDouble, perRow)))
              case _: DecimalType =>
                // af.dataType is Spark's sum result type decimal(p+10, s);
                // casting each input to it is exact and makes the partial
                // arithmetic carry the result's precision from the start
                val rt = af.dataType.asInstanceOf[DecimalType]
                Some(WithInput(Cast(e, rt),
                  i => PrefixAgg(i,
                    AggKind.SumDecimal(rt.precision, rt.scale,
                      ctx.evalMode == EvalMode.ANSI),
                    perRow)))
              case _ => None
            }
          case Average(e, em) if e.deterministic && em != EvalMode.TRY =>
            e.dataType match {
              case ByteType | ShortType | IntegerType | LongType |
                FloatType | DoubleType =>
                Some(WithInput(Cast(e, DoubleType),
                  i => PrefixAgg(i, AggKind.AvgDouble, perRow)))
              case dt: DecimalType =>
                // accumulate at Spark's avg sum type decimal(p+10, s) —
                // input casts are exact; the Acc owns the division + the
                // result cast (Spark's own precision arithmetic)
                val sumT = DecimalType(math.min(dt.precision + 10, 38), dt.scale)
                Some(WithInput(Cast(e, sumT),
                  i => PrefixAgg(i,
                    AggKind.AvgDecimal(dt.precision, dt.scale,
                      em == EvalMode.ANSI), perRow)))
              case _ => None
            }
          case Min(e) if e.deterministic && RowOrdering.isOrderable(e.dataType) =>
            Some(WithInput(e, i => PrefixAgg(i, AggKind.MinMax(isMin = true), perRow)))
          case Max(e) if e.deterministic && RowOrdering.isOrderable(e.dataType) =>
            Some(WithInput(e, i => PrefixAgg(i, AggKind.MinMax(isMin = false), perRow)))
          case Count(Seq(e)) if e.deterministic =>
            // count(*) analyzes to Count(1): a non-null literal counts
            // every row, exactly SQL's count(*)
            Some(WithInput(e, i => PrefixAgg(i, AggKind.Cnt, perRow)))
          // first_value/last_value over a prefix frame: the degenerate
          // running aggregates (carry one value). RANGE semantics ride the
          // run-close lane — last_value's peers share the run-END value,
          // exactly the stock Window's peer-inclusive contract. Both
          // ignoreNulls variants are exact (the accumulator sees every
          // frame row in order). Deterministic input, as for every kind.
          case First(e, ignoreNulls) if e.deterministic =>
            Some(WithInput(e, i => PrefixAgg(i, AggKind.FirstVal(ignoreNulls), perRow)))
          case Last(e, ignoreNulls) if e.deterministic =>
            Some(WithInput(e, i => PrefixAgg(i, AggKind.LastVal(ignoreNulls), perRow)))
          case _ => None
        }
        conv.map((a, _))
      // nth_value over a prefix frame (Spark plans it BARE, not inside an
      // AggregateExpression — and rewrites first_value over ROWS prefix
      // frames into nth_value(x, 1) itself). Literal n bounded by MaxShift:
      // each partition ships its first ≤ n qualifying values.
      case a @ Alias(WindowExpression(
          NthValue(in, Literal(nth: Int, IntegerType), ignoreNulls),
          WindowSpecDefinition(_, _,
            SpecifiedWindowFrame(ft, UnboundedPreceding, CurrentRow))), _)
          if nth >= 1 && nth <= MaxShift && in.deterministic =>
        Some((a, WithInput(in, i => GlobalRankFunc.PrefixAgg(i,
          GlobalRankFunc.AggKind.NthVal(nth, ignoreNulls), ft == RowFrame))))
      // SLIDING aggregates: ROWS BETWEEN k PRECEDING AND CURRENT ROW over
      // the INVERTIBLE kinds (the windowed accumulator retracts the value
      // leaving the frame — min/max cannot). Bounded k: the frame's tail
      // reads k+1 ring positions and each partition ships k boundary
      // values through the driver, the shift family's exact envelope.
      case a @ Alias(WindowExpression(
          AggregateExpression(af, _, false, None, _),
          WindowSpecDefinition(_, _,
            SpecifiedWindowFrame(RowFrame, Literal(lo: Int, IntegerType), CurrentRow))), _)
          if lo < 0 && -lo + 1 <= MaxShift =>
        val k = -lo
        import GlobalRankFunc.{AggKind, SlideAgg}
        val conv: Option[WithInput] = af match {
          // float/double sliding sum/avg stay STOCK: the stock Window
          // recomputes each frame, while a retracting accumulator can
          // cancel catastrophically ([1e17, 1, 1] at k=1: recompute says
          // 2.0, add/retract says 0.0). Integral and decimal retractions
          // are exact, so only the fp kinds are vetoed.
          case Sum(e, ctx) if e.deterministic && ctx.evalMode != EvalMode.TRY =>
            e.dataType match {
              case ByteType | ShortType | IntegerType | LongType =>
                Some(WithInput(Cast(e, LongType),
                  i => SlideAgg(i, AggKind.SumLong(ctx.evalMode == EvalMode.ANSI), k)))
              case _: DecimalType =>
                val rt = af.dataType.asInstanceOf[DecimalType]
                Some(WithInput(Cast(e, rt),
                  i => SlideAgg(i,
                    AggKind.SumDecimal(rt.precision, rt.scale,
                      ctx.evalMode == EvalMode.ANSI), k)))
              case _ => None
            }
          case Average(e, em) if e.deterministic && em != EvalMode.TRY =>
            e.dataType match {
              // integral inputs stay exact in a double accumulator (every
              // value and windowed sum is a dyadic integer < 2^53
              // territory); float/double inputs hit the cancellation veto
              // above; decimal retractions are exact, so the sliding
              // decimal avg rides the same windowed accumulator
              case ByteType | ShortType | IntegerType | LongType =>
                Some(WithInput(Cast(e, DoubleType),
                  i => SlideAgg(i, AggKind.AvgDouble, k)))
              case dt: DecimalType =>
                val sumT = DecimalType(math.min(dt.precision + 10, 38), dt.scale)
                Some(WithInput(Cast(e, sumT),
                  i => SlideAgg(i,
                    AggKind.AvgDecimal(dt.precision, dt.scale,
                      em == EvalMode.ANSI), k)))
              case _ => None
            }
          case Count(Seq(e)) if e.deterministic =>
            Some(WithInput(e, i => SlideAgg(i, AggKind.Cnt, k)))
          // min/max cannot retract, but a k-bounded frame admits the
          // classic monotonic deque (O(1) amortized, O(k) state) — the
          // exec branches on the kind
          case Min(e) if e.deterministic && RowOrdering.isOrderable(e.dataType) =>
            Some(WithInput(e, i => SlideAgg(i, AggKind.MinMax(isMin = true), k)))
          case Max(e) if e.deterministic && RowOrdering.isOrderable(e.dataType) =>
            Some(WithInput(e, i => SlideAgg(i, AggKind.MinMax(isMin = false), k)))
          case _ => None
        }
        conv.map((a, _))
      case _ => None
    }

  /** Shift offsets above this stay on the stock plan: each partition ships
    * `k` boundary values through the driver, so the bound keeps that
    * traffic at O(#partitions × 1024) worst case.
    */
  val MaxShift = 1024

  /** Whole-node acceptance for OTHER rules ([[RowsFollowingRule]]'s
    * trailing-slide cascade) deciding whether this rule will take the
    * node: every window expression a supported rank/shift/prefix/slide
    * function.
    */
  private[plans] def acceptsExpressions(exprs: Seq[NamedExpression]): Boolean =
    exprs.nonEmpty && exprs.forall(funcOf(_).isDefined)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case w: Window
        if conf.getConfString(EnabledKey, "true") != "false" &&
          w.partitionSpec.isEmpty && w.orderSpec.nonEmpty &&
          w.windowExpressions.nonEmpty &&
          w.windowExpressions.forall(funcOf(_).isDefined) &&
          !PlanChecks.bounded(w.child) =>
      val inputs = scala.collection.mutable.ArrayBuffer.empty[Expression]
      val ranks = w.windowExpressions.map { ne =>
        funcOf(ne).get match {
          // SAME exprIds — upstream references stay valid
          case (a, Plain(f)) => (a.toAttribute, f)
          case (a, WithInput(in, mk)) =>
            val idx = inputs.indexWhere(_.semanticEquals(in)) match {
              case -1 => inputs += in; inputs.length - 1
              case i => i
            }
            (a.toAttribute, mk(idx))
        }
      }
      GlobalRankNode(w.child, w.orderSpec, ranks, inputs.toSeq)
  }
}

/** Plans [[GlobalRankNode]] → [[GlobalRankExec]]. */
object GlobalRankStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GlobalRankNode(child, order, ranks, shiftInputs) =>
      GlobalRankExec(order, ranks, planLater(child), shiftInputs) :: Nil
    case _ => Nil
  }
}

case class GlobalRankExec(
    orderSpec: Seq[SortOrder],
    ranks: Seq[(Attribute, GlobalRankFunc)],
    child: SparkPlan,
    shiftInputs: Seq[Expression] = Nil)
    extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def output: Seq[Attribute] = child.output ++ ranks.map(_._1)
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(orderSpec) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(orderSpec)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = orderSpec

  override protected def doExecute(): RDD[InternalRow] = {
    import GlobalRankExec.{Acc, PartCtx, PartStats, Unfilled}
    val numOutputRows = longMetric("numOutputRows")
    val childRDD = child.execute()
    val funcs = ranks.map(_._2).toArray
    val childOut = child.output
    val rankAttrs = ranks.map(_._1)
    val outAttrs = output
    val keyExprs = orderSpec.map(_.child)
    val keyTypes = keyExprs.map(_.dataType)
    // tie-aware functions need order-key equality across partition
    // boundaries; positional ones only need counts; shifts need boundary
    // VALUES of their input expressions; aggregates need per-partition
    // partials (and RANGE frames + cume_dist, being FORWARD tie-aware,
    // additionally need each partition's leading-run length/partials)
    val needKeys = funcs.exists {
      case GlobalRankFunc.RowNum | GlobalRankFunc.Tile(_) |
        GlobalRankFunc.Shift(_, _, _, _) | GlobalRankFunc.SlideAgg(_, _, _) => false
      case GlobalRankFunc.PrefixAgg(_, _, perRow) => !perRow
      case _ => true // Rnk, DenseRnk, PctRank, Cume
    }
    val shiftFns = funcs.collect { case s: GlobalRankFunc.Shift => s }
    val slideFns = funcs.collect { case s: GlobalRankFunc.SlideAgg => s }
    val hasShift = shiftFns.nonEmpty
    val hasSlide = slideFns.nonEmpty
    // sliding frames read back k+1 positions (the retracting value), so
    // they size the ring + boundary shipping exactly like a lag(k+1)
    val hasRing = hasShift || hasSlide
    val maxK =
      (shiftFns.map(_.k) ++ slideFns.map(_.k + 1)).foldLeft(0)(math.max)
    val maxLead = {
      val ls = shiftFns.filter(!_.isLag)
      if (ls.nonEmpty) ls.map(_.k).max else 0
    }
    // aggregate slots (PrefixAgg indices into funcs); run-close slots are
    // the FORWARD tie-aware ones: cume_dist + RANGE-frame aggregates —
    // their value is only known when the row's tie run ends
    val aggSlots: Array[Int] = funcs.indices.filter(
      funcs(_).isInstanceOf[GlobalRankFunc.PrefixAgg]).toArray
    val slideSlots: Array[Int] = funcs.indices.filter(
      funcs(_).isInstanceOf[GlobalRankFunc.SlideAgg]).toArray
    val hasAgg = aggSlots.nonEmpty
    val runSlots: Array[Int] = funcs.indices.filter(j => funcs(j) match {
      case GlobalRankFunc.Cume => true
      case GlobalRankFunc.PrefixAgg(_, _, perRow) => !perRow
      case _ => false
    }).toArray
    val needRunClose = runSlots.nonEmpty
    val firstRunSlot = if (needRunClose) runSlots(0) else -1
    val nInputs = shiftInputs.length
    val shiftIn = shiftInputs
    val shiftTypes = shiftInputs.map(_.dataType).toArray
    // Stats job over the SAME RDD object the output job maps: the range
    // exchange materializes its shuffle dependency exactly once, so both
    // jobs read identical partitions in identical order — the correctness
    // property (range bounds cannot drift between jobs). Cost honesty: the
    // shuffle WRITE happens once, but the reduce-side read AND the
    // per-partition SortExec above it run in BOTH jobs (RDDs are not
    // cached). That is the deliberate trade: persisting the sorted corpus
    // to make the stats pass free would materialize the entire input a
    // second time (storage ≥ the re-sort's CPU at corpus scale, plus
    // eviction pressure), and the tie-aware stats genuinely need the
    // sorted order for boundary keys/run lengths. Same shape as Spark's
    // own RDD.zipWithIndex (count job + output job over one lineage).
    val stats: Array[PartStats] = childRDD.mapPartitions({ it =>
      val keyProj = if (needKeys) UnsafeProjection.create(keyExprs, childOut) else null
      val ord = if (needKeys) RowOrdering.createNaturalAscendingOrdering(keyTypes) else null
      val collectVals = hasRing && maxK > 0
      val inProjs = if (collectVals || hasAgg)
        shiftIn.map(e => UnsafeProjection.create(Seq(e), childOut)).toArray else null
      val firsts = if (collectVals)
        Array.fill(nInputs)(scala.collection.mutable.ArrayBuffer.empty[InternalRow]) else null
      val lastRing = if (collectVals)
        Array.fill(nInputs)(new Array[InternalRow](maxK)) else null
      val accs = if (hasAgg)
        GlobalRankExec.mkAccs(funcs, aggSlots, shiftTypes) else null
      // leading-run partials: what the trailing run of an EARLIER partition
      // absorbs when its tie chain continues into this one
      val headAccs = if (hasAgg && needRunClose)
        GlobalRankExec.mkAccs(funcs, aggSlots, shiftTypes) else null
      var n = 0L; var distinct = 0L; var runLen = 0L; var headLen = 0L
      var firstKey: InternalRow = null; var prevKey: InternalRow = null
      while (it.hasNext) {
        val row = it.next()
        if (needKeys) {
          // copy only on run change (the projection reuses its buffer):
          // one allocation per distinct key, not per row. prevKey is then
          // SOME row of the trailing run — interchangeable for equality
          val k = keyProj(row)
          if (n == 0L) {
            firstKey = k.copy(); prevKey = firstKey; distinct = 1L; runLen = 1L
          } else if (ord.compare(k, prevKey) == 0) runLen += 1L
          else {
            if (distinct == 1L) headLen = n // the leading run just ended
            prevKey = k.copy(); distinct += 1L; runLen = 1L
          }
        }
        if (collectVals) {
          var x = 0
          while (x < nInputs) {
            val v = inProjs(x)(row).copy()
            if (firsts(x).length < maxK) firsts(x) += v
            lastRing(x)((n % maxK).toInt) = v
            x += 1
          }
        }
        if (hasAgg) {
          var t = 0
          while (t < aggSlots.length) {
            val j = aggSlots(t)
            val x = funcs(j).asInstanceOf[GlobalRankFunc.PrefixAgg].inputIdx
            val v = inProjs(x)(row)
            accs(j).add(v)
            if (headAccs != null && distinct <= 1L) headAccs(j).add(v)
            t += 1
          }
        }
        n += 1L
      }
      if (needKeys && distinct == 1L) headLen = n // whole partition one run
      val firstArrs = if (collectVals) firsts.map(_.toArray) else null
      val lastArrs = if (collectVals) {
        val cnt = math.min(n, maxK.toLong).toInt
        Array.tabulate(nInputs)(x =>
          Array.tabulate(cnt)(j => lastRing(x)(((n - cnt + j) % maxK).toInt)))
      } else null
      val aggTotals = if (hasAgg)
        Array.tabulate[Any](funcs.length)(j =>
          if (accs(j) != null) accs(j).partial else null) else null
      val headAggTotals = if (headAccs != null)
        Array.tabulate[Any](funcs.length)(j =>
          if (headAccs(j) != null) headAccs(j).partial else null) else null
      Iterator.single(PartStats(n, firstKey, prevKey, runLen, distinct,
        firstArrs, lastArrs, headLen, aggTotals, headAggTotals))
    }, preservesPartitioning = true).collect()
    val total = stats.map(_.n).sum
    // Driver chain-stitch (O(#partitions), boundary keys only): a tie run
    // can span any number of whole partitions; walking left to right with
    // (runKey, runStart, denseAcc) carries resolves every leading run to
    // the GLOBAL ordinal where its chain began, and every partition to the
    // count of distinct keys strictly before its first NEW key.
    val ctxs: Array[PartCtx] = locally {
      val out = Array.ofDim[PartCtx](stats.length)
      // driver-local ordering; NOT referenced inside the executor closure
      // below (BaseOrdering is not serializable)
      val dOrd =
        if (needKeys) RowOrdering.createNaturalAscendingOrdering(keyTypes) else null
      var off = 0L
      var runKey: InternalRow = null
      var runStart = 0L
      var denseAcc = 0L
      var i = 0
      while (i < stats.length) {
        val s = stats(i)
        if (s.n == 0L) out(i) = PartCtx(off, off, 0L)
        else if (!needKeys) { out(i) = PartCtx(off, off, 0L); off += s.n }
        else {
          val chained = runKey != null && dOrd.compare(runKey, s.firstKey) == 0
          out(i) = PartCtx(off,
            if (chained) runStart else off,
            denseAcc - (if (chained) 1L else 0L))
          if (!(chained && s.trailLen == s.n))
            runStart = off + s.n - s.trailLen
          runKey = s.lastKey
          denseAcc += s.distinct - (if (chained) 1L else 0L)
          off += s.n
        }
        i += 1
      }
      out
    }
    // Shift boundary stitching: for each partition, the maxK input values
    // immediately BEFORE it (ascending, possibly spanning several short
    // partitions) and immediately AFTER it — O(#partitions × maxK) driver
    // memory, bounded by the rule's MaxShift guard.
    val prevVals: Array[Array[Array[InternalRow]]] =
      if (hasRing && maxK > 0) locally {
        val out = Array.ofDim[Array[Array[InternalRow]]](stats.length)
        val ring = Array.fill(nInputs)(Vector.empty[InternalRow])
        var p = 0
        while (p < stats.length) {
          out(p) = Array.tabulate(nInputs)(x => ring(x).toArray)
          var x = 0
          while (x < nInputs) {
            ring(x) = (ring(x) ++ stats(p).lastVals(x)).takeRight(maxK); x += 1
          }
          p += 1
        }
        out
      } else null
    val nextVals: Array[Array[Array[InternalRow]]] =
      if (hasShift && maxK > 0) locally { // leads only — slides look back
        val out = Array.ofDim[Array[Array[InternalRow]]](stats.length)
        val ring = Array.fill(nInputs)(Vector.empty[InternalRow])
        var p = stats.length - 1
        while (p >= 0) {
          out(p) = Array.tabulate(nInputs)(x => ring(x).toArray)
          var x = 0
          while (x < nInputs) {
            ring(x) = (stats(p).firstVals(x).toVector ++ ring(x)).take(maxK); x += 1
          }
          p -= 1
        }
        out
      } else null
    // Aggregate CARRIES: for each partition, the merged partials of every
    // partition strictly before it (commutative merges, so a single
    // left-to-right fold is exact). O(#partitions × #agg slots) driver
    // memory, like the rank offsets.
    val carries: Array[Array[Any]] = if (hasAgg) locally {
      val out = Array.ofDim[Array[Any]](stats.length)
      val accs = GlobalRankExec.mkAccs(funcs, aggSlots, shiftTypes)
      var p = 0
      while (p < stats.length) {
        out(p) = Array.tabulate[Any](funcs.length)(j =>
          if (accs(j) != null) accs(j).partial else null)
        if (stats(p).aggTotals != null) {
          var t = 0
          while (t < aggSlots.length) {
            val j = aggSlots(t); accs(j).merge(stats(p).aggTotals(j)); t += 1
          }
        }
        p += 1
      }
      out
    } else null
    // FORWARD chain stitch (cume_dist + RANGE aggregates): for each
    // partition, how far the run containing its LAST row extends into the
    // following partitions (row count), and that continuation's aggregate
    // partials. Right-to-left walk over non-empty partitions: the
    // continuation into the next non-empty partition q is q's leading run,
    // plus — when q is ONE whole run — q's own continuation.
    val tailExtra: Array[Long] =
      if (needRunClose) new Array[Long](stats.length) else null
    val chainAggs: Array[Array[Any]] =
      if (needRunClose && hasAgg) Array.ofDim[Array[Any]](stats.length) else null
    if (needRunClose) locally {
      val dOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      var next = -1 // nearest non-empty partition to the right
      var p = stats.length - 1
      while (p >= 0) {
        val s = stats(p)
        if (s.n > 0L) {
          if (next >= 0 && dOrd.compare(s.lastKey, stats(next).firstKey) == 0) {
            val q = stats(next)
            val wholeQ = q.headLen == q.n
            tailExtra(p) = q.headLen + (if (wholeQ) tailExtra(next) else 0L)
            if (chainAggs != null) {
              chainAggs(p) = Array.tabulate[Any](funcs.length) { j =>
                funcs(j) match {
                  case f: GlobalRankFunc.PrefixAgg =>
                    val acc = GlobalRankExec.mkAcc(f.kind, shiftTypes(f.inputIdx))
                    acc.merge(q.headAggs(j))
                    if (wholeQ && chainAggs(next) != null)
                      acc.merge(chainAggs(next)(j))
                    acc.partial
                  case _ => null
                }
              }
            }
          }
          next = p
        }
        p -= 1
      }
    }
    val partNs = stats.map(_.n)
    // ship the boundary-value tables via broadcast: a plain closure capture
    // would make EVERY task deserialize EVERY partition's values from its
    // task binary; the broadcast is fetched once per executor and each
    // task reads only its own pid slice
    val prevValsBc =
      if (prevVals != null) sparkContext.broadcast(prevVals) else null
    val nextValsBc =
      if (nextVals != null) sparkContext.broadcast(nextVals) else null
    childRDD.mapPartitionsWithIndex { (pid, it) =>
      val proj = UnsafeProjection.create(outAttrs, childOut ++ rankAttrs)
      val joined = new JoinedRow
      val vals = new GenericInternalRow(funcs.length)
      val ctx = ctxs(pid)
      val n = partNs(pid)
      val keyProj = if (needKeys) UnsafeProjection.create(keyExprs, childOut) else null
      val ord = if (needKeys) RowOrdering.createNaturalAscendingOrdering(keyTypes) else null
      val inProjs = if (hasRing || hasAgg)
        shiftIn.map(e => UnsafeProjection.create(Seq(e), childOut)).toArray else null
      // value ring per input: positions [i - maxK, i] stay resolvable
      val ringSize = maxK + 1
      val valRing = if (hasRing)
        Array.fill(nInputs)(new Array[InternalRow](ringSize)) else null
      val pPrev = if (prevValsBc != null) prevValsBc.value(pid) else null
      val pNext = if (nextValsBc != null) nextValsBc.value(pid) else null
      // running accumulators, seeded with everything before this partition
      val accs: Array[Acc] = if (hasAgg) {
        val a = GlobalRankExec.mkAccs(funcs, aggSlots, shiftTypes)
        var t = 0
        while (t < aggSlots.length) {
          val j = aggSlots(t); a(j).merge(carries(pid)(j)); t += 1
        }
        a
      } else null
      var i = 0L // partition-local 0-based ordinal
      var prevKey: InternalRow = null
      var localRunStart = 0L
      var localDistinct = 0L

      // the input value at local position q, viewed from arrival `cur`:
      // ring for the in-window past, driver-stitched neighbors outside the
      // partition, null (→ default) beyond the corpus
      def valueAt(x: Int, q: Long, cur: Long): InternalRow =
        if (q >= 0 && q < n) {
          // q ∈ [cur - maxK, cur] by construction of every caller (lead
          // slots resolve EAGERLY at arrival cur == q, so a row held past
          // maxK arrivals by a long tie run never reads a stale ring slot)
          valRing(x)((q % ringSize).toInt)
        } else if (q < 0) {
          val arr = pPrev(x); val idx = arr.length + q
          if (idx >= 0) arr(idx.toInt) else null
        } else {
          val arr = pNext(x); val idx = (q - n).toInt
          if (idx < arr.length) arr(idx) else null
        }
      def shiftValue(f: GlobalRankFunc.Shift, q: Long, cur: Long): Any = {
        val r = valueAt(f.inputIdx, q, cur)
        if (r == null) f.default
        else if (r.isNullAt(0)) null
        else r.get(0, shiftTypes(f.inputIdx))
      }

      // sliding-frame state, WARMED with the ≤ k previous-partition tail
      // values the frame spans at this partition's first rows (the
      // driver-stitched pPrev lane; null = before the corpus): a
      // retracting accumulator for the invertible kinds, a monotonic
      // deque for min/max
      val slideStates: Array[GlobalRankExec.SlideState] = if (hasSlide) {
        val a = new Array[GlobalRankExec.SlideState](funcs.length)
        var t = 0
        while (t < slideSlots.length) {
          val j = slideSlots(t)
          val f = funcs(j).asInstanceOf[GlobalRankFunc.SlideAgg]
          a(j) = GlobalRankExec.mkSlideState(f, shiftTypes(f.inputIdx),
            (q, cur) => valueAt(f.inputIdx, q, cur))
          var m = f.k
          while (m >= 1) {
            val r = valueAt(f.inputIdx, -m.toLong, 0L)
            if (r != null) a(j).push(-m.toLong, r)
            m -= 1
          }
          t += 1
        }
        a
      } else null

      // arrival-time values: everything except the FORWARD slots — lead
      // (eager-filled by the arrival k rows later) and run-close slots
      // (filled when the tie run ends), both marked Unfilled. Writes into
      // a caller-provided array so the immediate path can reuse ONE
      // scratch array (no per-row allocation on the rank-only hot path);
      // the delay-line path passes a fresh array per row because the
      // values outlive the arrival. `onRunClose` (nullable) fires BEFORE
      // the new row reaches the accumulators, with the local index where
      // the new run begins — i.e. the closing run's exclusive end.
      def arrivalValsInto(row: InternalRow, out: Array[Any],
          onRunClose: Long => Unit): Unit = {
        if (needKeys) {
          // copy only on run change, as in the stats pass
          val k = keyProj(row)
          if (i == 0L || ord.compare(k, prevKey) != 0) {
            if (i > 0L && onRunClose != null) onRunClose(i)
            localDistinct += 1L; localRunStart = i; prevKey = k.copy()
          }
        }
        if (hasRing) {
          var x = 0
          while (x < nInputs) {
            valRing(x)((i % ringSize).toInt) = inProjs(x)(row).copy(); x += 1
          }
        }
        if (hasAgg) {
          var t = 0
          while (t < aggSlots.length) {
            val j = aggSlots(t)
            accs(j).add(inProjs(
              funcs(j).asInstanceOf[GlobalRankFunc.PrefixAgg].inputIdx)(row))
            t += 1
          }
        }
        if (hasSlide) {
          // advance every sliding state: push the arriving value (just
          // written to the ring), expire what leaves the frame
          var t = 0
          while (t < slideSlots.length) {
            val j = slideSlots(t)
            val f = funcs(j).asInstanceOf[GlobalRankFunc.SlideAgg]
            slideStates(j).push(i, valRing(f.inputIdx)((i % ringSize).toInt))
            slideStates(j).expireBefore(i - f.k)
            t += 1
          }
        }
        val gIdx = ctx.offset + i
        // the leading run may CONTINUE a chain from earlier partitions:
        // its global start is ctx.leadStart (== ctx.offset when unchained)
        lazy val rankVal: Long =
          (if (localDistinct == 1L) ctx.leadStart
           else ctx.offset + localRunStart) + 1L
        var j = 0
        while (j < funcs.length) {
          funcs(j) match {
            case GlobalRankFunc.RowNum => out(j) = (gIdx + 1L).toInt
            case GlobalRankFunc.Tile(nt) => out(j) = GlobalRankExec.tileOf(gIdx, total, nt)
            case GlobalRankFunc.Rnk => out(j) = rankVal.toInt
            case GlobalRankFunc.DenseRnk => out(j) = (ctx.denseStart + localDistinct).toInt
            case GlobalRankFunc.PctRank =>
              out(j) = if (total <= 1L) 0.0 else (rankVal - 1L).toDouble / (total - 1L)
            case f @ GlobalRankFunc.Shift(_, k, _, true) =>
              out(j) = shiftValue(f, i - k, i)
            case GlobalRankFunc.Shift(_, _, _, false) => out(j) = Unfilled
            case GlobalRankFunc.Cume => out(j) = Unfilled
            case GlobalRankFunc.PrefixAgg(_, _, true) =>
              // ROWS frame: the running value THROUGH this row
              out(j) = accs(j).value
            case GlobalRankFunc.PrefixAgg(_, _, false) => out(j) = Unfilled
            case GlobalRankFunc.SlideAgg(_, _, _) =>
              // the sliding state was advanced above
              out(j) = slideStates(j).value
          }
          j += 1
        }
        i += 1L
      }

      def emit(row: InternalRow, arr: Array[Any]): InternalRow = {
        var j = 0
        while (j < funcs.length) { vals.update(j, arr(j)); j += 1 }
        numOutputRows += 1
        proj(joined(row, vals))
      }

      if (maxLead == 0 && !needRunClose) {
        // immediate path: no emission delay, no child-row copies, ONE
        // reused scratch array (lead-0 normalized to the lag side by the
        // rule, so every slot fills at arrival)
        val scratch = new Array[Any](funcs.length)
        it.map { row => arrivalValsInto(row, scratch, null); emit(row, scratch) }
      } else {
        // delay-line path: a row emits once its FORWARD slots resolve —
        // lead slots when `maxLead` later rows have arrived (eager fill),
        // run-close slots when its tie run ends. Buffered copies:
        // O(max(maxLead, current run length)) — a run-close buffer is
        // bounded by the order key's tie multiplicity, which is the
        // fundamental cost of peer-inclusive semantics (the stock Window
        // buffers the ENTIRE corpus in one task for the same query).
        new Iterator[InternalRow] {
          // (row copy, slot values, local ordinal); scala ArrayDeque for
          // O(1) indexed access — eager lead fill addresses rows by ordinal
          private val queue =
            scala.collection.mutable.ArrayDeque.empty[(InternalRow, Array[Any], Long)]
          private var out: InternalRow = null
          private var drained = false

          // lead slots with k > 0 (k == 0 is rule-normalized to lag)
          private val leadSlots: Array[(Int, GlobalRankFunc.Shift)] =
            funcs.zipWithIndex.collect {
              case (f @ GlobalRankFunc.Shift(_, k, _, false), j) if k > 0 => (j, f)
            }

          // fill the still-unfilled run slots — exactly the rows of the
          // run closing at global ordinal `endOrdinal` (exclusive end), a
          // contiguous tail of the queue; each row fills once (amortized
          // O(1)). The RANGE-agg value is the accumulator AT run close
          // (peers included, the new row not yet accumulated).
          private def fillRunSlots(endOrdinal: Long): Unit = {
            if (queue.isEmpty) return
            val runVals = new Array[Any](runSlots.length)
            var t = 0
            while (t < runSlots.length) {
              val j = runSlots(t)
              runVals(t) = funcs(j) match {
                case GlobalRankFunc.Cume => endOrdinal.toDouble / total
                case _ => accs(j).value
              }
              t += 1
            }
            var qi = queue.length - 1
            var go = true
            while (qi >= 0 && go) {
              val arr = queue(qi)._2
              if (arr(firstRunSlot).asInstanceOf[AnyRef] eq Unfilled) {
                var u = 0
                while (u < runSlots.length) { arr(runSlots(u)) = runVals(u); u += 1 }
              } else go = false
              qi -= 1
            }
          }

          private val onRunClose: Long => Unit =
            if (!needRunClose) null
            else (closeIdx: Long) => fillRunSlots(ctx.offset + closeIdx)

          private def drainFill(): Unit = {
            if (needRunClose && queue.nonEmpty) {
              // the trailing run's chain may continue into later
              // partitions: absorb the driver-stitched continuation
              // partials, then close it at its global chain end
              if (hasAgg && chainAggs != null && chainAggs(pid) != null) {
                var t = 0
                while (t < aggSlots.length) {
                  val j = aggSlots(t); accs(j).merge(chainAggs(pid)(j)); t += 1
                }
              }
              fillRunSlots(ctx.offset + n + (if (tailExtra != null) tailExtra(pid) else 0L))
            }
            if (maxLead > 0) {
              // lead positions past the partition end resolve from the
              // driver-stitched neighbor values (or the default)
              var qi = 0
              while (qi < queue.length) {
                val e = queue(qi)
                var t = 0
                while (t < leadSlots.length) {
                  val (s, f) = leadSlots(t)
                  if (e._2(s).asInstanceOf[AnyRef] eq Unfilled)
                    e._2(s) = shiftValue(f, e._3 + f.k, n - 1L)
                  t += 1
                }
                qi += 1
              }
            }
            drained = true
          }

          private def headPoppable: Boolean = queue.nonEmpty && (drained || {
            val h = queue.head
            (maxLead == 0 || h._3 + maxLead < i) &&
              (!needRunClose || !(h._2(firstRunSlot).asInstanceOf[AnyRef] eq Unfilled))
          })

          private def advance(): Unit =
            while (out == null && (queue.nonEmpty || it.hasNext)) {
              if (headPoppable) {
                val (r, a, _) = queue.removeHead()
                out = emit(r, a)
              } else if (it.hasNext) {
                val row = it.next()
                val localIdx = i // arrivalValsInto advances i
                val arr = new Array[Any](funcs.length)
                arrivalValsInto(row, arr, onRunClose)
                queue.append((row.copy(), arr, localIdx))
                // EAGER lead fill: this arrival's value (ring position
                // localIdx) is exactly slot s of the row k back — filling
                // now, not at pop, keeps the ring window invariant even
                // when run-close buffering holds rows past maxK arrivals
                var t = 0
                while (t < leadSlots.length) {
                  val (s, f) = leadSlots(t)
                  val target = localIdx - f.k
                  if (target >= 0 && target >= queue.head._3) {
                    queue((target - queue.head._3).toInt)._2(s) =
                      shiftValue(f, localIdx, localIdx)
                  }
                  t += 1
                }
              } else if (!drained) drainFill()
            }
          override def hasNext: Boolean = { advance(); out != null }
          override def next(): InternalRow = {
            advance()
            if (out == null) throw new NoSuchElementException("empty iterator")
            val r = out; out = null; r
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

object GlobalRankExec {
  /** Sentinel for a FORWARD-looking slot (lead / cume_dist / RANGE-frame
    * aggregate) whose value is not resolved yet — compared by `eq`, so a
    * user value can never collide with it.
    */
  private[plans] case object Unfilled

  /** Per-partition boundary stats from the first pass: row count, the
    * first/last order keys (UnsafeRow copies — serializable), the trailing
    * tie-run length (rows equal to `lastKey` at the tail), the distinct-key
    * count, and — when shift functions are present — each shift input's
    * first/last `maxK` values (outer index = shift-input slot). For the
    * forward tie-aware functions: the LEADING run's length and (for RANGE
    * aggregates) its per-slot partials, so an earlier partition's trailing
    * run can absorb its continuation. Aggregate arrays are funcs-indexed
    * (null on non-aggregate slots).
    */
  case class PartStats(
      n: Long,
      firstKey: InternalRow,
      lastKey: InternalRow,
      trailLen: Long,
      distinct: Long,
      firstVals: Array[Array[InternalRow]] = null,
      lastVals: Array[Array[InternalRow]] = null,
      headLen: Long = 0L,
      aggTotals: Array[Any] = null,
      headAggs: Array[Any] = null)

  /** Mutable running-aggregate state. The contract that makes the
    * distributed prefix exact: `merge` is commutative+associative over
    * `partial` snapshots and accepts null (= empty) as identity, so
    * per-partition totals fold into carries in one driver pass and a
    * trailing run absorbs its forward chain in any order. `add` takes the
    * 1-field projected input row (rule-cast to the accumulation type);
    * `value` is the Catalyst result value, null = SQL NULL.
    */
  sealed trait Acc {
    def add(r: InternalRow): Unit
    def merge(partial: Any): Unit
    def partial: Any
    def value: Any
    /** Remove a previously-ADDED value (the sliding-frame inverse).
      * Defined only for the invertible kinds, and only on accumulators
      * that have never merged a partial (sliding accs never do — the
      * rule's SlideAgg/MinMax split keeps the two worlds apart).
      */
    def retract(r: InternalRow): Unit =
      throw new UnsupportedOperationException(s"$this cannot retract")
  }

  /** SumLong partial: the wrapping 64-bit sum plus its 2^64-wrap count and
    * the non-null contribution count. Carried instead of a bare Long so a
    * partition-local subtotal (or a driver carry fold) may transiently
    * exceed the Long range without losing the true value.
    */
  private[plans] final case class SumLongPartial(s: Long, wraps: Long, nn: Long)

  private final class AccSumLong(ansi: Boolean) extends Acc {
    // Wrapping accumulation + a wrap counter: under ANSI, a checked add on
    // every internal step would be WRONG — a partition-local subtotal or a
    // carry merge can overflow on mixed-sign data (e.g. partitions
    // [-MaxValue] then [MaxValue, MaxValue]) even when every EMITTED
    // global prefix value is representable, and the stock sequential
    // Window succeeds there. The true sum is s + wraps·2^64, so an emitted
    // value is representable exactly when wraps == 0 — the ANSI check
    // applies only at `value`, the same observable point the stock Window
    // checks. Legacy mode wraps mod 2^64 like the stock unchecked sum.
    private var nn = 0L; private var s = 0L; private var wraps = 0L
    private def addWrap(b: Long): Unit = {
      val r = s + b
      if (((s ^ r) & (b ^ r)) < 0L) wraps += (if (b > 0L) 1L else -1L)
      s = r
    }
    private def subWrap(b: Long): Unit = {
      val r = s - b
      if (((s ^ b) & (s ^ r)) < 0L) wraps += (if (b < 0L) 1L else -1L)
      s = r
    }
    def add(r: InternalRow): Unit =
      if (!r.isNullAt(0)) { nn += 1L; addWrap(r.getLong(0)) }
    def merge(p: Any): Unit = p match {
      case SumLongPartial(ps, pw, pn) => nn += pn; wraps += pw; addWrap(ps)
      case _ => ()
    }
    override def retract(r: InternalRow): Unit =
      if (!r.isNullAt(0)) { nn -= 1L; subWrap(r.getLong(0)) }
    def partial: Any = if (nn > 0L) SumLongPartial(s, wraps, nn) else null
    def value: Any =
      if (nn == 0L) null
      else if (wraps != 0L && ansi) throw new ArithmeticException("long overflow")
      else s
  }

  private final class AccSumDouble extends Acc {
    private var nn = 0L; private var s = 0.0
    def add(r: InternalRow): Unit =
      if (!r.isNullAt(0)) { nn += 1L; s += r.getDouble(0) }
    def merge(p: Any): Unit = p match {
      case d: java.lang.Double => nn += 1L; s += d.doubleValue
      case _ => ()
    }
    override def retract(r: InternalRow): Unit =
      if (!r.isNullAt(0)) { nn -= 1L; s -= r.getDouble(0); if (nn == 0L) s = 0.0 }
    def partial: Any = if (nn > 0L) java.lang.Double.valueOf(s) else null
    def value: Any = if (nn > 0L) s else null
  }

  private final class AccSumDecimal(precision: Int, scale: Int, ansi: Boolean)
      extends Acc {
    private var nn = 0L; private var bd: java.math.BigDecimal = null
    def add(r: InternalRow): Unit = if (!r.isNullAt(0)) {
      val d = r.getDecimal(0, precision, scale).toJavaBigDecimal
      nn += 1L
      bd = if (bd == null) d else bd.add(d)
    }
    def merge(p: Any): Unit = p match {
      case d: java.math.BigDecimal =>
        nn += 1L; bd = if (bd == null) d else bd.add(d)
      case _ => ()
    }
    override def retract(r: InternalRow): Unit = if (!r.isNullAt(0)) {
      nn -= 1L
      bd = if (nn == 0L) null
        else bd.subtract(r.getDecimal(0, precision, scale).toJavaBigDecimal)
    }
    def partial: Any = if (nn > 0L) bd else null
    def value: Any = if (nn == 0L || bd == null) null else {
      val dec = Decimal(bd)
      // Spark's sum(decimal) result contract: decimal(p+10, s); overflow
      // nulls under legacy mode and THROWS under ANSI (the stock Window's
      // behavior either way)
      if (dec.changePrecision(precision, scale)) dec
      else if (ansi) throw new ArithmeticException(
        s"${bd.toPlainString} cannot be represented as Decimal($precision, $scale)")
      else null
    }
  }

  private final class AccCnt extends Acc {
    private var c = 0L
    def add(r: InternalRow): Unit = if (!r.isNullAt(0)) c += 1L
    def merge(p: Any): Unit = p match {
      case l: java.lang.Long => c += l.longValue
      case _ => ()
    }
    override def retract(r: InternalRow): Unit = if (!r.isNullAt(0)) c -= 1L
    def partial: Any = java.lang.Long.valueOf(c)
    def value: Any = c // count is never null
  }

  private final class AccMinMax(dt: DataType, isMin: Boolean) extends Acc {
    private val ord = RowOrdering.createNaturalAscendingOrdering(Seq(dt))
    private var best: InternalRow = null
    def add(r: InternalRow): Unit =
      if (!r.isNullAt(0) && (best == null ||
        (if (isMin) ord.compare(r, best) < 0 else ord.compare(r, best) > 0)))
        best = r.copy() // the projection reuses its buffer
    def merge(p: Any): Unit = p match {
      case r: InternalRow => add(r)
      case _ => ()
    }
    def partial: Any = best
    def value: Any = if (best == null) null else best.get(0, dt)
  }

  /** Spark's `Average` over decimal(p, s), step for step: exact BigDecimal
    * sum + count; at emission (1) the sum is overflow-checked against the
    * avg buffer type decimal(min(p+10,38), s), (2) divided by the count at
    * SCALE 38, (3) rounded ONCE to the declared result
    * decimal(min(p+4,38), s+4) — HALF_UP everywhere, overflow null
    * (legacy) / throw (ANSI). NO intermediate rounding at a
    * precision-rule division type: the stock window's internal Divide
    * evaluates through `Decimal./` (scale-38 quotient) and casts straight
    * to the result — probed empirically (the two-step chain diverges on
    * decimal(38,10), where the precision rules would shed scale to 10
    * while the stock result carries all 14). GlobalRankSpec pins
    * bit-equality across precisions incl. (38,10).
    */
  private final class AccAvgDecimal(p: Int, s: Int, ansi: Boolean) extends Acc {
    private val sumP = math.min(p + 10, 38)
    private val resP = math.min(p + 4, 38)
    private val resS = math.min(s + 4, 38)
    private var nn = 0L; private var bd: java.math.BigDecimal = null
    def add(r: InternalRow): Unit = if (!r.isNullAt(0)) {
      val d = r.getDecimal(0, sumP, s).toJavaBigDecimal
      nn += 1L
      bd = if (bd == null) d else bd.add(d)
    }
    def merge(p0: Any): Unit = p0 match {
      case (d: java.math.BigDecimal, c: java.lang.Long) =>
        nn += c.longValue; bd = if (bd == null) d else bd.add(d)
      case _ => ()
    }
    override def retract(r: InternalRow): Unit = if (!r.isNullAt(0)) {
      nn -= 1L
      bd = if (nn == 0L) null
        else bd.subtract(r.getDecimal(0, sumP, s).toJavaBigDecimal)
    }
    def partial: Any = if (nn > 0L) (bd, java.lang.Long.valueOf(nn)) else null
    private def lose(what: String): Any =
      if (ansi) throw new ArithmeticException(
        s"$what cannot be represented as Decimal (avg overflow)")
      else null
    def value: Any = if (nn == 0L || bd == null) null else {
      val sum = Decimal(bd)
      if (!sum.changePrecision(sumP, s)) lose(bd.toPlainString)
      else {
        val q = Decimal(bd.divide(java.math.BigDecimal.valueOf(nn),
          38, java.math.RoundingMode.HALF_UP))
        if (!q.changePrecision(resP, resS)) lose("average")
        else q
      }
    }
  }

  /** First/last partial: the partition's candidate value as a copied
    * 1-field row (null at field 0 is a REAL first_value candidate under
    * ignoreNulls=false, so absence is the wrapper being null, not the
    * field).
    */
  private[plans] final case class FLPartial(row: InternalRow)

  /** `first_value`: lock onto the first qualifying row. Merge is
    * order-SENSITIVE (earlier partial first — the exec's universal fold
    * order); an already-locked acc ignores later partials.
    */
  private final class AccFirst(dt: DataType, ignoreNulls: Boolean) extends Acc {
    private var v: InternalRow = null
    def add(r: InternalRow): Unit =
      if (v == null && (!ignoreNulls || !r.isNullAt(0))) v = r.copy()
    def merge(p: Any): Unit = p match {
      case FLPartial(pr) => if (v == null) v = pr
      case _ => ()
    }
    def partial: Any = if (v == null) null else FLPartial(v)
    def value: Any = if (v == null || v.isNullAt(0)) null else v.get(0, dt)
  }

  /** nth_value partial: qualifying-row count + the first ≤ n qualifying
    * values (copied 1-field rows).
    */
  private[plans] final case class NthPartial(cnt: Long, vals: Array[InternalRow])

  /** `nth_value(x, n)`: keep the first n qualifying values; order-sensitive
    * merges append the later partial's prefix until n values are held.
    */
  private final class AccNth(dt: DataType, n: Int, ignoreNulls: Boolean)
      extends Acc {
    private var cnt = 0L
    private val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    def add(r: InternalRow): Unit = if (!ignoreNulls || !r.isNullAt(0)) {
      cnt += 1L
      if (buf.length < n) buf += r.copy()
    }
    def merge(p: Any): Unit = p match {
      case NthPartial(pc, pv) =>
        cnt += pc
        var i = 0
        while (buf.length < n && i < pv.length) { buf += pv(i); i += 1 }
      case _ => ()
    }
    def partial: Any = if (cnt == 0L) null else NthPartial(cnt, buf.toArray)
    def value: Any =
      if (buf.length < n) null
      else { val r = buf(n - 1); if (r.isNullAt(0)) null else r.get(0, dt) }
  }

  /** `last_value`: every qualifying row (or later partial) overwrites. */
  private final class AccLast(dt: DataType, ignoreNulls: Boolean) extends Acc {
    private var v: InternalRow = null
    def add(r: InternalRow): Unit =
      if (!ignoreNulls || !r.isNullAt(0)) v = r.copy()
    def merge(p: Any): Unit = p match {
      case FLPartial(pr) => v = pr
      case _ => ()
    }
    def partial: Any = if (v == null) null else FLPartial(v)
    def value: Any = if (v == null || v.isNullAt(0)) null else v.get(0, dt)
  }

  private final class AccAvgDouble extends Acc {
    private var s = 0.0; private var c = 0L
    def add(r: InternalRow): Unit =
      if (!r.isNullAt(0)) { s += r.getDouble(0); c += 1L }
    def merge(p: Any): Unit = p match {
      case (ps: java.lang.Double, pc: java.lang.Long) =>
        s += ps.doubleValue; c += pc.longValue
      case _ => ()
    }
    override def retract(r: InternalRow): Unit =
      if (!r.isNullAt(0)) { s -= r.getDouble(0); c -= 1L; if (c == 0L) s = 0.0 }
    def partial: Any =
      if (c > 0L) (java.lang.Double.valueOf(s), java.lang.Long.valueOf(c)) else null
    def value: Any = if (c == 0L) null else s / c
  }

  /** Sliding-frame (`ROWS k PRECEDING..CURRENT ROW`) state: push the value
    * at position `idx` (arrival or warm-up), expire positions leaving the
    * frame, read the frame's current value.
    */
  sealed trait SlideState {
    def push(idx: Long, r: InternalRow): Unit
    def expireBefore(minIdx: Long): Unit
    def value: Any
  }

  /** Invertible kinds: a retracting accumulator. Expiry walks the position
    * frontier and retracts each leaving value re-read through `lookup`
    * (the ring / driver-stitched boundary lane; null = before the corpus,
    * never pushed, nothing to retract).
    */
  private final class AccSlideState(
      acc: Acc, k: Int, lookup: (Long, Long) => InternalRow) extends SlideState {
    private var cur = 0L
    private var frontier = -k.toLong // next position to expire
    def push(idx: Long, r: InternalRow): Unit = {
      acc.add(r)
      if (idx > cur) cur = idx
    }
    def expireBefore(minIdx: Long): Unit =
      while (frontier < minIdx) {
        val r = lookup(frontier, cur)
        if (r != null) acc.retract(r)
        frontier += 1L
      }
    def value: Any = acc.value
  }

  /** min/max: the monotonic deque — a pushed value pops every dominated
    * tail entry (they can never be the extremum again while the new value
    * is in frame), expiry drops head entries by position; the head is
    * always the frame's extremum. O(1) amortized, ≤ k+1 entries. Null
    * inputs are never pushed (SQL min/max ignore nulls); an all-null
    * frame reads null.
    */
  private final class DequeSlideState(dt: DataType, isMin: Boolean)
      extends SlideState {
    private val ord = RowOrdering.createNaturalAscendingOrdering(Seq(dt))
    private val dq =
      scala.collection.mutable.ArrayDeque.empty[(Long, InternalRow)]
    def push(idx: Long, r: InternalRow): Unit = if (!r.isNullAt(0)) {
      while (dq.nonEmpty && {
        val c = ord.compare(r, dq.last._2)
        if (isMin) c <= 0 else c >= 0
      }) dq.removeLast()
      dq.append((idx, r)) // ring/boundary rows are per-arrival copies
    }
    def expireBefore(minIdx: Long): Unit =
      while (dq.nonEmpty && dq.head._1 < minIdx) dq.removeHead()
    def value: Any = if (dq.isEmpty) null else dq.head._2.get(0, dt)
  }

  def mkSlideState(f: GlobalRankFunc.SlideAgg, dt: DataType,
      lookup: (Long, Long) => InternalRow): SlideState = f.kind match {
    case GlobalRankFunc.AggKind.MinMax(isMin) => new DequeSlideState(dt, isMin)
    case kind => new AccSlideState(mkAcc(kind, dt), f.k, lookup)
  }

  def mkAcc(kind: GlobalRankFunc.AggKind, dt: DataType): Acc = {
    import GlobalRankFunc.AggKind._
    kind match {
      case SumLong(ansi) => new AccSumLong(ansi)
      case SumDouble => new AccSumDouble
      case SumDecimal(p, s, ansi) => new AccSumDecimal(p, s, ansi)
      case Cnt => new AccCnt
      case MinMax(isMin) => new AccMinMax(dt, isMin)
      case AvgDouble => new AccAvgDouble
      case AvgDecimal(p, s, ansi) => new AccAvgDecimal(p, s, ansi)
      case FirstVal(ignoreNulls) => new AccFirst(dt, ignoreNulls)
      case LastVal(ignoreNulls) => new AccLast(dt, ignoreNulls)
      case NthVal(n, ignoreNulls) => new AccNth(dt, n, ignoreNulls)
    }
  }

  /** funcs-indexed accumulator array (null on non-aggregate slots);
    * `inputTypes` indexes the node's shared input-slot list.
    */
  def mkAccs(funcs: Array[GlobalRankFunc], aggSlots: Array[Int],
      inputTypes: Array[DataType]): Array[Acc] = {
    val out = new Array[Acc](funcs.length)
    var t = 0
    while (t < aggSlots.length) {
      val j = aggSlots(t)
      val f = funcs(j).asInstanceOf[GlobalRankFunc.PrefixAgg]
      out(j) = mkAcc(f.kind, inputTypes(f.inputIdx))
      t += 1
    }
    out
  }

  /** Driver-stitched per-partition context: the partition's global row
    * offset, the global ordinal where its LEADING tie run's chain began,
    * and the distinct-key base for dense_rank (chain-merged keys counted
    * once).
    */
  case class PartCtx(offset: Long, leadStart: Long, denseStart: Long)

  /** SQL-standard NTILE over the 0-based global ordinal: the first
    * `total % n` tiles carry `total/n + 1` rows, the rest `total/n` —
    * bit-identical to Spark's `NTile`.
    */
  def tileOf(idx: Long, total: Long, n: Int): Int = {
    val bucketSize = total / n
    val rem = total % n
    val fat = bucketSize + 1
    val cut = rem * fat
    (if (idx < cut) idx / fat else rem + (idx - cut) / bucketSize).toInt + 1
  }
}

/** Session-scoped deployment (the [[AsOfJoin.ensureRegistered]] idiom;
  * idempotent), or cluster-wide via
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GlobalRank {
  def ensureRegistered(spark: SparkSession): Unit = {
    val exp = spark.experimental
    if (!exp.extraOptimizations.contains(GlobalRankRule))
      exp.extraOptimizations = exp.extraOptimizations :+ GlobalRankRule
    // RangeSlidingRule rides the same fixed-point batch: it rewrites the
    // RANGE n PRECEDING cliff into a composition whose inner running
    // window GlobalRankRule then distributes on the next iteration
    if (!exp.extraOptimizations.contains(RangeSlidingRule))
      exp.extraOptimizations = exp.extraOptimizations :+ RangeSlidingRule
    // sliding RANGE min/max have no inverse — they ride the sparse-block
    // decomposition instead (partitioned windows only, no cliff)
    if (!exp.extraOptimizations.contains(RangeMinMaxRule))
      exp.extraOptimizations = exp.extraOptimizations :+ RangeMinMaxRule
    // ROWS n PRECEDING AND m FOLLOWING frames lower to the padded
    // lead-of-trailing-slide cascade — two windows GlobalRankRule then
    // distributes on the next iteration, in any order direction
    if (!exp.extraOptimizations.contains(RowsFollowingRule))
      exp.extraOptimizations = exp.extraOptimizations :+ RowsFollowingRule
    // DESC / NULLS LAST orders of global RANGE windows canonicalize to ASC
    // NULLS FIRST over a bitwise-NOT key — "latest-first" RANGE SQL
    // becomes food for the two RANGE rules above on the same batch
    if (!exp.extraOptimizations.contains(DescOrderRule))
      exp.extraOptimizations = exp.extraOptimizations :+ DescOrderRule
    // SUFFIX frames (CURRENT ROW .. UNBOUNDED FOLLOWING) reverse into
    // running prefixes over the reversed order — GlobalRankRule food
    if (!exp.extraOptimizations.contains(SuffixFrameRule))
      exp.extraOptimizations = exp.extraOptimizations :+ SuffixFrameRule
    if (!exp.extraStrategies.contains(GlobalRankStrategy))
      exp.extraStrategies = exp.extraStrategies :+ GlobalRankStrategy
  }
}
