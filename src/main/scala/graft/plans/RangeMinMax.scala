package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Add, Alias, And, Ascending, AttributeReference, Coalesce, CurrentRow,
  Descending, EqualTo, Expression, GreaterThan, Greatest, If, IntegralDivide,
  IsNotNull, IsNull, Least, LessThan, Literal, NamedExpression, Not,
  Or, RangeFrame, Remainder, RowFrame, RowOrdering, SortOrder,
  SpecifiedWindowFrame, Subtract, UnboundedFollowing, UnboundedPreceding,
  WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Complete, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Filter, LogicalPlan, Project, Union, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Auto-rewrite for the raw-SQL GLOBAL `MIN`/`MAX OVER (ORDER BY k RANGE
  * BETWEEN n PRECEDING AND CURRENT ROW | m FOLLOWING)` — extrema have no
  * inverse, so [[RangeSlidingRule]]'s ghost-probe SUBTRACTION cannot carry
  * them; this rule applies the classic SPARSE-BLOCK decomposition in key
  * space instead (join-free):
  *
  *  1. bucket every key by the frame length `B = n + m + 1` (floor
  *     division, so buckets are fixed key intervals) — a frame
  *     `[k − n, k + m]` is exactly B keys wide, so it spans at most two
  *     ADJACENT buckets, and when it sits inside ONE bucket it is exactly
  *     bucket-aligned;
  *  2. two PARTITIONED running windows over rows ∪ ghosts —
  *     `partitionBy(bucket)` ascending and descending, both peer-inclusive
  *     RANGE prefixes, plain hash-exchange WindowExecs (no
  *     single-partition cliff anywhere) — give every probe its in-bucket
  *     prefix/suffix extremum (ghost inputs are guarded to NULL, so they
  *     contribute nothing);
  *  3. ghosts carry the thresholds: a SUFFIX probe at `k − n` in the left
  *     bucket (spawned only when the frame spans two buckets, or when a
  *     TOP-clamped frame shares one bucket whose prefix would overshoot)
  *     and, for `m FOLLOWING` ends, a PREFIX probe at `k + m` in the right
  *     bucket (skipped in that same top-clamped case, where the suffix
  *     alone is exact); with a CURRENT ROW end the real row's own
  *     peer-inclusive prefix serves;
  *  4. a partitioned window keyed by `coalesce(servedKey, sortKey)`
  *     delivers the probes back; the frame value is
  *     `LEAST`/`GREATEST`(prefix part, suffix part) — null-skipping, so
  *     an absent side or an all-null frame follows the SQL contract.
  *
  * Domain edges clamp per key (`k − n` below Long.MinValue → the prefix
  * side already reaches every representable key; `k + m` above
  * Long.MaxValue → the suffix side alone is exact), so the full BIGINT
  * key domain is legal; a frame length at the representable edge (B
  * itself would overflow) stays stock. Null keys keep SQL's
  * null-peer-group frame: their bucket is null and their own
  * peer-inclusive prefix IS the frame.
  *
  * No arithmetic ever touches the VALUE column (comparisons only), so any
  * orderable type rides bit-stably in BOTH eval modes — decimals, doubles,
  * strings, dates. Scope: the [[RangeSlidingRule.globalLongOrder]] guard
  * (single global ASC NULLS FIRST deterministic BIGINT key, unbounded
  * input); every window expression a `MIN` or `MAX` over one shared
  * (n, m) literal frame — one unsupported sibling vetoes the node.
  *
  * Cost: one hash exchange on the bucket + two in-partition sorts + one
  * keyed delivery window; per-task work is bounded by the rows in a B-key
  * span (the inherent block-decomposition shape). RangeMinMaxSpec pins
  * bit-equality vs the kill-switched stock Window on randomized
  * tied/null/edge corpora; `e20_range_minmax` /
  * `e20b_range_minmax_sql` pin the semantics against DuckDB's native
  * RANGE window engine.
  */
object RangeMinMaxRule extends Rule[LogicalPlan] {

  /** Kill-switch, the [[GlobalRankRule.EnabledKey]] idiom. */
  val EnabledKey = "spark.graft.rangeMinMax.enabled"

  private final case class Slot(
      alias: Alias, input: Expression, isMin: Boolean, width: Long, follow: Long)

  private def slotOf(ne: NamedExpression): Option[Slot] = ne match {
    case a @ Alias(WindowExpression(
        AggregateExpression(af, _, false, None, _),
        WindowSpecDefinition(Nil, _,
          SpecifiedWindowFrame(RangeFrame, lower, upper))), _) =>
      RangeSlidingRule.frameBounds(lower, upper).flatMap { case (n, m) =>
        // bucket length B = n + m + 1 must fit a Long
        if (n >= Long.MaxValue - m) None
        else af match {
          case Min(e) if e.deterministic && RowOrdering.isOrderable(e.dataType) =>
            Some(Slot(a, e, isMin = true, n, m))
          case Max(e) if e.deterministic && RowOrdering.isOrderable(e.dataType) =>
            Some(Slot(a, e, isMin = false, n, m))
          case _ => None
        }
      }
    case _ => None
  }

  /** Whole-node acceptance for OTHER rules (the [[DescOrderRule]]
    * canonicalization): min/max slots present over one shared frame, any
    * residual siblings [[RangeSlidingRule]] food (the mixed-node split).
    * Order-key conditions are the caller's to check via
    * [[RangeSlidingRule.globalLongOrder]].
    */
  private[plans] def acceptsExpressions(exprs: Seq[NamedExpression]): Boolean = {
    val mm = exprs.flatMap(slotOf)
    val rest = exprs.filter(ne => slotOf(ne).isEmpty)
    mm.nonEmpty &&
      mm.map(s => (s.width, s.follow)).distinct.length == 1 &&
      (rest.isEmpty || RangeSlidingRule.acceptsExpressions(rest))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case w: Window
        if conf.getConfString(EnabledKey, "true") != "false" &&
          RangeSlidingRule.globalLongOrder(w) && {
            val slots = w.windowExpressions.map(slotOf)
            slots.forall(_.isDefined) &&
              slots.flatten.map(s => (s.width, s.follow)).distinct.length == 1
          } =>
      rewrite(w)
    // the MIXED node: Spark merges every window expression sharing one
    // partitioning/ordering into ONE Window node, so `MIN(x) OVER w,
    // SUM(y) OVER w` lands here with neither rule's all-siblings guard
    // satisfied. Split: peel the min/max slots into this rule's block
    // rewrite and stack a residual Window with the rest on top — which
    // [[RangeSlidingRule]] accepts on the same fixed-point batch (checked
    // BEFORE splitting, so we never strand a half-rewritten plan).
    case w: Window
        if conf.getConfString(EnabledKey, "true") != "false" &&
          RangeSlidingRule.globalLongOrder(w) && {
            val mm = w.windowExpressions.flatMap(slotOf)
            val rest = w.windowExpressions.filter(ne => slotOf(ne).isEmpty)
            mm.nonEmpty && rest.nonEmpty &&
              mm.map(s => (s.width, s.follow)).distinct.length == 1 &&
              RangeSlidingRule.acceptsExpressions(rest)
          } =>
      val mmExprs = w.windowExpressions.filter(ne => slotOf(ne).isDefined)
      val rest = w.windowExpressions.filter(ne => slotOf(ne).isEmpty)
      val inner = rewrite(Window(mmExprs, w.partitionSpec, w.orderSpec, w.child))
      val outer = Window(rest, w.partitionSpec, w.orderSpec, inner)
      Project(w.output, outer)
  }

  private def rewrite(w: Window): LogicalPlan = {
    val k = w.orderSpec.head.child
    val slots = w.windowExpressions.map(ne => slotOf(ne).get)
    val width = slots.head.width
    val follow = slots.head.follow
    val child = w.child
    val b = width + follow + 1L

    // floor division (IntegralDivide/Remainder truncate toward zero);
    // null-safe: a null key buckets to null, keeping SQL's null peer group
    def fd(x: Expression): Expression =
      Subtract(IntegralDivide(x, Literal(b)),
        If(LessThan(Remainder(x, Literal(b)), Literal(0L)),
          Literal(1L), Literal(0L)))

    val sortA = Alias(k, "__mm_sort")()
    val bktA = Alias(fd(k), "__mm_bkt")()
    val forNullA = Alias(Literal(null, LongType), "__mm_for")()
    val famZeroA = Alias(Literal(0), "__mm_fam")()
    val gZeroA = Alias(Literal(0), "__mm_g")()
    val reals = Project(
      child.output ++ Seq(sortA, bktA, forNullA, famZeroA, gZeroA), child)

    // per distinct non-null key: clamped thresholds, their buckets, and
    // the spawn decisions (see the class doc's case analysis)
    val keyA = Alias(k, "__mm_key")()
    val kAttr = keyA.toAttribute
    val distinctKeys =
      Aggregate(Seq(kAttr), Seq(kAttr), Project(Seq(keyA), Filter(IsNotNull(k), child)))
    val cloE = LessThan(kAttr, Literal(java.lang.Long.MIN_VALUE + width))
    val chiE = GreaterThan(kAttr, Literal(java.lang.Long.MAX_VALUE - follow))
    val loA = Alias(If(cloE, Literal(Long.MinValue),
      Subtract(kAttr, Literal(width))), "__mm_lo")()
    val hiA = Alias(If(chiE, Literal(Long.MaxValue),
      Add(kAttr, Literal(follow))), "__mm_hi")()
    val cloA = Alias(cloE, "__mm_clo")()
    val chiA = Alias(chiE, "__mm_chi")()
    val p1 = Project(Seq(kAttr, loA, hiA, cloA, chiA), distinctKeys)
    val loRef = loA.toAttribute
    val hiRef = hiA.toAttribute
    val bloA = Alias(fd(loRef), "__mm_blo")()
    val bhiA = Alias(fd(hiRef), "__mm_bhi")()
    val p2 = Project(p1.output ++ Seq(bloA, bhiA), p1)
    val bloRef = bloA.toAttribute
    val bhiRef = bhiA.toAttribute
    // the one case where a one-bucket frame is NOT bucket-aligned: the top
    // end clamped to Long.MaxValue while the bottom end is real
    val edge = And(And(EqualTo(bloRef, bhiRef), chiA.toAttribute),
      Not(cloA.toAttribute))
    val spawnS = Or(LessThan(bloRef, bhiRef), edge)
    val prefUsable = Not(edge)
    def ghostsOf(cond: Expression, pos: Expression, bkt: Expression,
        fam: Int): LogicalPlan = Project(
      child.output.map(a => Alias(Literal(null, a.dataType), a.name)()) ++ Seq(
        Alias(pos, "__mm_sort")(),
        Alias(bkt, "__mm_bkt")(),
        Alias(kAttr, "__mm_for")(),
        Alias(Literal(fam), "__mm_fam")(),
        Alias(Literal(1), "__mm_g")()),
      Filter(cond, p2))
    val ghostsS = ghostsOf(spawnS, loRef, bloRef, 1)
    val union =
      if (follow == 0L) Union(Seq(reals, ghostsS))
      else Union(Seq(reals, ghostsS, ghostsOf(prefUsable, hiRef, bhiRef, 2)))
    val sortRef = sortA.toAttribute
    val bktRef = bktA.toAttribute
    val forRef = forNullA.toAttribute
    val famRef = famZeroA.toAttribute
    val gRef = gZeroA.toAttribute

    // two peer-inclusive in-bucket prefixes: ascending (prefix side) and
    // descending (suffix side) — partitioned windows, no cliff
    def bucketSpec(dir: org.apache.spark.sql.catalyst.expressions.SortDirection) =
      WindowSpecDefinition(Seq(bktRef), Seq(SortOrder(sortRef, dir)),
        SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, CurrentRow))
    val ascSpec = bucketSpec(Ascending)
    val descSpec = bucketSpec(Descending)
    def guarded(e: Expression): Expression =
      If(EqualTo(gRef, Literal(1)), Literal(null, e.dataType), e)
    def lane(slot: Slot, spec: WindowSpecDefinition, name: String): Alias = {
      val af = if (slot.isMin) Min(guarded(slot.input)) else Max(guarded(slot.input))
      Alias(WindowExpression(
        AggregateExpression(af, Complete, isDistinct = false), spec), name)()
    }
    val aLanes = slots.zipWithIndex.map { case (s, j) => lane(s, ascSpec, s"__mm_a$j") }
    val win1 = Window(aLanes, Seq(bktRef), ascSpec.orderSpec, union)
    val dLanes = slots.zipWithIndex.map { case (s, j) => lane(s, descSpec, s"__mm_d$j") }
    val win2 = Window(dLanes, Seq(bktRef), descSpec.orderSpec, win1)

    // probe delivery, keyed by the served key
    val k2A = Alias(Coalesce(Seq(forRef, sortRef)), "__mm_k2")()
    val withK2 = Project(win2.output ++ Seq(k2A), win2)
    val k2Ref = k2A.toAttribute
    val partSpec = WindowSpecDefinition(Seq(k2Ref), Nil,
      SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing))
    def pick(fam: Int, e: Expression, name: String): Alias =
      Alias(WindowExpression(
        AggregateExpression(
          Max(If(EqualTo(famRef, Literal(fam)), e, Literal(null, e.dataType))),
          Complete, isDistinct = false), partSpec), name)()
    val sThr = dLanes.zipWithIndex.map { case (d, j) =>
      pick(1, d.toAttribute, s"__mm_s$j")
    }
    val pThr: Seq[Option[Alias]] =
      if (follow == 0L) Seq.fill(slots.length)(None)
      else aLanes.zipWithIndex.map { case (a, j) =>
        Some(pick(2, a.toAttribute, s"__mm_p$j"))
      }
    val deliverWin = Window(sThr ++ pThr.flatten, Seq(k2Ref), Nil, withK2)

    val realRows = Filter(EqualTo(gRef, Literal(0)), deliverWin)
    val outAggs: Seq[NamedExpression] = slots.zipWithIndex.map { case (slot, j) =>
      // prefix part: the row's own peer-inclusive prefix for CURRENT ROW
      // ends (and always for null keys — their frame IS their peer
      // group); the delivered prefix probe for m FOLLOWING ends
      val prefPart: Expression = pThr(j) match {
        case None => aLanes(j).toAttribute
        case Some(p) => If(IsNull(sortRef), aLanes(j).toAttribute, p.toAttribute)
      }
      val parts = Seq(prefPart, sThr(j).toAttribute)
      val value: Expression = if (slot.isMin) Least(parts) else Greatest(parts)
      Alias(value, slot.alias.name)(
        exprId = slot.alias.exprId, qualifier = slot.alias.qualifier)
    }
    Project(child.output ++ outAggs, realRows)
  }
}
