package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, explode, expr, lit, pmod}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BinaryExpression, Expression, GenericInternalRow,
  JoinedRow, PredicateHelper, RowOrdering, SortOrder, Unevaluable,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{BooleanType, DataType}

/** WHOLE-OPERATOR Catalyst extension: a native point-in-time (as-of) join.
  *
  * `l ASOF JOIN r ON l.k = r.k AND asof_match(l.ts, r.ts)` pairs every left
  * row with the single right row of the same key having the LARGEST
  * `r.ts <= l.ts` — the reference's rate-lookup semantics (T9) generalized,
  * and the query shape behind a13. Spark has no native operator for it; the
  * stock compositions are
  *   (a) the union-and-carry window plan (a13: union both sides, one
  *       shuffle, running `last(_, ignoreNulls)`), or
  *   (b) a range join + per-key argmax re-aggregation.
  * Both are correct at scale; this operator is the step beyond: the full
  * `LogicalPlan → Rule → SparkStrategy → SparkPlan` ladder producing a
  * first-class physical join that
  *   - shuffles EACH SIDE ONCE on the key (ClusteredDistribution, exactly a
  *     sort-merge join's exchange shape — AQE still owns partition
  *     coalescing/skew handling of those exchanges),
  *   - sort-merges with a ONE-ROW lookahead — no union materialization, no
  *     window carry state, no null-padded wide rows, no per-key buffering
  *     (an entire hot key streams through O(1) memory, where a window's
  *     running-frame state buffers per partition task),
  *   - emits at most one output row per left row (LEFT OUTER) — the join
  *     NEVER inflates, so downstream cardinality is known at plan time.
  *
  * Deployment mirrors the engine's other Catalyst extensions
  * ([[RangeJoinBinningRule]]): session-scoped via
  * [[AsOfJoin.ensureRegistered]] (experimental.extraOptimizations +
  * extraStrategies + the `asof_match` function), or cluster-wide via
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  *
  * The full pandas-`merge_asof`/QuestDB-style family is supported through
  * the marker's optional literal args
  * `asof_match(lts, rts[, 'backward'|'forward'|'nearest'[, tolerance]])`:
  * backward = max `rts <= lts` (default), forward = min `rts >= lts`,
  * nearest = min `|rts - lts|` with ties preferring the backward side
  * (pandas' tie rule), and a tolerance (long micros or fixed-duration
  * interval literal) rejects matches further than that from the probe
  * ts — for nearest it bounds both candidates symmetrically.
  *
  * Determinism contract: ties on `r.ts` within a key resolve to the row
  * latest (backward/nearest) / earliest-peeked (forward) in the right
  * side's (key, ts) sort, which is NOT total — callers wanting bit-stable
  * output pre-aggregate the right side to one row per (key, ts), exactly
  * as a13 does (and as its DuckDB ASOF JOIN oracle requires).
  *
  * PREDICATE SEMANTICS (the doctrine, spec-pinned in AsOfJoinSpec):
  *  - Single-side predicates — written in the ON clause, or reference-side
  *    post-join filters that Catalyst's EliminateOuterJoin + pushdown fold
  *    into the (by then inner) join before [[AsOfJoinRule]] fires —
  *    PRE-FILTER their side's rows before matching: "the latest purchase
  *    WITH the flag", DuckDB's ASOF-ON reading. This is a real semantic
  *    choice, not an accident of rule ordering: for an as-of join
  *    (unlike a standard join) pre-filtering the reference changes WHICH
  *    row is latest, and the rule cannot distinguish a user-written
  *    `reference.filter(...)` from a Catalyst-pushed one.
  *  - Cross-side non-key predicates can never pre-filter one side; on an
  *    INNER as-of they are restored as post-match filters (the inverse of
  *    the pushdown that folded them in), on a LEFT as-of they are an
  *    ERROR — the two readings genuinely diverge and neither is clearly
  *    what was written.
  *  - Callers who want MATCH-THEN-FILTER on a LEFT as-of with a
  *    null-intolerant reference-side predicate (the one shape where
  *    Catalyst's outer-join elimination would silently flip the reading)
  *    wrap the filter in [[AsOfJoin.postFilter]] — a [[PushdownBarrier]]
  *    that keeps the filter above the join.
  */
case class AsOfMatch(
    left: Expression,
    right: Expression,
    direction: Expression,
    tolerance: Expression)
    extends Expression with Unevaluable {
  // Boolean so the analyzer accepts it anywhere a join predicate goes; it
  // never evaluates — AsOfJoinRule MUST rewrite it into AsOfJoinNode (an
  // unrewritten marker fails fast at physical planning, never silently
  // degrades to an all-pairs join).
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(left, right, direction, tolerance)
  override def prettyName: String = "asof_match"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(left = newChildren(0), right = newChildren(1),
      direction = newChildren(2), tolerance = newChildren(3))
}

/** Match direction of the as-of lookup — the pandas `merge_asof` family.
  * Nearest needs distance arithmetic, so (like tolerance) it is
  * rule-restricted to long-backed ts types (TIMESTAMP / BIGINT micros).
  */
sealed trait AsOfDirection
object AsOfDirection {
  case object Backward extends AsOfDirection
  case object Forward extends AsOfDirection
  case object Nearest extends AsOfDirection
}

object AsOfMatch {
  import org.apache.spark.sql.catalyst.expressions.Literal
  /** SQL/function-registry arities:
    * `asof_match(lts, rts[, 'backward'|'forward'|'nearest'[, tolerance]])`
    * — tolerance a long (micros) or a fixed-duration interval literal.
    */
  def fromArgs(exprs: Seq[Expression]): AsOfMatch = exprs match {
    case Seq(l, r) => AsOfMatch(l, r, Literal("backward"), Literal(null))
    case Seq(l, r, d) => AsOfMatch(l, r, d, Literal(null))
    case Seq(l, r, d, t) => AsOfMatch(l, r, d, t)
    case _ => throw new IllegalArgumentException(
      s"asof_match takes 2-4 arguments, got ${exprs.length}")
  }
}

/** Logical as-of join: keys equi-match, and per left row the single right
  * row with max `rightTs <= leftTs` (backward, the default), min
  * `rightTs >= leftTs` (forward), or min `|rightTs - leftTs|` with ties
  * preferring backward (nearest); nulls never match; with a tolerance, a
  * candidate further than `toleranceUs` micros from the probe ts is
  * rejected. LeftOuter keeps unmatched left rows null-extended; Inner
  * drops them.
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    joinType: JoinType,
    direction: AsOfDirection = AsOfDirection.Backward,
    toleranceUs: Option[Long] = None)
    extends BinaryNode {
  override def output: Seq[Attribute] = joinType match {
    case LeftOuter => left.output ++ right.output.map(_.withNullability(true))
    case _ => left.output ++ right.output
  }
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

/** Optimizer rule: a Join whose condition carries the `asof_match` marker
  * becomes [[AsOfJoinNode]]. Runs in the user-rule batch — AFTER column
  * pruning and predicate pushdown have already treated the join as a normal
  * Join, so the rewrite inherits pruned inputs for free.
  *
  * The marker is a semantic operator, not an optimization, so a condition
  * this rule cannot soundly rewrite is an ERROR (never a silent fallback to
  * the all-pairs join the unrewritten plan would mean).
  */
object AsOfJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(
      s"asof_match: $msg. Supported shape: l.join(r, l(k) === r(k) && " +
        "expr(\"asof_match(l_ts, r_ts)\"), \"left\"|\"inner\") with at " +
        "least one equi-key, both ts of one orderable type, extra " +
        "predicates applied as filters outside the join.")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case Join(left, right, jt @ (Inner | LeftOuter), Some(cond), _)
        if cond.find(_.isInstanceOf[AsOfMatch]).isDefined =>
      val conjuncts = splitConjunctivePredicates(cond)
      val (markers, rest) = conjuncts.partition(_.isInstanceOf[AsOfMatch])
      if (markers.size != 1) fail("exactly one asof_match conjunct required")
      val AsOfMatch(a, b, dirE, tolE) = markers.head: @unchecked
      // direction/tolerance must be plan-time constants: by the user batch,
      // constant folding has collapsed any foldable arg to a Literal
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.types.{DayTimeIntervalType, IntegerType,
        LongType, StringType, TimestampType, CalendarIntervalType}
      import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String}
      val direction = dirE match {
        case Literal(s: UTF8String, StringType) =>
          s.toString.toLowerCase(java.util.Locale.ROOT) match {
            case "backward" => AsOfDirection.Backward
            case "forward" => AsOfDirection.Forward
            case "nearest" => AsOfDirection.Nearest
            case d => fail(
              s"direction must be 'backward', 'forward' or 'nearest', got '$d'")
          }
        case e => fail(s"direction must be a string literal, got ${e.sql}")
      }
      val toleranceUs: Option[Long] = tolE match {
        case Literal(null, _) => None
        case Literal(c: Long, LongType) => Some(c)
        case Literal(c: Int, IntegerType) => Some(c.toLong)
        case Literal(c: Long, _: DayTimeIntervalType) => Some(c)
        case Literal(ci: CalendarInterval, CalendarIntervalType)
            if ci.months == 0 && ci.days == 0 => Some(ci.microseconds)
        case e => fail("tolerance must be a long (micros) or fixed-duration " +
          s"interval literal, got ${e.sql}")
      }
      toleranceUs.foreach { t =>
        if (t < 0) fail(s"tolerance must be non-negative, got $t")
      }
      // empty reference sets (literals, folded constants) are vacuous
      // subsets of BOTH sides — reject them explicitly, or a constant ts
      // would sort one side by a literal and return whichever tied row the
      // shuffle happened to order last (silent nondeterminism)
      if (a.references.isEmpty || b.references.isEmpty)
        fail("each asof_match argument must reference a column of its side")
      val (lts, rts) =
        if (a.references.subsetOf(left.outputSet) &&
          b.references.subsetOf(right.outputSet)) (a, b)
        else if (a.references.subsetOf(right.outputSet) &&
          b.references.subsetOf(left.outputSet))
          fail("first argument must come from the left (probe) side, " +
            "second from the right (reference) side")
        else fail("each asof_match argument must reference exactly one side")
      if (lts.dataType != rts.dataType || !RowOrdering.isOrderable(lts.dataType))
        fail(s"ts types must match and be orderable, got " +
          s"${lts.dataType.simpleString} vs ${rts.dataType.simpleString}")
      // tolerance AND nearest both need |Δts| arithmetic on the per-row
      // merge path — restrict them to long-backed ts types
      if ((toleranceUs.isDefined || direction == AsOfDirection.Nearest) &&
        lts.dataType != TimestampType && lts.dataType != LongType)
        fail("tolerance and 'nearest' require TIMESTAMP or BIGINT " +
          s"(epoch-micros) ts, got ${lts.dataType.simpleString}")
      // split the remaining conjuncts into cross-side equi keys and a
      // residual. By this point Catalyst has already pushed SINGLE-side
      // conjuncts (and, via EliminateOuterJoin, null-intolerant
      // reference-side post-filters of a LEFT as-of) into the children —
      // those therefore PRE-FILTER the version chain, the documented
      // doctrine (see the operator scaladoc; AsOfJoin.postFilter is the
      // match-then-filter escape). What remains is CROSS-side: the
      // residual matters for INNER joins, where PushPredicateThroughJoin
      // merges cross-side post-join filters into the condition BEFORE
      // this rule runs — restore it as a Filter ABOVE the as-of node
      // (the exact inverse of the pushdown: match first, filter the
      // matched pairs after; for a cross-side predicate the two readings
      // coincide only post-match, so this is the only sound one). For
      // LEFT joins no such pushdown happens, so a cross-side residual is
      // user-written ambiguity — fail.
      import org.apache.spark.sql.catalyst.expressions.EqualTo
      val (equi, residual) = rest.partition {
        case EqualTo(l, r) =>
          l.references.nonEmpty && r.references.nonEmpty &&
            (((l.references.subsetOf(left.outputSet) &&
              r.references.subsetOf(right.outputSet)) ||
              (l.references.subsetOf(right.outputSet) &&
                r.references.subsetOf(left.outputSet))))
        case _ => false
      }
      if (residual.nonEmpty && jt != Inner)
        fail("non-equi-key conjunct in a LEFT as-of condition: " +
          residual.map(_.sql).mkString(", "))
      val keys = equi.map {
        case EqualTo(l, r) if l.references.subsetOf(left.outputSet) => (l, r)
        case EqualTo(l, r) => (r, l)
        case e => fail(s"unreachable: ${e.sql}")
      }
      if (keys.isEmpty)
        fail("at least one equi-key required (a keyless global as-of is a " +
          "single-ordering problem — use the union-and-carry window shape)")
      keys.foreach { case (l, r) =>
        if (l.dataType != r.dataType)
          fail(s"equi-key types must match exactly (hash co-partitioning), " +
            s"got ${l.dataType.simpleString} vs ${r.dataType.simpleString}")
      }
      val node = AsOfJoinNode(left, right, keys.map(_._1), keys.map(_._2),
        lts, rts, jt, direction, toleranceUs)
      if (residual.isEmpty) node
      else org.apache.spark.sql.catalyst.plans.logical.Filter(
        residual.reduce(org.apache.spark.sql.catalyst.expressions.And), node)
  }
}

/** Plans [[AsOfJoinNode]] → [[AsOfJoinExec]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lts, rts, jt, dir, tol) =>
      AsOfJoinExec(lk, rk, lts, rts, jt, planLater(l), planLater(r), dir, tol) :: Nil
    case _ => Nil
  }
}

/** Physical as-of join: both children hash-clustered on the keys (the
  * planner's EnsureRequirements inserts compatible exchanges, exactly as
  * for a shuffled join) and sorted by (keys…, ts) NULLS FIRST; each
  * co-located partition pair then merges with a single-row lookahead.
  *
  * Scale shape (the 100 TB lens): two hash exchanges + two sorts — a
  * sort-merge join's exact cost envelope — but the merge keeps O(1) state
  * (last candidate + peeked row), emits ≤ 1 row per left row, and builds
  * output rows through one UnsafeProjection. No window buffer, no union of
  * mismatched schemas, no candidate pairs to re-aggregate.
  *
  * AQE interaction: partition COALESCING applies to the exec's exchanges
  * like to any join's (spec-pinned); AQE's skew-JOIN splitting does NOT —
  * Spark only rewrites its own SMJ/SHJ nodes. A pathologically hot key
  * therefore costs one task's sort of that key's rows (the same envelope
  * as a pre-AQE sort-merge join); the merge itself stays O(1)-state, so
  * the cliff is the sort spill, not memory. If a key ever concentrates a
  * double-digit share of the corpus, the a26 salting escape applies —
  * implemented and equivalence-tested as [[AsOfJoin.salted]]: salt the
  * PROBE side and replicate each reference row across the salt domain
  * (reference rows per key are dimension-sized by contract).
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    joinType: JoinType,
    left: SparkPlan,
    right: SparkPlan,
    direction: AsOfDirection = AsOfDirection.Backward,
    toleranceUs: Option[Long] = None)
    extends BinaryExecNode {

  require(joinType == Inner || joinType == LeftOuter,
    s"as-of join supports Inner/LeftOuter, got $joinType")

  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def output: Seq[Attribute] = joinType match {
    case LeftOuter => left.output ++ right.output.map(_.withNullability(true))
    case _ => left.output ++ right.output
  }

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTs).map(SortOrder(_, Ascending)))

  // rows stream out in left-child order, one-to-(at most)-one
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val keyTypes = leftKeys.map(_.dataType)
    val tsType = leftTs.dataType
    val isLeftOuter = joinType == LeftOuter
    val lOut = left.output
    val rOut = right.output
    val lSortExprs = leftKeys :+ leftTs
    val rSortExprs = rightKeys :+ rightTs
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lSortProj = UnsafeProjection.create(lSortExprs, lOut)
      val rSortProj = UnsafeProjection.create(rSortExprs, rOut)
      // LeftOuter feeds an all-null right row through the projection, so
      // the right inputs MUST bind as nullable even when the child schema
      // says otherwise (e.g. a bucketed-table scan with required columns) —
      // a non-nullable binding elides the null check and reads garbage
      val rInput = if (isLeftOuter) rOut.map(_.withNullability(true)) else rOut
      val resultProj = UnsafeProjection.create(outAttrs, lOut ++ rInput)
      val fullOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes :+ tsType)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val nKeys = keyTypes.length
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.length)

      new Iterator[InternalRow] {
        // peeked right row + its sort key (copies: child iterators reuse rows)
        private var rRow: InternalRow = _
        private var rSort: InternalRow = _
        // best as-of candidate so far (reference to an already-copied rRow)
        private var candRow: InternalRow = _
        private var candSort: InternalRow = _
        private var pending: InternalRow = _

        private def fetchRight(): Unit =
          if (rIter.hasNext) {
            rRow = rIter.next().copy()
            rSort = rSortProj(rRow).copy()
          } else { rRow = null; rSort = null }
        fetchRight()

        private def keyHasNull(sort: InternalRow): Boolean = {
          var i = 0
          while (i < nKeys) { if (sort.isNullAt(i)) return true; i += 1 }
          false
        }

        // tolerance/direction as primitives (no Option boxing or enum
        // dispatch on the per-row path); ts reads via getLong are sound:
        // tolerance AND nearest are rule-restricted to
        // TimestampType/LongType, both long-backed
        private val hasTol = toleranceUs.isDefined
        private val tol = toleranceUs.getOrElse(0L)
        private val isForward = direction == AsOfDirection.Forward
        private val isNearest = direction == AsOfDirection.Nearest

        private def advance(): Unit =
          while (pending == null && lIter.hasNext) {
            val lRow = lIter.next()
            val lSort = lSortProj(lRow)
            var matchRow: InternalRow = null
            val lValid = !keyHasNull(lSort) && !lSort.isNullAt(nKeys)
            if (isForward) {
              // consume right rows STRICTLY before (key, ts); the peeked row
              // itself is the at-or-after candidate (NOT consumed — later
              // probe rows of the same key may match it too)
              while (rRow != null && fullOrd.compare(rSort, lSort) < 0) fetchRight()
              if (lValid && rRow != null && !keyHasNull(rSort) &&
                !rSort.isNullAt(nKeys) && keyOrd.compare(rSort, lSort) == 0 &&
                (!hasTol || rSort.getLong(nKeys) - lSort.getLong(nKeys) <= tol))
                matchRow = rRow
            } else {
              // backward AND nearest: consume right rows ordered ≤ (key, ts)
              // (inclusive), carrying the last valid row as the backward
              // candidate. For nearest, the peeked row — strictly after
              // (key, ts), never consumed, so it can still serve later
              // probes — is the forward candidate.
              while (rRow != null && fullOrd.compare(rSort, lSort) <= 0) {
                // null key or null ts never matches (SQL three-valued ≤)
                if (!keyHasNull(rSort) && !rSort.isNullAt(nKeys)) {
                  candRow = rRow; candSort = rSort
                }
                fetchRight()
              }
              val backValid = lValid && candRow != null &&
                keyOrd.compare(candSort, lSort) == 0
              if (isNearest) {
                // tolerance bounds each candidate; ties prefer backward —
                // the pandas merge_asof contract
                val backOk = backValid &&
                  (!hasTol || lSort.getLong(nKeys) - candSort.getLong(nKeys) <= tol)
                val fwdOk = lValid && rRow != null && !keyHasNull(rSort) &&
                  !rSort.isNullAt(nKeys) && keyOrd.compare(rSort, lSort) == 0 &&
                  (!hasTol || rSort.getLong(nKeys) - lSort.getLong(nKeys) <= tol)
                if (backOk && (!fwdOk ||
                  lSort.getLong(nKeys) - candSort.getLong(nKeys) <=
                    rSort.getLong(nKeys) - lSort.getLong(nKeys)))
                  matchRow = candRow
                else if (fwdOk) matchRow = rRow
              } else if (backValid &&
                (!hasTol || lSort.getLong(nKeys) - candSort.getLong(nKeys) <= tol))
                matchRow = candRow
            }
            if (matchRow != null) {
              numOutputRows += 1
              pending = resultProj(joined(lRow, matchRow))
            } else if (isLeftOuter) {
              numOutputRows += 1
              pending = resultProj(joined(lRow, nullRight))
            }
          }

        override def hasNext: Boolean = { advance(); pending != null }
        override def next(): InternalRow = {
          advance()
          if (pending == null) throw new NoSuchElementException("empty iterator")
          val out = pending
          pending = null
          out
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

/** A pushdown BARRIER: evaluates exactly `child` (same value, same
  * nullability, pass-through codegen) but DECLARES itself non-deterministic,
  * which makes Catalyst leave any predicate containing it where the user
  * wrote it: PushPredicateThroughJoin/PushDownPredicates skip
  * non-deterministic conjuncts, and EliminateOuterJoin's `canFilterOutNull`
  * bails before using it to flip a LEFT join to INNER. The one legitimate
  * use is [[AsOfJoin.postFilter]]: a filter over an as-of join's OUTPUT
  * must stay a post-match filter, because pre-filtering the reference
  * changes which row is "latest" — semantics, not just cost. (For stock
  * joins the two readings coincide, which is exactly why Catalyst feels
  * free to push; the barrier opts one predicate out.)
  */
case class PushdownBarrier(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  // the whole point: never foldable, never pushable, never reorderable
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "pushdown_barrier"
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    child.genCode(ctx)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Session-scoped deployment of the as-of operator (the
  * [[graft.functions.BloomExpressions]] / extraOptimizations idiom — no
  * `spark.sql.extensions` restart required; idempotent).
  */
object AsOfJoin {
  val FunctionName = "asof_match"

  val BarrierFunctionName = "graft_post_barrier"

  /** MATCH-THEN-FILTER over an as-of join's output: `joined.where(cond)`
    * with `cond` wrapped in a [[PushdownBarrier]], so a null-intolerant
    * reference-side predicate on a LEFT as-of keeps the written reading
    * ("latest purchase, then keep the flagged ones") instead of being
    * folded by EliminateOuterJoin + pushdown into a pre-filtered version
    * chain ("latest FLAGGED purchase") — the predicate-semantics doctrine
    * documented on [[AsOfMatch]], spec-pinned in AsOfJoinSpec.
    */
  def postFilter(joined: DataFrame, cond: Column): DataFrame = {
    ensureRegistered(joined.sparkSession)
    joined.where(org.apache.spark.sql.functions.call_function(
      BarrierFunctionName, cond))
  }

  /** The skew escape hatch the exec's scaladoc promises, as tested code:
    * salt the PROBE side, replicate each reference row across the salt
    * domain, and as-of join on (keys…, salt). AQE's skew-join split only
    * rewrites Spark's own SMJ/SHJ nodes, so a pathologically hot key
    * funnels all its probe rows into one task's sort; salting multiplies
    * that key's reduce-side parallelism by `salts`.
    *
    * Soundness: every probe row carries exactly ONE salt and every
    * reference row is present in EVERY salt bucket, so the per-(key, salt)
    * as-of result equals the per-key result — and because an as-of join
    * emits at most one row per probe row, replication can never inflate
    * output multiplicity (unlike a salted equi-join, where
    * [[graft.operators.SkewJoin]] must restrict join types). Cost: the
    * reference side is replicated `salts`× — per contract reference rows
    * per key are dimension-sized, so this is the cheap side.
    *
    * `saltOf` must key off a row-level probe column (an id, a timestamp),
    * NEVER the join key itself (that re-creates the hot partition), and be
    * deterministic ([[graft.operators.SkewJoin]]'s contract). The same
    * 64-bit-id discipline applies: pmod on the long BEFORE any int cast,
    * and a NULL salt source coalesces to bucket 0 instead of silently
    * dropping (inner) or null-extending (left) the row.
    *
    * `keys` maps probe-side → reference-side column names; `matchExpr` is
    * the marker text (e.g. `"asof_match(ts, rts, 'nearest', 60)"`) so the
    * full direction/tolerance family rides through unchanged.
    */
  def salted(probe: DataFrame, reference: DataFrame,
      keys: Seq[(String, String)], matchExpr: String,
      saltOf: Column, salts: Int, joinType: String = "left"): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    require(keys.nonEmpty, "salted as-of needs at least one equi-key")
    require(Set("left", "left_outer", "inner").contains(joinType),
      s"as-of joins support left/inner, got $joinType")
    ensureRegistered(probe.sparkSession)
    val saltP = "__asof_salt_p"
    val saltR = "__asof_salt_r"
    val p = probe.withColumn(saltP,
      coalesce(pmod(saltOf.cast("long"), lit(salts.toLong)), lit(0L)).cast("int"))
    val r = reference.withColumn(saltR,
      explode(expr(s"sequence(0, ${salts - 1})")))
    val cond = (keys.map { case (pk, rk) => p(pk) === r(rk) } :+
      (p(saltP) === r(saltR)) :+ expr(matchExpr)).reduce(_ && _)
    p.join(r, cond, joinType).drop(saltP, saltR)
  }

  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    def once(name: String, build: Seq[Expression] => Expression): Unit =
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, build, "scala_udf")
    once(FunctionName, AsOfMatch.fromArgs)
    once(BarrierFunctionName, exprs => PushdownBarrier(exprs.head))
    val exp = spark.experimental
    if (!exp.extraOptimizations.contains(AsOfJoinRule))
      exp.extraOptimizations = exp.extraOptimizations :+ AsOfJoinRule
    if (!exp.extraStrategies.contains(AsOfJoinStrategy))
      exp.extraStrategies = exp.extraStrategies :+ AsOfJoinStrategy
  }
}
