package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{CurrentRow, RowFrame, SpecifiedWindowFrame, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, GlobalLimit, LocalLimit, LogicalPlan, Window}

/** Static plan lints for the scale cliffs Catalyst accepts silently.
  *
  * The one checked today: a `Window` with an EMPTY partition spec funnels
  * every input row through ONE task (Spark itself only warns at runtime,
  * `WindowExec.doExecute`) — the hard cliff [[GlobalRankRule]] and its
  * sibling rules rewrite away. A global window is fine when its input is provably
  * small; the sanctioned shape is "rank the aggregate", where the window
  * input is bounded by a group-key domain (t5's top terms, c2's per-lang
  * counts) or an explicit limit. So the lint flags global windows whose
  * subtree reaches any LEAF without passing through an Aggregate /
  * Deduplicate / Limit — i.e. windows ordering raw corpus-scale rows.
  *
  * Remediation map for a flagged window: most single-ordering shapes
  * (ranks, shifts, prefix aggregates, first/last/nth_value, decimal avg,
  * sliding ROWS-PRECEDING frames) auto-rewrite via [[GlobalRankRule]] — a
  * flag means the shape is on its reject list. `RANGE n PRECEDING [AND m
  * FOLLOWING]` sliding sum/count/decimal-avg → [[RangeSlidingRule]] (the
  * ghost-probe composition; note its corpus-prefix decimal overflow
  * contract, documented on [[RangeSlidingRule.EnabledKey]]); sliding
  * RANGE min/max → [[RangeMinMaxRule]] (sparse-block decomposition, whose
  * mixed-node split also covers min/max + sum sharing one node); `ROWS n
  * PRECEDING AND m FOLLOWING` → [[RowsFollowingRule]] (re-expressed as
  * RANGE over row_number, then the rules above). Remaining flags:
  *  - fp (double) sliding sum/avg — the AUTO-rewrite stays vetoed on
  *    subtraction-cancellation grounds; cast to DECIMAL for the exact
  *    rules;
  *  - multi-argument aggregates (covar/corr): native `COVAR_POP OVER`
  *    stays stock BY DOCTRINE (double Welford accumulation is
  *    order-dependent fp — no bit-compatible rewrite exists); compose
  *    from DECIMAL prefix sums instead, which DO rewrite — the
  *    [[graft.queries.CoreQueries.e22RunningCovarSql]] recipe.
  */
object PlanChecks {

  /** The `Window` nodes of `plan` that rank an unbounded input with no
    * partition spec — empty means the surface is scale-safe.
    */
  def unboundedGlobalWindows(plan: LogicalPlan): Seq[Window] =
    plan.collect {
      case w: Window if w.partitionSpec.isEmpty && !bounded(w.child) => w
    }

  /** Convenience: lint a DataFrame's optimized plan. */
  def unboundedGlobalWindows(df: DataFrame): Seq[Window] =
    unboundedGlobalWindows(df.queryExecution.optimizedPlan)

  /** The COST lint (vs the cliff lint above): global `ROWS n PRECEDING AND
    * m FOLLOWING` windows carrying MULTIPLE aggregate families. The rule
    * composition ([[RowsFollowingRule]] + [[RangeSlidingRule]] +
    * [[RangeMinMaxRule]], with [[DescOrderRule]] for latest-first orders)
    * rewrites the shape CORRECTLY at scale, but each consumer family's
    * branch re-runs the rank pipeline above the shared exchange — measured
    * ~3.5× the materialize-once library cascade at 10×
    * (SURVEY §6.21/§6.19). The rewrite cannot be automated away: the
    * cascade pins the sorted stream with a `localCheckpoint` (a side
    * effect no pure `Rule[LogicalPlan]` may perform) — so the honest fix
    * is remediation-by-name. REMEDIATION for a flagged window: route the
    * query through [[graft.operators.RangeWindows.rowsSlidingAll]] (ASC or
    * DESC multi-column orders alike — the e23b/e24c gate faces), which
    * carries SUM/COUNT/AVG/MIN/MAX in one stacked cascade. Flagged only
    * when every aggregate in the window IS one the cascade carries —
    * anything else genuinely needs the optimizer composition.
    */
  def centeredRowsMultiFamily(plan: LogicalPlan): Seq[Window] = plan.collect {
    case w: Window if w.partitionSpec.isEmpty && {
      val wes = w.windowExpressions.flatMap(_.collect {
        case we: WindowExpression => we })
      // analyzed (pre-optimize) bounds arrive unfolded — `6 PRECEDING` is
      // UnaryMinus(Literal(6)) — so evaluate foldable bounds
      def boundVal(e: org.apache.spark.sql.catalyst.expressions.Expression): Option[Long] =
        e match {
          case CurrentRow => Some(0L)
          case _ if e.foldable => e.eval() match {
            case i: Int => Some(i.toLong)
            case l: Long => Some(l)
            case _ => None
          }
          case _ => None
        }
      val centered = wes.filter(we =>
        we.windowSpec.frameSpecification match {
          case SpecifiedWindowFrame(RowFrame, lo, hi) =>
            boundVal(hi).exists(_ > 0) && boundVal(lo).exists(_ <= 0)
          case _ => false
        })
      val families = centered.map(_.windowFunction).map {
        case ae: AggregateExpression => ae.aggregateFunction match {
          case _: Sum | _: Count | _: Average => Some("slide")
          case _: Min | _: Max => Some("minmax")
          case _ => None
        }
        case _ => None
      }
      // every centered aggregate is cascade-carried AND ≥ 2 consumer
      // families would each re-run the rank pipeline
      centered.nonEmpty && families.forall(_.isDefined) &&
        families.flatten.distinct.length >= 2
    } => w
  }

  /** Convenience: lint a DataFrame's ANALYZED plan — the rule composition
    * rewrites the Window away in the optimized plan, and this lint's whole
    * point is to catch the shape BEFORE it plans into the per-family
    * re-run.
    */
  def centeredRowsMultiFamily(df: DataFrame): Seq[Window] =
    centeredRowsMultiFamily(df.queryExecution.analyzed)

  /** Cardinality-bounded: every path from here to a leaf crosses an
    * Aggregate (cardinality ≤ the group-key domain), a Deduplicate (same
    * bound — `dropDuplicates` lowers to it), or a Limit. A join of bounded
    * inputs is bounded (product of domains); a bare scan is not.
    */
  private[plans] def bounded(p: LogicalPlan): Boolean = p match {
    case _: Aggregate | _: Deduplicate | _: GlobalLimit | _: LocalLimit => true
    case _ if p.children.isEmpty => false
    case _ => p.children.forall(bounded)
  }
}

/** The [[PlanChecks.centeredRowsMultiFamily]] cost lint as a LIVE analyzer
  * warning — without this, the lint only fires when someone remembers to
  * call it, and the raw-SQL user it exists for (e23/e24b's shape arriving
  * via `spark.sql`) never sees the remediation. Deployed through
  * [[graft.functions.GraftExtensions]] (post-hoc resolution — the lint
  * reads the ANALYZED plan, before the rewrite rules consume the Window),
  * OPT-IN via `spark.graft.lint.centeredRows=true`: a lint that logs on
  * every analysis by default would be noise in pipelines that accepted the
  * composition cost deliberately.
  *
  * Pure observer: the plan is returned UNCHANGED (the auto-rewrite is
  * impossible for a pure rule — the fast cascade pins its sorted stream
  * with a `localCheckpoint` side effect), the warning names the
  * remediation ([[graft.operators.RangeWindows.rowsSlidingAll]]), and
  * [[CenteredRowsLint.addListener]] gives programmatic surfaces (CI plan
  * gates, notebook hooks) the same signal the log line carries.
  */
object CenteredRowsLint {
  /** Boolean session conf enabling the analyzer-time lint (default off). */
  val EnabledKey = "spark.graft.lint.centeredRows"

  private val listeners =
    new java.util.concurrent.CopyOnWriteArrayList[String => Unit]()

  /** Register an observer for fired lints (tests, CI plan gates). */
  def addListener(f: String => Unit): Unit = listeners.add(f)
  def removeListener(f: String => Unit): Unit = listeners.remove(f)

  private[plans] def fire(msg: String): Unit = {
    val it = listeners.iterator()
    while (it.hasNext) it.next()(msg)
  }
}

case class CenteredRowsLintRule(
    session: org.apache.spark.sql.SparkSession)
  extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(CenteredRowsLint.EnabledKey, "false") == "true") {
      PlanChecks.centeredRowsMultiFamily(plan).foreach { w =>
        val families = w.windowExpressions.map(_.sql).mkString("; ")
        val msg =
          "[graft-lint] global centered-ROWS window carries MULTIPLE " +
            "aggregate families — the optimizer composition executes " +
            "correctly but re-runs the rank pipeline per family (~3.5x the " +
            "library cascade at 10x); route the query through " +
            "graft.operators.RangeWindows.rowsSlidingAll for the " +
            s"materialize-once plan. Window expressions: $families"
        logWarning(msg)
        CenteredRowsLint.fire(msg)
      }
    }
    plan
  }
}
