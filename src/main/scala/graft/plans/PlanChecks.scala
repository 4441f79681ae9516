package graft.plans

import org.apache.spark.sql.DataFrame
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
  * flag means the shape is on its reject list. `ROWS n PRECEDING AND m
  * FOLLOWING` → [[RowsFollowingRule]] (the padded lead-of-trailing-slide
  * cascade, GlobalRankRule's own food, any order direction). `RANGE n
  * PRECEDING [AND m FOLLOWING]` sliding sum/count/decimal-avg →
  * [[RangeSlidingRule]] (the ghost-probe composition; note its
  * corpus-prefix decimal overflow contract, documented on
  * [[RangeSlidingRule.EnabledKey]]); sliding RANGE min/max →
  * [[RangeMinMaxRule]] (sparse-block decomposition, whose mixed-node split
  * also covers min/max + sum sharing one node); a DESC RANGE key first
  * canonicalizes through [[DescOrderRule]]. Remaining flags:
  *  - fp (double) sliding sum/avg, ROWS or RANGE — the AUTO-rewrite stays
  *    vetoed on subtraction-cancellation grounds; cast to DECIMAL for the
  *    exact rules;
  *  - ROWS frames longer than [[GlobalRankRule.MaxShift]] rows
  *    (`n + m + 1 > 1024`) — each partition would ship the frame's
  *    boundary rows through the driver; split the frame or partition the
  *    window;
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
