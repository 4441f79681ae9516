package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The centered-ROWS production face, [[RangeWindows.rowsSlidingAll]].
  *
  * Every other global window frame is planned by the optimizer rules in
  * `graft.plans` ([[graft.plans.GlobalRankRule]], `RangeSlidingRule`,
  * `RangeMinMaxRule`, `RowsFollowingRule`, `DescOrderRule`,
  * `SuffixFrameRule`): write the stock `over(...)` expression and call
  * [[graft.plans.GlobalRank.ensureRegistered]]. This face stays because it
  * materializes the cascade once, which the pure-optimizer composition
  * cannot do; it is the measured-faster plan for e23/e24b.
  */
object RangeWindows {

  /** ALL FIVE aggregate families — sum/count/avg over `sumCol` (DECIMAL),
    * min/max over `extremaCol` — over ONE global `ROWS BETWEEN n PRECEDING
    * AND m FOLLOWING` frame, with the sorted stream MATERIALIZED ONCE:
    * the production face for the plan shape
    * [[graft.plans.RowsFollowingRule]]'s pure-optimizer composition pays
    * for per consumer family (its reals/ghost/bucket branches each re-run
    * the rank pipeline above the reused exchange — SURVEY §6.19's "a
    * 100 TB deployment would pre-materialize rn once", made code).
    *
    * The identity: a ROWS `[i−n, i+m]` frame equals the ROWS
    * `[(i+m)−(n+m), i+m]` TRAILING frame evaluated at row `i+m` — so one
    * in-exec sliding window of width `n+m` plus one `lead(·, m)` carries
    * every interior row, and only the last `m` rows (whose lead runs off
    * the end) need the true `[i−n, N]` frames. The cascade
    *
    *  1. running `count(*)` (the BIGINT row index `rn`),
    *  2. the five width-`(n+m)` trailing aggregates (retract accumulators
    *     / monotonic deques in [[graft.plans.GlobalRankExec]]),
    *  3. `lead(·, m)` of each,
    *
    * stacks as GlobalRank execs over ONE order — one range exchange, one
    * sort, everything above streams — and is `localCheckpoint`ed ONCE
    * (freezing tie order for every consumer). The TAIL PATCH is a
    * broadcast self-join of the last `m` rows against the last `n+m+1`
    * rows of the checkpoint — O(frame²) work on frame-bounded constants —
    * aggregated by Spark's OWN sum/count/avg/min/max, so edge rows carry
    * the identical arithmetic (decimal avg emission included).
    *
    * Contract: `orderCols` SHOULD be a total order (ties get SQL's
    * standard ROWS nondeterminism — one arbitrary-but-consistent order,
    * frozen by the checkpoint); `sumCol` DECIMAL (fp prefix/retract
    * cancellation is vetoed engine-wide); `n + m + 1 ≤ 1024` (the
    * GlobalRank slide/shift boundary-ring bound); `m ≥ 1` (`m = 0` is the
    * in-exec trailing family — call the stock `over` and let
    * [[graft.plans.GlobalRankRule]] rewrite it). Output: `keep` columns +
    * `<p>_sum/_cnt/_avg/_min/_max`.
    *
    * Checkpoint trade (100 TB note): the default `localCheckpoint` stores
    * the materialized cascade on EXECUTOR storage — fast, but an executor
    * loss forfeits its partitions with no lineage fallback (the job
    * fails and retries whole). Pass `reliableCheckpoint = true` (with
    * `sc.setCheckpointDir` on a fault-tolerant store) to pay one extra
    * corpus write+read for executor-loss survival — the right default on
    * a large shared cluster; local/batch callers keep the fast path.
    *
    * RangeWindowsSpec pins bit-equality vs the kill-switched stock
    * Window (both checkpoint modes); `e23b_rows_centered_lib` /
    * `e24c_desc_rows_lib` pin the face against the same DuckDB oracles
    * as e23/e24b.
    */
  def rowsSlidingAll(
      df: DataFrame,
      keep: Seq[String],
      orderCols: Seq[Column],
      n: Long,
      m: Long,
      sumCol: String,
      extremaCol: String,
      outPrefix: String = "frame",
      reliableCheckpoint: Boolean = false): DataFrame = {
    require(m >= 1, s"m FOLLOWING must be >= 1 (got $m); m = 0 is the " +
      "in-exec trailing family — use a plain window")
    require(n >= 0 && n + m + 1 <= 1024,
      s"frame length ${n + m + 1} exceeds the boundary-ring bound (1024)")
    graft.plans.GlobalRank.ensureRegistered(df.sparkSession)
    import org.apache.spark.sql.types.DecimalType
    require(df.schema(sumCol).dataType.isInstanceOf[DecimalType],
      s"$sumCol must be DECIMAL — fp retract accumulators cancel " +
        "catastrophically and are vetoed engine-wide")
    val w0 = Window.orderBy(orderCols: _*)
    val slide = w0.rowsBetween(-(n + m), 0)
    val p = outPrefix
    val cascade0 = df
      .withColumn("__ra_rn",
        count(lit(1)).over(w0.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__ra_s", sum(col(sumCol)).over(slide))
      .withColumn("__ra_c", count(lit(1)).over(slide))
      .withColumn("__ra_a", avg(col(sumCol)).over(slide))
      .withColumn("__ra_mn", min(col(extremaCol)).over(slide))
      .withColumn("__ra_mx", max(col(extremaCol)).over(slide))
      .withColumn("__ra_ls", lead(col("__ra_s"), m.toInt).over(w0))
      .withColumn("__ra_lc", lead(col("__ra_c"), m.toInt).over(w0))
      .withColumn("__ra_la", lead(col("__ra_a"), m.toInt).over(w0))
      .withColumn("__ra_lmn", lead(col("__ra_mn"), m.toInt).over(w0))
      .withColumn("__ra_lmx", lead(col("__ra_mx"), m.toInt).over(w0))
    // the whole point of this face is the cascade distributing — fail
    // loudly if any stage stayed on the one-task cliff (mis-registration,
    // a scope drift in the rules) rather than silently materializing it
    require(graft.plans.PlanChecks.unboundedGlobalWindows(cascade0).isEmpty,
      "rowsSlidingAll: the window cascade did not distribute — a stage " +
        "stayed on the single-partition Window")
    // the checkpoint freezes tie order ONCE for every consumer (tail
    // patch, totals, the output join) — a mere persist would recompute on
    // partition loss and could re-break ties differently mid-query.
    // localCheckpoint keeps blocks on executor storage: fast, but an
    // executor loss forfeits its partitions WITH NO LINEAGE FALLBACK (the
    // documented 100 TB trade). reliableCheckpoint=true writes the
    // materialized cascade to the cluster's checkpoint dir
    // (sc.setCheckpointDir — HDFS/object store) instead: one extra
    // write+read of the corpus buys executor-loss survival.
    val cascade =
      if (!reliableCheckpoint) cascade0.localCheckpoint()
      else {
        require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
          "reliableCheckpoint=true needs spark.sparkContext.setCheckpointDir " +
            "(a fault-tolerant location, e.g. HDFS) before calling")
        cascade0.checkpoint()
      }
    val total = cascade.count() // cached blocks — no recompute
    // tail patch: true [i−n, N] frames for the last m rows, from the last
    // n+m+1 rows, through Spark's own aggregates (identical arithmetic)
    val tail = cascade.filter(col("__ra_rn") > total - m)
      .select(col("__ra_rn").as("__tp_rn"))
    val span = cascade.filter(col("__ra_rn") >= total - m - n)
      .select(col("__ra_rn").as("__sp_rn"),
        col(sumCol).as("__sp_v"), col(extremaCol).as("__sp_e"))
    val patch = tail.join(broadcast(span),
        col("__sp_rn") >= col("__tp_rn") - n &&
          col("__sp_rn") <= col("__tp_rn") + m)
      .groupBy(col("__tp_rn"))
      .agg(sum(col("__sp_v")).as("__tp_s"),
        count(lit(1)).as("__tp_c"),
        avg(col("__sp_v")).as("__tp_a"),
        min(col("__sp_e")).as("__tp_mn"),
        max(col("__sp_e")).as("__tp_mx"))
    cascade.join(broadcast(patch), col("__ra_rn") === col("__tp_rn"), "left")
      .withColumn(s"${p}_sum",
        when(col("__ra_rn") > total - m, col("__tp_s")).otherwise(col("__ra_ls")))
      .withColumn(s"${p}_cnt",
        when(col("__ra_rn") > total - m, col("__tp_c")).otherwise(col("__ra_lc")))
      .withColumn(s"${p}_avg",
        when(col("__ra_rn") > total - m, col("__tp_a")).otherwise(col("__ra_la")))
      .withColumn(s"${p}_min",
        when(col("__ra_rn") > total - m, col("__tp_mn")).otherwise(col("__ra_lmn")))
      .withColumn(s"${p}_max",
        when(col("__ra_rn") > total - m, col("__tp_mx")).otherwise(col("__ra_lmx")))
      .select((keep.map(col) ++ Seq(s"${p}_sum", s"${p}_cnt", s"${p}_avg",
        s"${p}_min", s"${p}_max").map(col)): _*)
  }
}
