package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 10×-scale correctness gate for the queries whose scale behavior carries
  * PROVEN risk (the a26 `cast("int")` overflow was invisible below replica
  * ids ≥ 2³¹ — exactly the class the sf0.01 DuckDB gate cannot see). Each
  * query is recomputed through an INDEPENDENT in-engine twin — a different
  * algorithm or plan shape with the same contract — at the 10× replica
  * point, and compared by (row count, order-insensitive row-hash sum):
  *
  *  - a26 salted skew join  ↔ the plain unsalted join (the documented
  *    semantic identity the salt must never break);
  *  - a17b binned range join ↔ the nested-loop plan the binning replaces;
  *  - c8 distributed ntile   ↔ the single-partition `ntile()` Window
  *    (affordable only because this is a one-shot gate, not production);
  *  - x9b alt-star CC        ↔ x9 min-label propagation (different
  *    convergence class, same components);
  *  - x20 4×16 simhash pairs ↔ an 8×8 pigeonhole split (different join
  *    keys and candidate sets, same exactness guarantee for k ≤ 3).
  *
  * Writes `CORRECTNESS_sf1.json`. Replicas are built once per work dir
  * ([[Replicas]] — the same scaled-dataset definition as `BENCH_sf1.json`).
  *
  * Usage: `runMain graft.tools.VerifySf1 [workDir] [outFile] [n]`
  */
object VerifySf1 {

  /** (row count, Σ xxhash64 over the name-sorted stringified row) — an
    * order-insensitive exact signature; both sides run in THIS engine, so
    * double formatting is identical by construction.
    */
  private def sig(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.toIndexedSeq.map(c => col(c).cast("string"))
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }

  def main(args: Array[String]): Unit = {
    val work = if (args.length > 0) args(0) else "/tmp/graft_sf1"
    val out = if (args.length > 1) args(1) else "CORRECTNESS_sf1.json"
    val n = if (args.length > 2) args(2).toInt else 10
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.tune(spark)
    val marker = new java.io.File(s"$work/region.parquet")
    if (!marker.exists()) Replicas.build(spark, "/root/testdata/sf0.1", work, n)

    import graft.queries.CoreQueries
    import graft.dedup.DedupQueries

    def ev = graft.Tables(spark, work, "events")
    def docs = graft.Tables(spark, work, "documents")
    def li = graft.Tables(spark, work, "lineitem")

    /** Evaluate with EVERY graft window rule kill-switched, so the twin is
      * genuinely the stock single-partition Window plan (checkpointed
      * before the switches flip back).
      */
    def stockWindows(body: => DataFrame): DataFrame = {
      val keys = Seq(graft.plans.GlobalRankRule.EnabledKey,
        graft.plans.RangeSlidingRule.EnabledKey,
        graft.plans.RangeMinMaxRule.EnabledKey,
        graft.plans.RowsFollowingRule.EnabledKey,
        graft.plans.DescOrderRule.EnabledKey,
        graft.plans.SuffixFrameRule.EnabledKey)
      keys.foreach(spark.conf.set(_, "false"))
      try body.localCheckpoint() finally keys.foreach(spark.conf.unset)
    }

    val checks: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
      ("a26_salted_skew_join",
        () => CoreQueries.a26SaltedSkewJoin(spark, work),
        () => {
          val stats = ev.groupBy(col("event_type"))
            .agg((sum(col("value").cast("decimal(25,6)")).cast("double") /
              count(lit(1)).cast("double")).as("type_avg"))
          ev.select(col("event_id"), col("event_type"), col("value"))
            .join(stats, Seq("event_type"))
            .select(col("event_id"), col("event_type"), col("value"), col("type_avg"),
              (col("value") - col("type_avg")).as("deviation"))
        }),
      ("a17b_interval_join_binned",
        () => CoreQueries.a17bIntervalJoinBinned(spark, work),
        () => {
          // the nested-loop plan the binning replaces, verbatim semantics
          val halfUs = 1800000000L
          val iv = ev.filter(col("event_type") === "purchase" && col("value") >= 200)
            .select(col("event_id"),
              (unix_micros(col("ts")) - halfUs).as("lo"),
              (unix_micros(col("ts")) + halfUs).as("hi"))
          val pts = ev.filter(col("event_type") === "click")
            .select(unix_micros(col("ts")).as("c_us"), col("value").as("c_value"))
          iv.join(pts, col("c_us") >= col("lo") && col("c_us") <= col("hi"))
            .groupBy(col("event_id"))
            .agg(count(lit(1)).as("n_clicks"),
              sum(col("c_value").cast("decimal(25,6)")).cast("double")
                .as("sum_click_value"))
        }),
      ("c8_curriculum_bins",
        () => CoreQueries.c8CurriculumBins(spark, work),
        // dropDuplicates on the unique key bounds the input WITHOUT changing
        // a row, so GlobalRankRule (registered session-wide by c8 itself)
        // does NOT rewrite this twin — it must stay the stock
        // single-partition Window to be an independent formulation
        () => docs.select(col("doc_id"), col("n_chars"), col("lang"), col("source"))
          .dropDuplicates("doc_id")
          .withColumn("bin",
            ntile(10).over(Window.orderBy(col("n_chars"), col("doc_id"))))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"),
            sum(col("n_chars")).as("sum_chars"),
            countDistinct(col("lang")).as("n_langs"),
            countDistinct(col("source")).as("n_sources"))),
      // c8b: the optimizer-rewritten RAW-SQL ntile (GlobalRankExec) ↔ the
      // same SQL with GlobalRankRule kill-switched (the stock
      // single-partition Window; c8 plans the same GlobalRankExec, so it
      // is no independent twin), compared at the scale point where the
      // round-7 rank-bound drift class actually bites
      ("c8b_curriculum_bins_sql",
        () => CoreQueries.c8bCurriculumBinsSql(spark, work),
        () => {
          spark.conf.set(graft.plans.GlobalRankRule.EnabledKey, "false")
          try CoreQueries.c8bCurriculumBinsSql(spark, work).localCheckpoint()
          finally spark.conf.unset(graft.plans.GlobalRankRule.EnabledKey)
        }),
      ("x9b_clusters_altstar",
        () => DedupQueries.x9bDedupClustersAltStar(spark, work),
        () => DedupQueries.x9DedupClusters(spark, work)),
      ("x20_simhash_pairs",
        () => DedupQueries.x20SimhashPairs(spark, work, 3),
        () => DedupQueries.simhashPairsBlocked(
          DedupQueries.x3Simhash(spark, work), 3, nBlocks = 8)),
      // x9c: the contraction fold ↔ x9's one-shot propagation — the fold
      // law at the scale point where cluster shapes actually stress it
      ("x9c_incremental_clusters",
        () => DedupQueries.x9cIncrementalClusters(spark, work),
        () => DedupQueries.x9DedupClusters(spark, work)),
      // a13b: the custom AsOfJoinExec merge ↔ the union-and-carry window
      // plan — same contract, disjoint code paths (a13's shape is itself
      // DuckDB-gated at sf0.01, so this closes the 10× loop for the exec)
      ("a13b_asof_join_native",
        () => CoreQueries.a13bAsofJoinNative(spark, work),
        () => CoreQueries.a13AsofJoin(spark, work)),
      // a13c: forward+tolerance through the exec ↔ an equi-keyed range join
      // re-aggregated by MIN/min_by — the candidate-pair formulation the
      // operator exists to avoid, affordable once per round as a twin
      ("a13c_asof_forward_tol",
        () => CoreQueries.a13cAsofJoinForwardTol(spark, work),
        () => {
          val purchases = ev.filter(col("event_type") === "purchase")
            .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
            .agg(max(col("value")).as("p_value"))
          val clicks = ev.filter(col("event_type") === "click")
            .select(col("event_id"), col("user_id"), col("ts"), col("value"))
          clicks.join(purchases,
              col("user_id") === col("p_user") && col("p_ts") >= col("ts") &&
                col("p_ts") <= col("ts") + expr("INTERVAL 2 HOUR"), "left")
            .groupBy(col("event_id"), col("ts"), col("user_id"), col("value"))
            .agg(min(col("p_ts")).as("np_ts"),
              expr("min_by(p_value, p_ts)").as("next_purchase_value"))
            .select(col("event_id"),
              col("ts").cast("timestamp_ntz").as("timestamp_utc"),
              col("user_id"), col("value"),
              col("np_ts").cast("timestamp_ntz").as("next_purchase_ts"),
              col("next_purchase_value"))
        }),
      // ---- sketch-VERDICT queries: their bounds contracts are the class
      // most likely to drift with scale (the r6 redesign proved it), so the
      // 10× twin re-derives every EXACT column through an independent
      // formulation and asserts the verdict booleans stay TRUE — a sketch
      // whose error contract breaks at 10× flips a boolean and fails the
      // hash compare.
      ("a9b_approx_distinct",
        () => CoreQueries.a9bApproxDistinct(spark, work),
        () => li.select(col("l_returnflag"), col("l_partkey")).distinct()
          .groupBy(col("l_returnflag")).agg(count(lit(1)).as("nd_parts"))
          .withColumn("approx_ok", lit(true))),
      ("a15b_quantiles_approx",
        () => CoreQueries.a15bQuantilesApprox(spark, work),
        () => {
          // exact p50/p95 via an explicit sort-rank interpolation — the
          // same value arithmetic Spark's Percentile uses (lower +
          // (higher - lower) * frac on pos = q·(n-1)), derived through a
          // window rank instead of the aggregate's internal buffer
          val byFlag = Window.partitionBy(col("l_returnflag"))
          val ranked = li.select(col("l_returnflag"), col("l_extendedprice").as("v"))
            .withColumn("rn", row_number().over(byFlag.orderBy(col("v"))))
            .withColumn("n", count(lit(1)).over(byFlag))
          def pick(q: Double, name: String)(df: DataFrame): DataFrame = {
            val pos = lit(q) * (col("n") - 1).cast("double")
            df.withColumn(s"__lo_$name",
                when(col("rn") === floor(pos).cast("long") + 1, col("v")))
              .withColumn(s"__hi_$name",
                when(col("rn") === floor(pos).cast("long") + 2, col("v")))
          }
          pick(0.95, "p95")(pick(0.5, "p50")(ranked))
            .groupBy(col("l_returnflag"), col("n"))
            .agg(max(col("__lo_p50")).as("lo50"), max(col("__hi_p50")).as("hi50"),
              max(col("__lo_p95")).as("lo95"), max(col("__hi_p95")).as("hi95"))
            .select(col("l_returnflag"),
              (col("lo50") + (coalesce(col("hi50"), col("lo50")) - col("lo50")) *
                (lit(0.5) * (col("n") - 1).cast("double") -
                  floor(lit(0.5) * (col("n") - 1).cast("double")))).as("p50"),
              (col("lo95") + (coalesce(col("hi95"), col("lo95")) - col("lo95")) *
                (lit(0.95) * (col("n") - 1).cast("double") -
                  floor(lit(0.95) * (col("n") - 1).cast("double")))).as("p95"),
              col("n"), lit(true).as("p50_ok"), lit(true).as("p95_ok"))
        }),
      ("a23_rolling_active_users",
        () => CoreQueries.a23RollingActiveUsers(spark, work),
        () => {
          val pairs = ev.select(to_date(col("ts")).as("uday"), col("user_id")).distinct()
          val ex7 = pairs
            .select(explode(expr("sequence(uday, date_add(uday, 6))")).as("day"),
              col("user_id"))
            .dropDuplicates("day", "user_id")
            .groupBy(col("day")).agg(count(lit(1)).as("active_7d_exact"))
          val ex1 = pairs.groupBy(col("uday").as("day"))
            .agg(count(lit(1)).as("active_1d_exact"))
          // inner join = gate's day domain (days with events)
          ex1.join(ex7, Seq("day"))
            .select(col("day"), col("active_1d_exact"), col("active_7d_exact"),
              lit(true).as("approx_7d_ok"))
        }),
      ("t15_heavy_hitters",
        () => graft.text.TextQueries.t15HeavyHitters(spark, work),
        () => {
          // exact top-10 through TakeOrderedAndProject (no window), counts
          // through a two-level partial aggregate
          val toks = docs.select(col("doc_id"),
            explode(split(col("text"), " ")).as("term"))
          toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
            .groupBy(col("term")).agg(sum(col("c")).as("cnt"))
            .orderBy(col("cnt").desc, col("term")).limit(10)
            .withColumn("mg_ok", lit(true))
        }),
      // ---- the round-8 GlobalRankExec extensions, against the STOCK
      // single-partition Window (kill-switch; affordable as a one-shot
      // twin) — the forward tie-chain stitch and the aggregate carry are
      // exactly the machinery that only 10× tie/partition shapes stress
      ("e15_running_total_sql",
        () => CoreQueries.e15RunningTotalSql(spark, work),
        () => {
          spark.conf.set(graft.plans.GlobalRankRule.EnabledKey, "false")
          try CoreQueries.e15RunningTotalSql(spark, work).localCheckpoint()
          finally spark.conf.unset(graft.plans.GlobalRankRule.EnabledKey)
        }),
      ("c8c_cume_dist_sql",
        () => CoreQueries.c8cCumeDistSql(spark, work),
        () => {
          spark.conf.set(graft.plans.GlobalRankRule.EnabledKey, "false")
          try CoreQueries.c8cCumeDistSql(spark, work).localCheckpoint()
          finally spark.conf.unset(graft.plans.GlobalRankRule.EnabledKey)
        }),
      ("e16_running_minmax_sql",
        () => CoreQueries.e16RunningMinmaxSql(spark, work),
        () => {
          spark.conf.set(graft.plans.GlobalRankRule.EnabledKey, "false")
          try CoreQueries.e16RunningMinmaxSql(spark, work).localCheckpoint()
          finally spark.conf.unset(graft.plans.GlobalRankRule.EnabledKey)
        }),
      ("e17_moving_total_sql",
        () => CoreQueries.e17MovingTotalSql(spark, work),
        () => {
          spark.conf.set(graft.plans.GlobalRankRule.EnabledKey, "false")
          try CoreQueries.e17MovingTotalSql(spark, work).localCheckpoint()
          finally spark.conf.unset(graft.plans.GlobalRankRule.EnabledKey)
        }),
      // x8c: the declared HOF-fold ADC arithmetic ↔ the exploded decimal
      // SUM-aggregate formulation — full-signature at 10×, so the decimal
      // fold's exactness (the round-8 parity bug's surface) is pinned
      // in-engine, not left to the sf0.01 oracle's 4dp rounding
      ("x8c_ann_ivfpq",
        () => graft.similarity.SimilarityQueries.x8cAnnIvfPq(spark, work, 10, 2),
        () => graft.similarity.SimilarityQueries.x8cAnnIvfPqTwin(spark, work, 10, 2)),
      // e18: the round-9 window families (first/last/nth_value + DECIMAL
      // running avg) against the stock single-partition Window via the
      // kill-switch — the e15/c8c/e17 discipline for the new lanes
      ("e18_firstlast_sql",
        () => CoreQueries.e18FirstLastSql(spark, work),
        () => {
          spark.conf.set(graft.plans.GlobalRankRule.EnabledKey, "false")
          try CoreQueries.e18FirstLastSql(spark, work).localCheckpoint()
          finally spark.conf.unset(graft.plans.GlobalRankRule.EnabledKey)
        }),
      // e19: the ghost-probe RANGE-sliding rewrite ↔ the stock
      // single-partition rangeBetween Window, at the scale point where the
      // union ordering and tie-run stitching actually stress it
      ("e19_range_sliding",
        () => CoreQueries.e19RangeSliding(spark, work),
        () => {
          // kill-switch: RangeSlidingRule would otherwise rewrite this
          // rangeBetween twin too, making the comparison rule-vs-rule
          spark.conf.set(graft.plans.RangeSlidingRule.EnabledKey, "false")
          try {
            val o = graft.Tables(spark, work, "orders").select(col("o_orderkey"),
              datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
                .cast("long").as("dnum"),
              col("o_totalprice").cast("decimal(25,4)").as("px"))
            val sw = Window.orderBy(col("dnum")).rangeBetween(-6, 0)
            o.withColumn("frame_total", sum(col("px")).over(sw).cast("double"))
              .withColumn("frame_cnt", count(col("px")).over(sw))
              .withColumn("frame_avg",
                col("frame_total") / col("frame_cnt").cast("double"))
              .select("o_orderkey", "frame_total", "frame_cnt", "frame_avg")
              .localCheckpoint()
          } finally spark.conf.unset(graft.plans.RangeSlidingRule.EnabledKey)
        }),
      // e19b: the raw-SQL RANGE-sliding auto-rewrite ↔ the kill-switched
      // stock single-partition Window (both rule switches off)
      ("e19b_range_sliding_sql",
        () => CoreQueries.e19bRangeSlidingSql(spark, work),
        () => {
          spark.conf.set(graft.plans.RangeSlidingRule.EnabledKey, "false")
          spark.conf.set(graft.plans.GlobalRankRule.EnabledKey, "false")
          try CoreQueries.e19bRangeSlidingSql(spark, work).localCheckpoint()
          finally {
            spark.conf.unset(graft.plans.RangeSlidingRule.EnabledKey)
            spark.conf.unset(graft.plans.GlobalRankRule.EnabledKey)
          }
        }),
      // e19c/e20/e20b/e21/e21b: the round-10 RANGE-frame families (decimal
      // AVG emission, block-decomposed min/max, FOLLOWING ends) against
      // the stock single-partition Window with ALL graft window rules
      // kill-switched — the e19b discipline at 1.5M rows
      ("e19c_range_avg_sql",
        () => CoreQueries.e19cRangeAvgSql(spark, work),
        () => stockWindows(CoreQueries.e19cRangeAvgSql(spark, work))),
      ("e20_range_minmax",
        () => CoreQueries.e20RangeMinmax(spark, work),
        () => stockWindows {
          val o = graft.Tables(spark, work, "orders").select(col("o_orderkey"),
            datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
              .cast("long").as("dnum"),
            col("o_totalprice").cast("decimal(18,2)").as("px"))
          val sw = Window.orderBy(col("dnum")).rangeBetween(-6, 0)
          o.withColumn("frame_min", min(col("px")).over(sw).cast("double"))
            .withColumn("frame_max", max(col("px")).over(sw).cast("double"))
            .select("o_orderkey", "frame_min", "frame_max")
        }),
      ("e20b_range_minmax_sql",
        () => CoreQueries.e20bRangeMinmaxSql(spark, work),
        () => stockWindows(CoreQueries.e20bRangeMinmaxSql(spark, work))),
      ("e21_range_centered",
        () => CoreQueries.e21RangeCentered(spark, work),
        () => stockWindows {
          val o = graft.Tables(spark, work, "orders").select(col("o_orderkey"),
            datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
              .cast("long").as("dnum"),
            col("o_totalprice").cast("decimal(25,4)").as("px"))
          val sw = Window.orderBy(col("dnum")).rangeBetween(-3, 3)
          o.withColumn("frame_total", sum(col("px")).over(sw).cast("double"))
            .withColumn("frame_cnt", count(col("px")).over(sw))
            .withColumn("frame_avg",
              col("frame_total") / col("frame_cnt").cast("double"))
            .select("o_orderkey", "frame_total", "frame_cnt", "frame_avg")
        }),
      ("e21b_range_centered_sql",
        () => CoreQueries.e21bRangeCenteredSql(spark, work),
        () => stockWindows(CoreQueries.e21bRangeCenteredSql(spark, work))),
      // e23/e23b: the SQL and DataFrame faces of the centered ROWS window,
      // each (RowsFollowingRule's padded cascade) ↔ the stock
      // single-partition Window on its own text
      ("e23_rows_centered_sql",
        () => CoreQueries.e23RowsCenteredSql(spark, work),
        () => stockWindows(CoreQueries.e23RowsCenteredSql(spark, work))),
      ("e23b_rows_centered_lib",
        () => CoreQueries.e23bRowsCenteredLib(spark, work),
        () => stockWindows(CoreQueries.e23bRowsCenteredLib(spark, work))),
      // e22: the running covar/corr DECIMAL-prefix composition ↔ the stock
      // single-partition Window on the same text — the per-row double
      // arithmetic is on exact operands, so the hashes must be identical
      ("e22_running_covar_sql",
        () => CoreQueries.e22RunningCovarSql(spark, work),
        () => stockWindows(CoreQueries.e22RunningCovarSql(spark, work))),
      // e24: the DESC RANGE canonicalization (NOT key) against the stock
      // DESC Window — the twin where a sign error in the key algebra would
      // actually flip a hash at 1.5M rows; e24b/e24c: the latest-first
      // centered ROWS window's SQL and DataFrame faces, each ↔ the stock
      // DESC Window on its own text
      ("e24_desc_sliding_sql",
        () => CoreQueries.e24DescSlidingSql(spark, work),
        () => stockWindows(CoreQueries.e24DescSlidingSql(spark, work))),
      ("e24b_desc_rows_sql",
        () => CoreQueries.e24bDescRowsSql(spark, work),
        () => stockWindows(CoreQueries.e24bDescRowsSql(spark, work))),
      ("e24c_desc_rows_lib",
        () => CoreQueries.e24cDescRowsLib(spark, work),
        () => stockWindows(CoreQueries.e24cDescRowsLib(spark, work))),
      // e25: the suffix-frame reversal vs an INDEPENDENT stock-exec
      // formulation. NOT the stock suffix window itself: Spark's
      // [CURRENT ROW, UNBOUNDED FOLLOWING] frame RECOMPUTES the aggregate
      // per row — O(n²) per partition, hours at 1.5M rows (which is half
      // of why SuffixFrameRule exists). Sums/counts come from
      // total − exclusive-prefix (a different identity entirely);
      // min/max/last from stock running frames over the reversed order —
      // all O(n) on the kill-switched stock exec. The reversal identity
      // itself is DuckDB-pinned at sf0.01 and spec-pinned vs the true
      // stock suffix window at spec scale.
      ("e25_suffix_frames_sql",
        () => CoreQueries.e25SuffixFramesSql(spark, work),
        () => stockWindows {
          val o = graft.Tables(spark, work, "orders").select(col("o_orderkey"),
            col("o_orderdate"),
            col("o_totalprice").cast("decimal(25,4)").as("px"),
            col("o_totalprice").cast("decimal(18,2)").as("px2"))
          val asc = Window.orderBy(col("o_orderdate"), col("o_orderkey"))
          val desc = Window.orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
          val n = o.count()
          // exact decimal scalars of the whole corpus (bounded collect)
          val tot = o.agg(sum(col("px"))).head.getDecimal(0)
          o.withColumn("rn", row_number().over(asc))
            .withColumn("pexcl", sum(col("px"))
              .over(asc.rowsBetween(Window.unboundedPreceding, -1)))
            .withColumn("remaining_total",
              (lit(tot) - coalesce(col("pexcl"),
                lit(java.math.BigDecimal.ZERO).cast("decimal(35,4)")))
                .cast("double"))
            .withColumn("remaining_cnt", lit(n) - col("rn") + 1L)
            .withColumn("remaining_min", min(col("px2"))
              .over(desc.rowsBetween(Window.unboundedPreceding, 0)).cast("double"))
            .withColumn("remaining_max", max(col("px2"))
              .over(desc.rowsBetween(Window.unboundedPreceding, 0)).cast("double"))
            .withColumn("final_px", first(col("px2"))
              .over(desc.rowsBetween(Window.unboundedPreceding, 0)).cast("double"))
            .select("o_orderkey", "remaining_total", "remaining_cnt",
              "remaining_min", "remaining_max", "final_px")
        }),
      // e3d: the FILE-SKIPPING slice read (stats-clustered merge +
      // record-pruned readSlice) ↔ lake-free LWW algebra + a plain
      // filter — pruning may drop files, never rows, at 1.5M events
      ("e3d_lake_slice",
        () => CoreQueries.e3dLakeSlice(spark, work),
        () => {
          import graft.etl.Upsert
          Upsert.lastWriteWins(
            ev.select(col("user_id"), col("event_type"), col("event_id"),
              col("ts"), col("value")),
            Seq("user_id", "event_type"), "ts", Seq("event_id"))
            .filter(col("ts") >= lit("2024-01-22 00:00:00").cast("timestamp") &&
              col("ts") <= lit("2024-01-28 00:00:00").cast("timestamp"))
            .select(col("user_id"), col("event_type"), col("event_id"),
              col("ts").cast("timestamp_ntz").as("timestamp_utc"), col("value"))
            .localCheckpoint()
        }),
      // e3e: the IN-list point-pruned SQL read (merge clustered by
      // user_id + InSet/In pushdown into the file records) ↔ lake-free LWW
      // algebra + a plain isin filter — point skipping may drop files,
      // never rows, at 1.5M events
      ("e3e_lake_in",
        () => CoreQueries.e3eLakeIn(spark, work),
        () => {
          import graft.etl.Upsert
          Upsert.lastWriteWins(
            ev.select(col("user_id"), col("event_type"), col("event_id"),
              col("ts"), col("value")),
            Seq("user_id", "event_type"), "ts", Seq("event_id"))
            .filter(col("event_type").isin("click", "purchase", "error") &&
              col("user_id").isin(2L, 3L, 5L, 7L, 11L, 13L))
            .select(col("user_id"), col("event_type"), col("event_id"),
              col("ts").cast("timestamp_ntz").as("timestamp_utc"), col("value"))
            .localCheckpoint()
        }),
      // e3f: the SQL DELETE commit (partition-scoped survivor rewrite +
      // atomic manifest swap) ↔ lake-free LWW algebra + the NOT-filter —
      // the delete may drop partitions and rewrite files, never touch a
      // surviving row, at 1.5M events
      ("e3f_lake_delete",
        () => CoreQueries.e3fLakeDelete(spark, work),
        () => {
          import graft.etl.Upsert
          Upsert.lastWriteWins(
            ev.select(col("user_id"), col("event_type"), col("event_id"),
              col("ts"), col("value")),
            Seq("user_id", "event_type"), "ts", Seq("event_id"))
            .filter(!coalesce(col("user_id").isin(2L, 3L, 5L, 7L, 11L, 13L) ||
              col("event_type") === "error", lit(false)))
            .select(col("user_id"), col("event_type"), col("event_id"),
              col("ts").cast("timestamp_ntz").as("timestamp_utc"), col("value"))
            .localCheckpoint()
        }),
      // e3b: the snapshot-lake merge path ↔ a lake-free in-engine
      // formulation of the same two-batch semantics (within-batch LWW,
      // cross-batch update-wins) — 1.5M rows through manifest commits,
      // hash-compared against pure dataframe algebra
      ("e3b_upsert_lake",
        () => CoreQueries.e3bUpsertLake(spark, work),
        () => {
          import graft.etl.Upsert
          val evb = ev.select(col("user_id"), col("event_type"),
            col("event_id"), col("ts"), col("value"))
          val keys = Seq("user_id", "event_type")
          val b0 = Upsert.lastWriteWins(
            evb.filter(col("event_id") % 2 === 0), keys, "ts", Seq("event_id"))
          val b1 = Upsert.lastWriteWins(
            evb.filter(col("event_id") % 2 === 1), keys, "ts", Seq("event_id"))
          b1.unionByName(b0.join(b1.select(keys.map(col): _*), keys, "left_anti"))
            .select(col("user_id"), col("event_type"), col("event_id"),
              col("ts").cast("timestamp_ntz").as("timestamp_utc"), col("value"))
        }),
      // e3g: the MERGE INTO write face (strategy-intercepted plan → the
      // lease-serialized LWW commit) ↔ the same lake-free two-batch
      // algebra as e3b — the THIRD write face must land the identical
      // table at 1.5M rows
      ("e3g_lake_merge_sql",
        () => CoreQueries.e3gLakeMergeSql(spark, work),
        () => {
          import graft.etl.Upsert
          val evb = ev.select(col("user_id"), col("event_type"),
            col("event_id"), col("ts"), col("value"))
          val keys = Seq("user_id", "event_type")
          val b0 = Upsert.lastWriteWins(
            evb.filter(col("event_id") % 2 === 0), keys, "ts", Seq("event_id"))
          val b1 = Upsert.lastWriteWins(
            evb.filter(col("event_id") % 2 === 1), keys, "ts", Seq("event_id"))
          b1.unionByName(b0.join(b1.select(keys.map(col): _*), keys, "left_anti"))
            .select(col("user_id"), col("event_type"), col("event_id"),
              col("ts").cast("timestamp_ntz").as("timestamp_utc"), col("value"))
        }),
      // e3h: the manifest-diff CDC read ↔ the same diff derived from
      // lake-free LWW algebra (full-outer join + null-safe compare) —
      // the partition-scoped read must produce exactly the full diff
      ("e3h_lake_changes",
        () => CoreQueries.e3hLakeChanges(spark, work),
        () => {
          import graft.etl.Upsert
          val evb = ev.select(col("user_id"), col("event_type"),
            col("event_id"), col("ts"), col("value"))
          val keys = Seq("user_id", "event_type")
          val b0 = Upsert.lastWriteWins(
            evb.filter(col("event_id") % 2 === 0), keys, "ts", Seq("event_id"))
          val b1 = Upsert.lastWriteWins(
            evb.filter(col("event_id") % 2 === 1), keys, "ts", Seq("event_id"))
          val merged = b1.unionByName(
            b0.join(b1.select(keys.map(col): _*), keys, "left_anti"))
          val a = b0.select(col("user_id"), col("event_type"),
            col("event_id").as("ae"), col("ts").as("ats"), col("value").as("av"))
          val b = merged.filter(!col("user_id").isin(2L, 3L, 5L, 7L, 11L, 13L))
            .select(col("user_id"), col("event_type"),
              col("event_id").as("be"), col("ts").as("bts"), col("value").as("bv"))
          val j = a.withColumn("__a", lit(true))
            .join(b.withColumn("__b", lit(true)), keys, "full_outer")
          val differs = !(col("ae") <=> col("be")) ||
            !(col("ats") <=> col("bts")) || !(col("av") <=> col("bv"))
          j.withColumn("_change_type",
              when(col("__a").isNull, lit("insert"))
                .when(col("__b").isNull, lit("delete"))
                .when(differs, lit("update")))
            .filter(col("_change_type").isNotNull)
            .select(col("user_id"), col("event_type"),
              when(col("__b").isNull, col("ae")).otherwise(col("be")).as("event_id"),
              when(col("__b").isNull, col("ats")).otherwise(col("bts"))
                .cast("timestamp_ntz").as("timestamp_utc"),
              when(col("__b").isNull, col("av")).otherwise(col("bv")).as("value"),
              col("_change_type"))
        }),
      // e3i: the standing CDC consumer's fold (bootstrap + per-commit
      // deltas applied in order) ↔ lake-free LWW algebra minus the
      // deleted keys — per-commit consumption must reconstruct the final
      // snapshot at 1.5M events
      ("e3i_lake_cdc_follow",
        () => CoreQueries.e3iLakeCdcFollow(spark, work),
        () => {
          import graft.etl.Upsert
          val evb = ev.select(col("user_id"), col("event_type"),
            col("event_id"), col("ts"), col("value"))
          val keys = Seq("user_id", "event_type")
          val b0 = Upsert.lastWriteWins(
            evb.filter(col("event_id") % 2 === 0), keys, "ts", Seq("event_id"))
          val b1 = Upsert.lastWriteWins(
            evb.filter(col("event_id") % 2 === 1), keys, "ts", Seq("event_id"))
          b1.unionByName(b0.join(b1.select(keys.map(col): _*), keys, "left_anti"))
            .filter(!col("user_id").isin(2L, 3L, 5L, 7L, 11L, 13L))
            .select(col("user_id"), col("event_type"), col("event_id"),
              col("ts").cast("timestamp_ntz").as("timestamp_utc"), col("value"))
        }),
      // e3j: the SQL-only bootstrap (CREATE TABLE + two INSERT INTO
      // commits) ↔ the same lake-free two-batch algebra as e3b/e3g — a
      // DDL-born table's write faces must land the identical LWW table
      ("e3j_lake_create_sql",
        () => CoreQueries.e3jLakeCreateSql(spark, work),
        () => {
          import graft.etl.Upsert
          val evb = ev.select(col("user_id"), col("event_type"),
            col("event_id"), col("ts"), col("value"))
          val keys = Seq("user_id", "event_type")
          val b0 = Upsert.lastWriteWins(
            evb.filter(col("event_id") % 2 === 0), keys, "ts", Seq("event_id"))
          val b1 = Upsert.lastWriteWins(
            evb.filter(col("event_id") % 2 === 1), keys, "ts", Seq("event_id"))
          b1.unionByName(b0.join(b1.select(keys.map(col): _*), keys, "left_anti"))
            .select(col("user_id"), col("event_type"), col("event_id"),
              col("ts").cast("timestamp_ntz").as("timestamp_utc"), col("value"))
        }),
      // e3k: the SQL UPDATE commit (predicate-scoped partition rewrite)
      // ↔ lake-free LWW algebra with the assignment applied under the
      // predicate — the rewrite may restage whole partitions, never
      // change a non-matching row, at 1.5M events
      ("e3k_lake_update_sql",
        () => CoreQueries.e3kLakeUpdateSql(spark, work),
        () => {
          import graft.etl.Upsert
          Upsert.lastWriteWins(
            ev.select(col("user_id"), col("event_type"), col("event_id"),
              col("ts"), col("value")),
            Seq("user_id", "event_type"), "ts", Seq("event_id"))
            .select(col("user_id"), col("event_type"), col("event_id"),
              col("ts").cast("timestamp_ntz").as("timestamp_utc"),
              when(col("event_type") === "click" && col("user_id") % 3 === 0,
                col("value") * 2).otherwise(col("value")).as("value"))
        }),
      // e3l: the spark.readStream CDC face (bootstrap + per-commit deltas
      // through Structured Streaming's own checkpointing, folded by
      // last-commit-per-key) ↔ the same lake-free LWW algebra as e3i —
      // the file-sink consumer must reconstruct the final snapshot at 1.5M
      // events exactly as e3i's foreachBatch fold does
      ("e3l_lake_stream_cdc",
        () => CoreQueries.e3lLakeStreamCdc(spark, work),
        () => {
          import graft.etl.Upsert
          val evb = ev.select(col("user_id"), col("event_type"),
            col("event_id"), col("ts"), col("value"))
          val keys = Seq("user_id", "event_type")
          val b0 = Upsert.lastWriteWins(
            evb.filter(col("event_id") % 2 === 0), keys, "ts", Seq("event_id"))
          val b1 = Upsert.lastWriteWins(
            evb.filter(col("event_id") % 2 === 1), keys, "ts", Seq("event_id"))
          b1.unionByName(b0.join(b1.select(keys.map(col): _*), keys, "left_anti"))
            .filter(!col("user_id").isin(2L, 3L, 5L, 7L, 11L, 13L))
            .select(col("user_id"), col("event_type"), col("event_id"),
              col("ts").cast("timestamp_ntz").as("timestamp_utc"), col("value"))
        }),
      // e3m: the two-lake FK-ordered pipeline ↔ the lake-free
      // standardize+convert algebra over the deduped bars joined to the
      // derived dim — the ordered commits must land exactly the math
      ("e3m_lake_pipeline",
        () => CoreQueries.e3mLakePipeline(spark, work),
        () => {
          import org.apache.spark.sql.expressions.Window
          val w = Window.partitionBy(col("event_type"), col("ts"))
            .orderBy(col("value").desc, col("event_id").desc)
          ev.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
            .select(col("event_type").as("ticker"),
              col("ts").cast("timestamp_ntz").as("timestamp_utc"),
              col("value").as("close"),
              (col("value") * (lit(1.0) +
                dayofmonth(col("ts")).cast("double") / lit(100.0)))
                .as("close_usd"),
              upper(col("event_type")).as("name"))
        }),
      // e3n: writeStream INTO the lake (two AvailableNow drains through the
      // V1 sink, replay-guarded by the manifest's per-sink watermark) ↔ the
      // same two-commit LWW algebra as e3j — streamed batches must land
      // the identical state the SQL INSERT twin lands, at 1.5M events
      ("e3n_lake_stream_write",
        () => CoreQueries.e3nLakeStreamWrite(spark, work),
        () => {
          import graft.etl.Upsert
          val evb = ev.select(col("user_id"), col("event_type"),
            col("event_id"), col("ts"), col("value"))
          val keys = Seq("user_id", "event_type")
          val b0 = Upsert.lastWriteWins(
            evb.filter(col("event_id") % 2 === 0), keys, "ts", Seq("event_id"))
          val b1 = Upsert.lastWriteWins(
            evb.filter(col("event_id") % 2 === 1), keys, "ts", Seq("event_id"))
          b1.unionByName(b0.join(b1.select(keys.map(col): _*), keys, "left_anti"))
            .select(col("user_id"), col("event_type"), col("event_id"),
              col("ts").cast("timestamp_ntz").as("timestamp_utc"), col("value"))
        }),
      // e3o: ALTER TABLE ADD COLUMN (metadata-only widen between the two
      // INSERT commits) ↔ the two-commit LWW algebra where `note` exists
      // exactly on rows whose winning version arrived after the ALTER
      ("e3o_lake_alter_add",
        () => CoreQueries.e3oLakeAlterAdd(spark, work),
        () => {
          import graft.etl.Upsert
          val evb = ev.select(col("user_id"), col("event_type"),
            col("event_id"), col("ts"), col("value"))
          val keys = Seq("user_id", "event_type")
          val b0 = Upsert.lastWriteWins(
            evb.filter(col("event_id") % 2 === 0), keys, "ts", Seq("event_id"))
            .withColumn("note", lit(null).cast("string"))
          val b1 = Upsert.lastWriteWins(
            evb.filter(col("event_id") % 2 === 1), keys, "ts", Seq("event_id"))
            .withColumn("note",
              concat_ws("-", col("event_type"), col("user_id")))
          b1.unionByName(b0.join(b1.select(keys.map(col): _*), keys, "left_anti"))
            .select(col("user_id"), col("event_type"), col("event_id"),
              col("ts").cast("timestamp_ntz").as("timestamp_utc"),
              col("value"), col("note"))
        }),
      // e3p: TRUNCATE TABLE (unconditional delete commit) + post-truncate
      // INSERT ↔ the odd-batch LWW state alone — the truncate must have
      // emptied the live snapshot while the contract kept accepting writes
      ("e3p_lake_truncate_sql",
        () => CoreQueries.e3pLakeTruncateSql(spark, work),
        () => {
          import graft.etl.Upsert
          Upsert.lastWriteWins(
            ev.select(col("user_id"), col("event_type"), col("event_id"),
              col("ts"), col("value")).filter(col("event_id") % 2 === 1),
            Seq("user_id", "event_type"), "ts", Seq("event_id"))
            .select(col("user_id"), col("event_type"), col("event_id"),
              col("ts").cast("timestamp_ntz").as("timestamp_utc"), col("value"))
        }),
      // a13d: nearest+tolerance through the exec ↔ the candidate-pair
      // range join ranked by (|Δts|, backward-first) — the quadratic
      // formulation the merge's two-candidate compare replaces
      ("a13d_asof_nearest",
        () => CoreQueries.a13dAsofNearest(spark, work),
        () => {
          import org.apache.spark.sql.expressions.Window
          val purchases = ev.filter(col("event_type") === "purchase")
            .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
            .agg(max(col("value")).as("p_value"))
          val clicks = ev.filter(col("event_type") === "click")
            .select(col("event_id"), col("user_id"), col("ts"), col("value"))
          val w = Window.partitionBy(col("event_id")).orderBy(
            abs(unix_micros(col("p_ts")) - unix_micros(col("ts"))).asc,
            when(col("p_ts") <= col("ts"), 0).otherwise(1).asc)
          clicks.join(purchases,
              col("user_id") === col("p_user") &&
                col("p_ts") >= col("ts") - expr("INTERVAL 90 MINUTE") &&
                col("p_ts") <= col("ts") + expr("INTERVAL 90 MINUTE"), "left")
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .select(col("event_id"),
              col("ts").cast("timestamp_ntz").as("timestamp_utc"),
              col("user_id"), col("value"),
              col("p_ts").cast("timestamp_ntz").as("nearest_purchase_ts"),
              col("p_value").as("nearest_purchase_value"))
        }))

    val results = checks.map { case (name, gate, twin) =>
      val t0 = System.nanoTime()
      val (gn, gh) = sig(gate())
      val (tn, th) = sig(twin())
      val secs = (System.nanoTime() - t0) / 1e9
      val ok = gn == tn && gh == th
      println(f"[verify_sf1] $name%-28s rows=$gn%9d twin=$tn%9d " +
        f"hash_match=$ok%-5s ${secs}%8.1f s")
      s"""  "$name": {"rows": $gn, "twin_rows": $tn, "rows_match": ${gn == tn},
         |    "hash_match": ${gh == th}, "secs": ${f"$secs%.1f"}}""".stripMargin
    }
    val allOk = !results.exists(_.contains("false"))
    val json = s"{\n${results.mkString(",\n")},\n" +
      s"""  "replicas": $n, "all_match": $allOk\n}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes("UTF-8"))
    println(s"[verify_sf1] wrote $out all_match=$allOk")
    spark.stop()
    if (!allOk) sys.exit(1)
  }
}
