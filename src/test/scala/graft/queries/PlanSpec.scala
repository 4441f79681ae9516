package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.SparkSuite

/** Physical-plan shape assertions — the properties that decide whether these
  * plans survive a 100 TB input: filters reaching the parquet scan, column
  * pruning, broadcast vs shuffle join selection, top-k instead of global
  * sort, and no accidental cartesian products.
  */
class PlanSpec extends SparkSuite {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Simple-mode plan string — used for the COUNTING pins: formatted mode
    * splits operator names from their arguments ("Exchange (12)" + a details
    * section), so tokens like "Exchange hashpartitioning" never appear there
    * and a count over it is vacuously zero.
    */
  private def simplePlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("a1: predicate pushdown and column pruning reach the scan") {
    val p = plan(CoreQueries.a1FilterProject(spark, sf001))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(l_discount"), p)
    // only the 5 projected/filter columns are read — l_quantity must be pruned
    assert(!p.contains("l_quantity"), "scan reads a column the query never uses")
  }

  test("a3/e1: tiny-dimension joins broadcast (no fact-side shuffle)") {
    assert(plan(CoreQueries.a3BroadcastJoin(spark, sf001)).contains("BroadcastHashJoin"))
    assert(plan(CoreQueries.e1Standardize(spark, sf001)).contains("BroadcastHashJoin"))
  }

  test("a4: fact-to-fact join stays sort-merge") {
    assert(plan(CoreQueries.a4SortMergeJoin(spark, sf001)).contains("SortMergeJoin"))
  }

  test("q_recent: order-by-limit plans as top-k, not a global sort") {
    assert(plan(CoreQueries.qRecent(spark, sf001)).contains("TakeOrderedAndProject"))
  }

  test("a2: aggregation is partial (map-side) before the shuffle") {
    val p = plan(CoreQueries.a2Agg(spark, sf001))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final HashAggregate")
  }

  test("e2: the rate lookup is a broadcast join — fact side never shuffles") {
    assert(plan(CoreQueries.e2Convert(spark, sf001)).contains("BroadcastHashJoin"))
  }

  test("a13: as-of join plans as one keyed sort, no join operator at all") {
    val p = plan(CoreQueries.a13AsofJoin(spark, sf001))
    assert(p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "union-and-carry as-of must not plan a per-row join")
  }

  test("a17: interval join keeps the user-key equi-join (no nested loop)") {
    val p = plan(CoreQueries.a17IntervalJoin(spark, sf001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range predicate must ride on the equi-join, not force a nested loop:\n" + p)
  }

  test("a17b: the KEYLESS range join bins into an equi-join — no nested loop") {
    val p = plan(CoreQueries.a17bIntervalJoinBinned(spark, sf001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "binning must give the keyless range join an equi-key:\n" + p)
    assert(p.contains("Join"), "the rewrite must still be a join:\n" + p)
  }

  test("c8: the DataFrame global ntile plans GlobalRankExec, never a single-partition Window") {
    val df = CoreQueries.c8CurriculumBins(spark, sf001)
    val p = simplePlan(df)
    // the global empty-partition Window is the one-task cliff the rewrite
    // replaces
    assert(graft.plans.PlanChecks.unboundedGlobalWindows(df).isEmpty,
      "global ntile must not fall back to a one-task Window:\n" + p)
    assert(p.contains("GlobalRank"),
      "the optimizer must rewrite the global window into the distributed rank:\n" + p)
  }

  test("e19/e20/e21: the DataFrame RANGE faces plan no one-task Window") {
    for ((name, df, sums) <- Seq(
        ("e19", CoreQueries.e19RangeSliding(spark, sf001), true),
        ("e20", CoreQueries.e20RangeMinmax(spark, sf001), false),
        ("e21", CoreQueries.e21RangeCentered(spark, sf001), true))) {
      val p = simplePlan(df)
      assert(graft.plans.PlanChecks.unboundedGlobalWindows(df).isEmpty,
        s"$name: a RANGE frame fell back to a one-task Window:\n" + p)
      // sum/count ride the ghost-probe running window (GlobalRankExec);
      // min/max ride the block decomposition's partitioned windows
      if (sums) assert(p.contains("GlobalRank"),
        s"$name: the running window must ride the distributed exec:\n" + p)
    }
  }

  test("c8b: the RAW-SQL global ntile rewrites to GlobalRankExec, no Window anywhere") {
    val df = CoreQueries.c8bCurriculumBinsSql(spark, sf001)
    val p = simplePlan(df)
    assert(p.contains("GlobalRank"),
      "the optimizer must rewrite the global window into the distributed rank:\n" + p)
    assert(!p.contains("Window"),
      "no single-partition Window may survive the rewrite:\n" + p)
    assert(p.contains("rangepartitioning"),
      "the rank must ride a range exchange (a global sort's envelope):\n" + p)
    // and the rewrite agrees with the stock single-partition Window (c8
    // plans the same GlobalRankExec, so it is no independent comparator)
    val viaSql = df.collect().map(_.toString).toSeq
    spark.conf.set(graft.plans.GlobalRankRule.EnabledKey, "false")
    val stock = try CoreQueries.c8bCurriculumBinsSql(spark, sf001).collect().map(_.toString).toSeq
      finally spark.conf.unset(graft.plans.GlobalRankRule.EnabledKey)
    assert(viaSql == stock, "c8b diverged from the stock Window")
  }

  test("c8c/e15/e16: cume_dist + prefix aggregates rewrite to GlobalRankExec, no Window") {
    for (df <- Seq(CoreQueries.c8cCumeDistSql(spark, sf001),
        CoreQueries.e15RunningTotalSql(spark, sf001),
        CoreQueries.e16RunningMinmaxSql(spark, sf001),
        CoreQueries.e17MovingTotalSql(spark, sf001))) {
      val p = simplePlan(df)
      assert(p.contains("GlobalRank"),
        "forward tie-aware / prefix-aggregate windows must rewrite:\n" + p)
      assert(!p.contains("Window"),
        "no single-partition Window may survive the rewrite:\n" + p)
      assert(p.contains("rangepartitioning"),
        "the prefix must ride a range exchange (a global sort's envelope):\n" + p)
    }
  }

  test("x6: ANN top-k plans as a partial object aggregate, not a window sort") {
    val p = plan(graft.similarity.SimilarityQueries.x6AnnBruteForce(spark, sf001, 10))
    assert(p.contains("ObjectHashAggregate"), "TopKAggregator should plan as ObjectHashAggregate")
    assert(!p.contains("Window"), "brute-force top-k must not fall back to a window sort")
  }

  test("x8c: IVF-PQ encodes map-only (literal codebook) and probes by broadcast") {
    val p = plan(graft.similarity.SimilarityQueries.x8cAnnIvfPq(spark, sf001, 10, 2))
    // every join is against a bounded side (cells, probes, codebook) — the
    // corpus is never exchanged pairwise
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "IVF-PQ must never shuffle or pair the corpus:\n" + p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x12: the eval-set side of the contamination join broadcasts") {
    val p = plan(graft.dedup.DedupQueries.x12Contamination(spark, sf001))
    assert(p.contains("BroadcastHashJoin"),
      "eval shingles must broadcast — the corpus side streams map-only:\n" + p)
  }

  test("e8: drawdown is one window pass, no join operator") {
    val p = plan(CoreQueries.e8Drawdown(spark, sf001))
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), "running-max drawdown must not plan a join")
  }

  test("t8: the corpus-size scalar joins as a broadcast, not a cartesian") {
    val p = plan(graft.text.TextQueries.tfidf(spark, sf001))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("a18: JSON extraction stays inside the scan's codegen span (no UDF, no extra exchange)") {
    val p = plan(CoreQueries.a18JsonExtract(spark, sf001))
    assert(p.contains("GetJsonObject") || p.contains("get_json_object"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "JSON path must be a native expression, not a UDF")
    // one keyed aggregate: partial + final HashAggregate around ONE exchange
    val sp = simplePlan(CoreQueries.a18JsonExtract(spark, sf001))
    assert("Exchange hashpartitioning".r.findAllIn(sp).size == 1,
      "a18 should shuffle once (event_type agg), nothing else:\n" + sp)
  }

  test("x15: span aggregates are partial (map-side) before their shuffles") {
    val p = plan(graft.dedup.DedupQueries.x15DupSpanCoverage(spark, sf001))
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "span-df and coverage counts must map-side combine before the exchange")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("m5: banded candidate join is an equi-join, never a nested loop") {
    val p = plan(graft.multimodal.MultimodalQueries.m5PerceptualNearDup(spark, sf001))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "band blocking must plan as an equi-join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "hamming cut must run on band-bucket candidates, not all pairs")
  }

  test("e9: exactly two window passes (series key, then day key), no join") {
    val p = plan(CoreQueries.e9MomentumRank(spark, sf001))
    assert("\\bWindow\\b".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"),
      "cross-sectional re-rank must be a re-partition, not a self-join")
  }

  test("a20: histogram is a partial aggregate reading only the bucketed column") {
    val p = plan(CoreQueries.a20Histogram(spark, sf001))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "bucket counts must map-side combine before the exchange")
    assert(!p.contains("o_orderdate") && !p.contains("o_custkey"),
      "scan reads columns the histogram never uses")
  }

  test("t11: classifier inference is a zero-shuffle projection (no UDF, no agg exchange)") {
    val p = plan(graft.text.TextQueries.hashedClassifier(spark, sf001))
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      "model scoring must be a native expression, not a UDF")
    val sp = simplePlan(graft.text.TextQueries.hashedClassifier(spark, sf001))
    assert("Exchange hashpartitioning".r.findAllIn(sp).isEmpty,
      "inference must not shuffle — only the presentation sort may exchange:\n" + sp)
  }

  test("a22: one user-keyed exchange serves both windows and the session aggregate") {
    val p = simplePlan(CoreQueries.a22Sessionization(spark, sf001))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "lag, running sum, and the session groupBy must share one shuffle:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("a21: retention derives cohorts in-plan — one scan, no self-join") {
    val p = simplePlan(CoreQueries.a21RetentionCohorts(spark, sf001))
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "cohort day must ride a window over the activity set, not re-scan events:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("x17: the snapshot anti-join is keyed, never broadcast or nested-loop") {
    val p = plan(graft.dedup.DedupQueries.x17IncrementalNovelty(spark, sf001))
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "corpus-vs-corpus anti join must stay a keyed shuffle join:\n" + p)
  }

  test("x17b: the Bloom probe is a native codegen expression — no per-row UDF anywhere") {
    val p = plan(graft.dedup.DedupQueries.x17bNoveltyBloom(spark, sf001))
    assert(p.contains("bloom_might_contain_str"),
      "the sketch probe must be the Catalyst expression:\n" + p)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      "the span stream must stay inside whole-stage codegen:\n" + p)
  }

  test("a24: one user-keyed exchange feeds the lead window; matrix window is post-agg") {
    val p = simplePlan(CoreQueries.a24MarkovTransitions(spark, sf001))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "the (from, to) count must map-side combine before its shuffle:\n" + p)
  }

  test("a25: gap quantiles plan one keyed window and a partial-combined aggregate") {
    val p = simplePlan(CoreQueries.a25InterarrivalQuantiles(spark, sf001))
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), "cadence profile must not plan a join:\n" + p)
  }

  test("c6: the rate table broadcasts — the selection pass never shuffles the corpus") {
    val p = plan(CoreQueries.c6TemperatureMix(spark, sf001))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the #sources-row rate table must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "no corpus-keyed shuffle join belongs in the mixing plan:\n" + p)
  }

  test("c7: shard audit is a partial aggregate; the share window sees post-agg rows") {
    val p = simplePlan(CoreQueries.c7EpochShardAssign(spark, sf001))
    assert(!p.contains("Join"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "the (epoch, shard) count must map-side combine before its shuffle:\n" + p)
  }

  test("t14: the vocab side of the coverage join broadcasts") {
    val p = plan(graft.text.TextQueries.t14VocabCoverage(spark, sf001))
    assert(p.contains("BroadcastHashJoin"),
      "the 256-row vocab must broadcast — the token side streams map-only:\n" + p)
  }

  test("a14: decorrelated subquery keeps two scans, a partial per-key avg, and a non-cartesian avg join") {
    // TPC-H Q17's shape: the correlated `l_quantity < 0.5*avg per partkey`
    // must decorrelate into a SECOND lineitem scan aggregated per partkey
    // (with a map-side partial half), joined back by key — never a per-row
    // re-evaluation and never a cartesian. This pins the r4→r5 drift watch:
    // if AQE ever drops the partial agg or the join degrades, this fails
    // before the bench does.
    val sp = simplePlan(CoreQueries.a14CorrelatedSubquery(spark, sf001))
    assert("Scan parquet".r.findAllIn(sp).count(_ => true) >= 2 ||
      "FileScan".r.findAllIn(sp).count(_ => true) >= 2,
      "decorrelation needs the double lineitem scan:\n" + sp)
    // the per-partkey avg: partial + final halves (avg survives as a
    // two-phase hash aggregate keyed on l_partkey)
    assert("HashAggregate".r.findAllIn(sp).size >= 4,
      "per-key avg and the outer group-by must both keep partial halves:\n" + sp)
    assert(sp.contains("Join"), "the decorrelated avg must JOIN back, not re-evaluate:\n" + sp)
    assert(!sp.contains("CartesianProduct"), sp)
  }

  test("t15: the frequent-items sketch plans as a partial object aggregate") {
    val p = plan(graft.text.TextQueries.t15HeavyHitters(spark, sf001))
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "FrequentItemsAggregator should plan as a typed partial aggregate:\n" + p)
  }

  test("m8: the byte histogram map-side combines before both exchanges") {
    val p = simplePlan(graft.multimodal.MultimodalQueries.m8ByteDiversity(spark, sf001))
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "both (doc, byte) and doc aggregates must have partial halves:\n" + p)
    assert(!p.contains("Join"), p)
  }

  test("m9: format audit is one narrow pass — no join, partial-combined aggregate") {
    val p = simplePlan(graft.multimodal.MultimodalQueries.m9FormatConsistency(spark, sf001))
    assert(!p.contains("Join"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("a26: the salted join is sort-merge on (key, salt) — the path the salt exists for") {
    val sp = simplePlan(CoreQueries.a26SaltedSkewJoin(spark, sf001))
    assert(sp.contains("SortMergeJoin"), "salted join must take the large-join path:\n" + sp)
    assert(sp.contains("__salt"), "join keys must carry the salt column:\n" + sp)
  }

  test("c9: the sample is a bounded aggregate, not a corpus-wide window sort") {
    val sp = simplePlan(CoreQueries.c9FixedSizeSample(spark, sf001))
    assert(!sp.contains("Window"), "top-k sample must not plan a window:\n" + sp)
    assert(sp.contains("ObjectHashAggregate") || sp.contains("SortAggregate"),
      "expected the typed top-k aggregate:\n" + sp)
  }

  test("c10: the weighted sample is a bounded aggregate, not a global window sort") {
    val sp = simplePlan(CoreQueries.c10WeightedSample(spark, sf001))
    assert(!sp.contains("Window"), "priority sample must not plan a window:\n" + sp)
    assert(sp.contains("ObjectHashAggregate") || sp.contains("SortAggregate"),
      "expected the typed top-k aggregate:\n" + sp)
  }

  test("a10c: grouping sets plan ONE Expand pass over the scan, no per-set re-scan") {
    val sp = simplePlan(CoreQueries.a10cGroupingSets(spark, sf001))
    assert("Expand".r.findAllIn(sp).size == 1,
      "expected exactly one Expand for all grouping sets:\n" + sp)
    assert("FileScan".r.findAllIn(sp).size <= 1,
      "grouping sets must not re-scan per set:\n" + sp)
  }

  test("t18: rank window partitions the vocab table, never the corpus rows") {
    val sp = simplePlan(graft.text.TextQueries.t18TokenGini(spark, sf001))
    // the Window must sit ABOVE the (lang, term) count aggregate: partial +
    // final count aggregates appear below it in the plan, so the windowed
    // input is vocab-sized
    val wi = sp.indexOf("Window")
    assert(wi >= 0, "expected the rank window:\n" + sp)
    assert("HashAggregate".r.findAllIn(sp.substring(wi)).size >= 2,
      "expected the vocab count aggregate BELOW the window:\n" + sp)
  }

  test("e12: state merge is aggregation only — no join back to the fact table") {
    val sp = simplePlan(CoreQueries.e12IncrementalCandles(spark, sf001))
    assert(!sp.contains("Join"), "MV refresh must merge states, never join facts:\n" + sp)
    assert("HashAggregate".r.findAllIn(sp).size >= 2,
      "expected partial+final aggregates for the state rows:\n" + sp)
  }

  test("no accidental cartesian products anywhere in the surface") {
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      val p = plan(fn(spark, sf001))
      assert(!p.contains("CartesianProduct"), s"$name plans a CartesianProduct")
    }
  }

  test("no global (empty-partition) Window over an unbounded input anywhere in the surface") {
    // the one-task global-sort cliff the plans/ rules rewrite: a Window with
    // no PARTITION BY is only sanctioned over aggregate/limit-bounded rows
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      val bad = graft.plans.PlanChecks.unboundedGlobalWindows(fn(spark, sf001))
      assert(bad.isEmpty,
        s"$name plans a single-task global Window over an unbounded input:\n" +
          bad.mkString("\n"))
    }
  }
}
