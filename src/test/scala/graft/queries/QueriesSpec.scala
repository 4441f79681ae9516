package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSuite}

/** Structural checks over the declared query surface at sf0.001. Value
  * correctness is owned by the DuckDB oracle gate (tools/oracle_check.py);
  * these assert invariants that don't need an oracle.
  */
class QueriesSpec extends SparkSuite {

  test("every query runs and every oracle key points at a real query") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    SparkEntry.oracleSql.keys.foreach(k => assert(qs.contains(k), s"oracle without query: $k"))
    qs.foreach { case (name, fn) =>
      val df = fn(spark, sf001)
      assert(df.columns.nonEmpty, s"$name has no columns")
    }
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registerViews makes the engine drivable through raw spark.sql") {
    graft.Tables.registerViews(spark, sf001)
    // a join through pure SQL text agrees with the DataFrame path
    val sqlRows = spark.sql(
      """SELECT n.n_name, count(*) AS n FROM nation n
         JOIN customer c ON c.c_nationkey = n.n_nationkey
         GROUP BY n.n_name ORDER BY n.n_name""").collect()
    val dfRows = graft.Tables(spark, sf001, "customer")
      .join(graft.Tables(spark, sf001, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("n"))
      .orderBy("n_name").collect()
    assert(sqlRows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      dfRows.map(r => (r.getString(0), r.getLong(1))).toSeq)
    // the events nanos→timestamp conversion rides into the view
    val viaSql = spark.sql(
      "SELECT count(*) FROM events WHERE ts >= timestamp'2024-01-02 00:00:00'")
      .collect().head.getLong(0)
    val viaDf = graft.Tables(spark, sf001, "events")
      .filter(col("ts") >= to_timestamp(lit("2024-01-02 00:00:00"))).count()
    assert(viaSql == viaDf && viaSql > 0)
  }

  test("q_recent: 5 rows, strictly descending recency") {
    val rows = CoreQueries.qRecent(spark, sf001).collect()
    assert(rows.length == 5)
    // TIMESTAMP_NTZ collects as LocalDateTime under the java8 datetime API
    val times = rows.map(_.get(1) match {
      case t: java.sql.Timestamp     => t.getTime
      case i: java.time.Instant      => i.toEpochMilli
      case l: java.time.LocalDateTime => l.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    })
    assert(times.zip(times.tail).forall { case (a, b) => a >= b })
  }

  test("e3_upsert: unique per (user_id, event_type)") {
    val df = CoreQueries.e3Upsert(spark, sf001)
    assert(df.groupBy("user_id", "event_type").count().filter(col("count") > 1).isEmpty)
  }

  test("a2: group count equals distinct (returnflag, linestatus)") {
    val li = graft.Tables(spark, sf001, "lineitem")
    val expected = li.select("l_returnflag", "l_linestatus").distinct().count()
    assert(CoreQueries.a2Agg(spark, sf001).count() == expected)
  }

  test("a10_rollup: grand total row aggregates everything") {
    val li = graft.Tables(spark, sf001, "lineitem")
    val total = CoreQueries.a10Rollup(spark, sf001)
      .filter(col("returnflag") === "ALL" && col("linestatus") === "ALL")
      .collect().head
    assert(total.getAs[Long]("n") == li.count())
  }

  test("a13: every matched purchase precedes (or equals) its click") {
    val df = CoreQueries.a13AsofJoin(spark, sf001)
      .filter(col("purchase_ts").isNotNull)
    assert(df.count() > 0)
    assert(df.filter(col("purchase_ts") > col("timestamp_utc")).isEmpty,
      "as-of join matched a purchase from the future")
  }

  test("a17b: binned keyless range join equals the naive nested-loop replay") {
    // Driver-side replay of the PLAIN range join (the semantics the binned
    // rewrite must not change), on the sf0.001 events.
    val ev = graft.Tables(spark, sf001, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value")).collect()
    val iv = ev.filter(r => r.getString(2) == "purchase" && r.getDouble(3) >= 200)
      .map(r => (r.getLong(0), r.getLong(1) - 1800000000L, r.getLong(1) + 1800000000L))
    val pts = ev.filter(_.getString(2) == "click").map(r => r.getLong(1))
    val expected = iv.map { case (id, lo, hi) =>
      id -> pts.count(p => p >= lo && p <= hi).toLong
    }.filter(_._2 > 0).toMap
    val got = CoreQueries.a17bIntervalJoinBinned(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_clicks")).toMap
    assert(expected.nonEmpty, "fixture produced no matched intervals")
    assert(got == expected, s"binned rewrite diverged: got=$got expected=$expected")
  }

  test("c8: distributed ntile is bit-equal to the window ntile, fat tiles included") {
    import org.apache.spark.sql.expressions.Window
    graft.plans.GlobalRank.ensureRegistered(spark)
    val docs = graft.Tables(spark, sf001, "documents")
      .select(col("doc_id"), col("n_chars"))
    val order = Window.orderBy(col("n_chars"), col("doc_id"))
    // k=7 does NOT divide the doc count — the first n%k tiles must carry
    // one extra row, exactly as SQL NTILE mandates.
    for (k <- Seq(7, 10)) {
      val distDf = docs.withColumn("bin", ntile(k).over(order))
      assert(distDf.queryExecution.executedPlan.toString.contains("GlobalRank"),
        s"k=$k: the ntile must ride the distributed rank rewrite")
      val dist = distDf.select(col("doc_id"), col("bin")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      // dropDuplicates on the unique key bounds the input without changing
      // a row, so GlobalRankRule cannot rewrite this comparator — it must
      // stay Spark's own Window
      val windowDf = docs.dropDuplicates("doc_id").withColumn("bin", ntile(k).over(order))
      assert(!windowDf.queryExecution.executedPlan.toString.contains("GlobalRank"))
      val window = windowDf.select(col("doc_id"), col("bin")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(dist == window, s"k=$k: distributed ntile diverged from the window ntile")
      // and the declared face bins exactly those tiles
      val perBin = window.values.groupBy(identity).map { case (b, bs) => b -> bs.size.toLong }
      val face = CoreQueries.c8CurriculumBins(spark, sf001, k).collect()
        .map(r => r.getInt(0) -> r.getAs[Long]("n_docs")).toMap
      assert(face == perBin, s"k=$k: c8 bin sizes diverged from the window ntile")
    }
  }

  test("a12b: sliding windows double-count each event exactly twice") {
    val total = CoreQueries.a12bSlidingWindow(spark, sf001)
      .agg(sum(col("n"))).collect().head.getLong(0)
    val events = graft.Tables(spark, sf001, "events").count()
    assert(total == 2 * events, s"$total != 2 * $events")
  }

  test("a9b: gate emits the exact twin and an in-contract HLL verdict") {
    val exact = CoreQueries.a9Distinct(spark, sf001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = CoreQueries.a9bApproxDistinct(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val flag = r.getString(0)
      assert(r.getAs[Long]("nd_parts") == exact(flag), s"$flag exact twin drifted")
      assert(r.getAs[Boolean]("approx_ok"), s"$flag: HLL estimate outside 5% of exact")
    }
  }

  test("a15b: gate emits exact quantiles and in-rank-bound sketch verdicts") {
    val exact = CoreQueries.a15Quantiles(spark, sf001).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val rows = CoreQueries.a15bQuantilesApprox(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p50e, p95e) = exact(r.getString(0))
      assert(r.getAs[Double]("p50") == p50e && r.getAs[Double]("p95") == p95e,
        s"${r.getString(0)}: exact twin drifted from a15")
      // the verdicts hold for EVERY legal partial-merge order (rank margin
      // 10x the sketch contract), so they are hash-gate stable
      assert(r.getAs[Boolean]("p50_ok"), s"${r.getString(0)} p50 outside rank bound")
      assert(r.getAs[Boolean]("p95_ok"), s"${r.getString(0)} p95 outside rank bound")
    }
  }

  test("e7: the watchlist cap is the explicit quadratic bound — a smaller cap is a prefix") {
    val daily = CoreQueries.dailyCloses(spark, sf001)
    val at10 = CoreQueries.e7CorrelationFrom(daily, watchlistCap = 10L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(at10.nonEmpty)
    assert(at10.keys.forall(_._1 < 10L), "cap must bound the watchlist side")
    // same pairs, same stats as the default-cap gate query restricted to u1 < 10:
    // the cap only scopes the pair universe, never changes a pair's value
    val fromDefault = CoreQueries.e7Correlation(spark, sf001).collect()
      .filter(_.getLong(0) < 10L)
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(at10 == fromDefault)
  }

  test("e8: running peak dominates close and never decreases within a series") {
    val rows = CoreQueries.e8Drawdown(spark, sf001)
      .select("user_id", "day", "close", "peak").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(3) >= r.getDouble(2), s"peak < close: $r"))
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val peaks = rs.sortBy(_.getDate(1).getTime).map(_.getDouble(3))
      assert(peaks.zip(peaks.tail).forall { case (a, b) => b >= a }, "peak decreased")
    }
  }

  test("a6: at most 3 per customer, rank within [1,3]") {
    val df = CoreQueries.a6TopkWindow(spark, sf001)
    assert(df.groupBy("o_custkey").count().filter(col("count") > 3).isEmpty)
    assert(df.filter(col("rnk") < 1 || col("rnk") > 3).isEmpty)
  }

  test("a18: per-type counts cover the table; avg_k = sum_k / n exactly") {
    val df = CoreQueries.a18JsonExtract(spark, sf001).collect()
    val total = graft.Tables(spark, sf001, "events").count()
    assert(df.map(_.getAs[Long]("n")).sum == total)
    df.foreach { r =>
      assert(r.getAs[Double]("avg_k") == r.getAs[Long]("sum_k").toDouble / r.getAs[Long]("n"))
      assert(r.getAs[Long]("min_k") <= r.getAs[Long]("max_k"))
    }
  }

  test("a19: funnel stages are monotonically non-increasing") {
    val rows = CoreQueries.a19Funnel(spark, sf001).collect()
    assert(rows.length == 3)
    val ns = rows.sortBy(_.getAs[Long]("stage_idx")).map(_.getAs[Long]("n_users"))
    assert(ns.zip(ns.tail).forall { case (a, b) => b <= a }, s"funnel grew: ${ns.toSeq}")
    assert(ns.head > 0, "no users entered the funnel at this SF")
    rows.foreach(r => assert(r.getAs[Double]("conv_from_prev") >= 0.0 &&
      r.getAs[Double]("conv_from_prev") <= 1.0))
  }

  test("e9: ranks are a 1..n permutation per day, ordered by descending momentum") {
    val rows = CoreQueries.e9MomentumRank(spark, sf001).collect()
    assert(rows.nonEmpty, "need ≥21 days of history at this SF for a 20-day lag")
    rows.groupBy(_.getDate(0)).foreach { case (day, rs) =>
      val byRank = rs.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq == (1 to rs.length),
        s"$day: ranks not a dense 1..n permutation")
      val moms = byRank.map(_.getAs[Double]("mom20"))
      assert(moms.zip(moms.tail).forall { case (a, b) => a >= b },
        s"$day: momentum not descending in rank")
    }
  }

  test("c5: packing matches a sequential replay; no bin overflows except oversize singletons") {
    val rows = CoreQueries.c5SequencePacking(spark, sf001).collect()
    assert(rows.nonEmpty)
    val budget = 512L
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      val inOrder = rs.sortBy(_.getLong(1))
      // replay the recurrence on the driver and demand exact agreement
      var seq = 0L; var fill = 0L; var first = true
      inOrder.foreach { r =>
        val n = r.getAs[Long]("n_tokens")
        var off = 0L
        if (first) { first = false; fill = n }
        else if (fill + n <= budget) { off = fill; fill += n }
        else { seq += 1; fill = n }
        assert(r.getAs[Long]("seq_id") == seq && r.getAs[Long]("tok_offset") == off,
          s"$src doc ${r.getLong(1)}: got (${r.getAs[Long]("seq_id")},${r.getAs[Long]("tok_offset")}), replay says ($seq,$off)")
      }
      // every bin fits the budget unless it is a single oversize document
      inOrder.groupBy(_.getAs[Long]("seq_id")).foreach { case (sid, bin) =>
        val tot = bin.map(_.getAs[Long]("n_tokens")).sum
        assert(tot <= budget || bin.length == 1,
          s"$src seq $sid overflows with ${bin.length} docs / $tot tokens")
      }
    }
  }

  test("a20: buckets partition all orders and bounds hold within each") {
    val df = CoreQueries.a20Histogram(spark, sf001).collect()
    val orders = graft.Tables(spark, sf001, "orders")
    assert(df.map(_.getAs[Long]("n_orders")).sum == orders.count())
    df.foreach { r =>
      val lo = r.getAs[Double]("bucket_lo")
      val avg = r.getAs[Double]("avg_price")
      assert(avg >= lo && avg < lo + 25000.0,
        s"bucket ${r.getAs[Long]("bucket")}: avg $avg outside [$lo, ${lo + 25000})")
    }
  }

  test("e10: betas match a driver-side OLS replay against the daily index") {
    val rows = CoreQueries.e10MarketBeta(spark, sf001).collect()
    assert(rows.nonEmpty)
    // replay: daily closes → equal-weight market → per-user OLS in doubles
    val daily = graft.Tables(spark, sf001, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(expr("max_by(value, ts)").as("close"))
      .collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Date](1).toString, r.getDouble(2)))
    val market = daily.groupBy(_._2).map { case (d, xs) =>
      d -> xs.map(_._3).sum / xs.length
    }
    val byUser = daily.groupBy(_._1)
    rows.foreach { r =>
      val obs = byUser(r.getLong(0)).map(t => (market(t._2), t._3))
      assert(r.getAs[Long]("n_days") == obs.length && obs.length >= 20)
      val n = obs.length.toDouble
      val sx = obs.map(_._1).sum; val sy = obs.map(_._2).sum
      val sxy = obs.map(t => t._1 * t._2).sum; val sxx = obs.map(t => t._1 * t._1).sum
      val beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val alpha = (sy - beta * sx) / n
      assert(math.abs(r.getAs[Double]("beta") - beta) < 1e-4,
        s"user ${r.getLong(0)}: beta ${r.getAs[Double]("beta")} vs replay $beta")
      assert(math.abs(r.getAs[Double]("alpha") - alpha) < 1e-4)
    }
  }

  test("a22: session stats match a driver-side gap replay") {
    val rows = CoreQueries.a22Sessionization(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("duration_us"))).toMap
    val ev = graft.Tables(spark, sf001, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = ev.groupBy(_._1).flatMap { case (uid, es) =>
      val sorted = es.sortBy(e => (e._3, e._2))
      var sess = 0L
      var prev = Long.MinValue
      val tagged = sorted.map { e =>
        if (prev != Long.MinValue && e._3 - prev > 30L * 60 * 1000000) sess += 1
        else if (prev == Long.MinValue) sess = 1
        prev = e._3
        (sess, e._3)
      }
      tagged.groupBy(_._1).map { case (sid, ss) =>
        (uid, sid) -> (ss.length.toLong, ss.map(_._2).max - ss.map(_._2).min)
      }
    }
    assert(rows == expected)
  }

  test("a24: transition matrix matches a driver-side lead replay and rows normalize") {
    val rows = CoreQueries.a24MarkovTransitions(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Long]("n_from"), r.getAs[Double]("p"))).toMap
    val ev = graft.Tables(spark, sf001, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val trans = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val sorted = es.sortBy(e => (e._3, e._2)).map(_._4)
      sorted.zip(sorted.drop(1))
    }
    val counts = trans.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val fromTotals = trans.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    assert(rows.keySet == counts.keySet)
    rows.foreach { case ((f, to), (n, nf, p)) =>
      assert(n == counts((f, to)), s"n $f->$to")
      assert(nf == fromTotals(f), s"n_from $f")
      assert(p == n.toDouble / nf.toDouble, s"p $f->$to")
    }
    rows.toSeq.groupBy(_._1._1).foreach { case (f, rs) =>
      assert(math.abs(rs.map(_._2._3).sum - 1.0) < 1e-9, s"row $f normalizes")
    }
  }

  test("c6: temperature rates and kept sets match a driver replay") {
    val out = CoreQueries.c6TemperatureMix(spark, sf001).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("src_tokens"), r.getAs[Long]("wgt"),
        r.getAs[Double]("rate"), r.getAs[Long]("n_docs_kept"),
        r.getAs[Long]("n_tokens_kept"))).toMap
    val docs = graft.Tables(spark, sf001, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySrc = docs.groupBy(_._2).map { case (s, ds) => s -> ds.map(_._3).sum }
    val wgt = bySrc.map { case (s, tk) => s -> math.floor(math.sqrt(tk.toDouble)).toLong }
    val total = bySrc.values.sum
    val sumW = wgt.values.sum
    def hashPct(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 15), 16) % 10000
    }
    assert(out.keySet == bySrc.keySet)
    bySrc.keys.foreach { s =>
      val rate = math.min(1.0,
        (total.toDouble * wgt(s).toDouble) / (4.0 * sumW.toDouble * bySrc(s).toDouble))
      val kept = docs.filter(d => d._2 == s && hashPct(d._1) < rate * 10000)
      val (st, w, r, nd, nt) = out(s)
      assert(st == bySrc(s), s"src_tokens $s")
      assert(w == wgt(s), s"wgt $s")
      assert(r == rate, s"rate $s")
      assert(nd == kept.size.toLong, s"n_docs_kept $s")
      assert(nt == kept.map(_._3).sum, s"n_tokens_kept $s")
    }
    // the realized sample is in the ballpark of the 25% token budget
    val keptFrac = out.values.map(_._5).sum.toDouble / total.toDouble
    assert(keptFrac > 0.05 && keptFrac < 0.6, s"kept fraction $keptFrac")
  }

  test("a25: inter-arrival quantiles match a driver-side interpolation replay") {
    val rows = CoreQueries.a25InterarrivalQuantiles(spark, sf001).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_gaps"), r.getAs[Double]("p50_us"),
        r.getAs[Double]("p95_us"), r.getAs[Long]("max_us"))).toMap
    val ev = graft.Tables(spark, sf001, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byType = ev.groupBy(e => (e._1, e._2)).toSeq.flatMap { case ((_, tp), es) =>
      val us = es.sortBy(e => (e._3, e._4)).map(_._3)
      us.zip(us.drop(1)).map { case (a, b) => tp -> (b - a) }
    }.groupBy(_._1).map { case (tp, vs) => tp -> vs.map(_._2).sorted }
    def pct(sorted: Seq[Long], p: Double): Double = {
      val rank = p * (sorted.size - 1)
      val lo = math.floor(rank).toInt; val hi = math.ceil(rank).toInt
      sorted(lo) + (rank - lo) * (sorted(hi) - sorted(lo))
    }
    assert(rows.keySet == byType.keySet)
    byType.foreach { case (tp, vs) =>
      val (n, p50, p95, mx) = rows(tp)
      assert(n == vs.size.toLong, s"n_gaps $tp")
      assert(math.abs(p50 - pct(vs, 0.5)) < 1e-6, s"p50 $tp")
      assert(math.abs(p95 - pct(vs, 0.95)) < 1e-6, s"p95 $tp")
      assert(mx == vs.max, s"max $tp")
    }
  }

  test("c7: shard assignment is deterministic, balanced, and epoch-distinct") {
    val rows = CoreQueries.c7EpochShardAssign(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("shard_tokens"),
          r.getAs[Double]("token_share")))
    val docs = graft.Tables(spark, sf001, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nt"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def shard(id: Long, epoch: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:$epoch".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 15), 16) % 64
    }
    val expected = (0L until 3L).flatMap(e =>
      docs.groupBy(d => (e, shard(d._1, e))).map { case (k, ds) =>
        k -> (ds.size.toLong, ds.map(_._2).sum) }).toMap
    assert(rows.map(_._1).toSet == expected.keySet)
    rows.foreach { case (k, (nd, st, _)) =>
      assert((nd, st) == expected(k), s"shard $k") }
    // per-epoch shares sum to 1 and the assignment actually permutes across
    // epochs (some doc moves shards between epoch 0 and 1)
    rows.groupBy(_._1._1).foreach { case (e, rs) =>
      assert(math.abs(rs.map(_._2._3).sum - 1.0) < 1e-9, s"epoch $e shares") }
    assert(docs.exists(d => shard(d._1, 0) != shard(d._1, 1)))
    // balance: no shard holds more than 4x the mean token load at this sf
    val tokens = rows.filter(_._1._1 == 0L).map(_._2._2)
    assert(tokens.max.toDouble / (tokens.sum.toDouble / tokens.size) < 4.0)
  }

  test("a23: gate's exact rolling twin matches a calendar-window replay, sketch in contract") {
    val rows = CoreQueries.a23RollingActiveUsers(spark, sf001).collect()
      .map(r => (r.getAs[java.sql.Date]("day").toString,
        r.getAs[Long]("active_1d_exact"), r.getAs[Long]("active_7d_exact"),
        r.getAs[Boolean]("approx_7d_ok")))
    assert(rows.nonEmpty)
    val pairs = graft.Tables(spark, sf001, "events")
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .collect().map(r => (r.getAs[java.sql.Date](0).toString, r.getLong(1)))
    rows.foreach { case (day, exact1d, exact7d, ok) =>
      // calendar window: the 7 calendar days ending at `day`, NOT the last 7
      // rows — a day with no events still ages out of the frame
      val d = java.time.LocalDate.parse(day)
      val replay = pairs.filter { p =>
        val pd = java.time.LocalDate.parse(p._1)
        !pd.isAfter(d) && !pd.isBefore(d.minusDays(6))
      }.map(_._2).distinct.length
      assert(exact7d == replay, s"$day: exact twin $exact7d vs replay $replay")
      assert(exact7d >= exact1d, s"$day: 7d window below its own day")
      assert(ok, s"$day: HLL union estimate outside 5% of exact")
    }
  }

  test("a22: hand-rolled sessions equal the session_window builtin's boundaries") {
    val rolled = CoreQueries.a22Sessionization(spark, sf001).collect()
      .map { r =>
        val i = r.getAs[java.time.LocalDateTime]("session_start")
          .toInstant(java.time.ZoneOffset.UTC)
        (r.getLong(0), i.getEpochSecond * 1000000L + i.getNano / 1000L,
          r.getAs[Long]("n_events"))
      }.toSet
    val builtin = graft.Tables(spark, sf001, "events")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("w.start")).as("start_us"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rolled == builtin,
      s"lag/cumsum sessions diverge from session_window: ${(rolled diff builtin).take(3)} / ${(builtin diff rolled).take(3)}")
  }

  test("a21: offset-0 retention is 1.0 and cohorts partition the user base") {
    val rows = CoreQueries.a21RetentionCohorts(spark, sf001).collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.get(0))
    byCohort.foreach { case (c, rs) =>
      val zero = rs.find(_.getAs[Long]("day_offset") == 0L)
      assert(zero.isDefined, s"cohort $c has no offset-0 row")
      assert(zero.get.getAs[Double]("retention") == 1.0)
      rs.foreach { r =>
        assert(r.getAs[Long]("active_users") <= r.getAs[Long]("cohort_users"))
        val ret = r.getAs[Double]("retention")
        assert(ret > 0.0 && ret <= 1.0)
      }
    }
    // cohort sizes partition the distinct-user universe
    val totalUsers = graft.Tables(spark, sf001, "events")
      .select("user_id").distinct().count()
    val sizeSum = byCohort.values
      .map(_.head.getAs[Long]("cohort_users")).sum
    assert(sizeSum == totalUsers, s"$sizeSum != $totalUsers")
  }

  test("e11: vwap replays as the exact volume-weighted mean per (user, day)") {
    val rows = CoreQueries.e11Vwap(spark, sf001).collect()
    assert(rows.nonEmpty)
    val ev = graft.Tables(spark, sf001, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("vol"))
      .filter(col("vol") > 0).collect()
    val grouped = ev.groupBy(r => (r.getLong(0), r.getDate(1)))
    rows.foreach { r =>
      val g = grouped((r.getLong(0), r.getDate(1)))
      val num = g.map(x => x.getDouble(2) * x.getLong(3)).sum
      val den = g.map(_.getLong(3)).sum.toDouble
      assert(math.abs(r.getDouble(2) - num / den) < 1e-6, "vwap")
      assert(r.getLong(3) == den.toLong, "total_vol")
      assert(r.getLong(4) == g.size.toLong, "n_trades")
      val vals = g.map(_.getDouble(2))
      assert(r.getDouble(2) >= vals.min - 1e-9 && r.getDouble(2) <= vals.max + 1e-9,
        "vwap bounded by print range")
    }
  }

  test("a26: the salted join equals the unsalted join, at more than one salt count") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables(spark, sf001, "events")
    val stats = ev.groupBy(col("event_type"))
      .agg((sum(col("value").cast("decimal(25,6)")).cast("double") /
        count(lit(1)).cast("double")).as("type_avg"))
    val plain = ev.select(col("event_id"), col("event_type"), col("value"))
      .join(stats, Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"), col("type_avg"),
        (col("value") - col("type_avg")).as("deviation"))
      .collect().map(r => r.getLong(0) -> r).toMap
    for (salts <- Seq(1, 16, 31)) {
      val salted = CoreQueries.a26SaltedSkewJoin(spark, sf001, salts).collect()
      assert(salted.length == plain.size, s"salts=$salts row count")
      salted.foreach { r =>
        val p = plain(r.getLong(0))
        assert(r.getString(1) == p.getString(1) && r.getDouble(2) == p.getDouble(2) &&
          r.getDouble(3) == p.getDouble(3) && r.getDouble(4) == p.getDouble(4),
          s"salts=$salts row ${r.getLong(0)} diverged")
      }
    }
  }

  test("a26: salting survives 64-bit ids past 2^31 (the 10x-replica overflow)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val probe = Seq((3000000000L, "a", 1.0), (3000000001L, "a", 2.0),
      (7L, "b", 3.0)).toDF("id", "k", "v")
    val build = Seq(("a", 10.0), ("b", 20.0)).toDF("k", "w")
    val out = graft.operators.SkewJoin.saltedEquiJoin(
        probe, build, Seq("k"), col("id"), 16)
      .orderBy("id").collect()
    assert(out.map(r => (r.getAs[Long]("id"), r.getAs[Double]("w"))).toSeq ==
      Seq(7L -> 20.0, 3000000000L -> 10.0, 3000000001L -> 10.0))
  }

  test("a26: a NULL salt source never drops or null-extends the probe row") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // pmod(null, salts) is null and null matches no build replica — without
    // the coalesce-to-0 fallback the id=2 row vanishes from the inner join
    // and null-extends under left, diverging from the unsalted join
    val probe = Seq((1L, "a", Some(10L)), (2L, "a", None), (3L, "b", Some(7L)))
      .toDF("id", "k", "salt_src")
    val build = Seq(("a", 1.0), ("b", 2.0)).toDF("k", "w")
    for (jt <- Seq("inner", "left")) {
      val got = graft.operators.SkewJoin.saltedEquiJoin(
          probe, build, Seq("k"), col("salt_src"), 8, joinType = jt)
        .orderBy("id").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Double]("w"))).toSeq
      assert(got == Seq(1L -> 1.0, 2L -> 1.0, 3L -> 2.0), s"joinType=$jt: $got")
    }
  }

  test("a26: replication is unsound for right/full joins and rejected") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables(spark, sf001, "events").limit(10)
    intercept[IllegalArgumentException] {
      graft.operators.SkewJoin.saltedEquiJoin(
        ev, ev, Seq("event_type"), col("event_id"), 4, joinType = "right_outer")
    }
  }

  test("c9: top-k aggregate picks equal the window formulation; sizes are min(k, group)") {
    import org.apache.spark.sql.functions._
    val k = 7
    val got = CoreQueries.c9FixedSizeSample(spark, sf001, k).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val docs = graft.Tables(spark, sf001, "documents")
      .select(col("lang"), col("doc_id"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long").cast("double").as("pri"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("pri"), col("doc_id"))
    val want = docs.withColumn("rn", row_number().over(win))
      .filter(col("rn") <= k).select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want, "top-k aggregate diverged from the window formulation")
    val sizes = got.groupBy(_._1).view.mapValues(_.size).toMap
    val groupN = docs.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    groupN.foreach { case (lang, n) =>
      assert(sizes.getOrElse(lang, 0) == math.min(k.toLong, n).toInt,
        s"$lang sample size")
    }
  }

  test("c10: priority-sample picks equal the window formulation; weights bias the pick") {
    import org.apache.spark.sql.functions._
    for (k <- Seq(5, 50)) {
      val got = CoreQueries.c10WeightedSample(spark, sf001, k).collect()
        .map(_.getLong(0)).toSet
      val docs = graft.Tables(spark, sf001, "documents")
        .select(col("doc_id"),
          ((col("n_chars") + lit(1L)).cast("double") /
            ((conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
              .cast("long") + lit(1L)).cast("double") / lit(math.pow(2, 60))))
            .as("pri"))
      val win = org.apache.spark.sql.expressions.Window
        .orderBy(col("pri").desc, col("doc_id"))
      val want = docs.withColumn("rn", row_number().over(win))
        .filter(col("rn") <= k).select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == want, s"k=$k: aggregate picks diverged from the window formulation")
      assert(got.size == math.min(k, docs.count()).toInt, s"k=$k sample size")
    }
    // Weighted-ness sanity: the sample's mean weight must exceed the corpus
    // mean (longer docs have proportionally larger inclusion probability).
    val docs = graft.Tables(spark, sf001, "documents")
    val picked = CoreQueries.c10WeightedSample(spark, sf001, 50)
      .select("doc_id").join(docs, "doc_id")
    val meanAll = docs.agg(avg("n_chars")).head().getDouble(0)
    val meanPicked = picked.agg(avg("n_chars")).head().getDouble(0)
    assert(meanPicked > meanAll,
      f"weighted sample mean $meanPicked%.1f not above corpus mean $meanAll%.1f")
  }

  test("e13: weekly candles bucket by ISO calendar weeks, not epoch-aligned 7-day windows") {
    import org.apache.spark.sql.functions._
    val rows = CoreQueries.e13WeeklyCandles(spark, sf001)
    // every bucket starts on a Monday (Spark dayofweek: Sunday=1, Monday=2)
    val nonMonday = rows.filter(dayofweek(col("week_start")) =!= 2).count()
    assert(nonMonday == 0, "week_start not a Monday")
    // the naive window(ts, "7 days") buckets start Thursday (1970-01-01) —
    // the calendar-vs-time-series distinction the scaladoc claims
    val ev = graft.Tables(spark, sf001, "events")
    val thursday = ev.select(window(col("ts"), "7 days").getField("start").as("s"))
      .select(dayofweek(col("s"))).distinct().collect().map(_.getInt(0)).toSet
    assert(thursday == Set(5), s"epoch-aligned weeks start $thursday, expected Thursday(5)")
    // candle integrity: high ≥ open/close ≥ low on every row
    rows.collect().foreach { r =>
      val (o, h, l, c) = (r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"))
      assert(h >= o && h >= c && l <= o && l <= c, s"candle order violated: $r")
    }
  }

  test("e12: merged partial states equal the full e4 recompute, for any batch split") {
    import org.apache.spark.sql.functions._
    val full = CoreQueries.e4OhlcvResample(spark, sf001).collect().map(_.toSeq)
    // the declared parity split
    val merged2 = CoreQueries.e12IncrementalCandles(spark, sf001).collect().map(_.toSeq)
    assert(merged2.toSeq == full.toSeq, "parity split drifted from full recompute")
    // a three-way split with uneven batches (mod 3) — merge must be
    // associative over any batching, this is the MV-maintenance contract
    val ev = graft.Tables(spark, sf001, "events")
    val merged3 = CoreQueries.e12MergeStates(
        CoreQueries.e12StateOf(ev.filter(col("event_id") % 3 === 0)),
        CoreQueries.e12StateOf(ev.filter(col("event_id") % 3 === 1)),
        CoreQueries.e12StateOf(ev.filter(col("event_id") % 3 === 2)))
      .orderBy("user_id", "day_start").collect().map(_.toSeq)
    assert(merged3.toSeq == full.toSeq, "three-way merge drifted from full recompute")
  }

  test("e12FoldStates: state x state folding is closed, order-independent, and finalizes to e4") {
    import org.apache.spark.sql.functions._
    val full = CoreQueries.e4OhlcvResample(spark, sf001).collect().map(_.toSeq)
    val ev = graft.Tables(spark, sf001, "events")
    val s = (0 to 3).map(i => CoreQueries.e12StateOf(ev.filter(col("event_id") % 4 === i)))
    // two different fold TREES over the same four batches — the persisted-MV
    // lane folds incrementally (((s0+s1)+s2)+s3); a backfill might fold
    // pairwise ((s0+s1)+(s2+s3)); both must finalize identically
    val chain = CoreQueries.e12FoldStates(
      CoreQueries.e12FoldStates(
        CoreQueries.e12FoldStates(s(0), s(1)), s(2)), s(3))
    val pairs = CoreQueries.e12FoldStates(
      CoreQueries.e12FoldStates(s(3), s(2)), CoreQueries.e12FoldStates(s(1), s(0)))
    def fin(st: org.apache.spark.sql.DataFrame) = CoreQueries.e12MergeStates(st)
      .orderBy("user_id", "day_start").collect().map(_.toSeq).toSeq
    assert(fin(chain) == full.toSeq, "incremental fold chain drifted from e4")
    assert(fin(pairs) == full.toSeq, "pairwise/reversed fold tree drifted from e4")
    // closure: the folded state's schema is a fixpoint (decimal(38,6) pin) —
    // folding a folded state with a fresh batch state must not widen types
    assert(CoreQueries.e12FoldStates(chain, s(0)).schema ==
      CoreQueries.e12FoldStates(chain, s(1)).schema)
    assert(chain.schema("vol_dec").dataType.simpleString == "decimal(38,6)")
  }
}
