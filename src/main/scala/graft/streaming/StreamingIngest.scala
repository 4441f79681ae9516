package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.etl.{CurrencyConverter, Ddl, Pipeline, Scd2, SnapshotLake, Standardizer, Upsert}
import graft.queries.CoreQueries
import graft.text.TextQueries

/** Incrementally-maintained OHLC candle for one (user, hour) group —
  * mapGroupsWithState state/output. Open/close are tracked by remembering
  * the extreme event times, so updates are order-independent: any arrival
  * order of the same events converges to the same candle.
  */
final case class Candle(
    user_id: Long,
    hour_start: Long, // epoch seconds of the hour bucket
    open: Double,
    high: Double,
    low: Double,
    close: Double,
    n: Long,
    open_ts: Long, // epoch micros of the earliest event seen
    close_ts: Long) // epoch micros of the latest event seen

/** Ongoing-session accumulator — flatMapGroupsWithState state for
  * [[StreamingIngest.sessionCloser]].
  */
final case class SessionAcc(start_us: Long, last_us: Long, n: Long, sum: Double)

/** A closed user session, emitted exactly once: either a later event for the
  * same user exceeded the silence gap (split) or the event-time watermark
  * passed `last event + gap` (timeout). `end_us` carries `session_window`'s
  * end semantics (last event + gap).
  */
final case class ClosedSession(
    user_id: Long,
    start_us: Long,
    end_us: Long,
    n: Long,
    sum_value: Double)

/** Incremental/streaming mode (SURVEY.md §7 Phase 3).
  *
  * The reference's "near-real-time" behavior is a 6-hour cron re-fetching a
  * 2-day overlap window, relying on PK upsert to absorb the duplicates
  * (reference `airflow/dags/market_data_dag.py:15`,
  * `src/config/settings.py:53-54`, `postgres_writer.py:234-240`). That is
  * exactly Structured Streaming's incremental micro-batch + idempotent-sink
  * pattern:
  *
  *  - file source over a landing directory, `Trigger.AvailableNow` ≙ the
  *    cron tick (process everything new, then stop);
  *  - `withWatermark` + `dropDuplicates` ≙ the overlap-refetch tolerance
  *    (late data within the watermark is deduped on the PK);
  *  - the keyed upsert sink ≙ ON CONFLICT DO UPDATE: one exactly-once
  *    `writeStream.format(...)` face per target — `graft-lake`
  *    ([[graft.sources.LakeStreamSink]]) and `graft-jdbc`
  *    ([[graft.sources.JdbcStreamSink]]).
  */
object StreamingIngest {

  /** Landing-directory file source (schema must be supplied — streaming
    * sources cannot infer).
    */
  def readLanding(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** PK dedup within a lateness watermark — the reference's overlap-window
    * re-delivery absorbed in-stream (keys: the upsert PK).
    */
  def dedupedWithinWatermark(
      events: DataFrame,
      tsCol: String,
      lateness: String,
      keys: Seq[String]): DataFrame =
    events.withWatermark(tsCol, lateness).dropDuplicates(keys)

  /** PK dedup with WATERMARK-BOUNDED state — the standing-ingest variant.
    * [[dedupedWithinWatermark]]'s `dropDuplicates(keys)` keeps one state row
    * per key FOREVER when `keys` excludes the event-time column: on a
    * standing stream the state store grows with every key ever seen, which
    * is the 100 TB slow death. `dropDuplicatesWithinWatermark` evicts a
    * key's state once the watermark passes its first-seen event time +
    * lateness, so state is bounded by keys-within-the-horizon — the
    * overlap-refetch window is exactly the reference's re-delivery model,
    * so suppression within it is the whole contract. Re-deliveries arriving
    * AFTER the horizon re-emit by design (StreamingSpec pins all three
    * behaviors); absorbing those is the keyed sink's job
    * (`writeStream.format("graft-lake")`, [[graft.sources.LakeStreamSink]])
    * — and the admission index's, for content identity.
    */
  def dedupedStateBounded(
      events: DataFrame,
      tsCol: String,
      lateness: String,
      keys: Seq[String]): DataFrame =
    events.withWatermark(tsCol, lateness).dropDuplicatesWithinWatermark(keys)

  /** Tumbling-window aggregation (the streaming face of CoreQueries A12):
    * per (hour, event_type) counts and sums, emitted once the watermark
    * passes the window end.
    */
  def hourlyAgg(events: DataFrame, tsCol: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(25,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming session windows: per-user sessions closed by a silence gap —
    * the batch A12c expression under a watermark (append mode emits a
    * session once the watermark passes its end).
    */
  def sessionAgg(events: DataFrame, tsCol: String, lateness: String, gap: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n"))

  /** Arbitrary-stateful streaming (mapGroupsWithState): incrementally build
    * per-(user, hour) OHLC candles — the market-data-native custom-state
    * shape the reference's 6-hourly bars generalize to. Each micro-batch
    * emits the group's updated candle (Update output mode); because
    * open/close ride on remembered event times, re-delivery and
    * out-of-order arrival converge to the batch answer.
    */
  def candleBuilder(events: DataFrame, tsCol: String): Dataset[Candle] = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .select(col("user_id").cast("long"),
        unix_micros(col(tsCol)).as("ts_us"),
        col("value").cast("double"))
      .as[(Long, Long, Double)]
    typed
      .groupByKey { case (user, tsUs, _) => (user, tsUs / 3600000000L * 3600L) }
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: (Long, Long), it: Iterator[(Long, Long, Double)], st: GroupState[Candle]) =>
          var c = st.getOption.getOrElse(
            Candle(key._1, key._2, 0.0, Double.MinValue, Double.MaxValue, 0.0, 0L,
              Long.MaxValue, Long.MinValue))
          it.foreach { case (_, tsUs, v) =>
            c = c.copy(
              open = if (tsUs < c.open_ts) v else c.open,
              open_ts = math.min(tsUs, c.open_ts),
              close = if (tsUs > c.close_ts) v else c.close,
              close_ts = math.max(tsUs, c.close_ts),
              high = math.max(v, c.high),
              low = math.min(v, c.low),
              n = c.n + 1)
          }
          st.update(c)
          c
      }
  }

  /** Timeout-driven session closer (`flatMapGroupsWithState` +
    * `EventTimeTimeout`): per-user sessions separated by a silence gap,
    * emitted in Append mode EXACTLY once, the moment they are provably
    * complete — by split (a later event for the user exceeds the gap) or by
    * timeout (the event-time watermark passes `last + gap`).
    *
    * This is the custom-state pattern `session_window` cannot express:
    * `session_window` only re-emits a group's aggregate under Update mode or
    * holds it until the watermark under Append, while arbitrary state lets
    * the operator OWN the close decision and emit a finished session to a
    * downstream sink immediately. State per user is one small fixed-size
    * accumulator, and the watermark bounds how long it can live — state
    * size is O(active users), never O(history), which is what survives an
    * unbounded stream.
    *
    * Convergence contract: within a micro-batch events are sorted by event
    * time, so in-batch disorder is fully absorbed; across micro-batches the
    * operator assumes per-key event-time-ordered delivery (what a
    * per-key-partitioned log or an AvailableNow file drain provides), and
    * under that contract any batch packing of the same stream yields the
    * same closed sessions (StreamingSpec proves equality against the batch
    * `session_window` aggregation). A cross-batch straggler that lands
    * inside the open session's gap-extended window merges into it; one
    * older than `start - gap` is emitted as its own closed single-event
    * session (its window is provably over) instead of corrupting the open
    * session — data is never dropped, but an unordered source can split
    * what batch `session_window` would merge; sources that need exact
    * batch parity under arbitrary disorder should use the watermarked
    * `session_window` aggregation instead and accept watermark-delayed
    * emission.
    */
  def sessionCloser(
      events: DataFrame,
      tsCol: String,
      lateness: String,
      gapMinutes: Int): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val typed = events
      .withWatermark(tsCol, lateness)
      // keep the watermarked timestamp column alongside its micros so the
      // event-time watermark attribute survives into the stateful operator
      .select(col("user_id").cast("long"), unix_micros(col(tsCol)).as("ts_us"),
        col("value").cast("double"), col(tsCol).as("evt_ts"))
      .as[(Long, Long, Double, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (user: Long, it: Iterator[(Long, Long, Double, java.sql.Timestamp)],
            st: GroupState[SessionAcc]) => {
          def emit(s: SessionAcc) =
            ClosedSession(user, s.start_us, s.last_us + gapUs, s.n, s.sum)
          if (st.hasTimedOut) {
            val out = st.getOption.map(emit).toList
            st.remove()
            out.iterator
          } else {
            var closed = List.empty[ClosedSession]
            var cur = st.getOption
            it.toSeq.sortBy(_._2).foreach { case (_, t, v, _) =>
              cur = cur match {
                case None => Some(SessionAcc(t, t, 1L, v))
                case Some(s) if t < s.start_us - gapUs =>
                  // cross-batch straggler from a window BEFORE the open
                  // session: without this guard, `t - last <= gap` is
                  // vacuously true for any t < last and the straggler would
                  // silently stretch the open session backwards. Emit it as
                  // its own closed session (its window is already over) and
                  // leave the open session untouched.
                  closed ::= ClosedSession(user, t, t + gapUs, 1L, v)
                  Some(s)
                case Some(s) if t - s.last_us <= gapUs =>
                  Some(SessionAcc(math.min(s.start_us, t), math.max(s.last_us, t),
                    s.n + 1L, s.sum + v))
                case Some(s) =>
                  closed ::= emit(s)
                  Some(SessionAcc(t, t, 1L, v))
              }
            }
            cur.foreach { s =>
              st.update(s)
              // event-time timeouts must be set strictly beyond the current
              // watermark; a session already older than the watermark closes
              // on the next firing either way
              st.setTimeoutTimestamp(
                math.max(s.last_us / 1000L + gapMinutes.toLong * 60000L,
                  st.getCurrentWatermarkMs + 1L))
            }
            closed.reverse.iterator
          }
        })
  }

  /** Stream-stream interval join: clicks matched to the same user's
    * purchases within the preceding hour (the streaming face of the batch
    * A17 range join). Both sides carry watermarks and the join condition
    * bounds event-time distance, so Spark can prune join state — the
    * requirement for unbounded streams; without the time bound, state grows
    * forever.
    */
  def intervalJoin(events: DataFrame, tsCol: String, lateness: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col(tsCol).as("ts"))
      .withWatermark("ts", lateness)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col(tsCol).as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", lateness)
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("ts") - expr("INTERVAL 1 HOUR") && col("p_ts") <= col("ts"))
      .select(col("event_id"), col("user_id"), col("ts"), col("p_ts"), col("p_value"))
  }

  /** Streaming document admission: each micro-batch of crawled documents
    * flows through [[graft.dedup.IncrementalDedup]]'s content-hash gate —
    * only never-seen content reaches the corpus, across batches AND across
    * restarts (the index is durable state beside the corpus, not streaming
    * state). Composition of the two crash contracts: the engine replays an
    * uncommitted micro-batch (at-least-once), and `admitAndCommit` replays
    * to convergence (idempotent corpus sink first, blind index append
    * second), so the corpus never holds two copies of one content hash.
    * The corpus is a snapshot lake written by
    * [[graft.dedup.IncrementalDedup.mergeIntoCorpus]]: each admitting batch
    * publishes one generation, a batch that admits nothing publishes none;
    * read it with [[graft.etl.SnapshotLake.read]]. This is the standing
    * ingest loop of a training-data pipeline: crawl → landing dir →
    * admit-if-novel → dedup'd corpus.
    */
  def admitDocumentsAvailableNow(
      docs: DataFrame,
      indexPath: String,
      corpusPath: String,
      checkpoint: String): StreamingQuery =
    drainAvailableNow(docs, checkpoint) { (batch, _) =>
      graft.dedup.IncrementalDedup.admitAndCommit(
        batch.sparkSession, indexPath, batch,
        graft.dedup.IncrementalDedup.mergeIntoCorpus(batch.sparkSession, corpusPath, _))
      ()
    }

  /** Streaming document admission through the FUZZY (MinHash-LSH) gate —
    * [[admitDocumentsAvailableNow]]'s near-dup twin for the crawl loop
    * where trivially re-encoded copies must be blocked, not just exact
    * bytes: each micro-batch flows through
    * [[graft.dedup.IncrementalDedup]]'s bucket-index gate, so near-dups are
    * caught across batches AND restarts (the index is durable state beside
    * the corpus). `minLanes` picks the suspect policy: > 0 runs the
    * ESTIMATE mode (suspects confirmed only when ≥ minLanes of 24 stored
    * lanes match a collided doc's — banding false positives rescued with
    * zero text passes); <= 0 runs the RECALL mode (suspects dropped
    * outright, the cheapest gate). Same crash-contract composition as the
    * exact gate and the same corpus writer: engine replay (at-least-once)
    * × sink-first admit (idempotent corpus merge, blind per-doc-atomic
    * index append) ⇒ replay
    * converges and the corpus never holds two near-dup admits of one gate
    * decision. Docs too short to shingle are EXCLUDED by the gate — route
    * them through [[admitDocumentsAvailableNow]]'s exact gate.
    */
  def admitDocumentsFuzzyAvailableNow(
      docs: DataFrame,
      bucketIndexPath: String,
      corpusPath: String,
      checkpoint: String,
      minLanes: Int = 12): StreamingQuery =
    drainAvailableNow(docs, checkpoint) { (batch, _) =>
      val sink: DataFrame => Unit =
        graft.dedup.IncrementalDedup.mergeIntoCorpus(batch.sparkSession, corpusPath, _)
      if (minLanes > 0)
        graft.dedup.IncrementalDedup.admitAndCommitMinhashEstimated(
          batch.sparkSession, bucketIndexPath, batch, sink, minLanes)
      else
        graft.dedup.IncrementalDedup.admitAndCommitMinhash(
          batch.sparkSession, bucketIndexPath, batch, sink)
      ()
    }

  /** One micro-batch folded into t19's persisted vocab-state MV (the
    * streaming face of [[graft.text.TextQueries.t19IncrementalVocab]]), a
    * lake partitioned by `source`. Sum-merge is NOT idempotent, so the
    * batch commits through [[graft.etl.SnapshotLake.foldStreamBatch]]: its
    * counts and the sink's watermark publish in one manifest, and a replay
    * of an applied (`sinkId`, `batchId`) publishes nothing. Returns whether
    * the batch was folded.
    */
  def foldVocabBatchOnce(
      batch: DataFrame,
      batchId: Long,
      statePath: String,
      sinkId: String = "default"): Boolean =
    vocabLane(batch).commit(statePath, sinkId, batchId)

  /** One micro-batch folded into e12's persisted candle-state MV — the
    * market-data lane of the SAME exactly-once fold as
    * [[foldVocabBatchOnce]]. The batch reduces to one mergeable row per
    * touched (user_id, day) ([[graft.queries.CoreQueries.e12StateOf]]) and
    * folds into the stored state of the touched days only with the
    * order-independent endpoint merge ([[graft.queries.CoreQueries
    * .e12FoldStates]]; n_bars/volume are SUMS). Query the maintained view
    * with `CoreQueries.e12MergeStates(SnapshotLake.read(spark, statePath))`
    * — e4's exact output, never rescanning history.
    */
  def foldCandleBatchOnce(
      batch: DataFrame,
      batchId: Long,
      statePath: String,
      sinkId: String = "default"): Boolean =
    candleLane(batch).commit(statePath, sinkId, batchId)

  /** One micro-batch folded into a persisted SCD2 dimension-history MV —
    * dimension history joins vocab (t19) and candles (e12) as the THIRD
    * lane of the shared exactly-once fold. The batch pre-aggregates to one
    * change per (key, ts) (lexicographic MAX of the value struct — an
    * associative, grouping-independent tie policy, e14's max-value rule
    * generalized), builds a history FRAGMENT ([[graft.etl.Scd2.build]]),
    * and folds it into the stored history of the touched key buckets with
    * [[graft.etl.Scd2.fold]]; other buckets are not read. The fold is NOT
    * replay-safe on its own (a replayed batch re-wins its (key, ts)
    * collisions against corrections that landed in between).
    */
  def foldScd2BatchOnce(
      batch: DataFrame,
      batchId: Long,
      statePath: String,
      keyCol: String,
      tsCol: String,
      valueCols: Seq[String],
      sinkId: String = "default"): Boolean =
    scd2Lane(batch, keyCol, tsCol, valueCols).commit(statePath, sinkId, batchId)

  /** Maintain an SCD2 dimension-history MV from a change stream — the
    * dimension lane of [[vocabStateAvailableNow]]/[[candleStateAvailableNow]],
    * same `sinkId` contract (the stream's stable LOGICAL identity, so a
    * rebuilt checkpoint's full re-delivery meets the same watermark and is
    * suppressed). Query the maintained history directly:
    * `SnapshotLake.read(spark, statePath)` is the exact
    * [[graft.etl.Scd2.build]] output over everything folded so far, plus
    * the `key_bucket` partition column (StreamingSpec pins the law).
    */
  def scd2StateAvailableNow(
      changes: DataFrame,
      statePath: String,
      checkpoint: String,
      sinkId: String,
      keyCol: String,
      tsCol: String,
      valueCols: Seq[String]): StreamingQuery =
    drainAvailableNow(changes, checkpoint) { (batch, batchId) =>
      foldScd2BatchOnce(batch, batchId, statePath, keyCol, tsCol, valueCols, sinkId)
      ()
    }

  /** One state MV lane: a batch reduced to its state rows (which carry the
    * MV's partition column), that column, and the state × state fold
    * `(existing touched rows, batch state) => new rows`.
    */
  private[streaming] final case class StateLane(state: DataFrame, partitionCol: String,
      fold: (DataFrame, DataFrame) => DataFrame) {
    def commit(statePath: String, sinkId: String, batchId: Long): Boolean =
      SnapshotLake.foldStreamBatch(state.sparkSession, statePath, state, partitionCol,
        sinkId, batchId)(fold)
  }

  private[streaming] def vocabLane(batch: DataFrame): StateLane =
    StateLane(TextQueries.t19StateOf(batch), "source", TextQueries.t19MergeStates(_, _))

  /** Partitioned by `day_key`, the UTC day number: `window()` days are
    * UTC-aligned, so it is exact, and unlike a TIMESTAMP partition value's
    * string form it does not follow the session time zone. e12FoldStates
    * projects its output, so the key is added back after the fold.
    */
  private[streaming] def candleLane(batch: DataFrame): StateLane = {
    def keyed(df: DataFrame) = df.withColumn("day_key", expr("unix_seconds(day_start) div 86400"))
    StateLane(keyed(CoreQueries.e12StateOf(batch)), "day_key",
      (cur, st) => keyed(CoreQueries.e12FoldStates(cur, st)))
  }

  private val Scd2Buckets = 16

  /** Partitioned by `key_bucket = pmod(xxhash64(key), Scd2Buckets)`: null-safe, as
    * [[graft.etl.Scd2.fold]] needs. Scd2.fold keeps its history input's
    * columns, so the key is dropped before the fold and added back after.
    */
  private[streaming] def scd2Lane(batch: DataFrame, keyCol: String, tsCol: String,
      valueCols: Seq[String]): StateLane = {
    require(!(keyCol +: valueCols).contains("key_bucket"),
      "key_bucket is the SCD2 MV's partition column — rename the input column")
    def keyed(df: DataFrame) =
      df.withColumn("key_bucket", pmod(xxhash64(col(keyCol)), lit(Scd2Buckets)))
    val vs = struct(valueCols.map(col): _*)
    StateLane(
      keyed(Scd2.build(
        batch.groupBy(col(keyCol), col(tsCol)).agg(max(vs).as("__vs"))
          .select(col(keyCol) +: col(tsCol) +: valueCols.map(c => col(s"__vs.$c")): _*),
        keyCol, tsCol, valueCols)),
      "key_bucket",
      // the stored state IS the history table; flatten the batch fragment
      // back to changes (valid_from = the original ts) and Scd2.fold them
      (cur, bState) => keyed(Scd2.fold(cur.drop("key_bucket"),
        bState.select(col(keyCol) +: col("valid_from").as(tsCol) +: valueCols.map(col): _*),
        keyCol, tsCol, valueCols)))
  }

  /** Maintain the t19 vocab-state MV from a document stream: AvailableNow
    * micro-batches, each folded exactly once via [[foldVocabBatchOnce]].
    * Per-tick cost is state-of-batch + a merge over the touched sources'
    * vocab — the corpus is never rescanned. Query the maintained view with
    * `TextQueries.t19StatsOf(SnapshotLake.read(spark, statePath))`.
    *
    * `sinkId` is REQUIRED and must be the stream's stable LOGICAL identity:
    * a sum-fold replayed under a rebuilt checkpoint would double-count
    * unless it meets the SAME watermark. Cross-lineage suppression also
    * assumes the rebuilt stream re-forms the same (batchId → files)
    * batches, which AvailableNow's deterministic listing gives when the
    * source options are unchanged.
    */
  def vocabStateAvailableNow(
      docs: DataFrame,
      statePath: String,
      checkpoint: String,
      sinkId: String): StreamingQuery =
    drainAvailableNow(docs, checkpoint) { (batch, batchId) =>
      foldVocabBatchOnce(batch, batchId, statePath, sinkId)
      ()
    }

  /** Maintain the e12 candle-state MV from an event stream — the market-data
    * twin of [[vocabStateAvailableNow]]: per tick, state-of-batch + a merge
    * that reads and rewrites only the TOUCHED days, never a history
    * rescan; the same `sinkId` contract (the stream's stable logical
    * identity, because a sum-fold replayed under a rebuilt checkpoint must
    * meet the SAME watermark to be suppressed).
    */
  def candleStateAvailableNow(
      events: DataFrame,
      statePath: String,
      checkpoint: String,
      sinkId: String): StreamingQuery =
    drainAvailableNow(events, checkpoint) { (batch, batchId) =>
      foldCandleBatchOnce(batch, batchId, statePath, sinkId)
      ()
    }

  /** The reference's ENTIRE pipeline as one incremental streaming job:
    * raw long-format bars land in a directory; each AvailableNow tick
    * standardizes (E1, stream⋈broadcast dim), converts (E2, stream⋈static
    * daily FX table — the provider is resolved up front, as a real
    * deployment's rate fetch would be), and merges both tables over JDBC in
    * FK order (L1–L4 via `Pipeline`'s batch steps). Replaces the 6-hourly
    * cron + overlap-refetch of `airflow/dags/market_data_dag.py:15` with
    * exactly-the-same-result incremental processing: re-running a tick, or
    * re-delivering overlapping files, converges through the keyed MERGE.
    *
    * E1/E2 run INSIDE the streaming plan (narrow ops + broadcast joins — no
    * streaming state at all); only the idempotent sink is in foreachBatch.
    */
  def pipelineAvailableNow(
      rawBars: DataFrame,
      dim: DataFrame,
      fxRates: DataFrame,
      url: String,
      checkpoint: String,
      now: java.sql.Timestamp,
      dialect: Upsert.Dialect = Upsert.Derby,
      targetCurrency: String = "USD",
      sourceTz: Option[String] = None,
      props: java.util.Properties = new java.util.Properties()): StreamingQuery = {
    Ddl.createTables(url, dialect, props)
    val standardized = Standardizer.standardize(rawBars, dim, sourceTz)
    val converted = CurrencyConverter.convert(standardized, fxRates, targetCurrency)
    drainAvailableNow(converted, checkpoint) { (batch, _) =>
      Pipeline.upsertIndicesJdbc(batch, url, now, dialect, props)
      Pipeline.upsertQuotesJdbc(batch, url, now, dialect, targetCurrency, props)
    }
  }

  /** One `Trigger.AvailableNow` drain of `stream`, handing each
    * micro-batch and its id to `f` (`foreachBatch`).
    */
  private def drainAvailableNow(stream: DataFrame, checkpoint: String)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(f)
      .start()
}
