package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.etl.{CurrencyConverter, Ddl, Pipeline, Standardizer, Upsert}

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
    docs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.dedup.IncrementalDedup.admitAndCommit(
          batch.sparkSession, indexPath, batch,
          graft.dedup.IncrementalDedup.mergeIntoCorpus(batch.sparkSession, corpusPath, _))
        ()
      }
      .start()

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
    docs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
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
      .start()

  /** One micro-batch folded into t19's persisted vocab-state MV (the
    * streaming face of the text lane's e12; see
    * [[graft.text.TextQueries.t19IncrementalVocab]]). Sum-merge is NOT
    * idempotent — re-folding a batch double-counts — so the replay marker
    * cannot be written AFTER the data commit the way an idempotent LWW
    * sink's can (that crash window is benign only under idempotent merges).
    * Here the marker is written INTO the staged state directory and
    * published by the SAME atomic rename that publishes the merged counts:
    * state and fold-ledger commit together, so a replay after any crash
    * either sees no marker and refolds from the still-unswapped old state,
    * or sees the marker and skips. (`__applied/` is underscore-prefixed, so
    * Spark's source listing hides it from the parquet read.) Crash between
    * the two swap renames parks the state at `__old`; the recovery preamble
    * restores it and the refold rebuilds the same staging. Lease-guarded
    * like every rename-based lake mutation. Returns whether the batch was
    * folded (false = replay suppressed).
    */
  def foldVocabBatchOnce(
      batch: DataFrame,
      batchId: Long,
      statePath: String,
      sinkId: String = "default"): Boolean =
    foldStateBatchOnce(batch, batchId, statePath, sinkId,
      graft.text.TextQueries.t19StateOf,
      (cur, b) => graft.text.TextQueries.t19MergeStates(cur, b))

  /** One micro-batch folded into e12's persisted candle-state MV — the
    * market-data lane of the SAME exactly-once fold as [[foldVocabBatchOnce]]
    * (shared machinery: [[foldStateBatchOnce]]). The batch reduces to one
    * mergeable row per touched (user_id, day) ([[graft.queries.CoreQueries
    * .e12StateOf]]) and folds into the stored state with the associative,
    * order-independent endpoint merge ([[graft.queries.CoreQueries
    * .e12FoldStates]]); n_bars/volume are SUMS, so like the vocab fold the
    * merge is not idempotent and replay suppression must commit atomically
    * with the data — which the shared rename protocol provides. Query the
    * maintained view with `CoreQueries.e12MergeStates(spark.read.parquet(
    * statePath))` — e4's exact output, never rescanning history.
    */
  def foldCandleBatchOnce(
      batch: DataFrame,
      batchId: Long,
      statePath: String,
      sinkId: String = "default"): Boolean =
    foldStateBatchOnce(batch, batchId, statePath, sinkId,
      graft.queries.CoreQueries.e12StateOf,
      (cur, b) => graft.queries.CoreQueries.e12FoldStates(cur, b))

  /** One micro-batch folded into a persisted SCD2 dimension-history MV —
    * dimension history joins vocab (t19) and candles (e12) as the THIRD
    * lane of the shared exactly-once fold. The batch pre-aggregates to one
    * change per (key, ts) (lexicographic MAX of the value struct — an
    * associative, grouping-independent tie policy, e14's max-value rule
    * generalized), builds a history FRAGMENT ([[graft.etl.Scd2.build]]),
    * and folds it into the stored history with [[graft.etl.Scd2.fold]]:
    * touched keys rebuilt, untouched keys streamed through an anti-join —
    * per-tick cost proportional to the touched keys' version counts, never
    * a history rescan. The fold is NOT replay-safe on its own (a replayed
    * batch re-wins its (key, ts) collisions against corrections that
    * landed in between), so suppression must commit atomically with the
    * data — the shared rename protocol provides exactly that.
    */
  def foldScd2BatchOnce(
      batch: DataFrame,
      batchId: Long,
      statePath: String,
      keyCol: String,
      tsCol: String,
      valueCols: Seq[String],
      sinkId: String = "default"): Boolean = {
    val vs = struct(valueCols.map(col): _*)
    foldStateBatchOnce(batch, batchId, statePath, sinkId,
      b => graft.etl.Scd2.build(
        b.groupBy(col(keyCol), col(tsCol)).agg(max(vs).as("__vs"))
          .select(col(keyCol) +: col(tsCol) +: valueCols.map(c => col(s"__vs.$c")): _*),
        keyCol, tsCol, valueCols),
      // the stored state IS the history table; flatten the batch fragment
      // back to changes (valid_from = the original ts) and Scd2.fold them
      (cur, bState) => graft.etl.Scd2.fold(cur,
        bState.select(col(keyCol) +: col("valid_from").as(tsCol) +:
          valueCols.map(col): _*),
        keyCol, tsCol, valueCols))
  }

  /** Maintain an SCD2 dimension-history MV from a change stream — the
    * dimension lane of [[vocabStateAvailableNow]]/[[candleStateAvailableNow]],
    * same `sinkId` contract (the stream's stable LOGICAL identity, so a
    * rebuilt checkpoint's full re-delivery lands in the same marker
    * namespace and is suppressed). Query the maintained history directly:
    * `spark.read.parquet(statePath)` is the exact [[graft.etl.Scd2.build]]
    * output over everything folded so far (StreamingSpec pins the law).
    */
  def scd2StateAvailableNow(
      changes: DataFrame,
      statePath: String,
      checkpoint: String,
      sinkId: String,
      keyCol: String,
      tsCol: String,
      valueCols: Seq[String]): StreamingQuery =
    changes.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldScd2BatchOnce(batch, batchId, statePath, keyCol, tsCol, valueCols, sinkId)
        ()
      }
      .start()

  /** The shared exactly-once state fold behind [[foldVocabBatchOnce]] and
    * [[foldCandleBatchOnce]]: reduce the batch with `stateOf`, fold it into
    * the persisted state with `merge` (which must be a NON-rescanning
    * state × state merge), and publish state + fold-ledger in one atomic
    * rename (see the replay analysis on [[foldVocabBatchOnce]]'s scaladoc
    * header above — it applies verbatim to every lane riding this).
    *
    * The ledger keeps ONE marker per `sinkId`, named by the highest folded
    * id, and a `batchId` at or below it is a replay — the rule
    * [[graft.etl.SnapshotLake.mergeStreamBatch]] applies to the per-sink
    * watermark its manifests carry. It holds because a
    * `sinkId`'s ids only increase (micro-batch ids within a lineage,
    * `_commit_gen` for a CDC follower), and it keeps each fold's marker
    * cost independent of the stream's history.
    *
    * A lake CDC consumer composes it with the `graft-lake-cdc` stream
    * ([[graft.sources.LakeCdcSource]]): inside `foreachBatch`, fold each
    * commit's rows with its `_commit_gen` as `batchId`. The ledger is then
    * keyed on the lake's own history, not on the query's checkpoint, so a
    * re-delivery from a fresh checkpoint folds nothing twice.
    */
  def foldStateBatchOnce(
      batch: DataFrame,
      batchId: Long,
      statePath: String,
      sinkId: String,
      stateOf: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame): Boolean = {
    val s = batch.sparkSession
    val conf = s.sparkContext.hadoopConfiguration
    graft.etl.LakeLease.withLease(conf, statePath) {
      val cur = new org.apache.hadoop.fs.Path(statePath)
      val fs = cur.getFileSystem(conf)
      val old = new org.apache.hadoop.fs.Path(statePath + "__old")
      // crashed between the swap renames: restore the parked state — the
      // marker was never published, so the refold below rebuilds staging
      if (!fs.exists(cur) && fs.exists(old)) Upsert.renameOrThrow(fs, old, cur)
      // one marker per sinkId, named by its highest folded id; a directory
      // left with one marker per batch reads as its largest id
      val appliedRoot = new org.apache.hadoop.fs.Path(cur, "__applied")
      val applied: Map[String, Long] =
        if (!fs.exists(appliedRoot)) Map.empty
        else fs.listStatus(appliedRoot).toSeq.flatMap { sink =>
          fs.listStatus(sink.getPath).flatMap(_.getPath.getName.toLongOption)
            .maxOption.map(sink.getPath.getName -> _)
        }.toMap
      if (applied.get(sinkId).exists(_ >= batchId)) false
      else {
        val batchState = stateOf(batch)
        val merged =
          if (fs.exists(cur)) merge(s.read.parquet(statePath), batchState)
          else batchState
        val staging = new org.apache.hadoop.fs.Path(statePath + "__staging")
        if (fs.exists(staging)) fs.delete(staging, true)
        merged.write.mode("overwrite").parquet(staging.toString)
        // carry every other sink's marker forward and advance this one's —
        // all published atomically by the staging→cur rename below
        (applied + (sinkId -> batchId)).foreach { case (sink, id) =>
          val dst = new org.apache.hadoop.fs.Path(staging, s"__applied/$sink/$id")
          fs.mkdirs(dst.getParent)
          fs.create(dst, false).close()
        }
        if (fs.exists(old)) fs.delete(old, true)
        if (fs.exists(cur)) Upsert.renameOrThrow(fs, cur, old)
        Upsert.renameOrThrow(fs, staging, cur)
        fs.delete(old, true)
        true
      }
    }
  }

  /** Maintain the t19 vocab-state MV from a document stream: AvailableNow
    * micro-batches, each folded exactly once via [[foldVocabBatchOnce]].
    * Per-tick cost is state-of-batch + a vocab-sized merge — the corpus is
    * never rescanned, which is the whole point of the MV at 100 TB. Query
    * the maintained view with `TextQueries.t19StatsOf(spark.read.parquet(statePath))`.
    *
    * `sinkId` is REQUIRED and must be the stream's stable LOGICAL identity
    * — unlike the idempotent-merge sinks (whose checkpoint-derived default
    * is safe because any replay converges), a sum-fold replayed under a
    * rebuilt checkpoint would double-count unless the rebuilt stream folds
    * into the SAME marker namespace. Cross-lineage suppression additionally
    * assumes the rebuilt stream re-forms the same (batchId → files)
    * batches, which AvailableNow's deterministic listing gives when the
    * source options are unchanged; within one checkpoint lineage batch ids
    * increase, so the (sinkId, highest folded id) check is exact.
    */
  def vocabStateAvailableNow(
      docs: DataFrame,
      statePath: String,
      checkpoint: String,
      sinkId: String): StreamingQuery =
    docs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldVocabBatchOnce(batch, batchId, statePath, sinkId)
        ()
      }
      .start()

  /** Maintain the e12 candle-state MV from an event stream — the market-data
    * twin of [[vocabStateAvailableNow]], same per-tick cost shape
    * (state-of-batch + a merge proportional to the TOUCHED key×days, never
    * a history rescan) and the same `sinkId` contract: it must be the
    * stream's stable logical identity, because a sum-fold replayed under a
    * rebuilt checkpoint must land in the SAME marker namespace to be
    * suppressed.
    */
  def candleStateAvailableNow(
      events: DataFrame,
      statePath: String,
      checkpoint: String,
      sinkId: String): StreamingQuery =
    events.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldCandleBatchOnce(batch, batchId, statePath, sinkId)
        ()
      }
      .start()

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
    converted.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Pipeline.upsertIndicesJdbc(batch, url, now, dialect, props)
        Pipeline.upsertQuotesJdbc(batch, url, now, dialect, targetCurrency, props)
      }
      .start()
  }
}
