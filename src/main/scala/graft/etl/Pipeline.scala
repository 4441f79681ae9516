package graft.etl

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's pipeline driver re-expressed as ONE lazy Spark plan
  * (reference `src/main.py:9-141`: fetch → standardize → convert → upsert).
  *
  * Where the reference materializes a whole DataFrame between stages in a
  * single process, here the stages compose into one logical plan: Catalyst
  * sees standardize+convert+dedup together (column pruning and predicate
  * placement cross stage boundaries), and execution happens once, at the
  * sink. The observation hooks replace the reference's per-stage log lines
  * (`standardizer.py:253-258` null audit, `currency_converter.py:170-174`
  * missing-rate count) without extra jobs — metrics ride on the write pass.
  */
object Pipeline {

  /** Audit metrics collected during the single execution pass. */
  final case class RunMetrics(rows: Long, nullClose: Long, missingRate: Long)

  /** The audit metrics riding on `converted`: the returned frame carries
    * an observation of row, null-close and missing-rate counts, and the
    * returned thunk reads them once a sink has executed the frame (no
    * extra job).
    */
  private def observed(converted: DataFrame,
      targetCurrency: String): (DataFrame, () => RunMetrics) = {
    val obs = Observation()
    val df = converted.observe(
      obs,
      count(lit(1)).as("rows"),
      sum(col("close").isNull.cast("long")).as("null_close"),
      sum((col("close").isNotNull &&
        col(s"close_${targetCurrency.toLowerCase}").isNull).cast("long"))
        .as("missing_rate"))
    (df, () => {
      val m = obs.get
      // a batch the optimizer folds to an empty relation (`limit(0)` over a
      // local frame) never runs the observed plan: no metrics, zero rows
      if (m.isEmpty) RunMetrics(0, 0, 0)
      else RunMetrics(
        rows = m("rows").asInstanceOf[Long],
        nullClose = m("null_close").asInstanceOf[Long],
        missingRate = m("missing_rate").asInstanceOf[Long])
    })
  }

  /** The reference's COMPLETE db load, composed: DDL bootstrap → dim upsert →
    * fact upsert, in FK-safe order (≙ `/root/reference/src/main.py:105-138`:
    * `create_tables` → `upsert_indices` → `upsert_quotes`).
    *
    * Index metadata is extracted from the standardized frame and deduped per
    * ticker (≙ `main.py:114-117`'s `drop_duplicates(subset=['ticker'])`);
    * tickers with no dimension metadata are excluded from `indices` (NOT
    * NULL name), so their quotes hit the FK and surface as an error — the
    * reference's rollback-and-raise path (`main.py:128-132`,
    * `postgres_writer.py:265-270` ON DELETE RESTRICT).
    *
    * Idempotent: re-running converges (keyed MERGE both tables); `indices`
    * audit columns advance `updated_at` on re-merge while `created_at`
    * stays (≙ the trigger at `postgres_writer.py:53-73`).
    */
  def runJdbc(
      spark: SparkSession,
      bars: DataFrame,
      dim: DataFrame,
      rates: RateProvider,
      url: String,
      now: java.sql.Timestamp,
      dialect: Upsert.Dialect = Upsert.Derby,
      targetCurrency: String = "USD",
      sourceTz: Option[String] = None,
      props: java.util.Properties = new java.util.Properties()): RunMetrics = {
    Ddl.createTables(url, dialect, props)
    val (converted, metrics) = observed(CurrencyConverter.convertWithProvider(spark,
      Standardizer.standardize(bars, dim, sourceTz), rates, targetCurrency), targetCurrency)
    // 1) dim first (FK target), 2) facts second, FK now satisfiable.
    upsertIndicesJdbc(converted, url, now, dialect, props)
    upsertQuotesJdbc(converted, url, now, dialect, targetCurrency, props)
    metrics()
  }

  /** The reference's complete two-table load onto TWO SNAPSHOT LAKES —
    * [[runJdbc]]'s twin for the lake face (≙ `/root/reference/src/main.py:97-138`,
    * which loads `indices` then `quotes` inside one Postgres transaction).
    *
    * A filesystem lake has no cross-directory atomic rename, so instead of
    * pretending at a two-table transaction this face commits under the
    * FK-SAFE ORDERING CONTRACT, with both tables' leases held for the whole
    * span:
    *
    *  1. Both lake leases are acquired up front in CANONICAL (sorted-path)
    *     order — two concurrent `runLake`s serialize instead of
    *     deadlocking, and no foreign writer can interleave between the two
    *     commits.
    *  2. The FK is checked BEFORE either commit (a bar whose ticker has no
    *     dimension metadata fails the whole load — nothing lands, the
    *     reference's rollback-and-raise, `main.py:128-132` /
    *     `postgres_writer.py:265-270` ON DELETE RESTRICT), so a batch can
    *     never publish facts that dangle.
    *  3. The DIM commits first, facts second. A reader between the two
    *     cuts sees the new dim + the old facts — every fact it can read
    *     still joins (a dim is keyed LWW and never loses tickers); the
    *     reverse order would expose dangling facts, which is why the order
    *     is a CONTRACT, not a preference (PipelineLakeSpec pins it).
    *  4. A crash between the commits leaves both snapshots readable and
    *     consistent-under-the-contract; the re-run converges (idempotent
    *     keyed LWW on both tables — the same recovery story as the JDBC
    *     face's transaction replay).
    *
    * The dim publishes exactly one generation per run, so `VERSION AS OF n`
    * stays aligned across the two lakes. When the dim lake already exists,
    * is partitioned by `ticker`, records the dim batch's own schema, and
    * holds every batch tuple as its ticker's current row — the reference
    * re-upserts the same static dim on every 6-hourly run, so that is the
    * steady state — that generation is METADATA-ONLY: the same entries and
    * the same recorded schema, no data file written, an empty [[SnapshotLake.changes]]
    * delta. Any difference (a renamed index, a new ticker, a widened or
    * re-partitioned lake) takes the keyed merge, with its refusals.
    *
    * Quotes land date-partitioned (`p_date`): an incremental batch rewrites
    * only the trade dates it carries — at 100 TB a 6-hour tick's commit
    * cost is proportional to the tick, not the table.
    *
    * ONE EVALUATION of the delivered batch: the standardized batch is
    * checkpointed once (`localCheckpoint(eager = false)`), and the first
    * action over it is one map-side [[BoundedDistinct]] pass that
    * materializes the checkpoint and returns the three bounded sets the
    * run needs — the FX pairs (the provider is asked for exactly these),
    * the dimension tuples (FK gate and dim batch) and the affected
    * `p_date` partitions (handed to the quotes commit, which then does not
    * scan the batch again). The fact write converts from the checkpoint,
    * and the audit observation rides on that write. The quotes commit's
    * own batch LWW is the one dedup: `timestamp_utc` is a key, so the
    * value columns are its tie-breakers and a batch carrying an original
    * AND a corrected bar for one key keeps a DETERMINISTIC winner (the
    * reference relies on arrival order, `postgres_writer.py:251-259`).
    *
    * Refusal order, all before either commit: the pass's bounds (more FX
    * pairs than `CurrencyConverter`'s bound, more dimension tuples or
    * more `p_date` values than `graft.lake.maxAffectedPartitions`, in that
    * order), then, under both leases, the FK gate, then the dim commit's
    * own checks (widen-only schema, partition column). An empty batch
    * commits nothing and returns zero metrics.
    */
  def runLake(
      spark: SparkSession,
      bars: DataFrame,
      dim: DataFrame,
      rates: RateProvider,
      indicesLake: String,
      quotesLake: String,
      targetCurrency: String = "USD",
      sourceTz: Option[String] = None): RunMetrics = {
    val standardized = Standardizer.standardize(bars, dim, sourceTz)
      .localCheckpoint(eager = false)
    val dimCols = standardized.select(
      col("ticker"), col("name"), col("country"), col("exchange"),
      col("original_currency"))
    val pDate = to_date(col("timestamp_utc"))
    val max = SnapshotLake.maxAffectedPartitions(spark)
    val Seq(pairs, tuples, partitions) = BoundedDistinct.collect(standardized, Seq(
      CurrencyConverter.pairProjection(targetCurrency),
      // about one tuple per ticker (the metadata came from the broadcast
      // enrich join)
      BoundedDistinct.Projection(dimCols.columns.toSeq.map(col), max,
        s"batch carries more than $max distinct dimension tuples — the " +
          "indices lake is partitioned by ticker and one commit may " +
          "touch at most that many; split the batch by ticker or raise " +
          "graft.lake.maxAffectedPartitions"),
      // p_date is a function of the key timestamp_utc, so the raw batch
      // spans exactly the dates its LWW winners land in
      SnapshotLake.partitionProjection(spark, pDate, "p_date", "merge batch")))
    if (partitions.isEmpty) return RunMetrics(0, 0, 0)
    val (converted, metrics) = observed(CurrencyConverter.convertPairs(spark,
      standardized, rates, CurrencyConverter.pairsOf(pairs), targetCurrency), targetCurrency)
    val tieBreakers = converted.columns.toSeq
      .filterNot(Seq("ticker", "timestamp_utc").contains)
    val conf = spark.sparkContext.hadoopConfiguration
    // both leases for the whole span, canonical order (see contract above);
    // the inner commits' withLease calls share these reentrant holds
    val Seq(first, second) = Seq(indicesLake, quotesLake).sorted
    LakeLease.withLease(conf, first) {
      LakeLease.withLease(conf, second) {
        // FK gate BEFORE any commit: standardize's enrich join is a LEFT
        // join, so a ticker with no dimension row surfaces as a null name
        // (NOT NULL in the reference dim)
        val rogue = tuples.filter(_.isNullAt(1)).map(r => String.valueOf(r.get(0))).sorted
        if (rogue.nonEmpty)
          throw new IllegalStateException(
            s"ticker(s) ${rogue.take(20).mkString(", ")} carry no dimension " +
              "metadata — loading their quotes would dangle the FK " +
              "(reference ON DELETE RESTRICT semantics); nothing was " +
              "committed to either lake")
        // the dim batch: one tuple per ticker, the one the dim merge's own
        // LWW keeps (max name; the whole tuple settles ties
        // deterministically)
        val dimRows = tuples.groupBy(_.getString(0)).values
          .map(_.maxBy(r => (r.getString(1), r.mkString("\u0001")))).toSeq
        // 1) dim first (FK target). A 6-hourly re-delivery carries the
        // same static dim every time: when nothing would change, commit
        // metadata-only (same entries, same schema) instead of rewriting
        // every ticker partition with identical rows
        unchangedDimSchema(spark, indicesLake, dimCols.schema, dimRows) match {
          case Some(recorded) =>
            SnapshotLake.commitMetadataOnly(spark, indicesLake)(_ => recorded)
          case None =>
            SnapshotLake.merge(spark, indicesLake,
              spark.createDataFrame(dimRows.asJava, dimCols.schema),
              keys = Seq("ticker"), versionCol = "name", partitionCol = "ticker")
        }
        // 2) facts second — the FK-safe cut order
        SnapshotLake.mergeTouching(spark, quotesLake, converted.withColumn("p_date", pDate),
          SnapshotLake.MergeSpec(Seq("ticker", "timestamp_utc"), "timestamp_utc",
            "p_date", tieBreakers, Seq("timestamp_utc")),
          Some(partitions))
      }
    }
    metrics()
  }

  /** The dim lake's recorded schema when merging `dimRows` into it would
    * change nothing — the lake exists, is partitioned by ticker, records
    * exactly `schema` (names and types, in order), and its current
    * snapshot holds each batch tuple as its ticker's one row. None sends
    * the batch down the merge path, which keeps the widen-only and
    * partition-column refusals — and publishes nothing for an EMPTY batch,
    * exactly as the facts merge does, so the two lakes' generations stay
    * aligned. Reads only the batch's ticker partitions; the caller holds
    * the dim lease.
    */
  private def unchangedDimSchema(spark: SparkSession, indicesLake: String,
      schema: StructType, dimRows: Seq[Row]): Option[StructType] = {
    def shape(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))
    SnapshotLake.currentManifest(spark, indicesLake)
      .filter(m => dimRows.nonEmpty && m.partitionCol == "ticker")
      .flatMap(m => SnapshotLake.snapshotSchema(spark, indicesLake, m))
      .filter(recorded => shape(recorded) == shape(schema))
      .filter { _ =>
        val current = SnapshotLake.read(spark, indicesLake, dimRows.map(_.get(0)))
          .collect().groupBy(_.getString(0))
        dimRows.forall(r => current.get(r.getString(0)).exists(_.toSeq == Seq(r)))
      }
  }

  /** Dim-upsert step of the composed load (≙ `upsert_indices`,
    * `postgres_writer.py:116-178`): metadata extracted from the standardized
    * frame, deduped per ticker. Metadata is constant per ticker (it came
    * from the broadcast enrich join), so any deterministic pick works.
    */
  def upsertIndicesJdbc(
      standardized: DataFrame,
      url: String,
      now: java.sql.Timestamp,
      dialect: Upsert.Dialect = Upsert.Derby,
      props: java.util.Properties = new java.util.Properties()): Unit = {
    val indices = Upsert.lastWriteWins(
      standardized
        .select(col("ticker"), col("name"), col("country"), col("exchange"),
          col("original_currency"))
        .filter(col("name").isNotNull),
      keys = Seq("ticker"), versionCol = "name")
    Upsert.upsertJdbcAudited(indices, url, "indices", Seq("ticker"), now, dialect,
      props = props)
  }

  /** Fact-upsert step of the composed load (≙ `upsert_quotes`,
    * `postgres_writer.py:181-278`): the reference schema's raw OHLCV +
    * converted `*_usd` columns. inserted_at is writer-stamped (insert-only):
    * Derby can't evaluate a CURRENT_TIMESTAMP DEFAULT inside MERGE (see
    * [[Ddl]]), and the reference never updates it after first insert.
    */
  def upsertQuotesJdbc(
      converted: DataFrame,
      url: String,
      now: java.sql.Timestamp,
      dialect: Upsert.Dialect = Upsert.Derby,
      targetCurrency: String = "USD",
      props: java.util.Properties = new java.util.Properties()): Unit = {
    val suffix = targetCurrency.toLowerCase
    // Value-column tiebreakers: timestamp_utc is a key, so without them the
    // within-batch winner among conflicting duplicates would be arbitrary
    // (nondeterministic across reruns/retries — see runLake's note).
    val deduped = Upsert.lastWriteWins(
      converted, keys = Seq("ticker", "timestamp_utc"), versionCol = "timestamp_utc",
      tieBreakers = converted.columns.toSeq
        .filterNot(Seq("ticker", "timestamp_utc").contains))
    val quoteCols = (Seq("ticker", "timestamp_utc", "open", "high", "low", "close",
      "adjusted_close", "volume") ++ Schema.priceCols.map(c => s"${c}_$suffix"))
      .filter(deduped.columns.contains)
    Upsert.upsertJdbc(
      deduped.select(quoteCols.map(col): _*).withColumn("inserted_at", lit(now)),
      url, "quotes", Seq("ticker", "timestamp_utc"), dialect, props = props,
      noUpdate = Seq("inserted_at"))
  }
}
