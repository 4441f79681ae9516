package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** The declared core query surface (SURVEY.md §2.3): the reference-derived
  * ETL operators re-expressed over the testdata star schema (E1–E3), the
  * reference's delegated SQL surface (Q-*), and its analytical
  * generalizations (A1–A12). Every query is deterministic (total order on a
  * unique key) and oracle-checked against DuckDB running `oracles(name)`.
  *
  * Determinism discipline for the DuckDB hash-compare:
  *  - per-row arithmetic stays raw DOUBLE — IEEE ops on identical operands
  *    are bit-identical across engines;
  *  - aggregates accumulate in DECIMAL (exact, order-independent) and cast
  *    the final value to DOUBLE, sidestepping float-summation-order drift;
  *  - timestamps are emitted as TIMESTAMP_NTZ (UTC wall time), matching
  *    DuckDB's naive TIMESTAMP.
  */
/** Scratch lakes for the lake-faced gate queries (e3b/e3c/e3d): ONE
  * JVM-pinned directory per slot, wiped at each evaluation and removed on
  * JVM exit, so repeated bench/verify reps hold at most one lake's worth
  * of disk per slot instead of leaking a temp dir per run.
  */
private object ScratchLakes {
  private val roots = scala.collection.mutable.Map.empty[String, java.nio.file.Path]
  private def wipe(p: java.nio.file.Path, keepRoot: Boolean): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).iterator.asScala
        .filter(q => !keepRoot || q != p)
        .foreach(q => java.nio.file.Files.deleteIfExists(q))
      finally walk.close()
    }
  def fresh(slot: String): String = synchronized {
    val p = roots.getOrElseUpdate(slot, {
      val d = java.nio.file.Files.createTempDirectory(s"graft_${slot}_lake")
      Runtime.getRuntime.addShutdownHook(new Thread(() => wipe(d, keepRoot = false)))
      d
    })
    wipe(p, keepRoot = true)
    p.toString
  }
}

object CoreQueries {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** The E-family's shared daily-close series: last event's value per
    * (user_id, day). ONE definition — e5/e6/e7/e9/e10 must agree on how a
    * close is derived (max_by tie-breaking included) or the time-series
    * queries silently diverge from each other.
    */
  private[graft] def dailyCloses(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(expr("max_by(value, ts)").as("close"))

  /** Exact order-independent sum of a double column: accumulate as decimal,
    * return double.
    */
  private def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(s"decimal(25,$scale)")).cast("double")

  private def ntz(c: Column): Column = c.cast("timestamp_ntz")

  // ---------------------------------------------------------------- E1–E3

  /** E1 standardize: rename + cast + UTC timestamps + broadcast enrich join
    * (T1–T5 over the events table; nation plays the metadata dimension).
    */
  def e1Standardize(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val nat = t(s, dir, "nation")
    ev.select(
        col("event_id"),
        col("ts").as("timestamp_utc"),
        col("event_type").as("ticker"),
        expr("try_cast(value AS DOUBLE)").as("close"),
        (col("user_id") % 25).as("n_key"))
      .join(broadcast(nat), col("n_key") === col("n_nationkey"), "left")
      .select(col("event_id"), ntz(col("timestamp_utc")).as("timestamp_utc"),
        col("ticker"), col("close"), col("n_name").as("country"))
      .orderBy("event_id")
  }

  /** E2 convert: derived rate_date + broadcast rate-table join + price×rate
    * projection (T7–T11). The rate table is derived deterministically from
    * nation so the oracle can rebuild it.
    */
  def e2Convert(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val rates = t(s, dir, "nation")
      .select(col("n_nationkey"),
        (col("n_nationkey").cast("double") / lit(100.0) + lit(1.0)).as("rate"))
    ev.select(col("event_id"), to_date(col("ts")).as("rate_date"),
        col("value").as("close"), (col("user_id") % 25).as("n_key"))
      .join(broadcast(rates), col("n_key") === col("n_nationkey"), "left")
      .select(col("event_id"), col("rate_date"), col("close"), col("rate"),
        (col("close") * col("rate")).as("close_usd"))
      .orderBy("event_id")
  }

  /** E3 upsert semantics: deterministic last-write-wins per key — the
    * distributed half of ON CONFLICT DO UPDATE (reference
    * `postgres_writer.py:234-240`).
    */
  def e3Upsert(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        ntz(col("ts")).as("timestamp_utc"), col("value"))
      .orderBy("user_id", "event_type")
  }

  /** E3b — the E3 upsert THROUGH the snapshot lake: the events stream lands
    * in two batches (even event_ids, then odd), each merged into a
    * manifest-pointer [[graft.etl.SnapshotLake]] table partitioned by
    * event_type, and the answer reads back via `SnapshotLake.read` — the
    * manifest commit path proven under the REAL query surface and the
    * DuckDB oracle, not just its own spec. Semantics exercised: within-batch
    * LWW on (ts, event_id), cross-batch update-wins (the merge contract —
    * a key present in batch 2 takes batch 2's winner regardless of
    * version), partition-scoped gen-dir rewrites, and a read that binds the
    * published manifest's concrete gen dirs (plan-pinned in
    * SnapshotLakeSpec). The lake lives in a fresh temp dir per evaluation;
    * at scale the two merges are the E1→E2→L2 incremental landing flow.
    */
  def e3bUpsertLake(s: SparkSession, dir: String): DataFrame = {
    // one JVM-pinned lake dir, wiped per evaluation and removed at exit —
    // repeated bench/verify reps must not leak a full events-table lake
    // per run (each holds two merges)
    val lake = ScratchLakes.fresh("e3b")
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
    graft.etl.SnapshotLake.merge(s, lake, ev.filter(col("event_id") % 2 === 0),
      Seq("user_id", "event_type"), "ts", "event_type", Seq("event_id"))
    graft.etl.SnapshotLake.merge(s, lake, ev.filter(col("event_id") % 2 === 1),
      Seq("user_id", "event_type"), "ts", "event_type", Seq("event_id"))
    graft.etl.SnapshotLake.read(s, lake)
      .select(col("user_id"), col("event_type"), col("event_id"),
        ntz(col("ts")).as("timestamp_utc"), col("value"))
      .orderBy("user_id", "event_type")
  }

  /** E3c — the lake's SQL FACE, now both directions: batch 1 lands via
    * the API merge, batch 2 via `INSERT INTO` over the catalog (planned
    * as AppendData, routed through the SAME [[graft.etl.SnapshotLake]]
    * LWW commit via the merge contract its manifest records), and the
    * answer reads back with plain `spark.sql` over a catalog-qualified
    * table (the
    * reference's whole value proposition is raw SQL over its tables,
    * `README.md:316-357` — the lake can stay neither read- nor
    * write-API-only). `loadTable` resolves the manifest driver-side and
    * hands the snapshot's gen dirs to Spark's native V2 ParquetTable, so
    * pushdown/pruning/vectorization are stock; `VERSION AS OF` time
    * travel and the write-face guardrails are spec-pinned in
    * LakeCatalogSpec.
    */
  def e3cLakeSql(s: SparkSession, dir: String): DataFrame = {
    val root = ScratchLakes.fresh("e3c")
    val lake = s"$root/events"
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
    // batch 1 through the API merge — bootstraps the lake AND records the
    // merge contract (keys/version/partition) the SQL write face uses
    graft.etl.SnapshotLake.merge(s, lake, ev.filter(col("event_id") % 2 === 0),
      Seq("user_id", "event_type"), "ts", "event_type", Seq("event_id"))
    s.conf.set("spark.sql.catalog.graftlake",
      classOf[graft.sources.LakeCatalog].getName)
    s.conf.set("spark.sql.catalog.graftlake.root", root)
    // batch 2 through SQL INSERT — plans an AppendData over the lake
    // table and routes through the SAME SnapshotLake.merge LWW commit
    // (cross-batch update-wins included), so SQL and API writers agree
    ev.filter(col("event_id") % 2 === 1).createOrReplaceTempView("e3c_batch2")
    s.sql("INSERT INTO graftlake.events SELECT * FROM e3c_batch2")
    s.sql(
      """SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP_NTZ) AS timestamp_utc, value
         FROM graftlake.events
         ORDER BY user_id, event_type""")
  }

  /** E3d — FILE-level data skipping inside one lake partition: the merge
    * range-clusters each partition's files by `ts` and records per-file
    * min/max into the commit's file record;
    * [[graft.etl.SnapshotLake.readSlice]] then skips whole files whose
    * recorded range cannot intersect the queried six-day window — the
    * pruning lane partition entries cannot give INSIDE a partition
    * (SnapshotLakeSpec proves fewer files are read; this gate row pins
    * the results byte-identical to the unpruned read + filter via the
    * DuckDB oracle).
    */
  def e3dLakeSlice(s: SparkSession, dir: String): DataFrame = {
    val lake = ScratchLakes.fresh("e3d") + "/events"
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
    graft.etl.SnapshotLake.merge(s, lake, ev,
      Seq("user_id", "event_type"), "ts", "event_type", Seq("event_id"),
      statsCols = Seq("ts"))
    graft.etl.SnapshotLake.readSlice(s, lake, "ts",
      Some("2024-01-22 00:00:00"), Some("2024-01-28 00:00:00"))
      .select(col("user_id"), col("event_type"), col("event_id"),
        ntz(col("ts")).as("timestamp_utc"), col("value"))
      .orderBy("user_id", "event_type")
  }

  /** E3e — IN-LIST file skipping through the lake's SQL face: the
    * reference's own verification query shape (`WHERE symbol = ANY(%s)`,
    * `postgres_writer.py:371-377` — q_any's predicate) over a
    * [[graft.etl.SnapshotLake]] whose merge range-clustered files by
    * `user_id`. The catalog's scan-time pushdown turns the `IN` list
    * into POINT intervals against the file records' per-file min/max
    * ([[graft.etl.SnapshotLake.pruneFiles]]): whole files whose range
    * contains none of the points never enter the scan's file index (LakeCatalogSpec proves fewer files are read; this
    * gate row pins the results byte-identical to the unpruned
    * read + filter via the DuckDB oracle). The `event_type IN` conjunct
    * prunes at the MANIFEST level (whole partitions).
    */
  def e3eLakeIn(s: SparkSession, dir: String): DataFrame = {
    val root = ScratchLakes.fresh("e3e")
    val lake = s"$root/events"
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
    graft.etl.SnapshotLake.merge(s, lake, ev,
      Seq("user_id", "event_type"), "ts", "event_type", Seq("event_id"),
      statsCols = Seq("user_id"))
    // own catalog name: catalog instances are cached per session by name,
    // so e3c's catalog (pinned to ITS root) cannot be re-pointed here
    s.conf.set("spark.sql.catalog.graftlakein",
      classOf[graft.sources.LakeCatalog].getName)
    s.conf.set("spark.sql.catalog.graftlakein.root", root)
    s.sql(
      """SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP_NTZ) AS timestamp_utc, value
         FROM graftlakein.events
         WHERE event_type IN ('click', 'purchase', 'error')
           AND user_id IN (2, 3, 5, 7, 11, 13)
         ORDER BY user_id, event_type""")
  }

  /** E3f — ROW-LEVEL DELETE through the lake's SQL face: the takedown /
    * right-to-be-forgotten operator a production corpus needs (drop keys
    * as one atomic, history-preserving commit). `DELETE FROM <cat>.<t>
    * WHERE …` plans onto [[graft.sources.LakeTable]]'s `SupportsDelete`
    * and routes through [[graft.etl.SnapshotLake.delete]]: only
    * partitions CONTAINING a matching row are rewritten (survivors into a
    * new gen; the `event_type='error'` conjunct empties that whole
    * partition, which simply leaves the manifest), untouched partitions'
    * gen dirs stay byte-identical, and pre-delete snapshots remain
    * readable via time travel until vacuum (SnapshotLakeSpec /
    * LakeCatalogSpec pin both). Oracle = the LWW winners MINUS the
    * deleted predicate — the exact SQL-DELETE polarity (rows where the
    * condition is TRUE go; NULL-evaluating rows survive).
    */
  def e3fLakeDelete(s: SparkSession, dir: String): DataFrame = {
    val root = ScratchLakes.fresh("e3f")
    val lake = s"$root/events"
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
    graft.etl.SnapshotLake.merge(s, lake, ev,
      Seq("user_id", "event_type"), "ts", "event_type", Seq("event_id"))
    s.conf.set("spark.sql.catalog.graftlakedel",
      classOf[graft.sources.LakeCatalog].getName)
    s.conf.set("spark.sql.catalog.graftlakedel.root", root)
    s.sql(
      """DELETE FROM graftlakedel.events
         WHERE user_id IN (2, 3, 5, 7, 11, 13) OR event_type = 'error'""")
    s.sql(
      """SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP_NTZ) AS timestamp_utc, value
         FROM graftlakedel.events
         ORDER BY user_id, event_type""")
  }

  /** E3g — `MERGE INTO` through the lake's SQL face: the idiomatic
    * lakehouse verb for "upsert this staging table".
    * [[graft.sources.LakeMergeStrategy]] (auto-registered by the catalog)
    * intercepts the analyzed plan — stock Spark refuses MERGE for any
    * table without row-level ops — validates the ON keys against the
    * lake's persisted merge contract, and routes the source through the
    * SAME [[graft.etl.SnapshotLake.mergeViaSpec]] LWW commit the API and
    * `INSERT INTO` use, so all three write faces share one semantics
    * (LakeCatalogSpec pins the UPDATE-only / INSERT-only / DELETE verb
    * shapes and the refusals). Same two-batch split and oracle as
    * e3b/e3c: the three faces must be value-identical.
    */
  def e3gLakeMergeSql(s: SparkSession, dir: String): DataFrame = {
    val root = ScratchLakes.fresh("e3g")
    val lake = s"$root/events"
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
    // batch 1 through the API merge — bootstraps the lake AND stamps the
    // merge contract whose keys the MERGE's ON clause must name
    graft.etl.SnapshotLake.merge(s, lake, ev.filter(col("event_id") % 2 === 0),
      Seq("user_id", "event_type"), "ts", "event_type", Seq("event_id"))
    s.conf.set("spark.sql.catalog.graftlakemrg",
      classOf[graft.sources.LakeCatalog].getName)
    s.conf.set("spark.sql.catalog.graftlakemrg.root", root)
    ev.filter(col("event_id") % 2 === 1).createOrReplaceTempView("e3g_batch2")
    s.sql(
      """MERGE INTO graftlakemrg.events AS t USING e3g_batch2 AS s
         ON t.user_id = s.user_id AND t.event_type = s.event_type
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT *""")
    s.sql(
      """SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP_NTZ) AS timestamp_utc, value
         FROM graftlakemrg.events
         ORDER BY user_id, event_type""")
  }

  /** E3h — CDC between lake snapshots: [[graft.etl.SnapshotLake.changes]]
    * gives an incremental consumer "what changed between the snapshot I
    * last saw and now" as one frame with `_change_type` ∈
    * {insert, update, delete} — at 100 TB the alternative is re-reading
    * the whole table and diffing. Partition-scoped by manifest diff
    * (partitions serving the same gen in both snapshots are never read);
    * within touched partitions a keyed full-outer join drops the
    * untouched copies. History: gen 1 = even-id batch, gen 2 = odd-id
    * LWW merge, gen 3 = key takedown — so all three change types appear.
    * Oracle = the same diff derived in DuckDB from the LWW algebra
    * (FULL OUTER JOIN + IS DISTINCT FROM).
    */
  def e3hLakeChanges(s: SparkSession, dir: String): DataFrame = {
    val root = ScratchLakes.fresh("e3h")
    val lake = s"$root/events"
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
    graft.etl.SnapshotLake.merge(s, lake, ev.filter(col("event_id") % 2 === 0),
      Seq("user_id", "event_type"), "ts", "event_type", Seq("event_id"))
    graft.etl.SnapshotLake.merge(s, lake, ev.filter(col("event_id") % 2 === 1),
      Seq("user_id", "event_type"), "ts", "event_type", Seq("event_id"))
    graft.etl.SnapshotLake.delete(s, lake,
      col("user_id").isin(2L, 3L, 5L, 7L, 11L, 13L))
    graft.etl.SnapshotLake.changes(s, lake, 1L, 3L)
      .select(col("user_id"), col("event_type"), col("event_id"),
        ntz(col("ts")).as("timestamp_utc"), col("value"), col("_change_type"))
      .orderBy("user_id", "event_type")
  }

  /** E3i — the STANDING CDC consumer loop: e3h's point read
    * (`changes(from, to)`) turned into the production shape — a
    * `graft-lake-cdc` stream ([[graft.sources.LakeCdcSource]]) drained with
    * `Trigger.AvailableNow` into `foreachBatch`, one commit per micro-batch
    * (`maxGensPerBatch = 1`). Position lives in the query's own checkpoint:
    * each commit's delta arrives exactly once across restarts, and a vacuum
    * or reset under the consumer fails the stream LOUDLY naming the
    * snapshot (LakeCdcSpec pins all three). History: gen 1 = even-id batch
    * (delivered as the bootstrap all-insert snapshot), gen 2 = odd-id LWW
    * merge, gen 3 = key takedown, each arriving as its own delta. The gate
    * FOLDS the deltas in order into a downstream replica (keys replaced,
    * deletes dropped — what a real consumer's keyed sink does), so the
    * oracle-checked law is "per-commit consumption reconstructs the final
    * snapshot": the folded replica must equal the two-batch LWW state minus
    * the deleted keys. e3l consumes the same stream through the file sink
    * and folds it set-based (last commit per key); this is the sequential
    * fold.
    *
    * The replica is materialized (`localCheckpoint`) inside each
    * micro-batch, so no frame outlives its batch and the lineage stays one
    * fold deep. A standing consumer over hundreds of commits should fold
    * into durable state instead: [[graft.etl.SnapshotLake.foldStreamBatch]]
    * with the commit generation as the batch id (LakeCdcSpec shows the
    * composition).
    */
  def e3iLakeCdcFollow(s: SparkSession, dir: String): DataFrame = {
    val root = ScratchLakes.fresh("e3i")
    val lake = s"$root/events"
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
    val keys = Seq("user_id", "event_type")
    graft.etl.SnapshotLake.merge(s, lake, ev.filter(col("event_id") % 2 === 0),
      keys, "ts", "event_type", Seq("event_id"))
    graft.etl.SnapshotLake.merge(s, lake, ev.filter(col("event_id") % 2 === 1),
      keys, "ts", "event_type", Seq("event_id"))
    graft.etl.SnapshotLake.delete(s, lake,
      col("user_id").isin(2L, 3L, 5L, 7L, 11L, 13L))
    // the consumer's fold: per delta, every key it mentions is replaced —
    // non-deletes re-land (post-image), deletes just drop. NULL-SAFE key
    // match, the lake's own LWW identity.
    var replica: Option[DataFrame] = None
    s.readStream.format("graft-lake-cdc").option("maxGensPerBatch", 1L).load(lake)
      .writeStream
      .option("checkpointLocation", s"$root/cdc_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (delta: DataFrame, _: Long) =>
        val survivors = delta.filter(col("_change_type") =!= "delete")
          .drop("_change_type", "_commit_gen")
        val folded = replica.fold(survivors) { cur =>
          val cond = keys.map(k =>
            col(s"__t.`$k`") <=> col(s"__d.`$k`")).reduce(_ && _)
          cur.alias("__t")
            .join(delta.select(keys.map(col): _*).alias("__d"), cond, "left_anti")
            .unionByName(survivors)
        }
        replica = Some(folded.localCheckpoint())
      }
      .start()
      .awaitTermination()
    replica.get
      .select(col("user_id"), col("event_type"), col("event_id"),
        ntz(col("ts")).as("timestamp_utc"), col("value"))
      .orderBy("user_id", "event_type")
  }

  /** E3j — SQL-ONLY lake bootstrap: `CREATE TABLE` through the catalog
    * (TBLPROPERTIES declare the merge contract —
    * [[graft.sources.LakeCatalog.createTable]] routes into
    * [[graft.etl.SnapshotLake.create]]: empty gen-0 manifest + declared
    * schema + stamped spec), then BOTH batches land via `INSERT INTO` —
    * no Scala API call ever touches the table, closing the catalog's last
    * bootstrap gap. The declared schema is enforced from commit 1 (the
    * widen-only evolution check runs against the gen-0 manifest's schema;
    * LakeCatalogSpec pins the refusals), and the result must equal the
    * API-merged twin's — one LWW semantics across every write face, now
    * including DDL-born tables.
    */
  def e3jLakeCreateSql(s: SparkSession, dir: String): DataFrame = {
    val root = ScratchLakes.fresh("e3j")
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
    s.conf.set("spark.sql.catalog.graftlakeddl",
      classOf[graft.sources.LakeCatalog].getName)
    s.conf.set("spark.sql.catalog.graftlakeddl.root", root)
    s.sql(
      s"""CREATE TABLE graftlakeddl.events (${ev.schema.toDDL})
          PARTITIONED BY (event_type)
          TBLPROPERTIES ('merge_keys'='user_id,event_type',
                         'version_col'='ts', 'tie_breakers'='event_id')""")
    ev.filter(col("event_id") % 2 === 0).createOrReplaceTempView("e3j_batch1")
    ev.filter(col("event_id") % 2 === 1).createOrReplaceTempView("e3j_batch2")
    s.sql("INSERT INTO graftlakeddl.events SELECT * FROM e3j_batch1")
    s.sql("INSERT INTO graftlakeddl.events SELECT * FROM e3j_batch2")
    s.sql(
      """SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP_NTZ) AS timestamp_utc, value
         FROM graftlakeddl.events
         ORDER BY user_id, event_type""")
  }

  /** E3k — SQL `UPDATE` through the lake's catalog: the predicate-scoped
    * rewrite DELETE pioneered, with the assignment applied instead of the
    * row dropped ([[graft.etl.SnapshotLake.update]]). Stock Spark refuses
    * UPDATE at planning for tables without row-level-operation support;
    * [[graft.sources.LakeMergeStrategy]] intercepts the analyzed
    * [[org.apache.spark.sql.catalyst.plans.logical.UpdateTable]] and
    * re-binds condition + SET expressions by name. Only partitions
    * CONTAINING a matching row rewrite (untouched gens stay byte-identical
    * and keep their generations — SnapshotLakeSpec pins it); assigning the
    * partition column or a merge key refuses loudly. Oracle = the LWW
    * winners with the assignment applied under the predicate (`value * 2`
    * is float-exact, so the hash gate holds bitwise).
    */
  def e3kLakeUpdateSql(s: SparkSession, dir: String): DataFrame = {
    val root = ScratchLakes.fresh("e3k")
    val lake = s"$root/events"
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
    graft.etl.SnapshotLake.merge(s, lake, ev,
      Seq("user_id", "event_type"), "ts", "event_type", Seq("event_id"))
    s.conf.set("spark.sql.catalog.graftlakeupd",
      classOf[graft.sources.LakeCatalog].getName)
    s.conf.set("spark.sql.catalog.graftlakeupd.root", root)
    s.sql(
      """UPDATE graftlakeupd.events SET value = value * 2
         WHERE event_type = 'click' AND user_id % 3 = 0""")
    s.sql(
      """SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP_NTZ) AS timestamp_utc, value
         FROM graftlakeupd.events
         ORDER BY user_id, event_type""")
  }

  /** E3l — the lake's `spark.readStream` face
    * ([[graft.sources.LakeCdcSource]]) into a stock file sink: the source
    * e3i folds through `foreachBatch` — offsets are manifest
    * generations, each micro-batch is the partition-scoped
    * [[graft.etl.SnapshotLake.changes]] delta (+ the bootstrap snapshot as
    * one all-insert batch), and position lives in the query's OWN
    * checkpoint, so
    * `spark.readStream.format("graft-lake-cdc")` feeds any stock sink with
    * the engine's exactly-once contract (LakeCdcStreamSpec pins restart
    * resume, admission control, and the vacuum/reset guardrails). Same
    * 3-commit history as e3i; the drained CDC rows (parquet sink,
    * `Trigger.AvailableNow`) fold by "last commit mentioning the key"
    * (`_commit_gen` — per-commit attribution, ≙ Delta CDF's
    * `_commit_version`), so the oracle-checked law is the same: streamed
    * per-commit consumption reconstructs the final snapshot.
    */
  def e3lLakeStreamCdc(s: SparkSession, dir: String): DataFrame = {
    val root = ScratchLakes.fresh("e3l")
    val lake = s"$root/events"
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
    val keys = Seq("user_id", "event_type")
    graft.etl.SnapshotLake.merge(s, lake, ev.filter(col("event_id") % 2 === 0),
      keys, "ts", "event_type", Seq("event_id"))
    graft.etl.SnapshotLake.merge(s, lake, ev.filter(col("event_id") % 2 === 1),
      keys, "ts", "event_type", Seq("event_id"))
    graft.etl.SnapshotLake.delete(s, lake,
      col("user_id").isin(2L, 3L, 5L, 7L, 11L, 13L))
    val out = s"$root/cdc_out"
    val q = s.readStream.format("graft-lake-cdc").load(lake)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", s"$root/cdc_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the consumer's fold over the drained CDC rows: a key's final state is
    // its row in the HIGHEST commit that mentions it (each commit is keyed
    // LWW, so a key appears at most once per gen); a last-mention delete
    // drops it — the set-based equivalent of e3i's sequential fold
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_commit_gen").desc)
    s.read.parquet(out)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("_change_type") =!= "delete")
      .select(col("user_id"), col("event_type"), col("event_id"),
        ntz(col("ts")).as("timestamp_utc"), col("value"))
      .orderBy("user_id", "event_type")
  }

  /** E3m — the reference's complete TWO-TABLE load onto two snapshot lakes
    * ([[graft.etl.Pipeline.runLake]], ≙ `main.py:97-138`'s one-transaction
    * indices+quotes load): standardize → convert → FK gate → dim commit →
    * fact commit, both leases held for the span, dim first — the FK-SAFE
    * ordering contract that replaces cross-directory atomicity a
    * filesystem cannot give (PipelineLakeSpec pins the order, the
    * crash-window read, convergence, and the rogue-ticker refusal). Bars
    * are the events table pre-deduped to one row per (ticker, ts) (so the
    * oracle states the pipeline math, not the tie-break); the dim derives
    * from the event types; rates are a deterministic day-of-month formula
    * both engines compute identically. The answer reads the QUOTES lake
    * joined to the INDICES lake — the FK law visible in the output — so
    * the oracle-checked claim is "the two-lake pipeline lands exactly the
    * standardized, converted, joined state".
    */
  def e3mLakePipeline(s: SparkSession, dir: String): DataFrame = {
    val root = ScratchLakes.fresh("e3m")
    val ev = t(s, dir, "events")
    // one bar per (ticker, ts): LWW by (value, event_id) so the pipeline's
    // own within-batch dedup has nothing left to decide
    val w = Window.partitionBy(col("event_type"), col("ts"))
      .orderBy(col("value").desc, col("event_id").desc)
    val bars = ev.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("ts"), col("event_type").as("ticker"),
        (col("value") - 1.0).as("Open"), (col("value") + 2.0).as("High"),
        (col("value") - 2.0).as("Low"), col("value").as("Close"),
        col("value").as("Adj Close"), col("event_id").as("Volume"))
    val dim = ev.select(col("event_type")).distinct()
      .select(col("event_type").as("ticker"),
        upper(col("event_type")).as("name"), lit("GLOBAL").as("country"),
        lit("GX").as("exchange"), lit("EUR").as("currency"))
    // deterministic daily EUR→USD rate: 1 + day-of-month/100 (both engines
    // derive it from the same integer with the same IEEE ops)
    val rates = new graft.etl.RateProvider {
      override def rates(pairs: Seq[(String, java.sql.Date)],
          target: String): Seq[graft.etl.FxRate] =
        pairs.map { case (c, d) => graft.etl.FxRate(c, target, d,
          1.0 + d.toLocalDate.getDayOfMonth / 100.0) }
    }
    graft.etl.Pipeline.runLake(s, bars, dim, rates,
      s"$root/indices", s"$root/quotes")
    val quotes = graft.etl.SnapshotLake.read(s, s"$root/quotes")
      .select(col("ticker"), col("timestamp_utc"), col("close"), col("close_usd"))
    val indices = graft.etl.SnapshotLake.read(s, s"$root/indices")
      .select(col("ticker"), col("name"))
    quotes.join(indices, Seq("ticker"))
      .select(col("ticker"), ntz(col("timestamp_utc")).as("timestamp_utc"),
        col("close"), col("close_usd"), col("name"))
      .orderBy("ticker", "timestamp_utc")
  }

  /** E3n — `writeStream` INTO the lake ([[graft.sources.LakeStreamSink]]):
    * the write half of the streaming story e3l's read face opened. A
    * DDL-born table (declared schema + contract, no API merge ever), a
    * file-source stream over two landings, two `Trigger.AvailableNow`
    * drains through `.format("graft-lake")` — each micro-batch lands as
    * the lake's usual keyed LWW merge commit, replay-guarded by the
    * per-sink watermark each manifest carries (LakeStreamSinkSpec pins
    * replay skip and the refusal shapes, LakeManifestSpec the
    * injected-crash replays). The oracle-checked law is e3j's verbatim:
    * streamed batches land the identical LWW state the SQL INSERT twin
    * lands — one write semantics across API, SQL, and streaming faces.
    */
  def e3nLakeStreamWrite(s: SparkSession, dir: String): DataFrame = {
    val root = ScratchLakes.fresh("e3n")
    val lake = s"$root/events"
    val src = s"$root/src"
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
    graft.etl.SnapshotLake.create(s, lake, ev.schema,
      graft.etl.SnapshotLake.MergeSpec(Seq("user_id", "event_type"), "ts",
        "event_type", Seq("event_id"), Nil))
    // one AvailableNow drain per landing: the file source delivers all
    // files of a landing as ONE micro-batch (no admission limit set), so
    // the commit order is deterministically even-batch then odd-batch —
    // the same two-commit LWW the INSERT INTO twin (e3j) states
    def drain(): Unit = {
      val q = s.readStream.schema(ev.schema).parquet(src)
        .writeStream.format("graft-lake")
        .option("path", lake)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    ev.filter(col("event_id") % 2 === 0).write.mode("append").parquet(src)
    drain()
    ev.filter(col("event_id") % 2 === 1).write.mode("append").parquet(src)
    drain()
    graft.etl.SnapshotLake.read(s, lake)
      .select(col("user_id"), col("event_type"), col("event_id"),
        ntz(col("ts")).as("timestamp_utc"), col("value"))
      .orderBy("user_id", "event_type")
  }

  /** E3o — SQL `ALTER TABLE … ADD COLUMN`: the widen-only evolution
    * contract's DDL verb ([[graft.etl.SnapshotLake.addColumn]] via
    * [[graft.sources.LakeCatalog.alterTable]]) as a METADATA-ONLY commit —
    * a new generation with the SAME partition entries and a widened
    * recorded schema; not a byte of data moves, pre-ALTER rows answer
    * null, and the commit's CDC delta is empty (LakeCatalogSpec pins the
    * refusal shapes: rename/drop/retype/NOT NULL/positions/defaults).
    * History: CREATE → even-batch INSERT → ALTER ADD note → odd-batch
    * INSERT carrying note. The oracle states the widen law: the final
    * table is the two-batch LWW state where note exists exactly on rows
    * whose winning version arrived after the ALTER.
    */
  def e3oLakeAlterAdd(s: SparkSession, dir: String): DataFrame = {
    val root = ScratchLakes.fresh("e3o")
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
    s.conf.set("spark.sql.catalog.graftlakealt",
      classOf[graft.sources.LakeCatalog].getName)
    s.conf.set("spark.sql.catalog.graftlakealt.root", root)
    s.sql(
      s"""CREATE TABLE graftlakealt.events (${ev.schema.toDDL})
          PARTITIONED BY (event_type)
          TBLPROPERTIES ('merge_keys'='user_id,event_type',
                         'version_col'='ts', 'tie_breakers'='event_id')""")
    ev.filter(col("event_id") % 2 === 0).createOrReplaceTempView("e3o_batch1")
    s.sql("INSERT INTO graftlakealt.events SELECT * FROM e3o_batch1")
    s.sql("ALTER TABLE graftlakealt.events ADD COLUMN note STRING")
    ev.filter(col("event_id") % 2 === 1)
      .withColumn("note", concat_ws("-", col("event_type"), col("user_id")))
      .createOrReplaceTempView("e3o_batch2")
    s.sql("INSERT INTO graftlakealt.events SELECT * FROM e3o_batch2")
    s.sql(
      """SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP_NTZ) AS timestamp_utc, value, note
         FROM graftlakealt.events
         ORDER BY user_id, event_type""")
  }

  /** E3p — SQL `TRUNCATE TABLE` over the lake: rides the unconditional
    * `DELETE FROM` face (`SupportsDelete.truncateTable`'s default routes
    * into [[graft.etl.SnapshotLake.delete]] with an empty filter set) —
    * every partition dropped as ONE atomic manifest commit, the merge
    * contract and history RETAINED (time travel to the pre-truncate
    * snapshot still answers until vacuum; LakeCatalogSpec pins both).
    * History: full merge → TRUNCATE → odd-batch INSERT; the oracle is
    * the odd-batch LWW state alone — the truncate visibly emptied the
    * table, and the post-truncate INSERT landed on the declared schema.
    */
  def e3pLakeTruncateSql(s: SparkSession, dir: String): DataFrame = {
    val root = ScratchLakes.fresh("e3p")
    val lake = s"$root/events"
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
    graft.etl.SnapshotLake.merge(s, lake, ev,
      Seq("user_id", "event_type"), "ts", "event_type", Seq("event_id"))
    s.conf.set("spark.sql.catalog.graftlaketr",
      classOf[graft.sources.LakeCatalog].getName)
    s.conf.set("spark.sql.catalog.graftlaketr.root", root)
    s.sql("TRUNCATE TABLE graftlaketr.events")
    ev.filter(col("event_id") % 2 === 1).createOrReplaceTempView("e3p_batch2")
    s.sql("INSERT INTO graftlaketr.events SELECT * FROM e3p_batch2")
    s.sql(
      """SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP_NTZ) AS timestamp_utc, value
         FROM graftlaketr.events
         ORDER BY user_id, event_type""")
  }

  /** E4 — OHLCV resampling (SURVEY §2.2 Aggregations): per-key daily candles
    * from finer-grained ticks via `min_by`/`max_by` — open/close ride on
    * the extreme timestamps, high/low/volume are plain extremes/sums, all in
    * one hash aggregate. (user_id, ts) is unique per key, so the
    * open/close picks are deterministic.
    */
  def e4OhlcvResample(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), window(col("ts"), "1 day").as("w"))
      .agg(
        expr("min_by(value, ts)").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        expr("max_by(value, ts)").as("close"),
        count(lit(1)).as("n_bars"),
        dsum(col("value"), 6).as("volume_proxy"))
      .select(col("user_id"), ntz(col("w.start")).as("day_start"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_bars"), col("volume_proxy"))
      .orderBy("user_id", "day_start")

  /** E13 — weekly OHLCV candles: e4 at CALENDAR-week granularity. The
    * deliberate choice is `date_trunc('week', ts)` (ISO weeks, Monday
    * start — the convention both Spark and DuckDB implement) rather than
    * `window(ts, "7 days")`, whose epoch-aligned buckets start on a
    * THURSDAY (1970-01-01) and match no market calendar — the difference
    * between a time-series resample and a calendar resample, invisible at
    * daily granularity (e4's 1-day windows coincide with calendar days)
    * and wrong at weekly. Same single-pass min_by/max_by shape as e4.
    */
  def e13WeeklyCandles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), date_trunc("week", col("ts")).as("week_start"))
      .agg(
        expr("min_by(value, ts)").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        expr("max_by(value, ts)").as("close"),
        count(lit(1)).as("n_bars"),
        dsum(col("value"), 6).as("volume_proxy"))
      .select(col("user_id"), ntz(col("week_start")).as("week_start"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_bars"), col("volume_proxy"))
      .orderBy("user_id", "week_start")

  /** E5 — calendar gap-fill + forward-fill (pandas `asfreq('D')` + `ffill`
    * re-expressed): build each key's full daily calendar via
    * `sequence`+`explode`, left-join the observed daily closes, and carry
    * the last observation forward with `last(..., ignoreNulls)` over a
    * running window. One shuffle on the key; the calendar explode is
    * bounded by span, not data volume.
    */
  def e5GapFill(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCloses(s, dir)
    val calendar = daily
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    calendar
      .join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled_close", last(col("close"), ignoreNulls = true).over(w))
      .withColumn("is_gap", col("close").isNull.cast("int"))
      .select(col("user_id"), col("day"), col("close"), col("filled_close"), col("is_gap"))
      .orderBy("user_id", "day")
  }

  /** E6 — 7-day rolling volatility of the daily close per key: the standard
    * quant consumer query over the produced series. The sample variance is
    * computed from decimal-exact rolling Σx and Σx² (order-independent),
    * then finished in double — both engines evaluate identical operands, so
    * even sqrt agrees bitwise. Built-in `stddev` would NOT oracle-match:
    * its float accumulation is summation-order-dependent.
    */
  def e6RollingVol(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCloses(s, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("day")).rowsBetween(-6, 0)
    val sx = sum(col("close").cast("decimal(25,6)")).over(w).cast("double")
    val sxx = sum((col("close") * col("close")).cast("decimal(30,8)")).over(w).cast("double")
    val n = count(lit(1)).over(w).cast("double")
    daily
      .withColumn("vol7",
        when(n > 1, sqrt(greatest((sxx - sx * sx / n) / (n - lit(1.0)), lit(0.0))))
          .otherwise(lit(null).cast("double")))
      .withColumn("n_obs", n.cast("long"))
      .select(col("user_id"), col("day"), col("close"), col("vol7"), col("n_obs"))
      .orderBy("user_id", "day")
  }

  /** E7 — cross-series correlation: Pearson r between each watchlist series
    * (user_id < 50) and every other user's daily closes over their shared
    * days (≥ 20 required). The watchlist bound keeps pair cardinality
    * `watchlist × universe`, not `universe²` — all-pairs correlation is
    * quadratic in series count and is exactly the query shape that must be
    * scoped (or LSH-bucketed like X7) before it survives a large universe.
    * Each pair's stats accumulate in one grouped pass, and all sufficient
    * statistics (Σx, Σy, Σxy, Σx², Σy²) are decimal-exact, so the final
    * double arithmetic is bit-identical to the oracle's. Built-in `corr`
    * would not match (float accumulation order).
    *
    * Cost note (measured at sf0.1): the runtime is the
    * pairs×shared-days product stream through the decimal aggregation —
    * inherent to exact pairwise stats — PLUS, until round 15, a second
    * full events scan+aggregate: the pushed-down watchlist filter makes
    * the self-join's two daily subtrees differ, so Catalyst reuses no
    * exchange between them (the round-12 localCheckpoint probe measured
    * ~nothing because it cut the recompute but serialized the cascade).
    * The daily frame is now materialized ONCE to scratch parquet (the x2
    * pattern, at plan construction inside the timed region): both join
    * sides scan the narrow (user_id, day, close) file, and the planner
    * sees its true size — at gate scale the filtered watchlist side
    * auto-broadcasts, removing the day exchanges too.
    */
  def e7Correlation(s: SparkSession, dir: String): DataFrame =
    e7CorrelationFrom(
      graft.dedup.DedupQueries.materialize(dailyCloses(s, dir), "e7_daily"))

  /** E7 core over an arbitrary per-(user_id, day, close) frame — exposed so
    * the profiling harness measures the PRODUCTION body under different
    * input materializations instead of a hand-copied reformulation.
    *
    * `watchlistCap` is the EXPLICIT quadratic-bound contract: the pair
    * cardinality this query streams is `watchlistCap × universe`, so the
    * cap — not the corpus — is what a caller sizes when scaling up
    * (all-pairs correlation over an unbounded universe is the shape that
    * must be scoped or LSH-bucketed first; see the class doc). The default
    * matches the declared `e7_correlation` gate query and its oracle.
    */
  def e7CorrelationFrom(daily: DataFrame, watchlistCap: Long = 50L): DataFrame = {
    val joined = daily.filter(col("user_id") < watchlistCap).as("a")
      .join(daily.as("b"),
        col("a.day") === col("b.day") && col("a.user_id") < col("b.user_id"))
      .select(col("a.user_id").as("u1"), col("b.user_id").as("u2"),
        col("a.close").as("x"), col("b.close").as("y"))
    def dsum30(c: Column): Column = sum(c.cast("decimal(30,8)")).cast("double")
    joined
      .groupBy(col("u1"), col("u2"))
      .agg(count(lit(1)).cast("double").as("n"),
        dsum30(col("x")).as("sx"), dsum30(col("y")).as("sy"),
        dsum30(col("x") * col("y")).as("sxy"),
        dsum30(col("x") * col("x")).as("sxx"),
        dsum30(col("y") * col("y")).as("syy"))
      .filter(col("n") >= 20)
      .select(col("u1"), col("u2"), col("n").cast("long").as("n_days"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy")))).as("pearson_r"))
      .orderBy("u1", "u2")
  }

  /** E8 — running-peak drawdown per series: for each day, the peak close so
    * far and the relative drawdown from it — the standard risk consumer
    * query over the produced daily series. Everything is exact for the
    * oracle: running max is order-exact under the window sort, and
    * (peak−close)/peak is IEEE arithmetic on identical operands.
    * One shuffle on the series key; the window is a single
    * sort-within-partition at any scale.
    */
  def e8Drawdown(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCloses(s, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("peak", max(col("close")).over(w))
      .withColumn("drawdown", (col("peak") - col("close")) / col("peak"))
      .select(col("user_id"), col("day"), col("close"), col("peak"), col("drawdown"))
      .orderBy("user_id", "day")
  }

  /** E9 — cross-sectional momentum ranking: each series' trailing 20-day
    * return, re-ranked across the universe per day (the standard relative-
    * momentum factor consumer query). Two chained windows on DIFFERENT
    * keys — lag() partitioned by series, then row_number() partitioned by
    * day — i.e. exactly two exchanges at any scale; the per-day ranking
    * partition is bounded by universe size, never by history length. All
    * arithmetic is per-row IEEE on identical operands (lag is exact, the
    * return is one division), and rank ties break on user_id, so the
    * oracle hash-matches bitwise.
    */
  def e9MomentumRank(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCloses(s, dir)
    val wSeries = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val wDay = Window.partitionBy(col("day"))
      .orderBy(col("mom20").desc, col("user_id"))
    daily
      .withColumn("close_lag20", lag(col("close"), 20).over(wSeries))
      .filter(col("close_lag20").isNotNull && col("close_lag20") =!= 0.0)
      .withColumn("mom20", col("close") / col("close_lag20") - lit(1.0))
      .withColumn("mom_rank", row_number().over(wDay))
      .select(col("day"), col("mom_rank"), col("user_id"), col("close"),
        col("mom20"))
      .orderBy("day", "mom_rank")
  }

  /** E10 — market beta/alpha per series against the equal-weighted index
    * (OLS on daily closes): beta = cov(series, market)/var(market), alpha =
    * the regression intercept. The CAPM-style factor regression every quant
    * consumer of the reference's `quotes` table runs next after returns.
    *
    * Exactness follows E6/E7: products are rounded to DECIMAL(30,8) per row
    * and summed exactly (decimal addition is associative — the sum is
    * shuffle-order-independent, unlike a double sum), one double division at
    * the end; the index itself is one exact decimal sum and one double
    * division per day. Scale shape: the market series collapses to #days
    * rows (broadcast back — no second corpus shuffle), the sufficient stats
    * are one user-keyed aggregate, and beta/alpha are a projection over
    * #users rows. Nothing is quadratic, unlike pairwise E7.
    */
  def e10MarketBeta(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCloses(s, dir)
    val market = daily.groupBy(col("day"))
      .agg((sum(col("close").cast("decimal(30,8)")).cast("double") /
        count(lit(1)).cast("double")).as("mkt"))
    def dsum30(c: Column): Column = sum(c.cast("decimal(30,8)")).cast("double")
    daily.join(broadcast(market), "day")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("double").as("n"),
        dsum30(col("mkt")).as("sx"), dsum30(col("close")).as("sy"),
        dsum30(col("mkt") * col("close")).as("sxy"),
        dsum30(col("mkt") * col("mkt")).as("sxx"))
      .filter(col("n") >= 20)
      // a (near-)degenerate series — market constant over the user's days —
      // must not reach the division: exact zero gives NaN/Infinity, and
      // per-row decimal rounding turns a truly-constant series into a tiny
      // NONZERO denominator whose ratio is pure rounding noise. Filter on a
      // relative variance floor (CV² of genuine daily data is ≥1e-4; the
      // rounding-noise ratio is ≤~1e-8/price — 1e-7 separates them cleanly)
      .filter(col("n") * col("sxx") - col("sx") * col("sx") >
        lit(1e-7) * col("n") * col("sxx"))
      .withColumn("beta",
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
      .withColumn("alpha", (col("sy") - col("beta") * col("sx")) / col("n"))
      .select(col("user_id"), col("n").cast("long").as("n_days"),
        col("beta"), col("alpha"))
      .orderBy("user_id")
  }

  /** E11 — volume-weighted average price, with the volume carried in the
    * semi-structured `props` payload (A18's codegen'd JSON path extraction
    * composed into E4's daily grouping — no pre-flattening ETL step, the
    * extraction runs inside the scan's WholeStageCodegen span). Zero-volume
    * prints are excluded up front so every surviving (user, day) group has
    * a positive denominator. Decimal-exact weighted sums (the house dsum
    * pattern) keep the aggregate order-independent. Scale shape: narrow
    * projection → one keyed aggregate with map-side partials; nothing
    * joins, nothing sorts until the final presentation ORDER BY.
    */
  def e11Vwap(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("vol"))
      .filter(col("vol") > 0)
      .groupBy(col("user_id"), col("day"))
      .agg(
        (dsum(col("value") * col("vol")) / sum(col("vol")).cast("double")).as("vwap"),
        sum(col("vol")).as("total_vol"),
        count(lit(1)).as("n_trades"))
      .orderBy("user_id", "day")

  // ------------------------------------------------------------------ Q-*

  /** Q-recent: latest 5 rows for one key (reference `README.md:322-332`).
    * Plans as TakeOrderedAndProject — no full sort at scale.
    */
  def qRecent(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("event_type") === "click")
      .select(col("event_id"), ntz(col("ts")).as("timestamp_utc"),
        col("user_id"), col("value"))
      .orderBy(col("timestamp_utc").desc, col("event_id"))
      .limit(5)

  /** Q-day: one key, one calendar day, ascending (reference `README.md:336-345`).
    * The day is the key's first active day, computed as a broadcast scalar.
    */
  def qDay(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("event_type") === "purchase")
    val minDay = ev.agg(min(to_date(col("ts"))).as("min_d"))
    ev.join(broadcast(minDay), to_date(col("ts")) === col("min_d"))
      .select(col("event_id"), ntz(col("ts")).as("timestamp_utc"),
        col("event_type"), col("user_id"), col("value"))
      .orderBy("timestamp_utc", "event_id")
  }

  /** Q-dim: dimension scan ordered by name (reference `README.md:350-357`). */
  def qDim(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderBy("n_name")

  /** Q-any: multi-key membership + per-key top-3 by recency (reference
    * `postgres_writer.py:371-377` generalized via row_number).
    */
  def qAny(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("timestamp_utc").desc, col("event_id"))
    t(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase", "error"))
      .select(col("event_type"), col("event_id"), ntz(col("ts")).as("timestamp_utc"),
        col("value"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy(col("event_type"), col("rnk"))
  }

  /** Q-audit: per-column null counts (T6, reference `standardizer.py:253-258`). */
  def qAudit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(
      count(lit(1)).as("n_rows"),
      sum(col("l_quantity").isNull.cast("long")).as("null_quantity"),
      sum(col("l_extendedprice").isNull.cast("long")).as("null_extendedprice"),
      sum(col("l_discount").isNull.cast("long")).as("null_discount"),
      sum(col("l_shipdate").isNull.cast("long")).as("null_shipdate"))

  // ---------------------------------------------------------------- A1–A12

  /** A1: filter + project — predicate and column pruning reach the parquet
    * scan (verified via explain: PushedFilters on l_shipdate/l_discount).
    */
  def a1FilterProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
        col("l_discount") > 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), ntz(col("l_shipdate")).as("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
      .orderBy("l_orderkey", "l_linenumber")

  /** A2: TPC-H Q1-shaped hash aggregate — map-side partial agg, tiny shuffle. */
  def a2Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 8).as("sum_disc_price"),
        (sum(col("l_discount").cast("decimal(25,6)")).cast("double") / count(lit(1)))
          .as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** A3: fact ⋈ tiny dim — explicit broadcast, no shuffle of the fact side. */
  def a3BroadcastJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(dsum(col("l_extendedprice")).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("s_name")

  /** A4: fact ⋈ fact sort-merge join on the shuffle key — the shape that
    * dominates at 100 TB; merge hint keeps it SMJ even when one side would
    * fit a broadcast at test scale.
    */
  def a4SortMergeJoin(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders").hint("merge")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_orderkey")).as("n_orders"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 8).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** A5: multi-way star join + aggregate — dims broadcast, facts SMJ. */
  def a5StarJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 8).as("revenue"),
        count(lit(1)).as("n_lineitems"))
      .orderBy("r_name", "n_name")

  /** A6: top-k per group via row_number (Q-recent generalized). */
  def a6TopkWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy("o_custkey", "rnk")
  }

  /** A7: lag + moving aggregate per key — returns/moving-average shape. The
    * 3-row moving mean is computed as exact decimal sum / window count so
    * both engines divide identical values.
    */
  def a7WindowAnalytic(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val frame = w.rowsBetween(-2, 0)
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), ntz(col("o_orderdate")).as("o_orderdate"),
        col("o_totalprice"))
      .withColumn("delta_prev", col("o_totalprice") - lag(col("o_totalprice"), 1).over(w))
      .withColumn("ma3",
        sum(col("o_totalprice").cast("decimal(25,4)")).over(frame).cast("double") /
          count(lit(1)).over(frame))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  /** A8: semi + anti join — "keys with / without facts". */
  def a8SemiAnti(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").select(col("o_custkey"))
    val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .withColumn("grp", lit("with_orders"))
    val withoutO = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .withColumn("grp", lit("without_orders"))
    withO.unionByName(withoutO)
      .select(col("grp"), col("c_mktsegment"), col("n"))
      .orderBy("grp", "c_mktsegment")
  }

  /** A9: exact distinct aggregation (Catalyst Expand-based rewrite). */
  def a9Distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("nd_parts"),
        countDistinct(col("l_suppkey")).as("nd_supps"))
      .orderBy("l_returnflag")

  /** A9b: approximate distinct (HLL++, rsd 0.01) — sketch path for 100 TB
    * cardinality estimation. The raw estimate is engine-specific (DuckDB's
    * sketch differs), so the GATE query emits the exact twin plus a
    * bounds-check VERDICT instead of the estimate itself: `approx_ok` is
    * true iff |approx − exact| ≤ 5% · exact (5σ of the configured rsd).
    * DuckDB computes the exact side independently and asserts TRUE, so an
    * out-of-contract sketch flips the boolean and fails the hash gate —
    * a bounds-checked oracle row, not rows-only. Production uses
    * `approx_count_distinct` alone (the exact twin here is gate-scale
    * instrumentation; both run in the SAME single aggregate pass).
    */
  def a9bApproxDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
        countDistinct(col("l_partkey")).as("nd_parts"))
      .select(col("l_returnflag"), col("nd_parts"),
        (abs(col("approx_parts") - col("nd_parts")).cast("double")
          <= col("nd_parts").cast("double") * 0.05).as("approx_ok"))
      .orderBy("l_returnflag")

  /** A10: rollup over (returnflag, linestatus); subtotal rows surfaced via
    * COALESCE so ordering is null-free in both engines.
    */
  def a10Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("returnflag", "linestatus")

  /** A10b: cube over (returnflag, linestatus) — all 2ⁿ grouping sets in one
    * Expand-based pass (no re-scan per grouping set).
    */
  def a10bCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("returnflag", "linestatus")

  /** A10c: explicit GROUPING SETS — the arbitrary-set generalization that
    * rollup (prefix sets) and cube (all 2ⁿ sets) special-case. The declared
    * sets are the two singles plus the pair but NOT the grand total — a
    * combination neither rollup nor cube can state — and Spark still plans
    * it as ONE Expand-based pass over the scan (each input row fans out
    * once per set; no per-set re-scan), the same execution shape a10/a10b
    * pin. Null-vs-grouped ambiguity is resolved with `grouping_id()`
    * (bit-vector semantics shared by Spark and DuckDB's GROUPING), not
    * COALESCE alone, so a literal null key could not alias an "ALL" row.
    */
  def a10cGroupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")),
          Seq(col("l_returnflag"), col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"),
        dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(col("gid"),
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("gid", "returnflag", "linestatus")

  /** A11: set ops over key sets (EXCEPT = distinct anti-union). */
  def a11SetOps(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
      .orderBy("o_custkey")
  }

  /** A12: tumbling-window event aggregation — the batch face of the
    * streaming windowed agg (same `window()` expression streams under a
    * watermark in graft.streaming).
    */
  def a12TumblingWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
      .select(ntz(col("w.start")).as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** A12b: sliding-window event aggregation (2h windows sliding by 1h) —
    * every event lands in two windows; Spark's `window()` Expand handles the
    * fan-out without a self-join.
    */
  def a12bSlidingWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
      .select(ntz(col("w.start")).as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** A12c: session-window aggregation — per-user sessions closed by a
    * 30-minute silence gap (`session_window` merges events with
    * inter-arrival < gap; end = last event + gap). The same expression
    * streams under a watermark (graft.streaming).
    */
  def a12cSessionWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
      .select(ntz(col("w.start")).as("session_start"), ntz(col("w.end")).as("session_end"),
        col("user_id"), col("n"), col("sum_value"))
      .orderBy("user_id", "session_start")

  /** A13: as-of join — for every click, the same user's most recent purchase
    * at or before it (the T9 rate-lookup generalized to point-in-time
    * semantics; SURVEY.md §4 "as-of rate join").
    *
    * Implementation is the scalable union-and-carry plan: tag both sides,
    * union, ONE shuffle on the key, and a running `last(..., ignoreNulls)`
    * window carries the newest purchase forward to each click. No
    * point-in-time cross join, no per-row probe — cost is a single
    * sort-within-partition at any scale. Purchases are pre-aggregated per
    * (user, ts) so ties are deterministic in both engines.
    */
  def a13AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("p_value"))
      .select(col("user_id"), col("ts"), col("p_value"),
        lit(0).as("side"), lit(null).cast("long").as("event_id"),
        lit(null).cast("double").as("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(null).cast("double").as("p_value"),
        lit(1).as("side"), col("event_id"), col("value"))
    // side=0 sorts before side=1 at equal ts ⇒ inclusive `purchase.ts <= click.ts`
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchases.unionByName(clicks)
      .withColumn("purchase_ts",
        last(when(col("side") === 0, col("ts")), ignoreNulls = true).over(w))
      .withColumn("purchase_value",
        last(when(col("side") === 0, col("p_value")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), ntz(col("ts")).as("timestamp_utc"), col("user_id"),
        col("value"), ntz(col("purchase_ts")).as("purchase_ts"), col("purchase_value"))
      .orderBy("event_id")
  }

  /** A13b: the SAME point-in-time semantics as a13, through the engine's
    * native as-of operator ([[graft.plans.AsOfJoinExec]]) — the full
    * `LogicalPlan → Rule → SparkStrategy → SparkPlan` Catalyst ladder. The
    * query is a plain left join carrying the `asof_match` marker; the
    * injected rule rewrites it into the physical merge join (one hash
    * exchange per side, O(1) merge state, ≤ 1 output row per click — see
    * the operator's scaladoc for the scale contract vs. the a13
    * union-and-carry plan). Purchases are pre-aggregated per (user, ts) so
    * right-side ties are impossible and the output is bit-stable — the
    * operator's documented determinism contract.
    *
    * Oracle: DuckDB's native `ASOF LEFT JOIN` — two engines, two
    * independent as-of implementations, one hash-compared result.
    */
  /** Shared staging for the native as-of lanes (a13b/a13c): purchases
    * pre-aggregated to ONE row per (user, ts) — the tie policy behind the
    * operator's determinism contract — and the probe click projection.
    * One definition so the gate lanes cannot drift from each other (the
    * VerifySf1 twin and StreamingSpec lanes restate it on purpose — they
    * are the independent formulations being compared).
    */
  private[graft] def asofPurchases(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .agg(max(col("value")).as("p_value"))

  private[graft] def asofClicks(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))

  def a13bAsofJoinNative(s: SparkSession, dir: String): DataFrame = {
    graft.plans.AsOfJoin.ensureRegistered(s)
    val ev = t(s, dir, "events")
    val purchases = asofPurchases(ev)
    val clicks = asofClicks(ev)
    clicks
      .join(purchases,
        col("user_id") === col("p_user") && expr("asof_match(ts, p_ts)"),
        "left")
      .select(col("event_id"), ntz(col("ts")).as("timestamp_utc"), col("user_id"),
        col("value"), ntz(col("p_ts")).as("purchase_ts"),
        col("p_value").as("purchase_value"))
      .orderBy("event_id")
  }

  /** A13c: the as-of family's other half — FORWARD direction with a
    * TOLERANCE: for every click, the same user's NEXT purchase at-or-after
    * it, but only within 2 hours (the attribution-window shape:
    * click → conversion inside the window, else null). Same native
    * operator, `asof_match(ts, p_ts, 'forward', INTERVAL 2 HOUR)`; the
    * tolerance is enforced inside the merge, so out-of-window rows are
    * never emitted then re-filtered. Oracle: DuckDB has no forward ASOF,
    * so the oracle derives it independently via correlated MIN/arg_min
    * subqueries over the window — two unrelated formulations, one hash.
    */
  def a13cAsofJoinForwardTol(s: SparkSession, dir: String): DataFrame = {
    graft.plans.AsOfJoin.ensureRegistered(s)
    val ev = t(s, dir, "events")
    val purchases = asofPurchases(ev)
    val clicks = asofClicks(ev)
    clicks
      .join(purchases,
        col("user_id") === col("p_user") &&
          expr("asof_match(ts, p_ts, 'forward', INTERVAL 2 HOUR)"),
        "left")
      .select(col("event_id"), ntz(col("ts")).as("timestamp_utc"), col("user_id"),
        col("value"), ntz(col("p_ts")).as("next_purchase_ts"),
        col("p_value").as("next_purchase_value"))
      .orderBy("event_id")
  }

  /** A13d: the as-of family's third direction — NEAREST with a tolerance:
    * for every click, the same user's purchase closest in time within
    * ±90 minutes, ties preferring the earlier (backward) purchase — the
    * pandas `merge_asof(direction='nearest')` contract. Same native
    * operator; the merge keeps the backward candidate AND the one-row
    * forward peek, compares |Δts| once, and the tolerance bounds both
    * candidates symmetrically. Oracle: DuckDB has no nearest ASOF, so the
    * oracle derives it independently — a windowed LEFT range join ranked
    * by (|Δts|, backward-first) — two unrelated formulations, one hash.
    */
  def a13dAsofNearest(s: SparkSession, dir: String): DataFrame = {
    graft.plans.AsOfJoin.ensureRegistered(s)
    val ev = t(s, dir, "events")
    val purchases = asofPurchases(ev)
    val clicks = asofClicks(ev)
    clicks
      .join(purchases,
        col("user_id") === col("p_user") &&
          expr("asof_match(ts, p_ts, 'nearest', INTERVAL 90 MINUTE)"),
        "left")
      .select(col("event_id"), ntz(col("ts")).as("timestamp_utc"), col("user_id"),
        col("value"), ntz(col("p_ts")).as("nearest_purchase_ts"),
        col("p_value").as("nearest_purchase_value"))
      .orderBy("event_id")
  }

  /** A13e: the BATCH CONTRACT of [[graft.streaming.TemporalJoin]], declared
    * as an oracle-checked query (the x18 pattern — a streaming operator's
    * emitted result restated as pure batch SQL so DuckDB adjudicates the
    * contract, not just ScalaTest): every click the final watermark closed
    * (click ts strictly below `max(ts) - 2 days`, the operator's lateness)
    * enriched with the purchase version in effect at click time. This is
    * exactly the row set the streaming operator must emit over a full
    * drain — StreamingSpec's sandwich proves the streaming side equals
    * this statement; this query hash-verifies the statement itself against
    * an independent engine. Plan: one broadcast of the 1-row watermark,
    * then the native as-of exec.
    */
  def a13eTemporalJoinClosed(s: SparkSession, dir: String): DataFrame = {
    graft.plans.AsOfJoin.ensureRegistered(s)
    val ev = t(s, dir, "events")
    val wm = ev.agg((max(col("ts")) - expr("INTERVAL 2 DAYS")).as("wm"))
    val purchases = asofPurchases(ev)
    val clicks = asofClicks(ev)
    clicks
      .join(broadcast(wm))
      .filter(col("ts") < col("wm"))
      .drop("wm")
      .join(purchases,
        col("user_id") === col("p_user") && expr("asof_match(ts, p_ts)"),
        "left")
      .select(col("event_id"), ntz(col("ts")).as("timestamp_utc"), col("user_id"),
        col("value"), ntz(col("p_ts")).as("version_ts"),
        col("p_value").as("version_value"))
      .orderBy("event_id")
  }

  /** E14: SCD Type-2 dimension history — every purchase opens a version
    * row with a validity interval, `valid_to` NULL marking the current
    * version ([[graft.etl.Scd2]]; the history-preserving sibling of e3's
    * last-write-wins upsert). One keyed window, no self-join; the
    * incremental face ([[graft.etl.Scd2.fold]] — touched keys rebuilt,
    * untouched keys anti-joined through) is law-tested in Scd2Spec.
    */
  def e14Scd2History(s: SparkSession, dir: String): DataFrame = {
    val changes = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("value"))
    graft.etl.Scd2.build(changes, "user_id", "ts", Seq("value"))
      .select(col("user_id"), col("version"),
        ntz(col("valid_from")).as("valid_from"),
        ntz(col("valid_to")).as("valid_to"),
        col("value"), col("is_current"))
      .orderBy("user_id", "version")
  }

  /** A17: interval (range) join — per click, the same user's purchases in
    * the preceding hour. Plans as a sort-merge join on the user key with the
    * time-range predicate evaluated inside the merge — the equi-key bounds
    * the pairing, so no candidate explosion beyond each user's own events.
    * (The streaming face of this — stream-stream join under watermarks — is
    * exercised in StreamingSpec.)
    */
  def a17IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value").as("p_value"))
    clicks
      .join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("ts") - expr("INTERVAL 1 HOUR") && col("p_ts") <= col("ts"))
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_purchases"), dsum(col("p_value"), 6).as("sum_purchase_value"))
      .orderBy("event_id")
  }

  /** A17b: the KEYLESS range join — points (clicks) vs global intervals
    * (±30 min around every high-value purchase) with NO equi-key to hang a
    * hash/sort-merge join on. Spark's only native plan for this is a
    * nested-loop join (broadcast if one side is small, cartesian
    * otherwise) — O(points × intervals), which at 100 TB is the classic
    * range-join cliff. The scale rewrite is BINNING: bucket event-time
    * into fixed windows the size of the interval, explode each interval
    * into the ≤ 2 buckets it covers, and equi-join on the bucket with the
    * range predicate left as a residual filter. Each point lives in
    * exactly one bucket, so every qualifying (interval, point) pair is
    * produced exactly once — no post-join dedup. Cost drops from
    * O(P × I) to O(P + I + matches), shuffle is a plain hash exchange on
    * the bucket key, and AQE's skew handling applies to a hot hour like
    * any other hot key. (Same trick Databricks' range-join "bin" hint and
    * the interval-tree literature apply; composed here from stock
    * operators — `sequence` + `explode` + equi-join — so Catalyst still
    * owns the physical pick.) Bucket math is integral (`div` on epoch
    * micros), immune to double-rounding at bucket edges; PlanSpec pins
    * "no nested-loop, no cartesian" on this plan.
    */
  def a17bIntervalJoinBinned(s: SparkSession, dir: String): DataFrame = {
    val bucketUs = 3600000000L // 1-hour buckets = the interval length
    val halfUs = 1800000000L
    val ev = t(s, dir, "events")
    val iv = ev.filter(col("event_type") === "purchase" && col("value") >= 200)
      .select(col("event_id"),
        (unix_micros(col("ts")) - halfUs).as("lo"),
        (unix_micros(col("ts")) + halfUs).as("hi"))
      .withColumn("bucket",
        explode(sequence(expr(s"lo div $bucketUs"), expr(s"hi div $bucketUs"))))
    val pts = ev.filter(col("event_type") === "click")
      .select(unix_micros(col("ts")).as("c_us"), col("value").as("c_value"))
      .withColumn("bucket", expr(s"c_us div $bucketUs"))
    iv.join(pts, Seq("bucket"))
      .filter(col("c_us") >= col("lo") && col("c_us") <= col("hi"))
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_clicks"), dsum(col("c_value"), 6).as("sum_click_value"))
      .orderBy("event_id")
  }

  /** A14: correlated scalar subquery through the `spark.sql` text surface
    * (the engine's §3.3 entry point): parts whose lineitems fall under half
    * their part-average quantity — TPC-H Q17's shape. Catalyst decorrelates
    * the subquery into an aggregate + self-join; no per-row re-scan ever
    * happens (the naive reading of this SQL is O(n²)).
    *
    * Determinism note: AVG(l_quantity) is bit-identical across engines
    * because quantities are integral — the double sum is exact regardless
    * of order.
    */
  def a14CorrelatedSubquery(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    t(s, dir, "part").createOrReplaceTempView("part")
    s.sql(a14Sql)
  }

  private val a14Sql =
    """SELECT p.p_brand,
              CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) AS revenue,
              COUNT(*) AS n
       FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       WHERE l.l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                             FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
       GROUP BY p.p_brand
       ORDER BY p.p_brand"""

  /** A15: exact grouped quantiles (sort-based `percentile`, linear
    * interpolation) — the scale-out alternative is `percentile_approx`
    * (KLL-sketch-style, mergeable); both run as one aggregation.
    */
  def a15Quantiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        // ONE array-parameter percentile, not one aggregate per quantile:
        // each scalar `percentile` buffers every group value independently,
        // so the array form divides the sort/buffer cost by #quantiles
        expr("percentile(l_extendedprice, array(0.5, 0.95))").as("ps"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        element_at(col("ps"), 1).as("p50"),
        element_at(col("ps"), 2).as("p95"),
        col("n"))
      .orderBy("l_returnflag")

  /** A15b: approximate grouped quantiles via `percentile_approx`
    * (Greenwald–Khanna-style mergeable sketch) — the 100 TB path: each
    * reducer holds a bounded sketch instead of buffering every value the way
    * exact `percentile` (A15) does, so memory is O(accuracy), not O(rows).
    * The raw estimate wobbles run-to-run within the sketch's rank-error
    * bound (partial-merge order varies with scheduling), so it can never
    * join a hash-compare gate directly. The GATE query instead emits the
    * exact quantiles plus RANK-ERROR verdicts: accuracy 10000 guarantees
    * rank error ≤ 1/10000, and `p50_ok`/`p95_ok` assert the estimate lands
    * between the exact quantiles at ±0.001 rank (10× the contract — every
    * legal merge order passes; a broken sketch does not). DuckDB asserts
    * TRUE and computes the exact quantiles independently. All ten
    * aggregates run in ONE pass; production uses `approx_percentile`
    * alone.
    */
  def a15bQuantilesApprox(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        // array forms: ONE sketch buffer and ONE sort buffer per group —
        // scalar-per-quantile aggregates would buffer the group 8×
        expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 10000)")
          .as("ap"),
        expr(
          "percentile(l_extendedprice, array(0.499, 0.5, 0.501, 0.949, 0.95, 0.951))")
          .as("ep"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        element_at(col("ep"), 2).as("p50"),
        element_at(col("ep"), 5).as("p95"),
        col("n"),
        (element_at(col("ap"), 1) >= element_at(col("ep"), 1) &&
          element_at(col("ap"), 1) <= element_at(col("ep"), 3)).as("p50_ok"),
        (element_at(col("ap"), 2) >= element_at(col("ep"), 4) &&
          element_at(col("ap"), 2) <= element_at(col("ep"), 6)).as("p95_ok"))
      .orderBy("l_returnflag")

  /** A16: pivot — event-type counts fanned into columns. The value list is
    * explicit, so the plan is a single pass (no extra job to discover
    * columns) and the schema is stable at any scale.
    */
  def a16Pivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("user_id") +: types.map(tp => coalesce(col(tp), lit(0L)).as(tp)): _*)
      .orderBy("user_id")
  }

  /** A18: semi-structured extraction — parse the `props` JSON payload
    * (reference `events` rows carry opaque JSON attributes; the analytical
    * surface must reach into them without a pre-flattening ETL pass).
    * `get_json_object` is a codegen'd Catalyst expression — the extraction
    * runs inside the scan's WholeStageCodegen span, so at 100 TB this costs
    * one narrow map over the parquet scan plus a 5-row keyed aggregate.
    * Exactness: `$.k` values are integers, so sum/min/max are exact and the
    * avg is one int-over-int double division in both engines.
    */
  def a18JsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .withColumn("avg_k", col("sum_k").cast("double") / col("n"))
      .orderBy("event_type")

  /** A19: sequential conversion funnel — users who viewed, then clicked
    * strictly after their first view, then purchased strictly after that
    * first qualifying click. The classic product-analytics query the
    * reference's ad-hoc surface (§3.3) would be asked next.
    *
    * Shape: three chained user-keyed aggregates (each one shuffle on
    * `user_id`, the natural key a 100 TB event log is already partitioned
    * by), collapsed to three single-row counts that combine broadcast-only —
    * no self-join of the event log against itself, no per-user window over
    * the full history. Timestamps compare at microsecond precision in both
    * engines (events.parquet is TIMESTAMP(NANOS); `Tables` truncates, the
    * oracle CASTs).
    */
  def a19Funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val fv = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("f_view"))
    val fc = ev.filter(col("event_type") === "click")
      .join(fv, "user_id").filter(col("ts") > col("f_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("f_click"))
    val fp = ev.filter(col("event_type") === "purchase")
      .join(fc, "user_id").filter(col("ts") > col("f_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("f_purchase"))
    fv.agg(count(lit(1)).as("n1"))
      .crossJoin(fc.agg(count(lit(1)).as("n2")))
      .crossJoin(fp.agg(count(lit(1)).as("n3")))
      .selectExpr(
        """stack(3,
             CAST(1 AS BIGINT), 'view', n1, CAST(1.0 AS DOUBLE),
             CAST(2 AS BIGINT), 'click_after_view', n2, CAST(n2 AS DOUBLE) / n1,
             CAST(3 AS BIGINT), 'purchase_after_click', n3, CAST(n3 AS DOUBLE) / n2)
           AS (stage_idx, stage, n_users, conv_from_prev)""")
      .orderBy("stage_idx")
  }

  /** A20 — fixed-width histogram: order totals bucketed into 25k-wide bins
    * with per-bin count/mass/mean — the profiling query behind every data-
    * distribution dashboard. The bucket id is a narrow per-row projection
    * (floor of one division — no width_bucket builtin needed, and the
    * arithmetic is engine-portable IEEE), so the whole histogram is ONE
    * map-side-combined aggregate over ≤ ~20 groups: at 100 TB the shuffle
    * carries #partitions × #buckets rows, nothing more.
    */
  def a20Histogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("bucket", floor(col("o_totalprice") / lit(25000.0)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice"), 4).as("sum_price"))
      .select(col("bucket"), (col("bucket") * lit(25000.0)).as("bucket_lo"),
        col("n_orders"), col("sum_price"),
        (col("sum_price") / col("n_orders").cast("double")).as("avg_price"))
      .orderBy("bucket")

  /** A21 — cohort retention: users grouped by first-activity day, and for
    * every later day-offset the fraction of the cohort still active — the
    * canonical product-analytics query over an event log. Scale shape: ONE
    * corpus scan — the cohort day rides along as a window min over the
    * distinct (user, day) activity set instead of a separate aggregate-and-
    * join branch (which would re-scan the event log), and the cohort SIZE is
    * the matrix's own offset-0 count (every user is active on their cohort
    * day by construction), read back via a window over the tiny
    * #cohort-days × #offsets matrix — no second corpus pass, no join.
    * `count(1)` per (cohort_day, offset) counts distinct users exactly
    * because the input is distinct per (user, day) and day is determined by
    * (cohort_day, offset).
    */
  def a21RetentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val wUser = Window.partitionBy(col("user_id"))
    val wCohort = Window.partitionBy(col("cohort_day"))
      .orderBy(col("day_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .withColumn("cohort_day", min(col("day")).over(wUser))
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("active_users"))
      .withColumn("cohort_users", first(col("active_users")).over(wCohort))
      .select(col("cohort_day"), col("day_offset"), col("active_users"),
        col("cohort_users"),
        (col("active_users").cast("double") / col("cohort_users").cast("double"))
          .as("retention"))
      .orderBy("cohort_day", "day_offset")
  }

  /** A22 — gap-based sessionization: assign session ids by cumulative count
    * of >30-minute gaps per user, then per-session stats — the batch twin of
    * the streaming `session_window`/`sessionCloser` operators (A12c), and
    * the form every event-log warehouse actually materializes (a session ID
    * per event enables later joins; `session_window` only yields the
    * aggregate). One shuffle on the user key serves both windows AND the
    * final aggregate (lag and running-sum share the same sort; the groupBy
    * keys are a function of the partition key), so AQE plans exactly one
    * exchange before the presentation sort. Gap arithmetic is integer
    * microseconds (`unix_micros` ≙ DuckDB `epoch_us`) — no float time math.
    */
  def a22Sessionization(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      // > (strict): an event exactly gap after its predecessor still MERGES,
      // matching session_window's verified behavior on this Spark build (a
      // 30:00.000000 gap merges; only 30:00.000001 splits) and the streaming
      // sessionCloser's `t - last <= gapUs` merge test — one boundary
      // definition across all three session operators
      .withColumn("new_sess",
        (col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 30L * 60 * 1000000).cast("long"))
      .withColumn("session_id", sum(col("new_sess")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(ntz(col("ts"))).as("session_start"),
        max(ntz(col("ts"))).as("session_end"),
        count(lit(1)).as("n_events"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          .as("duration_us"))
      .orderBy("user_id", "session_id")
  }

  /** A23 — rolling 7-day active users via mergeable HLL sketches: per-day
    * Datasketches HLL sketches (`hll_sketch_agg`), then a sliding union
    * (`hll_union_agg` over a 7-row window) estimated per day. This is THE
    * pattern for rolling distincts at 100 TB — exact rolling
    * `countDistinct` needs every (user, day) pair carried across the whole
    * window (state explodes with the window length), while sketches reduce
    * each day to a fixed-size binary BEFORE the window: the corpus-scale
    * work is one day-keyed aggregate with map-side partials, and the window
    * slides over #days sketch rows on one partition — fine, because that
    * input is already thousands of rows, not billions. The same sketch
    * column is what an incremental pipeline would persist and merge across
    * batches. Sketch estimates are engine-specific, so the GATE query emits
    * the exact rolling twin plus a contract VERDICT (|approx − exact| ≤
    * 5% · exact ≈ 3σ of the lgK-12 sketch) instead of the raw estimate —
    * DuckDB recomputes the exact side and asserts TRUE, upgrading this
    * from rows-only to a bounds-checked oracle row. The exact twin is
    * gate-scale instrumentation with a SCALABLE shape of its own — each
    * distinct (user, day) pair explodes into the ≤ 7 window days it
    * covers (linear fan-out, map-side-combined count-distinct; never a
    * nested-loop range join) — but production persists sketches only.
    */
  def a23RollingActiveUsers(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        countDistinct(col("user_id")).as("active_1d_exact"))
    // RANGE over an epoch-day number, not ROWS: a calendar day with zero
    // events must still age older days out of the 7-day frame (a ROWS frame
    // would silently widen across ingest gaps)
    val w7 = Window.orderBy(col("day_n")).rangeBetween(-6, 0)
    val approx = daily
      .withColumn("day_n", datediff(col("day"), to_date(lit("1970-01-01"))))
      .withColumn("active_7d_approx",
        hll_sketch_estimate(hll_union_agg(col("sk")).over(w7)))
      .select(col("day"), col("active_1d_exact"), col("active_7d_approx"))
    val exact7 = t(s, dir, "events")
      .select(to_date(col("ts")).as("uday"), col("user_id")).distinct()
      .select(explode(expr("sequence(uday, date_add(uday, 6))")).as("day"),
        col("user_id"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("active_7d_exact"))
    approx.join(exact7, Seq("day"))
      .select(col("day"), col("active_1d_exact"), col("active_7d_exact"),
        (abs(col("active_7d_approx") - col("active_7d_exact").cast("double"))
          <= col("active_7d_exact").cast("double") * 0.05).as("approx_7d_ok"))
      .orderBy("day")
  }

  /** A24 — first-order Markov transition matrix over the event stream:
    * per-user next-event via `lead` (ordered by (ts, event_id) — the unique
    * tiebreaker makes the sequence, and therefore the hash gate, total-order
    * deterministic), then one (from, to)-keyed count and a row-normalized
    * transition probability. The behavioral-model summary behind funnel
    * mining and anomaly detection. Scale shape: ONE user-keyed exchange for
    * the lead window (the same partitioning A22/A7 use), a map-side-combined
    * aggregate to ≤ |types|² rows, and a window over that constant-size
    * matrix — the normalizing sum never sees corpus-scale rows. The only
    * division is the final int/int probability, IEEE-identical across
    * engines.
    */
  def a24MarkovTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val byFrom = Window.partitionBy(col("from_type"))
    t(s, dir, "events")
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_from", sum(col("n")).over(byFrom))
      .withColumn("p", col("n").cast("double") / col("n_from").cast("double"))
      .orderBy("from_type", "to_type")
  }

  /** A25 — per-type inter-arrival quantiles: for each (user, event_type)
    * stream, the µs gap between consecutive events (lag over the
    * (ts, event_id) total order), then exact p50/p95 per event type — the
    * cadence profile behind rate-anomaly and bot detection. Gap math is
    * integer µs (`unix_micros` ≙ DuckDB `epoch_us`); `percentile` ≙
    * `quantile_cont` (both linear-interpolation, exact on integer inputs —
    * the A15 parity recipe).
    *
    * Scale shape: ONE (user, type)-keyed exchange for the lag window, then
    * a #types-group aggregate. Exact `percentile` buffers each type's gaps
    * on its reducer — the declared-exact variant, like A15; at 100 TB the
    * same plan swaps in `approx_percentile` (A15b's mergeable sketch,
    * O(accuracy) reducer state) with no shape change.
    */
  def a25InterarrivalQuantiles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_gaps"),
        // one array-percentile buffer per group, not one per quantile
        expr("percentile(gap_us, array(0.5, 0.95))").as("ps"),
        max(col("gap_us")).as("max_us"))
      .select(col("event_type"), col("n_gaps"),
        element_at(col("ps"), 1).as("p50_us"),
        element_at(col("ps"), 2).as("p95_us"),
        col("max_us"))
      .orderBy("event_type")
  }

  /** C7 — deterministic epoch shuffle + shard assignment (the step between
    * a curated corpus and a training run: every epoch needs a DIFFERENT
    * global permutation of documents, materialized as N shard files whose
    * sizes must balance or the slowest trainer rank gates the epoch).
    * Shard = md5(doc_id ":" epoch) mod 64 — re-keying by epoch IS the
    * shuffle, no RNG state anywhere, any worker can recompute any
    * assignment (crash-safe by construction). Emits the per-(epoch, shard)
    * audit row: doc/token load and each shard's share of the epoch's
    * tokens, the number a training launch checks before spending GPU time.
    *
    * Scale shape: the corpus is read ONCE (epochs fan out per row from a
    * literal array — 3 epochs ⇒ 3× map-side rows, no extra scan), the
    * aggregate map-side-combines to epochs×64 rows, and the share window
    * runs over those 192 rows. Nothing corpus-scale ever shuffles: at
    * 100 TB the real shard WRITE is `partitionBy(epoch, shard)` on exactly
    * this key — this query is that write's planning/audit pass.
    */
  def c7EpochShardAssign(s: SparkSession, dir: String, epochs: Int = 3,
      shards: Int = 64): DataFrame = {
    val byEpoch = Window.partitionBy(col("epoch"))
    t(s, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("epoch",
        explode(expr(s"sequence(CAST(0 AS BIGINT), CAST(${epochs - 1} AS BIGINT))")))
      .withColumn("shard",
        conv(substring(md5(concat_ws(":", col("doc_id"), col("epoch"))), 1, 15),
          16, 10).cast("long") % shards)
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("shard_tokens"))
      .withColumn("token_share",
        col("shard_tokens").cast("double") /
          sum(col("shard_tokens")).over(byEpoch).cast("double"))
      .orderBy("epoch", "shard")
  }

  /** The C-family blended quality score (shared by C1 and C3 so their
    * semantics cannot diverge); requires a `toks = split(text, ' ')` column
    * alongside `text`.
    */
  val qualityScoreExpr: Column =
    (length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") /
      length(col("text"))) * 0.5 +
      (expr("CAST(size(filter(toks, x -> array_contains(array('the','a','of','and','to','is','in'), x))) AS BIGINT)")
        .cast("double") / size(col("toks"))) * 0.3 +
      when(size(col("toks")).between(20, 200), 0.2).otherwise(0.0)

  /** Deterministic hash-mod percentile of `doc_id` (shared by C2 and C3). */
  val samplePctExpr: Column =
    conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 100

  /** Per-language keep rate (shared by C2 and C3). */
  val sampleRateExpr: Column =
    when(col("lang") === "en", 80)
      .when(col("lang") === "de", 50)
      .when(col("lang") === "es", 25)
      .otherwise(10)

  /** C1: composed corpus curation — the end-to-end shape of a training-data
    * pipeline: quality-filter (text heuristics) → exact-dedup to the
    * canonical copy → deterministic hash-mod sampling (reproducible
    * train/holdout splits without RNG state). One narrow pass + one
    * dedup shuffle; the sample predicate pushes into the same stage.
    */
  def c1Curation(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("quality_score", qualityScoreExpr)
      .filter(col("quality_score") >= 0.6)
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("quality_score")).as("quality_score"))
      .filter(
        conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("long") % 10 < 8)
      .select(col("doc_id"), col("quality_score"))
      .orderBy("doc_id")

  /** C2 — deterministic stratified sampling: per-language keep-rates applied
    * via hash-mod on the document id (no RNG state → reproducible across
    * engines, re-runs, and cluster sizes; `sampleBy` would be none of
    * those). The predicate is a narrow map — the sample never shuffles.
    */
  def c2StratifiedSample(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(samplePctExpr < sampleRateExpr)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy("lang")

  /** C8 — curriculum difficulty binning: equal-count NTILE(k) tiles over
    * the corpus-wide (n_chars, doc_id) total order — the length-ordered
    * curriculum cut every staged-training pipeline needs, plus per-bin
    * audit stats. The load-bearing part is HOW the tile is computed:
    * Spark's `ntile(k) OVER (ORDER BY ...)` with no PARTITION BY plans a
    * single-partition Window — the whole corpus through one task — so the
    * face registers [[graft.plans.GlobalRankRule]], which rewrites that
    * stock window into the distributed two-pass rank
    * ([[graft.plans.GlobalRankExec]]: range exchange + per-partition
    * offsets), SQL NTILE semantics bit-for-bit with no single-task stage.
    * The oracle runs DuckDB's native ntile — agreement proves the
    * distributed rewrite IS the window semantics.
    */
  def c8CurriculumBins(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    graft.plans.GlobalRank.ensureRegistered(s)
    t(s, dir, "documents").select(
        col("doc_id"), col("n_chars"), col("lang"), col("source"))
      .withColumn("bin", ntile(k).over(Window.orderBy(col("n_chars"), col("doc_id"))))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("bin")
  }

  /** C8b: the SAME curriculum-bin aggregate as c8, but the ranking is the
    * RAW SQL every user writes — `ntile(10) OVER (ORDER BY n_chars,
    * doc_id)` with no PARTITION BY. [[graft.plans.GlobalRankRule]]
    * rewrites it exactly as it rewrites c8's DataFrame window, so both
    * faces plan the same [[graft.plans.GlobalRankExec]]. Oracle: DuckDB's
    * native window ntile — two engines, two ntile implementations (one
    * single-node, one distributed), one hash. PlanSpec pins that the plan
    * carries GlobalRank and NO Window.
    */
  def c8bCurriculumBinsSql(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GlobalRank.ensureRegistered(s)
    t(s, dir, "documents").select(
        col("doc_id"), col("n_chars"), col("lang"), col("source"))
      .createOrReplaceTempView("c8b_documents")
    s.sql(
      """SELECT bin, COUNT(*) AS n_docs,
                MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
                SUM(n_chars) AS sum_chars,
                COUNT(DISTINCT lang) AS n_langs,
                COUNT(DISTINCT source) AS n_sources
         FROM (SELECT doc_id, n_chars, lang, source,
                      ntile(10) OVER (ORDER BY n_chars, doc_id) AS bin
               FROM c8b_documents)
         GROUP BY bin ORDER BY bin""")
  }

  /** E15: the raw-SQL RUNNING TOTAL — `SUM(x) OVER (ORDER BY ts)` — the
    * single most common financial prefix query, and until round 8 the
    * most common shape that still planned the single-partition Window.
    * [[graft.plans.GlobalRankRule]] now rewrites global prefix aggregates:
    * per-partition partials ride the SAME stats job as the rank offsets,
    * each partition folds forward from its carry, and the SQL-default
    * RANGE frame's peer-inclusive value is resolved at tie-run close with
    * the trailing run's forward chain stitched through the driver.
    * Ties are REAL here (≈6 orders share each o_orderdate), so peers
    * sharing one run-end value is exactly what DuckDB must agree with.
    * Oracle parity discipline: accumulate in DECIMAL (order-independent),
    * output DOUBLE (§oracle-parity rules).
    */
  def e15RunningTotalSql(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GlobalRank.ensureRegistered(s)
    t(s, dir, "orders").createOrReplaceTempView("e15_orders")
    s.sql(
      """SELECT o_orderkey,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4)))
                     OVER (ORDER BY o_orderdate) AS DOUBLE) AS run_total,
                COUNT(*) OVER (ORDER BY o_orderdate) AS n_seen
         FROM e15_orders ORDER BY o_orderkey""")
  }

  /** E16: running MIN/MAX/COUNT over an explicit ROWS frame on a TOTAL
    * order — the per-row prefix lane of the same rewrite (no tie
    * buffering: every value resolves at arrival, fully streaming). The
    * ROWS/RANGE pair (e15/e16) pins both frame semantics against DuckDB's
    * native window engine.
    */
  def e16RunningMinmaxSql(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GlobalRank.ensureRegistered(s)
    t(s, dir, "orders").createOrReplaceTempView("e16_orders")
    s.sql(
      """SELECT o_orderkey,
                CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS run_min,
                CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS run_max,
                COUNT(*) OVER w AS n_seen
         FROM e16_orders
         WINDOW w AS (ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY o_orderkey""")
  }

  /** E18: raw-SQL positional window values + the DECIMAL running average —
    * `first_value`/`last_value`/`nth_value` over a global ORDER BY and
    * `AVG(DECIMAL) OVER (ORDER BY day)` (tie runs!), the shapes that used
    * to sit on [[graft.plans.GlobalRankRule]]'s reject list and fall off
    * the single-partition-Window cliff. Exactness: the decimal average is
    * Spark's own chain (exact decimal sum ÷ count at scale 38, one HALF_UP
    * rounding to decimal(25,8), cast to double); the oracle reproduces it
    * in HUGEINT unit arithmetic — integer divide + explicit half-up — so
    * the doubles are bit-identical. The positional values are raw column
    * reads, no arithmetic at all.
    */
  def e18FirstLastSql(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GlobalRank.ensureRegistered(s)
    t(s, dir, "orders").createOrReplaceTempView("e18_orders")
    s.sql(
      """SELECT o_orderkey,
                first_value(o_totalprice) OVER w AS first_px,
                last_value(o_totalprice) OVER w AS last_px,
                nth_value(o_totalprice, 5) OVER w AS fifth_px,
                CAST(AVG(CAST(o_totalprice AS DECIMAL(21,4))) OVER wd AS DOUBLE)
                  AS run_avg_day
         FROM e18_orders
         WINDOW w AS (ORDER BY o_orderdate, o_orderkey),
                wd AS (ORDER BY o_orderdate)
         ORDER BY o_orderkey""")
  }

  /** E19: the global VALUE-bounded moving window —
    * `RANGE BETWEEN 6 PRECEDING AND CURRENT ROW` over the order-date day
    * number (a 7-day trailing total/average that follows the CALENDAR, not
    * the row count — sparse days shrink the frame, which no ROWS frame can
    * express). Spark's native plan for this shape is the single-partition
    * Window cliff and the value-bounded frame cannot ride the sliding
    * exec's row-bounded ring, so the stock `rangeBetween` window is
    * rewritten by [[graft.plans.RangeSlidingRule]]'s ghost-probe
    * subtraction: one distributed running window over rows ∪ null-valued
    * threshold ghosts, one keyed window delivering each threshold prefix,
    * exact decimal difference. e19b is the same window in raw SQL. Oracle
    * = DuckDB's native RANGE window engine over the identical day numbers.
    */
  def e19RangeSliding(s: SparkSession, dir: String): DataFrame =
    rangeSumCount(s, dir, -6L, 0L)

  /** The calendar-frame total/count/average of e19 and e21: `sum`/`count`
    * over `RANGE BETWEEN lo AND hi` on the order-date day number, with the
    * average as one IEEE division of the exact total by the exact count.
    */
  private def rangeSumCount(s: SparkSession, dir: String, lo: Long, hi: Long): DataFrame = {
    graft.plans.GlobalRank.ensureRegistered(s)
    val sw = Window.orderBy(col("dnum")).rangeBetween(lo, hi)
    t(s, dir, "orders").select(col("o_orderkey"),
        datediff(col("o_orderdate"), to_date(lit("1992-01-01"))).cast("long").as("dnum"),
        col("o_totalprice").cast("decimal(25,4)").as("px"))
      .withColumn("frame_total", sum(col("px")).over(sw).cast("double"))
      .withColumn("frame_cnt", count(col("px")).over(sw))
      .withColumn("frame_avg", col("frame_total") / col("frame_cnt").cast("double"))
      .select("o_orderkey", "frame_total", "frame_cnt", "frame_avg")
      .orderBy("o_orderkey")
  }

  /** E19b — the RAW-SQL face of e19: the identical calendar-valued moving
    * window written as the natural SQL (`RANGE BETWEEN 6 PRECEDING AND
    * CURRENT ROW`), auto-rewritten by [[graft.plans.RangeSlidingRule]]
    * into the same ghost-probe composition as e19's DataFrame window — no
    * cliff. Same oracle discipline as e19.
    */
  def e19bRangeSlidingSql(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GlobalRank.ensureRegistered(s)
    t(s, dir, "orders").createOrReplaceTempView("e19b_orders")
    s.sql(
      """SELECT o_orderkey,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) OVER win AS DOUBLE)
                  AS frame_total,
                COUNT(*) OVER win AS frame_cnt,
                CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) OVER win AS DOUBLE)
                     / (COUNT(*) OVER win) AS DOUBLE) AS frame_avg
         FROM (SELECT o_orderkey, o_totalprice,
                      CAST(datediff(o_orderdate, DATE'1992-01-01') AS BIGINT) AS dnum
               FROM e19b_orders)
         WINDOW win AS (ORDER BY dnum RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY o_orderkey""")
  }

  /** E19c — the RAW-SQL decimal AVERAGE over the calendar frame:
    * `AVG(DECIMAL) OVER (ORDER BY dnum RANGE BETWEEN 6 PRECEDING AND
    * CURRENT ROW)` — the natural text e19b's rewrite used to leave on the
    * cliff. [[graft.plans.RangeSlidingRule]] now carries AVG through an
    * exact sum lane at Spark's own avg buffer type + a count lane,
    * emitting through the REAL `Average.evaluateExpression` (scale-38
    * decimal division, ONE HALF_UP rounding — the e18 arithmetic), so the
    * double is bit-identical to the stock window; the oracle reproduces
    * it in HUGEINT unit arithmetic like e18's.
    */
  def e19cRangeAvgSql(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GlobalRank.ensureRegistered(s)
    t(s, dir, "orders").createOrReplaceTempView("e19c_orders")
    s.sql(
      """SELECT o_orderkey,
                CAST(AVG(CAST(o_totalprice AS DECIMAL(21,4))) OVER win AS DOUBLE)
                  AS frame_avg
         FROM (SELECT o_orderkey, o_totalprice,
                      CAST(datediff(o_orderdate, DATE'1992-01-01') AS BIGINT) AS dnum
               FROM e19c_orders)
         WINDOW win AS (ORDER BY dnum RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY o_orderkey""")
  }

  /** E20: the global VALUE-bounded moving MIN/MAX — extrema have no
    * inverse, so e19's ghost-probe subtraction cannot carry them; the
    * stock `rangeBetween` window is rewritten by
    * [[graft.plans.RangeMinMaxRule]]'s SPARSE-BLOCK decomposition instead
    * (bucket keys by the frame length; per-bucket suffix + prefix extrema
    * as PARTITIONED windows; each frame = the combine of its two bucket
    * parts — keyed exchanges only, no single-partition cliff). Oracle =
    * DuckDB's native RANGE window engine; min/max are raw column reads,
    * so the doubles are bit-identical by construction.
    */
  def e20RangeMinmax(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GlobalRank.ensureRegistered(s)
    val sw = Window.orderBy(col("dnum")).rangeBetween(-6L, 0L)
    t(s, dir, "orders").select(col("o_orderkey"),
        datediff(col("o_orderdate"), to_date(lit("1992-01-01"))).cast("long").as("dnum"),
        col("o_totalprice").cast("decimal(18,2)").as("px"))
      .withColumn("frame_min", min(col("px")).over(sw).cast("double"))
      .withColumn("frame_max", max(col("px")).over(sw).cast("double"))
      .select("o_orderkey", "frame_min", "frame_max")
      .orderBy("o_orderkey")
  }

  /** E20b — E20's RAW-SQL face with a FOLLOWING end: the natural
    * `MIN/MAX OVER (ORDER BY dnum RANGE BETWEEN 6 PRECEDING AND 3
    * FOLLOWING)` is auto-rewritten by [[graft.plans.RangeMinMaxRule]]
    * into the same block decomposition (the prefix side riding a ghost
    * probe at k + 3) — no cliff.
    */
  def e20bRangeMinmaxSql(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GlobalRank.ensureRegistered(s)
    t(s, dir, "orders").createOrReplaceTempView("e20b_orders")
    s.sql(
      """SELECT o_orderkey,
                CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) OVER win AS DOUBLE)
                  AS frame_min,
                CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) OVER win AS DOUBLE)
                  AS frame_max
         FROM (SELECT o_orderkey, o_totalprice,
                      CAST(datediff(o_orderdate, DATE'1992-01-01') AS BIGINT) AS dnum
               FROM e20b_orders)
         WINDOW win AS (ORDER BY dnum RANGE BETWEEN 6 PRECEDING AND 3 FOLLOWING)
         ORDER BY o_orderkey""")
  }

  /** E21: the CENTERED calendar moving total/average —
    * `RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING` (the pandas
    * `rolling(center=True)` shape; a 7-day window centered on each day).
    * [[graft.plans.RangeSlidingRule]] carries the FOLLOWING end with a
    * SECOND ghost family at the inclusive upper threshold k + 3: frame =
    * prefix(k + 3, peer-incl) − prefix(k − 4) — still one distributed
    * running window. Oracle = DuckDB's native RANGE window engine.
    */
  def e21RangeCentered(s: SparkSession, dir: String): DataFrame =
    rangeSumCount(s, dir, -3L, 3L)

  /** E21b — E21's RAW-SQL face plus the decimal AVG lane: the natural
    * centered-window SQL auto-rewritten by
    * [[graft.plans.RangeSlidingRule]]'s two-ghost-family path; the AVG
    * double is Spark's own decimal avg arithmetic, oracle-reproduced in
    * HUGEINT units (the e18/e19c discipline).
    */
  def e21bRangeCenteredSql(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GlobalRank.ensureRegistered(s)
    t(s, dir, "orders").createOrReplaceTempView("e21b_orders")
    s.sql(
      """SELECT o_orderkey,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) OVER win AS DOUBLE)
                  AS frame_total,
                COUNT(*) OVER win AS frame_cnt,
                CAST(AVG(CAST(o_totalprice AS DECIMAL(25,4))) OVER win AS DOUBLE)
                  AS frame_avg
         FROM (SELECT o_orderkey, o_totalprice,
                      CAST(datediff(o_orderdate, DATE'1992-01-01') AS BIGINT) AS dnum
               FROM e21b_orders)
         WINDOW win AS (ORDER BY dnum RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
         ORDER BY o_orderkey""")
  }

  /** E22: RUNNING multi-argument statistics — `covar_pop(x, y)` and
    * `corr(x, y)` over a global ORDER BY — the last documented
    * GlobalRank scope exclusion, closed by COMPOSITION rather than a new
    * exec lane: the five sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²)
    * are plain DECIMAL prefix sums, each auto-rewritten by
    * [[graft.plans.GlobalRankRule]] into the distributed exec (one range
    * exchange feeds ALL lanes), and the covariance/correlation are
    * per-row DOUBLE arithmetic on exact operands — bit-identical across
    * engines (the e6/e7 discipline, applied to the running case). Spark's
    * native `COVAR_POP OVER` stays stock BY DOCTRINE: its double Welford
    * accumulation is order-dependent fp, so an auto-rewrite could not be
    * bit-compatible (the PlanChecks remediation points here instead).
    * Types: x = decimal(18,2) price, y = decimal(9,0) day number —
    * products at decimal(28,2), prefix sums exact in both engines.
    */
  def e22RunningCovarSql(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GlobalRank.ensureRegistered(s)
    t(s, dir, "orders").createOrReplaceTempView("e22_orders")
    s.sql(
      """WITH o AS (
           SELECT o_orderkey,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS x,
                  CAST(CAST(datediff(o_orderdate, DATE'1992-01-01') AS BIGINT)
                       AS DECIMAL(9,0)) AS y
           FROM e22_orders),
         p AS (
           SELECT o_orderkey,
                  COUNT(*) OVER w AS n,
                  CAST(SUM(x) OVER w AS DOUBLE) AS sx,
                  CAST(SUM(y) OVER w AS DOUBLE) AS sy,
                  CAST(SUM(x * y) OVER w AS DOUBLE) AS sxy,
                  CAST(SUM(x * x) OVER w AS DOUBLE) AS sxx,
                  CAST(SUM(y * y) OVER w AS DOUBLE) AS syy
           FROM o
           WINDOW w AS (ORDER BY o_orderkey))
         SELECT o_orderkey, n,
                (sxy - sx * sy / n) / n AS run_covar_pop,
                CASE WHEN n > 1 AND (n * sxx - sx * sx) > 0
                          AND (n * syy - sy * sy) > 0
                     THEN (n * sxy - sx * sy)
                          / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                     ELSE NULL END AS run_corr
         FROM p ORDER BY o_orderkey""")
  }

  /** E23: the CENTERED ROW-COUNT window — `ROWS BETWEEN 6 PRECEDING AND 3
    * FOLLOWING` over a total order, ALL FIVE aggregate families in ONE
    * window. [[graft.plans.RowsFollowingRule]] lowers the natural SQL to
    * the padded lead-of-trailing-slide cascade: `lead(·, 3)` of a trailing
    * `ROWS 9 PRECEDING` slide over the input padded with 3 all-null rows,
    * two stacked GlobalRank execs over one range exchange. Oracle =
    * DuckDB's native ROWS window engine (AVG in HUGEINT units, the e18
    * discipline).
    */
  def e23RowsCenteredSql(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GlobalRank.ensureRegistered(s)
    t(s, dir, "orders").createOrReplaceTempView("e23_orders")
    s.sql(
      """SELECT o_orderkey,
                CAST(SUM(px) OVER w AS DOUBLE) AS c_total,
                COUNT(*) OVER w AS c_cnt,
                CAST(AVG(px) OVER w AS DOUBLE) AS c_avg,
                CAST(MIN(px2) OVER w AS DOUBLE) AS c_min,
                CAST(MAX(px2) OVER w AS DOUBLE) AS c_max
         FROM (SELECT o_orderkey, o_orderdate,
                      CAST(o_totalprice AS DECIMAL(25,4)) AS px,
                      CAST(o_totalprice AS DECIMAL(18,2)) AS px2
               FROM e23_orders)
         WINDOW w AS (ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 6 PRECEDING AND 3 FOLLOWING)
         ORDER BY o_orderkey""")
  }

  /** E23b — e23's DataFrame face: the same centered ROWS window as stock
    * `over(Window.orderBy(…).rowsBetween(-6, 3))` expressions, planned by
    * the same [[graft.plans.RowsFollowingRule]] cascade. Same DuckDB
    * oracle as e23: the two faces must be value-identical.
    */
  def e23bRowsCenteredLib(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GlobalRank.ensureRegistered(s)
    val w = Window.orderBy(col("o_orderdate"), col("o_orderkey")).rowsBetween(-6, 3)
    t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice").cast("decimal(25,4)").as("px"),
        col("o_totalprice").cast("decimal(18,2)").as("px2"))
      .select(col("o_orderkey"),
        sum(col("px")).over(w).cast("double").as("c_total"),
        count(lit(1)).over(w).as("c_cnt"),
        avg(col("px")).over(w).cast("double").as("c_avg"),
        min(col("px2")).over(w).cast("double").as("c_min"),
        max(col("px2")).over(w).cast("double").as("c_max"))
      .orderBy("o_orderkey")
  }

  /** E24: the LATEST-FIRST calendar sliding window — the same
    * value-bounded frame family as e19b/e20b but over `ORDER BY dnum
    * DESC`, the most natural "most recent first" SQL a market analyst
    * writes. [[graft.plans.DescOrderRule]] canonicalizes the order to
    * ASC NULLS FIRST over the bitwise-NOT key (`~k − ~k' = k' − k`, so
    * the literal RANGE bounds carry over unchanged), and the existing
    * families distribute the node on the same fixed-point batch: the
    * minmax block split peels MIN/MAX, the ghost-probe subtraction takes
    * SUM/COUNT — one natural DESC text, no cliff. Oracle = DuckDB's
    * native RANGE window engine on the identical DESC order.
    */
  def e24DescSlidingSql(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GlobalRank.ensureRegistered(s)
    t(s, dir, "orders").createOrReplaceTempView("e24_orders")
    s.sql(
      """SELECT o_orderkey,
                CAST(SUM(px) OVER win AS DOUBLE) AS frame_total,
                COUNT(*) OVER win AS frame_cnt,
                CAST(MIN(px2) OVER win AS DOUBLE) AS frame_min,
                CAST(MAX(px2) OVER win AS DOUBLE) AS frame_max
         FROM (SELECT o_orderkey,
                      CAST(o_totalprice AS DECIMAL(25,4)) AS px,
                      CAST(o_totalprice AS DECIMAL(18,2)) AS px2,
                      CAST(datediff(o_orderdate, DATE'1992-01-01') AS BIGINT) AS dnum
               FROM e24_orders)
         WINDOW win AS (ORDER BY dnum DESC RANGE BETWEEN 6 PRECEDING AND 2 FOLLOWING)
         ORDER BY o_orderkey""")
  }

  /** E24b: the LATEST-FIRST centered ROW-COUNT window — e23's shape over
    * a fully DESCENDING multi-column total order. GlobalRankExec is
    * direction-agnostic, so [[graft.plans.RowsFollowingRule]] lowers the
    * DESC text to the same padded cascade as e23 with no order
    * canonicalization. Oracle = DuckDB's native ROWS window engine on the
    * identical DESC order.
    */
  def e24bDescRowsSql(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GlobalRank.ensureRegistered(s)
    t(s, dir, "orders").createOrReplaceTempView("e24b_orders")
    s.sql(
      """SELECT o_orderkey,
                CAST(SUM(px) OVER w AS DOUBLE) AS c_total,
                COUNT(*) OVER w AS c_cnt,
                CAST(MIN(px2) OVER w AS DOUBLE) AS c_min,
                CAST(MAX(px2) OVER w AS DOUBLE) AS c_max
         FROM (SELECT o_orderkey,
                      CAST(o_totalprice AS DECIMAL(25,4)) AS px,
                      CAST(o_totalprice AS DECIMAL(18,2)) AS px2,
                      CAST(datediff(o_orderdate, DATE'1992-01-01') AS BIGINT) AS dnum
               FROM e24b_orders)
         WINDOW w AS (ORDER BY dnum DESC, o_orderkey DESC
                      ROWS BETWEEN 6 PRECEDING AND 3 FOLLOWING)
         ORDER BY o_orderkey""")
  }

  /** E24c — e24b's DataFrame face: the same latest-first centered ROWS
    * window as stock `over(...)` expressions on the DESC multi-column
    * order, planned by the same [[graft.plans.RowsFollowingRule]]
    * cascade. Same DuckDB oracle as e24b: the two faces must be
    * value-identical.
    */
  def e24cDescRowsLib(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GlobalRank.ensureRegistered(s)
    val w = Window.orderBy(col("dnum").desc, col("o_orderkey").desc).rowsBetween(-6, 3)
    t(s, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(25,4)").as("px"),
        col("o_totalprice").cast("decimal(18,2)").as("px2"),
        expr("CAST(datediff(o_orderdate, DATE'1992-01-01') AS BIGINT)").as("dnum"))
      .select(col("o_orderkey"),
        sum(col("px")).over(w).cast("double").as("c_total"),
        count(lit(1)).over(w).as("c_cnt"),
        min(col("px2")).over(w).cast("double").as("c_min"),
        max(col("px2")).over(w).cast("double").as("c_max"))
      .orderBy("o_orderkey")
  }

  /** E25: the SUFFIX frame — `ROWS BETWEEN CURRENT ROW AND UNBOUNDED
    * FOLLOWING` over a global total order: the "remaining total / final
    * value from here on" SQL (a trader's remaining-day volume, a
    * curriculum's remaining-shard mass). [[graft.plans.SuffixFrameRule]]
    * REVERSES the node — a suffix frame over an order is a running
    * prefix over the reversed order, `first_value ↔ last_value` — and
    * [[graft.plans.GlobalRankRule]] distributes the reversed running
    * aggregates directly (its exec is direction-agnostic), where stock
    * Spark plans the one-task cliff. Oracle = DuckDB's native window
    * engine on the identical suffix-frame text.
    */
  def e25SuffixFramesSql(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GlobalRank.ensureRegistered(s)
    t(s, dir, "orders").createOrReplaceTempView("e25_orders")
    s.sql(
      """SELECT o_orderkey,
                CAST(SUM(px) OVER w AS DOUBLE) AS remaining_total,
                COUNT(*) OVER w AS remaining_cnt,
                CAST(MIN(px2) OVER w AS DOUBLE) AS remaining_min,
                CAST(MAX(px2) OVER w AS DOUBLE) AS remaining_max,
                CAST(LAST_VALUE(px2) OVER w AS DOUBLE) AS final_px
         FROM (SELECT o_orderkey, o_orderdate,
                      CAST(o_totalprice AS DECIMAL(25,4)) AS px,
                      CAST(o_totalprice AS DECIMAL(18,2)) AS px2
               FROM e25_orders)
         WINDOW w AS (ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         ORDER BY o_orderkey""")
  }

  /** E17: the raw-SQL GLOBAL MOVING TOTAL/AVERAGE —
    * `SUM(x) OVER (ORDER BY … ROWS BETWEEN k PRECEDING AND CURRENT ROW)`.
    * [[graft.plans.GlobalRankRule]] rewrites the sliding frame into a
    * retract-based windowed accumulator riding the shift family's ring +
    * driver-stitched boundary values (no carry, no tie buffering, emission
    * at arrival — fully streaming); the moving average is the plain
    * division of the two window outputs, outside any window; moving
    * MIN/MAX ride the monotonic-deque lane of the same rewrite. Decimal
    * accumulation keeps the retractions exact (a double window would
    * drift from the stock recompute-per-frame semantics).
    */
  def e17MovingTotalSql(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GlobalRank.ensureRegistered(s)
    t(s, dir, "orders").createOrReplaceTempView("e17_orders")
    s.sql(
      """SELECT o_orderkey,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) OVER w AS DOUBLE) AS mov_total,
                COUNT(*) OVER w AS n_window,
                CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) OVER w AS DOUBLE)
                     / (COUNT(*) OVER w) AS DOUBLE) AS mov_avg,
                CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS mov_min,
                CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS mov_max
         FROM e17_orders
         WINDOW w AS (ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY o_orderkey""")
  }

  /** C8c: raw-SQL `CUME_DIST() OVER (ORDER BY n_chars)` — the FORWARD
    * tie-aware rank (value = tie-run END / total), c8b's sibling now that
    * [[graft.plans.GlobalRankExec]] stitches forward chains (each
    * partition's leading-run length travels right-to-left through the
    * driver). n_chars is heavily tied, so runs genuinely span range
    * partitions at every scale point. Oracle: DuckDB's native cume_dist —
    * the double is an exact integer ratio, so the hash compare is
    * bit-stable.
    */
  def c8cCumeDistSql(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GlobalRank.ensureRegistered(s)
    t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      .createOrReplaceTempView("c8c_documents")
    s.sql(
      """SELECT doc_id, CUME_DIST() OVER (ORDER BY n_chars) AS cd
         FROM c8c_documents ORDER BY doc_id""")
  }

  /** A26 — low-cardinality skew join, salted: enrich every event with its
    * event_type's corpus-wide mean and deviation. The join key has ~10
    * distinct values over the whole fact table — the one skew shape AQE's
    * skew-join split cannot save, because splitting a partition still leaves
    * every row of a hot KEY on reducers that must all see the same build
    * row. [[graft.operators.SkewJoin.saltedEquiJoin]] fans each key across
    * 16 salted reducers (salt from `event_id`, never the key); the build
    * side is the 10-row per-type stats frame, so its ×16 replication is
    * free. The salt is dropped before projection — same rows, same columns
    * as the unsalted join, which is exactly what the oracle states.
    * `shuffle_merge` is forced so the spec pins the large-join path the
    * salt exists for (broadcast would of course win at THIS build size;
    * at 100 TB the build side is a per-key×per-day stats table that
    * doesn't broadcast).
    *
    * Determinism: type_avg accumulates in decimal (order-independent),
    * final double division and subtraction are single IEEE ops.
    */
  def a26SaltedSkewJoin(s: SparkSession, dir: String, salts: Int = 16): DataFrame = {
    val ev = t(s, dir, "events")
    val typeStats = ev.groupBy(col("event_type"))
      .agg((sum(col("value").cast("decimal(25,6)")).cast("double") /
        count(lit(1)).cast("double")).as("type_avg"))
    graft.operators.SkewJoin.saltedEquiJoin(
        ev.select(col("event_id"), col("event_type"), col("value")),
        typeStats, Seq("event_type"), col("event_id"), salts)
      .select(col("event_id"), col("event_type"), col("value"), col("type_avg"),
        (col("value") - col("type_avg")).as("deviation"))
      .orderBy("event_id")
  }

  /** C9 — fixed-size per-stratum sample: exactly min(k, |stratum|) documents
    * per language, chosen by a deterministic md5 priority (reproducible
    * across runs and engines — no RNG state to checkpoint). The 100 TB
    * shape is the [[graft.functions.TopKAggregator]]: a mergeable bounded
    * top-k that keeps ≤ k candidates per language *inside each map task*,
    * so the shuffle carries partitions×k rows per stratum — the
    * row_number() window formulation (what the oracle states, and what
    * QueriesSpec proves equivalent in-engine) must shuffle and sort the
    * ENTIRE corpus by stratum first.
    *
    * Priority parity: the 60-bit md5 integer is compared AS DOUBLE on both
    * sides (the aggregator scores doubles; DuckDB casts the same BIGINT
    * with the same IEEE nearest-even rounding), and both sides break
    * priority ties by doc_id asc, so a rounding collision cannot diverge
    * the k-th pick.
    */
  def c9FixedSizeSample(s: SparkSession, dir: String, k: Int = 25): DataFrame = {
    val topk = graft.functions.TopKAggregator.topK(k)
    t(s, dir, "documents")
      .select(col("lang"), col("doc_id"),
        (-conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long").cast("double")).as("score"))
      .groupBy(col("lang"))
      .agg(topk(col("doc_id"), col("score")).as("picks"))
      .select(col("lang"), explode(col("picks")).as("p"))
      .select(col("lang"), col("p.id").as("doc_id"))
      .orderBy("lang", "doc_id")
  }

  /** C10 — weighted corpus sample without replacement by PRIORITY SAMPLING
    * (Duffield–Lund–Thorup, JACM 2007): each document gets priority
    * `q = w / u` for weight `w = n_chars + 1` and a deterministic uniform
    * `u ∈ (0, 1]`, and the sample is the top-k by priority. Longer
    * documents are proportionally more likely to be picked, the scheme is
    * without-replacement, and the threshold (the (k+1)-th priority) yields
    * unbiased subset-sum estimators — the standard way to downsample a
    * weighted corpus while keeping token-mass estimates honest.
    *
    * Why priority sampling and not Efraimidis–Spirakis `u^(1/w)`: the E–S
    * key needs `pow`/`log`, and libm transcendentals are NOT guaranteed
    * bit-identical between the JVM and DuckDB — a last-ulp disagreement at
    * the k-th boundary would flip the pick and break the hash gate. `w/u`
    * is one IEEE division of two bit-identical doubles, so the priority —
    * and therefore the selected set — is reproducible across engines by
    * construction. `u` derives from the same md5→60-bit-integer scheme c9
    * uses (both engines round the >2⁵³ integer to double with the same
    * nearest-even rule), shifted by +1 so u > 0.
    *
    * The 100 TB shape is c9's: the mergeable [[graft.functions.TopKAggregator]]
    * keeps ≤ k candidates inside each map task, so the single global group
    * receives partitions×k rows — the window formulation (what the oracle
    * states, and QueriesSpec proves equivalent in-engine) must globally
    * sort every scored row.
    */
  def c10WeightedSample(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val topk = graft.functions.TopKAggregator.topK(k)
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") + lit(1L)).cast("double") / lit(math.pow(2, 60))
    t(s, dir, "documents")
      .select(col("doc_id"),
        ((col("n_chars") + lit(1L)).cast("double") / u).as("priority"))
      .agg(topk(col("doc_id"), col("priority")).as("picks"))
      .select(explode(col("picks")).as("p"))
      .select(col("p.id").as("doc_id"), round(col("p.score"), 4).as("priority"))
      .orderBy("doc_id")
  }

  /** E12 — incremental candle refresh (materialized-view maintenance): the
    * e4 daily OHLCV aggregate maintained from per-batch PARTIAL states
    * instead of a full rescan. [[e12StateOf]] reduces a batch to one
    * mergeable row per (user_id, day) — open/close ride their endpoint
    * timestamps, high/low/count/volume are plain extremes/sums — and
    * [[e12MergeStates]] folds any number of such states with
    * `min_by`/`max_by` on the carried timestamps. The declared query splits
    * the stream by event_id parity into "history" and "delta" batches,
    * merges their states, and must equal e4's full recompute — which is
    * exactly what the oracle states (same SQL shape as e4's oracle).
    *
    * Scale contract: history at 100 TB is reduced ONCE to its candle state
    * (one row per key×day — storable as the materialized view itself);
    * each incoming batch pays state-of-batch + a merge proportional to the
    * TOUCHED keys, never a rescan. This is the batch face of the streaming
    * candle aggregate (StreamingIngest) — same sufficient statistics, so
    * the two paths cannot drift.
    *
    * Determinism: (user_id, ts) is unique per key in the events table, so
    * min_by/max_by endpoint picks cannot tie across batches; volume
    * accumulates in decimal.
    */
  def e12IncrementalCandles(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    e12MergeStates(
        e12StateOf(ev.filter(col("event_id") % 2 === 0)),
        e12StateOf(ev.filter(col("event_id") % 2 === 1)))
      .orderBy("user_id", "day_start")
  }

  /** One mergeable candle state row per (user_id, day) for a batch. */
  def e12StateOf(batch: DataFrame): DataFrame =
    batch
      .groupBy(col("user_id"), window(col("ts"), "1 day").as("w"))
      .agg(
        min(col("ts")).as("open_ts"),
        expr("min_by(value, ts)").as("open"),
        max(col("ts")).as("close_ts"),
        expr("max_by(value, ts)").as("close"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        count(lit(1)).as("n_bars"),
        sum(col("value").cast("decimal(25,6)")).as("vol_dec"))
      .select(col("user_id"), col("w.start").as("day_start"),
        col("open_ts"), col("open"), col("close_ts"), col("close"),
        col("high"), col("low"), col("n_bars"), col("vol_dec"))

  /** Fold candle states into ONE candle state (state × state → state, the
    * closed merge the persisted MV lane needs: [[e12MergeStates]] finalizes
    * to e4's output schema and cannot be folded again). Open/close ride
    * their carried endpoint timestamps, so the fold is associative,
    * commutative, and order-independent across any batch packing — the
    * same sufficient statistics as the streaming candle aggregate. The
    * volume accumulator is pinned at decimal(38,6) so the persisted state
    * schema is a fixpoint under repeated folding (sum() would otherwise
    * widen the precision per fold until it hits the cap).
    */
  def e12FoldStates(states: DataFrame*): DataFrame =
    states.reduce(_.unionByName(_))
      .groupBy(col("user_id"), col("day_start"))
      .agg(
        min(col("open_ts")).as("open_ts"),
        expr("min_by(open, open_ts)").as("open"),
        max(col("close_ts")).as("close_ts"),
        expr("max_by(close, close_ts)").as("close"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        sum(col("n_bars")).as("n_bars"),
        sum(col("vol_dec")).cast("decimal(38,6)").as("vol_dec"))
      .select(col("user_id"), col("day_start"),
        col("open_ts"), col("open"), col("close_ts"), col("close"),
        col("high"), col("low"), col("n_bars"), col("vol_dec"))

  /** Fold candle states (any number of batches, any overlap of keys) into
    * final candles; output schema matches [[e4OhlcvResample]].
    */
  def e12MergeStates(states: DataFrame*): DataFrame =
    states.reduce(_.unionByName(_))
      .groupBy(col("user_id"), col("day_start"))
      .agg(
        expr("min_by(open, open_ts)").as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        expr("max_by(close, close_ts)").as("close"),
        sum(col("n_bars")).as("n_bars"),
        sum(col("vol_dec")).cast("double").as("volume_proxy"))
      .select(col("user_id"), ntz(col("day_start")).as("day_start"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_bars"), col("volume_proxy"))

  /** C5 — greedy sequence packing: assign documents (in stable doc_id order
    * within each source) to fixed token-budget training sequences, starting
    * a new sequence when the next document would overflow; an oversize
    * document gets a sequence of its own. This is the packing step every
    * LLM pretraining pipeline runs before sharding, and it is inherently a
    * prefix-dependent recurrence (each decision depends on accumulated
    * waste), so no window function expresses it — the Spark-honest shape is
    * one shuffle to co-locate the packing key, a sort within partitions,
    * and a STREAMING `mapPartitions` carrying three scalars of state (O(1)
    * memory per partition, never a per-group `toSeq`). Parallelism is
    * bounded by the packing key's cardinality; since packing units are
    * arbitrary, a corpus-scale run salts the key to (source, shard) — the
    * recurrence never crosses the key, so the salt changes nothing but
    * parallelism. Oracle: the same recurrence as a DuckDB recursive CTE.
    * All columns are integers — the hash compare is exact by construction.
    */
  def c5SequencePacking(s: SparkSession, dir: String): DataFrame = {
    val budget = 512L
    import s.implicits._
    t(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .as[(String, Long, Long)]
      .repartition(col("source"))
      .sortWithinPartitions("source", "doc_id")
      .mapPartitions { it =>
        var src: String = null
        var seq = 0L
        var fill = 0L
        it.map { case (source, docId, n) =>
          var off = 0L
          if (source != src) { src = source; seq = 0L; fill = n }
          else if (fill + n <= budget) { off = fill; fill += n }
          else { seq += 1L; fill = n }
          (source, docId, seq, off, n)
        }
      }
      .toDF("source", "doc_id", "seq_id", "tok_offset", "n_tokens")
      .orderBy("source", "doc_id")
  }

  /** C6 — temperature-scaled source mixing (the GPT-3/Pile data-mixing rate
    * computation): per-source token mass `T_s` → sampling weight
    * `T_s^α` with α = 1/2, a 25%-of-corpus token budget apportioned
    * ∝ weight, and the implied per-source keep rate
    * `min(1, B·w_s / (Σw · T_s))` applied via the engine's deterministic
    * hash-mod sampler (C2's mechanism at 1/10000 granularity). Temperature
    * flattening is THE standard fix for web-crawl source skew — α < 1
    * up-samples small high-quality sources and caps the giant crawl's
    * share — and the output is the per-source audit row (mass, weight,
    * rate, kept docs/tokens) a mixing run is signed off on.
    *
    * α is deliberately 1/2: IEEE 754 REQUIRES sqrt correctly rounded, so
    * `floor(sqrt(T_s))` is bit-identical across engines, while `pow(x,0.7)`
    * is libm-dependent and would break the hash gate. The weight then
    * enters integer arithmetic; the rate is one deterministic double
    * division; the sampler compares an integer hash bucket against
    * `rate·10000` — every step engine-portable.
    *
    * Scale shape: pass 1 is a #sources-row map-side-combined aggregate
    * (plus a 2-value scalar reduce), pass 2 re-scans the corpus with the
    * rate table broadcast — the selection predicate is a narrow map, no
    * corpus shuffle anywhere; the final audit aggregate is again
    * #sources-bounded. Exactly the two-pass minimum: rates depend on global
    * mass, so no single-pass plan exists.
    */
  def c6TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val src = docs.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("src_tokens"))
      .withColumn("wgt", floor(sqrt(col("src_tokens").cast("double"))).cast("long"))
    val tot = src.agg(sum(col("src_tokens")).as("total_tokens"),
      sum(col("wgt")).as("sum_w"))
    val rates = src.crossJoin(broadcast(tot))
      .withColumn("rate", least(lit(1.0),
        (col("total_tokens").cast("double") * col("wgt").cast("double")) /
          (lit(4.0) * col("sum_w").cast("double") * col("src_tokens").cast("double"))))
      .select(col("source"), col("src_tokens"), col("wgt"), col("rate"))
    val kept = docs.join(broadcast(rates), "source")
      .filter(
        conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 10000 < col("rate") * 10000)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_kept"), sum(col("n_tokens")).as("n_tokens_kept"))
    // both sides of the audit join are #sources-row aggregates; the hint
    // keeps the static plan broadcast instead of a pro-forma sort-merge
    rates.join(broadcast(kept), Seq("source"), "left")
      .select(col("source"), col("src_tokens"), col("wgt"), col("rate"),
        coalesce(col("n_docs_kept"), lit(0L)).as("n_docs_kept"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"))
      .orderBy("source")
  }

  // -------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e1_standardize" -> (e1Standardize _),
    "e2_convert" -> (e2Convert _),
    "e3_upsert" -> (e3Upsert _),
    "e3b_upsert_lake" -> (e3bUpsertLake _),
    "e3c_lake_sql" -> (e3cLakeSql _),
    "e3d_lake_slice" -> (e3dLakeSlice _),
    "e3e_lake_in" -> (e3eLakeIn _),
    "e3f_lake_delete" -> (e3fLakeDelete _),
    "e3g_lake_merge_sql" -> (e3gLakeMergeSql _),
    "e3h_lake_changes" -> (e3hLakeChanges _),
    "e3i_lake_cdc_follow" -> (e3iLakeCdcFollow _),
    "e3j_lake_create_sql" -> (e3jLakeCreateSql _),
    "e3k_lake_update_sql" -> (e3kLakeUpdateSql _),
    "e3l_lake_stream_cdc" -> (e3lLakeStreamCdc _),
    "e3m_lake_pipeline" -> (e3mLakePipeline _),
    "e3n_lake_stream_write" -> (e3nLakeStreamWrite _),
    "e3o_lake_alter_add" -> (e3oLakeAlterAdd _),
    "e3p_lake_truncate_sql" -> (e3pLakeTruncateSql _),
    "e4_ohlcv_resample" -> (e4OhlcvResample _),
    "e13_weekly_candles" -> (e13WeeklyCandles _),
    "e5_gap_fill" -> (e5GapFill _),
    "e6_rolling_vol" -> (e6RollingVol _),
    "e7_correlation" -> (e7Correlation _),
    "e8_drawdown" -> (e8Drawdown _),
    "e9_momentum_rank" -> (e9MomentumRank _),
    "e10_market_beta" -> (e10MarketBeta _),
    "e11_vwap" -> (e11Vwap _),
    "a21_retention_cohorts" -> (a21RetentionCohorts _),
    "a22_sessionization" -> (a22Sessionization _),
    "a23_rolling_active_users" -> (a23RollingActiveUsers _),
    "a24_markov_transitions" -> (a24MarkovTransitions _),
    "a25_interarrival_quantiles" -> ((s: SparkSession, d: String) => a25InterarrivalQuantiles(s, d)),
    "c7_epoch_shard_assign" -> ((s: SparkSession, d: String) => c7EpochShardAssign(s, d)),
    "q_recent" -> (qRecent _),
    "q_day" -> (qDay _),
    "q_dim" -> (qDim _),
    "q_any" -> (qAny _),
    "q_audit" -> (qAudit _),
    "a1_filter_project" -> (a1FilterProject _),
    "a2_agg" -> (a2Agg _),
    "a3_broadcast_join" -> (a3BroadcastJoin _),
    "a4_sortmerge_join" -> (a4SortMergeJoin _),
    "a5_star_join" -> (a5StarJoin _),
    "a6_topk_window" -> (a6TopkWindow _),
    "a7_window_analytic" -> (a7WindowAnalytic _),
    "a8_semi_anti" -> (a8SemiAnti _),
    "a9_distinct" -> (a9Distinct _),
    "a9b_approx_distinct" -> (a9bApproxDistinct _),
    "a10_rollup" -> (a10Rollup _),
    "a10c_grouping_sets" -> (a10cGroupingSets _),
    "a11_setops" -> (a11SetOps _),
    "a12_tumbling_window" -> (a12TumblingWindow _),
    "a12b_sliding_window" -> (a12bSlidingWindow _),
    "a12c_session_window" -> (a12cSessionWindow _),
    "a13_asof_join" -> (a13AsofJoin _),
    "a13b_asof_join_native" -> (a13bAsofJoinNative _),
    "a13c_asof_forward_tol" -> (a13cAsofJoinForwardTol _),
    "a13d_asof_nearest" -> (a13dAsofNearest _),
    "a13e_temporal_join_closed" -> (a13eTemporalJoinClosed _),
    "e14_scd2_history" -> (e14Scd2History _),
    "a14_correlated_subquery" -> (a14CorrelatedSubquery _),
    "a10b_cube" -> (a10bCube _),
    "a15_quantiles" -> (a15Quantiles _),
    "a15b_quantiles_approx" -> (a15bQuantilesApprox _),
    "a16_pivot" -> (a16Pivot _),
    "a17_interval_join" -> (a17IntervalJoin _),
    "a17b_interval_join_binned" -> (a17bIntervalJoinBinned _),
    "a18_json_extract" -> (a18JsonExtract _),
    "a19_funnel" -> (a19Funnel _),
    "a20_histogram" -> (a20Histogram _),
    "c1_curation" -> (c1Curation _),
    "c2_stratified_sample" -> (c2StratifiedSample _),
    "c5_sequence_packing" -> (c5SequencePacking _),
    "c6_temperature_mix" -> (c6TemperatureMix _),
    "c8_curriculum_bins" -> ((s: SparkSession, d: String) => c8CurriculumBins(s, d)),
    "c8b_curriculum_bins_sql" -> (c8bCurriculumBinsSql _),
    "c8c_cume_dist_sql" -> (c8cCumeDistSql _),
    "e15_running_total_sql" -> (e15RunningTotalSql _),
    "e16_running_minmax_sql" -> (e16RunningMinmaxSql _),
    "e17_moving_total_sql" -> (e17MovingTotalSql _),
    "e18_firstlast_sql" -> (e18FirstLastSql _),
    "e19_range_sliding" -> (e19RangeSliding _),
    "e19b_range_sliding_sql" -> (e19bRangeSlidingSql _),
    "e19c_range_avg_sql" -> (e19cRangeAvgSql _),
    "e20_range_minmax" -> (e20RangeMinmax _),
    "e20b_range_minmax_sql" -> (e20bRangeMinmaxSql _),
    "e21_range_centered" -> (e21RangeCentered _),
    "e21b_range_centered_sql" -> (e21bRangeCenteredSql _),
    "e22_running_covar_sql" -> (e22RunningCovarSql _),
    "e23_rows_centered_sql" -> (e23RowsCenteredSql _),
    "e23b_rows_centered_lib" -> (e23bRowsCenteredLib _),
    "e24_desc_sliding_sql" -> (e24DescSlidingSql _),
    "e24b_desc_rows_sql" -> (e24bDescRowsSql _),
    "e24c_desc_rows_lib" -> (e24cDescRowsLib _),
    "e25_suffix_frames_sql" -> (e25SuffixFramesSql _),
    "a26_salted_skew_join" -> ((s: SparkSession, d: String) => a26SaltedSkewJoin(s, d)),
    "c9_fixed_size_sample" -> ((s: SparkSession, d: String) => c9FixedSizeSample(s, d)),
    "c10_weighted_sample" -> ((s: SparkSession, d: String) => c10WeightedSample(s, d)),
    "e12_incremental_candles" -> (e12IncrementalCandles _))

  /** DuckDB oracle SQL, aligned column-for-column with the Spark plans. */
  val oracles: Map[String, String] = Map(
    "e1_standardize" ->
      """SELECT e.event_id, CAST(e.ts AS TIMESTAMP) AS timestamp_utc,
         e.event_type AS ticker, e.value AS close, n.n_name AS country
         FROM events e LEFT JOIN nation n ON e.user_id % 25 = n.n_nationkey
         ORDER BY e.event_id""",
    "e2_convert" ->
      """WITH rates AS (
           SELECT n_nationkey, CAST(n_nationkey AS DOUBLE) / 100.0 + 1.0 AS rate
           FROM nation)
         SELECT e.event_id, CAST(e.ts AS DATE) AS rate_date, e.value AS close,
                r.rate, e.value * r.rate AS close_usd
         FROM events e LEFT JOIN rates r ON e.user_id % 25 = r.n_nationkey
         ORDER BY e.event_id""",
    "e3_upsert" ->
      """SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP) AS timestamp_utc, value
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1 ORDER BY user_id, event_type""",
    "e3b_upsert_lake" ->
      // within-batch LWW on (ts, event_id); cross-batch the UPDATE wins:
      // a key present in the odd batch takes its odd-batch winner, else it
      // keeps the even-batch winner (the SnapshotLake.merge contract)
      """WITH b0 AS (
           SELECT user_id, event_type, event_id, ts, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events WHERE event_id % 2 = 0)
           WHERE rn = 1),
         b1 AS (
           SELECT user_id, event_type, event_id, ts, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events WHERE event_id % 2 = 1)
           WHERE rn = 1),
         merged AS (
           SELECT * FROM b1
           UNION ALL
           SELECT b0.* FROM b0 ANTI JOIN b1 USING (user_id, event_type))
         SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP) AS timestamp_utc, value
         FROM merged ORDER BY user_id, event_type""",
    "e3c_lake_sql" ->
      // identical semantics to e3b — the engine-side difference (catalog
      // SQL face vs API read) is exactly what the shared oracle pins
      """WITH b0 AS (
           SELECT user_id, event_type, event_id, ts, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events WHERE event_id % 2 = 0)
           WHERE rn = 1),
         b1 AS (
           SELECT user_id, event_type, event_id, ts, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events WHERE event_id % 2 = 1)
           WHERE rn = 1),
         merged AS (
           SELECT * FROM b1
           UNION ALL
           SELECT b0.* FROM b0 ANTI JOIN b1 USING (user_id, event_type))
         SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP) AS timestamp_utc, value
         FROM merged ORDER BY user_id, event_type""",
    "e3g_lake_merge_sql" ->
      // e3c's oracle verbatim — MERGE INTO is the THIRD write face of the
      // same keyed LWW commit (API merge, INSERT INTO, MERGE INTO) and
      // all three must land the identical table
      """WITH b0 AS (
           SELECT user_id, event_type, event_id, ts, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events WHERE event_id % 2 = 0)
           WHERE rn = 1),
         b1 AS (
           SELECT user_id, event_type, event_id, ts, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events WHERE event_id % 2 = 1)
           WHERE rn = 1),
         merged AS (
           SELECT * FROM b1
           UNION ALL
           SELECT b0.* FROM b0 ANTI JOIN b1 USING (user_id, event_type))
         SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP) AS timestamp_utc, value
         FROM merged ORDER BY user_id, event_type""",
    "e3h_lake_changes" ->
      // the CDC diff derived from the LWW algebra: a = state at gen 1
      // (even-id LWW), b = state at gen 3 (two-batch merge minus the
      // deleted keys); insert/update carry b's image, delete carries a's
      """WITH b0 AS (
           SELECT user_id, event_type, event_id, ts, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events WHERE event_id % 2 = 0)
           WHERE rn = 1),
         b1 AS (
           SELECT user_id, event_type, event_id, ts, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events WHERE event_id % 2 = 1)
           WHERE rn = 1),
         merged AS (
           SELECT * FROM b1
           UNION ALL
           SELECT b0.* FROM b0 ANTI JOIN b1 USING (user_id, event_type)),
         a AS (SELECT user_id, event_type, event_id,
                      CAST(ts AS TIMESTAMP) AS tsx, value FROM b0),
         b AS (SELECT user_id, event_type, event_id,
                      CAST(ts AS TIMESTAMP) AS tsx, value FROM merged
               WHERE user_id NOT IN (2, 3, 5, 7, 11, 13)),
         j AS (SELECT a.user_id AS au, a.event_type AS at, a.event_id AS ae,
                      a.tsx AS ats, a.value AS av,
                      b.user_id AS bu, b.event_type AS bt, b.event_id AS be,
                      b.tsx AS bts, b.value AS bv
               FROM a FULL OUTER JOIN b
                 ON a.user_id = b.user_id AND a.event_type = b.event_type)
         SELECT * FROM (
           SELECT COALESCE(bu, au) AS user_id, COALESCE(bt, at) AS event_type,
                  CASE WHEN bu IS NULL THEN ae ELSE be END AS event_id,
                  CASE WHEN bu IS NULL THEN ats ELSE bts END AS timestamp_utc,
                  CASE WHEN bu IS NULL THEN av ELSE bv END AS value,
                  CASE WHEN au IS NULL THEN 'insert'
                       WHEN bu IS NULL THEN 'delete'
                       WHEN (ae IS DISTINCT FROM be) OR (ats IS DISTINCT FROM bts)
                            OR (av IS DISTINCT FROM bv) THEN 'update'
                       END AS _change_type
           FROM j)
         WHERE _change_type IS NOT NULL
         ORDER BY user_id, event_type""",
    "e3i_lake_cdc_follow" ->
      // the consumer-fold law: per-commit CDC consumption reconstructs the
      // final snapshot — two-batch LWW state minus the deleted keys
      // (e3h's `b` CTE, the post-takedown table)
      """WITH b0 AS (
           SELECT user_id, event_type, event_id, ts, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events WHERE event_id % 2 = 0)
           WHERE rn = 1),
         b1 AS (
           SELECT user_id, event_type, event_id, ts, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events WHERE event_id % 2 = 1)
           WHERE rn = 1),
         merged AS (
           SELECT * FROM b1
           UNION ALL
           SELECT b0.* FROM b0 ANTI JOIN b1 USING (user_id, event_type))
         SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP) AS timestamp_utc, value
         FROM merged
         WHERE user_id NOT IN (2, 3, 5, 7, 11, 13)
         ORDER BY user_id, event_type""",
    "e3l_lake_stream_cdc" ->
      // e3i's oracle verbatim — the file-sink consumer must fold to the
      // same final snapshot e3i's sequential fold reconstructs: two-batch
      // LWW state minus the deleted keys
      """WITH b0 AS (
           SELECT user_id, event_type, event_id, ts, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events WHERE event_id % 2 = 0)
           WHERE rn = 1),
         b1 AS (
           SELECT user_id, event_type, event_id, ts, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events WHERE event_id % 2 = 1)
           WHERE rn = 1),
         merged AS (
           SELECT * FROM b1
           UNION ALL
           SELECT b0.* FROM b0 ANTI JOIN b1 USING (user_id, event_type))
         SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP) AS timestamp_utc, value
         FROM merged
         WHERE user_id NOT IN (2, 3, 5, 7, 11, 13)
         ORDER BY user_id, event_type""",
    "e3m_lake_pipeline" ->
      // the pipeline law: the two-lake load lands exactly standardize +
      // convert over the deduped bars, facts joined to the dim (FK law);
      // rate = 1 + day-of-month/100, close_usd = close * rate — identical
      // IEEE ops on identical operands in both engines
      """WITH bars AS (
           SELECT event_type AS ticker, CAST(ts AS TIMESTAMP) AS tsx, value,
                  row_number() OVER (PARTITION BY event_type, ts
                    ORDER BY value DESC, event_id DESC) AS rn
           FROM events),
         b AS (SELECT ticker, tsx, value FROM bars WHERE rn = 1)
         SELECT ticker, tsx AS timestamp_utc, value AS close,
                value * (1.0 + CAST(EXTRACT(day FROM tsx) AS DOUBLE) / 100.0)
                  AS close_usd,
                UPPER(ticker) AS name
         FROM b
         ORDER BY ticker, timestamp_utc""",
    "e3j_lake_create_sql" ->
      // e3c's oracle verbatim — a DDL-born table's INSERT INTO batches
      // must land the identical LWW state the API-merged twin lands
      """WITH b0 AS (
           SELECT user_id, event_type, event_id, ts, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events WHERE event_id % 2 = 0)
           WHERE rn = 1),
         b1 AS (
           SELECT user_id, event_type, event_id, ts, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events WHERE event_id % 2 = 1)
           WHERE rn = 1),
         merged AS (
           SELECT * FROM b1
           UNION ALL
           SELECT b0.* FROM b0 ANTI JOIN b1 USING (user_id, event_type))
         SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP) AS timestamp_utc, value
         FROM merged ORDER BY user_id, event_type""",
    "e3k_lake_update_sql" ->
      // single-batch LWW winners with the UPDATE applied under its
      // predicate (WHERE polarity: TRUE rows rewrite, others keep their
      // values); value * 2 is float-exact so the compare is bitwise
      """WITH w AS (
           SELECT user_id, event_type, event_id, ts, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events)
           WHERE rn = 1)
         SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP) AS timestamp_utc,
                CASE WHEN event_type = 'click' AND user_id % 3 = 0
                     THEN value * 2 ELSE value END AS value
         FROM w
         ORDER BY user_id, event_type""",
    "e3n_lake_stream_write" ->
      // e3j's oracle verbatim — streamed micro-batches (even-batch drain,
      // then odd-batch drain) must land the identical two-commit LWW
      // state the SQL INSERT twin lands: one write semantics across API,
      // SQL, and streaming faces
      """WITH b0 AS (
           SELECT user_id, event_type, event_id, ts, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events WHERE event_id % 2 = 0)
           WHERE rn = 1),
         b1 AS (
           SELECT user_id, event_type, event_id, ts, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events WHERE event_id % 2 = 1)
           WHERE rn = 1),
         merged AS (
           SELECT * FROM b1
           UNION ALL
           SELECT b0.* FROM b0 ANTI JOIN b1 USING (user_id, event_type))
         SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP) AS timestamp_utc, value
         FROM merged
         ORDER BY user_id, event_type""",
    "e3o_lake_alter_add" ->
      // the widen law: two-commit LWW state where `note` exists exactly on
      // rows whose winning version arrived AFTER the ALTER (the odd
      // batch); pre-ALTER winners answer null — the metadata-only commit
      // never rewrote their files
      """WITH b0 AS (
           SELECT user_id, event_type, event_id, ts, value,
                  CAST(NULL AS VARCHAR) AS note
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events WHERE event_id % 2 = 0)
           WHERE rn = 1),
         b1 AS (
           SELECT user_id, event_type, event_id, ts, value,
                  event_type || '-' || CAST(user_id AS VARCHAR) AS note
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events WHERE event_id % 2 = 1)
           WHERE rn = 1),
         merged AS (
           SELECT * FROM b1
           UNION ALL
           SELECT b0.* FROM b0 ANTI JOIN b1 USING (user_id, event_type))
         SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP) AS timestamp_utc, value, note
         FROM merged
         ORDER BY user_id, event_type""",
    "e3p_lake_truncate_sql" ->
      // the truncate law: the full-merge history is gone from the LIVE
      // snapshot (retained only for time travel), so the table is exactly
      // the post-truncate odd-batch LWW state
      """SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP) AS timestamp_utc, value
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
               FROM events WHERE event_id % 2 = 1)
         WHERE rn = 1
         ORDER BY user_id, event_type""",
    "e3d_lake_slice" ->
      // single-batch LWW winners, then the ten-day slice — byte-identical
      // to the engine's pruned read (skipping may drop FILES, never rows)
      """WITH w AS (
           SELECT user_id, event_type, event_id, ts, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events)
           WHERE rn = 1)
         SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP) AS timestamp_utc, value
         FROM w
         WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-22 00:00:00'
           AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-28 00:00:00'
         ORDER BY user_id, event_type""",
    "e3e_lake_in" ->
      // single-batch LWW winners, then the q_any-shaped IN predicates —
      // byte-identical to the engine's point-pruned read (skipping may
      // drop FILES, never rows)
      """WITH w AS (
           SELECT user_id, event_type, event_id, ts, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events)
           WHERE rn = 1)
         SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP) AS timestamp_utc, value
         FROM w
         WHERE event_type IN ('click', 'purchase', 'error')
           AND user_id IN (2, 3, 5, 7, 11, 13)
         ORDER BY user_id, event_type""",
    "e3f_lake_delete" ->
      // single-batch LWW winners MINUS the deleted predicate — the SQL
      // DELETE polarity pinned EXACTLY (TRUE rows go, NULL-evaluating
      // rows stay): NOT coalesce(pred, false), not NOT pred, so a
      // null-keyed corpus row would stay on both sides of the compare
      """WITH w AS (
           SELECT user_id, event_type, event_id, ts, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
                 FROM events)
           WHERE rn = 1)
         SELECT user_id, event_type, event_id,
                CAST(ts AS TIMESTAMP) AS timestamp_utc, value
         FROM w
         WHERE NOT coalesce(
           user_id IN (2, 3, 5, 7, 11, 13) OR event_type = 'error', false)
         ORDER BY user_id, event_type""",
    "a26_salted_skew_join" ->
      """WITH ts_stats AS (
           SELECT event_type,
                  CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE) AS type_avg
           FROM events GROUP BY event_type)
         SELECT e.event_id, e.event_type, e.value, s.type_avg,
                e.value - s.type_avg AS deviation
         FROM events e JOIN ts_stats s USING (event_type)
         ORDER BY e.event_id""",
    "c9_fixed_size_sample" ->
      """SELECT lang, doc_id FROM (
           SELECT lang, doc_id,
                  row_number() OVER (PARTITION BY lang ORDER BY
                    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                         AS BIGINT) AS DOUBLE),
                    doc_id) AS rn
           FROM documents)
         WHERE rn <= 25 ORDER BY lang, doc_id""",
    "c10_weighted_sample" ->
      """-- priority sampling (Duffield–Lund–Thorup): top-k by q = w/u.
         -- Same parenthesization as the Spark plan — q is one IEEE division
         -- of bit-identical doubles, so the selected set cannot diverge.
         SELECT doc_id, round(priority, 4) AS priority FROM (
           SELECT doc_id, priority,
                  row_number() OVER (ORDER BY priority DESC, doc_id) AS rn
           FROM (SELECT doc_id,
                        CAST(n_chars + 1 AS DOUBLE) /
                          (CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                                     AS BIGINT) + 1 AS DOUBLE)
                           / 1152921504606846976.0) AS priority
                 FROM documents))
         WHERE rn <= 50 ORDER BY doc_id""",
    "e12_incremental_candles" ->
      """-- merged partial states must equal the full recompute: the oracle
         -- IS e4's full-scan aggregate, restated over the same events.
         SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day_start,
                arg_min(value, CAST(ts AS TIMESTAMP)) AS open,
                MAX(value) AS high, MIN(value) AS low,
                arg_max(value, CAST(ts AS TIMESTAMP)) AS close,
                COUNT(*) AS n_bars,
                CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS volume_proxy
         FROM events GROUP BY 1, 2 ORDER BY user_id, day_start""",
    "e13_weekly_candles" ->
      """SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS week_start,
                arg_min(value, CAST(ts AS TIMESTAMP)) AS open,
                MAX(value) AS high, MIN(value) AS low,
                arg_max(value, CAST(ts AS TIMESTAMP)) AS close,
                COUNT(*) AS n_bars,
                CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS volume_proxy
         FROM events GROUP BY 1, 2 ORDER BY user_id, week_start""",
    "e4_ohlcv_resample" ->
      """SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day_start,
                arg_min(value, CAST(ts AS TIMESTAMP)) AS open,
                MAX(value) AS high, MIN(value) AS low,
                arg_max(value, CAST(ts AS TIMESTAMP)) AS close,
                COUNT(*) AS n_bars,
                CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS volume_proxy
         FROM events GROUP BY 1, 2 ORDER BY user_id, day_start""",
    "e10_market_beta" ->
      """WITH daily AS (
           SELECT user_id, CAST(ts AS DATE) AS day,
                  arg_max(value, CAST(ts AS TIMESTAMP)) AS close
           FROM events GROUP BY 1, 2),
         mkt AS (
           SELECT day,
                  CAST(SUM(CAST(close AS DECIMAL(30,8))) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE) AS mkt
           FROM daily GROUP BY day),
         stats AS (
           SELECT d.user_id,
                  CAST(COUNT(*) AS DOUBLE) AS n,
                  CAST(SUM(CAST(m.mkt AS DECIMAL(30,8))) AS DOUBLE) AS sx,
                  CAST(SUM(CAST(d.close AS DECIMAL(30,8))) AS DOUBLE) AS sy,
                  CAST(SUM(CAST(m.mkt * d.close AS DECIMAL(30,8))) AS DOUBLE) AS sxy,
                  CAST(SUM(CAST(m.mkt * m.mkt AS DECIMAL(30,8))) AS DOUBLE) AS sxx
           FROM daily d JOIN mkt m USING (day) GROUP BY d.user_id),
         b AS (
           SELECT user_id, n, sx, sy,
                  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta
           FROM stats WHERE n >= 20 AND n * sxx - sx * sx > 1e-7 * n * sxx)
         SELECT user_id, CAST(n AS BIGINT) AS n_days, beta,
                (sy - beta * sx) / n AS alpha
         FROM b ORDER BY user_id""",
    "e11_vwap" ->
      """WITH trades AS (
           SELECT user_id, CAST(ts AS DATE) AS day, value,
                  CAST(json_extract_string(props, '$.k') AS BIGINT) AS vol
           FROM events)
         SELECT user_id, day,
                CAST(SUM(CAST(value * vol AS DECIMAL(25,4))) AS DOUBLE)
                  / CAST(SUM(vol) AS DOUBLE) AS vwap,
                CAST(SUM(vol) AS BIGINT) AS total_vol,
                COUNT(*) AS n_trades
         FROM trades WHERE vol > 0
         GROUP BY user_id, day ORDER BY user_id, day""",
    "a21_retention_cohorts" ->
      """WITH activity AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         tagged AS (
           SELECT user_id, day,
                  MIN(day) OVER (PARTITION BY user_id) AS cohort_day
           FROM activity),
         m AS (
           SELECT cohort_day,
                  CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset,
                  COUNT(*) AS active_users
           FROM tagged GROUP BY 1, 2)
         SELECT cohort_day, day_offset, active_users,
                first_value(active_users) OVER (
                  PARTITION BY cohort_day ORDER BY day_offset
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cohort_users,
                CAST(active_users AS DOUBLE)
                  / CAST(first_value(active_users) OVER (
                      PARTITION BY cohort_day ORDER BY day_offset
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                  AS retention
         FROM m ORDER BY cohort_day, day_offset""",
    "a24_markov_transitions" ->
      """WITH seq AS (
           SELECT event_type,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_type
           FROM events),
         trans AS (
           SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
           FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n,
                CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from,
                CAST(n AS DOUBLE)
                  / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
         FROM trans
         -- explicit NULLS FIRST (a22-style hardening): Spark sorts nulls
         -- first asc, DuckDB defaults to NULLS LAST — latent only while the
         -- fixture guarantees non-null event_type
         ORDER BY from_type NULLS FIRST, to_type NULLS FIRST""",
    "c6_temperature_mix" ->
      """WITH docs AS (
           SELECT doc_id, source,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         src AS (
           SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
           FROM docs GROUP BY source),
         w AS (
           SELECT source, src_tokens,
                  CAST(floor(sqrt(CAST(src_tokens AS DOUBLE))) AS BIGINT) AS wgt
           FROM src),
         tot AS (
           SELECT CAST(SUM(src_tokens) AS BIGINT) AS total_tokens,
                  CAST(SUM(wgt) AS BIGINT) AS sum_w
           FROM w),
         rates AS (
           SELECT w.source, w.src_tokens, w.wgt,
                  least(1.0,
                    (CAST(t.total_tokens AS DOUBLE) * CAST(w.wgt AS DOUBLE))
                    / (4.0 * CAST(t.sum_w AS DOUBLE)
                       * CAST(w.src_tokens AS DOUBLE))) AS rate
           FROM w CROSS JOIN tot t)
         SELECT r.source, r.src_tokens, r.wgt, r.rate,
                COUNT(d.doc_id) AS n_docs_kept,
                CAST(COALESCE(SUM(d.n_tokens), 0) AS BIGINT) AS n_tokens_kept
         FROM rates r LEFT JOIN docs d
           ON d.source = r.source
          AND CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                % 10000 < r.rate * 10000
         GROUP BY r.source, r.src_tokens, r.wgt, r.rate
         ORDER BY r.source""",
    "a25_interarrival_quantiles" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
           FROM events),
         g AS (
           SELECT event_type,
                  us - lag(us) OVER (PARTITION BY user_id, event_type
                                     ORDER BY us, event_id) AS gap_us
           FROM e)
         SELECT event_type,
                COUNT(*) AS n_gaps,
                quantile_cont(gap_us, 0.5) AS p50_us,
                quantile_cont(gap_us, 0.95) AS p95_us,
                CAST(MAX(gap_us) AS BIGINT) AS max_us
         FROM g WHERE gap_us IS NOT NULL
         GROUP BY event_type
         -- explicit NULLS FIRST: Spark orders nulls first asc, DuckDB last
         ORDER BY event_type NULLS FIRST""",
    "c7_epoch_shard_assign" ->
      """WITH d AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         x AS (
           SELECT doc_id, n_tokens, unnest(range(0, 3)) AS epoch FROM d),
         a AS (
           SELECT epoch,
                  CAST('0x' || substr(md5(doc_id || ':' || epoch), 1, 15)
                    AS BIGINT) % 64 AS shard,
                  n_tokens
           FROM x),
         g AS (
           SELECT epoch, shard, COUNT(*) AS n_docs,
                  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
           FROM a GROUP BY epoch, shard)
         SELECT epoch, shard, n_docs, shard_tokens,
                CAST(shard_tokens AS DOUBLE)
                  / CAST(SUM(shard_tokens) OVER (PARTITION BY epoch) AS DOUBLE)
                  AS token_share
         FROM g ORDER BY epoch, shard""",
    "c8_curriculum_bins" ->
      // DuckDB's NATIVE window ntile — the Spark side must reproduce its
      // semantics exactly from the distributed two-phase rank.
      """WITH ranked AS (
           SELECT doc_id, n_chars, lang, source,
                  ntile(10) OVER (ORDER BY n_chars, doc_id) AS bin
           FROM documents)
         SELECT bin, COUNT(*) AS n_docs,
                MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
                CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                COUNT(DISTINCT lang) AS n_langs,
                COUNT(DISTINCT source) AS n_sources
         FROM ranked GROUP BY bin ORDER BY bin""",
    // c8b: same declared result as c8 — the Spark side derives it from the
    // RAW-SQL global ntile via the GlobalRankRule rewrite, so the oracle is
    // shared: DuckDB's native single-node ntile adjudicates the distributed
    // two-pass rank's remainder semantics.
    "c8b_curriculum_bins_sql" ->
      """WITH ranked AS (
           SELECT doc_id, n_chars, lang, source,
                  ntile(10) OVER (ORDER BY n_chars, doc_id) AS bin
           FROM documents)
         SELECT bin, COUNT(*) AS n_docs,
                MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
                CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                COUNT(DISTINCT lang) AS n_langs,
                COUNT(DISTINCT source) AS n_sources
         FROM ranked GROUP BY bin ORDER BY bin""",
    // c8c/e15/e16: DuckDB's NATIVE window engine adjudicates the
    // GlobalRankExec rewrite of forward tie-aware ranks and prefix
    // aggregates — two engines, two implementations (single-node segment
    // walk vs distributed carry + chain stitch), one hash.
    "c8c_cume_dist_sql" ->
      """SELECT doc_id, CUME_DIST() OVER (ORDER BY n_chars) AS cd
         FROM documents ORDER BY doc_id""",
    "e15_running_total_sql" ->
      """SELECT o_orderkey,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4)))
                     OVER (ORDER BY o_orderdate) AS DOUBLE) AS run_total,
                COUNT(*) OVER (ORDER BY o_orderdate) AS n_seen
         FROM orders ORDER BY o_orderkey""",
    "e16_running_minmax_sql" ->
      """SELECT o_orderkey,
                CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS run_min,
                CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS run_max,
                COUNT(*) OVER w AS n_seen
         FROM orders
         WINDOW w AS (ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY o_orderkey""",
    "e19b_range_sliding_sql" ->
      """WITH o AS (
           SELECT o_orderkey,
                  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS dnum,
                  CAST(o_totalprice AS DECIMAL(25,4)) AS px
           FROM orders)
         SELECT o_orderkey,
                CAST(SUM(px) OVER w AS DOUBLE) AS frame_total,
                COUNT(*) OVER w AS frame_cnt,
                CAST(CAST(SUM(px) OVER w AS DOUBLE)
                     / (COUNT(*) OVER w) AS DOUBLE) AS frame_avg
         FROM o
         WINDOW w AS (ORDER BY dnum RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY o_orderkey""",
    "e19_range_sliding" ->
      """WITH o AS (
           SELECT o_orderkey,
                  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS dnum,
                  CAST(o_totalprice AS DECIMAL(25,4)) AS px
           FROM orders)
         SELECT o_orderkey,
                CAST(SUM(px) OVER w AS DOUBLE) AS frame_total,
                COUNT(*) OVER w AS frame_cnt,
                CAST(CAST(SUM(px) OVER w AS DOUBLE)
                     / (COUNT(*) OVER w) AS DOUBLE) AS frame_avg
         FROM o
         WINDOW w AS (ORDER BY dnum RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY o_orderkey""",
    "e19c_range_avg_sql" ->
      // Spark's AVG(DECIMAL(21,4)) emission replicated in exact HUGEINT
      // unit arithmetic (the e18 discipline): cumulative scale-4 units,
      // integer divide at scale 8 with explicit HALF-UP, one double
      // division by 1e8 — bit-identical to Decimal(25,8).toDouble
      """WITH o AS (
           SELECT o_orderkey,
                  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS dnum,
                  CAST(CAST(o_totalprice AS DECIMAL(21,4)) * 10000 AS HUGEINT) AS u4
           FROM orders),
         w1 AS (
           SELECT o_orderkey, SUM(u4) OVER w AS s4, COUNT(*) OVER w AS c
           FROM o
           WINDOW w AS (ORDER BY dnum RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
         SELECT o_orderkey,
                CAST((s4 * 10000) // c +
                     (CASE WHEN 2 * ((s4 * 10000) % c) >= c THEN 1 ELSE 0 END)
                  AS DOUBLE) / 100000000.0 AS frame_avg
         FROM w1 ORDER BY o_orderkey""",
    "e20_range_minmax" ->
      """WITH o AS (
           SELECT o_orderkey,
                  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS dnum,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS px
           FROM orders)
         SELECT o_orderkey,
                CAST(MIN(px) OVER w AS DOUBLE) AS frame_min,
                CAST(MAX(px) OVER w AS DOUBLE) AS frame_max
         FROM o
         WINDOW w AS (ORDER BY dnum RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY o_orderkey""",
    "e20b_range_minmax_sql" ->
      """WITH o AS (
           SELECT o_orderkey,
                  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS dnum,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS px
           FROM orders)
         SELECT o_orderkey,
                CAST(MIN(px) OVER w AS DOUBLE) AS frame_min,
                CAST(MAX(px) OVER w AS DOUBLE) AS frame_max
         FROM o
         WINDOW w AS (ORDER BY dnum RANGE BETWEEN 6 PRECEDING AND 3 FOLLOWING)
         ORDER BY o_orderkey""",
    "e21_range_centered" ->
      """WITH o AS (
           SELECT o_orderkey,
                  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS dnum,
                  CAST(o_totalprice AS DECIMAL(25,4)) AS px
           FROM orders)
         SELECT o_orderkey,
                CAST(SUM(px) OVER w AS DOUBLE) AS frame_total,
                COUNT(*) OVER w AS frame_cnt,
                CAST(CAST(SUM(px) OVER w AS DOUBLE)
                     / (COUNT(*) OVER w) AS DOUBLE) AS frame_avg
         FROM o
         WINDOW w AS (ORDER BY dnum RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
         ORDER BY o_orderkey""",
    "e21b_range_centered_sql" ->
      // sum/count natively; the decimal AVG lane in HUGEINT units
      // (scale 8 = Spark's decimal(29,8) result), the e18/e19c discipline
      """WITH o AS (
           SELECT o_orderkey,
                  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS dnum,
                  CAST(o_totalprice AS DECIMAL(25,4)) AS px,
                  CAST(CAST(o_totalprice AS DECIMAL(25,4)) * 10000 AS HUGEINT) AS u4
           FROM orders),
         w1 AS (
           SELECT o_orderkey,
                  CAST(SUM(px) OVER w AS DOUBLE) AS frame_total,
                  COUNT(*) OVER w AS frame_cnt,
                  SUM(u4) OVER w AS s4,
                  COUNT(*) OVER w AS c
           FROM o
           WINDOW w AS (ORDER BY dnum RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING))
         SELECT o_orderkey, frame_total, frame_cnt,
                CAST((s4 * 10000) // c +
                     (CASE WHEN 2 * ((s4 * 10000) % c) >= c THEN 1 ELSE 0 END)
                  AS DOUBLE) / 100000000.0 AS frame_avg
         FROM w1 ORDER BY o_orderkey""",
    "e22_running_covar_sql" ->
      // the same five exact prefix sums + the same per-row IEEE formula —
      // DuckDB's decimal window sums are exact too, so the doubles match
      """WITH o AS (
           SELECT o_orderkey,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS x,
                  CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
                       AS DECIMAL(9,0)) AS y
           FROM orders),
         p AS (
           SELECT o_orderkey,
                  COUNT(*) OVER w AS n,
                  CAST(SUM(x) OVER w AS DOUBLE) AS sx,
                  CAST(SUM(y) OVER w AS DOUBLE) AS sy,
                  CAST(SUM(x * y) OVER w AS DOUBLE) AS sxy,
                  CAST(SUM(x * x) OVER w AS DOUBLE) AS sxx,
                  CAST(SUM(y * y) OVER w AS DOUBLE) AS syy
           FROM o
           WINDOW w AS (ORDER BY o_orderkey))
         SELECT o_orderkey, n,
                (sxy - sx * sy / n) / n AS run_covar_pop,
                CASE WHEN n > 1 AND (n * sxx - sx * sx) > 0
                          AND (n * syy - sy * sy) > 0
                     THEN (n * sxy - sx * sy)
                          / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                     ELSE NULL END AS run_corr
         FROM p ORDER BY o_orderkey""",
    "e23_rows_centered_sql" ->
      // sum/count/min/max natively; the decimal AVG lane in HUGEINT units
      // (scale 8 = Spark's decimal(29,8) result), the e18 discipline
      """WITH o AS (
           SELECT o_orderkey, o_orderdate,
                  CAST(o_totalprice AS DECIMAL(25,4)) AS px,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS px2,
                  CAST(CAST(o_totalprice AS DECIMAL(25,4)) * 10000 AS HUGEINT) AS u4
           FROM orders),
         w1 AS (
           SELECT o_orderkey,
                  CAST(SUM(px) OVER w AS DOUBLE) AS c_total,
                  COUNT(*) OVER w AS c_cnt,
                  CAST(MIN(px2) OVER w AS DOUBLE) AS c_min,
                  CAST(MAX(px2) OVER w AS DOUBLE) AS c_max,
                  SUM(u4) OVER w AS s4,
                  COUNT(*) OVER w AS c
           FROM o
           WINDOW w AS (ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN 6 PRECEDING AND 3 FOLLOWING))
         SELECT o_orderkey, c_total, c_cnt,
                CAST((s4 * 10000) // c +
                     (CASE WHEN 2 * ((s4 * 10000) % c) >= c THEN 1 ELSE 0 END)
                  AS DOUBLE) / 100000000.0 AS c_avg,
                c_min, c_max
         FROM w1 ORDER BY o_orderkey""",
    "e23b_rows_centered_lib" ->
      // e23's oracle verbatim — the library face must be value-identical
      // to the optimizer composition (and to DuckDB's native ROWS engine)
      """WITH o AS (
           SELECT o_orderkey, o_orderdate,
                  CAST(o_totalprice AS DECIMAL(25,4)) AS px,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS px2,
                  CAST(CAST(o_totalprice AS DECIMAL(25,4)) * 10000 AS HUGEINT) AS u4
           FROM orders),
         w1 AS (
           SELECT o_orderkey,
                  CAST(SUM(px) OVER w AS DOUBLE) AS c_total,
                  COUNT(*) OVER w AS c_cnt,
                  CAST(MIN(px2) OVER w AS DOUBLE) AS c_min,
                  CAST(MAX(px2) OVER w AS DOUBLE) AS c_max,
                  SUM(u4) OVER w AS s4,
                  COUNT(*) OVER w AS c
           FROM o
           WINDOW w AS (ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN 6 PRECEDING AND 3 FOLLOWING))
         SELECT o_orderkey, c_total, c_cnt,
                CAST((s4 * 10000) // c +
                     (CASE WHEN 2 * ((s4 * 10000) % c) >= c THEN 1 ELSE 0 END)
                  AS DOUBLE) / 100000000.0 AS c_avg,
                c_min, c_max
         FROM w1 ORDER BY o_orderkey""",
    "e24_desc_sliding_sql" ->
      """WITH o AS (
           SELECT o_orderkey,
                  CAST(o_totalprice AS DECIMAL(25,4)) AS px,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS px2,
                  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS dnum
           FROM orders)
         SELECT o_orderkey,
                CAST(SUM(px) OVER win AS DOUBLE) AS frame_total,
                COUNT(*) OVER win AS frame_cnt,
                CAST(MIN(px2) OVER win AS DOUBLE) AS frame_min,
                CAST(MAX(px2) OVER win AS DOUBLE) AS frame_max
         FROM o
         WINDOW win AS (ORDER BY dnum DESC RANGE BETWEEN 6 PRECEDING AND 2 FOLLOWING)
         ORDER BY o_orderkey""",
    "e24b_desc_rows_sql" ->
      """WITH o AS (
           SELECT o_orderkey,
                  CAST(o_totalprice AS DECIMAL(25,4)) AS px,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS px2,
                  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS dnum
           FROM orders)
         SELECT o_orderkey,
                CAST(SUM(px) OVER w AS DOUBLE) AS c_total,
                COUNT(*) OVER w AS c_cnt,
                CAST(MIN(px2) OVER w AS DOUBLE) AS c_min,
                CAST(MAX(px2) OVER w AS DOUBLE) AS c_max
         FROM o
         WINDOW w AS (ORDER BY dnum DESC, o_orderkey DESC
                      ROWS BETWEEN 6 PRECEDING AND 3 FOLLOWING)
         ORDER BY o_orderkey""",
    "e24c_desc_rows_lib" ->
      // e24b's oracle verbatim — the library face must be value-identical
      // to the optimizer composition (and to DuckDB's native ROWS engine)
      """WITH o AS (
           SELECT o_orderkey,
                  CAST(o_totalprice AS DECIMAL(25,4)) AS px,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS px2,
                  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS dnum
           FROM orders)
         SELECT o_orderkey,
                CAST(SUM(px) OVER w AS DOUBLE) AS c_total,
                COUNT(*) OVER w AS c_cnt,
                CAST(MIN(px2) OVER w AS DOUBLE) AS c_min,
                CAST(MAX(px2) OVER w AS DOUBLE) AS c_max
         FROM o
         WINDOW w AS (ORDER BY dnum DESC, o_orderkey DESC
                      ROWS BETWEEN 6 PRECEDING AND 3 FOLLOWING)
         ORDER BY o_orderkey""",
    "e25_suffix_frames_sql" ->
      """WITH o AS (
           SELECT o_orderkey, o_orderdate,
                  CAST(o_totalprice AS DECIMAL(25,4)) AS px,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS px2
           FROM orders)
         SELECT o_orderkey,
                CAST(SUM(px) OVER w AS DOUBLE) AS remaining_total,
                COUNT(*) OVER w AS remaining_cnt,
                CAST(MIN(px2) OVER w AS DOUBLE) AS remaining_min,
                CAST(MAX(px2) OVER w AS DOUBLE) AS remaining_max,
                CAST(LAST_VALUE(px2) OVER w AS DOUBLE) AS final_px
         FROM o
         WINDOW w AS (ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         ORDER BY o_orderkey""",
    "e18_firstlast_sql" ->
      // decimal running avg replicated in exact HUGEINT unit arithmetic:
      // cumulative sum of 1e-4 units, integer divide at scale 8 with
      // explicit HALF-UP, one double division by 1e8 (both operands exact
      // doubles, so the quotient is the correctly-rounded decimal value —
      // bit-identical to Spark's Decimal(25,8).toDouble)
      """WITH o AS (
           SELECT o_orderkey, o_orderdate, o_totalprice,
                  CAST(CAST(o_totalprice AS DECIMAL(21,4)) * 10000 AS HUGEINT) AS u4
           FROM orders),
         w1 AS (
           SELECT o_orderkey,
                  first_value(o_totalprice) OVER w AS first_px,
                  last_value(o_totalprice) OVER w AS last_px,
                  nth_value(o_totalprice, 5) OVER w AS fifth_px,
                  SUM(u4) OVER wd AS s4,
                  COUNT(*) OVER wd AS c
           FROM o
           WINDOW w AS (ORDER BY o_orderdate, o_orderkey),
                  wd AS (ORDER BY o_orderdate))
         SELECT o_orderkey, first_px, last_px, fifth_px,
                CAST((s4 * 10000) // c +
                     (CASE WHEN 2 * ((s4 * 10000) % c) >= c THEN 1 ELSE 0 END)
                  AS DOUBLE) / 100000000.0 AS run_avg_day
         FROM w1 ORDER BY o_orderkey""",
    "e17_moving_total_sql" ->
      """SELECT o_orderkey,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) OVER w AS DOUBLE) AS mov_total,
                COUNT(*) OVER w AS n_window,
                CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) OVER w AS DOUBLE)
                     / (COUNT(*) OVER w) AS DOUBLE) AS mov_avg,
                CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS mov_min,
                CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS mov_max
         FROM orders
         WINDOW w AS (ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY o_orderkey""",
    "a23_rolling_active_users" ->
      // Bounds-checked sketch gate (the a9b scheme): the exact rolling twin
      // is recomputed here via the 7-day cover explode, and approx_7d_ok is
      // asserted TRUE — an out-of-contract HLL union flips the Spark-side
      // verdict and fails the hash compare.
      """WITH pairs AS (
           SELECT DISTINCT CAST(ts AS DATE) AS uday, user_id FROM events),
         cover AS (
           SELECT uday + CAST(i AS INT) AS day, user_id
           FROM pairs CROSS JOIN (SELECT unnest(range(0, 7)) AS i)),
         ex7 AS (
           SELECT day, COUNT(DISTINCT user_id) AS active_7d_exact
           FROM cover GROUP BY day),
         d1 AS (
           SELECT CAST(ts AS DATE) AS day,
                  COUNT(DISTINCT user_id) AS active_1d_exact
           FROM events GROUP BY 1)
         SELECT d1.day, d1.active_1d_exact, ex7.active_7d_exact,
                TRUE AS approx_7d_ok
         FROM d1 JOIN ex7 ON d1.day = ex7.day
         ORDER BY d1.day""",
    "a22_sessionization" ->
      """WITH e AS (
           SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
         g AS (
           SELECT user_id, event_id, ts,
                  lag(epoch_us(ts)) OVER w AS prev_us,
                  epoch_us(ts) AS us
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         f AS (
           SELECT user_id, event_id, ts, us,
                  CAST(prev_us IS NULL OR us - prev_us > 30 * 60 * 1000000
                       AS BIGINT) AS new_sess
           FROM g),
         sess AS (
           SELECT user_id, ts, us,
                  CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
           FROM f)
         SELECT user_id, session_id,
                MIN(ts) AS session_start, MAX(ts) AS session_end,
                COUNT(*) AS n_events,
                MAX(us) - MIN(us) AS duration_us
         FROM sess GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",
    "e5_gap_fill" ->
      """WITH daily AS (
           SELECT user_id, CAST(ts AS DATE) AS day,
                  arg_max(value, CAST(ts AS TIMESTAMP)) AS close
           FROM events GROUP BY user_id, CAST(ts AS DATE)),
         cal AS (
           SELECT user_id,
                  CAST(unnest(generate_series(CAST(MIN(day) AS TIMESTAMP),
                    CAST(MAX(day) AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
           FROM daily GROUP BY user_id)
         SELECT c.user_id, c.day, d.close,
                last_value(d.close IGNORE NULLS) OVER (
                  PARTITION BY c.user_id ORDER BY c.day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_close,
                CAST(d.close IS NULL AS INT) AS is_gap
         FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
         ORDER BY c.user_id, c.day""",
    "e6_rolling_vol" ->
      """WITH daily AS (
           SELECT user_id, CAST(ts AS DATE) AS day,
                  arg_max(value, CAST(ts AS TIMESTAMP)) AS close
           FROM events GROUP BY user_id, CAST(ts AS DATE)),
         roll AS (
           SELECT user_id, day, close,
             CAST(SUM(CAST(close AS DECIMAL(25,6))) OVER w7 AS DOUBLE) AS sx,
             CAST(SUM(CAST(close * close AS DECIMAL(30,8))) OVER w7 AS DOUBLE) AS sxx,
             CAST(COUNT(*) OVER w7 AS DOUBLE) AS n
           FROM daily
           WINDOW w7 AS (PARTITION BY user_id ORDER BY day
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
         SELECT user_id, day, close,
           CASE WHEN n > 1
             THEN sqrt(greatest((sxx - sx * sx / n) / (n - 1.0), 0.0))
             ELSE NULL END AS vol7,
           CAST(n AS BIGINT) AS n_obs
         FROM roll ORDER BY user_id, day""",
    "e7_correlation" ->
      """WITH daily AS (
           SELECT user_id, CAST(ts AS DATE) AS day,
                  arg_max(value, CAST(ts AS TIMESTAMP)) AS close
           FROM events GROUP BY user_id, CAST(ts AS DATE)),
         stats AS (
           SELECT a.user_id AS u1, b.user_id AS u2,
                  CAST(COUNT(*) AS DOUBLE) AS n,
                  CAST(SUM(CAST(a.close AS DECIMAL(30,8))) AS DOUBLE) AS sx,
                  CAST(SUM(CAST(b.close AS DECIMAL(30,8))) AS DOUBLE) AS sy,
                  CAST(SUM(CAST(a.close * b.close AS DECIMAL(30,8))) AS DOUBLE) AS sxy,
                  CAST(SUM(CAST(a.close * a.close AS DECIMAL(30,8))) AS DOUBLE) AS sxx,
                  CAST(SUM(CAST(b.close * b.close AS DECIMAL(30,8))) AS DOUBLE) AS syy
           FROM daily a JOIN daily b
             ON a.day = b.day AND a.user_id < b.user_id
           WHERE a.user_id < 50
           GROUP BY a.user_id, b.user_id)
         SELECT u1, u2, CAST(n AS BIGINT) AS n_days,
                (n * sxy - sx * sy) /
                  sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS pearson_r
         FROM stats WHERE n >= 20 ORDER BY u1, u2""",
    "e8_drawdown" ->
      """WITH daily AS (
           SELECT user_id, CAST(ts AS DATE) AS day,
                  arg_max(value, CAST(ts AS TIMESTAMP)) AS close
           FROM events GROUP BY user_id, CAST(ts AS DATE))
         SELECT user_id, day, close,
                MAX(close) OVER (PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak,
                (MAX(close) OVER (PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - close)
                / MAX(close) OVER (PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS drawdown
         FROM daily ORDER BY user_id, day""",
    "e9_momentum_rank" ->
      """WITH daily AS (
           SELECT user_id, CAST(ts AS DATE) AS day,
                  arg_max(value, CAST(ts AS TIMESTAMP)) AS close
           FROM events GROUP BY user_id, CAST(ts AS DATE)),
         mom AS (
           SELECT user_id, day, close,
                  lag(close, 20) OVER (PARTITION BY user_id ORDER BY day) AS close_lag20
           FROM daily),
         r AS (
           SELECT user_id, day, close, close / close_lag20 - 1.0 AS mom20
           FROM mom WHERE close_lag20 IS NOT NULL AND close_lag20 <> 0.0)
         SELECT day, row_number() OVER (PARTITION BY day
                  ORDER BY mom20 DESC, user_id) AS mom_rank,
                user_id, close, mom20
         FROM r ORDER BY day, mom_rank""",
    "a20_histogram" ->
      """WITH b AS (
           SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
                  o_totalprice
           FROM orders)
         SELECT bucket, bucket * 25000.0 AS bucket_lo, COUNT(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS sum_price,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE)
                  / COUNT(*) AS avg_price
         FROM b GROUP BY bucket ORDER BY bucket""",
    "q_recent" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS timestamp_utc, user_id, value
         FROM events WHERE event_type = 'click'
         ORDER BY timestamp_utc DESC, event_id LIMIT 5""",
    "q_day" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS timestamp_utc, event_type,
                user_id, value
         FROM events
         WHERE event_type = 'purchase'
           AND CAST(ts AS DATE) = (SELECT MIN(CAST(ts AS DATE)) FROM events
                                   WHERE event_type = 'purchase')
         ORDER BY timestamp_utc, event_id""",
    "q_dim" ->
      """SELECT n.n_nationkey, n.n_name, r.r_name
         FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
         ORDER BY n.n_name""",
    "q_any" ->
      """SELECT event_type, event_id, timestamp_utc, value, rnk
         FROM (SELECT event_type, event_id, CAST(ts AS TIMESTAMP) AS timestamp_utc,
                 value, row_number() OVER (PARTITION BY event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id) AS rnk
               FROM events WHERE event_type IN ('click','purchase','error'))
         WHERE rnk <= 3 ORDER BY event_type, rnk""",
    "q_audit" ->
      """SELECT COUNT(*) AS n_rows,
                CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_quantity,
                CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_extendedprice,
                CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_discount,
                CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_shipdate
         FROM lineitem""",
    "a1_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice, l_discount
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount > 0.05
         ORDER BY l_orderkey, l_linenumber""",
    "a2_agg" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) AS sum_base_price,
                CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,8))) AS DOUBLE) AS sum_disc_price,
                CAST(SUM(CAST(l_discount AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
                COUNT(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "a3_broadcast_join" ->
      """SELECT s.s_name,
                CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) AS revenue,
                COUNT(*) AS n_items
         FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
         GROUP BY s.s_name ORDER BY s.s_name""",
    "a4_sortmerge_join" ->
      """SELECT o.o_orderpriority, COUNT(DISTINCT o.o_orderkey) AS n_orders,
                CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(25,8))) AS DOUBLE) AS revenue
         FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""",
    "a5_star_join" ->
      """SELECT r.r_name, n.n_name,
                CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(25,8))) AS DOUBLE) AS revenue,
                COUNT(*) AS n_lineitems
         FROM customer c
         JOIN orders o ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         GROUP BY r.r_name, n.n_name ORDER BY r.r_name, n.n_name""",
    "a6_topk_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS rnk
               FROM orders)
         WHERE rnk <= 3 ORDER BY o_custkey, rnk""",
    "a7_window_analytic" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
                o_totalprice - lag(o_totalprice) OVER w AS delta_prev,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4)))
                  OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
                  / COUNT(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma3
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderdate, o_orderkey""",
    "a8_semi_anti" ->
      """SELECT 'with_orders' AS grp, c_mktsegment, COUNT(*) AS n
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         GROUP BY c_mktsegment
         UNION ALL
         SELECT 'without_orders' AS grp, c_mktsegment, COUNT(*) AS n
         FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         GROUP BY c_mktsegment
         ORDER BY grp, c_mktsegment""",
    "a9_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS nd_parts,
                COUNT(DISTINCT l_suppkey) AS nd_supps
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // Bounds-checked sketch gate: DuckDB computes the exact side and asserts
    // the contract verdict TRUE — a sketch outside its error bound flips the
    // Spark-side boolean and fails the hash compare (same scheme for
    // a15b/a23/t15).
    "a9b_approx_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS nd_parts,
                TRUE AS approx_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "a10_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
                COALESCE(l_linestatus, 'ALL') AS linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty,
                COUNT(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY returnflag, linestatus""",
    "a10c_grouping_sets" ->
      """-- DuckDB's GROUPING() carries the same bit-vector semantics as
         -- Spark's grouping_id() over the same column order.
         SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                COALESCE(l_returnflag, 'ALL') AS returnflag,
                COALESCE(l_linestatus, 'ALL') AS linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty,
                COUNT(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                 (l_returnflag, l_linestatus))
         ORDER BY gid, returnflag, linestatus""",
    "a11_setops" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         ORDER BY o_custkey""",
    "a12_tumbling_window" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
                event_type, COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",
    "a12b_sliding_window" ->
      """SELECT ws AS window_start, event_type, COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
         FROM (SELECT unnest([date_trunc('hour', CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR,
                              date_trunc('hour', CAST(ts AS TIMESTAMP))]) AS ws,
                      event_type, value
               FROM events)
         GROUP BY ws, event_type ORDER BY ws, event_type""",
    "a12c_session_window" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
         m AS (SELECT *, CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                               < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_s
               FROM e),
         g AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sid
               FROM m)
         SELECT MIN(ts) AS session_start, MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                user_id, COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
         FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""",
    "a13_asof_join" ->
      """WITH purchases AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, MAX(value) AS p_value
           FROM events WHERE event_type = 'purchase'
           GROUP BY user_id, CAST(ts AS TIMESTAMP)),
         clicks AS (
           SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS cts, value
           FROM events WHERE event_type = 'click')
         SELECT c.event_id, c.cts AS timestamp_utc, c.user_id, c.value,
                p.pts AS purchase_ts, p.p_value AS purchase_value
         FROM clicks c ASOF LEFT JOIN purchases p
           ON c.user_id = p.user_id AND p.pts <= c.cts
         ORDER BY c.event_id""",
    // a13b: the native-operator lane computes the SAME declared result as
    // a13 (one as-of semantics, two engine plans), so the oracle is shared —
    // DuckDB's ASOF LEFT JOIN adjudicates both.
    "a13b_asof_join_native" ->
      """WITH purchases AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, MAX(value) AS p_value
           FROM events WHERE event_type = 'purchase'
           GROUP BY user_id, CAST(ts AS TIMESTAMP)),
         clicks AS (
           SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS cts, value
           FROM events WHERE event_type = 'click')
         SELECT c.event_id, c.cts AS timestamp_utc, c.user_id, c.value,
                p.pts AS purchase_ts, p.p_value AS purchase_value
         FROM clicks c ASOF LEFT JOIN purchases p
           ON c.user_id = p.user_id AND p.pts <= c.cts
         ORDER BY c.event_id""",
    // a13c: DuckDB has no forward-direction ASOF JOIN, so the oracle derives
    // "next purchase within the window" through correlated MIN / arg_min
    // subqueries — an independent formulation of the same semantics.
    "a13c_asof_forward_tol" ->
      """WITH purchases AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, MAX(value) AS p_value
           FROM events WHERE event_type = 'purchase'
           GROUP BY user_id, CAST(ts AS TIMESTAMP)),
         clicks AS (
           SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS cts, value
           FROM events WHERE event_type = 'click')
         SELECT c.event_id, c.cts AS timestamp_utc, c.user_id, c.value,
                (SELECT MIN(p.pts) FROM purchases p
                 WHERE p.user_id = c.user_id AND p.pts >= c.cts
                   AND p.pts <= c.cts + INTERVAL 2 HOUR) AS next_purchase_ts,
                (SELECT arg_min(p.p_value, p.pts) FROM purchases p
                 WHERE p.user_id = c.user_id AND p.pts >= c.cts
                   AND p.pts <= c.cts + INTERVAL 2 HOUR) AS next_purchase_value
         FROM clicks c ORDER BY c.event_id""",
    // a13d: DuckDB has no nearest-direction ASOF JOIN either — the oracle
    // ranks a windowed LEFT range join by (|Δts|, backward-first), the
    // independent statement of "closest within the window, ties backward".
    // An unmatched click keeps its single null-extended row (rn = 1).
    "a13d_asof_nearest" ->
      """WITH purchases AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, MAX(value) AS p_value
           FROM events WHERE event_type = 'purchase'
           GROUP BY user_id, CAST(ts AS TIMESTAMP)),
         clicks AS (
           SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS cts, value
           FROM events WHERE event_type = 'click'),
         ranked AS (
           SELECT c.event_id, c.cts, c.user_id, c.value, p.pts, p.p_value,
                  ROW_NUMBER() OVER (PARTITION BY c.event_id ORDER BY
                    ABS(epoch_us(p.pts) - epoch_us(c.cts)),
                    CASE WHEN p.pts <= c.cts THEN 0 ELSE 1 END) AS rn
           FROM clicks c LEFT JOIN purchases p
             ON c.user_id = p.user_id
            AND p.pts >= c.cts - INTERVAL 90 MINUTE
            AND p.pts <= c.cts + INTERVAL 90 MINUTE)
         SELECT event_id, cts AS timestamp_utc, user_id, value,
                pts AS nearest_purchase_ts, p_value AS nearest_purchase_value
         FROM ranked WHERE rn = 1 ORDER BY event_id""",
    // a13e: the temporal join's batch contract — DuckDB's native ASOF with
    // the same watermark cut (strictly below max(ts) - 2 days), so the
    // streaming operator's declared row set is cross-engine adjudicated
    "a13e_temporal_join_closed" ->
      """WITH purchases AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, MAX(value) AS p_value
           FROM events WHERE event_type = 'purchase'
           GROUP BY user_id, CAST(ts AS TIMESTAMP)),
         clicks AS (
           SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS cts, value
           FROM events WHERE event_type = 'click'),
         wm AS (SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 2 DAY AS w FROM events),
         closed AS (SELECT c.* FROM clicks c, wm WHERE c.cts < wm.w)
         SELECT c.event_id, c.cts AS timestamp_utc, c.user_id, c.value,
                p.pts AS version_ts, p.p_value AS version_value
         FROM closed c ASOF LEFT JOIN purchases p
           ON c.user_id = p.user_id AND p.pts <= c.cts
         ORDER BY c.event_id""",
    "e14_scd2_history" ->
      """WITH ch AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(value) AS value
           FROM events WHERE event_type = 'purchase'
           GROUP BY user_id, CAST(ts AS TIMESTAMP))
         SELECT user_id,
                ROW_NUMBER() OVER w AS version,
                ts AS valid_from,
                LEAD(ts) OVER w AS valid_to,
                value,
                LEAD(ts) OVER w IS NULL AS is_current
         FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         ORDER BY user_id, version""",
    "a14_correlated_subquery" -> a14Sql,
    "a10b_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
                COALESCE(l_linestatus, 'ALL') AS linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty,
                COUNT(*) AS n
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY returnflag, linestatus""",
    "a17_interval_join" ->
      """SELECT c.event_id, COUNT(*) AS n_purchases,
                CAST(SUM(CAST(p.value AS DECIMAL(25,6))) AS DOUBLE) AS sum_purchase_value
         FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'click') c
         JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
               FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id
          AND p.ts >= c.ts - INTERVAL 1 HOUR AND p.ts <= c.ts
         GROUP BY c.event_id ORDER BY c.event_id""",
    "a17b_interval_join_binned" ->
      // The oracle states the PLAIN keyless range join; the Spark side's
      // binned rewrite must be semantically invisible.
      """WITH iv AS (SELECT event_id,
                            epoch_us(CAST(ts AS TIMESTAMP)) - 1800000000 AS lo,
                            epoch_us(CAST(ts AS TIMESTAMP)) + 1800000000 AS hi
                     FROM events WHERE event_type = 'purchase' AND value >= 200),
            c AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS c_us, value AS c_value
                  FROM events WHERE event_type = 'click')
         SELECT iv.event_id, COUNT(*) AS n_clicks,
                CAST(SUM(CAST(c.c_value AS DECIMAL(25,6))) AS DOUBLE) AS sum_click_value
         FROM iv JOIN c ON c.c_us >= iv.lo AND c.c_us <= iv.hi
         GROUP BY iv.event_id ORDER BY iv.event_id""",
    "a18_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
                CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
                CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
                  / COUNT(*) AS avg_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "a19_funnel" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
         fv AS (SELECT user_id, MIN(ts) AS f_view FROM e
                WHERE event_type = 'view' GROUP BY user_id),
         fc AS (SELECT e.user_id, MIN(e.ts) AS f_click
                FROM e JOIN fv ON e.user_id = fv.user_id
                WHERE e.event_type = 'click' AND e.ts > fv.f_view GROUP BY e.user_id),
         fp AS (SELECT e.user_id, MIN(e.ts) AS f_purchase
                FROM e JOIN fc ON e.user_id = fc.user_id
                WHERE e.event_type = 'purchase' AND e.ts > fc.f_click GROUP BY e.user_id),
         n AS (SELECT (SELECT COUNT(*) FROM fv) AS n1,
                      (SELECT COUNT(*) FROM fc) AS n2,
                      (SELECT COUNT(*) FROM fp) AS n3)
         SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage,
                CAST(n1 AS BIGINT) AS n_users, CAST(1.0 AS DOUBLE) AS conv_from_prev FROM n
         UNION ALL SELECT 2, 'click_after_view', n2, CAST(n2 AS DOUBLE) / n1 FROM n
         UNION ALL SELECT 3, 'purchase_after_click', n3, CAST(n3 AS DOUBLE) / n2 FROM n
         ORDER BY stage_idx""",
    "a15_quantiles" ->
      """SELECT l_returnflag,
                quantile_cont(l_extendedprice, 0.5) AS p50,
                quantile_cont(l_extendedprice, 0.95) AS p95,
                COUNT(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "a15b_quantiles_approx" ->
      """SELECT l_returnflag,
                quantile_cont(l_extendedprice, 0.5) AS p50,
                quantile_cont(l_extendedprice, 0.95) AS p95,
                COUNT(*) AS n,
                TRUE AS p50_ok, TRUE AS p95_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "a16_pivot" ->
      """SELECT user_id,
                CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
                CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
                CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
                CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
                CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
         FROM events GROUP BY user_id ORDER BY user_id""",
    "c1_curation" ->
      """WITH scored AS (
           SELECT doc_id, text,
                  (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
                    / length(text)) * 0.5
                  + (CAST(len(list_filter(string_split(text, ' '),
                       x -> list_contains(['the','a','of','and','to','is','in'], x))) AS DOUBLE)
                    / len(string_split(text, ' '))) * 0.3
                  + (CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 200
                     THEN 0.2 ELSE 0.0 END) AS quality_score
           FROM documents),
         deduped AS (
           SELECT MIN(doc_id) AS doc_id, MIN(quality_score) AS quality_score
           FROM scored WHERE quality_score >= 0.6
           GROUP BY sha256(text))
         SELECT doc_id, quality_score FROM deduped
         WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10 < 8
         ORDER BY doc_id""",
    "c2_stratified_sample" ->
      """SELECT lang, COUNT(*) AS n_kept
         FROM documents
         WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
               < (CASE lang WHEN 'en' THEN 80 WHEN 'de' THEN 50
                            WHEN 'es' THEN 25 ELSE 10 END)
         GROUP BY lang ORDER BY lang""",
    "c5_sequence_packing" ->
      """WITH RECURSIVE docs AS (
           SELECT source, doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
           FROM documents),
         pack AS (
           SELECT source, doc_id, n_tokens, rn,
                  CAST(0 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS tok_offset,
                  n_tokens AS fill
           FROM docs WHERE rn = 1
           UNION ALL
           SELECT d.source, d.doc_id, d.n_tokens, d.rn,
                  CASE WHEN p.fill + d.n_tokens <= 512 THEN p.seq_id
                       ELSE p.seq_id + 1 END,
                  CASE WHEN p.fill + d.n_tokens <= 512 THEN p.fill
                       ELSE CAST(0 AS BIGINT) END,
                  CASE WHEN p.fill + d.n_tokens <= 512 THEN p.fill + d.n_tokens
                       ELSE d.n_tokens END
           FROM docs d JOIN pack p ON d.source = p.source AND d.rn = p.rn + 1)
         SELECT source, doc_id, seq_id, tok_offset, n_tokens
         FROM pack ORDER BY source, doc_id""")
}
