package graft.sources

import java.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{
  SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{
  InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{
  MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics,
  SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.etl.SnapshotLake

/** `spark.readStream` over a [[graft.etl.SnapshotLake]]'s commit history —
  * the lake's CDC chain as a first-class Structured Streaming SOURCE:
  *
  * {{{
  *   spark.readStream
  *     .format("graft-lake-cdc")            // or classOf[LakeCdcSource].getName
  *     .option("maxGensPerBatch", 10)       // optional admission control
  *     .load(lakePath)
  *     .writeStream …                       // any stock sink
  * }}}
  *
  * It is the engine's one way to follow a lake's commits: position lives
  * in the query's OWN checkpoint (Spark's offset/commit WAL), so restart/resume,
  * exactly-once delivery into idempotent or transactional sinks,
  * `Trigger.AvailableNow` draining, and composition with watermarks and
  * stateful operators all come from the engine instead of hand-rolled
  * state (≙ the reference's 6-hour incremental tick generalized,
  * `airflow/dags/market_data_dag.py:13-37`).
  *
  * A consumer that folds each commit in order (e3i) reads with
  * `maxGensPerBatch = 1` into `foreachBatch`; a non-idempotent fold
  * commits through [[graft.etl.SnapshotLake.foldStreamBatch]] with
  * `_commit_gen` as its batch id, so the MV's watermark is keyed on the
  * lake's history and even a lost checkpoint cannot fold a commit twice.
  *
  * Semantics (the CDC contract):
  *  - OFFSETS ARE MANIFEST GENERATIONS: offset `{"gen": n}` means "every
  *    commit ≤ n consumed". A micro-batch `(start, end]` delivers each
  *    commit's delta — [[graft.etl.SnapshotLake.changes]]`(g-1, g)` — as
  *    the table schema + `_change_type` ∈ {insert, update, delete} +
  *    `_commit_gen` (the commit each row belongs to, so multi-commit
  *    batches keep per-commit attribution, ≙ Delta CDF's
  *    `_commit_version`).
  *  - BOOTSTRAP: a fresh query (no checkpoint) first receives the oldest
  *    retained snapshot as one all-`insert` batch (standard CDC
  *    initial-snapshot semantics), recorded in the initial offset so a
  *    restart before the first commit cannot re-plan a different start.
  *  - VACUUM GUARDRAIL: if the checkpointed position names a generation
  *    no longer retained, the stream FAILS naming it (behind the window =
  *    vacuum outran the consumer; ahead of it = the lake was deleted and
  *    re-created) — never a silent skip. Size retention to the slowest
  *    consumer's lag, the [[graft.etl.SnapshotLake.vacuum]] contract.
  *  - LAG: each `StreamingQueryProgress` source entry carries the metric
  *    `gensBehind` — the newest retained generation minus the consumed
  *    one (0 = caught up).
  *  - SCHEMA: pinned at stream start (current snapshot's recorded schema —
  *    widen-only evolution means restart is sufficient to surface added
  *    columns; older commits read them as null).
  *
  * Execution shape: each batch's deltas are computed by the SAME
  * partition-scoped `changes` read the batch faces use (manifest diff
  * first — untouched partitions never read), STAGED once as parquet under
  * the source's checkpoint directory, and served to executors through
  * Spark's own V2 parquet batch machinery (vectorized reader, no custom
  * row decoding). Staging is idempotent per generation (`_SUCCESS`-marked,
  * replay-safe) and GC'd on `commit(end)`, so scratch usage is bounded by
  * the uncommitted window. At 100 TB the cost per tick is proportional to
  * what its commits touched — the diff join runs distributed; the driver
  * handles O(#retained) manifest names only.
  */
class LakeCdcSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-lake-cdc"

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft-lake-cdc needs the lake's table root: .load(<path>) or " +
        ".option(\"path\", <path>)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LakeCdcSource.cdcSchemaOf(SparkSession.active, pathOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new LakeCdcTable(pathOf(options), schema, SparkSession.active,
      Option(options.get("maxGensPerBatch")).map { v =>
        val n = try v.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"maxGensPerBatch must be a positive integer, got '$v'")
        }
        require(n > 0, s"maxGensPerBatch must be positive, got $n")
        n
      })
  }

  override def supportsExternalMetadata(): Boolean = false
}

private[sources] object LakeCdcSource {
  val ChangeTypeCol = "_change_type"
  val CommitGenCol = "_commit_gen"

  /** The stream's schema: the lake's CURRENT snapshot schema (the
    * recorded one — the widen-only evolution contract) + the two CDC
    * metadata columns.
    */
  def cdcSchemaOf(spark: SparkSession, lakePath: String): StructType = {
    val m = SnapshotLake.currentManifest(spark, lakePath).getOrElse(
      throw new IllegalStateException(
        s"$lakePath has no published snapshot — nothing to stream"))
    val base = SnapshotLake.snapshotSchema(spark, lakePath, m)
      .getOrElse(throw new IllegalStateException(
        s"$lakePath has no resolvable schema (none recorded, no readable " +
          "gen dir) — the table never held a row and was not DDL-created"))
    require(!base.fieldNames.contains(ChangeTypeCol) &&
      !base.fieldNames.contains(CommitGenCol),
      s"lake schema already carries a $ChangeTypeCol/$CommitGenCol column — " +
        "the CDC stream cannot disambiguate its metadata from table data")
    base.add(ChangeTypeCol, StringType).add(CommitGenCol, LongType)
  }
}

/** The V2 table face of the CDC stream: read-only, micro-batch only. */
private[sources] class LakeCdcTable(
    lakePath: String,
    cdcSchema: StructType,
    spark: SparkSession,
    maxGensPerBatch: Option[Long]) extends Table with SupportsRead {

  override def name(): String = s"graft-lake-cdc `$lakePath`"

  override def schema(): StructType = cdcSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = cdcSchema
        override def description(): String = name()
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new LakeCdcMicroBatchStream(spark, lakePath, cdcSchema,
            checkpointLocation, maxGensPerBatch)
      }
    }
}

/** Offset = the newest fully-consumed manifest generation. The INITIAL
  * offset additionally records the bootstrap generation (the oldest
  * retained snapshot at stream start, delivered as one all-insert batch):
  * once in the checkpoint's offset log, a restart before the first commit
  * re-plans the identical bootstrap instead of re-deriving a possibly
  * different one from a moved retention window.
  */
private[sources] case class LakeCdcOffset(gen: Long, bootstrap: Option[Long])
  extends Offset {
  override def json(): String = bootstrap match {
    case Some(b) => s"""{"gen":$gen,"bootstrap":$b}"""
    case None => s"""{"gen":$gen}"""
  }
}

private[sources] object LakeCdcOffset {
  private val WithBootstrap =
    """\s*\{\s*"gen"\s*:\s*(-?\d+)\s*,\s*"bootstrap"\s*:\s*(-?\d+)\s*\}\s*""".r
  private val Plain = """\s*\{\s*"gen"\s*:\s*(-?\d+)\s*\}\s*""".r
  def fromJson(json: String): LakeCdcOffset = json match {
    case WithBootstrap(g, b) => LakeCdcOffset(g.toLong, Some(b.toLong))
    case Plain(g) => LakeCdcOffset(g.toLong, None)
    case other => throw new IllegalArgumentException(
      s"unrecognized graft-lake-cdc offset: $other")
  }
}

private[sources] class LakeCdcMicroBatchStream(
    spark: SparkSession,
    lakePath: String,
    cdcSchema: StructType,
    checkpointLocation: String,
    maxGensPerBatch: Option[Long])
  extends MicroBatchStream with SupportsTriggerAvailableNow
  with ReportsSourceMetrics {

  import LakeCdcSource.{ChangeTypeCol, CommitGenCol}

  private val stagedRoot = new Path(checkpointLocation, "graft-staged")
  private def fs: FileSystem =
    stagedRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Fixed at [[prepareForTriggerAvailableNow]] so an AvailableNow run
    * drains to the generation current at START and then stops, even if
    * writers keep committing.
    */
  @volatile private var availableNowTarget: Option[Long] = None

  /** The current batch's staged-parquet Batch — set by
    * [[planInputPartitions]], read by [[createReaderFactory]] (Spark
    * evaluates them per micro-batch in that order; the factory falls back
    * to a schema-identical template over zero files if ever asked first).
    */
  @volatile private var currentBatch: org.apache.spark.sql.connector.read.Batch = _

  private def retained(): Seq[Long] = SnapshotLake.retainedGens(spark, lakePath)

  private def parquetBatchOver(
      dirs: Seq[String]): org.apache.spark.sql.connector.read.Batch =
    ParquetTable(s"graft-lake-cdc-staged", spark,
      CaseInsensitiveStringMap.empty(), dirs, Some(cdcSchema),
      classOf[ParquetFileFormat])
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build().toBatch

  override def initialOffset(): Offset = {
    val gens = retained()
    require(gens.nonEmpty,
      s"$lakePath has no published snapshot — nothing to stream")
    LakeCdcOffset(gens.head - 1, Some(gens.head))
  }

  override def deserializeOffset(json: String): Offset =
    LakeCdcOffset.fromJson(json)

  override def prepareForTriggerAvailableNow(): Unit = {
    val gens = retained()
    require(gens.nonEmpty,
      s"$lakePath has no published snapshot — nothing to stream")
    availableNowTarget = Some(gens.last)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[LakeCdcOffset]
    val gens = retained()
    require(gens.nonEmpty,
      s"$lakePath has no published snapshot — nothing to stream")
    // the reset guard, at ADMISSION time: a lake deleted and re-created at
    // the same path restarts its generation counter, and silently
    // reporting "caught up" would skip the new table's entire history
    if (s.gen > gens.last)
      throw new IllegalStateException(
        s"stream checkpoint at $checkpointLocation last consumed snapshot " +
          s"${s.gen} of $lakePath, but the lake's newest retained snapshot " +
          s"is ${gens.last} — the lake was reset (deleted and re-created) " +
          "under this stream's position. Start the query from a fresh " +
          "checkpoint to re-bootstrap from the new table's history.")
    val target = availableNowTarget.fold(gens.last)(math.min(_, gens.last))
    val capped = maxGensPerBatch.fold(target)(n => math.min(target, s.gen + n))
    if (capped <= s.gen) LakeCdcOffset(s.gen, s.bootstrap) // caught up
    else LakeCdcOffset(capped, None)
  }

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead (this source " +
      "implements SupportsAdmissionControl)")

  override def reportLatestOffset(): Offset = {
    val gens = retained()
    if (gens.isEmpty) null else LakeCdcOffset(gens.last, None)
  }

  /** Stage generation `g`'s delta (or the bootstrap snapshot) as parquet,
    * idempotently: a `_SUCCESS`-complete dir whose schema still matches is
    * reused verbatim on replay; a partial (crash mid-write) or
    * schema-stale one (stream restarted after a widen) is rewritten.
    */
  private def stageGen(g: Long, frameOf: () => org.apache.spark.sql.DataFrame): String = {
    val dir = new Path(stagedRoot, f"gen-$g%020d")
    val done = new Path(dir, "_SUCCESS")
    if (fs.exists(done)) {
      val staged = scala.util.Try(spark.read.parquet(dir.toString).schema)
      if (staged.toOption.exists(_.fieldNames.sameElements(cdcSchema.fieldNames)))
        return dir.toString
      fs.delete(dir, true)
    } else if (fs.exists(dir)) fs.delete(dir, true)
    frameOf()
      .select(cdcSchema.fieldNames.map(col).toSeq: _*)
      .write.mode("overwrite").parquet(dir.toString)
    dir.toString
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LakeCdcOffset]
    val e = end.asInstanceOf[LakeCdcOffset]
    val gens = retained()
    val dataCols = cdcSchema.fieldNames.toSeq
      .filterNot(Set(ChangeTypeCol, CommitGenCol))
    def missing(g: Long, role: String): Nothing =
      throw new IllegalStateException(
        s"stream checkpoint at $checkpointLocation needs snapshot $g of " +
          s"$lakePath as the $role, but it is no longer retained (oldest " +
          s"retained: ${gens.headOption.getOrElse("none")}) — a vacuum " +
          "outran this stream and the incremental chain is broken. Raise " +
          "vacuum retention above the stream's lag, or start the query " +
          "from a fresh checkpoint to re-bootstrap from the current " +
          "snapshot.")
    val (from, bootstrapDir) = s.bootstrap match {
      case Some(b) if b <= e.gen =>
        if (!gens.contains(b)) missing(b, "bootstrap snapshot")
        val dir = stageGen(b, () => SnapshotLake.readAt(spark, lakePath, b)
          .select(dataCols.map(col): _*)
          .withColumn(ChangeTypeCol, lit("insert"))
          .withColumn(CommitGenCol, lit(b)))
        (b, Some(dir))
      case Some(_) => (e.gen, None) // empty range before the bootstrap
      case None =>
        // the per-commit chain anchors on the START snapshot — it must
        // still be retained to diff against
        if (e.gen > s.gen && !gens.contains(s.gen)) missing(s.gen, "diff base")
        (s.gen, None)
    }
    val deltaDirs = ((from + 1) to e.gen).map { g =>
      if (!gens.contains(g)) missing(g, s"commit $g")
      stageGen(g, () => SnapshotLake.changes(spark, lakePath, g - 1, g)
        .select((dataCols :+ ChangeTypeCol).map(col): _*)
        .withColumn(CommitGenCol, lit(g)))
    }
    val dirs = bootstrapDir.toSeq ++ deltaDirs
    if (dirs.isEmpty) {
      currentBatch = null
      return Array.empty
    }
    val batch = parquetBatchOver(dirs)
    currentBatch = batch
    batch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    Option(currentBatch).getOrElse(parquetBatchOver(Nil)).createReaderFactory()

  /** Offsets ≤ `end` are durably recorded in the query's commit log —
    * their staged scratch can never be replayed again; GC it so scratch
    * usage is bounded by the uncommitted window.
    */
  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[LakeCdcOffset]
    if (!fs.exists(stagedRoot)) return
    val GenDir = """gen-(\d{20})""".r
    fs.listStatus(stagedRoot).foreach { st =>
      st.getPath.getName match {
        case GenDir(g) if g.toLong <= e.gen => fs.delete(st.getPath, true)
        case _ => ()
      }
    }
  }

  override def metrics(consumed: util.Optional[Offset]): util.Map[String, String] =
    retained().lastOption.zip(Option(consumed.orElse(null))).map { case (newest, o) =>
      util.Map.of("gensBehind", (newest - LakeCdcOffset.fromJson(o.json()).gen).toString)
    }.getOrElse(util.Map.of[String, String]())

  override def stop(): Unit = ()
}
