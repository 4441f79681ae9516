package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{
  Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog,
  TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.etl.SnapshotLake

/** The SQL face of the manifest-pointer [[graft.etl.SnapshotLake]]: a
  * READ-ONLY `TableCatalog` that resolves `SELECT … FROM <cat>.<table>`
  * (and `VERSION AS OF n` / `TIMESTAMP AS OF t` time travel ≙
  * [[SnapshotLake.readAt]]) through the lake's published manifests —
  * the reference's whole value proposition is raw SQL over its tables
  * (`/root/reference/README.md:316-357`), so the lake cannot stay
  * API-only.
  *
  * Registration (per session or cluster-wide):
  * {{{
  *   spark.conf.set("spark.sql.catalog.lake", classOf[LakeCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.lake.root", "/warehouse/lakes")
  *   spark.sql("SELECT * FROM lake.quotes VERSION AS OF 3")
  * }}}
  * Each table is the directory `root/<name>` holding a SnapshotLake.
  *
  * `loadTable` resolves the (named or current) manifest ON THE DRIVER —
  * O(#partitions) metadata, no file listing — and hands the snapshot's
  * file index ([[SnapshotLake.fileIndex]]: the generations' file records,
  * never a listing) to Spark's OWN V2 `ParquetTable`: the scan gets the
  * native vectorized parquet reader, filter/column pushdown, and AQE for
  * free, and stays pinned to the resolved snapshot (gen dirs are
  * immutable until vacuum — the same stability contract as
  * [[SnapshotLake.read]]). `INSERT INTO` and `MERGE INTO` route through
  * [[SnapshotLake.merge]]'s keyed LWW commit under the contract the current
  * manifest records ([[SnapshotLake.mergeSpecOf]]). `CREATE TABLE …
  * TBLPROPERTIES ('merge_keys'=…)` bootstraps a lake, `ALTER TABLE … ADD
  * COLUMN` widens it, and `DROP TABLE` purges it under `allow_drop=true`;
  * `INSERT OVERWRITE`, other `ALTER TABLE` changes, `RENAME TABLE` and
  * `DROP TABLE` without `allow_drop` refuse loudly.
  *
  * Time travel: `VERSION AS OF n` loads manifest n exactly (must be
  * retained); `TIMESTAMP AS OF t` loads the newest manifest PUBLISHED at
  * or before t, where the publish time is the stamp each commit records
  * in its own manifest header (mtime is only a legacy fallback — it does
  * not survive copy/rsync/migration).
  */
class LakeCatalog extends TableCatalog with SupportsNamespaces {

  private var catName: String = _
  private var root: String = _
  private var allowDrop: Boolean = false

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    root = options.get("root")
    require(root != null && root.nonEmpty,
      s"catalog '$name' needs spark.sql.catalog.$name.root = <lakes dir>")
    // DROP TABLE stays a loud refusal unless the operator opts the CATALOG
    // in — destructive DDL is a deployment decision, not a query decision
    allowDrop = options.getBoolean("allow_drop", false)
  }

  override def name(): String = catName

  private def spark: SparkSession = SparkSession.active

  /** Identifier segments become FILESYSTEM path components — a quoted
    * identifier containing a separator or dot-segment (`` `../secrets` ``)
    * would escape the catalog root and expose arbitrary parquet
    * directories as lake tables through SQL. Reject, don't escape: no
    * legitimate lake table is named that way.
    */
  private def tablePath(ident: Identifier): String = {
    val segs = ident.namespace().toSeq :+ ident.name()
    segs.foreach { s =>
      require(s.nonEmpty && s != "." && s != ".." &&
        !s.contains('/') && !s.contains('\\'),
        s"illegal table identifier segment '$s' in $catName catalog: " +
          "segments must not be empty, '.', '..', or contain path separators")
    }
    segs.foldLeft(root)((p, s) => s"$p/$s")
  }

  private def noSuch(ident: Identifier): Nothing =
    throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
      Seq(catName) ++ ident.namespace() :+ ident.name())

  private def parquetTable(ident: Identifier, m: SnapshotLake.Manifest,
      path: String): Table = {
    // any session that resolves a lake table can MERGE INTO it — the
    // strategy registry is the session's, so stamp it here (idempotent)
    LakeMergeExec.ensureRegistered(spark)
    new LakeTable(ident.name(), path, m, spark)
  }

  override def loadTable(ident: Identifier): Table = {
    val path = tablePath(ident)
    SnapshotLake.currentManifest(spark, path) match {
      case Some(m) => parquetTable(ident, m, path)
      case None => noSuch(ident)
    }
  }

  override def loadTable(ident: Identifier, version: String): Table = {
    val path = tablePath(ident)
    val gen = try version.toLong catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$catName.$ident VERSION AS OF takes a manifest number, got '$version'")
    }
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(new Path(path, "_manifests"), f"manifest-$gen%020d")
    if (!fs.exists(p)) noSuch(ident)
    parquetTable(ident, SnapshotLake.manifestAt(spark, path, gen), path)
  }

  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    // timestamp arrives in MICROseconds since epoch. Publish times come
    // from each manifest's OWN header stamp (SnapshotLake.publishTimeOf),
    // never from filesystem mtime alone — a copy/rsync/backup-restore
    // rewrites mtimes and would silently re-date every snapshot; legacy
    // stampless manifests fall back to mtime with that documented caveat.
    val path = tablePath(ident)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(path, "_manifests")
    if (!fs.exists(dir)) noSuch(ident)
    val cutMs = timestamp / 1000L
    val cands = fs.listStatus(dir).toSeq
      .filter(s => s.getPath.getName.matches("manifest-\\d{20}"))
      .filter(s => SnapshotLake.publishTimeOf(fs, s) <= cutMs)
    if (cands.isEmpty) noSuch(ident)
    val gen = cands.map(_.getPath.getName.stripPrefix("manifest-").toLong).max
    parquetTable(ident, SnapshotLake.manifestAt(spark, path, gen), path)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = namespace.foldLeft(root)((p, s) => s"$p/$s")
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(base)
    if (!fs.exists(dir)) return Array.empty
    fs.listStatus(dir).filter(_.isDirectory)
      .filter(s => fs.exists(new Path(s.getPath, "_manifests")))
      .map(s => Identifier.of(namespace, s.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    SnapshotLake.currentManifest(spark, tablePath(ident)).isDefined

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"$catName carries no $op face over snapshot lakes — a lake is " +
        "bootstrapped by CREATE TABLE (or its first SnapshotLake.merge), " +
        "and lifecycle is vacuum/retention, never destructive DDL")

  /** SQL `CREATE TABLE` — the DDL bootstrap, so a SQL-only user can create
    * a lake table and land batch 1 via INSERT INTO / MERGE INTO without
    * the Scala API:
    * {{{
    *   CREATE TABLE lake.quotes (user_id BIGINT, event_type STRING, …)
    *   PARTITIONED BY (event_type)
    *   TBLPROPERTIES ('merge_keys'='user_id,event_type', 'version_col'='ts',
    *                  'tie_breakers'='event_id', 'stats_cols'='ts')
    * }}}
    * The properties declare the merge CONTRACT every write face resolves
    * ([[graft.etl.SnapshotLake.MergeSpec]]): `merge_keys` and
    * `version_col` are required; the partition column comes from
    * `PARTITIONED BY (one identity column)` or a `partition_col` property
    * (they must agree if both given); `tie_breakers`/`stats_cols` are
    * optional lists. Routes through [[graft.etl.SnapshotLake.create]]:
    * snapshot generation 0 publishes an empty manifest + the declared
    * schema, so reads answer the declared shape immediately and the first
    * INSERT's widen-only evolution check enforces it. Duplicate CREATE
    * refuses (no IF NOT EXISTS shortcut — the refusal is the signal).
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val path = tablePath(ident)
    val props = properties.asScala
    def listProp(k: String): Seq[String] =
      props.get(k).map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Nil)
    val keys = listProp("merge_keys")
    require(keys.nonEmpty,
      s"CREATE TABLE $catName.$ident needs TBLPROPERTIES " +
        "('merge_keys'='k1,k2', …) — the lake's writes are keyed LWW " +
        "merges and need the key identity declared up front")
    val versionCol = props.get("version_col").map(_.trim).filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        s"CREATE TABLE $catName.$ident needs TBLPROPERTIES " +
          "('version_col'='<col>') — the column last-write-wins resolves on"))
    // partition column: PARTITIONED BY (one identity column) and/or the
    // 'partition_col' property — exactly one partition dimension, plain
    // identity (bucket/days/etc. transforms have no lake layout)
    val fromTransform = partitions.toSeq match {
      case Nil => None
      case Seq(t) => t.references().toSeq match {
        case Seq(ref) if t.name() == "identity" && ref.fieldNames().length == 1 =>
          Some(ref.fieldNames().head)
        case _ => throw new IllegalArgumentException(
          s"CREATE TABLE $catName.$ident: PARTITIONED BY must name one " +
            s"plain column (got $t) — the lake partitions by one identity " +
            "column")
      }
      case ts => throw new IllegalArgumentException(
        s"CREATE TABLE $catName.$ident: the lake partitions by exactly one " +
          s"column, got ${ts.mkString(", ")}")
    }
    val fromProp = props.get("partition_col").map(_.trim).filter(_.nonEmpty)
    require(fromTransform.isEmpty || fromProp.isEmpty ||
      fromTransform == fromProp,
      s"PARTITIONED BY (${fromTransform.get}) and partition_col=" +
        s"${fromProp.get} disagree")
    val partitionCol = fromTransform.orElse(fromProp).getOrElse(
      throw new IllegalArgumentException(
        s"CREATE TABLE $catName.$ident needs a partition column — " +
          "PARTITIONED BY (<col>) or TBLPROPERTIES ('partition_col'='<col>')"))
    SnapshotLake.create(spark, path, schema,
      SnapshotLake.MergeSpec(keys, versionCol, partitionCol,
        listProp("tie_breakers"), listProp("stats_cols")))
    parquetTable(ident, SnapshotLake.manifestAt(spark, path, 0L), path)
  }

  /** SQL `ALTER TABLE … ADD COLUMN(S)` — the widen-only evolution
    * contract's one DDL verb, routed through
    * [[graft.etl.SnapshotLake.addColumn]]'s metadata-only commit (new
    * generation, same partition entries, widened recorded schema; existing
    * rows answer null; the CDC delta across it is empty). Only top-level
    * nullable columns APPENDED to the schema are expressible — a position
    * (`FIRST`/`AFTER`), a nested path, or NOT NULL refuses, and every
    * other change class (rename, drop, retype, comment/property edits)
    * refuses naming the contract: the lake widens, it never rewrites
    * history to un-declare a column.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = tablePath(ident)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"ALTER TABLE $catName.$ident: nested column " +
            s"${add.fieldNames.mkString(".")} — the lake adds TOP-LEVEL " +
            "columns only (declare nested shapes as a struct column)")
        require(add.position == null,
          s"ALTER TABLE $catName.$ident: column position is fixed — new " +
            "columns APPEND (the recorded order is what SELECT * and " +
            "positional INSERT bind to across commits); drop FIRST/AFTER")
        require(add.isNullable,
          s"ALTER TABLE $catName.$ident: ADD COLUMN must be nullable — " +
            "existing rows have no value for it")
        require(add.defaultValue == null,
          s"ALTER TABLE $catName.$ident: DEFAULT values are not part of " +
            "the lake's contract (existing rows answer null; a default " +
            "would make two reads of one row disagree across engines) — " +
            "null-fill or backfill explicitly")
        SnapshotLake.addColumn(spark, path,
          org.apache.spark.sql.types.StructField(
            add.fieldNames.head, add.dataType, nullable = true,
            Option(add.comment).map(c =>
                new org.apache.spark.sql.types.MetadataBuilder()
                  .putString("comment", c).build())
              .getOrElse(org.apache.spark.sql.types.Metadata.empty)))
      case other =>
        throw new UnsupportedOperationException(
          s"$catName supports ALTER TABLE ADD COLUMN only (the lake " +
            s"evolves widen-only; got ${other.getClass.getSimpleName}) — " +
            "rename/drop/retype would re-write or un-declare history")
    }
    loadTable(ident)
  }

  /** SQL `DROP TABLE` — the lifecycle symmetry of `CREATE TABLE`, routed
    * through [[graft.etl.SnapshotLake.drop]]'s lease-guarded purge
    * (every manifest, gen dir, and file record removed; time travel to any
    * former snapshot is gone; a re-CREATE starts a fresh history at gen 0).
    * Refuses loudly UNLESS the catalog opted in with
    * `spark.sql.catalog.<name>.allow_drop = true` — a takedown verb this
    * destructive stays behind an explicit operator decision, the same
    * posture as vacuum retention.
    */
  override def dropTable(ident: Identifier): Boolean = {
    if (!allowDrop)
      throw new UnsupportedOperationException(
        s"$catName refuses DROP TABLE by default — a dropped lake loses " +
          "its ENTIRE manifest history (no time travel back). If that is " +
          s"intended, opt the catalog in: spark.sql.catalog.$catName" +
          ".allow_drop = true")
    val path = tablePath(ident)
    if (SnapshotLake.currentManifest(spark, path).isEmpty) false
    else SnapshotLake.drop(spark, path)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    readOnly("RENAME TABLE")

  // ---- namespaces: directories under root, read-only ----

  override def listNamespaces(): Array[Array[String]] = Array(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) Array.empty
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
      Seq(catName) ++ namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespace.isEmpty) Map.empty[String, String].asJava
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
      Seq(catName) ++ namespace)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = readOnly("CREATE NAMESPACE")

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = readOnly("ALTER NAMESPACE")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    readOnly("DROP NAMESPACE")
}

/** One resolved SNAPSHOT of a lake as a read-only V2 table. Scans delegate
  * to Spark's native `ParquetTable` over the manifest's immutable files,
  * but THROUGH [[LakeScanBuilder]], which intercepts the pushed filters to
  * apply the file records' per-file min/max FIRST: a simple
  * range/equality conjunct on a stats column excludes whole files before
  * the scan's file index is built — then the same filters continue into
  * the parquet scan for row-group pushdown. Pruning only ever narrows the
  * FILE list conservatively (files without recorded stats are always
  * kept, every filter is still evaluated post-scan), so results are
  * byte-identical to the unpruned scan.
  */
private[sources] class LakeTable(
    tableName: String,
    lakePath: String,
    manifest: SnapshotLake.Manifest,
    spark: SparkSession)
  extends Table
  with org.apache.spark.sql.connector.catalog.SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete {

  private[sources] def path: String = lakePath

  /** The session that resolved this table — commits must run through IT
    * (its Hadoop conf, its catalog state), never `SparkSession.active`,
    * which in a multi-session application can be a different session.
    */
  private[sources] def session: SparkSession = spark

  override def name(): String = tableName

  override lazy val schema: StructType =
    // the snapshot's RECORDED schema (the widen-only evolution contract:
    // after an add-column merge the catalog must answer with the union,
    // and time travel with each snapshot's own shape); a table that never
    // held a row answers with the empty struct
    SnapshotLake.snapshotSchema(spark, lakePath, manifest).getOrElse(new StructType())

  override def capabilities(): util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ,
      org.apache.spark.sql.connector.catalog.TableCapability.V1_BATCH_WRITE)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder =
    new LakeScanBuilder(this, lakePath, manifest, schema, options, spark)

  /** The SQL WRITE face: `INSERT INTO <cat>.<table> …` plans an
    * `AppendData` over this table and routes the batch through
    * [[SnapshotLake.merge]]'s keyed LWW commit — the merge contract comes
    * from the current manifest ([[SnapshotLake.mergeSpecOf]]), so SQL
    * writers and API writers share ONE upsert semantics, snapshot
    * isolation, and the single-writer lease (the [[JdbcUpsertTable]]
    * V1-write pattern). `INSERT OVERWRITE`
    * has no truncate face and refuses at analysis; DDL stays read-only.
    */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo): org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
              if (overwrite) throw new UnsupportedOperationException(
                s"lake table $tableName is append-merge only: INSERT " +
                  "OVERWRITE would discard history; use SnapshotLake " +
                  "vacuum/retention for lifecycle management")
              // the contract is read inside the lease (mergeViaSpec), from
              // the snapshot this write commits over
              SnapshotLake.mergeViaSpec(data.sparkSession, lakePath, data)
            }
        }
    }

  /** The SQL DELETE face: `DELETE FROM <cat>.<table> WHERE …` routes
    * through [[SnapshotLake.delete]]'s partition-scoped atomic manifest
    * commit — the takedown operator (drop doc_ids from a corpus as one
    * commit, history intact until vacuum). Spark only calls this when the
    * WHOLE condition translated to source filters ([[canDeleteWhere]];
    * V2 predicates arrive pre-converted by the `SupportsDelete` default
    * methods), so a condition this face cannot re-express — a UDF, a
    * subquery, arithmetic — refuses at analysis instead of silently
    * deleting the wrong rows. Filters are conjuncts; an empty array is
    * SQL's unconditional `DELETE FROM t` (every partition dropped,
    * manifest emptied, history retained).
    */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => LakeTable.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val pred = filters.map(f => LakeTable.filterToColumn(f).getOrElse(
        throw new UnsupportedOperationException(
          s"lake table $tableName cannot translate $f into a delete " +
            "predicate — rewrite the DELETE condition with plain " +
            "column/literal comparisons")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    SnapshotLake.delete(spark, lakePath, pred)
  }
}

private[sources] object LakeTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  /** V1 source `Filter` → `Column`, the exact-semantics subset (None =
    * not expressible, the caller refuses). Attribute names are
    * backtick-quoted — lake schemas are flat, so a dotted name is a
    * literal column name, not a struct path.
    */
  private[sources] def filterToColumn(f: Filter): Option[Column] = {
    def c(a: String) = col(s"`$a`")
    f match {
      case EqualTo(a, v) => Some(c(a) === lit(v))
      case EqualNullSafe(a, v) => Some(c(a) <=> lit(v))
      case GreaterThan(a, v) => Some(c(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
      case LessThan(a, v) => Some(c(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(c(a) <= lit(v))
      case In(a, vs) => Some(c(a).isin(vs.toSeq.map(lit): _*))
      case IsNull(a) => Some(c(a).isNull)
      case IsNotNull(a) => Some(c(a).isNotNull)
      case And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case Not(x) => filterToColumn(x).map(!_)
      case StringStartsWith(a, v) => Some(c(a).startsWith(v))
      case StringEndsWith(a, v) => Some(c(a).endsWith(v))
      case StringContains(a, v) => Some(c(a).contains(v))
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }
}

private[sources] class LakeScanBuilder(
    table: LakeTable,
    lakePath: String,
    manifest: SnapshotLake.Manifest,
    tableSchema: StructType,
    options: CaseInsensitiveStringMap,
    spark: SparkSession)
  extends org.apache.spark.sql.connector.read.ScanBuilder
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  import org.apache.spark.sql.catalyst.expressions.{
    AttributeReference, EqualNullSafe, EqualTo, Expression, GreaterThan,
    GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal}

  /** The snapshot entries and the per-file keep test the scan reads —
    * narrowed by [[pushFilters]] before [[inner]] is first built.
    */
  private var entries: Seq[SnapshotLake.Entry] = manifest.entries
  private var keep: SnapshotLake.LiveFile => Boolean = _ => true

  /** Spark's parquet scan builder over the lake's non-listing file index. */
  private lazy val inner: org.apache.spark.sql.connector.read.ScanBuilder = {
    val index = SnapshotLake.fileIndex(spark, lakePath, entries, keep)
    new ParquetTable(table.name(), spark, options,
        index.rootPaths.map(_.toString), Some(tableSchema), classOf[ParquetFileFormat]) {
      override lazy val fileIndex: PartitioningAwareFileIndex = index
    }.newScanBuilder(options)
  }

  /** Per-column interval DISJUNCTIONS from the pushable conjuncts —
    * inclusive bounds only ever WIDEN an exclusive predicate, the
    * conservative direction. Range/equality conjuncts give one interval;
    * `IN` lists (and their optimized `InSet` form, plus non-null
    * `EqualNullSafe`) give one POINT interval per value — null elements
    * are dropped (a null never matches IN/= in a kept row, so pruning on
    * the non-null points alone stays lossless).
    */
  private def slicesOf(
      filters: Seq[Expression]): Seq[(String, Seq[(Option[Any], Option[Any])])] = {
    def conv(dt: org.apache.spark.sql.types.DataType): Any => Any =
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(dt)
    def ext(l: Literal): Any = conv(l.dataType)(l.value)
    def one(col: String, lo: Option[Any], hi: Option[Any]) =
      (col, Seq((lo, hi)))
    filters.collect {
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) if l.value != null =>
        one(a.name, Some(ext(l)), None)
      case GreaterThan(a: AttributeReference, l: Literal) if l.value != null =>
        one(a.name, Some(ext(l)), None)
      case LessThanOrEqual(a: AttributeReference, l: Literal) if l.value != null =>
        one(a.name, None, Some(ext(l)))
      case LessThan(a: AttributeReference, l: Literal) if l.value != null =>
        one(a.name, None, Some(ext(l)))
      case EqualTo(a: AttributeReference, l: Literal) if l.value != null =>
        one(a.name, Some(ext(l)), Some(ext(l)))
      case EqualTo(l: Literal, a: AttributeReference) if l.value != null =>
        one(a.name, Some(ext(l)), Some(ext(l)))
      case EqualNullSafe(a: AttributeReference, l: Literal) if l.value != null =>
        one(a.name, Some(ext(l)), Some(ext(l)))
      case EqualNullSafe(l: Literal, a: AttributeReference) if l.value != null =>
        one(a.name, Some(ext(l)), Some(ext(l)))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) if l.value != null =>
        one(a.name, None, Some(ext(l)))
      case GreaterThan(l: Literal, a: AttributeReference) if l.value != null =>
        one(a.name, None, Some(ext(l)))
      case LessThanOrEqual(l: Literal, a: AttributeReference) if l.value != null =>
        one(a.name, Some(ext(l)), None)
      case LessThan(l: Literal, a: AttributeReference) if l.value != null =>
        one(a.name, Some(ext(l)), None)
      case In(a: AttributeReference, vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) &&
            vs.exists { case l: Literal => l.value != null } =>
        (a.name, vs.collect { case l: Literal if l.value != null =>
          (Some(ext(l)): Option[Any], Some(ext(l)): Option[Any]) })
      case InSet(a: AttributeReference, hset)
          if hset.nonEmpty && hset.exists(_ != null) =>
        (a.name, hset.toSeq.filter(_ != null).map { v =>
          val sv = conv(a.dataType)(v)
          (Some(sv): Option[Any], Some(sv): Option[Any])
        })
    }
  }

  /** MANIFEST-level partition pruning: point predicates (=, IN) on the
    * lake's PARTITION column drop whole manifest entries before any file
    * is listed — the manifest records each partition's value string (the
    * same `cast(v AS STRING)` the merge routed rows by, evaluated here
    * under the engine's UTC invariant), so a point matches a partition
    * iff the strings match. Points only: a RANGE bound would compare
    * lexicographically against a typed value — not conservative — so
    * ranges fall through to the (typed) per-file stats.
    */
  private def prunePartitions(
      m: SnapshotLake.Manifest,
      slices: Seq[(String, Seq[(Option[Any], Option[Any])])]): SnapshotLake.Manifest = {
    val dt = tableSchema.fields.find(_.name == m.partitionCol).map(_.dataType)
      .getOrElse(return m)
    val pointSets = slices.collect {
      case (c, intervals)
          if c == m.partitionCol && intervals.nonEmpty &&
            intervals.forall(iv => iv._1.isDefined && iv._1 == iv._2) =>
        intervals.flatMap(_._1).flatMap { v =>
          Option(org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt),
            org.apache.spark.sql.types.StringType, Option("UTC")).eval())
            .map(_.toString)
        }.toSet
    }
    if (pointSets.isEmpty) m
    else {
      // conjunct semantics: a partition survives every point-set
      val kept = m.entries.filter(e => pointSets.forall(_.contains(e.value)))
      m.copy(entries = kept)
    }
  }

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    val slices = slicesOf(filters)
    // fewer partitions root the scan on the kept gen dirs only (empty is
    // fine — the explicit schema carries the shape); the kept files are
    // the ones whose recorded min/max can meet every slice
    entries = prunePartitions(manifest, slices).entries
    keep = SnapshotLake.pruneFiles(spark, tableSchema, slices)
    inner match {
      case s: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
        s.pushFilters(filters)
      case _ => filters
    }
  }

  override def pushedFilters(): Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    inner match {
      case s: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
        s.pushedFilters
      case _ => Array.empty
    }

  override def pruneColumns(requiredSchema: StructType): Unit = inner match {
    case s: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
      s.pruneColumns(requiredSchema)
    case _ => ()
  }

  override def build(): org.apache.spark.sql.connector.read.Scan = inner.build()
}
