package graft.etl

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, LessThan, Literal}
import org.apache.spark.sql.execution.datasources.{
  FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** SNAPSHOT-ISOLATED partitioned parquet lake: a manifest-pointer commit
  * protocol over immutable per-partition GENERATION directories.
  *
  * The engine's one durable format for partitioned keyed tables. A
  * Hive-layout directory installs touched partitions by sequential
  * per-directory renames, so a reader listing the table between rename k
  * and k+1 sees partition A new / partition B old (torn), and a compacted
  * partition is transiently ABSENT for one rename window. A plain Hive
  * directory cannot swap atomically; the standard fix (Iceberg/Delta's
  * core idea) is a MANIFEST: data files are immutable, a tiny metadata
  * file lists exactly which files form a snapshot, and publishing a commit
  * is ONE atomic create — readers resolve through the newest manifest and
  * can never observe a half-installed state.
  *
  * Layout (under the table root):
  * {{{
  *   _manifests/manifest-<zero-padded gen>     one per commit; max = current;
  *                                             its header records the schema,
  *                                             the merge contract and each
  *                                             stream sink's watermark
  *   _manifests/files-<zero-padded gen>        the files commit <gen> wrote
  *   data/<partitionCol>=h<HEX>/gen=<n>/part-….parquet
  * }}}
  *  - The manifest names every live (partition, generation) entry, the
  *    snapshot's schema, its [[MergeSpec]] and the highest batch id each
  *    stream sink has applied; each generation's `files-<gen>` record names
  *    every data file that commit wrote, with its bytes and mtime and, for
  *    tables with stats columns, its row count and typed min/max. Together
  *    they are the file index: resolving a read lists nothing and starts
  *    no Spark job (a generation without a record, from an older lake, is
  *    listed on the driver, one `listStatus` per gen dir).
  *  - Partition dir names carry the value HEX-ENCODED (of its
  *    `cast(v as string)` UTF-8 bytes, computed by the same Spark
  *    expression that routes the rows) behind a constant `h` prefix — the
  *    prefix keeps the routing key non-empty for the EMPTY-STRING value,
  *    which Spark's `partitionBy` would otherwise fold into
  *    `__HIVE_DEFAULT_PARTITION__` (the null dir) and the install could
  *    never match back to its staged dir. Dir names are NEVER parsed back — the
  *    partition column is stored IN the data files, so values round-trip
  *    with their exact types (the "string shard '0025' re-emerging as int
  *    25" class of bug is structurally impossible, where a Hive layout
  *    needs a pinned schema + escape-safety fallback).
  *  - A `gen=<n>` dir is written ONCE and never modified; a new commit
  *    writes new gen dirs for the partitions it touches and re-points the
  *    manifest. Install renames happen BEFORE the publish, so readers
  *    cannot see them; the manifest create is the single atomic cut.
  *
  * Guarantees (SnapshotLakeSpec pins each):
  *  - SNAPSHOT READS: a reader resolving between a commit's installs and
  *    its publish sees the wholly-OLD snapshot; after the publish, the
  *    wholly-NEW one; never a mix. A resolved DataFrame holds concrete
  *    file paths, so later commits don't disturb an in-flight scan
  *    (gen dirs are immutable until [[vacuum]]).
  *  - RESOLUTION LISTS NOTHING: [[read]], [[readAt]], [[readSlice]],
  *    [[readIn]] and the SQL face build their relation from the manifest
  *    and the file records alone, so planning a read starts no Spark job
  *    however many partitions it spans.
  *  - CRASH SAFETY: a writer dying after staging/installing (or after
  *    writing its file record) but before the manifest create leaves the
  *    old snapshot fully readable; the next writer (single-writer lease)
  *    deletes the unpublished file records and the orphan gen dirs of the
  *    partitions it installs into, and re-runs to convergence (idempotent
  *    LWW). An orphan gen dir elsewhere is named by no manifest and can
  *    never collide with a commit; [[vacuum]] deletes it.
  *  - SHARED MECHANISM: [[merge]] (keyed last-write-wins upsert),
  *    [[foldStreamBatch]] (a state MV's stream fold),
  *    [[delete]]/[[deleteKeys]] (row-level takedown), and [[compact]]
  *    (small-file maintenance) all commit through the same
  *    prepare→publish path; [[readAt]] gives time travel over retained
  *    manifests for free, and [[changes]] diffs two retained snapshots
  *    into the CDC frame an incremental consumer wants.
  *
  * Scale shape (100 TB): a commit's metadata cost is O(#partitions) manifest
  * lines + O(#files written) record lines + two file creates — no
  * recursive listing anywhere (manifest and records ARE the listing, the
  * same reason table formats beat raw Hive layouts at scale). Data cost
  * is partition-scoped: untouched partitions are not read, not rewritten,
  * and their gen dirs stay byte-identical. Reader-side partition pruning
  * happens at manifest resolution ([[read]]'s `partitionValues`
  * overload), file pruning over the records' min/max ([[readSlice]]).
  *
  * Single-writer protocol via [[LakeLease]], as for every lake mutator.
  * Readers take no lock: they race only the atomic manifest create.
  */
object SnapshotLake {

  /** One live partition in a snapshot: its dir name (`<col>=<HEX>`, taken
    * VERBATIM from the staged listing), the generation serving it, and the
    * value's string form (for manifest-level pruning and humans).
    */
  case class Entry(dirName: String, gen: Long, value: String)

  /** `publishedAtMs`: the commit's publish time, stamped INSIDE the
    * manifest header at [[publish]] — filesystem modification time is NOT
    * a publish time (any copy/rsync/object-store migration rewrites
    * mtimes, silently re-dating every snapshot for `TIMESTAMP AS OF`).
    * None only for legacy manifests written before the stamp existed.
    *
    * `schema`: the snapshot's schema, recorded in the header (Spark's JSON
    * form, always the nullable shape). It makes the widen-only evolution
    * contract readable: a mixed-generation read pins the UNION schema
    * (old gens fill the added columns with null), and time travel to a
    * pre-widen snapshot answers with that snapshot's own narrower schema.
    * None only for legacy manifests (see [[snapshotSchema]]).
    *
    * `spec`: the merge contract this snapshot was committed under, carried
    * forward by every commit and replaced by an API [[merge]] (see
    * [[specOf]] for manifests written before it was recorded here).
    *
    * `streams`: each stream sink's highest applied micro-batch id, by
    * sinkId ([[mergeStreamBatch]]), carried forward by every commit.
    */
  case class Manifest(gen: Long, partitionCol: String, entries: Seq[Entry],
      publishedAtMs: Option[Long] = None, schema: Option[StructType] = None,
      spec: Option[MergeSpec] = None, streams: Map[String, Long] = Map.empty)

  /** One data file of a snapshot, as its generation's record lists it:
    * the file's status (qualified path, bytes, mtime) and — for tables
    * with stats columns — its row count and each stats column's
    * (min, max) in recorded string form (a null side never prunes).
    * Files of a generation without a record carry no stats.
    */
  private[graft] case class LiveFile(status: FileStatus, rows: Option[Long],
      bounds: Map[String, (String, String)])

  private val ManifestName = """manifest-(\d{20})""".r
  private val FilesName = """files-(\d{20})""".r
  // digits-only, like ManifestName: stray non-numeric `gen=` debris (manual
  // copies, partial syncs) must be skipped, not NumberFormatException every
  // future merge/compact/vacuum into a brick
  private val GenName = """gen=(\d+)""".r

  private def manifestDir(path: String) = new Path(path, "_manifests")
  private def dataDir(path: String) = new Path(path, "data")
  private def genDirOf(path: String, e: Entry) =
    new Path(new Path(dataDir(path), e.dirName), s"gen=${e.gen}")

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The newest published manifest, or None for a fresh/absent table. */
  def currentManifest(spark: SparkSession, path: String): Option[Manifest] = {
    val fs = fsOf(spark, path)
    val dir = manifestDir(path)
    if (!fs.exists(dir)) return None
    val names = fs.listStatus(dir).map(_.getPath.getName).collect {
      case n @ ManifestName(g) => (g.toLong, n)
    }
    if (names.isEmpty) None
    else {
      val (gen, name) = names.maxBy(_._1)
      Some(parseManifest(fs, new Path(dir, name), gen))
    }
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Create `dest` holding `text` through a temp file and one rename, so a
    * reader sees the whole file or none of it. `dest` must not exist.
    */
  private def putText(fs: FileSystem, dest: Path, text: String): Unit = {
    fs.mkdirs(dest.getParent)
    val tmp = new Path(dest.getParent, s".tmp-${dest.getName}-${System.nanoTime()}")
    val out = fs.create(tmp, false)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    Upsert.renameOrThrow(fs, tmp, dest)
  }

  private def parseManifest(fs: FileSystem, p: Path, gen: Long): Manifest = {
    val text = readText(fs, p)
    val lines = text.split('\n').filter(_.nonEmpty)
    val header = lines.head.split("\t", -1)
    // 3 fields = legacy (pre-publish-stamp) manifest; 4th = publish epoch
    // ms; 5th = the snapshot's schema (compact JSON: no raw tab/newline);
    // 6th = the merge contract; 7th = the stream watermarks. An empty
    // field is an absent value
    require(header.length >= 3 && header.length <= 7 &&
      header(0) == "graft-snapshot-v1",
      s"unrecognized manifest header in $p: ${lines.head}")
    def field(i: Int) = header.lift(i).filter(_.nonEmpty)
    val publishedAt = field(3).flatMap(_.toLongOption)
    val schema = field(4).flatMap(j => scala.util.Try(DataType.fromJson(j))
      .toOption.collect { case s: StructType => s })
    val spec = field(5).map { f =>
      val a = f.split(";", -1)
      require(a.length == 5, s"unrecognized merge contract in $p: $f")
      MergeSpec(decList(a(0)), dec(a(1)), dec(a(2)), decList(a(3)), decList(a(4)))
    }
    val streams = field(6).toSeq.flatMap(_.split(',')).map { kv =>
      val i = kv.lastIndexOf('=')
      dec(kv.take(i)) -> kv.drop(i + 1).toLong
    }.toMap
    val entries = lines.tail.toSeq.map { l =>
      // value strings may contain tabs — split only the first two fields
      val a = l.split('\t')
      Entry(a(0), a(1).toLong, a.drop(2).mkString("\t"))
    }
    Manifest(gen, header(1), entries, publishedAt, schema, spec, streams)
  }

  /** Recursive nullable form (what `DataType.asNullable` does privately).
    * The recorded schema is ALWAYS this shape (Spark's own file-relation
    * posture): a parquet-backed snapshot can never promise non-null — on
    * a widened history the pre-add generations null-fill the added
    * column, so a batch-derived non-nullable field (e.g. a `concat_ws`
    * product) recorded verbatim would be a LIE the first
    * nullability-exploiting codegen consumer turns into an executor NPE.
    */
  private def toNullable(dt: DataType): DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = toNullable(f.dataType), nullable = true)))
      case a: ArrayType =>
        ArrayType(toNullable(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(toNullable(m.keyType), toNullable(m.valueType),
          valueContainsNull = true)
      case other => other
    }
  }
  private def toNullable(s: StructType): StructType =
    toNullable(s: DataType).asInstanceOf[StructType]

  /** The schema snapshot `m` answers with: the one its manifest records
    * (every commit since the schema moved into the manifest header);
    * else, for a legacy manifest, one head gen dir's parquet footer
    * (correct for lakes that never evolved); else, for an EMPTY legacy
    * snapshot, the newest older one's ([[schemaFallback]]). None only for
    * a table that never published a row or a schema.
    */
  private[graft] def snapshotSchema(spark: SparkSession, path: String,
      m: Manifest): Option[StructType] =
    m.schema.orElse(footerSchema(spark, path, m)).orElse {
      if (m.entries.isEmpty) schemaFallback(spark, path, m.gen) else None
    }

  /** A legacy snapshot's schema from one gen dir's footer (a Spark job). */
  private def footerSchema(spark: SparkSession, path: String,
      m: Manifest): Option[StructType] =
    m.entries.headOption.flatMap(e => scala.util.Try(
      spark.read.parquet(genDirOf(path, e).toString).schema).toOption)

  /** The schema an EMPTY legacy snapshot still answers with: resolved
    * from the newest retained manifest below `gen` that records a schema
    * or lists at least one entry (an unconditional DELETE empties the
    * entry list but the prior snapshots' gen dirs stay on disk until
    * [[vacuum]] — and vacuum keeps every gen dir a retained manifest
    * references, so a parseable manifest implies readable files).
    */
  private def schemaFallback(spark: SparkSession, path: String,
      gen: Long): Option[StructType] = {
    val fs = fsOf(spark, path)
    retainedGens(spark, path).filter(_ < gen).reverseIterator
      .map(g => parseManifest(fs, new Path(manifestDir(path), f"manifest-$g%020d"), g))
      .map(m => m.schema.orElse(footerSchema(spark, path, m)))
      .collectFirst { case Some(s) => s } // an unreadable gen falls through
  }

  /** The widen-only evolution check: every CURRENT table column must
    * arrive in the batch with the SAME type (a missing column would
    * silently truncate merged partitions; a retyped column would corrupt
    * mixed-generation reads) — brand-new batch columns are the one legal
    * evolution (add-column; old gens read them as null, the reference's
    * own `ALTER TABLE ADD COLUMN IF NOT EXISTS` semantics,
    * ≙ postgres_writer.py:94-101). Nullability is not compared: parquet
    * footers and frames disagree on it harmlessly.
    */
  private def checkEvolution(
      table: org.apache.spark.sql.types.StructType,
      batch: org.apache.spark.sql.types.StructType): Unit = {
    val batchTypes = batch.fields.map(f => f.name -> f.dataType).toMap
    val missing = table.fields.filterNot(f => batchTypes.contains(f.name))
    require(missing.isEmpty,
      s"merge batch is missing table column(s) ${missing.map(_.name).mkString(", ")} — " +
        "the lake evolves widen-only (new columns may be ADDED, existing " +
        "ones never dropped); carry the column (null-filled) in the batch " +
        "or backfill it first")
    val retyped = table.fields.filter(f =>
      batchTypes.get(f.name).exists(_ != f.dataType))
    require(retyped.isEmpty,
      s"merge batch retypes column(s) ${retyped.map(f =>
        s"${f.name}: ${f.dataType.simpleString} -> " +
          batchTypes(f.name).simpleString).mkString(", ")} — " +
        "a lake column's type is fixed at creation; cast the batch to the " +
        "table's type upstream")
  }

  /** PUBLISH: the one atomic cut. Write to a temp name, then a single
    * rename to `manifest-<gen>` — on every real filesystem a create-rename
    * (no overwrite) is atomic, so readers list either the old max or the
    * new max, never a torn file. The header records the publish time
    * (create-once files make mtime a plausible proxy, but mtime does not
    * survive copy/rsync/backup-restore — TIMESTAMP AS OF must resolve from
    * a value the commit itself recorded), the snapshot's schema, its merge
    * contract and the stream watermarks, so all of a commit's metadata
    * becomes visible in this one create.
    */
  private[etl] def publish(fs: FileSystem, path: String, m: Manifest): Unit = {
    val sb = new StringBuilder
    sb.append(Seq("graft-snapshot-v1", m.partitionCol, m.gen, System.currentTimeMillis(),
      m.schema.fold("")(s => toNullable(s).json),
      m.spec.fold("")(c => Seq(encList(c.keys), enc(c.versionCol), enc(c.partitionCol),
        encList(c.tieBreakers), encList(c.statsCols)).mkString(";")),
      m.streams.toSeq.sorted.map { case (id, b) => s"${enc(id)}=$b" }.mkString(","))
      .mkString("\t"))
    sb.append('\n')
    m.entries.sortBy(_.dirName).foreach { e =>
      sb.append(s"${e.dirName}\t${e.gen}\t${e.value}\n")
    }
    putText(fs, new Path(manifestDir(path), f"manifest-${m.gen}%020d"), sb.toString)
  }

  /** Read the current snapshot. The returned frame binds the snapshot's
    * concrete files, so it is a stable SNAPSHOT: commits that land after
    * this call do not change (or break) it until a [[vacuum]] drops the
    * generation dirs it pins.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val m = current(spark, path)
    scan(spark, path, m, m.entries)
  }

  /** Read the current snapshot restricted to `partitionValues` (compared on
    * the value's `cast as string` form): manifest-level pruning — the
    * other partitions' files never enter the plan.
    */
  def read(spark: SparkSession, path: String, partitionValues: Seq[Any]): DataFrame = {
    val m = current(spark, path)
    val vs = partitionValues.map(String.valueOf).toSet
    scan(spark, path, m, m.entries.filter(e => vs.contains(e.value)))
  }

  /** Time travel: read the snapshot as of manifest `gen` (must still be
    * retained — see [[vacuum]]).
    */
  def readAt(spark: SparkSession, path: String, gen: Long): DataFrame = {
    val m = manifestAt(spark, path, gen)
    scan(spark, path, m, m.entries)
  }

  private def current(spark: SparkSession, path: String): Manifest =
    currentManifest(spark, path).getOrElse(
      throw new IllegalStateException(s"$path has no published snapshot"))

  /** The publish time (epoch ms) of one manifest FILE, for `TIMESTAMP AS
    * OF` resolution: the header's own stamp when present, else the file's
    * modification time (legacy manifests only — with the caveat that
    * mtime does not survive copy/rsync/migration; re-publishing refreshes
    * the lake to stamped manifests). Header-only read: O(1) bytes per
    * retained manifest.
    */
  private[graft] def publishTimeOf(
      fs: FileSystem, status: org.apache.hadoop.fs.FileStatus): Long = {
    val in = fs.open(status.getPath)
    val head = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().nextOption().getOrElse("") finally in.close()
    head.split('\t') match {
      case a if a.length >= 4 && a(0) == "graft-snapshot-v1" =>
        scala.util.Try(a(3).toLong).getOrElse(status.getModificationTime)
      case _ => status.getModificationTime
    }
  }

  /** Every RETAINED snapshot generation, ascending — the manifest chain an
    * incremental consumer ([[graft.sources.LakeCdcSource]]) follows.
    * Gens are contiguous by construction (each commit publishes
    * `current + 1`), so after a [[vacuum]] the retained chain is a suffix.
    * Driver-side listing of `_manifests/` only: O(#retained) names, no
    * data touched.
    */
  def retainedGens(spark: SparkSession, path: String): Seq[Long] = {
    val fs = fsOf(spark, path)
    val dir = manifestDir(path)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).map(_.getPath.getName)
      .collect { case ManifestName(g) => g.toLong }.toSeq.sorted
  }

  /** The RETAINED manifest `gen` — the metadata face of [[readAt]], also
    * serving [[graft.sources.LakeCatalog]]'s `VERSION/TIMESTAMP AS OF`.
    */
  def manifestAt(spark: SparkSession, path: String, gen: Long): Manifest = {
    val fs = fsOf(spark, path)
    val p = new Path(manifestDir(path), f"manifest-$gen%020d")
    require(fs.exists(p), s"snapshot $gen of $path is not retained")
    parseManifest(fs, p, gen)
  }

  // ---- the resolver: manifest + file records → a relation, no listing ----

  /** Snapshot `m` restricted to `entries`, under the snapshot's schema,
    * keeping only the files whose recorded min/max can intersect `slices`
    * ([[pruneFiles]]). The recorded schema pins mixed-generation reads:
    * gens written before an ADD COLUMN lack it in their footers and read
    * it as null. A pruned-to-nothing (or emptied-by-delete) read still
    * carries the TABLE's shape, so select/filter on table columns keep
    * working; only a table that never held a row answers with the
    * zero-column frame.
    */
  private def scan(spark: SparkSession, path: String, m: Manifest,
      entries: Seq[Entry],
      slices: Seq[(String, Seq[(Option[Any], Option[Any])])] = Nil): DataFrame =
    snapshotSchema(spark, path, m) match {
      case Some(s) => relation(spark, path, entries, s, pruneFiles(spark, s, slices))
      case None => spark.emptyDataFrame
    }

  /** `entries`' live files as a parquet relation under `schema`: the one
    * place a lake read becomes a Spark plan.
    */
  private def relation(spark: SparkSession, path: String, entries: Seq[Entry],
      schema: StructType, keep: LiveFile => Boolean = _ => true): DataFrame =
    relationOver(spark, fileIndex(spark, path, entries, keep), schema)

  private def relationOver(spark: SparkSession, index: InMemoryFileIndex,
      schema: StructType): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
      toNullable(schema), None, new ParquetFileFormat, Map.empty)(spark))

  /** `entries`' files as a Spark file index that never lists: each gen
    * dir is a root path whose leaf files come from [[liveFiles]], those
    * `keep` rejects left out. Serves every read here and the SQL face's
    * scan ([[graft.sources.LakeCatalog]]).
    */
  private[graft] def fileIndex(spark: SparkSession, path: String,
      entries: Seq[Entry], keep: LiveFile => Boolean): InMemoryFileIndex =
    indexOver(spark, liveFiles(spark, path, entries).map { case (dir, files) =>
      dir -> files.filter(keep) })

  private def indexOver(spark: SparkSession,
      dirs: Seq[(Path, Seq[LiveFile])]): InMemoryFileIndex =
    new InMemoryFileIndex(spark, dirs.map(_._1), Map.empty, None,
      new KnownFiles(dirs.map { case (d, fs) => d -> fs.map(_.status).toArray }.toMap),
      Some(PartitionSpec.emptySpec))

  /** The leaf files of every root an [[InMemoryFileIndex]] is built over,
    * known up front, so the index never lists (and a refresh re-reads the
    * same immutable snapshot).
    */
  private final class KnownFiles(files: Map[Path, Array[FileStatus]])
      extends FileStatusCache {
    override def getLeafFiles(p: Path): Option[Array[FileStatus]] = files.get(p)
    override def putLeafFiles(p: Path, leaf: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = ()
  }

  /** Every live file of `entries`, per qualified gen dir: from the
    * generations' records, one small driver-side read per distinct gen.
    * A gen dir its record does not name — a generation without a record
    * (an older lake), or an entry whose dir was renamed under an older
    * dir scheme — is listed on the driver instead: one `listStatus` of
    * that dir alone, never a Spark job.
    */
  private[graft] def liveFiles(spark: SparkSession, path: String,
      entries: Seq[Entry]): Seq[(Path, Seq[LiveFile])] = {
    val fs = fsOf(spark, path)
    val data = fs.makeQualified(dataDir(path))
    val records = entries.map(_.gen).distinct
      .map(g => g -> readFiles(fs, path, data, g)).toMap
    entries.map { e =>
      val dir = new Path(new Path(data, e.dirName), s"gen=${e.gen}")
      dir -> records(e.gen).getOrElse(dir, listed(fs, dir))
    }
  }

  /** `dir`'s data files by driver-side listing, without stats. The filter
    * matches Spark's own hidden-file rule ('_' AND '.' prefixes: the
    * filesystem's `.crc` checksums, `_SUCCESS`).
    */
  private def listed(fs: FileSystem, dir: Path): Seq[LiveFile] =
    fs.listStatus(dir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      // the path is rebuilt as `dir/name`: the index matches a root to its
      // leaf files by the leaf's parent path
      .map(s => LiveFile(new FileStatus(s.getLen, false, 0, 0,
        s.getModificationTime, new Path(dir, s.getPath.getName)), None, Map.empty))

  // ---- per-generation file records ----

  private def filesPath(path: String, gen: Long) =
    new Path(manifestDir(path), f"files-$gen%020d")

  /** Record generation `gen`'s files BEFORE its manifest publishes. Bytes
    * and mtime come from a driver-side listing of each just-installed gen
    * dir of `entries`; with `statsCols`, ONE aggregation over exactly
    * those files (through the non-listing index reads use) adds each
    * file's row count and the typed min/max of every stats column. A
    * crash between record and publish leaves an orphan record, GC'd with
    * the orphan gens. Returns the recorded files with their entries.
    *
    * Format: a header `graft-files-v1 <gen> <statsCols>`, then one line
    * per file — its path relative to `data/`, bytes, mtime, rows (empty
    * when not counted) and a (min, max) pair per stats column — each
    * field URL-encoded, tab-separated.
    */
  private def recordFiles(spark: SparkSession, fs: FileSystem, path: String,
      gen: Long, entries: Seq[Entry], schema: StructType,
      statsCols: Seq[String]): Seq[(Entry, LiveFile)] = {
    val data = fs.makeQualified(dataDir(path))
    val dirs = entries.map { e =>
      val dir = new Path(new Path(data, e.dirName), s"gen=${e.gen}")
      (e, dir, listed(fs, dir))
    }
    // per file (qualified path): rows, then (min, max) per stats column
    val stats: Map[String, Seq[String]] =
      if (statsCols.isEmpty) Map.empty
      else {
        // min/max run on the TYPED column, then take the string form: the
        // string order of a number is not its value order (Long 1..250
        // would record [1, 99]), and pruning casts the recorded forms
        // back to the column's type
        val aggs = count(lit(1)).cast("string") +: statsCols.flatMap { c =>
          val dt = schema(c).dataType
          Seq(statForm(min(col(c)), dt), statForm(max(col(c)), dt))
        }
        relationOver(spark, indexOver(spark, dirs.map(d => (d._2, d._3))), schema)
          .groupBy(input_file_name())
          .agg(aggs.head, aggs.tail: _*).collect()
          // input_file_name() is a URI string (`file:///…`, percent-
          // encoded); qualify it so it takes the listed paths' form
          .map(r => fs.makeQualified(new Path(new java.net.URI(r.getString(0))))
            .toString -> (1 until r.length).map(r.getString))
          .toMap
      }
    val files = dirs.flatMap { case (e, _, listedFiles) => listedFiles.map { f =>
      e -> stats.get(f.status.getPath.toString).fold(f) { s =>
        f.copy(rows = Some(s.head.toLong), bounds = statsCols.zipWithIndex.map {
          case (c, i) => c -> ((s(1 + 2 * i), s(2 + 2 * i)))
        }.toMap)
      }
    }}
    val sb = new StringBuilder
    sb.append(s"graft-files-v1\t$gen\t${encList(statsCols)}\n")
    files.foreach { case (e, f) =>
      sb.append(s"${enc(s"${e.dirName}/gen=${e.gen}/${f.status.getPath.getName}")}\t" +
        s"${f.status.getLen}\t${f.status.getModificationTime}\t${f.rows.getOrElse("")}")
      statsCols.foreach { c =>
        val (mn, mx) = f.bounds.getOrElse(c, (null, null))
        sb.append(s"\t${enc(mn)}\t${enc(mx)}")
      }
      sb.append('\n')
    }
    putText(fs, filesPath(path, gen), sb.toString)
    files
  }

  /** Generation `gen`'s record as its files per qualified gen dir (under
    * `data`); empty for a generation without a readable record. A record
    * is used whole or not at all: a partial one would silently drop files.
    */
  private def readFiles(fs: FileSystem, path: String, data: Path,
      gen: Long): Map[Path, Seq[LiveFile]] =
    scala.util.Try {
      val lines = readText(fs, filesPath(path, gen)).split('\n').filter(_.nonEmpty)
      val header = lines.head.split("\t", -1)
      require(header.length == 3 && header(0) == "graft-files-v1")
      val cols = decList(header(2))
      lines.tail.toSeq.map { l =>
        val a = l.split("\t", -1)
        require(a.length == 4 + 2 * cols.length)
        // `<dirName>/gen=<n>/<file>`: neither a dir name nor a file name
        // holds a '/'
        val rel = dec(a(0)).split('/')
        require(rel.length == 3)
        val dir = new Path(new Path(data, rel(0)), rel(1))
        dir -> LiveFile(
          new FileStatus(a(1).toLong, false, 0, 0, a(2).toLong, new Path(dir, rel(2))),
          a(3).toLongOption,
          cols.zipWithIndex.map { case (c, i) =>
            c -> ((dec(a(4 + 2 * i)), dec(a(5 + 2 * i))))
          }.toMap)
      }.groupMap(_._1)(_._2)
    }.getOrElse(Map.empty)

  /** The merge contract a lake was created with — keys, version column,
    * partition column, tie-breakers, stats columns. Recorded in every
    * manifest ([[Manifest.spec]]) so the SQL write faces
    * ([[graft.sources.LakeCatalog]]'s `INSERT INTO`/`MERGE INTO`), the
    * stream sink and [[changes]] route through the SAME keyed LWW identity
    * without the caller re-stating the spec.
    */
  case class MergeSpec(
      keys: Seq[String],
      versionCol: String,
      partitionCol: String,
      tieBreakers: Seq[String],
      statsCols: Seq[String])

  /** The current snapshot's merge contract, or None for a lake without
    * one (see [[specOf]]).
    */
  def mergeSpecOf(spark: SparkSession, path: String): Option[MergeSpec] =
    currentManifest(spark, path).flatMap(specOf(spark, path, _))

  /** Snapshot `m`'s merge contract: the one its manifest records, else —
    * for a manifest written before the contract moved into the manifest —
    * a read-only parse of the lake's legacy `_manifests/table-meta` file.
    * The next commit that resolves the contract (a merge, update or
    * delete) records it in its own manifest.
    */
  private def specOf(spark: SparkSession, path: String, m: Manifest): Option[MergeSpec] =
    m.spec.orElse {
      val fs = fsOf(spark, path)
      val p = new Path(manifestDir(path), "table-meta")
      val lines =
        if (fs.exists(p)) readText(fs, p).split('\n').toSeq.filter(_.nonEmpty) else Nil
      if (!lines.headOption.contains("graft-lake-meta-v1")) None
      else {
        val kv = lines.tail.map { l =>
          val a = l.split("\t", -1)
          a(0) -> a.lift(1).getOrElse("")
        }.toMap
        def list(k: String) = decList(kv.getOrElse(k, ""))
        for {
          v <- kv.get("version").filter(_.nonEmpty).map(dec)
          pc <- kv.get("partition").filter(_.nonEmpty).map(dec)
          ks = list("keys") if ks.nonEmpty
        } yield MergeSpec(ks, v, pc, list("tiebreakers"), list("statscols"))
      }
    }

  /** Snapshot `m`'s merge contract, or the one refusal every keyed face
    * (`INSERT INTO`, `MERGE INTO`, the `graft-lake` stream, [[changes]])
    * gives a lake without one, naming the two ways to record it.
    */
  private[graft] def requireSpec(spark: SparkSession, path: String,
      m: Option[Manifest], verb: String): MergeSpec =
    m.flatMap(specOf(spark, path, _)).getOrElse(
      throw new UnsupportedOperationException(
        s"lake at $path has no merge contract, so $verb cannot know its " +
          "keys/version/partition — declare one with CREATE TABLE … " +
          "TBLPROPERTIES ('merge_keys'=…) through the catalog, or run one " +
          "SnapshotLake.merge through the API"))

  /** Keyed LWW merge into the lake, with a snapshot-isolated commit.
    * CONTRACT: `partitionCol` is functionally determined by `keys` (e.g.
    * key = (ticker, ts), partition = date(ts)), so every row of a key lives
    * in exactly one partition; on key collision the update wins (DO UPDATE,
    * `postgres_writer.py:234-240`), then LWW on `versionCol` +
    * `tieBreakers` inside each side.
    *
    * `statsCols` (opt-in): range-CLUSTER each partition's files by these
    * columns at write (one extra range exchange) and record per-FILE row
    * counts and min/max in the generation's `files-<gen>` record (one
    * extra page-cache-warm read of just-written data) — enabling
    * [[readSlice]]'s FILE-level skipping inside a partition. Advisory
    * metadata: a file without recorded stats only loses pruning, never
    * rows.
    *
    * The commit records this call's [[MergeSpec]] in its manifest, so the
    * SQL write faces and the stream sink route later batches into the
    * same keyed LWW commit.
    */
  def merge(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      keys: Seq[String],
      versionCol: String,
      partitionCol: String,
      tieBreakers: Seq[String] = Nil,
      statsCols: Seq[String] = Nil): Unit =
    mergeTouching(spark, path, updates,
      MergeSpec(keys, versionCol, partitionCol, tieBreakers, statsCols), None)

  /** [[merge]] under `spec`; `affected`, when given, is the batch's
    * affected-partition set as the caller already collected it through
    * [[partitionProjection]], and the commit takes it instead of scanning
    * the batch again. Every other check of the commit still runs, and a
    * set that misses a value the batch holds cannot land: [[stageInstall]]
    * refuses a staged dir the set does not name.
    */
  private[etl] def mergeTouching(spark: SparkSession, path: String,
      updates: DataFrame, spec: MergeSpec, affected: Option[Array[Row]]): Unit =
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, path) {
      prepareMerge(spark, path, currentManifest(spark, path), updates, spec,
        affected.map(pairsOf))
        .foreach { case (fs, m) => publish(fs, path, m) }
    }

  /** [[merge]] under the current snapshot's recorded contract, resolved
    * inside the lease — the SQL write faces (`INSERT INTO`, `MERGE INTO`
    * via [[graft.sources.LakeCatalog]]) route here.
    */
  def mergeViaSpec(spark: SparkSession, path: String, updates: DataFrame): Unit =
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, path) {
      val cur = currentManifest(spark, path)
      prepareMerge(spark, path, cur, updates, requireSpec(spark, path, cur, "a SQL write"))
        .foreach { case (fs, m) => publish(fs, path, m) }
    }

  /** CREATE an empty lake table with a declared schema and merge contract —
    * the DDL bootstrap `CREATE TABLE <cat>.<t> (…) TBLPROPERTIES
    * ('merge_keys'=…)` routes through ([[graft.sources.LakeCatalog]]), so a
    * SQL-only user can bootstrap a table and land batch 1 via INSERT
    * INTO / MERGE INTO without ever touching the Scala API. Publishes
    * snapshot generation 0: an EMPTY manifest (no entries) recording the
    * declared schema (so reads of the empty table answer with the
    * declared shape, and the first merge's [[checkEvolution]] enforces
    * it — a batch missing a declared column, or retyping one, refuses
    * exactly as it would against a merged table) and the [[MergeSpec]]
    * every write face resolves. The manifest create is the usual single
    * atomic cut; creation is lease-guarded and refuses if the table
    * already has a published snapshot.
    */
  def create(spark: SparkSession, path: String,
      schema: StructType, spec: MergeSpec): Unit = {
    require(spec.keys.nonEmpty, "merge_keys must name at least one column")
    val names = schema.fieldNames.toSet
    (spec.keys ++ Seq(spec.versionCol, spec.partitionCol) ++
      spec.tieBreakers ++ spec.statsCols).foreach(c =>
      require(names.contains(c),
        s"contract column '$c' is not in the declared schema " +
          s"(${schema.fieldNames.mkString(", ")})"))
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, path) {
      require(currentManifest(spark, path).isEmpty,
        s"lake table at $path already exists (published snapshot) — " +
          "CREATE TABLE refuses to re-stamp a live table")
      publish(fsOf(spark, path), path,
        Manifest(0L, spec.partitionCol, Nil, schema = Some(schema), spec = Some(spec)))
    }
  }

  // ---- streaming write face: per-sink watermarks in the manifest -------

  /** The highest micro-batch id this sink lineage has applied, as the
    * current manifest records it, or None for a lineage that never
    * committed. Outside-lease reads are for inspection; the stream
    * commits re-read inside their lease.
    */
  def streamBatchApplied(spark: SparkSession, path: String,
      sinkId: String): Option[Long] =
    currentManifest(spark, path).flatMap(_.streams.get(sinkId))

  /** [[mergeViaSpec]] as a Structured Streaming micro-batch commit — the
    * sink half of exactly-once over the lake
    * ([[graft.sources.LakeStreamSink]] routes `writeStream
    * .format("graft-lake")` here). The engine's sink contract is
    * at-least-once (a crash between the sink write and the commit-log
    * write replays the batch), so each manifest records the highest
    * applied `batchId` per `sinkId` (≙ Delta's `txn` action, and the
    * ledger rows of the JDBC face, [[graft.sources.JdbcStreamSink]]),
    * checked INSIDE the same lease as the commit:
    *
    *  - `batchId <= recorded` → replay; skipped without reading the batch.
    *  - otherwise → the usual keyed LWW commit, whose manifest carries the
    *    advanced watermark: the batch's data and its watermark become
    *    visible in the one publish, so a replay never adds a generation.
    *    An EMPTY batch publishes nothing and leaves the watermark where it
    *    was (replaying it is again a no-op).
    *
    * Returns whether a generation was published. Batch ids are only
    * unique per checkpoint lineage — `sinkId` must change when the
    * checkpoint does (the sink derives it from `checkpointLocation`).
    */
  def mergeStreamBatch(spark: SparkSession, path: String, updates: DataFrame,
      sinkId: String, batchId: Long): Boolean =
    commitStreamBatch(spark, path, sinkId, batchId) { cur =>
      prepareMerge(spark, path, cur, updates, requireSpec(spark, path, cur, "a graft-lake stream"))
    }

  /** [[mergeStreamBatch]] for an MV of state folded in from a stream (the
    * [[graft.streaming.StreamingIngest]] lanes): the touched partitions'
    * new rows are `fold(existing touched rows, state)` instead of keyed
    * LWW, and only they are read and rewritten. `state` (the batch reduced
    * to state rows) and the fold's output carry `partitionCol`, which the
    * fold's key must fix. A fold need not be idempotent: the watermark
    * alone makes it exactly-once, so `sinkId` must be the stream's stable
    * logical identity with only increasing ids (`_commit_gen` for a
    * [[graft.sources.LakeCdcSource]] follower). It records no
    * [[MergeSpec]] of its own (the current one carries forward), so an MV
    * refuses the keyed write faces and [[changes]].
    */
  def foldStreamBatch(spark: SparkSession, path: String, state: DataFrame,
      partitionCol: String, sinkId: String, batchId: Long)(
      fold: (DataFrame, DataFrame) => DataFrame): Boolean =
    commitStreamBatch(spark, path, sinkId, batchId) { cur =>
      if (cur.isEmpty) requireNoFlatState(spark, path)
      prepareFold(spark, path, cur, state, partitionCol)(fold)
    }

  /** The watermark check and publish both stream commits share (see
    * [[mergeStreamBatch]]); `prepare` runs over the in-lease manifest.
    */
  private def commitStreamBatch(spark: SparkSession, path: String, sinkId: String,
      batchId: Long)(prepare: Option[Manifest] => Option[(FileSystem, Manifest)]): Boolean = {
    require(sinkId.nonEmpty, "sinkId must be non-empty")
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, path) {
      val cur = currentManifest(spark, path)
      if (cur.flatMap(_.streams.get(sinkId)).exists(_ >= batchId)) false
      else prepare(cur) match {
        case Some((fs, m)) =>
          publish(fs, path, m.copy(streams = m.streams + (sinkId -> batchId)))
          true
        case None => false
      }
    }
  }

  /** Refuse a flat state MV from before MVs committed through the lake
    * (root-level parquet files or `__applied/` markers, no manifest).
    */
  private def requireNoFlatState(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val root = new Path(path)
    if (fs.exists(root) && fs.listStatus(root).exists { s =>
        val n = s.getPath.getName
        n == "__applied" || (s.isFile && n.endsWith(".parquet"))
      }) throw new IllegalStateException(
      s"$path holds a flat state MV (parquet files or __applied/ markers); " +
        "folding here would ignore its rows and re-fold every replay. Import " +
        s"it once: SnapshotLake.foldStreamBatch spark.read.parquet(\"$path\") " +
        "plus the lane's partition column into a fresh path with batchId = " +
        "the id under __applied/<sinkId>, then swap the two paths")
  }

  /** `ALTER TABLE … ADD COLUMN` — the widen-only evolution contract's DDL
    * verb, as a METADATA-ONLY commit: publishes generation `gen+1` with
    * the SAME partition entries (not a byte of data moves — exactly how
    * [[delete]] keeps untouched partitions) and a recorded schema widened
    * by the new column appended. Readers of the new snapshot resolve the
    * widened shape (existing rows answer null — the parquet read is
    * schema-pinned, missing columns null-fill); time travel to older
    * generations answers their own recorded shapes; the [[changes]] delta
    * across a metadata-only commit is EMPTY (no entry changed gen), so
    * CDC consumers skip it. From this commit on, [[checkEvolution]]
    * requires every batch to carry the column (declared-schema contract —
    * null-fill upstream). The column must be nullable: the existing rows
    * have no value for it. Rename / drop / retype remain refusals — the
    * widen-only posture ([[graft.sources.LakeCatalog]] surfaces them as
    * typed errors).
    */
  def addColumn(spark: SparkSession, path: String,
      field: org.apache.spark.sql.types.StructField): Unit = {
    require(field.nullable,
      s"ADD COLUMN ${field.name} must be nullable — existing rows have no " +
        "value for it; add it nullable, backfill, then constrain upstream")
    commitMetadataOnly(spark, path) { m =>
      val cur = snapshotSchema(spark, path, m).getOrElse(
        throw new UnsupportedOperationException(
          s"lake at $path has no schema yet — merge one batch (which " +
            "records it), then ALTER works"))
      require(!cur.fieldNames.exists(_.equalsIgnoreCase(field.name)),
        s"column ${field.name} already exists in $path " +
          s"(${cur.fieldNames.mkString(", ")})")
      StructType(cur.fields :+ field)
    }
  }

  /** The one METADATA-ONLY commit: under the lease, publish generation
    * `gen+1` with the current snapshot's entries unchanged and
    * `schemaOf(current)` as its recorded schema. No data file is written,
    * every gen dir (and its file record) stays shared with the previous
    * snapshot, the contract and stream watermarks carry forward, and the
    * [[changes]] delta across the commit is empty.
    * `schemaOf` runs inside the lease, so its checks see the snapshot the
    * commit publishes over; it may refuse by throwing. Serves [[addColumn]]
    * (a widened schema) and [[Pipeline.runLake]]'s unchanged dim (the
    * same schema).
    */
  private[etl] def commitMetadataOnly(spark: SparkSession, path: String)(
      schemaOf: Manifest => StructType): Unit =
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, path) {
      val fs = fsOf(spark, path)
      val m = currentManifest(spark, path).getOrElse(
        throw new IllegalStateException(
          s"$path has no published snapshot — nothing to commit over"))
      val schema = schemaOf(m)
      gcOrphans(fs, path, m.gen, Nil)
      publish(fs, path, m.copy(gen = m.gen + 1, schema = Some(schema)))
    }

  /** Row-level DELETE — the takedown / right-to-be-forgotten operator an
    * LLM-data corpus needs (drop doc_ids as one atomic commit): removes
    * every row where `predicate` evaluates TRUE (SQL DELETE semantics —
    * rows where it evaluates NULL survive, exactly `WHERE` polarity) as a
    * partition-scoped manifest commit. Only partitions CONTAINING a
    * matching row are rewritten (their survivors become a new gen);
    * untouched partitions keep their entries and their gen dirs stay
    * byte-identical; a partition whose every row matches stages nothing
    * and is DROPPED from the manifest. The publish is the usual single
    * atomic manifest create, so readers see wholly-before or
    * wholly-after — and time travel ([[readAt]]) still resolves
    * pre-delete snapshots until [[vacuum]] expires them (a takedown that
    * must also purge history is `delete` + `vacuum`). The rewritten gens'
    * file records re-capture stats for the persisted merge spec's
    * statsCols, so file skipping survives deletion.
    *
    * Cost shape: one scan of the snapshot to find affected partitions +
    * one partition-scoped rewrite of only those — the same write cost a
    * merge touching the same partitions pays. Lease-guarded like every
    * mutator. Returns the number of rows deleted.
    */
  def delete(spark: SparkSession, path: String, predicate: Column): Long =
    deleteCore(spark, path, df => df.filter(coalesce(predicate, lit(false))),
      df => df.filter(!coalesce(predicate, lit(false))))

  /** [[delete]] by KEY BATCH — every row whose `keyRows.columns` tuple
    * appears in `keyRows` is removed (the bulk-takedown shape: a frame of
    * doc_ids, not an IN-list literal). Key matching is NULL-SAFE — the
    * lake's own LWW identity (lastWriteWins groups null keys as one key),
    * so a null-keyed row IS addressable for takedown by a null-keyed
    * batch tuple, exactly as it was addressable for upsert.
    */
  def deleteKeys(spark: SparkSession, path: String, keyRows: DataFrame): Long = {
    require(keyRows.columns.nonEmpty, "keyRows must carry at least one column")
    val keys = keyRows.columns.toSeq
    val distinctKeys = keyRows.distinct()
    def nullSafe(df: DataFrame, how: String) = {
      val l = df.alias("__dl"); val r = distinctKeys.alias("__dr")
      val cond = keys.map(k => col(s"__dl.`$k`") <=> col(s"__dr.`$k`")).reduce(_ && _)
      l.join(r, cond, how)
    }
    deleteCore(spark, path,
      df => nullSafe(df, "left_semi"),
      df => nullSafe(df, "left_anti"))
  }

  /** Row-level UPDATE — `UPDATE t SET c = expr WHERE pred` as a
    * partition-scoped manifest commit (the predicate-scoped rewrite
    * [[delete]] pioneered, with the assignment applied instead of the row
    * dropped): rows where `predicate` evaluates TRUE get `assignments`
    * applied (NULL/false rows keep their values — `WHERE` polarity);
    * only partitions CONTAINING a matching row are rewritten, untouched
    * partitions' gen dirs stay byte-identical, the publish is one atomic
    * manifest create, and pre-update snapshots stay time-travel-readable
    * until [[vacuum]].
    *
    * Contract guards (each refuses loudly):
    *  - assigned columns must exist; their values are cast to the column's
    *    declared type (a lake column's type is fixed at creation — the
    *    same rule [[merge]]'s checkEvolution enforces);
    *  - the PARTITION column cannot be assigned (rows would have to move
    *    between partition directories — express that as DELETE + merge);
    *  - MERGE KEYS cannot be assigned (the key tuple is the row's LWW
    *    identity; rewriting it could collide two rows onto one key —
    *    key changes are a delete of one identity and an upsert of
    *    another, two verbs that already exist);
    *  - predicate and assignment expressions must be deterministic (the
    *    predicate runs in independent passes, like [[delete]]'s).
    *
    * Cost shape: identical to [[delete]] — one snapshot scan to find
    * affected partitions + a rewrite of only those; the file record
    * re-captures stats so file skipping survives the update. Returns the
    * number of rows updated.
    */
  def update(spark: SparkSession, path: String, predicate: Column,
      assignments: Map[String, Column]): Long = {
    require(assignments.nonEmpty, "UPDATE needs at least one SET assignment")
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, path) {
      val fs = fsOf(spark, path)
      val m = current(spark, path)
      val partitionCol = m.partitionCol
      val full = scan(spark, path, m, m.entries)
      val schema = full.schema
      val spec = specOf(spark, path, m)
      assignments.keys.foreach { c =>
        require(schema.fieldNames.contains(c),
          s"UPDATE assigns unknown column '$c' (table columns: " +
            s"${schema.fieldNames.mkString(", ")})")
        require(c != partitionCol,
          s"UPDATE cannot assign the partition column '$c' — rows would " +
            "move between partitions; express a re-partitioning change as " +
            "DELETE + merge")
        require(!spec.exists(_.keys.contains(c)),
          s"UPDATE cannot assign merge key '$c' — the key tuple is the " +
            "row's LWW identity (rewriting it could collide two rows onto " +
            "one key); a key change is deleteKeys + merge")
      }
      val pred = coalesce(predicate, lit(false))
      val hits = full.filter(pred)
      // rewritten shape: assigned columns switch on the predicate, all
      // others pass through; declared types pinned by cast
      def rewritten(df: DataFrame): DataFrame =
        df.select(schema.fields.map { f =>
          assignments.get(f.name) match {
            case Some(v) =>
              when(pred, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        }.toSeq: _*)
      // deterministic, for the same two-pass reason delete refuses — and
      // the assignment values additionally must not vary per evaluation
      require(!rewritten(hits).queryExecution.analyzed.exists(
        _.expressions.exists(!_.deterministic)),
        "UPDATE predicate and SET expressions must be deterministic — the " +
          "predicate is evaluated once to find affected partitions and " +
          "again in the rewrite, and a nondeterministic expression would " +
          "split the passes inconsistently")
      // same per-execution substitution trap as delete's guard: now() is
      // deterministic=true in Catalyst but varies across the passes
      require(!timeDependent(rewritten(hits).queryExecution.analyzed),
        "UPDATE predicate and SET expressions must not depend on " +
          "evaluation time (now()/current_timestamp()/current_date() are " +
          "substituted per execution and the rewrite runs in independent " +
          "passes) — bind the timestamp to a literal upstream")
      // one row per partition that CONTAINS an updated row
      val affected = affectedPartitions(spark, hits, partitionCol, "update")
      if (affected.isEmpty) 0L
      else {
        gcOrphans(fs, path, m.gen, dirsOf(partitionCol, affected))
        val affectedValues = affected.map(_._1).toSet
        val hitEntries = m.entries.filter(e => affectedValues.contains(e.value))
        val existing = relation(spark, path, hitEntries, schema)
        val updatedCount = existing.filter(pred).count()
        val newGen = m.gen + 1
        val statsCols = spec.map(_.statsCols).getOrElse(Nil)
          .filter(schema.fieldNames.contains)
        val newEntries = stageInstall(spark, fs, path, rewritten(existing),
          partitionCol, affected.map { case (v, h) => h -> v }.toMap, newGen,
          statsCols, schema)
        val kept = m.entries.filterNot(e => affectedValues.contains(e.value))
        // an update never changes the schema: re-record the one it read
        publish(fs, path, m.copy(gen = newGen, entries = kept ++ newEntries,
          schema = Some(schema), spec = spec))
        updatedCount
      }
    }
  }

  /** CHANGES between two retained snapshots — the CDC read an incremental
    * consumer needs at 100 TB: instead of re-reading the whole table and
    * diffing (or worse, reprocessing it), a downstream job asks "what
    * changed between the snapshot I last saw and now" and gets one frame
    * with a `_change_type` column ∈ {insert, update, delete}:
    *
    *  - `insert`: the key exists only in `toGen` (row = post-image);
    *  - `update`: the key exists in both and ANY column differs
    *    (null-safely compared; row = post-image);
    *  - `delete`: the key exists only in `fromGen` (row = PRE-image —
    *    there is no post-image to show).
    *
    * PARTITION-SCOPED by construction: the manifests' entry lists are
    * diffed first, and partitions serving the SAME generation in both
    * snapshots are never read at all — the cost is proportional to the
    * partitions the commits in (fromGen, toGen] actually touched, not to
    * the table (the same locality the merge/delete writes have). Within a
    * touched partition, untouched keys compare equal and emit nothing
    * (the LWW merge rewrites whole partitions, so most rows are identical
    * copies — the keyed full-outer join filters them out).
    *
    * Keys come from `toGen`'s merge contract ([[MergeSpec]] — the same
    * identity every write face upserts by). Rows are read under
    * `toGen`'s schema (widen-only evolution: pre-widen rows surface the
    * added columns as null, so pre/post images align). Both snapshots
    * must still be retained (see [[vacuum]]); `fromGen < toGen` — a
    * reverse diff is the same frame with insert/delete swapped, which the
    * caller can do.
    */
  def changes(spark: SparkSession, path: String,
      fromGen: Long, toGen: Long): DataFrame = {
    require(fromGen < toGen,
      s"changes wants fromGen < toGen, got $fromGen >= $toGen")
    val mOld = manifestAt(spark, path, fromGen)
    val mNew = manifestAt(spark, path, toGen)
    val spec = requireSpec(spark, path, Some(mNew), "changes()")
    val oldByVal = mOld.entries.map(e => e.value -> e).toMap
    val newByVal = mNew.entries.map(e => e.value -> e).toMap
    // the partition-scoped core: same gen in both snapshots = untouched,
    // never read
    val touchedOld = mOld.entries.filter(e =>
      newByVal.get(e.value).forall(_.gen != e.gen))
    val touchedNew = mNew.entries.filter(e =>
      oldByVal.get(e.value).forall(_.gen != e.gen))
    val schema = snapshotSchema(spark, path, mNew)
      .orElse(snapshotSchema(spark, path, mOld)).getOrElse(
        return spark.emptyDataFrame)
    def readEntries(es: Seq[Entry]): DataFrame = relation(spark, path, es, schema)
    val keys = spec.keys
    val dataCols = schema.fieldNames.toSeq.filterNot(keys.contains)
    val pre = readEntries(touchedOld)
      .select((keys.map(c => col(c).as(s"__prek_$c")) ++
        dataCols.map(c => col(c).as(s"__pre_$c"))): _*)
    val post = readEntries(touchedNew)
      .select((keys.map(c => col(c).as(s"__postk_$c")) ++
        dataCols.map(c => col(c).as(s"__post_$c"))): _*)
    // NULL-SAFE key equality: the lake's LWW identity groups null keys as
    // one key (lastWriteWins windows by them), so the diff must match the
    // same way — a plain equi-join would surface an unchanged null-key
    // row as a phantom delete+insert whenever its partition rewrites.
    // Presence flags survive the outer join even for all-null data rows.
    val joinCond = keys.map(k => col(s"__prek_$k") <=> col(s"__postk_$k"))
      .reduce(_ && _)
    val j = pre.withColumn("__in_pre", lit(true))
      .join(post.withColumn("__in_post", lit(true)), joinCond, "full_outer")
      .select((keys.map(k =>
        when(col("__in_post").isNull, col(s"__prek_$k"))
          .otherwise(col(s"__postk_$k")).as(k)) ++
        Seq(col("*"))): _*)
    val differs = dataCols
      .map(c => !(col(s"__pre_$c") <=> col(s"__post_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val changeType =
      when(col("__in_pre").isNull, lit("insert"))
        .when(col("__in_post").isNull, lit("delete"))
        .when(differs, lit("update"))
    // image: post for insert/update, pre for delete
    val image = dataCols.map(c =>
      when(col("__in_post").isNull, col(s"__pre_$c"))
        .otherwise(col(s"__post_$c")).as(c))
    j.withColumn("_change_type", changeType)
      .filter(col("_change_type").isNotNull)
      .select((keys.map(col) ++ image :+ col("_change_type")): _*)
  }

  /** True when any expression in the plan reads evaluation-time — the
    * family `ComputeCurrentTime` substitutes once per EXECUTION
    * (current_timestamp/now/localtimestamp/current_date). Catalyst marks
    * them deterministic (within one execution they are), but delete/update
    * evaluate their predicate in independent passes, so across passes they
    * behave exactly like rand().
    */
  private def timeDependent(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{
      CurrentDate, CurrentTimestamp, LocalTimestamp, Now}
    plan.exists(_.expressions.exists(_.exists {
      case _: CurrentTimestamp | _: Now | _: LocalTimestamp | _: CurrentDate => true
      case _ => false
    }))
  }

  /** The delete commit: `hitOf` selects the rows to remove, `survivorsOf`
    * their complement (two faces of one contract so both predicate and
    * anti-join deletes share the commit path). Caller-visible behavior is
    * documented on [[delete]].
    */
  private def deleteCore(
      spark: SparkSession,
      path: String,
      hitOf: DataFrame => DataFrame,
      survivorsOf: DataFrame => DataFrame): Long =
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, path) {
      val fs = fsOf(spark, path)
      val m = current(spark, path)
      val partitionCol = m.partitionCol
      val full = scan(spark, path, m, m.entries)
      val hits = hitOf(full)
      // the predicate is evaluated in TWO independent passes (affected-
      // partition discovery here, survivor rewrite below) — a
      // nondeterministic predicate (rand(), time-dependent) would split
      // inconsistently: rows neither deleted nor kept consistently and a
      // drifting count. Refuse up front, as SQL engines refuse
      // nondeterministic DELETE conditions. Checked on the ANALYZED plan:
      // an unresolved function would report deterministic vacuously.
      require(!hits.queryExecution.analyzed.exists(
        _.expressions.exists(!_.deterministic)),
        "delete predicate must be deterministic — it is evaluated once to " +
          "find affected partitions and again to write survivors, and a " +
          "nondeterministic condition (rand(), …) would split the two " +
          "passes inconsistently")
      // now()/current_date() are deterministic=true in Catalyst (substituted
      // per EXECUTION by ComputeCurrentTime) — which is exactly the problem:
      // each pass is its own execution, so a time-dependent predicate would
      // split the passes just like rand() does. Reject explicitly.
      require(!timeDependent(hits.queryExecution.analyzed),
        "delete predicate must not depend on evaluation time " +
          "(now()/current_timestamp()/current_date() are substituted per " +
          "execution and the predicate runs in independent passes) — bind " +
          "the cutoff to a literal timestamp upstream")
      // one row per partition that LOSES a row
      val affected = affectedPartitions(spark, hits, partitionCol, "delete")
      if (affected.isEmpty) 0L
      else {
        gcOrphans(fs, path, m.gen, dirsOf(partitionCol, affected))
        val affectedValues = affected.map(_._1).toSet
        val hitEntries = m.entries.filter(e => affectedValues.contains(e.value))
        // survivors of ONLY the affected partitions, read through the
        // manifest's gen dirs (untouched partitions are never re-read)
        val existing = relation(spark, path, hitEntries, full.schema)
        // row counts come from parquet METADATA (empty-projection counts
        // read footers, not data), so the predicate itself is evaluated
        // only twice — finding affected partitions and writing survivors
        // — never in a third dedicated counting pass over the data
        val totalExisting = existing.count()
        val newGen = m.gen + 1
        val spec = specOf(spark, path, m)
        val statsCols = spec.map(_.statsCols).getOrElse(Nil)
          .filter(full.schema.fieldNames.contains)
        val newEntries = stageInstall(spark, fs, path, survivorsOf(existing),
          partitionCol, affected.map { case (v, h) => h -> v }.toMap, newGen,
          statsCols, full.schema)
        val survivorCount = relation(spark, path, newEntries, full.schema).count()
        val kept = m.entries.filterNot(e => affectedValues.contains(e.value))
        // a delete never changes the schema: the new snapshot re-records
        // the one it read (keeps emptied/truncated tables answerable)
        publish(fs, path, m.copy(gen = newGen, entries = kept ++ newEntries,
          schema = Some(full.schema), spec = spec))
        totalExisting - survivorCount
      }
    }

  /** Everything EXCEPT the publish of a keyed LWW commit of the RAW batch
    * `updates` over `cur`, the manifest the caller resolved in its lease
    * (the spec pins the law: after prepare, readers see the wholly-old
    * snapshot; after [[publish]], the wholly-new one). The into-existing
    * branch keeps the two-stage batch-dedup + union-LWW shape: one
    * union-level window was measured slower at sf0.1 (e3b 1.84→2.51 s,
    * round 14). `affected`: the batch's affected-partition pairs when the
    * caller already holds them (see [[mergeTouching]]). None = empty batch.
    */
  private[etl] def prepareMerge(
      spark: SparkSession,
      path: String,
      cur: Option[Manifest],
      updates: DataFrame,
      spec: MergeSpec,
      affected: Option[Array[(String, String)]] = None): Option[(FileSystem, Manifest)] = {
    val MergeSpec(keys, versionCol, partitionCol, tieBreakers, statsCols) = spec
    require(updates.columns.contains(partitionCol),
      s"updates must carry partition column '$partitionCol'")
    require(statsCols.forall(updates.columns.contains),
      s"statsCols ${statsCols.mkString(",")} must be update columns")
    val batch = Upsert.lastWriteWins(updates, keys, versionCol, tieBreakers)
    // Affected-partition detection. When partitionCol is one of the merge
    // keys (the common contract), every key group's LWW winner carries its
    // group's partition value, so the raw batch and its deduped winners
    // span the SAME distinct values — detect from the raw batch and skip a
    // full window pass (the scan is column-pruned to partitionCol).
    // When partitionCol is NOT a key, a group's winner can land in a
    // different partition than its losers and "affected" has always meant
    // the WINNERS' partitions — keep that semantics and pay the window.
    val touched = if (keys.contains(partitionCol)) updates else batch
    replacePartitions(spark, path, cur, partitionCol, updates.schema, Some(spec),
      affected.getOrElse(affectedPartitions(spark, touched, partitionCol, "merge batch"))) {
      case Some(existing) =>
        Upsert.lastWriteWins(
          existing.withColumn("__gen", lit(0L))
            .unionByName(batch.withColumn("__gen", lit(1L))),
          keys, "__gen", versionCol +: tieBreakers).drop("__gen")
      case None => batch
    }
  }

  /** Everything EXCEPT the publish of a [[foldStreamBatch]] commit over
    * `cur`. A new partition folds `empty`, so even the first fold records
    * the fold's output schema, not the raw state's.
    */
  private[graft] def prepareFold(spark: SparkSession, path: String,
      cur: Option[Manifest], state: DataFrame, partitionCol: String)(
      fold: (DataFrame, DataFrame) => DataFrame): Option[(FileSystem, Manifest)] = {
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](),
      cur.flatMap(snapshotSchema(spark, path, _)).getOrElse(state.schema))
    val schema = fold(empty, state).schema
    require(state.columns.contains(partitionCol) && schema.fieldNames.contains(partitionCol),
      s"fold state and output must carry partition column '$partitionCol'")
    replacePartitions(spark, path, cur, partitionCol, schema, cur.flatMap(_.spec),
      affectedPartitions(spark, state, partitionCol, "fold batch"))(
      existing => fold(existing.getOrElse(empty), state))
  }

  /** The partition-replace body merge and fold commits share: the
    * `affected` partitions ((value, dir key) pairs, see
    * [[affectedPartitions]]; evaluated after the schema checks) get
    * `rowsOf(their existing rows, None when all are new)`, in `schema`, as
    * a new generation; the pending manifest records `spec` and carries the
    * watermarks forward. Callers hold the lease. None = nothing touched.
    */
  private def replacePartitions(
      spark: SparkSession,
      path: String,
      cur: Option[Manifest],
      partitionCol: String,
      schema: StructType,
      spec: Option[MergeSpec],
      affectedOf: => Array[(String, String)])(
      rowsOf: Option[DataFrame] => DataFrame): Option[(FileSystem, Manifest)] = {
    val fs = fsOf(spark, path)
    val curGen = cur.map(_.gen).getOrElse(0L)
    cur.foreach(m => require(m.partitionCol == partitionCol,
      s"$path is partitioned by ${m.partitionCol}, not $partitionCol"))
    // the widen-only evolution contract: refuse narrowing/retyping batches
    // BEFORE any data moves (a missing column would silently truncate the
    // rewritten partitions; see checkEvolution's messages for remediation)
    val table = cur.flatMap(m => snapshotSchema(spark, path, m))
    table.foreach(t => checkEvolution(t, schema))
    val affected = affectedOf
    if (affected.isEmpty) return None
    require(affected.forall(_._1 != null),
      s"null $partitionCol in update batch: a null partition value has no " +
        "directory form — filter or default it upstream")
    // manifest lines are newline-terminated and the publish format is not
    // escape-aware beyond tabs; a control character in a value string
    // would corrupt every future parse of the table — reject up front,
    // like the null check (tab itself is parse-safe and stays legal)
    require(affected.forall { case (v, _) => !v.exists(c => c.isControl && c != '\t') },
      s"$partitionCol value contains a control character (newline?) — " +
        "it would corrupt the manifest; sanitize upstream")
    // hex dir names double the value's byte length; keep the full
    // component (`<col>=h<hex>`) under common 255-byte filesystem limits
    // instead of failing mid-commit with an opaque FS error
    require(affected.forall { case (v, _) =>
      partitionCol.length + 2 + v.getBytes("UTF-8").length * 2 <= 240 },
      s"$partitionCol value too long for a hex-named partition directory " +
        "(value bytes x2 + column name must stay under 240 chars)")
    gcOrphans(fs, path, curGen, dirsOf(partitionCol, affected))
    val newGen = curGen + 1
    // Entries are matched by VALUE, not by directory name: the value string
    // is layout-independent (dir names changed once already — bare hex →
    // `h`-prefixed hex), so a manifest written under an older dir scheme
    // still merges correctly — its old entry is read through its verbatim
    // dirName, replaced by a new-layout entry, and the stale gen dir ages
    // out at vacuum. Matching by dirName would silently keep the legacy
    // entry ALONGSIDE the new one for the same value (duplicate rows on
    // read). A well-formed manifest has one entry per value; a duplicate
    // means corruption — fail loudly before making it worse.
    val affectedValues = affected.map(_._1).toSet
    cur.foreach { m =>
      val dup = m.entries.groupBy(_.value).collect { case (v, es) if es.length > 1 => v }
      require(dup.isEmpty,
        s"$path manifest lists multiple entries for value(s) ${dup.mkString(", ")} — " +
          "corrupt manifest; refusing to merge")
    }
    val hit = cur.map(_.entries.filter(e => affectedValues.contains(e.value)))
      .getOrElse(Nil)
    // Existing rows of ONLY the affected partitions, read through the
    // manifest's gen dirs under the new rows' schema (every column —
    // partitionCol included — is a DATA column in the files).
    val rows = rowsOf(if (hit.isEmpty) None else Some(relation(spark, path, hit, schema)))
    val newEntries = stageInstall(spark, fs, path, rows, partitionCol,
      affected.map { case (v, h) => h -> v }.toMap, newGen,
      spec.map(_.statsCols).getOrElse(Nil).filter(schema.fieldNames.contains), schema)
    val kept = cur.map(_.entries.filterNot(e => affectedValues.contains(e.value)))
      .getOrElse(Nil)
    // The batch defines the snapshot's COLUMN SET — checkEvolution
    // guaranteed it is a widening superset of the table's — but the
    // recorded COLUMN ORDER is normalized to the existing table's with
    // genuinely new columns appended: a batch whose columns merely arrive
    // reordered must not silently reorder the table's published order
    // (SELECT * / positional INSERT INTO binding would change across
    // commits). Parquet reads under a pinned schema match columns BY
    // NAME, so the files' physical order is free to differ.
    val byName = schema.fields.map(f => f.name -> f).toMap
    val recorded = table match {
      case Some(t) => StructType(t.fields.map(f => byName(f.name)) ++
        schema.fields.filterNot(f => t.fieldNames.contains(f.name)))
      case None => schema
    }
    Some((fs, Manifest(newGen, partitionCol, kept ++ newEntries, schema = Some(recorded),
      spec = spec, streams = cur.map(_.streams).getOrElse(Map.empty))))
  }

  /** The distinct (value string, hex dir key) pairs of `partitionCol` in
    * `rows`: one per partition a merge, update or delete commit rewrites.
    * Both halves come from SPARK expressions — the same cast + hex that
    * [[stageInstall]] routes rows by, so driver and executors can never
    * disagree on a value's directory. `h` + hex is never empty, even for
    * the empty-string value (see the layout scaladoc): a bare hex('') = ''
    * routing key would partitionBy into __HIVE_DEFAULT_PARTITION__ and die
    * mid-install unmatchable.
    *
    * Bounded collect, with the bound ENFORCED on the fetch itself. The
    * lake contract partitions by low-cardinality columns, so a commit
    * touching more than `graft.lake.maxAffectedPartitions` values is a
    * mis-partitioned table (or a wrong partitionCol) — fail loudly with the
    * remediation instead of marching on toward a driver OOM at scale.
    * [[BoundedDistinct]] runs it as one map-side job: each task ships at
    * most max + 1 values, so the driver never fetches more than
    * tasks × (max + 1) rows, with no shuffle and no `limit()` exchange.
    */
  private def affectedPartitions(
      spark: SparkSession,
      rows: DataFrame,
      partitionCol: String,
      verb: String): Array[(String, String)] =
    pairsOf(BoundedDistinct.collect(rows, Seq(partitionProjection(
      spark, col(s"`$partitionCol`"), partitionCol, verb))).head)

  /** [[affectedPartitions]]' set as a [[BoundedDistinct.Projection]] over
    * the partition value `value` (a column or the expression that will
    * compute `partitionCol`), so one pass can collect it beside other
    * sets; its refusal names `verb`.
    */
  private[etl] def partitionProjection(spark: SparkSession, value: Column,
      partitionCol: String, verb: String): BoundedDistinct.Projection = {
    val (str, dir) = routing(value)
    val max = maxAffectedPartitions(spark)
    BoundedDistinct.Projection(Seq(str, dir), max,
      s"$verb touches more than $max distinct $partitionCol " +
        "values — the per-partition commit protocol is built for " +
        "low-cardinality partitioning; repartition the table or raise " +
        "graft.lake.maxAffectedPartitions")
  }

  /** A partition value's string form and its `h` + hex dir key: the one
    * pair of expressions both the affected set and [[stageInstall]]'s
    * routing use.
    */
  private def routing(value: Column): (Column, Column) = {
    val str = value.cast(StringType)
    (str, concat(lit("h"), hex(str)))
  }

  private def pairsOf(rows: Array[Row]): Array[(String, String)] =
    rows.map(r => (r.getString(0), r.getString(1)))

  /** The partition dirs a commit over `affected` installs into. */
  private def dirsOf(partitionCol: String, affected: Array[(String, String)]): Seq[String] =
    affected.toSeq.map { case (_, h) => s"$partitionCol=$h" }

  /** The bound on the partition values one commit may touch. */
  private[etl] def maxAffectedPartitions(spark: SparkSession): Int =
    spark.conf.getOption("graft.lake.maxAffectedPartitions")
      .map(_.toInt).getOrElse(100000)

  /** ONE write job for a commit's affected partitions: route `rows` by the
    * hex dir key (a derived column, so `partitionCol` itself STAYS in the
    * files), stage under `_staging`, install each staged dir as its
    * partition's gen `newGen`, write the generation's file record
    * ([[recordFiles]], with per-file stats when `statsCols` asked for
    * them), and return the installed entries. With statsCols the rows are
    * range-clustered by (dir, statsCols) first so each file covers a
    * NARROW slice of the stats columns — the layout that makes per-file
    * min/max actually prune (a hash-shuffled write gives every file the
    * full value range); in-job sampling nondeterminism is harmless
    * because stats are recorded from the files actually written, never
    * re-derived. A partition whose `rows` slice is EMPTY stages no dir
    * and gets no entry — [[delete]] uses exactly this to drop emptied
    * partitions from the manifest. Caller holds the lease and publishes
    * the returned entries itself.
    */
  private def stageInstall(
      spark: SparkSession,
      fs: FileSystem,
      path: String,
      rows: DataFrame,
      partitionCol: String,
      valueOfHex: Map[String, String],
      newGen: Long,
      statsCols: Seq[String],
      schema: StructType): Seq[Entry] = {
    val staging = new Path(path, "_staging")
    if (fs.exists(staging)) fs.delete(staging, true)
    val routed = rows.withColumn("__pdir", routing(col(s"`$partitionCol`"))._2)
    // Without statsCols the write fans out: `partitionBy` makes every
    // upstream task open a file in every dir value it holds. A REBALANCE on
    // the dir key (one right-sized file per value) cost +0.1–0.4 s per lake
    // verb at sf0.1 with no read-back gain at these file counts
    // (OPTIMIZATION_r15.md §6). The stats path range-clusters by (dir,
    // statsCols): its file pruning NEEDS each file to cover a narrow
    // stats slice.
    val clustered =
      if (statsCols.nonEmpty)
        routed.repartitionByRange((col("__pdir") +: statsCols.map(col)): _*)
      else routed
    clustered.write.partitionBy("__pdir").parquet(staging.toString)
    val staged = fs.listStatus(staging)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__pdir="))
    val newEntries = staged.map { s =>
      val hexName = s.getPath.getName.stripPrefix("__pdir=")
      val dirName = s"$partitionCol=$hexName"
      val dest = genDirOf(path, Entry(dirName, newGen, ""))
      fs.mkdirs(dest.getParent)
      Upsert.renameOrThrow(fs, s.getPath, dest)
      Entry(dirName, newGen,
        valueOfHex.getOrElse(hexName, sys.error(
          s"staged dir $hexName has no affected value — hex routing diverged")))
    }.toSeq
    fs.delete(staging, true)
    if (newEntries.nonEmpty)
      recordFiles(spark, fs, path, newGen, newEntries, schema, statsCols)
    newEntries
  }

  /** URL-encoding keeps the record formats unambiguous for arbitrary
    * string stats; a NULL min/max encodes as the empty field and is never
    * used to prune (the safe direction).
    */
  private def enc(s: String): String =
    if (s == null) "" else java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    if (s.isEmpty) null else java.net.URLDecoder.decode(s, "UTF-8")
  private def encList(names: Seq[String]): String = names.map(enc).mkString(",")
  private def decList(s: String): Seq[String] =
    s.split(',').toSeq.filter(_.nonEmpty).map(dec)

  /** The string form a column's per-file min/max is recorded in, applied
    * AFTER the typed min/max: TIMESTAMP goes through `unix_micros`
    * (session-timezone-free and truncation-free); everything else through
    * Spark's own string cast (exact round-trips for
    * decimal/date/integral/double/string/ntz).
    */
  private def statForm(c: Column, dt: DataType): Column = dt match {
    case TimestampType => unix_micros(c).cast("string")
    case _ => c.cast("string")
  }

  /** Read the current snapshot restricted to `sliceCol ∈ [lo, hi]` (both
    * bounds optional/inclusive), SKIPPING whole files whose recorded
    * [min, max] cannot intersect the slice — the file-level pruning the
    * manifest's partition entries cannot give inside one partition. The
    * returned frame carries the slice filter, so it is byte-identical to
    * `read(...).filter(...)`; files without recorded stats (generations
    * written without statsCols, or without a file record) are always
    * read — pruning is advisory, never lossy. Resolution is driver-side
    * arithmetic over the file records ([[pruneFiles]]): no listing, no
    * Spark job.
    */
  def readSlice(
      spark: SparkSession,
      path: String,
      sliceCol: String,
      lo: Option[Any],
      hi: Option[Any]): DataFrame =
    readSlices(spark, path, Seq((sliceCol, lo, hi)))

  /** Multi-column [[readSlice]]: the conjunction of `(col, lo, hi)`
    * slices — a file is skipped when ANY slice cannot intersect its
    * recorded range (the conjunct semantics), and every slice filter is
    * applied to the result.
    */
  def readSlices(
      spark: SparkSession,
      path: String,
      slices: Seq[(String, Option[Any], Option[Any])]): DataFrame = {
    val m = current(spark, path)
    val pruned = scan(spark, path, m, m.entries,
      slices.map { case (c, lo, hi) => (c, Seq((lo, hi))) })
    // Bounds are cast to the slice COLUMN's type before comparing, so the
    // filter and [[pruneFiles]] share ONE comparison semantics: an uncast
    // filter would coerce differently for mismatched bound types (e.g. a
    // numeric bound on a STRING column compares numerically in the filter
    // but lexicographically in pruning — a file the filter keeps could be
    // pruned, silent row loss). An uncastable bound turns the filter
    // null-false AND disables pruning on that side — rows never outlive
    // their pruning, the lossless direction.
    slices.foldLeft(pruned) { case (d, (sc, lo, hi)) =>
      val c = col(sc)
      val dt = d.schema(sc).dataType
      val f1 = lo.map(v => c >= lit(v).cast(dt)).getOrElse(lit(true))
      val f2 = hi.map(v => c <= lit(v).cast(dt)).getOrElse(lit(true))
      d.filter(f1 && f2)
    }
  }

  /** Read the current snapshot restricted to `sliceCol IN (values)` —
    * the reference's own verification shape (`= ANY(array)`,
    * `postgres_writer.py:371-377`) — SKIPPING whole files whose recorded
    * [min, max] intersects NO point. The returned frame carries the
    * `isin` filter, so it is byte-identical to `read(...).filter(...)`;
    * unrecorded files are always read (advisory, never lossy). Null
    * values never match `IN` in SQL, so they are dropped from both sides.
    */
  def readIn(
      spark: SparkSession,
      path: String,
      sliceCol: String,
      values: Seq[Any]): DataFrame = {
    val m = current(spark, path)
    val vs = values.filter(_ != null)
    val df = scan(spark, path, m, m.entries,
      Seq((sliceCol, vs.map(v => (Some(v), Some(v))))))
    val dt = df.schema(sliceCol).dataType
    if (vs.isEmpty) df.filter(lit(false))
    else df.filter(col(sliceCol).isin(vs.map(v => lit(v).cast(dt)): _*))
  }

  /** The file-pruning core shared by [[readSlices]], [[readIn]] and
    * [[graft.sources.LakeCatalog]]'s scan-time pushdown: a keep test over
    * a snapshot's [[LiveFile]]s for a CONJUNCTION of per-column interval
    * DISJUNCTIONS — a file is dropped when, for some column, NO interval
    * can intersect its recorded [min, max]. An IN list — the reference's
    * own verification shape, `= ANY(array)` (`postgres_writer.py:371-377`)
    * — is the degenerate case of point intervals.
    *
    * Pure driver-side arithmetic over the records: bounds and recorded
    * min/max go through Catalyst's own `Cast` to the column's type (in the
    * session time zone, as the slice filter casts) and its ordering
    * (`LessThan` on literals). Advisory, never lossy: a file without
    * recorded stats for the column, a null min/max, an interval with
    * neither bound, or a bound that does not cast keeps the file.
    */
  private[graft] def pruneFiles(
      spark: SparkSession,
      schema: StructType,
      slices: Seq[(String, Seq[(Option[Any], Option[Any])])]): LiveFile => Boolean = {
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    def typed(v: Any, dt: DataType): Option[Any] =
      scala.util.Try(Cast(Literal(v), dt, tz).eval()).toOption.flatMap(Option(_))
    def stat(s: String, dt: DataType): Option[Any] =
      if (s == null) None
      else dt match {
        case TimestampType => s.toLongOption // recorded as unix_micros
        case _ => typed(UTF8String.fromString(s), dt)
      }
    val active = slices.collect {
      case (c, intervals) if schema.fieldNames.contains(c) && intervals.nonEmpty &&
          intervals.forall(iv => iv._1.isDefined || iv._2.isDefined) =>
        val dt = schema(c).dataType
        (c, dt, intervals.map { case (lo, hi) =>
          (lo.flatMap(typed(_, dt)), hi.flatMap(typed(_, dt))) })
    }
    if (active.isEmpty) return _ => true
    def lt(dt: DataType, a: Any, b: Any): Boolean =
      scala.util.Try(LessThan(Literal(a, dt), Literal(b, dt)).eval() == true)
        .getOrElse(false)
    f => !active.exists { case (c, dt, intervals) =>
      f.bounds.get(c).exists { case (mnS, mxS) =>
        val mn = stat(mnS, dt)
        val mx = stat(mxS, dt)
        // excluded ⇔ every interval misses: (mx < lo_i) OR (mn > hi_i), ∀i
        intervals.forall { case (lo, hi) =>
          lo.exists(b => mx.exists(lt(dt, _, b))) ||
            hi.exists(b => mn.exists(lt(dt, b, _)))
        }
      }
    }
  }

  /** Unpublished generations (gen > the current manifest) are orphans of
    * a crashed prepare — their gen dirs and their file records: no reader
    * can reference them, the lease guarantees no writer owns them —
    * delete, then the re-run converges. Lists `_manifests/` and, of the
    * data, only `partDirs`: the partition dirs this commit installs into.
    * An orphan gen dir in any other partition cannot collide with the
    * commit (a commit creates `gen=<newGen>` only under partitions it
    * touches), no manifest names it, and [[vacuum]] deletes it, so a
    * commit's listing cost follows the partitions it touches, not the
    * table's.
    */
  private def gcOrphans(fs: FileSystem, path: String, curGen: Long,
      partDirs: Seq[String]): Unit = {
    val mdir = manifestDir(path)
    if (fs.exists(mdir)) fs.listStatus(mdir).foreach { s =>
      s.getPath.getName match {
        case FilesName(g) if g.toLong > curGen => fs.delete(s.getPath, false)
        case _ => ()
      }
    }
    partDirs.map(new Path(dataDir(path), _)).filter(fs.exists).foreach { part =>
      fs.listStatus(part).foreach { g =>
        g.getPath.getName match {
          case GenName(n) if n.toLong > curGen => fs.delete(g.getPath, true)
          case _ => ()
        }
      }
    }
  }

  /** Small-file compaction, committed through the same manifest mechanism:
    * each fragmented partition's current gen is rewritten (coalesced to
    * `ceil(bytes/targetBytes)` files, floored at `minFilesToCompact`) into
    * a NEW gen, and one publish re-points them all. Which partitions are
    * fragmented is read from the file records (no listing). Readers never
    * see an absent or half-compacted partition (a Hive-layout directory
    * swap cannot avoid that window); a reader pinned to the pre-compact
    * snapshot keeps reading the old files until [[vacuum]]. Row content
    * is preserved as a multiset. The compacted gen's file record
    * RE-CAPTURES stats for whatever columns the replaced gens recorded
    * (coalesced files carry wider — but still correct — ranges), so
    * [[readSlice]] keeps skipping after maintenance; partitions that
    * never had stats stay statless. Returns (dirName, filesBefore,
    * filesAfter) per compacted partition.
    */
  def compact(
      spark: SparkSession,
      path: String,
      targetBytes: Long = 128L * 1024 * 1024,
      minFilesToCompact: Int = 4): Seq[(String, Int, Int)] =
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, path) {
      val fs = fsOf(spark, path)
      currentManifest(spark, path) match {
        case None => Nil
        case Some(m) =>
          val picked = m.entries.zip(liveFiles(spark, path, m.entries)).flatMap {
            case (e, (_, files)) =>
              val bytes = files.map(_.status.getLen).sum
              val want = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
              if (files.length > math.max(want, minFilesToCompact))
                Some((e, files, want))
              else None
          }
          if (picked.isEmpty) Nil
          else {
            gcOrphans(fs, path, m.gen, picked.map(_._1.dirName))
            val newGen = m.gen + 1
            // compaction never changes the schema: the snapshot's own
            val schema = snapshotSchema(spark, path, m).get
            // independent per-partition rewrites → concurrent jobs (a
            // serial loop over hundreds of fragmented partitions would pay
            // one scheduler round-trip each); failures propagate before any
            // publish, so a partial failure publishes nothing
            val pool = java.util.concurrent.Executors.newFixedThreadPool(
              math.min(8, picked.length))
            try {
              implicit val ec: scala.concurrent.ExecutionContext =
                scala.concurrent.ExecutionContext.fromExecutorService(pool)
              val jobs = picked.map { case (e, _, want) =>
                scala.concurrent.Future {
                  relation(spark, path, Seq(e), schema)
                    .coalesce(want)
                    .write.parquet(genDirOf(path, e.copy(gen = newGen)).toString)
                }
              }
              // settle EVERY rewrite before leaving the lease scope: a
              // fail-fast sequence would release the lease while sibling
              // Spark jobs still write gen=N dirs — the next lease holder
              // GCs and reuses N, and the zombie job could mix files into
              // its commit. Await all (as Try), then surface the first
              // failure; the publish below never runs on a partial set.
              val settled = scala.concurrent.Await.result(
                scala.concurrent.Future.sequence(
                  jobs.map(_.transform(scala.util.Success(_)))),
                scala.concurrent.duration.Duration.Inf)
              settled.collectFirst { case scala.util.Failure(t) => t }
                .foreach(t => throw t)
            } finally pool.shutdown()
            val newEntries = picked.map(_._1.copy(gen = newGen))
            val statCols = picked.flatMap(_._2).flatMap(_.bounds.keys).distinct
              .filter(schema.fieldNames.contains)
            val recorded = recordFiles(spark, fs, path, newGen, newEntries, schema, statCols)
            val bumped = picked.map(_._1.dirName).toSet
            publish(fs, path, m.copy(gen = newGen,
              entries = m.entries.map(e =>
                if (bumped.contains(e.dirName)) e.copy(gen = newGen) else e),
              schema = Some(schema)))
            picked.map { case (e, before, _) =>
              (e.dirName, before.length, recorded.count(_._1.dirName == e.dirName))
            }
          }
      }
    }

  /** Retention: keep the newest `keepManifests` snapshots (and every gen
    * dir and file record they reference), delete everything older — the
    * unreferenced gen dirs, their records and the expired manifest files.
    * Readers pinned to an expired snapshot lose it (the Delta/Iceberg
    * VACUUM contract); size the retention to the longest-running reader.
    * Returns the number of gen dirs removed.
    */
  def vacuum(spark: SparkSession, path: String, keepManifests: Int = 1): Int = {
    require(keepManifests >= 1, s"keepManifests must be >= 1, got $keepManifests")
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, path) {
      val fs = fsOf(spark, path)
      val dir = manifestDir(path)
      val manifests =
        if (!fs.exists(dir)) Array.empty[(Long, String)]
        else fs.listStatus(dir).map(_.getPath.getName).collect {
          case n @ ManifestName(g) => (g.toLong, n)
        }.sortBy(-_._1)
      if (manifests.isEmpty) 0
      else {
        val kept = manifests.take(keepManifests)
        val referenced: Set[(String, Long)] = kept.flatMap { case (g, n) =>
          parseManifest(fs, new Path(dir, n), g).entries.map(e => (e.dirName, e.gen))
        }.toSet
        var removed = 0
        val data = dataDir(path)
        if (fs.exists(data)) fs.listStatus(data).filter(_.isDirectory).foreach { part =>
          fs.listStatus(part.getPath).foreach { g =>
            g.getPath.getName match {
              case GenName(n)
                if !referenced.contains((part.getPath.getName, n.toLong)) =>
                fs.delete(g.getPath, true); removed += 1
              case _ => ()
            }
          }
          if (fs.listStatus(part.getPath).isEmpty) fs.delete(part.getPath, false)
        }
        manifests.drop(keepManifests).foreach { case (_, n) =>
          fs.delete(new Path(dir, n), false)
        }
        // file records live per GEN: drop the ones no kept manifest's
        // entries still reference (a kept manifest can reference entries
        // of much older gens, whose records must survive)
        val referencedGens = referenced.map(_._2)
        fs.listStatus(dir).foreach { s =>
          s.getPath.getName match {
            case FilesName(g) if !referencedGens.contains(g.toLong) =>
              fs.delete(s.getPath, false)
            case _ => ()
          }
        }
        removed
      }
    }
  }

  /** DROP the table: a lease-guarded purge of the ENTIRE lake — every
    * manifest (with the merge contract it carries), every gen dir and
    * file record. The
    * lifecycle symmetry of [[create]]: vacuum-to-zero plus metadata
    * removal, as ONE deliberate act. After the drop, time travel
    * to any former snapshot is GONE (the Delta/Iceberg DROP contract — a
    * dropped table keeps no history), reads throw "no published snapshot",
    * and a re-[[create]] at the same path starts a fresh history at
    * generation 0 (standing CDC consumers of the old table fail loudly on
    * their reset guardrail rather than silently following the new one).
    *
    * Deliberately NOT exposed by default through the SQL face —
    * [[graft.sources.LakeCatalog]] refuses `DROP TABLE` unless the catalog
    * is configured with `allow_drop=true` — so the destructive verb stays
    * behind an explicit operator decision. Returns false if no table
    * exists at `path` (the TableCatalog dropTable contract).
    */
  def drop(spark: SparkSession, path: String): Boolean =
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, path) {
      val fs = fsOf(spark, path)
      if (!fs.exists(manifestDir(path))) false
      else {
        // the lease file lives BESIDE the table dir (<path>__lease), so the
        // recursive delete cannot pull the lock out from under this holder
        fs.delete(new Path(path), true)
        true
      }
    }
}
