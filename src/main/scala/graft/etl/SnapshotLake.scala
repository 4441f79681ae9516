package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  *   _manifests/manifest-<zero-padded gen>     one per commit; max = current
  *   data/<partitionCol>=h<HEX>/gen=<n>/part-….parquet
  * }}}
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
  *    gen-dir paths, so later commits don't disturb an in-flight scan
  *    (gen dirs are immutable until [[vacuum]]).
  *  - CRASH SAFETY: a writer dying after staging/installing but before the
  *    manifest create leaves the old snapshot fully readable; the next
  *    writer GCs the unpublished orphan gens (single-writer lease) and
  *    re-runs to convergence (idempotent LWW).
  *  - SHARED MECHANISM: [[merge]] (keyed last-write-wins upsert),
  *    [[delete]]/[[deleteKeys]] (row-level takedown), and [[compact]]
  *    (small-file maintenance) all commit through the same
  *    prepare→publish path; [[readAt]] gives time travel over retained
  *    manifests for free, and [[changes]] diffs two retained snapshots
  *    into the CDC frame an incremental consumer wants.
  *
  * Scale shape (100 TB): a commit's metadata cost is O(#partitions) manifest
  * lines + one file create — no recursive listing anywhere (the manifest IS
  * the listing, the same reason table formats beat raw Hive layouts at
  * scale). Data cost is partition-scoped: untouched partitions are not
  * read, not rewritten, and their gen dirs stay byte-identical.
  * Reader-side partition pruning happens at manifest resolution
  * ([[read]]'s `partitionValues` overload) before Spark ever lists a file.
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
    */
  case class Manifest(gen: Long, partitionCol: String, entries: Seq[Entry],
      publishedAtMs: Option[Long] = None)

  private val ManifestName = """manifest-(\d{20})""".r
  private val StatsName = """stats-(\d{20})""".r
  private val SchemaName = """schema-(\d{20})""".r
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

  private def parseManifest(fs: FileSystem, p: Path, gen: Long): Manifest = {
    val in = fs.open(p)
    val text = try {
      scala.io.Source.fromInputStream(in, "UTF-8").mkString
    } finally in.close()
    val lines = text.split('\n').filter(_.nonEmpty)
    val header = lines.head.split('\t')
    // 3 fields = legacy (pre-publish-stamp) manifest; 4th = publish epoch ms
    require((header.length == 3 || header.length == 4) &&
      header(0) == "graft-snapshot-v1",
      s"unrecognized manifest header in $p: ${lines.head}")
    val publishedAt =
      if (header.length == 4) scala.util.Try(header(3).toLong).toOption else None
    val entries = lines.tail.toSeq.map { l =>
      // value strings may contain tabs — split only the first two fields
      val a = l.split('\t')
      Entry(a(0), a(1).toLong, a.drop(2).mkString("\t"))
    }
    Manifest(gen, header(1), entries, publishedAt)
  }

  // ---- per-snapshot SCHEMA sidecars (the schema-evolution contract) ----

  private def schemaPath(path: String, gen: Long) =
    new Path(manifestDir(path), f"schema-$gen%020d")

  /** Record snapshot `gen`'s schema (Spark's own JSON form) BEFORE its
    * manifest publishes — the per-snapshot schema is what makes the
    * widen-only evolution contract readable: a mixed-generation read pins
    * the UNION schema (old gens fill the added columns with null), and
    * time travel to a pre-widen snapshot still answers with that
    * snapshot's own narrower schema. Crash between sidecar and publish
    * leaves an orphan, GC'd with the orphan gens.
    *
    * The recorded shape is ALWAYS the nullable one (Spark's own
    * file-relation posture): a parquet-backed snapshot can never promise
    * non-null — on a widened history the pre-add generations null-fill
    * the added column, so a batch-derived non-nullable field (e.g. a
    * `concat_ws` product) recorded verbatim would be a LIE the first
    * nullability-exploiting codegen consumer (a hash, a non-null-checked
    * getter) turns into an executor NPE.
    */
  private def writeSchemaSidecar(fs: FileSystem, path: String, gen: Long,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    fs.mkdirs(manifestDir(path))
    val tmp = new Path(manifestDir(path), s".tmp-schema-$gen-${System.nanoTime()}")
    val out = fs.create(tmp, false)
    try out.write(toNullable(schema).json.getBytes("UTF-8")) finally out.close()
    Upsert.renameOrThrow(fs, tmp, schemaPath(path, gen))
  }

  /** Recursive nullable form (what `DataType.asNullable` does privately). */
  private def toNullable(
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
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
  private def toNullable(
      s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    toNullable(s: org.apache.spark.sql.types.DataType)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  private def readSchemaSidecar(fs: FileSystem, path: String,
      gen: Long): Option[org.apache.spark.sql.types.StructType] = {
    val p = schemaPath(path, gen)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(text))
      .toOption.collect { case s: org.apache.spark.sql.types.StructType => s }
  }

  /** The schema snapshot `m` answers with: its own recorded sidecar when
    * present (every post-evolution-contract commit writes one), else the
    * legacy fallback — one head gen dir's parquet footer (correct for
    * lakes that never evolved, which is every pre-sidecar lake). None for
    * a snapshot with no entries and no sidecar.
    */
  private[graft] def snapshotSchema(spark: SparkSession, path: String,
      m: Manifest): Option[org.apache.spark.sql.types.StructType] = {
    val fs = fsOf(spark, path)
    readSchemaSidecar(fs, path, m.gen).orElse {
      if (m.entries.isEmpty) None
      else scala.util.Try(
        spark.read.parquet(genDirOf(path, m.entries.head).toString).schema)
        .toOption
    }
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
    * new max, never a torn file.
    */
  private[etl] def publish(fs: FileSystem, path: String, m: Manifest): Unit = {
    val dir = manifestDir(path)
    fs.mkdirs(dir)
    val tmp = new Path(dir, f".tmp-${m.gen}%020d-${System.nanoTime()}")
    val out = fs.create(tmp, false)
    try {
      val sb = new StringBuilder
      // publish time stamped IN the header (4th field): create-once files
      // make mtime a plausible proxy, but mtime does not survive
      // copy/rsync/backup-restore — TIMESTAMP AS OF must resolve from a
      // value the commit itself recorded
      sb.append(
        s"graft-snapshot-v1\t${m.partitionCol}\t${m.gen}\t${System.currentTimeMillis()}\n")
      m.entries.sortBy(_.dirName).foreach { e =>
        sb.append(s"${e.dirName}\t${e.gen}\t${e.value}\n")
      }
      out.write(sb.toString.getBytes("UTF-8"))
    } finally out.close()
    Upsert.renameOrThrow(fs, tmp, new Path(dir, f"manifest-${m.gen}%020d"))
  }

  /** Read the current snapshot. The returned frame binds the manifest's
    * concrete gen-dir paths, so it is a stable SNAPSHOT: commits that land
    * after this call do not change (or break) it until a [[vacuum]] drops
    * the generation dirs it pins.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    readManifest(spark, path, currentManifest(spark, path).getOrElse(
      throw new IllegalStateException(s"$path has no published snapshot")), None)

  /** Read the current snapshot restricted to `partitionValues` (compared on
    * the value's `cast as string` form): manifest-level pruning — Spark
    * never even lists the other partitions' files.
    */
  def read(spark: SparkSession, path: String, partitionValues: Seq[Any]): DataFrame =
    readManifest(spark, path, currentManifest(spark, path).getOrElse(
      throw new IllegalStateException(s"$path has no published snapshot")),
      Some(partitionValues.map(String.valueOf).toSet))

  /** Time travel: read the snapshot as of manifest `gen` (must still be
    * retained — see [[vacuum]]).
    */
  def readAt(spark: SparkSession, path: String, gen: Long): DataFrame =
    readManifest(spark, path, manifestAt(spark, path, gen), None)

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
    * incremental consumer ([[graft.streaming.LakeChangeFeed]]) follows.
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

  private def readManifest(spark: SparkSession, path: String, m: Manifest,
      values: Option[Set[String]]): DataFrame = {
    val picked = values match {
      case Some(vs) => m.entries.filter(e => vs.contains(e.value))
      case None => m.entries
    }
    // the snapshot's recorded schema pins mixed-generation reads: after a
    // widen-only evolution, gens written before the ADD COLUMN lack the
    // new column in their footers — the explicit union schema makes them
    // read it as null instead of footer-sampling nondeterminism deciding
    // whether the column exists at all
    val pinned = readSchemaSidecar(fsOf(spark, path), path, m.gen)
    if (picked.nonEmpty) pinned match {
      case Some(s) =>
        spark.read.schema(s).parquet(picked.map(e => genDirOf(path, e).toString): _*)
      case None =>
        spark.read.parquet(picked.map(e => genDirOf(path, e).toString): _*)
    } else {
      // pruned-to-nothing (or emptied-by-delete) read still carries the
      // TABLE's shape: an empty frame with the snapshot's schema, so
      // df.select/filter on table columns keeps working (a zero-column
      // emptyDataFrame would throw UNRESOLVED_COLUMN). An empty SNAPSHOT
      // resolves its schema from its sidecar, else from history
      // (schemaFallback); only a table that never held a row has no
      // schema at all.
      val schema = pinned.orElse {
        if (m.entries.nonEmpty)
          scala.util.Try(spark.read
            .parquet(genDirOf(path, m.entries.head).toString).schema).toOption
        else schemaFallback(spark, path, m.gen)
      }.getOrElse(return spark.emptyDataFrame)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
  }

  /** The schema an EMPTY snapshot still answers with: resolved from the
    * newest retained manifest at or below `gen` that lists at least one
    * entry (an unconditional DELETE empties the entry list but the prior
    * snapshots' gen dirs stay on disk until [[vacuum]] — and vacuum keeps
    * every gen dir a retained manifest references, so a parseable
    * manifest implies readable files). None for a table that never
    * published a row.
    */
  private[graft] def schemaFallback(spark: SparkSession, path: String,
      gen: Long): Option[org.apache.spark.sql.types.StructType] = {
    val fs = fsOf(spark, path)
    val dir = manifestDir(path)
    if (!fs.exists(dir)) return None
    val gens = fs.listStatus(dir).map(_.getPath.getName)
      .collect { case ManifestName(g) => g.toLong }
      .filter(_ <= gen).sorted.reverse
    gens.iterator
      .map(g => parseManifest(fs, new Path(dir, f"manifest-$g%020d"), g))
      .filter(_.entries.nonEmpty)
      .map(m => scala.util.Try(
        spark.read.parquet(genDirOf(path, m.entries.head).toString).schema
      ).toOption)
      .collectFirst { case Some(s) => s } // an unreadable gen falls through
  }

  /** The merge contract a lake was created with — keys, version column,
    * partition column, tie-breakers, stats columns. Persisted (as
    * `_manifests/table-meta`) by [[merge]] so the SQL write face
    * ([[graft.sources.LakeCatalog]]'s `INSERT INTO`) can route through
    * the SAME keyed LWW commit without the caller re-stating the spec.
    */
  case class MergeSpec(
      keys: Seq[String],
      versionCol: String,
      partitionCol: String,
      tieBreakers: Seq[String],
      statsCols: Seq[String])

  private def metaPath(path: String) = new Path(manifestDir(path), "table-meta")

  /** The persisted [[MergeSpec]], or None for a lake that has never been
    * merged through the spec-stamping path (pre-round-11 lakes).
    */
  def mergeSpecOf(spark: SparkSession, path: String): Option[MergeSpec] = {
    val fs = fsOf(spark, path)
    val p = metaPath(path)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split('\n').filter(_.nonEmpty)
    if (lines.isEmpty || lines.head != "graft-lake-meta-v1") return None
    val kv = lines.tail.map { l =>
      val a = l.split('\t')
      a(0) -> (if (a.length > 1) a(1) else "")
    }.toMap
    def list(k: String): Seq[String] =
      kv.getOrElse(k, "").split(',').toSeq.filter(_.nonEmpty).map(dec)
    for {
      v <- kv.get("version").filter(_.nonEmpty).map(dec)
      pc <- kv.get("partition").filter(_.nonEmpty).map(dec)
      ks = list("keys") if ks.nonEmpty
    } yield MergeSpec(ks, v, pc, list("tiebreakers"), list("statscols"))
  }

  private def specText(spec: MergeSpec): String =
    "graft-lake-meta-v1\n" +
      s"keys\t${spec.keys.map(enc).mkString(",")}\n" +
      s"version\t${enc(spec.versionCol)}\n" +
      s"partition\t${enc(spec.partitionCol)}\n" +
      s"tiebreakers\t${spec.tieBreakers.map(enc).mkString(",")}\n" +
      s"statscols\t${spec.statsCols.map(enc).mkString(",")}\n"

  /** Persist the merge contract (idempotent; caller holds the lease).
    *
    * An unchanged spec is left untouched; a changed one is replaced by
    * delete-then-rename, which is NOT atomic — the contract making that
    * safe is that every spec read on a WRITE path happens inside the same
    * [[LakeLease]] ([[mergeViaSpec]] — the SQL `INSERT INTO` route), so no
    * writer can observe the delete window. [[mergeSpecOf]] outside the
    * lease is for inspection only.
    */
  private def writeMergeSpec(fs: FileSystem, path: String, spec: MergeSpec): Unit = {
    val p = metaPath(path)
    val text = specText(spec)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val cur = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      if (cur == text) return
      fs.delete(p, false)
    }
    fs.mkdirs(manifestDir(path))
    val tmp = new Path(manifestDir(path), s".tmp-meta-${System.nanoTime()}")
    val out = fs.create(tmp, false)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    Upsert.renameOrThrow(fs, tmp, p)
  }

  /** Keyed LWW merge into the lake, with a snapshot-isolated commit.
    * CONTRACT: `partitionCol` is functionally determined by `keys` (e.g.
    * key = (ticker, ts), partition = date(ts)), so every row of a key lives
    * in exactly one partition; on key collision the update wins (DO UPDATE,
    * `postgres_writer.py:234-240`), then LWW on `versionCol` +
    * `tieBreakers` inside each side.
    *
    * `statsCols` (opt-in): range-CLUSTER each partition's files by these
    * columns at write (one extra range exchange) and record per-FILE
    * min/max into a `_manifests/stats-<gen>` sidecar (one extra
    * page-cache-warm read of just-written data) — enabling
    * [[readSlice]]'s FILE-level skipping inside a partition. Advisory
    * metadata: a missing/partial sidecar only loses pruning, never rows.
    */
  def merge(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      keys: Seq[String],
      versionCol: String,
      partitionCol: String,
      tieBreakers: Seq[String] = Nil,
      statsCols: Seq[String] = Nil): Unit = {
    require(updates.columns.contains(partitionCol),
      s"updates must carry partition column '$partitionCol'")
    require(statsCols.forall(updates.columns.contains),
      s"statsCols ${statsCols.mkString(",")} must be update columns")
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, path) {
      mergeLocked(spark, path, updates,
        MergeSpec(keys, versionCol, partitionCol, tieBreakers, statsCols))
    }
  }

  /** [[merge]] with the contract resolved from the lake's own persisted
    * spec, ALL inside the lease — the SQL write faces (`INSERT INTO`,
    * `MERGE INTO` via [[graft.sources.LakeCatalog]]) route here, so a
    * concurrent merge re-stamping the spec can never expose its
    * delete-then-rename window to them (it holds the same lease).
    */
  def mergeViaSpec(spark: SparkSession, path: String, updates: DataFrame): Unit =
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, path) {
      val spec = mergeSpecOf(spark, path).getOrElse(
        throw new UnsupportedOperationException(
          s"lake at $path has no persisted merge contract " +
            "(_manifests/table-meta) — run one SnapshotLake.merge " +
            "through the API to establish keys/version/partition, " +
            "then SQL writes route through the same LWW commit"))
      require(updates.columns.contains(spec.partitionCol),
        s"updates must carry partition column '${spec.partitionCol}'")
      require(spec.statsCols.forall(updates.columns.contains),
        s"statsCols ${spec.statsCols.mkString(",")} must be update columns")
      mergeLocked(spark, path, updates, spec)
    }

  /** CREATE an empty lake table with a declared schema and merge contract —
    * the DDL bootstrap `CREATE TABLE <cat>.<t> (…) TBLPROPERTIES
    * ('merge_keys'=…)` routes through ([[graft.sources.LakeCatalog]]), so a
    * SQL-only user can bootstrap a table and land batch 1 via INSERT
    * INTO / MERGE INTO without ever touching the Scala API. Publishes
    * snapshot generation 0: an EMPTY manifest (no entries), the declared
    * schema as gen 0's sidecar (so reads of the empty table answer with
    * the declared shape, and the first merge's [[checkEvolution]] enforces
    * it — a batch missing a declared column, or retyping one, refuses
    * exactly as it would against a merged table), and the persisted
    * [[MergeSpec]] every write face resolves. The manifest create is the
    * usual single atomic cut; creation is lease-guarded and refuses if the
    * table already has a published snapshot or a stamped contract.
    */
  def create(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType, spec: MergeSpec): Unit = {
    require(spec.keys.nonEmpty, "merge_keys must name at least one column")
    val names = schema.fieldNames.toSet
    (spec.keys ++ Seq(spec.versionCol, spec.partitionCol) ++
      spec.tieBreakers ++ spec.statsCols).foreach(c =>
      require(names.contains(c),
        s"contract column '$c' is not in the declared schema " +
          s"(${schema.fieldNames.mkString(", ")})"))
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, path) {
      val fs = fsOf(spark, path)
      require(currentManifest(spark, path).isEmpty,
        s"lake table at $path already exists (published snapshot) — " +
          "CREATE TABLE refuses to re-stamp a live table")
      // With NO published manifest, a schema-0 sidecar or a table-meta can
      // only be debris of a create that crashed before its publish (merges
      // stamp their meta AFTER publishing, and vacuum always keeps >= 1
      // manifest) — delete both so the retry's create-renames cannot
      // collide and converge to a fresh table.
      val orphanSchema = schemaPath(path, 0L)
      if (fs.exists(orphanSchema)) fs.delete(orphanSchema, false)
      if (fs.exists(metaPath(path))) fs.delete(metaPath(path), false)
      writeSchemaSidecar(fs, path, 0L, schema)
      writeMergeSpec(fs, path, spec)
      publish(fs, path, Manifest(0L, spec.partitionCol, Nil))
    }
  }

  // ---- streaming write face: per-sink batch markers ----------------------

  private def streamMarkerDir(path: String) = new Path(manifestDir(path), "streams")

  /** One marker file per sink lineage. The file NAME is a digest (a sinkId
    * is typically a checkpoint path — arbitrary length and characters);
    * the sinkId itself is recorded verbatim inside for operators.
    */
  private def streamMarkerPath(path: String, sinkId: String): Path = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(sinkId.getBytes("UTF-8")).take(16).map("%02x".format(_)).mkString
    new Path(streamMarkerDir(path), s"sink-$d")
  }

  /** The highest micro-batch id this sink lineage has applied, or None for
    * a lineage that never committed. Outside-lease reads are for
    * inspection; [[mergeStreamBatch]] re-reads inside its lease.
    */
  def streamBatchApplied(spark: SparkSession, path: String,
      sinkId: String): Option[Long] = {
    val fs = fsOf(spark, path)
    val p = streamMarkerPath(path, sinkId)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split('\n')
    if (lines.isEmpty || lines.head != "graft-lake-stream-v1") None
    else lines.lift(1).flatMap(_.toLongOption)
  }

  private def writeStreamMarker(fs: FileSystem, path: String, sinkId: String,
      batchId: Long): Unit = {
    val dir = streamMarkerDir(path)
    fs.mkdirs(dir)
    val p = streamMarkerPath(path, sinkId)
    if (fs.exists(p)) fs.delete(p, false)
    val tmp = new Path(dir, s".tmp-${System.nanoTime()}")
    val out = fs.create(tmp, false)
    try out.write(s"graft-lake-stream-v1\n$batchId\n$sinkId\n".getBytes("UTF-8"))
    finally out.close()
    Upsert.renameOrThrow(fs, tmp, p)
  }

  /** [[mergeViaSpec]] as a Structured Streaming micro-batch commit — the
    * sink half of exactly-once over the lake
    * ([[graft.sources.LakeStreamSink]] routes `writeStream
    * .format("graft-lake")` here). The engine's sink contract is
    * at-least-once (a crash between the sink write and the commit-log
    * write replays the batch), so the lake records the highest applied
    * `batchId` per `sinkId` (one marker file under `_manifests/streams`,
    * ≙ [[graft.streaming.BatchLedger]] for the JDBC face, but
    * filesystem-native and checked INSIDE the same lease as the commit):
    *
    *  - `batchId <= recorded` → replay; skipped without reading the batch
    *    (returns false).
    *  - otherwise → the usual keyed LWW commit, then the marker advances
    *    before the lease releases. An EMPTY batch advances the marker
    *    without publishing a generation.
    *
    * The one unguarded window — crash AFTER the manifest publish, BEFORE
    * the marker write — replays into a re-merge of the same batch, which
    * keyed LWW resolves to an IDENTICAL snapshot; the duplicate generation
    * it publishes has an empty [[changes]] delta (the diff is by row
    * VALUE), so even CDC consumers observe exactly-once. Batch ids are
    * only unique per checkpoint lineage — `sinkId` must change when the
    * checkpoint does (the sink derives it from `checkpointLocation`).
    */
  def mergeStreamBatch(spark: SparkSession, path: String, updates: DataFrame,
      sinkId: String, batchId: Long): Boolean = {
    require(sinkId.nonEmpty, "sinkId must be non-empty")
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, path) {
      val fs = fsOf(spark, path)
      if (streamBatchApplied(spark, path, sinkId).exists(_ >= batchId)) false
      else {
        val spec = mergeSpecOf(spark, path).getOrElse(
          throw new UnsupportedOperationException(
            s"lake at $path has no persisted merge contract " +
              "(_manifests/table-meta) — CREATE TABLE through the catalog " +
              "or run one SnapshotLake.merge to establish " +
              "keys/version/partition before streaming into it"))
        require(updates.columns.contains(spec.partitionCol),
          s"stream batch must carry partition column '${spec.partitionCol}'")
        require(spec.statsCols.forall(updates.columns.contains),
          s"statsCols ${spec.statsCols.mkString(",")} must be stream columns")
        mergeLocked(spark, path, updates, spec)
        writeStreamMarker(fs, path, sinkId, batchId)
        true
      }
    }
  }

  /** `ALTER TABLE … ADD COLUMN` — the widen-only evolution contract's DDL
    * verb, as a METADATA-ONLY commit: publishes generation `gen+1` with
    * the SAME partition entries (not a byte of data moves — exactly how
    * [[delete]] keeps untouched partitions) and a schema sidecar widened
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
          s"lake at $path predates schema sidecars — evolve it by merging " +
            "one widened batch (which records a sidecar), then ALTER works"))
      require(!cur.fieldNames.exists(_.equalsIgnoreCase(field.name)),
        s"column ${field.name} already exists in $path " +
          s"(${cur.fieldNames.mkString(", ")})")
      org.apache.spark.sql.types.StructType(cur.fields :+ field)
    }
  }

  /** The one METADATA-ONLY commit: under the lease, publish generation
    * `gen+1` with the current snapshot's entries unchanged and
    * `schemaOf(current)` as its schema sidecar. No data file is written,
    * every gen dir (and its stats sidecar) stays shared with the previous
    * snapshot, and the [[changes]] delta across the commit is empty.
    * `schemaOf` runs inside the lease, so its checks see the snapshot the
    * commit publishes over; it may refuse by throwing. Serves [[addColumn]]
    * (a widened schema) and [[Pipeline.runLake]]'s unchanged dim (the
    * same schema).
    */
  private[etl] def commitMetadataOnly(spark: SparkSession, path: String)(
      schemaOf: Manifest => org.apache.spark.sql.types.StructType): Unit =
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, path) {
      val fs = fsOf(spark, path)
      val m = currentManifest(spark, path).getOrElse(
        throw new IllegalStateException(
          s"$path has no published snapshot — nothing to commit over"))
      val schema = schemaOf(m)
      gcOrphans(fs, path, m.gen)
      writeSchemaSidecar(fs, path, m.gen + 1, schema)
      publish(fs, path, Manifest(m.gen + 1, m.partitionCol, m.entries))
    }

  /** The commit body shared by [[merge]] and [[mergeViaSpec]]; the caller
    * holds the lease. `updates` is the RAW batch — [[prepareMerge]] owns
    * the within-batch LWW (its affected-partition detection skips the
    * window entirely when partitionCol is a merge key, and its
    * into-existing branch deliberately keeps the two-stage batch-dedup +
    * union-LWW shape: the folded single union-level window was measured
    * slower at sf0.1, e3b 1.84→2.51 s, round 14). Pre-deduplicating here
    * would pay the batch window one extra time on every path.
    */
  private def mergeLocked(spark: SparkSession, path: String,
      updates: DataFrame, spec: MergeSpec): Unit =
    prepareMerge(spark, path, updates, spec.keys, spec.versionCol,
      spec.partitionCol, spec.tieBreakers, spec.statsCols).foreach {
      case (fs, m) =>
        // the commit's schema sidecar lands BEFORE the manifest publish:
        // a reader resolving the new snapshot always finds its schema.
        // The batch defines the snapshot's COLUMN SET — checkEvolution
        // (inside prepareMerge) guaranteed it is a widening superset of
        // the table's — but the recorded COLUMN ORDER is normalized to
        // the existing table's with genuinely new columns appended: a
        // batch whose columns merely arrive reordered must not silently
        // reorder the table's published order (SELECT * / positional
        // INSERT INTO binding would change across commits). Parquet reads
        // under a pinned schema match columns BY NAME, so the files'
        // physical order is free to differ.
        val batchByName = updates.schema.fields.map(f => f.name -> f).toMap
        val recorded = currentManifest(spark, path)
          .flatMap(pm => snapshotSchema(spark, path, pm)) match {
          case Some(t) => org.apache.spark.sql.types.StructType(
            t.fields.map(f => batchByName(f.name)) ++
              updates.schema.fields.filterNot(f => t.fieldNames.contains(f.name)))
          case None => updates.schema
        }
        writeSchemaSidecar(fs, path, m.gen, recorded)
        publish(fs, path, m)
        // stamp the merge contract so `INSERT INTO` through the SQL face
        // can route later batches into the same keyed LWW commit
        writeMergeSpec(fs, path, spec)
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
    * must also purge history is `delete` + `vacuum`). Stats sidecars are
    * re-captured for the rewritten gens from the persisted merge spec's
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
    * affected partitions + a rewrite of only those; stats sidecars are
    * re-captured so file skipping survives the update. Returns the number
    * of rows updated.
    */
  def update(spark: SparkSession, path: String, predicate: Column,
      assignments: Map[String, Column]): Long = {
    require(assignments.nonEmpty, "UPDATE needs at least one SET assignment")
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, path) {
      val fs = fsOf(spark, path)
      val m = currentManifest(spark, path).getOrElse(
        throw new IllegalStateException(s"$path has no published snapshot"))
      gcOrphans(fs, path, m.gen)
      val partitionCol = m.partitionCol
      val full = readManifest(spark, path, m, None)
      val schema = full.schema
      val spec = mergeSpecOf(spark, path)
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
        val affectedValues = affected.map(_._1).toSet
        val hitEntries = m.entries.filter(e => affectedValues.contains(e.value))
        val existing = spark.read.schema(schema)
          .parquet(hitEntries.map(e => genDirOf(path, e).toString): _*)
        val updatedCount = existing.filter(pred).count()
        val newGen = m.gen + 1
        val statsCols = spec.map(_.statsCols).getOrElse(Nil)
          .filter(schema.fieldNames.contains)
        val newEntries = stageInstall(spark, fs, path, rewritten(existing),
          partitionCol, affected.map { case (v, h) => h -> v }.toMap, newGen,
          statsCols, schema)
        val kept = m.entries.filterNot(e => affectedValues.contains(e.value))
        // an update never changes the schema: re-record the one it read
        writeSchemaSidecar(fs, path, newGen, schema)
        publish(fs, path, Manifest(newGen, partitionCol, kept ++ newEntries))
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
    * Keys come from the persisted merge contract ([[MergeSpec]] — the
    * same identity every write face upserts by). Rows are read under
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
    val spec = mergeSpecOf(spark, path).getOrElse(
      throw new IllegalStateException(
        s"$path has no persisted merge contract (_manifests/table-meta) — " +
          "changes() needs the key identity every write face upserts by"))
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
    def readEntries(es: Seq[Entry]): DataFrame =
      if (es.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(es.map(e => genDirOf(path, e).toString): _*)
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
      val m = currentManifest(spark, path).getOrElse(
        throw new IllegalStateException(s"$path has no published snapshot"))
      gcOrphans(fs, path, m.gen)
      val partitionCol = m.partitionCol
      val full = readManifest(spark, path, m, None)
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
        val affectedValues = affected.map(_._1).toSet
        val hitEntries = m.entries.filter(e => affectedValues.contains(e.value))
        // survivors of ONLY the affected partitions, read through the
        // manifest's gen dirs (untouched partitions are never re-read)
        val existing = spark.read.schema(full.schema)
          .parquet(hitEntries.map(e => genDirOf(path, e).toString): _*)
        // row counts come from parquet METADATA (empty-projection counts
        // read footers, not data), so the predicate itself is evaluated
        // only twice — finding affected partitions and writing survivors
        // — never in a third dedicated counting pass over the data
        val totalExisting = existing.count()
        val newGen = m.gen + 1
        val statsCols = mergeSpecOf(spark, path).map(_.statsCols).getOrElse(Nil)
          .filter(full.schema.fieldNames.contains)
        val newEntries = stageInstall(spark, fs, path, survivorsOf(existing),
          partitionCol, affected.map { case (v, h) => h -> v }.toMap, newGen,
          statsCols, full.schema)
        val survivorCount =
          if (newEntries.isEmpty) 0L
          else spark.read
            .parquet(newEntries.map(e => genDirOf(path, e).toString): _*)
            .count()
        val kept = m.entries.filterNot(e => affectedValues.contains(e.value))
        // a delete never changes the schema: the new snapshot re-records
        // the one it read (keeps emptied/truncated tables answerable)
        writeSchemaSidecar(fs, path, newGen, full.schema)
        publish(fs, path, Manifest(newGen, partitionCol, kept ++ newEntries))
        totalExisting - survivorCount
      }
    }

  /** Everything EXCEPT the publish: GC orphans, stage the merged affected
    * partitions, install their new gen dirs, and return the pending
    * manifest. Split out so the spec can pin the law directly: after
    * prepare, a reader sees the wholly-old snapshot; after [[publish]],
    * the wholly-new one. Callers must hold the lease. None = empty batch.
    */
  private[etl] def prepareMerge(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      keys: Seq[String],
      versionCol: String,
      partitionCol: String,
      tieBreakers: Seq[String],
      statsCols: Seq[String] = Nil): Option[(FileSystem, Manifest)] = {
    val fs = fsOf(spark, path)
    val cur = currentManifest(spark, path)
    val curGen = cur.map(_.gen).getOrElse(0L)
    cur.foreach(m => require(m.partitionCol == partitionCol,
      s"$path is partitioned by ${m.partitionCol}, not $partitionCol"))
    // the widen-only evolution contract: refuse narrowing/retyping batches
    // BEFORE any data moves (a missing column would silently truncate the
    // merged partitions; see checkEvolution's messages for remediation)
    cur.flatMap(m => snapshotSchema(spark, path, m))
      .foreach(t => checkEvolution(t, updates.schema))
    gcOrphans(fs, path, curGen)
    val staging = new Path(path, "_staging")
    if (fs.exists(staging)) fs.delete(staging, true)
    // Affected-partition detection. When partitionCol is one of the merge
    // keys (the common contract), every key group's LWW winner carries its
    // group's partition value, so the raw batch and its deduped winners
    // span the SAME distinct values — detect from the raw batch and skip a
    // full window pass (the scan below is column-pruned to partitionCol).
    // When partitionCol is NOT a key, a group's winner can land in a
    // different partition than its losers and "affected" has always meant
    // the WINNERS' partitions — keep that semantics and pay the window.
    val affectedSrc =
      if (keys.contains(partitionCol)) updates
      else Upsert.lastWriteWins(updates, keys, versionCol, tieBreakers)
    val affected = affectedPartitions(spark, affectedSrc, partitionCol, "merge batch")
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
    val newGen = curGen + 1
    // Entries are matched by VALUE, not by directory name: the value string
    // is layout-independent (dir names changed once already — bare hex →
    // `h`-prefixed hex), so a manifest written under an older dir scheme
    // still LWW-merges correctly — its old entry is read through its
    // verbatim dirName, replaced by a new-layout entry, and the stale gen
    // dir ages out at vacuum. Matching by dirName would silently keep the
    // legacy entry ALONGSIDE the new one for the same value (duplicate
    // rows on read). A well-formed manifest has one entry per value; a
    // duplicate means corruption — fail loudly before making it worse.
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
    // manifest's gen dirs. Schema pinned to the updates' (every column —
    // partitionCol included — is a DATA column in the files).
    val existing =
      if (hit.isEmpty) None
      else Some(spark.read.schema(updates.schema)
        .parquet(hit.map(e => genDirOf(path, e).toString): _*))
    val merged = existing match {
      case Some(ex) =>
        Upsert.lastWriteWins(
          ex.withColumn("__gen", lit(0L))
            .unionByName(Upsert.lastWriteWins(updates, keys, versionCol,
              tieBreakers).withColumn("__gen", lit(1L))),
          keys, "__gen", versionCol +: tieBreakers).drop("__gen")
      case None => Upsert.lastWriteWins(updates, keys, versionCol, tieBreakers)
    }
    val newEntries = stageInstall(spark, fs, path, merged, partitionCol,
      affected.map { case (v, h) => h -> v }.toMap, newGen, statsCols,
      updates.schema)
    val kept = cur.map(_.entries.filterNot(e => affectedValues.contains(e.value)))
      .getOrElse(Nil)
    Some((fs, Manifest(newGen, partitionCol, kept ++ newEntries)))
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
      verb: String): Array[(String, String)] = {
    val castStr = expr(s"cast(`$partitionCol` as string)")
    val routeKey = concat(lit("h"), hex(castStr))
    val max = maxAffectedPartitions(spark)
    BoundedDistinct.collect(rows.select(castStr.as("__v"), routeKey.as("__h")), max,
      s"$verb touches more than $max distinct $partitionCol " +
        "values — the per-partition commit protocol is built for " +
        "low-cardinality partitioning; repartition the table or raise " +
        "graft.lake.maxAffectedPartitions")
      .map(r => (r.getString(0), r.getString(1)))
  }

  /** The bound on the partition values one commit may touch. */
  private[etl] def maxAffectedPartitions(spark: SparkSession): Int =
    spark.conf.getOption("graft.lake.maxAffectedPartitions")
      .map(_.toInt).getOrElse(100000)

  /** ONE write job for a commit's affected partitions: route `rows` by the
    * hex dir key (a derived column, so `partitionCol` itself STAYS in the
    * files), stage under `_staging`, install each staged dir as its
    * partition's gen `newGen`, record the stats sidecar when `statsCols`
    * asked for one, and return the installed entries. With statsCols the
    * rows are range-clustered by (dir, statsCols) first so each file
    * covers a NARROW slice of the stats columns — the layout that makes
    * the per-file min/max sidecar actually prune (a hash-shuffled write
    * gives every file the full value range); in-job sampling
    * nondeterminism is harmless because stats are recorded from the files
    * actually written, never re-derived. A partition whose `rows` slice is
    * EMPTY stages no dir and gets no entry — [[delete]] uses exactly this
    * to drop emptied partitions from the manifest. Caller holds the lease
    * and publishes the returned entries itself.
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
      schema: org.apache.spark.sql.types.StructType): Seq[Entry] = {
    val staging = new Path(path, "_staging")
    if (fs.exists(staging)) fs.delete(staging, true)
    val castStr = expr(s"cast(`$partitionCol` as string)")
    val routed = rows.withColumn("__pdir", concat(lit("h"), hex(castStr)))
    // Without statsCols the write fans out: `partitionBy` makes every
    // upstream task open a file in every dir value it holds. A REBALANCE on
    // the dir key (one right-sized file per value) cost +0.1–0.4 s per lake
    // verb at sf0.1 with no read-back gain at these file counts
    // (OPTIMIZATION_r15.md §6). The stats path range-clusters by (dir,
    // statsCols): its sidecar pruning NEEDS each file to cover a narrow
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
    if (statsCols.nonEmpty && newEntries.nonEmpty)
      writeStats(spark, fs, path, newGen, newEntries, schema, statsCols)
    newEntries
  }

  // ---- per-file column statistics (advisory sidecars for readSlice) ----

  private def statsPath(path: String, gen: Long) =
    new Path(manifestDir(path), f"stats-$gen%020d")

  /** URL-encoding keeps the line format unambiguous for arbitrary string
    * stats; a NULL min/max encodes as the empty field and is never used
    * to prune (the safe direction).
    */
  private def enc(s: String): String =
    if (s == null) "" else java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    if (s.isEmpty) null else java.net.URLDecoder.decode(s, "UTF-8")

  /** The string form a column's per-file min/max is recorded in, applied
    * AFTER the typed min/max: TIMESTAMP goes through `unix_micros`
    * (session-timezone-free and truncation-free); everything else through
    * Spark's own string cast (exact round-trips for
    * decimal/date/integral/double/string/ntz).
    */
  private def statForm(c: org.apache.spark.sql.Column,
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column =
    dt match {
      case org.apache.spark.sql.types.TimestampType => unix_micros(c).cast("string")
      case _ => c.cast("string")
    }

  /** One job over the commit's NEW gen dirs (just-written, page-cache
    * warm): per (file, statsCol) min/max, written to the gen's sidecar
    * before the publish. Crash between sidecar and publish leaves an
    * orphan sidecar, GC'd with the orphan gens.
    */
  private def writeStats(
      spark: SparkSession,
      fs: FileSystem,
      path: String,
      gen: Long,
      entries: Seq[Entry],
      schema: org.apache.spark.sql.types.StructType,
      statsCols: Seq[String]): Unit = {
    val dirs = entries.map(e => genDirOf(path, e).toString)
    if (dirs.isEmpty) return
    val df = spark.read.schema(schema).parquet(dirs: _*)
    // min/max run on the TYPED column, then take the string form: the
    // string order of a number is not its value order (Long 1..250 would
    // record [1, 99]), and pruning casts the recorded forms back to the
    // column's type
    val aggs = statsCols.zipWithIndex.flatMap { case (c, i) =>
      val dt = schema(c).dataType
      Seq(statForm(min(col(c)), dt).as(s"__mn$i"),
        statForm(max(col(c)), dt).as(s"__mx$i"))
    }
    val rows = df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val dataPrefix = fs.makeQualified(dataDir(path)).toString + "/"
    val sb = new StringBuilder
    sb.append(s"graft-stats-v1\t$gen\t${statsCols.map(enc).mkString(",")}\n")
    rows.foreach { r =>
      // input_file_name() is a URI string (`file:///…`, percent-encoded);
      // qualify it through the filesystem so it takes the same form as
      // dataPrefix and as the listing pruneFilesMulti matches against
      val f = fs.makeQualified(new Path(new java.net.URI(r.getString(0)))).toString
      // stats are keyed by the file's path RELATIVE to data/ so the lake
      // can be relocated; a file whose URI does not share the expected
      // prefix is simply not recorded (readSlice keeps unrecorded files)
      if (f.startsWith(dataPrefix)) {
        val rel = f.drop(dataPrefix.length)
        statsCols.zipWithIndex.foreach { case (c, i) =>
          sb.append(s"${enc(rel)}\t${enc(c)}\t${enc(r.getAs[String](s"__mn$i"))}\t" +
            s"${enc(r.getAs[String](s"__mx$i"))}\n")
        }
      }
    }
    val tmp = new Path(manifestDir(path), s".tmp-stats-$gen-${System.nanoTime()}")
    fs.mkdirs(manifestDir(path))
    val out = fs.create(tmp, false)
    try out.write(sb.toString.getBytes("UTF-8")) finally out.close()
    Upsert.renameOrThrow(fs, tmp, statsPath(path, gen))
  }

  /** (relative file path, col) → (min, max) string forms for one gen's
    * sidecar; empty for a missing/unparseable sidecar (advisory).
    */
  private def readStats(fs: FileSystem, path: String,
      gen: Long): Map[(String, String), (String, String)] = {
    val p = statsPath(path, gen)
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val lines = text.split('\n').filter(_.nonEmpty)
    if (lines.isEmpty || !lines.head.startsWith("graft-stats-v1")) return Map.empty
    lines.tail.flatMap { l =>
      l.split('\t') match {
        case Array(f, c, mn, mx) => Some((dec(f), dec(c)) -> ((dec(mn), dec(mx))))
        case Array(f, c, mn) => Some((dec(f), dec(c)) -> ((dec(mn), null: String)))
        case _ => None
      }
    }.toMap
  }

  /** The stats columns a gen's sidecar was recorded for (from its header);
    * empty for a missing sidecar.
    */
  private def statsColsOf(fs: FileSystem, path: String, gen: Long): Seq[String] = {
    val p = statsPath(path, gen)
    if (!fs.exists(p)) return Nil
    val in = fs.open(p)
    val head = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().nextOption().getOrElse("") finally in.close()
    head.split('\t') match {
      case Array("graft-stats-v1", _, cols) if cols.nonEmpty =>
        cols.split(',').toSeq.map(dec)
      case _ => Nil
    }
  }

  /** Read the current snapshot restricted to `sliceCol ∈ [lo, hi]` (both
    * bounds optional/inclusive), SKIPPING whole files whose recorded
    * [min, max] cannot intersect the slice — the file-level pruning the
    * manifest's partition entries cannot give inside one partition. The
    * returned frame carries the slice filter, so it is byte-identical to
    * `read(...).filter(...)`; files without recorded stats (older
    * commits, compactions without sidecars, relocation gaps) are always
    * read — pruning is advisory, never lossy. Bound comparisons run
    * through Spark's own cast/ordering on the column's real type.
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
    val m = currentManifest(spark, path).getOrElse(
      throw new IllegalStateException(s"$path has no published snapshot"))
    val full = readManifest(spark, path, m, None)
    // Bounds are cast to the slice COLUMN's type before comparing, so the
    // filter and [[pruneFiles]] share ONE comparison semantics: pruning
    // casts the bound to the column type against the string-form stats,
    // and an uncast filter would coerce differently for mismatched bound
    // types (e.g. a numeric bound on a STRING column compares numerically
    // in the filter but lexicographically in pruning — a file the filter
    // keeps could be pruned, silent row loss). An uncastable bound turns
    // the filter null-false AND disables pruning on that slice — rows
    // never outlive their pruning, the lossless direction.
    def sliceFilter(df: DataFrame): DataFrame =
      slices.foldLeft(df) { case (d, (sc, lo, hi)) =>
        val c = col(sc)
        val dt = df.schema(sc).dataType
        val f1 = lo.map(v => c >= lit(v).cast(dt)).getOrElse(lit(true))
        val f2 = hi.map(v => c <= lit(v).cast(dt)).getOrElse(lit(true))
        d.filter(f1 && f2)
      }
    pruneFiles(spark, path, m, full.schema, slices) match {
      case None => sliceFilter(full)
      case Some(paths) if paths.isEmpty =>
        sliceFilter(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], full.schema))
      case Some(paths) =>
        sliceFilter(spark.read.schema(full.schema).parquet(paths: _*))
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
    val m = currentManifest(spark, path).getOrElse(
      throw new IllegalStateException(s"$path has no published snapshot"))
    val full = readManifest(spark, path, m, None)
    val vs = values.filter(_ != null)
    def inFilter(df: DataFrame): DataFrame = {
      val dt = df.schema(sliceCol).dataType
      if (vs.isEmpty) df.filter(lit(false))
      else df.filter(col(sliceCol).isin(vs.map(v => lit(v).cast(dt)): _*))
    }
    if (vs.isEmpty)
      return inFilter(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], full.schema))
    val points = Seq((sliceCol, vs.map(v => (Some(v), Some(v)))))
    pruneFilesMulti(spark, path, m, full.schema, points) match {
      case None => inFilter(full)
      case Some(paths) if paths.isEmpty =>
        inFilter(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], full.schema))
      case Some(paths) =>
        inFilter(spark.read.schema(full.schema).parquet(paths: _*))
    }
  }

  /** The pruning core shared by [[readSlices]] and
    * [[graft.sources.LakeCatalog]]'s scan-time pushdown: the concrete
    * file paths of manifest `m` with every file whose recorded stats
    * cannot intersect a slice EXCLUDED — or None when nothing can be
    * excluded (read the gen dirs whole; no listing cost). Listing-based
    * exclusion: files the sidecars missed are always kept — advisory
    * metadata, never lossy.
    */
  private[graft] def pruneFiles(
      spark: SparkSession,
      path: String,
      m: Manifest,
      schema: org.apache.spark.sql.types.StructType,
      slices: Seq[(String, Option[Any], Option[Any])]): Option[Seq[String]] =
    pruneFilesMulti(spark, path, m, schema,
      slices.map { case (c, lo, hi) => (c, Seq((lo, hi))) })

  /** [[pruneFiles]] generalized to a DISJUNCTION of intervals per column
    * (conjunction across columns): a file is excluded when, for some
    * column, NO interval can intersect its recorded [min, max]. An IN
    * list — the reference's own verification shape, `= ANY(array)`
    * (`postgres_writer.py:371-377`) — is the degenerate case of point
    * intervals. An interval with neither bound keeps every file (its
    * column can never exclude), the conservative direction.
    */
  private[graft] def pruneFilesMulti(
      spark: SparkSession,
      path: String,
      m: Manifest,
      schema: org.apache.spark.sql.types.StructType,
      slices: Seq[(String, Seq[(Option[Any], Option[Any])])]): Option[Seq[String]] = {
    val fs = fsOf(spark, path)
    val active = slices.filter(s =>
      schema.fieldNames.contains(s._1) && s._2.nonEmpty &&
        s._2.forall(iv => iv._1.isDefined || iv._2.isDefined))
    if (m.entries.isEmpty || active.isEmpty) return None
    val statsByGen = m.entries.map(_.gen).distinct
      .map(g => g -> readStats(fs, path, g)).toMap
    // candidate exclusions, evaluated through Spark's own comparisons on
    // each column's type (driver-local frame, O(#files-with-stats) rows)
    import spark.implicits._
    val excluded: Set[String] = active.flatMap { case (sliceCol, intervals) =>
      val dt = schema(sliceCol).dataType
      val cand = m.entries.flatMap { e =>
        statsByGen(e.gen).collect {
          case ((f, c), (mn, mx)) if c == sliceCol && f.startsWith(e.dirName + "/") =>
            (f, mn, mx)
        }
      }
      if (cand.isEmpty) Nil
      else {
        val sdf = cand.toDF("f", "mn", "mx")
        def typed(c: org.apache.spark.sql.Column) = dt match {
          case org.apache.spark.sql.types.TimestampType => c.cast("long")
          case _ => c.cast(dt)
        }
        def bound(v: Any) = dt match {
          case org.apache.spark.sql.types.TimestampType => unix_micros(lit(v).cast(dt))
          case _ => lit(v).cast(dt)
        }
        // excluded ⇔ every interval misses: (mx < lo_i) OR (mn > hi_i), ∀i
        val miss = intervals.map { case (lo, hi) =>
          val exLo = lo.map(v => coalesce(typed(col("mx")) < bound(v), lit(false)))
            .getOrElse(lit(false))
          val exHi = hi.map(v => coalesce(typed(col("mn")) > bound(v), lit(false)))
            .getOrElse(lit(false))
          exLo || exHi
        }.reduce(_ && _)
        sdf.filter(miss).select("f").collect().map(_.getString(0)).toSeq
      }
    }.toSet
    if (excluded.isEmpty) return None
    // per entry: list the gen dir and keep every file NOT excluded.
    // The listing must match Spark's own InMemoryFileIndex hidden-file
    // filter ('_' AND '.' prefixes): a stray hidden/temp file fed to the
    // parquet reader would fail the PRUNED read where the unpruned one
    // succeeds.
    val dataPrefix = fs.makeQualified(dataDir(path)).toString + "/"
    Some(m.entries.flatMap { e =>
      val dir = genDirOf(path, e)
      fs.listStatus(dir).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .map(s => fs.makeQualified(s.getPath).toString)
        .filter(p => !excluded.contains(p.stripPrefix(dataPrefix)))
    })
  }

  /** Unpublished generation dirs (gen > the current manifest) are orphans
    * of a crashed prepare: no reader can reference them, the lease
    * guarantees no writer owns them — delete, then the re-run converges.
    */
  private def gcOrphans(fs: FileSystem, path: String, curGen: Long): Unit = {
    val data = dataDir(path)
    // an unpublished commit may also have left its stats sidecar
    val mdir = manifestDir(path)
    if (fs.exists(mdir)) fs.listStatus(mdir).foreach { s =>
      s.getPath.getName match {
        case StatsName(g) if g.toLong > curGen => fs.delete(s.getPath, false)
        case SchemaName(g) if g.toLong > curGen => fs.delete(s.getPath, false)
        case _ => ()
      }
    }
    if (!fs.exists(data)) return
    fs.listStatus(data).filter(_.isDirectory).foreach { part =>
      fs.listStatus(part.getPath).foreach { g =>
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
    * a NEW gen, and one publish re-points them all. Readers never see an
    * absent or half-compacted partition (a Hive-layout directory swap
    * cannot avoid that window); a reader pinned to the pre-compact snapshot keeps reading the
    * old files until [[vacuum]]. Row content is preserved as a multiset.
    * Compacted gens RE-CAPTURE their stats sidecar for whatever columns
    * the replaced gens recorded (coalesced files carry wider — but still
    * correct — ranges), so [[readSlice]] keeps skipping after
    * maintenance; partitions that never had stats stay statless. Returns
    * (dirName, filesBefore, filesAfter) per compacted partition.
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
          gcOrphans(fs, path, m.gen)
          val picked = m.entries.flatMap { e =>
            val files = fs.listStatus(genDirOf(path, e))
              .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
                !f.getPath.getName.startsWith("."))
            val bytes = files.map(_.getLen).sum
            val want = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
            if (files.length > math.max(want, minFilesToCompact))
              Some((e, files.length, want))
            else None
          }
          if (picked.isEmpty) Nil
          else {
            val newGen = m.gen + 1
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
                  val dest = new Path(new Path(dataDir(path), e.dirName), s"gen=$newGen")
                  spark.read.parquet(genDirOf(path, e).toString)
                    .coalesce(want)
                    .write.parquet(dest.toString)
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
            // re-capture stats for the compacted gens so file skipping
            // survives compaction: the columns come from the sidecars of
            // the gens being replaced (coalesced files carry wider — but
            // still correct — ranges, recorded from the files actually
            // written); partitions that never had stats stay statless
            val statCols = picked.map(_._1.gen).distinct
              .flatMap(g => statsColsOf(fs, path, g)).distinct
            if (statCols.nonEmpty) {
              val newEntries = picked.map(_._1.copy(gen = newGen))
              val schema = spark.read
                .parquet(genDirOf(path, newEntries.head).toString).schema
              val usable = statCols.filter(c => schema.fieldNames.contains(c))
              if (usable.nonEmpty)
                writeStats(spark, fs, path, newGen, newEntries, schema, usable)
            }
            val bumped = picked.map(_._1.dirName).toSet
            // compaction never changes the schema: carry the snapshot's
            // recorded one forward so mixed-generation pinning survives
            // maintenance (legacy lakes without a sidecar stay legacy)
            readSchemaSidecar(fs, path, m.gen)
              .foreach(s => writeSchemaSidecar(fs, path, newGen, s))
            publish(fs, path, Manifest(newGen, m.partitionCol,
              m.entries.map(e =>
                if (bumped.contains(e.dirName)) e.copy(gen = newGen) else e)))
            picked.map { case (e, before, _) =>
              val after = fs.listStatus(
                new Path(new Path(dataDir(path), e.dirName), s"gen=$newGen"))
                .count(f => f.isFile && !f.getPath.getName.startsWith("_") &&
                  !f.getPath.getName.startsWith("."))
              (e.dirName, before, after)
            }
          }
      }
    }

  /** Retention: keep the newest `keepManifests` snapshots (and every gen
    * dir they reference), delete everything older — both the unreferenced
    * gen dirs and the expired manifest files. Readers pinned to an expired
    * snapshot lose it (the Delta/Iceberg VACUUM contract); size the
    * retention to the longest-running reader. Returns the number of gen
    * dirs removed.
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
        // stats sidecars live per GEN: drop the ones no kept manifest's
        // entries still reference (a kept manifest can reference entries
        // of much older gens, whose sidecars must survive). Schema
        // sidecars live per MANIFEST: drop them with their manifests.
        val referencedGens = referenced.map(_._2)
        val keptGens = kept.map(_._1).toSet
        if (fs.exists(dir)) fs.listStatus(dir).foreach { s =>
          s.getPath.getName match {
            case StatsName(g) if !referencedGens.contains(g.toLong) =>
              fs.delete(s.getPath, false)
            case SchemaName(g) if !keptGens.contains(g.toLong) =>
              fs.delete(s.getPath, false)
            case _ => ()
          }
        }
        removed
      }
    }
  }

  /** DROP the table: a lease-guarded purge of the ENTIRE lake — every
    * manifest, every gen dir, the merge contract, the stats/schema
    * sidecars. The lifecycle symmetry of [[create]]: vacuum-to-zero plus
    * metadata removal, as ONE deliberate act. After the drop, time travel
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
