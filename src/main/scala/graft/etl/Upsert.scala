package graft.etl

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** E3 — idempotent keyed upsert (MERGE / last-write-wins) semantics.
  *
  * The reference gets idempotency from Postgres `ON CONFLICT (ticker,
  * timestamp_utc) DO UPDATE` (`/root/reference/src/storage/postgres_writer.py:234-240`).
  * Distributed, that splits into two concerns:
  *
  *  1. deterministic last-write-wins *within* a batch that may contain
  *     duplicate keys (the reference relies on arrival order,
  *     `postgres_writer.py:251-259`; Spark must pre-dedup by an explicit
  *     version column — SURVEY.md §7 "What's hard" #2);
  *  2. an idempotent keyed sink (JDBC ON CONFLICT writer, or a
  *     storage-level merge for lake targets).
  *
  * Keyed lake tables and the streaming state MVs have one durable format,
  * [[SnapshotLake]] (the dedup corpus included, see
  * [[graft.dedup.IncrementalDedup.mergeIntoCorpus]]). The one parquet
  * writer left here, [[compactParquetDir]], maintains the blind-append
  * admission-index dirs.
  */
object Upsert {

  /** Deterministic last-write-wins dedup: keep, per key, the row with the
    * greatest (versionCol, tieBreakers...). One shuffle on the key columns;
    * at scale this is a single hash partitioning that the subsequent MERGE
    * can reuse.
    */
  def lastWriteWins(
      df: DataFrame,
      keys: Seq[String],
      versionCol: String,
      tieBreakers: Seq[String] = Nil): DataFrame = {
    val order = (versionCol +: tieBreakers).map(c => col(c).desc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Small-file compaction for a FLAT (non-partitioned) parquet dir — the
    * operational complement of the admission indexes' blind appends
    * ([[graft.dedup.IncrementalDedup]]): a standing ingest loop appends ≥ 1
    * file per batch to the hash index and up to one file per admitted doc
    * group to the bucket index, so a long-lived gate accumulates thousands
    * of small files and every novelty probe pays their open cost. Same
    * picking rule as [[SnapshotLake.compact]] (`ceil(bytes/targetBytes)`
    * floored at `minFilesToCompact`) and the same single-writer lease; the
    * whole dir is swapped, parked at `<path>__old` for one rename window.
    * Crash recovery runs at entry: a parked dir with no live dir means the
    * install never happened — roll it back; with a live dir, the install
    * completed — drop it. Row content is preserved as a multiset
    * (`coalesce` merges whole partitions, so rows co-located in one input
    * file stay co-located); compaction is pure file-layout maintenance.
    *
    * READER CAVEAT: the swap makes the dir transiently absent for one
    * rename window. The admission gates never race this (they take the
    * same lease), but run external readers in a maintenance window.
    *
    * Returns Some((filesBefore, filesAfter)) when compacted, None when the
    * dir is absent or already right-sized.
    */
  def compactParquetDir(
      spark: SparkSession,
      path: String,
      targetBytes: Long = 128L * 1024 * 1024,
      minFilesToCompact: Int = 4): Option[(Int, Int)] =
    LakeLease.withLease(spark.sparkContext.hadoopConfiguration, path) {
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cur = new Path(path)
      val parked = new Path(path + "__old")
      if (fs.exists(parked)) {
        if (!fs.exists(cur)) renameOrThrow(fs, parked, cur)
        else fs.delete(parked, true)
      }
      if (!fs.exists(cur)) None
      else {
        val staging = new Path(path + "__staging")
        if (fs.exists(staging)) fs.delete(staging, true)
        val files = fs.listStatus(cur)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        val bytes = files.map(_.getLen).sum
        val want = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        if (files.length <= math.max(want, minFilesToCompact)) None
        else {
          // mergeSchema: an index dir can mix schema generations (bucket
          // rows written before lane storage lack l0..l2); inference from
          // one sample file would silently DROP the newer columns from the
          // whole compacted dir. The union keeps every column — old rows
          // read as null there, exactly as they did pre-compaction.
          spark.read.option("mergeSchema", "true").parquet(path)
            .coalesce(want).write.parquet(staging.toString)
          renameOrThrow(fs, cur, parked)
          renameOrThrow(fs, staging, cur)
          fs.delete(parked, true)
          val after = fs.listStatus(cur)
            .count(f => f.isFile && !f.getPath.getName.startsWith("_"))
          Some((files.length, after))
        }
      }
    }

  /** Hadoop FileSystem.rename reports failure by returning false — silent
    * acceptance would let a failed swap drop a batch's data.
    */
  private[graft] def renameOrThrow(
      fs: org.apache.hadoop.fs.FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")

  /** SQL dialects for the keyed-upsert statement.
    *
    * All column identifiers are emitted double-quoted lowercase so the
    * reference schema's `close` column (an SQL reserved word in Derby)
    * round-trips; matching DDL (see [[Ddl]]) quotes identifiers the same
    * way. `noUpdate` names columns inserted but never touched on the update
    * path — the audit-column contract (`created_at` is stable after insert,
    * ≙ the reference trigger at `postgres_writer.py:53-73`).
    */
  sealed trait Dialect {
    def upsertSql(
        table: String,
        cols: Seq[String],
        keys: Seq[String],
        noUpdate: Seq[String] = Nil): String

    /** Column names in the order the statement's `?` placeholders bind;
      * default: one placeholder per column, in column order.
      */
    def bindOrder(
        cols: Seq[String],
        keys: Seq[String],
        noUpdate: Seq[String] = Nil): Seq[String] = cols

    /** Quoted identifier. */
    protected def q(id: String): String = "\"" + id + "\""

    protected def updatable(cols: Seq[String], keys: Seq[String], noUpdate: Seq[String]) =
      cols.filterNot(keys.contains).filterNot(noUpdate.contains)
  }

  /** Postgres `INSERT … ON CONFLICT DO UPDATE` — the reference's statement
    * shape (`postgres_writer.py:148-154,234-240`).
    */
  case object Postgres extends Dialect {
    def upsertSql(table: String, cols: Seq[String], keys: Seq[String],
        noUpdate: Seq[String] = Nil): String = {
      val sets = updatable(cols, keys, noUpdate)
        .map(c => s"${q(c)} = EXCLUDED.${q(c)}").mkString(", ")
      s"""INSERT INTO $table (${cols.map(q).mkString(", ")})
         |VALUES (${cols.map(_ => "?").mkString(", ")})
         |ON CONFLICT (${keys.map(q).mkString(", ")}) DO UPDATE SET $sets""".stripMargin
    }
  }

  /** ANSI MERGE for engines without ON CONFLICT (Derby, etc.). */
  case object AnsiMerge extends Dialect {
    def upsertSql(table: String, cols: Seq[String], keys: Seq[String],
        noUpdate: Seq[String] = Nil): String = {
      val on = keys.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
      val sets = updatable(cols, keys, noUpdate)
        .map(c => s"t.${q(c)} = s.${q(c)}").mkString(", ")
      s"""MERGE INTO $table t
         |USING (VALUES (${cols.map(_ => "?").mkString(", ")}))
         |  AS s (${cols.map(q).mkString(", ")}) ON $on
         |WHEN MATCHED THEN UPDATE SET $sets
         |WHEN NOT MATCHED THEN INSERT (${cols.map(q).mkString(", ")})
         |  VALUES (${cols.map(c => s"s.${q(c)}").mkString(", ")})""".stripMargin
    }
    // Note: MERGE binds the VALUES row once; parameter count == cols.size.
  }

  /** Derby MERGE over SYSIBM.SYSDUMMY1 (Derby's MERGE source must be a
    * table/view, not a VALUES row). Placeholders bind keys (ON), then
    * updatable non-keys (UPDATE SET), then every column (INSERT VALUES).
    */
  case object Derby extends Dialect {
    def upsertSql(table: String, cols: Seq[String], keys: Seq[String],
        noUpdate: Seq[String] = Nil): String = {
      val on = keys.map(k => s"$table.${q(k)} = ?").mkString(" AND ")
      val sets = updatable(cols, keys, noUpdate)
      val matched =
        if (sets.isEmpty) ""
        else s"WHEN MATCHED THEN UPDATE SET ${sets.map(c => s"${q(c)} = ?").mkString(", ")} "
      s"""MERGE INTO $table USING SYSIBM.SYSDUMMY1 ON $on
         |${matched}WHEN NOT MATCHED THEN INSERT (${cols.map(q).mkString(", ")})
         |  VALUES (${cols.map(_ => "?").mkString(", ")})""".stripMargin
    }

    override def bindOrder(cols: Seq[String], keys: Seq[String],
        noUpdate: Seq[String] = Nil): Seq[String] =
      keys ++ updatable(cols, keys, noUpdate) ++ cols
  }

  /** L2/L3 — distributed JDBC upsert: each partition opens one connection,
    * writes batches of `batchSize` (the reference pages at 1000,
    * `postgres_writer.py:259`), and commits per partition. Global atomicity
    * is *not* promised (SURVEY.md §7 #1) — instead the statement itself is
    * idempotent, so Spark task retries and whole-job re-runs converge, which
    * is the reference's own recovery model (`README.md:37`).
    *
    * The write goes through [[graft.sources.JdbcUpsertDataSource]], whose
    * per-partition writer is the one JDBC upsert loop: `user`/`password`
    * props become options of the same name, every other prop a
    * `jdbcprop.<name>` option.
    *
    * Callers must `lastWriteWins` first so a batch never carries two rows
    * for one key (cross-partition write order is nondeterministic).
    */
  def upsertJdbc(
      df: DataFrame,
      url: String,
      table: String,
      keys: Seq[String],
      dialect: Dialect = Postgres,
      batchSize: Int = 1000,
      props: java.util.Properties = new java.util.Properties(),
      noUpdate: Seq[String] = Nil): Unit = {
    val propOptions = props.stringPropertyNames.asScala.map {
      case k @ ("user" | "password") => k -> props.getProperty(k)
      case k => s"jdbcprop.$k" -> props.getProperty(k)
    }.toMap
    df.write.format(classOf[graft.sources.JdbcUpsertDataSource].getName)
      .option("url", url)
      .option("dbtable", table)
      .option("keys", keys.mkString(","))
      .option("dialect", dialect match {
        case Postgres => "postgres"
        case Derby => "derby"
        case AnsiMerge => "ansi"
      })
      .option("batchsize", batchSize.toLong)
      .option("noupdate", noUpdate.mkString(","))
      .options(propOptions)
      .mode("append")
      .save()
  }

  /** L1 parity — keyed upsert with the reference's audit columns
    * (`postgres_writer.py:48-49` defaults + the `update_updated_at_column`
    * trigger at `:53-73`): `created_at` and `updated_at` are both stamped on
    * insert; on a merge update `updated_at` advances while `created_at` is
    * never touched (it rides the `noUpdate` list).
    *
    * Ownership of `updated_at` is dialect-split: on Postgres the DATABASE
    * owns it — [[Ddl]] installs the reference's trigger, so the update path
    * must NOT set the column (the trigger would see NEW≠OLD on every merge
    * and clobber the stamp with NOW() even for no-op re-deliveries; leaving
    * it out lets the trigger fire only on real changes, exactly the
    * reference's semantics). On trigger-less targets (Derby/ANSI) the WRITER
    * owns it: the caller-supplied `now` advances on every merge update —
    * deterministic and batch-constant, the distributed analogue of one
    * transaction's NOW().
    *
    * ACCEPTED cross-dialect difference: on writer-owned targets a no-op
    * re-delivery of identical rows still advances `updated_at` (the MERGE
    * cannot cheaply tell "matched and unchanged" apart — Derby lacks
    * IS DISTINCT FROM, and a null-safe per-column row-differs predicate
    * would double every statement's bind width for an audit nicety). On
    * Postgres the trigger stamps only on real change. Callers needing
    * replay-invariant audit rows across BOTH backends should treat
    * `updated_at` as "last touched", not "last changed".
    */
  def upsertJdbcAudited(
      df: DataFrame,
      url: String,
      table: String,
      keys: Seq[String],
      now: java.sql.Timestamp,
      dialect: Dialect = Postgres,
      batchSize: Int = 1000,
      props: java.util.Properties = new java.util.Properties()): Unit = {
    val audited = df
      .withColumn("created_at", lit(now))
      .withColumn("updated_at", lit(now))
    val noUpdate = dialect match {
      case Postgres => Seq("created_at", "updated_at") // trigger-owned
      case _        => Seq("created_at")               // writer-owned
    }
    upsertJdbc(audited, url, table, keys, dialect, batchSize, props, noUpdate)
  }
}
