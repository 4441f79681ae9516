package graft.sources


import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.etl.SnapshotLake

/** The lake's SQL face: SELECT through the catalog equals the API read,
  * VERSION/TIMESTAMP AS OF equal readAt, snapshot pinning holds across a
  * later commit, pushdown reaches the parquet scan, and the catalog
  * refuses writes.
  */
class LakeCatalogSpec extends SparkSuite {
  import spark.implicits._

  private val root = tempDir("graft_lakecat")
  spark.conf.set("spark.sql.catalog.glake", classOf[LakeCatalog].getName)
  spark.conf.set("spark.sql.catalog.glake.root", root)

  private val b1 = Seq(
    ("k1", "2025-01-01", 1L, 10.0),
    ("k2", "2025-01-02", 1L, 20.0),
    ("k3", "2025-01-03", 1L, 30.0)).toDF("key", "dt", "v", "price")
  private val b2 = Seq(
    ("k1", "2025-01-01", 2L, 15.0),
    ("k4", "2025-01-04", 1L, 40.0)).toDF("key", "dt", "v", "price")

  private def state(rows: Array[org.apache.spark.sql.Row]): Map[String, (Long, Double)] =
    rows.map(r => r.getAs[String]("key") ->
      ((r.getAs[Long]("v"), r.getAs[Double]("price")))).toMap

  test("SELECT through the catalog ≡ SnapshotLake.read; VERSION AS OF ≡ readAt") {
    val dir = s"$root/quotes"
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    SnapshotLake.merge(spark, dir, b2, Seq("key"), "v", "dt")
    val viaSql = state(spark.sql("SELECT * FROM glake.quotes").collect())
    assert(viaSql == state(SnapshotLake.read(spark, dir).collect()))
    assert(viaSql == Map("k1" -> ((2L, 15.0)), "k2" -> ((1L, 20.0)),
      "k3" -> ((1L, 30.0)), "k4" -> ((1L, 40.0))))
    // time travel to the first commit
    val v1 = state(spark.sql("SELECT * FROM glake.quotes VERSION AS OF 1").collect())
    assert(v1 == state(SnapshotLake.readAt(spark, dir, 1L).collect()))
    assert(v1 == Map("k1" -> ((1L, 10.0)), "k2" -> ((1L, 20.0)), "k3" -> ((1L, 30.0))))
    // TIMESTAMP AS OF "now" resolves the newest snapshot
    val nowIso = java.time.Instant.now().plusSeconds(60).toString
    val byTs = state(spark.sql(
      s"SELECT * FROM glake.quotes TIMESTAMP AS OF '$nowIso'").collect())
    assert(byTs == viaSql)
    // catalog listing sees the table
    assert(spark.sql("SHOW TABLES IN glake").collect()
      .map(_.getAs[String]("tableName")).contains("quotes"))
  }

  test("filter/column pushdown reach the parquet scan through the catalog") {
    val dir = s"$root/pushed"
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    val df = spark.sql("SELECT key, price FROM glake.pushed WHERE price > 15.0")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(price"),
      s"filter not pushed:\n$scan")
    assert(scan.contains("ReadSchema") && !scan.contains("dt:"),
      s"unused columns not pruned:\n$scan")
    assert(df.collect().map(_.getString(0)).toSet == Set("k2", "k3"))
  }

  test("a resolved SQL snapshot stays pinned across a later commit") {
    val dir = s"$root/pinned"
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    val pinned = spark.sql("SELECT * FROM glake.pinned").localCheckpoint()
    SnapshotLake.merge(spark, dir, b2, Seq("key"), "v", "dt")
    assert(state(pinned.collect()) == state(SnapshotLake.readAt(spark, dir, 1L).collect()),
      "a pre-commit SQL reader's snapshot changed under it")
    assert(state(spark.sql("SELECT * FROM glake.pinned").collect()).size == 4)
  }

  test("stats sidecars prune FILES at SQL scan time (pushed filters)") {
    val dir = s"$root/sliced"
    val rows = (1 to 1000).map(i => (s"k$i", "p", i.toLong, i.toDouble))
      .toDF("key", "dt", "v", "price")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try SnapshotLake.merge(spark, dir, rows, Seq("key"), "v", "dt",
      statsCols = Seq("v"))
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = SnapshotLake.currentManifest(spark, dir).get
    val genDir = new org.apache.hadoop.fs.Path(s"$dir/data/" +
      m.entries.head.dirName + s"/gen=${m.entries.head.gen}")
    val total = fs.listStatus(genDir)
      .count(s => s.isFile && !s.getPath.getName.startsWith("_"))
    assert(total > 2, s"need fragmentation, got $total")
    // a narrow v-slice THROUGH SQL must read fewer files than the
    // partition holds — the pushed conjuncts hit the file record's
    // min/max before the scan's file index is built
    val q = spark.sql(
      "SELECT key, v, input_file_name() AS f FROM glake.sliced " +
        "WHERE v >= 100 AND v <= 200")
    assert(q.count() == 101)
    assert(q.select("f").distinct().count() < total,
      "SQL scan read every file — pushdown pruning is dead")
    // results identical to the unpruned read + filter
    val want = SnapshotLake.read(spark, dir)
      .filter(col("v") >= 100L && col("v") <= 200L)
      .select("key", "v").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(q.select("key", "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet == want)
    // row-group pushdown still reaches the parquet scan underneath
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(v"), s"parquet pushdown lost:\n$plan")
    // an unfiltered scan reads everything
    assert(spark.sql("SELECT count(*) FROM glake.sliced").collect()
      .head.getLong(0) == 1000L)
  }

  test("TIMESTAMP AS OF resolves from the manifest's OWN publish stamp, not mtime") {
    val dir = s"$root/stamped"
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    Thread.sleep(5) // publish stamps are epoch ms — force distinct values
    SnapshotLake.merge(spark, dir, b2, Seq("key"), "v", "dt")
    val t1 = SnapshotLake.manifestAt(spark, dir, 1L).publishedAtMs.get
    val t2 = SnapshotLake.manifestAt(spark, dir, 2L).publishedAtMs.get
    assert(t1 < t2, s"stamps must be ordered: $t1 vs $t2")
    // back-date BOTH manifest files' mtimes to the epoch — the rsync /
    // backup-restore scenario. Resolution must not notice.
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mdir = new org.apache.hadoop.fs.Path(dir, "_manifests")
    fs.listStatus(mdir).filter(_.getPath.getName.startsWith("manifest-"))
      .foreach(s => fs.setTimes(s.getPath, 1000L, 1000L))
    def asOf(ms: Long): Map[String, (Long, Double)] = state(spark.sql(
      s"SELECT * FROM glake.stamped TIMESTAMP AS OF " +
        s"'${java.time.Instant.ofEpochMilli(ms)}'").collect())
    // between the two publishes → snapshot 1; at/after the second → 2
    assert(asOf((t1 + t2) / 2) ==
      state(SnapshotLake.readAt(spark, dir, 1L).collect()))
    assert(asOf(t2 + 60000L) ==
      state(SnapshotLake.readAt(spark, dir, 2L).collect()))
    // before the first publish → no snapshot existed (mtime would say
    // everything is ancient and resolve the NEWEST — the silent bug)
    intercept[Exception](asOf(t1 - 60000L))
  }

  test("legacy stampless manifests fall back to mtime for TIMESTAMP AS OF") {
    val dir = s"$root/legacy"
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mf = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "_manifests"))
      .map(_.getPath).find(_.getName.startsWith("manifest-")).get
    // strip the header's publish stamp: rewrite as a 3-field legacy header
    val in = fs.open(mf)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split('\n')
    val h = lines.head.split('\t')
    fs.delete(mf, false)
    val out = fs.create(mf, false)
    try out.write((s"${h(0)}\t${h(1)}\t${h(2)}\n" + lines.tail.mkString("\n") + "\n")
      .getBytes("UTF-8"))
    finally out.close()
    val mtime = 1700000000000L // some definite legacy publish time
    fs.setTimes(mf, mtime, mtime)
    assert(SnapshotLake.currentManifest(spark, dir).get.publishedAtMs.isEmpty)
    // after the mtime → resolves; before it → nothing existed
    assert(state(spark.sql(
      s"SELECT * FROM glake.legacy TIMESTAMP AS OF " +
        s"'${java.time.Instant.ofEpochMilli(mtime + 60000L)}'").collect()).size == 3)
    intercept[Exception](spark.sql(
      s"SELECT * FROM glake.legacy TIMESTAMP AS OF " +
        s"'${java.time.Instant.ofEpochMilli(mtime - 60000L)}'").collect())
  }

  test("identifier segments cannot escape the catalog root") {
    // a quoted identifier with a dot-segment or separator must be
    // rejected before it becomes a filesystem path
    val e1 = intercept[Exception](
      spark.sql("SELECT * FROM glake.`../quotes`").collect())
    assert(e1.getMessage.contains("illegal table identifier") ||
      e1.getMessage.contains("TABLE_OR_VIEW"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("SELECT * FROM glake.`sub/dir`").collect())
    assert(e2.getMessage.contains("illegal table identifier") ||
      e2.getMessage.contains("TABLE_OR_VIEW"), e2.getMessage)
  }

  test("IN-list predicates prune FILES at SQL scan time (point intervals)") {
    val dir = s"$root/inlist"
    val rows = (1 to 1000).map(i => (s"k$i", "p", i.toLong, i.toDouble))
      .toDF("key", "dt", "v", "price")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try SnapshotLake.merge(spark, dir, rows, Seq("key"), "v", "dt",
      statsCols = Seq("v"))
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = SnapshotLake.currentManifest(spark, dir).get
    val genDir = new org.apache.hadoop.fs.Path(s"$dir/data/" +
      m.entries.head.dirName + s"/gen=${m.entries.head.gen}")
    val total = fs.listStatus(genDir)
      .count(s => s.isFile && !s.getPath.getName.startsWith("_"))
    assert(total > 2, s"need fragmentation, got $total")
    // a small IN list (below the InSet threshold) and a large one (above
    // it, optimized to InSet) must both reach the file record as points
    for (vals <- Seq(Seq(7L, 8L, 900L),
      (1L to 12L) ++ Seq(990L, 991L, 992L))) {
      val q = spark.sql(
        s"SELECT key, v, input_file_name() AS f FROM glake.inlist " +
          s"WHERE v IN (${vals.mkString(", ")})")
      assert(q.count() == vals.size.toLong)
      assert(q.select("f").distinct().count() < total,
        s"IN(${vals.size}) read every file — point pruning is dead")
      val want = SnapshotLake.read(spark, dir)
        .filter(col("v").isin(vals: _*)).select("key", "v").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(q.select("key", "v").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet == want)
    }
    // the API face: readIn skips the same files and matches read+filter
    val got = SnapshotLake.readIn(spark, dir, "v", Seq(5L, 500L, 995L))
    assert(got.select(input_file_name()).distinct().count() < total)
    assert(got.select("key", "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("k5", 5L), ("k500", 500L), ("k995", 995L)))
    // empty / all-null IN lists are empty results, not errors
    assert(SnapshotLake.readIn(spark, dir, "v", Nil).count() == 0L)
    assert(SnapshotLake.readIn(spark, dir, "v", Seq(null)).count() == 0L)
  }

  test("point predicates on the PARTITION column drop whole manifest entries") {
    val dir = s"$root/partpts"
    val rows = (1 to 300).map(i => (s"k$i", s"p${i % 5}", i.toLong, i.toDouble))
      .toDF("key", "dt", "v", "price")
    SnapshotLake.merge(spark, dir, rows, Seq("key"), "v", "dt")
    // the SCAN's own file index — what the pruned gen-dir rooting actually
    // changes (post-filter input_file_name would also shrink from mere
    // row-group pushdown, proving nothing about the listing)
    def nFiles(sql: String): Long = spark.sql(sql).queryExecution.executedPlan
      .collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan match {
            case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
              f.fileIndex.inputFiles.length.toLong
            case _ => 0L
          }
      }.sum
    val allFiles = nFiles("SELECT * FROM glake.partpts")
    assert(allFiles >= 5, s"need >=5 partitions' files, got $allFiles")
    // = and IN on the partition column: the scan must root on the kept
    // gen dirs only — strictly fewer files ever LISTED
    val eq = spark.sql("SELECT * FROM glake.partpts WHERE dt = 'p2'")
    assert(nFiles("SELECT * FROM glake.partpts WHERE dt = 'p2'") < allFiles,
      s"equality on the partition column listed every partition")
    assert(eq.count() == 60)
    val in = spark.sql("SELECT * FROM glake.partpts WHERE dt IN ('p1','p3')")
    assert(nFiles("SELECT * FROM glake.partpts WHERE dt IN ('p1','p3')") < allFiles)
    assert(in.count() == 120)
    assert(in.select("key").collect().map(_.getString(0)).toSet ==
      (1 to 300).filter(i => i % 5 == 1 || i % 5 == 3).map(i => s"k$i").toSet)
    // a point set matching NO partition reads nothing but keeps the schema
    val none = spark.sql("SELECT * FROM glake.partpts WHERE dt = 'absent'")
    assert(none.count() == 0)
    // RANGE bounds on the partition column do NOT prune (lexicographic
    // string compare is not the column's order) — conservative fallback
    val rng = spark.sql("SELECT * FROM glake.partpts WHERE dt >= 'p1'")
    assert(rng.count() == rows.filter(col("dt") >= "p1").count())
  }

  test("INSERT INTO routes through the keyed LWW merge (AppendData plan)") {
    val dir = s"$root/ins"
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    // the plan face: INSERT over the lake table is an AppendData node
    val planned = spark.sql(
      "EXPLAIN EXTENDED INSERT INTO glake.ins SELECT * FROM VALUES " +
        "('k9', '2025-01-09', CAST(1 AS BIGINT), 90.0)")
      .collect().map(_.getString(0)).mkString("\n")
    assert(planned.contains("AppendData"), s"not an AppendData write:\n$planned")
    // merge semantics, same as the API: a key present in the INSERT batch
    // takes the batch's winner (cross-batch UPDATE-WINS — the e3b
    // contract, version regardless), untouched keys keep their rows, new
    // keys append
    spark.sql(
      """INSERT INTO glake.ins VALUES
           ('k1', '2025-01-01', CAST(2 AS BIGINT), 15.0),
           ('k2', '2025-01-02', CAST(0 AS BIGINT), 7.0),
           ('k4', '2025-01-04', CAST(1 AS BIGINT), 40.0)""")
    val after = state(spark.sql("SELECT * FROM glake.ins").collect())
    assert(after == Map("k1" -> ((2L, 15.0)), "k2" -> ((0L, 7.0)),
      "k3" -> ((1L, 30.0)), "k4" -> ((1L, 40.0))), after.toString)
    // snapshot history intact: the pre-insert snapshot still reads
    assert(state(SnapshotLake.readAt(spark, dir, 1L).collect()).keySet ==
      Set("k1", "k2", "k3"))
    // the persisted contract drives the routing
    val spec = SnapshotLake.mergeSpecOf(spark, dir).get
    assert(spec.keys == Seq("key") && spec.versionCol == "v" &&
      spec.partitionCol == "dt")
  }

  test("INSERT OVERWRITE and spec-less lakes refuse loudly") {
    val dir = s"$root/insguard"
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    val e1 = intercept[Exception](spark.sql(
      "INSERT OVERWRITE glake.insguard SELECT * FROM glake.insguard"))
    assert(e1.getMessage.contains("append-merge only") ||
      e1.getMessage.toLowerCase.contains("overwrite"), e1.getMessage)
    // a lake without a recorded contract (a manifest written before the
    // manifest carried it, and no legacy table-meta) refuses every keyed
    // face with the one remedy, instead of guessing keys
    graft.etl.LakeManifestSpec.asPreContractManifest(spark, dir)
    def refusal(face: String)(body: => Any): Unit = {
      val msg = intercept[Exception](body).getMessage
      assert(msg.contains("merge contract") && msg.contains(face) &&
        msg.contains("TBLPROPERTIES ('merge_keys'=") &&
        msg.contains("SnapshotLake.merge"), msg)
    }
    refusal("a SQL write")(spark.sql(
      "INSERT INTO glake.insguard VALUES ('k9','2025-01-09',CAST(1 AS BIGINT),9.0)"))
    b2.createOrReplaceTempView("insguard_src")
    refusal("MERGE INTO")(spark.sql(
      "MERGE INTO glake.insguard t USING insguard_src s ON t.key = s.key " +
        "WHEN MATCHED THEN UPDATE SET *"))
    refusal("a graft-lake stream")(SnapshotLake.mergeStreamBatch(spark, dir, b2, "s", 0L))
    SnapshotLake.merge(spark, dir, b2, Seq("key"), "v", "dt")
    graft.etl.LakeManifestSpec.asPreContractManifest(spark, dir)
    refusal("changes()")(SnapshotLake.changes(spark, dir, 1L, 2L))
  }

  test("SQL DELETE routes through the atomic lake delete; opaque conditions refuse") {
    val dir = s"$root/deltest"
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    SnapshotLake.merge(spark, dir, b2, Seq("key"), "v", "dt")
    spark.sql("DELETE FROM glake.deltest WHERE key IN ('k1', 'k3')")
    assert(state(spark.sql("SELECT * FROM glake.deltest").collect()) ==
      Map("k2" -> ((1L, 20.0)), "k4" -> ((1L, 40.0))))
    // the SQL face and the API face share one commit mechanism: history
    // (pre-delete snapshot) still resolves through time travel
    assert(state(spark.sql(
      "SELECT * FROM glake.deltest VERSION AS OF 2").collect())
      .keySet == Set("k1", "k2", "k3", "k4"))
    // a condition that cannot translate to source filters must refuse at
    // planning (canDeleteWhere=false), never silently delete wrong rows
    val before = state(spark.sql("SELECT * FROM glake.deltest").collect())
    intercept[Throwable](
      spark.sql("DELETE FROM glake.deltest WHERE length(key) > 1000"))
    assert(state(spark.sql("SELECT * FROM glake.deltest").collect()) == before,
      "a refused DELETE must not change the table")
    // unconditional DELETE = SQL truncate: manifest emptied, history kept
    spark.sql("DELETE FROM glake.deltest")
    assert(spark.sql("SELECT * FROM glake.deltest").count() == 0L)
    assert(state(spark.sql(
      "SELECT * FROM glake.deltest VERSION AS OF 2").collect()).size == 4)
  }

  test("catalog schema reflects the union after add-column; time travel keeps the old shape") {
    val dir = s"$root/evolve"
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    SnapshotLake.merge(spark, dir,
      b2.withColumn("venue", concat(lit("x-"), col("key"))),
      Seq("key"), "v", "dt")
    val now = spark.sql("SELECT * FROM glake.evolve")
    assert(now.columns.contains("venue"),
      "the catalog must answer with the UNION schema after a widen")
    val venues = now.collect()
      .map(r => r.getAs[String]("key") -> Option(r.getAs[String]("venue"))).toMap
    assert(venues("k2").isEmpty && venues("k1").contains("x-k1"),
      "pre-widen generations must read the added column as NULL")
    // time travel answers with the snapshot's OWN (narrower) schema
    assert(!spark.sql("SELECT * FROM glake.evolve VERSION AS OF 1")
      .columns.contains("venue"))
  }

  test("MERGE INTO: upsert / update-only / insert-only / delete verbs share the LWW commit") {
    val dir = s"$root/mergetest"
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    // full upsert: k1 updated (v=2 wins LWW), k4 inserted
    b2.createOrReplaceTempView("mrg_src")
    spark.sql(
      """MERGE INTO glake.mergetest AS t USING mrg_src AS s ON t.key = s.key
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT *""")
    assert(state(spark.sql("SELECT * FROM glake.mergetest").collect()) ==
      Map("k1" -> ((2L, 15.0)), "k2" -> ((1L, 20.0)),
        "k3" -> ((1L, 30.0)), "k4" -> ((1L, 40.0))))
    // UPDATE-only: the new key k9 must NOT land, k2's update must
    Seq(("k2", "2025-01-02", 3L, 25.0), ("k9", "2025-01-09", 1L, 90.0))
      .toDF("key", "dt", "v", "price").createOrReplaceTempView("mrg_upd")
    spark.sql(
      """MERGE INTO glake.mergetest AS t USING mrg_upd AS s ON t.key = s.key
         WHEN MATCHED THEN UPDATE SET *""")
    val afterUpd = state(spark.sql("SELECT * FROM glake.mergetest").collect())
    assert(afterUpd("k2") == ((3L, 25.0)) && !afterUpd.contains("k9"))
    // INSERT-only: existing k3 must NOT change, new k5 must land
    Seq(("k3", "2025-01-03", 9L, 99.0), ("k5", "2025-01-05", 1L, 50.0))
      .toDF("key", "dt", "v", "price").createOrReplaceTempView("mrg_ins")
    spark.sql(
      """MERGE INTO glake.mergetest AS t USING mrg_ins AS s ON t.key = s.key
         WHEN NOT MATCHED THEN INSERT *""")
    val afterIns = state(spark.sql("SELECT * FROM glake.mergetest").collect())
    assert(afterIns("k3") == ((1L, 30.0)) && afterIns("k5") == ((1L, 50.0)))
    // DELETE verb: matched keys leave the table (the takedown shape)
    Seq("k1", "k5", "k_absent").toDF("key").createOrReplaceTempView("mrg_del")
    spark.sql(
      """MERGE INTO glake.mergetest AS t USING mrg_del AS s ON t.key = s.key
         WHEN MATCHED THEN DELETE""")
    assert(state(spark.sql("SELECT * FROM glake.mergetest").collect())
      .keySet == Set("k2", "k3", "k4"))
  }

  test("MERGE INTO: NOT MATCHED BY SOURCE DELETE syncs the table to the source frame") {
    val dir = s"$root/mergesync"
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt") // k1 k2 k3
    // source carries k1 (update), k4 (new) — k2/k3 must LEAVE the table
    b2.createOrReplaceTempView("sync_src")
    spark.sql(
      """MERGE INTO glake.mergesync AS t USING sync_src AS s ON t.key = s.key
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT *
         WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    assert(state(spark.sql("SELECT * FROM glake.mergesync").collect()) ==
      Map("k1" -> ((2L, 15.0)), "k4" -> ((1L, 40.0))))
    // sync-only (no upsert clauses): keep exactly the source's keys
    Seq("k1").toDF("key").createOrReplaceTempView("sync_keep")
    spark.sql(
      """MERGE INTO glake.mergesync AS t USING sync_keep AS s ON t.key = s.key
         WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    assert(state(spark.sql("SELECT * FROM glake.mergesync").collect())
      .keySet == Set("k1"))
    // conditional / UPDATE forms of the clause refuse
    intercept[Throwable](spark.sql(
      """MERGE INTO glake.mergesync AS t USING sync_keep AS s ON t.key = s.key
         WHEN NOT MATCHED BY SOURCE AND t.price > 10 THEN DELETE"""))
    // matched-DELETE + sync-DELETE would empty the table: refuse
    intercept[Throwable](spark.sql(
      """MERGE INTO glake.mergesync AS t USING sync_keep AS s ON t.key = s.key
         WHEN MATCHED THEN DELETE
         WHEN NOT MATCHED BY SOURCE THEN DELETE"""))
  }

  test("MERGE INTO: null keys split by the lake's null-safe identity, not SQL's") {
    val dir = s"$root/mergenull"
    SnapshotLake.merge(spark, dir,
      Seq((Option("k1"), "2025-01-01", 1L, 10.0),
        (Option.empty[String], "2025-01-02", 1L, 20.0))
        .toDF("key", "dt", "v", "price"),
      Seq("key"), "v", "dt")
    // INSERT-only with a null-key source row: under the lake's identity
    // the null key MATCHES the existing null-key row, so the insert-only
    // verb must NOT touch it (a null-unsafe split would overwrite it)
    Seq((Option.empty[String], "2025-01-02", 9L, 99.0),
      (Option("k5"), "2025-01-05", 1L, 50.0))
      .toDF("key", "dt", "v", "price").createOrReplaceTempView("null_src")
    spark.sql(
      """MERGE INTO glake.mergenull AS t USING null_src AS s ON t.key = s.key
         WHEN NOT MATCHED THEN INSERT *""")
    val rows = spark.sql("SELECT * FROM glake.mergenull").collect()
      .map(r => Option(r.getAs[String]("key")) ->
        ((r.getAs[Long]("v"), r.getAs[Double]("price")))).toMap
    assert(rows(None) == ((1L, 20.0)),
      "INSERT-only overwrote the existing null-key row")
    assert(rows(Some("k5")) == ((1L, 50.0)))
    // sync pass: a source WITHOUT a null-key row drops the stale one
    Seq("k1", "k5").toDF("key").createOrReplaceTempView("null_sync")
    spark.sql(
      """MERGE INTO glake.mergenull AS t USING null_sync AS s ON t.key = s.key
         WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    assert(spark.sql("SELECT * FROM glake.mergenull").collect()
      .map(r => Option(r.getAs[String]("key"))).toSet ==
      Set(Some("k1"), Some("k5")))
  }

  test("MERGE INTO: shapes the LWW commit cannot honor refuse loudly") {
    val dir = s"$root/mergeref"
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    b2.createOrReplaceTempView("mrgr_src")
    def refused(sql: String, why: String): Unit = {
      val e = intercept[Throwable](spark.sql(sql))
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else String.valueOf(t.getMessage) +: msgs(t.getCause)
      assert(msgs(e).exists(_.contains(why)), s"wrong refusal for: $sql\n  got $e")
    }
    // ON keys must be exactly the persisted merge keys
    refused(
      """MERGE INTO glake.mergeref AS t USING mrgr_src AS s ON t.dt = s.dt
         WHEN MATCHED THEN UPDATE SET *""", "merge keys")
    // clause conditions are out of the LWW algebra
    refused(
      """MERGE INTO glake.mergeref AS t USING mrgr_src AS s ON t.key = s.key
         WHEN MATCHED AND s.price > 20 THEN UPDATE SET *""", "clause conditions")
    // explicit non-identity assignments would need per-row update arithmetic
    refused(
      """MERGE INTO glake.mergeref AS t USING mrgr_src AS s ON t.key = s.key
         WHEN MATCHED THEN UPDATE SET t.price = s.price + 1""", "identity")
    // DELETE cannot mix with INSERT under one LWW pass
    refused(
      """MERGE INTO glake.mergeref AS t USING mrgr_src AS s ON t.key = s.key
         WHEN MATCHED THEN DELETE
         WHEN NOT MATCHED THEN INSERT *""", "DELETE cannot be combined")
    // nothing committed by any refusal
    assert(SnapshotLake.currentManifest(spark, dir).get.gen == 1L)
  }

  test("destructive DDL refuses loudly; contract-less CREATE refuses; missing tables throw") {
    // CREATE TABLE without the merge contract refuses with remediation
    val c = intercept[Exception](
      spark.sql("CREATE TABLE glake.t2 (a INT) USING parquet"))
    assert(c.getMessage.contains("merge_keys"))
    intercept[UnsupportedOperationException](spark.sql("DROP TABLE glake.quotes"))
    // ALTER verbs other than ADD COLUMN stay refusals (widen-only contract)
    intercept[UnsupportedOperationException](
      spark.sql("ALTER TABLE glake.quotes RENAME COLUMN price TO cost"))
    intercept[UnsupportedOperationException](
      spark.sql("ALTER TABLE glake.quotes DROP COLUMN price"))
    val e = intercept[Exception](spark.sql("SELECT * FROM glake.absent").collect())
    assert(e.getMessage.contains("absent") || e.getMessage.contains("TABLE_OR_VIEW"))
  }

  test("CREATE TABLE: SQL-only bootstrap → INSERT → read round-trip; declared schema enforced") {
    spark.sql(
      """CREATE TABLE glake.born_sql (key STRING, dt STRING, v BIGINT, price DOUBLE)
         PARTITIONED BY (dt)
         TBLPROPERTIES ('merge_keys'='key', 'version_col'='v',
                        'stats_cols'='price')""")
    // the empty table reads with its DECLARED shape immediately
    val empty = spark.sql("SELECT * FROM glake.born_sql")
    assert(empty.schema.fieldNames.toSeq == Seq("key", "dt", "v", "price"))
    assert(empty.count() == 0)
    assert(SnapshotLake.currentManifest(spark, s"$root/born_sql").get.gen == 0L)
    // the stamped contract routes INSERT INTO through the keyed LWW merge
    b1.createOrReplaceTempView("born_b1")
    b2.createOrReplaceTempView("born_b2")
    spark.sql("INSERT INTO glake.born_sql SELECT * FROM born_b1")
    spark.sql("INSERT INTO glake.born_sql SELECT * FROM born_b2")
    assert(state(spark.sql("SELECT * FROM glake.born_sql").collect()) ==
      Map("k1" -> ((2L, 15.0)), "k2" -> ((1L, 20.0)),
        "k3" -> ((1L, 30.0)), "k4" -> ((1L, 40.0))))
    // the first INSERT's file record carries stats for the declared
    // contract's stats_cols (file skipping on)
    assert(new java.io.File(
      s"$root/born_sql/_manifests/files-${"%020d".format(1L)}").exists())
    val born = SnapshotLake.manifestAt(spark, s"$root/born_sql", 1L)
    assert(SnapshotLake.liveFiles(spark, s"$root/born_sql", born.entries)
      .flatMap(_._2).forall(_.bounds.contains("price")))
    // gen 0 is retained history: VERSION AS OF 0 answers the empty table
    assert(spark.sql("SELECT * FROM glake.born_sql VERSION AS OF 0").count() == 0)
    // the declared schema is ENFORCED from commit 1: a batch missing a
    // declared column refuses through the widen-only evolution check
    Seq(("k9", "2025-01-09", 9L)).toDF("key", "dt", "v")
      .createOrReplaceTempView("born_narrow")
    val e = intercept[Exception](
      spark.sql("INSERT INTO glake.born_sql SELECT * FROM born_narrow"))
    assert(e.getMessage.contains("price") || e.getMessage.contains("not enough"),
      s"narrowing batch must refuse, got: ${e.getMessage}")
    // duplicate CREATE refuses and commits nothing
    val dup = intercept[Exception](spark.sql(
      """CREATE TABLE glake.born_sql (key STRING, dt STRING, v BIGINT, price DOUBLE)
         PARTITIONED BY (dt)
         TBLPROPERTIES ('merge_keys'='key', 'version_col'='v')"""))
    assert(dup.getMessage.contains("already exists"))
    // nothing re-stamped: still the two INSERT commits on top of gen 0
    assert(SnapshotLake.currentManifest(spark, s"$root/born_sql").get.gen == 2L)
  }

  test("CREATE TABLE: property validation refuses bad contracts up front") {
    def refusal(sql: String): String =
      intercept[Exception](spark.sql(sql)).getMessage
    assert(refusal(
      """CREATE TABLE glake.bad1 (k STRING, v BIGINT) PARTITIONED BY (k)
         TBLPROPERTIES ('merge_keys'='k')""").contains("version_col"))
    assert(refusal(
      """CREATE TABLE glake.bad2 (k STRING, v BIGINT)
         TBLPROPERTIES ('merge_keys'='k', 'version_col'='v')""")
      .contains("partition column"))
    assert(refusal(
      """CREATE TABLE glake.bad3 (k STRING, v BIGINT) PARTITIONED BY (k)
         TBLPROPERTIES ('merge_keys'='nope', 'version_col'='v')""")
      .contains("not in the declared schema"))
    assert(refusal(
      """CREATE TABLE glake.bad4 (k STRING, v BIGINT) PARTITIONED BY (k)
         TBLPROPERTIES ('merge_keys'='k', 'version_col'='v',
                        'partition_col'='v')""").contains("disagree"))
    assert(refusal(
      """CREATE TABLE glake.bad5 (k STRING, v BIGINT, d STRING)
         PARTITIONED BY (k, d)
         TBLPROPERTIES ('merge_keys'='k', 'version_col'='v')""")
      .contains("exactly one"))
    // none of the refusals left a table behind
    Seq("bad1", "bad2", "bad3", "bad4", "bad5").foreach { t =>
      assert(!new java.io.File(s"$root/$t/_manifests").exists(), t)
    }
  }

  test("SQL UPDATE: predicate-scoped rewrite through the catalog; guards refuse") {
    val dir = s"$root/upd"
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt") // gen 1
    SnapshotLake.merge(spark, dir, b2, Seq("key"), "v", "dt") // gen 2
    val before = SnapshotLake.currentManifest(spark, dir).get
      .entries.map(e => e.value -> e.gen).toMap
    spark.sql("UPDATE glake.upd SET price = price * 10 WHERE key = 'k2'")
    assert(state(spark.sql("SELECT * FROM glake.upd").collect()) ==
      Map("k1" -> ((2L, 15.0)), "k2" -> ((1L, 200.0)),
        "k3" -> ((1L, 30.0)), "k4" -> ((1L, 40.0))))
    // untouched partitions keep their exact pre-update gens
    val after = SnapshotLake.currentManifest(spark, dir).get
    assert(after.gen == 3L)
    assert(after.entries.map(e => e.value -> e.gen).toMap ==
      before + ("2025-01-02" -> 3L))
    // unconditional UPDATE (no WHERE) rewrites everything
    spark.sql("UPDATE glake.upd SET price = 1.0")
    assert(spark.sql("SELECT * FROM glake.upd").collect()
      .map(_.getAs[Double]("price")).toSet == Set(1.0))
    // guards surface through SQL: partition column / merge key / subquery
    assert(intercept[Exception](
      spark.sql("UPDATE glake.upd SET dt = 'x' WHERE key = 'k1'"))
      .getMessage.contains("partition column"))
    assert(intercept[Exception](
      spark.sql("UPDATE glake.upd SET key = 'x' WHERE key = 'k1'"))
      .getMessage.contains("merge key"))
    assert(intercept[Exception](
      spark.sql("""UPDATE glake.upd SET price = 0.0
                   WHERE key IN (SELECT key FROM glake.quotes)"""))
      .getMessage.contains("subquery"))
    // refusals committed nothing
    assert(SnapshotLake.currentManifest(spark, dir).get.gen == 4L)
  }

  test("UPDATE with identity-only assignments is a no-op, not an error") {
    val dir = s"$root/updnoop"
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    val before = state(spark.sql("SELECT * FROM glake.updnoop").collect())
    // standard SQL executes `SET price = price`; the lake honors it as a
    // no-op instead of burning a whole-partition rewrite on a statement
    // that cannot change a value
    spark.sql("UPDATE glake.updnoop SET price = price WHERE key = 'k1'")
    assert(state(spark.sql("SELECT * FROM glake.updnoop").collect()) == before)
    // no commit happened — the generation did not advance
    assert(SnapshotLake.currentManifest(spark, dir).get.gen == 1L)
  }

  test("ALTER TABLE ADD COLUMN: metadata-only widen; every other shape refuses") {
    val dir = s"$root/widen"
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt") // gen 1
    val entriesBefore = SnapshotLake.currentManifest(spark, dir).get.entries
      .map(e => (e.dirName, e.gen)).toSet

    spark.sql("ALTER TABLE glake.widen ADD COLUMN note STRING")
    // the widened shape answers immediately; existing rows answer null
    val df = spark.sql("SELECT * FROM glake.widen")
    assert(df.schema.fieldNames.toSeq == Seq("key", "dt", "v", "price", "note"))
    assert(df.count() == 3 && df.filter($"note".isNotNull).count() == 0)
    // metadata-only: gen advanced, SAME entries (not a byte moved), CDC
    // delta across the commit empty, time travel keeps the old shape
    val m = SnapshotLake.currentManifest(spark, dir).get
    assert(m.gen == 2L)
    assert(m.entries.map(e => (e.dirName, e.gen)).toSet == entriesBefore)
    assert(SnapshotLake.changes(spark, dir, 1L, 2L).isEmpty)
    assert(spark.sql("SELECT * FROM glake.widen VERSION AS OF 1")
      .schema.fieldNames.toSeq == Seq("key", "dt", "v", "price"))

    // from now on batches CARRY the column (declared-schema contract)
    b2.withColumn("note", concat($"key", lit("!")))
      .createOrReplaceTempView("widen_b2")
    spark.sql("INSERT INTO glake.widen SELECT * FROM widen_b2")
    val got = spark.sql("SELECT key, note FROM glake.widen").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("k1" -> "k1!", "k2" -> null, "k3" -> null, "k4" -> "k4!"))
    // the recorded schema stays NULLABLE even though the batch's note was
    // a non-nullable concat product: pre-ALTER generations null-fill the
    // column, so a verbatim non-nullable record would NPE the first
    // nullability-exploiting codegen consumer (e.g. xxhash64)
    assert(spark.table("glake.widen").schema("note").nullable)
    spark.table("glake.widen")
      .select(org.apache.spark.sql.functions.xxhash64($"key", $"note"))
      .collect()
    // a batch missing the declared column refuses (positional INSERT
    // can't even bind; the API face hits checkEvolution's message)
    b1.createOrReplaceTempView("widen_b1")
    intercept[Exception](
      spark.sql("INSERT INTO glake.widen SELECT * FROM widen_b1"))

    // refusal shapes, each naming its law
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE glake.widen ADD COLUMN note2 INT FIRST"))
      .getMessage.contains("APPEND"))
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE glake.widen ADD COLUMN note STRING"))
      .getMessage.contains("already exists"))
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE glake.widen ADD COLUMN req INT NOT NULL"))
      .getMessage.contains("nullable"))
    assert(intercept[UnsupportedOperationException](spark.sql(
      "ALTER TABLE glake.widen ALTER COLUMN price TYPE STRING"))
      .getMessage.contains("widen-only"))
    assert(intercept[UnsupportedOperationException](spark.sql(
      "ALTER TABLE glake.widen SET TBLPROPERTIES ('x'='y')"))
      .getMessage.contains("widen-only"))
  }

  test("TRUNCATE TABLE empties the live snapshot; history and contract survive") {
    val dir = s"$root/trunc"
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt") // gen 1
    spark.sql("TRUNCATE TABLE glake.trunc")
    assert(spark.sql("SELECT * FROM glake.trunc").count() == 0)
    // one atomic commit: gen advanced, manifest emptied, history retained
    assert(SnapshotLake.currentManifest(spark, dir).get.gen == 2L)
    assert(SnapshotLake.currentManifest(spark, dir).get.entries.isEmpty)
    assert(state(spark.sql("SELECT * FROM glake.trunc VERSION AS OF 1")
      .collect()).keySet == Set("k1", "k2", "k3"))
    // the merge contract survives: INSERT INTO lands on the empty table
    b2.createOrReplaceTempView("trunc_b2")
    spark.sql("INSERT INTO glake.trunc SELECT * FROM trunc_b2")
    assert(state(spark.sql("SELECT * FROM glake.trunc").collect()) ==
      Map("k1" -> ((2L, 15.0)), "k4" -> ((1L, 40.0))))
  }

  test("DROP TABLE: refused by default; allow_drop purges history, recreate starts fresh") {
    // default catalog: loud refusal
    val dir = s"$root/dropme"
    SnapshotLake.merge(spark, dir, b1, Seq("key"), "v", "dt")
    val e = intercept[Exception](spark.sql("DROP TABLE glake.dropme"))
    assert(e.getMessage.contains("allow_drop"),
      s"the refusal must name the opt-in, got: ${e.getMessage}")
    assert(SnapshotLake.currentManifest(spark, dir).isDefined,
      "a refused DROP must not touch the table")

    // opted-in catalog over the same root
    spark.conf.set("spark.sql.catalog.glakedrop", classOf[LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.glakedrop.root", root)
    spark.conf.set("spark.sql.catalog.glakedrop.allow_drop", "true")
    SnapshotLake.merge(spark, dir, b2, Seq("key"), "v", "dt") // gen 2
    spark.sql("DROP TABLE glakedrop.dropme")
    // the ENTIRE history is gone: current read, time travel, catalog lookup
    assert(SnapshotLake.currentManifest(spark, dir).isEmpty)
    assert(SnapshotLake.retainedGens(spark, dir).isEmpty)
    assert(intercept[Exception](
      spark.sql("SELECT * FROM glakedrop.dropme").collect())
      .getMessage.toLowerCase.contains("table"))
    assert(intercept[Exception](
      spark.sql("SELECT * FROM glakedrop.dropme VERSION AS OF 1").collect())
      .getMessage.toLowerCase.contains("table"))
    // recreate via DDL: a FRESH history at generation 0 — the old
    // snapshots do not resurface
    spark.sql(
      """CREATE TABLE glakedrop.dropme
           (key STRING, dt STRING, v BIGINT, price DOUBLE)
         PARTITIONED BY (dt)
         TBLPROPERTIES ('merge_keys'='key', 'version_col'='v')""")
    assert(SnapshotLake.retainedGens(spark, dir) == Seq(0L))
    assert(spark.sql("SELECT * FROM glakedrop.dropme").count() == 0)
    b1.createOrReplaceTempView("drop_b1")
    spark.sql("INSERT INTO glakedrop.dropme SELECT * FROM drop_b1")
    assert(spark.sql("SELECT * FROM glakedrop.dropme").count() == 3)
    // DROP of a table that does not exist reports false (no throw)
    assert(!SnapshotLake.drop(spark, s"$root/never_existed"))
  }
}
