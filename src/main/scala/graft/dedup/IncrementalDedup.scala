package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental admission dedup — the production loop around X1/X17: a
  * crawl/ingest batch is admitted into the corpus ONLY if its content hash
  * has never been seen, and the seen-set persists across batches as a
  * parquet index beside the corpus. This is what "dedup" means in a live
  * pipeline: not a one-shot query over a frozen corpus, but a standing
  * filter every new batch flows through (the reference's PK-upsert plays
  * the same role for quotes — `postgres_writer.py:234-240` — generalized
  * here to content identity over documents).
  *
  * Scale shape: the batch hashes with a narrow projection; the novelty
  * check is a hash-keyed LEFT ANTI join against the index (both sides
  * corpus-scale ⇒ keyed shuffle, never a broadcast — X17's shape); the
  * index write is a blind APPEND of one row per admitted doc (no
  * read-modify-write of the index, ever). At 100 TB the index is the
  * natural bucketing candidate (bucket both sides by `content_hash` and
  * the anti join goes zero-exchange — `sources/Layout` proves that path).
  *
  * Crash contract (single writer, same as the lake merge — enforced by the
  * [[graft.etl.LakeLease]] guard, so a second concurrent admitter fails
  * loudly instead of double-admitting): `admitAndCommit`
  * persists the admitted docs via the caller's IDEMPOTENT sink FIRST, then
  * appends their hashes to the index. A crash between the two replays as:
  * index still lacks the hashes → the batch re-admits → the idempotent sink
  * converges → the append lands. The reverse order would lose documents
  * (hashes present, corpus rows absent, replay admits nothing).
  */
object IncrementalDedup {

  /** Batch docs keyed by content hash, internal duplicates collapsed to the
    * lowest doc_id (deterministic canonical copy).
    */
  private def hashedCanonical(batch: DataFrame): DataFrame = {
    val cols = batch.columns
    batch
      .withColumn("content_hash", sha2(col("text"), 256))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .select(("content_hash" +: cols.toSeq).map(col): _*)
  }

  /** The content-novel subset of `batch` versus the persistent index:
    * internal duplicates collapsed, then a hash-keyed anti join against
    * every previously admitted hash. Pure — does not touch the index.
    */
  def novel(spark: SparkSession, indexPath: String, batch: DataFrame): DataFrame = {
    val candidates = hashedCanonical(batch)
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(indexPath))) candidates
    else candidates.join(
      // Schema supplied EXPLICITLY: a crash during the very first index
      // append can leave indexPath existing with zero data files (only a
      // _temporary dir), and schema inference would throw "Unable to infer
      // schema" on every replay — a permanent wedge. With the schema pinned,
      // a data-file-less index reads as empty and the replay converges.
      spark.read.schema("content_hash STRING, canonical_id BIGINT")
        .parquet(indexPath).select("content_hash"),
      Seq("content_hash"), "left_anti")
  }

  /** LSH gate core: materialized band buckets for the batch (bounded: 8
    * rows per shingleable doc) and the admitted subset of the batch. Shared
    * by [[novelByMinhash]] and [[admitAndCommitMinhash]] so the expensive
    * shingle-explode + 24-aggregate minhash pass runs ONCE per batch.
    */
  private def lshGate(
      spark: SparkSession,
      bucketIndexPath: String,
      batch: DataFrame): (DataFrame, DataFrame, String) = {
    // The scratch carries each band's three lanes beside (band, bh): the
    // bucket probes below project them away, but the ESTIMATE mode
    // ([[novelByMinhashEstimated]]) compares them pairwise, and the index
    // append stores them — all from this ONE materialized pass.
    val (bands, bandsPath) = DedupQueries.materializeWithPath(
      DedupQueries.bandedLanes(DedupQueries.shingles(batch)), "admit_bands")
    val fs = new org.apache.hadoop.fs.Path(bucketIndexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // suspected vs the index: ANY band bucket already admitted. Pinned
    // schema: an index dir left data-file-less by a first-append crash must
    // read as empty, not wedge schema inference (same rationale as novel()).
    val suspectIdx =
      if (!fs.exists(new org.apache.hadoop.fs.Path(bucketIndexPath))) {
        import spark.implicits._
        Seq.empty[Long].toDF("doc_id")
      } else bands.join(
        spark.read.schema("band BIGINT, bh BIGINT").parquet(bucketIndexPath),
        Seq("band", "bh"), "left_semi").select("doc_id").distinct()
    // suspected vs the batch itself: a bucket shared with a LOWER doc_id
    // (the within-batch canonical). A window min per bucket, NOT a
    // pairwise self-join: k re-encoded copies of one spam doc land in the
    // same buckets, and a join would materialize O(k²) rows there — the
    // window costs O(k) per bucket for identical semantics. Conservative:
    // a dropped sibling's buckets still block — recall-oriented, never
    // admits both sides.
    val sibSuspect = bands
      .withColumn("__min_id",
        min(col("doc_id")).over(Window.partitionBy(col("band"), col("bh"))))
      .filter(col("doc_id") > col("__min_id"))
      .select("doc_id").distinct()
    val suspected = suspectIdx.union(sibSuspect).distinct()
    // Docs too short to shingle have no buckets: the LSH gate cannot judge
    // them, and admitting them here would also break admitAndCommitMinhash's
    // convergence (nothing to index ⇒ every replay re-admits). They are
    // EXCLUDED — route them through the exact-hash novel()/admitAndCommit
    // gate, which handles any byte length.
    val judged = bands.select("doc_id").distinct()
    (judged.join(suspected, Seq("doc_id"), "left_anti"), bands, bandsPath)
  }

  /** The near-dup-novel subset of `batch` versus a persistent MinHash-LSH
    * bucket index — the FUZZY admission gate (what large-corpus pipelines
    * run at ingest: an exact hash admits trivially re-encoded spam, LSH
    * buckets catch it). A document is suspected when ANY of its 8 band
    * buckets ([[DedupQueries.bandBuckets]] — the SAME lanes and banding as
    * the X2 query, so ingest-time and query-time "near-dup" agree) matches
    * the index, or matches a LOWER-doc_id batch sibling's bucket (the
    * within-batch canonical). Recall-oriented by design: suspects are
    * DROPPED, not verified — LSH false positives at these parameters trade
    * a tiny novel-doc loss for never admitting a near-dup; callers needing
    * precision verify suspects with exact Jaccard before dropping. Docs too
    * short to shingle (< 3 tokens) are excluded, not passed through — see
    * the gate core.
    *
    * Scale shape: bucket computation is X2's single-shuffle minhash; the
    * index probe is a (band, bh)-keyed join (both sides corpus-scale ⇒
    * keyed shuffle, never broadcast); the sibling check is a window min on
    * the same key — nothing pairwise anywhere.
    */
  def novelByMinhash(spark: SparkSession, bucketIndexPath: String, batch: DataFrame): DataFrame =
    batch.join(lshGate(spark, bucketIndexPath, batch)._1, Seq("doc_id"), "left_semi")

  /** Exact-Jaccard confirmation of the LSH gate's suspects — the core of the
    * PRECISION mode. Two collision-pair families, both bounded by the
    * collision set (never corpus- or batch-quadratic):
    *
    *  - index pairs: (batch doc, previously admitted canonical) for every
    *    shared (band, bh) bucket — the canonical's text comes from `corpus`;
    *  - sibling pairs: (batch doc, its bucket-min batch sibling), the same
    *    window-min check the recall-oriented gate uses (O(k) per bucket).
    *
    * The Jaccard joins read shingles of ONLY the involved docs (semi-joins
    * bound both sides — x2's candidate-scoped shape), and the two pair
    * families keep separate shingle frames so a batch doc_id numerically
    * equal to a corpus canonical_id (the replay-after-success case: a doc
    * colliding with its own indexed buckets, Jaccard 1.0) never
    * cross-contaminates. A pair with no shared shingles scores 0 — the
    * banding false positive the mode exists to admit.
    */
  private def confirmedSuspects(
      spark: SparkSession,
      bucketIndexPath: String,
      batch: DataFrame,
      corpus: DataFrame,
      bands: DataFrame,
      threshold: Double): DataFrame = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(bucketIndexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idxPairs =
      if (!fs.exists(new org.apache.hadoop.fs.Path(bucketIndexPath)))
        Seq.empty[(Long, Long)].toDF("doc_id", "other_id")
      else bands.join(
        spark.read.schema("band BIGINT, bh BIGINT, canonical_id BIGINT")
          .parquet(bucketIndexPath),
        Seq("band", "bh"))
        .select(col("doc_id"), col("canonical_id").as("other_id")).distinct()
    val sibPairs = bands
      .withColumn("__min_id",
        min(col("doc_id")).over(Window.partitionBy(col("band"), col("bh"))))
      .filter(col("doc_id") > col("__min_id"))
      .select(col("doc_id"), col("__min_id").as("other_id")).distinct()
    def involvedSh(docs: DataFrame, ids: DataFrame): DataFrame =
      DedupQueries.shingles(docs.join(ids, Seq("doc_id"), "left_semi"))
    val suspectSh = involvedSh(batch,
      idxPairs.select("doc_id").union(sibPairs.select("doc_id")).distinct())
    def confirmed(pairs: DataFrame, otherSh: DataFrame): DataFrame = {
      val ni = pairs.as("p")
        .join(suspectSh.as("l"), col("p.doc_id") === col("l.doc_id"))
        .join(otherSh.as("r"),
          col("p.other_id") === col("r.doc_id") && col("l.shingle") === col("r.shingle"))
        .groupBy(col("p.doc_id").as("doc_id"), col("p.other_id").as("other_id"))
        .agg(count(lit(1)).as("ni"))
      val nL = suspectSh.groupBy(col("doc_id")).agg(count(lit(1)).as("nl"))
      val nR = otherSh.groupBy(col("doc_id").as("other_id")).agg(count(lit(1)).as("nr"))
      pairs
        .join(ni, Seq("doc_id", "other_id"), "left")
        .join(nL, Seq("doc_id"))
        .join(nR, Seq("other_id"))
        .filter(coalesce(col("ni"), lit(0L)).cast("double") /
          (col("nl") + col("nr") - coalesce(col("ni"), lit(0L))) >= threshold)
        .select("doc_id")
    }
    confirmed(idxPairs,
        involvedSh(corpus, idxPairs.select(col("other_id").as("doc_id")).distinct()))
      .union(confirmed(sibPairs,
        involvedSh(batch, sibPairs.select(col("other_id").as("doc_id")).distinct())))
      .distinct()
  }

  /** [[novelByMinhash]]'s PRECISION twin: suspects are verified with exact
    * 3-gram Jaccard against the specific documents they collided with, and
    * only confirmed near-dups (`jaccard >= threshold` — X2's semantics) are
    * dropped. A banding false positive (bucket collision between genuinely
    * different texts — the tiny novel-doc loss the recall-oriented gate
    * accepts by design) is ADMITTED instead of lost. Costs two extra
    * bounded passes over the involved docs' shingles (x2's candidate-scoped
    * shape; see [[confirmedSuspects]]).
    *
    * `corpus` must expose (doc_id, text) for every previously ADMITTED doc;
    * the sink-first crash contract guarantees the corpus contains every
    * indexed doc, so a confirmed index collision can always be re-verified.
    * Documented recall trade: a suspect is verified only against its
    * bucket-min batch sibling (the O(k)-not-O(k²) window check), so a
    * within-batch near-dup pair whose every shared bucket also holds an
    * unrelated lower doc can both be admitted — precision mode trades that
    * tail for never dropping novel docs at ingest.
    */
  def novelByMinhashVerified(
      spark: SparkSession,
      bucketIndexPath: String,
      batch: DataFrame,
      corpus: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    val (_, bands, _) = lshGate(spark, bucketIndexPath, batch)
    batch.join(
      bands.select("doc_id").distinct()
        .join(confirmedSuspects(spark, bucketIndexPath, batch, corpus, bands, threshold),
          Seq("doc_id"), "left_anti"),
      Seq("doc_id"), "left_semi")
  }

  /** Lane-estimate confirmation of the LSH gate's suspects — the ESTIMATE
    * mode's core ([[DedupQueries.x21MinhashEstimate]]'s Broder estimator
    * applied at the gate): a suspect is a confirmed near-dup when ≥
    * `minLanes` of its 24 minhash lanes equal a collided doc's. ZERO text
    * passes: index collisions compare against the lanes STORED IN the
    * bucket index (8 band rows × 3 lanes each, appended by
    * [[commitAdmitted]]), sibling collisions against the batch's own
    * banded-lane scratch. Both comparisons join the suspect's 8 band rows
    * to the other doc's 8 on band index — collision-set-bounded, never
    * quadratic.
    *
    * Conservative fallback: an index row that predates lane storage (l0 IS
    * NULL — written by the recall/precision modes before lanes existed)
    * cannot be judged, so the suspect is treated as CONFIRMED — degrading
    * to the recall gate's drop for that collision, never an
    * admit-by-ignorance that would let a near-dup in.
    */
  private def estimatedSuspects(
      spark: SparkSession,
      bucketIndexPath: String,
      bands: DataFrame,
      minLanes: Int): DataFrame = {
    import spark.implicits._
    // the "other" side is projected to renamed columns (oid/ob/r0..r2) so
    // the band-matched self-join below is structurally unambiguous
    def otherLanes(df: DataFrame, idCol: String): DataFrame =
      df.select(col(idCol).as("oid"), col("band").as("ob"),
        col("l0").as("r0"), col("l1").as("r1"), col("l2").as("r2"))
    val laneMatches =
      (col("s.l0") === col("r0")).cast("long") +
        (col("s.l1") === col("r1")).cast("long") +
        (col("s.l2") === col("r2")).cast("long")
    def confirmedOf(pairs: DataFrame, other: DataFrame, conservative: Boolean): DataFrame = {
      val scored = pairs
        .join(bands.as("s"), Seq("doc_id"))
        .join(other, col("other_id") === col("oid") && col("s.band") === col("ob"))
        .groupBy(col("doc_id"), col("other_id"))
        .agg(sum(laneMatches).as("ml"),
          // null lanes contribute neither match nor mismatch; they flag the
          // pair unjudgeable instead
          sum(col("r0").isNull.cast("long")).as("missing"))
      (if (conservative) scored.filter(col("missing") > 0 || col("ml") >= minLanes)
       else scored.filter(col("ml") >= minLanes))
        .select("doc_id").distinct()
    }
    val fs = new org.apache.hadoop.fs.Path(bucketIndexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idxConfirmed =
      if (!fs.exists(new org.apache.hadoop.fs.Path(bucketIndexPath)))
        Seq.empty[Long].toDF("doc_id")
      else {
        // lanes nullable by declaration: files written before the estimate
        // mode existed lack the columns and read as null (the conservative
        // branch above)
        val idx = spark.read.schema(
          "band BIGINT, bh BIGINT, canonical_id BIGINT, l0 BIGINT, l1 BIGINT, l2 BIGINT")
          .parquet(bucketIndexPath)
        val pairs = bands.select("doc_id", "band", "bh")
          .join(idx.select("band", "bh", "canonical_id"), Seq("band", "bh"))
          .select(col("doc_id"), col("canonical_id").as("other_id")).distinct()
        confirmedOf(pairs, otherLanes(idx, "canonical_id"), conservative = true)
      }
    val sibPairs = bands
      .withColumn("__min_id",
        min(col("doc_id")).over(Window.partitionBy(col("band"), col("bh"))))
      .filter(col("doc_id") > col("__min_id"))
      .select(col("doc_id"), col("__min_id").as("other_id")).distinct()
    val sibConfirmed =
      confirmedOf(sibPairs, otherLanes(bands, "doc_id"), conservative = false)
    idxConfirmed.union(sibConfirmed).distinct()
  }

  /** [[novelByMinhash]]'s ESTIMATE twin, completing the trio (recall drops
    * suspects, precision verifies them with exact Jaccard and one bounded
    * text pass, estimate verifies them with the Broder lane count and ZERO
    * text passes): suspects whose 24-lane match count against every
    * collided doc stays below `minLanes` (12 ⇔ est < 0.5) are ADMITTED —
    * banding false positives are rescued without reading any admitted
    * text, at the cost of 3 extra longs per index row. No `corpus`
    * argument: this is the mode for ingest paths where admitted text is
    * cold storage the gate must not touch.
    */
  def novelByMinhashEstimated(
      spark: SparkSession,
      bucketIndexPath: String,
      batch: DataFrame,
      minLanes: Int = 12): DataFrame = {
    val (_, bands, _) = lshGate(spark, bucketIndexPath, batch)
    batch.join(
      bands.select("doc_id").distinct()
        .join(estimatedSuspects(spark, bucketIndexPath, bands, minLanes),
          Seq("doc_id"), "left_anti"),
      Seq("doc_id"), "left_semi")
  }

  /** Corpus partitions: `doc_bucket = pmod(doc_id, CorpusBuckets)`. */
  private val CorpusBuckets = 16

  /** The corpus writer — the idempotent sink every admission loop persists
    * through, and the one owner of the corpus layout: a [[graft.etl.SnapshotLake]]
    * keyed on `doc_id` (last write wins, `doc_id` also the version),
    * partitioned by the derived `doc_bucket`. Each call with rows publishes
    * ONE manifest generation that rewrites only the buckets the batch
    * touches (all of them at worst), so a reader never sees the corpus
    * absent or half-written, and `readAt` at the previous generation is the
    * pre-admit corpus. Read it back with [[graft.etl.SnapshotLake.read]]; an
    * empty batch publishes nothing.
    */
  def mergeIntoCorpus(spark: SparkSession, corpusPath: String, docs: DataFrame): Unit =
    graft.etl.SnapshotLake.merge(spark, corpusPath,
      docs.withColumn("doc_bucket", pmod(col("doc_id"), lit(CorpusBuckets))),
      keys = Seq("doc_id"), versionCol = "doc_id", partitionCol = "doc_bucket")

  /** Admit the batch's content-novel documents: persist them through the
    * caller's idempotent sink, then append their hashes to the index —
    * returns the number admitted. Replaying the same batch after ANY crash
    * converges (see the crash contract above); replaying after success
    * admits 0.
    */
  def admitAndCommit(
      spark: SparkSession,
      indexPath: String,
      batch: DataFrame,
      persist: DataFrame => Unit): Long =
    // Two concurrent admitters would each see the other's batch as novel and
    // both append — the lease serializes them loudly ([[graft.etl.LakeLease]]);
    // the caller's sink takes its own lease on its own path (different file,
    // no deadlock).
    graft.etl.LakeLease.withLease(
      spark.sparkContext.hadoopConfiguration, indexPath) {
    // Materialize the admission decision ONCE (bounded: ≤ batch size): the
    // count, the sink, and the index append must see the SAME novel set —
    // a lazy plan would re-run the anti join three times, and the sink's
    // own writes could change what a re-evaluation returns.
    val (admitted, scratch) = DedupQueries.materializeWithPath(
      novel(spark, indexPath, batch), "admit")
    try {
      val admittedRows = admitted.count()
      if (admittedRows > 0L) {
        persist(admitted.drop("content_hash"))
        admitted.select(col("content_hash"), col("doc_id").as("canonical_id"))
          .write.mode("append").parquet(indexPath)
      }
      admittedRows
    } finally
      // the scratch is fully consumed by the time we return (count, sink and
      // index append all completed or threw) — delete it NOW so a standing
      // ingest loop doesn't accumulate one dir per micro-batch until JVM exit
      DedupQueries.deleteScratch(spark, scratch)
    }

  /** [[admitAndCommit]]'s fuzzy twin: gate on the LSH buckets, persist
    * through the caller's idempotent sink, then append the admitted docs'
    * band buckets to the bucket index. Same commit order, same crash
    * contract (sink first, blind index append second; replay-after-success
    * admits 0 — unshingleable docs are excluded by the gate precisely so
    * this holds). The batch's buckets are computed once (gate core) and
    * filtered for the append — no second shingle pass.
    */
  def admitAndCommitMinhash(
      spark: SparkSession,
      bucketIndexPath: String,
      batch: DataFrame,
      persist: DataFrame => Unit): Long =
    // serialized for the same reason as admitAndCommit (see there)
    graft.etl.LakeLease.withLease(
      spark.sparkContext.hadoopConfiguration, bucketIndexPath) {
      val (admittedIds, bands, bandsScratch) = lshGate(spark, bucketIndexPath, batch)
      commitAdmitted(spark, bucketIndexPath, batch, admittedIds, bands,
        bandsScratch, persist)
    }

  /** [[admitAndCommitMinhash]]'s PRECISION twin: gate on the LSH buckets but
    * drop only suspects whose exact Jaccard against a collided doc confirms
    * the near-dup ([[novelByMinhashVerified]]'s semantics) — then the same
    * sink-first commit order, crash contract, and per-doc-atomic bucket
    * append. Replay after success still admits 0: the admitted doc's own
    * buckets are now indexed and its corpus copy verifies at Jaccard 1.0.
    */
  def admitAndCommitMinhashVerified(
      spark: SparkSession,
      bucketIndexPath: String,
      batch: DataFrame,
      corpus: DataFrame,
      persist: DataFrame => Unit,
      threshold: Double = 0.8): Long =
    // serialized for the same reason as admitAndCommit (see there)
    graft.etl.LakeLease.withLease(
      spark.sparkContext.hadoopConfiguration, bucketIndexPath) {
      val (_, bands, bandsScratch) = lshGate(spark, bucketIndexPath, batch)
      val admittedIds = bands.select("doc_id").distinct()
        .join(confirmedSuspects(spark, bucketIndexPath, batch, corpus, bands, threshold),
          Seq("doc_id"), "left_anti")
      commitAdmitted(spark, bucketIndexPath, batch, admittedIds, bands,
        bandsScratch, persist)
    }

  /** [[admitAndCommitMinhash]]'s ESTIMATE twin
    * ([[novelByMinhashEstimated]]'s semantics): drop only suspects whose
    * lane-match count confirms the near-dup — then the same sink-first
    * commit order, crash contract, and per-doc-atomic bucket append (now
    * carrying lanes). Replay after success still admits 0: the admitted
    * doc's own buckets are indexed with its own lanes, and it matches
    * itself at 24/24 ≥ `minLanes`.
    */
  def admitAndCommitMinhashEstimated(
      spark: SparkSession,
      bucketIndexPath: String,
      batch: DataFrame,
      persist: DataFrame => Unit,
      minLanes: Int = 12): Long =
    // serialized for the same reason as admitAndCommit (see there)
    graft.etl.LakeLease.withLease(
      spark.sparkContext.hadoopConfiguration, bucketIndexPath) {
      val (_, bands, bandsScratch) = lshGate(spark, bucketIndexPath, batch)
      val admittedIds = bands.select("doc_id").distinct()
        .join(estimatedSuspects(spark, bucketIndexPath, bands, minLanes),
          Seq("doc_id"), "left_anti")
      commitAdmitted(spark, bucketIndexPath, batch, admittedIds, bands,
        bandsScratch, persist)
    }

  /** Shared commit tail of the two minhash admission modes: materialize the
    * admitted set once, sink first, then blind-append the admitted docs'
    * band buckets; eagerly delete both scratch dirs (fully consumed here).
    */
  private def commitAdmitted(
      spark: SparkSession,
      bucketIndexPath: String,
      batch: DataFrame,
      admittedIds: DataFrame,
      bands: DataFrame,
      bandsScratch: String,
      persist: DataFrame => Unit): Long = {
    val (admitted, scratch) = DedupQueries.materializeWithPath(
      batch.join(admittedIds, Seq("doc_id"), "left_semi"), "admit_lsh")
    try {
      val admittedRows = admitted.count()
      if (admittedRows > 0L) {
        persist(admitted)
        bands.join(admitted.select("doc_id"), Seq("doc_id"), "left_semi")
          // lanes ride along (3 longs per band row): the estimate gate
          // probes them pairwise instead of re-reading any admitted text
          .select(col("band"), col("bh"), col("doc_id").as("canonical_id"),
            col("l0"), col("l1"), col("l2"))
          // co-locate each doc's 8 band rows in ONE file so they commit
          // atomically (per-file rename): a crash mid-append can only leave a
          // doc fully indexed or fully absent — never half-indexed, which would
          // block its re-admission on replay while leaving the missing bands
          // unprobeable forever (a permanent recall hole)
          .repartition(col("canonical_id"))
          .write.mode("append").parquet(bucketIndexPath)
      }
      admittedRows
    } finally {
      // both scratch dirs are fully consumed by the time we return — delete
      // eagerly so a standing ingest loop doesn't accumulate per-batch dirs
      DedupQueries.deleteScratch(spark, scratch)
      DedupQueries.deleteScratch(spark, bandsScratch)
    }
  }
}
