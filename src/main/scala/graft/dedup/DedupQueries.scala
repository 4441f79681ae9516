package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators for the LLM-data-pipeline surface: exact
  * (hash-groupBy), MinHash+LSH near-dup (Broder, "On the resemblance and
  * containment of documents", 1997; banding per Leskovec/Rajaraman/Ullman,
  * Mining of Massive Datasets ch. 3), SimHash fingerprints (Charikar,
  * "Similarity estimation techniques from rounding algorithms", STOC 2002),
  * and inverted-index n-gram Jaccard. All are shuffle-on-key DataFrame plans —
  * the shapes that scale to 100 TB because nothing ever materializes an
  * all-pairs cross join: exact dedup shuffles by content hash, LSH shuffles
  * by (band, band_hash), and the Jaccard join shuffles by shingle.
  *
  * Cross-engine determinism: every hash is derived from md5 hex (identical
  * in Spark and DuckDB) reduced into 61-bit integer arithmetic mod P=1e9+7,
  * so the oracle runs the *same algorithm* in SQL.
  */
object DedupQueries {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  val P = 1000000007L
  val NumHashes = 24
  val BandRows = 3 // 8 bands × 3 rows

  /** Document-frequency cap for the inverted-index path (X4/X9): a shingle
    * present in more than this many documents is a corpus-scale stop phrase
    * and is dropped before candidate generation. Without the cap one hot
    * shingle shared by k docs emits k(k−1)/2 join rows — quadratic on
    * exactly the keys that are most common (standard near-dup practice is
    * to cap df; cf. MMDS ch. 3 shingle selection).
    */
  val MaxShingleDf = 100

  /** 60-bit integer from the first 15 hex chars of md5, mod P. */
  private def md5Mod(c: Column): Column =
    (conv(substring(md5(c), 1, 15), 16, 10).cast("long") % P).as("base")

  /** Spread a small input across the cluster before an explode-heavy
    * pipeline: a 1-file local table otherwise runs the whole narrow stage on
    * one core. No-op at scale (real inputs already have ≥ parallelism
    * files, and we never *reduce* partitioning here). The probe is
    * `inputFiles` — a driver-side file listing, NOT `df.rdd` (under AQE,
    * plan→RDD conversion can materialize shuffle stages at construction).
    *
    * Why a raw file COUNT is a sufficient probe: the only case it must
    * catch is few-big-files (a 1-file table pinning the stage to one core).
    * The converse many-small-files case needs no help from us — Spark's
    * split packing already targets default parallelism there
    * (`maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    * totalBytes / filesMinPartitionNum))`, with `filesMinPartitionNum`
    * defaulting to the session parallelism, and each file padded by
    * `openCostInBytes` — tiny files therefore spread to ~one per partition,
    * never coalesce onto a few cores).
    */
  private def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.inputFiles.length < p) df.repartition(p) else df
  }

  /** Materialize a *bounded* intermediate to scratch parquet and return a
    * reader over it — the leak-free alternative to cache(): a lazy-returning
    * library function has no scope to unpersist, but a scratch FILE has a
    * process-lifetime owner (deleted on JVM exit). Scratch lives under
    * `graft.scratchDir` (default: `<warehouse>/_graft_scratch`) so on a real
    * cluster it lands on SHARED storage — a java.io.tmpdir path would be
    * driver-local and unreadable from executors. Callers only pass
    * candidate-bounded frames here, or the fixed-width per-doc minhash
    * sketch (the admission index's own persisted shape, ~2 orders narrower
    * than the text whose repeated re-explosion it pins down) — never a
    * corpus-scale subtree like the shingle stream itself.
    *
    * Deliberate consequences, not bugs: (a) each call writes a fresh
    * UUID-named dir — eagerly deleting or overwriting a prior call's path
    * would corrupt any still-alive LAZY reader returned earlier (the
    * returned plan re-reads the files at every action), so superseded
    * scratch persists until JVM exit, bounded at #invocations ×
    * candidate-scale; (b) the write runs AT PLAN CONSTRUCTION (two bounded
    * jobs for x2) — the whole point is that downstream consumers see a
    * finished file instead of re-running the corpus explode, which is only
    * possible if the file exists before the plan is handed out.
    */
  private[graft] def materialize(df: DataFrame, tag: String): DataFrame =
    materializeWithPath(df, tag)._1

  /** [[materialize]] exposing the scratch path, for callers that fully
    * consume the reader within one call and can therefore delete eagerly
    * (via [[deleteScratch]]) instead of deferring to the shutdown hook —
    * the admission loop does this per batch so a standing ingest process
    * doesn't accumulate scratch for its whole lifetime.
    */
  private[dedup] def materializeWithPath(df: DataFrame, tag: String): (DataFrame, String) = {
    val s = df.sparkSession
    val base = s.conf.get("graft.scratchDir",
      s.conf.get("spark.sql.warehouse.dir") + "/_graft_scratch")
    val path = s"$base/${tag}_${java.util.UUID.randomUUID().toString.take(12)}"
    df.write.parquet(path)
    registerScratchCleanup(path, s.sparkContext.hadoopConfiguration)
    (s.read.parquet(path), path)
  }

  /** Eagerly delete one scratch dir returned by [[materializeWithPath]].
    * Caller contract: every reader over that path has been fully consumed —
    * a still-alive lazy plan over deleted scratch fails at its next action.
    */
  private[dedup] def deleteScratch(spark: SparkSession, path: String): Unit = {
    try {
      val hp = new org.apache.hadoop.fs.Path(path)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    } catch { case _: Throwable => () }
    val it = scratchPaths.iterator()
    while (it.hasNext) if (it.next()._1 == path) it.remove()
  }

  /** Epoch GC for the scratch area: delete every scratch dir registered by
    * this JVM whose files were last written more than `maxAgeMs` ago, and
    * return how many were removed. [[materialize]] defers deletion to JVM
    * exit because earlier LAZY readers may still be alive (each returned
    * plan re-reads its files per action); a long-lived session running many
    * x2/x4 queries therefore accumulates candidate-scale dirs. Callers
    * invoke this at an epoch boundary where they know no reader older than
    * `maxAgeMs` survives (e.g. between admission epochs, after results are
    * sunk). A dir deleted here is unregistered from the exit hook.
    */
  def gcScratch(spark: SparkSession, maxAgeMs: Long): Int = {
    val cutoff = System.currentTimeMillis() - maxAgeMs
    var removed = 0
    val it = scratchPaths.iterator()
    while (it.hasNext) {
      val (p, conf) = it.next()
      try {
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(conf)
        if (fs.exists(hp) && fs.getFileStatus(hp).getModificationTime < cutoff &&
          fs.listStatus(hp).forall(_.getModificationTime < cutoff)) {
          fs.delete(hp, true)
          it.remove()
          removed += 1
        } else if (!fs.exists(hp)) it.remove()
      } catch { case _: Throwable => () }
    }
    removed
  }

  private val scratchPaths = new java.util.concurrent.ConcurrentLinkedQueue[
    (String, org.apache.hadoop.conf.Configuration)]()
  private lazy val scratchHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      scratchPaths.forEach { case (p, conf) =>
        try {
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(conf).delete(hp, true)
        } catch { case _: Throwable => () }
      }
    }))
  private def registerScratchCleanup(
      path: String, conf: org.apache.hadoop.conf.Configuration): Unit = {
    scratchHook
    scratchPaths.add((path, conf))
  }

  /** Raw (doc_id, shingle) explode stream, duplicates included — the input
    * for consumers whose aggregation is duplicate-insensitive (the minhash
    * `min()` lanes): they skip the per-doc dedup EXCHANGE entirely, because
    * min over a multiset equals min over its support. Consumers that count
    * shingles (Jaccard sizes, df caps, shared-shingle counts) must use
    * [[shingles]]/[[cappedShingles]] instead.
    */
  private def rawShingles(docs: DataFrame, n: Int = 3): DataFrame =
    spread(docs)
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(1, size(ws) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(ws, i, $n)))")).as("shingle"))

  /** Distinct 3-gram word shingles per document: explode-based, so the
    * (doc, shingle) stream partitions by shingle for inverted-index joins.
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    rawShingles(docs, n).distinct()

  /** Shingles with corpus-common ones removed (df > maxDf), default in ONE
    * exchange: the raw stream is hash-partitioned by `shingle` up front,
    * which satisfies the (doc_id, shingle) dedup's clustered distribution
    * (same shingle ⇒ same partition), the df window's shingle partitioning,
    * AND the downstream inverted-index equi-join — so dedup, df cap and the
    * self-join all run on one exchange where the two-exchange shape paid a
    * (doc_id, shingle) distinct exchange and then a second shingle exchange
    * for the window. Skew class is unchanged: a hot shingle concentrated one
    * window partition before and does so now; the dedup aggregate and the
    * window both spill, never collect a per-key set.
    *
    * `oneExchange = false` restores the two-exchange shape — dedup FIRST on
    * (doc_id, shingle), then re-partition by shingle for the window. That
    * trades an extra exchange for shuffling the DEDUPED stream instead of
    * the raw explode bytes, which wins when the corpus is duplicate-heavy
    * relative to the shingle fan-out. Round-15 adjudication of the
    * round-14 10× watch: x11_containment reads >1.1× its 10× baseline
    * under the one-exchange shape (the raw bytes dominate on its high-dup
    * input), so x11 pins `oneExchange = false`; x4 and every LSH consumer
    * stay one-exchange (0.97–1.25× at 10×, within that pass's noise band).
    */
  def cappedShingles(docs: DataFrame, n: Int = 3, maxDf: Int = MaxShingleDf,
      oneExchange: Boolean = true): DataFrame = {
    val deduped =
      if (oneExchange)
        rawShingles(docs, n)
          .repartition(col("shingle"))
          .dropDuplicates("doc_id", "shingle")
      else shingles(docs, n)
    deduped
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("shingle"))))
      .filter(col("__df") <= maxDf)
      .drop("__df")
  }

  /** X1 — exact dedup via content hash: canonical doc per sha256(text)
    * group, plus the duplicate count. One hash-partitioned aggregate.
    */
  def x1ExactDedup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .select(col("canonical_id"), col("content_hash"), col("n_copies"))
      .orderBy("canonical_id")

  /** LSH band buckets per document — ONE definition shared by the X2 query
    * and the near-dup admission gate ([[IncrementalDedup.novelByMinhash]]):
    * same lane constants, same banding, so "near-dup" means the same thing
    * at query time and at ingest time.
    *
    * All 24 minhashes in ONE groupBy(doc_id) — 24 parallel min() aggregates
    * over the un-exploded shingle stream. The naive formulation (explode a
    * 0..23 sequence, shuffle (doc, shingle)×24 rows) moves 24× the data
    * through the exchange for identical results; this shape's map-side
    * partial mins reduce each partition to ≤ one row per doc before the
    * shuffle, which is what survives a 100 TB corpus. Band hashes are then
    * row-local (no extra shuffle), unpivoted to (doc_id, band, bh) rows for
    * bucket equi-joins.
    */
  def bandBuckets(sh: DataFrame): DataFrame = bandsOf(minhashes(sh))

  /** All 24 minhash lanes per document, wide (doc_id, m0..m23) — the ONE
    * groupBy(doc_id) shape documented on [[bandBuckets]]. Factored out so
    * the banding (X2/X18/X19 and the admission gate) and the lane-equality
    * estimator (X21) provably hash with the same lane constants — the
    * estimate and the banding can never drift.
    */
  private def minhashes(sh: DataFrame): DataFrame =
    sh.withColumn("base", md5Mod(col("shingle")))
      .groupBy(col("doc_id"))
      .agg(
        min((((lit(0L) * 2654435761L + 1) % P) * col("base") +
          (lit(0L) * 40503L + 17) % P) % P).as("m0"),
        (1 until NumHashes).map { k =>
          min((((lit(k.toLong) * 2654435761L + 1) % P) * col("base") +
            (lit(k.toLong) * 40503L + 17) % P) % P).as(s"m$k")
        }: _*)

  /** Band hashes from the wide minhash frame — row-local arithmetic (no
    * shuffle), unpivoted to (doc_id, band, bh) for bucket equi-joins.
    */
  private def bandsOf(minhash: DataFrame): DataFrame = {
    val bandWeights = Seq(1L, 8191L, 67092481L)
    val bandStructs = (0 until NumHashes / BandRows).map { b =>
      val terms = (0 until BandRows).map { r =>
        (col(s"m${b * BandRows + r}") * lit(bandWeights(r))) % P
      }
      // band is a LONG so the persistent bucket index's physical schema
      // matches its pinned BIGINT read schema exactly (an INT32 write would
      // only read back through parquet int->long widening — engine-specific)
      struct(lit(b.toLong).as("band"), (terms.reduce(_ + _) % P).as("bh"))
    }
    minhash
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Band buckets WITH the band's three lanes carried alongside —
    * (doc_id, band, bh, l0, l1, l2). The admission gate materializes this
    * shape so ONE bounded scratch serves bucket probing (project band/bh)
    * and lane-equality estimation (all 24 lanes recoverable as 8 bands ×
    * 3), and the bucket-index append can store lanes at zero extra passes
    * — the state the ESTIMATE gate ([[x22LshAdmissionEstimated]],
    * [[IncrementalDedup.novelByMinhashEstimated]]) probes instead of
    * re-reading any text.
    */
  private[dedup] def bandedLanes(sh: DataFrame): DataFrame = {
    val minhash = minhashes(sh)
    val bandWeights = Seq(1L, 8191L, 67092481L)
    val bandStructs = (0 until NumHashes / BandRows).map { b =>
      val lanes = (0 until BandRows).map(r => col(s"m${b * BandRows + r}"))
      val terms = (0 until BandRows).map { r =>
        (lanes(r) * lit(bandWeights(r))) % P
      }
      struct(lit(b.toLong).as("band"), (terms.reduce(_ + _) % P).as("bh"),
        lanes(0).as("l0"), lanes(1).as("l1"), lanes(2).as("l2"))
    }
    minhash
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"),
        col("bb.l0").as("l0"), col("bb.l1").as("l1"), col("bb.l2").as("l2"))
  }

  /** X2 — MinHash+LSH near-duplicate pairs, verified by exact Jaccard.
    *
    * shingle → 24 minhashes (universal hashing over a md5-derived base) →
    * 8 bands of 3 → bucket join on (band, band_hash) → candidate pairs →
    * exact 3-gram Jaccard ≥ 0.8. The only joins are equi-joins on band
    * buckets and shingles; candidate cardinality, not corpus², bounds cost.
    */
  def x2MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    // Corpus-scale passes over the shingle explode are the cost driver here
    // (cache() would leak — no unpersist scope in a lazy-returning library
    // function — and localCheckpoint is not plan-only-safe under AQE). This
    // shape holds the count to exactly TWO, both at construction time:
    // (1) the minhash pass, driven by materializing the LSH candidate
    // pairs (bounded output, tiny write); (2) the candidate semi-join
    // feeding a scratch copy of just the candidate docs' shingles. The
    // RETURNED plan reads only the two scratch files — re-running the
    // action re-reads bounded data, never the corpus. Materializing the
    // FULL shingle table instead would trade a corpus read for a
    // ~3×-corpus WRITE — strictly worse at 100 TB.
    val docs = t(s, dir, "documents")
    val sh = shingles(docs)
    // bands from the RAW explode stream (minhash min() lanes are
    // duplicate-insensitive — no per-doc distinct exchange), with the
    // corpus pass pinned to scratch once: the band self-join consumes the
    // frame on both sides and Spark does not reuse the exchange across
    // those subtrees, so unmaterialized the corpus explode + aggregate ran
    // twice (the Jaccard counts below keep distinct `sh`)
    val bands = bandsOf(materialize(minhashes(rawShingles(docs)), "x2_minhash"))
    // Corpus pass #1 happens here: candidate pairs are LSH-bounded (≪
    // corpus²), so materializing them is a tiny write that pins the minhash
    // work to one execution.
    val cand = materialize(
      bands.as("x")
        .join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct(),
      "x2_cand_pairs")
    // Corpus pass #2: shingles of candidate docs only (semi-join against the
    // materialized pair set), again bounded, again scratch-backed so BOTH
    // intersection-join sides and the size aggregate below read the small
    // file, not the corpus.
    val candDocs = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val shCand = materialize(sh.join(candDocs, "doc_id"), "x2_cand_shingles")
    val inter = cand
      .join(shCand.as("s1"), col("doc_a") === col("s1.doc_id"))
      .join(shCand.as("s2"),
        col("doc_b") === col("s2.doc_id") && col("s1.shingle") === col("s2.shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("ni"))
    // shCand holds EVERY shingle of each candidate doc, so the Jaccard
    // denominators come off the scratch file too; non-candidate docs can't
    // appear in `inter` and need no size.
    val sizes = shCand.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    inter
      .join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("ni").cast("double") / (col("na.n") + col("nb.n") - col("ni")))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy("doc_a", "doc_b")
  }

  /** jaccard = ni / (|a| + |b| - ni) given per-pair intersection sizes. */
  private def jaccardFromIntersections(inter: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    inter
      .join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("ni").cast("double") / (col("na.n") + col("nb.n") - col("ni")))
          .as("jaccard"))
  }

  /** X3 — 64-bit SimHash fingerprint per document, emitted as two 32-bit
    * halves (hi, lo) to stay inside signed-int64 arithmetic in both engines.
    * Token bit contributions come from md5 nibbles; the per-bit vote is an
    * order-independent grouped sum.
    */
  def x3Simhash(s: SparkSession, dir: String): DataFrame = {
    // One exchange for the whole fingerprint: hash-partitioning the raw
    // token stream by doc_id satisfies BOTH the (doc_id, tok) distinct's
    // clustered distribution (same doc ⇒ same partition) and the vote-sum
    // groupBy(doc_id) below — the earlier shape paid a (doc_id, tok)
    // distinct exchange and then a second doc_id exchange. Per-partition
    // volume is bounded by document length, the same bound the final
    // aggregate already carries.
    val tokens = spread(t(s, dir, "documents"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .repartition(col("doc_id"))
      .dropDuplicates("doc_id", "tok")
      .withColumn("hx", md5(col("tok")))
    // Bit b of the token hash lives in md5 nibble b/4 at position b%4. The
    // per-bit ±1 vote sum satisfies Σvotes = 2·(#tokens with bit set) − T,
    // so all 64 votes collapse into 64 parallel sum() aggregates + count()
    // in ONE groupBy(doc_id) — no 64-way row explosion, no
    // (doc, bit)-keyed shuffle of 64× the token stream. That blowup is the
    // difference between shuffling T rows and 64·T rows at corpus scale.
    // The 16 hex nibbles are parsed once per row into two longs (hex char at
    // 1-indexed position p holds bits 4·(15−p)..4·(15−p)+3 of the first
    // conv); every bit extraction after that is pure shift/mask arithmetic
    // instead of 64 string parses per row.
    val parsed = tokens
      .withColumn("n1", conv(substring(col("hx"), 1, 15), 16, 10).cast("long"))
      .withColumn("n2", conv(substring(col("hx"), 16, 1), 16, 10).cast("long"))
    val bitSums = (0 until 64).map { b =>
      val p = b / 4 + 1 // hex-string position of this bit's nibble
      val e =
        if (p <= 15) shiftright(col("n1"), 4 * (15 - p) + b % 4)
        else shiftright(col("n2"), b % 4)
      sum(e.bitwiseAND(lit(1L))).as(s"s$b")
    }
    def half(bits: Range, shiftBase: Int): Column =
      bits.map { b =>
        when(col(s"s$b") * 2 > col("tcount"), lit(1L << (b - shiftBase))).otherwise(lit(0L))
      }.reduce(_ + _)
    parsed
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("tcount"), bitSums: _*)
      .select(col("doc_id"),
        half(32 until 64, 32).as("simhash_hi"),
        half(0 until 32, 0).as("simhash_lo"))
      .orderBy("doc_id")
  }

  /** X20 — SimHash hamming near-dup pairs (Manku/Jain/Sarma, "Detecting
    * near-duplicates for web crawling", WWW 2007 — the fingerprint-dedup
    * design web-scale crawls actually run): every pair of documents whose
    * 64-bit SimHash fingerprints (X3's, shared) differ in at most `k` bits.
    * Blocking is the paper's pigeonhole split: 4 blocks of 16 bits — k ≤ 3
    * differing bits touch at most 3 blocks, so every qualifying pair shares
    * at least one block VERBATIM, making candidate generation an equi-join
    * on (block_idx, block_value), never corpus². The verify is
    * bit_count(xor) on the two 32-bit halves — pure integer codegen, exact
    * in both engines. This is the cheap-fingerprint alternative to X2 when
    * 24 minhash lanes per doc are too expensive: 8 bytes of state per doc,
    * one integer join-key family. At 100 TB a hot 16-bit block value (e.g.
    * a zero block from short docs) concentrates a bucket the same way a hot
    * LSH band does — AQE skew-join splits it; the distinct() before the
    * hamming filter keeps a pair that shares several blocks from being
    * verified more than once.
    */
  def x20SimhashPairs(s: SparkSession, dir: String, k: Int = 3): DataFrame =
    simhashPairsBlocked(x3Simhash(s, dir), k, nBlocks = 4)

  /** The X20 pair scan over an arbitrary (doc_id, simhash_hi, simhash_lo)
    * frame with a PARAMETERIZED pigeonhole split: `nBlocks` equal-width
    * blocks over the 64-bit fingerprint (nBlocks must divide 64 and exceed
    * `k` — k differing bits touch at most k blocks, so every qualifying
    * pair shares at least one block verbatim). The declared x20 runs the
    * paper's 4×16 split; the 10× scale gate re-derives the same pairs
    * through an INDEPENDENT 8×8 split (different join keys, different
    * candidate sets, same exactness guarantee) — two blockings agreeing is
    * a correctness proof no single blocking can fake.
    */
  def simhashPairsBlocked(fp: DataFrame, k: Int, nBlocks: Int): DataFrame = {
    // nBlocks >= 2 keeps the block width w <= 32: nBlocks=1 would make
    // perHalf=0 (division by zero in the shift math) and w=64 would
    // overflow 1L << w back to 1
    require(64 % nBlocks == 0 && nBlocks >= 2 && nBlocks > k,
      s"pigeonhole blocking needs nBlocks | 64, nBlocks >= 2 and nBlocks > k, " +
        s"got nBlocks=$nBlocks k=$k")
    val w = 64 / nBlocks
    val perHalf = 32 / w // blocks per 32-bit half (hi/lo are non-negative)
    val parts = (0 until nBlocks).map { b =>
      val src = if (b < perHalf) "simhash_lo" else "simhash_hi"
      val shift = (b % perHalf) * w
      s"named_struct('b', ${b}L, 'v', ($src div ${1L << shift}L) % ${1L << w}L)"
    }
    val blocks = fp.select(col("doc_id"), col("simhash_hi"), col("simhash_lo"),
      explode(expr(s"array(${parts.mkString(", ")})")).as("blk"))
      .select(col("doc_id"), col("simhash_hi"), col("simhash_lo"),
        col("blk.b").as("b"), col("blk.v").as("v"))
    // Verify BEFORE deduplicating: the hamming check is row-local integer
    // codegen, so running it on the raw join output (a pair appears once
    // per shared block, ≤ 4×) costs nothing extra per row, while the
    // distinct then shuffles only the ≤-k survivors (result-scale, 3
    // columns) instead of the full candidate set (6 long columns). At 10×
    // replica scale that's the difference between exchanging every blocked
    // candidate and exchanging the answer.
    blocks.as("x").join(blocks.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("CAST(bit_count(x.simhash_hi ^ y.simhash_hi) + " +
          "bit_count(x.simhash_lo ^ y.simhash_lo) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= k)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** X21 — minhash-only Jaccard estimation for the LSH candidate pairs:
    * est = (matching lanes)/24, the Broder (1997) estimator. This is the
    * 100 TB fallback when even X2's candidate-scoped exact verify is too
    * expensive: the estimate needs NO second corpus pass — the wide minhash
    * frame (doc-scale: 25 columns × one row per doc, ≪ the shingle stream)
    * is materialized ONCE and serves both the banding and the per-pair lane
    * comparison, so the shingle explode is read exactly once. Banded
    * candidates + integer lane equality ⇒ exact in both engines; X2's
    * verified pairs are by construction a subset of these candidates
    * (spec-pinned).
    */
  def x21MinhashEstimate(s: SparkSession, dir: String): DataFrame = {
    // raw explode stream: min() lanes are duplicate-insensitive (see
    // [[rawShingles]]) — the distinct exchange would be pure overhead
    val mh = materialize(minhashes(rawShingles(t(s, dir, "documents"))), "x21_minhash")
    val bands = bandsOf(mh)
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val matches = (0 until NumHashes)
      .map(i => when(col(s"a.m$i") === col(s"b.m$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    cand
      .join(mh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(mh.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"), matches.as("matching_lanes"))
      .withColumn("est_jaccard", col("matching_lanes").cast("double") / NumHashes)
      .orderBy("doc_a", "doc_b")
  }

  /** X4 — inverted-index n-gram Jaccard near-dup: all pairs sharing at
    * least one shingle (the shingle equi-join bounds candidates), exact
    * Jaccard ≥ 0.5. No LSH approximation — this is the exhaustive-but-
    * indexed path; X2 is the sub-linear path.
    */
  def x4NgramJaccard(s: SparkSession, dir: String): DataFrame =
    x4Pairs(t(s, dir, "documents"))

  /** X4 core over an arbitrary documents frame (doc_id, text). Similarity is
    * Jaccard over the df-capped shingle universe — dropping stop-phrase
    * shingles from both the index AND the denominator keeps the metric
    * coherent (it measures overlap of *informative* shingles), and the
    * oracle mirrors the same cap.
    */
  def x4Pairs(
      docs: DataFrame,
      threshold: Double = 0.5,
      maxDf: Int = MaxShingleDf): DataFrame = {
    // Not persisted — see x2MinhashLsh (ReuseExchange covers the reuse).
    val sh = cappedShingles(docs, 3, maxDf)
    jaccardFromIntersections(intersections(sh), sh)
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** Per-pair shared-shingle counts straight off the inverted-index
    * self-join: one row per shared shingle, grouped in the same pass — no
    * pairs.distinct() + double re-join against the shingle table (3 shuffles
    * saved; the candidate set never materializes twice). Shared by the X4
    * Jaccard and X11 containment paths so their candidate semantics can't
    * silently diverge.
    */
  private def intersections(sh: DataFrame): DataFrame =
    sh.as("s1")
      .join(sh.as("s2"),
        col("s1.shingle") === col("s2.shingle") && col("s1.doc_id") < col("s2.doc_id"))
      .groupBy(col("s1.doc_id").as("doc_a"), col("s2.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("ni"))

  /** X11 — asymmetric shingle containment (Broder 1997's second resemblance
    * measure): containment(A in B) = |A∩B| / |A|. Catches the
    * doc-is-a-subset-of-doc cases (quotes, snippets, re-posts with added
    * boilerplate) that symmetric Jaccard dilutes below threshold when the
    * containing doc is much larger. Same capped inverted index and
    * single-pass intersection counting as X4 — one extra projection, no new
    * shuffle shape.
    */
  def x11Containment(s: SparkSession, dir: String): DataFrame =
    x11Pairs(t(s, dir, "documents"))

  def x11Pairs(
      docs: DataFrame,
      threshold: Double = 0.8,
      maxDf: Int = MaxShingleDf): DataFrame = {
    // Not persisted — see x2MinhashLsh (ReuseExchange covers the reuse).
    // oneExchange = false: the round-14 10× watch, adjudicated round 15 —
    // see cappedShingles' scaladoc.
    val sh = cappedShingles(docs, 3, maxDf, oneExchange = false)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    intersections(sh)
      .join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("ni").cast("double") / col("na.n")).as("containment_a_in_b"),
        (col("ni").cast("double") / col("nb.n")).as("containment_b_in_a"))
      .filter(greatest(col("containment_a_in_b"), col("containment_b_in_a")) >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** X9 — near-dup clusters via connected components over the X4 pair graph:
    * every document gets `cluster_id` = the smallest doc_id reachable through
    * near-duplicate edges (singletons map to themselves). This is the
    * canonical-representative step a real dedup pipeline runs after pair
    * generation: keep one doc per cluster, drop the rest.
    *
    * Implementation is iterative label propagation (each round: label :=
    * min(label, neighbors' labels)) — the standard large-scale connected
    * components. Rounds needed = graph diameter in hops (near-dup clusters
    * are shallow; the driver loop exits as soon as a round changes nothing,
    * checked with one tiny aggregate per round). Each round is one
    * equi-join + one groupBy — all shuffle-on-key, nothing corpus².
    */
  def x9DedupClusters(s: SparkSession, dir: String): DataFrame =
    x9ClustersFrom(
      t(s, dir, "documents"),
      x4NgramJaccard(s, dir).select(col("doc_a"), col("doc_b")))

  /** X9 core over an arbitrary (docs, pairs) edge source — the composition
    * seam that lets a corpus-scale pipeline feed the clustering from X2's
    * sub-linear LSH pairs instead of X4's exhaustive inverted index (the
    * default above, kept for the oracle's recursive-CTE parity). Any frame
    * with (doc_a, doc_b) columns works; DedupSpec runs the x2-pairs→clusters
    * composition and checks it against a driver-side union-find.
    */
  def x9ClustersFrom(docs: DataFrame, pairs: DataFrame): DataFrame =
    x9LabelsFrom(docs, pairs).orderBy("doc_id")

  /** [[x9ClustersFrom]] minus the presentation `orderBy` — the fold path
    * consumes the label table as a JOIN INPUT (three times over), where a
    * returned global sort is pure waste re-paid per consumer evaluation
    * (range exchange + sort each time). Declared-query callers keep the
    * sorted face above.
    */
  private def x9LabelsFrom(docs: DataFrame, pairs: DataFrame): DataFrame = {
    // undirected edge list, both directions — checkpointed PRE-PARTITIONED
    // on the probe key (and labels on doc_id), so every round's neighbor
    // join streams both checkpointed layouts without re-exchanging them:
    // the only per-round shuffle left is the groupBy(doc_a) aggregate
    // (whose hash(doc_id) output in turn lines up with the labels side of
    // the left join). localCheckpoint preserves outputPartitioning, so the
    // alignment survives the round boundary.
    val edges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .repartition(col("doc_b"))
      .localCheckpoint()
    var labels = docs
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
      .repartition(col("doc_id"))
      .localCheckpoint()
    // One propagation HOP: label := min(label, neighbor labels), plus the
    // per-row changed flag (a label changes iff a neighbor label undercuts
    // it, i.e. n_min < cluster_id) riding the same pass, so the convergence
    // probe is one map-side aggregate over the checkpointed frame — the
    // round-13 formulation re-JOINED next against labels on doc_id every
    // round (a full extra corpus exchange per round for one boolean).
    // Partition alignment survives the hop: the groupBy(doc_a) emits
    // hash(doc_id), the left join keeps it, and the rename to doc_b on the
    // next hop's probe side matches the edges checkpoint's hash(doc_b) —
    // so chaining hops adds joins but no exchanges.
    def hop(ls: DataFrame): DataFrame = {
      val viaNeighbors = edges
        .join(ls.select(col("doc_id").as("doc_b"), col("cluster_id")), Seq("doc_b"))
        .groupBy(col("doc_a").as("doc_id"))
        .agg(min(col("cluster_id")).as("n_min"))
      ls.join(viaNeighbors, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("n_min"), col("cluster_id")))
            .as("cluster_id"),
          (col("n_min") < col("cluster_id")).as("__chg"))
    }
    var converged = false
    var rounds = 0
    while (!converged && rounds < 20) {
      // TWO hops fused per materialized round (round-14 verdict item 1: the
      // per-round fixed cost — checkpoint job + probe job — dominated the
      // contracted-graph CC, whose data is batch-bounded). Min-label
      // propagation is monotone and idempotent at the fixpoint, so running
      // a second hop before checkpointing never changes the limit, and
      // convergence is decided by the SECOND hop alone: hop2 changing
      // nothing means hop(hop1) = hop1, the fixpoint. Each round is one
      // materialize job + one probe job for two hops of progress.
      val next = hop(hop(labels).drop("__chg"))
        .localCheckpoint() // truncate lineage so plans stay constant-size
      val changed = next.agg(sum(when(col("__chg"), 1L).otherwise(0L))).head()
      converged = changed.isNullAt(0) || changed.getLong(0) == 0L
      labels = next.drop("__chg")
      rounds += 1
    }
    // The 20-round (40-hop) cap is a backstop for pathological chain-shaped
    // graphs (near-dup clusters are shallow in practice). Exiting through it
    // means the labels are NOT the true transitive closure — fail loudly
    // rather than return silently-wrong cluster_ids.
    if (!converged)
      throw new IllegalStateException(
        s"x9ClustersFrom: label propagation did not converge in $rounds rounds " +
          "(duplicate-chain diameter exceeds the cap); raise the round cap")
    labels
  }

  /** X9b — the SAME connected components as [[x9ClustersFrom]] via
    * alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond"): each round, every node hooks
    * its larger neighbors (large-star) then its smaller neighborhood
    * (small-star) directly onto its neighborhood minimum, roughly halving
    * pointer depth — convergence in O(log² n) rounds worst case vs min-
    * label propagation's O(diameter). At 100 TB a duplicate CHAIN (doc A
    * near-dups B near-dups C ... — common in scraped mirror families)
    * makes diameter-bound propagation walk the whole chain one shuffle
    * per hop; alt-star collapses it logarithmically (DedupSpec proves a
    * 300-link chain converges here and exceeds x9's round cap). Each
    * phase is one keyed aggregate + one join — the same per-round cost as
    * a propagation step; the win is the ROUND COUNT.
    *
    * Convergence probe: the fixpoint test compares the round's edge SET to
    * the previous round's by (count, Σ xxhash64(u,v), Σ xxhash64(v,u)) —
    * one scan-light aggregate over the just-checkpointed frame, no
    * shuffle. The earlier formulation ran TWO `exceptAll` jobs per round
    * (each a full shuffle of both edge sets), which at O(log² n) rounds
    * cost about as much as the algorithm itself. Both frames are
    * `distinct()` canonical (u > v) sets, so set equality ⟺ multiset
    * equality, and the two independent 64-bit hash lanes + the count make
    * a false "converged" a ~2⁻¹²⁸ event — and even that is caught, because
    * the final label join is built from the edges themselves, and DedupSpec
    * replays equality against x9. Hash sums accumulate in decimal(38,0):
    * order-insensitive, overflow-free under ANSI.
    */
  def x9bClustersAltStar(docs: DataFrame, pairs: DataFrame): DataFrame = {
    // canonical undirected edge set, (hi, lo) with hi > lo
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    def sig(df: DataFrame): (Long, BigDecimal, BigDecimal) = {
      val r = df.agg(
        count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
        sum(xxhash64(col("v"), col("u")).cast("decimal(38,0)"))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)),
        if (r.isNullAt(2)) BigDecimal(0) else BigDecimal(r.getDecimal(2)))
    }
    var edgeSig = sig(edges)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 25) {
      // large-star over the SYMMETRIZED view: for each center u, hook every
      // LARGER neighbor v onto m = min(N(u) ∪ {u}). One repartition(u) up
      // front aligns the groupBy AND the self-join on the same exchange
      // (ClusteredDistribution(u) serves both); the phase results are then
      // checkpointed pre-partitioned on u via dropDuplicates-after-
      // repartition, so the small-star phase and the next round's
      // consumers add no exchange of their own — the earlier shape paid
      // separate exchanges for each groupBy, join and distinct.
      val sym = edges
        .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u"))
      val lsMin = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val afterLarge = sym.join(lsMin, Seq("u"))
        .filter(col("v") > col("u") && col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .repartition(col("u")).dropDuplicates("u", "v").localCheckpoint()
      // small-star over the directed (hi → lo) view: hook u and all its
      // smaller neighbors onto the smallest of them
      val ssMin = afterLarge.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = afterLarge.join(ssMin, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(ssMin.select(col("u"), col("m").as("v")))
        .repartition(col("u")).dropDuplicates("u", "v").localCheckpoint()
      val nextSig = sig(next)
      converged = nextSig == edgeSig
      edges = next
      edgeSig = nextSig
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"x9bClustersAltStar: did not converge in $rounds rounds")
    // At the fixpoint every edge points a node at its component minimum.
    docs.select(col("doc_id"))
      .join(edges.groupBy(col("u").as("doc_id")).agg(min(col("v")).as("root")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("cluster_id"))
      .orderBy("doc_id")
  }

  /** X9b over the default (docs, X4 pairs) source — same semantics and
    * oracle as `x9_dedup_clusters`, different convergence class.
    */
  def x9bDedupClustersAltStar(s: SparkSession, dir: String): DataFrame =
    x9bClustersAltStar(
      t(s, dir, "documents"),
      x4NgramJaccard(s, dir).select(col("doc_a"), col("doc_b")))

  /** X9c — INCREMENTAL maintenance of x9's cluster labels: fold a batch of
    * new documents + new near-dup edges into an existing label table
    * WITHOUT re-running connected components over the corpus. The trick is
    * CLUSTER CONTRACTION: existing clusters are internally connected by
    * construction, so the exact components of (old graph ∪ new edges) are
    * computable on the graph whose nodes are current LABELS and whose
    * edges are the new pairs with endpoints resolved to labels — a
    * batch-bounded graph (new docs + touched clusters), never the corpus.
    * CC runs on that contracted graph only; the corpus-sized label table
    * is then relabeled through ONE broadcast map-only join (the mapping is
    * batch-bounded by the same argument). The label table is NEVER
    * shuffled: endpoint resolution broadcasts the batch edges over a
    * streamed label scan (twice), and the relabel broadcasts the mapping —
    * three map-only corpus passes total, zero corpus exchanges. Per-fold
    * cost: O(batch + touched clusters) for the CC + those streaming
    * passes — the e12/t19/Scd2 MV discipline applied to graph clustering.
    * (With a partition-keyed label store, [[graft.etl.SnapshotLake.merge]]
    * turns even that pass into a touched-partition merge.)
    *
    * Contract: every edge endpoint is either already labeled or in
    * `newDocs` (the admission pipeline guarantees this — pairs are
    * discovered by probing the batch against the indexed corpus, x18's
    * model); edges to unknown docs are dropped by the resolve join.
    * Law (DedupSpec): any batch grouping folds to exactly
    * [[x9ClustersFrom]] over the full edge set.
    */
  def x9cFoldClusters(
      labels: DataFrame, newDocs: DataFrame, newPairs: DataFrame): DataFrame = {
    val all = labels.select(col("doc_id"), col("cluster_id")).unionByName(
      newDocs.select(col("doc_id"), col("doc_id").as("cluster_id")))
    // Resolve edge endpoints to labels with the EDGES broadcast and the
    // corpus label table STREAMED: each pass is map-only over the labels
    // (no corpus shuffle — the naive direction would hash-exchange the
    // whole label table to look up a batch of edges). Outputs are
    // batch-sized, so the second resolve broadcasts the first's result.
    // (Round-15 probe, recorded in OPTIMIZATION_r15.md: melting the edges
    // to (edge, endpoint) and resolving both ends through ONE corpus pass
    // + a batch groupBy measured the FOLD 2.7 → 5.9 s at sf0.1 — the
    // contracted frame is re-evaluated by every CC consumer, and the added
    // groupBy+distinct exchanges per re-evaluation cost more than the
    // saved broadcast probe — so the two-pass map-only shape stays.)
    val halfA = all.join(broadcast(newPairs.select(col("doc_a"), col("doc_b"))),
        col("doc_id") === col("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("cluster_id").as("la"))
    // Checkpoint the batch-bounded contracted edge set ONCE: the CC below
    // consumes it four times (edge symmetrization + both touched-node
    // branches), and each un-materialized re-evaluation re-ran BOTH corpus
    // resolve passes and the distinct exchange (round-15 measurement:
    // fold 5.9 → 1.6 s at sf0.1 from this checkpoint + the orderBy-free
    // label core + the two-hop loop, vs the round-14 shape's 2.7 s).
    val contracted = all.join(broadcast(halfA), col("doc_id") === col("doc_b"))
      .select(col("la"), col("cluster_id").as("lb"))
      .filter(col("la") =!= col("lb"))
      .select(col("la").as("doc_a"), col("lb").as("doc_b"))
      .distinct()
      .localCheckpoint()
    val touched = contracted.select(col("doc_a").as("doc_id"))
      .unionByName(contracted.select(col("doc_b").as("doc_id"))).distinct()
    val mapping = x9LabelsFrom(touched, contracted)
      .select(col("doc_id").as("old_label"), col("cluster_id").as("new_label"))
    all.join(broadcast(mapping), col("cluster_id") === col("old_label"), "left")
      .select(col("doc_id"),
        coalesce(col("new_label"), col("cluster_id")).as("cluster_id"))
  }

  /** X9c over the default corpus, staged as two admission batches (even
    * doc_ids first, odd second — an edge arrives with its LAST endpoint,
    * the admission model's timing): fold(build(b1), b2) must equal the
    * full x9 recompute, so the oracle is x9's verbatim.
    */
  def x9cIncrementalClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // The pair set is consumed three times (even-pair base edges, odd-pair
    // fold edges through two broadcast resolves) — materialize the bounded
    // result once so the corpus-scale shingle self-join behind x4 runs ONE
    // time instead of once per consumer (the x2 scratch pattern).
    val pairs = materialize(
      x4Pairs(docs).select(col("doc_a"), col("doc_b")), "x9c_pairs")
    val even = col("doc_id") % 2 === 0
    val bothEven = col("doc_a") % 2 === 0 && col("doc_b") % 2 === 0
    // Unsorted label core: the fold consumes `base` as a join input three
    // times, and x9ClustersFrom's presentation orderBy would re-pay a
    // corpus range-sort on every one of those evaluations.
    val base = x9LabelsFrom(docs.filter(even), pairs.filter(bothEven))
    x9cFoldClusters(base, docs.filter(!even), pairs.filter(!bothEven))
      .orderBy("doc_id")
  }

  /** X12 — eval-set contamination check: which corpus documents share ≥ K
    * 3-gram shingles with any document of a designated evaluation set. This
    * is the decontamination pass every training-data pipeline runs before a
    * model sees the corpus. The scale shape is the point: a real eval set
    * is a FIXED benchmark suite whose size is independent of the corpus, so
    * its shingles BROADCAST and the 100 TB corpus side streams map-only
    * through the join — no corpus shuffle at all until the final doc-keyed
    * count. The stand-in here is bounded by construction
    * (`doc_id % 20 == 0 AND doc_id <= 10000` ⇒ ≤ 500 docs at ANY corpus
    * size) — the forced broadcast() is safe because the build side cannot
    * grow with the data; an unbounded eval set must drop the hint instead.
    */
  /** Eval-set membership, shared by X12 and C4 so the contamination set and
    * the exclusion filter can never silently diverge (a drifted pair would
    * leak eval docs into the training mix with no error).
    */
  private[dedup] val isEval: Column =
    col("doc_id") % 20 === 0 && col("doc_id") <= 10000

  def x12Contamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val evalSh = shingles(docs.filter(isEval))
      .withColumnRenamed("doc_id", "eval_id")
    // ONE exchange on the corpus side: hash-partitioning the raw explode
    // stream by doc_id satisfies both the (doc_id, shingle) dedup and the
    // (doc_id, eval_id) count below (same doc ⇒ same partition), where the
    // earlier shape paid a (doc_id, shingle) distinct exchange AND a
    // (doc_id, eval_id) aggregate exchange. The broadcast join in between
    // is map-only either way.
    val corpusSh = rawShingles(docs.filter(!isEval))
      .repartition(col("doc_id"))
      .dropDuplicates("doc_id", "shingle")
    corpusSh
      .join(broadcast(evalSh), "shingle")
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("shared_shingles"))
      .filter(col("shared_shingles") >= 5)
      .orderBy("doc_id", "eval_id")
  }

  /** C3 — the composed training-mix pipeline, end to end: near-dup CLUSTER
    * dedup (keep each X9 cluster's representative), quality filter (C1's
    * blended score), deterministic per-language stratified sampling (C2's
    * hash-mod rates), and the final mix report — documents and whitespace
    * tokens per (lang, source) stratum. This is the query a data-curation
    * run actually ships: every stage is one of the already-proven operators,
    * composed into a single lazy plan + the X9 iterative labels.
    */
  def c3CorpusBlend(s: SparkSession, dir: String): DataFrame =
    c3CorpusBlendFrom(
      t(s, dir, "documents"),
      x9DedupClusters(s, dir)
        .filter(col("doc_id") === col("cluster_id")).select("doc_id"))

  /** C3 core over an arbitrary representative set (any frame with a
    * `doc_id` column) — the composition seam in the `x9ClustersFrom` /
    * `x17NoveltyFrom` / `e7CorrelationFrom` pattern. The DECLARED query
    * above keeps X9-over-X4 exhaustive edges for the recursive-CTE oracle's
    * parity; at corpus scale production feeds reps from the sub-linear LSH
    * pipeline instead ([[c3CorpusBlendLsh]]). Edge-source containment gives
    * a provable relation between the two blends: LSH pairs ⊆ exhaustive
    * pairs ⇒ LSH clusters are FINER ⇒ every exhaustive cluster's minimum is
    * still the minimum of its LSH subcluster ⇒ exhaustive reps ⊆ LSH reps
    * ⇒ each (lang, source) stratum of the exhaustive blend is bounded above
    * by the LSH blend's — DedupSpec pins the rep containment, the
    * per-stratum bound, and declared-query ≡ seam-with-default-reps.
    */
  def c3CorpusBlendFrom(docs: DataFrame, reps: DataFrame): DataFrame = {
    import graft.queries.CoreQueries.{qualityScoreExpr, samplePctExpr, sampleRateExpr}
    docs
      .join(reps.select("doc_id"), "doc_id")
      .withColumn("toks", split(col("text"), " "))
      // the SAME expressions C1/C2 declare — shared so the composed pipeline
      // cannot silently diverge from the stages it claims to compose
      .withColumn("quality_score", qualityScoreExpr)
      .filter(col("quality_score") >= 0.6)
      .filter(samplePctExpr < sampleRateExpr)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("toks")).cast("long")).as("total_ws_tokens"))
      .orderBy("lang", "source")
  }

  /** The production default of C3 at corpus scale: cluster representatives
    * from X2's LSH pairs through the [[x9ClustersFrom]] seam — every stage
    * sub-linear (banded bucket join, label propagation, one rep semi-join),
    * where the declared query's X4 edge source is an exhaustive
    * inverted-index pass kept for oracle parity.
    */
  def c3CorpusBlendLsh(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    c3CorpusBlendFrom(
      docs,
      x9ClustersFrom(docs, x2MinhashLsh(s, dir).select(col("doc_a"), col("doc_b")))
        .filter(col("doc_id") === col("cluster_id")).select("doc_id"))
  }

  /** C4 — the decontaminated training mix: C3's composed pipeline with the
    * X12 contamination pass wired in before quality/sampling — representatives
    * that share ≥ K shingles with any eval-set document are dropped, and the
    * eval documents themselves never enter the mix. This is the blend a
    * benchmark-honest pipeline actually ships: dedup THEN decontaminate THEN
    * curate. Composition cost at scale: X12's corpus side is map-only
    * against broadcast eval shingles, and the exclusion is one left-anti
    * hash join on doc_id — nothing new shuffles the corpus.
    */
  def c4DecontaminatedBlend(s: SparkSession, dir: String): DataFrame = {
    import graft.queries.CoreQueries.{qualityScoreExpr, samplePctExpr, sampleRateExpr}
    val docs = t(s, dir, "documents")
    val contaminated = x12Contamination(s, dir).select(col("doc_id")).distinct()
    val reps = x9DedupClusters(s, dir)
      .filter(col("doc_id") === col("cluster_id")).select("doc_id")
    docs
      .join(reps, "doc_id")
      .filter(!isEval)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("quality_score", qualityScoreExpr)
      .filter(col("quality_score") >= 0.6)
      .filter(samplePctExpr < sampleRateExpr)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("toks")).cast("long")).as("total_ws_tokens"))
      .orderBy("lang", "source")
  }

  /** C11 — cluster SURVIVORSHIP policy: which member of each duplicate
    * cluster survives into the training mix. x9/c3 keep the MIN-ID member
    * (the label itself) — cheap but arbitrary; the record-linkage
    * survivorship answer is to keep the BEST member, here by t2's quality
    * score with doc_id as the deterministic tiebreak. One cluster-keyed
    * aggregate after the labels: `max_by(doc_id, struct(score, -doc_id))`
    * picks the survivor without a window sort (the oracle states the
    * row_number formulation), and quality is a per-row projection, so the
    * whole policy adds zero corpus-scale shuffles beyond x9's own.
    * Deterministic across engines because the score arithmetic is the
    * oracle-matched t2 expression (identical doubles) and ties are
    * impossible once doc_id joins the comparison key.
    */
  def c11Survivorship(s: SparkSession, dir: String): DataFrame = {
    import graft.queries.CoreQueries.qualityScoreExpr
    val clusters = x9DedupClusters(s, dir)
    val scored = t(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), qualityScoreExpr.as("quality_score"))
    clusters.join(scored, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        expr("max_by(doc_id, struct(quality_score, -doc_id))").as("survivor"),
        count(lit(1)).as("n_members"),
        round(max(col("quality_score")), 4).as("best_score"))
      .orderBy("cluster_id")
  }

  /** X10 — per-source duplication telemetry: corpus curation's dashboard
    * numbers (docs, distinct contents, dup ratio per source). Two stacked
    * aggregates, both shuffle-on-key.
    */
  def x10SourceDedupStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("source"), sha2(col("text"), 256).as("h"))
      .agg(count(lit(1)).as("copies"))
      .groupBy(col("source"))
      .agg(
        sum(col("copies")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        (lit(1.0) - count(lit(1)).cast("double") / sum(col("copies")))
          .as("dup_ratio"))
      .orderBy("source")

  /** X15 — duplicated-span coverage: the n-gram approximation of
    * exact-substring dedup (Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better" — the ExactSubstr pass, which their
    * suffix-array implementation makes single-node-bound). For every
    * document: the fraction of its tokens covered by an 8-token span that
    * also appears in at least one OTHER document. High coverage = the doc is
    * largely stitched from corpus-repeated material (boilerplate, templates,
    * quotation farms) even when no whole-doc near-dup fires.
    *
    * Scale shape — everything is linear in corpus size, nothing is pairwise:
    * span explode (~n_tok rows/doc), a span-keyed distinct-doc count
    * (map-side partials absorb repeats), a semi-join flagging duplicated
    * spans, and a doc-keyed distinct-position count for the interval union.
    * A span shared by M documents costs M rows, never M² — which is exactly
    * why span-granular coverage scales where pairwise substring comparison
    * cannot.
    */
  def x15DupSpanCoverage(s: SparkSession, dir: String, spanLen: Int = 8): DataFrame = {
    val docs = t(s, dir, "documents").withColumn("ws", split(col("text"), " "))
    val base = docs.select(col("doc_id"), size(col("ws")).cast("long").as("n_tok"))
    val spans = docs
      .filter(size(col("ws")) >= spanLen)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(ws) - $spanLen), i -> concat_ws(' ', slice(ws, i + 1, $spanLen)))")))
      .toDF("doc_id", "pos", "span")
    val dupSpans = spans
      .groupBy(col("span"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select("span")
    val covered = spans.join(dupSpans, "span")
      .select(col("doc_id"), explode(expr(s"sequence(pos, pos + ${spanLen - 1})")).as("p"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_tok"))
    base.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_dup_tok"), lit(0L)).as("n_dup_tok"),
        (coalesce(col("n_dup_tok"), lit(0L)).cast("double") / col("n_tok"))
          .as("dup_coverage"))
      .orderBy("doc_id")
  }

  /** Distinct md5 digests of `spanLen`-token spans per `keyCol` — the
    * shared shingling used by X16 and X17 (ONE definition, so tokenization
    * or digest changes cannot silently diverge between them). Digests, not
    * raw spans: the downstream exchanges carry fixed-width keys.
    */
  private def spanDigests(docs: DataFrame, keyCol: String, spanLen: Int): DataFrame =
    rawSpanDigests(docs, keyCol, spanLen).distinct()

  /** [[spanDigests]] without the per-key dedup exchange — for consumers
    * whose aggregation is duplicate-insensitive (the Bloom build: inserting
    * a digest twice sets the same bits), mirroring [[rawShingles]].
    */
  private def rawSpanDigests(docs: DataFrame, keyCol: String, spanLen: Int): DataFrame =
    docs
      .filter(size(col("ws")) >= spanLen)
      .select(col(keyCol), explode(expr(
        s"transform(sequence(0, size(ws) - $spanLen), i -> md5(concat_ws(' ', slice(ws, i + 1, $spanLen))))"))
        .as("h"))

  /** X16 — cross-source overlap matrix: for every pair of sources that share
    * at least one distinct 8-token span, the shared-span count and the
    * span-set Jaccard (the matrix is SPARSE — fully disjoint pairs emit no
    * row; treat a missing pair as overlap 0). This is
    * the provenance telemetry that catches mirror sites, aggregator scrapes,
    * and re-crawled feeds BEFORE per-document dedup runs — at the source
    * granularity a curation decision is actually made at (drop/downweight a
    * source, not a million individual docs).
    *
    * Scale shape: distinct (source, span-digest) is one hash aggregate
    * (spans are md5'd FIRST so the exchange carries fixed 16-byte keys, not
    * 40-char strings); the pair join is keyed on the digest, and after the
    * distinct each span appears at most once per source, so a span shared
    * by k sources costs k(k-1)/2 rows — bounded by #sources², never #docs².
    * Per-source totals broadcast back. Nothing here is corpus-quadratic.
    */
  def x16SourceOverlap(s: SparkSession, dir: String, spanLen: Int = 8): DataFrame = {
    val spans = spanDigests(
      t(s, dir, "documents").withColumn("ws", split(col("text"), " ")),
      "source", spanLen)
    val sizes = spans.groupBy(col("source")).agg(count(lit(1)).as("n"))
    spans.as("a")
      .join(spans.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("shared_spans"))
      .join(broadcast(sizes.select(col("source").as("s1"), col("n").as("n1"))), "s1")
      .join(broadcast(sizes.select(col("source").as("s2"), col("n").as("n2"))), "s2")
      .select(col("s1"), col("s2"), col("shared_spans"), col("n1"), col("n2"),
        (col("shared_spans").cast("double") /
          (col("n1") + col("n2") - col("shared_spans")).cast("double"))
          .as("span_jaccard"))
      .orderBy("s1", "s2")
  }

  /** X17 — incremental-crawl novelty: for each document of the "new batch",
    * the fraction of its distinct 8-token spans that do NOT appear anywhere
    * in the "existing corpus" — the score an incremental ingest uses to
    * decide whether a crawled page adds anything before admitting it. The
    * snapshot boundary here is a deterministic doc_id split (even = already
    * ingested, odd = new batch); production swaps in the real snapshot
    * predicate — nothing else changes.
    *
    * This is deliberately the OTHER contamination shape from X12: there the
    * eval set is bounded-by-construction so its shingles broadcast; here
    * BOTH sides are corpus-scale, so the honest plan is a digest-keyed
    * shuffle LEFT ANTI join (novel spans survive) feeding a doc-keyed
    * count, plus one doc-keyed span total — every exchange is keyed, nothing
    * pairwise, and spans travel as fixed-width md5 digests, not 40-char
    * strings.
    */
  def x17IncrementalNovelty(s: SparkSession, dir: String, spanLen: Int = 8): DataFrame = {
    val docs = t(s, dir, "documents").withColumn("ws", split(col("text"), " "))
    x17NoveltyFrom(
      docs.filter(col("doc_id") % 2 === 1),
      docs.filter(col("doc_id") % 2 === 0), spanLen)
  }

  /** X17 core over arbitrary new-batch/snapshot frames (each needing
    * `doc_id, ws`) — the composition seam mirroring [[x9ClustersFrom]] and
    * `e7CorrelationFrom`: production swaps the declared query's doc_id-parity
    * stand-in for its real snapshot predicate (ingest date, or the
    * [[IncrementalDedup]] index's admitted set) without touching the plan.
    */
  def x17NoveltyFrom(newDocs: DataFrame, oldDocs: DataFrame, spanLen: Int = 8): DataFrame = {
    val newSpans = spanDigests(newDocs, "doc_id", spanLen)
    // the snapshot side only needs the distinct DIGEST set: one global
    // distinct on `h` straight off the raw stream (map-side partials dedup
    // before the exchange) — the earlier (doc_id, h) distinct followed by a
    // second h-distinct paid two exchanges for the same set
    val oldSpans = rawSpanDigests(oldDocs, "doc_id", spanLen).select("h").distinct()
    val totals = newSpans.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
    val novel = newSpans.join(oldSpans, Seq("h"), "left_anti")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    totals.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_spans").cast("double"))
          .as("novelty"))
      .orderBy("doc_id")
  }

  /** X17b — bloom-pruned incremental novelty: the SAME result as X17 (same
    * oracle SQL), computed through the sketch-gated plan a production
    * admission pipeline runs. A Bloom filter over the snapshot's distinct
    * span digests (`DataFrameStatFunctions.bloomFilter` — one aggregate
    * pass, mergeable map-side, collected as a bitset) is broadcast to the
    * new batch; a probe MISS is *definitely novel* (Bloom has no false
    * negatives) and never touches the snapshot again, so the exact
    * verification anti-join runs only over the fpp-bounded HIT set — true
    * duplicate spans plus ~fpp of the novel ones.
    *
    * Scale contract: the sketch costs ~n·ln(1/fpp)/ln²2 bits (≈1.2 GB per
    * 10⁹ distinct keys at 1% fpp) and is built ONCE per snapshot, then
    * reused by every batch — the count+bloom build passes here are the
    * amortized cost, not per-batch. Broadcastable sketches cap at
    * ~10⁹–10¹⁰ keys, which covers document-fingerprint granularity at any
    * corpus size; span-granularity gating beyond that shards the sketch by
    * digest range. The residual verification join is keyed on the digest,
    * so against the bucketed admission index ([[IncrementalDedup]]) it
    * probes only the hit digests' buckets — the snapshot is never
    * re-shuffled for the 1−fpp common case.
    */
  def x17bNoveltyBloom(s: SparkSession, dir: String, spanLen: Int = 8): DataFrame = {
    val docs = t(s, dir, "documents").withColumn("ws", split(col("text"), " "))
    x17bNoveltyBloomFrom(s,
      docs.filter(col("doc_id") % 2 === 1),
      docs.filter(col("doc_id") % 2 === 0), spanLen)
  }

  /** X17b core over arbitrary new-batch/snapshot frames (the
    * [[x17NoveltyFrom]] seam, sketch-gated). `fpp` trades sketch size for
    * verification-join volume; results are fpp-INVARIANT (every hit is
    * exactly verified), which DedupSpec proves by running at a
    * pathological fpp.
    */
  def x17bNoveltyBloomFrom(s: SparkSession, newDocs: DataFrame, oldDocs: DataFrame,
      spanLen: Int = 8, fpp: Double = 0.01): DataFrame = {
    // one global distinct on `h` (see x17NoveltyFrom — the (doc_id, h)
    // pre-distinct paid a second exchange for the same digest set)
    val oldSpans = rawSpanDigests(oldDocs, "doc_id", spanLen).select("h").distinct()
    // Sketch build — once per snapshot in production, amortized over every
    // subsequent batch. Sizing needs only an UPPER bound on the distinct
    // count (oversizing lowers fpp; results are fpp-invariant — every hit
    // is exactly verified, DedupSpec pins it at a pathological fpp), so the
    // raw per-doc span total — one narrow column-pruned aggregate, zero
    // exchanges — replaces the earlier full explode+distinct+count pass.
    // The filter itself builds over the RAW digest stream for the same
    // reason: inserting a duplicate digest sets the same bits, so the
    // per-key dedup exchange bought nothing on this branch either.
    val nOldRaw = oldDocs
      .select(greatest(size(col("ws")).cast("long") - (spanLen - 1), lit(0L)).as("n"))
      .agg(sum(col("n"))).head() match {
      case r if r.isNullAt(0) => 1L
      case r => math.max(r.getLong(0), 1L)
    }
    // The raw total overcounts the distinct digest count by the snapshot's
    // duplication factor, and the sketch pays ~9.6 bits per EXPECTED item
    // at 1% fpp — harmless at small scale (a tighter filter than asked
    // for), but a duplicate-heavy snapshot could push the bit array toward
    // Spark's BloomFilter ceiling where distinct sizing would not. Above
    // the threshold, one approx_count_distinct pass caps the bound near
    // the true distinct count (×1.3 headroom for the sketch's own error —
    // and an undercount only raises the realized fpp, which the exact
    // verification below absorbs; results stay fpp-invariant either way).
    val nOld =
      if (nOldRaw <= 100000000L) nOldRaw
      else {
        val ad = rawSpanDigests(oldDocs, "doc_id", spanLen)
          .agg(approx_count_distinct(col("h"))).head().getLong(0)
        math.max(math.min(nOldRaw, (ad * 1.3).toLong), 1L)
      }
    val bf = rawSpanDigests(oldDocs, "doc_id", spanLen)
      .stat.bloomFilter("h", nOld, fpp)
    val bfB = s.sparkContext.broadcast(bf)
    // codegen'd Catalyst probe (graft.functions.BloomMightContainString) —
    // the span stream is the gate's hottest map stage, and a per-row Scala
    // UDF would box every row and sever the whole-stage codegen span
    val probe = graft.functions.BloomExpressions.registerProbe(s, bfB)
    val newSpans = spanDigests(newDocs, "doc_id", spanLen)
      .withColumn("maybe_old", expr(s"$probe(h)"))
    val totals = newSpans.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
    // Bloom miss ⇒ novel, no verification. Bloom hit ⇒ exact anti-join
    // rescues the false positives; only the hit set probes the snapshot.
    val novel = newSpans.filter(!col("maybe_old")).select("doc_id", "h")
      .unionByName(
        newSpans.filter(col("maybe_old")).select("doc_id", "h")
          .join(oldSpans, Seq("h"), "left_anti"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    totals.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_spans").cast("double"))
          .as("novelty"))
      .orderBy("doc_id")
  }

  /** X18 — LSH admission decisions, declared as an oracle-checked query:
    * for every judged document of the "new batch" (odd doc_ids), whether the
    * [[IncrementalDedup.novelByMinhash]] gate would suspect it against the
    * snapshot's buckets (even doc_ids), suspect it against a lower-id batch
    * sibling, and hence whether it is admitted. The SAME banding as X2 and
    * the SAME decision rules as the production gate (DedupSpec pins that
    * equivalence end-to-end through a real bucket index) — so the ingest
    * gate's logic is hash-verified against DuckDB running the identical
    * minhash algorithm in SQL, not just spec-asserted. All columns integer ⇒
    * exact compare. Scale shape: one minhash pass, a (band, bh)-keyed semi
    * join, and a window min — nothing pairwise (X2's banding bounds the
    * probe; the decision layer adds no join wider than the bucket key).
    */
  def x18LshAdmission(s: SparkSession, dir: String): DataFrame = {
    // raw explode stream (duplicate-insensitive min lanes), one corpus
    // pass pinned to scratch — the four band views below (probe side,
    // snapshot buckets, sibling window, judged-doc spine) each re-ran the
    // corpus explode + aggregate when left unmaterialized
    val bands = bandsOf(materialize(
      minhashes(rawShingles(t(s, dir, "documents"))), "x18_minhash"))
    val oddBands = bands.filter(col("doc_id") % 2 === 1)
    val evenBuckets = bands.filter(col("doc_id") % 2 === 0)
      .select("band", "bh").distinct()
    val suspectIdx = oddBands.join(evenBuckets, Seq("band", "bh"), "left_semi")
      .select("doc_id").distinct().withColumn("s_idx", lit(1))
    val sibSuspect = oddBands
      .withColumn("__min_id",
        min(col("doc_id")).over(Window.partitionBy(col("band"), col("bh"))))
      .filter(col("doc_id") > col("__min_id"))
      .select("doc_id").distinct().withColumn("s_sib", lit(1))
    oddBands.select("doc_id").distinct()
      .join(suspectIdx, Seq("doc_id"), "left")
      .join(sibSuspect, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("s_idx"), lit(0)).as("suspected_index"),
        coalesce(col("s_sib"), lit(0)).as("suspected_sibling"),
        (coalesce(col("s_idx"), lit(0)) === 0 && coalesce(col("s_sib"), lit(0)) === 0)
          .cast("int").as("admitted"))
      .orderBy("doc_id")
  }

  /** X19 — the PRECISION admission gate's decisions as an oracle-checked
    * query, mirroring [[x18LshAdmission]] for
    * [[IncrementalDedup.novelByMinhashVerified]]: for every judged doc of
    * the "new batch" (odd doc_ids) vs the snapshot (even doc_ids), whether
    * any LSH bucket collision SUSPECTED it (index or lower-id sibling —
    * x18's rules), whether exact 3-gram Jaccard >= 0.8 against a collided
    * doc CONFIRMED the near-dup, and hence whether verified admission
    * admits it. The difference between x18's `admitted` and x19's is
    * exactly the banding false positives the precision mode rescues (at
    * sf0.001 the natural data contains one). All columns integer ⇒ exact
    * compare; DuckDB replays the identical minhash banding AND the
    * identical Jaccard verification in SQL; DedupSpec pins query ≡
    * production verified gate through a real bucket index.
    *
    * Scale shape: x18's keyed bucket probes plus one collision-bounded pair
    * join into the shingle table — candidate cardinality bounds the verify
    * cost, exactly the production gate's two bounded passes.
    */
  def x19LshAdmissionVerified(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sh = shingles(docs)
    // ONE corpus minhash pass, pinned to scratch (one 25-integer row per
    // doc — the admission index's own state shape, ~2 orders narrower than
    // the text): the four band views below (odd/even probe sides, the
    // sibling window, the judged-doc spine) would otherwise EACH re-run the
    // corpus explode + 24-lane aggregate — the pre-optimization plan
    // carried 28 parquet scans of the corpus, zero reused exchanges.
    val mh = materialize(minhashes(rawShingles(docs)), "x19_minhash")
    val bands = bandsOf(mh)
    val oddBands = bands.filter(col("doc_id") % 2 === 1)
    val evenBands = bands.filter(col("doc_id") % 2 === 0)
    val idxPairs = oddBands.as("o").join(evenBands.as("e"),
        col("o.band") === col("e.band") && col("o.bh") === col("e.bh"))
      .select(col("o.doc_id").as("doc_id"), col("e.doc_id").as("other_id"))
      .distinct()
    val sibPairs = oddBands
      .withColumn("__min_id",
        min(col("doc_id")).over(Window.partitionBy(col("band"), col("bh"))))
      .filter(col("doc_id") > col("__min_id"))
      .select(col("doc_id"), col("__min_id").as("other_id")).distinct()
    // collision-bounded pair set, materialized once (the x2 scratch
    // pattern) so the exact-verify passes below read a small file instead
    // of re-deriving the banding per consumer
    val pairs = materialize(idxPairs.unionByName(sibPairs).distinct(), "x19_pairs")
    // the exact Jaccard verify only ever touches docs that appear in a
    // pair: semi-scope the shingle table to those docs ONCE, so both join
    // sides and the size aggregates below read candidate-bounded scratch,
    // not the corpus (x2's shCand shape)
    val candDocs = pairs
      .select(explode(array(col("doc_id"), col("other_id"))).as("doc_id"))
      .distinct()
    val shCand = materialize(sh.join(candDocs, "doc_id"), "x19_cand_shingles")
    val ni = pairs.as("p")
      .join(shCand.as("l"), col("p.doc_id") === col("l.doc_id"))
      .join(shCand.as("r"),
        col("p.other_id") === col("r.doc_id") && col("l.shingle") === col("r.shingle"))
      .groupBy(col("p.doc_id").as("doc_id"), col("p.other_id").as("other_id"))
      .agg(count(lit(1)).as("ni"))
    // shCand holds EVERY shingle of each candidate doc, so the Jaccard
    // denominators come off the scratch file too; the joins below are
    // inner on pair membership, so non-candidate docs never need a size
    val nl = shCand.groupBy(col("doc_id")).agg(count(lit(1)).as("nl"))
    val nr = shCand.groupBy(col("doc_id").as("other_id")).agg(count(lit(1)).as("nr"))
    val confirmedIds = pairs
      .join(ni, Seq("doc_id", "other_id"), "left")
      .join(nl, Seq("doc_id"))
      .join(nr, Seq("other_id"))
      .filter(coalesce(col("ni"), lit(0L)).cast("double") /
        (col("nl") + col("nr") - coalesce(col("ni"), lit(0L))) >= 0.8)
      .select("doc_id").distinct().withColumn("s_conf", lit(1))
    val suspectedIds = pairs.select("doc_id").distinct().withColumn("s_susp", lit(1))
    oddBands.select("doc_id").distinct()
      .join(suspectedIds, Seq("doc_id"), "left")
      .join(confirmedIds, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("s_susp"), lit(0)).as("suspected"),
        coalesce(col("s_conf"), lit(0)).as("confirmed_dup"),
        (coalesce(col("s_conf"), lit(0)) === 0).cast("int").as("admitted"))
      .orderBy("doc_id")
  }

  /** X22 — the ESTIMATE admission gate's decisions as an oracle-checked
    * query, completing the trio: X18 drops suspects outright (recall), X19
    * verifies them with exact Jaccard (precision, one bounded text pass),
    * X22 verifies them with the Broder lane-equality estimate (precision
    * with ZERO text passes — X21's estimator applied at the gate). A
    * suspect is confirmed when ≥ `minLanes` of its 24 minhash lanes match
    * a collided doc's (12 ⇔ est ≥ 0.5); at 24 lanes a true j ≥ 0.8
    * near-dup falling below 12 and a banding false positive (true j ≈ 0)
    * reaching 12 are both many-sigma events — on this fixture the
    * estimate's decisions are IDENTICAL to X19's exact-verify decisions
    * (including rescuing the natural banding false positive: 3/24 lanes vs
    * exact j 0.017), at the cost of lane storage instead of a shingle
    * pass. Integer lane counts ⇒ exact oracle compare; DedupSpec pins
    * query ≡ production estimate gate through a real lane-carrying bucket
    * index.
    */
  def x22LshAdmissionEstimated(s: SparkSession, dir: String, minLanes: Int = 12): DataFrame = {
    // raw explode stream (min() lanes are duplicate-insensitive), ONE
    // corpus pass pinned to scratch: the band views and the two lane-frame
    // join sides below each consume `mh`, and nothing shares exchanges
    // across those subtrees — unmaterialized this re-ran the corpus
    // explode + aggregate per consumer (x21's shape, same reasoning)
    val mh = materialize(
      minhashes(rawShingles(t(s, dir, "documents"))), "x22_minhash")
    val bands = bandsOf(mh)
    val oddBands = bands.filter(col("doc_id") % 2 === 1)
    val evenBands = bands.filter(col("doc_id") % 2 === 0)
    val idxPairs = oddBands.as("o").join(evenBands.as("e"),
        col("o.band") === col("e.band") && col("o.bh") === col("e.bh"))
      .select(col("o.doc_id").as("doc_id"), col("e.doc_id").as("other_id"))
      .distinct()
    val sibPairs = oddBands
      .withColumn("__min_id",
        min(col("doc_id")).over(Window.partitionBy(col("band"), col("bh"))))
      .filter(col("doc_id") > col("__min_id"))
      .select(col("doc_id"), col("__min_id").as("other_id")).distinct()
    val pairs = idxPairs.unionByName(sibPairs).distinct()
    val matches = (0 until NumHashes)
      .map(i => when(col(s"a.m$i") === col(s"b.m$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val confirmedIds = pairs.as("p")
      .join(mh.as("a"), col("p.doc_id") === col("a.doc_id"))
      .join(mh.as("b"), col("p.other_id") === col("b.doc_id"))
      .select(col("p.doc_id").as("doc_id"), matches.as("ml"))
      .filter(col("ml") >= minLanes)
      .select("doc_id").distinct().withColumn("s_conf", lit(1))
    val suspectedIds = pairs.select("doc_id").distinct().withColumn("s_susp", lit(1))
    oddBands.select("doc_id").distinct()
      .join(suspectedIds, Seq("doc_id"), "left")
      .join(confirmedIds, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("s_susp"), lit(0)).as("suspected"),
        coalesce(col("s_conf"), lit(0)).as("confirmed_dup"),
        (coalesce(col("s_conf"), lit(0)) === 0).cast("int").as("admitted"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x18_lsh_admission" -> (x18LshAdmission _),
    "x19_lsh_admission_verified" -> (x19LshAdmissionVerified _),
    "x22_lsh_admission_estimated" -> (x22LshAdmissionEstimated(_, _, 12)),
    "c3b_corpus_blend_lsh" -> (c3CorpusBlendLsh _),
    "x1_exact_dedup" -> (x1ExactDedup _),
    "x15_dupspan" -> (x15DupSpanCoverage(_, _, 8)),
    "x16_source_overlap" -> (x16SourceOverlap(_, _, 8)),
    "x17_incremental_novelty" -> (x17IncrementalNovelty(_, _, 8)),
    "x17b_novelty_bloom" -> (x17bNoveltyBloom(_, _, 8)),
    "x2_minhash_lsh" -> (x2MinhashLsh _),
    "x3_simhash" -> (x3Simhash _),
    "x20_simhash_pairs" -> (x20SimhashPairs(_, _, 3)),
    "x21_minhash_estimate" -> (x21MinhashEstimate _),
    "x4_ngram_jaccard" -> (x4NgramJaccard _),
    "x9_dedup_clusters" -> (x9DedupClusters _),
    "x9b_clusters_altstar" -> (x9bDedupClustersAltStar _),
    "x9c_incremental_clusters" -> (x9cIncrementalClusters _),
    "x10_source_dedup_stats" -> (x10SourceDedupStats _),
    "x11_containment" -> (x11Containment _),
    "x12_contamination" -> (x12Contamination _),
    "c3_corpus_blend" -> (c3CorpusBlend _),
    "c4_decontaminated_blend" -> (c4DecontaminatedBlend _),
    "c11_survivorship" -> (c11Survivorship _))

  private def shingleCte(name: String) =
    s"""$name AS (
         SELECT DISTINCT doc_id,
                unnest(list_transform(range(1, len(ws) - 1),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
         FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
         WHERE len(ws) >= 3)"""

  private val shingleSql = shingleCte("sh")

  /** Shingle CTE with the X4/X9 document-frequency cap mirrored in SQL. */
  private val cappedShingleSql =
    s"""${shingleCte("sh0")},
       sh AS (
         SELECT doc_id, shingle FROM (
           SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df
           FROM sh0)
         WHERE df <= $MaxShingleDf)"""

  private val jaccardSql =
    """sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       inter AS (
         SELECT c.doc_a, c.doc_b, COUNT(*) AS ni
         FROM cand c
         JOIN sh s1 ON s1.doc_id = c.doc_a
         JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
         GROUP BY c.doc_a, c.doc_b),
       jac AS (
         SELECT i.doc_a, i.doc_b,
                CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni) AS jaccard
         FROM inter i
         JOIN sizes na ON na.doc_id = i.doc_a
         JOIN sizes nb ON nb.doc_id = i.doc_b)"""

  /** The X9 connected-components CTE chain (shared by the x9 and c3
    * oracles): capped shingles → candidate pairs → exact Jaccard → edges →
    * recursive reachability.
    */
  private val clusterCtes =
    s"""$cappedShingleSql,
       cand AS (SELECT DISTINCT s1.doc_id AS doc_a, s2.doc_id AS doc_b
                FROM sh s1 JOIN sh s2
                  ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id),
       $jaccardSql,
       pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
       edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                 UNION ALL SELECT doc_b, doc_a FROM pairs),
       reach(src, dst) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)"""

  /** X2's banding replayed in SQL (shared by the x2, x18, x19 and c3b
    * oracles): md5-derived base → 24 universal minhashes → 8 bands of 3.
    * Expects an `sh` CTE in scope.
    */
  private val bandCtes =
    """hx AS (SELECT doc_id, shingle,
                CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 1000000007 AS base
              FROM sh),
       mh AS (SELECT doc_id, k,
                MIN((((k*2654435761 + 1) % 1000000007) * base
                     + (k*40503 + 17) % 1000000007) % 1000000007) AS m
              FROM hx CROSS JOIN (SELECT unnest(range(0, 24)) AS k)
              GROUP BY doc_id, k),
       bands AS (SELECT doc_id, k // 3 AS band,
                   SUM((m * (CASE k % 3 WHEN 0 THEN 1 WHEN 1 THEN 8191
                             ELSE 67092481 END)) % 1000000007) % 1000000007 AS bh
                 FROM mh GROUP BY doc_id, k // 3)"""

  /** The LSH-edge connected-components CTE chain (c3b oracle): X2's banding
    * → candidate pairs → exact Jaccard >= 0.8 → edges → recursive
    * reachability — the sub-linear production edge source replayed in SQL.
    */
  private val lshClusterCtes =
    s"""$shingleSql,
       $bandCtes,
       cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                FROM bands x JOIN bands y
                  ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       $jaccardSql,
       pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.8),
       edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                 UNION ALL SELECT doc_b, doc_a FROM pairs),
       reach(src, dst) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)"""

  /** X3's fingerprint construction replayed in SQL (shared by the x3 and
    * x20 oracles): distinct tokens → md5-nibble bit votes → per-bit
    * majority → two 32-bit halves. Ends in an `fp(doc_id, simhash_hi,
    * simhash_lo)` CTE.
    */
  private val simhashFpCtes =
    """toks AS (
         SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
         FROM documents),
       voted AS (
         SELECT doc_id, bit,
           CASE WHEN (CAST('0x' || substr(md5(tok), bit // 4 + 1, 1) AS BIGINT)
                      >> (bit % 4)) & 1 = 1 THEN 1 ELSE -1 END AS vote
         FROM toks CROSS JOIN (SELECT unnest(range(0, 64)) AS bit)),
       perbit AS (
         SELECT doc_id, bit,
                CASE WHEN SUM(vote) > 0 THEN 1 ELSE 0 END AS onb
         FROM voted GROUP BY doc_id, bit),
       fp AS (
         SELECT doc_id,
           CAST(SUM(CASE WHEN bit >= 32 THEN onb * (1::BIGINT << (bit - 32)) ELSE 0 END) AS BIGINT) AS simhash_hi,
           CAST(SUM(CASE WHEN bit < 32 THEN onb * (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash_lo
         FROM perbit GROUP BY doc_id)"""

  val oracles: Map[String, String] = Map(
    "c3b_corpus_blend_lsh" ->
      s"""WITH RECURSIVE $lshClusterCtes,
         labels AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
                    FROM reach GROUP BY src),
         reps AS (SELECT doc_id FROM labels WHERE doc_id = cluster_id),
         scored AS (
           SELECT d.doc_id, d.lang, d.source, d.text,
                  (CAST(length(regexp_replace(d.text, '[^a-z]', '', 'g')) AS DOUBLE)
                    / length(d.text)) * 0.5
                  + (CAST(len(list_filter(string_split(d.text, ' '),
                       x -> list_contains(['the','a','of','and','to','is','in'], x))) AS DOUBLE)
                    / len(string_split(d.text, ' '))) * 0.3
                  + (CASE WHEN len(string_split(d.text, ' ')) BETWEEN 20 AND 200
                     THEN 0.2 ELSE 0.0 END) AS quality_score
           FROM documents d JOIN reps r ON d.doc_id = r.doc_id)
         SELECT lang, source, COUNT(*) AS n_docs,
                CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens
         FROM scored
         WHERE quality_score >= 0.6
           AND CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
               < (CASE lang WHEN 'en' THEN 80 WHEN 'de' THEN 50
                            WHEN 'es' THEN 25 ELSE 10 END)
         GROUP BY lang, source ORDER BY lang, source""",
    "x19_lsh_admission_verified" ->
      s"""WITH $shingleSql,
         $bandCtes,
         odd AS (SELECT doc_id, band, bh FROM bands WHERE doc_id % 2 = 1),
         evenb AS (SELECT doc_id, band, bh FROM bands WHERE doc_id % 2 = 0),
         idxp AS (SELECT DISTINCT o.doc_id AS doc_id, e.doc_id AS other_id
                  FROM odd o JOIN evenb e ON o.band = e.band AND o.bh = e.bh),
         sibp AS (SELECT DISTINCT doc_id, mn AS other_id FROM (
                    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY band, bh) AS mn
                    FROM odd)
                  WHERE doc_id > mn),
         prs AS (SELECT doc_id, other_id FROM idxp
                 UNION SELECT doc_id, other_id FROM sibp),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         ni AS (SELECT p.doc_id, p.other_id, COUNT(*) AS ni
                FROM prs p
                JOIN sh l ON l.doc_id = p.doc_id
                JOIN sh r ON r.doc_id = p.other_id AND r.shingle = l.shingle
                GROUP BY p.doc_id, p.other_id),
         conf AS (SELECT DISTINCT p.doc_id
                  FROM prs p
                  LEFT JOIN ni ON ni.doc_id = p.doc_id AND ni.other_id = p.other_id
                  JOIN sizes a ON a.doc_id = p.doc_id
                  JOIN sizes b ON b.doc_id = p.other_id
                  WHERE CAST(COALESCE(ni.ni, 0) AS DOUBLE)
                          / (a.n + b.n - COALESCE(ni.ni, 0)) >= 0.8),
         susp AS (SELECT DISTINCT doc_id FROM prs),
         judged AS (SELECT DISTINCT doc_id FROM odd)
         SELECT j.doc_id,
                CAST(s.doc_id IS NOT NULL AS INT) AS suspected,
                CAST(c.doc_id IS NOT NULL AS INT) AS confirmed_dup,
                CAST(c.doc_id IS NULL AS INT) AS admitted
         FROM judged j
         LEFT JOIN susp s ON j.doc_id = s.doc_id
         LEFT JOIN conf c ON j.doc_id = c.doc_id
         ORDER BY j.doc_id""",
    "x22_lsh_admission_estimated" ->
      s"""WITH $shingleSql,
         $bandCtes,
         odd AS (SELECT doc_id, band, bh FROM bands WHERE doc_id % 2 = 1),
         evenb AS (SELECT doc_id, band, bh FROM bands WHERE doc_id % 2 = 0),
         idxp AS (SELECT DISTINCT o.doc_id AS doc_id, e.doc_id AS other_id
                  FROM odd o JOIN evenb e ON o.band = e.band AND o.bh = e.bh),
         sibp AS (SELECT DISTINCT doc_id, mn AS other_id FROM (
                    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY band, bh) AS mn
                    FROM odd)
                  WHERE doc_id > mn),
         prs AS (SELECT doc_id, other_id FROM idxp
                 UNION SELECT doc_id, other_id FROM sibp),
         lanes AS (SELECT p.doc_id, p.other_id,
                     SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS ml
                   FROM prs p
                   JOIN mh a ON a.doc_id = p.doc_id
                   JOIN mh b ON b.doc_id = p.other_id AND b.k = a.k
                   GROUP BY p.doc_id, p.other_id),
         conf AS (SELECT DISTINCT doc_id FROM lanes WHERE ml >= 12),
         susp AS (SELECT DISTINCT doc_id FROM prs),
         judged AS (SELECT DISTINCT doc_id FROM odd)
         SELECT j.doc_id,
                CAST(s.doc_id IS NOT NULL AS INT) AS suspected,
                CAST(c.doc_id IS NOT NULL AS INT) AS confirmed_dup,
                CAST(c.doc_id IS NULL AS INT) AS admitted
         FROM judged j
         LEFT JOIN susp s ON j.doc_id = s.doc_id
         LEFT JOIN conf c ON j.doc_id = c.doc_id
         ORDER BY j.doc_id""",
    "x15_dupspan" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         base AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tok FROM d),
         spans AS (
           SELECT doc_id, i AS pos,
                  array_to_string(list_slice(ws, i + 1, i + 8), ' ') AS span
           FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 7)) AS i
                 FROM d WHERE len(ws) >= 8)),
         dup AS (SELECT span FROM spans GROUP BY span
                 HAVING COUNT(DISTINCT doc_id) >= 2),
         cov AS (
           SELECT doc_id, COUNT(*) AS n_dup_tok FROM (
             SELECT DISTINCT doc_id, p FROM (
               SELECT s.doc_id, unnest(range(s.pos, s.pos + 8)) AS p
               FROM spans s JOIN dup USING (span)))
           GROUP BY doc_id)
         SELECT b.doc_id, b.n_tok,
                CAST(COALESCE(c.n_dup_tok, 0) AS BIGINT) AS n_dup_tok,
                CAST(COALESCE(c.n_dup_tok, 0) AS DOUBLE) / b.n_tok AS dup_coverage
         FROM base b LEFT JOIN cov c ON b.doc_id = c.doc_id
         ORDER BY b.doc_id""",
    "x1_exact_dedup" ->
      """SELECT MIN(doc_id) AS canonical_id, sha256(text) AS content_hash,
                COUNT(*) AS n_copies
         FROM documents GROUP BY sha256(text) ORDER BY canonical_id""",
    // x17b is result-identical to x17 by construction (the bloom gate is
    // semantically invisible) — the shared oracle text IS the claim.
    "x17b_novelty_bloom" -> x17OracleSql,
    "x17_incremental_novelty" -> x17OracleSql) ++ oraclesTail

  private lazy val x17OracleSql: String =
      """WITH sp AS (
           SELECT DISTINCT doc_id,
                  md5(array_to_string(list_slice(ws, i + 1, i + 8), ' ')) AS h
           FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 7)) AS i
                 FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
                 WHERE len(ws) >= 8)),
         new_sp AS (SELECT doc_id, h FROM sp WHERE doc_id % 2 = 1),
         old_sp AS (SELECT DISTINCT h FROM sp WHERE doc_id % 2 = 0),
         totals AS (SELECT doc_id, COUNT(*) AS n_spans FROM new_sp GROUP BY doc_id),
         novel AS (
           SELECT doc_id, COUNT(*) AS n_novel
           FROM new_sp ANTI JOIN old_sp USING (h)
           GROUP BY doc_id)
         SELECT t.doc_id, t.n_spans,
                CAST(COALESCE(v.n_novel, 0) AS BIGINT) AS n_novel,
                CAST(COALESCE(v.n_novel, 0) AS DOUBLE) / CAST(t.n_spans AS DOUBLE)
                  AS novelty
         FROM totals t LEFT JOIN novel v ON t.doc_id = v.doc_id
         ORDER BY t.doc_id"""

  private lazy val oraclesTail: Map[String, String] = Map(
    "x16_source_overlap" ->
      """WITH spans AS (
           SELECT DISTINCT source,
                  md5(array_to_string(list_slice(ws, i + 1, i + 8), ' ')) AS h
           FROM (SELECT source, ws, unnest(range(0, len(ws) - 7)) AS i
                 FROM (SELECT source, string_split(text, ' ') AS ws FROM documents)
                 WHERE len(ws) >= 8)),
         sizes AS (SELECT source, COUNT(*) AS n FROM spans GROUP BY source),
         pairs AS (
           SELECT a.source AS s1, b.source AS s2, COUNT(*) AS shared_spans
           FROM spans a JOIN spans b ON a.h = b.h AND a.source < b.source
           GROUP BY a.source, b.source)
         SELECT p.s1, p.s2, p.shared_spans, x.n AS n1, y.n AS n2,
                CAST(p.shared_spans AS DOUBLE)
                  / CAST(x.n + y.n - p.shared_spans AS DOUBLE) AS span_jaccard
         FROM pairs p JOIN sizes x ON p.s1 = x.source
              JOIN sizes y ON p.s2 = y.source
         ORDER BY p.s1, p.s2""",
    "x18_lsh_admission" ->
      s"""WITH $shingleSql,
         $bandCtes,
         odd AS (SELECT doc_id, band, bh FROM bands WHERE doc_id % 2 = 1),
         evenb AS (SELECT DISTINCT band, bh FROM bands WHERE doc_id % 2 = 0),
         sidx AS (SELECT DISTINCT doc_id FROM odd SEMI JOIN evenb USING (band, bh)),
         ssib AS (SELECT DISTINCT doc_id FROM (
                    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY band, bh) AS mn
                    FROM odd)
                  WHERE doc_id > mn),
         judged AS (SELECT DISTINCT doc_id FROM odd)
         SELECT j.doc_id,
                CAST(i.doc_id IS NOT NULL AS INT) AS suspected_index,
                CAST(s.doc_id IS NOT NULL AS INT) AS suspected_sibling,
                CAST(i.doc_id IS NULL AND s.doc_id IS NULL AS INT) AS admitted
         FROM judged j
         LEFT JOIN sidx i ON j.doc_id = i.doc_id
         LEFT JOIN ssib s ON j.doc_id = s.doc_id
         ORDER BY j.doc_id""",
    "x2_minhash_lsh" ->
      s"""WITH $shingleSql,
         $bandCtes,
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                  FROM bands x JOIN bands y
                    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
         $jaccardSql
         SELECT doc_a, doc_b, jaccard FROM jac
         WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""",
    "x3_simhash" ->
      s"""WITH $simhashFpCtes
         SELECT doc_id, simhash_hi, simhash_lo FROM fp ORDER BY doc_id""",
    "x20_simhash_pairs" ->
      s"""WITH $simhashFpCtes,
         blk AS (SELECT doc_id, simhash_hi, simhash_lo, b,
                   CASE b WHEN 0 THEN simhash_lo % 65536
                          WHEN 1 THEN simhash_lo // 65536
                          WHEN 2 THEN simhash_hi % 65536
                          ELSE simhash_hi // 65536 END AS v
                 FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                         x.simhash_hi AS ha, x.simhash_lo AS la,
                         y.simhash_hi AS hb, y.simhash_lo AS lb
                  FROM blk x JOIN blk y
                    ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id)
         SELECT doc_a, doc_b,
                CAST(bit_count(CAST(xor(ha, hb) AS BIGINT))
                   + bit_count(CAST(xor(la, lb) AS BIGINT)) AS BIGINT) AS hamming
         FROM cand
         WHERE bit_count(CAST(xor(ha, hb) AS BIGINT))
             + bit_count(CAST(xor(la, lb) AS BIGINT)) <= 3
         ORDER BY doc_a, doc_b""",
    "x21_minhash_estimate" ->
      s"""WITH $shingleSql,
         $bandCtes,
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                  FROM bands x JOIN bands y
                    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
         lanes AS (SELECT c.doc_a, c.doc_b,
                     SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS matching_lanes
                   FROM cand c
                   JOIN mh a ON a.doc_id = c.doc_a
                   JOIN mh b ON b.doc_id = c.doc_b AND b.k = a.k
                   GROUP BY c.doc_a, c.doc_b)
         SELECT doc_a, doc_b, CAST(matching_lanes AS BIGINT) AS matching_lanes,
                CAST(matching_lanes AS DOUBLE) / 24 AS est_jaccard
         FROM lanes ORDER BY doc_a, doc_b""",
    "x4_ngram_jaccard" ->
      s"""WITH $cappedShingleSql,
         cand AS (SELECT DISTINCT s1.doc_id AS doc_a, s2.doc_id AS doc_b
                  FROM sh s1 JOIN sh s2
                    ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id),
         $jaccardSql
         SELECT doc_a, doc_b, jaccard FROM jac
         WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""",
    "x9_dedup_clusters" ->
      s"""WITH RECURSIVE $clusterCtes
         SELECT src AS doc_id, MIN(dst) AS cluster_id
         FROM reach GROUP BY src ORDER BY doc_id""",
    // x9b computes the SAME transitive closure by a different distributed
    // algorithm (alt-star, O(log² n) rounds) — the oracle is x9's verbatim.
    "x9b_clusters_altstar" ->
      s"""WITH RECURSIVE $clusterCtes
         SELECT src AS doc_id, MIN(dst) AS cluster_id
         FROM reach GROUP BY src ORDER BY doc_id""",
    // x9c folds two admission batches incrementally; the declared result is
    // the SAME transitive closure, so the oracle is again x9's verbatim.
    "x9c_incremental_clusters" ->
      s"""WITH RECURSIVE $clusterCtes
         SELECT src AS doc_id, MIN(dst) AS cluster_id
         FROM reach GROUP BY src ORDER BY doc_id""",
    "c11_survivorship" ->
      // survivorship = best-quality member per duplicate cluster; the
      // oracle states the window formulation of the max_by pick, with the
      // SAME quality expression as c3's scored CTE and doc_id tiebreak.
      s"""WITH RECURSIVE $clusterCtes,
         labels AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
                    FROM reach GROUP BY src),
         scored AS (
           SELECT d.doc_id,
                  (CAST(length(regexp_replace(d.text, '[^a-z]', '', 'g')) AS DOUBLE)
                    / length(d.text)) * 0.5
                  + (CAST(len(list_filter(string_split(d.text, ' '),
                       x -> list_contains(['the','a','of','and','to','is','in'], x))) AS DOUBLE)
                    / len(string_split(d.text, ' '))) * 0.3
                  + (CASE WHEN len(string_split(d.text, ' ')) BETWEEN 20 AND 200
                     THEN 0.2 ELSE 0.0 END) AS quality_score
           FROM documents d),
         ranked AS (
           SELECT l.cluster_id, s.doc_id, s.quality_score,
                  row_number() OVER (PARTITION BY l.cluster_id
                    ORDER BY s.quality_score DESC, s.doc_id) AS rn,
                  COUNT(*) OVER (PARTITION BY l.cluster_id) AS n_members,
                  MAX(s.quality_score) OVER (PARTITION BY l.cluster_id) AS best
           FROM labels l JOIN scored s USING (doc_id))
         SELECT cluster_id, doc_id AS survivor,
                CAST(n_members AS BIGINT) AS n_members,
                round(best, 4) AS best_score
         FROM ranked WHERE rn = 1 ORDER BY cluster_id""",
    "c3_corpus_blend" ->
      s"""WITH RECURSIVE $clusterCtes,
         labels AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
                    FROM reach GROUP BY src),
         reps AS (SELECT doc_id FROM labels WHERE doc_id = cluster_id),
         scored AS (
           SELECT d.doc_id, d.lang, d.source, d.text,
                  (CAST(length(regexp_replace(d.text, '[^a-z]', '', 'g')) AS DOUBLE)
                    / length(d.text)) * 0.5
                  + (CAST(len(list_filter(string_split(d.text, ' '),
                       x -> list_contains(['the','a','of','and','to','is','in'], x))) AS DOUBLE)
                    / len(string_split(d.text, ' '))) * 0.3
                  + (CASE WHEN len(string_split(d.text, ' ')) BETWEEN 20 AND 200
                     THEN 0.2 ELSE 0.0 END) AS quality_score
           FROM documents d JOIN reps r ON d.doc_id = r.doc_id)
         SELECT lang, source, COUNT(*) AS n_docs,
                CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens
         FROM scored
         WHERE quality_score >= 0.6
           AND CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
               < (CASE lang WHEN 'en' THEN 80 WHEN 'de' THEN 50
                            WHEN 'es' THEN 25 ELSE 10 END)
         GROUP BY lang, source ORDER BY lang, source""",
    "c4_decontaminated_blend" ->
      s"""WITH RECURSIVE $clusterCtes,
         labels AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
                    FROM reach GROUP BY src),
         reps AS (SELECT doc_id FROM labels WHERE doc_id = cluster_id),
         contaminated AS (
           SELECT c.doc_id
           FROM sh0 c JOIN sh0 e ON c.shingle = e.shingle
           WHERE (e.doc_id % 20 = 0 AND e.doc_id <= 10000)
             AND NOT (c.doc_id % 20 = 0 AND c.doc_id <= 10000)
           GROUP BY c.doc_id, e.doc_id
           HAVING COUNT(*) >= 5),
         scored AS (
           SELECT d.doc_id, d.lang, d.source, d.text,
                  (CAST(length(regexp_replace(d.text, '[^a-z]', '', 'g')) AS DOUBLE)
                    / length(d.text)) * 0.5
                  + (CAST(len(list_filter(string_split(d.text, ' '),
                       x -> list_contains(['the','a','of','and','to','is','in'], x))) AS DOUBLE)
                    / len(string_split(d.text, ' '))) * 0.3
                  + (CASE WHEN len(string_split(d.text, ' ')) BETWEEN 20 AND 200
                     THEN 0.2 ELSE 0.0 END) AS quality_score
           FROM documents d JOIN reps r ON d.doc_id = r.doc_id
           WHERE NOT (d.doc_id % 20 = 0 AND d.doc_id <= 10000)
             AND d.doc_id NOT IN (SELECT doc_id FROM contaminated))
         SELECT lang, source, COUNT(*) AS n_docs,
                CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens
         FROM scored
         WHERE quality_score >= 0.6
           AND CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
               < (CASE lang WHEN 'en' THEN 80 WHEN 'de' THEN 50
                            WHEN 'es' THEN 25 ELSE 10 END)
         GROUP BY lang, source ORDER BY lang, source""",
    "x11_containment" ->
      s"""WITH $cappedShingleSql,
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         inter AS (
           SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, COUNT(*) AS ni
           FROM sh s1 JOIN sh s2
             ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
           GROUP BY s1.doc_id, s2.doc_id)
         SELECT i.doc_a, i.doc_b,
                CAST(i.ni AS DOUBLE) / na.n AS containment_a_in_b,
                CAST(i.ni AS DOUBLE) / nb.n AS containment_b_in_a
         FROM inter i
         JOIN sizes na ON na.doc_id = i.doc_a
         JOIN sizes nb ON nb.doc_id = i.doc_b
         WHERE greatest(CAST(i.ni AS DOUBLE) / na.n, CAST(i.ni AS DOUBLE) / nb.n) >= 0.8
         ORDER BY doc_a, doc_b""",
    "x12_contamination" ->
      s"""WITH $shingleSql
         SELECT c.doc_id, e.doc_id AS eval_id, COUNT(*) AS shared_shingles
         FROM sh c JOIN sh e ON c.shingle = e.shingle
         WHERE (e.doc_id % 20 = 0 AND e.doc_id <= 10000)
           AND NOT (c.doc_id % 20 = 0 AND c.doc_id <= 10000)
         GROUP BY c.doc_id, e.doc_id
         HAVING COUNT(*) >= 5
         ORDER BY c.doc_id, eval_id""",
    "x10_source_dedup_stats" ->
      """SELECT source, CAST(SUM(copies) AS BIGINT) AS n_docs, COUNT(*) AS n_distinct,
                1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(copies) AS dup_ratio
         FROM (SELECT source, sha256(text) AS h, COUNT(*) AS copies
               FROM documents GROUP BY source, sha256(text))
         GROUP BY source ORDER BY source""")
}
