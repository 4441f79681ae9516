package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSuite

class DedupSpec extends SparkSuite {

  test("x1: exact dedup groups are content-faithful") {
    val df = DedupQueries.x1ExactDedup(spark, sf001)
    val docs = graft.Tables(spark, sf001, "documents")
    // canonical ids are valid doc ids, copies sum to corpus size
    assert(df.agg(sum("n_copies")).head.getLong(0) == docs.count())
    assert(df.filter(col("n_copies") < 1).isEmpty)
  }

  test("x2 LSH candidates that verify are a subset of exhaustive x4 pairs") {
    // x4 (inverted-index exhaustive, threshold 0.5) must contain every
    // x2 pair (LSH-filtered, threshold 0.8)
    val lsh = DedupQueries.x2MinhashLsh(spark, sf001)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exhaustive = DedupQueries.x4NgramJaccard(spark, sf001)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty, "expected planted near-dup pairs in testdata")
    assert(lsh.subsetOf(exhaustive))
  }

  test("x2: reported jaccard within (0.8, 1.0]") {
    val js = DedupQueries.x2MinhashLsh(spark, sf001).select("jaccard")
      .collect().map(_.getDouble(0))
    assert(js.forall(j => j >= 0.8 && j <= 1.0))
  }

  test("x3: simhash halves stay within 32-bit range and are deterministic") {
    val a = DedupQueries.x3Simhash(spark, sf001).collect()
    assert(a.forall { r =>
      val hi = r.getLong(1); val lo = r.getLong(2)
      hi >= 0 && hi < (1L << 32) && lo >= 0 && lo < (1L << 32)
    })
    val b = DedupQueries.x3Simhash(spark, sf001).collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
  }

  test("x9: clusters are consistent with the pair graph") {
    val labels = DedupQueries.x9DedupClusters(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = DedupQueries.x4NgramJaccard(spark, sf001)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    // every near-dup pair ends in the same cluster
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    // cluster ids are cluster minima and members include their representative
    labels.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid, s"cluster $cid not labeled by its minimum")
    }
    // docs not in any pair are singletons
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    labels.filterNot { case (d, _) => inPairs(d) }.foreach { case (d, c) =>
      assert(d == c, s"singleton $d relabeled to $c")
    }
  }

  test("x9b: alt-star labels equal label propagation on the real pair graph") {
    val viaProp = DedupQueries.x9DedupClusters(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaStar = DedupQueries.x9bDedupClustersAltStar(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaStar == viaProp, "alt-star diverged from propagation clusters")
  }

  test("x9b: a 300-link duplicate chain collapses in logarithmic rounds") {
    // Diameter-bound propagation (x9, 20-round cap) cannot finish a chain
    // this long; alt-star's pointer-halving must — the scale claim in one
    // fixture.
    import spark.implicits._
    val n = 300L
    val docs = (0L to n).toDF("doc_id")
    val chain = (0L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = DedupQueries.x9bClustersAltStar(docs, chain).collect()
    assert(labels.length == n + 1)
    labels.foreach(r => assert(r.getLong(1) == 0L,
      s"node ${r.getLong(0)} labeled ${r.getLong(1)}, expected 0"))
  }

  test("x9ClustersFrom: x2 LSH pairs compose into clusters matching union-find") {
    // The corpus-scale composition: sub-linear LSH pair generation feeding
    // the clustering seam (instead of x4's exhaustive inverted index).
    val docs = graft.Tables(spark, sf001, "documents")
    val pairs = DedupQueries.x2MinhashLsh(spark, sf001).select("doc_a", "doc_b")
    val collected = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = DedupQueries.x9ClustersFrom(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Driver-side union-find over the same edges = the ground truth
    // connected components on the LSH-recalled subgraph.
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    collected.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val inPairs = collected.flatMap(p => Seq(p._1, p._2)).toSet
    val truth = inPairs.map(d => d -> find(d)).toMap
    inPairs.foreach { d =>
      assert(labels(d) == truth(d),
        s"doc $d: spark cluster ${labels(d)} != union-find ${truth(d)}")
    }
    // docs outside the LSH pair graph stay singletons
    labels.filterNot { case (d, _) => inPairs(d) }.foreach { case (d, c) =>
      assert(d == c, s"singleton $d relabeled to $c")
    }
  }

  test("x4: document-frequency cap drops hot-shingle candidate blowup") {
    import spark.implicits._
    // Every doc shares one stop-phrase 3-gram; everything else is unique.
    val docs = (1 to 40).map { i =>
      (i.toLong, s"common shared phrase unique$i token$i filler$i word$i")
    }.toDF("doc_id", "text")
    // Uncapped, the hot shingle alone makes every pair a candidate: 40·39/2.
    val uncapped = DedupQueries.x4Pairs(docs, threshold = 0.0, maxDf = Int.MaxValue)
    assert(uncapped.count() == 40L * 39 / 2)
    // Capped, the stop phrase leaves the index and no candidate survives —
    // the join is bounded by informative shingles only.
    assert(DedupQueries.x4Pairs(docs, threshold = 0.0, maxDf = 10).isEmpty)
  }

  test("x11: containment catches a subset doc that symmetric Jaccard misses") {
    import spark.implicits._
    val words = (1 to 20).map(i => s"w$i")
    val docs = Seq(
      (1L, words.mkString(" ")),           // 18 shingles
      (2L, words.take(10).mkString(" "))   // 8 shingles, strict subset of doc 1
    ).toDF("doc_id", "text")
    // Jaccard = 8/18 ≈ 0.44 — below x4's 0.5 threshold
    assert(DedupQueries.x4Pairs(docs).isEmpty)
    // but doc 2 is fully contained in doc 1
    val c = DedupQueries.x11Pairs(docs).collect()
    assert(c.length == 1)
    assert(c.head.getLong(0) == 1L && c.head.getLong(1) == 2L)
    assert(c.head.getDouble(3) == 1.0, "containment of the subset doc must be 1.0")
    assert(math.abs(c.head.getDouble(2) - 8.0 / 18.0) < 1e-12)
  }

  test("x12: contamination hits pair a non-eval doc with an eval doc, >= K shared") {
    DedupQueries.x12Contamination(spark, sf001).collect().foreach { r =>
      assert(r.getLong(0) % 20 != 0, "corpus side leaked an eval doc")
      assert(r.getLong(1) % 20 == 0, "eval side contains a non-eval doc")
      assert(r.getLong(2) >= 5)
    }
  }

  test("c3: the composed blend is bounded by its stages") {
    val blend = DedupQueries.c3CorpusBlend(spark, sf001).collect()
    assert(blend.nonEmpty)
    // per-lang totals can't exceed the sample-only counts (c2 applies no
    // quality filter and no dedup)
    val c2 = graft.queries.CoreQueries.c2StratifiedSample(spark, sf001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    blend.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val n = rows.map(_.getAs[Long]("n_docs")).sum
      assert(n <= c2.getOrElse(lang, 0L), s"$lang: blend $n > sampled ${c2.get(lang)}")
    }
    blend.foreach(r => assert(r.getAs[Long]("total_ws_tokens") >= r.getAs[Long]("n_docs")))
  }

  test("c4: decontaminated blend is bounded by c3 and excludes eval/contaminated docs") {
    val c3 = DedupQueries.c3CorpusBlend(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val c4 = DedupQueries.c4DecontaminatedBlend(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // every c4 stratum exists in c3 with at-least-as-many docs/tokens
    c4.foreach { case (k, (n4, t4)) =>
      val (n3, t3) = c3.getOrElse(k, fail(s"stratum $k in c4 but not c3"))
      assert(n4 <= n3 && t4 <= t3, s"stratum $k grew after decontamination")
    }
    // the filter provably removes something at this SF (x12 is non-empty)
    assert(DedupQueries.x12Contamination(spark, sf001).count() > 0)
    assert(c4.values.map(_._1).sum <= c3.values.map(_._1).sum)
  }

  test("c3 seam: exhaustive-edge reps ⊆ LSH-edge reps; per-stratum blend bound holds") {
    val docs = graft.Tables(spark, sf001, "documents")
    val exhaustiveReps = DedupQueries.x9DedupClusters(spark, sf001)
      .filter(col("doc_id") === col("cluster_id")).select("doc_id")
    val lshReps = DedupQueries.x9ClustersFrom(
        docs, DedupQueries.x2MinhashLsh(spark, sf001).select("doc_a", "doc_b"))
      .filter(col("doc_id") === col("cluster_id")).select("doc_id")
    val exhSet = exhaustiveReps.collect().map(_.getLong(0)).toSet
    val lshSet = lshReps.collect().map(_.getLong(0)).toSet
    // LSH edges ⊆ exhaustive edges ⇒ LSH clusters are FINER ⇒ every coarse
    // cluster's minimum is still the minimum of its finer subcluster
    assert(exhSet.subsetOf(lshSet),
      s"exhaustive reps not contained in LSH reps: ${exhSet diff lshSet}")
    // the declared query ≡ the seam fed with its default reps
    val viaSeam = DedupQueries.c3CorpusBlendFrom(docs, exhaustiveReps).collect()
    val declared = DedupQueries.c3CorpusBlend(spark, sf001).collect()
    assert(viaSeam.map(_.toString).toSeq == declared.map(_.toString).toSeq)
    // per-stratum: the LSH-edge (production) blend bounds the exhaustive
    // one from above — more representatives survive the finer clustering
    val lshBlend = DedupQueries.c3CorpusBlendLsh(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    declared.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      val (nL, tL) = lshBlend.getOrElse(k, fail(s"stratum $k missing from LSH blend"))
      assert(r.getLong(2) <= nL && r.getLong(3) <= tL,
        s"stratum $k: exhaustive blend exceeds LSH blend")
    }
  }

  test("verified minhash admission: banding false positive admitted, near-dup blocked, replay converges") {
    import spark.implicits._
    // Deterministically FIND a banding false positive: a variant sharing a
    // band bucket with the base text while its exact 3-gram Jaccard is below
    // the threshold. Fixed inputs + fixed hashing ⇒ same result every run.
    val baseToks = (1 to 40).map(i => s"tok$i")
    val base = baseToks.mkString(" ")
    def sh3(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    def jac(a: String, b: String) =
      (sh3(a) intersect sh3(b)).size.toDouble / (sh3(a) union sh3(b)).size
    val variants = (1 to 300).map { i =>
      // swap ~1/4 of the tokens, pattern varying with i
      val toks = baseToks.zipWithIndex.map { case (t, j) =>
        if ((j * 7 + i) % 4 == 0) s"alt${i}_$j" else t
      }
      (i.toLong, toks.mkString(" "))
    }
    val all = (Seq((0L, base)) ++ variants).toDF("doc_id", "text")
    val buckets = DedupQueries.bandBuckets(DedupQueries.shingles(all))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
    val baseBuckets = buckets.filter(_._1 == 0L).map(_._2).toSet
    val colliding = buckets.collect {
      case (id, b) if id != 0L && baseBuckets(b) => id
    }.distinct
    val fpId = colliding.find(i => jac(base, variants(i.toInt - 1)._2) < 0.75)
    assert(fpId.isDefined,
      "no banding false positive among 300 variants — fixture assumption broke")
    val fpText = variants(fpId.get.toInt - 1)._2
    val nearDup = baseToks.updated(20, "CHANGED").mkString(" ")
    assert(jac(base, nearDup) > 0.8)

    val root = tempDir("graft_admit_verify")
    val index = s"$root/buckets"
    val corpus = s"$root/corpus"
    def sink(df: org.apache.spark.sql.DataFrame): Unit =
      IncrementalDedup.mergeIntoCorpus(spark, corpus, df)
    def corpusDf = graft.etl.SnapshotLake.read(spark, corpus).select("doc_id", "text")
    def corpusIds = corpusDf.select("doc_id").collect().map(_.getLong(0)).toSet

    // batch 1 admits the base (verified mode, empty corpus/index)
    val b1 = Seq((1000L, base)).toDF("doc_id", "text")
    assert(IncrementalDedup.admitAndCommitMinhashVerified(
      spark, index, b1, Seq.empty[(Long, String)].toDF("doc_id", "text"), sink) == 1L)
    assert(corpusIds == Set(1000L))

    // batch 2: the banding false positive (bucket-collides with base,
    // J < 0.8) and a true near-dup (J > 0.8). The recall-oriented gate
    // drops the false positive; the verified gate admits it and still
    // blocks the near-dup.
    val b2 = Seq((2000L, fpText), (2001L, nearDup)).toDF("doc_id", "text")
    val recallAdmitted = IncrementalDedup.novelByMinhash(spark, index, b2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!recallAdmitted.contains(2000L),
      "recall-mode gate should suspect the bucket-colliding false positive")
    assert(IncrementalDedup.admitAndCommitMinhashVerified(
      spark, index, b2, corpusDf, sink) == 1L)
    assert(corpusIds == Set(1000L, 2000L))

    // replay after success: the admitted doc's own buckets confirm J = 1.0
    assert(IncrementalDedup.admitAndCommitMinhashVerified(
      spark, index, b2, corpusDf, sink) == 0L)
    assert(corpusIds == Set(1000L, 2000L))
  }

  test("x15: coverage in [0,1], covers every doc, and planted near-dups score high") {
    val cov = DedupQueries.x15DupSpanCoverage(spark, sf001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val nDocs = graft.Tables(spark, sf001, "documents").count()
    assert(cov.size == nDocs, "one row per document, including zero-coverage docs")
    cov.values.foreach { case (nTok, nDup, c) =>
      assert(nDup >= 0 && nDup <= nTok)
      assert(c >= 0.0 && c <= 1.0)
    }
    // the planted x4 near-dup pairs share long runs ⇒ both sides must show
    // substantial duplicated-span coverage
    val pairs = DedupQueries.x4NgramJaccard(spark, sf001).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      Seq(r.getLong(0), r.getLong(1)).foreach { id =>
        assert(cov(id)._3 > 0.5, s"near-dup doc $id has coverage ${cov(id)._3}")
      }
    }
  }

  test("x16: source-overlap matrix matches a driver-side span-set replay") {
    val rows = DedupQueries.x16SourceOverlap(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // replay: per-source distinct 8-token span sets, pairwise intersections
    val spanSets = graft.Tables(spark, sf001, "documents")
      .select("source", "text").collect()
      .groupBy(_.getString(0))
      .map { case (src, docs) =>
        src -> docs.toSeq.flatMap { r =>
          val ws = r.getString(1).split(" ", -1)
          if (ws.length < 8) Seq.empty[String]
          else (0 to ws.length - 8).map(i => ws.slice(i, i + 8).mkString(" "))
        }.toSet
      }
    val sources = spanSets.keys.toSeq.sorted
    val expected = (for {
      i <- sources.indices; j <- (i + 1) until sources.length
      (s1, s2) = (sources(i), sources(j))
      shared = (spanSets(s1) & spanSets(s2)).size
      if shared > 0
    } yield (s1, s2) -> (shared.toLong, spanSets(s1).size.toLong, spanSets(s2).size.toLong)).toMap
    assert(rows.keySet == expected.keySet,
      s"pair sets differ: ${(rows.keySet diff expected.keySet) ++ (expected.keySet diff rows.keySet)}")
    expected.foreach { case (k, (shared, n1, n2)) =>
      val (gShared, gN1, gN2, gJ) = rows(k)
      assert((gShared, gN1, gN2) == ((shared, n1, n2)), s"$k: ($gShared,$gN1,$gN2) vs ($shared,$n1,$n2)")
      assert(math.abs(gJ - shared.toDouble / (n1 + n2 - shared)) < 1e-12)
    }
  }

  test("x17: novelty matches a driver-side span-set replay on the doc_id split") {
    val rows = DedupQueries.x17IncrementalNovelty(spark, sf001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val docs = graft.Tables(spark, sf001, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def spanSet(text: String): Set[String] = {
      val ws = text.split(" ", -1)
      if (ws.length < 8) Set.empty
      else (0 to ws.length - 8).map(i => ws.slice(i, i + 8).mkString(" ")).toSet
    }
    val oldSpans = docs.filter(_._1 % 2 == 0).flatMap(d => spanSet(d._2)).toSet
    val expected = docs.filter(_._1 % 2 == 1)
      .map { case (id, text) => id -> spanSet(text) }
      .filter(_._2.nonEmpty)
      .map { case (id, sp) => id -> (sp.size.toLong, (sp diff oldSpans).size.toLong) }
      .toMap
    assert(rows.keySet == expected.keySet)
    expected.foreach { case (id, (n, novel)) =>
      val (gN, gNovel, gF) = rows(id)
      assert((gN, gNovel) == ((n, novel)), s"doc $id: ($gN,$gNovel) vs ($n,$novel)")
      assert(math.abs(gF - novel.toDouble / n) < 1e-12)
    }
    // both regimes must exist in the fixture, or the test proves nothing
    assert(rows.values.exists(_._3 < 1.0), "no doc shares any span with the snapshot")
    assert(rows.values.exists(_._3 > 0.0), "no doc adds any novel span")
  }

  test("incremental admission: novel-only, replay-safe, crash-window converges") {
    import spark.implicits._
    val root = tempDir("graft_admit")
    val index = s"$root/index"
    val corpus = s"$root/corpus"
    def sink(df: org.apache.spark.sql.DataFrame): Unit =
      IncrementalDedup.mergeIntoCorpus(spark, corpus, df)
    def corpusIds: Set[Long] =
      graft.etl.SnapshotLake.read(spark, corpus).select("doc_id").collect()
        .map(_.getLong(0)).toSet

    // the index dir EXISTS but holds no data files (≙ a crash during the
    // very first append) — the pinned-schema read must treat it as empty,
    // not wedge on schema inference
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(index))

    // batch 1: one internal duplicate (1L/2L share text) → canonical = min id
    val b1 = Seq((1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma delta"))
      .toDF("doc_id", "text")
    assert(IncrementalDedup.admitAndCommit(spark, index, b1, sink) == 2L)
    assert(corpusIds == Set(1L, 3L))

    // batch 2: one cross-batch duplicate (text of doc 1), one novel doc
    val b2 = Seq((10L, "alpha beta"), (11L, "epsilon zeta")).toDF("doc_id", "text")
    assert(IncrementalDedup.admitAndCommit(spark, index, b2, sink) == 1L)
    assert(corpusIds == Set(1L, 3L, 11L))

    // replay of batch 2 after success: admits nothing, changes nothing
    assert(IncrementalDedup.admitAndCommit(spark, index, b2, sink) == 0L)
    assert(corpusIds == Set(1L, 3L, 11L))

    // crash window: sink persisted but the index append never happened —
    // replaying the batch must converge, not lose or duplicate documents
    val b3 = Seq((20L, "eta theta")).toDF("doc_id", "text")
    intercept[RuntimeException] {
      IncrementalDedup.admitAndCommit(spark, index, b3, df => {
        sink(df); throw new RuntimeException("crash before index append")
      })
    }
    assert(corpusIds == Set(1L, 3L, 11L, 20L), "sink write survived the crash")
    assert(IncrementalDedup.admitAndCommit(spark, index, b3, sink) == 1L,
      "index lacked the hash, so the replay re-admits and commits it")
    assert(corpusIds == Set(1L, 3L, 11L, 20L), "idempotent sink converged")
    assert(IncrementalDedup.admitAndCommit(spark, index, b3, sink) == 0L)
  }

  test("corpus admission: one generation per admitting batch; readAt keeps the pre-admit corpus") {
    import spark.implicits._
    import graft.etl.SnapshotLake
    val root = tempDir("graft_admit_gen")
    val index = s"$root/index"
    val corpus = s"$root/corpus"
    def sink(df: org.apache.spark.sql.DataFrame): Unit =
      IncrementalDedup.mergeIntoCorpus(spark, corpus, df)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    def current = SnapshotLake.currentManifest(spark, corpus)

    val b1 = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    assert(IncrementalDedup.admitAndCommit(spark, index, b1, sink) == 2L)
    assert(current.map(_.gen).contains(1L))
    // doc 3 duplicates doc 1's text; 17 shares doc 1's bucket, 19 opens bucket 3
    val b2 = Seq((3L, "alpha beta"), (17L, "epsilon zeta"), (19L, "eta theta"))
      .toDF("doc_id", "text")
    assert(IncrementalDedup.admitAndCommit(spark, index, b2, sink) == 2L)
    val g2 = current.get
    assert(g2.gen == 2L, "one admitting batch publishes exactly one generation")
    assert(ids(SnapshotLake.read(spark, corpus)) == Set(1L, 2L, 17L, 19L))
    assert(ids(SnapshotLake.readAt(spark, corpus, 1L)) == Set(1L, 2L),
      "the previous generation is the pre-admit corpus")
    // only the touched buckets were rewritten: doc 2's bucket keeps gen 1
    assert(g2.entries.map(e => e.value -> e.gen).toMap ==
      Map("1" -> 2L, "2" -> 1L, "3" -> 2L))
    // a replay admits 0 and publishes nothing
    assert(IncrementalDedup.admitAndCommit(spark, index, b2, sink) == 0L)
    assert(current.map(_.gen).contains(2L))
  }

  test("minhash admission: near-dups blocked across batches, distinct text admitted") {
    import spark.implicits._
    val root = tempDir("graft_admit_lsh")
    val index = s"$root/buckets"
    val corpus = s"$root/corpus"
    def sink(df: org.apache.spark.sql.DataFrame): Unit =
      IncrementalDedup.mergeIntoCorpus(spark, corpus, df)
    def corpusIds: Set[Long] =
      graft.etl.SnapshotLake.read(spark, corpus).select("doc_id").collect()
        .map(_.getLong(0)).toSet

    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 60).map(i => s"tok$i").updated(29, "CHANGED")).mkString(" ")
    val distinct = (1 to 60).map(i => s"other$i").mkString(" ")
    val sibDup = ((1 to 60).map(i => s"tok$i").updated(7, "ALSO")).mkString(" ")

    // batch 1: base + a within-batch near-dup sibling → only the lower id;
    // the 2-token doc is UNJUDGEABLE (no shingles) and must be excluded —
    // passing it through would make replay-after-success re-admit forever
    val b1 = Seq((1L, base), (2L, sibDup), (3L, "too short")).toDF("doc_id", "text")
    assert(IncrementalDedup.admitAndCommitMinhash(spark, index, b1, sink) == 1L)
    assert(corpusIds == Set(1L))

    // batch 2: a near-dup of the ADMITTED doc (cross-batch) + truly new text
    val b2 = Seq((10L, nearDup), (11L, distinct)).toDF("doc_id", "text")
    assert(IncrementalDedup.admitAndCommitMinhash(spark, index, b2, sink) == 1L)
    assert(corpusIds == Set(1L, 11L))

    // replay after success: the admitted doc's own buckets now block it
    assert(IncrementalDedup.admitAndCommitMinhash(spark, index, b2, sink) == 0L)
    assert(corpusIds == Set(1L, 11L))

    // sanity: the blocked pair really is a near-dup under x2's shingling
    def sh3(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val j = (sh3(base) intersect sh3(nearDup)).size.toDouble /
      (sh3(base) union sh3(nearDup)).size
    assert(j > 0.8, s"fixture pair not a near-dup under x2's definition: $j")
  }

  test("x18 decisions equal the production gate run against an even-half index") {
    val docs = graft.Tables(spark, sf001, "documents")
    // build a REAL bucket index from the even half, exactly as an admission
    // run would have left it
    val root = tempDir("graft_x18")
    val index = s"$root/buckets"
    DedupQueries.bandBuckets(DedupQueries.shingles(
        docs.filter(col("doc_id") % 2 === 0)))
      .select(col("band"), col("bh"), col("doc_id").as("canonical_id"))
      .write.parquet(index)
    val gateAdmitted = IncrementalDedup.novelByMinhash(
        spark, index, docs.filter(col("doc_id") % 2 === 1))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val x18 = DedupQueries.x18LshAdmission(spark, sf001).collect()
    val x18Admitted = x18.filter(_.getAs[Int]("admitted") == 1)
      .map(_.getLong(0)).toSet
    assert(x18Admitted == gateAdmitted,
      s"query and gate disagree: ${(x18Admitted diff gateAdmitted) ++ (gateAdmitted diff x18Admitted)}")
    // decision algebra: admitted == neither suspicion fired
    x18.foreach { r =>
      assert(r.getAs[Int]("admitted") ==
        (if (r.getAs[Int]("suspected_index") == 0 && r.getAs[Int]("suspected_sibling") == 0) 1 else 0))
    }
    // both outcomes must occur or the fixture proves nothing
    assert(x18Admitted.nonEmpty && x18Admitted.size < x18.length)
  }

  test("x19 decisions equal the verified production gate; precision admits a superset of x18") {
    val docs = graft.Tables(spark, sf001, "documents")
    val root = tempDir("graft_x19")
    val index = s"$root/buckets"
    DedupQueries.bandBuckets(DedupQueries.shingles(
        docs.filter(col("doc_id") % 2 === 0)))
      .select(col("band"), col("bh"), col("doc_id").as("canonical_id"))
      .write.parquet(index)
    val gateAdmitted = IncrementalDedup.novelByMinhashVerified(
        spark, index, docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val x19 = DedupQueries.x19LshAdmissionVerified(spark, sf001).collect()
    val x19Admitted = x19.filter(_.getAs[Int]("admitted") == 1)
      .map(_.getLong(0)).toSet
    assert(x19Admitted == gateAdmitted,
      s"query and verified gate disagree: ${(x19Admitted diff gateAdmitted) ++ (gateAdmitted diff x19Admitted)}")
    // decision algebra: admitted == !confirmed; confirmed implies suspected
    x19.foreach { r =>
      assert(r.getAs[Int]("admitted") ==
        (if (r.getAs[Int]("confirmed_dup") == 0) 1 else 0))
      assert(r.getAs[Int]("confirmed_dup") <= r.getAs[Int]("suspected"))
    }
    // precision mode can only rescue, never drop more than the recall gate
    val x18Admitted = DedupQueries.x18LshAdmission(spark, sf001).collect()
      .filter(_.getAs[Int]("admitted") == 1).map(_.getLong(0)).toSet
    assert(x18Admitted.subsetOf(x19Admitted))
    info(s"precision mode rescued ${(x19Admitted diff x18Admitted).size} " +
      s"banding false positive(s) of ${x19.length} judged docs")
    assert(x19Admitted.nonEmpty && x19Admitted.size < x19.length,
      "fixture must exercise both outcomes")
  }

  test("x20: pigeonhole-blocked pairs equal brute-force hamming <= 3") {
    // The 4x16-bit Manku blocking must lose NOTHING at k <= 3: the blocked
    // equi-join's output is exactly the all-pairs hamming filter, replayed
    // here on the driver over x3's collected fingerprints.
    val fps = DedupQueries.x3Simhash(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = (for {
      (a, ha, la) <- fps
      (b, hb, lb) <- fps if a < b
      h = java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb)
      if h <= 3
    } yield (a, b, h.toLong)).toSet
    val got = DedupQueries.x20SimhashPairs(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected.nonEmpty, "fixture must contain hamming<=3 fingerprint pairs")
    assert(got == expected,
      s"blocked != brute-force: missing=${(expected diff got).take(5)} " +
        s"extra=${(got diff expected).take(5)}")
  }

  test("x20: k > 3 is rejected — blocking can't guarantee recall past the pigeonhole bound") {
    intercept[IllegalArgumentException] {
      DedupQueries.x20SimhashPairs(spark, sf001, k = 4)
    }
  }

  test("x20: an independent 8x8 pigeonhole split derives the identical pair set") {
    // different join keys, different candidate sets, same exactness
    // guarantee — this is the twin VerifySf1 replays at the 10x point
    val fp = DedupQueries.x3Simhash(spark, sf001)
    val four = DedupQueries.x20SimhashPairs(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val eight = DedupQueries.simhashPairsBlocked(fp, 3, nBlocks = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(four.nonEmpty && four == eight,
      s"blockings disagree: only4=${(four diff eight).take(5)} only8=${(eight diff four).take(5)}")
    // the pigeonhole bound itself is enforced for any split
    intercept[IllegalArgumentException] {
      DedupQueries.simhashPairsBlocked(fp, 8, nBlocks = 8)
    }
    intercept[IllegalArgumentException] {
      DedupQueries.simhashPairsBlocked(fp, 3, nBlocks = 7) // 7 does not divide 64
    }
    intercept[IllegalArgumentException] {
      // nBlocks=1 passed the old guard (64%1==0, 1>0) but divides by zero
      // in the shift math (perHalf=0) — the domain is nBlocks >= 2
      DedupQueries.simhashPairsBlocked(fp, 0, nBlocks = 1)
    }
  }

  test("x21: estimates are lane-consistent and cover every x2-verified pair") {
    val est = DedupQueries.x21MinhashEstimate(spark, sf001).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2), r.getDouble(3)))
    assert(est.nonEmpty)
    // est_jaccard is EXACTLY matching_lanes/24 and lanes are in [0, 24];
    // a shared band hash is a weighted sum, so it does NOT force equal
    // lanes — zero-lane candidates are legal banding false positives.
    est.foreach { case (p, lanes, e) =>
      assert(lanes >= 0 && lanes <= 24, s"$p lanes=$lanes")
      assert(e == lanes.toDouble / 24, s"$p est=$e lanes=$lanes")
    }
    // The candidate universe is x2's: every verified near-dup pair gets an
    // estimate (the no-second-pass fallback can stand in for the verify).
    val verified = DedupQueries.x2MinhashLsh(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val candidates = est.map(_._1).toSet
    assert(verified.nonEmpty && verified.subsetOf(candidates))
    // And on the verified (exact-jaccard >= 0.8) pairs the estimator must
    // lean high: 24 lanes at j >= 0.8 straying below 0.5 would be a >3-sigma
    // event per pair — a systematic miss means the lanes drifted.
    val verifiedEst = est.filter(e => verified(e._1)).map(_._3)
    assert(verifiedEst.forall(_ >= 0.5),
      s"verified pairs estimated low: ${verifiedEst.filter(_ < 0.5).mkString(",")}")
  }

  test("x22 decisions equal the estimate production gate; estimate agrees with exact verify here") {
    val docs = graft.Tables(spark, sf001, "documents")
    val root = tempDir("graft_x22")
    val idx = s"$root/buckets"
    // index ALL even docs (the "snapshot") in the lane-carrying format the
    // admission path writes (x19-spec pattern: the full split, so the query's
    // in-memory even side and the gate's index agree)
    DedupQueries.bandedLanes(DedupQueries.shingles(
        docs.filter(col("doc_id") % 2 === 0)))
      .select(col("band"), col("bh"), col("doc_id").as("canonical_id"),
        col("l0"), col("l1"), col("l2"))
      .write.parquet(idx)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    val gateAdmitted = IncrementalDedup.novelByMinhashEstimated(spark, idx, odd)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val x22 = DedupQueries.x22LshAdmissionEstimated(spark, sf001).collect()
    val x22Admitted = x22.filter(_.getAs[Int]("admitted") == 1)
      .map(_.getLong(0)).toSet
    assert(x22Admitted == gateAdmitted,
      s"query and estimate gate disagree: ${(x22Admitted diff gateAdmitted) ++ (gateAdmitted diff x22Admitted)}")
    // decision algebra: admitted == !confirmed; confirmed implies suspected
    x22.foreach { r =>
      assert(r.getAs[Int]("admitted") ==
        (if (r.getAs[Int]("confirmed_dup") == 0) 1 else 0))
      assert(r.getAs[Int]("confirmed_dup") <= r.getAs[Int]("suspected"))
    }
    // on this fixture the zero-text-pass estimate reaches the SAME decisions
    // as x19's exact-Jaccard verify — including rescuing the banding false
    // positive (lane est 3/24 vs exact j 0.017, both far from threshold)
    val x19Admitted = DedupQueries.x19LshAdmissionVerified(spark, sf001).collect()
      .filter(_.getAs[Int]("admitted") == 1).map(_.getLong(0)).toSet
    assert(x22Admitted == x19Admitted)
    // replay after success admits 0: every admitted doc now collides with
    // its own indexed buckets at 24/24 matching lanes
    IncrementalDedup.admitAndCommitMinhashEstimated(spark, idx, odd, _ => ())
    assert(IncrementalDedup.admitAndCommitMinhashEstimated(spark, idx, odd, _ => ()) == 0L)
  }

  test("bucket-index compaction: gate decisions identical before and after") {
    import spark.implicits._
    val root = tempDir("graft_icompact")
    val idx = s"$root/buckets"
    val texts = Seq(
      "one two three four five six seven eight nine ten eleven twelve " +
        "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty",
      "red orange yellow green blue indigo violet crimson amber teal " +
        "maroon ochre cyan magenta silver golden bronze copper pearl jade",
      "north south east west summit valley river delta canyon plateau " +
        "glacier tundra savanna prairie marsh lagoon archipelago isthmus fjord cove",
      "allegro adagio crescendo staccato legato forte piano sonata fugue " +
        "etude prelude nocturne rhapsody overture symphony concerto aria cadenza")
    // several small admits of genuinely distinct docs — each append leaves
    // its own file(s)
    texts.zipWithIndex.foreach { case (t, i) =>
      IncrementalDedup.admitAndCommitMinhash(spark, idx,
        Seq((i * 10L, t)).toDF("doc_id", "text"), _ => ())
    }
    val probe = Seq(
      (100L, texts.head.replace("twenty", "thirty")),   // near-dup of doc 0
      (101L, "totally unrelated fresh material about deep ocean currents " +
        "and the migratory paths of arctic seabirds across winter months"))
      .toDF("doc_id", "text")
    val beforeEst = IncrementalDedup.novelByMinhashEstimated(spark, idx, probe)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val beforeRec = IncrementalDedup.novelByMinhash(spark, idx, probe)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val report = graft.etl.Upsert.compactParquetDir(spark, idx,
      targetBytes = 1L << 30, minFilesToCompact = 1)
    assert(report.exists(r => r._1 > 1 && r._2 == 1), s"expected a collapse: $report")
    // identical decisions through the compacted index, lanes intact
    assert(IncrementalDedup.novelByMinhashEstimated(spark, idx, probe)
      .select("doc_id").collect().map(_.getLong(0)).toSet == beforeEst)
    assert(IncrementalDedup.novelByMinhash(spark, idx, probe)
      .select("doc_id").collect().map(_.getLong(0)).toSet == beforeRec)
    assert(beforeEst == Set(101L), s"near-dup 100 must stay blocked: $beforeEst")
    // and admission composes with the compacted layout
    assert(IncrementalDedup.admitAndCommitMinhashEstimated(
      spark, idx, probe, _ => ()) == 1L)
  }

  test("estimate gate confirms conservatively when the index predates lane storage") {
    val docs = graft.Tables(spark, sf001, "documents")
    val root = tempDir("graft_x22old")
    val idx = s"$root/buckets"
    // hand-write an OLD-format index (no lane columns) for the even docs
    DedupQueries.bandBuckets(DedupQueries.shingles(
        docs.filter(col("doc_id") % 2 === 0)))
      .select(col("band"), col("bh"), col("doc_id").as("canonical_id"))
      .write.parquet(idx)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    val est = IncrementalDedup.novelByMinhashEstimated(spark, idx, odd)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // index lanes unreadable => every index collision confirms (the
    // recall-oriented fallback): no index-only suspect may be admitted,
    // so the banding false positive is NOT rescued without lanes ...
    val x18 = DedupQueries.x18LshAdmission(spark, sf001).collect()
    val idxSuspects = x18.filter(_.getAs[Int]("suspected_index") == 1)
      .map(_.getLong(0)).toSet
    assert((est intersect idxSuspects).isEmpty)
    // ... while sibling collisions still estimate (batch lanes always
    // exist), so the gate admits no less than the recall gate
    val recall = IncrementalDedup.novelByMinhash(spark, idx, odd)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(recall.subsetOf(est))
  }

  test("x3: near-identical docs have small simhash hamming distance") {
    // the planted x4 near-dup pairs should be close in simhash space
    val pairs = DedupQueries.x4NgramJaccard(spark, sf001)
      .filter(col("jaccard") >= 0.9).select("doc_a", "doc_b").collect()
    val sim = DedupQueries.x3Simhash(spark, sf001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1) << 32) | r.getLong(2))).toMap
    val dists = pairs.map { r =>
      java.lang.Long.bitCount(sim(r.getLong(0)) ^ sim(r.getLong(1)))
    }
    assert(dists.nonEmpty && dists.forall(_ <= 16), s"hamming: ${dists.mkString(",")}")
  }

  test("c11: every survivor is its cluster's max-quality member; clusters partition the corpus") {
    import org.apache.spark.sql.functions._
    val survivors = DedupQueries.c11Survivorship(spark, sf001).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("survivor"),
        r.getAs[Long]("n_members"), r.getAs[Double]("best_score"))).toMap
    val clusters = DedupQueries.x9DedupClusters(spark, sf001)
    val scored = graft.Tables(spark, sf001, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        graft.queries.CoreQueries.qualityScoreExpr.as("q"))
    val members = clusters.join(scored, "doc_id").collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("doc_id"), r.getAs[Double]("q")))
      .groupBy(_._1)
    assert(survivors.keySet == members.keySet)
    assert(survivors.values.map(_._2).sum ==
      graft.Tables(spark, sf001, "documents").count(), "clusters must partition the corpus")
    members.foreach { case (cid, ms) =>
      val (surv, n, best) = survivors(cid)
      assert(n == ms.length.toLong, s"cluster $cid member count")
      val want = ms.map(m => (m._3, -m._2)).max // (quality desc, doc_id asc)
      assert(ms.find(_._2 == surv).exists(m => (m._3, -m._2) == want),
        s"cluster $cid survivor $surv is not the max-quality member")
      val wantBest = BigDecimal(ms.map(_._3).max)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble // Spark round()
      assert(best == wantBest, s"cluster $cid best_score")
    }
  }

  test("x9c fold law: any batch grouping equals the one-shot connected components") {
    import spark.implicits._
    // random graph over 90 nodes; an edge arrives with its LAST endpoint
    // (the admission model: pairs are discovered when the newer doc lands)
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(160)((rnd.nextInt(90).toLong, rnd.nextInt(90).toLong))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val nodes = (0L until 90L)
    val want = DedupQueries.x9ClustersFrom(
        nodes.toDF("doc_id"), edges.toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (cuts <- Seq(Seq(30L, 60L), Seq(20L, 45L, 70L))) {
      val bounds = (Seq(0L) ++ cuts :+ 90L).sliding(2).toSeq
      val batches = bounds.map { case Seq(lo, hi) =>
        (nodes.filter(d => d >= lo && d < hi),
          // edge arrives in the batch of its max endpoint
          edges.filter(e => e._2 >= lo && e._2 < hi))
      }
      val h0 = DedupQueries.x9ClustersFrom(
        batches.head._1.toDF("doc_id"), batches.head._2.toDF("doc_a", "doc_b"))
      val folded = batches.tail.foldLeft(h0) { case (labels, (nd, ed)) =>
        DedupQueries.x9cFoldClusters(labels,
          nd.toDF("doc_id"), ed.toDF("doc_a", "doc_b"))
      }
      val got = folded.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"fold over ${batches.size} batches drifted")
    }
  }

  test("x9c: a single new edge merging two big clusters relabels the whole loser") {
    import spark.implicits._
    // clusters {0..9} and {10..19}, labels 0 and 10; the bridge edge (9,19)
    // arrives with doc 20 — every member of cluster 10 must relabel to 0
    val c1 = (0L to 9L).sliding(2).map(s => (s(0), s(1))).toSeq
    val c2 = (10L to 19L).sliding(2).map(s => (s(0), s(1))).toSeq
    val labels0 = DedupQueries.x9ClustersFrom(
      (0L to 19L).toDF("doc_id"), (c1 ++ c2).toDF("doc_a", "doc_b"))
    val folded = DedupQueries.x9cFoldClusters(labels0,
      Seq(20L).toDF("doc_id"),
      Seq((9L, 19L), (19L, 20L)).toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0L to 20L).forall(folded(_) == 0L),
      s"all 21 docs must land in cluster 0: $folded")
    // and the relabel pass must be a broadcast of the contracted mapping,
    // never a corpus-keyed shuffle join
    val p = DedupQueries.x9cFoldClusters(labels0, Seq(20L).toDF("doc_id"),
      Seq((9L, 19L), (19L, 20L)).toDF("doc_a", "doc_b"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "label relabel must broadcast the batch-bounded mapping:\n" + p)
  }

  test("x9c: edges to unknown docs are dropped by the resolve join (documented contract)") {
    import spark.implicits._
    val labels0 = DedupQueries.x9ClustersFrom(
      Seq(1L, 2L).toDF("doc_id"), Seq((1L, 2L)).toDF("doc_a", "doc_b"))
    // edge (2, 99): 99 is neither labeled nor in the batch — must not
    // invent a node or crash; the known world keeps its labels
    val folded = DedupQueries.x9cFoldClusters(labels0,
      Seq(3L).toDF("doc_id"), Seq((2L, 99L), (2L, 3L)).toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(folded == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("x17b: bloom-pruned novelty equals x17 exactly, even at a pathological fpp") {
    import org.apache.spark.sql.functions._
    val exact = DedupQueries.x17IncrementalNovelty(spark, sf001).collect().map(_.toSeq)
    assert(exact.nonEmpty)
    // default fpp: the production configuration
    val bloomed = DedupQueries.x17bNoveltyBloom(spark, sf001).collect().map(_.toSeq)
    assert(bloomed.toSeq == exact.toSeq, "bloom gate changed the result")
    // fpp≈0.9 floods the hit set with false positives — every one must be
    // rescued by the exact verification join, so the result is fpp-INVARIANT
    val docs = graft.Tables(spark, sf001, "documents")
      .withColumn("ws", split(col("text"), " "))
    val flooded = DedupQueries.x17bNoveltyBloomFrom(spark,
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0), 8, fpp = 0.9)
      .collect().map(_.toSeq)
    assert(flooded.toSeq == exact.toSeq, "false positives escaped the rescue join")
  }
}
