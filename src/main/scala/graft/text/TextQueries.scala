package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators over `documents` (doc_id, text, lang, source,
  * n_chars): language ID (stopword-hit heuristic), quality scoring, token
  * counting (whitespace + BPE-ish regex), and content fingerprinting
  * (normalized sha256 + polynomial rolling hash).
  *
  * Everything is a single narrow projection pass — no shuffle except the
  * final presentation sort — so these stream at parquet-scan speed on any
  * corpus size. All expressions are chosen for exact DuckDB parity
  * (integer arithmetic, md5/sha256 hex, same regex class syntax).
  */
object TextQueries {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Stopword dictionaries for the n-gram/stopword language heuristic. */
  val langDicts: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "los", "y", "es", "un"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans"))

  private def hitCount(toks: Column, dict: Seq[String]): Column = {
    val arr = s"array(${dict.map(w => s"'$w'").mkString(",")})"
    expr(s"size(filter(${toks.toString()}, x -> array_contains($arr, x)))")
  }

  /** T-langid — predicted language = argmax stopword hits with a fixed
    * tie-break order (en > de > es > fr > und). Scores are also emitted so
    * the heuristic is inspectable.
    */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
    val withScores = langDicts.foldLeft(scored) { case (df, (lang, dict)) =>
      df.withColumn(s"s_$lang", hitCount(col("toks"), dict).cast("long"))
    }
    withScores
      .withColumn("predicted_lang",
        expr("""CASE
            WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
            WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
            WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
            WHEN s_es >= s_fr THEN 'es'
            ELSE 'fr' END"""))
      .select(col("doc_id"), col("lang").as("labeled_lang"), col("predicted_lang"),
        col("s_en"), col("s_de"), col("s_es"), col("s_fr"))
      .orderBy("doc_id")
  }

  /** T-quality — length/punctuation/stopword-ratio quality score: the
    * standard cheap pre-filter in LLM data pipelines. Ratios are exact
    * integer-over-integer double divisions for cross-engine parity.
    */
  def quality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("n_char", length(col("text")).cast("long"))
      .withColumn("n_alpha", length(regexp_replace(col("text"), "[^a-z]", "")).cast("long"))
      .withColumn("n_stop",
        expr("CAST(size(filter(toks, x -> array_contains(array('the','a','of','and','to','is','in'), x))) AS BIGINT)"))
      .select(
        col("doc_id"), col("n_char"), col("n_tok"),
        (col("n_char").cast("double") / col("n_tok")).as("avg_tok_len"),
        (col("n_alpha").cast("double") / col("n_char")).as("alpha_ratio"),
        (col("n_stop").cast("double") / col("n_tok")).as("stop_ratio"),
        // blended score: favor mid-length docs with real words
        ((col("n_alpha").cast("double") / col("n_char")) * 0.5 +
          (col("n_stop").cast("double") / col("n_tok")) * 0.3 +
          when(col("n_tok") >= 20 && col("n_tok") <= 200, 0.2).otherwise(0.0))
          .as("quality_score"))
      .orderBy("doc_id")

  /** T-tokens — whitespace token count plus a BPE-ish regex token count
    * (letter runs | digit runs | single punctuation), the standard proxy
    * for tokenizer cost before a real BPE pass.
    */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("bpeish_tokens"),
        length(col("text")).cast("long").as("n_chars_actual"))
      .orderBy("doc_id")

  /** T-fingerprint — content fingerprints: sha256 of whitespace-normalized
    * text, a 2-hex-char shard bucket (the partition key a 100 TB dedup
    * would shuffle on), and a polynomial rolling hash
    * (acc*131 + code) mod 1e9+7 over the characters.
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("norm", trim(regexp_replace(lower(col("text")), "\\s+", " ")))
      .select(
        col("doc_id"),
        sha2(col("norm"), 256).as("content_sha256"),
        substring(sha2(col("norm"), 256), 1, 2).as("shard_bucket"),
        expr("""aggregate(split(norm, ''), CAST(0 AS BIGINT),
                (acc, c) -> (acc * 131 + ascii(c)) % 1000000007)""").as("rolling_hash"))
      .orderBy("doc_id")

  /** T-ngram-freq — corpus-wide top-100 word bigrams: the frequency table a
    * tokenizer/contamination analysis starts from. Explode → one
    * hash-partitioned count (map-side partial agg absorbs the heavy hitters)
    * → top-k.
    */
  def ngramFreq(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> concat_ws(' ', ws[i-1], ws[i]))"))
        .as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(100)

  /** T-repetition — repetition-based quality signals (the Gopher/MassiveText
    * family of filters): duplicate-token fraction and the fraction of all
    * word bigrams taken by the single most frequent one. High values flag
    * boilerplate/spam docs that length or stopword ratios miss. The
    * per-token part is a narrow projection; the bigram part is two stacked
    * doc-keyed aggregates — shuffle-on-doc_id, nothing corpus².
    */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").withColumn("ws", split(col("text"), " "))
    val base = docs.select(col("doc_id"),
      size(col("ws")).cast("long").as("n_tok"),
      size(array_distinct(col("ws"))).cast("long").as("n_distinct"))
    val bigrams = docs
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> concat_ws(' ', ws[i-1], ws[i]))"))
        .as("bigram"))
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("top_bigram_n"), sum(col("n")).as("n_bigrams"))
    base.join(bigrams, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_tok")).as("dup_tok_ratio"),
        col("top_bigram_n"), col("n_bigrams"),
        (col("top_bigram_n").cast("double") / col("n_bigrams")).as("top_bigram_ratio"))
      .orderBy("doc_id")
  }

  /** T-lang-confusion — labeled vs predicted language counts: the eval-style
    * query that closes the loop on the T1 heuristic.
    */
  def langConfusion(s: SparkSession, dir: String): DataFrame =
    langId(s, dir)
      .groupBy(col("labeled_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("labeled_lang", "predicted_lang")

  /** T-tfidf — top-5 most informative terms per document by tf·(N/df)
    * weighting. The raw-ratio idf (N/df instead of log(N/df)) is chosen
    * deliberately: it ranks identically (log is monotone) while staying
    * EXACT across engines — ln() is correctly-rounded differently across
    * libm implementations and would flake the 4-dp hash gate at rounding
    * boundaries. Shapes: one (doc,term) aggregate, one term-keyed df
    * aggregate joined back (both shuffle-on-key), a broadcast scalar for N,
    * and a bounded top-5 window.
    */
  def tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * (col("n_docs") / col("df")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rnk")
  }

  /** T9 — per-source term-distribution drift: for every source, the terms
    * most over-represented relative to the whole corpus (drift ratio =
    * source term share / corpus term share), top 5 per source. This is the
    * curation telemetry that catches a source gone wrong — boilerplate
    * floods, template spam, scraper loops — before it skews the training
    * mix. Exactness: counts cast to double BEFORE multiplying (an int64
    * product of corpus-scale counts would overflow — ANSI Spark throws,
    * DuckDB widens to HUGEINT, and the engines diverge), then one product
    * and one division per side, the identical operation sequence in both
    * engines — no ratio-of-ratios, no transcendentals. Scale shape: (source, term)
    * and term-keyed counts (map-side partials; vocab-bounded, not
    * corpus-bounded), a broadcastable vocab join, and a per-source top-5
    * window over vocab-sized input. The min-count floor keeps rare-term
    * noise (share ratios of tiny counts) out of the ranking.
    */
  def termDrift(s: SparkSession, dir: String, minCount: Int = 20): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
    val bySource = toks.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("cnt_s"))
    val totals = bySource.groupBy(col("source")).agg(sum(col("cnt_s")).as("total_s"))
    val corpus = bySource.groupBy(col("term"))
      .agg(sum(col("cnt_s")).as("cnt_c"))
    val totalC = corpus.agg(sum(col("cnt_c")).as("total_c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("drift").desc, col("term"))
    bySource
      .filter(col("cnt_s") >= minCount)
      .join(totals, "source")
      .join(broadcast(corpus), "term")
      .crossJoin(broadcast(totalC))
      .withColumn("drift",
        (col("cnt_s").cast("double") * col("total_c").cast("double")) /
          (col("total_s").cast("double") * col("cnt_c").cast("double")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("source"), col("rnk"), col("term"), col("cnt_s"), col("cnt_c"),
        col("drift"))
      .orderBy("source", "rnk")
  }

  /** T10 — per-source lexical diversity (Gini–Simpson index):
    * `1 - Σ c_t² / C²`, the probability that two independently drawn tokens
    * from the source differ. A collapsing index is the cheapest detector of
    * scraper loops, template floods, and mode-collapsed synthetic data —
    * the per-source failure T9's drift ranking localizes to terms, this
    * reduces to one comparable scalar.
    *
    * Exactness: token counts are integers; the squared sum accumulates in
    * DECIMAL(38,0) (c² of a corpus-scale term count overflows int64 — ANSI
    * Spark would throw, DuckDB widens to HUGEINT, engines diverge), and the
    * ONLY division is the final double one, identical in both engines.
    * Scale shape: one (source, term) aggregate (map-side partials absorb
    * the heavy hitters), then a source-keyed reduce — vocab-bounded, never
    * corpus².
    */
  def lexicalDiversity(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct_terms"),
        // cast BEFORE multiplying: long*long would overflow for a term with
        // > ~3.04e9 occurrences in one source (a stopword at corpus scale)
        sum(col("c").cast("decimal(19,0)") * col("c").cast("decimal(19,0)"))
          .as("sum_sq"))
      .select(col("source"), col("n_tokens"), col("n_distinct_terms"),
        (lit(1.0) - col("sum_sq").cast("double") /
          (col("n_tokens").cast("double") * col("n_tokens").cast("double")))
          .as("simpson_diversity"))
      .orderBy("source")

  /** T11 — hashed-feature linear classifier inference (the fastText/CCNet/
    * DCLM quality-classifier shape): every token hashes into one of 1024
    * weight buckets, the document score is the mean bucket weight. Here the
    * weights are a deterministic function of the bucket id (a stand-in the
    * oracle can reproduce — a trained model replaces the weight formula with
    * a broadcast 1024-float array lookup, nothing else changes), because the
    * POINT is the execution shape: model inference over a 100 TB corpus as a
    * ZERO-SHUFFLE whole-stage-codegen'd projection — `aggregate` over the
    * token array, integer accumulation (exact across engines), one final
    * division. No UDF, no Python worker, no per-row JVM boxing.
    */
  def hashedClassifier(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        expr(
          """aggregate(toks, CAST(0 AS BIGINT),
               (acc, x) -> acc + (CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT) % 1024) % 21 - 10)""")
          .as("raw_score"))
      .withColumn("clf_score",
        col("raw_score").cast("double") / (col("n_tok").cast("double") * 10.0))
      .withColumn("keep", (col("raw_score") > 0).cast("int"))
      .orderBy("doc_id")

  /** T12 — BPE trainer inner loop: corpus-wide adjacent-symbol-pair counts
    * (Sennrich et al., ACL'16 — the statistic one merge iteration of
    * byte-pair-encoding vocabulary induction maximizes). Pre-tokenization
    * splits on spaces (pairs never cross word boundaries, the GPT-2
    * convention); every in-word adjacent character pair is counted and the
    * top 20 are ranked with a total (freq DESC, pair ASC) order so ties
    * are deterministic. Scale shape: pair extraction is a narrow codegen
    * projection (fan-out = chars/doc), the count is one keyed aggregate
    * with map-side partials, and the top-20 ranking runs over the ≤ |Σ|²
    * distinct pairs — alphabet-bounded, never corpus-bounded, and since
    * round 15 the cut is a TakeOrderedAndProject ([[globalTopK]]) so no
    * single partition ever sorts the whole pair table.
    */
  /** Global top-k over a counted key frame WITHOUT an unbounded
    * single-partition sort (round-15, verdict item 8): `orderBy + limit(k)`
    * plans as `TakeOrderedAndProject` — every partition keeps its k best
    * rows in a bounded heap and only `partitions × k` rows are merged, so
    * nothing ever sorts the whole vocab in one task (the row_number-window
    * formulation this replaces moved every distinct term to ONE partition).
    * `ord` must be a total order, so the selected set is identical to the
    * window cut by construction. Two rejected alternates, both measured
    * (numbers in OPTIMIZATION_r15.md): a typed mergeable top-k Aggregator
    * (0.1–0.2 s slower per query — per-row encoder traffic) and a
    * salt-bucketed two-window pre-cut (+0.3 s on t14 in bench context —
    * an extra exchange + window pass).
    */
  private def globalTopK(
      counted: DataFrame, k: Int, ord: Seq[Column]): DataFrame =
    counted.orderBy(ord: _*).limit(k)

  def t12BpePairStats(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents")
      .select(explode(expr(
        """flatten(transform(filter(split(text, ' '), w -> length(w) >= 2),
             w -> transform(sequence(1, length(w) - 1),
               i -> substring(w, CAST(i AS INT), 2))))""")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("freq"))
    // rank assignment runs AFTER the bounded cut: the row_number window
    // sees exactly 20 rows (limit-bounded at any corpus size)
    globalTopK(counts, 20, Seq(col("freq").desc, col("pair").asc))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("freq").desc, col("pair").asc)).cast("long"))
      .select(col("rk"), col("pair"), col("freq"))
      .orderBy("rk")
  }

  /** T13 — leave-one-out bigram novelty scoring (the corpus-trained LM
    * quality signal, CCNet-style, re-expressed with integer-exact
    * statistics): the corpus itself is the model — one bigram-keyed
    * aggregate, vocabulary²-bounded, never corpus-bounded — and each
    * document is scored against the model MINUS its own contribution:
    * a bigram is "novel" when no other document contains it
    * (`c_total == c_doc`), and `xdoc_hits` counts how often the doc's
    * distinct bigrams occur elsewhere. Low novelty → boilerplate/templated
    * text; high novelty → genuinely new content. A real pipeline swaps the
    * corpus counts for a reference-LM count table; the execution shape —
    * per-doc counts, a model aggregate, one bigram-keyed join back — is
    * identical.
    *
    * Exactness: every statistic is an integer sum; the ONLY division is
    * the final novelty ratio (int/int in IEEE double, identical across
    * engines). Log-likelihood scoring is deliberately NOT emitted: `ln` is
    * not required correctly-rounded by IEEE 754, so cross-engine libm
    * drift would break the hash gate — the integer sufficient statistics
    * carry the same signal.
    *
    * Scale shape: the per-doc bigram counts are one (doc, bigram)-keyed
    * aggregate with map-side partials; the model is a re-aggregation of
    * that SAME frame, so Catalyst's exchange reuse serves both from one
    * shuffle; the join back is bigram-keyed (model side vocab-bounded,
    * Zipf-hot keys are build-side and AQE-splittable). Nothing is ever
    * doc² or corpus².
    */
  def t13BigramNovelty(s: SparkSession, dir: String): DataFrame = {
    val docBg = t(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))"))
        .as("bigram"))
      .groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("c_doc"))
    val model = docBg.groupBy(col("bigram")).agg(sum(col("c_doc")).as("c_total"))
    docBg.join(model, "bigram")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c_doc")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        sum(when(col("c_total") === col("c_doc"), 1L).otherwise(0L)).as("novel_bigrams"),
        sum(col("c_total") - col("c_doc")).as("xdoc_hits"))
      .withColumn("novelty_rate",
        col("novel_bigrams").cast("double") / col("n_distinct_bigrams").cast("double"))
      .orderBy("doc_id")
  }

  /** T14 — tokenizer-vocabulary coverage / OOV-rate audit: the check a
    * pipeline runs before committing a tokenizer to a corpus (or a corpus
    * to a tokenizer) — what fraction of each document's tokens fall outside
    * the vocabulary? The "vocabulary" here is the corpus's own top-256
    * terms by frequency (ties broken by term, so the cut is total-order
    * deterministic); a real run swaps in the tokenizer's vocab file — the
    * execution shape is identical.
    *
    * Scale shape: term counting is one term-keyed map-side-combined
    * aggregate (T5's shape); the top-256 cut runs over the DISTINCT-TERM
    * table (vocab-bounded, never corpus-bounded) through
    * [[globalTopK]]'s TakeOrderedAndProject, so since round 15 no single
    * partition ever sorts the whole vocab; the coverage pass joins exploded tokens
    * against the 256-row vocab BROADCAST, so the corpus-side cost is one
    * narrow map + one doc-keyed aggregate. The only division is the final
    * per-doc rate.
    */
  def t14VocabCoverage(s: SparkSession, dir: String, vocabSize: Int = 256): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    // Top-`vocabSize` cut via [[globalTopK]] (orderBy + limit, planned as
    // TakeOrderedAndProject): same (n DESC, term ASC) total order as the
    // direct row_number window it replaces, so the selected vocabulary is
    // identical — but each partition keeps only its top k and the final
    // merge sees ≤ partitions × k rows, never the whole distinct-term
    // table in one sort.
    val vocab = globalTopK(
      toks.groupBy(col("term")).agg(count(lit(1)).as("n")),
      vocabSize, Seq(col("n").desc, col("term")))
      .select(col("term"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
      .orderBy("doc_id")
  }

  /** T15 (full summary) — the Misra–Gries frequent-items sketch over every
    * corpus token: at most 64 counters per map task, `partitions × 64` rows
    * on the wire, mergeable partials — the fixed-memory alternative to T5's
    * exact term-keyed aggregate when the term domain itself is too hot to
    * shuffle (URLs, shingles, n-grams at 100 TB). See
    * [[graft.functions.FrequentItemsAggregator]] for the error contract.
    */
  def t15Summary(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    import graft.functions.FrequentItemsAggregator.frequentItems
    t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("term"))
      .agg(frequentItems(k)(col("term")).as("items"))
      .select(explode(col("items")).as("it"))
      .select(col("it.term").as("term"), col("it.est").as("est"))
  }

  /** T15 — heavy-hitters GATE: the exact top-10 terms joined against the
    * Misra–Gries summary, each carrying a contract VERDICT instead of the
    * raw estimate (estimates wobble within the N/(k+1) bound with merge
    * order, so they can never join a hash gate directly — the A9b scheme).
    * `mg_ok` asserts the full Misra–Gries guarantee integer-exactly:
    * a summarized term must satisfy `true − N/(k+1) ≤ est ≤ true`, and a
    * term MISSING from the summary is only legal when `true ≤ N/(k+1)`
    * (presence guarantee). DuckDB recomputes the exact top-10 and asserts
    * TRUE. Production consumes [[t15Summary]] alone; the exact twin here
    * is gate-scale instrumentation (one extra term-keyed aggregate).
    */
  def t15HeavyHitters(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("term"))
    val exact = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    // Exact top-10 via [[globalTopK]]: identical (cnt DESC, term ASC) cut,
    // per-partition bounded heaps instead of a full single-task term sort.
    val top10 = globalTopK(exact, 10, Seq(col("cnt").desc, col("term")))
      .select(col("term"), col("cnt"))
    top10.join(t15Summary(s, dir, k), Seq("term"), "left")
      .crossJoin(broadcast(total))
      .select(col("term"), col("cnt"),
        when(col("est").isNull, col("cnt") * (k + 1) <= col("n_total"))
          .otherwise(col("est") <= col("cnt") &&
            (col("cnt") - col("est")) * (k + 1) <= col("n_total"))
          .as("mg_ok"))
      .orderBy(col("cnt").desc, col("term"))
  }

  /** T16 — hapax legomena + type/token telemetry per source: the fraction
    * of a source's distinct terms that occur exactly once, and its
    * type-token ratio. Natural text is hapax-rich (Zipf's tail); templated,
    * boilerplate, or model-generated text craters both numbers — a cheap
    * per-source authenticity signal next to T10's diversity index. Two
    * stacked keyed aggregates ((source, term) then source), map-side
    * combined, integer-exact; the rates are the only divisions.
    */
  def t16HapaxStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("hapax_rate",
        col("n_hapax").cast("double") / col("n_types").cast("double"))
      .withColumn("type_token_ratio",
        col("n_types").cast("double") / col("n_tokens").cast("double"))
      .orderBy("source")

  /** T17 — PII / structured-pattern scan: per-source counts of emails,
    * URLs, and long digit runs — the redaction-telemetry pass every
    * training-data pipeline runs before release. The synthetic corpus is
    * lowercase word salad with zero natural hits, so (the m3/m10 fixture
    * trick) each document is FRAMED with a deterministic contact line
    * derived from doc_id — one of an email, a URL, or a long numeric id —
    * and the scanner runs over the framed text; production drops the
    * framing and scans raw documents with the same three patterns.
    *
    * Pattern portability contract: character classes + bounded repetition
    * only — no backslash escapes (Spark SQL string literals eat `\`,
    * DuckDB's don't: `[.]` instead of `\.`), no lookaround, no alternation
    * whose leftmost-first vs leftmost-longest resolution could differ
    * between java.util.regex and RE2. Scale shape: one narrow codegen
    * projection per doc (regexp_count is codegen'd, no UDF), then a
    * map-side-combined ≤#sources-group aggregate — integer-exact.
    */
  def t17PatternScan(s: SparkSession, dir: String): DataFrame = {
    val framed = t(s, dir, "documents").selectExpr(
      "source",
      """concat(text, CASE CAST(doc_id % 3 AS INT)
           WHEN 0 THEN concat(' contact user', CAST(doc_id AS STRING),
                              '@mail-', CAST(doc_id % 7 AS STRING), '.example.com now')
           WHEN 1 THEN concat(' fetch https://host-', CAST(doc_id % 5 AS STRING),
                              '.example.org/path/', CAST(doc_id AS STRING), ' today')
           ELSE concat(' ref id ', CAST(100000 + doc_id * 37 AS STRING), ' done')
         END) AS body""")
    val counted = framed.select(col("source"),
      regexp_count(col("body"), lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"))
        .as("n_email"),
      regexp_count(col("body"), lit("https?://[A-Za-z0-9./_-]+")).as("n_url"),
      regexp_count(col("body"), lit("[0-9]{6,}")).as("n_longnum"))
    counted.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_email") > 0, 1L).otherwise(0L)).as("docs_with_email"),
        sum(col("n_email")).as("total_emails"),
        sum(when(col("n_url") > 0, 1L).otherwise(0L)).as("docs_with_url"),
        sum(col("n_url")).as("total_urls"),
        sum(when(col("n_longnum") > 0, 1L).otherwise(0L)).as("docs_with_longnum"),
        sum(col("n_longnum")).as("total_longnums"))
      .orderBy("source")
  }

  /** T19 — incremental vocabulary maintenance (the text lane's e12): t16's
    * per-source hapax/type-token telemetry maintained from MERGEABLE
    * per-batch vocab states instead of a corpus rescan. [[t19StateOf]]
    * reduces a document batch to its (source, term, count) table;
    * [[t19MergeStates]] folds any number of such states by summing counts
    * (trivially associative — the reason token counts, unlike medians, can
    * be maintained incrementally); [[t19StatsOf]] derives the t16 row from
    * the merged state. The declared query splits the corpus by doc_id
    * parity into two "batches", merges their states, and must equal t16's
    * full recompute — the oracle IS t16's SQL, shared as a string constant
    * (x17b's structural-equality trick), so the MV-maintenance claim is
    * hash-checked, not asserted.
    *
    * Scale contract: the corpus is reduced ONCE to its vocab state (the
    * materialized view — vocab-sized, not corpus-sized); each incoming
    * batch pays state-of-batch + a VOCAB-SIZED merge (the streaming face's
    * flat-dir swap rewrites the whole state table per fold — unlike e12's
    * partition-scoped candle merge, a text batch's terms scatter across
    * the entire vocabulary, so key-locality pruning buys little; what
    * keeps the fold cheap is that vocab ≪ corpus). Hapax counts, type
    * counts, and token counts all derive from the state, so no statistic
    * forces a corpus rescan.
    */
  def t19IncrementalVocab(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    t19StatsOf(t19MergeStates(
      t19StateOf(docs.filter(col("doc_id") % 2 === 0)),
      t19StateOf(docs.filter(col("doc_id") % 2 === 1))))
  }

  /** One batch's vocab state: (source, term, c). */
  def t19StateOf(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("c"))

  /** Fold vocab states: counts sum per key (associative + commutative). */
  def t19MergeStates(states: DataFrame*): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy(col("source"), col("term"))
      .agg(sum(col("c")).as("c"))

  /** Derive t16's telemetry row from a (merged) vocab state. */
  def t19StatsOf(state: DataFrame): DataFrame =
    state.groupBy(col("source"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("hapax_rate",
        col("n_hapax").cast("double") / col("n_types").cast("double"))
      .withColumn("type_token_ratio",
        col("n_types").cast("double") / col("n_tokens").cast("double"))
      .orderBy("source")

  /** T18 — token-frequency concentration per language: the Gini coefficient
    * over each language's term-frequency distribution, the single-number
    * "is this corpus slice a few templates stamped out, or genuinely
    * diverse text?" telemetry (a healthy natural-language slice sits high —
    * Zipfian mass concentrated in few types; boilerplate/templated slices
    * collapse toward equal counts and score low). Computed from the sorted
    * form `G = 2·Σᵢ i·cᵢ / (V·Σc) − (V+1)/V` with ranks assigned ascending
    * by (count, term): the rank mass Σ i·cᵢ is integer-exact in
    * DECIMAL(38,0), both engines assign identical ranks (term tiebreak),
    * and the only floating arithmetic is the identically-associated final
    * expression — the same no-transcendentals discipline as T10/T13/m8
    * (a log-based Zipf-slope fit would NOT be cross-engine bit-stable).
    *
    * Scale shape: the corpus pass is one map-side-combined (lang, term)
    * count — vocab-sized output, not corpus-sized; the rank window
    * partitions by language over that vocab table; the final aggregate is
    * #langs rows. Nothing downstream of the first aggregate touches
    * corpus-cardinality data. If a single language's vocabulary ever
    * outgrew one partition's sort, the per-lang `row_number` is exactly
    * the shape `operators/Ranking`'s two-phase distributed rank (c8)
    * replaces — the escape hatch is already in the library.
    */
  def t18TokenGini(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("c"))
    val byCount = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("c"), col("term"))
    counts
      .withColumn("rk", row_number().over(byCount))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_types"),
        sum(col("c")).as("n_tokens"),
        sum(col("rk").cast("decimal(19,0)") * col("c").cast("decimal(19,0)"))
          .as("rank_mass"))
      .select(col("lang"), col("n_types"), col("n_tokens"),
        round(
          (lit(2.0) * col("rank_mass").cast("double"))
            / (col("n_types").cast("double") * col("n_tokens").cast("double"))
            - (col("n_types").cast("double") + lit(1.0))
              / col("n_types").cast("double"), 4).as("gini"))
      .orderBy("lang")
  }

  /** T20 — RAG-style overlapping chunking: each document's whitespace
    * token stream split into fixed `window`-token chunks advancing by
    * `stride` (overlap = window − stride), emitting per chunk its 0-based
    * id, token offset, token count, and an md5 content hash — the
    * retrieval-index build step of a RAG/embedding pipeline (the chunk
    * hash doubles as the dedup key for chunk-level dedup).
    *
    * Chunk count is `1 + ceil(max(0, n − window) / stride)` — every token
    * lands in ≥ 1 chunk, short docs yield exactly one chunk, and the
    * last chunk is the only ragged one.
    *
    * Scale shape (100 TB): a pure per-row fan-out (split → sequence →
    * explode → slice), NO shuffle anywhere but the gate's presentation
    * sort — chunking streams at parquet-scan speed and the output is
    * bounded by ⌈tokens/stride⌉ rows. All arithmetic is integral; the
    * hash is md5 over the exact chunk text, bit-identical in DuckDB.
    */
  def ragChunksOf(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("chunk_id", explode(expr(
        s"sequence(0L, (greatest(n_toks - $window, 0L) + ${stride - 1}) div $stride)")))
      .withColumn("start_tok", col("chunk_id") * stride)
      .withColumn("chunk",
        expr(s"slice(toks, CAST(start_tok + 1 AS INT), $window)"))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        size(col("chunk")).cast("long").as("chunk_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")
  }

  def t20RagChunks(s: SparkSession, dir: String): DataFrame =
    ragChunksOf(t(s, dir, "documents"), window = 64, stride = 48)

  /** t16's oracle, shared with t19: merged per-batch vocab states must
    * equal the full recompute, so the MV query's oracle IS the base
    * query's SQL — the equality claim is structural, not re-derived.
    */
  private val t16Sql =
    """WITH tc AS (
           SELECT source, term, COUNT(*) AS c
           FROM (SELECT source, unnest(string_split(text, ' ')) AS term
                 FROM documents)
           GROUP BY source, term)
         SELECT source,
                CAST(SUM(c) AS BIGINT) AS n_tokens,
                COUNT(*) AS n_types,
                CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
                CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE) AS hapax_rate,
                CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
                  AS type_token_ratio
         FROM tc GROUP BY source ORDER BY source"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t20_rag_chunks" -> (t20RagChunks _),
    "t19_incremental_vocab" -> (t19IncrementalVocab _),
    "t18_token_gini" -> (t18TokenGini _),
    "t17_pattern_scan" -> (t17PatternScan _),
    "t15_heavy_hitters" -> ((s: SparkSession, d: String) => t15HeavyHitters(s, d)),
    "t16_hapax_stats" -> (t16HapaxStats _),
    "t14_vocab_coverage" -> ((s: SparkSession, d: String) => t14VocabCoverage(s, d)),
    "t13_bigram_novelty" -> (t13BigramNovelty _),
    "t12_bpe_pair_stats" -> (t12BpePairStats _),
    "t11_hashed_classifier" -> (hashedClassifier _),
    "t10_lexical_diversity" -> (lexicalDiversity _),
    "t9_term_drift" -> (termDrift(_, _, 20)),
    "t1_langid" -> (langId _),
    "t2_quality" -> (quality _),
    "t3_tokens" -> (tokenCount _),
    "t4_fingerprint" -> (fingerprint _),
    "t5_ngram_freq" -> (ngramFreq _),
    "t6_lang_confusion" -> (langConfusion _),
    "t7_repetition" -> (repetition _),
    "t8_tfidf" -> (tfidf _))

  val oracles: Map[String, String] = Map(
    "t20_rag_chunks" ->
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS t,
                  len(string_split(text, ' ')) AS n
           FROM documents),
         ch AS (
           SELECT doc_id, t,
                  unnest(range(0, 1 + (greatest(n - 64, 0) + 47) // 48))
                    AS chunk_id
           FROM toks)
         SELECT doc_id, chunk_id, chunk_id * 48 AS start_tok,
                CAST(len(t[chunk_id*48 + 1 : chunk_id*48 + 64]) AS BIGINT)
                  AS chunk_tokens,
                md5(array_to_string(t[chunk_id*48 + 1 : chunk_id*48 + 64], ' '))
                  AS chunk_hash
         FROM ch ORDER BY doc_id, chunk_id""",
    "t18_token_gini" ->
      """-- HUGEINT rank mass mirrors the Spark plan's DECIMAL(38,0)
         -- accumulator; the final double expression is associated
         -- identically to the Spark side so every IEEE op matches.
         WITH counts AS (
           SELECT lang, term, COUNT(*) AS c
           FROM (SELECT lang, unnest(string_split(text, ' ')) AS term
                 FROM documents)
           GROUP BY lang, term),
         ranked AS (
           SELECT lang, c,
                  row_number() OVER (PARTITION BY lang ORDER BY c, term) AS rk
           FROM counts)
         SELECT lang,
                COUNT(*) AS n_types,
                CAST(SUM(c) AS BIGINT) AS n_tokens,
                round(
                  (2.0 * CAST(SUM(CAST(rk AS HUGEINT) * c) AS DOUBLE))
                    / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(c) AS DOUBLE))
                  - (CAST(COUNT(*) AS DOUBLE) + 1.0) / CAST(COUNT(*) AS DOUBLE),
                  4) AS gini
         FROM ranked GROUP BY lang ORDER BY lang""",
    "t17_pattern_scan" ->
      // Same framing recipe, independent regex engine (RE2): counts come
      // from len(regexp_extract_all(...)) instead of regexp_count.
      """WITH framed AS (
           SELECT source,
                  text || CASE CAST(doc_id % 3 AS INT)
                    WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@mail-' || CAST(doc_id % 7 AS VARCHAR) || '.example.com now'
                    WHEN 1 THEN ' fetch https://host-' || CAST(doc_id % 5 AS VARCHAR)
                      || '.example.org/path/' || CAST(doc_id AS VARCHAR) || ' today'
                    ELSE ' ref id ' || CAST(100000 + doc_id * 37 AS VARCHAR) || ' done'
                  END AS body
           FROM documents),
         counted AS (
           SELECT source,
                  len(regexp_extract_all(body,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS n_email,
                  len(regexp_extract_all(body, 'https?://[A-Za-z0-9./_-]+')) AS n_url,
                  len(regexp_extract_all(body, '[0-9]{6,}')) AS n_longnum
           FROM framed)
         SELECT source, COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
                CAST(SUM(n_email) AS BIGINT) AS total_emails,
                CAST(SUM(CASE WHEN n_url > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_url,
                CAST(SUM(n_url) AS BIGINT) AS total_urls,
                CAST(SUM(CASE WHEN n_longnum > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_longnum,
                CAST(SUM(n_longnum) AS BIGINT) AS total_longnums
         FROM counted GROUP BY source ORDER BY source""",
    "t15_heavy_hitters" ->
      // Bounds-checked sketch gate (the a9b scheme): exact top-10 recomputed
      // here, mg_ok asserted TRUE — a summary violating the Misra–Gries
      // bound flips the Spark-side verdict and fails the hash compare.
      """WITH tc AS (
           SELECT term, COUNT(*) AS cnt
           FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
           GROUP BY term)
         SELECT term, cnt, TRUE AS mg_ok
         FROM tc ORDER BY cnt DESC, term LIMIT 10""",
    "t16_hapax_stats" -> t16Sql,
    // merged per-batch states must equal the full recompute: the oracle IS
    // t16's SQL (shared constant — the equality claim is structural).
    "t19_incremental_vocab" -> t16Sql,
    "t14_vocab_coverage" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
         v AS (
           SELECT term FROM (
             SELECT term,
                    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) AS rk
             FROM tok GROUP BY term)
           WHERE rk <= 256)
         SELECT t.doc_id,
                COUNT(*) AS n_tokens,
                CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_oov,
                CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE) AS oov_rate
         FROM tok t LEFT JOIN v ON t.term = v.term
         GROUP BY t.doc_id ORDER BY t.doc_id""",
    "t13_bigram_novelty" ->
      """WITH docbg AS (
           SELECT doc_id, bigram, COUNT(*) AS c_doc
           FROM (SELECT doc_id,
                   unnest(list_transform(range(1, len(ws)),
                     i -> ws[i] || ' ' || ws[i + 1])) AS bigram
                 FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
                 WHERE len(ws) >= 2)
           GROUP BY doc_id, bigram),
         model AS (SELECT bigram, SUM(c_doc) AS c_total FROM docbg GROUP BY bigram)
         SELECT d.doc_id,
                CAST(SUM(d.c_doc) AS BIGINT) AS n_bigrams,
                COUNT(*) AS n_distinct_bigrams,
                CAST(SUM(CASE WHEN m.c_total = d.c_doc THEN 1 ELSE 0 END) AS BIGINT)
                  AS novel_bigrams,
                CAST(SUM(m.c_total - d.c_doc) AS BIGINT) AS xdoc_hits,
                CAST(SUM(CASE WHEN m.c_total = d.c_doc THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE) AS novelty_rate
         FROM docbg d JOIN model m USING (bigram)
         GROUP BY d.doc_id ORDER BY d.doc_id""",
    "t12_bpe_pair_stats" ->
      """WITH words AS (
           SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         pairs AS (
           SELECT unnest(list_transform(range(1, length(w)),
                    i -> substr(w, CAST(i AS INT), 2))) AS pair
           FROM words WHERE length(w) >= 2),
         counted AS (SELECT pair, COUNT(*) AS freq FROM pairs GROUP BY pair),
         ranked AS (
           SELECT pair, freq,
                  row_number() OVER (ORDER BY freq DESC, pair ASC) AS rk
           FROM counted)
         SELECT CAST(rk AS BIGINT) AS rk, pair, freq
         FROM ranked WHERE rk <= 20 ORDER BY rk""",
    "t11_hashed_classifier" ->
      """WITH b AS (
           SELECT doc_id,
                  CAST(len(toks) AS BIGINT) AS n_tok,
                  list_reduce(
                    list_prepend(CAST(0 AS BIGINT),
                      list_transform(toks, x ->
                        (CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % 1024) % 21 - 10)),
                    (acc, w) -> acc + w) AS raw_score
           FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
         SELECT doc_id, n_tok, raw_score,
                CAST(raw_score AS DOUBLE) / (CAST(n_tok AS DOUBLE) * 10.0) AS clf_score,
                CAST(raw_score > 0 AS INT) AS keep
         FROM b ORDER BY doc_id""",
    "t10_lexical_diversity" ->
      """WITH counts AS (
           SELECT source, term, COUNT(*) AS c
           FROM (SELECT source, unnest(string_split(text, ' ')) AS term
                 FROM documents)
           GROUP BY source, term)
         SELECT source,
                CAST(SUM(c) AS BIGINT) AS n_tokens,
                COUNT(*) AS n_distinct_terms,
                1.0 - CAST(SUM(c * c) AS DOUBLE)
                  / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE))
                  AS simpson_diversity
         FROM counts GROUP BY source ORDER BY source""",
    "t9_term_drift" ->
      """WITH toks AS (
           SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
         bysrc AS (
           SELECT source, term, COUNT(*) AS cnt_s FROM toks GROUP BY source, term),
         totals AS (
           SELECT source, CAST(SUM(cnt_s) AS BIGINT) AS total_s
           FROM bysrc GROUP BY source),
         corpus AS (
           SELECT term, CAST(SUM(cnt_s) AS BIGINT) AS cnt_c FROM bysrc GROUP BY term),
         totc AS (SELECT CAST(SUM(cnt_c) AS BIGINT) AS total_c FROM corpus),
         ranked AS (
           SELECT b.source, b.term, b.cnt_s, c.cnt_c,
                  (CAST(b.cnt_s AS DOUBLE) * CAST(t.total_c AS DOUBLE))
                    / (CAST(s.total_s AS DOUBLE) * CAST(c.cnt_c AS DOUBLE)) AS drift,
                  row_number() OVER (PARTITION BY b.source
                    ORDER BY (CAST(b.cnt_s AS DOUBLE) * CAST(t.total_c AS DOUBLE))
                               / (CAST(s.total_s AS DOUBLE) * CAST(c.cnt_c AS DOUBLE))
                             DESC, b.term) AS rnk
           FROM bysrc b JOIN totals s ON b.source = s.source
                JOIN corpus c ON b.term = c.term CROSS JOIN totc t
           WHERE b.cnt_s >= 20)
         SELECT source, CAST(rnk AS BIGINT) AS rnk, term, cnt_s, cnt_c, drift
         FROM ranked WHERE rnk <= 5 ORDER BY source, rnk""",
    "t1_langid" ->
      """WITH sc AS (
           SELECT doc_id, lang,
             len(list_filter(string_split(text,' '), x -> list_contains(['the','a','of','and','to','is','in'], x))) AS s_en,
             len(list_filter(string_split(text,' '), x -> list_contains(['der','die','das','und','ist','ein'], x))) AS s_de,
             len(list_filter(string_split(text,' '), x -> list_contains(['el','la','los','y','es','un'], x))) AS s_es,
             len(list_filter(string_split(text,' '), x -> list_contains(['le','les','et','est','une','dans'], x))) AS s_fr
           FROM documents)
         SELECT doc_id, lang AS labeled_lang,
           CASE
             WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
             WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
             WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
             WHEN s_es >= s_fr THEN 'es'
             ELSE 'fr' END AS predicted_lang,
           s_en, s_de, s_es, s_fr
         FROM sc ORDER BY doc_id""",
    "t2_quality" ->
      """WITH b AS (
           SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_char,
             CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok,
             CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(string_split(text,' '),
               x -> list_contains(['the','a','of','and','to','is','in'], x))) AS BIGINT) AS n_stop
           FROM documents)
         SELECT doc_id, n_char, n_tok,
           CAST(n_char AS DOUBLE) / n_tok AS avg_tok_len,
           CAST(n_alpha AS DOUBLE) / n_char AS alpha_ratio,
           CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
           (CAST(n_alpha AS DOUBLE) / n_char) * 0.5
             + (CAST(n_stop AS DOUBLE) / n_tok) * 0.3
             + (CASE WHEN n_tok >= 20 AND n_tok <= 200 THEN 0.2 ELSE 0.0 END)
             AS quality_score
         FROM b ORDER BY doc_id""",
    "t3_tokens" ->
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpeish_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_actual
         FROM documents ORDER BY doc_id""",
    "t5_ngram_freq" ->
      """SELECT bigram, COUNT(*) AS n
         FROM (SELECT unnest(list_transform(range(2, len(ws) + 1),
                        i -> ws[i-1] || ' ' || ws[i])) AS bigram
               FROM (SELECT string_split(text, ' ') AS ws FROM documents)
               WHERE len(ws) >= 2)
         GROUP BY bigram ORDER BY n DESC, bigram LIMIT 100""",
    "t6_lang_confusion" ->
      """WITH sc AS (
           SELECT doc_id, lang,
             len(list_filter(string_split(text,' '), x -> list_contains(['the','a','of','and','to','is','in'], x))) AS s_en,
             len(list_filter(string_split(text,' '), x -> list_contains(['der','die','das','und','ist','ein'], x))) AS s_de,
             len(list_filter(string_split(text,' '), x -> list_contains(['el','la','los','y','es','un'], x))) AS s_es,
             len(list_filter(string_split(text,' '), x -> list_contains(['le','les','et','est','une','dans'], x))) AS s_fr
           FROM documents),
         pred AS (
           SELECT lang AS labeled_lang,
             CASE
               WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
               WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
               WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
               WHEN s_es >= s_fr THEN 'es'
               ELSE 'fr' END AS predicted_lang
           FROM sc)
         SELECT labeled_lang, predicted_lang, COUNT(*) AS n
         FROM pred GROUP BY labeled_lang, predicted_lang
         ORDER BY labeled_lang, predicted_lang""",
    "t7_repetition" ->
      """WITH b AS (
           SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tok,
                  CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct
           FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
         bg AS (
           SELECT doc_id, bigram, COUNT(*) AS n
           FROM (SELECT doc_id,
                        unnest(list_transform(range(2, len(ws) + 1),
                          i -> ws[i-1] || ' ' || ws[i])) AS bigram
                 FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
                 WHERE len(ws) >= 2)
           GROUP BY doc_id, bigram),
         top AS (
           SELECT doc_id, CAST(MAX(n) AS BIGINT) AS top_bigram_n,
                  CAST(SUM(n) AS BIGINT) AS n_bigrams
           FROM bg GROUP BY doc_id)
         SELECT b.doc_id, b.n_tok,
                1.0 - CAST(b.n_distinct AS DOUBLE) / b.n_tok AS dup_tok_ratio,
                t.top_bigram_n, t.n_bigrams,
                CAST(t.top_bigram_n AS DOUBLE) / t.n_bigrams AS top_bigram_ratio
         FROM b LEFT JOIN top t ON b.doc_id = t.doc_id
         ORDER BY b.doc_id""",
    "t8_tfidf" ->
      """WITH tf AS (
           SELECT doc_id, term, COUNT(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents)
           GROUP BY doc_id, term),
         idf AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.term, tf.tf, idf.df,
                  tf.tf * (n.n_docs / idf.df) AS score
           FROM tf JOIN idf USING (term) CROSS JOIN n),
         ranked AS (
           SELECT doc_id, term, tf, df, score,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, term) AS rnk
           FROM scored)
         SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tf, CAST(df AS BIGINT) AS df, score
         FROM ranked WHERE rnk <= 5 ORDER BY doc_id, rnk""",
    "t4_fingerprint" ->
      """WITH n AS (
           SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
           FROM documents)
         SELECT doc_id, sha256(norm) AS content_sha256,
           substr(sha256(norm), 1, 2) AS shard_bucket,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(norm, ''), c -> CAST(ascii(c) AS BIGINT))),
             (acc, c) -> (acc * 131 + c) % 1000000007) AS rolling_hash
         FROM n ORDER BY doc_id""")
}
